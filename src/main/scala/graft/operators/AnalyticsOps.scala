package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analyst-style derived operators beyond the reference's four verification
  * queries (reference `readme.md:149-187`): blocked edit-distance near-dup,
  * per-key mode, Pareto concentration, RFM segmentation, token entropy,
  * Markov transition probabilities, and sliding distinct counts. Every query
  * here is oracle-backed; shapes are chosen so the same plan survives a
  * 100× scale-up (blocking keys, bounded explodes, broadcast singletons —
  * no all-pairs joins, no empty-partition windows).
  */
object AnalyticsOps {

  private val D2 = DecimalType(18, 2)

  /** Edit-distance near-duplicate part names — VERIFY ON DISTINCT VALUES,
    * expand multiplicities after. The naive form compares all same-brand
    * row pairs: with a fixed blocking key space (~25 brands), 10× rows
    * means 100× comparisons — measured 48× wall at the round-8 sf1 scale
    * run (SF1.md) before this rewrite. But the expensive predicate depends
    * only on the VALUES: dedup to distinct (brand, name) first (the corpus
    * vocabulary — bounded by data variety, not data volume), run the
    * levenshtein verification on that tiny table's same-brand pairs
    * (canonicalized `name_a <= name_b` so each unordered name pair
    * verifies once), broadcast the verified name-pair table, and expand
    * back to key pairs with one map-side broadcast join plus one shuffle
    * join. Verification cost is now O(|vocab|²/brands) — CONSTANT in row
    * count — and the remaining linear-plus-output cost is irreducible: the
    * answer itself is the quadratic object (every key pair of two verified
    * names is an output row). Same-name pairs keep `key_a < key_b`;
    * cross-name pairs canonicalize with least/greatest — exactly the
    * oracle's `a.p_partkey < b.p_partkey` pair set.
    * `levenshteinWithin` computes only the 2k+1 diagonal band and
    * early-exits past the bound (ScalaCheck-proven ≡ the builtin). */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, dir).select($"p_partkey", $"p_brand", $"p_name")
    val d = p.select($"p_brand", $"p_name").distinct()
    val namePairs = d.select($"p_brand", $"p_name".as("name_a"))
      .join(d.select($"p_brand", $"p_name".as("name_b")), Seq("p_brand"))
      .filter($"name_a" <= $"name_b")
      .filter(abs(length($"name_a") - length($"name_b")) <= 2)
      .withColumn("dist",
        graft.functions.EditDistance.levenshteinWithin($"name_a", $"name_b", 2))
      .filter($"dist" >= 0)
    val ka = p.select($"p_brand", $"p_name".as("name_a"), $"p_partkey".as("ka"))
    val kb = p.select($"p_brand", $"p_name".as("name_b"), $"p_partkey".as("kb"))
    ka.join(broadcast(namePairs), Seq("p_brand", "name_a"))
      .join(kb, Seq("p_brand", "name_b"))
      .filter($"name_a" =!= $"name_b" || $"ka" < $"kb")
      .select($"p_brand",
        least($"ka", $"kb").as("key_a"),
        greatest($"ka", $"kb").as("key_b"),
        $"dist")
  }

  private val editDistanceSql =
    """SELECT a.p_brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin

  /** Mode (most frequent value) per key with a deterministic tie-break:
    * count per (user, event_type), then row_number ordered by (count desc,
    * event_type asc). Two hash aggregates + one small window per user — the
    * window partition carries ≤|distinct types| rows, so state is bounded
    * regardless of user activity. (A bare `mode()` aggregate is
    * tie-nondeterministic across engines; the explicit rank is not.) */
  def modePerUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"n".desc, $"event_type")
    Tables.events(s, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type".as("top_type"), $"n")
  }

  private val modePerUserSql =
    """WITH c AS (SELECT user_id, event_type, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
      |                 ORDER BY n DESC, event_type) AS rn FROM c)
      |SELECT user_id, event_type AS top_type, n FROM r WHERE rn = 1""".stripMargin

  /** Pareto concentration: per order-status, how many customers cover 80 %
    * of revenue. Revenue ranks come from one hash aggregate; the running
    * total is a window over the already-aggregated per-customer rows
    * (≤|customers| rows per partition, never raw orders). The 80 % cut is
    * decided in exact decimal arithmetic (5·cum_before < 4·total), so both
    * engines cut at the same row; only the final share is one double
    * division. */
  def paretoRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.orders(s, dir)
      .groupBy($"o_orderstatus", $"o_custkey")
      .agg(sum($"o_totalprice".cast(D2)).as("rev"))
    val w = Window.partitionBy($"o_orderstatus")
      .orderBy($"rev".desc, $"o_custkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy($"o_orderstatus")
    per
      .withColumn("cum", sum($"rev").over(w))
      .withColumn("total", sum($"rev").over(tw))
      .filter(($"cum" - $"rev") * 5 < $"total" * 4)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_top"),
        (max($"cum").cast("double") / max($"total").cast("double"))
          .as("top_share"))
  }

  private val paretoRevenueSql =
    """WITH per AS (
      |  SELECT o_orderstatus, o_custkey,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT o_orderstatus, rev,
      |         SUM(rev) OVER (PARTITION BY o_orderstatus
      |                        ORDER BY rev DESC, o_custkey
      |                        ROWS UNBOUNDED PRECEDING) AS cum,
      |         SUM(rev) OVER (PARTITION BY o_orderstatus) AS total
      |  FROM per)
      |SELECT o_orderstatus, count(*) AS n_top,
      |       CAST(MAX(cum) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS top_share
      |FROM ranked WHERE (cum - rev) * 5 < total * 4
      |GROUP BY o_orderstatus""".stripMargin

  /** EXACT per-group 1-based rank under a unique total order, without a
    * single-partition sort — the `ExactQuantiles` bucketed-rank-selection
    * idea applied to EVERY row instead of two hit ranks. `value` must be a
    * numeric expression monotone in the intended order (negate for DESC);
    * `tie` completes the unique composite ordering. Shape: per-group
    * broadcast extent → fixed-width bucket id (equal values can never
    * split across buckets, so within-bucket ordering composes to the
    * group-global order) → per-(group,bucket) counts (tiny, ≤
    * groups×nBuckets rows) with a BOUNDED cumulative window → distributed
    * `row_number` partitioned BY (group, bucket) → rank = bucket offset +
    * local row number. Every aggregate has fixed-size per-key state and the
    * only sorts are per-bucket (~n/nBuckets rows, spillable). Bucket
    * assignment may safely lose precision in the double cast (equal values
    * stay equal, order stays monotone); the WITHIN-bucket sort orders by
    * the original typed `value`, so total order is exact. Appends
    * `rankCol` (long) and `__n` (group total). */
  private def exactGroupRank(df: DataFrame, group: String, value: Column,
      tie: Seq[Column], rankCol: String, nBuckets: Int = 1024): DataFrame = {
    val g = col(group)
    val bv = value.cast("double")
    val stats = df.groupBy(g)
      .agg(count(lit(1)).as("__n"), min(bv).as("__min"), max(bv).as("__max"))
      .withColumn("__w",
        when(col("__max") > col("__min"),
          (col("__max") - col("__min")) / nBuckets).otherwise(lit(1.0)))
    val bucketed = df.join(broadcast(stats), group)
      .withColumn("__b",
        least(greatest(floor((bv - col("__min")) / col("__w")).cast("int"),
          lit(0)), lit(nBuckets - 1)))
    val cumW = Window.partitionBy(g).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(g, col("__b"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(cumW), lit(0L)))
      .select(g, col("__b"), col("__off"))
    val perBucket = Window.partitionBy(g, col("__b"))
      .orderBy(value +: tie: _*)
    bucketed.join(broadcast(offsets), Seq(group, "__b"))
      .withColumn(rankCol, col("__off") + row_number().over(perBucket))
      .drop("__b", "__min", "__max", "__w", "__off")
  }

  /** `ntile(k)` computed arithmetically from an exact global rank — the
    * first `n mod k` tiles take `⌈n/k⌉` rows, the rest `⌊n/k⌋`, exactly
    * SQL ntile's distribution (rank is unique, so no tie ambiguity). */
  private def ntileOfRank(rank: Column, n: Column, k: Int): Column = {
    val base = (n / k).cast("long") // ⌊n/k⌋
    val rem = n % k
    val cut = rem * (base + 1L)
    when(rank <= cut, ((rank - 1L) / (base + 1L)) + 1L)
      .otherwise(rem + ((rank - cut - 1L) / greatest(base, lit(1L))) + 1L)
      .cast("int")
  }

  /** RFM segmentation: recency / frequency / monetary quartiles per
    * customer, the classic marketing cut. One aggregate over orders, a
    * broadcast singleton for "today" (max order date — never an
    * empty-partition window over raw rows), then EXACT ntile(4)
    * assignments computed from [[exactGroupRank]]: the three metrics are
    * MELTED into one (custkey, metric, value) frame (value negated for the
    * DESC metrics, custkey tie-break carried in `tie`), ranked in a single
    * grouped pass, and pivoted back. No global `Window.orderBy` anywhere:
    * a plain `ntile(4).over(orderBy(...))` forces the whole customer table
    * through ONE partition's sort — mild at fixture scale, the classic
    * single-partition-window trap at 10⁸ customers. The values are exact
    * decimals (r_days/n_orders integral, monetary a DECIMAL sum), so the
    * within-bucket typed sort reproduces the oracle's ntile ordering
    * bit-for-bit and the oracle hash is unchanged. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(max(to_date($"o_orderdate")).as("last_day"),
        count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast(D2)).as("monetary_d"))
    val today = Tables.orders(s, dir)
      .agg(max(to_date($"o_orderdate")).as("today"))
    val base = per.join(broadcast(today))
      .select($"o_custkey",
        datediff($"today", $"last_day").as("r_days"),
        $"n_orders", $"monetary_d")
    val dec = DecimalType(38, 4)
    val melted = base.select($"o_custkey", explode(array(
        struct(lit("r").as("metric"), $"r_days".cast(dec).as("v")),
        struct(lit("f").as("metric"), (-$"n_orders").cast(dec).as("v")),
        struct(lit("m").as("metric"), (-$"monetary_d").cast(dec).as("v"))))
        .as("e"))
      .select($"o_custkey", $"e.metric".as("metric"), $"e.v".as("v"))
    val tiles = exactGroupRank(melted, "metric", $"v", Seq($"o_custkey"), "__rk")
      .withColumn("t", ntileOfRank($"__rk", $"__n", 4))
      .groupBy($"o_custkey")
      .agg(max(when($"metric" === "r", $"t")).as("r"),
        max(when($"metric" === "f", $"t")).as("f"),
        max(when($"metric" === "m", $"t")).as("m"))
    base.join(tiles, "o_custkey")
      .select($"o_custkey", $"r_days", $"n_orders",
        $"monetary_d".cast("double").as("monetary"),
        $"r", $"f", $"m",
        concat($"r".cast("string"), $"f".cast("string"), $"m".cast("string"))
          .as("segment"))
  }

  private val rfmSegmentsSql =
    """WITH per AS (
      |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_day,
      |         count(*) AS n_orders,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_d
      |  FROM orders GROUP BY 1),
      |t AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS today FROM orders),
      |base AS (
      |  SELECT o_custkey,
      |         CAST(date_diff('day', last_day, today) AS INTEGER) AS r_days,
      |         n_orders, monetary_d
      |  FROM per, t),
      |q AS (
      |  SELECT *,
      |         CAST(ntile(4) OVER (ORDER BY r_days, o_custkey) AS INTEGER) AS r,
      |         CAST(ntile(4) OVER (ORDER BY n_orders DESC, o_custkey) AS INTEGER) AS f,
      |         CAST(ntile(4) OVER (ORDER BY monetary_d DESC, o_custkey) AS INTEGER) AS m
      |  FROM base)
      |SELECT o_custkey, r_days, n_orders, CAST(monetary_d AS DOUBLE) AS monetary,
      |       r, f, m,
      |       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment
      |FROM q""".stripMargin

  /** Shannon token entropy per document — the repetition/diversity signal
    * quality filters threshold on (low entropy = boilerplate or spam).
    * Computed as ln(n) − Σc·ln(c)/n from per-token counts, which needs only
    * the (doc, token)-count aggregate — no per-token probabilities
    * materialized. Engine divergence is libm `ln` (≤1 ulp), absorbed by
    * round(…, 6); the whitespace tokenizer matches the corpus-wide
    * convention (`TextAnalysis.tokSql`). */
  def tokenEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documentsSpread(s, dir)
      .select($"doc_id",
        explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_toks"),
        sum($"c".cast("double") * log($"c".cast("double"))).as("sclc"))
      .select($"doc_id", $"n_toks",
        round(log($"n_toks".cast("double")) - $"sclc" / $"n_toks".cast("double"), 6)
          .as("entropy"))
  }

  private val tokenEntropySql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
      |         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclc
      |  FROM c GROUP BY 1)
      |SELECT doc_id, n_toks,
      |       round(ln(CAST(n_toks AS DOUBLE)) - sclc / CAST(n_toks AS DOUBLE), 6)
      |         AS entropy
      |FROM agg""".stripMargin

  /** First-order Markov chain over event types: transition counts
    * normalized to probabilities per source state. The lead() sequencing
    * partitions by user (bounded state), the normalizing total is a window
    * over the 5×5 transition matrix — 25 rows, not raw events. The
    * probability is a single count/count double division, bit-identical
    * across engines, left unrounded. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("from_type"))
      .withColumn("to_type", lead($"from_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
    val tot = Window.partitionBy($"from_type")
    counts.withColumn("prob",
      $"n".cast("double") / sum($"n").over(tot).cast("double"))
  }

  private val markovTransitionsSql =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM seq
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       CAST(n AS DOUBLE) /
      |       CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
      |FROM c""".stripMargin

  /** 7-day sliding distinct users per day. COUNT(DISTINCT) OVER a range
    * frame doesn't exist in either engine; the scale shape is a bounded
    * explode — each (day, user) pair contributes to exactly the 7 window
    * ends it can affect — followed by a plain distinct count keyed on the
    * window end. Shuffle volume is 7× the distinct (day, user) pairs,
    * independent of raw event volume; no per-window re-scan, no
    * self-range-join. Window ends are restricted to observed days
    * (broadcast) so both engines emit the same grid. */
  def rollingDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val du = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val days = du.select($"day".as("wend")).distinct()
    du.withColumn("wend", explode(sequence($"day", date_add($"day", 6))))
      .join(broadcast(days), Seq("wend"))
      .groupBy($"wend")
      .agg(countDistinct($"user_id").as("n_users_7d"))
      .select($"wend".as("day"), $"n_users_7d")
  }

  private val rollingDistinctSql =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM du)
      |SELECT d.day, count(DISTINCT du.user_id) AS n_users_7d
      |FROM days d JOIN du ON du.day BETWEEN d.day - 6 AND d.day
      |GROUP BY d.day""".stripMargin

  /** Merge-overlapping-intervals (gaps-and-islands) coverage: each event
    * opens a fixed 15-minute activity interval; overlapping intervals per
    * user are merged and the survivors summarized as island count + covered
    * seconds. The island id is the classic running count of "starts after
    * every previous interval ended" — one window shuffle on user_id, all
    * arithmetic in integer epoch seconds (no float drift between engines).
    * Same shape DVR/billing/uptime pipelines use to merge span logs; per-key
    * windows scale because user_id partitions the shuffle evenly. */
  def intervalCoverage(s: SparkSession, dir: String,
      spanSeconds: Long = 900L): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"st", $"event_id")
    val iv = Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_timestamp($"ts").as("st"))
      .withColumn("en", $"st" + spanSeconds)
      .withColumn("prev_end",
        max($"en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when($"prev_end".isNull || $"st" > $"prev_end", 1L).otherwise(0L))
      .withColumn("island",
        sum($"new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    iv.groupBy($"user_id", $"island")
      .agg(min($"st").as("ist"), max($"en").as("ien"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum($"ien" - $"ist").as("covered_s"))
  }

  private val intervalCoverageSql =
    """WITH iv AS (
      |  SELECT user_id, event_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS st,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 + 900 AS en
      |  FROM events),
      |mk AS (
      |  SELECT user_id, event_id, st, en,
      |         max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS prev_end
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, st, en,
      |         sum(CASE WHEN prev_end IS NULL OR st > prev_end THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY st, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM mk),
      |m AS (
      |  SELECT user_id, island, min(st) AS ist, max(en) AS ien
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |       CAST(sum(ien - ist) AS BIGINT) AS covered_s
      |FROM m GROUP BY 1""".stripMargin

  /** Per-entity EWMA (exponentially weighted moving average, α = 0.2) over
    * each user's event-time-ordered `value` stream — the classic smoothing
    * baseline behind anomaly detection and rate limiting. A recurrence
    * (`ewma_t = α·v_t + (1−α)·ewma_{t−1}`) has no window-function form, so
    * it runs as ONE shuffle keyed on user plus a row-local ordered fold:
    * `sort_array(collect_list(struct(ts, event_id, value)))` then a
    * higher-order `aggregate` seeded with the first value — per-ENTITY
    * timeline state, the same boundedness argument as sessionization (an
    * entity's history is bounded; the corpus of entities is what scales,
    * and that dimension is partitioned). The fold order (ts, event_id) is
    * total, and both engines evaluate the identical `acc·0.8 + x·0.2`
    * sequence — DuckDB's `list_reduce` seeds with the first element
    * exactly like the Spark fold, so the oracle is the same recurrence
    * verbatim. */
  def ewmaPerUser(s: SparkSession, dir: String, alpha: Double = 0.2): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct($"ts", $"event_id", $"value"))).as("tl"))
      .select($"user_id", $"n_events",
        round(expr(
          s"""aggregate(slice(transform(tl, x -> x.value), 2, size(tl) - 1),
             |          element_at(tl, 1).value,
             |          (acc, x) -> acc * ${1 - alpha}d + x * ${alpha}d)""".stripMargin),
          6).as("ewma"))
  }

  private val ewmaSql =
    """WITH tl AS (
      |  SELECT user_id, count(*) AS n_events,
      |         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      |  FROM events GROUP BY 1)
      |SELECT user_id, n_events,
      |       round(list_reduce(vals,
      |             (acc, x) -> acc * CAST(0.8 AS DOUBLE)
      |                       + x * CAST(0.2 AS DOUBLE)), 6) AS ewma
      |FROM tl""".stripMargin

  /** Distribution-drift monitor: Population Stability Index + a binned
    * Kolmogorov–Smirnov statistic between a reference slice (morning
    * events) and a current slice (afternoon events) of `events.value` —
    * the check production pipelines run before retraining on new data or
    * admitting a new ingest batch ("does today's traffic still look like
    * the training window?").
    *
    * Scale shape: ONE corpus pass folds every row into ≤`nBins`×2 counters
    * (hash aggregate with map-side partials — the shuffle carries bins, not
    * rows); PSI, the CDF-difference max, and the drift verdict all run on
    * the bounded bin table. PSI uses +0.5 Laplace smoothing so an empty
    * bin on one side cannot produce ln(0); KS uses the raw binned CDFs.
    * The verdict compares the ROUNDED psi to the conventional 0.1 threshold
    * so the flag is as hash-stable as the number it derives from. */
  def psiDrift(s: SparkSession, dir: String, nBins: Int = 10,
      binWidth: Double = 10.0): DataFrame = {
    import s.implicits._
    val binned = Tables.events(s, dir)
      .select((hour($"ts") < 12).as("ref"),
        least(floor($"value" / binWidth), lit(nBins - 1)).cast("int").as("bin"))
      .groupBy($"bin")
      .agg(sum(when($"ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(!$"ref", 1L).otherwise(0L)).as("n_cur"))
    psiFromBins(s, binned, nBins)
  }

  /** PSI/KS/verdict from a bounded bin-count table `(bin, n_ref, n_cur)` —
    * shared by the batch monitor above and the streaming one
    * (`StreamingOps.streamPsiDrift`), so the two can never drift apart in
    * the formula. Everything here is O(nBins), independent of corpus size
    * (the singleton broadcast and the ≤nBins-row window included). */
  private[graft] def psiFromBins(s: SparkSession, binned: DataFrame,
      nBins: Int): DataFrame = {
    import s.implicits._
    val tot = binned.agg(sum($"n_ref").cast("double").as("t_ref"),
      sum($"n_cur").cast("double").as("t_cur"))
    val cdfW = Window.orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = binned.crossJoin(broadcast(tot))
      .withColumn("p_ref", ($"n_ref" + lit(0.5)) / ($"t_ref" + lit(0.5) * nBins))
      .withColumn("p_cur", ($"n_cur" + lit(0.5)) / ($"t_cur" + lit(0.5) * nBins))
      .withColumn("cdf_ref", sum($"n_ref").over(cdfW) / $"t_ref")
      .withColumn("cdf_cur", sum($"n_cur").over(cdfW) / $"t_cur")
    p.agg(sum($"n_ref").cast("long").as("n_ref"),
        sum($"n_cur").cast("long").as("n_cur"),
        round(sum(($"p_cur" - $"p_ref") * log($"p_cur" / $"p_ref")), 6).as("psi"),
        round(max(abs($"cdf_ref" - $"cdf_cur")), 6).as("ks"))
      .withColumn("drift", $"psi" > 0.1)
  }

  // shared with q_stream_psi (streaming must not change the drift answer)
  private[graft] val psiDriftSql =
    """WITH b AS (
      |  SELECT CAST(least(floor(value / 10), 9) AS INT) AS bin,
      |         hour(ts) < 12 AS ref
      |  FROM events),
      |c AS (
      |  SELECT bin,
      |         CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
      |         CAST(sum(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM b GROUP BY bin),
      |t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS t_ref,
      |             CAST(sum(n_cur) AS DOUBLE) AS t_cur FROM c),
      |p AS (
      |  SELECT bin, n_ref, n_cur,
      |         (n_ref + 0.5) / (t_ref + 5.0) AS p_ref,
      |         (n_cur + 0.5) / (t_cur + 5.0) AS p_cur,
      |         sum(n_ref) OVER (ORDER BY bin) / t_ref AS cdf_ref,
      |         sum(n_cur) OVER (ORDER BY bin) / t_cur AS cdf_cur
      |  FROM c, t)
      |SELECT CAST(sum(n_ref) AS BIGINT) AS n_ref,
      |       CAST(sum(n_cur) AS BIGINT) AS n_cur,
      |       round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
      |       round(max(abs(cdf_ref - cdf_cur)), 6) AS ks,
      |       round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 6) > 0.1 AS drift
      |FROM p""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_psi_drift" -> ((s, d) => psiDrift(s, d)),
    "q_ewma" -> ((s, d) => ewmaPerUser(s, d)),
    "q_edit_distance" -> ((s, d) => editDistancePairs(s, d)),
    "q_mode_user" -> ((s, d) => modePerUser(s, d)),
    "q_pareto" -> ((s, d) => paretoRevenue(s, d)),
    "q_rfm" -> ((s, d) => rfmSegments(s, d)),
    "q_token_entropy" -> ((s, d) => tokenEntropy(s, d)),
    "q_markov" -> ((s, d) => markovTransitions(s, d)),
    "q_rolling_distinct" -> ((s, d) => rollingDistinctUsers(s, d)),
    "q_interval_coverage" -> ((s, d) => intervalCoverage(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_psi_drift" -> psiDriftSql,
    "q_ewma" -> ewmaSql,
    "q_edit_distance" -> editDistanceSql,
    "q_mode_user" -> modePerUserSql,
    "q_pareto" -> paretoRevenueSql,
    "q_rfm" -> rfmSegmentsSql,
    "q_token_entropy" -> tokenEntropySql,
    "q_markov" -> markovTransitionsSql,
    "q_rolling_distinct" -> rollingDistinctSql,
    "q_interval_coverage" -> intervalCoverageSql,
  )
}
