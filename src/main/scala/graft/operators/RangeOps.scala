package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Range/banding operators Spark lacks natively, plus stratified sampling:
  * a bucketed range join (the scale-safe form of an inequality join), a
  * fixed-width histogram, and per-stratum reservoir-free sampling.
  */
object RangeOps {

  /** Overlapping price bands: 20 bands over [900, 1000), width 10, stride 5
    * — each part row falls in ≤2 bands, so the join is genuinely 1-to-many.
    * Band bounds are exact doubles (multiples of 5), so the bucket blocking
    * below is mathematically exact for every 0.1-granular fixture price. */
  private def bands(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(20).select(
      $"id".cast("int").as("band_id"),
      (lit(900.0) + $"id" * 5.0).as("lo"),
      (lit(910.0) + $"id" * 5.0).as("hi"))
  }

  /** Range join via bucket blocking: Spark has no native band/interval join
    * — a raw `a.join(b, a.x >= b.lo && a.x < b.hi)` plans as
    * BroadcastNestedLoopJoin (O(n·m), driver-killer once neither side is
    * small). The scale shape: quantize the join value into fixed-width
    * buckets, explode each band into the buckets it overlaps (here exactly
    * 2), equi-join on the bucket key, then verify the exact predicate. The
    * shuffle carries (row, bucket) pairs — linear, partitionable, and the
    * per-bucket fanout is bounded by band width / bucket width, independent
    * of table sizes. The oracle states the plain inequality-join semantics.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 5.0
    val parts = Tables.part(s, dir)
      .select($"p_partkey", $"p_retailprice")
      .withColumn("bkt", floor(($"p_retailprice" - 900.0) / w).cast("int"))
    val b = bands(s)
      // band [lo, hi) overlaps buckets floor((lo-900)/w) .. floor((hi-900)/w)-1
      // (hi is exclusive and both edges are exact multiples of w)
      .withColumn("bkt", explode(sequence(
        floor(($"lo" - 900.0) / w).cast("int"),
        floor(($"hi" - 900.0) / w).cast("int") - 1)))
    parts.join(broadcast(b), Seq("bkt"))
      .filter($"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
      .groupBy($"band_id", $"lo", $"hi")
      .agg(count(lit(1)).as("n_parts"),
        sum($"p_retailprice".cast(DecimalType(18, 2))).cast("double").as("sum_price"))
  }

  private val rangeJoinSql =
    """WITH bands AS (
      |  SELECT CAST(i AS INTEGER) AS band_id,
      |         CAST(900.0 + i * 5.0 AS DOUBLE) AS lo,
      |         CAST(910.0 + i * 5.0 AS DOUBLE) AS hi
      |  FROM range(0, 20) t(i))
      |SELECT band_id, lo, hi, count(*) AS n_parts,
      |       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part JOIN bands
      |  ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band_id, lo, hi""".stripMargin

  /** Fixed-width histogram of order totals: floor-division bucketing, fully
    * map-side until one small aggregate. Bucket edges (multiples of 50000)
    * are exact doubles, so both engines bucket identically. */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(floor($"o_totalprice" / 50000.0).cast("int").as("bucket"),
        $"o_totalprice")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("min_price"),
        max($"o_totalprice").as("max_price"))
  }

  private val histogramSql =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bucket,
      |       count(*) AS n, min(o_totalprice) AS min_price,
      |       max(o_totalprice) AS max_price
      |FROM orders GROUP BY 1""".stripMargin

  /** The same band join written NAIVELY — `part ⋈ bands ON lo <= p < hi`,
    * the plan Spark turns into a BroadcastNestedLoopJoin — but executed with
    * `BandJoinRule` active, which rewrites it to the bucket-blocked
    * equi-join automatically. Same oracle as `q_range_join`: the rule must
    * be semantics-preserving. The width conf stays set on the session
    * afterwards (the rule is inert for every other registered query: all
    * cross-side joins elsewhere carry an equality conjunct). */
  def bandJoinAuto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.conf.set(graft.plans.BandJoinRule.WidthConf, "5.0")
    val parts = Tables.part(s, dir).select($"p_partkey", $"p_retailprice")
    parts.join(bands(s),
        $"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
      .groupBy($"band_id", $"lo", $"hi")
      .agg(count(lit(1)).as("n_parts"),
        sum($"p_retailprice".cast(DecimalType(18, 2))).cast("double").as("sum_price"))
  }

  /** Per-stratum Bernoulli sampling: language-stratified downsampling, the
    * rebalancing step of corpus curation. Deterministic md5-prefix gate per
    * stratum (the `q_split_traintest` idiom) instead of
    * `DataFrameStatFunctions.sampleBy`: sampleBy draws from a per-partition
    * seeded RNG stream, so its selected set changes whenever file splits,
    * AQE re-planning, or task retries change the partitioning — at 100 TB
    * the sample must be a pure function of the row, not of the shard layout.
    * Fractions quantize to 16-bit hex thresholds (0.5 → 0x8000 exact;
    * 0.3 → 0x4ccc = 19660/65536 ≈ 0.29999). Row-local, no shuffle, and
    * SQL-expressible, so oracle-checked rather than bounds-only. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val thresholds = Map("en" -> "8000", "zh" -> "4ccc", "es" -> "4ccc",
      "de" -> "4ccc", "fr" -> "4ccc")
    val thr = thresholds.foldLeft(lit("0000")) { case (acc, (l, t)) =>
      when($"lang" === l, lit(t)).otherwise(acc)
    }
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .filter(substring(md5($"doc_id".cast("string")), 1, 4) < thr)
  }

  private val stratifiedSampleSql =
    """SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      |      CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '4ccc'
      |                WHEN 'es' THEN '4ccc' WHEN 'de' THEN '4ccc'
      |                WHEN 'fr' THEN '4ccc' ELSE '0000' END""".stripMargin

  /** Equi-DEPTH histogram (the equi-width twin of `histogram`): octile
    * boundaries from EXACT interpolated percentiles, broadcast back as a
    * single row, bucket = number of boundaries below the value. This is the
    * scale-safe replacement for `ntile()` over a global window — a global
    * ntile forces a single-partition total sort. Boundaries come from
    * `ExactQuantiles.quantileCont` (distributed bucketed rank selection)
    * rather than the built-in `percentile`, whose ObjectHashAggregate
    * buffers a value→count map of ALL of o_totalprice in one final buffer —
    * at 100× scale on a mostly-distinct key that buffer is the dataset.
    * Values are bit-identical to `percentile` (spec-asserted), so the DuckDB
    * `quantile_cont` oracle is unchanged. Bucket counts differ from ntile's
    * by at most the tie mass at each boundary, which is what a layout/stats
    * audit wants anyway. */
  def equidepthHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select($"o_totalprice")
    val bounds = ExactQuantiles.quantileCont(o, Nil, "o_totalprice",
      (1 to 7).map(i => s"b$i" -> i / 8.0))
    val bucket = (1 to 7).map(i =>
      when($"o_totalprice" > col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    o.join(broadcast(bounds))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("min_price"),
        max($"o_totalprice").as("max_price"))
  }

  private val equidepthSql = {
    val bs = (1 to 7).map(i =>
      s"quantile_cont(o_totalprice, ${i / 8.0}) AS b$i").mkString(", ")
    val bucket = (1 to 7).map(i =>
      s"CASE WHEN o_totalprice > b$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH bounds AS (SELECT $bs FROM orders)
       |SELECT $bucket AS bucket, count(*) AS n,
       |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
       |FROM orders, bounds GROUP BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_equidepth_hist" -> ((s, d) => equidepthHistogram(s, d)),
    "q_range_join" -> ((s, d) => rangeJoin(s, d)),
    "q_band_join_auto" -> ((s, d) => bandJoinAuto(s, d)),
    "q_histogram" -> ((s, d) => histogram(s, d)),
    "q_stratified_sample" -> ((s, d) => stratifiedSample(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_equidepth_hist" -> equidepthSql,
    "q_range_join" -> rangeJoinSql,
    "q_band_join_auto" -> rangeJoinSql,
    "q_histogram" -> histogramSql,
    "q_stratified_sample" -> stratifiedSampleSql,
  )
}
