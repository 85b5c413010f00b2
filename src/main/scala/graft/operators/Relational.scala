package graft.operators

import graft.{Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Batch relational core — reference parity per SURVEY.md §2/§7 Phase 0-1.
  *
  * The reference's whole Spark job is scan → project/rename/cast → null-drop →
  * positive-value filters → cap (`/root/reference/dags/etl_spark_historical.py:178-195`),
  * plus a MERGE-style dedup-append into the fact table (`:302-333`) and a small
  * set of analyst verification queries (`/root/reference/readme.md:149-187`).
  * Here those semantics are re-expressed on the driver fixtures (`lineitem` as
  * the trips analog, per FIXTURES.md §B) as declarative DataFrame plans so
  * Catalyst does pruning/pushdown and AQE picks join strategies.
  *
  * Money arithmetic is done in DECIMAL(18,2/4) — the fixture doubles are exact
  * 2-decimal values, so decimal sums are bit-exact across engines (no
  * float-summation-order drift against the DuckDB oracle). Final aggregate
  * outputs are cast to DOUBLE on BOTH sides (Spark and oracle SQL): the exact
  * decimal value converts deterministically (magnitudes ≪ 2^53), and DOUBLE is
  * representation-stable under the driver's hash where DECIMAL is not
  * (round-1 finding: 11/12 decimal-sum outputs hash-mismatched value-identical
  * results).
  */
object Relational {
  private val D2 = DecimalType(18, 2)
  private val D4 = DecimalType(18, 4)
  private def dec2(c: Column): Column = c.cast(D2)

  /** Run independent driver-side actions concurrently on a bounded daemon
    * pool (guide §2.6: actions are only sequential because the driver calls
    * them sequentially). Callers use it for commit lifecycles whose
    * statements are mutually independent — different tables, or same-table
    * pure appends that the write path's rebase-on-CAS-loss makes
    * order-insensitive — so overlapping changes no declared result, only
    * the wall clock. Exceptions rethrow unwrapped so failure shapes match
    * the sequential path. */
  private[graft] def overlapped[T, R](items: Seq[T], maxThreads: Int = 4)(f: T => R): Seq[R] = {
    val n = math.min(maxThreads, items.size)
    if (n <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => { val t = new Thread(r, "graft-overlap-sql"); t.setDaemon(true); t })
    try {
      val fs = items.map(i => pool.submit(
        new java.util.concurrent.Callable[R] { def call(): R = f(i) }))
      fs.map(fu => try fu.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      })
    } finally pool.shutdown()
  }

  /** Cleaned-trips contract (P1-P4): project/rename/cast, drop null keys,
    * positive distance+amount. Mirrors
    * `/root/reference/dags/etl_spark_historical.py:182-193`. `trip_id`/`leg_no`
    * keep the natural key so downstream queries stay deterministic.
    */
  def cleanTrips(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select(
        $"l_orderkey".as("trip_id"),
        $"l_linenumber".as("leg_no"),
        $"l_shipdate".as("pickup_ts"),
        $"l_partkey".cast("int").as("pickup_zone_id"),
        $"l_suppkey".cast("int").as("dropoff_zone_id"),
        $"l_linenumber".cast("int").as("passenger_count"),
        $"l_quantity".cast("double").as("trip_distance"),
        $"l_extendedprice".cast("double").as("total_amount"))
      .na.drop(Seq("pickup_ts", "pickup_zone_id", "dropoff_zone_id"))
      .filter($"trip_distance" > 0 && $"total_amount" > 0)
  }

  private val cleanSql =
    """SELECT l_orderkey AS trip_id, l_linenumber AS leg_no, l_shipdate AS pickup_ts,
      | CAST(l_partkey AS INTEGER) AS pickup_zone_id, CAST(l_suppkey AS INTEGER) AS dropoff_zone_id,
      | CAST(l_linenumber AS INTEGER) AS passenger_count, l_quantity AS trip_distance,
      | l_extendedprice AS total_amount
      |FROM lineitem
      |WHERE l_shipdate IS NOT NULL AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
      |  AND l_quantity > 0 AND l_extendedprice > 0""".stripMargin

  /** MERGE WHEN NOT MATCHED THEN INSERT (J1) as left-anti join + unionByName —
    * `/root/reference/dags/etl_spark_historical.py:302-333`. Key includes the
    * float columns the reference compares for exact equality (`:310-311`);
    * safe because values round-trip binary-identically. Null-rejecting equi
    * keys → Catalyst picks hash/sort-merge; AQE broadcasts if a side is small.
    */
  def dedupAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val fact = li.filter($"l_orderkey" % 4 =!= 0)    // prior load: 3/4 of rows
    val stg = li                                     // re-load of the full batch
    // Pre-hash the 6-column key (floats compared for exact binary equality,
    // as the reference's MERGE does — values round-trip bit-identically) into
    // two independently-seeded 64-bit columns. The anti-join then shuffles
    // 16 bytes/row of fact instead of the 6-column key (~50 bytes), and the
    // 128-bit combined key makes a false merge (a stg row silently dropped)
    // vanishingly unlikely even at 10^12 rows (~n²/2^128).
    val keyCols = Seq($"l_orderkey", $"l_linenumber", $"l_suppkey",
      $"l_quantity", $"l_extendedprice", $"l_shipdate")
    def k1(c: Seq[Column]) = xxhash64(c: _*)
    def k2(c: Seq[Column]) = xxhash64(lit("graft_k2") +: c: _*)
    val factKeys = fact.select(k1(keyCols).as("k1"), k2(keyCols).as("k2"))
    val fresh = stg.withColumn("k1", k1(keyCols)).withColumn("k2", k2(keyCols))
      .join(factKeys, Seq("k1", "k2"), "left_anti")
      .drop("k1", "k2")
    fact.unionByName(fresh)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
  }

  private val dedupAppendSql =
    """WITH fact AS (SELECT * FROM lineitem WHERE l_orderkey % 4 <> 0),
      |appended AS (
      |  SELECT * FROM fact
      |  UNION ALL
      |  SELECT * FROM lineitem s WHERE NOT EXISTS (
      |    SELECT 1 FROM fact f
      |    WHERE f.l_orderkey = s.l_orderkey AND f.l_linenumber = s.l_linenumber
      |      AND f.l_suppkey = s.l_suppkey AND f.l_quantity = s.l_quantity
      |      AND f.l_extendedprice = s.l_extendedprice AND f.l_shipdate = s.l_shipdate))
      |SELECT l_returnflag, count(*) AS n FROM appended GROUP BY l_returnflag""".stripMargin

  /** TPC-H Q1-shaped pricing summary — the flagship hash aggregation
    * (map-side partial agg + single shuffle on the 2 grouping keys). */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val one = lit(1).cast(D2)
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec2($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec2($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec2($"l_extendedprice") * (one - dec2($"l_discount"))).cast("double").as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("n"))
  }

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      | round(avg(l_quantity), 4) AS avg_qty,
      | round(avg(l_discount), 6) AS avg_disc,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue per nation: the implied "demand by dimension" analytics
    * (`/root/reference/readme.md:135-136`) as a C⨝O⨝L⨝N join chain.
    * `nation` is explicitly broadcast (25 rows); AQE broadcasts `customer`
    * at test scale, sort-merge at 100 TB where it exceeds the threshold. */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val one = lit(1).cast(D2)
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum(dec2($"l_extendedprice") * (one - dec2($"l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val revenueByNationSql =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** TPC-H Q5 shape (local-supplier volume): the canonical join-ORDER
    * workload — a 6-table star with a selective region filter and the
    * cross-dimension "local supplier" condition (customer and supplier in
    * the same nation), the query class join reordering and broadcast
    * planning exist for. Scale shape: the dimension chain region→nation
    * reduces to the ≤|nations-in-region| row set BEFORE any fact is
    * touched and broadcasts; the year predicate pushes into the orders
    * scan so the fact⨝fact join sees one year, not seven; the nation
    * equality rides the supplier join as a residual condition (no extra
    * shuffle). Revenue in exact decimal, cast DOUBLE at the end (the repo
    * money contract). */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val one = lit(1).cast(D2)
    val asiaNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp")),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(s, dir),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum(dec2($"l_extendedprice") * (one - dec2($"l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val localSupplierVolumeSql =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin

  /** Full-outer reconciliation: per-day order counts vs shipment counts,
    * either side zero-filled — the discrepancy-report join shape (ship
    * dates extend past order dates, so both null sides genuinely occur).
    * One shuffle per aggregate; the join keys are the already-aggregated
    * day rows. */
  def fullOuterRecon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .groupBy(date_trunc("day", $"o_orderdate").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val l = Tables.lineitem(s, dir)
      .groupBy(date_trunc("day", $"l_shipdate").as("day"))
      .agg(count(lit(1)).as("n_ships"))
    o.join(l, Seq("day"), "full_outer")
      .select($"day", coalesce($"n_orders", lit(0L)).as("n_orders"),
        coalesce($"n_ships", lit(0L)).as("n_ships"))
  }

  private val fullOuterReconSql =
    """WITH o AS (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
      |                  count(*) AS n_orders FROM orders GROUP BY 1),
      |l AS (SELECT CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
      |             count(*) AS n_ships FROM lineitem GROUP BY 1)
      |SELECT COALESCE(o.day, l.day) AS day,
      |       COALESCE(n_orders, 0) AS n_orders,
      |       COALESCE(n_ships, 0) AS n_ships
      |FROM o FULL OUTER JOIN l ON o.day = l.day""".stripMargin

  /** Parquet schema evolution: an old-schema batch and a widened batch land
    * in the same dataset directory; `mergeSchema` reconciles the footers and
    * the missing column reads as NULL for old files — the append-only
    * evolution contract a long-lived 100 TB dataset depends on (per-file
    * footers make this metadata-only; nothing is rewritten). The aggregate
    * pins the semantics: every row surfaces, exactly the new-batch rows
    * carry the added column. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_schema_evolution_" +
      java.lang.ProcessHandle.current().pid()
    Tables.nation(s, dir).select($"n_nationkey", $"n_name")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    Tables.nation(s, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
      .coalesce(1).write.mode("append").parquet(tmp)
    s.read.option("mergeSchema", "true").parquet(tmp)
      .agg(count(lit(1)).as("n_rows"),
        count($"n_regionkey").as("n_with_region"),
        countDistinct($"n_nationkey").as("n_keys"))
  }

  private val schemaEvolutionSql =
    """SELECT 2 * count(*) AS n_rows, count(*) AS n_with_region,
      |       count(DISTINCT n_nationkey) AS n_keys
      |FROM nation""".stripMargin

  /** The engine's SQL entry point: the same catalog the DataFrame API sees,
    * driven through `spark.sql` over temp views — a user of the reference's
    * analyst-SQL workflow (`/root/reference/readme.md:149-187`) can run
    * textual SQL unchanged. TPC-H-Q3-flavored: segment-filtered revenue per
    * order, exact DECIMAL arithmetic, top-10 ordered by the exact decimal
    * (deterministic across engines) before the final DOUBLE cast. */
  def sqlApi(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT o_orderkey, CAST(rev AS DOUBLE) AS revenue, n_items FROM (
        SELECT o.o_orderkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev,
               count(*) AS n_items
        FROM orders_v o
        JOIN lineitem_v l ON o.o_orderkey = l.l_orderkey
        JOIN customer_v c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey)
      ORDER BY rev DESC, o_orderkey LIMIT 10""")
  }

  private val sqlApiSql =
    """SELECT o_orderkey, CAST(rev AS DOUBLE) AS revenue, n_items FROM (
      |  SELECT o.o_orderkey,
      |         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |             * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev,
      |         count(*) AS n_items
      |  FROM orders o
      |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment = 'BUILDING'
      |  GROUP BY o.o_orderkey)
      |ORDER BY rev DESC, o_orderkey LIMIT 10""".stripMargin

  /** Stages the temp view `src` into `table` with one INSERT per distinct
    * `yr` (bounded: orders span ≤ 8 years). The DISTINCT probe and every
    * INSERT re-plan the same source projection, so it is held for the loop
    * (the probe fills it) and the INSERTs scan the cache, not the parquet. */
  private def insertPerYear(s: SparkSession, src: String, table: String): Unit =
    Materialize.scoped { held =>
      held(s.table(src))
      s.sql(s"SELECT DISTINCT yr FROM $src ORDER BY yr").collect().map(_.getInt(0))
        .foreach(y => s.sql(s"INSERT INTO $table SELECT * FROM $src WHERE yr = $y"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_full_outer" -> ((s, d) => fullOuterRecon(s, d)),
    "q_sql_api" -> ((s, d) => sqlApi(s, d)),
    "q_schema_evolution" -> ((s, d) => schemaEvolution(s, d)),
    "q_clean_trips" -> ((s, d) => cleanTrips(s, d)),
    "q_clean_count" -> ((s, d) => cleanTrips(s, d).agg(count(lit(1)).as("n_rows"))),
    "q_date_range" -> ((s, d) => {
      // A3: MIN/MAX over pickup timestamps (/root/reference/readme.md:163-166)
      cleanTrips(s, d).agg(
        min(col("pickup_ts")).as("min_pickup"),
        max(col("pickup_ts")).as("max_pickup"))
    }),
    "q_preview" -> ((s, d) => {
      // L2 `SELECT * LIMIT 20` preview. The natural key (trip_id, leg_no) is
      // NOT unique in the fixture (generator reuses orderkeys), so the sort
      // tiebreaks through every remaining column — otherwise the row at the
      // LIMIT boundary is engine-dependent
      cleanTrips(s, d).orderBy(col("trip_id"), col("leg_no"), col("pickup_ts"),
        col("pickup_zone_id"), col("dropoff_zone_id"), col("passenger_count"),
        col("trip_distance"), col("total_amount")).limit(20)
    }),
    "q_topk_orders" -> ((s, d) => {
      // L3 top-k by sort (/root/reference/readme.md:178-187) → TakeOrderedAndProject
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .limit(10)
    }),
    "q_dedup_append" -> ((s, d) => dedupAppend(s, d)),
    // the ACID form of the same MERGE: snapshot-isolated manifest table
    // (graft.sources.ManifestTable) — initial load, merge of the full
    // batch, then a REPLAY that must be a committed no-op; final state
    // read back from the manifest snapshot. Same oracle as q_dedup_append
    // (the protocol must not change the answer).
    "q_acid_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions.count
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_acid_merge_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      graft.sources.ManifestTable.merge(s, tbl,
        li.filter(col("l_orderkey") % 4 =!= 0), keys) // prior load
      graft.sources.ManifestTable.merge(s, tbl, li, keys) // MERGE the batch
      graft.sources.ManifestTable.merge(s, tbl, li, keys) // replay: no-op
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    }),
    // OPTIMIZE on the manifest table: a table grown by several small merge
    // commits is compacted into one file list via a CAS-committed rewrite
    // (ManifestTable.compact). The oracle is content-invariance — the
    // compacted snapshot must aggregate exactly like the union of the
    // commits (a changed answer means compaction lost or duplicated rows);
    // file-count reduction and time-travel survival are spec-asserted
    // (ManifestTableSpec), not part of the hashed contract.
    "q_manifest_compact" -> ((s, d) => {
      import org.apache.spark.sql.functions.count
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_compact_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      // %3 slices are provably disjoint from every committed row, so the
      // merge anti-join would return each batch unchanged — appendAll
      // commits the identical three manifests without it, staging the
      // three slices concurrently (guide §1.2/§2.6/§8)
      graft.sources.ManifestTable.appendAll(s, tbl,
        (0 to 2).map(m => li.filter(col("l_orderkey") % 3 === m)))
      graft.sources.ManifestTable.compact(s, tbl, numFiles = 2)
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    }),
    // CDC-style incremental consumption: rows added between two committed
    // versions, read from ONLY the files new in that range (append-only
    // manifests make the delta a file-list set difference — O(new data)
    // per poll, vs an EXCEPT of snapshots scanning the table twice). The
    // oracle restates the delta from the deterministic commit slices.
    "q_manifest_changes" -> ((s, d) => {
      import org.apache.spark.sql.functions.count
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_changes_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl)
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      // v0, v1, v2 — disjoint %3 slices: concurrent staging, ordered commits
      graft.sources.ManifestTable.appendAll(s, tbl,
        (0 to 2).map(m => li.filter(col("l_orderkey") % 3 === m)))
      // consume everything committed AFTER v0: exactly commits v1 + v2
      graft.sources.ManifestTable.readChanges(s, tbl, fromV = 0, toV = 2)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    }),
    // The incremental-consumer loop end-to-end: tail the manifest's commit
    // log one version at a time (each poll reads ONLY that commit's files
    // via readChanges), partial-aggregate each delta, and merge the
    // partials — the CDC-source → materialized-view-refresh pipeline as one
    // hash-checked composition (poll cost ∝ delta, merge cost ∝ |groups|,
    // nothing rescans the table). Oracle = the one-shot batch aggregate:
    // tailing must equal batch.
    "q_manifest_tail" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, sum}
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_tail_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl)
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      // disjoint %3 slices: concurrent staging, ordered commits (no anti-join)
      graft.sources.ManifestTable.appendAll(s, tbl,
        (0 to 2).map(m => li.filter(col("l_orderkey") % 3 === m)))
      val polls = (0 to 2).map { v => // one partial aggregate per poll
        graft.sources.ManifestTable.readChanges(s, tbl, v - 1, v)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
      }
      polls.reduce(_.unionByName(_))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("qty")).cast("double").as("sum_qty"))
    }),
    // File-level DATA SKIPPING on the manifest table (the Delta/Iceberg
    // scan story): stage lineitem range-partitioned on l_orderkey so each
    // data file covers a tight key range, harvest per-file min/max from the
    // parquet FOOTERS into the manifest line at commit time, then answer a
    // selective range query by pruning the FILE LIST on the driver before
    // any scan task launches — metadata-only skipping, zero I/O to the
    // dropped files (at 100 TB: thousands of file opens avoided per query).
    // The residual filter still reaches the surviving files' row-group
    // stats via ordinary parquet pushdown. The oracle is the plain filter
    // over the full table — skipping must not change the answer; the
    // actually-pruned file count is spec-asserted (ManifestTableSpec).
    "q_manifest_skipping" -> ((s, d) => {
      import org.apache.spark.sql.functions.count
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_skip_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
        .repartitionByRange(8, col("l_orderkey")) // tight per-file ranges
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, li, statsCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.readPruned(s, tbl, "l_orderkey",
        lo = BigDecimal(100), hi = BigDecimal(500))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // Per-file BLOOM-index skipping — the lookup min/max can't serve:
    // lineitem staged HASH-clustered on l_orderkey, so every file spans the
    // full key range (range stats prune nothing) but holds only its own
    // key set; each file's keys are folded into a bloom_build sketch in ONE
    // distributed pass (|files| small sketches, bounded by file count) and
    // recorded on the manifest line. A needle-in-haystack `key IN (…)`
    // lookup then prunes to the files whose blooms admit a probe key —
    // false positives only cost a scan of one extra file, the residual
    // filter keeps the answer exact. Oracle = the plain filter; the actual
    // file-prune counts are spec-asserted (ManifestTableSpec).
    "q_manifest_point_lookup" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_pl_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.readPointLookup(s, tbl, "l_orderkey",
        keys = Seq(101L, 777L, 1402L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
    }),
    // Targeted DELETE on the manifest table (right-to-be-forgotten): the
    // bloom/range stats locate the few files that can hold the doomed keys
    // (hash-clustered: ~one file per key), exactly those are rewritten
    // without the matching rows, and one CAS commit republishes untouched
    // files' lines verbatim. Cost scales with data holding the keys, not
    // with the table; pre-delete versions still time-travel until vacuum
    // (spec-asserted with the untouched-file-identity check). Oracle =
    // the complement filter: the delete must remove exactly the keys.
    "q_manifest_delete" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_del_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.deleteKeys(s, tbl, "l_orderkey",
        keys = Seq(101L, 777L, 1402L))
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // MERGE-ON-READ delete via deletion vectors (the Delta DV / Iceberg v2
    // delete-file shape): the delete stages ONE tiny doomed-key parquet and
    // a #dv marker targeting the stats-admitted files — no data file is
    // rewritten (write cost ∝ deleted keys, the property that makes
    // right-to-be-forgotten affordable on a 100 TB table), and readers
    // apply a broadcast anti-join at scan time until a compaction
    // materializes. Oracle = identical NOT IN semantics to the
    // copy-on-write q_manifest_delete — the two delete strategies MUST
    // answer the same.
    "q_merge_on_read" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_mor_del_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.deleteKeysMOR(s, tbl, "l_orderkey",
        keys = Seq(101L, 777L, 1402L))
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // MERGE-ON-READ through the SQL catalog (round 12): a `delete.mode =
    // mor` table takes a key-membership DELETE as one tiny doomed-key
    // parquet + a #dv marker (write cost ∝ deleted keys, nothing
    // rewritten), and the CATALOG SCAN itself serves the live rows —
    // readers drop doomed keys in flight, key sets cached per executor.
    // Pre-round-12 the scan refused DV tables until compaction; now the
    // Hudi/Iceberg MOR read path is a plain SELECT.
    // METADATA COUNT under KEYED deletion vectors (round 15): each MOR
    // delete prices its marker — one counted pass over just the
    // candidate files records the exact doomed-LIVE hits per target —
    // so a keyed-MOR table keeps the COUNT(*)/history/LIMIT metadata
    // tiers positional markers already had. Two OVERLAPPING deletes
    // prove additivity: the second marker's count is taken against the
    // first's live view, so the shared key never double-counts.
    // Round15Spec plan-asserts the final count is metadata-served.
    "q_metadata_mor_count" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_morc_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_mc",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_mc.root", root)
      s.sql("""CREATE TABLE graft_mc.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('delete.mode' = 'mor')""")
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("r15_morc_src")
      s.sql("INSERT INTO graft_mc.default.ord SELECT * FROM r15_morc_src")
      s.sql("DELETE FROM graft_mc.default.ord WHERE o_orderkey IN (1, 2, 3, 32, 33)")
      s.sql("DELETE FROM graft_mc.default.ord WHERE o_orderkey IN (33, 64, 65)")
      s.sql("SELECT count(*) AS n FROM graft_mc.default.ord")
    }),
    "q_sql_mor_read" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_morq_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_mr",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_mr.root", root)
      s.sql("""CREATE TABLE graft_mr.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('delete.mode' = 'mor')""")
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r12_mor_src")
      s.sql("INSERT INTO graft_mr.default.ord SELECT * FROM r12_mor_src")
      s.sql("""DELETE FROM graft_mr.default.ord WHERE o_orderkey IN
        (1, 2, 3, 4, 5, 6, 7, 32, 33, 34, 35, 36, 37, 38, 39, 64, 65, 66,
         67, 68, 69, 70, 96, 97, 98, 99, 100, 101, 102, 103)""")
      // round 14: the DV KEY COLUMN renames while its markers are live
      // (rename-after-DV), a SECOND MOR delete lands under the evolved
      // name (DV-after-rename), and row-level DML still runs — no
      // compaction anywhere. The marker keeps its delete-time name and
      // readers resolve it per file generation through the alias chain.
      s.sql("ALTER TABLE graft_mr.default.ord RENAME COLUMN o_orderkey TO okey")
      s.sql("DELETE FROM graft_mr.default.ord WHERE okey IN (128, 129)")
      // round 13: row-level DML runs ON the DV table, no compact-first —
      // the UPDATE's scan merges the deletion vectors (doomed rows
      // produce no delta), its rewrites drop position- and dv-doomed
      // rows together, and the commit strikes rewritten files from the
      // markers' target sets. A doomed key can never resurrect.
      s.sql("""UPDATE graft_mr.default.ord
        SET o_totalprice = o_totalprice + 10.0 WHERE o_custkey % 5 = 2""")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(okey) AS mn
        FROM graft_mr.default.ord""")
    }),
    // THE CHANGE FEED ACROSS RENAMES (round 13): a rename is a
    // metadata-only commit (no rows changed → no emissions), and the
    // feed's readers reconcile every generation in range through the END
    // version's rename chain — pre-rename commits emit their rows under
    // the evolved names. An incremental consumer follows a table through
    // column evolution without re-bootstrapping.
    "q_changes_rename" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_chrn_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_cr",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cr.root", root)
      s.sql("""CREATE TABLE graft_cr.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('delete.mode' = 'mor')""")
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("r13_chrn_src")
      s.sql("""INSERT INTO graft_cr.default.ord
        SELECT * FROM r13_chrn_src WHERE o_orderkey % 2 = 0""")          // v1
      // round 14: a MOR delete precedes the renames — including a rename
      // of its own KEY column — and the feed still emits every commit's
      // exact diff under the END version's evolved names, resolving the
      // marker through the alias chain per file generation
      s.sql("DELETE FROM graft_cr.default.ord " +
        "WHERE o_orderkey IN (2, 4, 6)")                                 // v2
      s.sql("ALTER TABLE graft_cr.default.ord " +
        "RENAME COLUMN o_totalprice TO price")                           // v3
      s.sql("""INSERT INTO graft_cr.default.ord
        SELECT o_orderkey, o_totalprice AS price
        FROM r13_chrn_src WHERE o_orderkey % 2 = 1""")                   // v4
      s.sql("ALTER TABLE graft_cr.default.ord " +
        "RENAME COLUMN o_orderkey TO okey")                              // v5
      s.sql("""SELECT _change_type, _commit_version, count(*) AS n,
        CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(okey) AS mn
        FROM graft_cr.default.`ord$changes`
        GROUP BY _change_type, _commit_version""")
    }),
    // RENAME-RECONCILED SQL SCANS (round 13): `ALTER TABLE … RENAME
    // COLUMN` used to make the table unreadable through SQL until a
    // compaction materialized the new name. The catalog scan now
    // reconciles generations in the executor reader — files written
    // before the rename decode their old physical column under the
    // evolved name, zero rewrites. Round 14: stats-driven pushdowns stay
    // ARMED too — pre-rename files' stat legs are looked up through the
    // rename chain, so file pruning, exactness proofs, and metadata
    // aggregation serve the evolved names (see q_rename_pushdown).
    "q_sql_rename_read" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_rnr_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_rn",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rn.root", root)
      s.sql("""CREATE TABLE graft_rn.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .createOrReplaceTempView("r13_rnr_src")
      s.sql("""INSERT INTO graft_rn.default.ord
        SELECT * FROM r13_rnr_src WHERE o_orderkey % 2 = 0""")
      s.sql("ALTER TABLE graft_rn.default.ord RENAME COLUMN o_totalprice TO price")
      s.sql("""INSERT INTO graft_rn.default.ord
        SELECT o_orderkey, o_totalprice AS price
        FROM r13_rnr_src WHERE o_orderkey % 2 = 1""")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(o_orderkey) AS mn
        FROM graft_rn.default.ord
        WHERE o_orderkey BETWEEN 100 AND 5000""")
    }),
    // ALIAS-AWARE STAT PUSHDOWN (round 14): pre-rename files record their
    // stats under the OLD column name; the scan builder normalizes every
    // file's stat legs through the rename chain, so COUNT/MIN/MAX/SUM on
    // a renamed column stay METADATA-SERVED (zero data I/O) across mixed
    // generations with zero post-rename rewrites — where round 13
    // honestly declined to a full scan until an optimize re-harvested.
    "q_rename_pushdown" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_rnp_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_rp",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rp.root", root)
      s.sql("""CREATE TABLE graft_rp.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT)
        TBLPROPERTIES ('graft.write.sum' = 'o_orderkey')""")
      Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .createOrReplaceTempView("r14_rnp_src")
      s.sql("""INSERT INTO graft_rp.default.ord
        SELECT * FROM r14_rnp_src WHERE o_orderkey % 2 = 0""")
      s.sql("ALTER TABLE graft_rp.default.ord RENAME COLUMN o_orderkey TO okey")
      s.sql("""INSERT INTO graft_rp.default.ord
        SELECT o_orderkey AS okey, o_custkey
        FROM r14_rnp_src WHERE o_orderkey % 2 = 1""")
      s.sql("""SELECT count(*) AS n, min(okey) AS mn, max(okey) AS mx,
        sum(okey) AS s
        FROM graft_rp.default.ord""")
    }),
    // GOVERNED CHANGE FEED (round 13): `t$changes` on a policy-bearing
    // table serves the GOVERNED view's diff instead of refusing — every
    // emitted row (insert or delete, any commit in range) passes the END
    // version's row filter and masks, so an incremental consumer syncs
    // exactly what a governed SELECT would show it: a row the filter
    // hides never inserts, so its delete never emits; masked columns
    // arrive masked in both directions. Composes with merge-on-read —
    // the MOR delete's emitted rows are governed too.
    "q_governed_changes" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_gch_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/ev"
      graft.sources.ManifestTable.destroy(tbl)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.sources.ManifestTable.merge(s, tbl, ev, Seq("event_id"))  // v0
      graft.sources.ManifestTable.setPolicy(tbl,                      // v1
        masks = Map("user_id" -> "pmod(user_id, 100)",
          "value" -> "round(value, 0)"),
        rowFilter = Some("event_type <> 'error'"))
      graft.sources.ManifestTable.deleteKeysMOR(s, tbl, "event_id",   // v2
        keys = (1L to 40L))
      s.conf.set("spark.sql.catalog.graft_gc",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_gc.root", root)
      s.sql("""SELECT _change_type, _commit_version, event_type,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        sum(user_id) AS sum_uid
        FROM graft_gc.default.`ev$changes`
        GROUP BY _change_type, _commit_version, event_type""")
    }),
    // STRING-KEYED merge-on-read delete (round 13) — the GDPR shape:
    // `DELETE WHERE source IN (…)` on a string column publishes one
    // BINARY doomed-key parquet + a #dv marker (candidate files pruned on
    // truncated UTF-8 byte envelopes; nothing rewritten), and the catalog
    // scan drops doomed rows by binary-searching sorted raw byte arrays —
    // the right-to-be-forgotten delete on a 100 TB corpus costs one tiny
    // write, not a table rewrite. Pre-r13 string keys refused outright.
    "q_gdpr_delete" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_gdpr_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/docs")
      s.conf.set("spark.sql.catalog.graft_gd",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_gd.root", root)
      s.sql("""CREATE TABLE graft_gd.default.docs
        (doc_id BIGINT, source STRING, lang STRING, n_chars BIGINT)
        TBLPROPERTIES ('delete.mode' = 'mor')""")
      Tables.documents(s, d)
        .select("doc_id", "source", "lang", "n_chars")
        .createOrReplaceTempView("r13_gdpr_src")
      s.sql("INSERT INTO graft_gd.default.docs SELECT * FROM r13_gdpr_src")
      s.sql("""DELETE FROM graft_gd.default.docs
        WHERE source IN ('src3', 'src7', 'src12')""")
      s.sql("""SELECT lang, count(*) AS n, sum(n_chars) AS sum_chars,
        min(doc_id) AS mn FROM graft_gd.default.docs GROUP BY lang""")
    }),
    // POSITIONAL DELETION VECTORS (round 14): `graft.dml.mode =
    // positional` makes arbitrary-predicate DELETE/UPDATE publish
    // `#dv … _pos …` markers — one tiny (file, row-ordinal) parquet per
    // statement, ZERO data files rewritten (the Iceberg position-delete
    // shape). At 100 TB a `DELETE WHERE quality < x` over a corpus costs
    // O(matched rows), not a rewrite of every file holding a match.
    // The scan drops doomed ordinals in flight; round-trips exactly.
    "q_positional_dv" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_pdv_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_pv",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_pv.root", root)
      s.sql("""CREATE TABLE graft_pv.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r14_pdv_src")
      s.sql("INSERT INTO graft_pv.default.ord SELECT * FROM r14_pdv_src")
      // arbitrary predicates — NOT key-membership shapes; both publish
      // positional markers, no rewrite
      s.sql("DELETE FROM graft_pv.default.ord WHERE o_totalprice < 50000.0")
      s.sql("""UPDATE graft_pv.default.ord SET o_totalprice = 0.0
        WHERE o_orderkey % 100 = 7""")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(o_orderkey) AS mn
        FROM graft_pv.default.ord""")
    }),
    // CHANGE FEED ACROSS POSITIONAL MARKERS (round 14): a positional
    // DELETE commit's diff is exactly its doomed live rows (read at
    // their recorded ordinals from the targeted files — zero extra
    // bookkeeping), and an UPDATE emits delete(old values) +
    // insert(new values). The CDC consumer of a positional-mode table
    // syncs rewrite-free DML without re-bootstrapping.
    "q_changes_positional" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_chp_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_cp",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cp.root", root)
      s.sql("""CREATE TABLE graft_cp.default.ord (k BIGINT, p DOUBLE)
        TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
      Tables.orders(s, d)
        .selectExpr("o_orderkey AS k", "o_totalprice AS p")
        .filter("k % 3 = 0")
        .createOrReplaceTempView("r14_chp_src")
      s.sql("INSERT INTO graft_cp.default.ord SELECT * FROM r14_chp_src") // v1
      s.sql("DELETE FROM graft_cp.default.ord WHERE p < 30000.0")         // v2
      s.sql("UPDATE graft_cp.default.ord SET p = 1.0 WHERE k % 10 = 1")   // v3
      s.sql("""SELECT _change_type, _commit_version, count(*) AS n,
        CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        min(k) AS mn
        FROM graft_cp.default.`ord$changes`
        GROUP BY _change_type, _commit_version""")
    }),
    // DELETION-VECTOR MAINTENANCE (round 13): a hot MOR table accumulates
    // one #dv marker per DELETE, and every scan of a targeted file checks
    // one key set per historical delete. `CALL system.rewrite_dvs`
    // consolidates — each file ends up referenced by at most one marker
    // per key column (union key parquets staged; data files untouched, so
    // cost ∝ deleted keys) — and the scan must answer IDENTICALLY before
    // and after. Grouping is by exact marker signature: keys re-inserted
    // after their delete stay live.
    "q_rewrite_dvs" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_rdv_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_rd",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rd.root", root)
      s.sql("""CREATE TABLE graft_rd.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('delete.mode' = 'mor')""")
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r13_rdv_src")
      s.sql("INSERT INTO graft_rd.default.ord SELECT * FROM r13_rdv_src")
      // three MOR deletes = three markers over overlapping file sets
      s.sql("""DELETE FROM graft_rd.default.ord
        WHERE o_orderkey IN (1, 2, 3, 32, 33)""")
      s.sql("""DELETE FROM graft_rd.default.ord
        WHERE o_orderkey IN (4, 5, 64, 65)""")
      s.sql("""DELETE FROM graft_rd.default.ord
        WHERE o_orderkey IN (6, 7, 96, 97)""")
      s.sql("CALL graft_rd.system.rewrite_dvs(table => 'ord')")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(o_orderkey) AS mn
        FROM graft_rd.default.ord""")
    }),
    // Governance policies IN the table metadata: a row filter (drop
    // 'error' events) and column masks (user_id generalized to a 100-way
    // cohort — the k-anonymity move; value coarsened to whole units)
    // publish as #policy markers that travel WITH the snapshot through
    // every lifecycle op; readGoverned enforces them. Oracle restates the
    // same expressions over the base table — governance must be exactly
    // the declared transformation, nothing more or less.
    "q_governed_read" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_governed_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/ev"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.sources.ManifestTable.merge(s, tbl, ev, Seq("event_id"))
      graft.sources.ManifestTable.setPolicy(tbl,
        masks = Map("user_id" -> "pmod(user_id, 100)",
          "value" -> "round(value, 0)"),
        rowFilter = Some("event_type <> 'error'"))
      // round 13: governance COMPOSES with merge-on-read — a right-to-be-
      // forgotten MOR delete (one doomed-key parquet + a #dv marker,
      // nothing rewritten) on the governed table, then the SQL catalog
      // scan drops dv-doomed rows BEFORE the policy filter/masks run.
      graft.sources.ManifestTable.deleteKeysMOR(s, tbl, "event_id",
        keys = (1L to 40L))
      s.conf.set("spark.sql.catalog.graft_gv",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_gv.root", root)
      s.sql("""SELECT event_type, user_id, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM graft_gv.default.ev GROUP BY event_type, user_id""")
    }),
    // Manifest tables as FIRST-CLASS SQL OBJECTS (sources.GraftCatalog, a
    // DSv2 TableCatalog): half the table loads via the library API, the
    // other half arrives through a SQL `INSERT INTO` (the V1 write bridge
    // staging + ONE atomic CAS append), and the aggregate is answered by
    // `SELECT ... FROM graft.default.<t>` through the catalog's
    // snapshot-pinned, column-pruned parquet-mr scan. Oracle = the same
    // aggregate over the full base table: catalog plumbing must never
    // change the answer.
    "q_sql_catalog" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlcat_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
      graft.sources.ManifestTable.merge(s, tbl,
        li.filter(col("l_orderkey") % 2 === 0),
        Seq("l_orderkey", "l_linenumber", "l_suppkey"))
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", root)
      li.filter(col("l_orderkey") % 2 === 1).createOrReplaceTempView("li_odd")
      s.sql("INSERT INTO graft.default.li SELECT * FROM li_odd")
      s.sql("""SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft.default.li GROUP BY l_returnflag""")
    }),
    // METADATA TABLES through the catalog: `t$history` serves one row per
    // committed version (kind, file count, exact recorded row count) from
    // manifest metadata alone — zero data I/O, the DESCRIBE HISTORY
    // staple as a queryable relation. The layout is made deterministic
    // (explicit repartition before staging) so the oracle can restate the
    // exact expected history over the base table.
    "q_sql_history" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlhist_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
      val even = graft.sources.ManifestTable.stageWithStats(s, tbl,
        li.filter(col("l_orderkey") % 2 === 0).repartition(4), Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, even, -1)) // v0: 4 files
      val odd = graft.sources.ManifestTable.stageWithStats(s, tbl,
        li.filter(col("l_orderkey") % 2 === 1).repartition(4), Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl,
        graft.sources.ManifestTable.listLines(tbl, 0) ++ odd, 0)) // v1: 8 files
      s.conf.set("spark.sql.catalog.graft_hist",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_hist.root", root)
      s.sql("SELECT version, kind, n_files, n_rows FROM graft_hist.default.`li$history`")
    }),
    // SQL UPDATE — the row-level statement the key-membership DELETE fast
    // path cannot express — executes as GROUP-BASED COPY-ON-WRITE through
    // SupportsRowLevelOperations: Spark rewrites the statement into a
    // ReplaceData plan over the pinned snapshot; tasks stage replacement
    // parquet straight into data/ (orphans until commit — the V2
    // distributed write path) and ONE mutate CAS publishes against the
    // scanned version, failing explicitly on a concurrent commit. Oracle
    // = q_manifest_update's CASE restatement: statement path ≡ API path.
    "q_sql_update" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlrl_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li_upd"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, li, statsCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      s.conf.set("spark.sql.catalog.graft_rl",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rl.root", root)
      s.sql("""UPDATE graft_rl.default.li_upd
        SET l_quantity = l_quantity + 100.0
        WHERE l_orderkey IN (101, 777, 1402)""")
      s.sql("""SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_rl.default.li_upd GROUP BY l_returnflag""")
    }),
    // SQL MERGE INTO (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) over
    // the same row-level machinery: the upsert every warehouse ships,
    // executed as one snapshot-pinned copy-on-write replacement. The
    // source holds the doomed orders' rows with quantity bumped, so the
    // oracle is the same CASE restatement as the MOR upsert — three
    // implementations (MOR API, CoW API, MERGE statement) must agree.
    "q_sql_merge" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlrl_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li_mrg"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, li, statsCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      s.conf.set("spark.sql.catalog.graft_rl",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rl.root", root)
      li.filter(col("l_orderkey").isin(101L, 777L, 1402L))
        .withColumn("l_quantity", col("l_quantity") + lit(100.0))
        .createOrReplaceTempView("li_merge_batch")
      s.sql("""MERGE INTO graft_rl.default.li_mrg t
        USING li_merge_batch b
        ON t.l_orderkey = b.l_orderkey AND t.l_linenumber = b.l_linenumber
           AND t.l_suppkey = b.l_suppkey
        WHEN MATCHED THEN UPDATE SET l_quantity = b.l_quantity
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql("""SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_rl.default.li_mrg GROUP BY l_returnflag""")
    }),
    // DECIMAL through the catalog's full DML loop: money columns staged as
    // DECIMAL(18,2) WITH decimal footer stats, a row-level SQL UPDATE that
    // reads them back through the manifest parquet reader and rewrites
    // them through the V2 writer's INT64-decimal encoding, then the final
    // aggregate served by the catalog scan. Exact decimal arithmetic end
    // to end; the only DOUBLE is the final hash-stable output cast.
    // Ref: NUMBER fact columns, /root/reference/dags/etl_spark_historical.py:50-61.
    "q_sql_decimal_update" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqldec_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li_dec"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_extendedprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price"))
        .repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, li, statsCols = Seq("l_orderkey", "price"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      s.conf.set("spark.sql.catalog.graft_dec",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dec.root", root)
      s.sql("""UPDATE graft_dec.default.li_dec
        SET price = price + 10.00 WHERE l_orderkey % 10 = 0""")
      s.sql("""SELECT l_returnflag, count(*) AS n,
        CAST(sum(price) AS DOUBLE) AS sum_price
        FROM graft_dec.default.li_dec GROUP BY l_returnflag""")
    }),
    // ARRAY columns as first-class catalog citizens: the embeddings table
    // staged into a manifest table, rewritten THROUGH the V2 writer by a
    // row-level UPDATE (arrays round-trip the standard 3-level LIST
    // encoding on BOTH paths, not just the read), and served back by the
    // catalog's pruning parquet reader. Aggregates use only exact
    // arithmetic — counts, integer sums, float extrema — so the oracle
    // hashes identically with no float-summation-order exposure.
    "q_catalog_embeddings" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_emb_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/emb"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val staged = graft.sources.ManifestTable.stage(s, tbl, emb)
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      s.conf.set("spark.sql.catalog.graft_emb",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_emb.root", root)
      s.sql("UPDATE graft_emb.default.emb SET label = label + 1 WHERE vec_id >= 0")
      s.sql("""SELECT count(*) AS n_vecs,
        CAST(sum(size(embedding)) AS BIGINT) AS total_dims,
        CAST(min(embedding[0]) AS DOUBLE) AS min_e0,
        CAST(max(embedding[0]) AS DOUBLE) AS max_e0,
        CAST(sum(label) AS BIGINT) AS sum_label
        FROM graft_emb.default.emb""")
    }),
    // `CREATE TABLE … PARTITIONED BY (yr)` through the catalog: identity
    // partitioning as a WRITE-CLUSTERING declaration — the insert range-
    // clusters on the partition column and records per-file stats, so a
    // partition predicate prunes files through the EXISTING stats pruning
    // (no directory layout, no new read machinery; monthly-partitioned
    // convention ref: /root/reference/dags/etl_spark_historical.py:113-143).
    // Pruning is spec-asserted (Round11Spec); the oracle pins the answer.
    "q_sql_partitioned" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlpart_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord") // fresh per run
      s.conf.set("spark.sql.catalog.graft_pt",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_pt.root", root)
      s.sql("""CREATE TABLE graft_pt.default.ord
        (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)
        PARTITIONED BY (yr)""")
      Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
        .createOrReplaceTempView("r11_part_src")
      s.sql("INSERT INTO graft_pt.default.ord SELECT * FROM r11_part_src")
      s.sql("""SELECT yr, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_pt.default.ord WHERE yr IN (1996, 1999) GROUP BY yr""")
    }),
    // Filtered `INSERT OVERWRITE … PARTITION (yr = …)` — the monthly
    // reload the reference's ETL runs (etl_spark_historical.py:113-143):
    // SupportsOverwrite deletes exactly the matching rows (files the
    // stats refute keep their manifest lines verbatim; spec-asserted) and
    // lands the replacement batch in the SAME mutate CAS. Other
    // partitions' data never moves. The oracle restates the reload as a
    // CASE over the base table.
    "q_sql_overwrite" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlow_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord") // fresh per run
      s.conf.set("spark.sql.catalog.graft_ow",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_ow.root", root)
      s.sql("""CREATE TABLE graft_ow.default.ord
        (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)
        PARTITIONED BY (yr)""")
      Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
        .createOrReplaceTempView("r11_ow_src")
      s.sql("INSERT INTO graft_ow.default.ord SELECT * FROM r11_ow_src")
      s.sql("""INSERT OVERWRITE graft_ow.default.ord PARTITION (yr = 1996)
        SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
        FROM r11_ow_src WHERE yr = 1996""")
      s.sql("""SELECT yr, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_ow.default.ord GROUP BY yr""")
    }),
    // DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`): the
    // replaced partition set is discovered FROM the incoming batch — the
    // Hive dynamic contract, the idempotent re-run shape of a backfill
    // job ("recompute whatever months this run produced"). Same filtered
    // delete machinery as the static form; bystander partitions' files
    // carry verbatim.
    "q_sql_overwrite_dynamic" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqldow_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord") // fresh per run
      s.conf.set("spark.sql.catalog.graft_dow",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dow.root", root)
      s.sql("""CREATE TABLE graft_dow.default.ord
        (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)
        PARTITIONED BY (yr)""")
      Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
        .createOrReplaceTempView("r11_dow_src")
      s.sql("INSERT INTO graft_dow.default.ord SELECT * FROM r11_dow_src")
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try
        s.sql("""INSERT OVERWRITE graft_dow.default.ord
          SELECT o_orderkey, yr, o_totalprice + 500.0 AS o_totalprice
          FROM r11_dow_src WHERE yr IN (1996, 1999)""")
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.sql("""SELECT yr, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_dow.default.ord GROUP BY yr""")
    }),
    // STORAGE-PARTITIONED JOIN: both tables declared
    // `PARTITIONED BY (bucket(8, custkey))`, so their files are
    // co-bucketed on the join key and the scan reports
    // KeyGroupedPartitioning — the join aligns bucket ids and runs with
    // ZERO shuffle on either side (spec-asserted). At 100 TB this is the
    // canonical fact⨝fact co-location play: neither table moves.
    "q_spj_join" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_spj_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      graft.sources.ManifestTable.destroy(s"$root/cust")
      s.conf.set("spark.sql.catalog.graft_sp",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_sp.root", root)
      // Spark's own opt-ins for key-grouped (storage-partitioned) joins;
      // they only affect scans that report a partitioning, so leaving
      // them on is safe session-wide
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql("""CREATE TABLE graft_sp.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(8, o_custkey))""")
      s.sql("""CREATE TABLE graft_sp.default.cust
        (c_custkey BIGINT, c_nationkey BIGINT, c_acctbal DOUBLE)
        PARTITIONED BY (bucket(8, c_custkey))""")
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_spj_ord_src")
      Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal")
        .createOrReplaceTempView("r11_spj_cust_src")
      s.sql("INSERT INTO graft_sp.default.ord SELECT * FROM r11_spj_ord_src")
      s.sql("INSERT INTO graft_sp.default.cust SELECT * FROM r11_spj_cust_src")
      s.sql("""SELECT c.c_nationkey, count(*) AS n_ord,
        CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_sp.default.ord o JOIN graft_sp.default.cust c
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey""")
    }),
    // SQL MAINTENANCE PROCEDURES: DML then `CALL optimize` + `CALL
    // vacuum` — compaction and file GC run as statements, and the
    // aggregate after them must equal the plain-SQL answer (maintenance
    // touches layout, never content). At 100 TB these are the nightly
    // ops that keep a streaming-ingested table scannable.
    "q_sql_maintenance" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_mx_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_mx",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_mx.root", root)
      s.sql("""CREATE TABLE graft_mx.default.ord
        (o_orderkey BIGINT, o_orderdate DATE, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_totalprice")
        .createOrReplaceTempView("r11_mx_ord_src")
      s.sql("INSERT INTO graft_mx.default.ord SELECT * FROM r11_mx_ord_src")
      s.sql("DELETE FROM graft_mx.default.ord WHERE o_orderkey % 10 = 0")
      s.sql("CALL graft_mx.system.optimize(table => 'ord', num_files => 4)")
      s.sql("CALL graft_mx.system.vacuum(table => 'ord', keep_versions => 1)")
      s.sql("""SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_mx.default.ord GROUP BY yr""")
    }),
    // RUNTIME (dynamic) FILE PRUNING: the fact table is bucketed on the
    // join key; the dim filter is on a NON-join column, so nothing can
    // prune statically — at execution Spark collects the broadcast dim's
    // keys and hands them to the scan (SupportsRuntimeV2Filtering), which
    // drops every fact file whose bucket id / bloom / range refutes all
    // of them. The 100 TB fact⨝dim play: a 2%-selective dimension skips
    // ~98% of a bucketed fact's files with zero static predicates.
    "q_runtime_prune" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_rf_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/fact")
      s.conf.set("spark.sql.catalog.graft_rf",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_rf.root", root)
      s.sql("""CREATE TABLE graft_rf.default.fact
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(16, o_custkey))""")
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_rf_ord_src")
      s.sql("INSERT INTO graft_rf.default.fact SELECT * FROM r11_rf_ord_src")
      Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .createOrReplaceTempView("r11_rf_cust_src")
      s.sql("""SELECT c.c_nationkey, count(*) AS n_ord,
        CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_rf.default.fact o JOIN r11_rf_cust_src c
          ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey IN (1, 3)
        GROUP BY c.c_nationkey""")
    }),
    // SORTED STORAGE-PARTITIONED JOIN: both tables declare a write-order
    // on the join key (`graft.write.sort`), so each bucket file is
    // sorted at insert time and the scan reports the ordering — the
    // sort-merge join runs with ZERO shuffles AND ZERO sorts
    // (spec-asserted). At 100 TB this is the fully-amortized fact⨝fact
    // plan: cluster and sort once at write, every subsequent join is a
    // streaming merge of co-located runs.
    "q_sorted_join" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sj_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      graft.sources.ManifestTable.destroy(s"$root/cust")
      s.conf.set("spark.sql.catalog.graft_sj",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_sj.root", root)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      s.sql("""CREATE TABLE graft_sj.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(8, o_custkey))
        TBLPROPERTIES ('graft.write.sort' = 'o_custkey')""")
      s.sql("""CREATE TABLE graft_sj.default.cust
        (c_custkey BIGINT, c_mktsegment STRING)
        PARTITIONED BY (bucket(8, c_custkey))
        TBLPROPERTIES ('graft.write.sort' = 'c_custkey')""")
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r11_sj_ord_src")
      Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .createOrReplaceTempView("r11_sj_cust_src")
      s.sql("INSERT INTO graft_sj.default.ord SELECT * FROM r11_sj_ord_src")
      s.sql("INSERT INTO graft_sj.default.cust SELECT * FROM r11_sj_cust_src")
      s.sql("""SELECT c.c_mktsegment, count(*) AS n_ord,
        CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_sj.default.ord o JOIN graft_sj.default.cust c
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment""")
    }),
    // The CHANGE DATA FEED as SQL: `t$changes` serves one row per
    // inserted/deleted row per commit with `_change_type` and
    // `_commit_version` — the incremental-sync surface (downstream
    // aggregates, search indexes, training-corpus refresh) reads ONLY
    // what changed, cost ∝ changed data. The history here is exactly
    // reconstructible by the oracle: v1 inserts evens, v2 inserts odds,
    // v3 = whole-table INSERT OVERWRITE (delete-all + reinsert of the
    // 1997-excluded rows).
    "q_sql_changes" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_chg_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_ch",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_ch.root", root)
      s.sql("""CREATE TABLE graft_ch.default.ord
        (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
        .createOrReplaceTempView("r11_chg_src")
      s.sql("""INSERT INTO graft_ch.default.ord
        SELECT * FROM r11_chg_src WHERE o_orderkey % 2 = 0""")
      s.sql("""INSERT INTO graft_ch.default.ord
        SELECT * FROM r11_chg_src WHERE o_orderkey % 2 = 1""")
      s.sql("""INSERT OVERWRITE graft_ch.default.ord
        SELECT * FROM r11_chg_src WHERE yr <> 1997""")
      s.sql("""SELECT _change_type, _commit_version, yr, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_ch.default.`ord$changes`
        GROUP BY _change_type, _commit_version, yr""")
    }),
    // The change feed CROSSING merge-on-read deletes (round 13): a MOR
    // DELETE commit rewrites nothing — it publishes one doomed-key
    // parquet + a #dv marker — yet the feed emits exactly the newly-
    // doomed live rows as `delete` rows (cost ∝ targeted files, zero
    // table rewrite), and a later whole-table overwrite emits only the
    // rows LIVE at its predecessor (prior deletion vectors applied — a
    // doomed row must never re-emit as a delete). Pre-r13 any #dv in the
    // version range refused the feed and forced a compaction.
    "q_changes_mor" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_chmor_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_cm",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cm.root", root)
      s.sql("""CREATE TABLE graft_cm.default.ord
        (o_orderkey BIGINT, yr INT, o_totalprice DOUBLE)
        TBLPROPERTIES ('delete.mode' = 'mor')""")
      Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast("int").as("yr"), col("o_totalprice"))
        .createOrReplaceTempView("r13_chm_src")
      s.sql("""INSERT INTO graft_cm.default.ord
        SELECT * FROM r13_chm_src WHERE o_orderkey % 2 = 0""")
      s.sql("""INSERT INTO graft_cm.default.ord
        SELECT * FROM r13_chm_src WHERE o_orderkey % 2 = 1""")
      // v3: the MOR delete — one #dv commit, no file rewritten
      s.sql("""DELETE FROM graft_cm.default.ord WHERE o_orderkey IN
        (1, 2, 3, 4, 5, 6, 7, 32, 33, 34, 35, 36, 37, 38, 39, 64, 65, 66,
         67, 68, 69, 70, 96, 97, 98, 99, 100, 101, 102, 103)""")
      // v4: whole-table overwrite — its `delete` rows are the LIVE rows
      // of v3 (deletion vectors applied in flight by the feed's readers)
      s.sql("""INSERT OVERWRITE graft_cm.default.ord
        SELECT * FROM r13_chm_src WHERE yr <> 1997""")
      s.sql("""SELECT _change_type, _commit_version, yr, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_cm.default.`ord$changes`
        GROUP BY _change_type, _commit_version, yr""")
    }),
    // Atomic CTAS + RTAS through the staging catalog
    // (`StagingTableCatalog`): `CREATE TABLE … AS SELECT` materializes
    // the query into a hidden staging directory and publishes with ONE
    // atomic move — a failed query leaves no half-created table — then
    // `REPLACE TABLE … AS SELECT` swaps new content in as a mutate CAS
    // that keeps the old version time-travelable. The round-trip is the
    // everyday "rebuild the summary table" job done safely.
    "q_sql_ctas" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_ctas_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/summ")
      s.conf.set("spark.sql.catalog.graft_ct",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_ct.root", root)
      Tables.orders(s, d).createOrReplaceTempView("r11_ctas_src")
      s.sql("""CREATE TABLE graft_ct.default.summ AS
        SELECT o_orderstatus, count(*) AS n
        FROM r11_ctas_src GROUP BY o_orderstatus""")
      s.sql("""REPLACE TABLE graft_ct.default.summ AS
        SELECT o_orderstatus, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM r11_ctas_src GROUP BY o_orderstatus""")
      s.sql("""SELECT o_orderstatus, n, sum_price
        FROM graft_ct.default.summ""")
    }),
    // CLUSTER BY as a SQL surface: the liquid-style clustering
    // declaration — inserts range-cluster on the declared column, so
    // the range predicate below prunes to a handful of files (spec-
    // asserted on envelopes); no partition identity is promised.
    "q_sql_cluster" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_clu_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/li")
      s.conf.set("spark.sql.catalog.graft_cb",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cb.root", root)
      s.sql("""CREATE TABLE graft_cb.default.li
        (l_orderkey BIGINT, l_quantity DOUBLE) CLUSTER BY (l_orderkey)""")
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .createOrReplaceTempView("r11_clu_src")
      s.sql("INSERT INTO graft_cb.default.li SELECT * FROM r11_clu_src")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_cb.default.li
        WHERE l_orderkey BETWEEN 1000 AND 2000""")
    }),
    // GENERATED COLUMNS as hidden partitioning: the table declares
    // `yr INT GENERATED ALWAYS AS (year(d))` and partitions by it — the
    // user inserts dates, the engine computes and clusters by the
    // derived value at write, and the roll-up groups by a column nobody
    // ever supplied. The Iceberg partition-transform ergonomic with an
    // explicit (queryable) column.
    "q_sql_generated" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_gen_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_gn",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_gn.root", root)
      s.sql("""CREATE TABLE graft_gn.default.ord
        (d DATE, v DOUBLE, yr INT GENERATED ALWAYS AS (year(d)))
        PARTITIONED BY (yr)""")
      Tables.orders(s, d).select(col("o_orderdate").as("d"),
          col("o_totalprice").as("v"), lit(null).cast("int").as("yr"))
        .createOrReplaceTempView("r11_gen_q_src")
      s.sql("INSERT INTO graft_gn.default.ord SELECT * FROM r11_gen_q_src")
      // row-level DML RECOMPUTES the generated value: shifting d by 400
      // days rolls some rows into the next year, and the delta writer
      // re-derives yr = year(d) on every re-inserted row — the roll-up
      // below only matches the oracle if the derivation followed the
      // UPDATE (a stale yr would leave the 1995 counts untouched)
      s.sql("""UPDATE graft_gn.default.ord SET d = date_add(d, 400)
        WHERE year(d) = 1995""")
      // round 14: renaming the generation SOURCE column rewrites the
      // expression (yr = year(d) → year(odate)) instead of refusing, and
      // recompute keeps working — the inserted 1992 duplicate slice only
      // lands in the right yr partition if the rewritten expression
      // derives from the renamed column
      s.sql("ALTER TABLE graft_gn.default.ord RENAME COLUMN d TO odate")
      s.sql("""INSERT INTO graft_gn.default.ord
        SELECT d AS odate, v * 2 AS v, CAST(null AS INT) AS yr
        FROM r11_gen_q_src WHERE year(d) = 1992""")
      s.sql("""SELECT yr, count(*) AS n,
        CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        FROM graft_gn.default.ord GROUP BY yr""")
    }),
    // SNAPSHOT TAGS: `CALL graft.system.tag(table, name)` names the
    // current version; `VERSION AS OF '<name>'` time-travels to it by
    // name — the reproducible handle a training run records ("corpus
    // gold_v1") instead of a raw version number that means nothing in a
    // lab notebook. The tag rides table properties, so it survives
    // every later commit and travels with clones/restores.
    "q_sql_tag" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_tag_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_tg",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_tg.root", root)
      s.sql("""CREATE TABLE graft_tg.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r11_tag_src")
      s.sql("""INSERT INTO graft_tg.default.ord
        SELECT * FROM r11_tag_src WHERE o_orderkey % 2 = 0""")
      s.sql("CALL graft_tg.system.tag(table => 'ord', name => 'baseline')")
      s.sql("""INSERT INTO graft_tg.default.ord
        SELECT * FROM r11_tag_src WHERE o_orderkey % 2 = 1""")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_tg.default.ord VERSION AS OF 'baseline'""")
    }),
    // `t$partitions` — the per-partition inventory (files, rows, bytes)
    // served from the manifest at metadata cost, like Iceberg's
    // `partitions` table: identity values resolve through value-pure
    // file envelopes, buckets through recorded ids. The operator view
    // before a backfill targets a partition or a skew hunt starts.
    "q_sql_partitions" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_parts_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_pi",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_pi.root", root)
      s.sql("""CREATE TABLE graft_pi.default.ord
        (yr INT, o_orderkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (yr)""")
      Tables.orders(s, d).select(
          year(col("o_orderdate")).cast("int").as("yr"),
          col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r11_pt_src")
      insertPerYear(s, "r11_pt_src", "graft_pi.default.ord")
      s.sql("""SELECT partition AS part, n_rows
        FROM graft_pi.default.`ord$partitions`""")
    }),
    // GROUP BY aggregate pushdown: a table staged one-partition-per-
    // commit has VALUE-PURE files on the partition column (recorded
    // min == max), so `GROUP BY yr` COUNT/MIN/MAX is answered from the
    // manifest alone — one metadata row per file fragment, Spark's
    // final aggregation merges them, ZERO data files read (plan-
    // asserted in Round11Spec). At 100 TB this is the monthly roll-up
    // a warehouse answers in milliseconds. The per-year staging loop is
    // driver-side but bounded (orders span ≤ 8 years).
    "q_metadata_group_agg" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_gagg_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_ga",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_ga.root", root)
      s.sql("""CREATE TABLE graft_ga.default.ord
        (yr INT, o_orderkey BIGINT, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select(
          year(col("o_orderdate")).cast("int").as("yr"),
          col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r11_ga_src")
      insertPerYear(s, "r11_ga_src", "graft_ga.default.ord")
      s.sql("""SELECT yr, count(*) AS n, min(o_orderkey) AS mn,
        max(o_totalprice) AS mx
        FROM graft_ga.default.ord GROUP BY yr""")
    }),
    // EXACT filter pushdown: the WHERE below is provably whole-file
    // (value-pure yr per commit, zero recorded nulls), so it vanishes
    // from the plan and the FILTERED aggregate is metadata-served —
    // count/min/max over one partition of a 100 TB table with zero data
    // I/O (Round11Spec asserts the plan; this query pins the answer).
    "q_metadata_filtered_agg" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_fagg_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_fa",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_fa.root", root)
      s.sql("""CREATE TABLE graft_fa.default.ord
        (yr INT, o_orderkey BIGINT, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select(
          year(col("o_orderdate")).cast("int").as("yr"),
          col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r11_fa_src")
      insertPerYear(s, "r11_fa_src", "graft_fa.default.ord")
      s.sql("""SELECT count(*) AS n, min(o_orderkey) AS mn,
        max(o_totalprice) AS mx
        FROM graft_fa.default.ord WHERE yr = 1997""")
    }),
    // SUM pushdown from metadata: columns declared in `graft.write.sum`
    // record a per-file EXACT decimal sum at insert (one extra agg in the
    // staging pass that already builds blooms/NDV sketches), and the scan
    // serves SUM — global, filtered, or grouped over value-pure files —
    // by adding the recorded partials: a 100 TB revenue roll-up with zero
    // data I/O. AVG rides for free (Spark rewrites it to SUM/COUNT for
    // partial pushdown). Integral/decimal columns only — float sums are
    // order-dependent — and any sum-less file declines to the scan.
    "q_metadata_sum" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sagg_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_su",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_su.root", root)
      s.sql("""CREATE TABLE graft_su.default.ord
        (yr INT, o_orderkey BIGINT, price DECIMAL(18,2))
        TBLPROPERTIES ('graft.write.sum' = 'price,o_orderkey')""")
      Tables.orders(s, d).select(
          year(col("o_orderdate")).cast("int").as("yr"),
          col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .createOrReplaceTempView("r12_su_src")
      insertPerYear(s, "r12_su_src", "graft_su.default.ord")
      s.sql("""SELECT yr, count(*) AS n, CAST(sum(price) AS DOUBLE) AS sum_price,
        sum(o_orderkey) AS sum_k
        FROM graft_su.default.ord GROUP BY yr""")
    }),
    // WRITABLE BRANCHES — write-audit-publish over MULTI-COMMIT candidate
    // lines: `CALL system.branch` cuts a branch at the current version,
    // `t@wap` addresses it with the full SQL surface (here: a second
    // insert lands on the branch while main still serves the first), and
    // `CALL system.fastforward` publishes the audited line back to main
    // in one CAS'd commit — refusing if main moved since the cut. The
    // pipeline pattern: land a day's ingest on a branch, run quality
    // audits THERE, publish only when green; a 100 TB publish is pure
    // metadata + file renames, zero data copy.
    // PERSISTENT SQL VIEWS (round 15): the saved-query tier — the
    // reference keeps its analyst verification queries as readme text
    // (/root/reference/readme.md:149-187); here they become named catalog
    // objects. `CALL system.create_view` validates by analysis and
    // persists one atomic JSON document; a fully-qualified SELECT then
    // resolves THROUGH the view via the GraftExtensions analyzer rule
    // (OSS Spark 4.1 has the v2 ViewCatalog SPI — implemented too — but
    // no SQL routing to it, so reads go through the extension rule,
    // Iceberg's shape). The view's column set pins at creation; dropping
    // a base column makes it refuse, never silently change shape.
    "q_sql_view" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_vwq_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_vw",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_vw.root", root)
      s.sql("""CREATE TABLE graft_vw.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .createOrReplaceTempView("r15_vw_src")
      s.sql("INSERT INTO graft_vw.default.ord SELECT * FROM r15_vw_src")
      s.sql("""CALL graft_vw.system.create_view(name => 'big_orders',
        sql => 'SELECT o_orderkey, o_custkey, o_totalprice
                FROM graft_vw.default.ord WHERE o_totalprice > 150000.0',
        replace => true)""")
      s.sql("""SELECT count(*) AS n,
        count(DISTINCT o_custkey) AS n_cust,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_vw.default.big_orders""")
    }),
    // SQL VIEW DDL ROUTING (round 16): plain `CREATE [OR REPLACE] VIEW` /
    // `SHOW VIEWS` / `DROP VIEW` statements against the graft catalog —
    // the surface OSS Spark 4.1 refuses (ResolveSessionCatalog throws
    // MISSING_CATALOG_ABILITY for v2 view DDL even against a ViewCatalog
    // implementation) — intercepted at parse time by GraftSqlParser and
    // routed to the same validated create path as CALL create_view. The
    // lifecycle here: CREATE, verify SHOW VIEWS lists it, REPLACE with a
    // narrower predicate, read through the analyzer substitution rule.
    "q_sql_view_ddl" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_vddl_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_vdl",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_vdl.root", root)
      s.sql("DROP TABLE IF EXISTS graft_vdl.default.ord")
      s.sql("""CREATE TABLE graft_vdl.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r16_vddl_src")
      s.sql("INSERT INTO graft_vdl.default.ord SELECT * FROM r16_vddl_src")
      s.sql("DROP VIEW IF EXISTS graft_vdl.default.cheap_orders")
      s.sql("DROP VIEW IF EXISTS graft_vdl.default.bargain_orders")
      s.sql("DROP VIEW IF EXISTS graft_vdl.default.named_cols")
      s.sql("""CREATE VIEW graft_vdl.default.cheap_orders AS
        SELECT o_orderkey, o_totalprice FROM graft_vdl.default.ord
        WHERE o_totalprice < 100000.0""")
      require(s.sql("SHOW VIEWS IN graft_vdl.default").collect()
        .exists(_.getString(1) == "cheap_orders"),
        "SHOW VIEWS must list the view CREATE VIEW just persisted")
      s.sql("""CREATE OR REPLACE VIEW graft_vdl.default.cheap_orders AS
        SELECT o_orderkey, o_totalprice FROM graft_vdl.default.ord
        WHERE o_totalprice < 50000.0""")
      // ROUND 17 — the rest of the lifecycle, all plain SQL statements:
      // property DDL round-trips through SHOW CREATE TABLE …
      s.sql("""ALTER VIEW graft_vdl.default.cheap_orders
        SET TBLPROPERTIES ('team' = 'analytics')""")
      val ddl = s.sql("SHOW CREATE TABLE graft_vdl.default.cheap_orders")
        .head().getString(0)
      require(ddl.contains("CREATE VIEW") && ddl.contains("team") &&
        ddl.contains("o_totalprice < 50000.0"),
        s"SHOW CREATE TABLE must reconstruct the view DDL, got: $ddl")
      s.sql("""ALTER VIEW graft_vdl.default.cheap_orders
        UNSET TBLPROPERTIES ('team')""")
      // … DESCRIBE serves the pinned analysis-time columns …
      val desc = s.sql("DESCRIBE graft_vdl.default.cheap_orders").collect()
      require(desc.map(_.getString(0)).toSeq ==
        Seq("o_orderkey", "o_totalprice"),
        s"DESCRIBE must list the pinned view columns, got: ${desc.toSeq}")
      // … RENAME keeps the definition addressable under the new name …
      s.sql("""ALTER VIEW graft_vdl.default.cheap_orders
        RENAME TO bargain_orders""")
      // … a column list aliases positionally into the stored body …
      s.sql("""CREATE VIEW graft_vdl.default.named_cols (ok, price) AS
        SELECT o_orderkey, o_totalprice FROM graft_vdl.default.ord
        WHERE o_totalprice < 25000.0""")
      // … and ALTER VIEW AS redefines the body in place (same predicate
      // re-stated, so the oracle stays the REPLACE'd definition)
      s.sql("""ALTER VIEW graft_vdl.default.bargain_orders AS
        SELECT o_orderkey, o_totalprice FROM graft_vdl.default.ord
        WHERE o_totalprice < 50000.0""")
      s.sql("""SELECT
        (SELECT count(*) FROM graft_vdl.default.bargain_orders) AS n,
        CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FROM graft_vdl.default.bargain_orders) AS DOUBLE) AS sum_price,
        (SELECT count(*) FROM graft_vdl.default.named_cols) AS n2,
        CAST((SELECT sum(CAST(price AS DECIMAL(18,2)))
          FROM graft_vdl.default.named_cols) AS DOUBLE) AS sum_price2""")
    }),
    // WRITE-AUDIT-PUBLISH with ROW-LEVEL DML (round 15): a GDPR-style
    // erasure stages on a branch as a positional DELETE (zero data-file
    // rewrites), the audit runs on the branch, and the publish CARRIES
    // the deletion-vector marker into main — no compaction anywhere.
    // Possible because marker targets follow the manifest-name
    // convention and positions key by move-invariant basenames, so the
    // publish folds them exactly like data lines.
    "q_wap_dml" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_wapd_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_wd",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_wd.root", root)
      s.sql("""CREATE TABLE graft_wd.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r15_wapd_src")
      s.sql("INSERT INTO graft_wd.default.ord SELECT * FROM r15_wapd_src")
      s.sql("CALL graft_wd.system.branch(table => 'ord', name => 'audit')")
      s.sql("""DELETE FROM graft_wd.default.`ord@audit`
        WHERE o_totalprice < 50000.0""")
      s.sql("""INSERT INTO graft_wd.default.`ord@audit`
        SELECT o_orderkey + 10000000, o_totalprice FROM r15_wapd_src
        WHERE o_orderkey % 500 = 0""")
      // main still serves the pre-audit content …
      require(s.sql("SELECT count(*) FROM graft_wd.default.ord")
        .head().getLong(0) ==
        s.sql("SELECT count(*) FROM r15_wapd_src").head().getLong(0),
        "branch DML must stay invisible to main until the publish")
      // … until the audited snapshot publishes, marker and all
      s.sql("CALL graft_wd.system.fastforward(table => 'ord', name => 'audit')")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(o_orderkey) AS mn, max(o_orderkey) AS mx
        FROM graft_wd.default.ord""")
    }),
    // THREE-WAY BRANCH MERGE (round 16) — past fastforward's
    // diverged-main refusal: main advances with fresh ingest WHILE the
    // branch runs a GDPR-style positional erasure plus corrections, then
    // `CALL system.merge_branch` replays the branch's file-level delta
    // onto main's head in one CAS'd mutate commit. Safe exactly because
    // the two sides touched disjoint files: main only ADDED, the
    // branch's deletion vectors target only fork files — main's new rows
    // keep even their sub-threshold prices (the erasure was audited
    // against the fork snapshot, not against data it never saw). A
    // genuine overlap refuses with the conflict list (spec-pinned).
    "q_branch_merge" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_bmrg_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_bm",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_bm.root", root)
      s.sql("""CREATE TABLE graft_bm.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r16_bmrg_src")
      s.sql("INSERT INTO graft_bm.default.ord SELECT * FROM r16_bmrg_src")
      s.sql("CALL graft_bm.system.branch(table => 'ord', name => 'fix')")
      // main ADVANCES past the fork point (fresh ingest) …
      s.sql("""INSERT INTO graft_bm.default.ord
        SELECT o_orderkey + 20000000, o_totalprice FROM r16_bmrg_src
        WHERE o_orderkey % 700 = 0""")
      // … while the branch erases and corrects against the fork snapshot
      s.sql("""DELETE FROM graft_bm.default.`ord@fix`
        WHERE o_totalprice < 50000.0""")
      s.sql("""INSERT INTO graft_bm.default.`ord@fix`
        SELECT o_orderkey + 10000000, o_totalprice FROM r16_bmrg_src
        WHERE o_orderkey % 500 = 0""")
      s.sql("CALL graft_bm.system.merge_branch(table => 'ord', name => 'fix')")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(o_orderkey) AS mn, max(o_orderkey) AS mx
        FROM graft_bm.default.ord""")
    }),
    // ROW-LEVEL BRANCH-MERGE RECONCILIATION (round 17): both sides run
    // MOR DML against the SAME fork files — main erases high-price rows
    // while the branch erases low-price rows, each as positional
    // deletion-vector markers over the unchanged fork copies. The
    // file-level conflict rule alone would refuse (both sides targeted
    // every fork file); the row-level exception proves the two sides'
    // doomed bitmaps disjoint and publishes both markers together —
    // counts stay additive, so COUNT(*) stays metadata-served. A true
    // row overlap still refuses with the conflict list (Round17Spec).
    "q_branch_merge_rows" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_bmr_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_bmr",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_bmr.root", root)
      s.sql("""CREATE TABLE graft_bmr.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)
        TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r17_bmr_src")
      s.sql("INSERT INTO graft_bmr.default.ord SELECT * FROM r17_bmr_src")
      s.sql("CALL graft_bmr.system.branch(table => 'ord', name => 'erase')")
      // main dooms rows of the fork files AFTER the fork point …
      s.sql("DELETE FROM graft_bmr.default.ord WHERE o_totalprice > 200000.0")
      // … while the branch erases a DISJOINT row set of the SAME files
      s.sql("""DELETE FROM graft_bmr.default.`ord@erase`
        WHERE o_totalprice < 30000.0""")
      s.sql(
        "CALL graft_bmr.system.merge_branch(table => 'ord', name => 'erase')")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        min(o_orderkey) AS mn, max(o_orderkey) AS mx
        FROM graft_bmr.default.ord""")
    }),
    "q_sql_branch" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_brq_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ord")
      s.conf.set("spark.sql.catalog.graft_br",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_br.root", root)
      s.sql("""CREATE TABLE graft_br.default.ord
        (o_orderkey BIGINT, o_totalprice DOUBLE)""")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("r12_br_src")
      s.sql("""INSERT INTO graft_br.default.ord
        SELECT * FROM r12_br_src WHERE o_orderkey % 2 = 0""")
      s.sql("CALL graft_br.system.branch(table => 'ord', name => 'wap')")
      s.sql("""INSERT INTO graft_br.default.`ord@wap`
        SELECT * FROM r12_br_src WHERE o_orderkey % 2 = 1""")
      // the audit runs ON THE BRANCH; main is still the even half
      val audit = s.sql(
        "SELECT count(*) FROM graft_br.default.`ord@wap`").head().getLong(0)
      val mainN = s.sql(
        "SELECT count(*) FROM graft_br.default.ord").head().getLong(0)
      require(mainN < audit,
        s"branch writes must stay invisible to main ($mainN vs $audit)")
      s.sql("CALL graft_br.system.fastforward(table => 'ord', name => 'wap')")
      s.sql("""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_br.default.ord""")
    }),
    // HIDDEN time partitioning (`PARTITIONED BY (days(ts))` — the Iceberg
    // transform): the user declares the period once at CREATE, inserts
    // raw timestamps, and the engine range-clusters each batch on ts so
    // every file holds a tight period envelope. The read side needs NO
    // derived column: a WHERE on the raw ts prunes files through the
    // ordinary range stats (micros vs the footer's INT64 encoding) —
    // at 100 TB the three-day slice below reads three days of files, not
    // the table. Round12Spec pins kept < total on the plan.
    "q_time_partition" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_tpart_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ev")
      s.conf.set("spark.sql.catalog.graft_tp",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_tp.root", root)
      s.sql("""CREATE TABLE graft_tp.default.ev
        (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
         value DOUBLE)
        PARTITIONED BY (days(ts))""")
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .createOrReplaceTempView("r12_tp_src")
      s.sql("INSERT INTO graft_tp.default.ev SELECT * FROM r12_tp_src")
      s.sql("""SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM graft_tp.default.ev
        WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
          AND ts < TIMESTAMP'2024-01-13 00:00:00'
        GROUP BY event_type""")
    }),
    // SCHEMAS as first-class SQL objects (`SupportsNamespaces`): CREATE
    // SCHEMA (with comment), ALTER SCHEMA SET PROPERTIES, tables created
    // and addressed inside it — namespaces are marker-carrying
    // directories under the catalog root, so `graft.analytics.cust`
    // resolves exactly like a default-namespace table and the whole
    // warehouse keeps one layout. The lifecycle DDL (SHOW/DESCRIBE/DROP,
    // nested schemas, non-empty refusal) is spec-pinned; the oracle
    // checks that data routed through a named schema is untouched.
    "q_sql_namespaces" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_ns_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(root)
      s.conf.set("spark.sql.catalog.graft_ns",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_ns.root", root)
      s.sql("CREATE NAMESPACE graft_ns.analytics COMMENT 'curated marts'")
      s.sql("ALTER NAMESPACE graft_ns.analytics SET PROPERTIES ('team' = 'etl')")
      s.sql("""CREATE TABLE graft_ns.analytics.cust
        (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)""")
      Tables.customer(s, d).select("c_custkey", "c_mktsegment", "c_acctbal")
        .createOrReplaceTempView("r11_ns_src")
      s.sql("INSERT INTO graft_ns.analytics.cust SELECT * FROM r11_ns_src")
      s.sql("""SELECT c_mktsegment, count(*) AS n,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM graft_ns.analytics.cust GROUP BY c_mktsegment""")
    }),
    // Planning-time statistics served FROM THE MANIFEST
    // (`SupportsReportStatistics`): the 25-row nation table lands in the
    // catalog and the join against the customer base table BROADCASTS it
    // with no hint, because the scan reports its post-pruning
    // size/rowCount from recorded `__bytes`/`__rows` — on a real cluster
    // the difference between a map-side join and shuffling the fact
    // side. The spec asserts the executed plan chose BroadcastHashJoin
    // and that the reported row count is exact.
    "q_catalog_stats_join" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_stats_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/nat")
      s.conf.set("spark.sql.catalog.graft_cj",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cj.root", root)
      s.sql("""CREATE TABLE graft_cj.default.nat
        (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)""")
      Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        .createOrReplaceTempView("r11_stats_nat")
      s.sql("INSERT INTO graft_cj.default.nat SELECT * FROM r11_stats_nat")
      Tables.customer(s, d).createOrReplaceTempView("r11_stats_cust")
      s.sql("""SELECT n.n_name, count(*) AS n_cust,
        CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM r11_stats_cust c JOIN graft_cj.default.nat n
          ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name""")
    }),
    // `ALTER TABLE ADD COLUMN` — append-only schema evolution through the
    // catalog: the widened DECLARED schema becomes the read authority,
    // pre-addition files (immutable, never rewritten) serve the new
    // column as NULL straight from the manifest parquet reader, and
    // post-addition inserts carry real values. The oracle restates the
    // two generations over the base table — evolution must change
    // NOTHING about the rows, only widen the view.
    "q_sql_add_column" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqladd_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(s"$root/ev") // fresh per run
      s.conf.set("spark.sql.catalog.graft_ac",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_ac.root", root)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.filter(col("event_id") % 2 === 0).select("event_id", "event_type")
        .createOrReplaceTempView("r11_add_old")
      ev.filter(col("event_id") % 2 =!= 0)
        .withColumn("score", round(col("value"), 0))
        .select("event_id", "event_type", "score")
        .createOrReplaceTempView("r11_add_new")
      s.sql("CREATE TABLE graft_ac.default.ev (event_id BIGINT, event_type STRING)")
      s.sql("INSERT INTO graft_ac.default.ev SELECT * FROM r11_add_old")
      s.sql("ALTER TABLE graft_ac.default.ev ADD COLUMN score DOUBLE")
      s.sql("INSERT INTO graft_ac.default.ev SELECT * FROM r11_add_new")
      s.sql("""SELECT event_type, count(*) AS n, count(score) AS n_scored,
        CAST(sum(CAST(score AS DECIMAL(18,2))) AS DOUBLE) AS sum_score
        FROM graft_ac.default.ev GROUP BY event_type""")
    }),
    // SQL TIME TRAVEL: `VERSION AS OF 0` pins the catalog scan to the
    // first committed snapshot (the even-key half) while the current
    // snapshot holds everything — historical manifests and the immutable
    // files they list make every retained version exactly reconstructible
    // for free. Oracle = the even-key aggregate over the base table: the
    // pin must serve exactly the old snapshot, nothing newer.
    "q_sql_timetravel" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqltt_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
      val staged = graft.sources.ManifestTable.stage(
        s, tbl, li.filter(col("l_orderkey") % 2 === 0))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1)) // v0
      s.conf.set("spark.sql.catalog.graft_tt",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_tt.root", root)
      li.filter(col("l_orderkey") % 2 === 1).createOrReplaceTempView("li_tt_odd")
      s.sql("INSERT INTO graft_tt.default.li SELECT * FROM li_tt_odd") // v1
      s.sql("""SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_tt.default.li VERSION AS OF 0 GROUP BY l_returnflag""")
    }),
    // Governed reads THROUGH THE SQL CATALOG: the same #policy markers
    // q_governed_read enforces on the API path now govern plain
    // `SELECT … FROM graft_gov.default.t` — the scan itself applies the
    // row filter BEFORE the column masks, executor-side, from bound
    // Catalyst expressions resolved against the raw schema at planning.
    // SQL consumers are exactly who governance is for; the oracle is
    // q_governed_read's verbatim (the endpoint must not change the
    // declared transformation).
    "q_sql_governed" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlgov_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/ev"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.sources.ManifestTable.merge(s, tbl, ev, Seq("event_id"))
      graft.sources.ManifestTable.setPolicy(tbl,
        masks = Map("user_id" -> "pmod(user_id, 100)",
          "value" -> "round(value, 0)"),
        rowFilter = Some("event_type <> 'error'"))
      s.conf.set("spark.sql.catalog.graft_gov",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_gov.root", root)
      s.sql("""SELECT event_type, user_id, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM graft_gov.default.ev GROUP BY event_type, user_id""")
    }),
    // SQL DML: a DELETE STATEMENT against the catalog executes the table
    // format's own copy-on-write delete — `DELETE FROM graft_dml.default
    // .li WHERE l_orderkey IN (…)` maps onto `deleteKeys` (bloom+range
    // stats admit only the files that can hold the doomed keys; exactly
    // those rewrite; one CAS publishes), with `delete.mode = mor` on the
    // table property switching to the deletion-vector path. Oracle = the
    // NOT IN restatement over the base — the statement path must answer
    // exactly like the API path (q_manifest_delete's contract).
    "q_sql_delete" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqldml_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      s.conf.set("spark.sql.catalog.graft_dml",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dml.root", root)
      s.sql("DELETE FROM graft_dml.default.li WHERE l_orderkey IN (101, 777, 1402)")
      s.sql("""SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_dml.default.li GROUP BY l_returnflag""")
    }),
    // Predicate pushdown through the SQL catalog → manifest FILE SKIPPING:
    // the WHERE clause's range predicate prunes the snapshot's file list
    // on the driver (the manifest's recorded per-file min/max + bloom
    // stats — the same decision the API path's pruneFiles makes), so the
    // scan plans partitions only for admitted files. At 100 TB this is a
    // selective query reading 3 files instead of all of them. Every
    // filter still re-evaluates post-scan (file stats admit supersets),
    // so the answer is invariant — the oracle restates the predicate over
    // the base table; the spec asserts the scanned-file count shrank.
    "q_sql_pushdown" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlpd_" +
        java.lang.ProcessHandle.current().pid()
      val tbl = s"$root/li"
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartitionByRange(16, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      s.conf.set("spark.sql.catalog.graft_pd",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_pd.root", root)
      s.sql("""SELECT l_returnflag, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_pd.default.li
        WHERE l_orderkey BETWEEN 100 AND 500 GROUP BY l_returnflag""")
    }),
    // Schema evolution: RENAME COLUMN as carried metadata (column-mapping)
    // on immutable files — the rename publishes as a marker commit, later
    // merges write the NEW name, and the read path reconciles generations
    // (merge-schema scan + coalesce old into new). Oracle restates the
    // aggregate over the base table under the ORIGINAL name: evolution
    // must never change the data, only its label.
    "q_schema_rename" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_rename_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      val staged = graft.sources.ManifestTable.stage(
        s, tbl, p.filter(col("p_partkey") % 2 === 0))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.renameColumn(tbl, "p_retailprice", "price")
      // odd keys are disjoint from the committed even half: append
      graft.sources.ManifestTable.append(s, tbl,
        p.filter(col("p_partkey") % 2 === 1)
          .withColumnRenamed("p_retailprice", "price"))
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }),
    // MERGE-ON-READ UPSERT (WHEN MATCHED UPDATE / NOT MATCHED INSERT, the
    // Hudi shape): the batch replaces every existing row sharing its key —
    // implemented as delete+insert in ONE mutate commit (batch keys DV the
    // stats-admitted old files; the batch appends as untargeted new
    // files). Write cost ∝ batch; nothing rewrites until compaction.
    // Oracle = the CASE restatement over the base table (the batch here is
    // the doomed orders' rows with quantity bumped, so replacement ≡ a
    // conditional column rewrite the oracle can state exactly).
    "q_mor_upsert" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_mor_ups_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartitionByRange(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, li, statsCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      val batch = Tables.lineitem(s, d)
        .filter(col("l_orderkey").isin(101L, 777L, 1402L))
        .withColumn("l_quantity", col("l_quantity") + lit(100.0))
      graft.sources.ManifestTable.upsertMOR(s, tbl, batch, "l_orderkey")
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // Copy-on-write UPDATE — the third DML leg beside ACID MERGE and the
    // targeted delete: same stat-pruned rewrite (only key-holding files
    // touched), matching rows get the assignment applied against their OLD
    // values, untouched files republish verbatim, one CAS publishes.
    // Oracle = the CASE-expression restatement over the base table.
    "q_manifest_update" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_upd_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.updateKeys(s, tbl, "l_orderkey",
        keys = Seq(101L, 777L, 1402L),
        assignments = Map("l_quantity" -> (col("l_quantity") + lit(100.0))))
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // Z-ORDER + data skipping end-to-end — the multi-dimension layout
    // payoff q_zorder's audit only measures: files laid out by the Morton
    // interleave of (p_size, category) cover tight rectangles in BOTH
    // dimensions at once, so ONE layout serves selective predicates on
    // EITHER column via the manifest's min/max skipping (a single-column
    // sort gives away the second dimension — spec-contrasted). The query
    // answers a p_size range over the z-laid table; the two-dimension
    // prune counts are spec-asserted.
    "q_zorder_skipping" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_skip_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      // second layout dimension: a dense 6-bit category (a tenant/category
      // id stand-in), uniform at every fixture scale — a materialized
      // generated column, like Delta's
      val p = Tables.part(s, d)
        .withColumn("category", (col("p_partkey") % 64).cast("int"))
      val laid = p
        .withColumn("zkey", AuditOps.morton6(col("p_size").cast("int"), col("category")))
        .repartitionByRange(8, col("zkey")).sortWithinPartitions(col("zkey"))
        .drop("zkey")
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, laid, statsCols = Seq("p_size", "category"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.readPruned(s, tbl, "p_size",
        lo = BigDecimal(10), hi = BigDecimal(15))
        .agg(count(lit(1)).as("n"),
          sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }),
    // Split manifests + manifest list (the Iceberg metadata layout): the
    // snapshot's file lines are sharded across immutable segment files
    // whose per-segment range summaries let a selective read parse ONLY
    // the admitted segments — driver metadata cost O(|segments| +
    // |admitted files|) instead of O(|files|), the layout that keeps a
    // millions-of-files snapshot resolvable. Oracle = content invariance
    // (the metadata layout must never change the answer); the spec proves
    // the bounded-resolve and prune-equivalence properties.
    // Segment-level BLOOM pruning for point lookups — the summary kind
    // range envelopes cannot provide: under a hash-clustered layout every
    // segment SPANS the full key range (range summaries admit everything)
    // but holds only its own key SET, so the per-segment union Bloom in
    // the manifest list prunes the lookup to the few bloom-admitted
    // segments, whose file lines alone are parsed (driver cost
    // O(|segments| + |admitted files|)). The residual IN filter absorbs
    // bloom false positives — never a wrong answer; oracle = the IN
    // restatement over the base table.
    "q_segment_point_lookup" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_segpt_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(16, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commitSegmented(tbl, staged, -1,
        segmentSize = 4))
      val keys = Seq(101L, 777L, 1402L)
      val (kept, _, _, _) = graft.sources.ManifestTable
        .pruneFilesSegmentedForKeys(tbl, 0, "l_orderkey", keys)
      (if (kept.isEmpty)
        graft.sources.ManifestTable.read(s, tbl).filter(lit(false))
      else s.read.parquet(
        kept.map(graft.sources.ManifestTable.dataPath(tbl, _)): _*))
        .filter(col("l_orderkey").isin(keys: _*))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
    }),
    "q_manifest_segments" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_mseg_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartitionByRange(16, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, li, statsCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commitSegmented(tbl, staged, -1,
        segmentSize = 4, clusterBy = "l_orderkey"))
      val (kept, _, _, _) = graft.sources.ManifestTable.pruneFilesSegmented(
        tbl, 0, "l_orderkey", BigDecimal(100), BigDecimal(2000))
      s.read.parquet(kept.map(graft.sources.ManifestTable.dataPath(tbl, _)): _*)
        .filter(col("l_orderkey").between(100L, 2000L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // OPTIMIZE ... ZORDER BY — compaction and clustering as ONE rewrite: a
    // table grown by several hash commits (files with no useful layout) is
    // optimized into z-ordered files with fresh stats, after which min/max
    // skipping works on both layout dimensions (spec-asserted). Oracle =
    // content invariance on a selective predicate: the rewrite must change
    // the file layout, never the answer.
    "q_optimize_zorder" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_opt_zorder_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val p = Tables.part(s, d)
        .withColumn("category", (col("p_partkey") % 64).cast("int"))
      // three unclustered commits → small files; disjoint %3 slices:
      // concurrent staging, ordered commits (no anti-join)
      graft.sources.ManifestTable.appendAll(s, tbl,
        (0 to 2).map(m => p.filter(col("p_partkey") % 3 === m)))
      graft.sources.ManifestTable.optimize(s, tbl, numFiles = 8,
        zorderBy = Seq("p_size", "category"),
        statsCols = Seq("p_size", "category"))
      graft.sources.ManifestTable.readPruned(s, tbl, "p_size",
        lo = BigDecimal(10), hi = BigDecimal(15))
        .agg(count(lit(1)).as("n"),
          sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    }),
    // Metadata-only aggregate: COUNT(*)/MIN/MAX answered from the
    // manifest's recorded row counts and column ranges with ZERO data I/O
    // and zero tasks — the catalog-served fast path every warehouse has.
    // The constant relation below is the point: no scan ever ran. Valid
    // because every stats-writing mutation path re-harvests; a stats-less
    // file makes metadataAgg throw rather than guess.
    "q_metadata_agg" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_meta_agg_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithStats(
        s, tbl, li, statsCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      val (n, mn, mx) = graft.sources.ManifestTable.metadataAgg(tbl, "l_orderkey")
      import s.implicits._
      Seq((n, mn.toLongExact, mx.toLongExact))
        .toDF("n_rows", "min_key", "max_key")
    }),
    // MERGE with CHECK constraints (Delta expectations): batch rows
    // violating any named expectation divert to a quarantine manifest
    // table (idempotent merge — replay re-quarantines as a no-op); clean
    // rows merge into the main table. Output = the main table's counts
    // plus the quarantine tally — the load report a pipeline acts on.
    "q_manifest_expectations" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_manifest_exp_" +
        java.lang.ProcessHandle.current().pid()
      val (tbl, qtbl) = (s"$base/main", s"$base/quarantine")
      graft.sources.ManifestTable.destroy(tbl)
      graft.sources.ManifestTable.destroy(qtbl)
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      graft.sources.ManifestTable.mergeWithExpectations(s, tbl, qtbl, li, keys,
        expectations = Map(
          "qty_in_range" -> col("l_quantity").between(1, 45),
          "price_positive" -> (col("l_extendedprice") > 0)))
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .unionByName(graft.sources.ManifestTable.read(s, qtbl)
          .agg(count(lit(1)).as("n"))
          .select(lit("__quarantined").as("l_returnflag"), col("n")))
    }),
    // Version-keyed RESULT CACHE: the manifest version names an immutable
    // row set forever, so a cached result serves byte-identical until the
    // next commit and invalidation is free. The query exercises the full
    // lifecycle — miss → hit → commit-invalidated recompute — and returns
    // the post-commit answer; the zero-jobs-on-hit proof is spec-side.
    "q_result_cache" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_result_cache_" +
        java.lang.ProcessHandle.current().pid()
      val (tbl, cache) = (s"$base/tbl", s"$base/cache")
      graft.sources.ManifestTable.destroy(tbl)
      graft.sources.ManifestTable.destroy(cache)
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      def agg() = graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      graft.sources.ManifestTable.merge(s, tbl,
        li.filter(col("l_orderkey") % 4 =!= 0), keys)
      graft.sources.ManifestTable.cachedResult(s, tbl, cache, "rf")(() => agg())
      graft.sources.ManifestTable.cachedResult(s, tbl, cache, "rf")(() => agg()) // hit
      graft.sources.ManifestTable.merge(s, tbl, li, keys) // invalidates
      graft.sources.ManifestTable.cachedResult(s, tbl, cache, "rf")(() => agg())
    }),
    // Planner-style scan estimate from metadata: before running the range
    // query, the manifest answers "how many files, at most how many rows"
    // with zero I/O — what a cost-based planner reads to choose broadcast
    // vs shuffle vs index. The hashed contract is bound-invariant (the
    // q_approx_distinct pattern): the exact count plus TRUE flags that the
    // estimate was a sound upper bound and that pruning actually happened;
    // the estimate itself varies with file boundaries and is spec-bounded.
    "q_scan_estimate" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_scan_est_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartitionByRange(8, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithNdv(
        s, tbl, li, statsCols = Seq("l_orderkey"), ndvCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      val (kept, total, upper) = graft.sources.ManifestTable.estimateScan(
        tbl, "l_orderkey", BigDecimal(100), BigDecimal(500))
      // distinct-count bound from the per-file HLL blobs (metadata only) —
      // the planner input a broadcast-vs-shuffle decision actually needs
      val (_, ndvUpper) = graft.sources.ManifestTable.estimateNdv(
        tbl, "l_orderkey", BigDecimal(100), BigDecimal(500))
      graft.sources.ManifestTable.readPruned(s, tbl, "l_orderkey",
        BigDecimal(100), BigDecimal(500))
        .agg(count(lit(1)).as("n_exact"),
          countDistinct(col("l_orderkey")).as("nd_exact"))
        .select(col("n_exact"), col("nd_exact"),
          (col("n_exact") <= upper).as("bound_sound"),
          (col("nd_exact") <= ndvUpper).as("ndv_sound"),
          lit(kept < total).as("pruned"))
    }),
    // Schema-compatibility gate between snapshot versions: v1 is a
    // migration commit that adds two columns (backward compatible),
    // removes one and retypes another (both breaking); the report is
    // derived from the snapshots' ACTUAL parquet schemas, so writer drift
    // is caught, not just declared intent. Oracle = the expected
    // classification restated (deterministic-construction pattern, like
    // q_manifest_changes).
    "q_schema_compat" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_schema_compat_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
      val v0 = graft.sources.ManifestTable.stage(s, tbl,
        li.select(col("l_orderkey"), col("l_quantity"),
          col("l_returnflag"), col("l_extendedprice")))
      require(graft.sources.ManifestTable.commit(tbl, v0, -1))
      // migration commit: full rewrite under the evolved schema
      val v1 = graft.sources.ManifestTable.stage(s, tbl,
        li.select(col("l_orderkey"),
          col("l_quantity").cast("decimal(18,2)").as("l_quantity"), // retyped
          col("l_returnflag"),
          col("l_tax"), col("l_shipdate")))                         // added
      require(graft.sources.ManifestTable.commit(tbl, v1, 0))
      graft.sources.ManifestTable.schemaCompat(s, tbl, fromV = 0, toV = 1)
    }),
    // Write–Audit–Publish: batch A stages into a named audit snapshot,
    // its quality check (no rows with l_quantity > 45) passes against the
    // exact would-be table state, and it publishes; batch B contains
    // violations, fails the same audit, and is ABORTED — its staged files
    // stay unpublished orphans. The final table therefore holds the
    // initial load plus batch A only. Oracle restates that state from the
    // deterministic slices; audit invisibility/atomicity are spec-side.
    "q_write_audit_publish" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_wap_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d)
      def cleanOnly(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("l_quantity") <= 45)
      def auditPasses(df: org.apache.spark.sql.DataFrame): Boolean =
        df.filter(col("l_quantity") > 45).isEmpty
      // initial load (clean by construction)
      val init = graft.sources.ManifestTable.stage(s, tbl,
        cleanOnly(li.filter(col("l_orderkey") % 3 === 0)))
      require(graft.sources.ManifestTable.commit(tbl, init, -1))
      // batch A: clean → audit passes → publish
      graft.sources.ManifestTable.stageAudit(s, tbl,
        cleanOnly(li.filter(col("l_orderkey") % 3 === 1)), tag = "a")
      require(auditPasses(graft.sources.ManifestTable.readAudit(s, tbl, "a")))
      require(graft.sources.ManifestTable.publishAudit(tbl, "a").contains(1))
      // batch B: dirty → audit fails → abort (nothing published)
      graft.sources.ManifestTable.stageAudit(s, tbl,
        li.filter(col("l_orderkey") % 3 === 2), tag = "b")
      require(!auditPasses(graft.sources.ManifestTable.readAudit(s, tbl, "b")))
      graft.sources.ManifestTable.abortAudit(tbl, "b")
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    }),
    // Multi-table ATOMIC transaction via the catalog tier: an order-header
    // table and its line-items each advance through two coordinated
    // commits, and each pair is published by ONE catalog CAS pinning both
    // tables' versions together — a reader resolving the catalog once can
    // never join an order half (torn-state impossibility is spec-proven;
    // here the hashed contract is the consistent cross-table join at the
    // final catalog snapshot).
    "q_catalog_txn" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_catalog_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(base) // fresh catalog per run
      val (ot, lt, cat) = (s"$base/orders", s"$base/lineitem", s"$base/catalog")
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val okeys = Seq("o_orderkey")
      val lkeys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_shipdate")
      // txn 0: a consistent initial load of the even half of both tables.
      // The two merges hit DISJOINT table dirs — overlapped (guide §2.6),
      // the catalog CAS still publishes both versions as one transaction
      val Seq(ov0, lv0) = overlapped[() => Int, Int](Seq(
        () => graft.sources.ManifestTable.merge(s, ot,
          o.filter(col("o_orderkey") % 2 === 0), okeys),
        () => graft.sources.ManifestTable.merge(s, lt,
          li.filter(col("l_orderkey") % 2 === 0), lkeys)))(_())
      require(graft.sources.Catalog.commit(cat,
        Map("orders" -> ((ot, ov0)), "lineitem" -> ((lt, lv0))), -1))
      // txn 1: the odd half lands in BOTH tables, atomically (same overlap)
      val Seq(ov1, lv1) = overlapped[() => Int, Int](Seq(
        () => graft.sources.ManifestTable.merge(s, ot, o, okeys),
        () => graft.sources.ManifestTable.merge(s, lt, li, lkeys)))(_())
      require(graft.sources.Catalog.commit(cat,
        Map("orders" -> ((ot, ov1)), "lineitem" -> ((lt, lv1))), 0))
      // ONE catalog resolution → consistent cross-table join
      val v = graft.sources.Catalog.currentVersion(cat)
      val oo = graft.sources.Catalog.readTableAt(s, cat, v, "orders")
      val ll = graft.sources.Catalog.readTableAt(s, cat, v, "lineitem")
      ll.join(oo, ll("l_orderkey") === oo("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // MULTI-TABLE TRANSACTIONS FROM SQL (round 17): q_catalog_txn's twin
    // with zero API calls — CALL system.txn_begin stages, ordinary
    // INSERTs land table versions invisible to catalog-pinned readers,
    // CALL system.txn_commit flips both pins in ONE catalog CAS, and the
    // reader joins both tables VERSION AS OF 'catalog:<v>' (the same <v>
    // from CALL system.txn_version), so the cross-table join can never
    // observe one table moved without the other. Torn-state invisibility
    // and the concurrent-commit refusal are spec-pinned (Round17Spec).
    "q_sql_txn" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqltxn_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(root) // fresh catalog per run
      s.conf.set("spark.sql.catalog.graft_tx",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_tx.root", root)
      s.sql("""CREATE TABLE graft_tx.default.ord
        (o_orderkey BIGINT, o_orderpriority STRING)""")
      s.sql("""CREATE TABLE graft_tx.default.li
        (l_orderkey BIGINT, l_quantity DOUBLE)""")
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .createOrReplaceTempView("r17_tx_ord")
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .createOrReplaceTempView("r17_tx_li")
      // txn 0: the even half of BOTH tables publishes atomically. The two
      // INSERTs target DISJOINT tables inside one staged transaction —
      // overlapped (guide §2.6); the txn_commit CAS is unchanged
      s.sql("CALL graft_tx.system.txn_begin()")
      overlapped(Seq("ord" -> "r17_tx_ord WHERE o_orderkey % 2 = 0",
        "li" -> "r17_tx_li WHERE l_orderkey % 2 = 0")) { case (t, from) =>
        s.sql(s"INSERT INTO graft_tx.default.$t SELECT * FROM $from")
      }
      s.sql("CALL graft_tx.system.txn_commit(tables => 'ord,li')")
      // txn 1: the odd half lands in BOTH tables, atomically (same overlap)
      s.sql("CALL graft_tx.system.txn_begin()")
      overlapped(Seq("ord" -> "r17_tx_ord WHERE o_orderkey % 2 = 1",
        "li" -> "r17_tx_li WHERE l_orderkey % 2 = 1")) { case (t, from) =>
        s.sql(s"INSERT INTO graft_tx.default.$t SELECT * FROM $from")
      }
      s.sql("CALL graft_tx.system.txn_commit(tables => 'ord,li')")
      // ONE catalog resolution → consistent cross-table join
      val v = s.sql("CALL graft_tx.system.txn_version()").head().getInt(0)
      s.sql(s"""SELECT o.o_orderpriority, count(*) AS n,
        CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_tx.default.li VERSION AS OF 'catalog:$v' l
        JOIN graft_tx.default.ord VERSION AS OF 'catalog:$v' o
          ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority""")
    }),
    // TXN AUDIT TRAIL (round 17): `CALL system.txn_history()` — one row
    // per (catalog version, table) pin, the cross-table state an
    // operator reads before rolling back to an earlier catalog version.
    // The lifecycle is deterministic (CREATE/INSERT commit arithmetic),
    // so the full pin matrix oracle-checks as literals — including the
    // PARTIAL second transaction, whose untouched table must CARRY its
    // pin forward rather than vanish from the new catalog version.
    "q_sql_txn_history" -> ((s, d) => {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_txh_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(root)
      s.conf.set("spark.sql.catalog.graft_txh",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_txh.root", root)
      s.sql("CREATE TABLE graft_txh.default.a (o_orderkey BIGINT)")
      s.sql("CREATE TABLE graft_txh.default.b (o_orderkey BIGINT)")
      Tables.orders(s, d).select(col("o_orderkey"))
        .createOrReplaceTempView("r17_txh_src")
      s.sql("CALL graft_txh.system.txn_begin()")
      s.sql("""INSERT INTO graft_txh.default.a
        SELECT * FROM r17_txh_src WHERE o_orderkey % 2 = 0""")
      s.sql("""INSERT INTO graft_txh.default.b
        SELECT * FROM r17_txh_src WHERE o_orderkey % 2 = 0""")
      s.sql("CALL graft_txh.system.txn_commit(tables => 'a,b')")
      // a PARTIAL transaction: only `a` moves; `b` keeps its pin
      s.sql("CALL graft_txh.system.txn_begin()")
      s.sql("""INSERT INTO graft_txh.default.a
        SELECT * FROM r17_txh_src WHERE o_orderkey % 2 = 1""")
      s.sql("CALL graft_txh.system.txn_commit(tables => 'a')")
      s.sql("CALL graft_txh.system.txn_history()")
    }),
    // SHALLOW CLONE: the clone's v0 references the source's files by
    // absolute path (zero data copied — spec asserts the clone has no
    // local data at clone time), then evolves independently — here the
    // odd half of lineitem merges into the CLONE only. The hashed answer
    // is the clone's full view (source half + its own half); the
    // source-unchanged and copy-on-write halves are spec-side.
    "q_manifest_clone" -> ((s, d) => {
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_clone_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(base)
      val (src, dst) = (s"$base/src", s"$base/clone")
      val li = Tables.lineitem(s, d)
      val staged = graft.sources.ManifestTable.stageWithStats(s, src,
        li.filter(col("l_orderkey") % 2 === 0).repartitionByRange(4, col("l_orderkey")),
        statsCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(src, staged, -1))
      graft.sources.ManifestTable.cloneTable(src, dst)
      // the odd half is disjoint from the cloned even half: the diverging
      // commit appends without the merge anti-join (guide §1.2/§8)
      graft.sources.ManifestTable.append(s, dst,
        li.filter(col("l_orderkey") % 2 === 1))
      graft.sources.ManifestTable.read(s, dst)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    // DESCRIBE HISTORY from metadata alone: the table walks load →
    // optimize → delete, and the history reports each version's commit
    // kind, file count, and exact row count (from the recorded per-file
    // counts) with zero data I/O — the audit trail an operator reads
    // before a rollback. Oracle restates the deterministic lifecycle's
    // row counts from the base table; file counts are layout-dependent
    // and spec-checked instead (n_files is emitted but not hashed here).
    "q_manifest_history" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_history_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(4, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.optimize(s, tbl, numFiles = 2,
        statsCols = Seq("l_orderkey"))
      graft.sources.ManifestTable.deleteKeys(s, tbl, "l_orderkey",
        keys = Seq(101L, 777L))
      graft.sources.ManifestTable.history(s, tbl)
        .select(col("version"), col("kind"), col("n_rows"))
    }),
    // RESTORE: an accidental delete is rolled back by republishing the
    // pre-delete snapshot's manifest as a new commit — metadata-only
    // regardless of table size, and the bad commit stays in the audit
    // trail. The hashed answer is the restored table = the original load;
    // history mechanics (mutate kind, version count) are spec-side.
    "q_manifest_restore" -> ((s, d) => {
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_restore_" +
        java.lang.ProcessHandle.current().pid()
      graft.sources.ManifestTable.destroy(tbl) // fresh table per run
      val li = Tables.lineitem(s, d).repartition(4, col("l_orderkey"))
      val staged = graft.sources.ManifestTable.stageWithIndexes(
        s, tbl, li, statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      require(graft.sources.ManifestTable.commit(tbl, staged, -1))
      graft.sources.ManifestTable.deleteKeys(s, tbl, "l_orderkey",
        keys = Seq(101L, 777L)) // the "oops" commit
      graft.sources.ManifestTable.restore(tbl, v = 0) // roll it back
      graft.sources.ManifestTable.read(s, tbl)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),
    "q1_pricing" -> ((s, d) => pricingSummary(s, d)),
    "q_revenue_by_nation" -> ((s, d) => revenueByNation(s, d)),
    "q_local_supplier_volume" -> ((s, d) => localSupplierVolume(s, d)),
    "q_cust_no_orders" -> ((s, d) => {
      // left-anti (NOT EXISTS) — J1's core primitive standalone
      val c = Tables.customer(s, d)
      c.join(Tables.orders(s, d), c("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "q_cust_big_orders" -> ((s, d) => {
      // left-semi (EXISTS): customers with at least one >300k order
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),
    "q_intersect_buyers" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      y95.intersect(y96)
    }),
    "q_except_all_buyers" -> ((s, d) => {
      // multiplicity-aware set difference (§2.6 completion): a customer with
      // 3 orders in 1995 and 1 in 1996 keeps 2 rows — EXCEPT ALL semantics,
      // planned as a hash aggregation on counts, not a row-wise anti join
      val o = Tables.orders(s, d)
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      y95.exceptAll(y96)
    }),
    "q_intersect_all_buyers" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      y95.intersectAll(y96)
    }),
    "q_string_agg" -> ((s, d) => {
      // ordered list aggregation surfaced as a scalar string (array outputs
      // break the driver's comparator): sorted distinct statuses per priority
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
          count(lit(1)).as("n"))
    }),
    "q_except_buyers" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val y95 = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      y95.except(y96)
    }),
    "q_window_running" -> ((s, d) => {
      // running aggregates per supplier. (shipdate, orderkey, linenumber) is
      // NOT unique at every scale factor (sf0.1 has one full-key tie whose
      // rows differ in quantity — engine-dependent running sums); the
      // summed columns join the ordering to make the cumulative total
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
      Tables.lineitem(s, d).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"),
        sum(dec2(col("l_quantity")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("run_qty"))
    }),
    "q_window_ranks" -> ((s, d) => {
      // distribution window functions (ntile/percent_rank/cume_dist) over the
      // same unique per-supplier ordering as the other window queries
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        ntile(4).over(w).as("quartile"),
        // NOT rounded: these are single IEEE divisions (k/n), bit-identical
        // across engines — rounding would INTRODUCE mismatches at half-ulp
        // ties (Spark rounds half-up, DuckDB half-even: 0.0640625 → .064063
        // vs .064062)
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }),
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate"), lag(col("l_shipdate"), 1).over(w)).as("days_since_prev"),
        dense_rank().over(Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))).as("ship_rank"))
    }),
    "q_distinct_parts" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"))),
    "q_string_ops" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"))),
    "q_date_parts" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mon"))
        .agg(count(lit(1)).as("n"))),
    "q_csv_roundtrip" -> ((s, d) => csvRoundtrip(s, d)),
    "q_jsonl_roundtrip" -> ((s, d) => jsonlRoundtrip(s, d)),
    "q_quarantine" -> ((s, d) => quarantineRead(s, d)),
  )

  /** JSON-lines export + schema-declared FAILFAST re-read — the second
    * interchange format after CSV (S2/S3 analog; the reference moves JSON
    * payloads as strings, `/root/reference/dags/weather_realtime_etl.py:140`).
    * ORC/Avro connectors are absent from this Spark distribution, so CSV +
    * JSONL + parquet is the complete available format surface. */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_roundtrip_" +
      java.lang.ProcessHandle.current().pid()
    Tables.nation(s, dir).coalesce(1).write.mode("overwrite").json(tmp)
    s.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("mode", "FAILFAST").json(tmp)
  }

  /** Malformed-record quarantine: the PERMISSIVE-mode complement of the
    * FAILFAST round-trips above. A real ingest feed always contains broken
    * lines, and failing the job (S4's posture) is only right for trusted
    * hand-offs; for external feeds the production shape is: parse what
    * parses, route what doesn't to a quarantine bucket, and count both —
    * never silently drop (`DROPMALFORMED` loses the evidence).
    *
    * The feed is derived deterministically from `nation`: rows with
    * `n_nationkey % 5 = 0` are written with the closing brace truncated
    * (structurally invalid JSON), the rest as valid JSON lines. The re-read
    * declares `_corrupt_record` in the schema; the split good-vs-quarantined
    * is ONE pass — a single aggregate keyed on "did this row parse"
    * (quarantined rows report under region -1) — so nothing is read or
    * shuffled twice at scale, and the raw broken line survives in
    * `_corrupt_record` for replay. */
  /** Writes the deterministic partly-broken JSONL feed (shared by the batch
    * and streaming quarantine queries) and returns its path. */
  private[graft] def writeQuarantineFeed(s: SparkSession, dir: String): String = {
    import s.implicits._
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_quarantine_" +
      java.lang.ProcessHandle.current().pid()
    val json = to_json(struct($"n_nationkey", $"n_name", $"n_regionkey"))
    Tables.nation(s, dir)
      .select(when($"n_nationkey" % 5 === 0,
          substring(json, lit(1), length(json) - 1))   // chop the '}' — invalid
        .otherwise(json).as("value"))
      .coalesce(1).write.mode("overwrite").text(tmp)
    tmp
  }

  private[graft] val quarantineSchema =
    "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt_record STRING"

  def quarantineRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = writeQuarantineFeed(s, dir)
    s.read
      .schema(quarantineSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .groupBy(when($"_corrupt_record".isNotNull, lit(-1))
        .otherwise($"n_regionkey".cast("int")).as("n_regionkey"))
      .agg(count(lit(1)).as("n_rows"))
  }

  private val quarantineSql =
    """SELECT CAST(n_regionkey AS INT) AS n_regionkey, count(*) AS n_rows
      |FROM nation WHERE n_nationkey % 5 <> 0 GROUP BY 1
      |UNION ALL
      |SELECT -1, count(*) FROM nation WHERE n_nationkey % 5 = 0""".stripMargin

  /** S2→S3: headered single-file CSV export (`coalesce(1)` — explicitly only
    * for single-file export, never in wide plans) then FAILFAST re-read with
    * the reference's null-literal contract
    * (`/root/reference/dags/etl_spark_historical.py:76-82,199-207,295`). */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_csv_roundtrip_" +
      java.lang.ProcessHandle.current().pid()
    Tables.nation(s, dir).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(tmp)
    s.read
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .option("header", "true").option("mode", "FAILFAST")
      .option("nullValue", "").csv(tmp)
  }

  val oracle: Map[String, String] = Map(
    "q_full_outer" -> fullOuterReconSql,
    "q_sql_api" -> sqlApiSql,
    "q_schema_evolution" -> schemaEvolutionSql,
    "q_clean_trips" -> cleanSql,
    "q_clean_count" -> s"SELECT count(*) AS n_rows FROM ($cleanSql) t",
    "q_date_range" -> s"SELECT min(pickup_ts) AS min_pickup, max(pickup_ts) AS max_pickup FROM ($cleanSql) t",
    "q_preview" ->
      s"""SELECT * FROM ($cleanSql) t
         |ORDER BY trip_id, leg_no, pickup_ts, pickup_zone_id, dropoff_zone_id,
         |         passenger_count, trip_distance, total_amount LIMIT 20""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_dedup_append" -> dedupAppendSql,
    // compaction must not change the snapshot's content: the three merge
    // commits partition lineitem by l_orderkey % 3, so the compacted table
    // is exactly lineitem
    "q_manifest_compact" ->
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1",
    // the (v0, v2] delta is exactly the two later commit slices
    "q_manifest_changes" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_orderkey % 3 <> 0 GROUP BY 1""".stripMargin,
    // tailing the commit log and merging partials must equal batch
    "q_manifest_tail" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the ACID protocol must not change the MERGE's answer
    "q_acid_merge" -> dedupAppendSql,
    // the lifecycle's exact row counts: full table at v0, unchanged by the
    // rewrite at v1, minus the two deleted keys' rows at v2
    "q_manifest_history" ->
      """SELECT 0 AS version, 'data' AS kind,
        |       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows
        |UNION ALL
        |SELECT 1, 'rewrite',
        |       (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
        |UNION ALL
        |SELECT 2, 'mutate',
        |       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |        WHERE l_orderkey NOT IN (101, 777))""".stripMargin,
    // the restore must bring back exactly the original load
    "q_manifest_restore" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the clone's view = the source half it references + its own merge
    "q_manifest_clone" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the final catalog snapshot = the full consistent pair
    "q_catalog_txn" ->
      """SELECT o.o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
    // the SQL twin must land on the same consistent pair
    "q_sql_txn" ->
      """SELECT o.o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
    // the deterministic lifecycle's full pin matrix: CREATE commits v0,
    // each INSERT advances one version; the partial second transaction
    // moves only `a` while `b` CARRIES its v1 pin into catalog v1
    "q_sql_txn_history" ->
      """SELECT CAST(catalog_version AS INTEGER) AS catalog_version,
        |       table_name,
        |       CAST(pinned_version AS INTEGER) AS pinned_version
        |FROM (VALUES (0, 'a', 1), (0, 'b', 1), (1, 'a', 2), (1, 'b', 1))
        |  t(catalog_version, table_name, pinned_version)""".stripMargin,
    // the published state = init + the one batch whose audit passed
    "q_write_audit_publish" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_quantity <= 45 AND l_orderkey % 3 <> 2 GROUP BY 1""".stripMargin,
    // the expected classification of the deterministic migration commit
    "q_schema_compat" ->
      """SELECT * FROM (VALUES
        |  ('l_extendedprice', 'removed',   FALSE),
        |  ('l_orderkey',      'unchanged', TRUE),
        |  ('l_quantity',      'retyped',   FALSE),
        |  ('l_returnflag',    'unchanged', TRUE),
        |  ('l_shipdate',      'added',     TRUE),
        |  ('l_tax',           'added',     TRUE)
        |) t(col_name, change, compatible)""".stripMargin,
    // bound-invariant: exact count + the sound-bound and pruning contracts
    "q_scan_estimate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_exact,
        |       TRUE AS bound_sound, TRUE AS ndv_sound, TRUE AS pruned
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 500""".stripMargin,
    // expectations must split the batch exactly: clean in, violators out
    "q_manifest_expectations" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE (l_quantity BETWEEN 1 AND 45) AND l_extendedprice > 0 GROUP BY 1
        |UNION ALL
        |SELECT '__quarantined', count(*) FROM lineitem
        |WHERE NOT ((l_quantity BETWEEN 1 AND 45) AND l_extendedprice > 0)""".stripMargin,
    // serving from cache must never change the answer; after the commit
    // the cache must serve the NEW snapshot's aggregate
    "q_result_cache" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // OPTIMIZE ZORDER must change the layout, never the answer
    "q_optimize_zorder" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part WHERE p_size BETWEEN 10 AND 15""".stripMargin,
    // the keyed-MOR metadata count must equal the scanned live count —
    // overlapping deletes (33 doomed twice) must not double-subtract
    "q_metadata_mor_count" ->
      """SELECT count(*) AS n FROM orders
        |WHERE o_orderkey NOT IN (1, 2, 3, 32, 33, 64, 65)""".stripMargin,
    // the metadata-served aggregate must equal the scanned one
    "q_metadata_agg" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM lineitem""".stripMargin,
    // the update must change exactly the keyed rows' quantity, nothing else
    "q_manifest_update" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(CASE WHEN l_orderkey IN (101, 777, 1402)
        |                          THEN l_quantity + 100 ELSE l_quantity END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the z-order layout must not change the range query's answer
    "q_zorder_skipping" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part WHERE p_size BETWEEN 10 AND 15""".stripMargin,
    // segment-bloom skipping must not change the point lookup's answer
    "q_segment_point_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_orderkey IN (101, 777, 1402)""".stripMargin,
    // the segmented metadata layout must never change the answer
    "q_manifest_segments" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 2000 GROUP BY 1""".stripMargin,
    // governance = exactly the declared transformation over the LIVE
    // (dv-filtered) rows, nothing else
    "q_governed_read" ->
      """SELECT event_type, user_id % 100 AS user_id, count(*) AS n,
        |       CAST(sum(CAST(round(value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type <> 'error'
        |  AND event_id NOT BETWEEN 1 AND 40
        |GROUP BY 1, 2""".stripMargin,
    // the catalog scan + SQL insert must together hold exactly the table
    "q_sql_catalog" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // the history relation must restate the exact constructed commits
    "q_sql_history" ->
      """SELECT 0 AS version, 'data' AS kind, CAST(4 AS BIGINT) AS n_files,
        |       CAST((SELECT count(*) FROM lineitem WHERE l_orderkey % 2 = 0) AS BIGINT) AS n_rows
        |UNION ALL
        |SELECT 1, 'data', CAST(8 AS BIGINT),
        |       CAST((SELECT count(*) FROM lineitem) AS BIGINT)""".stripMargin,
    // the UPDATE statement must answer exactly like the API update
    "q_sql_update" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(CASE WHEN l_orderkey IN (101, 777, 1402)
        |                          THEN l_quantity + 100.0 ELSE l_quantity END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // MERGE-as-upsert must agree with both API upsert implementations
    "q_sql_merge" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(CASE WHEN l_orderkey IN (101, 777, 1402)
        |                          THEN l_quantity + 100.0 ELSE l_quantity END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // DECIMAL UPDATE through the catalog ≡ the same CASE in exact decimal
    "q_sql_decimal_update" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CASE WHEN l_orderkey % 10 = 0
        |                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) + 10.00
        |                     ELSE CAST(l_extendedprice AS DECIMAL(18,2)) END)
        |            AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    // an array round-trip through the catalog must change NOTHING but the
    // updated label (count/dims/extrema restate the base table exactly)
    "q_catalog_embeddings" ->
      """SELECT count(*) AS n_vecs,
        |       CAST(sum(len(embedding)) AS BIGINT) AS total_dims,
        |       CAST(min(embedding[1]) AS DOUBLE) AS min_e0,
        |       CAST(max(embedding[1]) AS DOUBLE) AS max_e0,
        |       CAST(sum(label) + count(*) AS BIGINT) AS sum_label
        |FROM embeddings""".stripMargin,
    // partition-clustered writes must not change the partition's answer
    "q_sql_partitioned" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE year(o_orderdate) IN (1996, 1999) GROUP BY 1""".stripMargin,
    // maintenance touches layout, never content
    "q_sql_maintenance" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY 1""".stripMargin,
    // runtime pruning must change no answers
    "q_runtime_prune" ->
      """SELECT c_nationkey, count(*) AS n_ord,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey IN (1, 3)
        |GROUP BY c_nationkey""".stripMargin,
    // the co-sorted co-located join must change no answers
    "q_sorted_join" ->
      """SELECT c_mktsegment, count(*) AS n_ord,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // the co-located join must change no answers
    "q_spj_join" ->
      """SELECT c_nationkey, count(*) AS n_ord,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin,
    // the change feed is exactly reconstructible from the DML history
    "q_sql_changes" ->
      """WITH src AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
        |                    o_totalprice FROM orders)
        |SELECT 'insert' AS _change_type, 1 AS _commit_version, yr, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM src WHERE o_orderkey % 2 = 0 GROUP BY yr
        |UNION ALL
        |SELECT 'insert', 2, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE o_orderkey % 2 = 1 GROUP BY yr
        |UNION ALL
        |SELECT 'delete', 3, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src GROUP BY yr
        |UNION ALL
        |SELECT 'insert', 3, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE yr <> 1997 GROUP BY yr""".stripMargin,
    // the feed crossing a MOR delete: v3 emits exactly the keyed live
    // rows; v4's whole-table overwrite emits the rows live AT v3 (doomed
    // keys never re-emit) plus the reloaded selection
    "q_changes_mor" ->
      """WITH src AS (SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
        |                    o_totalprice FROM orders),
        |     doomed AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 32, 33, 34, 35,
        |                  36, 37, 38, 39, 64, 65, 66, 67, 68, 69, 70, 96,
        |                  97, 98, 99, 100, 101, 102, 103]) AS k)
        |SELECT 'insert' AS _change_type, 1 AS _commit_version, yr, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM src WHERE o_orderkey % 2 = 0 GROUP BY yr
        |UNION ALL
        |SELECT 'insert', 2, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE o_orderkey % 2 = 1 GROUP BY yr
        |UNION ALL
        |SELECT 'delete', 3, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE o_orderkey IN (SELECT k FROM doomed) GROUP BY yr
        |UNION ALL
        |SELECT 'delete', 4, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE o_orderkey NOT IN (SELECT k FROM doomed) GROUP BY yr
        |UNION ALL
        |SELECT 'insert', 4, yr, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM src WHERE yr <> 1997 GROUP BY yr""".stripMargin,
    // the RTAS result is the replaced summary, exactly
    "q_sql_ctas" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // the range aggregate over a clustered table is exact
    "q_sql_cluster" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000""".stripMargin,
    // the generated column is exactly its defining expression — INCLUDING
    // after the UPDATE shifted 1995 dates by 400 days (stale yr would
    // diverge here) and after the source column renamed (the rewritten
    // expression must keep deriving on the post-rename insert)
    "q_sql_generated" ->
      """SELECT CAST(year(d2) AS INT) AS yr, count(*) AS n,
        |       CAST(sum(p) AS DOUBLE) AS sum_v
        |FROM (SELECT CASE WHEN year(o_orderdate) = 1995
        |                  THEN o_orderdate + INTERVAL 400 DAY
        |                  ELSE o_orderdate END AS d2,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |      FROM orders
        |      UNION ALL
        |      SELECT o_orderdate,
        |             CAST(o_totalprice * 2 AS DECIMAL(18,2))
        |      FROM orders WHERE year(o_orderdate) = 1992) GROUP BY 1""".stripMargin,
    // the named snapshot is exactly the pre-second-insert state
    "q_sql_tag" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin,
    // the partition inventory's row totals must be exact
    "q_sql_partitions" ->
      """SELECT 'yr=' || CAST(CAST(year(o_orderdate) AS INT) AS VARCHAR) AS part,
        |       count(*) AS n_rows
        |FROM orders GROUP BY 1""".stripMargin,
    // the metadata-served filtered aggregate must be exact
    "q_metadata_filtered_agg" ->
      """SELECT count(*) AS n, min(o_orderkey) AS mn,
        |       CAST(max(o_totalprice) AS DOUBLE) AS mx
        |FROM orders WHERE CAST(year(o_orderdate) AS INT) = 1997""".stripMargin,
    // the metadata-served per-year roll-up must be exact
    "q_metadata_group_agg" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        |       min(o_orderkey) AS mn, CAST(max(o_totalprice) AS DOUBLE) AS mx
        |FROM orders GROUP BY 1""".stripMargin,
    // reading through the persisted view must equal its defining query
    "q_sql_view" ->
      """SELECT count(*) AS n,
        |       count(DISTINCT o_custkey) AS n_cust,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_totalprice > 150000.0""".stripMargin,
    // the full lifecycle must land on: the renamed + ALTER-AS'd view
    // serving the narrowed predicate, and the column-list view serving
    // its aliased projection
    "q_sql_view_ddl" ->
      """SELECT
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 50000.0) AS n,
        |  CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FROM orders WHERE o_totalprice < 50000.0) AS DOUBLE) AS sum_price,
        |  (SELECT count(*) FROM orders WHERE o_totalprice < 25000.0) AS n2,
        |  CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FROM orders WHERE o_totalprice < 25000.0) AS DOUBLE) AS sum_price2""".stripMargin,
    // the published snapshot must equal the audited branch content:
    // survivors of the erasure plus the branch's appended rows
    "q_wap_dml" ->
      """WITH pub AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_totalprice >= 50000.0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 500 = 0)
        |SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM pub""".stripMargin,
    // the merged snapshot = fork survivors of the branch erasure, plus
    // the branch's corrections, plus main's post-fork ingest (whose rows
    // keep sub-threshold prices — the branch's DVs target only fork
    // files)
    "q_branch_merge" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_totalprice >= 50000.0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 500 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 700 = 0)
        |SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM merged""".stripMargin,
    // row-level reconciled merge = fork rows surviving BOTH sides'
    // disjoint erasures (main kept <= 200000, the branch kept >= 30000)
    "q_branch_merge_rows" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders
        |WHERE o_totalprice <= 200000.0 AND o_totalprice >= 30000.0""".stripMargin,
    // the published branch line must equal the full content
    "q_sql_branch" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders""".stripMargin,
    // the day-sliced roll-up over the hidden-partitioned table is exact
    "q_time_partition" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type""".stripMargin,
    // the metadata-served exact sums must match a real aggregation
    "q_metadata_sum" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_k
        |FROM orders GROUP BY 1""".stripMargin,
    // a table routed through a named schema serves its data untouched
    "q_sql_namespaces" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    // the manifest-stats broadcast join must match the plain join
    "q_catalog_stats_join" ->
      """SELECT n_name, count(*) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    // dynamic overwrite replaces exactly the batch's partitions
    "q_sql_overwrite_dynamic" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        |       CAST(sum(CAST(CASE WHEN year(o_orderdate) IN (1996, 1999)
        |                          THEN o_totalprice + 500.0
        |                          ELSE o_totalprice END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    // a partition reload must change exactly that partition's rows
    "q_sql_overwrite" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
        |       CAST(sum(CAST(CASE WHEN year(o_orderdate) = 1996
        |                          THEN o_totalprice + 1000.0
        |                          ELSE o_totalprice END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    // schema evolution widens the view, never changes the rows
    "q_sql_add_column" ->
      """SELECT event_type, count(*) AS n,
        |       count(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS n_scored,
        |       CAST(sum(CASE WHEN event_id % 2 <> 0
        |                     THEN CAST(round(value, 0) AS DECIMAL(18,2)) END)
        |            AS DOUBLE) AS sum_score
        |FROM events GROUP BY 1""".stripMargin,
    // the version pin must serve exactly the old snapshot, nothing newer
    "q_sql_timetravel" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1""".stripMargin,
    // the governed CATALOG endpoint must apply exactly the declared
    // transformation q_governed_read's API endpoint applies
    "q_sql_governed" ->
      """SELECT event_type, user_id % 100 AS user_id, count(*) AS n,
        |       CAST(sum(CAST(round(value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1, 2""".stripMargin,
    // the DELETE statement must answer exactly like the API delete
    "q_sql_delete" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey NOT IN (101, 777, 1402) GROUP BY 1""".stripMargin,
    // file skipping through the SQL catalog must not change the answer
    "q_sql_pushdown" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 500 GROUP BY 1""".stripMargin,
    // the rename must relabel, never change, the data
    "q_schema_rename" ->
      """SELECT p_brand, count(*) AS n,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY 1""".stripMargin,
    // upsert-as-replacement ≡ the conditional rewrite, row counts intact
    "q_mor_upsert" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(CASE WHEN l_orderkey IN (101, 777, 1402)
        |                          THEN l_quantity + 100.0 ELSE l_quantity END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    // merge-on-read must answer IDENTICALLY to the copy-on-write delete
    "q_merge_on_read" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey NOT IN (101, 777, 1402) GROUP BY 1""".stripMargin,
    // the SQL-served merge-on-read scan must drop exactly the doomed
    // keys, and the UPDATE running ON the DV table (round 13, no
    // compaction) must touch exactly the live matching rows
    "q_sql_mor_read" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(CASE WHEN o_custkey % 5 = 2
        |                          THEN o_totalprice + 10.0
        |                          ELSE o_totalprice END
        |                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn
        |FROM orders WHERE o_orderkey NOT IN
        |  (1, 2, 3, 4, 5, 6, 7, 32, 33, 34, 35, 36, 37, 38, 39, 64, 65, 66,
        |   67, 68, 69, 70, 96, 97, 98, 99, 100, 101, 102, 103, 128, 129)""".stripMargin,
    // renames are no-emission commits; every generation's rows arrive
    // under the END version's evolved names, the MOR delete's doomed
    // rows included (its key column renames AFTER the delete)
    "q_changes_rename" ->
      """SELECT 'insert' AS _change_type, 1 AS _commit_version, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'delete', 2, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |       min(o_orderkey)
        |FROM orders WHERE o_orderkey IN (2, 4, 6)
        |UNION ALL
        |SELECT 'insert', 4, count(*),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |       min(o_orderkey)
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin,
    // the rename-reconciled scan answers as if every file always carried
    // the evolved name
    "q_sql_rename_read" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 5000""".stripMargin,
    // the alias-normalized stat legs must answer exactly what a full
    // scan of every generation would
    "q_rename_pushdown" ->
      """SELECT count(*) AS n, min(o_orderkey) AS mn, max(o_orderkey) AS mx,
        |       CAST(sum(o_orderkey) AS BIGINT) AS s
        |FROM orders""".stripMargin,
    // the governed feed is the governed view's diff, exactly: v0 inserts
    // the policy-visible rows masked, v2's MOR delete emits its doomed
    // policy-visible rows masked, the policy commit itself emits nothing
    "q_governed_changes" ->
      """WITH src AS (SELECT event_id, user_id % 100 AS user_id, event_type,
        |                    round(value, 0) AS value
        |             FROM events WHERE event_type <> 'error')
        |SELECT 'insert' AS _change_type, 0 AS _commit_version, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM src GROUP BY event_type
        |UNION ALL
        |SELECT 'delete', 2, event_type, count(*),
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |       CAST(sum(user_id) AS BIGINT)
        |FROM src WHERE event_id BETWEEN 1 AND 40 GROUP BY event_type""".stripMargin,
    // the string-keyed MOR delete removes exactly the named sources
    "q_gdpr_delete" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS mn
        |FROM documents WHERE source NOT IN ('src3', 'src7', 'src12')
        |GROUP BY lang""".stripMargin,
    // positional markers must serve exactly the copy-on-write answer:
    // the low-price rows gone, the surviving %100=7 rows zeroed
    "q_positional_dv" ->
      """WITH kept AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 100 = 7 THEN 0.0
        |              ELSE o_totalprice END AS price
        |  FROM orders WHERE o_totalprice >= 50000.0)
        |SELECT count(*) AS n,
        |       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn
        |FROM kept""".stripMargin,
    // the positional feed is the row-level diff exactly: v1 inserts the
    // staged subset, v2's delete emits the doomed live rows, v3's
    // update emits old-value deletes + new-value inserts. Each leg
    // drops when it matches no rows (HAVING) — the engine emits no
    // group for a version that touched nothing, so the pair must agree
    // at ANY scale factor, not only when every leg is non-empty
    "q_changes_positional" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |hd AS (SELECT CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS h
        |       FROM base WHERE p < 30000.0)
        |SELECT 'insert' AS _change_type, 1 AS _commit_version,
        |       count(*) AS n,
        |       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |       min(k) AS mn
        |FROM base HAVING count(*) > 0
        |UNION ALL
        |SELECT 'delete', 2, count(*),
        |       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), min(k)
        |FROM base WHERE p < 30000.0 HAVING count(*) > 0
        |UNION ALL
        |SELECT 'delete', 2 + (SELECT h FROM hd), count(*),
        |       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), min(k)
        |FROM base WHERE p >= 30000.0 AND k % 10 = 1 HAVING count(*) > 0
        |UNION ALL
        |SELECT 'insert', 2 + (SELECT h FROM hd), count(*),
        |       CAST(sum(CAST(1.0 AS DECIMAL(18,2))) AS DOUBLE), min(k)
        |FROM base WHERE p >= 30000.0 AND k % 10 = 1
        |HAVING count(*) > 0""".stripMargin,
    // consolidation must never change the answer: exactly the three
    // deletes' keys are gone, nothing else
    "q_rewrite_dvs" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       min(o_orderkey) AS mn
        |FROM orders WHERE o_orderkey NOT IN
        |  (1, 2, 3, 32, 33, 4, 5, 64, 65, 6, 7, 96, 97)""".stripMargin,
    // the delete must remove exactly the doomed keys, nothing else
    "q_manifest_delete" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey NOT IN (101, 777, 1402) GROUP BY 1""".stripMargin,
    // bloom skipping must not change the point lookup's answer
    "q_manifest_point_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_orderkey IN (101, 777, 1402)""".stripMargin,
    // file skipping must not change the range query's answer
    "q_manifest_skipping" ->
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 500 GROUP BY 1""".stripMargin,
    "q1_pricing" -> pricingSummarySql,
    "q_revenue_by_nation" -> revenueByNationSql,
    "q_local_supplier_volume" -> localSupplierVolumeSql,
    "q_cust_no_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_cust_big_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,
    "q_intersect_buyers" ->
      """SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996""".stripMargin,
    "q_except_all_buyers" ->
      """SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        |EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996""".stripMargin,
    "q_intersect_all_buyers" ->
      """SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        |INTERSECT ALL
        |SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996""".stripMargin,
    "q_string_agg" ->
      """SELECT o_orderpriority,
        |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_except_buyers" ->
      """SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice)""".stripMargin,
    "q_window_ranks" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        | PERCENT_RANK() OVER w AS pct_rank,
        | CUME_DIST() OVER w AS cume
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)""".stripMargin,
    "q_window_lag" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(date_diff('day', LAG(l_shipdate, 1) OVER w, l_shipdate) AS INTEGER) AS days_since_prev,
        | CAST(DENSE_RANK() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate) AS INTEGER) AS ship_rank
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)""".stripMargin,
    "q_distinct_parts" ->
      "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY l_returnflag",
    "q_string_ops" ->
      """SELECT p_partkey, upper(p_brand) AS brand_upper, substr(p_type, 1, 5) AS type_prefix,
        | CAST(length(p_name) AS INTEGER) AS name_len, p_brand || '-' || p_type AS brand_type
        |FROM part""".stripMargin,
    "q_date_parts" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
        | CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS mon, count(*) AS n
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_csv_roundtrip" -> "SELECT * FROM nation",
    "q_jsonl_roundtrip" -> "SELECT * FROM nation",
    "q_quarantine" -> quarantineSql,
  )
}
