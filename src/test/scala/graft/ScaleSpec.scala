package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-level assertions for the scale-technique operators: the point of
  * each technique is a plan property, not just a correct answer. */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._

  test("partitioned scan prunes partitions (PartitionFilters on yr)") {
    val df = operators.ScaleOps.partitionedScan(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(yr"), plan.take(2000))
  }

  test("latest-partition discovery finds the true max and prunes to one dir") {
    val df = operators.ScaleOps.latestPartitionScan(spark, sf)
    val rows = df.collect()
    // every output row carries the discovered year = the data's true max
    val trueMax = Tables.orders(spark, sf)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.year(col("o_orderdate")))).collect()(0).getInt(0)
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("yr") == trueMax))
    // and the scan is partition-pruned to that single directory
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(yr") &&
      s"\\(yr#\\d+ = $trueMax\\)".r.findFirstIn(plan).isDefined, plan.take(2000))
    // discovery on a missing root degrades to None, not an exception
    assert(operators.ScaleOps.latestAvailable(
      spark, "/tmp/graft_no_such_dir_xyz", "yr").isEmpty)
  }

  test("bucketed join runs without a shuffle exchange") {
    import spark.implicits._
    // build just the join (no agg) over freshly bucketed tables
    operators.ScaleOps.bucketedJoin(spark, sf).collect() // creates the tables
    val pid = java.lang.ProcessHandle.current().pid()
    // force a merge join: at fixture scale the planner prefers broadcast,
    // which bypasses bucketing entirely ("Bucketed: false")
    val j = spark.table(s"graft_li_bkt_$pid").hint("merge")
      .join(spark.table(s"graft_ord_bkt_$pid"), $"l_orderkey" === $"o_orderkey")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      plan.take(2000))
  }

  test("salted aggregation equals direct aggregation") {
    val salted = operators.ScaleOps.saltedAgg(spark, sf)
      .orderBy("event_type").collect().toSeq
    val direct = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("event_type").collect().toSeq
    assert(salted == direct)
  }

  test("salted join equals direct join and spreads every supplier over salts") {
    val plan = operators.ScaleOps.saltedJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("salt"),
      s"salted join must shuffle on the salted key:\n$plan")
    val salted = operators.ScaleOps.saltedJoin(spark, sf)
      .orderBy("s_nationkey").collect().toSeq
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.supplier(spark, sf),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("s_nationkey").collect().toSeq
    assert(salted == direct)
  }

  test("extensions class registers native functions for SQL") {
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may return the shared test session instead; that one is
    // built with the extensions too, and a new session of either keeps the
    // injected functions without any registration call
    val fresh = s2.newSession()
    val r = fresh.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("extensions expose BOTH sides of the Bloom pair + levenshtein_within") {
    // a pure-SQL user must be able to BUILD a sketch, not just probe one —
    // bloom_build (aggregate) and levenshtein_within ride the same injection
    // path as the scalar expressions
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val fresh = s2.newSession()
    fresh.range(100).createOrReplaceTempView("ids")
    val hit = fresh.sql(
      """WITH sk AS (SELECT bloom_build(id, 4096, 3) AS s FROM ids)
        |SELECT bloom_contains(s, CAST(42 AS BIGINT)),
        |       bloom_contains(s, CAST(987654321 AS BIGINT))
        |FROM sk""".stripMargin).collect()(0)
    val lev = fresh.sql(
      "SELECT levenshtein_within('kitten', 'sitting', 3)").collect()(0).getInt(0)
    assert(hit.getBoolean(0) && lev == 3)
  }

  test("misra-gries: candidates cover every frequent key on zipf-ish streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // zipf-ish: frequent heads + a long unique tail, shuffled
    val stream = rnd.shuffle(
      (0 until 5000).map(i => (i % 97) match {
        case m if m < 30 => (m % 7).toLong        // 7 heads, ~31% of rows
        case _ => 1000L + i                        // unique tail
      })).toSeq
    for (k <- Seq(16, 64)) {
      val cands = stream.toDF("key").repartition(8)
        .agg(functions.FreqItemsAgg.freqItemsMg(col("key"), k))
        .collect()(0).getSeq[Long](0)
      assert(cands.size <= k, s"k=$k size=${cands.size}")
      val exact = stream.groupBy(identity).view.mapValues(_.size)
      val mustKeep = exact.collect {
        case (key, c) if c > stream.size.toDouble / (k + 1) => key }.toSet
      assert(mustKeep.subsetOf(cands.toSet),
        s"k=$k lost ${mustKeep -- cands.toSet}")
    }
  }

  test("heavy hitters equals the naive groupBy-count frequent set") {
    import spark.implicits._
    val got = operators.ScaleOps.heavyHitters(spark, sf)
      .orderBy($"skew_key").collect().toSeq
    val u = $"l_orderkey" * 10 + $"l_linenumber"
    val rows = Tables.lineitem(spark, sf)
      .select(when(u % 100 < 70, u % 20).otherwise(u).as("skew_key"))
    val n = rows.count()
    val naive = rows.groupBy($"skew_key").agg(count(lit(1)).as("n"))
      .filter($"n" >= 0.01 * n)
      .select($"skew_key", $"n", ($"n".cast("double") / n).as("share"))
      .orderBy($"skew_key").collect().toSeq
    assert(got == naive && got.nonEmpty)
  }

  test("compaction shrinks the file count and preserves every row") {
    import spark.implicits._
    val agg = operators.ScaleOps.compactFiles(spark, sf).collect()
      .map(r => r.getAs[String]("o_orderstatus") -> r.getAs[Long]("n")).toMap
    val direct = Tables.orders(spark, sf).groupBy($"o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    assert(agg == direct, "compacted copy diverged from the source")
    val pid = java.lang.ProcessHandle.current().pid()
    val tmp = System.getProperty("java.io.tmpdir")
    def nFiles(d: String): Int = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(f => f.isFile && f.getPath.getName.startsWith("part-"))
    }
    val (frag, compacted) =
      (nFiles(s"$tmp/graft_frag_$pid"), nFiles(s"$tmp/graft_compacted_$pid"))
    assert(frag == 64, s"fragmented fixture wrote $frag files")
    assert(compacted < frag, s"compaction did not shrink: $compacted files")
    // size-derived target: the tiny fixture packs into very few files
    assert(compacted <= 4, s"expected a handful of size-targeted files, got $compacted")
  }

  test("dynamic backfill rewrites only the 1997 partition") {
    import spark.implicits._
    val got = operators.ScaleOps.backfillPartition(spark, sf).collect()
      .map(r => r.getAs[Int]("yr") -> (r.getAs[Long]("n"), r.getAs[Double]("sum_price"))).toMap
    val direct = Tables.orders(spark, sf)
      .groupBy(year($"o_orderdate").as("yr"))
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("s"))
      .collect().map(r => r.getAs[Int]("yr") ->
        (r.getAs[Long]("n"), r.getAs[Double]("s"))).toMap
    got.foreach { case (yr, (n, sum)) =>
      val (dn, dsum) = direct(yr)
      assert(n == dn, s"yr=$yr row count changed")
      if (yr == 1997)
        assert(math.abs(sum - (dsum + 5.0 * dn)) < 1e-6, "1997 not repriced")
      else assert(math.abs(sum - dsum) < 1e-6, s"yr=$yr touched by the backfill")
    }
    assert(got.keySet == direct.keySet, "backfill added/removed partitions")
  }

  test("weighted sample equals the sort-based top-k by the same priorities") {
    import spark.implicits._
    val got = operators.ScaleOps.weightedSample(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("priority"))).toSet
    val docs = Tables.documents(spark, sf).select($"doc_id",
      size(split(trim($"text"), "\\s+")).as("n_tokens"))
    val uu = (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5d) / 4294967296.0d
    val want = docs.select($"doc_id", (log(uu) / $"n_tokens".cast("double")).as("pri"))
      .orderBy($"pri".desc, $"doc_id").limit(20)
      .select($"doc_id", round($"pri", 6).as("priority"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("priority"))).toSet
    assert(got == want && got.size == 20)
  }

  test("ANN audits: bounded broadcast build side, top-k pushed below the exchange") {
    for (df <- Seq(operators.SimilarityOps.hardNegatives(spark, sf),
        operators.SimilarityOps.labelNoise(spark, sf))) {
      val plan = df.queryExecution.executedPlan.toString
      // the only nested-loop join builds the bounded audit slice, broadcast
      assert(plan.contains("BroadcastNestedLoopJoin") &&
        plan.contains("BroadcastExchange"), plan.take(2000))
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      // rank<=k runs map-side before the query-keyed shuffle
      assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    }
  }

  test("incremental dedup: corpus side never broadcast, exact check joins hashes") {
    val df = operators.DedupOps.incrementalDedup(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the only broadcasts are the O(1) cut row and (at fixture scale, AQE's
    // choice) batch-sized sides — the corpus' shingle side joins via the
    // blocked equi-join, so no nested-loop join over text
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("md5"), plan.take(2000)) // exact check on hashes, not text
  }

  test("variant shredding: extraction pushed into the scan as a typed subcolumn") {
    import org.apache.spark.sql.execution.ExplainMode
    val df = operators.OlapExtras.variantShredded(spark, sf)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the parquet scan reads ONLY the shredded typed int subcolumn of the
    // variant (field id 0 = $.k's typed_value) — not the variant binary
    assert(plan.contains("struct<0:int>"), plan.take(2000))
    assert(!plan.toLowerCase.contains("variant_get"), plan.take(2000))
    assert(!plan.contains("ReadSchema: struct<v:variant"), plan.take(2000))
    // and the pushed read is an identity on $.k: same result as the
    // decode-per-row formulation over the raw JSON
    val got = df.collect().map(r => (r.get(0), r.getLong(1))).toSet
    val want = graft.SparkEntry.queries("q_variant_get")(spark, sf)
      .collect().map(r => (r.get(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }
}
