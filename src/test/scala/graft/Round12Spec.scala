package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 regressions — the round-11 advisor findings, each pinned:
  * the GROUP BY metadata-pushdown null-purity hole, INT identity-column
  * overflow under monotonically_increasing_id, and ProcessingTime-trigger
  * streams frozen at their start version. */
class Round12Spec extends AnyFunSuite {
  import TestSpark._
  import sources.{ManifestTable, Snapshot}

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_r12_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  test("GROUP BY metadata pushdown declines on null-bearing grouping columns") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField,
      StructType}
    val root = freshDir("gbn")
    spark.conf.set("spark.sql.catalog.g12gb",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12gb.root", root)
    spark.sql("CREATE TABLE g12gb.default.t (g INT, v DOUBLE)")
    // ONE file whose g-range is degenerate (min == max == 7) but which
    // also holds NULL rows: parquet min/max exclude NULLs, so the purity
    // check alone would call this file a pure g=7 fragment, report its
    // FULL row count (incl. the NULL rows) under 7, and drop the NULL
    // group from the answer entirely
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(7: Integer, 1.0),
      org.apache.spark.sql.Row(7: Integer, 2.0),
      org.apache.spark.sql.Row(null, 3.0))
    spark.createDataFrame(rows, StructType(Seq(
        StructField("g", IntegerType), StructField("v", DoubleType))))
      .coalesce(1).createOrReplaceTempView("r12_gbn_src")
    spark.sql("INSERT INTO g12gb.default.t SELECT * FROM r12_gbn_src")
    val q = spark.sql(
      "SELECT g, count(*) AS n FROM g12gb.default.t GROUP BY g")
    assert(!q.queryExecution.executedPlan.toString.contains("metadata agg"),
      "a null-bearing grouping column must refuse the value-purity proof:\n" +
        q.queryExecution.executedPlan)
    val got = q.collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
        r.getLong(1))).toSet
    assert(got == Set((Some(7), 2L), (None, 1L)),
      s"the NULL group must survive and g=7 must count only non-null rows: $got")
    // control: a nulls-free value-pure layout still serves from metadata
    spark.sql("CREATE TABLE g12gb.default.p (g INT, v DOUBLE)")
    Seq(1, 2).foreach { g =>
      spark.sql(s"INSERT INTO g12gb.default.p VALUES ($g, 1.0), ($g, 2.0)")
    }
    val qp = spark.sql(
      "SELECT g, count(*) AS n FROM g12gb.default.p GROUP BY g")
    assert(qp.queryExecution.executedPlan.toString.contains("metadata agg"),
      "the nulls-free pure layout must stay metadata-served")
    assert(qp.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((1, 2L), (2, 2L)))
    ManifestTable.destroy(root)
  }

  test("INT identity columns: dense ids across tasks, no silent cast wrap") {
    val root = freshDir("idi")
    spark.conf.set("spark.sql.catalog.g12id",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12id.root", root)
    spark.sql("""CREATE TABLE g12id.default.t
      (id INT GENERATED ALWAYS AS IDENTITY, v BIGINT)""")
    // 8 write tasks: monotonically_increasing_id for any task >= 1 is
    // >= 2^33, so the pre-fix non-ANSI INT cast wrapped (2^33+1 -> 1,
    // colliding with task 0) — the dense per-batch ordinal must assign
    // exactly 1..1000 instead
    spark.range(1000).repartition(8).select(col("id").as("v"))
      .createOrReplaceTempView("r12_idi_src")
    spark.sql("INSERT INTO g12id.default.t (v) SELECT v FROM r12_idi_src")
    val ids = spark.sql("SELECT id FROM g12id.default.t").collect()
      .map(_.getInt(0)).toSeq
    assert(ids.size == 1000 && ids.toSet == (1 to 1000).toSet,
      s"INT identity must be the dense 1..1000 batch range, got " +
        s"${ids.min}..${ids.max} with ${ids.distinct.size} distinct")
    // the next commit's frontier continues past the dense batch
    spark.sql("INSERT INTO g12id.default.t (v) VALUES (CAST(0 AS BIGINT))")
    val mx = spark.sql("SELECT max(id) AS m FROM g12id.default.t")
      .head().getInt(0)
    assert(mx == 1001, s"the follow-up id must be 1001, got $mx")
    ManifestTable.destroy(root)
  }

  test("generated columns recompute under row-level UPDATE and MERGE insert") {
    val root = freshDir("gen")
    spark.conf.set("spark.sql.catalog.g12gn",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12gn.root", root)
    spark.sql("""CREATE TABLE g12gn.default.t
      (k BIGINT, d DATE, yr INT GENERATED ALWAYS AS (year(d)))""")
    spark.sql("""INSERT INTO g12gn.default.t VALUES
      (CAST(1 AS BIGINT), DATE'1995-06-15', NULL),
      (CAST(2 AS BIGINT), DATE'1995-11-30', NULL),
      (CAST(3 AS BIGINT), DATE'1997-01-05', NULL)""")
    // the UPDATE changes the DEPENDENCY; the delta writer must re-derive
    // yr on the re-inserted rows (pre-fix the statement was refused;
    // without recompute it would leave yr=1995 stale)
    spark.sql("""UPDATE g12gn.default.t SET d = date_add(d, 400)
      WHERE year(d) = 1995""")
    val afterUpdate = spark.sql("SELECT k, d, yr FROM g12gn.default.t")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getInt(2)))
      .toSet
    assert(afterUpdate == Set(
      (1L, "1996-07-19", 1996), (2L, "1997-01-03", 1997),
      (3L, "1997-01-05", 1997)),
      s"UPDATE must recompute yr = year(d) on every rewritten row: $afterUpdate")
    // a MERGE insert derives the generated value too (nobody supplies it)
    spark.sql("SELECT CAST(9 AS BIGINT) AS k, DATE'2001-03-03' AS d")
      .createOrReplaceTempView("r12_gen_src")
    spark.sql("""MERGE INTO g12gn.default.t t USING r12_gen_src s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET d = s.d
      WHEN NOT MATCHED THEN INSERT (k, d) VALUES (s.k, s.d)""")
    val merged = spark.sql("SELECT yr FROM g12gn.default.t WHERE k = 9")
      .collect().map(_.getInt(0)).toSeq
    assert(merged == Seq(2001),
      s"a MERGE insert must derive the generated column: $merged")
    // non-deterministic generation still refuses the recompute loudly
    ManifestTable.destroy(root)
  }

  test("bulk-insert MERGE on a bucketed table distributes and stamps insert files") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec,
      SortMergeJoinExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(nodes) ++ (p match {
        case q: QueryStageExec => nodes(q.plan)
        case _ => Seq.empty
      }))
    def joinShuffles(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val joins = nodes(plan).filter(n => n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec])
      (joins.size,
        joins.flatMap(_.children.flatMap(nodes))
          .count(_.isInstanceOf[ShuffleExchangeLike]))
    }
    val root = freshDir("mgb")
    val dir = s"$root/ord"
    spark.conf.set("spark.sql.catalog.g12mb",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12mb.root", root)
    val prevBucketing = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false")
    val prevPush = spark.conf
      .get("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "false")
    val prevBroadcast = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("""CREATE TABLE g12mb.default.ord
        (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
        PARTITIONED BY (bucket(8, o_custkey))""")
      spark.sql("""CREATE TABLE g12mb.default.cust
        (c_custkey BIGINT, c_acctbal DOUBLE)
        PARTITIONED BY (bucket(8, c_custkey))""")
      Tables.orders(spark, sf)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("r12_mgb_ord")
      Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
        .createOrReplaceTempView("r12_mgb_cust")
      spark.sql("""INSERT INTO g12mb.default.ord
        SELECT * FROM r12_mgb_ord WHERE o_orderkey % 2 = 0""")
      spark.sql("INSERT INTO g12mb.default.cust SELECT * FROM r12_mgb_cust")
      val before = ManifestTable
        .listLines(dir, ManifestTable.currentVersion(dir))
        .map(ManifestTable.parseEntry(_).name).toSet
      // the bulk-insert MERGE: every odd orderkey is unmatched → inserts
      spark.sql("""MERGE INTO g12mb.default.ord t USING r12_mgb_ord s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN NOT MATCHED THEN INSERT *""")
      val entries = ManifestTable
        .listLines(dir, ManifestTable.currentVersion(dir))
        .map(ManifestTable.parseEntry)
      val insertFiles = entries.filterNot(e => before.contains(e.name))
        .filter(_.name.startsWith("w-"))
      assert(insertFiles.size > 1,
        s"a bulk-insert MERGE must spread inserts over >1 file, got " +
          s"${insertFiles.size}")
      assert(entries.forall(_.bucket.isDefined),
        "every file must carry its bucket id after the MERGE — " +
          entries.filter(_.bucket.isEmpty).map(_.name).mkString(","))
      // …so the storage-partitioned join stays shuffle-free THROUGH the
      // MERGE, and the answer is exact
      val join = spark.sql("""SELECT o.o_orderkey, o.o_totalprice, c.c_acctbal
        FROM g12mb.default.ord o JOIN g12mb.default.cust c
          ON o.o_custkey = c.c_custkey""")
      val (j, s) = joinShuffles(join)
      assert(j == 1 && s == 0, s"post-MERGE join: $j joins, $s shuffles")
      val want = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_acctbal")
        .collect().map(_.toSeq).toSet
      assert(join.collect().map(_.toSeq).toSet == want,
        "the MERGE must leave exactly the full orders content")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        prevPush)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
    ManifestTable.destroy(s"$root/ord")
    ManifestTable.destroy(s"$root/cust")
  }

  test("SUM/AVG metadata pushdown: exact from recorded sums, honest decline") {
    val root = freshDir("sum")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g12su",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12su.root", root)
    spark.sql("""CREATE TABLE g12su.default.t
      (yr INT, k BIGINT, price DECIMAL(18,2), dv DOUBLE)
      TBLPROPERTIES ('graft.write.sum' = 'price,k,dv')""")
    Tables.orders(spark, sf).select(
        year(col("o_orderdate")).cast("int").as("yr"),
        col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        col("o_totalprice").as("dv"))
      .createOrReplaceTempView("r12_sum_src")
    Seq(1996, 1997).foreach { y =>
      spark.sql(s"INSERT INTO g12su.default.t SELECT * FROM r12_sum_src WHERE yr = $y")
    }
    def served(q: org.apache.spark.sql.DataFrame): Boolean =
      q.queryExecution.executedPlan.toString.contains("metadata agg")
    val want = spark.sql("""SELECT count(*), CAST(sum(price) AS DOUBLE),
      sum(k) FROM r12_sum_src WHERE yr IN (1996, 1997)""").head()
    // global SUM: served from the recorded per-file sums, exactly
    val g = spark.sql("""SELECT count(*) AS n, CAST(sum(price) AS DOUBLE)
      AS sp, sum(k) AS sk FROM g12su.default.t""")
    assert(served(g), "global SUM must be metadata-served:\n" +
      g.queryExecution.executedPlan)
    assert(g.head() == want)
    // AVG rides the partial-pushdown rewrite to SUM/COUNT
    val a = spark.sql(
      "SELECT avg(price) AS ap, avg(k) AS ak FROM g12su.default.t")
    assert(served(a), "AVG must rewrite to SUM/COUNT and stay served:\n" +
      a.queryExecution.executedPlan)
    val aWant = spark.sql("""SELECT avg(CAST(price AS DECIMAL(18,2))) AS ap,
      avg(k) AS ak FROM r12_sum_src WHERE yr IN (1996, 1997)""").head()
    assert(a.head() == aWant)
    // filtered (exact pushdown) and grouped (value-pure files) both serve
    val f = spark.sql("""SELECT CAST(sum(price) AS DOUBLE) AS sp
      FROM g12su.default.t WHERE yr = 1996""")
    assert(served(f), "filtered SUM must stay metadata-served")
    assert(f.head().getDouble(0) == spark.sql("""SELECT
      CAST(sum(price) AS DOUBLE) FROM r12_sum_src WHERE yr = 1996""")
      .head().getDouble(0))
    val grp = spark.sql("""SELECT yr, CAST(sum(price) AS DOUBLE) AS sp
      FROM g12su.default.t GROUP BY yr""")
    assert(served(grp), "grouped SUM must stay metadata-served")
    assert(grp.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet ==
      spark.sql("""SELECT yr, CAST(sum(price) AS DOUBLE)
        FROM r12_sum_src WHERE yr IN (1996, 1997) GROUP BY yr""")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet)
    // row-level DML keeps the tier armed: rewrite survivors' and
    // re-inserted rows' sums accumulate during the write itself
    spark.sql("UPDATE g12su.default.t SET price = price + 10.0 WHERE k % 7 = 0")
    spark.sql("DELETE FROM g12su.default.t WHERE k % 11 = 5")
    val gd = spark.sql("""SELECT count(*) AS n, CAST(sum(price) AS DOUBLE)
      AS sp, sum(k) AS sk FROM g12su.default.t""")
    assert(served(gd), "SUM must stay metadata-served through UPDATE/DELETE:\n"
      + gd.queryExecution.executedPlan)
    val wantD = spark.sql("""SELECT count(*),
      CAST(sum(CASE WHEN k % 7 = 0 THEN price + 10.0 ELSE price END) AS DOUBLE),
      sum(k)
      FROM r12_sum_src WHERE yr IN (1996, 1997) AND k % 11 != 5""").head()
    assert(gd.head() == wantD,
      s"post-DML metadata sums must be exact: ${gd.head()} vs $wantD")
    // DOUBLE sums are order-dependent → never recorded, never served
    val d = spark.sql("SELECT sum(dv) AS sd FROM g12su.default.t")
    assert(!served(d), "a double SUM must decline to the scan")
    // a file staged WITHOUT sums makes the answer unknowable from
    // metadata: decline, stay exact
    ManifestTable.merge(spark, dir, spark.sql(
      "SELECT * FROM r12_sum_src WHERE yr = 1998").coalesce(1), Seq("k"))
    val g2 = spark.sql("""SELECT count(*) AS n, CAST(sum(price) AS DOUBLE)
      AS sp FROM g12su.default.t""")
    assert(!served(g2), "a sum-less file must decline the pushdown")
    val want2 = spark.sql("""SELECT count(*),
      CAST(sum(CASE WHEN yr IN (1996, 1997) AND k % 7 = 0
               THEN price + 10.0 ELSE price END) AS DOUBLE)
      FROM r12_sum_src
      WHERE yr = 1998 OR (yr IN (1996, 1997) AND k % 11 != 5)""").head()
    assert(g2.head() == want2)
    // maintenance RE-ARMS the tier: compaction re-harvests declared sums
    spark.sql("CALL g12su.system.optimize(table => 't', num_files => 2)")
    val g3 = spark.sql("""SELECT count(*) AS n, CAST(sum(price) AS DOUBLE)
      AS sp FROM g12su.default.t""")
    assert(served(g3), "optimize must re-harvest declared sums:\n" +
      g3.queryExecution.executedPlan)
    assert(g3.head() == want2)
    ManifestTable.destroy(root)
  }

  test("hidden time partitioning: raw-ts predicates prune day-clustered files") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = freshDir("tpt")
    val dir = s"$root/ev"
    spark.conf.set("spark.sql.catalog.g12tp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12tp.root", root)
    spark.sql("""CREATE TABLE g12tp.default.ev
      (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
       value DOUBLE)
      PARTITIONED BY (days(ts))""")
    val tbl = spark.sql("SHOW CREATE TABLE g12tp.default.ev").head().getString(0)
    assert(tbl.contains("days(ts)"), s"the transform must round-trip: $tbl")
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .createOrReplaceTempView("r12_tpt_src")
    // the range clustering makes one file per period only when the write
    // width reaches the batch's period count (the fixture spans ~30 days;
    // the suite session runs 4 shuffle partitions → whole-period files of
    // several days each, still prunable); widen for the pure layout
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try spark.sql("INSERT INTO g12tp.default.ev SELECT * FROM r12_tpt_src")
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val entries = ManifestTable
      .listLines(dir, ManifestTable.currentVersion(dir))
      .map(ManifestTable.parseEntry)
    assert(entries.size > 1, "the insert must cluster into multiple files")
    assert(entries.forall(_.ranges.contains("ts")),
      "every staged file must carry a ts range (INT64 micros, never INT96)")
    def scansOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case b: BatchScanExec => b.scan }
        .collect { case m: sources.ManifestFilesScan => m }
    }
    // the window predicate is on the RAW column — nobody ever supplied or
    // queried a derived day — and it must skip files
    val q = spark.sql("""SELECT * FROM g12tp.default.ev
      WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
        AND ts < TIMESTAMP'2024-01-13 00:00:00'""")
    val s1 = scansOf(q)
    assert(s1.nonEmpty && s1.head.keptFiles < s1.head.totalFiles,
      s"a raw-ts range must prune day-clustered files " +
        s"(${s1.map(s => s"${s.keptFiles}/${s.totalFiles}").mkString(",")})")
    val want = spark.sql("""SELECT count(*) FROM r12_tpt_src
      WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
        AND ts < TIMESTAMP'2024-01-13 00:00:00'""").head().getLong(0)
    assert(q.count() == want, "pruning must never change the answer")
    // the t$partitions inventory renders period-pure files by their day
    // ('*' for boundary-straddling files — honest, never guessed) and
    // its row totals stay exact
    val parts = spark.sql("""SELECT partition, n_rows
      FROM g12tp.default.`ev$partitions`""").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(parts.exists(_._1.matches("""days\(ts\)=2024-01-\d\d""")),
      s"day partitions must render: ${parts.map(_._1).mkString(",")}")
    assert(parts.map(_._2).sum ==
      spark.sql("SELECT count(*) FROM r12_tpt_src").head().getLong(0))
    ManifestTable.destroy(root)
  }

  test("branch refs: invisible writes, atomic fast-forward, diverged refusal") {
    val root = freshDir("brc")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g12br",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12br.root", root)
    spark.sql("CREATE TABLE g12br.default.t (k BIGINT, v DOUBLE)")
    Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("r12_brc_src")
    spark.sql("""INSERT INTO g12br.default.t
      SELECT * FROM r12_brc_src WHERE k % 2 = 0""")
    val mainBefore = spark.sql("SELECT count(*) FROM g12br.default.t")
      .head().getLong(0)
    spark.sql("CALL g12br.system.branch(table => 't', name => 'wap')")
    // multi-commit candidate line: an insert AND a row-level UPDATE land
    // on the branch; main sees neither
    spark.sql("""INSERT INTO g12br.default.`t@wap`
      SELECT * FROM r12_brc_src WHERE k % 2 = 1""")
    spark.sql("UPDATE g12br.default.`t@wap` SET v = 0.0 WHERE k % 10 = 3")
    // schema evolution is part of the candidate line too
    spark.sql("ALTER TABLE g12br.default.`t@wap` ADD COLUMN note STRING")
    assert(!spark.table("g12br.default.t").columns.contains("note"),
      "branch schema evolution must stay invisible to main")
    assert(spark.sql("SELECT count(*) FROM g12br.default.t")
      .head().getLong(0) == mainBefore,
      "branch commits must be invisible to main")
    assert(ManifestTable.branches(dir) == Seq("wap"))
    // t$branches: the operator view — fork point, head, divergence flag
    val bm = spark.sql("""SELECT branch, fork_version, head_version,
      diverged FROM g12br.default.`t$branches`""").collect()
    assert(bm.length == 1 && bm.head.getString(0) == "wap" &&
      bm.head.getInt(1) == 1 && bm.head.getInt(2) > bm.head.getInt(1) &&
      !bm.head.getBoolean(3), s"got ${bm.mkString(",")}")
    // the candidate line has its own history: time travel reads the
    // branch as it was at the cut (v0 clone, v1 fork-point property)
    assert(spark.sql(
      "SELECT count(*) FROM g12br.default.`t@wap` VERSION AS OF 1")
      .head().getLong(0) == mainBefore,
      "branch time travel must serve the fork-point content")
    // publish: one commit, exact content, branch retired
    spark.sql("CALL g12br.system.fastforward(table => 't', name => 'wap')")
    val want = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 10 === 3,
          0.0).otherwise(col("o_totalprice")).as("v"))
      .collect().map(_.toSeq).toSet
    assert(spark.sql("SELECT k, v FROM g12br.default.t")
      .collect().map(_.toSeq).toSet == want,
      "fast-forward must publish exactly the branch head")
    assert(spark.table("g12br.default.t").columns.contains("note"),
      "the branch's schema evolution must publish with it")
    assert(ManifestTable.branches(dir).isEmpty, "publish retires the branch")
    intercept[Exception] {
      spark.sql("SELECT * FROM g12br.default.`t@wap`").collect()
    }
    // diverged: main advances after the cut → the publish refuses and
    // main keeps its own line; drop_branch abandons cleanly
    spark.sql("CALL g12br.system.branch(table => 't', name => 'risky')")
    spark.sql("""INSERT INTO g12br.default.`t@risky`
      VALUES (CAST(-1 AS BIGINT), 1.0, 'x')""")
    spark.sql(
      "INSERT INTO g12br.default.t VALUES (CAST(-2 AS BIGINT), 2.0, 'y')")
    assert(spark.sql("SELECT diverged FROM g12br.default.`t$branches`")
      .head().getBoolean(0), "main moved past the fork — flagged diverged")
    val e = intercept[Exception] {
      spark.sql("CALL g12br.system.fastforward(table => 't', name => 'risky')")
    }
    assert(e.getMessage != null && (e.getMessage.contains("fork point") ||
        Option(e.getCause).exists(_.getMessage.contains("fork point"))),
      s"diverged fast-forward must refuse explicitly: ${e.getMessage}")
    assert(!spark.sql("SELECT k FROM g12br.default.t").collect()
      .exists(_.getLong(0) == -1L),
      "a refused publish must leave main untouched")
    spark.sql("CALL g12br.system.drop_branch(table => 't', name => 'risky')")
    assert(ManifestTable.branches(dir).isEmpty)
    // a content-preserving REWRITE on main (compaction) does NOT block a
    // publish — the branch was audited against the same content
    spark.sql("CALL g12br.system.branch(table => 't', name => 'ok')")
    spark.sql("""INSERT INTO g12br.default.`t@ok`
      VALUES (CAST(-3 AS BIGINT), 3.0, 'z')""")
    val beforeCompact = spark.sql("SELECT count(*) FROM g12br.default.t")
      .head().getLong(0)
    spark.sql("CALL g12br.system.optimize(table => 't', num_files => 1)")
    spark.sql("CALL g12br.system.fastforward(table => 't', name => 'ok')")
    assert(spark.sql("SELECT count(*) FROM g12br.default.t")
      .head().getLong(0) == beforeCompact + 1,
      "a rewrite-only main advance must not block the publish")
    ManifestTable.destroy(root)
  }

  test("hidden month partitioning on a DATE column prunes raw-date predicates") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = freshDir("tpd")
    spark.conf.set("spark.sql.catalog.g12td",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12td.root", root)
    spark.sql("""CREATE TABLE g12td.default.ord
      (k BIGINT, d DATE, v DOUBLE) PARTITIONED BY (months(d))""")
    Tables.orders(spark, sf).select(col("o_orderkey").as("k"),
        col("o_orderdate").as("d"), col("o_totalprice").as("v"))
      .createOrReplaceTempView("r12_tpd_src")
    // ~7 years of order dates → ~84 months; widen the write so most files
    // are month-pure
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try spark.sql("INSERT INTO g12td.default.ord SELECT * FROM r12_tpd_src")
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    def scansOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case b: BatchScanExec => b.scan }
        .collect { case m: sources.ManifestFilesScan => m }
    }
    // a predicate on the RAW DATE column prunes (INT32 epoch-day stats vs
    // the converted Date/LocalDate bound)
    val q = spark.sql("""SELECT * FROM g12td.default.ord
      WHERE d >= DATE'1994-03-01' AND d < DATE'1994-06-01'""")
    val s1 = scansOf(q)
    assert(s1.nonEmpty && s1.head.keptFiles < s1.head.totalFiles,
      s"a raw-date window must prune month-clustered files " +
        s"(${s1.map(s => s"${s.keptFiles}/${s.totalFiles}").mkString(",")})")
    assert(q.count() == spark.sql("""SELECT count(*) FROM r12_tpd_src
      WHERE d >= DATE'1994-03-01' AND d < DATE'1994-06-01'""")
      .head().getLong(0))
    ManifestTable.destroy(root)
  }

  test("merge-on-read SQL scan: DV tables serve live rows without compaction") {
    val root = freshDir("mor")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g12mo",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12mo.root", root)
    spark.sql("""CREATE TABLE g12mo.default.t
      (k BIGINT, v DOUBLE, tag STRING)
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    Tables.orders(spark, sf).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("v"),
        col("o_orderstatus").as("tag"))
      .repartition(4, col("k"))
      .createOrReplaceTempView("r12_mor_spec_src")
    spark.sql("INSERT INTO g12mo.default.t SELECT * FROM r12_mor_spec_src")
    val doomed = spark.sql("SELECT k FROM r12_mor_spec_src ORDER BY k LIMIT 5")
      .collect().map(_.getLong(0))
    spark.sql(s"""DELETE FROM g12mo.default.t
      WHERE k IN (${doomed.mkString(", ")})""")
    assert(Snapshot.read(dir, ManifestTable.currentVersion(dir)).dvs
      .nonEmpty, "the MOR delete must publish a #dv marker, not rewrite")
    // the scan itself serves live rows (pre-fix: refused until compaction)
    val q = spark.sql("SELECT k, v FROM g12mo.default.t")
    assert(q.queryExecution.executedPlan.toString.contains("merge-on-read"),
      "the plan must show the MOR scan:\n" + q.queryExecution.executedPlan)
    val want = spark.sql(s"""SELECT k, v FROM r12_mor_spec_src
      WHERE k NOT IN (${doomed.mkString(", ")})""")
      .collect().map(_.toSeq).toSet
    assert(q.collect().map(_.toSeq).toSet == want,
      "the MOR scan must drop exactly the doomed keys")
    // a projection WITHOUT the key column still filters (the reader
    // decodes the DV column internally and projects back)
    val s2 = spark.sql("SELECT CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) " +
      "FROM g12mo.default.t").head().getDouble(0)
    val w2 = spark.sql(s"""SELECT CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)
      FROM r12_mor_spec_src WHERE k NOT IN (${doomed.mkString(", ")})""")
      .head().getDouble(0)
    assert(s2 == w2, s"unprojected-key MOR sum: $s2 vs $w2")
    // COUNT(*) is metadata-SERVED under the counted keyed marker (round
    // 15: the MOR delete priced its doomed-live hits); every other
    // aggregate still declines (a doomed row may hold the extremum)
    val cnt = spark.sql("SELECT count(*) AS n FROM g12mo.default.t")
    assert(cnt.queryExecution.executedPlan.toString.contains("metadata agg"),
      "counted keyed markers keep COUNT(*) metadata-served:\n" +
        cnt.queryExecution.executedPlan)
    assert(cnt.head().getLong(0) == want.size)
    val mx = spark.sql("SELECT max(v) FROM g12mo.default.t")
    assert(!mx.queryExecution.executedPlan.toString.contains("metadata agg"))
    // LIMIT still works (the file-prefix shortcut declines; per-file caps
    // count LIVE rows)
    assert(spark.sql("SELECT k FROM g12mo.default.t LIMIT 7").count() == 7)
    // compaction materializes the deletes; the scan drops the MOR shape
    spark.sql("CALL g12mo.system.optimize(table => 't', num_files => 2)")
    val q3 = spark.sql("SELECT k, v FROM g12mo.default.t")
    assert(!q3.queryExecution.executedPlan.toString.contains("merge-on-read"))
    assert(q3.collect().map(_.toSeq).toSet == want)
    ManifestTable.destroy(root)
  }

  test("review hardening: reserved names, DV-aware DDL/DML guards") {
    val root = freshDir("hard")
    spark.conf.set("spark.sql.catalog.g12hd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12hd.root", root)
    // '@' and '$' are addressing syntax — a table created under either
    // name would be unreachable the moment it exists
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE g12hd.default.`a@b` (k BIGINT)")
    }
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE g12hd.default.`a$b` (k BIGINT)")
    }
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
    // DROP COLUMN of the DV key column refuses (it reconstructs the
    // deletes); row-level DML on a live-DV table runs merge-on-read
    // since r13 — the UPDATE rewrites without compaction, never
    // resurrects the doomed key, and strikes the marker's target
    spark.sql("""CREATE TABLE g12hd.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g12hd.default.t VALUES
      (CAST(1 AS BIGINT), 1.0), (CAST(2 AS BIGINT), 2.0),
      (CAST(3 AS BIGINT), 3.0)""")
    spark.sql("DELETE FROM g12hd.default.t WHERE k IN (2)")
    assert(Snapshot.read(s"$root/t",
      ManifestTable.currentVersion(s"$root/t")).dvs.nonEmpty)
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE g12hd.default.t DROP COLUMN k")
    }
    assert(e4.getMessage.contains("deletion vector"), e4.getMessage)
    spark.sql("UPDATE g12hd.default.t SET v = 0.0 WHERE k = 1")
    assert(spark.sql("SELECT k, v FROM g12hd.default.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 0.0), (3L, 3.0)))
    // rewritten files are struck from the marker's targets (files the
    // statement never touched legitimately keep theirs), and every
    // remaining target is a live file — no dangling references
    val live = ManifestTable.listLines(s"$root/t",
      ManifestTable.currentVersion(s"$root/t"))
      .map(ManifestTable.parseEntry(_).name).toSet
    assert(ManifestTable.dvEntries(s"$root/t",
      ManifestTable.currentVersion(s"$root/t"))
      .forall(_.targets.subsetOf(live)),
      "carried dv markers must only target live files")
    ManifestTable.destroy(root)
  }

  test("ProcessingTime streams advance past versions committed after start") {
    val root = freshDir("ptt")
    spark.conf.set("spark.sql.catalog.g12pt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g12pt.root", root)
    spark.sql("CREATE TABLE g12pt.default.t (k BIGINT)")          // v0
    spark.sql("INSERT INTO g12pt.default.t VALUES (CAST(1 AS BIGINT))") // v1
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def await(k: Long, what: String): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!got.contains(k) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(got.contains(k), s"$what: row $k never arrived (got $got)")
    }
    // the CHANGE FEED under a continuous trigger: pre-fix, latestOffset
    // capped at the version frozen at construction, so v2 (committed
    // after start) never streamed
    val qc = spark.readStream.table("g12pt.default.`t$changes`")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k").collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", s"$root/ckpt_c")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .start()
    try {
      await(1L, "changes feed backlog")
      spark.sql("INSERT INTO g12pt.default.t VALUES (CAST(2 AS BIGINT))") // v2
      await(2L, "changes feed tail")
    } finally qc.stop()
    // …and the plain-table stream (same frozen-head pattern)
    got.clear()
    val qt = spark.readStream.table("g12pt.default.t")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k").collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", s"$root/ckpt_t")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .start()
    try {
      await(1L, "table stream backlog")
      spark.sql("INSERT INTO g12pt.default.t VALUES (CAST(3 AS BIGINT))") // v3
      await(3L, "table stream tail")
    } finally qt.stop()
    ManifestTable.destroy(root)
  }
}
