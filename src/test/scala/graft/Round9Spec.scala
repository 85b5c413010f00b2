package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 regressions (the four ADVICE findings with a testable surface)
  * plus the round-9 feature gates. */
class Round9Spec extends AnyFunSuite {
  import TestSpark._
  import sources.{ManifestTable, Snapshot}

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_r9_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  test("INSERT OVERWRITE through the SQL catalog carries governance policies") {
    val root = freshDir("ovwpol")
    val dir = s"$root/t"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ManifestTable.merge(spark, dir, ev, Seq("event_id"))
    ManifestTable.setPolicy(dir,
      masks = Map("user_id" -> "pmod(user_id, 100)"),
      rowFilter = Some("event_type <> 'error'"))
    spark.conf.set("spark.sql.catalog.g9ovw",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9ovw.root", root)
    ev.limit(50).createOrReplaceTempView("r9_ovw_batch")
    spark.sql("INSERT OVERWRITE g9ovw.default.t SELECT * FROM r9_ovw_batch")
    val v = ManifestTable.currentVersion(dir)
    assert(Snapshot.read(dir, v).policies.size == 2,
      "overwrite must carry the #policy markers — dropping them is a " +
        "silent governance regression")
    val governed = ManifestTable.readGoverned(spark, dir)
    assert(governed.filter(col("event_type") === "error").count() == 0)
    assert(governed.agg(max(col("user_id"))).head().getLong(0) < 100)
  }

  test("readAudit on a governed table: #policy marker lines are metadata, not data files") {
    val dir = freshDir("auditpol")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"))
    ManifestTable.merge(spark, dir, ev.filter(col("event_id") % 2 === 0),
      Seq("event_id"))
    ManifestTable.setPolicy(dir, masks = Map.empty,
      rowFilter = Some("event_type <> 'error'"))
    ManifestTable.stageAudit(spark, dir,
      ev.filter(col("event_id") % 2 === 1), "r9")
    // pre-fix this threw: '#policy' fell into the data partition and the
    // reader tried to open parquet at <dir>/data/#policy
    val audit = ManifestTable.readAudit(spark, dir, "r9")
    assert(audit.count() == ev.count(),
      "the audit snapshot is base + batch, markers excluded")
    ManifestTable.abortAudit(dir, "r9")
  }

  test("source vacuum keeps DV files a live clone references") {
    val src = freshDir("clonedvS")
    val dst = freshDir("clonedvD")
    val li = Tables.lineitem(spark, sf).limit(2000)
    val staged = ManifestTable.stageWithStats(spark, src,
      li.repartition(4, col("l_orderkey")), Seq("l_orderkey"))
    assert(ManifestTable.commit(src, staged, -1))
    // a MOR delete on the SOURCE, then the clone (which re-points the DV
    // key file into the source's data/ by absolute path)
    ManifestTable.deleteKeysMOR(spark, src, "l_orderkey", Seq(1L, 2L, 3L))
    ManifestTable.cloneTable(src, dst)
    val cloneBefore = ManifestTable.read(spark, dst).count()
    // the source compacts (materializes its own DVs, drops the markers)
    // and vacuums down to the compacted snapshot alone
    ManifestTable.compact(spark, src, numFiles = 2)
    ManifestTable.vacuum(src, keepVersions = 1)
    // pre-fix the vacuum collected the DV parquet (no retained SOURCE
    // manifest referenced it) and the live clone's read dangled
    assert(ManifestTable.read(spark, dst).count() == cloneBefore,
      "the clone's merge-on-read scan must survive a source vacuum")
    ManifestTable.destroy(src); ManifestTable.destroy(dst)
  }

  test("upsertMOR accepts a non-bigint (int) key column") {
    import spark.implicits._
    val dir = freshDir("morint")
    val base = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("k", "tag", "v")
    val staged = ManifestTable.stageWithStats(spark, dir, base, Seq("k"))
    assert(ManifestTable.commit(dir, staged, -1))
    val batch = Seq((2, "B", 99.0), (4, "d", 40.0)).toDF("k", "tag", "v")
    ManifestTable.upsertMOR(spark, dir, batch, "k") // pre-fix: CCE on getLong
    val out = ManifestTable.read(spark, dir).orderBy("k")
      .as[(Int, String, Double)].collect()
    assert(out.toSeq == Seq((1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0),
      (4, "d", 40.0)))
    ManifestTable.destroy(dir)
  }

  private def manifestScans(df: org.apache.spark.sql.DataFrame)
      : Seq[sources.ManifestFilesScan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case b: BatchScanExec => b.scan }
      .collect { case m: sources.ManifestFilesScan => m }
  }

  test("SQL predicates prune manifest files: selective scans read a strict subset") {
    val root = freshDir("sqlpd")
    val dir = s"$root/li"
    val li = Tables.lineitem(spark, sf).repartitionByRange(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g9pd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9pd.root", root)

    // range predicate: file skipping via recorded min/max
    val sel = spark.sql(
      "SELECT * FROM g9pd.default.li WHERE l_orderkey BETWEEN 10 AND 60")
    val scans = manifestScans(sel)
    assert(scans.nonEmpty, "the catalog scan must be a ManifestFilesScan")
    assert(scans.head.keptFiles > 0 && scans.head.keptFiles < scans.head.totalFiles,
      s"selective range must prune: kept ${scans.head.keptFiles} of " +
        s"${scans.head.totalFiles}")
    // pruning must never change the answer: parity with the API read
    val expect = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").between(10L, 60L)).count()
    assert(sel.count() == expect)

    // point lookup: bloom skipping on IN — under a range layout each key
    // lives in one file, so an IN of 2 keys admits at most a couple
    val point = spark.sql(
      "SELECT * FROM g9pd.default.li WHERE l_orderkey IN (101, 1402)")
    val pScan = manifestScans(point).head
    assert(pScan.keptFiles < pScan.totalFiles)
    assert(point.count() == ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").isin(101L, 1402L)).count())

    // a full scan (no predicate) keeps everything
    val all = manifestScans(spark.sql("SELECT * FROM g9pd.default.li")).head
    assert(all.keptFiles == all.totalFiles)

    // stats-less files are never pruned (degrade to scan, not wrong answer)
    val dir2 = s"$root/nostats"
    val staged2 = ManifestTable.stage(spark, dir2, li)
    assert(ManifestTable.commit(dir2, staged2, -1))
    val ns = manifestScans(spark.sql(
      "SELECT * FROM g9pd.default.nostats WHERE l_orderkey BETWEEN 10 AND 60")).head
    assert(ns.keptFiles == ns.totalFiles,
      "no recorded stats ⟹ no pruning — every file must survive")
  }

  test("DELETE statements execute the format's own DML: CoW by default, MOR by table property") {
    val root = freshDir("sqldel")
    val li = Tables.lineitem(spark, sf).repartition(4, col("l_orderkey"))
    def build(name: String): String = {
      val dir = s"$root/$name"
      val staged = ManifestTable.stageWithIndexes(spark, dir, li,
        statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
      assert(ManifestTable.commit(dir, staged, -1))
      dir
    }
    val cowDir = build("cow"); val morDir = build("mor"); val apiDir = build("api")
    ManifestTable.setTableProperty(morDir, "delete.mode", "mor")
    spark.conf.set("spark.sql.catalog.g9dml",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9dml.root", root)

    val keys = Seq(101L, 777L, 1402L)
    spark.sql("DELETE FROM g9dml.default.cow WHERE l_orderkey IN (101, 777, 1402)")
    spark.sql("DELETE FROM g9dml.default.mor WHERE l_orderkey IN (101, 777, 1402)")
    ManifestTable.deleteKeys(spark, apiDir, "l_orderkey", keys)

    // the statement path and the API path produce identical versions/history
    import org.apache.spark.sql.Row
    def hist(d: String) = ManifestTable.history(spark, d)
      .select("version", "kind").collect().toSeq
    assert(hist(cowDir) == hist(apiDir),
      "CoW DELETE statement must commit exactly like the API deleteKeys")
    assert(Snapshot.read(morDir, ManifestTable.currentVersion(morDir)).kind == Snapshot.Mutate)
    // MOR really took the deletion-vector path: markers present, CoW not
    assert(Snapshot.read(morDir,
      ManifestTable.currentVersion(morDir)).dvs.nonEmpty)
    assert(Snapshot.read(cowDir,
      ManifestTable.currentVersion(cowDir)).dvs.isEmpty)
    // and all three answer identically
    val expect = li.filter(!col("l_orderkey").isin(keys: _*)).count()
    Seq(cowDir, morDir, apiDir).foreach(d =>
      assert(ManifestTable.read(spark, d).count() == expect))

    // equality shape + unconditional DELETE
    spark.sql("DELETE FROM g9dml.default.cow WHERE l_orderkey = 5")
    assert(ManifestTable.read(spark, cowDir).count() ==
      li.filter(!col("l_orderkey").isin(5L +: keys: _*)).count())
    spark.sql("DELETE FROM g9dml.default.cow")
    assert(ManifestTable.read(spark, cowDir).count() == 0)
  }

  test("CREATE TABLE TBLPROPERTIES persist as #prop markers and survive the lifecycle") {
    val root = freshDir("props")
    spark.conf.set("spark.sql.catalog.g9prop",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9prop.root", root)
    spark.sql("CREATE TABLE g9prop.default.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('delete.mode' = 'mor')")
    val dir = s"$root/t"
    assert(ManifestTable.tableProperties(dir, 0) == Map("delete.mode" -> "mor"))
    import spark.implicits._
    val batch = (1L to 100L).map(k => (k, k * 1.5)).toDF("k", "v")
    batch.createOrReplaceTempView("r9_prop_batch")
    spark.sql("INSERT INTO g9prop.default.t SELECT * FROM r9_prop_batch")
    // properties survive insert, compaction, restore, and clone
    ManifestTable.compact(spark, dir, numFiles = 1)
    val vNow = ManifestTable.currentVersion(dir)
    assert(ManifestTable.tableProperties(dir, vNow)("delete.mode") == "mor")
    spark.sql("DELETE FROM g9prop.default.t WHERE k IN (3, 4)")
    assert(Snapshot.read(dir,
      ManifestTable.currentVersion(dir)).dvs.nonEmpty,
      "the CREATE TABLE property must route the DELETE through MOR")
    assert(ManifestTable.read(spark, dir).count() == 98)
    // the DSv2 table surfaces them too
    assert(spark.sql("SHOW TBLPROPERTIES g9prop.default.t")
      .filter(col("key") === "delete.mode").count() == 1)
  }

  test("the SQL catalog serves governed tables: filter-then-mask, parity with readGoverned") {
    val root = freshDir("sqlgov")
    val dir = s"$root/ev"
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ManifestTable.merge(spark, dir, ev, Seq("event_id"))
    ManifestTable.setPolicy(dir,
      masks = Map("user_id" -> "pmod(user_id, 100)",
        "value" -> "round(value, 0)"),
      rowFilter = Some("event_type <> 'error'"))
    spark.conf.set("spark.sql.catalog.g9gov",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9gov.root", root)

    // exact parity with the API endpoint, row for row
    val viaSql = spark.sql(
      "SELECT event_id, user_id, event_type, value FROM g9gov.default.ev")
    val viaApi = ManifestTable.readGoverned(spark, dir)
      .select("event_id", "user_id", "event_type", "value")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty,
      "the catalog scan must apply exactly the declared transformation")
    // the filter really ran before the masks and the masks really applied
    assert(viaSql.filter(col("event_type") === "error").count() == 0)
    assert(viaSql.agg(max(col("user_id"))).head().getLong(0) < 100)

    // a projection that drops the filter column still filters (the scan
    // decodes policy-referenced columns it never surfaces)
    val narrow = spark.sql("SELECT user_id FROM g9gov.default.ev")
    assert(narrow.count() == viaApi.count())
    assert(narrow.schema.fieldNames.toSeq == Seq("user_id"))

    // metadata aggregate pushdown keeps declining (a policy changes the
    // answer; the manifest's counts describe raw rows)
    val cnt = spark.sql("SELECT count(*) AS n FROM g9gov.default.ev").head().getLong(0)
    assert(cnt == viaApi.count(),
      "COUNT(*) over a governed table must count FILTERED rows")

    // maintenance is untouched: the raw readVersion still sees true rows
    val raw = ManifestTable.readVersion(spark, dir,
      ManifestTable.currentVersion(dir))
    assert(raw.count() == ev.count())
    assert(raw.filter(col("event_type") === "error").count() > 0)
  }

  test("segment bloom summaries: a point lookup parses only bloom-admitted segments") {
    val dir = freshDir("segbloom")
    // HASH layout: every file (and so every segment) spans the full key
    // range — range summaries admit everything; only blooms can prune
    val li = Tables.lineitem(spark, sf).repartition(16, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    assert(ManifestTable.commitSegmented(dir, staged, -1, segmentSize = 4))
    val keys = Seq(101L)
    val (kept, segsRead, segsTotal, filesTotal) =
      ManifestTable.pruneFilesSegmentedForKeys(dir, 0, "l_orderkey", keys)
    assert(segsTotal == 4 && filesTotal == 16)
    assert(segsRead < segsTotal,
      s"the union bloom must prune segments ($segsRead/$segsTotal read) — " +
        "range envelopes cannot under a hash layout")
    // the range-only prune really is blind here (the contrast that proves
    // the bloom summary earns its bytes)
    val (rangeKept, rangeSegsRead, _, _) = ManifestTable.pruneFilesSegmented(
      dir, 0, "l_orderkey", BigDecimal(101), BigDecimal(101))
    assert(rangeSegsRead == segsTotal)
    // no false negatives: every row with the key is in a kept file
    val expect = li.filter(col("l_orderkey").isin(keys: _*)).count()
    val got = spark.read.parquet(kept.map(ManifestTable.dataPath(dir, _)): _*)
      .filter(col("l_orderkey").isin(keys: _*)).count()
    assert(got == expect && kept.size <= rangeKept.size)
  }

  test("mv rewrite over a JOIN: served plan drops the join, different condition declines") {
    import plans.MvRewriteRule
    try {
      val out = operators.ScaleOps.mvJoinRewrite(spark, sf)
      val phys = out.queryExecution.executedPlan.toString
      assert(phys.contains("graft_mvj_"),
        "the registered join view must be served from the materialization")
      assert(!phys.contains("orders.parquet") && !phys.contains("Join"),
        "the served plan must neither scan the base tables nor join")
      val got = out.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // base truth with no view registered: same join aggregate, base plan
      MvRewriteRule.clear()
      val base = operators.ScaleOps.mvJoinDefinition(spark, sf)
        .select(col("c_mktsegment"), col("n_orders"),
          col("revenue_d").cast("double").as("revenue"))
      val basePhys = base.queryExecution.executedPlan.toString
      assert(basePhys.contains("orders.parquet") && basePhys.contains("Join"))
      val want = base.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty, "the rewrite must be answer-invariant")

      // a same-shaped join with a DIFFERENT condition must decline
      operators.ScaleOps.mvJoinRewrite(spark, sf) // re-register
      val other = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_nationkey")) // different join keys
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
      assert(other.queryExecution.executedPlan.toString.contains("Join"),
        "a different join condition must fall back to the base plan")
    } finally MvRewriteRule.clear()
  }

  test("star contraction rounds grow logarithmically with component diameter") {
    import spark.implicits._
    // chains are the worst case (diameter = length); a 64x diameter
    // increase must cost ADDITIVE extra rounds (~log2 = +6), not 64x —
    // the whole reason the contraction variant exists beside label
    // propagation, measured here directly since the fixture's component
    // structure is scale-invariant by GenScale's design (SF1.md)
    def roundsFor(len: Long): Int = {
      val chain = (0L until len).map(i => (i, i + 1)).toDF("a", "b")
      val (labels, rounds) =
        operators.CurationOps.starComponentsWithRounds(spark, chain)
      // correctness first: one component labeled by the chain minimum
      assert(labels.agg(max(col("cluster_id"))).head().getLong(0) == 0L)
      assert(labels.count() == len + 1)
      rounds
    }
    val r64 = roundsFor(64); val r4096 = roundsFor(4096)
    assert(r4096 <= r64 + 8,
      s"64x the diameter must cost ~log extra rounds, got $r64 -> $r4096")
    assert(r4096 <= 15, s"a 4096-chain must converge in O(log) rounds, got $r4096")
  }

  test("ALTER TABLE maps onto metadata primitives; renames refuse policy-referenced columns") {
    val root = freshDir("alter")
    val dir = s"$root/t"
    import spark.implicits._
    val base = (1L to 50L).map(k => (k, k * 2.0)).toDF("k", "v")
    val staged = ManifestTable.stage(spark, dir, base)
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g9alt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9alt.root", root)
    spark.sql("ALTER TABLE g9alt.default.t SET TBLPROPERTIES ('delete.mode' = 'mor')")
    assert(ManifestTable.tableProperties(dir,
      ManifestTable.currentVersion(dir)) == Map("delete.mode" -> "mor"))
    spark.sql("ALTER TABLE g9alt.default.t UNSET TBLPROPERTIES ('delete.mode')")
    assert(ManifestTable.tableProperties(dir,
      ManifestTable.currentVersion(dir)).isEmpty)
    spark.sql("ALTER TABLE g9alt.default.t RENAME COLUMN v TO price")
    assert(ManifestTable.read(spark, dir).columns.toSeq == Seq("k", "price"))
    // markers survive the rename commit (the renameColumn carry fix)
    ManifestTable.setTableProperty(dir, "owner.team", "data")
    ManifestTable.setPolicy(dir, masks = Map.empty,
      rowFilter = Some("k > 5"))
    ManifestTable.renameColumn(dir, "price", "amount")
    val vNow = ManifestTable.currentVersion(dir)
    assert(ManifestTable.tableProperties(dir, vNow)("owner.team") == "data",
      "properties must survive a rename commit")
    assert(Snapshot.read(dir, vNow).policies.size == 1,
      "policies must survive a rename commit")
    // renaming a column a policy references is refused, not mis-governed
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(dir, "k", "key")
    }
  }

  test("TIMESTAMP AS OF resolves to the newest commit at or before the instant") {
    val root = freshDir("ttts")
    val dir = s"$root/t"
    import spark.implicits._
    val staged0 = ManifestTable.stage(spark,
      dir, (1L to 10L).map(k => (k, "v0")).toDF("k", "tag"))
    assert(ManifestTable.commit(dir, staged0, -1)) // v0
    Thread.sleep(1100) // mtime granularity can be a full second on some FS
    val between = java.time.Instant.now()
    Thread.sleep(1100)
    val staged1 = ManifestTable.listLines(dir, 0) ++ ManifestTable.stage(
      spark, dir, (11L to 20L).map(k => (k, "v1")).toDF("k", "tag"))
    assert(ManifestTable.commit(dir, staged1, 0)) // v1
    spark.conf.set("spark.sql.catalog.g9tt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9tt.root", root)
    val ts = java.sql.Timestamp.from(between)
    val asOf = spark.sql(
      s"SELECT * FROM g9tt.default.t TIMESTAMP AS OF '$ts'")
    assert(asOf.count() == 10, "the instant between commits must pin v0")
    assert(spark.sql("SELECT * FROM g9tt.default.t").count() == 20)
    // an instant before the first commit refuses, never serves garbage
    intercept[Exception] {
      spark.sql("SELECT * FROM g9tt.default.t TIMESTAMP AS OF '2000-01-01'")
        .collect()
    }
  }

  test("SQL pushdown over a SEGMENTED table resolves only admitted segments") {
    val root = freshDir("segsql")
    val dir = s"$root/li"
    val li = Tables.lineitem(spark, sf).repartitionByRange(16, col("l_orderkey"))
    val staged = ManifestTable.stageWithNdv(spark, dir, li,
      statsCols = Seq("l_orderkey"), ndvCols = Seq("l_orderkey"))
    assert(ManifestTable.commitSegmented(dir, staged, -1,
      segmentSize = 4, clusterBy = "l_orderkey"))
    spark.conf.set("spark.sql.catalog.g9seg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9seg.root", root)
    val sel = spark.sql(
      "SELECT * FROM g9seg.default.li WHERE l_orderkey BETWEEN 10 AND 60")
    val scan = manifestScans(sel).head
    assert(scan.keptFiles > 0 && scan.keptFiles < scan.totalFiles,
      s"selective range over a segmented table must prune " +
        s"(${scan.keptFiles}/${scan.totalFiles})")
    val expect = spark.read.parquet(
      ManifestTable.listFiles(dir, 0).map(ManifestTable.dataPath(dir, _)): _*)
      .filter(col("l_orderkey").between(10L, 60L)).count()
    assert(sel.count() == expect)
    // segment-level NDV: planner estimate from summaries alone
    val (est, upper) = ManifestTable.estimateNdvSegmented(
      dir, 0, "l_orderkey", BigDecimal(0), BigDecimal(Long.MaxValue))
    val exact = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    assert(upper >= exact.toDouble, "the NDV upper bound must be sound")
    assert(math.abs(est - exact) / exact < 0.1,
      s"segment-union HLL estimate $est vs exact $exact drifted > 10%")
  }

  test("row-level SQL DML: UPDATE and arbitrary-predicate DELETE rewrite correctly") {
    val root = freshDir("rowlevel")
    val dir = s"$root/t"
    import spark.implicits._
    val base = (1L to 100L).map(k => (k, k % 7, k * 1.5)).toDF("k", "grp", "v")
    val staged = ManifestTable.stageWithStats(spark, dir, base.repartition(4), Seq("k"))
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g9rl",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9rl.root", root)

    // UPDATE with an expression assignment and a non-key predicate
    spark.sql("UPDATE g9rl.default.t SET v = v * 2 WHERE grp = 3")
    val afterUpdate = ManifestTable.read(spark, dir)
    assert(afterUpdate.count() == 100)
    val expectSum = base.withColumn("v",
      when(col("grp") === 3, col("v") * 2).otherwise(col("v")))
      .agg(sum("v")).head().getDouble(0)
    assert(math.abs(afterUpdate.agg(sum("v")).head().getDouble(0) - expectSum) < 1e-9)
    assert(Snapshot.read(dir, ManifestTable.currentVersion(dir)).kind == Snapshot.Mutate,
      "a row-level UPDATE must publish a mutate commit")
    // time travel still serves the pre-update snapshot
    assert(math.abs(ManifestTable.readVersion(spark, dir, 0)
      .agg(sum("v")).head().getDouble(0) -
      base.agg(sum("v")).head().getDouble(0)) < 1e-9)

    // an arbitrary-predicate DELETE (not key-membership — SupportsDelete
    // declines it, the row-level rewrite executes it)
    spark.sql("DELETE FROM g9rl.default.t WHERE v > 200.0 AND grp <> 0")
    val afterDelete = ManifestTable.read(spark, dir).as[(Long, Long, Double)]
      .collect().toSet
    val want = base.withColumn("v",
      when(col("grp") === 3, col("v") * 2).otherwise(col("v")))
      .filter(!(col("v") > 200.0 && col("grp") =!= 0))
      .as[(Long, Long, Double)].collect().toSet
    assert(afterDelete == want,
      "the rewrite must keep exactly the non-matching rows")

    // governed tables refuse row-level SQL DML (a masked rewrite would
    // PERSIST masked values)
    ManifestTable.setPolicy(dir, masks = Map("v" -> "0.0"), rowFilter = None)
    val e = intercept[Exception] {
      spark.sql("UPDATE g9rl.default.t SET v = 1.0 WHERE grp = 1")
    }
    assert(e.getMessage.contains("governed") ||
      Option(e.getCause).exists(_.getMessage.contains("governed")))
  }

  test("MERGE INTO agrees with both API upsert implementations") {
    val root = freshDir("sqlmerge")
    import spark.implicits._
    val li = Tables.lineitem(spark, sf).repartition(4, col("l_orderkey"))
    val keys = Seq(101L, 777L, 1402L)
    val batch = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey").isin(keys: _*))
      .withColumn("l_quantity", col("l_quantity") + lit(100.0))
    // API MOR upsert
    val morDir = s"$root/mor"
    val s1 = ManifestTable.stageWithStats(spark, morDir, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(morDir, s1, -1))
    ManifestTable.upsertMOR(spark, morDir, batch, "l_orderkey")
    // MERGE statement
    val mrgDir = s"$root/mrg"
    val s2 = ManifestTable.stageWithStats(spark, mrgDir, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(mrgDir, s2, -1))
    spark.conf.set("spark.sql.catalog.g9mrg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9mrg.root", root)
    batch.createOrReplaceTempView("r9_merge_batch")
    spark.sql("""MERGE INTO g9mrg.default.mrg t USING r9_merge_batch b
      ON t.l_orderkey = b.l_orderkey AND t.l_linenumber = b.l_linenumber
         AND t.l_suppkey = b.l_suppkey
      WHEN MATCHED THEN UPDATE SET l_quantity = b.l_quantity
      WHEN NOT MATCHED THEN INSERT *""")
    def summary(d: String) = ManifestTable.read(spark, d)
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
      .head()
    assert(summary(morDir) == summary(mrgDir),
      "MOR upsert and MERGE INTO must produce the same table content")
  }

  test("metadata tables: $files and $properties serve manifest metadata as relations") {
    val root = freshDir("metatbl")
    val dir = s"$root/t"
    import spark.implicits._
    val base = (1L to 60L).map(k => (k, k * 1.5)).toDF("k", "v")
    val staged = ManifestTable.stageWithStats(spark, dir,
      base.repartition(3), Seq("k"))
    assert(ManifestTable.commit(dir, staged, -1))
    ManifestTable.setTableProperty(dir, "delete.mode", "mor")
    spark.conf.set("spark.sql.catalog.g9meta",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9meta.root", root)
    val files = spark.sql("SELECT * FROM g9meta.default.`t$files`")
    assert(files.count() == 3)
    assert(files.agg(sum(col("n_rows"))).head().getLong(0) == 60L)
    assert(files.filter(col("size_bytes") <= 0).count() == 0)
    val props = spark.sql("SELECT * FROM g9meta.default.`t$properties`")
      .as[(String, String)].collect().toMap
    assert(props == Map("delete.mode" -> "mor"))
    // history reflects both commits, kinds included
    val hist = spark.sql(
      "SELECT version, kind FROM g9meta.default.`t$history` ORDER BY version")
      .as[(Int, String)].collect().toSeq
    assert(hist == Seq((0, "data"), (1, "data")))
    // unknown suffix refuses with a clear message
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM g9meta.default.`t$bogus`").collect()
    }
    assert(e.getMessage.contains("history, files, properties"))
  }

  test("writeStream.toTable: epoch high-water markers commit atomically with data") {
    val root = freshDir("streamtbl")
    val dir = s"$root/sink"
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.g9st",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9st.root", root)
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    (1L to 40L).map(k => (k, k * 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(src)
    def run(): Unit = {
      val q = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("v", "double"))
        .parquet(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("g9st.default.sink")
      q.awaitTermination()
    }
    run()
    val v1 = ManifestTable.currentVersion(dir)
    assert(ManifestTable.read(spark, dir).count() == 40)
    val epochs = Snapshot.read(dir, v1).epochs
    assert(epochs.size == 1, "one streaming query = one high-water marker")
    // a same-checkpoint restart appends nothing (source offsets recorded)
    run()
    assert(ManifestTable.read(spark, dir).count() == 40)
    // the marker survives unrelated lifecycle commits
    ManifestTable.compact(spark, dir, numFiles = 1)
    val vNow = ManifestTable.currentVersion(dir)
    assert(Snapshot.read(dir, vNow).epochs == epochs,
      "the epoch high-water must ride every successor commit")
    // the exactly-once guard: a replayed epoch <= the marker no-ops
    val (queryId, epochId) = epochs.head
    assert(ManifestTable.committedEpoch(dir, vNow, queryId).contains(epochId))
  }

  test("V2 writer round-trips every supported type through the catalog reader") {
    val root = freshDir("wtypes")
    val dir = s"$root/t"
    import spark.implicits._
    val df = spark.sql("""SELECT
      CAST(id AS BIGINT) AS c_long,
      CAST(id AS INT) AS c_int,
      CAST(id * 1.5 AS DOUBLE) AS c_double,
      CAST(id * 0.5 AS FLOAT) AS c_float,
      id % 2 = 0 AS c_bool,
      CONCAT('s', id) AS c_str,
      encode(CONCAT('b', id), 'UTF-8') AS c_bin,
      DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS c_date,
      TIMESTAMP'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS c_ts,
      CASE WHEN id = 3 THEN NULL ELSE id END AS c_nullable
      FROM range(10)""")
    // seed an empty table with the declared schema, then write THROUGH the
    // row-level path (UPDATE rewrites everything via the V2 writer)
    val staged = ManifestTable.stage(spark, dir, df)
    assert(ManifestTable.commit(dir, staged, -1))
    spark.conf.set("spark.sql.catalog.g9wt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g9wt.root", root)
    // identity-ish UPDATE forces a full rewrite through GraftParquetDataWriter
    spark.sql("UPDATE g9wt.default.t SET c_long = c_long WHERE c_long >= 0")
    assert(ManifestTable.currentVersion(dir) == 1, "the rewrite must commit")
    val viaCatalog = spark.sql("SELECT * FROM g9wt.default.t")
    // row-for-row equality with the original frame, nulls included
    assert(viaCatalog.exceptAll(df).isEmpty && df.exceptAll(viaCatalog).isEmpty,
      "every supported type must round-trip the write+read paths bit-exactly")
    assert(viaCatalog.filter(col("c_nullable").isNull).count() == 1)
  }

  test("advisedJoin sweeps orphan temp dirs left by dead PIDs") {
    val tmp = System.getProperty("java.io.tmpdir")
    // a plausibly-dead pid: max pid space on linux is < 2^22 by default
    val orphan = java.nio.file.Paths.get(s"$tmp/graft_advjoin_999999999")
    java.nio.file.Files.createDirectories(orphan)
    operators.ScaleOps.advisedJoin(spark, sf).collect()
    assert(!java.nio.file.Files.exists(orphan),
      "a dead pid's advisedJoin dir must be swept on the next run")
  }
}
