package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 surfaces: deletion vectors COMPOSING with column renames in
  * both directions (the last separated halves of the DML story), with
  * the change feed, governance, and maintenance crossing the composed
  * state without compaction. */
class Round14Spec extends AnyFunSuite {
  import TestSpark._
  import sources.{ManifestTable, Snapshot}

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_r14_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  test("MOR delete → rename → MERGE → change feed, no compaction") {
    val root = freshDir("life")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g14lf",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14lf.root", root)
    spark.sql("""CREATE TABLE g14lf.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g14lf.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(0, 10)""")                                 // v1: file A
    spark.sql("""INSERT INTO g14lf.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(10, 20)""")                                // v2: file B
    // MOR delete first: #dv marker keyed on the PRE-RENAME name "k"
    spark.sql("DELETE FROM g14lf.default.t WHERE k IN (3, 12)") // v3
    assert(ManifestTable.dvEntries(dir, 3).nonEmpty, "fixture: a #dv")
    // then rename the DV KEY COLUMN (the reference's rename projection
    // feeding its MERGE loop: etl_spark_historical.py:182-190,302-333)
    spark.sql("ALTER TABLE g14lf.default.t RENAME COLUMN k TO id")  // v4
    assert(ManifestTable.dvEntries(dir, 4).exists(_.col == "k"),
      "the marker keeps its delete-time name")
    // scans serve the composed state: doomed rows gone, evolved names
    assert(spark.sql("SELECT id FROM g14lf.default.t")
      .collect().map(_.getLong(0)).toSet ==
      ((0L until 20L).toSet -- Set(3L, 12L)))
    // MERGE straight onto the DV+rename table: update a live key,
    // re-insert a doomed one, insert a new one — no compaction
    spark.sql("""SELECT * FROM VALUES
        (CAST(1 AS BIGINT), -1.0), (CAST(3 AS BIGINT), -3.0),
        (CAST(1000 AS BIGINT), -10.0)
      AS s(id, v)""").createOrReplaceTempView("r14_life_batch")
    spark.sql("""MERGE INTO g14lf.default.t t USING r14_life_batch s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")                    // v5
    val vM = ManifestTable.currentVersion(dir)
    assert(Snapshot.read(dir, vM).renames.nonEmpty,
      "the rename chain survives the MERGE")
    val after = spark.sql("SELECT id, v FROM g14lf.default.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(after.size == 20, s"18 survivors + re-inserted 3 + new 1000")
    assert(after(1L) == -1.0 && after(3L) == -3.0 && after(1000L) == -10.0)
    assert(!after.contains(12L), "the un-touched doomed key stays dead")
    assert(after(5L) == 5.0, "untouched rows keep their values")
    // the change feed crosses the whole composed history under the
    // EVOLVED name, and its running sum reconstructs the live set
    val feed = spark.sql(
      """SELECT _change_type, _commit_version, id
         FROM g14lf.default.`t$changes`""")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(feed.filter(_._2 == 3).map(e => (e._1, e._3)).toSet ==
      Set(("delete", 3L), ("delete", 12L)).map(p => (p._1, p._2)),
      "the MOR delete emits exactly its doomed live rows")
    assert(!feed.exists(_._2 == 4), "the rename is metadata-only: no rows")
    val live = feed.groupBy(_._3).collect {
      case (k, evs) if evs.count(_._1 == "insert") >
        evs.count(_._1 == "delete") => k
    }.toSet
    assert(live == after.keySet,
      s"feed-reconstructed live set must equal the table: " +
        s"feedOnly=${(live -- after.keySet).take(5)} " +
        s"tableOnly=${(after.keySet -- live).take(5)}")
    ManifestTable.destroy(root)
  }

  test("rename → MOR delete (int SQL, string GDPR) → governed read") {
    val root = freshDir("rgd")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g14rg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14rg.root", root)
    spark.sql("""CREATE TABLE g14rg.default.t
      (user_id STRING, k BIGINT, balance DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g14rg.default.t
      SELECT /*+ REPARTITION(1) */ concat('u', id) AS user_id, id AS k,
             CAST(id AS DOUBLE) AS balance
      FROM range(0, 10)""")                                 // gen-1 file
    spark.sql("ALTER TABLE g14rg.default.t RENAME COLUMN user_id TO uid")
    spark.sql("""INSERT INTO g14rg.default.t
      SELECT /*+ REPARTITION(1) */ concat('u', id) AS uid, id AS k,
             CAST(id AS DOUBLE) AS balance
      FROM range(10, 20)""")                                // gen-2 file
    // SQL keyed MOR deletes AFTER the rename, on the evolved string name
    // (targets BOTH generations) and on an un-renamed integral column
    spark.sql("DELETE FROM g14rg.default.t WHERE uid IN ('u3', 'u15')")
    spark.sql("DELETE FROM g14rg.default.t WHERE k IN (7)")
    val v = ManifestTable.currentVersion(dir)
    assert(ManifestTable.dvEntries(dir, v).map(_.col).toSet ==
      Set("uid", "k"), "markers stage under the evolved names")
    assert(Snapshot.read(dir, v).renames.nonEmpty, "no compaction")
    assert(spark.sql("SELECT uid FROM g14rg.default.t")
      .collect().map(_.getString(0)).toSet ==
      ((0 until 20).map(i => s"u$i").toSet -- Set("u3", "u15", "u7")))
    // governance composes on top: policy on STABLE columns, DV-doomed
    // rows invisible to it, renamed column still served
    ManifestTable.setPolicy(dir, masks = Map("balance" -> "-1.0"),
      rowFilter = Some("k < 100"))
    val gov = spark.sql("SELECT uid, balance FROM g14rg.default.t")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(gov.length == 17 && gov.forall(_._2 == -1.0),
      s"governed scan must mask all 17 live rows, got ${gov.take(3).toSeq}")
    ManifestTable.destroy(root)
  }

  test("engine API: upsertMOR under renames; optimize materializes both") {
    val dir = freshDir("eng")
    val base = spark.range(0, 40)
      .select(col("id").as("event_id"), (col("id") * 2.0).as("value"))
      .repartition(2, col("event_id"))
    ManifestTable.merge(spark, dir, base, Seq("event_id"))
    ManifestTable.deleteKeysMOR(spark, dir, "event_id", Seq(5L))
    ManifestTable.renameColumn(dir, "value", "amount")
    // upsert under the composed state: replaces 1, inserts 100
    val batch = spark.range(0, 2)
      .select((col("id") * 99 + 1).as("event_id"),
        lit(-7.0).as("amount"))
    ManifestTable.upsertMOR(spark, dir, batch, "event_id")
    val got = ManifestTable.read(spark, dir)
      .select("event_id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 40, "40 - doomed 5 + replaced 1 + new 100")
    assert(got(1L) == -7.0 && got(100L) == -7.0 && !got.contains(5L))
    assert(got(2L) == 4.0)
    // the key column renames AFTER markers exist on it (reverse order)
    ManifestTable.renameColumn(dir, "event_id", "eid")
    assert(ManifestTable.read(spark, dir)
      .filter(col("eid") === 5L).count() == 0)
    // optimize: small-file rewrite MATERIALIZES the DVs it touches and
    // modernizes names, while the manifest keeps reconciling leftovers
    val vO = ManifestTable.optimize(spark, dir, numFiles = 1)
    val flat = ManifestTable.read(spark, dir)
    assert(flat.columns.contains("eid") && flat.count() == 40)
    assert(ManifestTable.dvEntries(dir, vO).isEmpty,
      "a full small-file pass leaves no marker targeting a live file")
    ManifestTable.destroy(dir)
  }

  test("alias-aware stat pushdown: pruning + metadata agg on renamed cols") {
    val root = freshDir("asp")
    spark.conf.set("spark.sql.catalog.g14as",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14as.root", root)
    spark.sql("""CREATE TABLE g14as.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.write.sum' = 'k')""")
    // two files with DISJOINT k-ranges, both written BEFORE the rename —
    // their stats live under the OLD name "k"
    spark.sql("""INSERT INTO g14as.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(0, 100)""")
    spark.sql("""INSERT INTO g14as.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(1000, 1100)""")
    spark.sql("ALTER TABLE g14as.default.t RENAME COLUMN k TO key")
    // FILE PRUNING on the evolved name with ZERO post-rename rewrites:
    // the predicate admits only the low-range file
    val pr = spark.sql("SELECT key FROM g14as.default.t WHERE key < 50")
    assert(pr.queryExecution.executedPlan.toString.contains("files 1/2"),
      "pre-rename stats must prune under the evolved name:\n" +
        pr.queryExecution.executedPlan)
    assert(pr.collect().map(_.getLong(0)).toSet == (0L until 50L).toSet)
    // METADATA-SERVED aggregation on the evolved name: count/min/max/sum
    // all answered from pre-rename stat legs, zero data I/O
    val agg = spark.sql(
      """SELECT count(*) AS n, min(key) AS lo, max(key) AS hi,
                sum(key) AS s
         FROM g14as.default.t""")
    assert(agg.queryExecution.executedPlan.toString.contains("metadata agg"),
      "pre-rename stats must serve the aggregate under the evolved " +
        s"name:\n${agg.queryExecution.executedPlan}")
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (200L, 0L, 1099L, (0L until 100L).sum + (1000L until 1100L).sum))
    // a post-rename file MIXES generations (stats under "key"): both
    // tiers stay armed across the generation boundary
    spark.sql("""INSERT INTO g14as.default.t
      SELECT /*+ REPARTITION(1) */ id AS key, CAST(id AS DOUBLE) AS v
      FROM range(5000, 5100)""")
    val pr2 = spark.sql("SELECT key FROM g14as.default.t WHERE key >= 5000")
    assert(pr2.queryExecution.executedPlan.toString.contains("files 1/3"),
      s"mixed generations must still prune:\n${pr2.queryExecution.executedPlan}")
    assert(pr2.count() == 100)
    val agg2 = spark.sql(
      "SELECT min(key) AS lo, max(key) AS hi FROM g14as.default.t")
    assert(agg2.queryExecution.executedPlan.toString.contains("metadata agg"))
    assert(agg2.collect().head.getLong(1) == 5099L)
    ManifestTable.destroy(root)
  }

  test("crash-orphan publish links: vacuum sweeps, branch republishes") {
    import java.nio.file.{Files, Paths}
    val root = freshDir("vac")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g14vc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14vc.root", root)
    spark.sql("CREATE TABLE g14vc.default.t (k BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO g14vc.default.t
      SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(0, 10)""")
    spark.sql("CALL g14vc.system.branch(table => 't', name => 'wap')")
    spark.sql("""INSERT INTO g14vc.default.`t@wap`
      SELECT id AS k, -1.0 AS v FROM range(100, 110)""")
    val bd = ManifestTable.branchDir(dir, "wap")
    val bv = ManifestTable.currentVersion(bd)
    // branch-LOCAL data files (bare names; clone references into main's
    // data dir are absolute paths and stay untouched by a publish crash)
    val branchLocal = ManifestTable.listFiles(bd, bv)
      .filterNot(_.startsWith("/"))
    assert(branchLocal.nonEmpty, "fixture: the branch staged its own file")
    // simulate a publish CRASH between the link step and the CAS: the
    // branch files are linked into main's data dir but no main manifest
    // references them — exactly fastForward's pre-CAS state
    branchLocal.foreach { n =>
      val dst = Paths.get(dir, "data", n)
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, Paths.get(bd, "data", n))
      catch { case _: UnsupportedOperationException =>
        Files.copy(Paths.get(bd, "data", n), dst) }
    }
    assert(branchLocal.forall(n => Files.exists(Paths.get(dir, "data", n))))
    val mainRows = spark.sql("SELECT count(*) FROM g14vc.default.t")
      .head().getLong(0)
    // vacuum sweeps the orphans (referenced by NO retained main manifest
    // and by no clone's absolute-path reference) without touching
    // anything a manifest serves
    spark.sql("CALL g14vc.system.vacuum(table => 't', keep_versions => 1)")
    assert(branchLocal.forall(n => !Files.exists(Paths.get(dir, "data", n))),
      "vacuum must sweep the crash-orphan links")
    assert(spark.sql("SELECT count(*) FROM g14vc.default.t")
      .head().getLong(0) == mainRows, "main is untouched")
    // the branch kept its own reference: still readable, still
    // publishable — the re-publish re-links the swept files
    assert(spark.sql("SELECT count(*) FROM g14vc.default.`t@wap`")
      .head().getLong(0) == 20)
    spark.sql("CALL g14vc.system.fastforward(table => 't', name => 'wap')")
    assert(spark.sql("SELECT count(*) FROM g14vc.default.t")
      .head().getLong(0) == 20,
      "the re-publish after a crash+vacuum must serve the branch content")
    ManifestTable.destroy(root)
  }

  test("adaptive spread: tiny MERGE writes one file, tiny target fans out") {
    val root = freshDir("spw")
    spark.conf.set("spark.sql.catalog.g14sp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14sp.root", root)
    def newFiles(dir: String, body: => Unit): Int = {
      val v0 = ManifestTable.currentVersion(dir)
      val before = ManifestTable.listFiles(dir, v0).toSet
      body
      val v1 = ManifestTable.currentVersion(dir)
      val added = ManifestTable.listFiles(dir, v1).toSet -- before
      info(s"v$v0->v$v1 added: ${added.toSeq.sorted.mkString(", ")}")
      added.size
    }
    // SMALL end: the default 128 MB advisory size lets AQE coalesce the
    // spread clustering — a 3-row MERGE insert writes ONE file, not one
    // shard per shuffle partition
    spark.sql("CREATE TABLE g14sp.default.t (k BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO g14sp.default.t
      SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(0, 100)""")
    // the MATCHED clause forces the row-level (WriteDelta) plan — an
    // insert-only MERGE optimizes to a plain append and never exercises
    // the spread clustering this test gates
    val tiny = newFiles(s"$root/t", {
      spark.sql("""MERGE INTO g14sp.default.t t USING (
          SELECT id AS k, -1.0 AS v FROM range(1000, 1003)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
    })
    assert(tiny == 1, s"a 3-row insert set must coalesce to 1 file, got $tiny")
    assert(spark.sql("SELECT count(*) FROM g14sp.default.t")
      .head().getLong(0) == 103)
    // LARGE end: a tiny declared target file size disables the
    // coalescing, so the same insert path fans out across the spread
    // clustering (bounded here by the session's 4 shuffle partitions)
    spark.sql("""CREATE TABLE g14sp.default.w (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.write.targetFileBytes' = '1')""")
    spark.sql("""INSERT INTO g14sp.default.w
      SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(0, 10)""")
    // AQE's floor (coalescePartitions.minPartitionSize, 1 MB) would
    // still merge these tiny test partitions — drop it so the declared
    // per-table target is what decides
    val minSzKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevMinSz = spark.conf.get(minSzKey, "1MB")
    spark.conf.set(minSzKey, "1")
    val wide = try newFiles(s"$root/w", {
      spark.sql("""MERGE INTO g14sp.default.w t USING (
          SELECT id AS k, -1.0 AS v FROM range(1000, 3000)) s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
    }) finally spark.conf.set(minSzKey, prevMinSz)
    assert(wide >= 3, s"a bulk insert set must spread across write tasks, " +
      s"got $wide files")
    assert(spark.sql("SELECT count(*) FROM g14sp.default.w")
      .head().getLong(0) == 2010)
    ManifestTable.destroy(root)
  }

  test("positional DVs: arbitrary-predicate DML with zero rewrites") {
    val root = freshDir("pdv")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g14pd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14pd.root", root)
    spark.sql("""CREATE TABLE g14pd.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
    spark.sql("""INSERT INTO g14pd.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(0, 10)""")                                 // v1: file A
    spark.sql("""INSERT INTO g14pd.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(10, 20)""")                                // v2: file B
    val dataFiles = ManifestTable.listFiles(dir, 2).toSet
    assert(dataFiles.size == 2)
    def expect(want: Map[Long, Double]): Unit = {
      val got = spark.sql("SELECT k, v FROM g14pd.default.t")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(got == want,
        s"extra=${(got.toSet -- want.toSet).take(4)} " +
          s"missing=${(want.toSet -- got.toSet).take(4)}")
    }
    // arbitrary-predicate DELETE — not expressible as key membership,
    // previously a copy-on-write rewrite; now one positions parquet +
    // one `#dv … _pos …` marker, every data file untouched
    spark.sql("DELETE FROM g14pd.default.t WHERE v < 3.0 OR k = 15")  // v3
    val v3 = ManifestTable.currentVersion(dir)
    assert(ManifestTable.listFiles(dir, v3).toSet == dataFiles,
      "a positional DELETE must not rewrite or add any data file")
    assert(ManifestTable.dvEntries(dir, v3).exists(_.col == "_pos"),
      "the delete publishes a positional marker")
    val base = (0L until 20L).map(i => i -> i.toDouble).toMap
    expect(base -- Seq(0L, 1L, 2L, 15L))
    // arbitrary-predicate UPDATE: positional delete + ordinary insert —
    // the two original files STILL never rewrite
    spark.sql("UPDATE g14pd.default.t SET v = -1.0 " +
      "WHERE k BETWEEN 5 AND 7")                            // v4
    val v4 = ManifestTable.currentVersion(dir)
    assert(dataFiles.subsetOf(ManifestTable.listFiles(dir, v4).toSet),
      "the originals survive an UPDATE untouched")
    expect(base -- Seq(0L, 1L, 2L, 15L) ++
      Seq(5L -> -1.0, 6L -> -1.0, 7L -> -1.0))
    // MERGE: matched rows doom positionally (even ones living in the
    // UPDATE's insert file), inserts append
    spark.sql("""MERGE INTO g14pd.default.t t USING (
        SELECT CAST(6 AS BIGINT) AS k, -6.0 AS v
        UNION ALL SELECT CAST(100 AS BIGINT), -100.0) s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")                    // v5
    val v5 = ManifestTable.currentVersion(dir)
    assert(dataFiles.subsetOf(ManifestTable.listFiles(dir, v5).toSet))
    val want5 = base -- Seq(0L, 1L, 2L, 15L) ++
      Seq(5L -> -1.0, 6L -> -6.0, 7L -> -1.0, 100L -> -100.0)
    expect(want5)
    // COUNT(*) stays METADATA-SERVED under pure-positional markers:
    // positions are exact ordinals, so live = rows − doomed, computed
    // from the tiny staged positions parquets with zero data-file I/O
    val cnt = spark.sql("SELECT count(*) FROM g14pd.default.t")
    assert(cnt.queryExecution.executedPlan.toString.contains("metadata agg"),
      s"pure-positional COUNT(*) must serve from metadata:\n" +
        cnt.queryExecution.executedPlan)
    assert(cnt.head().getLong(0) == want5.size.toLong)
    // …but anything a doomed row could still influence declines honestly
    val mx = spark.sql("SELECT max(v) FROM g14pd.default.t")
    assert(!mx.queryExecution.executedPlan.toString.contains("metadata agg"))
    assert(mx.head().getDouble(0) == 19.0)
    // table history serves exact live counts under pure-positional
    // markers too (rows − doomed ordinals, same arithmetic)
    val hist = ManifestTable.history(spark, dir).collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(hist(3) == 16L && hist(5) == 17L,
      s"history live counts: v3=${hist(3)} v5=${hist(5)}")
    // the LIMIT file-prefix shortcut stays armed too: per-file LIVE
    // counts are exact under positional markers, so LIMIT 3 plans one
    // file (file A holds 10 − 6 doomed = 4 live rows) out of four
    val lim = spark.sql("SELECT k FROM g14pd.default.t LIMIT 3")
    assert(lim.queryExecution.executedPlan.toString.contains("files 1/4"),
      s"positional live counts must keep the prefix armed:\n" +
        lim.queryExecution.executedPlan)
    assert(lim.collect().length == 3)
    // the change feed crosses positional markers: the v3 delete commit
    // emits exactly its doomed live rows
    val feed = spark.sql(
      """SELECT _change_type, _commit_version, k
         FROM g14pd.default.`t$changes`""")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(feed.filter(_._2 == 3).map(e => (e._1, e._3)).toSet ==
      Set(0L, 1L, 2L, 15L).map(k => ("delete", k)),
      s"v3 diff must be its doomed rows: ${feed.filter(_._2 == 3).toSeq}")
    val live = feed.groupBy(_._3).collect {
      case (k, evs) if evs.count(_._1 == "insert") >
        evs.count(_._1 == "delete") => k
    }.toSet
    assert(live == want5.keySet, "feed-reconstructed live set")
    // governance composes: doomed rows are invisible to the policy
    ManifestTable.setPolicy(dir, masks = Map("v" -> "-9.0"),
      rowFilter = Some("k < 1000"))
    val gov = spark.sql("SELECT k, v FROM g14pd.default.t").collect()
    assert(gov.length == want5.size && gov.forall(_.getDouble(1) == -9.0))
    ManifestTable.setPolicy(dir, masks = Map.empty) // clear
    // optimize MATERIALIZES the positional markers (the small-file pass
    // reads the DV-merged view): rows preserved, markers gone
    val vO = ManifestTable.optimize(spark, dir, numFiles = 1)
    assert(ManifestTable.dvEntries(dir, vO).isEmpty,
      "a full rewrite pass leaves no marker")
    expect(want5)
    ManifestTable.destroy(root)
  }

  test("positional DVs compose with keyed markers, renames, and restore") {
    val root = freshDir("pdc")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g14pc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14pc.root", root)
    spark.sql("""CREATE TABLE g14pc.default.t (uid STRING, k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.dml.mode' = 'positional',
                     'delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g14pc.default.t
      SELECT /*+ REPARTITION(1) */ concat('u', id), id, CAST(id AS DOUBLE)
      FROM range(0, 10)""")                                 // v1: gen-1 file
    // positional marker (arbitrary predicate) + keyed string marker (the
    // mor fast path) TARGETING THE SAME FILE — both kinds apply per row
    spark.sql("DELETE FROM g14pc.default.t WHERE v < 2.0")  // v2: _pos dv
    spark.sql("DELETE FROM g14pc.default.t " +
      "WHERE uid IN ('u5')")                                // v3: keyed dv
    val v3 = ManifestTable.currentVersion(dir)
    assert(ManifestTable.dvEntries(dir, v3).map(_.col).toSet ==
      Set("_pos", "uid"), "both marker kinds live on the file")
    // rename AFTER the markers: positions are rename-invariant, the
    // keyed marker resolves through the alias chain
    spark.sql("ALTER TABLE g14pc.default.t RENAME COLUMN v TO value") // v4
    spark.sql("""INSERT INTO g14pc.default.t
      SELECT /*+ REPARTITION(1) */ concat('u', id) AS uid, id AS k,
             CAST(id AS DOUBLE) AS value
      FROM range(10, 20)""")                                // v5: gen-2 file
    // positional UPDATE under the composed state, hitting BOTH
    // generations in one statement
    spark.sql("UPDATE g14pc.default.t SET value = -1.0 " +
      "WHERE k IN (3, 12)")                                 // v6
    val got = spark.sql("SELECT uid, k, value FROM g14pc.default.t")
      .collect().map(r => (r.getLong(1), (r.getString(0), r.getDouble(2))))
      .toMap
    assert(got.size == 17, s"20 - doomed {0,1,5} = 17, got ${got.size}")
    assert(!got.contains(0L) && !got.contains(1L) && !got.contains(5L))
    assert(got(3L) == ("u3", -1.0) && got(12L) == ("u12", -1.0))
    assert(got(7L) == ("u7", 7.0) && got(15L) == ("u15", 15.0))
    // restore to v2: only the positional marker exists there — rows
    // {2..9} live, pre-rename names serve
    ManifestTable.restore(dir, 2)
    val back = spark.sql("SELECT k FROM g14pc.default.t")
      .collect().map(_.getLong(0)).toSet
    assert(back == (2L until 10L).toSet,
      s"restore must resurrect the keyed-deleted row and drop the " +
        s"post-restore inserts: $back")
    ManifestTable.destroy(root)
  }

  test("re-added freed name: pushdowns refuse with the scan, never answer") {
    val root = freshDir("raf")
    spark.conf.set("spark.sql.catalog.g14rf",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14rf.root", root)
    spark.sql("CREATE TABLE g14rf.default.t (a BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO g14rf.default.t
      SELECT id, CAST(id AS DOUBLE) FROM range(0, 10)""")
    spark.sql("ALTER TABLE g14rf.default.t RENAME COLUMN a TO b")
    // re-adding the renamed-away name is allowed at DDL time; the SCAN
    // is what refuses (old files' physical 'a' means logical b, new
    // files' 'a' means the new column — unreconcilable)
    spark.sql("ALTER TABLE g14rf.default.t ADD COLUMN a BIGINT")
    spark.sql("""INSERT INTO g14rf.default.t
      SELECT id AS b, CAST(id AS DOUBLE) AS v, id + 5000 AS a
      FROM range(0, 5)""")
    // a metadata-servable aggregate must hit the SAME refusal as a full
    // scan — it must never fold the new a-column's stats into max(b)
    // and silently answer 5004
    Seq("SELECT max(b) AS mx FROM g14rf.default.t",
        "SELECT count(*) AS n FROM g14rf.default.t",
        "SELECT b FROM g14rf.default.t WHERE b > 3").foreach { sql =>
      val e = intercept[Exception] { spark.sql(sql).collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("renamed-away")),
        s"$sql must refuse like the scan does, got: ${e.getMessage}")
    }
    // renaming the re-added name AWAY would put two entries with the
    // same FROM in the chain ((a,b) then (a,c)) — physical 'a' would
    // mean logical b in old files and logical c in new ones, and the
    // collapsed chain would silently serve old b bytes as c. Refused
    // at commit instead.
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE g14rf.default.t RENAME COLUMN a TO c")
    }
    def msgs2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs2(t.getCause)
    assert(msgs2(e2).exists(_.contains("re-added")),
      s"renaming a re-added freed name away must refuse: ${e2.getMessage}")
    ManifestTable.destroy(root)
  }

  test("keyed DELETE on a positional table stays rewrite-free") {
    val root = freshDir("pkd")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g14pk",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14pk.root", root)
    spark.sql("""CREATE TABLE g14pk.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
    spark.sql("""INSERT INTO g14pk.default.t
      SELECT /*+ REPARTITION(1) */ id, CAST(id AS DOUBLE)
      FROM range(0, 10)""")
    val files = ManifestTable.listFiles(dir, 1).toSet
    // the key-membership shape would take the copy-on-write fast path
    // and REWRITE the file — positional mode declines it to the delta
    // plan, which publishes a positional marker instead
    spark.sql("DELETE FROM g14pk.default.t WHERE k IN (1, 2)")
    val v = ManifestTable.currentVersion(dir)
    assert(ManifestTable.listFiles(dir, v).toSet == files,
      "a keyed delete in positional mode must not rewrite any file")
    assert(ManifestTable.dvEntries(dir, v).exists(_.col == "_pos"))
    assert(spark.sql("SELECT k FROM g14pk.default.t")
      .collect().map(_.getLong(0)).toSet == ((0L until 10L).toSet -- Set(1L, 2L)))
    ManifestTable.destroy(root)
  }

  test("positional markers consolidate and survive a mode-flip rewrite") {
    val root = freshDir("pcm")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g14pm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14pm.root", root)
    spark.sql("""CREATE TABLE g14pm.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.dml.mode' = 'positional')""")
    spark.sql("""INSERT INTO g14pm.default.t
      SELECT /*+ REPARTITION(1) */ id, CAST(id AS DOUBLE)
      FROM range(0, 20)""")
    // two positional deletes → two markers targeting the SAME file
    spark.sql("DELETE FROM g14pm.default.t WHERE v < 2.0")
    spark.sql("DELETE FROM g14pm.default.t WHERE k IN (10, 11)")
    val v0 = ManifestTable.currentVersion(dir)
    assert(ManifestTable.dvEntries(dir, v0).count(_.col == "_pos") == 2)
    // consolidation unions the (file, ordinal) pairs into ONE marker
    // without touching any data file; answers identical
    spark.sql("CALL g14pm.system.rewrite_dvs(table => 't')")
    val v1 = ManifestTable.currentVersion(dir)
    assert(ManifestTable.dvEntries(dir, v1).count(_.col == "_pos") == 1,
      s"got ${ManifestTable.dvEntries(dir, v1)}")
    val live = (0L until 20L).toSet -- Set(0L, 1L, 10L, 11L)
    assert(spark.sql("SELECT k FROM g14pm.default.t")
      .collect().map(_.getLong(0)).toSet == live)
    // MODE FLIP: with positional DML off, an UPDATE goes back to
    // copy-on-write rewrites — the rewrite must drop positional-doomed
    // survivors (a resurrected row would be silent corruption) and
    // strike the rewritten file from the marker
    spark.sql("ALTER TABLE g14pm.default.t " +
      "UNSET TBLPROPERTIES ('graft.dml.mode')")
    spark.sql("UPDATE g14pm.default.t SET v = -1.0 WHERE k = 5")
    val got = spark.sql("SELECT k, v FROM g14pm.default.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.keySet == live, s"resurrected=${got.keySet -- live}")
    assert(got(5L) == -1.0 && got(12L) == 12.0)
    assert(ManifestTable.dvEntries(dir,
        ManifestTable.currentVersion(dir)).isEmpty,
      "the rewrite materialized the marker (its only target was rewritten)")
    ManifestTable.destroy(root)
  }

  test("streaming changes feed crosses positional markers") {
    val root = freshDir("pst")
    spark.conf.set("spark.sql.catalog.g14ps",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g14ps.root", root)
    spark.sql("""CREATE TABLE g14ps.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('graft.dml.mode' = 'positional')""")           // v0
    spark.sql("""INSERT INTO g14ps.default.t
      SELECT /*+ REPARTITION(1) */ id, CAST(id AS DOUBLE)
      FROM range(0, 8)""")                                          // v1
    spark.sql("DELETE FROM g14ps.default.t WHERE v >= 6.0")         // v2
    spark.sql("UPDATE g14ps.default.t SET v = -1.0 WHERE k = 2")    // v3
    val want = (0L until 8L).map(k => ("insert", 1, k)).toSet ++
      Set(("delete", 2, 6L), ("delete", 2, 7L),
        ("delete", 3, 2L), ("insert", 3, 2L))
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, Int, Long)]()
    val q = spark.readStream.table("g14ps.default.`t$changes`")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("_change_type", "_commit_version", "k").collect()
          .foreach(r => seen.add((r.getString(0), r.getInt(1), r.getLong(2))))
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == want,
      s"missing=${(want -- seen.asScala).take(8)} " +
        s"extra=${(seen.asScala.toSet -- want).take(8)}")
    ManifestTable.destroy(root)
  }
}
