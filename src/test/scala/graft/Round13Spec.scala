package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 surfaces: row-level SQL DML running ON deletion-vector
  * tables (no compact-first), unpartitioned MERGE inserts spread across
  * write tasks via the `spread` clustering function, the bounded
  * deletion-vector key budget, and governance composing with
  * merge-on-read scans. */
class Round13Spec extends AnyFunSuite {
  import TestSpark._
  import sources.{ManifestTable, Snapshot}

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_r13_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  private def messages(t: Throwable): String = {
    val b = new StringBuilder
    var c: Throwable = t
    while (c != null) { b.append(c.getMessage).append('\n'); c = c.getCause }
    b.toString
  }

  test("delete→merge→select lifecycle on a DV table, no compaction") {
    val root = freshDir("dml")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13dv",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13dv.root", root)
    spark.sql("""CREATE TABLE g13dv.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.range(1, 201)
      .select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .repartition(4, col("k"))
      .createOrReplaceTempView("r13_dml_src")
    spark.sql("INSERT INTO g13dv.default.t SELECT * FROM r13_dml_src")
    assert(ManifestTable.listLines(dir, ManifestTable.currentVersion(dir))
      .size == 4, "fixture expects 4 data files")
    // the MOR delete: one doomed-key parquet + a #dv marker, no rewrite
    spark.sql("DELETE FROM g13dv.default.t WHERE k IN (5, 6, 7, 8, 9, 10)")
    val dvV = ManifestTable.currentVersion(dir)
    val marker = ManifestTable.dvEntries(dir, dvV)
    assert(marker.nonEmpty, "the key-membership DELETE must publish a #dv")
    val targetsBefore = marker.flatMap(_.targets).toSet
    assert(targetsBefore.nonEmpty)
    // MERGE straight onto the DV table (pre-r13: 'compact first'):
    //  - k=1,2 are live matches → UPDATE
    //  - k=5 is dv-doomed → invisible → NOT MATCHED → re-INSERT as new
    //  - k=1000 is new → INSERT
    spark.sql("""SELECT * FROM VALUES
        (CAST(1 AS BIGINT), -1.0), (CAST(2 AS BIGINT), -2.0),
        (CAST(5 AS BIGINT), -5.0), (CAST(1000 AS BIGINT), -10.0)
      AS s(k, v)""").createOrReplaceTempView("r13_dml_batch")
    spark.sql("""MERGE INTO g13dv.default.t t USING r13_dml_batch s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    // no compaction happened: the commit is a #mutate, and the markers
    // survive with REWRITTEN files struck from their target sets
    val vAfter = ManifestTable.currentVersion(dir)
    val markerAfter = ManifestTable.dvEntries(dir, vAfter)
    val liveNames = ManifestTable.listLines(dir, vAfter)
      .map(ManifestTable.parseEntry(_).name).toSet
    assert(markerAfter.forall(_.targets.subsetOf(liveNames)),
      "carried dv markers must only target live files")
    assert(markerAfter.flatMap(_.targets).toSet.subsetOf(targetsBefore),
      "a dv marker can only lose targets through DML, never gain")
    // the answer: doomed keys gone (except re-inserted 5), updates
    // applied, insert present
    val got = spark.sql("SELECT k, v FROM g13dv.default.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.get(1L).contains(-1.0) && got.get(2L).contains(-2.0),
      s"matched updates must apply: ${got.get(1L)}, ${got.get(2L)}")
    assert(got.get(5L).contains(-5.0),
      "a dv-doomed key is NOT MATCHED and re-inserts as a fresh row")
    assert(got.get(1000L).contains(-10.0), "the new key must insert")
    Seq(6L, 7L, 8L, 9L, 10L).foreach(k =>
      assert(!got.contains(k), s"doomed key $k resurrected"))
    assert(got.size == 200 - 6 + 2, s"row count: ${got.size}")
    // second DELETE leg (another DV) then UPDATE over it — the repeated
    // delete-then-merge loop of a fact-table pipeline, still no compaction
    spark.sql("DELETE FROM g13dv.default.t WHERE k IN (20, 21)")
    spark.sql("UPDATE g13dv.default.t SET v = 0.0 WHERE k = 22")
    val fin = spark.sql("SELECT k, v FROM g13dv.default.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(!fin.contains(20L) && !fin.contains(21L))
    assert(fin.get(22L).contains(0.0))
    assert(fin.size == got.size - 2)
    ManifestTable.destroy(root)
  }

  test("unpartitioned bulk-MERGE inserts spread over >1 write task") {
    val root = freshDir("spr")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13sp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13sp.root", root)
    // NO bucket transform — pre-r13 every NULL-_file insert row landed
    // in the single NULL cluster, i.e. one write task / one file
    spark.sql("CREATE TABLE g13sp.default.t (k BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO g13sp.default.t
      SELECT id AS k, 1.0 AS v FROM range(0, 100)""")
    val before = ManifestTable
      .listLines(dir, ManifestTable.currentVersion(dir))
      .map(ManifestTable.parseEntry(_).name).toSet
    spark.range(0, 5000)
      .select(col("id").as("k"), lit(-1.0).as("v"))
      .createOrReplaceTempView("r13_spr_src")
    // AQE rightly coalesces a KB-scale shuffle into one partition — the
    // spread is SIZE-AWARE by construction. Pin coalescing off so the
    // test observes the fan-out a 100 GB statement would get.
    val prevCoalesce = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      spark.sql("""MERGE INTO g13sp.default.t t USING r13_spr_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *""")
    } finally spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    val entries = ManifestTable
      .listLines(dir, ManifestTable.currentVersion(dir))
      .map(ManifestTable.parseEntry)
    val insertFiles = entries.filterNot(e => before.contains(e.name))
      .filter(_.name.startsWith("w-"))
    assert(insertFiles.size > 1,
      "spread(w, _file, c) must fan unmatched MERGE inserts over >1 " +
        s"write task on an UNBUCKETED table, got ${insertFiles.size} " +
        s"file(s): ${insertFiles.map(_.name).mkString(", ")}")
    // and the answer is exact: all 5000 keys present once, v = -1.0
    val got = spark.sql("SELECT k, v FROM g13sp.default.t").collect()
    assert(got.length == 5000, s"row count ${got.length}")
    assert(got.forall(_.getDouble(1) == -1.0))
    assert(got.map(_.getLong(0)).toSet == (0L until 5000L).toSet)
    ManifestTable.destroy(root)
  }

  test("deletion-vector key budget refuses loudly instead of ballooning heap") {
    val root = freshDir("bud")
    spark.conf.set("spark.sql.catalog.g13bu",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13bu.root", root)
    spark.sql("""CREATE TABLE g13bu.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g13bu.default.t
      SELECT id AS k, 1.0 AS v FROM range(0, 60)""")
    spark.sql("DELETE FROM g13bu.default.t WHERE k IN (" +
      (0 until 30).mkString(", ") + ")")
    sys.props("graft.dv.maxKeys") = "10"
    try {
      val e = intercept[Throwable] {
        spark.sql("SELECT count(*) FROM g13bu.default.t WHERE v > 0")
          .collect()
      }
      assert(messages(e).contains("graft.dv.maxKeys"),
        s"expected the key-budget refusal, got: ${messages(e)}")
    } finally sys.props -= "graft.dv.maxKeys"
    // within budget (fresh cache key is NOT guaranteed — same path/col —
    // so clear via a fresh session read): the same scan serves fine
    val n = spark.sql("SELECT count(*) FROM g13bu.default.t WHERE v > 0")
      .collect().head.getLong(0)
    assert(n == 30, s"live rows: $n")
    ManifestTable.destroy(root)
  }

  test("CBO NDV stays metadata-served through row-level DML, no optimize") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = freshDir("ndv")
    spark.conf.set("spark.sql.catalog.g13nd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13nd.root", root)
    spark.sql("""CREATE TABLE g13nd.default.t (k BIGINT, tag STRING, v DOUBLE)
      TBLPROPERTIES ('graft.write.ndv' = 'k,tag')""")
    spark.sql("""INSERT INTO g13nd.default.t
      SELECT id AS k, concat('t', CAST(id % 97 AS STRING)) AS tag,
             1.0 AS v
      FROM range(0, 2000)""")
    def servedNdv(col: String): Option[Long] = {
      val scan = spark.table("g13nd.default.t").select(col, "v")
        .queryExecution.optimizedPlan.collect {
          case r: DataSourceV2ScanRelation => r.scan
        }.head.asInstanceOf[graft.sources.ManifestFilesScan]
      val it = scan.estimateStatistics().columnStats().entrySet().iterator()
      var out: Option[Long] = None
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.fieldNames.head == col &&
            e.getValue.distinctCount().isPresent)
          out = Some(e.getValue.distinctCount().getAsLong)
      }
      out
    }
    def near(got: Option[Long], want: Long, what: String): Unit = {
      assert(got.isDefined, s"$what: NDV must stay metadata-served")
      assert(math.abs(got.get - want) <= math.max(2L, want / 20),
        s"$what: HLL NDV ${got.get} should approximate $want within 5%")
    }
    near(servedNdv("k"), 2000, "after insert")
    // the UPDATE rewrites hit files (survivor re-registration) and adds
    // insert files (row-by-row registration) — pre-r13 the rewritten
    // files LOST their H blobs and the whole snapshot's NDV declined
    spark.sql("UPDATE g13nd.default.t SET v = 0.0 WHERE k % 10 = 3")
    near(servedNdv("k"), 2000, "after UPDATE")
    near(servedNdv("tag"), 97, "string column after UPDATE")
    // MERGE inserting 500 genuinely new keys moves the estimate
    spark.range(2000, 2500)
      .selectExpr("id AS k", "concat('x', CAST(id AS STRING)) AS tag",
        "2.0 AS v")
      .createOrReplaceTempView("r13_ndv_batch")
    spark.sql("""MERGE INTO g13nd.default.t t USING r13_ndv_batch s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    near(servedNdv("k"), 2500, "after MERGE")
    near(servedNdv("tag"), 97 + 500, "string column after MERGE")
    // DELETE keeps the leg armed too (rewrites re-register survivors)
    spark.sql("DELETE FROM g13nd.default.t WHERE k >= 2250")
    near(servedNdv("k"), 2250, "after DELETE")
    ManifestTable.destroy(root)
  }

  test("filtered INSERT OVERWRITE composes with deletion vectors") {
    val root = freshDir("fow")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13fo",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13fo.root", root)
    spark.sql("""CREATE TABLE g13fo.default.t (k BIGINT, yr INT, v DOUBLE)
      PARTITIONED BY (yr) TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g13fo.default.t
      SELECT id AS k, CASE WHEN id < 100 THEN 1997 ELSE 1998 END AS yr,
             CAST(id AS DOUBLE) AS v
      FROM range(0, 200)""")
    // doom keys in BOTH partitions: 10-12 (1997), 150-151 (1998)
    spark.sql("DELETE FROM g13fo.default.t WHERE k IN (10, 11, 12, 150, 151)")
    val dvV = ManifestTable.currentVersion(dir)
    assert(ManifestTable.dvEntries(dir, dvV).nonEmpty,
      "the keyed DELETE must publish a #dv marker")
    // pre-r13 this refused ('compact first'); now: hit files rewrite
    // their DV-MERGED survivors, untouched files carry markers with
    // rewritten targets struck
    spark.sql("""INSERT OVERWRITE g13fo.default.t PARTITION (yr = 1997)
      SELECT id AS k, -1.0 AS v FROM range(0, 50)""")
    val vAfter = ManifestTable.currentVersion(dir)
    val liveNames = ManifestTable.listLines(dir, vAfter)
      .map(ManifestTable.parseEntry(_).name).toSet
    val after = ManifestTable.dvEntries(dir, vAfter)
    assert(after.forall(_.targets.subsetOf(liveNames)),
      "carried dv markers must only target live files")
    assert(after.flatMap(_.targets).nonEmpty,
      "the 1998 files keep their marker — the doomed 1998 keys are " +
        "still served by merge-on-read, not materialized")
    val got = spark.sql("SELECT k, yr, v FROM g13fo.default.t").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val want =
      (0L until 50L).map(k => (k, 1997, -1.0)).toSet ++          // reload
      (100L until 200L).filterNot(k => k == 150L || k == 151L)
        .map(k => (k, 1998, k.toDouble)).toSet                    // bystanders
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    ManifestTable.destroy(root)
  }

  test("the change feed crosses MOR deletes, batch and streaming") {
    val root = freshDir("cfm")
    spark.conf.set("spark.sql.catalog.g13cf",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13cf.root", root)
    spark.sql("""CREATE TABLE g13cf.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")                    // v0
    spark.sql("""INSERT INTO g13cf.default.t
      SELECT id AS k, 1.0 AS v FROM range(0, 10)""")               // v1
    spark.sql("DELETE FROM g13cf.default.t WHERE k IN (3, 4)")     // v2: #dv
    spark.sql("""INSERT INTO g13cf.default.t
      SELECT id AS k, 2.0 AS v FROM range(10, 15)""")              // v3
    spark.sql("""INSERT OVERWRITE g13cf.default.t
      SELECT id AS k, 3.0 AS v FROM range(20, 22)""")              // v4
    // expected row-level feed:
    //   v2 'delete' = exactly the newly-doomed live rows (3, 4)
    //   v4 'delete' = the rows LIVE at v3 — prior deletion vectors
    //                 applied, so 3 and 4 must NOT re-emit
    val want =
      (0L until 10L).map(k => ("insert", 1, k)).toSet ++
      Set(("delete", 2, 3L), ("delete", 2, 4L)) ++
      (10L until 15L).map(k => ("insert", 3, k)).toSet ++
      ((0L until 10L).toSet -- Set(3L, 4L) ++ (10L until 15L))
        .map(k => ("delete", 4, k)).toSet ++
      Set(("insert", 4, 20L), ("insert", 4, 21L))
    val got = spark.sql(
      "SELECT _change_type, _commit_version, k FROM g13cf.default.`t$changes`")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want,
      s"batch feed: missing=${(want -- got).take(8)} " +
        s"extra=${(got -- want).take(8)}")
    // the STREAMING feed crosses the same history (pre-r13: refused)
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, Int, Long)]()
    val q = spark.readStream.table("g13cf.default.`t$changes`")
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
      s"streaming feed: missing=${(want -- seen.asScala).take(8)} " +
        s"extra=${(seen.asScala.toSet -- want).take(8)}")
    ManifestTable.destroy(root)
  }

  test("the change feed stays row-consistent across restore on DV tables") {
    val root = freshDir("cfr")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13cr",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13cr.root", root)
    spark.sql("""CREATE TABLE g13cr.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")                    // v0
    spark.sql("""INSERT INTO g13cr.default.t
      SELECT id AS k, 1.0 AS v FROM range(0, 10)""")               // v1
    spark.sql("DELETE FROM g13cr.default.t WHERE k IN (3, 4)")     // v2: #dv
    ManifestTable.restore(dir, 1)                                  // v3
    spark.sql("DELETE FROM g13cr.default.t WHERE k IN (5)")        // v4: #dv
    spark.sql("""INSERT OVERWRITE g13cr.default.t
      SELECT id AS k, 3.0 AS v FROM range(20, 22)""")              // v5
    ManifestTable.restore(dir, 4)                                  // v6
    val want =
      (0L until 10L).map(k => ("insert", 1, k)).toSet ++
      Set(("delete", 2, 3L), ("delete", 2, 4L)) ++
      // v3 restore(1): markers gone, files unchanged → 3 and 4 RESURRECT
      Set(("insert", 3, 3L), ("insert", 3, 4L)) ++
      Set(("delete", 4, 5L)) ++
      // v5 overwrite: deletes the rows live at v4, inserts the reload
      ((0L until 10L).toSet - 5L).map(k => ("delete", 5, k)).toSet ++
      Set(("insert", 5, 20L), ("insert", 5, 21L)) ++
      // v6 restore(4): re-adds the original file WITH its marker — k=5
      // is dead on arrival (no insert, and NO spurious delete), the rest
      // come back; the overwrite's rows leave
      Set(("delete", 6, 20L), ("delete", 6, 21L)) ++
      ((0L until 10L).toSet - 5L).map(k => ("insert", 6, k)).toSet
    val got = spark.sql(
      "SELECT _change_type, _commit_version, k FROM g13cr.default.`t$changes`")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).toSeq.sorted.take(10)} " +
        s"extra=${(got -- want).toSeq.sorted.take(10)}")
    // the running sum of the feed reconstructs the final live set exactly
    val live = got.toSeq.groupBy(_._3).collect {
      case (k, evs) if evs.count(_._1 == "insert") >
        evs.count(_._1 == "delete") => k
    }.toSet
    val table = spark.sql("SELECT k FROM g13cr.default.t")
      .collect().map(_.getLong(0)).toSet
    assert(live == table,
      s"feed-reconstructed live set must equal the table: " +
        s"feedOnly=${(live -- table).take(5)} tableOnly=${(table -- live).take(5)}")
    ManifestTable.destroy(root)
  }

  test("rewrite_dvs consolidates markers; signatures keep re-inserts live") {
    val root = freshDir("cdv")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13cd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13cd.root", root)
    spark.sql("""CREATE TABLE g13cd.default.t (k BIGINT, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g13cd.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, 1.0 AS v
      FROM range(0, 10)""")                                 // file A: 0-9
    spark.sql("""INSERT INTO g13cd.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, 1.0 AS v
      FROM range(10, 20)""")                                // file C: 10-19
    spark.sql("DELETE FROM g13cd.default.t WHERE k IN (3, 12)") // m1 → A,C
    spark.sql("DELETE FROM g13cd.default.t WHERE k IN (5)")     // m2 → A
    // k=3 RE-INSERTED after its delete: file B's row must survive the
    // consolidation (a naive all-markers union targeting all files would
    // doom it)
    spark.sql("INSERT INTO g13cd.default.t VALUES (CAST(3 AS BIGINT), 9.0)")
    spark.sql("DELETE FROM g13cd.default.t WHERE k IN (7)")     // m3 → A
    val vBefore = ManifestTable.currentVersion(dir)
    val before = ManifestTable.dvEntries(dir, vBefore)
    assert(before.size == 3, s"fixture: 3 markers, got ${before.size}")
    val expect = ((0L until 20L).toSet -- Set(3L, 5L, 7L, 12L)) + 3L
    def liveKeys(): Set[Long] = spark.sql("SELECT k FROM g13cd.default.t")
      .collect().map(_.getLong(0)).toSet
    assert(liveKeys() == expect)
    val newV = spark.sql("CALL g13cd.system.rewrite_dvs(table => 't')")
      .collect().head.getInt(0)
    assert(newV == vBefore + 1, "consolidation = one rewrite commit")
    val after = ManifestTable.dvEntries(dir, newV)
    // every file now referenced by at most one marker (per column)
    val perFile = after.flatMap(m => m.targets.toSeq.map(t => (t, m.col)))
      .groupBy(identity).values.map(_.size)
    assert(perFile.forall(_ == 1),
      s"a file must be referenced by at most one marker per column: $after")
    assert(after.size < before.size,
      s"consolidation must shrink the marker count: ${before.size} → " +
        s"${after.size}")
    // answers unchanged — including the re-inserted k=3 staying live
    assert(liveKeys() == expect, "consolidation must never change answers")
    // time travel to the pre-consolidation version still merges the OLD
    // markers (their key files are vacuum-protected while retained)
    assert(ManifestTable.readVersion(spark, dir, vBefore)
      .select("k").collect().map(_.getLong(0)).toSet == expect)
    // idempotent: a second call is a no-op
    assert(spark.sql("CALL g13cd.system.rewrite_dvs(table => 't')")
      .collect().head.getInt(0) == newV)
    // the change feed SKIPS the rewrite commit (live rows unchanged)
    val feedVs = spark.sql(
      "SELECT DISTINCT _commit_version FROM g13cd.default.`t$changes`")
      .collect().map(_.getInt(0)).toSet
    assert(!feedVs.contains(newV),
      s"the feed must skip the consolidation rewrite: $feedVs")
    ManifestTable.destroy(root)
  }

  test("rebucket materializes deletion vectors in its single rewrite pass") {
    val root = freshDir("rbd")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13rb",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13rb.root", root)
    spark.sql("""CREATE TABLE g13rb.default.t (k BIGINT, v DOUBLE)
      PARTITIONED BY (bucket(4, k))
      TBLPROPERTIES ('delete.mode' = 'mor')""")
    spark.sql("""INSERT INTO g13rb.default.t
      SELECT id AS k, 1.0 AS v FROM range(0, 100)""")
    spark.sql("DELETE FROM g13rb.default.t WHERE k IN (11, 22, 33)")
    assert(ManifestTable.dvEntries(dir,
      ManifestTable.currentVersion(dir)).nonEmpty)
    // pre-r13: refused ('compact first' + rebucket = TWO full rewrites)
    spark.sql("CALL g13rb.system.rebucket(table => 't')")
    val v = ManifestTable.currentVersion(dir)
    assert(ManifestTable.dvEntries(dir, v).isEmpty,
      "rebucket must materialize the deletes — no marker survives")
    val entries = ManifestTable.listLines(dir, v).map(ManifestTable.parseEntry)
    assert(entries.forall(_.bucket.isDefined),
      "every rebucketed file must carry its bucket stamp")
    assert(spark.sql("SELECT k FROM g13rb.default.t").collect()
      .map(_.getLong(0)).toSet == (0L until 100L).toSet -- Set(11L, 22L, 33L))
    ManifestTable.destroy(root)
  }

  test("string-keyed MOR deletes: scan, DML rewrite, feed, consolidation") {
    val root = freshDir("sdv")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13sd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13sd.root", root)
    spark.sql("""CREATE TABLE g13sd.default.t (user_id STRING, v DOUBLE)
      TBLPROPERTIES ('delete.mode' = 'mor')""")                    // v0
    spark.sql("""INSERT INTO g13sd.default.t
      SELECT /*+ REPARTITION(1) */
        concat('u', lpad(CAST(id AS STRING), 3, '0')) AS user_id,
        CAST(id AS DOUBLE) AS v
      FROM range(0, 100)""")                                       // v1
    // the GDPR delete: one BINARY key parquet + a #dv marker
    spark.sql("DELETE FROM g13sd.default.t WHERE user_id IN ('u005', 'u017')")
    val dvV = ManifestTable.currentVersion(dir)                    // v2
    assert(ManifestTable.dvEntries(dir, dvV).nonEmpty,
      "a string-keyed DELETE in mor mode must publish a #dv marker")
    def ids(): Set[String] = spark.sql("SELECT user_id FROM g13sd.default.t")
      .collect().map(_.getString(0)).toSet
    def all(except: Set[Int]): Set[String] =
      (0 until 100).filterNot(except).map(i => f"u$i%03d").toSet
    assert(ids() == all(Set(5, 17)), "the scan must drop string-doomed rows")
    // a projection NOT including the key column still filters (the
    // reader decodes the BINARY key internally)
    assert(spark.sql("SELECT count(*) AS n FROM g13sd.default.t")
      .head().getLong(0) == 98)
    // the change feed emits exactly the doomed live rows at the dv commit
    val feed = spark.sql("""SELECT _change_type, _commit_version, user_id
        FROM g13sd.default.`t$changes` WHERE _commit_version = 2""")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(feed == Set(("delete", "u005"), ("delete", "u017")),
      s"string-dv feed: $feed")
    // row-level DML ON the string-DV table: the delta rewrite must drop
    // string-doomed rows (BINARY decode in the parquet-mr copy)
    spark.sql("UPDATE g13sd.default.t SET v = -1.0 WHERE user_id = 'u006'")
    assert(ids() == all(Set(5, 17)), "DML must not resurrect doomed keys")
    assert(spark.sql(
      "SELECT v FROM g13sd.default.t WHERE user_id = 'u006'")
      .head().getDouble(0) == -1.0)
    // second delete + consolidation: answers unchanged, markers merged
    spark.sql("DELETE FROM g13sd.default.t WHERE user_id IN ('u023')")
    val before = ManifestTable.dvEntries(dir, ManifestTable.currentVersion(dir))
    ManifestTable.consolidateDvs(spark, dir)
    val after = ManifestTable.dvEntries(dir, ManifestTable.currentVersion(dir))
    assert(ids() == all(Set(5, 17, 23)),
      "consolidation must never change answers")
    assert(after.size <= before.size)
    ManifestTable.destroy(root)
  }

  test("the change feed enforces governance, batch and streaming") {
    val root = freshDir("gcf")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13gc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13gc.root", root)
    spark.range(0, 60).selectExpr("id AS k",
        "CASE WHEN id % 3 = 0 THEN 'hide' ELSE 'show' END AS grp",
        "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("r13_gcf_src")
    ManifestTable.merge(spark, dir,
      spark.table("r13_gcf_src"), Seq("k"))                       // v0
    ManifestTable.setPolicy(dir,
      masks = Map("v" -> "v * 0 + 1"),
      rowFilter = Some("grp <> 'hide'"))                          // v1
    ManifestTable.deleteKeysMOR(spark, dir, "k", keys = Seq(4L, 6L)) // v2
    // the governed feed: 'hide' rows never emit (k=6 is doomed AND
    // hidden — its delete must not emit either); v is masked to 1 in
    // both directions; the policy commit itself emits nothing
    val want =
      (0L until 60L).filter(_ % 3 != 0).map(k => ("insert", 0, k, 1.0)).toSet ++
      Set(("delete", 2, 4L, 1.0))
    val got = spark.sql("""SELECT _change_type, _commit_version, k, v
        FROM g13gc.default.`t$changes`""")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want,
      s"governed batch feed: missing=${(want -- got).take(6)} " +
        s"extra=${(got -- want).take(6)}")
    // a pruned projection that drops the masked column still governs
    val ks = spark.sql(
      "SELECT k FROM g13gc.default.`t$changes` WHERE _change_type = 'insert'")
      .collect().map(_.getLong(0)).toSet
    assert(ks == (0L until 60L).filter(_ % 3 != 0).toSet)
    // the STREAMING governed feed pins the policy at start and agrees
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, Int, Long, Double)]()
    val q = spark.readStream.table("g13gc.default.`t$changes`")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("_change_type", "_commit_version", "k", "v").collect()
          .foreach(r => seen.add(
            (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == want,
      s"governed streaming feed: missing=${(want -- seen.asScala).take(6)} " +
        s"extra=${(seen.asScala.toSet -- want).take(6)}")
    ManifestTable.destroy(root)
  }

  test("SQL scans reconcile renamed columns across file generations") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = freshDir("rnr")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13rn",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13rn.root", root)
    spark.sql("CREATE TABLE g13rn.default.t (k BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO g13rn.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(0, 50)""")                             // gen-1 file: k, v
    spark.sql("ALTER TABLE g13rn.default.t RENAME COLUMN v TO amount")
    spark.sql("""INSERT INTO g13rn.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS amount
      FROM range(50, 100)""")                           // gen-2 file: k, amount
    // pre-r13: 'catalog scan refused: rename markers present'
    val q = spark.sql("SELECT k, amount FROM g13rn.default.t")
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collect { case b: BatchScanExec => b.scan }
      .collectFirst { case m: sources.ManifestFilesScan => m }
    assert(scan.isDefined &&
      scan.get.description().contains("rename-reconciled"),
      s"the plan must show the reconciling scan: ${plan.toString.take(400)}")
    val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == (0L until 100L).map(k => (k, k.toDouble)).toSet,
      "both generations must serve under the evolved name")
    // a CHAINED rename: gen-1 files still carry `v`, gen-2 `amount`
    spark.sql("ALTER TABLE g13rn.default.t RENAME COLUMN amount TO amt")
    assert(spark.sql(
      "SELECT CAST(sum(CAST(amt AS DECIMAL(18,2))) AS DOUBLE) AS s " +
        "FROM g13rn.default.t").head().getDouble(0)
      == (0 until 100).map(_.toDouble).sum)
    // pruning on the UNRENAMED key column stays armed across generations
    val q2 = spark.sql("SELECT k, amt FROM g13rn.default.t WHERE k >= 60")
    val s2 = (q2.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case b: BatchScanExec => b.scan }
      .collectFirst { case m: sources.ManifestFilesScan => m }.get
    assert(s2.keptFiles < s2.totalFiles,
      s"k-pruning must survive renames (${s2.keptFiles}/${s2.totalFiles})")
    assert(q2.collect().length == 40)
    // re-ADDing a renamed-away name would alias two logical columns onto
    // one physical name — the scan refuses loudly
    spark.sql("ALTER TABLE g13rn.default.t ADD COLUMN v DOUBLE")
    val e = intercept[Throwable] {
      spark.sql("SELECT k FROM g13rn.default.t").collect()
    }
    assert(messages(e).contains("renamed-away"),
      s"expected the name-reuse refusal, got: ${messages(e)}")
    ManifestTable.destroy(root)
  }

  test("plain table streams bootstrap past historical DML via startVersion") {
    val root = freshDir("sbv")
    spark.conf.set("spark.sql.catalog.g13sb",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13sb.root", root)
    spark.sql("CREATE TABLE g13sb.default.t (k BIGINT)")            // v0
    spark.sql("INSERT INTO g13sb.default.t SELECT id AS k FROM range(0, 5)") // v1
    spark.sql("DELETE FROM g13sb.default.t WHERE k IN (2)")         // v2: mutate
    spark.sql("INSERT INTO g13sb.default.t SELECT id AS k FROM range(10, 13)") // v3
    def drain(reader: org.apache.spark.sql.DataFrame, ckpt: String): Set[Long] = {
      val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val q = reader.writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k").collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      import scala.jdk.CollectionConverters._
      got.asScala.toSet
    }
    // a fresh stream from the log origin crosses the v2 mutation — the
    // append-only honesty contract refuses and demands a re-bootstrap
    val e = intercept[Throwable] {
      drain(spark.readStream.table("g13sb.default.t"), s"$root/ck0")
    }
    assert(messages(e).contains("re-bootstrap"),
      s"expected the mutation-crossing refusal, got: ${messages(e)}")
    // the handoff: batch-read the v2 snapshot, stream startVersion = 3
    val snapshot = spark.read.option("versionAsOf", "2")
      .table("g13sb.default.t").collect().map(_.getLong(0)).toSet
    assert(snapshot == Set(0L, 1L, 3L, 4L))
    val tail = drain(spark.readStream.option("startVersion", "3")
      .table("g13sb.default.t"), s"$root/ck1")
    assert(tail == Set(10L, 11L, 12L),
      s"the bootstrapped stream must serve exactly the post-handoff " +
        s"commits, got $tail")
    ManifestTable.destroy(root)
  }

  test("rename migrates dependent declarations and rewrites expression refs") {
    val root = freshDir("rmg")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13rm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13rm.root", root)
    spark.sql("""CREATE TABLE g13rm.default.t
      (id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10),
       v DOUBLE)
      TBLPROPERTIES ('graft.write.sum' = 'v', 'graft.write.ndv' = 'id')""")
    spark.sql("INSERT INTO g13rm.default.t (v) VALUES (1.0), (2.0), (3.0)")
    // the identity frontier key and the sum/ndv name lists must FOLLOW
    // the renames — a lost frontier silently restarts id assignment
    spark.sql("ALTER TABLE g13rm.default.t RENAME COLUMN id TO uid")
    spark.sql("ALTER TABLE g13rm.default.t RENAME COLUMN v TO amount")
    val props = ManifestTable.tableProperties(dir,
      ManifestTable.currentVersion(dir))
    assert(props.get("graft.write.sum").contains("amount"), s"$props")
    assert(props.get("graft.write.ndv").contains("uid"), s"$props")
    assert(props.contains("graft.identity.uid") &&
      !props.contains("graft.identity.id"),
      s"the identity frontier must follow its column: $props")
    spark.sql("INSERT INTO g13rm.default.t (amount) VALUES (4.0), (5.0)")
    val ids = spark.sql("SELECT uid FROM g13rm.default.t").collect()
      .map(_.getLong(0)).toSeq
    assert(ids.size == 5 && ids.distinct.size == 5,
      s"renamed identity column must keep assigning unique ids: $ids")
    assert(ids.forall(i => i >= 100 && (i - 100) % 10 == 0), s"$ids")
    // the partitioning spec's column token migrates too: inserts after
    // the rename still cluster and stamp buckets
    spark.sql("""CREATE TABLE g13rm.default.b (k BIGINT, v DOUBLE)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("""INSERT INTO g13rm.default.b
      SELECT id AS k, 1.0 AS v FROM range(0, 40)""")
    spark.sql("ALTER TABLE g13rm.default.b RENAME COLUMN k TO kk")
    assert(ManifestTable.tableProperties(s"$root/b",
        ManifestTable.currentVersion(s"$root/b"))
      .get("graft.partitioning").exists(_.contains("kk")),
      "the bucket transform must follow the rename")
    spark.sql("""INSERT INTO g13rm.default.b
      SELECT id AS kk, 2.0 AS v FROM range(40, 80)""")
    assert(spark.sql("SELECT count(*) FROM g13rm.default.b")
      .head().getLong(0) == 80)
    // CHECK constraints / generated columns referencing the old name
    // REWRITE through the rename (round 14): the predicate/expression
    // re-resolves against the pre-rename schema, the reference renames,
    // and enforcement/recompute keep working under the new name
    spark.sql("""CREATE TABLE g13rm.default.c (k BIGINT, q DOUBLE)""")
    spark.sql("ALTER TABLE g13rm.default.c ADD CONSTRAINT qpos CHECK (q > 0)")
    spark.sql("ALTER TABLE g13rm.default.c RENAME COLUMN q TO quantity")
    spark.sql(
      "INSERT INTO g13rm.default.c VALUES (CAST(1 AS BIGINT), 2.5)")
    val eIns = intercept[Throwable] {
      spark.sql(
        "INSERT INTO g13rm.default.c VALUES (CAST(2 AS BIGINT), -1.0)")
    }
    assert(messages(eIns).toLowerCase.contains("qpos") ||
      messages(eIns).toLowerCase.contains("check"),
      s"the rewritten constraint must still enforce: ${messages(eIns)}")
    assert(spark.sql("SELECT quantity FROM g13rm.default.c")
      .collect().map(_.getDouble(0)).toSeq == Seq(2.5))
    spark.sql("""CREATE TABLE g13rm.default.g
      (d DATE, yr INT GENERATED ALWAYS AS (CAST(year(d) AS INT)))""")
    spark.sql("ALTER TABLE g13rm.default.g RENAME COLUMN d TO dt")
    spark.sql(
      "INSERT INTO g13rm.default.g(dt) VALUES (DATE'2031-07-04')")
    assert(spark.sql("SELECT yr FROM g13rm.default.g")
      .collect().map(_.getInt(0)).toSeq == Seq(2031),
      "the rewritten generation expression must recompute from dt")
    // renaming TO a renamed-away name would make one physical name mean
    // two logical columns — refused at rename time, not trap-at-scan
    spark.sql("CREATE TABLE g13rm.default.w (a BIGINT, c BIGINT)")
    spark.sql("INSERT INTO g13rm.default.w VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT))")
    spark.sql("ALTER TABLE g13rm.default.w RENAME COLUMN a TO b")
    val e3 = intercept[Throwable] {
      spark.sql("ALTER TABLE g13rm.default.w RENAME COLUMN c TO a")
    }
    assert(messages(e3).contains("renamed away"),
      s"expected the name-reuse refusal, got: ${messages(e3)}")
    ManifestTable.destroy(root)
  }

  test("row-level DML runs on renamed tables without compaction") {
    val root = freshDir("rdm")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13dm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13dm.root", root)
    spark.sql("CREATE TABLE g13dm.default.t (k BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO g13dm.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(0, 50)""")                            // gen-1 file: k, v
    spark.sql("ALTER TABLE g13dm.default.t RENAME COLUMN v TO amount")
    spark.sql("""INSERT INTO g13dm.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS amount
      FROM range(50, 100)""")                          // gen-2 file: k, amount
    // pre-r13: 'row-level DML refused: rename markers present'. The
    // UPDATE touches BOTH generations; the old file's rewrite keeps its
    // old physical name inside and stays rename-reconciled.
    spark.sql("""UPDATE g13dm.default.t SET amount = -1.0
      WHERE k IN (5, 60)""")
    spark.sql("DELETE FROM g13dm.default.t WHERE k = 7")
    spark.sql("""SELECT CAST(200 AS BIGINT) AS k, -2.0 AS amount
      UNION ALL SELECT CAST(6 AS BIGINT), -3.0""")
      .createOrReplaceTempView("r13_rdm_batch")
    spark.sql("""MERGE INTO g13dm.default.t t USING r13_rdm_batch s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET amount = s.amount
      WHEN NOT MATCHED THEN INSERT *""")
    val got = spark.sql("SELECT k, amount FROM g13dm.default.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val want = ((0L until 100L).toSet - 7L)
      .map(k => k -> k.toDouble).toMap ++
      Map(5L -> -1.0, 60L -> -1.0, 6L -> -3.0, 200L -> -2.0)
    assert(got == want,
      s"missing=${(want.toSet -- got.toSet).take(5)} " +
        s"extra=${(got.toSet -- want.toSet).take(5)}")
    // no compaction happened: the markers are still present
    assert(Snapshot.read(dir,
      ManifestTable.currentVersion(dir)).renames.nonEmpty,
      "DML must carry the rename markers, not materialize them")
    ManifestTable.destroy(root)
  }

  test("governed scans reconcile renamed columns") {
    val root = freshDir("grn")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13gr",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13gr.root", root)
    spark.sql("CREATE TABLE g13gr.default.t (k BIGINT, grp STRING, v DOUBLE)")
    spark.sql("""INSERT INTO g13gr.default.t
      SELECT /*+ REPARTITION(1) */ id AS k,
        CASE WHEN id % 2 = 0 THEN 'hide' ELSE 'show' END AS grp,
        CAST(id AS DOUBLE) AS v
      FROM range(0, 20)""")                              // gen-1: k, grp, v
    spark.sql("ALTER TABLE g13gr.default.t RENAME COLUMN v TO amount")
    spark.sql("""INSERT INTO g13gr.default.t
      SELECT /*+ REPARTITION(1) */ id AS k,
        CASE WHEN id % 2 = 0 THEN 'hide' ELSE 'show' END AS grp,
        CAST(id AS DOUBLE) AS amount
      FROM range(20, 40)""")                             // gen-2: k, grp, amount
    // the policy names only STABLE columns (the rename guard refuses
    // policies referencing a renamed one); the governed reader's
    // alias-aware decode serves the renamed column the query selects
    ManifestTable.setPolicy(dir,
      masks = Map("k" -> "pmod(k, 10)"),
      rowFilter = Some("grp <> 'hide'"))
    val got = spark.sql("SELECT k, amount FROM g13gr.default.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = (0L until 40L).filter(_ % 2 == 1)
      .map(k => (k % 10, k.toDouble)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    ManifestTable.destroy(root)
  }

  test("the change feed reconciles renamed columns, batch and streaming") {
    val root = freshDir("cnr")
    spark.conf.set("spark.sql.catalog.g13cn",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13cn.root", root)
    spark.sql("CREATE TABLE g13cn.default.t (k BIGINT, v DOUBLE)")  // v0
    spark.sql("""INSERT INTO g13cn.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS v
      FROM range(0, 10)""")                                         // v1
    spark.sql("ALTER TABLE g13cn.default.t RENAME COLUMN v TO amount") // v2
    spark.sql("""INSERT INTO g13cn.default.t
      SELECT /*+ REPARTITION(1) */ id AS k, CAST(id AS DOUBLE) AS amount
      FROM range(10, 15)""")                                        // v3
    // a keyed DELETE declines the fast path under renames and runs as a
    // row-level delta: the gen-1 file rewrites (old physical names
    // inside), emitting its rows as delete + survivor re-inserts
    spark.sql("DELETE FROM g13cn.default.t WHERE k = 5")            // v4
    val want =
      (0L until 10L).map(k => ("insert", 1, k, k.toDouble)).toSet ++
      (10L until 15L).map(k => ("insert", 3, k, k.toDouble)).toSet ++
      (0L until 10L).map(k => ("delete", 4, k, k.toDouble)).toSet ++
      ((0L until 10L).toSet - 5L).map(k => ("insert", 4, k, k.toDouble)).toSet
    val got = spark.sql("""SELECT _change_type, _commit_version, k, amount
        FROM g13cn.default.`t$changes`""").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want,
      s"rename-crossing batch feed: missing=${(want -- got).take(6)} " +
        s"extra=${(got -- want).take(6)}")
    // streaming: the chain pinned at start serves the same rows
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(String, Int, Long, Double)]()
    val q = spark.readStream.table("g13cn.default.`t$changes`")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("_change_type", "_commit_version", "k", "amount").collect()
          .foreach(r => seen.add(
            (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == want,
      s"rename-crossing streaming feed: " +
        s"missing=${(want -- seen.asScala).take(6)} " +
        s"extra=${(seen.asScala.toSet -- want).take(6)}")
    ManifestTable.destroy(root)
  }

  test("filtered INSERT OVERWRITE composes with renames") {
    val root = freshDir("fdr")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13fr",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13fr.root", root)
    spark.sql("""CREATE TABLE g13fr.default.t (k BIGINT, yr INT, v DOUBLE)
      PARTITIONED BY (yr)""")
    spark.sql("""INSERT INTO g13fr.default.t
      SELECT id AS k, CASE WHEN id < 50 THEN 1997 ELSE 1998 END AS yr,
             CAST(id AS DOUBLE) AS v
      FROM range(0, 100)""")                          // gen-1: k, yr, v
    spark.sql("ALTER TABLE g13fr.default.t RENAME COLUMN v TO amount")
    // pre-r13: refused. The 1997 reload rewrites hit files through the
    // reconciling view; 1998 bystanders keep their old-name files and
    // the carried markers keep reconciling them.
    spark.sql("""INSERT OVERWRITE g13fr.default.t PARTITION (yr = 1997)
      SELECT id AS k, -1.0 AS amount FROM range(0, 30)""")
    val got = spark.sql("SELECT k, yr, amount FROM g13fr.default.t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val want =
      (0L until 30L).map(k => (k, 1997, -1.0)).toSet ++
      (50L until 100L).map(k => (k, 1998, k.toDouble)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(Snapshot.read(dir,
      ManifestTable.currentVersion(dir)).renames.nonEmpty,
      "the overwrite must carry the markers for untouched old-name files")
    ManifestTable.destroy(root)
  }

  test("renames, governance, and the feed compose three ways") {
    val root = freshDir("mx3")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13mx",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13mx.root", root)
    spark.sql("CREATE TABLE g13mx.default.t (k BIGINT, grp STRING, v DOUBLE)")
    spark.sql("""INSERT INTO g13mx.default.t
      SELECT /*+ REPARTITION(1) */ id AS k,
        CASE WHEN id % 2 = 0 THEN 'hide' ELSE 'show' END AS grp,
        CAST(id AS DOUBLE) AS v
      FROM range(0, 20)""")                                        // v1
    spark.sql("ALTER TABLE g13mx.default.t RENAME COLUMN v TO amount") // v2
    spark.sql("""INSERT INTO g13mx.default.t
      SELECT /*+ REPARTITION(1) */ id AS k,
        CASE WHEN id % 2 = 0 THEN 'hide' ELSE 'show' END AS grp,
        CAST(id AS DOUBLE) AS amount
      FROM range(20, 30)""")                                       // v3
    ManifestTable.setPolicy(dir,
      masks = Map("amount" -> "amount * 0 + 1"),
      rowFilter = Some("grp <> 'hide'"))                           // v4
    // governed + rename-reconciled + the feed, all at once: both
    // generations emit under the evolved name, masked, filter-hidden
    // rows absent, the rename and policy commits emit nothing
    val want =
      (0L until 20L).filter(_ % 2 == 1).map(k => ("insert", 1, k, 1.0)).toSet ++
      (20L until 30L).filter(_ % 2 == 1).map(k => ("insert", 3, k, 1.0)).toSet
    val got = spark.sql("""SELECT _change_type, _commit_version, k, amount
        FROM g13mx.default.`t$changes`""").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want,
      s"3-way feed: missing=${(want -- got).take(6)} " +
        s"extra=${(got -- want).take(6)}")
    // and the governed SCAN agrees on the final state
    val scan = spark.sql("SELECT k, amount FROM g13mx.default.t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(scan == (0L until 30L).filter(_ % 2 == 1)
      .map(k => (k, 1.0)).toSet)
    ManifestTable.destroy(root)
  }

  test("governance composes with merge-on-read: dv filter before policy") {
    val root = freshDir("gmr")
    val dir = s"$root/t"
    spark.conf.set("spark.sql.catalog.g13gm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g13gm.root", root)
    spark.sql("CREATE TABLE g13gm.default.t (k BIGINT, grp STRING, v DOUBLE)")
    spark.sql("""INSERT INTO g13gm.default.t
      SELECT id AS k, CASE WHEN id % 3 = 0 THEN 'hide' ELSE 'show' END AS grp,
             CAST(id AS DOUBLE) AS v
      FROM range(0, 90)""")
    ManifestTable.setPolicy(dir,
      masks = Map("v" -> "v * 0 + 1"),
      rowFilter = Some("grp <> 'hide'"))
    ManifestTable.deleteKeysMOR(spark, dir, "k", keys = (0L to 9L))
    val q = spark.sql("SELECT k, grp, v FROM g13gm.default.t")
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("GOVERNED") && planStr.contains("merge-on-read"),
      s"the plan must show a governed MOR scan:\n$planStr")
    val got = q.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2))).toSet
    // live rows (k >= 10), policy-filtered (grp <> 'hide'), masked (v = 1)
    val want = (10L until 90L).filter(_ % 3 != 0)
      .map(k => (k, "show", 1.0)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // a projection WITHOUT the dv key column still filters (the reader
    // decodes it internally, appended after the policy decode schema)
    val s2 = spark.sql(
      "SELECT grp, CAST(sum(v) AS DOUBLE) AS sv FROM g13gm.default.t " +
        "GROUP BY grp").collect()
    assert(s2.length == 1 && s2.head.getString(0) == "show" &&
      s2.head.getDouble(1) == want.size.toDouble,
      s"unprojected-key governed MOR sum: ${s2.mkString(",")}")
    // the API path (readGoverned applies DVs inside readVersion) agrees
    val api = ManifestTable.readGoverned(spark, dir)
      .select("k", "grp", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(api == want, "readGoverned must agree with the SQL governed scan")
    ManifestTable.destroy(root)
  }
}
