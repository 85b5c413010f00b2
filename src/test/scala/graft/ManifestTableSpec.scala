package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ACID properties of the manifest-table commit protocol
  * (`sources.ManifestTable`): snapshot isolation (orphans invisible),
  * atomic compare-and-swap publication, crash safety, and MERGE
  * idempotency under replay. */
class ManifestTableSpec extends AnyFunSuite {
  import TestSpark._
  import sources.{ManifestTable, Snapshot}

  private def freshDir(tag: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_mt_${tag}_" +
      java.lang.ProcessHandle.current().pid()
    ManifestTable.destroy(d)
    d
  }

  private val keys = Seq("l_orderkey", "l_linenumber", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_shipdate")

  test("staged-but-uncommitted files are invisible to readers (snapshot isolation)") {
    val dir = freshDir("iso")
    val li = Tables.lineitem(spark, sf)
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 4 =!= 0), keys)
    val before = ManifestTable.read(spark, dir).count()
    // a writer stages the rest of the batch, then "crashes" before commit
    val staged = ManifestTable.stage(spark, dir,
      li.filter(col("l_orderkey") % 4 === 0))
    assert(staged.nonEmpty)
    // the snapshot is untouched: orphans are not listed by any manifest
    assert(ManifestTable.read(spark, dir).count() == before)
    assert(ManifestTable.currentVersion(dir) == 0)
    // and a later MERGE of the same rows reconciles correctly, ignoring the
    // orphans (fresh rows computed against the COMMITTED snapshot only)
    ManifestTable.merge(spark, dir, li, keys)
    assert(ManifestTable.read(spark, dir).count() == li.count())
  }

  test("commit is an atomic compare-and-swap: a stale writer loses, exactly once wins") {
    val dir = freshDir("cas")
    val li = Tables.lineitem(spark, sf).limit(100)
    ManifestTable.merge(spark, dir, li, keys)
    val v = ManifestTable.currentVersion(dir)
    val existing = ManifestTable.listFiles(dir, v)
    // two writers race to publish v+1 with different file lists
    val first = ManifestTable.commit(dir, existing, v)
    val second = ManifestTable.commit(dir, existing :+ "phantom.parquet", v)
    assert(first && !second, "CREATE_NEW must admit exactly one winner")
    assert(ManifestTable.currentVersion(dir) == v + 1)
    assert(!ManifestTable.listFiles(dir, v + 1).contains("phantom.parquet"))
  }

  test("append of a disjoint batch equals merge: same content, same version arithmetic, markers carried") {
    val li = Tables.lineitem(spark, sf)
    val even = li.filter(col("l_orderkey") % 2 === 0)
    val odd = li.filter(col("l_orderkey") % 2 === 1)
    // merge path (the reference semantics)
    val dm = freshDir("apndm")
    ManifestTable.merge(spark, dm, even, keys)
    ManifestTable.merge(spark, dm, odd, keys)
    // append path (the round-18 disjoint-batch fast path)
    val da = freshDir("apnda")
    val v0 = ManifestTable.append(spark, da, even)
    val v1 = ManifestTable.append(spark, da, odd)
    assert(v0 == 0 && v1 == 1, "append advances versions exactly like merge")
    // identical table content
    val got = ManifestTable.read(spark, da)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = ManifestTable.read(spark, dm)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"append diverged from merge: $got vs $want")
    // v0's files carry into v1's manifest (the merge line layout)
    val v0Files = ManifestTable.listFiles(da, 0).toSet
    assert(v0Files.subsetOf(ManifestTable.listFiles(da, 1).toSet))
    // rename markers carry through an append, exactly like merge
    ManifestTable.renameColumn(da, "l_returnflag", "flag")
    ManifestTable.append(spark, da,
      odd.limit(0).withColumnRenamed("l_returnflag", "flag"))
    assert(ManifestTable.read(spark, da).columns.contains("flag"),
      "append must carry the rename chain forward")
  }

  test("appendAll equals sequential appends: same content, versions, and line carry") {
    val li = Tables.lineitem(spark, sf)
    val slices = (0 to 2).map(m => li.filter(col("l_orderkey") % 3 === m))
    // sequential appends (the reference layout)
    val ds = freshDir("apseq")
    slices.foreach(b => ManifestTable.append(spark, ds, b))
    // concurrent-staging appendAll
    val dc = freshDir("apcon")
    val last = ManifestTable.appendAll(spark, dc, slices)
    assert(last == 2 && ManifestTable.currentVersion(dc) == 2,
      "appendAll must publish one version per batch, in order")
    // identical content at the head...
    def agg(dir: String) = ManifestTable.read(spark, dir)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(agg(dc) == agg(ds), "appendAll diverged from sequential appends")
    // ...and the same append-only line carry at every version
    (0 to 2).foreach { v =>
      assert(ManifestTable.listFiles(dc, v).size ==
        ManifestTable.listFiles(ds, v).size,
        s"version $v file count differs from the sequential layout")
      if (v > 0)
        assert(ManifestTable.listFiles(dc, v - 1).toSet
          .subsetOf(ManifestTable.listFiles(dc, v).toSet),
          s"version $v must carry version ${v - 1}'s files")
    }
  }

  test("merge replay is idempotent: same batch twice changes nothing") {
    val dir = freshDir("idem")
    val li = Tables.lineitem(spark, sf)
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 4 =!= 0), keys)
    val v1 = ManifestTable.merge(spark, dir, li, keys)
    val n1 = ManifestTable.read(spark, dir).count()
    val files1 = ManifestTable.listFiles(dir, ManifestTable.currentVersion(dir))
    val v2 = ManifestTable.merge(spark, dir, li, keys) // replay
    assert(v2 == v1, "empty delta must not advance the version")
    assert(ManifestTable.read(spark, dir).count() == n1)
    assert(ManifestTable.listFiles(dir, ManifestTable.currentVersion(dir)) == files1)
    assert(n1 == li.count())
  }

  test("merge replay deletes its empty staged delta (no orphan growth)") {
    // round-17 optimization: merge stages FIRST and decides emptiness from
    // the staged footers (one anti-join execution instead of two). The
    // replay path must then clean up its schema-only staged files — data/
    // must hold exactly the published file set after a no-op replay.
    val dir = freshDir("stage_once")
    val li = Tables.lineitem(spark, sf)
    ManifestTable.merge(spark, dir, li, keys)
    val published = ManifestTable
      .listFiles(dir, ManifestTable.currentVersion(dir)).toSet
    def onDisk: Set[String] = {
      val d = java.nio.file.Paths.get(dir, "data")
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSet
      } finally s.close()
    }
    assert(onDisk == published)
    val v2 = ManifestTable.merge(spark, dir, li, keys) // replay: empty delta
    assert(v2 == ManifestTable.currentVersion(dir))
    assert(onDisk == published,
      "a no-op replay must not leave staged orphans behind")
  }

  test("time travel: every historical version stays exactly reconstructible") {
    val dir = freshDir("tt")
    val li = Tables.lineitem(spark, sf)
    val prior = li.filter(col("l_orderkey") % 4 =!= 0)
    ManifestTable.merge(spark, dir, prior, keys)      // v0
    ManifestTable.merge(spark, dir, li, keys)         // v1
    assert(ManifestTable.currentVersion(dir) == 1)
    // v0 still reads as the pre-merge state, byte-for-byte row counts
    assert(ManifestTable.readVersion(spark, dir, 0).count() == prior.count())
    assert(ManifestTable.readVersion(spark, dir, 1).count() == li.count())
    // and the v0 file list is a strict prefix of v1's (append-only commits)
    val f0 = ManifestTable.listFiles(dir, 0)
    val f1 = ManifestTable.listFiles(dir, 1)
    assert(f1.startsWith(f0) && f1.length > f0.length)
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, dir, 7)
    }
  }

  test("vacuum drops orphans and pre-horizon versions, retained reads intact") {
    val dir = freshDir("vac")
    val li = Tables.lineitem(spark, sf)
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 4 === 1), keys) // v0
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 4 <= 2), keys)  // v1
    ManifestTable.merge(spark, dir, li, keys)                                     // v2
    // plus an orphan from a "crashed" writer
    ManifestTable.stage(spark, dir, li.limit(10))
    val n1 = ManifestTable.readVersion(spark, dir, 1).count()
    val n2 = ManifestTable.readVersion(spark, dir, 2).count()
    val (dm, df) = ManifestTable.vacuum(dir, keepVersions = 2)
    assert(dm == 1, "exactly v0's manifest dropped")
    assert(df > 0, "the orphaned staged files must be collected")
    // retained versions still read exactly
    assert(ManifestTable.readVersion(spark, dir, 1).count() == n1)
    assert(ManifestTable.readVersion(spark, dir, 2).count() == n2)
    assert(ManifestTable.read(spark, dir).count() == li.count())
    // the vacuumed-away version fails the explicit contract, not mid-scan
    intercept[IllegalArgumentException] {
      ManifestTable.readVersion(spark, dir, 0)
    }
    // a second vacuum is a no-op (idempotent)
    assert(ManifestTable.vacuum(dir, keepVersions = 2) == ((0, 0)))
  }

  test("compact: content-invariant, fewer files, history intact, vacuum collects") {
    val dir = freshDir("opt")
    val li = Tables.lineitem(spark, sf)
    (0 to 2).foreach { m =>
      ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 3 === m), keys)
    }
    val vPre = ManifestTable.currentVersion(dir)
    val filesPre = ManifestTable.listFiles(dir, vPre)
    def agg(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy(col("l_returnflag")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val contentPre = agg(ManifestTable.read(spark, dir))
    val vPost = ManifestTable.compact(spark, dir, numFiles = 1)
    assert(vPost == vPre + 1)
    val filesPost = ManifestTable.listFiles(dir, vPost)
    assert(filesPost.length == 1 && filesPost.length < filesPre.length)
    // OPTIMIZE must not change the table's content
    assert(agg(ManifestTable.read(spark, dir)) == contentPre)
    assert(ManifestTable.read(spark, dir).count() == li.count())
    // the pre-compaction snapshot still time-travels: replaced files are
    // never touched by the rewrite
    assert(ManifestTable.readVersion(spark, dir, vPre).count() == li.count())
    // vacuum to the compacted version collects every replaced file (v2's
    // append-only list is the superset of all pre-compaction files)
    val (dm, df) = ManifestTable.vacuum(dir, keepVersions = 1)
    assert(dm == vPre + 1 && df == filesPre.length)
    assert(agg(ManifestTable.read(spark, dir)) == contentPre)
  }

  test("stream manifest sink equals the one-pass batch aggregate") {
    val streamed = streaming.StreamingOps.streamManifestSink(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    import TestSpark.spark.implicits._
    val batch = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("readChanges: version-range deltas, empty range, full bootstrap") {
    val dir = freshDir("cdc")
    val li = Tables.lineitem(spark, sf)
    (0 to 2).foreach { m =>
      ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 3 === m), keys)
    }
    def sliceCount(ms: Int*): Long =
      li.filter((col("l_orderkey") % 3).isin(ms: _*)).count()
    // each single-version delta is exactly its commit's slice
    assert(ManifestTable.readChanges(spark, dir, 0, 1).count() == sliceCount(1))
    assert(ManifestTable.readChanges(spark, dir, 1, 2).count() == sliceCount(2))
    // the (v0, v2] range unions the two later commits
    assert(ManifestTable.readChanges(spark, dir, 0, 2).count() == sliceCount(1, 2))
    // fromV < 0 bootstraps the full snapshot
    assert(ManifestTable.readChanges(spark, dir, -1, 2).count() == li.count())
    // an empty range yields an empty frame, not an error
    assert(ManifestTable.readChanges(spark, dir, 2, 2).count() == 0)
  }

  test("stream source: version offsets, capped batches, checkpoint resume") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir("vsrc")
    val ev = Tables.events(spark, sf)
    def slice(m: Int) = ev.filter(col("event_id") % 3 === m)
    (0 to 1).foreach(m => ManifestTable.merge(spark, dir, slice(m), Seq("event_id")))
    val ckpt = dir + "-ckpt"
    def drain(): Seq[Long] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("graft.sources.ManifestStreamSource")
        .option("path", dir).option("versionsPerBatch", "1").load()
        .writeStream.outputMode("append")
        .foreachBatch((b: DataFrame, _: Long) => { got += b.count(); () })
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.toSeq.filter(_ > 0)
    }
    // versionsPerBatch=1: the two commits drain as two micro-batches,
    // each exactly its commit's rows
    assert(drain() == Seq(slice(0).count(), slice(1).count()))
    // a third commit lands; the SAME checkpoint resumes at version 1 and
    // reads only the delta — nothing is reprocessed (exactly-once)
    ManifestTable.merge(spark, dir, slice(2), Seq("event_id"))
    assert(drain() == Seq(slice(2).count()))
    // fully caught up: another run sees nothing
    assert(drain().isEmpty)
  }

  test("stream source: schema inferred from footers, pruned reads agree") {
    val dir = freshDir("vschema")
    ManifestTable.merge(spark, dir,
      Tables.events(spark, sf).limit(100), Seq("event_id"))
    val df = spark.read.parquet(s"$dir/data")
    val stream = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("path", dir).load()
    // inferred schema matches what Spark's own reader sees
    assert(stream.schema == df.schema)
    // pruned projection through the parquet-mr reader returns the same rows
    val got = streaming.StreamingOps.runToParquet(spark,
      stream.groupBy(col("event_type")).count(), "vschema_agg")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = df.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
  }

  test("data skipping: footer stats prune files, answer invariant, no-stats files survive") {
    val dir = freshDir("skip")
    val li = Tables.lineitem(spark, sf).repartitionByRange(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("l_orderkey"))
    // every staged line records a typed range for the stats column
    assert(staged.nonEmpty && staged.forall(_.contains("l_orderkey=L:")))
    assert(ManifestTable.commit(dir, staged, -1))
    val (kept, total) = ManifestTable.pruneFiles(dir, 0, "l_orderkey",
      BigDecimal(100), BigDecimal(500))
    assert(total == staged.size)
    assert(kept.size < total, s"range-partitioned files must prune: kept ${kept.size}/$total")
    assert(kept.nonEmpty)
    // answer invariance: pruned read == plain filter over the full snapshot
    val pruned = ManifestTable.readPruned(spark, dir, "l_orderkey",
      BigDecimal(100), BigDecimal(500)).count()
    val full = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").between(100L, 500L)).count()
    assert(pruned == full && pruned > 0)
    // a later commit appends files WITHOUT stats: old stats carry forward on
    // the raw manifest lines, and stats-less files are never pruned
    val lines1 = ManifestTable.listLines(dir, 0)
    val extra = ManifestTable.stage(spark, dir, li.filter(col("l_orderkey") <= 50))
    assert(extra.nonEmpty)
    assert(ManifestTable.commit(dir, lines1 ++ extra, 0))
    val (kept2, total2) = ManifestTable.pruneFiles(dir, 1, "l_orderkey",
      BigDecimal(100), BigDecimal(500))
    assert(total2 == total + extra.size)
    assert(kept2.size == kept.size + extra.size,
      "files without recorded stats must always survive pruning")
    // the pruned read over the grown snapshot still equals the plain filter
    val pruned2 = ManifestTable.readPruned(spark, dir, "l_orderkey",
      BigDecimal(100), BigDecimal(500)).count()
    val full2 = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").between(100L, 500L)).count()
    assert(pruned2 == full2)
  }

  test("bloom index skipping: prunes under hash layout where ranges cannot") {
    val dir = freshDir("bloom")
    val li = Tables.lineitem(spark, sf).repartition(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    assert(staged.forall(l => l.contains("l_orderkey=L:") && l.contains("l_orderkey=B:")))
    assert(ManifestTable.commit(dir, staged, -1))
    val keys = Seq(101L, 777L)
    // range stats alone CANNOT prune this layout: every file spans ~the
    // full key range, so pruneFiles (min/max only) keeps everything
    val (rangeKept, total) = ManifestTable.pruneFiles(dir, 0, "l_orderkey",
      BigDecimal(101), BigDecimal(101))
    assert(total == staged.size && rangeKept.size == total,
      "hash layout should defeat min/max pruning (that's the point)")
    // bloom pruning drops files whose key set provably misses the probes:
    // each key lives in exactly one of 8 hash files, so ≤ 2 + false
    // positives survive; with 64 KiB sketches over ~1.5k keys/file the FP
    // rate is ~0, but assert only the conservative bound
    val (bloomKept, _) = ManifestTable.pruneFilesForKeys(dir, 0, "l_orderkey", keys)
    assert(bloomKept.size < total, s"bloom must prune: kept ${bloomKept.size}/$total")
    // answer invariance: pruned point lookup == plain filter
    val got = ManifestTable.readPointLookup(spark, dir, "l_orderkey", keys).count()
    val want = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").isin(keys: _*)).count()
    assert(got == want && got > 0)
    // a key absent from the table prunes everything (no file admits it) —
    // the manifest answers negative lookups without any scan at all
    val (noneKept, _) = ManifestTable.pruneFilesForKeys(dir, 0, "l_orderkey",
      Seq(999999999L))
    assert(noneKept.isEmpty ||
      ManifestTable.readPointLookup(spark, dir, "l_orderkey",
        Seq(999999999L)).count() == 0)
  }

  test("targeted delete: only key-holding files rewritten, history intact, vacuum erases") {
    val dir = freshDir("del")
    val li = Tables.lineitem(spark, sf).repartition(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val keys = Seq(101L, 777L)
    val before = ManifestTable.read(spark, dir).count()
    val nDoomed = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").isin(keys: _*)).count()
    assert(nDoomed > 0)
    val (affected, total) = ManifestTable.pruneFilesForKeys(dir, 0, "l_orderkey", keys)
    assert(affected.size < total, "stats must localize the delete to few files")
    val v1 = ManifestTable.deleteKeys(spark, dir, "l_orderkey", keys)
    assert(v1 == 1)
    // exactly the doomed rows are gone
    val after = ManifestTable.read(spark, dir)
    assert(after.count() == before - nDoomed)
    assert(after.filter(col("l_orderkey").isin(keys: _*)).count() == 0)
    // untouched files' manifest lines survive VERBATIM (stats included)
    val lines0 = ManifestTable.listLines(dir, 0).toSet
    val lines1 = ManifestTable.listLines(dir, 1).toSet
    val untouched0 = lines0.filterNot(l => affected.contains(l.split('\t').head))
    assert(untouched0.subsetOf(lines1), "untouched lines must republish verbatim")
    assert(affected.forall(n => !lines1.exists(_.split('\t').head == n)),
      "every affected file must be replaced")
    // rewritten files carry fresh stats, so skipping still works post-delete
    val (keptPost, totalPost) = ManifestTable.pruneFilesForKeys(
      dir, 1, "l_orderkey", Seq(1402L))
    assert(keptPost.size < totalPost)
    // pre-delete version still time-travels (the audit trail)…
    assert(ManifestTable.readVersion(spark, dir, 0)
      .filter(col("l_orderkey").isin(keys: _*)).count() == nDoomed)
    // …until vacuum erases the replaced files for real (the compliance step)
    val (_, droppedFiles) = ManifestTable.vacuum(dir, keepVersions = 1)
    assert(droppedFiles == affected.size,
      s"vacuum must collect exactly the ${affected.size} replaced files")
    // a delete for keys no file can hold is a metadata-only no-op
    assert(ManifestTable.deleteKeys(spark, dir, "l_orderkey", Seq(999999999L)) == 1)
  }

  test("copy-on-write update: only keyed rows change, rewrite stays local, history intact") {
    val dir = freshDir("upd")
    val li = Tables.lineitem(spark, sf).repartition(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      statsCols = Seq("l_orderkey"), bloomCols = Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val keys = Seq(101L, 777L)
    val (affected, total) = ManifestTable.pruneFilesForKeys(dir, 0, "l_orderkey", keys)
    assert(affected.size < total)
    val beforeKeyed = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").isin(keys: _*))
      .agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
    val beforeN = ManifestTable.read(spark, dir).count()
    val nKeyed = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").isin(keys: _*)).count()
    val v1 = ManifestTable.updateKeys(spark, dir, "l_orderkey", keys,
      Map("l_quantity" -> (col("l_quantity") + lit(100.0))))
    assert(v1 == 1)
    val after = ManifestTable.read(spark, dir)
    // row count unchanged; keyed quantities shifted by exactly 100 each
    assert(after.count() == beforeN)
    val afterKeyed = after.filter(col("l_orderkey").isin(keys: _*))
      .agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
    assert(math.abs(afterKeyed - (beforeKeyed + 100.0 * nKeyed)) < 1e-6)
    // untouched files' lines republished verbatim
    val lines1 = ManifestTable.listLines(dir, 1).toSet
    val untouched0 = ManifestTable.listLines(dir, 0).toSet
      .filterNot(l => affected.contains(l.split('\t').head))
    assert(untouched0.subsetOf(lines1))
    // pre-update version still shows the old values
    val v0Keyed = ManifestTable.readVersion(spark, dir, 0)
      .filter(col("l_orderkey").isin(keys: _*))
      .agg(sum(col("l_quantity"))).collect()(0).getDouble(0)
    assert(math.abs(v0Keyed - beforeKeyed) < 1e-9)
  }

  test("z-order layout: one layout serves selective predicates on BOTH dimensions") {
    val dir = freshDir("zskip")
    val p = Tables.part(spark, sf)
      .withColumn("category", (col("p_partkey") % 64).cast("int"))
    def lay(df: org.apache.spark.sql.DataFrame, key: org.apache.spark.sql.Column) =
      df.withColumn("k", key).repartitionByRange(8, col("k"))
        .sortWithinPartitions(col("k")).drop("k")
    // z-ordered table
    val z = lay(p, operators.AuditOps.morton6(col("p_size").cast("int"), col("category")))
    val zs = ManifestTable.stageWithStats(spark, dir, z, Seq("p_size", "category"))
    assert(ManifestTable.commit(dir, zs, -1))
    val (kSize, tot) = ManifestTable.pruneFiles(dir, 0, "p_size",
      BigDecimal(10), BigDecimal(15))
    val (kBand, _) = ManifestTable.pruneFiles(dir, 0, "category",
      BigDecimal(0), BigDecimal(7))
    assert(kSize.size < tot, s"z layout must prune on p_size: ${kSize.size}/$tot")
    assert(kBand.size < tot, s"z layout must prune on category: ${kBand.size}/$tot")
    // contrast: a single-column sort gives the second dimension away
    val dir2 = freshDir("zskip1d")
    val s1 = ManifestTable.stageWithStats(spark, dir2,
      lay(p, col("p_size")), Seq("p_size", "category"))
    assert(ManifestTable.commit(dir2, s1, -1))
    val (kBand1d, tot1d) = ManifestTable.pruneFiles(dir2, 0, "category",
      BigDecimal(0), BigDecimal(7))
    assert(kBand1d.size > kBand.size || kBand1d.size == tot1d,
      "p_size-sorted layout should prune category worse than the z layout")
    // answer invariance on the z table
    val got = ManifestTable.readPruned(spark, dir, "p_size",
      BigDecimal(10), BigDecimal(15)).count()
    val want = ManifestTable.read(spark, dir)
      .filter(col("p_size").between(10, 15)).count()
    assert(got == want && got > 0)
  }

  test("optimize: small-file policy spares right-sized files, zorder enables skipping") {
    val dir = freshDir("opt")
    val p = Tables.part(spark, sf)
      .withColumn("category", (col("p_partkey") % 64).cast("int"))
    // one big, right-sized file…
    val big = ManifestTable.stageWithStats(spark, dir,
      p.filter(col("p_partkey") % 2 === 0).repartition(1), Seq("p_size"))
    assert(big.size == 1 && ManifestTable.commit(dir, big, -1))
    val bigName = big.head.split('\t').head
    val bigSize = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "data", bigName))
    // …then three small unclustered commits
    (0 to 2).foreach { m =>
      ManifestTable.merge(spark, dir,
        p.filter(col("p_partkey") % 2 === 1 && col("p_partkey") % 3 === m),
        Seq("p_partkey"))
    }
    val before = ManifestTable.read(spark, dir).count()
    val nFilesBefore = ManifestTable.listFiles(dir, ManifestTable.currentVersion(dir)).size
    // optimize only the small files, z-ordering the rewrite
    val v = ManifestTable.optimize(spark, dir, numFiles = 2,
      zorderBy = Seq("p_size", "category"), statsCols = Seq("p_size", "category"),
      smallFileBytes = bigSize)
    val linesAfter = ManifestTable.listLines(dir, v)
    // the big file's line survives VERBATIM; the small files are gone
    assert(linesAfter.contains(big.head),
      "right-sized file must keep its manifest line (no write amplification)")
    assert(linesAfter.size < nFilesBefore)
    // content invariant
    assert(ManifestTable.read(spark, dir).count() == before)
    // the z-ordered rewrites carry fresh two-dimension stats
    val rewritten = linesAfter.filterNot(_ == big.head)
    assert(rewritten.forall(l =>
      l.contains("p_size=L:") && l.contains("category=L:")))
  }

  test("metadata agg: zero-scan count/min/max exact, explicit refusal without stats") {
    val dir = freshDir("meta")
    val li = Tables.lineitem(spark, sf).repartition(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("l_orderkey"))
    assert(staged.forall(_.contains("__rows=")))
    assert(ManifestTable.commit(dir, staged, -1))
    val (n, mn, mx) = ManifestTable.metadataAgg(dir, "l_orderkey")
    val actual = ManifestTable.read(spark, dir)
      .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")))
      .collect()(0)
    assert(n == actual.getLong(0))
    assert(mn.toLongExact == actual.getLong(1) && mx.toLongExact == actual.getLong(2))
    // the answer survives a stats-refreshing mutation (delete re-harvests)…
    ManifestTable.deleteKeys(spark, dir, "l_orderkey", Seq(mn.toLongExact))
    val (n2, mn2, _) = ManifestTable.metadataAgg(dir, "l_orderkey")
    val actual2 = ManifestTable.read(spark, dir)
      .agg(count(lit(1)), min(col("l_orderkey"))).collect()(0)
    assert(n2 == actual2.getLong(0) && mn2.toLongExact == actual2.getLong(1))
    // …but a stats-less commit makes it refuse rather than guess
    val blind = ManifestTable.stage(spark, dir, li.limit(5))
    assert(ManifestTable.commit(dir,
      ManifestTable.listLines(dir, ManifestTable.currentVersion(dir)) ++ blind,
      ManifestTable.currentVersion(dir)))
    intercept[IllegalArgumentException] {
      ManifestTable.metadataAgg(dir, "l_orderkey")
    }
  }

  test("expectations: strict null handling, exact split, idempotent replay") {
    import spark.implicits._
    val base = freshDir("exp")
    val (tbl, qtbl) = (s"$base/main", s"$base/q")
    val batch = Seq(
      (1L, Some(10.0)), (2L, Some(-3.0)), (3L, None), (4L, Some(7.0))
    ).toDF("id", "v")
    val (v1, q1) = ManifestTable.mergeWithExpectations(spark, tbl, qtbl,
      batch, Seq("id"), Map("v_positive" -> (col("v") > 0)))
    assert(v1 == 0 && q1 == 0)
    // NULL expectation result = violation (strict): ids 2 (false) AND 3
    // (null) quarantine; 1 and 4 land clean
    assert(ManifestTable.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))
    assert(ManifestTable.read(spark, qtbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // replay: both merges are no-ops
    val (v2, q2) = ManifestTable.mergeWithExpectations(spark, tbl, qtbl,
      batch, Seq("id"), Map("v_positive" -> (col("v") > 0)))
    assert(v2 == v1 && q2 == q1)
    assert(ManifestTable.read(spark, tbl).count() == 2)
    assert(ManifestTable.read(spark, qtbl).count() == 2)
  }

  test("result cache: hit never recomputes, commit invalidates, stale versions coexist") {
    val base = freshDir("cache")
    val (tbl, cache) = (s"$base/tbl", s"$base/c")
    val li = Tables.lineitem(spark, sf)
    ManifestTable.merge(spark, tbl, li.filter(col("l_orderkey") % 4 =!= 0), keys)
    var computes = 0
    def agg() = { computes += 1
      ManifestTable.read(spark, tbl)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n")) }
    val r1 = ManifestTable.cachedResult(spark, tbl, cache, "rf")(() => agg())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(computes == 1)
    // hit: the compute closure must never run
    val r2 = ManifestTable.cachedResult(spark, tbl, cache, "rf")(() =>
      { computes += 1; agg() }).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(computes == 1, "cache hit must not invoke compute")
    assert(r2 == r1)
    // commit moves the version: next call is a miss on the NEW snapshot
    ManifestTable.merge(spark, tbl, li, keys)
    val r3 = ManifestTable.cachedResult(spark, tbl, cache, "rf")(() => agg())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(computes == 2)
    assert(r3.values.sum == li.count())
    assert(r3 != r1)
    // the v0 cache entry still exists (retention is the caller's sweep)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$cache/rf-v0/_SUCCESS")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$cache/rf-v1/_SUCCESS")))
  }

  test("scan estimate: sound upper bound, metadata-only, self-compat schema") {
    val dir = freshDir("est")
    val li = Tables.lineitem(spark, sf).repartitionByRange(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val (kept, total, upper) = ManifestTable.estimateScan(dir, "l_orderkey",
      BigDecimal(100), BigDecimal(500))
    val exact = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey").between(100L, 500L)).count()
    assert(kept < total, "range layout must prune")
    assert(upper >= exact, "upper bound must be sound")
    // the bound is the kept files' row counts — tight at file granularity:
    // it can't exceed the whole table
    assert(upper <= ManifestTable.read(spark, dir).count())
    // a whole-range estimate keeps every file and bounds by the table size
    val (kAll, tAll, uAll) = ManifestTable.estimateScan(dir, "l_orderkey",
      BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue))
    assert(kAll == tAll && uAll == ManifestTable.read(spark, dir).count())
    // schema self-compat: a version against itself is all-unchanged
    val compat = ManifestTable.schemaCompat(spark, dir, 0, 0).collect()
    assert(compat.nonEmpty && compat.forall(r =>
      r.getString(1) == "unchanged" && r.getBoolean(2)))
  }

  test("write-audit-publish: invisible until published, stale audit refused, abort is free") {
    val dir = freshDir("wap")
    val li = Tables.lineitem(spark, sf)
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 4 === 0), keys)
    val before = ManifestTable.read(spark, dir).count()
    // staged audit is INVISIBLE to production readers
    ManifestTable.stageAudit(spark, dir, li.filter(col("l_orderkey") % 4 === 1), "w")
    assert(ManifestTable.read(spark, dir).count() == before)
    assert(ManifestTable.currentVersion(dir) == 0)
    // but the audit reader sees the exact would-be state
    val audited = ManifestTable.readAudit(spark, dir, "w").count()
    assert(audited == li.filter(col("l_orderkey") % 4 <= 1).count())
    // a concurrent commit moves the base: the stale audit must be REFUSED
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 4 === 2), keys)
    assert(ManifestTable.publishAudit(dir, "w").isEmpty,
      "publishing checks validated against a stale base must be refused")
    // re-stage against the new base → audit → publish succeeds
    ManifestTable.abortAudit(dir, "w")
    ManifestTable.stageAudit(spark, dir, li.filter(col("l_orderkey") % 4 === 1), "w2")
    assert(ManifestTable.publishAudit(dir, "w2").contains(2))
    assert(ManifestTable.read(spark, dir).count() ==
      li.filter(col("l_orderkey") % 4 <= 2).count())
    // an aborted audit's files are orphans; vacuum collects them
    ManifestTable.stageAudit(spark, dir, li.filter(col("l_orderkey") % 4 === 3), "dead")
    ManifestTable.abortAudit(dir, "dead")
    val n = ManifestTable.read(spark, dir).count()
    val (_, dropped) = ManifestTable.vacuum(dir, keepVersions = 1)
    assert(dropped > 0, "vacuum must collect the aborted audit's orphans")
    assert(ManifestTable.read(spark, dir).count() == n)
  }

  test("concurrent merges serialize: racing writers lose no updates") {
    val dir = freshDir("race")
    val li = Tables.lineitem(spark, sf)
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 7 === 0), keys)
    // four writers race distinct slices concurrently; every merge retries
    // through lost CAS races, so the final snapshot must hold the union
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to 4).map { m =>
        Future {
          ManifestTable.merge(spark, dir,
            li.filter(col("l_orderkey") % 7 === m), keys)
        }
      }
      Await.result(Future.sequence(fs), 5.minutes)
    } finally pool.shutdown()
    val expected = li.filter(col("l_orderkey") % 7 <= 4).count()
    assert(ManifestTable.read(spark, dir).count() == expected,
      "every racing writer's rows must survive serialization")
    // versions advanced once per successful commit: 1 initial + 4 racers
    assert(ManifestTable.currentVersion(dir) == 4)
    // and a replay of any slice is still a no-op after the race
    val v = ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 7 === 2), keys)
    assert(v == 4 && ManifestTable.read(spark, dir).count() == expected)
  }

  test("manifest stats encoding: entries round-trip through write and parse") {
    val dir = freshDir("roundtrip")
    val li = Tables.lineitem(spark, sf).repartition(3, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      statsCols = Seq("l_orderkey", "l_quantity"), bloomCols = Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val reread = ManifestTable.listLines(dir, 0)
    assert(reread == staged, "manifest lines must survive the write byte-for-byte")
    reread.map(ManifestTable.parseEntry).foreach { e =>
      // both range kinds present and sane (quantity is a double column)
      val ok = e.ranges("l_orderkey")
      val oq = e.ranges("l_quantity")
      assert(ok.tag == 'L' && ok.min <= ok.max)
      assert(oq.tag == 'D' && oq.min <= oq.max)
      assert(e.rows.exists(_ > 0))
      // the bloom decodes to a usable sketch: a key inside the file's range
      // that the file holds must be admitted
      assert(e.blooms.contains("l_orderkey"))
    }
    // parse is total on foreign/garbage stat fields (forward compatibility)
    val (n2, r2) = {
      val e = ManifestTable.parseEntry("f.parquet\tweird=stuff;x=Q:1:2\tfuture-field")
      (e.name, e.ranges)
    }
    assert(n2 == "f.parquet" && r2.isEmpty)
  }

  test("change feed across maintenance: compaction invisible, mutation refuses") {
    val dir = freshDir("cdcmaint")
    val li = Tables.lineitem(spark, sf)
    (0 to 2).foreach { m =>
      ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 3 === m), keys)
    } // v0, v1, v2 — data commits
    ManifestTable.compact(spark, dir, numFiles = 2) // v3 — rewrite commit
    // a replayed batch stays a no-op even though compaction renamed every
    // file (the anti-join reconciles against content, not file identity)
    ManifestTable.merge(spark, dir, li.filter(col("l_orderkey") % 3 === 0), keys)
    assert(ManifestTable.currentVersion(dir) == 3,
      "replay after compaction must still be a no-op")
    // a consumer lagging at v1 polls to head: sees ONLY v2's data, nothing
    // from the compaction — no re-bootstrap, no duplicates
    val delta = ManifestTable.readChanges(spark, dir, 1, 3)
    assert(delta.count() == li.filter(col("l_orderkey") % 3 === 2).count())
    // a range that is ONLY the compaction is empty (layout, not data)
    assert(ManifestTable.readChanges(spark, dir, 2, 3).count() == 0)
    // the streaming source resumes across the OPTIMIZE reading nothing new
    val stream = spark.readStream.format("graft.sources.ManifestStreamSource")
      .option("path", dir).load()
    val drained = streaming.StreamingOps.runToParquet(spark,
      stream.groupBy().agg(count(lit(1)).as("n")), "cdc_maint").collect()
    assert(drained(0).getLong(0) == li.count(),
      "stream over the full log must see each row exactly once despite compaction")
    // a row-level mutation poisons the feed EXPLICITLY
    ManifestTable.deleteKeys(spark, dir, "l_orderkey", Seq(3L))
    val e = intercept[IllegalStateException] {
      ManifestTable.readChanges(spark, dir, 3, ManifestTable.currentVersion(dir))
    }
    assert(e.getMessage.contains("re-bootstrap"))
    // but ranges BEFORE the mutation still serve
    assert(ManifestTable.readChanges(spark, dir, 1, 3).count() > 0)
  }

  test("catalog transaction: no torn cross-table reads, CAS admits one publisher") {
    import sources.Catalog
    val base = freshDir("catalog")
    val (ot, lt, cat) = (s"$base/o", s"$base/l", s"$base/cat")
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val lkeys = keys
    val ov0 = ManifestTable.merge(spark, ot, o.filter(col("o_orderkey") % 2 === 0), Seq("o_orderkey"))
    val lv0 = ManifestTable.merge(spark, lt, li.filter(col("l_orderkey") % 2 === 0), lkeys)
    assert(Catalog.commit(cat, Map("orders" -> ((ot, ov0)), "lineitem" -> ((lt, lv0))), -1))
    def orphanItems(v: Int): Long = {
      val oo = Catalog.readTableAt(spark, cat, v, "orders")
      val ll = Catalog.readTableAt(spark, cat, v, "lineitem")
      ll.join(oo, ll("l_orderkey") === oo("o_orderkey"), "left_anti").count()
    }
    // every lineitem's order is present at catalog v0 (fixture guarantees
    // referential integrity on the even half)
    assert(orphanItems(0) == 0)
    // MID-TRANSACTION: the lineitem table advances but orders has not and
    // the catalog has not flipped — a catalog reader still sees the OLD
    // consistent pair, never the torn one
    val lv1 = ManifestTable.merge(spark, lt, li, lkeys)
    assert(lv1 > lv0)
    assert(orphanItems(0) == 0, "catalog readers must not see unpinned table versions")
    assert(Catalog.currentVersion(cat) == 0)
    // complete the transaction: both pins flip in ONE catalog CAS
    val ov1 = ManifestTable.merge(spark, ot, o, Seq("o_orderkey"))
    assert(Catalog.commit(cat, Map("orders" -> ((ot, ov1)), "lineitem" -> ((lt, lv1))), 0))
    assert(orphanItems(1) == 0)
    assert(Catalog.readTableAt(spark, cat, 1, "lineitem").count() == li.count())
    // the catalog CAS admits exactly one publisher per version
    val stale = Catalog.commit(cat, Map("orders" -> ((ot, ov0)), "lineitem" -> ((lt, lv0))), 0)
    assert(!stale, "a stale transaction must lose the catalog CAS")
    // time travel at the CATALOG level: v0 still serves the old pair
    assert(Catalog.readTableAt(spark, cat, 0, "lineitem").count() ==
      li.filter(col("l_orderkey") % 2 === 0).count())
  }

  test("shallow clone: zero copy, carried stats, independent copy-on-write evolution") {
    val base = freshDir("clone")
    val (src, dst) = (s"$base/src", s"$base/c")
    val li = Tables.lineitem(spark, sf)
    val staged = ManifestTable.stageWithStats(spark, src,
      li.filter(col("l_orderkey") % 2 === 0).repartitionByRange(4, col("l_orderkey")),
      Seq("l_orderkey"))
    assert(ManifestTable.commit(src, staged, -1))
    val srcCount = ManifestTable.read(spark, src).count()
    ManifestTable.cloneTable(src, dst)
    // ZERO data copied: the clone's local data directory holds nothing
    // (commit pre-creates the empty dir; every reference is absolute)
    val dstData = java.nio.file.Paths.get(dst, "data")
    assert(!java.nio.file.Files.exists(dstData) ||
      !java.nio.file.Files.list(dstData).iterator().hasNext)
    assert(ManifestTable.read(spark, dst).count() == srcCount)
    // carried stats: skipping works on the clone immediately
    val (kept, total) = ManifestTable.pruneFiles(dst, 0, "l_orderkey",
      BigDecimal(100), BigDecimal(200))
    assert(kept.size < total)
    // independent evolution: merge into the clone; the source is untouched
    ManifestTable.merge(spark, dst, li.filter(col("l_orderkey") % 2 === 1),
      keys)
    assert(ManifestTable.read(spark, dst).count() == li.count())
    assert(ManifestTable.read(spark, src).count() == srcCount)
    assert(ManifestTable.currentVersion(src) == 0)
    // copy-on-write: deleting on the CLONE materializes locally; the
    // source still holds every row
    val probe = ManifestTable.read(spark, dst)
      .filter(col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey")).head().getLong(0)
    ManifestTable.deleteKeys(spark, dst, "l_orderkey", Seq(probe))
    assert(ManifestTable.read(spark, dst)
      .filter(col("l_orderkey") === probe).count() == 0)
    assert(ManifestTable.read(spark, src)
      .filter(col("l_orderkey") === probe).count() > 0,
      "the clone's delete must never touch source data")
  }

  test("history: kinds and counts from metadata; unknown rows reported as null") {
    val dir = freshDir("hist")
    val li = Tables.lineitem(spark, sf).repartition(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      Seq("l_orderkey"), Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    ManifestTable.optimize(spark, dir, numFiles = 2, statsCols = Seq("l_orderkey"))
    ManifestTable.deleteKeys(spark, dir, "l_orderkey", Seq(101L))
    val h = ManifestTable.history(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(h(0)._1 == "data" && h(1)._1 == "rewrite" && h(2)._1 == "mutate")
    // optimize reduced the file count; counts all known from metadata
    assert(h(1)._2 < h(0)._2)
    assert(h(0)._3.contains(li.count()))
    assert(h(1)._3.contains(li.count()))
    assert(h(2)._3.contains(
      li.filter(col("l_orderkey") =!= 101L).count()))
    // a stats-less commit makes that version's row count UNKNOWN (null),
    // never a guess
    val blind = ManifestTable.stage(spark, dir, li.limit(3))
    assert(ManifestTable.commit(dir,
      ManifestTable.listLines(dir, 2) ++ blind, 2))
    val h3 = ManifestTable.history(spark, dir).collect()
      .find(_.getInt(0) == 3).get
    assert(h3.isNullAt(3), "unknowable row count must be null, not guessed")
  }

  test("restore: rollback is metadata-only, keeps the audit trail, feeds refuse across it") {
    val dir = freshDir("restore")
    val li = Tables.lineitem(spark, sf).repartition(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      Seq("l_orderkey"), Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val before = ManifestTable.read(spark, dir).count()
    ManifestTable.deleteKeys(spark, dir, "l_orderkey", Seq(101L)) // oops
    assert(ManifestTable.read(spark, dir).count() < before)
    val dataFilesBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "data")).count()
    val v2 = ManifestTable.restore(dir, 0)
    assert(v2 == 2)
    // content is back; no data moved (restore is metadata-only)
    assert(ManifestTable.read(spark, dir).count() == before)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "data")).count() == dataFilesBefore)
    // the audit trail survives: the bad commit still time-travels
    assert(ManifestTable.readVersion(spark, dir, 1).count() < before)
    // history shows the restore as a mutation
    val kinds = ManifestTable.history(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(kinds(0) == "data" && kinds(1) == "mutate" && kinds(2) == "mutate")
    // and the change feed refuses to cross it (rows "came back")
    intercept[IllegalStateException] {
      ManifestTable.readChanges(spark, dir, 1, 2)
    }
  }

  test("regression: streaming source over a shallow clone resolves absolute paths") {
    val base = freshDir("clstream")
    val (src, dst) = (s"$base/src", s"$base/c")
    val ev = Tables.events(spark, sf).limit(200)
    ManifestTable.merge(spark, src, ev, Seq("event_id"))
    ManifestTable.cloneTable(src, dst)
    // the clone's manifest lines carry ABSOLUTE paths into src — the
    // stream must resolve them like the batch reader does
    val got = streaming.StreamingOps.runToParquet(spark,
      spark.readStream.format("graft.sources.ManifestStreamSource")
        .option("path", dst).load().groupBy().agg(count(lit(1)).as("n")),
      "clone_stream").collect().head.getLong(0)
    assert(got == ev.count())
  }

  test("regression: optimize(zorder) with zero admitted files is a no-op, not a crash") {
    val dir = freshDir("optnoop")
    val staged = ManifestTable.stageWithStats(spark, dir,
      Tables.part(spark, sf).repartition(1), Seq("p_size"))
    assert(ManifestTable.commit(dir, staged, -1))
    val v0 = ManifestTable.currentVersion(dir)
    // smallFileBytes=1 admits nothing; zorderBy must not force an empty read
    val v = ManifestTable.optimize(spark, dir, numFiles = 2,
      zorderBy = Seq("p_size", "p_partkey"), smallFileBytes = 1L)
    assert(v == v0, "zorder with nothing admitted must return the current version")
  }

  test("regression: catalog dirs may contain '='; table names may not") {
    import sources.Catalog
    val base = freshDir("cateq")
    val cat = s"$base/cat"
    val td = s"$base/part=x" // hive-style partition dirs contain '='
    ManifestTable.merge(spark, td, Tables.region(spark, sf), Seq("r_regionkey"))
    assert(Catalog.commit(cat, Map("region" -> ((td, 0))), -1))
    assert(Catalog.snapshot(cat, 0)("region") == ((td, 0)))
    assert(Catalog.readTableAt(spark, cat, 0, "region").count() ==
      Tables.region(spark, sf).count())
    intercept[IllegalArgumentException] {
      Catalog.commit(cat, Map("bad=name" -> ((td, 0))), 0)
    }
  }

  test("segmented manifest: bounded resolve, prune-equivalent, vacuum collects orphan segments") {
    val dir = freshDir("mseg")
    val flat = freshDir("mseg_flat")
    val li = Tables.lineitem(spark, sf).repartitionByRange(16, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("l_orderkey"))
    assert(staged.size == 16)
    assert(ManifestTable.commitSegmented(dir, staged, -1, segmentSize = 4,
      clusterBy = "l_orderkey"))
    // listLines resolves through segments: every reader sees the same lines
    assert(ManifestTable.listLines(dir, 0).toSet == staged.toSet)
    assert(ManifestTable.read(spark, dir).count() == li.count())
    // the same lines in a FLAT manifest (names are relative to dir — point
    // the flat table at the same data by absolute paths)
    val absLines = staged.map { l =>
      val parts = l.split('\t')
      (ManifestTable.dataPath(dir, parts.head) +: parts.tail).mkString("\t")
    }
    assert(ManifestTable.commit(flat, absLines, -1))
    // bounded resolve: the narrow predicate parses ONLY admitted segments…
    val (kept, segsRead, segsTotal, filesTotal) =
      ManifestTable.pruneFilesSegmented(dir, 0, "l_orderkey",
        BigDecimal(100), BigDecimal(500))
    assert(segsTotal == 4 && filesTotal == 16)
    assert(segsRead < segsTotal,
      s"range-clustered layout must admit a strict segment subset, read $segsRead/$segsTotal")
    // …and keeps exactly what the flat per-file prune keeps
    val (flatKept, _) = ManifestTable.pruneFiles(flat, 0, "l_orderkey",
      BigDecimal(100), BigDecimal(500))
    assert(kept.map(ManifestTable.dataPath(dir, _)).toSet == flatKept.toSet)
    // rewrite commits carry their kind through the segmented form
    assert(ManifestTable.commitSegmented(dir, staged, 0, segmentSize = 8,
      kind = Snapshot.Rewrite))
    assert(Snapshot.read(dir, 1).kind == Snapshot.Rewrite &&
      Snapshot.read(dir, 0).kind != Snapshot.Rewrite)
    assert(ManifestTable.listLines(dir, 1).toSet == staged.toSet)
    // vacuum to the latest version collects v0's now-unreferenced segments
    // but keeps v1's (the data files are shared and all still referenced)
    val metaDir = java.nio.file.Paths.get(dir, "meta")
    assert(java.nio.file.Files.list(metaDir).count() == 6) // 4 + 2
    ManifestTable.vacuum(dir, keepVersions = 1)
    assert(java.nio.file.Files.list(metaDir).count() == 2)
    assert(ManifestTable.read(spark, dir).count() == li.count())
  }

  test("per-file HLL blobs: mergeable NDV estimate bounds the planner soundly") {
    val dir = freshDir("ndv")
    val li = Tables.lineitem(spark, sf).repartitionByRange(8, col("l_orderkey"))
    val staged = ManifestTable.stageWithNdv(spark, dir, li,
      Seq("l_orderkey"), Seq("l_orderkey", "l_partkey"))
    assert(staged.forall(l => l.contains("l_orderkey=H:") && l.contains("l_partkey=H:")))
    assert(ManifestTable.commit(dir, staged, -1))
    val exact = li.select(col("l_orderkey")).distinct().count()
    val (est, upper) = ManifestTable.estimateNdv(dir, "l_orderkey",
      BigDecimal(Long.MinValue), BigDecimal(Long.MaxValue))
    assert(exact <= upper, s"NDV upper bound $upper below exact $exact")
    assert(math.abs(est - exact) / exact <= 0.05,
      s"HLL estimate $est more than 5% off exact $exact")
    // a pruned slice's bound stays sound (admitted files ⊇ matching rows)
    val (_, upSlice) = ManifestTable.estimateNdv(dir, "l_orderkey",
      BigDecimal(100), BigDecimal(2000))
    val exactSlice = li.filter(col("l_orderkey").between(100L, 2000L))
      .select(col("l_orderkey")).distinct().count()
    assert(exactSlice <= upSlice)
    // the decision the stats power: distinct keys of the slice broadcast
    // (KBs), but a pretend 1 MB-per-key row makes the same side shuffle
    val (go, bytes) = ManifestTable.joinSideAdvice(dir, "l_orderkey",
      BigDecimal(100), BigDecimal(2000))
    assert(go == "broadcast" && bytes > 0)
    val (noGo, _) = ManifestTable.joinSideAdvice(dir, "l_orderkey",
      BigDecimal(100), BigDecimal(2000), bytesPerKey = 1L << 20)
    assert(noGo == "shuffle")
  }

  test("clone-aware vacuum: source vacuum keeps files live clones reference") {
    val base = freshDir("clvac")
    val (src, dst) = (s"$base/src", s"$base/c")
    val li = Tables.lineitem(spark, sf)
    val half = li.filter(col("l_orderkey") % 2 === 0)
    ManifestTable.merge(spark, src, half, keys)
    ManifestTable.cloneTable(src, dst)
    val cloneCount = ManifestTable.read(spark, dst).count()
    // the source moves on: a full-rewrite commit replaces v0's files
    ManifestTable.compact(spark, src, numFiles = 2)
    // vacuum the SOURCE to only its latest version: v0's files are no
    // longer referenced by any source manifest — but the clone holds them
    val (_, dropped) = ManifestTable.vacuum(src, keepVersions = 1)
    assert(dropped == 0,
      "vacuum must not collect files a registered clone references")
    assert(ManifestTable.read(spark, dst).count() == cloneCount,
      "the clone must survive a source vacuum intact")
    // force restores the old behavior and knowingly breaks the clone
    val (_, forced) = ManifestTable.vacuum(src, keepVersions = 1, force = true)
    assert(forced > 0)
    intercept[Exception] {
      ManifestTable.read(spark, dst).count()
    }
  }

  test("deletion vectors: MOR delete, re-insert, partial rewrite, compaction materializes") {
    import java.nio.file.{Files => F, Paths => P}
    val dir = freshDir("dv")
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithIndexes(spark, dir, li,
      Seq("l_orderkey"), Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val before = ManifestTable.read(spark, dir).count()
    val doomed = Seq(101L, 777L)
    val doomedRows = li.filter(col("l_orderkey").isin(doomed: _*)).count()
    assert(doomedRows > 0)
    val dataFilesBefore = F.list(P.get(dir, "data")).count()

    // MOR delete: rows gone, but NO data file rewritten (only the tiny DV
    // parquet appeared) — write cost ∝ deleted keys, not affected data
    val v1 = ManifestTable.deleteKeysMOR(spark, dir, "l_orderkey", doomed)
    assert(v1 == 1)
    assert(ManifestTable.read(spark, dir).count() == before - doomedRows)
    assert(F.list(P.get(dir, "data")).count() == dataFilesBefore + 1,
      "a MOR delete must stage exactly the DV file, never rewrite data")
    assert(ManifestTable.listFiles(dir, 1).toSet ==
      ManifestTable.listFiles(dir, 0).toSet,
      "the data file list is untouched; the DV rides as a marker")
    // time travel unaffected; stats-pruned read paths see the delete
    assert(ManifestTable.readVersion(spark, dir, 0).count() == before)
    assert(ManifestTable.readPointLookup(spark, dir, "l_orderkey",
      doomed).count() == 0)
    assert(ManifestTable.readPruned(spark, dir, "l_orderkey",
      BigDecimal(100), BigDecimal(110))
      .filter(col("l_orderkey") === 101L).count() == 0)
    // metadata aggregates refuse rather than guess under DVs
    intercept[IllegalArgumentException] {
      ManifestTable.metadataAgg(dir, "l_orderkey")
    }
    // history PRICES the DV version exactly (round 15: keyed markers
    // record their delete-time doomed-live counts, so live = rows −
    // recorded dooms — no longer unknowable)
    val h = ManifestTable.history(spark, dir).collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(h(0) == before && h(1) == before - doomedRows,
      s"keyed-MOR history must report exact live counts, got $h")
    // the change feed refuses to cross the mutation
    intercept[IllegalStateException] {
      ManifestTable.readChanges(spark, dir, 0, 1)
    }

    // RE-INSERT a deleted key in two small merges: the new rows land in
    // files no DV targets, so file-targeted DVs keep them visible
    // (value-keyed DVs would wrongly re-delete them)
    val reinsert = li.filter(col("l_orderkey") === 101L)
    val mergeKeys = Seq("l_orderkey", "l_linenumber", "l_suppkey")
    ManifestTable.merge(spark, dir,
      reinsert.filter(col("l_linenumber") % 2 === 0), mergeKeys)
    ManifestTable.merge(spark, dir, reinsert, mergeKeys)
    val back = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey") === 101L).count()
    assert(back == reinsert.count(), s"re-inserted key must be visible, saw $back")
    val expected = before - doomedRows + back

    // PARTIAL rewrite: only the two tiny re-insert files are under the
    // size threshold — the original (DV-targeted) files stay, so the
    // markers must carry forward; content invariant either way
    ManifestTable.optimize(spark, dir, numFiles = 1,
      statsCols = Seq("l_orderkey"), smallFileBytes = 8192)
    val vO = ManifestTable.currentVersion(dir)
    assert(Snapshot.read(dir, vO).dvs.nonEmpty,
      "a rewrite that keeps targeted files must carry their DV markers")
    assert(ManifestTable.read(spark, dir).count() == expected)

    // FULL compaction materializes: markers gone, content invariant
    ManifestTable.compact(spark, dir, numFiles = 2)
    val vC = ManifestTable.currentVersion(dir)
    assert(Snapshot.read(dir, vC).dvs.isEmpty,
      "a full rewrite must materialize the delete and drop the DV markers")
    assert(ManifestTable.read(spark, dir).count() == expected)
    assert(ManifestTable.read(spark, dir)
      .filter(col("l_orderkey") === 777L).count() == 0)
  }

  test("MOR upsert: replaces matched keys, inserts new, sequential upserts compose, compaction materializes") {
    import java.nio.file.{Files => F, Paths => P}
    val dir = freshDir("morups")
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val before = ManifestTable.read(spark, dir).count()
    val dataBefore = F.list(P.get(dir, "data")).count()
    // upsert 1: replace key 101's rows with quantity+100
    val b1 = li.filter(col("l_orderkey") === 101L)
      .withColumn("l_quantity", col("l_quantity") + lit(100.0))
    ManifestTable.upsertMOR(spark, dir, b1, "l_orderkey")
    val after1 = ManifestTable.read(spark, dir)
    assert(after1.count() == before, "replacement must not change row count")
    assert(after1.filter(col("l_orderkey") === 101L && col("l_quantity") <= 100.0)
      .count() == 0, "old versions of the matched key must be invisible")
    // nothing rewritten: only the DV + batch files appeared
    assert(F.list(P.get(dir, "data")).count() > dataBefore)
    assert(ManifestTable.listFiles(dir, 0).toSet.subsetOf(
      ManifestTable.listFiles(dir, 1).toSet))
    // upsert 2 on the SAME key replaces upsert 1's version (its batch file
    // is range-admitted and gets DV'd like any other)
    val b2 = li.filter(col("l_orderkey") === 101L)
      .withColumn("l_quantity", col("l_quantity") + lit(500.0))
    ManifestTable.upsertMOR(spark, dir, b2, "l_orderkey")
    val q101 = ManifestTable.read(spark, dir)
      .filter(col("l_orderkey") === 101L).select(col("l_quantity"))
      .collect().map(_.getDouble(0))
    assert(q101.nonEmpty && q101.forall(_ > 500.0),
      "the second upsert must win over the first")
    assert(ManifestTable.read(spark, dir).count() == before)
    // upsert of a BRAND-NEW key is a pure insert
    val maxKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val b3 = li.filter(col("l_orderkey") === 101L)
      .withColumn("l_orderkey", lit(maxKey + 1000L))
    ManifestTable.upsertMOR(spark, dir, b3, "l_orderkey")
    assert(ManifestTable.read(spark, dir).count() == before + b3.count())
    // compaction materializes the whole chain; answer invariant
    val totalBefore = ManifestTable.read(spark, dir)
      .agg(sum(col("l_quantity").cast("decimal(18,2)"))).head().getDecimal(0)
    ManifestTable.compact(spark, dir, numFiles = 2)
    assert(Snapshot.read(dir, ManifestTable.currentVersion(dir)).dvs.isEmpty)
    assert(ManifestTable.read(spark, dir)
      .agg(sum(col("l_quantity").cast("decimal(18,2)"))).head()
      .getDecimal(0) == totalBefore)
  }

  test("rename column: generations reconcile, add-column nulls, compact materializes, DML refuses") {
    val dir = freshDir("ren")
    val p = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
    val gen0 = p.filter(col("p_partkey") % 2 === 0)
    assert(ManifestTable.commit(dir, ManifestTable.stage(spark, dir, gen0), -1))
    ManifestTable.renameColumn(dir, "p_retailprice", "price")
    // pre-rename files read back under the NEW name
    assert(ManifestTable.read(spark, dir).columns.toSet ==
      Set("p_partkey", "p_brand", "price"))
    // post-rename generation merges under the new name, PLUS an added
    // column the old generation never had
    val gen1 = p.filter(col("p_partkey") % 2 === 1)
      .withColumnRenamed("p_retailprice", "price")
      .withColumn("origin", lit("imported"))
    ManifestTable.merge(spark, dir, gen1, Seq("p_partkey"))
    val evolved = ManifestTable.read(spark, dir)
    assert(evolved.count() == p.count())
    // values intact across generations; added column null for gen0
    val sumAll = evolved.agg(sum(col("price").cast("decimal(18,2)")))
      .head().getDecimal(0)
    val want = p.agg(sum(col("p_retailprice").cast("decimal(18,2)")))
      .head().getDecimal(0)
    assert(sumAll == want)
    assert(evolved.filter(col("origin").isNull).count() == gen0.count())
    // chained rename still reconciles all three generations of labels
    ManifestTable.renameColumn(dir, "price", "list_price")
    assert(ManifestTable.read(spark, dir).columns.contains("list_price"))
    // MOR delete COMPOSES with the pending rename chain (round 14): the
    // marker stages under the evolved name, pre-rename files prune via
    // the alias family, and the read drops the doomed row across all
    // generations without compaction
    val vMor = ManifestTable.deleteKeysMOR(spark, dir, "p_partkey", Seq(2L))
    assert(Snapshot.read(dir, vMor).dvs.nonEmpty &&
      Snapshot.read(dir, vMor).renames.nonEmpty)
    assert(ManifestTable.read(spark, dir)
      .filter(col("p_partkey") === 2L).count() == 0)
    // undo via restore so the totals below stay the original ones
    ManifestTable.restore(dir, vMor - 1)
    // copy-on-write targeted delete keeps the honest refusal (its rewrite
    // is keyed single-generation; the delta SQL path composes instead)
    intercept[IllegalArgumentException] {
      ManifestTable.deleteKeys(spark, dir, "p_partkey", Seq(2L))
    }
    // clone carries the rename chain
    val dst = freshDir("renclone")
    ManifestTable.cloneTable(dir, dst)
    assert(ManifestTable.read(spark, dst).columns.contains("list_price"))
    // compact MATERIALIZES: markers gone, physical schema is the new one,
    // content invariant — and DML works again
    ManifestTable.compact(spark, dir, numFiles = 2)
    val vC = ManifestTable.currentVersion(dir)
    assert(Snapshot.read(dir, vC).renames.isEmpty)
    val flat = ManifestTable.read(spark, dir)
    assert(flat.columns.contains("list_price") && flat.count() == p.count())
    assert(flat.agg(sum(col("list_price").cast("decimal(18,2)")))
      .head().getDecimal(0) == want)
    ManifestTable.deleteKeysMOR(spark, dir, "p_partkey", Seq(2L))
    assert(ManifestTable.read(spark, dir)
      .filter(col("p_partkey") === 2L).count() == 0)
  }

  test("sql catalog: named tables, snapshot-pinned pruned scans, atomic insert, DDL, marker refusal") {
    val root = freshDir("sqlcat")
    val tbl = s"$root/ev"
    val ev = Tables.events(spark, sf).limit(400)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ManifestTable.merge(spark, tbl, ev.filter(col("event_id") % 2 === 0),
      Seq("event_id"))
    spark.conf.set("spark.sql.catalog.gtest",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.root", root)
    // read by name; count matches the library read
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.ev")
      .head().getLong(0) == ManifestTable.read(spark, tbl).count())
    // column pruning reaches the reader: only the projected column decodes
    val pruned = spark.sql("SELECT event_type FROM gtest.default.ev")
    assert(pruned.schema.fieldNames.toSeq == Seq("event_type"))
    // INSERT INTO appends atomically (one new version, all rows visible)
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("ev_odd")
    val vBefore = ManifestTable.currentVersion(tbl)
    spark.sql("INSERT INTO gtest.default.ev SELECT * FROM ev_odd")
    assert(ManifestTable.currentVersion(tbl) == vBefore + 1)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.ev")
      .head().getLong(0) == ev.count())
    // SQL agg equals the DataFrame-side agg exactly
    val got = spark.sql(
      """SELECT event_type, count(*) AS n FROM gtest.default.ev GROUP BY 1""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ManifestTable.read(spark, tbl).groupBy(col("event_type"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
    // listTables sees it; DROP destroys it
    assert(spark.sql("SHOW TABLES IN gtest.default").collect()
      .map(_.getString(1)).contains("ev"))
    // a DV-bearing table serves LIVE rows through the scan (round 12:
    // merge-on-read replaced the compact-first refusal), identically
    // before and after compaction
    ManifestTable.deleteKeysMOR(spark, tbl, "event_id", Seq(2L))
    val wantLive = ev.count() - ev.filter(col("event_id") === 2L).count()
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.ev")
      .head().getLong(0) == wantLive,
      "the MOR scan must drop the doomed key without compaction")
    ManifestTable.compact(spark, tbl, numFiles = 1)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.default.ev")
      .head().getLong(0) == wantLive)
    spark.sql("DROP TABLE gtest.default.ev")
    assert(ManifestTable.currentVersion(tbl) < 0)
  }

  test("sql catalog: VERSION AS OF time travel, writes refused on pins") {
    val root = freshDir("sqltt")
    val tbl = s"$root/t"
    val li = Tables.lineitem(spark, sf)
    val half = li.filter(col("l_orderkey") % 2 === 0)
    ManifestTable.merge(spark, tbl, half,
      Seq("l_orderkey", "l_linenumber", "l_suppkey"))
    ManifestTable.merge(spark, tbl, li,
      Seq("l_orderkey", "l_linenumber", "l_suppkey"))
    spark.conf.set("spark.sql.catalog.gtt",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtt.root", root)
    assert(spark.sql("SELECT count(*) FROM gtt.default.t")
      .head().getLong(0) == li.count())
    assert(spark.sql("SELECT count(*) FROM gtt.default.t VERSION AS OF 0")
      .head().getLong(0) == half.count(),
      "VERSION AS OF must serve the historical snapshot")
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gtt.default.t VERSION AS OF 7").collect()
    }
  }

  test("governance policies: enforced by readGoverned, survive compaction and clone, catalog enforces") {
    val base = freshDir("gov")
    val (dir, dst) = (s"$base/t", s"$base/c")
    val ev = Tables.events(spark, sf).limit(300)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ManifestTable.merge(spark, dir, ev, Seq("event_id"))
    ManifestTable.setPolicy(dir,
      masks = Map("user_id" -> "pmod(user_id, 100)"),
      rowFilter = Some("event_type <> 'error'"))
    val governed = ManifestTable.readGoverned(spark, dir)
    assert(governed.filter(col("event_type") === "error").count() == 0)
    assert(governed.agg(max(col("user_id"))).head().getLong(0) < 100,
      "the mask must generalize every surviving row")
    // the RAW read is untouched — maintenance must see true rows
    assert(ManifestTable.read(spark, dir).count() == ev.count())
    // policies survive compaction (unlike DV/rename, they never materialize)
    ManifestTable.compact(spark, dir, numFiles = 1)
    assert(Snapshot.read(dir,
      ManifestTable.currentVersion(dir)).policies.nonEmpty)
    assert(ManifestTable.readGoverned(spark, dir)
      .filter(col("event_type") === "error").count() == 0)
    // …and travel with clones
    ManifestTable.cloneTable(dir, dst)
    assert(ManifestTable.readGoverned(spark, dst)
      .agg(max(col("user_id"))).head().getLong(0) < 100)
    // the SQL catalog serves a governed table POLICY-ENFORCED (round 9:
    // refusal replaced by the readGoverned semantics at the scan)
    spark.conf.set("spark.sql.catalog.ggov",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggov.root", base)
    val sqlGoverned = spark.sql("SELECT * FROM ggov.default.t")
    assert(sqlGoverned.filter(col("event_type") === "error").count() == 0,
      "the catalog scan must apply the row filter")
    assert(sqlGoverned.agg(max(col("user_id"))).head().getLong(0) < 100,
      "the catalog scan must apply the masks")
    // replacing the policy set drops the old rules
    ManifestTable.setPolicy(dir, masks = Map.empty, rowFilter = None)
    assert(ManifestTable.readGoverned(spark, dir).count() == ev.count())
  }

  test("advised join: NDV metadata picks broadcast; both branches agree") {
    val adv = operators.ScaleOps.advisedJoin(spark, sf)
    val plan = adv.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "fixture-scale distinct keys must be advised onto the broadcast path")
    val got = adv.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // a pretend 1 MB/key forces the shuffle branch — same answer
    val shuffled = operators.ScaleOps.advisedJoin(spark, sf,
      forceBytesPerKey = Some(1L << 20))
    assert(!shuffled.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin LeftSemi"),
      "oversized keys must be advised off the broadcast semi-join")
    val got2 = shuffled.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == got2 && got.nonEmpty)
  }

  test("sql catalog: the same named table streams via readStream.table") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val root = freshDir("sqlstream")
    val tbl = s"$root/ev"
    val ev = Tables.events(spark, sf).limit(300)
      .select(col("event_id"), col("event_type"), col("value"))
    (0 to 1).foreach(m => ManifestTable.merge(spark, tbl,
      ev.filter(col("event_id") % 2 === m), Seq("event_id")))
    spark.conf.set("spark.sql.catalog.gstr",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstr.root", root)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.option("versionsPerBatch", "1")
      .table("gstr.default.ev")
      .writeStream.outputMode("append")
      .foreachBatch((b: DataFrame, _: Long) => { got += b.count(); () })
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // two commits drained as two admission-controlled micro-batches
    assert(got.filter(_ > 0).toSeq ==
      Seq(ev.filter(col("event_id") % 2 === 0).count(),
        ev.filter(col("event_id") % 2 === 1).count()))
  }

  test("sql catalog: COUNT(*) served from manifest metadata, zero data I/O") {
    val root = freshDir("sqlcnt")
    val tbl = s"$root/li"
    val li = Tables.lineitem(spark, sf).repartition(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, tbl, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(tbl, staged, -1))
    spark.conf.set("spark.sql.catalog.gcnt",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcnt.root", root)
    val q = spark.sql("SELECT count(*) AS n FROM gcnt.default.li")
    assert(q.head().getLong(0) == li.count())
    assert(q.queryExecution.executedPlan.toString.contains("metadata agg"),
      "the count must be served from the manifest metadata, not a scan")
    // a stats-less commit declines the pushdown but stays CORRECT
    val blind = ManifestTable.stage(spark, tbl, li.limit(7))
    assert(ManifestTable.commit(tbl,
      ManifestTable.listLines(tbl, 0) ++ blind, 0))
    val q2 = spark.sql("SELECT count(*) AS n FROM gcnt.default.li")
    assert(q2.head().getLong(0) == li.count() + 7)
    assert(!q2.queryExecution.executedPlan.toString.contains("metadata agg"),
      "missing per-file counts must fall back to a real scan")
  }

  test("sql catalog: mixed COUNT/MIN/MAX served from metadata with exact typed extrema") {
    val root = freshDir("sqlmma")
    val tbl = s"$root/li"
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, tbl, li,
      Seq("l_orderkey", "l_quantity"))
    assert(ManifestTable.commit(tbl, staged, -1))
    spark.conf.set("spark.sql.catalog.gmma",
      classOf[sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmma.root", root)
    val q = spark.sql("""SELECT count(*) AS n, min(l_orderkey) AS lo,
      max(l_orderkey) AS hi, max(l_quantity) AS qhi FROM gmma.default.li""")
    val r = q.head()
    val want = li.agg(count(lit(1)), min(col("l_orderkey")),
      max(col("l_orderkey")), max(col("l_quantity"))).head()
    assert(r.getLong(0) == want.getLong(0) && r.getLong(1) == want.getLong(1)
      && r.getLong(2) == want.getLong(2)
      && r.getDouble(3) == want.getDouble(3))
    assert(q.queryExecution.executedPlan.toString.contains("metadata agg"),
      "the mixed aggregate must be served from metadata")
    // a min over a column with NO recorded range falls back, still correct
    val q2 = spark.sql("SELECT min(l_extendedprice) AS p FROM gmma.default.li")
    assert(!q2.queryExecution.executedPlan.toString.contains("metadata agg"))
    assert(q2.head().getDouble(0) ==
      li.agg(min(col("l_extendedprice"))).head().getDouble(0))
  }

  test("MOR concurrency: racing upserts serialize through the CAS, no lost updates") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val dir = freshDir("morrace")
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, dir, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(dir, staged, -1))
    val before = ManifestTable.read(spark, dir).count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fa = Future(ManifestTable.upsertMOR(spark, dir,
        li.filter(col("l_orderkey") === 101L)
          .withColumn("l_quantity", col("l_quantity") + lit(100.0)),
        "l_orderkey"))
      val fb = Future(ManifestTable.upsertMOR(spark, dir,
        li.filter(col("l_orderkey") === 777L)
          .withColumn("l_quantity", col("l_quantity") + lit(200.0)),
        "l_orderkey"))
      Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    } finally pool.shutdown()
    // both writers landed (one retried after losing the CAS): two commits
    assert(ManifestTable.currentVersion(dir) == 2,
      "racing upserts must SERIALIZE into two committed versions")
    val after = ManifestTable.read(spark, dir)
    assert(after.count() == before, "replacement must not change row count")
    assert(after.filter(col("l_orderkey") === 101L &&
      col("l_quantity") <= 100.0).count() == 0)
    assert(after.filter(col("l_orderkey") === 777L &&
      col("l_quantity") <= 200.0).count() == 0,
      "NEITHER racing update may be lost")
  }

  test("deletion vectors: clone carries them; restore republishes them") {
    val base = freshDir("dvclone")
    val (src, dst) = (s"$base/src", s"$base/c")
    val li = Tables.lineitem(spark, sf).repartitionByRange(4, col("l_orderkey"))
    val staged = ManifestTable.stageWithStats(spark, src, li, Seq("l_orderkey"))
    assert(ManifestTable.commit(src, staged, -1))
    val v1 = ManifestTable.deleteKeysMOR(spark, src, "l_orderkey", Seq(101L))
    val afterDelete = ManifestTable.read(spark, src).count()
    // clone of a DV-bearing snapshot sees the post-delete state
    ManifestTable.cloneTable(src, dst)
    assert(ManifestTable.read(spark, dst).count() == afterDelete)
    assert(ManifestTable.read(spark, dst)
      .filter(col("l_orderkey") === 101L).count() == 0)
    // restore to the DV version republishes the markers with the lines
    ManifestTable.deleteKeysMOR(spark, src, "l_orderkey", Seq(777L))
    val vR = ManifestTable.restore(src, v1)
    assert(Snapshot.read(src, vR).dvs.nonEmpty)
    assert(ManifestTable.read(spark, src).count() == afterDelete)
  }

  test("chaos: sink crash after staging before CAS — checkpoint restart is exactly-once") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val base = freshDir("chaos")
    val (src, tbl, ckpt) = (s"$base/src", s"$base/tbl", s"$base/ckpt")
    val ev = Tables.events(spark, sf).limit(300)
    ManifestTable.merge(spark, src, ev, Seq("event_id"))
    // first delivery: the sink does its distributed work (stages every
    // file), then dies INSIDE the batch — the exact crash window the
    // protocol argues about: work done, nothing published
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sink: (DataFrame, Long) => Unit = (batch, _) =>
      if (!crashed.getAndSet(true)) {
        ManifestTable.stage(batch.sparkSession, tbl, batch)
        throw new RuntimeException("chaos: crash after staging, before CAS")
      } else ManifestTable.merge(batch.sparkSession, tbl, batch, Seq("event_id"))
    def run(): Unit = spark.readStream
      .format("graft.sources.ManifestStreamSource").option("path", src).load()
      .writeStream.outputMode("append").foreachBatch(sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    intercept[Exception] { run() }
    // the crash published NOTHING: readers still see an empty table
    assert(ManifestTable.currentVersion(tbl) == -1)
    // restart from the SAME checkpoint: the batch re-delivers and commits
    run()
    assert(ManifestTable.read(spark, tbl).count() == ev.count(),
      "recovered table must hold exactly the source rows")
    // the crashed attempt's files are invisible orphans on disk…
    val v = ManifestTable.currentVersion(tbl)
    val listed = ManifestTable.listFiles(tbl, v).size
    val onDisk = java.nio.file.Files.list(
      java.nio.file.Paths.get(tbl, "data")).count().toInt
    assert(onDisk > listed, "chaos run must have left staged orphans")
    // …and vacuum collects exactly them, changing nothing visible
    val (_, dropped) = ManifestTable.vacuum(tbl, keepVersions = 1)
    assert(dropped == onDisk - listed)
    assert(ManifestTable.read(spark, tbl).count() == ev.count())
    // third delivery from a FRESH checkpoint (full re-delivery): all no-ops
    val ckpt2 = s"$base/ckpt2"
    spark.readStream
      .format("graft.sources.ManifestStreamSource").option("path", src).load()
      .writeStream.outputMode("append").foreachBatch(sink)
      .option("checkpointLocation", ckpt2)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(ManifestTable.read(spark, tbl).count() == ev.count(),
      "full redelivery must merge to a no-op")
  }

  test("acid merge query equals the anti-join dedup-append semantics") {
    val acid = SparkEntry.queries("q_acid_merge")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val emulated = operators.Relational.dedupAppend(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(acid == emulated && acid.nonEmpty)
  }
}
