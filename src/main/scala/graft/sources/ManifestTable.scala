package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal snapshot-isolated table format — the commit protocol that turns
  * the emulated MERGE (anti-join + append, `Relational.dedupAppend`) into an
  * ACID one, closing SURVEY §7 hard-part 5. The design is the lakehouse
  * manifest pattern (Delta/Iceberg's core idea, reduced to its essentials):
  *
  *  - A table is a directory: `data/` holds immutable parquet files;
  *    `manifest-v%08d.json` files each hold one committed [[Snapshot]] —
  *    the EXACT data files of that version plus its markers, in the codec
  *    [[Snapshot]] documents (kind line first, then the files, then the
  *    marker kinds in one fixed order, `#ts` last).
  *  - READERS resolve the highest manifest version once, then read only the
  *    files it lists. Data files from in-flight or crashed writers are
  *    orphans no manifest references — invisible by construction, so a
  *    reader never sees a partial commit (snapshot isolation without locks).
  *  - WRITERS stage data files under unique names (never overwriting), then
  *    publish version N+1 through [[AtomicPublish]]: the body is written to
  *    a temp file and hard-linked into place, which fails if another writer
  *    already claimed N+1 — optimistic concurrency with a complete manifest
  *    or none. Every commit kind is a snapshot → snapshot function run by
  *    the ONE retry loop, `commit(dir, kind)`: a loser re-reads the new
  *    head and re-runs its reconciliation (for MERGE, the anti-join).
  *  - Nothing is ever mutated or deleted on the write path, so a crash at
  *    ANY point leaves the previous snapshot fully intact; replaying the
  *    same batch is idempotent because the retry anti-joins against the
  *    state that now includes it.
  *
  * At 100 TB the same layout holds: manifests are O(|files|) metadata (and
  * are chunked into segments past that), data moves are pure renames, and
  * the one serialization point is a single small-file link per commit —
  * reconciliation work stays distributed. */
object ManifestTable {

  private[sources] def manifestPath(dir: String, v: Int): Path =
    Paths.get(dir, f"manifest-v$v%08d.json")

  /** Small daemon pool for overlapping the INDEPENDENT distributed actions
    * inside one commit attempt (guide §2.6: actions are only sequential
    * because the driver calls them sequentially) — e.g. upsertMOR's staged
    * key write, staged data write, and doomed-live counting pass share no
    * data and target disjoint unique paths. 3 in-flight jobs is the
    * guide's "enough to fill the tail" sizing; the pool is per-JVM and
    * daemon so it never blocks shutdown. */
  private lazy val overlapEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        (r: Runnable) => {
          val t = new Thread(r, "graft-stage-overlap")
          t.setDaemon(true); t
        }))

  /** Directory listing with the stream CLOSED before returning —
    * `Files.list` holds an open directory FD until the stream closes, and
    * a long-lived driver probing table metadata thousands of times per
    * query would otherwise leak one FD per probe until GC ran a finalizer
    * sweep (an eventual EMFILE under load). */
  private[graft] def listDir(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Remove a table directory entirely (test/setup helper — the write path
    * itself never deletes anything). */
  def destroy(dir: String): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d)) {
      val s = Files.walk(d)
      val all = try s.iterator().asScala.toList finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  /** Highest committed version, or -1 for an empty table. */
  def currentVersion(dir: String): Int = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return -1
    val vs = listDir(d)
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("manifest-v") && n.endsWith(".json") =>
        n.stripPrefix("manifest-v").stripSuffix(".json").toInt }
    if (vs.isEmpty) -1 else vs.max
  }

  /** File lines of version `v`: `name` or `name\t<file stats>` (segments
    * of a segmented version resolved). Writers carry these lines forward
    * verbatim so per-file stats survive later commits; readers that only
    * need names use [[listFiles]]. */
  def listLines(dir: String, v: Int): Seq[String] = Snapshot.read(dir, v).files

  // ---------------------------------------------------------------------
  // Split manifests + manifest list (the Iceberg metadata layout, applied
  // to this format): ONE flat file list per version stops scaling when a
  // snapshot is millions of files — every reader, however selective, pays
  // a driver-side parse of the whole list. A SEGMENTED commit instead
  // shards the file lines across immutable segment files under `meta/` and
  // publishes a small manifest LIST whose per-segment summary lines carry
  // the union of each segment's column ranges + total rows/files. Pruning
  // then reads the list, admits segments by summary range, and parses ONLY
  // the admitted segments' lines — driver metadata cost drops from
  // O(|files|) to O(|segments| + |admitted files|). The CAS commit
  // protocol is untouched (the manifest list IS the CAS'd file); segments
  // are staged under unique names first, exactly like data files, so a
  // crashed segmented commit leaves only invisible orphans.
  // ---------------------------------------------------------------------

  /** Publish version `expected + 1` as a SEGMENTED manifest: shard `lines`
    * into segments of `segmentSize`, write each under `meta/` with a
    * unique name, and CAS a manifest list of per-segment summaries (range
    * union per stats column, `__rows` and `__files` totals). Same
    * atomicity as [[commit]]; a lost race leaves orphan segments that
    * [[vacuum]] collects. `kind` is the commit's kind. `clusterBy` names
    * a stats column to SORT the file lines by (recorded min) before
    * sharding — without it, segment
    * summaries span whatever ranges the staging order interleaved and
    * nothing prunes (the reason Iceberg sorts manifest entries); file
    * order inside a manifest is not semantic, so this is pure layout. */
  def commitSegmented(dir: String, lines: Seq[String], expected: Int,
      segmentSize: Int = 1000, kind: Snapshot.Kind = Snapshot.Append,
      clusterBy: String = ""): Boolean = {
    require(segmentSize > 0, "segmentSize must be positive")
    Files.createDirectories(Paths.get(dir, "meta"))
    val ordered =
      if (clusterBy.isEmpty) lines
      else lines.sortBy(l => parseEntry(l).ranges.get(clusterBy)
        .map(_.min).getOrElse(BigDecimal(0)))
    val summaries = ordered.grouped(segmentSize).map { seg =>
      val name = s"seg-${java.util.UUID.randomUUID().toString.take(12)}.txt"
      Files.write(Paths.get(dir, "meta", name),
        seg.mkString("\n").getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
      val es = seg.map(parseEntry)
      // per-column range union over the segment — the pruning summary
      val cols = es.flatMap(_.ranges.keys).distinct.sorted
      val ranges = cols.flatMap { c =>
        val rs = es.flatMap(_.ranges.get(c))
        // a column missing from ANY file makes the segment unprunable on
        // it (the summary would silently admit less than the segment holds)
        if (rs.size < es.size) None
        else Some(c -> ColRange(rs.head.tag, rs.map(_.min).min, rs.map(_.max).max))
      }.toMap
      // per-column BLOOM union (bitwise OR, no false negatives by
      // construction) — the summary that prunes segments on EQUALITY
      // keys, which range envelopes cannot under a hash-clustered layout
      // (every segment spans the full key range but holds its own key
      // set). Same every-file rule as ranges; geometry must match.
      val bloomCols = es.flatMap(_.blooms.keys).distinct.sorted
      val blooms = bloomCols.flatMap { c =>
        val bs = es.flatMap(_.blooms.get(c))
        if (bs.size < es.size) None else unionBlooms(bs).map(c -> _)
      }
      // per-column NDV sketch union (HLL registers merge losslessly) —
      // the planner's distinct-count input at SEGMENT granularity
      val hllCols = es.flatMap(_.hlls.keys).distinct.sorted
      val hlls = hllCols.flatMap { c =>
        val hs = es.flatMap(_.hlls.get(c))
        if (hs.size < es.size) None else Some(c -> unionHlls(hs))
      }
      // per-column STRING envelope union (min of lower bounds, max of
      // upper bounds — both stay sound bounds of every file's values),
      // so string predicates prune whole SEGMENTS before any file line
      // parses, same as numeric ranges
      val strCols = es.flatMap(_.strRanges.keys).distinct.sorted
      val strs = strCols.flatMap { c =>
        val rs = es.flatMap(_.strRanges.get(c))
        if (rs.size < es.size) None
        else Some(c -> ((rs.map(_._1).min(byteOrdering),
          rs.map(_._2).max(byteOrdering))))
      }
      val rows = es.flatMap(_.rows)
      val rowsKv = if (rows.size == es.size) s"\t__rows=${rows.sum}" else ""
      val rangeKv = if (ranges.isEmpty) "" else s"\t${encodeStats(ranges)}"
      val bloomKv = if (blooms.isEmpty) "" else "\t" + blooms
        .map { case (c, b) => s"$c=B:${hexEncode(b)}" }.mkString(";")
      val hllKv = if (hlls.isEmpty) "" else "\t" + hlls
        .map { case (c, h) => s"$c=H:${hexEncode(h)}" }.mkString(";")
      val strKv = if (strs.isEmpty) "" else "\t" + strs
        .map { case (c, (lo, hi)) =>
          s"$c=S:${hexEncode(lo)}:${hexEncode(hi)}" }.mkString(";")
      s"$name$rangeKv$bloomKv$hllKv$strKv$rowsKv\t__files=${es.size}"
    }.toSeq
    publish(dir, Snapshot(expected + 1, kind, segments = summaries), expected)
  }

  /** Bitwise-OR union of same-geometry Bloom sketches (format:
    * [numBits:Int][k:Int][words…]). The union's bit set is a superset of
    * each input's, so `contains` keeps its no-false-negative guarantee
    * for every key any input held. Mismatched geometry → None (an
    * unsound union must not exist). */
  private def unionBlooms(bs: Seq[Array[Byte]]): Option[Array[Byte]] = {
    val head = bs.head
    val sameGeometry = bs.forall(b => b.length == head.length &&
      java.util.Arrays.equals(b.take(8), head.take(8)))
    if (!sameGeometry) return None
    val out = head.clone()
    bs.tail.foreach { b =>
      var i = 8
      while (i < out.length) { out(i) = (out(i) | b(i)).toByte; i += 1 }
    }
    Some(out)
  }

  /** Union of Datasketches HLL register blobs (register-max merge). */
  private def unionHlls(hs: Seq[Array[Byte]]): Array[Byte] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val u = new Union()
    hs.foreach(h => u.update(HllSketch.heapify(h)))
    u.getResult.toCompactByteArray
  }

  /** [[pruneFilesForKeys]] over a SEGMENTED manifest: segment summaries
    * prune on BOTH the range envelope and the segment's union Bloom, so a
    * point lookup under a hash-clustered layout (where every segment's
    * range spans everything) still parses ONLY the bloom-admitted
    * segments — then per-file range+bloom pruning inside those. Returns
    * (kept file names, segments read, segments total, files total); the
    * second element is the driver's actual parse cost. */
  def pruneFilesSegmentedForKeys(dir: String, v: Int, col: String,
      keys: Seq[Long]): (Seq[String], Int, Int, Long) = {
    def admit(e: FileEntry): Boolean = {
      val rangeOk = e.ranges.get(col).forall(r =>
        keys.exists(x => BigDecimal(x) >= r.min && BigDecimal(x) <= r.max))
      val bloomOk = e.blooms.get(col).forall(bf =>
        keys.exists(x => graft.functions.BloomSketch.contains(bf, x)))
      rangeOk && bloomOk
    }
    prunedSegmented(dir, v, admit)
  }

  /** Resolve a SEGMENTED snapshot's file entries while PARSING only the
    * segments an arbitrary admission predicate keeps — sound for any
    * predicate with superset semantics over the summary stats (summary
    * ranges are unions of their files' ranges, summary blooms OR-unions:
    * a summary the predicate rejects cannot contain an admissible file).
    * Returns None for flat manifests; otherwise (admitted file entries,
    * segments read, segments total, files total) — the driver's actual
    * metadata cost made visible. */
  def segmentedEntries(dir: String, v: Int, admit: FileEntry => Boolean)
      : Option[(Seq[FileEntry], Int, Int, Long)] = {
    val summaryLines = Snapshot.read(dir, v).segments
    if (summaryLines.isEmpty) return None
    val filesRe = "__files=(\\d+)".r
    val totalFiles = summaryLines
      .flatMap(l => filesRe.findFirstMatchIn(l).map(_.group(1).toLong)).sum
    val summaries = summaryLines.map(parseEntry)
    val admitted = summaries.filter(admit)
    val entries = admitted.flatMap(s =>
      Snapshot.readSegment(dir, s.name).map(parseEntry).filter(admit))
    Some((entries, admitted.size, summaries.size, totalFiles))
  }

  /** [[estimateNdv]] at SEGMENT granularity: union the per-segment HLL
    * blobs of the range-admitted segment summaries — driver cost
    * O(|segments|) with zero file-line parsing, the planner input a
    * millions-of-files snapshot can still answer instantly. Same
    * soundness contract: every admitted summary must carry the sketch. */
  def estimateNdvSegmented(dir: String, v: Int, col: String,
      lo: BigDecimal, hi: BigDecimal, numStdDev: Int = 2): (Double, Double) = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val summaries = Snapshot.read(dir, v).segments
    require(summaries.nonEmpty, s"v$v of $dir is not a segmented manifest")
    val admitted = summaries.map(parseEntry)
      .filter(_.ranges.get(col).forall(r => r.max >= lo && r.min <= hi))
    require(admitted.nonEmpty && admitted.forall(_.hlls.contains(col)),
      s"estimateNdvSegmented needs an HLL sketch for '$col' on every admitted segment")
    val u = new Union()
    admitted.foreach(e => u.update(HllSketch.heapify(e.hlls(col))))
    (u.getEstimate, u.getUpperBound(numStdDev))
  }

  /** [[pruneFiles]] over a SEGMENTED manifest, touching only admitted
    * segments: summaries prune whole segments by range; admitted segments'
    * lines then prune per-file as usual. Returns (kept file names,
    * segments read, segments total, files total) — the first two are the
    * driver's actual metadata cost, the proof the resolve is bounded. */
  def pruneFilesSegmented(dir: String, v: Int, col: String,
      lo: BigDecimal, hi: BigDecimal): (Seq[String], Int, Int, Long) =
    prunedSegmented(dir, v,
      _.ranges.get(col).forall(r => r.max >= lo && r.min <= hi))

  /** [[segmentedEntries]] reduced to the kept names, for a version that
    * must be segmented. */
  private def prunedSegmented(dir: String, v: Int,
      admit: FileEntry => Boolean): (Seq[String], Int, Int, Long) = {
    val resolved = segmentedEntries(dir, v, admit)
    require(resolved.isDefined, s"v$v of $dir is not a segmented manifest")
    val (kept, segsRead, segsTotal, totalFiles) = resolved.get
    (kept.map(_.name), segsRead, segsTotal, totalFiles)
  }

  /** Data files of version `v` (relative names under `data/`, or absolute
    * paths for files referenced from a SOURCE table by [[cloneTable]]). */
  def listFiles(dir: String, v: Int): Seq[String] =
    listLines(dir, v).map(_.split('\t').head)

  /** Resolve a manifest file name to its on-disk location: relative names
    * live under this table's `data/`; absolute names (shallow clones)
    * point into their source table and are used as-is. */
  def dataPath(dir: String, name: String): String =
    if (name.startsWith("/")) name else s"$dir/data/$name"

  /** Snapshot read: resolve the current manifest once, scan only its files. */
  def read(s: SparkSession, dir: String): DataFrame =
    readVersion(s, dir, currentVersion(dir))

  /** Time travel: read the table AS OF committed version `v`. Free with
    * this layout — old manifests and the immutable files they list are
    * never touched by later commits, so every historical snapshot stays
    * exactly reconstructible until a (deliberate, out-of-band) vacuum. */
  def readVersion(s: SparkSession, dir: String, v: Int): DataFrame = {
    require(v >= 0 && Files.exists(manifestPath(dir, v)),
      s"no committed snapshot v$v in $dir")
    val snap = Snapshot.read(dir, v)
    // a zero-file snapshot (fresh CREATE TABLE, unconditional DELETE) is a
    // legal empty table: serve the declared schema if one was recorded
    if (snap.files.isEmpty)
      return snap.schema
        .map(j => s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType]))
        .getOrElse(s.emptyDataFrame)
    readReconciled(s, dir, snap, snap.names)
  }

  /** Atomically publish version `expected + 1` from raw manifest `lines`
    * (file lines, optionally with marker lines). True on success, false if
    * another writer won the race (caller re-reads and retries). */
  def commit(dir: String, lines: Seq[String], expected: Int): Boolean =
    publish(dir, Snapshot.decode(expected + 1, lines), expected)

  /** CAS-publish `snap` as version `expected + 1` (see [[AtomicPublish]]).
    * Every commit records its own instant as the `#ts` marker — TIMESTAMP
    * AS OF resolves from it, not from file mtimes, which a directory
    * copy/restore/backup silently rewrites. Stamped HERE, the one choke
    * point all commit kinds pass through, and never carried forward: each
    * version's marker is its own commit time. */
  private[sources] def publish(dir: String, snap: Snapshot,
      expected: Int): Boolean = {
    Files.createDirectories(Paths.get(dir, "data"))
    val stamped = snap.copy(version = expected + 1,
      ts = Some(System.currentTimeMillis()))
    AtomicPublish.create(manifestPath(dir, expected + 1),
      stamped.encode.getBytes("UTF-8"))
  }

  /** How many CAS losses the commit loop absorbs before it gives up. */
  private val MaxCommitAttempts = 10

  /** THE table commit loop. Reads the head snapshot, hands it to `next`
    * stamped with this commit's `kind` and flattened (a successor of a
    * segmented version is written flat), and publishes the result as the
    * next version; `None` from `next` is a no-op that returns the head
    * version. A lost CAS re-reads the new head and re-runs `next` — every
    * reconciliation (anti-join, stats prune, staging) therefore runs
    * against the snapshot it publishes onto — up to [[MaxCommitAttempts]]
    * times. `next` may override the kind (`base.copy(kind = …)`) when it
    * depends on the head. Returns the version the table is at afterwards.
    * Markers carry forward by construction: `base.copy(files = …)` keeps
    * every marker `next` does not touch. */
  def commit(dir: String, kind: Snapshot.Kind)(
      next: Snapshot => Option[Snapshot]): Int = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      val head = Snapshot.read(dir, currentVersion(dir))
      next(head.copy(kind = kind, segments = Nil)) match {
        case None => return head.version
        case Some(s) if publish(dir, s, head.version) => return head.version + 1
        case _ => attempt += 1 // lost the race; staged files stay orphans
      }
    }
    throw new IllegalStateException(
      s"commit to $dir lost $MaxCommitAttempts CAS races")
  }

  /** Stage `df` as immutable uniquely-named parquet files under `data/`
    * WITHOUT publishing them — they stay invisible orphans until a manifest
    * lists them. Returns the staged relative names. */
  def stage(s: SparkSession, dir: String, df: DataFrame): Seq[String] =
    stageIndexed(s, dir, df).map(_._1)

  private val PartIdxRe = """part-(\d+)""".r

  /** [[stage]] keeping each staged file's ORIGINAL writer-partition index
    * (parsed from Spark's `part-NNNNN-…` output name): for a
    * hash-repartitioned write this index IS the bucket id, the fact the
    * storage-partitioned-join scan needs per file. */
  def stageIndexed(s: SparkSession, dir: String,
      df: DataFrame): Seq[(String, Int)] = {
    val tmp = s"$dir/.stage-${java.util.UUID.randomUUID().toString.take(8)}"
    // always stage timestamps as INT64 micros: INT96 (Spark's legacy
    // parquet default) records NO column statistics, which would silently
    // disable range pruning and metadata extrema on every ts column —
    // the Iceberg/Delta spec mandates INT64 for the same reason. Parquet's
    // write support reads this from the SESSION conf only (a per-write
    // option cannot override it), so the staged plan runs through a
    // CLONED session carrying the override: the user's session conf is
    // never touched, concurrent staged writes to unrelated tables run
    // fully in parallel (the former JVM-wide set/restore lock serialized
    // them), and no concurrent non-staging write can ever observe the
    // override. The plan transplants via a uniquely-named temp view —
    // cloneSession copies the view registry, so the clone re-resolves the
    // exact same plan under its own conf.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    // The override only affects how TIMESTAMP columns are physically
    // encoded; a schema with no timestamp anywhere writes byte-identical
    // parquet under either conf value, so the clone + temp-view transplant
    // (session copy, view registration, re-analysis — all driver-side,
    // paid per staged commit) is skipped for it (guide §1.2: don't pay for
    // work whose output you provably don't need).
    def hasTs(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.TimestampType => true
      case _: org.apache.spark.sql.types.TimestampNTZType => true
      case st: org.apache.spark.sql.types.StructType => st.fields.exists(f => hasTs(f.dataType))
      case at: org.apache.spark.sql.types.ArrayType => hasTs(at.elementType)
      case mt: org.apache.spark.sql.types.MapType => hasTs(mt.keyType) || hasTs(mt.valueType)
      case _ => false
    }
    if (!df.schema.fields.exists(f => hasTs(f.dataType))) {
      df.write.mode("overwrite").parquet(tmp)
    } else {
      val owner = df.sparkSession
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val viewName = s"__graft_stage_${java.util.UUID.randomUUID()
        .toString.replace("-", "")}"
      df.createOrReplaceTempView(viewName)
      try {
        val writer = org.apache.spark.sql.graft.SessionClone(owner)
        writer.conf.set(tsKey, "TIMESTAMP_MICROS")
        writer.table(viewName).write.mode("overwrite").parquet(tmp)
      } finally owner.catalog.dropTempView(viewName)
    }
    Files.createDirectories(Paths.get(dir, "data"))
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val parts = listDir(Paths.get(tmp))
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    val named = parts.zipWithIndex.map { case (p, i) =>
      val orig = PartIdxRe.findFirstMatchIn(p.getFileName.toString)
        .map(_.group(1).toInt).getOrElse(i)
      val name = s"$uuid-part-$i.parquet"
      Files.move(p, Paths.get(dir, "data", name), StandardCopyOption.ATOMIC_MOVE)
      (name, orig)
    }
    // remove the now-empty staging dir (best effort)
    listDir(Paths.get(tmp)).foreach(Files.deleteIfExists(_))
    Files.deleteIfExists(Paths.get(tmp))
    named
  }

  /** Table HISTORY from metadata alone (the DESCRIBE HISTORY staple):
    * one row per committed version — its commit KIND (data / rewrite /
    * mutate, from the marker lines), file count, and exact row count when
    * every file recorded one (else null: unknowable is reported as
    * unknown, never guessed). Zero data I/O — the audit trail an operator
    * reads before a rollback or an incident writeup, served at metadata
    * cost. */
  def history(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cur = currentVersion(dir)
    require(cur >= 0, s"no committed snapshot in $dir")
    (0 to cur).map { v =>
      val snap = Snapshot.read(dir, v)
      val entries = snap.entries
      // POSITIONAL markers record exact doomed ordinals (round 14) and
      // KEYED markers their delete-time doomed-live counts (round 15),
      // so live = rows − doomed summed over still-listed targets — the
      // same arithmetic the COUNT(*) pushdown serves. A keyed marker
      // predating count recording makes the row count unknowable from
      // metadata (how many keys actually hit is a data question) —
      // report unknown, never a guess.
      val dvs = snap.dvs
      val rows =
        if (entries.isEmpty || entries.exists(_.rows.isEmpty)) None
        else if (dvs.isEmpty) Some(entries.flatMap(_.rows).sum)
        else {
          // a historical version's positions file may be over-budget or
          // damaged: history reports UNKNOWN for that version, it never
          // throws (the incident-writeup call must survive the incident)
          val names = entries.map(_.name).toSet
          scala.util.Try(doomedCountsByTarget(dir, dvs).map(m =>
            entries.flatMap(_.rows).sum -
              m.iterator.collect { case (t, n) if names(t) => n }.sum))
            .toOption.flatten
        }
      (v, snap.kind.label, entries.size.toLong, rows)
    }.toDF("version", "kind", "n_files", "n_rows")
  }

  /** RESTORE (rollback): republish historical version `v`'s manifest lines
    * as a NEW commit — the table's content returns to the old snapshot
    * while the history keeps moving forward (the bad commit stays in the
    * audit trail; nothing is rewritten or deleted, so restore is a
    * metadata-only operation regardless of table size). It publishes as a
    * `#mutate` commit: a restore CHANGES data relative to the current
    * snapshot in ways an append-only change feed cannot express ("rows
    * came back"), so consumers crossing it must re-bootstrap — the same
    * honesty contract as delete/update. Requires `v` to still be within
    * the vacuum horizon. */
  def restore(dir: String, v: Int): Int = {
    require(v >= 0 && Files.exists(manifestPath(dir, v)),
      s"no committed snapshot v$v in $dir (vacuumed?)")
    val old = Snapshot.read(dir, v).copy(kind = Snapshot.Mutate, segments = Nil)
    commit(dir, Snapshot.Mutate)(_ => Some(old))
  }

  /** SHALLOW CLONE — a zero-copy table copy: the clone's v0 manifest
    * references the SOURCE's data files by absolute path (stats lines
    * carry over verbatim, so data skipping works on the clone
    * immediately); no data moves at all. The clone then evolves
    * INDEPENDENTLY: merges append local files beside the references, and
    * any rewriting operation (delete, update, optimize) materializes the
    * affected rows locally — copy-on-write, exactly Delta's shallow-clone
    * semantics. This is how a 100 TB table becomes a dev/test sandbox in
    * milliseconds. The documented hazard is also Delta's: vacuuming the
    * SOURCE can collect files a clone still references — clones live
    * inside the source's retention horizon. */
  def cloneTable(srcDir: String, dstDir: String): Int = {
    val src = Snapshot.current(srcDir)
    require(src.version >= 0, s"no committed snapshot to clone in $srcDir")
    def abs(n: String) = Paths.get(dataPath(srcDir, n)).toAbsolutePath.toString
    val lines = src.files.map { l =>
      val parts = l.split('\t')
      (abs(parts.head) +: parts.tail).mkString("\t")
    }
    // deletion vectors clone too: DV file, targets, and recorded
    // doomed-live counts re-point into the source by absolute path,
    // same as the data references
    val dvs = src.dvs.map(e => DvEntry(abs(e.file), e.col,
      e.targets.map(abs), e.counts.map { case (t, n) => abs(t) -> n }))
    require(publish(dstDir, src.copy(kind = Snapshot.Append, files = lines,
        dvs = dvs, segments = Nil), -1),
      s"clone target $dstDir is not empty")
    // register the clone AT THE SOURCE (unique marker file — no write
    // race) so the source's vacuum knows external readers reference its
    // data files; see [[vacuum]]'s clone horizon
    val reg = Paths.get(srcDir, "clones")
    Files.createDirectories(reg)
    Files.write(
      reg.resolve(s"clone-${java.util.UUID.randomUUID().toString.take(12)}.txt"),
      Paths.get(dstDir).toAbsolutePath.toString.getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW)
    0
  }

  // ---------------------------------------------------------------------
  // WRITABLE BRANCH REFS — write-audit-publish generalized to MULTI-COMMIT
  // candidate lines (the Iceberg branch workflow): a branch is a shallow
  // clone under the table's own `.branch/<name>/`, so EVERY existing
  // surface — inserts, row-level DML, streaming, time travel — works on it
  // unchanged while main never sees a byte. Publishing FAST-FORWARDS main
  // to the branch head in one CAS'd commit: branch-local data files move
  // into the table's `data/` (metadata + rename cost, no data copy) and
  // the clone's absolute references fold back to relative names. A main
  // that advanced past the fork point refuses the publish explicitly —
  // the candidate line was audited against a snapshot that no longer
  // exists, so rebase or abandon, never guess.
  // ---------------------------------------------------------------------

  /** Table-relative directory of branch `name`. */
  def branchDir(dir: String, name: String): String = s"$dir/.branch/$name"

  private[sources] val BranchBaseProp = "graft.branch.base"

  private def validRefName(name: String): Boolean =
    name.nonEmpty && name.forall(ch => ch.isLetterOrDigit || ch == '_' ||
      ch == '-')

  /** Create branch `name` at the table's current version. Returns the
    * fork-point version the branch was cut at. */
  def createBranch(dir: String, name: String): Int = {
    require(validRefName(name),
      s"branch name must be alphanumeric/_/-, got '$name'")
    val base = currentVersion(dir)
    require(base >= 0, s"no committed snapshot to branch in $dir")
    val bd = branchDir(dir, name)
    require(currentVersion(bd) < 0, s"branch '$name' already exists on $dir")
    cloneTable(dir, bd)
    alterAtomic(bd, Seq(AlterOp.SetProp(BranchBaseProp, base.toString)))
    base
  }

  /** The publish-window file machinery [[fastForward]] and [[mergeBranch]]
    * share: FOLD main-absolute references back to relative names, LINK
    * branch-local files into main's data dir (copy on filesystems without
    * hard links), and guarantee the failure-path unlink becomes a no-op
    * the instant the publish CAS lands — main's manifest then references
    * the linked files, and deleting them would corrupt a committed
    * snapshot. Pre-CAS links are vacuumable orphans; the branch keeps its
    * own references until the best-effort retire, so a crash anywhere in
    * the window leaves both sides intact. */
  private final class BranchPublish(dir: String, bd: String) {
    private val mainData = Paths.get(dir, "data").toAbsolutePath.toString
    private val linked = scala.collection.mutable.Buffer[Path]()
    @volatile var published = false
    def fold(n: String): String =
      if (n.startsWith(mainData + "/")) n.stripPrefix(mainData + "/") else n
    def linkLocal(n: String): Unit = if (!n.startsWith("/")) {
      val src = Paths.get(bd, "data", n)
      val dst = Paths.get(dir, "data", n)
      Files.createDirectories(dst.getParent)
      if (!Files.exists(dst)) {
        try Files.createLink(dst, src)
        catch { case _: UnsupportedOperationException => Files.copy(src, dst) }
        linked += dst
      }
    }
    def unlink(): Unit = if (!published) linked.reverse.foreach { p =>
      try Files.deleteIfExists(p)
      catch { case _: Exception => () } // best effort; files stay orphans
    }
  }

  /** Publish branch `name`: fast-forward main to the branch head in one
    * CAS'd commit, then retire the branch. Refuses when main advanced
    * past the fork point with DATA or MUTATE commits (diverged);
    * content-preserving REWRITE commits (compaction) on main do not
    * block — the branch was audited against the same content.
    * Deletion-vector and rename markers PUBLISH with the branch (round
    * 15 — write-audit-publish composes with row-level DML): marker
    * key/positions files link into main like any branch-local data
    * file, targets and recorded counts fold with the same rule as the
    * data lines, positions `_file` basenames are move-invariant, and
    * rename markers carry name pairs (no paths) verbatim. Returns the
    * new main version. */
  def fastForward(dir: String, name: String): Int = {
    val bd = branchDir(dir, name)
    val branch = Snapshot.current(bd)
    require(branch.version >= 0, s"no branch '$name' on $dir")
    val base = branch.properties.get(BranchBaseProp)
      .flatMap(_.toIntOption).getOrElse(throw new IllegalStateException(
        s"$bd carries no fork-point property — not a branch"))
    def refuseDiverged(): Nothing = throw new IllegalStateException(
      s"fast-forward of branch '$name' refused: $dir advanced past its " +
        s"fork point v$base — re-cut the branch (or abandon it); a " +
        "publish must never overwrite commits it was not audited against")
    // a main that only REWROTE since the fork (compaction, clustering —
    // content-preserving by the commit taxonomy) does not block the
    // publish: the branch was audited against the same CONTENT, and the
    // publish replaces the file list wholesale anyway (main's compaction
    // work is discarded, never its data). Any data/mutate commit refuses.
    def onlyRewritesSince(head: Int): Boolean = (base + 1 to head).forall(v =>
      Files.exists(manifestPath(dir, v)) &&
        Snapshot.read(dir, v).kind == Snapshot.Rewrite)
    val headNow = Snapshot.current(dir)
    val pub = new BranchPublish(dir, bd)
    def foldDv(e: DvEntry): DvEntry = DvEntry(pub.fold(e.file), e.col,
      e.targets.map(pub.fold),
      e.counts.map { case (t, c) => pub.fold(t) -> c })
    if (headNow.version != base) {
      // CRASHED-RETIRE RE-RUN: the publish replaced main's file list
      // wholesale, so if main's head IS the branch head (positive
      // signal: the branch's unique LOCAL names are on main) the prior
      // run already published — retire and return instead of refusing
      // against our own commit
      val bLocal = branch.names.filterNot(_.startsWith("/")).toSet
      val appliedAlready = bLocal.nonEmpty &&
        branch.names.map(pub.fold).toSet == headNow.names.toSet &&
        headNow.dvs.map(encodeDv).toSet ==
          branch.dvs.map(e => encodeDv(foldDv(e))).toSet
      if (appliedAlready) {
        try dropBranch(dir, name) catch { case _: Exception => () }
        return headNow.version
      }
      if (!onlyRewritesSince(headNow.version)) refuseDiverged()
      require(headNow.dvs.isEmpty && headNow.renames.isEmpty,
        s"fast-forward of '$name' refused: markers appeared on $dir " +
          "since the fork — compact first")
    }
    // branch-local files LINK (copy on filesystems without hard links)
    // into main — the branch keeps its own reference until dropBranch, so
    // a crash anywhere in the publish window leaves BOTH sides intact;
    // the old move-based publish stranded the branch (its manifest
    // referenced files no longer in its data dir) with no repair path.
    // One fold for every name the publish carries: a reference back into
    // main's own data dir becomes the relative name, a branch-LOCAL file
    // links into main's data dir under its unique name, anything else
    // stays an absolute reference (see [[BranchPublish]]).
    import pub.{fold, linkLocal, unlink}
    try {
      val lines = branch.files.map { l =>
        val parts = l.split('\t')
        val n = parts.head
        linkLocal(n)
        (fold(n) +: parts.tail).mkString("\t")
      }
      // DELETION-VECTOR markers publish with the branch (round 15 —
      // WAP composes with row-level DML): the staged key/positions
      // parquet links like any branch-local file, and the marker's
      // targets + recorded counts fold exactly as the data lines do, so
      // they keep matching manifest names on main. Positions `_file`
      // values are basenames (invariant under the move) and keyed
      // parquets hold values, never paths — nothing inside a marker
      // file needs rewriting. RENAME markers carry name pairs, no
      // paths: verbatim.
      val dvFolded = branch.dvs.map { e =>
        linkLocal(e.file)
        foldDv(e)
      }
      // the branch's evolved metadata (schema changes, properties, tags)
      // publishes with it — minus its private fork-point marker. It
      // publishes as a MUTATE commit: relative to main's head the branch
      // may remove or rewrite rows, which an append-only feed cannot
      // express — incremental consumers re-bootstrap, the honest default
      val ffHead = branch.withoutProp(BranchBaseProp).copy(
        kind = Snapshot.Mutate, files = lines, dvs = dvFolded, segments = Nil)
      val committed = commit(dir, Snapshot.Mutate) { head =>
        // re-validate under the loop: only rewrite commits may land
        // between the pre-check and the CAS
        if (head.version != base && (!onlyRewritesSince(head.version) ||
            head.dvs.nonEmpty || head.renames.nonEmpty)) refuseDiverged()
        Some(ffHead)
      }
      // past this point the publish is COMMITTED: main's manifest now
      // references the linked files, so no failure (including a
      // dropBranch I/O error — the retire step is best-effort; a
      // leftover branch is benign, re-droppable) may ever unlink them
      pub.published = true
      try dropBranch(dir, name) catch { case _: Exception => () }
      committed
    } catch { case e: Throwable => unlink(); throw e }
  }

  /** THREE-WAY BRANCH MERGE (round 16) — the step past [[fastForward]]'s
    * diverged-main refusal: fold a branch into a main that ADVANCED past
    * the fork point, provided the two sides touched DISJOINT files. The
    * merged snapshot is main's head with the branch's file-level delta
    * replayed onto it:
    *
    *   merged = mainHead − branchRemoved + branchAdded (+ branch's new
    *            deletion-vector markers)
    *
    * Conflict rule (the delta committer's rebase reasoning applied
    * across whole branches): the branch's TOUCHED fork files —
    * removed/rewritten by DML or compaction, or newly DV-targeted — must
    * be disjoint from main's touched fork files since the fork. Additions
    * can never conflict (names are unique). ROW-LEVEL EXCEPTION (round
    * 17): a fork file both sides touched ONLY via new deletion-vector
    * markers (neither removed nor rewrote it) merges anyway when the two
    * marker sets doom provably disjoint rows — [[dvRowsDisjointOn]] —
    * both sides' markers then publish together and recorded counts stay
    * additive. Anything else refuses with the sorted conflict list,
    * never guesses: overlapping or unprovable row edits mean one side's
    * work would be silently discarded.
    *
    * Metadata merges one-sided only: if the branch changed carried
    * metadata (schema/properties/policies) or rename markers since the
    * fork, main must not have; whichever side changed wins. Inherited DV
    * markers must survive on the branch verbatim (a branch-side
    * consolidation would double-apply against main's copies — publish
    * those via [[fastForward]] or re-cut instead).
    *
    * 100 TB shape: pure metadata + hard links of branch-local files, no
    * data copy, no scan — cost ∝ branch delta, not table size. Publishes
    * as one CAS'd MUTATE commit (re-validating conflicts under the CAS
    * loop); the branch retires only after the commit lands, so a crash
    * anywhere leaves both sides intact. Returns the new main version. */
  /** ROW-LEVEL MERGE RECONCILIATION (round 17) — whether the two sides'
    * NEW deletion-vector markers on fork file `f` doom PROVABLY DISJOINT
    * row sets. Sound because `f` is the same immutable base copy on both
    * sides (the caller verified neither side removed or rewrote it):
    * positional markers index identical physical ordinals, so disjoint
    * roaring bitmaps mean disjoint rows; keyed markers on ONE shared key
    * column cannot doom a common row when their key sets are disjoint (a
    * row carries one key value). Mixed marker kinds, different key
    * columns, or different physical key encodings are incomparable
    * without scanning `f` itself — those stay irreconcilable and the
    * caller keeps the honest refusal. Cost ∝ marker sizes (bounded by
    * `graft.dv.maxKeys`/`maxBytes` and LRU-cached), never ∝ table size. */
  private def dvRowsDisjointOn(dir: String, f: String,
      bNew: Seq[DvEntry], mNew: Seq[DvEntry]): Boolean = {
    if (bNew.isEmpty || mNew.isEmpty) return true
    val all = bNew ++ mNew
    if (all.forall(_.col == DvKeyCache.PosCol)) {
      val base = DvKeyCache.baseName(f)
      def bits(ms: Seq[DvEntry]): org.roaringbitmap.RoaringBitmap = {
        val acc = new org.roaringbitmap.RoaringBitmap()
        // or() copies — the cached bitmaps are shared state, never mutated
        ms.foreach(m => acc.or(
          DvKeyCache.doomedPositions(dataPath(dir, m.file), base)))
        acc
      }
      !org.roaringbitmap.RoaringBitmap.intersects(bits(bNew), bits(mNew))
    } else {
      val cols = all.map(_.col).distinct
      if (cols.sizeIs != 1 || cols.head == DvKeyCache.PosCol) return false
      val col = cols.head
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      val types = all.map { m =>
        val mt = ManifestStreamSource.footerSchema(dataPath(dir, m.file))
        (0 until mt.getFieldCount)
          .find(i => mt.getFieldName(i) == col && mt.getType(i).isPrimitive)
          .map(i => mt.getType(i).asPrimitiveType().getPrimitiveTypeName)
      }
      if (types.exists(_.isEmpty)) return false
      val tset = types.flatten.distinct
      if (tset.forall(t => t == INT64 || t == INT32)) {
        val bArrs = bNew.map(m => DvKeyCache.doomed(dataPath(dir, m.file), col))
        val mArrs = mNew.map(m => DvKeyCache.doomed(dataPath(dir, m.file), col))
        val (small, large) =
          if (bArrs.iterator.map(_.length).sum <=
              mArrs.iterator.map(_.length).sum) (bArrs, mArrs)
          else (mArrs, bArrs)
        !small.exists(_.exists(k =>
          large.exists(a => DvKeyCache.contains(a, k))))
      } else if (tset == Seq(BINARY)) {
        val bArrs =
          bNew.map(m => DvKeyCache.doomedBytes(dataPath(dir, m.file), col))
        val mArrs =
          mNew.map(m => DvKeyCache.doomedBytes(dataPath(dir, m.file), col))
        val (small, large) =
          if (bArrs.iterator.map(_.length).sum <=
              mArrs.iterator.map(_.length).sum) (bArrs, mArrs)
          else (mArrs, bArrs)
        !small.exists(_.exists(k =>
          large.exists(a => DvKeyCache.containsBytes(a, k))))
      } else false // mixed physical key encodings — incomparable
    }
  }

  def mergeBranch(dir: String, name: String): Int = {
    val bd = branchDir(dir, name)
    val branchHead = Snapshot.current(bd)
    require(branchHead.version >= 0, s"no branch '$name' on $dir")
    val base = branchHead.properties.get(BranchBaseProp)
      .flatMap(_.toIntOption).getOrElse(throw new IllegalStateException(
        s"$bd carries no fork-point property — not a branch"))
    require(Files.exists(manifestPath(dir, base)),
      s"merge of branch '$name' refused: fork snapshot v$base of $dir " +
        "was expired — re-cut the branch")
    val pub = new BranchPublish(dir, bd)
    import pub.{fold, linkLocal, unlink}
    def nameOf(l: String): String = l.split('\t').head

    // the branch's file-level delta vs the fork snapshot, names folded
    // back to main-relative
    val fork = Snapshot.read(dir, base)
    val branch = branchHead.withoutProp(BranchBaseProp)
    val baseNames = fork.names.toSet
    val bLines = branch.files.map { l =>
      val p = l.split('\t'); (fold(p.head) +: p.tail).mkString("\t")
    }
    val bNames = bLines.map(nameOf).toSet
    val branchAdded = bLines.filterNot(l => baseNames.contains(nameOf(l)))
    val branchRemoved = baseNames -- bNames
    val baseDvEnc = fork.dvs.map(encodeDv).toSet
    val bDvFolded = branch.dvs.map(e => DvEntry(fold(e.file), e.col,
      e.targets.map(fold), e.counts.map { case (t, c) => fold(t) -> c }))
    val bDvEnc = bDvFolded.map(encodeDv).toSet
    // an inherited marker may only vanish WITH its targets (a branch COW
    // rewrite materialized the doomed rows away — the removal then goes
    // through the file-conflict rule); a marker rewrite that leaves its
    // targets in place (consolidation) would double-apply against main's
    // surviving copies after the merge, so it refuses
    require(fork.dvs.forall(e => bDvEnc.contains(encodeDv(e)) ||
        !e.targets.exists(bNames.contains)),
      s"merge of branch '$name' refused: the branch rewrote inherited " +
        "deletion-vector markers (consolidation?) — merging would " +
        "double-apply them against main's copies; fastforward or re-cut")
    val branchNewDvs = bDvFolded.filterNot(e => baseDvEnc.contains(encodeDv(e)))
    val branchTouched = branchRemoved ++
      branchNewDvs.flatMap(_.targets).filter(baseNames.contains)
    // metadata compares EXCLUDE streaming #epoch high-waters: an epoch
    // watermark landing on either side is a sink progress marker, not a
    // metadata edit (counting it would spuriously block every merge into
    // a streaming-fed table); epochs merge per-queryId by MAX instead.
    def meta(s: Snapshot) = (s.policies.toSet, s.props.toSet, s.schema)
    val branchMetaChanged = meta(branch) != meta(fork)
    val branchRenChanged = branch.renames.toSet != fork.renames.toSet

    try {
      branchAdded.map(nameOf).foreach(linkLocal)
      branchNewDvs.map(_.file).foreach(linkLocal)
      val committed = commit(dir, Snapshot.Mutate) { main =>
        // main's delta since the fork, re-read under the CAS loop
        val mainNames = main.names.toSet
        val mainDvEnc = main.dvs.map(encodeDv).toSet
        // IDEMPOTENT RE-RUN: after a crashed/failed retire the branch is
        // still listed but its whole delta already sits on main (our own
        // prior publish) — retire and return the head instead of refusing
        // on a "conflict" with our own commit or appending lines twice.
        // The POSITIVE signal is required: branch-added files / markers
        // carry unique names, so their presence on main proves OUR
        // atomic publish landed (and with it the whole delta). Negative
        // conditions alone (removals absent) are ambiguous — main may
        // have removed the same files INDEPENDENTLY (compaction, its own
        // DML), and a removal-only delta must keep falling through to
        // the conflict refusal, never silently retire.
        val positiveSignal =
          (branchAdded.nonEmpty || branchNewDvs.nonEmpty) &&
          branchAdded.forall(l => mainNames.contains(nameOf(l))) &&
          branchNewDvs.forall(e => mainDvEnc.contains(encodeDv(e)))
        // metadata/rename-ONLY deltas have no removal ambiguity (nothing
        // to confuse with main's independent removals), and an identical
        // end state on main makes the retire harmless even if main set
        // the same values independently — so they count as applied too
        val sameEnd =
          (!branchMetaChanged || meta(main) == meta(branch)) &&
          (!branchRenChanged || main.renames.toSet == branch.renames.toSet)
        val metaOnlyApplied =
          branchAdded.isEmpty && branchNewDvs.isEmpty &&
          branchRemoved.isEmpty &&
          (branchMetaChanged || branchRenChanged) && sameEnd
        val alreadyApplied = metaOnlyApplied || (positiveSignal &&
          branchRemoved.forall(n => !mainNames.contains(n)) && sameEnd)
        if (alreadyApplied) {
          pub.published = true // any linked files belong to main already
          None
        } else {
          val mainNewDvs =
            main.dvs.filterNot(e => baseDvEnc.contains(encodeDv(e)))
          val mainTouched = (baseNames -- mainNames) ++
            mainNewDvs.flatMap(_.targets).filter(baseNames.contains)
          val conflicts = branchTouched intersect mainTouched
          // ROW-LEVEL RECONCILIATION (round 17): a fork file BOTH sides
          // touched is still mergeable when neither side removed or
          // rewrote it (each side's touch is marker-only — concurrent MOR
          // DML on overlapping files) and the two sides' new markers doom
          // provably DISJOINT rows of the same immutable copy
          // ([[dvRowsDisjointOn]]). Both markers then publish together:
          // the read path already applies every marker of a file's group,
          // and recorded doomed-live counts stay additive exactly because
          // no row is doomed twice. A true row overlap — or anything
          // unprovable (a marker read failure, mixed kinds) — keeps the
          // refusal, never guesses.
          val irreconcilable = conflicts.filterNot { f =>
            bNames.contains(f) && mainNames.contains(f) &&
              (try dvRowsDisjointOn(dir, f,
                  branchNewDvs.filter(_.targets.contains(f)),
                  mainNewDvs.filter(_.targets.contains(f)))
               catch { case scala.util.control.NonFatal(_) => false })
          }
          if (irreconcilable.nonEmpty)
            throw new IllegalStateException(
              s"merge of branch '$name' refused: both sides touched " +
                s"${irreconcilable.toSeq.sorted.mkString("[", ", ", "]")} " +
                s"since fork v$base and the row edits cannot be proven " +
                "disjoint — one side's rows would be silently discarded; " +
                "re-cut the branch and replay")
          if ((branchMetaChanged || branchRenChanged) &&
              (meta(main) != meta(fork) ||
                main.renames.toSet != fork.renames.toSet))
            throw new IllegalStateException(
              s"merge of branch '$name' refused: both sides changed table " +
                s"metadata since fork v$base — re-cut the branch")
          // sink high-waters merge by per-queryId MAX (monotone — a
          // replayed epoch below either side's marker still no-ops after
          // the merge)
          val mergedEpochs = (main.epochs.toMap.toSeq ++ branch.epochs.toMap.toSeq)
            .groupMapReduce(_._1)(_._2)(math.max).toSeq.sortBy(_._1)
          val metaSide = if (branchMetaChanged) branch else main
          val mergedLines = main.files.filterNot(l =>
            branchRemoved.contains(nameOf(l))) ++ branchAdded
          // markers whose targets left the snapshot are moot — struck
          // (their doomed rows were materialized away by whichever side
          // removed the target)
          Some(main.copy(files = mergedLines, dvs = main.dvs ++ branchNewDvs,
            renames = if (branchRenChanged) branch.renames else main.renames,
            policies = metaSide.policies, props = metaSide.props,
            schema = metaSide.schema, epochs = mergedEpochs).strikeDvTargets)
        }
      }
      pub.published = true
      // the retire step is best-effort: the publish is committed, a
      // leftover branch is benign and re-droppable
      try dropBranch(dir, name) catch { case _: Exception => () }
      committed
    } catch { case e: Throwable => unlink(); throw e }
  }

  /** Abandon (or retire after publish) branch `name`: remove its
    * directory and its clone registration at the source. */
  def dropBranch(dir: String, name: String): Unit = {
    val bd = Paths.get(branchDir(dir, name)).toAbsolutePath.toString
    destroy(bd)
    val reg = Paths.get(dir, "clones")
    if (Files.isDirectory(reg))
      listDir(reg).filter(p =>
          new String(Files.readAllBytes(p), "UTF-8").trim == bd)
        .foreach(Files.deleteIfExists(_))
    // prune the now-empty .branch dir (best effort)
    val broot = Paths.get(dir, ".branch")
    if (Files.isDirectory(broot) && !listDir(broot).exists(_ => true))
      Files.deleteIfExists(broot)
  }

  /** Names of live branches of this table. */
  def branches(dir: String): Seq[String] = {
    val broot = Paths.get(dir, ".branch")
    if (!Files.isDirectory(broot)) Seq.empty
    else listDir(broot).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).sorted
  }

  /** Directories of LIVE registered clones of this table (registration
    * marker present and the clone directory still exists). Non-empty means
    * external manifests reference this table's data files by absolute
    * path — the set vacuum's clone horizon protects, and the reason
    * RENAME TABLE refuses (a moved directory would dangle every one). */
  def liveClones(dir: String): Seq[String] = {
    val reg = Paths.get(dir, "clones")
    if (!Files.isDirectory(reg)) return Seq.empty
    listDir(reg).flatMap { p =>
      val cloneDir = new String(Files.readAllBytes(p), "UTF-8").trim
      if (Files.isDirectory(Paths.get(cloneDir))) Some(cloneDir) else None
    }
  }

  /** Data-file names under THIS table's `data/` that a registered clone
    * still references (any of the clone's retained manifest versions — a
    * clone can time-travel, so every version counts). Clone directories
    * that no longer exist are stale registrations and contribute nothing. */
  private def cloneReferencedFiles(dir: String): Set[String] = {
    val reg = Paths.get(dir, "clones")
    if (!Files.isDirectory(reg)) return Set.empty
    val dataPrefix = Paths.get(dir, "data").toAbsolutePath.toString + "/"
    listDir(reg).iterator.flatMap { p =>
      val cloneDir = new String(Files.readAllBytes(p), "UTF-8").trim
      if (!Files.isDirectory(Paths.get(cloneDir))) Iterator.empty
      else (0 to currentVersion(cloneDir)).iterator
        .filter(v => Files.exists(manifestPath(cloneDir, v)))
        .map(Snapshot.read(cloneDir, _))
        .flatMap(snap => snap.names ++
          // the clone's DV markers re-point into the source too: both the
          // doomed-key parquet AND its target files must survive a source
          // vacuum, or the clone's merge-on-read scan dangles
          snap.dvs.flatMap(e => e.file +: e.targets.toSeq))
        .collect { case f if f.startsWith(dataPrefix) =>
          f.stripPrefix(dataPrefix) }
    }.toSet
  }

  /** Retention vacuum — the deliberate, out-of-band cleanup the write path
    * never does: retain the last `keepVersions` manifests, delete older
    * manifests plus every data file no retained manifest references (which
    * also collects orphans from crashed or race-losing writers). Deletion
    * order is safe for concurrent readers of RETAINED versions: their
    * manifest's files are all kept. Readers of vacuumed-away versions fail
    * the explicit `readVersion` require, not with dangling file errors
    * mid-scan — the same contract Delta/Iceberg document for vacuum
    * horizons.
    *
    * CLONE horizon: a shallow clone's manifests reference this table's
    * data files by absolute path, so vacuuming the SOURCE could collect
    * files a clone still serves. Clones register themselves under
    * `clones/` at clone time; unless `force` is set, vacuum keeps every
    * data file any live registered clone references (stale registrations —
    * clone dir gone — contribute nothing). `force = true` restores the
    * old behavior and knowingly breaks external clones.
    *
    * Segmented manifests: segment files under `meta/` referenced by a
    * retained version are kept; segments only reachable from vacuumed
    * manifests (or orphaned by lost commit races) are collected too.
    * Returns (#manifests, #data files) removed. */
  def vacuum(dir: String, keepVersions: Int = 2,
      force: Boolean = false): (Int, Int) = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"no committed snapshot in $dir")
    val keepFrom = math.max(0, cur - keepVersions + 1)
    sweep(dir, retained = keepFrom to cur, dropped = 0 until keepFrom, force)
  }

  /** Delete manifests `dropped`, then every data file and segment that no
    * `retained` version — and, unless `force`, no live registered clone —
    * references. Returns (#manifests, #data files) removed. */
  private def sweep(dir: String, retained: Seq[Int], dropped: Seq[Int],
      force: Boolean): (Int, Int) = {
    val cloneKeep = if (force) Set.empty[String] else cloneReferencedFiles(dir)
    val kept = retained.map(Snapshot.read(dir, _))
    val keepFiles =
      kept.flatMap(s => s.names ++ s.dvs.map(_.file)).toSet ++ cloneKeep
    val keepSegs = kept.flatMap(_.segments.map(_.split('\t').head)).toSet
    val droppedManifests =
      dropped.count(v => Files.deleteIfExists(manifestPath(dir, v)))
    val dataDir = Paths.get(dir, "data")
    val droppedFiles =
      if (!Files.isDirectory(dataDir)) 0
      else listDir(dataDir)
        .filter(p => !keepFiles.contains(p.getFileName.toString))
        .count(Files.deleteIfExists(_))
    val metaDir = Paths.get(dir, "meta")
    if (Files.isDirectory(metaDir))
      listDir(metaDir)
        .filter(p => !keepSegs.contains(p.getFileName.toString))
        .foreach(Files.deleteIfExists(_))
    (droppedManifests, droppedFiles.toInt)
  }

  /** TAG-AWARE SNAPSHOT EXPIRY — vacuum by AGE instead of count: drop
    * manifests whose commit instant (`#ts`) is older than
    * `olderThanMillis`, EXCEPT (a) the most recent `keepLast` versions,
    * (b) any version a `graft.tag.<name>` property names — a pinned
    * dataset stays time-travelable no matter how old — and (c) legacy
    * manifests carrying no `#ts` (age unknowable: keep, never guess).
    * Data files and segment manifests referenced by NO retained version
    * (and no live clone) drop with them. Retention can leave HOLES: a
    * tagged v7 survives while v5/v6 expire — time travel to an expired
    * version fails explicitly, the tagged one keeps working. Returns
    * (droppedManifests, droppedFiles). */
  def expireSnapshots(dir: String, olderThanMillis: Long,
      keepLast: Int = 1, force: Boolean = false): (Int, Int) = {
    val cur = currentVersion(dir)
    require(cur >= 0, s"no committed snapshot in $dir")
    require(keepLast >= 1, "expireSnapshots must keep at least the head")
    val tagged: Set[Int] = tableProperties(dir, cur).collect {
      case (k, value) if k.startsWith("graft.tag.") &&
          value.nonEmpty && value.forall(_.isDigit) => value.toInt
    }.toSet
    val present = (0 to cur).filter(v => Files.exists(manifestPath(dir, v)))
    val (dropped, retained) = present.partition { v =>
      v <= cur - keepLast && !tagged(v) &&
        Snapshot.read(dir, v).ts.exists(_ < olderThanMillis)
    }
    sweep(dir, retained, dropped, force)
  }

  /** Incremental change read (CDC-style consumption): the rows ADDED between
    * committed versions `fromV` (exclusive) and `toV` (inclusive).
    *
    * Because commits are append-only file lists, the delta IS the set
    * difference of the two manifests — the reader scans ONLY the files new
    * in (fromV, toV], never diffing snapshot contents. This is what makes a
    * downstream incremental consumer (the `q_incremental_agg` refresh, a
    * streaming backfill, a replication tail) affordable at 100 TB: each
    * poll costs O(new data), while an EXCEPT of two snapshots would scan
    * the full table twice. Compaction commits rewrite the whole list, so a
    * range crossing one intentionally degrades to the rewritten files —
    * the same re-bootstrap contract Delta's CDC reader documents. */
  /** Relative names of the files carrying NEW DATA in `(fromV, toV]`: a
    * per-version walk that SKIPS rewrite commits (their file-list changes
    * are layout, not data) and accumulates each data commit's additions.
    * Files replaced by a later rewrite are still readable — rewrites never
    * delete — so a consumer lagging across an OPTIMIZE reads the original
    * commit files, exactly once, with no re-bootstrap. */
  def changedFileNames(dir: String, fromV: Int, toV: Int): Seq[String] = {
    require(fromV <= toV, s"changedFileNames: fromV $fromV > toV $toV")
    val snaps = (math.max(fromV, -1) + 1 to toV).map(Snapshot.read(dir, _))
    snaps.find(_.kind == Snapshot.Mutate).foreach { m =>
      throw new IllegalStateException(
        s"change range ($fromV, $toV] crosses row-level mutation commit " +
          s"v${m.version}; an append-only change feed cannot express it — " +
          "re-bootstrap the consumer")
    }
    snaps.filterNot(_.kind == Snapshot.Rewrite).flatMap { snap =>
      val v = snap.version
      val before = if (v == 0) Set.empty[String] else listFiles(dir, v - 1).toSet
      snap.names.filterNot(before)
    }
  }

  def readChanges(s: SparkSession, dir: String, fromV: Int, toV: Int): DataFrame = {
    require(Files.exists(manifestPath(dir, toV)), s"no committed snapshot v$toV in $dir")
    val added = changedFileNames(dir, fromV, toV)
    if (added.isEmpty) s.emptyDataFrame
    else s.read.parquet(added.map(dataPath(dir, _)): _*)
  }

  /** OPTIMIZE — transactional compaction: rewrite the CURRENT snapshot into
    * `numFiles` larger files and CAS-commit a manifest listing ONLY the
    * rewritten files. Content-invariant by construction (the new files hold
    * exactly the rows of the old snapshot), and transactional: concurrent
    * readers keep their resolved manifest (the replaced files are never
    * touched — they remain on disk serving every pre-compaction version for
    * time travel until a deliberate vacuum), and a concurrent writer winning
    * the CAS aborts this attempt, which re-reads and recompacts the NEW
    * snapshot — compaction can never silently drop a racing commit's rows.
    * This is the small-files remedy for a table grown by many streaming /
    * merge micro-commits: metadata and open-file cost scale with |files|,
    * and at 100 TB an uncompacted table of per-batch files makes every scan
    * pay thousands of file opens for row groups that should be contiguous.
    * Returns the new committed version. */
  def compact(s: SparkSession, dir: String, numFiles: Int = 1): Int =
    commit(dir, Snapshot.Rewrite) { base =>
      require(base.version >= 0, s"no committed snapshot to compact in $dir")
      val staged = stage(s, dir,
        readVersion(s, dir, base.version).repartition(numFiles))
      // DV/rename markers materialize into the rewrite; POLICIES do not —
      // they govern reads forever and must survive compaction
      Some(base.copy(files = staged, dvs = Nil, renames = Nil))
    }

  // ---------------------------------------------------------------------
  // File-level min/max statistics + data skipping (the Delta/Iceberg scan
  // story): harvest per-file column ranges from the parquet FOOTERS the
  // files already carry (stats the writer computed for free), record them
  // in the manifest line (`name\tcol=T:min:max;...`), and answer selective
  // queries by pruning the FILE LIST before any scan task launches. At
  // 100 TB this is the difference between "open every file to discover its
  // row groups don't match" and a metadata-only decision on the driver:
  // pruning cost is O(|files|) manifest entries, zero I/O to data. Files
  // with no recorded stats for the predicate column are never pruned
  // (missing metadata degrades to a scan, never to a wrong answer).
  // ---------------------------------------------------------------------

  /** Per-file column range harvested from footers. Values kept as exact
    * decimal strings with a type tag (`L`ong / `D`ouble) — BigDecimal
    * compare on the prune path, no float round-trip surprises. */
  final case class ColRange(tag: Char, min: BigDecimal, max: BigDecimal)

  /** Encode recorded ranges as the manifest-line stats suffix (the
    * writer-side counterpart of [[parseEntry]]). */
  private def encodeStats(stats: Map[String, ColRange]): String =
    stats.toSeq.sortBy(_._1).map { case (c, r) =>
      s"$c=${r.tag}:${r.min}:${r.max}"
    }.mkString(";")

  /** One manifest entry: file name, min/max ranges, per-column Bloom
    * "indexes" (serialized [[graft.functions.BloomSketch]] bit arrays) for
    * point-lookup skipping, the file's exact row count (`None` for files
    * staged without stats), per-column Datasketches HLL register blobs
    * (`hlls`) for mergeable distinct-count estimation, and per-column
    * STRING bounds (`strRanges`: truncated UTF-8 byte envelopes, compared
    * unsigned-lexicographically — the Iceberg truncate(16) idea) so
    * `WHERE flag = 'R'` prunes files exactly like a numeric predicate. */
  final case class FileEntry(name: String, ranges: Map[String, ColRange],
      blooms: Map[String, Array[Byte]], rows: Option[Long],
      hlls: Map[String, Array[Byte]] = Map.empty,
      strRanges: Map[String, (Array[Byte], Array[Byte])] = Map.empty,
      bytes: Option[Long] = None, bucket: Option[Int] = None,
      nulls: Map[String, Long] = Map.empty,
      sums: Map[String, BigDecimal] = Map.empty)

  /** Parse one manifest line → full [[FileEntry]]. Unknown stat encodings
    * are ignored (forward compatible: an older reader sees the file as
    * stats-less and simply never prunes it). */
  def parseEntry(line: String): FileEntry = {
    val parts = line.split('\t')
    val kvs = parts.drop(1).filter(_.nonEmpty).flatMap(_.split(';')).flatMap { kv =>
      val i = kv.indexOf('=')
      if (i <= 0) None else Some((kv.substring(0, i), kv.substring(i + 1)))
    }
    val ranges = kvs.flatMap { case (c, v) =>
      v.split(':') match {
        case Array(t, lo, hi) if t == "L" || t == "D" =>
          Some(c -> ColRange(t.head, BigDecimal(lo), BigDecimal(hi)))
        case _ => None
      }
    }.toMap
    val blooms = kvs.flatMap { case (c, v) =>
      if (v.startsWith("B:")) Some(c -> hexDecode(v.substring(2))) else None
    }.toMap
    val hlls = kvs.flatMap { case (c, v) =>
      if (v.startsWith("H:")) Some(c -> hexDecode(v.substring(2))) else None
    }.toMap
    val strs = kvs.flatMap { case (c, v) =>
      if (!v.startsWith("S:")) None
      else v.substring(2).split(":", -1) match {
        case Array(lo, hi) => Some(c -> (hexDecode(lo), hexDecode(hi)))
        case _ => None
      }
    }.toMap
    val nulls = kvs.flatMap { case (c, v) =>
      if (v.startsWith("N:") && v.length > 2 && v.substring(2).forall(_.isDigit))
        Some(c -> v.substring(2).toLong)
      else None
    }.toMap
    val sums = kvs.flatMap { case (c, v) =>
      if (!v.startsWith("Z:")) None
      else scala.util.Try(BigDecimal(v.substring(2))).toOption.map(c -> _)
    }.toMap
    val rows = kvs.collectFirst { case ("__rows", v) if v.forall(_.isDigit) => v.toLong }
    val bytes = kvs.collectFirst { case ("__bytes", v) if v.forall(_.isDigit) => v.toLong }
    val bucket = kvs.collectFirst { case ("__bucket", v) if v.forall(_.isDigit) => v.toInt }
    FileEntry(parts.head, ranges, blooms, rows, hlls, strs, bytes, bucket,
      nulls, sums)
  }

  /** Parse one manifest line → (file name, recorded column ranges). */
  def parseLine(line: String): (String, Map[String, ColRange]) = {
    val e = parseEntry(line)
    (e.name, e.ranges)
  }

  private[sources] def hexEncode(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private def hexDecode(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Footer-harvested min/max for `cols` from one staged parquet file's
    * row groups, omitting each column whose chunk statistics are absent
    * (that column is then unprunable for this file — the safe
    * degradation). Runs on the committing writer, O(footer) per NEW file
    * only — the same moment Delta writes stats into its log. */
  private def statsFromBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String]): Map[String, ColRange] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    {
      cols.flatMap { c =>
        // one (min,max) per row group; the file range is their envelope —
        // every row group must carry usable stats or the column is skipped
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
            val st = cc.getStatistics
            // DECIMAL stats scale the raw unscaled extrema back to values,
            // so a money-column predicate prunes exactly like a double one
            val decScale = cc.getPrimitiveType.getLogicalTypeAnnotation match {
              case d: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                Some(d.getScale)
              case _ => None
            }
            if (st == null || st.isEmpty || !st.hasNonNullValue) None
            else (cc.getPrimitiveType.getPrimitiveTypeName, st.genericGetMin, st.genericGetMax) match {
              case (INT64, lo: java.lang.Long, hi: java.lang.Long) =>
                Some(decScale match {
                  case Some(sc) => ColRange('D',
                    BigDecimal(BigInt(lo.longValue), sc),
                    BigDecimal(BigInt(hi.longValue), sc))
                  case None =>
                    ColRange('L', BigDecimal(lo.longValue), BigDecimal(hi.longValue))
                })
              case (INT32, lo: java.lang.Integer, hi: java.lang.Integer) =>
                Some(decScale match {
                  case Some(sc) => ColRange('D',
                    BigDecimal(BigInt(lo.intValue), sc),
                    BigDecimal(BigInt(hi.intValue), sc))
                  case None =>
                    ColRange('L', BigDecimal(lo.intValue), BigDecimal(hi.intValue))
                })
              case (DOUBLE, lo: java.lang.Double, hi: java.lang.Double) =>
                Some(ColRange('D', BigDecimal(lo.doubleValue), BigDecimal(hi.doubleValue)))
              case (FLOAT, lo: java.lang.Float, hi: java.lang.Float) =>
                Some(ColRange('D', BigDecimal(lo.floatValue.toDouble), BigDecimal(hi.floatValue.toDouble)))
              case (FIXED_LEN_BYTE_ARRAY | BINARY,
                  lo: org.apache.parquet.io.api.Binary,
                  hi: org.apache.parquet.io.api.Binary) if decScale.isDefined =>
                val sc = decScale.get
                Some(ColRange('D',
                  BigDecimal(BigInt(new java.math.BigInteger(lo.getBytes)), sc),
                  BigDecimal(BigInt(new java.math.BigInteger(hi.getBytes)), sc)))
              case _ => None
            }
          }
        }
        if (blocks.isEmpty || perBlock.exists(_.isEmpty)) None
        else {
          val rs = perBlock.map(_.get)
          Some(c -> ColRange(rs.head.tag, rs.map(_.min).min, rs.map(_.max).max))
        }
      }.toMap
    }
  }

  // ---------------------------------------------------------------------
  // STRING file statistics: parquet footers carry BINARY/UTF8 min/max too
  // (ordered by unsigned byte comparison), so string predicates — the
  // zone/borough/flag columns every real warehouse filters on — can prune
  // files exactly like numeric ones. Values are TRUNCATED to a bounded
  // prefix before they enter the manifest (a free-text column must not
  // bloat O(|files|) metadata): the min truncates to a prefix (a prefix is
  // ≤ the full value — still a valid lower bound), the max truncates and
  // INCREMENTS its last byte (strictly above anything sharing the prefix —
  // still a valid upper bound); a max of all-0xFF bytes cannot be bumped
  // and declines the stat. Bounds admit SUPERSETS, so truncation can only
  // reduce pruning, never correctness.
  // ---------------------------------------------------------------------

  private val StrStatMaxBytes = 32

  private[sources] def truncMinBytes(b: Array[Byte]): Array[Byte] =
    b.take(StrStatMaxBytes)

  /** The smallest byte string strictly greater than EVERY string with
    * prefix `b`: increment the last non-0xFF byte, drop the tail (None
    * when every byte is 0xFF — no finite upper bound exists). */
  private[sources] def bumpBytes(b: Array[Byte]): Option[Array[Byte]] = {
    var i = b.length - 1
    while (i >= 0 && b(i) == -1) i -= 1 // walk past 0xFF tails
    if (i < 0) None
    else Some(b.take(i + 1).updated(i, (b(i) + 1).toByte))
  }

  private[sources] def truncMaxBytes(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StrStatMaxBytes) Some(b)
    else bumpBytes(b.take(StrStatMaxBytes))

  /** Footer-harvested truncated UTF-8 min/max for STRING columns of one
    * staged parquet file's row groups (columns whose statistics are
    * absent, non-string, or unbumpable are simply missing — unprunable,
    * the safe default). */
  private def strStatsFromBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String]): Map[String, (Array[Byte], Array[Byte])] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
    {
      cols.flatMap { c =>
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
            val st = cc.getStatistics
            val isStr = cc.getPrimitiveType.getPrimitiveTypeName == BINARY &&
              cc.getPrimitiveType.getLogicalTypeAnnotation
                .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            if (!isStr || st == null || st.isEmpty || !st.hasNonNullValue) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (lo: org.apache.parquet.io.api.Binary,
                    hi: org.apache.parquet.io.api.Binary) =>
                Some((lo.getBytes, hi.getBytes))
              case _ => None
            }
          }
        }
        if (blocks.isEmpty || perBlock.exists(_.isEmpty)) None
        else {
          val rs = perBlock.map(_.get)
          val lo = rs.map(_._1).min(byteOrdering)
          val hi = rs.map(_._2).max(byteOrdering)
          truncMaxBytes(hi).map(h => c -> (truncMinBytes(lo), h))
        }
      }.toMap
    }
  }

  /** Unsigned-lexicographic byte ordering — the order parquet's UTF8
    * statistics are computed in, and the order every prune compares in. */
  private[sources] val byteOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  /** [[pruneFiles]]' STRING leg — metadata-only pruning for an equality
    * predicate on a string column: (files that may hold `value`, total). */
  def pruneFilesStr(dir: String, v: Int, col: String,
      value: String): (Seq[String], Int) = {
    val x = value.getBytes("UTF-8")
    val entries = listLines(dir, v).map(parseEntry)
    val kept = entries.collect {
      case e if e.strRanges.get(col).forall { case (lo, hi) =>
        java.util.Arrays.compareUnsigned(lo, x) <= 0 &&
          java.util.Arrays.compareUnsigned(x, hi) <= 0
      } => e.name
    }
    (kept, entries.size)
  }

  /** Open `file`'s parquet footer ONCE and hand its row-group metadata to
    * `f` — the shared footer read every harvest leg below goes through.
    * The stats/string-stats/null-counts/row-count legs used to each open
    * the footer themselves (3-4 opens + parses per staged file per
    * commit); one open serves them all (guide §1.2 driver-side waste). */
  private def withFooterBlocks[T](file: Path)(
      f: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] => T): T = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString),
      new org.apache.hadoop.conf.Configuration())
    val r = ParquetFileReader.open(in)
    try f(r.getFooter.getBlocks.asScala.toSeq) finally r.close()
  }

  /** Exact row count of one parquet file, from its footer alone. */
  def footerRowCount(file: Path): Long =
    withFooterBlocks(file)(_.map(_.getRowCount).sum)

  /** [[stage]] + footer-stats harvest: returns manifest LINES carrying each
    * new file's min/max for `statsCols` (numeric ranges for numeric/decimal
    * columns, truncated byte envelopes for string columns — whichever the
    * footer says the column is) plus its exact row count, ready for
    * [[commit]]. */
  def stageWithStats(s: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], recordBucket: Boolean = false): Seq[String] = {
    val staged = stageIndexed(s, dir, df).map { case (name, orig) =>
      (name, orig, footerHarvest(Paths.get(dir, "data", name), statsCols))
    }
    // Spark's file writer emits a schema-only parquet file for every
    // EMPTY task partition; publishing those would pollute the manifest
    // with zero-row files forever (each costs a footer open per scan
    // plan, and small appends inflate the file count). Drop them at
    // staging. When EVERY file is empty, one survives as the snapshot's
    // schema anchor ONLY if the table has no declared schema to read it
    // from (an API table's first-ever append); a catalog table's
    // `INSERT … WHERE false` publishes nothing at all.
    val live = staged.filter(_._3._1 > 0)
    val declared = Snapshot.current(dir).schema.isDefined
    val kept =
      if (live.nonEmpty) live
      else if (declared) Seq.empty
      else staged.take(1)
    (staged diff kept).foreach { case (n, _, _) =>
      Files.deleteIfExists(Paths.get(dir, "data", n)) }
    kept.map { case (name, orig, (rowCount, st, ss, nn)) =>
      val p = Paths.get(dir, "data", name)
      val bucketKv = if (recordBucket) s";__bucket=$orig" else ""
      val rows = s"__rows=$rowCount;__bytes=${Files.size(p)}$bucketKv"
      val statKv = Seq(
        if (st.isEmpty) "" else encodeStats(st),
        if (ss.isEmpty) "" else encodeStrStats(ss),
        if (nn.isEmpty) "" else encodeNullStats(nn)
      ).filter(_.nonEmpty).mkString(";")
      if (statKv.isEmpty) s"$name\t$rows" else s"$name\t$statKv\t$rows"
    }
  }

  /** Encode string envelopes as the `c=S:<hexmin>:<hexmax>` stats suffix. */
  private def encodeStrStats(ss: Map[String, (Array[Byte], Array[Byte])]): String =
    ss.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      s"$c=S:${hexEncode(lo)}:${hexEncode(hi)}"
    }.mkString(";")

  /** Encode null counts as the `c=N:<count>` stats suffix. */
  private def encodeNullStats(ns: Map[String, Long]): String =
    ns.toSeq.sortBy(_._1).map { case (c, n) => s"$c=N:$n" }.mkString(";")

  /** Footer-harvested NULL COUNTS for `cols`: the per-row-group
    * `num_nulls` statistic summed across blocks. A column is omitted when
    * any row group does not record it — the safe degradation (COUNT(col)
    * stays scan-served, the CBO null estimate stays absent). With them,
    * `SELECT count(col)` is exact from metadata: rows − nulls. */
  private def nullsFromBlocks(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String]): Map[String, Long] =
    cols.flatMap { c =>
      val per = blocks.map(_.getColumns.asScala
        .find(_.getPath.toDotString == c).flatMap { cc =>
          val st = cc.getStatistics
          if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
            Some(st.getNumNulls)
          else None
        })
      if (per.exists(_.isEmpty)) None else Some(c -> per.flatten.sum)
    }.toMap

  /** Every footer-derived harvest of one staged file — row count, numeric
    * ranges, string envelopes (for stats columns the numeric leg declined),
    * null counts — from ONE footer open instead of four. */
  private def footerHarvest(file: Path, statsCols: Seq[String])
      : (Long, Map[String, ColRange],
         Map[String, (Array[Byte], Array[Byte])], Map[String, Long]) =
    withFooterBlocks(file) { blocks =>
      val rows = blocks.map(_.getRowCount).sum
      if (statsCols.isEmpty)
        (rows, Map.empty, Map.empty, Map.empty)
      else {
        val st = statsFromBlocks(blocks, statsCols)
        (rows, st,
          strStatsFromBlocks(blocks, statsCols.filterNot(st.contains)),
          nullsFromBlocks(blocks, statsCols))
      }
    }

  /** One ready-to-commit manifest line for an already-staged file: harvest
    * numeric + string footer stats for `statsCols` and carry the known row
    * count — the line builder every replacement-file commit (row-level
    * DML, compaction) shares with [[stageWithStats]]. */
  def statLineFor(dir: String, name: String, rows: Long,
      statsCols: Seq[String], bucket: Option[Int] = None): String = {
    val p = Paths.get(dir, "data", name)
    val (_, st, ss, nn) = footerHarvest(p, statsCols)
    val statKv = Seq(
      if (st.isEmpty) "" else encodeStats(st),
      if (ss.isEmpty) "" else encodeStrStats(ss),
      if (nn.isEmpty) "" else encodeNullStats(nn)
    ).filter(_.nonEmpty).mkString(";")
    val bucketKv = bucket.map(b => s";__bucket=$b").getOrElse("")
    val rowsKv = s"__rows=$rows;__bytes=${Files.size(p)}$bucketKv"
    if (statKv.isEmpty) s"$name\t$rowsKv" else s"$name\t$statKv\t$rowsKv"
  }

  /** Metadata-only aggregate: exact COUNT(*)/MIN/MAX over the CURRENT
    * snapshot computed from the manifest's recorded row counts and column
    * ranges — zero data I/O, zero tasks. Valid because every mutation path
    * that writes stats re-harvests them (merge-with-stats, delete, update,
    * optimize), so the recorded envelope is always exact for the snapshot
    * it describes. Requires every file to carry a row count and a range
    * for `col` — a stats-less file makes the answer unknowable from
    * metadata and this throws rather than guessing (degrade EXPLICITLY,
    * never wrongly). At 100 TB this is the `SELECT count(*), min(k),
    * max(k)` a warehouse answers in milliseconds from its catalog while a
    * naive engine launches a full scan. */
  def metadataAgg(dir: String, col: String): (Long, BigDecimal, BigDecimal) = {
    val v = currentVersion(dir)
    require(v >= 0, s"no committed snapshot in $dir")
    val snap = Snapshot.read(dir, v)
    require(snap.dvs.isEmpty,
      "metadata aggregate is unknowable under deletion vectors — compact first")
    val es = snap.entries
    require(es.nonEmpty && es.forall(e => e.rows.isDefined && e.ranges.contains(col)),
      s"metadata aggregate needs a row count and a '$col' range on every file")
    (es.flatMap(_.rows).sum,
      es.map(_.ranges(col).min).min, es.map(_.ranges(col).max).max)
  }

  /** [[stageWithStats]] + per-file Bloom indexes over `bloomCols` (integral
    * key columns): after staging, ONE distributed pass groups the staged
    * rows by source file and folds each file's keys into a fixed-size
    * `bloom_build` sketch — |files| small sketches return to the driver
    * (bounded by FILE count, never by row count) and land hex-encoded on
    * the manifest line. This covers the lookup min/max cannot: under a
    * hash-clustered layout every file spans the full key RANGE but holds
    * only its own key SET, so a needle-in-haystack `key = x` query prunes
    * to the one file whose bloom admits x (plus bounded-probability false
    * positives, which the residual filter absorbs — never a wrong answer).
    * In a real writer the task computes the sketch in-line with the write;
    * here the one extra pass over the just-staged batch stands in. */
  def stageWithIndexes(s: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String],
      numBits: Int = 1 << 16, k: Int = 6,
      recordBucket: Boolean = false,
      ndvCols: Seq[String] = Nil,
      sumCols: Seq[String] = Nil): Seq[String] = {
    import org.apache.spark.sql.functions.{col => c, hll_sketch_agg,
      input_file_name, substring_index, sum}
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType,
      LongType, ShortType}
    val lines = stageWithStats(s, dir, df, statsCols, recordBucket)
    // per-file EXACT SUMS (`graft.write.sum`): integral and decimal
    // columns only — they sum exactly in decimal(38); float/double sums
    // are order-dependent, so a metadata-served answer could differ from
    // a scan's and the leg declines them at harvest
    val summable = sumCols.filter(sc => df.schema.fields
      .find(_.name == sc).map(_.dataType).exists {
        case LongType | IntegerType | ShortType | ByteType => true
        case _: DecimalType => true
        case _ => false
      })
    if (bloomCols.isEmpty && ndvCols.isEmpty && summable.isEmpty) return lines
    val names = lines.map(_.split('\t').head)
    def scaleOf(sc: String): Int = df.schema.fields.find(_.name == sc)
      .map(_.dataType).collect { case d: DecimalType => d.scale }.getOrElse(0)
    // ONE grouped pass over the just-staged batch builds every sketch:
    // blooms, HLL NDV registers, and exact decimal sums per (file, column)
    val aggs = bloomCols.map(bc =>
      graft.functions.BloomOps.bloomBuild(c(bc).cast("long"), numBits, k)
        .as(s"bf_$bc")) ++
      ndvCols.map(nc => hll_sketch_agg(c(nc)).as(s"sk_$nc")) ++
      summable.map(sc => sum(c(sc).cast(DecimalType(38, scaleOf(sc))))
        .as(s"sum_$sc"))
    val sketches = s.read.parquet(names.map(f => s"$dir/data/$f"): _*)
      .groupBy(substring_index(input_file_name(), "/", -1).as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per staged FILE — bounded by construction
      .map(r => r.getString(0) -> (
        bloomCols.map(bc => bc -> r.getAs[Array[Byte]](s"bf_$bc")).toMap,
        ndvCols.map(nc => nc -> r.getAs[Array[Byte]](s"sk_$nc")).toMap,
        summable.flatMap(sc => Option(r.getAs[java.math.BigDecimal](s"sum_$sc"))
          .map(x => sc -> BigDecimal(x))).toMap))
      .toMap
    lines.map { line =>
      val name = line.split('\t').head
      sketches.get(name) match {
        case Some((bms, hls, sms)) =>
          val enc = Seq(
            bms.toSeq.sortBy(_._1)
              .map { case (bc, b) => s"$bc=B:${hexEncode(b)}" }.mkString(";"),
            hls.toSeq.sortBy(_._1)
              .map { case (nc, b) => s"$nc=H:${hexEncode(b)}" }.mkString(";"),
            sms.toSeq.sortBy(_._1)
              .map { case (sc, x) => s"$sc=Z:${x.bigDecimal.toPlainString}" }
              .mkString(";")
          ).filter(_.nonEmpty).map("\t" + _).mkString
          s"$line$enc"
        case None => line
      }
    }
  }

  /** Metadata-only NDV estimate for `col` over `entries` by unioning
    * their stored HLL register blobs; None unless EVERY entry carries
    * one (a sketch-less file makes the union meaningless — decline,
    * never guess). */
  def ndvFromEntries(entries: Seq[FileEntry], col: String): Option[Long] =
    if (entries.isEmpty || !entries.forall(_.hlls.contains(col))) None
    else {
      import org.apache.datasketches.hll.{HllSketch, Union}
      val u = new Union()
      entries.foreach(e => u.update(HllSketch.heapify(e.hlls(col))))
      Some(math.round(u.getEstimate))
    }

  /** [[stageWithStats]] + per-file MERGEABLE NDV sketches over `ndvCols`:
    * one distributed pass folds each staged file's column values into a
    * Datasketches HLL register blob (`hll_sketch_agg` — fixed ~KB state per
    * (file, column), |files| blobs back to the driver, bounded by FILE
    * count never row count), hex-encoded on the manifest line as `col=H:…`.
    * Unlike min/max or blooms, HLL registers UNION losslessly
    * (register-max is commutative/associative/duplicate-insensitive), so
    * the estimate for ANY file subset — a pruned scan, a whole snapshot, a
    * multi-snapshot union — comes from merging the stored blobs with zero
    * data I/O: exactly the per-file `null_count`/`ndv` stats Iceberg
    * carries in its manifests for cost-based planning. */
  def stageWithNdv(s: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], ndvCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col => c, input_file_name,
      substring_index, hll_sketch_agg}
    val lines = stageWithStats(s, dir, df, statsCols)
    if (ndvCols.isEmpty) return lines
    val aggs = ndvCols.map(nc => hll_sketch_agg(c(nc)).as(s"sk_$nc"))
    val sketches = s.read.parquet(lines.map(l =>
        dataPath(dir, l.split('\t').head)): _*)
      .groupBy(substring_index(input_file_name(), "/", -1).as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per staged FILE — bounded by construction
      .map(r => r.getString(0) ->
        ndvCols.map(nc => nc -> r.getAs[Array[Byte]](s"sk_$nc")).toMap)
      .toMap
    lines.map { line =>
      val name = line.split('\t').head
      sketches.get(name) match {
        case Some(m) =>
          val enc = m.toSeq.sortBy(_._1)
            .map { case (nc, b) => s"$nc=H:${hexEncode(b)}" }.mkString(";")
          s"$line\t$enc"
        case None => line
      }
    }
  }

  /** Distinct-count estimate for `col` over the files a `[lo, hi]` range
    * prune admits, by unioning their stored HLL register blobs — metadata
    * only, no scan. Returns `(estimate, upperBound)` at `numStdDev`
    * standard deviations; the upper bound covers the admitted FILES'
    * distinct count, which in turn bounds the distinct count of any
    * predicate-matching subset of their rows — a SOUND planner input.
    * Requires every admitted file to carry a `col` sketch (a stats-less
    * file makes the answer unknowable; throw rather than guess, the
    * [[metadataAgg]] contract). */
  def estimateNdv(dir: String, col: String, lo: BigDecimal, hi: BigDecimal,
      numStdDev: Int = 2): (Double, Double) = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val v = currentVersion(dir)
    require(v >= 0, s"no committed snapshot in $dir")
    val admitted = listLines(dir, v).map(parseEntry)
      .filter(_.ranges.get(col).forall(r => r.max >= lo && r.min <= hi))
    require(admitted.nonEmpty && admitted.forall(_.hlls.contains(col)),
      s"estimateNdv needs an HLL sketch for '$col' on every admitted file")
    val u = new Union()
    admitted.foreach(e => u.update(HllSketch.heapify(e.hlls(col))))
    (u.getEstimate, u.getUpperBound(numStdDev))
  }

  /** The cost-based decision [[estimateNdv]] exists to power: should the
    * distinct keys of `col` from the `[lo, hi]` slice be BROADCAST as a
    * join/semi-join build side, or is that side too big and the join must
    * shuffle? Row counts alone answer this wrongly in both directions — a
    * billion-row slice with 50k distinct keys broadcasts fine after a
    * dedup, while a narrow slice of a high-cardinality key does not. The
    * build size is `NDV upper bound × bytesPerKey`, compared against the
    * broadcast threshold (Spark's `autoBroadcastJoinThreshold` analog).
    * Returns `(advice, estimatedBuildBytes)` with zero data I/O. */
  def joinSideAdvice(dir: String, col: String, lo: BigDecimal, hi: BigDecimal,
      bytesPerKey: Long = 8L,
      thresholdBytes: Long = 10L << 20): (String, Long) = {
    val (_, upper) = estimateNdv(dir, col, lo, hi)
    val bytes = math.ceil(upper * bytesPerKey).toLong
    (if (bytes <= thresholdBytes) "broadcast" else "shuffle", bytes)
  }

  // ---------------------------------------------------------------------
  // Deletion vectors — MERGE-ON-READ deletes (the Delta DV / Iceberg v2
  // delete-file idea): instead of rewriting every file that holds a doomed
  // key (copy-on-write, [[deleteKeys]] — write cost ∝ affected data), a
  // delete stages ONE tiny parquet of the doomed keys and publishes a
  // `#dv` marker line naming it, its key column, and the data files it
  // TARGETS (the stats-admitted set). Readers anti-join targeted files
  // against the DV keys at scan time — write cost ∝ |deleted keys|, read
  // cost one small broadcast anti-join. Marker lines start with `#`, so
  // every DV-unaware code path (listFiles, pruning, optimize's size
  // partition, the copy detector of file lists) still sees exactly the
  // data files; DV-aware paths resolve them explicitly. Targeting by FILE
  // keeps re-inserts correct: a later merge of a deleted key lands in a
  // NEW file no DV targets. Rewrites MATERIALIZE: compact reads through
  // the DV-aware path and drops the markers; partial rewrites
  // (optimize/delete/update) apply DVs to what they rewrite and carry
  // forward markers intersected to the surviving targets. DV commits are
  // `#mutate` — the change feed refuses to cross them, same honesty
  // contract as copy-on-write deletes.
  // ---------------------------------------------------------------------

  /** One deletion vector: the staged key file, the key column, the data
    * files whose rows it dooms, and (round 15, KEYED markers) the exact
    * per-target DOOMED-LIVE count priced at delete time — how many
    * then-live rows of each target the key set actually hits. Counts are
    * ADDITIVE across markers (each statement's counting pass applies the
    * snapshot's existing markers first, so later markers never re-count
    * a dead row), which is what lets COUNT(*), table history, and the
    * LIMIT file-prefix stay metadata-served on keyed-MOR tables — the
    * tiers positional markers already kept (their bitmaps are exact by
    * construction, no recorded count needed). */
  final case class DvEntry(file: String, col: String, targets: Set[String],
      counts: Map[String, Long] = Map.empty) {
    /** Whether the marker prices EVERY target (a partially-counted
      * marker makes the whole table's live count unknowable). */
    def fullyCounted: Boolean =
      col == DvKeyCache.PosCol || targets.forall(counts.contains)
  }

  private[sources] def encodeDv(e: DvEntry): String = {
    val base = s"#dv\t${e.file}\t${e.col}\t${e.targets.toSeq.sorted.mkString(",")}"
    // the counts leg only encodes when it prices every target — a
    // partial map is as useless as none, so never persist one
    if (e.col != DvKeyCache.PosCol && e.counts.nonEmpty &&
        e.targets.forall(e.counts.contains))
      base + "\t" + e.targets.toSeq.sorted
        .map(t => s"$t=${e.counts(t)}").mkString(",")
    else base
  }

  def dvEntries(dir: String, v: Int): Seq[DvEntry] = Snapshot.read(dir, v).dvs

  /** Exact per-target doomed-live counts across EVERY marker of a
    * snapshot — positional bitmaps (exact by construction) plus keyed
    * markers' recorded delete-time counts — or None when any keyed
    * marker predates count recording: the metadata COUNT/history/LIMIT
    * tiers then decline, never guess. ONE definition shared by all
    * three. */
  def doomedCountsByTarget(dir: String, dvs: Seq[DvEntry])
      : Option[Map[String, Long]] = {
    val keyed = dvs.filterNot(_.col == DvKeyCache.PosCol)
    if (keyed.exists(m => !m.targets.forall(m.counts.contains))) None
    else Some(doomedCountsOfCounted(dir, dvs))
  }

  /** Per-target doomed counts from COUNTED markers only (keyed recorded
    * counts + positional bitmaps) — the one merge definition
    * [[doomedCountsByTarget]] gates behind its all-counted check and
    * [[priceDvs]] subtracts as the already-priced part. */
  private def doomedCountsOfCounted(dir: String,
      dvs: Seq[DvEntry]): Map[String, Long] = {
    val pos = DvKeyCache.doomedPosCounts(dir, dvs)
    val k = dvs.filter(m => m.col != DvKeyCache.PosCol && m.fullyCounted)
      .flatMap(_.counts.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    (pos.keySet ++ k.keySet).iterator
      .map(t => t -> (pos.getOrElse(t, 0L) + k.getOrElse(t, 0L))).toMap
  }

  /** Read data files `names` of version `v` with every applicable deletion
    * vector applied. Files are grouped by the exact DV set targeting them;
    * untargeted files scan clean, targeted groups anti-join against the
    * (broadcast, O(deleted keys)) DV key sets. Rename markers compose
    * (round 14): each group reconciles into the evolved view FIRST, then
    * anti-joins on the key column's evolved name — key values are
    * rename-invariant, so dooming on the evolved view is exact. */
  def readWithDvs(s: SparkSession, dir: String, v: Int,
      names: Seq[String]): DataFrame = {
    val snap = Snapshot.read(dir, v)
    applyDvs(s, dir, names, snap.dvs, snap.renames)
  }

  /** Read data files `names` of version `v` with the snapshot's row- and
    * name-generation state applied: rename markers reconcile old-name
    * columns into the evolved view, deletion vectors drop doomed rows —
    * composing freely since round 14. The engine-side read for partial
    * rewrites (filtered overwrite survivors). */
  def readFilesReconciled(s: SparkSession, dir: String, v: Int,
      names: Seq[String]): DataFrame =
    readReconciled(s, dir, Snapshot.read(dir, v), names)

  private def readReconciled(s: SparkSession, dir: String, snap: Snapshot,
      names: Seq[String]): DataFrame =
    if (snap.dvs.nonEmpty) applyDvs(s, dir, names, snap.dvs, snap.renames)
    else if (snap.renames.nonEmpty)
      applyRenames(s.read.option("mergeSchema", "true")
        .parquet(names.map(dataPath(dir, _)): _*), snap.renames)
    else s.read.parquet(names.map(dataPath(dir, _)): _*)

  /** Each column's FINAL name under version `v`'s rename chain (identity
    * when unrenamed) — what a rewrite that modernizes old-generation
    * rows should harvest stats under. */
  def finalNames(dir: String, v: Int): Map[String, String] =
    collapseRenames(Snapshot.read(dir, v).renames)

  /** Collapse a rename chain into from → final-name (every historical
    * name of a column maps to its evolved name). One definition, shared
    * by the stat path and the DV read path. */
  private def collapseRenames(rns: Seq[(String, String)])
      : Map[String, String] =
    rns.foldLeft(Map.empty[String, String]) {
      case (m, (from, to)) =>
        m.map { case (k, cur) => (k, if (cur == from) to else cur) } +
          (from -> to)
    }

  private def applyDvs(s: SparkSession, dir: String, names: Seq[String],
      dvs: Seq[DvEntry], rns: Seq[(String, String)] = Nil,
      tagCol: Option[String] = None): DataFrame = {
    // a marker's key column is recorded under its name AT DELETE TIME
    // (it always matches the staged key parquet's physical column);
    // under a subsequent rename the anti-join runs on the EVOLVED name —
    // sound because the marker keyed a then-live column, so only renames
    // AFTER the delete can touch its name and the full chain resolves it
    val fin = collapseRenames(rns)
    import org.apache.spark.sql.functions.{col, element_at, split}
    val groups = names.groupBy(n => dvs.filter(_.targets.contains(n)))
    groups.map { case (applicable, files) =>
      val raw0 =
        if (rns.isEmpty) s.read.parquet(files.map(dataPath(dir, _)): _*)
        else s.read.option("mergeSchema", "true")
          .parquet(files.map(dataPath(dir, _)): _*)
      // POSITIONAL markers (key column `_pos`, round 14) doom by row
      // ordinal: the hidden file-source metadata struct supplies each
      // row's (file name, row index) identity, anti-joined against the
      // staged positions — distributed, O(doomed rows) broadcast
      val hasPos = applicable.exists(_.col == "_pos")
      // optional caller-visible file identity (basename), e.g. for the
      // doomed-live counting pass — survives the final column drop
      val raw1 = tagCol.fold(raw0)(tc => raw0.withColumn(tc,
        element_at(split(col("_metadata.file_path"), "/"), -1)))
      val raw = if (!hasPos) raw1 else raw1
        .withColumn("__graft_dv_name",
          element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("__graft_dv_pos", col("_metadata.row_index"))
      val base = applyRenames(raw, rns)
      applicable.foldLeft(base) { (df, dv) =>
        if (dv.col == "_pos") {
          // broadcast the (basename → roaring bitmap) doom map — tiny
          // and bounded by graft.dv.maxBytes — and drop doomed rows
          // with an O(1) membership probe per row: no doomed-ordinal
          // materialization, no join, and the basename form matches
          // whatever the manifest calls the file (relative locally,
          // absolute on branch/clone references)
          val posPath = dataPath(dir, dv.file)
          val doomMap: Map[String, org.roaringbitmap.RoaringBitmap] =
            files.map(DvKeyCache.baseName)
              .map(b => b -> DvKeyCache.doomedPositions(posPath, b))
              .filter(!_._2.isEmpty).toMap
          if (doomMap.isEmpty) df
          else {
            val bc = s.sparkContext.broadcast(doomMap)
            val doomed = org.apache.spark.sql.functions.udf(
              (name: String, pos: Long) =>
                pos >= 0 && pos <= Int.MaxValue &&
                  bc.value.get(name).exists(_.contains(pos.toInt)))
            df.filter(!doomed(col("__graft_dv_name"),
              col("__graft_dv_pos")))
          }
        } else {
          val evolved = fin.getOrElse(dv.col, dv.col)
          val keys = s.read.parquet(dataPath(dir, dv.file))
            .select(col(dv.col).as(evolved))
          df.join(broadcast(keys), Seq(evolved), "left_anti")
        }
      }.drop("__graft_dv_name", "__graft_dv_pos")
    }.reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  private[sources] def parseDvLine(l: String): DvEntry = {
    val p = l.split('\t')
    DvEntry(p(1), p(2),
      if (p.length > 3) p(3).split(',').filter(_.nonEmpty).toSet else Set.empty,
      if (p.length > 4)
        p(4).split(',').filter(_.nonEmpty).map { kv =>
          val i = kv.lastIndexOf('=')
          kv.substring(0, i) -> kv.substring(i + 1).toLong
        }.toMap
      else Map.empty)
  }

  /** MERGE-ON-READ DELETE (`DELETE WHERE col IN keys`): stats pick the
    * files that can hold the keys (same range+bloom prune as the
    * copy-on-write [[deleteKeys]]); one tiny key parquet stages; a `#dv`
    * marker targeting exactly those files publishes under the ordinary
    * CAS as a `#mutate` commit. No data file is rewritten — time travel,
    * snapshot isolation, and vacuum semantics are unchanged, and
    * [[compact]] later materializes the delete physically. Returns the new
    * version (current if no file can hold any key). */
  /** The names a logical column has carried across version `v`'s rename
    * chain, evolved name first: stats of pre-rename files live under the
    * OLD names, so alias-aware pruning looks the column up under every
    * generation's name (each file records at most one of them). `col`
    * may be given under any generation; it normalizes to the evolved
    * name first. */
  private[sources] def aliasFamily(dir: String, v: Int,
      col: String): Seq[String] = aliasFamily(Snapshot.read(dir, v), col)

  private def aliasFamily(snap: Snapshot, col: String): Seq[String] = {
    val fin = collapseRenames(snap.renames)
    val evolved = fin.getOrElse(col, col)
    evolved +: fin.collect { case (from, to) if to == evolved => from }.toSeq
  }

  /** Per-target DOOMED-LIVE counts for a NEW keyed marker: of `names`'
    * rows still live under `base`'s existing markers and renames,
    * how many key cells land in `keyDf` (one column under the EVOLVED
    * key name) — ONE distributed pass over exactly the candidate files,
    * the price of keeping COUNT(*), table history, and the LIMIT
    * file-prefix metadata-served through keyed MOR DML (round 15).
    * Counting against the LIVE view makes counts additive across
    * markers: a later delete never re-counts a row an earlier marker
    * already doomed. O(candidate files) driver rows come back — the
    * same bounded shape as the per-staged-file stats rows. */
  private def doomedLiveCounts(s: SparkSession, dir: String, base: Snapshot,
      names: Seq[String], col: String,
      keyDf: DataFrame): Map[String, Long] = {
    val tag = "__graft_src_file"
    val byBase = names.map(n => DvKeyCache.baseName(n) -> n).toMap
    applyDvs(s, dir, names, base.dvs, base.renames, tagCol = Some(tag))
      .select(col, tag)
      .join(broadcast(keyDf), Seq(col))
      .groupBy(tag).count()
      .collect()
      .map(r => byBase(r.getString(0)) -> r.getLong(1)).toMap
  }

  def deleteKeysMOR(s: SparkSession, dir: String, col: String,
      keys: Seq[Long]): Int = {
    import s.implicits._
    morDelete(s, dir, col, keys) { (family, e) =>
      family.flatMap(e.ranges.get).headOption.forall(r =>
        keys.exists(x => BigDecimal(x) >= r.min && BigDecimal(x) <= r.max)) &&
      family.flatMap(e.blooms.get).headOption.forall(bf =>
        keys.exists(x => graft.functions.BloomSketch.contains(bf, x)))
    }
  }

  /** [[deleteKeysMOR]] for a STRING key column — the GDPR delete
    * (`user_id IN ('…')`): candidate files prune on the truncated UTF-8
    * byte envelopes string stats record (`strRanges` — a prefix-truncated
    * lower bound and a last-byte-bumped upper bound, so full-key
    * containment tests stay sound), the doomed keys stage as one BINARY
    * parquet, and readers binary-search sorted raw byte arrays exactly
    * like integral keys. Stats-less files are conservatively targeted. */
  def deleteStrKeysMOR(s: SparkSession, dir: String, col: String,
      keys: Seq[String]): Int = {
    import s.implicits._
    val keyBytes = keys.map(_.getBytes("UTF-8"))
    morDelete(s, dir, col, keys) { (family, e) =>
      family.flatMap(e.strRanges.get).headOption.forall { case (lo, hi) =>
        keyBytes.exists(x =>
          java.util.Arrays.compareUnsigned(lo, x) <= 0 &&
            java.util.Arrays.compareUnsigned(x, hi) <= 0)
      }
    }
  }

  /** The MOR delete both key types share: `holds` admits the files that
    * can hold a key (given the key column's alias family — rename markers
    * compose since round 14: pre-rename files record their stats under
    * OLD names), the keys stage as one parquet under the EVOLVED name —
    * what the marker records and readers resolve per file generation —
    * and one `#dv` marker targeting the admitted files publishes as a
    * `#mutate` commit. A no-op when no file can hold any key. */
  private def morDelete[K: org.apache.spark.sql.Encoder](s: SparkSession,
      dir: String, col: String, keys: Seq[K])(
      holds: (Seq[String], FileEntry) => Boolean): Int =
    commit(dir, Snapshot.Mutate) { base =>
      require(base.version >= 0, s"no committed snapshot to delete from in $dir")
      val family = aliasFamily(base, col)
      val evolved = family.head
      val affected = base.entries.filter(holds(family, _))
      if (affected.isEmpty) None
      else {
        // the staged key write and the doomed-live counting pass are
        // independent actions — overlap them (guide §2.6)
        val dvFileF = {
          implicit val ec: scala.concurrent.ExecutionContext = overlapEc
          scala.concurrent.Future(
            stage(s, dir, s.createDataset(keys).toDF(evolved).coalesce(1)))
        }
        // price the marker: exact doomed-live hits per candidate file, so
        // the metadata COUNT/history/LIMIT tiers stay armed (round 15)
        val hits = doomedLiveCounts(s, dir, base, affected.map(_.name),
          evolved, s.createDataset(keys.distinct).toDF(evolved))
        val dvFile = scala.concurrent.Await.result(dvFileF,
          scala.concurrent.duration.Duration.Inf)
        require(dvFile.size == 1)
        Some(base.copy(dvs = base.dvs :+ DvEntry(dvFile.head, evolved,
          affected.map(_.name).toSet,
          affected.map(e => e.name -> hits.getOrElse(e.name, 0L)).toMap)))
      }
    }

  /** RETRO-PRICE uncounted keyed markers (round 15): tables whose `#dv`
    * markers predate delete-time count recording decline the metadata
    * COUNT(*)/history/LIMIT tiers forever — this maintenance op buys
    * them back without compaction. One pass over the targeted files
    * (all markers applied) measures each target's CURRENT live count;
    * the per-target doom remainder (recorded rows − live − already-
    * counted dooms) rides on the FIRST uncounted marker targeting it
    * and the rest carry explicit zeros — consumers only ever SUM counts
    * across markers, so the attribution is free and the totals exact.
    * Publishes as a content-preserving `#rewrite`. Refuses when a
    * targeted file lacks a recorded row count (partial pricing would
    * leave the tiers declined anyway) or the arithmetic goes negative
    * (a damaged marker — refuse, never guess). Returns the new version
    * (current when every marker is already counted). */
  def priceDvs(s: SparkSession, dir: String): Int =
    commit(dir, Snapshot.Rewrite) { base =>
      require(base.version >= 0, s"no committed snapshot to price in $dir")
      val dvs = base.dvs
      val uncounted = dvs.filterNot(_.fullyCounted)
      if (uncounted.isEmpty) None // nothing to price: no-op
      else {
        val entries = base.entries
        val listed = entries.iterator.map(_.name).toSet
        val rowsOf = entries.flatMap(e => e.rows.map(e.name -> _)).toMap
        val targets = uncounted.flatMap(_.targets).distinct.filter(listed)
        targets.foreach(t => require(rowsOf.contains(t),
          s"price_dvs: $t lacks a recorded row count — cannot price"))
        // one tagged pass, ALL markers applied → current live per target
        // (every still-listed target gone stale from the manifest would
        // leave nothing to measure — all markers then price to zeros)
        val tag = "__graft_src_file"
        val byBase = targets.map(t => DvKeyCache.baseName(t) -> t).toMap
        val live =
          if (targets.isEmpty) Map.empty[String, Long]
          else applyDvs(s, dir, targets, dvs, base.renames,
              tagCol = Some(tag))
            .groupBy(col(tag)).count().collect()
            .map(r => byBase(r.getString(0)) -> r.getLong(1)).toMap
        val counted = doomedCountsOfCounted(dir, dvs)
        val remainder = targets.map { t =>
          val r = rowsOf(t) - live.getOrElse(t, 0L) - counted.getOrElse(t, 0L)
          require(r >= 0, s"price_dvs: negative doom remainder for $t " +
            s"(rows=${rowsOf(t)} live=${live.getOrElse(t, 0L)} " +
            s"counted=${counted.getOrElse(t, 0L)}) — damaged marker state")
          t -> r
        }.toMap
        // firstFor only holds LISTED targets, so stale targets fall
        // through to the zero branch below with no extra existence check
        val firstFor = targets.map(t =>
          t -> uncounted.find(_.targets(t)).get).toMap
        Some(base.copy(dvs = dvs.map { m =>
          if (m.fullyCounted) m
          else m.copy(counts = m.targets.map(t =>
            t -> (if (firstFor.get(t) contains m) remainder(t)
                  else 0L)).toMap)
        }))
      }
    }

  /** DV MAINTENANCE — consolidate accumulated `#dv` markers without
    * touching any data file: afterwards every target file is referenced
    * by at most ONE marker per key column, so a scan of a hot MOR table
    * checks one sorted key array per file instead of one per historical
    * DELETE — EXCEPT groups whose merged file would exceed the readers'
    * per-file budgets (`graft.dv.maxKeys` keyed, `graft.dv.maxBytes`
    * positional): those keep their original markers, because a
    * maintenance op must never publish a table whose every scan
    * refuses. Target files are grouped by (key column, EXACT set of
    * markers targeting them) and each multi-marker group gets one staged
    * union key parquet — merging across different signatures would doom
    * keys in files a marker never targeted (a row re-inserted AFTER a
    * delete must stay live even though its key is doomed in older
    * files). Publishes as a `#rewrite` commit: live rows are unchanged,
    * so incremental consumers skip it, exactly like compaction. Cost ∝
    * deleted keys, never table size. Returns the new version (the
    * current one when no file is multi-targeted). */
  def consolidateDvs(s: SparkSession, dir: String): Int =
    commit(dir, Snapshot.Rewrite) { base =>
      require(base.version >= 0, s"no committed snapshot to consolidate in $dir")
      val dvs = base.dvs
      val groups: Seq[(String, Seq[String], Seq[String])] =
        dvs.flatMap(m => m.targets.toSeq.map(t => (m.col, t, m.file)))
          .groupBy { case (c, t, _) => (c, t) }
          .toSeq
          .map { case ((c, t), ms) => (c, t, ms.map(_._3).sorted) }
          .groupBy { case (c, _, fs) => (c, fs) }
          .map { case ((c, fs), ts) => (c, fs, ts.map(_._2).sorted) }
          .toSeq
      if (groups.forall(_._2.size <= 1)) None
      else {
        // recorded doomed-live counts survive consolidation: each
        // (marker, target) lands in exactly one group, so restricting a
        // carried marker's counts to its group targets — and SUMMING
        // across a merged group's markers — keeps the per-target totals
        // exact; a group with any uncounted marker merges uncounted
        def countsFor(c: String, keyFiles: Seq[String],
            targets: Seq[String]): Map[String, Long] = {
          val ms = dvs.filter(m => m.col == c && keyFiles.contains(m.file))
          if (ms.exists(m => !m.targets.forall(m.counts.contains)))
            Map.empty
          else targets.map(t => t ->
            ms.filter(_.targets(t)).map(_.counts.getOrElse(t, 0L)).sum).toMap
        }
        val newDvs = groups.sortBy(g => (g._1, g._2.mkString(",")))
            .flatMap { case (c, keyFiles, targets) =>
          if (keyFiles.size == 1) // already minimal for these targets: the
            // original key file carries, restricted to exactly this group
            Seq(DvEntry(keyFiles.head, c, targets.toSet,
              countsFor(c, keyFiles, targets)))
          else if (c == "_pos") {
            // positional markers OR their roaring bitmaps per target ON
            // THE DRIVER — each positions file is compressed and bounded
            // by graft.dv.maxBytes, so the merge is metadata-scale work
            // (no Spark job); targets restrict naturally because lookups
            // key by the target's basename
            val merged = targets.map { t =>
              val rb = new org.roaringbitmap.RoaringBitmap()
              keyFiles.foreach(f =>
                rb.or(DvKeyCache.doomedPositions(dataPath(dir, f), t)))
              rb.runOptimize()
              DvKeyCache.baseName(t) -> rb
            }.filter(!_._2.isEmpty)
            // a merged positions file past the per-file byte budget would
            // make every subsequent scan REFUSE (the loader's loud
            // maxBytes bound counts the WHOLE file) — decline merging
            // this group and keep its original markers: reads stay
            // exactly as fast as before, and the consolidation of other
            // groups still lands
            if (merged.map(_._2.serializedSizeInBytes().toLong).sum >
                DvKeyCache.maxDvBytes)
              keyFiles.map(f => DvEntry(f, c, targets.toSet))
            else {
              val staged = GraftDeltaWriter.writePositionsFile(
                dir, merged.iterator, "merged")
              Seq(DvEntry(staged, c, targets.toSet))
            }
          } else {
            import org.apache.spark.sql.functions.{col => fcol}
            graft.Materialize.scoped { held =>
              // keyed markers union their single key column, held: counted
              // once for the budget, staged once — not two full
              // read+distinct passes
              val union = held(s.read.parquet(keyFiles.map(dataPath(dir, _)): _*)
                .select(fcol(c))
                .distinct().coalesce(1))
              // a merged key file past the reader's per-file budget would
              // make every subsequent scan of the targeted files REFUSE
              // (DvKeyCache.doomed's loud maxKeys bound) — decline merging
              // this group and keep its original markers, same contract
              // as the positional byte-budget decline
              if (union.count() > DvKeyCache.maxKeys)
                keyFiles.map(f => DvEntry(f, c, targets.toSet,
                  countsFor(c, Seq(f), targets)))
              else {
                val staged = stage(s, dir, union)
                require(staged.size == 1)
                Seq(DvEntry(staged.head, c, targets.toSet,
                  countsFor(c, keyFiles, targets)))
              }
            }
          }
        }
        Some(base.copy(dvs = newDvs))
      }
    }

  // ---------------------------------------------------------------------
  // Schema evolution: RENAME COLUMN as carried metadata (the column-
  // mapping idea Delta/Iceberg use, reduced to name→name lines). Data
  // files are immutable, so a rename can't touch them; instead a
  // `#rename\tfrom\tto` marker publishes in the commit log and the read
  // path reconciles generations: a merge-schema scan surfaces BOTH names
  // (old files carry `from`, post-rename files carry `to`) and the reader
  // coalesces them into `to`. ADD COLUMN needs no metadata at all — the
  // merge-schema scan nulls it for pre-addition files. Renames carry
  // forward like DV markers; a full rewrite (compact) reads through the
  // evolved view and MATERIALIZES the rename, dropping the marker.
  // Renames and deletion vectors refuse to MIX (either direction) — the
  // interaction matrix is where evolution bugs live, and compacting first
  // is always available.
  // ---------------------------------------------------------------------

  /** (from, to) renames of version `v`, in application order. */
  def renames(dir: String, v: Int): Seq[(String, String)] =
    Snapshot.read(dir, v).renames

  /** The guards every rename `from → to` passes against `base`:
    *  - a policy referencing the renamed column would silently stop
    *    matching the evolved view — refuse rather than mis-govern;
    *  - renaming TO a name the chain already renamed AWAY: old files'
    *    physical column of that name would mean a DIFFERENT logical
    *    column than new files', an ambiguity no reader can reconcile (the
    *    scan would refuse the table forever);
    *  - renaming AWAY a name the chain already renamed away once (RENAME
    *    a→b; ADD COLUMN a; RENAME a→c): two chain entries with the same
    *    FROM would make a physical 'a' column AMBIGUOUS — logical b in
    *    pre-re-add files, logical c after — and the collapsed chain would
    *    silently serve old files' b bytes as c.
    * Compacting first is always available for the last two. */
  private def guardRename(base: Snapshot, from: String, to: String): Unit = {
    require(!base.policyMentions(from),
      s"rename of '$from' refused: a governance policy references it — " +
        "re-declare the policy against the new name first")
    require(!base.renames.exists(_._1 == to),
      s"rename to '$to' refused: the name was already renamed away and " +
        "old files still carry it physically — compact first")
    require(!base.renames.exists(_._1 == from),
      s"rename of '$from' refused: the name was renamed away and " +
        "re-added — old files' physical column means a different " +
        "logical column; compact first")
  }

  /** Rewrite every reference to column `from` into `to` inside an
    * expression's SQL text — by PARSING and RESOLVING it against the
    * pre-rename schema, renaming the attribute nodes, and regenerating
    * SQL, never textual substitution (a string literal or a quoted
    * identifier containing the name must survive untouched). Round 14:
    * this is what lets a rename CARRY its dependent CHECK constraints
    * and generation expressions instead of refusing. */
  private[sources] def renameInExprSql(exprSql: String,
      preSchema: org.apache.spark.sql.types.StructType,
      from: String, to: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Alias,
      AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
      Project}
    val s = org.apache.spark.sql.SparkSession.active
    val attrs = preSchema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    val parsed = s.sessionState.sqlParser.parseExpression(exprSql)
    val analyzed = s.sessionState.analyzer.executeAndCheck(
      Project(Seq(Alias(parsed, "e")()), LocalRelation(attrs)),
      new org.apache.spark.sql.catalyst.QueryPlanningTracker)
    val resolved = analyzed
      .asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child
    val renamed = resolved.transform {
      case a: AttributeReference if a.name == from =>
        AttributeReference(to, a.dataType, a.nullable)(a.exprId, a.qualifier)
    }
    renamed.sql
  }

  /** The declared schema with every GENERATION_EXPRESSION that
    * references `from` rewritten to reference `to` — field names stay
    * untouched (the caller renames them after). */
  private def rewriteGenExprs(
      st: org.apache.spark.sql.types.StructType, from: String, to: String)
      : org.apache.spark.sql.types.StructType = {
    val nameRe = ("\\b" + java.util.regex.Pattern.quote(from) + "\\b").r
    org.apache.spark.sql.types.StructType(st.fields.map { f =>
      if (f.metadata.contains("GENERATION_EXPRESSION") &&
          nameRe.findFirstIn(
            f.metadata.getString("GENERATION_EXPRESSION")).isDefined) {
        val ne = renameInExprSql(
          f.metadata.getString("GENERATION_EXPRESSION"), st, from, to)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("GENERATION_EXPRESSION", ne).build())
      } else f
    })
  }

  /** Rename side-effects on carried metadata (round 13): dependent
    * property VALUES migrate with the column — the `graft.write.sort/
    * ndv/sum` name lists, the `graft.partitioning` spec's column token,
    * and the identity frontier key `graft.identity.<col>` (whose loss
    * would silently RESTART identity assignment and collide ids) —
    * while CHECK constraints that reference the old name are rewritten
    * against the pre-rename schema (round 14), or refuse without one. */
  private def migrateRenameProps(props: Seq[(String, String)],
      declaredJson: Option[String], from: String,
      to: String): Seq[(String, String)] = {
    val nameRe = ("\\b" + java.util.regex.Pattern.quote(from) + "\\b").r
    val preSchema = declaredJson.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    props.map { case (k, value) =>
      def listMigrated: String = value.split(',').map(_.trim)
        .map(n => if (n == from) to else n).mkString(",")
      k match {
        case "graft.write.sort" | "graft.write.ndv" | "graft.write.sum" =>
          k -> listMigrated
        case "graft.partitioning" =>
          k -> nameRe.replaceAllIn(value,
            java.util.regex.Matcher.quoteReplacement(to))
        case _ if k == s"graft.identity.$from" =>
          s"graft.identity.$to" -> value
        case _ if k.startsWith("graft.constraint.") &&
            nameRe.findFirstIn(
              java.net.URLDecoder.decode(value, "UTF-8")).isDefined =>
          // the predicate SQL is URL-encoded in the property value.
          // Round 14: REWRITE the reference instead of refusing — parse,
          // resolve against the pre-rename schema, rename, regenerate
          // (a declared schema is required to resolve soundly; without
          // one the old honest refusal stands)
          val pred = java.net.URLDecoder.decode(value, "UTF-8")
          val pre = preSchema.getOrElse(throw new IllegalArgumentException(
            s"rename of '$from' refused: CHECK constraint " +
              s"'${k.stripPrefix("graft.constraint.")}' references it and " +
              "the table has no declared schema to re-resolve it against"))
          k -> java.net.URLEncoder.encode(
            renameInExprSql(pred, pre, from, to), "UTF-8")
        case _ => k -> value
      }
    }
  }

  /** The declared schema `st` with column `from` renamed to `to`;
    * generation expressions referencing the old name REWRITE to the new
    * one (round 14) before the field itself renames. */
  private def renamedSchema(st: org.apache.spark.sql.types.StructType,
      from: String, to: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      rewriteGenExprs(st, from, to).fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))

  /** Publish a column rename as a metadata-only `#mutate` commit (schema
    * changes are inexpressible in an append-only feed — consumers
    * re-bootstrap, the delete/update honesty contract). The declared
    * schema (empty-table authority) follows the rename. Live deletion
    * vectors carry VERBATIM (round 14): a marker's key column keeps its
    * name AT DELETE TIME — that name always matches the staged key
    * parquet's physical column, and readers resolve it to the evolved
    * name through the rename chain per file generation. */
  def renameColumn(dir: String, from: String, to: String): Int =
    commit(dir, Snapshot.Mutate) { base =>
      require(base.version >= 0, s"no committed snapshot to rename in $dir")
      guardRename(base, from, to)
      Some(base.copy(renames = base.renames :+ (from -> to),
        props = migrateRenameProps(base.props, base.schema, from, to),
        schema = base.schema.map(j => renamedSchema(
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[org.apache.spark.sql.types.StructType],
          from, to).json)))
    }

  /** Reconcile a cross-generation scan with the rename chain: coalesce
    * old-name columns into their new names, in marker order. */
  private def applyRenames(df: DataFrame,
      rns: Seq[(String, String)]): DataFrame =
    rns.foldLeft(df) { case (d, (from, to)) =>
      val cols = d.columns.toSet
      if (cols.contains(from) && cols.contains(to))
        d.withColumn(to, coalesce(col(to), col(from))).drop(from)
      else if (cols.contains(from)) d.withColumnRenamed(from, to)
      else d
    }

  // ---------------------------------------------------------------------
  // Governance policies IN the table metadata: `#policy` marker lines
  // carry column MASKS (`#policy\tmask\t<col>\t<sql expr>`) and row
  // FILTERS (`#policy\tfilter\t<sql expr>`) with the snapshot, so the
  // rules travel with the table — through commits, restores, and clones —
  // instead of living in some application's config. `readGoverned`
  // enforces them (filter first, then masks, so a mask can't leak through
  // the filter predicate's view); `readVersion` stays RAW by design:
  // engine-internal reads (compaction, CoW rewrites) must see the true
  // rows or maintenance would corrupt the table. Policy changes publish
  // as `#mutate` commits — what consumers see changed, so the change feed
  // refuses to silently cross, the same honesty contract as deletes.
  // ---------------------------------------------------------------------

  /** Publish (REPLACING any prior policy set) column masks and an optional
    * row filter, all as SQL expression strings evaluated at read time. */
  def setPolicy(dir: String, masks: Map[String, String],
      rowFilter: Option[String] = None): Int = {
    (masks.keys ++ masks.values ++ rowFilter).foreach(s =>
      require(!s.contains('\t') && !s.contains('\n'),
        s"policy expressions may not contain tabs/newlines: $s"))
    val policies = masks.toSeq.sortBy(_._1)
      .map { case (c, e) => Seq("mask", c, e) } ++
      rowFilter.map(e => Seq("filter", e))
    commit(dir, Snapshot.Mutate) { base =>
      require(base.version >= 0, s"no committed snapshot to set policy on in $dir")
      Some(base.copy(policies = policies))
    }
  }

  /** The governed read: the snapshot with the metadata-carried row filter
    * and column masks applied — what a consumer without raw access gets. */
  def readGoverned(s: SparkSession, dir: String): DataFrame = {
    val v = currentVersion(dir)
    val base = readVersion(s, dir, v)
    val pols = Snapshot.read(dir, v).policies
    val filtered = pols.collect { case Seq("filter", e) => e }
      .foldLeft(base)((df, e) => df.filter(expr(e)))
    pols.collect { case Seq("mask", c, e) => (c, e) }
      .foldLeft(filtered)((df, p) => df.withColumn(p._1, expr(p._2)))
  }

  // ---------------------------------------------------------------------
  // Table PROPERTIES in the metadata (Delta's TBLPROPERTIES): `#prop`
  // marker lines carry key=value configuration WITH the snapshot — e.g.
  // `delete.mode = mor` choosing merge-on-read over copy-on-write for SQL
  // DELETE statements. Properties travel like policies: through commits,
  // compaction, restore, and clones; they never materialize away.
  // ---------------------------------------------------------------------

  /** Current table properties of version `v` as a map. */
  def tableProperties(dir: String, v: Int): Map[String, String] =
    Snapshot.read(dir, v).properties

  /** Publish (or replace) one table property. A metadata-only ordinary
    * commit: the data did not change, so the change feed crosses freely. */
  def setTableProperty(dir: String, key: String, value: String): Int = {
    require(!key.contains('\t') && !key.contains('\n') &&
      !value.contains('\t') && !value.contains('\n'),
      "property keys/values may not contain tabs/newlines")
    commit(dir, Snapshot.Append) { base =>
      require(base.version >= 0, s"no committed snapshot to set properties on in $dir")
      Some(base.withProp(key, value))
    }
  }

  /** Drop one table property (no-op commit if absent). */
  def removeTableProperty(dir: String, key: String): Int =
    commit(dir, Snapshot.Append) { base =>
      require(base.version >= 0, s"no committed snapshot in $dir")
      if (!base.props.exists(_._1 == key)) None // absent: no-op
      else Some(base.withoutProp(key))
    }

  /** One validated `ALTER TABLE` change, for [[alterAtomic]]. */
  sealed trait AlterOp
  object AlterOp {
    final case class SetProp(key: String, value: String) extends AlterOp
    final case class RemoveProp(key: String) extends AlterOp
    final case class Rename(from: String, to: String) extends AlterOp
    final case class AddCol(name: String,
        dataType: org.apache.spark.sql.types.DataType,
        defaultSql: Option[String] = None) extends AlterOp
    final case class DropCol(name: String) extends AlterOp
    final case class WidenCol(name: String,
        to: org.apache.spark.sql.types.DataType) extends AlterOp
  }

  /** Apply a MULTI-CHANGE `ALTER TABLE` statement as ONE commit — the
    * statement-atomicity the per-change path lacks: validating everything
    * FIRST and publishing one combined manifest means a refused change can
    * never leave an earlier property commit durable (all-or-nothing, the
    * DDL contract a warehouse user assumes). Ops apply in statement order;
    * renames make the commit a `#mutate` (schema changes are
    * inexpressible in an append-only feed), property-only statements stay
    * ordinary metadata commits. */
  def alterAtomic(dir: String, ops: Seq[AlterOp]): Int = {
    // ---- validate EVERYTHING before any commit ----
    ops.foreach {
      case AlterOp.SetProp(k, value) =>
        require(!k.contains('\t') && !k.contains('\n') &&
          !value.contains('\t') && !value.contains('\n'),
          "property keys/values may not contain tabs/newlines")
      case AlterOp.Rename(from, to) =>
        require(!from.contains('\t') && !to.contains('\t') &&
          !from.contains('\n') && !to.contains('\n'),
          "column names may not contain tabs/newlines")
      case AlterOp.AddCol(n, _, _) =>
        require(!n.contains('\t') && !n.contains('\n'),
          "column names may not contain tabs/newlines")
      case AlterOp.DropCol(n) =>
        require(!n.contains('\t') && !n.contains('\n'),
          "column names may not contain tabs/newlines")
        // a dropped column may still be referenced by a governance policy
        // — the policy authority must be re-declared first, like renames
      case AlterOp.WidenCol(n, _) =>
        require(!n.contains('\t') && !n.contains('\n'),
          "column names may not contain tabs/newlines")
      case _: AlterOp.RemoveProp => ()
    }
    val renameOps = ops.collect { case r: AlterOp.Rename => r }
    val addOps = ops.collect { case a: AlterOp.AddCol => a }
    val dropOps = ops.collect { case d: AlterOp.DropCol => d }
    val widenOps = ops.collect { case w: AlterOp.WidenCol => w }
    commit(dir, if (renameOps.nonEmpty) Snapshot.Mutate else Snapshot.Append) {
        base =>
      require(base.version >= 0, s"no committed snapshot to alter in $dir")
      renameOps.foreach(r => guardRename(base, r.from, r.to))
      // properties apply in statement order; dependent declarations follow
      // a rename (or refuse) — the identity frontier, write-shape name
      // lists, the partitioning spec, CHECK constraints
      val withProps = ops.foldLeft(base) {
        case (s, AlterOp.SetProp(k, value)) => s.withProp(k, value)
        case (s, AlterOp.RemoveProp(k)) => s.withoutProp(k)
        case (s, AlterOp.Rename(from, to)) => s.copy(props =
          migrateRenameProps(s.props, base.schema, from, to))
        case (s, _) => s // schema ops handled below
      }
      // the schema authority to evolve: the declared #schema, else (for
      // ADD COLUMN on a table created by its first insert) the observed
      // footer schema — ADD COLUMN must record a declared schema so the
      // widened view has an authority old files cannot provide
      val baseSchema: Option[org.apache.spark.sql.types.StructType] =
        base.schema
          .map(org.apache.spark.sql.types.DataType.fromJson(_)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .orElse(base.names.headOption.map(f =>
            ManifestStreamSource.toSparkSchema(
              ManifestStreamSource.footerSchema(dataPath(dir, f)))))
      if (addOps.nonEmpty || dropOps.nonEmpty || widenOps.nonEmpty)
        require(baseSchema.isDefined,
          "ADD/DROP/ALTER COLUMN on a table with no schema authority (no " +
            "declared schema and no data files)")
      dropOps.foreach(d => require(!base.policyMentions(d.name),
        s"drop of '${d.name}' refused: a governance policy references " +
          "it — re-declare the policy first"))
      val evolvedSchema = baseSchema.map { st0 =>
        // schema ops apply in STATEMENT order (a rename may precede an
        // add of the freed name, etc.)
        val st = ops.foldLeft(st0) {
          case (st, AlterOp.Rename(from, to)) => renamedSchema(st, from, to)
          case (st, AlterOp.AddCol(n, dt, dflt)) =>
            require(!st.fieldNames.contains(n),
              s"ADD COLUMN '$n' refused: the column already exists")
            // a DEFAULT rides the field metadata in the declared schema:
            // CURRENT_DEFAULT fills future inserts (analyzer-side),
            // EXISTS_DEFAULT is what pre-addition files serve — the
            // no-rewrite evolution contract
            val meta = dflt.map { sql =>
              import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
                .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
                .build()
            }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
            st.add(org.apache.spark.sql.types.StructField(n, dt,
              nullable = true, metadata = meta))
          // TYPE WIDENING — a declared type change the immutable files
          // can serve without rewriting: the reader decodes the narrow
          // physical value and widens it (int32→bigint, float→double,
          // decimal precision up at fixed scale). Anything else refuses.
          case (st, AlterOp.WidenCol(n, to)) =>
            val f = st.fields.find(_.name == n).getOrElse(
              throw new IllegalArgumentException(
                s"ALTER COLUMN '$n' TYPE refused: no such column"))
            require(GraftCatalog.widens(f.dataType, to),
              s"ALTER COLUMN '$n' TYPE: only widening conversions are " +
                s"supported (${f.dataType.simpleString} -> " +
                s"${to.simpleString} is not)")
            org.apache.spark.sql.types.StructType(st.fields.map(x =>
              if (x.name == n) x.copy(dataType = to) else x))
          case (st, AlterOp.DropCol(n)) =>
            require(st.fieldNames.contains(n),
              s"DROP COLUMN '$n' refused: no such column")
            require(st.fields.length > 1,
              s"DROP COLUMN '$n' refused: a table needs at least one column")
            org.apache.spark.sql.types.StructType(st.fields.filterNot(_.name == n))
          case (st, _) => st
        }
        st.json
      }.filter(_ => base.schema.isDefined || addOps.nonEmpty ||
          dropOps.nonEmpty || widenOps.nonEmpty)
      // DVs carry VERBATIM through every alter, renames included (round
      // 14): a marker's key column keeps its delete-time name — readers
      // resolve it to the evolved name through the rename chain
      Some(withProps.copy(
        renames = base.renames ++ renameOps.map(r => r.from -> r.to),
        schema = evolvedSchema))
    }
  }

  /** Committed high-water epoch for `queryId` in version `v`, if any: the
    * `#epoch\t<queryId>\t<epochId>` marker each streaming query commits
    * into this table — the atomically-carried state that makes
    * `writeStream.toTable` EXACTLY-ONCE (a replayed epoch ≤ the marker
    * no-ops; the marker rides the same CAS as the data it covers, so sink
    * state and data can never diverge). */
  def committedEpoch(dir: String, v: Int, queryId: String): Option[Long] =
    Snapshot.read(dir, v).epoch(queryId)

  /** MERGE-ON-READ UPSERT (MERGE WHEN MATCHED THEN UPDATE, WHEN NOT
    * MATCHED THEN INSERT) — the Hudi merge-on-read shape: every batch row
    * REPLACES any existing row with its `col` key. Implemented as
    * delete+insert in ONE commit: the batch's distinct keys stage as DV
    * files targeting the stats-admitted existing files (old versions
    * become invisible), the batch itself stages as ordinary data files
    * (which no DV targets — they ARE the new versions), and one `#mutate`
    * CAS publishes both. Write cost ∝ batch size; nothing existing is
    * rewritten; compaction later materializes. Batch keys must be unique
    * (the upsert contract — two same-key batch rows would both insert).
    * Returns the new version. */
  def upsertMOR(s: SparkSession, dir: String, batch: DataFrame,
      col: String, epoch: Option[(String, Long)] = None): Int =
    commit(dir, Snapshot.Mutate)(upserted(s, dir, batch, col, epoch, _))

  /** [[upsertMOR]]'s successor of `base` (None: a no-op). */
  private def upserted(s: SparkSession, dir: String, batch: DataFrame,
      col: String, epoch: Option[(String, Long)],
      base: Snapshot): Option[Snapshot] = {
    import org.apache.spark.sql.functions.{col => c, min => fmin, max => fmax}
    require(base.version >= 0, s"no committed snapshot to upsert into in $dir")
    // exactly-once streaming leg (round 16): when the batch carries an
    // epoch, a replayed epoch ≤ the committed high-water no-ops BEFORE
    // staging a byte, and the new high-water marker rides the SAME
    // #mutate CAS as the upsert itself — sink state and data cannot
    // diverge (the #epoch contract of the V2 streaming sink, extended
    // to in-place MOR corrections)
    if (epoch.exists { case (qid, eid) => base.epoch(qid).exists(_ >= eid) })
      return None
    // rename markers compose (round 14): the batch arrives under the
    // EVOLVED names (it must — it inserts as the new generation), and
    // pre-rename files' stats are consulted under the key column's
    // whole alias family
    val keyFamily = aliasFamily(base, col)
    require(keyFamily.head == col,
      s"upsertMOR key column '$col' was renamed to '${keyFamily.head}' — " +
        "upsert under the evolved name")
    // target = files whose recorded range intersects the batch key span
    // (1-row bound collect; no key list reaches the driver). The same
    // pass enforces the ROW-IDENTITY contract for every upsert entry
    // point (round 17): a NULL key is a malformed correction — passing
    // it through would either vanish the batch (all-null span used to
    // read as "empty batch" and no-op after the source was consumed)
    // or land un-amendable rows no later correction can target.
    val span = batch.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.count(c(col)),
      fmin(c(col)), fmax(c(col))).head()
    if (span.getLong(0) == 0L) return None // empty batch: idempotent no-op
    require(span.getLong(1) == span.getLong(0),
      s"upsertMOR into $dir: ${span.getLong(0) - span.getLong(1)} of " +
        s"${span.getLong(0)} rows carry a NULL '$col' key — an upsert " +
        "key is a row identity; fix the feed or append instead")
    // numeric-tolerant extraction: the key column may be any integral /
    // decimal / floating type, not just BIGINT (the stats machinery is
    // BigDecimal-typed for the same reason)
    def num(a: Any): BigDecimal = a match {
      case l: java.lang.Long => BigDecimal(l.longValue)
      case i: java.lang.Integer => BigDecimal(i.intValue)
      case s: java.lang.Short => BigDecimal(s.intValue)
      case b: java.lang.Byte => BigDecimal(b.intValue)
      // a NaN key is as un-amendable an identity as NULL (NaN never
      // equals itself in a join), and Spark orders NaN GREATEST, so
      // any NaN key surfaces here as the span max — refuse with the
      // same named row-identity contract, not a bare
      // NumberFormatException from BigDecimal
      case d: java.lang.Double if d.isNaN || d.isInfinite =>
        throw new IllegalArgumentException(
          s"upsertMOR into $dir: the '$col' key span contains $d — " +
            "an upsert key is a row identity; NaN/Infinite keys " +
            "cannot be targeted by later corrections")
      case f: java.lang.Float if f.isNaN || f.isInfinite =>
        throw new IllegalArgumentException(
          s"upsertMOR into $dir: the '$col' key span contains $f — " +
            "an upsert key is a row identity; NaN/Infinite keys " +
            "cannot be targeted by later corrections")
      case d: java.lang.Double => BigDecimal(d.doubleValue)
      case f: java.lang.Float => BigDecimal(f.doubleValue)
      case bd: java.math.BigDecimal => BigDecimal(bd)
      case x => throw new IllegalArgumentException(
        s"upsertMOR key column '$col' has non-numeric type ${x.getClass}")
    }
    val (lo, hi) = (num(span.get(2)), num(span.get(3)))
    val affected = base.entries
      .filter(e => keyFamily.flatMap(e.ranges.get).headOption
        .forall(r => r.max >= lo && r.min <= hi))
      .map(_.name).toSet
    // The staged key write, the staged data write, and the doomed-live
    // counting pass are three INDEPENDENT distributed actions (disjoint
    // unique output paths, no shared intermediate): overlap them on the
    // driver pool instead of serializing three job latencies (guide
    // §2.6). Results and commit order are unchanged — everything joins
    // before the CAS.
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = overlapEc
      val dvF = Future(stage(s, dir, batch.select(c(col)).distinct()))
      val dataF = Future(stageWithStats(s, dir, batch, Seq(col)))
      val hitsF = Future(
        if (affected.isEmpty) Map.empty[String, Long]
        else doomedLiveCounts(s, dir, base, affected.toSeq, col,
          batch.select(c(col)).distinct()))
      val dvFiles = Await.result(dvF, Duration.Inf)
      val dataFiles = Await.result(dataF, Duration.Inf)
      val markers =
        if (affected.isEmpty) Seq.empty // pure insert: nothing to doom
        else {
          // price the statement's doomed-live hits per candidate file so
          // the metadata COUNT/history/LIMIT tiers survive the upsert.
          // The batch's keys may stage as SEVERAL files (no coalesce
          // bottleneck at scale) — every consumer SUMS counts across
          // markers per target, so the statement's total rides on the
          // first marker and the rest carry explicit zeros
          val hits = Await.result(hitsF, Duration.Inf)
          val zero = affected.map(n => n -> 0L).toMap
          dvFiles.zipWithIndex.map { case (f, i) =>
            DvEntry(f, col, affected,
              if (i == 0) affected.map(n =>
                n -> hits.getOrElse(n, 0L)).toMap
              else zero)
          }
        }
      val next = base.copy(files = base.files ++ dataFiles,
        dvs = base.dvs ++ markers)
      Some(epoch.fold(next) { case (qid, eid) => next.withEpoch(qid, eid) })
    }
  }

  /** Metadata-only pruning for `col IN keys` using both stat kinds: a file
    * survives only if SOME key is inside its recorded range AND admitted by
    * its Bloom index; either stat absent → that test passes (degrade to
    * scan). Returns (kept file names, total files). */
  def pruneFilesForKeys(dir: String, v: Int, col: String,
      keys: Seq[Long]): (Seq[String], Int) = {
    val entries = listLines(dir, v).map(parseEntry)
    val kept = entries.filter { e =>
      val rangeOk = e.ranges.get(col).forall(r =>
        keys.exists(x => BigDecimal(x) >= r.min && BigDecimal(x) <= r.max))
      val bloomOk = e.blooms.get(col).forall(bf =>
        keys.exists(x => graft.functions.BloomSketch.contains(bf, x)))
      rangeOk && bloomOk
    }.map(_.name)
    (kept, entries.size)
  }

  /** Point-lookup read: bloom+range file pruning, then the exact residual
    * `col IN keys` filter over only the surviving files. */
  def readPointLookup(s: SparkSession, dir: String, col: String,
      keys: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val v = currentVersion(dir)
    val (kept, _) = pruneFilesForKeys(dir, v, col, keys)
    if (kept.isEmpty) readVersion(s, dir, v).filter(lit(false))
    else readWithDvs(s, dir, v, kept)
      .filter(c(col).isin(keys: _*))
  }

  /** Targeted DELETE (`DELETE WHERE col IN keys`) — the
    * right-to-be-forgotten / compliance operation on an immutable-file
    * table: the file stats pick out ONLY the files that can contain the
    * doomed keys (bloom + range pruning — under a hash-clustered layout
    * that is one file per key, not the table), exactly those files are
    * rewritten without the matching rows, and one CAS commit republishes
    * untouched files' manifest lines VERBATIM (their stats ride along)
    * plus the rewrites. At 100 TB this is the difference between
    * rewriting the table and rewriting a few files: cost scales with the
    * data that actually holds the keys. Replaced files are never touched
    * on disk — pre-delete versions still time-travel (the audit trail)
    * until a deliberate vacuum erases them for real, which IS the
    * compliance step that makes the data unrecoverable. Rewritten files
    * re-harvest the same stat kinds their originals carried, so skipping
    * keeps working after the delete. Returns the new committed version
    * (or the current one if no file can contain any key — a metadata-only
    * no-op). */
  def deleteKeys(s: SparkSession, dir: String, col: String,
      keys: Seq[Long]): Int = {
    import org.apache.spark.sql.functions.{col => c}
    rewriteKeyed(s, dir, col, keys, "delete") { rows =>
      val survivors = rows.filter(!c(col).isin(keys: _*))
      if (survivors.isEmpty) None else Some(survivors)
    }
  }

  /** Copy-on-write UPDATE (`UPDATE SET c = expr WHERE col IN keys`) — the
    * third leg of the DML triad beside [[merge]] and [[deleteKeys]]. Same
    * stat-pruned rewrite shape as delete: only the files that can hold the
    * keys are rewritten; within them, matching rows get the assignments
    * applied and everything else is copied through byte-for-byte semantics;
    * untouched files republish their manifest lines verbatim; one CAS
    * publishes the new snapshot and pre-update versions keep
    * time-traveling. Assignments are (column → expression) pairs evaluated
    * per matching row. Returns the new committed version (current version
    * if no file can hold any key). */
  def updateKeys(s: SparkSession, dir: String, col: String, keys: Seq[Long],
      assignments: Map[String, Column]): Int = {
    import org.apache.spark.sql.functions.{col => c, when}
    val hit = c(col).isin(keys: _*)
    // all assignments read OLD values (standard UPDATE semantics):
    // withColumns resolves every expression against the pre-update rows
    rewriteKeyed(s, dir, col, keys, "update")(rows => Some(
      rows.withColumns(assignments.map { case (t, e) =>
        t -> when(hit, e).otherwise(c(t)) })))
  }

  /** The copy-on-write rewrite [[deleteKeys]] and [[updateKeys]] share:
    * the files whose stats admit a key are read with their deletion
    * vectors applied, `rewrite` turns their rows into the replacement rows
    * (None: nothing to stage), and the replacements restage carrying the
    * same stat kinds the originals did (string envelopes included — a
    * rewrite must not silently stop pruning). Untouched files keep their
    * lines verbatim, and one `#mutate` commit publishes the result with
    * the rewritten files struck from the markers' targets. */
  private def rewriteKeyed(s: SparkSession, dir: String, col: String,
      keys: Seq[Long], op: String)(
      rewrite: DataFrame => Option[DataFrame]): Int =
    commit(dir, Snapshot.Mutate) { base =>
      require(base.version >= 0, s"no committed snapshot to $op in $dir")
      require(base.renames.isEmpty,
        s"copy-on-write $op under a pending rename is refused — compact first")
      val affected = base.entries.filter { e =>
        e.ranges.get(col).forall(r =>
          keys.exists(x => BigDecimal(x) >= r.min && BigDecimal(x) <= r.max)) &&
        e.blooms.get(col).forall(bf =>
          keys.exists(x => graft.functions.BloomSketch.contains(bf, x)))
      }
      if (affected.isEmpty) None // nothing can hold the keys: no-op
      else {
        val affectedNames = affected.map(_.name).toSet
        val keep = base.files // raw lines: untouched stats ride along
          .filterNot(l => affectedNames.contains(l.split('\t').head))
        val statsCols = affected
          .flatMap(e => e.ranges.keys ++ e.strRanges.keys).distinct
        val bloomCols = affected.flatMap(_.blooms.keys).distinct
        val staged = rewrite(applyDvs(s, dir, affected.map(_.name), base.dvs,
            base.renames))
          .fold(Seq.empty[String])(stageWithIndexes(s, dir, _, statsCols, bloomCols))
        Some(base.copy(files = keep ++ staged).strikeDvTargets)
      }
    }

  /** Metadata-only file pruning for `col BETWEEN lo AND hi` (inclusive):
    * (files that may hold matches, total files in the snapshot). A file is
    * dropped only when its recorded range PROVABLY misses [lo, hi]; files
    * without stats for `col` always survive. */
  def pruneFiles(dir: String, v: Int, col: String,
      lo: BigDecimal, hi: BigDecimal): (Seq[String], Int) = {
    val entries = listLines(dir, v).map(parseLine)
    val kept = entries.collect {
      case (name, st) if st.get(col).forall(r => r.max >= lo && r.min <= hi) => name
    }
    (kept, entries.size)
  }

  /** Pruned snapshot read: resolve the manifest, drop files whose recorded
    * [min,max] misses the predicate, scan ONLY the survivors, and apply the
    * exact residual filter (file stats are necessary-not-sufficient — the
    * filter also reaches the row-group stats inside each surviving file via
    * Spark's ordinary parquet pushdown). */
  def readPruned(s: SparkSession, dir: String, col: String,
      lo: BigDecimal, hi: BigDecimal): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val v = currentVersion(dir)
    val (kept, _) = pruneFiles(dir, v, col, lo, hi)
    // typed literals so the residual comparison stays cast-free on the
    // column side and reaches the parquet scan as a pushed filter
    val isLong = listLines(dir, v).map(parseLine)
      .flatMap(_._2.get(col)).headOption.forall(_.tag == 'L')
    val pred =
      if (isLong && lo.isWhole && hi.isWhole)
        c(col) >= lit(lo.toLongExact) && c(col) <= lit(hi.toLongExact)
      else c(col) >= lit(lo.toDouble) && c(col) <= lit(hi.toDouble)
    if (kept.isEmpty) // keep the snapshot schema, provably-empty result
      readVersion(s, dir, v).filter(lit(false))
    else readWithDvs(s, dir, v, kept).filter(pred)
  }

  // ---------------------------------------------------------------------
  // Write–Audit–Publish (the Iceberg WAP pattern): a writer stages its
  // batch into a NAMED AUDIT SNAPSHOT (`audit-<tag>.json` — readers only
  // resolve `manifest-v*`, so the candidate is invisible to production),
  // quality checks run against the exact would-be table state, and only a
  // passing audit publishes — via the ordinary CAS, against the base
  // version recorded at staging time, so a concurrent commit fails the
  // publish and forces a re-audit (the checks must re-run against the NEW
  // base; publishing a stale audit would skip validating the merge of the
  // two). An aborted audit costs nothing: the staged files were orphans
  // all along and vacuum collects them.
  // ---------------------------------------------------------------------

  private def auditPath(dir: String, tag: String): Path =
    Paths.get(dir, s"audit-$tag.json")

  /** Stage `batch` into audit snapshot `tag` (base = current version). */
  def stageAudit(s: SparkSession, dir: String, batch: DataFrame,
      tag: String, statsCols: Seq[String] = Nil): Unit = {
    val base = Snapshot.current(dir)
    require(base.renames.isEmpty,
      "write-audit-publish under a pending rename is refused — compact first")
    val staged =
      if (statsCols.nonEmpty) stageWithStats(s, dir, batch, statsCols)
      else stage(s, dir, batch)
    // the candidate is the would-be next snapshot, in the manifest codec
    // behind a `#base=<v>` header line
    val audit = base.copy(kind = Snapshot.Append, files = base.files ++ staged,
      segments = Nil, ts = None)
    Files.write(auditPath(dir, tag),
      s"#base=${base.version}\n${audit.encode}".getBytes("UTF-8"))
  }

  /** (base version, candidate snapshot) of audit `tag`. */
  private def auditSnapshot(dir: String, tag: String): (Int, Snapshot) = {
    val p = auditPath(dir, tag)
    require(Files.exists(p), s"no audit snapshot '$tag' in $dir")
    val all = new String(Files.readAllBytes(p), "UTF-8").split('\n').toSeq
    val base = all.head.trim.stripPrefix("#base=").toInt
    (base, Snapshot.decode(base + 1, all.tail))
  }

  /** Read the audit snapshot: the exact table state `tag` would publish
    * (deletion-vector markers in the audit apply here too — the checks
    * must see what production would see). */
  def readAudit(s: SparkSession, dir: String, tag: String): DataFrame = {
    val (_, audit) = auditSnapshot(dir, tag)
    applyDvs(s, dir, audit.names, audit.dvs)
  }

  /** Publish a passing audit atomically. Returns the new version, or None
    * if a concurrent commit moved the base — the caller must re-stage and
    * RE-AUDIT against the new base (never publish stale checks). */
  def publishAudit(dir: String, tag: String): Option[Int] = {
    val (base, audit) = auditSnapshot(dir, tag)
    if (currentVersion(dir) != base) return None
    if (publish(dir, audit, base)) {
      Files.deleteIfExists(auditPath(dir, tag))
      Some(base + 1)
    } else None
  }

  /** Abort an audit: drop the snapshot file; the staged data files were
    * never published and remain orphans until vacuum. */
  def abortAudit(dir: String, tag: String): Unit = {
    Files.deleteIfExists(auditPath(dir, tag))
    ()
  }

  /** Schema-compatibility report between two committed versions — the
    * schema-registry compatibility rules applied to the snapshots' ACTUAL
    * parquet schemas (observed from the files, not from a declaration, so
    * a writer that silently drifted is caught too): a column added is
    * backward compatible (old readers keep working, new readers gain it);
    * a column removed is breaking (existing queries reference it); a
    * column retyped is breaking unless the types are identical. This is
    * the pre-publish gate a pipeline runs before promoting a migration
    * commit. Cost: two footer reads, no data scan. */
  def schemaCompat(s: SparkSession, dir: String, fromV: Int,
      toV: Int): DataFrame = {
    val a = readVersion(s, dir, fromV).schema
    val b = readVersion(s, dir, toV).schema
    val am = a.fields.map(f => f.name -> f.dataType.sql).toMap
    val bm = b.fields.map(f => f.name -> f.dataType.sql).toMap
    val rows = (a.fieldNames ++ b.fieldNames).distinct.toSeq.sorted.map { c =>
      (am.get(c), bm.get(c)) match {
        case (Some(x), Some(y)) if x == y => (c, "unchanged", true)
        case (Some(_), Some(_))           => (c, "retyped", false)
        case (Some(_), None)              => (c, "removed", false)
        case (None, Some(_))              => (c, "added", true)
        case _                            => (c, "impossible", false)
      }
    }
    import s.implicits._
    rows.toDF("col_name", "change", "compatible")
  }

  /** Planner-style cost estimate from metadata alone: for
    * `col BETWEEN lo AND hi`, how many files survive pruning and an UPPER
    * BOUND on matching rows (the surviving files' recorded row counts —
    * every match lives in a surviving file, so the bound is sound by
    * construction). This is what a cost-based planner reads before
    * choosing a strategy — broadcast vs shuffle, index vs scan — and it
    * costs O(|files|) manifest entries, zero I/O. Requires row counts on
    * every surviving file (throws otherwise — an unknowable bound is not
    * a bound). */
  def estimateScan(dir: String, col: String, lo: BigDecimal,
      hi: BigDecimal): (Int, Int, Long) = {
    val v = currentVersion(dir)
    require(v >= 0, s"no committed snapshot in $dir")
    val entries = listLines(dir, v).map(parseEntry)
    val kept = entries.filter(
      _.ranges.get(col).forall(r => r.max >= lo && r.min <= hi))
    require(kept.forall(_.rows.isDefined),
      s"estimateScan needs row counts on every surviving file")
    (kept.size, entries.size, kept.flatMap(_.rows).sum)
  }

  /** MERGE with CHECK constraints (the Delta-expectations pattern): every
    * batch row must satisfy ALL `expectations` (named boolean expressions;
    * a NULL result counts as a violation — strict mode, nothing slips in
    * on a null); violators are diverted to a quarantine manifest table
    * (itself an idempotent MERGE, so a replayed batch re-quarantines as a
    * no-op) and only clean rows merge into the main table. This is the
    * contract enforcement that keeps a 100 TB table queryable — bad rows
    * land somewhere inspectable instead of corrupting aggregates or
    * failing the whole load. One pass over the batch computes the
    * violation predicate; both merges reuse the ordinary commit path.
    * Returns (main version, quarantine version). */
  def mergeWithExpectations(s: SparkSession, dir: String, quarantineDir: String,
      batch: DataFrame, keyCols: Seq[String],
      expectations: Map[String, Column]): (Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(expectations.nonEmpty, "mergeWithExpectations needs at least one expectation")
    val violated = expectations.values
      .map(e => not(coalesce(e, lit(false)))).reduce(_ || _)
    val qv = merge(s, quarantineDir, batch.filter(violated), keyCols)
    val v = merge(s, dir, batch.filter(!violated), keyCols)
    (v, qv)
  }

  /** Version-keyed RESULT CACHE: the manifest version IS the cache key the
    * warehouse result-cache pattern needs — a snapshot version names an
    * immutable row set forever, so a result computed at version v can be
    * served byte-identical until the next commit, and invalidation is free
    * (the version moved). `compute` runs only on a miss; its result is
    * written once under `cacheRoot/<tag>-v<version>` and every later call
    * at the same version is a plain parquet read — zero recompute, zero
    * scan of the base table. At 100 TB this is the difference between
    * re-running a dashboard's aggregate per viewer and serving it from a
    * few cached KB. (Cache files are plain parquet; a vacuum-style sweep
    * of stale `-v*` dirs is the caller's retention policy.) */
  def cachedResult(s: SparkSession, dir: String, cacheRoot: String,
      tag: String)(compute: () => DataFrame): DataFrame = {
    val v = currentVersion(dir)
    require(v >= 0, s"no committed snapshot in $dir")
    val path = s"$cacheRoot/$tag-v$v"
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      compute().write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** OPTIMIZE, policy-aware — the productionized [[compact]]: rewrites only
    * the files SMALLER than `smallFileBytes` (already-right-sized files
    * keep their manifest lines — and their stats — verbatim; rewriting
    * them would be pure write amplification), optionally Z-ORDERS the
    * rewrite (`zorderBy` two integral columns → Morton-interleaved
    * range-partitioned sort, so the rewritten files serve min/max skipping
    * on BOTH dimensions — Delta's `OPTIMIZE ... ZORDER BY`), and
    * re-harvests `statsCols` stats for the new files. Same CAS semantics
    * as compact: replaced files survive for time travel, a racing commit
    * aborts-and-reoptimizes. Returns the committed version (unchanged if
    * fewer than 2 small files — nothing worth rewriting). */
  def optimize(s: SparkSession, dir: String, numFiles: Int = 1,
      zorderBy: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      smallFileBytes: Long = Long.MaxValue,
      onlyFiles: Option[Set[String]] = None): Int = {
    import org.apache.spark.sql.functions.{col => c}
    require(zorderBy.isEmpty || zorderBy.size == 2,
      "zorderBy takes exactly two integral columns (Morton interleave)")
    commit(dir, Snapshot.Rewrite) { base =>
      require(base.version >= 0, s"no committed snapshot to optimize in $dir")
      // `onlyFiles` scopes the rewrite (partition-targeted maintenance):
      // a file outside the set keeps its manifest line verbatim no
      // matter its size
      val (small, big) = base.files.partition { l =>
        val name = l.split('\t').head
        onlyFiles.forall(_.contains(name)) &&
          Files.size(Paths.get(dataPath(dir, name))) < smallFileBytes
      }
      // nothing worth rewriting (zorder with zero admitted files included:
      // reading an empty path list would throw, and the layout is a no-op)
      if ((small.size < 2 && zorderBy.isEmpty) || small.isEmpty) None
      else {
        // DV-aware read MATERIALIZES deletes into the rewritten files; the
        // untouched big files keep their (intersected) markers below.
        // Under a rename chain the rewrite reads the EVOLVED view, so
        // rewritten files carry the new names while the carried markers
        // keep reconciling the untouched old ones — DVs and renames
        // compose.
        val df = readReconciled(s, dir, base, small.map(_.split('\t').head))
        val laid = zorderBy match {
          case Seq(a, b) =>
            df.withColumn("__zkey",
                graft.operators.AuditOps.morton6(c(a).cast("int"), c(b).cast("int")))
              .repartitionByRange(numFiles, c("__zkey"))
              .sortWithinPartitions(c("__zkey")).drop("__zkey")
          case _ => df.repartition(numFiles)
        }
        // declared NDV/SUM columns re-harvest through maintenance: a DML
        // rewrite drops a file's sketches/sums (the delta writer can't
        // recompute them), and compaction is where the metadata tier
        // re-arms — the same degrade-then-maintain story as bucket ids
        val ndvC = declaredCols(base, "graft.write.ndv", df)
        val sumC = declaredCols(base, "graft.write.sum", df)
        val staged =
          if (statsCols.nonEmpty || ndvC.nonEmpty || sumC.nonEmpty)
            stageWithIndexes(s, dir, laid, statsCols = statsCols,
              bloomCols = Nil, ndvCols = ndvC, sumCols = sumC)
          else stage(s, dir, laid)
        // renames carry while old-generation files remain; policies and
        // properties never materialize away
        Some(base.copy(files = big ++ staged,
          renames = if (big.isEmpty) Nil else base.renames).strikeDvTargets)
      }
    }
  }

  /** The column list table property `key` declares, restricted to the
    * columns of `df`. */
  private def declaredCols(snap: Snapshot, key: String,
      df: DataFrame): Seq[String] =
    snap.properties.get(key).toSeq.flatMap(_.split(',')).map(_.trim)
      .filter(_.nonEmpty).filter(df.columns.contains)

  /** PARTITION-SPEC EVOLUTION (round 15): re-declare the table's
    * `graft.partitioning` on a LIVE table in ONE metadata-only commit —
    * the Iceberg spec-evolution contract re-expressed for this format.
    * Existing data files keep serving untouched: identity/time pruning
    * is stats-driven and spec-independent, so their recorded envelopes
    * stay exactly as useful as before and nothing rewrites. When the
    * BUCKET transform changes (modulus or column), every manifest
    * line's recorded `__bucket` id is STRUCK in the same commit — ids
    * recorded under the old transform would MIS-GROUP a
    * storage-partitioned join under the new one — so SPJ degrades to
    * per-file planning (a slower plan, never a wrong grouping) until
    * `CALL system.rebucket` re-clusters to the new spec and re-arms it.
    * New inserts route/cluster by the new spec immediately. Every
    * referenced column must exist in the table's evolved view — refused
    * otherwise. Returns the new version. */
  def setPartitioning(dir: String, spec: String): Int = {
    val (ids, bks) = GraftCatalog.partitionCols(spec)
    val times = GraftCatalog.timeCols(spec)
    val clus = GraftCatalog.clusterCols(spec)
    require(ids.nonEmpty || bks.nonEmpty || times.nonEmpty || clus.nonEmpty,
      s"unparseable partitioning spec '$spec' — expected " +
        "identity(c) / bucket(n, c) / years|months|days(c) / cluster(...)")
    commit(dir, Snapshot.Append) { base =>
      require(base.version >= 0, s"no committed snapshot to alter in $dir")
      // column authority: the declared schema if any, else the observed
      // footer names of one file, both through the rename chain's final
      // names — a spec naming an absent column refuses now, not at the
      // first insert that cannot route
      val fin = collapseRenames(base.renames)
      val authority: Option[Set[String]] =
        base.schema
          .map(org.apache.spark.sql.types.DataType.fromJson(_)
            .asInstanceOf[org.apache.spark.sql.types.StructType]
            .fieldNames.toSet)
          .orElse(base.names.headOption.map { f =>
            val mt = ManifestStreamSource.footerSchema(dataPath(dir, f))
            (0 until mt.getFieldCount).map(i =>
              fin.getOrElse(mt.getFieldName(i), mt.getFieldName(i))).toSet
          })
      val refd = ids ++ bks.map(_._2) ++ times.map(_._2) ++ clus
      authority.foreach(cols => refd.foreach(c => require(cols(c),
        s"SET partitioning '$spec' refused: column '$c' does not exist " +
          s"on $dir")))
      val oldBks = base.properties.get("graft.partitioning")
        .map(GraftCatalog.partitionCols(_)._2).getOrElse(Seq.empty)
      val next = base.withProp("graft.partitioning", spec)
      // striking bucket ids changes manifest lines but no live content —
      // a content-preserving #rewrite, so incremental consumers skip it
      Some(if (oldBks == bks) next
        else next.copy(kind = Snapshot.Rewrite,
          files = base.files.map(_.replaceAll(";__bucket=\\d+", ""))))
    }
  }

  /** Restore a bucketed table's physical layout: rewrite EVERY file
    * clustered by the declared `bucket(n, col)` transform, recording each
    * file's `__bucket` id — the maintenance op that re-arms
    * storage-partitioned joins after row-level DML landed bucket-less
    * insert files. One `#rewrite` CAS; on a lost race the whole pass
    * re-runs against the winner's snapshot. The rewrite cost is one full
    * pass over the table (like any re-clustering), so it amortizes the
    * way compaction does: run it when the bucket-less fraction justifies
    * giving the next N joins their shuffle-free plan back. */
  def rebucket(s: SparkSession, dir: String): Int = {
    import org.apache.spark.sql.functions.{col => c}
    commit(dir, Snapshot.Rewrite) { base =>
      require(base.version >= 0, s"no committed snapshot to rebucket in $dir")
      val spec = base.properties.getOrElse("graft.partitioning",
        throw new IllegalArgumentException(
          s"rebucket($dir): table declares no partitioning"))
      val (ids, bks) = GraftCatalog.partitionCols(spec)
      require(ids.isEmpty && bks.size == 1,
        s"rebucket($dir): exactly one bucket transform required, got $spec")
      val (n, colName) = bks.head
      require(base.renames.isEmpty,
        s"rebucket($dir) refused: rename markers present — compact first")
      if (base.files.isEmpty) None
      else {
        val entries = base.entries
        val statsCols = entries
          .flatMap(e => e.ranges.keys ++ e.strRanges.keys).distinct
        // a full rewrite MATERIALIZES deletion vectors (exactly like
        // optimize): the DV-merged read drops doomed rows, the new files
        // hold only live rows, and no marker carries — a MOR fact table
        // re-arms its storage-partitioned joins in ONE pass instead of
        // compact-then-rebucket
        val df =
          if (base.dvs.nonEmpty)
            applyDvs(s, dir, entries.map(_.name), base.dvs, base.renames)
          else s.read.option("mergeSchema", "true")
            .parquet(entries.map(e => dataPath(dir, e.name)): _*)
        val clustered = df.repartition(n, c(colName))
        val sortCols = base.properties.get("graft.write.sort").toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        val shaped = if (sortCols.isEmpty) clustered
          else clustered.sortWithinPartitions(sortCols.map(c): _*)
        val staged = stageWithIndexes(s, dir, shaped, statsCols = statsCols,
          bloomCols = Seq(colName), recordBucket = true,
          ndvCols = declaredCols(base, "graft.write.ndv", df),
          sumCols = declaredCols(base, "graft.write.sum", df))
        Some(base.copy(files = staged, dvs = Nil))
      }
    }
  }

  /** APPEND one batch as one commit WITHOUT [[merge]]'s anti-join — for
    * callers that KNOW the batch is disjoint from every committed row
    * (deterministic disjoint slices, first load of a partition): the
    * anti-join would provably return the batch unchanged, so running it is
    * work the answer never uses (guide §1.2/§8 — the caller knows what the
    * engine cannot). Produces the IDENTICAL manifest line layout as a
    * merge of the same disjoint batch: existing lines + staged files, DV /
    * rename / table-property markers carried forward, same CAS retry.
    * Callers that cannot prove disjointness must use [[merge]]. */
  def append(s: SparkSession, dir: String, batch: DataFrame): Int =
    appendStaged(dir, stage(s, dir, batch)) // version-independent: stage once

  /** [[append]] for a SEQUENCE of provably-disjoint batches: staging is
    * version-independent (uniquely-named orphan files, invisible until a
    * manifest lists them), so the N distributed staging writes run
    * CONCURRENTLY on the overlap pool (guide §2.6) and only the cheap
    * manifest CAS commits publish serially in batch order — producing the
    * IDENTICAL version/manifest layout as N sequential [[append]] calls
    * (same lines in the same order, same version arithmetic, same retry).
    * Callers own [[append]]'s disjointness proof, extended pairwise
    * across the batches. */
  def appendAll(s: SparkSession, dir: String,
      batches: Seq[DataFrame]): Int = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = overlapEc
    val stagedAll = Await.result(
      Future.traverse(batches)(b => Future(stage(s, dir, b))), Duration.Inf)
    stagedAll.foldLeft(currentVersion(dir))((_, staged) => appendStaged(dir, staged))
  }

  /** Publish already-staged files as one append commit onto the head. */
  private def appendStaged(dir: String, staged: Seq[String]): Int =
    commit(dir, Snapshot.Append)(base =>
      Some(base.copy(files = base.files ++ staged)))

  /** ACID MERGE WHEN NOT MATCHED THEN INSERT: anti-join `batch` against the
    * CURRENT snapshot on `keyCols` (pre-hashed to two independent 64-bit
    * keys — 16 bytes/row across the shuffle, `Relational.dedupAppend`'s
    * scale recipe), stage only the fresh rows, and CAS-commit
    * old-files + new-files. On a lost race the whole reconcile re-runs
    * against the winner's snapshot, so concurrent merges serialize cleanly
    * and a replayed batch is a no-op (fresh set becomes empty — committed
    * as an empty delta to record the attempt, or skipped via
    * `skipEmptyDelta`). */
  def merge(s: SparkSession, dir: String, batch: DataFrame,
      keyCols: Seq[String], skipEmptyDelta: Boolean = true): Int = {
    def k(seed: String, cols: Seq[Column]) =
      if (seed.isEmpty) xxhash64(cols: _*) else xxhash64(lit(seed) +: cols: _*)
    commit(dir, Snapshot.Append) { base =>
      val cols = keyCols.map(batch.col)
      val fresh =
        if (base.version < 0) batch
        else {
          val cur = readVersion(s, dir, base.version)
          val curKeys = cur.select(
            k("", keyCols.map(cur.col)).as("k1"),
            k("graft_k2", keyCols.map(cur.col)).as("k2"))
          batch.withColumn("k1", k("", cols)).withColumn("k2", k("graft_k2", cols))
            .join(curKeys, Seq("k1", "k2"), "left_anti")
            .drop("k1", "k2")
        }
      // Stage FIRST, then decide emptiness from the staged files' parquet
      // footers: the former `fresh.isEmpty` pre-check executed the whole
      // anti-join a second time (isEmpty shuffles both sides before it can
      // yield its first row, then `stage` re-ran the plan to write) — the
      // guide's "don't compute things you throw away" (§1.2). Footer row
      // counts cost one metadata read per staged file; the staged file SET
      // for a non-empty delta is byte-identical to before (empty part
      // files still publish), so every manifest-derived answer is
      // unchanged. An all-empty delta deletes its schema-only orphans and
      // returns the current version exactly like the old pre-check path.
      val staged = stage(s, dir, fresh)
      if (skipEmptyDelta &&
          staged.forall(n => footerRowCount(Paths.get(dir, "data", n)) == 0L)) {
        staged.foreach(n => Files.deleteIfExists(Paths.get(dir, "data", n)))
        None // idempotent no-op
      }
      // DV and rename markers ride along: the kept data files are
      // unchanged, so every DV still targets exactly what it did, and the
      // rename chain keeps reconciling the older generations
      else Some(base.copy(files = base.files ++ staged))
    }
  }
}
