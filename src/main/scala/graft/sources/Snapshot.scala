package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import ManifestTable.{DvEntry, FileEntry}

/** One committed version of a manifest table, parsed once: the commit
  * kind, the file lines with their stats, and every marker the version
  * carries. Every commit builds its successor from the head snapshot
  * (`base.copy(files = …)`), so markers a commit does not touch carry
  * forward by construction.
  *
  * The manifest codec lives here and only here. A manifest is one entry
  * per line, written in this order:
  *  1. the KIND line — `#rewrite` or `#mutate`; an append writes none;
  *  1. the file lines (`name` or `name\t<stats>`), or, for a SEGMENTED
  *     version, `#segments` followed by one summary line per segment file
  *     under `meta/`;
  *  1. the markers, one kind after another in a fixed order: `#dv`,
  *     `#rename`, `#policy`, `#prop`, `#schema`, `#epoch`; each kind keeps
  *     its own lines in the order the commit built them;
  *  1. `#ts\t<epoch millis>`, the commit instant, last.
  * The decoder matches markers by prefix, so manifests written with a
  * different interleaving of marker kinds decode to the same snapshot.
  *
  * @param files raw file lines; for a segmented version they resolve
  *   lazily from the segment files on first use
  * @param policies each `#policy` line's tab-separated fields after the
  *   prefix (`mask, col, expr` or `filter, expr`)
  * @param segments the segment summary lines of a segmented version
  *   (empty for a flat one) */
final case class Snapshot(
    version: Int,
    kind: Snapshot.Kind = Snapshot.Append,
    files: Seq[String] = Nil,
    dvs: Seq[DvEntry] = Nil,
    renames: Seq[(String, String)] = Nil,
    policies: Seq[Seq[String]] = Nil,
    props: Seq[(String, String)] = Nil,
    schema: Option[String] = None,
    epochs: Seq[(String, Long)] = Nil,
    ts: Option[Long] = None,
    segments: Seq[String] = Nil) {
  import Snapshot._

  /** Data file names, in manifest order. */
  def names: Seq[String] = files.map(nameOf)

  /** Parsed file entries (stats included), in manifest order. */
  def entries: Seq[FileEntry] = files.map(ManifestTable.parseEntry)

  def properties: Map[String, String] = props.toMap

  /** Replace property `key` (appended last), or add it. */
  def withProp(key: String, value: String): Snapshot =
    copy(props = props.filterNot(_._1 == key) :+ (key -> value))

  def withoutProp(key: String): Snapshot =
    copy(props = props.filterNot(_._1 == key))

  /** Committed high-water epoch of streaming query `queryId`. */
  def epoch(queryId: String): Option[Long] =
    epochs.collectFirst { case (q, e) if q == queryId => e }

  def withEpoch(queryId: String, epochId: Long): Snapshot =
    copy(epochs = epochs.filterNot(_._1 == queryId) :+ (queryId -> epochId))

  /** Whether a governance policy line names `column` (a word-boundary
    * match over the whole line: conservative — false refusals possible,
    * silent policy breakage never). */
  def policyMentions(column: String): Boolean = {
    val re = ("\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    policies.exists(p => re.findFirstIn(PolicyPrefix + p.mkString("\t")).isDefined)
  }

  /** Strike files no longer listed from every deletion vector's targets
    * (and recorded counts); a marker left targeting nothing drops — the
    * rewrite that removed its targets materialized its doomed rows. */
  def strikeDvTargets: Snapshot = {
    val listed = names.toSet
    copy(dvs = dvs.map { e =>
      val t = e.targets.intersect(listed)
      e.copy(targets = t, counts = e.counts.filter(kv => t(kv._1)))
    }.filter(_.targets.nonEmpty))
  }

  /** The manifest body in the canonical order (see the class doc). */
  def encode: String = (
    Seq(kind.marker).filter(_.nonEmpty) ++
      (if (segments.nonEmpty) SegMarker +: segments else files) ++
      dvs.map(ManifestTable.encodeDv) ++
      renames.map { case (from, to) => s"$RenamePrefix$from\t$to" } ++
      policies.map(PolicyPrefix + _.mkString("\t")) ++
      props.map { case (k, v) => s"$PropPrefix$k\t$v" } ++
      schema.map(SchemaPrefix + _) ++
      epochs.map { case (q, e) => s"$EpochPrefix$q\t$e" } ++
      ts.map(TsPrefix + _)
  ).mkString("\n")
}

object Snapshot {

  /** What a commit did to the table's rows: APPEND adds them (incremental
    * consumers read the new files); REWRITE changes only their layout
    * (compaction, re-clustering — consumers skip the version); MUTATE
    * changes them in a way an append-only feed cannot express (delete,
    * update, restore, schema change — consumers crossing it re-bootstrap). */
  sealed abstract class Kind(val marker: String, val label: String)
  case object Append extends Kind("", "data")
  case object Rewrite extends Kind("#rewrite", "rewrite")
  case object Mutate extends Kind("#mutate", "mutate")

  private val SegMarker = "#segments"
  private val DvPrefix = "#dv\t"
  private val RenamePrefix = "#rename\t"
  private val PolicyPrefix = "#policy\t"
  private val PropPrefix = "#prop\t"
  private val SchemaPrefix = "#schema\t"
  private val EpochPrefix = "#epoch\t"
  private val TsPrefix = "#ts\t"

  private def nameOf(line: String): String = line.split('\t').head

  /** The one reader of manifest files: version `v` of the table in `dir`
    * (an empty snapshot for `v < 0`, a table with no commit yet). */
  def read(dir: String, v: Int): Snapshot =
    if (v < 0) Snapshot(v)
    else decode(v, new String(Files.readAllBytes(
        ManifestTable.manifestPath(dir, v)), "UTF-8").split('\n').toSeq,
      readSegment(dir, _))

  /** The file lines of segment file `name` under `meta/`. */
  private[sources] def readSegment(dir: String, name: String): Seq[String] =
    Files.readAllLines(Paths.get(dir, "meta", name)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The head snapshot of `dir`. */
  def current(dir: String): Snapshot = read(dir, ManifestTable.currentVersion(dir))

  /** Decode manifest `lines` (see the class doc). `segment` reads one
    * segment file's file lines by name; a segmented version's file lines
    * resolve through it lazily, segment by segment. */
  private[sources] def decode(version: Int, lines: Seq[String],
      segment: String => Seq[String] = _ => Nil): Snapshot = {
    val ls = lines.map(_.trim).filter(_.nonEmpty)
    def fields(prefix: String): Seq[Seq[String]] =
      ls.collect { case l if l.startsWith(prefix) => l.split('\t').toSeq.tail }
    val entries = ls.filterNot(_.startsWith("#"))
    val segmented = ls.contains(SegMarker)
    Snapshot(version,
      kind = ls.headOption.collect {
        case Rewrite.marker => Rewrite
        case Mutate.marker => Mutate
      }.getOrElse(Append),
      files =
        if (!segmented) entries
        else LazyList.from(entries).flatMap(s => segment(nameOf(s))),
      dvs = ls.filter(_.startsWith(DvPrefix)).map(ManifestTable.parseDvLine),
      renames = fields(RenamePrefix).map(p => (p(0), p(1))),
      policies = fields(PolicyPrefix),
      props = fields(PropPrefix).map(p => p.head -> p.lift(1).getOrElse("")),
      schema = ls.find(_.startsWith(SchemaPrefix)).map(_.stripPrefix(SchemaPrefix)),
      epochs = fields(EpochPrefix).map(p => p(0) -> p(1).toLong),
      ts = ls.find(_.startsWith(TsPrefix)).map(_.stripPrefix(TsPrefix).toLong),
      segments = if (segmented) entries else Nil)
  }
}
