package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The manifest table as a native STREAMING SOURCE — the read-side closure
  * of the lakehouse tier (sink: `StreamingOps.streamManifestSink`; batch
  * deltas: `ManifestTable.readChanges`; this: `spark.readStream.format(...)`
  * over the commit log).
  *
  * The offset IS the manifest version. `initialOffset` −1 (nothing
  * consumed), `latestOffset` the highest committed version, and each
  * micro-batch reads exactly the files new in `(startV, endV]` — the same
  * file-list set difference `readChanges` uses, so a micro-batch costs
  * O(its commits' data) and the source is exactly-once BY CONSTRUCTION:
  * version offsets serialize to the checkpoint log, a restarted query
  * resumes from its committed version, and the append-only manifest
  * guarantees a version range always resolves to the same immutable files
  * (the property Kafka needs retention windows to approximate).
  * `SupportsAdmissionControl` caps versions per batch (`versionsPerBatch`,
  * the maxOffsetsPerTrigger analog), so a backlog of commits drains in
  * bounded micro-batches and `Trigger.AvailableNow` replays the log through
  * MULTIPLE batches before stopping.
  *
  * Executor-side reading is real parquet via parquet-mr (ships with Spark):
  * schema inferred from the snapshot's first footer (flat primitive schemas
  * — the manifest data-file contract), one `InputPartition` per data file,
  * and column pruning pushed INTO the page reader by handing
  * `GroupReadSupport` a projected `MessageType` — pruned columns are never
  * decoded, the DSv2 analog of `ReadSchema` pruning on a native scan. */
class ManifestStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = ManifestStreamSource.pathOf(options)
    val v = ManifestTable.currentVersion(dir)
    require(v >= 0, s"manifest stream source: no committed snapshot in $dir")
    val files = ManifestTable.listFiles(dir, v)
    require(files.nonEmpty, s"manifest stream source: v$v lists no files in $dir")
    ManifestStreamSource.toSparkSchema(
      ManifestStreamSource.footerSchema(ManifestTable.dataPath(dir, files.head)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val dir = ManifestStreamSource.pathOf(opts)
    val perBatch = Option(opts.get("versionsPerBatch")).map(_.toInt)
      .getOrElse(Int.MaxValue)
    require(perBatch > 0, s"versionsPerBatch must be positive, got $perBatch")
    new ManifestStreamTable(dir, schema, perBatch)
  }
}

private[sources] object ManifestStreamSource {
  def pathOf(opts: CaseInsensitiveStringMap): String = {
    val p = opts.get("path")
    require(p != null && p.nonEmpty, "manifest stream source: 'path' option required")
    p
  }

  def footerSchema(file: String): MessageType = {
    val in = HadoopInputFile.fromPath(new Path(file), new Configuration())
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  /** Parquet file schema → Spark schema: flat scalar columns, DECIMAL
    * (INT32/INT64/BINARY/FLBA physical), plus standard 3-level LIST groups
    * of scalars (the embedding-column shape). Anything else nested is
    * rejected loudly rather than half-read. */
  def toSparkSchema(mt: MessageType): StructType = StructType(
    mt.getFields.asScala.map { f =>
      val dt =
        if (f.isPrimitive) toSparkType(f.asPrimitiveType())
        else f.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
            // group (LIST) { repeated group list/item { <element> } } —
            // positional resolution, so pyarrow's `item` naming works too
            val rep = f.asGroupType().getType(0).asGroupType()
            val el = rep.getType(0)
            require(el.isPrimitive, "manifest source: nested list " +
              s"elements unsupported in '${f.getName}'")
            ArrayType(toSparkType(el.asPrimitiveType()), containsNull = true)
          case _ => throw new IllegalArgumentException(
            s"manifest stream source: nested field '${f.getName}' unsupported")
        }
      StructField(f.getName, dt, nullable = true)
    }.toSeq)

  private def toSparkType(p: PrimitiveType): DataType =
    (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (_, d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
        DecimalType(d.getPrecision, d.getScale)
      case (PrimitiveTypeName.INT64, t: TimestampLogicalTypeAnnotation) =>
        require(t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS,
          s"timestamp unit ${t.getUnit} unsupported (micros only)")
        if (t.isAdjustedToUTC) TimestampType else TimestampNTZType
      case (PrimitiveTypeName.INT64, _) => LongType
      // Spark's default parquet timestamp encoding is legacy INT96
      // (12-byte julian day + nanos-of-day); Spark's own reader surfaces
      // it as TimestampType, so this source does too
      case (PrimitiveTypeName.INT96, _) => TimestampType
      case (PrimitiveTypeName.INT32, _: DateLogicalTypeAnnotation) => DateType
      case (PrimitiveTypeName.INT32, _) => IntegerType
      case (PrimitiveTypeName.DOUBLE, _) => DoubleType
      case (PrimitiveTypeName.FLOAT, _) => FloatType
      case (PrimitiveTypeName.BOOLEAN, _) => BooleanType
      case (PrimitiveTypeName.BINARY, _: StringLogicalTypeAnnotation) => StringType
      case (PrimitiveTypeName.BINARY, _) => BinaryType
      case (tn, lt) => throw new IllegalArgumentException(
        s"manifest stream source: unsupported parquet type $tn ($lt)")
    }
}

private[sources] class ManifestStreamTable(dir: String, tableSchema: StructType,
    perBatch: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_manifest_stream($dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestStreamScanBuilder(dir, tableSchema, perBatch)
}

private[sources] class ManifestStreamScanBuilder(dir: String,
    tableSchema: StructType, perBatch: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new ManifestMicroBatchStream(dir, required, perBatch)
  }
}

/** Offset = highest manifest version already consumed (inclusive). */
private[sources] case class VersionOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

private[sources] class ManifestMicroBatchStream(dir: String,
    required: StructType, perBatch: Int, startVersion: Int = 0)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // set ONLY under AvailableNow (freezes the drain target at query
  // start); ProcessingTime triggers re-read the live head each cycle so
  // the stream advances past versions committed after it started.
  // Option, not a -1 sentinel: an AvailableNow query starting on a
  // directory with NO committed snapshot must still terminate (freeze at
  // -1 = empty drain), not silently degrade to live-head tailing.
  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(ManifestTable.currentVersion(dir))

  // `startVersion` is the bootstrap handoff past historical row-level
  // DML: batch-read the snapshot at v, then stream startVersion = v+1 —
  // the first batch covers (startVersion-1, head], so a table whose
  // history holds mutation commits can still feed a FRESH stream.
  // Only consulted when no checkpoint exists (Spark's contract).
  override def initialOffset(): Offset = VersionOffset(startVersion - 1)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with SupportsAdmissionControl")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VersionOffset].v
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows().toInt // versions, not rows, here
      case _ => Int.MaxValue
    }
    val head =
      availableNowEnd.getOrElse(ManifestTable.currentVersion(dir))
    val end = math.min(head.toLong, from.toLong + cap).toInt
    VersionOffset(math.max(end, from))
  }

  override def getDefaultReadLimit: ReadLimit =
    if (perBatch == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(perBatch.toLong)

  /** True head of the log — lets AvailableNow drain a capped backlog across
    * multiple micro-batches and then stop. */
  override def reportLatestOffset(): Offset =
    VersionOffset(ManifestTable.currentVersion(dir))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].v
    val to = end.asInstanceOf[VersionOffset].v
    if (to <= from) return Array.empty
    // the per-version data-commit walk: rewrite commits (compaction /
    // optimize) contribute NOTHING — the stream keeps exactly-once across
    // table maintenance; row-level mutation commits throw (an append-only
    // feed cannot express them — the consumer must re-bootstrap)
    ManifestTable.changedFileNames(dir, from, to)
      .map(f => ManifestFilePartition(ManifestTable.dataPath(dir, f)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestParquetReaderFactory(required)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** The CHANGE DATA FEED as a STREAMING source — `spark.readStream
  * .table("graft.default.`t$changes`")`. Offsets are manifest versions
  * (exactly like [[ManifestMicroBatchStream]]), but each micro-batch emits
  * the version range's file-level DIFFS instead of refusing to cross a
  * mutation commit: added files stream as `_change_type='insert'` rows,
  * removed files (still on disk until vacuum) as `'delete'` rows, so an
  * incremental consumer follows a table THROUGH row-level DML — the sync
  * feed a downstream index or training-corpus refresh tails continuously.
  * Rewrite commits (compaction, clustering) are content-preserving by the
  * commit taxonomy and contribute nothing. Refused on deletion-vector or
  * rename markers in range (compact first) and on governed tables (the
  * feed exposes raw pre-mask rows) — same contract as the batch
  * `t$changes` relation, checked per micro-batch because the stream
  * outlives any single snapshot. `startVersion` begins the feed at a
  * known commit (the bootstrap handoff: batch-read a snapshot at v, then
  * stream `startVersion = v+1`); `versionsPerBatch` is the admission
  * cap, so a backlog drains in bounded micro-batches and
  * `Trigger.AvailableNow` replays the log through MULTIPLE batches. */
private[sources] class ChangesMicroBatchStream(dir: String, full: StructType,
    required: StructType, perBatch: Int, startVersion: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // GOVERNED feeds (round 13): the policy pins at STREAM CONSTRUCTION —
  // every emission in every micro-batch passes the pinned row filter and
  // masks, the same end-version contract as the batch feed. A policy
  // change mid-stream refuses loudly (per-batch check below) instead of
  // silently serving stale governance.
  private val pinnedPolicy = Snapshot.current(dir).policies
  private val governed =
    ChangesReaderFactory.bindPolicies(dir,
      ManifestTable.currentVersion(dir), full, required)
  // RENAMES cross the feed too (round 13): the chain pinned at stream
  // start reconciles every generation; a rename landing mid-stream
  // refuses per batch (below) — the consumer restarts to pick up the
  // evolved output schema
  private val pinnedRenames = Snapshot.current(dir).renames
  private val aliases =
    RenameAliases.of(dir, ManifestTable.currentVersion(dir), full.fieldNames)

  // set ONLY by prepareForTriggerAvailableNow: an AvailableNow run drains
  // up to the version frozen at start; a ProcessingTime trigger re-reads
  // the live manifest head each cycle so the feed really does tail a
  // table that keeps committing (a frozen head would park the stream at
  // the query-start version forever). Option, not a -1 sentinel — see
  // ManifestMicroBatchStream.
  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(ManifestTable.currentVersion(dir))

  override def initialOffset(): Offset = VersionOffset(startVersion - 1)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with SupportsAdmissionControl")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VersionOffset].v
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows().toInt // versions, not rows, here
      case _ => Int.MaxValue
    }
    val head =
      availableNowEnd.getOrElse(ManifestTable.currentVersion(dir))
    val end = math.min(head.toLong, from.toLong + cap).toInt
    VersionOffset(math.max(end, from))
  }

  override def getDefaultReadLimit: ReadLimit =
    if (perBatch == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(perBatch.toLong)

  override def reportLatestOffset(): Offset =
    VersionOffset(ManifestTable.currentVersion(dir))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].v
    val to = end.asInstanceOf[VersionOffset].v
    if (to <= from) return Array.empty
    // compare at the LIVE head, not `to`: a replay of pre-policy
    // versions is fine (the pinned policy governs those emissions, the
    // same end-version contract as the batch feed); only governance
    // CHANGING under the running stream refuses
    val head = Snapshot.current(dir)
    require(head.policies == pinnedPolicy,
      s"streaming $$changes on $dir: the governance policy changed since " +
        "the stream started — restart the feed to pick up the new policy")
    require(head.renames == pinnedRenames,
      s"streaming $$changes on $dir: a column rename landed since the " +
        "stream started — restart the feed to pick up the evolved schema")
    // the batch needs every manifest in [from, to] (from is the diff
    // base); a vacuumed version cannot be diffed — re-bootstrap instead
    (math.max(0, from) to to).foreach { v =>
      require(java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, f"manifest-v$v%08d.json")),
        s"version $v of $dir is vacuumed — restart the feed from a " +
          "retained version")
      // deletion vectors and renames both CROSS the feed since round 13
      // (ChangesDiff emits a MOR delete commit's newly-doomed live rows;
      // the pinned rename chain reconciles every generation in range)
    }
    (math.max(0, from + 1) to to)
      .flatMap(v => ChangesDiff.forVersion(dir, v): Seq[InputPartition])
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(required, governed, aliases)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toInt)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[sources] case class ManifestFilePartition(file: String) extends InputPartition

private[sources] class ManifestParquetReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ManifestParquetReader(
      partition.asInstanceOf[ManifestFilePartition].file, required)
}

/** Executor-side reader: one immutable data file → InternalRows of the
  * pruned columns. The projected `MessageType` is handed to
  * `GroupReadSupport`, so parquet-mr skips the pages of unread columns —
  * pruning happens in the decoder, not post-hoc.
  *
  * The metadata columns `_file` (this file's path) and `_pos` (the row's
  * ordinal in the file) are served WITHOUT touching parquet — they are the
  * row identity `SupportsDelta` row-level writes key their deletes on. A
  * physical column with either name (if a table really had one) wins: the
  * names are treated as metadata only when absent from the footer.
  *
  * `aliases` reconciles RENAME COLUMN generations (round 13): a required
  * name absent from this file's footer decodes from the first prior name
  * (most recent rename first) the footer does carry — old files serve
  * their rows under the evolved name with zero rewrites. */
private[sources] class ManifestParquetReader(file: String, required: StructType,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReader[InternalRow] {

  private val footer: MessageType = ManifestStreamSource.footerSchema(file)

  /** Physical footer name serving each required field: the field's own
    * name, or its most recent rename ancestor present in this file. */
  private val srcNames: Array[String] = required.fields.map { f =>
    if (footer.containsField(f.name)) f.name
    else aliases.getOrElse(f.name, Nil).find(footer.containsField)
      .getOrElse(f.name)
  }

  /** Required fields served from parquet (metadata names excluded). */
  private val isMeta: Array[Boolean] = required.fields.map(f =>
    (f.name == "_file" || f.name == "_pos") && !footer.containsField(f.name))

  /** Required fields this file predates (`ALTER TABLE ADD COLUMN` after
    * the file was written) — served as the column's EXISTS_DEFAULT when
    * one was declared (`ADD COLUMN … DEFAULT`), else NULL: the
    * merge-schema contract, extended with Spark's own column-default
    * semantics. Immutable files never rewrite either way. */
  private val isAbsent: Array[Boolean] = required.fields.zipWithIndex.map {
    case (_, i) => !isMeta(i) && !footer.containsField(srcNames(i))
  }

  /** Internal-format existence default per absent field (null when none
    * declared) — evaluated once per reader from the field metadata. */
  private val absentValue: Array[Any] = required.fields.zipWithIndex.map {
    case (f, i) =>
      if (isAbsent(i))
        org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          .getExistenceDefaultValue(f)
      else null
  }

  private val reader: ParquetReader[Group] = {
    val conf = new Configuration()
    val dataNames = required.fields.zipWithIndex
      .collect { case (_, i) if !isMeta(i) && !isAbsent(i) => srcNames(i) }
    if (required.nonEmpty) {
      val byName = footer.getFields.asScala.map(f => f.getName -> f).toMap
      // a projection with no physical columns (metadata-only, or every
      // required field post-dates this file) still needs one column to
      // drive row iteration: decode the footer's first field
      val names =
        if (dataNames.nonEmpty) dataNames.toSeq
        else Seq(footer.getFields.asScala.head.getName)
      val projected = new MessageType(footer.getName,
        names.map(byName(_)).toList.asJava)
      conf.set(ReadSupport.PARQUET_READ_SCHEMA, projected.toString)
    }
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf).build()
  }

  private var current: Group = _
  private var pos: Long = -1L
  private val filePathUtf8 = UTF8String.fromString(file)

  override def next(): Boolean = {
    current = reader.read()
    pos += 1
    current != null
  }

  /** Julian day of the unix epoch — INT96 timestamps count days from the
    * Julian calendar origin, micros from midnight. */
  private val JulianEpochDay = 2440588L

  private def int96Micros(g: Group, idx: Int): Long = {
    val buf = java.nio.ByteBuffer.wrap(g.getInt96(idx, 0).getBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    (julianDay - JulianEpochDay) * 86400000000L + nanosOfDay / 1000
  }

  override def get(): InternalRow = {
    val g = current
    val values = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      if (isMeta(i)) {
        values(i) =
          if (required(i).name == "_file") filePathUtf8 else pos
        i += 1
      } else if (isAbsent(i)) {
        values(i) = absentValue(i)
        i += 1
      } else {
      val name = srcNames(i)
      val idx = g.getType.getFieldIndex(name)
      values(i) =
        if (g.getFieldRepetitionCount(idx) == 0) null
        else required(i).dataType match {
          case TimestampType | TimestampNTZType
              if g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName ==
                PrimitiveTypeName.INT96 => int96Micros(g, idx)
          // TYPE-WIDENED reads: a file written before `ALTER COLUMN …
          // TYPE` keeps its narrow physical encoding; decode it and
          // widen in flight — the no-rewrite evolution contract
          case LongType
              if g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName ==
                PrimitiveTypeName.INT32 => g.getInteger(idx, 0).toLong
          case DoubleType
              if g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName ==
                PrimitiveTypeName.FLOAT => g.getFloat(idx, 0).toDouble
          case LongType | TimestampType | TimestampNTZType => g.getLong(idx, 0)
          case IntegerType | DateType => g.getInteger(idx, 0)
          case DoubleType => g.getDouble(idx, 0)
          case FloatType => g.getFloat(idx, 0)
          case BooleanType => g.getBoolean(idx, 0)
          case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
          case BinaryType => g.getBinary(idx, 0).getBytes
          case dt: DecimalType =>
            g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
              case PrimitiveTypeName.INT64 =>
                Decimal(g.getLong(idx, 0), dt.precision, dt.scale)
              case PrimitiveTypeName.INT32 =>
                Decimal(g.getInteger(idx, 0).toLong, dt.precision, dt.scale)
              case _ => // BINARY / FIXED_LEN_BYTE_ARRAY big-endian unscaled
                Decimal(BigDecimal(BigInt(
                  new java.math.BigInteger(g.getBinary(idx, 0).getBytes)),
                  dt.scale), dt.precision, dt.scale)
            }
          case ArrayType(et, _) => readArray(g.getGroup(idx, 0), et)
          case dt => throw new IllegalArgumentException(s"unsupported $dt")
        }
      i += 1
      }
    }
    new GenericInternalRow(values)
  }

  /** Decode one standard 3-level LIST value: `listGroup` is the outer
    * (LIST) wrapper; each repetition of its single field is one element
    * entry whose own single field holds the value (absent = NULL). */
  private def readArray(listGroup: Group, et: DataType): Any = {
    val n = listGroup.getFieldRepetitionCount(0)
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      val eg = listGroup.getGroup(0, j)
      out(j) =
        if (eg.getFieldRepetitionCount(0) == 0) null
        else et match {
          case LongType => eg.getLong(0, 0)
          case IntegerType => eg.getInteger(0, 0)
          case DoubleType => eg.getDouble(0, 0)
          case FloatType => eg.getFloat(0, 0)
          case BooleanType => eg.getBoolean(0, 0)
          case StringType => UTF8String.fromBytes(eg.getBinary(0, 0).getBytes)
          case BinaryType => eg.getBinary(0, 0).getBytes
          case other => throw new IllegalArgumentException(
            s"unsupported array element type $other")
        }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def close(): Unit = reader.close()
}
