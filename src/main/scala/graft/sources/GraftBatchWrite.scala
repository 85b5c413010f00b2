package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** The DISTRIBUTED write path for manifest tables (the V2 counterpart of
  * the staging the V1 insert bridge does through `DataFrame.write`):
  * every task writes its partition's rows straight into the table's
  * `data/` directory under a unique name — an invisible ORPHAN until a
  * manifest lists it, exactly the staging contract — and sends the file
  * name back as its commit message. The DRIVER turns the collected names
  * into manifest lines (harvesting footer stats for the table's stats
  * columns) and publishes ONE CAS commit. A failed/speculative task's
  * file stays an orphan for vacuum; nothing is ever visible early.
  *
  * Writing uses the same parquet-mr Group API the catalog's reader
  * decodes with (`ManifestParquetReader`) — schema round-trip is by
  * construction, and the supported type set is identical. */
private[sources] object GraftBatchWrite {

  /** Smallest FIXED_LEN_BYTE_ARRAY width that can carry any `precision`-
    * digit signed unscaled value — the same sizing rule Spark's own parquet
    * writer uses for wide decimals. */
  def minBytesForPrecision(precision: Int): Int = {
    var n = 1
    // 2^(8n-1) must exceed 10^precision (signed two's complement)
    while (!BigInt(2).pow(8 * n - 1).>(BigInt(10).pow(precision))) n += 1
    n
  }

  /** StructType → parquet MessageType (all fields optional, matching the
    * nullable rows Spark hands a writer). DECIMAL follows the standard
    * physical mapping (INT64 for precision ≤ 18, FIXED_LEN_BYTE_ARRAY
    * above — the reference's NUMBER fact columns,
    * /root/reference/dags/etl_spark_historical.py:50-61); ARRAY of scalars
    * is the standard 3-level LIST group (embedding columns). */
  def messageType(schema: StructType, name: String = "spark_schema"): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case LongType => b.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType => b.optional(PrimitiveTypeName.INT32).named(f.name)
        case DoubleType => b.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case FloatType => b.optional(PrimitiveTypeName.FLOAT).named(f.name)
        case BooleanType => b.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case StringType => b.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType => b.optional(PrimitiveTypeName.BINARY).named(f.name)
        case DateType => b.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case TimestampType => b.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(f.name)
        case TimestampNTZType => b.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(f.name)
        case dt: DecimalType if dt.precision <= 18 =>
          b.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision))
            .named(f.name)
        case dt: DecimalType =>
          b.optional(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
            .length(minBytesForPrecision(dt.precision))
            .as(LogicalTypeAnnotation.decimalType(dt.scale, dt.precision))
            .named(f.name)
        case ArrayType(et, _) =>
          val lb = Types.optionalList()
          val listed = et match {
            case LongType => lb.optionalElement(PrimitiveTypeName.INT64)
            case IntegerType => lb.optionalElement(PrimitiveTypeName.INT32)
            case DoubleType => lb.optionalElement(PrimitiveTypeName.DOUBLE)
            case FloatType => lb.optionalElement(PrimitiveTypeName.FLOAT)
            case BooleanType => lb.optionalElement(PrimitiveTypeName.BOOLEAN)
            case StringType => lb.optionalElement(PrimitiveTypeName.BINARY)
              .as(LogicalTypeAnnotation.stringType())
            case BinaryType => lb.optionalElement(PrimitiveTypeName.BINARY)
            case other => throw new IllegalArgumentException(
              s"unsupported array element type $other for column ${f.name}")
          }
          b.addFields(listed.named(f.name))
        case dt => throw new IllegalArgumentException(
          s"unsupported write type $dt for column ${f.name}")
      }
    }
    b.named(name)
  }
}

private[sources] case class GraftFileCommit(name: String, rows: Long)
    extends WriterCommitMessage

private[sources] class GraftWriterFactory(dir: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftParquetDataWriter(dir, schema, partitionId, taskId)
}

private[sources] class GraftParquetDataWriter(dir: String,
    schema: StructType, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  // unique per (partition, task attempt): speculative or retried attempts
  // never collide, and losers stay orphans
  private val name =
    s"w-${java.util.UUID.randomUUID().toString.take(8)}-p$partitionId-t$taskId.parquet"
  private val mt = GraftBatchWrite.messageType(schema)
  private val conf = new Configuration()
  GroupWriteSupport.setSchema(mt, conf)
  private val writer: ParquetWriter[Group] =
    ExampleParquetWriter.builder(new Path(s"$dir/data/$name"))
      .withConf(conf).build()
  private val factory = new SimpleGroupFactory(mt)
  private var rows = 0L

  override def write(r: InternalRow): Unit = {
    // row-level (ReplaceData) writes PREPEND Spark's `__row_operation`
    // int column; group-based replacements only ever emit write-flavored
    // rows, but a delete-flavored one must be dropped, never persisted
    val off = r.numFields - schema.length
    if (off != 0 && off != 1) throw new IllegalStateException(
      s"write row has ${r.numFields} fields, schema has ${schema.length}: " +
        schema.fieldNames.mkString(","))
    if (off == 1 && r.getInt(0) ==
        org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION)
      return
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!r.isNullAt(i + off)) {
        val n = schema(i).name
        schema(i).dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            g.add(n, r.getLong(i + off))
          case IntegerType | DateType => g.add(n, r.getInt(i + off))
          case DoubleType => g.add(n, r.getDouble(i + off))
          case FloatType => g.add(n, r.getFloat(i + off))
          case BooleanType => g.add(n, r.getBoolean(i + off))
          case StringType => g.add(n, r.getUTF8String(i + off).toString)
          case BinaryType => g.add(n,
            org.apache.parquet.io.api.Binary.fromConstantByteArray(
              r.getBinary(i + off)))
          case dt: DecimalType if dt.precision <= 18 =>
            g.add(n,
              r.getDecimal(i + off, dt.precision, dt.scale).toUnscaledLong)
          case dt: DecimalType =>
            // wide decimal: sign-extended big-endian unscaled value in the
            // schema's fixed width (the standard FLBA decimal encoding)
            val unscaled = r.getDecimal(i + off, dt.precision, dt.scale)
              .toJavaBigDecimal.unscaledValue()
            val w = GraftBatchWrite.minBytesForPrecision(dt.precision)
            val raw = unscaled.toByteArray
            val padded = new Array[Byte](w)
            if (unscaled.signum() < 0) java.util.Arrays.fill(padded, -1: Byte)
            System.arraycopy(raw, 0, padded, w - raw.length, raw.length)
            g.add(n,
              org.apache.parquet.io.api.Binary.fromConstantByteArray(padded))
          case ArrayType(et, _) =>
            val arr = r.getArray(i + off)
            val lg = g.addGroup(n) // the optional LIST wrapper group
            var j = 0
            while (j < arr.numElements()) {
              val eg = lg.addGroup(0) // one repeated `list` entry
              if (!arr.isNullAt(j)) et match { // absent element = NULL
                case LongType => eg.add(0, arr.getLong(j))
                case IntegerType => eg.add(0, arr.getInt(j))
                case DoubleType => eg.add(0, arr.getDouble(j))
                case FloatType => eg.add(0, arr.getFloat(j))
                case BooleanType => eg.add(0, arr.getBoolean(j))
                case StringType => eg.add(0, arr.getUTF8String(j).toString)
                case BinaryType => eg.add(0,
                  org.apache.parquet.io.api.Binary.fromConstantByteArray(
                    arr.getBinary(j)))
                case other =>
                  throw new IllegalArgumentException(s"unsupported $other")
              }
              j += 1
            }
          case dt => throw new IllegalArgumentException(s"unsupported $dt")
        }
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    GraftFileCommit(name, rows)
  }

  override def abort(): Unit = {
    writer.close()
    // best effort: remove the aborted attempt's orphan now (vacuum would
    // collect it anyway)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "data", name))
    ()
  }

  override def close(): Unit = ()
}

/** Streaming flavor of [[GraftWriterFactory]] — a top-level class so the
  * serialized factory carries only (dir, schema), never a closure over
  * the driver-side write machinery. */
private[sources] class GraftStreamingWriterFactory(dir: String,
    schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(dir, schema, partitionId, taskId)
}

// ---------------------------------------------------------------------
// DELTA row-level writes (SupportsDelta): the executor side of SQL
// UPDATE / MERGE / arbitrary DELETE. Each task receives only CHANGE
// records — deletes keyed by (_file, _pos), inserts as full rows —
// clustered so one task owns every delete of a given file. Deleting
// rewrites exactly that file, dropping doomed ordinals in one sequential
// parquet-mr Group copy (no InternalRow decode, type-agnostic, works for
// decimals/arrays/anything the file holds); inserts stage as ordinary
// new files. Everything stays an invisible orphan until the driver's one
// CAS commit.
// ---------------------------------------------------------------------

/** One task's delta outcome: staged insert files (name, rows, recorded
  * bucket id when the insert was bucket-routed), replaced files
  * (originalPath, replacementName — None when every row died,
  * survivorRows), and per-file EXACT column sums (`sums(file)(col)`) for
  * the table's declared `graft.write.sum` columns — accumulated while
  * writing inserts and while copying rewrite survivors, so the
  * metadata-served SUM tier stays armed straight through row-level DML. */
private[sources] case class GraftDeltaCommit(
    inserted: Seq[(String, Long, Option[Int])],
    replaced: Seq[(String, Option[String], Long)],
    sums: Map[String, Map[String, BigDecimal]] = Map.empty,
    // per-file HLL register blobs of the declared `graft.write.ndv`
    // columns (insert files registered row-by-row, rewrite files from
    // their survivors) — the CBO NDV tier stays armed through DML
    ndvs: Map[String, Map[String, Array[Byte]]] = Map.empty,
    // POSITIONAL deletion vectors (round 14): staged positions-parquet
    // name → the data files whose rows it dooms by ordinal. Non-empty
    // only under `graft.dml.mode = positional`, where the statement's
    // deletes publish as `#dv … _pos …` markers instead of rewrites.
    posDvs: Seq[(String, Set[String])] = Nil)
    extends WriterCommitMessage

private[sources] class GraftDeltaWriterFactory(dir: String,
    schema: StructType, fileIdx: Int, posIdx: Int,
    genExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
      Seq.empty,
    bucketSpec: Option[(Int, Int)] = None,
    sumCols: Seq[String] = Nil,
    dvByPath: Map[String, Seq[(String, String)]] = Map.empty,
    ndvCols: Seq[String] = Nil,
    dvAliases: Map[String, Seq[String]] = Map.empty,
    positional: Boolean = false)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(dir, schema, fileIdx, posIdx, partitionId, taskId,
      genExprs, bucketSpec, sumCols, dvByPath, ndvCols, dvAliases, positional)
}

private[sources] class GraftDeltaWriter(dir: String, schema: StructType,
    fileIdx: Int, posIdx: Int, partitionId: Int, taskId: Long,
    genExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
      Seq.empty,
    // (numBuckets, write-schema ordinal of the declared bucket column):
    // insert rows route to PER-BUCKET files — pmod(murmur3_42(value), n),
    // the exact hash the insert path's repartition clustered by — so each
    // staged file is bucket-pure and can carry its id in the manifest,
    // keeping storage-partitioned joins armed THROUGH a MERGE/UPDATE
    bucketSpec: Option[(Int, Int)] = None,
    sumCols: Seq[String] = Nil,
    // merge-on-read markers at the statement's snapshot: file path → its
    // deletion vectors (doomed-key parquet path, key column); a rewrite
    // of a targeted file drops dv-doomed survivors alongside the
    // position-doomed ones
    dvByPath: Map[String, Seq[(String, String)]] = Map.empty,
    ndvCols: Seq[String] = Nil,
    // rename composition: marker key column → its alias family (the
    // names a rewritten file's footer may physically key under)
    dvAliases: Map[String, Seq[String]] = Map.empty,
    // POSITIONAL mode (`graft.dml.mode = positional`, round 14): the
    // statement's deletes stage as ONE positions parquet per task and
    // publish as `#dv … _pos …` markers — no data file is rewritten, so
    // arbitrary-predicate DELETE/UPDATE/MERGE cost O(matched rows)
    positional: Boolean = false)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  // bucket id (-1 = unbucketed) → its insert file; LinkedHashMap keeps
  // commit-message order stable
  private val insertWriters =
    scala.collection.mutable.LinkedHashMap[Int, GraftParquetDataWriter]()
  // per-file doomed ordinals — LinkedHashMap keeps rewrite order stable
  private val doomed =
    scala.collection.mutable.LinkedHashMap[String, java.util.BitSet]()
  // the summable declared columns' (name, ordinal, type) in this write
  // schema — accumulated per insert file below, so a MERGE/UPDATE's new
  // files carry exact sums like any insert-path file
  private val sumSpec: Seq[(String, Int, DataType)] = sumCols.flatMap { c =>
    schema.fields.zipWithIndex.collectFirst {
      case (f, i) if f.name == c && (f.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _: DecimalType => true
        case _ => false
      }) => (c, i, f.dataType)
    }
  }
  private val insertSums = scala.collection.mutable.LinkedHashMap[Int,
    scala.collection.mutable.Map[String, BigDecimal]]()

  // the declared NDV columns' (name, ordinal, type) in this write schema,
  // restricted to exactly the types Spark's hll_sketch_agg accepts — the
  // register updates below MIRROR HllSketchAgg.update (ints widened to
  // long, strings as raw UTF-8 bytes with empties skipped) so blobs built
  // here UNION consistently with harvest-time blobs: the same value never
  // double-counts across files
  private val ndvSpec: Seq[(String, Int, DataType)] = ndvCols.flatMap { c =>
    schema.fields.zipWithIndex.collectFirst {
      case (f, i) if f.name == c && (f.dataType match {
        case LongType | IntegerType | StringType | BinaryType => true
        case _ => false
      }) => (c, i, f.dataType)
    }
  }
  private val insertNdvs = scala.collection.mutable.LinkedHashMap[Int,
    scala.collection.mutable.Map[String, org.apache.datasketches.hll.HllSketch]]()

  private def registerNdv(bucket: Int, row: InternalRow): Unit = {
    if (ndvSpec.isEmpty) return
    val acc = insertNdvs.getOrElseUpdate(bucket,
      scala.collection.mutable.Map.empty)
    ndvSpec.foreach { case (c, i, dt) =>
      // the sketch exists from the file's first row even if every value
      // is null (an EMPTY sketch unions as nothing) — a missing blob
      // would decline the whole snapshot's NDV at read time
      val sk = acc.getOrElseUpdate(c,
        new org.apache.datasketches.hll.HllSketch())
      if (!row.isNullAt(i)) {
        dt match {
          case LongType => sk.update(row.getLong(i))
          case IntegerType => sk.update(row.getInt(i).toLong)
          case StringType =>
            val s = row.getUTF8String(i)
            if (s.numBytes() > 0) sk.update(s.getBytes)
          case BinaryType =>
            val b = row.getBinary(i)
            if (b.length > 0) sk.update(b)
          case _ =>
        }
      }
    }
  }

  private def accumulate(bucket: Int, row: InternalRow): Unit = {
    if (sumSpec.isEmpty) return
    // a column accumulates only from non-null values — an all-null file
    // records NO sum for it (SQL's sum over only-nulls is NULL, and a
    // recorded 0 would mis-serve that case), declining the pushdown
    val acc = insertSums.getOrElseUpdate(bucket,
      scala.collection.mutable.Map.empty[String, BigDecimal])
    sumSpec.foreach { case (c, i, dt) =>
      if (!row.isNullAt(i)) {
        val x: BigDecimal = dt match {
          case LongType => BigDecimal(row.getLong(i))
          case IntegerType => BigDecimal(row.getInt(i))
          case ShortType => BigDecimal(row.getShort(i).toInt)
          case ByteType => BigDecimal(row.getByte(i).toInt)
          case d: DecimalType =>
            BigDecimal(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)
          case _ => BigDecimal(0)
        }
        acc(c) = acc.getOrElse(c, BigDecimal(0)) + x
      }
    }
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(fileIdx).toString
    val pos = id.getLong(posIdx)
    require(pos >= 0 && pos <= Int.MaxValue,
      s"row ordinal $pos out of range for $file")
    doomed.getOrElseUpdate(file, new java.util.BitSet()).set(pos.toInt)
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = {
    // GENERATED ALWAYS columns recompute HERE, on the post-assignment row
    // (the same overwrite-whatever-arrived contract the INSERT path
    // applies): an UPDATE that changes a dependency can never leave the
    // derived value stale, and a MERGE insert gets its derivation without
    // the user supplying it. The expressions arrive driver-resolved and
    // BOUND to this write schema, so evaluation is a row-local interpreted
    // projection — no per-row SQL, nothing non-distributed.
    val out =
      if (genExprs.isEmpty) row
      else {
        val arr = new Array[Any](schema.length)
        var i = 0
        while (i < schema.length) {
          arr(i) = if (row.isNullAt(i)) null else row.get(i, schema(i).dataType)
          i += 1
        }
        genExprs.foreach { case (idx, e) => arr(idx) = e.eval(row) }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
      }
    // the hash must be EXACTLY Spark's Murmur3Hash dispatch for the
    // column's type (what the insert path's repartition clustered by);
    // a type this mapping can't reproduce writes an UNSTAMPED file —
    // the scan then degrades to shuffling, never mis-groups
    val bucket = bucketSpec match {
      case Some((n, idx)) =>
        val h: Option[Int] =
          if (out.isNullAt(idx)) Some(42) // Murmur3Hash leaves the seed
          else {
            import org.apache.spark.unsafe.hash.Murmur3_x86_32._
            schema(idx).dataType match {
              case LongType | TimestampType | TimestampNTZType =>
                Some(hashLong(out.getLong(idx), 42))
              case IntegerType | DateType => Some(hashInt(out.getInt(idx), 42))
              case ShortType => Some(hashInt(out.getShort(idx).toInt, 42))
              case ByteType => Some(hashInt(out.getByte(idx).toInt, 42))
              case _ => None
            }
          }
        h.map(x => ((x % n) + n) % n).getOrElse(-1)
      case None => -1
    }
    insertWriters.getOrElseUpdate(bucket,
      new GraftParquetDataWriter(dir, schema, partitionId, taskId)).write(out)
    accumulate(bucket, out)
    registerNdv(bucket, out)
  }

  override def commit(): WriterCommitMessage = {
    val fileSums = scala.collection.mutable.Map[String, Map[String, BigDecimal]]()
    val fileNdvs =
      scala.collection.mutable.Map[String, Map[String, Array[Byte]]]()
    val ins = insertWriters.toSeq.map { case (b, w) =>
      val m = w.commit().asInstanceOf[GraftFileCommit]
      insertSums.get(b).filter(_.nonEmpty)
        .foreach(sm => fileSums(m.name) = sm.toMap)
      insertNdvs.get(b).filter(_.nonEmpty).foreach(nm =>
        fileNdvs(m.name) = nm.map { case (c, sk) =>
          c -> sk.toUpdatableByteArray }.toMap)
      (m.name, m.rows, if (b >= 0) Some(b) else None)
    }
    if (positional && doomed.nonEmpty) {
      // stage this task's doomed (file, ordinal) pairs as ONE positions
      // parquet — no data file is read or rewritten; the committer
      // publishes it as a `#dv … _pos …` marker targeting exactly the
      // files this task doomed rows of
      val (name, targets) = GraftDeltaWriter.stagePositions(
        dir, doomed, partitionId, taskId)
      posStaged = name
      return GraftDeltaCommit(ins, Nil, fileSums.toMap, fileNdvs.toMap,
        posDvs = Seq((name, targets)))
    }
    val repl = doomed.toSeq.map { case (path, bits) =>
      val (newName, rows, sums, ndvs) = GraftDeltaWriter.rewriteDropping(
        dir, path, bits, partitionId, taskId, sumCols,
        dvByPath.getOrElse(path, Nil), ndvCols, dvAliases)
      newName.filter(_ => sums.nonEmpty)
        .foreach(n => fileSums(n) = sums)
      newName.filter(_ => ndvs.nonEmpty)
        .foreach(n => fileNdvs(n) = ndvs)
      (path, newName, rows)
    }
    GraftDeltaCommit(ins, repl, fileSums.toMap, fileNdvs.toMap)
  }

  private var posStaged: String = null

  override def abort(): Unit = {
    insertWriters.values.foreach(_.abort())
    if (posStaged != null)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "data", posStaged))
  }

  override def close(): Unit = ()
}

private[sources] object GraftDeltaWriter {
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  /** Stage one POSITIONS parquet under `data/` (round 14;
    * roaring-compressed round 15): one row per doomed data file —
    * (`_file` = the file's BASENAME, `_bitmap` = its doomed physical
    * ordinals as a run-optimized roaring bitmap, the Iceberg-v3 puffin
    * DV shape at ~1-2 bits per doomed row dense). Returns (staged name,
    * target names in the COMMITTER's manifest-name convention:
    * table-relative for local files, the full path VERBATIM for
    * branch/clone references — so the published marker's target set
    * matches manifest line names on every table shape, and
    * clone()'s absolute re-mapping composes). A failure deletes the
    * partial file and rethrows — the statement aborts, nothing
    * published. */
  def stagePositions(dir: String,
      doomed: scala.collection.Map[String, java.util.BitSet],
      partitionId: Int, taskId: Long): (String, Set[String]) = {
    val dataPrefix = s"$dir/data/"
    val targets = Set.newBuilder[String]
    val entries = doomed.iterator.map { case (path, bits) =>
      val nm =
        if (path.startsWith(dataPrefix)) path.stripPrefix(dataPrefix)
        else path
      targets += nm
      val rb = new org.roaringbitmap.RoaringBitmap()
      var i = bits.nextSetBit(0)
      while (i >= 0) { rb.add(i); i = bits.nextSetBit(i + 1) }
      rb.runOptimize()
      DvKeyCache.baseName(nm) -> rb
    }
    val name =
      writePositionsFile(dir, entries, s"p$partitionId-t$taskId")
    (name, targets.result())
  }

  /** Low-level positions-parquet writer shared by the delta writer and
    * DV consolidation: rows of (`_file` basename, `_bitmap` roaring
    * blob). Refuses LOUDLY past `graft.dv.maxBytes` of serialized
    * bitmap per file — the readers' per-file heap bound — instead of
    * committing a table whose every read throws; a statement dooming
    * that much data should rewrite copy-on-write. On any failure the
    * partial file is deleted and the error rethrown. */
  def writePositionsFile(dir: String,
      entries: Iterator[(String, org.roaringbitmap.RoaringBitmap)],
      tag: String): String = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val mt = Types.buildMessage()
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("_file")
      .optional(BINARY).named("_bitmap")
      .named("graft_positions")
    val name = "pd-" + java.util.UUID.randomUUID().toString.take(8) +
      s"-$tag.parquet"
    val wconf = new Configuration()
    GroupWriteSupport.setSchema(mt, wconf)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/data/$name"))
      .withConf(wconf).build()
    val factory = new SimpleGroupFactory(mt)
    val budget = DvKeyCache.maxDvBytes
    var total = 0L
    try {
      entries.foreach { case (base, rb) =>
        val sz = rb.serializedSizeInBytes()
        total += sz
        if (total > budget) throw new IllegalStateException(
          s"positional DML dooms more than $budget serialized bitmap " +
            "bytes in one positions file (graft.dv.maxBytes) — run it " +
            "copy-on-write (unset graft.dml.mode) or raise the budget")
        val buf = java.nio.ByteBuffer.allocate(sz)
        rb.serialize(buf)
        val g = factory.newGroup()
        g.add("_file", base)
        g.add("_bitmap", org.apache.parquet.io.api.Binary
          .fromConstantByteArray(buf.array()))
        w.write(g)
      }
      w.close()
    } catch { case e: Throwable =>
      try w.close() catch { case _: Throwable => () }
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "data", name))
      throw e
    }
    name
  }

  /** Copy `path` minus the `doomedBits` ordinals into a freshly-named
    * orphan under this table's `data/` — a sequential parquet-mr Group
    * copy against the file's OWN schema, so every type the file can hold
    * round-trips untouched. While copying, EXACT SUMS of the declared
    * `sumCols` accumulate over the survivors (integral and decimal
    * physical encodings only — anything else simply yields no sum for
    * that column, an honest per-column decline), so the metadata-served
    * SUM tier survives the rewrite. When the file is targeted by
    * deletion vectors (`dvs`: doomed-key parquet path + key column), the
    * copy drops dv-doomed rows too — the replacement file materializes
    * the DV, so the committer strikes it from the markers' target sets.
    * Declared NDV columns re-register from the survivors into fresh HLL
    * blobs the same way (a rewrite only DROPS rows, so re-registering is
    * exact — the old blob may overcount retired values and cannot be
    * reused). Returns (None, 0, empty, empty) when no row survives. */
  def rewriteDropping(dir: String, path: String, doomedBits: java.util.BitSet,
      partitionId: Int, taskId: Long, sumCols: Seq[String] = Nil,
      dvs: Seq[(String, String)] = Nil, ndvCols: Seq[String] = Nil,
      dvAliases: Map[String, Seq[String]] = Map.empty)
      : (Option[String], Long, Map[String, BigDecimal],
         Map[String, Array[Byte]]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val mt = ManifestStreamSource.footerSchema(path)
    // dv-doomed key checks against this file's OWN physical encoding —
    // integral or string (the scan builder refused anything else long
    // before a write was planned); an all-null key cell is never doomed.
    // Under a rename chain the file may key the column under any of its
    // generation names — resolve through the marker's alias family.
    // POSITIONAL markers (key column `_pos`, round 14) doom this file's
    // rows by ordinal — checked against the copy loop's own position
    // counter, no column decode at all
    val targetName = path.substring(path.lastIndexOf('/') + 1)
    val posSets: Seq[org.roaringbitmap.RoaringBitmap] = dvs.collect {
      case (dvPath, DvKeyCache.PosCol) =>
        DvKeyCache.doomedPositions(dvPath, targetName)
    }
    val dvChecks: Seq[Group => Boolean] =
      dvs.filterNot(_._2 == DvKeyCache.PosCol).map { case (dvPath, col) =>
        val fam = dvAliases.getOrElse(col, Seq(col))
        val i = (0 until mt.getFieldCount)
          .find(j => fam.contains(mt.getFieldName(j)) &&
            mt.getType(j).isPrimitive)
          .getOrElse(throw new IllegalStateException(
            s"rewrite of $path: deletion-vector key column '$col' absent"))
        mt.getType(i).asPrimitiveType().getPrimitiveTypeName match {
          case INT64 =>
            val ks = DvKeyCache.doomed(dvPath, col)
            g => g.getFieldRepetitionCount(i) > 0 &&
              DvKeyCache.contains(ks, g.getLong(i, 0))
          case INT32 =>
            val ks = DvKeyCache.doomed(dvPath, col)
            g => g.getFieldRepetitionCount(i) > 0 &&
              DvKeyCache.contains(ks, g.getInteger(i, 0).toLong)
          case BINARY =>
            val ks = DvKeyCache.doomedBytes(dvPath, col)
            g => g.getFieldRepetitionCount(i) > 0 &&
              DvKeyCache.containsBytes(ks, g.getBinary(i, 0).getBytes)
          case other => throw new IllegalStateException(
            s"rewrite of $path: deletion-vector key column '$col' has " +
              s"physical type $other (expected integral or string) — " +
              "compact first")
        }
      }
    val name = "d-" + java.util.UUID.randomUUID().toString.take(8) +
      s"-p$partitionId-t$taskId.parquet"
    val wconf = new Configuration()
    GroupWriteSupport.setSchema(mt, wconf)
    // one extractor per summable declared column present in this file's
    // own schema, dispatched once — not per row
    val extractors: Seq[(String, Int, Group => BigDecimal)] =
      sumCols.flatMap { c =>
        val idx = (0 until mt.getFieldCount)
          .find(i => mt.getFieldName(i) == c && mt.getType(i).isPrimitive)
        idx.flatMap { i =>
          val pt = mt.getType(i).asPrimitiveType()
          val scale = pt.getLogicalTypeAnnotation match {
            case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              Some(d.getScale)
            case _ => None
          }
          (pt.getPrimitiveTypeName, scale) match {
            case (INT64, Some(s)) =>
              Some((c, i, (g: Group) => BigDecimal(BigInt(g.getLong(i, 0)), s)))
            case (INT64, None) =>
              Some((c, i, (g: Group) => BigDecimal(g.getLong(i, 0))))
            case (INT32, Some(s)) =>
              Some((c, i, (g: Group) =>
                BigDecimal(BigInt(g.getInteger(i, 0).toLong), s)))
            case (INT32, None) =>
              Some((c, i, (g: Group) => BigDecimal(g.getInteger(i, 0))))
            case (FIXED_LEN_BYTE_ARRAY | BINARY, Some(s)) =>
              Some((c, i, (g: Group) => BigDecimal(
                BigInt(new java.math.BigInteger(g.getBinary(i, 0).getBytes)), s)))
            case _ => None // float/double sums are order-dependent: never
          }
        }
      }
    // NDV re-registration over survivors, mirroring HllSketchAgg.update's
    // type dispatch against this file's OWN physical encoding (ints
    // widen to long; UTF8/raw binary as bytes, empties skipped); decimal
    // or other annotated encodings yield no updater — honest decline
    val ndvUpdaters: Seq[(String,
        org.apache.datasketches.hll.HllSketch, Group => Unit)] =
      ndvCols.flatMap { c =>
        val idx = (0 until mt.getFieldCount)
          .find(i => mt.getFieldName(i) == c && mt.getType(i).isPrimitive)
        idx.flatMap { i =>
          val pt = mt.getType(i).asPrimitiveType()
          val sk = new org.apache.datasketches.hll.HllSketch()
          val isDecimal = pt.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => true
            case _ => false
          }
          (pt.getPrimitiveTypeName, isDecimal) match {
            case (PrimitiveTypeName.INT64, false) =>
              Some((c, sk, (g: Group) =>
                if (g.getFieldRepetitionCount(i) > 0) sk.update(g.getLong(i, 0))))
            case (PrimitiveTypeName.INT32, false) =>
              Some((c, sk, (g: Group) =>
                if (g.getFieldRepetitionCount(i) > 0)
                  sk.update(g.getInteger(i, 0).toLong)))
            case (PrimitiveTypeName.BINARY, false) =>
              Some((c, sk, (g: Group) =>
                if (g.getFieldRepetitionCount(i) > 0) {
                  val b = g.getBinary(i, 0).getBytes
                  if (b.length > 0) sk.update(b)
                }))
            case _ => None
          }
        }
      }
    // same all-null rule as the insert side: a column with zero non-null
    // survivor values records no sum
    val sums = scala.collection.mutable.Map.empty[String, BigDecimal]
    val reader: ParquetReader[Group] =
      ParquetReader.builder(new GroupReadSupport(), new Path(path))
        .withConf(new Configuration()).build()
    var writer: ParquetWriter[Group] = null
    var rows = 0L
    var pos = 0
    try {
      var g = reader.read()
      while (g != null) {
        if (!doomedBits.get(pos) && !dvChecks.exists(_(g)) &&
            !posSets.exists(_.contains(pos))) {
          if (writer == null)
            writer = ExampleParquetWriter.builder(new Path(s"$dir/data/$name"))
              .withConf(wconf).build()
          writer.write(g)
          rows += 1
          extractors.foreach { case (c, i, f) =>
            if (g.getFieldRepetitionCount(i) > 0)
              sums(c) = sums.getOrElse(c, BigDecimal(0)) + f(g)
          }
          ndvUpdaters.foreach(_._3(g))
        }
        pos += 1
        g = reader.read()
      }
    } finally {
      reader.close()
      if (writer != null) writer.close()
    }
    if (writer == null) (None, 0L, Map.empty, Map.empty)
    else (Some(name), rows, sums.toMap,
      ndvUpdaters.map { case (c, sk, _) =>
        c -> sk.toUpdatableByteArray }.toMap)
  }
}

/** Driver side of the delta commit: swap replaced files' manifest lines
  * (stats re-harvested for the snapshot's recorded stat columns), drop
  * fully-deleted files, append insert lines, and carry every UNTOUCHED
  * line verbatim — one `#mutate` CAS against the statement's pinned
  * version.
  *
  * A lost CAS does NOT immediately fail the statement: if every file the
  * winning commits REMOVED since the pinned snapshot is disjoint from
  * this statement's READ set (the scan's pruning-admitted files) and
  * WRITTEN set (the files it rewrote), the delta is REBASE-safe — the
  * winner touched rows this statement provably never looked at — so the
  * commit rebuilds its lines on the winner's snapshot (the winner's
  * files carry verbatim, ours still swap) and retries. The concurrent
  * ingest-during-UPDATE case commits on both sides with zero re-reads;
  * genuinely overlapping writers (the winner rewrote or dropped a file we
  * read) still refuse explicitly — snapshot-isolation row-level commits,
  * the Iceberg/Delta optimistic-concurrency contract. */
private[sources] object GraftDeltaCommitter {
  def commit(dir: String, baseVersion: Int,
      messages: Array[WriterCommitMessage],
      readSet: () => Option[Set[String]] = () => None): Unit = {
    val staged = messages.collect { case m: GraftDeltaCommit => m }
    val inserted = staged.flatMap(_.inserted)
    val dataPrefix = s"$dir/data/"
    def nameOf(p: String) =
      if (p.startsWith(dataPrefix)) p.stripPrefix(dataPrefix) else p
    val replacedByName = staged.flatMap(_.replaced)
      .map { case (p, n, r) => nameOf(p) -> ((n, r)) }.toMap
    // POSITIONAL mode (round 14): the tasks' deletes arrive as staged
    // positions parquets; each publishes as a `#dv … _pos …` marker and
    // every data-file line carries VERBATIM — arbitrary-predicate DML
    // with zero rewrites
    val posDvs = staged.flatMap(_.posDvs)
      .map { case (f, ts) => ManifestTable.DvEntry(f, "_pos", ts) }
    if (inserted.isEmpty && replacedByName.isEmpty && posDvs.isEmpty)
      return // no-op statement
    val base = Snapshot.read(dir, baseVersion)
    val baseNames = base.names.toSet
    // exact sums the tasks accumulated (insert files + rewrite survivors),
    // attached as `c=Z:` legs so declared-sum tables keep their
    // metadata-served SUM through the statement
    val fileSums: Map[String, Map[String, BigDecimal]] =
      staged.flatMap(_.sums).toMap
    // HLL register blobs the tasks built (insert files row-by-row,
    // rewrites from survivors), attached as `c=H:` legs so CBO column
    // NDV stays servable from metadata straight through DML
    val fileNdvs: Map[String, Map[String, Array[Byte]]] =
      staged.flatMap(_.ndvs).toMap
    def withSums(line: String): String = {
      val nm = line.split('\t').head
      val zLeg = fileSums.get(nm).filter(_.nonEmpty).map { sm =>
        "\t" + sm.toSeq.sortBy(_._1)
          .map { case (c, x) => s"$c=Z:${x.bigDecimal.toPlainString}" }
          .mkString(";")
      }.getOrElse("")
      val hLeg = fileNdvs.get(nm).filter(_.nonEmpty).map { nm2 =>
        "\t" + nm2.toSeq.sortBy(_._1)
          .map { case (c, b) => s"$c=H:${ManifestTable.hexEncode(b)}" }
          .mkString(";")
      }.getOrElse("")
      line + zLeg + hLeg
    }
    def refuse(why: String): Nothing = throw new IllegalStateException(
      s"concurrent commit in $dir since v$baseVersion: $why — staged " +
        "files remain orphans; re-run the statement against the new " +
        "snapshot")
    // concurrent commits past the pinned version: rebase onto the head
    // when provably disjoint, refuse otherwise
    def requireRebaseSafe(head: Snapshot): Unit = {
      val removedSinceBase = baseNames -- head.names
      // conservative default when the scan never recorded its pruning:
      // the whole pinned snapshot counts as read
      val touched = replacedByName.keySet ++ readSet().getOrElse(baseNames)
      val overlap = removedSinceBase & touched
      if (overlap.nonEmpty) refuse(
        s"the winning commit removed file(s) this statement read or " +
          s"rewrote (${overlap.take(3).mkString(", ")})")
      // marker/governance state CHANGING mid-flight invalidates the
      // rebase's carry-verbatim reasoning — refuse rather than guess.
      // A stable dv-marker set is fine (the statement's rewrites
      // materialized exactly those markers' keys); a NEW or retired
      // marker means a concurrent MOR delete or compaction this
      // statement's rewrites never saw.
      if (head.dvs.map(ManifestTable.encodeDv).sorted !=
          base.dvs.map(ManifestTable.encodeDv).sorted)
        refuse("deletion-vector markers changed concurrently")
      // a STABLE rename set is fine (the statement's scan reconciled
      // exactly those generations); a new rename mid-flight is not
      if (head.renames != base.renames)
        refuse("rename markers changed concurrently")
      if (head.policies.nonEmpty)
        refuse("a governance policy landed concurrently")
      // a concurrent SCHEMA or CONSTRAINT change invalidates the
      // statement's validation context: its rows were analyzed and (for
      // constraints) checked against the PINNED declarations, so a rebase
      // would publish rows the new DDL never saw — refuse, never absorb
      if (base.schema != head.schema)
        refuse("a schema change landed concurrently")
      def constraints(s: Snapshot): Map[String, String] =
        s.properties.filter(_._1.startsWith(GraftCatalog.ConstraintProp))
      if (constraints(base) != constraints(head))
        refuse("a constraint change landed concurrently")
      // a concurrent PARTITION-SPEC change (round 15) invalidates the
      // statement's write shape: its insert files were bucket-stamped
      // under the PINNED spec, so replaying them onto the evolved
      // snapshot would publish stale ids the new transform mis-groups —
      // refuse, never absorb
      if (base.properties.get("graft.partitioning") !=
          head.properties.get("graft.partitioning"))
        refuse("the partition spec changed concurrently")
    }
    ManifestTable.commit(dir, Snapshot.Mutate) { head =>
      if (head.version != baseVersion) requireRebaseSafe(head)
      val prevEntries = head.entries
      val statsCols = prevEntries
        .flatMap(e => e.ranges.keys ++ e.strRanges.keys).distinct
      val bucketByName = prevEntries.flatMap(e => e.bucket.map(e.name -> _)).toMap
      val lines = head.files.flatMap { line =>
        val nm = line.split('\t').head
        replacedByName.get(nm) match {
          case None => Some(line) // untouched: VERBATIM
          case Some((None, _)) => None // every row deleted
          case Some((Some(newName), rows)) =>
            // a rewrite only DROPS rows, so the surviving rows' bucket
            // membership is unchanged — carry the old file's bucket id and
            // storage-partitioned joins survive a selective DELETE
            Some(withSums(ManifestTable.statLineFor(dir, newName, rows,
              statsCols, bucket = bucketByName.get(nm))))
        }
      } ++ inserted.map { case (n, r, b) =>
        // bucket-routed insert files are bucket-pure by construction and
        // carry their id, so storage-partitioned joins stay armed through
        // the statement; unbucketed inserts (no declared bucket transform)
        // carry none
        withSums(ManifestTable.statLineFor(dir, n, r, statsCols, bucket = b))
      }
      // deletion-vector markers carry with REWRITTEN files struck from
      // their target sets (the rewrite materialized the DV into the
      // replacement file); a marker left targeting nothing drops — the
      // delete→merge→select lifecycle never demands a compaction. Rename
      // markers carry VERBATIM: they are table-wide name mappings, and
      // both rewritten files (old physical names inside) and insert files
      // (evolved names) keep reconciling through them
      val next = head.copy(files = lines).strikeDvTargets
      Some(next.copy(dvs = next.dvs ++ posDvs))
    }
  }

  def abort(dir: String, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: GraftDeltaCommit =>
      (m.inserted.map(_._1) ++ m.replaced.flatMap(_._2) ++
        m.posDvs.map(_._1)).foreach { n =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "data", n))
      }
    }
}
