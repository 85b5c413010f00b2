package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Count-min sketch over 64-bit keys: a fixed-size frequency summary built
  * DISTRIBUTED (map-side partial sketches added cell-wise through the
  * shuffle — the shuffle carries depth×width longs per partition regardless
  * of input cardinality) and probed by a scalar expression.
  *
  * This is the bounded-state answer to "how often does each of these keys
  * occur in 100 TB of tokens" when the key space is too wide for an exact
  * group-by to be cheap and only estimates are needed: the sketch never
  * exceeds `depth·width·8` bytes, estimates are biased high only
  * (est ≥ true), and the overestimate is bounded by ~2N/width with high
  * probability across `depth` independent rows. The exact/approx contract is
  * surfaced by `q_cms_freq`, which checks the sketch against exact counts.
  *
  * Hash family: same double-hashing scheme as [[BloomSketch]] —
  * pos_d = ((x + d·h2) & MaxLong) mod width with h2 = (x·golden)|1 —
  * deterministic and seed-free, so build and probe agree by construction.
  *
  * Layout (self-describing): int depth, int width, then depth·width
  * big-endian longs, row-major.
  */
object CmsSketch {
  def estimate(bytes: Array[Byte], x: Long): Long = {
    val bb = ByteBuffer.wrap(bytes)
    val depth = bb.getInt(0)
    val width = bb.getInt(4)
    val h2 = (x * BloomSketch.Golden) | 1L
    var h = x
    var min = Long.MaxValue
    var d = 0
    while (d < depth) {
      val pos = ((h & Long.MaxValue) % width).toInt
      val c = bb.getLong(8 + (d * width + pos) * 8)
      if (c < min) min = c
      h += h2
      d += 1
    }
    min
  }
}

/** Mutable aggregation buffer: the cell counters plus the sketch geometry. */
final class CmsBuf(val depth: Int, val width: Int) {
  val cells = new Array[Long](depth * width)

  def add(x: Long): Unit = {
    val h2 = (x * BloomSketch.Golden) | 1L
    var h = x
    var d = 0
    while (d < depth) {
      val pos = ((h & Long.MaxValue) % width).toInt
      cells(d * width + pos) += 1L
      h += h2
      d += 1
    }
  }

  def mergeFrom(o: CmsBuf): Unit = {
    var i = 0
    while (i < cells.length) { cells(i) += o.cells(i); i += 1 }
  }
}

/** `cms_build(value, depth, width)` — aggregate producing the serialized
  * sketch as BINARY. Like `bloom_build`, partials are built map-side and
  * added cell-wise, so nothing unbounded crosses the shuffle or reaches the
  * driver. */
case class CmsBuildAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_build needs a bigint input, got ${other.sql}")
  }

  override def createAggregationBuffer(): CmsBuf = new CmsBuf(depth, width)

  override def update(buf: CmsBuf, input: InternalRow): CmsBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: CmsBuf, other: CmsBuf): CmsBuf = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: CmsBuf): Any = serialize(buf)

  override def serialize(buf: CmsBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.cells.length * 8)
    bb.putInt(buf.depth)
    bb.putInt(buf.width)
    buf.cells.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CmsBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CmsBuf(bb.getInt, bb.getInt)
    var i = 0
    while (i < buf.cells.length) { buf.cells(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(off: Int): CmsBuildAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): CmsBuildAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))

  override def prettyName: String = "cms_build"
}

/** `cms_query(sketch, value)` — min-over-rows point estimate. Codegen'd the
  * same way as `bloom_contains` (one shared helper, no per-row allocation),
  * though the registered query only probes it against a broadcast singleton.
  */
case class CmsQuery(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_query needs (binary, bigint), got ${l.sql} / ${r.sql}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    CmsSketch.estimate(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val helper = ctx.addNewFunction("graftCmsQuery",
        s"""
           |private long graftCmsQuery(byte[] b, long x) {
           |  int depth = ((b[0] & 0xff) << 24) | ((b[1] & 0xff) << 16)
           |      | ((b[2] & 0xff) << 8) | (b[3] & 0xff);
           |  int width = ((b[4] & 0xff) << 24) | ((b[5] & 0xff) << 16)
           |      | ((b[6] & 0xff) << 8) | (b[7] & 0xff);
           |  long h2 = (x * ${BloomSketch.Golden}L) | 1L;
           |  long h = x;
           |  long min = Long.MAX_VALUE;
           |  for (int d = 0; d < depth; d++) {
           |    int pos = (int) ((h & Long.MAX_VALUE) % width);
           |    int off = 8 + (d * width + pos) * 8;
           |    long c = 0L;
           |    for (int j = 0; j < 8; j++) { c = (c << 8) | (b[off + j] & 0xffL); }
           |    if (c < min) min = c;
           |    h += h2;
           |  }
           |  return min;
           |}
         """.stripMargin)
      s"${ev.value} = $helper($l, $r);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cms_query"
}

object CmsOps {
  /** Column-API wrappers. */
  def cmsBuild(value: Column, depth: Int, width: Int): Column =
    call_function("cms_build", value,
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))

  def cmsQuery(sketch: Column, value: Column): Column =
    call_function("cms_query", sketch, value)
}
