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

/** Bloom-filter sketch over 64-bit keys, built DISTRIBUTED (map-side partial
  * sketches OR-merged through the shuffle — no driver-side collect of the
  * build side) and probed by a codegen'd expression.
  *
  * This is the runtime-filter pattern a 100 TB anti-join leans on: reduce a
  * huge probe side against a small-but-not-broadcastable key set by first
  * testing a ~kilobytes sketch, then running the exact join only on the
  * survivors. False positives are removed by the exact verify, so results
  * are identical to the plain join — the sketch only cuts the shuffle.
  *
  * Layout (self-describing): int numBits, int k, then ceil(numBits/64)
  * big-endian longs. Double hashing: pos_i = ((x + i·h2) & MaxLong) mod
  * numBits with h2 = (x · golden) | 1 — deterministic, seed-free.
  */
object BloomSketch {
  val Golden = 0x9e3779b97f4a7c15L

  def wordCount(numBits: Int): Int = (numBits + 63) >>> 6

  def contains(bytes: Array[Byte], x: Long): Boolean = {
    val bb = ByteBuffer.wrap(bytes)
    val numBits = bb.getInt(0)
    val k = bb.getInt(4)
    val h2 = (x * Golden) | 1L
    var h = x
    var i = 0
    while (i < k) {
      val pos = ((h & Long.MaxValue) % numBits).toInt
      if ((bb.getLong(8 + (pos >>> 6) * 8) & (1L << (pos & 63))) == 0L) return false
      h += h2
      i += 1
    }
    true
  }
}

/** Mutable aggregation buffer: the bit words plus the sketch geometry. */
final class BloomBuf(val numBits: Int, val k: Int) {
  val words = new Array[Long](BloomSketch.wordCount(numBits))

  def add(x: Long): Unit = {
    val h2 = (x * BloomSketch.Golden) | 1L
    var h = x
    var i = 0
    while (i < k) {
      val pos = ((h & Long.MaxValue) % numBits).toInt
      words(pos >>> 6) |= 1L << (pos & 63)
      h += h2
      i += 1
    }
  }

  def mergeFrom(o: BloomBuf): Unit = {
    var i = 0
    while (i < words.length) { words(i) |= o.words(i); i += 1 }
  }
}

/** `bloom_build(value, numBits, k)` — aggregate producing the serialized
  * sketch as BINARY. Partial sketches are built map-side and OR-merged, so
  * the shuffle carries one fixed-size bit array per partition regardless of
  * input cardinality. */
case class BloomBuildAgg(
    child: Expression,
    numBits: Int,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_build needs a bigint input, got ${other.sql}")
  }

  override def createAggregationBuffer(): BloomBuf = new BloomBuf(numBits, k)

  override def update(buf: BloomBuf, input: InternalRow): BloomBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BloomBuf, other: BloomBuf): BloomBuf = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: BloomBuf): Any = serialize(buf)

  override def serialize(buf: BloomBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.words.length * 8)
    bb.putInt(buf.numBits)
    bb.putInt(buf.k)
    buf.words.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BloomBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new BloomBuf(bb.getInt, bb.getInt)
    var i = 0
    while (i < buf.words.length) { buf.words(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(off: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))

  override def prettyName: String = "bloom_build"
}

/** `bloom_contains(sketch, value)` — codegen'd probe. The generated code
  * calls one shared helper method (header parse + k word tests), keeping the
  * whole-stage span intact with no per-row allocation. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_contains needs (binary, bigint), got ${l.sql} / ${r.sql}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    BloomSketch.contains(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val helper = ctx.addNewFunction("graftBloomContains",
        s"""
           |private boolean graftBloomContains(byte[] b, long x) {
           |  int numBits = ((b[0] & 0xff) << 24) | ((b[1] & 0xff) << 16)
           |      | ((b[2] & 0xff) << 8) | (b[3] & 0xff);
           |  int k = ((b[4] & 0xff) << 24) | ((b[5] & 0xff) << 16)
           |      | ((b[6] & 0xff) << 8) | (b[7] & 0xff);
           |  long h2 = (x * ${BloomSketch.Golden}L) | 1L;
           |  long h = x;
           |  for (int i = 0; i < k; i++) {
           |    int pos = (int) ((h & Long.MAX_VALUE) % numBits);
           |    int off = 8 + (pos >>> 6) * 8;
           |    long w = 0L;
           |    for (int j = 0; j < 8; j++) { w = (w << 8) | (b[off + j] & 0xffL); }
           |    if ((w & (1L << (pos & 63))) == 0L) return false;
           |    h += h2;
           |  }
           |  return true;
           |}
         """.stripMargin)
      s"${ev.value} = $helper($l, $r);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "bloom_contains"
}

object BloomOps {
  /** Column-API wrappers. */
  def bloomBuild(value: Column, numBits: Int, k: Int): Column =
    call_function("bloom_build", value,
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(k))

  def bloomContains(sketch: Column, value: Column): Column =
    call_function("bloom_contains", sketch, value)
}
