package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Heap buffer: holds at most k (score, id) pairs; the WORST retained pair
  * (lowest score, then largest id) sits at index 0 for O(log k) eviction.
  * Hand-rolled binary heap over parallel primitive arrays — the per-row
  * `add` is the aggregate's hot path and must not box. */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](math.max(1, k))
  val ids = new Array[Long](math.max(1, k))
  var size = 0

  // worse(a, b): a ranks below b
  private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)

  private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  def add(score: Double, id: Long): Unit = {
    if (size < k) {
      scores(size) = score; ids(size) = id; size += 1
      var i = size - 1 // sift up
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
        else i = 0
      }
    } else if (k > 0 && worse(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      var i = 0 // sift down
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < size && worse(scores(l), ids(l), scores(m), ids(m))) m = l
        if (r < size && worse(scores(r), ids(r), scores(m), ids(m))) m = r
        if (m == i) done = true
        else { swap(i, m); i = m }
      }
    }
  }
}

/** `top_k_by(score, id, k)` — TypedImperativeAggregate keeping the k highest
  * (score, id) pairs per group with a bounded heap.
  *
  * The window formulation (`row_number() over (partition by g order by s
  * desc) <= k`) must shuffle and FULLY SORT every group; this aggregate does
  * one pass with O(k) state per group and map-side partial aggregation —
  * the shuffle carries at most k pairs per (partition, group) instead of
  * every row. Ties break toward the smaller id, matching
  * `ORDER BY score DESC, id` oracles. Returns
  * `array<struct<score:double, id:bigint>>` sorted best-first.
  */
case class TopKByScore(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null)
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { buf.add(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val arr = Array.tabulate(buf.size)(i => (buf.scores(i), buf.ids(i)))
    // best first: score desc, id asc
    val sorted = arr.sortBy { case (s, i) => (-s, i) }
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 4 + buf.size * 16)
    bb.putInt(buf.k)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt)
    val n = bb.getInt
    (0 until n).foreach { _ => buf.add(bb.getDouble, bb.getLong) }
    buf
  }

  override def withNewMutableAggBufferOffset(off: Int): TopKByScore =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): TopKByScore =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))

  override def prettyName: String = "top_k_by"
}

object TopKAgg {
  /** Column-API wrapper. */
  def topKBy(score: Column, id: Column, k: Int): Column =
    call_function("top_k_by", score, id,
      org.apache.spark.sql.functions.lit(k))
}
