package graft.functions

import java.nio.ByteBuffer
import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Misra–Gries frequent-items summary over long keys: at most `k` counters,
  * open-addressed on parallel primitive arrays (count==0 marks an empty
  * slot — a live counter is always ≥ 1 — so the per-row hot path allocates
  * nothing and never boxes).
  *
  * Overflow trim = the classic MG step batched: when a (k+1)-th key arrives,
  * subtract the (k+1)-th largest count from every counter and drop the
  * non-positives. Each subtraction of δ accounts for δ·(k+1) dropped stream
  * occurrences, so any key with true count > n/(k+1) ALWAYS survives and
  * every retained estimate undercounts by at most n/(k+1). Partial buffers
  * merge by counter addition followed by the same trim — the mergeable-
  * summaries construction (Agarwal et al., PODS'12) — so the aggregate
  * map-side combines: each task ships ≤ k counters regardless of input
  * size, the 100 TB posture a groupBy-count candidate pass lacks.
  */
final class MGBuffer(val k: Int) {
  // capacity: power of two ≥ 4k keeps load ≤ ~0.25 after trims
  val cap: Int = Integer.highestOneBit(math.max(4, k * 4) - 1) << 1
  private val mask = cap - 1
  val keys = new Array[Long](cap)
  val counts = new Array[Long](cap)
  var size = 0

  private def slot(key: Long): Int = {
    // finalizer of splitmix64 — avalanche so sequential keys spread
    var h = key
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    var i = h.toInt & mask
    while (counts(i) != 0 && keys(i) != key) i = (i + 1) & mask
    i
  }

  def add(key: Long, n: Long): Unit = {
    val i = slot(key)
    if (counts(i) != 0) counts(i) += n
    else {
      keys(i) = key; counts(i) = n; size += 1
      if (size > k) trim()
    }
  }

  /** Subtract the (k+1)-th largest count from all counters, drop ≤ 0. */
  private def trim(): Unit = {
    val live = new Array[Long](size)
    var i = 0; var j = 0
    while (i < cap) { if (counts(i) != 0) { live(j) = counts(i); j += 1 }; i += 1 }
    Arrays.sort(live)
    val sub = live(size - (k + 1)) // (k+1)-th largest
    val oldKeys = new Array[Long](size)
    val oldCounts = new Array[Long](size)
    i = 0; j = 0
    while (i < cap) {
      if (counts(i) != 0) { oldKeys(j) = keys(i); oldCounts(j) = counts(i); j += 1 }
      counts(i) = 0
      i += 1
    }
    size = 0
    i = 0
    while (i < j) {
      val c = oldCounts(i) - sub
      if (c > 0) { val s = slot(oldKeys(i)); keys(s) = oldKeys(i); counts(s) = c; size += 1 }
      i += 1
    }
  }

  def mergeFrom(other: MGBuffer): Unit = {
    var i = 0
    while (i < other.cap) {
      if (other.counts(i) != 0) add(other.keys(i), other.counts(i))
      i += 1
    }
  }

  /** Retained keys, ascending — the candidate set. */
  def result(): Array[Long] = {
    val out = new Array[Long](size)
    var i = 0; var j = 0
    while (i < cap) { if (counts(i) != 0) { out(j) = keys(i); j += 1 }; i += 1 }
    Arrays.sort(out)
    out
  }
}

/** `freq_items_mg(key, k)` — returns `array<bigint>`: every key whose true
  * count exceeds n/(k+1) (plus possibly some below — callers verify
  * candidates with an exact count pass restricted to them). */
case class FreqItemsMG(
    keyExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGBuffer] {

  override def children: Seq[Expression] = Seq(keyExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType)

  override def createAggregationBuffer(): MGBuffer = new MGBuffer(k)

  override def update(buf: MGBuffer, input: InternalRow): MGBuffer = {
    val v = keyExpr.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], 1L)
    buf
  }

  override def merge(buf: MGBuffer, other: MGBuffer): MGBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: MGBuffer): Any =
    new GenericArrayData(buf.result())

  override def serialize(buf: MGBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 4 + buf.size * 16)
    bb.putInt(buf.k)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.cap) {
      if (buf.counts(i) != 0) { bb.putLong(buf.keys(i)); bb.putLong(buf.counts(i)) }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MGBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MGBuffer(bb.getInt)
    val n = bb.getInt
    (0 until n).foreach(_ => buf.add(bb.getLong, bb.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(off: Int): FreqItemsMG =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): FreqItemsMG =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keyExpr = newChildren(0))

  override def prettyName: String = "freq_items_mg"
}

object FreqItemsAgg {
  /** Column-API wrapper. */
  def freqItemsMg(key: Column, k: Int): Column =
    call_function("freq_items_mg", key,
      org.apache.spark.sql.functions.lit(k))
}
