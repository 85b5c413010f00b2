package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression: intersection cardinality of two SORTED
  * distinct `array<bigint>` columns via a two-pointer merge scan —
  * O(|a|+|b|), zero allocation, fully codegen'd.
  *
  * This is the hot inner loop of pairwise set-similarity (n-gram Jaccard,
  * MinHash verification): `size(array_intersect(a, b))` builds a hash set and
  * an output array per pair; at millions of pairs that allocation churn
  * dominates and can GC-stall the executor. The merge scan does neither.
  * Inputs must be sorted ascending (`array_sort`) with distinct elements.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count needs array<bigint> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      // freshName everything: the same template may be instantiated several
      // times inside one codegen function scope
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $na = $l.numElements(), $nb = $r.numElements();
         |int $i = 0, $j = 0, $n = 0;
         |while ($i < $na && $j < $nb) {
         |  long $x = $l.getLong($i); long $y = $r.getLong($j);
         |  if ($x == $y) { $n++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

/** Native Catalyst expression: sparse dot product of two term-count vectors
  * encoded as SORTED `array<bigint>` of packed entries `(hash64 << 16) | tf`
  * (tf capped at 65535). A two-pointer merge matches entries on the high 48
  * hash bits and accumulates `tf_a * tf_b` — O(|a|+|b|) per pair, zero
  * allocation, fully codegen'd. This is the verify step of the prefix-filter
  * similarity join: the alternative (re-joining candidate pairs against the
  * posting table) fans every pair out by its term count through a shuffle.
  * Hash truncation to 48 bits makes cross-term collisions ~|vocab|²/2⁴⁹ —
  * negligible, and the DuckDB oracle (exact term equality) agrees whenever
  * no collision exists.
  */
case class SortedDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_dot_product needs array<bigint> inputs, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0; var j = 0; var dot = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      val hx = x >> 16; val hy = y >> 16
      if (hx == hy) { dot += (x & 0xffffL) * (y & 0xffffL); i += 1; j += 1 }
      else if (hx < hy) i += 1
      else j += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val hx = ctx.freshName("hx"); val hy = ctx.freshName("hy")
      s"""
         |int $na = $l.numElements(), $nb = $r.numElements();
         |int $i = 0, $j = 0;
         |long $dot = 0L;
         |while ($i < $na && $j < $nb) {
         |  long $x = $l.getLong($i); long $y = $r.getLong($j);
         |  long $hx = $x >> 16; long $hy = $y >> 16;
         |  if ($hx == $hy) { $dot += ($x & 0xffffL) * ($y & 0xffffL); $i++; $j++; }
         |  else if ($hx < $hy) { $i++; } else { $j++; }
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_dot_product"
}

object ArrayOps {
  /** Column-API wrapper. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)

  /** Column-API wrapper. */
  def sortedDotProduct(a: Column, b: Column): Column =
    call_function("sorted_dot_product", a, b)
}
