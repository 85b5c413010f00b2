package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity between two array columns
  * (`array<float>` or `array<double>`), accumulating in double.
  *
  * A custom `Expression` with `doGenCode` (not a Scala UDF) keeps the whole
  * stage inside Janino-generated code — no boxing, no SerDe, stays inside
  * WholeStageCodegen — which matters when it runs 25M times in a pairwise
  * similarity join. Double accumulation matches DuckDB's
  * `list_cosine_similarity(CAST(... AS DOUBLE[]))` bit-for-bit on the oracle.
  *
  * Zero-norm inputs yield 0.0 (no NaN poisoning in top-k sorts).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim needs array<float|double> inputs, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
  }

  private def isDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val (ld, rd) = (isDouble(left), isDouble(right))
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (ld) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (rd) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      // freshName everything: the same template may be instantiated several
      // times inside one codegen function scope
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val lGet = if (isDouble(left)) s"$l.getDouble($i)" else s"(double) $l.getFloat($i)"
      val rGet = if (isDouble(right)) s"$r.getDouble($i)" else s"(double) $r.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x$i = $lGet; double y$i = $rGet;
         |  $dot += x$i * y$i; $na += x$i * x$i; $nb += y$i * y$i;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

object VectorOps {
  /** Column-API wrapper. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
}
