package graft.plans

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Optimizer rule: MATERIALIZED-VIEW AUTO-REWRITE — when a query aggregates
  * the same child with the same grouping as a registered view, and every
  * aggregate function it computes is one the view materialized, substitute
  * a scan of the view's data. The user keeps writing the aggregate over
  * the base table; the optimizer serves it from the precomputed result —
  * the warehouse feature that turns a 100 TB fact scan into a
  * |groups|-row read, with zero query rewrites by callers.
  *
  * Matching works on Spark's own `PhysicalAggregation` decomposition
  * (grouping expressions, deduplicated aggregate functions, result
  * expressions, child), NOT on whole-plan equality — by the time the rule
  * runs, `CollapseProject` has fused any post-aggregation arithmetic into
  * the aggregate's result expressions, so exact-plan matching would reject
  * the very queries users write. The core (child + groupings) and each
  * aggregate function are compared by canonicalized-plan keys that embed
  * every scanned relation's root paths — structural identity alone must
  * never cross-match two different tables. Result expressions (the fused
  * casts/arithmetic, possibly over a SUBSET of the view's aggregates) are
  * kept and re-bound: each matched aggregate call becomes the view's
  * column, each grouping reference the view's key column, original output
  * exprIds preserved so everything upstream resolves unchanged.
  *
  * The rule only fires when the view's `fresh` gate passes — a stale
  * materialization silently serving old rows is the classic MV
  * correctness bug, so staleness falls back to the base plan (correct,
  * just slower). Registration REFUSES definitions that are not simple
  * aggregates (each output a grouping key or one aliased aggregate call):
  * the simple shape is what makes rebinding sound. Injected by
  * `graft.GraftExtensions`; inert while the registry is empty.
  */
object MvRewriteRule extends Rule[LogicalPlan] {

  /** One registered view: the (child+groupings) core key, the per-aggregate
    * keys mapped to materialized column names, the grouping columns' names
    * in order, a supplier of the materialized scan, and the freshness
    * gate. */
  private final case class Mv(name: String, coreKey: String,
      aggCols: Map[String, String], groupCols: Seq[String],
      scan: () => LogicalPlan, fresh: () => Boolean)

  private val registry = new ConcurrentHashMap[String, Mv]()

  /** Canonicalized plan string + every scanned relation's root paths. */
  private[graft] def planKey(plan: LogicalPlan): String = {
    val paths = plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).sorted.mkString(",")
        case other => other.getClass.getName
      }
    }.mkString(";")
    s"${plan.canonicalized.toString}|$paths"
  }

  /** Key of the aggregation CORE — child and grouping expressions, output
    * names erased by canonicalization. */
  private def coreKey(g: Seq[NamedExpression], child: LogicalPlan): String =
    planKey(Aggregate(g, g.map(_.toAttribute), child))

  /** Key of ONE aggregate call in the context of its core — wrapping it in
    * a single-output aggregate over the same child lets canonicalization
    * normalize the child attribute ids, making calls comparable across
    * independently-built plans. */
  private def aggKey(ae: AggregateExpression, g: Seq[NamedExpression],
      child: LogicalPlan): String =
    planKey(Aggregate(g, Seq(Alias(ae, "a")()), child))

  /** Register (or replace) view `name`. `definition` must be a SIMPLE
    * aggregate (every output a grouping key or one aliased aggregate
    * call); `materialized` re-reads the view's data; `fresh` gates the
    * rewrite. Throws on a non-simple definition. */
  def register(name: String, definition: DataFrame,
      materialized: () => DataFrame, fresh: () => Boolean = () => true): Unit = {
    val plan = definition.queryExecution.optimizedPlan
    val mv = plan match {
      case PhysicalAggregation(g, aggs, results, child) =>
        val groupIds = g.map(_.toAttribute.exprId).toSet
        // PhysicalAggregation rewrites result expressions to reference each
        // aggregate call via its RESULT ATTRIBUTE — resolve those back
        val byResultId = aggs.map { e =>
          val ae = e.asInstanceOf[AggregateExpression]
          ae.resultAttribute.exprId -> ae
        }.toMap
        // simple-shape contract: outputs are grouping attrs or direct
        // aliases of exactly one aggregate call
        val aggCols = results.flatMap {
          case a: AttributeReference if groupIds.contains(a.exprId) => None
          case Alias(ar: AttributeReference, colName)
              if byResultId.contains(ar.exprId) =>
            Some(aggKey(byResultId(ar.exprId), g, child) -> colName)
          case other => throw new IllegalArgumentException(
            s"MV '$name': definition output '${other.sql}' is not a grouping " +
              "key or a direct aliased aggregate — not a simple aggregate view")
        }.toMap
        val groupCols = g.map { ne =>
          results.collectFirst {
            case a: AttributeReference if a.exprId == ne.toAttribute.exprId => a.name
          }.getOrElse(throw new IllegalArgumentException(
            s"MV '$name': grouping ${ne.sql} must appear in the output"))
        }
        Mv(name, coreKey(g, child), aggCols, groupCols,
          () => materialized().queryExecution.analyzed, fresh)
      case _ => throw new IllegalArgumentException(
        s"MV '$name': definition is not an aggregate")
    }
    registry.put(name, mv)
  }

  def unregister(name: String): Unit = registry.remove(name)
  def clear(): Unit = registry.clear()

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty) return plan
    val views = registry.values.asScala.toSeq
    plan.transformUp {
      case p: Aggregate => p match {
        case PhysicalAggregation(g, aggs0, results, child) =>
          val aggs = aggs0.map(_.asInstanceOf[AggregateExpression])
          val ck = coreKey(g, child)
          views.find(mv => mv.coreKey == ck &&
              aggs.forall(ae => mv.aggCols.contains(aggKey(ae, g, child))) &&
              mv.fresh()) match {
            case Some(mv) => rewrite(mv, g, aggs, results, child, p)
            case None => p
          }
        case _ => p
      }
    }
  }

  private def rewrite(mv: Mv, g: Seq[NamedExpression],
      aggs: Seq[AggregateExpression], results: Seq[NamedExpression],
      child: LogicalPlan, original: Aggregate): LogicalPlan = {
    val scan = mv.scan()
    val byName = scan.output.map(a => a.name -> a).toMap
    // every referenced view column must exist with the exact type — a
    // lossy or renamed materialization declines rather than corrupts
    val needed = mv.groupCols ++ aggs.map(ae => mv.aggCols(aggKey(ae, g, child)))
    if (!needed.forall(byName.contains)) return original
    val groupAttr: Map[ExprId, Attribute] = g.zip(mv.groupCols).map {
      case (ne, col) => ne.toAttribute.exprId -> byName(col)
    }.toMap
    val typesOk = g.zip(mv.groupCols).forall { case (ne, col) =>
      byName(col).dataType == ne.toAttribute.dataType } &&
      aggs.forall(ae => byName(mv.aggCols(aggKey(ae, g, child))).dataType == ae.dataType)
    if (!typesOk) return original
    val byResultId = aggs.map(ae => ae.resultAttribute.exprId -> ae).toMap
    val rebound = results.map { ne =>
      val t = ne.transform {
        case ae: AggregateExpression => byName(mv.aggCols(aggKey(ae, g, child)))
        case ar: AttributeReference if byResultId.contains(ar.exprId) =>
          byName(mv.aggCols(aggKey(byResultId(ar.exprId), g, child)))
        case a: AttributeReference if groupAttr.contains(a.exprId) =>
          groupAttr(a.exprId)
      }
      t match {
        case same: NamedExpression if same.exprId == ne.exprId => same
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    Project(rebound, scan)
  }
}
