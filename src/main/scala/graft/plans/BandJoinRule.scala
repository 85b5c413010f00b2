package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: rewrite a pure band join — an inner join whose only
  * cross-side predicates are `x >= lo AND x < hi` — into a bucket-blocked
  * equi-join.
  *
  * Spark plans a non-equi inner join as BroadcastNestedLoopJoin: O(n·m)
  * compares and a hard requirement that one side fits in memory — the shape
  * that dies first at 100 TB. With a user-declared bucket width `w`
  * (`spark.graft.bandJoin.width`, banded semantics require hi-lo ≤ some
  * small multiple of w), the probe side gains `bkt = floor(x/w)`, the band
  * side explodes into every bucket its [lo, hi) interval overlaps, and the
  * join becomes an equi-join on `bkt` with the original predicate kept as a
  * residual verification filter. The shuffle carries (row, bucket) pairs —
  * linear in input, partitionable, with per-row fanout bounded by
  * ceil((hi-lo)/w)+1 regardless of table sizes.
  *
  * Scope guards: inner joins only, no existing cross-side equality conjunct
  * (those already hash-partition fine), both bounds from one side and the
  * probe value from the other, everything implicitly castable to double.
  * Injected by `graft.GraftExtensions`; inert until the width conf is set
  * positive.
  */
object BandJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val WidthConf = "spark.graft.bandJoin.width"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = conf.getConfString(WidthConf, "0").toDouble
    if (width <= 0) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) =>
        findBand(j, cond) match {
          case Some((x, lo, hi, probeIsLeft)) => rewrite(j, cond, x, lo, hi, probeIsLeft, width)
          case None => j
        }
    }
  }

  /** Locate the band pattern; None if the join is ineligible. */
  private def findBand(j: Join, cond: Expression)
      : Option[(Expression, Expression, Expression, Boolean)] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def sideOf(e: Expression): Option[Boolean] = {
      val refs = e.references
      if (refs.isEmpty) None
      else if (refs.subsetOf(j.left.outputSet)) Some(true)
      else if (refs.subsetOf(j.right.outputSet)) Some(false)
      else None
    }
    // an existing cross-side equality conjunct means Spark already has an
    // equi-key to hash on — leave the plan alone
    val hasEquiKey = conjuncts.exists {
      case EqualTo(a, b) => (sideOf(a), sideOf(b)) match {
        case (Some(sa), Some(sb)) => sa != sb
        case _ => false
      }
      case _ => false
    }
    if (hasEquiKey) return None
    def numeric(e: Expression): Boolean =
      Cast.canCast(e.dataType, DoubleType) && e.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    // x >= lo with x and lo on opposite sides (either orientation of the
    // comparison and either assignment of plan sides)
    val lowers = conjuncts.collect {
      case GreaterThanOrEqual(x, lo) => (x, lo)
      case LessThanOrEqual(lo, x) => (x, lo)
    }
    val uppers = conjuncts.collect {
      case LessThan(x, hi) => (x, hi)
      case GreaterThan(hi, x) => (x, hi)
    }
    (for {
      (x1, lo) <- lowers
      (x2, hi) <- uppers
      if x1.semanticEquals(x2)
      xs <- sideOf(x1)
      los <- sideOf(lo)
      his <- sideOf(hi)
      if los == his && los != xs
      if numeric(x1) && numeric(lo) && numeric(hi)
    } yield (x1, lo, hi, xs)).headOption
  }

  private def rewrite(j: Join, cond: Expression, x: Expression,
      lo: Expression, hi: Expression, probeIsLeft: Boolean,
      width: Double): LogicalPlan = {
    val (probe, band) = if (probeIsLeft) (j.left, j.right) else (j.right, j.left)
    def bucketOf(e: Expression): Expression =
      Floor(Divide(Cast(e, DoubleType), Literal(width)))
    // probe side: one bucket per row
    val probeBkt = Alias(bucketOf(x), "__graft_bkt_probe")()
    val newProbe = Project(probe.output :+ probeBkt, probe)
    // band side: every bucket [lo, hi) overlaps. floor(hi/w) over-covers by
    // one bucket when hi is an exact multiple of w — the residual predicate
    // filters any false pair, so over-coverage is only (bounded) extra work.
    val bandBktAttr = AttributeReference("__graft_bkt_band", LongType, nullable = false)()
    // Sequence is TimeZoneAwareExpression: without an explicit zone it stays
    // unresolved and the optimizer's plan validation rejects the rewrite
    val seq = Sequence(bucketOf(lo), bucketOf(hi), None,
      Some(conf.sessionLocalTimeZone))
    val newBand = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None,
      generatorOutput = Seq(bandBktAttr), child = band)
    val newCond = And(EqualTo(probeBkt.toAttribute, bandBktAttr), cond)
    val (l, r) = if (probeIsLeft) (newProbe, newBand) else (newBand, newProbe)
    Project(j.output, Join(l, r, Inner, Some(newCond), j.hint))
  }
}
