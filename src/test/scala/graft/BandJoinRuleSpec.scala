package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BandJoinRule: the naive inequality join must be rewritten to a
  * bucket-blocked equi-join (no nested-loop join in the physical plan) and
  * stay semantics-identical. */
class BandJoinRuleSpec extends AnyFunSuite {
  import TestSpark._

  private def naiveAgg() = {
    import spark.implicits._
    val parts = Tables.part(spark, sf).select($"p_partkey", $"p_retailprice")
    val bands = spark.range(20).select(
      $"id".cast("int").as("band_id"),
      (lit(900.0) + $"id" * 5.0).as("lo"),
      (lit(910.0) + $"id" * 5.0).as("hi"))
    parts.join(bands, $"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
      .groupBy($"band_id")
      .agg(count(lit(1)).as("n_parts"))
  }

  private def withRule[A](f: => A): A = {
    spark.conf.set(plans.BandJoinRule.WidthConf, "5.0")
    try f finally spark.conf.set(plans.BandJoinRule.WidthConf, "0")
  }

  test("rule is inert when width conf is unset") {
    spark.conf.set(plans.BandJoinRule.WidthConf, "0")
    val plan = naiveAgg().queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"baseline should nested-loop, got:\n$plan")
  }

  test("rule rewrites the band join to an equi-join with identical results") {
    val baseline = naiveAgg().collect()
      .map(r => r.getAs[Int]("band_id") -> r.getAs[Long]("n_parts")).toMap
    withRule {
      val df = naiveAgg()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"band join not rewritten:\n$plan")
      assert(plan.contains("__graft_bkt"), s"bucket key missing:\n$plan")
      val got = df.collect()
        .map(r => r.getAs[Int]("band_id") -> r.getAs[Long]("n_parts")).toMap
      assert(got == baseline)
    }
  }

  test("rule leaves equi-key joins alone") {
    import spark.implicits._
    withRule {
      // join with an equality conjunct plus a range conjunct — the existing
      // hash key makes the rewrite unnecessary; the rule must not fire
      val o = Tables.orders(spark, sf).select($"o_custkey", $"o_totalprice")
      val c = Tables.customer(spark, sf)
        .select($"c_custkey", lit(0.0).as("lo2"), lit(1e9).as("hi2"))
      val df = o.join(c, $"o_custkey" === $"c_custkey" &&
        $"o_totalprice" >= $"lo2" && $"o_totalprice" < $"hi2")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_bkt"), s"rule fired on equi-join:\n$plan")
      assert(df.count() > 0)
    }
  }

  test("registered q_band_join_auto matches the hand-bucketed q_range_join") {
    val auto = operators.RangeOps.bandJoinAuto(spark, sf).collect()
      .map(r => (r.getAs[Int]("band_id"), r.getAs[Long]("n_parts"),
        r.getAs[Double]("sum_price"))).toSet
    val hand = operators.RangeOps.rangeJoin(spark, sf).collect()
      .map(r => (r.getAs[Int]("band_id"), r.getAs[Long]("n_parts"),
        r.getAs[Double]("sum_price"))).toSet
    assert(auto == hand)
  }

  test("q_band_join_auto is rewritten by the rule GraftExtensions injects") {
    val fresh = spark.newSession() // no rule added to extraOptimizations
    val plan = operators.RangeOps.bandJoinAuto(fresh, sf).queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bkt") && !plan.contains("BroadcastNestedLoopJoin"),
      s"band join not rewritten:\n$plan")
  }
}
