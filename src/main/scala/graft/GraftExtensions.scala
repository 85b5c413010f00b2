package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Session extensions: the one way graft's SQL surface reaches a session.
  * Every graft function (the table below) and every graft rule is injected
  * when the session is built, so `LocalSession`, a user session built with
  * `--conf spark.sql.extensions=graft.GraftExtensions`, and every session
  * derived from them (`newSession()`, clones) can call `cosine_sim`,
  * `top_k_by`, ... from SQL and through the Column wrappers in
  * `graft.functions` without any registration call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    // persistent-view substitution (inert unless the referenced catalog
    // is a configured GraftCatalog storing a view under the name)
    e.injectResolutionRule(s => new plans.GraftViewRule(s))
    // CREATE/DROP/SHOW VIEWS statement routing for graft catalogs —
    // intercepted at parse time because ResolveSessionCatalog throws
    // MISSING_CATALOG_ABILITY for v2 view DDL before any injected
    // resolution rule can run (inert for non-graft statements)
    e.injectParser((s, delegate) => new plans.GraftSqlParser(s, delegate))
    // band-join rewrite (inert until spark.graft.bandJoin.width is set)
    e.injectOptimizerRule(_ => plans.BandJoinRule)
    // materialized-view auto-rewrite (inert until a view registers)
    e.injectOptimizerRule(_ => plans.MvRewriteRule)
  }
}

object GraftExtensions {

  /** Every graft SQL function: name, expression class, builder. Arguments
    * that size or configure the expression must be literals. */
  val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      a => CosineSimilarity(a(0), a(1))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      a => SortedIntersectCount(a(0), a(1))),
    ("sorted_dot_product", classOf[SortedDotProduct],
      a => SortedDotProduct(a(0), a(1))),
    ("bloom_build", classOf[BloomBuildAgg],
      a => BloomBuildAgg(a(0), positive("bloom_build", "numBits", a(1)),
        positive("bloom_build", "k", a(2)))),
    ("bloom_contains", classOf[BloomContains],
      a => BloomContains(a(0), a(1))),
    ("cms_build", classOf[CmsBuildAgg],
      a => CmsBuildAgg(a(0), positive("cms_build", "depth", a(1)),
        positive("cms_build", "width", a(2)))),
    ("cms_query", classOf[CmsQuery],
      a => CmsQuery(a(0), a(1))),
    ("explode_shingles", classOf[ExplodeShingles],
      a => ExplodeShingles(a(0), positive("explode_shingles", "n", a(1)))),
    ("levenshtein_within", classOf[LevenshteinWithin],
      a => LevenshteinWithin(a(0), a(1), intLit("levenshtein_within", "k", a(2),
        k => k >= 0 && k <= 16, "in [0,16]"))),
    ("freq_items_mg", classOf[FreqItemsMG],
      a => FreqItemsMG(a(0), intLit("freq_items_mg", "k", a(1)))),
    ("multi_phrase_matches", classOf[MultiPhraseMatches],
      a => MultiPhraseMatches(a(0), phrasesOf(a(1)))),
    ("top_k_by", classOf[TopKByScore],
      a => TopKByScore(a(0), a(1), intLit("top_k_by", "k", a(2)))))

  /** Argument `what` of `fn` as an integer literal satisfying `ok`
    * (`rule` names the constraint in the error). */
  private def intLit(fn: String, what: String, e: Expression,
      ok: Int => Boolean = _ => true, rule: String = ""): Int = e match {
    case Literal(i: Int, IntegerType) =>
      require(ok(i), s"$fn: $what must be $rule, got $i")
      i
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $other")
  }

  private def positive(fn: String, what: String, e: Expression): Int =
    intLit(fn, what, e, _ > 0, "positive")

  /** `multi_phrase_matches`' phrase list: one `|`-joined string literal. */
  private def phrasesOf(e: Expression): AhoCorasick = e match {
    case Literal(v: UTF8String, StringType) =>
      new AhoCorasick(v.toString.split('|').map(_.trim).filter(_.nonEmpty))
    case other => throw new IllegalArgumentException(
      s"multi_phrase_matches: phrase list must be a string literal, got $other")
  }
}
