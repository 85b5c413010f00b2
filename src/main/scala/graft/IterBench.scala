package graft


/** Multi-scale fixpoint measurement: `IterBench <sfDir>` builds the
  * SCALE-PATH near-dup pair graph (MinHash+LSH banding — pair count and
  * build cost grow ~linearly with the corpus, unlike the exact
  * n-gram-Jaccard baseline, which is all-pairs-per-language and therefore
  * ~10^4× more work at a 100× corpus: infeasible by arithmetic, which is
  * the measured POINT of the sketch tier), then times BOTH connected-
  * component algorithms over it and reports their ROUND COUNTS — the
  * number the O(log n) star-contraction claim is about, since every round
  * is one full shuffle at any scale. One line per run:
  *
  * `[iterbench] dir=… pairs=N star_rounds=R star_secs=S lp_rounds=R lp_secs=S agree=true`
  *
  * Run at sf0.1 / sf1 (/tmp/graft_sf1) / sf10 (/tmp/graft_sf10) for the
  * SF1.md round-9 table. `agree` cross-checks the two algorithms' labelings
  * row-for-row — each validates the other at every scale.
  */
object IterBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    Materialize.scoped { held =>
      val pairs = held(operators.DedupOps.minhashLsh(spark, dir)
        .select("doc_a", "doc_b"))
      val n = pairs.count()

      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val ((starLabels, starRounds), starSecs) = timed {
        val (df, r) = operators.CurationOps.starComponentsWithRounds(spark, pairs)
        val mat = df.localCheckpoint(true) // materialize inside the timing
        (mat, r)
      }
      val ((lpLabels, lpRounds), lpSecs) = timed {
        val (df, r) = operators.CurationOps.labelPropagationWithRounds(spark, pairs)
        val mat = df.localCheckpoint(true)
        (mat, r)
      }
      // the two algorithms must produce the SAME labeling (symmetric diff 0)
      val agree = starLabels.exceptAll(lpLabels).isEmpty &&
        lpLabels.exceptAll(starLabels).isEmpty
      println(f"[iterbench] dir=$dir pairs=$n star_rounds=$starRounds " +
        f"star_secs=$starSecs%.1f lp_rounds=$lpRounds lp_secs=$lpSecs%.1f agree=$agree")
    }
    spark.stop()
  }
}
