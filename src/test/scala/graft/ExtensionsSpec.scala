package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  import TestSpark._

  test("a new session has all 12 graft functions without any registration call") {
    val fresh = spark.newSession()
    val names = Seq("cosine_sim", "sorted_intersect_count", "sorted_dot_product",
      "bloom_build", "bloom_contains", "cms_build", "cms_query", "explode_shingles",
      "levenshtein_within", "freq_items_mg", "multi_phrase_matches", "top_k_by")
    assert(GraftExtensions.sqlFunctions.map(_._1).sorted == names.sorted)
    val missing = names.filterNot(n => fresh.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not in a new session: ${missing.mkString(", ")}")
    val topK = fresh.sql(
      "SELECT top_k_by(score, id, 2) FROM VALUES (0.5D, 7L) AS t(score, id)").collect()
    assert(topK.head.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(1)) == Seq(7L))
    val cms = fresh.sql(
      "SELECT cms_build(k, 4, 64) FROM VALUES (7L) AS t(k)").collect()
    assert(cms.head.getAs[Array[Byte]](0).nonEmpty)
  }

  test("cosine_sim expression: known values, zero-norm safety") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0f, 0f), Array(1.0f, 0f, 0f), 1.0),
      (Array(1.0f, 0f, 0f), Array(0f, 1.0f, 0f), 0.0),
      (Array(1.0f, 2f, 0f), Array(0f, 0f, 0f), 0.0), // zero norm -> 0, not NaN
      (Array(3.0f, 4f, 0f), Array(6.0f, 8f, 0f), 1.0)
    ).toDF("a", "b", "expected")
    val bad = df.filter(
      abs(functions.VectorOps.cosineSim($"a", $"b") - $"expected") > 1e-12)
    assert(bad.count() == 0)
    // interpreted path must agree with codegen path
    val viaSql = spark.sql("SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)))")
      .collect()(0).getDouble(0)
    assert(math.abs(viaSql - 0.9922778767136677) < 1e-12)
  }

  test("sorted_intersect_count: merge scan matches array_intersect") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 9L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(-5L, 0L, 2L), Seq(-5L, 2L, 8L))
    ).toDF("a", "b")
    val bad = df.filter(
      functions.ArrayOps.sortedIntersectCount($"a", $"b")
        =!= size(array_intersect($"a", $"b")))
    assert(bad.count() == 0)
  }

  test("minhash LSH pairs are a subset of (and here equal to) brute-force truth") {
    // at sf0.001 the lang-unblocked truth is small enough to compute directly
    val mh = operators.DedupOps.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force without lang blocking = ground truth
    import spark.implicits._
    val bf = operators.DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every lang-blocked true pair must be found by LSH (high-recall config)
    assert(bf.subsetOf(mh), s"LSH missed ${bf -- mh}")
  }

  test("simhash: identical docs have hamming 0 to themselves (sanity)") {
    val pairs = operators.DedupOps.simhashPairs(spark, sf)
    assert(pairs.filter(col("hamming") < 0 || col("hamming") > 8).count() == 0)
  }

  test("top_k_by aggregate equals the window-sort top-k formulation") {
    val win = operators.SimilarityOps.knnBruteForce(spark, sf, k = 5, nQueries = 4)
      .orderBy("query_id", "rank").collect().toSeq
    val agg = operators.SimilarityOps.knnTopKAgg(spark, sf, k = 5, nQueries = 4)
      .orderBy("query_id", "rank").collect().toSeq
    assert(agg.nonEmpty && agg == win)
  }

  test("knn: brute-force top-k has exactly k rows per query, ranked") {
    val k = operators.SimilarityOps.knnBruteForce(spark, sf, k = 5, nQueries = 3)
    val counts = k.groupBy("query_id").count().collect()
    assert(counts.length == 3 && counts.forall(_.getLong(1) == 5))
    val badRank = k.filter(col("rank") < 1 || col("rank") > 5)
    assert(badRank.count() == 0)
  }

  test("hard negatives: k per query, every negative crosses the label boundary") {
    val hn = operators.SimilarityOps.hardNegatives(spark, sf, k = 5, nQueries = 4)
    val counts = hn.groupBy("query_id").count().collect()
    assert(counts.length == 4 && counts.forall(_.getLong(1) == 5))
    // no returned negative may share its query's label
    val labels = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
    val sameLabel = hn.join(labels, "query_id")
      .filter(col("neg_label") === col("qlabel"))
    assert(sameLabel.count() == 0)
    // hard negatives are at least as similar as the rank-k knn cutoff allows:
    // each query's top negative similarity must be <= its exact top-1 overall
    val top1 = operators.SimilarityOps.knnBruteForce(spark, sf, k = 1, nQueries = 4)
      .select(col("query_id"), col("cos_sim").as("best_any"))
    val bad = hn.filter(col("rank") === 1)
      .join(top1, "query_id").filter(col("cos_sim") > col("best_any"))
    assert(bad.count() == 0)
  }

  test("positive pairs: same label as the query, never the query itself") {
    import spark.implicits._
    val pp = operators.SimilarityOps.positivePairs(spark, sf, k = 5, nQueries = 4)
    val rows = pp.collect()
    assert(rows.length == 20)
    assert(rows.forall(r => r.getAs[Long]("cand_id") != r.getAs[Long]("query_id")))
    val labels = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    rows.foreach { r =>
      assert(labels(r.getAs[Long]("cand_id")) == labels(r.getAs[Long]("query_id")))
      assert(r.getAs[Int]("label") == labels(r.getAs[Long]("query_id")))
    }
  }

  test("label noise: one row per audited vector, fractions bounded and consistent") {
    val ln = operators.SimilarityOps.labelNoise(spark, sf, k = 10, nEval = 20)
    val rows = ln.collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val nDis = r.getAs[Long]("n_disagree")
      val frac = r.getAs[Double]("noise_frac")
      assert(nDis >= 0 && nDis <= 10)
      assert(math.abs(frac - nDis / 10.0) < 1e-12)
    }
  }

  test("incremental dedup: batch-sized output, verdicts consistent with counts") {
    import spark.implicits._
    val out = operators.DedupOps.incrementalDedup(spark, sf).collect()
    // output is EXACTLY the new batch: every doc at or above the id cut,
    // counted from the fixture itself (robust to gaps in the id space)
    val mxId = graft.Tables.documents(spark, sf).agg(max($"doc_id")).as[Long].head()
    val batchCut = (mxId + 1) * 4 / 5
    val expectedBatch = graft.Tables.documents(spark, sf)
      .filter($"doc_id" >= batchCut).count()
    assert(out.length.toLong == expectedBatch)
    out.foreach { r =>
      val (ne, nn, v) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_near"),
        r.getAs[String]("verdict"))
      if (ne > 0) assert(v == "exact_dup")
      else if (nn > 0) assert(v == "near_dup")
      else assert(v == "unique")
    }
    // an exact duplicate across the boundary must carry a near/exact verdict:
    // any text appearing on both sides of the cut
    val mx = graft.Tables.documents(spark, sf).agg(max($"doc_id")).as[Long].head()
    val cut = (mx + 1) * 4 / 5
    val d = graft.Tables.documents(spark, sf).select($"doc_id", $"text")
    val crossDup = d.filter($"doc_id" >= cut).as("n")
      .join(d.filter($"doc_id" < cut).as("c"), $"n.text" === $"c.text")
      .select($"n.doc_id").distinct().as[Long].collect().toSet
    val flagged = out.filter(_.getAs[String]("verdict") == "exact_dup")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(crossDup == flagged)
  }

  test("hybrid RRF fusion equals fusion recomputed from the two branch heads") {
    import spark.implicits._
    val out = operators.SimilarityOps.hybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getDouble(3)))
    assert(out.length == 15)
    // reconstruct the fusion from the branch outputs (each independently
    // oracle-checked elsewhere): rank heads locally, fuse, take top-15
    val lexRank = operators.CurationOps.bm25Search(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, sc) => (-sc, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val semRank = Tables.embeddings(spark, sf)
      .filter($"vec_id" =!= 0)
      .join(broadcast(Tables.embeddings(spark, sf).filter($"vec_id" === 0)
        .select($"embedding".as("qv"))))
      .select($"vec_id", round(functions.VectorOps.cosineSim($"embedding", $"qv"), 6))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, c) => (-c, id) }.take(100)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val fusedWant = (lexRank.keySet ++ semRank.keySet).toSeq.map { id =>
      val rrf = lexRank.get(id).map(r => 1.0 / (r + 60)).getOrElse(0.0) +
        semRank.get(id).map(r => 1.0 / (r + 60)).getOrElse(0.0)
      (id, lexRank.get(id), semRank.get(id), rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(15)
      .map { case (id, l, s2, rrf) =>
        (id, l, s2, BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    assert(out.toSeq == fusedWant, s"got=${out.take(3).toSeq} want=${fusedWant.take(3)}")
    // docs present in both heads must outrank a same-single-branch doc one
    // rank worse in that branch (RRF monotonicity sanity)
    assert(out.head._4 >= out.last._4)
  }

  test("matryoshka recall: overlap equals the two explicit rankings' intersection") {
    import spark.implicits._
    val out = operators.SimilarityOps.matryoshkaRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.length == 10)
    // full-dim top-5 from the independently registered brute-force query
    val full = operators.SimilarityOps.knnBruteForce(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    // truncated ranking recomputed explicitly: score rows via the same
    // codegen cosine (its own correctness is property-tested), rank LOCALLY
    val e = Tables.embeddings(spark, sf)
    val scored = e.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
      .join(broadcast(e.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))),
        $"query_id" =!= $"cand_id")
      .select($"query_id", $"cand_id",
        round(functions.VectorOps.cosineSim(
          slice($"qv", 1, 16), slice($"cv", 1, 16)), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val trunc = scored.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy { case (_, cid, c) => (-c, cid) }.take(5).toSeq
        .map { case (qid, cid, _) => (qid, cid) }
    }.toSet
    out.foreach { case (qid, nKept, recall) =>
      val want = full.filter(_._1 == qid).intersect(trunc.filter(_._1 == qid)).size
      assert(nKept == want.toLong, s"query $qid: $nKept != $want")
      assert(recall == nKept.toDouble / 5)
    }
    // truncating 64→16 dims should lose SOMETHING somewhere (sanity that
    // the audit measures a real effect, not a degenerate fixture)
    assert(out.map(_._2).sum < 50)
  }

  test("blob features: real PNG decode, means agree with the BMP codec") {
    val f = operators.Multimodal.blobFeatures(spark, sf).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      assert(r.bit_depth == 8 && r.color_type == 2)
      assert(r.n_pixels == r.img_w * r.img_h)
      assert(r.mean_r >= 0 && r.mean_r <= 255)
    }
    // the PNG and BMP paths share imgDims + cycled pixel derivation, so the
    // per-channel means must agree exactly — a cross-codec identity that
    // fails if either round trip corrupts a single byte
    val bmp = operators.Multimodal.imageDecode(spark, sf).collect()
      .map(r => r.doc_id -> r).toMap
    f.foreach { r =>
      val b = bmp(r.doc_id)
      assert(b.img_w == r.img_w && b.img_h == r.img_h)
      // BMP path rounds to 6 dp; PNG path is the unrounded exact division
      assert(math.abs(b.mean_r - r.mean_r) < 1e-6)
      assert(math.abs(b.mean_g - r.mean_g) < 1e-6)
      assert(math.abs(b.mean_b - r.mean_b) < 1e-6)
    }
  }

  test("mv rewrite: fresh view serves the materialization, stale falls back, answers equal") {
    import plans.MvRewriteRule
    try {
      // the query path itself: materialize + register + the "user query"
      val out = operators.ScaleOps.mvRewrite(spark, sf)
      val phys = out.queryExecution.executedPlan.toString
      assert(phys.contains("graft_mv_"),
        "fresh registered view must be served from the materialization")
      assert(!phys.contains("orders.parquet"),
        "the rewritten plan must not touch the base table")
      val got = out.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // base truth with no view registered: same query, base scan
      MvRewriteRule.clear()
      val base = operators.ScaleOps.mvDefinition(spark, sf)
        .select(col("o_orderstatus"), col("n_orders"),
          col("revenue_d").cast("double").as("revenue"))
      assert(base.queryExecution.executedPlan.toString.contains("orders.parquet"))
      val want = base.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty,
        "the rewrite must be answer-invariant")
      // a STALE view must decline — correctness beats speed
      MvRewriteRule.register("orders_by_status",
        operators.ScaleOps.mvDefinition(spark, sf),
        () => spark.emptyDataFrame, fresh = () => false)
      val stale = operators.ScaleOps.mvDefinition(spark, sf)
      assert(stale.queryExecution.executedPlan.toString.contains("orders.parquet"),
        "a stale view must fall back to the base plan")
      // different table, same shape: must NOT cross-match (path in the key)
      val otherDef = Tables.customer(spark, sf).groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      assert(MvRewriteRule.planKey(otherDef.queryExecution.optimizedPlan) !=
        MvRewriteRule.planKey(
          operators.ScaleOps.mvDefinition(spark, sf).queryExecution.optimizedPlan))
    } finally MvRewriteRule.clear()
  }

  test("vector index: partition-pruned probes, recall floor, incremental append finds new vectors") {
    import spark.implicits._
    // full-probe build == brute force (the oracle mode) and persists the index
    val full = operators.SimilarityOps.vectorIndexSearch(spark, sf)
    val fullTop = full.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(fullTop.nonEmpty && fullTop.values.forall(_.size == 5))
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_vecidx_" +
      java.lang.ProcessHandle.current().pid()
    // partial probing reads ONLY the probed cells' partitions
    val part = operators.SimilarityOps.vectorIndexQuery(spark, root,
      k = 5, nQueries = 10, nProbe = 6)
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      "the candidate scan must partition-prune to the probed cells")
    val partTop = part.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recall = fullTop.keys.toSeq.map { q =>
      partTop.getOrElse(q, Set.empty).intersect(fullTop(q)).size / 5.0
    }.sum / fullTop.size
    assert(recall >= 0.5, f"mean recall@5 $recall%.2f below floor")
    // INCREMENTAL add: a duplicate of query 0 appends to the persisted
    // index (assignment = nearest centroid, append-mode write, no rebuild)
    val cents = spark.read.parquet(s"$root/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    val q0 = Tables.embeddings(spark, sf).filter($"vec_id" === 0L)
      .head().getSeq[Float](1).toArray
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0 else dot / (na * nb)
    }
    val homeCell = cents.maxBy { case (_, c) => cos(q0, c) }._1
    val newId = 999999L
    Seq((newId, q0, homeCell)).toDF("vec_id", "embedding", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$root/cells")
    val after = operators.SimilarityOps.vectorIndexQuery(spark, root,
      k = 5, nQueries = 10, nProbe = 16).collect()
      .filter(r => r.getLong(0) == 0L && r.getInt(3) == 1).head
    assert(after.getLong(1) == newId && after.getDouble(2) == 1.0,
      "the appended duplicate must be query 0's exact top-1")
  }

  test("mv incremental: serve, stale path-key fallback, refreshed serve, exact answer") {
    import plans.MvRewriteRule
    try {
      val (atV0, stale, refreshed) = operators.ScaleOps.mvIncrementalSteps(spark, sf)
      assert(atV0.queryExecution.executedPlan.toString.contains("/mv/r0"),
        "the v0 query must be served from the materialization")
      val stalePlan = stale.queryExecution.executedPlan.toString
      assert(!stalePlan.contains("/mv/r"),
        "after the delta commit the stale view must stop matching")
      assert(stalePlan.contains("/base/data"),
        "the fallback must scan the base snapshot")
      assert(refreshed.queryExecution.executedPlan.toString.contains("/mv/r1"),
        "after the incremental refresh the view must serve again")
      // the served answer equals the full recompute over the base table
      val got = refreshed.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      MvRewriteRule.clear()
      val want = Tables.orders(spark, sf).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty)
    } finally MvRewriteRule.clear()
  }
}
