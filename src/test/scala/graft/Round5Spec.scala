package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 operators: triangle counting, count-min sketch, BPE tokenizer
  * statistics/training, interval coverage, Benford audit. */
class Round5Spec extends AnyFunSuite {
  import TestSpark._

  // ---- triangles ---------------------------------------------------------

  test("triangle count matches a brute-force canonical triple join") {
    import spark.implicits._
    val row = operators.GraphOps.triangleCount(spark, sf).collect()(0)
    val nEdges = row.getAs[Long]("n_edges")
    val nTri = row.getAs[Long]("n_triangles")
    assert(nEdges > 0)
    // brute force on the same edge set, orientation-free
    val weighted = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_suppkey")
      .join(Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, sf).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(spark, sf).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
      .filter($"src" =!= $"dst")
    val cut = weighted.agg(avg($"w") * 1.2).as[Double].collect()(0)
    val und = weighted.filter($"w" >= cut)
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
      .as[(Int, Int)].collect().toSet
    assert(und.size.toLong == nEdges)
    val nodes = und.flatMap { case (u, v) => Seq(u, v) }.toSeq.sorted
    var brute = 0L
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      if und((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.size
      if und((nodes(i), nodes(k))) && und((nodes(j), nodes(k)))
    } brute += 1
    assert(brute == nTri, s"oriented=$nTri brute=$brute")
  }

  // ---- count-min sketch --------------------------------------------------

  test("cms estimates dominate exact counts and respect the width bound") {
    val rows = operators.ScaleOps.cmsFreq(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("cms_ge_exact"), r.toString)
      assert(r.getAs[Boolean]("cms_bounded"), r.toString)
    }
  }

  test("cms merge is exact for disjoint partitions: estimate of a unique key") {
    import spark.implicits._
    // 1000 distinct keys spread over 8 partitions: every estimate must be
    // >= 1 (its own count) and the sketch must see all increments (sum of
    // any row of cells == n rows) — catches lost partials in merge
    val df = spark.range(1000).repartition(8)
      .agg(functions.CmsOps.cmsBuild(col("id"), 4, 64).as("sk"))
    val sk = df.collect()(0).getAs[Array[Byte]]("sk")
    val bb = java.nio.ByteBuffer.wrap(sk)
    val (depth, width) = (bb.getInt(0), bb.getInt(4))
    assert(depth == 4 && width == 64)
    for (d <- 0 until depth) {
      var rowSum = 0L
      for (wi <- 0 until width) rowSum += bb.getLong(8 + (d * width + wi) * 8)
      assert(rowSum == 1000L, s"row $d lost updates: $rowSum")
    }
    // point estimates never undercount
    for (x <- Seq(0L, 1L, 999L)) {
      assert(functions.CmsSketch.estimate(sk, x) >= 1L)
    }
  }

  // ---- BPE ---------------------------------------------------------------

  test("bpe pair counts match a single-machine recount") {
    import spark.implicits._
    val got = operators.TokenizerOps.bpePairs(spark, sf).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n_occ")))
    val words = Tables.documents(spark, sf).select($"text").as[String].collect()
      .flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.length >= 2)
    val exact = words.flatMap(w => w.sliding(2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val top = exact.toSeq.sortBy { case (p, n) => (-n, p) }.take(30)
    assert(got.toSeq == top, s"got=${got.take(3).toSeq} want=${top.take(3)}")
  }

  test("bpe training matches an independent single-machine BPE on the fixture") {
    import spark.implicits._
    val got = operators.TokenizerOps.bpeTrain(spark, sf, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // independent reference: greedy BPE over the word-frequency map
    var seqs: Map[Vector[String], Long] = Tables.documents(spark, sf)
      .select($"text").as[String].collect()
      .flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .map { case (w, n) => (w.map(_.toString).toVector, n) }
    val want = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to 3) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, n) <- seqs; i <- 0 until syms.size - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      val ((l, r), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      want += ((round, l, r, cnt))
      seqs = seqs.groupMapReduce { case (syms, _) =>
        // left-to-right fuse
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r)
            acc.init :+ (l + r)
          else acc :+ x
        }
      } { case (_, n) => n } (_ + _)
    }
    assert(got.toSeq == want.result(), s"got=${got.toSeq} want=${want.result()}")
  }

  test("bpe merges reduce total symbol count monotonically") {
    val rules = operators.TokenizerOps.bpeTrain(spark, sf, rounds = 3).collect()
    assert(rules.length == 3)
    // counts are non-increasing across rounds (greedy argmax property holds
    // only weakly — a later merge can beat an earlier count — but each
    // round's chosen count is positive and the rule is well-formed)
    rules.foreach { r =>
      assert(r.getAs[Long]("n_occ") > 0)
      assert(r.getAs[String]("left").nonEmpty && r.getAs[String]("right").nonEmpty)
    }
  }

  test("bpe encode: separator-framed replace equals an independent fold encoder") {
    import spark.implicits._
    // independent single-machine reference: the canonical left-to-right
    // merge fold (no re-fuse of a freshly merged symbol within a pass)
    def encodeLocal(tok: String): Long = {
      var syms = tok.map(_.toString).toVector
      operators.TokenizerOps.FixedMerges.foreach { case (l, r) =>
        var acc = Vector.empty[String]
        syms.foreach { x =>
          if (acc.nonEmpty && acc.last == l && x == r) acc = acc.init :+ (l + r)
          else acc = acc :+ x
        }
        syms = acc
      }
      syms.length.toLong
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = operators.TokenizerOps.bpeEncode(spark, sf)
      .filter($"doc_id" < 20).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("n_char_symbols"))).toMap
    assert(got.keySet == docs.keySet && docs.nonEmpty)
    docs.foreach { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val want = (toks.map(encodeLocal).sum, toks.map(_.length.toLong).sum)
      assert(got(id) == want, s"doc $id: got=${got(id)} want=$want")
      // merges strictly compress or keep (never grow) the symbol count
      assert(got(id)._1 <= got(id)._2)
    }
  }

  test("bpe train→encode composition: corpus encoded with the LEARNED merges") {
    import spark.implicits._
    // the learned rules, via the trainer the previous tests already prove
    // equal to an independent single-machine BPE on this fixture
    val learned = operators.TokenizerOps.bpeTrain(spark, sf, rounds = 3).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    assert(learned.length == 3)
    def encodeLocal(tok: String): Long = {
      var syms = tok.map(_.toString).toVector
      learned.foreach { case (l, r) =>
        var acc = Vector.empty[String]
        syms.foreach { x =>
          if (acc.nonEmpty && acc.last == l && x == r) acc = acc.init :+ (l + r)
          else acc = acc :+ x
        }
        syms = acc
      }
      syms.length.toLong
    }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .filter($"doc_id" < 20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = operators.TokenizerOps.bpeTrainEncode(spark, sf, rounds = 3)
      .filter($"doc_id" < 20).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_bpe_tokens")).toMap
    assert(got.keySet == docs.keySet && docs.nonEmpty)
    docs.foreach { case (id, text) =>
      val want = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(encodeLocal).sum
      assert(got(id) == want, s"doc $id: got=${got(id)} want=$want")
    }
    // the composed run publishes its learned table into the oracle map
    // (Verify writes oracle_sql.json after the queries run)
    val o = operators.TokenizerOps.oracle
    assert(o.contains("q_bpe_train_encode"))
    learned.foreach { case (l, r) =>
      assert(o("q_bpe_train_encode").contains(s"'$l$r'"))
    }
  }

  // ---- interval coverage -------------------------------------------------

  test("interval coverage: bounds and exact check for one user") {
    import spark.implicits._
    val cov = operators.AnalyticsOps.intervalCoverage(spark, sf).collect()
    assert(cov.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_timestamp($"ts").as("st"))
      .as[(Long, Long)].collect().groupBy(_._1)
    cov.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val n = r.getAs[Long]("n_islands")
      val s = r.getAs[Long]("covered_s")
      val k = ev(u).length
      assert(n >= 1 && n <= k)
      // each island covers at least one span, at most all events' spans
      assert(s >= 900L && s <= 900L * k)
      // brute-force merge for this user
      val starts = ev(u).map(_._2).sorted
      var islands = 0L; var covered = 0L
      var curStart = -1L; var curEnd = -1L
      for (st <- starts) {
        if (st > curEnd) {
          if (curEnd >= 0) covered += curEnd - curStart
          islands += 1; curStart = st; curEnd = st + 900
        } else curEnd = math.max(curEnd, st + 900)
      }
      if (curEnd >= 0) covered += curEnd - curStart
      assert(islands == n, s"user $u islands $islands != $n")
      assert(covered == s, s"user $u covered $covered != $s")
    }
  }

  // ---- benford -----------------------------------------------------------

  test("benford digits are 1-9, shares sum to 1, expectations correct") {
    val rows = operators.AuditOps.benfordAudit(spark, sf).collect()
    val digits = rows.map(_.getAs[Int]("digit")).sorted
    assert(digits.forall(d => d >= 1 && d <= 9))
    assert(digits.distinct.length == digits.length)
    val shareSum = rows.map(_.getAs[Double]("observed_p")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      val want = math.round(math.log10(1.0 + 1.0 / d) * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("benford_p") - want) < 1e-9)
    }
  }
}
