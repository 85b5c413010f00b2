package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5): cleaning contract, MERGE
  * idempotency, cast round-trips, and the custom expressions vs reference
  * implementations — randomized inputs via ScalaCheck. */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  import TestSpark._

  test("sorted_intersect_count equals set intersection for arbitrary long sets") {
    import spark.implicits._
    val gen = for {
      a <- Gen.listOf(Gen.chooseNum(-1000L, 1000L))
      b <- Gen.listOf(Gen.chooseNum(-1000L, 1000L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    check(forAll(gen) { case (a, b) =>
      val expected = a.toSet.intersect(b.toSet).size
      val got = Seq((a, b)).toDF("a", "b")
        .select(functions.ArrayOps.sortedIntersectCount(col("a"), col("b")))
        .collect()(0).getInt(0)
      got == expected
    })
  }

  test("bpe replace-pass encoder equals the merge fold on run-heavy random tokens") {
    import spark.implicits._
    // seeded, run-heavy alphabet: exactly the inputs where the doubled-
    // separator replace could diverge from the canonical fold (adjacent
    // repeats like "aaaa", chained merges like "ththe")
    val rnd = new scala.util.Random(20260813L)
    val alphabet = "atheinr"
    val toks = (1 to 400).map { _ =>
      val n = 1 + rnd.nextInt(12)
      (1 to n).map { _ =>
        val c = alphabet(rnd.nextInt(alphabet.length))
        c.toString * (1 + rnd.nextInt(3)) // runs of 1-3 repeats
      }.mkString.take(24)
    }.distinct
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
    val got = toks.toDF("tk")
      .selectExpr("tk", s"${operators.TokenizerOps.perTokenCountSql("tk")} AS n")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    toks.foreach { t =>
      assert(got(t) == encodeLocal(t), s"token '$t': got=${got(t)} want=${encodeLocal(t)}")
    }
  }

  test("sorted_dot_product equals brute-force dot over packed term vectors") {
    import spark.implicits._
    // (hash, tf) maps with small hash space to force real overlaps
    val entryGen = Gen.mapOf(Gen.zip(
      Gen.chooseNum(-50L, 50L), Gen.chooseNum(1L, 100L)))
    def pack(m: Map[Long, Long]): Seq[Long] =
      m.map { case (h, tf) => (h << 16) | tf }.toSeq.sorted
    check(forAll(entryGen, entryGen) { (a, b) =>
      val expected = a.keySet.intersect(b.keySet).toSeq
        .map(k => a(k) * b(k)).sum
      val got = Seq((pack(a), pack(b))).toDF("a", "b")
        .select(functions.ArrayOps.sortedDotProduct(col("a"), col("b")))
        .collect()(0).getLong(0)
      got == expected
    })
  }

  test("levenshtein_within ≡ builtin thresholded levenshtein incl. non-ASCII") {
    import spark.implicits._
    // mix single-byte, 2-byte (é), 3-byte (中) and 4-byte (𝕏, supplementary)
    // code points: the band must count code points like the builtin, not
    // UTF-8 bytes
    val charGen = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.oneOf("é", "ü", "中", "文", "𝕏", "🙂"))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val kGen = Gen.chooseNum(0, 4)
    check(forAll(strGen, strGen, kGen) { (a, b, k) =>
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          functions.EditDistance.levenshteinWithin(col("a"), col("b"), k),
          levenshtein(col("a"), col("b"), k))
        .collect()(0)
      row.getInt(0) == row.getInt(1)
    })
  }

  test("explode_shingles generator ≡ the declarative shingle+hash pipeline") {
    import spark.implicits._
    // include non-space whitespace INSIDE and AT THE EDGES of documents:
    // SQL trim strips only ' ', so a tab/newline-led doc keeps an empty edge
    // token after split — the generator must reproduce that, not Java-trim it
    val textGen = Gen.listOf(Gen.oneOf(
      "the", "cat", "sat", "on", "a", "mat", "  ", "word", "\t", "\n"))
      .map(_.mkString(" "))
    val padGen = Gen.oneOf("", "\t", "\n", " \t ", "  ")
    check(forAll(padGen, textGen, padGen) { (pre, body, post) =>
      val text = pre + body + post
      val df = Seq(text).toDF("text")
      val t = split(trim(col("text")), "\\s+")
      val declarative = df
        .filter(size(t) >= 3)
        .select(explode(array_distinct(transform(
          sequence(lit(0), size(t) - 3),
          i => xxhash64(concat_ws(" ", slice(t, i + 1, lit(3))))))).as("h"))
        .collect().map(_.getLong(0)).sorted
      val generated = df
        .select(functions.ShingleGen.explodeShingles(col("text"), 3).as("h"))
        .collect().map(_.getLong(0)).sorted
      generated.sameElements(declarative) ||
        // declarative guard drops <3-token docs before shingling; the
        // generator emits nothing for them — both must then be empty
        (generated.isEmpty && declarative.isEmpty)
    })
  }

  test("morton z-key is a bijection on the 6-bit × 6-bit grid") {
    import spark.implicits._
    // all 4096 (x, y) pairs → 4096 distinct zkeys covering exactly [0, 4095]
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield (x, y)
    val keys = operators.AuditOps.mortonForTest(
      grid.toDF("x", "y"), col("x"), col("y"))
      .collect().map(_.getInt(0))
    assert(keys.distinct.length == 4096)
    assert(keys.min == 0 && keys.max == 4095)
  }

  test("observe() metrics match a direct aggregate (pipeline monitoring hook)") {
    import spark.implicits._
    val observed = Tables.lineitem(spark, sf)
      .observe("li_metrics", count(lit(1)).as("rows"),
        sum($"l_quantity").as("qty"))
    observed.collect() // an action flushes the observation
    val m = observed.queryExecution.observedMetrics("li_metrics")
    val direct = Tables.lineitem(spark, sf)
      .agg(count(lit(1)), sum($"l_quantity")).collect()(0)
    assert(m.getAs[Long]("rows") == direct.getLong(0))
    assert(math.abs(m.getAs[Double]("qty") - direct.getDouble(1)) < 1e-6)
  }

  test("token-budget mix two-phase selection ≡ naive cumsum on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // random corpora stress what the fixture can't: sources entirely under
    // budget, a first doc bigger than the whole budget, empty sources,
    // single-doc boundary buckets
    val corpusGen = for {
      nSrc <- Gen.chooseNum(1, 4)
      docs <- Gen.listOf(Gen.zip(Gen.chooseNum(0, nSrc - 1), Gen.chooseNum(1, 400)))
    } yield docs.zipWithIndex.map { case ((src, nTok), id) =>
      (id.toLong, s"src$src", List.fill(nTok)("w").mkString(" "))
    }
    check(forAll(corpusGen) { rows =>
      val df = rows.toDF("doc_id", "source", "text")
      val got = operators.CurationOps.tokenBudgetMixOn(spark, df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
      val naive = df
        .select($"doc_id", $"source", md5($"doc_id".cast("string")).as("h"),
          size(split(trim($"text"), "\\s+")).cast("long").as("tokens"))
        .filter($"tokens" > 0)
        .withColumn("before", sum($"tokens").over(w) - $"tokens")
        .filter($"before" < lit(300L) + substring($"source", 4, 9).cast("long") * 25L)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("sum_tokens"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      got == naive
    })
  }

  test("weighted-mean aggregator: any partition split merges to the same result") {
    import functions.WeightedMeanAgg
    val gen = for {
      xs <- Gen.nonEmptyListOf(Gen.zip(
        Gen.chooseNum(-100000L, 100000L), Gen.chooseNum(1L, 1000L)))
      cut <- Gen.chooseNum(0, xs.length)
    } yield (xs, cut)
    check(forAll(gen) { case (xs, cut) =>
      val agg = WeightedMeanAgg.weightedMeanCents
      def fold(part: List[(Long, Long)]) = part.foldLeft(agg.zero)(agg.reduce)
      val whole = agg.finish(fold(xs))
      val (l, r) = xs.splitAt(cut)
      val split = agg.finish(agg.merge(fold(l), fold(r)))
      // exact integer accumulation → bit-identical, not merely close
      whole == split || (whole.isNaN && split.isNaN)
    })
  }

  test("bloom sketch: never a false negative, merge equals single-pass build") {
    check(forAll(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))) { keys =>
      val one = new functions.BloomBuf(1 << 12, 4)
      keys.foreach(one.add)
      // split build + OR-merge must equal the single-pass sketch
      val (l, r) = keys.splitAt(keys.length / 2)
      val bl = new functions.BloomBuf(1 << 12, 4)
      val br = new functions.BloomBuf(1 << 12, 4)
      l.foreach(bl.add); r.foreach(br.add); bl.mergeFrom(br)
      val sameBits = bl.words.sameElements(one.words)
      val agg = functions.BloomBuildAgg(null, 1 << 12, 4)
      val bytes = agg.serialize(one)
      sameBits && keys.forall(functions.BloomSketch.contains(bytes, _))
    })
  }

  test("cosine_sim matches a reference double implementation") {
    import spark.implicits._
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-100f, 100f))
    check(forAll(vecGen, vecGen) { (a, b) =>
      def ref(x: Seq[Float], y: Seq[Float]): Double = {
        val dot = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        val na = x.map(v => v.toDouble * v.toDouble).sum
        val nb = y.map(v => v.toDouble * v.toDouble).sum
        if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val got = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(functions.VectorOps.cosineSim(col("a"), col("b")))
        .collect()(0).getDouble(0)
      math.abs(got - ref(a, b)) < 1e-9
    })
  }

  test("rolling fingerprint is order-sensitive but whitespace-normal-form stable") {
    import spark.implicits._
    // same tokens, different separators -> same fingerprint
    val df = Seq(
      ("a b  c", "a b c"),
      ("x  y\tz", "x y z")
    ).toDF("t1", "t2")
    val fp = (c: org.apache.spark.sql.Column) => {
      val hashes = transform(split(trim(c), "\\s+"), t => xxhash64(t))
      aggregate(hashes, lit(0L), (acc, h) =>
        shiftleft(acc, 5).bitwiseXOR(shiftrightunsigned(acc, 59)).bitwiseXOR(h))
    }
    assert(df.filter(fp(col("t1")) =!= fp(col("t2"))).count() == 0)
    // different order -> different fingerprint
    val df2 = Seq(("a b c", "c b a")).toDF("t1", "t2")
    assert(df2.filter(fp(col("t1")) === fp(col("t2"))).count() == 0)
  }

  test("dedup-append is idempotent for arbitrary fact subsets") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber").cache()
    val total = li.count()
    // for several modulus-based fact subsets, anti-join append always
    // reconstructs exactly the full table
    Seq(2, 3, 7).foreach { m =>
      val fact = li.filter(col("l_orderkey") % m =!= 0)
      val appended = fact.unionByName(
        li.join(fact, Seq("l_orderkey", "l_linenumber"), "left_anti"))
      assert(appended.count() == total, s"modulus $m")
      // appending again changes nothing
      val again = appended.unionByName(
        li.join(appended, Seq("l_orderkey", "l_linenumber"), "left_anti"))
      assert(again.count() == total, s"re-append modulus $m")
    }
    li.unpersist()
  }

  test("band-join rewrite equals the nested-loop join for random values and bands") {
    import spark.implicits._
    val gen = for {
      xs <- Gen.nonEmptyListOf(Gen.chooseNum(-500.0, 500.0))
      nBands <- Gen.chooseNum(1, 8)
      lo0 <- Gen.chooseNum(-500.0, 400.0)
      width <- Gen.chooseNum(1.0, 150.0)
      stride <- Gen.chooseNum(1.0, 120.0)
      bucketW <- Gen.oneOf(1.0, 5.0, 25.0, 80.0)
    } yield (xs, (0 until nBands).map(i => (i, lo0 + i * stride, lo0 + i * stride + width)),
      bucketW)
    try check(forAll(gen) { case (xs, bands, bucketW) =>
      val probe = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
      val bandDf = bands.toDF("band_id", "lo", "hi")
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .select($"id", $"band_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      spark.conf.set(plans.BandJoinRule.WidthConf, "0")
      val naive = pairs(probe.join(bandDf, $"x" >= $"lo" && $"x" < $"hi"))
      spark.conf.set(plans.BandJoinRule.WidthConf, bucketW.toString)
      val rewritten = pairs(probe.join(bandDf, $"x" >= $"lo" && $"x" < $"hi"))
      naive == rewritten
    }) finally spark.conf.set(plans.BandJoinRule.WidthConf, "0")
  }

  test("hash split is stable under corpus growth: subset assignment never changes") {
    import spark.implicits._
    // the md5-prefix rule depends only on the doc's own id — recomputing the
    // per-doc split on sf0.001 (a subset universe of sf0.01 doc_ids) must
    // agree with the sf0.01 assignment restricted to those ids
    def perDoc(sf: String) = Tables.documents(spark, sf)
      .select($"doc_id",
        when(substring(md5($"doc_id".cast("string")), 1, 2) < "cd", "train")
          .otherwise("test").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val small = perDoc("/root/testdata/sf0.001")
    val big = perDoc("/root/testdata/sf0.01")
    small.foreach { case (id, s) =>
      assert(big.get(id).forall(_ == s), s"doc $id reassigned: $s -> ${big.get(id)}")
    }
  }

  test("streaming sessionization equals batch sessionization") {
    val batch = streaming.Sessionize.batchSessions(spark, sf)
      .orderBy("user_id", "sess_no").collect().toSeq
    val stream = streaming.Sessionize.streamSessions(spark, sf)
      .orderBy("user_id", "sess_no").collect().toSeq
    assert(stream.nonEmpty)
    assert(stream == batch)
  }
}
