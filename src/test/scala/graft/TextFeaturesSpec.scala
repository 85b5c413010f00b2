package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bounds for the MLlib text-feature pipeline (rows-only queries) and the
  * streaming sessionizer's cross-batch ordering property. */
class TextFeaturesSpec extends AnyFunSuite {
  import TestSpark._

  private val stop =
    Set("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  test("tfidf top terms: no stopwords, positive finite scores, ≤k per doc") {
    val rows = operators.TextFeatures.tfidfTopTerms(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val term = r.getAs[String]("term")
      val score = r.getAs[Double]("tfidf")
      assert(!stop.contains(term), s"stopword '$term' survived the remover")
      assert(score > 0 && !score.isNaN && !score.isInfinite, s"score=$score")
    }
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id")).values.map(_.length)
    assert(perDoc.forall(_ <= 3))
  }

  test("generated doc embeddings are unit-L2, fixed-dim, one per doc") {
    import spark.implicits._
    val e = operators.TextFeatures.docEmbeddings(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    val stats = e.select(
      count(lit(1)).as("n"),
      min(size($"embedding")).as("min_d"),
      max(size($"embedding")).as("max_d"),
      min(aggregate($"embedding", lit(0.0), (acc, x) => acc + x * x)).as("min_sq"),
      max(aggregate($"embedding", lit(0.0), (acc, x) => acc + x * x)).as("max_sq"))
      .collect()(0)
    assert(stats.getAs[Long]("n") == nDocs)
    assert(stats.getAs[Int]("min_d") == 64 && stats.getAs[Int]("max_d") == 64)
    // unit norm within float tolerance (all-stopword docs would be zero
    // vectors; the fixture has none)
    assert(math.abs(stats.getAs[Double]("min_sq") - 1.0) < 1e-3, stats.toString)
    assert(math.abs(stats.getAs[Double]("max_sq") - 1.0) < 1e-3, stats.toString)
  }

  test("doc knn over generated embeddings returns k ranked neighbors per query") {
    val rows = operators.TextFeatures.docKnn(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 5)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3))
      assert(rs.forall(r => r.getAs[Double]("cos_sim") <= 1.000001))
    }
  }

  test("triangular blocked near-dup join equals the unblocked all-pairs truth") {
    import spark.implicits._
    // unblocked reference: plain lang self-join, same shingle/jaccard pipeline
    val docs = Tables.documents(spark, sf)
      .filter(size(split(trim($"text"), "\\s+")) >= 3)
    val truth = operators.DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b", "jacc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // every pair is ordered and unique — the triangular scheme emitted each
    // unordered pair exactly once
    assert(truth.forall { case (a, b, _) => a < b })
    val ids = truth.map { case (a, b, _) => (a, b) }
    assert(ids.size == truth.size)
    // cross-check a handful of pairs against a direct per-pair computation
    val sample = truth.take(3)
    sample.foreach { case (a, b, jacc) =>
      val Seq(ta, tb) = docs.filter($"doc_id".isin(a, b))
        .orderBy($"doc_id") // a < b
        .select($"text").collect().map(_.getString(0)).toSeq
      def sh(t: String): Set[String] = {
        val toks = t.trim.split("\\s+")
        toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val (sa, sb) = (sh(ta), sh(tb))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(jacc - expect) < 1e-6, s"pair ($a,$b): $jacc vs $expect")
    }
  }

  test("near-dup pipeline survives documents shorter than a shingle") {
    import java.nio.file.Files
    import spark.implicits._
    // synthetic corpus with 0/1/2-token docs — below the 3-token shingle
    // width, where an unguarded sequence(0, size-3) slice throws at runtime
    val tmp = Files.createTempDirectory("graft_short_docs").toFile.getAbsolutePath
    Seq(
      (1L, "a", "en", "s", 1L),
      (2L, "two tokens", "en", "s", 10L),
      (3L, "exactly three tokens here match nothing else at all", "en", "s", 50L),
      (4L, "exactly three tokens here match nothing else at all", "en", "s", 50L),
      (5L, " ", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val jacc = operators.DedupOps.ngramJaccard(spark, tmp).collect()
    // only the 3↔4 duplicate pair survives; short docs are silently excluded
    assert(jacc.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((3L, 4L)))
    assert(jacc.head.getDouble(3) == 1.0)
    val mh = operators.DedupOps.minhashLsh(spark, tmp).collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 4L)))
  }

  test("chunking reassembles to the original token stream") {
    import spark.implicits._
    val rows = operators.TextAnalysis.chunkDocs(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == docs.keySet)
    rows.foreach { case (id, chunks) =>
      val reassembled = chunks.sortBy(_.getAs[Int]("chunk_no"))
        .map(_.getAs[String]("chunk_text")).mkString(" ")
      assert(reassembled == docs(id).trim.split("\\s+").mkString(" "), s"doc $id")
      // all chunks full-size except possibly the last
      val sizes = chunks.sortBy(_.getAs[Int]("chunk_no")).map(_.getAs[Int]("n_tokens"))
      assert(sizes.init.forall(_ == 50) && sizes.last >= 1 && sizes.last <= 50)
    }
  }

  test("session_window and custom-state sessionizers agree on session structure") {
    import spark.implicits._
    // two independent implementations: native session_window aggregate vs
    // lag+gap-count window query. Closed sessions must match 1:1 on
    // (user, start, last-event ts = end - gap, count); session_window also
    // reports each user's open (last) session, which the batch query withholds.
    val native = streaming.Sessionize.sessionWindowBatch(spark, sf)
      .select($"user_id", $"sess_start",
        ($"sess_end" - expr(s"INTERVAL ${streaming.Sessionize.GapMinutes} MINUTE")).as("last_ts"),
        $"n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val custom = streaming.Sessionize.batchSessions(spark, sf)
      .select($"user_id", $"sess_start", $"sess_end", $"n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    // every closed session from the custom path appears identically natively
    assert(custom.subsetOf(native), s"${(custom -- native).take(3)}")
    // the extras are exactly one open session per user
    val extras = native -- custom
    val users = native.map(_._1)
    assert(extras.size == users.size, s"${extras.size} extras vs ${users.size} users")
    assert(extras.map(_._1) == users)
  }

  test("stream sessionization survives a 2-file time-split replay") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_sess_split").toFile.getAbsolutePath
    // split the events at the median ts into two time-ordered files — the
    // time-partitioned ingest layout the operator's cross-batch ordering
    // contract assumes
    val raw = graft.Tables.events(spark, sf)
      .withColumn("tsm", unix_micros(col("ts")))
    val cut = raw.stat.approxQuantile("tsm", Array(0.5), 0.0)(0).toLong
    raw.filter(col("tsm") <= cut).drop("tsm").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    Thread.sleep(20) // distinct mtimes: FileStreamSource replays oldest-first
    raw.filter(col("tsm") > cut).drop("tsm").coalesce(1)
      .write.mode("append").parquet(s"$tmp/events.parquet")

    val streamed = streaming.Sessionize
      .streamSessions(spark, tmp, maxFilesPerTrigger = Some(1))
      .orderBy("user_id", "sess_no").collect().toSeq
    val batch = streaming.Sessionize.batchSessions(spark, tmp)
      .orderBy("user_id", "sess_no").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }
}
