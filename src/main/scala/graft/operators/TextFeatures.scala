package graft.operators

import graft.{Materialize, Tables}
import org.apache.spark.ml.feature.{HashingTF, IDF, NGram, Normalizer, RegexTokenizer, StopWordsRemover}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standard MLlib text-feature pipeline (SURVEY.md §7 Phase 6): RegexTokenizer
  * → StopWordsRemover → NGram / CountVectorizer / HashingTF → IDF →
  * Normalizer. The reference ships `sentence-transformers` for embedding
  * production (`/root/reference/docker-compose.yaml:69`); this is the
  * deterministic, dependency-free stand-in — hashed TF-IDF document vectors —
  * that feeds the ANN/near-dup operators end-to-end from `documents.text`.
  *
  * Scale posture: tokenize/stop/n-gram/hashing are row-local (no shuffle);
  * IDF is one treeAggregate over sparse vectors; the n-gram count and top-term
  * queries are single hash aggregations. Nothing here is all-pairs or
  * driver-side.
  */
object TextFeatures {

  /** The same 10 stopwords TextAnalysis scores against — small enough to
    * mirror literally in the DuckDB oracle. */
  private val StopWords =
    Array("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** lower + split on \s+ + drop empties (= the oracle's
    * `regexp_split_to_array(trim(lower(text)), '\s+')`). */
  private def tokenizer = new RegexTokenizer()
    .setInputCol("text").setOutputCol("toks")
    .setPattern("\\s+").setToLowercase(true).setMinTokenLength(1)

  private def stopRemover = new StopWordsRemover()
    .setInputCol("toks").setOutputCol("kept").setStopWords(StopWords)

  /** doc_id + stopword-filtered lowercase tokens. NOT spread, re-measured
    * round 4: RegexTokenizer/StopWordsRemover are cheap split work, and a
    * round-robin exchange ahead of them costs more than it parallelizes
    * (3-query group 4.6 s unspread vs 5.8 s spread, sf0.1, repeated) — the
    * expensive-HOF single-split problem `documentsSpread` solves applies to
    * shingling/minhashing, not to plain tokenization. At production scale
    * the scan has thousands of splits and parallelizes naturally. */
  private def keptTokens(s: SparkSession, dir: String): DataFrame =
    stopRemover.transform(tokenizer.transform(
      Tables.documents(s, dir).select(col("doc_id"), col("text"))))
      .select(col("doc_id"), col("kept"))

  /** Corpus bigram counts over stopword-filtered tokens — the
    * oracle-checkable face of the NGram transformer (plain SQL in DuckDB). */
  def ngramCounts(s: SparkSession, dir: String, minCount: Long = 3): DataFrame = {
    import s.implicits._
    val ng = new NGram().setN(2).setInputCol("kept").setOutputCol("bigrams")
    ng.transform(keptTokens(s, dir))
      .select(explode($"bigrams").as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .filter($"n" >= minCount)
  }

  private val keptSql =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |            x -> x NOT IN ('the','a','of','and','to','in','is','on','for','with'))""".stripMargin

  private val ngramCountsSql =
    s"""WITH f AS (SELECT $keptSql AS k FROM documents),
       |b AS (SELECT unnest([array_to_string(k[i:i+1], ' ') for i in range(1, len(k))]) AS bigram FROM f)
       |SELECT bigram, count(*) AS n FROM b GROUP BY bigram HAVING count(*) >= 3""".stripMargin

  /** Document frequency per term (stopword-filtered) — the IDF numerator,
    * oracle-checkable. */
  def docFreq(s: SparkSession, dir: String, minDf: Long = 5): DataFrame = {
    import s.implicits._
    keptTokens(s, dir)
      .select($"doc_id", explode(array_distinct($"kept")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
      .filter($"df" >= minDf)
  }

  private val docFreqSql =
    s"""WITH f AS (SELECT doc_id, list_distinct($keptSql) AS k FROM documents),
       |t AS (SELECT doc_id, unnest(k) AS term FROM f)
       |SELECT term, count(*) AS df FROM t GROUP BY term HAVING count(*) >= 5""".stripMargin

  /** Top TF-IDF terms per document (first `nDocs` docs, top `k` terms),
    * computed relationally: tf = per-(doc,term) count, df = per-term doc
    * count, score = tf · ln((m+1)/(df+1)) — the same smoothed-IDF formula
    * MLlib's `IDF` documents — ranked per doc with ties broken by term
    * string. Replaces the earlier CountVectorizer+IDF pipeline: CV's `fit`
    * collects the whole vocabulary array to the driver (bounded only by
    * vocabSize — driver state that grows with the corpus), while the
    * relational form is two hash aggregations plus a per-doc window, fully
    * distributed, and exactly SQL-expressible — so this is oracle-checked
    * rather than bounds-only. The df aggregation input is (doc,term)
    * distinct pairs, already grouped — no extra distinct pass. */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int = 3, nDocs: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val tf = keptTokens(s, dir)
      .select($"doc_id", explode($"kept").as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    // corpus size needs no tokenization — count the raw table
    val m = Tables.documents(s, dir).agg(count(lit(1)).as("m"))
    val scored = tf.filter($"doc_id" < nDocs)
      .join(df, "term")
      .join(broadcast(m))
      .select($"doc_id", $"term",
        ($"tf" * log(($"m" + 1).cast("double") / ($"df" + 1).cast("double"))).as("score"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"doc_id", $"rank", $"term", round($"score", 6).as("tfidf"))
  }

  private val tfidfTopTermsSql =
    s"""WITH f AS (SELECT doc_id, $keptSql AS k FROM documents),
       |t AS (SELECT doc_id, unnest(k) AS term FROM f),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |m AS (SELECT count(*) AS m FROM documents),
       |sc AS (SELECT doc_id, tf.term,
       |              tf * ln(CAST(m + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS score
       |       FROM tf JOIN df USING (term), m WHERE doc_id < 50),
       |r AS (SELECT doc_id, term, score,
       |             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
       |      FROM sc)
       |SELECT doc_id, CAST(rnk AS INTEGER) AS rank, term, round(score, 6) AS tfidf
       |FROM r WHERE rnk <= 3""".stripMargin

  /** Deterministic document embeddings: HashingTF(dims) → IDF → L2
    * Normalizer, emitted as `array<float>` — the same column shape as the
    * `embeddings` fixture, so every ANN operator (brute-force, top_k_by,
    * LSH, IVF) runs unchanged on generated vectors. Rows-only (hash-bucketed
    * term indices have no SQL twin); norm/shape bounds in ScalaTest. */
  def docEmbeddings(s: SparkSession, dir: String, dims: Int = 64): DataFrame =
    docEmbeddingsFrom(s, keptTokens(s, dir), dims)

  /** [[docEmbeddings]] over an already-derived token table — the gates
    * tokenize ONCE, persist, and feed every stage from the same cache
    * (guide §1.2: the fixture is a single split, so each keptTokens
    * re-derivation was a ~0.4 s single-task job repeated per stage). */
  private def docEmbeddingsFrom(s: SparkSession, kept: DataFrame,
      dims: Int = 64): DataFrame = {
    import s.implicits._
    val tfd = new HashingTF().setInputCol("kept").setOutputCol("tf")
      .setNumFeatures(dims).transform(kept)
    val idf = new IDF().setInputCol("tf").setOutputCol("idf_vec").fit(tfd)
    val norm = new Normalizer().setInputCol("idf_vec").setOutputCol("emb").setP(2.0)
    norm.transform(idf.transform(tfd))
      .select($"doc_id".as("vec_id"),
        transform(vector_to_array($"emb"), _.cast("float")).as("embedding"))
  }

  /** Oracle-facing view of the generated embeddings: the driver's comparator
    * loads query outputs into pandas and lexsorts every column, which throws
    * on array columns (round-2 `q_doc_embed` err: "unhashable type:
    * numpy.ndarray"). Emit per-doc scalar invariants instead — dimension,
    * L2 norm (≈1 after the Normalizer), nonzero count, component sum — which
    * pin the vector contents without shipping the array itself. */
  private def docEmbedStatsFrom(s: SparkSession, kept: DataFrame): DataFrame = {
    import s.implicits._
    docEmbeddingsFrom(s, kept)
      .select($"vec_id", $"embedding")
      .select(
        $"vec_id",
        size($"embedding").as("dim"),
        round(sqrt(aggregate($"embedding", lit(0.0),
          (acc, x) => acc + x * x)), 6).as("l2_norm"),
        size(filter($"embedding", _ =!= 0.0f)).as("nnz"),
        round(aggregate($"embedding", lit(0.0), (acc, x) => acc + x), 6)
          .as("comp_sum"))
  }

  /** Generated embeddings → exact ANN top-k via the `top_k_by` aggregate:
    * the end-to-end "produce vectors, then search them" loop the reference
    * gestures at with sentence-transformers + a vector store. */
  def docKnn(s: SparkSession, dir: String, k: Int = 3, nQueries: Int = 5): DataFrame =
    docKnnFrom(s, keptTokens(s, dir), k, nQueries)

  private def docKnnFrom(s: SparkSession, kept: DataFrame, k: Int,
      nQueries: Int): DataFrame = Materialize.scoped { held =>
    import s.implicits._
    val e = held.fill(docEmbeddingsFrom(s, kept))
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    e.select($"vec_id".as("cand_id"), $"embedding".as("cv"))
      .join(broadcast(q), $"query_id" =!= $"cand_id")
      .select($"query_id", $"cand_id",
        round(graft.functions.VectorOps.cosineSim($"qv", $"cv"), 6).as("cos_sim"))
      .groupBy($"query_id")
      .agg(graft.functions.TopKAgg.topKBy($"cos_sim", $"cand_id", k).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", $"col.id".as("cand_id"), $"col.score".as("cos_sim"),
        ($"pos" + 1).cast("int").as("rank"))
      .localCheckpoint(true)
  }

  /** Round-16 driver-gate graduation of q_doc_embed: re-emit the embedding
    * stats as exact columns DuckDB recomputes for real (vec_id + the
    * distinct-kept-term count straight from the tokenization the other
    * TextFeatures oracles already restate) plus TRUE invariant flags —
    * unit-L2-norm-or-empty and nnz bounded by the hashable vocabulary —
    * replacing the two stats (nnz, comp_sum) whose exact values depend on
    * murmur3 bucketing DuckDB cannot restate. A Normalizer/IDF/HashingTF
    * regression (wrong norm, wrong dimensionality, phantom buckets) flips a
    * flag FALSE and breaks the hash. */
  def docEmbedGate(s: SparkSession, dir: String): DataFrame = Materialize.scoped { held =>
    import s.implicits._
    // one tokenization pass feeds both the stats pipeline and the anchor
    // column (was two single-task re-derivations — guide §1.2)
    val kt = held(keptTokens(s, dir))
    val kept = kt
      .select($"doc_id".as("vec_id"),
        size(array_distinct($"kept")).cast("long").as("n_kept_terms"))
    docEmbedStatsFrom(s, kt).join(kept, Seq("vec_id"))
      .select($"vec_id", $"dim", $"n_kept_terms",
        (($"nnz" === 0 && $"l2_norm" === 0.0) ||
          abs($"l2_norm" - 1.0) <= 1e-5).as("norm_ok"),
        ($"nnz" <= least(lit(64), $"n_kept_terms")).as("nnz_ok"))
      .localCheckpoint(true) // |docs| narrow rows
  }

  /** Exact sparse TF-IDF cosine top-k (no hashing): tf·ln((m+1)/(df+1))
    * weights over the literal terms, cosine via a term-equality join — the
    * fully SQL-expressible twin of [[docKnn]]'s hashed 64-dim ranking. Used
    * by [[docKnnGate]] as the recall reference (Spark-internal: the float
    * sums are not cross-engine bit-stable, so the flag — not the scores —
    * is what the oracle hashes). */
  private def tfidfExactKnnFrom(s: SparkSession, dir: String,
      kept: DataFrame, k: Int, nQueries: Int): DataFrame = Materialize.scoped { held =>
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val tf = kept
      .select($"doc_id", explode($"kept").as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val m = Tables.documents(s, dir).agg(count(lit(1)).as("m"))
    // filled: the two nrm joins, the qw broadcast build and the candidate
    // join submit jobs concurrently (unfilled: 8 overlapping 32-task jobs,
    // jobSum 2× wall)
    val w = held.fill(tf.join(df, "term").crossJoin(broadcast(m))
      .select($"doc_id", $"term",
        ($"tf" * log(($"m" + 1).cast("double") / ($"df" + 1).cast("double")))
          .as("wt"))
      .coalesce(8)) // few-hundred-k tiny rows: 8 cached partitions keep the
                    // ~6 downstream jobs at 8 tasks instead of 32
    val nrm = w.groupBy($"doc_id").agg(sum($"wt" * $"wt").as("nrm"))
    val qw = w.filter($"doc_id" < nQueries)
      .select($"doc_id".as("query_id"), $"term", $"wt".as("qwt"))
    val win = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"cand_id")
    w.join(broadcast(qw), Seq("term"))
      .filter($"doc_id" =!= $"query_id")
      .groupBy($"query_id", $"doc_id".as("cand_id"))
      .agg(sum($"qwt" * $"wt").as("dot"))
      .join(nrm.select($"doc_id".as("query_id"), $"nrm".as("qn")), Seq("query_id"))
      .join(nrm.select($"doc_id".as("cand_id"), $"nrm".as("cn")), Seq("cand_id"))
      .select($"query_id", $"cand_id",
        round($"dot" / sqrt($"qn" * $"cn"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(win))
      .filter($"rank" <= k)
      .localCheckpoint(true)
  }

  /** Round-16 driver-gate graduation of q_doc_knn — the bound-invariant
    * pattern: exact anchors DuckDB recomputes (query-slice size and its
    * total kept-token count, straight from the shared tokenization) plus a
    * TRUE flag asserting the hashed-64-dim ANN ranking recalls the exact
    * sparse TF-IDF top-k above the floor. The hashed ranking's only
    * approximation is murmur3 bucket collisions; a pipeline regression
    * (broken hashing, wrong IDF, dropped normalization) collapses the
    * overlap and flips the flag. */
  def docKnnGate(s: SparkSession, dir: String, k: Int = 3, nQueries: Int = 5,
      floor: Double = 0.2): DataFrame = Materialize.scoped { held =>
    import s.implicits._
    // ONE tokenization pass feeds the hashed ANN pipeline, the exact
    // TF-IDF reference, AND the gate's anchor aggregate (guide §1.2 —
    // this gate previously re-derived keptTokens ~5× through its stages,
    // each a single-task job over the one-split fixture)
    val kept = held.fill(keptTokens(s, dir))
    // the hashed ANN ranking and the exact TF-IDF reference run
    // CONCURRENTLY: both pipelines are independent given `kept` and both
    // end in an eager localCheckpoint, so the driver was simply calling two
    // multi-second action chains back to back (guide §2.6 — overlap
    // independent jobs)
    val both = Relational.overlapped(Seq(true, false), 2) { hashed =>
      if (hashed) docKnnFrom(s, kept, k, nQueries).select($"query_id", $"cand_id")
      else tfidfExactKnnFrom(s, dir, kept, k, nQueries)
        .select($"query_id", $"cand_id")
    }
    val (ann, exact) = (both(0), both(1))
    val hits = ann.join(exact, Seq("query_id", "cand_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nex = exact.agg(count(lit(1)).as("n_exact"))
    kept.filter($"doc_id" < nQueries)
      .agg(count(lit(1)).as("n_queries"),
        sum(size($"kept")).cast("long").as("q_kept_tokens"))
      .crossJoin(hits).crossJoin(nex)
      .select($"n_queries", $"q_kept_tokens",
        ($"n_hit".cast("double") / $"n_exact" >= floor).as("recall_ok"))
      .localCheckpoint(true) // one row
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ngram_counts" -> ((s, d) => ngramCounts(s, d)),
    "q_doc_freq" -> ((s, d) => docFreq(s, d)),
    "q_tfidf_topterms" -> ((s, d) => tfidfTopTerms(s, d)),
    "q_doc_embed" -> ((s, d) => docEmbedGate(s, d)),
    "q_doc_knn" -> ((s, d) => docKnnGate(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_ngram_counts" -> ngramCountsSql,
    "q_doc_freq" -> docFreqSql,
    "q_tfidf_topterms" -> tfidfTopTermsSql,
    "q_doc_embed" ->
      s"""WITH f AS (SELECT doc_id,
         |                  list_distinct(list_filter($keptSql,
         |                                            t -> len(t) >= 1)) AS kd
         |           FROM documents)
         |SELECT doc_id AS vec_id, CAST(64 AS INTEGER) AS dim,
         |       CAST(len(kd) AS BIGINT) AS n_kept_terms,
         |       TRUE AS norm_ok, TRUE AS nnz_ok
         |FROM f""".stripMargin,
    "q_doc_knn" ->
      s"""WITH f AS (SELECT doc_id,
         |                  list_filter($keptSql, t -> len(t) >= 1) AS k
         |           FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |       CAST(sum(len(k)) AS BIGINT) AS q_kept_tokens,
         |       TRUE AS recall_ok
         |FROM f WHERE doc_id < 5""".stripMargin,
  )
}
