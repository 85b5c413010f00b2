package graft.operators

import graft.{Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, document fingerprinting, language-ID (driver mandate;
  * SURVEY.md §7 Phase 6). All per-document work is row-local — codegen'd
  * higher-order functions over a token array, no UDFs, no shuffles — so it
  * scales embarrassingly-parallel to 100 TB of documents.
  */
object TextAnalysis {

  /** Whitespace tokenization shared by every text operator (and mirrored as
    * `regexp_split_to_array(trim(text), '\s+')` in the oracle SQL). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Shared with CurationOps.sourceFilter — same score, same stopword set. */
  private[operators] val StopWords =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Per-language keyword profiles for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcastable everywhere. */
  private val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "is", "en" -> "small",
    "es" -> "el", "es" -> "de", "es" -> "la", "es" -> "y", "es" -> "rapido",
    "de" -> "der", "de" -> "und", "de" -> "die", "de" -> "ist", "de" -> "klein",
    "fr" -> "le", "fr" -> "et", "fr" -> "la", "fr" -> "est", "fr" -> "petit",
    "zh" -> "shi", "zh" -> "de", "zh" -> "he", "zh" -> "da", "zh" -> "xiao")

  /** Token counts per document (whitespace tokenizer). */
  /** GPT-2-style BPE pre-tokenizer regex, restricted to RE2 syntax (no
    * lookahead) so Spark's Java regex and DuckDB's RE2 count identically:
    * a token is an optionally-space-prefixed letter run, digit run, or
    * punctuation run. */
  private val BpeTokenRe = """ ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"""

  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", size(tokens($"text")).as("n_tokens"),
        regexp_count($"text", lit(BpeTokenRe)).cast("int").as("n_bpe_tokens"),
        $"n_chars")
  }

  /** Quality scoring: token count, average token length, stopword ratio,
    * punctuation ratio, and a composite score — the usual cheap pre-filters
    * before expensive dedup/training stages. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isin(StopWords: _*))).cast("double")
    val nPunct = length(regexp_replace($"text", "[^.,!?;:]", "")).cast("double")
    val nonWs = length(regexp_replace($"text", "\\s", "")).cast("double")
    // ratios are NOT rounded: they are divisions of exact small integers,
    // bit-identical across engines — rounding would introduce half-ulp tie
    // mismatches (Spark rounds half-up, DuckDB half-even)
    Tables.documents(s, dir).select(
      $"doc_id", $"lang",
      size(toks).as("n_tokens"),
      (nonWs / nTok).as("avg_token_len"),
      (nStop / nTok).as("stopword_ratio"),
      (nPunct / $"n_chars".cast("double")).as("punct_ratio"),
      ((lit(1.0) - nStop / nTok) * least(nTok, lit(200.0)) / 200.0).as("quality_score"))
  }

  /** Canonical fingerprint: md5 over lowercased, whitespace-normalized
    * tokens — the exact-dedup key that survives formatting differences. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      md5(concat_ws(" ", transform(tokens($"text"), lower(_)))).as("fp"))
  }

  /** Rolling hash: an order-sensitive 61-bit document fingerprint, built
    * from bitwise ops only — a 61-bit rotate-xor fold over per-token hashes,
    * each token hashed by the same rotate-xor fold over its characters'
    * code points. Entirely engine-neutral integer arithmetic (rotation =
    * mask-low-56 → shift 5 → OR high 5 bits; every intermediate stays in
    * [0, 2⁶¹), so nothing overflows under ANSI mode in Spark or strict
    * BIGINT in DuckDB), which makes the WHOLE pipeline oracle-checkable —
    * this replaced an xxhash64-per-token variant whose oracle could only
    * count rows. The mixing is a cyclic-polynomial (Buzhash-style) rotation,
    * plenty for fingerprint demos; swap the token hash back to `xxhash64`
    * when avalanche quality matters more than cross-engine checkability.
    * Row-local (one fold per document), scales with the scan. */
  def rollingHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def rot(h: Column): Column = // 61-bit rotate-left by 5, overflow-free
      shiftleft(h.bitwiseAND(lit((1L << 56) - 1)), 5)
        .bitwiseOR(shiftrightunsigned(h, 56))
    def fold(xs: Column): Column =
      aggregate(xs, lit(0L), (acc, x) => rot(acc).bitwiseXOR(x))
    val tokHash = (t: Column) => fold(
      when(length(t) === 0, array().cast("array<long>"))
        .otherwise(transform(sequence(lit(1), length(t)),
          i => ascii(t.substr(i, lit(1))).cast("long"))))
    val rolled = fold(transform(tokens($"text"), tokHash))
    Tables.documents(s, dir).select($"doc_id", rolled.as("rolling_fp"))
  }

  private val rollingHashSql = {
    // identical 61-bit rotate-xor fold; list_reduce seeds with a prepended 0
    val m56 = (1L << 56) - 1
    def rot(h: String) = s"((($h & $m56) << 5) | ($h >> 56))"
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT,
       |    list_transform(regexp_split_to_array(trim(text), '\\s+'), tk ->
       |      list_reduce(list_prepend(0::BIGINT,
       |        [unicode(tk[i:i])::BIGINT for i in range(1, len(tk) + 1)]),
       |        (a, c) -> xor(${rot("a")}, c)))),
       |    (acc, h) -> xor(${rot("acc")}, h)) AS rolling_fp
       |FROM documents""".stripMargin
  }

  /** Language-ID heuristic: explode tokens, broadcast-join the keyword
    * profiles, count hits per (doc, lang), argmax via `max_by` with a
    * deterministic tiebreak (higher hit count, then lexicographically larger
    * language code). One narrow explode + broadcast join + one shuffle on
    * doc_id — scales linearly in tokens. The heuristic is deterministic
    * relational algebra over a literal profile table, so it IS
    * SQL-expressible — the oracle restates it with a VALUES profile and a
    * row_number argmax. */
  def languageId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profile = LangProfiles.toDF("cand_lang", "word")
    val hits = Tables.documents(s, dir)
      .select($"doc_id", explode(tokens(lower($"text"))).as("word"))
      .join(broadcast(profile), "word")
      .groupBy($"doc_id", $"cand_lang").agg(count(lit(1)).as("n_hits"))
      .groupBy($"doc_id")
      .agg(max_by($"cand_lang", struct($"n_hits", $"cand_lang")).as("pred_lang"),
        max($"n_hits").as("n_hits"))
    Tables.documents(s, dir).select($"doc_id", $"lang")
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"lang",
        coalesce($"pred_lang", lit("und")).as("pred_lang"),
        coalesce($"n_hits", lit(0L)).as("n_hits"))
  }

  /** Fixed-size token chunking — the context-window preparation step of an
    * LLM training pipeline: each document becomes ⌈n/chunkTokens⌉ rows of at
    * most `chunkTokens` tokens. Row-local (slice + posexplode, no shuffle),
    * so it scales with the scan. */
  def chunkDocs(s: SparkSession, dir: String, chunkTokens: Int = 50): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id", $"toks",
        posexplode(transform(
          sequence(lit(0), expr(s"(size(toks) - 1) div $chunkTokens")),
          i => slice($"toks", i * chunkTokens + 1, lit(chunkTokens)))))
      .select($"doc_id", $"pos".cast("int").as("chunk_no"),
        concat_ws(" ", $"col").as("chunk_text"),
        size($"col").as("n_tokens"))
  }

  /** PII-style redaction: emails and URLs replaced by placeholder tags plus a
    * caller-supplied sensitive-term list (word-boundary matched), with a
    * per-document redaction count. Row-local regex work — the standard
    * pre-training scrub pass. The fixture's synthetic vocabulary contains no
    * emails/URLs, so the oracle-checked instance redacts fixture terms; the
    * email/URL patterns ride along in the same pass. */
  def redactPii(s: SparkSession, dir: String,
      terms: Seq[String] = Seq("customer", "vector")): DataFrame = {
    import s.implicits._
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val urlRe = "https?://\\S+"
    val termRe = terms.mkString("\\b(", "|", ")\\b")
    val scrubbed = regexp_replace(
      regexp_replace(regexp_replace($"text", urlRe, "<URL>"), emailRe, "<EMAIL>"),
      termRe, "<PII>")
    Tables.documents(s, dir).select(
      $"doc_id", scrubbed.as("clean_text"),
      (regexp_count($"text", lit(termRe)) + regexp_count($"text", lit(emailRe))
        + regexp_count($"text", lit(urlRe))).cast("int").as("n_redacted"))
  }

  private val tokSql = """regexp_split_to_array(trim(text), '\s+')"""

  /** Unigram log-probability scoring — the perplexity-proxy quality gate:
    * score each document by the mean negative log corpus-unigram probability
    * of its tokens (high = surprising/atypical text, the tail a curation
    * pipeline inspects or drops). A real LM would be a model artifact; the
    * corpus-unigram LM is the deterministic, SQL-checkable core of the op.
    *
    * Plan: one explode→count pass builds the LM (shuffle keyed on token —
    * bounded by vocabulary, NOT broadcast: vocabularies at corpus scale are
    * GBs); the scoring pass re-joins tokens to their logprob on the same
    * key and aggregates per doc. ln differs by ≤1 ulp across engines and the
    * per-doc mean is order-dependent → round(6). */
  def unigramLogprob(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(tokens(lower($"text"))).as("tok"))
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
    // corpus total as a broadcast singleton (a global window here would
    // funnel the whole vocabulary through one partition)
    val total = counts.agg(sum($"c").as("total"))
    val lm = counts.crossJoin(broadcast(total))
      .select($"tok",
        (log($"c".cast("double")) - log($"total".cast("double"))).as("logp"))
    toks.join(lm, "tok")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-$"logp"), 6).as("avg_neg_logprob"))
  }

  /** Within-document repetition ratios — the Gopher/RefinedWeb-style
    * boilerplate detector: fraction of duplicate 2-grams and 3-grams inside
    * each document (1 − distinct/total). Entirely row-local (HOFs over the
    * token array, no shuffle, no join) — embarrassingly parallel at any
    * scale. Ratios are exact integer divisions — NOT rounded (rounding
    * would introduce half-ulp tie mismatches between engines). */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def grams(t: Column, n: Int): Column =
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n))))
    def dupRatio(t: Column, n: Int): Column = {
      val g = grams(t, n)
      when(size(t) >= n,
        lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double"))
        .otherwise(lit(0.0))
    }
    // spread: interpreted HOF n-gram building per row on the single-split
    // fixture would otherwise run one-task (measured 9.8 s vs ~2 s spread).
    // Tokenize in its OWN projection: CollapseProject refuses to duplicate
    // non-cheap expressions, so `t` is computed once per row instead of once
    // per flag expression.
    val t = $"t"
    Tables.documentsSpread(s, dir)
      .select($"doc_id", tokens(lower($"text")).as("t"))
      .select(
        $"doc_id",
        size(t).as("n_tokens"),
        dupRatio(t, 2).as("dup_2gram_ratio"),
        dupRatio(t, 3).as("dup_3gram_ratio"))
  }

  private val repetitionSql = {
    def g(n: Int) =
      s"[array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]"
    def ratio(n: Int) =
      s"""CASE WHEN len(t) >= $n
         |  THEN 1.0 - CAST(len(list_distinct(${g(n)})) AS DOUBLE) / len(${g(n)})
         |  ELSE 0.0 END""".stripMargin
    s"""SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
       |  ${ratio(2)} AS dup_2gram_ratio,
       |  ${ratio(3)} AS dup_3gram_ratio
       |FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |      FROM documents)""".stripMargin
  }

  /** Composed keep/drop curation verdict — the rule-stack shape of
    * Gopher/RefinedWeb quality filtering: minimum length, stopword-ratio
    * cap, and repetition cap, each surfaced as its own flag plus the
    * conjunction, so downstream can audit WHY a document was dropped.
    * Row-local; composes `repetition` with the qualityScore ratios. */
  def qualityRules(s: SparkSession, dir: String, minTokens: Int = 20,
      maxStop: Double = 0.5, maxDup2: Double = 0.4): DataFrame = {
    import s.implicits._
    // tokenize once per row (own projection — see repetition())
    val t = $"t"
    val nTok = size(t).cast("double")
    val stopRatio =
      size(filter(t, x => x.isin(StopWords: _*))).cast("double") / nTok
    val g2 = transform(sequence(lit(0), size(t) - 2),
      i => concat_ws(" ", slice(t, i + 1, lit(2))))
    val dup2 = when(size(t) >= 2,
      lit(1.0) - size(array_distinct(g2)).cast("double") / size(g2).cast("double"))
      .otherwise(lit(0.0))
    Tables.documentsSpread(s, dir)
      .select($"doc_id", tokens(lower($"text")).as("t"))
      .select(
        $"doc_id",
        (size(t) >= minTokens).as("len_ok"),
        (stopRatio <= maxStop).as("stop_ok"),
        (dup2 <= maxDup2).as("rep_ok"))
      .withColumn("keep", $"len_ok" && $"stop_ok" && $"rep_ok")
  }

  private[operators] val qualityRulesSql =
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
       |f AS (SELECT doc_id,
       |  len(t) >= 20 AS len_ok,
       |  CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE) / len(t) <= 0.5 AS stop_ok,
       |  (CASE WHEN len(t) >= 2
       |    THEN 1.0 - CAST(len(list_distinct([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))])) AS DOUBLE)
       |             / len([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))])
       |    ELSE 0.0 END) <= 0.4 AS rep_ok
       |  FROM t)
       |SELECT doc_id, len_ok, stop_ok, rep_ok,
       |       len_ok AND stop_ok AND rep_ok AS keep
       |FROM f""".stripMargin

  /** Text normalization — the first pass of every curation pipeline:
    * control characters to spaces, lowercase, runs of whitespace collapsed
    * to one space, ends trimmed. Pure row-local regex work (codegen'd
    * `RegExpReplace`, no shuffle); simple character-class patterns behave
    * identically in Java regex and DuckDB's RE2. */
  def normalizeText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = trim(regexp_replace(
      lower(regexp_replace($"text", "[\\x00-\\x1F]", " ")), "\\s{2,}", " "))
    Tables.documents(s, dir).select(
      $"doc_id", norm.as("norm_text"), length(norm).cast("int").as("norm_len"))
  }

  private val normalizeTextSql =
    """SELECT doc_id,
      |  trim(regexp_replace(lower(regexp_replace(text, '[\x00-\x1F]', ' ', 'g')),
      |       '\s{2,}', ' ', 'g')) AS norm_text,
      |  CAST(length(trim(regexp_replace(lower(regexp_replace(text, '[\x00-\x1F]', ' ', 'g')),
      |       '\s{2,}', ' ', 'g'))) AS INTEGER) AS norm_len
      |FROM documents""".stripMargin

  /** Pointwise mutual information of adjacent token pairs — the corpus
    * collocation statistic (phrase detection, tokenizer-merge candidates).
    *
    * Plan: one pass builds unigram counts (hash agg keyed on token — bounded
    * by vocabulary), one row-local `arrays_zip(slice,slice)` builds bigrams
    * with NO self-join (the naive pos/pos+1 equi-self-join would shuffle the
    * token stream twice), then a hash agg on the pair. Corpus totals ride as
    * broadcast singletons. Only pairs above `minCount` join back to the
    * unigram table — a frequency-pruned, vocabulary-sized join, never
    * corpus-sized. The two count tables feed five plan branches (two
    * joins, two totals, one probe), so they are persisted — the corpus is
    * scanned exactly twice, not five times — and released once the (small,
    * frequency-pruned) result is checkpointed. `ln` may differ by 1 ulp
    * across engines → round(6). */
  def pmiBigrams(s: SparkSession, dir: String,
      minCount: Int = 20): DataFrame = Materialize.scoped { held =>
    import s.implicits._
    val toks = Tables.documentsSpread(s, dir)
      .select(tokens(lower($"text")).as("t"))
    val uni = held.fill(toks.select(explode($"t").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c")))
    val bi = toks.filter(size($"t") >= 2)
      .select(explode(arrays_zip(
        slice($"t", lit(1), size($"t") - 1),
        slice($"t", lit(2), size($"t") - 1))).as("p"))
      .select(col("p").getField("0").as("w1"), col("p").getField("1").as("w2"))
    val bic = held.fill(bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_pair")))
    val nUni = uni.agg(sum($"c").as("n_uni"))
    val nBi = bic.agg(sum($"n_pair").as("n_bi"))
    bic.filter($"n_pair" >= minCount)
      .join(uni.select($"tok".as("w1"), $"c".as("c1")), "w1")
      .join(uni.select($"tok".as("w2"), $"c".as("c2")), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select($"w1", $"w2", $"n_pair",
        round(log(($"n_pair".cast("double") / $"n_bi") /
          (($"c1".cast("double") / $"n_uni") * ($"c2".cast("double") / $"n_uni"))), 6)
          .as("pmi"))
      .localCheckpoint(true)
  }

  private val pmiBigramsSql =
    """WITH toks AS (
      |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
      |tok AS (SELECT unnest(t) AS tok FROM toks),
      |bip AS (
      |  SELECT pair[1] AS w1, pair[2] AS w2
      |  FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS pair
      |        FROM toks WHERE len(t) >= 2)),
      |uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
      |bic AS (SELECT w1, w2, count(*) AS n_pair FROM bip GROUP BY w1, w2),
      |tot AS (SELECT (SELECT count(*) FROM tok) AS n_uni,
      |               (SELECT count(*) FROM bip) AS n_bi)
      |SELECT b.w1, b.w2, b.n_pair,
      |  round(ln((CAST(b.n_pair AS DOUBLE) / t.n_bi) /
      |        ((CAST(u1.c AS DOUBLE) / t.n_uni) * (CAST(u2.c AS DOUBLE) / t.n_uni))), 6) AS pmi
      |FROM bic b JOIN uni u1 ON b.w1 = u1.tok JOIN uni u2 ON b.w2 = u2.tok, tot t
      |WHERE b.n_pair >= 20""".stripMargin

  /** The curation blocklist: token-delimited phrases whose presence flags a
    * document (banned content, boilerplate markers). Includes overlapping
    * patterns ("table scan" nests inside "slow table scan" — both must
    * report) and never-matching entries (the automaton must not false-hit).
    * Pipe-joined into a literal so the oracle can restate it verbatim. */
  private[graft] val Blocklist: Seq[String] = Seq(
    "slow scan", "table scan", "hash join", "slow query",
    "fast merge", "sort merge", "slow table scan", "drop table")

  /** Blocklist screening over the corpus: which banned phrases does each
    * document contain, and is it kept or dropped?
    *
    * Scale shape: ONE Aho–Corasick DFA pass per document — O(|text|)
    * regardless of blocklist size (see [[graft.functions.AhoCorasick]]) —
    * versus the naive P-`contains` plan whose cost is O(|text|·P) and grows
    * with every phrase added. No shuffle at all: the screen is row-local,
    * runs inside WholeStageCodegen directly over the scan, and at 100 TB
    * is a map-only stage that composes with any downstream filter
    * (`verdict = 'keep'` prunes before anything expensive runs). */
  def blocklistFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        graft.functions.MultiMatch.multiPhraseMatches($"text", Blocklist).as("blocked"))
      .select($"doc_id", $"blocked",
        when($"blocked" === "", lit(0))
          .otherwise(size(split($"blocked", ","))).cast("int").as("n_blocked"))
      .withColumn("verdict", when($"n_blocked" > 0, lit("drop")).otherwise(lit("keep")))
  }

  private val blocklistFilterSql = {
    val lits = Blocklist.map(p => s"'$p'").mkString(", ")
    s"""WITH bl AS (SELECT unnest([$lits]) AS ph),
       |m AS (SELECT d.doc_id, b.ph
       |      FROM documents d CROSS JOIN bl b
       |      WHERE contains(' ' || d.text || ' ', ' ' || b.ph || ' '))
       |SELECT d.doc_id,
       |       coalesce(string_agg(m.ph, ',' ORDER BY m.ph), '') AS blocked,
       |       CAST(count(m.ph) AS INTEGER) AS n_blocked,
       |       CASE WHEN count(m.ph) > 0 THEN 'drop' ELSE 'keep' END AS verdict
       |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
       |GROUP BY d.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_blocklist_filter" -> ((s, d) => blocklistFilter(s, d)),
    "q_normalize_text" -> ((s, d) => normalizeText(s, d)),
    "q_pmi_bigrams" -> ((s, d) => pmiBigrams(s, d)),
    "q_token_stats" -> ((s, d) => tokenStats(s, d)),
    "q_unigram_logprob" -> ((s, d) => unigramLogprob(s, d)),
    "q_repetition" -> ((s, d) => repetition(s, d)),
    "q_quality_rules" -> ((s, d) => qualityRules(s, d)),
    "q_text_quality" -> ((s, d) => qualityScore(s, d)),
    "q_topk_quality" -> ((s, d) => topkQualityPerLang(s, d)),
    "q_fingerprint" -> ((s, d) => fingerprint(s, d)),
    "q_rolling_hash" -> ((s, d) => rollingHash(s, d)),
    "q_lang_id" -> ((s, d) => languageId(s, d)),
    "q_langid_eval" -> ((s, d) => langIdEval(s, d)),
    "q_chunk_docs" -> ((s, d) => chunkDocs(s, d)),
    "q_chunk_dedup" -> ((s, d) => chunkDedup(s, d)),
    "q_redact_pii" -> ((s, d) => redactPii(s, d)),
  )

  /** Group-wise best-documents selection: top-k docs per language by
    * quality score through the `top_k_by` bounded-heap aggregate — the
    * "keep the best N per stratum" curation step, executed with O(k) state
    * per group and map-side partials instead of a full per-group sort
    * (`functions/TopKAgg.scala`). The quality score is IEEE-exact arithmetic
    * on integer counts, so both engines rank identically; ties break toward
    * the smaller doc_id on both sides. */
  def topkQualityPerLang(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    qualityScore(s, dir)
      .groupBy($"lang")
      .agg(graft.functions.TopKAgg.topKBy($"quality_score", $"doc_id", k).as("top"))
      .select($"lang", posexplode($"top"))
      .select($"lang", ($"pos" + 1).cast("int").as("rank"),
        $"col.id".as("doc_id"), $"col.score".as("quality_score"))
  }

  /** Chunk-granularity exact dedup — the composition a training pipeline
    * actually runs (documents are chunked to context-window size FIRST, then
    * deduplicated at chunk level so boilerplate shared across documents is
    * dropped once). Chunking is row-local; the dedup is one hash-groupBy on
    * the 128-bit chunk fingerprint (never the chunk text). */
  def chunkDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chunkDocs(s, dir)
      .select(md5($"chunk_text").as("chunk_hash"), $"doc_id", $"n_tokens")
      .groupBy($"chunk_hash")
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keep_doc"),
        max($"n_tokens").as("n_tokens"))
  }

  private val langIdSql = {
    val prof = LangProfiles
      .map { case (l, w) => s"('$l','$w')" }.mkString(", ")
    s"""WITH prof(cand_lang, word) AS (VALUES $prof),
       |tok AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id, cand_lang, count(*) AS n_hits
       |  FROM tok JOIN prof USING (word)
       |  GROUP BY doc_id, cand_lang),
       |best AS (
       |  SELECT doc_id, cand_lang AS pred_lang, n_hits
       |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |          ORDER BY n_hits DESC, cand_lang DESC) AS rn FROM hits)
       |  WHERE rn = 1)
       |SELECT d.doc_id, d.lang,
       |       coalesce(b.pred_lang, 'und') AS pred_lang,
       |       coalesce(b.n_hits, 0) AS n_hits
       |FROM documents d LEFT JOIN best b USING (doc_id)""".stripMargin
  }

  /** Language-ID EVALUATION — the component-level scorecard for
    * [[languageId]]: accuracy AND Cohen's kappa against the labeled `lang`
    * column, computed from the confusion marginals (the same
    * chance-corrected shape as `q_knn_classifier`, here over the WHOLE
    * corpus — marginals are ≤|langs|² groups, everything after the
    * predictor is bounded). Kappa is the number that matters for a
    * screening component: corpus language imbalance hands raw accuracy
    * out for free, and a lang-id gate that only ever predicts the
    * majority language would silently pass an accuracy bar. */
  def langIdEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pred = languageId(s, dir)
      .select($"lang".as("qlabel"), $"pred_lang".as("plabel"))
    val tot = pred.agg(count(lit(1)).cast("long").as("n_eval"),
      sum(when($"qlabel" === $"plabel", 1L).otherwise(0L)).as("n_correct"))
    val rc = pred.groupBy($"qlabel".as("l")).agg(count(lit(1)).as("rm"))
      .join(pred.groupBy($"plabel".as("l")).agg(count(lit(1)).as("cmg")),
        Seq("l"), "full_outer")
      .agg(sum(coalesce($"rm", lit(0L)) * coalesce($"cmg", lit(0L))).as("sum_rc"))
    tot.crossJoin(rc)
      .withColumn("po_raw", $"n_correct" / $"n_eval".cast("double"))
      .withColumn("pe_raw", $"sum_rc" / ($"n_eval".cast("double") * $"n_eval"))
      .select($"n_eval", $"n_correct",
        round($"po_raw", 6).as("accuracy"),
        round($"pe_raw", 6).as("pe"),
        round(($"po_raw" - $"pe_raw") / (lit(1.0) - $"pe_raw"), 6).as("kappa"))
  }

  private val langIdEvalSql =
    s"""WITH li AS ($langIdSql),
       |pred AS (SELECT lang AS qlabel, pred_lang AS plabel FROM li),
       |m AS (SELECT COALESCE(rm, 0) AS rm, COALESCE(cmg, 0) AS cmg
       |      FROM (SELECT qlabel AS l, count(*) AS rm FROM pred GROUP BY 1) r
       |      FULL JOIN (SELECT plabel AS l2, count(*) AS cmg FROM pred GROUP BY 1) c2
       |        ON r.l = c2.l2),
       |stats AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_eval,
       |    (SELECT CAST(count(*) AS BIGINT) FROM pred WHERE qlabel = plabel) AS n_correct,
       |    (SELECT CAST(sum(rm * cmg) AS BIGINT) FROM m) AS sum_rc)
       |SELECT n_eval, n_correct,
       |       round(n_correct / CAST(n_eval AS DOUBLE), 6) AS accuracy,
       |       round(sum_rc / (CAST(n_eval AS DOUBLE) * n_eval), 6) AS pe,
       |       round((n_correct / CAST(n_eval AS DOUBLE)
       |              - sum_rc / (CAST(n_eval AS DOUBLE) * n_eval))
       |             / (1 - sum_rc / (CAST(n_eval AS DOUBLE) * n_eval)), 6) AS kappa
       |FROM stats""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_langid_eval" -> langIdEvalSql,
    "q_blocklist_filter" -> blocklistFilterSql,
    "q_rolling_hash" -> rollingHashSql,
    "q_lang_id" -> langIdSql,
    "q_normalize_text" -> normalizeTextSql,
    "q_pmi_bigrams" -> pmiBigramsSql,
    "q_token_stats" ->
      s"""SELECT doc_id, lang, CAST(len($tokSql) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+')) AS INTEGER) AS n_bpe_tokens,
         |  n_chars
         |FROM documents""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars, text, $tokSql AS toks FROM documents)
         |SELECT doc_id, lang, CAST(len(toks) AS INTEGER) AS n_tokens,
         | CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(toks) AS avg_token_len,
         | CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE) / len(toks) AS stopword_ratio,
         | CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / n_chars AS punct_ratio,
         | (1.0 - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE) / len(toks))
         |       * least(CAST(len(toks) AS DOUBLE), 200.0) / 200.0 AS quality_score
         |FROM t""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id,
         | md5(array_to_string(list_transform($tokSql, x -> lower(x)), ' ')) AS fp
         |FROM documents""".stripMargin,
    "q_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |             unnest(range(0, CAST(ceil(len(toks) / 50.0) AS BIGINT))) AS chunk_no,
         |             toks
         |      FROM t)
         |SELECT doc_id, CAST(chunk_no AS INTEGER) AS chunk_no,
         |       array_to_string(toks[(chunk_no*50+1):(chunk_no*50+50)], ' ') AS chunk_text,
         |       CAST(len(toks[(chunk_no*50+1):(chunk_no*50+50)]) AS INTEGER) AS n_tokens
         |FROM c""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |             unnest(range(0, CAST(ceil(len(toks) / 50.0) AS BIGINT))) AS chunk_no,
         |             toks
         |      FROM t),
         |ch AS (SELECT doc_id,
         |              array_to_string(toks[(chunk_no*50+1):(chunk_no*50+50)], ' ') AS chunk_text,
         |              len(toks[(chunk_no*50+1):(chunk_no*50+50)]) AS n_tokens
         |       FROM c)
         |SELECT md5(chunk_text) AS chunk_hash, count(*) AS n_copies,
         |       min(doc_id) AS keep_doc, CAST(max(n_tokens) AS INTEGER) AS n_tokens
         |FROM ch GROUP BY md5(chunk_text)""".stripMargin,
    "q_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(customer|vector)\b', '<PII>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(text, '\b(customer|vector)\b'))
        |     + len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(text, 'https?://\S+')) AS INTEGER) AS n_redacted
        |FROM documents""".stripMargin,
    "q_topk_quality" ->
      s"""WITH t AS (SELECT doc_id, lang, $tokSql AS toks FROM documents),
         |q AS (SELECT doc_id, lang,
         |  (1.0 - CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE) / len(toks))
         |        * least(CAST(len(toks) AS DOUBLE), 200.0) / 200.0 AS quality_score
         |  FROM t)
         |SELECT lang,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS INTEGER) AS rank,
         |       doc_id, quality_score
         |FROM q QUALIFY rank <= 3""".stripMargin,
    "q_repetition" -> repetitionSql,
    "q_quality_rules" -> qualityRulesSql,
    "q_unigram_logprob" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |lm AS (
        |  SELECT tok, ln(CAST(count(*) AS DOUBLE))
        |            - ln(CAST((SELECT count(*) FROM t) AS DOUBLE)) AS logp
        |  FROM t GROUP BY tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(-logp), 6) AS avg_neg_logprob
        |FROM t JOIN lm USING (tok) GROUP BY doc_id""".stripMargin,
    // q_rolling_hash, q_lang_id: rows-only (Spark-specific hashing / heuristic)
  )
}
