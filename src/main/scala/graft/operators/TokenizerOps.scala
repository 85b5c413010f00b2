package graft.operators

import graft.{Materialize, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE-style tokenizer training statistics — the corpus-scale
  * half of byte-pair-encoding: counting symbol-pair frequencies and applying
  * greedy merges. On a 100 TB corpus this IS the expensive part of training
  * a tokenizer (the vocabulary loop is tiny; the pair counting is a full
  * corpus scan per merge), so it is expressed as hash aggregates over the
  * word-frequency table, never over raw text: identical words collapse to
  * one row with a count BEFORE any per-character work, which on natural text
  * cuts the working set by orders of magnitude (Zipf).
  *
  * Reference ships no tokenizer (`/root/reference/readme.md` stops at SQL
  * analytics); this extends the training-data surface like `TextFeatures`.
  */
object TokenizerOps {

  /** Word-frequency table: one row per distinct lowercased whitespace token
    * with its corpus count — the standard BPE input representation. */
  private def wordFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documentsSpread(s, dir)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("n"))
  }

  /** Adjacent character-pair counts across the corpus (round-1 BPE
    * statistics), weighted by word frequency — top pairs by (count, pair).
    * One explode per distinct word (not per occurrence) then a hash
    * aggregate on a ≤ alphabet² key space: nothing here scales with corpus
    * size except the first word-count aggregation. */
  def bpePairs(s: SparkSession, dir: String, k: Int = 30): DataFrame = {
    import s.implicits._
    wordFreq(s, dir)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
        $"n")
      .groupBy($"pair").agg(sum($"n").as("n_occ"))
      .orderBy($"n_occ".desc, $"pair")
      .limit(k)
  }

  private val bpePairsSql =
    """WITH wf AS (
      |  SELECT w, count(*) AS n FROM (
      |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |    FROM documents)
      |  WHERE len(w) >= 2 GROUP BY w),
      |p AS (
      |  SELECT unnest([w[i:i+1] for i in range(1, len(w))]) AS pair, n
      |  FROM wf)
      |SELECT pair, CAST(sum(n) AS BIGINT) AS n_occ FROM p GROUP BY pair
      |ORDER BY n_occ DESC, pair LIMIT 30""".stripMargin

  /** Greedy BPE merge training, `rounds` iterations: each round counts
    * adjacent symbol pairs over the (persisted) symbol-sequence table, takes
    * the argmax by (count, pair) — a LIMIT-1 collect, O(1) rows to the
    * driver, same bounded pattern as the PageRank convergence checks — and
    * rewrites every sequence with a left-to-right fold that fuses that pair
    * (classic BPE semantics: a freshly fused symbol does not immediately
    * re-fuse with the next character in the same pass; "aaa" + rule (a,a)
    * → ["aa","a"]).
    *
    * The rewrite is a higher-order `aggregate` over the symbol
    * array — no UDF — and each round persists its result and drops the
    * previous round, so lineage stays one round deep and every round is
    * exactly one shuffle (the pair count). Pairs are counted as (left,
    * right) struct fields, not a concatenated string, so multi-character
    * symbols cannot alias ("ab"+"c" vs "a"+"bc").
    *
    * Not SQL-expressible as one query (the merge loop is inherently
    * iterative with a data-dependent rule per round) → rows-only in the
    * driver gate; `TokenizerSpec` checks it against an independent
    * single-machine BPE reference on the same fixture slice plus the
    * round-1-equals-`bpePairs`-top-1 invariant. */
  def bpeTrain(s: SparkSession, dir: String, rounds: Int = 5): DataFrame = {
    import s.implicits._
    val rules = trainMergesImpl(s, dir, rounds)
    lastTrainedRules = Some(rules)
    rules.toDF("round", "left", "right", "n_occ")
  }

  /** The rule table learned by the most recent [[bpeTrain]] run — feeds the
    * dynamically generated [[bpeTrainOracleSql]] (same pattern as
    * [[lastTrainedMerges]]: `oracle` is a def read AFTER Verify runs the
    * queries). */
  @volatile private var lastTrainedRules: Option[Seq[(Int, String, String, Long)]] = None

  /** FULL DuckDB restatement of the greedy trainer (round-16 graduation of
    * the last rows-only tokenizer query): for each round i, DuckDB rewrites
    * every word with the PREFIX rules 1..i-1 — the separator-framed replace
    * cascade [[perTokenCountSql]] proved equivalent to the trainer's
    * left-to-right fold — splits the frame back into symbols, recounts
    * adjacent pairs weighted by word frequency, and takes the argmax by
    * (count desc, left, right). The learned rules enter only as REWRITE
    * literals; each round's argmax is recomputed independently, so a trainer
    * that picked any wrong pair (or miscounted) at any round diverges from
    * the oracle and fails the hash. */
  private def bpeTrainOracleSql(rules: Seq[(Int, String, String, Long)]): String = {
    // precondition: corpus words must not contain U+0001 (the frame
    // separator). The trainer treats such a char as an ordinary symbol,
    // but the framed-replace restatement cannot represent it — unlike
    // bpeEncode, which strips it on BOTH engines, the trainer's semantics
    // cannot strip without changing its output. Holds for the fixtures
    // (and any real text corpus); a violating corpus would fail the hash
    // loudly, never silently pass.
    val sep = "chr(1)"
    def framedFor(prefix: Seq[(String, String)]): String = {
      val base = s"concat($sep, $sep, regexp_replace(w, '(.)', '\\1' || $sep || $sep, 'g'))"
      prefix.foldLeft(base) { case (acc, (l, r)) =>
        s"replace($acc, $sep || '${duckEsc(l)}' || $sep || $sep || '${duckEsc(r)}' || $sep, " +
          s"$sep || '${duckEsc(l)}${duckEsc(r)}' || $sep)"
      }
    }
    val blocks = rules.map { case (round, _, _, _) =>
      val prefix = rules.filter(_._1 < round).map(t => (t._2, t._3))
      s"""(SELECT CAST($round AS INTEGER) AS round, p.l AS "left", p.r AS "right",
         |        CAST(sum(n) AS BIGINT) AS n_occ
         | FROM (SELECT unnest([struct_pack(l := syms[j], r := syms[j + 1])
         |                      for j in range(1, len(syms))]) AS p, n
         |       FROM (SELECT list_filter(string_split(${framedFor(prefix)},
         |                                             $sep || $sep),
         |                                x -> len(x) > 0) AS syms, n
         |             FROM wf) s)
         | GROUP BY p.l, p.r ORDER BY sum(n) DESC, "left", "right" LIMIT 1)""".stripMargin
    }
    s"""WITH wf AS (
       |  SELECT w, count(*) AS n FROM (
       |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE len(w) >= 2 GROUP BY w)
       |${blocks.mkString("\n UNION ALL\n")}""".stripMargin
  }

  /** The trainer's core, returning the learned rules as a driver-side Seq
    * (bounded: `rounds` rows — the vocabulary is tiny by construction; the
    * corpus-scale work stays in the per-round pair-count shuffles). Shared
    * by [[bpeTrain]] (rule table as a DataFrame) and [[bpeTrainEncode]]
    * (rules feed the encoder as literals). */
  private def trainMergesImpl(s: SparkSession, dir: String,
      rounds: Int): Seq[(Int, String, String, Long)] = Materialize.scoped { held =>
    import s.implicits._
    var seqs = held(wordFreq(s, dir)
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), $"n"))
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val top = seqs
        .select(explode(expr(
          """transform(sequence(0, size(syms) - 2),
            |          i -> struct(element_at(syms, i + 1) AS l,
            |                      element_at(syms, i + 2) AS r))""".stripMargin))
          .as("p"), $"n")
        .groupBy($"p.l", $"p.r").agg(sum($"n").as("n_occ"))
        .orderBy($"n_occ".desc, $"l", $"r")
        .limit(1)
        .collect() // exactly one row — the argmax rule for this round
      if (top.nonEmpty) {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += ((round, l, r, cnt))
        // filled before the parent's cache is dropped
        val merged = held.fill(seqs.select(expr(
          s"""aggregate(syms, CAST(array() AS ARRAY<STRING>),
             |          (acc, x) -> CASE WHEN size(acc) > 0
             |                            AND element_at(acc, -1) = '${esc(l)}'
             |                            AND x = '${esc(r)}'
             |            THEN concat(slice(acc, 1, size(acc) - 1),
             |                        array(concat('${esc(l)}', '${esc(r)}')))
             |            ELSE concat(acc, array(x)) END)""".stripMargin)
          .as("syms"), $"n"))
        held.release(seqs)
        seqs = merged
      }
    }
    rules.result()
  }

  private def esc(sym: String): String =
    sym.replace("\\", "\\\\").replace("'", "\\'")

  /** The apply half of the tokenizer: encode with a FIXED merge table (in
    * production the merges.txt artifact a trainer published; here a small
    * table of common English merges, applied in order). */
  val FixedMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("r", "e"))

  /** BPE encoding via separator framing: a token's symbol sequence is the
    * string `␟␟s1␟␟s2␟␟…␟␟` (every boundary carries TWO  separators,
    * including both ends), and one merge pass for rule (l, r) is a single
    * literal `replace` of `␟l␟␟r␟` with `␟lr␟`.
    *
    * Why this equals the canonical left-to-right fold (bpeTrain's rewrite):
    * `replace` substitutes non-overlapping occurrences left to right, and a
    * match consumes ONE separator from its outer boundaries and BOTH from
    * the merged middle — so each adjacent boundary keeps one separator and
    * the replacement's own edge separators restore the doubled frame,
    * letting an immediately following pair ("aaaa" with rule (a,a) →
    * [aa,aa]) still match, while the consumed middle prevents re-fusing the
    * freshly merged symbol ("aaa" → [aa,a]). A merged symbol `lr` can never
    * participate in another match of the SAME rule anyway (l ≠ lr and
    * r ≠ lr for nonempty halves), so one replace pass per rule is exactly
    * one BPE merge pass. Symbol count falls out arithmetically:
    * #separators / 2 − 1.
    *
    * Everything is literal-string `replace` + `length` — row-local, codegen,
    * no regex backtracking, no per-row UDF — and the SAME formulation runs
    * in DuckDB (`replace`/`list_transform`), making the encoder exactly
    * oracle-checkable, which the iterative trainer (`bpeTrain`) cannot be.
    * `TokenizerSpec` additionally cross-checks it against the trainer's
    * independent array-fold rewrite on the same rules. */
  /** Spark-SQL text of the post-merge symbol count for a token referenced
    * by the SQL expression `inner` (a column name or lambda variable) —
    * shared by the registered query and the property test that hammers the
    * replace-vs-fold equivalence with pathological run-heavy tokens. */
  private[graft] def perTokenCountSql(inner: String,
      merges: Seq[(String, String)] = FixedMerges): String = {
    val sep = "\u0001"
    // frame: strip any stray separator chars, then "ab" -> ␟␟a␟␟b␟␟
    val framed = s"concat('$sep$sep', regexp_replace(replace($inner, '$sep', ''), " +
      s"'(.)', '$$1$sep$sep'))"
    val merged = merges.foldLeft(framed) { case (acc, (l, r)) =>
      s"replace($acc, '$sep${esc(l)}$sep$sep${esc(r)}$sep', '$sep${esc(l)}${esc(r)}$sep')"
    }
    s"(length($merged) - length(replace($merged, '$sep', ''))) div 2 - 1"
  }

  def bpeEncode(s: SparkSession, dir: String,
      merges: Seq[(String, String)] = FixedMerges): DataFrame = {
    import s.implicits._
    val perToken = perTokenCountSql("tk", merges)
    Tables.documentsSpread(s, dir)
      .select($"doc_id",
        expr(s"""aggregate(
                |  filter(split(trim(lower(text)), '\\\\s+'), tk -> length(tk) >= 1),
                |  0L, (acc, tk) -> acc + ($perToken))""".stripMargin).as("n_bpe_tokens"),
        expr("""aggregate(
                |  filter(split(trim(lower(text)), '\\s+'), tk -> length(tk) >= 1),
                |  0L, (acc, tk) -> acc + length(tk))""".stripMargin).as("n_char_symbols"))
  }

  /** DuckDB single-quote escape (doubling) for learned symbols — the fixed
    * table is plain letters, but trained merges come from corpus text. */
  private def duckEsc(sym: String): String = sym.replace("'", "''")

  /** The DuckDB restatement of [[bpeEncode]] for an arbitrary merge table —
    * the same separator-framed replace cascade, so the learned table can be
    * embedded as literals (the merges.txt-as-literals pattern). */
  private def encodeSqlFor(merges: Seq[(String, String)]): String = {
    val sep = "chr(1)"
    val framed = s"concat($sep, $sep, regexp_replace(replace(tk, $sep, ''), " +
      s"'(.)', '\\1' || $sep || $sep, 'g'))"
    val merged = merges.foldLeft(framed) { case (acc, (l, r)) =>
      s"replace($acc, $sep || '${duckEsc(l)}' || $sep || $sep || '${duckEsc(r)}' || $sep, " +
        s"$sep || '${duckEsc(l)}${duckEsc(r)}' || $sep)"
    }
    val perToken = s"(length($merged) - length(replace($merged, $sep, ''))) // 2 - 1"
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                     tk -> len(tk) >= 1) AS tks
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(coalesce(list_sum(list_transform(tks, tk -> $perToken)), 0)
       |            AS BIGINT) AS n_bpe_tokens,
       |       CAST(coalesce(list_sum(list_transform(tks, tk -> len(tk))), 0)
       |            AS BIGINT) AS n_char_symbols
       |FROM toks""".stripMargin
  }

  private val bpeEncodeSql = encodeSqlFor(FixedMerges)

  /** The merge table learned by the most recent [[bpeTrainEncode]] run —
    * lets `oracle` (a def, read by Verify AFTER the queries run) embed the
    * learned rules as literals in the composed query's oracle SQL. */
  @volatile private var lastTrainedMerges: Option[Seq[(String, String)]] = None

  /** The composed tokenizer loop: TRAIN the merge table on the corpus, then
    * ENCODE the corpus with the learned rules — the end-to-end shape a real
    * pipeline runs (train tokenizer → tokenize corpus), closing the gap
    * where the encoder only ever saw a fixed table. The learned rules reach
    * the encoder as literal strings (exactly how a published merges.txt
    * feeds production tokenizers), so the encode half stays row-local
    * codegen `replace` arithmetic, and the oracle embeds the same literal
    * rules — training is iterative (not SQL-expressible) but the
    * composition's OUTPUT is still exactly hash-checked. */
  def bpeTrainEncode(s: SparkSession, dir: String, rounds: Int = 5): DataFrame = {
    val merges = trainMergesImpl(s, dir, rounds).map { case (_, l, r, _) => (l, r) }
    lastTrainedMerges = Some(merges)
    bpeEncode(s, dir, merges)
  }

  /** Tokenizer FERTILITY report — tokens-per-word and tokens-per-char by
    * language, the standard measurement of how evenly a tokenizer treats
    * the corpus's languages (a language paying 2× the tokens per word gets
    * half the effective context window and double the training cost — the
    * fairness number multilingual-tokenizer papers lead with). Composes
    * the row-local BPE encoder over the corpus with one per-language
    * aggregate; ratios are exact-integer-sum divisions rounded at 6 dp. */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val enc = bpeEncode(s, dir)
    val words = Tables.documents(s, dir).select($"doc_id", $"lang",
      size(filter(split(trim(lower($"text")), "\\s+"),
        tk => length(tk) >= 1)).cast("long").as("n_words"))
    enc.join(words, Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bpe_tokens").as("n_tokens"),
        sum($"n_words").as("n_words"),
        round(sum($"n_bpe_tokens").cast("double") / sum($"n_words"), 6)
          .as("tokens_per_word"),
        round(sum($"n_bpe_tokens").cast("double") / sum($"n_char_symbols"), 6)
          .as("tokens_per_char"))
  }

  private val fertilitySql =
    s"""WITH enc AS ($bpeEncodeSql),
       |w AS (
       |  SELECT doc_id, lang,
       |         len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                         tk -> len(tk) >= 1)) AS n_words
       |  FROM documents)
       |SELECT w.lang, count(*) AS n_docs,
       |       CAST(sum(enc.n_bpe_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(w.n_words) AS BIGINT) AS n_words,
       |       round(CAST(sum(enc.n_bpe_tokens) AS DOUBLE) / sum(w.n_words), 6)
       |         AS tokens_per_word,
       |       round(CAST(sum(enc.n_bpe_tokens) AS DOUBLE)
       |             / sum(enc.n_char_symbols), 6) AS tokens_per_char
       |FROM enc JOIN w USING (doc_id) GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_pairs" -> ((s, d) => bpePairs(s, d)),
    "q_bpe_train" -> ((s, d) => bpeTrain(s, d)),
    "q_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    "q_bpe_train_encode" -> ((s, d) => bpeTrainEncode(s, d)),
    "q_tokenizer_fertility" -> ((s, d) => tokenizerFertility(s, d)),
  )

  /** A def, not a val: Verify dumps oracle SQL after running the queries,
    * so the composed query's oracle can embed the just-learned merge table.
    * If the composed query did not run this session there is nothing to
    * restate — the entry is omitted (driver records rows-only). */
  def oracle: Map[String, String] = Map(
    "q_bpe_pairs" -> bpePairsSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_tokenizer_fertility" -> fertilitySql,
  ) ++ lastTrainedMerges.map(m => "q_bpe_train_encode" -> encodeSqlFor(m)) ++
    lastTrainedRules.map(r => "q_bpe_train" -> bpeTrainOracleSql(r))
}
