package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-phrase automaton: finds which of P phrases occur in a
  * text at TOKEN boundaries, in ONE left-to-right pass over the bytes —
  * O(|text|) per row, independent of P.
  *
  * This is the blocklist-filtering primitive of a corpus-curation pipeline
  * (banned-phrase / boilerplate-marker screens). The naive plan is P
  * `contains()` scans per document — O(|text|·P), which at a production
  * blocklist size (10⁴–10⁵ phrases) multiplies the corpus scan by four
  * orders of magnitude. The automaton makes the cost of P phrases the cost
  * of one: patterns share a trie; BFS failure links close the goto function
  * into a dense DFA, so matching is exactly one array lookup per input byte
  * with no backtracking and zero per-row allocation until output.
  *
  * Token-boundary semantics without special cases: each phrase is compiled
  * framed as `' ' + phrase + ' '` and the scanner runs over the virtual
  * string `' ' + text + ' '` (the frame bytes are fed to the DFA, the text
  * itself is never copied). A match therefore occurs iff the phrase appears
  * whitespace-delimited — byte-for-byte the same predicate as the oracle's
  * `contains(' '||text||' ', ' '||phrase||' ')`.
  *
  * Scale notes: the automaton is compiled ONCE per executor (transient lazy
  * on the broadcast expression object, rebuilt from the phrase array after
  * deserialization) — per-row cost is pure DFA stepping. The dense 256-wide
  * goto table costs 1 KiB per state; at the 10⁵-phrase scale the closure
  * would switch to a banded/CSR layout over the live byte classes — the
  * construction below is layout-agnostic (next() is the only accessor).
  * Distinct-match tracking is a reusable per-thread boolean scratch, so the
  * hot loop allocates only the final (tiny) result array.
  */
final class AhoCorasick(val phrases: Array[String]) extends Serializable {
  require(phrases.nonEmpty, "multi_phrase_matches: empty phrase list")
  require(phrases.distinct.length == phrases.length,
    "multi_phrase_matches: duplicate phrases")

  // ---- compiled DFA (per-JVM, rebuilt lazily after deserialization) ----
  // nextT(state)(byte) = DFA transition; hits(state) = phrase ids whose
  // framed pattern ends exactly at `state` (output links already merged).
  @transient private lazy val (nextT, hits): (Array[Array[Int]], Array[Array[Int]]) = {
    val pats = phrases.map(p => (" " + p + " ").getBytes("UTF-8"))
    // trie over bytes
    var cap = 16
    var goto = Array.fill(cap)(null: Array[Int])
    var out = Array.fill(cap)(List.empty[Int])
    var nStates = 1
    goto(0) = Array.fill(256)(-1)
    for ((pat, id) <- pats.zipWithIndex) {
      var s = 0
      for (b <- pat) {
        val c = b & 0xff
        if (goto(s)(c) == -1) {
          if (nStates == cap) {
            cap *= 2
            goto = java.util.Arrays.copyOf(goto, cap)
            out = out.padTo(cap, List.empty[Int])
          }
          goto(nStates) = Array.fill(256)(-1)
          goto(s)(c) = nStates
          nStates += 1
        }
        s = goto(s)(c)
      }
      out(s) ::= id
    }
    // BFS failure links; close goto into a total DFA and merge outputs so
    // match-time never chases fail chains.
    val fail = new Array[Int](nStates)
    val queue = scala.collection.mutable.Queue.empty[Int]
    var c = 0
    while (c < 256) {
      val t = goto(0)(c)
      if (t == -1) goto(0)(c) = 0
      else { fail(t) = 0; queue.enqueue(t) }
      c += 1
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      out(s) = out(s) ++ out(fail(s))
      var c = 0
      while (c < 256) {
        val t = goto(s)(c)
        if (t == -1) goto(s)(c) = goto(fail(s))(c)
        else { fail(t) = goto(fail(s))(c); queue.enqueue(t) }
        c += 1
      }
    }
    (goto.take(nStates), out.take(nStates).map(_.toArray.sorted))
  }

  // Per-thread scratch for distinct-match flags: the hot loop must not
  // allocate per row, and expression instances are shared across tasks.
  @transient private lazy val seenTL =
    ThreadLocal.withInitial[Array[Boolean]](() => new Array[Boolean](phrases.length))

  /** Distinct phrases present in `text` at token boundaries, sorted
    * lexicographically, comma-joined ("" when none). */
  def matchedCsv(text: UTF8String): UTF8String = {
    val nt = nextT; val hs = hits
    val seen = seenTL.get()
    java.util.Arrays.fill(seen, false)
    var nSeen = 0
    var s = nt(0)(' '.toInt) // virtual leading frame byte
    val n = text.numBytes()
    var i = 0
    while (i < n && nSeen < phrases.length) {
      s = nt(s)(text.getByte(i) & 0xff)
      val h = hs(s)
      var j = 0
      while (j < h.length) {
        if (!seen(h(j))) { seen(h(j)) = true; nSeen += 1 }
        j += 1
      }
      i += 1
    }
    if (nSeen < phrases.length) { // virtual trailing frame byte
      s = nt(s)(' '.toInt)
      val h = hs(s)
      var j = 0
      while (j < h.length) {
        if (!seen(h(j))) { seen(h(j)) = true; nSeen += 1 }
        j += 1
      }
    }
    if (nSeen == 0) return UTF8String.EMPTY_UTF8
    val matched = new Array[String](nSeen)
    var k = 0; var p = 0
    while (p < phrases.length) {
      if (seen(p)) { matched(k) = phrases(p); k += 1 }
      p += 1
    }
    java.util.Arrays.sort(matched, java.util.Comparator.naturalOrder[String]())
    UTF8String.fromString(matched.mkString(","))
  }
}

/** `multi_phrase_matches(text, 'p1|p2|…')` → comma-joined sorted list of the
  * distinct blocklist phrases occurring token-delimited in `text` (empty
  * string when clean). Single-pass Aho–Corasick — see [[AhoCorasick]]. */
case class MultiPhraseMatches(child: Expression, aho: AhoCorasick)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"multi_phrase_matches needs a string column, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    aho.matchedCsv(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The compiled automaton rides the generated class as a reference object
    // (same lifetime as the codegen'd stage); the generated code is a single
    // monomorphic call into the DFA scan — stays inside WholeStageCodegen.
    val ref = ctx.addReferenceObj("aho", aho, classOf[AhoCorasick].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.matchedCsv($in);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "multi_phrase_matches"
}

object MultiMatch {
  /** Column-API wrapper. */
  def multiPhraseMatches(text: Column, phrases: Seq[String]): Column =
    call_function("multi_phrase_matches", text,
      org.apache.spark.sql.functions.lit(phrases.mkString("|")))
}
