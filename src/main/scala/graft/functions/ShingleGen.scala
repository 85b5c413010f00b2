package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst `Generator`: `explode_shingles(text, n)` emits the
  * DISTINCT xxhash64 values of a document's n-token shingles directly —
  * one row per distinct shingle, one tight loop per document.
  *
  * The declarative pipeline it replaces
  * (`explode(transform(array_distinct(transform(sequence(...), slice/
  * concat_ws)), xxhash64))`) materializes three intermediate arrays per row
  * (positions, shingle strings, hashes) in interpreted higher-order
  * functions before the explode. This generator allocates one reused
  * StringBuilder and a hash set, and produces bit-identical hashes
  * (`XxHash64Function` with the same seed 42 the `xxhash64` expression
  * uses), so it is a drop-in for the oracle-checked shingle pipelines —
  * asserted by a ScalaCheck equivalence property.
  *
  * Tokenization contract matches `split(trim(text), "\\s+")` exactly,
  * including its edges: only space characters are trimmed (SQL `trim`
  * semantics — NOT Java `String.trim`, which also strips tabs/newlines),
  * runs of whitespace collapse, and a leading/trailing non-space whitespace
  * char yields an empty edge token, just as the declarative split does.
  * Documents with fewer than n tokens emit nothing (the `len(t) >= n`
  * oracle guard).
  */
case class ExplodeShingles(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(Seq(StructField("h", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"explode_shingles needs a string input, got ${other.sql}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    // Replicate `split(trim(text), "\\s+")` LITERALLY: SQL trim strips only
    // space (U+0020) — not tabs/newlines, which Java String.trim would also
    // strip — and SQL split uses limit -1, keeping a leading/trailing empty
    // token when non-space whitespace touches the ends. Diverging here would
    // shingle different token lists than the declarative/oracle side (e.g. a
    // tab-led document gains a leading "" token in both, or in neither).
    val s0 = raw.asInstanceOf[UTF8String].toString
    var b = 0
    var e = s0.length
    while (b < e && s0.charAt(b) == ' ') b += 1
    while (e > b && s0.charAt(e - 1) == ' ') e -= 1
    val toks = s0.substring(b, e).split("\\s+", -1)
    if (toks.length < n) return Nil
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new ArrayBuffer[InternalRow](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      // identical to the xxhash64(...) expression: seed 42 over UTF8 bytes
      val h = XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L)
      if (seen.add(h)) out += InternalRow(h)
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "explode_shingles"
}

object ShingleGen {
  /** Column-API wrapper. Use in a `select` the way `explode(...)` is used. */
  def explodeShingles(text: Column, n: Int): Column =
    call_function("explode_shingles", text,
      org.apache.spark.sql.functions.lit(n))
}
