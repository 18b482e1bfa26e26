package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for distinct word n-gram shingles — the hot inner
  * expression of every shingle-based dedup/contamination operator.
  *
  * Semantically identical to the built-in chain
  * `array_distinct(filter(transform(split(trim(lower(text)), "\\s+"), …)))`
  * (first-occurrence order, lowercase, whitespace tokens, <n words ⇒ empty) —
  * asserted element-for-element in Round2Spec. The built-in chain evaluates
  * four nested higher-order functions per row in INTERPRETED mode (HOFs are
  * CodegenFallback), with a per-element closure dispatch, an ArrayData slice
  * copy and a concat_ws allocation per shingle — measured ~25 µs per shingle,
  * which silently dominated every shingle query (a 260 k-shingle corpus spent
  * ~6.5 s here, single-threaded). This kernel builds the shingle set in
  * one pass over the token array inside whole-stage codegen.
  *
  * Null semantics: null text → null (the built-in chain propagates null the
  * same way); callers that need empty-set semantics coalesce, as before.
  */
object WordShingles {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** One-pass shingle build: lowercase/trim via UTF8String (bit-identical to
    * the `lower`/`trim` expressions), Java-regex token split (identical to
    * `split(_, "\\s+")`), LinkedHashSet for first-occurrence-order dedup. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = ws.split(text.toLowerCase.trim().toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]((toks.length - n + 1) * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Column API: distinct word n-gram shingles of `text`. The cast keeps
    * the builtin chain's analyzer tolerance for non-string inputs
    * (`lower(x)` coerced them); identity casts are optimized away. */
  def shingles(text: Column, n: Int): Column = {
    require(n >= 1, s"word_shingles expects n >= 1, got $n")
    Kernel.call(this, "compute", ArrayType(StringType, containsNull = false))(
      text.cast("string"), n)
  }
}
