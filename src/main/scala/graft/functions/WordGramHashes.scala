package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for POSITIONAL word k-gram hashes: element i is the
  * hash of the space-joined tokens `[i, i+n)` of the whitespace-tokenized
  * text (original case — exact-substring semantics), fewer-than-n-token
  * texts give an empty array. Unlike [[WordShingles]] this is NOT distinct:
  * the array index IS the gram's token position, which is what span-level
  * dedup needs ([[graft.text.Dedup.duplicateSpans]] — the Lee et al. 2022
  * "Deduplicating Training Data" exact-substring mechanism).
  *
  * The hash never materializes the gram strings into the row (an array of
  * longs is ~8 bytes per token vs ~k× the text for gram strings), and the
  * whole build runs inside whole-stage codegen — the equivalent built-in
  * chain (`transform(sequence(...), slice/concat_ws)` + a per-element hash)
  * evaluates interpreted per element, the round-3 HOF trap.
  *
  * Two algorithms, same dual-hash convention as the rest of the repo:
  *  - `md5_48` — first 48 bits of md5 of the gram's UTF-8 bytes, the
  *    portable cross-engine hash (equals the SQL chain
  *    `conv(substring(md5(g),1,12),16,10)`, which the DuckDB oracle
  *    replays via the digit-sum formulation);
  *  - `xx64` — Spark's `xxhash64(gram)` at the default seed 42, the fast
  *    production hash (via the public [[XxHash64Function]], bit-identical
  *    to the built-in column).
  *
  * Both are pinned element-for-element against the built-in chain by
  * CurationSpec. Null text → null, like the built-in chain.
  */
object WordGramHashes {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** One pass over the token array; gram strings live only transiently in
    * the StringBuilder. Token split is bit-identical to
    * `split(trim(text), "\\s+")` (Java regex, trim = UTF8String.trim). */
  def compute(text: UTF8String, n: Int, algo: String): ArrayData = {
    val toks = ws.split(text.trim().toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val md = if (algo == "md5_48") java.security.MessageDigest.getInstance("MD5") else null
    val out = new Array[Any](toks.length - n + 1)
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
      val gram = sb.toString
      out(i) =
        if (md ne null) {
          md.reset()
          val d = md.digest(gram.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 48 bits, unsigned — equals conv(substring(md5(g),1,12),16,10)
          ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
            ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        } else
          XxHash64Function.hash(UTF8String.fromString(gram), StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API: positional md5-48 gram hashes (the portable variant). */
  def gramHashes48(text: Column, n: Int): Column = hashes(text, n, "md5_48")

  /** Column API: positional xxhash64 gram hashes (the production variant). */
  def gramHashes64(text: Column, n: Int): Column = hashes(text, n, "xx64")

  private def hashes(text: Column, n: Int, algo: String): Column = {
    require(n >= 1, s"word_gram_hashes expects n >= 1, got $n")
    Kernel.call(this, "compute", ArrayType(LongType, containsNull = false))(
      text.cast("string") -> StringType, n, algo)
  }
}
