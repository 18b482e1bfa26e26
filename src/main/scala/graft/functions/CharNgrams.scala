package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for character n-grams — the hot inner expression of the
  * LM-score pipeline (one n-gram per character position: the highest
  * elements-per-row expansion in the engine, ~one per CHARACTER of corpus).
  *
  * Semantically identical to the built-in chain
  * `transform(sequence(1, length(text) − n + 1), i -> substr(text, i, n))`
  * (empty array under n chars) — asserted element-for-element in
  * CurationSpec, including multi-byte code points (positions are characters,
  * not bytes, exactly like the `Substring` expression's `substringSQL`).
  * The built-in chain runs the higher-order transform INTERPRETED
  * (CodegenFallback) with a closure dispatch and a boxed sequence element
  * per character (round-3 lesson, same class as WordShingles); this builds
  * the array in one pass inside whole-stage codegen.
  */
object CharNgrams {

  /** One pass over the character positions; `substringSQL` is the exact
    * kernel of the `Substring`/`Column.substr` expression (1-based,
    * character-counted), keeping every element bit-identical to the chain. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val len = text.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      out(i) = text.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API: array of the character n-grams of `text` (empty when the
    * text is shorter than n; null text propagates null). */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, s"char_ngrams expects n >= 1, got $n")
    Kernel.call(this, "compute", ArrayType(StringType, containsNull = false))(
      text.cast("string"), n)
  }
}
