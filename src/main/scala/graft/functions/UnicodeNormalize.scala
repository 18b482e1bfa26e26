package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for Unicode normalization — the text-canonicalization
  * step every dedup/fingerprint key needs on web text (the same page
  * crawled twice can differ only in composed vs decomposed accents, or in
  * compatibility characters like ligatures and fullwidth forms, and every
  * exact-hash operator downstream would miss the duplicate).
  *
  * Spark has no normalization builtin, so the alternatives are a Scala UDF
  * (serialization per row, no codegen) or this: one codegen-stage call to
  * `java.text.Normalizer` (ICU-equivalent for the standard forms, pure
  * JDK). NFC is byte-compatible with DuckDB's `nfc_normalize` (verified in
  * the q_normalize oracle); NFKC additionally folds compatibility
  * characters (ﬁ → fi, fullwidth Ａ → A, ² → 2) — the usual dedup-key
  * fold — and is spec-pinned (no DuckDB analogue).
  *
  * Null → null. Normalization is idempotent (spec-pinned).
  */
object UnicodeNormalize {

  def normalize(s: UTF8String, f: Normalizer.Form): UTF8String = {
    val str = s.toString
    // fast path: already-normalized VALID text (the overwhelmingly common
    // case for ASCII-heavy corpora) returns the input without re-encoding.
    // Invalid UTF-8 (reachable via cast(binary as string)) always takes
    // the slow path so ill-formed bytes are CONSISTENTLY replaced with
    // U+FFFD — the output is valid UTF-8 for every input, never a mix of
    // passed-through and substituted bytes depending on surrounding text.
    if (s.isValid && Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(Normalizer.normalize(str, f))
  }

  def nfc(text: Column): Column = of(text, Normalizer.Form.NFC)

  def nfkc(text: Column): Column = of(text, Normalizer.Form.NFKC)

  private def of(text: Column, form: Normalizer.Form): Column =
    Kernel.call(this, "normalize", StringType)(text.cast("string"), form)
}
