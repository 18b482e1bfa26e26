package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a web-scale training-data pipeline: token
  * counting, quality scoring, language-ID heuristic, fingerprinting. All are
  * pure Column expressions (whole-stage-codegen eligible — no UDFs), so they
  * fuse into the scan and run at parquet-read speed.
  */
object TextFeatures {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish word count: runs of letters (cross-engine-stable regex). */
  def wordCount(text: Column): Column = size(regexp_extract_all(text, lit("[a-z]+"), lit(0)))

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  val enStop = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val deStop = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von")
  val frStop = Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour")

  private def stopHits(text: Column, stop: Seq[String]): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => t.isin(stop.map(_.asInstanceOf[Any]): _*)))
  }

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(stopHits(text, enStop).cast("double") / n)
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, lit(0.0))
      .otherwise((n - length(regexp_replace(text, "[.,;:!?()]", ""))).cast("double") / n)
  }

  /** Mean whitespace-token length. */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") / n)
  }

  /** Composite quality score in [0,1]: heuristic blend of length band,
    * stopword presence and low punctuation noise (deterministic, documented
    * — the shape of a Gopher/C4-style quality rule). */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lenOk = when(n >= 20 && n <= 100000, 1.0).otherwise(when(n >= 5, 0.5).otherwise(0.0))
    val stopOk = when(stopwordRatio(text) >= 0.05, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0)
    (lenOk * 0.4 + stopOk * 0.4 + punctOk * 0.2)
  }

  /** n-gram language-ID heuristic: highest stopword hit count among the
    * language dictionaries wins; ties and zero evidence → "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val en = stopHits(text, enStop)
    val de = stopHits(text, deStop)
    val fr = stopHits(text, frStop)
    val mx = greatest(en, de, fr)
    when(mx === 0, lit("und"))
      .when(en === mx && de < mx && fr < mx, lit("en"))
      .when(de === mx && en < mx && fr < mx, lit("de"))
      .when(fr === mx && en < mx && de < mx, lit("fr"))
      .otherwise(lit("und"))
  }

  /** PII redaction: emails → `<EMAIL>`, IPv6 then IPv4 addresses → `<IP>`,
    * credit-card-shaped digit runs → `<CC>`, international `+CC` then
    * US-style phone numbers → `<PHONE>`. A chain of `regexp_replace` calls —
    * codegen'd, single pass over the text each, no UDF. Patterns stay inside
    * the RE2-compatible subset (no backreferences, no lookaround) so
    * RE2-based engines replay them byte-for-byte (the DuckDB oracle does,
    * with its explicit 'g' flag). Order matters: emails first (their local
    * part may contain digits the later patterns would split); `+CC`
    * international phones before cards (a contiguous `+4915123456789` is a
    * phone — the card rule's bare 13–19-digit run would eat it otherwise,
    * while the `+` anchor keeps the phone rule off every card form); cards
    * before the bare US phone shape (a 16-digit card must not be half-eaten
    * as a phone).
    *
    * Pattern notes (deliberate, documented misses — no lookaround means no
    * checksum/prefix logic):
    *  - IPv6 matches the full 8-group form and `::`-compressed forms with at
    *    least one group on each side; bare `::1` / `fe80::` are missed. MAC
    *    addresses (6 groups, no `::`) and clock times (no `::`) do NOT match.
    *  - Cards match 4-4-4-4(+0–3) and 4-6-5 separator-grouped runs plus
    *    contiguous 13–19 digit runs. Hyphenated ISBNs (irregular grouping:
    *    978-3-16-148410-0) and dotted version strings do NOT match; an
    *    UNhyphenated ISBN-13 is indistinguishable from a 13-digit PAN
    *    without a Luhn check and is redacted (the conservative side for PII).
    *  - International phones need a `+1..3`-digit country code followed by
    *    6–14 contiguous digits, 3–4 separator-delimited groups, or a
    *    parenthesized area code; arithmetic like `3+4-5` does not match
    *    (two trailing groups required). */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip6 = regexp_replace(email,
      "\\b(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}|([0-9A-Fa-f]{1,4}:){1,6}(:[0-9A-Fa-f]{1,4}){1,6})\\b",
      "<IP>")
    val ip4 = regexp_replace(ip6,
      "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    val intl = regexp_replace(ip4,
      "\\+(\\d{6,14}|\\d{1,3}[ -]\\d{1,4}([ -]\\d{2,4}){2,3}|\\d{1,3}[ -]?\\(\\d{1,4}\\)[ -]?\\d{3,10})\\b",
      "<PHONE>")
    val card = regexp_replace(intl,
      "\\b(\\d{4}[ -]\\d{4}[ -]\\d{4}[ -]\\d{4}([ -]\\d{1,3})?|\\d{4}[ -]\\d{6}[ -]\\d{5}|\\d{13,19})\\b",
      "<CC>")
    regexp_replace(card,
      "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>")
  }

  /** Unicode NFC canonicalization (native kernel — Spark has
    * no builtin; byte-compatible with DuckDB's `nfc_normalize`, verified by
    * the q_normalize oracle). Composed and decomposed spellings of the same
    * text hash identically afterwards. */
  def normalizeNfc(text: Column): Column = graft.functions.UnicodeNormalize.nfc(text)

  /** The standard dedup-key fold: NFKC compatibility normalization
    * (ligatures → letters, fullwidth → ASCII, ² → 2) then lowercase. Feed
    * this to [[fingerprintMd5]] / MinHash when near-identical renderings of
    * a page must collide. */
  def dedupKeyFold(text: Column): Column =
    lower(graft.functions.UnicodeNormalize.nfkc(text))

  /** Content fingerprint: md5 of the exact bytes (portable across engines —
    * used for exact dedup and the byte-identity-per-url invariant). */
  def fingerprintMd5(text: Column): Column = md5(encode(text, "UTF-8"))

  /** Rolling document fingerprint: polynomial rolling hash over the token
    * stream (base 1000003 mod 1e9+7), computed as a fold — deterministic,
    * order-sensitive, cheap. Each token hashes to the 48-bit md5-derived
    * value ([[graft.text.Dedup.md5Hash48]]) so an external engine can
    * recompute it token-by-token (the DuckDB oracle does). acc stays < 1e9,
    * so acc·1000003 + h never overflows a long. */
  def rollingFingerprintMd5(text: Column): Column = {
    val p = lit(1000000007L)
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 1000003L + pmod(Dedup.md5Hash48(t), p), p))
  }

  /** Corpus vocabulary: the k most frequent lowercased whitespace tokens
    * with exact counts — the tokenizer-training / stopword-mining
    * precursor. One explode + one hash agg: map-side partial combine
    * collapses each partition to its distinct tokens (the "the" hot key
    * arrives at the reducer as one row per partition, never salted), then
    * TakeOrderedAndProject keeps the top-k — deterministic tiebreak on the
    * token itself, no global sort. Empty-after-trim texts contribute their
    * single empty token (the tokenize convention); null texts contribute
    * nothing. */
  def vocabTopK(df: DataFrame, text: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(explode(tokens(lower(col(text)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(k)
  }
}
