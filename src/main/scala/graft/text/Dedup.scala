package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, n-gram Jaccard,
  * MinHash + LSH banding, SimHash. Every path is shuffle-bounded by the
  * candidate-pair construction (band/bucket joins), never an O(n²)
  * cross join.
  */
object Dedup {

  /** Exact dedup on a derived content key (e.g. md5 of text): keeps the row
    * with the smallest `idCol` per key. One shuffle on the content hash —
    * the canonical hash-groupBy dedup. */
  def exact(df: DataFrame, contentKey: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy(contentKey).orderBy(idCol)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingles of `text`, as a distinct array (first-occurrence
    * order). Native kernel — the equivalent built-in
    * higher-order chain runs interpreted at ~25 µs/shingle and dominated
    * every shingle query; [[shinglesBuiltin]] keeps it as the equality
    * reference (Round2Spec asserts element-for-element agreement). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.shingles(text, n)

  /** Reference formulation of [[shingles]] in built-in expressions only —
    * retained for the bit-equality spec, not used on any production path. */
  def shinglesBuiltin(text: Column, n: Int): Column = {
    val toks = TextFeatures.tokens(lower(text))
    array_distinct(
      filter(
        transform(toks, (_, i) => when(i <= size(toks) - n, concat_ws(" ", slice(toks, i + 1, lit(n))))),
        s => s.isNotNull
      )
    )
  }

  /** Long form (id, shingle) — the relational shape all pairwise similarity
    * is computed from. */
  def shingleTable(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    df.select(col(id), explode(shingles(col(text), n)).as("shingle"))

  /** Jaccard similarity of every document against one target document:
    * |A∩B| / |A∪B| over distinct word n-gram shingles. Pure relational —
    * a broadcast semi-structure (target shingle set is one document). */
  def jaccardVsTarget(df: DataFrame, id: String, text: String, n: Int, targetId: Long): DataFrame = {
    val sh = shingleTable(df, id, text, n)
    val sizes = sh.groupBy(id).agg(count(lit(1)).as("sz"))
    val target = sh.where(col(id) === targetId).select(col("shingle"))
    val targetSize = broadcast(target.agg(count(lit(1)).as("tsz")))
    val inter = sh
      .join(broadcast(target), "shingle")
      .groupBy(id)
      .agg(count(lit(1)).as("inter"))
    sizes
      .join(inter, Seq(id), "left")
      .na.fill(0L, Seq("inter"))
      .crossJoin(targetSize)
      .select(
        col(id),
        (col("inter").cast("double") / (col("sz") + col("tsz") - col("inter"))).as("jaccard")
      )
  }

  /** All candidate near-duplicate pairs with Jaccard >= `minJaccard`,
    * discovered through a shingle-bucket join (docs sharing at least one
    * shingle), then exact Jaccard on the co-occurrence counts. The shingle
    * join is skew-guarded by dropping ubiquitous shingles (df > maxDocFreq).
    */
  def jaccardPairs(
      df: DataFrame,
      id: String,
      text: String,
      n: Int,
      minJaccard: Double,
      maxDocFreq: Long = 1000L,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    // cache the DOC-LEVEL shingle arrays (one row per doc), not the exploded
    // long form (one row per (doc, shingle) — LARGER than the input corpus):
    // the explodes below re-run per reference, but they read the cached
    // arrays, not the raw text + shingle computation. Sizes come free from
    // size(array) — no aggregation shuffle. The input fans out first: on a
    // one-split corpus the shingle build otherwise fills the cache on ONE
    // core (measured 0.94 s of this query's ~2 s — the r5 fanOut guidance:
    // pays exactly where pre-shuffle per-row work dominates).
    val docSh = handle.track(
      graft.core.Partitions.fanOut(df.select(col(id), col(text)))
        .select(col(id), shingles(col(text), n).as("__sh")).cache())
    val sh = docSh.select(col(id), explode(col("__sh")).as("shingle"))
    val sizes = docSh.select(col(id), size(col("__sh")).cast("long").as("sz"))
    val rare = sh
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocFreq)
      .select("shingle")
    val filtered = sh.join(rare, "shingle")
    val a = filtered.select(col("shingle"), col(id).as("a"))
    val b = filtered.select(col("shingle"), col(id).as("b"))
    val inter = a.join(b, "shingle")
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(id).as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col(id).as("b"), col("sz").as("szb")), "b")
      .select(
        col("a"), col("b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("jaccard")
      )
      .where(col("jaccard") >= minJaccard)
  }

  /** Portable 48-bit string hash: integer value of the first 12 hex chars of
    * md5(s). 48 bits keep the value exactly representable in a double, so
    * external engines (the DuckDB oracle) can recompute it digit-by-digit
    * without 64-bit overflow. The samplers, the md5 link graph and the *Md5
    * text variants all hash through it; the dedup production paths use
    * xxhash64 (faster), and their *Md5 variants exist to make the
    * MECHANISMS (minhash, simhash, rolling fingerprint) cross-engine
    * verifiable. */
  def md5Hash48(s: Column): Column =
    conv(substring(md5(s), 1, 12), 16, 10).cast("long")

  /** MinHash signatures over the portable md5-derived hash — bit-identical
    * recomputable in any engine with md5. Same shape as
    * [[minHashSignatures]]: (id, sig: array<long>). */
  def minHashSignaturesMd5(df: DataFrame, id: String, text: String, n: Int, k: Int): DataFrame = {
    val sh = df.select(col(id), shingles(col(text), n).as("sh"))
      .where(size(col("sh")) > 0)
    sh.select(
      col(id),
      array((0 until k).map(i =>
        array_min(transform(col("sh"), sg => md5Hash48(concat(lit(s"$i:"), sg))))): _*).as("sig"))
  }

  /** 48-bit SimHash over tokens using the portable md5 token hash — the
    * cross-engine-verifiable variant of [[simHash]] (same sign-of-bit-sums
    * construction, 48 bits instead of 64). */
  def simHash48Md5(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df.select(col(id), explode(TextFeatures.tokens(lower(col(text)))).as("tok"))
      .withColumn("h", md5Hash48(col("tok")))
    val bitSums = (0 until 48).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    toks.groupBy(col(id))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col(id),
        (0 until 48).map(j => when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash48")
      )
  }

  /** MinHash signature: k independent permutations approximated by seeded
    * xxhash64; signature element i = min over shingles of hash(i, shingle).
    * Returns (id, sig: array<long>). One narrow map + per-doc aggregate.
    * Native kernel; [[minHashSignaturesBuiltin]] keeps the
    * built-in formulation as the bit-equality reference (Round2Spec). */
  def minHashSignatures(df: DataFrame, id: String, text: String, n: Int, k: Int): DataFrame = {
    // shingle-less docs (under n tokens) must be dropped like the md5
    // variant does: a null/empty-shingle signature is null, so ALL such docs
    // would share identical null-band buckets and form an O(m²) candidate
    // clique in the banding join — the exact blowup banding exists to avoid
    val sh = df.select(col(id), shingles(col(text), n).as("sh"))
      .where(size(col("sh")) > 0)
    sh.select(col(id), graft.functions.MinHashSignature.signature(col("sh"), k).as("sig"))
  }

  /** Reference formulation of [[minHashSignatures]] in built-in expressions
    * only (k interpreted transforms) — retained for the bit-equality spec,
    * not used on any production path. */
  def minHashSignaturesBuiltin(df: DataFrame, id: String, text: String, n: Int, k: Int): DataFrame = {
    val sh = df.select(col(id), shingles(col(text), n).as("sh"))
      .where(size(col("sh")) > 0)
    val sigCols = (0 until k).map { i =>
      array_min(transform(col("sh"), s => xxhash64(lit(i), s))).as(s"h$i")
    }
    sh.select(col(id) +: sigCols: _*)
      .select(col(id), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** LSH banding over MinHash signatures: docs sharing any band land in one
    * bucket; bucket join yields candidate pairs (no cross join). bands·rowsPerBand
    * must equal the signature length. */
  def minHashCandidates(
      sigs: DataFrame,
      id: String,
      bands: Int,
      rowsPerBand: Int,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    val banded = handle.track(sigs.select(
      col(id),
      posexplode(
        array((0 until bands).map(b =>
          xxhash64(lit(b), concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
        ): _*)
      ).as(Seq("band", "bucket"))
    ).cache()) // both self-join sides re-execute the signature computation
               // otherwise (Catalyst shares no re-referenced subtree); the
               // banded table is docs×bands rows of (band, bucket, id) —
               // a sliver of the corpus; `handle` owns its lifetime
    val l = banded.select(col("band"), col("bucket"), col(id).as("a"))
    val r = banded.select(col("band"), col("bucket"), col(id).as("b"))
    l.join(r, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Incremental near-dup matching of a NEW batch against an EXISTING
    * corpus signature index — the day-2 operation of a running pipeline:
    * when a fresh crawl arrives, nobody re-deduplicates the whole corpus;
    * the new documents' MinHash signatures are band-joined against the
    * STORED signature table (e.g. `minHashSignatures` output persisted with
    * [[graft.core.Store.writePages]] — k longs per document, ~10⁻⁴ of corpus
    * bytes) and only banding candidates are verified. The corpus TEXT is
    * never touched, which is what makes the operation cheap: cost is
    * O(batch) + the candidate sliver, independent of corpus size.
    *
    * Verification is index-only: the exact fraction of agreeing signature
    * components (the standard unbiased MinHash estimate of Jaccard — no
    * text to re-shingle). Returns one row per matched batch document:
    * (`id`, `dup_of` = best-matching corpus id, `agreement`), best match =
    * highest agreement, ties to the smallest corpus id. Batch documents
    * with no candidate or only sub-threshold agreement are absent (they
    * are the ones a caller keeps).
    *
    * Both signature tables are referenced twice (banding + verify), and
    * Catalyst shares no re-referenced subtree — so both are cached for the
    * operator's lifetime via `handle` (signature rows, never text). */
  def indexMatches(
      batchSigs: DataFrame,
      indexSigs: DataFrame,
      id: String,
      bands: Int,
      rowsPerBand: Int,
      minAgreement: Double,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1, "bands and rowsPerBand must be positive")
    require(minAgreement >= 0 && minAgreement <= 1, "minAgreement must be in [0, 1]")
    val k = bands * rowsPerBand
    def bandCols(sig: Column): Column = posexplode(
      array((0 until bands).map(b =>
        xxhash64(lit(b), concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))
      ): _*))
    val bs = handle.track(batchSigs.select(col(id), col("sig")).cache())
    val is = handle.track(indexSigs.select(col(id), col("sig")).cache())
    val bb = bs.select(col(id).as("__n"), bandCols(col("sig")).as(Seq("band", "bucket")))
    val ib = is.select(col(id).as("__c"), bandCols(col("sig")).as(Seq("band", "bucket")))
    val cands = bb.join(ib, Seq("band", "bucket")).select("__n", "__c").distinct()
    // one HOF layer over a k-long array per CANDIDATE row (not per corpus
    // row) — the sanctioned small-array case; agreement counts equal
    // components pairwise
    val verified = cands
      .join(bs.select(col(id).as("__n"), col("sig").as("__sa")), "__n")
      .join(is.select(col(id).as("__c"), col("sig").as("__sb")), "__c")
      .withColumn("agreement",
        size(filter(zip_with(col("__sa"), col("__sb"), (x, y) => x === y), b => b))
          / lit(k.toDouble))
      .where(col("agreement") >= minAgreement)
    val w = Window.partitionBy(col("__n")).orderBy(col("agreement").desc, col("__c"))
    verified
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("__n").as(id), col("__c").as("dup_of"), col("agreement"))
  }

  /** Benchmark decontamination: score each training doc by the fraction of
    * its distinct n-grams that appear in an evaluation benchmark — the
    * standard n-gram contamination filter run before a training set ships
    * (callers drop or flag rows above a threshold). The benchmark is small
    * by definition, so its distinct n-gram set rides a broadcast join; the
    * corpus side is one narrow pass plus a map-side-combinable per-doc
    * count — no corpus shuffle, no pairwise anything. Returns
    * (id, total_ngrams, contaminated_ngrams, contamination ∈ [0,1]);
    * shingle-less docs score 0. */
  def contamination(
      docs: DataFrame,
      id: String,
      text: String,
      bench: DataFrame,
      benchText: String,
      n: Int
  ): DataFrame = {
    val bg = bench.select(explode(shingles(col(benchText), n)).as("g")).distinct()
    val ex = docs
      // null text ⇒ empty gram set, scoring 0 like any shingle-less doc
      // (ANSI size(null) is null and would poison the whole row otherwise)
      .select(col(id),
        coalesce(shingles(col(text), n), array().cast("array<string>")).as("gs"))
      .select(col(id), size(col("gs")).cast("long").as("total_ngrams"),
        explode_outer(col("gs")).as("g"))
    ex.join(broadcast(bg.withColumn("__hit", lit(1L))), Seq("g"), "left")
      .groupBy(col(id), col("total_ngrams"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("contaminated_ngrams"))
      .withColumn("contamination",
        when(col("total_ngrams") === 0, lit(0.0))
          .otherwise(col("contaminated_ngrams") / col("total_ngrams")))
  }

  /** [[contamination]] for membership sets too large to broadcast: the
    * same score, computed behind a broadcast-Bloom semi-join reduction.
    *
    * The exact path broadcasts the benchmark's distinct n-grams as a hash
    * map — fine for one eval suite, impossible when the membership side is
    * itself large (every benchmark + held-out set at once, or a
    * multi-billion-key blocklist): then the exact join must shuffle the
    * FULL corpus gram stream, and at 100 TB that shuffle is the job. Here
    * a [[org.apache.spark.util.sketch.BloomFilter]] is built over the gram
    * set by Spark's distributed `stat.bloomFilter` aggregate (one pass, no
    * driver collect of the grams — only the ~10-bits-per-key sketch comes
    * back), and [[graft.functions.BloomMightContain]] evaluates it inside
    * whole-stage codegen BEFORE the exchange: only true hits plus an `fpp`
    * sliver of false positives are shuffled into the exact verify join, so
    * the result is bit-identical to [[contamination]] (Bloom filters have
    * no false negatives) at ~`fpp` of the shuffle volume.
    *
    * Every document must survive the gate even when none of its grams do —
    * a sentinel null gram is appended before the explode (null passes the
    * gate, joins nothing, contributes 0 hits), so the per-doc aggregate
    * sees each document exactly once without a second corpus scan.
    *
    * `expectedItems` sizes the sketch; pass the known membership-set
    * cardinality to skip the sizing `count()` pass (≤ 0 ⇒ count). The
    * benchmark subtree is evaluated three times (size, build, verify) —
    * at deployment scale callers should hand in a persisted distinct-gram
    * table; at any scale it is the small side by definition. */
  def contaminationLarge(
      docs: DataFrame,
      id: String,
      text: String,
      bench: DataFrame,
      benchText: String,
      n: Int,
      fpp: Double = 0.01,
      expectedItems: Long = -1L
  ): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val bg = bench.select(explode(shingles(col(benchText), n)).as("g")).distinct()
    val items = if (expectedItems > 0) expectedItems else math.max(bg.count(), 1L)
    val bloom = bg.stat.bloomFilter("g", items, fpp)
    val gate = graft.functions.BloomMightContain.mightContain(col("g"), bloom)
    docs
      // null text ⇒ empty gram set, scoring 0 (same rule as contamination)
      .select(col(id),
        coalesce(shingles(col(text), n), array().cast("array<string>")).as("gs"))
      .select(col(id), size(col("gs")).cast("long").as("total_ngrams"),
        explode(concat(col("gs"), array(lit(null).cast("string")))).as("g"))
      .where(col("g").isNull || gate)
      .join(bg.withColumn("__hit", lit(1L)), Seq("g"), "left")
      .groupBy(col(id), col("total_ngrams"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("contaminated_ngrams"))
      .withColumn("contamination",
        when(col("total_ngrams") === 0, lit(0.0))
          .otherwise(col("contaminated_ngrams") / col("total_ngrams")))
  }

  /** C4-style corpus-level LINE dedup: any line whose exact text occurs more
    * than `maxCount` times ACROSS THE CORPUS is removed from every document
    * (the standard boilerplate filter — nav bars, cookie banners, footers
    * repeat across pages while real content doesn't), and each document is
    * rebuilt from its kept lines in original order.
    *
    * Scale shape: one explode (linear), one count aggregation keyed on the
    * 64-bit line hash (map-side combinable; the raw line string never enters
    * the aggregation state), one equi join of lines to counts (a hot
    * boilerplate line is ONE row on the build side — many probe rows per key
    * is the normal hash-join case, no blowup), and one per-document rebuild
    * agg. Line order is restored by sorting the collected (pos, line)
    * structs — no window, no global sort. The exploded `lines` subtree feeds
    * both the counts aggregation and the join probe side, and Catalyst
    * shares no re-referenced subtree — so the doc-level split arrays are
    * cached once (the jaccardPairs pattern: cache at DOC granularity, where
    * the cache is corpus-sized, not exploded-line-sized) and both sides
    * explode from the cache; the corpus text is read and split exactly once.
    * The cache's lifetime follows the repo convention: pass a
    * [[graft.runtime.CacheHandle]] and `release()` after consuming the
    * result; the default argument keeps session-LRU behavior.
    *
    * Returns (id, clean_text, removed_lines); documents whose every line is
    * removed keep an empty clean_text, and null-text documents pass through
    * with clean_text null / removed_lines 0.
    */
  def dedupLines(
      df: DataFrame,
      id: String,
      text: String,
      maxCount: Long = 1L,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    require(maxCount >= 1, "maxCount must be >= 1 (1 = keep only corpus-unique lines)")
    val docLines = handle.track(
      df.select(col(id), split(col(text), "\n").as("__lines")).cache())
    val lines = docLines
      .select(col(id), posexplode(col("__lines")).as(Seq("pos", "line")))
      .withColumn("__lh", xxhash64(col("line")))
    val counts = lines.groupBy("__lh").agg(count(lit(1)).as("__lc"))
    val rebuilt = lines
      .join(counts, "__lh")
      .withColumn("__keep", col("__lc") <= maxCount)
      .groupBy(col(id))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"), struct(col("pos"), col("line"))))),
            s => s.getField("line")),
          "\n").as("clean_text"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("removed_lines"))
    docLines.select(col(id))
      .join(rebuilt, Seq(id), "left")
      .na.fill(0L, Seq("removed_lines"))
  }

  /** Exact duplicated-SUBSTRING dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): any k-token gram whose
    * exact text occurs more than `maxCount` times ACROSS THE CORPUS marks
    * its k token positions as duplicated, and every document is rebuilt
    * from its unmarked tokens in original order. This is the level between
    * [[dedupLines]] (needs exact line boundaries) and [[nearDuplicates]]
    * (whole-document): copy-pasted license blocks, boilerplate sentences
    * and templated spans are cut wherever they appear, mid-line or not.
    * Overlapping duplicated grams merge naturally (a 30-token copied block
    * with k=8 marks all 30 positions via its 23 overlapping grams).
    *
    * Scale shape: gram hashing is one pass inside whole-stage codegen
    * ([[graft.functions.WordGramHashes]] — positional hashes as an
    * array<long>, ~8 bytes/token, no gram strings, no token shuffle to
    * build grams); corpus-wide counts are one map-side-combinable agg on
    * the 48-bit hash; the counts join puts ONE row per duplicated gram on
    * the build side (hot boilerplate = many probe rows per key, the normal
    * hash-join case); coverage expands only DUPLICATED positions ×k before
    * a distinct (worst case k× tokens on a fully-copied corpus, ~nothing
    * on a clean one); the rebuild is an anti-join plus one per-document
    * agg, order restored by sorting (pos, token) structs — no window, no
    * global sort. The doc-level token+hash arrays are cached once (both
    * the gram pass and the rebuild derive from them — the re-referenced-
    * subtree rule); lifetime follows the repo convention via `handle`.
    *
    * False sharing across a 48-bit hash at corpus scale: with H distinct
    * grams the expected spuriously-marked gram count is ~H²/2⁴⁹ — at 10⁹
    * distinct grams that is ~3.5×10³ extra marked grams corpus-wide
    * (~10⁻⁶ of tokens), acceptable for curation; the xx64 variant halves
    * nothing (64-bit) and is the production default.
    *
    * Returns (id, clean_text, removed_tokens); a fully-duplicated document
    * keeps an empty clean_text; null-text documents pass through with null
    * clean_text and 0 removals.
    */
  def duplicateSpans(
      df: DataFrame,
      id: String,
      text: String,
      k: Int,
      maxCount: Long = 1L,
      portableMd5: Boolean = false,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    require(k >= 2, "k must be >= 2 (single-token spans are word filtering, not substring dedup)")
    require(maxCount >= 1, "maxCount must be >= 1 (1 = cut any gram occurring twice)")
    val hashes =
      if (portableMd5) graft.functions.WordGramHashes.gramHashes48(col(text), k)
      else graft.functions.WordGramHashes.gramHashes64(col(text), k)
    val docs = handle.track(df.select(
      col(id),
      when(col(text).isNull, lit(null).cast("array<string>"))
        .when(length(trim(col(text))) === 0, array().cast("array<string>"))
        .otherwise(split(trim(col(text)), "\\s+")).as("__toks"),
      hashes.as("__gh")).cache())
    val grams = docs.select(col(id), posexplode(col("__gh")).as(Seq("gpos", "h")))
    val dupHashes = grams.groupBy("h").agg(count(lit(1)).as("__c"))
      .where(col("__c") > maxCount).select("h")
    val covered = grams.join(dupHashes, "h")
      .select(col(id), explode(sequence(col("gpos"), col("gpos") + (k - 1))).as("tpos"))
      .distinct()
    val kept = docs.select(col(id), posexplode(col("__toks")).as(Seq("tpos", "tok")))
      .join(covered, Seq(id, "tpos"), "left_anti")
    val rebuilt = kept.groupBy(col(id)).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("tpos"), col("tok")))),
          s => s.getField("tok")), " ").as("__clean"))
    val removed = covered.groupBy(col(id)).agg(count(lit(1)).as("__removed"))
    docs.select(col(id), col("__toks").isNull.as("__wasnull"))
      .join(rebuilt, Seq(id), "left")
      .join(removed, Seq(id), "left")
      .select(
        col(id),
        when(col("__wasnull"), lit(null)).otherwise(coalesce(col("__clean"), lit("")))
          .as("clean_text"),
        coalesce(col("__removed"), lit(0L)).as("removed_tokens"))
  }

  /** Resolve near-duplicate PAIRS into clusters — the step that makes
    * pairwise dedup output actionable: [[nearDuplicates]] /
    * [[graft.sim.Similarity.cosineNearDupPairs]] emit (a, b) edges, but a
    * corpus build needs one CANONICAL representative per connected
    * component (duplicate chains a~b~c must collapse to one kept doc even
    * when a and c were never compared directly).
    *
    * Hybrid by edge count (the TwoPhase convention of bounded driver
    * work):
    *
    *  - pair sets up to `localEdgeLimit` (default 4M edges ≈ 64 MB of
    *    longs) collect to the driver and resolve by union-find with path
    *    compression — near-dup pair sets are TINY relative to the corpus
    *    (only the duplicates pair up), and an iterative Spark loop's
    *    per-round scheduling cost (several exchanges × rounds) dwarfs the
    *    actual work at this size;
    *  - beyond the limit, distributed min-label propagation WITH POINTER
    *    JUMPING: each round every vertex takes the min label among itself
    *    and its neighbors, then jumps label(v) ← label(label(v)) — the
    *    jump halves the distance to the component minimum, so convergence
    *    is O(log diameter) rounds (real near-dup components are
    *    near-cliques; even a 2²⁰-vertex pathological CHAIN resolves in
    *    ~20 rounds), each round two equi-joins + one min-agg + one
    *    change-count over the cached edge list, per-round label frames
    *    cached and the previous unpersisted. A non-converged run THROWS
    *    rather than returning a partially-merged labeling.
    *
    * Both paths produce the identical labeling (component minimum id —
    * spec-pinned against each other), deterministically at any
    * parallelism.
    *
    * Returns (id, canonical_id) for every id that appears in a pair;
    * singleton documents never enter the edge list — callers left-join and
    * `coalesce(canonical_id, id)`. Rows with `canonical_id == id` are the
    * kept representatives.
    */
  def resolveClusters(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 25,
      localEdgeLimit: Long = 4000000L,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    require(maxIter >= 1, "maxIter must be >= 1")
    require(localEdgeLimit >= 0 && localEdgeLimit < Int.MaxValue,
      "localEdgeLimit must be in [0, Int.MaxValue) — a larger cap would defeat the probe")
    val spark = pairs.sparkSession
    val fwd = handle.track(
      pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
        .distinct().cache())
    // bounded BEFORE the transfer, TwoPhase-style: ONE limit+1 job both
    // probes the size and ships the edges when they fit — never more than
    // cap+1 rows cross to the driver even on an enormous pair set
    val probe = fwd.limit(localEdgeLimit.toInt + 1).collect()
    if (probe.length <= localEdgeLimit) {
      val es = probe.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb } // min-id root
      }
      val out = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      import spark.implicits._
      return out.toDF("doc_id", "canonical_id")
    }
    val edges = handle.track(
      fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().cache())
    var labels = handle.track(
      edges.groupBy("src").agg(min("dst").as("__mn"))
        .select(col("src").as("id"), least(col("src"), col("__mn")).as("label"))
        .cache())
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("dst"), col("label").as("__nl")), "dst")
        .groupBy("src").agg(min("__nl").as("__nl"))
      // cached: the pointer-jump self-join references it twice, and an
      // uncached re-reference would re-run the whole propagate stage per
      // side (the round-2 re-referenced-subtree rule)
      val propagated = handle.track(labels
        .join(viaNeighbors.select(col("src").as("id"), col("__nl")), Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("__nl"), col("label"))).as("label"))
        .cache())
      // pointer jump: label(v) <- label(label(v)). Every label is itself a
      // vertex id, so the self-join hits; left+coalesce guards the root.
      val next = handle.track(
        propagated
          .join(propagated.select(col("id").as("label"), col("label").as("__ll")),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("__ll"), col("label")).as("label"))
          .cache())
      val changed = next.join(labels.select(col("id"), col("label").as("__old")), "id")
        .where(col("label") =!= col("__old")).count()
      propagated.unpersist(false)
      labels.unpersist(false)
      labels = next
      converged = changed == 0L
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"cluster resolution did not converge in $maxIter rounds — a component's " +
          "diameter exceeds maxIter; raise it (results would be partially merged)")
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** Cluster canonicalization — the step after near-dup detection: collapse
    * each duplicate cluster to ONE representative chosen by a caller
    * precedence (e.g. quality desc with the id tiebreak), instead of
    * blindly keeping the minimum id. `pairs` is any verified near-dup pair
    * table (MinHash/SimHash/cosine candidates after verification);
    * clusters are their transitive closure ([[resolveClusters]]). Returns
    * the kept representative rows: every input column plus `cluster_id`
    * (the component's min member id; singletons: the doc's own id) and
    * `cluster_size` (members in the pair graph; singletons 1).
    *
    * Scale shape: the labels/size tables hold only PAIRED documents —
    * tiny relative to the corpus (only duplicates pair up) — and join the
    * corpus by id (singletons ride the left join untouched). The
    * representative pick is [[Sampling.domainQuota]]'s two-phase bucketed
    * top-1, NOT a plain per-cluster window: viral boilerplate can put
    * millions of documents into one cluster, and a single-window pick
    * would serialize that cluster into one task. `precedence` must be a
    * total order ending in the unique id (the domainQuota contract). */
  def canonicalize(
      df: DataFrame,
      pairs: DataFrame,
      id: String,
      aCol: String,
      bCol: String,
      precedence: Seq[Column],
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    val labels = resolveClusters(pairs, aCol, bCol, handle = handle)
    // labels is referenced twice (sizes + corpus join): the distributed
    // path returns a handle-cached frame; the local path a driver-local
    // parallelize — both re-reference for free
    val sizes = labels.groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
    val withCluster = df
      .join(labels.select(col("doc_id").as(id), col("canonical_id")), Seq(id), "left")
      .withColumn("cluster_id", coalesce(col("canonical_id"), col(id).cast("long")))
      .drop("canonical_id")
      .join(sizes.select(col("canonical_id").as("cluster_id"), col("cluster_size")),
        Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
    Sampling.domainQuota(withCluster, col("cluster_id"), 1, precedence)
  }

  /** 64-bit SimHash over tokens: bit j of the result is 1 iff the sum of
    * (+1/−1) contributions of token-hash bit j is positive. Expressed as 64
    * per-bit sums in one aggregation (map-side combine). Returns (id, simhash).
    */
  def simHash(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = df.select(col(id), explode(TextFeatures.tokens(lower(col(text)))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    toks.groupBy(col(id))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col(id),
        (0 until 64).map(j => when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash")
      )
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** One-call near-duplicate detection, the production composition:
    * MinHash+LSH banding generates candidate pairs (no cross join), then
    * EXACT n-gram Jaccard verifies each candidate — the standard
    * candidate-then-verify shape (false positives filtered, false-negative
    * rate set by the banding parameters). Returns (a, b, jaccard) with
    * jaccard >= minJaccard. */
  def nearDuplicates(
      df: DataFrame,
      id: String,
      text: String,
      n: Int = 3,
      minJaccard: Double = 0.8,
      signatures: Int = 16,
      bands: Int = 8,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    require(signatures % bands == 0, "bands must divide the signature length")
    val sigs = minHashSignatures(df, id, text, n, signatures)
    val candidates = minHashCandidates(sigs, id, bands, signatures / bands, handle)
    // exact verify per CANDIDATE PAIR via array_intersect on the shingle
    // sets — cost is O(|candidates| · avg shingle count), independent of
    // shingle document frequency. (A relational shingle join here costs
    // Σ_s df_a(s)·df_b(s), which explodes on ubiquitous shingles.)
    val sh = df.select(col(id), shingles(col(text), n).as("__sh"))
    candidates
      .join(sh.select(col(id).as("a"), col("__sh").as("__sha")), "a")
      .join(sh.select(col(id).as("b"), col("__sh").as("__shb")), "b")
      .withColumn("__i", size(array_intersect(col("__sha"), col("__shb"))).cast("double"))
      .select(col("a"), col("b"),
        (col("__i") / (size(col("__sha")) + size(col("__shb")) - col("__i"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** SimHash near-dup candidate pairs within `maxHamming`, via multi-table
    * exact matching (the candidate scheme of Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW 2007, §3): split the
    * `bits` signature bits into `blocks` contiguous blocks; a pair within
    * Hamming distance d ≤ maxHamming has its differing bits in at most d
    * blocks, so at least `blocks − maxHamming` blocks match EXACTLY — one
    * table per (blocks − maxHamming)-subset of blocks, keyed on that
    * subset's concatenated block values, therefore catches EVERY such pair
    * (pigeonhole; the construction is exhaustive, and the exact Hamming
    * filter then removes false positives).
    *
    * Why not the classic 4-block/match-1 pigeonhole (the `blocks = 4`
    * special case of this function): its 16-bit keys leave ~N/2^16 docs per
    * bucket, so the bucket self-join generates ~4·N²/2^16 candidate pairs —
    * quadratic at corpus scale (~6e13 pairs at 1e9 docs). The default
    * 6-choose-3 construction keys on ~32 bits: C(6,3) = 20 tables ×
    * ~N²/2^32 expected collisions each ≈ 2^20× fewer spurious candidates,
    * for 5× the (id, key) exploded rows — linear cost for the quadratic fix.
    *
    * `maxBucket` (0 = off) drops buckets wider than the cap before the
    * self-join — the analogue of [[jaccardPairs]]' maxDocFreq skew guard: a
    * boilerplate signature shared by millions of near-empty pages forms an
    * O(m²) clique no key width can shrink. Dropped buckets trade recall
    * among exact-duplicate-signature crowds (which [[exact]] dedup already
    * catches upstream) for a hard bound on join width.
    */
  def simHashCandidates(
      sigs: DataFrame,
      id: String,
      maxHamming: Int = 3,
      sigCol: String = "simhash",
      bits: Int = 64,
      blocks: Int = 6,
      maxBucket: Long = 0L,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame =
    simHashCandidatesRaw(sigs, id, maxHamming, sigCol, bits, blocks, maxBucket, handle)
      .where(col("hamming") <= maxHamming)
      .distinct()

  /** [[simHashCandidates]] BEFORE the Hamming filter and dedup — (a, b,
    * hamming) with one row per colliding (table, key) bucket co-occurrence.
    * Exposed so tests and telemetry can measure raw candidate-join volume
    * (the quantity that must stay ~linear in N at corpus scale). */
  private[graft] def simHashCandidatesRaw(
      sigs: DataFrame,
      id: String,
      maxHamming: Int,
      sigCol: String,
      bits: Int,
      blocks: Int,
      maxBucket: Long,
      handle: graft.runtime.CacheHandle
  ): DataFrame = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    require(blocks > maxHamming,
      s"blocks ($blocks) must exceed maxHamming ($maxHamming) for the pigeonhole to hold")
    require(blocks <= bits, "blocks must not exceed the signature width")
    val m = blocks - maxHamming
    // block s covers signature bits [bounds(s), bounds(s+1)) — widths differ
    // by at most one when blocks does not divide bits
    val bounds = (0 to blocks).map(s => s * bits / blocks)
    // the shift-accumulated key must fit a signed long: the m WIDEST blocks
    // bound every table's key width. At >= 64 bits the accumulation either
    // overflows (ANSI throws) or the (1L << 64) mask wraps to 0 and every
    // signature lands in ONE bucket (an O(N²) self-join) — e.g.
    // maxHamming = 0 with the defaults concatenates all 64 bits. Exact-
    // duplicate signatures are [[exact]] dedup's job (group directly on the
    // signature), not a pigeonhole's.
    val widths = (0 until blocks).map(s => bounds(s + 1) - bounds(s))
    val maxKeyBits = widths.sorted.takeRight(m).sum
    require(maxKeyBits <= 63,
      s"key width $maxKeyBits bits (the $m widest of blocks $widths) must be <= 63; " +
        "raise `blocks`, or use Dedup.exact on the signature for maxHamming = 0")
    def blockVal(s: Int): Column = {
      val lo = bounds(s)
      val w = bounds(s + 1) - lo
      // shiftright is arithmetic (sign-extending) but the mask trims the
      // extension, so the top block of a negative 64-bit signature is exact
      shiftright(col(sigCol), lo).bitwiseAND(lit((1L << w) - 1))
    }
    // one key per m-subset of blocks: the subset's block values concatenated
    // by shift-accumulate (exact integer arithmetic — the md5-48 variant
    // replays in any SQL engine). Keys of different tables never meet: the
    // join is on (tbl, key).
    val keys = (0 until blocks).combinations(m).map { combo =>
      combo.foldLeft(lit(0L): Column) { (acc, s) =>
        acc * lit(1L << (bounds(s + 1) - bounds(s))) + blockVal(s)
      }
    }.toSeq
    val exploded = sigs.select(
      col(id), col(sigCol),
      posexplode(array(keys: _*)).as(Seq("tbl", "key")))
    val guarded =
      if (maxBucket > 0) {
        val wB = Window.partitionBy(col("tbl"), col("key"))
        exploded.withColumn("__bw", count(lit(1)).over(wB))
          .where(col("__bw") <= maxBucket).drop("__bw")
      } else exploded
    val tab = handle.track(guarded.cache()) // same self-join subtree-sharing
                                            // rationale as minHashCandidates
    val l = tab.select(col("tbl"), col("key"), col(id).as("a"), col(sigCol).as("ha"))
    val r = tab.select(col("tbl"), col("key"), col(id).as("b"), col(sigCol).as("hb"))
    l.join(r, Seq("tbl", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), hamming(col("ha"), col("hb")).as("hamming"))
  }
}
