package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Language-model quality scoring for corpus filtering — the CCNet-style
  * "perplexity filter" reduced to its deterministic, engine-native core: a
  * character-bigram model with add-one smoothing, estimated FROM the corpus
  * itself (or any reference corpus), scoring each document by its mean bits
  * per character transition. High bits-per-char = far from the corpus
  * distribution (gibberish, binary spill, wrong language) — the standard
  * drop signal; no external LM artifacts, no RNG, reproducible anywhere.
  *
  * Scale shape: the model pass and the scoring pass each scan the text once
  * (two scans of a cheap projection; callers scoring against a FIXED
  * reference model pay one). The model itself is |alphabet|² rows — always
  * broadcast. The per-document aggregation is a plain hash agg with map-side
  * partial combine. The bigram expansion runs as the native codegen
  * [[graft.functions.CharNgrams]] kernel — one n-gram per CHARACTER of
  * corpus makes this the engine's highest elements-per-row expansion, and
  * the equivalent higher-order `transform` chain runs interpreted;
  * [[charBigramsBuiltin]] keeps the chain as the bit-equality reference.
  * (Native kernel + cached model: 3.9 s → 2.2 s on the sf0.1 bench
  * query — the remainder is the two irreducible corpus scans.)
  */
object LmScore {

  /** Array of the character bigrams of `text` (positions 1..len−1), empty
    * for texts shorter than 2 chars. Native kernel. */
  def charBigrams(text: Column): Column =
    graft.functions.CharNgrams.ngrams(text, 2)

  /** Reference formulation of [[charBigrams]] in built-in expressions only —
    * retained for the bit-equality spec, not used on any production path.
    * Null text propagates null (a bare `otherwise(array())` would turn null
    * into an empty array and diverge from the native kernel's
    * null-propagation — the WordShingles convention). */
  def charBigramsBuiltin(text: Column): Column =
    when(text.isNull, lit(null).cast("array<string>"))
      .when(length(text) >= 2,
        transform(sequence(lit(1), length(text) - 1), i => text.substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))

  /** Corpus-level model tables: (bigram, c2) counts and the derived
    * (first-char, n1) totals, plus the smoothing vocabulary size V =
    * distinct second characters. Exact integer counts — deterministic at any
    * parallelism. The |alphabet|²-row m2 table is CACHED (and eagerly
    * materialized by the V count): it is referenced four times downstream —
    * m1, V, and the two broadcast sides — and each reference would otherwise
    * re-run the full corpus scan (Catalyst shares no re-referenced subtree;
    * caching cut the sf0.1 bench query 3.4 s → 2.2 s, leaving exactly the
    * two irreducible corpus scans — model build and scoring). `handle` owns
    * the cache lifetime, as in the dedup family. */
  def charBigramModel(
      df: DataFrame,
      text: String,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): (DataFrame, DataFrame, Long) = {
    val bg = graft.core.Partitions.fanOut(df).select(explode(charBigrams(col(text))).as("bg"))
    val m2 = handle.track(bg.groupBy("bg").agg(count(lit(1)).as("c2")).cache())
    val m1 = handle.track(
      m2.groupBy(substring(col("bg"), 1, 1).as("c1")).agg(sum("c2").as("n1")).cache())
    val v = m2.select(substring(col("bg"), 2, 1)).distinct().count()
    (m2, m1, v)
  }

  /** Score each document: lm_bits = mean over its transitions of
    * −log2 P(c₂ | c₁), P = (count(c₁c₂) + 1) / (count(c₁·) + V) (add-one).
    * Unseen bigrams fall back to 1/(n₁+V); unseen first chars to 1/V (only
    * reachable when scoring a different corpus than the model's). Documents
    * with fewer than 2 characters produce no row. Returns (id, lm_bits). */
  def charBigramScore(
      df: DataFrame,
      id: String,
      text: String,
      model: (DataFrame, DataFrame, Long)
  ): DataFrame = {
    val (m2, m1, v) = model
    val bg = graft.core.Partitions.fanOut(df)
      .select(col(id), explode(charBigrams(col(text))).as("bg"))
    bg
      .join(broadcast(m2), Seq("bg"), "left")
      .withColumn("c1", substring(col("bg"), 1, 1))
      .join(broadcast(m1), Seq("c1"), "left")
      .withColumn("p",
        (coalesce(col("c2"), lit(0L)) + 1.0) / (coalesce(col("n1"), lit(0L)) + v))
      .groupBy(col(id))
      .agg(avg(-log2(col("p"))).as("lm_bits"))
  }

  /** Target + background models from ONE corpus scan — the DSIR pair
    * ([[importanceLogWeights]]) built separately costs two full
    * explode-bigram passes; here a single pass counts (total, in-target)
    * per bigram and both model families derive from the cached
    * |alphabet|²-row counts table. Bit-identical to
    * `(charBigramModel(df.where(pred)), charBigramModel(df))` — exact
    * integer counts either way (spec-pinned). Null predicate rows count as
    * background-only, matching the `where` formulation. */
  def charBigramModels(
      df: DataFrame,
      text: String,
      targetPred: Column,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): ((DataFrame, DataFrame, Long), (DataFrame, DataFrame, Long)) = {
    val bg = graft.core.Partitions.fanOut(df)
      .select(coalesce(targetPred.cast("boolean"), lit(false)).as("__t"),
      explode(charBigrams(col(text))).as("bg"))
    val m2all = handle.track(bg.groupBy("bg").agg(
      count(lit(1)).as("c2"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("tc2")).cache())
    val b2 = m2all.select(col("bg"), col("c2"))
    val b1 = handle.track(
      b2.groupBy(substring(col("bg"), 1, 1).as("c1")).agg(sum("c2").as("n1")).cache())
    val bv = m2all.select(substring(col("bg"), 2, 1)).distinct().count()
    // target rows = bigrams SEEN in the target subset, exactly the groupBy
    // of the filtered corpus (zero-count bigrams produce no row there)
    val t2 = handle.track(
      m2all.where(col("tc2") > 0).select(col("bg"), col("tc2").as("c2")).cache())
    val t1 = handle.track(
      t2.groupBy(substring(col("bg"), 1, 1).as("c1")).agg(sum("c2").as("n1")).cache())
    val tv = t2.select(substring(col("bg"), 2, 1)).distinct().count()
    ((t2, t1, tv), (b2, b1, bv))
  }

  /** Self-scoring convenience: model and scores from the same corpus. */
  def charBigramScore(
      df: DataFrame,
      id: String,
      text: String,
      handle: graft.runtime.CacheHandle
  ): DataFrame =
    charBigramScore(df, id, text, charBigramModel(df, text, handle))

  /** Self-scoring with an unmanaged cache lifetime (session LRU). */
  def charBigramScore(df: DataFrame, id: String, text: String): DataFrame =
    charBigramScore(df, id, text, new graft.runtime.CacheHandle)

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", NeurIPS — reduced to the
    * engine's deterministic core: char-bigram LMs instead of hashed-ngram
    * bags). Per document, `log2_w = Σ over its transitions of
    * log2 P_target(c₂|c₁) − log2 P_background(c₂|c₁)` — the log importance
    * ratio between a target-domain model and a background model, both from
    * [[charBigramModel]] (add-one smoothing; unseen bigrams fall back
    * exactly as [[charBigramScore]] does). Pair with
    * [[graft.text.Sampling.weightedSampleLogMd5]] for the resampling step:
    * w spans thousands of orders of magnitude, which is why the weight
    * never leaves log space.
    *
    * Scale shape: ONE scoring scan of the corpus (both models join the same
    * exploded-bigram pass — 4 broadcast joins of |alphabet|²-row tables),
    * on top of the two model-build scans (target subset + background).
    * Documents with < 2 chars have no transitions: log2_w = 0 (w = 1),
    * kept via the left join so every input row stays eligible. */
  def importanceLogWeights(
      df: DataFrame,
      id: String,
      text: String,
      target: (DataFrame, DataFrame, Long),
      background: (DataFrame, DataFrame, Long)
  ): DataFrame = {
    val (t2, t1, tv) = target
    val (b2, b1, bv) = background
    val bg = graft.core.Partitions.fanOut(df)
      .select(col(id), explode(charBigrams(col(text))).as("bg"))
      .withColumn("c1", substring(col("bg"), 1, 1))
    val scored = bg
      .join(broadcast(t2.select(col("bg"), col("c2").as("tc2"))), Seq("bg"), "left")
      .join(broadcast(t1.select(col("c1"), col("n1").as("tn1"))), Seq("c1"), "left")
      .join(broadcast(b2.select(col("bg"), col("c2").as("bc2"))), Seq("bg"), "left")
      .join(broadcast(b1.select(col("c1"), col("n1").as("bn1"))), Seq("c1"), "left")
      .withColumn("pt",
        (coalesce(col("tc2"), lit(0L)) + 1.0) / (coalesce(col("tn1"), lit(0L)) + tv))
      .withColumn("pb",
        (coalesce(col("bc2"), lit(0L)) + 1.0) / (coalesce(col("bn1"), lit(0L)) + bv))
      .groupBy(col(id))
      .agg(sum(log2(col("pt")) - log2(col("pb"))).as("log2_w"))
    df.select(col(id))
      .join(scored, Seq(id), "left")
      .na.fill(0.0, Seq("log2_w"))
  }
}
