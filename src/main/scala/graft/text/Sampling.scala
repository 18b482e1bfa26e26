package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation primitives a reproducible training-data pipeline needs
  * at 100 TB: deterministic dataset splitting and per-domain quotas.
  *
  * Both are pure per-row/per-group column logic — no RNG state, no driver
  * round-trips — so results are identical at any parallelism, across
  * reruns, and across engine versions (the property that makes a train/test
  * split trustworthy: a document can never silently migrate between splits
  * when the cluster is resized).
  */
object Sampling {

  /** Walk the cumulative fraction thresholds over a [0, 1) bucket value. */
  private def assign(bucket: Column, fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty, "at least one split fraction required")
    require(fractions.forall(_._2 > 0), "fractions must be positive")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val cums = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    fractions.zip(cums).dropRight(1).foldRight(lit(fractions.last._1): Column) {
      case (((name, _), cum), acc) => when(bucket < cum, name).otherwise(acc)
    }
  }

  /** The 48-bit md5 hash of the key's string form ([[Dedup.md5Hash48]]):
    * the cross-engine hash shared by every sampler and ranker here, so
    * split membership and shuffle order can never drift apart and an
    * external engine (the DuckDB oracle) reproduces each exactly. */
  private def keyHash(key: Column): Column = Dedup.md5Hash48(key.cast("string"))

  /** The key hash mod 10^6: a uniform integer bucket in [0, 10^6). */
  private def keyBucket(key: Column): Column = pmod(keyHash(key), lit(1000000L))

  /** Deterministic split assignment by key hash. `fractions` e.g.
    * Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1). */
  def splitByHashMd5(key: Column, fractions: Seq[(String, Double)]): Column =
    assign(keyBucket(key) / lit(1e6), fractions)

  private def stratumFraction(stratum: Column, fractions: Map[String, Double], default: Double): Column = {
    require((fractions.values ++ Seq(default)).forall(f => f >= 0 && f <= 1),
      "sampling fractions must be in [0, 1]")
    fractions.toSeq.sortBy(_._1).foldLeft(lit(default): Column) {
      case (acc, (s, f)) => when(stratum === s, lit(f)).otherwise(acc)
    }
  }

  /** Deterministic stratified downsampling predicate: keep a row iff its
    * key-hash bucket falls below its stratum's fraction — the standard
    * rebalancing filter (downsample over-represented languages / domains /
    * sources to target proportions). Pure map-side column logic: no RNG
    * state, no count pass, membership independent of parallelism and
    * stable across reruns (a kept document never flickers out when the
    * cluster is resized — same property as [[splitByHashMd5]]). Strata
    * absent from `fractions` keep `default`. */
  def stratifiedSampleMd5(
      key: Column,
      stratum: Column,
      fractions: Map[String, Double],
      default: Double = 1.0
  ): Column =
    keyBucket(key) / lit(1e6) < stratumFraction(stratum, fractions, default)

  /** Weighted sampling without replacement, deterministic: the
    * Efraimidis–Spirakis A-ES scheme (key_i = u_i^(1/w_i), take the k
    * largest keys) with the uniform u_i drawn from the key hash instead of
    * RNG state — so, like every sampler here, membership is a pure function
    * of (key, weight): identical at any parallelism, across reruns, across
    * engines (`pow` may differ by 1 ulp across libms, which only matters if
    * two sample keys collide to within that ulp), and resumable
    * mid-pipeline. The standard quality-weighted corpus subset selection
    * ("sample 10M documents proportionally to quality score") in one pass.
    *
    * Scale shape: the sample key is a map-side projection; the top-k is
    * `orderBy(...).limit(k)` which Spark plans as TakeOrderedAndProject —
    * per-partition bounded heaps plus one merge of k·partitions rows, no
    * global sort, no full shuffle. Ties (quantized u collisions) break by
    * `key`, keeping the order total.
    *
    * Weight semantics: rows with null/zero/negative weight get sample key 0
    * (the A-ES weight→0⁺ limit) — never selected ahead of any positively
    * weighted row. u is shifted to the bucket midpoint ((b+0.5)/10^6) so
    * u > 0 strictly and maximal-weight rows cannot be locked out by u = 0.
    *
    * Returns `df` plus `sample_key`, restricted to the k selected rows. */
  def weightedSampleMd5(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame = {
    require(k >= 1, "sample size k must be >= 1")
    val u = (keyBucket(key) + lit(0.5)) / lit(1e6)
    val sk = when(weight.isNotNull && weight > 0 && key.isNotNull,
      pow(u, lit(1.0) / weight.cast("double"))).otherwise(lit(0.0))
    df.withColumn("sample_key", sk)
      .orderBy(col("sample_key").desc, key)
      .limit(k)
  }

  /** A-ES weighted sampling with the weight given in LOG₂ SPACE — for
    * importance weights spanning thousands of orders of magnitude (DSIR's
    * w = 2^(Σ per-transition log-likelihood ratio) overflows/underflows any
    * double long before a 10k-char document ends). Identical selection rule
    * to [[weightedSampleMd5]] rewritten in logs: maximizing the A-ES key
    * u^(1/w) is minimizing `gumbel_key = ln(−ln u) − log2w·ln 2`, every
    * term finite for any log2w (the exponential-races / Gumbel top-k
    * equivalence). Deterministic u from the md5 bucket, ties by the key
    * column; null key or null log-weight sorts LAST (+∞, the `otherwise 0`
    * rule of the linear-space variant). Top-k via TakeOrderedAndProject —
    * no global sort. */
  def weightedSampleLogMd5(df: DataFrame, key: Column, log2Weight: Column, k: Int): DataFrame = {
    require(k >= 1, "sample size k must be >= 1")
    val u = (keyBucket(key) + lit(0.5)) / lit(1e6)
    val g = when(log2Weight.isNotNull && key.isNotNull,
      log(-log(u)) - log2Weight.cast("double") * math.log(2.0))
      .otherwise(lit(Double.PositiveInfinity))
    df.withColumn("gumbel_key", g)
      .orderBy(col("gumbel_key").asc, key)
      .limit(k)
  }

  /** Deterministic corpus shuffle: a pseudo-random but fully reproducible
    * GLOBAL ordering (`shuffle_rank` ∈ [0, n)) following the key-hash
    * order — the standard shuffle-before-packing step that breaks
    * crawl/source locality in training order. No RNG state; identical at
    * any parallelism and in any engine; and NO global sort: the hash's top
    * bits range-bucket the rows (bucket order IS hash order), per-bucket
    * counts are cumulated driver-side into base offsets (one tiny row per
    * bucket), and ranks are a parallel within-bucket running count plus the
    * broadcast base — the same [[TwoPhase.runningSum]] as
    * [[graft.text.Packing]]. Ties on the hash break by the key itself, so
    * ranks are a total order for unique keys. */
  def shuffleRankMd5(df: DataFrame, key: Column, bucketBits: Int = 12): DataFrame = {
    // bucketBits <= 22 bounds the driver-side prefix table at 4M rows (the
    // same cap TwoPhase enforces); the bucket count here is 2^bucketBits by
    // construction, never data-dependent
    require(bucketBits >= 1 && bucketBits <= 22, "bucketBits must be in [1, 22]")
    // the hash is non-negative and below 2^48, so its top bucketBits bits
    // order the buckets as the hash orders the rows; the rank is the
    // running count of earlier rows
    TwoPhase
      .runningSum(df.withColumn("__sh", keyHash(key)), keys = Nil,
        bucket = shiftright(col("__sh"), 48 - bucketBits), order = Seq(col("__sh"), key),
        weight = lit(1L), maxBuckets = 1 << bucketBits, out = "shuffle_rank")
      .drop("__sh")
  }

  /** Per-domain quota: keep at most `k` rows per `domain`, preferring the
    * `precedence` ordering (e.g. quality desc with a deterministic id
    * tiebreak) — the standard domain-balance filter that stops one giant
    * host from dominating a web corpus.
    *
    * Hot domains are the NORMAL case for this operator (it exists because
    * some hosts have millions of pages), and window partitions are not
    * split by AQE — a single `row_number` over the domain would serialize
    * each hot domain into one task. So the top-k is two-phase, the same
    * shape as Relief's bucketed top-k: stage 1 takes the top-k within 64
    * seeded hash sub-buckets of each domain (small parallel sorts), stage 2
    * merges the ≤ 64·k survivors per domain — the global top-k is exactly
    * the top-k of the per-bucket top-ks for any total `precedence` order
    * (callers must include a deterministic tiebreak, e.g. the row id). */
  def domainQuota(df: DataFrame, domain: Column, k: Int, precedence: Seq[Column]): DataFrame = {
    require(k >= 1, "quota must be >= 1")
    require(precedence.nonEmpty, "a deterministic precedence ordering is required")
    // bucket assignment only needs an even spread — the stage-2 merge is
    // exact regardless of which bucket a row landed in — but it MUST be
    // deterministic: a nondeterministic bucket key (monotonic row id) feeds
    // the stage-1 shuffle, and on a real cluster a fetch-failure recompute
    // re-assigns rows to buckets other reducers already fetched, duplicating
    // or losing rows (Spark SQL does not roll the stage back as
    // INDETERMINATE). So hash the contractually-unique tiebreak column (the
    // LAST precedence entry — ties are impossible under the total-order
    // contract, so tied-row collapse cannot occur); no payload columns are
    // hashed, keeping column pruning intact.
    val tiebreak =
      org.apache.spark.sql.graftbridge.ColumnBridge.stripSortOrder(precedence.last)
    val bucket = pmod(xxhash64(tiebreak, lit(42L)), lit(64L))
    val w1 = Window.partitionBy(domain, col("__quota_bkt")).orderBy(precedence: _*)
    val w2 = Window.partitionBy(domain).orderBy(precedence: _*)
    df.withColumn("__quota_bkt", bucket)
      .withColumn("__quota_rn1", row_number().over(w1))
      .where(col("__quota_rn1") <= k)
      .withColumn("__quota_rn", row_number().over(w2))
      .where(col("__quota_rn") <= k)
      .drop("__quota_bkt", "__quota_rn1", "__quota_rn")
  }

  /** Token-budget selection — the final curation step that keeps the
    * best-scoring documents until a global token budget is filled (the
    * "select top documents by quality score down to N training tokens"
    * cut every released corpus ends with). Selection order is
    * (`score` DESC, `id` ASC) — a total order, so the kept set is exact:
    * a document is kept iff the tokens of all strictly-preceding documents
    * sum below `budget` (the boundary document that straddles the budget
    * IS kept, so at least `budget` tokens ship when the corpus has them).
    * Rows with null/NaN score are never selected; null token counts weigh
    * 0 (kept for free if their score qualifies).
    *
    * Scale shape — NO global sort, the same two-phase prefix sum as
    * [[Packing.packSequences]], but over a VALUE ordering instead of a
    * dense id: an approxQuantile sketch range-buckets the score (the
    * boundaries only BALANCE the buckets; every kept row is decided by an
    * exact prefix sum over the total order, so the result is identical for
    * any boundary set and any parallelism — GK's partition-order
    * dependence cannot leak out, the [[graft.stats.Binning.exactCutsMany]]
    * argument); per-bucket token totals are cumulated driver-side in
    * descending score order (TwoPhase — transfer bounded at `buckets`
    * rows) and broadcast back; the within-bucket running sum is a windowed
    * cumsum partitioned by bucket. Three passes over the source (sketch,
    * bucket totals, select), each pruned to the score/token input columns
    * — at corpus scale that beats caching the corpus, and mirrors the
    * documented dedupLines trade-off.
    *
    * It is [[budgetSelectStratified]] over one constant stratum.
    *
    * Returns the kept rows: the input columns plus `budget_start` (exact
    * tokens preceding the document in selection order). */
  def budgetSelect(
      df: DataFrame,
      score: Column,
      tokens: Column,
      id: Column,
      budget: Long,
      buckets: Int = 1024
  ): DataFrame =
    budgetSelectStratified(df, lit(""), score, tokens, id, Map("" -> budget), buckets)

  /** Stratified token-budget selection — the DATA-MIXING step: each
    * stratum (source, domain tier, language) gets its own token budget,
    * and within each stratum the best-scoring documents fill it — how a
    * training mix hits "X tokens of code, Y of encyclopedic, Z of web"
    * targets while still taking the best of each slice. Semantics per
    * stratum are exactly [[budgetSelect]] ((score DESC, id ASC) greedy
    * take, boundary doc kept, null/NaN scores never selected, null tokens
    * weigh 0); strata absent from `budgets` are dropped entirely.
    *
    * Scale shape: the same sketch + two-phase prefix sum, keyed by
    * stratum so the driver cumsum RESETS per stratum — the bases table is one row per
    * occupied (stratum, score-bucket), bounded by construction at
    * |budgets| × `buckets` rows, and the within-(stratum, bucket) window
    * keeps every partition small regardless of stratum skew. One shared
    * boundary set serves all strata (imbalance only unbalances buckets —
    * the result is exact for any boundary set, the [[budgetSelect]]
    * argument).
    *
    * Returns the kept rows: the input columns plus `budget_start` (exact
    * tokens preceding the doc within ITS stratum's selection order). */
  def budgetSelectStratified(
      df: DataFrame,
      stratum: Column,
      score: Column,
      tokens: Column,
      id: Column,
      budgets: Map[String, Long],
      buckets: Int = 256
  ): DataFrame = {
    require(budgets.nonEmpty, "budgets must name at least one stratum")
    require(budgets.values.forall(_ >= 1), "every budget must be >= 1 token")
    require(buckets >= 1 && buckets.toLong * budgets.size <= (1L << 22),
      "strata x buckets must stay within the bounded driver transfer (2^22)")
    val valid = df
      .withColumn("__bs_st", stratum.cast("string"))
      .withColumn("__bs_s", score.cast("double"))
      .withColumn("__bs_t", coalesce(tokens.cast("long"), lit(0L)))
      .where(col("__bs_s").isNotNull && !isnan(col("__bs_s")) &&
        col("__bs_st").isin(budgets.keys.toSeq.map(_.asInstanceOf[Any]): _*))
    val bounds =
      if (buckets == 1) Array.empty[Double]
      else valid.stat.approxQuantile(
        "__bs_s", (1 until buckets).map(_.toDouble / buckets).toArray, 0.01)
        .distinct.sorted
    // negated bucket index: TwoPhase cumulates in ASCENDING bucket order,
    // and the selection consumes tokens from the HIGHEST score bucket down
    val bucket =
      if (bounds.isEmpty) lit(0L)
      else -graft.functions.SortedBucket.of(col("__bs_s"), bounds).cast("long")
    val budgetDf = df.sparkSession.createDataFrame(budgets.toSeq).toDF("__bs_st", "__budget")
    TwoPhase
      .runningSum(valid, keys = Seq("__bs_st"), bucket, order = Seq(col("__bs_s").desc, id),
        weight = col("__bs_t"), maxBuckets = buckets * budgets.size, out = "budget_start")
      .join(broadcast(budgetDf), Seq("__bs_st"))
      .where(col("budget_start") < col("__budget"))
      .drop("__bs_st", "__bs_s", "__bs_t", "__budget")
  }
}
