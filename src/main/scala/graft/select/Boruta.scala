package graft.select

import org.apache.commons.math3.distribution.BinomialDistribution
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** step_select_boruta — Boruta all-relevant selection
  * (/root/reference/R/step_select_boruta.R:95–131): random-forest importance
  * of each feature vs permuted "shadow" copies; a feature scores a hit in a
  * round when its importance exceeds the best shadow importance; after
  * `maxRuns` rounds a two-sided binomial test (p = 0.5) with optional
  * Bonferroni correction (mcAdj) confirms/rejects; `exclude` = Rejected.
  *
  * RNG semantics: shadow permutations are derived from seeded hashes — a
  * deterministic permutation per (feature, round), identical on rerun; the
  * reference's set.seed parity is therefore seeded-determinism within this
  * engine, not cross-library equality (SURVEY §7.4 risk 4).
  *
  * Scale shape: each round builds ALL shadow columns in one melt → per-
  * feature hash-ordered window → pivot → join (2 shuffles), then one
  * distributed RF fit. Boruta is a wrapper method — O(maxRuns) model fits
  * by definition — so wall-clock is dominated by MLlib, as in the original.
  */
/** The full Boruta result surface, mirroring the `res` object the reference
  * stores on the trained step (step_select_boruta.R:113,127 keeps the whole
  * Boruta::Boruta return — the package's own tests assert `res$ImpHistory`,
  * test_step_select_boruta.R:29,60).
  *
  * `impHistory` holds one row per round: every feature's raw importance in
  * that round plus the derived `shadowMin`/`shadowMean`/`shadowMax` of the
  * shadow copies — the matrix Boruta's plot/attStats/TentativeRoughFix all
  * consume.
  */
final case class BorutaResult(
    selector: FittedSelector,
    decisions: Map[String, String], // Confirmed | Rejected | Tentative
    impHistory: Seq[Map[String, Double]]
) {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Boruta::TentativeRoughFix semantics: resolve each Tentative feature by
    * comparing its MEDIAN importance over the recorded history with the
    * median of the per-round shadowMax; strictly greater ⇒ Confirmed, else
    * Rejected. Returns a result whose `selector.excluded` reflects the
    * post-fix Rejected set (no Tentatives remain). */
  def roughFix: BorutaResult = {
    val shadowMaxMedian = median(impHistory.map(_("shadowMax")))
    val fixed = decisions.map {
      case (p, "Tentative") =>
        p -> (if (median(impHistory.map(_(p))) > shadowMaxMedian) "Confirmed" else "Rejected")
      case other => other
    }
    val excluded = selector.scores.map(_._1).filter(p => fixed(p) == "Rejected")
    BorutaResult(
      selector.copy(excluded = excluded,
        warnings = Nil), // rough-fix leaves no Tentatives to warn about
      fixed, impHistory)
  }
}

final case class BorutaStep(
    pValue: Double = 0.01,
    mcAdj: Boolean = true,
    maxRuns: Int = 20,
    trees: Int = 50,
    maxDepth: Int = 5,
    seed: Long = 42L,
    roughFix: Boolean = false, // apply TentativeRoughFix to the decisions
    maxBins: Int = 32 // RF split-candidate bins; fewer = faster stats passes
) extends SelectorStep {
  val name = "step_select_boruta"

  /** Composite row id: (hash bucket << idShift) + dense index within bucket.
    * Every id-assignment and permutation window partitions by the bucket, so
    * nothing ever sorts the whole dataset (or a whole feature column) in one
    * task; buckets are seeded-hash-random, so within-bucket permutation is
    * statistically a uniform permutation for shadow purposes. */
  private val idShift = 40

  /** Shadow columns for ALL rounds in ONE melt → window → pivot → join pass:
    * per (feature, round), values are permuted WITHIN (feature, bucket) by a
    * seeded hash order, and __pos lands in the same composite id space as
    * __id so the pivot joins back on ids of the same bucket. Building every
    * round at once (maxRuns window sorts over a single (f, __bkt) exchange,
    * one 48-way pivot) replaces maxRuns separate melt+pivot+join rounds —
    * the per-(feature, round) permutation formula is unchanged, so the
    * shadow VALUES are bit-identical to the one-round-at-a-time
    * construction. Output columns: `__sh_<p>__r<round>`. */
  private def shadowedAll(data: DataFrame, preds: Seq[String], rounds: Int): DataFrame = {
    val long = data.select(
      col("__bkt"), col("__id"),
      explode(array(preds.map(p => struct(lit(p).as("f"), col(p).as("v"))): _*)).as("fv"))
      .select(col("__bkt"), col("__id"), col("fv.f").as("f"), col("fv.v").as("v"))
    // window expressions must be projected as plain columns BEFORE the
    // explode (a window function inside explode(array(...)) is unresolvable);
    // all `rounds` row_numbers share one (f, __bkt) exchange, sorted per round
    val withPos = (1 to rounds).foldLeft(long) { (d, round) =>
      d.withColumn(s"__pos_$round",
        shiftleft(col("__bkt"), idShift) + row_number().over(
          Window.partitionBy("f", "__bkt")
            .orderBy(xxhash64(col("__id"), col("f"), lit(round), lit(seed)))))
    }
    val posCols = (1 to rounds).map(r =>
      struct(lit(r).as("r"), col(s"__pos_$r").as("pos")))
    val keys = for (p <- preds; r <- 1 to rounds) yield s"${p}__r$r"
    val shadow = withPos
      .select(col("f"), col("v"), explode(array(posCols: _*)).as("rp"))
      .select(concat(col("f"), lit("__r"), col("rp.r")).as("k"), col("v"),
        col("rp.pos").as("__id"))
      .groupBy("__id").pivot("k", keys).agg(first("v"))
      .select(col("__id") +: keys.map(k => col(k).as(s"__sh_$k")): _*)
    data.join(shadow, "__id")
  }

  def fit(df: DataFrame, outcome: String, predictors: Seq[String]): FittedSelector =
    fitDetailed(df, outcome, predictors).selector

  /** Full-surface fit: the selector plus decisions and the per-round
    * importance history (the reference's `res` object). */
  def fitDetailed(df: DataFrame, outcome: String, predictors: Seq[String]): BorutaResult = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.numericPredictors(df, preds0)
    val classif = StepCommon.isClassification(df, outcome)
    val base0 = df.na.drop(preds :+ outcome)
    // deterministic composite row ids, assigned within ~4k-row hash buckets
    val n = base0.count()
    if (n == 0) throw StepCommon.noCompleteRows(name, df, outcome, preds)
    val buckets = math.max(1L, n / 4096L)
    val allCols = struct(base0.columns.map(col): _*)
    val base = base0
      .withColumn("__bkt", pmod(xxhash64(allCols, lit(seed)), lit(buckets)))
      .withColumn("__id",
        shiftleft(col("__bkt"), idShift) + row_number().over(
          Window.partitionBy("__bkt").orderBy(xxhash64(allCols, lit(seed + 1)))))
      .cache()
    // the RF stats-aggregation jobs run once per tree-depth level; on a small
    // sample, near-empty shuffle partitions make every one of those jobs pay
    // a task launch for sub-millisecond work — size partitions to the DATA
    // (~4k rows each, constant cap), never to the session: MLlib's bootstrap
    // RNG is seeded per PARTITION INDEX, so a core-count-derived partition
    // count would make importances (hence decisions) vary with cluster size
    val fitParts = math.max(1, math.min(256, (n / 4096L).toInt))
    // one wide shadow build for all rounds, cached: each round's fit then
    // reads columns from cache instead of re-running its own melt+pivot+join.
    // Hash-repartition on the deterministic __id + in-partition sort pins the
    // exact (partition, order) layout the RF bagging RNG consumes — results
    // are identical at any parallelism and across reruns (coalesce would
    // inherit the session-sized, fetch-order-dependent shuffle layout)
    val allRounds = shadowedAll(base, preds, maxRuns)
      .repartition(fitParts, col("__id"))
      .sortWithinPartitions("__id")
      .cache()
    try {
      val allFeats = preds ++ preds.map(p => s"__sh_$p")
      // label mapping is identical every round (shadow copies don't touch the
      // outcome) — fit the indexer ONCE on the cached base; refitting per
      // round executed the whole shadow melt+pivot+join plan a second time
      val indexer = if (classif) Some(ModelBased.labelIndexer(base, outcome)) else None
      val hits = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val history = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      // Rounds are INDEPENDENT given the one-pass shadow cache — each fit
      // reads its own round's columns and its own seed — but each RF
      // stats job only schedules ~fitParts tasks, far below session
      // parallelism on the sampled inputs this step targets. Overlapping
      // the fits from a small driver pool back-fills one round's stats-job
      // tail with the next round's tasks; importances are a pure function
      // of (data, seed, partition layout), which concurrency does not
      // touch, so hits/decisions/history are identical to the sequential
      // loop (StepsSpec pins the history values).
      allRounds.count() // fill the shadow cache once, not per concurrent first job
      def fitRound(round: Int): Map[String, Double] = {
        val keepCols = allRounds.columns
          .filterNot(_.startsWith("__sh_")).map(col) ++
          preds.map(p => col(s"__sh_${p}__r$round").as(s"__sh_$p"))
        val data = allRounds.select(keepCols.toSeq: _*)
        if (classif) {
          val m = new RandomForestClassifier()
            .setFeaturesCol("__features").setLabelCol("__label")
            .setNumTrees(trees).setMaxDepth(maxDepth).setMaxBins(maxBins)
            .setSeed(seed + round)
            .fit(ModelBased.assemble(indexer.get.transform(data), allFeats))
          allFeats.zip(m.featureImportances.toArray).toMap
        } else {
          val m = new RandomForestRegressor()
            .setFeaturesCol("__features").setLabelCol(outcome)
            .setNumTrees(trees).setMaxDepth(maxDepth).setMaxBins(maxBins)
            .setSeed(seed + round)
            .fit(ModelBased.assemble(data, allFeats))
          allFeats.zip(m.featureImportances.toArray).toMap
        }
      }
      val roundImps = graft.runtime.DriverPool.boundedParallel(1 to maxRuns, 6)(fitRound)
      for (imps <- roundImps) {
        val shadowImps = preds.map(p => imps(s"__sh_$p"))
        val shadowMax = shadowImps.max
        preds.foreach(p => if (imps(p) > shadowMax) hits(p) += 1)
        history += (preds.map(p => p -> imps(p)).toMap
          + ("shadowMin" -> shadowImps.min)
          + ("shadowMean" -> shadowImps.sum / shadowImps.length)
          + ("shadowMax" -> shadowMax))
      }
      val alpha = if (mcAdj) pValue / (2.0 * preds.length) else pValue
      val binom = new BinomialDistribution(maxRuns, 0.5)
      val decisions = preds.map { p =>
        val h = hits(p)
        val pAccept = 1.0 - (if (h == 0) 0.0 else binom.cumulativeProbability(h - 1))
        val pReject = binom.cumulativeProbability(h)
        val d =
          if (pAccept < alpha) "Confirmed"
          else if (pReject < alpha) "Rejected"
          else "Tentative"
        p -> (h, d)
      }
      val excluded = decisions.collect { case (p, (_, "Rejected")) => p }
      val scores = decisions.map { case (p, (h, _)) => p -> Some(h.toDouble) }
      val result = BorutaResult(
        FittedSelector(name, outcome, scores, excluded,
          decisions.collect { case (p, (_, "Tentative")) => s"$p left Tentative" }),
        decisions.map { case (p, (_, d)) => p -> d }.toMap,
        history.toSeq)
      if (roughFix) result.roughFix else result
    } finally { allRounds.unpersist(); base.unpersist() }
  }
}

/** step_select_vip (step_select_vip.R:111–154): generic model-based scoring
  * — fit ANY user-supplied model and extract importances, optionally
  * min-max rescaled 0–100 like pull_importances does for tree engines. */
final case class VipStep(
    importanceFn: (DataFrame, String, Seq[String]) => Map[String, Double],
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    scale: Boolean = true
) extends FilterStep {
  val name = "step_select_vip"
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds = StepCommon.resolvePredictors(df, outcome, predictors)
    val raw0 = importanceFn(df, outcome, preds)
    val raw = if (scale) DualFilter.rescale(raw0) else raw0
    preds.map(p => p -> raw.get(p))
  }
}
