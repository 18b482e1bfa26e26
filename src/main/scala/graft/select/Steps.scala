package graft.select

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Melt
import graft.stats.{Auc, Binning, ChiSq, Correlation, Entropy}

/** Supervised filter-selection steps — the reference's 13 `step_select_*`
  * surfaces re-expressed as fit/transform over DataFrames.
  *
  * Lifecycle mirrors recipes' prep/bake split (/root/reference/R/
  * step_select_infgain.R:122–188): `fit` resolves columns, computes
  * per-feature scores distributedly, collects the O(p) score map, applies
  * [[DualFilter.dualFilter]] on the driver, and returns an immutable
  * [[FittedSelector]]; `transform` is a pure projection (`df.drop`), which
  * Catalyst folds into downstream column pruning.
  */
/** Column-role metadata — the recipes `info` analogue (SURVEY §1.4): an
  * outcome may be named explicitly or resolved from roles. */
final case class FeatureSpec(
    outcome: Option[String] = None,
    predictors: Seq[String] = Nil,
    roles: Map[String, String] = Map.empty
)

object StepCommon {
  /** classification iff the outcome is string/boolean (factor analogue,
    * misc.R:136–138); numeric ⇒ regression. */
  def isClassification(df: DataFrame, outcome: String): Boolean =
    df.schema(outcome).dataType match {
      case StringType | BooleanType => true
      case _                        => false
    }

  def resolvePredictors(df: DataFrame, outcome: String, requested: Seq[String]): Seq[String] = {
    require(df.columns.contains(outcome), s"Outcome variable '$outcome' not found")
    if (requested.nonEmpty) requested
    else df.columns.filterNot(_ == outcome).toSeq
  }

  /** get_outcome (misc.R:140–176): resolve the outcome by explicit name or
    * by role, with the reference's error contracts — multiple outcome roles
    * abort, zero abort, missing column aborts with the same messages. */
  def resolveOutcome(df: DataFrame, spec: FeatureSpec): String = {
    val outcomeCol = spec.outcome match {
      case Some(name) => Seq(name)
      case None       => spec.roles.collect { case (c, "outcome") => c }.toSeq
    }
    if (outcomeCol.length > 1)
      throw new IllegalArgumentException(
        "Multiple outcome variables are present in the recipe. " +
          "Only a single outcome variable can be accepted by any `step_select` functions. " +
          "Please supply the outcome variable using the `outcome` argument")
    if (outcomeCol.isEmpty)
      throw new IllegalArgumentException(
        "An outcome variable was not found. Please ensure an outcome variable is specified.")
    if (!df.columns.contains(outcomeCol.head))
      throw new IllegalArgumentException(s"Outcome variable '${outcomeCol.head}' not found")
    outcomeCol.head
  }

  /** The error for a fit of `step` with no row complete across
    * `predictors` and `outcome`, naming the cause. Runs one aggregation, on
    * this failing path only. */
  def noCompleteRows(step: String, df: DataFrame, outcome: String,
      predictors: Seq[String]): IllegalArgumentException = {
    val cols = predictors :+ outcome
    val r = df.agg(count(lit(1)), cols.map(c => count(col(c))): _*).head()
    val allNull = cols.indices.filter(i => r.getLong(i + 1) == 0).map(cols)
    val cause =
      if (r.getLong(0) == 0) "the frame is empty"
      else if (allNull.nonEmpty) s"all-NULL columns: ${allNull.mkString(", ")}"
      else "no row has the outcome and every predictor non-NULL"
    new IllegalArgumentException(s"$step: no complete rows to fit ($cause)")
  }

  def numericPredictors(df: DataFrame, preds: Seq[String]): Seq[String] =
    preds.filter(p => df.schema(p).dataType.isInstanceOf[NumericType])

  def categoricalPredictors(df: DataFrame, preds: Seq[String]): Seq[String] =
    preds.filter { p =>
      df.schema(p).dataType match {
        case StringType | BooleanType => true
        case _                        => false
      }
    }

  /** Discretize for the entropy-family steps, mirroring FSelectorRcpp's
    * information_gain (step_select_infgain.R:138–149):
    *  - CLASSIFICATION (`equal = FALSE`): numeric predictors discretized by
    *    Fayyad–Irani MDL ([[graft.stats.MdlBinning]]) when
    *    `mdlForClassif`, else equal-frequency; categorical outcome passed
    *    through.
    *  - REGRESSION (`equal = TRUE`): numeric outcome AND predictors
    *    equal-frequency binned into nbins (README.md:27–35).
    * Returns the wide form: every predictor as a string bin column, plus the
    * binned outcome as `__y`. */
  def binnedWide(
      df: DataFrame,
      outcome: String,
      preds: Seq[String],
      nbins: Int,
      mdlForClassif: Boolean = false
  ): DataFrame = {
    val numeric = numericPredictors(df, preds)
    val classif = isClassification(df, outcome)
    val cuts: Map[String, Array[Double]] =
      if (classif && mdlForClassif) {
        graft.stats.MdlBinning
          .mdlCuts(df, numeric, outcome)
          .map { case (k, v) => k -> v.toArray }
          .withDefaultValue(Array.empty[Double]) // all-null feature: single bin
      } else {
        val toCut = if (classif) numeric else numeric :+ outcome
        if (toCut.nonEmpty) Binning.exactCuts(df, toCut.distinct, nbins)
        else Map.empty[String, Array[Double]]
      }
    val binnedCols = preds.map { p =>
      if (numeric.contains(p)) Binning.binByCuts(col(p), cuts(p)).cast("string").as(p)
      else col(p).cast("string").as(p)
    }
    val yCol =
      if (classif) col(outcome).cast("string").as("__y")
      else Binning.binByCuts(col(outcome), cuts(outcome)).cast("string").as("__y")
    df.select(binnedCols :+ yCol: _*)
  }
}

/** Trained state: scores + the columns to drop. Serializable to JSON by
  * [[graft.runtime.Checkpoints]]. */
final case class FittedSelector(
    step: String,
    outcome: String,
    scores: Seq[(String, Option[Double])],
    excluded: Seq[String],
    warnings: Seq[String] = Nil
) {
  /** bake: pure anti-projection (step_select_infgain.R:183–188). */
  def transform(df: DataFrame): DataFrame = df.drop(excluded: _*)

  def kept(allCols: Seq[String]): Seq[String] = allCols.filterNot(excluded.contains)

  /** tidy(type = "scores"): scores sorted descending (tidy_filter_step.R:7). */
  def scoresDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    scores
      .map { case (f, s) => (f, s.map(Double.box).orNull.asInstanceOf[java.lang.Double]) }
      .toDF("variable", "score")
      .orderBy(desc_nulls_last("score"))
  }

  /** tidy(type = "terms"): the excluded names (tidy_filter_step.R:4–6). */
  def termsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    excluded.toDF("terms")
  }

  /** One-line console summary — the trained form of the reference's
    * print.step_select_* methods (NAMESPACE print registrations; e.g.
    * print.step_select_infgain, step_select_infgain.R:191–203 emits
    * "Information Gain feature selection (n excluded)"). A FittedSelector is
    * by construction trained, so the exclusion count always prints. FCBF
    * prints retained/removed term lists instead
    * (print.step_select_fcbf, step_select_fcbf.R:220–236). */
  def summary: String = step match {
    case "step_select_fcbf" =>
      val retained = scores.map(_._1).filterNot(excluded.contains)
      s"FCBF retained : ${retained.mkString(", ")}\n" +
        s"FCBF removed: ${excluded.mkString(", ")}"
    case other =>
      val label = FittedSelector.printLabels.getOrElse(other, other)
      s"$label feature selection (${excluded.length} excluded)"
  }
}

object FittedSelector {
  /** The verbatim print labels of the reference's step classes (each
    * print.step_select_* method's cat() title). Model-importance steps all
    * share one label (step_select_linear.R:210, _tree.R:197, _forests.R:212,
    * _vip.R:167); the corr steps are the reference's carscore
    * (diagonal path), so they print its label. */
  private[select] val printLabels: Map[String, String] = Map(
    "step_select_infgain" -> "Information Gain",
    "step_select_mrmr" -> "mRMR",
    "step_select_roc" -> "ROC curve",
    "step_select_xtab" -> "Association test",
    "step_select_aov" -> "ANOVA F-test",
    "step_select_boruta" -> "Boruta",
    "step_select_relief" -> "Relief",
    "step_select_linear" -> "Variable importance",
    "step_select_tree" -> "Variable importance",
    "step_select_forests" -> "Variable importance",
    "step_select_vip" -> "Variable importance",
    "step_select_carscore" -> "Carscore",
    "step_select_corr_pearson" -> "Carscore",
    "step_select_corr_spearman" -> "Carscore")
}

/** Tuning-parameter metadata — the reference's `tunable()` surface
  * (/root/reference/R/parameters.R:19–82): top_p is an integer param whose
  * default range [1, 4] is finalized by the number of predictors; threshold
  * on (0,1); cutoff has an unknown (data-dependent) range; infogain's
  * entropy type ranges over the three variants. */
final case class TunableParam(name: String, ptype: String, range: String)

trait SelectorStep extends Serializable {
  def name: String
  def fit(df: DataFrame, outcome: String, predictors: Seq[String] = Nil): FittedSelector

  /** tunable(): parameter metadata (parameters.R parity). */
  def tunable: Seq[TunableParam] = Seq(
    TunableParam("top_p", "integer", "[1, 4] (finalized by #predictors)"),
    TunableParam("threshold", "double", "(0, 1)"),
    TunableParam("cutoff", "double", "unknown (score-scale dependent)"))
}

/** The prep lifecycle of every step that ends in dual_filter
  * (step_select_infgain.R:124–179): validate the criteria BEFORE any
  * scoring (check_criteria, check_zero_one), score, treat NaN as NA, clamp
  * top_p against the feature count, apply [[DualFilter.dualFilter]] and wrap
  * the result. A step implements only [[score]]. Note the reference quirk:
  * check_criteria runs unconditionally, so cutoff-only steps abort too —
  * dual_filter itself supports cutoff-only but no step can reach it. */
trait FilterStep extends SelectorStep {
  def topP: Option[Double]
  def threshold: Option[Double]
  def cutoff: Option[Double]

  /** dual_filter's direction: larger scores are better. */
  protected def maximize: Boolean = true

  /** Per-feature scores in the step's own order (stored as-is on the
    * fitted step); None or NaN is NA, which dual_filter always excludes. */
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])]

  final def fit(df: DataFrame, outcome: String, predictors: Seq[String]): FittedSelector = {
    DualFilter.checkCriteria(topP, threshold, name)
    DualFilter.checkZeroOne(threshold)
    val scores = score(df, outcome, predictors).map { case (f, s) => f -> s.filterNot(_.isNaN) }
    val (clamped, warn) = DualFilter.checkTopP(topP, scores.length)
    val excluded = DualFilter.dualFilter(scores, clamped, threshold, cutoff, maximize)
    FittedSelector(name, outcome, scores, excluded, warn.toSeq)
  }
}

/** step_select_infgain (type ∈ infogain|gainratio|symuncert, nbins).
  * `binning = "mdl"` (default) applies Fayyad–Irani MDL discretization to
  * numeric predictors in classification mode — FSelectorRcpp's behavior
  * when `equal = FALSE`; `"equalfreq"` forces equal-frequency everywhere. */
final case class InfoGainStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    kind: Entropy.Kind = Entropy.InfoGain,
    nbins: Int = 5,
    binning: String = "mdl"
) extends FilterStep {
  val name = "step_select_infgain"
  override def tunable: Seq[TunableParam] = super.tunable :+
    TunableParam("type", "enum", "infogain | gainratio | symuncert") // parameters.R:75–82
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds = StepCommon.resolvePredictors(df, outcome, predictors)
    val binned = StepCommon.binnedWide(df, outcome, preds, nbins, mdlForClassif = binning == "mdl")
    val long = Melt.categorical(binned, preds, keep = Seq("__y"))
      .select(col("feature"), col("value").as("xb"), col("__y").as("yb"))
    val got = Entropy.scores(long, kind).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    preds.map(p => p -> got.get(p))
  }
}

/** step_select_mrmr — praznik::MRMR greedy maximum-relevance
  * minimum-redundancy (step_select_mrmr.R:103–153): iteratively pick
  * argmax_X [ I(X;Y) − mean_{s∈S} I(X;X_s) ]; the stored score is the
  * criterion value at selection; k = all features ⇒ full ranking.
  *
  * Scale shape: ONE distributed pass computes I(Xᵢ;Y) for all i AND the
  * full pairwise redundancy matrix I(Xᵢ;Xⱼ) (batched explode over the
  * binned table; the shuffle carries ≤ p²·nbins² count rows); the
  * greedy replay itself is driver arithmetic — no per-round Spark jobs.
  */
final case class MrmrStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    nbins: Int = 5
) extends FilterStep {
  val name = "step_select_mrmr"
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds = StepCommon.resolvePredictors(df, outcome, predictors)
    // A/B-measured round 6 and left PLAIN: both fanOut(binned) (the prior
    // shape) and a cached fanned projection shared by exactCuts' three
    // jobs regressed q_mrmr here (2.2 -> 2.6-2.8 s) — the pairwise
    // explode's map-side combine is cheap enough per row that the extra
    // exchange (and the cache fill + in-memory rescans) cost more than
    // the under-split scans they replace.
    val binned = StepCommon.binnedWide(df, outcome, preds, nbins)
    // cache only when the batched pairwise pass will rescan (more than one
    // pair chunk) — with one chunk the single scan makes materialization a
    // net loss
    val wantCache = !Entropy.fitsOneChunk(preds.size + 1)
    if (wantCache) binned.cache()
    try {
      // ONE batched job computes every pair statistic the greedy loop can
      // touch — relevance I(Xᵢ;Y) plus the full redundancy matrix I(Xᵢ;Xⱼ),
      // which a full-ranking mRMR needs in its entirety anyway. The loop
      // below is then pure driver arithmetic over p² doubles.
      val pairStats = Entropy.pairwiseScoresAll(binned, preds :+ "__y", Entropy.InfoGain)
      def pairMi(a: String, b: String): Option[Double] =
        pairStats.get((a, b)).orElse(pairStats.get((b, a)))
      val relevance = preds.flatMap(p => pairStats.get((p, "__y")).map(p -> _)).toMap
      val scores = scala.collection.mutable.ListBuffer.empty[(String, Option[Double])]
      var selected = List.empty[String]
      var remaining = preds.filter(p => relevance.get(p).exists(v => !v.isNaN))
      val redundancySum = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      while (remaining.nonEmpty) {
        val crit = remaining.map { p =>
          val red = if (selected.isEmpty) 0.0 else redundancySum(p) / selected.length
          p -> (relevance(p) - red)
        }
        val (best, bestScore) = crit.maxBy(_._2) // stable: first max wins
        scores += (best -> Some(bestScore))
        selected = best :: selected
        remaining = remaining.filterNot(_ == best)
        remaining.foreach { p =>
          pairMi(best, p).filterNot(_.isNaN).foreach(v => redundancySum(p) += v)
        }
      }
      scores.toList ++ preds.filterNot(p => scores.exists(_._1 == p)).map(_ -> None)
    } finally if (wantCache) binned.unpersist()
  }
}

/** step_select_xtab — χ²/Fisher p-values + optional BH FDR; small p = good
  * ⇒ dual_filter(maximize = FALSE) (step_select_xtab.R:93–149). A predictor
  * with no test (all NULL, or a single level) scores NA and is excluded —
  * colino's errors → NA rule; BH's n counts only the non-NA p-values, as
  * R's `p.adjust` does. */
final case class XtabStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    fisher: Boolean = false,
    fdr: Boolean = true
) extends FilterStep {
  val name = "step_select_xtab"
  override protected def maximize = false
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.categoricalPredictors(df, preds0)
    require(preds.nonEmpty, "step_select_xtab requires nominal predictors")
    val long = Melt
      .categorical(df, preds, keep = Seq(outcome))
      .select(col("feature"), col("value").as("xb"), col(outcome).cast("string").as("yb"))
    // the melt drops NULL cells, so an all-NULL predictor never reaches
    // xtabScores: score every requested predictor, absent ones as NA
    val got = ChiSq.xtabScores(long, fisher, fdr).toMap
    preds.map(p => p -> got.get(p).flatten)
  }
}

/** step_select_carscore diagonal=TRUE path and the Spearman variant:
  * abs marginal correlation per numeric predictor vs numeric outcome
  * (step_select_carscore.R:13–14, 133–147). */
final case class CorrStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    method: String = "pearson", // pearson | spearman | car
    // shrinkage intensity: ρ' = (1−λ)ρ (care::carscore lambda,
    // step_select_carscore.R:128–131 — passed to care only when set). None
    // mirrors the reference's `lambda = NA` default: for method="car" the
    // intensity is ESTIMATED from the data (care's James–Stein default via
    // Correlation.estimateLambda); pearson/spearman marginal scores stay
    // unshrunk unless a lambda is pinned (shrinking a marginal-only score is
    // a monotone rescale that cannot change the selection).
    lambda: Option[Double] = None
) extends FilterStep {
  val name = s"step_select_corr_$method"
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.numericPredictors(df, preds0)
    require(!StepCommon.isClassification(df, outcome), s"$name requires a numeric outcome")
    require(lambda.forall(l => l >= 0 && l <= 1), "`lambda` must be on [0, 1]")
    val shrink: Option[Double] => Option[Double] = _.map(_ * (1 - lambda.getOrElse(0.0)))
    val raw: Map[String, Option[Double]] = method match {
      case "pearson"  => Correlation.pearson(df, preds, outcome).map { case (k, v) => k -> shrink(v) }
      // a PINNED lambda shrinks spearman exactly like pearson — cutoff is in
      // absolute score units, so the two marginal methods must not diverge
      // under the same lambda+cutoff configuration
      case "spearman" => Correlation.spearman(df, preds, outcome).map { case (k, v) => k -> shrink(v) }
      case "car"      => Correlation.carScores(df, preds, outcome, lambda).map { case (k, v) => k -> Some(v) }
      case other      => throw new IllegalArgumentException(s"unknown method $other")
    }
    preds.map(p => p -> raw.getOrElse(p, None).map(math.abs))
  }
}

/** step_select_roc — per-feature ROC AUC vs categorical outcome
  * (step_select_roc.R:87–146). */
final case class RocStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None
) extends FilterStep {
  val name = "step_select_roc"
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.numericPredictors(df, preds0)
    require(StepCommon.isClassification(df, outcome), s"$name requires a categorical outcome")
    val long = Melt
      .numeric(df, preds, keep = Seq(outcome))
      .select(col("feature"), col("value"), col(outcome).cast("string").as("y"))
    val pairs = Auc.classPairs(df.select(col(outcome).cast("string")))
    val h = new graft.runtime.CacheHandle
    val got =
      try Auc.scores(long, pairs, h).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      finally h.release()
    preds.map(p => p -> got.get(p))
  }
}

/** step_select_fcbf — Fast Correlation-Based Filter (Yu & Liu 2003;
  * step_select_fcbf.R:144–205): quantile-split numeric features at
  * `cutpoint` (default 0.5 = median; step_select_fcbf.R:76, threaded to
  * discretize_var's `stats::quantile(x, cutpoint)` :256–270), keep those
  * with SU(X;Y) >= threshold, then greedily remove features redundant to a
  * better-ranked one (SU(X_i;X_j) >= SU(X_j;Y)). Threshold-only — no
  * dual_filter. A cutpoint outside (0, 1) — or NaN — aborts with the
  * reference's message (step_select_fcbf.R:87–92). */
final case class FcbfStep(minimumSu: Double = 0.025, cutpoint: Double = 0.5) extends SelectorStep {
  require(!cutpoint.isNaN && cutpoint > 0 && cutpoint < 1,
    "`cutpoint` must be a number between 0-1")
  val name = "step_select_fcbf"
  def fit(df: DataFrame, outcome: String, predictors: Seq[String]): FittedSelector = {
    val preds = StepCommon.resolvePredictors(df, outcome, predictors)
    val numeric = StepCommon.numericPredictors(df, preds)
    // ONE fanned projection of the needed columns, cached: the type-7
    // quantile machinery runs three jobs (bracket sketch, fused counts,
    // in-bracket collect) and the split+cast pairwise pass is a fourth —
    // on an under-split input all of them otherwise run on the source's
    // split count (measured: 0.6-0.8 s 3-task stages at bench SF). fanOut
    // is the identity on well-split corpora; the cache is session-LRU
    // evictable and released in the finally below.
    val sel = graft.core.Partitions.fanOut(
      df.select((preds :+ outcome).distinct.map(col): _*)).cache()
    try {
    // type-7 cuts AND non-null counts of the numeric columns fall out of
    // one fused pass; only non-numeric predictors (if any) need a separate
    // tiny count aggregation for the all-NULL screen
    val cutsAndCounts = Binning.quantileType7WithCounts(sel, numeric, cutpoint)
    val nonNumeric = preds.filterNot(numeric.contains)
    val nonNumCounts: Map[String, Long] =
      if (nonNumeric.isEmpty) Map.empty
      else {
        val row = sel.select(nonNumeric.map(p => count(col(p)).as(p)): _*).head()
        nonNumeric.zipWithIndex.map { case (p, i) => p -> row.getLong(i) }.toMap
      }
    def nonNull(p: String): Long =
      cutsAndCounts.get(p).map(_._1).orElse(nonNumCounts.get(p)).getOrElse(0L)
    // all-NULL columns are dropped with a warning (step_select_fcbf.R:296–309)
    val allNull = preds.filter(nonNull(_) == 0L)
    val usable = preds.filterNot(allNull.contains)
    val warns = allNull.map(p => s"Column '$p' is all NULL and was removed before FCBF")
    val work = Binning.splitAtCuts(sel, numeric.map(c => c -> cutsAndCounts(c)._2))
      .select(usable.map(p => col(p).cast("string").as(p)) :+ col(outcome).cast("string").as("__y"): _*)
    // When every pair over usable + outcome fits one pair chunk, SU(Xᵢ;Y)
    // AND the complete redundancy matrix come from ONE batched job over
    // the uncached input (a single scan). Otherwise the input is cached,
    // SU(Xᵢ;Y) is one job, and the loop below computes redundancies per
    // wave, so at most O(keepers·p) pair stats are ever computed.
    val allPairs =
      if (Entropy.fitsOneChunk(usable.size + 1))
        Some(Entropy.pairwiseScoresAll(work, usable :+ "__y", Entropy.SymUncert))
      else { work.cache(); None }
    try {
      val su = allPairs match {
        case Some(m) => usable.flatMap(p => m.get((p, "__y")).map(p -> _)).toMap
        case None    => Entropy.scoresAgainst(work, "__y", usable, Entropy.SymUncert)
      }
      var ranked = usable
        .flatMap(p => su.get(p).filterNot(_.isNaN).filter(_ >= minimumSu).map(p -> _))
        .sortBy(-_._2)
        .toList
      var selected = List.empty[String]
      // Wave-batched redundancy elimination: the pairwise SU values are
      // selection-order-independent, so each wave takes SU(wᵢ, f) for the
      // next `wave` candidates wᵢ against everything ranked after them
      // (without all pairs: ONE batched job per wave), then replays the
      // exact sequential FCBF semantics driver-side (a wave member dropped
      // by an earlier one is skipped; its stats go unused). Job count is
      // ceil(#keepers/wave), not #keepers.
      val wave = 8
      while (ranked.nonEmpty) {
        val heads = ranked.take(wave).map(_._1)
        val red: ((String, String)) => Option[Double] = allPairs match {
          case Some(m) => k => m.get(k).orElse(m.get(k.swap))
          case None =>
            val pairs = for {
              (w, i) <- heads.zipWithIndex
              (f, _) <- ranked.drop(i + 1)
            } yield (f, w) // orientation (f, w): xb = candidate, yb = keeper —
                           // identical to scoresAgainst(work, keeper, rest, SymUncert)
            Entropy.pairwiseScores(work, pairs, Entropy.SymUncert).get
        }
        var cur = ranked
        while (cur.nonEmpty && heads.contains(cur.head._1)) {
          val (fp, _) = cur.head
          selected = fp :: selected
          cur = cur.tail.filterNot { case (fq, suQy) => red((fq, fp)).exists(_ >= suQy) }
        }
        ranked = cur
      }
      val keep = selected.toSet
      val scores = preds.map(p => p -> su.get(p).filterNot(_.isNaN))
      FittedSelector(name, outcome, scores, excluded = preds.filterNot(keep.contains), warns)
    } finally if (allPairs.isEmpty) work.unpersist()
    } finally sel.unpersist(blocking = false)
  }
}

/** Ordered list of steps with the recipes prep/bake split: each step fits on
  * the output of the previous step's transform (test_step_select_linear.R:10–18
  * composition style). */
final case class SelectorPipeline(steps: Seq[(SelectorStep, Seq[String])]) {
  def fit(df: DataFrame, outcome: String): FittedPipeline =
    FittedPipeline(fold(df)((_, step, preds, cur) => step.fit(cur, outcome, preds)))

  /** The pipeline rule, kept once: step `i` is fitted by `fitStep(i, step,
    * preds, input)` on the previous fitted step's transform of the input. */
  def fold(df: DataFrame)(
      fitStep: (Int, SelectorStep, Seq[String], DataFrame) => FittedSelector): Seq[FittedSelector] = {
    var cur = df
    steps.zipWithIndex.map { case ((step, preds), i) =>
      val f = fitStep(i, step, preds, cur)
      cur = f.transform(cur)
      f
    }
  }
}

final case class FittedPipeline(steps: Seq[FittedSelector]) {
  def transform(df: DataFrame): DataFrame =
    steps.foldLeft(df)((d, s) => s.transform(d))
  def excluded: Seq[String] = steps.flatMap(_.excluded).distinct
}
