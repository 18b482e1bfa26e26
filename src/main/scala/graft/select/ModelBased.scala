package graft.select

import org.apache.spark.ml.classification.{DecisionTreeClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{DecisionTreeRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.stats.Anova

/** Model-based selection steps backed by Spark MLlib estimators — the
  * reference's parsnip-backed steps re-expressed on the cluster-native ML
  * stack. The `pull_importances` S3 generic (pull_importances.R:52–54, 16
  * engine methods) maps to the [[ImportanceExtractor]] typeclass.
  */
trait ImportanceExtractor[M] {
  def importances(model: M, featureNames: Seq[String]): Map[String, Double]
}

object ImportanceExtractor {
  implicit val linear: ImportanceExtractor[org.apache.spark.ml.regression.LinearRegressionModel] =
    (m, names) => names.zip(m.coefficients.toArray).toMap
  implicit val logistic: ImportanceExtractor[org.apache.spark.ml.classification.LogisticRegressionModel] =
    (m, names) => names.zip(m.coefficients.toArray).toMap
  implicit val dtC: ImportanceExtractor[org.apache.spark.ml.classification.DecisionTreeClassificationModel] =
    (m, names) => names.zip(m.featureImportances.toArray).toMap
  implicit val dtR: ImportanceExtractor[org.apache.spark.ml.regression.DecisionTreeRegressionModel] =
    (m, names) => names.zip(m.featureImportances.toArray).toMap
  implicit val rfC: ImportanceExtractor[org.apache.spark.ml.classification.RandomForestClassificationModel] =
    (m, names) => names.zip(m.featureImportances.toArray).toMap
  implicit val rfR: ImportanceExtractor[org.apache.spark.ml.regression.RandomForestRegressionModel] =
    (m, names) => names.zip(m.featureImportances.toArray).toMap
  // gradient-boosted trees — the xgboost analogue of pull_importances'
  // xgb.Booster method (pull_importances.R:71–333)
  implicit val gbtC: ImportanceExtractor[org.apache.spark.ml.classification.GBTClassificationModel] =
    (m, names) => names.zip(m.featureImportances.toArray).toMap
  implicit val gbtR: ImportanceExtractor[org.apache.spark.ml.regression.GBTRegressionModel] =
    (m, names) => names.zip(m.featureImportances.toArray).toMap
  // multilayer perceptron has no native importances; naive-bayes exposes
  // per-class log-likelihood ratios — summed absolute theta contrast
  implicit val nb: ImportanceExtractor[org.apache.spark.ml.classification.NaiveBayesModel] =
    (m, names) => {
      val theta = m.theta // numClasses x numFeatures, log p(f|c)
      names.zipWithIndex.map { case (f, j) =>
        val col = (0 until theta.numRows).map(i => theta(i, j))
        f -> (col.max - col.min) // spread of log-likelihood across classes
      }.toMap
    }
  // coefficient-bearing models: |coef| convention as pull_importances does
  // for glm/lm engines (pull_importances.R rescales abs(coefficients)) — a
  // signed coefficient through a maximize=true rescale would invert the
  // ranking for strongly negative-weighted features
  implicit val svc: ImportanceExtractor[org.apache.spark.ml.classification.LinearSVCModel] =
    (m, names) => names.zip(m.coefficients.toArray.map(math.abs)).toMap
  implicit val glr: ImportanceExtractor[org.apache.spark.ml.regression.GeneralizedLinearRegressionModel] =
    (m, names) => names.zip(m.coefficients.toArray.map(math.abs)).toMap
  implicit val aft: ImportanceExtractor[org.apache.spark.ml.regression.AFTSurvivalRegressionModel] =
    (m, names) => names.zip(m.coefficients.toArray.map(math.abs)).toMap
  implicit val fmC: ImportanceExtractor[org.apache.spark.ml.classification.FMClassificationModel] =
    (m, names) => names.zip(m.linear.toArray.map(math.abs)).toMap
  implicit val fmR: ImportanceExtractor[org.apache.spark.ml.regression.FMRegressionModel] =
    (m, names) => names.zip(m.linear.toArray.map(math.abs)).toMap

  /** pull_importances.default analogue (pull_importances.R:62–68): probe the
    * common importance slots reflectively — `featureImportances` (tree
    * ensembles) first, then `coefficients` (linear family) — so ANY fitted
    * MLlib model works without a dedicated instance; unknown shapes abort
    * with the reference's message. */
  def generic(model: Any, names: Seq[String]): Map[String, Double] = {
    def slot(m: String): Option[Array[Double]] =
      scala.util.Try(model.getClass.getMethod(m).invoke(model)).toOption.collect {
        case v: org.apache.spark.ml.linalg.Vector => v.toArray
      }
    slot("featureImportances").orElse(slot("coefficients"))
      .map(arr => names.zip(arr).toMap)
      .getOrElse(throw new IllegalArgumentException(
        "No method for pulling feature importances is defined for " +
          model.getClass.getSimpleName))
  }
}

object ModelBased {
  private[select] def assemble(df: DataFrame, predictors: Seq[String]): DataFrame =
    new VectorAssembler()
      .setInputCols(predictors.toArray)
      .setOutputCol("__features")
      .setHandleInvalid("skip")
      .transform(df)

  private[select] def indexLabel(df: DataFrame, outcome: String): (DataFrame, Int) = {
    val idx = labelIndexer(df, outcome)
    (idx.transform(df), idx.labelsArray.head.length)
  }

  /** Fit the label indexer ONCE (on the full data) so train/holdout splits
    * share a single label→index mapping — refitting on a subset whose class
    * set differs would silently shift indices. */
  private[select] def labelIndexer(df: DataFrame, outcome: String): org.apache.spark.ml.feature.StringIndexerModel =
    new StringIndexer()
      .setInputCol(outcome).setOutputCol("__label")
      .setStringOrderType("alphabetAsc")
      .fit(df)
}

/** step_select_linear (step_select_linear.R:119–195): |coefficients| of one
  * linear (numeric y) or binary-logistic (factor y; multiclass aborts) fit
  * on all predictors; penalty/mixture map to regParam/elasticNetParam.
  * Coefficients are scale-dependent — normalize upstream, as the reference
  * tests do (test_step_select_linear.R:13). */
final case class LinearStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    penalty: Double = 0.0,
    mixture: Double = 0.0
) extends FilterStep {
  val name = "step_select_linear"
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.numericPredictors(df, preds0)
    // complete cases, like R's na.omit (VectorAssembler's skip only covers
    // invalid FEATURES — a null label would fail the MLlib fit).
    // fanOut was tried here and REVERTED: MLlib's fit + model summary are
    // SEPARATE actions with no cross-action exchange reuse, so each one
    // re-executed the repartition's under-split map side (three 0.5-0.8 s
    // 3-task sort stages replaced two 0.4 s 3-task aggregates —
    // q_linear 1.2 -> 2.4 s).
    val dfc = df.na.drop(preds :+ outcome)
    val coefs: Map[String, Double] =
      if (StepCommon.isClassification(df, outcome)) {
        val (indexed, nClasses) = ModelBased.indexLabel(dfc, outcome)
        if (nClasses == 0) throw StepCommon.noCompleteRows(name, df, outcome, preds)
        if (nClasses != 2)
          throw new IllegalArgumentException(s"$name: can only be used for binary " +
            s"classification problems, found $nClasses outcome classes")
        val data = ModelBased.assemble(indexed, preds)
        val m = new LogisticRegression()
          .setFeaturesCol("__features").setLabelCol("__label")
          .setRegParam(penalty).setElasticNetParam(mixture)
          .fit(data)
        ImportanceExtractor.logistic.importances(m, preds)
      } else {
        val data = ModelBased.assemble(dfc, preds)
        val m = new LinearRegression()
          .setFeaturesCol("__features").setLabelCol(outcome)
          .setRegParam(penalty).setElasticNetParam(mixture)
          .fit(data)
        ImportanceExtractor.linear.importances(m, preds)
      }
    // abs(coef); NA/NaN coefficients are force-excluded (:172–173)
    preds.map(p => p -> coefs.get(p).map(math.abs))
  }
}

/** step_select_tree (step_select_tree.R:120–182): single decision-tree
  * importances rescaled 0–100 (pull_importances.R:323–333). MLlib CART
  * importances differ numerically from rpart's surrogate-split ones —
  * ranking-level parity only (SURVEY §2.2). */
final case class TreeStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    maxDepth: Int = 5,
    seed: Long = 42L,
    maxBins: Int = 32 // split-candidate bins; fewer = faster stats passes
) extends FilterStep {
  val name = "step_select_tree"
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.numericPredictors(df, preds0)
    val dfc = df.na.drop(preds :+ outcome) // complete cases (null label fails the fit)
    val imps: Map[String, Double] =
      if (StepCommon.isClassification(df, outcome)) {
        val (indexed, _) = ModelBased.indexLabel(dfc, outcome)
        val m = new DecisionTreeClassifier()
          .setFeaturesCol("__features").setLabelCol("__label")
          .setMaxDepth(maxDepth).setMaxBins(maxBins).setSeed(seed)
          .fit(ModelBased.assemble(indexed, preds))
        ImportanceExtractor.dtC.importances(m, preds)
      } else {
        val m = new DecisionTreeRegressor()
          .setFeaturesCol("__features").setLabelCol(outcome)
          .setMaxDepth(maxDepth).setMaxBins(maxBins).setSeed(seed)
          .fit(ModelBased.assemble(dfc, preds))
        ImportanceExtractor.dtR.importances(m, preds)
      }
    val rescaled = DualFilter.rescale(imps)
    preds.map(p => p -> rescaled.get(p))
  }
}

/** step_select_forests (step_select_forests.R:130–197): random-forest
  * importances rescaled 0–100. `importance = "permutation"` (the
  * reference's ranger default, :52) measures each feature by the drop in
  * holdout accuracy/R² when that column is permuted (deterministic seeded
  * hash permutation); `"impurity"` uses MLlib's Gini/variance importances.
  * RNG-bound either way ⇒ ranking-level cross-library parity (SURVEY §2.2).
  */
final case class ForestStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None,
    trees: Int = 100,
    maxDepth: Int = 5,
    seed: Long = 42L,
    importance: String = "permutation",
    maxBins: Int = 32, // RF split-candidate bins; fewer = faster stats passes
    subsample: Double = 1.0 // per-tree subsampling rate (ranger's sample.fraction)
) extends FilterStep {
  val name = "step_select_forests"

  import org.apache.spark.sql.expressions.Window

  /** Permute one column deterministically AND scalably: rows are split into
    * seeded hash buckets, and values are reassigned WITHIN each bucket by two
    * different seeded hash orders. The bucket/order hashes mix ALL columns
    * (including the label and the permuted feature) — full rows keep the
    * hashes collision-free so the windows stay deterministic; because
    * xxhash64 output is statistically independent of its input structure,
    * the resulting within-bucket reassignment is indistinguishable from an
    * unconditional uniform permutation for importance purposes.
    * Embarrassingly parallel: every window carries a partitionBy, no global
    * single-partition sort, bucket count grows with n (~4k rows/bucket). */
  private def permuteColumn(df: DataFrame, c: String, seed: Long, buckets: Long): DataFrame = {
    val others = df.columns.filterNot(_ == c)
    val allCols = struct(df.columns.map(col): _*)
    val base = df.withColumn("__bkt", pmod(xxhash64(allCols, lit(seed)), lit(buckets)))
    val wA = Window.partitionBy("__bkt").orderBy(xxhash64(allCols, lit(seed + 1)))
    val wB = Window.partitionBy("__bkt").orderBy(xxhash64(allCols, lit(seed + 2)))
    val pos = base.withColumn("__pos", row_number().over(wA))
    val shuffled = base
      .withColumn("__pos", row_number().over(wB))
      .select(col("__bkt"), col("__pos"), col(c).as("__pv"))
    pos.select((others :+ "__bkt" :+ "__pos").map(col): _*)
      .join(shuffled, Seq("__bkt", "__pos"))
      .select(others.map(col) :+ col("__pv").as(c): _*)
  }

  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.numericPredictors(df, preds0)
    val classif = StepCommon.isClassification(df, outcome)
    val dfc = df.na.drop(preds :+ outcome) // complete cases (null label fails the fit)
    val classifier = new RandomForestClassifier()
      .setFeaturesCol("__features").setLabelCol("__label")
      .setNumTrees(trees).setMaxDepth(maxDepth).setMaxBins(maxBins)
      .setSubsamplingRate(subsample).setSeed(seed)
    val regressor = new RandomForestRegressor()
      .setFeaturesCol("__features").setLabelCol(outcome)
      .setNumTrees(trees).setMaxDepth(maxDepth).setMaxBins(maxBins)
      .setSubsamplingRate(subsample).setSeed(seed)
    val imps: Map[String, Double] =
      if (importance == "permutation") {
        // deterministic train/holdout split by row hash
        val tagged = dfc.withColumn("__h",
          pmod(xxhash64(struct(dfc.columns.map(col): _*), lit(seed)), lit(4L)))
        val train = tagged.where(col("__h") =!= 0).drop("__h").cache()
        val hold = tagged.where(col("__h") === 0).drop("__h").cache()
        try {
          // ~4k rows per permutation bucket; grows with |holdout|
          val permBuckets = math.max(1L, hold.count() / 4096L)
          if (classif) {
            // label mapping fit ONCE on the full data: a holdout missing an
            // alphabetically-early class must not shift indices
            val indexer = ModelBased.labelIndexer(dfc, outcome)
            val m = classifier.fit(ModelBased.assemble(indexer.transform(train), preds))
            def acc(d: DataFrame): Double = {
              val scored = m.transform(ModelBased.assemble(indexer.transform(d), preds))
              scored.select(avg((col("prediction") === col("__label")).cast("double")))
                .head().getDouble(0)
            }
            val base = acc(hold)
            preds.map(p => p -> (base - acc(permuteColumn(hold, p, seed, permBuckets)))).toMap
          } else {
            val m = regressor.fit(ModelBased.assemble(train, preds))
            def mse(d: DataFrame): Double = {
              val scored = m.transform(ModelBased.assemble(d, preds))
              scored.select(avg(pow(col("prediction") - col(outcome), 2))).head().getDouble(0)
            }
            val base = mse(hold)
            preds.map(p => p -> (mse(permuteColumn(hold, p, seed, permBuckets)) - base)).toMap
          }
        } finally { train.unpersist(); hold.unpersist() }
      } else if (classif) {
        val (indexed, _) = ModelBased.indexLabel(dfc, outcome)
        ImportanceExtractor.rfC.importances(classifier.fit(ModelBased.assemble(indexed, preds)), preds)
      } else {
        ImportanceExtractor.rfR.importances(regressor.fit(ModelBased.assemble(dfc, preds)), preds)
      }
    val rescaled = DualFilter.rescale(imps)
    preds.map(p => p -> rescaled.get(p))
  }
}

/** step_select_aov (step_select_aov.R:119–170): sequential Type-I F-test
  * p-values over nominal predictors, score = −log10(p), cutoff in −log10
  * units. Order of `predictors` matters — same as the R formula order. */
final case class AovStep(
    topP: Option[Double] = None,
    threshold: Option[Double] = None,
    cutoff: Option[Double] = None
) extends FilterStep {
  val name = "step_select_aov"
  protected def score(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[(String, Option[Double])] = {
    val preds0 = StepCommon.resolvePredictors(df, outcome, predictors)
    val preds = StepCommon.categoricalPredictors(df, preds0)
    require(!StepCommon.isClassification(df, outcome), s"$name requires a numeric outcome")
    val raw = Anova.scores(df, outcome, preds)
    preds.map(p => p -> raw.get(p))
  }
}
