package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.select._
import Query.{liFeatures, t}

/** Selector-step queries over `lineitem`: one step's (or a pipeline's) fit each. */
object Select {
  /** tidy scores rounded to 6 dp: raw doubles carry last-bit FP differences
    * across parallelism levels (summation order), which would make the
    * dumped parquet non-deterministic between verify runs. */
  private def tidy6(f: FittedSelector, s: SparkSession): DataFrame =
    f.scoresDF(s).select(col("variable"), round(col("score"), 6).as("score"))

  val all: Seq[Query] = Seq(
    Query("q_mrmr", (s, dir) => tidy6(
      MrmrStep(topP = Some(2), nbins = 5)
        .fit(t(s, dir, "lineitem"), "l_returnflag", liFeatures), s), Some(
      // Full greedy mRMR replay: DuckDB's quantile_disc returns the same data
      // values as Spark's exact approxQuantile (verified bit-for-bit on these
      // columns), so the equal-frequency bins match; the pairwise-MI table
      // then drives the same argmax-by-(criterion, input-order) selection.
      // MATERIALIZED mi for the self-consistency reason documented on
      // q_select_pipeline.
      """WITH cuts AS MATERIALIZED (SELECT
        |  quantile_disc(l_quantity, [0.2, 0.4, 0.6, 0.8]) AS cq,
        |  quantile_disc(l_discount, [0.2, 0.4, 0.6, 0.8]) AS cd,
        |  quantile_disc(l_tax, [0.2, 0.4, 0.6, 0.8]) AS ct FROM lineitem),
        |b AS (SELECT
        |  CASE WHEN l_quantity <= cq[1] THEN 1 WHEN l_quantity <= cq[2] THEN 2
        |       WHEN l_quantity <= cq[3] THEN 3 WHEN l_quantity <= cq[4] THEN 4 ELSE 5 END AS f1,
        |  CASE WHEN l_discount <= cd[1] THEN 1 WHEN l_discount <= cd[2] THEN 2
        |       WHEN l_discount <= cd[3] THEN 3 WHEN l_discount <= cd[4] THEN 4 ELSE 5 END AS f2,
        |  CASE WHEN l_tax <= ct[1] THEN 1 WHEN l_tax <= ct[2] THEN 2
        |       WHEN l_tax <= ct[3] THEN 3 WHEN l_tax <= ct[4] THEN 4 ELSE 5 END AS f3,
        |  l_returnflag AS y
        | FROM lineitem CROSS JOIN cuts),
        |pairs AS (
        |  SELECT 'l_quantity|__y' AS pr, CAST(f1 AS VARCHAR) AS xa, y AS xb FROM b
        |  UNION ALL SELECT 'l_discount|__y', CAST(f2 AS VARCHAR), y FROM b
        |  UNION ALL SELECT 'l_tax|__y', CAST(f3 AS VARCHAR), y FROM b
        |  UNION ALL SELECT 'l_quantity|l_discount', CAST(f1 AS VARCHAR), CAST(f2 AS VARCHAR) FROM b
        |  UNION ALL SELECT 'l_quantity|l_tax', CAST(f1 AS VARCHAR), CAST(f3 AS VARCHAR) FROM b
        |  UNION ALL SELECT 'l_discount|l_tax', CAST(f2 AS VARCHAR), CAST(f3 AS VARCHAR) FROM b),
        |j AS (SELECT pr, xa, xb, CAST(count(*) AS DOUBLE) AS c FROM pairs GROUP BY 1, 2, 3),
        |tot AS (SELECT pr, sum(c) AS n FROM j GROUP BY 1),
        |hx AS (SELECT jx.pr, -sum(cx / n * ln(cx / n)) AS hx
        |       FROM (SELECT pr, xa, sum(c) AS cx FROM j GROUP BY 1, 2) jx
        |       JOIN tot USING (pr) GROUP BY 1),
        |hy AS (SELECT jy.pr, -sum(cy / n * ln(cy / n)) AS hy
        |       FROM (SELECT pr, xb, sum(c) AS cy FROM j GROUP BY 1, 2) jy
        |       JOIN tot USING (pr) GROUP BY 1),
        |hxy AS (SELECT j.pr, -sum(c / n * ln(c / n)) AS hxy
        |        FROM j JOIN tot USING (pr) GROUP BY 1),
        |miu AS (SELECT pr, hx + hy - hxy AS v
        |        FROM hx JOIN hy USING (pr) JOIN hxy USING (pr)),
        |mi AS MATERIALIZED (
        |  SELECT split_part(pr, '|', 1) AS a, split_part(pr, '|', 2) AS b2, v FROM miu
        |  UNION ALL
        |  SELECT split_part(pr, '|', 2), split_part(pr, '|', 1), v FROM miu
        |  WHERE split_part(pr, '|', 2) != '__y'),
        |ord AS (SELECT * FROM (VALUES ('l_quantity', 1), ('l_discount', 2), ('l_tax', 3)) o(f, idx)),
        |rel AS MATERIALIZED (SELECT a AS f, v AS rel FROM mi WHERE b2 = '__y'),
        |s1 AS MATERIALIZED (SELECT f, rel AS score FROM rel JOIN ord USING (f)
        |                    ORDER BY rel DESC, idx LIMIT 1),
        |s2 AS MATERIALIZED (
        |  SELECT rel.f, rel.rel - mi.v AS score FROM rel
        |  JOIN mi ON mi.a = rel.f AND mi.b2 = (SELECT f FROM s1)
        |  JOIN ord ON ord.f = rel.f
        |  WHERE rel.f != (SELECT f FROM s1)
        |  ORDER BY score DESC, idx LIMIT 1),
        |s3 AS (
        |  SELECT rel.f, rel.rel - (m1.v + m2.v) / 2 AS score FROM rel
        |  JOIN mi m1 ON m1.a = rel.f AND m1.b2 = (SELECT f FROM s1)
        |  JOIN mi m2 ON m2.a = rel.f AND m2.b2 = (SELECT f FROM s2)
        |  WHERE rel.f NOT IN (SELECT f FROM s1 UNION ALL SELECT f FROM s2))
        |SELECT f AS variable, round(score, 6) AS score FROM (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3) t
        |ORDER BY variable""".stripMargin)),
    Query("q_fcbf", (s, dir) => tidy6(
      FcbfStep(minimumSu = 0.0001)
        .fit(t(s, dir, "lineitem"), "l_linestatus",
          Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")), s), Some(
      // FCBF round-1 scores: symmetrical uncertainty of each median-split
      // feature vs the outcome (the redundancy elimination changes only
      // `excluded`, not the scores the query emits)
      """WITH med AS (SELECT median(l_quantity) AS mq, median(l_discount) AS md,
        |                    median(l_tax) AS mt, median(l_extendedprice) AS me FROM lineitem),
        |b AS (
        |  SELECT f.feature AS variable,
        |    CASE f.feature
        |      WHEN 'l_quantity' THEN CASE WHEN l_quantity <= mq THEN 'l' ELSE 'h' END
        |      WHEN 'l_discount' THEN CASE WHEN l_discount <= md THEN 'l' ELSE 'h' END
        |      WHEN 'l_tax' THEN CASE WHEN l_tax <= mt THEN 'l' ELSE 'h' END
        |      ELSE CASE WHEN l_extendedprice <= me THEN 'l' ELSE 'h' END END AS xb,
        |    l_linestatus AS yb
        |  FROM lineitem CROSS JOIN med
        |  CROSS JOIN (VALUES ('l_quantity'), ('l_discount'), ('l_tax'), ('l_extendedprice')) f(feature)),
        |j AS (SELECT variable, xb, yb, CAST(count(*) AS DOUBLE) AS c FROM b GROUP BY 1, 2, 3),
        |tot AS (SELECT variable, sum(c) AS n FROM j GROUP BY 1),
        |hx AS (SELECT jx.variable, -sum(cx / n * ln(cx / n)) AS hx
        |       FROM (SELECT variable, xb, sum(c) AS cx FROM j GROUP BY 1, 2) jx
        |       JOIN tot USING (variable) GROUP BY 1),
        |hy AS (SELECT jy.variable, -sum(cy / n * ln(cy / n)) AS hy
        |       FROM (SELECT variable, yb, sum(c) AS cy FROM j GROUP BY 1, 2) jy
        |       JOIN tot USING (variable) GROUP BY 1),
        |hxy AS (SELECT j.variable, -sum(c / n * ln(c / n)) AS hxy
        |        FROM j JOIN tot USING (variable) GROUP BY 1)
        |SELECT variable, round(2 * (hx + hy - hxy) / (hx + hy), 6) AS score
        |FROM hx JOIN hy USING (variable) JOIN hxy USING (variable) ORDER BY variable""".stripMargin)),
    // 4-dp rounding (not 6): MLlib's standardized normal-equation solve and
    // the oracle's Cramer closed form agree to ~1e-7 relative on O(1e3)
    // coefficients — within 4-dp granularity, marginal at 6
    Query("q_linear", (s, dir) =>
      LinearStep(topP = Some(2))
        .fit(t(s, dir, "lineitem"), "l_extendedprice", liFeatures)
        .scoresDF(s).select(col("variable"), round(col("score"), 4).as("score")), Some(
      // OLS with intercept over centered covariances, solved by Cramer's rule
      // — the closed form of MLlib LinearRegression with regParam 0
      """WITH m AS (SELECT avg(l_quantity) AS m1, avg(l_discount) AS m2, avg(l_tax) AS m3,
        |                  avg(l_extendedprice) AS my FROM lineitem),
        |s AS (SELECT
        |  sum((l_quantity - m1) * (l_quantity - m1)) AS a,
        |  sum((l_quantity - m1) * (l_discount - m2)) AS b,
        |  sum((l_quantity - m1) * (l_tax - m3)) AS c,
        |  sum((l_discount - m2) * (l_discount - m2)) AS d,
        |  sum((l_discount - m2) * (l_tax - m3)) AS e,
        |  sum((l_tax - m3) * (l_tax - m3)) AS f,
        |  sum((l_quantity - m1) * (l_extendedprice - my)) AS p,
        |  sum((l_discount - m2) * (l_extendedprice - my)) AS q,
        |  sum((l_tax - m3) * (l_extendedprice - my)) AS r
        | FROM lineitem CROSS JOIN m),
        |d AS (SELECT
        |  a*(d*f - e*e) - b*(b*f - e*c) + c*(b*e - d*c) AS det,
        |  p*(d*f - e*e) - b*(q*f - e*r) + c*(q*e - d*r) AS det1,
        |  a*(q*f - e*r) - p*(b*f - e*c) + c*(b*r - q*c) AS det2,
        |  a*(d*r - q*e) - b*(b*r - q*c) + p*(b*e - d*c) AS det3
        | FROM s)
        |SELECT variable, round(abs(coef), 4) AS score FROM (
        |  SELECT 'l_quantity' AS variable, det1/det AS coef FROM d
        |  UNION ALL SELECT 'l_discount', det2/det FROM d
        |  UNION ALL SELECT 'l_tax', det3/det FROM d)
        |ORDER BY variable""".stripMargin)),
    Query("q_tree", (s, dir) => tidy6(
      TreeStep(topP = Some(2), maxBins = 16)
        .fit(t(s, dir, "lineitem"), "l_returnflag", liFeatures), s), None), // no oracle: model-bound (MLlib decision tree)
    Query("q_forest", (s, dir) =>
      // impurity mode for the per-round bench budget; permutation mode
      // (the default) is exercised by StepsSpec. Profiled: fit time is
      // linear in trees × nodes (pure stats compute — partitions, maxBins,
      // maxMemoryInMB all ~neutral), so the budget knobs are tree count
      // (10, matching q_boruta), split bins 16, and half-rate subsampling —
      // rankings on these 4 strongly-separated features are unchanged
      tidy6(ForestStep(topP = Some(2), trees = 10, importance = "impurity",
        maxBins = 16, subsample = 0.5)
        .fit(t(s, dir, "lineitem"), "l_returnflag", liFeatures), s), None), // no oracle: model-bound (MLlib random forest)
    Query("q_relief", (s, dir) => tidy6(
      ReliefStep(topP = Some(2), sampleSize = 10)
        .fit(t(s, dir, "lineitem"), "l_linestatus", liFeatures), s), None), // no oracle: xxhash64-specific
    Query("q_boruta", (s, dir) => {
      val sampled = t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(20)) === 0)
      tidy6(BorutaStep(maxRuns = 6, trees = 10)
        .fit(sampled, "l_returnflag", liFeatures), s)
    }, None), // no oracle: model-bound (MLlib random forest)
    // GBT importances through the generic VipStep surface (pull_importances' xgboost analogue)
    Query("q_vip_gbt", (s, dir) => {
      val imp = (d: DataFrame, y: String, ps: Seq[String]) => {
        val assembled = new org.apache.spark.ml.feature.VectorAssembler()
          .setInputCols(ps.toArray).setOutputCol("__features")
          .setHandleInvalid("skip").transform(d)
        val m = new org.apache.spark.ml.regression.GBTRegressor()
          .setFeaturesCol("__features").setLabelCol(y)
          .setMaxIter(5).setMaxDepth(3).setSeed(42L)
          .fit(assembled)
        implicitly[ImportanceExtractor[org.apache.spark.ml.regression.GBTRegressionModel]]
          .importances(m, ps)
      }
      tidy6(VipStep(imp, topP = Some(2))
        .fit(t(s, dir, "lineitem").where(pmod(col("l_orderkey"), lit(20)) === 0),
          "l_extendedprice", liFeatures), s)
    }, None), // no oracle: model-bound (MLlib GBT)
    // the two-step pipeline, each step fitted on the previous step's output
    Query("q_select_pipeline", (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
        .select("l_quantity", "l_discount", "l_tax", "l_partkey", "l_extendedprice")
      SelectorPipeline(Seq(
        CorrStep(topP = Some(3), method = "pearson") -> Seq("l_quantity", "l_discount", "l_tax", "l_partkey"),
        CorrStep(threshold = Some(0.5), method = "spearman") -> Nil))
        .fit(li, "l_extendedprice").steps
        .flatMap(st => st.excluded.map(st.step -> _)).toDF("step", "excluded")
    }, Some(
      // replays BOTH pipeline steps: step 1 = |pearson| top_p=3 of 4 (exclude
      // the lowest); step 2 = |spearman| over the survivors with threshold
      // 0.5 — dual_filter keeps score >= type-7 quantile(0.5), and DuckDB's
      // quantile_cont IS the type-7 interpolation, so the kernel's threshold
      // branch is verified cross-engine
      // NOTE: c2 MUST be materialized — inlined CTEs are re-evaluated per
      // reference with run-varying parallel-aggregation summation order, and
      // comparing a score against a quantile of a last-ulp-different copy of
      // itself flips the boundary row nondeterministically
      """WITH c1 AS MATERIALIZED (
        |  SELECT 'l_quantity' AS variable, abs(corr(l_quantity, l_extendedprice)) AS ac FROM lineitem
        |  UNION ALL SELECT 'l_discount', abs(corr(l_discount, l_extendedprice)) FROM lineitem
        |  UNION ALL SELECT 'l_tax', abs(corr(l_tax, l_extendedprice)) FROM lineitem
        |  UNION ALL SELECT 'l_partkey', abs(corr(l_partkey, l_extendedprice)) FROM lineitem),
        |ex1 AS (SELECT variable FROM (
        |  SELECT variable, row_number() OVER (ORDER BY ac DESC) AS rn FROM c1) t WHERE rn > 3),
        |r AS (
        |  SELECT
        |    rank() OVER (ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
        |    rank() OVER (ORDER BY l_discount) + (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd,
        |    rank() OVER (ORDER BY l_tax) + (count(*) OVER (PARTITION BY l_tax) - 1) / 2.0 AS rt,
        |    rank() OVER (ORDER BY l_partkey) + (count(*) OVER (PARTITION BY l_partkey) - 1) / 2.0 AS rp,
        |    rank() OVER (ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ry
        |  FROM lineitem),
        |c2 AS MATERIALIZED (
        |  SELECT 'l_quantity' AS variable, abs(corr(rq, ry)) AS ac FROM r
        |  UNION ALL SELECT 'l_discount', abs(corr(rd, ry)) FROM r
        |  UNION ALL SELECT 'l_tax', abs(corr(rt, ry)) FROM r
        |  UNION ALL SELECT 'l_partkey', abs(corr(rp, ry)) FROM r),
        |rem AS MATERIALIZED (SELECT * FROM c2 WHERE variable NOT IN (SELECT variable FROM ex1)),
        |qv AS (SELECT quantile_cont(ac, 0.5) AS q FROM rem),
        |ex2 AS (SELECT variable FROM rem CROSS JOIN qv WHERE ac < q)
        |SELECT step, excluded FROM (
        |  SELECT 'step_select_corr_pearson' AS step, variable AS excluded FROM ex1
        |  UNION ALL SELECT 'step_select_corr_spearman', variable FROM ex2)
        |ORDER BY step, excluded""".stripMargin))
  )
}
