package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.NullSafeCorr

/** Correlation-based scores.
  *
  * Pearson covers the reference's carscore `diagonal = TRUE` path — plain
  * marginal correlations (/root/reference/R/step_select_carscore.R:13–14,
  * 133–147; the step stores abs(score)). Spearman = Pearson over per-column
  * mid-ranks. Full CAR (diagonal = FALSE) decorrelates the marginal
  * correlations with the inverse square root of the predictor correlation
  * matrix: ω = R_X^{−1/2} · ρ_{Xy}.
  *
  * Scale shape: all p correlations in ONE aggregation pass (p `corr` aggs in
  * a single `agg`, partial+final). Spearman ranks are two-phase bucketed
  * prefix sums over per-column DISTINCT-value counts — no single-partition
  * sort at any scale — with the cutpoint-binned approximation available
  * where even the distinct-count table is infeasible.
  */
object Correlation {

  /** Pearson corr(x_i, y) for all features in one pass; None if n < 2 or a side is constant. */
  def pearson(df: DataFrame, features: Seq[String], outcome: String): Map[String, Option[Double]] = {
    if (features.isEmpty) return Map.empty
    val row = df.agg(
      NullSafeCorr.of(col(features.head), col(outcome)).as(features.head),
      features.tail.map(f => NullSafeCorr.of(col(f), col(outcome)).as(f)): _*
    ).head()
    features.zipWithIndex.map { case (f, i) =>
      f -> (if (row.isNullAt(i)) None else Some(row.getDouble(i)))
    }.toMap
  }

  /** Spearman corr for all features vs outcome: Pearson over EXACT
    * mid-ranks, computed scalably in a FIXED number of shuffles regardless
    * of the feature count (the per-feature rank join-back this replaced was
    * one full-table shuffle join per feature — a 100-TB cost bug for wide
    * inputs):
    *
    *  1. ONE melted counts pass builds every column's rank table (the
    *     window runs per feature over DISTINCT values, so no
    *     single-partition row sort ever happens; midrank(v) =
    *     (#rows with value < v) + (ties(v) + 1)/2). Cached: it is referenced
    *     by both the feature-rank and the outcome-rank join.
    *  2. The melted rows join the rank tables (pairs with either side
    *     NULL drop out, preserving `corr`'s pairwise-deletion semantics) —
    *     the planner broadcasts the rank side whenever its size estimate
    *     allows, which is the distinct-value-count regime this operator
    *     targets.
    *  3. ONE map-side-combining `corr(rf, ry)` aggregation over p groups
    *     (Spark's stable one-pass co-moment — the same arithmetic the
    *     naive reference formulation ends in).
    *
    * Identical results to the naive rank()-window formulation
    * (ScalableRankSpec pins equality at 1e-12). */
  def spearman(df: DataFrame, features: Seq[String], outcome: String): Map[String, Option[Double]] = {
    if (features.isEmpty) return Map.empty
    val handle = new graft.runtime.CacheHandle
    val (stats, _) = spearmanStats(df, features, outcome, handle)
    try {
      // NULL (n < 2 or a constant side) is the feature's NA
      val got = stats.collect().collect { case r if !r.isNullAt(1) => r.getString(0) -> r.getDouble(1) }.toMap
      features.map(f => f -> got.get(f)).toMap
    } finally handle.release(blocking = false)
  }

  /** The per-feature mid-rank correlations (feature, rho), plus the CACHED
    * rank table — exposed so PlanSpec can pin the shuffle count; `handle`
    * owns the rank-table cache (callers release(), as [[spearman]] does).
    */
  private[graft] def spearmanStats(
      df: DataFrame, features: Seq[String], outcome: String,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle): (DataFrame, DataFrame) = {
    val cols = (features :+ outcome).distinct
    // fanOut BEFORE the melt (projected to the needed columns, ~8 B each):
    // an under-split source otherwise runs both melts' explode + partial
    // aggregation on the input split count (measured: three 1.5-2 s
    // 3-task stages at bench SF). CACHED because the counts build and the
    // row-level rank join are SEPARATE jobs — exchange reuse does not
    // cross actions, so uncached each job re-executed the repartition's
    // under-split map side (two 0.4 s 3-task stages).
    val src = handle.track(graft.core.Partitions.fanOut(
      df.select(cols.map(c => col(c).cast("double").as(c)): _*)).cache())
    val counts = graft.core.Melt.numeric(src, cols)
      .where(col("value").isNotNull)
      .groupBy("feature", "value")
      .agg(count(lit(1)).as("cnt"))
    // midranks per feature (Ranks caches the bucketed counts); the rank
    // table is CACHED too: both the feature-rank and the outcome-rank join
    // reference it
    val (withBases, midrank) = Ranks.midranks(counts, Seq("feature"), handle)
    val rankTable = handle.track(withBases
      .select(col("feature"), col("value"), midrank.as("midrank"))
      .cache())
    val yRank = rankTable.where(col("feature") === outcome)
      .select(col("value").as("__yv"), col("midrank").as("ry"))
    // The (feature, value, __yv) joint-counts groupBy the old formulation
    // fed its rank joins from was PURE OVERHEAD: against a near-unique
    // outcome it collapsed ~nothing, so its partial aggregation built
    // |rows|-entry hash maps and shuffled |rows| anyway (the two slowest
    // measured stages). Melted rows now join the rank tables directly
    // (size-based broadcast in the distinct-value-count regime; plain
    // shuffle joins — the old shape — when ranks approach row count).
    val ranked =
      graft.core.Melt.numeric(
          src.withColumn("__yv", col(outcome)), features, keep = Seq("__yv"))
        .where(col("value").isNotNull && col("__yv").isNotNull)
        .join(rankTable, Seq("feature", "value"))
        .join(yRank, "__yv")
        .select(col("feature"), col("midrank").as("rf"), col("ry"))
    // ONE map-side-combining corr aggregation over p groups. The row-level
    // rank table carries weight 1 per row, so Spark's one-pass stable
    // co-moment corr IS the reference arithmetic the two-pass weighted
    // Pearson was pinned against (ScalableRankSpec's oracle ends in
    // Correlation.pearson over window midranks = the same Corr aggregate);
    // dropping the second pass also drops the localCheckpoint
    // materialization and the means broadcast join the old shape needed.
    val stats = ranked.groupBy("feature").agg(NullSafeCorr.of(col("rf"), col("ry")).as("rho"))
    (stats, rankTable)
  }

  /** Full p×p Pearson correlation matrix of the features plus the feature–
    * outcome vector, in one aggregation pass of p(p+1)/2 + p corr aggs.
    * Fine for the reference's regime (p small; n huge).
    */
  def corrMatrix(df: DataFrame, features: Seq[String], outcome: String): (Array[Array[Double]], Array[Double]) = {
    val p = features.length
    val pairAggs = for {
      i <- 0 until p; j <- i + 1 until p
    } yield corr(col(features(i)), col(features(j))).as(s"c_${i}_$j")
    val yAggs = features.zipWithIndex.map { case (f, i) => corr(col(f), col(outcome)).as(s"y_$i") }
    val all = pairAggs ++ yAggs
    val row = df.agg(all.head, all.tail: _*).head()
    val m = Array.fill(p, p)(1.0)
    var k = 0
    for (i <- 0 until p; j <- i + 1 until p) {
      val v = if (row.isNullAt(k)) 0.0 else row.getDouble(k)
      m(i)(j) = v; m(j)(i) = v; k += 1
    }
    val y = Array.tabulate(p)(i => if (row.isNullAt(k + i)) 0.0 else row.getDouble(k + i))
    (m, y)
  }

  /** Schäfer–Strimmer (2005) correlation shrinkage intensity — the
    * James–Stein estimate care::carscore applies when `lambda` is NOT
    * supplied (the reference passes lambda to care only when set,
    * step_select_carscore.R:128–131; care delegates to corpcor's
    * `estimate.lambda`):
    *
    *   λ* = clamp( Σ_{i≠j} Var̂(r_ij) / Σ_{i≠j} r̂_ij² , 0, 1 )
    *
    * computed over the standardized joint matrix (z = (x − mean)/sd, sample
    * sd). With w_kij = z_ki·z_kj, w̄_ij = mean_k w_kij and m2_ij = mean_k
    * w²_kij, this reduces to λ* = (Σ m2 − Σ w̄²) / Σ w̄² · 1/(n−1) over the
    * off-diagonal pairs — two aggregation passes (moments, then pair sums),
    * p(p+1) sum-aggs, everything map-side combinable. Rows with any NA are
    * dropped listwise, as R's complete-matrix requirement does. A
    * zero-variance denominator (or a constant column's NaN) degrades to
    * λ = 1 — full shrinkage toward identity, corpcor's convention. */
  def estimateLambda(df: DataFrame, cols: Seq[String]): Double = {
    val data = df.na.drop(cols).select(cols.map(c => col(c).cast("double").as(c)): _*)
    val momentAggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"m_$c"), stddev_samp(col(c)).as(s"s_$c"))) :+ count(lit(1)).as("n")
    val mr = data.agg(momentAggs.head, momentAggs.tail: _*).head()
    val n = mr.getLong(2 * cols.length)
    if (n < 3) return 1.0
    val z = cols.zipWithIndex.map { case (c, i) =>
      ((col(c) - mr.getDouble(2 * i)) / mr.getDouble(2 * i + 1)).as(c)
    }
    val zdf = data.select(z: _*)
    val pairs = for (i <- cols.indices; j <- i + 1 until cols.length) yield (i, j)
    if (pairs.isEmpty) return 0.0
    val pairAggs = pairs.flatMap { case (i, j) =>
      val (a, b) = (col(cols(i)), col(cols(j)))
      Seq(sum(a * b).as(s"s1_${i}_$j"), sum(a * a * b * b).as(s"s2_${i}_$j"))
    }
    val pr = zdf.agg(pairAggs.head, pairAggs.tail: _*).head()
    var sE2R = 0.0; var sER2 = 0.0
    pairs.indices.foreach { k =>
      val wbar = pr.getDouble(2 * k) / n
      val m2 = pr.getDouble(2 * k + 1) / n
      sE2R += 2 * wbar * wbar
      sER2 += 2 * m2
    }
    val lam = (sER2 - sE2R) / sE2R / (n - 1).toDouble
    if (sE2R == 0.0 || lam.isNaN) 1.0 else math.max(0.0, math.min(1.0, lam))
  }

  /** CAR scores ω = R_X^{−1/2} ρ_{Xy} via driver-side symmetric eigensolve
    * of the (tiny, p×p) correlation matrix (care::carscore semantics,
    * step_select_carscore.R:133–140). `lambda` applies linear shrinkage
    * toward identity / zero: R' = (1−λ)R + λI, ρ' = (1−λ)ρ — care's
    * James–Stein shrinkage. `None` (the care/reference DEFAULT) estimates
    * the intensity from the joint (outcome + features) data via
    * [[estimateLambda]]; `Some(x)` pins it, matching an explicitly-set
    * `lambda` in step_select_carscore.
    */
  def carScores(df: DataFrame, features: Seq[String], outcome: String,
                lambdaOpt: Option[Double] = None): Map[String, Double] = {
    if (features.isEmpty) return Map.empty
    val lambda = lambdaOpt.getOrElse(estimateLambda(df, (features :+ outcome).distinct))
    val (m0, y0) = corrMatrix(df, features, outcome)
    val p = features.length
    val m = Array.tabulate(p, p)((i, j) =>
      if (i == j) 1.0 else (1 - lambda) * m0(i)(j))
    val y = y0.map(_ * (1 - lambda))
    val mat = new org.apache.commons.math3.linear.Array2DRowRealMatrix(m)
    val eig = new org.apache.commons.math3.linear.EigenDecomposition(mat)
    val v = eig.getV
    val invSqrtD = org.apache.commons.math3.linear.MatrixUtils.createRealDiagonalMatrix(
      (0 until p).map { i =>
        val ev = eig.getRealEigenvalue(i)
        if (ev > 1e-12) 1.0 / math.sqrt(ev) else 0.0
      }.toArray
    )
    val invSqrt = v.multiply(invSqrtD).multiply(v.transpose())
    val omega = invSqrt.operate(y)
    features.zipWithIndex.map { case (f, i) => f -> omega(i) }.toMap
  }
}
