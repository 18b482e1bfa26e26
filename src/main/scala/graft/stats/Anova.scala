package graft.stats

import org.apache.commons.math3.distribution.FDistribution
import org.apache.commons.math3.linear.{Array2DRowRealMatrix, LUDecomposition}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANOVA with SEQUENTIAL (Type-I) sums of squares, replicating R
  * `summary(aov(y ~ x1 + ... + xp))` (/root/reference/R/step_select_aov.R:
  * 119–170): one joint linear model over dummy-coded categorical predictors;
  * each term's SS is the reduction in residual SS when that term enters the
  * model IN ORDER — scores are order-dependent by design.
  *
  * Scale shape: the data is touched exactly TWICE — one pass to collect the
  * distinct levels per predictor (tiny), one aggregation pass computing the
  * full Gram matrix XᵀX, Xᵀy, yᵀy over the dummy design as m(m+1)/2 + m + 2
  * sum-of-product aggregates (partial+final, no shuffle of rows). All
  * linear algebra then runs on the driver over the m×m Gram (m = 1 + Σ
  * (levels−1), small), via nested-model solves.
  */
object Anova {

  final case class TermResult(feature: String, df: Int, ss: Double, f: Double, p: Double)

  def typeISS(df: DataFrame, outcome: String, predictors: Seq[String]): Seq[TermResult] = {
    require(predictors.nonEmpty, "aov needs at least one predictor")
    val data = df.na.drop(predictors :+ outcome)

    // distinct levels per predictor (sorted — R factor level order), ALL
    // predictors in ONE aggregation pass: a distinct().collect() per
    // predictor would re-scan the base table p times
    val setsRow = data.agg(
      collect_set(col(predictors.head).cast("string")).as(predictors.head),
      predictors.tail.map(p => collect_set(col(p).cast("string")).as(p)): _*
    ).head()
    val levels: Map[String, Seq[String]] = predictors.zipWithIndex.map { case (p, i) =>
      p -> setsRow.getSeq[String](i).sorted.toSeq
    }.toMap

    // dummy design: intercept + treatment coding (drop first level)
    val blocks: Seq[(String, Seq[Column])] = predictors.map { p =>
      p -> levels(p).drop(1).map(l => when(col(p).cast("string") === l, 1.0).otherwise(0.0))
    }
    val xCols: Seq[Column] = lit(1.0) +: blocks.flatMap(_._2)
    val m = xCols.length
    val y = col(outcome).cast("double")

    // one pass: Gram, cross-products, y'y, n
    val aggs =
      (for { i <- 0 until m; j <- i until m } yield sum(xCols(i) * xCols(j)).as(s"g_${i}_$j")) ++
        (0 until m).map(i => sum(xCols(i) * y).as(s"xy_$i")) :+
        sum(y * y).as("yy") :+ count(lit(1)).as("n")
    val row = data.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(row.length - 1)
    // with no complete row every sum above is NULL
    if (n == 0)
      throw graft.select.StepCommon.noCompleteRows("step_select_aov", df, outcome, predictors)

    val g = Array.ofDim[Double](m, m)
    var k = 0
    for (i <- 0 until m; j <- i until m) {
      val v = row.getDouble(k); g(i)(j) = v; g(j)(i) = v; k += 1
    }
    val xy = Array.tabulate(m)(i => row.getDouble(k + i))
    val yy = row.getDouble(k + m)

    // nested-model residual SS: RSS_j after including blocks 0..j
    def rss(cols: Int): Double = {
      if (cols == 0) return yy
      val gj = new Array2DRowRealMatrix(Array.tabulate(cols, cols)((i, j) => g(i)(j)))
      val b = new LUDecomposition(gj).getSolver.solve(
        new org.apache.commons.math3.linear.ArrayRealVector(xy.take(cols)))
      yy - (0 until cols).map(i => b.getEntry(i) * xy(i)).sum
    }

    val sizes = blocks.map(_._2.length)
    val cuts = sizes.scanLeft(1)(_ + _) // cumulative col counts incl. intercept
    val rssSeq = cuts.map(rss)
    val rssFull = rssSeq.last
    val dfResid = (n - m).toInt
    val mse = rssFull / dfResid

    predictors.indices.map { j =>
      val ss = rssSeq(j) - rssSeq(j + 1)
      val dfj = sizes(j)
      val fstat = (ss / dfj) / mse
      val p =
        if (dfj <= 0 || dfResid <= 0 || mse <= 0) Double.NaN
        else 1.0 - new FDistribution(dfj.toDouble, dfResid.toDouble).cumulativeProbability(fstat)
      TermResult(predictors(j), dfj, ss, fstat, p)
    }
  }

  /** −log10(p) scores (step_select_aov.R:150). */
  def scores(df: DataFrame, outcome: String, predictors: Seq[String]): Map[String, Double] =
    typeISS(df, outcome, predictors).map(t => t.feature -> -math.log10(t.p)).toMap
}
