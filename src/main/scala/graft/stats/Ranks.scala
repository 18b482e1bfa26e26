package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one midrank build behind Spearman ([[Correlation.spearman]]) and
  * ROC AUC ([[Auc.scores]]). */
private[stats] object Ranks {

  /** The midrank of every row of `counts` — one row per distinct (`keys`,
    * `value`) with its long row count `cnt` — within its `keys` group:
    * (#rows of the same keys with a smaller value) + (cnt + 1)/2. Returns
    * `counts` joined to its bucket bases, and the midrank column over that
    * frame; each caller projects what it keeps (Spearman's rank table only
    * (feature, value, midrank)).
    *
    * TWO-PHASE over the counts table: a single window partitioned by
    * `keys` would serialize each group's whole distinct-value set through
    * ONE task — for a near-unique column a |rows|-sized sort on one core at
    * any scale. The value's order-preserving bit image yields monotone
    * range buckets for free (no quantile probe, no extra job): per-(keys,
    * bucket) totals cumulate through a TINY window over bucket rows
    * (≤ 2^20 per group regardless of data size — too many to cumulate on
    * the driver, unlike [[graft.text.TwoPhase]]), the bases join back, and
    * the within-bucket prefix windows run in parallel. Exact long sums, so
    * midranks are bit-identical to the single-window formulation.
    *
    * `handle` owns the CACHED bucketed counts: the bases aggregation and
    * the per-value join both reference them, and uncached the whole
    * upstream melt + counts aggregation executes twice. cache() rather than
    * a lazy localCheckpoint (measured on q_auc): the LogicalRDD leaf loses
    * the size estimate that keeps the bases join broadcast. */
  def midranks(counts: DataFrame, keys: Seq[String],
               handle: graft.runtime.CacheHandle): (DataFrame, Column) = {
    val bucketed = handle.track(
      counts.withColumn("__bkt", graft.functions.DoubleBits.bucket(col("value"), 20)).cache())
    val byBucket = (keys :+ "__bkt").map(col)
    val wb = Window.partitionBy(keys.map(col): _*).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = bucketed.groupBy(byBucket: _*).agg(sum("cnt").as("__bc"))
      .select(byBucket :+ coalesce(sum("__bc").over(wb), lit(0L)).as("__base"): _*)
    val wv = Window.partitionBy(byBucket: _*).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = bucketed.join(bases, keys :+ "__bkt")
    (ranked, col("__base") + coalesce(sum("cnt").over(wv), lit(0L)) + (col("cnt") + 1) / 2.0)
  }
}
