package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The engine's one driver-cumulated running sum ([[Packing.packSequences]],
  * [[Sampling.shuffleRankMd5]], [[Sampling.budgetSelectStratified]]): exact
  * global offsets/ranks with NO global sort, by cumulating one tiny row per
  * ordering-bucket on the driver and broadcasting the bases back.
  */
private[graft] object TwoPhase {

  /** `df` plus `out`: Σ `weight` (null counts as 0) over the rows of the
    * same `keys` group that come strictly before the row in (`bucket`,
    * `order`). `bucket` is a Long whose order must agree with `order`
    * (range buckets of the ordering value), and `order` must be total
    * within a bucket for the result to be deterministic.
    *
    * Phase 1: one row per occupied (keys, bucket), cumulated on the driver
    * in bucket order, restarting per key group. The transfer is bounded
    * BEFORE collection (`limit(maxBuckets+1)`), aborting with a densify
    * hint when exceeded — with sparse keys the bucket table degenerates
    * toward one row per input row, which must never reach the driver. Null
    * buckets or keys abort (a null would silently drop its rows at the
    * join).
    * Phase 2: the bases join back by broadcast and a running window
    * partitioned by (keys, bucket) adds the within-bucket part in parallel. */
  def runningSum(
      df: DataFrame,
      keys: Seq[String],
      bucket: Column,
      order: Seq[Column],
      weight: Column,
      maxBuckets: Int,
      out: String
  ): DataFrame = {
    require(maxBuckets >= 1, "maxBuckets must be >= 1")
    val spark = df.sparkSession
    val groupCols = keys :+ "__tp_bkt"
    val tagged = df
      .withColumn("__tp_bkt", bucket.cast("long"))
      .withColumn("__tp_w", coalesce(weight.cast("long"), lit(0L)))
    val rows = tagged.groupBy(groupCols.map(col): _*)
      .agg(sum("__tp_w"))
      .limit(maxBuckets + 1)
      .collect()
    require(rows.length <= maxBuckets,
      s"over $maxBuckets occupied buckets would be cumulated on the driver — " +
        "the ordering keys look sparse; densify them first (e.g. Sampling.shuffleRankMd5) " +
        "or raise the bucket size")
    val k = keys.length
    rows.foreach { r =>
      require((0 until k).forall(!r.isNullAt(_)), "the running-sum key columns contain nulls")
      require(!r.isNullAt(k), "the ordering key column contains nulls")
    }
    val bases = rows.groupBy(_.toSeq.take(k)).values.toSeq.flatMap { group =>
      var acc = 0L
      group.sortBy(_.getLong(k)).map { r =>
        val base = acc
        acc += r.getLong(k + 1)
        Row.fromSeq(r.toSeq.take(k + 1) :+ base)
      }
    }
    val baseDf = spark.createDataFrame(
      spark.sparkContext.parallelize(bases, 1),
      StructType(groupCols.map(tagged.schema(_)) :+ StructField("__tp_base", LongType)))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    tagged
      .join(broadcast(baseDf), groupCols)
      .select(df.columns.map(c => col(s"`$c`")) :+
        (col("__tp_base") + coalesce(sum(col("__tp_w")).over(w), lit(0L))).as(out): _*)
  }
}
