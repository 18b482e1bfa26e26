package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table layout for the pages corpus — the Iceberg layout from SURVEY §1.4
  * (`partitioned by days(warc_ts), bucketed by url`) expressed on plain
  * parquet, which is what this sandbox ships (no Iceberg jar): a `dt` day
  * partition column + optional url-hash bucket column. On a real deployment
  * the same calls switch to `df.writeTo(table).partitionedBy(days($"warc_ts"),
  * bucket(N, $"url"))` with no other code change — every reader below goes
  * through time predicates that prune partitions either way.
  */
object Store {

  /** Write pages partitioned by crawl day (and optionally url buckets).
    * Day partitioning makes label-time predicates prune whole directories;
    * bucketing co-locates a url's revisits for the as-of/window exchange. */
  def writePages(df: DataFrame, path: String, urlBuckets: Int = 0): Unit = {
    val withDt = df.withColumn("dt", utcDay(col("warc_ts")))
    val (out, cols) =
      if (urlBuckets > 0)
        (withDt.withColumn("ub", pmod(xxhash64(col("url")), lit(urlBuckets))), Seq("dt", "ub"))
      else (withDt, Seq("dt"))
    writePartitioned(out, cols, path)
  }

  /** The UTC calendar day of a timestamp — the one `dt` derivation for every
    * writer and every prune bound in `core`. `to_date` would use the
    * session time zone, so a store written under one zone and pruned under
    * another would cut at the wrong day boundary and silently drop rows. */
  private[graft] def utcDay(ts: Column): Column =
    date_from_unix_date(floor(unix_seconds(ts) / 86400).cast("int"))

  /** Overwrite `path` partitioned by `cols`, with rows clustered by those
    * columns first — the hash distribution Iceberg applies to a partitioned
    * table. Without it every write task opens one file in every partition
    * it touches (tasks × days small files). REBALANCE rather than
    * `repartition(cols)`: AQE splits a partition larger than
    * `advisoryPartitionSizeInBytes` across several tasks (several files)
    * and coalesces small ones, so a hot day is never funnelled through a
    * single task. */
  private def writePartitioned(df: DataFrame, cols: Seq[String], path: String): Unit =
    df.hint("rebalance", cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  def readPages(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Time-bounded scan: the `dt` predicate prunes day partitions at
    * planning time (the excluded days' files are never opened), the
    * `warc_ts` predicate is pushed to parquet row groups. Use for every
    * "features as of T" computation — nothing after maxTs is even read,
    * which also makes temporal leakage structurally impossible at the scan.
    * Pruning does not save the listing: `spark.read.parquet` lists every
    * `dt=` directory when it resolves `path`, before any predicate applies.
    */
  def pagesUpTo(spark: SparkSession, path: String, maxTs: java.sql.Timestamp): DataFrame =
    readPages(spark, path)
      .where(col("dt") <= utcDay(lit(maxTs)) && col("warc_ts") <= lit(maxTs))

  /** Feature-vector sink with lineage: writes the data partitioned by label
    * day plus a `_metrics` JSON table with one row per `dt` partition (row
    * count, label-time bounds, content digest; north_rule: metrics
    * alongside outputs). The metrics are computed from the store just
    * written, so `df`'s plan (dedup, windows, as-of join) runs once; the
    * read-back has the same columns in the same order, `dt` as a date. */
  def writeFeatures(df: DataFrame, path: String, labelTs: String = "label_ts"): Unit = {
    writePartitioned(df.withColumn("dt", utcDay(col(labelTs))), Seq("dt"), path)
    graft.runtime.Lineage.writeMetrics(
      graft.runtime.Lineage.partitionMetrics(df.sparkSession.read.parquet(path), Seq(labelTs)),
      path + "_metrics")
  }

  /** The lineage of a store [[writeFeatures]] wrote: the text of its
    * `_metrics` table, one sorted row per `dt` (row count, label-time
    * bounds, content digest). Equal content gives equal text whatever the
    * writer's partitioning and whatever the data files are named (each
    * write names them after its job), so a checkpoint fingerprinted with it
    * replays after a rewrite of the same features and refits after any
    * changed row. Read on the driver, with no Spark job. */
  def featureLineage(spark: SparkSession, path: String): String = {
    val dir = new org.apache.hadoop.fs.Path(path + "_metrics")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .map { p =>
        val in = fs.open(p)
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      }.mkString
  }
}
