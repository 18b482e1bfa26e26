package graft

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Store, Types}
import graft.runtime.{Checkpoints, Lineage}
import graft.select._

/** End-to-end production wiring of the north_rule job — the `spark-submit`
  * entry point a user would run on a cluster:
  *
  *   pages store (day-partitioned) → time-bounded scan → dedup → windowed
  *   features → as-of join → feature store (+ per-partition lineage
  *   metrics) → checkpointed selection pipeline → scores + kept columns.
  *
  * Every stage is resumable: the feature store is an idempotent overwrite,
  * the selection steps checkpoint per-step JSON (kill it after step k,
  * rerun, and only k+1… recompute — RuntimeSpec proves state equality).
  *
  * Usage: runMain graft.RunPipeline <workDir> [nPages] [nLabels] [cores]
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-run")
    val nPages = args.lift(1).map(_.toLong).getOrElse(200000L)
    val nLabels = args.lift(2).map(_.toLong).getOrElse(20000L)
    val cores = args.lift(3).map(_.toInt).getOrElse(16)
    val spark = GraftSession.get(cores)

    // 1. ingest: synthesize + write the day-partitioned pages store (in
    //    production this is the existing Iceberg table; see core/Store)
    val pagesPath = s"$workDir/pages"
    Store.writePages(Types.pages(spark, nPages, nUrls = nPages / 10).toDF(), pagesPath)

    // 2. byte-identity guard on the ingested corpus
    val stored = Store.readPages(spark, pagesPath)
    val violations = Lineage.textIdentityViolations(stored, "url", "text").count()
    require(violations == 0, s"text byte-identity violated for $violations urls")

    // 3. point-in-time feature vectors (time-bounded scan prunes partitions)
    import spark.implicits._
    val labels = Types.labels(spark, nLabels, nUrls = nPages / 10)
    val maxLabelTs = labels.agg(max("label_ts")).head().getTimestamp(0)
    val bounded = Store.pagesUpTo(spark, pagesPath, maxLabelTs)
      .drop("dt").as[Types.PageEvent]
    val features = Types.featureVectors(spark, bounded, labels)

    // 4. feature store + lineage metrics alongside
    val featPath = s"$workDir/features"
    Store.writeFeatures(features.toDF(), featPath)

    // 5. checkpointed selection pipeline over the stored vectors
    val stored2 = spark.read.parquet(featPath).na.fill(0.0, Seq("prev_text_len"))
    val steps: Seq[(SelectorStep, Seq[String])] = Seq(
      (InfoGainStep(topP = Some(3)),
        Seq("text_len", "prev_text_len", "revisits_7d", "visit_no", "session_id")),
      (CorrStep(threshold = Some(0.25), method = "spearman"), Nil))
    val fitted = Checkpoints.fitOrResume(
      spark, s"$workDir/checkpoints", steps, stored2, "label",
      lineage = Store.featureLineage(spark, featPath))

    val kept = fitted.foldLeft(stored2)((d, f) => f.transform(d)).columns.toSeq
    println(s"""{"pages":$nPages,"features":${stored2.count()},""" +
      s""""excluded":${fitted.flatMap(_.excluded).distinct.length},""" +
      s""""kept_columns":"${kept.mkString(",")}"}""")
    spark.stop()
  }
}
