package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.temporal.{AsOf, Windows}

/** Typed API boundary (input_hint: "typed Dataset/DataFrame + Catalyst
  * throughout"; SURVEY §1.4: typed Dataset[PageEvent]/Dataset[FeatureRow]
  * at API boundaries, DataFrame internally where schema is dynamic).
  *
  * The typed facade costs nothing at runtime: the case-class Encoders
  * resolve to the same Catalyst schema, and all transforms below stay in
  * untyped Column expressions (codegen), only the boundaries are typed.
  */
object Types {

  /** The engine's primary input shape (BASELINE.json input_hint). */
  final case class PageEvent(
      url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)

  /** As-of probe side: one row per entity×timestamp scoring point. */
  final case class LabelPoint(url: String, label_ts: Timestamp, label: Double)

  /** One point-in-time-correct feature vector per (url, label_ts). */
  final case class FeatureRow(
      url: String,
      label_ts: Timestamp,
      label: Double,
      text_len: Double,
      session_id: Double,
      prev_text_len: Option[Double],
      revisits_7d: Double,
      visit_no: Double)

  def pages(spark: SparkSession, nRows: Long, nUrls: Long, seed: Int = 42): Dataset[PageEvent] = {
    import spark.implicits._
    PagesGen.pages(spark, nRows, nUrls, seed).as[PageEvent]
  }

  def labels(spark: SparkSession, nRows: Long, nUrls: Long, seed: Int = 42): Dataset[LabelPoint] = {
    import spark.implicits._
    PagesGen.labels(spark, nRows, nUrls, seed).as[LabelPoint]
  }

  /** The flagship typed pipeline: dedup → leakage-safe window features →
    * sort-merge as-of join. Same physical plan as the untyped
    * [[graft.Bench.featurePipeline]] (one url exchange + the as-of union).
    */
  def featureVectors(
      spark: SparkSession,
      pages: Dataset[PageEvent],
      labels: Dataset[LabelPoint],
      sessionGapSeconds: Long = 7 * 86400,
      rollingWindowSeconds: Long = 7 * 86400
  ): Dataset[FeatureRow] = {
    import spark.implicits._
    val slim = pages.select(
      col("url"), col("warc_ts"), length(col("text")).as("text_len0"), col("lang"))
    val deduped = Windows.dedupByLag(slim, "url", "warc_ts", Seq(col("lang")))
    val featured = deduped.select(
      col("url"), col("warc_ts"),
      col("text_len0").cast("double").as("text_len"),
      Windows.sessionId("url", "warc_ts", sessionGapSeconds).cast("double").as("session_id"),
      Windows.lagCol(col("text_len0"), 1, "url", "warc_ts").cast("double").as("prev_text_len"),
      Windows.rollingCount("url", "warc_ts", rollingWindowSeconds).cast("double").as("revisits_7d"),
      Windows.revisitIndex("url", "warc_ts").cast("double").as("visit_no"))
    AsOf.sortMerge(
      featured, labels.toDF(), "url", "warc_ts", "label_ts",
      Seq("text_len", "session_id", "prev_text_len", "revisits_7d", "visit_no"))
      .where(col("text_len").isNotNull)
      .as[FeatureRow]
  }
}
