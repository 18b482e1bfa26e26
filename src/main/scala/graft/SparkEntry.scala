package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Graph, Query, Select, Sim, Stats, Temporal, Text}
import graft.select.InfoGainStep

/** Driver contract (SURVEY.md §7): the flagship [[entry]] and the registry
  * of queries, one per implemented operator from SURVEY.md §2. Each query is
  * one [[Query]] record in its layer's object under `graft.queries`;
  * [[queries]] and [[oracleSql]] are read off those records.
  */
object SparkEntry {

  /** Flagship: the SURVEY §7.2 end-to-end spine on a deterministic synthetic
    * pages table — dedup → sessionize/lag/rolling features → as-of join to
    * labels → infogain scoring → dual_filter → baked feature vectors. */
  def entry(spark: SparkSession): DataFrame = {
    val joined = graft.core.Types.featureVectors(
      spark,
      graft.core.Types.pages(spark, nRows = 20000, nUrls = 2000),
      graft.core.Types.labels(spark, nRows = 2000, nUrls = 2000)).toDF()
    val step = InfoGainStep(topP = Some(3), nbins = 5)
    val fitted = step.fit(
      joined.na.fill(0.0, Seq("prev_text_len")), "label",
      Seq("text_len", "prev_text_len", "revisits_7d", "visit_no"))
    fitted.transform(joined)
  }

  /** Every registered query, layer by layer; a name registered twice fails here. */
  val registry: Seq[Query] = {
    val all = Temporal.all ++ Stats.all ++ Select.all ++ Text.all ++ Sim.all ++ Graph.all
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each query with an oracle, DuckDB SQL over the same parquet tables. */
  val oracleSql: Map[String, String] = registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
