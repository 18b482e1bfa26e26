package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-partition lineage and metrics written alongside outputs (north_rule:
  * "per-partition lineage and row-count/score metrics are written alongside
  * commit-level checkpoints").
  *
  * [[partitionMetrics]] computes, per store partition (`dt` day) of the
  * given frame: row count, min/max of the ordering key, and an
  * ORDER-INSENSITIVE content digest (sum of per-row xxhash64 in a ring —
  * associative, so identical data in any order produces the same digest).
  * Each row matches one `dt=` directory and none depends on how the frame
  * was split into tasks, so comparing two runs' metric tables row-by-row
  * proves resume-equivalence without moving data.
  *
  * [[inputFiles]] records the exact source files a frame read — the scan
  * lineage needed to re-derive any output partition.
  */
object Lineage {

  def inputFiles(df: DataFrame): Seq[String] = df.inputFiles.toSeq.sorted

  /** Order-insensitive row-hash accumulator: decimal(38) sum never
    * overflows (10^12 rows × 2^63 < 10^38), folded back to a long. */
  private def digestExpr(df: DataFrame) =
    pmod(
      sum(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).cast("decimal(38,0)")),
      lit(Long.MaxValue).cast("decimal(38,0)")
    ).cast("long")

  /** DataFrame(dt, n_rows, min_key, max_key, digest), one row per `dt`
    * value of `df` (the store's day partition column). */
  def partitionMetrics(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val digest = digestExpr(df).as("digest")
    df.groupBy(col("dt"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(struct(keyCols.map(col): _*)).as("min_key"),
        max(struct(keyCols.map(col): _*)).as("max_key"),
        digest)
  }

  /** Whole-frame content digest (order-insensitive): equal digests ⇒ equal
    * multisets of rows with overwhelming probability. Used by the
    * resume-equivalence and byte-identity tests. */
  def contentDigest(df: DataFrame): Long = {
    val r = df.agg(digestExpr(df)).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Byte-identity guard for the text payload (input_hint: "per-row
    * invariant vs the reference: byte-identical extracted text per url"):
    * returns offending urls whose text bytes vary across rows — empty
    * result ⇒ invariant holds. Never re-encodes the payload: compares
    * sha2 over the raw bytes. */
  def textIdentityViolations(df: DataFrame, key: String, text: String): DataFrame =
    df.groupBy(col(key))
      .agg(countDistinct(sha2(encode(col(text), "UTF-8"), 256)).as("variants"))
      .where(col("variants") > 1)

  /** Hot-key alarm for order-dependent window features (lag/sessionize/
    * backfill): window partitions are NOT split by AQE, so one pathological
    * key (a url crawled millions of times) silently degrades the whole
    * stage to a single task. Returns the keys whose row count exceeds
    * `maxRows` — empty ⇒ the per-key partitioning is safe to window over.
    * One map-side-combined groupBy; callers gate the window stage on it
    * (associative features can instead route through
    * [[graft.temporal.Salting]], which hot keys do not hurt). */
  def hotKeys(df: DataFrame, key: String, maxRows: Long): DataFrame =
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n_rows"))
      .where(col("n_rows") > maxRows)

  /** Throwing gate over [[hotKeys]]: abort (with the worst offenders named)
    * before planning a window stage that would serialize on one task. */
  def requireNoHotKeys(df: DataFrame, key: String, maxRows: Long): Unit = {
    val top = hotKeys(df, key, maxRows)
      .orderBy(col("n_rows").desc, col(key)).limit(3).collect()
    if (top.nonEmpty) {
      val worst = top.map(r => s"${r.get(0)}=${r.getLong(1)} rows").mkString(", ")
      throw new IllegalStateException(
        s"hot keys exceed $maxRows rows for order-dependent windowing on `$key`: $worst " +
          "(salt associative features or split the offending keys upstream)")
    }
  }

  /** Write a metrics table next to an output path (single small file, rows
    * sorted, so equal tables are byte-equal files). */
  def writeMetrics(metrics: DataFrame, outPath: String): Unit =
    metrics.coalesce(1).sortWithinPartitions(metrics.columns.map(col).toIndexedSeq: _*)
      .write.mode("overwrite").json(outPath)
}
