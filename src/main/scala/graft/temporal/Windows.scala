package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Windowed feature builders over an entity/time stream (key, ts) — the
  * north_rule feature set: lag, rolling counts, backfill (carry-forward),
  * gap-based sessionization, revisit dedup.
  *
  * Leakage discipline: every feature that feeds a label at time t uses a
  * frame ending at the CURRENT ROW (`ROWS/RANGE ... AND CURRENT ROW`) — no
  * future rows are ever visible.
  *
  * Scale shape: all builders share ONE partitioning —
  * hash-exchange on `key`, sort by ts within partitions — so Catalyst plans a
  * single Exchange reused by every window in the same select. Callers
  * combining several features should apply them in one `select` over the
  * same [[byKey]] spec. Hot-key skew: window partitions are NOT split by
  * AQE; for associative features (counts/sums) use [[Salting]]'s two-phase
  * decomposition; order-dependent features (lag) on a pathological key
  * degrade to a single task — gate the stage with
  * [[graft.runtime.Lineage.requireNoHotKeys]] (or inspect
  * [[graft.runtime.Lineage.hotKeys]]) before windowing. `RunPipeline` does
  * not run the gate: `Types.featureVectors` windows over `url` ungated.
  */
object Windows {

  def byKey(key: String, ts: String): WindowSpec =
    Window.partitionBy(col(key)).orderBy(col(ts))

  def lagCol(c: Column, k: Int, key: String, ts: String): Column =
    lag(c, k).over(byKey(key, ts))

  /** Rolling count of rows in the trailing `seconds` window INCLUDING the
    * current row: RANGE BETWEEN seconds PRECEDING AND CURRENT ROW over the
    * epoch-seconds ordering. */
  def rollingCount(key: String, ts: String, seconds: Long): Column =
    count(lit(1)).over(
      Window
        .partitionBy(col(key))
        .orderBy(unix_timestamp(col(ts)))
        .rangeBetween(-seconds, 0)
    )

  /** Rolling sum of `c` over the trailing `seconds` window. */
  def rollingSum(c: Column, key: String, ts: String, seconds: Long): Column =
    sum(c).over(
      Window
        .partitionBy(col(key))
        .orderBy(unix_timestamp(col(ts)))
        .rangeBetween(-seconds, 0)
    )

  /** Backfill / forward-fill: latest non-null value of `c` at or before the
    * current row. */
  def backfill(c: Column, key: String, ts: String): Column =
    last(c, ignoreNulls = true).over(
      byKey(key, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous row of the same key exceeds `gapSeconds` (or there is no
    * previous row). Returns the 1-based session index per key via the
    * cumulative-flag pattern — leakage-safe (only past rows). */
  def sessionId(key: String, ts: String, gapSeconds: Long): Column = {
    val w = byKey(key, ts)
    val gap = unix_timestamp(col(ts)) - unix_timestamp(lag(col(ts), 1).over(w))
    val newSession = when(gap.isNull || gap > gapSeconds, 1).otherwise(0)
    sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }

  /** Seconds since the previous row of the same key (null for the first). */
  def gapSeconds(key: String, ts: String): Column =
    unix_timestamp(col(ts)) - unix_timestamp(lag(col(ts), 1).over(byKey(key, ts)))

  /** Deduplicate exact (key, ts) revisits keeping one deterministic row:
    * row_number over (key, ts) ordered by the tiebreak columns
    * (north_rule: "late/duplicate crawl revisits handled relationally"). */
  def dedupLatest(df: DataFrame, key: String, ts: String, tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(key), col(ts)).orderBy(tiebreak: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Cumulative per-key revisit index (1-based): how many times this key has
    * been seen up to and including now. */
  def revisitIndex(key: String, ts: String): Column =
    row_number().over(byKey(key, ts))

  /** Dedup exact (key, ts) revisits REUSING the per-key partitioning (one
    * exchange shared with every other window feature, vs the extra
    * (key, ts)-hash exchange of [[dedupLatest]]): keep the first row of each
    * (key, ts) run under the (ts, tiebreak) ordering. */
  def dedupByLag(df: DataFrame, key: String, ts: String, tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts) +: tiebreak: _*)
    df.withColumn("__prev_ts", lag(col(ts), 1).over(w))
      .where(col("__prev_ts").isNull || col("__prev_ts") =!= col(ts))
      .drop("__prev_ts")
  }
}
