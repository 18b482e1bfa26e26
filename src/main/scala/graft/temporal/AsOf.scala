package graft.temporal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time-correct as-of join: for each probe row (key, probeTs)
  * attach the LATEST event row of the same key with eventTs <= probeTs
  * (strictly < when `strict`).
  *
  * The reference has no joins at all (colino is single-table — SURVEY §2.3);
  * this operator is mandated by the north_rule. [[sortMerge]] scales to
  * 10^12 rows: union-tag both sides, ONE shuffle on `key`, then a
  * `last(_, ignoreNulls = true)` carry-forward window ordered by (ts, side).
  * No row explosion, no range cross-product; cost is a single hash exchange
  * + per-key sort — the same exchange also serves any downstream per-key
  * window features, so callers should compute windowed features on the SAME
  * partitioning before joining.
  *
  * Temporal-leakage guarantee: events sort BEFORE the probe at equal ts only
  * in the inclusive (<=) mode; nothing after probeTs is ever visible because
  * the window frame ends at the current row.
  *
  * Skew: hot keys are split by AQE for the shuffle; for pathological single
  * keys the caller can pre-aggregate events per (key, ts) first (dedup) —
  * see [[Windows.dedupLatest]].
  */
object AsOf {

  /** `tiebreak`: optional event-side column appended to the merge ordering —
    * among events sharing (key, ts), the one with the GREATEST tiebreak
    * value is carried (deterministic). Without it, ties are resolved by
    * upstream [[Windows.dedupLatest]] or are order-dependent. */
  def sortMerge(
      events: DataFrame,
      probes: DataFrame,
      key: String,
      eventTs: String,
      probeTs: String,
      eventCols: Seq[String],
      strict: Boolean = false,
      toleranceSeconds: Option[Long] = None,
      tiebreak: Option[String] = None
  ): DataFrame = {
    val probeCols = probes.columns.filterNot(c => c == key || c == probeTs).toSeq
    // side ordering implements the tie rule: inclusive => event (0) before
    // probe (1) at equal ts; strict => probe first so the event is invisible.
    val (eventSide, probeSide) = if (strict) (1, 0) else (0, 1)

    val e = events.select(
      Seq(col(key), col(eventTs).as("__ts"), lit(eventSide).as("__side"),
        col(eventTs).as("__ets"),
        tiebreak.map(col).getOrElse(lit(0L)).as("__tb")) ++
        eventCols.map(c => col(c).as(s"__e_$c")) ++
        probeCols.map(c => lit(null).cast(probes.schema(c).dataType).as(c)) :+
        lit(null).cast(probes.schema(probeTs).dataType).as(probeTs): _*
    )
    val p = probes.select(
      Seq(col(key), col(probeTs).as("__ts"), lit(probeSide).as("__side"),
        lit(null).cast(events.schema(eventTs).dataType).as("__ets"),
        tiebreak.map(c => lit(null).cast(events.schema(c).dataType))
          .getOrElse(lit(0L)).as("__tb")) ++
        eventCols.map(c => lit(null).cast(events.schema(c).dataType).as(s"__e_$c")) ++
        probeCols.map(col) :+
        col(probeTs): _*
    )
    // __tb sorts nulls (probe rows) FIRST within a tie group, so at equal
    // (ts, side=event) the greatest-tiebreak event is the last row the
    // carry-forward window sees; probe rows keep their side-relative order
    // because __side still precedes __tb.
    val w = Window
      .partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"), col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = e.unionByName(p)
      .select(
        (Seq(col(key), col("__ts"), col("__side"), col(probeTs),
          last(col("__ets"), ignoreNulls = true).over(w).as("__last_ets")) ++
          probeCols.map(col) ++
          eventCols.map(c => last(col(s"__e_$c"), ignoreNulls = true).over(w).as(c))): _*
      )
    val probesOnly = carried.where(col("__side") === probeSide)
    // tolerance: a carried event older than the window is as good as absent
    val tooOld = toleranceSeconds.map { tol =>
      col("__last_ets").isNull ||
        unix_timestamp(col(probeTs)) - unix_timestamp(col("__last_ets")) > tol
    }
    val finalCols = Seq(col(key), col(probeTs)) ++ probeCols.map(col) ++
      eventCols.map { c =>
        tooOld match {
          case Some(cond) => when(cond, lit(null)).otherwise(col(c)).as(c)
          case None       => col(c)
        }
      }
    probesOnly.select(finalCols: _*)
  }
}
