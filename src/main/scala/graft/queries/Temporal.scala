package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.temporal.{AsOf, Salting, Windows}
import Query.t

/** Point-in-time queries over `events`: as-of joins, windows, sessions, revisits. */
object Temporal {
  /** The as-of queries' sides: click events (the carried values) and
    * purchase events (the probes, renamed to `probe_ts` / `purchase_id`). */
  private def clicksAndPurchases(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events")
    val clicks = ev.where(col("event_type") === "click").select("user_id", "ts", "value", "event_id")
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("probe_ts"), col("event_id").as("purchase_id"))
    (clicks, purchases)
  }

  private def eventsWindowed(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events").select(
      col("event_id"),
      lag(col("value"), 1).over(w).as("prev_value"),
      lead(col("event_type"), 1).over(w).as("next_type")
    )
  }

  val all: Seq[Query] = Seq(
    Query("q_asof_join", (s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      AsOf.sortMerge(clicks, purchases, "user_id", "ts", "probe_ts", Seq("value"),
        tiebreak = Some("event_id"))
        .select(col("purchase_id"), col("user_id"), col("probe_ts"), col("value").as("last_click_value"))
        .orderBy("purchase_id")
    }, Some(
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS probe_ts,
        | (SELECT c.value FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_value
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY purchase_id""".stripMargin)),
    // tolerance variant: a carried click older than 10 minutes is as good
    // as absent (the point-in-time feature-freshness bound)
    Query("q_asof_tolerance", (s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      AsOf.sortMerge(clicks, purchases, "user_id", "ts", "probe_ts", Seq("value"),
        toleranceSeconds = Some(600), tiebreak = Some("event_id"))
        .select(col("purchase_id"), col("user_id"), col("probe_ts"), col("value").as("last_click_value"))
        .orderBy("purchase_id")
    }, Some(
      // tolerance applies to the CARRIED event in Spark (null if too old);
      // filtering inside the subquery is equivalent — if the newest click is
      // outside the window, every older one is too. Epoch-second comparison
      // == Spark's unix_timestamp (both truncate to seconds).
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS probe_ts,
        | (SELECT c.value FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
        |     AND CAST(epoch(date_trunc('second', c.ts)) AS BIGINT)
        |         >= CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) - 600
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_value
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY purchase_id""".stripMargin)),
    // standalone revisit dedup: one row per (key, ts) revisit group by
    // deterministic precedence; duplicates synthesized so the fixture
    // actually exercises the drop (a clone of every 3rd event)
    Query("q_dedup_latest", (s, dir) => {
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts", "value")
      val dups = ev.where(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("event_id", col("event_id") + 10000000L)
        .withColumn("value", col("value") + 1.0)
      Windows.dedupLatest(ev.unionByName(dups), "user_id", "ts",
        Seq(col("value").desc, col("event_id")))
        .select("event_id", "user_id", "ts", "value").orderBy("event_id")
    }, Some(
      """WITH un AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, ts, value + 1.0 FROM events WHERE event_id % 3 = 0),
        |k AS (SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY value DESC, event_id) AS rn
        |      FROM un)
        |SELECT event_id, user_id, ts, value FROM k WHERE rn = 1 ORDER BY event_id""".stripMargin)),
    Query("q_lag_lead", (s, dir) => eventsWindowed(s, dir).orderBy("event_id"), Some(
      """SELECT event_id,
        | lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        | lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |FROM events ORDER BY event_id""".stripMargin)),
    // semi-structured prop extraction (the source-side JSON column every
    // event/crawl table carries): built-in get_json_object — a pure
    // map-side projection, no UDF; missing paths are null in both engines
    Query("q_event_props", (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        coalesce(get_json_object(col("props"), "$.missing").cast("long"), lit(-1L))
          .as("k_missing"))
        .orderBy("event_id"), Some(
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  COALESCE(CAST(json_extract(props, '$.missing') AS BIGINT), -1) AS k_missing
        |FROM events ORDER BY event_id""".stripMargin)),
    Query("q_rolling", (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Windows.rollingCount("user_id", "ts", 3600).as("cnt_1h"),
        round(Windows.rollingSum(col("value"), "user_id", "ts", 3600), 2).as("sum_1h")
      ).orderBy("event_id"), Some(
      """SELECT event_id, count(*) OVER w AS cnt_1h, round(sum(value) OVER w, 2) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),
    Query("q_backfill", (s, dir) => {
      val v = when(col("event_type") === "error", lit(null)).otherwise(col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(
        col("event_id"),
        last(v, ignoreNulls = true).over(w).as("filled_value")
      ).orderBy("event_id")
    }, Some(
      """SELECT event_id,
        | last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM events ORDER BY event_id""".stripMargin)),
    Query("q_sessionize", (s, dir) => {
      t(s, dir, "events")
        .withColumn("session_id", Windows.sessionId("user_id", "ts", 1800))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("ts").as("session_start"),
          max("ts").as("session_end"),
          round(sum("value"), 2).as("session_value"))
        .orderBy("user_id", "session_id")
    }, Some(
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |              - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end, round(sum(value), 2) AS session_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),
    Query("q_asof_strict", (s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      AsOf.sortMerge(clicks, purchases, "user_id", "ts", "probe_ts", Seq("value"),
        strict = true, tiebreak = Some("event_id"))
        .select(col("purchase_id"), col("value").as("last_click_value"))
        .orderBy("purchase_id")
    }, Some(
      """SELECT p.event_id AS purchase_id,
        | (SELECT c.value FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts < p.ts
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_value
        |FROM events p WHERE p.event_type = 'purchase' ORDER BY purchase_id""".stripMargin)),
    Query("q_salted_count", (s, dir) =>
      Salting.saltedCount(t(s, dir, "events"), "user_id", col("event_id"), 16)
        .orderBy("user_id"), Some(
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1 ORDER BY user_id")),
    Query("q_revisit_index", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"),
        row_number().over(w).as("visit_no"),
        (unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))).as("gap_sec")
      ).orderBy("event_id")
    }, Some(
      """SELECT event_id,
        | row_number() OVER w AS visit_no,
        | CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   - CAST(epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) AS gap_sec
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin))
  )
}
