package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.temporal.{AsOf, Windows}

class TemporalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  lazy val events = Seq(
    ("u1", ts("2024-01-01 00:00:00"), 1.0),
    ("u1", ts("2024-01-02 00:00:00"), 2.0),
    ("u1", ts("2024-01-05 00:00:00"), 3.0),
    ("u2", ts("2024-01-03 00:00:00"), 10.0)
  ).toDF("url", "warc_ts", "v")

  lazy val probes = Seq(
    ("u1", ts("2024-01-01 12:00:00"), "a"), // after e1 -> 1.0
    ("u1", ts("2024-01-02 00:00:00"), "b"), // tie -> inclusive 2.0, strict 1.0
    ("u1", ts("2023-12-31 00:00:00"), "c"), // before all -> null
    ("u2", ts("2024-01-04 00:00:00"), "d"), // -> 10.0
    ("u3", ts("2024-01-04 00:00:00"), "e")  // no events -> null
  ).toDF("url", "label_ts", "label")

  def collectMap(df: org.apache.spark.sql.DataFrame): Map[String, Option[Double]] =
    df.collect().map { r =>
      val i = r.fieldIndex("label"); val vi = r.fieldIndex("v")
      r.getString(i) -> (if (r.isNullAt(vi)) None else Some(r.getDouble(vi)))
    }.toMap

  test("sort-merge as-of join: inclusive ties, missing matches, per-key isolation") {
    val got = collectMap(
      AsOf.sortMerge(events, probes, "url", "warc_ts", "label_ts", Seq("v")))
    assert(got == Map("a" -> Some(1.0), "b" -> Some(2.0), "c" -> None,
      "d" -> Some(10.0), "e" -> None))
  }

  test("strict as-of join excludes equal timestamps") {
    val got = collectMap(
      AsOf.sortMerge(events, probes, "url", "warc_ts", "label_ts", Seq("v"), strict = true))
    assert(got("b").contains(1.0))
    assert(got("a").contains(1.0))
  }

  test("sortMerge keeps DUPLICATE (key, ts) probe rows as separate outputs") {
    // two purchases by one user in the same second with different payloads
    // must each keep their own output row
    val ev = Seq(("u1", ts("2024-01-01 00:00:00"), 5.0)).toDF("url", "warc_ts", "v")
    val dupProbes = Seq(
      ("u1", ts("2024-01-02 00:00:00"), "p1"),
      ("u1", ts("2024-01-02 00:00:00"), "p2")
    ).toDF("url", "label_ts", "label")
    val sm = AsOf.sortMerge(ev, dupProbes, "url", "warc_ts", "label_ts", Seq("v"))
      .collect().map(r => r.getString(r.fieldIndex("label"))).sorted.toSeq
    assert(sm == Seq("p1", "p2"))
  }

  test("tiebreak column makes equal-(key, ts) events deterministic") {
    // two events at the SAME (key, ts) — without a tiebreak the carried
    // value is order-dependent; with one, the greatest tiebreak wins
    val tied = Seq(
      ("u1", ts("2024-01-01 00:00:00"), 1.0, 7L),
      ("u1", ts("2024-01-01 00:00:00"), 2.0, 3L)
    ).toDF("url", "warc_ts", "v", "eid")
    val probe = Seq(("u1", ts("2024-01-02 00:00:00"), "x")).toDF("url", "label_ts", "label")
    val sm = collectMap(AsOf.sortMerge(tied, probe, "url", "warc_ts", "label_ts", Seq("v"),
      tiebreak = Some("eid")))
    assert(sm("x").contains(1.0), "eid 7 > 3, so v=1.0 carries")
  }

  test("sessionize: gap > threshold starts a new session") {
    val got = events.withColumn("sess", Windows.sessionId("url", "warc_ts", 2 * 86400))
      .orderBy("url", "warc_ts")
      .select("url", "sess").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // u1: gaps 1d (<=2d same session), 3d (new session); u2 single row
    assert(got == Seq(("u1", 1L), ("u1", 1L), ("u1", 2L), ("u2", 1L)))
  }

  test("rolling count over trailing 2 days includes current row") {
    val got = events.withColumn("c", Windows.rollingCount("url", "warc_ts", 2 * 86400))
      .orderBy("url", "warc_ts").select("c").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 1L, 1L))
  }

  test("backfill carries last non-null forward, never backward") {
    val d = Seq(
      ("u1", ts("2024-01-01 00:00:00"), null.asInstanceOf[java.lang.Double]),
      ("u1", ts("2024-01-02 00:00:00"), java.lang.Double.valueOf(5.0)),
      ("u1", ts("2024-01-03 00:00:00"), null.asInstanceOf[java.lang.Double])
    ).toDF("url", "warc_ts", "x")
    val got = d.withColumn("bf", Windows.backfill(col("x"), "url", "warc_ts"))
      .orderBy("warc_ts").select("bf").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got == Seq(None, Some(5.0), Some(5.0)))
  }

  test("dedup keeps exactly one row per (key, ts)") {
    val dup = events.union(events)
    val got = Windows.dedupLatest(dup, "url", "warc_ts", Seq(col("v").desc))
    assert(got.count() == 4)
  }

  test("as-of join never leaks future events (truncate-and-recompute)") {
    // recompute on the table truncated at each probe ts and diff — the
    // leakage test mandated by SURVEY §5.
    val joined = AsOf.sortMerge(events, probes, "url", "warc_ts", "label_ts", Seq("v")).collect()
    joined.foreach { r =>
      val url = r.getString(r.fieldIndex("url"))
      val lts = r.getTimestamp(r.fieldIndex("label_ts"))
      val truncated = events.where(col("warc_ts") <= lit(lts))
      val p1 = probes.where(col("label_ts") === lit(lts) && col("url") === url)
      val again = AsOf.sortMerge(truncated, p1, "url", "warc_ts", "label_ts", Seq("v")).collect()
      assert(again.length == 1)
      val vi = r.fieldIndex("v")
      val wi = again(0).fieldIndex("v")
      assert(r.isNullAt(vi) == again(0).isNullAt(wi))
      if (!r.isNullAt(vi)) assert(r.getDouble(vi) == again(0).getDouble(wi))
    }
  }

  test("as-of tolerance: events older than the window are as good as absent") {
    val got = collectMap(AsOf.sortMerge(events, probes, "url", "warc_ts", "label_ts",
      Seq("v"), toleranceSeconds = Some(86400)))
    // probe 'a' at +12h of event 1.0 -> kept; probe 'd' at +1d of event 10.0 -> kept (== tol)
    // probe 'b' ties event at 0s -> kept; 'c'/'e' no event -> null
    assert(got == Map("a" -> Some(1.0), "b" -> Some(2.0), "c" -> None,
      "d" -> Some(10.0), "e" -> None))
    val tight = collectMap(AsOf.sortMerge(events, probes, "url", "warc_ts", "label_ts",
      Seq("v"), toleranceSeconds = Some(3600)))
    assert(tight == Map("a" -> None, "b" -> Some(2.0), "c" -> None,
      "d" -> None, "e" -> None), s"got $tight")
  }

  test("full feature pipeline never leaks: truncate-and-recompute at sampled probes") {
    // north_rule leakage gate over the COMPOSED pipeline (dedup + session +
    // lag + rolling + as-of), not just the join: every feature at
    // (url, label_ts) must be recomputable from rows with warc_ts <= label_ts.
    val full = graft.Bench.featurePipeline(spark, 5000, 500)
    val sample = full.orderBy(xxhash64(col("url"), col("label_ts"))).limit(10).collect()
    val pages = graft.core.PagesGen.pages(spark, 5000, 500)
    val featCols = Seq("text_len", "session_id", "prev_text_len", "revisits_7d", "visit_no")
    sample.foreach { r =>
      val url = r.getString(r.fieldIndex("url"))
      val lts = r.getTimestamp(r.fieldIndex("label_ts"))
      val truncated = pages.where(col("warc_ts") <= lit(lts))
      val slim = truncated.where(col("url") === url).select(
        col("url"), col("warc_ts"), length(col("text")).as("text_len0"), col("lang"))
      val dd = Windows.dedupByLag(slim, "url", "warc_ts", Seq(col("lang")))
      val feat = dd.select(
        col("url"), col("warc_ts"),
        col("text_len0").cast("double").as("text_len"),
        Windows.sessionId("url", "warc_ts", 7 * 86400).as("session_id"),
        lag(col("text_len0"), 1).over(Windows.byKey("url", "warc_ts")).cast("double").as("prev_text_len"),
        Windows.rollingCount("url", "warc_ts", 7 * 86400).cast("double").as("revisits_7d"),
        Windows.revisitIndex("url", "warc_ts").cast("double").as("visit_no"))
        .orderBy(desc("warc_ts")).limit(1).collect()
      assert(feat.length == 1, s"probe $url @$lts")
      featCols.foreach { c =>
        val got = r.get(r.fieldIndex(c))
        val want = feat(0).get(feat(0).fieldIndex(c))
        assert(got == want, s"$c at ($url, $lts): pipeline=$got truncated=$want")
      }
    }
  }

  test("pages generator: text is byte-identical per url; zipf skew present") {
    val pages = graft.core.PagesGen.pages(spark, 2000, 500)
    val distinctTexts = pages.groupBy("url")
      .agg(countDistinct(sha2(col("text"), 256)).as("nt"))
      .agg(max("nt")).head().getLong(0)
    assert(distinctTexts == 1L, "text must be a pure function of url")
    val top = pages.groupBy("url").count().orderBy(desc("count")).head().getLong(1)
    assert(top > 2000 / 500 * 5, "hot url should be well above uniform share")
  }
}
