package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{PagesGen, Store}

class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Parquet file count of every leaf partition directory under `dir`,
    * keyed by its path relative to `dir` (`dt=...` or `dt=.../ub=...`). */
  def filesPerLeaf(dir: String): Map[String, Int] = {
    def leaves(d: java.io.File, rel: String): Seq[(String, Int)] = {
      val subs = d.listFiles().filter(f => f.isDirectory && f.getName.contains("=")).toSeq
      if (subs.isEmpty) Seq(rel -> d.listFiles().count(_.getName.endsWith(".parquet")))
      else subs.flatMap(s => leaves(s, if (rel.isEmpty) s.getName else s"$rel/${s.getName}"))
    }
    leaves(new java.io.File(dir), "").toMap
  }

  test("day-partitioned store prunes partitions for time-bounded scans") {
    val dir = java.nio.file.Files.createTempDirectory("pages-store").toString + "/pages"
    val pages = PagesGen.pages(spark, 5000, 500, days = 30)
    Store.writePages(pages.repartition(16), dir)
    // one file per day partition however many tasks the input had
    val layout = filesPerLeaf(dir)
    assert(layout.size >= 30 && layout.values.forall(_ == 1), s"one file per dt leaf: $layout")

    val all = Store.readPages(spark, dir)
    val cut = new java.sql.Timestamp(
      (PagesGen.baseEpoch + 10L * 86400) * 1000) // day 10 of 30
    val bounded = Store.pagesUpTo(spark, dir, cut)

    // correctness: bounded == full scan filtered
    val want = pages.where(col("warc_ts") <= lit(cut)).count()
    assert(bounded.count() == want)

    // partition pruning: the executed scan reads strictly fewer files
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // executes THIS queryExecution (count() would plan its own)
      val finalPlan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      finalPlan.collectLeaves()
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value }
        .sum
    }
    val allFiles = filesRead(all)
    val boundedFiles = filesRead(bounded)
    assert(boundedFiles < allFiles, s"expected pruning: $boundedFiles < $allFiles")

    // plan shows the dt partition filter
    val plan = bounded.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"), plan)
  }

  test("a read of a store with more than 32 days starts no listing job") {
    // Spark lists more than 32 directories (its default discovery
    // threshold) with a job of one task per directory
    val dir = java.nio.file.Files.createTempDirectory("pages-90d").toString + "/pages"
    Store.writePages(PagesGen.pages(spark, 5000, 500, days = 90), dir)
    assert(filesPerLeaf(dir).size > 32)
    val cut = new java.sql.Timestamp((PagesGen.baseEpoch + 45L * 86400) * 1000)
    for ((read, tasks) <- Seq(
        "readPages" -> TestSpark.jobTasks(Store.readPages(spark, dir)),
        "pagesUpTo" -> TestSpark.jobTasks(Store.pagesUpTo(spark, dir, cut))))
      // at most the 1-task footer read that infers the schema
      assert(tasks.length <= 1 && tasks.forall(_ == 1), s"$read jobs (tasks each): $tasks")
  }

  test("feature sink writes metrics alongside the data") {
    val dir = java.nio.file.Files.createTempDirectory("feat-store").toString + "/features"
    val labels = PagesGen.labels(spark, 1000, 100)
    Store.writeFeatures(labels.repartition(16), dir)
    val metrics = spark.read.json(dir + "_metrics")
    assert(metrics.agg(sum("n_rows")).head().getLong(0) == 1000L)
    val layout = filesPerLeaf(dir)
    assert(layout.nonEmpty && layout.keys.forall(_.startsWith("dt=")) && layout.values.forall(_ == 1),
      s"one file per dt leaf: $layout")
    assert(metrics.columns.contains("digest"))
    val data = spark.read.parquet(dir)
    assert(data.count() == 1000L)
  }

  test("feature sink runs its input's plan once: the metrics read the written store") {
    val dir = java.nio.file.Files.createTempDirectory("feat-once").toString + "/features"
    val labels = PagesGen.labels(spark, 1000, 100)
    val seen = spark.sparkContext.longAccumulator("rows projected")
    val counted = udf { (label: Double) => seen.add(1); label }
    Store.writeFeatures(labels.withColumn("label", counted(col("label"))), dir)
    assert(seen.value == 1000L, s"the input was projected ${seen.value} times for 1000 rows")
    assert(spark.read.json(dir + "_metrics").agg(sum("n_rows")).head().getLong(0) == 1000L)
  }

  test("feature sink metrics: one row per dt directory, equal whatever the input's partitioning") {
    val base = java.nio.file.Files.createTempDirectory("feat-metrics").toString
    val labels = PagesGen.labels(spark, 1000, 100)
    def metricsText(parts: Int): String = {
      val dir = s"$base/p$parts"
      Store.writeFeatures(labels.repartition(parts), dir)
      val files = new java.io.File(dir + "_metrics").listFiles().filter(_.getName.endsWith(".json"))
      assert(files.length == 1, s"one metrics file: ${files.toSeq}")
      new String(java.nio.file.Files.readAllBytes(files.head.toPath), "UTF-8")
    }
    val one = metricsText(1)
    assert(metricsText(7) == one, "_metrics must not depend on the input's partitioning")
    val dir = s"$base/p1"
    val metrics = spark.read.json(dir + "_metrics")
    val perDir = spark.read.parquet(dir).groupBy(col("dt").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perRow = metrics.select(col("dt"), col("n_rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(metrics.count() == perDir.size && perRow == perDir, "one metrics row per dt= directory")
  }

  test("nearDuplicates: candidate-then-verify finds planted near-dups only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
      (3L, "completely different content about spark window functions and joins"),
      (4L, "another unrelated document mentioning parquet column pruning rules")
    ).toDF("doc_id", "text")
    val got = graft.text.Dedup.nearDuplicates(docs, "doc_id", "text",
      n = 3, minJaccard = 0.5, signatures = 16, bands = 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("round-trip through the bucketed layout preserves content") {
    val dir = java.nio.file.Files.createTempDirectory("pages-bucketed").toString + "/pages"
    val pages = PagesGen.pages(spark, 2000, 200)
    Store.writePages(pages.repartition(16), dir, urlBuckets = 4)
    val back = Store.readPages(spark, dir).drop("dt", "ub")
    assert(graft.runtime.Lineage.contentDigest(back.select("url", "warc_ts", "text", "lang")) ==
      graft.runtime.Lineage.contentDigest(pages.select("url", "warc_ts", "text", "lang")))
    // one file per dt=/ub= leaf however many tasks the input had
    val layout = filesPerLeaf(dir)
    assert(layout.nonEmpty && layout.keys.forall(_.matches("dt=[^/]+/ub=[0-3]")) &&
      layout.values.forall(_ == 1), s"one file per dt/ub leaf: $layout")
  }

  test("pagesUpTo prunes on the UTC day whatever the reader's session time zone") {
    val dir = java.nio.file.Files.createTempDirectory("pages-tz").toString + "/pages"
    val pages = PagesGen.pages(spark, 5000, 500, days = 30)
    Store.writePages(pages, dir) // the test session writes in UTC
    val cut = new java.sql.Timestamp(
      (PagesGen.baseEpoch + 10L * 86400 + 6L * 3600) * 1000) // day 10 plus 6 h
    val want = pages.where(col("warc_ts") <= lit(cut)).count()
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    try {
      for (zone <- Seq("UTC", "America/Los_Angeles")) {
        spark.conf.set(key, zone)
        val got = Store.pagesUpTo(spark, dir, cut).count()
        assert(got == want, s"pagesUpTo under $zone returned $got rows, expected $want")
      }
    } finally spark.conf.set(key, saved)
  }
}
