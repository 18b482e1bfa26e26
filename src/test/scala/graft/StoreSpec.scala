package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{PagesGen, Store}

class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** An incremental writer's layout: the store's `dt` (and `ub`) partitions
    * written straight from `df`'s partitions, so every task leaves one small
    * file in every day it touches. `Store.writePages` clusters by partition
    * first, so compaction fixtures build their fragmentation here. */
  def writeFragmented(df: org.apache.spark.sql.DataFrame, dir: String, urlBuckets: Int = 0): Unit = {
    val withDt = df.withColumn("dt", Store.utcDay(col("warc_ts")))
    val (out, cols) =
      if (urlBuckets > 0)
        (withDt.withColumn("ub", pmod(xxhash64(col("url")), lit(urlBuckets))), Seq("dt", "ub"))
      else (withDt, Seq("dt"))
    out.write.mode("overwrite").partitionBy(cols: _*).parquet(dir)
  }

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

  test("compaction merges small files per partition, preserves content, skips compact partitions") {
    val dir = java.nio.file.Files.createTempDirectory("pages-compact").toString + "/pages"
    val pages = PagesGen.pages(spark, 2000, 200, days = 4)
    // simulate an incremental writer: many tiny files per day partition
    writeFragmented(pages.repartition(16), dir)
    val before = Store.readPages(spark, dir)
      .select("url", "warc_ts", "text").collect().sortBy(r => (r.getString(0), r.getTimestamp(1).getTime))
    def fileCount(part: String) =
      new java.io.File(dir, part).listFiles().count(_.getName.endsWith(".parquet"))
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("dt=")).map(_.getName).sorted
    assert(parts.forall(fileCount(_) > 1), "fixture must start fragmented")

    val results = Store.compact(spark, dir, rowsPerFile = 1000000L)
    assert(results.map(_.partition).sorted.toSeq == parts.toSeq, "every fragmented partition compacts")
    results.foreach { r =>
      assert(r.filesAfter == 1 && r.filesBefore > 1, r.toString)
      assert(fileCount(r.partition) == 1)
    }
    // content byte-identical after the swap
    val after = Store.readPages(spark, dir)
      .select("url", "warc_ts", "text").collect().sortBy(r => (r.getString(0), r.getTimestamp(1).getTime))
    assert(after.map(_.toString).toSeq == before.map(_.toString).toSeq)
    // second pass: nothing to do (all partitions already at target)
    assert(Store.compact(spark, dir, rowsPerFile = 1000000L).isEmpty)
    // no temp/trash residue
    assert(!new java.io.File(dir, ".compact_tmp").exists() || new java.io.File(dir, ".compact_tmp").listFiles().isEmpty)
    assert(!new java.io.File(dir, ".compact_trash").exists() || new java.io.File(dir, ".compact_trash").listFiles().isEmpty)
  }

  test("compaction: bucketed leaves, interrupted-swap recovery, clean failures") {
    val dir = java.nio.file.Files.createTempDirectory("pages-compact2").toString + "/pages"
    val pages = PagesGen.pages(spark, 1200, 120, days = 2)
    writeFragmented(pages.repartition(8), dir, urlBuckets = 2)
    val before = Store.readPages(spark, dir)
      .select("url", "warc_ts", "text").collect()
      .map(_.toString).sorted.toSeq
    // bucketed layout: compaction targets the dt=/ub= LEAF dirs
    val results = Store.compact(spark, dir, rowsPerFile = 1000000L)
    assert(results.nonEmpty && results.forall(r => r.partition.contains("ub=") && r.filesAfter == 1),
      s"leaf partitions must compact: $results")
    val after = Store.readPages(spark, dir)
      .select("url", "warc_ts", "text").collect().map(_.toString).sorted.toSeq
    assert(after == before)
    // interrupted swap: a partition stranded in trash (crash between the two
    // renames) is restored by the recovery sweep at the next compact()
    val victim = new java.io.File(dir, results.head.partition)
    val trash = new java.io.File(dir, ".compact_trash/" + results.head.partition)
    trash.getParentFile.mkdirs()
    java.nio.file.Files.move(victim.toPath, trash.toPath)
    assert(!victim.exists())
    Store.compact(spark, dir, rowsPerFile = 1000000L)
    assert(victim.exists(), "recovery sweep must restore the stranded partition")
    val recovered = Store.readPages(spark, dir)
      .select("url", "warc_ts", "text").collect().map(_.toString).sorted.toSeq
    assert(recovered == before, "no data lost across the simulated crash")
    // clean failures instead of NPEs
    intercept[IllegalArgumentException](Store.compact(spark, dir + "/nope"))
    intercept[IllegalArgumentException](
      Store.compact(spark, dir, partitions = Seq("dt=2099-01-01")))
  }

  test("compaction: lock file serializes concurrent writers") {
    val dir = java.nio.file.Files.createTempDirectory("pages-lock").toString + "/pages"
    val pages = core.PagesGen.pages(spark, 600, 60, days = 2)
    writeFragmented(pages.repartition(6), dir)
    // a held lock makes a second compact fail fast instead of colliding
    val lock = new java.io.File(dir, ".compact_lock")
    assert(lock.createNewFile())
    intercept[IllegalStateException](Store.compact(spark, dir))
    assert(lock.delete())
    // and the lock is released on completion (success path)
    val results = Store.compact(spark, dir, rowsPerFile = 1000000L)
    assert(results.nonEmpty && !lock.exists())
    // ... and on the failure path too
    intercept[IllegalArgumentException](
      Store.compact(spark, dir, partitions = Seq("dt=2099-01-01")))
    assert(!lock.exists(), "lock must be released when compact() throws")
  }

  test("compaction: concurrent partition rewrites preserve content") {
    val dir = java.nio.file.Files.createTempDirectory("pages-par").toString + "/pages"
    val pages = core.PagesGen.pages(spark, 4000, 400, days = 8)
    writeFragmented(pages.repartition(12), dir)
    val before = Store.readPages(spark, dir)
      .select("url", "warc_ts", "text").collect().map(_.toString).sorted.toSeq
    val nParts = new java.io.File(dir).listFiles().count(_.getName.startsWith("dt="))
    val results = Store.compact(spark, dir, rowsPerFile = 1000000L, maxConcurrent = 8)
    assert(results.size == nParts, s"all $nParts day partitions compact: $results")
    assert(results.forall(_.filesAfter == 1))
    val after = Store.readPages(spark, dir)
      .select("url", "warc_ts", "text").collect().map(_.toString).sorted.toSeq
    assert(after == before, "parallel rewrites must not lose or duplicate rows")
  }

  test("snapshot store: write/read round-trip and manifest shape") {
    val dir = java.nio.file.Files.createTempDirectory("snap-store").toString + "/pages"
    val pages = core.PagesGen.pages(spark, 1500, 150, days = 3)
    core.Snapshot.write(pages.repartition(9), dir)
    val back = core.Snapshot.read(spark, dir)
    assert(back.columns.contains("dt"), "partition column recovered via basePath")
    assert(graft.runtime.Lineage.contentDigest(back.select("url", "warc_ts", "text", "lang")) ==
      graft.runtime.Lineage.contentDigest(pages.select("url", "warc_ts", "text", "lang")))
    val m = core.Snapshot.manifest(spark, dir)
    assert(m.map(_.rows).sum == 1500L)
    assert(m.forall(e => e.files.nonEmpty && e.files.forall(_.startsWith(e.partition + "/"))))
    // double-create refused
    intercept[IllegalArgumentException](core.Snapshot.write(pages, dir))
  }

  test("snapshot compaction: no reader-visible window, pinned reads survive, orphans expire") {
    val dir = java.nio.file.Files.createTempDirectory("snap-compact").toString + "/pages"
    val pages = core.PagesGen.pages(spark, 2000, 200, days = 4)
    core.Snapshot.write(pages.repartition(16), dir, urlBuckets = 2)
    val before = core.Snapshot.read(spark, dir)
      .select("url", "warc_ts", "text").collect().map(_.toString).sorted.toSeq
    val fragParts = core.Snapshot.manifest(spark, dir).count(_.files.size > 1)
    assert(fragParts > 0, "fixture must start fragmented")

    // a reader planning against v1 BEFORE compaction...
    val pinnedReader = core.Snapshot.readVersion(spark, dir, 1)
      .select("url", "warc_ts", "text")

    val results = core.Snapshot.compact(spark, dir, rowsPerFile = 1000000L, maxConcurrent = 4)
    assert(results.size == fragParts && results.forall(r => r.filesAfter == 1 && r.filesBefore > 1))

    // ...still executes correctly AFTER the commit (old files retained as orphans)
    assert(pinnedReader.collect().map(_.toString).sorted.toSeq == before,
      "in-flight reader of the previous snapshot must not break")
    // the new snapshot is complete and byte-identical — no absence window at any point
    val after = core.Snapshot.read(spark, dir)
      .select("url", "warc_ts", "text").collect().map(_.toString).sorted.toSeq
    assert(after == before)
    // second compaction is a no-op
    assert(core.Snapshot.compact(spark, dir, rowsPerFile = 1000000L).isEmpty)

    // crash-mid-compact simulation: stray files in a partition dir are invisible
    // to manifest readers and swept by expiry
    val anyPart = core.Snapshot.manifest(spark, dir).head.partition
    val stray = new java.io.File(dir, s"data/$anyPart/stray-${java.util.UUID.randomUUID()}.parquet")
    java.nio.file.Files.copy(
      new java.io.File(dir, "data/" + core.Snapshot.manifest(spark, dir).head.files.head).toPath,
      stray.toPath)
    assert(core.Snapshot.read(spark, dir)
      .select("url").count() == 2000L, "manifest reader ignores unreferenced files")

    // orphan expiry with zero grace removes v1's superseded files, the stray,
    // and the old manifest — and the store still reads back identically
    val removed = core.Snapshot.expireOrphans(spark, dir, graceMillis = 0L)
    assert(removed.exists(_.endsWith(stray.getName)), s"stray not expired: $removed")
    assert(removed.contains("_manifests/v00000001.json"))
    val finalRead = core.Snapshot.read(spark, dir)
      .select("url", "warc_ts", "text").collect().map(_.toString).sorted.toSeq
    assert(finalRead == before)
    // expiry is idempotent once clean
    assert(core.Snapshot.expireOrphans(spark, dir, graceMillis = 0L).isEmpty)
  }

  test("snapshot commit: version CAS refuses a concurrent commit") {
    val dir = java.nio.file.Files.createTempDirectory("snap-cas").toString + "/pages"
    val pages = core.PagesGen.pages(spark, 800, 80, days = 2)
    core.Snapshot.write(pages.repartition(8), dir)
    // a racing committer targeting an already-claimed version loses the CAS
    val (fs, root) = core.Store.storeFs(spark, dir)
    intercept[IllegalStateException](core.Snapshot.commit(fs, root, 1, Nil))
    // the committed snapshot is intact and the loser left no manifest behind
    assert(core.Snapshot.read(spark, dir).count() == 800L)
    assert(!new java.io.File(dir, "_manifests").listFiles().exists(_.getName.startsWith(".tmp-")))
  }

  test("snapshot append: merged manifest, pinned old version, orphan expiry keeps appended files") {
    val dir = java.nio.file.Files.createTempDirectory("snap-append").toString + "/pages"
    val p1 = core.PagesGen.pages(spark, 1200, 120, days = 3)
    core.Snapshot.write(p1.repartition(6), dir)
    val p2 = core.PagesGen.pages(spark, 700, 70, days = 5) // overlaps p1's days + adds new ones
    core.Snapshot.append(p2.repartition(4), dir)
    val (fs, root) = core.Store.storeFs(spark, dir)
    assert(core.Snapshot.currentVersion(fs, root).contains(2))
    val all = core.Snapshot.read(spark, dir)
    assert(all.count() == 1900L)
    assert(graft.runtime.Lineage.contentDigest(all.select("url", "warc_ts", "text", "lang")) ==
      graft.runtime.Lineage.contentDigest(
        p1.select("url", "warc_ts", "text", "lang").union(p2.select("url", "warc_ts", "text", "lang"))))
    // a reader pinned to v1 still sees exactly the original batch
    assert(core.Snapshot.readVersion(spark, dir, 1).count() == 1200L)
    // merged entries: no duplicate files, every file under its partition
    val m = core.Snapshot.manifest(spark, dir)
    assert(m.map(_.rows).sum == 1900L)
    assert(m.flatMap(_.files).distinct.size == m.flatMap(_.files).size)
    assert(m.forall(e => e.files.forall(_.startsWith(e.partition + "/"))))
    // expiry removes only the superseded manifest — every data file is still referenced
    core.Snapshot.expireOrphans(spark, dir, graceMillis = 0L)
    assert(core.Snapshot.read(spark, dir).count() == 1900L)
    // append refuses a path with no committed snapshot
    intercept[IllegalArgumentException](core.Snapshot.append(p2, dir + "-nope"))
    // layout guard: this store is dt-partitioned — a bucketed append would
    // commit a mixed manifest that breaks partition-column recovery
    intercept[IllegalArgumentException](core.Snapshot.append(p2, dir, urlBuckets = 2))
    // in-flight staging protection: expiry judges a staging dir by the
    // NEWEST mtime inside it, so a long-running append whose dir mtime
    // froze at creation is never swept while it still writes
    import java.nio.file.attribute.FileTime
    val staging = new java.io.File(dir, ".append_tmp/uuid-inflight")
    staging.mkdirs()
    val part = new java.io.File(staging, "part-0.parquet")
    java.nio.file.Files.write(part.toPath, Array[Byte](1, 2, 3))
    java.nio.file.Files.setLastModifiedTime(staging.toPath, FileTime.fromMillis(1000000L))
    assert(!core.Snapshot.expireOrphans(spark, dir, graceMillis = 60000L)
      .exists(_.contains("uuid-inflight")), "fresh file inside must protect the staging dir")
    assert(staging.exists)
    // once the contents are stale too, the residue is swept
    java.nio.file.Files.setLastModifiedTime(part.toPath, FileTime.fromMillis(1000000L))
    java.nio.file.Files.setLastModifiedTime(staging.toPath, FileTime.fromMillis(1000000L))
    assert(core.Snapshot.expireOrphans(spark, dir, graceMillis = 60000L)
      .exists(_.contains("uuid-inflight")))
    assert(!staging.exists)
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
