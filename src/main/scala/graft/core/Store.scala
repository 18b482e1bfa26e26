package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table layout for the pages corpus — the Iceberg layout from SURVEY §1.4
  * (`partitioned by days(warc_ts), bucketed by url`) expressed on plain
  * parquet, which is what this sandbox ships (no Iceberg jar): a `dt` day
  * partition column + optional url-hash bucket column. On a real deployment
  * the same calls switch to `df.writeTo(table).partitionedBy(days($"warc_ts"),
  * bucket(N, $"url"))` with no other code change — every reader below goes
  * through time predicates that prune partitions either way.
  */
object Store {

  /** Write pages partitioned by crawl day (and optionally url buckets).
    * Day partitioning makes label-time predicates prune whole directories;
    * bucketing co-locates a url's revisits for the as-of/window exchange. */
  def writePages(df: DataFrame, path: String, urlBuckets: Int = 0): Unit = {
    val withDt = df.withColumn("dt", utcDay(col("warc_ts")))
    val (out, cols) =
      if (urlBuckets > 0)
        (withDt.withColumn("ub", pmod(xxhash64(col("url")), lit(urlBuckets))), Seq("dt", "ub"))
      else (withDt, Seq("dt"))
    writePartitioned(out, cols, path)
  }

  /** The UTC calendar day of a timestamp — the one `dt` derivation for every
    * writer and every prune bound in `core`. `to_date` would use the
    * session time zone, so a store written under one zone and pruned under
    * another would cut at the wrong day boundary and silently drop rows. */
  private[graft] def utcDay(ts: Column): Column =
    date_from_unix_date(floor(unix_seconds(ts) / 86400).cast("int"))

  /** Overwrite `path` partitioned by `cols`, with rows clustered by those
    * columns first — the hash distribution Iceberg applies to a partitioned
    * table. Without it every write task opens one file in every partition
    * it touches (tasks × days small files). REBALANCE rather than
    * `repartition(cols)`: AQE splits a partition larger than
    * `advisoryPartitionSizeInBytes` across several tasks (several files)
    * and coalesces small ones, so a hot day is never funnelled through a
    * single task. */
  private def writePartitioned(df: DataFrame, cols: Seq[String], path: String): Unit =
    df.hint("rebalance", cols.map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  def readPages(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Time-bounded scan: the `dt` predicate prunes day partitions at
    * planning time (no file listing for excluded days), the `warc_ts`
    * predicate is pushed to parquet row groups. Use for every
    * "features as of T" computation — nothing after maxTs is even read,
    * which also makes temporal leakage structurally impossible at the scan.
    */
  def pagesUpTo(spark: SparkSession, path: String, maxTs: java.sql.Timestamp): DataFrame =
    readPages(spark, path)
      .where(col("dt") <= utcDay(lit(maxTs)) && col("warc_ts") <= lit(maxTs))

  /** Feature-vector sink with lineage: writes the data partitioned by label
    * day plus a `_metrics` JSON table with one row per `dt` partition (row
    * count, label-time bounds, content digest; north_rule: metrics
    * alongside outputs). */
  def writeFeatures(df: DataFrame, path: String, labelTs: String = "label_ts"): Unit = {
    val withDt = df.withColumn("dt", utcDay(col(labelTs)))
    writePartitioned(withDt, Seq("dt"), path)
    graft.runtime.Lineage.writeMetrics(
      graft.runtime.Lineage.partitionMetrics(withDt, Seq(labelTs)), path + "_metrics")
  }

  /** One compaction result row. `partition` is the path relative to the
    * store root (e.g. `dt=2024-01-01` or `dt=2024-01-01/ub=3`). */
  final case class CompactionResult(partition: String, filesBefore: Int, filesAfter: Int, rows: Long)

  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  /** Resolve the store root through the Hadoop FileSystem API so the same
    * code runs on `file://`, HDFS, S3A, ABFS — wherever a 100-TB store
    * actually lives. Local paths qualify against the default FS. */
  private[graft] def storeFs(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def exists(fs: FileSystem, p: HPath): Boolean = fs.exists(p)
  private def rmRec(fs: FileSystem, p: HPath): Unit = if (fs.exists(p)) fs.delete(p, true)
  private def listDir(fs: FileSystem, p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
    if (fs.exists(p)) fs.listStatus(p).toSeq else Nil

  /** The directories that directly hold parquet files — one per LEAF
    * partition, so the `dt=`-only and the `dt=`/`ub=` bucketed layouts both
    * compact correctly (rewriting a leaf in place never folds inferred
    * partition columns into the data files). */
  private def leafDirs(fs: FileSystem, d: HPath): Seq[HPath] = {
    val subs = listDir(fs, d).filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
    if (subs.isEmpty) Seq(d) else subs.flatMap(s => leafDirs(fs, s.getPath))
  }

  private def relTo(root: HPath, p: HPath): String = {
    val rootStr = root.toUri.getPath.stripSuffix("/")
    val pStr = p.toUri.getPath
    require(pStr.startsWith(rootStr + "/"), s"$p not under $root")
    pStr.stripPrefix(rootStr + "/")
  }

  /** Mutual exclusion for [[compact]]: an atomic create of `.compact_lock`
    * (create(overwrite=false) is the portable atomic-claim primitive on
    * HDFS and object stores with conditional-put). A concurrent compact()
    * fails fast instead of colliding with an in-flight swap's tmp/trash
    * cleanup. A crash leaves a stale lock by design — the operator deletes
    * it once the dead run is confirmed, exactly like a pid file. */
  private def acquireLock(fs: FileSystem, root: HPath): HPath = {
    val lock = new HPath(root, ".compact_lock")
    val out =
      try fs.create(lock, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"another compact() appears to hold $lock — if that run is dead, delete the lock file", e)
      }
    out.close(); lock
  }

  /** Small-files compaction for the partitioned parquet store: an
    * incremental writer (hourly crawl drops, streaming sinks) accumulates
    * many tiny files per partition, and at corpus scale file-open overhead
    * plus driver file listing dominate scans long before data volume does.
    * Each fragmented LEAF partition (dt= or dt=/ub=) is rewritten into
    * ceil(rows / rowsPerFile) files.
    *
    * All filesystem mutation goes through `org.apache.hadoop.fs.FileSystem`
    * (rename is atomic on HDFS; on `file://` it maps to POSIX rename), so
    * the same code compacts a local test store and a cluster store.
    * Independent leaf partitions are rewritten CONCURRENTLY — a bounded
    * driver thread pool (`maxConcurrent`) submits one Spark job chain per
    * partition, so thousands of day×bucket partitions don't serialize into
    * thousands of back-to-back jobs while executors idle.
    *
    * Protocol per partition: rewrite into `.compact_tmp`, VALIDATE the
    * rewrite's row count against the source before anything is touched,
    * rename the original into `.compact_trash`, rename the rewrite in, then
    * drop the trash. The original is therefore never deleted until a
    * verified replacement is in place, and a crash between the two renames
    * is repaired by the recovery sweep at the START of the next compact()
    * (any trash entry whose live partition is missing is moved back; stale
    * tmp/trash from completed swaps is cleared). Writers are serialized by
    * a `.compact_lock` claim. Honest caveat: between the two renames the
    * partition is briefly ABSENT for a reader doing directory-listing
    * partition discovery — schedule off-peak, or use the manifest-committed
    * [[Snapshot]] store whose compaction swaps a single pointer and has no
    * such window. */
  def compact(
      spark: SparkSession,
      path: String,
      rowsPerFile: Long = 1000000L,
      partitions: Seq[String] = Nil,
      maxConcurrent: Int = 4
  ): Seq[CompactionResult] = {
    require(rowsPerFile >= 1, "rowsPerFile must be >= 1")
    require(maxConcurrent >= 1, "maxConcurrent must be >= 1")
    val (fs, root) = storeFs(spark, path)
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"store path does not exist: $path")
    val lock = acquireLock(fs, root)
    try {
      // recovery sweep: repair any interrupted swap before doing new work
      val trashRoot = new HPath(root, ".compact_trash")
      if (exists(fs, trashRoot))
        leafDirs(fs, trashRoot).filterNot(_ == trashRoot).foreach { t =>
          val live = new HPath(root, relTo(trashRoot, t))
          if (!exists(fs, live)) {
            fs.mkdirs(live.getParent)
            require(fs.rename(t, live), s"recovery restore failed: $t -> $live")
          }
        }
      rmRec(fs, trashRoot)
      rmRec(fs, new HPath(root, ".compact_tmp"))

      val targets: Seq[String] =
        if (partitions.nonEmpty) {
          partitions.foreach { p =>
            val hp = new HPath(root, p)
            require(fs.exists(hp) && fs.getFileStatus(hp).isDirectory,
              s"no such partition under $path: $p")
          }
          partitions.flatMap(p => leafDirs(fs, new HPath(root, p)))
            .map(relTo(root, _)).sorted
        } else
          leafDirs(fs, root).filterNot(_ == root).map(relTo(root, _)).sorted

      def compactOne(part: String): Option[CompactionResult] = {
        val dir = new HPath(root, part)
        val dataFiles = listDir(fs, dir).filter(_.getPath.getName.endsWith(".parquet"))
        val df = spark.read.parquet(dir.toString)
        val rows = df.count()
        val want = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
        if (dataFiles.size <= want) None
        else {
          val tmp = new HPath(root, s".compact_tmp/$part")
          df.repartition(want).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          val rewritten = spark.read.parquet(tmp.toString).count()
          require(rewritten == rows,
            s"compaction of $part rewrote $rewritten rows, expected $rows — original left untouched")
          val trash = new HPath(root, s".compact_trash/$part")
          rmRec(fs, trash) // stale entry from a completed historical swap
          fs.mkdirs(trash.getParent)
          require(fs.rename(dir, trash), s"swap-out rename failed for $part")
          require(fs.rename(tmp, dir), s"swap-in rename failed for $part")
          rmRec(fs, trash)
          val after = listDir(fs, dir).count(_.getPath.getName.endsWith(".parquet"))
          Some(CompactionResult(part, dataFiles.size, after, rows))
        }
      }

      // bounded parallel rewrites: leaf partitions are disjoint directory
      // trees, so their rewrite+swap sequences are independent
      graft.runtime.DriverPool.boundedParallel(targets, maxConcurrent)(compactOne).flatten
    } finally fs.delete(lock, false)
  }
}
