package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Manifest-committed variant of the partitioned pages store — the Iceberg
  * commit mechanism reduced to its core, on plain parquet. Layout:
  *
  * {{{
  *   root/data/dt=.../[ub=.../]part-*.parquet   // data files, append-only
  *   root/_manifests/v00000001.json             // one snapshot per version
  * }}}
  *
  * A manifest lists, per partition, the exact data files and row count of
  * one consistent snapshot. Readers resolve the HIGHEST committed version
  * and plan over exactly those files, so a reader NEVER sees an absent or
  * half-swapped partition: compaction adds new files beside the old ones,
  * then commits a new manifest in ONE atomic rename — the only mutation a
  * reader can observe is the pointer flip. Old files become unreferenced
  * ("orphans") and are removed later by [[expireOrphans]] after a grace
  * period, so in-flight readers that planned against the previous snapshot
  * still find their files. Concurrent committers race on the version-file
  * rename (rename-no-overwrite is atomic on HDFS): the loser aborts and
  * its files age out as orphans — optimistic concurrency, no lock.
  *
  * This closes the directory store's documented reader-visibility window
  * (see [[Store.compact]]): there, the swap is two renames with a brief
  * absence between them; here the data files are immutable and the commit
  * is a single pointer. The trade: readers MUST go through [[read]] —
  * directory-listing a snapshot store sees orphans (exactly like listing
  * an Iceberg data dir).
  *
  * Scale bound (documented, not hidden): each snapshot is ONE manifest
  * file with one line per partition listing its data files, so commit,
  * [[manifest]] parse and [[write]]'s `input_file_name` aggregation are
  * O(total files). With [[compact]] keeping partitions near their target
  * file count, a 100-TB store at 1 GB/file is ~10^5 lines — a few MB of
  * JSON, fine to rewrite per commit. Growth beyond that calls for the
  * full Iceberg split (manifest lists + per-partition manifest reuse
  * across commits), which this format deliberately reduces away.
  */
object Snapshot {

  /** One partition of one snapshot. `files` are relative to `root/data`. */
  final case class ManifestEntry(partition: String, rows: Long, files: Seq[String])

  private def fsRoot(spark: SparkSession, path: String): (FileSystem, HPath) =
    Store.storeFs(spark, path)

  private def dataDir(root: HPath) = new HPath(root, "data")
  private def manifestDir(root: HPath) = new HPath(root, "_manifests")
  private def versionFile(root: HPath, v: Int) = new HPath(manifestDir(root), f"v$v%08d.json")

  /** Highest committed manifest version, if any. */
  def currentVersion(fs: FileSystem, root: HPath): Option[Int] = {
    val dir = manifestDir(root)
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case n if n.matches("v\\d{8}\\.json") => n.substring(1, 9).toInt }
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  private def render(entries: Seq[ManifestEntry]): String =
    entries.sortBy(_.partition).map { e =>
      val fl = e.files.sorted.map(f => s""""${esc(f)}"""").mkString("[", ",", "]")
      s"""{"partition":"${esc(e.partition)}","rows":${e.rows},"files":$fl}"""
    }.mkString("", "\n", "\n")

  private def parse(text: String): Seq[ManifestEntry] = {
    import org.json4s._
    text.split('\n').filter(_.nonEmpty).toSeq.map { line =>
      val ast = org.json4s.jackson.JsonMethods.parse(line)
      def fail(w: String): Nothing = throw new IllegalArgumentException(s"corrupt manifest: $w in $line")
      val part = ast \ "partition" match { case JString(v) => v; case _ => fail("partition") }
      val rows = ast \ "rows" match { case JInt(v) => v.toLong; case JLong(v) => v; case _ => fail("rows") }
      val files = ast \ "files" match {
        case JArray(xs) => xs.map { case JString(v) => v; case o => fail(s"file $o") }
        case _ => fail("files")
      }
      ManifestEntry(part, rows, files)
    }
  }

  private def readText(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeText(fs: FileSystem, p: HPath, text: String): Unit = {
    val out = fs.create(p, false)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The commit: write the manifest to a hidden temp name, then ONE rename
    * to `v<N>.json`. The rename is the atomic pointer flip (atomic +
    * no-overwrite on HDFS; POSIX-atomic on file://, where the pre-check
    * guards the overwrite). Losing a commit race throws — the caller's
    * freshly-written data files are left as orphans for [[expireOrphans]].
    */
  private[graft] def commit(fs: FileSystem, root: HPath, v: Int, entries: Seq[ManifestEntry]): Unit = {
    fs.mkdirs(manifestDir(root))
    val target = versionFile(root, v)
    if (fs.exists(target))
      throw new IllegalStateException(s"concurrent commit: $target already exists")
    val tmp = new HPath(manifestDir(root), s".tmp-v$v-${java.util.UUID.randomUUID()}")
    writeText(fs, tmp, render(entries))
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"concurrent commit: rename to $target failed")
    }
  }

  def manifest(spark: SparkSession, path: String): Seq[ManifestEntry] = {
    val (fs, root) = fsRoot(spark, path)
    val v = currentVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $path"))
    parse(readText(fs, versionFile(root, v)))
  }

  /** Create a snapshot store from a pages DataFrame: write day-partitioned
    * (optionally url-bucketed) parquet under `data/`, then commit v1 listing
    * every written file with per-partition row counts (one `input_file_name`
    * aggregation — no per-partition jobs). */
  def write(df: DataFrame, path: String, urlBuckets: Int = 0): Unit = {
    val spark = df.sparkSession
    val (fs, root) = fsRoot(spark, path)
    require(currentVersion(fs, root).isEmpty,
      s"snapshot store already exists at $path — append/replace goes through a new commit, not overwrite")
    val withDt = df.withColumn("dt", Store.utcDay(col("warc_ts")))
    val (out, cols) =
      if (urlBuckets > 0)
        (withDt.withColumn("ub", pmod(xxhash64(col("url")), lit(urlBuckets))), Seq("dt", "ub"))
      else (withDt, Seq("dt"))
    val data = dataDir(root)
    out.write.mode(SaveMode.ErrorIfExists).partitionBy(cols: _*).parquet(data.toString)
    commit(fs, root, 1, listingEntries(spark, fs, data))
  }

  /** Append a pages DataFrame as a NEW snapshot version. The rows are
    * written to a staging directory (so orphans already lying in `data/`
    * can never be picked up or double-counted), the fresh files are moved
    * into their live partition directories (Spark part-file names carry a
    * task/job UUID — globally unique, no collisions), and ONE new manifest
    * is committed merging the current snapshot's entries with the new
    * files. Readers of the previous version are untouched; the commit is
    * the only visible flip. A lost commit race throws after the moves —
    * the moved files are unreferenced orphans that [[expireOrphans]]
    * sweeps, and the append is safely re-runnable. `urlBuckets` must match
    * the layout the store was created with (the manifest is layout-blind;
    * mixing bucketed and unbucketed partitions breaks readers' partition
    *-column recovery). */
  def append(df: DataFrame, path: String, urlBuckets: Int = 0): Unit = {
    val spark = df.sparkSession
    val (fs, root) = fsRoot(spark, path)
    val v = currentVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $path — create with write()"))
    val current = parse(readText(fs, versionFile(root, v)))
    // layout guard: a bucketed store appended without buckets (or vice
    // versa) would commit a mixed dt=/dt=+ub= manifest that breaks every
    // subsequent read's partition-column recovery — reject before writing
    current.headOption.foreach { e =>
      val storeBucketed = e.partition.contains("/ub=")
      require(storeBucketed == (urlBuckets > 0),
        s"layout mismatch: store partitions are ${if (storeBucketed) "dt/ub" else "dt"}-" +
          s"partitioned but append was called with urlBuckets=$urlBuckets")
    }
    val withDt = df.withColumn("dt", Store.utcDay(col("warc_ts")))
    val (out, cols) =
      if (urlBuckets > 0)
        (withDt.withColumn("ub", pmod(xxhash64(col("url")), lit(urlBuckets))), Seq("dt", "ub"))
      else (withDt, Seq("dt"))
    val tmp = new HPath(root, s".append_tmp/${java.util.UUID.randomUUID()}")
    out.write.mode(SaveMode.ErrorIfExists).partitionBy(cols: _*).parquet(tmp.toString)
    val staged = listingEntries(spark, fs, tmp)
    val data = dataDir(root)
    val moved = staged.map { e =>
      val partDir = new HPath(data, e.partition)
      fs.mkdirs(partDir)
      val files = e.files.map { f =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        val src = new HPath(tmp, f)
        val dst = new HPath(partDir, name)
        require(fs.rename(src, dst), s"append move failed: $src -> $dst")
        s"${e.partition}/$name"
      }
      ManifestEntry(e.partition, e.rows, files)
    }
    fs.delete(tmp, true) // only this append's staging dir — concurrent appends keep theirs
    val merged = (current ++ moved).groupBy(_.partition).map { case (p, es) =>
      ManifestEntry(p, es.map(_.rows).sum, es.flatMap(_.files))
    }.toSeq
    commit(fs, root, v + 1, merged)
  }

  /** Per-partition (file list, row count) of everything under `data/`,
    * derived from one distributed aggregation over `input_file_name`. */
  private def listingEntries(spark: SparkSession, fs: FileSystem, data: HPath): Seq[ManifestEntry] = {
    val dataStr = data.toUri.getPath.stripSuffix("/")
    val perFile = spark.read.parquet(data.toString)
      .groupBy(input_file_name().as("f")).count()
      .collect()
      .map { r =>
        val full = new HPath(r.getString(0)).toUri.getPath
        require(full.startsWith(dataStr + "/"), s"file outside data dir: $full")
        (full.stripPrefix(dataStr + "/"), r.getLong(1))
      }
    perFile.groupBy { case (rel, _) => rel.substring(0, rel.lastIndexOf('/')) }
      .map { case (part, fl) =>
        ManifestEntry(part, fl.map(_._2).sum, fl.map(_._1).toSeq)
      }.toSeq
  }

  /** Read the CURRENT snapshot: plan over exactly the manifest's files.
    * `basePath` recovers the dt/ub partition columns from the directory
    * names, same shape as [[Store.readPages]]. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val (fs, root) = fsRoot(spark, path)
    readVersion(spark, path, currentVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $path")))
  }

  /** Read a PINNED snapshot version (time travel; also what an in-flight
    * reader effectively holds while a compaction commits a newer one). */
  def readVersion(spark: SparkSession, path: String, version: Int): DataFrame = {
    val (fs, root) = fsRoot(spark, path)
    val entries = parse(readText(fs, versionFile(root, version)))
    val data = dataDir(root)
    val files = entries.flatMap(_.files).map(f => new HPath(data, f).toString)
    spark.read.option("basePath", data.toString).parquet(files: _*)
  }

  /** Small-files compaction with a snapshot commit — no reader-visible
    * window. Per fragmented partition (files > ceil(rows/rowsPerFile)):
    * rewrite THE MANIFEST'S files into `.compact_tmp`, validate the row
    * count against the manifest, move the new files into the live partition
    * dir (fresh UUID names — no collisions), then commit ONE new manifest
    * covering all rewritten partitions. Old files are left in place as
    * orphans (readers of the previous snapshot still need them) for
    * [[expireOrphans]]. Partition rewrites run concurrently on a bounded
    * driver pool, same rationale as [[Store.compact]]. */
  def compact(
      spark: SparkSession,
      path: String,
      rowsPerFile: Long = 1000000L,
      maxConcurrent: Int = 4
  ): Seq[Store.CompactionResult] = {
    require(rowsPerFile >= 1, "rowsPerFile must be >= 1")
    require(maxConcurrent >= 1, "maxConcurrent must be >= 1")
    val (fs, root) = fsRoot(spark, path)
    val v = currentVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $path"))
    val entries = parse(readText(fs, versionFile(root, v)))
    val data = dataDir(root)
    def wantFiles(e: ManifestEntry): Int =
      math.max(1L, (e.rows + rowsPerFile - 1) / rowsPerFile).toInt
    val fragmented = entries.filter(e => e.files.size > wantFiles(e))
    if (fragmented.isEmpty) return Nil

    def rewriteOne(e: ManifestEntry): (ManifestEntry, Store.CompactionResult) = {
      val tmp = new HPath(root, s".compact_tmp/${java.util.UUID.randomUUID()}")
      val src = e.files.map(f => new HPath(data, f).toString)
      spark.read.parquet(src: _*)
        .repartition(wantFiles(e))
        .write.mode(SaveMode.ErrorIfExists).parquet(tmp.toString)
      val rewritten = spark.read.parquet(tmp.toString).count()
      require(rewritten == e.rows,
        s"compaction of ${e.partition} rewrote $rewritten rows, expected ${e.rows} — snapshot not committed")
      val partDir = new HPath(data, e.partition)
      val moved = fs.listStatus(tmp).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .map { p =>
          require(fs.rename(p, new HPath(partDir, p.getName)), s"move failed: $p")
          s"${e.partition}/${p.getName}"
        }
      fs.delete(tmp, true)
      (ManifestEntry(e.partition, e.rows, moved),
        Store.CompactionResult(e.partition, e.files.size, moved.size, e.rows))
    }

    val rewrittenResults =
      graft.runtime.DriverPool.boundedParallel(fragmented, maxConcurrent)(rewriteOne)

    val rewrittenByPart = rewrittenResults.map { case (e, _) => e.partition -> e }.toMap
    val next = entries.map(e => rewrittenByPart.getOrElse(e.partition, e))
    commit(fs, root, v + 1, next)
    // NO blanket .compact_tmp delete here: concurrent compactors are
    // sanctioned (they lose the version CAS, not their staging mid-write);
    // each rewriteOne deletes its own UUID dir, and crashed runs' residue
    // ages out via expireOrphans
    rewrittenResults.map(_._2).sortBy(_.partition)
  }

  /** Snapshot expiry: delete data files not referenced by the CURRENT
    * manifest, and superseded manifest versions, once older than
    * `graceMillis` (long enough for any in-flight reader of a previous
    * snapshot to finish — the Iceberg `expire_snapshots` contract).
    * Returns the deleted paths. Also sweeps crashed compactions' and
    * appends' `.compact_tmp`/`.append_tmp` residue past the same grace. */
  def expireOrphans(spark: SparkSession, path: String, graceMillis: Long = 3600L * 1000): Seq[String] = {
    require(graceMillis >= 0, "graceMillis must be >= 0")
    val (fs, root) = fsRoot(spark, path)
    val v = currentVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $path"))
    val cutoff = System.currentTimeMillis() - graceMillis
    val referenced = parse(readText(fs, versionFile(root, v))).flatMap(_.files).toSet
    val data = dataDir(root)
    val dataStr = data.toUri.getPath.stripSuffix("/")
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def sweep(d: HPath): Unit =
      if (fs.exists(d)) fs.listStatus(d).foreach { s =>
        if (s.isDirectory) sweep(s.getPath)
        else {
          val rel = s.getPath.toUri.getPath.stripPrefix(dataStr + "/")
          val isData = s.getPath.getName.endsWith(".parquet")
          if (isData && !referenced.contains(rel) && s.getModificationTime < cutoff) {
            if (fs.delete(s.getPath, false)) deleted += rel
          }
        }
      }
    sweep(data)
    val mdir = manifestDir(root)
    fs.listStatus(mdir).foreach { s =>
      val n = s.getPath.getName
      val stale =
        (n.matches("v\\d{8}\\.json") && n.substring(1, 9).toInt < v) || n.startsWith(".tmp-")
      if (stale && s.getModificationTime < cutoff) {
        if (fs.delete(s.getPath, false)) deleted += s"_manifests/$n"
      }
    }
    Seq(".compact_tmp", ".append_tmp").foreach { t =>
      val tmpRoot = new HPath(root, t)
      if (fs.exists(tmpRoot)) {
        // sweep each staging UUID dir by the NEWEST mtime anywhere inside
        // it: an in-flight append/compact keeps writing files, so a long
        // write phase never looks stale (the root dir's own mtime froze at
        // staging creation, and overwriting a file does not touch it), while a
        // crashed run's residue genuinely ages out
        // a concurrent compact/append may delete its own staging dir at
        // any point during this walk (that's its normal cleanup) — a
        // vanished path just means "already gone", never an expiry failure
        def newest(p: HPath): Long =
          try {
            val st = fs.getFileStatus(p)
            if (!st.isDirectory) st.getModificationTime
            else (st.getModificationTime +:
              fs.listStatus(p).toSeq.map(s => newest(s.getPath))).max
          } catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        val children =
          try fs.listStatus(tmpRoot).toSeq
          catch { case _: java.io.FileNotFoundException => Seq.empty }
        children.foreach { child =>
          val fresh = newest(child.getPath)
          if (fresh < cutoff &&
              (try fs.delete(child.getPath, true)
               catch { case _: java.io.FileNotFoundException => false }))
            deleted += s"$t/${child.getPath.getName}"
        }
        try if (fs.exists(tmpRoot) && fs.listStatus(tmpRoot).isEmpty) fs.delete(tmpRoot, false)
        catch { case _: java.io.FileNotFoundException | _: java.io.IOException => () }
      }
    }
    deleted.toSeq
  }
}
