package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local sandbox runs on local[N]; on a real cluster the same config applies
  * minus `master`. AQE is on for skew-join splitting + runtime coalescing
  * (north_rule: "skewed hot urls handled with salting plus AQE skew-join
  * splitting").
  */
object GraftSession {
  def builder(cores: Int = 32): SparkSession.Builder = {
    // Local-mode shuffle files on tmpfs when available: a 32-thread local
    // run otherwise serializes on one spinning /tmp volume, which a real
    // cluster (one local SSD set per executor) does not do.
    val localDir =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/spark-local" else null
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("colinospark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's coalescing floor (default 1m) is sized for byte-bound
      // stages; the engine's count/rank tables are NARROW and CPU-dense
      // (a <1 MB partition can carry 10^6 hash-agg rows), so the default
      // floor coalesces compute-bound stages onto 2-3 cores. A lower
      // floor only affects shuffles whose partitions are already tiny in
      // bytes — at deployment scale (>>1 MB per partition) it is inert,
      // and parallelismFirst (default true) still targets cluster
      // parallelism rather than this floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOT set (tried round 6, measured neutral-to-negative on the join
      // family here): spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold
      // — the engine's shuffle joins either broadcast already or carry
      // sort-cheap narrow keys, so the SMJ→SHJ rewrite bought nothing
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // List partition directories on the driver. Past the default
      // threshold (32 paths) Spark lists them with a job of one task per
      // directory, and each task deserializes the Hadoop configuration its
      // closure captures: 10-12 ms of executor CPU per task, ~1 s per read of
      // a 91-day store (pipeline_tall, 4 cores). A driver listStatus of a
      // local directory costs a small fraction of one such task. The store
      // has one `dt=` per day (366 for a year), far below this value.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      // graft's SQL functions: cosine_sim and int8_cosine_sim
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    if (localDir != null) b.config("spark.local.dir", localDir) else b
  }

  def get(cores: Int = 32): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
