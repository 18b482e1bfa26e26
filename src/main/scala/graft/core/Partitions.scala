package graft.core

import org.apache.spark.sql.DataFrame

/** Parallelism guard for expensive per-row projections (char-bigram
  * explodes, token hashing): when the source arrives UNDER-SPLIT — fewer
  * partitions than the session's shuffle parallelism, e.g. one small
  * parquet file = one input split — every pre-shuffle expression runs on
  * that partition count no matter how many cores the session has (the
  * round-3 lesson: map-side partial aggregation happens BEFORE the shuffle,
  * on the input splits). `fanOut` repartitions to session parallelism in
  * exactly that case and is the IDENTITY otherwise, so a real corpus
  * (thousands of splits) never pays a raw-text shuffle for it.
  *
  * MEASURED GUIDANCE (round 5): apply only where the pre-shuffle per-row
  * work dominates the query — the LmScore char-bigram explode (~300 rows ×
  * string alloc per doc) went 2.9 → 1.2 s; but on cheap projections the
  * extra exchange + stage costs ~0.1–0.3 s and LOSES at bench scale (the
  * whole dedup/sim family regressed +0.05…+0.38 s per query and was
  * reverted). When in doubt, measure before and after with
  * `SPARK_GRAFT_QUERY_FILTER=<queries> sbt "runMain graft.Bench"`.
  */
object Partitions {

  def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    if (df.isStreaming) return df // .rdd below would throw on a stream

    // guard: on a plan that already shuffles, `df.rdd` under AQE EXECUTES
    // every upstream exchange at plan-construction time and then discards
    // the work — and post-shuffle parallelism is already the session's, so
    // fanning out would be pointless anyway. Only scan-shaped plans
    // (project/filter/generate over sources) are inspected and fanned.
    val shuffles = df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort => true
      case _: RepartitionOperation                      => true
      case _                                            => false
    }
    if (shuffles) return df
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    // keyless round-robin, DELIBERATELY: hash-repartitioning on
    // xxhash64(all columns) was tried here (to skip round-robin's
    // sortBeforeRepartition local sort) and REVERTED — real inputs carry
    // duplicate full rows (lineitem's numeric projections), so the
    // full-row key space collapses and the hash layout skews
    // (q_corr_spearman 2.6 -> 4.6 s). The retry-determinism sort runs on
    // the under-split source's few partitions and is the cheaper evil.
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }
}
