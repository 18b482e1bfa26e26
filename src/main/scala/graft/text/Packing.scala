package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing — the standard pretraining step that concatenates
  * documents in a fixed order and chunks the stream into training sequences
  * of `budget` tokens (documents may straddle chunk boundaries; the
  * tokenizer's EOS handling is the caller's token count). The engine's job
  * is the exact GLOBAL token offset of every document, deterministically,
  * without a global sort.
  *
  * Scale shape (the repo's two-phase prefix-sum pattern): documents are
  * range-bucketed by the ordering key (`id / bucketSize` — contiguous id
  * ranges, so bucket order IS document order); per-bucket token sums (one
  * row per bucket) are cumulated driver-side and broadcast back as bucket
  * base offsets; the within-bucket running sum is a windowed cumsum
  * partitioned by bucket (parallel, bounded partitions). No single-partition
  * window anywhere; every stage is deterministic at any parallelism.
  */
object Packing {

  /** Global packing offsets for each document, ordered by `id` (which must
    * be unique and non-negative). Returns the input columns plus:
    * `global_start` (tokens before this doc), `first_seq`/`last_seq` (the
    * chunk ids this doc lands in, budget-token chunks of the concatenated
    * stream). Zero-token docs occupy no chunk: their `first_seq`/`last_seq`
    * are null. */
  def packSequences(
      df: DataFrame,
      id: String,
      tokensCol: String,
      budget: Long,
      bucketSize: Long = 4096L
  ): DataFrame = {
    require(budget >= 1, "budget must be >= 1 token")
    require(bucketSize >= 1, "bucketSize must be >= 1")
    // exact integer division (SQL `div`): `floor(col / k)` divides as DOUBLE,
    // and above 2^53 (reachable with monotonically_increasing_id, which packs
    // the partition index into the high bits) double rounding can move a
    // boundary id into the neighboring bucket. TwoPhase bounds the driver
    // transfer and aborts on sparse or null ids; null token counts weigh 0
    // — such docs occupy no chunk and keep null first/last_seq.
    TwoPhase
      .runningSum(df, keys = Nil, bucket = expr(s"`$id` div ${bucketSize}L"),
        order = Seq(col(id)), weight = col(tokensCol), maxBuckets = 1 << 22, out = "global_start")
      .withColumn("first_seq",
        when(col(tokensCol) > 0, floor(col("global_start") / budget)))
      .withColumn("last_seq",
        when(col(tokensCol) > 0,
          floor((col("global_start") + col(tokensCol) - 1) / budget)))
  }

  /** Per-DOCUMENT chunking — the other standard sequence-prep shape (long
    * docs sliced into overlapping windows for context-bounded training or
    * retrieval indexing, each chunk staying inside its document): windows
    * of `maxTokens` whitespace tokens advancing by `maxTokens − overlap`,
    * the last window short, ≤-maxTokens docs passing through as one chunk.
    * Chunk text is the window's tokens re-joined single-spaced (the
    * q_dup_spans rebuild convention — whitespace normalizes).
    *
    * Pure map-side: split once, one bounded Generate per document (chunk
    * count = ⌈(n − overlap) / stride⌉), slice/array_join inside codegen —
    * no shuffle, no state; scales with input partitions alone. Null text →
    * no chunks (the explode drops the row, matching every tokenizing
    * operator here).
    *
    * Returns (input columns minus text) + `chunk_idx`, `chunk_text`,
    * `chunk_tokens`. */
  def chunkByTokens(
      df: DataFrame,
      text: String,
      maxTokens: Int,
      overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val stride = maxTokens - overlap
    val n = size(col("__toks"))
    // ceil((n - maxTokens) / stride) + 1 for n > maxTokens, else 1 chunk
    val nChunks = when(n <= maxTokens, lit(1L))
      .otherwise(expr(s"(size(__toks) - $maxTokens + $stride - 1) div $stride") + 1L)
    df.withColumn("__toks", split(trim(col(text)), "\\s+"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), nChunks - 1L)))
      .select(
        df.columns.filter(_ != text).map(col).toSeq ++ Seq(
          col("chunk_idx"),
          array_join(slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(maxTokens)), " ").as("chunk_text"),
          least(lit(maxTokens).cast("long"),
            size(col("__toks")) - col("chunk_idx") * stride).as("chunk_tokens")): _*)
  }
}
