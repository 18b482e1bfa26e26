package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  *  - [[cosineToQuery]] / [[bruteForceTopK]] — exact baseline: codegen'd
  *    `zip_with`/`aggregate` dot products against a broadcast query vector;
  *    one narrow pass + a small top-k.
  *  - [[lshBuckets]] / [[lshTopK]] — the scale path: sign-random-projection
  *    LSH; only rows sharing the query's bucket (or a probe set of buckets)
  *    are scored. Hyperplanes are derived deterministically from a seed via
  *    splitmix-style integer mixing — no RNG state, identical across
  *    executors and reruns.
  *  - [[ivfAssign]] — IVF-style coarse quantization: assign each vector to
  *    the nearest of `centroids`; queries score only their cell (callers
  *    pick nprobe cells). Centroids are caller-provided (e.g. sampled seed
  *    vectors), keeping the operator deterministic.
  */
object Similarity {

  /** Cosine similarity of `vec` (array<float/double>) against a constant
    * query vector, computed in double precision. Built-in higher-order-
    * function formulation — kept as the reference implementation that the
    * fused native expression is asserted bit-for-bit against. */
  def cosineBuiltin(vec: Column, query: Seq[Double]): Column = {
    val q = array(query.map(lit): _*)
    val v = transform(vec, _.cast("double"))
    val dot = aggregate(zip_with(v, q, (a, b) => a * b), lit(0.0), (acc, x) => acc + x)
    val nv = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))
    val nq = math.sqrt(query.map(x => x * x).sum)
    // a zero-norm QUERY folds to the 0.0 convention driver-side (the native
    // expression returns 0.0 when either norm is zero; 0/0 here would be
    // NaN and break the bit-for-bit equality contract)
    if (nq == 0.0) lit(0.0)
    else when(nv === 0.0, lit(0.0)).otherwise(dot / (nv * nq))
  }

  /** Hot-path cosine: the fused single-loop Catalyst expression
    * ([[graft.functions.CosineSimilarity]]) — no intermediate arrays,
    * whole-stage codegen; identical results to [[cosineBuiltin]]. */
  def cosine(vec: Column, query: Seq[Double]): Column =
    graft.functions.ArrayMath.cosineSimTo(vec, query)

  def cosineToQuery(df: DataFrame, vecCol: String, query: Seq[Double]): DataFrame =
    df.withColumn("cosine", cosine(col(vecCol), query))

  /** Exact top-k by cosine: per-partition top-k then global top-k (Spark's
    * sort+limit already executes as TakeOrderedAndProject — no full sort). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String, query: Seq[Double], k: Int): DataFrame =
    cosineToQuery(df, vecCol, query)
      .select(col(idCol), col("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * splitmix64-inspired integer mix folded to [-1, 1]. */
  private def planeComponent(plane: Int, dim: Int, seed: Long): Double = {
    var z = seed + plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim)((p, d) => planeComponent(p, d, seed))

  /** Sign-random-projection bucket id: bit p = sign(vec · plane_p).
    * The sign test rides the fused [[graft.functions.CosineSimilarity]]
    * expression (sign(cosine) == sign(dot): the norms are positive, and the
    * zero-vector case maps to 0.0 >= 0 either way) — one codegen'd loop per
    * plane instead of three higher-order functions materializing
    * intermediate arrays. The accumulation order is ascending-index, same as
    * the `aggregate(zip_with(...))` chain and DuckDB's `list_sum`, so the
    * sign (hence the bucket) stays bit-identical cross-engine. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(graft.functions.ArrayMath.cosineSimTo(vec, plane.toSeq) >= 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBuckets(df: DataFrame, vecCol: String, planes: Array[Array[Double]]): DataFrame =
    df.withColumn("bucket", lshBucket(col(vecCol), planes))

  /** The query vector's LSH bucket, computed driver-side. */
  def queryBucket(query: Seq[Double], planes: Array[Array[Double]]): Long = {
    var acc = 0L
    planes.zipWithIndex.foreach { case (plane, p) =>
      val dot = plane.zip(query).map { case (a, b) => a * b }.sum
      if (dot >= 0) acc |= (1L << p)
    }
    acc
  }

  /** Multi-probe bucket set: every bucket within Hamming distance
    * <= maxHamming of `bucket` (flip every subset of <= maxHamming plane
    * bits). Size = Σ_{h<=maxHamming} C(nPlanes, h) — a driver-side literal
    * list, so the scan stays a pruned IN-filter. */
  def probeBuckets(bucket: Long, nPlanes: Int, maxHamming: Int): Seq[Long] = {
    def rec(start: Int, left: Int, cur: Long): Seq[Long] =
      cur +: (if (left == 0) Seq.empty
              else (start until nPlanes).flatMap(i => rec(i + 1, left - 1, cur ^ (1L << i))))
    rec(0, maxHamming, bucket)
  }

  /** ANN top-k with multi-probe LSH: score the query's bucket plus all
    * buckets within `probeHamming` flipped planes (near-miss vectors usually
    * differ in the planes whose dot product is closest to 0 — probing
    * Hamming-adjacent buckets recovers them). probeHamming = 2 on 6 planes
    * scans ~22/64 of the space; 0 = single-probe. */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      planes: Array[Array[Double]],
      probeHamming: Int = 2
  ): DataFrame = {
    val probes = probeBuckets(queryBucket(query, planes), planes.length, probeHamming)
    lshBuckets(df, vecCol, planes)
      .where(col("bucket").isin(probes: _*))
      .transform(d => bruteForceTopK(d, idCol, vecCol, query, k))
  }

  /** IVF coarse assignment: nearest centroid by cosine. `centroids` is small
    * (broadcast as literals). Adds `cell`. Ties on similarity break toward
    * the LARGER cell index (greatest() over (sim, cell) structs). */
  def ivfAssign(df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]]): DataFrame =
    assignCentroid(df, vecCol, centroids).drop("cell_sim")

  /** [[ivfAssign]] plus the winning similarity: adds `cell` AND `cell_sim`
    * (the cosine to the assigned centroid) in ONE fused
    * [[graft.functions.NearestCentroid]] call — callers that rank members
    * within a cell (SemDeDup's keep rule, cluster diagnostics) read both
    * without a second k-way scoring scan. The plan stays O(1) nodes at any
    * k (SemDeDup wants k in the thousands; the greatest-over-structs
    * formulation below is O(k) plan width — the [[graft.functions.SnapUp]]
    * driver-hazard class). */
  def assignCentroid(df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]]): DataFrame = {
    val best = graft.functions.NearestCentroid.nearest(
      col(vecCol), df.schema(vecCol).dataType, centroids.map(_.toArray).toArray)
    df.withColumn("__best", best)
      .withColumn("cell", col("__best").getField("cell"))
      .withColumn("cell_sim", col("__best").getField("sim"))
      .drop("__best")
  }

  /** The compositional reference twin of [[assignCentroid]]: `greatest()`
    * over k (cosine, cell) structs. Kept bit-equal to the fused expression
    * by SimilaritySpec (the repo's native-expression convention); use the
    * fused form everywhere — this one's plan is O(k) wide. */
  def assignCentroidBuiltin(df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]]): DataFrame = {
    val sims = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(col(vecCol), c).as("sim"), lit(i).as("cell"))
    }
    val best = greatest(sims: _*)
    df.withColumn("__best", best)
      .withColumn("cell", col("__best").getField("cell"))
      .withColumn("cell_sim", col("__best").getField("sim"))
      .drop("__best")
  }

  /** Scale of the exact fixed-point centroid accumulation: coordinates are
    * snapped to the 2⁻⁵⁰ grid (`floor(x·2⁵⁰ + 0.5)` — every step a single
    * IEEE-754 operation, so the snapped integer is bit-identical on any
    * engine) and summed as `decimal(38,0)`, which is EXACT and therefore
    * summation-ORDER-INDEPENDENT. float32 inputs up to |x| < 4 round
    * half-up at the 50th fractional bit; the mantissa of typical unit-scale
    * embeddings (≤ 43 fractional bits in practice) is preserved exactly. */
  private val CentroidScale = 1125899906842624.0 // 2^50

  /** Deterministic distributed k-means (Lloyd refinement) — the companion
    * [[seedCentroids]]' scaladoc promises: "callers wanting refined
    * centroids should refine offline" — this IS that refinement, made safe
    * for the engine's determinism contract. Naive distributed Lloyd is
    * summation-order-dependent (float centroid means change with partition
    * count, so assignments — a DISCRETE function of the means — can flip
    * between runs). Here each coordinate is snapped to the 2⁻⁵⁰ grid and
    * accumulated as an exact decimal(38,0) sum, so the per-cluster mean is
    * bit-identical at ANY parallelism and on any engine (the DuckDB oracle
    * replays all iterations to the last bit; decimal→double of the sums is
    * correctly rounded in both engines — verified empirically per value).
    *
    * Per iteration: one fused-assignment pass (O(1)-plan NearestCentroid)
    * feeding a single map-side-combining groupBy(cell) with 2·d exact
    * hi/lo-split long-sum columns — k groups, so the shuffle is
    * k·partitions rows of (2d+1) longs regardless of input size — then a
    * k-row collect rebuilds the centroid literals
    * driver-side. Cluster sizes come for free from the same pass. Empty
    * clusters keep their previous centroid (the COALESCE rule, mirrored in
    * SQL). Assignment ties follow [[ivfAssign]] (toward the larger cell).
    *
    * Returns (refined centroids, final cluster sizes by cell; cells empty
    * at the LAST update have size 0). */
  def kmeans(
      df: DataFrame,
      vecCol: String,
      init: Seq[Seq[Double]],
      iters: Int
  ): (Seq[Seq[Double]], Map[Int, Long]) = {
    require(init.nonEmpty, "kmeans needs at least one initial centroid")
    require(iters >= 1, "kmeans needs at least one Lloyd iteration")
    val dim = init.head.length
    require(init.forall(_.length == dim), "initial centroids must share one dimensionality")
    require(init.size.toLong * dim <= (1L << 22),
      "k x dim must stay within the bounded driver transfer (2^22)")
    var cents = init
    var sizes = Map.empty[Int, Long]
    for (_ <- 1 to iters) {
      // Exact per-cell coordinate sums WITHOUT a posexplode: the exploded
      // formulation shuffles rows × dim records through the aggregation
      // machinery and sums decimal(38,0) on BigDecimal — measured to
      // dominate the whole iteration (k=8 as slow as k=256; BASELINE.md,
      // round-5 kmeans iteration probe). One native FixedPointVectorSum
      // aggregate reads each vector once into a flat long[] buffer: each
      // snapped coordinate (a ≤53-bit integer in a double) splits into
      // carry-normalized (hi, lo) long slots whose exact integer sums are
      // order-independent; the driver
      // reassembles (Σhi << 32) + Σlo as a BigInt — bit-identical to the
      // decimal formulation the DuckDB oracle replays (and to the 2·d-wide
      // sum-column twin SimilaritySpec pins, itself measured to cost as
      // much as the assignment at d=64: 129 agg-buffer updates per row).
      val fps = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.FixedPointVectorSum(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(vecCol)),
          dim, CentroidScale).toAggregateExpression())
      val rows = ivfAssign(df, vecCol, cents)
        .groupBy("cell")
        .agg(fps.as("fps"))
        .collect()
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getInt(0) -> r.getSeq[Long](1)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, c) =>
        rows.get(c) match {
          case None => old // empty cluster: centroid carries over
          case Some(arr) =>
            val n = arr(0)
            (0 until dim).map { j =>
              val sd = (BigInt(arr(1 + 2 * j)) << 32) + BigInt(arr(2 + 2 * j))
              // BigInt -> double is correctly rounded (BigInteger.doubleValue,
              // same rounding as the decimal path's BigDecimal.doubleValue);
              // /2^50 and /n are single IEEE ops — deterministic everywhere
              sd.doubleValue / CentroidScale / n
            }
        }
      }
      sizes = cents.indices
        .map(c => c -> rows.get(c).map(_(0)).getOrElse(0L)).toMap
    }
    (cents, sizes)
  }

  /** Deterministic IVF centroid seeding: the k vectors with the smallest
    * seeded id-hash — a hash-random sample that is identical at any
    * parallelism (no RNG, no data-order dependence). Lloyd refinement is
    * deliberately NOT applied here: distributed float averaging is
    * summation-order-dependent, which would break the engine's
    * rerun/parallelism determinism contract; callers wanting refined
    * centroids should refine offline and pass them in. */
  def seedCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int, seed: Long = 42L): Seq[Seq[Double]] =
    df.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq)
      .toSeq

  private def cosLocal(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** IVF search: assign every vector to its nearest centroid, pick the
    * `nprobe` cells whose centroids are most cosine-similar to the query
    * (driver-side over the tiny centroid list, ties toward larger index —
    * mirroring [[ivfAssign]]), and exact-rerank ONLY those cells. The scan
    * reads |probed cells| / |cells| of the data — the IVF recall/cost knob. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      centroids: Seq[Seq[Double]],
      nprobe: Int
  ): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, #centroids]")
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (cosLocal(query, c), i) }
      .sortBy { case (s, i) => (-s, -i) }
      .take(nprobe).map(_._2)
    ivfAssign(df, vecCol, centroids)
      .where(col("cell").isin(probeCells: _*))
      .transform(d => bruteForceTopK(d, idCol, vecCol, query, k))
  }

  // ---- search over the COMPRESSED (int8-quantized) store ----
  // The store shape is (id, codes: array<int>, scale: double) from
  // [[Quantize]]; scoring rides the fused Int8CosineSimilarity expression —
  // dequantization happens inside the one codegen loop, so the pruned paths
  // read 4× fewer bytes than float storage with no intermediate arrays.

  /** Fused cosine of an int8-quantized vector against an (already
    * dequantized) query — bit-equal to dequantize→[[cosineBuiltin]]. */
  def cosineInt8(codes: Column, scale: Column, queryDeq: Seq[Double]): Column =
    graft.functions.ArrayMath.int8CosineSimTo(codes, scale, queryDeq)

  /** Exact top-k over the compressed store (TakeOrderedAndProject, same
    * shape as [[bruteForceTopK]]). */
  def bruteForceTopKInt8(
      df: DataFrame, idCol: String, codesCol: String, scaleCol: String,
      queryDeq: Seq[Double], k: Int): DataFrame =
    df.select(col(idCol), cosineInt8(col(codesCol), col(scaleCol), queryDeq).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)

  /** IVF coarse assignment over the compressed store: nearest centroid by
    * fused int8 cosine, ties toward the larger cell index — mirrors
    * [[ivfAssign]] exactly (centroids live in dequantized space). One
    * [[graft.functions.NearestCentroid.nearestInt8]] call: O(1) plan at any k. */
  def ivfAssignInt8(df: DataFrame, codesCol: String, scaleCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val best = graft.functions.NearestCentroid.nearestInt8(
      col(codesCol), df.schema(codesCol).dataType, col(scaleCol),
      centroids.map(_.toArray).toArray)
    df.withColumn("cell", best.getField("cell"))
  }

  /** Compositional reference twin of [[ivfAssignInt8]] (greatest over
    * int8_cosine_sim structs) — spec-pinned bit-equal; O(k)-wide plan. */
  def ivfAssignInt8Builtin(df: DataFrame, codesCol: String, scaleCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val sims = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosineInt8(col(codesCol), col(scaleCol), c).as("sim"), lit(i).as("cell"))
    }
    df.withColumn("cell", greatest(sims: _*).getField("cell"))
  }

  /** IVF search over the compressed store: the [[ivfTopK]] probe/rerank
    * structure with every vector read as int8 codes + scale — cell pruning
    * AND 4× byte compression compose. */
  def ivfTopKInt8(
      df: DataFrame,
      idCol: String,
      codesCol: String,
      scaleCol: String,
      queryDeq: Seq[Double],
      k: Int,
      centroids: Seq[Seq[Double]],
      nprobe: Int
  ): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, #centroids]")
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (cosLocal(queryDeq, c), i) }
      .sortBy { case (s, i) => (-s, -i) }
      .take(nprobe).map(_._2)
    ivfAssignInt8(df, codesCol, scaleCol, centroids)
      .where(col("cell").isin(probeCells: _*))
      .transform(d => bruteForceTopKInt8(d, idCol, codesCol, scaleCol, queryDeq, k))
  }

  /** SemDeDup semantic deduplication (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with k-means centroids (see [[kmeans]]), find
    * within-cluster pairs with cosine ≥ `minCosine` by EXACT pairwise
    * comparison inside each cell, resolve the connected duplicate groups,
    * and keep per group the member LEAST similar to its cluster centroid
    * (the paper's keep rule — the most "peripheral" example carries the
    * most marginal information; ties break toward the smaller id).
    *
    * Scale shape: the per-cell pairwise join is quadratic IN THE CELL, not
    * the corpus — SemDeDup's premise is that k grows with the corpus so
    * cells stay bounded (the paper uses k = 11k for LAION-440M). That
    * premise is enforced, not assumed: the largest cell is measured on the
    * cached assignment (k-row aggregate) and the operator ABORTS if its
    * pair count would exceed `maxCellPairs` — the Manku maxBucket guard
    * precedent. Group resolution and the keep rule ride
    * [[graft.text.Dedup.resolveClusters]] / canonicalize (bounded
    * union-find with the pointer-jumping fallback).
    *
    * Returns one row per duplicate GROUP — the kept representative — with
    * `cluster_id` (group label: min member id), the input columns minus
    * the vector, `cell`, `cell_sim` (cosine to its assigned centroid) and
    * `cluster_size`; singletons appear with cluster_size 1. */
  /** Width-aware cell-pair guard budget (round-5 verdict finding): the
    * cost the guard bounds is pairs × vector width, so the previous fixed
    * 2^34-pair default let a mis-sized k push ~10^12 flops through the
    * shuffle join before aborting. Budget ≈ 2^36 multiply-adds: 2^30
    * pairs at d = 64, proportionally fewer for wider vectors (floor 2^20)
    * — a wrong k now fails in seconds. An explicit positive `requested`
    * cap (callers with measured headroom) overrides. */
  private[graft] def cellPairBudget(dim: Int, requested: Long): Long =
    if (requested > 0) requested
    else math.max(1L << 20, (1L << 36) / math.max(1, dim))

  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      minCosine: Double,
      maxCellPairs: Long = 0L, // 0 = width-aware default, see below
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0, "minCosine must be in (0, 1]")
    val cap = cellPairBudget(centroids.headOption.map(_.length).getOrElse(1), maxCellPairs)
    val assigned = handle.track(
      assignCentroid(df, vecCol, centroids)
        .select(Seq(col(idCol), col(vecCol), col("cell"), col("cell_sim")): _*)
        .cache()) // referenced 3x: both pair-join sides + the keep pass
    val worst = assigned.groupBy("cell").agg(count(lit(1)).as("n")).agg(max("n")).head()
    val biggest = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    val worstPairs = biggest * (biggest - 1) / 2 // driver-side: exact, no overflow risk at sane cells
    require(worstPairs <= cap,
      s"largest cell yields $worstPairs pairwise comparisons (> $cap): " +
        "k must scale with the corpus so cells stay bounded — refine with more centroids")
    val l = assigned.select(col("cell"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = assigned.select(col("cell"), col(idCol).as("b"), col(vecCol).as("vb"))
    val edges = l.join(r, Seq("cell"))
      .where(col("a") < col("b") &&
        graft.functions.ArrayMath.cosineSim(col("va"), col("vb")) >= minCosine)
      .select("a", "b")
    graft.text.Dedup.canonicalize(
      assigned.drop(vecCol), edges, idCol, "a", "b",
      Seq(col("cell_sim").asc, col(idCol)), handle)
  }

  /** Embedding-cosine near-duplicate pairs: banded AND-OR sign-LSH candidate
    * generation, then EXACT fused-cosine verification — the embedding
    * analogue of [[graft.text.Dedup.minHashCandidates]] banding.
    *
    * The planes are grouped into `bands` bands of r = planes/bands each; a
    * pair is a candidate iff it matches ALL r plane signs in SOME band. With
    * per-plane agreement p = 1 − θ/π, pair recall is 1 − (1 − p^r)^bands —
    * at cosine 0.95 with 16 bands × 8 planes that is ≈ 0.9999, vs ≈ 0.43 for
    * the single-band 8-plane construction this replaced, whose single
    * 2^8-bucket join also degenerated to ~N²/256 candidate pairs at corpus
    * scale. Each band here still prunes by 2^r, the banded table carries ids
    * only (vectors are joined back per CANDIDATE), and duplicates from
    * multi-band collisions are collapsed before the verify join.
    */
  /** Reference twin of [[graft.functions.SignBandSignatures]]: the
    * compositional band-signature chain (r fused cosines + when/shiftleft
    * per band). Test-pinned bit-equal to the native kernel
    * (SimilaritySpec); not used in the hot path — at 32×8 production
    * sizing its generated consume method exceeds the JVM 64 KB limit and
    * the stage falls back to interpreted execution. */
  private[graft] def bandSigsBuiltin(
      vec: Column, planes: Array[Array[Double]], bands: Int): Column = {
    val r = planes.length / bands
    array((0 until bands).map { b =>
      (0 until r).map { j =>
        when(graft.functions.ArrayMath.cosineSimTo(vec, planes(b * r + j).toSeq) >= 0,
          shiftleft(lit(1L), j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Array[Array[Double]],
      minCosine: Double,
      bands: Int = 16,
      handle: graft.runtime.CacheHandle = new graft.runtime.CacheHandle
  ): DataFrame = {
    require(bands >= 1 && planes.length % bands == 0, "bands must divide the number of planes")
    // ONE fused kernel call for all bands×r sign tests: the compositional
    // chain (bandSigsBuiltin, kept below as the spec twin) generates 64 KB+
    // of consume code at the production 32×8 sizing and silently drops the
    // whole stage to interpreted execution
    val banded = handle.track(df.select(
      col(idCol),
      posexplode(graft.functions.ArrayMath.signBandSigs(
        col(vecCol), df.schema(vecCol).dataType, planes, bands))
        .as(Seq("band", "sig"))
    ).cache()) // both self-join sides re-execute the 16-band signature scan
               // otherwise (Catalyst shares no re-referenced subtree); the
               // banded table is docs×bands rows of (id, band, sig);
               // `handle` owns its lifetime (see graft.runtime.CacheHandle)
    val l = banded.select(col("band"), col("sig"), col(idCol).as("a"))
    val rr = banded.select(col("band"), col("sig"), col(idCol).as("b"))
    val candidates = l.join(rr, Seq("band", "sig"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    val vecs = df.select(col(idCol), col(vecCol))
    candidates
      .join(vecs.select(col(idCol).as("a"), col(vecCol).as("va")), "a")
      .join(vecs.select(col(idCol).as("b"), col(vecCol).as("vb")), "b")
      .select(col("a"), col("b"),
        graft.functions.ArrayMath.cosineSim(col("va"), col("vb")).as("cosine"))
      .where(col("cosine") >= minCosine)
  }
}
