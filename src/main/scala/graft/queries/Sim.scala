package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.{Quantize, Similarity}
import Query.t

/** Vector queries over `embeddings`: quantization, search, k-means, semantic dedup. */
object Sim {
  /** Driver-side replay of quantize→dequantize (the [[Quantize]] closed
    * form) for query/centroid vectors, so searches over the compressed
    * store compare like with like. */
  private def deqDriver(v: Seq[Double]): Seq[Double] = {
    val ma = v.map(math.abs).max
    if (ma == 0.0) v.map(_ => 0.0)
    else v.map(x => math.floor(x / ma * 127.0 + 0.5) * (ma / 127.0))
  }

  /** Deterministic k-means seed shared by q_kmeans / q_semantic_dedup: the
    * first 8 base embeddings by vec_id (the q_knn_ivf convention). */
  private def first8Centroids(emb: DataFrame): Seq[Seq[Double]] =
    emb.where(col("vec_id") < 8).orderBy("vec_id")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq

  /** The similarity queries' probe: the embedding of `vec_id = 0`. */
  private def queryVector(emb: DataFrame): Seq[Double] =
    emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq

  /** The LSH hyperplanes are deterministic (seeded splitmix), so the ORACLE
    * can embed them as SQL literals generated here — Double.toString
    * round-trips through DuckDB's parser to the identical double, and both
    * engines sum the dot product in ascending index order, so the sign (and
    * hence the bucket) is bit-identical. */
  private def planeLit(p: Array[Double]): String =
    p.map(java.lang.Double.toString).mkString("[", ", ", "]")

  private def bucketSqlExpr(vec: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (pl, p) =>
      s"""(CASE WHEN list_sum(list_transform(range(1, ${pl.length + 1}),
         |   i -> CAST($vec[i] AS DOUBLE) * (${planeLit(pl)}::DOUBLE[])[i])) >= 0
         | THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }.mkString("\n + ")

  private lazy val lshPlanes6x64 = Similarity.hyperplanes(6, 64)

  /** DuckDB cosine between two DOUBLE[] expressions, matching the native
    * CosineSimilarity expression bit-for-bit: ascending-index double dot
    * and norms, 0.0 when either norm is zero. */
  private def cosSql(a: String, b: String, dim: Int): String =
    s"""(CASE WHEN list_sum(list_transform($a, x -> x * x)) = 0.0
       |        OR list_sum(list_transform($b, x -> x * x)) = 0.0 THEN 0.0
       |  ELSE list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]))
       |    / (sqrt(list_sum(list_transform($a, x -> x * x)))
       |     * sqrt(list_sum(list_transform($b, x -> x * x)))) END)""".stripMargin

  /** Generated DuckDB replay of [[Similarity.kmeans]]: from a CTE
    * `e(vec_id, v DOUBLE[])`, unrolls `iters` Lloyd iterations starting at
    * `c0(cid, cv)` = the first `k` BASE vectors (vec_id < k — plants use
    * offset ids, so the seed matches [[first8Centroids]] on any corpus that
    * unions plants onto the base table). Exactness rides three facts:
    * the 2^-50 snap is pure IEEE ops, decimal(38,0) sums are order-free,
    * and decimal→double is correctly rounded in both engines (verified
    * empirically value-by-value). Produces CTE text ending at
    * `a${"$"}{iters+1}(vec_id, cid, s)` — the final assignment with its
    * cosine — ready to be extended with a SELECT. */
  private def kmeansSql(k: Int, dim: Int, iters: Int): String = {
    val S = "1125899906842624.0" // 2^50 — same constant as Similarity.kmeans
    val sb = new StringBuilder
    sb ++= s"c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k),\n"
    for (t <- 1 to iters + 1) {
      sb ++=
        s"""a$t AS MATERIALIZED (
           |  SELECT vec_id, cid, s FROM (
           |    SELECT vec_id, cid, s,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
           |    FROM (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cv", dim)} AS s
           |          FROM e CROSS JOIN c${t - 1} c) x) y WHERE rn = 1)""".stripMargin
      if (t <= iters) {
        sb ++=
          s""",
             |s$t AS (
             |  SELECT a.cid, i AS dim,
             |    sum(CAST(floor(e.v[i + 1] * $S + 0.5) AS DECIMAL(38,0))) AS sd,
             |    count(*) AS n
             |  FROM e JOIN a$t a USING (vec_id), unnest(range(0, $dim)) t(i)
             |  GROUP BY 1, 2),
             |c$t AS MATERIALIZED (
             |  SELECT p.cid, COALESCE(nc.cv, p.cv) AS cv FROM c${t - 1} p LEFT JOIN (
             |    SELECT cid, list(CAST(sd AS DOUBLE) / $S / n ORDER BY dim) AS cv
             |    FROM s$t GROUP BY cid) nc USING (cid)),
             |""".stripMargin
      }
    }
    sb.toString
  }

  val all: Seq[Query] = Seq(
    // int8 embedding quantization: exact closed-form rounding replayed by
    // DuckDB element-for-element (codes comma-joined — the hash comparator
    // handles scalar columns only; element order is preserved in the string)
    Query("q_quantize", (s, dir) =>
      // null embeddings (none in the fixture, but aligned anyway): null
      // scale and null codes on BOTH sides — concat_ws would otherwise fold
      // Spark's null array to '' while array_to_string keeps NULL
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(Quantize.scale(col("embedding")), 6).as("scale"),
        when(col("embedding").isNull, lit(null))
          .otherwise(concat_ws(",", Quantize.quantize(col("embedding")))).as("codes"))
        .orderBy("vec_id"), Some(
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(ma / 127.0, 6) AS scale,
        |  CASE WHEN embedding IS NULL THEN NULL
        |       ELSE array_to_string(
        |         CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
        |              ELSE list_transform(embedding,
        |                     x -> CAST(floor(CAST(x AS DOUBLE) / ma * 127.0 + 0.5) AS INT)) END,
        |         ',') END AS codes
        |FROM m ORDER BY vec_id""".stripMargin)),
    Query("q_cosine_sims", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      Similarity.cosineToQuery(emb, "embedding", q)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy("vec_id")
    }, Some(
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0)
        |SELECT v.vec_id AS vec_id, round(
        |  list_sum(list_transform(range(1, len(v.embedding) + 1),
        |    i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        |FROM embeddings v CROSS JOIN q ORDER BY vec_id""".stripMargin)),
    Query("q_knn_brute", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
        |s AS (
        |  SELECT v.vec_id AS vec_id,
        |    list_sum(list_transform(range(1, len(v.embedding) + 1),
        |      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM embeddings v CROSS JOIN q)
        |SELECT vec_id, round(c, 6) AS cosine FROM s ORDER BY c DESC, vec_id LIMIT 10""".stripMargin)),
    // multi-probe (Hamming <= 2 of the query bucket, ~22/64 buckets scanned)
    // restores recall lost to single-probe while keeping the scan pruned
    Query("q_knn_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val planes = Similarity.hyperplanes(6, q.length)
      Similarity.lshTopK(emb, "vec_id", "embedding", q, 10, planes, probeHamming = 2)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(
      s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
         |qb AS (SELECT ${bucketSqlExpr("e", lshPlanes6x64)} AS qbucket FROM q),
         |b AS (SELECT vec_id, embedding,
         |        ${bucketSqlExpr("embedding", lshPlanes6x64)} AS bucket
         |      FROM embeddings),
         |cand AS (SELECT vec_id, embedding FROM b CROSS JOIN qb
         |         WHERE bit_count(xor(bucket, qbucket)) <= 2),
         |s AS (
         |  SELECT c.vec_id,
         |    list_sum(list_transform(range(1, len(c.embedding) + 1),
         |      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
         |  FROM cand c CROSS JOIN q)
         |SELECT vec_id, round(cs, 6) AS cosine FROM s ORDER BY cs DESC, vec_id LIMIT 10""".stripMargin)),
    // IVF: the first 8 corpus vectors act as deterministic coarse centroids;
    // search probes the 3 nearest cells and exact-reranks only those
    Query("q_knn_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val centroids = first8Centroids(emb)
      Similarity.ivfTopK(emb, "vec_id", "embedding", q, 10, centroids, nprobe = 3)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(
      """WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
        |vc AS (
        |  SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(range(1, len(v.embedding) + 1),
        |      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
        |  FROM embeddings v CROSS JOIN c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
        |  FROM vc) t WHERE rn = 1),
        |probe AS (SELECT cid FROM (
        |  SELECT c.cid,
        |    list_sum(list_transform(range(1, len(c.ce) + 1),
        |      i -> CAST(c.ce[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
        |  FROM c CROSS JOIN q) t ORDER BY s DESC, cid DESC LIMIT 3),
        |scored AS (
        |  SELECT v.vec_id,
        |    list_sum(list_transform(range(1, len(v.embedding) + 1),
        |      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s
        |  FROM embeddings v
        |  JOIN assign USING (vec_id) JOIN probe USING (cid) CROSS JOIN q)
        |SELECT vec_id, round(s, 6) AS cosine FROM scored ORDER BY s DESC, vec_id LIMIT 10""".stripMargin)),
    // search over the COMPRESSED store: brute-force cosine top-k on
    // dequantized int8 vectors (query quantized driver-side with the same
    // closed-form rule) — pins that the quantize→search path reproduces
    // cross-engine, not just the codes themselves
    Query("q_knn_quantized", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val store = emb.select(col("vec_id"),
        Quantize.quantize(col("embedding")).as("codes"),
        Quantize.scale(col("embedding")).as("scale"))
      // fused Int8CosineSimilarity: dequantization happens inside the one
      // codegen loop (bit-equal to the dequantize→cosine chain, spec-pinned)
      Similarity.bruteForceTopKInt8(store, "vec_id", "codes", "scale", deqDriver(q), 10)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(
      // dequantize both sides with the exact closed form, then the standard
      // cosine top-k (ascending-index sums are bit-identical cross-engine)
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |d AS MATERIALIZED (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |                x -> floor(CAST(x AS DOUBLE) / ma * 127.0 + 0.5) * (ma / 127.0)) END AS e
        |  FROM m),
        |q AS (SELECT e FROM d WHERE vec_id = 0),
        |s AS (
        |  SELECT d.vec_id,
        |    list_sum(list_transform(range(1, len(d.e) + 1), i -> d.e[i] * q.e[i]))
        |    / (sqrt(list_sum(list_transform(d.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(q.e, x -> x * x)))) AS c
        |  FROM d CROSS JOIN q)
        |SELECT vec_id, round(c, 6) AS cosine FROM s
        |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin)),
    // pruned search over the COMPRESSED store: IVF cell assignment AND
    // scoring both ride the fused int8 expression, so the probe scan reads
    // 4x fewer bytes than the float path while returning the identical
    // (dequantized-space) results
    Query("q_knn_quantized_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVector(emb)
      val centroids = first8Centroids(emb).map(deqDriver)
      val store = emb.select(col("vec_id"),
        Quantize.quantize(col("embedding")).as("codes"),
        Quantize.scale(col("embedding")).as("scale"))
      Similarity.ivfTopKInt8(store, "vec_id", "codes", "scale", deqDriver(q), 10,
        centroids, nprobe = 3)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }, Some(
      // the q_knn_ivf probe/assign/rerank structure replayed entirely in
      // DEQUANTIZED space (d = the int8 store's reconstruction; MATERIALIZED —
      // it feeds four references). Ties in assign/probe break toward the
      // larger cell id, mirroring ivfAssignInt8's greatest() structs.
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |d AS MATERIALIZED (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |                x -> floor(CAST(x AS DOUBLE) / ma * 127.0 + 0.5) * (ma / 127.0)) END AS e
        |  FROM m),
        |q AS (SELECT e FROM d WHERE vec_id = 0),
        |c AS MATERIALIZED (SELECT vec_id AS cid, e AS ce FROM d WHERE vec_id < 8),
        |vc AS (
        |  SELECT d.vec_id, c.cid,
        |    list_sum(list_transform(range(1, len(d.e) + 1), i -> d.e[i] * c.ce[i]))
        |    / (sqrt(list_sum(list_transform(d.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(c.ce, x -> x * x)))) AS s
        |  FROM d CROSS JOIN c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid DESC) AS rn
        |  FROM vc) t WHERE rn = 1),
        |probe AS (SELECT cid FROM (
        |  SELECT c.cid,
        |    list_sum(list_transform(range(1, len(c.ce) + 1), i -> c.ce[i] * q.e[i]))
        |    / (sqrt(list_sum(list_transform(c.ce, x -> x * x)))
        |       * sqrt(list_sum(list_transform(q.e, x -> x * x)))) AS s
        |  FROM c CROSS JOIN q) t ORDER BY s DESC, cid DESC LIMIT 3),
        |scored AS (
        |  SELECT d.vec_id,
        |    list_sum(list_transform(range(1, len(d.e) + 1), i -> d.e[i] * q.e[i]))
        |    / (sqrt(list_sum(list_transform(d.e, x -> x * x)))
        |       * sqrt(list_sum(list_transform(q.e, x -> x * x)))) AS s
        |  FROM d JOIN assign USING (vec_id) JOIN probe USING (cid) CROSS JOIN q)
        |SELECT vec_id, round(s, 6) AS cosine FROM scored
        |ORDER BY s DESC, vec_id LIMIT 10""".stripMargin)),
    // deterministic distributed Lloyd refinement: 2 k-means iterations from
    // the first-8 seed, exact fixed-point centroid sums (decimal(38,0) over
    // 2^-50-snapped coordinates) — centroids, hence assignments, are
    // bit-identical at any parallelism and the DuckDB oracle replays BOTH
    // iterations to the last bit
    Query("q_kmeans", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (cents, _) = Similarity.kmeans(emb, "embedding", first8Centroids(emb), iters = 2)
      Similarity.assignCentroid(emb, "embedding", cents)
        .select(col("vec_id"), col("cell").as("cluster"),
          round(col("cell_sim"), 6).as("cosine"))
        .orderBy("vec_id")
    }, Some(
      // full deterministic-Lloyd replay: e = double-cast embeddings, then
      // kmeansSql unrolls both iterations with exact decimal(38,0) fixed-point
      // centroid sums (order-independent in both engines); a3 is the final
      // assignment with its cosine
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |${kmeansSql(8, 64, 2)}
         |SELECT vec_id, cid AS cluster, round(s, 6) AS cosine FROM a3 ORDER BY vec_id""".stripMargin)),
    // SemDeDup end-to-end: plant two tiers of scaled near-dup twins (float
    // perturbations are bit-identical cross-engine), refine centroids with
    // the deterministic k-means, dedup within cells at cosine >= 0.9, keep
    // per duplicate group the member least similar to its centroid
    Query("q_semantic_dedup", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      def plant(offset: Int, maxId: Int, even: Float, odd: Float) =
        emb.where(col("vec_id") < maxId)
          .select((col("vec_id") + offset).as("vec_id"),
            transform(col("embedding"),
              (x, i) => x * when(i % 2 === 0, lit(even)).otherwise(lit(odd))).as("embedding"))
      val corpus = emb
        .unionByName(plant(100000, 30, 1.28f, 0.72f))
        .unionByName(plant(200000, 10, 1.04f, 0.96f))
      val (cents, _) = Similarity.kmeans(corpus, "embedding", first8Centroids(emb), iters = 2)
      Similarity.semanticDedup(corpus, "vec_id", "embedding", cents, minCosine = 0.9)
        .select(col("cluster_id"), col("vec_id"), col("cell"),
          round(col("cell_sim"), 6).as("cosine"), col("cluster_size"))
        .orderBy("cluster_id")
    }, Some(
      // SemDeDup replay: plant the two twin tiers (FLOAT perturbations are
      // bit-identical cross-engine), rerun the exact kmeans on the corpus
      // (seed = the 8 base vectors: plants live at +100000/+200000), pairwise
      // within-cell cosine edges at >= 0.9, transitive closure by recursive
      // min-label reachability, keep per group the member LEAST similar to
      // its centroid (ties toward the smaller id)
      s"""WITH RECURSIVE corpus AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |         list_transform(range(1, len(embedding) + 1),
         |           i -> embedding[i] * (CASE WHEN (i - 1) % 2 = 0
         |                                THEN CAST(1.28 AS FLOAT)
         |                                ELSE CAST(0.72 AS FLOAT) END)) AS embedding
         |  FROM embeddings WHERE vec_id < 30
         |  UNION ALL
         |  SELECT vec_id + 200000 AS vec_id,
         |         list_transform(range(1, len(embedding) + 1),
         |           i -> embedding[i] * (CASE WHEN (i - 1) % 2 = 0
         |                                THEN CAST(1.04 AS FLOAT)
         |                                ELSE CAST(0.96 AS FLOAT) END)) AS embedding
         |  FROM embeddings WHERE vec_id < 10),
         |e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM corpus),
         |${kmeansSql(8, 64, 2)},
         |edges AS MATERIALIZED (
         |  SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM a3 l JOIN a3 r ON l.cid = r.cid AND l.vec_id < r.vec_id
         |  JOIN e el ON el.vec_id = l.vec_id
         |  JOIN e er ON er.vec_id = r.vec_id
         |  WHERE ${cosSql("el.v", "er.v", 64)} >= 0.9),
         |sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
         |reach(id, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
         |lbl AS MATERIALIZED (
         |  SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1),
         |mem AS MATERIALIZED (
         |  SELECT a3.vec_id, COALESCE(lbl.cluster_id, a3.vec_id) AS cluster_id,
         |         a3.cid AS cell, a3.s
         |  FROM a3 LEFT JOIN lbl ON a3.vec_id = lbl.id),
         |keep AS (
         |  SELECT * FROM (
         |    SELECT mem.vec_id, mem.cluster_id, mem.cell, mem.s,
         |      row_number() OVER (PARTITION BY mem.cluster_id
         |                         ORDER BY mem.s ASC, mem.vec_id ASC) AS rn
         |    FROM mem) t WHERE rn = 1)
         |SELECT k.cluster_id, k.vec_id, k.cell, round(k.s, 6) AS cosine,
         |  COALESCE(sz.cluster_size, 1) AS cluster_size
         |FROM keep k LEFT JOIN sizes sz ON k.cluster_id = sz.cluster_id
         |ORDER BY k.cluster_id""".stripMargin)),
    Query("q_lsh_buckets", (s, dir) => {
      val planes = Similarity.hyperplanes(6, 64)
      Similarity.lshBuckets(t(s, dir, "embeddings"), "embedding", planes)
        .groupBy("bucket").agg(count(lit(1)).as("n")).orderBy("bucket")
    }, Some(
      s"""SELECT bucket, count(*) AS n FROM (
         |  SELECT ${bucketSqlExpr("embedding", lshPlanes6x64)} AS bucket FROM embeddings) t
         |GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // The raw corpus has max pairwise cosine ~0.51, so a 0.95 threshold
    // would verify nothing. Plant PERTURBED (not identical) duplicates of
    // the first 20 vectors: alternating per-dimension float weights
    // 1.28/0.72 put each planted pair at cosine ≈ 1/sqrt(1.0784) ≈ 0.96, so
    // the banded LSH must recover genuinely-near pairs through near-miss
    // band signatures (single-band recall here would be ~0.43). Float
    // multiplication by the same constants is bit-identical in DuckDB, so
    // the oracle derives the same fixture and brute-forces the truth. The
    // oracle is exhaustive while the engine is banded, so the banding is
    // sized for a vanishing miss margin at ANY grading scale: 32 bands × 8
    // planes ⇒ per-pair miss ≈ (1 − 0.91⁸)³² ≈ 2e-9 at cosine 0.96
    // (deterministic once seeded; verified empirically at sf0.001/sf0.01).
    Query("q_cosine_neardup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planted = emb.where(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * when(i % 2 === 0, lit(1.28f)).otherwise(lit(0.72f))).as("embedding"))
      val planes = Similarity.hyperplanes(256, 64)
      Similarity.cosineNearDupPairs(
        emb.select("vec_id", "embedding").unionByName(planted),
        "vec_id", "embedding", planes, 0.95, bands = 32)
        .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("a", "b")
    }, Some(
      """WITH derived AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |         list_transform(range(1, len(embedding) + 1),
        |           i -> embedding[i] * (CASE WHEN (i - 1) % 2 = 0
        |                                THEN CAST(1.28 AS FLOAT)
        |                                ELSE CAST(0.72 AS FLOAT) END)) AS embedding
        |  FROM embeddings WHERE vec_id < 20),
        |p AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b,
        |    list_sum(list_transform(range(1, len(l.embedding) + 1),
        |      i -> CAST(l.embedding[i] AS DOUBLE) * CAST(r.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM derived l JOIN derived r ON l.vec_id < r.vec_id)
        |SELECT a, b, round(c, 6) AS cosine FROM p WHERE c >= 0.95 ORDER BY a, b""".stripMargin))
  )
}
