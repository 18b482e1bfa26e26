package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Fused nearest-centroid assignment: argmax over k cosine similarities in
  * ONE codegen call, returning struct<cell:int, sim:double>.
  *
  * The compositional formulation — `greatest()` over k
  * `struct(cosine_sim(v, cᵢ), i)` children — is correct and bit-equal
  * (kept as `Similarity.assignCentroidBuiltin`, the spec-pinned reference
  * twin) but its PLAN is O(k) expression nodes with the full centroid
  * array duplicated into each child's literal. SemDeDup-scale clustering
  * wants k in the thousands (the paper runs k ≈ 11k); at that width the
  * greatest-tree hits the same driver-side hazard as the 65k-wide
  * CreateArray documented on [[SortedBucket]] — Catalyst's recursive
  * transforms stack-overflow before codegen is even attempted. Here the
  * centroid matrix rides along as ONE flattened referenced object and the
  * k×d loop runs inside whole-stage codegen with no intermediate structs.
  *
  * [[nearestInt8]] is the same assignment over the COMPRESSED store: the
  * vector arrives as int8 codes + per-vector scale (see
  * [[graft.sim.Quantize]]) and is dequantized inside the same fused loop
  * (xᵢ = (double)codeᵢ · scale — the [[Int8CosineSimilarity]] rule), so IVF
  * assignment runs directly on int8 storage with no intermediate arrays AND
  * no O(k) plan. Bit-equal to `greatest()` over `int8_cosine_sim` structs
  * (spec-pinned).
  *
  * Bit-parity with the chain (asserted in SimilaritySpec): the vector norm
  * is accumulated ascending once (the chain recomputes the identical value
  * per centroid), each centroid's norm-square is pre-summed ascending at
  * column construction (same adds the chain performs per row), dots accumulate
  * ascending, and the winner comparison is SQL double ordering
  * (`SQLOrderingUtil.compareDoubles`, NaN largest, -0.0 == 0.0) with ties
  * to the LARGER cell — exactly `greatest` over (sim, cell) structs.
  *
  * Null semantics (pinned directly — the chain's null behavior degenerates
  * through greatest-over-null-fields and is NOT a trustworthy oracle, the
  * element_at lesson): null array → null; null ELEMENT → null; vector
  * length ≠ centroid dimensionality → null.
  */
object NearestCentroid {

  /** Column API: struct<cell, sim> of the nearest of `centroids` to the
    * array<float|double> `v`. `vType` is `v`'s type, read from the caller's
    * schema: the kernel call cannot see it. */
  def nearest(v: Column, vType: DataType, centroids: Array[Array[Double]]): Column = {
    val floatElems = isFloatVector(vType, "nearest_centroid")
    val (flat, norms, d) = matrix(centroids, "nearest_centroid expects >= 1 centroids")
    Kernel.call(this, "assign", resultType, returnNullable = true)(flat, norms, d, v, floatElems)
  }

  /** Column API: [[nearest]] over int8 `codes` of type `codesType`
    * (array<int|smallint|tinyint>) dequantized by `scale`. */
  def nearestInt8(codes: Column, codesType: DataType, scale: Column,
      centroids: Array[Array[Double]]): Column = {
    val codeTag = codesType match {
      case ArrayType(IntegerType, _) => 0
      case ArrayType(ShortType, _)   => 1
      case ArrayType(ByteType, _)    => 2
      case _                         => -1
    }
    require(codeTag >= 0,
      s"int8_nearest_centroid expects array<int|smallint|tinyint>, got $codesType")
    val (flat, norms, d) = matrix(centroids, "int8_nearest_centroid expects >= 1 centroids")
    Kernel.call(this, "assignInt8", resultType, returnNullable = true)(
      flat, norms, d, codes, scale, codeTag)
  }

  /** True for array<float>, false for array<double>; any other type fails
    * with `fn`'s message. */
  private[functions] def isFloatVector(vType: DataType, fn: String): Boolean = vType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case _ => throw new IllegalArgumentException(s"$fn expects array<float|double>, got $vType")
  }

  /** A k×d matrix as the kernels take it: rows flattened, per-row
    * norm-square sums, d. `what` opens the message for an empty or ragged
    * matrix. */
  private[functions] def matrix(rows: Array[Array[Double]], what: String)
      : (Array[Double], Array[Double], Int) = {
    require(rows.nonEmpty && rows.forall(_.length == rows.head.length),
      s"$what of one shared dimensionality")
    (rows.flatten, normSums(rows), rows.head.length)
  }

  val resultType: StructType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  /** Per-centroid norm-square sums, ascending-index — the same adds the
    * cosine chain performs per row, done once at plan construction. */
  def normSums(centroids: Array[Array[Double]]): Array[Double] =
    centroids.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }

  /** argmax-cosine core over a flattened k×d matrix; `x` is the clean
    * dequantized/double-cast vector. Comparison = SQL double ordering,
    * ties to the larger cell (the greatest-over-structs contract).
    *
    * The k·d multiply-add loop dominates every kmeans/IVF pass, and a
    * single-accumulator dot product is LATENCY-bound (one FP add every
    * ~4 cycles). Centroids are therefore processed four at a time — four
    * INDEPENDENT accumulators, each still summing ITS centroid's products
    * in ascending index order, so every dot is bit-identical to the
    * one-centroid-at-a-time chain (measured ~3×; BASELINE.md, round-5
    * kmeans iteration probe).
    * `sqrt(na)` is hoisted out of the centroid loop: sqrt is correctly
    * rounded and loop-invariant, so the hoist is bit-identical too. */
  def assignCore(flat: Array[Double], norms: Array[Double], d: Int, x: Array[Double]): InternalRow = {
    var na = 0.0
    var j = 0
    while (j < d) { na += x(j) * x(j); j += 1 }
    val sqna = math.sqrt(na)
    val k = norms.length
    var best = 0.0
    var bestCell = 0
    var c = 0
    while (c + 4 <= k) {
      val b0 = c * d; val b1 = b0 + d; val b2 = b1 + d; val b3 = b2 + d
      var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
      var i = 0
      while (i < d) {
        val xi = x(i)
        d0 += xi * flat(b0 + i)
        d1 += xi * flat(b1 + i)
        d2 += xi * flat(b2 + i)
        d3 += xi * flat(b3 + i)
        i += 1
      }
      // fold in ascending-cell order; >= keeps ties on the LATER cell
      var s = if (na == 0.0 || norms(c) == 0.0) 0.0 else d0 / (sqna * math.sqrt(norms(c)))
      if (c == 0 || SQLOrderingUtil.compareDoubles(s, best) >= 0) { best = s; bestCell = c }
      s = if (na == 0.0 || norms(c + 1) == 0.0) 0.0 else d1 / (sqna * math.sqrt(norms(c + 1)))
      if (SQLOrderingUtil.compareDoubles(s, best) >= 0) { best = s; bestCell = c + 1 }
      s = if (na == 0.0 || norms(c + 2) == 0.0) 0.0 else d2 / (sqna * math.sqrt(norms(c + 2)))
      if (SQLOrderingUtil.compareDoubles(s, best) >= 0) { best = s; bestCell = c + 2 }
      s = if (na == 0.0 || norms(c + 3) == 0.0) 0.0 else d3 / (sqna * math.sqrt(norms(c + 3)))
      if (SQLOrderingUtil.compareDoubles(s, best) >= 0) { best = s; bestCell = c + 3 }
      c += 4
    }
    while (c < k) {
      var dot = 0.0
      val base = c * d
      var i = 0
      while (i < d) { dot += x(i) * flat(base + i); i += 1 }
      val sim =
        if (na == 0.0 || norms(c) == 0.0) 0.0
        else dot / (sqna * math.sqrt(norms(c)))
      if (c == 0 || SQLOrderingUtil.compareDoubles(sim, best) >= 0) {
        best = sim; bestCell = c
      }
      c += 1
    }
    new GenericInternalRow(Array[Any](bestCell, best))
  }

  def assign(flat: Array[Double], norms: Array[Double], d: Int,
      v: ArrayData, floatElems: Boolean): InternalRow = {
    if (v.numElements() != d) return null
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (v.isNullAt(i)) return null
      x(i) = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    assignCore(flat, norms, d, x)
  }

  def assignInt8(flat: Array[Double], norms: Array[Double], d: Int,
      codes: ArrayData, scale: Double, codeTag: Int): InternalRow = {
    if (codes.numElements() != d) return null
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (codes.isNullAt(i)) return null
      val q = codeTag match {
        case 0 => codes.getInt(i).toDouble
        case 1 => codes.getShort(i).toDouble
        case _ => codes.getByte(i).toDouble
      }
      x(i) = q * scale
      i += 1
    }
    assignCore(flat, norms, d, x)
  }
}
