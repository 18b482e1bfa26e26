package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}

/** All sign-LSH band signatures of one vector in ONE codegen call:
  * array<long> of length `bands`, where bit j of band b is
  * sign(vec · plane_{b·r+j}) ≥ 0 (r = planes/bands).
  *
  * The compositional formulation — bands × r separate fused
  * [[CosineSimilarity]] expressions summed into per-band `when` chains
  * (kept as `Similarity.bandSigsBuiltin`, the spec-pinned reference twin) —
  * is correct and bit-equal, but at the production sizing (32 bands × 8
  * planes = 256 expressions, each carrying its d-dim plane literal) the
  * generated consume method exceeds the JVM's 64 KB method limit and the
  * whole stage silently falls back to INTERPRETED execution (observed:
  * `CodeGenerator: failed to compile ... grows beyond 64 KB` on
  * q_cosine_neardup). Here the plane matrix rides along as ONE flattened
  * referenced object (the [[Kernel]] convention) and the planes×d
  * loop runs inside whole-stage codegen.
  *
  * Bit-parity with the chain (asserted in SimilaritySpec): the vector norm
  * accumulates ascending once (the chain recomputes the identical value per
  * plane), plane norm-squares are pre-summed ascending once per column
  * (the same adds the chain performs per row), dots accumulate ascending
  * (4 planes per pass, independent accumulators — each dot's own order
  * unchanged), and the sign test is SQL double ordering
  * (`SQLOrderingUtil.compareDoubles` — NaN ≥ 0 sets the bit, exactly as
  * Spark's `>=` on doubles).
  *
  * Null semantics replicate `when(cosine ≥ 0, bit).otherwise(0)`: a NULL
  * cosine (null vector, null element, length ≠ plane dimensionality) takes
  * the otherwise-branch, so every bit is 0 — the result is an ALL-ZERO
  * signature array, never null (the kernel is called on NULL input too).
  * A zero vector scores cosine 0.0 against every plane, so every bit is SET
  * (0.0 ≥ 0), again exactly as the chain.
  */
object SignBandSignatures {

  /** Band-signature core: `v` may be null/malformed (→ all-zero sigs).
    * Planes are processed four at a time — four INDEPENDENT dot
    * accumulators, each still summing ITS plane's products in ascending
    * index order (the [[NearestCentroid.assignCore]] latency fix), so every
    * dot is bit-identical to the one-plane-at-a-time chain. */
  def sigs(flat: Array[Double], planeNorms: Array[Double], d: Int, bands: Int,
      v: ArrayData, floatElems: Boolean): ArrayData = {
    val out = new Array[Long](bands)
    val nPlanes = planeNorms.length
    val r = nPlanes / bands
    if (v == null || v.numElements() != d) return new GenericArrayData(out)
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (v.isNullAt(i)) return new GenericArrayData(out)
      x(i) = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < d) { na += x(i) * x(i); i += 1 }
    val sqna = math.sqrt(na)

    def fold(p: Int, dot: Double): Unit = {
      val sim =
        if (na == 0.0 || planeNorms(p) == 0.0) 0.0
        else dot / (sqna * math.sqrt(planeNorms(p)))
      if (SQLOrderingUtil.compareDoubles(sim, 0.0) >= 0)
        out(p / r) |= 1L << (p % r)
    }

    var p = 0
    while (p + 4 <= nPlanes) {
      val b0 = p * d; val b1 = b0 + d; val b2 = b1 + d; val b3 = b2 + d
      var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
      i = 0
      while (i < d) {
        val xi = x(i)
        d0 += xi * flat(b0 + i)
        d1 += xi * flat(b1 + i)
        d2 += xi * flat(b2 + i)
        d3 += xi * flat(b3 + i)
        i += 1
      }
      fold(p, d0); fold(p + 1, d1); fold(p + 2, d2); fold(p + 3, d3)
      p += 4
    }
    while (p < nPlanes) {
      var dot = 0.0
      val base = p * d
      i = 0
      while (i < d) { dot += x(i) * flat(base + i); i += 1 }
      fold(p, dot)
      p += 1
    }
    new GenericArrayData(out)
  }
}
