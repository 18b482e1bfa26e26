package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Σᵢ weights[hᵢ mod B] over an array<long> of feature hashes — the scoring
  * kernel of the hashed bag-of-words classifier ([[graft.text.NbQuality]]).
  * The weight table rides along as ONE referenced object (the
  * [[Kernel]] convention), so scoring a document is a single codegen
  * loop over its token hashes: NO explode, NO join, NO shuffle — the whole
  * classifier gate is map-side at any corpus size.
  *
  * The compositional formulation (`aggregate(transform(hashes, h ->
  * weightsLit[pmod(h, B)]), ...)`) would need the weight table as a
  * B-wide CreateArray literal — the 65k-wide driver-stack hazard documented
  * on [[SortedBucket]] — and would run interpreted per element besides.
  * There is no builtin twin; the spec pins this kernel against a local
  * Scala replay and the DuckDB oracle instead (the UnicodeNormalize
  * convention).
  *
  * Summation is ascending-index (token order), one FP add per token —
  * deterministic everywhere. Bucketing is floorMod, == `pmod(h, B)` for
  * every long including negatives (xx64 hashes). Null semantics: null
  * array → null, null ELEMENT → null (the poisoned-sum convention of the
  * aggregate/zip_with chains); an EMPTY array sums to 0.0.
  */
object BucketWeightSum {

  def sum(weights: Array[Double], a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      s += weights((java.lang.Math.floorMod(a.getLong(i), weights.length.toLong)).toInt)
      i += 1
    }
    s
  }

  def bucketWeightSum(hashes: Column, weights: Array[Double]): Column = {
    require(weights.nonEmpty, "bucket_weight_sum expects a non-empty weight table")
    // null elements poison the sum to null
    Kernel.call(this, "sum", DoubleType, returnNullable = true)(weights, hashes)
  }
}
