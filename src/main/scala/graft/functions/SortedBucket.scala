package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Native kernel: index of a double value in a SORTED boundary array —
  * `upperBound(bounds, v)` = the count of boundaries ≤ v, by binary search
  * (deterministic on duplicate boundaries: always the index past the last
  * equal entry). The range-partitioner primitive of the two-phase
  * prefix-sum pattern for VALUE-ordered keys: a `when`-chain over ~1k
  * boundaries blows codegen into interpreted linear scans per row, and a
  * higher-order `filter` over a boundary array runs interpreted per
  * element (the round-3 HOF trap); this is one O(log B) codegen call.
  *
  * Null/NaN input → null (a partitioner has no bucket for them; callers
  * filter first). The boundary array rides along as a referenced object —
  * no per-row allocation.
  */
object SortedBucket {

  /** First index i with bounds(i) > v (== count of boundaries ≤ v); NaN
    * → null. */
  def upperBound(bounds: Array[Double], v: Double): java.lang.Integer = {
    if (v.isNaN) return null
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Column API: bucket index of `v` in the sorted `bounds`. */
  def of(v: Column, bounds: Array[Double]): Column = {
    require(bounds.nonEmpty && !bounds.exists(_.isNaN),
      "sorted_bucket expects non-empty, NaN-free boundaries")
    Kernel.call(this, "upperBound", IntegerType, returnNullable = true)(bounds, v.cast("double") -> DoubleType)
  }
}

/** Native kernel: snap a value UP to the first cut ≥ it — exactly the
  * `element_at(array(cuts :+ MaxValue), binByCuts(v, cuts))` chain
  * ([[graft.stats.Binning.binByCuts]] semantics: values equal to a cut go
  * low, i.e. snap to themselves; above every cut → Double.MaxValue; NaN →
  * Double.MaxValue, matching the when-chain where NaN fails every `<=`;
  * null → null), but in one O(log B) binary search. The chain builds a
  * cuts-deep nested CaseWhen PLUS a cuts-wide CreateArray — at the MDL
  * quantizer's 65k candidates that expression tree overflows the driver
  * stack in Catalyst's transforms before codegen even gets to reject it.
  */
object SnapUp {

  /** First cut ≥ v, else Double.MaxValue (NaN → MaxValue too). */
  def snap(cuts: Array[Double], v: Double): Double = {
    if (v.isNaN) return Double.MaxValue
    // lower bound: first index with cuts(i) >= v
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts(mid) < v) lo = mid + 1 else hi = mid
    }
    if (lo < cuts.length) cuts(lo) else Double.MaxValue
  }

  def of(v: Column, cuts: Array[Double]): Column = {
    require(!cuts.exists(_.isNaN), "snap_up expects NaN-free cuts")
    Kernel.call(this, "snap", DoubleType)(cuts, v.cast("double") -> DoubleType)
  }
}
