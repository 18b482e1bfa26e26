package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Native kernel: the ORDER-PRESERVING 64-bit integer image of a
  * double — `bits ^ ((bits >> 63) >>> 1)` over `doubleToLongBits`
  * (negatives flip their low 63 bits, keeping the sign; positives pass
  * through) — so that `m(a) < m(b)` (SIGNED) iff `a` sorts before `b`
  * in Spark's ascending double order (NaN canonicalized and mapped above
  * +Infinity, exactly Spark's NaN-last rule; groupBy upstreams normalize
  * −0.0 to 0.0 so the −0.0 < +0.0 distinction never surfaces).
  *
  * This is the range-partitioner primitive for VALUE-ordered two-phase
  * prefix sums when no boundary array is available without an extra job:
  * the TOP BITS of the image are monotone range buckets for free
  * (`shiftright(m, 64 − B)`), unlike a hash (order-destroying) or a
  * quantile probe (a full extra pass). Null → null.
  */
object DoubleBits {
  def monotone(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    bits ^ ((bits >> 63) >>> 1)
  }

  def of(c: Column): Column = Kernel.call(this, "monotone", LongType)(c -> DoubleType)

  /** Monotone range bucket from the image's top `bits` bits — ARITHMETIC
    * shift, so the bucket id (in [−2^(bits−1), 2^(bits−1))) stays
    * signed-monotone like the image itself. */
  def bucket(c: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 32, "bucket bits must be in [1, 32]")
    import org.apache.spark.sql.functions.shiftright
    shiftright(of(c), 64 - bits)
  }
}
