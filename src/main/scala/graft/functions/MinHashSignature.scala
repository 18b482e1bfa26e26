package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native kernel for the k-permutation MinHash signature: element i of
  * the result is `min over shingles s of xxhash64(i, s)` — bit-identical to
  * the built-in formulation `array_min(transform(sh, s => xxhash64(lit(i),
  * s)))` evaluated k times (asserted in Round2Spec), because it invokes the
  * same `XxHash64Function` kernel with the same child order and seed.
  *
  * The built-in formulation evaluates k interpreted `transform`s per row
  * (higher-order functions are CodegenFallback): k closure dispatches and k
  * intermediate arrays per document, i.e. 32 extra allocations per row at
  * the default signature width. This kernel keeps one running-minimum
  * array and reads the shingle bytes once per (shingle, i) pair inside
  * whole-stage codegen — the signature pass over a 100-TB corpus is a
  * single tight loop per document.
  *
  * Null/empty semantics: null or EMPTY shingle array → null signature (the
  * production caller filters `size(sh) > 0` first — empty-shingle docs must
  * be dropped before banding or they form a null-band candidate clique).
  */
object MinHashSignature {

  /** seeds[i] = xxhash64 state after the int literal i — exactly the
    * XxHash64(Seq(lit(i), s)) child-chaining with default seed 42. Computed
    * once per column, not per row. */
  def seedsFor(k: Int): Array[Long] = {
    val seeds = new Array[Long](k)
    var i = 0
    while (i < k) { seeds(i) = XxHash64Function.hash(i, IntegerType, 42L); i += 1 }
    seeds
  }

  /** One-pass signature: a running min per permutation while the shingle
    * bytes are hot. */
  def compute(arr: ArrayData, seeds: Array[Long]): ArrayData = {
    val m = arr.numElements()
    if (m == 0) return null
    val k = seeds.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < m) {
      val s = arr.getUTF8String(j)
      var i = 0
      while (i < k) {
        val h = XxHash64Function.hash(s, StringType, seeds(i))
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Column API: k-wide MinHash signature of a shingle array. */
  def signature(shingles: Column, k: Int): Column = {
    require(k >= 1, s"minhash_sig expects k >= 1, got $k")
    // empty array → null even for a non-null input
    Kernel.call(this, "compute", ArrayType(LongType, containsNull = false),
      returnNullable = true)(shingles, seedsFor(k))
  }
}
