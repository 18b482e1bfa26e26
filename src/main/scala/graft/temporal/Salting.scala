package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew handling for hot keys (north_rule: "skewed hot urls are
  * handled with salting plus AQE skew-join splitting").
  *
  * AQE splits skewed SHUFFLE JOIN partitions automatically
  * (spark.sql.adaptive.skewJoin.enabled, on in [[graft.core.GraftSession]]),
  * but neither groupBy hot keys nor window partitions are split. For
  * ASSOCIATIVE aggregations we decompose: aggregate per (key, salt) first —
  * spreading a hot key over `buckets` tasks — then merge per key. The salt is
  * derived deterministically from a uniqueness column (NOT rand()) so reruns
  * and resume produce identical partitioning.
  */
object Salting {

  def saltCol(unique: Column, buckets: Int): Column =
    pmod(xxhash64(unique), lit(buckets))

  /** Two-phase salted count per key. */
  def saltedCount(df: DataFrame, key: String, unique: Column, buckets: Int): DataFrame =
    df.groupBy(col(key), saltCol(unique, buckets).as("__salt"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(key))
      .agg(sum("__c").as("cnt"))
}
