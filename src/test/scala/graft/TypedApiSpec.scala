package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Types

class TypedApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("typed featureVectors: encoder round-trip, leakage-safe fields, label carried") {
    val ds = Types.featureVectors(
      spark,
      Types.pages(spark, 3000, 300),
      Types.labels(spark, 300, 300))
    val rows = ds.collect() // materializes through the FeatureRow encoder
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.text_len > 0)
      assert(r.session_id >= 1 && r.visit_no >= 1)
      assert(r.revisits_7d >= 1) // rolling count includes current row
      assert(!r.label.isNaN)
    }
    // prev_text_len is None exactly on first visits
    assert(rows.exists(_.prev_text_len.isEmpty))
    assert(rows.filter(_.visit_no > 1).forall(_.prev_text_len.isDefined))
  }

  test("feature vectors do not depend on spark.sql.shuffle.partitions") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def digest(partitions: Int): Long = {
      spark.conf.set(key, partitions.toString)
      graft.runtime.Lineage.contentDigest(Types.featureVectors(
        spark, Types.pages(spark, 3000, 300), Types.labels(spark, 300, 300)).toDF())
    }
    try assert(digest(1) == digest(4))
    finally spark.conf.set(key, saved)
  }
}
