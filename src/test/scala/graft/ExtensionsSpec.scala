package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.ArrayMath
import graft.sim.Similarity

/** GraftExtensions (SparkSessionExtensions): the TestSpark session is built
  * with spark.sql.extensions=graft.functions.GraftExtensions, so the
  * injected SQL functions are available session-wide. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val rng = new scala.util.Random(6)
  lazy val df = {
    val d = (0 until 100).map(i => (i.toLong, Array.fill(32)(rng.nextFloat()))).toDF("id", "v")
    d.cache(); d.count(); d
  }

  test("injected SQL function cosine_sim is available without registration") {
    df.createOrReplaceTempView("ext_vecs")
    val got = spark.sql(
      "SELECT a.id, cosine_sim(a.v, b.v) c FROM ext_vecs a JOIN ext_vecs b ON b.id = 1")
      .where(col("id") === 1).head().getDouble(1)
    assert(math.abs(got - 1.0) < 1e-12)
    // int8_cosine_sim: codes (1, 2, 3) at scale 0.5 point along the query
    val i8 = spark.sql(
      "SELECT int8_cosine_sim(array(1, 2, 3), 0.5D, array(1.0D, 2.0D, 3.0D)) c").head().getDouble(0)
    assert(math.abs(i8 - 1.0) < 1e-12)
  }

  test("zero-norm query: cosineBuiltin == native (0.0 convention, bit-for-bit)") {
    val zq = Seq.fill(32)(0.0)
    val b = df.select(Similarity.cosineBuiltin(col("v"), zq)).collect().map(_.getDouble(0))
    val n = df.select(ArrayMath.cosineSimTo(col("v"), zq)).collect().map(_.getDouble(0))
    assert(b.toSeq == n.toSeq)
    assert(b.forall(_ == 0.0))
  }
}
