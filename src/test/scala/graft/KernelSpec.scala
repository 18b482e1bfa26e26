package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.functions._

/** Every native-kernel column function runs one kernel on both of Spark's
  * evaluation paths. Over a `toDF` frame the optimizer folds the projection
  * into the local relation and evaluates the call interpreted (by
  * reflection); over the same rows read back from parquet the projection
  * runs in whole-stage generated code, which must call the kernel directly
  * and compile (no silent interpreted fallback). Both give the same rows.
  * A rejected constant argument or input type fails when the column is
  * built, with a message naming the function and what it rejected. */
class KernelSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def agree(local: DataFrame, kernel: String)(f: DataFrame => Column): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("kernel-spec").toString
    try {
      local.write.mode("overwrite").parquet(dir)
      val interpreted = local.select(col("id"), f(local).as("r"))
      assert(interpreted.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        "the toDF case must fold to a local relation (interpreted evaluation)")
      val scanned = spark.read.parquet(dir)
      val generated = scanned.select(col("id"), f(scanned).as("r"))
      val got = generated.collect()
      val stages = collect(generated.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w.doCodeGen()._2
      }.filter(_.body.contains(s"graft.functions.$kernel("))
      assert(stages.nonEmpty, s"no generated stage calls $kernel")
      stages.foreach(CodeGenerator.compile)
      def render(rows: Array[org.apache.spark.sql.Row]) = rows.sortBy(_.getLong(0)).map(_.toString).toSeq
      assert(render(got) == render(interpreted.collect()))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private val texts = Seq("the quick brown fox the quick", "  Ａｂｃ ﬁne  café ",
    "é dup dup", "ab", "", null, "日本語の テキスト です")
  private lazy val textDf = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")

  private lazy val doubleDf = Seq[java.lang.Double](1.5, -0.0, 0.0, Double.NaN,
    Double.PositiveInfinity, -3.25, null, Double.MinPositiveValue, 2.0)
    .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")

  private val vectors: Seq[Option[Seq[Option[Double]]]] = Seq(
    Some(Seq(Some(1.0), Some(2.0), Some(3.0))), Some(Seq(Some(0.0), Some(0.0), Some(0.0))),
    Some(Seq(Some(-1.0), Some(0.5), Some(2.0))), Some(Seq(Some(1.0), Some(2.0))),
    Some(Seq(Some(1.0), None, Some(2.0))), None)
  private def vectorDf(elem: String) =
    vectors.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .select(col("id"), col("v").cast(s"array<$elem>").as("v"))

  private val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.5), Array(-1.0, 1.0, 2.0),
    Array(0.0, 0.0, 0.0), Array(0.5, 0.5, 0.5))

  test("char, word and hash text kernels: generated code == interpreted") {
    agree(textDf, "CharNgrams.compute")(_ => CharNgrams.ngrams(col("t"), 3))
    agree(textDf, "WordShingles.compute")(_ => WordShingles.shingles(col("t"), 2))
    agree(textDf, "WordGramHashes.compute")(_ => WordGramHashes.gramHashes48(col("t"), 2))
    agree(textDf, "WordGramHashes.compute")(_ => WordGramHashes.gramHashes64(col("t"), 1))
    agree(textDf, "UnicodeNormalize.normalize")(_ => UnicodeNormalize.nfc(col("t")))
    agree(textDf, "UnicodeNormalize.normalize")(_ => UnicodeNormalize.nfkc(col("t")))
  }

  test("MinHash and bucket-weight kernels over arrays: generated code == interpreted") {
    val sh = Seq[Option[Seq[String]]](Some(Seq("a b", "b c", "c d")), Some(Seq()), None,
      Some(Seq("x"))).zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "sh")
    agree(sh, "MinHashSignature.compute")(_ => MinHashSignature.signature(col("sh"), 4))
    val hs = Seq[Option[Seq[Option[Long]]]](Some(Seq(Some(1L), Some(-7L), Some(100L))),
      Some(Seq()), Some(Seq(Some(3L), None)), None)
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("id", "hs")
    agree(hs, "BucketWeightSum.sum")(_ =>
      BucketWeightSum.bucketWeightSum(col("hs"), Array(0.5, -1.25, 2.0)))
  }

  test("double kernels (order image, sorted bucket, snap up): generated code == interpreted") {
    agree(doubleDf, "DoubleBits.monotone")(_ => DoubleBits.of(col("v")))
    agree(doubleDf, "SortedBucket.upperBound")(_ =>
      SortedBucket.of(col("v"), Array(-1.0, 0.0, 0.0, 2.0)))
    agree(doubleDf, "SnapUp.snap")(_ => SnapUp.of(col("v"), Array(-1.0, 0.0, 2.0)))
  }

  test("vector kernels (nearest centroid, int8, band signatures): generated code == interpreted") {
    for (elem <- Seq("double", "float")) {
      val v = vectorDf(elem)
      agree(v, "NearestCentroid.assign")(d =>
        NearestCentroid.nearest(col("v"), d.schema("v").dataType, cents))
      agree(v, "SignBandSignatures.sigs")(d =>
        ArrayMath.signBandSigs(col("v"), d.schema("v").dataType, graft.sim.Similarity.hyperplanes(8, 3), 2))
    }
    for (code <- Seq("int", "smallint", "tinyint")) {
      val c = vectorDf("int").select(col("id"), col("v").cast(s"array<$code>").as("codes"),
        (col("id") * 0.25 + 0.5).as("scale"))
      agree(c, "NearestCentroid.assignInt8")(d =>
        NearestCentroid.nearestInt8(col("codes"), d.schema("codes").dataType, col("scale"), cents))
    }
  }

  test("rejected constant arguments and input types fail when the column is built") {
    def fails(msg: String)(c: => Column): Unit = {
      val e = intercept[IllegalArgumentException](c)
      assert(e.getMessage.endsWith(msg), e.getMessage)
    }
    import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType}
    val t = col("t"); val v = col("v")
    val vt = ArrayType(DoubleType)
    fails("char_ngrams expects n >= 1, got 0")(CharNgrams.ngrams(t, 0))
    fails("word_shingles expects n >= 1, got 0")(WordShingles.shingles(t, 0))
    fails("word_gram_hashes expects n >= 1, got 0")(WordGramHashes.gramHashes48(t, 0))
    fails("word_gram_hashes expects n >= 1, got 0")(WordGramHashes.gramHashes64(t, 0))
    fails("minhash_sig expects k >= 1, got 0")(MinHashSignature.signature(t, 0))
    fails("bucket_weight_sum expects a non-empty weight table")(
      BucketWeightSum.bucketWeightSum(v, Array.empty[Double]))
    fails("sorted_bucket expects non-empty, NaN-free boundaries")(
      SortedBucket.of(v, Array.empty[Double]))
    fails("sorted_bucket expects non-empty, NaN-free boundaries")(
      SortedBucket.of(v, Array(0.0, Double.NaN)))
    fails("snap_up expects NaN-free cuts")(SnapUp.of(v, Array(Double.NaN)))
    fails("nearest_centroid expects >= 1 centroids of one shared dimensionality")(
      NearestCentroid.nearest(v, vt, Array.empty[Array[Double]]))
    fails("nearest_centroid expects >= 1 centroids of one shared dimensionality")(
      NearestCentroid.nearest(v, vt, Array(Array(1.0, 2.0), Array(1.0))))
    fails("int8_nearest_centroid expects >= 1 centroids of one shared dimensionality")(
      NearestCentroid.nearestInt8(v, ArrayType(ByteType), col("s"), Array(Array(1.0), Array(1.0, 2.0))))
    fails("nearest_centroid expects array<float|double>, got ArrayType(IntegerType,true)")(
      NearestCentroid.nearest(v, ArrayType(IntegerType), cents))
    fails("nearest_centroid expects array<float|double>, got DoubleType")(
      NearestCentroid.nearest(v, DoubleType, cents))
    fails("int8_nearest_centroid expects array<int|smallint|tinyint>, got ArrayType(DoubleType,true)")(
      NearestCentroid.nearestInt8(v, vt, col("s"), cents))
    val planes8 = graft.sim.Similarity.hyperplanes(8, 3)
    fails("sign_band_sigs expects >= 1 planes of one shared dimensionality")(
      ArrayMath.signBandSigs(v, vt, Array.empty[Array[Double]], 1))
    fails("bands (3) must divide the plane count (8)")(ArrayMath.signBandSigs(v, vt, planes8, 3))
    fails("bands (0) must divide the plane count (8)")(ArrayMath.signBandSigs(v, vt, planes8, 0))
    fails("planes per band (64) must fit a long's bits")(
      ArrayMath.signBandSigs(v, vt, graft.sim.Similarity.hyperplanes(64, 3), 1))
    fails("sign_band_sigs expects array<float|double>, got ArrayType(IntegerType,true)")(
      ArrayMath.signBandSigs(v, ArrayType(IntegerType), planes8, 2))
  }

  test("a column of a type its kernel cannot read fails at analysis, naming the method") {
    // select analyzes eagerly and no action is called, so no job starts
    val e = intercept[org.apache.spark.sql.AnalysisException](
      textDf.select(MinHashSignature.signature(col("t"), 4)))
    assert(e.getMessage.contains("DATATYPE_MISMATCH") && e.getMessage.contains("compute"), e.getMessage)
    // a numeric column is cast implicitly, as for Spark's own functions
    val longs = Seq(3L, -2L, 0L).toDF("x")
    assert(longs.select(DoubleBits.of(col("x"))).collect().toSeq ==
      longs.select(DoubleBits.of(col("x").cast("double"))).collect().toSeq)
  }
}
