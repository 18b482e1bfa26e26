package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.stats._

/** Distributed stats vs the naive single-threaded oracles on a seeded
  * iris-like fixture (FIXTURES.md §2). */
class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic iris-like fixture: 150 rows, 4 numeric features, 3 classes
  val rng = new scala.util.Random(42)
  case class IrisLike(f1: Double, f2: Double, f3: Double, f4: Double, species: String)
  lazy val rows: Seq[IrisLike] = (0 until 150).map { i =>
    val cls = i % 3
    IrisLike(
      f1 = cls * 1.5 + rng.nextGaussian(),
      f2 = cls * 0.5 + rng.nextGaussian() * 2,
      f3 = rng.nextGaussian(), // pure noise
      f4 = (2 - cls) * 2.0 + rng.nextGaussian() * 0.5,
      species = s"c$cls"
    )
  }
  lazy val df = { val d = spark.createDataFrame(rows); d.cache(); d.count(); d }

  def approxEq(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  test("entropy scores match naive oracle on pre-binned columns") {
    // bin f1 with the engine's cutpoint binning, then both paths score the
    // SAME binned column: distribution correctness, not binning choice.
    val cuts = Binning.exactCuts(df, Seq("f1", "f2", "f4"), 5)
    val binned = df.select(
      Binning.binByCuts(col("f1"), cuts("f1")).cast("string").as("f1"),
      Binning.binByCuts(col("f2"), cuts("f2")).cast("string").as("f2"),
      Binning.binByCuts(col("f4"), cuts("f4")).cast("string").as("f4"),
      col("species").as("__y"))
    val local = binned.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    for (kind <- Seq(Entropy.InfoGain, Entropy.GainRatio, Entropy.SymUncert)) {
      val long = graft.core.Melt.categorical(binned, Seq("f1", "f2", "f4"), keep = Seq("__y"))
        .select(col("feature"), col("value").as("xb"), col("__y").as("yb"))
      val got = Entropy.scores(long, kind).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val naive: (Seq[String], Seq[String]) => Double = kind match {
        case Entropy.InfoGain  => NaiveOracles.infoGain[String, String]
        case Entropy.GainRatio => NaiveOracles.gainRatio[String, String]
        case Entropy.SymUncert => NaiveOracles.symUncert[String, String]
      }
      val ys = local.map(_._4).toSeq
      assert(approxEq(got("f1"), naive(local.map(_._1).toSeq, ys)), s"${kind.name} f1")
      assert(approxEq(got("f2"), naive(local.map(_._2).toSeq, ys)), s"${kind.name} f2")
      assert(approxEq(got("f4"), naive(local.map(_._3).toSeq, ys)), s"${kind.name} f4")
    }
  }

  test("pearson and spearman match naive oracle") {
    val reg = df.withColumn("y", col("f1") * 2 + col("f2"))
    val x1 = rows.map(_.f1); val x3 = rows.map(_.f3)
    val y = rows.map(r => r.f1 * 2 + r.f2)
    val p = Correlation.pearson(reg, Seq("f1", "f3"), "y")
    assert(approxEq(p("f1").get, NaiveOracles.pearson(x1, y), 1e-9))
    assert(approxEq(p("f3").get, NaiveOracles.pearson(x3, y), 1e-9))
    val s = Correlation.spearman(reg, Seq("f1", "f3"), "y")
    assert(approxEq(s("f1").get, NaiveOracles.spearman(x1, y), 1e-9))
    assert(approxEq(s("f3").get, NaiveOracles.spearman(x3, y), 1e-9))
  }

  test("chi-squared statistic and p-value match naive oracle + commons-math") {
    val cat = df.select(
      when(col("f1") > 1.0, "hi").otherwise("lo").as("x"),
      col("species").as("y"))
    val local = cat.collect().map(r => (r.getString(0), r.getString(1)))
    val long = cat.select(lit("x").as("feature"), col("x").as("xb"), col("y").as("yb"))
    val p = ChiSq.pValues(long)("x").get
    val stat = NaiveOracles.chisqStat(local.map(_._1).toSeq, local.map(_._2).toSeq)
    val dfree = (2 - 1) * (3 - 1)
    val want = 1.0 - new org.apache.commons.math3.distribution.ChiSquaredDistribution(dfree)
      .cumulativeProbability(stat)
    assert(approxEq(p, want, 1e-9))
  }

  test("fisher exact 2x2 matches R fisher.test") {
    // R: fisher.test(matrix(c(3, 1, 1, 3), nrow=2))$p.value = 0.4857143
    assert(approxEq(ChiSq.fisherExact2x2(3, 1, 1, 3), 0.4857142857142857, 1e-9))
    // R: fisher.test(matrix(c(10, 2, 3, 15), nrow=2))$p.value = 0.0005367241
    assert(approxEq(ChiSq.fisherExact2x2(10, 2, 3, 15), 5.367240575033451e-04, 1e-6))
  }

  test("AUC matches naive rank-sum oracle, direction auto") {
    val bin = df.where(col("species") =!= "c2")
    val local = bin.select("f1", "species").collect()
      .map(r => (r.getDouble(0), r.getString(1) == "c0"))
    val long = graft.core.Melt.numeric(bin, Seq("f1", "f2", "f3"), keep = Seq("species"))
      .select(col("feature"), col("value"), col("species").as("y"))
    val got = Auc.scoresAuto(long).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val raw = NaiveOracles.auc(local.map(_._1).toSeq, local.map(_._2).toSeq)
    assert(approxEq(got("f1"), math.max(raw, 1 - raw), 1e-9))
  }

  test("mid-rank ties are averaged like R rank()") {
    val d = Seq(1.0, 2.0, 2.0, 3.0).toDF("v")
    val ranked = TestRankRef.midRanks(d, Seq("v")).select("v__rank")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(ranked == Seq(1.0, 2.5, 2.5, 4.0))
  }

  test("median split matches discretize_var semantics") {
    val d = Seq[java.lang.Double](8.0, 7.0, 2.0, 5.0, null, 3.0, 1.0).toDF("v")
    val got = Binning.quantileSplit(d, Seq("v"), 0.5).collect().map(r => Option(r.getString(0)))
    assert(got.toSeq == Seq(Some("h"), Some("h"), Some("l"), Some("h"), None, Some("l"), Some("l")))
    val tie = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 21.0).toDF("v")
    val got2 = Binning.quantileSplit(tie, Seq("v"), 0.5).collect().map(_.getString(0))
    assert(got2.toSeq == Seq("l", "l", "l", "l", "l", "h"))
  }

  test("estimateLambda matches the naive Schäfer–Strimmer formula and is scale-invariant") {
    // naive single-threaded replay of corpcor::estimate.lambda (equal
    // weights): standardize, w_kij = z_ki z_kj, λ* = Σ(m2−w̄²)/Σw̄²/(n−1)
    def naive(cols: Seq[Array[Double]]): Double = {
      val n = cols.head.length
      val z = cols.map { c =>
        val m = c.sum / n
        val sd = math.sqrt(c.map(x => (x - m) * (x - m)).sum / (n - 1))
        c.map(x => (x - m) / sd)
      }
      var sE2R = 0.0; var sER2 = 0.0
      for (i <- z.indices; j <- i + 1 until z.length) {
        val w = (0 until n).map(k => z(i)(k) * z(j)(k))
        val wbar = w.sum / n
        val m2 = w.map(x => x * x).sum / n
        sE2R += 2 * wbar * wbar; sER2 += 2 * m2
      }
      math.max(0.0, math.min(1.0, (sER2 - sE2R) / sE2R / (n - 1)))
    }
    val cols = Seq("f1", "f2", "f3", "f4").map(c => rows.map {
      r => c match { case "f1" => r.f1; case "f2" => r.f2; case "f3" => r.f3; case _ => r.f4 }
    }.toArray)
    val want = naive(cols)
    val got = Correlation.estimateLambda(df, Seq("f1", "f2", "f3", "f4"))
    assert(approxEq(got, want, 1e-9), s"got $got want $want")
    assert(got > 0.0 && got < 1.0, s"meaningful intensity on this fixture, got $got")
    // standardization makes the estimate invariant to affine rescaling
    val scaled = df.select(
      (col("f1") * 100 + 7).as("f1"), (col("f2") / 3).as("f2"),
      (col("f3") * -2).as("f3"), col("f4"), col("species"))
    val got2 = Correlation.estimateLambda(scaled, Seq("f1", "f2", "f3", "f4"))
    assert(approxEq(got, got2, 1e-9), s"scale invariance: $got vs $got2")
  }

  test("carScores with auto lambda == carScores with the estimated lambda pinned") {
    val reg = df.withColumn("y", col("f1") + col("f3") * 0.5)
    val lam = Correlation.estimateLambda(reg, Seq("f1", "f3", "y"))
    val auto = Correlation.carScores(reg, Seq("f1", "f3"), "y")
    val pinned = Correlation.carScores(reg, Seq("f1", "f3"), "y", Some(lam))
    Seq("f1", "f3").foreach(f => assert(approxEq(auto(f), pinned(f), 1e-12), f))
  }

  test("car scores reduce to marginal correlations for orthonormal predictors") {
    // with (near-)uncorrelated predictors R_X ~ I so omega ~ rho
    val reg = df.withColumn("y", col("f1") + col("f3") * 0.5)
    val car = Correlation.carScores(reg, Seq("f1", "f3"), "y")
    val p = Correlation.pearson(reg, Seq("f1", "f3"), "y")
    assert(math.abs(car("f1") - p("f1").get) < 0.1)
    assert(math.abs(car("f3") - p("f3").get) < 0.1)
  }
}
