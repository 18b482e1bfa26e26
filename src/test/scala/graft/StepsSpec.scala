package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.select._
import graft.stats.{Anova, Binning, Entropy}

class StepsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val rng = new scala.util.Random(7)
  case class R(f1: Double, f2: Double, f3: Double, species: String)
  lazy val rows: Seq[R] = (0 until 300).map { i =>
    val cls = i % 3
    R(cls * 2.0 + rng.nextGaussian() * 0.5, cls * 0.8 + rng.nextGaussian() * 1.5,
      rng.nextGaussian(), s"c$cls")
  }
  lazy val df = { val d = spark.createDataFrame(rows); d.cache(); d.count(); d }

  test("InfoGainStep: informative features kept, noise excluded, scores carried") {
    val fitted = InfoGainStep(topP = Some(2)).fit(df, "species", Seq("f1", "f2", "f3"))
    assert(fitted.excluded == Seq("f3"))
    assert(fitted.scores.forall(_._2.isDefined))
    val m = fitted.scores.toMap
    assert(m("f1").get > m("f3").get)
    val baked = fitted.transform(df)
    assert(baked.columns.toSet == Set("f1", "f2", "species"))
  }

  test("MrmrStep greedy matches naive driver-side greedy on binned data") {
    val preds = Seq("f1", "f2", "f3")
    val fitted = MrmrStep(topP = Some(2), nbins = 5).fit(df, "species", preds)
    // naive oracle: same binning, naive MI, same greedy rule
    val cuts = Binning.exactCuts(df, preds, 5)
    val binned = df.select(
      preds.map(p => Binning.binByCuts(col(p), cuts(p)).cast("string").as(p))
        :+ col("species").as("y"): _*).collect()
    def colv(i: Int) = binned.map(_.getString(i)).toSeq
    val y = binned.map(_.getString(3)).toSeq
    val rel = preds.indices.map(i => preds(i) -> NaiveOracles.infoGain(colv(i), y)).toMap
    var selected = List.empty[String]
    var remaining = preds.toList
    val naiveScores = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val redSum = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    while (remaining.nonEmpty) {
      val crit = remaining.map(p => p -> (rel(p) - (if (selected.isEmpty) 0.0 else redSum(p) / selected.length)))
      val (best, sc) = crit.maxBy(_._2)
      naiveScores += (best -> sc)
      selected = best :: selected
      remaining = remaining.filterNot(_ == best)
      remaining.foreach { p =>
        redSum(p) += NaiveOracles.infoGain(colv(preds.indexOf(p)), colv(preds.indexOf(best)))
      }
    }
    fitted.scores.collect { case (f, Some(s)) => (f, s) }.zip(naiveScores).foreach {
      case ((gf, gs), (nf, ns)) =>
        assert(gf == nf, s"selection order: got $gf want $nf")
        assert(math.abs(gs - ns) < 1e-9, s"score for $gf")
    }
  }

  test("FcbfStep removes a redundant duplicate feature") {
    val dup = df.withColumn("f1copy", col("f1"))
    val fitted = FcbfStep(minimumSu = 0.01).fit(dup, "species", Seq("f1", "f1copy", "f2", "f3"))
    val kept = Seq("f1", "f1copy", "f2", "f3").filterNot(fitted.excluded.contains)
    assert(!(kept.contains("f1") && kept.contains("f1copy")),
      s"duplicate should be eliminated, kept=$kept")
    assert(fitted.excluded.contains("f3"), "noise below SU threshold or redundant")
  }

  test("quantileSplit at cutpoint 0.25 == naive R type-7 quantile split (ties low, NULL stays)") {
    // naive oracle: R type-7 quantile h = (n-1)p; q = x_(h) + frac * (x_(h+1) - x_(h))
    def type7(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val lo = h.toInt
      if (lo + 1 >= s.length) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
    val vals = (0 until 97).map(i => ((i * 37) % 101).toDouble)
    val d = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
      .withColumn("x", when(col("id") === 7, lit(null)).otherwise(col("x")))
    val nonNull = vals.zipWithIndex.filterNot(_._2 == 7).map(_._1)
    val cut = type7(nonNull, 0.25)
    val got = Binning.quantileSplit(d, Seq("x"), 0.25)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      val want = if (i == 7) None else Some(if (v <= cut) "l" else "h")
      assert(got(i.toLong) == want, s"id=$i v=$v cut=$cut")
    }
    // and the default is the median: quantileSplit(0.5) == a split at
    // Spark's percentile median
    val viaHalf = Binning.quantileSplit(d, Seq("x"), 0.5).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val viaMedian = Binning.splitAtCuts(d, Seq("x" -> Some(Binning.exactMedian(d, "x")))).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(viaHalf == viaMedian)
  }

  test("FcbfStep(cutpoint = 0.25) discretizes at the quartile and changes selections accordingly") {
    // y correlates with whether f_skew exceeds its 25% quantile — a median
    // split destroys that signal (both halves mixed), the quartile split
    // preserves it; porting step_select_fcbf(cutpoint = 0.25) must follow
    // the reference's discretization, not silently use the median
    val r2 = new scala.util.Random(11)
    val skewRows = (0 until 400).map { _ =>
      val x = r2.nextDouble()
      val y = if ((x > 0.25) ^ (r2.nextDouble() < 0.05)) "pos" else "neg"
      (x, r2.nextGaussian(), y)
    }
    val d = skewRows.toDF("f_skew", "f_noise", "y")
    val atQuartile = FcbfStep(minimumSu = 0.05, cutpoint = 0.25)
      .fit(d, "y", Seq("f_skew", "f_noise"))
    assert(!atQuartile.excluded.contains("f_skew"),
      s"quartile split must keep the quartile-aligned feature: ${atQuartile.scores}")
    val atMedian = FcbfStep(minimumSu = 0.05).fit(d, "y", Seq("f_skew", "f_noise"))
    val suQ = atQuartile.scores.toMap.apply("f_skew").get
    val suM = atMedian.scores.toMap.apply("f_skew").getOrElse(0.0)
    assert(suQ > suM + 0.1,
      s"SU at the aligned cutpoint must dominate the median's: $suQ vs $suM")
  }

  test("summary mirrors the reference print.step_select_* lines") {
    val ig = InfoGainStep(topP = Some(2)).fit(df, "species", Seq("f1", "f2", "f3"))
    assert(ig.summary == "Information Gain feature selection (1 excluded)")
    val roc = RocStep(topP = Some(1)).fit(df, "species", Seq("f1", "f3"))
    assert(roc.summary == "ROC curve feature selection (1 excluded)")
    val fcbf = FcbfStep(minimumSu = 0.01).fit(df, "species", Seq("f1", "f2", "f3"))
    val retained = Seq("f1", "f2", "f3").filterNot(fcbf.excluded.contains)
    assert(fcbf.summary ==
      s"FCBF retained : ${retained.mkString(", ")}\nFCBF removed: ${fcbf.excluded.mkString(", ")}")
    val corr = CorrStep(topP = Some(1))
      .fit(df.withColumn("yy", col("f1") + col("f2")), "yy", Seq("f1", "f2"))
    assert(corr.summary == "Carscore feature selection (1 excluded)")
  }

  test("tidy: termsDF rows == excluded; scoresDF by score descending, NA last (tidy_filter_step.R:4-7)") {
    val fitted = InfoGainStep(topP = Some(2)).fit(df, "species", Seq("f1", "f2", "f3"))
    assert(fitted.termsDF(spark).as[String].collect().toSeq == fitted.excluded)
    val withNa = fitted.copy(scores = ("f0" -> None) +: fitted.scores)
    val tidy = withNa.scoresDF(spark).collect().toSeq
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(tidy.toSet == withNa.scores.toSet)
    assert(tidy.last == ("f0" -> None), "NA scores sort last")
    val known = tidy.init.map(_._2.get)
    assert(known == known.sorted.reverse, s"scores must be descending: $known")
  }

  test("XtabStep: minimize semantics with BH-adjusted p-values") {
    val cat = df.select(
      when(col("f1") > 2, "hi").otherwise("lo").as("x_informative"),
      when(col("f3") > 0, "a").otherwise("b").as("x_noise"),
      col("species"))
    val fitted = XtabStep(topP = Some(1)).fit(cat, "species", Seq("x_informative", "x_noise"))
    assert(fitted.excluded == Seq("x_noise"))
    val m = fitted.scores.toMap
    assert(m("x_informative").get < m("x_noise").get, "informative has smaller p")
  }

  test("XtabStep: an all-null categorical predictor scores NA and is excluded") {
    val cat = df.select(
      when(col("f1") > 2, "hi").otherwise("lo").as("x_informative"),
      when(col("f3") > 0, "a").otherwise("b").as("x_noise"),
      lit(null).cast("string").as("x_null"),
      col("species"))
    val fitted = XtabStep(topP = Some(2)).fit(cat, "species", Seq("x_informative", "x_noise", "x_null"))
    assert(fitted.scores.map(_._1) == Seq("x_informative", "x_noise", "x_null"))
    assert(fitted.scores.toMap.apply("x_null").isEmpty, "no test ⇒ NA score")
    assert(fitted.excluded == Seq("x_null"))
    // BH's n counts only the non-NA p-values (R's p.adjust)
    val without = XtabStep(topP = Some(2)).fit(cat, "species", Seq("x_informative", "x_noise"))
    assert(fitted.scores.filter(_._2.isDefined).toMap == without.scores.toMap)
  }

  test("RocStep multiclass = mean of pairwise direction-auto AUCs") {
    val fitted = RocStep(topP = Some(2)).fit(df, "species", Seq("f1", "f3"))
    val local = df.select("f1", "species").collect().map(r => (r.getDouble(0), r.getString(1)))
    val pairs = Seq(("c0", "c1"), ("c0", "c2"), ("c1", "c2"))
    val naive = pairs.map { case (a, b) =>
      val sub = local.filter(t => t._2 == a || t._2 == b)
      val raw = NaiveOracles.auc(sub.map(_._1).toSeq, sub.map(_._2 == a).toSeq)
      math.max(raw, 1 - raw)
    }.sum / pairs.length
    assert(math.abs(fitted.scores.toMap.apply("f1").get - naive) < 1e-9)
  }

  test("AovStep Type-I SS matches independent OLS nested-model oracle") {
    val cat = df.select(
      when(col("f1") > 2, "hi").otherwise("lo").as("g1"),
      when(col("f2") > 1, "p").when(col("f2") > 0, "q").otherwise("r").as("g2"),
      (col("f1") * 2 + col("f2") + col("f3") * 0.3).as("y"))
    val got = Anova.typeISS(cat, "y", Seq("g1", "g2"))
    // independent oracle: commons-math OLS on collected dummy design
    val local = cat.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val g1l = local.map(_._1).distinct.sorted.drop(1)
    val g2l = local.map(_._2).distinct.sorted.drop(1)
    def design(withG1: Boolean, withG2: Boolean): Array[Array[Double]] =
      local.map { case (a, b, _) =>
        (if (withG1) g1l.map(l => if (a == l) 1.0 else 0.0) else Array.empty[Double]) ++
          (if (withG2) g2l.map(l => if (b == l) 1.0 else 0.0) else Array.empty[Double])
      }
    val ys = local.map(_._3)
    def rssOf(x: Array[Array[Double]]): Double = {
      if (x.head.isEmpty) {
        val mean = ys.sum / ys.length
        return ys.map(v => (v - mean) * (v - mean)).sum
      }
      val ols = new org.apache.commons.math3.stat.regression.OLSMultipleLinearRegression()
      ols.newSampleData(ys, x)
      ols.calculateResidualSumOfSquares()
    }
    val rss0 = rssOf(design(false, false))
    val rss1 = rssOf(design(true, false))
    val rss12 = rssOf(design(true, true))
    assert(math.abs(got(0).ss - (rss0 - rss1)) < 1e-6, "SS g1")
    assert(math.abs(got(1).ss - (rss1 - rss12)) < 1e-6, "SS g2")
    assert(got.forall(t => t.p >= 0 && t.p <= 1))
  }

  test("AovStep with no complete row fails naming the step and the all-NULL predictors") {
    val four = Seq(("a", 1.0), ("b", 2.0), ("a", 3.0), ("b", 5.0)).toDF("g", "y")
      .withColumn("g_null", lit(null).cast("string"))
    def failure(frame: org.apache.spark.sql.DataFrame, preds: Seq[String]): String =
      intercept[IllegalArgumentException](AovStep(topP = Some(1)).fit(frame, "y", preds)).getMessage
    val empty = failure(four.where(lit(false)), Seq("g"))
    assert(empty.contains("step_select_aov") && empty.contains("empty"), empty)
    val allNull = failure(four, Seq("g", "g_null"))
    assert(allNull.contains("step_select_aov") && allNull.contains("all-NULL columns: g_null"), allNull)
    // the complete predictor alone still fits
    assert(AovStep(topP = Some(1)).fit(four, "y", Seq("g")).scores.map(_._1) == Seq("g"))
  }

  test("LinearStep regression coefficients match independent OLS") {
    val reg = df.withColumn("y", col("f1") * 3 - col("f2") * 0.5 + col("f3"))
    val fitted = LinearStep(topP = Some(2)).fit(reg, "y", Seq("f1", "f2", "f3"))
    val local = reg.select("f1", "f2", "f3", "y").collect()
    val ols = new org.apache.commons.math3.stat.regression.OLSMultipleLinearRegression()
    ols.newSampleData(local.map(_.getDouble(3)),
      local.map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2))))
    val beta = ols.estimateRegressionParameters() // intercept, b1, b2, b3
    val m = fitted.scores.toMap
    Seq("f1", "f2", "f3").zipWithIndex.foreach { case (f, i) =>
      assert(math.abs(m(f).get - math.abs(beta(i + 1))) < 1e-4, s"coef $f")
    }
  }

  test("LinearStep aborts on multiclass outcome") {
    val e = intercept[IllegalArgumentException] {
      LinearStep(topP = Some(1)).fit(df, "species", Seq("f1", "f2"))
    }
    assert(e.getMessage.contains("binary"))
  }

  test("LinearStep with no complete row or a non-binary outcome fails naming the step and cause") {
    def failure(frame: org.apache.spark.sql.DataFrame): String =
      intercept[IllegalArgumentException](
        LinearStep(topP = Some(1)).fit(frame, "species", Seq("f1", "f3"))).getMessage
    val empty = failure(df.where(lit(false)))
    assert(empty.contains("step_select_linear") && empty.contains("empty"), empty)
    val allNull = failure(df.withColumn("species", lit(null).cast("string")))
    assert(allNull.contains("step_select_linear") && allNull.contains("all-NULL columns: species"),
      allNull)
    for ((frame, found) <- Seq((df, 3), (df.where(col("species") === "c0"), 1))) {
      val msg = failure(frame)
      assert(msg.contains("step_select_linear") && msg.contains("binary") &&
        msg.contains(s"found $found"), msg)
    }
  }

  test("TreeStep and ForestStep rank informative over noise, rescaled 0-100") {
    for (fitted <- Seq(
        TreeStep(topP = Some(2)).fit(df, "species", Seq("f1", "f3")),
        ForestStep(topP = Some(1), trees = 20).fit(df, "species", Seq("f1", "f3")))) {
      val m = fitted.scores.toMap
      assert(m("f1").get > m("f3").get)
      assert(m.values.flatten.forall(v => v >= 0 && v <= 100))
      assert(fitted.excluded == Seq("f3"))
    }
  }

  test("ReliefStep is deterministic and ranks informative over noise") {
    val a = ReliefStep(topP = Some(1), sampleSize = 20).fit(df, "species", Seq("f1", "f3"))
    val b = ReliefStep(topP = Some(1), sampleSize = 20).fit(df, "species", Seq("f1", "f3"))
    assert(a.scores == b.scores, "seeded determinism")
    val m = a.scores.toMap
    assert(m("f1").get > m("f3").get)
  }

  test("ReliefStep with no complete row fails naming the step and the cause") {
    def failure(frame: org.apache.spark.sql.DataFrame, preds: Seq[String]): String =
      intercept[IllegalArgumentException](
        ReliefStep(topP = Some(1), sampleSize = 20).fit(frame, "species", preds)).getMessage
    val empty = failure(df.where(lit(false)), Seq("f1", "f3"))
    assert(empty.contains("step_select_relief") && empty.contains("empty"), empty)
    val allNull = failure(df.withColumn("f_null", lit(null).cast("double")), Seq("f1", "f_null"))
    assert(allNull.contains("step_select_relief") && allNull.contains("all-NULL columns: f_null"),
      allNull)
  }

  test("RocStep with fewer than two outcome classes fails naming the step and the count") {
    def failure(frame: org.apache.spark.sql.DataFrame): String =
      intercept[IllegalArgumentException](
        RocStep(topP = Some(1)).fit(frame, "species", Seq("f1", "f3"))).getMessage
    for ((frame, found) <- Seq(
        (df.where(lit(false)), 0), (df.limit(1), 1), (df.where(col("species") === "c0"), 1))) {
      val msg = failure(frame)
      assert(msg.contains("step_select_roc") && msg.contains(s"found $found"), msg)
    }
  }

  test("ReliefStep regression (RReliefF): numeric outcome works, deterministic, informative > noise") {
    // the reference passes numeric outcomes straight to FSelectorRcpp::relief
    // (step_select_relief.R:133–181 — no outcome-type guard)
    val rng = new scala.util.Random(7)
    val reg = (0 until 300).map { _ =>
      val a = rng.nextGaussian(); val noise = rng.nextGaussian()
      (a, noise, 3 * a + rng.nextGaussian() * 0.2)
    }.toDF("inf", "noi", "y")
    val a = ReliefStep(topP = Some(1), sampleSize = 20).fit(reg, "y", Seq("inf", "noi"))
    val b = ReliefStep(topP = Some(1), sampleSize = 20).fit(reg, "y", Seq("inf", "noi"))
    assert(a.scores == b.scores, "seeded determinism")
    val m = a.scores.toMap
    assert(m("inf").get > m("noi").get,
      s"informative feature must outscore noise: $m")
    assert(a.excluded == Seq("noi"))
    assert(m.values.flatten.forall(v => v >= -1.0 && v <= 1.0), "RReliefF scores in [-1, 1]")
  }

  test("BorutaStep with no complete row fails naming the step and the cause") {
    def failure(frame: org.apache.spark.sql.DataFrame, preds: Seq[String]): String =
      intercept[IllegalArgumentException](
        BorutaStep(maxRuns = 2, trees = 2).fit(frame, "species", preds)).getMessage
    val empty = failure(df.where(lit(false)), Seq("f1", "f3"))
    assert(empty.contains("step_select_boruta") && empty.contains("empty"), empty)
    val allNull = failure(df.withColumn("f_null", lit(null).cast("double")), Seq("f1", "f_null"))
    assert(allNull.contains("step_select_boruta") && allNull.contains("all-NULL columns: f_null"),
      allNull)
  }

  test("BorutaStep: informative feature wins every round; only noise can be excluded") {
    // With 12 runs a pure-noise feature may legitimately end Tentative
    // (P(noise beats max-of-3-shadows) ≈ 1/4 per round), so assert the
    // decision structure, not a forced rejection.
    val res = BorutaStep(maxRuns = 12, trees = 20).fitDetailed(df, "species", Seq("f1", "f2", "f3"))
    val fitted = res.selector
    val hits = fitted.scores.toMap
    assert(hits("f1").get == 12.0, "informative feature beats shadows every round")
    assert(!fitted.excluded.contains("f1") && !fitted.excluded.contains("f2"))
    assert(fitted.excluded.forall(_ == "f3"))
    assert(hits("f3").get < 12.0)

    // ImpHistory shape: one row per round, each carrying every feature plus
    // the shadowMin/Mean/Max summaries (test_step_select_boruta.R:29,60)
    assert(res.impHistory.length == 12)
    val wantKeys = Set("f1", "f2", "f3", "shadowMin", "shadowMean", "shadowMax")
    res.impHistory.foreach { row =>
      assert(row.keySet == wantKeys)
      assert(row("shadowMin") <= row("shadowMean") && row("shadowMean") <= row("shadowMax"))
    }
    assert(res.decisions("f1") == "Confirmed")

    // TentativeRoughFix: no Tentatives survive; each is resolved by
    // median-importance vs median-shadowMax, and the fixed exclusion set
    // matches the decisions
    val fixed = res.roughFix
    assert(!fixed.decisions.values.exists(_ == "Tentative"))
    assert(fixed.decisions("f1") == "Confirmed", "rough-fix never demotes a Confirmed feature")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val shadowMed = median(res.impHistory.map(_("shadowMax")))
    res.decisions.collect { case (p, "Tentative") => p }.foreach { p =>
      val want = if (median(res.impHistory.map(_(p))) > shadowMed) "Confirmed" else "Rejected"
      assert(fixed.decisions(p) == want, s"rough-fix rule for $p")
    }
    assert(fixed.selector.excluded.toSet ==
      fixed.decisions.collect { case (p, "Rejected") => p }.toSet)
    assert(fixed.selector.warnings.isEmpty)
  }

  test("batched mRMR and wave-batched FCBF == naive per-round formulations (multi-wave fixture)") {
    // 12 informative-ish features + 8 NEAR-duplicates (0.02-grid quantized
    // copies — redundant after binning but never bit-equal criteria, so fp
    // tie-order between the batched and naive groupings can't flip a
    // selection): enough keepers to span multiple FCBF waves (wave = 8)
    // and enough redundancy that drops interleave across wave boundaries.
    val rng = new scala.util.Random(7)
    val p = 12
    val rows = (0 until 3000).map { _ =>
      val base = Seq.fill(p)(rng.nextDouble())
      val y = if (base.sum + rng.nextDouble() * 0.5 > 6.25) "a" else "b"
      (base, y)
    }
    val dupes = 8
    val feats = (0 until p).map(i => s"f$i") ++ (0 until dupes).map(i => s"r$i")
    val df = rows.toDF("arr", "y").select(
      (0 until p).map(i => col("arr")(i).as(s"f$i")) ++
        (0 until dupes).map(i => (floor(col("arr")(i) * 50) / 50).as(s"r$i")) :+ col("y"): _*)
    df.cache(); df.count()

    // --- mRMR: selection order and criterion values replay exactly ---
    val mrmrFit = MrmrStep(topP = Some(0.5)).fit(df, "y", feats)
    val cuts = Binning.exactCuts(df, feats, 5)
    val binned = df.select(
      feats.map(f => Binning.binByCuts(col(f), cuts(f)).cast("string").as(f)) :+
        col("y").cast("string").as("__y"): _*)
    binned.cache(); binned.count()
    val naiveMrmr = TestRankRef.mrmrNaive(binned, feats)
    val gotMrmr = mrmrFit.scores.takeWhile(_._2.isDefined).map { case (k, v) => (k, v.get) }
    assert(gotMrmr.map(_._1) == naiveMrmr.map(_._1), "mRMR selection order must match naive")
    gotMrmr.zip(naiveMrmr).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9, s"criterion drift: $a vs $b")
    }
    binned.unpersist()

    // --- FCBF: each batched path's keepers == the naive sequential
    // oracle. This fixture's pairs fit one pair chunk (the one-job
    // all-pairs path); the wide fixture adds seeded noise columns until
    // they do not (the per-wave path) ---
    def fcbfNaiveCheck(d: org.apache.spark.sql.DataFrame, fs: Seq[String]): List[String] = {
      val fit = FcbfStep(minimumSu = 0.0005).fit(d, "y", fs)
      val work = Binning.quantileSplit(d.select(fs.map(col) :+ col("y"): _*), fs, 0.5).select(
        fs.map(f => col(f).cast("string").as(f)) :+ col("y").cast("string").as("__y"): _*)
      work.cache(); work.count()
      val naiveKeep = TestRankRef.fcbfNaiveKeepers(work, fs, minimumSu = 0.0005)
      work.unpersist()
      val gotKeep = fs.filterNot(fit.excluded.contains)
      assert(gotKeep.sorted == naiveKeep.sorted,
        s"FCBF keepers must match naive: $gotKeep vs $naiveKeep")
      assert(fit.excluded.nonEmpty, "fixture must also drop redundant features")
      naiveKeep
    }
    assert(Entropy.fitsOneChunk(feats.size + 1), "fixture must take the all-pairs path")
    fcbfNaiveCheck(df, feats)
    df.unpersist()

    val noiseRng = new scala.util.Random(8)
    val noise = (0 until 26).map(i => s"n$i")
    val wideFeats = feats ++ noise
    val wide = rows.map { case (base, y) => (base, Seq.fill(noise.size)(noiseRng.nextDouble()), y) }
      .toDF("arr", "noise", "y").select(
        (0 until p).map(i => col("arr")(i).as(s"f$i")) ++
          (0 until dupes).map(i => (floor(col("arr")(i) * 50) / 50).as(s"r$i")) ++
          noise.indices.map(i => col("noise")(i).as(noise(i))) :+ col("y"): _*)
    wide.cache(); wide.count()
    assert(!Entropy.fitsOneChunk(wideFeats.size + 1), "wide fixture must take the wave path")
    val naiveKeep = fcbfNaiveCheck(wide, wideFeats)
    assert(naiveKeep.size > 8,
      s"fixture must retain > one wave of keepers to exercise multi-wave batching (${naiveKeep.size})")
    wide.unpersist()
  }

  test("CorrStep: a constant feature or outcome scores NA instead of aborting") {
    val reg = df.withColumn("y", col("f1") * 2 + col("f3") * 0.1).withColumn("flat", lit(3.0))
    for (m <- Seq("pearson", "spearman")) {
      val fitted = CorrStep(topP = Some(1), method = m).fit(reg, "y", Seq("f1", "flat"))
      assert(fitted.scores.toMap.apply("flat").isEmpty, m)
      assert(fitted.excluded == Seq("flat"), m)
      val flatY = CorrStep(topP = Some(1), method = m).fit(reg, "flat", Seq("f1", "f2"))
      assert(flatY.scores.forall(_._2.isEmpty), m)
    }
    // the informative feature's score is still Spark's corr, bit for bit
    val pearson = CorrStep(topP = Some(1)).fit(reg, "y", Seq("f1", "flat"))
    assert(pearson.scores.toMap.apply("f1") == Some(math.abs(reg.agg(corr("f1", "y")).head().getDouble(0))))
  }

  test("VipStep validates the criteria before fitting the user's model") {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val fn = (_: org.apache.spark.sql.DataFrame, _: String, ps: Seq[String]) => {
      calls.incrementAndGet(); ps.map(_ -> 1.0).toMap
    }
    val err = intercept[IllegalArgumentException](
      VipStep(fn, threshold = Some(1.5)).fit(df, "species", Seq("f1", "f2")))
    assert(err.getMessage.contains("`threshold` should be on (0, 1)."))
    assert(calls.get == 0, "importanceFn must not run before validation")
  }

  test("pipeline fits steps in order on progressively reduced schema") {
    val reg = df.withColumn("y", col("f1") * 2 + col("f3") * 0.1)
    val pipe = SelectorPipeline(Seq(
      (CorrStep(topP = Some(2), method = "pearson"): SelectorStep) -> Seq("f1", "f2", "f3"),
      (CorrStep(topP = Some(1), method = "spearman"): SelectorStep) -> Nil))
    val fitted = pipe.fit(reg, "y")
    val out = fitted.transform(reg)
    assert(out.columns.count(c => Seq("f1", "f2", "f3").contains(c)) == 1)
  }
}
