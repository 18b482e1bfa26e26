package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.select.DualFilter

/** ScalaCheck properties over the selection kernel (SURVEY §5: "add
  * ScalaCheck properties (e.g., excluded ∪ kept = all, monotonicity of
  * top_p)"). Run through raw scalacheck (no scalatestplus bridge in the
  * offline cache). */
class PropertySpec extends AnyFunSuite {

  def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  val scoresGen: Gen[List[(String, Option[Double])]] = for {
    n <- Gen.choose(1, 20)
    vals <- Gen.listOfN(n, Gen.oneOf(
      Gen.choose(-100.0, 100.0).map(Option(_)), Gen.const(None: Option[Double])))
  } yield vals.zipWithIndex.map { case (v, i) => s"f$i" -> v }

  test("excluded ⊆ all features; no duplicates") {
    check(Prop.forAll(scoresGen, Gen.choose(1, 25), Gen.oneOf(true, false)) {
      (scores, k, maximize) =>
        val ex = DualFilter.dualFilter(scores, Some(k), None, None, maximize)
        ex.toSet.subsetOf(scores.map(_._1).toSet) && ex.distinct == ex
    })
  }

  test("larger top_p never excludes more") {
    check(Prop.forAll(scoresGen, Gen.choose(1, 10)) { (scores, k) =>
      val e1 = DualFilter.dualFilter(scores, Some(k), None, None, maximize = true).toSet
      val e2 = DualFilter.dualFilter(scores, Some(k + 1), None, None, maximize = true).toSet
      e2.subsetOf(e1)
    })
  }

  test("NA scores are always excluded regardless of criteria") {
    check(Prop.forAll(scoresGen, Gen.choose(1, 10)) { (scores, k) =>
      val nas = scores.collect { case (n, None) => n }.toSet
      nas.subsetOf(DualFilter.dualFilter(scores, Some(k), None, None, maximize = true).toSet)
    })
  }

  test("cutoff OR top_p keeps at least as much as either alone") {
    check(Prop.forAll(scoresGen, Gen.choose(1, 10), Gen.choose(-50.0, 50.0)) { (scores, k, c) =>
      val both = DualFilter.dualFilter(scores, Some(k), None, Some(c), maximize = true).toSet
      val justK = DualFilter.dualFilter(scores, Some(k), None, None, maximize = true).toSet
      val justC = DualFilter.dualFilter(scores, None, None, Some(c), maximize = true).toSet
      both.subsetOf(justK) && both.subsetOf(justC)
    })
  }

  test("type-7 quantile is monotone in p and bounded by min/max") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6)),
      Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (xs, p1, p2) =>
      val (lo, hi) = (math.min(p1, p2), math.max(p1, p2))
      val q1 = DualFilter.quantileType7(xs, lo)
      val q2 = DualFilter.quantileType7(xs, hi)
      q1 <= q2 + 1e-9 && q1 >= xs.min - 1e-9 && q2 <= xs.max + 1e-9
    })
  }

  test("BH adjust: >= raw p, capped at 1, order-preserving") {
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0.0, 1.0))) { ps =>
      val adj = DualFilter.bhAdjust(ps)
      val byP = ps.zip(adj).sortBy(_._1).map(_._2)
      adj.forall(_ <= 1.0 + 1e-12) &&
        ps.zip(adj).forall { case (p, a) => a >= p - 1e-12 } &&
        byP == byP.sorted
    })
  }

  test("dedup exact: output multiset = distinct input keys (model check)") {
    check(Prop.forAll(Gen.listOf(Gen.choose(0, 30))) { keys =>
      // model of Dedup.exact/dedupByLag key semantics without Spark:
      // keep first occurrence per key
      val kept = keys.zipWithIndex.groupBy(_._1).map(_._2.minBy(_._2)).toSeq.sortBy(_._2).map(_._1)
      kept.toSet == keys.toSet && kept.size == keys.distinct.size
    })
  }

  // ---- operator-vs-model checks (real Spark operators against local
  // Scala models, over seeded random fixtures — a scalacheck forAll would
  // spin hundreds of Spark jobs, so a few generated cases stand in) -------

  lazy val spark = TestSpark.spark

  test("Dedup.dedupLines == local model on seeded random corpora") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val docs = (0L until 40L).map { i =>
        (i, Seq.fill(1 + rng.nextInt(6))(s"line ${rng.nextInt(9)}").mkString("\n"))
      }
      val maxCount = 1 + rng.nextInt(3)
      val freq = docs.flatMap(_._2.split("\n", -1)).groupBy(identity).view.mapValues(_.size).toMap
      val model = docs.map { case (id, text) =>
        val lines = text.split("\n", -1).toSeq
        val kept = lines.filter(l => freq(l) <= maxCount)
        id -> ((kept.mkString("\n"), (lines.size - kept.size).toLong))
      }.toMap
      val got = graft.text.Dedup
        .dedupLines(docs.toDF("doc_id", "text"), "doc_id", "text", maxCount)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(got == model, s"seed=$seed maxCount=$maxCount")
    }
  }

  test("Dedup.duplicateSpans == local coverage model on seeded random corpora") {
    import spark.implicits._
    for (seed <- Seq(7, 8, 9)) {
      val rng = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d") // tiny vocab forces natural k-gram dups
      val k = 2 + rng.nextInt(2)
      val maxCount = 1 + rng.nextInt(2)
      val docs = (0L until 30L).map { i =>
        (i, Seq.fill(k - 1 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      // local model: gram -> corpus count; positions covered by any gram
      // whose corpus count exceeds maxCount are removed
      val gramsOf = docs.map { case (id, t) =>
        val toks = t.split(" ").toSeq
        id -> toks.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
      }.toMap
      val freq = gramsOf.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val model = docs.map { case (id, t) =>
        val toks = t.split(" ").toSeq
        val covered = gramsOf(id).zipWithIndex.collect {
          case (g, p) if freq(g) > maxCount => (p until p + k)
        }.flatten.toSet
        val kept = toks.zipWithIndex.collect { case (tok, p) if !covered.contains(p) => tok }
        id -> ((kept.mkString(" "), covered.size.toLong))
      }.toMap
      val got = graft.text.Dedup
        .duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", k, maxCount)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(got == model, s"seed=$seed k=$k maxCount=$maxCount")
    }
  }

  test("Packing.packSequences == local running-sum model on seeded random fixtures") {
    import spark.implicits._
    for (seed <- Seq(5, 6)) {
      val rng = new scala.util.Random(seed)
      val docs = (0L until 200L).filter(_ => rng.nextInt(4) > 0) // id gaps
        .map(i => (i, rng.nextInt(60).toLong))
      val budget = 1L + rng.nextInt(100)
      var acc = 0L
      val model = docs.sortBy(_._1).map { case (id, n) =>
        val s = acc; acc += n
        id -> ((s,
          if (n > 0) Some(s / budget) else None,
          if (n > 0) Some((s + n - 1) / budget) else None))
      }.toMap
      val got = graft.text.Packing
        .packSequences(docs.toDF("id", "toks"), "id", "toks", budget, bucketSize = 16)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(2), Option(r.get(3)).map(_.toString.toLong),
            Option(r.get(4)).map(_.toString.toLong)))).toMap
      assert(got == model, s"seed=$seed budget=$budget")
    }
  }

  test("counts-based exactCuts == approxQuantile(err=0); quantileType7 == percentile(), bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    import graft.stats.Binning
    val rng = new scala.util.Random(11)
    // adversarial shapes: heavy ties, negatives, tiny n, exact-integer rank
    // positions (n a multiple of nbins), nulls, one all-null column
    val sizes = Seq(1, 2, 3, 5, 10, 40, 1000)
    for (n <- sizes) {
      val rows = (0 until n).map { i =>
        (if (rng.nextDouble() < 0.15 && n > 3) None else Some((rng.nextInt(7) - 3) * 1.5 + (if (rng.nextBoolean()) 0.25 else 0.0)),
         Some(rng.nextDouble() * 200 - 100),
         None: Option[Double],
         Some(rng.nextInt(2).toDouble),
         // NaN-bearing column: percentile() counts NaN and sorts it LAST,
         // approxQuantile drops it — both paths must keep their builtin's rule
         Some(if (rng.nextDouble() < 0.3) Double.NaN else rng.nextInt(5) * 1.0))
      }
      val df = rows.toDF("ties", "dense", "allnull", "binary", "withnan")
      val cols = Seq("ties", "dense", "allnull", "binary", "withnan")
      for (nbins <- Seq(2, 3, 5)) {
        val got = Binning.exactCuts(df, cols, nbins)
        val probs = (1 until nbins).map(_.toDouble / nbins).toArray
        cols.foreach { c =>
          val want = df.stat.approxQuantile(c, probs, 0.0)
          assert(got(c).toSeq == want.toSeq,
            s"exactCuts mismatch n=$n nbins=$nbins col=$c: ${got(c).toSeq} vs ${want.toSeq}")
        }
      }
      for (p <- Seq(0.25, 0.5, 0.75, 0.1)) {
        val got = Binning.quantileType7(df, cols, p)
        val want = df.select(cols.map(c => expr(s"percentile(`$c`, $p)").as(c)): _*).head()
        cols.zipWithIndex.foreach { case (c, i) =>
          val w = if (want.isNullAt(i)) None else Some(want.getDouble(i))
          val same = (got(c), w) match {
            case (Some(g), Some(x)) => java.lang.Double.compare(g, x) == 0 // NaN == NaN
            case (a, b)             => a == b
          }
          assert(same, s"type7 mismatch n=$n p=$p col=$c: ${got(c)} vs $w")
        }
      }
    }
  }

  test("native SnapUp == binByCuts+element_at snap chain (ties, dup cuts, NaN, null, above-all)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, element_at, lit}
    import graft.stats.Binning
    val cutSets = Seq(Array(1.0, 2.5, 7.0), Array(2.5, 2.5, 7.0), Array(0.0))
    // non-null inputs compare against the chain; null input is pinned
    // directly (element_at itself mis-defaults on a null index, so the
    // chain is not a trustworthy oracle there)
    val vals = Seq(0.5, 1.0, 2.5, 2.5000001, 7.0, 8.0, -3.0, Double.NaN)
    val df = vals.toDF("v")
    cutSets.foreach { cuts =>
      val arr = array((cuts :+ Double.MaxValue).map(lit): _*)
      val rows = df.select(
        element_at(arr, Binning.binByCuts(col("v"), cuts).cast("int")).as("chain"),
        graft.functions.SnapUp.of(col("v"), cuts).as("native")).collect()
      rows.zip(vals).foreach { case (r, v) =>
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
          s"cuts=${cuts.toSeq} v=$v: ${r.get(0)} vs ${r.get(1)}")
      }
      val nullRow = Seq(None: Option[Double]).toDF("v")
        .select(graft.functions.SnapUp.of(col("v"), cuts)).head()
      assert(nullRow.isNullAt(0), "null value snaps to null")
    }
  }

  test("exactCutsMany == exactCuts at any parallelism (the 65k-candidate MDL quantization path)") {
    import spark.implicits._
    import graft.stats.Binning
    val rng = new scala.util.Random(23)
    val rows = (0 until 5000).map { _ =>
      (rng.nextInt(40) * 0.5,                      // heavy ties
       rng.nextDouble() * 100,                     // ~all distinct
       rng.nextInt(2000) * 0.01,                   // mid cardinality
       if (rng.nextDouble() < 0.2) None else Some(rng.nextInt(30) * 1.0), // nulls
       None: Option[Double])                       // all null
    }
    val df = rows.toDF("ties", "dense", "mid", "withnull", "allnull")
    val cols = Seq("ties", "dense", "mid", "withnull", "allnull")
    for (nbins <- Seq(2, 7, 64, 257)) {
      val want = Binning.exactCuts(df, cols, nbins)
      // tiny bucket counts force multi-bucket two-phase ranks; different
      // bucket counts and partitionings MUST give identical cuts (the
      // boundaries only balance work)
      val got = Binning.exactCutsMany(df, cols, nbins, buckets = 16)
      val gotRepart = Binning.exactCutsMany(df.repartition(13), cols, nbins, buckets = 5)
      cols.foreach { c =>
        assert(got(c).toSeq == want(c).toSeq, s"nbins=$nbins col=$c")
        assert(gotRepart(c).toSeq == want(c).toSeq, s"repartitioned nbins=$nbins col=$c")
      }
    }
  }

  test("stratifiedSampleByHash: raising a fraction only ADDS documents (real operator nesting)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = (0L until 4000L).map(i => (i, s"s${i % 2}")).toDF("id", "stratum")
    def kept(f: Double): Set[Long] = d
      .where(graft.text.Sampling.stratifiedSampleMd5(col("id"), col("stratum"), Map("s0" -> f), default = 0.3))
      .collect().map(_.getLong(0)).toSet
    val fracs = Seq(0.1, 0.3, 0.6, 0.9)
    fracs.sliding(2).foreach { case Seq(lo, hi) =>
      assert(kept(lo).subsetOf(kept(hi)),
        s"membership must nest monotonically in the fraction: $lo vs $hi")
    }
  }
}
