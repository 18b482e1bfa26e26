package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.Sampling

/** Corpus-curation primitives: deterministic splits and per-domain quotas. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val fractions = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
  lazy val docs = (0L until 5000L).map(i => (i, s"dom${i % 37}")).toDF("id", "domain")

  test("splitByHash: total function, deterministic, parallelism-invariant") {
    def splits(parts: Int): Map[Long, String] =
      docs.repartition(parts)
        .select(col("id"), Sampling.splitByHashMd5(col("id"), fractions).as("s"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = splits(4)
    assert(a.size == 5000 && a.values.toSet == Set("train", "valid", "test"))
    assert(splits(13) == a, "split membership must not depend on partitioning")
    // fractions approximately honored (hash-uniform: ±3% absolute at n=5000)
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    fractions.foreach { case (name, f) =>
      assert(math.abs(counts(name).toDouble / 5000 - f) < 0.03, s"$name: $counts")
    }
  }

  test("chunkByTokens: local window replay, overlap reconstruction, short/empty/null edges") {
    import graft.text.Packing
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val df = Seq(
      (0L, mk(100)),                          // 100 > 64: chunks at 0, 48 (tail 52 tokens)
      (1L, mk(64)),                           // exactly one full window
      (2L, mk(65)),                           // one full + one 17-token tail (overlap 16)
      (3L, "one two"),                        // short doc: single chunk
      (4L, ""),                               // empty: single empty-token chunk
      (5L, null.asInstanceOf[String]))        // null: no chunks
      .toDF("doc_id", "text")
    val got = Packing.chunkByTokens(df, "text", maxTokens = 64, overlap = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    def localChunks(n: Int): Seq[(Int, Int)] = { // (startTok, len)
      if (n <= 64) Seq((0, n))
      else (0 until ((n - 64 + 47) / 48 + 1)).map(ci => (ci * 48, math.min(64, n - ci * 48)))
    }
    for ((id, n) <- Seq((0L, 100), (1L, 64), (2L, 65))) {
      val want = localChunks(n)
      val rows = got.filter(_._1._1 == id)
      assert(rows.size == want.size, s"doc $id chunk count")
      want.zipWithIndex.foreach { case ((start, len), ci) =>
        val (txt, ct) = rows((id, ci.toLong))
        assert(ct == len, s"doc $id chunk $ci token count")
        assert(txt == (start + 1 to start + len).map(i => s"t$i").mkString(" "),
          s"doc $id chunk $ci text")
      }
    }
    // consecutive chunks overlap by exactly `overlap` tokens
    val c0 = got((0L, 0L))._1.split(" ").toSeq
    val c1 = got((0L, 1L))._1.split(" ").toSeq
    assert(c0.takeRight(16) == c1.take(16), "overlap tokens shared between windows")
    assert(got((3L, 0L)) == ("one two", 2L))
    assert(got((4L, 0L)) == ("", 1L), "empty text = one empty token (tokenize convention)")
    assert(!got.keySet.exists(_._1 == 5L), "null text produces no chunks")
  }

  test("chunkByTokens reconstruction property: 200 random docs, 3 window shapes") {
    import graft.text.Packing
    val rng = new scala.util.Random(11)
    // token counts hit every regime: below, at, just above, and far above
    // the window, for several (maxTokens, overlap) shapes incl. overlap 0
    val docs = (0 until 200).map { i =>
      val n = rng.nextInt(180) + 1
      (i.toLong, (0 until n).map(j => s"w${rng.nextInt(50)}_$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text").repartition(7)
    for ((mt, ov) <- Seq((32, 0), (32, 8), (7, 6))) {
      val stride = mt - ov
      val got = Packing.chunkByTokens(df, "text", mt, ov).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(1)).map(r => (r.getString(2), r.getLong(3))).toSeq)
        .toMap
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").toSeq
        val n = toks.size
        val chunks = got(id)
        val wantN = if (n <= mt) 1 else (n - mt + stride - 1) / stride + 1
        assert(chunks.size == wantN, s"doc $id shape ($mt,$ov): ${chunks.size} != $wantN")
        chunks.zipWithIndex.foreach { case ((txt, ct), ci) =>
          val want = toks.slice(ci * stride, ci * stride + mt)
          assert(txt == want.mkString(" ") && ct == want.size,
            s"doc $id chunk $ci shape ($mt,$ov)")
        }
        // reconstruction: first `stride` tokens of each chunk + the final
        // chunk's tail reassemble the original token stream exactly
        val rebuilt = chunks.dropRight(1).flatMap(_._1.split(" ").take(stride)) ++
          chunks.last._1.split(" ")
        assert(rebuilt == toks, s"doc $id reconstruction ($mt,$ov)")
      }
    }
  }

  test("vocabTopK: exact counts, deterministic boundary tie, parallelism-invariant") {
    import graft.text.TextFeatures
    val df = Seq(
      (0L, "the The THE apple banana"),
      (1L, "the apple cherry cherry"),
      (2L, "Apple banana date")).toDF("doc_id", "text")
    def run(parts: Int) = TextFeatures.vocabTopK(df.repartition(parts), "text", k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = run(1)
    // the=4, apple=3, then (banana=2, cherry=2) tie broken by token asc
    assert(got == Seq(("the", 4L), ("apple", 3L), ("banana", 2L), ("cherry", 2L)), got.toString)
    assert(run(7) == got, "top-k must not depend on partitioning")
  }

  test("splitByHashMd5 matches a local md5 replay of the bucket walk") {
    val got = docs.limit(200)
      .select(col("id"), Sampling.splitByHashMd5(col("id"), fractions).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    got.foreach { case (id, s) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      val b = (java.lang.Long.parseLong(hex, 16) % 1000000L) / 1e6
      val want = if (b < 0.8) "train" else if (b < 0.9) "valid" else "test"
      assert(s == want, s"id=$id b=$b")
    }
  }

  test("splitByHash rejects bad fractions") {
    intercept[IllegalArgumentException](
      Sampling.splitByHashMd5(col("id"), Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](
      Sampling.splitByHashMd5(col("id"), Seq("a" -> 1.5, "b" -> -0.5)))
  }

  test("domainQuota keeps at most k rows per domain, preferring the precedence order") {
    val scored = docs.withColumn("score", (col("id") % 101).cast("double"))
    val kept = Sampling.domainQuota(scored, col("domain"), 3,
      Seq(col("score").desc, col("id")))
    val byDom = kept.collect().groupBy(_.getString(1))
    assert(byDom.size == 37)
    byDom.foreach { case (d, rows) => assert(rows.length == 3, d) }
    // each kept row beats-or-equals every dropped row of its domain
    val all = scored.collect().groupBy(_.getString(1))
    byDom.foreach { case (d, rows) =>
      val keptMin = rows.map(_.getDouble(2)).min
      val dropped = all(d).map(r => (r.getDouble(2), r.getLong(0))).toSet --
        rows.map(r => (r.getDouble(2), r.getLong(0))).toSet
      val better = dropped.count(_._1 > keptMin)
      assert(better == 0, s"$d: dropped rows outrank kept (min kept $keptMin)")
    }
    // deterministic across reruns
    val again = Sampling.domainQuota(scored, col("domain"), 3,
      Seq(col("score").desc, col("id"))).collect().map(_.getLong(0)).sorted.toSeq
    assert(again == kept.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("contamination: benchmark self-overlap = 1, disjoint = 0, partial = exact fraction") {
    import graft.text.Dedup
    val bench = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta"),     // identical -> 1.0 (2 trigrams, both hit)
      (2L, "zeta eta theta iota kappa"),  // disjoint -> 0.0
      (3L, "alpha beta gamma nine ten"),  // 3 trigrams, 1 in benchmark -> 1/3
      (4L, "xy"),                         // shingle-less -> 0 grams, 0.0
      (5L, null.asInstanceOf[String])     // null text -> 0 grams, 0.0 (not null row)
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(docs, "doc_id", "text", bench, "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((5L - 2L, 0L, 0.0)))
    assert(got(3L)._1 == 3L && got(3L)._2 == 1L && math.abs(got(3L)._3 - 1.0 / 3) < 1e-12)
    assert(got(4L) == ((0L, 0L, 0.0)))
    assert(got(5L) == ((0L, 0L, 0.0)), "null text must score a clean 0, not nulls")
  }

  test("weightedSampleByHash == naive A-ES replay; parallelism-invariant; w<=0 excluded") {
    val rows = (0L until 2000L).map { i =>
      // weights spanning three orders of magnitude, plus null/zero/negative
      val w: java.lang.Double =
        if (i % 97 == 0) null
        else if (i % 89 == 0) 0.0
        else if (i % 83 == 0) -3.0
        else ((i * 37 % 1000) + 1).toDouble
      (i, w)
    }
    val df = rows.toDF("id", "w")
    val k = 25
    val got = Sampling.weightedSampleMd5(df, col("id"), col("w"), k)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)

    // pull the u buckets from Spark so the md5 convention is shared, then
    // do the A-ES arithmetic independently in scala
    val u = df.select(col("id"),
        expr("(pmod(cast(conv(substring(md5(cast(id as string)), 1, 12), 16, 10) as bigint), " +
          "1000000) + 0.5) / 1e6"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = rows.map { case (i, w) =>
      val key = if (w == null || w.doubleValue <= 0) 0.0 else math.pow(u(i), 1.0 / w.doubleValue)
      (i, key)
    }.sortBy { case (i, key) => (-key, i) }.take(k).sortBy(_._1)
    assert(got.map(_._1).toSeq == expected.map(_._1).toSeq, "selected ids must match naive A-ES")
    got.zip(expected).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    assert(!got.map(_._1).exists(i => i % 97 == 0 || i % 89 == 0 || i % 83 == 0),
      "null/zero/negative weights must never be selected")

    // identical at different parallelism
    val re = Sampling.weightedSampleMd5(df.repartition(13), col("id"), col("w"), k)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(re == got.map(_._1).toSeq)

    // top-k plans as TakeOrderedAndProject — bounded per-partition heaps,
    // no global sort (GLOBAL-WINDOW-OK does not apply: no window at all)
    val p = Sampling.weightedSampleMd5(df, col("id"), col("w"), k)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"weighted sample must not global-sort:\n$p")
  }

  test("weightedSample: heavier rows win more often (A-ES distribution sanity)") {
    // two strata: weight 100 vs weight 1, equal counts; across many key
    // ranges (each offset draws fresh hash buckets) the heavy stratum must
    // dominate the sample
    val heavyFrac = (1 to 10).map { r =>
      val base = r * 1000L
      val df = (base until base + 400L).map(i => (i, if (i < base + 200) 100.0 else 1.0))
        .toDF("id", "w")
      val sel = Sampling.weightedSampleMd5(df, col("id"), col("w"), 40)
        .collect().map(_.getLong(0))
      sel.count(_ < base + 200).toDouble / sel.length
    }
    val mean = heavyFrac.sum / heavyFrac.size
    assert(mean > 0.85, s"heavy stratum should dominate: per-range fractions $heavyFrac")
  }

  test("budgetSelect == greedy replay; boundary doc kept; bucket/parallelism-invariant") {
    // scores with heavy ties (i % 7), plus null score, NaN score, null and
    // zero token counts; ids 0..199, tokens i % 13
    val rows = (0L until 200L).map { i =>
      val score: java.lang.Double =
        if (i == 42) null
        else if (i == 43) Double.NaN
        else (i % 7).toDouble
      val tok: java.lang.Long = if (i == 48) null else i % 13
      (i, score, tok)
    }
    val df = rows.toDF("id", "score", "tok")
    val budget = 300L

    // greedy replay: sort (score desc, id), cumsum, keep start < budget
    val ordered = rows
      .filter { case (_, s, _) => s != null && !s.isNaN }
      .sortBy { case (i, s, _) => (-s.doubleValue, i) }
    var acc = 0L
    val expected = ordered.flatMap { case (i, _, t) =>
      val start = acc; acc += (if (t == null) 0L else t.longValue)
      if (start < budget) Some(i -> start) else None
    }.toMap

    def run(buckets: Int, parts: Int): Map[Long, Long] =
      Sampling.budgetSelect(df.repartition(parts), col("score"), col("tok"),
          col("id"), budget, buckets)
        .select("id", "budget_start")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val got = run(buckets = 8, parts = 5)
    assert(got == expected, s"got ${got.toSeq.sorted}, expected ${expected.toSeq.sorted}")
    assert(!got.contains(42L) && !got.contains(43L), "null/NaN scores never selected")
    assert(got.contains(48L), "null-token doc with a top score rides free")
    // the boundary doc straddles: its start is under budget, its end over
    val lastStart = expected.values.max
    val lastId = expected.collectFirst { case (i, s) if s == lastStart => i }.get
    val lastTok = rows(lastId.toInt)._3.longValue
    assert(lastStart < budget && lastStart + lastTok >= budget,
      s"expected a straddling boundary doc, got start=$lastStart tok=$lastTok")
    // boundary placement and parallelism cannot leak into the result
    assert(run(buckets = 1, parts = 3) == expected)
    assert(run(buckets = 64, parts = 16) == expected)
    assert(run(buckets = 1024, parts = 1) == expected)
  }

  test("budgetSelectStratified == per-stratum greedy replay; unbudgeted strata dropped") {
    val rows = (0L until 300L).map { i =>
      val st = s"s${i % 3}" // s0, s1 budgeted; s2 is not
      val score: java.lang.Double = if (i == 30) null else (i % 11).toDouble
      (i, st, score, i % 17)
    }
    val df = rows.toDF("id", "st", "score", "tok")
    val budgets = Map("s0" -> 250L, "s1" -> 120L)

    val expected = budgets.keys.flatMap { st =>
      val ordered = rows
        .filter { case (_, s, sc, _) => s == st && sc != null }
        .sortBy { case (i, _, sc, _) => (-sc.doubleValue, i) }
      var acc = 0L
      ordered.flatMap { case (i, _, _, t) =>
        val start = acc; acc += t
        if (start < budgets(st)) Some(i -> start) else None
      }
    }.toMap

    def run(buckets: Int, parts: Int): Map[Long, Long] =
      Sampling.budgetSelectStratified(df.repartition(parts), col("st"),
          col("score"), col("tok"), col("id"), budgets, buckets)
        .select("id", "budget_start")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val got = run(buckets = 8, parts = 5)
    assert(got == expected, s"got ${got.toSeq.sorted}, expected ${expected.toSeq.sorted}")
    assert(!got.keys.exists(_ % 3 == 2), "stratum without a budget contributes nothing")
    assert(run(buckets = 1, parts = 3) == expected)
    assert(run(buckets = 256, parts = 16) == expected)
  }

  test("indexMatches == naive banding+agreement replay; composes with a Snapshot index") {
    import graft.text.Dedup
    // corpus (even ids) with some batch (odd ids) near-dups: 101 ~ 2, 103 ~ 4
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "colorless green ideas sleep furiously every single night in the lab"),
      (6L, "completely unrelated corpus text about volcanoes and tides and moons")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (103L, "colorless green ideas sleep furiously every single night in the lab"),
      (105L, "nothing like anything stored before pure novelty in every direction")
    ).toDF("doc_id", "text")
    val (n, k, bands, rpb) = (3, 8, 4, 2)
    val corpusSigs = Dedup.minHashSignatures(corpus, "doc_id", "text", n, k)
    val batchSigs = Dedup.minHashSignatures(batch, "doc_id", "text", n, k)
    val minAg = 0.5
    val got = Dedup.indexMatches(batchSigs, corpusSigs, "doc_id", bands, rpb, minAg)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    // naive replay from collected signatures
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val cs = sigsOf(corpusSigs); val bs = sigsOf(batchSigs)
    val expected = bs.flatMap { case (bId, bSig) =>
      val matches = cs.toSeq.flatMap { case (cId, cSig) =>
        val bandHit = (0 until bands).exists(b =>
          bSig.slice(b * rpb, (b + 1) * rpb) == cSig.slice(b * rpb, (b + 1) * rpb))
        val ag = bSig.zip(cSig).count { case (x, y) => x == y }.toDouble / k
        if (bandHit && ag >= minAg) Some((cId, ag)) else None
      }
      if (matches.isEmpty) None
      else Some(bId -> matches.minBy { case (cId, ag) => (-ag, cId) })
    }
    assert(got == expected, s"got $got, expected $expected")
    assert(got.contains(101L) && got.contains(103L), "planted near-dups must match")
    assert(got(103L)._2 == 1.0, "identical text must agree on every component")
    assert(!got.contains(105L), "novel batch doc must not match")

    // day-2 composition: the index read back from the pages store gives
    // the identical result — signatures are what the store persists
    val dir = java.nio.file.Files.createTempDirectory("sig_index").toString
    try {
      // the store day-partitions on warc_ts; a signature index carries the
      // snapshot timestamp of the crawl it was built from
      graft.core.Store.writePages(
        corpusSigs.withColumn("warc_ts", lit("2025-01-01 00:00:00").cast("timestamp")), dir)
      val stored = graft.core.Store.readPages(spark, dir).select("doc_id", "sig")
      val viaStore = Dedup.indexMatches(batchSigs, stored, "doc_id", bands, rpb, minAg)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(viaStore == got)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("contaminationLarge == contamination bit-for-bit, even at absurd fpp") {
    import graft.text.Dedup
    // a corpus with every edge the exact path handles: identical, disjoint,
    // partial, shingle-less, null text — plus enough synthetic bulk that
    // the Bloom gate actually discards most grams
    val rows = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "alpha beta gamma nine ten"),
      (4L, "xy"),
      (5L, null.asInstanceOf[String])
    ) ++ (6L until 120L).map(i => (i, s"filler$i word${i % 7} tail${i % 3} pad$i end"))
    val docs = rows.toDF("doc_id", "text")
    val bench = Seq((0L, "alpha beta gamma delta"), (1L, "word3 tail0 pad9")).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val exact = canon(Dedup.contamination(docs, "doc_id", "text", bench, "text", 3))
    // default fpp, and an absurd 50% fpp (tiny sketch, many false positives):
    // the verify join must erase every false positive — results identical
    for (fpp <- Seq(0.01, 0.5)) {
      val got = canon(Dedup.contaminationLarge(docs, "doc_id", "text", bench, "text", 3, fpp = fpp))
      assert(got == exact, s"bloom path must be bit-identical at fpp=$fpp")
    }
    // explicit expectedItems skips the sizing count and must not change results
    val sized = canon(Dedup.contaminationLarge(docs, "doc_id", "text", bench, "text", 3,
      expectedItems = 1000L))
    assert(sized == exact)
  }

  test("contaminationLarge: bloom gate filters map-side, before any exchange") {
    import graft.text.Dedup
    val docs = (0L until 50L).map(i => (i, s"a$i b$i c$i d$i")).toDF("doc_id", "text")
    val bench = Seq((0L, "a1 b1 c1 d1")).toDF("doc_id", "text")
    val out = Dedup.contaminationLarge(docs, "doc_id", "text", bench, "text", 3)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), s"bloom gate missing from plan:\n$p")
    // the gate must sit below (after, in text order) the first exchange of
    // the corpus subtree: everything above the Filter containing the gate
    // is the post-shuffle aggregate/join; the Filter itself must be in the
    // scan stage. Text-order check: the LAST Exchange in the plan string
    // appears BEFORE the gate line only if the gate is pre-shuffle.
    val gateIdx = p.indexOf("bloom_might_contain")
    val scanIdx = p.lastIndexOf("LocalTableScan")
    assert(gateIdx >= 0 && scanIdx >= 0)
    // the corpus-side filter is attached directly over its scan: no
    // Exchange between the gate and the deepest scan below it
    val below = p.substring(gateIdx)
    val firstScanBelow = below.indexOf("LocalTableScan")
    assert(!below.substring(0, math.max(firstScanBelow, 0)).contains("Exchange hashpartitioning"),
      s"bloom gate must evaluate before the corpus shuffle:\n$p")
  }

  test("two-phase domainQuota == naive single-window top-k, including on a hot domain") {
    // 90% of rows in one domain — the case the operator exists for; the
    // bucketed two-phase selection must still be EXACTLY the global top-k
    val rows = (0L until 3000L).map(i =>
      (i, if (i < 2700) "hot.example" else s"d${i % 11}", (i * 37 % 97).toDouble))
    val df = rows.toDF("id", "domain", "score")
    val prec = Seq(col("score").desc, col("id"))
    val fast = Sampling.domainQuota(df, col("domain"), 5, prec)
      .collect().map(_.getLong(0)).toSet
    // GLOBAL-WINDOW-OK: test-only naive reference, tiny fixture
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("domain")).orderBy(prec: _*)
    val naive = df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= 5)
      .collect().map(_.getLong(0)).toSet
    assert(fast == naive, s"missing=${naive -- fast} extra=${fast -- naive}")
  }

  test("domainQuota bucket key is deterministic: identical output at any partitioning") {
    // the stage-1 bucket is derived from the unique tiebreak column, not a
    // physical row id — so the kept set cannot depend on how the input is
    // partitioned (and a fetch-failure recompute on a real cluster re-derives
    // the SAME buckets instead of re-rolling them)
    val rows = (0L until 2000L).map(i => (i, s"d${i % 13}", (i * 31 % 89).toDouble))
    val prec = Seq(col("score").desc, col("id"))
    val base = rows.toDF("id", "domain", "score")
    val a = Sampling.domainQuota(base.repartition(1), col("domain"), 4, prec)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.domainQuota(base.repartition(17, col("score")), col("domain"), 4, prec)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, s"partitioning changed the kept set: ${(a -- b) ++ (b -- a)}")
  }

  // ---- round-4 curation operators -------------------------------------------

  test("redactPii: emails, IPv4s, phones replaced; clean text untouched") {
    import graft.text.TextFeatures
    val cases = Seq(
      ("write to jane.doe+tag@sub.example.co.uk today", "write to <EMAIL> today"),
      ("host 192.168.001.7 and 10.0.0.255 up", "host <IP> and <IP> up"),
      ("call 555-010-1234 or 555 010 9999 now", "call <PHONE> or <PHONE> now"),
      ("all three a@b.io 1.2.3.4 555-123-4567", "all three <EMAIL> <IP> <PHONE>"),
      ("no pii here just words and 42 numbers", "no pii here just words and 42 numbers"),
      ("version 1.2 and 1.2.3 are not ips", "version 1.2 and 1.2.3 are not ips"))
    val got = cases.map(_._1).toDF("t")
      .select(TextFeatures.redactPii(col("t"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) => assert(g == want) }
  }

  test("redactPii: IPv6, credit cards, international phones; documented non-matches survive") {
    import graft.text.TextFeatures
    val cases = Seq(
      // IPv6: full 8-group and ::-compressed forms
      ("v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up", "v6 <IP> up"),
      ("gw 2001:db8::1 and fe80:0:0:0:202:b3ff:fe1e:8329", "gw <IP> and <IP>"),
      // NOT IPv6: MAC address (6 groups, no ::), clock time, C++ scope
      ("mac 00:1B:44:11:3A:B7 at 12:30:45 std::vector",
       "mac 00:1B:44:11:3A:B7 at 12:30:45 std::vector"),
      // cards: 4-4-4-4 separated, Amex 4-6-5, contiguous 16, 19-digit
      ("pay 4111-1111-1111-1111 or 4111 1111 1111 1111", "pay <CC> or <CC>"),
      ("amex 3782-822463-10005 plain 4111111111111111", "amex <CC> plain <CC>"),
      ("long 6221261111111111111 run", "long <CC> run"),
      // NOT cards: hyphenated ISBN (irregular groups), 12- and 20-digit runs
      ("isbn 978-3-16-148410-0 ids 123456789012 12345678901234567890",
       "isbn 978-3-16-148410-0 ids 123456789012 12345678901234567890"),
      // international phones: separated, contiguous, parenthesized area code
      ("call +1-555-123-4567 or +44 20 7946 0958", "call <PHONE> or <PHONE>"),
      ("mob +4915123456789 office +49 (30) 1234567", "mob <PHONE> office <PHONE>"),
      // NOT phones: arithmetic with a plus, C++ increment
      ("sum 3+4-5 12 and i++ done", "sum 3+4-5 12 and i++ done"),
      // ordering: the +CC prefix is consumed by the international pattern,
      // not left dangling by the US pattern
      ("us-shaped +1 555-123-4567 tail", "us-shaped <PHONE> tail"))
    val got = cases.map(_._1).toDF("t")
      .select(TextFeatures.redactPii(col("t"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) => assert(g == want, s"input: ${cases(got.indexOf(g))._1}") }
  }

  test("native WordGramHashes == built-in transform/slice/md5|xxhash64 chain, element-for-element") {
    import graft.functions.WordGramHashes
    def builtinGrams(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(trim(text), "\\s+")
      filter(
        transform(toks, (_, i) =>
          when(i <= size(toks) - n, concat_ws(" ", slice(toks, i + 1, lit(n))))),
        s => s.isNotNull)
    }
    val texts = Seq(
      "the quick brown fox jumps", "a b", "one", "", "  padded   spaces  ",
      "Case SENSITIVE case sensitive", null.asInstanceOf[String])
    for (n <- Seq(2, 3, 5)) {
      val got = texts.toDF("t").select(
        WordGramHashes.gramHashes48(col("t"), n),
        transform(builtinGrams(col("t"), n),
          g => conv(substring(md5(g), 1, 12), 16, 10).cast("long")),
        WordGramHashes.gramHashes64(col("t"), n),
        transform(builtinGrams(col("t"), n), g => xxhash64(g))).collect()
      got.zip(texts).foreach { r =>
        assert(r._1.getSeq[Long](0) == r._1.getSeq[Long](1), s"md5_48 n=$n text='${r._2}'")
        assert(r._1.getSeq[Long](2) == r._1.getSeq[Long](3), s"xx64 n=$n text='${r._2}'")
      }
    }
  }

  test("duplicateSpans: corpus-duplicated k-gram spans cut, overlaps merge, edges pass through") {
    import graft.text.Dedup
    val docs = Seq(
      (1L, "x1 x2 common block here y1 y2"),
      (2L, "z1 common block here z2"),
      (3L, "totally unique text alpha beta"),
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "common block here"),
      (7L, "p q common block here common block here r")
    ).toDF("doc_id", "text")
    val h = new graft.runtime.CacheHandle
    try {
      val got = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3, handle = h)
        .collect().map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2)))).toMap
      assert(got(1L) == ((Some("x1 x2 y1 y2"), 3L)), "interior dup block cut")
      assert(got(2L) == ((Some("z1 z2"), 3L)))
      assert(got(3L) == ((Some("totally unique text alpha beta"), 0L)), "clean doc untouched")
      assert(got(4L) == ((Some(""), 0L)), "empty text stays empty")
      assert(got(5L) == ((None, 0L)), "null text stays null")
      assert(got(6L) == ((Some(""), 3L)), "fully-duplicated doc becomes empty, not missing")
      assert(got(7L) == ((Some("p q r"), 6L)), "two adjacent occurrences merge to one span")
      // the block occurs 5x corpus-wide: kept once maxCount admits it
      val lax = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3, maxCount = 5, handle = h)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(lax.values.sum == 0L, "maxCount above the corpus count keeps everything")
      // portable md5 variant and production xx64 variant agree (no collisions here)
      val md5v = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3, portableMd5 = true, handle = h)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(md5v == got.map { case (k2, v) => k2 -> v._1 })
      // parallelism invariance
      val repart = Dedup.duplicateSpans(docs.repartition(7), "doc_id", "text", k = 3, handle = h)
        .collect().map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2)))).toMap
      assert(repart == got)
    } finally h.release()
  }

  test("unicode normalization: NFC composes, NFKC folds compat chars, idempotent, null-safe") {
    import graft.text.TextFeatures
    val rows = Seq(
      "cafe\u0301",            // decomposed e + combining acute
      "A\u030Abc",             // decomposed A + combining ring
      "\u00E9\u00C5",          // already composed - NFC no-op
      "\uFB01le",              // ligature fi: NFC keeps, NFKC folds to "fi"
      "\uFF21\uFF22 x\u00B2",  // fullwidth AB + superscript 2: NFKC folds
      "plain ascii",
      null.asInstanceOf[String])
    val got = rows.toDF("t").select(
      TextFeatures.normalizeNfc(col("t")),
      graft.functions.UnicodeNormalize.nfkc(col("t")),
      TextFeatures.dedupKeyFold(col("t"))).collect()
    def g(i: Int, j: Int): String = if (got(i).isNullAt(j)) null else got(i).getString(j)
    assert(g(0, 0) == "caf\u00E9" && g(1, 0) == "\u00C5bc", "NFC composes")
    assert(g(2, 0) == "\u00E9\u00C5", "already-composed text untouched")
    assert(g(3, 0) == "\uFB01le" && g(3, 1) == "file", "NFC keeps the ligature, NFKC folds it")
    assert(g(4, 1) == "AB x2", "NFKC folds fullwidth and superscripts")
    assert(g(4, 2) == "ab x2", "dedup-key fold = NFKC + lowercase")
    assert(g(5, 0) == "plain ascii" && g(5, 2) == "plain ascii")
    assert(g(6, 0) == null && g(6, 1) == null && g(6, 2) == null, "null passes through")
    // idempotence: normalizing twice is a no-op
    val twice = rows.take(5).toDF("t")
      .select(TextFeatures.normalizeNfc(TextFeatures.normalizeNfc(col("t"))),
        TextFeatures.normalizeNfc(col("t"))).collect()
    twice.foreach(r => assert(r.getString(0) == r.getString(1)))
    // the dedup payoff: composed and decomposed spellings fingerprint equal
    // AFTER normalization (and differ without it)
    val pair = Seq("caf\u00E9 bar", "cafe\u0301 bar").toDF("t")
    val fpNorm = pair
      .select(TextFeatures.fingerprintMd5(TextFeatures.normalizeNfc(col("t")))).collect()
    assert(fpNorm(0).getString(0) == fpNorm(1).getString(0))
    val fpRaw = pair.select(TextFeatures.fingerprintMd5(col("t"))).collect()
    assert(fpRaw(0).getString(0) != fpRaw(1).getString(0),
      "the raw spellings really are different bytes")
  }

  test("resolveClusters: connected components collapse to min-id canonicals") {
    import graft.text.Dedup
    // components: {1,2,3} (chain), {10,11,12,13} (cycle + chord),
    // {20,21} (pair); edge directions mixed on purpose
    val pairs = Seq(
      (2L, 1L), (3L, 2L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L), (10L, 12L),
      (21L, 20L)
    ).toDF("a", "b")
    val h = new graft.runtime.CacheHandle
    try {
      val got = Dedup.resolveClusters(pairs, "a", "b", handle = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
      // parallelism invariance
      val rep = Dedup.resolveClusters(pairs.repartition(7), "a", "b", handle = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rep == got)
      // the DISTRIBUTED pointer-jumping path (forced via localEdgeLimit=0)
      // produces the identical labeling on the same graph
      val dist = Dedup.resolveClusters(pairs, "a", "b", localEdgeLimit = 0L, handle = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == got, "local union-find and distributed propagation must agree")
      // pointer jumping covers distance 2^maxIter: a 29-vertex chain at
      // maxIter=2 THROWS instead of returning a half-merged labeling
      val chain = (1L until 30L).map(i => (i, i - 1)).toDF("a", "b")
      intercept[IllegalStateException](
        Dedup.resolveClusters(chain, "a", "b", maxIter = 2, localEdgeLimit = 0L, handle = h))
      // ...and the local path resolves the same chain instantly
      val full = Dedup.resolveClusters(chain, "a", "b", handle = h)
        .collect().map(r => r.getLong(1)).distinct.toSeq
      assert(full == Seq(0L), "one component, canonical 0")
    } finally h.release()
  }

  test("canonicalize: best-precedence representative per cluster, sizes, singletons") {
    import graft.text.Dedup
    // corpus with quality; components {1,2,3}, {10,11}, singletons 5, 20
    val docs = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 30.0), // tie on quality: doc_id breaks -> 2
      (10L, 5.0), (11L, 50.0),            // best is the HIGHER id
      (5L, 99.0), (20L, 1.0)
    ).toDF("doc_id", "quality")
    val pairs = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("a", "b")
    val h = new graft.runtime.CacheHandle
    try {
      val got = Dedup.canonicalize(docs, pairs, "doc_id", "a", "b",
          Seq(col("quality").desc, col("doc_id")), handle = h)
        .select("cluster_id", "doc_id", "cluster_size")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == Map(
        1L -> ((2L, 3L)),   // quality tie 30 at {2,3}: smaller id wins, NOT min-id 1
        10L -> ((11L, 2L)), // best quality despite larger id
        5L -> ((5L, 1L)), 20L -> ((20L, 1L))), s"got $got")
      // parallelism invariance
      val rep = Dedup.canonicalize(docs.repartition(7), pairs.repartition(3),
          "doc_id", "a", "b", Seq(col("quality").desc, col("doc_id")), handle = h)
        .select("cluster_id", "doc_id", "cluster_size")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rep == got)
    } finally h.release()
  }

  test("resolveClusters composes with nearDuplicates: planted dup groups keep ONE canonical") {
    import graft.text.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, base), (2L, base), (3L, base),              // triple dup group
      (4L, base.replace("gamma", "lambda")),           // near-dup of nothing (low jaccard vs base? ensure distinct enough)
      (5L, "completely different text with unique words one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val h = new graft.runtime.CacheHandle
    try {
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text", n = 3, minJaccard = 0.9,
        signatures = 16, bands = 8, handle = h)
      val clusters = Dedup.resolveClusters(pairs, "a", "b", handle = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L,
        s"the identical triple must share canonical 1: $clusters")
      assert(!clusters.contains(5L), "singletons never enter the edge list")
    } finally h.release()
  }

  test("dedupLines: corpus-frequent lines removed, order kept, edge docs handled") {
    import graft.text.Dedup
    val docs = Seq(
      (1L, "unique alpha\nCOOKIE BANNER\nunique beta"),
      (2L, "COOKIE BANNER\nunique gamma"),
      (3L, "COOKIE BANNER"),                      // all lines removed
      (4L, "only once here"),
      (5L, null.asInstanceOf[String])             // null text passes through
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", maxCount = 1)
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getLong(2))).toMap
    assert(got(1L) == ((Some("unique alpha\nunique beta"), 1L)), "order preserved")
    assert(got(2L) == ((Some("unique gamma"), 1L)))
    assert(got(3L) == ((Some(""), 1L)), "fully-boilerplate doc becomes empty, not missing")
    assert(got(4L) == ((Some("only once here"), 0L)))
    assert(got(5L) == ((None, 0L)), "null text stays null with zero removals")
    // the banner occurs 3x corpus-wide: still dropped at maxCount = 2,
    // kept at maxCount = 3
    val got2 = Dedup.dedupLines(docs, "doc_id", "text", maxCount = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got2(1L).contains("unique alpha\nunique beta"))
    val got3 = Dedup.dedupLines(docs, "doc_id", "text", maxCount = 3)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got3(1L).contains("unique alpha\nCOOKIE BANNER\nunique beta"))
  }

  test("charBigramScore matches a hand-computed add-one bigram model") {
    import graft.text.LmScore
    val docs = Seq((1L, "abab"), (2L, "abba"), (3L, "x")).toDF("doc_id", "text")
    // bigrams: doc1 ab,ba,ab; doc2 ab,bb,ba  => c2: ab=3, ba=2, bb=1
    // c1: a->3, b->3 ; V = distinct second chars {a,b} = 2
    val pAb = (3 + 1.0) / (3 + 2) // 0.8
    val pBa = (2 + 1.0) / (3 + 2) // 0.6
    val pBb = (1 + 1.0) / (3 + 2) // 0.4
    def bits(p: Double) = -math.log(p) / math.log(2)
    val want1 = (bits(pAb) + bits(pBa) + bits(pAb)) / 3
    val want2 = (bits(pAb) + bits(pBb) + bits(pBa)) / 3
    val got = LmScore.charBigramScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - want1) < 1e-12)
    assert(math.abs(got(2L) - want2) < 1e-12)
    assert(!got.contains(3L), "single-char doc has no transitions, no row")
  }

  test("charBigramScore against a FIXED model: unseen bigrams and chars fall back") {
    import graft.text.LmScore
    val modelCorpus = Seq((0L, "abab")).toDF("doc_id", "text") // ab=2, ba=1; a->2, b->1; V=2
    val model = LmScore.charBigramModel(modelCorpus, "text")
    val scored = LmScore.charBigramScore(
      Seq((7L, "aa"), (8L, "zz")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def bits(p: Double) = -math.log(p) / math.log(2)
    assert(math.abs(scored(7L) - bits((0 + 1.0) / (2 + 2))) < 1e-12, "unseen bigram, seen c1")
    assert(math.abs(scored(8L) - bits(1.0 / 2)) < 1e-12, "unseen first char -> 1/V")
  }

  test("native CharNgrams == built-in transform/substr chain, element-for-element") {
    import graft.text.LmScore
    val texts = Seq("abab", "a", "", "hello world", "ψαβγδ mixed ascii ü", "xy",
      null.asInstanceOf[String])
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val native = texts.select(col("id"), LmScore.charBigrams(col("t")))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    val builtin = texts.select(col("id"), LmScore.charBigramsBuiltin(col("t")))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(native == builtin)
    assert(native(6L).isEmpty, "null text propagates null, not an empty array")
    val vals = native.collect { case (k, Some(v)) => k -> v }
    assert(vals(0L) == Seq("ab", "ba", "ab"))
    assert(vals(1L).isEmpty && vals(2L).isEmpty)
    assert(vals(4L).take(2) == Seq("ψα", "αβ"), "positions count characters, not bytes")
    // trigram variant sanity
    val tri = texts.where(col("id") === 0)
      .select(graft.functions.CharNgrams.ngrams(col("t"), 3)).head().getSeq[String](0)
    assert(tri == Seq("aba", "bab"))
  }

  test("stratifiedSample: per-stratum fractions honored, deterministic, parallelism-invariant") {
    val d = (0L until 6000L).map(i => (i, s"s${i % 3}")).toDF("id", "stratum")
    val fr = Map("s0" -> 0.25, "s1" -> 0.75)
    def kept(parts: Int): Set[Long] =
      d.repartition(parts)
        .where(Sampling.stratifiedSampleMd5(col("id"), col("stratum"), fr, default = 1.0))
        .collect().map(_.getLong(0)).toSet
    val a = kept(3)
    assert(kept(11) == a, "membership must not depend on partitioning")
    val byStratum = a.groupBy(i => (i % 3).toInt).view.mapValues(_.size).toMap
    assert(math.abs(byStratum(0) / 2000.0 - 0.25) < 0.05, s"s0: $byStratum")
    assert(math.abs(byStratum(1) / 2000.0 - 0.75) < 0.05, s"s1: $byStratum")
    assert(byStratum(2) == 2000, "absent stratum keeps the default fraction 1.0")
    intercept[IllegalArgumentException](
      Sampling.stratifiedSampleMd5(col("id"), col("stratum"), Map("s0" -> 1.5)))
  }

  test("shuffleRank: bijective 0..n-1, equals naive hash-order rank, parallelism-invariant") {
    val d = (0L until 3000L).map(i => (i, s"p$i")).toDF("id", "payload")
    def ranks(parts: Int): Map[Long, Long] =
      Sampling.shuffleRankMd5(d.repartition(parts), col("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = ranks(4)
    assert(got.values.toSeq.sorted == (0L until 3000L), "ranks must be a bijection onto 0..n-1")
    assert(ranks(13) == got, "rank must not depend on partitioning")
    // GLOBAL-WINDOW-OK: test-only naive reference on a tiny fixture
    val naive = d.withColumn("__h",
        expr("cast(conv(substring(md5(cast(id as string)), 1, 12), 16, 10) as bigint)"))
      .withColumn("__r", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy(col("__h"), col("id"))) - 1)
      .collect().map(r => r.getLong(0) -> r.getInt(3).toLong).toMap
    assert(got.view.mapValues(_.toLong).toMap == naive, "two-phase rank == naive global rank")
  }

  test("TwoPhase.runningSum == local per-key running sum; null bucket or key aborts") {
    import graft.text.TwoPhase
    // keys k0..k4 (k4 holds 3 rows, all in one bucket), ~10% null weights,
    // order (v, id) total; bucket = v div 16 agrees with that order
    val rng = new scala.util.Random(23)
    val rows = (0L until 600L).map { id =>
      val key = if (id < 3) "k4" else s"k${rng.nextInt(4)}"
      val v = if (key == "k4") 5L else rng.nextInt(400).toLong
      val w = if (rng.nextDouble() < 0.1) None else Some(rng.nextInt(50).toLong)
      (id, key, v, w)
    }
    val want = rows.groupBy(_._2).values.flatMap { g =>
      var acc = 0L
      g.sortBy(r => (r._3, r._1)).map { r => val out = r._1 -> acc; acc += r._4.getOrElse(0L); out }
    }.toMap
    val df = rows.toDF("id", "key", "v", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      TwoPhase.runningSum(d, Seq("key"), expr("v div 16"), Seq(col("v"), col("id")), col("w"),
        maxBuckets = 1 << 10, out = "before")
    for (parts <- Seq(1, 3, 7)) {
      val out = run(df.repartition(parts))
      assert(out.columns.toSeq == Seq("id", "key", "v", "w", "before"))
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
      assert(got == want, s"running sum at $parts partitions")
    }
    val nullBucket = intercept[IllegalArgumentException](
      run(df.withColumn("v", when(col("id") === 7, lit(null)).otherwise(col("v")))).collect())
    assert(nullBucket.getMessage.contains("ordering key column contains nulls"))
    val nullKey = intercept[IllegalArgumentException](
      run(df.withColumn("key", when(col("id") === 7, lit(null)).otherwise(col("key")))).collect())
    assert(nullKey.getMessage.contains("key columns contain nulls"))
    val sparse = intercept[IllegalArgumentException](
      TwoPhase.runningSum(df, Seq("key"), col("id"), Seq(col("id")), col("w"), 16, "before"))
    assert(sparse.getMessage.contains("over 16 occupied buckets"))
  }

  test("packSequences: exact offsets, straddling docs, zero-token docs, bucket invariance") {
    import graft.text.Packing
    val docs = Seq((0L, 300L), (1L, 300L), (2L, 0L), (3L, 500L), (5L, 124L), (10L, 1L))
      .toDF("id", "toks")
    def run(bucketSize: Long) =
      Packing.packSequences(docs, "id", "toks", budget = 512, bucketSize = bucketSize)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(2), Option(r.get(3)).map(_.toString.toLong), Option(r.get(4)).map(_.toString.toLong)))
        .toMap
    val got = run(4096)
    // stream: 0:[0,300) 1:[300,600) 2:- 3:[600,1100) 5:[1100,1224) 10:[1224,1225)
    assert(got(0L) == ((0L, Some(0L), Some(0L))))
    assert(got(1L) == ((300L, Some(0L), Some(1L))), "doc 1 straddles chunks 0/1")
    assert(got(2L) == ((600L, None, None)), "zero-token doc occupies no chunk")
    assert(got(3L) == ((600L, Some(1L), Some(2L))))
    assert(got(5L) == ((1100L, Some(2L), Some(2L))))
    assert(got(10L) == ((1224L, Some(2L), Some(2L))))
    // bucket size is an execution detail, never a semantics knob
    assert(run(2) == got && run(1) == got)
    // totals: every token is packed exactly once
    val totalToks = 300 + 300 + 500 + 124 + 1
    assert(got.values.map(_._1).max + 1 <= totalToks)
    intercept[IllegalArgumentException](Packing.packSequences(docs, "id", "toks", 0))
  }

  // ---- SimHash multi-table candidate generation -----------------------------

  /** Synthetic signature corpus: `clusters` planted near-dup groups of 3
    * (base, base⊕1bit, base⊕3bits) in a sea of `background` uniform random
    * 64-bit signatures. Seeded — identical across runs. */
  private def simhashFixture(clusters: Int, background: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var id = 0L
    (0 until clusters).foreach { _ =>
      val base = rng.nextLong()
      val oneBit = base ^ (1L << rng.nextInt(64))
      var threeBits = base
      (0 until 3).foreach(_ => threeBits ^= (1L << rng.nextInt(64)))
      Seq(base, oneBit, threeBits).foreach { s => rows += ((id, s)); id += 1 }
    }
    (0 until background).foreach { _ => rows += ((id, rng.nextLong())); id += 1 }
    rows.toSeq.toDF("doc_id", "simhash")
  }

  private def bruteHamming3(rows: Seq[(Long, Long)], maxH: Int): Set[(Long, Long)] =
    (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= maxH
    } yield (ia, ib)).toSet

  test("simHashCandidates (multi-table) is exhaustive: equals brute force at Hamming <= 3") {
    val df = simhashFixture(clusters = 25, background = 400, seed = 91)
    val local = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = graft.text.Dedup.simHashCandidates(df, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteHamming3(local, 3)
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.size >= 25, "fixture must actually plant near-dup pairs")
  }

  test("simHashCandidates raw join volume stays ~linear where the 4x16 pigeonhole is quadratic") {
    // uniform random sigs: true pairs ~0, so every raw candidate is spurious
    // join work. The old 4-block/match-1 construction (blocks = 4 here) hits
    // ~4*N^2/2^17 spurious pairs; the 6-choose-3 tables (~32-bit keys) stay
    // near zero. This is the corpus-scale property: candidate volume must
    // track true near-dups, not N^2.
    def raw(df: org.apache.spark.sql.DataFrame, blocks: Int): Long =
      graft.text.Dedup.simHashCandidatesRaw(df, "doc_id", 3, "simhash", 64, blocks,
        0L, new graft.runtime.CacheHandle).count()
    val n = 20000
    val big = simhashFixture(clusters = 0, background = n, seed = 7)
    val oldShape = raw(big, 4)   // expected ≈ 4 * n²/2 / 2^16 ≈ 12k at n=20k
    val newShape = raw(big, 6)   // expected ≈ 20 * n²/2 / 2^32 ≈ 0
    assert(oldShape > 1000, s"old pigeonhole should blow up on uniform sigs: $oldShape")
    assert(newShape < oldShape / 50,
      s"multi-table must cut spurious candidates >50x: old=$oldShape new=$newShape")
    // and it scales: 4x the corpus, candidates grow far slower than 16x
    val small = simhashFixture(clusters = 0, background = n / 4, seed = 7)
    val newSmall = raw(small, 6)
    assert(newShape <= 16 * newSmall + 50,
      s"new construction must not scale quadratically: n/4 -> $newSmall, n -> $newShape")
  }

  test("simHashCandidates maxBucket guard bounds degenerate signature cliques") {
    // 500 docs sharing ONE signature: an O(m^2) clique no key width shrinks
    // (exact dedup's job upstream); the guard drops the bucket entirely
    val clique = (0L until 500L).map(i => (i, 0x0123456789abcdefL)).toDF("doc_id", "simhash")
    val unguarded = graft.text.Dedup.simHashCandidates(clique, "doc_id", maxHamming = 3)
    assert(unguarded.count() == 500L * 499 / 2)
    val guarded = graft.text.Dedup.simHashCandidates(clique, "doc_id", maxHamming = 3,
      maxBucket = 10L)
    assert(guarded.count() == 0, "over-cap buckets must be dropped before the self-join")
  }

  test("repetitionMetrics: hand-computed fractions, deterministic top-gram tiebreak") {
    val df = Seq(
      (1L, "b a a b a"),   // words 5, distinct 2; 2-grams: "b a"x2,"a a","a b"; 3-grams all distinct
      (2L, "x x x x"),     // 2-grams: "x x"x3; 3-grams: "x x x"x2 (all duplicated)
      (3L, "q w"),         // one 2-gram, no 3-grams
      (4L, "solo")         // no 2-/3-grams
    ).toDF("doc_id", "text")
    val got = graft.text.Repetition.repetitionMetrics(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def d(r: org.apache.spark.sql.Row, i: Int): Double = r.getDouble(i)
    val r1 = got(1L)
    assert(r1.getLong(1) == 5 && d(r1, 2) == 0.6)
    assert(r1.getString(3) == "b a" && d(r1, 4) == 0.5 && d(r1, 5) == 0.0)
    val r2 = got(2L)
    assert(r2.getLong(1) == 4 && d(r2, 2) == 0.75)
    assert(r2.getString(3) == "x x" && d(r2, 4) == 1.0 && d(r2, 5) == 1.0)
    val r3 = got(3L)
    assert(r3.getLong(1) == 2 && d(r3, 2) == 0.0 && r3.getString(3) == "q w" && d(r3, 4) == 1.0)
    assert(r3.isNullAt(5), "no 3-grams in a 2-word doc")
    val r4 = got(4L)
    assert(r4.getLong(1) == 1 && r4.isNullAt(3) && r4.isNullAt(4) && r4.isNullAt(5))
    // ties on count break to the lexicographically smallest gram: all three
    // 2-grams of "d c b a" ("d c","c b","b a") occur once ⇒ top = "b a"
    val tie = graft.text.Repetition.repetitionMetrics(
      Seq((9L, "d c b a")).toDF("doc_id", "text"), "doc_id", "text").collect()(0)
    assert(tie.getString(3) == "b a")
  }

  test("DSIR importance log-weights: local two-model replay; empty docs weigh 1; direction") {
    import graft.text.LmScore
    // two "domains" with disjoint character habits
    val tgtDocs = Seq("aaab aaab aaba", "abab aabb baaa", "aaaa abba")
    val bgExtra = Seq("zzzy zyzy yzzz", "zyyz zzzz yyzy")
    val corpus = (tgtDocs ++ bgExtra ++ Seq("", "x")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text").repartition(3)
    val h = new graft.runtime.CacheHandle
    val target = LmScore.charBigramModel(corpus.where(col("id") < 3), "text", h)
    val background = LmScore.charBigramModel(corpus, "text", h)
    val got = LmScore.importanceLogWeights(corpus, "id", "text", target, background)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    h.release()
    assert(got.size == 7, "every corpus row keeps a weight")
    // local replay: add-one bigram models from first principles
    def bigrams(s: String): Seq[String] = if (s.length < 2) Nil
      else (0 until s.length - 1).map(i => s.substring(i, i + 2))
    def model(docs: Seq[String]): (Map[String, Long], Map[String, Long], Long) = {
      val m2 = docs.flatMap(bigrams).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val m1 = m2.groupBy(_._1.substring(0, 1)).map { case (k, v) => k -> v.values.sum }
      (m2, m1, m2.keys.map(_.substring(1, 2)).toSet.size.toLong)
    }
    val (t2, t1, tv) = model(tgtDocs)
    val (b2, b1, bv) = model(tgtDocs ++ bgExtra ++ Seq("", "x"))
    def log2(x: Double) = math.log(x) / math.log(2.0)
    for ((id, text) <- (tgtDocs ++ bgExtra ++ Seq("", "x")).zipWithIndex.map(_.swap)) {
      val expect = bigrams(text).map { bg =>
        val c1 = bg.substring(0, 1)
        log2((t2.getOrElse(bg, 0L) + 1.0) / (t1.getOrElse(c1, 0L) + tv)) -
          log2((b2.getOrElse(bg, 0L) + 1.0) / (b1.getOrElse(c1, 0L) + bv))
      }.sum
      assert(math.abs(got(id.toLong) - expect) < 1e-9, s"id=$id")
    }
    // target-domain docs must out-weigh background-only docs
    assert((0 to 2).map(i => got(i.toLong)).min >
      (3 to 4).map(i => got(i.toLong)).max)
    assert(got(5L) == 0.0 && got(6L) == 0.0, "docs without transitions weigh 2^0")
  }

  test("charBigramModels (one-scan pair) == separate charBigramModel builds, exactly") {
    import graft.text.LmScore
    val corpus = Seq("aaab aaab", "abab zzzy", "zyyz x", "", "qq")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text").repartition(3)
    val h = new graft.runtime.CacheHandle
    def tables(m: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long)) = (
      m._1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      m._2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      m._3)
    val (fusedT, fusedB) = LmScore.charBigramModels(corpus, "text", col("id") < 2, h)
    val sepT = LmScore.charBigramModel(corpus.where(col("id") < 2), "text", h)
    val sepB = LmScore.charBigramModel(corpus, "text", h)
    assert(tables(fusedT) == tables(sepT), "target model drift")
    assert(tables(fusedB) == tables(sepB), "background model drift")
    h.release()
  }

  test("weightedSampleLogMd5 == weightedSampleMd5 membership when weights fit a double") {
    val d = (0L until 400L).map(i => (i, (i % 17 + 1).toDouble))
      .toDF("id", "w").withColumn("log2w", log2(col("w")))
    val lin = Sampling.weightedSampleMd5(d, col("id"), col("w"), k = 40)
      .select("id").collect().map(_.getLong(0)).toSet
    val logv = Sampling.weightedSampleLogMd5(d, col("id"), col("log2w"), k = 40)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(lin == logv, "log-space A-ES must select the same selection as linear space")
    // extreme weights the linear formulation cannot represent still rank
    val huge = Seq((1L, 100000.0), (2L, -100000.0), (3L, 0.0))
      .toDF("id", "log2w")
    val top = Sampling.weightedSampleLogMd5(huge, col("id"), col("log2w"), k = 3)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(top.head == 1L && top.last == 2L,
      "2^100000 beats 2^0 beats 2^-100000 — no overflow/underflow collapse")
  }

  test("BM25: hand-computed two-term case; non-matching docs absent; top-k order") {
    import graft.text.Bm25
    val docs = Seq(
      (1L, "cat dog cat"), (2L, "dog dog dog dog"), (3L, "bird bird"),
      (4L, "cat"), (5L, "")).toDF("id", "text").repartition(2)
    val got = Bm25.bm25TopK(docs, "id", "text", Seq("cat", "dog"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 4L), "only matching docs are retrieved")
    // local replay: N=5 docs (blank counts), avgdl=(3+4+2+1+0)/5=2.0
    val n = 5.0; val avgdl = 2.0; val k1 = 1.2; val b = 0.75
    def idf(dft: Long) = math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)
    def s(tf: Long, dl: Long, dft: Long) =
      idf(dft) * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    val expect = Map(
      1L -> (s(2, 3, 2) + s(1, 3, 2)), // cat tf=2 dft=2; dog tf=1 dft=2
      2L -> s(4, 4, 2), 4L -> s(1, 1, 2))
    expect.foreach { case (id, e) => assert(math.abs(got(id) - e) < 1e-9, s"id=$id") }
    // the scoring is deterministic at any parallelism
    val again = Bm25.bm25TopK(docs.repartition(7), "id", "text", Seq("cat", "dog"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == got)
  }
}
