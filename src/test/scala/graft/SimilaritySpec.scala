package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.ArrayMath
import graft.sim.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val rng = new scala.util.Random(5)
  lazy val vecs = (0 until 200).map { i =>
    (i.toLong, Array.fill(64)(rng.nextFloat()))
  }
  lazy val df = { val d = vecs.toDF("id", "v"); d.cache(); d.count(); d }
  lazy val query: Seq[Double] = vecs.head._2.map(_.toDouble).toSeq

  test("native cosine_sim expression == built-in zip_with/aggregate chain, bit-for-bit") {
    val builtin = Similarity.cosineBuiltin(col("v"), query)
    val native = ArrayMath.cosineSimTo(col("v"), query)
    val rows = df.select(col("id"), builtin.as("b"), native.as("n")).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"id=${r.getLong(0)}")
    }
  }

  test("the reference chain runs: no rule rewrites cosineBuiltin into CosineSimilarity") {
    val plan = df.select(Similarity.cosineBuiltin(col("v"), query))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("zip_with"), s"the built-in chain must reach execution:\n$plan")
    assert(!plan.toLowerCase.contains("cosinesimilarity"), s"chain rewritten to native:\n$plan")
  }

  test("native cosine_sim two-column variant and SQL registration") {
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql(
      "SELECT a.id, cosine_sim(a.v, b.v) c FROM vecs a JOIN vecs b ON b.id = 0")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaCol = df.select(col("id"), ArrayMath.cosineSimTo(col("v"), query).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql.keySet == viaCol.keySet)
    viaSql.foreach { case (k, v) => assert(math.abs(v - viaCol(k)) < 1e-12) }
    assert(math.abs(viaSql(0L) - 1.0) < 1e-12, "self-similarity = 1")
  }

  test("null array yields null; zero vector yields 0") {
    val d = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, null.asInstanceOf[Array[Float]]), (3L, Array(0.0f, 0.0f))
    ).toDF("id", "v")
    val got = d.select(col("id"), ArrayMath.cosineSimTo(col("v"), Seq(1.0, 1.0)).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(2L).isEmpty)
    assert(got(3L).contains(0.0))
    assert(got(1L).exists(v => math.abs(v - 3 / (math.sqrt(5) * math.sqrt(2))) < 1e-12))
  }

  test("brute-force top-k: query vector itself ranks first") {
    val top = Similarity.bruteForceTopK(df, "id", "v", query, 5).collect()
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    // descending
    val cs = top.map(_.getDouble(1)).toSeq
    assert(cs == cs.sortBy(-(_: Double)))
  }

  test("LSH top-k returns a subset of brute-force ranking with the query's bucket") {
    val planes = Similarity.hyperplanes(4, 64)
    val lsh = Similarity.lshTopK(df, "id", "v", query, 5, planes).collect()
    assert(lsh.nonEmpty && lsh.head.getLong(0) == 0L, "query's own bucket contains itself")
    val bruteAll = Similarity.cosineToQuery(df, "v", query)
      .collect().map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("cosine"))).toMap
    lsh.foreach { r => assert(math.abs(r.getDouble(1) - bruteAll(r.getLong(0))) < 1e-6) }
  }

  test("banded near-dup pairs recover EVERY true pair at cosine >= 0.95 (recall property)") {
    // perturbed (not identical) duplicates: alternating 1.28/0.72 weights put
    // each planted pair near cosine 0.96 — every hyperplane sees a genuinely
    // different vector, so recall must come from the AND-OR banding, not from
    // identical signatures
    val planted = vecs.take(30).map { case (id, v) =>
      (id + 10000L, v.zipWithIndex.map { case (x, i) => x * (if (i % 2 == 0) 1.28f else 0.72f) })
    }
    val all = vecs ++ planted
    val allDf = all.toDF("id", "v")
    def cosLocal(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      x <- all; y <- all if x._1 < y._1
      c = cosLocal(x._2, y._2) if c >= 0.95
    } yield (x._1, y._1) -> c).toMap
    assert(truth.size >= 25, s"fixture must plant a meaningful pair count, got ${truth.size}")
    val planes = Similarity.hyperplanes(128, 64)
    val got = Similarity.cosineNearDupPairs(allDf, "id", "v", planes, 0.95, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == truth.keySet,
      s"missed=${truth.keySet -- got.keySet} spurious=${got.keySet -- truth.keySet}")
    got.foreach { case (k, v) => assert(math.abs(v - truth(k)) < 1e-12, k.toString) }
  }

  test("single band at the same plane budget has materially lower recall than banding") {
    // documents WHY the banded construction exists: one 16-plane band ANDs
    // all sign bits, so a cosine-0.96 pair survives with p ≈ 0.93^16 ≈ 0.3
    val planted = vecs.take(30).map { case (id, v) =>
      (id + 10000L, v.zipWithIndex.map { case (x, i) => x * (if (i % 2 == 0) 1.28f else 0.72f) })
    }
    val allDf = (vecs ++ planted).toDF("id", "v")
    val planes16 = Similarity.hyperplanes(16, 64)
    val single = Similarity.cosineNearDupPairs(allDf, "id", "v", planes16, 0.95, bands = 1)
      .count()
    val banded = Similarity.cosineNearDupPairs(allDf, "id", "v", planes16, 0.95, bands = 8)
      .count()
    assert(banded > single, s"banded=$banded single=$single")
  }

  test("native sign_band_sigs expression == compositional when/shiftleft chain, bit-for-bit") {
    // edge rows ride along: zero vector (every cosine 0.0 >= 0 -> all bits
    // set), NaN element (NaN cosine, SQL-greatest -> all bits set), and a
    // length-mismatched vector (null cosine -> otherwise-branch -> all zero)
    val edge = Seq(
      (9001L, Array.fill(64)(0.0f)),
      (9002L, Array.fill(64)(Float.NaN)),
      (9003L, Array(1.0f, 2.0f, 3.0f)))
    val d = (vecs ++ edge).toDF("id", "v")
    val planes = Similarity.hyperplanes(64, 64)
    val rows = d.select(col("id"),
      ArrayMath.signBandSigs(col("v"), planes, 8).as("n"),
      Similarity.bandSigsBuiltin(col("v"), planes, 8).as("b")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(byId(9001L).forall(_ == 255L), "zero vector sets every bit (0.0 >= 0)")
    assert(byId(9002L).forall(_ == 255L), "NaN cosine is SQL-largest: every bit set")
    assert(byId(9003L).forall(_ == 0L), "length mismatch -> all-zero signatures")
  }

  test("sign_band_sigs null semantics pinned directly: null vector / null element -> zeros, never null") {
    val d = Seq(
      (1L, Some(Seq[Option[Float]](Some(1f), Some(2f)))),
      (2L, None),                                        // null vector
      (3L, Some(Seq[Option[Float]](Some(1f), None)))     // null element
    ).toDF("id", "v").select(col("id"), col("v").cast("array<float>").as("v"))
    val planes = Similarity.hyperplanes(8, 2)
    val got = d.select(col("id"), ArrayMath.signBandSigs(col("v"), planes, 4).as("s"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.getSeq[Long](1))).toMap
    assert(!got.values.exists(_._1), "result is never null")
    assert(got(2L)._2.forall(_ == 0L) && got(3L)._2.forall(_ == 0L))
    assert(got(1L)._2.exists(_ != 0L), "a well-formed vector produces real signatures")
  }

  test("int8 quantization: codes in range, error bound scale/2, cosine preserved, zero/negative edges") {
    import graft.sim.Quantize
    // include negative components and an exact-zero vector
    val mixed = ((0 until 100).map { i =>
      (i.toLong, Array.fill(32)(rng.nextFloat() * 2f - 1f))
    } :+ (100L, Array.fill(32)(0f))).toDF("id", "v")
    val got = mixed.select(col("id"), col("v"),
      Quantize.scale(col("v")).as("s"), Quantize.quantize(col("v")).as("q"),
      Quantize.dequantize(Quantize.quantize(col("v")), Quantize.scale(col("v"))).as("d"))
      .collect()
    got.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val s = r.getDouble(2)
      val q = r.getSeq[Int](3)
      val d = r.getSeq[Double](4)
      assert(q.forall(c => c >= -127 && c <= 127), s"id=${r.getLong(0)} codes out of range")
      v.zip(d).foreach { case (x, xh) =>
        assert(math.abs(x - xh) <= s / 2 + 1e-12, s"id=${r.getLong(0)}: |$x - $xh| > $s/2")
      }
      if (v.exists(_ != 0.0)) {
        def cos(a: Seq[Double], b: Seq[Double]) = {
          val dot = a.zip(b).map(t => t._1 * t._2).sum
          dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
        }
        assert(cos(v, d) > 0.999, s"id=${r.getLong(0)}: cosine degraded to ${cos(v, d)}")
        assert(q.map(math.abs).max == 127, "max-magnitude component must hit full scale")
      } else {
        assert(s == 0.0 && q.forall(_ == 0), "zero vector -> scale 0, all-zero codes")
      }
    }
  }

  test("quantized KNN: top-k over dequantized int8 vectors ~= float top-k (retrieval preserved)") {
    import graft.sim.Quantize
    val deq = df.select(col("id"),
      Quantize.dequantize(Quantize.quantize(col("v")), Quantize.scale(col("v"))).as("vq"))
    val qm = query.map(math.abs).max
    val qDeq = query.map(x => math.floor(x / qm * 127.0 + 0.5) * (qm / 127.0))
    val qTop = Similarity.bruteForceTopK(deq, "id", "vq", qDeq, 10)
      .collect().map(_.getLong(0)).toSeq
    val fTop = Similarity.bruteForceTopK(df, "id", "v", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(qTop.head == fTop.head, "the top hit must survive quantization")
    assert(qTop.toSet.intersect(fTop.toSet).size >= 8,
      s"int8 quantization must preserve >=8/10 of the float top-k: $qTop vs $fTop")
  }

  test("null ELEMENTS poison cosine to null, matching the built-in chain (both fused expressions)") {
    val q = Seq(1.0, 1.0, 1.0)
    val d = spark.sql("SELECT array(1.0D, CAST(NULL AS DOUBLE), 3.0D) v")
    val got = d.select(
      Similarity.cosineBuiltin(col("v"), q).as("chain"),
      ArrayMath.cosineSimTo(col("v"), q).as("native")).head()
    assert(got.isNullAt(0), "chain: null product poisons the aggregate sum")
    assert(got.isNullAt(1), "native must propagate a null element, not read it as 0")
    val i8 = spark.sql(
      "SELECT int8_cosine_sim(array(1, CAST(NULL AS INT), 3), 0.5D, array(1.0D, 1.0D, 1.0D)) c").head()
    assert(i8.isNullAt(0), "int8 fused: null code element -> null similarity")
    // LENGTH MISMATCH is null too — zip_with pads the shorter side with
    // nulls, so the chain poisons to null; the fused loops must agree
    val mism = spark.sql(
      "SELECT int8_cosine_sim(array(1, 2), 0.5D, array(1.0D, 1.0D, 1.0D)) c").head()
    assert(mism.isNullAt(0), "length mismatch must be null, like the padded zip_with chain")
    val dMism = spark.sql("SELECT array(1.0D, 2.0D) v")
    val both = dMism.select(
      Similarity.cosineBuiltin(col("v"), q).as("chain"),
      ArrayMath.cosineSimTo(col("v"), q).as("native")).head()
    assert(both.isNullAt(0) && both.isNullAt(1), "chain and native agree on mismatched lengths")
  }

  test("fused int8 cosine == dequantize -> builtin chain, bit-for-bit (incl. narrow code types)") {
    import graft.sim.Quantize
    val store = df.select(col("id"),
      Quantize.quantize(col("v")).as("codes"), Quantize.scale(col("v")).as("scale"),
      Quantize.dequantize(Quantize.quantize(col("v")), Quantize.scale(col("v"))).as("deq"))
    val qm = query.map(math.abs).max
    val qDeq = query.map(x => math.floor(x / qm * 127.0 + 0.5) * (qm / 127.0))
    val rows = store.select(col("id"),
      Similarity.cosineBuiltin(col("deq"), qDeq).as("chain"),
      Similarity.cosineInt8(col("codes"), col("scale"), qDeq).as("fusedInt"),
      Similarity.cosineInt8(col("codes").cast("array<smallint>"), col("scale"), qDeq).as("fusedShort"),
      Similarity.cosineInt8(col("codes").cast("array<tinyint>"), col("scale"), qDeq).as("fusedByte"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"int codes, id=${r.getLong(0)}")
      assert(r.getDouble(1) == r.getDouble(3), s"smallint codes, id=${r.getLong(0)}")
      assert(r.getDouble(1) == r.getDouble(4), s"tinyint codes, id=${r.getLong(0)}")
    }
    // null codes -> null; zero vector (scale 0, zero codes) -> 0.0
    val edge = Seq(
      (1L, Array(0, 0, 0), 0.0), (2L, null.asInstanceOf[Array[Int]], 1.0)
    ).toDF("id", "codes", "scale")
    val got = edge.select(col("id"),
      Similarity.cosineInt8(col("codes"), col("scale"), Seq(1.0, 1.0, 1.0)).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L).contains(0.0) && got(2L).isEmpty)
    // the SQL function GraftExtensions injects
    store.createOrReplaceTempView("int8_store")
    val viaSql = spark.sql(
      s"SELECT id, int8_cosine_sim(codes, scale, CAST(array(${qDeq.mkString(",")}) AS ARRAY<DOUBLE>)) c FROM int8_store")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(viaSql(r.getLong(0)) == r.getDouble(1)))
  }

  test("quantized IVF search == IVF over dequantized floats exactly; retrieval ~= float top-k") {
    import graft.sim.Quantize
    val centroids = vecs.take(6).map { case (_, v) =>
      val ds = v.map(_.toDouble).toSeq
      val m = ds.map(math.abs).max
      ds.map(x => math.floor(x / m * 127.0 + 0.5) * (m / 127.0))
    }
    val qm = query.map(math.abs).max
    val qDeq = query.map(x => math.floor(x / qm * 127.0 + 0.5) * (qm / 127.0))
    val store = df.select(col("id"),
      Quantize.quantize(col("v")).as("codes"), Quantize.scale(col("v")).as("scale"))
    val viaInt8 = Similarity.ivfTopKInt8(store, "id", "codes", "scale", qDeq, 10, centroids, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the float-machinery path over the reconstructed vectors must agree EXACTLY
    // (assignment ties and scores are bit-equal by the fused-expression contract)
    val deq = df.select(col("id"),
      Quantize.dequantize(Quantize.quantize(col("v")), Quantize.scale(col("v"))).as("vq"))
    val viaFloat = Similarity.ivfTopK(deq, "id", "vq", qDeq, 10, centroids, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaInt8 == viaFloat)
    // and the pruned quantized search still retrieves most of the true float top-k
    val fTop = Similarity.bruteForceTopK(df, "id", "v", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(viaInt8.head._1 == fTop.head, "the top hit survives quantization + pruning")
    assert(viaInt8.map(_._1).toSet.intersect(fTop.toSet).size >= 6,
      s"pruned quantized search must keep most of the float top-k: $viaInt8 vs $fTop")
  }

  test("IVF assignment puts each vector in its nearest centroid cell") {
    val centroids = vecs.take(3).map(_._2.map(_.toDouble).toSeq)
    val assigned = Similarity.ivfAssign(df, "v", centroids).collect()
    assigned.take(3).foreach { r =>
      // first three vectors ARE the centroids: each must land in its own cell
      val id = r.getLong(r.fieldIndex("id"))
      if (id < 3) assert(r.getInt(r.fieldIndex("cell")) == id.toInt)
    }
  }

  test("fused NearestCentroid == greatest-over-structs chain bit-for-bit (float + int8)") {
    val centroids = vecs.take(8).map(_._2.map(_.toDouble).toSeq)
    val fused = Similarity.assignCentroid(df, "v", centroids)
      .select("id", "cell", "cell_sim").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val chain = Similarity.assignCentroidBuiltin(df, "v", centroids)
      .select("id", "cell", "cell_sim").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(fused == chain, "cell AND cell_sim must be bit-identical to the reference chain")
    // int8 variant over the quantized store
    import graft.sim.Quantize
    val store = df.select(col("id"),
      Quantize.quantize(col("v")).as("codes"), Quantize.scale(col("v")).as("scale"))
    val fusedI = Similarity.ivfAssignInt8(store, "codes", "scale", centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chainI = Similarity.ivfAssignInt8Builtin(store, "codes", "scale", centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fusedI == chainI)
  }

  test("NearestCentroid null semantics pinned directly: null array/element, length mismatch") {
    val d = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(1.0f, 2.0f, 3.0f)) // length mismatch vs 2-dim centroids
    ).toDF("id", "v")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = Similarity.assignCentroid(d, "v", cents)
      .select("id", "cell", "cell_sim").collect()
      .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(got(1L) == ((false, false)))
    assert(got(2L) == ((true, true)), "null array -> null assignment")
    assert(got(3L) == ((true, true)), "dimensionality mismatch -> null assignment")
    // null ELEMENT poisons the row (matches the cosine element rule)
    val e = spark.sql("SELECT array(1.0D, CAST(NULL AS DOUBLE)) v")
    val gotE = Similarity.assignCentroid(e, "v", cents)
      .select("cell", "cell_sim").head()
    assert(gotE.isNullAt(0) && gotE.isNullAt(1))
  }

  test("NearestCentroid at SemDeDup-scale k: 4096 centroids in one O(1)-width plan call") {
    // the greatest-over-structs chain at this k is a 4096-wide expression
    // tree (the documented driver hazard class); the fused call must both
    // plan and agree with a local argmax replay
    val k = 4096
    val cents = (0 until k).map { c =>
      val r = new scala.util.Random(c + 1000)
      (0 until 64).map(_ => r.nextDouble() - 0.5)
    }
    val got = Similarity.assignCentroid(df.limit(40), "v", cents)
      .select("id", "cell", "cell_sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val byId = vecs.take(40).toMap
    got.foreach { case (id, cell, sim) =>
      val sims = cents.zipWithIndex.map { case (c, i) => (localCos(byId(id), c), i) }
      val (bestSim, bestCell) = sims.max
      assert(cell == bestCell && sim == bestSim, s"id=$id")
    }
  }

  /** Local replay of the engine cosine, kept to its exact operation order:
    * double-cast elements, ascending dot and vector norm, query norm as an
    * ascending Seq sum — bit-equal to CosineSimilarity/cosineBuiltin. */
  private def localCos(v: Array[Float], q: Seq[Double]): Double = {
    var dot = 0.0; var nv = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; dot += x * q(i); nv += x * x; i += 1 }
    val nq = math.sqrt(q.map(x => x * x).sum)
    if (nq == 0.0 || nv == 0.0) 0.0 else dot / (math.sqrt(nv) * nq)
  }

  /** Local single-threaded Lloyd with the SAME fixed-point rule as
    * Similarity.kmeans: snap to the 2^-50 grid, exact integer sums
    * (BigDecimal), correctly-rounded double mean. Ties toward the larger
    * cell, empty cells carry over. */
  private def localKmeans(
      points: Seq[Array[Float]], init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    val S = 1125899906842624.0 // 2^50
    var cents = init
    for (_ <- 1 to iters) {
      val assign = points.map { p =>
        cents.zipWithIndex.map { case (c, i) => (localCos(p, c), i) }.max._2
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        val members = points.zip(assign).collect { case (p, a) if a == c => p }
        if (members.isEmpty) old
        else (0 until points.head.length).map { d =>
          val sd = members.map(p => BigDecimal(math.floor(p(d).toDouble * S + 0.5))).sum
          sd.toDouble / S / members.size
        }
      }
    }
    cents
  }

  test("kmeans == local fixed-point Lloyd bit-for-bit; parallelism-invariant; sizes correct") {
    val init = vecs.take(4).map(_._2.map(_.toDouble).toSeq)
    val (c1, s1) = Similarity.kmeans(df.repartition(1), "v", init, iters = 3)
    val (c13, s13) = Similarity.kmeans(df.repartition(13), "v", init, iters = 3)
    assert(c1 == c13 && s1 == s13, "centroids must be bit-identical at any parallelism")
    val local = localKmeans(vecs.map(_._2), init, 3)
    assert(c1 == local, "distributed refinement must equal the local fixed-point model exactly")
    assert(s1.values.sum == vecs.size)
    // sizes match a direct assignment count against the refined centroids
    // (sizes are the LAST update's counts — i.e. assignment under the
    // second-to-last centroids; recompute the same way locally)
    val prev = localKmeans(vecs.map(_._2), init, 2)
    val localSizes = vecs.map(_._2).map { p =>
      prev.zipWithIndex.map { case (c, i) => (localCos(p, c), i) }.max._2
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert((0 until 4).forall(c => s1(c) == localSizes.getOrElse(c, 0L)))
  }

  test("FixedPointVectorSum == 2·d-wide hi/lo sum-column twin exactly; malformed rows skipped") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val scale = 1125899906842624.0 // 2^50, the kmeans CentroidScale
    // signed coordinates + a hot group large enough to exercise lo-carry
    val data = (0 until 500).map { i =>
      (i % 3, Array.fill(8)(rng.nextFloat() * 8f - 4f))
    }
    val malformed = Seq((1, null.asInstanceOf[Array[Float]]), (1, Array.fill(5)(1f)))
    val d8 = (data ++ malformed).toDF("g", "v").repartition(7)
    val fps = ColumnBridge.column(
      graft.functions.FixedPointVectorSum(ColumnBridge.expression(col("v")), 8, scale)
        .toAggregateExpression())
    val twinAggs = count(col("v")).as("n") +: (0 until 8).flatMap { j =>
      val s = floor(get(col("v"), lit(j)).cast("double") * scale + lit(0.5))
      Seq(sum(s.bitwiseAND(lit(0xFFFFFFFFL))).as(s"lo$j"), sum(shiftright(s, 32)).as(s"hi$j"))
    }
    val native = d8.groupBy("g").agg(fps.as("fps")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val twin = d8.where(size(col("v")) === 8) // the twin's count must skip malformed too
      .groupBy("g").agg(twinAggs.head, twinAggs.tail: _*).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(native.keySet == twin.keySet && native.size == 3)
    for ((g, arr) <- native; t = twin(g)) {
      assert(arr(0) == t.getLong(t.fieldIndex("n")), s"count g=$g")
      for (j <- 0 until 8) {
        val nat = (BigInt(arr(1 + 2 * j)) << 32) + BigInt(arr(2 + 2 * j))
        val tw = (BigInt(t.getLong(t.fieldIndex(s"hi$j"))) << 32) +
          BigInt(t.getLong(t.fieldIndex(s"lo$j")))
        assert(nat == tw, s"g=$g dim=$j")
      }
    }
    // parallelism invariance of the exact integer sums
    val p1 = d8.repartition(1).groupBy("g").agg(fps.as("fps")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toList).toMap
    assert(p1 == native.map { case (k, v) => k -> v.toList })
  }

  test("kmeans: a never-winning duplicated centroid (ties go to the larger cell) carries over") {
    val base = vecs.take(3).map(_._2.map(_.toDouble).toSeq)
    // cell 0 duplicates cell 3's centroid: every tie resolves to cell 3,
    // so cell 0 is empty and must keep its seed verbatim
    val init = Seq(base(2)) ++ base
    val (cents, sizes) = Similarity.kmeans(df, "v", init, iters = 1)
    assert(cents(0) == base(2), "empty cluster centroid must carry over unchanged")
    assert(sizes(0) == 0L)
    assert(sizes.values.sum == vecs.size)
  }

  test("semanticDedup: planted twins collapse under the least-central-keep rule; guard trips") {
    val base = vecs.take(60)
    val exact = base.take(3).map { case (id, v) => (id + 1000L, v.clone()) }
    val scaled = base.slice(3, 6).map { case (id, v) => (id + 1000L, v.map(_ * 1.25f)) }
    val corpus = (base ++ exact ++ scaled).toDF("id", "v")
    val cents = vecs.take(5).map(_._2.map(_.toDouble).toSeq)
    val out = Similarity.semanticDedup(corpus, "id", "v", cents, minCosine = 0.97).collect()
    val byCluster = out.map(r => r.getLong(r.fieldIndex("cluster_id")) -> r).toMap
    assert(out.length == byCluster.size, "one row per cluster")
    // reference cell_sim per member, straight from the assignment pass
    val sim = Similarity.assignCentroid(corpus, "v", cents)
      .select(col("id"), col("cell_sim")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, _) <- exact ++ scaled) {
      val baseId = id - 1000L
      val g = byCluster(baseId)
      assert(g.getLong(g.fieldIndex("cluster_size")) == 2L, s"pair $baseId")
      val kept = g.getLong(g.fieldIndex("id"))
      // keep the member LEAST similar to its centroid; exact twins tie on
      // cell_sim bit-for-bit and fall to the smaller id
      val expected =
        if (sim(baseId) == sim(id)) baseId
        else if (sim(baseId) < sim(id)) baseId else id
      assert(kept == expected, s"pair $baseId kept $kept, expected $expected")
      assert(!byCluster.contains(id), "the twin id must not label a second cluster")
    }
    // untouched documents ride through as singletons
    val single = byCluster(30L)
    assert(single.getLong(single.fieldIndex("id")) == 30L &&
      single.getLong(single.fieldIndex("cluster_size")) == 1L)
    assert(out.length == 60 - 6 + 6) // 54 survivors + 6 kept representatives... = 60
    // the cell-pair guard aborts rather than run an unbounded quadratic join
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(corpus, "id", "v", cents, minCosine = 0.97, maxCellPairs = 1L)
    }
    assert(e.getMessage.contains("pairwise comparisons"))
    // width-aware default budget: ~2^36 multiply-adds, floored at 2^20
    // pairs; an explicit positive cap overrides
    assert(Similarity.cellPairBudget(64, 0L) == (1L << 30))
    assert(Similarity.cellPairBudget(1024, 0L) == (1L << 26))
    assert(Similarity.cellPairBudget(1 << 20, 0L) == (1L << 20)) // floor
    assert(Similarity.cellPairBudget(64, 12345L) == 12345L)
  }
}
