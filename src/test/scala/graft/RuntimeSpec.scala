package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{PagesGen, Store}
import graft.runtime.{Checkpoints, Lineage}
import graft.select.{AovStep, CorrStep, FittedSelector, SelectorStep}

class RuntimeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("DriverPool.boundedParallel: first failure skips unstarted items, awaits running ones") {
    import java.util.concurrent.ConcurrentLinkedQueue
    val started = new ConcurrentLinkedQueue[Int]
    @volatile var slowDone = false
    val err = intercept[IllegalStateException](
      graft.runtime.DriverPool.boundedParallel(0 until 10, 2) { i =>
        started.add(i)
        if (i == 0) { Thread.sleep(300); slowDone = true }
        if (i == 1) throw new IllegalStateException("item 1 failed")
        i
      })
    assert(err.getMessage == "item 1 failed")
    assert(slowDone, "the running item must finish before the failure is rethrown")
    assert(started.toArray.toSet == Set(0, 1), s"started: $started")
    assert(graft.runtime.DriverPool.boundedParallel(0 until 10, 3)(_ * 2) == (0 until 10).map(_ * 2))
  }

  test("checkpoint JSON round-trips exactly") {
    val f = FittedSelector(
      "step_select_infgain", "label",
      Seq("a" -> Some(0.123456789), "b" -> None, "c\"quoted" -> Some(-1.5e-8),
        "d" -> Some(Double.PositiveInfinity), "e" -> Some(Double.NegativeInfinity)),
      Seq("b", "c\"quoted"), Seq("warn: top_p clamped"))
    val json = Checkpoints.toJson(f, "file:/data/x.parquet")
    val back = Checkpoints.fromJson(json)
    assert(back == f)
    val nan = f.copy(scores = Seq("n" -> Some(Double.NaN)))
    assert(Checkpoints.fromJson(Checkpoints.toJson(nan, "")).scores.head._2.exists(_.isNaN))
  }

  test("checkpoint JSON round-trips commas, newlines, and control chars in strings") {
    // check_top_p's real warning contains a comma ("(1, n)"); a naive
    // comma-split parser corrupted the resumed warnings/excluded lists
    val f = FittedSelector(
      "step_select_corr_pearson", "y",
      Seq("a,b" -> Some(1.0), "k:v" -> None),
      Seq("a,b", "line\nbreak", "tab\there"),
      Seq("`top_p` should be on (1, 4) based on the number of terms (got 9)",
        "multi\nline ctl"))
    val back = Checkpoints.fromJson(Checkpoints.toJson(f, "x,y\nz"))
    assert(back == f)
  }

  test("corrupt/truncated checkpoint JSON throws (never fabricates state)") {
    val f = FittedSelector("s", "y", Seq("a" -> Some(1.0)), Seq("a"), Nil)
    val json = Checkpoints.toJson(f, "lineage")
    // truncations at various points must all throw so fitOrResume's
    // Try-refit fallback fires — a half document must never parse as
    // empty excluded/warnings
    Seq(json.take(20), json.take(json.indexOf("excluded")), json.dropRight(3), "{", "")
      .foreach { bad =>
        assert(scala.util.Try(Checkpoints.fromJson(bad)).isFailure, s"must reject: $bad")
      }
  }

  test("fitOrResume: killed after step 1 resumes with identical results") {
    val rng = new scala.util.Random(3)
    val df = spark.createDataFrame((0 until 200).map { _ =>
      val a = rng.nextGaussian(); val b = rng.nextGaussian(); val c = rng.nextGaussian()
      (a, b, c, a * 2 + b * 0.5 + rng.nextGaussian() * 0.1)
    }).toDF("a", "b", "c", "y")
    val steps: Seq[(SelectorStep, Seq[String])] = Seq(
      (CorrStep(topP = Some(2), method = "pearson"), Seq("a", "b", "c")),
      (CorrStep(topP = Some(1), method = "spearman"), Nil))

    val dir1 = java.nio.file.Files.createTempDirectory("ckpt-full").toString
    val full = Checkpoints.fitOrResume(spark, dir1, steps, df, "y", "test")

    // simulate a kill after step 0: fresh dir, run only step 0, then resume all
    val dir2 = java.nio.file.Files.createTempDirectory("ckpt-partial").toString
    Checkpoints.fitOrResume(spark, dir2, steps.take(1), df, "y", "test")
    val resumed = Checkpoints.fitOrResume(spark, dir2, steps, df, "y", "test")

    assert(full.map(_.scores) == resumed.map(_.scores))
    assert(full.map(_.excluded) == resumed.map(_.excluded))
    // resumed step 0 was NOT recomputed: file mtimes prove replay
    val f0 = java.nio.file.Paths.get(dir2, "step_000_step_select_corr_pearson.json")
    assert(java.nio.file.Files.exists(f0))
  }

  test("fitOrResume refits a step whose checkpoint belongs to another fit") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val rng = new scala.util.Random(5)
    def frame(noise: Double) = spark.createDataFrame((0 until 200).map { _ =>
      val a = rng.nextGaussian(); val b = rng.nextGaussian(); val c = rng.nextGaussian()
      (a, b, c, a * 2 + b * 0.5 + c * noise + rng.nextGaussian() * 0.1)
    }).toDF("a", "b", "c", "y")
    val df = frame(0.0)
    def steps(topP: Double): Seq[(SelectorStep, Seq[String])] =
      Seq((CorrStep(topP = Some(topP), method = "pearson"), Seq("a", "b", "c")))
    val dir = Files.createTempDirectory("ckpt-fp").toString
    val ck = Paths.get(dir, "step_000_step_select_corr_pearson.json")
    val first = Checkpoints.fitOrResume(spark, dir, steps(2), df, "y", "store-v1")
    assert(first.head.excluded == Seq("c") && first.head.warnings.isEmpty)

    // same fit: replayed, the checkpoint is not rewritten
    Files.setLastModifiedTime(ck, FileTime.fromMillis(1000000L))
    assert(Checkpoints.fitOrResume(spark, dir, steps(2), df, "y", "store-v1") == first)
    assert(Files.getLastModifiedTime(ck).toMillis == 1000000L, "a matching checkpoint replays")

    // changed topP: refit, with a warning on the step
    val topP1 = Checkpoints.fitOrResume(spark, dir, steps(1), df, "y", "store-v1")
    val fresh1 = CorrStep(topP = Some(1), method = "pearson").fit(df, "y", Seq("a", "b", "c"))
    assert(topP1.head.excluded == fresh1.excluded && topP1.head.scores == fresh1.scores)
    assert(topP1.head.warnings.exists(_.contains("refitted")), s"${topP1.head.warnings}")

    // changed lineage (a rewritten store): refit on the new input
    val df2 = frame(3.0)
    val moved = Checkpoints.fitOrResume(spark, dir, steps(1), df2, "y", "store-v2")
    val fresh2 = CorrStep(topP = Some(1), method = "pearson").fit(df2, "y", Seq("a", "b", "c"))
    assert(moved.head.scores == fresh2.scores, "a changed lineage must not replay the old scores")
    assert(moved.head.warnings.exists(_.contains("refitted")))
    // the refit (warning included) is what the next resume replays
    assert(Checkpoints.fitOrResume(spark, dir, steps(1), df2, "y", "store-v2") == moved)
  }

  test("a feature store rewritten with the same rows replays its checkpoints; a changed row refits") {
    import java.nio.file.Files
    val rng = new scala.util.Random(9)
    val feats = (0 until 200).map { i =>
      val a = rng.nextGaussian(); val b = rng.nextGaussian(); val c = rng.nextGaussian()
      (new java.sql.Timestamp((PagesGen.baseEpoch + i * 3600L) * 1000), a, b, c,
        a * 2 + b * 0.5 + rng.nextGaussian() * 0.1)
    }.toDF("label_ts", "a", "b", "c", "y")
    val steps: Seq[(SelectorStep, Seq[String])] = Seq(
      (CorrStep(topP = Some(2), method = "pearson"), Seq("a", "b", "c")),
      (CorrStep(topP = Some(1), method = "spearman"), Nil))
    val base = Files.createTempDirectory("ckpt-lineage").toString
    val store = s"$base/features"
    // RunPipeline's step 5: write the store, then fit it resumably with the
    // store's metrics lineage and, for contrast, a file-name lineage
    def writeAndFit(df: org.apache.spark.sql.DataFrame): (Seq[FittedSelector], Seq[FittedSelector]) = {
      Store.writeFeatures(df, store)
      val stored = spark.read.parquet(store).select("a", "b", "c", "y")
      (Checkpoints.fitOrResume(spark, s"$base/by-metrics", steps, stored, "y",
        lineage = Store.featureLineage(spark, store)),
        Checkpoints.fitOrResume(spark, s"$base/by-files", steps, stored, "y",
          lineage = Lineage.inputFiles(stored).take(3).mkString(",")))
    }
    def refitted(fs: Seq[FittedSelector]) = fs.map(_.warnings.exists(_.contains("another fit")))
    val (first, _) = writeAndFit(feats)
    assert(first.forall(_.warnings.isEmpty))
    val (again, againByFiles) = writeAndFit(feats.repartition(3))
    assert(again == first, "the same rows, rewritten, must replay every step")
    assert(refitted(againByFiles) == Seq(true, true), "each write names its files anew")
    val (moved, _) = writeAndFit(feats.withColumn("y",
      when(col("label_ts") === feats.head().getTimestamp(0), col("y") + 1).otherwise(col("y"))))
    assert(refitted(moved) == Seq(true, true), s"one changed row must refit: ${moved.map(_.warnings)}")
  }

  test("fitOrResume replays an infinite score; an unreadable checkpoint refits with a warning") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    // a factor that separates y exactly: p underflows to 0, so the AOV
    // score is -log10(0) = Infinity
    val df = (0 until 60).map(i => (s"g${i % 3}", (i % 3) * 10.0 + (i % 2) * 0.5))
      .toDF("g", "y")
    val steps: Seq[(SelectorStep, Seq[String])] = Seq((AovStep(topP = Some(1)), Seq("g")))
    val dir = Files.createTempDirectory("ckpt-inf").toString
    val ck = Paths.get(dir, "step_000_step_select_aov.json")
    val first = Checkpoints.fitOrResume(spark, dir, steps, df, "y")
    assert(first.head.scores == Seq("g" -> Some(Double.PositiveInfinity)), s"${first.head.scores}")

    Files.setLastModifiedTime(ck, FileTime.fromMillis(1000000L))
    assert(Checkpoints.fitOrResume(spark, dir, steps, df, "y") == first)
    assert(Files.getLastModifiedTime(ck).toMillis == 1000000L, "an infinite score must replay")

    Files.writeString(ck, Files.readString(ck).dropRight(5))
    val refit = Checkpoints.fitOrResume(spark, dir, steps, df, "y")
    assert(refit.head.scores == first.head.scores)
    assert(refit.head.warnings.exists(_.contains("unreadable")), s"${refit.head.warnings}")
  }

  test("partition metrics: digests are order-insensitive and detect change") {
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
    val d1 = Lineage.contentDigest(df)
    val d2 = Lineage.contentDigest(df.orderBy(desc("id")))
    assert(d1 == d2, "content digest must not depend on row order")
    val d3 = Lineage.contentDigest(df.withColumn("v", col("v") + 1))
    assert(d1 != d3)
    val byDt = df.withColumn("dt", col("v"))
    val pm = Lineage.partitionMetrics(byDt.repartition(4, col("id")), Seq("id"))
    assert(pm.agg(sum("n_rows")).head().getLong(0) == 1000L)
    assert(pm.count() == 7, "one row per dt value")
    assert(pm.collect().toSet == Lineage.partitionMetrics(byDt.repartition(1), Seq("id")).collect().toSet,
      "metrics must not depend on the frame's partitioning")
  }

  test("byte-identity guard flags a corrupted url and passes clean data") {
    val pages = graft.core.PagesGen.pages(spark, 1000, 100)
    assert(Lineage.textIdentityViolations(pages, "url", "text").count() == 0)
    val corrupted = pages.union(
      pages.limit(1).withColumn("text", concat(col("text"), lit("TAMPERED"))))
    assert(Lineage.textIdentityViolations(corrupted, "url", "text").count() == 1)
  }

  test("hot-key alarm trips on a 90%-one-url table and passes balanced data") {
    import spark.implicits._
    // 90% of rows share one url — the order-dependent window killer
    val skewed = (0 until 1000).map(i =>
      (if (i < 900) "http://hot" else s"http://u$i", i.toLong)).toDF("url", "v")
    val hot = Lineage.hotKeys(skewed, "url", maxRows = 500).collect()
    assert(hot.length == 1 && hot.head.getString(0) == "http://hot" && hot.head.getLong(1) == 900L)
    val err = intercept[IllegalStateException](
      Lineage.requireNoHotKeys(skewed, "url", maxRows = 500))
    assert(err.getMessage.contains("http://hot") && err.getMessage.contains("900"))
    // balanced synthetic pages pass the same gate
    val pages = graft.core.PagesGen.pages(spark, 1000, 100)
    assert(Lineage.hotKeys(pages, "url", maxRows = 500).count() == 0)
    Lineage.requireNoHotKeys(pages, "url", maxRows = 500) // must not throw
  }

  test("CacheHandle: repeated dedup/similarity calls leave no persistent RDDs behind") {
    import graft.runtime.CacheHandle
    import graft.text.Dedup
    import graft.sim.Similarity
    val docs = (0L until 200L).map(i => (i, s"alpha beta w${i % 40} gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val rng = new scala.util.Random(3)
    val vecs = (0L until 100L).map(i => (i, Array.fill(16)(rng.nextFloat())))
      .toDF("vec_id", "embedding")
    val planes = Similarity.hyperplanes(16, 16)
    val roc = Seq((1.0, 4.0, "a"), (2.0, 3.0, "b"), (3.0, 2.0, "a"), (4.0, 1.0, "b"))
      .toDF("x1", "x2", "y")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (0 until 2).foreach { _ =>
      val h = new CacheHandle
      try {
        Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, handle = h).count()
        Dedup.minHashCandidates(
          Dedup.minHashSignatures(docs, "doc_id", "text", 3, 8), "doc_id", 4, 2, h).count()
        Dedup.simHashCandidates(
          Dedup.simHash(docs, "doc_id", "text"), "doc_id", handle = h).count()
        Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", planes, 0.9,
          bands = 4, handle = h).count()
        graft.text.LmScore.charBigramScore(docs, "doc_id", "text", h).count()
        Dedup.dedupLines(docs, "doc_id", "text", maxCount = 1, handle = h).count()
        Dedup.duplicateSpans(docs, "doc_id", "text", k = 3, handle = h).count()
        Dedup.resolveClusters(
          Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b", handle = h).count()
        graft.select.RocStep(topP = Some(1)).fit(roc, "y", Nil)
      } finally h.release()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"released handles must unpersist every tracked cache: $leaked")
  }

  test("image resize: deterministic nearest-neighbor thumbnails, aspect fit, passthrough") {
    import graft.multimodal.BinaryFeatures
    // 8x4 source: left half red, right half blue
    val src = new java.awt.image.BufferedImage(8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8) src.setRGB(x, y, if (x < 4) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", bos)
    val bytes = bos.toByteArray
    val (png1, w, h) = BinaryFeatures.resizeImage(bytes, 4, 4).get
    assert((w, h) == ((4, 2)), "aspect-preserving fit inside 4x4")
    val timg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png1))
    assert((timg.getWidth, timg.getHeight) == ((4, 2)))
    assert((timg.getRGB(0, 0) & 0xffffff) == 0xff0000, "nearest-neighbor keeps exact colors")
    assert((timg.getRGB(3, 1) & 0xffffff) == 0x0000ff)
    // bit-deterministic: same input, same PNG bytes
    assert(BinaryFeatures.resizeImage(bytes, 4, 4).get._1.toSeq == png1.toSeq)
    // never upscales
    assert(BinaryFeatures.resizeImage(bytes, 100, 100).get match { case (_, w2, h2) => (w2, h2) == ((8, 4)) })
    // Dataset op: corrupt payloads pass through losslessly
    val ds = spark.createDataset(Seq(
      BinaryFeatures.MediaRow(1, bytes), BinaryFeatures.MediaRow(2, Array[Byte](1, 2, 3))))
    val got = BinaryFeatures.thumbnails(spark, ds, 4, 4).collect().sortBy(_.id)
    assert(got(0).resized && got(0).width == 4 && got(0).height == 2)
    assert(!got(1).resized && got(1).png.toSeq == Seq[Byte](1, 2, 3))
  }

  test("media decode plumbing: magic-byte sniffing + stable stub features") {
    import graft.multimodal.BinaryFeatures
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 1, 2, 3)
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    val html = "<html><body>x</body></html>".getBytes("UTF-8")
    val ds = spark.createDataset(Seq(
      BinaryFeatures.MediaRow(1, jpeg), BinaryFeatures.MediaRow(2, png),
      BinaryFeatures.MediaRow(3, html)))
    val got = BinaryFeatures.decodeFeatures(spark, ds).collect().sortBy(_.id)
    assert(got.map(_.format).toSeq == Seq("jpeg", "png", "html"))
    assert(got.forall(r => r.n_bytes > 0 && r.width >= 64 && r.mean_luma >= 0 && r.mean_luma <= 1))
    // determinism
    val again = BinaryFeatures.decodeFeatures(spark, ds).collect().sortBy(_.id)
    assert(got.toSeq == again.toSeq)
    // Column-expression sniffer agrees with the partition-side sniffer
    val viaCol = ds.toDF().select(BinaryFeatures.containerFormat(col("bytes"))).collect()
      .map(_.getString(0)).sorted
    assert(viaCol.toSeq == got.map(_.format).sorted.toSeq)
  }

  private def le16(v: Int): Seq[Byte] = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Seq[Byte] =
    Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff).map(_.toByte)

  test("REAL bmp decode: exact dimensions and BT.601 mean luma from raw pixels") {
    import graft.multimodal.BinaryFeatures
    // 2x2 24-bit BMP: bottom row white+black, top row red+blue; rows pad to 4
    val pixels = Seq[Byte](
      -1, -1, -1, 0, 0, 0, 0, 0, // white, black, pad
      0, 0, -1, -1, 0, 0, 0, 0   // red (BGR), blue (BGR), pad
    )
    val bmp = ("BM".getBytes("US-ASCII").toSeq ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(16) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ pixels).toArray
    val got = BinaryFeatures.decodeBmp(bmp).get
    assert(got._1 == 2 && got._2 == 2)
    val wantLuma = (255.0 + 0.0 + 0.299 * 255 + 0.114 * 255) / 4 / 255
    assert(math.abs(got._3 - wantLuma) < 1e-9)
    // end-to-end through the batch decoder: decoded = "real"
    val ds = spark.createDataset(Seq(BinaryFeatures.MediaRow(1, bmp)))
    val f = BinaryFeatures.decodeFeatures(spark, ds).collect().head
    assert(f.format == "bmp" && f.decoded == "real" && f.width == 2 && f.height == 2)
    assert(math.abs(f.mean_luma - wantLuma) < 1e-9)
  }

  test("REAL jpeg/png/gif decode via the JDK's ImageIO: known tiny images round-trip") {
    import graft.multimodal.BinaryFeatures
    // 2x1 image: one white pixel, one black pixel -> mean luma exactly 0.5
    val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff); img.setRGB(1, 0, 0x000000)
    def encode(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = encode("png"); val gif = encode("gif"); val jpg = encode("jpg")
    // png/gif are lossless: exact dims and exact luma
    Seq("png" -> png, "gif" -> gif).foreach { case (name, bytes) =>
      val (w, h, luma) = BinaryFeatures.decodeImageIO(bytes).get
      assert(w == 2 && h == 1, name)
      assert(math.abs(luma - 0.5) < 1e-9, s"$name luma=$luma")
    }
    // jpeg is lossy: exact dims, luma within compression tolerance
    val (jw, jh, jluma) = BinaryFeatures.decodeImageIO(jpg).get
    assert(jw == 2 && jh == 1)
    assert(math.abs(jluma - 0.5) < 0.05, s"jpeg luma=$jluma")
    // end-to-end through the batch decoder: decoded = "real", formats sniffed
    val ds = spark.createDataset(Seq(
      BinaryFeatures.MediaRow(1, png), BinaryFeatures.MediaRow(2, gif),
      BinaryFeatures.MediaRow(3, jpg)))
    val got = BinaryFeatures.decodeFeatures(spark, ds).collect().sortBy(_.id)
    assert(got.map(_.format).toSeq == Seq("png", "gif", "jpeg"))
    assert(got.forall(_.decoded == "real"), got.map(r => r.format -> r.decoded).mkString(","))
    assert(got.forall(r => r.width == 2 && r.height == 1))
    // a TRUNCATED png (valid magic, corrupt body) must fall back to the
    // stub, not fail the task
    val corrupt = png.take(12)
    val fb = BinaryFeatures.decodeFeatures(
      spark, spark.createDataset(Seq(BinaryFeatures.MediaRow(9, corrupt)))).collect().head
    assert(fb.format == "png" && fb.decoded == "stub")
  }

  test("REAL mp4 container metadata: mvhd duration + tkhd dimensions from a crafted BMFF") {
    import graft.multimodal.BinaryFeatures
    def be32(v: Long): Seq[Byte] =
      Seq((v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff).map(_.toByte)
    def box(name: String, payload: Seq[Byte]): Seq[Byte] =
      be32(8 + payload.length) ++ name.getBytes("US-ASCII").toSeq ++ payload
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII").toSeq ++ be32(0))
    // mvhd v0 (truncated after duration): timescale 1000, duration 90000 -> 90 s
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(90000))
    // tkhd v0: width/height live at payload offsets 76/80 as 16.16 fixed
    val tkhdPayload = Seq.fill(76)(0.toByte) ++ be32(640L << 16) ++ be32(360L << 16)
    val trak = box("trak", box("tkhd", tkhdPayload))
    val mp4 = (ftyp ++ box("moov", mvhd ++ trak)).toArray
    val (dur, w, h) = BinaryFeatures.decodeMp4Meta(mp4).get
    assert(dur == 90.0 && w == 640 && h == 360, s"($dur, $w, $h)")
    // end-to-end: decoded = "meta" (container metadata real, frames stubbed)
    val f = BinaryFeatures.decodeFeatures(
      spark, spark.createDataset(Seq(BinaryFeatures.MediaRow(4, mp4)))).collect().head
    assert(f.format == "mp4" && f.decoded == "meta")
    assert(f.duration_s == 90.0 && f.width == 640 && f.height == 360)
    // corrupt box size: clean None, no hang
    val evil = mp4.clone()
    // overwrite moov's first child box size with 0xFFFFFFFF
    val moovOff = ftyp.length
    be32(0xffffffffL).zipWithIndex.foreach { case (b, i) => evil(moovOff + 8 + i) = b }
    assert(BinaryFeatures.decodeMp4Meta(evil).isEmpty)
    // a TRUNCATED version-1 mvhd (28-byte payload where the layout needs 32)
    // must return None, not read past the buffer
    val mvhdV1Short = box("mvhd",
      Seq[Byte](1, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(1000))
    val shortMp4 = (ftyp ++ box("moov", mvhdV1Short)).toArray
    assert(BinaryFeatures.decodeMp4Meta(shortMp4).isEmpty)
  }

  test("crafted media payloads cannot hang or crash the decoders") {
    import graft.multimodal.BinaryFeatures
    // a negative RIFF chunk size used to make the chunk-walk step
    // non-positive — the executor task would spin forever
    val evilWav = ("RIFF".getBytes("US-ASCII").toSeq ++ le32(100) ++
      "WAVE".getBytes("US-ASCII").toSeq ++
      "junk".getBytes("US-ASCII").toSeq ++ le32(-8) ++ Seq.fill(32)(0.toByte)).toArray
    assert(BinaryFeatures.decodeWav(evilWav).isEmpty)
    // a huge POSITIVE chunk size used to overflow the Int cursor to negative
    // and index out of bounds
    val evilWav2 = ("RIFF".getBytes("US-ASCII").toSeq ++ le32(100) ++
      "WAVE".getBytes("US-ASCII").toSeq ++
      "junk".getBytes("US-ASCII").toSeq ++ le32(0x7ffffff0) ++ Seq.fill(32)(0.toByte)).toArray
    assert(BinaryFeatures.decodeWav(evilWav2).isEmpty)
    // but a TRUNCATED final data chunk (interrupted download: declared size
    // exceeds the bytes present) must still decode the available prefix
    val samples = Seq(16384, -16384)
    val data = samples.flatMap(le16)
    val truncated = ("RIFF".getBytes("US-ASCII").toSeq ++ le32(36 + 1000) ++
      "WAVE".getBytes("US-ASCII").toSeq ++
      "fmt ".getBytes("US-ASCII").toSeq ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII").toSeq ++ le32(1000) ++ data).toArray
    val got = BinaryFeatures.decodeWav(truncated)
    assert(got.exists(g => g._1 == 8000 && g._2 == 2L), s"prefix decodes: $got")
    // a huge width used to overflow w*3 to a negative Int row stride, pass
    // the bounds guard, and throw ArrayIndexOutOfBounds in the pixel loop
    val evilBmp = ("BM".getBytes("US-ASCII").toSeq ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(0x40000000) ++ le32(1) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ Seq.fill(16)(0.toByte)).toArray
    assert(BinaryFeatures.decodeBmp(evilBmp).isEmpty)
  }

  test("REAL wav decode: PCM16 sample stats from the data chunk") {
    import graft.multimodal.BinaryFeatures
    val samples = Seq(16384, -16384, 32767, 0)
    val data = samples.flatMap(le16)
    val wav = ("RIFF".getBytes("US-ASCII").toSeq ++ le32(36 + data.length) ++
      "WAVE".getBytes("US-ASCII").toSeq ++
      "fmt ".getBytes("US-ASCII").toSeq ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII").toSeq ++ le32(data.length) ++ data).toArray
    val got = BinaryFeatures.decodeWav(wav).get
    assert(got._1 == 8000 && got._2 == 4L)
    val wantAmp = (16384.0 + 16384 + 32767 + 0) / 4 / 32768
    assert(math.abs(got._3 - wantAmp) < 1e-12)
    val ds = spark.createDataset(Seq(BinaryFeatures.MediaRow(2, wav)))
    val f = BinaryFeatures.decodeFeatures(spark, ds).collect().head
    assert(f.format == "wav" && f.decoded == "real")
    assert(f.sample_rate == 8000 && f.n_samples == 4L)
    assert(math.abs(f.mean_amplitude - wantAmp) < 1e-12)
  }
}
