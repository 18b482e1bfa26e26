package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video treated as opaque `binary` columns
  * with typed metadata. The Spark-side plumbing — schema, partitioning,
  * batch iteration shape, container-format sniffing — is real everywhere.
  * The DECODE is real for every image format the JDK ships a codec for:
  * jpeg/png/gif via `javax.imageio` (zero external dependencies), plus
  * pure-JVM parsers for the uncompressed formats (24-bit BMP, 16-bit PCM
  * WAV) and for ISO-BMFF (mp4) container METADATA (duration, track
  * dimensions — `decoded = "meta"`). Only frame/sample DATA of codec-bound
  * containers (mp4 frames, mp3) falls to the clearly-marked deterministic
  * stub — swap [[StubCodec.decodeImage]] for a real codec (e.g. JavaCV)
  * without touching the plumbing.
  */
object BinaryFeatures {

  // ImageIO's default ImageInputStream spills to a disk-backed cache per
  // read — pure overhead for in-memory byte arrays on an executor
  javax.imageio.ImageIO.setUseCache(false)

  /** REAL decoder for the JDK-codec formats (jpeg/png/gif): full pixel
    * decode via javax.imageio, then exact BT.601 mean luma over the ARGB
    * raster. Returns None on corrupt/unsupported payloads (the caller falls
    * back to the stub, never fails the task). */
  def decodeImageIO(b: Array[Byte]): Option[(Int, Int, Double)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val w = img.getWidth; val h = img.getHeight
        var sum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val bl = rgb & 0xff
            sum += 0.299 * r + 0.587 * g + 0.114 * bl
            x += 1
          }
          y += 1
        }
        Some((w, h, sum / (w.toLong * h) / 255.0))
      }
    } catch { case _: Exception => None }

  /** Container sniffing from magic bytes — REAL (these are the published
    * file signatures), pure Column expr, codegen-eligible. */
  def containerFormat(bytes: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = hex(substring(bytes, 1, 12))
    when(h.startsWith("FFD8FF"), "jpeg")
      .when(h.startsWith("89504E47"), "png")
      .when(h.startsWith("47494638"), "gif")
      .when(h.startsWith("424D"), "bmp")
      .when(h.startsWith("52494646") && substring(h, 17, 8) === "57415645", "wav")
      .when(substring(h, 9, 8) === "66747970", "mp4")
      .when(h.startsWith("3C68746D6C") || h.startsWith("3C21444F43") || h.startsWith("3C485454"), "html")
      .otherwise("unknown")
  }

  final case class MediaRow(id: Long, bytes: Array[Byte])
  final case class MediaFeatures(
      id: Long,
      n_bytes: Long,
      format: String,
      content_hash: Long,
      width: Int,            // image decode (REAL for bmp; stub otherwise)
      height: Int,
      mean_luma: Double,     // BT.601 luma in [0,1]
      sample_rate: Int,      // audio decode (REAL for wav/pcm16; 0 otherwise)
      n_samples: Long,
      mean_amplitude: Double, // mean |sample| / 32768 in [0,1]
      decoded: String,       // "real" | "meta" (container metadata only) | "stub"
      duration_s: Double = 0.0 // mp4 mvhd duration/timescale (container metadata)
  )

  /** REAL decoder: uncompressed 24-bit BMP (BITMAPINFOHEADER, no
    * compression). Returns (width, height, mean BT.601 luma in [0,1]). */
  def decodeBmp(b: Array[Byte]): Option[(Int, Int, Double)] = {
    def le32(i: Int): Int =
      (b(i) & 0xff) | (b(i + 1) & 0xff) << 8 | (b(i + 2) & 0xff) << 16 | (b(i + 3) & 0xff) << 24
    def le16(i: Int): Int = (b(i) & 0xff) | (b(i + 1) & 0xff) << 8
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val off = le32(10); val w = le32(18); val hRaw = le32(22)
    val bpp = le16(28); val comp = le32(30)
    if (w <= 0 || hRaw == 0 || bpp != 24 || comp != 0) return None
    val h = math.abs(hRaw)
    // row stride in Long: a crafted header with huge w would overflow w*3 to
    // a negative Int stride, sneak past the bounds guard, and crash the task
    val rowBytes = ((w.toLong * 3 + 3) / 4) * 4
    if (off < 0 || off.toLong + rowBytes * h > b.length) return None
    var sum = 0.0
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        val p = (off + r * rowBytes + c * 3).toInt // bounded by b.length above
        val bl = b(p) & 0xff; val g = b(p + 1) & 0xff; val rd = b(p + 2) & 0xff
        sum += 0.299 * rd + 0.587 * g + 0.114 * bl
        c += 1
      }
      r += 1
    }
    Some((w, h, sum / (w.toLong * h) / 255.0))
  }

  /** REAL decoder: RIFF/WAVE with 16-bit PCM. Walks the chunk list for
    * "fmt " and "data". Returns (sampleRate, nSamples, mean |amplitude| in
    * [0,1]). */
  def decodeWav(b: Array[Byte]): Option[(Int, Long, Double)] = {
    def le32(i: Int): Int =
      (b(i) & 0xff) | (b(i + 1) & 0xff) << 8 | (b(i + 2) & 0xff) << 16 | (b(i + 3) & 0xff) << 24
    def le16(i: Int): Int = (b(i) & 0xff) | (b(i + 1) & 0xff) << 8
    def tag(i: Int): String = new String(b.slice(i, i + 4), "US-ASCII")
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    var sampleRate = -1; var bits = -1; var fmtCode = -1
    var dataOff = -1; var dataLen = -1
    while (i + 8 <= b.length && (sampleRate < 0 || dataOff < 0)) {
      val id = tag(i); val sz = le32(i + 4)
      // a crafted/corrupt chunk size must not stall or crash the walk:
      // negative sizes would stop the cursor advancing (task wedged forever)
      if (sz < 0) return None
      if (id == "fmt " && i + 24 <= b.length) {
        fmtCode = le16(i + 8); sampleRate = le32(i + 12); bits = le16(i + 22)
      } else if (id == "data") {
        dataOff = i + 8; dataLen = math.min(sz, b.length - dataOff)
      }
      // advance in Long: a huge positive size would overflow the Int cursor
      // to negative and index out of bounds. A declared size running past
      // the buffer is TOLERATED as the final chunk (truncated downloads are
      // decodable prefixes — dataLen above already clamps), it just ends
      // the walk.
      val next = i.toLong + 8L + sz + (sz & 1) // chunks are word-aligned
      if (next > b.length) i = b.length else i = next.toInt
    }
    if (fmtCode != 1 || bits != 16 || sampleRate <= 0 || dataOff < 0 || dataLen < 2) return None
    val n = dataLen / 2
    var sum = 0.0
    var s = 0
    while (s < n) {
      val v = (le16(dataOff + 2 * s) << 16) >> 16 // sign-extend int16
      sum += math.abs(v.toDouble)
      s += 1
    }
    Some((sampleRate, n.toLong, sum / n / 32768.0))
  }

  /** REAL parser: ISO BMFF (mp4/mov) container METADATA — walks the
    * top-level box list to `moov`, then `moov`'s children for `mvhd`
    * (timescale + duration, version 0 and 1 layouts) and each `trak`'s
    * `tkhd` (16.16 fixed-point presentation width/height; the max across
    * tracks wins). Returns (durationSeconds, width, height). Frame DECODE
    * still requires a codec the JVM does not ship — only the demux-level
    * metadata is real; see [[StubCodec]] for the frame-stat stub. Malformed
    * box sizes abort cleanly (never hang: the cursor must strictly
    * advance). */
  def decodeMp4Meta(b: Array[Byte]): Option[(Double, Int, Int)] = {
    def be32(i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) | ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int): String = new String(b.slice(i, i + 4), "US-ASCII")
    if (b.length < 16 || tag(4) != "ftyp") return None

    // find a child box by type inside [from, to); returns (payloadStart, payloadEnd)
    def findBox(name: String, from: Int, to: Int): Option[(Int, Int)] = {
      var i = from
      while (i + 8 <= to) {
        val sz0 = be32(i)
        val (hdr, sz) =
          if (sz0 == 1L && i + 16 <= to) (16, be64(i + 8))
          else if (sz0 == 0L) (8, (to - i).toLong) // box extends to the end
          else (8, sz0)
        if (sz < hdr || i + sz > to) return None // corrupt size: stop, don't spin
        if (tag(i + 4) == name) return Some((i + hdr, i + sz.toInt))
        i += sz.toInt
      }
      None
    }

    findBox("moov", 0, b.length).flatMap { case (moovS, moovE) =>
      findBox("mvhd", moovS, moovE).flatMap { case (s, e) =>
        if (e - s < 4) None
        else {
          val version = b(s) & 0xff
          // v1 layout: 4 ver/flags + 8 creation + 8 modification + 4
          // timescale + 8 duration = 32 bytes — be64(s+24) reads s..s+31
          val (timescale, duration) =
            if (version == 1 && e - s >= 32) (be32(s + 20), be64(s + 24))
            else if (version == 0 && e - s >= 20) (be32(s + 12), be32(s + 16))
            else (0L, 0L)
          if (timescale <= 0) None
          else {
            // max presentation width/height across tracks (16.16 fixed)
            var w = 0; var h = 0
            var cursor = moovS
            var continue = true
            while (continue) {
              findBox("trak", cursor, moovE) match {
                case Some((ts, te)) =>
                  findBox("tkhd", ts, te).foreach { case (ks, ke) =>
                    val v = b(ks) & 0xff
                    // v0: 4 ver/flags + 4 c + 4 m + 4 id + 4 res + 4 dur +
                    // 8 res + 2+2+2+2 + 36 matrix = 76; v1 widens c/m/dur +12
                    val whOff = ks + (if (v == 1) 88 else 76)
                    if (whOff + 8 <= ke) {
                      w = math.max(w, (be32(whOff) >> 16).toInt)
                      h = math.max(h, (be32(whOff + 4) >> 16).toInt)
                    }
                  }
                  cursor = te
                case None => continue = false
              }
            }
            Some((duration.toDouble / timescale, w, h))
          }
        }
      }
    }
  }

  /** ====== STUB ====== deterministic fake decoder for frame/sample DATA in
    * formats with no JVM codec (mp4 frames, mp3) and for corrupt image
    * payloads: derives pseudo dimensions/luma from a content hash. Replace
    * with a real codec; the signature (bytes in, small typed struct out) is
    * the contract. */
  object StubCodec {
    def decodeImage(bytes: Array[Byte]): (Int, Int, Double) = {
      var h = 1125899906842597L
      var i = 0
      while (i < math.min(bytes.length, 256)) { h = 31 * h + bytes(i); i += 1 }
      val w = 64 + math.floorMod(h, 1024).toInt
      val ht = 64 + math.floorMod(h >> 16, 1024).toInt
      val luma = math.floorMod(h >> 32, 256).toDouble / 255.0
      (w, ht, luma)
    }
  }

  /** Per-partition batch decode — the mapInPandas analogue on the typed
    * Dataset API: one iterator pass per partition, no per-row task setup,
    * decode parallelism = partition parallelism. Metadata features
    * (n_bytes, format via magic bytes, content hash) are REAL for every
    * format; jpeg/png/gif rows get REAL pixel statistics via the JDK's
    * ImageIO codecs, bmp/wav via the pure-JVM parsers; only codec-less
    * containers (mp4) and corrupt payloads fall back to the stub codec
    * (marked `decoded = "stub"`). */
  def decodeFeatures(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { row =>
        val fmt = sniff(row.bytes)
        var h = 1125899906842597L
        var i = 0
        while (i < row.bytes.length) { h = 31 * h + row.bytes(i); i += 1 }
        val img = fmt match {
          case "bmp"                  => decodeBmp(row.bytes)
          case "jpeg" | "png" | "gif" => decodeImageIO(row.bytes)
          case _                      => None
        }
        val wav = if (fmt == "wav") decodeWav(row.bytes) else None
        val mp4 = if (fmt == "mp4") decodeMp4Meta(row.bytes) else None
        (img, wav, mp4) match {
          case (Some((w, ht, luma)), _, _) =>
            MediaFeatures(row.id, row.bytes.length.toLong, fmt, h, w, ht, luma, 0, 0L, 0.0, "real")
          case (_, Some((sr, n, amp)), _) =>
            MediaFeatures(row.id, row.bytes.length.toLong, fmt, h, 0, 0, 0.0, sr, n, amp, "real")
          case (_, _, Some((dur, w, ht))) => // demux metadata real, frames undecoded
            MediaFeatures(row.id, row.bytes.length.toLong, fmt, h, w, ht, 0.0, 0, 0L, 0.0, "meta", dur)
          case _ =>
            val (w, ht, luma) = StubCodec.decodeImage(row.bytes)
            MediaFeatures(row.id, row.bytes.length.toLong, fmt, h, w, ht, luma, 0, 0L, 0.0, "stub")
        }
      }
    }
  }

  private def sniff(b: Array[Byte]): String = {
    def at(i: Int) = if (i < b.length) b(i) & 0xff else -1
    if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) "jpeg"
    else if (at(0) == 0x89 && at(1) == 0x50 && at(2) == 0x4e && at(3) == 0x47) "png"
    else if (at(0) == 0x47 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x38) "gif"
    else if (at(0) == 0x42 && at(1) == 0x4d) "bmp"
    else if (at(0) == 0x52 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x46 &&
      at(8) == 0x57 && at(9) == 0x41 && at(10) == 0x56 && at(11) == 0x45) "wav"
    else if (at(4) == 0x66 && at(5) == 0x74 && at(6) == 0x79 && at(7) == 0x70) "mp4"
    else if (at(0) == '<') "html"
    else "unknown"
  }

  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, (v >> 24) & 0xff).map(_.toByte)

  /** Deterministic synthetic media payload so the decode pipeline can be
    * exercised end-to-end without external codec fixtures: id mod 4 selects
    * a PCM16 WAV (8 samples derived from the id), a 2×2 24-bit BMP (pixels
    * derived from the id), a 2×2 PNG (ImageIO-encoded, pixels derived from
    * the id — exercises the REAL JDK codec path), or the raw text bytes
    * (stub/sniff path). */
  def syntheticMedia(id: Long, text: String): Array[Byte] = (id % 4) match {
    case 0 =>
      val samples = (0 until 8).map(i => (((id * 131 + i * 2654435761L) % 65536) - 32768).toInt)
      val data = samples.flatMap(le16).toArray
      "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++ "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
        le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
        "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    case 1 =>
      val px = (0 until 4).map(i => ((id * 2654435761L + i * 40503) % 256).toInt)
      val pixels = Array(
        px(0), px(1), px(2), px(3), px(0), px(1), 0, 0, // row 0 (BGR,BGR,pad)
        px(2), px(3), px(0), px(1), px(2), px(3), 0, 0 // row 1
      ).map(_.toByte)
      "BM".getBytes("US-ASCII") ++ le32(70) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++ le32(16) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ pixels
    case 2 =>
      val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 4).foreach { i =>
        img.setRGB(i % 2, i / 2, math.floorMod(id * 2654435761L + i * 40503, 0x1000000L).toInt)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    case _ => text.getBytes("UTF-8")
  }

  /** Deterministic image resize: decode via the JDK codecs (jpeg/png/gif/
    * bmp — ImageIO carries a native BMP reader too), NEAREST-NEIGHBOR
    * downsample to fit inside `maxW`×`maxH` preserving aspect (never
    * upscales), re-encode as PNG. The sampling loop is hand-rolled integer
    * arithmetic (`sx = x·srcW/dstW`), NOT `getScaledInstance`, so the
    * output raster is bit-deterministic across JVMs/platforms — the same
    * property every other operator here guarantees. Alpha is composited
    * away (opaque RGB) so the PNG payload is a pure pixel function.
    * Returns None on corrupt/unsupported payloads (caller keeps the
    * original row — a resize gate must never fail the pipeline). */
  def resizeImage(b: Array[Byte], maxW: Int, maxH: Int): Option[(Array[Byte], Int, Int)] = {
    require(maxW >= 1 && maxH >= 1, "target box must be at least 1x1")
    try {
      val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (src == null || src.getWidth <= 0 || src.getHeight <= 0) None
      else {
        val scale = math.min(1.0,
          math.min(maxW.toDouble / src.getWidth, maxH.toDouble / src.getHeight))
        val w = math.max(1, math.floor(src.getWidth * scale + 0.5).toInt)
        val h = math.max(1, math.floor(src.getHeight * scale + 0.5).toInt)
        val dst = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          val sy = math.min(src.getHeight - 1, (y.toLong * src.getHeight / h).toInt)
          var x = 0
          while (x < w) {
            val sx = math.min(src.getWidth - 1, (x.toLong * src.getWidth / w).toInt)
            dst.setRGB(x, y, src.getRGB(sx, sy) | 0xff000000)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        Some((bos.toByteArray, w, h))
      }
    } catch { case _: Exception => None }
  }

  final case class Thumbnail(id: Long, png: Array[Byte], width: Int, height: Int, resized: Boolean)

  /** Per-partition batch thumbnailing — the resize stage of a multimodal
    * curation pipeline, same plumbing shape as [[decodeFeatures]] (one
    * iterator pass per partition, decode parallelism = partition
    * parallelism; repartition upstream to spread decode cost). Rows whose
    * payload does not decode are emitted with the ORIGINAL bytes and
    * `resized = false` — lossless passthrough, the downstream table never
    * loses a document to a bad image. */
  def thumbnails(spark: SparkSession, media: Dataset[MediaRow], maxW: Int, maxH: Int): Dataset[Thumbnail] = {
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { row =>
        resizeImage(row.bytes, maxW, maxH) match {
          case Some((png, w, h)) => Thumbnail(row.id, png, w, h, resized = true)
          case None              => Thumbnail(row.id, row.bytes, 0, 0, resized = false)
        }
      }
    }
  }
}
