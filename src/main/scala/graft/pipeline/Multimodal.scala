package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators: image/audio/video as opaque `BinaryType`
  * columns plus a typed metadata struct. Image decode, pixel-statistics
  * feature extraction and resize are REAL — `javax.imageio` ships in
  * every JDK, so PNG/JPEG/GIF/BMP decode needs no external dependency.
  * The Spark-side machinery is the `mapInPandas` analog: typed
  * `mapPartitions` over an iterator, one pass, bounded memory,
  * executor-side only. Video frame extraction is REAL for MJPEG-in-AVI
  * ([[sampleAviFrames]]: RIFF container parse + per-frame JPEG decode —
  * the one video codec a bare JDK can handle); other codecs fall back
  * to the shape-only [[sampleFrames]].
  */
object Multimodal {

  // In-memory decode only: ImageIO's default scratch is a TEMP FILE per
  // decode, which would put a disk round-trip in every row of the hot
  // path. Safe to set process-wide (affects only scratch strategy).
  javax.imageio.ImageIO.setUseCache(false)

  /** Real image decode via `javax.imageio`: (width, height, channels),
    * or (0, 0, 0) when the bytes are not a decodable image — the
    * not-an-image marker rows stay in-band so a corrupted blob in a
    * 100 TB corpus is a filterable row, not a task failure. */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Int) = {
    val img = readImage(bytes)
    if (img == null) (0, 0, 0)
    else (img.getWidth, img.getHeight, img.getRaster.getNumBands)
  }

  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage =
    if (bytes == null || bytes.isEmpty) null
    else
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: java.io.IOException => null } // corrupt stream

  /** Decode over binary content, batched per partition. Output:
    * media_id, width, height, channels, n_bytes (input size). */
  def decodeImages(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // typed iterator transform — stays on the Dataset/Tungsten path (no
    // RDD + createDataFrame round-trip), one pass, bounded memory
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) =>
        val (w, h, c) = decodeImage(raw)
        val n = if (raw == null) 0L else raw.length.toLong
        (id, w.toLong, h.toLong, c.toLong, n)
      })
      .toDF("media_id", "width", "height", "channels", "n_bytes")
  }

  /** Real pixel-statistics features (8-dim): channel means, luma mean,
    * normalized geometry, aspect, decoded flag. Deterministic — sRGB
    * values from `getRGB` round-trip 8-bit PNG exactly, means accumulate
    * in double. Not-an-image → all zeros. A learned vision encoder drops
    * in here without touching the plan shape. */
  def imageFeatures(bytes: Array[Byte]): Array[Float] = {
    val img = readImage(bytes)
    if (img == null) return Array.fill(8)(0f)
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0.0, 0.0, 0.0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xFF
        sg += (p >> 8) & 0xFF
        sb += p & 0xFF
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    Array(
      (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat,
      (sb / n / 255.0).toFloat,
      ((0.299 * sr + 0.587 * sg + 0.114 * sb) / n / 255.0).toFloat,
      (w / 4096.0).toFloat, (h / 4096.0).toFloat,
      (w.toDouble / h).toFloat, 1f)
  }

  /** Feature-extract over binary content: (media_id, features, n_dims). */
  def extractFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) =>
        val f = imageFeatures(raw)
        (id, f, f.length)
      })
      .toDF("media_id", "features", "n_dims")
  }

  /** Real resize: decode, nearest-neighbor resample to w×h, return the
    * packed RGB raster (w*h*3 bytes, row-major). Manual resampling
    * instead of `Graphics2D.drawImage` keeps the output bit-reproducible
    * across JVMs — no AWT rendering pipeline, no interpolation-hint
    * ambiguity. Not-an-image → empty bytes. */
  def resizeImage(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = readImage(bytes)
    if (img == null) return Array.empty[Byte]
    val (sw, sh) = (img.getWidth, img.getHeight)
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * sh / h).toInt
      var x = 0
      while (x < w) {
        val sx = (x.toLong * sw / w).toInt
        val p = img.getRGB(sx, sy)
        val o = (y * w + x) * 3
        out(o) = ((p >> 16) & 0xFF).toByte
        out(o + 1) = ((p >> 8) & 0xFF).toByte
        out(o + 2) = (p & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Resize plumbing: content replaced by the scaled raster, metadata
    * updated with the output geometry. */
  def resize(df: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ww, hh) = (w, h)
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) =>
        val out = resizeImage(raw, ww, hh)
        (id, out, ww, hh, out.length.toLong)
      })
      .toDF("media_id", "content", "out_w", "out_h", "n_bytes_out")
  }

  /** Deterministic synthetic PNG: a solid (r,g,b) image at w×h — REAL
    * PNG bytes through the JDK encoder, so decode paths exercise a real
    * codec while every decoded property stays an arithmetic function of
    * the inputs (the oracle's handle on exactness). */
  def syntheticPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Synthetic media table from an id column: one real PNG per row with
    * dimensions and color derived arithmetically from the id
    * (w = 16 + id%32, h = 16 + (id/32)%32, rgb = (id%256, 7id%256,
    * 13id%256)) — the decode fixtures for the oracle queries. */
  def syntheticImageTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 16 + (id % 32).toInt
        val h = 16 + ((id / 32) % 32).toInt
        val png = syntheticPng(w, h, (id % 256).toInt,
          ((id * 7) % 256).toInt, ((id * 13) % 256).toInt)
        (id, "image", png)
      })
      .toDF("media_id", "media_type", "content")
      .select(col("media_id"), col("media_type"), col("content"),
        struct(lit("synthetic").as("source"),
          length(col("content")).cast("long").as("n_bytes")).as("meta"))
  }

  // ------------------------------------------------------------- audio

  /** Decoded WAV: negative/zero fields mark not-a-wav (in-band, like
    * image decode's (0,0,0)). `samples` are centered signed values
    * (16-bit LE as-is; 8-bit unsigned shifted by −128), interleaved by
    * frame. */
  final case class Wav(channels: Int, sampleRate: Int, bits: Int,
                       samples: Array[Int])

  /** REAL audio decode — PCM WAV needs no codec library, just the RIFF
    * container walk (shared discipline with [[aviFrames]]): find the
    * `fmt ` and `data` chunks, skipping unknown chunks with odd-size
    * padding per spec. Returns null for anything that is not a PCM WAV
    * (compressed formats, truncated files, other containers) — callers
    * surface the in-band marker row. Supports the two PCM sample
    * layouts that exist in the wild: 16-bit signed LE and 8-bit
    * unsigned. */
  def decodeWav(bytes: Array[Byte]): Wav = {
    if (bytes == null || bytes.length < 44) return null
    def u16(o: Int) = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8)
    def u32(o: Int): Long = (u16(o) & 0xFFFFL) | ((u16(o + 2) & 0xFFFFL) << 16)
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return null
    var off = 12
    var fmt: (Int, Int, Int, Int) = null // (audioFormat, ch, rate, bits)
    var data: (Int, Int) = null          // (offset, size)
    while (off + 8 <= bytes.length && (fmt == null || data == null)) {
      val id = tag(off)
      val sz = u32(off + 4).toInt
      val body = off + 8
      if (sz < 0 || body + sz > bytes.length) return null
      id match {
        case "fmt " if sz >= 16 =>
          fmt = (u16(body), u16(body + 2), u32(body + 4).toInt,
            u16(body + 14))
        case "data" => data = (body, sz)
        case _ => // skip unknown chunk (LIST, fact, cue ...)
      }
      off = body + sz + (sz & 1) // odd sizes pad to even per RIFF
    }
    (fmt, data) match {
      case ((1, ch, rate, bits), (dOff, dSz))
          if ch > 0 && rate > 0 && (bits == 16 || bits == 8) =>
        val n = if (bits == 16) dSz / 2 else dSz
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          out(i) =
            if (bits == 16) (u16(dOff + i * 2) << 16) >> 16 // sign-extend
            else (bytes(dOff + i) & 0xFF) - 128
          i += 1
        }
        Wav(ch, rate, bits, out)
      case _ => null
    }
  }

  /** Audio feature extraction over binary WAV content — the audio twin
    * of [[extractFeatures]]: one typed mapPartitions pass, bounded
    * memory (one file's samples at a time), integer-exact outputs so
    * any engine reproduces them from the same bytes. Not-a-wav rows
    * come back as all-zero markers, in-band.
    *
    * Output per row: (media_id, channels, sample_rate, n_frames,
    * duration_us, sum_sq, peak_abs, zero_crossings) —
    * `duration_us = n_frames * 1e6 / rate` floored;
    * `zero_crossings` counts strict sign flips per channel between
    * consecutive frames. */
  def audioFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) =>
        val w = decodeWav(raw)
        if (w == null) (id, 0, 0, 0L, 0L, 0L, 0L, 0L)
        else {
          val ch = w.channels
          val nFrames = w.samples.length / ch
          var sumSq = 0L; var peak = 0L; var zcr = 0L
          var g = 0
          while (g < nFrames * ch) {
            val v = w.samples(g).toLong
            sumSq += v * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (g + ch < nFrames * ch) {
              val nx = w.samples(g + ch).toLong
              if (v * nx < 0) zcr += 1
            }
            g += 1
          }
          (id, ch, w.sampleRate, nFrames.toLong,
            nFrames.toLong * 1000000L / w.sampleRate, sumSq, peak, zcr)
        }
      })
      .toDF("media_id", "channels", "sample_rate", "n_frames",
        "duration_us", "sum_sq", "peak_abs", "zero_crossings")
  }

  /** Integer-factor audio decimation — the audio twin of the
    * nearest-neighbor [[resize]]: keep every `factor`-th FRAME (all
    * channels of it), divide the declared rate, re-encode as 16-bit
    * PCM. Decimation (not interpolation) for the same reason resize is
    * nearest-neighbor: bit-reproducible on any engine with no
    * filter-kernel ambiguity; a production pipeline that needs
    * anti-aliasing swaps the kernel, the plumbing stands. Non-wav
    * bytes and non-divisible rates pass through as null content rows
    * (in-band, filterable).
    *
    * Output: (media_id, content, channels, sample_rate, n_frames) of
    * the RESAMPLED audio. */
  def resampleAudio(df: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, raw) =>
        val w = decodeWav(raw)
        if (w == null || w.sampleRate % factor != 0)
          (id, null: Array[Byte], 0, 0, 0L)
        else {
          val ch = w.channels
          val nFrames = w.samples.length / ch
          val kept = (0 until nFrames by factor).toArray
          val out = new Array[Int](kept.length * ch)
          var i = 0
          while (i < kept.length) {
            var c = 0
            while (c < ch) {
              out(i * ch + c) = w.samples(kept(i) * ch + c)
              c += 1
            }
            i += 1
          }
          val rate = w.sampleRate / factor
          (id, syntheticWav(ch, rate, out), ch, rate, kept.length.toLong)
        }
      })
      .toDF("media_id", "content", "channels", "sample_rate", "n_frames")
  }

  /** Canonical PCM WAV bytes: 16-bit signed LE, interleaved. */
  def syntheticWav(channels: Int, sampleRate: Int,
                   samples: Array[Int]): Array[Byte] = {
    val dataSz = samples.length * 2
    val bos = new java.io.ByteArrayOutputStream(44 + dataSz)
    def w16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def w32(v: Long): Unit = { w16((v & 0xFFFF).toInt); w16(((v >> 16) & 0xFFFF).toInt) }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    tag("RIFF"); w32(36L + dataSz); tag("WAVE")
    tag("fmt "); w32(16L); w16(1); w16(channels); w32(sampleRate.toLong)
    w32(sampleRate.toLong * channels * 2); w16(channels * 2); w16(16)
    tag("data"); w32(dataSz.toLong)
    samples.foreach(w16)
    bos.toByteArray
  }

  /** Synthetic audio table from an id column: one real PCM WAV per row
    * with every property an arithmetic function of the id —
    * channels = 1 + id%2, rate = 8000 + (id%3)·4000,
    * frames = 200 + id%100, sample g = ((id·31 + g·7) mod 65536) −
    * 32768 — so an external oracle recomputes every decoded feature
    * from the formula while the engine decodes real bytes. */
  def syntheticAudioTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val ch = 1 + (id % 2).toInt
        val rate = 8000 + ((id % 3) * 4000).toInt
        val n = 200 + (id % 100).toInt
        val samples = Array.tabulate(n * ch)(g =>
          (((id * 31 + g.toLong * 7) % 65536) - 32768).toInt)
        (id, "audio", syntheticWav(ch, rate, samples))
      })
      .toDF("media_id", "media_type", "content")
      .select(col("media_id"), col("media_type"), col("content"),
        struct(lit("synthetic").as("source"),
          length(col("content")).cast("long").as("n_bytes")).as("meta"))
  }

  /** Frame-sampling plumbing: given a media row representing a video of
    * `n_frames` (faked from byte length), emit one row per sampled
    * frame — the explode shape a real frame extractor produces. Kept
    * for arbitrary-codec bytes the JDK cannot decode; for MJPEG-in-AVI
    * the REAL extractor is [[sampleAviFrames]]. */
  def sampleFrames(df: DataFrame, everyN: Int = 30): DataFrame = {
    val nFrames = greatest(lit(1),
      (coalesce(length(col("content")), lit(0)) / 1024).cast("int"))
    df.select(col("media_id"), explode(
        sequence(lit(0), nFrames - 1, lit(everyN))).as("frame_idx"))
  }

  /** Parse an AVI (RIFF) container and return the payloads of its video
    * frame chunks (`..dc`/`..db`) in stream order. For MJPEG — the one
    * video codec a bare JDK can decode, because every frame is a JPEG —
    * each payload feeds `javax.imageio` directly. Non-AVI bytes return
    * Nil (in-band, like [[decodeImage]]'s zero marker). */
  def aviFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    def u32(i: Int): Long =
      (bytes(i) & 0xFFL) | ((bytes(i + 1) & 0xFFL) << 8) |
        ((bytes(i + 2) & 0xFFL) << 16) | ((bytes(i + 3) & 0xFFL) << 24)
    def fourcc(i: Int): String =
      new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (bytes == null || bytes.length < 12 || fourcc(0) != "RIFF" ||
        fourcc(8) != "AVI ") return Nil
    val out = Seq.newBuilder[Array[Byte]]
    def walk(start: Int, end: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val id = fourcc(i)
        val sz = u32(i + 4).toInt
        val body = i + 8
        if (sz < 0 || body + sz > bytes.length) return // truncated file
        if (id == "LIST" && sz >= 4) walk(body + 4, body + sz)
        else if ((id.endsWith("dc") || id.endsWith("db")) && sz > 0)
          out += java.util.Arrays.copyOfRange(bytes, body, body + sz)
        i = body + sz + (sz & 1) // chunks are word-aligned
      }
    }
    walk(12, math.min(bytes.length.toLong, u32(4) + 8).toInt)
    out.result()
  }

  /** REAL video frame sampling for MJPEG-in-AVI: every `everyN`-th
    * frame chunk decodes through the same imageio path as still images,
    * yielding (media_id, frame_idx, n_frames, width, height,
    * mean_luma). Undecodable frames and non-AVI bytes contribute zero
    * rows — corrupt media in a 100 TB corpus is a missing row, not a
    * task failure. Same executor-side `mapPartitions` shape as
    * [[decodeImages]]: one container + one decoded frame in memory at a
    * time. */
  def sampleAviFrames(df: DataFrame, everyN: Int = 30): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("mean_luma", DoubleType, nullable = false)))
    val rdd = df.select(col("media_id").cast("long"), col("content"))
      .rdd.mapPartitions { it =>
        it.flatMap { r =>
          val id = r.getLong(0)
          val bytes =
            if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          val frames = aviFrames(bytes)
          Iterator.range(0, frames.length, everyN).flatMap { i =>
            val img = readImage(frames(i))
            if (img == null) Iterator.empty
            else {
              val raster = img.getRaster
              val (w, h) = (img.getWidth, img.getHeight)
              // Rec.601 luma for color frames; band 0 IS the luma for
              // grayscale rasters
              val color = raster.getNumBands >= 3
              var s = 0.0
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  s +=
                    (if (color)
                      0.299 * raster.getSampleDouble(x, y, 0) +
                        0.587 * raster.getSampleDouble(x, y, 1) +
                        0.114 * raster.getSampleDouble(x, y, 2)
                    else raster.getSampleDouble(x, y, 0))
                  x += 1
                }
                y += 1
              }
              Iterator.single(Row(id, i, frames.length, w, h,
                s / (w.toLong * h)))
            }
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** Build a media table from any binary-able column — used by tests to
    * exercise the plumbing with synthetic bytes. */
  def fromBinary(df: DataFrame, idCol: String, binCol: String,
                 mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(mediaType).as("media_type"),
      col(binCol).cast("binary").as("content"),
      struct(lit("synthetic").as("source"),
        length(col(binCol)).cast("long").as("n_bytes")).as("meta"))
}
