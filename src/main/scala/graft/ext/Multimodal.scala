package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.graph.Rounds.materialize

/** Multimodal-column operators: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * plumbing (training-data-pipeline extension, BASELINE.json north star).
  *
  * Decode tiers:
  *  - UNCOMPRESSED rasters (PPM P6, BMP 24-bit) are decoded NATIVELY —
  *    pure byte parsing, no codec library — and featurized as grid-cell
  *    mean luminance (a real, deterministic image embedding).
  *  - UNCOMPRESSED audio (WAV RIFF, PCM 8/16-bit) likewise decodes
  *    natively ([[decodeWav]]) with duration/RMS features.
  *  - COMPRESSED images (JPEG baseline + PNG) decode and encode for real
  *    through the JDK's bundled `javax.imageio` codecs ([[decodeImageIo]],
  *    [[encodePng]], [[encodeJpeg]]) — part of Java SE, no external
  *    library. PNG round-trips bit-exact (lossless); JPEG is gated by a
  *    PSNR band ([[psnrCheck]]).
  *  - LOSSLESS compressed audio (FLAC) decodes natively ([[FlacCodec]])
  *    and is checked by exact equality.
  *  - LOSSY compressed audio (MP3, AAC, Vorbis) and video (MP4) are parsed
  *    at the CONTAINER level only — framing, duration, bitrate mode, codec
  *    ids, sample tables, keyframe counts — in [[MediaContainers]] (MPEG
  *    audio frame walk, Ogg paging, ISO-BMFF box tree), which is the
  *    metadata pass a large pipeline runs Spark-side. Their samples are not
  *    decoded here: [[decodeAudio]] returns `None` for them, and a
  *    deployment decodes them through a native library in a UDF. The
  *    H.264 pixel kernel is stubbed (`decodeStub` ???) — a deterministic
  *    fake signal from the bytes. Swapping it for a real JNI/codec call
  *    changes no plan shape.
  * The Spark-side plumbing is real and tested: schema (binary + metadata
  * struct), partition-wise batched processing via `mapPartitions` (the Scala
  * analogue of `mapInPandas` — batch shape `(id, bytes) → (id, features)`),
  * and the explode shape for frame sampling.
  *
  * Scale: per-row independent work inside mapPartitions — embarrassingly
  * parallel; the only shuffle anywhere here is a caller's downstream groupBy.
  */
object Multimodal {

  /** Decoded raster: row-major RGB, 3 bytes per pixel; `maxValue` is the
    * per-channel full-scale value (PPM maxval; 255 for BMP).
    */
  final case class Raster(width: Int, height: Int, rgb: Array[Byte],
      maxValue: Int = 255)

  /** PPM binary (P6) decode: `P6 <ws> w <ws> h <ws> maxval <single-ws>` then
    * raw RGB triplets. Pure byte parsing — no codec dependency.
    */
  def decodePpm(bytes: Array[Byte]): Option[Raster] = {
    if (bytes.length < 10 || bytes(0) != 'P' || bytes(1) != '6') return None
    var i = 2
    def skipWs(): Unit = {
      var in = true
      while (in && i < bytes.length) {
        val c = bytes(i)
        if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
        else in = false
      }
    }
    def int(): Int = {
      skipWs(); var v = 0
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      v
    }
    val w = int(); val h = int(); val maxv = int()
    i += 1 // single whitespace after maxval
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    val need = w * h * 3
    if (bytes.length - i < need) return None
    Some(Raster(w, h, java.util.Arrays.copyOfRange(bytes, i, i + need), maxv))
  }

  /** BMP (BITMAPINFOHEADER, 24 bpp, uncompressed) decode: bottom-up BGR rows
    * padded to 4 bytes. Pure byte parsing.
    */
  def decodeBmp(bytes: Array[Byte]): Option[Raster] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    def i32(o: Int): Int =
      (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
        ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
    def i16(o: Int): Int = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8)
    val dataOff = i32(10); val w = i32(18); val h = i32(22)
    val bpp = i16(28); val compression = i32(30)
    if (w <= 0 || h == 0 || bpp != 24 || compression != 0) return None
    val hh = math.abs(h); val topDown = h < 0
    val rowBytes = ((w * 3 + 3) / 4) * 4
    if (bytes.length < dataOff + rowBytes * hh) return None
    val out = new Array[Byte](w * hh * 3)
    var y = 0
    while (y < hh) {
      val srcRow = if (topDown) y else hh - 1 - y
      var x = 0
      while (x < w) {
        val s = dataOff + srcRow * rowBytes + x * 3
        val d = (y * w + x) * 3
        out(d) = bytes(s + 2); out(d + 1) = bytes(s + 1); out(d + 2) = bytes(s) // BGR→RGB
        x += 1
      }
      y += 1
    }
    Some(Raster(w, hh, out))
  }

  /** Format sniff + decode for the supported rasters: native byte-walking
    * for PPM/BMP/QOI, the JDK's bundled `javax.imageio` codecs for
    * JPEG/PNG (part of Java SE — the container lacks libjpeg/ffmpeg for
    * the PYTHON stack, but every JVM ships its own image codecs).
    */
  def decode(bytes: Array[Byte]): Option[Raster] =
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') decodePpm(bytes)
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if (bytes.length >= 4 && bytes(0) == 'q' && bytes(1) == 'o' &&
      bytes(2) == 'i' && bytes(3) == 'f') decodeQoi(bytes)
    else if (isJpeg(bytes) || isPng(bytes)) decodeImageIo(bytes)
    else None

  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 &&
      (bytes(2) & 0xff) == 0xff

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G'

  /** JPEG/PNG decode through `javax.imageio` (headless-safe; executors set
    * no display). Undecodable or absurdly large images → None, like the
    * native decoders.
    */
  def decodeImageIo(bytes: Array[Byte]): Option[Raster] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        if (w <= 0 || h <= 0 || w.toLong * h > 16777216L) None
        else {
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          val out = new Array[Byte](w * h * 3)
          var i = 0
          while (i < px.length) {
            val p = px(i)
            out(i * 3) = ((p >> 16) & 0xff).toByte
            out(i * 3 + 1) = ((p >> 8) & 0xff).toByte
            out(i * 3 + 2) = (p & 0xff).toByte
            i += 1
          }
          Some(Raster(w, h, out))
        }
      }
    } catch { case _: Throwable => None }

  private def toBufferedImage(r: Raster): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(r.width, r.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](r.width * r.height)
    var i = 0
    while (i < px.length) {
      px(i) = ((r.rgb(i * 3) & 0xff) << 16) | ((r.rgb(i * 3 + 1) & 0xff) << 8) |
        (r.rgb(i * 3 + 2) & 0xff)
      i += 1
    }
    img.setRGB(0, 0, r.width, r.height, px, 0, r.width)
    img
  }

  /** PNG encode (lossless — decode(encodePng(r)) returns r's exact pixels). */
  def encodePng(r: Raster): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(toBufferedImage(r), "png", bos)
    bos.toByteArray
  }

  /** Baseline JPEG encode at the given quality (lossy — round-trips are
    * checked by PSNR band, not bit equality).
    */
  def encodeJpeg(r: Raster, quality: Float = 0.9f): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(toBufferedImage(r), null, null), param)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** QOI decode (the public "Quite OK Image" spec, qoiformat.org): 14-byte
    * header, then RGB/RGBA/INDEX/DIFF/LUMA/RUN chunks against a 64-slot
    * seen-pixel array keyed by `(3r+5g+7b+11a) mod 64`, 8-byte end marker.
    * Alpha is decoded but dropped (the engine's raster is RGB). Pure
    * integer byte walking — deterministic on any JVM.
    */
  def decodeQoi(bytes: Array[Byte]): Option[Raster] = {
    if (bytes.length < 22 || bytes(0) != 'q' || bytes(1) != 'o' ||
      bytes(2) != 'i' || bytes(3) != 'f') return None
    def u32(o: Int): Int =
      ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
        ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
    val w = u32(4); val h = u32(8)
    if (w <= 0 || h <= 0 || w.toLong * h > 16777216L) return None
    val out = new Array[Byte](w * h * 3)
    val index = new Array[Int](64) // packed rgba, all-zero init
    var r = 0; var g = 0; var b = 0; var a = 255
    var p = 14; var px = 0
    val nPx = w * h
    while (px < nPx && p < bytes.length) {
      val b1 = bytes(p) & 0xff; p += 1
      var run = 1
      if (b1 == 0xfe) { // RGB
        r = bytes(p) & 0xff; g = bytes(p + 1) & 0xff; b = bytes(p + 2) & 0xff
        p += 3
      } else if (b1 == 0xff) { // RGBA
        r = bytes(p) & 0xff; g = bytes(p + 1) & 0xff; b = bytes(p + 2) & 0xff
        a = bytes(p + 3) & 0xff; p += 4
      } else (b1 >> 6) match {
        case 0 => // INDEX
          val v = index(b1 & 0x3f)
          r = (v >> 24) & 0xff; g = (v >> 16) & 0xff
          b = (v >> 8) & 0xff; a = v & 0xff
        case 1 => // DIFF (2-bit channel deltas, bias 2)
          r = (r + ((b1 >> 4) & 3) - 2) & 0xff
          g = (g + ((b1 >> 2) & 3) - 2) & 0xff
          b = (b + (b1 & 3) - 2) & 0xff
        case 2 => // LUMA (6-bit dg bias 32; dr/db relative to dg, bias 8)
          val dg = (b1 & 0x3f) - 32
          val b2 = bytes(p) & 0xff; p += 1
          r = (r + dg + ((b2 >> 4) & 15) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (b2 & 15) - 8) & 0xff
        case _ => // RUN (bias -1)
          run = (b1 & 0x3f) + 1
      }
      // update the seen array after every chunk — a RUN rewrites the same
      // value (harmless), everything else must be registered
      index((3 * r + 5 * g + 7 * b + 11 * a) % 64) =
        (r << 24) | (g << 16) | (b << 8) | a
      var k = 0
      while (k < run && px < nPx) {
        val o = px * 3
        out(o) = r.toByte; out(o + 1) = g.toByte; out(o + 2) = b.toByte
        px += 1; k += 1
      }
    }
    if (px != nPx) None else Some(Raster(w, h, out, 255))
  }

  /** QOI encode of an RGB raster (alpha fixed at 255) — the write-side
    * half, used by [[synthesizeQoi]] and round-trip specs. Emits RUN /
    * INDEX / DIFF / LUMA / RGB chunks exactly per the public spec.
    */
  def qoiPack(raster: Raster): Array[Byte] = {
    val w = raster.width; val h = raster.height; val px = raster.rgb
    val out = new java.io.ByteArrayOutputStream(14 + w * h + 8)
    def u32(v: Int): Unit = {
      out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
      out.write((v >> 8) & 0xff); out.write(v & 0xff)
    }
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    u32(w); u32(h); out.write(3); out.write(0)
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0
    var run = 0
    var i = 0
    val n = w * h
    while (i < n) {
      val r = px(i * 3) & 0xff; val g = px(i * 3 + 1) & 0xff
      val b = px(i * 3 + 2) & 0xff
      if (r == pr && g == pg && b == pb) {
        run += 1
        if (run == 62 || i == n - 1) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val hash = (3 * r + 5 * g + 7 * b + 11 * 255) % 64
        val packed = (r << 24) | (g << 16) | (b << 8) | 255
        if (index(hash) == packed) out.write(hash)
        else {
          index(hash) = packed
          val dr = ((r - pr + 128) & 0xff) - 128
          val dg = ((g - pg + 128) & 0xff) - 128
          val db = ((b - pb + 128) & 0xff) - 128
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          else if (dg >= -32 && dg <= 31 && dr - dg >= -8 && dr - dg <= 7 &&
            db - dg >= -8 && db - dg <= 7) {
            out.write(0x80 | (dg + 32))
            out.write(((dr - dg + 8) << 4) | (db - dg + 8))
          } else {
            out.write(0xfe); out.write(r); out.write(g); out.write(b)
          }
        }
      }
      pr = r; pg = g; pb = b
      i += 1
    }
    (0 until 7).foreach(_ => out.write(0)); out.write(1)
    out.toByteArray
  }

  /** The closed-form test image: each channel a small linear formula of
    * (x, y, id) mod 256 — reproducible in plain SQL, so decode statistics
    * oracle exactly.
    */
  private[graft] def formulaRaster(id: Long, w: Int, h: Int): Raster = {
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        rgb(o) = (((x * 3 + y * 5 + id) % 256).toInt).toByte
        rgb(o + 1) = (((x * 7 + y + 2 * id) % 256).toInt).toByte
        rgb(o + 2) = (((x + y * 11 + 3 * id) % 256).toInt).toByte
        x += 1
      }
      y += 1
    }
    Raster(w, h, rgb, 255)
  }

  private def synthesize(df: DataFrame, idCol: String, w: Int, h: Int,
      pack: Raster => Array[Byte]): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("media", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"))
      .mapPartitions { it =>
        it.map(r => Row(r.getLong(0), pack(formulaRaster(r.getLong(0), w, h))))
      }(enc)
  }

  /** Synthesize deterministic QOI payloads per id — procedural RGB so the
    * oracle can recompute any decoded statistic closed-form.
    */
  def synthesizeQoi(df: DataFrame, idCol: String, w: Int, h: Int): DataFrame =
    synthesize(df, idCol, w, h, qoiPack)

  def synthesizePng(df: DataFrame, idCol: String, w: Int, h: Int): DataFrame =
    synthesize(df, idCol, w, h, encodePng)

  def synthesizeJpeg(df: DataFrame, idCol: String, w: Int, h: Int,
      quality: Float = 0.9f): DataFrame =
    synthesize(df, idCol, w, h, encodeJpeg(_, quality))

  /** Lossy-decode quality gate: decode the media column, compare against
    * the formula image, emit whether PSNR clears `minPsnrDb`. Any CORRECT
    * JPEG decoder clears a conservative band; a broken one cannot — so the
    * check is engine-portable (the DuckDB oracle asserts the band, not
    * decoder-specific pixels).
    */
  def psnrCheck(df: DataFrame, idCol: String, w: Int, h: Int,
      minPsnrDb: Double): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("width", LongType), StructField("height", LongType),
      StructField("psnr_ok", BooleanType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col("media"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val id = r.getLong(0)
          decode(r.getAs[Array[Byte]](1)).map { ras =>
            val ref = formulaRaster(id, w, h)
            var se = 0.0
            val n = math.min(ras.rgb.length, ref.rgb.length)
            var i = 0
            while (i < n) {
              val dd = (ras.rgb(i) & 0xff) - (ref.rgb(i) & 0xff)
              se += dd.toDouble * dd
              i += 1
            }
            val mse = if (n == 0) Double.MaxValue else se / n
            val psnr =
              if (mse <= 0.0) Double.MaxValue
              else 10.0 * math.log10(255.0 * 255.0 / mse)
            Row(id, ras.width.toLong, ras.height.toLong,
              ras.width == w && ras.height == h && psnr >= minPsnrDb)
          }
        }
      }(enc)
  }

  /** Per-image channel sums over the decoded raster — the closed-form-
    * checkable decode statistic (same mapPartitions batch shape as
    * [[extractFeatures]]; undecodable rows are dropped).
    */
  def channelSums(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("width", LongType), StructField("height", LongType),
      StructField("sum_r", LongType), StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col("media"))
      .mapPartitions { it =>
        it.flatMap { r =>
          decode(r.getAs[Array[Byte]](1)).map { ras =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var i = 0
            val n = ras.width * ras.height
            while (i < n) {
              sr += ras.rgb(i * 3) & 0xff
              sg += ras.rgb(i * 3 + 1) & 0xff
              sb += ras.rgb(i * 3 + 2) & 0xff
              i += 1
            }
            Row(r.getLong(0), ras.width.toLong, ras.height.toLong, sr, sg, sb)
          }
        }
      }(enc)
  }

  /** Grid-cell mean-luminance features of a decoded raster (`grid²` floats,
    * row-major cells; luma = (0.299 R + 0.587 G + 0.114 B) / 255, averaged
    * per cell) — a real deterministic image embedding for dedup/similarity.
    */
  def imageFeatures(r: Raster, grid: Int): Array[Float] = {
    val sums = new Array[Double](grid * grid)
    val counts = new Array[Long](grid * grid)
    var y = 0
    while (y < r.height) {
      val cy = math.min(y * grid / r.height, grid - 1)
      var x = 0
      while (x < r.width) {
        val cx = math.min(x * grid / r.width, grid - 1)
        val p = (y * r.width + x) * 3
        val luma = (0.299 * (r.rgb(p) & 0xff) + 0.587 * (r.rgb(p + 1) & 0xff) +
          0.114 * (r.rgb(p + 2) & 0xff)) / r.maxValue
        val c = cy * grid + cx
        sums(c) += luma; counts(c) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(grid * grid)(c =>
      if (counts(c) == 0) 0f else (sums(c) / counts(c)).toFloat)
  }

  /** Nearest-neighbor raster resize: destination pixel (x, y) samples
    * source pixel (⌊x·w/w2⌋, ⌊y·h/h2⌋) — integer arithmetic only, so any
    * engine recomputes the identical output (the resize every thumbnail /
    * embedding-input pipeline runs before feature extraction; bilinear is
    * the same plan shape with a 4-tap kernel). Pure per-row CPU work —
    * runs inside the same mapPartitions batch as the decode.
    */
  def resizeRaster(r: Raster, w2: Int, h2: Int): Raster = {
    require(w2 >= 1 && h2 >= 1, "target dims must be positive")
    val out = new Array[Byte](w2 * h2 * 3)
    var y = 0
    while (y < h2) {
      val sy = y * r.height / h2
      var x = 0
      while (x < w2) {
        val sx = x * r.width / w2
        val sp = (sy * r.width + sx) * 3
        val dp = (y * w2 + x) * 3
        out(dp) = r.rgb(sp); out(dp + 1) = r.rgb(sp + 1)
        out(dp + 2) = r.rgb(sp + 2)
        x += 1
      }
      y += 1
    }
    Raster(w2, h2, out, r.maxValue)
  }

  /** Decode + nearest-neighbor resize over a binary media column: one row
    * per decodable image with the resized dims, the exact integer sum of
    * the resized R-channel (the oracle-checkable aggregate), and the
    * re-encoded PPM payload for downstream stages. Narrow mapPartitions —
    * identical batch shape to [[imageHashes]].
    */
  def resizeImages(df: DataFrame, idCol: String, mediaCol: String,
      w2: Int, h2: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decode(bytes).map { r =>
            val rs = resizeRaster(r, w2, h2)
            var sum = 0L
            var i = 0
            while (i < w2 * h2) { sum += (rs.rgb(3 * i) & 0xff); i += 1 }
            val header = s"P6\n$w2 $h2\n${rs.maxValue}\n".getBytes("US-ASCII")
            (id, rs.width, rs.height, sum, header ++ rs.rgb)
          }
        }
      }.toDF(idCol, "w", "h", "pix_sum", "media")
  }

  /** 64-bit difference hash (dHash — the public perceptual-hash scheme):
    * mean-pool luma onto a 9×8 grid, set bit `r·8+c` (LSB-first) when cell
    * (r,c) is brighter than its right neighbor (r,c+1). Near-duplicate
    * images (re-encodes, small crops, brightness shifts) land within a few
    * bits of Hamming distance.
    *
    * Integer arithmetic only: luma is `299R + 587G + 114B` (×1000, exact),
    * and cells of unequal pixel count compare via cross-multiplied sums
    * (`sumA·nB > sumB·nA`) instead of float means — bit-identical in any
    * engine, so a SQL oracle can recompute the hash from pixel values.
    */
  def dHash(r: Raster): Long = {
    val rows = 8; val cols = 9
    val sums = new Array[Long](rows * cols)
    val counts = new Array[Long](rows * cols)
    var y = 0
    while (y < r.height) {
      val cy = math.min(y * rows / r.height, rows - 1)
      var x = 0
      while (x < r.width) {
        val cx = math.min(x * cols / r.width, cols - 1)
        val p = (y * r.width + x) * 3
        val luma = 299L * (r.rgb(p) & 0xff) + 587L * (r.rgb(p + 1) & 0xff) +
          114L * (r.rgb(p + 2) & 0xff)
        val c = cy * cols + cx
        sums(c) += luma; counts(c) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var row = 0
    while (row < rows) {
      var c = 0
      while (c < cols - 1) {
        val a = row * cols + c; val b = a + 1
        // empty cells (source narrower than the grid) count as luma 0
        val brighter =
          if (counts(a) == 0 || counts(b) == 0) counts(b) == 0 && counts(a) != 0 && sums(a) > 0
          else sums(a) * counts(b) > sums(b) * counts(a)
        if (brighter) hash |= 1L << (row * 8 + c)
        c += 1
      }
      row += 1
    }
    hash
  }

  /** Per-image dHash over the binary media column (mapPartitions decode,
    * same batch shape as [[extractFeatures]]). Rows whose payload doesn't
    * decode are dropped. Output: (id, dhash long).
    */
  def imageHashes(df: DataFrame, idCol: String, mediaCol: String = "media"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("dhash", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col(mediaCol))
      .mapPartitions { it =>
        it.flatMap { r =>
          decode(r.getAs[Array[Byte]](1)).map(raster => Row(r.getLong(0), dHash(raster)))
        }
      }(enc)
  }

  /** Image near-duplicate pairs: dHash + Hamming-banded self-join. The 64
    * hash bits split into `maxHamming + 1` contiguous bands; by pigeonhole
    * a pair within `maxHamming` bits matches on at least one full band, so
    * the band equi-join generates every qualifying candidate — never an
    * all-pairs product — and the exact `bit_count(xor) <= maxHamming`
    * residual filters the rest. Same banding contract as
    * [[Dedup.simhashMd5NearDups]], over the image modality.
    *
    * Scale shape: candidate generation is keyed on (band index, band
    * value); identical-looking images (the interesting skew) share whole
    * hashes, which a per-band `maxBandFreq` cap would bound if a corpus
    * degenerates — left un-capped here because qualifying pairs must be
    * emitted for correctness.
    */
  def imageNearDups(df: DataFrame, idCol: String, mediaCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 64)")
    val bands = maxHamming + 1
    val width = 64 / bands // last band absorbs the remainder bits
    val hashes = imageHashes(df, idCol, mediaCol)
    // shift amounts are per-band constants, so the band slices unroll into
    // an array literal of (band, bits) structs and one explode
    def bandBits(j: Int) =
      if (j < bands - 1)
        shiftrightunsigned(col("dhash"), j * width) % lit(1L << width)
      else shiftrightunsigned(col("dhash"), (bands - 1) * width)
    val banded = hashes.select(col(idCol), col("dhash"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"), bandBits(j).as("bits"))): _*)).as("_b"))
      .select(col(idCol), col("dhash"),
        col("_b.band").as("band"), col("_b.bits").as("bits"))
    val a = banded.select(col("band"), col("bits"), col(idCol).as("id_a"),
      col("dhash").as("h_a"))
    val b = banded.select(col("band"), col("bits"), col(idCol).as("id_b"),
      col("dhash").as("h_b"))
    a.join(b, Seq("band", "bits")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------- § audio

  /** Decoded PCM audio (mono or interleaved). */
  final case class PcmAudio(sampleRate: Int, channels: Int, bitsPerSample: Int,
      samples: Array[Int])

  /** Format sniff + decode for the supported audio containers: RIFF/WAVE
    * ([[decodeWav]]: PCM + G.711 + IMA-ADPCM) and FLAC ([[FlacCodec]],
    * channels interleaved into the shared [[PcmAudio]] shape) — the one
    * entry point a mixed-corpus feature pipeline calls per row. Anything
    * else, lossy MP3/AAC/Vorbis included, is not decodable here: None.
    */
  def decodeAudio(bytes: Array[Byte]): Option[PcmAudio] =
    if (bytes.length >= 4 && bytes(0) == 'f' && bytes(1) == 'L' &&
        bytes(2) == 'a' && bytes(3) == 'C')
      FlacCodec.decode(bytes).map { d =>
        val n = d.samples(0).length
        val inter = new Array[Int](n * d.channels)
        var i = 0
        while (i < n) {
          var c = 0
          while (c < d.channels) {
            inter(i * d.channels + c) = d.samples(c)(i); c += 1
          }
          i += 1
        }
        PcmAudio(d.sampleRate, d.channels, d.bitsPerSample, inter)
      }
    else decodeWav(bytes)

  /** Pack 16-bit mono PCM samples as a RIFF/WAVE byte array (the standard
    * 44-byte header + little-endian data) — pure byte assembly.
    */
  def wavPack(samples: Array[Int], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => out.putShort(s.toShort))
    out.array()
  }

  /** WAV (RIFF/WAVE) decode: walk the chunk list for `fmt `/`fact`/`data`
    * and dispatch on the format tag — PCM 8/16-bit natively, plus REAL
    * compressed-codec expansion for G.711 μ-law (tag 7) / A-law (tag 6)
    * and mono IMA-ADPCM (tag 0x11) via [[AudioCodecs]]. Every path
    * returns 16-bit linear samples. Pure byte parsing + closed-form
    * integer kernels — no codec library involved.
    */
  def decodeWav(bytes: Array[Byte]): Option[PcmAudio] = {
    if (bytes.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(o: Int): String = new String(bytes, o, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    // (formatTag, channels, sampleRate, bits, blockAlign, samplesPerBlock)
    var fmt: Option[(Int, Int, Int, Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None // (offset, length)
    var factSamples = -1
    while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty || factSamples < 0)) {
      val id = tag(off); val len = bb.getInt(off + 4)
      // long arithmetic: a crafted len near Int.MaxValue must not wrap the
      // bounds check and turn into a giant allocation downstream
      if (len < 0 || off.toLong + 8L + len > bytes.length) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          val spb = if (len >= 20) bb.getShort(off + 26) & 0xffff else 0
          fmt = Some((bb.getShort(off + 8).toInt, bb.getShort(off + 10).toInt,
            bb.getInt(off + 12), bb.getShort(off + 22).toInt,
            bb.getShort(off + 20) & 0xffff, spb))
        case "fact" if len >= 4 => factSamples = bb.getInt(off + 8)
        case "data"             => data = Some((off + 8, len))
        case _                  => ()
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    for ((fmtTag, channels, rate, bits, blockAlign, spb) <- fmt;
         (dOff, dLen) <- data;
         if channels >= 1 && rate > 0;
         decoded <- fmtTag match {
           case 1 if bits == 8 || bits == 16 =>
             val n = dLen / (bits / 8)
             val samples = new Array[Int](n)
             var i = 0
             while (i < n) {
               samples(i) =
                 if (bits == 8) (bytes(dOff + i) & 0xff) - 128 // 8-bit WAV is unsigned
                 else bb.getShort(dOff + i * 2).toInt
               i += 1
             }
             Some(PcmAudio(rate, channels, bits, samples))
           case 6 | 7 => // G.711: one byte per sample, expands to 16-bit
             val aLaw = fmtTag == 6
             val n = if (factSamples >= 0) math.min(factSamples, dLen) else dLen
             val samples = new Array[Int](n)
             var i = 0
             while (i < n) {
               val b = bytes(dOff + i) & 0xff
               samples(i) = if (aLaw) AudioCodecs.alawDecode(b)
                            else AudioCodecs.ulawDecode(b)
               i += 1
             }
             Some(PcmAudio(rate, channels, 16, samples))
           case 0x11 if channels == 1 && blockAlign >= 4 =>
             // mono IMA-ADPCM: independent self-contained blocks.
             // Allocation is capped by what the data chunk can actually
             // decode (Long arithmetic — nBlocks·spbEff can overflow Int):
             // a crafted fact chunk (fact = Int.MaxValue over a tiny data
             // chunk) must be REJECTED before any allocation, mirroring
             // the G.711 branch's min(factSamples, dLen) guard. A fact
             // count beyond capacity was already a decode failure
             // (pos < total); now it fails without the multi-GB array.
             val spbEff = if (spb > 0) spb else (blockAlign - 4) * 2 + 1
             val nBlocks = dLen / blockAlign
             val capacity = nBlocks.toLong * spbEff
             val want = if (factSamples >= 0) factSamples.toLong else capacity
             if (want > capacity || want > Int.MaxValue) None
             else {
               val total = want.toInt
               val out = new Array[Int](math.max(total, 0))
               var blk = 0; var pos = 0
               while (blk < nBlocks && pos < total) {
                 val dec = AudioCodecs.imaDecodeBlock(bytes, dOff + blk * blockAlign,
                   blockAlign, math.min(spbEff, total - pos))
                 System.arraycopy(dec, 0, out, pos, dec.length)
                 pos += dec.length; blk += 1
               }
               if (pos == total) Some(PcmAudio(rate, 1, 16, out)) else None
             }
           case _ => None
         }) yield decoded
  }

  /** Nearest-neighbor PCM resample: output sample j reads input sample
    * ⌊j·rate/targetRate⌋ — integer arithmetic only (the audio analogue of
    * [[resizeRaster]]; a production pipeline would swap in a windowed-sinc
    * kernel with the same plan shape). Downsampling to a model's expected
    * rate (e.g. 16 kHz) is the standard pre-feature step.
    */
  def resamplePcm(a: PcmAudio, targetRate: Int): PcmAudio = {
    require(targetRate >= 1, "target rate must be positive")
    val n2 = (a.samples.length.toLong * targetRate / a.sampleRate).toInt
    val out = new Array[Int](n2)
    var j = 0
    while (j < n2) {
      out(j) = a.samples((j.toLong * a.sampleRate / targetRate).toInt)
      j += 1
    }
    PcmAudio(targetRate, a.channels, a.bitsPerSample, out)
  }

  /** Decode + nearest-neighbor resample over a binary WAV column: one row
    * per decodable payload with the new rate, sample count, exact integer
    * sample sum (the oracle-checkable aggregate), and the re-packed WAV.
    * Narrow mapPartitions — same batch shape as [[audioFeatureFrame]].
    */
  def resampleAudio(df: DataFrame, idCol: String, mediaCol: String,
      targetRate: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(mediaCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeWav(bytes).map { a =>
            val rs = resamplePcm(a, targetRate)
            var sum = 0L
            rs.samples.foreach(sum += _)
            (id, rs.sampleRate, rs.samples.length.toLong, sum,
              wavPack(rs.samples, rs.sampleRate))
          }
        }
      }.toDF(idCol, "sample_rate", "n_samples", "samp_sum", "media")
  }

  /** Deterministic synthetic PCM payloads (an integer sawtooth keyed by the
    * row id — exactly replicable in SQL, so the decode round-trip has a
    * closed-form oracle): (id, media) with a real WAV byte payload.
    */
  def synthesizeWav(df: DataFrame, idCol: String, n: Int,
      sampleRate: Int, seedMod: Long = 0L): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("media", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"))
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          // seedMod > 0 folds the id space so distinct rows carry identical
          // audio — the controlled-duplicate input for near-dup operators
          val seed = if (seedMod > 0) id % seedMod else id
          val samples = Array.tabulate(n)(i => (((i.toLong * (seed + 3)) % 2000) - 1000).toInt)
          Row(id, wavPack(samples, sampleRate))
        }
      }(enc)
  }

  /** Synthesize one G.711 WAV per row (format tag 6 = A-law, 7 = μ-law):
    * compressed byte i is the closed form `(id·31 + i·7) mod 256`, so the
    * decoded 16-bit samples replay in SQL through the G.711 expansion
    * formula — a REAL compressed-codec decode with an exact oracle.
    */
  def synthesizeG711(df: DataFrame, idCol: String, n: Int,
      aLaw: Boolean): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField("media", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = Array.tabulate(n)(i => ((id * 31 + i * 7) % 256).toByte)
        Row(id, AudioCodecs.wavPackG711(bytes, 8000, aLaw))
      }
    }(enc)
  }

  /** Synthesize one mono IMA-ADPCM WAV per row with closed-form block
    * headers and nibbles (block b: predictor `(id·13 + b·101) mod 1024 −
    * 512`, index `(id + b·7) mod 40`; nibble j: `(id·7 + b·3 + j·5) mod
    * 16`), `samplesPerBlock` odd, `fact`-trimmed to `nSamples` — the
    * decode recurrence replays in SQL as a per-block recursive CTE.
    */
  def synthesizeImaAdpcm(df: DataFrame, idCol: String, nSamples: Int,
      samplesPerBlock: Int): DataFrame = {
    require(samplesPerBlock >= 3 && samplesPerBlock % 2 == 1,
      "samplesPerBlock must be odd and >= 3")
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField("media", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val bytesPerBlock = 4 + (samplesPerBlock - 1) / 2
    val nBlocks = (nSamples + samplesPerBlock - 1) / samplesPerBlock
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val blocks = new Array[Byte](nBlocks * bytesPerBlock)
        var b = 0
        while (b < nBlocks) {
          val base = b * bytesPerBlock
          val pred = ((id * 13 + b * 101) % 1024 - 512).toInt
          blocks(base) = (pred & 0xff).toByte
          blocks(base + 1) = ((pred >> 8) & 0xff).toByte
          blocks(base + 2) = ((id + b * 7) % 40).toByte
          blocks(base + 3) = 0
          var j = 0
          while (j < samplesPerBlock - 1) {
            val nib = ((id * 7 + b * 3 + j * 5) % 16).toInt
            val bo = base + 4 + j / 2
            if (j % 2 == 0) blocks(bo) = (nib & 0x0f).toByte
            else blocks(bo) = (blocks(bo) | ((nib & 0x0f) << 4)).toByte
            j += 1
          }
          b += 1
        }
        Row(id, AudioCodecs.wavPackIma(blocks, 8000, samplesPerBlock, nSamples))
      }
    }(enc)
  }

  /** Synthesize spectrally-DISTINCT audio per seed class: a square wave
    * whose period depends on the seed (`2 + seed % 13` — different seeds
    * put their energy in different WHT bands) plus a low-amplitude
    * seed-keyed sawtooth. All integer, so the PCM replays exactly in SQL.
    * `seedMod` folds the id space to plant controlled duplicates (the
    * near-dup operator's test input).
    */
  def synthesizeWavTones(df: DataFrame, idCol: String, n: Int,
      sampleRate: Int, seedMod: Long = 0L): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField("media", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val seed = if (seedMod > 0) id % seedMod else id
        val p = (2 + seed % 13).toInt
        val samples = Array.tabulate(n) { i =>
          val sq = if ((i / p) % 2 == 0) 700 else -700
          sq + ((i.toLong * (seed + 3)) % 400 - 200).toInt
        }
        Row(id, wavPack(samples, sampleRate))
      }
    }(enc)
  }

  /** Unnormalized 64-point Walsh–Hadamard transform (natural/Hadamard
    * ordering): coefficient k = Σᵢ xᵢ·(−1)^popcount(i AND k). Integer
    * butterfly — exact, overflow-free for 16-bit inputs (|c| ≤ 64·32768),
    * and replayable in SQL via `bit_count(i & k) % 2`.
    */
  private[graft] def wht64(x: Array[Long]): Array[Long] = {
    val a = x.clone()
    var len = 1
    while (len < 64) {
      var i = 0
      while (i < 64) {
        var j = i
        while (j < i + len) {
          val u = a(j); val v = a(j + len)
          a(j) = u + v; a(j + len) = u - v
          j += 1
        }
        i += 2 * len
      }
      len <<= 1
    }
    a
  }

  /** Spectral audio fingerprint (the audio face of the dedup family —
    * text shingles / image dHash / THIS): decode the WAV column, slide a
    * 64-sample window with hop 32, take the integer WHT per window, sum
    * |coefficients| into 8 bands of 8, take the peak band (DC band 0
    * excluded; ties → lower band), and shingle 4 consecutive peaks into a
    * 12-bit gram — the constellation-hash idea behind published audio
    * fingerprinters, in exact integer math so the whole pipeline replays
    * in SQL. One output row per (id, window, gram); all per-row work, no
    * shuffle.
    */
  def audioFingerprint(df: DataFrame, idCol: String,
      mediaCol: String = "media"): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("w", LongType),
      StructField("gram", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col(mediaCol)).mapPartitions { it =>
      it.flatMap { r =>
        decodeWav(r.getAs[Array[Byte]](1)).toSeq.flatMap { a =>
          val n = a.samples.length
          val nw = if (n < 64) 0 else (n - 64) / 32 + 1
          val peaks = Array.tabulate(nw) { w =>
            val cs = wht64(Array.tabulate(64)(i => a.samples(w * 32 + i).toLong))
            val e = new Array[Long](8)
            var k = 0
            while (k < 64) { e(k / 8) += math.abs(cs(k)); k += 1 }
            var best = 1; var b = 2
            while (b < 8) { if (e(b) > e(best)) best = b; b += 1 }
            best.toLong
          }
          (0 until nw - 3).map { w =>
            Row(r.getLong(0), w.toLong,
              peaks(w) + peaks(w + 1) * 8 + peaks(w + 2) * 64 + peaks(w + 3) * 512)
          }
        }
      }
    }(enc)
  }

  /** Audio near-duplicate pairs by exact Jaccard over fingerprint gram
    * sets WITHIN THE DF-CAPPED GRAM UNIVERSE: candidates meet on a shared
    * gram (banded join — never all-pairs), grams seen in more than `maxDf`
    * rows are dropped first (the PPJoin df-cap discipline: a ubiquitous
    * gram pairs everything with everything and carries no identity
    * signal), and BOTH the intersection counts and the set sizes are
    * computed over the kept grams — a consistent universe, so two files
    * with identical fingerprints score exactly 1.0 no matter how many of
    * their grams were corpus-ubiquitous (sizes over the full sets with
    * capped intersections would silently depress every score once any
    * shared gram crossed the cap). Output (id_a, id_b, jaccard),
    * id_a < id_b.
    */
  def audioNearDups(df: DataFrame, idCol: String, mediaCol: String,
      minJaccard: Double, maxDf: Long = 10000L): DataFrame = {
    val grams = materialize(audioFingerprint(df, idCol, mediaCol)
      .select(col(idCol).as("id"), col("gram")).distinct())
    val kept = materialize(grams.join(
      grams.groupBy("gram").agg(count(lit(1)).as("df_"))
        .where(col("df_") <= maxDf).select("gram"), Seq("gram")))
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = kept.select(col("id").as("id_a"), col("gram"))
      .join(kept.select(col("id").as("id_b"), col("gram")), Seq("gram"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Decode the WAV binary column and emit EXACT integer sample
    * aggregates — (id, sample_rate, n_samples, sum/min/max of the decoded
    * 16-bit values) — the oracle-checkable face of a real codec decode.
    */
  def pcmStatsFrame(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("sample_rate", LongType),
      StructField("n_samples", LongType),
      StructField("sum_pcm", LongType),
      StructField("min_pcm", LongType),
      StructField("max_pcm", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col("media")).mapPartitions { it =>
      it.flatMap { r =>
        decodeWav(r.getAs[Array[Byte]](1)).map { a =>
          var s = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
          a.samples.foreach { v =>
            s += v; if (v < mn) mn = v; if (v > mx) mx = v
          }
          Row(r.getLong(0), a.sampleRate.toLong, a.samples.length.toLong,
            s, if (a.samples.isEmpty) 0L else mn,
            if (a.samples.isEmpty) 0L else mx)
        }
      }
    }(enc)
  }

  /** Decode the WAV binary column and emit per-row audio features
    * (sample rate, sample count, duration, RMS) — the audio analogue of
    * [[extractFeatures]], same mapPartitions batch shape. Rows that fail to
    * decode are dropped (a production pipeline would side-channel them).
    */
  def audioFeatureFrame(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("sample_rate", LongType),
      StructField("n_samples", LongType),
      StructField("duration_ms", DoubleType),
      StructField("rms_raw", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col("media"))
      .mapPartitions { it =>
        it.flatMap { r =>
          decodeAudio(r.getAs[Array[Byte]](1)).map { a =>
            // samples are channel-INTERLEAVED: frames (and duration) divide
            // by the channel count; RMS stays over all interleaved values
            val n = a.samples.length
            val frames = n / a.channels
            var sumSq = 0.0
            a.samples.foreach(s => sumSq += s.toDouble * s)
            Row(r.getLong(0), a.sampleRate.toLong, frames.toLong,
              frames.toDouble * 1000.0 / a.sampleRate,
              if (n == 0) 0.0 else math.sqrt(sumSq / n))
          }
        }
      }(enc)
  }

  // ------------------------------------------------------------- FLAC

  /** per-id deterministic 16-bit PCM for the FLAC battery row */
  private def flacTone(id: Long, n: Int, right: Boolean = false): Array[Int] = {
    val sr = 44100
    val freq = (300.0 + (id % 10).toDouble * 250.0) * (if (right) 1.5 else 1.0)
    val wide = flacBps(id) == 32
    if (id % 4 == 3) { // verbatim leg: deterministic noise
      val rnd = new scala.util.Random(id)
      if (wide) Array.tabulate(n)(_ => rnd.nextInt()) // full 32-bit range
      else Array.tabulate(n)(_ => rnd.nextInt(60000) - 30000)
    } else {
      val amp = if (wide) 24000.0 * 65536.0 else 24000.0
      Array.tabulate(n)(i =>
        math.rint(amp * math.sin(2 * math.Pi * freq * i / sr)).toInt)
    }
  }

  /** Sample size per id: the 8-cycle's upper half runs the RFC 9639
    * 32-bit path (Long sample plane, 33-bit mid/side side channel,
    * method-1 Rice parameters) — the lower half stays 16-bit.
    */
  private def flacBps(id: Long): Int = if (id % 8 >= 4) 32 else 16

  /** FLAC leg shape per id: 0 mono best-FIXED, 1 STEREO mid/side,
    * 2 mono LPC subframes, 3 mono VERBATIM (noise).
    */
  private def flacShape(id: Long): Int = (id % 4).toInt

  /** Synthesize one REAL FLAC stream per row ([[FlacCodec]]: STREAMINFO,
    * framed subframes, CRC-8/16) over deterministic per-id PCM.
    */
  def synthesizeFlacAudio(df: DataFrame, idCol: String,
      nSamples: Int = 5096): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField("media", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bps = flacBps(id)
        val bytes = flacShape(id) match {
          case 1 => FlacCodec.encode(
            Array(flacTone(id, nSamples), flacTone(id, nSamples, right = true)),
            44100, bps = bps, midSide = true)
          case 2 => FlacCodec.encode(Array(flacTone(id, nSamples)), 44100,
            bps = bps, strategy = FlacCodec.Lpc2)
          case 3 => FlacCodec.encode(Array(flacTone(id, nSamples)), 44100,
            bps = bps, strategy = FlacCodec.Verbatim)
          case _ => FlacCodec.encode(Array(flacTone(id, nSamples)), 44100,
            bps = bps)
        }
        Row(id, bytes)
      }
    }(enc)
  }

  /** Full FLAC decode + EXACT-match check (lossless: equality, not PSNR).
    * Output: (id, sample_rate, channels, bits_per_sample, n_samples,
    * exact_match, subframes).
    */
  def flacDecodeFrame(df: DataFrame, idCol: String,
      nSamples: Int = 5096): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("sample_rate", LongType),
      StructField("channels", LongType),
      StructField("bits_per_sample", LongType),
      StructField("n_samples", LongType),
      StructField("exact_match", BooleanType),
      StructField("subframes", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col("media")).mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        FlacCodec.decode(r.getAs[Array[Byte]](1)).map { d =>
          val want = Array(flacTone(id, nSamples)) ++
            (if (d.channels == 2) Array(flacTone(id, nSamples, right = true)) else Array.empty[Array[Int]])
          val exact = d.samples.length == want.length &&
            d.samples.zip(want).forall { case (a, b) => a.sameElements(b) }
          Row(id, d.sampleRate.toLong, d.channels.toLong,
            d.bitsPerSample.toLong, d.samples(0).length.toLong, exact,
            d.subframeTypes.toSeq.sorted.mkString(","))
        }
      }
    }(enc)
  }

  val MetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("checksum", StringType)))

  /** Pack a string column as a binary media column + metadata struct (the
    * ingest shape a real pipeline gets from raw image/audio bytes).
    */
  def pack(df: DataFrame, idCol: String, payloadCol: String,
      mediaType: String = "application/octet-stream"): DataFrame =
    df.select(col(idCol),
      encode(col(payloadCol), "UTF-8").as("media"),
      struct(
        lit(mediaType).as("media_type"),
        octet_length(col(payloadCol)).cast("long").as("n_bytes"),
        md5(col(payloadCol)).as("checksum")).as("meta"))

  /** STUB ??? — the feature vector for payloads with no native pixel
    * kernel here: H.264 video, lossy audio (MP3, AAC, Vorbis — parsed at
    * the container level only, in [[MediaContainers]]) and any other
    * non-raster bytes; a real implementation calls a native codec via JNI
    * here. Rasters decode for REAL through [[decode]] (PPM/BMP/QOI native;
    * JPEG/PNG via the JDK codec), PCM/G.711/IMA-ADPCM/FLAC audio through
    * [[decodeAudio]], and MJPEG-in-AVI video through
    * [[MediaContainers.aviFrameCheck]]. The stub derives `dim`
    * deterministic floats from a rolling view of the bytes so downstream
    * ops (similarity, dedup) are exercisable end-to-end.
    */
  private def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L // deterministic seed
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    var j = 0
    while (j < dim) {
      h = h * 6364136223846793005L + 1442695040888963407L
      out(j) = ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat
      j += 1
    }
    out
  }

  /** Feature extraction over the binary column, batched per partition.
    * Output: (id, features array<float>). Natively-decodable rasters
    * (PPM/BMP) get REAL grid-luma embeddings (`grid²` floats); other
    * payloads fall back to the deterministic stub (`dim` floats). The plan
    * ends at a mapPartitions node — same shape as a `mapInPandas` stage in
    * PySpark.
    */
  def extractFeatures(df: DataFrame, idCol: String, dim: Int = 16,
      grid: Int = 4): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("features", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col("media"))
      .mapPartitions { it =>
        it.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val feats = decode(bytes) match {
            case Some(raster) => imageFeatures(raster, grid)
            case None         => decodeStub(bytes, dim)
          }
          Row(r.getLong(0), feats.toSeq)
        }
      }(enc)
  }

  /** "Resize": metadata-level transform — a real kernel would re-encode the
    * payload; the stub truncates the byte budget and rewrites metadata,
    * preserving plan shape (narrow, per-row).
    */
  def resize(df: DataFrame, maxBytes: Int): DataFrame =
    df.withColumn("media",
      expr(s"substring(media, 1, $maxBytes)"))
      .withColumn("meta", struct(
        col("meta.media_type"),
        least(col("meta.n_bytes"), lit(maxBytes.toLong)).as("n_bytes"),
        md5(col("media")).as("checksum")))

  /** Frame sampling: one row per sampled frame with a byte-slice payload
    * (a real video kernel would seek keyframes). Explode shape = the real
    * plan shape.
    */
  def frameSample(df: DataFrame, idCol: String, nFrames: Int): DataFrame = {
    val n = lit(nFrames)
    df.select(col(idCol), col("media"), col("meta"),
      posexplode(sequence(lit(0), n - 1)).as(Seq("frame_idx", "_f")))
      .withColumn("frame", expr(
        s"substring(media, cast(frame_idx * (meta.n_bytes / $nFrames) as int) + 1, " +
          s"cast(meta.n_bytes / $nFrames as int))"))
      .drop("_f", "media")
  }
}
