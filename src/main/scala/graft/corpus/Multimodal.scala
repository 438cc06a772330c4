package graft.corpus

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.parsers.ParseStage

/** Multimodal column handling: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct; decode / resize /
  * frame-sample / feature-extract run per row over the binary column.
  *
  * The image path is REAL, zero new dependencies — the JDK ships codecs:
  *
  *  - [[decode]] sniffs the container and parses dimensions straight from
  *    the header bytes (PNG IHDR, JPEG SOF marker scan, GIF logical screen
  *    descriptor, BMP info header) WITHOUT decoding pixels. At 100 TB this
  *    is the difference between a metadata pass that streams headers and
  *    one that rasterizes every image.
  *  - [[resize]] is a real raster scale: `ImageIO.read` → bilinear
  *    `Graphics2D.drawImage` at the integer-exact target geometry →
  *    re-encode in the source format.
  *  - [[frameSample]] walks a multi-frame container (animated GIF — the
  *    one multi-frame format the JDK reads) with an `ImageReader`, emitting
  *    every-nth frame re-encoded as PNG. Video codecs (h264 etc.) are not
  *    in the JDK, so for those containers each payload is one "frame".
  *  - [[features]] computes a real visual feature: a normalized grayscale
  *    histogram over the decoded raster (byte histogram fallback for
  *    payloads no JDK codec reads).
  *
  * Spark shape: every stage is a per-row codec run as a
  * [[graft.parsers.ParseStage]] (one `Generate`, no shuffle), so Catalyst
  * prunes the columns below it and moves filters on its input columns
  * beneath it; heavy payloads should set `spark.sql.files.maxPartitionBytes`
  * low enough that a partition of payloads fits executor memory.
  * `ImageIO.setUseCache(false)` (once per JVM) keeps the
  * JDK codecs in-memory (the default spills every stream to a temp file —
  * a per-row disk write on the hot path).
  */
object Multimodal {

  val MetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  // ------------------------------------------------------------- fixtures

  /** Deterministic image geometry derived from a document's text — the
    * ground truth an oracle recomputes in SQL:
    * format = length%3 → png/jpeg/gif, width = 16+(ascii(first)%8)*4,
    * height = 16+(length%8)*4.
    */
  def geometryOf(text: String): (String, Int, Int) = {
    // code points, not UTF-16 units: DuckDB length() counts characters, so
    // non-BMP text (emoji) must derive the same format/height on both sides
    val len = text.codePointCount(0, text.length)
    val fmt = (len % 3) match {
      case 0 => "png"
      case 1 => "jpeg"
      case _ => "gif"
    }
    val c0 = if (text.isEmpty) 0 else text.codePointAt(0)
    (fmt, 16 + (c0 % 8) * 4, 16 + (len % 8) * 4)
  }

  /** Encode a real w×h image in `format` ("png"/"jpeg"/"gif"/"bmp") with
    * deterministic pixel content (a seeded gradient — content only matters
    * for resize/feature determinism, not for metadata).
    */
  def encodeImage(format: String, w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = (x * 7 + y * 13 + seed).toInt & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.setUseCache(false)
    require(ImageIO.write(img, format, out), s"no JDK writer for $format")
    out.toByteArray
  }

  /** Encode a real animated GIF of `nFrames` w×h frames (the JDK gif
    * writer's sequence API). */
  def encodeAnimatedGif(w: Int, h: Int, nFrames: Int, seed: Long): Array[Byte] = {
    ImageIO.setUseCache(false)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until nFrames).foreach { f =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = (x * 7 + y * 13 + f * 29 + seed).toInt & 0xff
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  /** Attach a REAL image payload column (`binary`) whose format and
    * geometry derive deterministically from the text ([[geometryOf]]) —
    * the stand-in for reading a blob/fileref column, except the bytes are
    * genuine PNG/JPEG/GIF files the decode stage must actually parse.
    */
  def withPayload(docs: DataFrame, textCol: String): DataFrame =
    ParseStage.map[String](docs, col(textCol), Payload) { text =>
      val (fmt, w, h) = geometryOf(text)
      encodeImage(fmt, w, h, seed = text.length.toLong)
    }

  private val Payload = StructField("payload", BinaryType, nullable = false)

  /** The JDK image codecs, switched to in-memory streams once per JVM. */
  private lazy val inMemoryCodecs: Unit = ImageIO.setUseCache(false)

  /** `bytes` decoded by a JDK codec; null when none reads it. */
  private def readImage(bytes: Array[Byte]): BufferedImage = {
    inMemoryCodecs
    try ImageIO.read(new ByteArrayInputStream(bytes)) catch { case _: Exception => null }
  }

  // ------------------------------------------------ header-only metadata

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  /** Real metadata decode from container headers, no pixel decode:
    * PNG signature + IHDR (width/height big-endian at 16/20), JPEG SOFn
    * marker scan (height/width at segment+5/+7), GIF87a/89a logical screen
    * descriptor (little-endian at 6/8), BMP BITMAPINFOHEADER (18/22).
    * Unrecognized payloads → ("unknown", 0, 0, n_bytes).
    */
  def decodeMeta(b: Array[Byte]): (String, Int, Int, Long) = {
    val n = b.length.toLong
    // PNG: \x89PNG\r\n\x1a\n then the IHDR chunk is mandatory-first
    if (b.length >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a && b(7) == 0x0a)
      return ("png", be32(b, 16), be32(b, 20), n)
    // JPEG: FFD8, scan markers to the first SOF (C0-CF minus C4/C8/CC)
    if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return ("unknown", 0, 0, n)
        val m = b(i + 1) & 0xff
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
        else if (m == 0xda) return ("jpeg", 0, 0, n) // SOS before any SOF
        else {
          val segLen = be16(b, i + 2)
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (i + 8 < b.length) return ("jpeg", be16(b, i + 7), be16(b, i + 5), n)
            return ("jpeg", 0, 0, n)
          }
          i += 2 + segLen
        }
      }
      return ("jpeg", 0, 0, n)
    }
    // GIF: GIF87a / GIF89a
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return ("gif", le16(b, 6), le16(b, 8), n)
    // BMP: "BM" + BITMAPINFOHEADER (height negative = top-down)
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
      return ("bmp", le32(b, 18), math.abs(le32(b, 22)), n)
    ("unknown", 0, 0, n)
  }

  /** Decode of the `payload` binary column → `meta` struct, one
    * `Generate` (not a UDF: a filter on `meta` stays above it, so each
    * payload decodes once); the header parse never rasterizes, so this
    * streams at scan speed.
    */
  def decode(df: DataFrame): DataFrame =
    ParseStage.map[Array[Byte]](df, col("payload"),
        StructField("meta", MetaSchema, nullable = false)) { bytes =>
      val (fmt, w, h, n) = decodeMeta(bytes)
      Row(fmt, w, h, n)
    }

  /** Target geometry under a `maxSide` bound, integer-exact (no float
    * rounding, so an oracle recomputes it with integer division):
    * untouched when max(w,h) <= maxSide, else side*maxSide/max(w,h). */
  def targetGeometry(w: Int, h: Int, maxSide: Int): (Int, Int) = {
    val m = math.max(w, h)
    if (m <= maxSide || m == 0) (w, h)
    else (math.max(1, w * maxSide / m), math.max(1, h * maxSide / m))
  }

  /** REAL raster resize: decode with the JDK codec, bilinear-scale onto a
    * BufferedImage of the exact [[targetGeometry]], re-encode in the
    * source format, refresh `meta` from the new payload. Payloads no JDK
    * codec reads pass through untouched. The new `payload` and `meta`
    * replace the old columns in place, so the schema does not change.
    */
  def resize(df: DataFrame, maxSide: Int): DataFrame = {
    require(maxSide >= 1, s"maxSide must be >= 1, got $maxSide")
    require(df.schema.fieldNames.contains("meta"), "resize runs after decode()")
    val out = StructType(Seq(df.schema("payload"), df.schema("meta")))
    ParseStage.map[Row](df, struct(col("payload"), col("meta")),
        StructField("__resized", out, nullable = false)) { row =>
      val bytes = row.getAs[Array[Byte]](0)
      val fmt = row.getStruct(1).getString(0)
      val img = readImage(bytes)
      if (img == null) row // not an image the JDK reads: pass through
      else {
        val (nw, nh) = targetGeometry(img.getWidth, img.getHeight, maxSide)
        val scaled = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
        val g = scaled.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, nw, nh, null)
        g.dispose()
        val out = new ByteArrayOutputStream()
        ImageIO.write(scaled, fmt, out)
        val newBytes = out.toByteArray
        Row(newBytes, Row(fmt, nw, nh, newBytes.length.toLong))
      }
    }.withColumns(Map("payload" -> col("__resized.payload"), "meta" -> col("__resized.meta")))
      .drop("__resized")
  }

  /** REAL frame sampler over multi-frame containers: an `ImageReader`
    * walks the payload's frames (animated GIF in the JDK), every-nth frame
    * is re-encoded as PNG into the `frame` column with its index. Single
    * -frame images emit frame 0; unreadable payloads emit no rows (they
    * are not frame sources). A 0..n-row stage, narrow.
    */
  def frameSample(df: DataFrame, everyNth: Int, maxFrames: Int = 16): DataFrame = {
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    require(maxFrames >= 1, s"maxFrames must be >= 1, got $maxFrames")
    val out = StructType(Seq(
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    ParseStage.flatMap[Array[Byte]](df, col("payload"), out) { bytes =>
      inMemoryCodecs
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); Seq.empty[Row] }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val nFrames = math.max(1, reader.getNumImages(true))
          (0 until nFrames by everyNth).take(maxFrames).flatMap { f =>
            try {
              val img = reader.read(f)
              val out = new ByteArrayOutputStream()
              ImageIO.write(img, "png", out)
              Some(Row(f, out.toByteArray))
            } catch { case _: Exception => None }
          }
        } finally { reader.dispose(); iis.close() }
      }
    }
  }

  // -------------------------------------------------- audio (WAV / AIFF)

  val AudioMetaSchema: StructType = StructType(Seq(
    StructField("container", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Deterministic audio geometry derived from a document's text — the
    * ground truth an oracle recomputes in SQL (code points + first code
    * point, same portability rule as [[geometryOf]]):
    * container = length%2 → wav/aiff, rate = 8000+(ascii(first)%4)*4000,
    * channels = 1+length%2, frames = 400+(length%50)*40.
    */
  def audioGeometryOf(text: String): (String, Int, Int, Long) = {
    val len = text.codePointCount(0, text.length)
    val c0 = if (text.isEmpty) 0 else text.codePointAt(0)
    val container = if (len % 2 == 0) "wav" else "aiff"
    (container, 8000 + (c0 % 4) * 4000, 1 + len % 2, 400L + (len % 50) * 40L)
  }

  private def le16b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def be16b(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32b(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** 80-bit IEEE 754 extended float (the AIFF COMM sample-rate field):
    * sign(1) + exponent(15, bias 16383) + explicit-leading-1 mantissa(64).
    * Exact for the integer rates audio uses.
    */
  private[graft] def extended80(rate: Long): Array[Byte] = {
    if (rate == 0) return new Array[Byte](10)
    var m = rate
    var expon = 16383 + 63
    while ((m & Long.MinValue) == 0) { m <<= 1; expon -= 1 } // normalize: bit63 = the explicit leading 1
    be16b(expon) ++ be32b((m >>> 32).toInt) ++ be32b(m.toInt)
  }

  private[graft] def readExtended80(b: Array[Byte], i: Int): Long = {
    val expon = be16(b, i) & 0x7fff
    val hi = be32(b, i + 2).toLong & 0xffffffffL
    val lo = be32(b, i + 6).toLong & 0xffffffffL
    if (expon == 0 && hi == 0 && lo == 0) return 0L
    val mant = (hi << 32) | lo
    val shift = expon - 16383 - 63
    if (shift >= 0) mant << shift else mant >>> -shift
  }

  /** Encode a real PCM-16 WAV: RIFF/WAVE + fmt + data chunks,
    * deterministic sawtooth samples. */
  def encodeWav(rate: Int, channels: Int, nFrames: Long, seed: Long): Array[Byte] = {
    val blockAlign = channels * 2
    val dataSize = (nFrames * blockAlign).toInt
    val out = new ByteArrayOutputStream(44 + dataSize)
    out.write("RIFF".getBytes("US-ASCII")); out.write(le32b(36 + dataSize))
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("fmt ".getBytes("US-ASCII")); out.write(le32b(16))
    out.write(le16b(1)) // PCM
    out.write(le16b(channels)); out.write(le32b(rate))
    out.write(le32b(rate * blockAlign)); out.write(le16b(blockAlign))
    out.write(le16b(16)) // bits per sample
    out.write("data".getBytes("US-ASCII")); out.write(le32b(dataSize))
    var f = 0L
    while (f < nFrames) {
      var c = 0
      while (c < channels) {
        out.write(le16b((((f * 37 + c * 11 + seed) % 65536) - 32768).toInt & 0xffff))
        c += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Encode a real PCM-16 AIFF: FORM/AIFF + COMM (80-bit extended rate) +
    * SSND chunks, deterministic samples (big-endian per the spec). */
  def encodeAiff(rate: Int, channels: Int, nFrames: Long, seed: Long): Array[Byte] = {
    val dataSize = (nFrames * channels * 2).toInt
    val out = new ByteArrayOutputStream(54 + dataSize)
    out.write("FORM".getBytes("US-ASCII"))
    out.write(be32b(4 + 8 + 18 + 8 + 8 + dataSize))
    out.write("AIFF".getBytes("US-ASCII"))
    out.write("COMM".getBytes("US-ASCII")); out.write(be32b(18))
    out.write(be16b(channels)); out.write(be32b(nFrames.toInt))
    out.write(be16b(16)); out.write(extended80(rate.toLong))
    out.write("SSND".getBytes("US-ASCII")); out.write(be32b(8 + dataSize))
    out.write(be32b(0)); out.write(be32b(0)) // offset, blockSize
    var f = 0L
    while (f < nFrames) {
      var c = 0
      while (c < channels) {
        out.write(be16b((((f * 37 + c * 11 + seed) % 65536) - 32768).toInt & 0xffff))
        c += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Attach a REAL audio payload column whose container and geometry derive
    * deterministically from the text ([[audioGeometryOf]]) — genuine
    * WAV/AIFF files the decode stage must actually chunk-walk.
    */
  def withAudioPayload(docs: DataFrame, textCol: String): DataFrame =
    ParseStage.map[String](docs, col(textCol), Payload) { text =>
      val (container, rate, channels, frames) = audioGeometryOf(text)
      if (container == "wav") encodeWav(rate, channels, frames, text.length.toLong)
      else encodeAiff(rate, channels, frames, text.length.toLong)
    }

  /** Header-only audio metadata: a RIFF/FORM chunk WALK that reads fmt/COMM
    * and the data/SSND size but never the sample bodies (the same
    * never-decode-payload discipline as [[decodeMeta]]). duration_ms is
    * integer math (frames*1000/rate) so an oracle recomputes it exactly.
    * Unrecognized payloads → ("unknown", 0, 0, 0, 0, 0, n_bytes).
    */
  def decodeAudioMeta(b: Array[Byte]): (String, Int, Int, Int, Long, Long, Long) = {
    val n = b.length.toLong
    def unknown = ("unknown", 0, 0, 0, 0L, 0L, n)
    // WAV: RIFF....WAVE, little-endian chunks
    if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
      var i = 12
      var rate = 0; var channels = 0; var bits = 0; var dataSize = -1L
      while (i + 8 <= b.length) {
        val id = new String(b, i, 4, "US-ASCII")
        val size = le32(b, i + 4).toLong & 0xffffffffL
        // corrupt payloads can declare sizes past the buffer (or >2^31,
        // negative after toInt): reject the chunk and stop the walk
        if (size > b.length - i - 8) return unknown
        if (id == "fmt " && i + 8 + 16 <= b.length) {
          channels = le16(b, i + 10); rate = le32(b, i + 12)
          bits = le16(b, i + 22)
        } else if (id == "data") dataSize = size
        i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
      val bytesPerFrame = channels * (bits / 8)
      if (rate <= 0 || channels <= 0 || bytesPerFrame <= 0 || dataSize < 0) return unknown
      val frames = dataSize / bytesPerFrame
      return ("wav", rate, channels, bits, frames, frames * 1000L / rate, n)
    }
    // AIFF: FORM....AIFF, big-endian chunks; COMM carries the geometry
    if (b.length >= 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
        b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F') {
      var i = 12
      while (i + 8 <= b.length) {
        val id = new String(b, i, 4, "US-ASCII")
        val size = be32(b, i + 4).toLong & 0xffffffffL
        if (size > b.length - i - 8) return unknown
        if (id == "COMM" && i + 8 + 18 <= b.length) {
          val channels = be16(b, i + 8)
          val frames = be32(b, i + 10).toLong & 0xffffffffL
          val bits = be16(b, i + 14)
          val rate = readExtended80(b, i + 16)
          if (rate <= 0 || channels <= 0) return unknown
          return ("aiff", rate.toInt, channels, bits, frames, frames * 1000L / rate, n)
        }
        i += 8 + size.toInt + (size.toInt & 1)
      }
      return unknown
    }
    unknown
  }

  /** Header decode of the audio `payload` → `audio_meta` struct — streams
    * at scan speed, never touches sample data. */
  def decodeAudio(df: DataFrame): DataFrame =
    ParseStage.map[Array[Byte]](df, col("payload"),
        StructField("audio_meta", AudioMetaSchema, nullable = false)) { bytes =>
      val (c, r, ch, bits, frames, ms, n) = decodeAudioMeta(bytes)
      Row(c, r, ch, bits, frames, ms, n)
    }

  /** Perceptual audio hash: decode the REAL PCM-16 sample body (RIFF
    * chunk walk + LE samples for WAV, FORM/SSND + BE for AIFF — the first
    * time the sample bodies are read, deliberately: metadata stays
    * header-only), box-average |channel-0 sample| onto 33 integer-exact
    * windows (wa = k·n/33 — same boundary rule as [[dHash]]'s grid) and
    * emit 32 bits env(k) > env(k+1) as a '0'/'1' string. Volume scaling
    * preserves the hash; local edits flip only the windows they touch.
    * Every mean is one exact-integer division, so an oracle recomputes
    * the hash arithmetically from the fixture's sample formula.
    * Unreadable payloads hash to "". */
  def audioEnvelopeHash(df: DataFrame): DataFrame =
    ParseStage.map[Array[Byte]](df, col("payload"),
      StructField("ahash", StringType, nullable = false))(audioEnvelopeHashOf)

  private def audioEnvelopeHashOf(b: Array[Byte]): String = {
      var channels = 0; var dataOff = -1; var dataLen = 0; var bigEndian = false
      if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
        var i = 12
        while (i + 8 <= b.length) {
          val id = new String(b, i, 4, "US-ASCII")
          val sz = le32(b, i + 4)
          if (id == "fmt " && i + 12 <= b.length) channels = le16(b, i + 10)
          else if (id == "data") { dataOff = i + 8; dataLen = sz }
          i += 8 + sz + (sz & 1)
        }
      } else if (b.length >= 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
        b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F') {
        bigEndian = true
        var i = 12
        while (i + 8 <= b.length) {
          val id = new String(b, i, 4, "US-ASCII")
          val sz = be32(b, i + 4)
          if (id == "COMM" && i + 10 <= b.length) channels = be16(b, i + 8)
          else if (id == "SSND") { dataOff = i + 16; dataLen = sz - 8 }
          i += 8 + sz + (sz & 1)
        }
      }
      if (dataOff < 0 || channels <= 0) ""
      else {
        val blockAlign = channels * 2
        val n = math.min(dataLen, b.length - dataOff) / blockAlign
        if (n < 33) ""
        else {
          val means = new Array[Double](33)
          var k = 0
          while (k < 33) {
            val fa = k * n / 33; val fb = (k + 1) * n / 33
            var sum = 0L
            var f = fa
            while (f < fb) {
              val o = dataOff + f * blockAlign
              val raw = if (bigEndian) be16(b, o) else le16(b, o)
              val s = if (raw >= 32768) raw - 65536 else raw // signed 16-bit
              sum += math.abs(s)
              f += 1
            }
            means(k) = if (fb == fa) 0.0 else sum.toDouble / (fb - fa)
            k += 1
          }
          val sb = new java.lang.StringBuilder(32)
          var k2 = 0
          while (k2 < 32) {
            sb.append(if (means(k2) > means(k2 + 1)) '1' else '0')
            k2 += 1
          }
          sb.toString
        }
      }
  }

  /** REAL visual feature: a `dim`-bucket grayscale histogram over the
    * decoded raster, normalized to sum 1 — the shape (fixed-dim float
    * vector per payload) of an embedding-model pass. Payloads no JDK codec
    * reads fall back to a byte-value histogram (same dimension, still
    * deterministic).
    */
  def features(df: DataFrame, dim: Int = 8): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    ParseStage.map[Array[Byte]](df, col("payload"), StructField("features",
        ArrayType(FloatType, containsNull = false), nullable = false)) { bytes =>
      val img = readImage(bytes)
      val hist = new Array[Long](dim)
      var total = 0L
      if (img != null) {
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val gray = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist(gray * dim / 256) += 1
            total += 1
            x += 1
          }
          y += 1
        }
      } else {
        var i = 0
        while (i < bytes.length) { hist((bytes(i) & 0xff) * dim / 256) += 1; total += 1; i += 1 }
      }
      Array.tabulate(dim)(i => if (total == 0) 0f else hist(i).toFloat / total)
    }
  }

  // ------------------------------------------- perceptual hash (dHash)

  /** Deterministic gradient PNG payload for the dHash oracle fixtures:
    * geometry from [[geometryOf]] but always PNG (lossless — decoded
    * pixels equal the generator formula exactly, so an oracle recomputes
    * every cell mean arithmetically), pixel gray g(x,y) =
    * (x·7 + y·13 + 7) mod 256, plus a wrap-add of 40 on the top-left
    * quarter (x < w/4 ∧ y < h/4) when `perturbed` — a local edit whose
    * dHash lands a small hamming distance away, unlike the global
    * brightness shifts dHash is invariant to. */
  def withGradientPng(
      docs: DataFrame, textCol: String, perturbedCol: String): DataFrame =
    ParseStage.map[Row](docs, struct(col(textCol), col(perturbedCol)), Payload) { row =>
      inMemoryCodecs
      val text = row.getString(0)
      val pert = row.getBoolean(1)
      val (_, w, h) = geometryOf(text)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val base = (x * 7 + y * 13 + 7) % 256
          val g =
            if (pert && x < w / 4 && y < h / 4) (base + 40) % 256 else base
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val out = new ByteArrayOutputStream()
      require(ImageIO.write(img, "png", out), "no JDK png writer")
      out.toByteArray
    }

  /** Perceptual difference hash (dHash, the classic 9×8 form): decode the
    * payload with the REAL JDK codec, box-average the luma onto a 9-wide ×
    * 8-tall grid with integer-exact cell boundaries (xa = i·w/9 … — an
    * oracle recomputes every mean as an integer sum over the box divided
    * once), then emit 64 bits — bit (j,i) = mean(i,j) > mean(i+1,j),
    * row-major j outer — as a '0'/'1' string. Brightness/contrast shifts
    * preserve the hash; local edits flip only the cells they touch.
    * Unreadable payloads hash to the empty string. Narrow per-row stage,
    * no shuffle. */
  def dHash(df: DataFrame): DataFrame =
    ParseStage.map[Array[Byte]](df, col("payload"),
        StructField("dhash", StringType, nullable = false)) { bytes =>
      val img = readImage(bytes)
        if (img == null) ""
        else {
          val w = img.getWidth
          val h = img.getHeight
          val means = Array.ofDim[Double](9, 8)
          var i = 0
          while (i < 9) {
            var j = 0
            while (j < 8) {
              val xa = i * w / 9; val xb = (i + 1) * w / 9
              val ya = j * h / 8; val yb = (j + 1) * h / 8
              var sum = 0L
              var y = ya
              while (y < yb) {
                var x = xa
                while (x < xb) {
                  val rgb = img.getRGB(x, y)
                  sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
                  x += 1
                }
                y += 1
              }
              val n = (xb - xa).toLong * (yb - ya)
              means(i)(j) = if (n == 0) 0.0 else sum.toDouble / n
              j += 1
            }
            i += 1
          }
          val sb = new java.lang.StringBuilder(64)
          var j = 0
          while (j < 8) {
            var i2 = 0
            while (i2 < 8) {
              sb.append(if (means(i2)(j) > means(i2 + 1)(j)) '1' else '0')
              i2 += 1
            }
            j += 1
          }
          sb.toString
        }
    }

  /** Near-dup image pairs by dHash hamming distance: band the 64-bit
    * string into `bands` equal substrings and hash-join on any equal band
    * (pigeonhole: hamming < bands guarantees a shared band, so recall is
    * exact up to bands−1 flipped bits; beyond that the banding is
    * best-effort — the standard trade, raise `bands` for a higher exact
    * floor), then filter candidates by exact hamming ≤ `maxHamming`.
    * Only (id, band, bucket) rows cross the band join and its dedup; the
    * hashes join back by id for the hamming check. Same viral caveat as
    * the other pair APIs: identical images share all bands. */
  def dhashPairs(
      hashes: DataFrame, id: Column, hash: Column,
      maxHamming: Int = 6, bands: Int = 4): DataFrame = {
    val width = 64 / bands
    val h = hashes.select(id.as("doc_id"), hash.as("h"))
      .where(length(col("h")) === 64)
    val banded = Candidates.bandRows(h, bands)(b => substring(col("h"), b * width + 1, width))
    Candidates.verifyJoin(
      Candidates.bandPairs(banded, banded).dropDuplicates("doc_a", "doc_b"), h, h)
      .select(col("doc_a"), col("doc_b"), Dedup.hamming(col("h_a"), col("h_b"), 64).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // -------------------------------------------------- video (MP4 / ISO BMFF)

  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("container", StringType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration_ticks", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Deterministic video geometry derived from a document's text (same
    * oracle-portability rule as [[audioGeometryOf]]):
    * timescale = 600·(1+c0%4), ticks = 1200+(len%50)·120,
    * w = 160+(len%8)·16, h = 120+(c0%6)·16. */
  def videoGeometryOf(text: String): (Int, Long, Int, Int) = {
    val len = text.codePointCount(0, text.length)
    val c0 = if (text.isEmpty) 0 else text.codePointAt(0)
    (600 * (1 + c0 % 4), 1200L + (len % 50) * 120L,
      160 + (len % 8) * 16, 120 + (c0 % 6) * 16)
  }

  /** Minimal valid ISO-BMFF file: ftyp + moov(mvhd v0 + trak(tkhd v0)) +
    * a 16-byte mdat stub — 260 bytes total, every field the header walk
    * reads is real. */
  def encodeMp4(timescale: Int, durationTicks: Long, w: Int, h: Int): Array[Byte] = {
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32b(payload.length + 8) ++ tpe.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32b(0) ++
      "isom".getBytes("US-ASCII"))
    val mvhd = box("mvhd", be32b(0) ++ be32b(0) ++ be32b(0) ++
      be32b(timescale) ++ be32b(durationTicks.toInt) ++
      be32b(0x00010000) ++ be16b(0x0100) ++ new Array[Byte](10) ++
      matrixIdentity ++ new Array[Byte](24) ++ be32b(2))
    val tkhd = box("tkhd", be32b(0) ++ be32b(0) ++ be32b(0) ++ be32b(1) ++
      be32b(0) ++ be32b(durationTicks.toInt) ++ new Array[Byte](8) ++
      be16b(0) ++ be16b(0) ++ be16b(0) ++ be16b(0) ++ matrixIdentity ++
      be32b(w << 16) ++ be32b(h << 16))
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    val mdat = box("mdat", Array.fill[Byte](16)(0x5a))
    ftyp ++ moov ++ mdat
  }

  private def matrixIdentity: Array[Byte] =
    be32b(0x00010000) ++ be32b(0) ++ be32b(0) ++
      be32b(0) ++ be32b(0x00010000) ++ be32b(0) ++
      be32b(0) ++ be32b(0) ++ be32b(0x40000000)

  /** Header-only MP4 metadata: a BOX-TREE WALK (ftyp sniff → moov → mvhd
    * timescale/duration, first trak's tkhd width/height) that never reads
    * mdat — the video face of the never-decode-payload discipline.
    * Handles mvhd/tkhd version 1 (64-bit times) and `size==1` largesize
    * boxes; anything malformed → ("unknown", 0, 0, 0, 0, 0, n_bytes).
    */
  def decodeVideoMeta(b: Array[Byte]): (String, Int, Long, Long, Int, Int, Long) = {
    val n = b.length.toLong
    def unknown = ("unknown", 0, 0L, 0L, 0, 0, n)
    def be64(i: Int): Long = (be32(b, i).toLong << 32) | (be32(b, i + 4).toLong & 0xffffffffL)
    // (boxStart, payloadStart, boxEnd) walk over [from, to)
    def boxes(lo: Int, hi: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var i = lo
        def hasNext: Boolean = i + 8 <= hi
        def next(): (String, Int, Int) = {
          val size32 = be32(b, i).toLong & 0xffffffffL
          val tpe = new String(b, i + 4, 4, "US-ASCII")
          val (payload, end) =
            if (size32 == 1 && i + 16 <= hi) (i + 16, i + be64(i + 8))
            else if (size32 == 0) (i + 8, hi.toLong)
            else (i + 8, i + size32)
          if (end < payload || end > hi) { i = hi; ("", payload, hi) }
          else { i = end.toInt; (tpe, payload, end.toInt) }
        }
      }
    if (b.length < 12 || new String(b, 4, 4, "US-ASCII") != "ftyp") return unknown
    var timescale = 0; var ticks = 0L; var w = 0; var h = 0
    for ((tpe, p, e) <- boxes(0, b.length) if tpe == "moov") {
      for ((c, cp, ce) <- boxes(p, e)) c match {
        case "mvhd" if ce - cp >= 20 =>
          if (b(cp) == 1 && ce - cp >= 28) { // v1: 8-byte times
            timescale = be32(b, cp + 20); ticks = be64(cp + 24)
          } else { timescale = be32(b, cp + 12); ticks = be32(b, cp + 16).toLong & 0xffffffffL }
        case "trak" if w == 0 =>
          for ((t, tp, te) <- boxes(cp, ce) if t == "tkhd") {
            val off = if (b(tp) == 1) tp + 88 else tp + 76 // v1 widens 3 times
            if (te - off >= 8) { w = be32(b, off) >>> 16; h = be32(b, off + 4) >>> 16 }
          }
        case _ => ()
      }
    }
    if (timescale <= 0 || w <= 0 || h <= 0) return unknown
    ("mp4", timescale, ticks, ticks * 1000L / timescale, w, h, n)
  }

  /** Attach a deterministic MP4 payload derived from `textCol`. */
  def withVideoPayload(docs: DataFrame, textCol: String): DataFrame =
    ParseStage.map[String](docs, col(textCol), Payload) { text =>
      val (ts, ticks, w, h) = videoGeometryOf(text)
      encodeMp4(ts, ticks, w, h)
    }

  /** Header decode of the video `payload` → `video_meta`. */
  def decodeVideo(df: DataFrame): DataFrame =
    ParseStage.map[Array[Byte]](df, col("payload"),
        StructField("video_meta", VideoMetaSchema, nullable = false)) { bytes =>
      val (c, ts, ticks, ms, w, h, n) = decodeVideoMeta(bytes)
      Row(c, ts, ticks, ms, w, h, n)
    }
}
