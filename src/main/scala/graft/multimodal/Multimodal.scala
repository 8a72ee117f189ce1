package graft.multimodal

import graft.dedup.Census
import graft.dedup.Census.hotKeyPrune
import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with a typed metadata struct, plus batched decode /
  * feature-extract / resize / frame-sample operators.
  *
  * Decode has TWO paths:
  *  - a REAL pure-JVM decoder for binary PPM (P6) images ([[decodePpm]]):
  *    header parse (whitespace/comments), pixel plane decode, integer
  *    channel statistics as the feature vector — proving the batching /
  *    schema / partitioning plumbing end-to-end on genuine bytes (the
  *    m01 gate query hash-verifies the decoded features against a DuckDB
  *    replay of the synthetic image content);
  *  - a REAL pure-JVM decoder for RIFF/WAVE PCM16 audio ([[decodeWav]]):
  *    chunk walk, sample decode, integer sample statistics — the audio
  *    path gets the same end-to-end proof (m01 hash-verifies both);
  *  - REAL frame walkers for two video stream shapes: concatenated-P6
  *    (`ffmpeg -f image2pipe -vcodec ppm`): [[ppmStreamFrames]] splits
  *    frames, [[sampleFrames]] strided-samples and re-decodes them (m03
  *    hash-verifies the sampled-frame statistics); and MJPEG
  *    (`-vcodec mjpeg`): [[mjpegFrames]] splits via a real
  *    stuffed-byte-aware JPEG segment parse and [[frameStats]] decodes
  *    each frame through the batched JDK reader (m12 gates it with the
  *    m11 tolerance contract);
  *  - REAL PNG and JPEG codecs via the JDK's ImageIO (batched
  *    reader/writer reuse — see [[normalizeImages]]), gated byte-exact
  *    (PNG, m10) or by tolerance contract (JPEG, m11 — lossy decode is
  *    not bit-portable across IDCTs);
  *  - `decodeStub` for formats whose codecs this container lacks
  *    (MP3/MP4 — the JDK ships no codec for either): a deterministic
  *    fake keyed on the bytes. A production deployment swaps the stub
  *    for a JNI codec or a Pandas-UDF sidecar without touching the
  *    plan shape.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),    // image|audio|video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))))))

  final val FeatureDim = 8

  /** STUB decoder — deterministic fake: a real implementation would parse
    * the container format and decode pixels/samples here. */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    val base = Hashing.hashBytes(bytes, 0x6D6DL)
    var i = 0
    while (i < FeatureDim) {
      out(i) = ((Hashing.hashLong(base, i.toLong) >>> 40).toInt.toFloat / (1 << 24).toFloat)
      i += 1
    }
    out
  }

  /** Strict P6 header parse, shared by decode / resize / stream walk —
    * ONE place to validate hostile headers. Returns
    * (w, h, maxv, pixelStart) with the pixel plane verified complete.
    * All size arithmetic runs in Long: a header like `P6 46341 46341`
    * would wrap `w*h*3` in Int, sneak past a length check, and crash
    * the task on an out-of-bounds read instead of falling back to the
    * stub path. Dim digits are capped while reading so the accumulator
    * itself can't overflow. */
  private def parseP6(bytes: Array[Byte],
      offset: Int): Option[(Int, Int, Int, Int)] = {
    if (offset + 2 > bytes.length || bytes(offset) != 'P' ||
      bytes(offset + 1) != '6') return None
    var pos = offset + 2
    def skipWs(): Unit = {
      var go = true
      while (go && pos < bytes.length) {
        val c = bytes(pos)
        if (c == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') pos += 1
        else go = false
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = 0L; var any = false
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        if (v <= Int.MaxValue) v = v * 10 + (bytes(pos) - '0')
        pos += 1; any = true
      }
      if (any && v <= Int.MaxValue) v.toInt else -1
    }
    val w = readInt(); val h = readInt(); val maxv = readInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255) return None
    pos += 1 // exactly one whitespace byte separates maxval from pixels
    val need = w.toLong * h * 3
    if (pos.toLong + need > bytes.length) return None
    Some((w, h, maxv, pos))
  }

  /** REAL decoder for binary PPM (P6): parses the header (magic,
    * whitespace, `#` comments, width, height, maxval) and the RGB pixel
    * plane, returning integer-exact channel statistics as the feature
    * vector: [w, h, sumR, sumG, sumB, sumAll, minByte, maxByte].
    * All values are integers < 2^24, hence exactly representable as
    * Float — the m01 oracle recomputes them in DuckDB and hash-matches.
    * Returns None for anything that is not a complete P6 image. */
  def decodePpm(bytes: Array[Byte]): Option[Array[Float]] = {
    val (w, h, _, pos) = parseP6(bytes, 0).getOrElse(return None)
    val need = w * h * 3 // safe: parseP6 verified the plane fits the array
    var sr = 0L; var sg = 0L; var sb = 0L
    var mn = 255; var mx = 0
    var i = 0
    while (i < need) {
      val v = bytes(pos + i) & 0xff
      (i % 3: @annotation.switch) match {
        case 0 => sr += v
        case 1 => sg += v
        case 2 => sb += v
      }
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    Some(Array(w.toFloat, h.toFloat, sr.toFloat, sg.toFloat, sb.toFloat,
      (sr + sg + sb).toFloat, mn.toFloat, mx.toFloat))
  }

  /** Difference-hash (dHash) perceptual fingerprint of a P6 image — the
    * standard cheap near-dup signature for image corpora: decode,
    * nearest-neighbor-resample the integer grayscale plane to a
    * (gw+1)×gh grid (same index arithmetic as [[resizePpm]]), emit one
    * bit per horizontal neighbor pair `g(x+1,y) > g(x,y)` — 64 bits at
    * the default 9×8. Every step is integer-exact ((r+g+b)/3 floor
    * division), so a SQL oracle replays the hash bit-for-bit. Returns
    * None for non-P6 input. */
  def dhashPpm(bytes: Array[Byte], gw: Int = 8, gh: Int = 8): Option[Long] = {
    require(gw >= 1 && gh >= 1 && gw * gh <= 64, s"dhash grid ${gw}x$gh > 64 bits")
    val (w, h, _, pos) = parseP6(bytes, 0).getOrElse(return None)
    var hash = 0L
    var bit = 0
    var y = 0
    while (y < gh) {
      val sy = (y.toLong * h / gh).toInt
      def gray(x: Int): Int = {
        val sx = (x.toLong * w / (gw + 1)).toInt
        val src = pos + (sy * w + sx) * 3
        ((bytes(src) & 0xff) + (bytes(src + 1) & 0xff) + (bytes(src + 2) & 0xff)) / 3
      }
      var x = 0
      var prev = gray(0)
      while (x < gw) {
        val cur = gray(x + 1)
        if (cur > prev) hash |= (1L << bit)
        prev = cur
        bit += 1
        x += 1
      }
      y += 1
    }
    Some(hash)
  }

  /** Sobel edge energy of a P6 image — the classic gradient-magnitude
    * feature (blur/quality proxy, cheap pre-filter before an expensive
    * vision model): integer grayscale `(r+g+b)/3` (floor), 3×3 Sobel
    * kernels over INTERIOR pixels, Σ(|gx|+|gy|). Images with no interior
    * (w<3 or h<3) report 0. Every step is integer-exact, so the m08
    * oracle replays the convolution closed-form from the synthetic pixel
    * formula. Returns None for non-P6 input. */
  def sobelEnergyPpm(bytes: Array[Byte]): Option[Long] = {
    val (w, h, _, pos) = parseP6(bytes, 0).getOrElse(return None)
    def gray(x: Int, y: Int): Int = {
      val src = pos + (y * w + x) * 3
      ((bytes(src) & 0xff) + (bytes(src + 1) & 0xff) + (bytes(src + 2) & 0xff)) / 3
    }
    var e = 0L
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val gx = -gray(x - 1, y - 1) + gray(x + 1, y - 1) +
          -2 * gray(x - 1, y) + 2 * gray(x + 1, y) +
          -gray(x - 1, y + 1) + gray(x + 1, y + 1)
        val gy = -gray(x - 1, y - 1) - 2 * gray(x, y - 1) - gray(x + 1, y - 1) +
          gray(x - 1, y + 1) + 2 * gray(x, y + 1) + gray(x + 1, y + 1)
        e += math.abs(gx) + math.abs(gy)
        x += 1
      }
      y += 1
    }
    Some(e)
  }

  // ---- PNG (REAL codec via the JDK's ImageIO — no new deps) -----------

  /** True when the buffer starts with the 8-byte PNG signature. */
  def isPng(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 8 &&
      (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G' && bytes(4) == 0x0d && bytes(5) == 0x0a &&
      bytes(6) == 0x1a && bytes(7) == 0x0a

  /** Per-batch reusable PNG writer: `ImageIO.write` pays a plugin
    * registry scan AND a disk-backed cache stream per CALL — at corpus
    * scale that overhead dominates the actual codec work (measured: the
    * per-call form put m10's second decade at 16×; batch reuse restores
    * linear). Memory-cached streams keep the executor off /tmp. */
  private def newPngWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next()

  private def newPngReader(): javax.imageio.ImageReader =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next()

  private def encodePngWith(writer: javax.imageio.ImageWriter,
      img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(img)
    ios.close()
    bos.toByteArray
  }

  // ---- JPEG (REAL codec via the JDK's ImageIO — the format every web
  // corpus actually ships; decode is NOT bit-portable across decoders
  // (IDCT variants), so JPEG paths are gated by feature-tolerance
  // contracts (m11), never byte equality like PNG's m10) ----------------

  /** True when the buffer starts with the JPEG SOI marker. */
  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 3 &&
      (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 &&
      (bytes(2) & 0xff) == 0xff

  private def newJpegWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()

  private def newJpegReader(): javax.imageio.ImageReader =
    javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()

  private def encodeJpegWith(writer: javax.imageio.ImageWriter,
      img: java.awt.image.BufferedImage, quality: Float): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close()
    bos.toByteArray
  }

  private def decodeImageWith(reader: javax.imageio.ImageReader,
      bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis, true, true)
      Some(reader.read(0))
    } catch {
      // NonFatal, not just IOException: a crafted PNG that passes the
      // signature check can make the JDK reader throw runtime exceptions
      // (forged IHDR dims, inconsistent palette). The ingest contract is
      // "undecodable rows DROP" — one bad image must not abort the job.
      case scala.util.control.NonFatal(_) => None
    }
    finally iis.close()
  }

  private def p6ToImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    val (w, h, _, pos) = parseP6(bytes, 0).getOrElse(return None)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // bulk setRGB: one color-model dispatch for the whole plane, not one
    // per pixel (the per-pixel form dominated the m10 decade row)
    val px = new Array[Int](w * h)
    var i = 0
    while (i < px.length) {
      val src = pos + i * 3
      px(i) = ((bytes(src) & 0xff) << 16) |
        ((bytes(src + 1) & 0xff) << 8) | (bytes(src + 2) & 0xff)
      i += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    Some(img)
  }

  private def imageToP6(img: java.awt.image.BufferedImage): Option[Array[Byte]] = {
    val w = img.getWidth; val h = img.getHeight
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > Int.MaxValue - 64) return None
    val header = s"P6\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    // bulk getRGB (one dispatch per plane; sRGB int pixels are exact for
    // 8-bit RGB PNG — no gamma/color transform applied by the JDK reader)
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      val dst = header.length + i * 3
      out(dst) = ((rgb >> 16) & 0xff).toByte
      out(dst + 1) = ((rgb >> 8) & 0xff).toByte
      out(dst + 2) = (rgb & 0xff).toByte
      i += 1
    }
    Some(out)
  }

  /** Encode a P6 image's pixels as PNG (JDK ImageIO writer) — the
    * staging/interchange direction: real corpora arrive AS PNG; the m10
    * gate uses this to stage bit-identical pixels in both formats.
    * One-shot form (creates and disposes its own writer); batch callers
    * go through [[transcodeToPng]]. Returns None for non-P6 input. */
  def ppmToPng(bytes: Array[Byte]): Option[Array[Byte]] = {
    val img = p6ToImage(bytes).getOrElse(return None)
    val writer = newPngWriter()
    try Some(encodePngWith(writer, img)) finally writer.dispose()
  }

  /** Decode a PNG (JDK ImageIO reader — 8-bit RGB PNG decode is
    * bit-deterministic) and re-emit canonical P6 bytes. Every downstream
    * feature (decodePpm / dhashPpm / sobelEnergyPpm / resizePpm) is
    * PIXEL-defined, so one exact transcode makes the whole feature
    * battery format-independent instead of teaching each kernel a second
    * container. Returns None for non-PNG or undecodable input. */
  def pngToPpm(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (!isPng(bytes)) return None
    val reader = newPngReader()
    try decodeImageWith(reader, bytes).flatMap(imageToP6)
    finally reader.dispose()
  }

  /** Shared batched-codec scaffold for the (media_id, bytes) →
    * (media_id, bytes) image passes: one codec instance per `batchSize`
    * rows (ImageIO's per-call plugin scan + cache stream would dominate
    * at corpus scale), strict inner map (the codec must not be touched
    * lazily after dispose), undecodable rows drop. */
  private def batchedBytesPass[C](media: DataFrame, batchSize: Int,
      mkCodec: () => C, disposeCodec: C => Unit,
      perRow: (C, Array[Byte]) => Option[Array[Byte]]): DataFrame = {
    require(batchSize > 0, s"batchSize=$batchSize must be positive")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bytes", BinaryType, nullable = true)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val codec = mkCodec()
        try {
          batch.flatMap { r =>
            // null bytes cells are undecodable rows: they DROP (the ingest
            // contract) rather than reaching a per-format parser that
            // would dereference bytes.length
            val b = r.getAs[Array[Byte]](bytesIdx)
            if (b == null) None
            else perRow(codec, b).map(Row(r.getLong(idIdx), _))
          }
        } finally disposeCodec(codec)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batched P6→PNG staging over a (media_id, bytes) frame: one reused
    * PNG writer per batch (the [[normalizeImages]] discipline — a real
    * codec initializes per batch, never per row). Non-P6 rows drop. */
  def transcodeToPng(media: DataFrame, batchSize: Int = 64): DataFrame =
    batchedBytesPass[javax.imageio.ImageWriter](media, batchSize,
      () => newPngWriter(), _.dispose(),
      (writer, b) => p6ToImage(b).map(encodePngWith(writer, _)))

  /** Batched P6→JPEG staging (the m11 gate's interchange direction):
    * one reused JPEG writer per batch, explicit quality (0.95 default —
    * the high-quality web-corpus shape). Non-P6 rows drop. */
  def transcodeToJpeg(media: DataFrame, batchSize: Int = 64,
      quality: Float = 0.95f): DataFrame =
    batchedBytesPass[javax.imageio.ImageWriter](media, batchSize,
      () => newJpegWriter(), _.dispose(),
      (writer, b) => p6ToImage(b).map(encodeJpegWith(writer, _, quality)))

  /** One-shot JPEG→canonical-P6 decode (batch callers ride
    * [[normalizeImages]]). Pixels are NOT bit-identical to the encoder's
    * input — JPEG is lossy and IDCTs differ across decoders — so
    * downstream comparisons must be tolerance contracts (m11), never
    * byte equality. Returns None for non-JPEG or undecodable input. */
  def jpegToPpm(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (!isJpeg(bytes)) return None
    val reader = newJpegReader()
    try decodeImageWith(reader, bytes).flatMap(imageToP6)
    finally reader.dispose()
  }

  /** Exclusive end offset of the JPEG frame starting at `start`, or -1
    * when the bytes from `start` are not one complete JPEG. A real
    * segment walk, not a naive FFD9 scan: entropy-coded scan data may
    * contain any byte pair EXCEPT FF-followed-by-a-real-marker (FF00 is
    * a stuffed data byte, FFD0-D7 are restart markers inside the scan),
    * so the walker parses segment lengths up to SOS and then skips
    * entropy data stuffed-byte-aware — the one correct way to split
    * concatenated JPEGs (a pixel-data FFD9 false positive would truncate
    * a frame). All arithmetic bounds-checked; hostile lengths return -1
    * rather than reading out of range. */
  private def jpegFrameEnd(bytes: Array[Byte], start: Int): Int = {
    if (start + 2 > bytes.length || (bytes(start) & 0xff) != 0xff ||
      (bytes(start + 1) & 0xff) != 0xd8) return -1
    var pos = start + 2
    while (pos + 2 <= bytes.length) {
      if ((bytes(pos) & 0xff) != 0xff) return -1
      // any run of FF bytes is fill; the marker is the first non-FF
      var mp = pos + 1
      while (mp < bytes.length && (bytes(mp) & 0xff) == 0xff) mp += 1
      if (mp >= bytes.length) return -1
      val marker = bytes(mp) & 0xff
      if (marker == 0xd9) return mp + 1 // EOI
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        pos = mp + 1 // standalone marker, no length field
      } else {
        if (mp + 3 > bytes.length) return -1
        val len = ((bytes(mp + 1) & 0xff) << 8) | (bytes(mp + 2) & 0xff)
        if (len < 2 || mp + 1 + len > bytes.length) return -1
        pos = mp + 1 + len
        if (marker == 0xda) {
          // SOS: entropy-coded data until the next REAL marker
          var done = false
          while (!done) {
            if (pos >= bytes.length) return -1
            if ((bytes(pos) & 0xff) == 0xff) {
              if (pos + 1 >= bytes.length) return -1
              val m = bytes(pos + 1) & 0xff
              if (m == 0x00 || (m >= 0xd0 && m <= 0xd7)) pos += 2
              else done = true // next segment marker (incl. EOI)
            } else pos += 1
          }
        }
      }
    }
    -1
  }

  /** REAL MJPEG (motion-JPEG) frame walker: byte offsets/lengths of
    * every complete JPEG in a concatenated-JPEG stream — the
    * `ffmpeg -f image2pipe -vcodec mjpeg` shape, the JPEG analog of
    * [[ppmStreamFrames]]. Empty unless the WHOLE buffer is consumed by
    * complete frames (trailing junk / truncation ⇒ not an MJPEG
    * stream). */
  def mjpegFrames(bytes: Array[Byte]): Seq[(Int, Int)] = {
    if (bytes == null || bytes.isEmpty) return Seq.empty
    val out = Seq.newBuilder[(Int, Int)]
    var pos = 0
    while (pos < bytes.length) {
      val end = jpegFrameEnd(bytes, pos)
      if (end < 0) return Seq.empty
      out += ((pos, end - pos))
      pos = end
    }
    out.result()
  }

  /** Batched P6-stream → MJPEG staging (the m12 gate's interchange
    * direction, continuing m10/m11's codec ladder to video): every P6
    * frame of the stream is JPEG-encoded (ONE reused writer per batch —
    * the [[normalizeImages]] discipline) and the frames concatenate to
    * the image2pipe MJPEG shape. Non-P6-stream rows drop. */
  def transcodeToMjpeg(media: DataFrame, batchSize: Int = 64,
      quality: Float = 0.95f): DataFrame =
    batchedBytesPass[javax.imageio.ImageWriter](media, batchSize,
      () => newJpegWriter(), _.dispose(),
      { (writer, b) =>
        val frames = ppmStreamFrames(b)
        if (frames.isEmpty) None
        else {
          val bos = new java.io.ByteArrayOutputStream()
          frames.foreach { case (off, len) =>
            // walked above, so p6ToImage cannot fail on these slices
            val img = p6ToImage(java.util.Arrays.copyOfRange(b, off, off + len))
              .getOrElse(sys.error(s"walked frame at $off failed to parse"))
            bos.write(encodeJpegWith(writer, img, quality))
          }
          Some(bos.toByteArray)
        }
      })

  /** Per-frame image statistics over a VIDEO column, format-dispatched:
    * P6 streams walk [[ppmStreamFrames]] and read stats off the raw
    * plane; MJPEG streams walk [[mjpegFrames]] and decode each frame
    * through a per-BATCH JPEG reader (m11's codec-reuse discipline) to
    * canonical P6 first. One row per sampled frame:
    * (media_id, frame_idx, w, h, dhash, mr_r, mr_g, mr_b) — dims, the
    * dHash fingerprint and per-channel means, i.e. exactly the fields
    * the m11/m12 tolerance contracts compare. Narrow, no shuffle;
    * non-video rows drop. */
  def frameStats(media: DataFrame, stride: Int = 1,
      maxFrames: Int = Int.MaxValue, batchSize: Int = 64): DataFrame = {
    require(stride >= 1 && maxFrames >= 1, s"bad sampling $stride/$maxFrames")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("w", IntegerType, nullable = false),
      StructField("h", IntegerType, nullable = false),
      StructField("dhash", LongType, nullable = false),
      StructField("mr_r", DoubleType, nullable = false),
      StructField("mr_g", DoubleType, nullable = false),
      StructField("mr_b", DoubleType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val reader = newJpegReader()
        try {
          // strict inner collection (the batchedBytesPass rule): the
          // reader must not be touched lazily after dispose
          batch.flatMap { r =>
            val bytes = r.getAs[Array[Byte]](bytesIdx)
            if (bytes == null) Seq.empty[Row]
            else {
              val id = r.getLong(idIdx)
              val p6Frames = ppmStreamFrames(bytes)
              val (frames, toP6): (Seq[(Int, Int)], Array[Byte] => Option[Array[Byte]]) =
                if (p6Frames.nonEmpty) (p6Frames, (fb: Array[Byte]) => Some(fb))
                else (mjpegFrames(bytes),
                  (fb: Array[Byte]) => decodeImageWith(reader, fb).flatMap(imageToP6))
              frameSampleIndices(frames.length, stride, maxFrames).flatMap { i =>
                val (off, len) = frames(i)
                val slice = java.util.Arrays.copyOfRange(bytes, off, off + len)
                toP6(slice).flatMap { p6 =>
                  for {
                    (w, h) <- ppmDims(p6)
                    dh <- dhashPpm(p6)
                    (mr, mg, mb) <- meanRgbPpm(p6)
                  } yield Row(id, i, w, h, dh, mr, mg, mb)
                }
              }
            }
          }
        } finally reader.dispose()
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Video near-dup pairs by SHARED FRAME FINGERPRINTS — the standard
    * first-pass video dedup of a training corpus (near-dup videos share
    * re-encoded/re-cut frames; per-frame perceptual hashes turn the
    * pairwise problem into an inverted-index join, the d02/d21 shape for
    * the video modality):
    *
    *  1. [[frameStats]] fingerprints every frame (dHash — P6 exact or
    *     MJPEG-decoded), narrow;
    *  2. distinct (video, hash) — a video repeating its own frame must
    *     not inflate pair counts;
    *  3. hash census caps the hot buckets ([[hotKeyPrune]] — explicit,
    *     off, or the census-derived DEFAULT): a fingerprint occurring in
    *     more than the cap's videos (black frames, title cards,
    *     test patterns — the degenerate mass of any real corpus) is
    *     excluded from pair generation, exactly like LSH's `maxBucket`:
    *     without the cap one ubiquitous frame makes the self-join
    *     quadratic in the corpus;
    *  4. self-join on the hash, count shared fingerprints per pair, keep
    *     pairs with ≥ `minShared`.
    *
    * Scale shape: one narrow decode pass; the only corpus-sized exchange
    * is keyed by frame hash (census reuses that partitioning); pair
    * output is bounded by the census cap. Returns (a, b, shared_frames),
    * a < b.
    *
    * `stride`/`maxFrames` thread through to [[frameStats]]: the decode
    * pass is the MEASURED dominant cost of this operator, so a
    * 100×-frame corpus (full-length video vs clips) fingerprints on a
    * sampled lattice instead of every frame. Recall semantics shift
    * with sampling: two near-dup videos are found iff they share a
    * fingerprint among the SAMPLED frames — same-alignment copies
    * (re-encodes, the dominant dup class) always are, since both sides
    * sample the same indices; arbitrarily-cut overlaps degrade
    * gracefully with 1/stride. */
  def videoDupPairs(media: DataFrame, minShared: Int = 1,
      maxVideosPerHash: Long = -1L, stride: Int = 1,
      maxFrames: Int = Int.MaxValue): DataFrame =
    videoDupPairsWithStats(media, minShared, maxVideosPerHash, stride,
      maxFrames)._1

  /** [[videoDupPairs]] plus the DROPPED-fingerprint census
    * `(dhash, n, cap)` — the [[graft.dedup.Dedup.simhashPairsWithStats]]
    * observability contract for the video modality: a capped run is
    * never silently lossy. */
  def videoDupPairsWithStats(media: DataFrame, minShared: Int = 1,
      maxVideosPerHash: Long = -1L, stride: Int = 1,
      maxFrames: Int = Int.MaxValue): (DataFrame, DataFrame) = {
    val (_, pairs, dropped) = videoPairsCore(media, minShared,
      maxVideosPerHash, stride, maxFrames)
    (pairs, dropped)
  }

  /** The frame-fingerprint-index core shared by the video pair/assign/
    * cluster fronts. Returns (decodable video ids, pairs, dropped
    * census) — the id universe rides the already-checkpointed
    * fingerprint table (no second decode). */
  private def videoPairsCore(media: DataFrame, minShared: Int,
      maxVideosPerHash: Long, stride: Int, maxFrames: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(minShared >= 1, s"minShared=$minShared")
    // localCheckpoint the distinct fingerprint table: it is referenced
    // FOUR times downstream (census twice through the join, both
    // self-join sides), and Spark does not reuse the RDD-scan exchange
    // across those references (measured: 4 full decode passes without
    // this) — the DECODE is the dominant cost, so it must run once. The
    // checkpointed table is (video, hash) rows — 12 bytes/frame, orders
    // smaller than the media bytes, the duplicateClusters discipline.
    val vh = frameStats(media, stride, maxFrames)
      .select(col("media_id"), col("dhash")).distinct()
      .localCheckpoint()
    val ids = vh.select(col("media_id")).distinct()
    val census = vh.groupBy(col("dhash")).agg(count(lit(1)).as("n"))
    val (ok, dropped) = hotKeyPrune(census, Seq("dhash"), maxVideosPerHash)
    val indexed = vh.join(ok, Seq("dhash"))
    val l = indexed.select(col("dhash"), col("media_id").as("a"))
    val r = indexed.select(col("dhash"), col("media_id").as("b"))
    val pairs = l.join(r, Seq("dhash")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
    (ids, pairs, dropped)
  }

  /** Per-VIDEO near-dup cluster assignment — the video analog of
    * [[imageDupAssign]] ([[audioDupAssign]] is the audio cell): one row
    * per decodable video `(media_id, rep)`, rep = minimum video id of
    * its shared-fingerprint component, own id for singletons. Composes
    * with [[graft.dedup.Dedup.keepBestAssigned]] so callers stop
    * re-deriving CC from the pair table. */
  def videoDupAssign(media: DataFrame, minShared: Int = 1,
      maxVideosPerHash: Long = -1L, stride: Int = 1,
      maxFrames: Int = Int.MaxValue, ccRegime: String = "auto"): DataFrame =
    videoDupAssignWithStats(media, minShared, maxVideosPerHash, stride,
      maxFrames, ccRegime)._1

  /** [[videoDupAssign]] plus the dropped-fingerprint census. */
  def videoDupAssignWithStats(media: DataFrame, minShared: Int = 1,
      maxVideosPerHash: Long = -1L, stride: Int = 1,
      maxFrames: Int = Int.MaxValue, ccRegime: String = "auto")
      : (DataFrame, DataFrame) = {
    val (ids, pairs, dropped) = videoPairsCore(media, minShared,
      maxVideosPerHash, stride, maxFrames)
    (assignReps(ids, pairs, ccRegime), dropped)
  }

  /** Video near-dup CLUSTER census — one row per cluster
    * `(rep, n_members)` incl. singletons (the [[imageDupClusters]]
    * contract at video granularity). */
  def videoDupClusters(media: DataFrame, minShared: Int = 1,
      maxVideosPerHash: Long = -1L, stride: Int = 1,
      maxFrames: Int = Int.MaxValue, ccRegime: String = "auto"): DataFrame =
    videoDupClustersWithStats(media, minShared, maxVideosPerHash, stride,
      maxFrames, ccRegime)._1

  /** [[videoDupClusters]] plus the dropped-fingerprint census. */
  def videoDupClustersWithStats(media: DataFrame, minShared: Int = 1,
      maxVideosPerHash: Long = -1L, stride: Int = 1,
      maxFrames: Int = Int.MaxValue, ccRegime: String = "auto")
      : (DataFrame, DataFrame) = {
    val (asg, dropped) = videoDupAssignWithStats(media, minShared,
      maxVideosPerHash, stride, maxFrames, ccRegime)
    (clusterCensus(asg), dropped)
  }

  /** 64-bit energy-band fingerprint of one PCM window — the audio
    * perceptual hash of the modality×dedup matrix (text SimHash, image
    * dHash, video frame-dHash, THIS): 8 equal time bands, per band the
    * mean |amplitude| quantized to 7 bits (`min(127, meanAbs >> 4)`),
    * packed byte-per-band (always non-negative — every SQL engine
    * replays it without sign games). The time-banded analog of the
    * Chromaprint/Shazam spectral-band signature: integer-exact end to
    * end, which is what lets a DuckDB oracle hash-verify the whole
    * dedup path; an FFT filterbank would slot in at exactly this seam
    * with the same inverted-index shape downstream. Quantizing by 16
    * absorbs small amplitude jitter while keeping unrelated windows
    * apart (uniform speech-scale audio spans ~2⁶ quantized levels per
    * band). */
  def audioWindowFingerprint(s: Array[Int], off: Int, len: Int): Long = {
    require(len >= 8 && len % 8 == 0, s"window length $len not 8-banded")
    val subLen = len / 8
    var fp = 0L
    var b = 0
    while (b < 8) {
      var sumAbs = 0L
      var i = off + b * subLen
      val end = i + subLen
      while (i < end) { sumAbs += math.abs(s(i)); i += 1 }
      fp |= math.min(127L, (sumAbs / subLen) >> 4) << (8 * b)
      b += 1
    }
    fp
  }

  /** Per-clip window fingerprints (media_id, fp), format-dispatched
    * (WAV passthrough / FLAC lossless decode — the [[normalizeAudio]]
    * front-door contract), one fingerprint per FULL `windowLen`-sample
    * window on a `hop`-strided lattice (the partial tail drops: a
    * window must mean the same thing in every clip for the inverted
    * index to be an equality join). Narrow, scan-parallel; undecodable
    * rows drop.
    *
    * RECALL SEMANTICS (the m14-stride discipline for the time axis):
    * the index is an EQUALITY join on whole-window fingerprints, so two
    * clips share a fingerprint iff their common audio is aligned to the
    * same lattice offsets in both. The default `hop = 0` means
    * hop = windowLen (non-overlapping grid): cheapest — one fingerprint
    * per windowLen samples — but a shared segment OFFSET by a
    * non-multiple of windowLen in either clip lands on no common
    * window and is invisible. `hop = windowLen/2` (or any divisor)
    * makes every offset that is a multiple of `hop` recoverable at
    * `windowLen/hop`× fingerprint mass — the classic
    * hopped-STFT/Shazam trade. Arbitrary sample-level offsets would
    * need landmark pairs (onset-anchored), which slot in at this seam
    * with the same inverted-index shape downstream; the m17 gate pins
    * the half-hop regime's recall closed-form. */
  def audioFingerprints(media: DataFrame, windowLen: Int = 1024,
      hop: Int = 0): DataFrame = {
    require(windowLen >= 8 && windowLen % 8 == 0,
      s"windowLen=$windowLen must be a positive multiple of 8")
    val hopLen = if (hop == 0) windowLen else hop
    require(hopLen >= 1 && windowLen % hopLen == 0,
      s"hop=$hop must divide windowLen=$windowLen (0 = grid mode)")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    // no per-batch grouping: unlike the image passes there is no shared
    // codec resource to amortize — the pure-Scala decoders are plain
    // function calls, so a row-wise flatMap is the whole pass
    val rdd = media.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](bytesIdx)
        val pcm =
          if (bytes == null) None
          else if (Flac.isFlac(bytes)) Flac.decodeSamples(bytes).map(_._2)
          else decodeWavSamples(bytes)
        pcm.toSeq.flatMap { s =>
          val id = r.getLong(idIdx)
          // guard the short-clip case BEFORE the division: a negative
          // numerator truncates toward zero and would emit one
          // out-of-bounds window
          if (s.length < windowLen) Seq.empty
          else (0 to (s.length - windowLen) / hopLen).map(w =>
            Row(id, audioWindowFingerprint(s, w * hopLen, windowLen)))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Audio near-dup pairs by shared window fingerprints — completes the
    * modality×dedup matrix (d02 text, m15 image, m14 video, THIS audio)
    * with the same inverted-index discipline as [[videoDupPairs]]:
    *
    *  1. [[audioFingerprints]] — one decode pass, narrow;
    *  2. distinct (clip, fp) — a clip repeating its own window (loops,
    *     silence runs) must not inflate pair counts;
    *  3. fingerprint census caps the hot keys ([[hotKeyPrune]] —
    *     explicit, off, or the census-derived DEFAULT): silence and
    *     test-tone windows are audio's black frames, present in a huge
    *     fraction of any real corpus, and square the self-join uncapped;
    *  4. self-join on fp, count shared windows per pair, keep pairs
    *     with ≥ `minShared`.
    *
    * Scale shape: the only corpus-sized exchange is keyed by fingerprint
    * (the census reuses that partitioning); everything downstream is
    * fingerprint-table-sized. Returns (a, b, shared_windows), a < b. */
  def audioDupPairs(media: DataFrame, windowLen: Int = 1024,
      minShared: Int = 1, maxClipsPerFingerprint: Long = -1L,
      hop: Int = 0): DataFrame =
    audioDupPairsWithStats(media, windowLen, minShared,
      maxClipsPerFingerprint, hop)._1

  /** [[audioDupPairs]] plus the DROPPED-fingerprint census
    * `(fp, n, cap)` — the capped-run observability contract. */
  def audioDupPairsWithStats(media: DataFrame, windowLen: Int = 1024,
      minShared: Int = 1, maxClipsPerFingerprint: Long = -1L,
      hop: Int = 0): (DataFrame, DataFrame) = {
    val (_, pairs, dropped) = audioPairsCore(media, windowLen, minShared,
      maxClipsPerFingerprint, hop)
    (pairs, dropped)
  }

  /** The fingerprint-index core shared by the audio pair/assign/cluster
    * fronts: one decode pass, distinct, census cap, inverted-index
    * self-join. Returns (ids of clips with ≥1 full window, pairs,
    * dropped census) — the id universe rides the already-checkpointed
    * fingerprint table, so the cluster fronts get their singleton rows
    * without a second decode (the price: a decodable clip shorter than
    * windowLen emits no fingerprint and is absent from the universe —
    * see [[audioDupAssign]]'s scaladoc). */
  private def audioPairsCore(media: DataFrame, windowLen: Int,
      minShared: Int, maxClipsPerFingerprint: Long, hop: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(minShared >= 1, s"minShared=$minShared")
    // checkpoint AFTER the distinct: the fingerprint table is referenced
    // four times downstream and exchange reuse over RDD-sourced subtrees
    // does not happen (the measured videoDupPairs lesson) — the decode
    // must run once
    val cf = audioFingerprints(media, windowLen, hop)
      .distinct().localCheckpoint()
    val ids = cf.select(col("media_id")).distinct()
    val census = cf.groupBy(col("fp")).agg(count(lit(1)).as("n"))
    val (ok, dropped) =
      hotKeyPrune(census, Seq("fp"), maxClipsPerFingerprint)
    val indexed = cf.join(ok, Seq("fp"))
    val l = indexed.select(col("fp"), col("media_id").as("a"))
    val r = indexed.select(col("fp"), col("media_id").as("b"))
    val pairs = l.join(r, Seq("fp")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
    (ids, pairs, dropped)
  }

  /** Per-CLIP near-dup cluster assignment — the audio analog of
    * [[imageDupAssign]], closing the m15-shaped cluster contract across
    * the modality matrix: one row per clip WITH ≥1 FULL FINGERPRINT
    * WINDOW `(media_id, rep)` where rep is the minimum clip id of its
    * shared-fingerprint component (its own id for singletons). The id
    * universe rides the fingerprint table (no second decode —
    * [[audioPairsCore]]), so a clip that decodes but is shorter than
    * `windowLen` (zero full windows) is ABSENT from the assignment and
    * the cluster-census mass; it cannot be in any pair, so callers that
    * must keep such clips pass them through
    * [[graft.dedup.Dedup.keepBestAssigned]]'s left-anti singleton arm
    * (which is also the composition seam — the caller no longer
    * re-derives connected components from the pair table; p25 consumed
    * exactly that before round 13).
    *
    * Scale shape: the CC runs over the SPARSE pair table; the
    * assignment join is id-keyed against the fingerprint-table-derived
    * id universe (no second decode — [[audioPairsCore]]). */
  def audioDupAssign(media: DataFrame, windowLen: Int = 1024,
      minShared: Int = 1, maxClipsPerFingerprint: Long = -1L,
      hop: Int = 0, ccRegime: String = "auto"): DataFrame =
    audioDupAssignWithStats(media, windowLen, minShared,
      maxClipsPerFingerprint, hop, ccRegime)._1

  /** [[audioDupAssign]] plus the dropped-fingerprint census. */
  def audioDupAssignWithStats(media: DataFrame, windowLen: Int = 1024,
      minShared: Int = 1, maxClipsPerFingerprint: Long = -1L,
      hop: Int = 0, ccRegime: String = "auto"): (DataFrame, DataFrame) = {
    val (ids, pairs, dropped) = audioPairsCore(media, windowLen,
      minShared, maxClipsPerFingerprint, hop)
    (assignReps(ids, pairs, ccRegime), dropped)
  }

  /** Audio near-dup CLUSTER census — pairs → regime-dispatched CC →
    * one row per cluster `(rep, n_members)` incl. singletons (the
    * [[imageDupClusters]] contract at clip granularity). */
  def audioDupClusters(media: DataFrame, windowLen: Int = 1024,
      minShared: Int = 1, maxClipsPerFingerprint: Long = -1L,
      hop: Int = 0, ccRegime: String = "auto"): DataFrame =
    audioDupClustersWithStats(media, windowLen, minShared,
      maxClipsPerFingerprint, hop, ccRegime)._1

  /** [[audioDupClusters]] plus the dropped-fingerprint census. */
  def audioDupClustersWithStats(media: DataFrame, windowLen: Int = 1024,
      minShared: Int = 1, maxClipsPerFingerprint: Long = -1L,
      hop: Int = 0, ccRegime: String = "auto"): (DataFrame, DataFrame) = {
    val (asg, dropped) = audioDupAssignWithStats(media, windowLen,
      minShared, maxClipsPerFingerprint, hop, ccRegime)
    (clusterCensus(asg), dropped)
  }

  // ---- incremental audio fingerprint index ----------------------------

  /** Build a persistent audio fingerprint index so later clip batches
    * deduplicate incrementally — the audio face of
    * [[graft.dedup.Dedup.buildLshIndex]]: daily ingest probes the store
    * by fingerprint, O(batch) per append, the store scanned once and
    * never re-fingerprinted. Layout: `path/fps/batch=base` holds the
    * distinct (id, fp) table ([[audioFingerprints]] — same windowLen
    * and hop MUST be used for every append; fingerprints are
    * hash-free integer functions of the samples, so build + appends in
    * any batch order produce exactly the pairs of a one-shot
    * [[audioDupPairs]] over the union when uncapped (st21-gated). */
  def buildAudioIndex(media: DataFrame, path: String,
      windowLen: Int = 1024, hop: Int = 0): Unit = {
    audioFingerprints(media, windowLen, hop).distinct()
      .withColumnRenamed("media_id", "id")
      .write.mode("overwrite").parquet(s"$path/fps/batch=base")
    // seed the STORE-WIDE cap statistics ([[graft.dedup.Census]]): exact
    // at build time, appends accumulate their own one-row segments
    val spark = media.sparkSession
    val (rows, keys) = Census.postingStats(
      spark.read.parquet(s"$path/fps/batch=base"), Seq("fp"))
    Census.writeCapStats(spark, path, "base", rows, keys)
  }

  /** Append a clip batch to a [[buildAudioIndex]] store and return the
    * verified near-dup pairs INVOLVING the new clips (new↔old and
    * new↔new; old↔old pairs were reported when appended) — the st20
    * foreachBatch discipline for the audio modality.
    *
    * Scale shape: the batch is fingerprinted narrowly (one decode) and
    * BROADCAST against the store's fingerprint table — the corpus-sized
    * side is scanned once, unshuffled. Durability/ordering: the pair
    * report is written to `pairs/batch=<id>` BEFORE the store gains the
    * batch's `fps/batch=<id>` segment, and the returned frame reads the
    * written report (no lazy plan can observe the post-append store);
    * re-running a `batchId` overwrites both segments and plan-time
    * `batch =!= batchId` filters exclude them from "old" — idempotent
    * re-ingest, exactly-once under streaming epoch replay.
    *
    * Cap semantics under incrementality: `maxClipsPerFingerprint`
    * applies to the census over (old∪new) RESTRICTED to the batch's
    * fingerprints AT APPEND TIME — only batch fingerprints can form new
    * pairs, so for an explicit cap the results are provably identical
    * to a census over the full store, while the per-trigger plan stays
    * batch-keyed (the store is scanned once behind a broadcast
    * semi-join on the batch's fingerprints and NEVER shuffled — the
    * round-13 verdict's O(store)-per-trigger fix). The census-derived
    * default (-1) derives its cap from the STORE-WIDE capstats segments
    * ([[graft.dedup.Census]], round 15): a batch-restricted derive
    * drifts with batch composition — a small batch concentrated on one
    * degenerate fingerprint (silence windows) inflates the mean and
    * RAISES the cap exactly when the protection matters; the store-wide
    * statistic is conservative by construction. Reports are
    * append-time-consistent — a fingerprint that crosses the cap in a
    * LATER batch keeps its earlier reports (no retraction), so exact
    * one-shot equality holds uncapped (the st21 gate regime) or when no
    * key crosses the cap mid-stream; the default census-derived cap
    * still bounds every append's blowup on degenerate keys. */
  def appendToAudioIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newMedia: DataFrame, batchId: String,
      windowLen: Int = 1024, hop: Int = 0, minShared: Int = 1,
      maxClipsPerFingerprint: Long = -1L,
      broadcastMaxBatchRows: Long = 4000000L,
      compactEvery: Int = 0): DataFrame = {
    require(batchId.matches("[A-Za-z0-9_-]+") && batchId != "base",
      s"batchId must be a fresh [A-Za-z0-9_-]+ segment name, got '$batchId'")
    require(minShared >= 1, s"minShared=$minShared")
    val mat = new Census.Materialised
    try {
      val newFps = mat.keep(audioFingerprints(newMedia, windowLen, hop)
        .distinct().withColumnRenamed("media_id", "id"))
      // ONE small aggregate over the cached batch feeds BOTH census
      // disciplines: (a) the broadcast gate — a backfill-sized batch
      // degrades to an AQE-picked shuffle join instead of OOMing the
      // driver with an unconditional broadcast; (b) the batch's one-row
      // capstats segment
      val (bRows, bKeys) = Census.postingStats(newFps, Seq("fp"))
      val oldFps = spark.read.parquet(s"$path/fps")
        .filter(col("batch") =!= batchId).drop("batch")
      val cap = Census.appendCap(spark, path, batchId,
        maxClipsPerFingerprint, bRows, bKeys)
      val (pairs, dropped) = audioAppendPairsTracked(oldFps, newFps,
        minShared, cap, mat, broadcastBatch = bRows <= broadcastMaxBatchRows)
      // disk barrier: report first, then the dropped-fingerprint
      // observability frame, then the store segment
      pairs.write.mode("overwrite").parquet(s"$path/pairs/batch=$batchId")
      if (dropped != null)
        dropped.write.mode("overwrite").parquet(s"$path/dropped/batch=$batchId")
      newFps.write.mode("overwrite").parquet(s"$path/fps/batch=$batchId")
      Census.writeCapStats(spark, path, batchId, bRows, bKeys)
    } finally mat.release()
    // auto-compaction AFTER this batch's segments are durable: folds
    // strictly below the live batch (the st26 watermark contract)
    if (compactEvery > 0)
      graft.operators.SegmentStore.autoCompact(spark, path, "fps",
        batchId, compactEvery)
    spark.read.parquet(s"$path/pairs/batch=$batchId").drop("batch")
  }

  /** Right-to-be-forgotten over a [[buildAudioIndex]] store — the
    * [[graft.dedup.Dedup.removeFromLshIndex]] contract for the audio
    * modality: fingerprint postings and pair reports naming a removed
    * clip are retracted, capstats recomputed exactly. Gate m20. */
  def removeFromAudioIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, removeIds: DataFrame,
      purgeDropped: Boolean = false): Unit =
    graft.operators.SegmentStore.removeFromSegmentStore(spark, path,
      removeIds,
      idCols = Map("fps" -> Seq("id"), "pairs" -> Seq("a", "b")),
      capstatsFrom = Some(("fps", Seq("fp"))),
      purgeDropped = purgeDropped)

  /** The pair plan of [[appendToAudioIndex]] — split out so its shape
    * is plan-testable (PlanSpec pins that the store side is never
    * shuffled, in BOTH cap regimes, and that the report scans it once).
    * `oldFps`/`newFps` are (id, fp) tables. Returns the pairs and the
    * dropped-fingerprint census (null in the uncapped regime — no
    * census is computed).
    *
    * [[Census.appendCensus]] materialises into `mat` the
    * store fingerprints in the batch's keys and the kept keys — both
    * batch-bounded, each referred to several times below, which AQE
    * would otherwise run once per reference; the caller releases `mat`
    * after writing the report. Batch-derived frames are broadcast only
    * when the caller's batch census said so; above the bound the hint is
    * withheld and AQE picks the shuffle strategy (backfill-sized
    * re-ingest degrades, never OOMs the driver). */
  private[graft] def audioAppendPairsTracked(oldFps: DataFrame,
      newFps: DataFrame, minShared: Int, maxClipsPerFingerprint: Long,
      mat: Census.Materialised,
      broadcastBatch: Boolean = true): (DataFrame, DataFrame) = {
    def hint(df: DataFrame): DataFrame =
      if (broadcastBatch) broadcast(df) else df
    val (okNew, okOld, dropped) = Census.appendCensus(oldFps,
      newFps, Seq("fp"), maxClipsPerFingerprint, broadcastBatch, mat)
    val newVsOld = okOld.join(
        hint(okNew.withColumnRenamed("id", "nid")), Seq("fp"))
      .filter(col("id") =!= col("nid"))
      .select(least(col("id"), col("nid")).as("a"),
        greatest(col("id"), col("nid")).as("b"))
    val l = okNew.as("l"); val r = okNew.as("r")
    val newVsNew = l.join(hint(r),
        col("l.fp") === col("r.fp") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
    (newVsOld.unionByName(newVsNew)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared), dropped)
  }

  /** Silence-free planted-overlap clip for the st21 streamed-ingest
    * gate: seg(id) ++ seg(id+3) (stride-3 sharing, FLAC/WAV parity
    * dispatch, NO hot key). The seg waveform is FINGERPRINT-INJECTIVE
    * by construction: band b of seg(k) holds the constant amplitude
    * `16·((k·41 + b) mod M(b))` with per-band co-prime moduli M =
    * (97,101,103,107,109,113,89,127), so the 8-band quantized
    * fingerprint equals `Σ ((k·41+b) mod M(b)) << 8b` EXACTLY (sum of
    * 8 constant |amplitudes| / 8 >> 4 recovers the level), and two
    * segs share a fingerprint only when k ≡ k' mod lcm(M) ≈ 1.2e16 —
    * i.e. never, except the PLANTED seg(id+3) share. That matters at
    * scale: the first corpus draft reused [[overlapClipFromId]]'s
    * pseudo-random ±2000 waveform, whose mean-|amp| concentrates all
    * bands near one quantized level — millions of clips aliased into a
    * handful of fingerprint buckets and the gate's UNCAPPED self-join
    * (uncapped is what makes one-shot == build∪appends exact)
    * squared on them. Production corpora handle that with the census
    * cap; an exactness gate needs a corpus where uncapped is linear.
    * See [[appendToAudioIndex]] for the cap's append-time-view
    * caveat. */
  def segClipFromId(id: Long, windowLen: Int = 64): Array[Byte] = {
    val mods = Array(97, 101, 103, 107, 109, 113, 89, 127)
    val sub = windowLen / 8
    def seg(k: Long): Array[Int] =
      Array.tabulate(windowLen) { i =>
        val b = i / sub
        (16L * ((k * 41 + b) % mods(b))).toInt
      }
    val pcm = seg(id) ++ seg(id + 3)
    val rate = (8000 + (id % 4) * 4000).toInt
    if (id % 2 == 0) Flac.encode(pcm, rate) else wavFromPcm(rate, pcm)
  }

  /** (id universe, pairs) → per-id rep assignment: CC over the SPARSE
    * pair table ([[graft.dedup.Dedup.duplicateClustersAuto]] — regime
    * dispatched, warm-started fallback), singletons coalesce to their
    * own id. Shared by the audio and video cluster fronts. */
  private def assignReps(ids: DataFrame, pairs: DataFrame,
      ccRegime: String): DataFrame = {
    val cc = graft.dedup.Dedup
      .duplicateClustersAuto(pairs.select(col("a"), col("b")),
        regime = ccRegime)
      .withColumnRenamed("doc_id", "media_id")
    ids.join(cc, Seq("media_id"), "left_outer")
      .select(col("media_id"),
        coalesce(col("rep"), col("media_id")).as("rep"))
  }

  /** Assignment → cluster census `(rep, n_members)`. */
  private def clusterCensus(asg: DataFrame): DataFrame =
    asg.groupBy(col("rep")).agg(count(lit(1)).as("n_members"))

  /** Image near-dup CLUSTERS by banded perceptual hash — the image
    * analog of SimHash-banded text dedup (d03/d08), shaped for the
    * corpus reality that near-dup images arrive in LARGE groups (crops,
    * re-encodes, thumbnails): pair output would be quadratic in group
    * size, so the operator clusters the DISTINCT-hash table instead and
    * reports a census per cluster.
    *
    *  1. dHash per image (narrow decode), then the hash census — the
    *     distinct-hash table, orders smaller than the corpus;
    *  2. 4×16-bit bands over the distinct hashes: by pigeonhole, two
    *     hashes within Hamming ≤ 3 share at least one band EXACTLY, so
    *     the band join has FULL recall at the default radius;
    *  3. band-joined candidate pairs, exact Hamming filter;
    *  4. connected components over the hash graph ([[graft.dedup.Dedup
    *     .duplicateClusters]] — hashes are mapped through XOR MinValue
    *     so min-label CC picks the UNSIGNED-minimum hash as the rep,
    *     the order an engine-free replay can compute);
    *  5. join the census back: one row per cluster with the unsigned
    *     rep split into uint32 halves (exact BIGINT math for replays),
    *     total images and distinct hashes.
    *
    * `maxPerBand` caps hot bands exactly like LSH's maxBucket
    * ([[hotKeyPrune]] — explicit, off, or the census-derived DEFAULT) —
    * at real corpus scale a degenerate band key (flat thumbnails) would
    * square; capped keys fall out of pair generation and their hashes
    * cluster alone. `ccRegime` picks the components regime
    * ([[graft.dedup.Dedup.duplicateClustersAuto]] — min-label, star
    * contraction, or the measured-probe auto DEFAULT). */
  def imageDupClusters(media: DataFrame, maxHamming: Int = 3,
      maxPerBand: Long = -1L, ccRegime: String = "auto"): DataFrame =
    imageDupClustersWithStats(media, maxHamming, maxPerBand, ccRegime)._1

  /** [[imageDupClusters]] plus the DROPPED-band census
    * `(band, key, n, cap)` — the capped-run observability contract
    * ([[hotKeyPrune]]): hashes in a dropped band fall out of pair
    * generation there and may cluster apart. */
  def imageDupClustersWithStats(media: DataFrame, maxHamming: Int = 3,
      maxPerBand: Long = -1L, ccRegime: String = "auto")
      : (DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding guarantees full recall only to Hamming 3, got $maxHamming")
    // Option return → nullable column: -1L (all-ones dHash) is a
    // LEGITIMATE hash (any strictly-brightening 8x9 grid produces it),
    // so undecodable must be NULL, not a sentinel the census would drop
    val dh = udf((b: Array[Byte]) => dhashPpm(b))
    // census = ONE decode pass; referenced by bands (twice through the
    // self-join) and the final join-back — checkpoint, the
    // videoDupPairs lesson (Spark re-ran the RDD subtree per reference)
    val hashes = media.select(dh(col("bytes")).as("phash"))
      .filter(col("phash").isNotNull)
      .groupBy(col("phash")).agg(count(lit(1)).as("n_images"))
      .localCheckpoint()
    val (reps, dropped) = hashClusterReps(hashes, maxHamming, maxPerBand,
      ccRegime)
    val clusters = hashes.join(reps, Seq("phash"), "left_outer")
      .withColumn("r", coalesce(col("rep"), col("phash")))
      .groupBy(col("r"))
      .agg(sum(col("n_images")).as("n_images"),
        count(lit(1)).as("n_hashes"))
      .select(
        expr("shiftrightunsigned(r, 32)").as("rep_hi"),
        col("r").bitwiseAND(lit(0xFFFFFFFFL)).as("rep_lo"),
        col("n_images"), col("n_hashes"))
    (clusters, dropped)
  }

  /** The banded-dHash cluster core shared by [[imageDupClustersWithStats]]
    * and [[imageDupAssignWithStats]]: `hashes` is the DISTINCT-hash table
    * (column `phash`, already checkpointed by the caller — this helper
    * references it three times and must not re-run its decode). Returns
    * (hash→rep map in ORIGINAL signed space — reps are the
    * unsigned-minimum member hash, absent rows are singleton hashes;
    * dropped-band census).
    *
    *  1. 4×16-bit bands over the distinct hashes: by pigeonhole, two
    *     hashes within Hamming ≤ 3 share at least one band EXACTLY, so
    *     the band join has FULL recall at the default radius;
    *  2. band-joined candidate pairs, exact Hamming filter;
    *  3. connected components over the hash graph — hashes are mapped
    *     through XOR MinValue (order-preserving signed→unsigned) so
    *     min-label CC elects the UNSIGNED-minimum hash as the rep, the
    *     order an engine-free SQL replay can compute; the CC regime is
    *     dispatched ([[graft.dedup.Dedup.duplicateClustersAuto]]) because
    *     gradual-crop image chains are the image analog of transcript
    *     chains — min-label's O(diameter) rounds lose to star
    *     contraction there. */
  private def hashClusterReps(hashes: DataFrame, maxHamming: Int,
      maxPerBand: Long, ccRegime: String): (DataFrame, DataFrame) = {
    val bandCols = (0 until 4).map { i =>
      struct(lit(i).as("band"),
        shiftrightunsigned(col("phash"), i * 16)
          .bitwiseAND(lit(0xFFFFL)).as("key"))
    }
    val bands = hashes.select(col("phash"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("phash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val bandCensus = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
    val (okBands, dropped) =
      hotKeyPrune(bandCensus, Seq("band", "key"), maxPerBand)
    val banded = bands.join(okBands, Seq("band", "key"))
    val l = banded.select(col("band"), col("key"), col("phash").as("pa"))
    val r = banded.select(col("band"), col("key"), col("phash").as("pb"))
    // Hamming filter BEFORE the distinct: bit_count is one codegen'd
    // instruction per candidate, the distinct is a SHUFFLE — on a
    // dissimilar corpus most band-joined candidates fail the radius, so
    // filtering first shrinks the exchange by the failure rate, at the
    // cost of re-computing bit_count for the ≤4-band duplicates of the
    // survivors (measured: m15 sf10 4.35 s → 3.38 s at a flat anchor,
    // sf1 neutral within jitter; same result set — filter and distinct
    // commute)
    val pairs = l.join(r, Seq("band", "key")).filter(col("pa") < col("pb"))
      .filter(bit_count(col("pa").bitwiseXOR(col("pb"))) <= maxHamming)
      .select(col("pa"), col("pb")).distinct()
    val shifted = pairs.select(
      col("pa").bitwiseXOR(lit(Long.MinValue)).as("a"),
      col("pb").bitwiseXOR(lit(Long.MinValue)).as("b"))
    val reps = graft.dedup.Dedup.duplicateClustersAuto(shifted,
        regime = ccRegime)
      .select(col("doc_id").bitwiseXOR(lit(Long.MinValue)).as("phash"),
        col("rep").bitwiseXOR(lit(Long.MinValue)).as("rep"))
    (reps, dropped)
  }

  /** Per-MEDIA near-dup cluster assignment — [[imageDupClusters]]' hash
    * graph joined back to media granularity: one row per decodable image
    * `(media_id, rep_hi, rep_lo)` where rep is the unsigned-minimum hash
    * of the image's Hamming-≤`maxHamming` component (its own hash when
    * the image is a singleton). This is the seam a curation pipeline
    * needs between near-dup detection and canonical selection: group by
    * (rep_hi, rep_lo) and keep the best-scored member (the
    * [[graft.dedup.Dedup.keepBestPerCluster]] discipline at media
    * granularity — p25 composes exactly that).
    *
    * Scale shape: ONE decode pass (the (media_id, phash) table is
    * checkpointed and is the only corpus-sized frame); the band join,
    * Hamming filter and CC all run on the DISTINCT-hash table, orders
    * smaller; the final join-back is hash-keyed. Undecodable rows drop
    * (the [[normalizeImages]] front-door contract). */
  def imageDupAssign(media: DataFrame, maxHamming: Int = 3,
      maxPerBand: Long = -1L, ccRegime: String = "auto"): DataFrame =
    imageDupAssignWithStats(media, maxHamming, maxPerBand, ccRegime)._1

  /** [[imageDupAssign]] plus the DROPPED-band census `(band, key, n,
    * cap)` — the capped-run observability contract ([[hotKeyPrune]]). */
  def imageDupAssignWithStats(media: DataFrame, maxHamming: Int = 3,
      maxPerBand: Long = -1L, ccRegime: String = "auto")
      : (DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding guarantees full recall only to Hamming 3, got $maxHamming")
    val dh = udf((b: Array[Byte]) => dhashPpm(b))
    // ONE decode pass at media granularity; the distinct-hash census
    // derives from the checkpoint, never from a second decode
    val mh = media.select(col("media_id"), dh(col("bytes")).as("phash"))
      .filter(col("phash").isNotNull)
      .localCheckpoint()
    val hashes = mh.groupBy(col("phash")).agg(count(lit(1)).as("n_images"))
    val (reps, dropped) = hashClusterReps(hashes, maxHamming, maxPerBand,
      ccRegime)
    val asg = mh.join(reps, Seq("phash"), "left_outer")
      .withColumn("r", coalesce(col("rep"), col("phash")))
      .select(col("media_id"),
        expr("shiftrightunsigned(r, 32)").as("rep_hi"),
        col("r").bitwiseAND(lit(0xFFFFFFFFL)).as("rep_lo"))
    (asg, dropped)
  }

  /** Batched image-format normalization over a (media_id, bytes) frame:
    * PNG and JPEG rows are transcoded to canonical P6 on the executors
    * (mapPartitions — ImageIO plugin lookup initializes once per batch,
    * the real-codec discipline of [[upsampledStats]]); P6 rows pass
    * through untouched; undecodable rows are dropped. This is the ingest
    * front door for real image corpora: everything downstream sees one
    * pixel format. Narrow (no shuffle), scan-parallel. */
  def normalizeImages(media: DataFrame, batchSize: Int = 64): DataFrame =
    batchedBytesPass[(javax.imageio.ImageReader, javax.imageio.ImageReader)](
      media, batchSize,
      () => (newPngReader(), newJpegReader()),
      c => { c._1.dispose(); c._2.dispose() },
      (c, b) =>
        if (isPng(b)) decodeImageWith(c._1, b).flatMap(imageToP6)
        else if (isJpeg(b)) decodeImageWith(c._2, b).flatMap(imageToP6)
        else if (parseP6(b, 0).isDefined) Some(b)
        else None)

  /** (width, height) straight off a P6 header — the metadata columns of
    * the codec gates (dims survive any lossy roundtrip exactly). */
  def ppmDims(bytes: Array[Byte]): Option[(Int, Int)] =
    parseP6(bytes, 0).map { case (w, h, _, _) => (w, h) }

  /** Per-channel pixel means of a P6 image (doubles; exact — integer
    * sums divided once). The tolerance metric of the JPEG contract:
    * quantization moves individual pixels, means move far less. */
  def meanRgbPpm(bytes: Array[Byte]): Option[(Double, Double, Double)] = {
    val (w, h, _, pos) = parseP6(bytes, 0).getOrElse(return None)
    val n = w * h
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < n) {
      val src = pos + i * 3
      sr += bytes(src) & 0xff; sg += bytes(src + 1) & 0xff
      sb += bytes(src + 2) & 0xff
      i += 1
    }
    Some((sr.toDouble / n, sg.toDouble / n, sb.toDouble / n))
  }

  /** Deterministic synthetic P6 image for doc/media id: dims and pixel
    * values are closed-form in the id so a SQL oracle can replay the
    * decoded statistics. w=(id%5)+1, h=(id%4)+2, pixel byte i =
    * (id*31 + i) % 256. */
  def ppmFromId(id: Long): Array[Byte] = {
    val w = (id % 5 + 1).toInt
    val h = (id % 4 + 2).toInt
    val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < px.length) { px(i) = ((id * 31 + i) % 256).toByte; i += 1 }
    header ++ px
  }

  /** REAL decoder for RIFF/WAVE PCM16: parses the RIFF header, walks the
    * chunk list to `fmt ` (requires audioFormat=1, bitsPerSample=16) and
    * `data`, and decodes the little-endian samples. Features (all
    * integer-exact in Float — |sum| ≤ nSamples·32768 stays < 2²⁴ for the
    * synthetic clips):
    * [sampleRate, nSamples, sum, sumAbs, min, max, first, last].
    * Returns None for anything that is not complete PCM16 WAV. */
  def decodeWav(bytes: Array[Byte]): Option[Array[Float]] = {
    def le16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    def le32(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
      ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
    def tag(p: Int, s: String): Boolean = p + 4 <= bytes.length &&
      (0 until 4).forall(i => bytes(p + i) == s.charAt(i).toByte)
    if (bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var pos = 12
    var sampleRate = -1
    var dataPos = -1
    var dataLen = -1
    while (pos + 8 <= bytes.length && (sampleRate < 0 || dataPos < 0)) {
      val sz = le32(pos + 4)
      // Long arithmetic: a hostile chunk size near Int.MaxValue wraps the
      // Int sum negative and would pass the check (same overflow class
      // parseP6 hardens against), then crash the sample reads
      if (sz < 0 || pos.toLong + 8L + sz > bytes.length) return None
      if (tag(pos, "fmt ")) {
        // chunk body: format@+0, channels@+2, rate@+4, bits/sample@+14.
        // mono only: interleaved multi-channel data would silently mix
        // L/R samples into one statistic stream — reject, don't guess
        if (sz < 16 || le16(pos + 8) != 1 || le16(pos + 8 + 2) != 1 ||
          le16(pos + 8 + 14) != 16) return None
        sampleRate = le32(pos + 12)
      } else if (tag(pos, "data")) { dataPos = pos + 8; dataLen = sz }
      pos += 8 + sz + (sz & 1) // chunks are 2-byte aligned
    }
    if (sampleRate <= 0 || dataPos < 0 || dataLen < 2 || dataLen % 2 != 0)
      return None
    val n = dataLen / 2
    var sum = 0L; var sumAbs = 0L
    var mn = Int.MaxValue; var mx = Int.MinValue
    var i = 0
    while (i < n) {
      val s = le16(dataPos + 2 * i).toShort.toInt
      sum += s; sumAbs += math.abs(s)
      if (s < mn) mn = s
      if (s > mx) mx = s
      i += 1
    }
    val first = le16(dataPos).toShort.toInt
    val last = le16(dataPos + 2 * (n - 1)).toShort.toInt
    Some(Array(sampleRate.toFloat, n.toFloat, sum.toFloat, sumAbs.toFloat,
      mn.toFloat, mx.toFloat, first.toFloat, last.toFloat))
  }

  /** Raw PCM16 samples of a (mono, 16-bit) RIFF/WAVE payload — the same
    * hardened header walk as [[decodeWav]], returning the sample stream
    * instead of whole-clip statistics (the per-frame feature path needs
    * the samples). None on anything decodeWav would reject. */
  def decodeWavSamples(bytes: Array[Byte]): Option[Array[Int]] =
    decodeWavPcm(bytes).map(_._2)

  /** (sampleRate, samples) of a (mono, 16-bit) RIFF/WAVE payload — the
    * transcoding direction needs both. None on anything [[decodeWav]]
    * would reject. */
  def decodeWavPcm(bytes: Array[Byte]): Option[(Int, Array[Int])] = {
    def le16(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
    def le32(p: Int): Int = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
      ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
    def tag(p: Int, s: String): Boolean = p + 4 <= bytes.length &&
      (0 until 4).forall(i => bytes(p + i) == s.charAt(i).toByte)
    if (bytes.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var pos = 12
    var sampleRate = -1
    var dataPos = -1
    var dataLen = -1
    while (pos + 8 <= bytes.length && (sampleRate < 0 || dataPos < 0)) {
      val sz = le32(pos + 4)
      if (sz < 0 || pos.toLong + 8L + sz > bytes.length) return None
      if (tag(pos, "fmt ")) {
        if (sz < 16 || le16(pos + 8) != 1 || le16(pos + 8 + 2) != 1 ||
          le16(pos + 8 + 14) != 16) return None
        sampleRate = le32(pos + 12)
      } else if (tag(pos, "data")) { dataPos = pos + 8; dataLen = sz }
      pos += 8 + sz + (sz & 1)
    }
    if (sampleRate <= 0 || dataPos < 0 || dataLen < 2 || dataLen % 2 != 0)
      return None
    Some((sampleRate,
      Array.tabulate(dataLen / 2)(i => le16(dataPos + 2 * i).toShort.toInt)))
  }

  /** Canonical mono-PCM16 RIFF/WAVE bytes for a sample stream — the
    * audio analog of [[imageToP6]]: the re-emit half of the audio
    * ingest front door ([[normalizeAudio]]) and of [[wavFromId]]. */
  def wavFromPcm(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    require(samples.nonEmpty && sampleRate > 0, "empty clip or bad rate")
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2)            // block align
      .putShort(16)           // bits/sample
    buf.put("data".getBytes).putInt(dataLen)
    var i = 0
    while (i < samples.length) { buf.putShort(samples(i).toShort); i += 1 }
    buf.array()
  }

  /** Batched WAV → FLAC staging (the m13 gate's interchange direction —
    * real corpora carry COMPRESSED audio): each clip's PCM16 samples are
    * FLAC-encoded on the executors ([[Flac.encode]], the fixed-predictor
    * profile). Lossless, so downstream statistics hash-verify exactly —
    * the audio rung of the codec ladder next to m10/m11/m12's images.
    * Non-WAV rows drop. */
  def transcodeToFlac(media: DataFrame, batchSize: Int = 64,
      blockSize: Int = 4096): DataFrame =
    batchedBytesPass[Unit](media, batchSize, () => (), _ => (),
      (_, b) => decodeWavPcm(b).map { case (rate, pcm) =>
        Flac.encode(pcm, rate, blockSize)
      })

  /** Batched audio-format normalization — the audio front door,
    * mirroring [[normalizeImages]]: FLAC rows decode ([[Flac.decodeSamples]],
    * pure-integer, lossless) and re-emit as canonical PCM16 WAV; WAV
    * rows pass through untouched; undecodable rows drop. Everything
    * downstream (frame features, QC census, upsampling) sees one
    * container. Narrow, scan-parallel. */
  def normalizeAudio(media: DataFrame, batchSize: Int = 64): DataFrame =
    batchedBytesPass[Unit](media, batchSize, () => (), _ => (),
      (_, b) =>
        if (Flac.isFlac(b))
          Flac.decodeSamples(b).map { case (rate, pcm) => wavFromPcm(rate, pcm) }
        else if (decodeWavPcm(b).isDefined) Some(b)
        else None)

  /** Per-frame audio features over decoded PCM16: frame = `frameLen`
    * consecutive samples (no overlap, trailing partial frame kept), and
    * per frame the INTEGER-exact signal statistics a filtering pipeline
    * thresholds on — energy (Σ s², the RMS numerator), zero-crossing
    * count (voiced/unvoiced + noise signal) and peak |s| (clipping) —
    * so the m04 gate replays them closed-form in SQL.
    *
    * Same distributed shape as [[extractFeatures]]: batched
    * mapPartitions (a real codec initializes per batch), narrow, rows
    * explode frame-wise on the executors. Undecodable rows are dropped
    * (callers wanting them use decodeStub via extractFeatures).
    */
  /** 2× audio upsampling by midpoint linear interpolation — the
    * sample-rate-conversion step of an audio pipeline, integer-exact so
    * any engine replays it: out[2i] = s[i], out[2i+1] = (s[i]+s[i+1])/2
    * with TRUNCATING integer division (Java `/`; replaying engines'
    * integer `//`/`DIV` truncate the same way). Length 2n−1; empty in,
    * empty out. */
  def upsample2x(s: Array[Int]): Array[Int] = {
    if (s.isEmpty) return Array.empty
    val out = new Array[Int](2 * s.length - 1)
    var i = 0
    while (i < s.length - 1) {
      out(2 * i) = s(i)
      out(2 * i + 1) = (s(i) + s(i + 1)) / 2
      i += 1
    }
    out(2 * s.length - 2) = s(s.length - 1)
    out
  }

  /** Per-clip stats of the 2×-upsampled stream: decode (REAL PCM16 WAV
    * path), upsample on the executor, aggregate in one pass — batched
    * mapPartitions exactly like [[audioFrameFeatures]]. */
  def upsampledStats(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_in", LongType, nullable = false),
      StructField("n_out", LongType, nullable = false),
      StructField("sum_out", LongType, nullable = false),
      StructField("min_out", LongType, nullable = false),
      StructField("max_out", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(idIdx)
          decodeWavSamples(r.getAs[Array[Byte]](bytesIdx)).map { s =>
            val up = upsample2x(s)
            var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
            var j = 0
            while (j < up.length) {
              val v = up(j).toLong
              sum += v; if (v < mn) mn = v; if (v > mx) mx = v
              j += 1
            }
            Row(id, s.length.toLong, up.length.toLong, sum, mn, mx)
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  def audioFrameFeatures(media: DataFrame, frameLen: Int = 16,
      batchSize: Int = 64): DataFrame = {
    require(frameLen >= 2, s"frameLen=$frameLen must be >= 2 (zc needs pairs)")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("n_zero_cross", LongType, nullable = false),
      StructField("peak", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(idIdx)
          decodeWavSamples(r.getAs[Array[Byte]](bytesIdx)).toSeq.flatMap { s =>
            s.grouped(frameLen).zipWithIndex.map { case (f, fi) =>
              var energy = 0L; var zc = 0L; var peak = 0L
              var j = 0
              while (j < f.length) {
                val v = f(j)
                energy += v.toLong * v
                if (j > 0 && f(j - 1).toLong * v < 0) zc += 1
                if (math.abs(v) > peak) peak = math.abs(v)
                j += 1
              }
              Row(id, fi.toLong, f.length.toLong, energy, zc, peak)
            }
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic PCM16 WAV for doc/media id — closed-form so
    * a SQL oracle can replay the decoded statistics:
    * n = id%50+20 samples, rate = 8000+(id%4)*4000,
    * sample i = ((id*37 + i*13) % 4001) - 2000. */
  def wavFromId(id: Long): Array[Byte] = {
    val n = (id % 50 + 20).toInt
    val rate = (8000 + (id % 4) * 4000).toInt
    wavFromPcm(rate,
      Array.tabulate(n)(i => (((id * 37 + i * 13) % 4001) - 2000).toInt))
  }

  /** REAL nearest-neighbor resize for P6 PPM: decodes the header, samples
    * source pixels at floor(dst·src/dstDim) (the standard NN mapping) and
    * re-emits a complete P6 image. Integer-exact, so a resize→decode
    * pipeline is SQL-replayable end-to-end (the m02 gate hash-verifies
    * it). Returns None for non-P6 input — callers fall back to
    * [[resizeStub]] exactly as decode falls back for codec-less kinds. */
  def resizePpm(bytes: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] = {
    require(dstW > 0 && dstH > 0 &&
      dstW.toLong * dstH * 3 <= Int.MaxValue - 64,
      s"bad resize target ${dstW}x$dstH")
    val (w, h, maxv, pos) = parseP6(bytes, 0).getOrElse(return None)
    val header = s"P6\n$dstW $dstH\n$maxv\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](dstW * dstH * 3)
    var y = 0
    while (y < dstH) {
      // Long domain: y*h wraps Int for legitimately huge (~2 GB) planes
      // — sy/sx themselves fit Int (< h, < w)
      val sy = (y.toLong * h / dstH).toInt
      var x = 0
      while (x < dstW) {
        val sx = (x.toLong * w / dstW).toInt
        val src = pos + (sy * w + sx) * 3
        val dst = (y * dstW + x) * 3
        out(dst) = bytes(src); out(dst + 1) = bytes(src + 1)
        out(dst + 2) = bytes(src + 2)
        x += 1
      }
      y += 1
    }
    Some(header ++ out)
  }

  /** STUB resize — a real impl would rescale pixels; the fake re-hashes
    * with the target dims so output depends on (bytes, w, h). */
  def resizeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val h0 = Hashing.hashBytes(bytes, w.toLong << 32 | h.toLong)
    val out = new Array[Byte](16)
    var i = 0
    while (i < 16) { out(i) = (Hashing.hashLong(h0, i.toLong) & 0xff).toByte; i += 1 }
    out
  }

  /** Deterministic frame sampling indices for video: every `stride`-th
    * frame capped at `maxFrames` — pure plan-side arithmetic. */
  def frameSampleIndices(nFrames: Int, stride: Int, maxFrames: Int): Seq[Int] =
    (0 until nFrames by stride).take(maxFrames)

  /** REAL video-as-PPM-stream decoder: concatenated P6 frames (what
    * `ffmpeg -f image2pipe -vcodec ppm` emits) are split by walking each
    * frame's header + pixel plane. Returns the byte offsets/lengths of
    * every complete frame, or Nil if the bytes aren't a P6 stream. */
  def ppmStreamFrames(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var pos = 0
    var ok = true
    while (ok && pos < bytes.length) {
      parseP6(bytes, pos) match {
        case Some((w, h, _, pixelStart)) =>
          // parseP6 verified the plane fits, so `end` cannot overflow
          val end = pixelStart + w * h * 3
          out += ((pos, end - pos))
          pos = end
        case None => ok = false
      }
    }
    if (!ok || pos != bytes.length) Seq.empty // trailing junk/truncation
    else out.result()
  }

  /** Sample every `stride`-th frame (≤ `maxFrames`) of a P6 stream and
    * decode each to its feature vector. None when the bytes are not a
    * P6 stream (callers fall back to the stub, as with decode/resize). */
  def sampleFrames(bytes: Array[Byte], stride: Int,
      maxFrames: Int): Option[Seq[(Int, Array[Float])]] = {
    val frames = ppmStreamFrames(bytes)
    if (frames.isEmpty) None else Some(sampleWalked(bytes, frames, stride, maxFrames))
  }

  /** Sampling over a pre-walked frame list — lets hot paths that also
    * need the total frame count walk the stream ONCE. */
  private def sampleWalked(bytes: Array[Byte], frames: Seq[(Int, Int)],
      stride: Int, maxFrames: Int): Seq[(Int, Array[Float])] =
    frameSampleIndices(frames.length, stride, maxFrames).map { i =>
      val (off, len) = frames(i)
      val f = decodePpm(java.util.Arrays.copyOfRange(bytes, off, off + len))
        .getOrElse(sys.error(s"frame $i failed to re-decode")) // unreachable: walked above
      (i, f)
    }

  /** Scene-cut detection over a concatenated-P6 frame stream: decode
    * every frame, compute its mean brightness (total pixel mass / plane
    * size — an exact rational, so any engine replays the doubles), and
    * flag a cut wherever consecutive means jump more than `threshold`.
    * The cheap shot-boundary heuristic a video pipeline thresholds on
    * before expensive per-shot processing. Batched mapPartitions, one
    * stream walk + one decode pass per video, no shuffle.
    * Format-dispatched like [[frameStats]]: P6 streams read means off
    * the raw plane; MJPEG streams decode per frame through a per-batch
    * JDK reader. */
  def sceneCuts(media: DataFrame, threshold: Double = 8.0,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("n_cuts", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val reader = newJpegReader() // once per batch, MJPEG branch only
        try {
          batch.map { r =>
            val bytes = r.getAs[Array[Byte]](bytesIdx)
            val p6 = ppmStreamFrames(bytes)
            val (frames, toP6): (Seq[(Int, Int)], Array[Byte] => Option[Array[Byte]]) =
              if (p6.nonEmpty) (p6, fb => Some(fb))
              else (mjpegFrames(bytes),
                fb => decodeImageWith(reader, fb).flatMap(imageToP6))
            // per-frame Option means: a frame that fails to decode keeps
            // its slot (n_frames counts walked frames) but no delta is
            // compared ACROSS it — flattening the gap would pair frames
            // that were never adjacent and invent or hide cuts there
            val means = frames.map { case (off, len) =>
              toP6(java.util.Arrays.copyOfRange(bytes, off, off + len))
                .flatMap(decodePpm).map { f =>
                  f(5).toDouble / (f(0).toDouble * f(1).toDouble * 3.0)
                }
            }
            val cuts = means.zip(means.drop(1)).count {
              case (Some(a), Some(b)) => math.abs(b - a) > threshold
              case _ => false
            }
            Row(r.getLong(idIdx), frames.length.toLong, cuts.toLong)
          }
        } finally reader.dispose()
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** [[decodeWav]]'s feature vector computed from already-decoded PCM —
    * shared with the FLAC branch of [[extractFeatures]] (lossless decode
    * ⇒ identical features to the clip's WAV form). */
  private def pcmFeatures(rate: Int, s: Array[Int]): Array[Float] = {
    var sum = 0L; var sumAbs = 0L
    var mn = Int.MaxValue; var mx = Int.MinValue
    var i = 0
    while (i < s.length) {
      val v = s(i)
      sum += v; sumAbs += math.abs(v)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    Array(rate.toFloat, s.length.toFloat, sum.toFloat, sumAbs.toFloat,
      mn.toFloat, mx.toFloat, s(0).toFloat, s(s.length - 1).toFloat)
  }

  /** Batched feature extraction over the binary column: mapPartitions with
    * an explicit batch shape (grouped iterator) — the JVM analog of
    * mapInPandas batches; the JPEG reader for MJPEG video initializes
    * once per batch here (the real-codec discipline). Narrow op: no
    * shuffle, preserves partitioning.
    *
    * Format dispatch per kind — every REAL container the battery
    * supports, stub only for the codec-less leftovers (MP3/MP4):
    * image = P6; audio = WAV or FLAC (lossless ⇒ identical features);
    * video = concatenated-P6 or MJPEG (per-frame JPEG decode). */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val kindIdx = media.schema.fieldIndex("kind")
    val bytesIdx = media.schema.fieldIndex("bytes")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val reader = newJpegReader() // once per batch, MJPEG branch only
        try {
          // strict inner map: the reader must not outlive dispose
          batch.map { r =>
            val bytes = r.getAs[Array[Byte]](bytesIdx)
            val kind = r.getString(kindIdx)
            def videoFeatures(frames: Seq[(Int, Int)],
                toP6: Array[Byte] => Option[Array[Byte]]): Array[Float] = {
              val sampled = frameSampleIndices(frames.length, stride = 2,
                maxFrames = 4).flatMap { i =>
                val (off, len) = frames(i)
                toP6(java.util.Arrays.copyOfRange(bytes, off, off + len))
                  .flatMap(decodePpm)
              }
              if (sampled.isEmpty) decodeStub(bytes)
              else Array(frames.length.toFloat, sampled.length.toFloat,
                sampled.map(_(5).toDouble).sum.toFloat,
                sampled.map(_(6)).min, sampled.map(_(7)).max,
                sampled.head(0), sampled.head(1), 0f)
            }
            val feats = kind match {
              case "image" => decodePpm(bytes).getOrElse(decodeStub(bytes))
              case "audio" =>
                decodeWav(bytes).orElse(
                  Flac.decodeSamples(bytes).map { case (rate, pcm) =>
                    pcmFeatures(rate, pcm)
                  }).getOrElse(decodeStub(bytes))
              case "video" =>
                val p6 = ppmStreamFrames(bytes) // ONE stream walk
                if (p6.nonEmpty) videoFeatures(p6, fb => Some(fb))
                else {
                  val mj = mjpegFrames(bytes)
                  if (mj.nonEmpty) videoFeatures(mj,
                    fb => decodeImageWith(reader, fb).flatMap(imageToP6))
                  else decodeStub(bytes)
                }
              case _ => decodeStub(bytes)
            }
            Row(r.getLong(idIdx), kind, feats.toSeq)
          }
        } finally reader.dispose()
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic P6 STREAM (video) for doc/media id:
    * (id % 4) + 2 frames, frame j = [[ppmFromId]](id + j) — closed-form
    * per frame so a SQL oracle replays sampled-frame statistics. */
  def ppmStreamFromId(id: Long): Array[Byte] =
    (0 until (id % 4 + 2).toInt).toArray.flatMap(j => ppmFromId(id + j))

  /** Planted-overlap audio clip for the dedup gates (m16, p25): one
    * silence window ++ seg(id) ++ seg(id+3), so CONSECUTIVE audio ids
    * (stride 3) share seg(id+3) at window granularity, and the silence
    * window is the degenerate hot key every clip carries; when
    * `clipEvery > 0`, every `clipEvery`-th id gains a fully CLIPPED
    * window (the QC-reject plant). Even ids stage as FLAC (lossless ⇒
    * identical fingerprints), odd as WAV — the container dispatch is
    * part of what the gates pin. One builder shared by both gates so
    * their planted structure cannot drift (their SQL oracles replay the
    * same closed-form sample formula). */
  def overlapClipFromId(id: Long, windowLen: Int = 64,
      clipEvery: Long = 0L): Array[Byte] = {
    def seg(k: Long): Array[Int] =
      Array.tabulate(windowLen)(i =>
        (((k * 37 + i * 13) % 4001) - 2000).toInt)
    val tail =
      if (clipEvery > 0 && id % clipEvery == 0)
        Array.fill(windowLen)(32767)
      else Array.empty[Int]
    val pcm = Array.fill(windowLen)(0) ++ seg(id) ++ seg(id + 3) ++ tail
    val rate = (8000 + (id % 4) * 4000).toInt
    if (id % 2 == 0) Flac.encode(pcm, rate) else wavFromPcm(rate, pcm)
  }

  /** Planted ARBITRARY-OFFSET overlap clip for the hopped-fingerprint
    * gate (m17): silence(windowLen + (id%2)·windowLen/2) ++ seg(id) ++
    * seg(id+3) — same seg formula and stride-3 sharing as
    * [[overlapClipFromId]], but the odd-id half-window silence prefix
    * shifts the shared segment by windowLen/2. Since the (id, id+3)
    * dup pairs ALWAYS flip parity, every shared segment sits
    * grid-aligned in one clip and half-window-offset in the other:
    * the grid fingerprint lattice (hop = windowLen) provably misses
    * every PLANTED pair on this corpus (it reports only 7-bit
    * quantization aliases between unrelated segs — spec-pinned), while
    * hop = windowLen/2 recovers every planted pair — the recall claim
    * the m17 oracle replays closed-form. The full
    * silence window every clip opens with stays the degenerate hot key
    * (the binding-cap plant). FLAC/WAV parity dispatch as in
    * [[overlapClipFromId]]. */
  def offsetClipFromId(id: Long, windowLen: Int = 64): Array[Byte] = {
    def seg(k: Long): Array[Int] =
      Array.tabulate(windowLen)(i =>
        (((k * 37 + i * 13) % 4001) - 2000).toInt)
    val prefix = windowLen + (id % 2).toInt * (windowLen / 2)
    val pcm = Array.fill(prefix)(0) ++ seg(id) ++ seg(id + 3)
    val rate = (8000 + (id % 4) * 4000).toInt
    if (id % 2 == 0) Flac.encode(pcm, rate) else wavFromPcm(rate, pcm)
  }

  /** Build a media table from a text corpus (test harness): image rows
    * carry REAL renderable P6 bytes ([[ppmFromId]]), audio rows REAL
    * PCM16 WAV bytes ([[wavFromId]]), video rows a REAL concatenated-P6
    * frame stream ([[ppmStreamFromId]] — the image2pipe shape). Metadata
    * derived deterministically. */
  def mediaFromDocuments(docs: DataFrame): DataFrame = {
    val ppm = udf((id: Long) => ppmFromId(id))
    val wav = udf((id: Long) => wavFromId(id))
    val vid = udf((id: Long) => ppmStreamFromId(id))
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("doc_id"), col("text"))
      .select(
        col("media_id"), col("kind"),
        when(col("kind") === "image", ppm(col("doc_id")))
          .when(col("kind") === "audio", wav(col("doc_id")))
          .when(col("kind") === "video", vid(col("doc_id")))
          .otherwise(encode(col("text"), "UTF-8")).as("bytes"),
        struct(
          (pmod(col("doc_id"), lit(5)) + 1).cast("int").as("width"),
          (pmod(col("doc_id"), lit(4)) + 2).cast("int").as("height"),
          lit(16000).cast("int").as("sample_rate"),
          (pmod(col("doc_id"), lit(300)) + 1).cast("int").as("n_frames")).as("meta"))
  }
}
