package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with batched per-partition feature extraction.
  *
  * Decoding: `audio/wav` payloads are decoded FOR REAL ([[decodeWavPcm]]
  * — RIFF/PCM needs no codec library), `image/bmp` likewise
  * ([[decodeBmp]] — uncompressed BMP is plain header + pixel rows),
  * `image/png` ([[decodePng]] — PNG's only compression is DEFLATE,
  * which the JVM ships in `java.util.zip`), `image/gif`
  * ([[decodeGif]] — self-contained LZW), and `image/jpeg`
  * ([[decodeJpeg]] — the JDK's own `javax.imageio` JPEG plugin, public
  * API, zero added dependencies), and `video/avi` MJPEG first-frames
  * ([[decodeMjpegAvi]] — the RIFF walk + the JPEG path composed); the
  * remaining compressed video codecs (H.264, …) are STUBBED
  * ([[decodeStub]] derives deterministic fake features from the raw
  * bytes) because their codecs don't exist in this environment.
  * Everything
  * around the decoders is the real Spark shape —
  * schema, partition-level batching via `mapPartitions`, metadata
  * struct — so adding a decoder is a one-function change dispatched
  * on `meta.mime`.
  *
  * Scale notes: payloads stay opaque binary end-to-end (no driver
  * collection, no string round-trip); extraction is a narrow
  * mapPartitions so it pipelines with the scan.
  */
object Multimodal {

  /** Metadata carried alongside every payload. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("source", StringType),
    StructField("n_bytes", LongType)))

  /** Feature row produced by the extractor. */
  val FeatureSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("n_bytes", LongType),
    StructField("content_hash", LongType),
    StructField("feature", ArrayType(DoubleType))))

  /** Wrap a string column as a multimodal (binary payload + metadata)
    * asset table: (id, content binary, meta struct). */
  def asAssets(df: DataFrame, idCol: String, payloadCol: String,
               mime: String, sourceCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      encode(col(payloadCol), "UTF-8").as("content"),
      struct(
        lit(mime).as("mime"),
        col(sourceCol).as("source"),
        octet_length(encode(col(payloadCol), "UTF-8")).cast("long")
          .as("n_bytes")).as("meta"))

  /** STUB decoder: deterministic fake features from raw bytes (length,
    * 64-bit FNV-1a content hash, and an 8-dim embedding from byte
    * histogram moments). Replace with a real codec per `meta.mime`. */
  def decodeStub(id: Long, content: Array[Byte]): Row = {
    val h = graft.functions.Hashing.fnv1a(content)
    val hist = new Array[Long](8)
    var i = 0
    while (i < content.length) {
      hist((content(i) & 0xff) % 8) += 1
      i += 1
    }
    val n = math.max(content.length, 1).toDouble
    Row(id, content.length.toLong, h, hist.map(_ / n).toSeq)
  }

  /** REAL decoder for RIFF/WAVE PCM payloads — pure JVM, no codec
    * libraries: walks the RIFF chunk list, decodes 8/16-bit PCM samples,
    * and emits genuine audio features as the 8-dim vector
    * [duration_s, rms, peak, zero_crossing_rate, mean, sample_rate,
    * channels, bits]. Returns None when the payload is not a
    * well-formed PCM WAV (the caller falls back to [[decodeStub]]), so
    * a corrupt file degrades instead of killing the task. */
  def decodeWavPcm(id: Long, content: Array[Byte]): Option[Row] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val lay = parseWav(content).getOrElse(return None)
    val bb = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    val (dataOff, n, sampleRate, channels, bits) =
      (lay.dataOff, lay.n, lay.sampleRate, lay.channels, lay.bits)
    var sum = 0.0
    var sumSq = 0.0
    var peak = 0.0
    var zc = 0
    var prevSign = 0
    var i = 0
    while (i < n) {
      val v = if (bits == 16) bb.getShort(dataOff + i * 2).toDouble / 32768.0
        else ((content(dataOff + i) & 0xff) - 128).toDouble / 128.0
      sum += v
      sumSq += v * v
      if (math.abs(v) > peak) peak = math.abs(v)
      val sign = if (v > 0) 1 else if (v < 0) -1 else prevSign
      if (prevSign != 0 && sign != prevSign) zc += 1
      prevSign = sign
      i += 1
    }
    val duration = (n / channels).toDouble / sampleRate
    Some(Row(id, content.length.toLong,
      graft.functions.Hashing.fnv1a(content),
      Seq(duration, math.sqrt(sumSq / n), peak, zc.toDouble / n, sum / n,
        sampleRate.toDouble, channels.toDouble, bits.toDouble)))
  }

  /** Parsed PCM WAV layout: data offset, TOTAL sample count (all
    * channels interleaved), rate, channels, bits. */
  private[operators] case class WavLayout(dataOff: Int, n: Int,
                                          sampleRate: Int, channels: Int,
                                          bits: Int)

  /** RIFF/WAVE header walk shared by [[decodeWavPcm]] and
    * [[audioFingerprints]]: returns None for anything that is not
    * well-formed 8/16-bit PCM. */
  private[operators] def parseWav(content: Array[Byte]): Option[WavLayout] = {
    import java.nio.{ByteBuffer, ByteOrder}
    if (content.length < 44) return None
    val bb = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.getInt(0) != 0x46464952 || bb.getInt(8) != 0x45564157)
      return None // "RIFF" ... "WAVE" (little-endian magic)
    var pos = 12
    var fmtOk = false
    var channels = 0
    var sampleRate = 0
    var bits = 0
    var dataOff = -1
    var dataLen = 0
    while (pos + 8 <= content.length) {
      val ckId = bb.getInt(pos)
      val ckSz = bb.getInt(pos + 4)
      // compare against the REMAINING length — `pos + 8 + ckSz` in Int
      // would wrap negative for a corrupt near-MaxValue size and slip
      // past the guard into an out-of-bounds read
      if (ckSz < 0 || ckSz > content.length - pos - 8) return None
      if (ckId == 0x20746d66) { // "fmt "
        if (ckSz < 16) return None
        val audioFormat = bb.getShort(pos + 8) & 0xffff
        channels = bb.getShort(pos + 10) & 0xffff
        sampleRate = bb.getInt(pos + 12)
        bits = bb.getShort(pos + 22) & 0xffff
        fmtOk = audioFormat == 1 && (bits == 8 || bits == 16) &&
          channels >= 1 && sampleRate > 0
      } else if (ckId == 0x61746164) { // "data"
        dataOff = pos + 8
        dataLen = ckSz
      }
      pos += 8 + ckSz + (ckSz & 1) // RIFF chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0) return None
    val n = dataLen / (bits / 8)
    if (n == 0) None
    else Some(WavLayout(dataOff, n, sampleRate, channels, bits))
  }

  /** REAL decoder for uncompressed (BI_RGB) 24/32-bit BMP payloads —
    * pure JVM, no codec libraries: parses the file + info headers, walks
    * the 4-byte-aligned pixel rows, and emits genuine image features as
    * the 8-dim vector [width, height, mean_r, mean_g, mean_b, luma_mean,
    * luma_std, bits]. Handles bottom-up and top-down (negative height)
    * storage — the statistics are row-order-free. Returns None for
    * anything that isn't a well-formed uncompressed BMP (palette, RLE,
    * PNG-in-BMP, truncated pixel array), so corrupt bytes degrade to the
    * stub instead of killing the task. All size arithmetic runs in Long:
    * an adversarial width near Int.MaxValue would overflow the stride
    * check and read out of bounds otherwise. */
  /** Parsed uncompressed-BMP layout: (width, height, topDown, bytes per
    * pixel, pixel-array offset, row stride). */
  private[operators] case class BmpLayout(width: Int, height: Int,
                                          topDown: Boolean, bpp: Int,
                                          dataOff: Int, stride: Long)

  /** Header parse + bounds proof shared by decode and resize. All size
    * arithmetic runs in Long with the DIVISION-form bound: an
    * adversarial width × height can overflow even a Long product and
    * silently bypass a product check. */
  private[operators] def parseBmp(content: Array[Byte]): Option[BmpLayout] = {
    import java.nio.{ByteBuffer, ByteOrder}
    if (content.length < 54) return None
    val bb = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    if (content(0) != 'B'.toByte || content(1) != 'M'.toByte) return None
    val dataOff = bb.getInt(10)
    val hdrSize = bb.getInt(14)
    val width = bb.getInt(18)
    val heightRaw = bb.getInt(22)
    val planes = bb.getShort(26) & 0xffff
    val bits = bb.getShort(28) & 0xffff
    val compression = bb.getInt(30)
    if (hdrSize < 40 || width <= 0 || heightRaw == 0 || planes != 1 ||
      (bits != 24 && bits != 32) || compression != 0) return None
    val height = math.abs(heightRaw.toLong)
    val bpp = bits / 8
    val stride = ((width.toLong * bpp + 3) / 4) * 4
    if (dataOff < 54 || dataOff > content.length ||
      height > (content.length - dataOff).toLong / stride) return None
    Some(BmpLayout(width, height.toInt, heightRaw < 0, bpp, dataOff, stride))
  }

  def decodeBmp(id: Long, content: Array[Byte]): Option[Row] = {
    val layout = parseBmp(content).getOrElse(return None)
    val width = layout.width
    val height = layout.height.toLong
    val bpp = layout.bpp
    val dataOff = layout.dataOff
    val stride = layout.stride
    val bits = bpp * 8
    var sr = 0.0
    var sg = 0.0
    var sb = 0.0
    var lsum = 0.0
    var lsq = 0.0
    var y = 0L
    while (y < height) {
      val rowOff = dataOff + y * stride
      var x = 0
      while (x < width) {
        // bounds proven by the Long stride check above; BMP stores BGR
        val p = (rowOff + x.toLong * bpp).toInt
        val b = content(p) & 0xff
        val g = content(p + 1) & 0xff
        val r = content(p + 2) & 0xff
        sr += r; sg += g; sb += b
        val l = 0.299 * r + 0.587 * g + 0.114 * b
        lsum += l
        lsq += l * l
        x += 1
      }
      y += 1
    }
    val n = width.toDouble * height
    val lmean = lsum / n
    Some(Row(id, content.length.toLong,
      graft.functions.Hashing.fnv1a(content),
      Seq(width.toDouble, height.toDouble, sr / n, sg / n, sb / n, lmean,
        math.sqrt(math.max(lsq / n - lmean * lmean, 0.0)), bits.toDouble)))
  }

  /** REAL decoder for PNG payloads — pure JVM: PNG's only external
    * dependency is DEFLATE, which `java.util.zip.Inflater` provides, so
    * "compressed formats need codecs" does not apply to it. Parses the
    * chunk list, inflates the concatenated IDAT stream, reverses the
    * per-row filters (None/Sub/Up/Average/Paeth — the full spec set),
    * and emits the same 8-dim image features as [[decodeBmp]]:
    * [width, height, mean_r, mean_g, mean_b, luma_mean, luma_std,
    * bits] (bits = channels × 8, matching the BMP decoder's last slot
    * so a format-identical image yields the same vector from either
    * container). Supported: bit depth 8, color types 0 (gray), 2 (RGB),
    * 4 (gray+alpha), 6 (RGBA), non-interlaced; palette / 16-bit / Adam7
    * return None → the ImageIO fallback in [[extractFeatures]] decodes
    * them for real, and only malformed payloads reach the stub. Size
    * arithmetic runs in Long and the raw buffer is bounds-checked
    * BEFORE allocation, so an adversarial IHDR cannot OOM or overflow.
    * [[decodePngRaw]] exposes the dense pixel buffer shared by feature
    * extraction and [[perceptualHashes]]. */
  private[graft] case class PngImage(width: Int, height: Int,
                                     channels: Int, pixels: Array[Byte])

  private[graft] def decodePngRaw(
      content: Array[Byte]): Option[PngImage] = {
    import java.nio.{ByteBuffer, ByteOrder}
    if (content.length < 45) return None
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    var si = 0
    while (si < 8) {
      if ((content(si) & 0xff) != sig(si)) return None
      si += 1
    }
    val bb = ByteBuffer.wrap(content).order(ByteOrder.BIG_ENDIAN)
    var pos = 8
    var width = 0
    var height = 0
    var bitDepth = 0
    var colorType = -1
    var interlace = 0
    var sawIhdr = false
    var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (pos + 12 <= content.length && !sawIend) {
      val len = bb.getInt(pos)
      if (len < 0 || len > content.length - pos - 12) return None
      bb.getInt(pos + 4) match {
        case 0x49484452 => // IHDR
          if (len < 13) return None
          width = bb.getInt(pos + 8)
          height = bb.getInt(pos + 12)
          bitDepth = content(pos + 16) & 0xff
          colorType = content(pos + 17) & 0xff
          if ((content(pos + 18) & 0xff) != 0 ||
            (content(pos + 19) & 0xff) != 0) return None
          interlace = content(pos + 20) & 0xff
          sawIhdr = true
        case 0x49444154 => idat.write(content, pos + 8, len) // IDAT
        case 0x49454e44 => sawIend = true // IEND
        case _ => ()
      }
      pos += 12 + len
    }
    if (!sawIhdr || !sawIend || width <= 0 || height <= 0 ||
      bitDepth != 8 || interlace != 0) return None
    val channels = colorType match {
      case 0 => 1
      case 2 => 3
      case 4 => 2
      case 6 => 4
      case _ => return None
    }
    val stride = width.toLong * channels
    val rawLen = (stride + 1) * height // +1 filter byte per row
    // decode budget: IHDR-declared dims drive the allocation BEFORE any
    // pixel data is validated, so a ~100-byte adversarial header could
    // otherwise demand gigabytes (OutOfMemoryError is an Error — the
    // Try wrapper in extractFeatures would NOT degrade it to the stub).
    // 256 MB covers a 8192×8192 RGBA frame; larger payloads stub.
    if (rawLen > (256L << 20)) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    val got =
      try {
        var off = 0
        var stalled = false
        while (!stalled && off < raw.length) {
          val k = inf.inflate(raw, off, raw.length - off)
          off += k
          // needsDictionary: the zlib stream set FDICT — inflate would return
          // 0 forever without ever finishing, so treat it as malformed
          // (a hang here could not be caught by the Try in extractFeatures)
          if (k == 0 && (inf.finished() || inf.needsInput() || inf.needsDictionary()))
            stalled = true
        }
        off
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
    if (got < raw.length) return None
    // reverse the per-row filter into a dense pixel buffer
    val w = stride.toInt
    val bpp = channels
    val pixels = new Array[Byte](w * height)
    var y = 0
    while (y < height) {
      val rowOff = y * (w + 1)
      val outOff = y * w
      val prevOff = outOff - w
      val ft = raw(rowOff) & 0xff
      if (ft > 4) return None
      var x = 0
      while (x < w) {
        val f = raw(rowOff + 1 + x) & 0xff
        val a = if (x >= bpp) pixels(outOff + x - bpp) & 0xff else 0
        val b = if (y > 0) pixels(prevOff + x) & 0xff else 0
        val c = if (y > 0 && x >= bpp) pixels(prevOff + x - bpp) & 0xff else 0
        val recon = ft match {
          case 0 => f
          case 1 => f + a
          case 2 => f + b
          case 3 => f + ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            f + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        pixels(outOff + x) = (recon & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some(PngImage(width, height, channels, pixels))
  }

  def decodePng(id: Long, content: Array[Byte]): Option[Row] =
    decodePngRaw(content).map(imageFeatureRow(id, content, _))

  /** REAL decoder for JPEG payloads via `javax.imageio` — public JDK
    * API, zero new dependencies: every JDK ships JPEG (and PNG/GIF/BMP)
    * ImageIO plugins, so the dominant web-crawl image format needs no
    * hand-rolled entropy decoder. Reads dimensions FIRST and applies the
    * same 256 MB decode budget as PNG before any pixel allocation, uses
    * a memory-cached image input stream (no executor temp files), and
    * converts through `getRGB` so CMYK/YCbCr color spaces land in sRGB.
    * Emits the shared 8-dim feature vector; bits follows the decoded
    * channel count (gray → 8, color → 24). Malformed bytes → None →
    * stub fallback, like every other decoder. */
  def decodeJpeg(id: Long, content: Array[Byte]): Option[Row] =
    decodeJpegRaw(content).map(imageFeatureRow(id, content, _))

  /** ImageIO-backed feature decode for payloads the hand-rolled PNG/GIF
    * decoders decline (interlaced variants, exotic bit depths). */
  def decodeImageIo(id: Long, content: Array[Byte]): Option[Row] =
    decodeImageIoRaw(content).map(imageFeatureRow(id, content, _))

  /** REAL first-frame decoder for MJPEG-in-AVI video payloads — the
    * last all-stub modality, closed with the codec kit already on
    * hand: AVI is a RIFF container (the [[parseWav]] chunk grammar —
    * fourcc + little-endian size + word alignment), and an MJPEG
    * stream's frame chunks are each a COMPLETE JPEG ([[decodeJpegRaw]]
    * / the JDK ImageIO plugin). Zero new dependencies.
    *
    * Walks the top-level RIFF chunks to the `LIST movi` payload, takes
    * the FIRST video frame chunk (`##dc`/`##db` fourcc — compressed /
    * uncompressed-suffix naming; `##` is the stream number), and
    * decodes it as JPEG into the shared 8-dim image feature vector.
    * First-frame is the standard thumbnail/dedup representative;
    * [[sampleFrames]] remains the budgeted multi-frame path for
    * formats with real codecs. Non-MJPEG codecs (H.264, …) fail the
    * frame's JPEG SOI gate → None → the stub, preserving the
    * documented fallback contract. Same bounds discipline as the WAV
    * walker: every chunk size is validated against the REMAINING
    * length before use, so corrupt near-MaxValue sizes cannot wrap
    * into out-of-bounds reads. */
  def decodeMjpegAvi(id: Long, content: Array[Byte]): Option[Row] =
    firstAviFrame(content).flatMap(decodeJpegRaw)
      .map(imageFeatureRow(id, content, _))

  /** The first `##dc`/`##db` frame payload of a RIFF/AVI container,
    * or None if the bytes are not well-formed AVI or the `movi` list
    * holds no frame chunk. */
  private[operators] def firstAviFrame(
      content: Array[Byte]): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    if (content.length < 24) return None
    val bb = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.getInt(0) != 0x46464952 || bb.getInt(8) != 0x20495641)
      return None // "RIFF" ... "AVI " (little-endian magic)
    var pos = 12
    while (pos + 8 <= content.length) {
      val ckId = bb.getInt(pos)
      val ckSz = bb.getInt(pos + 4)
      if (ckSz < 0 || ckSz > content.length - pos - 8) return None
      if (ckId == 0x5453494C && ckSz >= 4 &&
        bb.getInt(pos + 8) == 0x69766F6D) { // LIST ... 'movi'
        var p = pos + 12
        val end = pos + 8 + ckSz
        while (p + 8 <= end) {
          val id4 = bb.getInt(p)
          val sz = bb.getInt(p + 4)
          if (sz < 0 || sz > end - p - 8) return None
          // stream-frame fourcc: '??dc' (compressed) / '??db' (raw)
          val b2 = (id4 >>> 16) & 0xff
          val b3 = (id4 >>> 24) & 0xff
          if (b2 == 'd' && (b3 == 'c' || b3 == 'b') && sz > 0)
            return Some(
              java.util.Arrays.copyOfRange(content, p + 8, p + 8 + sz))
          p += 8 + sz + (sz & 1)
        }
        return None
      }
      pos += 8 + ckSz + (ckSz & 1)
    }
    None
  }

  /** The shared 8-dim image feature vector ([width, height, mean_r,
    * mean_g, mean_b, luma_mean, luma_std, channels*8]) from a decoded
    * dense-pixel frame — one stats pass used by every image decoder. */
  private def imageFeatureRow(id: Long, content: Array[Byte],
                              img: PngImage): Row = {
    val channels = img.channels
    var sr = 0.0
    var sg = 0.0
    var sb = 0.0
    var lsum = 0.0
    var lsq = 0.0
    var i = 0
    val total = img.width * img.height
    while (i < total) {
      val base = i * channels
      val r = img.pixels(base) & 0xff
      val (g, bl) =
        if (channels >= 3)
          (img.pixels(base + 1) & 0xff, img.pixels(base + 2) & 0xff)
        else (r, r)
      sr += r; sg += g; sb += bl
      val l = 0.299 * r + 0.587 * g + 0.114 * bl
      lsum += l
      lsq += l * l
      i += 1
    }
    val n = total.toDouble
    val lmean = lsum / n
    Row(id, content.length.toLong,
      graft.functions.Hashing.fnv1a(content),
      Seq(img.width.toDouble, img.height.toDouble, sr / n, sg / n, sb / n,
        lmean, math.sqrt(math.max(lsq / n - lmean * lmean, 0.0)),
        channels * 8.0))
  }

  /** JPEG decode to the shared dense-pixel form (gray 1-channel or RGB
    * 3-channel). Dimension check and budget run BEFORE `reader.read`
    * allocates the frame. */
  private[graft] def decodeJpegRaw(
      content: Array[Byte]): Option[PngImage] = {
    // SOI magic gate: don't even open a reader on non-JPEG bytes
    if (content.length < 4 || (content(0) & 0xff) != 0xff ||
      (content(1) & 0xff) != 0xd8) return None
    decodeImageIoRaw(content)
  }

  /** Format-sniffing ImageIO decode to the dense-pixel form — the
    * JPEG path's engine, and the fallback for the variants the
    * hand-rolled decoders decline (Adam7-interlaced PNG, interlaced
    * GIF, 16-bit/palette PNG): the JDK ships readers for all of them,
    * so those payloads produce REAL features instead of the stub. Same
    * budget discipline: dims checked before frame allocation. */
  private[graft] def decodeImageIoRaw(
      content: Array[Byte]): Option[PngImage] = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(content))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return None
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        if (w <= 0 || h <= 0) return None
        // PNG's 256 MB budget at the raster's worst case: reader.read
        // materializes 8 bytes/px for 16-bit RGBA before our px copy
        if (w.toLong * h * 8 > (256L << 20)) return None
        val bi = reader.read(0)
        val channels =
          if (bi.getColorModel.getNumColorComponents >= 3) 3 else 1
        val px = new Array[Byte](w * h * channels)
        if (channels == 1) {
          // raster samples, NOT getRGB: the gray ColorModel's sRGB
          // conversion is non-identity and would skew every sample.
          // 16-bit samples scale down by their excess bits — low-byte
          // truncation would map mid-gray 0x8000 to black.
          val raster = bi.getRaster
          val shift =
            math.max(0, raster.getSampleModel.getSampleSize(0) - 8)
          val rowBuf = new Array[Int](w)
          var y = 0
          while (y < h) {
            raster.getSamples(0, y, w, 1, 0, rowBuf)
            var x = 0
            while (x < w) {
              px(y * w + x) = ((rowBuf(x) >> shift) & 0xff).toByte
              x += 1
            }
            y += 1
          }
        } else {
          val rowBuf = new Array[Int](w)
          var y = 0
          while (y < h) {
            bi.getRGB(0, y, w, 1, rowBuf, 0, w)
            var x = 0
            while (x < w) {
              val argb = rowBuf(x)
              val base = (y * w + x) * 3
              px(base) = ((argb >> 16) & 0xff).toByte
              px(base + 1) = ((argb >> 8) & 0xff).toByte
              px(base + 2) = (argb & 0xff).toByte
              x += 1
            }
            y += 1
          }
        }
        Some(PngImage(w, h, channels, px))
      } finally reader.dispose()
    } catch {
      case _: java.io.IOException => None
    } finally iis.close()
  }

  /** JPEG re-encode of the dense-pixel form via the JDK's ImageIO
    * writer (default quality). */
  private[graft] def encodeJpeg(img: PngImage): Option[Array[Byte]] = {
    import java.awt.image.BufferedImage
    val biType =
      if (img.channels == 1) BufferedImage.TYPE_BYTE_GRAY
      else BufferedImage.TYPE_3BYTE_BGR
    val bi = new BufferedImage(img.width, img.height, biType)
    val rowBuf = new Array[Int](img.width)
    var y = 0
    while (y < img.height) {
      if (img.channels == 1) {
        // raster samples, mirroring decodeJpegRaw's gray path (setRGB
        // would run the non-identity sRGB→gray conversion)
        var x = 0
        while (x < img.width) {
          rowBuf(x) = img.pixels(y * img.width + x) & 0xff
          x += 1
        }
        bi.getRaster.setSamples(0, y, img.width, 1, 0, rowBuf)
      } else {
        var x = 0
        while (x < img.width) {
          val base = (y * img.width + x) * 3
          rowBuf(x) = 0xff000000 |
            ((img.pixels(base) & 0xff) << 16) |
            ((img.pixels(base + 1) & 0xff) << 8) |
            (img.pixels(base + 2) & 0xff)
          x += 1
        }
        bi.setRGB(0, y, img.width, 1, rowBuf, 0, img.width)
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(bi, "jpeg", out)) None
    else Some(out.toByteArray)
  }

  /** REAL decoder for GIF payloads — pure JVM: GIF's compression is the
    * self-contained LZW variant (variable code width, clear/EOI codes,
    * table growth to 12 bits), no codec library needed. Parses the
    * logical screen descriptor and global color table, skips extension
    * blocks, decodes the FIRST image descriptor (an animation's later
    * frames are ignored — documented), maps indices through the active
    * palette, and emits the shared 8-dim feature vector with bits = 24
    * (the decoded RGB depth, matching the other decoders' slot
    * semantics). Interlaced images return None → the ImageIO fallback
    * in [[extractFeatures]] decodes them for real; malformed streams
    * reach the stub. The pixel buffer is bounded by the same 256 MB
    * decode budget as PNG. */
  def decodeGif(id: Long, content: Array[Byte]): Option[Row] =
    decodeGifRaw(content).map(imageFeatureRow(id, content, _))

  /** First-frame GIF decode to a dense RGB buffer (channels = 3). */
  private[graft] def decodeGifRaw(
      content: Array[Byte]): Option[PngImage] = {
    def u8(i: Int) = content(i) & 0xff
    def u16(i: Int) = u8(i) | (u8(i + 1) << 8) // little-endian
    if (content.length < 13) return None
    val sig = new String(content, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    var pos = 6
    val screenFlags = u8(pos + 4)
    pos += 7 // logical screen descriptor
    var palette: Array[Byte] = null
    if ((screenFlags & 0x80) != 0) { // global color table
      val size = 3 * (2 << (screenFlags & 7))
      if (pos + size > content.length) return None
      palette = java.util.Arrays.copyOfRange(content, pos, pos + size)
      pos += size
    }
    // walk blocks to the first image descriptor
    while (pos < content.length && u8(pos) == 0x21) { // extension
      pos += 2 // introducer + label
      while (pos < content.length && u8(pos) != 0) {
        val blockLen = u8(pos)
        pos += 1 + blockLen
      }
      pos += 1 // block terminator
    }
    if (pos + 10 > content.length || u8(pos) != 0x2c) return None
    val width = u16(pos + 5)
    val height = u16(pos + 7)
    val imgFlags = u8(pos + 9)
    pos += 10
    if ((imgFlags & 0x40) != 0) return None // interlaced: ImageIO path
    if ((imgFlags & 0x80) != 0) { // local color table wins
      val size = 3 * (2 << (imgFlags & 7))
      if (pos + size > content.length) return None
      palette = java.util.Arrays.copyOfRange(content, pos, pos + size)
      pos += size
    }
    if (palette == null || width <= 0 || height <= 0) return None
    val total = width.toLong * height
    if (total * 3 > (256L << 20)) return None // PNG's decode budget
    gifLzwDecode(content, pos, total.toInt).flatMap { case (indices, _) =>
      gifIndicesToRgb(indices, palette, width, height)
    }
  }

  /** GIF-variant LZW decode of one image's data starting at `pos0` (the
    * min-code byte): concatenates the sub-blocks, unpacks codes
    * LSB-first (table of index STRINGS, rebuilt on every clear code),
    * returns the `npix` palette indices and the position just past the
    * data's block terminator. */
  private def gifLzwDecode(content: Array[Byte], pos0: Int,
                           npix: Int): Option[(Array[Byte], Int)] = {
    def u8(i: Int) = content(i) & 0xff
    var pos = pos0
    if (pos >= content.length) return None
    val minCode = u8(pos)
    pos += 1
    if (minCode < 2 || minCode > 8) return None
    // concatenate the data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    while (pos < content.length && u8(pos) != 0) {
      val blockLen = u8(pos)
      if (pos + 1 + blockLen > content.length) return None
      data.write(content, pos + 1, blockLen)
      pos += 1 + blockLen
    }
    if (pos >= content.length) return None
    pos += 1 // block terminator
    val bytes = data.toByteArray
    val clearCode = 1 << minCode
    val eoi = clearCode + 1
    val indices = new Array[Byte](npix)
    var out = 0
    var codeSize = minCode + 1
    var nextCode = eoi + 1
    val prefixOf = new Array[Int](4096)
    val suffixOf = new Array[Byte](4096)
    var prev = -1
    var acc = 0L
    var accBits = 0
    var bi = 0
    val stack = new Array[Byte](4096)
    var done = false
    while (!done && out < indices.length) {
      while (accBits < codeSize && bi < bytes.length) {
        acc |= (bytes(bi) & 0xffL) << accBits
        accBits += 8
        bi += 1
      }
      if (accBits < codeSize) return None // truncated stream
      val code = (acc & ((1 << codeSize) - 1)).toInt
      acc >>= codeSize
      accBits -= codeSize
      if (code == clearCode) {
        codeSize = minCode + 1
        nextCode = eoi + 1
        prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        // expand `code` (or prev+head for the not-yet-defined code)
        var sp = 0
        var cur = code
        if (code >= nextCode) {
          if (prev < 0 || code > nextCode) return None
          // KwKwK case: expand prev then append its head
          cur = prev
          stack(sp) = 0 // placeholder, patched below
          sp += 1
        }
        while (cur >= clearCode + 2) { // composite code
          stack(sp) = suffixOf(cur)
          sp += 1
          cur = prefixOf(cur)
          if (sp >= stack.length) return None
        }
        val head = cur.toByte // root code = literal palette index
        stack(sp) = head
        sp += 1
        if (code >= nextCode) stack(0) = head // patch the KwKwK tail
        // emit reversed
        var k = sp - 1
        while (k >= 0 && out < indices.length) {
          indices(out) = stack(k)
          out += 1
          k -= 1
        }
        if (prev >= 0 && nextCode < 4096) {
          prefixOf(nextCode) = prev
          suffixOf(nextCode) = head
          nextCode += 1
          if (nextCode == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    if (out < indices.length) None else Some((indices, pos))
  }

  /** Palette lookup → dense RGB buffer (shared by the first-frame and
    * animation decoders). */
  private def gifIndicesToRgb(indices: Array[Byte], palette: Array[Byte],
                              width: Int, height: Int): Option[PngImage] = {
    val nColors = palette.length / 3
    val px = new Array[Byte](indices.length * 3)
    var i = 0
    while (i < indices.length) {
      val idx = indices(i) & 0xff
      if (idx >= nColors) return None
      px(i * 3) = palette(idx * 3)
      px(i * 3 + 1) = palette(idx * 3 + 1)
      px(i * 3 + 2) = palette(idx * 3 + 2)
      i += 1
    }
    Some(PngImage(width, height, 3, px))
  }

  /** Batched feature extraction over the asset table: one decoder pass per
    * partition (mapPartitions — the Scala analogue of a batched
    * mapInPandas), emitting [[FeatureSchema]] rows. Dispatches on
    * `meta.mime`: `audio/wav` payloads go through the REAL PCM decoder
    * ([[decodeWavPcm]]), `image/bmp` through the REAL BMP decoder
    * ([[decodeBmp]]), `image/png` through the REAL PNG decoder
    * ([[decodePng]]), `image/gif` through the REAL LZW decoder
    * ([[decodeGif]]), and `image/jpeg` through the JDK ImageIO decoder
    * ([[decodeJpeg]]), and `video/avi` through the MJPEG first-frame
    * decoder ([[decodeMjpegAvi]]), all falling back to the stub on
    * malformed bytes; everything else uses [[decodeStub]] (the
    * remaining compressed video codecs don't exist in this
    * environment). */
  def extractFeatures(assets: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(FeatureSchema)
    assets.select(col("id"), col("content"), col("meta.mime").as("mime"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          // belt and braces: a decoder bug on adversarial bytes must
          // degrade to the stub, never kill the task
          val decoded = r.getString(2) match {
            case "audio/wav" =>
              scala.util.Try(decodeWavPcm(id, bytes)).toOption.flatten
            case "image/bmp" =>
              scala.util.Try(decodeBmp(id, bytes)).toOption.flatten
            // the hand-rolled PNG/GIF decoders decline interlaced and
            // exotic-depth variants; ImageIO picks those up (the JDK
            // ships Adam7/interlace-capable readers) before the stub
            case "image/png" =>
              scala.util.Try(decodePng(id, bytes)).toOption.flatten
                .orElse(scala.util.Try(decodeImageIo(id, bytes))
                  .toOption.flatten)
            case "image/gif" =>
              scala.util.Try(decodeGif(id, bytes)).toOption.flatten
                .orElse(scala.util.Try(decodeImageIo(id, bytes))
                  .toOption.flatten)
            case "image/jpeg" | "image/jpg" =>
              scala.util.Try(decodeJpeg(id, bytes)).toOption.flatten
            // MJPEG-in-AVI: first-frame JPEG through the RIFF walk;
            // other codecs inside AVI fail the SOI gate -> stub
            case "video/avi" | "video/x-msvideo" | "video/mjpeg" =>
              scala.util.Try(decodeMjpegAvi(id, bytes)).toOption.flatten
            case _ => None
          }
          decoded.getOrElse(decodeStub(id, bytes))
        }
      }(enc)
  }

  // ---- perceptual image hashing ----

  /** BMP payload to the shared dense top-down RGB frame, so the
    * perceptual hasher sees the same pixel layout from every container
    * format (BMP stores BGR rows, usually bottom-up). */
  private[graft] def bmpToImage(content: Array[Byte]): Option[PngImage] = {
    val l = parseBmp(content).getOrElse(return None)
    if (l.width.toLong * l.height * 3 > (256L << 20)) return None
    val out = new Array[Byte](l.width * l.height * 3)
    var y = 0
    while (y < l.height) {
      val srcRow = if (l.topDown) y else l.height - 1 - y
      val rowOff = l.dataOff + srcRow * l.stride
      var x = 0
      while (x < l.width) {
        val p = (rowOff + x.toLong * l.bpp).toInt
        val base = (y * l.width + x) * 3
        out(base) = content(p + 2) // R (BMP rows are BGR)
        out(base + 1) = content(p + 1)
        out(base + 2) = content(p)
        x += 1
      }
      y += 1
    }
    Some(PngImage(l.width, l.height, 3, out))
  }

  /** 32×32 area-averaged luma plane of a decoded frame — the
    * downsampling step of the DCT perceptual hash. Box averaging (not
    * point sampling) so a one-pixel shift in a large image cannot flip
    * the plane. */
  private[graft] def luma32(img: PngImage): Array[Double] = {
    val out = new Array[Double](32 * 32)
    var ty = 0
    while (ty < 32) {
      val y0 = (ty.toLong * img.height / 32).toInt
      val y1 = math.max(y0 + 1, ((ty + 1).toLong * img.height / 32).toInt)
      var tx = 0
      while (tx < 32) {
        val x0 = (tx.toLong * img.width / 32).toInt
        val x1 = math.max(x0 + 1, ((tx + 1).toLong * img.width / 32).toInt)
        var s = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val base = (y * img.width + x) * img.channels
            val r = img.pixels(base) & 0xff
            val (g, b) =
              if (img.channels >= 3)
                (img.pixels(base + 1) & 0xff, img.pixels(base + 2) & 0xff)
              else (r, r)
            s += 0.299 * r + 0.587 * g + 0.114 * b
            x += 1
          }
          y += 1
        }
        out(ty * 32 + tx) = s / ((y1 - y0).toDouble * (x1 - x0))
        tx += 1
      }
      ty += 1
    }
    out
  }

  // DCT-II basis for the 8 lowest frequencies over 32 samples
  private val dctBasis: Array[Array[Double]] = Array.tabulate(8, 32)(
    (u, x) => math.cos(math.Pi * (2 * x + 1) * u / 64.0))

  /** 64-bit DCT perceptual hash (pHash): 32×32 luma → 2-D DCT-II → the
    * 8×8 lowest-frequency block → one bit per AC coefficient, set when
    * the coefficient exceeds the median of the 63 AC terms (bit 63
    * stays 0). Excluding the DC term makes the hash invariant to
    * uniform brightness OFFSET, and median thresholding makes it
    * invariant to positive contrast SCALING — the two edits that, with
    * resizing (absorbed by the 32×32 downsample), account for most
    * re-encoded web-crawl image duplicates. Near-duplicate frames
    * differ in a few bits; unrelated frames differ in ~32. */
  private[graft] def perceptualHash64(img: PngImage): Long = {
    require(img.width > 0 && img.height > 0, "empty image")
    val f = luma32(img)
    // separable DCT: rows first (32×8), then columns (8×8)
    val t = new Array[Double](32 * 8)
    var y = 0
    while (y < 32) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var x = 0
        while (x < 32) { s += f(y * 32 + x) * dctBasis(v)(x); x += 1 }
        t(y * 8 + v) = s
        v += 1
      }
      y += 1
    }
    val coef = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 32) { s += t(yy * 8 + v) * dctBasis(u)(yy); yy += 1 }
        coef(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(coef, 1, 64)
    val sorted = ac.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31) // true median of 63 values
    var h = 0L
    var k = 0
    while (k < 63) {
      if (ac(k) > med) h |= (1L << k)
      k += 1
    }
    h
  }

  /** Per-asset perceptual hashes: (id, phash) for every decodable image
    * payload (PNG/BMP/GIF/JPEG, with the ImageIO fallback for variants
    * the hand-rolled decoders decline); undecodable assets are absent —
    * a corrupt image has no principled hash, and emitting one from raw
    * bytes would alias unrelated corrupt files into dup candidates.
    * Same codec-boundary `mapPartitions` shape as [[extractFeatures]];
    * the output is an 8-byte column per image, the whole point at
    * 100 TB: the expensive decode runs ONCE per image and every
    * downstream dedup pass joins on the fixed-size hash. */
  def perceptualHashes(assets: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val enc = ExpressionEncoder(schema)
    assets.select(col("id"), col("content"), col("meta.mime").as("mime"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val img = r.getString(2) match {
            case "image/png" =>
              scala.util.Try(decodePngRaw(bytes)).toOption.flatten
                .orElse(scala.util.Try(decodeImageIoRaw(bytes))
                  .toOption.flatten)
            case "image/bmp" =>
              scala.util.Try(bmpToImage(bytes)).toOption.flatten
            case "image/gif" =>
              scala.util.Try(decodeGifRaw(bytes)).toOption.flatten
                .orElse(scala.util.Try(decodeImageIoRaw(bytes))
                  .toOption.flatten)
            case "image/jpeg" | "image/jpg" =>
              scala.util.Try(decodeJpegRaw(bytes)).toOption.flatten
            case _ => None
          }
          img.filter(i => i.width > 0 && i.height > 0)
            .map(i => Row(r.getLong(0), perceptualHash64(i)))
        }
      }(enc)
  }

  private def chunkGuards(hammingMax: Int, chunks: Int): Unit = {
    require(chunks > 0 && 64 % chunks == 0, "chunks must divide 64")
    require(hammingMax >= 0 && hammingMax < chunks,
      s"pigeonhole banding guarantees recall only for hamming < chunks " +
        s"(got hammingMax=$hammingMax, chunks=$chunks)")
  }

  private def chunkedHashes(df: DataFrame, chunks: Int): DataFrame =
    df.select(col("id"), col("phash"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("chunk_val",
        expr(s"shiftrightunsigned(phash, chunk * ${64 / chunks})")
          .bitwiseAND(lit((1L << (64 / chunks)) - 1)))

  /** Smallest chunk index on which two 64-bit hashes agree (−1 when
    * none). A pair joining on k agreeing chunks appears k times; the
    * `chunk === firstAgreeingChunk` filter keeps exactly one — a pure
    * expression, so candidate dedup costs NO extra shuffle (vs
    * `distinct()`, which exchanges the whole candidate volume). */
  private def firstAgreeingChunk(a: Column, b: Column,
                                 chunks: Int): Column = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    def chunkOf(c: Column, k: Int) =
      shiftrightunsigned(c, k * width).bitwiseAND(lit(mask))
    (0 until chunks).reverse.foldLeft(lit(-1): Column) { (acc, k) =>
      when(chunkOf(a, k) === chunkOf(b, k), lit(k)).otherwise(acc)
    }
  }

  /** Near-duplicate image pairs from a [[perceptualHashes]] frame:
    * all (id_a < id_b) pairs with pHash Hamming distance ≤
    * `hammingMax`. Same pigeonhole banding as the text simhash join —
    * a pair within distance < `chunks` must agree exactly on at least
    * one of the `chunks` hash segments, so candidates come from
    * equi-joins on (chunk, value) keys, never an all-pairs scan; the
    * exact `bit_count(xor)` filter then makes precision 1 (pHash IS
    * the metric — no second verification pass exists to pay for).
    * Multi-chunk matches dedupe via [[firstAgreeingChunk]] — zero
    * extra shuffle. */
  def phashNearDupPairs(hashes: DataFrame, hammingMax: Int = 3,
                        chunks: Int = 4): DataFrame = {
    chunkGuards(hammingMax, chunks)
    val chunked = chunkedHashes(hashes, chunks)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .filter(col("a.chunk") ===
        firstAgreeingChunk(col("a.phash"), col("b.phash"), chunks))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= hammingMax)
  }

  /** 64-bit audio fingerprint over `audio/wav` assets — the audio leg
    * of the dedup triangle (text shingles / image pHash / THIS): the
    * classic energy-envelope delta hash (Haitsma–Kalker bit
    * derivation, public algorithm). Channel 0's RAW INTEGER samples
    * (16-bit: the short value; 8-bit: byte − 128) frame into up to
    * `nFrames` non-overlapping `frameSize`-sample windows; bit k of
    * the hash is 1 iff energy(frame k+1) > energy(frame k), energies
    * as EXACT Long sums of squares — consecutive-frame comparison
    * makes the bits amplitude-scale-robust, and integer energies make
    * the whole fingerprint externally replicable (the DuckDB oracle
    * recomputes it digit-exact, no float threshold anywhere). Frames
    * past the payload's end count as energy 0 with comparisons
    * untaken (bits stay 0); assets that aren't decodable PCM WAV or
    * hold less than one frame are OMITTED. Output: (id, ahash).
    *
    * Scale design: same `mapPartitions` codec-boundary shape as
    * [[perceptualHashes]] — the decode runs once per asset, bounded
    * at `nFrames × frameSize` samples/row, and every downstream dedup
    * pass joins on the fixed 8-byte hash. */
  def audioFingerprints(assets: DataFrame, frameSize: Int = 1024,
                        nFrames: Int = 65): DataFrame = {
    require(frameSize >= 1, "frameSize must be >= 1")
    require(nFrames >= 2 && nFrames <= 65,
      "nFrames must be in [2, 65] (bits = nFrames - 1 <= 64)")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false)))
    val enc = ExpressionEncoder(schema)
    assets.select(col("id"), col("content"), col("meta.mime").as("mime"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.getString(2) != "audio/wav") None
          else scala.util.Try(audioFingerprintRow(r.getLong(0),
            r.getAs[Array[Byte]](1), frameSize, nFrames))
            .toOption.flatten
        }
      }(enc)
  }

  private def audioFingerprintRow(id: Long, content: Array[Byte],
                                  frameSize: Int,
                                  nFrames: Int): Option[Row] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val lay = parseWav(content).getOrElse(return None)
    val bb = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    val perChannel = lay.n / lay.channels
    val m = math.min(perChannel / frameSize, nFrames)
    if (m < 1) return None
    val energy = new Array[Long](m)
    var f = 0
    while (f < m) {
      var e = 0L
      var t = 0
      while (t < frameSize) {
        val idx = (f * frameSize + t) * lay.channels // channel 0
        val v: Long =
          if (lay.bits == 16) bb.getShort(lay.dataOff + idx * 2).toLong
          else ((content(lay.dataOff + idx) & 0xff) - 128).toLong
        e += v * v
        t += 1
      }
      energy(f) = e
      f += 1
    }
    var hash = 0L
    var k = 0
    while (k < m - 1) {
      if (energy(k + 1) > energy(k)) hash |= (1L << k)
      k += 1
    }
    Some(Row(id, hash))
  }

  /** Near-duplicate audio pairs from an [[audioFingerprints]] frame:
    * all (id_a < id_b) pairs within `hammingMax` — the EXACT same
    * pigeonhole chunk-banding machinery as [[phashNearDupPairs]]
    * (candidates from (chunk, value) equi-joins, never all-pairs;
    * multi-chunk matches deduped by the firstAgreeingChunk
    * expression, zero extra shuffle), applied to the audio hash. */
  def audioNearDupPairs(fingerprints: DataFrame, hammingMax: Int = 4,
                        chunks: Int = 8): DataFrame =
    phashNearDupPairs(
      fingerprints.select(col("id"), col("ahash").as("phash")),
      hammingMax, chunks)

  /** Integer grid-delta hash of a decoded frame — the video leg's
    * per-frame hash: 8×8 block sums of INTEGER luma (299r + 587g +
    * 114b, exact longs), bit k set iff block k+1 outweighs block k in
    * row-major order (unequal block areas compare cross-multiplied,
    * still exact) — [[audioFingerprints]]' Haitsma–Kalker consecutive
    * comparison applied spatially, i.e. the public dHash family.
    * Chosen over the DCT pHash for video HERE because every bit is a
    * pure integer comparison: the oracle replays frame hashes
    * digit-exact from a fixture's pixel grammar, which float DCT
    * coefficients cannot offer. */
  private[graft] def gridDeltaHash64(img: PngImage): Long = {
    require(img.width > 0 && img.height > 0, "empty image")
    val s = new Array[Long](64)
    val area = new Array[Long](64)
    var by = 0
    while (by < 8) {
      val y0 = (by.toLong * img.height / 8).toInt
      val y1 = math.max(y0 + 1, ((by + 1).toLong * img.height / 8).toInt)
      var bx = 0
      while (bx < 8) {
        val x0 = (bx.toLong * img.width / 8).toInt
        val x1 = math.max(x0 + 1, ((bx + 1).toLong * img.width / 8).toInt)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val base = (y * img.width + x) * img.channels
            val r = img.pixels(base) & 0xff
            val (g, b) =
              if (img.channels >= 3)
                (img.pixels(base + 1) & 0xff, img.pixels(base + 2) & 0xff)
              else (r, r)
            sum += 299L * r + 587L * g + 114L * b
            x += 1
          }
          y += 1
        }
        val k = by * 8 + bx
        s(k) = sum
        area(k) = (y1 - y0).toLong * (x1 - x0)
        bx += 1
      }
      by += 1
    }
    var h = 0L
    var k = 0
    while (k < 63) {
      if (s(k + 1) * area(k) > s(k) * area(k + 1)) h |= (1L << k)
      k += 1
    }
    h
  }

  /** [[firstAviFrame]]'s RIFF walk, continued past the first frame:
    * every `##dc`/`##db` movi chunk in container order, keeping
    * indices 0, stride, 2·stride … up to `maxFrames` — the walk stops
    * as soon as the budget is met, so cost is bounded regardless of
    * container length. Same remaining-length bounds discipline. */
  private[operators] def aviSampledFrames(
      content: Array[Byte], stride: Int,
      maxFrames: Int): Option[Vector[Array[Byte]]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    if (content.length < 24) return None
    val bb = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.getInt(0) != 0x46464952 || bb.getInt(8) != 0x20495641)
      return None // "RIFF" ... "AVI "
    var pos = 12
    while (pos + 8 <= content.length) {
      val ckId = bb.getInt(pos)
      val ckSz = bb.getInt(pos + 4)
      if (ckSz < 0 || ckSz > content.length - pos - 8) return None
      if (ckId == 0x5453494C && ckSz >= 4 &&
        bb.getInt(pos + 8) == 0x69766F6D) { // LIST ... 'movi'
        var p = pos + 12
        val end = pos + 8 + ckSz
        val out = Vector.newBuilder[Array[Byte]]
        var idx = 0
        var kept = 0
        while (p + 8 <= end && kept < maxFrames) {
          val id4 = bb.getInt(p)
          val sz = bb.getInt(p + 4)
          if (sz < 0 || sz > end - p - 8) return None
          val b2 = (id4 >>> 16) & 0xff
          val b3 = (id4 >>> 24) & 0xff
          if (b2 == 'd' && (b3 == 'c' || b3 == 'b') && sz > 0) {
            if (idx % stride == 0) {
              out += java.util.Arrays.copyOfRange(content, p + 8,
                p + 8 + sz)
              kept += 1
            }
            idx += 1
          }
          p += 8 + sz + (sz & 1)
        }
        val v = out.result()
        return if (v.nonEmpty) Some(v) else None
      }
      pos += 8 + ckSz + (ckSz & 1)
    }
    None
  }

  /** Frame-sequence fingerprints over `video/avi` assets — the video
    * leg of the dedup quad (text / image / audio / THIS): frames
    * sample at a deterministic stride through the movi list (indices
    * 0, stride, …, ≤ maxFrames), each decodes to pixels (JPEG by SOI
    * gate — the MJPEG case — else uncompressed-BMP `##db` payload)
    * and hashes via [[gridDeltaHash64]]. An asset whose SAMPLED
    * frames don't all decode is OMITTED — a partial sequence would
    * misalign against its true near-duplicates, aliasing unrelated
    * videos. Output: (id, pos, fhash, n_frames), one row per sampled
    * frame.
    *
    * Scale design: the same codec-boundary `mapPartitions` shape as
    * [[perceptualHashes]] — decode runs once per asset, bounded at
    * `maxFrames` frames; every downstream pass joins on fixed 8-byte
    * frame hashes. */
  def videoFingerprints(assets: DataFrame, stride: Int = 2,
                        maxFrames: Int = 8): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    require(maxFrames >= 1, "maxFrames must be >= 1")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("pos", IntegerType, nullable = false),
      StructField("fhash", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false)))
    val enc = ExpressionEncoder(schema)
    assets.select(col("id"), col("content"), col("meta.mime").as("mime"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.getString(2) != "video/avi") Nil
          else videoFingerprintRows(r.getLong(0),
            r.getAs[Array[Byte]](1), stride, maxFrames)
        }
      }(enc)
  }

  private def videoFingerprintRows(id: Long, content: Array[Byte],
                                   stride: Int,
                                   maxFrames: Int): Seq[Row] = {
    val frames = scala.util.Try(
        aviSampledFrames(content, stride, maxFrames))
      .toOption.flatten.getOrElse(return Nil)
    val hashes = frames.map { f =>
      val img =
        if (f.length >= 2 && (f(0) & 0xff) == 0xff &&
          (f(1) & 0xff) == 0xd8)
          scala.util.Try(decodeJpegRaw(f)).toOption.flatten
        else scala.util.Try(bmpToImage(f)).toOption.flatten
      img.filter(i => i.width > 0 && i.height > 0).map(gridDeltaHash64)
    }
    if (hashes.exists(_.isEmpty)) return Nil
    val hs = hashes.map(_.get)
    hs.zipWithIndex.map { case (h, i) => Row(id, i, h, hs.length) }
  }

  /** Near-duplicate video pairs from a [[videoFingerprints]] frame:
    * all (id_a < id_b) pairs with EQUAL sampled-frame counts whose
    * per-position frame-hash Hamming distance never exceeds
    * `hammingMax` — the aligned-sequence metric (same content
    * re-encoded keeps every sampled frame close; a cut or insert
    * breaks alignment and correctly fails the count gate). Output:
    * (id_a, id_b, hamming) with hamming = the max per-position
    * distance.
    *
    * Scale design: banded, never all-pairs — candidates come from the
    * POSITION-0 hash through the exact pigeonhole chunk machinery the
    * image/audio legs use (a qualifying pair has frame-0 distance ≤
    * hammingMax < chunks, so it must agree on a chunk: full recall),
    * deduped by the zero-shuffle firstAgreeingChunk expression; only
    * candidate pairs join their full (≤ maxFrames-row) sequences for
    * the exact verify. */
  def videoNearDupPairs(fingerprints: DataFrame, hammingMax: Int = 4,
                        chunks: Int = 8): DataFrame = {
    chunkGuards(hammingMax, chunks)
    val f0 = fingerprints.filter(col("pos") === 0)
      .select(col("id"), col("fhash").as("phash"))
    val chunked = chunkedHashes(f0, chunks)
    val cand = chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .filter(col("a.chunk") ===
        firstAgreeingChunk(col("a.phash"), col("b.phash"), chunks))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val seq = fingerprints.select(col("id"), col("pos"),
      col("fhash"), col("n_frames"))
    cand.join(seq.as("sa"), col("id_a") === col("sa.id"))
      .join(seq.as("sb"),
        col("id_b") === col("sb.id") && col("sa.pos") === col("sb.pos"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        max(bit_count(col("sa.fhash").bitwiseXOR(col("sb.fhash")))
          .cast("long")).as("hamming"),
        count(lit(1)).as("__m"),
        max(col("sa.n_frames")).as("__na"),
        max(col("sb.n_frames")).as("__nb"))
      .filter(col("__m") === col("__na") &&
        col("__na") === col("__nb") && col("hamming") <= hammingMax)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Minimal PNG encoder: filter-0 rows, one deflated IDAT, CRC32 per
    * chunk — a valid baseline PNG any reader accepts, and the reference
    * [[decodePngRaw]] round-trips against. Color type follows the
    * channel count (1 → gray, 2 → gray+alpha, 3 → RGB, 4 → RGBA), bit
    * depth 8. */
  private[graft] def encodePng(img: PngImage): Array[Byte] = {
    import java.util.zip.{CRC32, Deflater}
    val colorType = img.channels match {
      case 1 => 0
      case 2 => 4
      case 3 => 2
      case _ => 6
    }
    val stride = img.width * img.channels
    val filtered = new Array[Byte]((stride + 1) * img.height)
    var y = 0
    while (y < img.height) {
      // filter byte 0 then the raw row
      System.arraycopy(img.pixels, y * stride, filtered,
        y * (stride + 1) + 1, stride)
      y += 1
    }
    val defl = new Deflater()
    defl.setInput(filtered)
    defl.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    def chunk(ctype: String, data: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(ctype.getBytes("US-ASCII")).put(data)
      val crc = new CRC32()
      crc.update(ctype.getBytes("US-ASCII"))
      crc.update(data)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(img.width).putInt(img.height)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", comp.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Frame sampling over a chunked binary payload: treats `content` as
    * fixed-size `frameBytes` frames and keeps every `everyN`-th one,
    * exploded to (id, frame_index, frame). The chunk arithmetic and
    * explode are the real distributed plumbing; for real video, frame
    * boundaries come from the container parser instead of fixed
    * stride. */
  def sampleFrames(assets: DataFrame, frameBytes: Int,
                   everyN: Int): DataFrame = {
    val nFrames = ceil(octet_length(col("content")).cast("double") / frameBytes)
      .cast("int")
    // stride directly in the sequence: only kept frame indices are ever
    // materialized (no explode-then-filter waste)
    assets.select(col("id"), col("content"),
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)),
          lit(everyN))).as("frame_index"))
      .select(col("id"), col("frame_index"),
        expr(s"substring(content, frame_index * $frameBytes + 1, $frameBytes)")
          .as("frame"))
  }
}
