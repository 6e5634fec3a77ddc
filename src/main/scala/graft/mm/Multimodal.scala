package graft.mm

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.sketch.core.XxHash64

/** Typed metadata for an opaque media blob (image/audio/video treated as
  * `binary` columns with a small parseable header).
  */
case class MediaMeta(kind: String, width: Int, height: Int, channels: Int, bytes: Long)

/** Multimodal-column plumbing: media as opaque BinaryType columns + typed
  * metadata, with decode / feature-extract / resize / frame-sample
  * operators.
  *
  * Image payloads that carry a known codec signature (PNG/JPEG/GIF/BMP)
  * decode for real through `javax.imageio`; payloads with no decodable
  * codec in this container (synthetic blobs, audio, video) go through a
  * clearly-marked DETERMINISTIC STUB instead. Everything Spark-side is real
  * and tested either way: the binary header format and its parser, UDF
  * signatures, schemas (struct/array outputs), and the partition behavior
  * of a decode pipeline — a JNI audio/video codec would replace only
  * `stubPixels`, changing no plan shape.
  */
object Multimodal {

  final val Magic: Byte = 0xAB.toByte
  val Kinds = Array("image", "audio", "video")

  /** Real header codec: [magic, kindTag, width:4, height:4, channels:1,
    * payload…] little-endian.
    */
  def encodeMedia(kind: String, width: Int, height: Int, channels: Int,
      payload: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(11 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic)
    bb.put(Kinds.indexOf(kind).toByte)
    bb.putInt(width); bb.putInt(height)
    bb.put(channels.toByte)
    bb.put(payload)
    bb.array()
  }

  def parseMeta(bytes: Array[Byte]): MediaMeta = {
    require(bytes != null && bytes.length >= 11 && bytes(0) == Magic, "not a media blob")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    bb.get()
    val kind = Kinds(bb.get().toInt)
    val w = bb.getInt(); val h = bb.getInt(); val c = bb.get().toInt
    MediaMeta(kind, w, h, c, bytes.length.toLong)
  }

  /** True when the payload starts with a codec signature the JDK decodes
    * (PNG, JPEG, GIF, BMP). Random/synthetic payloads collide with these
    * 2-8 byte magics with negligible probability.
    */
  private def looksLikeImage(p: Array[Byte]): Boolean = {
    if (p.length < 8) return false
    (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') || // PNG
    (p(0) == 0xff.toByte && p(1) == 0xd8.toByte && p(2) == 0xff.toByte) || // JPEG
    (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') || // GIF
    (p(0) == 'B' && p(1) == 'M') // BMP
  }

  /** Real image decode for payloads the JDK's built-in codecs understand
    * (PNG/JPEG/GIF/BMP via javax.imageio): grayscale pixel means pooled into
    * `dim` buckets. Payloads with no image signature use the deterministic
    * stub; a payload that CLAIMS to be an image but fails to decode is a
    * data error and fails loudly (silently emitting stub features for a
    * corrupt image would poison downstream similarity/dedup).
    */
  private def decodePixels(payload: Array[Byte], dim: Int): Array[Float] = {
    if (!looksLikeImage(payload)) return stubPixels(payload, dim)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"payload has an image signature but failed to decode (${e.getMessage})", e)
      }
    if (img == null || img.getWidth == 0 || img.getHeight == 0) {
      throw new IllegalArgumentException(
        "payload has an image signature but ImageIO produced no image")
    }
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val gray = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / (3.0 * 255.0)
        val b = ((y.toLong * w + x) * dim / (w.toLong * h)).toInt
        sums(b) += gray; counts(b) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      out(i) = if (counts(i) > 0) (sums(i) / counts(i)).toFloat else 0f
      i += 1
    }
    out
  }

  /** ======== STUB (fallback only) ========
    * Deterministic fake of the pixel/sample decode for payloads with no
    * decodable codec in this container (raw synthetic bytes, audio, video):
    * derives `dim` floats from a rolling hash of the payload. A real
    * deployment replaces ONLY this function with an actual codec; every
    * caller keeps its signature.
    */
  private def stubPixels(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val h = XxHash64.hashLong(XxHash64.hashBytes(payload, i.toLong), 0xfeedfaceL)
      out(i) = ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat * 2f - 1f
      i += 1
    }
    out
  }

  /** Feature extraction: header-parse (real) + decode (stub) + L2-normalize
    * (real).
    */
  def features(bytes: Array[Byte], dim: Int): Array[Float] = {
    val meta = parseMeta(bytes)
    val raw = decodePixels(java.util.Arrays.copyOfRange(bytes, 11, bytes.length), dim)
    var norm = 0.0
    raw.foreach(v => norm += v.toDouble * v.toDouble)
    val inv = if (norm > 0) (1.0 / math.sqrt(norm)).toFloat else 0f
    raw.map(_ * inv)
  }

  /** Frame sampling: split the payload into `n` equal byte ranges, each
    * re-wrapped as a standalone media blob (real byte plumbing; real codecs
    * would cut on keyframes).
    */
  def frameSample(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
    val meta = parseMeta(bytes)
    val payload = java.util.Arrays.copyOfRange(bytes, 11, bytes.length)
    if (payload.isEmpty || n <= 0) return Seq.empty
    val step = math.max(1, payload.length / n)
    (0 until n).map { i =>
      val from = math.min(i * step, payload.length - 1)
      val to = math.min(from + step, payload.length)
      encodeMedia(meta.kind, meta.width, meta.height, meta.channels,
        java.util.Arrays.copyOfRange(payload, from, to))
    }
  }

  /** Resize: area-average resampling of the blob's raster grid to
    * (ow × oh), re-wrapped as a media blob of the same kind with the
    * resized RAW grayscale raster (one byte per pixel, channels = 1) as
    * payload. The resampling arithmetic is real over whichever grid the
    * blob carries: a decoded ImageIO grid for codec payloads (PNG/JPEG/
    * GIF/BMP), the raw byte raster when the payload length matches
    * width × height × channels from the header, and the deterministic stub
    * grid otherwise (same fallback contract as decodePixels). Raw-raster
    * output keeps the bytes deterministic — a PNG encoder's byte stream is
    * JDK-version-dependent, the resampled pixels are not.
    */
  def resize(bytes: Array[Byte], ow: Int, oh: Int): Array[Byte] = {
    require(ow > 0 && oh > 0, s"resize target must be positive, got ${ow}x$oh")
    val meta = parseMeta(bytes)
    val payload = java.util.Arrays.copyOfRange(bytes, 11, bytes.length)
    // source grid as grayscale [0,1] row-major + its true dimensions
    val (sw, sh, grid): (Int, Int, Array[Float]) =
      if (looksLikeImage(payload)) {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        require(img != null && img.getWidth > 0 && img.getHeight > 0,
          "payload has an image signature but ImageIO produced no image")
        val w = img.getWidth; val h = img.getHeight
        val g = new Array[Float](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            g(y * w + x) =
              ((((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / (3.0 * 255.0)).toFloat
            x += 1
          }
          y += 1
        }
        (w, h, g)
      } else if (meta.width > 0 && meta.height > 0 &&
          payload.length == meta.width * meta.height * math.max(1, meta.channels)) {
        val w = meta.width; val h = meta.height; val c = math.max(1, meta.channels)
        val g = new Array[Float](w * h)
        var i = 0
        while (i < w * h) {
          var s = 0
          var ch = 0
          while (ch < c) { s += payload(i * c + ch) & 0xff; ch += 1 }
          g(i) = (s / (c * 255.0)).toFloat
          i += 1
        }
        (w, h, g)
      } else {
        val w = math.max(1, meta.width); val h = math.max(1, meta.height)
        (w, h, stubPixels(payload, w * h).map(v => (v + 1f) / 2f))
      }
    // area-average: output pixel (ox, oy) = mean of the source box
    // [ox*sw/ow, (ox+1)*sw/ow) x [oy*sh/oh, (oy+1)*sh/oh) (boxes at least
    // 1x1, so upscales nearest-sample and downscales average — exact
    // integer box arithmetic, no float coordinate rounding)
    val raster = new Array[Byte](ow * oh)
    var oy = 0
    while (oy < oh) {
      val y0 = oy * sh / oh
      val y1 = math.max(y0 + 1, (oy + 1) * sh / oh)
      var ox = 0
      while (ox < ow) {
        val x0 = ox * sw / ow
        val x1 = math.max(x0 + 1, (ox + 1) * sw / ow)
        var s = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += grid(y * sw + x); x += 1 }
          y += 1
        }
        val mean = s / ((y1 - y0).toLong * (x1 - x0))
        raster(oy * ow + ox) = math.round(mean * 255.0).toInt.max(0).min(255).toByte
        ox += 1
      }
      oy += 1
    }
    encodeMedia(meta.kind, ow, oh, 1, raster)
  }

  /** Synthetic deterministic media blob for tests/bench. */
  def synthetic(id: Long, kind: String = "image"): Array[Byte] = {
    val r = XxHash64.hashLong(id, 0x1234abcdL)
    val w = 16 + (r & 0x3f).toInt
    val h = 16 + ((r >>> 8) & 0x3f).toInt
    val payload = new Array[Byte](w * h)
    var i = 0
    while (i < payload.length) {
      payload(i) = (XxHash64.hashLong(r + i, 7L) & 0xff).toByte
      i += 1
    }
    encodeMedia(kind, w, h, 1, payload)
  }

  // ---- Spark surface ----
  val mediaMetaUdf: UserDefinedFunction = udf((b: Array[Byte]) => parseMeta(b))
  /** Blob constructor from typed fields (zero payload of `payloadLen` bytes)
    * — lets a driver query round-trip the binary codec against a SQL oracle
    * computed from the same integer fields.
    */
  val encodeMediaUdf: UserDefinedFunction =
    udf((kind: String, w: Int, h: Int, ch: Int, payloadLen: Int) =>
      encodeMedia(kind, w, h, ch, new Array[Byte](math.max(0, payloadLen))))
  val mediaFeaturesUdf: UserDefinedFunction =
    udf((b: Array[Byte], dim: Int) => features(b, dim))
  val frameSampleUdf: UserDefinedFunction =
    udf((b: Array[Byte], n: Int) => frameSample(b, n))
  val resizeUdf: UserDefinedFunction =
    udf((b: Array[Byte], w: Int, h: Int) => resize(b, w, h))
  val syntheticMediaUdf: UserDefinedFunction = udf((id: Long) => synthetic(id))
}
