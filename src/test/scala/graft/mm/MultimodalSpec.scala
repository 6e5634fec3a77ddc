package graft.mm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal binary-column plumbing: header codec, schemas, UDF signatures,
  * frame sampling, and distributed feature extraction over a BinaryType
  * column (decode itself is a documented deterministic stub).
  */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .appName("graft-mm-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("real PNG payloads decode through javax.imageio, not the stub") {
    // build a 32x16 gradient PNG with the JDK's own encoder
    val img = new java.awt.image.BufferedImage(32, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 32) {
      val g = (y * 255) / 15 // vertical gradient: dark top, bright bottom
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val blob = Multimodal.encodeMedia("image", 32, 16, 3, bos.toByteArray)
    val feats = Multimodal.features(blob, 4)
    // a vertical gradient pooled into 4 row-major buckets must come out
    // strictly increasing after a real decode — the hash-stub fallback
    // would give sign-random values instead
    assert(feats.length == 4)
    assert(feats.forall(_ >= 0f), s"gradient means must be >= 0: ${feats.toSeq}")
    assert(feats.sliding(2).forall(p => p(0) < p(1)),
      s"row-major buckets of a vertical gradient must increase: ${feats.toSeq}")
    // deterministic across calls
    assert(Multimodal.features(blob, 4).toSeq == feats.toSeq)
  }

  test("header codec round-trips; parser rejects garbage") {
    val blob = Multimodal.encodeMedia("image", 32, 24, 3, Array[Byte](1, 2, 3))
    val meta = Multimodal.parseMeta(blob)
    assert(meta == MediaMeta("image", 32, 24, 3, blob.length.toLong))
    intercept[IllegalArgumentException](Multimodal.parseMeta(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](Multimodal.parseMeta(null))
  }

  test("frame sampling preserves kind/dims and splits payload bytes") {
    val blob = Multimodal.synthetic(5, "video")
    val frames = Multimodal.frameSample(blob, 4)
    assert(frames.size == 4)
    val parent = Multimodal.parseMeta(blob)
    frames.foreach { f =>
      val m = Multimodal.parseMeta(f)
      assert(m.kind == "video" && m.width == parent.width && m.height == parent.height)
    }
  }

  test("resize: exact area averages on a raw raster; gradient survives a real PNG resize") {
    // 4x4 raw grayscale raster with known pixel values -> 2x2 must be the
    // exact 2x2 box means
    val px = Array[Byte](
      0, 4, 8, 12,
      16, 20, 24, 28,
      100, 104, 108, 112,
      116, 120, 124, 127)
    val blob = Multimodal.encodeMedia("image", 4, 4, 1, px)
    val small = Multimodal.resize(blob, 2, 2)
    val m = Multimodal.parseMeta(small)
    assert(m == MediaMeta("image", 2, 2, 1, small.length.toLong))
    val out = java.util.Arrays.copyOfRange(small, 11, small.length)
    // box means of the byte values: (0+4+16+20)/4=10, (8+12+24+28)/4=18,
    // (100+104+116+120)/4=110, (108+112+124+127)/4=117.75 -> round 118
    assert(out.toSeq == Seq[Byte](10, 18, 110, 118),
      s"expected exact box means, got ${out.toSeq}")
    // upscale keeps values in range and dimensions honest
    val big = Multimodal.parseMeta(Multimodal.resize(blob, 8, 8))
    assert(big.width == 8 && big.height == 8 && big.channels == 1)

    // a real PNG vertical gradient resized to 1x4 must stay increasing —
    // proves the codec path feeds the resampler (the stub grid would not)
    val img = new java.awt.image.BufferedImage(32, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 32) {
      val g = (y * 255) / 15
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = Multimodal.encodeMedia("image", 32, 16, 3, bos.toByteArray)
    val strip = Multimodal.resize(png, 1, 4)
    val vals = java.util.Arrays.copyOfRange(strip, 11, strip.length).map(_ & 0xff)
    assert(vals.length == 4 && vals.sliding(2).forall(p => p(0) < p(1)),
      s"vertical gradient must stay increasing after resize: ${vals.toSeq}")
    // determinism
    assert(Multimodal.resize(png, 1, 4).toSeq == strip.toSeq)
  }

  test("distributed decode pipeline: binary column → meta struct + features") {
    import Multimodal.{frameSampleUdf, mediaFeaturesUdf, mediaMetaUdf, syntheticMediaUdf}
    val df = spark.range(0, 100, 1, 4)
      .select(col("id"), syntheticMediaUdf(col("id")).as("blob"))
      .select(col("id"), mediaMetaUdf(col("blob")).as("meta"),
        mediaFeaturesUdf(col("blob"), lit(16)).as("feat"),
        frameSampleUdf(col("blob"), lit(3)).as("frames"))
    val rows = df.collect()
    assert(rows.length == 100)
    // schema shape: struct + float array + array<binary>
    assert(df.schema("meta").dataType.typeName == "struct")
    assert(df.schema("feat").dataType.simpleString == "array<float>")
    assert(df.schema("frames").dataType.simpleString == "array<binary>")
    rows.foreach { r =>
      val feat = r.getSeq[Float](2)
      assert(feat.length == 16)
      val norm = feat.map(v => v.toDouble * v.toDouble).sum
      assert(math.abs(norm - 1.0) < 1e-5, "features L2-normalized")
      assert(r.getSeq[Array[Byte]](3).size == 3)
    }
    // determinism across partitions/runs
    val again = spark.range(0, 100, 1, 7)
      .select(col("id"), mediaFeaturesUdf(syntheticMediaUdf(col("id")), lit(16)).as("feat"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { r =>
      assert(again(r.getLong(0)) == r.getSeq[Float](2), "partition-count independent")
    }
  }
}
