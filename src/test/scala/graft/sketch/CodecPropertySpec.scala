package graft.sketch

import scala.util.Random

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.SketchJob
import graft.sketch.agg.TurnSketches
import graft.text.MinHashSketch

/** Hostile bytes against every decoder: each truncation and a fixed set of
  * seeded single-bit flips of one populated value per sketch codec, of a
  * composite buffer and of a SketchJob checkpoint. A decode either succeeds
  * or fails with a typed `IllegalArgumentException`; nothing else may
  * escape. Spark-free.
  */
class CodecPropertySpec extends AnyFunSuite {

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val os = new java.util.zip.DeflaterOutputStream(out)
    os.write(raw); os.close()
    out.toByteArray
  }

  private val composite: TurnSketches = {
    val t = TurnSketches.create(16, 2, 256, 3)
    (0 until 120).foreach { i =>
      t.add(UTF8String.fromString(s"c${i % 37}"), UTF8String.fromString(s"t${i % 5}"),
        (i * 7 % 50).toDouble, hasLen = i % 9 != 0)
    }
    t
  }

  private val checkpointPayload: Array[Byte] = SketchJob.encodeCkpt(3,
    Seq("assistant", "user").map(SketchJob.checkpointRow(3, _, 12L, composite)))

  /** (name, encoded value, decoder) */
  private val inputs: Seq[(String, Array[Byte], Array[Byte] => Any)] = {
    val words = (0 until 60).map(i => s"w${i % 23}")
    val bloom = BloomSketch(256, 3); words.foreach(bloom.add)
    val cms = CmsSketch(16, 3); words.foreach(w => cms.add(w))
    val cmm = CmmSketch(16, 3); words.foreach(w => cmm.add(w))
    val ngram = NGramSketch(); words.foreach(ngram.add)
    val topk = SpaceSavingSketch(8); words.foreach(w => topk.add(w))
    val td = TDigestSketch(20); (0 until 200).foreach(i => td.add(i * 13 % 97))
    val hll = HllSketch(10); words.foreach(hll.add)
    val kll = KllSketch(8); (0 until 100).foreach(i => kll.add(i * 13 % 97))
    val minhash = MinHashSketch.ofText("the quick brown fox jumps over the lazy dog", 16)
    Seq(
      ("Bloom", bloom.toBytes, BloomSketch.fromBytes _),
      ("CMS", cms.toBytes, CmsSketch.fromBytes _),
      ("CMM", cmm.toBytes, CmmSketch.fromBytes _),
      ("NGram", ngram.toBytes, NGramSketch.fromBytes _),
      ("Space-Saving", topk.toBytes, SpaceSavingSketch.fromBytes _),
      ("t-digest", td.toBytes, TDigestSketch.fromBytes _),
      ("HLL", hll.toBytes, HllSketch.fromBytes _),
      ("KLL", kll.toBytes, KllSketch.fromBytes _),
      ("MinHash", minhash.toBytes, MinHashSketch.fromBytes _),
      ("composite buffer", TurnSketches.encode(composite), TurnSketches.decode _),
      ("checkpoint", deflate(checkpointPayload), SketchJob.decodeCkpt _),
      // the checkpoint's inflated payload, so flips reach its framing
      ("checkpoint payload", checkpointPayload, (b: Array[Byte]) => SketchJob.decodeCkpt(deflate(b))))
  }

  /** What escaped decoding `bytes`, other than the typed error. */
  private def escaped(decode: Array[Byte] => Any, bytes: Array[Byte]): Option[Throwable] =
    try { decode(bytes); None }
    catch {
      case _: IllegalArgumentException => None
      case t: Throwable => Some(t)
    }

  private def flipped(bytes: Array[Byte], bit: Int): Array[Byte] = {
    val b = bytes.clone(); b(bit / 8) = (b(bit / 8) ^ (1 << (bit % 8))).toByte; b
  }

  test("every input decodes as encoded") {
    inputs.foreach { case (name, bytes, decode) =>
      assert(escaped(decode, bytes).isEmpty, name)
      decode(bytes)
    }
  }

  test("every truncation decodes or fails with IllegalArgumentException") {
    for ((name, bytes, decode) <- inputs; n <- 0 until bytes.length) {
      escaped(decode, bytes.take(n)).foreach(t => fail(s"$name truncated to $n: $t", t))
    }
  }

  private def input(name: String) = inputs.find(_._1 == name).get

  // Flips the seeded sweep and an every-bit sweep found escaping as
  // ArrayIndexOutOfBounds or NegativeArraySize from the t-digest decoder:
  // a compression shrunk below the centroid count (bit 28) or negative
  // (bit 54), and a centroid count that no longer matches the weights
  // (bits 185 and 1883, and bit 11745 of the composite's t-digest part;
  // 185, 1883 and 11745 are flips of FlipSeed's sweep).
  for ((name, bit) <- Seq("t-digest" -> 28, "t-digest" -> 54, "t-digest" -> 185,
      "t-digest" -> 1883, "composite buffer" -> 11745)) {
    test(s"$name with bit $bit flipped fails with IllegalArgumentException") {
      val (_, bytes, decode) = input(name)
      intercept[IllegalArgumentException](decode(flipped(bytes, bit)))
    }
  }

  test("seeded single-bit flips decode or fail with IllegalArgumentException") {
    for ((name, bytes, decode) <- inputs) {
      val rng = new Random(CodecPropertySpec.FlipSeed)
      (0 until CodecPropertySpec.Flips).foreach { _ =>
        val bit = rng.nextInt(bytes.length * 8)
        escaped(decode, flipped(bytes, bit)).foreach(t => fail(s"$name bit $bit flipped: $t", t))
      }
    }
  }
}

object CodecPropertySpec {
  val FlipSeed = 20261019L
  val Flips = 3000
}
