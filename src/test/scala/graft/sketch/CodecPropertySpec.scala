package graft.sketch

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.SketchJob
import graft.sketch.agg.TurnSketches
import graft.sketch.core.Codec
import graft.text.MinHashSketch

/** Hostile bytes against every decoder: each truncation and a fixed set of
  * seeded single-bit flips of one populated value per sketch codec, of a
  * composite buffer and of a SketchJob checkpoint. A decode either fails
  * with a typed `IllegalArgumentException`, or succeeds and then serves a
  * query, a merge with a second decoded copy and a re-encode without any
  * throw. Spark-free.
  */
class CodecPropertySpec extends AnyFunSuite {
  import CodecPropertySpec.Input

  import WireCorpus.{deflate, words}

  private val composite: TurnSketches = WireCorpus.composite(120)

  private val checkpointPayload: Array[Byte] = WireCorpus.checkpointPayload

  private def useComposite(a: TurnSketches, b: TurnSketches): Array[Byte] = {
    a.add(UTF8String.fromString("c1"), UTF8String.fromString("t1"), 3.0, hasLen = true)
    a.merge(b)
    val r = a.result
    // each re-encoded part decodes and serves its own use
    Seq((r.hll_conv, hll), (r.cms_tool, cms), (r.topk_tool, topk), (r.tdigest_len, td),
      (r.kll_len, kll)).foreach { case (part, in) => in.serve(part) }
    if (r.bloom_conv.nonEmpty) bloom.serve(r.bloom_conv)
    TurnSketches.encode(a)
  }

  private val bloom = Input[BloomSketch]("Bloom",
    { val s = BloomSketch(256, 3); words.foreach(s.add); s.toBytes }, BloomSketch.fromBytes,
    (a, b) => { a.query("w1"); a.jaccard(b); a.unionInPlace(b).toBytes })
  private val cms = Input[CmsSketch]("CMS",
    { val s = CmsSketch(16, 3); words.foreach(w => s.add(w)); s.toBytes }, CmsSketch.fromBytes,
    (a, b) => { a.query("w1"); a.dot(b); a.mergeInPlace(b).toBytes })
  private val cmm = Input[CmmSketch]("CMM",
    { val s = CmmSketch(16, 3); words.foreach(w => s.add(w)); s.toBytes }, CmmSketch.fromBytes,
    (a, b) => { a.queryMean("w1"); a.dotMean(b); a.mergeInPlace(b).toBytes })
  private val ngram = Input[NGramSketch]("NGram",
    { val s = NGramSketch(); words.foreach(s.add); s.toBytes }, NGramSketch.fromBytes,
    (a, b) => { a.query("w1"); a.cosine(b); a.mergeInPlace(b).toBytes })
  private val topk = Input[SpaceSavingSketch]("Space-Saving",
    { val s = SpaceSavingSketch(8); words.foreach(w => s.add(w)); s.toBytes },
    SpaceSavingSketch.fromBytes, (a, b) => { a.topK(Some(3)); a.mergeInPlace(b).toBytes })
  private val td = Input[TDigestSketch]("t-digest",
    { val s = TDigestSketch(20); (0 until 200).foreach(i => s.add(i * 13 % 97)); s.toBytes },
    TDigestSketch.fromBytes, (a, b) => { a.quantile(0.5); a.mergeInPlace(b).toBytes })
  private val hll = Input[HllSketch]("HLL",
    { val s = HllSketch(10); words.foreach(s.add); s.toBytes }, HllSketch.fromBytes,
    (a, b) => { a.estimate; a.mergeInPlace(b).toBytes })
  private val kll = Input[KllSketch]("KLL",
    { val s = KllSketch(8); (0 until 100).foreach(i => s.add(i * 13 % 97)); s.toBytes },
    KllSketch.fromBytes, (a, b) => { a.quantileLower(0.5); a.mergeInPlace(b).toBytes })

  private val inputs: Seq[Input[_]] = Seq(bloom, cms, cmm, ngram, topk, td, hll, kll,
    Input[MinHashSketch]("MinHash",
      MinHashSketch.ofText("the quick brown fox jumps over the lazy dog", 16).toBytes,
      MinHashSketch.fromBytes, (a, b) => { a.estJaccard(b); a.mergeInPlace(b).toBytes }),
    Input[TurnSketches]("composite buffer", TurnSketches.encode(composite), TurnSketches.decode,
      useComposite),
    // a checkpoint decodes to its groups' composites
    Input[Seq[TurnSketches]]("checkpoint", deflate(checkpointPayload), checkpointGroups,
      (as, bs) => as.zip(bs).map { case (a, b) => useComposite(a, b) }),
    // the checkpoint's inflated payload, so flips reach its framing
    Input[Seq[TurnSketches]]("checkpoint payload", checkpointPayload,
      b => checkpointGroups(deflate(b)),
      (as, bs) => as.zip(bs).map { case (a, b) => useComposite(a, b) }))

  private def checkpointGroups(bytes: Array[Byte]): Seq[TurnSketches] =
    SketchJob.decodeCkpt(bytes).map(p => TurnSketches.fromParts(p.rows_seen, p.hll_conv,
      p.cms_tool, p.topk_tool, p.tdigest_len, p.kll_len, p.bloom_conv))

  private def flipped(bytes: Array[Byte], bit: Int): Array[Byte] = {
    val b = bytes.clone(); b(bit / 8) = (b(bit / 8) ^ (1 << (bit % 8))).toByte; b
  }

  test("every input decodes as encoded") {
    inputs.foreach { in =>
      in.decode(in.bytes)
      in.escape(in.bytes).foreach(t => fail(s"${in.name}: $t", t))
    }
  }

  /** Fails listing every escape, if any. */
  private def noEscapes(escapes: Seq[String]): Unit =
    if (escapes.nonEmpty) fail(s"${escapes.size} escapes:\n${escapes.take(40).mkString("\n")}")

  test("every truncation decodes or fails with IllegalArgumentException") {
    noEscapes(for (in <- inputs; n <- 0 until in.bytes.length;
      t <- in.escape(in.bytes.take(n))) yield s"${in.name} truncated to $n: $t")
  }

  private def input(name: String) = inputs.find(_.name == name).get

  // Flips the seeded sweep and an every-bit sweep found escaping as
  // ArrayIndexOutOfBounds or NegativeArraySize from the t-digest decoder:
  // a compression shrunk below the centroid count (bit 28) or negative
  // (bit 54), and a centroid count that no longer matches the weights
  // (bits 185 and 1883, and bit 11745 of the composite's t-digest part;
  // 185, 1883 and 11745 are flips of FlipSeed's sweep).
  // Flips of FlipSeed's sweep that decoded and then failed on first use:
  // a Bloom depth made negative (bit 55, NegativeArraySize) or about 2^30
  // (bit 54, an out-of-memory scratch array); a CMS width (bit 38) or depth
  // (bit 87, negative) and a CMM depth (bit 58) that no longer match the
  // table (ArrayIndexOutOfBounds or NegativeArraySize on query); t-digest
  // weights no digest holds (bit 1974, and bit 11966 of the composite's
  // t-digest part: ArrayIndexOutOfBounds on quantile; bit 3319: a
  // non-positive weight that add rejects on merge).
  for ((name, bit) <- Seq("t-digest" -> 28, "t-digest" -> 54, "t-digest" -> 185,
      "t-digest" -> 1883, "composite buffer" -> 11745, "Bloom" -> 54, "Bloom" -> 55,
      "CMS" -> 38, "CMS" -> 87, "CMM" -> 58, "t-digest" -> 1974, "t-digest" -> 3319,
      "composite buffer" -> 11966)) {
    test(s"$name with bit $bit flipped fails with IllegalArgumentException") {
      val in = input(name)
      intercept[IllegalArgumentException](in.decode(flipped(in.bytes, bit)))
    }
  }

  test("Bloom, CMS and CMM shapes no sketch has fail at decode with IllegalArgumentException") {
    // Bloom bytes as `toBytes` lays them out; `fromWords` refuses these shapes
    def bloom(words: Array[Int], d: Int): Array[Byte] = {
      val bb = Codec.writer(16 + 4 * words.length, Codec.TagBloom)
      bb.putInt(d)
      Codec.writeIntArray(bb, words)
      Codec.finish(bb)
    }
    val shapes = Seq(
      "Bloom without bits" -> (() => BloomSketch.fromBytes(bloom(Array(), 3))),
      "Bloom depth 0" -> (() => BloomSketch.fromBytes(bloom(Array(1), 0))),
      "CMS 0 x 3" -> (() => CmsSketch.fromBytes(new CmsSketch(0, 3, Array(), 0L).toBytes)),
      "CMS -1 x -1" -> (() => CmsSketch.fromBytes(new CmsSketch(-1, -1, Array(7L), 7L).toBytes)),
      "CMM 4 x 0" -> (() => CmmSketch.fromBytes(new CmmSketch(4, 0, Array(), 0L).toBytes)))
    for ((what, decode) <- shapes) {
      val e = intercept[IllegalArgumentException](decode())
      assert(e.getMessage.startsWith("corrupt sketch (tag "), s"$what: $e")
    }
  }

  test("seeded single-bit flips decode or fail with IllegalArgumentException") {
    noEscapes(for (in <- inputs; bit <- {
      val rng = new Random(CodecPropertySpec.FlipSeed)
      Seq.fill(CodecPropertySpec.Flips)(rng.nextInt(in.bytes.length * 8))
    }; t <- in.escape(flipped(in.bytes, bit))) yield s"${in.name} bit $bit flipped: $t")
  }
}

object CodecPropertySpec {
  /** One encoded value, its decoder, and a use of two decoded copies: a
    * query, a merge of the second into the first, and a re-encode.
    */
  final case class Input[T](name: String, bytes: Array[Byte],
      decode: Array[Byte] => T, use: (T, T) => Any) {
    /** What escaped decoding `b`, other than the typed error, or using what decoded. */
    def escape(b: Array[Byte]): Option[Throwable] = Try(decode(b)) match {
      case Failure(_: IllegalArgumentException) => None
      case Failure(t) => Some(t)
      case Success(_) => Try(serve(b)).failed.toOption
    }
    def serve(b: Array[Byte]): Any = use(decode(b), decode(b))
  }

  val FlipSeed = 20261019L
  val Flips = 3000
}
