package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.SketchJob
import graft.sketch.agg.TurnSketches
import graft.text.MinHashSketch

/** Stored state must stay readable: every file of the committed wire corpus
  * ([[WireCorpus]]) decodes to its stated content and re-encodes to its
  * committed bytes, and this code builds the same bytes from the corpus's
  * fixed inputs. A wire-format change fails here and must be disclosed.
  * Spark-free.
  */
class WireFormatSpec extends AnyFunSuite {
  import WireCorpus.words

  private def committed(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/wire/$name")
    require(in != null, s"missing wire corpus file $name")
    try in.readAllBytes() finally in.close()
  }

  private def inflate(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.InflaterInputStream(new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  private def sameBytes(name: String, got: Array[Byte], want: Array[Byte]): Unit =
    assert(java.util.Arrays.equals(got, want),
      s"$name: ${got.length} bytes, committed ${want.length}; first difference at " +
        s"${got.indices.find(i => i >= want.length || got(i) != want(i)).getOrElse(got.length)}")

  /** Each codec's decode then encode, by corpus file. */
  private val reencode: Map[String, Array[Byte] => Array[Byte]] = Map(
    "tag1-bloom.bin" -> (BloomSketch.fromBytes(_).toBytes),
    "tag2-cms.bin" -> (CmsSketch.fromBytes(_).toBytes),
    "tag3-cmm.bin" -> (CmmSketch.fromBytes(_).toBytes),
    "tag4-ngram.bin" -> (NGramSketch.fromBytes(_).toBytes),
    "tag5-spacesaving.bin" -> (SpaceSavingSketch.fromBytes(_).toBytes),
    "tag6-tdigest.bin" -> (TDigestSketch.fromBytes(_).toBytes),
    "tag6-tdigest-merged.bin" -> (TDigestSketch.fromBytes(_).toBytes),
    "tag7-hll-sparse.bin" -> (HllSketch.fromBytes(_).toBytes),
    "tag7-hll-dense.bin" -> (HllSketch.fromBytes(_).toBytes),
    "tag8-kll.bin" -> (KllSketch.fromBytes(_).toBytes),
    "tag9-minhash.bin" -> (MinHashSketch.fromBytes(_).toBytes),
    "composite.bin" -> (b => TurnSketches.encode(TurnSketches.decode(b))))

  test("every codec tag decodes to its stated content") {
    val bloom = BloomSketch.fromBytes(committed("tag1-bloom.bin"))
    assert((bloom.width, bloom.depth) == ((256, 3)))
    assert(words.forall(bloom.query))

    // w0–w13 were added three times, w14–w22 twice; a CMS never undercounts
    val cms = CmsSketch.fromBytes(committed("tag2-cms.bin"))
    assert(cms.num == 60L)
    assert((0 until 23).map(i => cms.query(s"w$i")) ==
      Seq(3, 5, 5, 3, 5, 3, 3, 5, 3, 3, 3, 3, 3, 3, 2, 4, 5, 2, 2, 2, 2, 2, 2))
    val cmm = CmmSketch.fromBytes(committed("tag3-cmm.bin"))
    assert(cmm.queryMean("w20") == 2.0 && cmm.queryMean("w1") == 2.4)

    // the bigram "w1" occurs in w1 and w10–w19: 3 + 4·3 + 6·2
    val ngram = NGramSketch.fromBytes(committed("tag4-ngram.bin"))
    assert(ngram.size == 23 && ngram.query("w1") == 27L)

    assert(SpaceSavingSketch.fromBytes(committed("tag5-spacesaving.bin")).topK(None) == Seq(
      ("w10", 8L, 7L), ("w11", 8L, 7L), ("w12", 8L, 7L), ("w13", 8L, 7L),
      ("w2", 7L, 6L), ("w3", 7L, 6L), ("w4", 7L, 6L), ("w5", 7L, 6L)))

    val td = TDigestSketch.fromBytes(committed("tag6-tdigest.bin"))
    assert(td.count == 200.0 && td.quantile(0.5) == 47.312807881773395)
    // the same 200 values as two encoded halves, decoded and merged
    val merged = TDigestSketch.fromBytes(committed("tag6-tdigest-merged.bin"))
    assert(merged.count == 200.0 && merged.minValue == 0.0 && merged.maxValue == 96.0)
    assert(merged.quantile(0.5) == 47.27239316239316)

    val sparse = HllSketch.fromBytes(committed("tag7-hll-sparse.bin"))
    assert(sparse.isSparse && sparse.cardinality == 23L)
    val dense = HllSketch.fromBytes(committed("tag7-hll-dense.bin"))
    assert(!dense.isSparse && dense.p == 4 && dense.cardinality == 48L)

    val kll = KllSketch.fromBytes(committed("tag8-kll.bin"))
    assert(kll.totalN == 100L && kll.quantileLower(0.5) == 52.0)

    val mh = MinHashSketch.fromBytes(committed("tag9-minhash.bin"))
    assert(mh.k == 16)
    assert(mh.estJaccard(MinHashSketch.ofText("the quick brown fox jumps over the lazy cat", 16)) == 0.875)
  }

  /** 37 conv ids, five tools 24 times each, median length 25. */
  private def checkComposite(r: graft.sketch.agg.TurnSketchResult, turns: Long): Unit = {
    assert(r.turns == turns)
    assert(HllSketch.fromBytes(r.hll_conv).cardinality == 37L)
    assert(BloomSketch.fromBytes(r.bloom_conv).query("c36"))
    if (turns == 120L) {
      assert(CmsSketch.fromBytes(r.cms_tool).query("t1") == 24L)
      assert(SpaceSavingSketch.fromBytes(r.topk_tool).topK(None) ==
        (0 until 5).map(i => (s"t$i", 24L, 0L)))
      assert(TDigestSketch.fromBytes(r.tdigest_len).quantile(0.5) == 25.0)
      assert(KllSketch.fromBytes(r.kll_len).quantileLower(0.5) == 25.0)
    }
  }

  test("the composite buffer and the checkpoint decode to their stated content") {
    checkComposite(TurnSketches.decode(committed("composite.bin")).result, 120L)
    val groups = SketchJob.decodeCkpt(committed(WireCorpus.CheckpointFile))
    assert(groups.map(g => (g.partition_id, g.role, g.rows_seen, g.wall_ms)) ==
      Seq((3, "assistant", 45L, 12L), (3, "user", 120L, 12L)))
    groups.foreach { g =>
      checkComposite(TurnSketches.fromParts(g.rows_seen, g.hll_conv, g.cms_tool, g.topk_tool,
        g.tdigest_len, g.kll_len, g.bloom_conv).result, g.rows_seen)
    }
  }

  test("decoding then re-encoding gives the committed bytes") {
    reencode.foreach { case (name, f) => sameBytes(name, f(committed(name)), committed(name)) }
    val ckpt = committed(WireCorpus.CheckpointFile)
    sameBytes(WireCorpus.CheckpointFile,
      SketchJob.encodeCkpt(WireCorpus.CheckpointPid, SketchJob.decodeCkpt(ckpt)), inflate(ckpt))
  }

  test("this code builds the committed bytes from the corpus inputs") {
    assert(WireCorpus.values.map(_._1).toSet == reencode.keySet)
    WireCorpus.values.foreach { case (name, bytes) => sameBytes(name, bytes, committed(name)) }
    sameBytes(WireCorpus.CheckpointFile, WireCorpus.checkpointPayload,
      inflate(committed(WireCorpus.CheckpointFile)))
  }
}
