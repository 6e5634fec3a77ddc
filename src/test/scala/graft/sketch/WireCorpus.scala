package graft.sketch

import org.apache.spark.unsafe.types.UTF8String

import graft.jobs.SketchJob
import graft.sketch.agg.TurnSketches
import graft.text.MinHashSketch

/** The wire-format corpus in `src/test/resources/wire/`: one encoded value
  * per codec tag (HLL in sparse and in dense form, t-digest as built and as
  * merged from two decoded halves), one composite buffer
  * and one deflated two-role SketchJob checkpoint, each built from fixed
  * inputs. [[WireFormatSpec]] decodes the committed files. An intended
  * format change rewrites them, and is disclosed with the change:
  *   sbt -batch "Test/runMain graft.sketch.WireCorpus src/test/resources/wire"
  */
object WireCorpus {
  /** 60 adds over 23 distinct words: w0–w13 three times, w14–w22 twice. */
  val words: Seq[String] = (0 until 60).map(i => s"w${i % 23}")

  /** `n` composite rows over 37 conv ids, 5 tools, every ninth `len` NULL. */
  def composite(n: Int): TurnSketches = {
    val t = TurnSketches.create(16, 2, 256, 3)
    (0 until n).foreach { i =>
      t.add(UTF8String.fromString(s"c${i % 37}"), UTF8String.fromString(s"t${i % 5}"),
        (i * 7 % 50).toDouble, hasLen = i % 9 != 0)
    }
    t
  }

  /** The t-digest input: 200 values over 0–96. */
  val tdigestValues: Seq[Double] = (0 until 200).map(i => (i * 13 % 97).toDouble)

  /** A compression-20 digest of `vs`, encoded. */
  private def tdigestBytes(vs: Seq[Double]): Array[Byte] = {
    val s = TDigestSketch(20); vs.foreach(s.add); s.toBytes
  }

  val CheckpointPid = 3

  /** The checkpoint's inflated payload: role "assistant" over 45 rows, "user" over 120. */
  def checkpointPayload: Array[Byte] = SketchJob.encodeCkpt(CheckpointPid, Seq(
    SketchJob.checkpointRow(CheckpointPid, "assistant", 12L, composite(45)),
    SketchJob.checkpointRow(CheckpointPid, "user", 12L, composite(120))))

  /** Deflated as SketchJob stage 1 writes a checkpoint file. */
  def deflate(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val os = new java.util.zip.DeflaterOutputStream(out,
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED), 1 << 16)
    os.write(raw); os.close()
    out.toByteArray
  }

  /** File name → encoded value, for every file but the checkpoint. */
  def values: Seq[(String, Array[Byte])] = Seq(
    "tag1-bloom.bin" -> { val s = BloomSketch(256, 3); words.foreach(s.add); s.toBytes },
    "tag2-cms.bin" -> { val s = CmsSketch(16, 3); words.foreach(w => s.add(w)); s.toBytes },
    "tag3-cmm.bin" -> { val s = CmmSketch(16, 3); words.foreach(w => s.add(w)); s.toBytes },
    "tag4-ngram.bin" -> { val s = NGramSketch(); words.foreach(s.add); s.toBytes },
    "tag5-spacesaving.bin" -> {
      val s = SpaceSavingSketch(8); words.foreach(w => s.add(w)); s.toBytes
    },
    "tag6-tdigest.bin" -> tdigestBytes(tdigestValues),
    "tag6-tdigest-merged.bin" -> {
      val (a, b) = tdigestValues.splitAt(100)
      TDigestSketch.fromBytes(tdigestBytes(a))
        .mergeInPlace(TDigestSketch.fromBytes(tdigestBytes(b))).toBytes
    },
    "tag7-hll-sparse.bin" -> { val s = HllSketch(); words.foreach(s.add); s.toBytes },
    "tag7-hll-dense.bin" -> {
      val s = HllSketch(4); (0 until 50).foreach(i => s.add(s"d$i")); s.toBytes
    },
    "tag8-kll.bin" -> {
      val s = KllSketch(8); (0 until 100).foreach(i => s.add(i * 13 % 97)); s.toBytes
    },
    "tag9-minhash.bin" ->
      MinHashSketch.ofText("the quick brown fox jumps over the lazy dog", 16).toBytes,
    "composite.bin" -> TurnSketches.encode(composite(120)))

  val CheckpointFile = "checkpoint.ckpt"

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(dir)
    (values :+ (CheckpointFile -> deflate(checkpointPayload))).foreach { case (name, bytes) =>
      java.nio.file.Files.write(dir.resolve(name), bytes)
      println(s"$name ${bytes.length} bytes")
    }
  }
}
