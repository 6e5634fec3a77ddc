package graftbench

import org.apache.spark.sql.functions.col

import graft.sketch._
import graft.sketch.agg.{TurnInput, TurnSketchAgg, TurnSketches}

/** Single-thread cost of each core sketch at the sizes the workloads use,
  * on keys sampled from the workload's own transcripts table:
  * `core.<sketch>.{add_ns, merge_ns, encode_ns, decode_ns, bytes}`.
  * A state holds one ingest task's worth of rows (one input file's share);
  * a merge combines two half-size states.
  */
object CoreMicro {
  private val Reps = 7
  private val Iters = 25

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
  }

  private def one[S](ctx: Ctx, name: String, n: Int, fresh: () => S,
      add: (S, Int) => Unit, merge: (S, S) => Unit,
      enc: S => Array[Byte], dec: Array[Byte] => S): Unit = {
    def build(lo: Int, hi: Int): S = {
      val s = fresh(); var i = lo
      while (i < hi) { add(s, i); i += 1 }
      s
    }
    val addNs = (0 until Reps).map { _ =>
      val s = fresh()
      time { var i = 0; while (i < n) { add(s, i); i += 1 } } / n
    }
    val full = build(0, n)
    val bytes = enc(full)
    val half = enc(build(0, n / 2))
    val other = build(n / 2, n)
    val mergeNs = (0 until Iters).map { _ => val a = dec(half); time(merge(a, other)) }
    val encNs = (0 until Iters).map(_ => time(enc(full)))
    val decNs = (0 until Iters).map(_ => time(dec(bytes)))
    ctx.samples.add(s"core.$name.add_ns", "ns", Stats.median(addNs))
    ctx.samples.add(s"core.$name.merge_ns", "ns", Stats.median(mergeNs))
    ctx.samples.add(s"core.$name.encode_ns", "ns", Stats.median(encNs))
    ctx.samples.add(s"core.$name.decode_ns", "ns", Stats.median(decNs))
    ctx.samples.add(s"core.$name.bytes", "bytes", bytes.length.toDouble)
  }

  def run(ctx: Ctx, d: Ingest.Data): Unit = {
    val n = math.max(1000, (d.truth.rows / Ingest.Files).toInt)
    val rows = ctx.spark.read.parquet(d.path)
      .select(col("conv_id"), col("tool"), col("text_len"))
      .sample(withReplacement = false, math.min(1.0, 2.0 * n / d.truth.rows), d.g.seed)
      .limit(n).collect()
    val conv = rows.map(_.getString(0))
    val convB = conv.map(_.getBytes("UTF-8"))
    val toolS = rows.map(r => if (r.isNullAt(1)) null else r.getString(1))
    val toolB = toolS.map(t => if (t == null) null else t.getBytes("UTF-8"))
    val tools = toolS.filter(_ != null)
    val len = rows.map(_.getInt(2).toDouble)
    val m = rows.length

    one[HllSketch](ctx, "hll", m, () => HllSketch(), (s, i) => s.addUtf8(convB(i)),
      (a, b) => a.mergeInPlace(b), _.toBytes, HllSketch.fromBytes)
    one[CmsSketch](ctx, "cms", tools.length, () => CmsSketch(Ingest.CmsW, Ingest.CmsD),
      (s, i) => s.add(tools(i)), (a, b) => a.mergeInPlace(b), _.toBytes, CmsSketch.fromBytes)
    one[SpaceSavingSketch](ctx, "topk", tools.length, () => SpaceSavingSketch(),
      (s, i) => s.add(tools(i)), (a, b) => a.mergeInPlace(b), _.toBytes, SpaceSavingSketch.fromBytes)
    one[TDigestSketch](ctx, "tdigest", m, () => TDigestSketch.fast(), (s, i) => s.add(len(i)),
      (a, b) => a.mergeInPlace(b), _.toBytes, TDigestSketch.fromBytes)
    one[KllSketch](ctx, "kll", m, () => KllSketch(), (s, i) => s.add(len(i)),
      (a, b) => a.mergeInPlace(b), _.toBytes, KllSketch.fromBytes)
    // SketchJob's default conv-id Bloom
    one[BloomSketch](ctx, "bloom", m, () => BloomSketch(), (s, i) => s.addUtf8(convB(i)),
      (a, b) => a.unionInPlace(b), _.toBytes, BloomSketch.fromBytes)
    // the flagship composite through the Aggregator's per-row path
    val agg = new TurnSketchAgg(cmsWidth = Ingest.CmsW, cmsDepth = Ingest.CmsD)
    val inputs = (0 until m).map(i => TurnInput(convB(i), toolB(i), len(i))).toArray
    one[TurnSketches](ctx, "composite", m, () => agg.zero, (s, i) => agg.reduce(s, inputs(i)),
      (a, b) => agg.merge(a, b), TurnSketches.encode, TurnSketches.decode)
  }
}
