package graft.sketch.agg

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{BinaryEncoder, TransformingEncoder}
import org.apache.spark.sql.catalyst.encoders.{Codec => EncoderCodec}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

import graft.sketch._
import graft.sketch.core.{Codec, XxHash64}

/** Input projection for the composite transcript aggregator. Ids arrive as
  * UTF-8 bytes (`cast(conv_id as binary)`) — the sketches hash bytes
  * directly, so the per-row char[] decode + String allocation of a String
  * encoder never happens. At 10^12 rows that allocation is the difference
  * between scaling to 32 threads and stalling the heap.
  */
case class TurnInput(conv_id: Array[Byte], tool: Array[Byte], len: java.lang.Double)

/** All six north-rule sketches, serialized. */
case class TurnSketchResult(
    hll_conv: Array[Byte],
    cms_tool: Array[Byte],
    topk_tool: Array[Byte],
    tdigest_len: Array[Byte],
    kll_len: Array[Byte],
    bloom_conv: Array[Byte],
    turns: Long) {
  def parts: Seq[Array[Byte]] = Seq(hll_conv, cms_tool, topk_tool, tdigest_len, kll_len, bloom_conv)
}

/** The composite transcript state — HLL++ and Bloom on `conv_id`, CMS and
  * Space-Saving on `tool`, t-digest and KLL on `len`, plus the row count —
  * and the one place its rules live: [[TurnSketches.create]], [[add]],
  * [[merge]], [[result]] and the [[TurnSketches.encode]]/`decode` codec.
  * `TurnSketchAgg` (`udaf()`), `turn_sketch_native` (a [[SketchAgg]] over
  * `graft.plans.TurnSketchNativeAgg.Composite`) and `SketchJob` (stage 1 and
  * its checkpoint fold) are shells over it.
  *
  * The Bloom is optional (`null`: not built, emitted as empty bytes).
  */
final class TurnSketches private (
    private val hll: HllSketch,
    private val cms: CmsSketch,
    private val topk: SpaceSavingSketch,
    private val td: TDigestSketch,
    private val kll: KllSketch,
    private val bloom: BloomSketch,
    private var turns: Long) extends Serializable {
  // per buffer; rebuilt empty after any buffer serde
  @transient private var tools: ToolInterner = _

  /** Add one row. Each string column is UTF-8 memory `(base, offset,
    * numBytes)` — a `byte[]` at `Platform.BYTE_ARRAY_OFFSET` or a
    * `UTF8String`'s backing region — with `numBytes < 0` for NULL; a NULL
    * `len` is `hasLen = false`. NULL columns feed no sketch; the row still
    * counts. Conv ids go to HLL and Bloom (each sketch's `addUtf8Memory`),
    * the interned tool to CMS and top-k, `len` to t-digest and KLL.
    */
  def add(conv: AnyRef, convOffset: Long, convBytes: Int,
      tool: AnyRef, toolOffset: Long, toolBytes: Int, len: Double, hasLen: Boolean): Unit = {
    if (convBytes >= 0) {
      hll.addUtf8Memory(conv, convOffset, convBytes)
      if (bloom != null) bloom.addUtf8Memory(conv, convOffset, convBytes)
    }
    if (toolBytes >= 0) {
      if (tools == null) tools = new ToolInterner
      val t = tools.intern(tool, toolOffset, toolBytes)
      cms.add(t)
      topk.add(t)
    }
    if (hasLen) {
      td.add(len)
      kll.add(len)
    }
    turns += 1
  }

  /** [[add]] over `UTF8String` columns, `null` for NULL. */
  def add(conv: UTF8String, tool: UTF8String, len: Double, hasLen: Boolean): Unit = add(
    if (conv == null) null else conv.getBaseObject, if (conv == null) 0L else conv.getBaseOffset,
    if (conv == null) -1 else conv.numBytes,
    if (tool == null) null else tool.getBaseObject, if (tool == null) 0L else tool.getBaseOffset,
    if (tool == null) -1 else tool.numBytes, len, hasLen)

  /** Merge `o` into this state; a side without a Bloom contributes none. */
  def merge(o: TurnSketches): this.type = {
    hll.mergeInPlace(o.hll)
    cms.mergeInPlace(o.cms)
    topk.mergeInPlace(o.topk)
    td.mergeInPlace(o.td)
    kll.mergeInPlace(o.kll)
    if (bloom != null && o.bloom != null) bloom.unionInPlace(o.bloom)
    turns += o.turns
    this
  }

  /** The six serialized sketches (empty Bloom bytes when off) and the row count. */
  def result: TurnSketchResult = TurnSketchResult(hll.toBytes, cms.toBytes, topk.toBytes,
    td.toBytes, kll.toBytes, if (bloom != null) bloom.toBytes else Array.emptyByteArray, turns)
}

object TurnSketches extends EncoderCodec[TurnSketches, Array[Byte]] {
  /** An empty state: HLL++, Space-Saving, t-digest and KLL at their sketch
    * defaults, the CMS and Bloom as given; `bloomW = 0` leaves the Bloom out.
    */
  def create(cmsWidth: Int, cmsDepth: Int, bloomW: Int, bloomD: Int): TurnSketches =
    new TurnSketches(HllSketch(), CmsSketch(cmsWidth, cmsDepth), SpaceSavingSketch(),
      TDigestSketch.fast(), KllSketch(), if (bloomW > 0) BloomSketch(bloomW, bloomD) else null, 0L)

  /** A state from its [[TurnSketches.result]] parts (empty Bloom bytes: no Bloom). */
  def fromParts(turns: Long, hll: Array[Byte], cms: Array[Byte], topk: Array[Byte],
      td: Array[Byte], kll: Array[Byte], bloom: Array[Byte]): TurnSketches = new TurnSketches(
    HllSketch.fromBytes(hll), CmsSketch.fromBytes(cms), SpaceSavingSketch.fromBytes(topk),
    TDigestSketch.fromBytes(td), KllSketch.fromBytes(kll),
    if (bloom.isEmpty) null else BloomSketch.fromBytes(bloom), turns)

  /** The composite codec: the row count, then each part of
    * [[TurnSketches.result]] length-prefixed. It is the buffer format of
    * both aggregates, in shuffle, spill and sort-based fallback.
    */
  def encode(t: TurnSketches): Array[Byte] = {
    val r = t.result
    val bb = java.nio.ByteBuffer.allocate(8 + r.parts.map(_.length + 4).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(r.turns)
    r.parts.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }

  def decode(bytes: Array[Byte]): TurnSketches = {
    val (turns, p) = Codec.decodeUntagged(bytes, "turn-sketch buffer") { bb =>
      (bb.getLong(), Array.fill(6)(Codec.readBytes(bb)))
    }
    fromParts(turns, p(0), p(1), p(2), p(3), p(4), p(5))
  }
}

/** Byte-pattern → String intern cache for tiny Zipf domains (tool names):
  * each distinct pattern is decoded once, keyed by its 64-bit content hash.
  *
  * Correctness + memory hardening: hits are verified by comparing the
  * actual bytes against the cached pattern (a hash collision must never
  * silently alias two tool names into one CMS/top-k key — and a byte
  * compare of a ~4-15 byte key is cheaper than a second hash pass, with a
  * deterministic rather than probabilistic guarantee), and the cache is
  * capped — past [[ToolInterner.MaxEntries]] distinct patterns (i.e. the
  * column is not actually a tiny domain) new patterns are decoded directly
  * instead of growing per-buffer memory without bound.
  */
final class ToolInterner {
  import ToolInterner._
  private val cache = new java.util.HashMap[java.lang.Long, Entry]()

  /** The String for the UTF-8 bytes at `(base, offset, numBytes)`. */
  def intern(base: AnyRef, offset: Long, numBytes: Int): String = {
    val k = java.lang.Long.valueOf(XxHash64.hashMemory(base, offset, numBytes, Seed))
    val e = cache.get(k)
    if (e != null && e.bytes.length == numBytes && ByteArrayMethods.arrayEquals(
        base, offset, e.bytes, Platform.BYTE_ARRAY_OFFSET, numBytes)) e.s
    else {
      val bytes = new Array[Byte](numBytes)
      Platform.copyMemory(base, offset, bytes, Platform.BYTE_ARRAY_OFFSET, numBytes)
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      // a collision or a full cache decodes directly
      if (e == null && cache.size < MaxEntries) cache.put(k, new Entry(s, bytes))
      s
    }
  }
}

object ToolInterner {
  private[agg] val Seed = 0x7007L
  /** Beyond this many distinct patterns the column is not a tool-like tiny
    * domain and caching would only burn memory (~100 KB at the cap).
    */
  private[agg] val MaxEntries = 1024
  private[agg] final class Entry(val s: String, val bytes: Array[Byte])
}

/** The composite transcript sketch build as an `Aggregator` for `udaf()`:
  * one aggregation-buffer lookup and one input conversion per row instead
  * of six. A shell over [[TurnSketches]], as is the native
  * `turn_sketch_native`; the buffer crosses shuffle, spill and
  * sort-based fallback as [[TurnSketches.encode]] bytes, so it needs no
  * Kryo registration.
  *
  * `bloomW = 0` disables the conv-id Bloom (emits empty bytes). A mergeable
  * membership filter must be sized to the group's distinct count
  * (`Bloom.create(n, p)` — e.g. 12M convs @ 2% FPR needs ~14 MB); riding an
  * undersized default inside the hot per-role aggregation saturates the
  * filter (FPR → 1, zero information) while quadrupling the partial-state
  * shuffled per map task. Capacity-planned membership jobs configure it
  * explicitly; the throughput flagship runs the five capacity-valid
  * sketches. The default is therefore bloom-OFF — the same default as
  * `turn_sketch_native`, so migrating a job between the UDAF and the
  * native registration can never silently change which sketches it builds.
  */
final class TurnSketchAgg(
    cmsWidth: Int = CmsSketch.DefaultBins,
    cmsDepth: Int = CmsSketch.DefaultHash,
    bloomW: Int = 0,
    bloomD: Int = BloomSketch.DefaultHash)
    extends Aggregator[TurnInput, TurnSketches, TurnSketchResult] {

  def zero: TurnSketches = TurnSketches.create(cmsWidth, cmsDepth, bloomW, bloomD)

  def reduce(b: TurnSketches, v: TurnInput): TurnSketches = {
    if (v != null) {
      val c = v.conv_id; val t = v.tool; val l = v.len
      b.add(c, Platform.BYTE_ARRAY_OFFSET, if (c == null) -1 else c.length,
        t, Platform.BYTE_ARRAY_OFFSET, if (t == null) -1 else t.length,
        if (l == null) 0.0 else l.doubleValue(), l != null)
    }
    b
  }

  def merge(a: TurnSketches, b: TurnSketches): TurnSketches = a.merge(b)

  def finish(b: TurnSketches): TurnSketchResult = b.result

  def bufferEncoder: Encoder[TurnSketches] =
    TransformingEncoder(scala.reflect.classTag[TurnSketches], BinaryEncoder, () => TurnSketches)
  def outputEncoder: Encoder[TurnSketchResult] = Encoders.product[TurnSketchResult]

  override def toString: String = s"TurnSketchAgg($cmsWidth, $cmsDepth, $bloomW, $bloomD)"
}
