package graft.sketch

import scala.collection.mutable.ArrayBuffer

import graft.sketch.core.Codec

/** Growable primitive double buffer — avoids per-add boxing of
  * ArrayBuffer[Double] on the hot ingest path.
  */
private[sketch] final class DoubleBuf(initial: Int = 8) extends Serializable {
  private var a = new Array[Double](math.max(4, initial))
  private var n = 0
  def length: Int = n
  def apply(i: Int): Double = a(i)
  def add(v: Double): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
    a(n) = v
    n += 1
  }
  def addAll(other: DoubleBuf): Unit = {
    var i = 0
    while (i < other.length) { add(other(i)); i += 1 }
  }
  def toSortedArray: Array[Double] = {
    val out = java.util.Arrays.copyOf(a, n)
    java.util.Arrays.sort(out)
    out
  }
  def clear(): Unit = n = 0
  def foreach(f: Double => Unit): Unit = {
    var i = 0
    while (i < n) { f(a(i)); i += 1 }
  }
}

/** KLL streaming quantile sketch for doubles (Karnin, Lang & Liberty 2016,
  * "Optimal Quantile Approximation in Streams"). Absent from the reference
  * library (SURVEY.md gap note); built from the paper and cross-checked
  * against Spark's `approx_percentile` in tests.
  *
  * Structure: a stack of compactors; items in level `l` carry weight `2^l`.
  * Level capacities decay geometrically (ratio 2/3) from the top level down
  * to a floor of 8, giving total space O(k·(3/2)) and normalized rank error
  * ~O(1/k). When total size exceeds total capacity, the lowest over-capacity
  * level is sorted and every other item (deterministic alternating offset) is
  * promoted to the level above.
  *
  * While no compaction has occurred the sketch is EXACT — `quantileLower`
  * returns the true lower quantile — which the DuckDB oracle exploits.
  */
final class KllSketch(val k: Int) extends Serializable {
  import KllSketch._

  private[sketch] var levels: ArrayBuffer[DoubleBuf] = ArrayBuffer(new DoubleBuf())
  private[sketch] var n: Long = 0L
  private[sketch] var minV: Double = Double.NaN
  private[sketch] var maxV: Double = Double.NaN
  // deterministic alternating compaction offset per level (unbiased in
  // expectation over alternations; deterministic for reproducible tests)
  private[sketch] var coinState: Long = 0xc0ffee1234abcdeL

  def totalN: Long = n

  def add(v: Double): Unit = {
    if (v.isNaN) return
    if (n == 0L || v < minV) minV = v
    if (n == 0L || v > maxV) maxV = v
    n += 1
    levels(0).add(v)
    if (size > capacity) compress()
  }

  private def size: Int = { var s = 0; levels.foreach(s += _.length); s }

  // capacity only changes when a level is added — cache it (math.pow per
  // level per add was the ingest hot-path cost)
  @transient private var capCachedLevels = -1
  @transient private var capCached = 0
  private def capacity: Int = {
    val h = levels.length
    if (h != capCachedLevels) {
      var c = 0
      var l = 0
      while (l < h) { c += levelCapacity(k, h, l); l += 1 }
      capCachedLevels = h
      capCached = c
    }
    capCached
  }

  private def nextBit(): Int = {
    coinState ^= coinState << 13
    coinState ^= coinState >>> 7
    coinState ^= coinState << 17
    (coinState & 1L).toInt
  }

  /** Compact one level; returns false if nothing could be compacted. Picks
    * the lowest level over its capacity, else the lowest level with >= 2
    * items. Odd-length levels retain one item so total weight is conserved.
    */
  private def compress(): Boolean = {
    val h = levels.length
    var target = -1
    var l = 0
    while (target < 0 && l < h) {
      if (levels(l).length > levelCapacity(k, h, l)) target = l
      l += 1
    }
    if (target < 0) {
      l = 0
      while (target < 0 && l < h) {
        if (levels(l).length >= 2) target = l
        l += 1
      }
    }
    if (target < 0) return false
    if (target + 1 == levels.length) levels += new DoubleBuf()
    val buf = levels(target).toSortedArray
    val odd = buf.length % 2 == 1
    val end = if (odd) buf.length - 1 else buf.length
    val off = nextBit()
    val up = levels(target + 1)
    var i = off
    while (i < end) { up.add(buf(i)); i += 2 }
    val keep = new DoubleBuf()
    if (odd) keep.add(buf(buf.length - 1))
    levels(target) = keep
    true
  }

  /** (item, weight) pairs sorted by item. */
  private def sortedWeighted(): (Array[Double], Array[Long]) = {
    val total = size
    val items = new Array[Double](total)
    val weights = new Array[Long](total)
    var idx = 0
    var l = 0
    while (l < levels.length) {
      val w = 1L << l
      val buf = levels(l)
      var i = 0
      while (i < buf.length) {
        items(idx) = buf(i); weights(idx) = w
        idx += 1; i += 1
      }
      l += 1
    }
    // sort pairs by item
    val order = items.zipWithIndex.sortBy(_._1)
    val si = new Array[Double](total)
    val sw = new Array[Long](total)
    var j = 0
    while (j < total) {
      si(j) = order(j)._1
      sw(j) = weights(order(j)._2)
      j += 1
    }
    (si, sw)
  }

  /** Lower quantile: smallest retained item whose cumulative weight reaches
    * ceil(q·N) — the classical inverse-CDF discrete quantile. With no
    * compactions this is EXACT and equals SQL `quantile_disc` (DuckDB uses
    * the same ceil(q·n) rank; verified empirically).
    */
  def quantileLower(q: Double): Double = {
    if (n == 0) return Double.NaN
    if (q <= 0) return minV
    if (q >= 1) return maxV
    val target = math.ceil(q * n).toLong
    val (items, weights) = sortedWeighted()
    var cum = 0L
    var i = 0
    while (i < items.length) {
      cum += weights(i)
      if (cum >= target) return items(i)
      i += 1
    }
    maxV
  }

  /** Estimated rank (fraction of items <= v). */
  def cdf(v: Double): Double = {
    if (n == 0) return Double.NaN
    var cum = 0L
    var l = 0
    while (l < levels.length) {
      val w = 1L << l
      val buf = levels(l)
      var i = 0
      while (i < buf.length) {
        if (buf(i) <= v) cum += w
        i += 1
      }
      l += 1
    }
    cum.toDouble / n
  }

  def minValue: Double = minV
  def maxValue: Double = maxV

  /** Merge: concatenate level-wise, then compact while over capacity.
    * Associative within the sketch's rank-error bound.
    */
  def mergeInPlace(that: KllSketch): this.type = {
    require(that.k == k, "KLL parameters do not match.")
    if (that.n == 0) return this
    while (levels.length < that.levels.length) levels += new DoubleBuf()
    var l = 0
    while (l < that.levels.length) {
      levels(l).addAll(that.levels(l))
      l += 1
    }
    if (n == 0) { minV = that.minV; maxV = that.maxV }
    else {
      if (that.minV < minV) minV = that.minV
      if (that.maxV > maxV) maxV = that.maxV
    }
    n += that.n
    var progress = true
    while (progress && size > capacity) progress = compress()
    this
  }

  def toBytes: Array[Byte] = {
    val bb = Codec.writer(64 + 8 * size + 8 * levels.length, Codec.TagKll)
    bb.putInt(k)
    bb.putLong(n)
    bb.putDouble(minV)
    bb.putDouble(maxV)
    bb.putLong(coinState)
    bb.putInt(levels.length)
    levels.foreach { buf =>
      bb.putInt(buf.length)
      buf.foreach(v => bb.putDouble(v))
    }
    Codec.finish(bb)
  }
}

object KllSketch {
  val DefaultK = 200

  def apply(k: Int = DefaultK): KllSketch = new KllSketch(k)

  /** Capacity of level `l` when the sketch has `numLevels` levels: k at the
    * top, decaying by 2/3 per level down, floored at 8 (per the paper's
    * c=2/3 recommendation; same scheme as Apache DataSketches).
    */
  private[sketch] def levelCapacity(k: Int, numLevels: Int, l: Int): Int = {
    val depth = numLevels - 1 - l
    math.max(8, math.ceil(k * math.pow(2.0 / 3.0, depth)).toInt)
  }

  def fromBytes(bytes: Array[Byte]): KllSketch = Codec.decode(bytes, Codec.TagKll) { bb =>
    val k = bb.getInt()
    val sk = new KllSketch(k)
    sk.n = bb.getLong()
    sk.minV = bb.getDouble()
    sk.maxV = bb.getDouble()
    sk.coinState = bb.getLong()
    val nl = Codec.readCount(bb, 4)
    sk.levels = ArrayBuffer.tabulate(nl) { _ =>
      val len = Codec.readCount(bb, 8)
      val buf = new DoubleBuf(len)
      var i = 0
      while (i < len) { buf.add(bb.getDouble()); i += 1 }
      buf
    }
    if (sk.levels.isEmpty) sk.levels = ArrayBuffer(new DoubleBuf())
    sk
  }
}
