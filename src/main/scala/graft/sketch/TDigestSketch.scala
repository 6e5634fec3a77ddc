package graft.sketch

import graft.sketch.core.Codec

/** Merging t-digest for quantile / cdf estimation (Dunning & Ertl;
  * reference: /root/reference/src/t-digest.js, itself based on
  * github.com/tdunning/t-digest with a binary-search read path).
  *
  * The ingest/compress/query arithmetic is kept operation-for-operation
  * faithful to the reference so identical ingest orders produce identical
  * centroids. The distributed `mergeInPlace` is NOT the reference's `union`,
  * which re-adds the other digest's centroids one by one, drops the one at
  * `_last` and discards its min/max (t-digest.js:286-293, confirmed
  * empirically). Ours is the one-pass merging digest: a linear merge of both
  * mean-sorted centroid lists, one compress, true extrema (SURVEY.md §2.4).
  */
final class TDigestSketch(val compression: Int, tempSizeOverride: Int = 0)
    extends Serializable {
  import TDigestSketch._

  // fast mode (throughput sizing) also enables the LUT-asin in the scale
  // function; reference-parity instances always use Math.asin
  private val fastScale = tempSizeOverride > 0

  private val size = 2 * math.ceil(compression.toDouble).toInt
  private[sketch] var totalSum: Double = 0.0
  private[sketch] var last: Int = 0
  // All buffers are allocated lazily and grown geometrically up to their
  // logical capacity. The LOGICAL sizes (`size`, `tempSize`) — which define
  // compaction cadence and therefore exact centroid positions — are
  // unchanged; only the backing-array capacity grows on demand, so results
  // are bit-identical while a wide-compression digest (nc = 2^15..2^18 for
  // the exact-regime oracle queries) stops paying ~6-48 MB of upfront
  // allocation per aggregation buffer (one per group per partition on the
  // Spark partial-agg path — the dominant cost of those aggs at verify
  // scale, measured 0.34 s → 0.07 s for the 5-group nc=32768 agg).
  private val initialCap = math.min(size, 64)
  private[sketch] var weight: Array[Double] = new Array[Double](initialCap)
  private[sketch] var mean: Array[Double] = new Array[Double](initialCap)
  private[sketch] var min: Double = Double.MaxValue
  private[sketch] var max: Double = -Double.MaxValue

  // double buffer; mergeWeight doubles as scratch, mergeMean stashes the
  // cumulative weights used by quantile/cdf (t-digest.js:31-34,150-154)
  private var mergeWeight: Array[Double] = new Array[Double](initialCap)
  private var mergeMean: Array[Double] = new Array[Double](initialCap)

  private val tempSize =
    if (tempSizeOverride > 0) tempSizeOverride else numTemp(compression)
  private var tempLast: Int = 0
  private var tempMean: Array[Double] = new Array[Double](math.min(tempSize, 64))

  /** Grow a buffer pair toward `needed` (geometric, capped at `cap`). */
  @inline private def grown(a: Array[Double], needed: Int, cap: Int): Array[Double] =
    java.util.Arrays.copyOf(a, math.min(cap, math.max(needed, a.length * 2)))

  /** Ensure centroid/merge arrays can hold `needed` entries (test hook:
    * TDigestGoldenSpec's growth-equivalence case forces full preallocation
    * through this too). Grown copies preserve live prefixes; mergeCentroid
    * only ever reads w(last) after writing it, and position 0 of a fresh
    * allocation is 0.0 exactly as the eager allocation left it.
    */
  private[sketch] def ensureCentroidCap(needed0: Int): Unit = {
    val needed = math.min(size, needed0)
    if (weight.length < needed) {
      weight = grown(weight, needed, size)
      mean = grown(mean, needed, size)
    }
    if (mergeWeight.length < needed) {
      mergeWeight = grown(mergeWeight, needed, size)
      mergeMean = grown(mergeMean, needed, size)
    }
  }

  /** Add one occurrence of `v`; null/NaN callers filter upstream, NaN is
    * ignored here (t-digest.js:82). Weighted centroids enter only through
    * [[mergeInPlace]].
    */
  def add(v: Double): Unit = {
    if (v.isNaN) return
    if (tempLast >= tempSize) mergeValues()
    else if (tempLast >= tempMean.length) tempMean = grown(tempMean, tempLast + 1, tempSize)
    tempMean(tempLast) = v
    tempLast += 1
  }

  /** Compress temp buffer into the centroid set (t-digest.js:96-157). All
    * temp weights are 1, where equal-value ties are indistinguishable, so an
    * unstable primitive sort merges bit-identically to the reference's stable
    * index sort.
    */
  private[sketch] def mergeValues(): Unit = {
    val tn = tempLast
    if (tn == 0) return
    java.util.Arrays.sort(tempMean, 0, tn)
    tempLast = 0
    mergeRun(tempMean, null, tn, tn)
  }

  /** Merge one mean-sorted run of `rn` centroids with total weight `runSum`
    * into the centroid set; `rw == null` means every weight is 1. On equal
    * means the run goes first.
    */
  private def mergeRun(ru: Array[Double], rw: Array[Double], rn: Int, runSum: Double): Unit = {
    val n = if (totalSum > 0) last + 1 else 0
    // worst case every run entry and every existing centroid survives as
    // its own centroid (the exact-regime shape); capped at `size`, the
    // t-digest bound the eager allocation used
    ensureCentroidCap(n + rn + 1)
    val w = weight
    val u = mean
    last = 0
    totalSum += runSum

    var i = 0; var j = 0; var k1 = 0.0; var sum = 0.0
    while (i < rn || j < n) {
      if (j >= n || (i < rn && ru(i) <= u(j))) {
        val wt = if (rw == null) 1.0 else rw(i)
        sum += wt
        k1 = mergeCentroid(sum, k1, wt, ru(i))
        i += 1
      } else {
        sum += w(j)
        k1 = mergeCentroid(sum, k1, w(j), u(j))
        j += 1
      }
    }

    // swap working and merge space, zero out merge weights
    weight = mergeWeight; mergeWeight = w
    mean = mergeMean; mergeMean = u
    java.util.Arrays.fill(w, 0, last + 1, 0.0)
    restash()
    min = math.min(min, mean(0))
    max = math.max(max, mean(last))
  }

  @inline private def scaleK(q: Double): Double =
    if (fastScale) integrateFast(compression, q) else integrate(compression, q)

  private def mergeCentroid(sum: Double, k1: Double, wt: Double, ut: Double): Double = {
    val w = mergeWeight
    val u = mergeMean
    var n = last
    val k2 = scaleK(sum / totalSum)
    if (k2 - k1 <= 1 || w(n) == 0) {
      w(n) += wt
      u(n) += (ut - u(n)) * wt / w(n)
      k1
    } else {
      n += 1; last = n
      u(n) = ut
      w(n) = wt
      scaleK((sum - wt) / totalSum)
    }
  }

  /** Total weight added, including unmerged (t-digest.js:205-207). */
  def count: Double = totalSum + tempLast

  /** Estimated quantile; q in (0,1) (t-digest.js:212-235). */
  def quantile(q0: Double): Double = {
    mergeValues()
    val total = totalSum
    val n = last
    val u = mean
    val w = weight
    val c = mergeMean
    var l = min
    var r = max
    if (total == 0) return Double.NaN
    if (q0 <= 0) return min
    if (q0 >= 1) return max
    if (n == 0) return u(0)

    val q = q0 * total
    val i = bisect(c, q, 0, n + 1)
    if (i > 0) l = boundary(i - 1, i, u, w)
    if (i < n) r = boundary(i, i + 1, u, w)
    l + (r - l) * (q - (if (i > 0) c(i - 1) else 0.0)) / w(i)
  }

  /** Estimated fraction of values <= v (t-digest.js:239-265). */
  def cdf(v: Double): Double = {
    mergeValues()
    val total = totalSum
    val n = last
    val u = mean
    val w = weight
    val c = mergeMean
    var l = min
    var r = max
    if (total == 0) return Double.NaN
    if (v < min) return 0.0
    if (v > max) return 1.0
    if (n == 0) return interp(v, min, max)

    var i = bisect(u, v, 0, n + 1)
    if (i > 0) l = boundary(i - 1, i, u, w)
    if (i < n) r = boundary(i, i + 1, u, w)
    if (v < l) { // shift one interval if value exceeds boundary
      r = l
      i -= 1
      l = if (i != 0) boundary(i - 1, i, u, w) else min
    }
    ((if (i > 0) c(i - 1) else 0.0) + w(i) * interp(v, l, r)) / total
  }

  /** Distributed merge, one pass (Dunning & Ertl's merging digest): flush
    * both digests, merge the other's mean-sorted centroids — all of them,
    * inclusive of `_last` — with this one's in a single linear pass and one
    * compress, and keep true extrema. The reference's `union`
    * (t-digest.js:286-293) re-adds the centroids one by one, drops the one at
    * `_last` and discards the other's min/max; neither bug is replicated.
    */
  def mergeInPlace(that: TDigestSketch): this.type = {
    mergeValues()
    that.mergeValues()
    if (that.totalSum > 0) {
      mergeRun(that.mean, that.weight, that.last + 1, that.totalSum)
      min = math.min(min, that.min)
      max = math.max(max, that.max)
    }
    this
  }

  def toBytes: Array[Byte] = {
    mergeValues()
    val k = if (totalSum > 0) last + 1 else 0
    val bb = Codec.writer(64 + 16 * (k + 1), Codec.TagTDigest)
    bb.putInt(compression)
    bb.putDouble(min)
    bb.putDouble(max)
    Codec.writeDoubleArray(bb, mean, k)
    Codec.writeDoubleArray(bb, weight, k)
    Codec.finish(bb)
  }

  /** Centroid means `[0.._last]` after flush, for tests/export parity. */
  def centroids: (Array[Double], Array[Double]) = {
    mergeValues()
    val k = if (totalSum > 0) last + 1 else 0
    (mean.take(k), weight.take(k))
  }
  def minValue: Double = min
  def maxValue: Double = max

  /** Rebuild the cumulative-weight stash read by quantile/cdf, after each
    * compress (t-digest.js:150-154) and after deserialization: the
    * reference's `import` leaves the stash empty, which breaks
    * query-after-import (its `union` path papers over it by re-adding
    * values); we repopulate it explicitly.
    */
  private[sketch] def restash(): Unit = {
    mergeMean(0) = weight(0)
    var i = 1
    while (i <= last) {
      mergeMean(i) = mergeMean(i - 1) + weight(i)
      i += 1
    }
  }
}

object TDigestSketch {
  val Epsilon = 1e-300 // t-digest.js:13
  val DefaultCentroids = 100 // t-digest.js:14

  def apply(compression: Int = DefaultCentroids): TDigestSketch =
    new TDigestSketch(compression)

  /** Throughput-oriented sizing for the Spark agg hot path: a temp buffer of
    * 8×nc amortizes the asin-heavy compaction ~10× better than the
    * reference's k·log2k≈nc sizing (t-digest.js:48-56) at ~13 KB extra per
    * group. Same algorithm, same error bounds; compaction boundaries (and
    * hence exact centroid positions) differ from the reference-parity
    * sizing, which golden tests keep using via `apply`.
    */
  def fast(compression: Int = DefaultCentroids): TDigestSketch =
    new TDigestSketch(compression, 8 * math.max(1, compression))

  def fromBytes(bytes: Array[Byte]): TDigestSketch = Codec.decode(bytes, Codec.TagTDigest) { bb =>
    val nc = bb.getInt()
    val mn = bb.getDouble()
    val mx = bb.getDouble()
    val means = Codec.readDoubleArray(bb)
    val weights = Codec.readDoubleArray(bb)
    fromCentroids(nc, mn, mx, means, weights)
  }

  /** Rebuild from centroid state (the binary and JSON codecs). A compression
    * out of range, centroids beyond its 2·nc capacity or unpaired with weights,
    * or weights not positive with a finite sum (a merge carries them into
    * the other digest, `quantile` bisects their running sum) fail with
    * `IllegalArgumentException`.
    */
  def fromCentroids(nc: Int, mn: Double, mx: Double,
      means: Array[Double], weights: Array[Double]): TDigestSketch = {
    require(nc >= 0 && nc < (1 << 30), s"t-digest compression $nc out of range")
    require(means.length == weights.length && means.length <= 2 * nc,
      s"t-digest state holds ${means.length} means and ${weights.length} weights, " +
        s"not one weight per mean within the ${2 * nc} centroids compression $nc allows")
    val td = new TDigestSketch(nc)
    if (means.nonEmpty) {
      td.ensureCentroidCap(means.length + 1)
      var sum = 0.0
      var i = 0
      while (i < means.length) {
        require(weights(i) > 0, s"t-digest centroid $i has weight ${weights(i)}")
        td.mean(i) = means(i)
        td.weight(i) = weights(i)
        sum += weights(i)
        i += 1
      }
      require(sum < Double.PositiveInfinity, "t-digest weights sum to infinity")
      td.last = means.length - 1
      td.totalSum = sum
      td.min = mn
      td.max = mx
      // rebuild the cumulative-weight stash that quantile/cdf read
      td.restash()
    }
    td
  }

  /** Temp buffer size: k such that N = k·log2 k, by binary search
    * (t-digest.js:48-56).
    */
  private[sketch] def numTemp(n: Int): Int = {
    var lo = 1
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (n > mid * math.log(mid) / math.log(2.0)) lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** Arcsine scale function mapping quantile → centroid index
    * (t-digest.js:194-200).
    */
  @inline private def integrate(nc: Int, q: Double): Double =
    nc * (math.asin(2 * q - 1) + math.Pi / 2) / math.Pi

  // LUT asin for |x| < 0.95 (slope bounded ⇒ linear-interp error < 1e-8 in
  // k-space); exact Math.asin in the steep tails where t-digest accuracy
  // concentrates. Only fast-mode (non-parity) digests use it.
  private val AsinN = 8192
  private val AsinLo = -0.95
  private val AsinRange = 1.9
  private val asinTable: Array[Double] =
    Array.tabulate(AsinN + 1)(i => math.asin(AsinLo + AsinRange * i / AsinN))
  @inline private def fastAsin(x: Double): Double =
    if (x <= AsinLo || x >= -AsinLo) math.asin(x)
    else {
      val t = (x - AsinLo) / AsinRange * AsinN
      val i = t.toInt
      val f = t - i
      asinTable(i) * (1 - f) + asinTable(i + 1) * f
    }
  @inline private def integrateFast(nc: Int, q: Double): Double =
    nc * (fastAsin(2 * q - 1) + math.Pi / 2) / math.Pi

  private def bisect(a: Array[Double], x: Double, lo0: Int, hi0: Int): Int = {
    var lo = lo0
    var hi = hi0
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }

  @inline private def boundary(i: Int, j: Int, u: Array[Double], w: Array[Double]): Double =
    u(i) + (u(j) - u(i)) * w(i) / (w(i) + w(j))

  @inline private def interp(x: Double, x0: Double, x1: Double): Double = {
    val denom = x1 - x0
    if (denom > Epsilon) (x - x0) / denom else 0.5
  }
}
