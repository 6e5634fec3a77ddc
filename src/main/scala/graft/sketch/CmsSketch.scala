package graft.sketch

import graft.sketch.core.{Codec, Fnv1a}

/** Count-Min sketch (Cormode–Muthukrishnan) with the reference's hashing and
  * estimator semantics (reference: /root/reference/src/count-min.js).
  *
  * Deviation from the reference: counters are `Long`, not Int32 — at the
  * 10^12-add target scale Int32 overflows (SURVEY.md §7.7). `num` likewise.
  * The table is row-major: `d` rows of width `w` (count-min.js:60).
  */
class CmsSketch(val width: Int, val depth: Int, val table: Array[Long], private var _num: Long)
    extends Serializable {

  @transient protected lazy val scratch = new Array[Int](depth)

  def num: Long = _num

  /** Add `count` occurrences of a value (reference add is count=1 only,
    * count-min.js:55-64; the weighted generalization is exact for a linear
    * sketch).
    */
  def add(v: String, count: Long = 1L): Unit = {
    Fnv1a.locations(v, depth, width, scratch)
    var i = 0; var r = 0
    while (i < depth) {
      table(r + scratch(i)) += count
      i += 1; r += width
    }
    _num += count
  }

  /** Point query: min over the d counters (count-min.js:67-78). */
  def query(v: String): Long = {
    Fnv1a.locations(v, depth, width, scratch)
    var min = Long.MaxValue
    var i = 0; var r = 0
    while (i < depth) {
      val c = table(r + scratch(i))
      if (c < min) min = c
      i += 1; r += width
    }
    min
  }

  protected def requireCompatible(that: CmsSketch): Unit = {
    require(that.width == width, "Sketch widths do not match.")
    require(that.depth == depth, "Sketch depths do not match.")
  }

  /** Estimated inner product of the two frequency vectors: per-row dot, min
    * across rows (count-min.js:83-103). Float64 accumulation like the JS.
    */
  def dot(that: CmsSketch): Double = {
    requireCompatible(that)
    var min = Double.PositiveInfinity
    var acc = 0.0
    var i = 0
    val m = depth * width
    while (i < m) {
      acc += table(i).toDouble * that.table(i).toDouble
      i += 1
      if (i % width == 0) {
        if (acc < min) min = acc
        acc = 0.0
      }
    }
    min
  }

  /** In-place merge: elementwise counter sum + num sum. Absent in the
    * reference (SURVEY.md §2.4) but exact for this linear structure —
    * associative and commutative.
    */
  def mergeInPlace(that: CmsSketch): this.type = {
    requireCompatible(that)
    var i = 0
    while (i < table.length) { table(i) += that.table(i); i += 1 }
    _num += that._num
    this
  }

  protected def codecTag: Byte = Codec.TagCms

  def toBytes: Array[Byte] = {
    val bb = Codec.writer(32 + 8 * table.length, codecTag)
    bb.putInt(width); bb.putInt(depth); bb.putLong(_num)
    Codec.writeLongArray(bb, table)
    Codec.finish(bb)
  }
}

object CmsSketch {
  val DefaultBins = 27191 // count-min.js:4
  val DefaultHash = 9 // count-min.js:5

  def apply(w: Int = DefaultBins, d: Int = DefaultHash): CmsSketch = {
    // reference `w || DEFAULT_BINS` / `d || DEFAULT_HASH` falsy fallback
    // (count-min.js:16-17): a zero width would make locations() divide by 0
    val w1 = if (w <= 0) DefaultBins else w
    val d1 = if (d <= 0) DefaultHash else d
    new CmsSketch(w1, d1, new Array[Long](w1 * d1), 0L)
  }

  /** Sizing from expected total count n, absolute error e, failure prob p
    * (count-min.js:37-43). Note resulting default depth ⌈ln 1000⌉ = 7 differs
    * from the plain-constructor default 9, as in the reference.
    */
  def create(n: Long, e: Double = 0.0, p: Double = 0.0): CmsSketch = {
    val (w, d) = sizing(n, e, p)
    apply(w, d)
  }

  /** Closed-form (width, depth) used by `create` (count-min.js:37-43). */
  def sizing(n: Long, e: Double = 0.0, p: Double = 0.0): (Int, Int) = {
    val eps = if (n != 0) (if (e != 0) e / n else 1.0 / n) else 0.001
    val pp = if (p != 0) p else 0.001
    val w = math.ceil(math.E / eps).toInt
    val d = math.ceil(-math.log(pp)).toInt
    (w, d)
  }

  def fromBytes(bytes: Array[Byte]): CmsSketch = Codec.decode(bytes, Codec.TagCms) { bb =>
    val (w, d, num, table) = readTable(bb)
    new CmsSketch(w, d, table, num)
  }

  /** Width, depth, count and table of a CMS or CMM encoding, checked by [[requireShape]]. */
  private[sketch] def readTable(bb: java.nio.ByteBuffer): (Int, Int, Long, Array[Long]) = {
    val w = bb.getInt(); val d = bb.getInt(); val num = bb.getLong()
    val table = Codec.readLongArray(bb)
    requireShape(w, d, table.length)
    (w, d, num, table)
  }

  /** The CMS and CMM shape rule of every import, binary or JSON: `w ≥ 1`,
    * `d ≥ 1` and `w·d` counters, so a bad table fails here, not as a bad
    * index on first query.
    */
  private[sketch] def requireShape(w: Int, d: Int, counters: Int): Unit =
    Codec.requireShape(w >= 1 && d >= 1 && w.toLong * d == counters,
      s"width $w x depth $d does not match the $counters counters")
}

/** Count-Mean-Min: CMS state plus Deng–Rafiei bias-corrected median estimator
  * (reference: /root/reference/src/count-mean-min.js).
  */
final class CmmSketch(width: Int, depth: Int, table: Array[Long], num0: Long)
    extends CmsSketch(width, depth, table, num0) {

  /** Bias-corrected point query: per-row `c − (n−c)/(w−1)`, median across
    * rows, clamped to [0, min] (count-mean-min.js:31-49). Fractional.
    */
  def queryMean(v: String): Double = {
    Fnv1a.locations(v, depth, width, scratch)
    val q = new Array[Double](depth)
    val s = 1.0 / (width - 1)
    val n = num.toDouble
    var min = Double.PositiveInfinity
    var i = 0; var r = 0
    while (i < depth) {
      val c = table(r + scratch(i)).toDouble
      if (c < min) min = c
      q(i) = c - (n - c) * s
      i += 1; r += width
    }
    val m = CmmSketch.median(q)
    if (m < 0) 0.0 else if (m > min) min else m
  }

  /** Bias-corrected dot product (count-mean-min.js:54-77). */
  def dotMean(that: CmsSketch): Double = {
    requireCompatible(that)
    val q = new Array[Double](depth)
    val n = num.toDouble
    val z = (width - 1).toDouble / width
    val s = 1.0 / (width - 1)
    var acc = 0.0
    var i = 0
    val m = depth * width
    while (i < m) {
      val ta = table(i).toDouble
      val tb = that.table(i).toDouble
      acc += (ta - (n - ta) * s) * (tb - (n - tb) * s)
      i += 1
      if (i % width == 0) {
        q(i / width - 1) = z * acc
        acc = 0.0
      }
    }
    val d = CmmSketch.median(q)
    if (d < 0) 0.0 else d
  }

  override protected def codecTag: Byte = Codec.TagCmm

  override def mergeInPlace(that: CmsSketch): this.type = super.mergeInPlace(that)
}

object CmmSketch {
  def apply(w: Int = CmsSketch.DefaultBins, d: Int = CmsSketch.DefaultHash): CmmSketch = {
    val w1 = if (w <= 0) CmsSketch.DefaultBins else w
    val d1 = if (d <= 0) CmsSketch.DefaultHash else d
    new CmmSketch(w1, d1, new Array[Long](w1 * d1), 0L)
  }

  def create(n: Long, e: Double = 0.0, p: Double = 0.0): CmmSketch = {
    val c = CmsSketch.create(n, e, p)
    new CmmSketch(c.width, c.depth, c.table, 0L)
  }

  def fromBytes(bytes: Array[Byte]): CmmSketch = Codec.decode(bytes, Codec.TagCmm) { bb =>
    val (w, d, num, table) = CmsSketch.readTable(bb)
    new CmmSketch(w, d, table, num)
  }

  /** Median with JS-parity semantics: sort ascending, middle (odd) or mean of
    * the two middles (even) (count-mean-min.js:79-84).
    */
  private[sketch] def median(q: Array[Double]): Double = {
    java.util.Arrays.sort(q)
    val n = q.length
    val h = n / 2
    if (n % 2 == 1) q(h) else 0.5 * (q(h - 1) + q(h))
  }
}
