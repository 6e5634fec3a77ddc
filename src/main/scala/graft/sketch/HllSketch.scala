package graft.sketch

import graft.sketch.core.{Codec, XxHash64}

/** HyperLogLog++ cardinality sketch (Heule, Nunkesser & Hall 2013; Flajolet
  * et al. 2007). Absent from the reference library — its only cardinality
  * estimator is `Bloom.size()` (/root/reference/src/bloom.js:80-85) — so this
  * is built from the papers and cross-checked against Spark's own
  * `approx_count_distinct` (also HLL++) in tests.
  *
  * Design: 64-bit xxHash (no large-range correction needed), `m = 2^p` dense
  * byte registers, and a sparse phase at precision `sp = 25` that stores
  * `idx<<6 | rho` codes in a hash map until the sparse footprint exceeds the
  * dense array, at which point the sketch promotes (one-way). Sparse-phase
  * estimates use linear counting over `2^sp` buckets, which is near-exact for
  * small cardinalities. Merge: sparse∪sparse, sparse→dense fold, or
  * elementwise register max — associative and commutative.
  *
  * Standard error (dense): ±1.04/√m (p=14 → m=16384 → ~0.81%).
  */
final class HllSketch private (
    val p: Int,
    private var dense: Array[Byte],
    private var sparse: scala.collection.mutable.HashMap[Int, Byte])
    extends Serializable {
  import HllSketch._

  val m: Int = 1 << p

  def isSparse: Boolean = sparse != null

  def add(v: String): Unit = addHash(XxHash64.hash(v, Seed))
  def addLong(v: Long): Unit = addHash(XxHash64.hashLong(v, Seed))
  /** Add from UTF-8 bytes — identical to `add(new String(v, UTF_8))` for all
    * valid UTF-8 (xxHash is defined over the UTF-8 byte stream), without the
    * per-row String materialization.
    */
  def addUtf8(v: Array[Byte]): Unit = addHash(XxHash64.hashBytes(v, Seed))
  /** Add from a raw memory region holding UTF-8 bytes (e.g. a UTF8String's
    * backing region) — zero-copy variant of `addUtf8`.
    */
  def addUtf8Memory(base: AnyRef, offset: Long, len: Int): Unit =
    addHash(XxHash64.hashMemory(base, offset, len, Seed))

  def addHash(h: Long): Unit = {
    if (sparse != null) {
      val idx = (h >>> (64 - SparseP)).toInt
      val rest = h << SparseP
      val rho = (if (rest == 0) 64 - SparseP + 1 else java.lang.Long.numberOfLeadingZeros(rest) + 1).toByte
      val prev = sparse.getOrElse(idx, 0.toByte)
      if (rho > prev) sparse.update(idx, rho)
      if (sparse.size > (m >> 2)) promote()
    } else {
      val idx = (h >>> (64 - p)).toInt
      val rest = h << p
      val rho = (if (rest == 0) 64 - p + 1 else java.lang.Long.numberOfLeadingZeros(rest) + 1).toByte
      if (rho > dense(idx)) dense(idx) = rho
    }
  }

  /** Fold every sparse (idx, rho) code into the dense register array. */
  private def promote(): Unit = {
    dense = new Array[Byte](m)
    sparse.foreach { case (sidx, srho) => foldSparseEntry(dense, sidx, srho) }
    sparse = null
  }

  private def foldSparseEntry(regs: Array[Byte], sidx: Int, srho: Byte): Unit = {
    val didx = sidx >>> (SparseP - p)
    val lowBits = sidx & ((1 << (SparseP - p)) - 1)
    val rho: Int =
      if (lowBits != 0) Integer.numberOfLeadingZeros(lowBits) - (32 - (SparseP - p)) + 1
      else (SparseP - p) + srho
    if (rho > regs(didx)) regs(didx) = rho.toByte
  }

  /** Estimated cardinality. */
  def estimate: Double = {
    if (sparse != null) {
      // linear counting over 2^sp buckets
      val msp = (1L << SparseP).toDouble
      val zeros = msp - sparse.size
      if (sparse.isEmpty) 0.0 else msp * math.log(msp / zeros)
    } else {
      var invSum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        val r = dense(i)
        invSum += java.lang.Double.longBitsToDouble((1023L - r) << 52) // 2^-r
        if (r == 0) zeros += 1
        i += 1
      }
      val alpha = alphaM(m)
      val e = alpha * m.toDouble * m.toDouble / invSum
      // HLL++ estimator (Heule 2013 §5): subtract the empirically-measured
      // bias in the e <= 5m regime, and prefer linear counting below the
      // published per-precision crossover threshold
      val corrected = if (e <= 5.0 * m) e - HllBias.estimateBias(e, p) else e
      if (zeros > 0) {
        val h = m * math.log(m.toDouble / zeros)
        if (h <= HllBias.threshold(p)) h else corrected
      } else corrected
    }
  }

  def cardinality: Long = math.rint(estimate).toLong

  /** Associative, commutative merge; requires equal precision. */
  def mergeInPlace(that: HllSketch): this.type = {
    require(that.p == p, "HLL precisions do not match.")
    if (sparse != null && that.sparse != null) {
      that.sparse.foreach { case (idx, rho) =>
        val prev = sparse.getOrElse(idx, 0.toByte)
        if (rho > prev) sparse.update(idx, rho)
      }
      if (sparse.size > (m >> 2)) promote()
    } else {
      if (sparse != null) promote()
      if (that.sparse != null) {
        that.sparse.foreach { case (idx, rho) => foldSparseEntry(dense, idx, rho) }
      } else {
        var i = 0
        while (i < m) {
          if (that.dense(i) > dense(i)) dense(i) = that.dense(i)
          i += 1
        }
      }
    }
    this
  }

  def toBytes: Array[Byte] = {
    if (sparse != null) {
      val bb = Codec.writer(16 + 8 * sparse.size, Codec.TagHll)
      bb.putInt(p)
      bb.put(1.toByte) // sparse
      bb.putInt(sparse.size)
      sparse.toArray.sortBy(_._1).foreach { case (idx, rho) =>
        bb.putInt(idx); bb.put(rho)
      }
      Codec.finish(bb)
    } else {
      val bb = Codec.writer(16 + m, Codec.TagHll)
      bb.putInt(p)
      bb.put(0.toByte) // dense
      bb.put(dense)
      Codec.finish(bb)
    }
  }
}

object HllSketch {
  val DefaultP = 14 // m = 16384 → ±0.81% std error
  val SparseP = 25
  private[sketch] val Seed = 0x6b7f5a3d2c1e0f89L

  def apply(p: Int = DefaultP): HllSketch = {
    require(p >= 4 && p <= 18, s"HLL precision out of range: $p")
    new HllSketch(p, null, scala.collection.mutable.HashMap.empty)
  }

  // ---- set algebra over serialized states ----
  // Union is native (register-wise max — the merged sketch IS the sketch of
  // A∪B); intersection and Jaccard come from inclusion–exclusion over the
  // three estimates, the standard HLL derivation. Their absolute error is
  // bounded by the union's standard error (~1.04/√m · |A∪B|), NOT the
  // intersection's own size — callers gate tolerance against |A∪B|.

  /** (|A∪B|, |A∩B|, J(A,B)) in one deserialization pass per operand. */
  def setAlgebra(a: Array[Byte], b: Array[Byte]): (Double, Double, Double) = {
    val sa = fromBytes(a); val sb = fromBytes(b)
    val ea = sa.estimate; val eb = sb.estimate
    val union = sa.mergeInPlace(sb).estimate // sa is a fresh copy — safe to mutate
    val inter = math.max(0.0, ea + eb - union)
    (union, inter, if (union <= 0.0) 0.0 else inter / union)
  }

  def unionEstimate(a: Array[Byte], b: Array[Byte]): Double = setAlgebra(a, b)._1
  def intersectionEstimate(a: Array[Byte], b: Array[Byte]): Double = setAlgebra(a, b)._2
  def jaccardEstimate(a: Array[Byte], b: Array[Byte]): Double = setAlgebra(a, b)._3

  private def alphaM(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1 + 1.079 / m)
  }

  def fromBytes(bytes: Array[Byte]): HllSketch = Codec.decode(bytes, Codec.TagHll) { bb =>
    val p = bb.getInt()
    if (p < 4 || p > 18) throw Codec.corrupt(Codec.TagHll, 3, s"HLL precision $p out of range")
    val mode = bb.get()
    if (mode == 1) {
      val n = Codec.readCount(bb, 5)
      val map = scala.collection.mutable.HashMap.empty[Int, Byte]
      var i = 0
      while (i < n) { map.update(bb.getInt(), bb.get()); i += 1 }
      new HllSketch(p, null, map)
    } else {
      val regs = new Array[Byte](1 << p)
      bb.get(regs)
      new HllSketch(p, regs, null)
    }
  }
}
