package graft.sketch

import graft.sketch.core.{Codec, Fnv1a}

/** Bloom filter with the reference's exact hashing + sizing semantics
  * (reference: /root/reference/src/bloom.js). State is a flat Int32 bit set;
  * width rounds up to a multiple of 32 (bloom.js:25-27).
  *
  * Mutable; one instance per aggregation buffer. Not thread-safe.
  */
final class BloomSketch private (val width: Int, val depth: Int, val words: Array[Int])
    extends Serializable {

  @transient private lazy val scratch = new Array[Int](depth)

  /** Add a value (values are string-coerced upstream, bloom.js:56). */
  def add(v: String): Unit = {
    Fnv1a.locations(v, depth, width, scratch)
    var i = 0
    while (i < depth) {
      val l = scratch(i)
      words(l >>> 5) |= 1 << (l % 32)
      i += 1
    }
  }

  /** Add from UTF-8 bytes without materializing a String. ASCII bytes hash
    * identically to `add(new String(v, UTF_8))`; non-ASCII falls back to the
    * String path (the reference hashes UTF-16 code units, which diverge from
    * UTF-8 bytes beyond 0x7F). Hot path of the 10^12-row ingest: saves a
    * char[] decode + String alloc per row.
    */
  def addUtf8(v: Array[Byte]): Unit = {
    val h = Fnv1a.fnv1aUtf8OrSentinel(v)
    if (h != Fnv1a.NonAscii) addFnv(h.toInt)
    else add(new String(v, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Add from a precomputed FNV-1a hash (callers that hash bytes/memory
    * directly — see `Fnv1a.fnv1aUtf8OrSentinel`/`fnv1aUtf8MemoryOrSentinel`).
    */
  def addFnv(a: Int): Unit = {
    Fnv1a.locationsHash(a, depth, width, scratch)
    var i = 0
    while (i < depth) {
      val l = scratch(i)
      words(l >>> 5) |= 1 << (l % 32)
      i += 1
    }
  }

  /** Membership query — false positives possible, no false negatives. */
  def query(v: String): Boolean = {
    Fnv1a.locations(v, depth, width, scratch)
    var i = 0
    while (i < depth) {
      val l = scratch(i)
      if ((words(l >>> 5) & (1 << (l % 32))) == 0) return false
      i += 1
    }
    true
  }

  private def bitsSet: Int = {
    var bits = 0; var i = 0
    while (i < words.length) { bits += Integer.bitCount(words(i)); i += 1 }
    bits
  }

  /** Estimated cardinality via linear counting on fill ratio (bloom.js:80-85). */
  def size: Double = -width * math.log(1 - bitsSet.toDouble / width) / depth

  private def requireCompatible(bf: BloomSketch): Unit = {
    require(bf.width == width, "Filter widths do not match.")
    require(bf.depth == depth, "Filter depths do not match.")
  }

  /** In-place union (associative + commutative; bloom.js:90-104). */
  def unionInPlace(bf: BloomSketch): BloomSketch = {
    requireCompatible(bf)
    var i = 0
    while (i < words.length) { words(i) |= bf.words(i); i += 1 }
    this
  }

  def union(bf: BloomSketch): BloomSketch = copy().unionInPlace(bf)

  def copy(): BloomSketch =
    new BloomSketch(width, depth, java.util.Arrays.copyOf(words, words.length))

  /** Shared comparison kernel over fill-ratio logs (bloom.js:107-134). */
  private def estimate(bf: BloomSketch)(kernel: (Double, Double, Double) => Double): Double = {
    requireCompatible(bf)
    var x = 0; var y = 0; var z = 0; var i = 0
    while (i < words.length) {
      x += Integer.bitCount(words(i))
      y += Integer.bitCount(bf.words(i))
      z += Integer.bitCount(words(i) | bf.words(i))
      i += 1
    }
    kernel(
      math.log(1 - x.toDouble / width),
      math.log(1 - y.toDouble / width),
      math.log(1 - z.toDouble / width))
  }

  /** Jaccard coefficient estimate of the two underlying sets (bloom.js:130-134). */
  def jaccard(bf: BloomSketch): Double =
    estimate(bf)((a, b, u) => if (u != 0) (a + b) / u - 1 else 0)

  /** Set cover over the smaller of the two sets (bloom.js:139-144). */
  def cover(bf: BloomSketch): Double =
    estimate(bf) { (a, b, u) =>
      val denom = math.max(a, b)
      if (denom != 0) (a + b - u) / denom else 0
    }

  def toBytes: Array[Byte] = {
    val bb = Codec.writer(16 + 4 * words.length + 16, Codec.TagBloom)
    bb.putInt(depth)
    Codec.writeIntArray(bb, words)
    Codec.finish(bb)
  }
}

object BloomSketch {
  val DefaultBits = 1024 * 1024 * 8 // 1 MB (bloom.js:10)
  val DefaultHash = 5 // optimal for 2% FPR over 1M elements (bloom.js:11)

  def apply(w: Int = DefaultBits, d: Int = DefaultHash): BloomSketch = {
    // replicate the reference's `w || DEFAULT_BITS` / `d || DEFAULT_HASH`
    // falsy fallback (bloom.js:19-20): a computed 0 means "use the default",
    // never a degenerate zero-bit / zero-hash filter
    val w1 = if (w <= 0) DefaultBits else w
    val d1 = if (d <= 0) DefaultHash else d
    val n = math.ceil(w1 / 32.0).toInt
    new BloomSketch(n * 32, d1, new Array[Int](n))
  }

  /** Closed-form (width, depth) for expected cardinality n and FPR p, with
    * the reference's `~~` truncation (bloom.js:39-43). Width here is BEFORE
    * the constructor's round-up to a multiple of 32; p ≳ 0.5 truncates depth
    * to 0, which the constructor falls back to DefaultHash exactly as the
    * reference's `||` does.
    */
  def sizing(n: Int, p: Double): (Int, Int) = {
    val ln2 = math.log(2.0)
    val w = -n * math.log(p) / (ln2 * ln2)
    val d = (w / n) * ln2
    (w.toInt, d.toInt)
  }

  /** Sizing from expected cardinality n and FPR p (bloom.js:35-44). */
  def create(n: Int, p: Double): BloomSketch = {
    val (w, d) = sizing(n, p)
    apply(w, d)
  }

  def fromWords(words: Array[Int], d: Int): BloomSketch =
    new BloomSketch(words.length * 32, d, words)

  def fromBytes(bytes: Array[Byte]): BloomSketch = Codec.decode(bytes, Codec.TagBloom) { bb =>
    val d = bb.getInt()
    val words = Codec.readIntArray(bb)
    new BloomSketch(words.length * 32, d, words)
  }
}
