package graft.text

import graft.sketch.core.{Codec, XxHash64}

/** MinHash signature over a shingle set (Broder 1997): k independent
  * permutations approximated by k seeded 64-bit hashes; the signature of a
  * set is the elementwise minimum. Estimated Jaccard(A, B) = fraction of
  * matching signature slots; std error ≈ 1/√k.
  *
  * Mergeable: sig(A ∪ B) = elementwise min — associative, commutative — so
  * it runs as a UDAF (signature of all shingles in a group) and as a per-doc
  * scalar UDF for near-dup detection. LSH banding (`bandKeys`) turns
  * signatures into join keys: docs sharing any band key are candidate pairs,
  * the scale path for dedup at 10^12 docs (band-key shuffle instead of all
  * pairs).
  */
final class MinHashSketch(val k: Int, val sig: Array[Long]) extends Serializable {

  def addShingle(s: String): Unit = {
    // k hash functions from two evaluations (Kirsch–Mitzenmacher):
    // h_i = a + i·b over Z_2^64 — 2 strong hashes + k mults per shingle
    val a = XxHash64.hash(s, MinHashSketch.Seed)
    val b = XxHash64.hashLong(a, MinHashSketch.Seed2) | 1L
    var h = a
    var i = 0
    while (i < k) {
      if (h < sig(i)) sig(i) = h
      h += b
      i += 1
    }
  }

  /** Character shingles of width `w` (token-insensitive, robust to small
    * edits); lowercased.
    */
  def addText(text: String, shingle: Int): Unit = {
    if (text == null || text.length < shingle) return
    val t = text.toLowerCase(java.util.Locale.ROOT)
    var i = 0
    val n = t.length - shingle + 1
    while (i < n) {
      addShingle(t.substring(i, i + shingle))
      i += 1
    }
  }

  def estJaccard(that: MinHashSketch): Double = {
    require(that.k == k, "MinHash sizes do not match.")
    var m = 0
    var i = 0
    while (i < k) { if (sig(i) == that.sig(i)) m += 1; i += 1 }
    m.toDouble / k
  }

  /** Elementwise-min merge: signature of the union set. */
  def mergeInPlace(that: MinHashSketch): this.type = {
    require(that.k == k, "MinHash sizes do not match.")
    var i = 0
    while (i < k) { if (that.sig(i) < sig(i)) sig(i) = that.sig(i); i += 1 }
    this
  }

  /** LSH band keys: hash of each band of `k / bands` consecutive slots,
    * namespaced by band index so keys from different bands never collide.
    */
  def bandKeys(bands: Int): Array[Long] = {
    val rows = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L + b
      var r = 0
      while (r < rows) {
        h = h * 31 + sig(b * rows + r)
        r += 1
      }
      out(b) = XxHash64.hashLong(h, 0xbade5eedL + b)
      b += 1
    }
    out
  }

  def toBytes: Array[Byte] = {
    val bb = Codec.writer(16 + 8 * k, Codec.TagMinHash)
    Codec.writeLongArray(bb, sig)
    Codec.finish(bb)
  }
}

object MinHashSketch {
  val DefaultK = 128
  private[text] val Seed = 0x3c6ef372fe94f82aL
  private[text] val Seed2 = 0x9e3779b97f4a7c15L

  def apply(k: Int = DefaultK): MinHashSketch =
    new MinHashSketch(k, Array.fill(k)(Long.MaxValue))

  def ofText(text: String, k: Int = DefaultK, shingle: Int = 5): MinHashSketch = {
    val m = apply(k)
    m.addText(text, shingle)
    m
  }

  def fromBytes(bytes: Array[Byte]): MinHashSketch = Codec.decode(bytes, Codec.TagMinHash) { bb =>
    val sig = Codec.readLongArray(bb)
    new MinHashSketch(sig.length, sig)
  }
}

/** SimHash (Charikar 2002): 64-bit locality-sensitive fingerprint — each
  * token's hash votes ±1 per bit, the sign of each bit-sum is the
  * fingerprint bit. Near-duplicates have small Hamming distance.
  */
object SimHash {
  def ofTokens(tokens: Iterator[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = XxHash64.hash(t, 0x51a9b1e3c7d5f021L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def ofText(text: String): Long =
    if (text == null) 0L
    else ofTokens(text.toLowerCase(java.util.Locale.ROOT).split("\\s+").iterator.filter(_.nonEmpty))
}
