package graft.sketch

import java.util.Locale

import scala.collection.mutable

import graft.sketch.core.Codec

/** Character-level n-gram profile with exact counts
  * (reference: /root/reference/src/ngram.js). Not probabilistic — the map is
  * unbounded — but it is mergeable (map union with count sum) and serves the
  * reference's text-similarity surface (dot/cosine, ngram.js:62-80).
  */
final class NGramSketch(
    val n: Int,
    val caseSensitive: Boolean,
    val counts: mutable.HashMap[String, Long])
    extends Serializable {

  @transient private var _norm: Double = -1.0

  /** Add every consecutive n-gram of `s`; null/empty ignored (ngram.js:19-23). */
  def add(s: String): Unit = {
    if (s == null || s.isEmpty) return
    _norm = -1.0
    val len = s.length - n + 1
    var i = 0
    while (i < len) {
      var k = s.substring(i, i + n)
      if (!caseSensitive) k = k.toLowerCase(Locale.ROOT)
      counts.update(k, counts.getOrElse(k, 0L) + 1L)
      i += 1
    }
  }

  def query(key: String): Long = {
    val k = if (caseSensitive) key else key.toLowerCase(Locale.ROOT)
    counts.getOrElse(k, 0L)
  }

  /** Number of unique n-grams observed. */
  def size: Int = counts.size

  /** L2 norm of the count vector, cached (ngram.js:48-58). */
  def norm: Double = {
    if (_norm < 0) {
      var s = 0.0
      counts.valuesIterator.foreach(c => s += c.toDouble * c.toDouble)
      _norm = math.sqrt(s)
    }
    _norm
  }

  /** Exact sparse dot product (ngram.js:62-71). */
  def dot(that: NGramSketch): Double = {
    var acc = 0.0
    counts.foreach { case (k, c) => acc += c.toDouble * that.counts.getOrElse(k, 0L).toDouble }
    acc
  }

  /** Cosine similarity; 0 if either norm is 0 (ngram.js:75-79). */
  def cosine(that: NGramSketch): Double = {
    val aa = norm
    val bb = that.norm
    if (aa != 0 && bb != 0) dot(that) / (aa * bb) else 0.0
  }

  /** In-place map-union merge with count sum — exact, associative,
    * commutative (absent in the reference; SURVEY.md §2.4).
    */
  def mergeInPlace(that: NGramSketch): this.type = {
    require(that.n == n, "NGram sizes do not match.")
    require(that.caseSensitive == caseSensitive, "NGram case sensitivity does not match.")
    _norm = -1.0
    that.counts.foreach { case (k, c) => counts.update(k, counts.getOrElse(k, 0L) + c) }
    this
  }

  def toBytes: Array[Byte] = {
    var payload = 0
    counts.keysIterator.foreach(k => payload += 16 + 3 * k.length)
    val bb = Codec.writer(32 + payload, Codec.TagNGram)
    bb.putInt(n)
    bb.put(if (caseSensitive) 1.toByte else 0.toByte)
    bb.putInt(counts.size)
    // canonical order ⇒ byte-stable serialization for equal states
    counts.toSeq.sortBy(_._1).foreach { case (k, c) =>
      Codec.writeString(bb, k); bb.putLong(c)
    }
    Codec.finish(bb)
  }
}

object NGramSketch {
  def apply(n: Int = 2, caseSensitive: Boolean = false): NGramSketch =
    new NGramSketch(n, caseSensitive, mutable.HashMap.empty)

  def fromBytes(bytes: Array[Byte]): NGramSketch = Codec.decode(bytes, Codec.TagNGram) { bb =>
    val n = bb.getInt()
    val cs = bb.get() == 1
    val sz = Codec.readCount(bb, 12)
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < sz) {
      val k = Codec.readString(bb)
      m.update(k, bb.getLong())
      i += 1
    }
    new NGramSketch(n, cs, m)
  }
}
