package graft.text

import graft.sketch.core.XxHash64

/** Random-hyperplane LSH for embedding vectors (Charikar 2002 SimHash for
  * cosine): `tables` independent signatures of `bits` sign-bits each. Two
  * vectors with angle θ collide in one table with prob (1 − θ/π)^bits; a
  * bucket-key equi-join over all tables yields ANN candidate pairs without
  * the all-pairs cross join — the 10^12-row scale path; exact cosine
  * reranking runs only inside buckets.
  *
  * Hyperplanes are deterministic pseudo-Gaussians derived from
  * (table, bit, dim) hashes — no stored model, identical on every executor.
  */
object VectorLsh {

  /** Standard normal via Box–Muller over two uniforms derived from `key`:
    * one hash of it under `seed1`, and a hash of that under `seed2`.
    */
  private def gaussian(key: Long, seed1: Long, seed2: Long): Double = {
    val h1 = XxHash64.hashLong(key, seed1)
    val h2 = XxHash64.hashLong(h1, seed2)
    val u1 = ((h1 >>> 11).toDouble + 1.0) / (1L << 53).toDouble // (0,1]
    val u2 = (h2 >>> 11).toDouble / (1L << 53).toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  // per-JVM hyperplane cache: (table, bits, dim) → row-major [bits][dim]
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def planes(table: Int, bits: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((table, bits, dim), { key =>
      val (t, b, d) = key
      val a = new Array[Double](b * d)
      var i = 0
      while (i < b * d) {
        val tbd = (t.toLong << 40) | ((i / d).toLong << 20) | (i % d).toLong
        a(i) = gaussian(tbd, 0xabcdef12L, 0x34567890L)
        i += 1
      }
      a
    })

  /** Signature of `v` in one table: `bits` sign bits packed into a Long. */
  def signature(v: Seq[Float], bits: Int, table: Int): Long =
    signatureArr(TextFunctions.floats(v), bits, table)

  private def signatureArr(v: Array[Float], bits: Int, table: Int): Long = {
    val n = v.length
    val h = planes(table, bits, n)
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      val off = b * n
      while (i < n) {
        dot += v(i) * h(off + i)
        i += 1
      }
      if (dot > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Deterministic near-duplicate of `v`: adds hash-derived Gaussian noise
    * of relative magnitude `eps` per dimension. Used to synthesize realistic
    * ANN probes (a query vector that is a small perturbation of an indexed
    * vector — the standard retrieval scenario) from fixed test data, keeping
    * the whole recall pipeline deterministic.
    */
  def perturb(vs: Seq[Float], id: Long, eps: Double): Array[Float] = {
    val v = TextFunctions.floats(vs) // List input would make v(i) quadratic
    val out = new Array[Float](v.length)
    var norm = 0.0
    var i = 0
    while (i < v.length) { norm += v(i).toDouble * v(i).toDouble; i += 1 }
    val scale = eps * math.sqrt(norm / math.max(1, v.length))
    i = 0
    while (i < v.length) {
      out(i) = (v(i) + scale * gaussian((id << 20) | i.toLong, 0x9d2c5680L, 0xefc60000L)).toFloat
      i += 1
    }
    out
  }

  /** Bucket keys for all tables, namespaced so different tables never
    * collide: key = hash(table, signature).
    */
  def bucketKeys(vs: Seq[Float], bits: Int, tables: Int): Array[Long] = {
    val v = TextFunctions.floats(vs) // convert ONCE, not once per table
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      out(t) = XxHash64.hashLong(signatureArr(v, bits, t) * 31 + t, 0x5ca1ab1eL + t)
      t += 1
    }
    out
  }
}
