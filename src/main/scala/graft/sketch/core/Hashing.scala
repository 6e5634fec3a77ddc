package graft.sketch.core

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Bit-exact Scala port of the reference FNV-1a hash chain
  * (reference: /root/reference/src/hash.js:1-55).
  *
  * The JS implementation mixes float64 adds with ToInt32 coercions; every
  * intermediate sum stays below 2^53 so float64 arithmetic is exact, and every
  * consumer re-coerces through a 32-bit op — hence plain wrapping `Int`
  * arithmetic reproduces it bit-for-bit. The one exception is the probe-walk
  * in `locations` (hash.js:50-53) where `(x + b) % w` is evaluated on the
  * UN-wrapped float sum; we use Long there.
  */
object Fnv1a {

  /** FNV-1a over UTF-16 code units; chars > 0xFF hash high byte then low byte
    * (hash.js:4-13). Returns signed Int32 (≈50% of outputs negative).
    */
  def fnv1a(v: String): Int = {
    var a = 0x811c9dc5 // 2166136261 coerced ToInt32
    var i = 0
    val n = v.length
    while (i < n) {
      val c = v.charAt(i).toInt
      val d = c & 0xff00
      if (d != 0) a = fnvMultiply(a ^ (d >> 8))
      a = fnvMultiply(a ^ (c & 0xff))
      i += 1
    }
    fnvMix(a)
  }

  /** a * 16777619 mod 2^32 via shift-adds (hash.js:16-18). */
  @inline def fnvMultiply(a: Int): Int =
    a + (a << 1) + (a << 4) + (a << 7) + (a << 8) + (a << 24)

  /** One additional FNV round given a hash (hash.js:21-23). */
  @inline def fnv1aB(a: Int): Int = fnvMix(fnvMultiply(a))

  /** bretm avalanche mix (hash.js:26-33). */
  @inline def fnvMix(a0: Int): Int = {
    var a = a0
    a += a << 13
    a ^= a >>> 7
    a += a << 3
    a ^= a >>> 17
    a += a << 5
    a
  }

  /** Kirsch–Mitzenmacher double hashing: d probe slots in [0, w) from two
    * hash evaluations (hash.js:42-55). Per-slot sign correction only; the
    * running `x` stays uncorrected, exactly like the reference.
    *
    * `out` must have length >= d.
    */
  def locations(v: String, d: Int, w: Int, out: Array[Int]): Unit =
    locationsHash(fnv1a(v), d, w, out)

  /** `locations` from a precomputed fnv1a hash (shared by the String and
    * ASCII-bytes entry points).
    */
  def locationsHash(a: Int, d: Int, w: Int, out: Array[Int]): Unit = {
    val b = fnv1aB(a)
    var x = (a % w).toLong
    var i = 0
    while (i < d) {
      out(i) = if (x < 0) (x + w).toInt else x.toInt
      // JS adds int32s as float64 (no wrap) before the modulo — use Long.
      x = (x + b) % w
      i += 1
    }
  }

  /** Sentinel returned by the fused UTF-8 FNV pass when the input
    * contains a non-ASCII byte (callers then fall back to the UTF-16
    * String path, whose hashing the reference defines).
    */
  val NonAscii: Long = Long.MinValue

  /** Single fused pass over UTF-8 bytes in raw memory (a `byte[]` at
    * `Platform.BYTE_ARRAY_OFFSET` or a UTF8String's backing region): returns
    * the FNV-1a hash (equal to `fnv1a` of the decoded String for ASCII, each
    * char taking the single-byte branch of the UTF-16 loop) widened to Long,
    * or [[NonAscii]] if any byte is outside ASCII — one byte scan, not an
    * isAscii pass plus a hash pass.
    */
  def fnv1aUtf8MemoryOrSentinel(base: AnyRef, offset: Long, len: Int): Long = {
    var a = 0x811c9dc5
    var acc = 0
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, offset + i)
      acc |= b
      a = fnvMultiply(a ^ (b & 0xff))
      i += 1
    }
    if (acc < 0) NonAscii else fnvMix(a).toLong
  }
}

/** graft's one 64-bit hash: xxHash64 (public algorithm, Yann Collet) as
  * Spark's own `XXH64` computes it, over a string's UTF-8 bytes. Used by the
  * HLL++ / KLL / MinHash sketches and the near-dup shingles, which need a
  * 64-bit hash — the reference's FNV-32 is too weak beyond ~10^5 distinct
  * values (SURVEY.md §7.2 item 7).
  */
object XxHash64 {
  def hash(s: String, seed: Long): Long = hashBytes(s.getBytes(StandardCharsets.UTF_8), seed)

  def hashLong(v: Long, seed: Long): Long = XXH64.hashLong(v, seed)

  def hashBytes(data: Array[Byte], seed: Long): Long =
    XXH64.hashUnsafeBytes(data, Platform.BYTE_ARRAY_OFFSET, data.length, seed)

  /** `hashBytes` over raw memory (e.g. a UTF8String's backing region) — no
    * byte[] copy.
    */
  def hashMemory(base: AnyRef, offset: Long, len: Int, seed: Long): Long =
    XXH64.hashUnsafeBytes(base, offset, len, seed)
}
