package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

import Golden._

/** Parity with /root/reference/src/t-digest.js: identical ingest order must
  * produce identical centroids; quantile/cdf compared at 1e-9. The
  * distributed merge is OUR corrected design (the reference union drops a
  * centroid, t-digest.js:289) and is tested for accuracy, not parity.
  */
class TDigestGoldenSpec extends AnyFunSuite {
  private val g = Golden.load("tdigest.json")
  private val Tol = 1e-9

  private def closeTo(a: Double, b: Double, tol: Double = Tol): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol

  test("numTemp buffer sizing matches reference binary search") {
    arr(g \ "numTemp").foreach { c =>
      assert(TDigestSketch.numTemp(int(c \ "nc")) == int(c \ "temp"))
    }
  }

  test("identical ingest order produces identical centroids and queries") {
    arr(g \ "cases").foreach { c =>
      val nc = int(c \ "nc")
      val vals = doubles(c \ "values")
      val td = TDigestSketch(nc)
      vals.foreach(v => td.add(v))

      assert(td.count === double(c \ "size"), s"size (nc=$nc, n=${vals.size})")

      val (means, weights) = td.centroids
      val expMean = doubles(c \ "export" \ "mean")
      val expWeight = doubles(c \ "export" \ "weight")
      if (vals.nonEmpty) {
        assert(means.length == expMean.length, "centroid count")
        means.zip(expMean).foreach { case (m, e) => assert(closeTo(m, e), "mean") }
        weights.zip(expWeight).foreach { case (w, e) => assert(closeTo(w, e), "weight") }
        assert(closeTo(td.minValue, double(c \ "export" \ "min")), "min")
        assert(closeTo(td.maxValue, double(c \ "export" \ "max")), "max")
      }

      arr(c \ "quantiles").foreach { qv =>
        val Seq(q, e) = doubles(qv)
        assert(closeTo(td.quantile(q), e), s"quantile($q) nc=$nc n=${vals.size}")
      }
      arr(c \ "cdfs").foreach { cv =>
        val Seq(v, e) = doubles(cv)
        assert(closeTo(td.cdf(v), e), s"cdf($v) nc=$nc n=${vals.size}")
      }
    }
  }

  test("codec round-trip preserves centroids and queries") {
    val rnd = new Golden.Lcg(42)
    val td = TDigestSketch(100)
    (0 until 5000).foreach(_ => td.add(rnd.next()))
    val back = TDigestSketch.fromBytes(td.toBytes)
    Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0).foreach { q =>
      assert(closeTo(back.quantile(q), td.quantile(q)), s"q=$q")
    }
    Seq(0.1, 0.5, 0.9).foreach { v =>
      assert(closeTo(back.cdf(v), td.cdf(v)), s"cdf=$v")
    }
    assert(back.count === td.count)
    assert(back.toBytes.toSeq == td.toBytes.toSeq)
  }

  test("null/NaN ignored; count<=0 throws (t-digest.js:82-84 semantics)") {
    val td = TDigestSketch()
    td.add(Double.NaN)
    assert(td.count == 0.0)
    assert(td.quantile(0.5).isNaN)
    // `add` takes no count: weighted centroids enter only through
    // mergeInPlace, so the reference's count <= 0 throw has no counterpart
  }

  test("corrected merge: union of two half-ranges approximates uniform") {
    val rnd = new Golden.Lcg(7)
    val a = TDigestSketch(100)
    val b = TDigestSketch(100)
    (0 until 10000).foreach(_ => a.add(rnd.next() * 0.5))
    (0 until 10000).foreach(_ => b.add(0.5 + rnd.next() * 0.5))
    val m = TDigestSketch.fromBytes(a.toBytes).mergeInPlace(b)
    assert(m.count === 20000.0)
    Seq(0.1, 0.25, 0.5, 0.75, 0.9).foreach { q =>
      assert(math.abs(m.quantile(q) - q) < 0.05, s"quantile($q)=${m.quantile(q)}")
    }
    assert(m.quantile(0) === math.min(a.minValue, b.minValue))
    assert(m.quantile(1) === math.max(a.maxValue, b.maxValue))
  }

  test("corrected merge does not drop single-value digests (reference bug)") {
    val a = TDigestSketch(100); a.add(1.0)
    val b = TDigestSketch(100); b.add(2.0)
    val m = a.mergeInPlace(b)
    assert(m.count === 2.0) // reference union would report 1
    assert(m.quantile(0) === 1.0)
    assert(m.quantile(1) === 2.0)
  }

  test("normal-distribution quantiles within EPS=0.05 (t-digest.test.js:42-84 parity)") {
    // Box–Muller over the shared LCG; reference asserts the standard normal
    // quantile targets at 0.05 absolute tolerance on 10k samples
    val rnd = new Golden.Lcg(77)
    def gauss(): Double = {
      val u1 = math.max(rnd.next(), 1e-12)
      val u2 = rnd.next()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    Seq(TDigestSketch(100), TDigestSketch.fast(100)).foreach { td =>
      (0 until 10000).foreach(_ => td.add(gauss()))
      val targets = Seq(0.1 -> -1.28155, 0.25 -> -0.67449, 0.5 -> 0.0,
        0.75 -> 0.67449, 0.9 -> 1.28155)
      targets.foreach { case (q, e) =>
        assert(math.abs(td.quantile(q) - e) < 0.05, s"q=$q got ${td.quantile(q)}")
        assert(math.abs(td.cdf(e) - q) < 0.05, s"cdf($e) got ${td.cdf(e)}")
      }
    }
  }

  test("quantile and cdf are monotonic") {
    val rnd = new Golden.Lcg(1234)
    val td = TDigestSketch(100)
    (0 until 8000).foreach(_ => td.add(math.log(1e-9 + rnd.next()) * -3))
    var prev = Double.NegativeInfinity
    (0 to 100).foreach { i =>
      val v = td.quantile(i / 100.0)
      assert(v >= prev, s"quantile not monotonic at ${i / 100.0}")
      prev = v
    }
    var prevC = -1.0
    val lo = td.minValue; val hi = td.maxValue
    (0 to 100).foreach { i =>
      val c = td.cdf(lo + (hi - lo) * i / 100.0)
      assert(c >= prevC, s"cdf not monotonic at $i")
      prevC = c
    }
  }

  test("merge tree associativity within rank-error tolerance") {
    val rnd = new Golden.Lcg(555)
    val parts = (0 until 8).map { _ =>
      val td = TDigestSketch(100)
      (0 until 2500).foreach(_ => td.add(rnd.next()))
      td
    }
    // left fold vs pairwise tree
    val left = parts.map(p => TDigestSketch.fromBytes(p.toBytes))
      .reduceLeft((a, b) => a.mergeInPlace(b))
    def tree(xs: Seq[TDigestSketch]): TDigestSketch =
      if (xs.size == 1) xs.head
      else tree(xs.grouped(2).map {
        case Seq(a, b) => a.mergeInPlace(b)
        case Seq(a)    => a
      }.toSeq)
    val right = tree(parts.map(p => TDigestSketch.fromBytes(p.toBytes)))
    Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99).foreach { q =>
      assert(math.abs(left.quantile(q) - right.quantile(q)) < 0.02,
        s"merge-order quantile drift at $q")
      assert(math.abs(left.quantile(q) - q) < 0.03, s"merged accuracy at $q")
    }
  }

  test("lazy buffer growth is arithmetic-neutral (grown == preallocated)") {
    // round-6 optimization: backing arrays are allocated lazily and grown
    // geometrically; logical sizes (compaction cadence) are unchanged, so a
    // digest that grows its buffers must serialize bit-identically to one
    // whose buffers were preallocated at full size (the pre-r6 behavior).
    def vals(n: Int): Seq[Double] =
      (0 until n).map(i => math.sin(i * 0.7919) * 1000.0 + i % 37)
    Seq((100, 5000), (1000, 20000), (32768, 20000)).foreach { case (nc, n) =>
      val grownDigest = TDigestSketch.fast(nc)
      val prealloc = TDigestSketch.fast(nc)
      prealloc.ensureCentroidCap(Int.MaxValue) // full 2*nc upfront, as before r6
      vals(n).foreach { v => grownDigest.add(v); prealloc.add(v) }
      assert(grownDigest.toBytes.toSeq == prealloc.toBytes.toSeq, s"nc=$nc n=$n")
      Seq(0.0, 0.1, 0.5, 0.9, 1.0).foreach { q =>
        assert(grownDigest.quantile(q) == prealloc.quantile(q), s"q=$q nc=$nc")
        assert(grownDigest.cdf(500.0) == prealloc.cdf(500.0), s"cdf nc=$nc")
      }
      // the one-pass merge exercises growth across both operands
      val m1 = TDigestSketch.fast(nc)
      val m2 = TDigestSketch.fast(nc)
      vals(n).zipWithIndex.foreach { case (v, i) =>
        (if (i % 2 == 0) m1 else m2).add(v)
      }
      val merged = m1.mergeInPlace(m2)
      val mPre = TDigestSketch.fast(nc); mPre.ensureCentroidCap(Int.MaxValue)
      val m2b = TDigestSketch.fast(nc)
      vals(n).zipWithIndex.foreach { case (v, i) =>
        (if (i % 2 == 0) mPre else m2b).add(v)
      }
      assert(merged.toBytes.toSeq == mPre.mergeInPlace(m2b).toBytes.toSeq,
        s"merge growth parity nc=$nc")
    }
  }
}
