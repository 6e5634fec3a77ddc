package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

import graft.sketch.agg.SketchQueries.ExactRegime

/** The exact-regime sizing rule the sketch queries' oracles rely on
  * (graft.sketch.agg.SketchQueries' header), checked on the sketches
  * themselves at the config those queries use, without Spark.
  */
class ExactRegimeSpec extends AnyFunSuite {

  test("t-digest keeps one centroid per value through partials, merge and codec") {
    val n = 150000
    assert(ExactRegime.tdigestCentroids > math.Pi * n / 2)
    val vals = new scala.util.Random(7).shuffle((0 until n).map(_ * 0.25))
    val parts = vals.grouped(n / 8).map { chunk =>
      val td = TDigestSketch.fast(ExactRegime.tdigestCentroids)
      chunk.foreach(td.add(_))
      TDigestSketch.fromBytes(td.toBytes)
    }.toSeq
    assert(parts.size == 8)
    val merged = TDigestSketch.fast(ExactRegime.tdigestCentroids)
    parts.foreach(merged.mergeInPlace)
    val (means, weights) = TDigestSketch.fromBytes(merged.toBytes).centroids
    assert(means.length == n)
    assert(weights.forall(_ == 1.0))
    assert(means.toSeq == vals.sorted)
  }

  test("KLL below k keeps one level, so its quantiles are order statistics") {
    val n = ExactRegime.kllK - 1
    val vals = new scala.util.Random(11).shuffle((1 to n).map(_.toDouble))
    val k = KllSketch(ExactRegime.kllK)
    vals.foreach(k.add)
    assert(k.levels.length == 1)
    assert(k.totalN == n)
    Seq(0.25, 0.5, 0.75, 0.99).foreach { q =>
      assert(k.quantileLower(q) == math.ceil(q * n), s"q=$q")
    }
  }

  test("HLL at the exact-regime precision stays inside q_hll_global_users_estimate's 1% gate") {
    val n = 15000
    val h = HllSketch(ExactRegime.hllP)
    (0L until n).foreach(h.addLong)
    assert(h.isSparse)
    assert(math.abs(h.cardinality - n) <= math.max(1, n / 100), s"estimate ${h.cardinality}")
  }
}
