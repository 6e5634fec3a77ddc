package graft.sketch

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Partition-invariance properties: sketch(all rows) == merge(sketch(shard_i))
  * under arbitrary splits — the property that makes the sketches correct
  * under Spark's partial/final aggregation (SURVEY.md §5.3).
  *
  * Drives ScalaCheck generators directly with fixed seeds (the
  * scalatest-scalacheck bridge artifact is not in the offline cache).
  */
class MergePropertiesSpec extends AnyFunSuite {

  private def forAll[A, B](ga: Gen[A], gb: Gen[B], trials: Int = 80)(f: (A, B) => Unit): Unit = {
    var seed = Seed(42L)
    (0 until trials).foreach { _ =>
      val a = ga(Gen.Parameters.default, seed)
      seed = seed.next
      val b = gb(Gen.Parameters.default, seed)
      seed = seed.next
      for (x <- a; y <- b) f(x, y)
    }
  }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val values: Gen[List[String]] =
    Gen.listOf(Gen.chooseNum(0, 40).map(i => s"v$i"))

  private val splitPoint: Gen[Double] = Gen.chooseNum(0.0, 1.0)

  test("Bloom: partition invariance is exact (bitwise)") {
    forAll(values, splitPoint) { (vs: List[String], p: Double) =>
      val cut = (vs.size * p).toInt
      val whole = BloomSketch(512, 3)
      vs.foreach(whole.add)
      val a = BloomSketch(512, 3); val b = BloomSketch(512, 3)
      vs.take(cut).foreach(a.add); vs.drop(cut).foreach(b.add)
      assert(a.unionInPlace(b).words.toSeq == whole.words.toSeq)
    }
  }

  test("CMS: partition invariance is exact") {
    forAll(values, splitPoint) { (vs: List[String], p: Double) =>
      val cut = (vs.size * p).toInt
      val whole = CmsSketch(101, 3)
      vs.foreach(v => whole.add(v))
      val a = CmsSketch(101, 3); val b = CmsSketch(101, 3)
      vs.take(cut).foreach(v => a.add(v)); vs.drop(cut).foreach(v => b.add(v))
      val m = a.mergeInPlace(b)
      assert(m.table.toSeq == whole.table.toSeq && m.num == whole.num)
    }
  }

  test("NGram: partition invariance is exact") {
    val texts = Gen.listOf(Gen.alphaLowerStr.map(_.take(12)))
    forAll(texts, splitPoint) { (vs: List[String], p: Double) =>
      val cut = (vs.size * p).toInt
      val whole = NGramSketch()
      vs.foreach(whole.add)
      val a = NGramSketch(); val b = NGramSketch()
      vs.take(cut).foreach(a.add); vs.drop(cut).foreach(b.add)
      assert(a.mergeInPlace(b).counts.toMap == whole.counts.toMap)
    }
  }

  test("HLL: partition invariance is exact (register semilattice)") {
    forAll(values, splitPoint) { (vs: List[String], p: Double) =>
      val cut = (vs.size * p).toInt
      val whole = HllSketch(8)
      vs.foreach(whole.add)
      val a = HllSketch(8); val b = HllSketch(8)
      vs.take(cut).foreach(a.add); vs.drop(cut).foreach(b.add)
      assert(a.mergeInPlace(b).toBytes.toSeq == whole.toBytes.toSeq)
    }
  }

  test("CMS merge commutativity") {
    forAll(values, values) { (xs: List[String], ys: List[String]) =>
      val a1 = CmsSketch(101, 3); xs.foreach(v => a1.add(v))
      val b1 = CmsSketch(101, 3); ys.foreach(v => b1.add(v))
      val a2 = CmsSketch(101, 3); xs.foreach(v => a2.add(v))
      val b2 = CmsSketch(101, 3); ys.foreach(v => b2.add(v))
      assert(a1.mergeInPlace(b1).table.toSeq == b2.mergeInPlace(a2).table.toSeq)
    }
  }

  test("empty sketch is a merge identity for every structure") {
    val vs = (0 until 100).map(i => s"id$i")
    val bl = BloomSketch(512, 3); vs.foreach(bl.add)
    assert(bl.copy().unionInPlace(BloomSketch(512, 3)).words.toSeq == bl.words.toSeq)
    val cm = CmsSketch(101, 3); vs.foreach(v => cm.add(v))
    val cmM = CmsSketch.fromBytes(cm.toBytes).mergeInPlace(CmsSketch(101, 3))
    assert(cmM.table.toSeq == cm.table.toSeq)
    val hl = HllSketch(); vs.foreach(hl.add)
    assert(HllSketch.fromBytes(hl.toBytes).mergeInPlace(HllSketch()).toBytes.toSeq == hl.toBytes.toSeq)
    val td = TDigestSketch(); vs.indices.foreach(i => td.add(i))
    val tdM = TDigestSketch.fromBytes(td.toBytes).mergeInPlace(TDigestSketch())
    assert(tdM.count == td.count && tdM.quantile(0.5) == td.quantile(0.5))
    val kl = KllSketch(); vs.indices.foreach(i => kl.add(i))
    val klM = KllSketch.fromBytes(kl.toBytes).mergeInPlace(KllSketch())
    assert(klM.totalN == kl.totalN && klM.quantileLower(0.5) == kl.quantileLower(0.5))
    val ss = SpaceSavingSketch(10); vs.take(8).foreach(v => ss.add(v))
    val ssM = SpaceSavingSketch.fromBytes(ss.toBytes).mergeInPlace(SpaceSavingSketch(10))
    // tie order within an equal-count bucket may differ after rebuild;
    // counts/errors must be identical
    assert(ssM.topK().sorted == ss.topK().sorted)
    val ng = NGramSketch(); ng.add("hello world")
    assert(NGramSketch.fromBytes(ng.toBytes).mergeInPlace(NGramSketch()).counts == ng.counts)
  }

  test("TDigest/KLL: split-and-merge stays within rank-error tolerance") {
    val doubleLists = Gen.listOfN(400, Gen.chooseNum(0.0, 1.0))
    forAll(doubleLists, splitPoint) { (vs: List[Double], p: Double) =>
      whenever(vs.size > 50) {
        val cut = math.max(1, (vs.size * p).toInt)
        val whole = TDigestSketch(100); vs.foreach(v => whole.add(v))
        val a = TDigestSketch(100); val b = TDigestSketch(100)
        vs.take(cut).foreach(v => a.add(v)); vs.drop(cut).foreach(v => b.add(v))
        val m = a.mergeInPlace(b)
        assert(m.count == whole.count)
        Seq(0.25, 0.5, 0.75).foreach { q =>
          assert(math.abs(m.quantile(q) - whole.quantile(q)) < 0.08,
            s"q=$q merged=${m.quantile(q)} whole=${whole.quantile(q)}")
        }
        val kw = KllSketch(200); vs.foreach(kw.add)
        val ka = KllSketch(200); val kb = KllSketch(200)
        vs.take(cut).foreach(ka.add); vs.drop(cut).foreach(kb.add)
        val km = ka.mergeInPlace(kb)
        assert(km.totalN == kw.totalN)
        Seq(0.25, 0.5, 0.75).foreach { q =>
          assert(math.abs(km.cdf(km.quantileLower(q)) - q) < 0.05)
        }
      }
    }
  }

  test("TDigest: folded decoded partials keep rank error <= 0.005 (approximate regime)") {
    // 16 partials of 40k values each at nc = 100, built as the Spark value
    // aggregate builds them (`fast`), encoded, decoded, then folded as the
    // merge aggregates fold them; ranks are read off the exact sorted data
    val parts = 16; val perPart = 40000
    for (seed <- 1 to 10; dist <- Seq("normal", "lognormal")) {
      val rnd = new scala.util.Random(seed)
      val data = Array.fill(parts * perPart) {
        val g = rnd.nextGaussian()
        if (dist == "normal") g else math.exp(g)
      }
      val merged = data.grouped(perPart).map { chunk =>
        val td = TDigestSketch.fast(100)
        chunk.foreach(v => td.add(v))
        TDigestSketch.fromBytes(td.toBytes)
      }.reduceLeft(_ mergeInPlace _)
      java.util.Arrays.sort(data)
      Seq(0.01, 0.1, 0.5, 0.9, 0.99).foreach { q =>
        val v = merged.quantile(q)
        var lo = 0; var hi = data.length // values <= v
        while (lo < hi) { val mid = (lo + hi) >>> 1; if (data(mid) <= v) lo = mid + 1 else hi = mid }
        val err = math.abs(lo.toDouble / data.length - q)
        assert(err <= 0.005, s"seed=$seed $dist q=$q rank error $err")
      }
    }
  }
}
