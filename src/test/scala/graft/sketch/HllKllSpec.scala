package graft.sketch

import org.scalatest.funsuite.AnyFunSuite

/** HLL++ and KLL have no reference implementation to golden against
  * (SURVEY.md gap note) — they are verified against their published error
  * bounds: HLL ±1.04/√m std error (Flajolet/Heule), KLL ~O(1/k) rank error
  * (Karnin/Lang/Liberty). Spark's own approx_count_distinct/approx_percentile
  * serve as secondary oracles in the Spark integration suite.
  */
class HllKllSpec extends AnyFunSuite {

  test("HLL sparse phase is near-exact for small cardinalities") {
    (Seq(0, 1, 10, 100, 1000, 3000)).foreach { n =>
      val h = HllSketch()
      (0 until n).foreach(i => h.add(s"item-$i"))
      assert(h.isSparse, s"n=$n should still be sparse")
      assert(math.abs(h.cardinality - n) <= math.max(1, n / 200), s"n=$n est=${h.cardinality}")
    }
  }

  test("HLL dense error within 3x published std error across seeds") {
    val m = 1 << HllSketch.DefaultP
    val bound = 3 * 1.04 / math.sqrt(m)
    Seq(50000, 200000, 1000000).foreach { n =>
      var worst = 0.0
      (0 until 3).foreach { seed =>
        val h = HllSketch()
        (0 until n).foreach(i => h.add(s"s$seed-item-$i"))
        assert(!h.isSparse)
        val rel = math.abs(h.estimate - n) / n
        worst = math.max(worst, rel)
      }
      assert(worst < bound, s"n=$n worst rel err $worst >= $bound")
    }
  }

  test("HLL++ bias correction holds in the crossover region (Heule 2013 §5)") {
    // p=14: crossover 2.5m..5m = 40960..81920 distinct, where raw-HLL bias
    // peaks (several %) and neither linear counting nor raw estimation is
    // reliable; the kNN-interpolated correction must keep |rel err| well
    // under the raw bias — we assert < 2x the 0.81% std error.
    val p = 14
    val m = 1 << p
    for (n <- Seq((2.6 * m).toInt, (3.5 * m).toInt, (4.5 * m).toInt)) {
      val h = HllSketch(p)
      (0 until n).foreach(i => h.addLong(i.toLong * 7919 + n))
      val rel = math.abs(h.estimate - n) / n
      assert(rel < 2 * 1.04 / math.sqrt(m), s"n=$n est=${h.estimate} rel=$rel")
      // and the correction is actually engaged: the uncorrected raw path
      // (bias re-added) must sit further from the truth or equal
      val raw = h.estimate + HllBias.estimateBias(h.estimate, p)
      assert(math.abs(h.estimate - n) <= math.abs(raw - n) + 1e-9,
        s"corrected ${h.estimate} should not be worse than raw $raw for n=$n")
    }
  }

  test("addUtf8 byte path == add(String) path: HLL all UTF-8, Bloom ASCII + fallback") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val values = Seq("conv-00001234", "tool_07", "", "a", "héllo wörld", "日本語テスト", "mixed-ascii-日本")
    val hs = HllSketch(); val hb = HllSketch()
    values.foreach(hs.add)
    values.foreach(v => hb.addUtf8(v.getBytes(utf8)))
    assert(hs.toBytes.toSeq == hb.toBytes.toSeq, "HLL byte/string state parity")
    val bs = BloomSketch(4096, 5); val bb = BloomSketch(4096, 5)
    values.foreach(bs.add)
    values.foreach(v => bb.addUtf8(v.getBytes(utf8)))
    assert(bs.words.toSeq == bb.words.toSeq, "Bloom byte/string state parity (ASCII fast path + UTF-8 fallback)")
    values.foreach(v => assert(bb.query(v), s"membership through byte-add: $v"))
    // the memory entry point the aggregates use, at an offset into a larger array
    val bm = BloomSketch(4096, 5)
    values.foreach { v =>
      val bytes = v.getBytes(utf8)
      val big = new Array[Byte](bytes.length + 11)
      System.arraycopy(bytes, 0, big, 7, bytes.length)
      bm.addUtf8Memory(big, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + 7L, bytes.length)
    }
    assert(bm.words.toSeq == bs.words.toSeq, "Bloom memory/string state parity")
  }

  test("HLL addLong and add(string) both distribute") {
    val h = HllSketch()
    (0L until 100000L).foreach(h.addLong)
    val rel = math.abs(h.estimate - 100000) / 100000.0
    assert(rel < 3 * 1.04 / math.sqrt(1 << 14), s"rel=$rel")
  }

  test("HLL merge == sketch of union, in all mode combinations") {
    def mk(lo: Int, hi: Int): HllSketch = {
      val h = HllSketch(12)
      (lo until hi).foreach(i => h.add(s"u-$i"))
      h
    }
    // sparse + sparse
    val ss = mk(0, 200).mergeInPlace(mk(100, 300))
    val ssWhole = mk(0, 300)
    assert(ss.toBytes.toSeq == ssWhole.toBytes.toSeq, "sparse+sparse state parity")
    // dense + dense (force past promotion threshold: m=4096, m>>2=1024 entries)
    val dd = mk(0, 3000).mergeInPlace(mk(2000, 6000))
    val ddWhole = mk(0, 6000)
    assert(!dd.isSparse && !ddWhole.isSparse)
    assert(dd.toBytes.toSeq == ddWhole.toBytes.toSeq, "dense+dense state parity")
    // sparse + dense
    val sd = mk(0, 200).mergeInPlace(mk(100, 6000))
    assert(sd.toBytes.toSeq == ddWhole.mergeInPlace(mk(0, 200)).toBytes.toSeq ||
      math.abs(sd.estimate - 6000) / 6000.0 < 0.05)
    // associativity is exact: register-max is a semilattice
    val a = mk(0, 100); val b = mk(50, 150); val c = mk(120, 5000)
    val left = HllSketch.fromBytes(a.toBytes).mergeInPlace(b).mergeInPlace(c)
    val right = HllSketch.fromBytes(a.toBytes)
      .mergeInPlace(HllSketch.fromBytes(b.toBytes).mergeInPlace(c))
    assert(left.toBytes.toSeq == right.toBytes.toSeq, "merge associativity")
  }

  test("HLL set algebra: inclusion–exclusion intersection/Jaccard within union-relative bound") {
    def serialize(lo: Int, hi: Int): Array[Byte] = {
      val h = HllSketch()
      (lo until hi).foreach(i => h.add(s"user-$i"))
      h.toBytes
    }
    // tolerance: inclusion–exclusion error is bounded by the union
    // estimate's error, so 3σ relative to |A∪B| (+1 for sparse rounding)
    def check(aLo: Int, aHi: Int, bLo: Int, bHi: Int): Unit = {
      val a = serialize(aLo, aHi); val b = serialize(bLo, bHi)
      val union = math.max(aHi, bHi) - math.min(aLo, bLo)
      val inter = math.max(0, math.min(aHi, bHi) - math.max(aLo, bLo))
      val tol = 3 * 1.04 / math.sqrt((1 << HllSketch.DefaultP).toDouble) * union + 1
      val (u, i, j) = HllSketch.setAlgebra(a, b)
      assert(math.abs(u - union) <= tol, s"union est $u vs $union (tol $tol)")
      assert(math.abs(i - inter) <= tol, s"inter est $i vs $inter (tol $tol)")
      assert(math.abs(j - inter.toDouble / union) <= 3 * 1.04 /
        math.sqrt((1 << HllSketch.DefaultP).toDouble) + 0.01, s"jaccard est $j")
      // one-shot accessors agree with the single-pass tuple
      assert(u == HllSketch.unionEstimate(a, b)
        && i == HllSketch.intersectionEstimate(a, b)
        && j == HllSketch.jaccardEstimate(a, b), "accessor parity")
      // setAlgebra merges a FRESH copy — operands unchanged, calls repeatable
      assert(HllSketch.setAlgebra(a, b) == ((u, i, j)), "operands must not be mutated")
    }
    check(0, 1000, 500, 1500)        // sparse, 1/3 overlap
    check(0, 2000, 2000, 4000)       // sparse, disjoint (inter clamped >= 0)
    check(0, 200000, 100000, 300000) // dense, 1/3 overlap
    check(0, 500, 0, 500)            // identical sets: jaccard ~ 1
  }

  test("HLL codec round-trips in both modes") {
    val sp = HllSketch(); (0 until 50).foreach(i => sp.add(s"x$i"))
    assert(HllSketch.fromBytes(sp.toBytes).toBytes.toSeq == sp.toBytes.toSeq)
    assert(HllSketch.fromBytes(sp.toBytes).estimate === sp.estimate)
    val de = HllSketch(10); (0 until 50000).foreach(i => de.add(s"y$i"))
    assert(!de.isSparse)
    assert(HllSketch.fromBytes(de.toBytes).toBytes.toSeq == de.toBytes.toSeq)
  }

  test("HLL sparse decode rejects an out-of-range index or rho with a typed error") {
    // one sparse entry: header, p = 14, mode 1, count 1, (index, rho)
    def sparseCell(idx: Int, rho: Byte): Array[Byte] = {
      val bb = graft.sketch.core.Codec.writer(3 + 4 + 1 + 4 + 5, graft.sketch.core.Codec.TagHll)
      bb.putInt(14).put(1.toByte).putInt(1).putInt(idx).put(rho)
      bb.array()
    }
    val dense = HllSketch(); (0 until 20000).foreach(i => dense.add(s"d$i"))
    assert(!dense.isSparse)
    for ((idx, rho) <- Seq((0x7FFFFFFF, 3), (1 << 25, 3), (-1, 3), (5, 0), (5, 41), (5, -7))) {
      val e = intercept[IllegalArgumentException](HllSketch.fromBytes(sparseCell(idx, rho.toByte)))
      assert(e.getMessage.startsWith(s"corrupt sketch (tag ${graft.sketch.core.Codec.TagHll}) at offset 12"),
        s"index $idx rho $rho: $e")
    }
    // the range ends decode exactly as before and fold into a dense sketch
    for ((idx, rho) <- Seq((0, 1), ((1 << 25) - 1, 40))) {
      val bytes = sparseCell(idx, rho.toByte)
      val s = HllSketch.fromBytes(bytes)
      assert(s.isSparse && s.toBytes.toSeq == bytes.toSeq)
      HllSketch.fromBytes(dense.toBytes).mergeInPlace(s)
    }
  }

  test("HLL dense decode rejects an unknown mode or an out-of-range register with a typed error") {
    import graft.sketch.core.Codec
    // header, p = 10, mode, 1024 registers with register 700 set to `rho`
    def denseCell(mode: Byte, rho: Byte): Array[Byte] = {
      val bb = Codec.writer(3 + 4 + 1 + 1024, Codec.TagHll)
      bb.putInt(10).put(mode)
      val regs = Array.fill[Byte](1024)(3); regs(700) = rho
      bb.put(regs)
      bb.array()
    }
    def corruptAt(bytes: Array[Byte], offset: Int): Unit = {
      val e = intercept[IllegalArgumentException](HllSketch.fromBytes(bytes))
      assert(e.getMessage.startsWith(s"corrupt sketch (tag ${Codec.TagHll}) at offset $offset"), e)
    }
    for (mode <- Seq(2, -1, 7)) corruptAt(denseCell(mode.toByte, 3), 7)
    for (rho <- Seq(56, 64, 127, -1)) corruptAt(denseCell(0, rho.toByte), 8 + 700)
    // the range ends decode exactly as before and merge
    for (rho <- Seq(0, 55)) {
      val bytes = denseCell(0, rho.toByte)
      val s = HllSketch.fromBytes(bytes)
      assert(!s.isSparse && s.toBytes.toSeq == bytes.toSeq)
      val sp = HllSketch(10); sp.add("x")
      sp.mergeInPlace(s)
      assert(sp.estimate > 0)
    }
  }

  test("KLL is exact before any compaction") {
    val k = KllSketch(200)
    val vals = (1 to 150).map(_.toDouble)
    new scala.util.Random(5).shuffle(vals).foreach(k.add)
    assert(k.totalN == 150)
    // inverse-CDF rule: rank ceil(q*n), matching SQL quantile_disc
    Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.99, 1.0).foreach { q =>
      val exact =
        if (q <= 0) 1.0 else vals.sorted.apply(math.ceil(q * 150).toInt - 1)
      assert(k.quantileLower(q) == exact, s"q=$q got ${k.quantileLower(q)} want $exact")
    }
    assert(k.minValue == 1.0 && k.maxValue == 150.0)
  }

  test("KLL rank error within bound at 100k items") {
    val rnd = new Golden.Lcg(2024)
    val k = KllSketch(200)
    val n = 100000
    (0 until n).foreach(_ => k.add(rnd.next()))
    assert(k.totalN == n)
    // uniform(0,1): true rank of value v is ~v; bound ~2.5/k single-sided
    Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99).foreach { q =>
      val est = k.quantileLower(q)
      assert(math.abs(est - q) < 0.025, s"q=$q est=$est")
      assert(math.abs(k.cdf(q) - q) < 0.025, s"cdf($q)=${k.cdf(q)}")
    }
    assert(k.quantileLower(0.0) == k.minValue)
    assert(k.quantileLower(1.0) == k.maxValue)
  }

  test("KLL merge accuracy and weight conservation across merge trees") {
    val rnd = new Golden.Lcg(31337)
    val parts = (0 until 16).map { _ =>
      val k = KllSketch(200)
      (0 until 10000).foreach(_ => k.add(rnd.next()))
      k
    }
    val left = parts.map(p => KllSketch.fromBytes(p.toBytes)).reduceLeft(_.mergeInPlace(_))
    assert(left.totalN == 160000L)
    def tree(xs: Seq[KllSketch]): KllSketch =
      if (xs.size == 1) xs.head
      else tree(xs.grouped(2).map { case Seq(a, b) => a.mergeInPlace(b); case Seq(a) => a }.toSeq)
    val t = tree(parts.map(p => KllSketch.fromBytes(p.toBytes)))
    assert(t.totalN == 160000L)
    Seq(0.1, 0.5, 0.9).foreach { q =>
      assert(math.abs(left.quantileLower(q) - q) < 0.03, s"left q=$q")
      assert(math.abs(t.quantileLower(q) - q) < 0.03, s"tree q=$q")
    }
    // retained size stays bounded (~3k for k=200 regardless of n)
    assert(left.toBytes.length < 40000, s"size ${left.toBytes.length}")
  }

  test("KLL codec round-trips") {
    val k = KllSketch(200)
    (0 until 50000).foreach(i => k.add(i.toDouble))
    val back = KllSketch.fromBytes(k.toBytes)
    assert(back.totalN == k.totalN)
    assert(back.quantileLower(0.5) == k.quantileLower(0.5))
    assert(back.toBytes.toSeq == k.toBytes.toSeq)
  }
}
