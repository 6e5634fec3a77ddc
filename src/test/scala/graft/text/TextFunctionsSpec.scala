package graft.text

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.scalatest.funsuite.AnyFunSuite

/** Text-pipeline operators: MinHash estimate accuracy vs exact Jaccard,
  * SimHash locality, merge semantics, language-ID on real sentences, and the
  * deterministic scoring/counting functions.
  */
class TextFunctionsSpec extends AnyFunSuite {

  private def shingles(s: String, w: Int = 5): Set[String] = {
    val t = s.toLowerCase(java.util.Locale.ROOT)
    (0 to t.length - w).map(i => t.substring(i, i + w)).toSet
  }
  private def exactJaccard(a: String, b: String): Double = {
    val sa = shingles(a); val sb = shingles(b)
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest before nightfall comes around"

  test("MinHash: identical texts have identical signatures (est = 1.0)") {
    val a = MinHashSketch.ofText(base)
    val b = MinHashSketch.ofText(base)
    assert(a.sig.toSeq == b.sig.toSeq)
    assert(a.estJaccard(b) == 1.0)
  }

  test("MinHash estimate tracks exact Jaccard within ~2/sqrt(k)") {
    val variants = Seq(
      base,
      base.replace("quick", "quack"),
      base.replace("fox", "cat").replace("dog", "wolf"),
      base.take(60),
      "completely different content about spark aggregation pipelines and sketches")
    val k = 256
    val tol = 2.0 / math.sqrt(k)
    for (x <- variants; y <- variants) {
      val est = MinHashSketch.ofText(x, k).estJaccard(MinHashSketch.ofText(y, k))
      val exact = exactJaccard(x, y)
      assert(math.abs(est - exact) <= tol + 0.02, s"est=$est exact=$exact\n x=$x\n y=$y")
    }
  }

  test("MinHash merge == signature of concatenated text (set union)") {
    val a = MinHashSketch.ofText("alpha beta gamma delta epsilon zeta", 128)
    val b = MinHashSketch.ofText("eta theta iota kappa lambda mu nu xi", 128)
    val u = MinHashSketch.fromBytes(a.toBytes).mergeInPlace(b)
    val direct = MinHashSketch(128)
    direct.addText("alpha beta gamma delta epsilon zeta", 5)
    direct.addText("eta theta iota kappa lambda mu nu xi", 5)
    assert(u.sig.toSeq == direct.sig.toSeq, "merge == union of shingle sets")
  }

  test("MinHash band keys: identical sigs share all bands; dissimilar share none") {
    val a = MinHashSketch.ofText(base)
    val b = MinHashSketch.ofText(base)
    val c = MinHashSketch.ofText("unrelated words entirely disjoint vocabulary paragraph")
    assert(a.bandKeys(16).toSeq == b.bandKeys(16).toSeq)
    assert(a.bandKeys(16).toSet.intersect(c.bandKeys(16).toSet).isEmpty)
  }

  test("SimHash: small edits => small hamming; different texts => large") {
    val a = SimHash.ofText(base)
    val aEdit = SimHash.ofText(base.replace("quick", "quack"))
    val other = SimHash.ofText(
      "spark catalyst optimizer pushes filters below the aggregation boundary always")
    def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(hamming(a, a) == 0)
    assert(hamming(a, aEdit) <= 14, s"edit dist ${hamming(a, aEdit)}")
    assert(hamming(a, other) > 14, s"unrelated dist ${hamming(a, other)}")
  }

  test("language ID recognizes stopword profiles and CJK script") {
    assert(TextFunctions.langId("the cat sat on the mat and it was happy there") == "en")
    assert(TextFunctions.langId("der Hund und die Katze sind nicht mit dem Auto gefahren") == "de")
    assert(TextFunctions.langId("le chat est dans la maison et il ne veut pas sortir") == "fr")
    assert(TextFunctions.langId("el perro es grande y la casa es de madera para todos") == "es")
    assert(TextFunctions.langId("今天天气很好我们一起去公园散步吧") == "zh")
    assert(TextFunctions.langId("") == "und")
    assert(TextFunctions.langId("zzz qqq xxx www") == "und")
  }

  test("token counts and quality are deterministic and sane") {
    assert(TextFunctions.bpeishCount("hello, world42") == 4) // hello , world 42
    val good = TextFunctions.qualityScore(base)
    val bad = TextFunctions.qualityScore("aa aa aa aa aa aa aa aa")
    assert(good > bad)
    assert(good >= 0 && good <= 1)
  }

  test("fingerprint is reflow-stable and collision-distinct") {
    val f1 = TextFunctions.fingerprint("Hello   World  foo")
    val f2 = TextFunctions.fingerprint("hello world foo")
    assert(f1 == f2, "whitespace/case normalization")
    assert(TextFunctions.fingerprint("hello world foo!") != f1)
  }

  test("cosine similarity basics") {
    assert(TextFunctions.cosine(Seq(1f, 0f), Seq(1f, 0f)) === 1.0)
    assert(TextFunctions.cosine(Seq(1f, 0f), Seq(0f, 1f)) === 0.0)
    assert(math.abs(TextFunctions.cosine(Seq(1f, 1f), Seq(1f, 0f)) - math.sqrt(0.5)) < 1e-12)
  }

  test("minKShingleHashes: deterministic bottom-k with the KMV subset property") {
    val a = "the quick brown fox jumps over the lazy dog and keeps on running far"
    val b = a.replace("jumps", "leaps") // near-duplicate
    val ka = TextFunctions.minKShingleHashes(a, 5, 12)
    assert(ka.toSeq == TextFunctions.minKShingleHashes(a, 5, 12).toSeq, "deterministic")
    assert(ka.length == 12 && ka.toSeq == ka.sorted.toSeq && ka.distinct.length == 12)
    // case-insensitive like exactShingleJaccard
    assert(TextFunctions.minKShingleHashes(a.toUpperCase, 5, 12).toSeq == ka.toSeq)
    // subset property behind the recall bound: every bottom-k hash of the
    // UNION that belongs to a doc is in that doc's own bottom-k — so a
    // union-bottom-k hash in the intersection is a shared blocking key
    val kb = TextFunctions.minKShingleHashes(b, 5, 12).toSet
    // the subset law, tested directly on the two docs' full hash sets:
    // bottom-k of the union of hash sets, restricted to each doc's set
    def allHashes(t: String): Set[Long] = {
      val lo = t.toLowerCase(java.util.Locale.ROOT)
      (0 to lo.length - 5).map(i => lo.substring(i, i + 5)).distinct
        .map(g => TextFunctions.minKShingleHashes(g, 5, 1).head).toSet
    }
    val ha = allHashes(a); val hb = allHashes(b)
    val unionBottomK = (ha ++ hb).toSeq.sorted.take(12)
    assert(unionBottomK.filter(ha).forall(ka.toSet), "union bottom-k ∩ A ⊆ bottom-k(A)")
    assert(unionBottomK.filter(hb).forall(kb), "union bottom-k ∩ B ⊆ bottom-k(B)")
    // and the near-dup pair therefore shares at least one key
    assert(ka.toSet.intersect(kb).nonEmpty, "near-duplicates share a blocking key")
    // degenerate inputs
    assert(TextFunctions.minKShingleHashes(null, 5, 12).isEmpty)
    assert(TextFunctions.minKShingleHashes("abc", 5, 12).isEmpty)
    assert(TextFunctions.minKShingleHashes(a, 5, 3).length == 3)
    assert(TextFunctions.minKShingleHashes("abcde", 5, 12).length == 1)
  }

  test("shingleHashes: the full distinct set, consistent with the KMV bottom-k") {
    val a = "the quick brown fox jumps over the lazy dog and keeps on running far"
    val all = TextFunctions.shingleHashes(a, 5)
    // one hash per DISTINCT lowercased shingle
    val lo = a.toLowerCase(java.util.Locale.ROOT)
    val distinctShingles = (0 to lo.length - 5).map(i => lo.substring(i, i + 5)).distinct
    assert(all.length == distinctShingles.length)
    assert(all.distinct.length == all.length, "hash collisions within one doc")
    // same hash/seed as minKShingleHashes: bottom-k == sorted full set take k
    assert(all.sorted.take(12).toSeq ==
      TextFunctions.minKShingleHashes(a, 5, 12).toSeq)
    assert(TextFunctions.shingleHashes(a.toUpperCase, 5).sorted.toSeq == all.sorted.toSeq)
    // prefix-filter lemma, checked directly on a true near-dup pair: with
    // tau = 0.8 and prefix length |X| - ceil(0.8|X|) + K under ANY fixed
    // total order (here: ascending hash), the pair shares >= min(K, alpha)
    // prefix elements
    val b = a.replace("dog", "dig") // single-char edit: J stays >= 0.8
    val hb = TextFunctions.shingleHashes(b, 5)
    val sa = all.toSet; val sb = hb.toSet
    val inter = sa.intersect(sb).size
    val jac = inter.toDouble / (sa.size + sb.size - inter)
    assert(jac >= 0.8, s"test pair must be a true near-dup, got J=$jac")
    val K = 12
    val alpha = math.ceil(0.8 * math.max(sa.size, sb.size)).toInt
    def prefix(h: Array[Long]): Set[Long] =
      h.sorted.take(h.length - (4 * h.length + 4) / 5 + K).toSet
    val shared = prefix(all).intersect(prefix(hb)).size
    assert(shared >= math.min(K, alpha),
      s"lemma violated: shared=$shared alpha=$alpha")
    assert(TextFunctions.shingleHashes(null, 5).isEmpty)
    assert(TextFunctions.shingleHashes("abc", 5).isEmpty)
  }

  test("idPairs enumerates each unordered pair once, sorted") {
    val ps = TextFunctions.idPairs(Array(5L, 1L, 9L))
    assert(ps.toSet == Set(TextFunctions.IdPair(1, 5), TextFunctions.IdPair(1, 9),
      TextFunctions.IdPair(5, 9)))
    assert(TextFunctions.idPairs(Array(7L)).isEmpty)
    assert(TextFunctions.idPairs(Array(1L, 2L, 3L, 4L)).length == 6)
  }

  test("taggedPairs: pairs carry each occupant's payload, no self-pairs") {
    // interleaved [id, tag, ...], deliberately unsorted by id
    val ps = TextFunctions.taggedPairs(Seq(5L, 50L, 1L, 10L, 9L, 90L))
    assert(ps.toSet == Set(
      TextFunctions.TaggedPair(1, 10, 5, 50),
      TextFunctions.TaggedPair(1, 10, 9, 90),
      TextFunctions.TaggedPair(5, 50, 9, 90)))
    assert(TextFunctions.taggedPairs(Seq(7L, 70L)).isEmpty)
    // duplicate id (same occupant seen twice) yields no self-pair, and the
    // surviving pairs still carry the right tags
    val dup = TextFunctions.taggedPairs(Seq(3L, 30L, 3L, 31L, 8L, 80L))
    assert(!dup.exists(p => p.id_a == p.id_b))
    assert(dup.forall(p => p.id_a == 3L && p.id_b == 8L && p.tag_b == 80L))
  }

  test("synthDoc: deterministic, variants differ in exactly SynthReplaced tokens") {
    val a1 = TextFunctions.synthDoc(42L, 0)
    val a2 = TextFunctions.synthDoc(42L, 0)
    assert(a1 == a2, "deterministic")
    val b = TextFunctions.synthDoc(42L, 1)
    val ta = a1.split(" "); val tb = b.split(" ")
    assert(ta.length == TextFunctions.SynthTokens && tb.length == TextFunctions.SynthTokens)
    assert(ta.zip(tb).count { case (x, y) => x != y } == TextFunctions.SynthReplaced)
    // cross-id docs share no tokens; SimHash separates planted pairs from
    // cross-id pairs with a wide margin (the q_simhash_near_dup invariant)
    val c = TextFunctions.synthDoc(43L, 0)
    assert(ta.toSet.intersect(c.split(" ").toSet).isEmpty)
    val near = java.lang.Long.bitCount(SimHash.ofText(a1) ^ SimHash.ofText(b))
    val far = java.lang.Long.bitCount(SimHash.ofText(a1) ^ SimHash.ofText(c))
    assert(near <= 8, s"planted pair hamming $near")
    assert(far >= 12, s"cross-id hamming $far")
  }

  test("CappedOccupantsAgg: cap invariant holds under adversarial merge trees (both strides)") {
    // Drive the capped aggregate's buffer contract directly: shard the input
    // randomly, reduce each shard into its own buffer, then collapse the
    // buffers with a RANDOM binary merge tree — the orders Spark's partial
    // merges may produce but an integration test can't force. Invariants:
    //   (1) the buffer never exceeds cap+1 occupants at any point;
    //   (2) overflow (cap+1 occupants) occurs iff more than cap occupants
    //       were ingested in total;
    //   (3) a non-overflowed bucket loses nothing: result multiset ==
    //       ingested multiset;
    //   (4) stride 2 keeps (id, tag) adjacency in every slot pair.
    val rnd = new scala.util.Random(4242L)
    val idsAgg = new CappedBucketAggSpec.Driven(CappedBucketAgg.Ids, 8)
    val tagAgg = new CappedBucketAggSpec.Driven(CappedBucketAgg.TaggedIds, 8)
    val cap = 8
    (0 until 300).foreach { trial =>
      val n = rnd.nextInt(3 * cap + 2) // straddles the cap boundary
      val ids = Seq.fill(n)(rnd.nextInt(1000).toLong)
      // random sharding (possibly empty shards)
      val nShards = 1 + rnd.nextInt(6)
      val shards = Array.fill(nShards)(List.newBuilder[Long])
      ids.foreach(v => shards(rnd.nextInt(nShards)) += v)
      def collapse[B](bufs: Seq[B], merge: (B, B) => B, count: B => Int): B = {
        val pool = scala.collection.mutable.ArrayBuffer(bufs: _*)
        while (pool.length > 1) {
          val i = rnd.nextInt(pool.length)
          val a = pool.remove(i)
          val j = rnd.nextInt(pool.length)
          val b = pool.remove(j)
          val m = merge(a, b)
          assert(count(m) <= cap + 1, s"trial $trial: buffer exceeded cap+1 occupants")
          pool += m
        }
        pool.head
      }
      // stride 1
      val b1 = shards.map { sh =>
        sh.result().foldLeft(idsAgg.zero)((b, v) => idsAgg.reduce(b, v))
      }.toSeq
      // occupant count from the primitive buffer's header
      val r1 = idsAgg.finish(collapse[Array[Long]](b1, idsAgg.merge, idsAgg.count))
      assert(r1.length <= cap + 1)
      if (n > cap) assert(r1.length == cap + 1, s"trial $trial: no overflow marker at n=$n")
      else assert(r1.toSeq.sorted == ids.sorted, s"trial $trial: lost ids below cap")
      // stride 2 (tag = pure function of id so adjacency is checkable)
      val b2 = shards.map { sh =>
        sh.result().foldLeft(tagAgg.zero)((b, v) =>
          tagAgg.reduce(b, v, v * 13 + 5))
      }.toSeq
      val r2 = tagAgg.finish(collapse[Array[Long]](b2, tagAgg.merge, tagAgg.count))
      assert(r2.length % 2 == 0 && r2.length / 2 <= cap + 1)
      r2.grouped(2).foreach(p => assert(p(1) == p(0) * 13 + 5, s"trial $trial: tag detached"))
      if (n > cap) assert(r2.length / 2 == cap + 1, s"trial $trial: no overflow marker at n=$n")
      else assert(r2.grouped(2).map(_(0)).toSeq.sorted == ids.sorted)
    }
  }

  test("CappedFramedPrefixAgg: cap invariant, frame integrity, merge-order robustness") {
    // Mirrors the CappedOccupantsAgg invariant test for the framed
    // (variable-length-occupant) agg after the primitive-buffer rework:
    //   (1) never more than cap+1 occupants at any point;
    //   (2) overflow iff more than cap occupants ingested;
    //   (3) non-overflowed buckets keep every frame intact ([len, xid, g…]);
    //   (4) finish emits the flat [count, frames…] format prefixBucketPairs
    //       expects, and the empty bucket finishes to an empty array.
    val rnd = new scala.util.Random(2424L)
    val cap = 8
    val agg = new CappedBucketAggSpec.Driven(CappedBucketAgg.FramedPrefixes, cap)
    assert(agg.finish(agg.zero).isEmpty)
    (0 until 300).foreach { trial =>
      val n = rnd.nextInt(3 * cap + 2)
      val occupants = Seq.fill(n) {
        val xid = rnd.nextInt(1000).toLong
        val pg = Array.fill(1 + rnd.nextInt(7))(rnd.nextLong())
        (xid, pg)
      }
      val nShards = 1 + rnd.nextInt(6)
      val shards = Array.fill(nShards)(List.newBuilder[(Long, Array[Long])])
      occupants.foreach(v => shards(rnd.nextInt(nShards)) += v)
      val bufs = shards.map { sh =>
        sh.result().foldLeft(agg.zero)((b, v) =>
          agg.reduce(b, v._1, UnsafeArrayData.fromPrimitiveArray(v._2)))
      }.toSeq
      val pool = scala.collection.mutable.ArrayBuffer(bufs: _*)
      while (pool.length > 1) {
        val a = pool.remove(rnd.nextInt(pool.length))
        val b = pool.remove(rnd.nextInt(pool.length))
        val m = agg.merge(a, b)
        assert(agg.count(m) <= cap + 1, s"trial $trial: buffer exceeded cap+1 occupants")
        pool += m
      }
      val r = agg.finish(pool.head)
      if (n == 0) assert(r.isEmpty)
      else {
        assert(r(0) <= cap + 1)
        if (n > cap) assert(r(0) == cap + 1, s"trial $trial: no overflow marker at n=$n")
        // unpack frames and compare as multisets of (xid, pg) when no overflow
        var i = 1
        val got = List.newBuilder[(Long, Seq[Long])]
        var k = 0L
        while (k < r(0)) {
          val len = r(i).toInt
          got += ((r(i + 1), r.slice(i + 2, i + 2 + len).toSeq))
          i += len + 2
          k += 1
        }
        assert(i == r.length, s"trial $trial: trailing bytes after last frame")
        if (n <= cap) {
          val want = occupants.map(v => (v._1, v._2.toSeq))
          assert(got.result().sortBy(x => (x._1, x._2.mkString(","))) ==
            want.sortBy(x => (x._1, x._2.mkString(","))),
            s"trial $trial: frames lost or corrupted below cap")
        }
      }
    }
  }

  test("capped bucket buffers grow geometrically and fail typed past the array limit") {
    val b = Array(1L, 2L, 3L)
    assert(CappedBucketAgg.ensureSlots(b, 3L) eq b, "a buffer that fits is returned as is")
    val grown = CappedBucketAgg.ensureSlots(b, 4L)
    assert(grown.length == 6 && grown.take(3).sameElements(b), "growth doubles and keeps the slots")
    assert(CappedBucketAgg.ensureSlots(b, 100L).length == 100, "growth reaches a larger need directly")
    // a need past the limit is refused before anything is allocated
    val need = CappedBucketAgg.MaxBufferSlots.toLong + 1
    val e = intercept[IllegalArgumentException](CappedBucketAgg.ensureSlots(b, need))
    assert(e.getMessage.contains(need.toString), e.getMessage)
  }

  test("synthSimhash == simhash(synthDoc) for both variants (r6 fusion)") {
    (Seq(0L, 1L, 7L, 39L, 40L, 123456L, 999999999L)).foreach { id =>
      Seq(0, 1).foreach { variant =>
        assert(TextFunctions.synthSimhash(id, variant)
          == SimHash.ofText(TextFunctions.synthDoc(id, variant)),
          s"id=$id variant=$variant")
      }
    }
  }
}
