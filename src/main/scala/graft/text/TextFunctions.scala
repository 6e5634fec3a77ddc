package graft.text

import java.util.Locale

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.sketch.agg.SketchAggFunction
import graft.sketch.core.XxHash64

/** Text-analysis + dedup + similarity operators for large-scale training-data
  * pipelines: language-ID (stopword/character heuristic), quality scoring,
  * token counting, document fingerprinting, MinHash/SimHash near-dup
  * signatures, and embedding cosine similarity. All pure functions — codegen
  * cannot apply to Scala UDFs, but each is O(|text|) with no allocation
  * beyond the output, and the scale path (LSH banding) turns dedup into a
  * plain shuffle-join on band keys.
  */
object TextFunctions {

  // ---- language ID: tiny per-language stopword profiles + script check ----
  // Ordered (not a HashMap): the vote is "first declared language with the
  // strictly-highest hit count", which must be deterministic — the DuckDB
  // oracle replicates this exact order in SQL.
  private[text] val Profiles: Vector[(String, Set[String])] = Vector(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "you"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "ich", "zu"),
    "fr" -> Set("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans", "je"),
    "es" -> Set("el", "la", "los", "las", "es", "de", "que", "una", "para", "por", "yo"),
    "it" -> Set("il", "la", "che", "di", "non", "per", "una", "sono", "con", "del"),
    "pt" -> Set("o", "a", "os", "de", "que", "uma", "para", "com", "não", "por"),
    "nl" -> Set("de", "het", "een", "van", "en", "is", "niet", "met", "voor", "dat"))

  /** Heuristic language ID: CJK-script share first, then stopword-profile
    * vote; "und" (undetermined) when nothing matches.
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0; var letters = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) {
        letters += 1
        val b = Character.UnicodeScript.of(c)
        if (b == Character.UnicodeScript.HAN || b == Character.UnicodeScript.HIRAGANA ||
          b == Character.UnicodeScript.KATAKANA || b == Character.UnicodeScript.HANGUL) cjk += 1
      }
      i += 1
    }
    if (letters > 0 && cjk.toDouble / letters > 0.3) return "zh"
    val tokens = text.toLowerCase(Locale.ROOT).split("[^\\p{L}]+").filter(_.nonEmpty)
    if (tokens.isEmpty) return "und"
    var best = "und"; var bestHits = 0
    Profiles.foreach { case (lang, stop) =>
      var hits = 0
      tokens.foreach(t => if (stop.contains(t)) hits += 1)
      if (hits > bestHits) { best = lang; bestHits = hits }
    }
    if (bestHits * 20 >= tokens.length) best else "und" // >=5% stopword mass
  }

  /** BPE-ish subword count: word-piece regex (letters runs, digit runs,
    * single punctuation) — a deterministic proxy for tokenizer cost.
    */
  private val bpeish = java.util.regex.Pattern.compile("\\p{L}{1,6}|\\p{N}{1,3}|[^\\p{L}\\p{N}\\s]")
  def bpeishCount(text: String): Int = {
    if (text == null) return 0
    val m = bpeish.matcher(text)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Quality score in [0,1]: mixes length, alpha ratio, mean word length
    * sanity, and repetition. Deterministic, documented formula.
    */
  def qualityScore(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    val n = text.length
    var alpha = 0; var space = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) alpha += 1
      else if (c == ' ') space += 1
      i += 1
    }
    val words = space + 1
    val meanWord = (n - space).toDouble / words
    val lenScore = math.min(1.0, n / 200.0)
    val alphaScore = alpha.toDouble / n
    val wordScore = if (meanWord >= 2 && meanWord <= 12) 1.0 else 0.5
    val uniq = text.split("\\s+").filter(_.nonEmpty)
    val repScore = if (uniq.isEmpty) 0.0 else math.min(1.0, uniq.distinct.length * 2.0 / uniq.length)
    0.25 * (lenScore + alphaScore + wordScore + repScore)
  }

  /** 64-bit content fingerprint over normalized text (whitespace-collapsed,
    * lowercased) — exact-dedup key that is stable under trivial reflow.
    */
  def fingerprint(text: String): Long = {
    if (text == null) return 0L
    val norm = text.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty).mkString(" ")
    XxHash64.hash(norm, 0xf00dfeedL)
  }

  /** Exact character-shingle Jaccard of two texts — the verification step
    * behind MinHash-LSH candidates (candidates are approximate; the standard
    * pipeline verifies each candidate pair exactly before acting on it).
    */
  def exactShingleJaccard(a: String, b: String, shingle: Int): Double = {
    def sh(t: String): java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      if (t != null && t.length >= shingle) {
        val lo = t.toLowerCase(Locale.ROOT)
        var i = 0
        val n = lo.length - shingle + 1
        while (i < n) { s.add(lo.substring(i, i + shingle)); i += 1 }
      }
      s
    }
    val sa = sh(a); val sb = sh(b)
    if (sa.isEmpty && sb.isEmpty) return 0.0
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** Bottom-k (KMV) sample of a text's distinct character-shingle set:
    * the `k` smallest seeded xxhash64 values over the distinct lowercased
    * `shingle`-grams, ascending. A compact order-free set fingerprint —
    * any element of the bottom-k of A∪B that belongs to a document is
    * necessarily in that document's own bottom-k (fewer than k set members
    * hash below it), so two documents share a bottom-k value whenever ANY
    * of the union's k smallest hashes lands in the intersection — miss
    * probability (1-J)^k, ≤ 4.1e-9 for J ≥ 0.8 at k = 12. Deterministic
    * (fixed seed, no RNG); one O(len) pass with an O(log k) bounded heap.
    * NOT used as dedup blocking keys anymore: because the hash order is
    * GLOBAL, templated corpora concentrate every document's bottom-k on
    * the same globally smallest hashes (measured at sf0.1: 5000 docs →
    * 567 distinct keys → 6.2M candidate pairs); the prefix-filtered exact
    * join ([[shingleHashes]] + rarest-first prefixes) replaced it on the
    * near-dup paths. It stays as the bottom-k reference that
    * [[shingleHashes]] is checked against (same hash and seed).
    */
  def minKShingleHashes(text: String, shingle: Int, k: Int): Array[Long] = {
    if (text == null || text.length < shingle || k <= 0) return Array.emptyLongArray
    val lo = text.toLowerCase(Locale.ROOT)
    val seen = new java.util.HashSet[String]()
    // max-heap of the k smallest hashes seen so far
    val heap = new java.util.PriorityQueue[java.lang.Long](
      k + 1, java.util.Collections.reverseOrder[java.lang.Long]())
    var i = 0
    val n = lo.length - shingle + 1
    while (i < n) {
      val g = lo.substring(i, i + shingle)
      if (seen.add(g)) {
        val h = XxHash64.hash(g, KmvSeed)
        if (heap.size < k) heap.add(h)
        else if (h < heap.peek()) { heap.poll(); heap.add(h) }
      }
      i += 1
    }
    val out = new Array[Long](heap.size)
    var j = out.length - 1
    while (j >= 0) { out(j) = heap.poll(); j -= 1 }
    out
  }

  private val KmvSeed = 0x9e3c5a17b2d8f04dL

  /** The FULL distinct character-shingle set of a text, as seeded xxhash64
    * values (same hash/seed as [[minKShingleHashes]], so the two sample the
    * same key space). One O(len) pass; the array order is first-occurrence
    * (callers that need a canonical order sort downstream). This is the
    * input to the prefix-filtered exact similarity join: candidates come
    * from each document's (1−τ)·|set|+1 RAREST shingles under a global
    * document-frequency order, which is exact by the prefix-filter lemma
    * (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity Search";
    * Chaudhuri et al., ICDE'06 SSJoin) — unlike bottom-k blocking, whose
    * keys concentrate on the globally smallest hashes and degenerate on
    * templated corpora (measured at sf0.1: 5000 docs → 567 distinct
    * bottom-12 keys → 6.2M candidate pairs).
    */
  def shingleHashes(text: String, shingle: Int): Array[Long] = {
    if (text == null || text.length < shingle) return Array.emptyLongArray
    val lo = text.toLowerCase(Locale.ROOT)
    val seen = new java.util.HashSet[String]()
    val buf = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    val n = lo.length - shingle + 1
    while (i < n) {
      val g = lo.substring(i, i + shingle)
      if (seen.add(g)) buf += XxHash64.hash(g, KmvSeed)
      i += 1
    }
    buf.result()
  }

  /** Normalize a vector argument to the primitive float[] before any
    * indexed loop. Spark 4 hands array columns to Scala UDFs as
    * `List[Float]`, so an indexed `v(i)` while-loop is QUADRATIC on the
    * hot path — every `v(i)` walks the list from its head. An
    * immutable.ArraySeq (what the Array→Seq implicit conversion produces,
    * after its own one-time copy) unwraps without copying; any other Seq
    * pays one O(n) copy for O(1) unboxed indexing. The arithmetic
    * afterwards is identical, so results are bit-exact either way.
    */
  def floats(s: Seq[Float]): Array[Float] = s match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case _                                              => s.toArray
  }

  /** Cosine similarity of two float vectors (embedding columns). */
  def cosine(a: Seq[Float], b: Seq[Float]): Double =
    cosineArrays(floats(a), floats(b))

  def cosineArrays(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Deterministic synthetic token document keyed by (srcId, variant) — the
    * token-space analogue of [[VectorLsh.perturb]]: variants 0 and 1 share
    * all tokens except the first [[SynthReplaced]], so (variant 0, variant 1)
    * of the same srcId is a planted ground-truth near-duplicate pair (token
    * Jaccard ≈ 1 − r/n ⇒ tiny SimHash Hamming distance), while documents of
    * different srcIds share no tokens (Hamming ≈ Binom(64, ½), min ≳ 15 over
    * millions of pairs). Lets LSH/SimHash recall be gated against a
    * closed-form oracle on fixed test data.
    */
  val SynthTokens = 400
  val SynthReplaced = 1
  def synthDoc(srcId: Long, variant: Int): String = {
    val sb = new java.lang.StringBuilder(SynthTokens * 18)
    var j = 0
    while (j < SynthTokens) {
      val seed = if (variant != 0 && j < SynthReplaced) 0xa17e7ea7L else 0x70cea7L
      sb.append(java.lang.Long.toHexString(XxHash64.hashLong(srcId * 1000003L + j, seed)))
      if (j != SynthTokens - 1) sb.append(' ')
      j += 1
    }
    sb.toString
  }

  /** SimHash of [[synthDoc]](srcId, variant) WITHOUT materializing the
    * document text: generates each token (lowercase hex of the same
    * hashLong — exactly what [[synthDoc]] appends and what
    * [[SimHash.ofText]]'s lowercase+whitespace-split recovers, since hex
    * digits are caseless under ROOT lowering and tokens are non-empty) and
    * feeds it straight into the SimHash vote loop. Bit-identical to
    * `SimHash.ofText(synthDoc(srcId, variant))` (asserted in
    * TextFunctionsSpec), skipping the ~8 KB StringBuilder + regex re-split
    * per row that dominated the q_simhash_near_dup fingerprint pass
    * (measured 1.12 s → 0.73 s over the 5040-doc corpus at sf0.1).
    */
  def synthSimhash(srcId: Long, variant: Int): Long = {
    import org.apache.spark.unsafe.Platform
    // ones-count per fingerprint bit, bit-sliced into 16 packed lanes
    // (4 × 16-bit lanes per Long, one Long per nibble position): 16 LUT adds
    // per token instead of 64 branchy vote updates. SynthTokens = 400 fits a
    // 16-bit lane with 2 orders of magnitude to spare. The per-bit vote is
    // acc(b) = 2·ones(b) − n, so the sign test acc(b) > 0 ⇔ 2·ones(b) > n.
    val packed = new Array[Long](16)
    val buf = new Array[Byte](16)
    var j = 0
    while (j < SynthTokens) {
      val seed = if (variant != 0 && j < SynthReplaced) 0xa17e7ea7L else 0x70cea7L
      val v = XxHash64.hashLong(srcId * 1000003L + j, seed)
      // lowercase hex of v without leading zeros — the exact ASCII bytes
      // Long.toHexString produces (and synthDoc appends / SimHash re-hashes),
      // formatted into a reused buffer instead of a fresh String + getBytes
      val nd = if (v == 0) 1 else (67 - java.lang.Long.numberOfLeadingZeros(v)) >> 2
      var i = nd - 1
      var x = v
      while (i >= 0) {
        val d = (x & 15L).toInt
        buf(i) = (if (d < 10) '0' + d else 'a' + d - 10).toByte
        x >>>= 4
        i -= 1
      }
      val h = XxHash64.hashMemory(buf, Platform.BYTE_ARRAY_OFFSET, nd, 0x51a9b1e3c7d5f021L)
      var k = 0
      while (k < 16) {
        packed(k) += NibbleLut(((h >>> (k * 4)) & 15L).toInt)
        k += 1
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      val ones = (packed(b >> 2) >>> ((b & 3) * 16)) & 0xffffL
      if (2 * ones > SynthTokens) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Nibble → 4 packed 16-bit lanes, one per bit of the nibble. */
  private val NibbleLut: Array[Long] = Array.tabulate(16) { v =>
    var p = 0L
    var i = 0
    while (i < 4) { if (((v >> i) & 1) == 1) p |= 1L << (16 * i); i += 1 }
    p
  }

  /** Candidate id pair out of an LSH bucket (id_a < id_b). */
  case class IdPair(id_a: Long, id_b: Long)

  /** All unordered id pairs within one (already capped) LSH bucket. The
    * caller caps bucket size, so the worst case is cap·(cap−1)/2 pairs from
    * one bucket — bounded by construction, never all-pairs over the table.
    * Duplicate ids (possible only if the caller's id space collides) yield
    * no self-pair.
    */
  def idPairs(ids: Array[Long]): Seq[IdPair] = {
    val a = ids.clone()
    java.util.Arrays.sort(a)
    val out = Vector.newBuilder[IdPair]
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) {
        if (a(i) != a(j)) out += IdPair(a(i), a(j))
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** One unordered candidate pair whose occupants each carry an opaque
    * 64-bit payload (tag) — e.g. the SimHash fingerprint — so a cheap
    * similarity gate can run directly on the pair stream.
    */
  case class TaggedPair(id_a: Long, tag_a: Long, id_b: Long, tag_b: Long)

  /** All unordered id pairs within one capped bucket whose occupants are
    * interleaved `[id0, tag0, id1, tag1, …]` (the
    * [[CappedBucketAgg.TaggedIds]] output shape). Carrying the payload
    * through banding is what lets the caller skip the two join-backs that
    * re-derive it: at table scale the join-back costs two extra shuffles
    * PLUS a second and third full pass of the fingerprint UDF over the
    * corpus, versus 8 bytes per banded row here. Duplicate ids yield no
    * self-pair, mirroring [[idPairs]].
    */
  def taggedPairs(xs: Array[Long]): Seq[TaggedPair] = {
    val n = xs.length / 2
    val idx = Array.tabulate(n)(identity)
    val ids = new Array[Long](n)
    val tags = new Array[Long](n)
    var i = 0
    while (i < n) { ids(i) = xs(2 * i); tags(i) = xs(2 * i + 1); i += 1 }
    val order = idx.sortBy(ids)
    val out = Vector.newBuilder[TaggedPair]
    i = 0
    while (i < n) {
      val a = order(i)
      var j = i + 1
      while (j < n) {
        val b = order(j)
        if (ids(a) != ids(b)) out += TaggedPair(ids(a), tags(a), ids(b), tags(b))
        j += 1
      }
      i += 1
    }
    out.result()
  }
  /** [[taggedPairs]] over a collected interleaved bucket. */
  def taggedPairs(xs: Seq[Long]): Seq[TaggedPair] = taggedPairs(xs.toArray)

  /** Candidate pairs of one framed prefix bucket
    * ([[CappedBucketAgg.FramedPrefixes]] output): for every unordered
    * occupant pair, merge-intersect the two SORTED prefix-token arrays to
    * get the pair's full shared-prefix count `|prefix(A) ∩ prefix(B)|`, and
    * emit the (xid-ordered) pair when the count passes `gateK` — or
    * unconditionally for tiny–tiny pairs (both xids odd: documents whose
    * whole shingle set is inside the prefix, the α ≤ K case of the
    * prefix-filter lemma). Buckets with fewer than 2 or
    * more than `cap` occupants (the ingest-overflow marker) yield nothing,
    * mirroring the dropped-bucket guardrail. A pair is emitted by EVERY
    * surviving bucket the two documents share (same count each time — it
    * depends only on the two prefix arrays); the caller's `distinct`
    * collapses the duplicates, so no cross-bucket coordination is needed.
    *
    * vs the exploded hit-counting shape this replaces: the count here is
    * the TRUE intersection size, where counting surviving-bucket hits
    * undercounts a pair when some shared token's bucket overflowed the cap
    * — so recall under the prefix-filter lemma only strengthens; spurious
    * candidates (count differences the other way are impossible:
    * intersection ⊇ surviving hits) are killed by the exact-Jaccard verify
    * every caller applies. On cap-overflow-free data (all verify SFs; max
    * occupancy 287 vs cap 1024 at sf0.1) the candidate set is identical.
    */
  def prefixBucketPairs(flat: Array[Long], cap: Int, gateK: Int): Array[Long] = {
    if (flat.length == 0) return Array.emptyLongArray
    val n = flat(0).toInt
    if (n < 2 || n > cap) return Array.emptyLongArray
    // unpack frames: ids + (offset, length) into the flat array
    val ids = new Array[Long](n)
    val off = new Array[Int](n)
    val len = new Array[Int](n)
    var i = 1
    var o = 0
    while (o < n) {
      len(o) = flat(i).toInt
      ids(o) = flat(i + 1)
      off(o) = i + 2
      i += len(o) + 2
      o += 1
    }
    // flat [a0, b0, a1, b1, …] output (primitive encoder — a Seq[IdPair]
    // output paid per-element product encoding, ~6 s over the 2.8M gated
    // emissions at sf0.1; the caller rebuilds pair structs with codegen
    // built-ins)
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        if (ids(a) != ids(b)) {
          // both-odd = tiny–tiny: gate passes on any co-occurrence
          val tinyPair = (ids(a) & 1L) == 1L && (ids(b) & 1L) == 1L
          var shared = 0
          if (!tinyPair) {
            // merge-intersect two sorted runs, with an upper-bound abort:
            // once even matching every remaining element cannot reach the
            // gate, stop (exact — only the gate decision is consumed)
            var x = off(a); val xe = off(a) + len(a)
            var y = off(b); val ye = off(b) + len(b)
            var live = true
            while (live && x < xe && y < ye) {
              val gx = flat(x); val gy = flat(y)
              if (gx == gy) { shared += 1; x += 1; y += 1 }
              else if (gx < gy) x += 1
              else y += 1
              if (shared >= gateK) live = false
              else if (shared + math.min(xe - x, ye - y) < gateK) live = false
            }
          }
          if (tinyPair || shared >= gateK) {
            if (ids(a) < ids(b)) { out += ids(a); out += ids(b) }
            else { out += ids(b); out += ids(a) }
          }
        }
        b += 1
      }
      a += 1
    }
    out.result()
  }
}

/** Column-API handles for the text/dedup/similarity functions the queries
  * use, at fixed parameters: MinHash k = 128, 5-character shingles, 16 LSH
  * bands. None of them is a SQL name.
  */
class TextSqlFunctions extends Serializable {
  import TextFunctions._
  import TextSqlFunctions.{Bands, MinHashK, Shingle}

  val langIdUdf: UserDefinedFunction = udf((t: String) => langId(t))
  val bpeishCountUdf: UserDefinedFunction = udf((t: String) => bpeishCount(t))
  val qualityScoreUdf: UserDefinedFunction = udf((t: String) => qualityScore(t))
  val fingerprintUdf: UserDefinedFunction = udf((t: String) => fingerprint(t))

  val minhashSigUdf: UserDefinedFunction =
    udf((t: String) => MinHashSketch.ofText(t, MinHashK, Shingle).toBytes)
  val minhashBandsUdf: UserDefinedFunction =
    udf((sk: Array[Byte]) => MinHashSketch.fromBytes(sk).bandKeys(Bands))

  val exactJaccardUdf: UserDefinedFunction =
    udf((a: String, b: String) => exactShingleJaccard(a, b, Shingle))

  /** [[exactJaccardUdf]] marked non-deterministic (it is pure): for the
    * `select(jaccard).filter(jaccard >= τ)` verify shape, the optimizer
    * otherwise pushes the filter below the projection and evaluates the
    * full shingle-set Jaccard TWICE per candidate pair (guide §4.4). Use
    * this variant when the score column is both emitted and filtered on.
    */
  val exactJaccardOnceUdf: UserDefinedFunction =
    udf((a: String, b: String) => exactShingleJaccard(a, b, Shingle))
      .asNondeterministic()

  /** Full hashed shingle set (see TextFunctions.shingleHashes). Marked
    * non-deterministic (it is pure) to stop InferFiltersFromGenerate +
    * projection collapse from re-evaluating the whole shingle pass inside
    * the inferred `size(..) > 0 AND isnotnull(..)` scan filter — the
    * before-plan ran this UDF three times per document per branch
    * (guide §4.4).
    */
  val shingleHashesUdf: UserDefinedFunction =
    udf((t: String) => TextFunctions.shingleHashes(t, Shingle)).asNondeterministic()

  /** Codegen-friendly (no ScalaUDF) whitespace token count. */
  def tokenCountCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{filter => afilter, size => asize, split, when, lit}
    when(c.isNull, lit(0))
      .otherwise(asize(afilter(split(c, "\\s+"), t => t =!= "")))
  }

  /** Codegen-friendly SimHash hamming distance over two Long fingerprints. */
  def hammingCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  val cosineUdf: UserDefinedFunction =
    udf((a: Seq[Float], b: Seq[Float]) => cosine(a, b))

  val annBucketsParamUdf: UserDefinedFunction =
    udf((v: Seq[Float], bits: Int, tables: Int) => VectorLsh.bucketKeys(v, bits, tables))
  val perturbUdf: UserDefinedFunction =
    udf((v: Seq[Float], id: Long, eps: Double) => VectorLsh.perturb(v, id, eps))

  /** Expand one capped LSH bucket into its unordered candidate id pairs. */
  val idPairsUdf: UserDefinedFunction = udf((ids: Array[Long]) => idPairs(ids))

  private def capped(shape: CappedBucketAgg.Shape, cap: Int): SketchAggFunction =
    new SketchAggFunction(shape.name, CappedBucketAgg.Capped(shape, cap))

  /** Ingest-capped bucket occupant collection (see [[CappedBucketAgg]]). */
  def cappedIdsAgg(cap: Int): SketchAggFunction = capped(CappedBucketAgg.Ids, cap)

  /** Payload-carrying variant (see [[CappedBucketAgg.TaggedIds]]):
    * apply to `(id, tag)` columns, occupants come back interleaved.
    */
  def cappedTaggedIdsAgg(cap: Int): SketchAggFunction = capped(CappedBucketAgg.TaggedIds, cap)

  /** Expand one capped interleaved `[id, tag, …]` bucket into its
    * unordered payload-carrying candidate pairs.
    */
  val taggedPairsUdf: UserDefinedFunction = udf((xs: Array[Long]) => taggedPairs(xs))

  /** Framed prefix-bucket collection (see [[CappedBucketAgg.FramedPrefixes]]):
    * apply to `(xid, prefixArray)` columns.
    */
  def cappedPrefixAgg(cap: Int): SketchAggFunction = capped(CappedBucketAgg.FramedPrefixes, cap)

  /** Gated candidate pairs of one framed prefix bucket as a flat
    * `[a0, b0, a1, b1, …]` Long array (see TextFunctions.prefixBucketPairs).
    * Marked non-deterministic (it is pure — results depend only on the
    * input) solely to stop the optimizer collapsing its projection into
    * the downstream size-filter + pair-rebuild, which would re-run the
    * whole C(occ,2) bucket scan once per reference (guide §4.4; measured
    * 2-3× the scan cost at sf0.1).
    */
  def prefixPairsUdf(cap: Int, gateK: Int): UserDefinedFunction =
    udf((flat: Array[Long]) => prefixBucketPairs(flat, cap, gateK)).asNondeterministic()

  /** Fused `simhash(synth_doc(id, variant))` (see TextFunctions.synthSimhash:
    * bit-identical, no intermediate text materialization).
    */
  val synthSimhashUdf: UserDefinedFunction =
    udf((id: Long, variant: Int) => synthSimhash(id, variant))
}

object TextSqlFunctions {
  /** MinHash signature length. */
  private val MinHashK = 128
  /** Character shingle length; the oracle SQL's 5-gram `substr` matches it. */
  private val Shingle = 5
  /** LSH bands over the MinHash signature. */
  private val Bands = 16

  lazy val default: TextSqlFunctions = new TextSqlFunctions
}
