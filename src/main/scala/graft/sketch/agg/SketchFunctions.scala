package graft.sketch.agg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.sketch._

/** One row of a top-k result (StreamSummary `values/counts/errors`,
  * stream-summary.js:158-200, reshaped relationally: explode the array).
  */
case class TopEntry(value: String, count: Long, error: Long)

/** HLL set-algebra result struct (`hll_set_algebra`): one deserialization
  * pass per operand for all three numbers — use this when a query needs
  * more than one of them; the scalar accessors each redo the full pass.
  */
case class HllSetResult(union: Double, intersection: Double, jaccard: Double)

/** Sketch parameters fixed at registration time. SQL functions cannot take
  * config scalars as non-column arguments, so each (name, params) pair is a
  * distinct registered function; call `register` again with a different
  * prefix for alternate configs.
  */
case class SketchConfig(
    bloomWidth: Int = BloomSketch.DefaultBits,
    bloomDepth: Int = BloomSketch.DefaultHash,
    cmsWidth: Int = CmsSketch.DefaultBins,
    cmsDepth: Int = CmsSketch.DefaultHash,
    ngramN: Int = 2,
    ngramCaseSensitive: Boolean = false,
    topKCapacity: Int = SpaceSavingSketch.DefaultCounters,
    tdigestCentroids: Int = TDigestSketch.DefaultCentroids,
    kllK: Int = KllSketch.DefaultK,
    hllP: Int = HllSketch.DefaultP)

/** Column-API handles + one-call SQL registration for every sketch aggregate
  * and query UDF (SURVEY.md §2.3/§2.4 — the complete operator surface). The
  * aggregates are native [[SketchAgg]]s; the query functions are UDFs.
  */
class SketchFunctions(val config: SketchConfig) extends Serializable {
  import SketchAggs._
  // short internal alias (the public `config` lets call sites read the
  // regime bounds they must enforce, e.g. q_salted_agg's kllK gate)
  private def cfg: SketchConfig = config
  private def agg(name: String, adapter: SketchAdapter[_ >: Null <: AnyRef]) =
    new SketchAggFunction(name, adapter)

  // ---- value aggregates ----
  val bloomAgg: SketchAggFunction = agg("bloom_agg", Bloom(cfg.bloomWidth, cfg.bloomDepth))
  val cmsAgg: SketchAggFunction = agg("cms_agg", Cms(cfg.cmsWidth, cfg.cmsDepth))
  val cmmAgg: SketchAggFunction = agg("cmm_agg", Cmm(cfg.cmsWidth, cfg.cmsDepth))
  val ngramAgg: SketchAggFunction =
    agg("ngram_agg", NGram(cfg.ngramN, cfg.ngramCaseSensitive))
  val topkAgg: SketchAggFunction = agg("topk_agg", TopK(cfg.topKCapacity))
  val topkWeightedAgg: SketchAggFunction =
    agg("topk_weighted_agg", TopKWeighted(cfg.topKCapacity))
  val tdigestAgg: SketchAggFunction = agg("tdigest_agg", TDigest(cfg.tdigestCentroids))
  val kllAgg: SketchAggFunction = agg("kll_agg", Kll(cfg.kllK))
  val hllAgg: SketchAggFunction = agg("hll_agg", Hll(cfg.hllP))
  val hllLongAgg: SketchAggFunction = agg("hll_agg_long", HllLong(cfg.hllP))

  // capacity-sized constructions (the `create` factory sizing, SURVEY.md
  // §2.1); parameterized per call site, so methods rather than cached handles
  def bloomCreateAgg(n: Int, p: Double): SketchAggFunction =
    agg("bloom_create_agg", Bloom.tupled(BloomSketch.sizing(n, p)))
  def cmsCreateAgg(n: Long, e: Double = 0.0, p: Double = 0.0): SketchAggFunction =
    agg("cms_create_agg", Cms.tupled(CmsSketch.sizing(n, e, p)))

  // ---- sketch-column merge aggregates (second-level / tree merge) ----
  val bloomMergeAgg: SketchAggFunction = agg("bloom_merge_agg", Merge(SketchOps.Bloom))
  val cmsMergeAgg: SketchAggFunction = agg("cms_merge_agg", Merge(SketchOps.Cms))
  val cmmMergeAgg: SketchAggFunction = agg("cmm_merge_agg", Merge(SketchOps.Cmm))
  val ngramMergeAgg: SketchAggFunction = agg("ngram_merge_agg", Merge(SketchOps.NGram))
  val topkMergeAgg: SketchAggFunction = agg("topk_merge_agg", Merge(SketchOps.TopK))
  val tdigestMergeAgg: SketchAggFunction = agg("tdigest_merge_agg", Merge(SketchOps.TDigest))
  val kllMergeAgg: SketchAggFunction = agg("kll_merge_agg", Merge(SketchOps.Kll))
  val hllMergeAgg: SketchAggFunction = agg("hll_merge_agg", Merge(SketchOps.Hll))

  // ---- scalar query UDFs over serialized sketches (SURVEY.md §2.3) ----
  // Every UDF is null-safe: a NULL sketch column (all-NULL group through a
  // merge agg, outer-join miss) propagates as SQL NULL instead of an NPE.
  val bloomContains: UserDefinedFunction =
    udf((sk: Array[Byte], v: String) =>
      if (sk == null || v == null) None else Some(BloomSketch.fromBytes(sk).query(v)))

  /** Membership UDF over ONE fixed sketch, decoded ONCE at construction and
    * shipped inside the closure (BloomSketch is Serializable) — one decode
    * per task, zero per row. `bloomContains` decodes `fromBytes` on EVERY
    * invocation, which is fine when the sketch column varies per row or the
    * probe side is small (q_bloom_brand_membership's 27 probes), but is a
    * scale-killer as a fact-side row filter: at 10^8+ rows the per-row
    * alloc+copy of the bit array dwarfs the actual query. Use this for the
    * runtime-join-filter pattern (q_bloom_join_filter): build the sketch,
    * collect its ~KB state (bounded, the IVF-codebook precedent), filter
    * the big side with the const UDF.
    */
  def bloomContainsConst(sk: Array[Byte]): UserDefinedFunction = {
    require(sk != null, "bloomContainsConst: sketch bytes are null (an empty " +
      "group through a MERGE agg or an outer-join miss — aggregate the dim " +
      "side directly; a global bloom agg over zero rows yields an empty, " +
      "non-null sketch)")
    val b = BloomSketch.fromBytes(sk)
    udf((v: String) => if (v == null) None else Some(b.query(v)))
  }
  val bloomSize: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(BloomSketch.fromBytes(sk).size))
  val bloomJaccard: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else Some(BloomSketch.fromBytes(a).jaccard(BloomSketch.fromBytes(b))))
  val bloomCover: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else Some(BloomSketch.fromBytes(a).cover(BloomSketch.fromBytes(b))))

  val bloomWidth: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(BloomSketch.fromBytes(sk).width))
  val bloomDepth: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(BloomSketch.fromBytes(sk).depth))

  val cmsWidth: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(CmsSketch.fromBytes(sk).width))
  val cmsDepth: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(CmsSketch.fromBytes(sk).depth))

  val cmsQuery: UserDefinedFunction =
    udf((sk: Array[Byte], v: String) =>
      if (sk == null || v == null) None else Some(CmsSketch.fromBytes(sk).query(v)))
  val cmsNum: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(CmsSketch.fromBytes(sk).num))
  val cmsDot: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else Some(CmsSketch.fromBytes(a).dot(CmsSketch.fromBytes(b))))
  val cmmQuery: UserDefinedFunction =
    udf((sk: Array[Byte], v: String) =>
      if (sk == null || v == null) None else Some(CmmSketch.fromBytes(sk).queryMean(v)))
  val cmmDot: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else Some(CmmSketch.fromBytes(a).dotMean(CmmSketch.fromBytes(b))))

  val ngramQuery: UserDefinedFunction =
    udf((sk: Array[Byte], g: String) =>
      if (sk == null || g == null) None else Some(NGramSketch.fromBytes(sk).query(g)))
  val ngramSize: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(NGramSketch.fromBytes(sk).size))
  val ngramNorm: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(NGramSketch.fromBytes(sk).norm))
  val ngramDot: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else Some(NGramSketch.fromBytes(a).dot(NGramSketch.fromBytes(b))))
  val ngramCosine: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else Some(NGramSketch.fromBytes(a).cosine(NGramSketch.fromBytes(b))))

  val topk: UserDefinedFunction =
    udf((sk: Array[Byte], k: Int) =>
      if (sk == null) null
      else SpaceSavingSketch.fromBytes(sk).topK(Some(k)).map {
        case (v, c, e) => TopEntry(v, c, e)
      })
  val topkAll: UserDefinedFunction =
    udf((sk: Array[Byte]) =>
      if (sk == null) null
      else SpaceSavingSketch.fromBytes(sk).topK(None).map {
        case (v, c, e) => TopEntry(v, c, e)
      })
  val topkQuery: UserDefinedFunction =
    udf((sk: Array[Byte], v: String) =>
      if (sk == null || v == null) None else Some(SpaceSavingSketch.fromBytes(sk).query(v)))
  val topkError: UserDefinedFunction =
    udf((sk: Array[Byte], v: String) =>
      if (sk == null || v == null) None else Some(SpaceSavingSketch.fromBytes(sk).error(v)))

  val tdigestQuantile: UserDefinedFunction =
    udf((sk: Array[Byte], q: Double) =>
      if (sk == null) None else Some(TDigestSketch.fromBytes(sk).quantile(q)))
  val tdigestCdf: UserDefinedFunction =
    udf((sk: Array[Byte], v: Double) =>
      if (sk == null) None else Some(TDigestSketch.fromBytes(sk).cdf(v)))
  val tdigestSize: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(TDigestSketch.fromBytes(sk).count))

  val kllQuantile: UserDefinedFunction =
    udf((sk: Array[Byte], q: Double) =>
      if (sk == null) None else Some(KllSketch.fromBytes(sk).quantileLower(q)))
  val kllCdf: UserDefinedFunction =
    udf((sk: Array[Byte], v: Double) =>
      if (sk == null) None else Some(KllSketch.fromBytes(sk).cdf(v)))
  val kllSize: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(KllSketch.fromBytes(sk).totalN))

  val hllEstimate: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(HllSketch.fromBytes(sk).estimate))
  val hllCardinality: UserDefinedFunction =
    udf((sk: Array[Byte]) => if (sk == null) None else Some(HllSketch.fromBytes(sk).cardinality))

  // ---- HLL set algebra (HllSketch.setAlgebra: union via register-max
  // merge, intersection/Jaccard via inclusion–exclusion; error relative to
  // |A∪B|, see that scaladoc) ----
  /** All three numbers in ONE pass (struct column) — preferred when a query
    * reads more than one of them (per-group, the scalar accessors each pay
    * their own deserialize+merge).
    */
  val hllSetAlgebra: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else {
        val (u, i, j) = HllSketch.setAlgebra(a, b)
        Some(HllSetResult(u, i, j))
      })
  /** Rounded-Long union size — same convention as `hll_cardinality`
    * (`hll_estimate` is the raw-Double convention).
    */
  val hllUnionCardinality: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None
      else Some(math.rint(HllSketch.unionEstimate(a, b)).toLong))
  val hllIntersection: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None else Some(HllSketch.intersectionEstimate(a, b)))
  val hllJaccard: UserDefinedFunction =
    udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) None else Some(HllSketch.jaccardEstimate(a, b)))

  /** Register every function for SQL under `prefix` (default none), scoped
    * to `spark`'s session: `SELECT role, hll_cardinality(hll_agg(conv_id))
    * ... GROUP BY role`.
    */
  def register(spark: SparkSession, prefix: String = ""): Unit = {
    Seq(bloomAgg, cmsAgg, cmmAgg, ngramAgg, topkAgg, topkWeightedAgg, tdigestAgg, kllAgg,
      hllAgg, hllLongAgg, bloomMergeAgg, cmsMergeAgg, cmmMergeAgg, ngramMergeAgg,
      topkMergeAgg, tdigestMergeAgg, kllMergeAgg, hllMergeAgg)
      .foreach(_.register(spark, prefix))
    def reg(name: String, f: UserDefinedFunction): Unit =
      spark.udf.register(prefix + name, f)
    reg("bloom_contains", bloomContains); reg("bloom_size", bloomSize)
    reg("bloom_jaccard", bloomJaccard); reg("bloom_cover", bloomCover)
    reg("bloom_width", bloomWidth); reg("bloom_depth", bloomDepth)
    reg("cms_width", cmsWidth); reg("cms_depth", cmsDepth)
    reg("cms_query", cmsQuery); reg("cms_num", cmsNum); reg("cms_dot", cmsDot)
    reg("cmm_query", cmmQuery); reg("cmm_dot", cmmDot)
    reg("ngram_query", ngramQuery); reg("ngram_size", ngramSize)
    reg("ngram_norm", ngramNorm); reg("ngram_dot", ngramDot)
    reg("ngram_cosine", ngramCosine)
    reg("topk", topk); reg("topk_all", topkAll)
    reg("topk_query", topkQuery); reg("topk_error", topkError)
    reg("tdigest_quantile", tdigestQuantile); reg("tdigest_cdf", tdigestCdf)
    reg("tdigest_size", tdigestSize)
    reg("kll_quantile", kllQuantile); reg("kll_cdf", kllCdf); reg("kll_size", kllSize)
    reg("hll_estimate", hllEstimate); reg("hll_cardinality", hllCardinality)
    reg("hll_set_algebra", hllSetAlgebra)
    reg("hll_union_cardinality", hllUnionCardinality)
    reg("hll_intersection", hllIntersection); reg("hll_jaccard", hllJaccard)
  }
}

object SketchFunctions {
  lazy val default: SketchFunctions = new SketchFunctions(SketchConfig())
  def apply(cfg: SketchConfig = SketchConfig()): SketchFunctions = new SketchFunctions(cfg)
}
