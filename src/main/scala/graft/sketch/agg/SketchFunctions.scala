package graft.sketch.agg

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ScalaUDF}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.sketch._

/** One row of a top-k result (StreamSummary `values/counts/errors`,
  * stream-summary.js:158-200, reshaped relationally: explode the array).
  */
case class TopEntry(value: String, count: Long, error: Long)

/** HLL set-algebra result struct (`hll_set_algebra`): all three numbers
  * from one pass; the scalar accessors each redo the full pass.
  */
case class HllSetResult(union: Double, intersection: Double, jaccard: Double)

/** Sketch parameters fixed at registration (SQL functions take no config
  * scalars); register an alternate config in its own `spark.newSession()`.
  * The Bloom depth, n-gram shape and top-k capacity are the sketch defaults.
  */
case class SketchConfig(
    bloomWidth: Int = BloomSketch.DefaultBits,
    cmsWidth: Int = CmsSketch.DefaultBins,
    cmsDepth: Int = CmsSketch.DefaultHash,
    tdigestCentroids: Int = TDigestSketch.DefaultCentroids,
    kllK: Int = KllSketch.DefaultK,
    hllP: Int = HllSketch.DefaultP)

/** Column-API handles and the SQL function table for every sketch aggregate
  * and query UDF (SURVEY.md §2.3/§2.4 — the complete operator surface). The
  * aggregates are native [[SketchAgg]]s; the query functions are UDFs. Each
  * handle is declared once with its SQL name and `DESCRIBE FUNCTION` usage.
  */
class SketchFunctions(val config: SketchConfig) extends Serializable {
  import SketchAggs._

  // the SQL table, filled as the handles below are declared
  @transient private val table = mutable.ArrayBuffer.empty[SketchFunctions.Entry]

  private def agg(name: String, usage: String, adapter: SketchAdapter[_ >: Null <: AnyRef])
      : SketchAggFunction = {
    val f = new SketchAggFunction(name, adapter)
    table += f.entry(usage)
    f
  }
  private def merge(kind: String, ops: SketchOps[_ >: Null <: AnyRef]): SketchAggFunction =
    agg(s"${kind}_merge_agg", s"_FUNC_(sketch) - merge of $kind sketches; NULL if none.",
      Merge(ops))

  // Query UDFs over serialized sketches. Each is null-safe: a NULL argument
  // (an all-NULL group through a merge agg, an outer-join miss) gives NULL.
  private def scalar(name: String, usage: String)(f: UserDefinedFunction): UserDefinedFunction = {
    table += SketchFunctions.entry(name, usage, classOf[ScalaUDF], "misc_funcs")(
      GraftColumns.scalaUdf(name, f))
    f
  }
  /** `f` of one decoded sketch. */
  private def query[S, R: TypeTag](name: String, usage: String, decode: Array[Byte] => S)(
      f: S => R): UserDefinedFunction = scalar(name, usage)(
    udf((sk: Array[Byte]) => if (sk == null) None else Some(f(decode(sk)))))
  /** `f` of one decoded sketch and one more argument. */
  private def query2[S, A: TypeTag, R: TypeTag](name: String, usage: String,
      decode: Array[Byte] => S)(f: (S, A) => R): UserDefinedFunction = scalar(name, usage)(
    udf((sk: Array[Byte], a: A) => if (sk == null || a == null) None else Some(f(decode(sk), a))))
  /** `f` of two decoded sketches. */
  private def pair[S, R: TypeTag](name: String, usage: String, decode: Array[Byte] => S)(
      f: (S, S) => R): UserDefinedFunction = query2(name, usage, decode)(
    (a, b: Array[Byte]) => f(a, decode(b)))

  // ---- value aggregates ----
  val bloomAgg: SketchAggFunction = agg("bloom_agg", s"_FUNC_(expr) - Bloom filter " +
    s"(${config.bloomWidth} bits, ${BloomSketch.DefaultHash} hashes) of expr's strings.",
    Bloom(config.bloomWidth, BloomSketch.DefaultHash))
  val cmsAgg: SketchAggFunction = agg("cms_agg", "_FUNC_(expr) - Count-Min sketch " +
    s"(width ${config.cmsWidth}, depth ${config.cmsDepth}) of expr's strings.",
    Cms(config.cmsWidth, config.cmsDepth))
  val cmmAgg: SketchAggFunction = agg("cmm_agg", "_FUNC_(expr) - Count-Mean-Min sketch " +
    s"(width ${config.cmsWidth}, depth ${config.cmsDepth}) of expr's strings.",
    Cmm(config.cmsWidth, config.cmsDepth))
  val ngramAgg: SketchAggFunction = agg("ngram_agg",
    "_FUNC_(text) - case-folded character bigram counts of text.", NGram(2, false))
  private val counters = SpaceSavingSketch.DefaultCounters
  val topkAgg: SketchAggFunction = agg("topk_agg",
    s"_FUNC_(expr) - Space-Saving summary ($counters counters) of expr's strings.",
    TopK(counters))
  val topkWeightedAgg: SketchAggFunction = agg("topk_weighted_agg", "_FUNC_(expr, count) - " +
    s"Space-Saving summary ($counters counters) adding count of expr; NULL count adds 0.",
    TopKWeighted(counters))
  val tdigestAgg: SketchAggFunction = agg("tdigest_agg",
    s"_FUNC_(x) - t-digest (${config.tdigestCentroids} centroids) of the numbers x.",
    TDigest(config.tdigestCentroids))
  val kllAgg: SketchAggFunction = agg("kll_agg",
    s"_FUNC_(x) - KLL quantile sketch (k = ${config.kllK}) of the numbers x.", Kll(config.kllK))
  val hllAgg: SketchAggFunction = agg("hll_agg",
    s"_FUNC_(expr) - HyperLogLog++ (p = ${config.hllP}) of expr's strings.", Hll(config.hllP))
  val hllLongAgg: SketchAggFunction = agg("hll_agg_long",
    s"_FUNC_(n) - HyperLogLog++ (p = ${config.hllP}) of the BIGINTs n, hashing 8 bytes each.",
    HllLong(config.hllP))

  // capacity-sized constructions (the `create` factory sizing, SURVEY.md
  // §2.1); parameterized per call site, so Column-API methods, not SQL names
  def bloomCreateAgg(n: Int, p: Double): SketchAggFunction =
    new SketchAggFunction("bloom_create_agg", Bloom.tupled(BloomSketch.sizing(n, p)))
  def cmsCreateAgg(n: Long, e: Double = 0.0, p: Double = 0.0): SketchAggFunction =
    new SketchAggFunction("cms_create_agg", Cms.tupled(CmsSketch.sizing(n, e, p)))

  // ---- sketch-column merge aggregates (second-level / tree merge) ----
  val bloomMergeAgg: SketchAggFunction = merge("bloom", SketchOps.Bloom)
  val cmsMergeAgg: SketchAggFunction = merge("cms", SketchOps.Cms)
  val cmmMergeAgg: SketchAggFunction = merge("cmm", SketchOps.Cmm)
  val ngramMergeAgg: SketchAggFunction = merge("ngram", SketchOps.NGram)
  val topkMergeAgg: SketchAggFunction = merge("topk", SketchOps.TopK)
  val tdigestMergeAgg: SketchAggFunction = merge("tdigest", SketchOps.TDigest)
  val kllMergeAgg: SketchAggFunction = merge("kll", SketchOps.Kll)
  val hllMergeAgg: SketchAggFunction = merge("hll", SketchOps.Hll)

  // ---- scalar query UDFs over serialized sketches (SURVEY.md §2.3) ----
  val bloomContains: UserDefinedFunction = query2("bloom_contains",
    "_FUNC_(bloom, value) - true if value may have been added (no false negatives).",
    BloomSketch.fromBytes)((b, v: String) => b.query(v))

  /** Membership UDF over ONE fixed sketch, decoded once and shipped in the
    * closure: one decode per task, where `bloomContains` decodes per row (a
    * scale-killer as a 10^8-row fact-side filter). The runtime-join-filter
    * pattern (q_bloom_join_filter): build the sketch, collect its ~KB state,
    * filter the big side with this.
    */
  def bloomContainsConst(sk: Array[Byte]): UserDefinedFunction = {
    require(sk != null, "bloomContainsConst: sketch bytes are null (an empty " +
      "group through a MERGE agg or an outer-join miss — aggregate the dim " +
      "side directly; a global bloom agg over zero rows yields an empty, " +
      "non-null sketch)")
    val b = BloomSketch.fromBytes(sk)
    udf((v: String) => if (v == null) None else Some(b.query(v)))
  }
  val bloomSize: UserDefinedFunction = query("bloom_size",
    "_FUNC_(bloom) - estimated distinct count added, from the fill ratio.",
    BloomSketch.fromBytes)(_.size)
  val bloomJaccard: UserDefinedFunction = pair("bloom_jaccard",
    "_FUNC_(bloom_a, bloom_b) - estimated Jaccard similarity of the two sets.",
    BloomSketch.fromBytes)(_ jaccard _)
  val bloomCover: UserDefinedFunction = pair("bloom_cover",
    "_FUNC_(bloom_a, bloom_b) - estimated share of the smaller set found in the other.",
    BloomSketch.fromBytes)(_ cover _)
  val bloomWidth: UserDefinedFunction = query("bloom_width",
    "_FUNC_(bloom) - the filter's width in bits.", BloomSketch.fromBytes)(_.width)
  val bloomDepth: UserDefinedFunction = query("bloom_depth",
    "_FUNC_(bloom) - the filter's number of hash functions.", BloomSketch.fromBytes)(_.depth)

  val cmsWidth: UserDefinedFunction = query("cms_width",
    "_FUNC_(cms) - the sketch's counters per row.", CmsSketch.fromBytes)(_.width)
  val cmsDepth: UserDefinedFunction = query("cms_depth",
    "_FUNC_(cms) - the sketch's rows (hash functions).", CmsSketch.fromBytes)(_.depth)
  val cmsQuery: UserDefinedFunction = query2("cms_query",
    "_FUNC_(cms, value) - estimated count of value, never below the true count.",
    CmsSketch.fromBytes)((c, v: String) => c.query(v))
  val cmsNum: UserDefinedFunction = query("cms_num",
    "_FUNC_(cms) - total count added.", CmsSketch.fromBytes)(_.num)
  val cmsDot: UserDefinedFunction = pair("cms_dot",
    "_FUNC_(cms_a, cms_b) - estimated inner product of the two frequency vectors.",
    CmsSketch.fromBytes)(_ dot _)
  val cmmQuery: UserDefinedFunction = query2("cmm_query",
    "_FUNC_(cmm, value) - bias-corrected estimated count of value.",
    CmmSketch.fromBytes)((c, v: String) => c.queryMean(v))
  val cmmDot: UserDefinedFunction = pair("cmm_dot",
    "_FUNC_(cmm_a, cmm_b) - bias-corrected estimated inner product of the frequency vectors.",
    CmmSketch.fromBytes)(_ dotMean _)

  val ngramQuery: UserDefinedFunction = query2("ngram_query",
    "_FUNC_(ngram, gram) - count of gram.", NGramSketch.fromBytes)((n, g: String) => n.query(g))
  val ngramSize: UserDefinedFunction = query("ngram_size",
    "_FUNC_(ngram) - number of distinct n-grams.", NGramSketch.fromBytes)(_.size)
  val ngramNorm: UserDefinedFunction = query("ngram_norm",
    "_FUNC_(ngram) - L2 norm of the n-gram counts.", NGramSketch.fromBytes)(_.norm)
  val ngramDot: UserDefinedFunction = pair("ngram_dot",
    "_FUNC_(ngram_a, ngram_b) - inner product of the two n-gram count vectors.",
    NGramSketch.fromBytes)(_ dot _)
  val ngramCosine: UserDefinedFunction = pair("ngram_cosine",
    "_FUNC_(ngram_a, ngram_b) - cosine similarity of the two n-gram count vectors.",
    NGramSketch.fromBytes)(_ cosine _)

  val topk: UserDefinedFunction = query2("topk",
    "_FUNC_(topk, k) - the k heaviest values as array<struct<value, count, error>>.",
    SpaceSavingSketch.fromBytes)((s, k: Int) => SketchFunctions.entries(s.topK(Some(k))))
  val topkAll: UserDefinedFunction = query("topk_all",
    "_FUNC_(topk) - every tracked value, heaviest first, as array<struct<value, count, error>>.",
    SpaceSavingSketch.fromBytes)(s => SketchFunctions.entries(s.topK(None)))
  val topkQuery: UserDefinedFunction = query2("topk_query",
    "_FUNC_(topk, value) - estimated count of value; 0 if it is not tracked.",
    SpaceSavingSketch.fromBytes)((s, v: String) => s.query(v))
  val topkError: UserDefinedFunction = query2("topk_error",
    "_FUNC_(topk, value) - overestimation bound of value's count; -1 if it is not tracked.",
    SpaceSavingSketch.fromBytes)((s, v: String) => s.error(v))

  val tdigestQuantile: UserDefinedFunction = query2("tdigest_quantile",
    "_FUNC_(tdigest, q) - estimated q-quantile, q in (0, 1).",
    TDigestSketch.fromBytes)((t, q: Double) => t.quantile(q))
  val tdigestCdf: UserDefinedFunction = query2("tdigest_cdf",
    "_FUNC_(tdigest, x) - estimated share of values at or below x.",
    TDigestSketch.fromBytes)((t, x: Double) => t.cdf(x))
  val tdigestSize: UserDefinedFunction = query("tdigest_size",
    "_FUNC_(tdigest) - total weight added.", TDigestSketch.fromBytes)(_.count)

  val kllQuantile: UserDefinedFunction = query2("kll_quantile",
    "_FUNC_(kll, q) - estimated q-quantile: the value at rank ceil(q * n).",
    KllSketch.fromBytes)((k, q: Double) => k.quantileLower(q))
  val kllCdf: UserDefinedFunction = query2("kll_cdf",
    "_FUNC_(kll, x) - estimated share of values at or below x.",
    KllSketch.fromBytes)((k, x: Double) => k.cdf(x))
  val kllSize: UserDefinedFunction = query("kll_size",
    "_FUNC_(kll) - number of values added.", KllSketch.fromBytes)(_.totalN)

  val hllEstimate: UserDefinedFunction = query("hll_estimate",
    "_FUNC_(hll) - estimated distinct count as DOUBLE.", HllSketch.fromBytes)(_.estimate)
  val hllCardinality: UserDefinedFunction = query("hll_cardinality",
    "_FUNC_(hll) - estimated distinct count rounded to BIGINT.", HllSketch.fromBytes)(
    _.cardinality)

  // ---- HLL set algebra over the undecoded bytes (HllSketch.setAlgebra:
  // register-max union, inclusion–exclusion intersection/Jaccard). The
  // struct gives all three in one pass; each scalar pays its own. ----
  val hllSetAlgebra: UserDefinedFunction = pair("hll_set_algebra",
    "_FUNC_(hll_a, hll_b) - struct<union, intersection, jaccard> estimates in one pass.",
    identity[Array[Byte]]) { (a, b) =>
    val (u, i, j) = HllSketch.setAlgebra(a, b)
    HllSetResult(u, i, j)
  }
  val hllUnionCardinality: UserDefinedFunction = pair("hll_union_cardinality",
    "_FUNC_(hll_a, hll_b) - estimated size of the union rounded to BIGINT.",
    identity[Array[Byte]])((a, b) => math.rint(HllSketch.unionEstimate(a, b)).toLong)
  val hllIntersection: UserDefinedFunction = pair("hll_intersection",
    "_FUNC_(hll_a, hll_b) - estimated size of the intersection (inclusion-exclusion).",
    identity[Array[Byte]])(HllSketch.intersectionEstimate)
  val hllJaccard: UserDefinedFunction = pair("hll_jaccard",
    "_FUNC_(hll_a, hll_b) - estimated Jaccard similarity of the two sets.",
    identity[Array[Byte]])(HllSketch.jaccardEstimate)

  /** The SQL function table of this config: every aggregate and query UDF
    * above, under its plain name, with its usage string.
    */
  def functions: Seq[SketchFunctions.Entry] = table.toSeq

  /** Registers [[functions]] in `spark`'s session:
    * `SELECT role, hll_cardinality(hll_agg(conv_id)) ... GROUP BY role`.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach(SketchFunctions.registerFunction(spark, _))
}

object SketchFunctions {
  private def entries(top: Seq[(String, Long, Long)]): Seq[TopEntry] =
    top.map { case (v, c, e) => TopEntry(v, c, e) }

  /** One SQL function, in the shape a session extension injects. */
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A table entry; `usage` is the one line `DESCRIBE FUNCTION` prints,
    * `_FUNC_(args) - what it returns`.
    */
  def entry(name: String, usage: String, cls: Class[_], group: String)(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, usage, "", "", "", group, "", "", "scala_udf"),
      build)

  /** Installs one entry in `spark`'s session; [[graft.plans.GraftExtensions]]
    * injects the same entries when a session is built.
    */
  def registerFunction(spark: SparkSession, e: Entry): Unit =
    spark.sessionState.functionRegistry.registerFunction(e._1, e._2, e._3)

  lazy val default: SketchFunctions = new SketchFunctions(SketchConfig())
  def apply(cfg: SketchConfig = SketchConfig()): SketchFunctions = new SketchFunctions(cfg)
}
