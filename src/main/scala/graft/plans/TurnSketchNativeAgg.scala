package graft.plans

import org.apache.spark.sql.{Encoders, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketch.{BloomSketch, CmsSketch}
import graft.sketch.agg.{OpsAdapter, SketchAggFunction, SketchFunctions, SketchOps,
  TurnSketchResult, TurnSketches}

/** `turn_sketch_native`, the native Catalyst aggregate for the flagship
  * transcript sketch build — the (c)-tier of the custom-operator ladder: a
  * [[graft.sketch.agg.SketchAgg]] over the [[TurnSketchNativeAgg.Composite]]
  * adapter, which reads `UTF8String`s straight out of the `InternalRow` and
  * hashes their backing memory in place. Compared to the `Aggregator`+`udaf()`
  * path this removes, per row: the encoder's struct conversion, the
  * `cast(x as binary)` byte copies, and the case-class allocation — nothing
  * is materialized between the scan and the sketch arrays.
  *
  * A shell over [[graft.sketch.agg.TurnSketches]], as `TurnSketchAgg` is:
  * the same create/add/merge/emit and the same composite codec for spill,
  * shuffle and sort-based fallback, so the two registrations build
  * byte-identical states. Arguments are implicitly cast to
  * (STRING, STRING, DOUBLE); any other type fails at analysis.
  *
  * Defaults `bloomW = 0` (conv-id Bloom OFF, `bloom_conv` empty) — the same
  * default as `TurnSketchAgg`, so the two registrations cannot silently
  * diverge. A mergeable membership filter must be capacity-sized to the
  * group's distinct count via `Bloom.create(n, p)` — an undersized default
  * saturates (FPR → 1, zero information) while 4×-ing the partial state
  * every map task ships, so both flagships make the filter strictly opt-in.
  *
  * SQL: `SELECT role, turn_sketch_native(conv_id, tool, text_len) ...`, from
  * [[GraftExtensions]] at the defaults, or one configuration per session
  * through [[TurnSketchNativeAgg.register]] (another one: a `spark.newSession()`).
  */
object TurnSketchNativeAgg {
  /** [[graft.sketch.agg.TurnSketchResult]]'s fields, none nullable. */
  val ResultType: StructType = StructType(
    Encoders.product[TurnSketchResult].schema.map(_.copy(nullable = false)))

  val FunctionName = "turn_sketch_native"

  /** The composite state per group. A NULL `conv_id`, `tool` or `len` feeds
    * no sketch, but the row still counts in `turns`.
    */
  final case class Composite(cmsWidth: Int, cmsDepth: Int, bloomW: Int)
      extends OpsAdapter(SketchOps.Turn) {
    def inputTypes: Seq[DataType] = Seq(StringType, StringType, DoubleType)
    def zero: TurnSketches =
      TurnSketches.create(cmsWidth, cmsDepth, bloomW, BloomSketch.DefaultHash)
    def update(b: TurnSketches, input: InternalRow, args: Seq[Expression]): TurnSketches = {
      val l = args(2).eval(input)
      b.add(args.head.eval(input).asInstanceOf[UTF8String],
        args(1).eval(input).asInstanceOf[UTF8String],
        if (l == null) 0.0 else l.asInstanceOf[Double], l != null)
      b
    }
    override def dataType: DataType = ResultType
    override def nullable: Boolean = false
    override def eval(b: TurnSketches): Any = {
      val r = b.result
      InternalRow.fromSeq(r.parts :+ r.turns)
    }
  }

  /** The SQL table entry of one configuration, built as the sketch functions' are. */
  def function(cmsWidth: Int = CmsSketch.DefaultBins, cmsDepth: Int = CmsSketch.DefaultHash,
      bloomW: Int = 0): SketchFunctions.Entry =
    new SketchAggFunction(FunctionName, Composite(cmsWidth, cmsDepth, bloomW)).entry(
      "_FUNC_(conv_id, tool, len) - composite transcript sketch aggregate (HLL++ conv, " +
        s"CMS $cmsWidth x $cmsDepth + top-k tool, t-digest + KLL len); conv-id Bloom " +
        (if (bloomW > 0) s"$bloomW bits." else "OFF (register with bloomW > 0 to add one)."))

  /** Session-scoped registration (tests, notebooks, benchmarks). */
  def register(spark: SparkSession, cmsWidth: Int = CmsSketch.DefaultBins,
      cmsDepth: Int = CmsSketch.DefaultHash, bloomW: Int = 0): Unit =
    SketchFunctions.registerFunction(spark, function(cmsWidth, cmsDepth, bloomW))
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — injects every graft
  * SQL function (the default [[graft.sketch.agg.SketchFunctions]] table and
  * `turn_sketch_native`) at session build time: the spark-submit path, with
  * no driver code needed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (SketchFunctions.default.functions :+ TurnSketchNativeAgg.function())
      .foreach(ext.injectFunction)
}
