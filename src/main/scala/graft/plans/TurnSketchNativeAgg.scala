package graft.plans

import org.apache.spark.sql.{Encoders, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketch.{BloomSketch, CmsSketch}
import graft.sketch.agg.{SketchFunctions, TurnSketchResult, TurnSketches}

/** Native Catalyst aggregate for the flagship transcript sketch build — the
  * (c)-tier of the custom-operator ladder: a `TypedImperativeAggregate`
  * that reads `UTF8String`s straight out of the `InternalRow` and hashes
  * their backing memory in place. Compared to the `Aggregator`+`udaf()`
  * path this removes, per row: the encoder's struct conversion, the
  * `cast(x as binary)` byte copies, and the case-class allocation — nothing
  * is materialized between the scan and the sketch arrays.
  *
  * A shell over [[graft.sketch.agg.TurnSketches]], as `TurnSketchAgg` is:
  * the same create/add/merge/emit and the same composite codec for spill,
  * shuffle and sort-based fallback, so the two registrations build
  * byte-identical states.
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
case class TurnSketchNativeAgg(
    conv: Expression,
    tool: Expression,
    len: Expression,
    cmsWidth: Int = CmsSketch.DefaultBins,
    cmsDepth: Int = CmsSketch.DefaultHash,
    bloomW: Int = 0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TurnSketches] {

  override def children: Seq[Expression] = Seq(conv, tool, len)

  // reject wrong-typed arguments at analysis time, not as an executor-side
  // ClassCastException mid-job (AbstractDataType/ExpectsInputTypes are
  // private[sql], so the check is spelled out)
  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(StringType, StringType, DoubleType)
    val actual = children.map(_.dataType)
    if (actual == expected) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (STRING, STRING, DOUBLE), got " +
        actual.map(_.simpleString).mkString("(", ", ", ")"))
  }

  override def nullable: Boolean = false

  override def dataType: DataType = TurnSketchNativeAgg.ResultType

  override def createAggregationBuffer(): TurnSketches =
    TurnSketches.create(cmsWidth, cmsDepth, bloomW, BloomSketch.DefaultHash)

  override def update(b: TurnSketches, input: InternalRow): TurnSketches = {
    val l = len.eval(input)
    b.add(conv.eval(input).asInstanceOf[UTF8String], tool.eval(input).asInstanceOf[UTF8String],
      if (l == null) 0.0 else l.asInstanceOf[Number].doubleValue(), l != null)
    b
  }

  override def merge(a: TurnSketches, b: TurnSketches): TurnSketches = a.merge(b)

  override def eval(b: TurnSketches): Any = {
    val r = b.result
    InternalRow.fromSeq(r.parts :+ r.turns)
  }

  override def serialize(b: TurnSketches): Array[Byte] = TurnSketches.encode(b)
  override def deserialize(bytes: Array[Byte]): TurnSketches = TurnSketches.decode(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): TurnSketchNativeAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TurnSketchNativeAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression])
      : TurnSketchNativeAgg =
    copy(conv = newChildren(0), tool = newChildren(1), len = newChildren(2))
}

object TurnSketchNativeAgg {
  /** [[graft.sketch.agg.TurnSketchResult]]'s fields, none nullable. */
  val ResultType: StructType = StructType(
    Encoders.product[TurnSketchResult].schema.map(_.copy(nullable = false)))

  val FunctionName = "turn_sketch_native"

  /** The SQL table entry of one configuration, built as the sketch functions' are. */
  def function(cmsWidth: Int = CmsSketch.DefaultBins, cmsDepth: Int = CmsSketch.DefaultHash,
      bloomW: Int = 0): SketchFunctions.Entry = SketchFunctions.entry(FunctionName,
    "_FUNC_(conv_id, tool, len) - composite transcript sketch aggregate (HLL++ conv, " +
      s"CMS $cmsWidth x $cmsDepth + top-k tool, t-digest + KLL len); conv-id Bloom " +
      (if (bloomW > 0) s"$bloomW bits." else "OFF (register with bloomW > 0 to add one)."),
    classOf[TurnSketchNativeAgg], "agg_funcs") { children =>
    require(children.length == 3,
      s"$FunctionName expects (conv_id, tool, len), got ${children.length} args")
    TurnSketchNativeAgg(children(0), children(1), children(2),
      cmsWidth = cmsWidth, cmsDepth = cmsDepth, bloomW = bloomW).toAggregateExpression()
  }

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
