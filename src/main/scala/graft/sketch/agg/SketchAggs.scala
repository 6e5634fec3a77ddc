package graft.sketch.agg

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketch._

/** The one native Catalyst aggregate of the library: every per-sketch SQL
  * aggregate (`hll_agg`, `kll_agg`, ... and the `*_merge_agg`s), the
  * composite `turn_sketch_native` and the capped-bucket aggregates. The live
  * state is the aggregation buffer, so these run in `ObjectHashAggregateExec`.
  * Rows are read straight from the `InternalRow`: strings are hashed from
  * UTF8String memory where the sketch has a memory hash, and merge
  * aggregates decode the `BinaryType` cell. Everything that differs per
  * aggregate is its [[SketchAdapter]]: input types, empty state, how a row
  * updates it (NULL handling included), merge, the buffer codec that crosses
  * shuffle, spill and the sort-based fallback, and the result.
  *
  * Arguments are implicitly cast to the adapter's input types (an INT column
  * into `kll_agg` is cast to DOUBLE, into `hll_agg` to STRING); any other type
  * fails at analysis, naming the function.
  */
case class SketchAgg[S >: Null <: AnyRef](
    fnName: String,
    adapter: SketchAdapter[S],
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[S] with ImplicitCastInputTypes {

  override def prettyName: String = fnName
  override def inputTypes: Seq[DataType] = adapter.inputTypes
  override def nullable: Boolean = adapter.nullable
  override def dataType: DataType = adapter.dataType

  override def createAggregationBuffer(): S = adapter.zero
  override def update(s: S, input: InternalRow): S = adapter.update(s, input, children)
  override def merge(a: S, b: S): S = adapter.merge(a, b)
  override def eval(s: S): Any = adapter.eval(s)
  override def serialize(s: S): Array[Byte] = adapter.serialize(s)
  override def deserialize(bytes: Array[Byte]): S = adapter.deserialize(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): SketchAgg[S] =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SketchAgg[S] =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[S] = copy(children = newChildren)
}

/** A named aggregate: the Column-API handle (`fns.hllAgg(col("x"))`) and its
  * SQL table entry build the same [[SketchAgg]], after one argument-count
  * check.
  */
final class SketchAggFunction(name: String, adapter: SketchAdapter[_ >: Null <: AnyRef])
    extends Serializable {

  private def build(children: Seq[Expression]): SketchAgg[_] = {
    require(children.length == adapter.inputTypes.length,
      s"$name expects ${adapter.inputTypes.length} argument(s), got ${children.length}")
    SketchAgg(name, adapter, children)
  }

  def apply(cols: Column*): Column = GraftColumns.aggregate(cols)(build)

  /** Its SQL table entry; `usage` as in [[SketchFunctions.entry]]. */
  def entry(usage: String): SketchFunctions.Entry =
    SketchFunctions.entry(name, usage, classOf[SketchAgg[_]], "agg_funcs")(
      build(_).toAggregateExpression())
}

/** Merge and canonical codec of one sketch type, shared by its value and
  * merge aggregates; `Turn` is the composite [[TurnSketches]]'s.
  */
sealed abstract class SketchOps[S](
    val merge: (S, S) => S,
    val toBytes: S => Array[Byte],
    val fromBytes: Array[Byte] => S) extends Serializable {
  override def toString: String = getClass.getSimpleName.stripSuffix("$")
}

object SketchOps {
  object Bloom extends SketchOps[BloomSketch](_ unionInPlace _, _.toBytes, BloomSketch.fromBytes)
  object Cms extends SketchOps[CmsSketch](_ mergeInPlace _, _.toBytes, CmsSketch.fromBytes)
  object Cmm extends SketchOps[CmmSketch](_ mergeInPlace _, _.toBytes, CmmSketch.fromBytes)
  object NGram extends SketchOps[NGramSketch](_ mergeInPlace _, _.toBytes, NGramSketch.fromBytes)
  object TopK extends SketchOps[SpaceSavingSketch](
    _ mergeInPlace _, _.toBytes, SpaceSavingSketch.fromBytes)
  object TDigest extends SketchOps[TDigestSketch](
    _ mergeInPlace _, _.toBytes, TDigestSketch.fromBytes)
  object Kll extends SketchOps[KllSketch](_ mergeInPlace _, _.toBytes, KllSketch.fromBytes)
  object Hll extends SketchOps[HllSketch](_ mergeInPlace _, _.toBytes, HllSketch.fromBytes)
  object Turn extends SketchOps[TurnSketches](_ merge _, TurnSketches.encode, TurnSketches.decode)
}

/** What a [[SketchAgg]] does for one aggregate: its SQL argument types, its
  * empty state, how one input row updates the state, merge, the buffer codec
  * and the result. The result is nullable `BinaryType`, the buffer's bytes,
  * unless the adapter says otherwise.
  */
abstract class SketchAdapter[S >: Null <: AnyRef] extends Serializable {
  def inputTypes: Seq[DataType]
  def zero: S
  /** Fold in one row; `args` are the aggregate's arguments, NULLs included. */
  def update(s: S, input: InternalRow, args: Seq[Expression]): S
  def merge(a: S, b: S): S
  def serialize(s: S): Array[Byte]
  def deserialize(bytes: Array[Byte]): S
  def dataType: DataType = BinaryType
  def nullable: Boolean = true
  def eval(s: S): Any = serialize(s)
}

/** An adapter whose merge and buffer codec are a sketch type's [[SketchOps]]. */
abstract class OpsAdapter[S >: Null <: AnyRef](ops: SketchOps[S]) extends SketchAdapter[S] {
  def merge(a: S, b: S): S = ops.merge(a, b)
  def serialize(s: S): Array[Byte] = ops.toBytes(s)
  def deserialize(bytes: Array[Byte]): S = ops.fromBytes(bytes)
}

/** Value aggregate over one argument, updating the state in place. NULL
  * inputs are skipped: over no rows it returns an empty sketch.
  */
abstract class ValueAdapter[S >: Null <: AnyRef](ops: SketchOps[S], inputType: DataType)
    extends OpsAdapter[S](ops) {
  def inputTypes: Seq[DataType] = Seq(inputType)
  protected def add(s: S, v: Any): Unit
  def update(s: S, input: InternalRow, args: Seq[Expression]): S = {
    val v = args.head.eval(input)
    if (v != null) add(s, v)
    s
  }
}

object SketchAggs {

  // ---- value aggregates ----

  final case class Bloom(w: Int, d: Int) extends ValueAdapter(SketchOps.Bloom, StringType) {
    def zero: BloomSketch = BloomSketch(w, d)
    protected def add(s: BloomSketch, v: Any): Unit = {
      val u = v.asInstanceOf[UTF8String]
      s.addUtf8Memory(u.getBaseObject, u.getBaseOffset, u.numBytes)
    }
  }

  final case class Cms(w: Int, d: Int) extends ValueAdapter(SketchOps.Cms, StringType) {
    def zero: CmsSketch = CmsSketch(w, d)
    protected def add(s: CmsSketch, v: Any): Unit = s.add(v.toString)
  }

  final case class Cmm(w: Int, d: Int) extends ValueAdapter(SketchOps.Cmm, StringType) {
    def zero: CmmSketch = CmmSketch(w, d)
    protected def add(s: CmmSketch, v: Any): Unit = s.add(v.toString)
  }

  final case class NGram(n: Int, caseSensitive: Boolean)
      extends ValueAdapter(SketchOps.NGram, StringType) {
    def zero: NGramSketch = NGramSketch(n, caseSensitive)
    protected def add(s: NGramSketch, v: Any): Unit = s.add(v.toString)
  }

  final case class TopK(capacity: Int) extends ValueAdapter(SketchOps.TopK, StringType) {
    def zero: SpaceSavingSketch = SpaceSavingSketch(capacity)
    protected def add(s: SpaceSavingSketch, v: Any): Unit = s.add(v.toString)
  }

  /** Weighted top-k over (value, count) pairs, e.g. pre-aggregated partials.
    * A NULL value is skipped; a NULL count adds the value with count 0.
    */
  final case class TopKWeighted(capacity: Int) extends OpsAdapter(SketchOps.TopK) {
    def inputTypes: Seq[DataType] = Seq(StringType, LongType)
    def zero: SpaceSavingSketch = SpaceSavingSketch(capacity)
    def update(s: SpaceSavingSketch, input: InternalRow, args: Seq[Expression])
        : SpaceSavingSketch = {
      val v = args.head.eval(input)
      if (v != null) {
        val c = args(1).eval(input)
        s.add(v.toString, if (c == null) 0L else c.asInstanceOf[Long])
      }
      s
    }
  }

  final case class TDigest(nc: Int) extends ValueAdapter(SketchOps.TDigest, DoubleType) {
    def zero: TDigestSketch = TDigestSketch.fast(nc)
    protected def add(s: TDigestSketch, v: Any): Unit = s.add(v.asInstanceOf[Double])
  }

  final case class Kll(k: Int) extends ValueAdapter(SketchOps.Kll, DoubleType) {
    def zero: KllSketch = KllSketch(k)
    protected def add(s: KllSketch, v: Any): Unit = s.add(v.asInstanceOf[Double])
  }

  final case class Hll(p: Int) extends ValueAdapter(SketchOps.Hll, StringType) {
    def zero: HllSketch = HllSketch(p)
    protected def add(s: HllSketch, v: Any): Unit = {
      val u = v.asInstanceOf[UTF8String]
      s.addUtf8Memory(u.getBaseObject, u.getBaseOffset, u.numBytes)
    }
  }

  /** Long-keyed HLL: hashes the 8-byte value, with no string formatting. */
  final case class HllLong(p: Int) extends ValueAdapter(SketchOps.Hll, LongType) {
    def zero: HllSketch = HllSketch(p)
    protected def add(s: HllSketch, v: Any): Unit = s.addLong(v.asInstanceOf[Long])
  }

  // ---- merge aggregates: re-aggregate BinaryType sketch columns (the
  //      treeReduce-style second level, SURVEY.md §3.3) ----

  /** The state stays null, and crosses shuffle as empty bytes, until the
    * first non-NULL sketch: with no non-NULL input the result is NULL.
    */
  final case class Merge[S >: Null <: AnyRef](sketch: SketchOps[S])
      extends OpsAdapter[S](sketch) {
    def inputTypes: Seq[DataType] = Seq(BinaryType)
    def zero: S = null
    def update(s: S, input: InternalRow, args: Seq[Expression]): S = {
      val v = args.head.eval(input)
      if (v == null) s else merge(s, sketch.fromBytes(v.asInstanceOf[Array[Byte]]))
    }
    override def merge(a: S, b: S): S =
      if (a == null) b else if (b == null) a else sketch.merge(a, b)
    override def serialize(s: S): Array[Byte] =
      if (s == null) Array.emptyByteArray else sketch.toBytes(s)
    override def deserialize(bytes: Array[Byte]): S =
      if (bytes.isEmpty) null else sketch.fromBytes(bytes)
    override def eval(s: S): Any = if (s == null) null else sketch.toBytes(s)
  }
}
