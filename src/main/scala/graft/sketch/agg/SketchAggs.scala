package graft.sketch.agg

import org.apache.spark.sql.{Column, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sketch._
import graft.sketch.core.Fnv1a

/** One native Catalyst aggregate behind every per-sketch SQL aggregate
  * (`hll_agg`, `kll_agg`, ... and the `*_merge_agg`s), modelled on
  * `TurnSketchNativeAgg`. The live sketch is the aggregation buffer, so these
  * run in `ObjectHashAggregateExec`. Rows are read straight from the
  * `InternalRow`: strings are hashed from UTF8String memory where the sketch
  * has a memory hash, and merge aggregates decode the `BinaryType` cell.
  * Buffers cross shuffle, spill and the sort-based fallback as the sketch's
  * canonical codec bytes. What differs per sketch is its [[SketchAdapter]].
  *
  * Arguments are implicitly cast to the adapter's input types (an INT column
  * into `kll_agg` is cast to DOUBLE, into `hll_agg` to STRING); any other type
  * fails at analysis, naming the function. NULL inputs are skipped: a value
  * aggregate over no rows returns an empty sketch, and a merge aggregate with
  * no non-NULL input returns NULL.
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
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): S = adapter.zero
  override def update(s: S, input: InternalRow): S = {
    val v = children.head.eval(input)
    if (v == null) s else adapter.update(s, v, input, children)
  }
  override def merge(a: S, b: S): S =
    if (a == null) b else if (b == null) a else adapter.ops.merge(a, b)
  override def eval(s: S): Any = if (s == null) null else adapter.ops.toBytes(s)

  // a merge aggregate's buffer stays null until its first non-NULL sketch
  override def serialize(s: S): Array[Byte] =
    if (s == null) Array.emptyByteArray else adapter.ops.toBytes(s)
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes.isEmpty) null else adapter.ops.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): SketchAgg[S] =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SketchAgg[S] =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[S] = copy(children = newChildren)
}

/** A named sketch aggregate: the Column-API handle (`fns.hllAgg(col("x"))`)
  * and its session-scoped SQL registration build the same [[SketchAgg]].
  */
final class SketchAggFunction(name: String, adapter: SketchAdapter[_ >: Null <: AnyRef])
    extends Serializable {

  private def build(fn: String)(children: Seq[Expression]): SketchAgg[_] = {
    require(children.length == adapter.inputTypes.length,
      s"$fn expects ${adapter.inputTypes.length} argument(s), got ${children.length}")
    SketchAgg(fn, adapter, children)
  }

  def apply(cols: Column*): Column = GraftColumns.aggregate(cols)(build(name))

  def register(spark: SparkSession, prefix: String): Unit = {
    val fn = prefix + name
    spark.sessionState.functionRegistry.registerFunction(FunctionIdentifier(fn),
      new ExpressionInfo(classOf[SketchAgg[_]].getName, null, fn),
      children => build(fn)(children).toAggregateExpression())
  }
}

/** Merge and canonical codec of one sketch type, shared by its value and
  * merge aggregates.
  */
sealed abstract class SketchOps[S](
    val merge: (S, S) => S,
    val toBytes: S => Array[Byte],
    val fromBytes: Array[Byte] => S) extends Serializable

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
}

/** What a [[SketchAgg]] does for one sketch: its SQL argument types, its
  * empty state, and how one input row updates the state.
  */
abstract class SketchAdapter[S >: Null <: AnyRef](val ops: SketchOps[S]) extends Serializable {
  def inputTypes: Seq[DataType]
  /** Empty state; null for merge aggregates, which take the first sketch. */
  def zero: S
  /** Fold in a row whose first argument `v` is not NULL. */
  def update(s: S, v: Any, input: InternalRow, args: Seq[Expression]): S
}

/** Value aggregate over one argument, updating the state in place. */
abstract class ValueAdapter[S >: Null <: AnyRef](ops: SketchOps[S], inputType: DataType)
    extends SketchAdapter[S](ops) {
  def inputTypes: Seq[DataType] = Seq(inputType)
  protected def add(s: S, v: Any): Unit
  def update(s: S, v: Any, input: InternalRow, args: Seq[Expression]): S = { add(s, v); s }
}

object SketchAggs {

  // ---- value aggregates ----

  final case class Bloom(w: Int, d: Int) extends ValueAdapter(SketchOps.Bloom, StringType) {
    def zero: BloomSketch = BloomSketch(w, d)
    // FNV-1a over the UTF-8 bytes equals the String hash for ASCII; other
    // strings take the String path (the reference hashes UTF-16 units)
    protected def add(s: BloomSketch, v: Any): Unit = {
      val u = v.asInstanceOf[UTF8String]
      val h = Fnv1a.fnv1aUtf8MemoryOrSentinel(u.getBaseObject, u.getBaseOffset, u.numBytes)
      if (h != Fnv1a.NonAscii) s.addFnv(h.toInt) else s.add(u.toString)
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
    * A NULL count adds the value with count 0.
    */
  final case class TopKWeighted(capacity: Int) extends SketchAdapter(SketchOps.TopK) {
    def inputTypes: Seq[DataType] = Seq(StringType, LongType)
    def zero: SpaceSavingSketch = SpaceSavingSketch(capacity)
    def update(s: SpaceSavingSketch, v: Any, input: InternalRow, args: Seq[Expression])
        : SpaceSavingSketch = {
      val c = args(1).eval(input)
      s.add(v.toString, if (c == null) 0L else c.asInstanceOf[Long])
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

  final case class Merge[S >: Null <: AnyRef](sketch: SketchOps[S])
      extends SketchAdapter[S](sketch) {
    def inputTypes: Seq[DataType] = Seq(BinaryType)
    def zero: S = null
    def update(s: S, v: Any, input: InternalRow, args: Seq[Expression]): S = {
      val other = sketch.fromBytes(v.asInstanceOf[Array[Byte]])
      if (s == null) other else sketch.merge(s, other)
    }
  }
}
