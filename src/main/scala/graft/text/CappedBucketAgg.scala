package graft.text

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.sketch.agg.SketchAdapter

/** Ingest-capped bucket occupant collection, the grouping step of every
  * LSH / prefix-filter candidate search, as a [[graft.sketch.agg.SketchAgg]]
  * over the [[CappedBucketAgg.Capped]] adapter (so it runs in
  * `ObjectHashAggregateExec` with no per-row encoder). The cap is enforced
  * at INGEST: the buffer never holds more than `cap + 1` occupants, so a
  * degenerate hot bucket (millions of rows under one band key —
  * boilerplate/empty docs, near-zero vectors) costs O(cap) memory instead of
  * materializing the whole bucket before a size filter. A result with more
  * than `cap` occupants means "overflowed — drop this bucket" (the extra
  * occupant is the overflow marker). Overflow propagates through `merge` in
  * every merge order: once either side has reached `cap + 1` occupants the
  * merged buffer has too.
  *
  * The buffer is a flat primitive `Array[Long]`: slot 0 holds the used
  * length (header included), slot 1 the occupant count, occupants follow
  * from slot 2 and capacity grows geometrically. A partial buffer crosses
  * shuffle, spill and the sort-based fallback as its used slots only, as
  * little-endian longs; the finished value is an `array<bigint>` built
  * straight from the buffer. What differs per occupant [[CappedBucketAgg.Shape]]
  * is its input columns, how many slots one occupant takes, and whether
  * the finished array leads with the count. NULL inputs are skipped.
  */
object CappedBucketAgg {
  private[text] final val Used = 0
  private[text] final val Count = 1
  private[text] final val Header = 2

  /** The JDK's array-growth ceiling (`ArraysSupport.SOFT_MAX_ARRAY_LENGTH`). */
  private[text] val MaxBufferSlots: Int = Int.MaxValue - 8

  /** `b`, or a copy grown (doubling) to hold `need` slots. The cap bounds
    * the occupant count, but a framed occupant's length comes from
    * input, so a need past [[MaxBufferSlots]] fails here, typed and with
    * the slot count, not later with an index or VM-limit error.
    */
  private[text] def ensureSlots(b: Array[Long], need: Long): Array[Long] =
    if (need <= b.length) b
    else if (need > MaxBufferSlots)
      throw new IllegalArgumentException(
        s"capped bucket buffer needs $need slots, over the $MaxBufferSlots-slot array limit")
    else java.util.Arrays.copyOf(b, math.min(math.max(2L * b.length, need),
      MaxBufferSlots.toLong).toInt)

  /** `b`, or its grown copy, with one more occupant of `n` slots claimed at
    * the old used length, whose slots the caller has written or will write.
    */
  private def claim(b0: Array[Long], n: Int): Array[Long] = {
    val b = ensureSlots(b0, b0(Used) + n)
    b(Used) += n
    b(Count) += 1
    b
  }

  /** Occupants of `shape`, at most `cap + 1` per bucket. */
  final case class Capped(shape: Shape, cap: Int) extends SketchAdapter[Array[Long]] {
    def inputTypes: Seq[DataType] = shape.inputTypes
    def zero: Array[Long] = { val b = new Array[Long](32); b(Used) = Header; b }
    def update(b: Array[Long], input: InternalRow, args: Seq[Expression]): Array[Long] =
      if (b(Count) > cap) b else shape.add(b, input, args)
    def merge(a0: Array[Long], c: Array[Long]): Array[Long] = {
      val cUsed = c(Used).toInt
      var a = a0
      var i = Header
      while (a(Count) <= cap && i < cUsed) {
        val n = shape.slots(c, i)
        val p = a(Used).toInt
        a = claim(a, n)
        System.arraycopy(c, i, a, p, n)
        i += n
      }
      a
    }
    def serialize(b: Array[Long]): Array[Byte] = {
      val used = b(Used).toInt
      val bb = ByteBuffer.allocate(8 * used).order(ByteOrder.LITTLE_ENDIAN)
      bb.asLongBuffer().put(b, 0, used)
      bb.array()
    }
    def deserialize(bytes: Array[Byte]): Array[Long] = {
      val b = new Array[Long](bytes.length / 8)
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(b)
      require(bytes.length % 8 == 0 && b.length >= Header && b(Used) == b.length,
        s"corrupt capped bucket buffer: ${bytes.length} bytes")
      b
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def eval(b: Array[Long]): Any = {
      val from = shape.resultFrom(b)
      UnsafeArrayData.fromPrimitiveArray(
        b, Platform.LONG_ARRAY_OFFSET + 8 * from, b(Used).toInt - from, 8)
    }
  }

  /** What one occupant is: its input columns and its slots in the buffer. */
  sealed abstract class Shape(val name: String, val inputTypes: Seq[DataType])
      extends Serializable {
    /** Slots of the occupant that starts at `b(i)`. */
    def slots(b: Array[Long], i: Int): Int
    /** `b` with the row's occupant appended, or without it when a field is NULL. */
    def add(b: Array[Long], input: InternalRow, args: Seq[Expression]): Array[Long]
    /** First slot of the finished array; the finished array runs to the used length. */
    def resultFrom(b: Array[Long]): Int = Header
  }

  /** `stride` BIGINT columns per occupant, stored side by side. */
  final case class Fixed(override val name: String, stride: Int)
      extends Shape(name, Seq.fill(stride)(LongType)) {
    def slots(b: Array[Long], i: Int): Int = stride
    def add(b0: Array[Long], input: InternalRow, args: Seq[Expression]): Array[Long] = {
      val p = b0(Used).toInt
      val b = ensureSlots(b0, p + stride)
      var k = 0
      while (k < stride) {
        val v = args(k).eval(input)
        if (v == null) return b // slots past the used length are free
        b(p + k) = v.asInstanceOf[Long]
        k += 1
      }
      claim(b, stride)
    }
  }

  /** Bare ids. */
  val Ids: Shape = Fixed("capped_ids_agg", 1)

  /** `(id, tag)` occupants interleaved as `[id0, tag0, id1, tag1, …]`: the
    * tag is a 64-bit payload (e.g. the SimHash fingerprint) carried through
    * banding so a similarity gate can run on the pair stream.
    */
  val TaggedIds: Shape = Fixed("capped_tagged_ids_agg", 2)

  /** Variable-length occupants for the prefix-filtered similarity join:
    * one occupant is the frame `[len, xid, g_1 … g_len]`, a document id and
    * its whole sorted prefix-token array, so [[TextFunctions.prefixBucketPairs]]
    * can count each candidate pair's full shared prefix locally and the
    * per-pair hit rows (Σ C(occ,2) of them, 31M at sf0.1) never cross a
    * shuffle. The finished array is `[count, frames…]`, or empty for a
    * bucket with no occupant.
    */
  case object FramedPrefixes
      extends Shape("capped_prefix_agg", Seq(LongType, ArrayType(LongType))) {
    def slots(b: Array[Long], i: Int): Int = b(i).toInt + 2
    def add(b: Array[Long], input: InternalRow, args: Seq[Expression]): Array[Long] = {
      val xid = args.head.eval(input)
      val prefix = args(1).eval(input)
      if (xid == null || prefix == null) return b
      val g = prefix.asInstanceOf[ArrayData]
      val len = g.numElements()
      val p = b(Used).toInt
      val out = claim(b, len + 2)
      out(p) = len
      out(p + 1) = xid.asInstanceOf[Long]
      var k = 0
      while (k < len) { out(p + 2 + k) = g.getLong(k); k += 1 }
      out
    }
    override def resultFrom(b: Array[Long]): Int = if (b(Count) == 0) b(Used).toInt else Count
  }
}
