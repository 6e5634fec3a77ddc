package graft.text

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

import graft.text.CappedBucketAgg.ensureSlots

/** The capped-bucket aggregates as they ran through `udaf()` before
  * [[CappedBucketAgg]] replaced them, kept unchanged as the reference the
  * native aggregate's finished arrays are checked against.
  */
object ReferenceCappedAggs {
  /** Fixed-stride occupants: one occupant is `stride` consecutive Long
    * slots, at most `cap + 1` of them (the extra one the overflow marker).
    */
  sealed abstract class CappedOccupantsAgg[IN](cap: Int, stride: Int)
      extends Aggregator[IN, Array[Long], Array[Long]] {
    /** Write the occupant's `stride` slots at `b(p)…b(p+stride-1)` and
      * return true, or write nothing and return false (null occupant);
      * called only while the buffer is below `cap + 1` occupants and with
      * `stride` slots of capacity guaranteed.
      */
    protected def write(v: IN, b: Array[Long], p: Int): Boolean
    // Buffer layout: slot 0 = used length (header included), occupant
    // slots from index 1, encoded as a Catalyst array at its capacity.
    final def zero: Array[Long] = { val b = new Array[Long](1 + 8 * stride); b(0) = 1; b }
    final def reduce(b0: Array[Long], v: IN): Array[Long] = {
      val used = b0(0).toInt
      if (used - 1 > stride * cap) return b0
      val b = ensureSlots(b0, used + stride)
      if (write(v, b, used)) b(0) = used + stride
      b
    }
    final def merge(a0: Array[Long], c: Array[Long]): Array[Long] = {
      val cUsed = c(0).toInt
      var a = a0
      var i = 1
      while (a(0).toInt - 1 <= stride * cap && i + stride <= cUsed) {
        val p = a(0).toInt
        a = ensureSlots(a, p + stride)
        System.arraycopy(c, i, a, p, stride)
        a(0) = p + stride
        i += stride
      }
      a
    }
    final def finish(b: Array[Long]): Array[Long] =
      java.util.Arrays.copyOfRange(b, 1, b(0).toInt)
    final def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    final def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Bare-id occupants (stride 1). */
  final class CappedIdsAgg(cap: Int) extends CappedOccupantsAgg[java.lang.Long](cap, 1) {
    protected def write(v: java.lang.Long, b: Array[Long], p: Int): Boolean = {
      if (v == null) return false
      b(p) = v.longValue(); true
    }
  }

  /** `(id, tag)` occupants, interleaved `[id0, tag0, …]` (stride 2). */
  final class CappedTaggedIdsAgg(cap: Int)
      extends CappedOccupantsAgg[(java.lang.Long, java.lang.Long)](cap, 2) {
    protected def write(v: (java.lang.Long, java.lang.Long), b: Array[Long], p: Int)
        : Boolean = {
      if (v == null || v._1 == null || v._2 == null) return false
      b(p) = v._1.longValue(); b(p + 1) = v._2.longValue(); true
    }
  }

  /** Framed occupants `[len, xid, g_1 … g_len]`, at most `cap + 1` of
    * them; finishes to `[count, frames…]`.
    */
  final class CappedFramedPrefixAgg(cap: Int)
      extends Aggregator[(java.lang.Long, Array[Long]), Array[Long], Array[Long]] {
    // Buffer layout: slot 0 = occupant count, slot 1 = used length (header
    // included), frames from index 2.
    def zero: Array[Long] = { val b = new Array[Long](64); b(1) = 2; b }
    def reduce(b0: Array[Long], v: (java.lang.Long, Array[Long])): Array[Long] = {
      if (v == null || v._1 == null || v._2 == null) return b0
      if (b0(0) > cap) return b0
      val len = v._2.length
      val b = ensureSlots(b0, b0(1) + len + 2)
      val p = b(1).toInt
      b(p) = len.toLong
      b(p + 1) = v._1.longValue()
      System.arraycopy(v._2, 0, b, p + 2, len)
      b(1) += len + 2
      b(0) += 1
      b
    }
    def merge(a0: Array[Long], c: Array[Long]): Array[Long] = {
      val cUsed = c(1).toInt
      var a = a0
      var i = 2
      while (a(0) <= cap && i < cUsed) {
        val len = c(i).toInt
        a = ensureSlots(a, a(1) + len + 2)
        val p = a(1).toInt
        System.arraycopy(c, i, a, p, len + 2)
        a(1) += len + 2
        a(0) += 1
        i += len + 2
      }
      a
    }
    def finish(b: Array[Long]): Array[Long] = {
      if (b(0) == 0L) return Array.emptyLongArray
      val out = new Array[Long](b(1).toInt - 1)
      out(0) = b(0)
      System.arraycopy(b, 2, out, 1, b(1).toInt - 2)
      out
    }
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }
}
