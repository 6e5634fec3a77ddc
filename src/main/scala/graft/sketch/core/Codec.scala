package graft.sketch.core

import java.nio.{ByteBuffer, ByteOrder}

/** Little-endian binary framing shared by all sketch codecs: 1 magic byte,
  * 1 type tag, 1 version byte, then a type-specific payload. Sketches are
  * stored as `BinaryType` columns and in checkpoint files (SURVEY.md §2.5).
  */
object Codec {
  final val Magic: Byte = 0x47 // 'G'

  final val TagBloom: Byte = 1
  final val TagCms: Byte = 2
  final val TagCmm: Byte = 3
  final val TagNGram: Byte = 4
  final val TagSpaceSaving: Byte = 5
  final val TagTDigest: Byte = 6
  final val TagHll: Byte = 7
  final val TagKll: Byte = 8
  final val TagMinHash: Byte = 9

  def writer(capacity: Int, tag: Byte): ByteBuffer = {
    val bb = ByteBuffer.allocate(capacity).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic).put(tag).put(1.toByte)
    bb
  }

  /** Check the header, then decode the rest with `read`, which must consume
    * every byte. A short read, a bad length prefix or trailing bytes fail
    * with `corrupt`'s typed error.
    */
  def decode[T](bytes: Array[Byte], expectTag: Byte)(read: ByteBuffer => T): T = {
    if (bytes.length < 3) throw corrupt(expectTag, 0, s"${bytes.length} bytes, no header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.get(); val tag = bb.get(); val ver = bb.get()
    require(magic == Magic, s"bad sketch magic byte: $magic")
    require(tag == expectTag, s"sketch type mismatch: got tag $tag, expected $expectTag")
    require(ver == 1, s"unsupported sketch codec version: $ver")
    readAll(bb, corrupt(expectTag, _, _))(read)
  }

  def corrupt(tag: Byte, offset: Int, why: String): IllegalArgumentException =
    new IllegalArgumentException(s"corrupt sketch (tag $tag) at offset $offset: $why")

  /** A failed sketch shape rule. Where a sketch is built from parts (JSON
    * import, `fromWords`) it is a plain `IllegalArgumentException`; inside
    * [[decode]] it becomes `corrupt`'s error at the offset read so far.
    */
  final class BadShape(why: String) extends IllegalArgumentException(why)
  def requireShape(ok: Boolean, why: => String): Unit = if (!ok) throw new BadShape(why)

  /** Decode a framing with no sketch header (the composite aggregation
    * buffer, SketchJob checkpoints) with `read`, which must consume every
    * byte. A short read, a bad length prefix or trailing bytes fail with one
    * typed error naming `what`.
    */
  def decodeUntagged[T](bytes: Array[Byte], what: String)(read: ByteBuffer => T): T =
    readAll(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN),
      (offset, why) => new IllegalArgumentException(s"corrupt $what at offset $offset: $why"))(read)

  private def readAll[T](bb: ByteBuffer, fail: (Int, String) => IllegalArgumentException)(
      read: ByteBuffer => T): T = {
    val t = try read(bb)
    catch {
      case e: BadLength => throw fail(e.offset, e.getMessage)
      case e: BadShape => throw fail(bb.position(), e.getMessage)
      case _: java.nio.BufferUnderflowException =>
        throw fail(bb.position(), s"ends early (${bb.limit} bytes)")
    }
    if (bb.hasRemaining) throw fail(bb.position(), s"${bb.remaining} trailing bytes")
    t
  }

  /** A length prefix at `offset` the bytes left cannot hold; the decoder names the framing. */
  final class BadLength(val offset: Int, why: String) extends IllegalArgumentException(why)

  /** Read a count of items that take at least `itemBytes` each, rejecting any
    * count the bytes left cannot hold before anything is allocated for it.
    */
  def readCount(bb: ByteBuffer, itemBytes: Int): Int = {
    val n = bb.getInt()
    if (n < 0 || n.toLong * itemBytes > bb.remaining) badCount(bb, n)
    n
  }
  // out of line, so the check above stays small enough to inline into decode loops
  private def badCount(bb: ByteBuffer, n: Int): Nothing = throw new BadLength(
    bb.position() - 4, s"length prefix $n exceeds the ${bb.remaining} bytes left")

  /** A length-prefixed byte string, its prefix checked before allocating. */
  def readBytes(bb: ByteBuffer): Array[Byte] = {
    val a = new Array[Byte](readCount(bb, 1)); bb.get(a); a
  }

  def finish(bb: ByteBuffer): Array[Byte] = {
    val out = new Array[Byte](bb.position())
    bb.flip(); bb.get(out)
    out
  }

  def writeIntArray(bb: ByteBuffer, a: Array[Int]): Unit = {
    bb.putInt(a.length); var i = 0
    while (i < a.length) { bb.putInt(a(i)); i += 1 }
  }
  def readIntArray(bb: ByteBuffer): Array[Int] = {
    val n = readCount(bb, 4); val a = new Array[Int](n); var i = 0
    while (i < n) { a(i) = bb.getInt(); i += 1 }
    a
  }
  def writeLongArray(bb: ByteBuffer, a: Array[Long]): Unit = {
    bb.putInt(a.length); var i = 0
    while (i < a.length) { bb.putLong(a(i)); i += 1 }
  }
  def readLongArray(bb: ByteBuffer): Array[Long] = {
    val n = readCount(bb, 8); val a = new Array[Long](n); var i = 0
    while (i < n) { a(i) = bb.getLong(); i += 1 }
    a
  }
  def writeDoubleArray(bb: ByteBuffer, a: Array[Double], len: Int): Unit = {
    bb.putInt(len); var i = 0
    while (i < len) { bb.putDouble(a(i)); i += 1 }
  }
  def readDoubleArray(bb: ByteBuffer): Array[Double] = {
    val n = readCount(bb, 8); val a = new Array[Double](n); var i = 0
    while (i < n) { a(i) = bb.getDouble(); i += 1 }
    a
  }
  def writeString(bb: ByteBuffer, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    bb.putInt(b.length); bb.put(b)
  }
  def readString(bb: ByteBuffer): String = new String(readBytes(bb), "UTF-8")
}
