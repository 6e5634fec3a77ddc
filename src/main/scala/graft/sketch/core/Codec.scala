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
  final val TagSimHash: Byte = 10

  def writer(capacity: Int, tag: Byte): ByteBuffer = {
    val bb = ByteBuffer.allocate(capacity).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Magic).put(tag).put(1.toByte)
    bb
  }

  /** Check the header, then decode with `read`; a cell that ends early fails
    * with the same typed error as a bad length prefix.
    */
  def decode[T](bytes: Array[Byte], expectTag: Byte)(read: ByteBuffer => T): T = {
    if (bytes.length < 3) throw corrupt(expectTag, 0, s"${bytes.length} bytes, no header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.get(); val tag = bb.get(); val ver = bb.get()
    require(magic == Magic, s"bad sketch magic byte: $magic")
    require(tag == expectTag, s"sketch type mismatch: got tag $tag, expected $expectTag")
    require(ver == 1, s"unsupported sketch codec version: $ver")
    try read(bb)
    catch {
      case _: java.nio.BufferUnderflowException =>
        throw corrupt(expectTag, bb.position(), s"sketch ends early (${bytes.length} bytes)")
    }
  }

  def corrupt(tag: Byte, offset: Int, why: String): IllegalArgumentException =
    new IllegalArgumentException(s"corrupt sketch (tag $tag) at offset $offset: $why")

  /** Read a count of items that take at least `itemBytes` each, rejecting any
    * count the bytes left cannot hold before anything is allocated for it.
    */
  def readCount(bb: ByteBuffer, itemBytes: Int): Int = {
    val n = bb.getInt()
    if (n < 0 || n.toLong * itemBytes > bb.remaining) badCount(bb, n)
    n
  }
  // out of line, so the check above stays small enough to inline into decode loops
  private def badCount(bb: ByteBuffer, n: Int): Nothing = throw corrupt(bb.get(1),
    bb.position() - 4, s"length prefix $n exceeds the ${bb.remaining} bytes left")

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
  def readString(bb: ByteBuffer): String = {
    val n = readCount(bb, 1); val b = new Array[Byte](n); bb.get(b)
    new String(b, "UTF-8")
  }
}
