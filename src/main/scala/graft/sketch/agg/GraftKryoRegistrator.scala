package graft.sketch.agg

import com.esotericsoftware.kryo.{Kryo, Serializer}
import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.spark.serializer.KryoRegistrator

import graft.text.MinHashSketch

/** Kryo serializers for the two aggregation buffers still held through
  * `Encoders.kryo`, `TurnSketches` (`TurnSketchAgg`) and `MinHashSketch`
  * (`TextFunctions.MinHashAgg`): each serializes through its canonical binary
  * codec and a level-1 deflate instead of Kryo's field-walking default.
  *
  * Activate per session:
  * `.config("spark.kryo.registrator", "graft.sketch.agg.GraftKryoRegistrator")`
  */
class GraftKryoRegistrator extends KryoRegistrator {

  private def codecSerializer[T](enc: T => Array[Byte], dec: Array[Byte] => T): Serializer[T] =
    new Serializer[T] {
      override def write(kryo: Kryo, out: Output, t: T): Unit = {
        val raw = enc(t)
        val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
        deflater.setInput(raw)
        deflater.finish()
        val buf = new Array[Byte](raw.length + 64)
        val bos = new java.io.ByteArrayOutputStream(math.max(64, raw.length / 8))
        while (!deflater.finished()) {
          val n = deflater.deflate(buf)
          bos.write(buf, 0, n)
        }
        deflater.end()
        val packed = bos.toByteArray
        out.writeInt(raw.length, true)
        out.writeInt(packed.length, true)
        out.writeBytes(packed)
      }
      override def read(kryo: Kryo, in: Input, cls: Class[T]): T = {
        val rawLen = in.readInt(true)
        val packedLen = in.readInt(true)
        val packed = in.readBytes(packedLen)
        val inflater = new java.util.zip.Inflater()
        inflater.setInput(packed)
        val raw = new Array[Byte](rawLen)
        var off = 0
        while (off < rawLen && !inflater.finished()) {
          off += inflater.inflate(raw, off, rawLen - off)
        }
        inflater.end()
        dec(raw)
      }
    }

  override def registerClasses(kryo: Kryo): Unit = {
    kryo.register(classOf[MinHashSketch],
      codecSerializer[MinHashSketch](_.toBytes, MinHashSketch.fromBytes))
    kryo.register(classOf[TurnSketches],
      codecSerializer[TurnSketches](TurnSketches.encode, TurnSketches.decode))
  }
}
