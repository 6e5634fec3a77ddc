package graft.sketch

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sketch.agg.{TurnInput, TurnSketchAgg, TurnSketches}

/** The composite transcript state: its `byte[]` and `UTF8String` adds agree,
  * and its codec (the `udaf()` and native aggregates' shuffle and spill
  * format) round-trips and fails corrupt buffers with a typed error.
  */
class TurnSketchesSpec extends AnyFunSuite {

  // a small CMS keeps the buffer small; the Bloom is on, so every part is non-empty
  private val agg = new TurnSketchAgg(cmsWidth = 64, cmsDepth = 3, bloomW = 2048)

  private val rows: Seq[(String, String, java.lang.Double)] = (0 until 300).map { i =>
    (if (i % 7 == 3) null else (if (i % 4 == 0) "ü" else "c") + (i % 41),
      if (i % 5 == 1) null else Seq("search", "bash", "", "édit")(i % 4),
      if (i % 6 == 2) null else java.lang.Double.valueOf(i % 97 / 3.0))
  }

  private def viaBytes: TurnSketches = rows.foldLeft(agg.zero) { case (b, (c, t, l)) =>
    agg.reduce(b, TurnInput(Option(c).map(_.getBytes("UTF-8")).orNull,
      Option(t).map(_.getBytes("UTF-8")).orNull, l))
  }

  private def bytesOf(t: TurnSketches): Seq[Any] = {
    val r = t.result
    r.parts.map(_.toSeq) :+ r.turns
  }

  test("byte[] and UTF8String adds build the same state, non-ASCII ids included") {
    val viaUtf8 = agg.zero
    rows.foreach { case (c, t, l) =>
      viaUtf8.add(UTF8String.fromString(c), UTF8String.fromString(t),
        if (l == null) 0.0 else l.doubleValue(), l != null)
    }
    assert(bytesOf(viaUtf8) == bytesOf(viaBytes))
    assert(viaUtf8.result.turns == rows.size)
  }

  test("composite codec round-trips; corrupt buffers fail with a typed error") {
    val good = TurnSketches.encode(viaBytes)
    assert(bytesOf(TurnSketches.decode(good)) == bytesOf(viaBytes))

    def rejects(how: String, bad: Array[Byte]): Unit = {
      val e = intercept[IllegalArgumentException](TurnSketches.decode(bad))
      assert(e.getMessage.startsWith("corrupt turn-sketch buffer at offset "), s"$how: $e")
    }
    (0 until good.length).foreach(n => rejects(s"truncated to $n", good.take(n)))
    rejects("trailing byte", good :+ 0.toByte)
    // each part's length prefix: its sign bit, then its bit 30 (a ~1 GB request)
    var at = 8
    (0 until 6).foreach { i =>
      val len = java.nio.ByteBuffer.wrap(good, at, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
      for (mask <- Seq(0x80, 0x40)) {
        val bad = good.clone(); bad(at + 3) = (bad(at + 3) ^ mask).toByte
        rejects(s"part $i prefix ^ $mask", bad)
      }
      at += 4 + len
    }
  }
}
