package graft.sketch

import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite

import graft.sketch.core.XxHash64

/** Fixed-input answers for every `XxHash64` entry point. HLL, KLL, MinHash,
  * the near-dup shingles and the generators all key off these values, so a
  * change to any of them changes stored sketch bytes and query answers.
  */
class XxHash64Spec extends AnyFunSuite {
  private def bytes(n: Int): Array[Byte] = Array.tabulate(n)(i => ((i * 131 + 7) & 0xff).toByte)

  private val Seed2 = 0x9e3779b97f4a7c15L

  // (length, seed, hash): one row per length class of the algorithm — the
  // empty input, the 1-byte and 4-byte tails, the 8-byte lanes and the
  // 32-byte stripes — at two seeds
  private val byteVectors = Seq(
    (0, 0L, 0xef46db3751d8e999L), (1, 0L, 0xa96c7f0ce858bbb7L),
    (3, 0L, 0xbed43740ee6332bbL), (4, 0L, 0xfa212ae44b3bb23dL),
    (7, 0L, 0x2744460dd675d2c0L), (8, 0L, 0x994b676b71ce94ddL),
    (31, 0L, 0x6711d55e306b5d8fL), (32, 0L, 0x07f7b8e3bc5d6e25L),
    (33, 0L, 0x09f85eeb4e1cbe9fL), (63, 0L, 0xb7c9968c066cb6a5L),
    (64, 0L, 0x50d4159a0411632eL), (100, 0L, 0x9ddada11d3dc2d8fL),
    (0, Seed2, 0xc4349fc93c010000L), (1, Seed2, 0x585882422a6165e7L),
    (3, Seed2, 0x45fa1406538fa168L), (4, Seed2, 0xa65107f22943365aL),
    (7, Seed2, 0xc9b637e2c4599de2L), (8, Seed2, 0xce592d5f53e192ecL),
    (31, Seed2, 0x24c4e99ab0404b5eL), (32, Seed2, 0x046e99bbda1a814bL),
    (33, Seed2, 0xd7fe2bfee6e4cdedL), (63, Seed2, 0xbd457f9ea47180c8L),
    (64, Seed2, 0xa768f350a8e4fcf6L), (100, Seed2, 0x35546bd9a4779ae4L))

  test("hashBytes: fixed answers for every length class at two seeds") {
    byteVectors.foreach { case (n, seed, e) =>
      assert(XxHash64.hashBytes(bytes(n), seed) == e, s"hashBytes(len=$n, seed=$seed)")
    }
  }

  test("hashMemory at a non-zero offset into a larger array equals hashBytes") {
    byteVectors.foreach { case (n, seed, e) =>
      val big = new Array[Byte](n + 13)
      System.arraycopy(bytes(n), 0, big, 5, n)
      assert(XxHash64.hashMemory(big, Platform.BYTE_ARRAY_OFFSET + 5L, n, seed) == e,
        s"hashMemory(len=$n, seed=$seed)")
    }
  }

  test("hash(String): the published seed-0 vectors and UTF-8 strings") {
    Seq(
      ("", 0L, 0xef46db3751d8e999L), ("a", 0L, 0xd24ec4f1a98c6e5bL),
      ("abc", 0L, 0x44bc2cf5ad770999L), ("conv-00001234", 0L, 0x4e589eddc5b72733L),
      ("héllo wörld", 0L, 0x60041bfec530413cL),
      ("日本語テスト", 0L, 0x050ebbc09d72986cL),
      ("", 42L, 0x98b1582b0977e704L), ("a", 42L, 0x88e4fe59adf7b0ccL),
      ("abc", 42L, 0x13c1d910702770e6L), ("conv-00001234", 42L, 0x12f42be4e9393d8cL),
      ("héllo wörld", 42L, 0x69bfed4b526a95afL),
      ("日本語テスト", 42L, 0x91c63fbc4df4841aL)
    ).foreach { case (s, seed, e) =>
      assert(XxHash64.hash(s, seed) == e, s"hash($s, seed=$seed)")
    }
  }

  test("hashLong: fixed answers at two seeds") {
    Seq(
      (0L, 0L, 0x34c96acdcadb1bbbL), (1L, 0L, 0x9f29cb17a2a49995L),
      (-1L, 0L, 0x85d136adb773c6c9L), (Long.MinValue, 0L, 0x3f425eacf01544e0L),
      (123456789L, 0L, 0xcb7c2941b198004dL),
      (0L, Seed2, 0x1722e35ebbc1e9a0L), (1L, Seed2, 0x163ea2ab8fe9fc28L),
      (-1L, Seed2, 0xab26e9f49dee09d0L), (Long.MinValue, Seed2, 0x4031e33709136d74L),
      (123456789L, Seed2, 0xf4ddea5e3b2b430bL)
    ).foreach { case (v, seed, e) =>
      assert(XxHash64.hashLong(v, seed) == e, s"hashLong($v, seed=$seed)")
    }
  }
}
