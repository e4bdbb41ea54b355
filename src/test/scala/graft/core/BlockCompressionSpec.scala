package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class BlockCompressionSpec extends AnyFunSuite {

  private val kinds = BlockCompression.All

  test("all kinds round trip compressible, incompressible, empty, and tiny payloads") {
    val r = new scala.util.Random(42)
    val compressible = ("the quick brown fox jumps over the lazy dog " * 20000).getBytes("UTF-8")
    val incompressible = new Array[Byte](512 * 1024)
    r.nextBytes(incompressible)
    val tiny = Array[Byte](7)
    val empty = Array.emptyByteArray
    for (kind <- kinds; payload <- Seq(compressible, incompressible, tiny, empty)) {
      val rt = BlockCompression.decompress(kind, BlockCompression.compress(kind, payload))
      assert(rt.toSeq == payload.toSeq, s"$kind failed on ${payload.length}-byte payload")
    }
  }

  test("zstd and lz4 actually compress; incompressible data stays ~raw (skip-if-bigger)") {
    val text = ("article content page the www http " * 30000).getBytes("UTF-8")
    val zstd = BlockCompression.compress(BlockCompression.Zstd, text)
    val lz4 = BlockCompression.compress(BlockCompression.Lz4, text)
    assert(zstd.length < text.length / 5, s"zstd ${zstd.length} vs ${text.length}")
    assert(lz4.length < text.length / 2, s"lz4 ${lz4.length} vs ${text.length}")

    val r = new scala.util.Random(1)
    val noise = new Array[Byte](256 * 1024)
    r.nextBytes(noise)
    for (kind <- Seq(BlockCompression.Zstd, BlockCompression.Lz4)) {
      val out = BlockCompression.compress(kind, noise)
      assert(out.length <= noise.length + 16, s"$kind grew incompressible data: ${out.length}")
    }
  }

  test("zstd is size-competitive with the zlib parity path on web-like text") {
    val r = new scala.util.Random(7)
    val words = Array("content", "article", "the", "page", "http", "www", "href", "div")
    val text = (0 until 20000).map(i =>
      s"unique-$i " + (0 until 12).map(_ => words(r.nextInt(words.length))).mkString(" "))
      .mkString("\n").getBytes("UTF-8")
    val zlib = BlockCompression.compress(BlockCompression.Zlib, text)
    val zstd = BlockCompression.compress(BlockCompression.Zstd, text)
    // zstd-1 must be within 15% of deflate BEST_SPEED's size (it is
    // usually smaller; the bound leaves slack for corpus quirks)
    assert(zstd.length <= zlib.length * 1.15,
      s"zstd ${zstd.length} much worse than zlib ${zlib.length}")
  }

  /** Payload classes: empty, random (incompressible), highly repetitive,
    * and > 256 KiB (multi-block zlib framing; random ones take zstd/lz4's
    * raw flag). Bytes derive from a generated seed, so a failure prints a
    * small reproducible case instead of a megabyte of bytes.
    */
  private def bytes(seed: Long, n: Int, repetitive: Boolean): Array[Byte] = {
    val r = new scala.util.Random(seed)
    if (!repetitive) { val b = new Array[Byte](n); r.nextBytes(b); b }
    else {
      val unit = new Array[Byte](1 + r.nextInt(16))
      r.nextBytes(unit)
      Array.tabulate(n)(i => unit(i % unit.length))
    }
  }
  private val payloads: Gen[Array[Byte]] = for {
    seed <- Gen.long
    n <- Gen.frequency(
      1 -> Gen.const(0),
      4 -> Gen.choose(1, 4096),
      2 -> Gen.choose(ZlibBlock.DefaultBlockSize + 1, 3 * ZlibBlock.DefaultBlockSize))
    repetitive <- Gen.oneOf(true, false)
  } yield bytes(seed, n, repetitive)

  private def check(prop: Prop): Unit = {
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, result.status.toString)
  }

  test("property: decompress(kind, compress(kind, b)) == b for every kind") {
    check(Prop.forAllNoShrink(payloads, Gen.oneOf(kinds)) { (b: Array[Byte], kind: String) =>
      java.util.Arrays.equals(BlockCompression.decompress(kind, BlockCompression.compress(kind, b)), b)
    })
  }

  test("property: the slice entry decodes a blob embedded at any offset of a larger array") {
    check(Prop.forAllNoShrink(payloads, Gen.oneOf(kinds), Gen.choose(0, 64), Gen.choose(0, 64),
        Gen.long) { (b: Array[Byte], kind: String, pre: Int, post: Int, seed: Long) =>
      val blob = BlockCompression.compress(kind, b)
      val host = bytes(seed, pre + blob.length + post, repetitive = false)
      System.arraycopy(blob, 0, host, pre, blob.length)
      java.util.Arrays.equals(BlockCompression.decompress(kind, host, pre, blob.length), b)
    })
  }

  test("the slice entry counts the compressed bytes it is fed") {
    val b = ("graft " * 5000).getBytes("UTF-8")
    for (kind <- kinds) {
      val blob = BlockCompression.compress(kind, b)
      val host = new Array[Byte](blob.length + 10)
      System.arraycopy(blob, 0, host, 7, blob.length)
      val before = BlockCompression.decompressInputBytes
      BlockCompression.decompress(kind, host, 7, blob.length)
      assert(BlockCompression.decompressInputBytes - before == blob.length, kind)
    }
  }

  test("unknown kind is rejected") {
    intercept[IllegalArgumentException](BlockCompression.compress("lzo", Array[Byte](1)))
    intercept[IllegalArgumentException](BlockCompression.decompress("lzo", Array[Byte](1)))
  }
}
