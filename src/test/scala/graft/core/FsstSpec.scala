package graft.core

import graft.columns.{ColumnCodec, Streams}
import graft.spark.WebGen
import java.nio.charset.StandardCharsets.UTF_8
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class FsstSpec extends AnyFunSuite {

  private def serialized(table: Fsst.SymbolTable): Seq[Byte] = {
    val b = new ByteBuf(2048)
    table.serialize(b)
    b.toArray.toSeq
  }

  /** The trained table serializes exactly as the reference trainer's. */
  private def sameTable(sample: Array[Byte]): Prop = {
    val got = serialized(Fsst.train(sample))
    val want = serialized(new Fsst.SymbolTable(FsstReference.train(sample).symbols))
    Prop(got == want) :| s"${sample.length}-byte sample: ${got.length} vs ${want.length} table bytes"
  }

  private def check(prop: Prop, cases: Int): Unit = {
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(result.passed, result.status.toString)
  }

  // Samples derive from a generated seed, so a failure prints a small
  // reproducible case instead of the bytes.
  private def random(seed: Long, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  /** Runs of 1..maxRun copies of letters drawn from `alphabet`. */
  private def runs(seed: Long, n: Int, alphabet: Array[Byte], maxRun: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val b = alphabet(r.nextInt(alphabet.length))
      var k = 1 + r.nextInt(maxRun)
      while (k > 0 && i < n) { out(i) = b; i += 1; k -= 1 }
    }
    out
  }

  private val sizes: Gen[Int] = Gen.frequency(
    1 -> Gen.const(0),
    3 -> Gen.choose(1, 64),
    4 -> Gen.choose(65, 8192),
    1 -> Gen.choose(Fsst.TrainCap - 64, 70000))

  private val arbitrary: Gen[Array[Byte]] = for {
    seed <- Gen.long
    n <- sizes
  } yield random(seed, n)

  private val smallAlphabet: Gen[Array[Byte]] = for {
    seed <- Gen.long
    n <- sizes
    letters <- Gen.choose(2, 4)
    maxRun <- Gen.oneOf(1, 3, 12)
  } yield runs(seed, n, random(seed + 1, letters), maxRun)

  /** "a" and "a\0" pack to the same big-endian key: zero runs make the
    * trainer order such a pair by length.
    */
  private val zeroRuns: Gen[Array[Byte]] = for {
    seed <- Gen.long
    n <- sizes
    maxRun <- Gen.oneOf(2, 9, 40)
  } yield runs(seed, n, Array[Byte](0, 0, 'a', 'b'), maxRun)

  private val allByteValues: Gen[Array[Byte]] = for {
    seed <- Gen.long
    copies <- Gen.choose(1, 40)
    noise <- Gen.choose(0, 4096)
  } yield {
    val r = new scala.util.Random(seed)
    val perms = (0 until copies).flatMap(_ => r.shuffle((0 until 256).map(_.toByte)))
    (perms ++ runs(seed, noise, Array[Byte](-1, 0, 'x', 127, -128), 5)).toArray
  }

  test("trained tables equal the reference trainer's: arbitrary bytes across the cap") {
    check(Prop.forAllNoShrink(arbitrary)(sameTable), 40)
  }

  test("trained tables equal the reference trainer's: 2-4 letter alphabets") {
    check(Prop.forAllNoShrink(smallAlphabet)(sameTable), 60)
  }

  test("trained tables equal the reference trainer's: runs of 0x00") {
    check(Prop.forAllNoShrink(zeroRuns)(sameTable), 60)
  }

  test("trained tables equal the reference trainer's: all 256 byte values") {
    check(Prop.forAllNoShrink(allByteValues)(sameTable), 30)
  }

  test("trainValues equals the reference on the corpus the call sites built, WebGen text/url/lang") {
    for (seed <- Seq(101L, 102L, 103L); offset <- Seq(0L, 5000L, 50000L)) {
      // text needs the default page size; url and lang do not depend on it
      val text = (0 until 64).map(i => WebGen.page(seed, offset + i).text.getBytes(UTF_8))
      val small = (0 until 40000).map(i => WebGen.page(seed, offset + i, avgTextWords = 1))
      val url = small.map(_.url.getBytes(UTF_8))
      val lang = small.map(_.lang.getBytes(UTF_8))
      for ((name, values) <- Seq("text" -> text, "url" -> url, "lang" -> lang)) {
        val corpus = FsstReference.corpusOf(values)
        assert(corpus.length >= Fsst.TrainCap, s"$name corpus too small")
        assert(Fsst.sampleOf(values.iterator).toSeq == corpus.toSeq, s"$name sample, seed $seed + $offset")
        assert(serialized(Fsst.trainValues(values.iterator)) ==
          serialized(new Fsst.SymbolTable(FsstReference.train(corpus).symbols)),
          s"$name table, seed $seed + $offset")
      }
    }
  }

  test("trainValues equals the reference on arbitrary value sequences, some crossing the cap") {
    val values: Gen[Seq[Array[Byte]]] = for {
      seed <- Gen.long
      n <- Gen.choose(0, 60)
      maxLen <- Gen.oneOf(0, 16, 3000)
    } yield {
      val r = new scala.util.Random(seed)
      (0 until n).map(i => runs(seed + i, if (maxLen == 0) 0 else r.nextInt(maxLen + 1),
        "graft fsst ".getBytes(UTF_8), 3))
    }
    check(Prop.forAllNoShrink(values) { vs =>
      val corpus = FsstReference.corpusOf(vs)
      Prop(Fsst.sampleOf(vs.iterator).toSeq == corpus.toSeq) :| "sample" &&
        Prop(serialized(Fsst.trainValues(vs.iterator)) ==
          serialized(new Fsst.SymbolTable(FsstReference.train(corpus).symbols))) :| "table"
    }, 30)
  }

  test("property: decompress(compress(train(A), B)) == B, both decode forms, empty inputs included") {
    val trainer = Gen.oneOf(arbitrary, smallAlphabet, zeroRuns)
    val input = Gen.oneOf(Gen.const(Array.emptyByteArray), arbitrary, smallAlphabet, zeroRuns, allByteValues)
    check(Prop.forAllNoShrink(trainer, input) { (a: Array[Byte], b: Array[Byte]) =>
      val table = Fsst.train(a)
      val compressed = new ByteBuf(16)
      Fsst.compress(table, b, compressed)
      val codes = compressed.toArray
      val appended = new ByteBuf(16)
      appended.writeByte(7)
      Fsst.decompress(table, codes, 0, codes.length, appended)
      val n = Fsst.decodedLength(table, codes, 0, codes.length)
      val into = new Array[Byte](3 + n + 8)
      val end = Fsst.decompressInto(table, codes, 0, codes.length, into, 3)
      Prop(appended.toArray.toSeq == (7.toByte +: b.toSeq)) :| "decompress" &&
        Prop(n == b.length && end == 3 + n) :| s"decodedLength $n, end $end, want ${b.length}" &&
        Prop(into.slice(3, 3 + n).toSeq == b.toSeq) :| "decompressInto"
    }, 60)
  }

  test("decodeStrSlices round-trips values that decode to far more than 3x their compressed size") {
    val r = new scala.util.Random(5)
    val units = Seq("abcdefgh", "graft-fs", "\u0000\u0000\u0000\u0000\u0000\u0000\u0000\u0000")
    val values = (0 until 400).map { i =>
      if (i % 37 == 0) Array.emptyByteArray
      else (units(i % units.length) * (1 + r.nextInt(64))).getBytes(UTF_8)
    }.toArray
    val present = Array.tabulate(values.length + 3)(i => i % 140 != 1)
    val nonNull = values.iterator
    val all = present.map(p => if (p) nonNull.next() else null)
    assert(!nonNull.hasNext)
    val cs = ColumnCodec.encodeStrBytesFsst(all.filter(_ != null), present)
    val raw = values.map(_.length.toLong).sum
    assert(raw > 3L * cs.streams(Streams.Data).length, s"$raw raw vs ${cs.streams(Streams.Data).length} coded")

    val (slices, decodedPresent) = ColumnCodec.decodeStrSlices(cs)
    assert(decodedPresent.toSeq == present.toSeq)
    val sliced = values.indices.map(i =>
      slices.buf.slice(slices.starts(i), slices.starts(i) + slices.lens(i)).toSeq)
    assert(sliced == values.map(_.toSeq).toSeq)
    assert(ColumnCodec.decodeStrBytes(cs)._1.map(_.toSeq).toSeq == values.map(_.toSeq).toSeq)
    assert(ColumnCodec.decodeString(cs)._1.toSeq == values.map(new String(_, UTF_8)).toSeq)
  }
}
