package graft.spark

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side layout check (`TableMeta.runsOk`, over each chunk
  * file's footer rows in file order) against the rule it replaced: a
  * Spark job that read each whole file as one partition and counted, per
  * partition, runs of a (part_id, chunk_id) key whose length was not the
  * column count, and keys that reappeared after their run.
  */
class WriterLayoutSpec extends AnyFunSuite {

  /** The replaced job's per-partition loop, as it ran on each file. */
  private def badRuns(keys: Seq[(Int, Int)], nCols: Int): Long = {
    val seen = scala.collection.mutable.HashSet[Long]()
    var bad = 0L
    var curKey = Long.MinValue
    var run = 0
    keys.foreach { case (p, c) =>
      val key = (p.toLong << 32) | (c.toLong & 0xffffffffL)
      if (key == curKey) run += 1
      else {
        if (run != 0 && run != nCols) bad += 1
        if (!seen.add(key)) bad += 1 // group re-appeared → interleaved
        curKey = key; run = 1
      }
    }
    if (run != 0 && run != nCols) bad += 1
    bad
  }

  private def chunk(k: (Int, Int)): EncodedChunk =
    EncodedChunk(k._1, k._2, 0L, "c", "", 1, 0, Map.empty, 0L, 0L, None, None, None)

  // small key domains, so that keys repeat, split and interleave often
  private val key: Gen[(Int, Int)] = Gen.zip(Gen.choose(0, 2), Gen.choose(0, 2))

  /** One file's keys in the writer's order: whole groups of `runLen` rows
    * (`runLen` < the column count models a batch written before an ALTER
    * added columns), then edits that split, interleave or repeat them.
    */
  private def file(nCols: Int): Gen[Seq[(Int, Int)]] = for {
    groups <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, key)).map(_.distinct)
    runLen <- Gen.frequency(4 -> Gen.const(nCols), 1 -> Gen.choose(1, nCols))
    whole = groups.flatMap(Seq.fill(runLen)(_))
    edit <- Gen.frequency(
      4 -> Gen.const(whole),
      1 -> Gen.listOfN(whole.size, Gen.choose(0, 99))
        .map(w => whole.zip(w).sortBy(_._2).map(_._1)),
      1 -> Gen.listOf(key),
      1 -> Gen.const(whole.dropRight(1)),
      1 -> Gen.const(whole ++ whole.take(1)),
      1 -> Gen.const(Seq.empty[(Int, Int)]))
  } yield edit

  test("property: the driver's layout check agrees with the per-file run loop") {
    var flagged = 0
    var passed = 0
    val prop = Prop.forAll(Gen.choose(1, 4).flatMap(n =>
        Gen.choose(0, 4).flatMap(Gen.listOfN(_, file(n))).map(n -> _))) { case (nCols, files) =>
      val expected = files.map(badRuns(_, nCols)).sum == 0
      if (expected) passed += 1 else flagged += 1
      TableMeta.runsOk(files.map(_.map(chunk).toArray), nCols) == expected
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, result.status.toString)
    // both answers were drawn often
    assert(flagged > 100 && passed > 100, s"$flagged flagged, $passed passed")
  }
}
