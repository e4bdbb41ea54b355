package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.{File, FileOutputStream, RandomAccessFile}
import java.nio.file.{Files, StandardCopyOption}

/** The graft chunk container (`ChunkFile`, `ChunkFileFormat`): exact round
  * trips of arbitrary chunk rows, loud failures on damaged tails, and
  * tables whose batches mix parquet-generation and container files.
  */
class ChunkFileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-chunkfile").toString
  private val conf = new Configuration()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-chunkfile-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---- generators ----------------------------------------------------

  private val nameGen: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map("c" + _.mkString)
  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar, 1 -> Gen.const('é'), 1 -> Gen.const('€'), 1 -> Gen.const(' ')))
    .map(_.mkString)
  private def bytesGen(big: Boolean): Gen[Array[Byte]] = for {
    n <- if (big) Gen.frequency(6 -> Gen.choose(0, 64), 3 -> Gen.choose(0, 4096),
                               1 -> Gen.choose(1 << 20, 3 << 20))
         else Gen.choose(0, 64)
    seed <- Arbitrary.arbitrary[Long]
  } yield {
    val a = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(a)
    a
  }
  private def chunkGen(big: Boolean): Gen[EncodedChunk] = for {
    part <- Arbitrary.arbitrary[Int]
    chunk <- Arbitrary.arbitrary[Int]
    first <- Arbitrary.arbitrary[Long]
    column <- nameGen
    codec <- nameGen
    rows <- Gen.choose(0, 100000)
    nulls <- Gen.choose(0, 100000)
    names <- Gen.containerOf[Set, String](nameGen).map(_.take(5))
    blobs <- Gen.listOfN(names.size, bytesGen(big))
    raw <- Arbitrary.arbitrary[Long]
    enc <- Arbitrary.arbitrary[Long]
    mn <- Gen.option(textGen)
    mx <- Gen.option(textGen)
    sum <- Gen.option(Arbitrary.arbitrary[Long])
    strideRows <- Gen.choose(0, 10000)
    mins <- Gen.option(Gen.listOf(Arbitrary.arbitrary[Long]))
    maxs <- Gen.option(Gen.listOf(Arbitrary.arbitrary[Long]))
    comp <- Gen.option(Gen.oneOf("zlib", "zstd", "lz4", "none"))
    // segmented streams, plus names that have no stream at all
    segKeys <- Gen.someOf(names ++ Set("cseg"))
    segs <- Gen.option(Gen.listOfN(segKeys.size, Gen.listOf(Gen.choose(0, 1 << 20)))
      .map(ls => segKeys.zip(ls).toMap))
    strideNulls <- Gen.option(Gen.listOf(Gen.choose(0, 5000)))
    bloom <- Gen.option(bytesGen(big = false))
    nan <- Gen.option(Gen.choose(0, 1000))
  } yield EncodedChunk(part, chunk, first, column, codec, rows, nulls, names.toList.zip(blobs).toMap,
    raw, enc, mn, mx, sum, strideRows, mins, maxs, comp, segs, strideNulls, bloom, nan)

  /** An EncodedChunk with its byte arrays as sequences, so `==` compares contents. */
  private def norm(c: EncodedChunk): Product =
    (c.copy(streams = Map.empty, bloom = None, stride_mins = c.stride_mins.map(_.toList),
      stride_maxs = c.stride_maxs.map(_.toList),
      seg_lens = c.seg_lens.map(_.map { case (k, v) => k -> v.toList }),
      stride_null_counts = c.stride_null_counts.map(_.toList)),
      c.streams.map { case (k, v) => k -> v.toList }, c.bloom.map(_.toList))

  private def writeFile(f: File, chunks: Seq[EncodedChunk]): Unit = {
    val w = new ChunkFile.Writer(new FileOutputStream(f))
    chunks.foreach(w.add)
    w.close()
  }

  private def readFile(f: File, keep: String => Boolean = _ => true): Seq[EncodedChunk] = {
    val r = ChunkFile.open(new Path(f.toURI), conf, keep).getOrElse(fail(s"$f read as parquet"))
    try r.entries.toSeq.map(r.load) finally r.close()
  }

  // ---- the container ---------------------------------------------------

  test("property: the container round-trips arbitrary chunks; a column subset reads only its rows and streams") {
    var n = 0
    val prop = Prop.forAll(Gen.listOf(chunkGen(big = false)), nameGen) { (chunks, pick) =>
      n += 1
      val f = new File(tmp, s"direct-$n${ChunkFile.Extension}")
      writeFile(f, chunks)
      val all = readFile(f)
      val wanted = chunks.map(_.column).toSet.take(1) + pick
      val subset = readFile(f, wanted)
      val footerOnly = ChunkFile.open(new Path(f.toURI), conf).get
      footerOnly.close()
      f.delete()
      Prop(all.map(norm) == chunks.map(norm)) :| "all" &&
        Prop(subset.map(norm) == chunks.filter(c => wanted(c.column)).map(norm)) :| "subset" &&
        Prop(footerOnly.entries.forall(_.chunk.streams.isEmpty)) :| "footer rows carry no blobs" &&
        Prop(footerOnly.entries.map(e => e.refs.map(_.name).toSet).toSeq ==
          chunks.map(_.streams.keySet)) :| "directory names every stream"
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("property: chunk rows written through the format read back equal, in both layouts") {
    val stableSpark = spark
    import stableSpark.implicits._
    var n = 0
    val prop = Prop.forAll(Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, chunkGen(big = true))),
                           Gen.oneOf(false, true)) { (chunks, byColumn) =>
      n += 1
      val dir = s"$tmp/format-$n"
      val w = spark.createDataset(chunks).coalesce(1).write
      (if (byColumn) w.partitionBy("column") else w).format(ChunkFileFormat.Name).save(dir)
      val df = EncodeJob.readChunkFiles(spark, dir)
      val back = df.as[EncodedChunk].collect().toSeq
      // a read without `streams` reads footers alone and names no blob
      val meta = df.select("part_id", "chunk_id", "column", "nan_count").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSeq
      Prop(back.map(norm).sortBy(_.toString) == chunks.map(norm).sortBy(_.toString)) :| "rows" &&
        Prop(meta.sortBy(_.toString) ==
          chunks.map(c => (c.part_id, c.chunk_id, c.column, c.nan_count)).sortBy(_.toString)) :| "meta"
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("a truncated or garbled tail fails loudly and names the file") {
    val pages = WebGen.pages(spark, 400, seed = 3, partitions = 1).toDF()
    val out = s"$tmp/damaged"
    pages.write.format("graft").option("numPartitions", "1").save(out)
    val file = new File(EncodeJob.chunkBatchDir(out, 0)).listFiles()
      .filter(f => f.getName.endsWith(ChunkFile.Extension)).head
    def crcGone(): Unit = new File(file.getParentFile, s".${file.getName}.crc").delete()
    val good = Files.readAllBytes(file.toPath)
    def damaged(bytes: Array[Byte]): Throwable = {
      Files.write(file.toPath, bytes)
      crcGone()
      graft.spark.TableMeta.invalidateAll()
      intercept[Exception](spark.read.format("graft").load(out).collect())
    }
    def names(err: Throwable): Boolean =
      Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains(file.getName))

    // truncated: the tail is now mid-footer
    val truncated = damaged(java.util.Arrays.copyOf(good, good.length - 5))
    assert(names(truncated), truncated.toString)
    // garbled: the footer length points past the start of the file
    val badLen = good.clone()
    java.nio.ByteBuffer.wrap(badLen, badLen.length - 8, 4).putInt(Int.MaxValue)
    val garbled = damaged(badLen)
    assert(names(garbled), garbled.toString)
    // garbled inside the footer: a row's length overruns it
    val footerLen = java.nio.ByteBuffer.wrap(good, good.length - 8, 4).getInt
    val badRow = good.clone()
    java.nio.ByteBuffer.wrap(badRow, badRow.length - 8 - footerLen + 1, 4).putInt(Int.MaxValue)
    val garbledRow = damaged(badRow)
    assert(names(garbledRow), garbledRow.toString)
    // the direct reader says the same
    Files.write(file.toPath, java.util.Arrays.copyOf(good, 3))
    val short = intercept[IllegalStateException](ChunkFile.open(new Path(file.toURI), conf))
    assert(short.getMessage.contains(file.getName))
  }

  // ---- mixed generations -------------------------------------------------

  private def canon(df: DataFrame): Array[String] = df.collect().map(_.toString).sorted

  private def frame(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat(lit("txt"), col("id")).as("s"),
      (col("id") % 7).cast("double").as("v"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), (col("id") % 400).cast("int")).as("d"))

  private def walk(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles().toSeq.flatMap(walk) else Seq(dir)

  private def move(from: File, to: File): Unit =
    Files.move(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)

  /** Rewrites batch `b`'s chunk files as the parquet writer before the
    * container wrote them: one parquet file per chunk file, same name and
    * row order, `column` only in row-grouped files. With `keepSidecar`,
    * the batch also gets the filestats sidecar and `_filemeta.json` those
    * engines wrote next to it (pointing at the parquet files); without,
    * it is a table older than sidecars. Nothing reads either.
    */
  private def toLegacy(out: String, b: Int, keepSidecar: Boolean): Unit = {
    val files = walk(new File(EncodeJob.chunkBatchDir(out, b)))
      .filter(_.getName.endsWith(ChunkFile.Extension))
    assert(files.nonEmpty)
    files.foreach { f =>
      val byColumn = f.getParentFile.getName.startsWith("column=")
      val rows = EncodeJob.readChunkFiles(spark, f.getPath)
      val staged = s"$tmp/legacy-${System.nanoTime()}"
      (if (byColumn) rows.drop("column") else rows).coalesce(1).write.parquet(staged)
      val pq = new File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
      move(pq, new File(f.getParentFile, f.getName.stripSuffix(ChunkFile.Extension) + ".parquet"))
      f.delete()
      new File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    if (keepSidecar) {
      val side = EncodeJob.filestatsBatchDir(out, b)
      EncodeJob.readChunkFiles(spark, EncodeJob.chunkBatchDir(out, b))
        .select(col("part_id"), col("chunk_id"), col("column"), col("min_val"), col("max_val"),
          col("null_count"), col("row_count"), col("nan_count"), col("bloom"),
          input_file_name().as("file"))
        .coalesce(1).write.parquet(side)
      val largest = walk(new File(EncodeJob.chunkBatchDir(out, b)))
        .filter(_.getName.endsWith(".parquet")).map(_.length).max
      Files.write(new File(side, "_filemeta.json").toPath,
        s"""{"max_file_bytes":$largest}""".getBytes("UTF-8"))
    }
    graft.spark.TableMeta.invalidateAll()
  }

  private def magic(f: File): String = {
    val raf = new RandomAccessFile(f, "r")
    try {
      val b = new Array[Byte](4)
      raf.seek(raf.length - 4)
      raf.readFully(b)
      new String(b, "US-ASCII")
    } finally raf.close()
  }

  /** Local paths of the chunk files a graft scan of `df` plans. */
  private def plannedFiles(df: DataFrame): Set[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.flatten.flatMap(_.asInstanceOf[graft.spark.source.GraftInputPartition].files)
      .map(f => new Path(f).toUri.getPath).toSet

  private def visibleChunkFiles(out: String): Seq[File] =
    EncodeJob.committedBatches(spark, out).toSeq.flatMap(b =>
      walk(new File(EncodeJob.chunkBatchDir(out, b))).filter(f => ChunkFile.isChunkFileName(f.getName)))

  for ((layout, byColumn) <- Seq("row-grouped" -> false, "column-partitioned" -> true)) {
    test(s"mixed generations ($layout): a parquet batch and a container batch read exactly; compaction leaves only the container") {
      val o = s"$tmp/mixed-$layout"
      frame(0, 1000).write.format("graft").mode("overwrite").option("numPartitions", "3")
        .option("bloomColumns", "s").save(o)
      if (byColumn) LegacyLayout.toColumnPartitioned(spark, o, 0)
      toLegacy(o, 0, keepSidecar = !byColumn)
      frame(1000, 2000).write.format("graft").mode("append").option("numPartitions", "2")
        .option("bloomColumns", "s").save(o)
      val magics = EncodeJob.committedBatches(spark, o).toSeq.sorted
        .map(b => walk(new File(EncodeJob.chunkBatchDir(o, b)))
          .filter(f => ChunkFile.isChunkFileName(f.getName)).map(magic).toSet)
      assert(magics == Seq(Set("PAR1"), Set("GRF1")), magics.toString)

      def checkReads(model: DataFrame): Unit = {
        val t = spark.read.format("graft").load(o)
        assert(canon(t) sameElements canon(model))
        assert(canon(t.select("s", "d")) sameElements canon(model.select("s", "d")))
        for (f <- Seq(col("s") === "txt123", col("s") === "txt1500", col("id") >= 990 && col("id") < 1010,
                      col("v") === 3.0))
          assert(canon(t.filter(f)) sameElements canon(model.filter(f)), f.toString)
        val aggs = Seq(count(lit(1)), count(col("s")), min(col("id")), max(col("id")),
          min(col("v")), max(col("d")))
        assert(t.agg(aggs.head, aggs.tail: _*).collect().toSeq ==
          model.agg(aggs.head, aggs.tail: _*).collect().toSeq)
      }
      checkReads(frame(0, 2000))
      assert(canon(spark.read.format("graft").option("asOfBatch", "0").load(o)) sameElements
        canon(frame(0, 1000)))

      // the parquet batch is indexed through its own files' metadata: a
      // Bloom point lookup plans fewer of its files than it holds
      val legacy = walk(new File(EncodeJob.chunkBatchDir(o, 0)))
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
      val planned = plannedFiles(spark.read.format("graft").load(o).filter(col("s") === "txt123"))
        .filter(legacy)
      assert(planned.nonEmpty && planned.size < legacy.size, s"$planned of $legacy")
      // deleting the filestats dir an older engine left changes no read
      org.apache.commons.io.FileUtils.deleteDirectory(new File(EncodeJob.filestatsDir(o)))
      graft.spark.TableMeta.invalidateAll()
      checkReads(frame(0, 2000))

      EncodeJob.deleteWhere(spark, o, col("id") === 123L || col("id") === 1500L, targetPartitions = 2)
      val model = frame(0, 2000).filter(col("id") =!= 123L && col("id") =!= 1500L)
      checkReads(model)

      val c = EncodeJob.compact(spark, o, targetPartitions = 2)
      assert(EncodeJob.committedBatches(spark, o) == Set(c))
      val visible = visibleChunkFiles(o)
      assert(visible.nonEmpty && visible.forall(f => magic(f) == "GRF1" &&
        f.getName.endsWith(ChunkFile.Extension)), visible.map(_.getName).toString)
      checkReads(model)
    }
  }

  /** True iff batch `b` of `out` holds legacy `column=` dirs. */
  private def columnPartitioned(out: String, b: Int): Boolean =
    new File(EncodeJob.chunkBatchDir(out, b)).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("column="))

  private def causedBy(t: Throwable, text: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null && e.getMessage.contains(text))

  test("mixed layouts: a legacy column-partitioned table takes stream, append, compact and delete batches and reads exactly") {
    val o = s"$tmp/mixed-layouts"
    frame(0, 1000).write.format("graft").mode("overwrite").option("numPartitions", "3")
      .option("bloomColumns", "s").save(o)
    LegacyLayout.toColumnPartitioned(spark, o, 0)
    assert(columnPartitioned(o, 0))

    def check(model: DataFrame, step: String): Unit = {
      val t = spark.read.format("graft").load(o)
      val rows = t.collect()
      assert(rows.map(_.toString).sorted sameElements canon(model), s"$step: ${rows.length} rows")
      assert(t.count() == rows.length, step)
      for (f <- Seq(col("s") === "txt123", col("s") === "txt1300", col("s") === "txt1700",
                    col("id") >= 990 && col("id") < 1210))
        assert(canon(t.filter(f)) sameElements canon(model.filter(f)), s"$step: $f")
      assert(canon(EncodeJob.readBack(spark, o)) sameElements canon(model), s"$step: readBack")
    }
    check(frame(0, 1000), "legacy table")

    // a stream sink's micro-batch lands row-grouped
    graft.streaming.StreamingEncode.encodeBatch(frame(1000, 1500), 1L, o, 2, None)
    assert(!columnPartitioned(o, 1))
    check(frame(0, 1500), "stream batch")

    // an append lands row-grouped: the older engines' layout option is not read
    frame(1500, 2000).write.format("graft").mode("append").option("numPartitions", "2")
      .option("bloomColumns", "s").option("partitionByColumn", "true").save(o)
    assert(EncodeJob.committedBatches(spark, o) == Set(0, 1, 2) && !columnPartitioned(o, 2))
    check(frame(0, 2000), "append")

    // the shuffled decode reads the chunk root through partition
    // discovery, which cannot mix column= dirs and flat batch dirs
    val err = intercept[Exception](
      EncodeJob.readBackShuffled(spark, o, EncodeJob.specsFromDisk(spark, o).get).collect())
    assert(causedBy(err, "CONFLICTING_PARTITION_COLUMN_NAMES"), err)

    val c = EncodeJob.compact(spark, o, targetPartitions = 2, batches = Some(Set(1)))
    assert(EncodeJob.committedBatches(spark, o) == Set(0, 2, c))
    check(frame(0, 2000), "compact of the stream batch")

    val d = EncodeJob.deleteWhere(spark, o, col("id") === 123L, targetPartitions = 2)
    assert(EncodeJob.compactions(spark, o).last.replaces == Seq(0), "the delete left the legacy batch")
    assert(!columnPartitioned(o, d))
    val model = frame(0, 2000).filter(col("id") =!= 123L)
    check(model, "delete in the legacy batch")

    // compaction is the migration path: the whole table rewritten row-grouped
    LegacyLayout.toColumnPartitioned(spark, o, 2)
    val all = EncodeJob.compact(spark, o, targetPartitions = 2)
    assert(EncodeJob.committedBatches(spark, o) == Set(all) && !columnPartitioned(o, all))
    check(model, "full compact")
  }
}
