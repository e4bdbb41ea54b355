package graft.streaming

import graft.spark.{EncodeJob, Page}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

class StreamingEncodeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def page(id: Int, text: String, lang: String = "en",
                   tsMs: Long = 1700000000000L): Page =
    Page(s"https://h$id.example.com/p$id", new Timestamp(tsMs),
      s"<html>$text</html>".getBytes("UTF-8"), text, lang)

  test("micro-batches encode through the batch path; decode equals the full input") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stableSpark = spark
    import stableSpark.implicits._
    val out = Files.createTempDirectory("stream-enc").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString

    val stream = MemoryStream[Page]
    // continuous trigger: the default AvailableNow would stop before the
    // second addData below
    val q = StreamingEncode.start(stream.toDF(), out, ckpt, numPartitions = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))

    val batch1 = (0 until 300).map(i => page(i, s"first wave doc $i words " * 3))
    val batch2 = (300 until 500).map(i => page(i, s"second wave doc $i tail " * 2, lang = "de"))
    stream.addData(batch1)
    q.processAllAvailable()
    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()

    val manifest = EncodeJob.manifestEntries(spark, out)
    assert(manifest.map(_.batch_id).distinct.size == 2)

    val specs = EncodeJob.specsFromManifest(spark, out, stream.toDF().schema)
    val decoded = EncodeJob.readBack(spark, out, specs)
    assert(decoded.count() == 500)
    val expected = (batch1 ++ batch2).map(p => (p.url, p.text, p.lang, new String(p.html, "UTF-8"))).sorted
    val got = decoded.select($"url", $"text", $"lang", $"html".cast("string"))
      .as[(String, String, String, String)].collect().sorted
    assert(got.toSeq == expected)
  }

  test("streaming encode with the zstd fast mode: kind recorded, decode exact") {
    val stableSpark = spark
    import stableSpark.implicits._
    val out = Files.createTempDirectory("stream-zstd").toString
    val df = spark.createDataset((0 until 120).map(i => page(i, s"zstd doc $i body " * 4))).toDF()

    StreamingEncode.encodeBatch(df, batchId = 0, out, numPartitions = 2, keyColumn = Some("lang"),
      compression = graft.core.BlockCompression.Zstd)
    val kinds = EncodeJob.readChunkFiles(spark, EncodeJob.chunkDir(out))
      .select("compression").distinct().collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("zstd"), s"kinds: $kinds")

    val specs = EncodeJob.specsFromManifest(spark, out, df.schema)
    val decoded = EncodeJob.readBack(spark, out, specs)
    assert(decoded.count() == 120)
    assert(decoded.exceptAll(df).count() == 0)
  }

  test("a replayed micro-batch is idempotent (manifest makes the sink exactly-once)") {
    val stableSpark = spark
    import stableSpark.implicits._
    val out = Files.createTempDirectory("stream-replay").toString
    val df = spark.createDataset((0 until 100).map(i => page(i, s"doc $i"))).toDF()

    StreamingEncode.encodeBatch(df, batchId = 7, out, numPartitions = 2, keyColumn = Some("lang"))
    val afterFirst = EncodeJob.readChunkFiles(spark, EncodeJob.chunkDir(out)).count()
    // crash-replay of the same batch id: must be a no-op
    StreamingEncode.encodeBatch(df, batchId = 7, out, numPartitions = 2, keyColumn = Some("lang"))
    assert(EncodeJob.readChunkFiles(spark, EncodeJob.chunkDir(out)).count() == afterFirst)

    val specs = EncodeJob.specsFromManifest(spark, out, df.schema)
    assert(EncodeJob.readBack(spark, out, specs).count() == 100)
  }

  test("ingestMetrics: watermarked event-time windows finalize and late data is dropped") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stableSpark = spark
    import stableSpark.implicits._
    val base = 1700000040000L // minute-aligned epoch ms (window starts here)
    val stream = MemoryStream[Page]
    val metrics = StreamingEncode.ingestMetrics(stream.toDF(), "1 minute", "2 minutes")
    val q = metrics.writeStream.format("memory").queryName("ingest_metrics")
      .outputMode("append").start()

    // window [base, base+1m): 3 en docs
    stream.addData(Seq(
      page(1, "alpha", tsMs = base + 1000),
      page(2, "beta", tsMs = base + 2000),
      page(3, "gamma", tsMs = base + 3000)))
    q.processAllAvailable()
    // advance watermark far beyond the first window to finalize it
    stream.addData(Seq(page(4, "delta", tsMs = base + 10 * 60 * 1000)))
    q.processAllAvailable()
    // a straggler for the long-closed first window: must be dropped
    stream.addData(Seq(page(5, "late", tsMs = base + 4000)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql(
      "SELECT lang, docs FROM ingest_metrics WHERE window_start = timestamp_millis(" + base + ")")
      .as[(String, Long)].collect()
    assert(rows.toSeq == Seq(("en", 3L))) // 3, not 4: the late row was dropped
  }

  test("dropRecrawls: unchanged re-crawls are suppressed, changed content passes") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stableSpark = spark
    import stableSpark.implicits._
    val stream = MemoryStream[Page]
    val deduped = StreamingEncode.dropRecrawls(stream.toDS())
    // NB: processAllAvailable never quiesces for stateful ops with
    // ProcessingTimeTimeout (the engine always believes a timeout batch is
    // pending), so this test polls the sink instead.
    val q = deduped.writeStream.format("memory").queryName("recrawls")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
      .start()

    def sinkCount: Long = spark.sql("SELECT * FROM recrawls").count()
    def awaitCount(n: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sinkCount < n && System.nanoTime() < deadline) Thread.sleep(100)
      assert(sinkCount >= n, s"sink never reached $n rows")
    }

    val p = page(1, "original content")
    stream.addData(Seq(p, p)) // duplicate within one batch → one row out
    awaitCount(1)
    stream.addData(Seq(p)) // re-crawl, unchanged — dropped via state
    stream.addData(Seq(p.copy(text = "updated content"))) // changed — passes
    awaitCount(2)
    q.stop()

    val texts = spark.sql("SELECT text FROM recrawls").as[String].collect().sorted
    assert(texts.toSeq == Seq("original content", "updated content"))
  }
}
