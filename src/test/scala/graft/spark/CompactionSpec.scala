package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** OPTIMIZE-style compaction + time travel + vacuum: many small committed
  * batches rewritten as one, visibility swapped atomically by the
  * compaction record, history readable via asOfBatch until vacuumed, and
  * streams never double-read across a compaction.
  */
class CompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-compact").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-compaction-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def frame(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"),
      concat(lit("txt"), col("id")).as("s"),
      (col("id") % 7).cast("double").as("v"))

  private def canon(df: DataFrame): Array[String] = df.collect().map(_.toString).sorted

  private def chunkFiles(out: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/chunks"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
    } finally s.close()
  }

  /** Three appended batches shared by most cases. */
  private lazy val out: String = {
    val o = s"$tmp/main"
    frame(0, 1000).write.format("graft").mode("overwrite").option("numPartitions", "4").save(o)
    frame(1000, 2000).write.format("graft").mode("append").option("numPartitions", "4").save(o)
    frame(2000, 3000).write.format("graft").mode("append").option("numPartitions", "4").save(o)
    o
  }

  test("compact rewrites all visible batches into one; reads stay exact, files shrink") {
    val before = chunkFiles(out).size
    assert(EncodeJob.committedBatches(spark, out) == Set(0, 1, 2))
    val newBatch = EncodeJob.compact(spark, out, targetPartitions = 2)
    assert(EncodeJob.committedBatches(spark, out) == Set(newBatch))
    // every read surface serves the identical rows
    assert(canon(spark.read.format("graft").load(out)) sameElements canon(frame(0, 3000)))
    assert(canon(EncodeJob.readBack(spark, out)) sameElements canon(frame(0, 3000)))
    // files of the VISIBLE set shrank (old dirs still on disk for time travel)
    val visibleFiles = chunkFiles(out).count(_.contains(s"batch=$newBatch"))
    assert(visibleFiles > 0 && visibleFiles < before,
      s"$visibleFiles visible files vs $before before")
    // aggregate pushdown still engages on the compacted dir
    graft.core.BlockCompression.resetCounters()
    val agg = spark.read.format("graft").load(out)
      .agg(count(col("id")), min(col("id")), max(col("v"))).collect().head
    assert(graft.core.BlockCompression.decompressInputBytes == 0)
    assert(agg.getLong(0) == 3000L && agg.getLong(1) == 0L && agg.getDouble(2) == 6.0)
  }

  test("asOfBatch time travel reads historical batch sets until vacuum") {
    val newBatch = EncodeJob.compactions(spark, out).head.batch // ensure `out` compacted
    // as of batch 0: only the first append
    val asOf0 = spark.read.format("graft").option("asOfBatch", "0").load(out)
    assert(canon(asOf0) sameElements canon(frame(0, 1000)))
    // as of batch 1: first two appends
    assert(spark.read.format("graft").option("asOfBatch", "1").load(out).count() == 2000L)
    // as of the compaction batch: identical to the present
    assert(spark.read.format("graft").option("asOfBatch", newBatch.toString).load(out)
      .count() == 3000L)
    // vacuum removes replaced batches' files; present reads survive,
    // history does not
    val removed = EncodeJob.vacuum(spark, out)
    assert(removed == Seq(0, 1, 2), removed.toString)
    assert(spark.read.format("graft").load(out).count() == 3000L)
    assert(spark.read.format("graft").option("asOfBatch", "0").load(out).count() == 0L)
  }

  test("append after compaction: fresh ids, no part collisions, both served") {
    val o = s"$tmp/append-after"
    frame(0, 500).write.format("graft").mode("overwrite").option("numPartitions", "3").save(o)
    frame(500, 1000).write.format("graft").mode("append").option("numPartitions", "3").save(o)
    val cBatch = EncodeJob.compact(spark, o, targetPartitions = 2)
    frame(1000, 1500).write.format("graft").mode("append").option("numPartitions", "3").save(o)
    val visible = EncodeJob.committedBatches(spark, o)
    assert(visible.contains(cBatch) && visible.size == 2, visible.toString)
    assert(canon(spark.read.format("graft").load(o)) sameElements canon(frame(0, 1500)))
    // (part_id, chunk_id, column) unique across the visible set
    val dup = spark.read.parquet(s"$o/chunks")
      .filter(col("batch").isInCollection(visible.toSeq.map(Integer.valueOf)))
      .groupBy("part_id", "chunk_id", "column").count().filter(col("count") > 1).count()
    assert(dup == 0, "part_id collision after compaction")
  }

  test("compact a subset of batches; layout + codecs inherited") {
    val o = s"$tmp/subset"
    frame(0, 400).write.format("graft").mode("overwrite")
      .option("numPartitions", "2").option("compression", "zlib").save(o)
    frame(400, 800).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    frame(800, 1200).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val cBatch = EncodeJob.compact(spark, o, targetPartitions = 1, batches = Some(Set(0, 1)))
    assert(EncodeJob.committedBatches(spark, o) == Set(2, cBatch))
    assert(canon(spark.read.format("graft").load(o)) sameElements canon(frame(0, 1200)))
    // compression inherited from the dir, not reset to the default
    val kinds = spark.read.parquet(s"$o/chunks")
      .filter(col("batch") === cBatch).select("compression")
      .distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("zlib"), kinds.toString)
  }

  test("mixed-codec table: zlib batches appended to under the zstd default stay exact through DELETE and compaction") {
    val o = s"$tmp/mixed"
    frame(0, 500).write.format("graft").mode("overwrite")
      .option("numPartitions", "2").option("compression", "zlib").save(o)
    frame(500, 1000).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    def kinds(batch: Int): Set[String] = spark.read.parquet(s"$o/chunks")
      .filter(col("batch") === batch).select("compression")
      .distinct().collect().map(_.getString(0)).toSet
    val Seq(zlibBatch, defaultBatch) = EncodeJob.committedBatches(spark, o).toSeq.sorted
    assert(kinds(zlibBatch) == Set("zlib"))
    // a write with no option records the default kind
    assert(kinds(defaultBatch) == Set("zstd"))

    def graftRead = spark.read.format("graft").load(o)
    def checkReads(model: DataFrame): Unit = {
      assert(canon(graftRead) sameElements canon(model))
      assert(canon(graftRead.select("s")) sameElements canon(model.select("s")))
      assert(canon(graftRead.filter(col("v") === 3.0)) sameElements
        canon(model.filter(col("v") === 3.0)))
    }
    checkReads(frame(0, 1000))

    // DELETE one row of the zlib batch: its rewrite inherits zlib
    val delBatch = EncodeJob.deleteWhere(spark, o, col("id") === 123L, targetPartitions = 2)
    assert(EncodeJob.committedBatches(spark, o) == Set(defaultBatch, delBatch))
    assert(kinds(delBatch) == Set("zlib"))
    val model = frame(0, 1000).filter(col("id") =!= 123L)
    checkReads(model)

    val cBatch = EncodeJob.compact(spark, o, targetPartitions = 1)
    assert(EncodeJob.committedBatches(spark, o) == Set(cBatch))
    assert(kinds(cBatch).size == 1)
    checkReads(model)
  }

  test("a crashed compaction (chunks written, record missing) stays invisible") {
    val o = s"$tmp/crash"
    frame(0, 300).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    // simulate the crash window: a compacted batch dir + sidecar exist but
    // the record (the commit) never landed — write chunks under a high
    // batch id by copying the real batch dir
    val src = new java.io.File(s"$o/chunks/batch=0")
    val dst = new java.io.File(s"$o/chunks/batch=99")
    org.apache.commons.io.FileUtils.copyDirectory(src, dst)
    assert(EncodeJob.committedBatches(spark, o) == Set(0), "orphan batch leaked into reads")
    assert(spark.read.format("graft").load(o).count() == 300L)
    // and the next append clears the orphan id instead of overwriting it
    frame(300, 600).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    assert(EncodeJob.committedBatches(spark, o).max == 100,
      EncodeJob.committedBatches(spark, o).toString)
    assert(spark.read.format("graft").load(o).count() == 600L)
  }

  test("deleteWhere: full rewrite behind the record; readers flip atomically") {
    val o = s"$tmp/delete"
    frame(0, 1000).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val newBatch = EncodeJob.deleteWhere(spark, o, col("id") % 2 === 0, targetPartitions = 2)
    assert(EncodeJob.committedBatches(spark, o) == Set(newBatch))
    val left = spark.read.format("graft").load(o)
    assert(left.count() == 500 && left.filter(col("id") % 2 === 0).count() == 0)
    // pre-delete rows reachable via time travel until vacuum
    assert(spark.read.format("graft").option("asOfBatch", "0").load(o).count() == 1000)
  }

  test("updateWhere: conditional assignments, unmatched rows untouched, history kept") {
    val o = s"$tmp/update"
    frame(0, 1000).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    EncodeJob.updateWhere(spark, o, col("id") < 100,
      Map("s" -> concat(lit("updated-"), col("id")), "v" -> lit(-1.0)), targetPartitions = 2)
    val after = spark.read.format("graft").load(o)
    assert(after.count() == 1000)
    assert(after.filter(col("s").startsWith("updated-")).count() == 100)
    assert(after.filter(col("v") === -1.0).count() == 100)
    assert(after.filter(col("id") === 500).first().getString(1) == "txt500") // untouched
    // pre-update state time-travels
    assert(spark.read.format("graft").option("asOfBatch", "0").load(o)
      .filter(col("s").startsWith("updated-")).count() == 0)
    // unknown column refused
    intercept[IllegalArgumentException] {
      EncodeJob.updateWhere(spark, o, col("id") < 5, Map("nope" -> lit(1)), 2)
    }
  }

  test("DML rewrites are selective: only batches whose stats admit the condition rewrite") {
    val o = s"$tmp/selective"
    frame(0, 1000).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    frame(1000, 2000).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    frame(2000, 3000).write.format("graft").mode("append").option("numPartitions", "2").save(o)

    // a one-row delete must rewrite ONLY the batch whose id range admits
    // the key — at 100 TB this is the difference between rewriting one
    // batch and rewriting the table
    val nb = EncodeJob.deleteWhere(spark, o, col("id") === 1500L, targetPartitions = 2)
    val rec = EncodeJob.compactions(spark, o).last
    assert(rec.batch == nb && rec.replaces == Seq(1),
      s"expected only batch 1 rewritten, got replaces=${rec.replaces}")
    assert(EncodeJob.committedBatches(spark, o) == Set(0, 2, nb))
    val left = spark.read.format("graft").load(o)
    assert(left.count() == 2999 && left.filter(col("id") === 1500L).count() == 0)

    // selective update: only the batch containing id=100
    EncodeJob.updateWhere(spark, o, col("id") === 100L, Map("v" -> lit(-5.0)),
      targetPartitions = 2)
    val rec2 = EncodeJob.compactions(spark, o).last
    assert(rec2.replaces == Seq(0), s"expected only batch 0 rewritten, got ${rec2.replaces}")
    val after = spark.read.format("graft").load(o)
    assert(after.count() == 2999 && after.filter(col("v") === -5.0).count() == 1)

    // provably-no-match DML is a NO-OP: no record, no new batch, no data change
    val records = EncodeJob.compactions(spark, o).size
    assert(EncodeJob.deleteWhere(spark, o, col("id") === -99L, 2) == -1)
    assert(EncodeJob.updateWhere(spark, o, col("id") === 99999L, Map("v" -> lit(0.0)), 2) == -1)
    assert(EncodeJob.compactions(spark, o).size == records)
    assert(spark.read.format("graft").load(o).count() == 2999)

    // untranslatable conditions stay correct (conservative full coverage)
    EncodeJob.deleteWhere(spark, o, col("id") % 977 === 3, targetPartitions = 2)
    assert(spark.read.format("graft").load(o).count() == 2999 - 4) // 3, 980, 1957, 2934
  }

  test("vacuum reclaims crashed-write orphan batch dirs") {
    val o = s"$tmp/orphan"
    frame(0, 300).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    // a crashed write: chunks on disk, no manifest rows, no record
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$o/chunks/batch=0"), new java.io.File(s"$o/chunks/batch=77"))
    assert(EncodeJob.vacuum(spark, o).contains(77))
    assert(!new java.io.File(s"$o/chunks/batch=77").exists())
    assert(spark.read.format("graft").load(o).count() == 300L) // committed data untouched
  }

  test("fresh streams serve the compacted snapshot; LAGGING streams past vacuum fail loudly") {
    val o = s"$tmp/stream-vacuum"
    val ckpt = s"$tmp/stream-vacuum-ckpt"
    frame(0, 200).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    frame(200, 400).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val sink = s"$tmp/stream-vacuum-out"
    // consume batches 0-1, checkpoint, stop — this stream is now "behind"
    // (file sink: the memory sink cannot recover from a checkpoint)
    val q1 = spark.readStream.format("graft").load(o)
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(sink).count() == 400)
    // append batch 2, then compact EVERYTHING and vacuum the originals
    frame(400, 500).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    EncodeJob.compact(spark, o, targetPartitions = 1)
    EncodeJob.vacuum(spark, o)
    assert(spark.read.format("graft").load(o).count() == 500L) // batch reads fine
    // the lagging stream still owes batch 2, which was physically deleted
    val q2 = spark.readStream.format("graft").load(o)
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable(); q2.awaitTermination(10000)
      }
      assert(e.getMessage != null && e.toString.contains("vacuum"), e.toString)
    } finally q2.stop()
    // a FRESH stream (new checkpoint) serves the compacted SNAPSHOT —
    // every current row exactly once, then follows new appends
    val q3 = spark.readStream.format("graft").load(o)
      .writeStream.format("memory").queryName("sv_fresh").outputMode("append").start()
    try {
      q3.processAllAvailable()
      assert(spark.table("sv_fresh").count() == 500)
      frame(500, 550).write.format("graft").mode("append").option("numPartitions", "2").save(o)
      q3.processAllAvailable()
      assert(spark.table("sv_fresh").count() == 550)
      assert(spark.table("sv_fresh").select(sum("id")).first().getLong(0) ==
        (0L until 550L).sum)
    } finally q3.stop()
  }

  test("compact with zorder derives rescale bounds from chunk stats — no sampling decode") {
    val o = s"$tmp/zmeta"
    frame(0, 2000).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    frame(2000, 4000).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val before = EncodeJob.zorderSamplingScans.get()
    EncodeJob.compact(spark, o, targetPartitions = 2, zorderColumns = Seq("id", "v"))
    assert(EncodeJob.zorderSamplingScans.get() == before,
      "rewrite-with-zorder ran a sampling bounds pass despite full chunk-stat coverage")
    val back = spark.read.format("graft").load(o)
    assert(canon(back) sameElements canon(frame(0, 4000)))
  }

  test("a compacted dir refuses a resumed StreamingEncode sink (epoch id collision)") {
    val o = s"$tmp/sink-guard"
    frame(0, 100).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    EncodeJob.compact(spark, o, targetPartitions = 1)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingEncode.encodeBatch(frame(100, 200), 1L, o, 2, None)
    }
    assert(e.getMessage.contains("compacted"), e.getMessage)
  }

  test("streams never double-read across a compaction") {
    val o = s"$tmp/stream"
    frame(0, 200).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    frame(200, 400).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val q = spark.readStream.format("graft").load(o)
      .writeStream.format("memory").queryName("compact_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("compact_stream").count() == 400L)
      // compaction: a running stream must see a NON-EVENT
      EncodeJob.compact(spark, o, targetPartitions = 1)
      q.processAllAvailable()
      assert(spark.table("compact_stream").count() == 400L, "stream double-read the compacted batch")
      // appends after compaction still stream exactly once
      frame(400, 500).write.format("graft").mode("append").option("numPartitions", "2").save(o)
      q.processAllAvailable()
      val rows = spark.table("compact_stream")
      assert(rows.count() == 500L)
      assert(rows.select("id").distinct().count() == 500L, "duplicate rows in stream")
    } finally q.stop()
  }

  test("updateWhere: simultaneous semantics — RHS and condition read the pre-update row") {
    val o = s"$tmp/simultaneous"
    spark.range(0, 100).select(col("id"), (col("id") + 1000).as("a"),
        (col("id") + 2000).as("b"), (col("id") % 10).cast("double").as("v"))
      .write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    // swap a and b AND zero the condition column in one statement: the old
    // sequential withColumn chain fed later assignments (and the
    // re-resolved condition) already-updated columns, so the swap came out
    // as a copy and the hit set depended on Map iteration order
    EncodeJob.updateWhere(spark, o, col("v") > 5.0,
      Map("a" -> col("b"), "b" -> col("a"), "v" -> lit(0.0)), 2)
    spark.read.format("graft").load(o).orderBy("id").collect().foreach { r =>
      val id = r.getLong(0)
      val (a, b, v) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      if (id % 10 > 5) assert(a == id + 2000 && b == id + 1000 && v == 0.0,
        s"row $id not swapped simultaneously: a=$a b=$b v=$v")
      else assert(a == id + 1000 && b == id + 2000 && v == (id % 10).toDouble,
        s"unmatched row $id modified: a=$a b=$b v=$v")
    }
  }
}
