package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** The JVM metadata snapshot cache: repeated reads hit the cache (no
  * re-load), any commit — append, compaction record — changes the
  * filesystem signature and reloads, and the snapshot's contents agree
  * with the uncached reads it replaced.
  */
class TableMetaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-tablemeta").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tablemeta-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("snapshot caches until the manifest/compactions signature changes") {
    val o = s"$tmp/t1"
    val df = spark.range(0, 500).select(col("id"),
      concat(lit("s"), col("id")).as("s"))
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)

    val s1 = TableMeta.snapshot(spark, o)
    assert(s1.batchIds == Set(0))
    assert(s1.codecs.exists(_.contains("s=")))
    assert(s1.perBatch(0)._1 == 500L)

    val loads0 = TableMeta.snapshotLoads.get()
    (1 to 5).foreach(_ => TableMeta.snapshot(spark, o))
    assert(TableMeta.snapshotLoads.get() == loads0, "cache hit should not reload")

    // an append commits new manifest files → signature change → reload
    df.write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val s2 = TableMeta.snapshot(spark, o)
    assert(s2.batchIds.size == 2, s"append not visible: ${s2.batchIds}")

    // a compaction record (no new manifest rows yet needed) also invalidates
    val newBatch = EncodeJob.compact(spark, o, targetPartitions = 1)
    val s3 = TableMeta.snapshot(spark, o)
    assert(s3.compactions.map(_.batch).contains(newBatch))
    assert(EncodeJob.committedBatches(spark, o) == Set(newBatch))

    // overwrite reuses batch id 0 with fresh files — snapshot must follow
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val s4 = TableMeta.snapshot(spark, o)
    assert(s4.batchIds == Set(0) && s4.compactions.isEmpty)
    assert(spark.read.format("graft").load(o).count() == 500L)
  }

  test("sidecar chunk-file cache revalidates against the sidecar listing") {
    val o = s"$tmp/t2"
    val df = spark.range(0, 300).select(col("id"), (col("id") % 3).as("k"))
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val first = TableMeta.sidecarChunkFiles(spark, o, Set(0))
    assert(first.exists(_.nonEmpty))
    // same listing → same (cached) answer
    assert(TableMeta.sidecarChunkFiles(spark, o, Set(0)) == first)
    // overwrite reuses batch id 0 but writes NEW file names — the cache
    // must re-list and serve the fresh files, never the deleted ones
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val second = TableMeta.sidecarChunkFiles(spark, o, Set(0))
    assert(second.exists(_.nonEmpty))
    assert(second != first, "stale sidecar file list served after overwrite")
    // deleting the sidecar entirely → None (callers fall back to the walk)
    val fs = new org.apache.hadoop.fs.Path(o)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(EncodeJob.filestatsDir(o)), true)
    assert(TableMeta.sidecarChunkFiles(spark, o, Set(0)).isEmpty)
  }

  test("snapshot cache evicts the least recently used table, not every table") {
    // tables without a manifest dir load as empty snapshots: no Spark job
    val dirs = (0 to 1024).map(i => s"$tmp/lru/t$i")
    dirs.foreach(d => TableMeta.snapshot(spark, d))
    val loads0 = TableMeta.snapshotLoads.get()
    TableMeta.snapshot(spark, dirs(1))
    TableMeta.snapshot(spark, dirs(1024))
    assert(TableMeta.snapshotLoads.get() == loads0,
      "only the oldest table should have been evicted")
    TableMeta.snapshot(spark, dirs(0))
    assert(TableMeta.snapshotLoads.get() == loads0 + 1, "the oldest table was not evicted")
  }

  test("a manifest dir holding parquet files fails up front as a pre-JSON manifest") {
    val o = s"$tmp/t3"
    spark.range(0, 100).select(col("id")).write.format("graft").mode("overwrite")
      .option("numPartitions", "1").save(o)
    val legacy = new java.io.File(EncodeJob.manifestDir(o), "part-00000.parquet")
    java.nio.file.Files.write(legacy.toPath, Array[Byte](1, 2, 3))
    val read = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(o).count()
    }
    assert(read.getMessage.contains("pre-JSON manifest"), read.getMessage)
    val append = intercept[IllegalArgumentException] {
      spark.range(0, 10).select(col("id")).write.format("graft").mode("append").save(o)
    }
    assert(append.getMessage.contains("pre-JSON manifest"), append.getMessage)
  }
}
