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
      .config(s"spark.hadoop.fs.${ListingFileSystem.Scheme}.impl", classOf[ListingFileSystem].getName)
      .config("spark.sql.catalog.graft", "graft.spark.source.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"${ListingFileSystem.Scheme}://$tmp/warehouse")
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
    // the index of a batch's chunk files (the footers, since the table
    // keeps no sidecar) revalidates against the batch dir's listing
    val o = s"$tmp/t2"
    val df = spark.range(0, 300).select(col("id"), (col("id") % 3).as("k"))
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    def files() = TableMeta.batchIndex(spark, o, Set(0))(0).files.map(_.path)
    val first = files()
    assert(first.nonEmpty)
    assert(!new java.io.File(s"$o/filestats").exists(), "a new table wrote a filestats sidecar")
    assert(!new java.io.File(s"$o/chunks/batch=0/_filemeta.json").exists())
    // same listing → same (cached) answer, no footer re-read
    val loads0 = TableMeta.indexLoads.get()
    assert(files() == first)
    assert(TableMeta.indexLoads.get() == loads0, "an unchanged batch reloaded its footers")
    // overwrite reuses batch id 0 but writes NEW file names — the cache
    // must re-list and serve the fresh files, never the deleted ones
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val second = files()
    assert(second.nonEmpty)
    assert(second != first, "stale chunk-file list served after overwrite")
    assert(TableMeta.batchIndex(spark, o, Set(0))(0).rows.map(_.row_count.toLong).sum == 2 * 300L)
  }

  test("a committed batch without chunk files fails the scan and names the batch") {
    def table(name: String): String = {
      val o = s"$tmp/$name"
      spark.range(0, 200).select(col("id")).write.format("graft").mode("overwrite")
        .option("numPartitions", "2").save(o)
      spark.range(200, 400).select(col("id")).write.format("graft").mode("append")
        .option("numPartitions", "2").save(o)
      assert(spark.read.format("graft").load(o).count() == 400L)
      o
    }
    def failsNaming(o: String): Unit = {
      val err = intercept[IllegalArgumentException](spark.read.format("graft").load(o).collect())
      assert(err.getMessage.contains("committed batches 1 record rows") &&
        err.getMessage.contains("batch=1"), err.getMessage)
    }
    // chunk files deleted, the batch dir kept
    val kept = table("lost-files")
    new java.io.File(EncodeJob.chunkBatchDir(kept, 1)).listFiles()
      .filter(f => ChunkFile.isChunkFileName(f.getName)).foreach(_.delete())
    failsNaming(kept)
    // the batch dir deleted too
    val gone = table("lost-dir")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(EncodeJob.chunkBatchDir(gone, 1)))
    failsNaming(gone)
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

  // ---- one metadata snapshot per scan, on a counting filesystem --------

  /** `tmp/name` addressed through `ListingFileSystem`. */
  private def counted(name: String): String = s"${ListingFileSystem.Scheme}://$tmp/$name"

  private def ordering(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.ordering.toSeq.flatten.map(_.child.references.head.name)
    }.flatten

  test("a warm point lookup lists manifest/ at most twice and reads no schema.json or layout.json") {
    val o = counted("lookup")
    spark.range(0, 400).select(col("id"), concat(lit("u"), col("id")).as("url"),
      (col("id") * 7 % 13).as("k"))
      .write.format("graft").option("numPartitions", "4").option("bloomColumns", "url")
      .option("sortColumns", "id").save(o)
    val local = spark.newSession()
    graft.plans.GraftExtensions.registerLocalScan(local)
    Seq(spark, local).foreach { s =>
      def lookup(u: String) = s.read.format("graft").load(o).where(col("url") === u).collect()
      assert(lookup("u7").map(_.getLong(0)).toSeq == Seq(7L)) // warms the metadata
      ListingFileSystem.reset()
      assert(lookup("u42").map(_.getLong(0)).toSeq == Seq(42L))
      assert(ListingFileSystem.calls("list", "manifest") <= 2, ListingFileSystem.dump)
      assert(ListingFileSystem.calls("open", "schema.json") == 0, ListingFileSystem.dump)
      assert(ListingFileSystem.calls("open", "layout.json") == 0, ListingFileSystem.dump)
    }
  }

  test("a second read in the same JVM sees an ALTER ADD COLUMN and an append under another sort") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.t (id BIGINT, s STRING) USING graft " +
      "TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.meta.t SELECT id, concat('s', id) FROM range(100)")
    assert(spark.table("graft.meta.t").columns.toSeq == Seq("id", "s"))
    spark.sql("ALTER TABLE graft.meta.t ADD COLUMN score DOUBLE")
    val evolved = spark.table("graft.meta.t")
    assert(evolved.columns.toSeq == Seq("id", "s", "score"))
    assert(evolved.where(col("score").isNull).count() == 100L)

    val o = counted("sorted")
    val df = spark.range(0, 300).select(col("id"), concat(lit("s"), col("id")).as("s"))
    df.write.format("graft").option("numPartitions", "2").option("sortColumns", "id").save(o)
    assert(ordering(spark.read.format("graft").load(o)) == Seq("id"))
    df.write.format("graft").mode("append").option("numPartitions", "2")
      .option("sortColumns", "s").save(o)
    val after = spark.read.format("graft").load(o)
    assert(ordering(after).isEmpty, "the sort claim outlived an append under another sort")
    assert(after.count() == 600L)
  }

  test("a schema.json rewritten by another writer is seen through the snapshot's signature") {
    val o = s"$tmp/external-schema"
    spark.range(0, 50).select(col("id")).write.format("graft").option("numPartitions", "1").save(o)
    assert(spark.read.format("graft").load(o).columns.toSeq == Seq("id"))
    // what a catalog ALTER in another process leaves: schema.json rewritten, no commit
    val wider = new org.apache.spark.sql.types.StructType().add("id", "long").add("extra", "string")
    val schemaFile = new java.io.File(EncodeJob.schemaPath(o))
    Files.write(schemaFile.toPath, wider.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    new java.io.File(schemaFile.getParent, s".${schemaFile.getName}.crc").delete()
    val read = spark.read.format("graft").load(o)
    assert(read.columns.toSeq == Seq("id", "extra"))
    assert(read.where(col("extra").isNull).count() == 50L)
  }
}
