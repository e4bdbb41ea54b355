package graft.spark

import graft.spark.source.{GraftInputPartition, GraftScan}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** A local filesystem under its own scheme that counts opens per file
  * and records, per file, the `TagKey` value of the conf that opened it.
  * Statuses are plain `FileStatus`es: the local ones resolve permissions
  * through a `file:` URI.
  */
class CountingFileSystem extends RawLocalFileSystem {
  private var tag = ""
  override def initialize(uri: java.net.URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    tag = conf.get(CountingFileSystem.TagKey, "")
  }
  override def getUri: java.net.URI = java.net.URI.create(s"$getScheme:///")
  override def getScheme: String = CountingFileSystem.Scheme
  private def plain(st: FileStatus) = new FileStatus(st.getLen, st.isDirectory,
    st.getReplication, st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opens.merge(f.toUri.getPath, 1, (a, b) => a + b)
    CountingFileSystem.tags.put(f.toUri.getPath, tag)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val Scheme = "graftcount"
  val TagKey = "graftcount.tag"
  val opens = new ConcurrentHashMap[String, Integer]()
  val tags = new ConcurrentHashMap[String, String]()
}

/** The counting filesystem under a scheme registered after the first scans. */
class LateCountingFileSystem extends CountingFileSystem {
  override def getScheme: String = LateCountingFileSystem.Scheme
}

object LateCountingFileSystem {
  val Scheme = "graftlate"
}

/** Every reader reaches its files through the session's Hadoop conf: a
  * filesystem registered only on `sparkContext.hadoopConfiguration` (and
  * kept out of Hadoop's FileSystem cache, so a reader that builds its own
  * default conf cannot find it) serves the row scan, the aggregate
  * scan, the `TableMeta` index load and the ORC interop path. The
  * counts check that a chunk file is opened once per read.
  */
class SessionConfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-sessionconf").toString
  private val Scheme = CountingFileSystem.Scheme

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-sessionconf-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    hc.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def input: DataFrame = spark.range(0, 4000, 1, 4).select(col("id"),
    concat(lit("u"), col("id")).as("url"), (col("id") % 7).cast("string").as("lang"))

  private lazy val out = {
    val o = s"$Scheme://$tmp/t"
    EncodeJob.run(input, EncodeJob.Config(o, numPartitions = 4, keyColumn = None,
      bloomColumns = Set("url")))
    o
  }

  private def key(p: String): String = new Path(p).toUri.getPath
  private def under(dir: String)(p: String): Boolean = p.startsWith(key(dir) + "/")

  /** `body`'s result and the opens per file under `dir` while it ran. */
  private def opensUnder[T](dir: String)(body: => T): (T, Map[String, Int]) = {
    CountingFileSystem.opens.clear()
    val r = body
    (r, CountingFileSystem.opens.asScala.collect {
      case (p, n) if under(dir)(p) => p -> n.intValue
    }.toMap)
  }

  private def fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def chunkFiles(table: String): Set[String] = {
    val dir = new Path(EncodeJob.chunkDir(table))
    val it = dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(dir, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => ChunkFile.isChunkFileName(p.getName)).map(p => key(p.toString)).toSet
  }

  /** Chunk files of the graft scan's input partitions (AQE unwrapped). */
  private def plannedFiles(df: DataFrame): Set[String] = {
    def find(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec        => find(q.plan)
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => Seq(b)
      case other                    => other.children.flatMap(find)
    }
    find(df.queryExecution.executedPlan)
      .flatMap(_.inputPartitions.flatMap(_.asInstanceOf[GraftInputPartition].files))
      .map(key).toSet
  }

  test("a filesystem registered only in the session conf is unknown to a default conf") {
    val e = intercept[java.io.IOException](
      new Path(s"$Scheme://$tmp").getFileSystem(new org.apache.hadoop.conf.Configuration()))
    assert(e.getMessage.contains(Scheme), e.getMessage)
  }

  test("row scan reads the table through the session conf, opening each planned chunk file once") {
    val files = chunkFiles(out)
    assert(files.size == 4, files)
    val want = input.collect().map(_.toString).sorted
    val full = spark.read.format("graft").load(out)
    val (got, opened) = opensUnder(EncodeJob.chunkDir(out))(
      full.collect().map(_.toString).sorted)
    assert(got.sameElements(want))
    assert(plannedFiles(full) == files)
    assert(opened == files.map(_ -> 1).toMap, opened)

    // a Bloom point lookup plans a subset of the files and opens each once
    val point = spark.read.format("graft").load(out).filter(col("url") === "u1234")
    val (ids, hit) = opensUnder(EncodeJob.chunkDir(out))(point.collect().map(_.getLong(0)))
    assert(ids.toSeq == Seq(1234L))
    val planned = plannedFiles(point)
    assert(planned.nonEmpty && planned.subsetOf(files), planned)
    assert(hit == planned.map(_ -> 1).toMap, s"$hit vs planned $planned")
  }

  test("a local answer opens each kept chunk file once and no pruned file") {
    val on = spark.newSession()
    graft.plans.GraftExtensions.registerLocalScan(on)
    def point(s: SparkSession) = s.read.format("graft").load(out).filter(col("url") === "u1234")
    val files = chunkFiles(out)
    // the files the distributed scan plans are the ones the driver keeps
    val kept = plannedFiles(point(spark))
    assert(kept.nonEmpty && kept.size < files.size, kept)
    val local = point(on)
    val (ids, opened) = opensUnder(EncodeJob.chunkDir(out))(local.collect().map(_.getLong(0)))
    assert(ids.toSeq == Seq(1234L))
    assert(local.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      local.queryExecution.executedPlan)
    assert(opened == kept.map(_ -> 1).toMap, s"$opened vs kept $kept")
  }

  test("a FileSystem scheme and a key set after a scan reach the next scan's tasks") {
    // this scan ships the session conf as it is now
    assert(spark.read.format("graft").load(out).count() == 4000L)
    val hc = spark.sparkContext.hadoopConfiguration
    val late = LateCountingFileSystem.Scheme
    hc.set(s"fs.$late.impl", classOf[LateCountingFileSystem].getName)
    hc.setBoolean(s"fs.$late.impl.disable.cache", true)
    hc.set(CountingFileSystem.TagKey, "late")
    try {
      val table = s"$late://$tmp/late"
      EncodeJob.run(input, EncodeJob.Config(table, numPartitions = 4, keyColumn = None))
      CountingFileSystem.tags.clear()
      val (got, opened) = opensUnder(EncodeJob.chunkDir(table))(
        spark.read.format("graft").load(table).collect().map(_.toString).sorted)
      assert(got.sameElements(input.collect().map(_.toString).sorted))
      assert(opened == chunkFiles(table).map(_ -> 1).toMap, opened)
      assert(opened.keySet.forall(f => CountingFileSystem.tags.get(f) == "late"),
        CountingFileSystem.tags)
    } finally hc.unset(CountingFileSystem.TagKey)
  }

  test("aggregate pushdown reads metadata through the session conf, opening each planned file once") {
    val want = input.agg(min("id"), max("url"), count(lit(1))).collect().head.toString
    def aggOf(table: String) = spark.read.format("graft").load(table)
      .agg(min("id").as("lo"), max("url").as("hi"), count(lit(1)).as("n"))

    // the driver's index of the chunk-file footers answers it (the write
    // loaded it): no file is opened, by the planner or by a task
    val agg = aggOf(out)
    graft.core.BlockCompression.resetCounters()
    val (got, opened) = opensUnder(tmp)(agg.collect().head.toString)
    assert(graft.core.BlockCompression.decompressInputBytes == 0,
      "aggregate pushdown did not engage: stream blobs were decompressed")
    assert(got == want)
    assert(opened.isEmpty, opened)

    // a table whose index is not loaded: the driver reads each chunk
    // file's footer once through the session conf, and no task opens one
    val bare = s"$Scheme://$tmp/bare"
    EncodeJob.run(input, EncodeJob.Config(bare, numPartitions = 4, keyColumn = None))
    TableMeta.invalidateAll()
    val (gotBare, openedBare) = opensUnder(EncodeJob.chunkDir(bare))(
      aggOf(bare).collect().head.toString)
    assert(gotBare == want)
    assert(openedBare == chunkFiles(bare).map(_ -> 1).toMap, openedBare)
  }

  test("TableMeta loads the sidecar index through the session conf") {
    // the index of the chunk-file footers, the table's only per-chunk
    // metadata
    val batches = EncodeJob.committedBatches(spark, out)
    TableMeta.invalidateAll()
    val loads0 = TableMeta.indexLoads.get()
    val (listed, opened) = opensUnder(EncodeJob.chunkDir(out))(
      TableMeta.batchIndex(spark, out, batches))
    assert(TableMeta.indexLoads.get() > loads0)
    assert(listed.values.flatMap(_.files.map(f => key(f.path))).toSet == chunkFiles(out))
    assert(opened == chunkFiles(out).map(_ -> 1).toMap, opened)
  }

  test("ORC interop writes and reads through the session conf") {
    val dir = s"$Scheme://$tmp/orc"
    val infos = OrcInterop.writeOrcFiles(input, dir, stripeRows = 700)
    assert(infos.map(_.rows).sum == 4000L)
    val back = OrcInterop.readOrcFile(spark, dir).collect().map(_.toString).sorted
    assert(back.sameElements(input.collect().map(_.toString).sorted))
  }
}
