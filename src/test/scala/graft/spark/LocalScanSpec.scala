package graft.spark

import graft.spark.source.GraftLocalScan
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

/** `GraftLocalScan` answers small graft row scans on the driver: the same
  * answers as a session without it, no Spark job for a point lookup, and
  * a `BatchScanExec` for everything it must not answer.
  */
class LocalScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** A plain session: every graft scan runs distributed. */
  private var spark: SparkSession = _
  /** The same context with `GraftExtensions.registerLocalScan`: small scans run local. */
  private var on: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-localscan").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-localscan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.spark.source.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    on = spark.newSession()
    graft.plans.GraftExtensions.registerLocalScan(on)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 3 000 rows in 4 files: a Bloom-filtered url, a timestamp, doubles
    * with NaN, -0.0 and 0.0, nulls, and a decimal(38,6) beyond long range.
    */
  private def input: DataFrame = spark.range(0, 3000, 1, 4).select(
    col("id"),
    concat(lit("u"), col("id")).as("url"),
    timestamp_seconds(lit(1700000000L) + col("id") * 7).as("warc_ts"),
    when(col("id") % 50 === 0, lit(Double.NaN))
      .when(col("id") % 50 === 1, lit(-0.0))
      .when(col("id") % 50 === 2, lit(0.0))
      .otherwise(col("id") / 3.0).as("d"),
    when(col("id") % 9 === 0, lit(null).cast("string"))
      .otherwise((col("id") % 7).cast("string")).as("n"),
    (col("id").cast("decimal(38,6)") * lit(new java.math.BigDecimal("100000000000000000000.000001")))
      .cast("decimal(38,6)").as("dec"))

  private lazy val table: String = {
    val out = s"$tmp/t"
    EncodeJob.run(input, EncodeJob.Config(out, numPartitions = 4, keyColumn = None,
      bloomColumns = Set("url")))
    out
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case other                    => other +: other.children.flatMap(nodes)
  }
  private def isLocal(df: DataFrame): Boolean = {
    val ns = nodes(df.queryExecution.executedPlan)
    ns.exists(_.isInstanceOf[LocalTableScanExec]) && !ns.exists(_.isInstanceOf[BatchScanExec])
  }
  private def isDistributed(df: DataFrame): Boolean =
    nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[BatchScanExec])

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Asserts that `query` has the same answer in both sessions, runs
    * distributed without the strategy and local with it; returns the rows.
    */
  private def sameAnswer(query: SparkSession => DataFrame): Seq[String] = {
    val off = query(spark)
    val local = query(on)
    assert(isDistributed(off), off.queryExecution.executedPlan)
    assert(isLocal(local), local.queryExecution.executedPlan)
    val r = rows(off)
    assert(rows(local) == r)
    r
  }

  private def load(s: SparkSession, dir: String = table): DataFrame =
    s.read.format("graft").load(dir)

  test("point lookups, ranges, nulls, NaN, -0.0, decimals and limits match a plain session") {
    assert(sameAnswer(load(_).filter(col("url") === "u1234")).size == 1)
    assert(sameAnswer(load(_).filter(col("url") === "nope")).isEmpty)
    val from = new java.sql.Timestamp(1700000000L * 1000 + 7000L * 100)
    val until = new java.sql.Timestamp(1700000000L * 1000 + 7000L * 160)
    assert(sameAnswer(load(_).filter(col("warc_ts") >= lit(from) && col("warc_ts") < lit(until)))
      .size == 60)
    assert(sameAnswer(load(_).filter(col("n").isNull)).size == 334)
    assert(sameAnswer(load(_).filter(isnan(col("d")))).size == 60)
    // -0.0 == 0.0 in SQL: both rows of each 50-row cycle match
    assert(sameAnswer(load(_).filter(col("d") === 0.0).select("id", "d")).size == 120)
    assert(sameAnswer(load(_).filter(col("d") > 990.0).select("d")).size ==
      input.filter(col("d") > 990.0).count())
    val big = new java.math.BigDecimal("200000000000000000000000.002000")
    assert(sameAnswer(load(_).filter(col("dec") <= lit(big)).select("id", "dec")).size == 2001)
    assert(sameAnswer(load(_).limit(7)).size == 7)
    // a projection with no column keeps one empty row per row
    assert(sameAnswer(load(_).select()).size == 3000)
    // a projected expression is evaluated on the driver too
    assert(sameAnswer(load(_).filter(col("id") < 5).select((col("id") * 2).as("x"), upper(col("url"))))
      .size == 5)
  }

  test("time travel, an ALTERed column and a schema-only table match a plain session") {
    val dir = s"$tmp/travel"
    input.filter(col("id") < 100).write.format("graft").option("numPartitions", "2").save(dir)
    input.filter(col("id") >= 100 && col("id") < 150).write.format("graft").mode("append")
      .option("numPartitions", "2").save(dir)
    val asOf0 = (s: SparkSession) => s.read.format("graft").option("asOfBatch", "0").load(dir)
    assert(sameAnswer(asOf0).size == 100)
    assert(sameAnswer(load(_, dir)).size == 150)

    on.sql("CREATE NAMESPACE IF NOT EXISTS graft.ls")
    on.sql("CREATE TABLE graft.ls.evo (id BIGINT, s STRING) USING graft " +
      "TBLPROPERTIES ('numPartitions'='2')")
    on.sql("INSERT INTO graft.ls.evo SELECT id, concat('s', id) FROM range(20)")
    on.sql("ALTER TABLE graft.ls.evo ADD COLUMN score DOUBLE")
    on.sql("INSERT INTO graft.ls.evo SELECT id, concat('n', id), id * 1.5 FROM range(20, 30)")
    val evo = sameAnswer(_.table("graft.ls.evo"))
    assert(evo.size == 30 && evo.count(_.endsWith(",null]")) == 20, evo)
    assert(sameAnswer(_.table("graft.ls.evo").filter(col("score").isNull).select("id")).size == 20)

    on.sql("CREATE TABLE graft.ls.empty (id BIGINT, s STRING) USING graft")
    assert(sameAnswer(_.table("graft.ls.empty")).isEmpty)
  }

  /** Jobs started while `body` ran. A marker job runs before and after
    * it: job ids increase, and the listener bus delivers events in order,
    * so once the second marker has ended the listener has seen every job
    * `body` started.
    */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val marker = "graft-local-scan-marker"
    val markers = ConcurrentHashMap.newKeySet[Int]()
    val markersEnded = new LinkedBlockingQueue[Integer]()
    val started = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markers.add(e.jobId)
        else started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markers.contains(e.jobId)) markersEnded.put(Integer.valueOf(e.jobId))
    }
    def mark(): Int = {
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val id = markersEnded.poll(60, TimeUnit.SECONDS)
      assert(id != null, "a marker job never ended")
      id.intValue
    }
    sc.addSparkListener(listener)
    try {
      val before = mark()
      body
      val after = mark()
      started.asScala.count(id => id > before && id < after)
    } finally sc.removeSparkListener(listener)
  }

  test("a point lookup runs no Spark job; the distributed scan runs one") {
    load(spark).filter(col("url") === "u77").collect() // table written, metadata cached
    assert(jobsDuring(on)(assert(load(on).filter(col("url") === "u77").collect().length == 1)) == 0)
    assert(jobsDuring(on)(load(on).filter(col("url") === "u78").show()) == 0)
    assert(jobsDuring(on)(assert(load(on).filter(col("url") === "u79").take(1).length == 1)) == 0)
    assert(jobsDuring(spark)(load(spark).filter(col("url") === "u77").collect()) >= 1)
  }

  test("a scan over the decoded bound plans a BatchScanExec, however small its files") {
    // a million 8-byte values of one bit: 8 MB decoded from under 1 MiB of chunk files
    assert(1000000L * 8 > GraftLocalScan.MaxDecodedBytes)
    val dir = s"$tmp/flags"
    spark.range(0, 1000000, 1, 2).selectExpr("id % 2 AS flag")
      .write.format("graft").option("numPartitions", "2").save(dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getContentSummary(new org.apache.hadoop.fs.Path(EncodeJob.chunkDir(dir))).getLength <
      (1L << 20))
    val ones = load(on, dir).filter(col("flag") === 1)
    assert(isDistributed(ones), ones.queryExecution.executedPlan)
    assert(ones.count() == 500000L)
    // pruning that keeps few enough rows brings the same table under it
    val none = load(on, dir).filter(col("flag") === 2)
    assert(isLocal(none), none.queryExecution.executedPlan)
    assert(none.collect().isEmpty)
  }

  test("non-deterministic and subquery filters plan a BatchScanExec") {
    val random = load(on).filter(rand(7) < 0.5)
    assert(isDistributed(random), random.queryExecution.executedPlan)
    assert(!nodes(random.queryExecution.executedPlan).exists(_.isInstanceOf[LocalTableScanExec]))
    val n = random.count()
    assert(n > 1000 && n < 2000, n)

    def subquery(s: SparkSession): DataFrame = {
      load(s).createOrReplaceTempView("ls_t")
      s.sql("SELECT id FROM ls_t WHERE id > (SELECT max(id) - 5 FROM ls_t)")
    }
    val sub = subquery(on)
    assert(isDistributed(sub), sub.queryExecution.executedPlan)
    assert(!nodes(sub.queryExecution.executedPlan).exists(_.isInstanceOf[LocalTableScanExec]))
    assert(rows(sub) == rows(subquery(spark)))
    assert(rows(sub).size == 5)
  }

  test("a sorted multi-file table answers in claim order; sortWithinPartitions stays sorted") {
    val dir = s"$tmp/sorted"
    // keys in adversarial order across 4 files, each file sorted by k
    spark.range(0, 4000, 1, 4).select((col("id") * 2654435761L % 4000).as("k"), col("id"))
      .write.format("graft").option("numPartitions", "4").option("sortColumns", "k").save(dir)
    // LocalTableScanExec slices its rows into partitions, and reports no
    // ordering of its own: the rows themselves follow the scan's claim
    val all = load(on, dir)
    assert(isLocal(all), all.queryExecution.executedPlan)
    assert(all.collect().map(_.getLong(0)).toSeq == (0L until 4000L))
    val df = load(on, dir).sortWithinPartitions("k")
    assert(isLocal(df), df.queryExecution.executedPlan)
    val parts = df.queryExecution.toRdd.map(_.getLong(0)).glom().collect()
    assert(parts.count(_.nonEmpty) > 1, parts.map(_.length).toSeq)
    parts.foreach(p => assert(p.toSeq == p.sorted.toSeq))
    assert(parts.flatten.sorted.toSeq == (0L until 4000L))
  }
}
