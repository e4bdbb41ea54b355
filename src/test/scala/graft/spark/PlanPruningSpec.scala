package graft.spark

import graft.spark.source.ChunkPrune
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Plan-time pruning on the driver: planning a query over a warm table
  * launches no Spark job, and the driver's file keep (TableMeta.fileKeep
  * over the sidecar index) never drops a file that holds a matching row.
  */
class PlanPruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-planprune").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-planprune-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Job groups of every started job, in submission order. */
  private final class JobGroups extends SparkListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
  }

  /** Spark jobs launched by `body`, counted between two marker jobs: the
    * listener bus delivers job starts in order, so once the end marker is
    * seen every job `body` launched has been seen too.
    */
  private def jobsDuring(body: => Unit): Int = {
    val groups = new JobGroups
    spark.sparkContext.addSparkListener(groups)
    val sc = spark.sparkContext
    def marker(id: String): Unit = {
      sc.setJobGroup(id, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    try {
      marker("plan-begin")
      body
      marker("plan-end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.seen.contains("plan-end") && System.nanoTime() < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      val all = groups.seen.asScala.toSeq
      assert(all.contains("plan-end"), "listener never saw the end marker")
      all.dropWhile(_ != "plan-begin").drop(1).takeWhile(_ != "plan-end").size
    } finally sc.removeSparkListener(groups)
  }

  test("planning a point lookup launches no Spark job on a warm table") {
    val o = s"$tmp/lookup"
    def pages(lo: Long, hi: Long) = spark.range(lo, hi).select(
      concat(lit("https://example.org/p/"), col("id")).as("url"), col("id").as("n"))
    pages(0, 2000).write.format("graft").mode("overwrite")
      .option("numPartitions", "4").option("bloomColumns", "url").save(o)
    def lookup(id: Long) =
      spark.read.format("graft").load(o).filter(col("url") === s"https://example.org/p/$id")
    def plan(id: Long): Unit = { lookup(id).queryExecution.executedPlan; () }

    plan(1) // first plan of the table: snapshot and sidecar index load
    val loads = TableMeta.indexLoads.get()
    assert(jobsDuring(plan(7)) == 0, "warm lookup planning launched Spark jobs")
    assert(jobsDuring(plan(8)) == 0, "a new predicate on a warm table launched Spark jobs")
    assert(TableMeta.indexLoads.get() == loads, "a warm table reloaded its sidecar index")

    // a newly committed batch: its sidecar is read once, on the driver
    pages(2000, 2500).write.format("graft").mode("append")
      .option("numPartitions", "4").option("bloomColumns", "url").save(o)
    assert(jobsDuring(plan(2100)) <= 1, "planning after one new batch ran more than one job")
    assert(TableMeta.indexLoads.get() == loads + 1)
    assert(jobsDuring(plan(9)) == 0)

    // the plans pruned with the right answer
    assert(lookup(2100).select("n").collect().map(_.getLong(0)).toSeq == Seq(2100L))
    assert(lookup(7).select("n").collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(lookup(99999).count() == 0)
  }

  // ---- file keep vs. a brute-force filter of the rows ----

  /** One chunk's rows of column `c` (None = null); `hasRow` false models
    * a chunk written before the column existed (no sidecar row at all).
    */
  private final case class Chunk(values: Seq[Option[Any]], minMax: Int, nanCount: Boolean,
                                 bloom: Boolean, hasRow: Boolean)
  private final case class Case(logical: String, files: Seq[Seq[Chunk]], filter: Filter,
                                nanCountColumn: Boolean)

  // small domains first, so that values and literals collide and land on
  // chunk boundaries often
  private val longs = Gen.frequency(6 -> Gen.choose(-3L, 3L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue), 1 -> Gen.choose(Long.MinValue, Long.MaxValue))
  private val doubles = Gen.frequency(6 -> Gen.oneOf(-0.0, 0.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue, -1.5, 1.5),
    1 -> Gen.choose(-3.0, 3.0))
  private val strings = Gen.frequency(6 -> Gen.oneOf("", "a", "ab", "b", "é", "😀", "z", "a\u0000"),
    1 -> Gen.listOfN(2, Gen.oneOf('a', 'b', 'é')).map(_.mkString))
  private val micros = Gen.frequency(6 -> Gen.choose(-3L, 3L).map(_ * 60000000L),
    1 -> Gen.choose(-1000000000000000L, 1000000000000000L))
  private def valueGen(logical: String): Gen[Any] = logical match {
    case "long" => longs
    case "double" => doubles
    case "string" => strings
    case _ => micros
  }

  private def filterGen(logical: String): Gen[Filter] = {
    val lit: Gen[Any] = valueGen(logical).map {
      case m: Long if logical == "timestamp" => DateTimeUtils.microsToInstant(m)
      case v => v
    }
    Gen.oneOf(
      lit.map(EqualTo("c", _)), lit.map(GreaterThan("c", _)),
      lit.map(GreaterThanOrEqual("c", _)), lit.map(LessThan("c", _)),
      lit.map(LessThanOrEqual("c", _)),
      Gen.listOfN(2, lit).map(vs => In("c", vs.toArray)),
      Gen.const(IsNull("c")), Gen.const(IsNotNull("c")))
  }

  private def caseGen: Gen[Case] = for {
    logical <- Gen.oneOf("long", "double", "string", "timestamp")
    chunk = for {
      n <- Gen.choose(0, 4)
      values <- Gen.listOfN(n, Gen.frequency[Option[Any]](1 -> Gen.const(None),
        5 -> valueGen(logical).map(Some(_))))
      // 0: exact min/max, 1: absent, 2: unparseable
      minMax <- Gen.frequency(6 -> 0, 1 -> 1, 1 -> 2)
      nanCount <- Gen.oneOf(true, false)
      bloom <- Gen.oneOf(true, false)
      hasRow <- Gen.frequency(9 -> true, 1 -> false)
    } yield Chunk(values, minMax, nanCount, bloom, hasRow)
    files <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.choose(1, 2).flatMap(Gen.listOfN(_, chunk))))
    filter <- filterGen(logical)
    nanCountColumn <- Gen.oneOf(true, false)
  } yield Case(logical, files, filter, nanCountColumn)

  /** Spark SQL's ordering of the column's values: -0.0 = 0.0, NaN = NaN
    * and NaN above every other double; binary UTF-8 order for strings.
    */
  private def cmp(logical: String, a: Any, b: Any): Int = (logical, a, b) match {
    case ("double", x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
    case ("string", x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case ("timestamp", x: Long, y: java.time.Instant) =>
      java.lang.Long.compare(x, DateTimeUtils.instantToMicros(y))
    case (_, x: Long, y: Long) => java.lang.Long.compare(x, y)
  }

  private def matches(logical: String, f: Filter, v: Option[Any]): Boolean = f match {
    case IsNull(_) => v.isEmpty
    case IsNotNull(_) => v.nonEmpty
    case EqualTo(_, x) => v.exists(cmp(logical, _, x) == 0)
    case GreaterThan(_, x) => v.exists(cmp(logical, _, x) > 0)
    case GreaterThanOrEqual(_, x) => v.exists(cmp(logical, _, x) >= 0)
    case LessThan(_, x) => v.exists(cmp(logical, _, x) < 0)
    case LessThanOrEqual(_, x) => v.exists(cmp(logical, _, x) <= 0)
    case In(_, xs) => v.exists(a => xs.exists(cmp(logical, a, _) == 0))
  }

  /** The writer's stats for one chunk: min/max over the non-null,
    * non-NaN values (unsigned byte order for strings), rendered with
    * toString; the Bloom filter over the non-null values.
    */
  private def stats(logical: String, c: Chunk)
      : (Option[String], Option[String], Option[Int], Option[Array[Byte]]) = {
    val present = c.values.flatten
    val ranged = present.filter {
      case d: Double => !d.isNaN
      case _ => true
    }
    val ord: Ordering[Any] = logical match {
      case "double" => Ordering.by[Any, Double](_.asInstanceOf[Double])((x, y) =>
        if (x < y) -1 else if (x > y) 1 else 0)
      case "string" => Ordering.fromLessThan[Any]((x, y) => java.util.Arrays.compareUnsigned(
        x.asInstanceOf[String].getBytes("UTF-8"), y.asInstanceOf[String].getBytes("UTF-8")) < 0)
      case _ => Ordering.by[Any, Long](_.asInstanceOf[Long])
    }
    val exact =
      if (ranged.isEmpty) (None, None)
      else (Some(ranged.min(ord).toString), Some(ranged.max(ord).toString))
    val (mn, mx) = c.minMax match {
      case 0 => exact
      case 1 => (None, None)
      case _ => if (logical == "string") exact else (Some("?!"), Some("not-a-number"))
    }
    val nans =
      if (logical == "double" && c.nanCount)
        Some(present.count(_.asInstanceOf[Double].isNaN))
      else None
    val bloom =
      if (!c.bloom || logical == "double" || present.isEmpty) None
      else {
        val b = new graft.core.Bloom.Builder
        present.foreach {
          case s: String => b.addBytes(s.getBytes("UTF-8"))
          case l: Long => b.addLong(l)
        }
        val tag = if (logical == "string") graft.core.Bloom.TagBytes else graft.core.Bloom.TagLong
        Some(graft.core.Bloom.serializeTagged(b.build(), tag))
      }
    (mn, mx, nans, bloom)
  }

  /** Writes the case's sidecar as batch 0 of a fresh table dir (parquet-mr
    * on the driver, the sidecar's on-disk schema, optionally without the
    * `nan_count` column like batches written before it existed), plus
    * rows of an unconstrained column `o` in the same files.
    */
  private def writeSidecar(dir: String, k: Case): Seq[String] = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message spark_schema {
         |  optional int32 part_id; optional int32 chunk_id;
         |  optional binary column (STRING);
         |  optional binary min_val (STRING); optional binary max_val (STRING);
         |  optional int32 null_count; optional int32 row_count;
         |  ${if (k.nanCountColumn) "optional int32 nan_count;" else ""}
         |  optional binary bloom; optional binary file (STRING);
         |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(new Path(EncodeJob.filestatsBatchDir(dir, 0), "part-00000.parquet"))
      .withType(schema).withConf(conf).build()
    val factory = new SimpleGroupFactory(schema)
    val files = k.files.indices.map(i => s"file:${EncodeJob.chunkBatchDir(dir, 0)}/part-$i.parquet")
    try {
      k.files.zipWithIndex.foreach { case (chunks, fi) =>
        chunks.zipWithIndex.foreach { case (c, ci) =>
          def row(column: String): org.apache.parquet.example.data.Group = {
            val g = factory.newGroup()
            g.add("part_id", fi); g.add("chunk_id", ci); g.add("column", column)
            g.add("row_count", c.values.size); g.add("file", files(fi))
            g
          }
          val (mn, mx, nans, bloom) = stats(k.logical, c)
          if (c.hasRow) {
            val g = row("c")
            mn.foreach(g.add("min_val", _)); mx.foreach(g.add("max_val", _))
            g.add("null_count", c.values.count(_.isEmpty))
            if (k.nanCountColumn) nans.foreach(g.add("nan_count", _))
            bloom.foreach(b => g.add("bloom",
              org.apache.parquet.io.api.Binary.fromConstantByteArray(b)))
            writer.write(g)
          }
          val other = row("o")
          other.add("null_count", 0)
          writer.write(other)
        }
      }
    } finally writer.close()
    files
  }

  test("property: driver file keep never drops a file holding a matching row") {
    var cases = 0
    var dropped = 0
    val prop = Prop.forAll(caseGen) { k =>
      cases += 1
      val dir = s"$tmp/prop/t$cases"
      val files = writeSidecar(dir, k)
      val preds = ChunkPrune.from(k.filter, Array(ColumnSpec("c", k.logical, ""))).toSeq
      val keep = TableMeta.fileKeep(spark, dir, Set(0), preds)
      k.files.zip(files).forall { case (chunks, f) =>
        val kept = keep.getOrElse(TableMeta.normPath(f), true)
        if (!kept) dropped += 1
        val holdsMatch = chunks.exists(c =>
          if (c.hasRow) c.values.exists(matches(k.logical, k.filter, _))
          // rows of a column the chunk predates read as null
          else c.values.nonEmpty && matches(k.logical, k.filter, None))
        kept || !holdsMatch
      }
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, result.status.toString)
    // the property is not vacuous: the keep logic does prune
    assert(dropped > 0, s"no file was ever pruned over $cases cases")
  }
}
