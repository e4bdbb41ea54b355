package graft.spark

import graft.spark.source.{ChunkPrune, ChunkStats}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Predicate-first decode: a selective scan decodes its predicates'
  * columns first and keeps a row only when every row-level test admits
  * it. Its answers equal plain Spark's filter of the same input, with the
  * driver answer (`GraftExtensions.registerLocalScan`) and without it,
  * and a group whose rows all fail never reads its other columns.
  */
class PredicateFirstSpec extends AnyFunSuite with BeforeAndAfterAll {
  import PredicateFirstSpec.Table

  /** A plain session: every graft scan runs distributed. */
  private var spark: SparkSession = _
  /** The same context with small scans answered on the driver. */
  private var on: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-predfirst").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-predfirst-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.spark.source.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    on = spark.newSession()
    graft.plans.GraftExtensions.registerLocalScan(on)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pf")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---- the tables ----------------------------------------------------

  private val baseSchema = StructType(Seq(
    StructField("id", LongType), StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DateType), StructField("ts", TimestampType),
    StructField("dec", DecimalType(12, 2)), StructField("s_fsst", StringType),
    StructField("s_dict", StringType), StructField("s_direct", StringType),
    StructField("b", BinaryType), StructField("x", DoubleType)))
  /** The column an `ALTER TABLE ADD COLUMN` adds between the two batches. */
  private val added = StructField("extra", LongType)
  private val fullSchema = StructType(baseSchema.fields :+ added)

  private val dicts = Seq("en", "de", "fr", "zz", "élan")
  private val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25, 1e9)
  private val day0 = java.time.LocalDate.of(2024, 1, 1)
  private val ts0 = 1700000000000L

  private def nullable[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 6 -> g)

  /** Row `id` of a table: every column but `id` null about one time in seven. */
  private def rowGen(id: Long, withExtra: Boolean): Gen[Row] = for {
    l <- nullable(Gen.choose(-40L, 40L))
    i <- nullable(Gen.choose(-1000, 1000))
    d <- nullable(Gen.choose(0, 60).map(n => java.sql.Date.valueOf(day0.plusDays(n))))
    ts <- nullable(Gen.choose(0L, 3600L).map(s => new java.sql.Timestamp(ts0 + s * 1000L)))
    dec <- nullable(Gen.choose(-5000L, 5000L).map(m => java.math.BigDecimal.valueOf(m, 2)))
    fsst <- nullable(Gen.choose(0, 30).map(n => s"the quick brown fox $n jumps over the lazy dog $id"))
    dict <- nullable(Gen.oneOf(dicts))
    direct <- nullable(Gen.listOfN(5, Gen.alphaNumChar).map(cs => s"${cs.mkString}$id".take(7)))
    b <- nullable(Gen.listOfN(3, Gen.choose(0, 3).map(_.toByte)).map(_.toArray))
    x <- nullable(Gen.oneOf(Gen.oneOf(doubles), Gen.choose(-10.0, 10.0)))
    extra <- if (withExtra) nullable(Gen.choose(0L, 9L)) else Gen.const(null)
  } yield Row.fromSeq(Seq(id, l, i, d, ts, dec, fsst, dict, direct, b, x) ++
    (if (withExtra) Seq(extra) else Nil))

  private def rows(from: Long, n: Int, withExtra: Boolean, seed: Long): Seq[Row] =
    (0 until n).map(k => rowGen(from + k, withExtra)
      .pureApply(Gen.Parameters.default, Seed(seed * 1000003L + k)))


  /** A catalog table of both batches: 240 rows, an ALTER ADD COLUMN,
    * 160 rows that carry the new column; 16-row strides, 3 files. A
    * `columnPartitioned` table is an older engine's: its persisted
    * `partitionByColumn` property is no longer read, and both batches
    * are re-laid into its column-partitioned layout.
    */
  private def table(name: String, columnPartitioned: Boolean, segmented: Boolean,
                    seed: Long): Table = {
    val t = s"graft.pf.$name"
    spark.sql(s"CREATE TABLE $t (${baseSchema.toDDL}) USING graft TBLPROPERTIES (" +
      s"'numPartitions'='3', 'strideRows'='16', 'segmented'='$segmented', " +
      s"'partitionByColumn'='$columnPartitioned', 'bloomColumns'='s_direct,l')")
    val first = rows(0, 240, withExtra = false, seed)
    val second = rows(240, 160, withExtra = true, seed + 1)
    def insert(rs: Seq[Row], schema: StructType): Unit = {
      spark.createDataFrame(rs.asJava, schema).createOrReplaceTempView("pf_in")
      spark.sql(s"INSERT INTO $t SELECT * FROM pf_in")
    }
    insert(first, baseSchema)
    spark.sql(s"ALTER TABLE $t ADD COLUMN ${added.name} BIGINT")
    insert(second, fullSchema)
    if (columnPartitioned) {
      val dir = s"$tmp/warehouse/pf/$name"
      EncodeJob.committedBatches(spark, dir).foreach(LegacyLayout.toColumnPartitioned(spark, dir, _))
    }
    val all = first.map(r => Row.fromSeq(r.toSeq :+ null)) ++ second
    Table(t, spark.createDataFrame(all.asJava, fullSchema).cache())
  }

  private lazy val tables: Seq[Table] = Seq(
    table("rg_seg", columnPartitioned = false, segmented = true, seed = 11),
    table("rg_whole", columnPartitioned = false, segmented = false, seed = 12),
    table("cp_seg", columnPartitioned = true, segmented = true, seed = 13),
    table("cp_whole", columnPartitioned = true, segmented = false, seed = 14))

  // ---- the predicates ------------------------------------------------

  private def literalGen(c: String): Gen[Any] = c match {
    case "id" | "l" | "extra" => Gen.choose(-45L, 405L)
    case "i"        => Gen.choose(-1100, 1100)
    case "d"        => Gen.choose(-2, 62).map(n => java.sql.Date.valueOf(day0.plusDays(n)))
    case "ts"       => Gen.choose(-10L, 3610L).map(s => new java.sql.Timestamp(ts0 + s * 1000L))
    // scale 3 does not resolve to a mantissa: the predicate stays unpruned
    case "dec"      => Gen.oneOf(Gen.choose(-5100L, 5100L).map(m => java.math.BigDecimal.valueOf(m, 2)),
                         Gen.choose(-51000L, 51000L).map(m => java.math.BigDecimal.valueOf(m, 3)))
    case "s_fsst"   => Gen.oneOf(Gen.choose(0, 400).map(n => s"the quick brown fox ${n % 31} jumps over the lazy dog $n"),
                         Gen.oneOf("the", "the quick brown fox 1", "u", ""))
    case "s_dict"   => Gen.oneOf(dicts :+ "e" :+ "fz")
    case "s_direct" => Gen.oneOf(Gen.listOfN(2, Gen.alphaNumChar).map(_.mkString), Gen.alphaNumStr.map(_.take(7)))
    case "b"        => Gen.listOfN(3, Gen.choose(0, 3).map(_.toByte)).map(_.toArray)
    case "x"        => Gen.oneOf(Gen.oneOf(doubles), Gen.choose(-10.0, 10.0))
  }

  private val ordered = Seq("id", "l", "extra", "i", "d", "ts", "dec", "s_fsst", "s_dict", "s_direct", "x")

  private val conjunctGen: Gen[(String, Column)] = Gen.oneOf(ordered :+ "b").flatMap { c =>
    val v = literalGen(c)
    val column = col(c)
    val ops: Seq[Gen[(String, Column)]] = Seq(
      v.map(x => (s"$c = $x", column === lit(x))),
      Gen.const((s"$c IS NULL", column.isNull)),
      Gen.const((s"$c IS NOT NULL", column.isNotNull)),
      Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, v)).map(xs =>
        (s"$c IN (${xs.mkString(",")})", column.isin(xs: _*)))) ++
      (if (c == "b") Nil else Seq(
        v.map(x => (s"$c > $x", column > lit(x))),
        v.map(x => (s"$c >= $x", column >= lit(x))),
        v.map(x => (s"$c < $x", column < lit(x))),
        v.map(x => (s"$c <= $x", column <= lit(x))),
        Gen.zip(v, v).map { case (a, b) => (s"$c BETWEEN $a AND $b", column >= lit(a) && column <= lit(b)) }))
    Gen.oneOf(ops).flatMap(identity)
  }

  private val queryGen: Gen[(String, Column, Seq[String])] = for {
    n <- Gen.choose(1, 3)
    cs <- Gen.listOfN(n, conjunctGen)
    project <- Gen.frequency(3 -> Gen.const(fullSchema.fieldNames.toSeq),
      1 -> Gen.someOf(fullSchema.fieldNames.toSeq).suchThat(_.nonEmpty).map(_.toSeq))
  } yield (cs.map(_._1).mkString(" AND "), cs.map(_._2).reduce(_ && _), project)

  /** A row as text that tells -0.0 from 0.0 and shows binary bytes. */
  private def show(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case other          => String.valueOf(other)
  }.mkString("|")

  private def multiset(df: DataFrame): Seq[String] = df.collect().map(show).toSeq.sorted

  test("the string columns carry the FSST, dictionary and direct codecs") {
    tables.foreach { t =>
      val lineage = TableMeta.snapshot(spark, s"$tmp/warehouse/pf/${t.name.stripPrefix("graft.pf.")}").lineage
      assert(lineage == Map("s_fsst" -> "STRING_FSST", "s_dict" -> "STRING_DICT",
        "s_direct" -> "STRING_DIRECT"), s"${t.name}: $lineage")
    }
  }

  test("property: random conjunctions read exactly plain Spark's filter, driver answer or not") {
    tables.foreach { t =>
      var nonEmpty = 0
      val prop = Prop.forAllNoShrink(queryGen) { case (text, cond, project) =>
        val want = multiset(t.oracle.where(cond).select(project.map(col): _*))
        if (want.nonEmpty) nonEmpty += 1
        Seq(spark, on).forall { s =>
          val got = multiset(s.table(t.name).where(cond).select(project.map(col): _*))
          if (got != want) info(s"${t.name} [$text] ${if (s eq on) "local" else "distributed"}: " +
            s"${got.size} rows, want ${want.size}")
          got == want
        }
      }
      val result = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(Seed(7L)), prop)
      assert(result.passed, s"${t.name}: ${result.status}")
      assert(nonEmpty >= 10, s"${t.name}: only $nonEmpty queries matched a row")
    }
  }

  test("a join drives a runtime IN into the scan and reads exactly the joined rows") {
    tables.foreach { t =>
      val dim = spark.range(0, 400).select(col("id").as("k"), (col("id") % 37).as("cat"))
      val keys = broadcast(dim.where(col("cat") === 5))
      def joined(fact: DataFrame) = fact.join(keys, fact("id") === keys("k")).drop("k", "cat")
      val graftSide = joined(spark.table(t.name))
      assert(multiset(graftSide) == multiset(joined(t.oracle)), t.name)
      val scans = nodes(graftSide.queryExecution.executedPlan).collect { case b: BatchScanExec => b }
      assert(scans.exists(_.runtimeFilters.nonEmpty), s"${t.name}: no runtime filter reached the scan")
      assert(multiset(joined(on.table(t.name))) == multiset(joined(t.oracle)), t.name)
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case other                    => other +: other.children.flatMap(nodes)
  }

  // ---- the skipped reads ---------------------------------------------

  /** Bytes the JVM read from the local filesystem (Hadoop's counters). */
  private def localBytesRead(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesRead).sum

  test("a Bloom false positive reads the url stream, never the html stream") {
    val out = s"$tmp/bloom"
    val rnd = new scala.util.Random(3)
    val pages = (0 until 300).map(n => (f"u$n%04d", rnd.alphanumeric.take(3000).mkString))
    EncodeJob.run(spark.createDataFrame(pages).toDF("url", "html"),
      EncodeJob.Config(out, numPartitions = 1, keyColumn = None, bloomColumns = Set("url")))
    val specs = EncodeJob.specsFromDisk(spark, out).get
    val index = TableMeta.batchIndex(spark, out, Set(0))(0)
    val group = index.rows.toSeq
    assert(group.map(c => (c.part_id, c.chunk_id)).distinct.size == 1, "expected one chunk group")
    // a url the table lacks whose Bloom probe still keeps the group
    val miss = Iterator.from(0).map(i => s"u0150-miss-$i").find { u =>
      val p = ChunkPrune.from(EqualTo("url", u), specs).get
      group.forall(c => c.column != "url" || p.keepsChunk(ChunkStats.of(c)))
    }.get
    val file = index.files.head.path
    val reader = ChunkFile.open(new Path(file), spark.sparkContext.hadoopConfiguration).get
    val htmlBytes = try reader.entries.filter(_.chunk.column == "html").flatMap(_.refs).map(_.length.toLong).sum
      finally reader.close()
    assert(htmlBytes > 200000L, s"html stream of $htmlBytes bytes")
    Seq(spark, on).foreach { s =>
      def lookup(u: String) = s.read.format("graft").load(out).where(col("url") === u).collect()
      assert(lookup(miss).isEmpty) // warms the table's metadata
      val before = localBytesRead()
      assert(lookup(miss).isEmpty)
      val read = localBytesRead() - before
      assert(read < htmlBytes, s"a miss read $read bytes, the kept group's html stream is $htmlBytes")
      val hit = lookup("u0123")
      assert(hit.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(pages(123)))
    }
  }
}

object PredicateFirstSpec {
  /** A catalog table and the same rows as a plain Spark DataFrame. */
  final case class Table(name: String, oracle: DataFrame)
}
