package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** DataSource V2 surface: `spark.read.format("graft").load(outDir)` must
  * equal the input on every layout, infer its schema from
  * disk, prune columns and push filters down to chunk/stride/bloom
  * pruning (always residual-correct: Spark re-applies the exact filter).
  */
class GraftSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-source").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-source-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sfDir = "/root/testdata/sf0.001"

  /** All logical types through one frame (the rt_alltypes shape plus a
    * timestamp), encoded once per layout and shared across cases.
    */
  private def alltypes: DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_linenumber").cast("byte").as("v_byte"),
      (col("l_suppkey") % 1000).cast("short").as("v_short"),
      col("l_quantity").cast("decimal(18,6)").as("v_decimal"),
      concat(col("l_orderkey").cast("string"), lit("00000000001.5"))
        .cast("decimal(38,4)").as("v_dec38"),
      col("l_discount").cast("float").as("v_float"),
      (col("l_orderkey") % 2 === 0).as("v_bool"),
      col("l_shipdate").cast("date").as("v_date"),
      concat(col("l_returnflag"), col("l_linestatus"), lit("-"),
        col("l_orderkey").cast("string")).as("v_string"),
      concat(col("l_linestatus"), col("l_orderkey").cast("string"))
        .cast("binary").as("v_binary"),
      to_timestamp(col("l_shipdate")).as("v_ts"))

  private lazy val rowOut = {
    val out = s"$tmp/rowlayout"
    EncodeJob.run(alltypes, EncodeJob.Config(out, numPartitions = 4, keyColumn = None,
      bloomColumns = Set("v_string")))
    out
  }
  private lazy val colOut = {
    val out = s"$tmp/collayout"
    EncodeJob.run(alltypes, EncodeJob.Config(out, numPartitions = 4, keyColumn = None,
      partitionByColumn = true))
    out
  }

  private def canon(df: DataFrame): Array[String] =
    df.withColumn("v_binary", base64(col("v_binary")))
      .withColumn("v_decimal", col("v_decimal").cast("string"))
      .withColumn("v_dec38", col("v_dec38").cast("string"))
      .collect().map(_.toString).sorted

  test("format(graft): schema inferred from disk, full read equals input on every type") {
    val df = spark.read.format("graft").load(rowOut)
    assert(df.schema == alltypes.schema, s"${df.schema} vs ${alltypes.schema}")
    assert(canon(df) sameElements canon(alltypes))
  }

  test("format(graft): column pruning and count(*)") {
    val df = spark.read.format("graft").load(rowOut).select("v_string", "l_orderkey")
    assert(df.columns.toSeq == Seq("v_string", "l_orderkey"))
    assert(canon2(df) sameElements canon2(alltypes.select("v_string", "l_orderkey")))
    assert(spark.read.format("graft").load(rowOut).count() == alltypes.count())
  }
  private def canon2(df: DataFrame): Array[String] = df.collect().map(_.toString).sorted

  test("format(graft): full-width read opens row-grouped files unfiltered, narrow read filtered; both exact") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def planned(df: DataFrame): Seq[graft.spark.source.GraftInputPartition] =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputPartitions }
        .flatten.map(_.asInstanceOf[graft.spark.source.GraftInputPartition])
    val full = spark.read.format("graft").load(rowOut)
    val narrow = full.select("v_string", "l_orderkey")
    // the lineage shows every batch wrote only requested columns: every
    // record passes, so no parquet record filter is attached
    assert(planned(full).nonEmpty && planned(full).forall(!_.columnFilter))
    assert(planned(narrow).nonEmpty && planned(narrow).forall(_.columnFilter))
    assert(canon(full) sameElements canon(alltypes))
    assert(canon2(narrow) sameElements canon2(alltypes.select("v_string", "l_orderkey")))
  }

  test("format(graft): filters are exact (residual re-applied over pruned supersets)") {
    val src = spark.read.format("graft").load(rowOut)
    val key = alltypes.select("l_orderkey").orderBy("l_orderkey").first().getLong(0)
    def check(f: DataFrame => DataFrame): Unit =
      assert(canon(f(src)) sameElements canon(f(alltypes)))
    check(_.filter(col("l_orderkey") === key))
    check(_.filter(col("l_orderkey") > key * 2))
    check(_.filter(col("v_date") >= lit(java.sql.Date.valueOf("1995-06-01"))))
    check(_.filter(col("v_ts") < lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))))
    check(_.filter(col("v_decimal") > lit(BigDecimal(30))))
    check(_.filter(col("v_float") > 0.05f))
    check(_.filter(col("v_string") === alltypes.select("v_string").first().getString(0)))
    // no survivors: pruning must not manufacture rows
    assert(src.filter(col("l_orderkey") === -1L).count() == 0)
  }

  test("format(graft): pushed filters visible in the physical plan") {
    val df = spark.read.format("graft").load(rowOut).filter(col("l_orderkey") === 7L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft"), plan)
    val scanDesc = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.toLowerCase.contains("graft"), scanDesc)
  }

  test("format(graft): equality pushdown decompresses less than a full scan") {
    // banded key → each chunk covers one id band, so chunk-level min/max
    // pruning rejects every chunk but the key's; compare decompressed
    // bytes for the SAME single-column aggregate with and without the
    // pushed equality
    val ids = spark.range(10000).select(col("id"),
      (col("id") / 2500).cast("int").cast("string").as("band"),
      concat(lit("txt"), col("id")).as("payload"))
    val out = s"$tmp/prune"
    EncodeJob.run(ids, EncodeJob.Config(out, numPartitions = 4, keyColumn = Some("band")))
    val src = spark.read.format("graft").load(out)
    graft.core.BlockCompression.resetCounters()
    assert(src.filter(col("id") === 9999L).agg(sum("id")).first().getLong(0) == 9999L)
    val pruned = graft.core.BlockCompression.decompressInputBytes
    graft.core.BlockCompression.resetCounters()
    src.agg(sum("id")).first()
    val full = graft.core.BlockCompression.decompressInputBytes
    assert(pruned < full,
      s"pruned read decompressed $pruned B, full scan $full B — pushdown not pruning")
  }

  test("format(graft): column-partitioned layout reads whole and subset") {
    val df = spark.read.format("graft").load(colOut)
    assert(canon(df) sameElements canon(alltypes))
    val sub = spark.read.format("graft").load(colOut).select("v_string", "v_date")
    assert(canon2(sub) sameElements canon2(alltypes.select("v_string", "v_date")))
  }

  test("readBack(spark, outDir) recovers schema and specs from disk alone") {
    assert(canon(EncodeJob.readBack(spark, rowOut)) sameElements canon(alltypes))
  }

  test("format(graft): In and null-test pushdown prune, stay exact on nullable data") {
    // half the chunks all-null, half null-free, banded key → every prune
    // class (null-count, range, bloom-disjunction) gets exercised
    val src0 = spark.range(8000).select(col("id"),
      (col("id") / 2000).cast("int").cast("string").as("band"),
      when(col("id") % 4000 < 2000, concat(lit("v"), col("id"))).as("v_nullable"))
    val out = s"$tmp/nullable"
    EncodeJob.run(src0, EncodeJob.Config(out, numPartitions = 2, keyColumn = Some("band")))
    val src = spark.read.format("graft").load(out)
    def check(f: DataFrame => DataFrame): Unit =
      assert(canon2(f(src)) sameElements canon2(f(src0)), f(src).columns.mkString(","))
    check(_.filter(col("v_nullable").isNull))
    check(_.filter(col("v_nullable").isNotNull))
    check(_.filter(col("id").isin(17L, 3999L, 7777L)))
    check(_.filter(col("v_nullable").isin("v17", "v1999", "nope")))
    // IN over a banded id column decompresses less than the full scan
    graft.core.BlockCompression.resetCounters()
    assert(src.filter(col("id").isin(1L, 2L)).select(sum("id")).first().getLong(0) == 3L)
    val pruned = graft.core.BlockCompression.decompressInputBytes
    graft.core.BlockCompression.resetCounters()
    src.select(sum("id")).first()
    val full = graft.core.BlockCompression.decompressInputBytes
    assert(pruned < full, s"IN pushdown not pruning: $pruned vs $full")
  }

  test("format(graft): manifest-derived statistics reach the optimizer and shrink with pruning") {
    def stats(df: DataFrame) = {
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.stats
      }.head
    }
    val full = stats(spark.read.format("graft").load(rowOut))
    assert(full.rowCount.exists(_.toLong == alltypes.count()), full.toString)
    val pruned = stats(spark.read.format("graft").load(rowOut).select("l_orderkey"))
    assert(pruned.sizeInBytes < full.sizeInBytes,
      s"column pruning did not shrink sizeInBytes: $pruned vs $full")
  }

  // ---------- aggregate / limit pushdown, runtime filtering ----------

  test("format(graft): ungrouped MIN/MAX/COUNT answered from chunk metadata — zero blob decompression") {
    val src = spark.read.format("graft").load(rowOut)
    def aggs(df: DataFrame) = df.agg(
      min("l_orderkey").as("a"), max("l_orderkey").as("b"),
      count(col("l_orderkey")).as("c"),
      min("v_byte").as("d"), max("v_short").as("e"),
      min("v_decimal").as("f"), max("v_decimal").as("g"),
      min("v_dec38").as("h"), max("v_dec38").as("i"),
      min("v_bool").as("j"), max("v_bool").as("k"),
      min("v_date").as("l"), max("v_date").as("m"),
      min("v_string").as("n"), max("v_string").as("o"),
      min("v_ts").as("p"), max("v_ts").as("q"))
    graft.core.BlockCompression.resetCounters()
    val got = aggs(src).collect().head
    assert(graft.core.BlockCompression.decompressInputBytes == 0,
      "aggregate pushdown did not engage: stream blobs were decompressed")
    val want = aggs(alltypes).collect().head
    assert(got.toString == want.toString, s"$got vs $want")
    // the plan advertises the push
    val desc = aggs(src).queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(desc.contains("PushedAggregates"), desc)
    // column-partitioned layout: only the referenced columns' FILES open
    graft.core.BlockCompression.resetCounters()
    val gotCol = aggs(spark.read.format("graft").load(colOut)).collect().head
    assert(graft.core.BlockCompression.decompressInputBytes == 0)
    assert(gotCol.toString == want.toString, s"$gotCol vs $want")
    // the scan reads the filestats SIDECAR, not the chunk files: one
    // input partition per sidecar parquet file
    val sidecarFiles = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$rowOut/filestats"))
      try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
    }
    val aggParts = scanPartitions(aggs(src))
    assert(sidecarFiles > 0 && aggParts == sidecarFiles, s"$aggParts vs $sidecarFiles")
  }

  /** Input-partition count of the (single) graft BatchScan in a plan,
    * unwrapping AQE stages (agg plans have exchanges, so the executed
    * plan root is adaptive).
    */
  private def scanPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect() // finalize adaptive planning
    def find(p: SparkPlan): Seq[Int] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec        => find(q.plan)
      case b: BatchScanExec         => Seq(b.inputRDD.getNumPartitions)
      case other                    => other.children.flatMap(find)
    }
    find(df.queryExecution.executedPlan).head
  }

  test("format(graft): count() and count(col-with-nulls) from metadata; empty table counts 0") {
    val srcDf = spark.range(6000).select(col("id"),
      when(col("id") % 3 === 0, concat(lit("v"), col("id"))).as("v_nullable"))
    val out = s"$tmp/agg-nulls"
    srcDf.write.format("graft").mode("overwrite").option("numPartitions", "3").save(out)
    val src = spark.read.format("graft").load(out)
    graft.core.BlockCompression.resetCounters()
    assert(src.count() == 6000L)
    val counted = src.agg(count("v_nullable"), count("id"), max("v_nullable")).collect().head
    assert(graft.core.BlockCompression.decompressInputBytes == 0)
    assert(counted.getLong(0) == 2000L && counted.getLong(1) == 6000L)
    assert(counted.getString(2) == srcDf.agg(max("v_nullable")).collect().head.getString(0))
    // empty table: identity partial keeps count(*) at 0, min at null
    val empty = s"$tmp/agg-empty"
    srcDf.limit(0).write.format("graft").mode("overwrite")
      .option("numPartitions", "2").save(empty)
    val e = spark.read.format("graft").load(empty).agg(count("id"), min("id")).collect().head
    assert(e.getLong(0) == 0L && e.isNullAt(1), e.toString)
  }

  test("format(graft): double/float min-max pushed NaN-exact from metadata (nan_count)") {
    // chunk stats exclude NaN from the range (it would poison pruning) but
    // record nan_count; under Spark's NaN-above-+Inf ordering the pushed
    // aggregate must still answer exactly, with zero blob decompression:
    // v_double mixes NaN + finite, v_float is NaN-free, v_allnan has a NaN
    // as its only non-null value, v_allnull contributes nothing
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      (1L, 1.5, 2.0f, Option.empty[Double], Option.empty[Double]),
      (2L, Double.NaN, 0.25f, Some(Double.NaN), Option.empty[Double]),
      (3L, -4.0, 0.5f, Option.empty[Double], Option.empty[Double])), 1))
      .toDF("id", "v_double", "v_float", "v_allnan", "v_allnull")
    val out = s"$tmp/agg-nan"
    // two chunks (partitions): NaN lives in one chunk, the global max in another
    df.repartition(2, col("id")).write.format("graft").mode("overwrite")
      .option("numPartitions", "2").save(out)
    val src = spark.read.format("graft").load(out)
    def aggs(d: DataFrame) = d.agg(
      max("v_double"), min("v_double"), max("v_float"), min("v_float"),
      max("v_allnan"), min("v_allnan"), max("v_allnull"), min("v_allnull"))
    graft.core.BlockCompression.resetCounters()
    val got = aggs(src).collect().head
    assert(graft.core.BlockCompression.decompressInputBytes == 0,
      "double/float min/max should now come from metadata alone")
    assert(got.getDouble(0).isNaN && got.getDouble(1) == -4.0, got.toString)
    assert(got.getFloat(2) == 2.0f && got.getFloat(3) == 0.25f, got.toString)
    assert(got.getDouble(4).isNaN && got.getDouble(5).isNaN, got.toString)
    assert(got.isNullAt(6) && got.isNullAt(7), got.toString)
    // exactness vs Spark's own answer on the raw frame
    assert(got.toString == aggs(df).collect().head.toString)
  }

  test("format(graft): NaN rows survive double/float FILTER pushdown (stats exclude NaN)") {
    // chunk min/max exclude NaN (nan_count records them); Spark orders NaN
    // above +Inf, so `x > v` and `x = NaN` match NaN rows that the NaN-free
    // range says to prune. Layout: NaN lives in a chunk whose finite max is
    // far BELOW every bound used here — the old range-only prune dropped it.
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      (1L, 1.5, 1.5f), (2L, Double.NaN, Float.NaN), (3L, 2.5, 2.5f),
      (4L, 500.0, 500.0f), (5L, 600.0, 600.0f), (6L, 700.0, 700.0f)), 1))
      .toDF("id", "v_double", "v_float")
    val out = s"$tmp/filter-nan"
    // id-banded chunks: {1,2,3} (finite max 2.5 + the NaNs) and {4,5,6}
    df.repartition(2, (col("id") <= 3).cast("int")).write.format("graft")
      .mode("overwrite").option("numPartitions", "2").save(out)
    val src = spark.read.format("graft").load(out)
    def check(f: DataFrame => DataFrame): Unit = {
      val got = f(src).collect().map(_.toString).sorted
      val want = f(df).collect().map(_.toString).sorted
      assert(got sameElements want, s"${got.mkString(",")} vs ${want.mkString(",")}")
    }
    check(_.filter(col("v_double") > 100.0))   // NaN + {500,600,700}
    check(_.filter(col("v_double") >= 600.0))  // NaN + {600,700}
    check(_.filter(col("v_float") > 100.0f))
    check(_.filter(col("v_double") === Double.NaN)) // NaN = NaN is TRUE in SQL
    check(_.filter(col("v_float") === Float.NaN))
    // bounded-above predicates must still prune as before (NaN can't match)
    check(_.filter(col("v_double") < 2.0))
    graft.core.BlockCompression.resetCounters()
    src.filter(col("v_double") < 2.0).agg(sum("id")).first()
    val bounded = graft.core.BlockCompression.decompressInputBytes
    graft.core.BlockCompression.resetCounters()
    // same column set (id + v_double), filter keeps every chunk
    src.filter(col("v_double") < 1e9).agg(sum("id")).first()
    val full = graft.core.BlockCompression.decompressInputBytes
    assert(bounded < full, s"bounded-above pruning lost: $bounded vs $full")
  }

  test("format(graft): x >= 0.0 keeps a chunk whose max is -0.0 (signed-zero canonicalization)") {
    // stats render via Double.toString (can emit "-0.0"); TotalOrdering puts
    // -0.0 < 0.0 but SQL compares -0.0 == 0.0 — the chunk-level compare must
    // canonicalize or a pushed `x >= 0.0` drops the -0.0 rows
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      (1L, -0.0, -0.0f), (2L, -5.0, -5.0f), (3L, 7.0, 7.0f), (4L, 9.0, 9.0f)), 1))
      .toDF("id", "v_double", "v_float")
    val out = s"$tmp/filter-negzero"
    df.repartition(2, (col("id") <= 2).cast("int")).write.format("graft")
      .mode("overwrite").option("numPartitions", "2").save(out)
    val src = spark.read.format("graft").load(out)
    def check(f: DataFrame => DataFrame): Unit = {
      val got = f(src).collect().map(_.toString).sorted
      val want = f(df).collect().map(_.toString).sorted
      assert(got sameElements want, s"${got.mkString(",")} vs ${want.mkString(",")}")
    }
    check(_.filter(col("v_double") >= 0.0))
    check(_.filter(col("v_double") === 0.0))
    check(_.filter(col("v_float") >= 0.0f))
    check(_.filter(col("v_double") <= -0.0)) // and the mirror: 0.0-stat chunks vs <= -0.0
  }

  test("format(graft): two-column conjunction intersects stride keep-sets") {
    // a AND b on different columns must skip the UNION of what each skips:
    // a ascends, b descends, so `a > P75 AND b > P75` matches nothing —
    // per-predicate stride pruning keeps the top quarter of strides for one
    // column each; intersected, zero strides survive in the middle chunks
    val n = 40000L
    val df = spark.range(n).select(col("id").as("a"), (lit(n - 1) - col("id")).as("b"),
      concat(lit("pay-"), col("id")).as("s"))
    val out = s"$tmp/stride-twocol"
    df.coalesce(1).write.format("graft").mode("overwrite")
      .option("numPartitions", "1").save(out)
    val src = spark.read.format("graft").load(out)
    val lo = (n * 3) / 4
    def decompressed(f: DataFrame => DataFrame): Long = {
      graft.core.BlockCompression.resetCounters()
      f(src).agg(count(lit(1))).first()
      graft.core.BlockCompression.decompressInputBytes
    }
    val both = decompressed(_.filter(col("a") > lo && col("b") > lo))
    val aOnly = decompressed(_.filter(col("a") > lo))
    val bOnly = decompressed(_.filter(col("b") > lo))
    assert(src.filter(col("a") > lo && col("b") > lo).count() == 0)
    assert(both < aOnly && both < bOnly,
      s"conjunction should skip strictly more than either alone: $both vs $aOnly / $bOnly")
    // exactness on a satisfiable conjunction
    val got = src.filter(col("a") > lo && col("b") >= n - 1 - lo - 100).count()
    val want = df.filter(col("a") > lo && col("b") >= n - 1 - lo - 100).count()
    assert(got == want, s"$got vs $want")
  }

  test("format(graft): float-vector columns round trip (nulls, varying dims, specials)") {
    // fvec = array<float> shredded to IEEE-LE bytes on the binary codec:
    // row nulls via PRESENT, per-row dims via LENGTH, NaN/Inf/-0.0
    // bit-exact through the raw payload
    val rows = Seq(
      (1L, Some(Array(1.0f, -2.5f, Float.NaN)), "a"),
      (2L, None, "b"),
      (3L, Some(Array.empty[Float]), "c"),
      (4L, Some(Array(Float.PositiveInfinity, -0.0f, Float.MinPositiveValue, 3.14f, 9f)), "d"),
      (5L, Some(Array.tabulate(64)(i => i * 0.25f)), "e"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
      .toDF("id", "vec", "tag")
    val out = s"$tmp/fvec"
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(out)
    val back = spark.read.format("graft").load(out)
    assert(back.schema("vec").dataType == df.schema("vec").dataType,
      s"${back.schema("vec")} vs ${df.schema("vec")}")
    def canonV(d: DataFrame): Array[String] =
      d.select(col("id"), col("tag"),
        when(col("vec").isNull, lit("NULL"))
          .otherwise(concat_ws(",", transform(col("vec"),
            f => base64(graft.plans.FloatVecToBytes(array(f)))))).as("v"))
        .collect().map(_.toString).sorted
    assert(canonV(back) sameElements canonV(df))
    // the shuffled RDD decode (the scan's independent twin) agrees
    val rb = EncodeJob.readBackShuffled(spark, out, EncodeJob.specsFromDisk(spark, out).get)
    assert(canonV(rb) sameElements canonV(df))
    // column pruning still serves the sibling columns without the payload
    assert(back.select("id", "tag").count() == 5)
    // null ELEMENTS are rejected loudly at write, not silently mangled
    val bad = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      (1L, Array(Some(1.0f), None)))),
      ).toDF("id", "vec")
    intercept[Exception] {
      bad.write.format("graft").mode("overwrite").save(s"$tmp/fvec-bad")
    }
  }

  test("format(graft): scans plan from sidecar metadata — the chunk tree is never listed") {
    // multi-batch dir (append twice), both layouts of query: plan
    // partitions, push a filter, run a metadata aggregate and a count —
    // none may fall back to the recursive driver-side chunk-tree walk
    // (EncodeJob.chunkTreeWalks counts legacy fallbacks); at 100 TB the
    // walk is O(files) driver RPC per plan, the sidecar is O(metadata)
    val out = s"$tmp/noscanwalk"
    val df = spark.range(5000).select(col("id"), concat(lit("v"), col("id")).as("s"))
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(out)
    df.withColumn("id", col("id") + 5000).write.format("graft").mode("append")
      .option("numPartitions", "2").save(out)
    val before = EncodeJob.chunkTreeWalks.get()
    val src = spark.read.format("graft").load(out)
    assert(src.count() == 10000)
    assert(src.filter(col("id") === 9999L).collect().map(_.getLong(0)).toSeq == Seq(9999L))
    assert(src.agg(max("id")).first().getLong(0) == 9999L)
    assert(src.agg(sum("id")).first().getLong(0) == (0L until 10000L).sum)
    assert(EncodeJob.chunkTreeWalks.get() == before,
      "scan planning fell back to the recursive chunk-tree walk on a sidecar-complete dir")
    // legacy dir (sidecar removed): the walk fallback still serves reads
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(EncodeJob.filestatsDir(out)), true)
    assert(spark.read.format("graft").load(out).count() == 10000)
    assert(EncodeJob.chunkTreeWalks.get() > before, "legacy fallback should have walked")
  }

  test("format(graft): limit pushdown decodes only the chunks it needs") {
    // many small chunks per partition so a pushed limit has something to skip
    val out = s"$tmp/limit"
    spark.range(40000).select(col("id"), concat(lit("payload-"), col("id")).as("s"))
      .write.format("graft").mode("overwrite")
      .option("numPartitions", "2").option("chunkTargetBytes", "65536").save(out)
    val src = spark.read.format("graft").load(out)
    assert(src.limit(5).collect().length == 5)
    graft.core.BlockCompression.resetCounters()
    src.limit(5).collect()
    val lim = graft.core.BlockCompression.decompressInputBytes
    graft.core.BlockCompression.resetCounters()
    src.collect()
    val full = graft.core.BlockCompression.decompressInputBytes
    assert(lim > 0 && lim < full, s"limit pushdown not engaged: $lim vs $full")
  }

  test("format(graft): runtime V2 filter prunes chunks (join-driven IN, superset-safe)") {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val out = s"$tmp/runtime"
    val ids = spark.range(10000).select(col("id"),
      (col("id") / 2500).cast("int").cast("string").as("band"),
      concat(lit("txt"), col("id")).as("payload"))
    EncodeJob.run(ids, EncodeJob.Config(out, numPartitions = 4, keyColumn = Some("band")))
    val props = new java.util.HashMap[String, String](); props.put("path", out)
    val table = new graft.spark.source.GraftSource()
      .getTable(EncodeJob.schemaFromDisk(spark, out).get, Array.empty, props)
    def scanOf(filters: Array[Predicate]) = {
      val scan = table.asInstanceOf[SupportsRead]
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      val rf = scan.asInstanceOf[SupportsRuntimeV2Filtering]
      assert(rf.filterAttributes().map(_.fieldNames().head).contains("id"))
      if (filters.nonEmpty) rf.filter(filters)
      scan.toBatch
    }
    def readAll(batch: org.apache.spark.sql.connector.read.Batch): Long = {
      val factory = batch.createReaderFactory()
      var n = 0L
      batch.planInputPartitions().foreach { p =>
        val r = factory.createReader(p)
        while (r.next()) n += 1
        r.close()
      }
      n
    }
    val in = new Predicate("IN", Array[org.apache.spark.sql.connector.expressions.Expression](
      Expressions.column("id"), Expressions.literal(3L), Expressions.literal(9999L)))
    graft.core.BlockCompression.resetCounters()
    val prunedRows = readAll(scanOf(Array(in)))
    val prunedBytes = graft.core.BlockCompression.decompressInputBytes
    graft.core.BlockCompression.resetCounters()
    val fullRows = readAll(scanOf(Array.empty))
    val fullBytes = graft.core.BlockCompression.decompressInputBytes
    assert(fullRows == 10000L)
    // superset containing the keys, but strictly pruned
    assert(prunedRows >= 2 && prunedRows < fullRows, s"$prunedRows of $fullRows")
    assert(prunedBytes < fullBytes, s"runtime filter did not prune: $prunedBytes vs $fullBytes")
  }

  test("format(graft): join-driven runtime filtering fires through Spark's planner (DPP end-to-end)") {
    // fact in graft, banded by id so chunk/file stats are selective; tiny
    // dim with a selective predicate; broadcast equi-join → Spark plans a
    // DynamicPruning IN-subquery against the scan's filterAttributes
    val out = s"$tmp/dpp"
    val fact = spark.range(20000).select(col("id"),
      (col("id") / 2500).cast("int").cast("string").as("band"),
      concat(lit("p"), col("id")).as("payload"))
    EncodeJob.run(fact, EncodeJob.Config(out, numPartitions = 8, keyColumn = Some("band")))
    val src = spark.read.format("graft").load(out)
    val dim = spark.range(20000).select(col("id").as("k"), (col("id") % 4000).as("cat"))
    def joined(d: DataFrame) =
      src.join(broadcast(d), src("id") === d("k")).select("id", "payload", "cat")
    val selective = dim.filter(col("cat") === 7) // keys 7, 4007, 8007, 12007, 16007
    val want = (0 until 5).map(i => 7L + 4000L * i)
    graft.core.BlockCompression.resetCounters()
    val got = joined(selective).collect().map(_.getLong(0)).sorted
    val prunedBytes = graft.core.BlockCompression.decompressInputBytes
    assert(got.toSeq == want, got.mkString(","))
    graft.core.BlockCompression.resetCounters()
    assert(joined(dim).collect().length == 20000) // same projection as the pruned case
    val fullBytes = graft.core.BlockCompression.decompressInputBytes
    // the runtime filter reached the scan iff the selective join decoded
    // strictly less than the full join
    assert(prunedBytes < fullBytes,
      s"runtime filter did not reach the scan: $prunedBytes vs $fullBytes")
  }

  test("format(graft): filestats sidecar prunes whole FILES at plan time") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def numParts(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.inputRDD.getNumPartitions }.head
    // row-grouped: banded key → each of the 8 files covers one id band
    val ids = spark.range(16000).select(col("id"),
      (col("id") / 2000).cast("int").cast("string").as("band"),
      concat(lit("txt"), col("id")).as("payload"))
    val out = s"$tmp/fileprune"
    EncodeJob.run(ids, EncodeJob.Config(out, numPartitions = 8, keyColumn = Some("band")))
    assert(new java.io.File(s"$out/filestats").exists(), "sidecar not written")
    val src = spark.read.format("graft").load(out)
    val full = numParts(src.select("id"))
    val pruned = numParts(src.filter(col("id") === 4321L).select("id"))
    assert(pruned < full, s"file-level pruning did not shrink partitions: $pruned vs $full")
    assert(src.filter(col("id") === 4321L).count() == 1L)
    assert(src.filter(col("id") === -5L).count() == 0L)
    // column-partitioned: a predicate on one column drops sibling files
    // of the same chunks without breaking the zip
    val outCol = s"$tmp/fileprune-col"
    EncodeJob.run(ids, EncodeJob.Config(outCol, numPartitions = 8, keyColumn = Some("band"),
      partitionByColumn = true))
    val srcCol = spark.read.format("graft").load(outCol)
    val fullCol = numParts(srcCol)
    val prunedCol = numParts(srcCol.filter(col("id") === 4321L))
    assert(prunedCol < fullCol, s"col-part file pruning: $prunedCol vs $fullCol")
    val row = srcCol.filter(col("id") === 4321L).collect()
    assert(row.length == 1 && row(0).getString(2) == "txt4321")
  }

  test("readStream(graft): committed batches are micro-batches; appends stream exactly once") {
    val out = s"$tmp/stream-read"
    val b0 = spark.range(100).select(col("id"), concat(lit("a"), col("id")).as("s"))
    b0.write.format("graft").mode("overwrite").option("numPartitions", "2").save(out)
    val q = spark.readStream.format("graft").load(out)
      .writeStream.format("memory").queryName("graft_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_stream").count() == 100L)
      // an appended committed batch becomes the next micro-batch
      val b1 = spark.range(100, 150).select(col("id"), concat(lit("b"), col("id")).as("s"))
      b1.write.format("graft").mode("append").option("numPartitions", "2").save(out)
      q.processAllAvailable()
      val rows = spark.table("graft_stream")
      assert(rows.count() == 150L, "append not streamed (or double-read)")
      assert(rows.select("id").distinct().count() == 150L, "duplicate micro-batch read")
      assert(rows.filter(col("s") === "b149").count() == 1L)
    } finally q.stop()
  }

  // ---------- write path: df.write.format("graft") ----------

  test("write(graft): overwrite then read back equals input; options reach the encoder") {
    val out = s"$tmp/w-overwrite"
    alltypes.write.format("graft").mode("overwrite")
      .option("numPartitions", "4").option("compression", "zlib")
      .option("bloomColumns", "v_string").save(out)
    assert(canon(spark.read.format("graft").load(out)) sameElements canon(alltypes))
    // the compression option reached the chunks
    val kinds = spark.read.parquet(s"$out/chunks").select("compression")
      .distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("zlib"), kinds.toString)
    // second overwrite replaces, not accumulates
    alltypes.limit(10).write.format("graft").mode("overwrite")
      .option("numPartitions", "2").save(out)
    assert(spark.read.format("graft").load(out).count() == 10)
  }

  test("write(graft): append adds a committed batch; fewer partitions cannot collide part_ids") {
    val out = s"$tmp/w-append"
    alltypes.write.format("graft").mode("overwrite").option("numPartitions", "4").save(out)
    val n = alltypes.count()
    // append with FEWER partitions than the first write — the part_id
    // offset guard must keep (part_id, chunk_id) globally unique
    alltypes.write.format("graft").mode("append").option("numPartitions", "2").save(out)
    val doubled = spark.read.format("graft").load(out)
    assert(doubled.count() == 2 * n)
    assert(EncodeJob.committedBatches(spark, out).size == 2)
    val perChunkCols = spark.read.parquet(s"$out/chunks")
      .groupBy("part_id", "chunk_id", "column").count()
      .filter(col("count") > 1).count()
    assert(perChunkCols == 0, "part_id collision across appended batches")
    // values appear exactly twice
    assert(canon(doubled) sameElements (canon(alltypes) ++ canon(alltypes)).sorted)
  }

  test("write(graft): default mode refuses an existing dir, ignore is a no-op, append guards schema") {
    val out = s"$tmp/w-modes"
    alltypes.write.format("graft").option("numPartitions", "2").save(out) // fresh: ok
    val n = spark.read.format("graft").load(out).count()
    intercept[Exception] { // ErrorIfExists (possibly wrapped by Spark)
      alltypes.write.format("graft").option("numPartitions", "2").save(out)
    }
    alltypes.write.format("graft").mode("ignore").option("numPartitions", "2").save(out)
    assert(spark.read.format("graft").load(out).count() == n)
    val mismatched = alltypes.withColumnRenamed("v_string", "renamed")
    val e = intercept[Exception] {
      mismatched.write.format("graft").mode("append").option("numPartitions", "2").save(out)
    }
    assert(e.getMessage != null && e.getMessage.contains("schema mismatch"), e.getMessage)
  }
}
