package graft.spark

import graft.columns.Codecs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Stats-driven chunk pruning + per-column stats correctness, through the
  * in-memory pruned decode and through the `format("graft")` scan; both
  * resolve predicates with `ChunkPrune`.
  */
class PruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-pruning").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Writes `df` as a graft table of `numPartitions` files (one by
    * default; rows sorted by `sortColumns` within each), cut into chunks
    * of at most `chunkRows` rows at the default 10 000-row index stride;
    * returns the table directory.
    */
  private def writeTable(df: DataFrame, name: String, sortColumns: Seq[String],
                         chunkRows: Int = TableEncoder.DefaultStrideRows,
                         numPartitions: Int = 1, segmented: Boolean = true,
                         bloomColumns: Set[String] = Set.empty): String = {
    val out = s"$tmp/$name"
    EncodeJob.run(df, EncodeJob.Config(out, numPartitions, keyColumn = None,
      strideRows = chunkRows, sortColumns = sortColumns, segmented = segmented,
      bloomColumns = bloomColumns))
    out
  }

  /** The filtered rows of a graft read, and the rows its scan node
    * emitted before Spark's residual filter (the scan's `numOutputRows`).
    */
  private def scanned(df: DataFrame): (Array[Row], Long) = {
    val rows = df.collect()
    def find(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec        => find(q.plan)
      case b: BatchScanExec         => Seq(b)
      case other                    => other.children.flatMap(find)
    }
    val scans = find(df.queryExecution.executedPlan)
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    (rows, scans.head.metrics("numOutputRows").value)
  }

  /** Rows of the written chunks of `column` whose [min,max], cast to
    * `statType`, overlaps [lo, hi]: what chunk-level pruning alone keeps.
    */
  private def keptChunkRows(out: String, column: String, statType: String,
                            lo: org.apache.spark.sql.Column,
                            hi: org.apache.spark.sql.Column): Long =
    EncodeJob.readChunkFiles(spark, EncodeJob.chunkDir(out)).filter(col("column") === column &&
        !(col("max_val").cast(statType) < lo || col("min_val").cast(statType) > hi))
      .agg(sum(col("row_count"))).first().getLong(0)

  test("decodePruned skips non-overlapping chunks and returns exact rows") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val clustered = li.repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey")
    val specs = TableEncoder.columnSpecs(li.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(clustered, specs), specs, strideRows = 500)
      .persist()

    val totalChunkGroups = chunks.filter(col("column") === "l_orderkey").count()
    assert(totalChunkGroups > 4, "need multiple chunks for the pruning test to be meaningful")

    val lo = 500L; val hi = 700L
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, "l_orderkey", lo, hi), specs)
    // pruned decode returns a superset restricted to overlapping chunks
    val exact = decoded.filter(col("l_orderkey").between(lo, hi))
    val expected = li.filter(col("l_orderkey").between(lo, hi))
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)

    // and it must actually have pruned: decoded rows < total rows
    assert(decoded.count() < li.count(), "pruning removed nothing")
    chunks.unpersist()
  }

  test("stride-level row index skips inside a partially-overlapping chunk at default chunk size") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val clustered = li.repartitionByRange(2, col("l_orderkey")).sortWithinPartitions("l_orderkey")
    val specs = TableEncoder.columnSpecs(li.schema, Map.empty)
    // DEFAULT chunk size (one chunk per partition here) with a fine
    // index stride: pruning must act BELOW chunk granularity
    val chunks = TableEncoder.encode(TableEncoder.shred(clustered, specs), specs,
      indexStrideRows = 200).persist()
    val chunkGroups = chunks.filter(col("column") === "l_orderkey").count()

    val lo = 500L; val hi = 700L
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, "l_orderkey", lo, hi), specs).persist()

    // exactness: superset restricted by the predicate equals the source
    val exact = decoded.filter(col("l_orderkey").between(lo, hi))
    val expected = li.filter(col("l_orderkey").between(lo, hi))
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)

    // sub-chunk evidence: emitted rows < the kept CHUNKS' row_count, so
    // skipping happened below chunk granularity
    val keptChunkRows = chunks.filter(col("column") === "l_orderkey" &&
        !(col("max_val").cast("long") < lo || col("min_val").cast("long") > hi))
      .agg(sum(col("row_count"))).first().getLong(0)
    val emitted = decoded.count()
    assert(emitted < keptChunkRows,
      s"no sub-chunk skipping: emitted $emitted == kept-chunk rows $keptChunkRows (groups=$chunkGroups)")
    // and every expected row survived the skipping
    assert(emitted >= expected.count())
    decoded.unpersist(); chunks.unpersist()
  }

  test("format(graft) prunes on a double column's min/max") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice").cast("double").as("price"))
    val out = writeTable(li, "double-chunks", Seq("price"), chunkRows = 500)

    val lo = 10000.0; val hi = 20000.0
    val (rows, emitted) = scanned(
      spark.read.format("graft").load(out).filter(col("price").between(lo, hi)))
    val exact = spark.createDataFrame(java.util.Arrays.asList(rows: _*), li.schema)
    val expected = li.filter(col("price").between(lo, hi))
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)
    assert(emitted < li.count(), "double-stat pruning removed nothing")
  }

  test("double stride index skips sub-chunk, incl. negative values (sortable-bits order)") {
    // sortable-bits must be order-preserving across the sign boundary
    val rng = new scala.util.Random(11)
    val ds = Array.fill(2000)(rng.nextDouble() * 2e6 - 1e6).sorted
    ds.sliding(2).foreach { case Array(a, b) =>
      assert(TableEncoder.doubleSortableBits(a) <= TableEncoder.doubleSortableBits(b), s"$a vs $b")
    }

    val df = spark.range(40000).select(col("id"), (col("id") - 20000).cast("double").as("v"))
    // two whole-stream chunks of two strides each, both overlapping the
    // range: skipping must act BELOW chunks
    val out = writeTable(df, "double-strides", Seq("v"), chunkRows = 20000, segmented = false)

    val lo = -1000.0; val hi = 1000.0
    val (rows, emitted) = scanned(
      spark.read.format("graft").load(out).filter(col("v").between(lo, hi)))
    assert(rows.length == 2001)
    val kept = keptChunkRows(out, "v", "double", lit(lo), lit(hi))
    assert(emitted < kept,
      s"no sub-chunk skipping on double: emitted $emitted == kept-chunk rows $kept")
  }

  test("format(graft) prunes on a decimal(38,x) column's string stats") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"),
        // mantissa far beyond long range so the DECIMAL128 path is exercised
        concat(col("l_orderkey").cast("string"), lit("00000000000000000001.5"))
          .cast("decimal(38,4)").as("big"))
    val specs = TableEncoder.columnSpecs(li.schema, Map.empty)
    assert(specs.find(_.name == "big").get.logical == "decimal128")
    val out = writeTable(li, "decimal-chunks", Seq("big"), chunkRows = 500)

    val lo = new java.math.BigDecimal("50000000000000000000001.5")
    val hi = new java.math.BigDecimal("70000000000000000000001.5")
    val (rows, emitted) = scanned(
      spark.read.format("graft").load(out).filter(col("big").between(lit(lo), lit(hi))))
    val exact = spark.createDataFrame(java.util.Arrays.asList(rows: _*), li.schema)
    val expected = li.filter(col("big").between(lit(lo), lit(hi)))
    assert(expected.count() > 0, "empty predicate range makes the test vacuous")
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)
    assert(emitted < li.count(), "decimal-stat pruning removed nothing")
  }

  test("decimal128 stride index skips sub-chunk via clamped-mantissa bounds") {
    // mantissas straddle the long-clamp boundary: most values stay exact
    // in clamp space (small mantissas), the top stride's saturate to
    // Long.MaxValue — pruning must stay sound through both regimes
    val df = spark.range(40000).select(col("id"),
      when(col("id") < 38000, concat(col("id").cast("string"), lit(".25")))
        .otherwise(concat(col("id").cast("string"), lit("000000000000000000.25"))) // > 2^63 mantissa
        .cast("decimal(38,4)").as("big"))
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    assert(specs.find(_.name == "big").get.logical == "decimal128")
    // one segmented chunk of four strides; the last holds the saturated tail
    val out = writeTable(df, "decimal-strides", Seq("big"))
    val src = spark.read.format("graft").load(out)

    val lo = new java.math.BigDecimal("1000.25")
    val hi = new java.math.BigDecimal("1200.25")
    val (rows, emitted) = scanned(src.filter(col("big").between(lit(lo), lit(hi))))
    assert(rows.length == 201, s"got ${rows.length}") // ids 1000..1200
    val kept = keptChunkRows(out, "big", "decimal(38,4)", lit(lo), lit(hi))
    assert(emitted < kept,
      s"no sub-chunk skipping on decimal128: emitted $emitted == kept-chunk rows $kept")
    // the saturated stride is kept for a bound inside the tail
    val tailLo = new java.math.BigDecimal("38000000000000000000000.25")
    val (tail, _) = scanned(src.filter(col("big") >= lit(tailLo)))
    assert(tail.length == 2000, s"got ${tail.length}") // ids 38000..39999
  }

  test("pruning on a column with non-numeric stats keeps chunks (conservative), never drops them") {
    // string stats can't cast to long; the overlap predicate must
    // evaluate to KEEP, not null-drop — a silent-missing-rows bug class
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_returnflag"))
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs, strideRows = 1000)
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, "l_returnflag", 0L, 1L), specs)
    assert(decoded.count() == df.count(),
      "long-range pruning on a string column must keep every chunk")
  }

  test("string/binary/bool columns carry length-sum and true-count stats") {
    val df = spark.range(0, 2000).select(
      col("id"),
      concat(lit("v"), col("id")).as("s"),
      (col("id") % 3 === 0).as("flag"),
      concat(lit("b"), col("id")).cast("binary").as("bin"))
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val byCol = TableEncoder.encode(TableEncoder.shred(df, specs), specs)
      .collect().groupBy(_.column)
    val expectedLen = (0L until 2000L).map(i => 1 + i.toString.length).sum
    assert(byCol("s").flatMap(_.sum_val).sum == expectedLen)
    assert(byCol("bin").flatMap(_.sum_val).sum == expectedLen)
    assert(byCol("flag").flatMap(_.sum_val).sum == (0L until 2000L).count(_ % 3 == 0))
    assert(byCol("flag").forall(c => c.min_val.contains("0") && c.max_val.contains("1")))
  }

  test("segmented round trip is exact across all types (nulls, dict, fsst, decimal128)") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 23000).map { i =>
      (i.toLong,
        if (i % 7 == 0) None else Some(i * 3 - 1000L),
        s"lang${i % 5}", // low cardinality → dict
        if (i % 11 == 0) None else Some(s"the quick brown fox $i jumps over the lazy dog"),
        i.toDouble / 3.0,
        i.toFloat * 1.5f,
        i % 3 == 0,
        (i % 100).toByte)
    }.toDF("id", "v", "lang", "text", "d", "f", "b", "y")
      .withColumn("big", when(col("id") % 13 === 0, lit(null))
        .otherwise(concat(col("id").cast("string"), lit("00000000000000000001.5")))
        .cast("decimal(38,4)"))
    val codecs = Map("lang" -> Codecs.StringDictV2, "text" -> Codecs.StringFsst)
    val specs = TableEncoder.columnSpecs(df.schema, codecs)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 700, segmented = true).persist()
    // every chunk is segmented with per-stream segment indexes
    assert(chunks.collect().forall(c => c.seg_lens.isDefined && c.stride_null_counts.isDefined))
    val decoded = TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs)
    assert(decoded.exceptAll(df).count() == 0)
    assert(df.exceptAll(decoded).count() == 0)
    chunks.unpersist()
  }

  test("segmented stride pruning skips DECOMPRESSION work, not just row materialization") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 20000).map(i => (i.toLong, s"payload-$i-${"x" * 40}")).toDF("id", "payload")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 500, segmented = true).persist()
    chunks.count() // materialize so the decode passes below hit the cache

    graft.core.BlockCompression.resetCounters()
    val full = TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs).count()
    val fullBytes = graft.core.BlockCompression.decompressInputBytes
    assert(full == 20000)

    graft.core.BlockCompression.resetCounters()
    val pruned = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, "id", 500L, 700L), specs)
    assert(pruned.filter(col("id").between(500, 700)).count() == 201)
    val prunedBytes = graft.core.BlockCompression.decompressInputBytes
    // 1 kept stride of 20 in 1 kept chunk of 2: decompression must drop
    // far below the kept chunk's total, not just the emitted row count
    assert(prunedBytes > 0, "counter not wired")
    assert(prunedBytes < fullBytes / 5,
      s"stride pruning decompressed $prunedBytes of $fullBytes bytes — decode work not skipped")
    chunks.unpersist()
  }

  test("string stride index skips sub-chunk via the 8-byte-prefix row index") {
    val df = spark.range(40000).select(col("id"), format_string("k%06d", col("id")).as("key"))
    // two chunks of two strides each: skipping must act BELOW chunks
    val out = writeTable(df, "string-strides", Seq("key"), chunkRows = 20000)

    val lo = "k001000"; val hi = "k001200"
    val (rows, emitted) = scanned(
      spark.read.format("graft").load(out).filter(col("key").between(lo, hi)))
    assert(rows.length == 201)
    val kept = keptChunkRows(out, "key", "string", lit(lo), lit(hi))
    assert(emitted < kept,
      s"no sub-chunk skipping on string: emitted $emitted == kept-chunk rows $kept")
  }

  test("float stride index skips sub-chunk (sortable-bits order, incl. negatives)") {
    val df = spark.range(40000).select(col("id"),
      ((col("id") - 20000).cast("float") / lit(2.0f)).cast("float").as("v"))
    val out = writeTable(df, "float-strides", Seq("v"), chunkRows = 20000)

    val lo = -250.0f; val hi = 250.0f
    val (rows, emitted) = scanned(
      spark.read.format("graft").load(out).filter(col("v").between(lo, hi)))
    assert(rows.length == 1001)
    val kept = keptChunkRows(out, "v", "double", lit(lo.toDouble), lit(hi.toDouble))
    assert(emitted < kept,
      s"no sub-chunk skipping on float: emitted $emitted == kept-chunk rows $kept")
  }

  test("decodeColumns ignoreMissing nulls absent columns for schema-evolution reads") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs)
    // a column added to the target schema that old chunks lack — typed
    // per the evolved schema so it unions cleanly with newer data
    val out = TableEncoder.decodeColumns(chunks, specs, Seq("id", "added_later"),
      ignoreMissing = true,
      missingTypes = Map("added_later" -> org.apache.spark.sql.types.LongType))
    assert(out.schema.fieldNames.toSeq == Seq("id", "added_later"))
    assert(out.schema("added_later").dataType == org.apache.spark.sql.types.LongType)
    assert(out.count() == 500)
    assert(out.filter(col("added_later").isNotNull).count() == 0)
    // ALL requested columns missing: still one all-null row per written
    // row (the reference's ignoreMissingColumns returns rows)
    val allMissing = TableEncoder.decodeColumns(chunks, specs, Seq("added_later"),
      ignoreMissing = true)
    assert(allMissing.count() == 500)
    assert(allMissing.filter(col("added_later").isNotNull).count() == 0)
    // without the flag, unknown columns still throw (typo protection)
    intercept[IllegalArgumentException] {
      TableEncoder.decodeColumns(chunks, specs, Seq("id", "added_later"))
    }
  }

  test("bloom equality pruning skips chunks min/max range stats cannot (unsorted column)") {
    val stableSpark = spark
    import stableSpark.implicits._
    // UNSORTED high-cardinality keys: every chunk's [min,max] spans the
    // whole domain, so range pruning keeps everything — only the bloom
    // can reject chunks
    val rng = new scala.util.Random(3)
    val rows = (0 until 20000).map(i => (i.toLong, s"key-${rng.nextLong()}-$i"))
    val df = rows.toDF("id", "k").repartition(8)
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      strideRows = 1000, segmented = true, bloomColumns = Set("k", "id")).persist()
    val totalChunks = chunks.filter(col("column") === "k").count()
    assert(totalChunks >= 8, s"need many chunks, got $totalChunks")

    val target = rows(12345)._2
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePrunedEqualsString(chunks, specs, "k", target), specs).persist()
    // correctness: the matching row survives, the filter gives exactly it
    val exact = decoded.filter(col("k") === target).collect()
    assert(exact.map(_.getLong(0)).toSeq == Seq(12345L))
    // pruning power: only ~1 chunk (+ rare FPs) of 20 was decoded
    assert(decoded.count() <= 3 * 1000,
      s"bloom kept ${decoded.count()} rows of 20000 — no chunk-level rejection")
    decoded.unpersist()

    // long-family variant, through the scan: the same rows written as a
    // graft table with both Bloom filters
    val out = writeTable(df, "bloom-long", Nil, chunkRows = 1000, numPartitions = 8,
      bloomColumns = Set("k", "id"))
    val (hitL, emittedL) = scanned(spark.read.format("graft").load(out).filter(col("id") === 777L))
    assert(hitL.map(_.getLong(0)).toSeq == Seq(777L))
    assert(emittedL <= 3 * 1000,
      s"long bloom kept $emittedL rows of 20000 — no chunk-level rejection")

    // a column WITHOUT a bloom written keeps chunks conservatively on a
    // miss (no silent drops) — absent value still yields zero matches
    val miss = TableEncoder.unshred(
      TableEncoder.decodePrunedEqualsString(chunks, specs, "k", "absent-value"), specs)
    assert(miss.filter(col("k") === "absent-value").count() == 0)
    chunks.unpersist()
  }

  test("bloom equality pruning on a BINARY column (content-addressed blob lookup)") {
    val stableSpark = spark
    import stableSpark.implicits._
    // binary columns have NO min/max stats (length-sum only), so the
    // bloom is the only possible chunk rejection — the content-addressed
    // html-blob lookup shape
    val rng = new scala.util.Random(9)
    val rows = (0 until 20000).map(i => (i.toLong, s"<html>${rng.nextLong()}-$i</html>".getBytes("UTF-8")))
    val df = rows.toDF("id", "blob").repartition(8)
    val out = writeTable(df, "bloom-binary", Nil, chunkRows = 1000, numPartitions = 8,
      bloomColumns = Set("blob"))
    assert(EncodeJob.readChunkFiles(spark, EncodeJob.chunkDir(out)).filter(col("column") === "blob").count() >= 8)
    val src = spark.read.format("graft").load(out)

    val target = rows(4321)._2
    val (exact, emitted) = scanned(src.filter(col("blob") === lit(target)))
    assert(exact.map(_.getLong(0)).toSeq == Seq(4321L))
    assert(emitted <= 3 * 1000,
      s"binary bloom kept $emitted rows of 20000 — no chunk-level rejection")

    // absent blob: zero matches, no silent drops
    assert(src.filter(col("blob") === lit("nope".getBytes("UTF-8"))).count() == 0)
  }

  test("degenerate inputs: empty, single-row, and all-null columns round trip") {
    val stableSpark = spark
    import stableSpark.implicits._
    val schemaDf = Seq((1L, Option("x"), Option(1.5))).toDF("id", "s", "d")
    val specs = TableEncoder.columnSpecs(schemaDf.schema, Map.empty)

    // empty input: no chunks, decode yields an empty frame of the right schema
    val empty = schemaDf.filter(col("id") < 0)
    val emptyChunks = TableEncoder.encode(TableEncoder.shred(empty, specs), specs, segmented = true)
    assert(emptyChunks.count() == 0)
    val emptyOut = TableEncoder.unshred(TableEncoder.decode(emptyChunks, specs), specs)
    assert(emptyOut.count() == 0 && emptyOut.schema.fieldNames.toSeq == Seq("id", "s", "d"))

    // single row (stride 1-of-1, segmented)
    val one = Seq((7L, Option("only"), Option(2.25))).toDF("id", "s", "d")
    val oneChunks = TableEncoder.encode(TableEncoder.shred(one, specs), specs, segmented = true)
    val oneOut = TableEncoder.unshred(TableEncoder.decode(oneChunks, specs), specs)
    assert(oneOut.collect().toSeq == one.collect().toSeq)

    // a fully-null column (PRESENT all-false; no values in any stride)
    val nulls = (0 until 5000).map(i =>
      (i.toLong, None: Option[String], None: Option[Double])).toDF("id", "s", "d")
    val nullChunks = TableEncoder.encode(TableEncoder.shred(nulls, specs), specs,
      indexStrideRows = 700, segmented = true)
    val nullOut = TableEncoder.unshred(TableEncoder.decode(nullChunks, specs), specs)
    assert(nullOut.count() == 5000)
    assert(nullOut.filter(col("s").isNotNull || col("d").isNotNull).count() == 0)
    // and range-pruning a column whose strides are all null keeps them
    // (sentinel strides): only the first of four strides holds values
    val sparse = spark.range(40000).select(col("id"),
      when(col("id") < 10000, col("id") / 10000.0).as("d"))
    val out = writeTable(sparse, "null-strides", Seq("id"))
    val (inRange, emitted) = scanned(
      spark.read.format("graft").load(out).filter(col("d").between(0.0, 1.0)))
    assert(inRange.length == 10000)
    assert(emitted == 40000, "all-null strides must be kept, never dropped")
  }

  test("fuzz: segmented and whole-stream layouts decode identically on random data") {
    val stableSpark = spark
    import stableSpark.implicits._
    val rng = new scala.util.Random(20260817)
    (0 until 3).foreach { trial =>
      val n = 3000 + rng.nextInt(4000)
      val nullEvery = 2 + rng.nextInt(9)
      val rows = (0 until n).map { i =>
        def maybe[T](v: T): Option[T] = if ((i + trial) % nullEvery == 0) None else Some(v)
        (i.toLong,
          maybe(rng.nextLong()),
          maybe(rng.nextInt(1 << rng.nextInt(30))),
          maybe(rng.nextDouble() * math.pow(10, rng.nextInt(8)) - 5000),
          maybe(rng.nextFloat() * 100 - 50),
          maybe(rng.nextBoolean()),
          maybe(rng.alphanumeric.take(rng.nextInt(40)).mkString),
          maybe(Array.fill(rng.nextInt(30))(rng.nextInt().toByte)))
      }
      val df = rows.toDF("id", "v_long", "v_int", "v_double", "v_float", "v_bool", "v_str", "v_bin")
      val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
      val stride = 1 << (7 + rng.nextInt(4)) // 128..1024
      val shredded = TableEncoder.shred(df, specs)
      val seg = TableEncoder.unshred(TableEncoder.decode(
        TableEncoder.encode(shredded, specs, indexStrideRows = stride, segmented = true),
        specs), specs)
      val whole = TableEncoder.unshred(TableEncoder.decode(
        TableEncoder.encode(shredded, specs, indexStrideRows = stride),
        specs), specs)
      assert(seg.exceptAll(whole).count() == 0, s"trial $trial: segmented ⊄ whole")
      assert(whole.exceptAll(seg).count() == 0, s"trial $trial: whole ⊄ segmented")
      assert(seg.exceptAll(df).count() == 0 && df.exceptAll(seg).count() == 0,
        s"trial $trial: round trip differs from input")
    }
  }

  test("bool stride index skips all-false strides for a `= true` predicate") {
    // clustered by flag: only the last 5% of rows are true
    val df = spark.range(40000).select(col("id"), (col("id") >= 38000).as("flag"))
    val out = writeTable(df, "bool-strides", Seq("flag", "id"))
    val (rows, emitted) = scanned(spark.read.format("graft").load(out).filter(col("flag")))
    assert(rows.length == 2000)
    val kept = keptChunkRows(out, "flag", "long", lit(1L), lit(1L))
    assert(emitted < kept,
      s"no sub-chunk skipping on bool: emitted $emitted == kept-chunk rows $kept")
  }

  test("byte columns route through ByteRLE and carry sum stats") {
    val df = spark.range(0, 3000)
      .select(col("id"), (col("id") % 100).cast("byte").as("b"))
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs)
    val byCol = chunks.collect().groupBy(_.column)
    assert(byCol("b").forall(_.codec == Codecs.ByteRleC))
    val idSum = byCol("id").flatMap(_.sum_val).sum
    assert(idSum == (0L until 3000L).sum, s"sum stat wrong: $idSum")
    // decode restores byte values
    val decoded = TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs)
    assert(decoded.exceptAll(df).count() == 0)
    assert(df.exceptAll(decoded).count() == 0)
  }
}
