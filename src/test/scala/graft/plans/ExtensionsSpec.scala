package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("fsst_compress/fsst_decompress round-trip via SQL, and it compresses") {
    val stableSpark = spark
    import stableSpark.implicits._
    val docs = (0 until 200).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number $i again and again " * 8))
      .toDF("id", "text")
    docs.createOrReplaceTempView("ext_docs")
    val r = spark.sql(
      """SELECT id,
        |  cast(fsst_decompress(fsst_compress(cast(text AS binary))) AS string) = text AS ok,
        |  length(fsst_compress(cast(text AS binary))) < length(cast(text AS binary)) AS smaller
        |FROM ext_docs""".stripMargin)
    val rows = r.collect()
    assert(rows.length == 200 && rows.forall(x => x.getBoolean(1) && x.getBoolean(2)))
  }

  test("rle_encode/rle_decode round-trip and delta-compress monotonic runs") {
    val r = spark.sql(
      """SELECT rle_decode(rle_encode(sequence(0L, 5000L))) = sequence(0L, 5000L) AS ok,
        |       length(rle_encode(sequence(0L, 5000L))) AS n""".stripMargin).first()
    assert(r.getBoolean(0))
    val n = r.getAs[Number](1).longValue()
    assert(n < 100, s"5001 sequential longs should delta-encode tiny, got $n B")
  }

  test("zlib_block/zlib_unblock round-trip") {
    val r = spark.sql(
      """SELECT cast(zlib_unblock(zlib_block(cast(repeat('abcdef', 5000) AS binary))) AS string)
        |       = repeat('abcdef', 5000) AS ok""".stripMargin).first()
    assert(r.getBoolean(0))
  }

  test("zstd_block/lz4_block round-trip and compress in SQL") {
    for (fn <- Seq("zstd", "lz4")) {
      val r = spark.sql(
        s"""SELECT cast(${fn}_unblock(${fn}_block(cast(repeat('abcdef', 5000) AS binary))) AS string)
           |       = repeat('abcdef', 5000) AS ok,
           |       length(${fn}_block(cast(repeat('abcdef', 5000) AS binary))) AS n""".stripMargin).first()
      assert(r.getBoolean(0), s"$fn round trip")
      assert(r.getAs[Number](1).longValue() < 5000, s"$fn did not compress")
    }
  }

  test("minhash_signature and hyperplane_bucket are registered in SQL") {
    val r = spark.sql(
      """SELECT size(minhash_signature('the quick brown fox jumps over the lazy dog', 16, 3)) AS k,
        |       minhash_signature('ab', 16, 3) IS NULL AS too_short,
        |       hyperplane_bucket(array(cast(1.0 AS float), cast(-2.0 AS float)), 6) AS b
        |""".stripMargin).first()
    assert(r.getInt(0) == 16)
    assert(r.getBoolean(1))
    val b = r.getLong(2)
    assert(b >= 0 && b < 64)
  }

  test("ngram_jaccard is registered in SQL") {
    val r = spark.sql(
      """SELECT ngram_jaccard('a b c d', 'a b c d', 3) AS same,
        |       ngram_jaccard('a b c d e', 'b c d e f', 2) AS part,
        |       ngram_jaccard('', 'a b c', 3) AS empty""".stripMargin).first()
    assert(r.getDouble(0) == 1.0)
    assert(math.abs(r.getDouble(1) - 3.0 / 5.0) < 1e-12) // {bc,cd,de} of {ab,bc,cd,de,ef}∪...
    assert(r.getDouble(2) == 0.0)
  }

  test("cosine_similarity is registered in SQL and stays in codegen") {
    // range() scan (not a local relation, which evaluates at the driver)
    // so the expression provably runs inside WholeStageCodegen
    val df = spark.sql(
      """SELECT cosine_similarity(array(cast(id AS float), cast(0.0 AS float)),
        |         array(cast(id AS float), cast(0.0 AS float))) AS c
        |FROM range(1, 50)""".stripMargin)
    val vals = df.collect().map(_.getDouble(0))
    assert(vals.length == 49 && vals.forall(v => math.abs(v - 1.0) < 1e-9))
    // "*(n)" is the WholeStageCodegen stage marker in plan strings
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cosine_similarity"))
  }

  test("bloom_agg/bloom_contains: group sketches probe correctly in SQL") {
    val stableSpark = spark
    import stableSpark.implicits._
    (0 until 2000).map(i => (i % 4, s"url-$i")).toDF("g", "url")
      .createOrReplaceTempView("ext_urls")
    spark.sql("SELECT g, bloom_agg(url) AS bf FROM ext_urls GROUP BY g")
      .createOrReplaceTempView("ext_blooms")
    // every member url probes TRUE against its own group's sketch
    val misses = spark.sql(
      """SELECT count(*) AS n FROM ext_urls u JOIN ext_blooms b ON u.g = b.g
        |WHERE NOT bloom_contains(b.bf, u.url)""".stripMargin).first().getLong(0)
    assert(misses == 0, s"$misses false negatives")
    // non-members mostly probe FALSE (fpp ~5%)
    val fps = spark.sql(
      """SELECT count(*) AS n FROM ext_urls u JOIN ext_blooms b ON u.g = b.g
        |WHERE bloom_contains(b.bf, concat(u.url, '-absent'))""".stripMargin).first().getLong(0)
    assert(fps < 2000 * 0.15, s"$fps of 2000 false positives")
    // long inputs work too
    val longOk = spark.sql(
      """SELECT bloom_contains(bloom_agg(id), 7L) AS hit,
        |       bloom_contains(bloom_agg(id), 99999L) AS miss
        |FROM (SELECT cast(id AS long) AS id FROM range(0, 100))""".stripMargin).first()
    assert(longOk.getBoolean(0) && !longOk.getBoolean(1))
  }

  test("bloom_contains probes CHUNK-level blooms — one tagged envelope for both surfaces") {
    val stableSpark = spark
    import stableSpark.implicits._
    import org.apache.spark.sql.functions._
    import graft.spark.TableEncoder
    val df = (0 until 2000).map(i => (i.toLong, s"url-$i")).toDF("id", "k")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    TableEncoder.encode(TableEncoder.shred(df, specs), specs, bloomColumns = Set("k", "id"))
      .select(col("column"), col("bloom")).createOrReplaceTempView("chunk_blooms")
    // a chunk bloom written by the encoder answers a SQL probe
    val hit = spark.sql(
      "SELECT max(bloom_contains(bloom, 'url-77')) FROM chunk_blooms WHERE column = 'k'")
      .first().getBoolean(0)
    assert(hit, "chunk bloom rejected a present value")
    // probing a bytes-built chunk bloom with a LONG raises the type
    // mismatch (not a misleading varint-as-tag error)
    val e = intercept[Exception] {
      spark.sql("SELECT bloom_contains(bloom, 42L) FROM chunk_blooms WHERE column = 'k'").collect()
    }
    assert(e.getMessage.contains("type mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("type mismatch")), e.getMessage)
    // long-family chunk bloom probes with a long
    val hitL = spark.sql(
      "SELECT max(bloom_contains(bloom, 1234L)) FROM chunk_blooms WHERE column = 'id'")
      .first().getBoolean(0)
    assert(hitL, "long chunk bloom rejected a present value")
  }

  test("the injected extension answers a small graft lookup on the driver") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-local").toString + "/t"
    spark.range(100).selectExpr("id", "concat('u', id) AS url")
      .write.format("graft").option("numPartitions", "2").save(dir)
    val df = spark.read.format("graft").load(dir).where("url = 'u42'")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L))
    assert(df.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec], df.queryExecution.executedPlan)
  }

  test("imperative registration works on a plain session") {
    val plain = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .appName("no-extensions").getOrCreate().newSession()
    GraftExtensions.register(plain)
    val ok = plain.sql(
      "SELECT cast(fsst_decompress(fsst_compress(cast('hello graft hello graft' AS binary))) AS string)")
      .first().getString(0)
    assert(ok == "hello graft hello graft")
  }

  test("imperative registration adds the local scan only when asked") {
    val s = SparkSession.builder().master("local[2]").getOrCreate().newSession()
    val local = graft.spark.source.GraftLocalScan
    GraftExtensions.register(s)
    assert(s.experimental.extraStrategies == Seq(org.apache.spark.sql.graftdml.GraftDmlStrategy))
    GraftExtensions.registerLocalScan(s)
    GraftExtensions.registerLocalScan(s)
    GraftExtensions.register(s)
    assert(s.experimental.extraStrategies ==
      Seq(org.apache.spark.sql.graftdml.GraftDmlStrategy, local))
  }
}
