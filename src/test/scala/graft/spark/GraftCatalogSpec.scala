package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Full SQL surface over the DSv2 TableCatalog: DDL (CREATE/DROP/RENAME
  * namespace + table), DML (INSERT INTO/OVERWRITE, CTAS), catalog-
  * qualified reads with the same pushdowns as the path surface, and
  * TBLPROPERTIES persisted as the table's default write options.
  */
class GraftCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val wh = Files.createTempDirectory("graft-warehouse").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-catalog-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.catalog.graft", "graft.spark.source.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", wh)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("DDL + DML + reads end-to-end through SQL") {
    spark.sql("CREATE NAMESPACE graft.web")
    spark.sql(
      """CREATE TABLE graft.web.pages (id BIGINT, lang STRING, body STRING)
        |USING graft TBLPROPERTIES ('compression' = 'zlib', 'numPartitions' = '2')""".stripMargin)

    // schema-only table: readable (0 rows) and visible in SHOW TABLES
    assert(spark.sql("SELECT * FROM graft.web.pages").count() == 0)
    assert(spark.sql("SELECT count(*) FROM graft.web.pages").first().getLong(0) == 0)
    assert(spark.sql("SHOW TABLES IN graft.web").collect().map(_.getString(1)).contains("pages"))

    spark.sql(
      """INSERT INTO graft.web.pages
        |SELECT id, CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END, concat('body-', id)
        |FROM range(3000)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.web.pages").first().getLong(0) == 3000)
    // TBLPROPERTIES reached the encoder
    val kinds = EncodeJob.readChunkFiles(spark, s"$wh/web/pages/chunks").select("compression")
      .distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("zlib"), kinds.toString)

    // second INSERT appends (a new committed batch)
    spark.sql("INSERT INTO graft.web.pages SELECT id, 'fr', concat('b', id) FROM range(3000, 3500)")
    assert(spark.sql("SELECT count(*) FROM graft.web.pages").first().getLong(0) == 3500)
    assert(EncodeJob.committedBatches(spark, s"$wh/web/pages").size == 2)

    // filters push through the catalog read exactly like the path read
    val en = spark.sql("SELECT id FROM graft.web.pages WHERE lang = 'en' ORDER BY id")
    assert(en.count() == 1000)
    assert(en.first().getLong(0) == 0)

    // INSERT OVERWRITE truncates then writes
    spark.sql("INSERT OVERWRITE graft.web.pages SELECT id, 'nl', 'x' FROM range(42)")
    assert(spark.sql("SELECT count(*) FROM graft.web.pages").first().getLong(0) == 42)

    // CTAS
    spark.sql(
      """CREATE TABLE graft.web.copy USING graft
        |AS SELECT * FROM graft.web.pages WHERE id < 10""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.web.copy").first().getLong(0) == 10)

    // RENAME + DROP
    spark.sql("ALTER TABLE graft.web.copy RENAME TO web.copy2")
    assert(spark.sql("SELECT count(*) FROM graft.web.copy2").first().getLong(0) == 10)
    spark.sql("DROP TABLE graft.web.copy2")
    intercept[Exception] { spark.sql("SELECT * FROM graft.web.copy2").collect() }
  }

  test("catalog adopts a dir written by the path surface; table services work via SQL names") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.adopt")
    val dir = s"$wh/adopt/ext"
    spark.range(500).select(col("id"), concat(lit("v"), col("id")).as("s"))
      .write.format("graft").mode("overwrite").option("numPartitions", "2").save(dir)
    // no CREATE TABLE needed: schema.json IS the existence marker
    assert(spark.sql("SELECT count(*) FROM graft.adopt.ext").first().getLong(0) == 500)
    // compact + time travel against the same dir, then read through SQL
    spark.range(500, 600).select(col("id"), concat(lit("v"), col("id")).as("s"))
      .write.format("graft").mode("append").option("numPartitions", "2").save(dir)
    EncodeJob.compact(spark, dir, targetPartitions = 1)
    assert(spark.sql("SELECT count(*) FROM graft.adopt.ext").first().getLong(0) == 600)
    // SQL time travel: VERSION AS OF <batch id>
    assert(spark.sql("SELECT count(*) FROM graft.adopt.ext VERSION AS OF 0")
      .first().getLong(0) == 500)
    assert(spark.sql("SELECT count(*) FROM graft.adopt.ext VERSION AS OF 1")
      .first().getLong(0) == 600)
  }

  test("SQL DELETE FROM: exact predicates, atomic swap, time travel keeps history") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    spark.sql("CREATE TABLE graft.del.t (id BIGINT, lang STRING) USING graft TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.del.t SELECT id, CASE WHEN id % 3 = 0 THEN 'en' ELSE 'de' END FROM range(900)")
    spark.sql("DELETE FROM graft.del.t WHERE lang = 'en' AND id >= 300")
    val left = spark.sql("SELECT count(*) FROM graft.del.t").first().getLong(0)
    assert(left == 900 - 200, s"$left") // 200 en-rows with id in [300, 900)
    assert(spark.sql("SELECT count(*) FROM graft.del.t WHERE lang = 'en'").first().getLong(0) == 100)
    // history intact until vacuum
    assert(spark.sql("SELECT count(*) FROM graft.del.t VERSION AS OF 0").first().getLong(0) == 900)
    // IN + null-semantics: rows where the condition is NULL are KEPT
    spark.sql("INSERT INTO graft.del.t SELECT id, NULL FROM range(1000, 1010)")
    spark.sql("DELETE FROM graft.del.t WHERE lang IN ('de')")
    assert(spark.sql("SELECT count(*) FROM graft.del.t").first().getLong(0) == 100 + 10,
      "null-lang rows must survive a lang IN ('de') delete")
    // delete-all via unconditioned DELETE
    spark.sql("DELETE FROM graft.del.t WHERE true")
    assert(spark.sql("SELECT count(*) FROM graft.del.t").first().getLong(0) == 0)
  }

  test("SQL UPDATE: routed through GraftDmlStrategy, atomic, time-travel keeps history") {
    graft.plans.GraftExtensions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.upd")
    spark.sql("CREATE TABLE graft.upd.t (id BIGINT, s STRING, v DOUBLE) USING graft " +
      "TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.upd.t SELECT id, concat('s', id), id * 0.5 FROM range(500)")
    spark.sql("UPDATE graft.upd.t SET v = v * 2, s = concat(s, '+') WHERE id >= 400")
    assert(spark.sql("SELECT count(*) FROM graft.upd.t").first().getLong(0) == 500)
    assert(spark.sql("SELECT count(*) FROM graft.upd.t WHERE s LIKE '%+'").first().getLong(0) == 100)
    assert(spark.sql("SELECT v FROM graft.upd.t WHERE id = 450").first().getDouble(0) == 450.0)
    assert(spark.sql("SELECT v FROM graft.upd.t WHERE id = 10").first().getDouble(0) == 5.0)
    // unconditioned UPDATE touches every row
    spark.sql("UPDATE graft.upd.t SET v = 0")
    assert(spark.sql("SELECT sum(v) FROM graft.upd.t").first().getDouble(0) == 0.0)
    // history intact until vacuum
    assert(spark.sql("SELECT count(*) FROM graft.upd.t VERSION AS OF 0 WHERE v > 0")
      .first().getLong(0) > 0)
  }

  test("nested namespaces: multi-level DDL, SHOW, properties, guarded drop") {
    spark.sql("CREATE NAMESPACE graft.lake")
    spark.sql("CREATE NAMESPACE graft.lake.bronze COMMENT 'raw zone'")
    spark.sql("CREATE NAMESPACE graft.lake.bronze.crawl")
    // tables live at any depth; all pushdowns unchanged
    spark.sql("CREATE TABLE graft.lake.bronze.crawl.pages (id BIGINT, body STRING) " +
      "USING graft TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.lake.bronze.crawl.pages SELECT id, concat('b', id) FROM range(100)")
    assert(spark.sql("SELECT count(*) FROM graft.lake.bronze.crawl.pages").first().getLong(0) == 100)
    assert(spark.sql("SELECT max(id) FROM graft.lake.bronze.crawl.pages").first().getLong(0) == 99)
    // SHOW walks the hierarchy level by level
    assert(spark.sql("SHOW NAMESPACES IN graft.lake").collect()
      .map(_.getString(0)).contains("lake.bronze"))
    assert(spark.sql("SHOW NAMESPACES IN graft.lake.bronze").collect()
      .map(_.getString(0)).contains("lake.bronze.crawl"))
    assert(spark.sql("SHOW TABLES IN graft.lake.bronze.crawl").collect()
      .map(_.getString(1)).contains("pages"))
    // tables are never listed as namespaces
    assert(!spark.sql("SHOW NAMESPACES IN graft.lake.bronze.crawl").collect()
      .map(_.getString(0)).exists(_.contains("pages")))
    // namespace properties persist and alter
    spark.sql("ALTER NAMESPACE graft.lake.bronze SET PROPERTIES ('owner_team'='ingest')")
    val props = spark.sql("DESCRIBE NAMESPACE EXTENDED graft.lake.bronze").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("Properties").exists(_.contains("owner_team")), props.toString)
    // non-cascade drop refuses a non-empty namespace; cascade removes the tree
    intercept[Exception] { spark.sql("DROP NAMESPACE graft.lake.bronze") }
    assert(spark.sql("SELECT count(*) FROM graft.lake.bronze.crawl.pages").first().getLong(0) == 100)
    spark.sql("DROP NAMESPACE graft.lake.bronze CASCADE")
    intercept[Exception] { spark.sql("SELECT * FROM graft.lake.bronze.crawl.pages").collect() }
    assert(spark.sql("SHOW NAMESPACES IN graft.lake").collect().isEmpty)
  }

  test("SQL DELETE with non-translatable conditions (strategy route beyond SupportsDeleteV2)") {
    graft.plans.GraftExtensions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.delx")
    spark.sql("CREATE TABLE graft.delx.t (id BIGINT, s STRING) USING graft " +
      "TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.delx.t SELECT id, concat('v', id) FROM range(300)")
    // length()/% have no lossless V1 filter translation — SupportsDeleteV2
    // alone would refuse this statement
    spark.sql("DELETE FROM graft.delx.t WHERE length(s) = 2 AND id % 2 = 1")
    val left = spark.sql("SELECT count(*) FROM graft.delx.t").first().getLong(0)
    assert(left == 300 - 5, s"$left") // v1 v3 v5 v7 v9
    // condition-NULL rows are KEPT (SQL DELETE semantics through the strategy)
    spark.sql("INSERT INTO graft.delx.t SELECT id, NULL FROM range(1000, 1010)")
    spark.sql("DELETE FROM graft.delx.t WHERE substring(s, 1, 1) = 'v' AND id >= 200")
    val after = spark.sql("SELECT count(*) FROM graft.delx.t").first().getLong(0)
    assert(after == 295 - 100 + 10, s"$after")
  }

  test("SQL MERGE INTO: matched update/delete, conditional insert, not-matched-by-source") {
    graft.plans.GraftExtensions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrg")
    spark.sql("CREATE TABLE graft.mrg.t (id BIGINT, s STRING, v BIGINT) USING graft " +
      "TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.mrg.t SELECT id, concat('s', id), id FROM range(10)")

    spark.sql(
      """MERGE INTO graft.mrg.t t
        |USING (SELECT * FROM VALUES (8L, 800L), (9L, -1L), (20L, 2000L), (21L, 5L) AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED AND s.v > 100 THEN INSERT (id, s, v) VALUES (s.id, 'new', s.v)
        |""".stripMargin)
    val rows = spark.sql("SELECT id, s, v FROM graft.mrg.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(!rows.exists(_._1 == 9L), "matched DELETE must remove id=9")
    assert(rows.find(_._1 == 8L).get._3 == 800L, "matched UPDATE must rewrite id=8")
    assert(rows.find(_._1 == 20L).contains((20L, "new", 2000L)), "conditional INSERT")
    assert(!rows.exists(_._1 == 21L), "insert condition must filter id=21")
    assert(rows.count(r => r._1 < 8) == 8, "unmatched target rows pass through")

    // NOT MATCHED BY SOURCE
    spark.sql(
      """MERGE INTO graft.mrg.t t USING (SELECT 20L AS id) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.s = 'kept'
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 7 THEN DELETE
        |""".stripMargin)
    val after = spark.sql("SELECT id FROM graft.mrg.t ORDER BY id").collect().map(_.getLong(0))
    assert(after.toSeq == (0L to 6L) :+ 20L, after.mkString(","))
    assert(spark.sql("SELECT s FROM graft.mrg.t WHERE id = 20").first().getString(0) == "kept")

    // MERGE into an EMPTY table: the upsert-bootstrap case appends
    spark.sql("CREATE TABLE graft.mrg.boot (id BIGINT, s STRING, v BIGINT) USING graft " +
      "TBLPROPERTIES ('numPartitions'='2')")
    spark.sql(
      """MERGE INTO graft.mrg.boot t USING (SELECT * FROM VALUES (1L, 10L), (2L, 20L) AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (s.id, 'boot', s.v)
        |""".stripMargin)
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.mrg.boot").first().toSeq == Seq(2L, 30L))

    // cardinality violation: one target row matching two source rows errors
    val err = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.mrg.t t USING (SELECT * FROM VALUES (1L), (1L) AS s(id)) s
          |ON t.id = s.id WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(err.getMessage.contains("cardinality"), err.getMessage)
    // and the failed MERGE must not have changed the table
    assert(spark.sql("SELECT count(*) FROM graft.mrg.t").first().getLong(0) == 8)
  }

  test("ALTER TABLE ADD COLUMN: old batches read typed nulls, new batches real values") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.evo")
    spark.sql("CREATE TABLE graft.evo.t (id BIGINT, s STRING) USING graft " +
      "TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.evo.t SELECT id, concat('s', id) FROM range(100)")
    spark.sql("ALTER TABLE graft.evo.t ADD COLUMN score DOUBLE")
    spark.sql("ALTER TABLE graft.evo.t ADD COLUMN tag STRING")
    // schema evolved; old rows read as typed nulls BEFORE any new insert
    assert(spark.table("graft.evo.t").columns.toSeq == Seq("id", "s", "score", "tag"))
    assert(spark.sql("SELECT count(*) FROM graft.evo.t WHERE score IS NULL")
      .first().getLong(0) == 100)
    spark.sql("INSERT INTO graft.evo.t SELECT id, concat('n', id), id * 1.5, 'new' " +
      "FROM range(100, 150)")
    val t = spark.table("graft.evo.t")
    assert(t.count() == 150)
    assert(t.filter(col("score").isNull && col("tag").isNull).count() == 100)
    assert(t.filter(col("tag") === "new").count() == 50)
    assert(spark.sql("SELECT score FROM graft.evo.t WHERE id = 120").first().getDouble(0) == 180.0)
    // selecting ONLY post-ALTER columns still yields one row per written row
    assert(spark.sql("SELECT score FROM graft.evo.t").count() == 150)
    assert(spark.sql("SELECT score FROM graft.evo.t WHERE score IS NULL").count() == 100)
    // aggregate pushdown stays exact: COUNT(*) counts pre-ALTER chunks too,
    // and min/max over the new column ignore the null-filled old rows
    val agg = spark.sql("SELECT count(*), count(score), min(score), max(score) FROM graft.evo.t")
      .first()
    assert(agg.getLong(0) == 150 && agg.getLong(1) == 50, agg.toString)
    assert(agg.getDouble(2) == 150.0 && agg.getDouble(3) == 149 * 1.5, agg.toString)
    // filters on the new column over mixed batches stay exact
    assert(spark.sql("SELECT id FROM graft.evo.t WHERE score > 200").collect()
      .map(_.getLong(0)).sorted.toSeq == (134L until 150L).toSeq)
    // DML sees the evolved schema
    graft.plans.GraftExtensions.register(spark)
    spark.sql("UPDATE graft.evo.t SET tag = 'old' WHERE score IS NULL")
    assert(spark.sql("SELECT count(*) FROM graft.evo.t WHERE tag = 'old'").first().getLong(0) == 100)
    // refusals: duplicate add, nested, non-append position, drop
    intercept[Exception] { spark.sql("ALTER TABLE graft.evo.t ADD COLUMN id BIGINT") }
    intercept[Exception] { spark.sql("ALTER TABLE graft.evo.t DROP COLUMN s") }
    intercept[Exception] { spark.sql("ALTER TABLE graft.evo.t ADD COLUMN z BIGINT FIRST") }
    // TBLPROPERTIES set/unset round-trips
    spark.sql("ALTER TABLE graft.evo.t SET TBLPROPERTIES ('compression'='zstd')")
    assert(spark.sql("SHOW TBLPROPERTIES graft.evo.t").collect()
      .exists(r => r.getString(0) == "compression" && r.getString(1) == "zstd"))
    spark.sql("ALTER TABLE graft.evo.t UNSET TBLPROPERTIES ('compression')")
    assert(!spark.sql("SHOW TBLPROPERTIES graft.evo.t").collect()
      .exists(r => r.getString(0) == "compression"))
  }

  test("aggregate pushdown works through the catalog (metadata-only)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.agg")
    spark.sql("CREATE TABLE graft.agg.t (k BIGINT, v DOUBLE) USING graft TBLPROPERTIES ('numPartitions'='2')")
    spark.sql("INSERT INTO graft.agg.t SELECT id, id * 0.5 FROM range(1000)")
    graft.core.BlockCompression.resetCounters()
    val r = spark.sql("SELECT min(k), max(k), count(k), max(v) FROM graft.agg.t").first()
    assert(graft.core.BlockCompression.decompressInputBytes == 0,
      "aggregate pushdown disengaged through the catalog")
    assert(r.getLong(0) == 0 && r.getLong(1) == 999 && r.getLong(2) == 1000 && r.getDouble(3) == 499.5)
  }

  test("selective MERGE: batches outside the source key bounds stay byte-identical") {
    graft.plans.GraftExtensions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.selm")
    spark.sql(
      """CREATE TABLE graft.selm.t (id BIGINT, v BIGINT)
        |USING graft TBLPROPERTIES ('numPartitions' = '2')""".stripMargin)
    // three batches with disjoint, stats-visible id ranges
    Seq((0L, 100L), (1000L, 1100L), (2000L, 2100L)).foreach { case (lo, hi) =>
      spark.range(lo, hi).selectExpr("id", "id AS v").createOrReplaceTempView("selm_src")
      spark.sql("INSERT INTO graft.selm.t SELECT * FROM selm_src")
    }
    val dir = s"$wh/selm/t"
    assert(EncodeJob.committedBatches(spark, dir) == Set(0, 1, 2))
    def fileHashes(batch: Int): Map[String, String] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/chunks/batch=$batch"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(f => ChunkFile.isChunkFileName(f.toString)).map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f)
          f.toString -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
        }.toMap
      } finally st.close()
    }
    val before0 = fileHashes(0)
    val before2 = fileHashes(2)

    // source keys live ONLY in batch 1's range, plus fresh insert keys
    spark.sql(
      """MERGE INTO graft.selm.t t
        |USING (SELECT id, -1L AS v FROM range(1000, 1050)
        |       UNION ALL SELECT id, -2L AS v FROM range(5000, 5005)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |""".stripMargin)

    // batches 0 and 2 were never rewritten — files byte-identical
    assert(fileHashes(0) == before0, "batch 0 rewritten by a selective MERGE")
    assert(fileHashes(2) == before2, "batch 2 rewritten by a selective MERGE")
    val committed = EncodeJob.committedBatches(spark, dir)
    assert(committed.contains(0) && committed.contains(2) && !committed.contains(1),
      s"selective MERGE should have replaced only batch 1: $committed")

    // and the merged table reads exactly right
    val got = spark.sql("SELECT id, v FROM graft.selm.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = ((0L until 100L) ++ (1000L until 1100L) ++ (2000L until 2100L))
      .map(id => (id, if (id >= 1000 && id < 1050) -1L else id)) ++
      (5000L until 5005L).map(id => (id, -2L))
    assert(got.toSeq == want.sortBy(_._1).toSeq)

    // a merge whose keys match NOTHING appends only (all batches intact)
    val pre = EncodeJob.committedBatches(spark, dir)
    val b0 = fileHashes(0)
    spark.sql(
      """MERGE INTO graft.selm.t t USING (SELECT 90000L AS id, 7L AS v) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |""".stripMargin)
    assert(fileHashes(0) == b0)
    assert(EncodeJob.committedBatches(spark, dir).intersect(pre) == pre,
      "no-match MERGE must append, not rewrite")
    assert(spark.sql("SELECT v FROM graft.selm.t WHERE id = 90000").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("MERGE with a non-deterministic source takes the full rewrite") {
    graft.plans.GraftExtensions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ndm")
    spark.sql(
      """CREATE TABLE graft.ndm.t (id BIGINT, v BIGINT)
        |USING graft TBLPROPERTIES ('numPartitions' = '2')""".stripMargin)
    Seq((0L, 100L), (1000L, 1100L), (2000L, 2100L)).foreach { case (lo, hi) =>
      spark.range(lo, hi).selectExpr("id", "id AS v").createOrReplaceTempView("ndm_src")
      spark.sql("INSERT INTO graft.ndm.t SELECT * FROM ndm_src")
    }
    val dir = s"$wh/ndm/t"
    val before = EncodeJob.committedBatches(spark, dir)
    assert(before == Set(0, 1, 2))

    // the keys equal `id`, but rand() makes the source plan
    // non-deterministic: its key bounds cannot be trusted to prune
    spark.sql(
      """MERGE INTO graft.ndm.t t
        |USING (SELECT id + CAST(floor(rand(7) * 0) AS BIGINT) AS id, -1L AS v
        |       FROM range(1000, 1050)
        |       UNION ALL SELECT id, -2L AS v FROM range(5000, 5005)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |""".stripMargin)

    val committed = EncodeJob.committedBatches(spark, dir)
    assert(committed.intersect(before).isEmpty,
      s"a non-deterministic MERGE source must rewrite every batch: $committed")

    // plain-Spark model of the same MERGE over the pre-merge rows
    val target = spark.range(0, 100).union(spark.range(1000, 1100)).union(spark.range(2000, 2100))
      .selectExpr("id", "id AS v")
    val source = spark.range(1000, 1050).selectExpr("id", "-1L AS v")
      .union(spark.range(5000, 5005).selectExpr("id", "-2L AS v"))
    val model = target.as("t").join(source.as("s"), col("t.id") === col("s.id"), "full_outer")
      .select(coalesce(col("t.id"), col("s.id")).as("id"),
        when(col("s.id").isNotNull, col("s.v")).otherwise(col("t.v")).as("v"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows(spark.sql("SELECT id, v FROM graft.ndm.t")) == rows(model))
  }
}
