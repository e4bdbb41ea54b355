package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** End-to-end Spark tests: encode → parquet → decode must be
  * bit-identical to the input (the north rule's invariant, keyed by url),
  * including a kill/resume simulation over the batch commit log.
  */
class EncodeJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-test").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sfDir = "/root/testdata/sf0.001"

  /** The graft scan nodes of `df`'s executed plan (AQE stages unwrapped). */
  private def graftScans(df: DataFrame): Seq[BatchScanExec] = {
    def find(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec        => find(q.plan)
      case b: BatchScanExec if b.scan.isInstanceOf[graft.spark.source.GraftScan] => Seq(b)
      case other                    => other.children.flatMap(find)
    }
    find(df.queryExecution.executedPlan)
  }

  /** True iff any RDD in the lineage depends on a shuffle. */
  /** Rewrite the one chunk file under `dir` in place, same name, its rows
    * reordered by `order` — an external rewrite that keeps the file set.
    */
  private def rewriteInPlace(dir: String, order: DataFrame => DataFrame): Unit = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 1)
    val staged = s"$tmp/staged-${System.nanoTime()}"
    order(spark.read.parquet(files.head.getPath).repartition(1)).write.parquet(staged)
    val rewritten = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(rewritten.length == 1)
    java.nio.file.Files.move(rewritten.head.toPath, files.head.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(files.head.getParentFile, s".${files.head.getName}.crc").delete()
    TableMeta.invalidateAll()
  }

  /** True when `err` or one of its causes carries `text` in its message. */
  private def causedBy(err: Throwable, text: String): Boolean =
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(text))

  private def hasShuffle(rdd: org.apache.spark.rdd.RDD[_]): Boolean = {
    val seen = scala.collection.mutable.HashSet[Int]()
    def go(r: org.apache.spark.rdd.RDD[_]): Boolean =
      r.dependencies.exists { d =>
        d.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]] ||
          (seen.add(d.rdd.id) && go(d.rdd))
      }
    go(rdd)
  }

  test("webtext pages: encode → decode is bit-identical per url") {
    val pages = WebGen.pages(spark, 5000, seed = 42, partitions = 4)
    val out = s"$tmp/webtext"
    val cfg = EncodeJob.Config(out, numPartitions = 8, keyColumn = Some("lang"))
    val result = EncodeJob.run(pages.toDF(), cfg)
    assert(result.batchesEncoded == 1)

    val decoded = EncodeJob.readBack(spark, out, result.specs)
    assert(decoded.count() == 5000)

    // byte-identical text (and html) per url — the north-rule invariant
    val orig = pages.toDF().select(col("url"), col("text"), col("html"), col("lang"), col("warc_ts"))
    val joined = orig.alias("o").join(decoded.alias("d"), "url")
    val mismatches = joined.filter(
      col("o.text") =!= col("d.text") ||
      col("o.lang") =!= col("d.lang") ||
      col("o.warc_ts") =!= col("d.warc_ts") ||
      md5(col("o.html")) =!= md5(col("d.html"))).count()
    assert(mismatches == 0, s"$mismatches rows differ after round trip")
    assert(joined.count() == 5000) // no lost/duplicated urls

    // codec decisions recorded in lineage: lang must be dictionary-coded
    val manifest = EncodeJob.manifestEntries(spark, out)
    val codecs = manifest.head.codecs
    assert(codecs.contains("lang=STRING_DICT"), codecs)
    assert(codecs.contains("text=STRING_FSST") || codecs.contains("text=STRING_DIRECT"), codecs)
  }

  test("colocated read-back: zero-shuffle decode equals the shuffled decode") {
    val pages = WebGen.pages(spark, 4000, seed = 7, partitions = 4)
    val out = s"$tmp/coloc"
    val result = EncodeJob.run(pages.toDF(), EncodeJob.Config(out, 4, Some("lang"), strideRows = 500))

    val colocated = EncodeJob.readBackColocated(spark, out, result.specs)
    // the whole decode plan must be shuffle-free — that is the point
    assert(!colocated.queryExecution.executedPlan.toString.contains("Exchange"),
      "colocated decode plan contains a shuffle")
    assert(colocated.count() == 4000)

    val viaShuffle = EncodeJob.readBackShuffled(spark, out, result.specs)
      .select("url", "text", "lang").orderBy("url").collect().toSeq
    val viaColoc = colocated
      .select("url", "text", "lang").orderBy("url").collect().toSeq
    assert(viaColoc == viaShuffle)

    // the frame is the graft scan behind an RDD, so count() cannot prune
    // columns out of it: it decompresses exactly what a full-row read does
    assert(colocated.queryExecution.toRdd.toDebugString.contains("DataSourceRDD"))
    graft.core.BlockCompression.resetCounters()
    colocated.count()
    val counted = graft.core.BlockCompression.decompressInputBytes
    graft.core.BlockCompression.resetCounters()
    EncodeJob.readBack(spark, out, result.specs).collect()
    val fullRow = graft.core.BlockCompression.decompressInputBytes
    assert(counted > 0 && counted == fullRow,
      s"count() decompressed $counted B, a full-row read $fullRow B")
  }

  test("column-subset read-back decodes only the requested columns, zero-shuffle") {
    val pages = WebGen.pages(spark, 3000, seed = 21, partitions = 4)
    val out = s"$tmp/subset"
    val result = EncodeJob.run(pages.toDF(), EncodeJob.Config(out, 4, Some("lang")))

    val subset = EncodeJob.readBackColocated(spark, out, result.specs, Some(Seq("url", "lang")))
    assert(subset.schema.fieldNames.toSeq == Seq("url", "lang"))
    assert(!subset.queryExecution.executedPlan.toString.contains("Exchange"),
      "subset colocated decode plan contains a shuffle")
    val viaFull = EncodeJob.readBackShuffled(spark, out, result.specs)
      .select("url", "lang").orderBy("url").collect().toSeq
    assert(subset.orderBy("url").collect().toSeq == viaFull)

    // shuffle path too
    val viaShuffleSubset = EncodeJob.readBackShuffled(spark, out, result.specs, Some(Seq("url", "lang")))
    assert(viaShuffleSubset.orderBy("url").collect().toSeq == viaFull)
  }

  test("column-partitioned layout: subset reads scan ~only the requested columns' bytes") {
    // enough rows that stream bytes dwarf per-file parquet footers —
    // the assertion is about data IO, not fixed metadata costs
    val pages = WebGen.pages(spark, 12000, seed = 77, partitions = 4).toDF()
    val out = s"$tmp/bycolumn"
    val result = EncodeJob.run(pages,
      EncodeJob.Config(out, 4, Some("lang"), partitionByColumn = true))

    // layout: chunk files live under batch=<id>/column=<name>/ dirs
    val colDirs = new java.io.File(s"${EncodeJob.chunkDir(out)}/batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(colDirs.exists(_.startsWith("column=")), s"not column-partitioned: $colDirs")

    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def measure(body: => Unit): Long = {
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
        bytesRead.set(0L)
        body
        org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
        bytesRead.get()
      }
      // toRdd.count() runs the planned scan as is: a DataFrame count()
      // would let the scan prune every column but the cheapest one
      val fullBytes = measure {
        assert(EncodeJob.readBack(spark, out, result.specs).queryExecution.toRdd.count() == 12000)
      }
      // warc_ts + lang are tiny next to html/text: partition pruning on
      // the column= dirs must make the subset scan a small fraction
      val subsetBytes = measure {
        val sub = EncodeJob.readBack(spark, out, result.specs, Some(Seq("warc_ts", "lang")))
        assert(sub.queryExecution.toRdd.count() == 12000)
      }
      assert(subsetBytes > 0 && fullBytes > 0)
      assert(subsetBytes < fullBytes / 3,
        s"subset read scanned $subsetBytes of $fullBytes bytes — column dirs not pruned at the scan")
    } finally spark.sparkContext.removeSparkListener(listener)

    // and the partitioned layout still decodes exactly
    val decoded = EncodeJob.readBack(spark, out, result.specs)
    assert(decoded.exceptAll(pages).count() == 0)

    // ---- zero-shuffle FULL read on the column-partitioned layout ----
    // readBack must run the graft scan, carry no ShuffleDependency
    // anywhere in its lineage, and produce exactly the shuffled decode's
    // rows
    assert(graftScans(decoded).nonEmpty, "column-partitioned readBack bypassed the graft scan")
    assert(!hasShuffle(decoded.queryExecution.toRdd),
      "column-partitioned full read has a shuffle in its lineage")
    val viaScan = decoded.select("url", "text", "lang").orderBy("url").collect().toSeq
    val viaShuffled = EncodeJob.readBackShuffled(spark, out, result.specs)
      .select("url", "text", "lang").orderBy("url").collect().toSeq
    assert(viaScan == viaShuffled)

    // multi-column subset keeps the no-shuffle plan too
    val sub = EncodeJob.readBack(spark, out, result.specs, Some(Seq("url", "lang")))
    assert(sub.schema.fieldNames.toSeq == Seq("url", "lang"))
    assert(!hasShuffle(sub.queryExecution.toRdd))
    assert(sub.orderBy("url").collect().toSeq ==
      EncodeJob.readBackShuffled(spark, out, result.specs, Some(Seq("url", "lang")))
        .orderBy("url").collect().toSeq)
    assert(pages.exceptAll(decoded).count() == 0)
  }

  test("single-column readBack is shuffle-free on BOTH layouts") {
    val pages = WebGen.pages(spark, 3000, seed = 101, partitions = 4).toDF()
    for ((byCol, sub) <- Seq((false, "rowlayout-1col"), (true, "collayout-1col"))) {
      val out = s"$tmp/$sub"
      val result = EncodeJob.run(pages,
        EncodeJob.Config(out, 4, Some("lang"), partitionByColumn = byCol))
      assert(graftScans(EncodeJob.readBack(spark, out, result.specs)).nonEmpty,
        s"readBack bypassed the graft scan (partitionByColumn=$byCol)")
      val one = EncodeJob.readBack(spark, out, result.specs, Some(Seq("url")))
      assert(graftScans(one).nonEmpty)
      assert(one.schema.fieldNames.toSeq == Seq("url"))
      assert(!one.queryExecution.executedPlan.toString.contains("Exchange"),
        s"single-column read plan contains a shuffle (partitionByColumn=$byCol)")
      val expected = pages.select("url").orderBy("url").collect().toSeq
      assert(one.orderBy("url").collect().toSeq == expected)
    }
  }

  test("bloom point lookup through format(graft): the scan prunes") {
    val pages = WebGen.pages(spark, 6000, seed = 91, partitions = 4).toDF()
    val out = s"$tmp/bloomjob"
    EncodeJob.run(pages,
      EncodeJob.Config(out, 8, Some("lang"), strideRows = 500,
        bloomColumns = Set("url")))
    val target = pages.orderBy("url").limit(1).collect()(0).getString(pages.columns.indexOf("url"))
    val hit = spark.read.format("graft").load(out).filter(col("url") === target)
    assert(hit.collect().length == 1)
    // urls are unsorted within salted partitions → range stats keep all
    // 8+ chunks; the bloom must reject most of them. The scan node's
    // numOutputRows counts rows emitted BEFORE Spark's residual filter
    val scans = graftScans(hit)
    assert(scans.size == 1)
    val emitted = scans.head.metrics("numOutputRows").value
    assert(emitted < 6000 / 2,
      s"bloom kept $emitted of 6000 rows — no pruning through the scan")
  }

  test("codec pinning is order-independent: lang-sorted input pins the same codecs as shuffled") {
    val pages = WebGen.pages(spark, 6000, seed = 55, partitions = 4).toDF()
    // a head read of the lang-sorted input would see one language only;
    // the uniform sample must pin identical decisions for both orders
    val sorted = pages.orderBy("lang").coalesce(1)
    val shuffled = pages.orderBy(rand(7)).coalesce(1)
    val a = EncodeJob.pinStringCodecs(sorted, 2000)
    val b = EncodeJob.pinStringCodecs(shuffled, 2000)
    assert(a == b, s"order-dependent codec pinning: sorted=$a shuffled=$b")
    assert(a("lang") == graft.columns.Codecs.StringDictV2, a.toString)
  }

  test("readBack auto-detects a compacted (non-colocated) layout and falls back to shuffle decode") {
    val pages = WebGen.pages(spark, 2000, seed = 33, partitions = 4).toDF()
    val out = s"$tmp/fallback"
    val result = EncodeJob.run(pages, EncodeJob.Config(out, 4, Some("lang")))
    assert(EncodeJob.colocatedLayoutOk(spark, out, result.specs),
      "fresh encode output must satisfy the colocated layout")

    // simulate an external compaction: rewrite every chunk file ordered by
    // column name, scattering each chunk group's rows across the file
    val chunkDir = EncodeJob.chunkDir(out)
    val compacted = s"$tmp/fallback-compacted"
    // batch becomes a plain data column (no partitionBy: the partitioned
    // writer re-sorts rows by the partition key, which would restore the
    // very adjacency this test needs to destroy)
    spark.read.parquet(chunkDir)
      .repartition(1).sortWithinPartitions("column", "part_id", "chunk_id")
      .write.parquet(compacted)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(chunkDir))
    assert(new java.io.File(compacted).renameTo(new java.io.File(chunkDir)))

    assert(!EncodeJob.colocatedLayoutOk(spark, out, result.specs),
      "probe must detect the interleaved layout")
    // auto readBack must fall back to the shuffled path and still be exact
    val decoded = EncodeJob.readBack(spark, out, result.specs)
    assert(decoded.count() == 2000)
    assert(decoded.exceptAll(pages).count() == 0)
    assert(pages.exceptAll(decoded).count() == 0)

    // compaction repairs the table: it decodes through the same fallback
    // and rewrites every row in the writer's own layout
    val nb = EncodeJob.compact(spark, out, 2)
    assert(EncodeJob.committedBatches(spark, out) == Set(nb))
    assert(EncodeJob.colocatedLayoutOk(spark, out, result.specs))
    val repaired = spark.read.format("graft").load(out)
    assert(repaired.count() == 2000)
    assert(repaired.exceptAll(pages).count() == 0)
    assert(pages.exceptAll(repaired).count() == 0)
  }

  test("the scan refuses chunk groups split across a rewritten file") {
    val pages = WebGen.pages(spark, 2000, seed = 17, partitions = 1).toDF()
      .select("url", "lang", "warc_ts")
    val out = s"$tmp/interleaved"
    EncodeJob.run(pages, EncodeJob.Config(out, 1, None, strideRows = 500))
    // rows ordered by column: every chunk group's rows are now scattered
    // across the file
    rewriteInPlace(s"${EncodeJob.chunkDir(out)}/batch=0",
      _.sortWithinPartitions("column", "part_id", "chunk_id"))

    // taking each one-column fragment for a whole group and null-filling
    // the other column would match every row twice (4000)
    val err = intercept[Exception] {
      spark.read.format("graft").load(out)
        .filter(col("url").isNull || col("lang").isNull).count()
    }
    assert(causedBy(err, "split/interleaved"), err)
    // readBack's layout probe routes around the scan: exactly the input
    val decoded = EncodeJob.readBack(spark, out)
    assert(decoded.count() == 2000)
    assert(decoded.exceptAll(pages).count() == 0)
    assert(pages.exceptAll(decoded).count() == 0)
  }

  test("DML on a batch whose chunk file was rewritten decodes it through the shuffled fallback") {
    def frame(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi, 1, 1).select(col("id"), concat(lit("txt"), col("id")).as("s"))
    val out = s"$tmp/interleaved-dml"
    frame(0, 1000).write.format("graft").mode("overwrite")
      .option("numPartitions", "1").option("strideRows", "250").save(out)
    frame(1000, 2000).write.format("graft").mode("append")
      .option("numPartitions", "1").option("strideRows", "250").save(out)
    rewriteInPlace(s"${EncodeJob.chunkDir(out)}/batch=0",
      _.sortWithinPartitions("column", "part_id", "chunk_id"))

    // the delete rewrites batch 0 only, a strict subset of the visible
    // batches; the scan would refuse its file, the shuffled decode reads it
    val nb = EncodeJob.deleteWhere(spark, out, col("id") === 500L, targetPartitions = 1)
    assert(EncodeJob.compactions(spark, out).last.replaces == Seq(0))
    assert(EncodeJob.committedBatches(spark, out) == Set(1, nb))
    val expected = frame(0, 2000).filter(col("id") =!= 500L)
    val left = spark.read.format("graft").load(out)
    assert(left.count() == 1999)
    assert(left.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(left).count() == 0)
  }

  test("column files rewritten out of writer order fail loudly in readBack and compaction") {
    val pages = WebGen.pages(spark, 2000, seed = 19, partitions = 1).toDF()
      .select("url", "lang", "warc_ts")
    val out = s"$tmp/misaligned"
    val result = EncodeJob.run(pages,
      EncodeJob.Config(out, 1, None, strideRows = 500, partitionByColumn = true))
    // the url file's chunks in reverse order
    rewriteInPlace(s"${EncodeJob.chunkDir(out)}/batch=0/column=url",
      _.sortWithinPartitions(col("chunk_id").desc))

    // no probe on this layout: the scan's zip refuses the files, and
    // compaction, which reads through it, commits nothing
    def misaligned(body: => Any): Unit = {
      val err = intercept[Exception](body)
      assert(causedBy(err, "column files misaligned"), err)
    }
    misaligned(EncodeJob.readBack(spark, out, result.specs).collect())
    misaligned(EncodeJob.compact(spark, out, 1))
    assert(EncodeJob.committedBatches(spark, out) == Set(0))
    val shuffled = EncodeJob.readBackShuffled(spark, out, result.specs)
    assert(shuffled.count() == 2000)
    assert(shuffled.exceptAll(pages).count() == 0)
    assert(pages.exceptAll(shuffled).count() == 0)
  }

  test("compression: encoded size beats raw and dictionary kicks in on lang") {
    val pages = WebGen.pages(spark, 4000, seed = 7, partitions = 2).toDF()
    val out = s"$tmp/compression"
    val result = EncodeJob.run(pages, EncodeJob.Config(out, 4, Some("lang")))
    val chunks = spark.read.parquet(result.chunkDir)
    val byColumn = chunks.groupBy("column", "codec")
      .agg(sum("raw_bytes").as("raw"), sum("encoded_bytes").as("enc"))
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val (langCodec, langRaw, langEnc) = byColumn("lang")
    assert(langCodec == "STRING_DICT")
    assert(langEnc < langRaw / 4, s"lang: $langEnc vs raw $langRaw")
    val (_, textRaw, textEnc) = byColumn("text")
    assert(textEnc < textRaw, s"text must compress: $textEnc vs $textRaw")
  }

  test("resume: committed batches are skipped, rows neither lost nor duplicated") {
    val pages = WebGen.pages(spark, 3000, seed = 9, partitions = 4).toDF()
    val out = s"$tmp/resume"
    val cfg = EncodeJob.Config(out, numPartitions = 4, keyColumn = Some("lang"), commitBatches = 3)

    // simulate a killed run: encode only batch 0 by running with a config
    // that stops after the first batch — emulate by running full job, then
    // deleting manifests of batches 1..2 and their chunks? Simpler: run
    // full, record; then re-run and assert everything is skipped.
    val r1 = EncodeJob.run(pages, cfg)
    assert(r1.batchesEncoded == 3 && r1.batchesSkipped == 0)

    val countAfterFirst = EncodeJob.readBack(spark, out, r1.specs).count()
    assert(countAfterFirst == 3000)

    // second run: all batches committed → nothing re-encoded, no duplicates
    val r2 = EncodeJob.run(pages, cfg)
    assert(r2.batchesEncoded == 0 && r2.batchesSkipped == 3)
    assert(EncodeJob.readBack(spark, out, r2.specs).count() == 3000)
  }

  test("partial resume: crash between chunk write and manifest commit leaves no duplicates") {
    val pages = WebGen.pages(spark, 2000, seed = 11, partitions = 4).toDF()
    val out = s"$tmp/partial"
    val cfg = EncodeJob.Config(out, numPartitions = 4, keyColumn = Some("lang"), commitBatches = 2)
    EncodeJob.run(pages, cfg)

    // simulate a run killed AFTER batch 1's chunk files landed but BEFORE
    // its manifest rows committed: rewrite the manifest with only batch 0,
    // leaving batch=1's chunk dir as an orphan on disk
    val stableSpark = spark
    import stableSpark.implicits._
    val manifest = EncodeJob.manifestEntries(spark, out)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(EncodeJob.manifestDir(out)))
    EncodeJob.writeManifestEntries(spark, out,
      manifest.filter(_.batch_id == 0).toIndexedSeq)

    // a reader between the crash and the resume must not see orphan rows
    val visibleBefore = EncodeJob.readBack(spark, out, EncodeJob.specsFromManifest(
      spark, out, pages.schema)).count()
    assert(visibleBefore < 2000, s"orphan batch visible to readers: $visibleBefore rows")

    val r = EncodeJob.run(pages, cfg)
    assert(r.batchesEncoded == 1 && r.batchesSkipped == 1, s"$r")
    assert(EncodeJob.readBack(spark, out, r.specs).count() == 2000)

    // the replayed batch must have REPLACED the orphan files: every
    // (part_id, chunk_id, column) appears exactly once
    val dupes = spark.read.parquet(EncodeJob.chunkDir(out))
      .groupBy("part_id", "chunk_id", "column").count()
      .filter(col("count") > 1).count()
    assert(dupes == 0, s"$dupes duplicate chunk rows after resume")

    // manifest byte/row totals must reflect the replaced chunks, not the
    // orphans doubled
    val totalRows = EncodeJob.manifestEntries(spark, out).map(_.row_count).sum
    assert(totalRows == 2000, s"manifest rows $totalRows != 2000")
  }

  test("lineitem (TPC-H shape): full round trip through encode/decode") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val out = s"$tmp/lineitem"
    val result = EncodeJob.run(li, EncodeJob.Config(out, 4, None))
    val decoded = EncodeJob.readBack(spark, out, result.specs)
    assert(decoded.schema == li.schema ||
      decoded.schema.map(f => (f.name, f.dataType)) == li.schema.map(f => (f.name, f.dataType)))
    // exact multiset equality via exceptAll in both directions
    assert(decoded.exceptAll(li).count() == 0)
    assert(li.exceptAll(decoded).count() == 0)
  }

  test("decimal(38,x): >64-bit mantissas round trip through the DECIMAL128 big-varint path") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        // exact string-built literals: mantissa ~1e23 > Long.Max, negatives
        // on odd keys, nulls on linenumber 7
        when(col("l_linenumber") === 7, lit(null))
          .otherwise(concat(
            when(col("l_orderkey") % 2 === 1, lit("-")).otherwise(lit("")),
            col("l_orderkey").cast("string"), lit("00000000000000000001.5")))
          .cast("decimal(38,4)").as("big"),
        col("l_quantity").cast("decimal(38,10)").as("wide"))
    val codecs = EncodeJob.pinStringCodecs(li, 1000)
    val specs = TableEncoder.columnSpecs(li.schema, codecs)
    assert(specs.find(_.name == "big").get.logical == "decimal128")
    val chunks = TableEncoder.encode(TableEncoder.shred(li, specs), specs)
    assert(chunks.filter(col("column") === "big").head().codec == "DECIMAL128")
    val decoded = TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs)
    assert(decoded.schema.map(f => (f.name, f.dataType)) == li.schema.map(f => (f.name, f.dataType)))
    assert(decoded.exceptAll(li).count() == 0)
    assert(li.exceptAll(decoded).count() == 0)
  }

  test("documents table: round trip preserves text exactly") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = s"$tmp/documents"
    val result = EncodeJob.run(docs, EncodeJob.Config(out, 4, Some("lang")))
    val decoded = EncodeJob.readBack(spark, out, result.specs)
    assert(decoded.exceptAll(docs).count() == 0)
    assert(docs.exceptAll(decoded).count() == 0)
  }

  test("zstd and lz4 compression kinds: exact round trip, kind recorded per chunk") {
    val pages = WebGen.pages(spark, 2000, seed = 5, partitions = 2).toDF()
    for (kind <- Seq(graft.core.BlockCompression.Zstd, graft.core.BlockCompression.Lz4)) {
      val out = s"$tmp/comp-$kind"
      val result = EncodeJob.run(pages, EncodeJob.Config(out, 2, Some("lang"), compression = kind))
      val chunks = spark.read.parquet(result.chunkDir)
      assert(chunks.select("compression").distinct().collect().map(_.getString(0)).toSeq == Seq(kind))
      val decoded = EncodeJob.readBack(spark, out, result.specs)
      assert(decoded.exceptAll(pages).count() == 0, s"$kind decode diverged")
      assert(pages.exceptAll(decoded).count() == 0, s"$kind decode lost rows")
      // still genuinely compressed end-to-end
      val (raw, enc) = chunks.agg(sum("raw_bytes"), sum("encoded_bytes")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).head
      assert(enc < raw / 2, s"$kind: $enc of $raw")
    }
  }

  test("aligned encoding strategy: round trip identical, sizes within a few % of unaligned") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val outA = s"$tmp/aligned"
    val rA = EncodeJob.run(li, EncodeJob.Config(outA, 4, None, alignedEncoding = true))
    val decoded = EncodeJob.readBack(spark, outA, rA.specs)
    assert(decoded.exceptAll(li).count() == 0)
    assert(li.exceptAll(decoded).count() == 0)
    // aligned restricts RLEv2 bit-widths to the CPU-friendly table — it may
    // pad, never corrupt; size must stay within 10% of the default strategy
    val bytesA = spark.read.parquet(rA.chunkDir).agg(sum("encoded_bytes")).first().getLong(0)
    val outU = s"$tmp/unaligned"
    val rU = EncodeJob.run(li, EncodeJob.Config(outU, 4, None))
    val bytesU = spark.read.parquet(rU.chunkDir).agg(sum("encoded_bytes")).first().getLong(0)
    assert(bytesA <= bytesU * 1.10, s"aligned $bytesA vs unaligned $bytesU")
  }

  test("column-subset decode rebinds names case-insensitively like the reference reader") {
    val pages = WebGen.pages(spark, 1000, seed = 33, partitions = 2).toDF()
    val out = s"$tmp/ci-subset"
    val result = EncodeJob.run(pages, EncodeJob.Config(out, 2, Some("lang")))
    val subset = EncodeJob.readBack(spark, out, result.specs, Some(Seq("URL", "Lang")))
    // canonical (spec) casing wins in the output schema
    assert(subset.schema.fieldNames.toSeq == Seq("url", "lang"))
    assert(subset.count() == 1000)
  }

  test("skew salting: no partition holds more than ~3x the mean") {
    val pages = WebGen.pages(spark, 20000, seed = 13, partitions = 8).toDF()
    val parted = EncodeJob.partitionWithSalt(pages, EncodeJob.Config(s"$tmp/skew", 16, Some("lang")))
    val sizes = parted.groupBy(spark_partition_id().as("pid")).count()
      .select("count").collect().map(_.getLong(0))
    val mean = sizes.sum.toDouble / 16 // target partition count
    // 'en' alone is ~25-30% of a 40-lang Zipf; unsalted it would exceed 4x
    assert(sizes.max < mean * 3, s"max ${sizes.max} vs mean $mean: skew not absorbed")
  }
}
