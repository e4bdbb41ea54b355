package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.spark.{Page, WebGen}

/** One benchmark workload. `step` runs operation `i` of the workload's
  * fixed seeded sequence, times its statement with `ctx.timed` and checks
  * its result; the client loop calls it again only after it returned.
  */
trait Workload {
  def name: String
  def warmupOps: Int
  def setup(ctx: Ctx): Unit
  def step(ctx: Ctx, i: Int): OpOutcome
  /** Correctness check over the whole run, after the measured window. */
  def finish(ctx: Ctx): Boolean = true
  /** Directory whose files an operation may write. */
  def tableDir(ctx: Ctx): String
  /** The graft table the operations use (the last one written, for ingest). */
  def tablePath(ctx: Ctx): String = tableDir(ctx)
  def storedBytesPerRawByte(ctx: Ctx): Double
  /** The workload's own input, for the traced layer replays. */
  def input: DataFrame
}

/** Count and order-independent row hash of a table or input: the wrapping
  * sum and the xor of xxhash64 over all columns, plus the summed byte
  * lengths of `text` and `html`.
  */
final case class Agg(rows: Long, textBytes: Long, htmlBytes: Long, hashSum: Long, hashXor: Long) {
  def +(o: Agg): Agg = Agg(rows + o.rows, textBytes + o.textBytes, htmlBytes + o.htmlBytes,
    hashSum + o.hashSum, hashXor ^ o.hashXor)
}

object Agg {
  val Zero: Agg = Agg(0, 0, 0, 0, 0)
  def combine(parts: Array[Agg]): Agg = parts.foldLeft(Zero)(_ + _)
}

object Data {
  final val Columns = Seq("url", "warc_ts", "html", "text", "lang")
  /** Codec sample size, fixed so that codec choices do not follow defaults. */
  final val SampleRows = 20000
  /** Partitions of the materialised inputs. */
  final val InputPartitions = 8

  def pages(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, InputPartitions)
      .map(id => WebGen.page(seed, id))(Encoders.product[Page]).toDF()

  def materialise(df: DataFrame): DataFrame = {
    val m = df.persist(StorageLevel.MEMORY_ONLY)
    m.count()
    m
  }

  def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  /** Raw bytes per column: UTF-8 bytes of strings, bytes of binaries,
    * 8 bytes per timestamp (the engine's raw_bytes accounting).
    */
  def rawBytes(df: DataFrame): Map[String, Long] = {
    val r = df.agg(
      sum(octet_length(col("url"))), count(col("warc_ts")) * 8, sum(length(col("html"))),
      sum(octet_length(col("text"))), sum(octet_length(col("lang")))).first()
    Columns.zipWithIndex.map { case (c, i) => c -> (if (r.isNullAt(i)) 0L else r.getLong(i)) }.toMap
  }

  def rawBytes(p: Page): Long =
    p.url.getBytes("UTF-8").length + 8L + p.html.length + p.text.getBytes("UTF-8").length +
      p.lang.getBytes("UTF-8").length

  private def aggOf(df: DataFrame): Dataset[Agg] =
    df.mapPartitions { it =>
      var a = Agg.Zero
      it.foreach { r => a = a + Agg(1, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(2)) }
      Iterator(a)
    }(Encoders.product[Agg])

  /** Full-row aggregate: decodes every column. Partial results per
    * partition are combined on the driver, so the read has no exchange.
    */
  def fullAgg(df: DataFrame): Dataset[Agg] =
    aggOf(df.select(octet_length(col("text")).cast("long"), length(col("html")).cast("long"),
      xxhash64(Columns.map(col): _*)))

  /** Aggregate over the narrow projection (`lang`, `warc_ts`). */
  def narrowAgg(df: DataFrame): Dataset[Agg] =
    aggOf(df.select(lit(0L), lit(0L), xxhash64(col("lang"), col("warc_ts"))))

  def sameRow(r: Row, p: Page): Boolean =
    r.getAs[String]("url") == p.url && r.getAs[java.sql.Timestamp]("warc_ts") == p.warc_ts &&
      java.util.Arrays.equals(r.getAs[Array[Byte]]("html"), p.html) &&
      r.getAs[String]("text") == p.text && r.getAs[String]("lang") == p.lang

  /** Rows equal to the expected pages, in any order. */
  def sameRows(rows: Array[Row], expected: Seq[Page]): Boolean =
    rows.length == expected.size && {
      val byUrl = expected.map(p => p.url -> p).toMap
      byUrl.size == expected.size && rows.forall(r => byUrl.get(r.getAs[String]("url")).exists(sameRow(r, _)))
    }

  def sqlString(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
}

object Workloads {
  /** Fixed so that exchanges do not follow the core count. */
  final val ShufflePartitions = 8

  def apply(name: String): Workload = name match {
    case "ingest" => new Ingest
    case "scan"   => new Scan
    case "lookup" => new Lookup
    case "dml"    => new Dml
    case other    => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Appends of WebGen pages, each into a fresh table with default options
  * (zlib, segmented, codecs pinned from a sample); the encode layers
  * dominate. Each append is read back and checked by count and row hash.
  */
final class Ingest extends Workload {
  val name = "ingest"
  val warmupOps = 1
  final val Rows = 4000L
  final val Partitions = 8

  var input: DataFrame = _
  private var raw = 0L
  private var expected = Agg.Zero
  private val stored = ArrayBuffer[Double]()

  def tableDir(ctx: Ctx): String = s"${ctx.repDir}/ingest"
  override def tablePath(ctx: Ctx): String = s"${tableDir(ctx)}/t$last"
  private var last = 0

  def setup(ctx: Ctx): Unit = {
    input = ctx.tracer.span("setup.input")(Data.materialise(Data.pages(ctx.spark, ctx.args.seed, 0, Rows)))
    raw = Data.rawBytes(input).values.sum
    expected = Agg.combine(Data.fullAgg(input).collect())
    stored.clear()
  }

  def step(ctx: Ctx, i: Int): OpOutcome = {
    FsUtil.deleteRecursively(new java.io.File(tableDir(ctx)))
    last = i
    val dir = tablePath(ctx)
    val (_, t) = ctx.timed("append") {
      input.write.format("graft").mode("append")
        .option("numPartitions", Partitions.toString)
        .option("sampleRows", Data.SampleRows.toString)
        .save(dir)
    }
    val got = ctx.tracer.span("verify") {
      Agg.combine(ctx.read(Data.fullAgg(ctx.spark.read.format("graft").load(dir)), dir)(
        a => Agg.combine(a).rows))
    }
    stored += FsUtil.dirBytes(dir).toDouble / raw
    OpOutcome("append", t, got == expected, raw, raw, 0)
  }

  def storedBytesPerRawByte(ctx: Ctx): Double = Stats.median(stored.toSeq)
}

/** Repeated reads of a table written during set-up: a full-row aggregate
  * that decodes every column, then an aggregate over a narrow projection
  * (`lang`, `warc_ts`) that shows column pruning. One operation is the
  * pair. Decode work dominates and nothing is written.
  */
final class Scan extends Workload {
  val name = "scan"
  val warmupOps = 3
  final val Rows = 5000L
  final val Partitions = 8

  var input: DataFrame = _
  private var tableRaw = 0L
  private var narrowRaw = 0L
  private var stored = 0.0
  private var expectFull = Agg.Zero
  private var expectNarrow = Agg.Zero

  def tableDir(ctx: Ctx): String = s"${ctx.repDir}/scan"

  def setup(ctx: Ctx): Unit = {
    input = ctx.tracer.span("setup.input")(Data.materialise(Data.pages(ctx.spark, ctx.args.seed, 0, Rows)))
    val raws = Data.rawBytes(input)
    tableRaw = raws.values.sum
    narrowRaw = raws("lang") + raws("warc_ts")
    ctx.tracer.span("setup.table") {
      input.write.format("graft")
        .option("numPartitions", Partitions.toString)
        .option("sampleRows", Data.SampleRows.toString)
        .save(tableDir(ctx))
    }
    stored = FsUtil.dirBytes(tableDir(ctx)).toDouble / tableRaw
    expectFull = Agg.combine(Data.fullAgg(input).collect())
    expectNarrow = Agg.combine(Data.narrowAgg(input).collect())
  }

  def step(ctx: Ctx, i: Int): OpOutcome = {
    val dir = tableDir(ctx)
    val (ok, t) = ctx.timed("scan") {
      val full = Agg.combine(ctx.read(Data.fullAgg(ctx.spark.read.format("graft").load(dir)), dir)(
        a => Agg.combine(a).rows))
      val narrow = Agg.combine(ctx.read(
        Data.narrowAgg(ctx.spark.read.format("graft").load(dir).select("lang", "warc_ts")), dir)(
        a => Agg.combine(a).rows))
      full == expectFull && narrow == expectNarrow
    }
    OpOutcome("scan", t, ok, tableRaw + narrowRaw, 0, tableRaw + narrowRaw)
  }

  def storedBytesPerRawByte(ctx: Ctx): Double = stored
}

/** `url = ?` point lookups (one in ten misses) and one-minute `warc_ts`
  * range reads on a table written with a Bloom filter on `url` and sorted
  * by `warc_ts`. The kinds follow a fixed cycle, so every run has the same
  * mix whatever its seed; the seed picks the keys and windows. Per-query
  * fixed cost dominates: planning, the metadata snapshot, scheduling and
  * pruning.
  */
final class Lookup extends Workload {
  val name = "lookup"
  val warmupOps = 8
  final val Rows = 2000L
  final val Partitions = 16
  final val Cycle = Seq("url_hit", "url_hit", "range", "url_hit", "url_hit",
    "url_miss", "url_hit", "url_hit", "range", "url_hit")
  final val RangeMicros = 60L * 1000000L

  var input: DataFrame = _
  private var tableRaw = 0L
  private var stored = 0.0
  private var byTs: Array[(Long, Long)] = Array.empty // (warc_ts micros, id), sorted
  private var rng: java.util.Random = _

  def tableDir(ctx: Ctx): String = s"${ctx.repDir}/lookup"

  def setup(ctx: Ctx): Unit = {
    val seed = ctx.args.seed
    val keyed = ctx.tracer.span("setup.input")(Data.materialise(
      ctx.spark.range(0, Rows, 1, Data.InputPartitions)
        .map(id => (id.longValue, WebGen.page(seed, id)))(Encoders.tuple(Encoders.scalaLong, Encoders.product[Page]))
        .toDF("id", "page")))
    input = keyed.select("page.*")
    tableRaw = Data.rawBytes(input).values.sum
    ctx.tracer.span("setup.table") {
      input.write.format("graft")
        .option("numPartitions", Partitions.toString)
        .option("sampleRows", Data.SampleRows.toString)
        .option("bloomColumns", "url")
        .option("sortColumns", "warc_ts")
        .save(tableDir(ctx))
    }
    stored = FsUtil.dirBytes(tableDir(ctx)).toDouble / tableRaw
    byTs = keyed.select(col("page.warc_ts"), col("id")).collect()
      .map(r => (Data.micros(r.getTimestamp(0)), r.getLong(1))).sorted
    rng = new java.util.Random(seed)
  }

  def step(ctx: Ctx, i: Int): OpOutcome = {
    val seed = ctx.args.seed
    val dir = tableDir(ctx)
    val kind = Cycle(i % Cycle.size)
    val (cond, expected) =
      if (kind != "range") {
        val miss = kind == "url_miss"
        val id = if (miss) Rows + rng.nextInt(Rows.toInt) else rng.nextInt(Rows.toInt).toLong
        val p = WebGen.page(seed, id)
        (col("url") === p.url, if (miss) Nil else Seq(p))
      } else {
        val t0 = byTs(rng.nextInt(byTs.length))._1 / RangeMicros * RangeMicros
        val from = new java.sql.Timestamp(t0 / 1000L)
        val until = new java.sql.Timestamp((t0 + RangeMicros) / 1000L)
        val ids = byTs.filter { case (t, _) => t >= t0 && t < t0 + RangeMicros }.map(_._2)
        (col("warc_ts") >= lit(from) && col("warc_ts") < lit(until), ids.toSeq.map(WebGen.page(seed, _)))
      }
    val (rows, t) = ctx.timed(kind)(
      ctx.read(ctx.spark.read.format("graft").load(dir).where(cond), dir)(_.length.toLong))
    OpOutcome(kind, t, Data.sameRows(rows, expected), tableRaw, 0, tableRaw)
  }

  def storedBytesPerRawByte(ctx: Ctx): Double = stored
}

/** A fixed seeded sequence of SQL statements on a catalog table: small
  * INSERTs, `DELETE … WHERE url IN (…)`, `UPDATE … WHERE url = ?`,
  * `MERGE INTO` from a small source, and an `EncodeJob.compact` every
  * sixth operation. Each statement is followed by a verifying point read;
  * after the run the table's count and row hash must equal a plain-Spark
  * model of the same statements applied to the input.
  */
final class Dml extends Workload {
  val name = "dml"
  val warmupOps = 1
  final val InitialBatches = 3
  final val BatchRows = 1000L
  final val Partitions = 4
  final val AppendRows = 200
  final val DeleteKeys = 5
  final val MergeUpdates = 3
  final val MergeInserts = 3
  final val Cycle = Seq("append", "delete", "update", "merge", "update", "compact")
  final val Table = "graft.bench.t"

  private sealed trait ModelOp
  private final case class Append(ps: Seq[Page]) extends ModelOp
  private final case class Delete(urls: Seq[String]) extends ModelOp
  private final case class Update(url: String) extends ModelOp
  private final case class Merge(ps: Seq[Page]) extends ModelOp

  var input: DataFrame = _
  private var stored = 0.0
  private var tableRaw = 0L
  private val live = ArrayBuffer[Long]()
  private val changed = scala.collection.mutable.Map[Long, Page]()
  private val model = ArrayBuffer[ModelOp]()
  private val freshPool = scala.collection.mutable.Queue[(Long, Page)]()
  private var nextFresh = 0L
  private var rng: java.util.Random = _
  private var seed = 0L

  def tableDir(ctx: Ctx): String = s"${ctx.warehouse}/bench/t"

  private def page(id: Long): Page = changed.getOrElse(id, WebGen.page(seed, id))

  private def refill(n: Int): Unit = (0 until n).foreach { _ =>
    freshPool.enqueue(nextFresh -> WebGen.page(seed, nextFresh)); nextFresh += 1
  }

  private def fresh(n: Int): Seq[(Long, Page)] = {
    if (freshPool.size < n) refill(n - freshPool.size)
    (0 until n).map(_ => freshPool.dequeue())
  }

  /** Removes and returns a seeded choice among the live rows. */
  private def takeLive(): Long = {
    val k = rng.nextInt(live.size)
    val id = live(k)
    live(k) = live.last
    live.remove(live.size - 1)
    id
  }

  private def pickLive(): Long = live(rng.nextInt(live.size))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    seed = ctx.args.seed
    live.clear(); changed.clear(); model.clear(); freshPool.clear()
    rng = new java.util.Random(seed)
    val batches = ctx.tracer.span("setup.input")((0 until InitialBatches).map(b =>
      Data.materialise(Data.pages(spark, seed, b * BatchRows, (b + 1) * BatchRows))))
    input = batches.reduce(_ union _)
    tableRaw = Data.rawBytes(input).values.sum
    live ++= (0L until InitialBatches * BatchRows)
    nextFresh = InitialBatches * BatchRows
    refill(12 * AppendRows)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    spark.sql(s"""CREATE TABLE $Table (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)
                 |USING graft TBLPROPERTIES ('numPartitions' = '$Partitions',
                 |'sampleRows' = '${Data.SampleRows}')""".stripMargin)
    ctx.tracer.span("setup.table")(batches.zipWithIndex.foreach { case (df, b) =>
      df.createOrReplaceTempView(s"initial_$b")
      spark.sql(s"INSERT INTO $Table SELECT * FROM initial_$b")
    })
    stored = FsUtil.dirBytes(tableDir(ctx)).toDouble / tableRaw
  }

  private def pointRead(ctx: Ctx, url: String): Array[Row] =
    ctx.read(ctx.spark.table(Table).where(col("url") === url), tableDir(ctx))(_.length.toLong)

  def step(ctx: Ctx, i: Int): OpOutcome = {
    val spark = ctx.spark
    val kind = Cycle(i % Cycle.size)
    val rawBefore = tableRaw
    // (statement latency, raw bytes of rows added or modified, check)
    val (t, changedRaw, check): (Timing, Long, () => Boolean) = kind match {
      case "append" =>
        val taken = fresh(AppendRows)
        val ps = taken.map(_._2)
        spark.createDataFrame(ps).createOrReplaceTempView("append_src")
        val (_, t) = ctx.timed(kind)(spark.sql(s"INSERT INTO $Table SELECT * FROM append_src"))
        live ++= taken.map(_._1)
        model += Append(ps)
        val added = ps.map(Data.rawBytes).sum
        tableRaw += added
        val probe = ps(rng.nextInt(ps.size))
        (t, added, () => Data.sameRows(pointRead(ctx, probe.url), Seq(probe)))
      case "delete" =>
        val ids = (0 until DeleteKeys).map(_ => takeLive())
        val ps = ids.map(page)
        val urls = ps.map(_.url)
        val (_, t) = ctx.timed(kind)(spark.sql(
          s"DELETE FROM $Table WHERE url IN (${urls.map(Data.sqlString).mkString(", ")})"))
        ids.foreach(changed.remove)
        model += Delete(urls)
        tableRaw -= ps.map(Data.rawBytes).sum
        (t, 0L, () => pointRead(ctx, urls.head).isEmpty)
      case "update" =>
        val id = pickLive()
        val before = page(id)
        val after = before.copy(text = before.text + " rev", lang = "zz")
        val (_, t) = ctx.timed(kind)(spark.sql(
          s"UPDATE $Table SET text = concat(text, ' rev'), lang = 'zz' WHERE url = ${Data.sqlString(before.url)}"))
        changed(id) = after
        model += Update(before.url)
        tableRaw += Data.rawBytes(after) - Data.rawBytes(before)
        (t, Data.rawBytes(after), () => Data.sameRows(pointRead(ctx, after.url), Seq(after)))
      case "merge" =>
        val updated = (0 until MergeUpdates).map(_ => pickLive()).distinct.map { id =>
          val p = page(id)
          id -> p.copy(text = "merged " + p.text)
        }
        val inserted = fresh(MergeInserts)
        val src = updated.map(_._2) ++ inserted.map(_._2)
        spark.createDataFrame(src).createOrReplaceTempView("merge_src")
        val (_, t) = ctx.timed(kind)(spark.sql(
          s"""MERGE INTO $Table t USING merge_src s ON t.url = s.url
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
        updated.foreach { case (id, p) =>
          tableRaw += Data.rawBytes(p) - Data.rawBytes(page(id))
          changed(id) = p
        }
        inserted.foreach { case (id, p) => live += id; tableRaw += Data.rawBytes(p) }
        model += Merge(src)
        val probes = Seq(updated.head._2, inserted.head._2)
        (t, src.map(Data.rawBytes).sum,
          () => probes.forall(p => Data.sameRows(pointRead(ctx, p.url), Seq(p))))
      case "compact" =>
        val (_, t) = ctx.timed(kind)(graft.spark.EncodeJob.compact(spark, tableDir(ctx), Partitions))
        val probe = page(pickLive())
        (t, 0L, () => Data.sameRows(pointRead(ctx, probe.url), Seq(probe)))
    }
    val ok = ctx.tracer.span("verify")(check())
    OpOutcome(kind, t, ok, if (kind == "append") changedRaw else rawBefore, changedRaw, 0)
  }

  /** Replays the recorded statements on the input with plain Spark and
    * compares count and row hash with the table's.
    */
  override def finish(ctx: Ctx): Boolean = {
    val spark = ctx.spark
    val modelDf = model.foldLeft(input) {
      case (m, Append(ps)) => m.unionByName(spark.createDataFrame(ps))
      case (m, Delete(urls)) => m.where(!col("url").isin(urls: _*))
      case (m, Update(url)) =>
        val hit = col("url") === url
        m.withColumn("text", when(hit, concat(col("text"), lit(" rev"))).otherwise(col("text")))
          .withColumn("lang", when(hit, lit("zz")).otherwise(col("lang")))
      case (m, Merge(ps)) =>
        val src = spark.createDataFrame(ps)
        m.join(src.select("url"), Seq("url"), "left_anti").unionByName(src)
    }
    val expected = Agg.combine(Data.fullAgg(modelDf).collect())
    val got = Agg.combine(ctx.read(Data.fullAgg(spark.table(Table)), tableDir(ctx))(
      a => Agg.combine(a).rows))
    if (got != expected) System.err.println(s"perfbench: dml table $got != model $expected")
    got == expected
  }

  def storedBytesPerRawByte(ctx: Ctx): Double = stored
}
