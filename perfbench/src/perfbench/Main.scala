package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String, revision: String)

/** What one operation reports besides its latency. `rawBytes` is the raw
  * size of the data the operation ranges over (rows appended, or the
  * table's rows in the columns a statement reads); `changedRawBytes` the
  * raw size of rows it adds or modifies; `readRaw` the raw bytes of the
  * table columns its reads range over, for the busy-time estimate of the
  * codec layers.
  */
final case class OpOutcome(kind: String, time: Timing, ok: Boolean, rawBytes: Long,
                           changedRawBytes: Long, readRaw: Long)

/** Wall time of an operation's statement and the CPU time the client
  * thread spent in it. `region` numbers the timed region, whose tasks'
  * CPU time the scheduler recorder sums (0: none).
  */
final case class Timing(wallNs: Long, threadCpuNs: Long, region: Int)

object Timing {
  private val threads = ManagementFactory.getThreadMXBean
  private val jit = ManagementFactory.getCompilationMXBean
  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime

  /** Waits until the JIT compiler has been idle for `quietMs`, at most
    * `timeoutMs`; returns the seconds waited. Compilations queued by the
    * warm-up then finish before the measured window, however busy the host.
    */
  def awaitJitQuiet(quietMs: Long, timeoutMs: Long): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + timeoutMs * 1000000L
    var last = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < quietMs * 1000000L && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** One read through the graft source, recorded in traced runs. */
final case class ScanStat(op: Int, planUs: Long, partitions: Long, rowsScanned: Long,
                          rowsMatched: Long, executeSpan: Int, table: String,
                          var filesTotal: Long = -1)

/** State shared by a run: the session, the tracer and the read helper. */
final class Ctx(val args: Args, val tracer: Tracer) {
  var spark: SparkSession = _
  var rep = 0
  /** Registered on the current session when it starts. */
  var recorder: SchedulerRecorder = _
  private var regions = 0
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val scans = ArrayBuffer[ScanStat]()

  def repDir: String = s"${args.work}/rep$rep"
  def warehouse: String = s"$repDir/wh"

  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Workloads.ShufflePartitions.toString)
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/spark-warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.spark.source.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    recorder = new SchedulerRecorder
    spark.sparkContext.addSparkListener(recorder)
    spark
  }

  /** Runs `body` as a new timed region: the jobs it launches carry the
    * region's number, so that the recorder can sum their tasks' CPU time.
    */
  def region[T](body: => T): (T, Int) = {
    regions += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(SchedulerRecorder.TimedProperty, regions.toString)
    try (body, regions)
    finally sc.setLocalProperty(SchedulerRecorder.TimedProperty, null)
  }

  /** Times one operation's statement, in a span named `op.<kind>`, as a
    * timed region (see `opCpuNs`).
    */
  def timed[T](kind: String)(body: => T): (T, Timing) = {
    val c0 = Timing.threadCpuNs()
    val t0 = System.nanoTime()
    val (r, id) = region(tracer.span(s"op.$kind")(body))
    val wall = System.nanoTime() - t0
    (r, Timing(wall, Timing.threadCpuNs() - c0, id))
  }

  /** An operation's own CPU time: the client thread's plus its tasks'.
    * Call after the recorder has seen the operation's jobs end.
    */
  def opCpuNs(t: Timing): Long =
    t.threadCpuNs + (if (t.region > 0) recorder.taskCpuNs(t.region) else 0L)

  /** Runs a read through the graft source: the physical plan is forced
    * (and timed as `source.plan`) before execution, which reuses it.
    * `matched` counts the rows the query's answer covers.
    */
  def read[T](ds: Dataset[T], table: String)(matched: Array[T] => Long): Array[T] = {
    val planStart = tracer.nowUs
    tracer.span("source.plan")(ds.queryExecution.executedPlan)
    val planUs = tracer.nowUs - planStart
    val rows = tracer.span("source.execute")(ds.collect())
    if (tracer.enabled) {
      // the execute span is the one closed last
      val execId = tracer.spans.last.id
      val batchScans = PlanScans.of(ds.queryExecution.executedPlan)
      scans += ScanStat(tracer.currentOp, planUs,
        batchScans.map(_.inputRDD.getNumPartitions.toLong).sum,
        batchScans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum,
        matched(rows), execId, table)
    }
    rows
  }
}

object PlanScans extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Seq[BatchScanExec] = collect(plan) { case b: BatchScanExec => b }
}

object Main {

  final val SetupRepeats = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", need("work"), need("out"), m.getOrElse("revision", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads(args.workload)
    val tracer = new Tracer(args.trace)
    val ctx = new Ctx(args, tracer)
    val code =
      try { run(ctx, workload); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          System.err.println(s"perfbench: ${args.workload} failed: $e")
          1
      } finally {
        if (ctx.spark != null) ctx.spark.stop()
      }
    System.out.flush()
    System.exit(code)
  }

  private def run(ctx: Ctx, w: Workload): Unit = {
    val args = ctx.args
    val tracer = ctx.tracer

    // set-up: session start, input materialisation, the pre-built table;
    // each set-up's wall time and its own CPU time: the client thread's
    // plus that of the tasks of the jobs it launched
    val setups = (0 until SetupRepeats).map { rep =>
      FsUtil.deleteRecursively(new File(s"${args.work}/rep${rep - 1}"))
      ctx.rep = rep
      val c0 = Timing.threadCpuNs()
      val t0 = System.nanoTime()
      val region = tracer.span("setup", op = 0) {
        tracer.span("setup.session")(ctx.newSession())
        ctx.region(w.setup(ctx))._2
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val threadNs = Timing.threadCpuNs() - c0
      ctx.recorder.awaitQuiet(10000)
      (wallS, (threadNs + ctx.recorder.taskCpuNs(region)) / 1e9)
    }
    val recorder = ctx.recorder

    // operations are numbered from 1; warm-up operations carry op id -2
    var opId = 0
    var lastStep = Timing(0, 0, 0)
    def step(measured: Boolean): Either[Throwable, OpOutcome] = {
      opId += 1
      val c0 = Timing.threadCpuNs()
      val t0 = System.nanoTime()
      try tracer.span(s"step.${w.name}", op = if (measured) opId else -2)(Right(w.step(ctx, opId - 1)))
      catch {
        case e: Exception =>
          System.err.println(s"perfbench: operation $opId failed: $e")
          Left(e)
      } finally lastStep = Timing(System.nanoTime() - t0, Timing.threadCpuNs() - c0, 0)
    }

    // warm-up operations are checked like measured ones, not timed
    var failed = 0
    (0 until w.warmupOps).foreach { _ =>
      if (step(measured = false).fold(_ => true, !_.ok)) failed += 1
    }

    val jitWaitS = Timing.awaitJitQuiet(quietMs = 200, timeoutMs = 5000)

    val opsMeasured = ArrayBuffer[OpOutcome]()
    val tracedOps = ArrayBuffer[(Int, OpOutcome, TableDelta)]()
    val gc0 = Host.gcMillis()
    val cpu0 = Host.cpuTicks()
    val window0 = System.nanoTime()
    val deadline = window0 + args.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      val before = if (tracer.enabled) Some(TableDelta.snapshot(w.tableDir(ctx))) else None
      val r = step(measured = true)
      r match {
        case Right(o) =>
          opsMeasured += o
          if (!o.ok) failed += 1
          before.foreach { b =>
            tracedOps += ((opId, o, b.delta(TableDelta.snapshot(w.tableDir(ctx)))))
            ctx.scans.filter(s => s.op == opId && s.filesTotal < 0)
              .foreach(s => s.filesTotal = FsUtil.dataFiles(ctx.spark, s.table))
          }
        case Left(_) =>
          failed += 1
          opsMeasured += OpOutcome("failed", lastStep, ok = false, 0, 0, 0)
      }
    }
    val windowS = (System.nanoTime() - window0) / 1e9
    val gcS = (Host.gcMillis() - gc0) / 1000.0
    val stealPct = Host.stealPct(cpu0, Host.cpuTicks())
    // task metrics arrive on the listener bus after the jobs return
    recorder.awaitQuiet(10000)

    // end-of-run correctness (e.g. the DML model comparison)
    val finalOk =
      try tracer.span("verify.final", op = -3)(w.finish(ctx))
      catch { case e: Exception => System.err.println(s"perfbench: final check failed: $e"); false }
    val attempted = w.warmupOps + opsMeasured.size + 1
    if (!finalOk) failed += 1

    val setupWall = setups.map(_._1)
    val setupCpu = setups.map(_._2)
    val report = new Report(args, ctx.nproc)
    report.info("window_s", f"$windowS%.3f")
    report.info("jit_wait_s", f"$jitWaitS%.3f")
    report.info("ops", opsMeasured.size.toString)
    report.info("setup_wall_samples_s", setupWall.map(s => f"$s%.3f").mkString(","))
    report.info("setup_cpu_samples_s", setupCpu.map(s => f"$s%.3f").mkString(","))
    report.info("op_failure_share", (failed.toDouble / attempted).toString)
    report.info("host.steal_pct", f"$stealPct%.3f")

    val lat = opsMeasured.map(_.time.wallNs / 1e6).toSeq
    val cpu = opsMeasured.map(o => ctx.opCpuNs(o.time) / 1e6).toSeq
    report.info("op_cpu_samples_ms", cpu.map(c => f"$c%.1f").mkString(","))
    val raw = opsMeasured.map(_.rawBytes).sum / 1e6
    val p90 = Stats.percentile(lat, 90)
    // wall time follows the host's CPU steal; it is reported, not gated
    val wall = Seq(
      Metric("op_ms_p50", Stats.percentile(lat, 50), "ms"),
      Metric("op_ms_p90", p90, "ms"),
      Metric("raw_mb_s", raw / math.max(lat.sum / 1e3, 1e-9), "MB/s"),
      Metric("setup_wall_s", Stats.median(setupWall), "s"))
    val e2e = Seq(
      Metric("setup_s", Stats.median(setupCpu), "s"),
      Metric("op_cpu_ms_p50", Stats.percentile(cpu, 50), "ms"),
      Metric("stored_bytes_per_raw_byte", w.storedBytesPerRawByte(ctx), "ratio"))
    wall.foreach(m => report.info(m.name, m.value.toString))

    val lines = ArrayBuffer[String]()
    lines += s"${w.name}: ${opsMeasured.size} operations in ${f"$windowS%.2f"} s, " +
      s"$failed failed of $attempted checks (op_failure_share ${failed.toDouble / attempted})"
    lines += f"  all        n=${lat.size}%4d p50=${Stats.percentile(lat, 50)}%10.2f ms" +
      f" cpu p50=${Stats.percentile(cpu, 50)}%10.2f ms (wall p90=$p90%.2f ms, ${lat.count(_ > p90)} beyond it)"
    opsMeasured.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      lines += f"  $k%-10s n=${os.size}%4d p50=${Stats.median(os.map(_.time.wallNs / 1e6).toSeq)}%10.2f ms" +
        f" cpu p50=${Stats.median(os.map(o => ctx.opCpuNs(o.time) / 1e6).toSeq)}%10.2f ms"
    }
    val metrics =
      if (!tracer.enabled) {
        lines ++= wall.map(m => f"${m.name}%-40s ${m.value}%14.4f ${m.unit} (wall, not gated)")
        e2e
      } else {
        val replay = tracer.span("replay", op = -1)(Replay.run(ctx, w))
        recorder.awaitQuiet(10000)
        val m = Layers.metrics(ctx, recorder, tracedOps.toSeq, replay, gcS, stealPct, e2e ++ wall,
          w.storedBytesPerRawByte(ctx))
        lines += "self time over the measured operations (span, total ms, count):"
        Layers.selfTimes(tracer.spans).foreach { case (name, ms, k) =>
          lines += f"  $name%-32s $ms%12.1f $k%6d"
        }
        lines += s"spans: ${Spans.write(ctx)}"
        m
      }
    report.emit(metrics, correct = failed == 0, attempted = attempted, failed = failed, lines.toSeq)
  }
}

/** Bytes and files under a table directory before and after one op. */
final case class TableDelta(files: Map[String, Long]) {
  def delta(after: TableDelta): TableDelta = TableDelta(after.files.filter { case (p, len) =>
    files.get(p).forall(_ != len)
  })
  def bytes: Long = files.valuesIterator.sum
  def dataFiles: Int = files.keysIterator.count(_.endsWith(".parquet"))
}

object TableDelta {
  def snapshot(dir: String): TableDelta = TableDelta(FsUtil.listRecursive(new File(dir)))
}

final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

object Host {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Aggregate cpu line of /proc/stat: (steal ticks, total ticks). */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else 100.0 * (b._1 - a._1) / (b._2 - a._2)
}

object FsUtil {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def listRecursive(root: File): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) out += f.getPath -> f.length
    walk(root)
    out.result()
  }

  def dirBytes(dir: String): Long = listRecursive(new File(dir)).valuesIterator.sum

  /** Chunk files of the table's visible batches. */
  def dataFiles(spark: SparkSession, dir: String): Long =
    graft.spark.EncodeJob.committedBatches(spark, dir).toSeq.map { b =>
      listRecursive(new File(graft.spark.EncodeJob.chunkBatchDir(dir, b))).keysIterator
        .count(_.endsWith(".parquet")).toLong
    }.sum

  def commitFiles(dir: String): Long =
    Seq(graft.spark.EncodeJob.manifestDir(dir), graft.spark.EncodeJob.compactionsDir(dir))
      .map(d => listRecursive(new File(d)).keysIterator.count(p => !new File(p).getName.startsWith(".")).toLong)
      .sum
}
