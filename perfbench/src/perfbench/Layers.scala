package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans, the scheduler
  * recorder, the per-operation table deltas and the replays. "Per op"
  * always means per measured operation; an operation's own Spark jobs are
  * those launched inside its `op.<kind>` span (verification reads are
  * outside it).
  */
object Layers {

  final case class Tree(spans: Seq[Span]) {
    val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap
    private val memo = mutable.Map[(Int, Int), Boolean]()
    /** Whether `a` is `d` or one of its ancestors. */
    def covers(a: Int, d: Int): Boolean = memo.getOrElseUpdate((a, d),
      d == a || byId.get(d).exists(s => s.parent != 0 && covers(a, s.parent)))
    def under(a: Span): Seq[Span] = spans.filter(s => s.id != a.id && covers(a.id, s.id))
  }

  def jobSpans(ctx: Ctx, recorder: SchedulerRecorder): Seq[(Span, JobRec)] =
    recorder.jobs.flatMap { j =>
      j.group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).map { parent =>
        val op = ctx.tracer.spans.find(_.id == parent).map(_.op).getOrElse(0)
        Span(ctx.tracer.newId(), parent, op, "spark.job", j.startMs * 1000L, j.endMs * 1000L) -> j
      }
    }

  def metrics(ctx: Ctx, recorder: SchedulerRecorder,
              traced: Seq[(Int, OpOutcome, TableDelta)], replay: ReplayResult,
              gcS: Double, stealPct: Double, e2e: Seq[Metric],
              storedPerRaw: Double): Seq[Metric] = {
    val jobs = jobSpans(ctx, recorder)
    jobs.foreach { case (s, _) => ctx.tracer.add(s) }
    val tree = Tree(ctx.tracer.spans)
    val opSpans = tree.spans.filter(s => s.op > 0 && s.name.startsWith("op."))
    val n = math.max(1, opSpans.size).toDouble

    val opJobs = opSpans.map(o => o -> jobs.filter { case (s, _) => tree.covers(o.id, s.id) })
    val allOpJobs = opJobs.flatMap(_._2).map(_._2)
    def total(f: JobTasks => Long): Long = allOpJobs.map(j => f(j.tasks)).sum
    val tasks = total(_.tasks)
    val runS = total(_.runMs) / 1000.0

    val driverSelfMs = opSpans.map { o =>
      val children = tree.under(o).filter(s => s.name == "spark.job" || s.name == "source.plan")
      Tracer.selfUs(o, children) / 1000.0
    }.sum / n

    val scans = ctx.scans.filter(_.op > 0).toSeq
    val readJobs = jobs.filter { case (s, _) => scans.exists(sc => tree.covers(sc.executeSpan, s.id)) }
    val planned = scans.map(_.partitions).sum
    val files = scans.map(s => math.max(0L, s.filesTotal)).sum
    val q = math.max(1, scans.size).toDouble

    // Busy estimate of the codec layers for the bytes the operations
    // processed: raw bytes encoded = bytes written / the table's stored
    // ratio; raw bytes decoded = the columns read, scaled by the share of
    // files planned, plus rows a rewrite carried through unchanged.
    val busyS = traced.map { case (id, o, delta) =>
      val mine = scans.filter(_.op == id)
      val readShare =
        if (mine.isEmpty || mine.map(_.filesTotal).sum <= 0) 1.0
        else mine.map(_.partitions).sum.toDouble / mine.map(_.filesTotal).sum
      val encoded = if (storedPerRaw <= 0) 0.0 else delta.bytes / storedPerRaw
      val decoded = o.readRaw * readShare + math.max(0.0, encoded - o.changedRawBytes)
      encoded * replay.encSecPerRawByte + decoded * replay.decSecPerRawByte
    }.sum

    val written = traced.map(_._3.bytes).sum
    val changed = traced.map(_._2.changedRawBytes).sum
    def e2eValue(name: String) = e2e.find(_.name == name).map(_.value).getOrElse(0.0)

    replay.metrics ++ Seq(
      Metric("source.plan_ms", Stats.median(scans.map(_.planUs / 1000.0)), "ms"),
      Metric("source.partitions_planned", planned / q, "count"),
      Metric("source.files_total", files / q, "count"),
      Metric("source.prune_ratio", if (files == 0) 0.0 else 1.0 - planned.toDouble / files, "ratio"),
      Metric("source.rows_scanned_per_row_returned",
        scans.map(_.rowsScanned).sum.toDouble / math.max(1L, scans.map(_.rowsMatched).sum), "ratio"),
      Metric("source.bytes_read_per_query", readJobs.map(_._2.tasks.inputBytes).sum / q, "bytes"),
      Metric("dml.bytes_written_per_op", written / n, "bytes"),
      Metric("dml.files_rewritten_per_op", traced.map(_._3.dataFiles).sum / n, "count"),
      Metric("dml.write_amp", if (changed == 0) 0.0 else written.toDouble / changed, "ratio"),
      Metric("scheduler.jobs_per_op", allOpJobs.size / n, "count"),
      Metric("scheduler.tasks_per_op", tasks / n, "count"),
      Metric("scheduler.driver_self_ms_per_op", driverSelfMs, "ms"),
      Metric("scheduler.task_wait_ms", if (tasks == 0) 0.0 else total(_.waitMs).toDouble / tasks, "ms"),
      Metric("scheduler.executor_run_s", runS / n, "s"),
      Metric("scheduler.executor_cpu_s", total(_.cpuNs) / 1e9 / n, "s"),
      Metric("scheduler.task_gc_s", total(_.gcMs) / 1000.0 / n, "s"),
      Metric("scheduler.shuffle_bytes", total(_.shuffleWriteBytes) / n, "bytes"),
      Metric("jvm.gc_pause_s", gcS / n, "s"),
      Metric("layers.unexplained_share", if (runS <= 0) 0.0 else 1.0 - busyS / runS, "ratio"),
      Metric("host.steal_pct", stealPct, "%"),
      Metric("traced.op_cpu_ms_p50", e2eValue("op_cpu_ms_p50"), "ms"),
      Metric("traced.op_ms_p50", e2eValue("op_ms_p50"), "ms"),
      Metric("traced.op_ms_p90", e2eValue("op_ms_p90"), "ms"),
      Metric("traced.raw_mb_s", e2eValue("raw_mb_s"), "MB/s"))
  }

  /** Self time summed per span name over the measured operations. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Double, Int)] = {
    val children = spans.groupBy(_.parent)
    spans.filter(_.op > 0).groupBy(_.name).toSeq.map { case (name, ss) =>
      (name, ss.map(s => Tracer.selfUs(s, children.getOrElse(s.id, Nil))).sum / 1000.0, ss.size)
    }.sortBy(-_._2)
  }
}

/** Human-readable lines, then the result line the harness reads. */
final class Report(args: Args, nproc: Int) {
  private val infos = mutable.LinkedHashMap[String, String]()

  def info(k: String, v: String): Unit = infos(k) = v

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) { System.err.println(s"perfbench: non-finite value $v"); "0" }
    else v.toString

  def emit(metrics: Seq[Metric], correct: Boolean, attempted: Int, failed: Int,
           extraLines: Seq[String]): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    info("workload", args.workload)
    info("seed", args.seed.toString)
    info("trace", if (args.trace) "1" else "0")
    info("seconds", args.seconds.toString)
    info("revision", args.revision)
    info("nproc", nproc.toString)
    info("heap_max_bytes", Runtime.getRuntime.maxMemory.toString)
    info("jvm_flags", rt.getInputArguments.toArray.mkString(" "))
    info("java", System.getProperty("java.version"))
    info("spark", org.apache.spark.SPARK_VERSION)
    extraLines.foreach(println)
    metrics.foreach(m => println(f"${m.name}%-40s ${m.value}%14.4f ${m.unit}"))
    println("{\"info\": {" + infos.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString(", ") + "}}")
    val ms = metrics.map(m => s"${json(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${json(m.unit)}}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
  }
}

object Spans {
  /** Writes every span of the run as a JSON array; returns the path. */
  def write(ctx: Ctx): String = {
    val dir = new java.io.File(ctx.args.out)
    dir.mkdirs()
    val f = new java.io.File(dir, s"spans-${ctx.args.workload}-${ctx.args.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      val ss = ctx.tracer.spans.sortBy(_.startUs)
      ss.zipWithIndex.foreach { case (s, i) =>
        w.print(s"""  {"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", "start_us": ${s.startUs}, "end_us": ${s.endUs}}""")
        w.println(if (i + 1 < ss.size) "," else "")
      }
      w.println("]")
    } finally w.close()
    f.getPath
  }
}
