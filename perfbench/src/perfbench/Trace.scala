package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval of the benchmark. Times are epoch microseconds; `op`
  * is the operation the span belongs to (measured operations count from 1;
  * 0 = set-up, -1 = replays, -2 = warm-up, -3 = the end-of-run check).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans around the benchmark's calls into each layer. Every span sets the
  * Spark job group to `span-<id>`, so the jobs a call launches can be
  * parented to it from the listener's events. With `enabled` false the
  * same calls are made (job groups included) and nothing is recorded.
  */
final class Tracer(val enabled: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Ns) / 1000L

  private val recorded = ArrayBuffer[Span]()
  private var stack: List[(Int, Int, String)] = Nil // (span id, op id, name), innermost first
  private var nextId = 1

  def currentOp: Int = stack.headOption.map(_._2).getOrElse(0)

  private def setGroup(): Unit =
    SparkSession.getActiveSession.foreach { s =>
      stack.headOption match {
        case Some((id, _, name)) => s.sparkContext.setJobGroup(s"span-$id", name, interruptOnCancel = false)
        case None                => s.sparkContext.clearJobGroup()
      }
    }

  def span[T](name: String, op: Int = currentOp)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, op, name) :: stack
    setGroup()
    val start = nowUs
    try body
    finally {
      val end = nowUs
      stack = stack.tail
      setGroup()
      if (enabled) recorded += Span(id, parent, op, name, start, end)
    }
  }

  /** Adds a span measured elsewhere (a Spark job from the listener). */
  def add(s: Span): Unit = if (enabled) recorded += s
  def newId(): Int = { val id = nextId; nextId += 1; id }
  def spans: Seq[Span] = recorded.toSeq
}

object Tracer {
  /** Self time: the span's duration minus the part of it its children
    * cover (children may overlap each other; their union is subtracted).
    */
  def selfUs(span: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, span.startUs), math.min(c.endUs, span.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    span.durUs - covered
  }
}

/** Task-level totals of one Spark job. */
final class JobTasks {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var waitMs = 0L
}

final case class JobRec(group: Option[String], startMs: Long, endMs: Long, tasks: JobTasks)

/** Records Spark's scheduler: job start/end with their job group, and per
  * job the totals of its tasks' metrics. A task's wait is its launch time
  * minus its stage's submission time. Task CPU is also summed per timed
  * region: the value of the job property `TimedProperty`, which
  * `Ctx.region` sets on the client thread around a set-up or an
  * operation's statement.
  */
final class SchedulerRecorder extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (Option[String], Long)]()
  private val ends = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val perJob = new ConcurrentHashMap[Int, JobTasks]()
  private val jobTimed = new ConcurrentHashMap[Int, Int]()
  private val timedCpuNs = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    Option(e.properties).flatMap(p => Option(p.getProperty(SchedulerRecorder.TimedProperty)))
      .foreach(t => jobTimed.put(e.jobId, t.toInt))
    starts.put(e.jobId, (group, e.time))
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    perJob.putIfAbsent(e.jobId, new JobTasks)
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ends.put(e.jobId, e.time)
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.putIfAbsent(e.stageInfo.stageId, t))
    lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    val job = stageJob.get(e.stageId)
    val agg = if (job == null) null else perJob.get(job)
    if (agg == null) return
    val timed = jobTimed.get(job)
    if (timed != null && e.taskMetrics != null)
      timedCpuNs.merge(timed, e.taskMetrics.executorDeserializeCpuTime + e.taskMetrics.executorCpuTime,
        (a: java.lang.Long, b: java.lang.Long) => a + b)
    agg.synchronized {
      agg.tasks += 1
      val submitted = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      agg.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.inputBytes += m.inputMetrics.bytesRead
        agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment (events arrive asynchronously), at most `timeoutMs`.
    */
  def awaitQuiet(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = starts.keySet.asScala.forall(ends.containsKey) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** CPU time of the tasks of the jobs launched in timed region `id`. */
  def taskCpuNs(id: Int): Long = Option(timedCpuNs.get(id)).map(_.longValue).getOrElse(0L)

  def jobs: Seq[JobRec] = starts.asScala.toSeq.sortBy(_._1).map { case (id, (g, s)) =>
    JobRec(g, s, ends.getOrDefault(id, s), perJob.get(id))
  }
}

object SchedulerRecorder {
  final val TimedProperty = "perfbench.timed"
}
