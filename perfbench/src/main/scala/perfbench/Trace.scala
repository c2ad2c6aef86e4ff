package perfbench

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval: a workload pass, a layer call, a Spark job or a
  * Spark stage. Times are epoch milliseconds; `parent` is the id of the
  * span that caused it ("" for a pass). */
final case class Span(id: String, name: String, kind: String, startMs: Long, endMs: Long,
    parent: String)

/** Spark work summed over a set of layer calls. */
final case class SparkTotals(
    jobs: Int,
    stages: Int,
    tasks: Int,
    taskMs: Long,
    cpuMs: Long,
    scanBytes: Long,
    shuffleWriteBytes: Long,
    shuffleRecords: Long,
    spillBytes: Long,
    bytesWritten: Long,
    stragglerRatio: Double,
    jobIntervals: Seq[(Long, Long)])

/** Benchmark-owned listener: keeps every job, stage and task-end event of
  * the traced run in memory, keyed so each job can be traced back to the
  * layer call that started it through the job group the benchmark sets. */
final class BenchListener extends SparkListener {
  import BenchListener._

  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageStats]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey))).getOrElse("")
    jobs(e.jobId) = new JobStats(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val st = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    st.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val st = stage(info.stageId, info.attemptNumber())
    st.numTasks = info.numTasks
    st.completedMs = info.completionTime.getOrElse(System.currentTimeMillis())
    st.succeeded = info.failureReason.isEmpty
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stage(e.stageId, e.stageAttemptId)
    if (e.taskInfo != null) st.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.scanBytes += m.inputMetrics.bytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.spillBytes += m.diskBytesSpilled
      st.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  private def stage(id: Int, attempt: Int): StageStats =
    stages.getOrElseUpdate((id, attempt), new StageStats(id, attempt))

  def openJobs: Int = synchronized(jobs.values.count(_.endMs < 0))

  /** Waits, up to `timeoutMs`, until every posted event has been delivered
    * and no started job is still open. False if the wait ran out. */
  def settle(sc: SparkContext, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def leftMs = (deadline - System.nanoTime()) / 1000000L
    var settled = false
    while (!settled && leftMs > 0) {
      settled = BenchBus.drained(sc, leftMs) && openJobs == 0
      if (!settled) Thread.sleep(1)
    }
    settled
  }

  /** Event-stream defects: a job with no end, a stage with no completion,
    * or a finished stage whose task-end count differs from its task count.
    * Empty when the listener saw every event. */
  def defects: Seq[String] = synchronized {
    jobs.values.filter(_.endMs < 0).map(j => s"job ${j.jobId} has no JobEnd").toSeq ++
      stages.values.collect {
        case s if s.numTasks < 0 => s"stage ${s.stageId}.${s.attempt} has no StageCompleted"
        case s if s.succeeded && s.taskMs.size != s.numTasks =>
          s"stage ${s.stageId}.${s.attempt} saw ${s.taskMs.size} of ${s.numTasks} task ends"
      }
  }

  def totals(groups: Set[String]): SparkTotals = synchronized {
    val js = jobs.values.filter(j => groups(j.group)).toSeq
    val jobIds = js.map(_.jobId).toSet
    val ss = stages.values.filter(s => stageJob.get(s.stageId).exists(jobIds)).toSeq
    SparkTotals(
      jobs = js.size,
      stages = ss.size,
      tasks = ss.map(_.taskMs.size).sum,
      taskMs = ss.map(_.taskMs.sum).sum,
      cpuMs = ss.map(_.cpuNs).sum / 1000000L,
      scanBytes = ss.map(_.scanBytes).sum,
      shuffleWriteBytes = ss.map(_.shuffleWriteBytes).sum,
      shuffleRecords = ss.map(_.shuffleRecords).sum,
      spillBytes = ss.map(_.spillBytes).sum,
      bytesWritten = ss.map(_.bytesWritten).sum,
      stragglerRatio = MetricMath.stragglerRatio(ss.map(_.taskMs.toSeq)),
      jobIntervals = js.map(j => (j.startMs, math.max(j.endMs, j.startMs))))
  }

  /** job and stage spans; a job's parent is the call named by its group */
  def spans: Seq[Span] = synchronized {
    jobs.values.map(j => Span(s"j${j.jobId}", s"job ${j.jobId}", "job", j.startMs, j.endMs, j.group))
      .toSeq ++
      stages.values.map(s => Span(s"s${s.stageId}.${s.attempt}", s"stage ${s.stageId}", "stage",
        s.submittedMs, s.completedMs, stageJob.get(s.stageId).map(j => s"j$j").getOrElse("")))
  }
}

object BenchListener {
  final val JobGroupKey = "spark.jobGroup.id"

  private final class JobStats(val jobId: Int, val group: String, val startMs: Long) {
    var endMs = -1L
  }

  private final class StageStats(val stageId: Int, val attempt: Int) {
    var numTasks = -1
    var submittedMs = 0L
    var completedMs = 0L
    var succeeded = true
    val taskMs = mutable.ArrayBuffer[Long]()
    var cpuNs = 0L
    var scanBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
  }
}

/** In-memory span log of one run, written out once at the end. */
final class Tracer(val runId: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var next = 0L

  def nextId(prefix: String): String = synchronized { next += 1; s"$prefix$next" }
  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)

  def write(file: java.io.File, extra: Seq[Span]): Int = {
    val out = all ++ extra
    val w = new java.io.PrintWriter(file, "UTF-8")
    try out.foreach { s =>
      w.println(Json.obj(Seq("run" -> Json.str(runId), "id" -> Json.str(s.id),
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "parent" -> Json.str(s.parent))))
    } finally w.close()
    out.size
  }
}

/** Just enough JSON writing for flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
