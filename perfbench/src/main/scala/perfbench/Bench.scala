package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed layer call of a traced run, with the JVM counters it moved. */
final case class CallRec(id: String, name: String, parent: String, startMs: Long, endMs: Long,
    wallS: Double, jvm: JvmCounters)

/** JVM-wide GC and JIT time and host CPU steal, in milliseconds. */
final case class JvmCounters(gcMs: Long, gcCount: Long, jitMs: Long, stealMs: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs - o.gcMs, gcCount - o.gcCount, jitMs - o.jitMs, stealMs - o.stealMs)
  def +(o: JvmCounters): JvmCounters =
    JvmCounters(gcMs + o.gcMs, gcCount + o.gcCount, jitMs + o.jitMs, stealMs + o.stealMs)
}

object JvmCounters {
  val Zero: JvmCounters = JvmCounters(0, 0, 0, 0)

  def now(): JvmCounters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)
    JvmCounters(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum, jit, stealMs())
  }

  /** host CPU steal so far, from the aggregate line of /proc/stat (USER_HZ = 100) */
  private def stealMs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").lift(8).map(_.toLong * 10).getOrElse(0L)
      finally src.close()
    } catch { case _: Exception => 0L }
}

/** What one pass measured and what its check found. `failures` holds up to
  * `Bench.MaxListed` examples; `failed` counts them all. */
final case class PassOutcome(wallS: Double, resumeS: Double, attempted: Long, failed: Long,
    failures: Seq[String])

/** Run state shared by the workloads: the session, the work directory, the
  * heap high-water mark and, in a traced run, the listener and span log. */
final class Bench(val cores: Int, val work: String, runId: String) {
  var spark: SparkSession = _
  val tracer = new Tracer(runId)
  private var listener: Option[BenchListener] = None
  val calls = mutable.ArrayBuffer[CallRec]()
  private var heapPeak = 0L
  private var serial = 0

  def tracing: Boolean = listener.isDefined
  def events: BenchListener = listener.get
  def nextSerial(): Int = { serial += 1; serial }

  /** Spark settings come from the `spark.*` system properties that run.py
    * derives from its one session recipe. */
  def startSession(): Unit = {
    stopSession()
    spark = SparkSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def traceOn(l: BenchListener): Unit = { spark.sparkContext.addSparkListener(l); listener = Some(l) }
  def traceOff(): Unit = { listener.foreach(spark.sparkContext.removeSparkListener); listener = None }

  /** Times one call into a layer. When tracing, the call's job group is its
    * span id, which is how the listener attributes Spark jobs to it. */
  def call[A](name: String, parent: String)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    val id = tracer.nextId("c")
    if (tracing) sc.setJobGroup(id, name)
    val before = if (tracing) JvmCounters.now() else JvmCounters.Zero
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try body finally if (tracing) sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    if (tracing) {
      val endMs = System.currentTimeMillis()
      tracer.add(Span(id, name, "call", startMs, endMs, parent))
      calls += CallRec(id, name, parent, startMs, endMs, wall, JvmCounters.now() - before)
    }
    (r, wall)
  }

  /** Post-collection heap occupancy: the sum of the heap pools' JMX
    * collection usage after a full collection. Spark's cleaner drops the
    * blocks of unreachable RDDs and broadcasts only after a collection has
    * found them, and what it drops is freed by a later one, which can in
    * turn release more; so full collections repeat, a pause apart, until
    * one frees less than `SettledBytes`, and the figure is live data and
    * not the cleaner's timing. Sampled once, after the first measured pass,
    * whose result the workload still holds, so every run samples the same
    * state. */
  def sampleHeap(): Unit = {
    def collected(): Long = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage))
        .map(_.getUsed).sum
    }
    var used = collected()
    var freed = Long.MaxValue
    var rounds = 1
    while (freed >= Bench.SettledBytes && rounds < Bench.MaxCollections) {
      Thread.sleep(Bench.CleanerPauseMs)
      val next = collected()
      freed = used - next
      used = next
      rounds += 1
    }
    heapPeak = math.max(heapPeak, used)
  }

  def heapPeakMb: Double = heapPeak / 1048576.0
}

object Bench {
  final val MaxListed = 20
  final val CleanerPauseMs = 200L
  final val SettledBytes = 1L << 20
  final val MaxCollections = 8

  /** Compares extracted (url, text, status) rows with the expected text of
    * every url: each must appear once, with status "ok" and identical text. */
  def checkTexts(rows: Iterator[(String, String, String)], golden: collection.Map[String, String])
      : (Long, Seq[String]) = {
    val seen = mutable.HashSet[String]()
    val listed = mutable.ArrayBuffer[String]()
    var failed = 0L
    def fail(msg: String): Unit = { failed += 1; if (listed.size < MaxListed) listed += msg }
    rows.foreach { case (url, text, status) =>
      if (!seen.add(url)) fail(s"$url: repeated")
      else golden.get(url) match {
        case None => fail(s"$url: not in the input")
        case Some(_) if status != "ok" => fail(s"$url: $status")
        case Some(g) if g != text => fail(s"$url: text differs from golden")
        case _ =>
      }
    }
    golden.keysIterator.filterNot(seen).foreach(u => fail(s"$u: missing"))
    (failed, listed.toSeq)
  }

  /** regular files and bytes under a directory */
  def du(dir: java.io.File): (Long, Long) = {
    val files = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    files.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = du(f); (n + n2, b + b2) }
      else if (f.getName.endsWith(".crc")) (n, b)
      else (n + 1, b + f.length())
    }
  }

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
