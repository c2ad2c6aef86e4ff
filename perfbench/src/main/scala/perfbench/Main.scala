package perfbench

import java.io.File
import org.apache.spark.BenchBus
import scala.collection.mutable

/** The benchmark JVM. run.py starts it with the session recipe as `spark.*`
  * system properties and reads the JSON record it writes to `--out`:
  *
  *  - `--trace 0`: set up `Setups` times, then closed-loop passes for
  *    `--seconds`; reports the end-to-end metrics.
  *  - `--trace 1`: set up as above, then alternate untraced and traced passes
  *    for `--seconds`; reports the per-layer metrics, writes the spans, and
  *    takes the wall-time difference of the two kinds as tracing overhead.
  *  - `--mode scaling`: extract-mix passes over an existing input only, for
  *    the single-core leg of `pipeline.extract.scaling_eff`.
  */
object Main {
  /** set-ups per run; each is a session start, input materialisation and
    * warm-up passes, in the same JVM */
  final val Setups = 1
  final val MixDocs = 30000L
  final val JobDocs = 6000L
  final val JobWhales = 8L
  final val SettleMs = 30000L

  def workload(name: String, seed: Long, dataDir: String): Workload = name match {
    case "extract-mix" => new ExtractMix(seed, MixDocs)
    case "extract-job" => new ExtractJobLoad(seed, JobDocs, JobWhales)
    case "curate" => new Curate(dataDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seconds = o("seconds").toDouble
    val b = new Bench(o("cores").toInt, o("work"), o("run-id"))
    val fields =
      try {
        if (o.get("mode").contains("scaling")) scaling(b, o("seed").toLong, o("input"), seconds)
        else {
          val wl = workload(o("workload"), o("seed").toLong, o("data"))
          if (o("trace") == "1") traced(b, wl, seconds, new File(o("spans")))
          else endToEnd(b, wl, seconds)
        }
      } finally b.stopSession()
    java.nio.file.Files.writeString(new File(o("out")).toPath, Json.obj(fields))
  }

  private def metricsJson(ms: Seq[(String, Double)]): String =
    Json.obj(ms.map { case (k, v) => k -> Json.num(v) })

  /** one set-up; returns its time and its parts (session start,
    * materialisation, warm-up) in seconds */
  private def setUp(b: Bench, wl: Workload, k: Int): (Double, Seq[Double]) = {
    b.stopSession()
    Bench.delete(new File(b.work, s"input-${k - 1}"))
    val t0 = System.nanoTime()
    b.startSession()
    val t1 = System.nanoTime()
    wl.materialise(b, new File(b.work, s"input-$k").getPath)
    val t2 = System.nanoTime()
    (1 to wl.warmUps).foreach(_ => wl.pass(b, "warm-up", check = false))
    val t3 = System.nanoTime()
    ((t3 - t0) / 1e9, Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9))
  }

  private def onePass(b: Bench, wl: Workload, name: String): (String, PassOutcome) = {
    val id = b.tracer.nextId("p")
    val startMs = System.currentTimeMillis()
    val out = wl.pass(b, id, check = true)
    if (b.tracing) b.tracer.add(Span(id, name, "pass", startMs, System.currentTimeMillis(), ""))
    (id, out)
  }

  private def outcomeFields(wl: Workload, outs: Seq[PassOutcome], extraFailures: Seq[String],
      passes: Int, setups: Int): Seq[(String, String)] = {
    val attempted = outs.map(_.attempted).sum
    val failed = outs.map(_.failed).sum + extraFailures.size
    Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr((outs.flatMap(_.failures) ++ extraFailures).take(Bench.MaxListed).map(Json.str)),
      "docs" -> wl.docs.toString,
      "input_bytes" -> wl.inputBytes.toString,
      "passes" -> passes.toString,
      "setups" -> setups.toString)
  }

  private def endToEnd(b: Bench, wl: Workload, seconds: Double): Seq[(String, String)] = {
    val (setups, setupParts) = (1 to Setups).map(k => setUp(b, wl, k)).unzip
    val outs = mutable.ArrayBuffer[PassOutcome]()
    val t0 = System.nanoTime()
    do {
      outs += onePass(b, wl, "pass")._2
      if (outs.size == 1) { b.sampleHeap(); wl.held = null }
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    dumpCurate(b, wl)
    val wall = MetricMath.median(outs.map(_.wallS))
    val metrics = Seq(
      "wall_s" -> wall,
      "docs_per_s" -> wl.docs / wall,
      "resume_s" -> MetricMath.median(outs.map(_.resumeS)),
      "setup_s" -> MetricMath.median(setups),
      "heap_peak_mb" -> b.heapPeakMb)
    outcomeFields(wl, outs.toSeq, Nil, outs.size, setups.size) ++ Seq(
      "setup_runs_s" -> Json.arr(setups.map(Json.num)),
      "setup_parts_s" -> Json.arr(setupParts.map(p => Json.arr(p.map(Json.num)))),
      "pass_walls_s" -> Json.arr(outs.toSeq.map(o => Json.num(o.wallS))),
      "metrics" -> metricsJson(metrics))
  }

  private def dumpCurate(b: Bench, wl: Workload): Unit = wl match {
    case c: Curate => c.dump(b, new File(b.work, "dump").getPath)
    case _ =>
  }

  private def traced(b: Bench, wl: Workload, seconds: Double, spansFile: File): Seq[(String, String)] = {
    (1 to Setups).foreach(k => setUp(b, wl, k))
    val listener = new BenchListener
    val sc = () => b.spark.sparkContext
    val untraced = mutable.ArrayBuffer[PassOutcome]()
    val traced = mutable.ArrayBuffer[(String, PassOutcome)]()
    val problems = mutable.ArrayBuffer[String]()
    def settle(): Unit =
      if (!listener.settle(sc(), SettleMs)) problems += s"listener still had open jobs after $SettleMs ms"
    val t0 = System.nanoTime()
    do {
      untraced += onePass(b, wl, "pass")._2
      b.traceOn(listener)
      traced += onePass(b, wl, "traced pass")
      settle()
      b.traceOff()
    } while ((System.nanoTime() - t0) / 1e9 < seconds)

    // layer probes outside the passes (kernel timers, direct layer calls)
    b.traceOn(listener)
    val probeId = b.tracer.nextId("p")
    val probeStart = System.currentTimeMillis()
    val untracedWall = MetricMath.median(untraced.map(_.wallS))
    val (layers, probes) = wl.layers(b, Traced(traced.map(_._1).toSeq, untracedWall, probeId))
    b.tracer.add(Span(probeId, "layer probes", "pass", probeStart, System.currentTimeMillis(), ""))
    settle()
    b.traceOff()
    problems ++= listener.defects
    val dropped = BenchBus.droppedEvents(sc())
    if (dropped > 0) problems += s"listener bus dropped $dropped events"
    dumpCurate(b, wl)

    val n = traced.size.toDouble
    val tracedIds = traced.map(_._1).toSet
    val jvm = b.calls.filter(c => tracedIds(c.parent)).map(_.jvm).foldLeft(JvmCounters.Zero)(_ + _)
    val spans = b.tracer.write(spansFile, listener.spans)
    val tracedWall = MetricMath.median(traced.map(_._2.wallS))
    val measured = layers ++ Seq(
      "jvm.gc_ms" -> jvm.gcMs / n,
      "jvm.gc_count" -> jvm.gcCount / n,
      "jvm.jit_ms" -> jvm.jitMs / n,
      "host.steal_ms" -> jvm.stealMs / n,
      "trace.overhead_s" -> (tracedWall - untracedWall),
      "trace.spans" -> spans.toDouble)
    val outs = (untraced ++ traced.map(_._2) ++ probes).toSeq
    outcomeFields(wl, outs, problems.toSeq, outs.size, Setups) ++ Seq(
      "untraced_wall_s" -> Json.num(untracedWall),
      "docs_per_s" -> Json.num(wl.docs / untracedWall),
      "metrics" -> metricsJson(measured))
  }

  /** extract-mix passes over `input` for the single-core scaling leg */
  private def scaling(b: Bench, seed: Long, input: String, seconds: Double): Seq[(String, String)] = {
    b.startSession()
    val wl = new ExtractMix(seed, MixDocs)
    wl.useInput(input)
    wl.pass(b, "warm-up", check = false)
    val walls = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    do walls += wl.pass(b, "pass", check = false).wallS while ((System.nanoTime() - t0) / 1e9 < seconds)
    Seq("docs_per_s" -> Json.num(wl.docs / MetricMath.median(walls)), "passes" -> walls.size.toString)
  }
}
