package perfbench

import java.io.File
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import graft.SparkEntry
import graft.pipeline.{Corpus, ExtractJob, ExtractedRow, PageRow}

/** A benchmark workload: its input, one closed-loop pass, and the layer
  * metrics of a traced run. */
trait Workload {
  /** passes each set-up runs to warm the JIT and Spark's code generation */
  def warmUps: Int = 1
  def docs: Long
  def inputBytes: Long
  /** generates or copies one pass's input into `dir` (part of set-up) */
  def materialise(b: Bench, dir: String): Unit
  /** one pass; with `check` false (warm-up) the result is not checked */
  def pass(b: Bench, passId: String, check: Boolean): PassOutcome
  /** per-layer metrics of a traced run, and the outcome of any layer call
    * it made beyond the passes; `t` has the traced passes' data */
  def layers(b: Bench, t: Traced): (Seq[(String, Double)], Seq[PassOutcome])
  /** the latest checked pass's result, kept reachable until the heap is sampled */
  var held: AnyRef = null
}

/** What a traced run hands to `Workload.layers`. */
final case class Traced(passIds: Seq[String], untracedWallS: Double, probeParent: String)

/** Spark-derived layer metrics over a set of calls, as means per call. */
object SparkLayer {
  def apply(b: Bench, calls: Seq[CallRec]): (SparkTotals, Double) = {
    val t = b.events.totals(calls.map(_.id).toSet)
    val idle = calls.map(c => MetricMath.idleMs(c.startMs, c.endMs, t.jobIntervals)).sum
    (t, idle.toDouble)
  }

  def extractMetrics(b: Bench, calls: Seq[CallRec], kernelShare: Double): Seq[(String, Double)] = {
    val (t, _) = apply(b, calls)
    val n = math.max(calls.size, 1).toDouble
    Seq(
      "pipeline.extract.jobs" -> t.jobs / n,
      "pipeline.extract.stages" -> t.stages / n,
      "pipeline.extract.tasks" -> t.tasks / n,
      "pipeline.extract.task_ms" -> t.taskMs / n,
      "pipeline.extract.cpu_ms" -> t.cpuMs / n,
      "pipeline.extract.scan_bytes" -> t.scanBytes / n,
      "pipeline.extract.shuffle_write_bytes" -> t.shuffleWriteBytes / n,
      "pipeline.extract.shuffle_records" -> t.shuffleRecords / n,
      "pipeline.extract.straggler_ratio" -> t.stragglerRatio,
      "pipeline.extract.kernel_share" -> kernelShare)
  }
}

/** Shared by the two extraction workloads: expected texts and the status
  * counts of checked passes. */
abstract class ExtractWorkload extends Workload {
  protected def golden: collection.Map[String, String]
  protected val errs = mutable.LinkedHashMap("err:pdf" -> 0L, "err:parse" -> 0L, "err:oversized" -> 0L)
  protected var checkedPasses = 0

  protected def check(rows: Iterator[(String, String, String)]): (Long, Seq[String]) = {
    checkedPasses += 1
    Bench.checkTexts(rows.map { r =>
      errs.get(r._3).foreach(c => errs(r._3) = c + 1)
      r
    }, golden)
  }

  protected def errMetrics: Seq[(String, Double)] = {
    val n = math.max(checkedPasses, 1).toDouble
    errs.toSeq.map { case (k, v) => s"pipeline.kernel.${k.replace(':', '_')}" -> v / n }
  }

  protected def corpusVariant(i: Long): String =
    if (i % Corpus.SKEW_EVERY == 0 && i > 0) "whale"
    else if (Corpus.kindOf(i) == "pdf") KernelTimers.PdfVariants((i % Corpus.PDF_VARIANTS).toInt)
    else "page"

  /** Runs the x00 shape — salted repartition, then the kernel — over `dir`
    * and collects every result row to the driver. */
  protected def extractAll(b: Bench, dir: String, parent: String): (Array[ExtractedRow], Double) =
    b.call("pipeline.extract", parent) {
      ExtractJob.extract(ExtractJob.saltedRepartition(b.spark, b.spark.read.parquet(dir), b.cores * 2))
        .collect()
    }

  protected def texts(rows: Array[ExtractedRow]): Iterator[(String, String, String)] =
    rows.iterator.map(r => (r.url, r.extracted_text, r.status))
}

/** The `Corpus` rows the extraction workloads read: rows 0 until n, less
  * the Identity-H CID PDFs. On those, `ExtractKernel` output and
  * `Corpus.golden` disagree on line order for about 1 in 60,000 documents
  * (5 of 300,000 over seeds 0-199): CID glyphs have zero height, so every
  * line is a text box of its own and the layout's box clustering can move
  * the widest line. The CID variant is still timed by `KernelTimers`. */
object CorpusRows {
  final val CidVariant = 8

  def kept(i: Long): Boolean =
    !(Corpus.kindOf(i) == "pdf" && i % Corpus.PDF_VARIANTS == CidVariant &&
      !(i % Corpus.SKEW_EVERY == 0 && i > 0))

  def ids(n: Long): Iterator[Long] = Iterator.range(0L, n).filter(kept)

  def count(n: Long): Long = ids(n).size.toLong
}

object ExtractMix {
  final val Files = 32
  final val TimedSample = 4000
}

/** x00: the `CorpusRows` of N `Corpus.row(seed)` rows materialised to
  * parquet, extracted by `ExtractJob.extract(saltedRepartition(...))` and
  * collected. */
final class ExtractMix(seed: Long, n: Long) extends ExtractWorkload {
  import ExtractMix._
  private var dir = ""
  var inputBytes = 0L
  // the kernel's JIT settles only after a few hundred thousand documents
  override def warmUps: Int = 6
  val docs: Long = CorpusRows.count(n)
  def useInput(d: String): Unit = dir = d

  protected lazy val golden: collection.Map[String, String] = {
    val m = new mutable.HashMap[String, String]()
    m.sizeHint(docs.toInt)
    CorpusRows.ids(n).foreach { i => val (u, g) = Corpus.golden(seed)(i); m(u) = g }
    m
  }

  def materialise(b: Bench, d: String): Unit = {
    val spark = b.spark
    import spark.implicits._
    val s = seed // a local, so the closure does not capture `this`
    val rows = Corpus.row(s) _
    spark.range(n).as[Long].filter((i: Long) => CorpusRows.kept(i))
      .repartition(Files).map(rows).toDF().write.parquet(d)
    dir = d
    inputBytes = Bench.du(new File(d))._2
  }

  def pass(b: Bench, passId: String, check: Boolean): PassOutcome = {
    held = null
    val (rows, wall) = extractAll(b, dir, passId)
    if (!check) PassOutcome(wall, wall, 0, 0, Nil)
    else {
      val (failed, listed) = this.check(texts(rows))
      held = rows
      PassOutcome(wall, wall, docs, failed, listed)
    }
  }

  def layers(b: Bench, t: Traced): (Seq[(String, Double)], Seq[PassOutcome]) = {
    val sample = (0L until math.min(TimedSample.toLong, n)).map(i => (Corpus.row(seed)(i), corpusVariant(i)))
    val timed = KernelTimers.time(sample)
    val kernel = KernelTimers.metrics(timed)
    val usPerDoc = kernel.toMap.apply("pipeline.kernel.us_per_doc")
    val share = usPerDoc * docs / (b.cores * t.untracedWallS * 1e6)
    val calls = b.calls.filter(_.name == "pipeline.extract").toSeq
    (kernel ++ errMetrics ++ SparkLayer.extractMetrics(b, calls, share), Nil)
  }
}

object ExtractJobLoad {
  final val Files = 16
  /** warc_ts buckets: 16 suit a corpus of thousands (the default 64 suits millions) */
  final val Buckets = 16
  final val Resumes = 5
  final val TimedSample = 2000
}

/** `ExtractJob.run` into an empty directory, then again over the finished
  * directory (resume), over the `CorpusRows` of `nCorpus` rows. The corpus
  * carries whales above the skew threshold, so the salted round-robin band
  * shuffles. */
final class ExtractJobLoad(seed: Long, nCorpus: Long, nWhales: Long) extends ExtractWorkload {
  import ExtractJobLoad._
  private var dir = ""
  var inputBytes = 0L
  private var filesWritten = 0L
  override def warmUps: Int = 2
  private val corpusDocs = CorpusRows.count(nCorpus)
  val docs: Long = corpusDocs + nWhales

  protected lazy val golden: collection.Map[String, String] = {
    val m = new mutable.HashMap[String, String]()
    m.sizeHint(docs.toInt)
    CorpusRows.ids(nCorpus).foreach { i => val (u, g) = Corpus.golden(seed)(i); m(u) = g }
    (0L until nWhales).foreach { i => val (u, g) = Whales.golden(seed)(i); m(u) = g }
    m
  }

  def materialise(b: Bench, d: String): Unit = {
    val spark = b.spark
    import spark.implicits._
    val s = seed // a local, so the closures do not capture `this`
    val (corpusRow, whaleRow) = (Corpus.row(s) _, Whales.row(s) _)
    val corpus = spark.range(nCorpus).as[Long].filter((i: Long) => CorpusRows.kept(i))
      .repartition(Files).map(corpusRow)
    val whales = spark.range(nWhales).repartition(nWhales.toInt).as[Long].map(whaleRow)
    corpus.union(whales).toDF().write.parquet(d)
    dir = d
    inputBytes = Bench.du(new File(d))._2
  }

  def pass(b: Bench, passId: String, check: Boolean): PassOutcome = {
    held = null
    val out = new File(b.work, s"job-${b.nextSerial()}")
    val spark = b.spark
    import spark.implicits._
    val (_, wall) = b.call("pipeline.job.run", passId) {
      ExtractJob.run(spark, spark.read.parquet(dir), out.getPath, nBuckets = Buckets)
    }
    filesWritten = Bench.du(out)._1
    val lineage = new File(out, "lineage").getPath
    val committed = spark.read.parquet(lineage).count()
    // resume is idempotent and short, so it is timed several times
    val resume = MetricMath.median((1 to Resumes).map { _ =>
      b.call("pipeline.job.resume", passId) {
        ExtractJob.run(spark, spark.read.parquet(dir), out.getPath, nBuckets = Buckets)
      }._2
    })
    val outcome =
      if (!check) PassOutcome(wall, resume, 0, 0, Nil)
      else {
        val rows = spark.read.parquet(new File(out, "extracted").getPath)
          .select("url", "extracted_text", "status").as[(String, String, String)].collect()
        val (failed, listed) = this.check(rows.iterator)
        // resume must find every bucket committed and commit nothing more
        val l = spark.read.parquet(lineage)
          .selectExpr("count(*)", "count(distinct warc_bucket)", "sum(n_ok) + sum(n_err)")
          .as[(Long, Long, Long)].head()
        val lineageOk = l._1 == committed && l._1 == l._2 && l._3 == docs
        held = rows
        if (lineageOk) PassOutcome(wall, resume, docs, failed, listed)
        else PassOutcome(wall, resume, docs, failed + 1,
          listed :+ s"lineage: $committed rows after run, (rows, buckets, docs) = $l after resume")
      }
    Bench.delete(out)
    outcome
  }

  def layers(b: Bench, t: Traced): (Seq[(String, Double)], Seq[PassOutcome]) = {
    // the pipeline.extract layer on this corpus, called directly once
    val (rows, extractWall) = extractAll(b, dir, t.probeParent)
    val (failed, listed) = check(texts(rows))
    val probe = PassOutcome(extractWall, extractWall, docs, failed, listed)
    val corpusSample = (0L until math.min(TimedSample.toLong, nCorpus))
      .map(i => (Corpus.row(seed)(i), corpusVariant(i)))
    val whaleRows = (0L until nWhales).map(i => (Whales.row(seed)(i), "whale"))
    val timed = KernelTimers.time(corpusSample ++ whaleRows)
    val (corpusTimed, whaleTimed) = timed.splitAt(corpusSample.size)
    val kernelUs = corpusTimed.map(_.kernelNs).sum / 1000.0 * corpusDocs / math.max(corpusTimed.size, 1) +
      whaleTimed.map(_.kernelNs).sum / 1000.0
    val share = kernelUs / (b.cores * extractWall * 1e6)
    val extractCalls = b.calls.filter(c => c.name == "pipeline.extract").toSeq
    val runs = b.calls.filter(_.name == "pipeline.job.run").toSeq
    val resumes = b.calls.filter(_.name == "pipeline.job.resume").toSeq
    val (rt, runIdle) = SparkLayer(b, runs)
    val (st, resumeIdle) = SparkLayer(b, resumes)
    val nr = math.max(runs.size, 1).toDouble
    val ns = math.max(resumes.size, 1).toDouble
    (KernelTimers.metrics(timed) ++ errMetrics ++ SparkLayer.extractMetrics(b, extractCalls, share) ++ Seq(
      "pipeline.job.jobs" -> rt.jobs / nr,
      "pipeline.job.tasks" -> rt.tasks / nr,
      "pipeline.job.task_ms" -> rt.taskMs / nr,
      "pipeline.job.driver_gap_ms" -> runIdle / nr,
      "pipeline.job.bytes_written" -> rt.bytesWritten / nr,
      "pipeline.job.files_written" -> filesWritten.toDouble,
      "pipeline.job.resume_jobs" -> st.jobs / ns,
      "pipeline.job.resume_driver_gap_ms" -> resumeIdle / ns), Seq(probe))
  }
}

object Curate {
  /** the curation surfaces, by ops family. The ann surface is q45: q54 and
    * q49, like q15 and q44, miss the recall floor their audit asserts on
    * the sf0.1 tables (the floors were measured at sf0.001), so they fail
    * their oracle there. */
  final val Surfaces: Seq[(String, String)] = Seq(
    "tier" -> "q102_host_tiers",
    "graph" -> "q95_host_components",
    "pairs" -> "q21_jaccard_all_pairs",
    "pairs" -> "q123_fingerprint_matches",
    "ann" -> "q45_simsearch_ivfpq")

  final val Families: Seq[String] = Seq("tier", "graph", "pairs", "ann")

  /** canonical text of a result value, for the pass-to-pass digest */
  def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case s: collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case other => other.toString
  }
}

/** Curation surfaces from `SparkEntry.queries` over a fixed input (the
  * documents and embeddings tables of the sf0.1 test data). */
final class Curate(dataDir: String) extends Workload {
  import Curate._
  private var dir = ""
  var inputBytes = 0L
  private lazy val queries = SparkEntry.queries
  /** first checked pass: schema, rows and digest of each surface */
  private val reference = mutable.LinkedHashMap[String, (StructType, Array[Row], String)]()
  private var nDocs = 0L
  def docs: Long = nDocs

  def materialise(b: Bench, d: String): Unit = {
    val to = new File(d)
    to.mkdirs()
    Option(new File(dataDir).listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(to, f.getName).toPath)
    }
    dir = d
    inputBytes = Bench.du(to)._2
    nDocs = b.spark.read.parquet(s"$d/documents.parquet").count()
  }

  def pass(b: Bench, passId: String, check: Boolean): PassOutcome = {
    held = null
    var wall = 0.0
    var failed = 0L
    val listed = mutable.ArrayBuffer[String]()
    val results = Surfaces.map { case (family, q) =>
      val (res, w) = b.call(s"ops.$family.$q", passId) {
        try { val df = queries(q)(b.spark, dir); Right((df.schema, df.collect())) }
        catch { case e: Exception => Left(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      wall += w
      q -> res
    }
    if (check) {
      results.foreach {
        case (q, Left(err)) => failed += 1; listed += err
        case (q, Right((schema, rows))) =>
          val d = MetricMath.digest(rows.map(canon(_)))
          reference.get(q) match {
            case None => reference(q) = (schema, rows, d)
            case Some((_, _, ref)) if ref != d =>
              failed += 1; listed += s"$q: result differs from the first pass ($d vs $ref)"
            case _ =>
          }
      }
      held = results
    }
    PassOutcome(wall, wall, if (check) Surfaces.size.toLong else 0L, failed, listed.toSeq)
  }

  /** writes the first checked pass's results and their oracle SQL for the
    * DuckDB comparison run.py makes */
  def dump(b: Bench, to: String): Unit = {
    val sqls = SparkEntry.oracleSql
    reference.foreach { case (q, (schema, rows, _)) =>
      b.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$to/$q")
    }
    val json = Json.obj(reference.keys.toSeq.map(q => q -> Json.str(sqls(q))))
    java.nio.file.Files.writeString(new File(to, "oracle_sql.json").toPath, json)
  }

  def layers(b: Bench, t: Traced): (Seq[(String, Double)], Seq[PassOutcome]) = {
    val ops = b.calls.filter(_.name.startsWith("ops.")).toSeq
    val (all, idle) = SparkLayer(b, ops)
    val n = math.max(t.passIds.size, 1).toDouble
    (Seq(
      "ops.jobs" -> all.jobs / n,
      "ops.stages" -> all.stages / n,
      "ops.tasks" -> all.tasks / n,
      "ops.task_ms" -> all.taskMs / n,
      "ops.cpu_ms" -> all.cpuMs / n,
      "ops.shuffle_write_bytes" -> all.shuffleWriteBytes / n,
      "ops.shuffle_records" -> all.shuffleRecords / n,
      "ops.spill_bytes" -> all.spillBytes / n,
      "ops.straggler_ratio" -> all.stragglerRatio,
      "ops.driver_gap_ms" -> idle / n) ++
      Families.flatMap { f =>
        val calls = ops.filter(_.name.startsWith(s"ops.$f."))
        val (ft, _) = SparkLayer(b, calls)
        Seq(
          s"ops.$f.wall_s" -> calls.map(_.wallS).sum / n,
          s"ops.$f.jobs" -> ft.jobs / n,
          s"ops.$f.shuffle_write_bytes" -> ft.shuffleWriteBytes / n,
          s"ops.$f.task_ms" -> ft.taskMs / n)
      }, Nil)
  }
}
