package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** runs `body` on a fresh temporary directory and deletes the directory
    * afterwards, so a suite run leaves nothing under java.io.tmpdir */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally scala.util.Using.resource(java.nio.file.Files.walk(dir)) { paths =>
      import scala.jdk.CollectionConverters._
      paths.iterator().asScala.toVector.reverse.foreach(java.nio.file.Files.deleteIfExists)
    }
  }
}

/** Golden-corpus diff suite (BASELINE.md correctness gate): full-outer join
  * on url, byte-equality of extracted_text, zero missing/extra. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkFixture.withTempDir
  private lazy val spark = SparkFixture.spark

  test("kernel golden diff: 300 synthesized pages, 0 mismatches") {
    // kernel-level check (no Spark): every row's extraction equals golden
    val bad = (0L until 300L).flatMap { i =>
      val row = Corpus.row(42L)(i)
      val out = ExtractKernel.extractOne(row)
      val (_, expected) = Corpus.golden(42L)(i)
      if (out.status != "ok") Some((i, s"status=${out.status}"))
      else if (out.extracted_text != expected)
        Some((i, s"mismatch:\n--- got ---\n${out.extracted_text.take(300)}\n--- want ---\n${expected.take(300)}"))
      else None
    }
    assert(bad.isEmpty, s"${bad.size} mismatches; first: ${bad.headOption}")
  }

  test("spark golden diff: full-outer join, all match, no missing/extra") {
    import spark.implicits._
    val pages = spark.range(200).as[Long].map(Corpus.row(42L)).toDF()
    val extracted = ExtractJob.extract(ExtractJob.saltedRepartition(spark, pages, 8)).toDF()
    val golden = spark.range(200).as[Long].map(Corpus.golden(42L)).toDF("url", "expected_text")
    val diff = ExtractJob.goldenDiff(extracted, golden)
    assert(diff.count() == 200)
    assert(diff.filter(!org.apache.spark.sql.functions.col("matches")).count() == 0)
  }

  test("skewed oversize row extracts and does not error") {
    val big = Corpus.row(42L)(Corpus.SKEW_EVERY.toLong)
    assert(big.html.length > 10 * Corpus.row(42L)(1L).html.length)
    val out = ExtractKernel.extractOne(big)
    assert(out.status == "ok")
    assert(out.extracted_text == Corpus.golden(42L)(Corpus.SKEW_EVERY.toLong)._2)
  }

  test("run(): lineage written per bucket; resume skips done buckets") {
    import spark.implicits._
    withTempDir("graft-job") { dir =>
      val pages = spark.range(60).as[Long].map(Corpus.row(42L)).toDF()
      val (resultsPath, lineagePath) = ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      val results = spark.read.parquet(resultsPath)
      assert(results.count() == 60)
      val lineage = spark.read.parquet(lineagePath)
      val buckets1 = lineage.select("warc_bucket").distinct().count()
      assert(buckets1 >= 1)
      // resume: re-run is a no-op (no new lineage rows)
      ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      val lineage2 = spark.read.parquet(lineagePath)
      assert(lineage2.count() == lineage.count())
    }
  }

  test("run(): staged snapshot is NOT reused when the input or nBuckets changes") {
    import spark.implicits._
    withTempDir("graft-job-id") { dir =>
      val pages40 = spark.range(40).as[Long].map(Corpus.row(42L)).toDF()
      val (resultsPath, _) = ExtractJob.run(spark, pages40, dir, nBuckets = 4, partitions = 4)
      assert(spark.read.parquet(resultsPath).count() == 40)
      // different INPUT at the same outDir: round-3 behavior silently
      // extracted the stale 40-doc snapshot; now the job re-stages and the
      // results reflect the 70-doc corpus
      val pages70 = spark.range(70).as[Long].map(Corpus.row(42L)).toDF()
      val (resultsPath2, lineagePath2) = ExtractJob.run(spark, pages70, dir, nBuckets = 4, partitions = 4)
      assert(spark.read.parquet(resultsPath2).count() == 70,
        "changed input must re-stage, not reuse the stale snapshot")
      // lineage was cleared with the stale snapshot: rows describe only the new corpus
      val l = spark.read.parquet(lineagePath2)
      assert(l.agg(org.apache.spark.sql.functions.sum("n_ok")).head.getLong(0) == 70L)
      // different nBuckets, same input: also re-stages (bucket layout changed)
      ExtractJob.run(spark, pages70, dir, nBuckets = 8, partitions = 4)
      val staged = spark.read.parquet(s"$dir/staged")
      assert(staged.select("warc_bucket").distinct().count() > 4,
        "nBuckets change must re-stage with the new bucket count")
      assert(spark.read.parquet(resultsPath2).count() == 70)
    }
  }

  test("run(): empty input completes as a no-op, not a crash") {
    import spark.implicits._
    withTempDir("graft-job-empty") { dir =>
      val pages = spark.range(0).as[Long].map(Corpus.row(42L)).toDF()
      // an empty corpus stages zero part files; the schema-less read-back of
      // that directory used to throw AnalysisException
      val (resultsPath, lineagePath) = ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      assert(!new java.io.File(resultsPath.stripPrefix("file:")).exists() ||
        spark.read.parquet(resultsPath).count() == 0)
      assert(!new java.io.File(lineagePath.stripPrefix("file:")).exists())
    }
  }

  test("resume: pre-committed lineage bucket is skipped, rest completes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    withTempDir("graft-resume") { dir =>
      val pages = spark.range(60).as[Long].map(Corpus.row(42L)).toDF()
      val bucketed = ExtractJob.withBucket(pages, 4)
      val buckets = bucketed.select("warc_bucket").distinct().as[Long].collect().sorted
      val skipBucket = buckets.head
      // simulate a prior partial run: lineage committed for one bucket only
      spark.createDataFrame(Seq((0L, 0L, 0L, 0L, skipBucket, 0L)))
        .toDF("n_ok", "n_err", "bytes_in", "chars_out", "warc_bucket", "wall_ms")
        .write.parquet(s"$dir/lineage")
      ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      val results = spark.read.parquet(s"$dir/extracted")
      val expected = bucketed.filter(col("warc_bucket") =!= skipBucket).count()
      assert(results.count() == expected) // skipped bucket never reprocessed
      val lineage = spark.read.parquet(s"$dir/lineage")
      assert(lineage.select("warc_bucket").distinct().count() == buckets.length)
    }
  }

  test("staged input: per-group scan prunes to the group's bucket partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withTempDir("graft-prune") { dir =>
      val pages = spark.range(60).as[Long].map(Corpus.row(42L)).toDF()
      ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      // the shape run() uses per group: staged read + bucket isin filter
      val staged = spark.read.parquet(s"$dir/staged")
        .withColumn("warc_bucket", col("warc_bucket").cast("long"))
      val oneGroup = staged.filter(col("warc_bucket").isin(0L, 1L))
      val plan = oneGroup.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: ["), s"no partition filter section:\n$plan")
      val pf = plan.split("PartitionFilters: \\[")(1).split("]")(0)
      assert(pf.trim.nonEmpty && pf.contains("warc_bucket"),
        s"partition filter empty — group scan reads every bucket directory:\n$plan")
    }
  }

  test("lineage metrics from observe() match the written results exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withTempDir("graft-observe") { dir =>
      val pages = spark.range(50).as[Long].map(Corpus.row(42L)).toDF()
      val (resultsPath, lineagePath) = ExtractJob.run(spark, pages, dir,
        nBuckets = 4, partitions = 4, bucketsPerJob = 2)
      val results = spark.read.parquet(resultsPath)
      val fromResults = results.groupBy("warc_bucket")
        .agg(sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum("bytes_in").as("bytes_in"), sum("chars_out").as("chars_out"))
        .collect().map(r => (r.getAs[Number]("warc_bucket").longValue(),
          (r.getAs[Long]("n_ok"), r.getAs[Long]("bytes_in"), r.getAs[Long]("chars_out")))).toMap
      val fromLineage = spark.read.parquet(lineagePath)
        .collect().map(r => (r.getAs[Long]("warc_bucket"),
          (r.getAs[Long]("n_ok"), r.getAs[Long]("bytes_in"), r.getAs[Long]("chars_out")))).toMap
      assert(fromLineage == fromResults, s"lineage $fromLineage != results $fromResults")
      assert(fromLineage.values.map(_._1).sum == 50L)
    }
  }

  /** pages above SKEW_THRESHOLD_BYTES: a Corpus HTML page padded past the
    * threshold, and an uncompressed one-page PDF of Courier lines */
  private def whaleRows: Seq[PageRow] = {
    import graft.fixtures.PdfBuilder
    val page = Corpus.row(42L)(1L)
    val html = page.copy(url = "https://whale.test/html/0",
      html = page.html ++ Array.fill(ExtractJob.SKEW_THRESHOLD_BYTES)(' '.toByte))
    val content = (0 until 24000).map(k => s"(whale line $k of an uncompressed page) Tj\n0 -14 Td\n")
      .mkString("BT\n/F1 12 Tf\n72 720 Td\n", "", "ET\n")
    val pdf = PageRow("https://whale.test/pdf/1", new java.sql.Timestamp(Corpus.EPOCH_MS),
      PdfBuilder.onePage(PdfBuilder.bytes(content), Map("/F1" -> 5), Seq(PdfBuilder.courier(5))),
      "", "en")
    Seq(html, pdf)
  }

  test("whales: both extraction paths return every row as the kernel does; staging bands them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val whales = whaleRows
    assert(whales.forall(_.html.length > ExtractJob.SKEW_THRESHOLD_BYTES))
    val rows = (0L until 60L).map(Corpus.row(42L)) ++ whales
    val pages = rows.toDS().toDF()
    // wall_us is the one field that differs between two extractions of a row
    val expected = rows.map(r => r.url -> ExtractKernel.extractOne(r).copy(wall_us = 0L)).toMap
    assert(whales.forall(w => expected(w.url).status == "ok"))
    def byUrl(out: Array[ExtractedRow]) = {
      assert(out.length == rows.size, s"${out.length} rows back for ${rows.size}")
      out.map(r => r.url -> r.copy(wall_us = 0L)).toMap
    }
    assert(byUrl(ExtractJob.extract(ExtractJob.saltedRepartition(spark, pages, 4)).collect()) == expected)
    withTempDir("graft-whales") { dir =>
      // every file read of a first run is a staged scan (the input is in
      // memory and no lineage exists yet): one read per page means one
      // record read per staged row
      val recordsRead = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(t.taskMetrics).foreach(m => recordsRead.addAndGet(m.inputMetrics.recordsRead))
      }
      spark.sparkContext.addSparkListener(listener)
      val (resultsPath, _) =
        try {
          val paths = ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
          org.apache.spark.TestBus.drain(spark.sparkContext)
          paths
        } finally spark.sparkContext.removeSparkListener(listener)
      assert(recordsRead.get == rows.size, "a staged page was read more than once")
      val fields = classOf[ExtractedRow].getDeclaredFields.map(_.getName).toSeq
      assert(byUrl(spark.read.parquet(resultsPath).select(fields.map(col): _*)
        .as[ExtractedRow].collect()) == expected)
      // partition inference reads the directory value as a string
      val staged = spark.read.parquet(s"$dir/staged")
      assert(staged.filter(col("whale") === "true").select("url").as[String].collect().toSet ==
        whales.map(_.url).toSet, "whale=true must hold exactly the whales")
    }
  }

  test("run(): a v1 staged snapshot (no whale band) is re-staged, not reused") {
    import spark.implicits._
    withTempDir("graft-job-v1") { dir =>
      val pages = spark.range(40).as[Long].map(Corpus.row(42L)).toDF()
      val pruned = pages.select("url", "warc_ts", "html")
      // the layout and identity a v1 run left: partitioned by warc_bucket only
      ExtractJob.withBucket(pruned, 4).drop("whale")
        .write.partitionBy("warc_bucket").parquet(s"$dir/staged")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/staged/_GRAFT_IDENTITY"),
        s"v1|nBuckets=4|schema=${pruned.schema.catalogString}|rows=40".getBytes("UTF-8"))
      val (resultsPath, _) = ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      assert(spark.read.parquet(resultsPath).count() == 40)
      val bucketDirs = new java.io.File(s"$dir/staged").listFiles().filter(_.getName.startsWith("warc_bucket="))
      assert(bucketDirs.nonEmpty && bucketDirs.forall(_.list().exists(_.startsWith("whale="))),
        "the v1 snapshot was reused instead of re-staged")
    }
  }

  test("run(): a fully done resume finds its buckets without a Spark job over the staged rows") {
    import spark.implicits._
    withTempDir("graft-job-done") { dir =>
      val pages = spark.range(60).as[Long].map(Corpus.row(42L)).toDF()
      ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      // counted with AQE off, as the plan ledger counts: with AQE on, a
      // distinct over a scan pruned to no file starts no job, which hides
      // the query this test keeps out
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val jobs = try org.apache.spark.TestBus.jobsIn(spark.sparkContext, "graft-done-resume") {
        ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      // the input-identity count and the lineage read; listing the staged
      // bucket directories replaced a distinct query over the staged rows,
      // which made it 3
      assert(jobs <= 2, s"a fully done resume ran $jobs Spark jobs")
    }
  }

  test("quarantine: corrupt pdf rows get err status, job survives") {
    import spark.implicits._
    val rows = Seq(
      PageRow("u1", new java.sql.Timestamp(0), "%PDF-1.4 truncated garbage".getBytes, "", "en"),
      PageRow("u2", new java.sql.Timestamp(0), Corpus.pdfPayload(42L, 11L), "", "en"))
    val out = ExtractJob.extract(rows.toDS()).collect()
    assert(out.find(_.url == "u1").get.status.startsWith("err:"))
    assert(out.find(_.url == "u2").get.status == "ok")
  }
}
