package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, SaveMode}
import org.apache.spark.sql.functions._

/** The scale pipeline (SURVEY.md §3.4, north_rule):
  *
  *   pages table -> stage (partitioned by warc_bucket, then whale) ->
  *   [resume filter] -> per bucket group: pruned small-band scan + pruned
  *   whale-band scan spread round-robin -> mapPartitions(ExtractKernel) ->
  *   results sink (partitioned by warc_bucket) + per-bucket lineage sink.
  *
  * Scale design notes (10^12 rows, 1000 executors):
  *  - every page is read once per extraction pass: the raw path runs the
  *    kernel inside the scan partitions, and the staged path reads the
  *    small band and the whale band from disjoint partition directories;
  *  - the ONLY wide operations are the whale band's round-robin spread
  *    (the skew mitigation) and the tiny lineage rollup;
  *  - column pruning: the kernel needs url/warc_ts/html only, so parquet
  *    scans never read `text`/`lang`;
  *  - skew: staging writes payloads > SKEW_THRESHOLD_BYTES under
  *    `whale=true`, and only that band is spread round-robin, so no task
  *    owns two whales (north_rule "salted repartitioning for skewed
  *    large-PDF partitions");
  *  - resume: lineage rows are committed per warc_bucket after results are
  *    durable; a restart skips finished buckets and reprocesses only the
  *    remainder (idempotent: results are overwritten per bucket partition
  *    directory, not appended).
  */
object ExtractJob {

  final val N_BUCKETS_DEFAULT = 64
  final val SKEW_THRESHOLD_BYTES = 1 << 20 // 1 MiB: "large-PDF" band

  /** The staged layout's two partition columns: `warc_bucket`, the
    * bucket(warc_ts) transform (Iceberg-style; Parquet stand-in), and
    * `whale`, true for payloads above SKEW_THRESHOLD_BYTES. */
  def withBucket(pages: DataFrame, nBuckets: Int): DataFrame =
    pages.withColumn("warc_bucket", pmod(xxhash64(col("warc_ts")), lit(nBuckets)))
      .withColumn("whale", length(col("html")) > SKEW_THRESHOLD_BYTES)

  /** The raw-input extraction shape; input must have url/warc_ts/html.
    * `text`/`lang` are NOT read from the source — the kernel never uses
    * them, and at corpus scale `text` is a full duplicate of the payload,
    * so column pruning here halves scan bytes (verified by PlanSpec).
    *
    * Without `shuffleSmall` the plan has no exchange: the kernel runs
    * inside the scan partitions and reads each page once. Splitting off the
    * whales here would cost a second read of every page, because one plan
    * cannot read a page once and shuffle only part of it: an exchange
    * moves all of its stage's output. Whale balance on this path comes
    * from the byte-bounded file splits (`spark.sql.files.maxPartitionBytes`),
    * and the kernel quarantines payloads above its 256 MiB cap as
    * `err:oversized`. `ExtractJob.run` stages its input with a whale
    * column, so it can spread the whales without a second read.
    *
    * With `shuffleSmall`, every row is hash-spread by url over
    * `partitions` (useful when the source layout is pathologically
    * clustered). */
  def saltedRepartition(
      spark: SparkSession,
      pages: DataFrame,
      partitions: Int,
      shuffleSmall: Boolean = false): Dataset[PageRow] = {
    import spark.implicits._
    val typed = pages.select(col("url"), col("warc_ts"), col("html"),
      lit("").as("text"), lit("").as("lang"))
    (if (shuffleSmall) typed.repartition(partitions, col("url")) else typed).as[PageRow]
  }

  /** run extraction over a prepared Dataset (no IO) */
  def extract(pages: Dataset[PageRow]): Dataset[ExtractedRow] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(ExtractKernel.runPartition _)
  }

  /** The staged path's salted repartition, carrying the warc_bucket key
    * through the kernel; input must have the `withBucket` columns. The
    * small band (`whale = false`) stays in its scan partitions; the whale
    * band goes round-robin over `partitions`, so each whale lands
    * alone-ish. Over the staged layout both filters are partition
    * filters, so no file is opened by both bands. */
  private[pipeline] def saltedRepartitionKeyed(
      spark: SparkSession,
      pages: DataFrame,
      partitions: Int): Dataset[(Long, PageRow)] = {
    import spark.implicits._
    def keyed(band: DataFrame): DataFrame =
      band.select(col("warc_bucket").cast("long").as("_1"),
        struct(col("url"), col("warc_ts"), col("html"),
          lit("").as("text"), lit("").as("lang")).as("_2"))
    val small = keyed(pages.filter(!col("whale")))
    val whales = keyed(pages.filter(col("whale"))).repartition(math.max(partitions, 1))
    small.union(whales).as[(Long, PageRow)]
  }

  /** keyed extraction: (bucket, page) -> (bucket, extracted) */
  private[pipeline] def extractKeyed(
      pages: Dataset[(Long, PageRow)]): Dataset[(Long, ExtractedRow)] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(_.map { case (b, p) => (b, ExtractKernel.extractOne(p)) })
  }

  /** full job with sinks + resume. Returns (resultsPath, lineagePath).
    *
    * Buckets are processed in groups of `bucketsPerJob` (one Spark job per
    * group instead of one per bucket: 64 buckets = 8 jobs, not 64), written
    * once via dynamic partition overwrite, and the per-bucket lineage
    * metrics come from `Dataset.observe` aggregates computed in the SAME
    * pass as the write — no read-back of just-written results. Resume
    * granularity stays per bucket: lineage rows are committed per bucket
    * only after the group's results are durable, and a restart reprocesses
    * exactly the buckets with no lineage row (dynamic overwrite makes the
    * re-write of those bucket directories idempotent). */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      outDir: String,
      nBuckets: Int = N_BUCKETS_DEFAULT,
      partitions: Int = 0,
      bucketsPerJob: Int = 8): (String, String) = {
    import spark.implicits._
    val resultsPath = s"$outDir/extracted"
    val lineagePath = s"$outDir/lineage"
    val nPart = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism * 2

    // Production shape: the input is staged ONCE, partitioned by the bucket
    // column (the Parquet stand-in for an Iceberg bucket(warc_ts) transform
    // — with Iceberg the source table is already partitioned and this write
    // disappears) and under it by the whale band. Each group's isin-filter
    // and each band's whale filter then become PARTITION FILTERS on the
    // staged scan: only that group's directories are read, and each file
    // by one band only. A
    // .cache() of the full input here (the round-2 shape) pins the corpus
    // incl. payloads in the block manager — fine at bench scale, not at
    // 10^12 rows. Staging is itself resumable (_SUCCESS-gated, reused on
    // restart so a resumed job re-reads, not re-writes).
    val stagedPath = s"$outDir/staged"
    // Hadoop FS API, not java.io.File: outDir may be hdfs://, s3a://, …;
    // java.io.File.exists() is always false there, which would silently
    // re-stage the whole corpus on every restart.
    val hPath = new org.apache.hadoop.fs.Path(s"$stagedPath/_SUCCESS")
    val hFs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Staging-reuse is gated on INPUT IDENTITY, not just _SUCCESS (the
    // round-3 silent-wrong-output hole): a rerun at the same outDir with a
    // different `pages` input or nBuckets must RE-STAGE, not extract the
    // stale snapshot. The fingerprint is (nBuckets, staged schema, input
    // row count) written beside _SUCCESS after a successful stage; the
    // count is one pass over the input — footer-only for parquet sources,
    // and resume is when identity checking matters most. Distinct inputs
    // with identical schema+count are indistinguishable to this check
    // (fingerprinting content would cost a full scan + hash of the corpus)
    // — callers mutating data in place at constant cardinality should use
    // a fresh outDir. The leading version names the staged layout (v2:
    // warc_bucket=B/whale=W), so a snapshot of an older layout re-stages.
    val idPath = new org.apache.hadoop.fs.Path(s"$stagedPath/_GRAFT_IDENTITY")
    val prunedPages = pages.select("url", "warc_ts", "html")
    val stagingId =
      s"v2|nBuckets=$nBuckets|schema=${prunedPages.schema.catalogString}|rows=${prunedPages.count()}"
    val reusable = hFs.exists(hPath) && hFs.exists(idPath) && {
      val st = hFs.getFileStatus(idPath)
      val buf = new Array[Byte](st.getLen.toInt)
      val in = hFs.open(idPath)
      try in.readFully(buf) finally in.close()
      new String(buf, java.nio.charset.StandardCharsets.UTF_8) == stagingId
    }
    if (!reusable) {
      if (hFs.exists(hPath)) {
        // identity mismatch: the staged snapshot — and any results/lineage
        // extracted FROM it — describe a different (input, nBuckets).
        // Keeping lineage would make resume skip buckets "done" on the old
        // corpus: complete-looking results over stale data. Wipe all three
        // and start clean, loudly.
        System.err.println(
          s"[graft.ExtractJob] staged snapshot at $stagedPath does not match the " +
            s"current input (expected '$stagingId') — re-staging and clearing " +
            "previous results/lineage at this outDir")
        hFs.delete(new org.apache.hadoop.fs.Path(stagedPath), true)
        hFs.delete(new org.apache.hadoop.fs.Path(resultsPath), true)
        hFs.delete(new org.apache.hadoop.fs.Path(lineagePath), true)
      }
      // stage only the columns the kernel reads: `text` duplicates the
      // payload at corpus scale and `lang` is unused, so pruning here
      // halves staged bytes and write I/O.
      withBucket(prunedPages, nBuckets)
        .write.mode(SaveMode.Overwrite).partitionBy("warc_bucket", "whale").parquet(stagedPath)
      val out = hFs.create(idPath, true)
      try out.write(stagingId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // explicit schema: an empty corpus stages zero part files (only
    // _SUCCESS), and schema inference on that directory throws — an empty
    // input is a legitimate no-op, not a crash.
    val stagedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("warc_ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("html", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("warc_bucket", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("whale", org.apache.spark.sql.types.BooleanType)))
    val staged = spark.read.schema(stagedSchema).parquet(stagedPath)
    // resume: skip the buckets with committed lineage (north_rule).
    // Read with an explicit schema of the one column used (the commit
    // below writes it as a long): inferring the schema costs a Spark job
    // on every run and resume. A missing directory (first run) still
    // throws, so it still means no bucket is done.
    val doneSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("warc_bucket", org.apache.spark.sql.types.LongType)))
    val doneBuckets: Set[Long] =
      try spark.read.schema(doneSchema).parquet(lineagePath)
        .select("warc_bucket").as[Long].collect().toSet
      catch { case _: Exception => Set.empty }
    // the staged buckets are its partition directories: the writer makes
    // a warc_bucket=B directory only for a bucket that holds rows, so a
    // listing finds them with no Spark job
    val buckets = hFs.listStatus(new org.apache.hadoop.fs.Path(stagedPath))
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case d if d.startsWith("warc_bucket=") => d.stripPrefix("warc_bucket=").toLong }
      .filterNot(doneBuckets).sorted
    buckets.grouped(math.max(bucketsPerJob, 1)).zipWithIndex.foreach { case (group, gi) =>
      val slice = staged.filter(col("warc_bucket").isin(group: _*))
      val flat = extractKeyed(saltedRepartitionKeyed(spark, slice, nPart))
        .toDF("warc_bucket", "row")
        .select(col("warc_bucket"), col("row.*"))
      val t0 = System.currentTimeMillis()
      // per-bucket metrics in the same pass as the write (no read-back)
      val obs = org.apache.spark.sql.Observation(s"graft_lineage_$gi")
      val aggs = group.toSeq.flatMap { b =>
        Seq(
          coalesce(sum(when(col("warc_bucket") === b && col("status") === "ok", 1L)
            .otherwise(0L)), lit(0L)).as(s"ok_$b"),
          coalesce(sum(when(col("warc_bucket") === b && col("status") =!= "ok", 1L)
            .otherwise(0L)), lit(0L)).as(s"err_$b"),
          coalesce(sum(when(col("warc_bucket") === b, col("bytes_in"))
            .otherwise(0L)), lit(0L)).as(s"bytes_$b"),
          coalesce(sum(when(col("warc_bucket") === b, col("chars_out"))
            .otherwise(0L)), lit(0L)).as(s"chars_$b"))
      }
      flat.observe(obs, aggs.head, aggs.tail: _*)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("warc_bucket")
        .parquet(resultsPath)
      // lineage commit AFTER results are durable => idempotent resume
      val m = obs.get
      val wall = System.currentTimeMillis() - t0
      val lineageRows = group.toSeq.map { b =>
        (m(s"ok_$b").asInstanceOf[Long], m(s"err_$b").asInstanceOf[Long],
          m(s"bytes_$b").asInstanceOf[Long], m(s"chars_$b").asInstanceOf[Long], b, wall)
      }
      lineageRows.toDF("n_ok", "n_err", "bytes_in", "chars_out", "warc_bucket", "wall_ms")
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(lineagePath)
    }
    (resultsPath, lineagePath)
  }

  /** golden full-outer diff on url (SURVEY.md §2E): byte-equality of
    * extracted_text vs expected. Returns per-url match rows. */
  def goldenDiff(extracted: DataFrame, golden: DataFrame): DataFrame = {
    val e = extracted.select(col("url"), col("extracted_text"))
    val g = golden.select(col("url"), col("expected_text"))
    e.join(g, Seq("url"), "full_outer")
      .withColumn("matches",
        col("extracted_text").isNotNull && col("expected_text").isNotNull &&
          col("extracted_text") === col("expected_text"))
  }
}
