package graft

import org.apache.spark.sql.SparkSession

/** Round-6 optimization harness (guide §1): time a SUBSET of
  * `SparkEntry.queries` under the exact `Bench` session config, without
  * touching the frozen `Bench.scala`. Not part of the driver contract.
  *
  * Usage: `sbt "runMain graft.BenchExtra q144,q155 5"`
  *  - arg 1: comma-separated query-name prefixes (default: all)
  *  - arg 2: reps per query (default 3; interleaved passes like Bench)
  *
  * Env:
  *  - SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS — same as Bench
  *  - SPARK_GRAFT_NOOP=true — time a noop-sink write (guide §1.4) instead
  *    of Bench's count() action, to see compute without count-pruning.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val prefixes: Seq[String] =
      if (args.nonEmpty && args(0).nonEmpty) args(0).split(",").toSeq else Seq("")
    val nReps = if (args.length > 1) args(1).toInt else 3
    val useNoop = sys.env.get("SPARK_GRAFT_NOOP").contains("true")

    // identical session recipe to graft.Bench (the frozen harness)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tasks = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    require(tasks.nonEmpty, s"no queries match ${prefixes.mkString(",")}")

    // per-run job/stage/task accounting (the UI is disabled in the bench
    // harness, so this listener is the guide-§1 empirical view: is a slow
    // query many tiny sequential jobs, or few heavy stages?)
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val nStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val nTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        nJobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        nStages.incrementAndGet()
        nTasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
    })
    def counters(): (Int, Int, Int, Long) =
      (nJobs.get(), nStages.get(), nTasks.get(), taskMs.get())

    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        if (useNoop) df.write.format("noop").mode("overwrite").save()
        else df.count()
      } catch { case t: Throwable =>
        System.err.println(s"[BenchExtra] $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
      } finally spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }

    tasks.foreach { case (name, fn) => runOne(name, fn) } // warmup pass
    val acc = scala.collection.mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val prof = scala.collection.mutable.Map[String, (Int, Int, Int, Long)]()
    (1 to nReps).foreach { rep =>
      tasks.foreach { case (name, fn) =>
        val before = counters()
        acc(name) = acc(name) :+ runOne(name, fn)
        if (rep == 1) {
          // settle listener events before reading (best-effort; task-time
          // is advisory, job/stage counts are exact per run)
          Thread.sleep(50)
          val after = counters()
          prof(name) = (after._1 - before._1, after._2 - before._2,
            after._3 - before._3, after._4 - before._4)
        }
      }
    }
    val lines = tasks.map { case (name, _) =>
      val s = acc(name).sorted
      val med = s(s.size / 2)
      val (j, st, tk, tm) = prof.getOrElse(name, (0, 0, 0, 0L))
      f""""$name":{"median":$med%.3f,"min":${s.head}%.3f,"jobs":$j,"stages":$st,"tasks":$tk,"task_ms":$tm,"reps":[${acc(name).map(v => f"$v%.3f").mkString(",")}]}"""
    }
    println(lines.mkString("{", ",\n", "}"))
    spark.stop()
  }
}
