package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates (the 100 TB criteria): column pruning reaches
  * the scan, dimension joins broadcast, filters push down, the extraction
  * pipeline has no accidental extra shuffles. */
class PlanSpec extends AnyFunSuite {
  import SparkFixture.withTempDir
  private lazy val spark = SparkFixture.spark
  private val sfDir = "/root/testdata/sf0.001"
  private def haveTestdata = new java.io.File(s"$sfDir/lineitem.parquet").exists()

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** the raw extraction plan over 50 Corpus rows written as parquet */
  private def withRawExtractionPlan[T](body: org.apache.spark.sql.execution.SparkPlan => T): T = {
    import spark.implicits._
    withTempDir("plan-pages") { dir =>
      spark.range(50).as[Long].map(Corpus.row(42L)).toDF()
        .write.mode("overwrite").parquet(dir)
      val pages = spark.read.parquet(dir)
      body(ExtractJob.extract(ExtractJob.saltedRepartition(spark, pages, 4)).toDF()
        .queryExecution.executedPlan)
    }
  }

  test("extraction scan prunes to url/warc_ts/html (never reads text/lang)") {
    withRawExtractionPlan { executed =>
      val plan = executed.toString
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.contains("url") && readSchema.contains("html"))
      assert(!readSchema.contains("lang"), s"lang not pruned: $readSchema")
      // 'text' must not appear in the parquet ReadSchema
      assert(!readSchema.replace("extracted_text", "").contains("text:"),
        s"text not pruned: $readSchema")
    }
  }

  test("raw extraction scans its input once") {
    withRawExtractionPlan { plan =>
      val all = graft.PlanLedgerSpec.nodes(plan).toSeq
      assert(all.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) == 1,
        s"expected exactly one file scan:\n$plan")
      assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
        s"expected no exchange:\n$plan")
    }
  }

  test("extraction pipeline has no exchange (the kernel runs in the scan)") {
    import spark.implicits._
    val pages = spark.range(50).as[Long].map(Corpus.row(42L)).toDF()
    val plan = physicalPlan(
      ExtractJob.extract(ExtractJob.saltedRepartition(spark, pages, 4)).toDF())
    // No exchange at all: splitting the whales off for a round-robin spread
    // would read every page twice, and shuffling the rest would move ~100%
    // of corpus bytes for no balance benefit (maxPartitionBytes bounds the
    // scan tasks). ExtractJob.run spreads its whales from a staged band.
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges == 0, s"unexpected shuffles ($exchanges):\n$plan")
  }

  test("keyed extraction (ExtractJob.run's path) shuffles only the whale band, round-robin") {
    import spark.implicits._
    val pages = ExtractJob.withBucket(spark.range(50).as[Long].map(Corpus.row(42L)).toDF(), 4)
    val plan = physicalPlan(
      ExtractJob.extractKeyed(ExtractJob.saltedRepartitionKeyed(spark, pages, 4)).toDF())
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("RoundRobinPartitioning"),
      s"expected exactly one round-robin exchange:\n$plan")
    assert(!plan.contains("hashpartitioning"), s"small band is hash-shuffled:\n$plan")
  }

  test("keyed extraction over the staged layout prunes each band's scan on whale") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    withTempDir("plan-staged") { dir =>
      val pages = spark.range(60).as[Long].map(Corpus.row(42L)).toDF()
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          plans.add(qe.executedPlan)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.listenerManager.register(listener)
      try {
        ExtractJob.run(spark, pages, dir, nBuckets = 4, partitions = 4)
        org.apache.spark.TestBus.drain(spark.sparkContext)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
      }
      // one bucket group (4 buckets, 8 per job): one small-band scan and
      // one whale-band scan of the staged directory
      val scans = plans.asScala.toSeq.flatMap(graft.PlanLedgerSpec.nodes(_)).collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == "staged") => s
      }
      assert(scans.size == 2, s"expected two staged scans, got ${scans.size}")
      scans.foreach { s =>
        assert(s.partitionFilters.exists(_.references.exists(_.name == "whale")),
          s"a band scan has no partition filter on whale: ${s.partitionFilters}")
      }
    }
  }

  test("dimension joins broadcast in q02") {
    assume(haveTestdata)
    val plan = physicalPlan(graft.SparkEntry.queries("q02_revenue_by_nation")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("filters push to the parquet scan") {
    assume(haveTestdata)
    val df = spark.read.parquet(s"$sfDir/documents.parquet").filter(col("n_chars") > 100)
    val plan = physicalPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]")
      || plan.contains("GreaterThan(n_chars,100)"), s"filter not pushed:\n$plan")
  }

  test("bucketed tables co-locate the join: no Exchange in a bucket-bucket join") {
    import spark.implicits._
    // the 100 TB pattern for repeated fact-fact joins: pre-bucket both sides
    // on the join key so the shuffle happens once at write time, never per
    // query. With matching bucket counts the join plan must be exchange-free.
    val a = (0L until 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (0L until 1000L).map(i => (i % 500, s"b$i")).toDF("k", "vb")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    // the catalog is fresh per JVM but the warehouse dir persists: clear it
    Seq("graft_bkt_a", "graft_bkt_b").foreach { t =>
      val d = new java.io.File(s"/tmp/graft-test-warehouse/$t")
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    a.write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_a")
    b.write.bucketBy(8, "k").sortBy("k").saveAsTable("graft_bkt_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
      val plan = physicalPlan(j)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(j.count() == 1000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q01 aggregation is partial (map-side combine before shuffle)") {
    assume(haveTestdata)
    val plan = physicalPlan(graft.SparkEntry.queries("q01_lineitem_agg")(spark, sfDir))
    // partial_sum / partial HashAggregate before the exchange
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"no partial aggregation:\n$plan")
  }

  test("the plan ledger flags a broadcast nested-loop join by its broadcast side's shape") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-bnlj").toString
    spark.range(200).toDF("k").write.mode("overwrite").parquet(dir)
    val probe = spark.range(1000).toDF("id")
    def ledgerFlags(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = df.queryExecution.executedPlan
      assert(graft.PlanLedgerSpec.nodes(plan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
        s"no BroadcastNestedLoopJoin:\n$plan")
      graft.PlanLedgerSpec.flags(plan)
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      assert(ledgerFlags(probe.crossJoin(spark.range(50).agg(count(lit(1)).as("n")))) == Nil,
        "a global aggregate broadcasts at most one row")
      assert(ledgerFlags(probe.crossJoin(Seq(1, 2, 3).toDF("c"))) == Nil,
        "a LocalTableScan broadcasts a driver-local relation")
      assert(ledgerFlags(probe.crossJoin(broadcast(spark.read.parquet(dir)))) == Seq("BNLJ"),
        "a multi-row parquet scan on the broadcast side is an all-pairs join")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  /** Runs each query of `budget` under its own job group and asserts it
    * ran no more Spark jobs than its budget, counted with AQE off as
    * PlanLedgerSpec counts (see there why). The budgets are ceilings that
    * hold whatever the ledger pins; plan_ledger.tsv pins the same queries
    * exactly. */
  private def assertJobBudget(budget: Map[String, Int]): Unit = {
    val sc = spark.sparkContext
    // infer (and cache) the documents schema first, so the first query's
    // count does not depend on whether an earlier test read the table
    graft.SparkEntry.readT(spark, s"$sfDir/documents.parquet")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val counts = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      budget.keys.toSeq.sorted.map { q =>
        q -> org.apache.spark.TestBus.jobsIn(sc, s"job-budget-$q") {
          graft.SparkEntry.queries(q)(spark, sfDir).collect()
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    info(counts.map { case (q, n) => s"$q=$n" }.mkString(" "))
    val over = counts.filter { case (q, n) => n > budget(q) }
    assert(over.isEmpty, s"over the job budget: ${over.map { case (q, n) =>
      s"$q ran $n jobs (budget ${budget(q)})" }.mkString(", ")}")
  }

  test("tier family job budget: q102/q135/q149/q153/q156/q158 run no more Spark jobs than measured") {
    assume(haveTestdata)
    assertJobBudget(Map(
      "q102_host_tiers" -> 8,
      "q135_host_dossier" -> 9,
      "q149_tier_mixture" -> 11,
      "q153_tier_sample" -> 8,
      "q156_fetch_plan" -> 9,
      "q158_domain_tier_rollup" -> 8))
  }

  test("host-graph family job budget: q83/q88/q103/q95 run no more Spark jobs than measured") {
    assume(haveTestdata)
    assertJobBudget(Map(
      "q83_host_pagerank" -> 6,
      "q88_trustrank" -> 6,
      "q103_hits" -> 6,
      "q95_host_components" -> 8))
  }

  test("connected-components family job budget: q26/q75/q132 run no more Spark jobs than measured") {
    assume(haveTestdata)
    assertJobBudget(Map(
      "q26_dup_clusters" -> 3,
      "q75_fuzzy_dedup_keep_best" -> 5,
      "q132_dup_clusters_star" -> 16))
  }

  test("q125/q115/q92 family job budget: k-core, host communities and hyperball run no more Spark jobs than measured") {
    assume(haveTestdata)
    assertJobBudget(Map(
      "q125_kcore" -> 11,
      "q115_host_communities" -> 9,
      "q92_harmonic_hyperball" -> 6))
  }
}
