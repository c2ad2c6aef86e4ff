package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-quality audit over every SparkEntry query: counts exchanges,
  * flags all-pairs join nodes, and reports whether whole-stage codegen is
  * present (a query whose plan has ZERO codegen'd stages silently runs
  * interpreted — the q27 regression class). Run per round:
  * `sbt "runMain graft.tools.PlanAudit"`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    // optional 2nd arg: comma-separated name prefixes (dev loop; per-round
    // audits pass no filter and cover every query)
    val only: Option[Seq[String]] =
      if (args.length > 1) Some(args(1).split(",").toSeq) else None
    // labeled single-build-row scalar joins: a 1-row broadcast aggregate
    // (e.g. q52's vocabulary size) always plans as BroadcastNestedLoopJoin
    // because any equal-constant key constant-folds away — with ONE build
    // row that node is the optimal scalar-subquery shape, not an
    // all-pairs hazard.
    val scalarBnljOk =
      Set("q52_lm_perplexity", "q60_dsir_score", "q62_ccnet_buckets", "q69_mixture_balance",
        "q73_temperature_sample", // q73: the lang-count total + p^alpha normalizer scalars
        "q76_epoch_upsample", // q76: the same two rate-table scalars as q73
        "q77_source_prior", // q77: the global-mean fallback scalar
        "q84_outlinks", // q84: the host-count scalar behind the mix32 targets
        "q87_anchor_terms", // q87: feeds on q84's frame — same host-count scalar
        "q90_domain_edges") // q90: same host-count scalar in its subdomain frame
    // AUDIT-class surfaces (VERDICT r05 item 5): intentional exact
    // baselines / ground-truth recomputations that re-scan the corpus by
    // contract — at the 100 TB regime these run on a bounded sample (or
    // ARE the oracle role, like q14's brute force); their plan cost is
    // the audit's price, not a scale defect. Labeled so a plan sweep
    // grades them against that contract instead of the production bar.
    val auditSurfaces = Set(
      "q14_simsearch_brute", // exact ANN baseline (the oracle role)
      "q91_harmonic_centrality", // exact pair-state harmonic (q92's twin)
      "q109_phrase_docs", // full-scan phrase retrieval (q110's twin)
      "q131_bbit_minhash", // exact-jaccard audit over the q21 pair set
      "q155_lsh_exact_audit") // UNCAPPED exact all-pairs ground truth
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        df.collect() // execute THIS plan so AQE finalizes and codegen stages materialize
        val plan = df.queryExecution.executedPlan.toString
        val exchanges = plan.linesIterator.count(_.contains("Exchange")) -
          plan.linesIterator.count(_.contains("ReusedExchange"))
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !scalarBnljOk(name)
        // a plan whose ONLY scan is a LocalTableScan is a driver-local
        // result (e.g. connectedComponents' bounded union-find fast path):
        // there is nothing to codegen and nothing distributed to regress —
        // the interpreted-execution hazard this flag exists for cannot
        // apply. ANY other scan re-arms the check: file/source scans AND
        // checkpointed-frame scans (Scan ExistingRDD — every
        // Checkpoints.cut output) and cached-relation scans, so a
        // distributed plan over checkpointed inputs that loses codegen is
        // still flagged.
        val driverLocalOnly = plan.contains("LocalTableScan") &&
          !plan.contains("FileScan") && !plan.contains("BatchScan") &&
          !plan.contains("ExistingRDD") && !plan.contains("InMemoryTableScan")
        val codegen = plan.linesIterator.exists(_.contains("*(")) || driverLocalOnly
        val flags = Seq(
          if (cartesian) Some("CARTESIAN") else None,
          if (bnlj) Some("BNLJ") else None,
          if (!codegen) Some("NO-CODEGEN") else None,
          if (auditSurfaces(name)) Some("AUDIT") else None).flatten.mkString(",")
        println(f"$name%-28s exchanges=$exchanges%-3d ${if (flags.isEmpty) "ok" else flags}")
      } catch {
        case e: Throwable => println(f"$name%-28s ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
