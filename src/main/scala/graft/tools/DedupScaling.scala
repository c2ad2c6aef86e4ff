package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, length, lit, sum}

/** Two-parallelism scaling evidence for the SECOND heavy job shape:
  * MinHash-LSH near-dup detection end-to-end (shingle -> 64 minhashes ->
  * banded bucket shuffle -> candidate pairing -> signature-verify). Same
  * protocol as `graft.Scaling` (the extraction job): deterministic corpus
  * materialized once to /dev/shm with a fixed file layout, one JVM per
  * parallelism level via spark-submit, full-load warmup then median of 3
  * in-JVM reps, interleaved (2,8) pairs run by the harness.
  *
  * `runMain graft.tools.DedupScaling <cores>` prints one JSON line.
  */
object DedupScaling {

  /** deterministic word-salad corpus with planted near-dups: every 10th
    * doc is a light mutation of its predecessor, so the LSH path does
    * real candidate+verify work, not just signature hashing */
  def docText(i: Long): String = {
    var z = i * 0x9e3779b97f4a7c15L + 0x243f6a8885a308d3L
    def nextInt(bound: Int): Int = {
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (((z ^ (z >>> 31)) >>> 1) % bound).toInt
    }
    val base = if (i % 10 == 3) i - 1 else i // plant a near-dup pair
    var zb = base * 0x9e3779b97f4a7c15L + 0x243f6a8885a308d3L
    def baseInt(bound: Int): Int = {
      zb = (zb ^ (zb >>> 30)) * 0xbf58476d1ce4e5b9L
      zb = (zb ^ (zb >>> 27)) * 0x94d049bb133111ebL
      (((zb ^ (zb >>> 31)) >>> 1) % bound).toInt
    }
    val n = 30 + baseInt(30)
    val words = (0 until n).map(_ => s"w${baseInt(5000)}").toArray
    if (i % 10 == 3) { // mutate 2 positions so the pair is NEAR, not exact
      words(nextInt(words.length)) = s"m${nextInt(5000)}"
      words(nextInt(words.length)) = s"m${nextInt(5000)}"
    }
    words.mkString(" ")
  }

  /** deterministic MULTI-LINE corpus for the corpusLineDedup job shape:
    * 8-15 lines per doc, ~1/3 drawn from a hot shared pool of 2000 lines
    * (cross-doc dedup does real work), structural blanks every 4th line
    * (always-kept contract exercised at scale) */
  def lineDocText(i: Long): String = {
    var z = i * 0x9e3779b97f4a7c15L + 0x243f6a8885a308d3L
    def nextInt(bound: Int): Int = {
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (((z ^ (z >>> 31)) >>> 1) % bound).toInt
    }
    val n = 8 + nextInt(8)
    (0 until n).map { j =>
      if (j % 4 == 3) ""
      else if (nextInt(3) == 0) s"shared line ${nextInt(2000)}"
      else s"line ${i}_$j ${nextInt(5000)}"
    }.mkString("\n")
  }

  /** deterministic host-graph edge for the host_rank job shape:
    * uniform sources over nHosts, destinations skewed toward low host
    * ids (squared draw — hubs attract more in-links, the real web
    * shape), weight 1..3 */
  def edgeRow(i: Long, nHosts: Long): (String, String, Long) = {
    var z = i * 0x9e3779b97f4a7c15L + 0x243f6a8885a308d3L
    def next(): Long = {
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z ^ (z >>> 31)) >>> 1
    }
    val src = next() % nHosts
    val u = (next() % nHosts).toDouble / nHosts
    val dst = (u * u * nHosts).toLong min (nHosts - 1)
    (s"h$src", s"h$dst", next() % 3 + 1)
  }

  /** deterministic long chain for the cc_chain job shape: edge i links
    * the path's nodes i and i + 1, and node j carries the id
    * (j·stride + n/2) mod n over n = nEdges + 1 nodes, `stride` coprime
    * to n ([[chainStride]]), so neighbouring ids are unrelated and the
    * minimum id 0 sits mid-path — the layout on which min-label
    * propagation needs O(n) rounds. j·stride stays below 2^63 for any
    * n under 9·10^12. */
  def chainEdge(i: Long, nEdges: Long, stride: Long): (Long, Long) = {
    val n = nEdges + 1
    def id(j: Long) = (j * stride + n / 2) % n
    (id(i), id(i + 1))
  }

  /** the smallest stride >= 1000003 that is coprime to n */
  def chainStride(n: Long): Long =
    Iterator.iterate(1000003L)(_ + 1).find(a => BigInt(a).gcd(BigInt(n)) == 1).get

  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(8)
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_DEDUP_DOCS", "150000").toLong
    // job shapes: minhash_lsh (banded shuffle + candidate joins),
    // line_dedup (hash-only keeper shuffle + one doc_id reassembly pass),
    // host_rank (ITERATIVE join+agg rounds over a lineage-cut graph —
    // the q83/q88 fixpoint shape; nDocs counts EDGES here; the distributed
    // rounds at every size), host_rank_local (the same edges through
    // hostRank's driver-local rounds at every size, for the crossover),
    // cc_chain (connectedComponents' distributed rounds over a path of
    // nDocs EDGES with shuffled ids, above the edge cap by construction)
    val job = sys.env.getOrElse("SPARK_GRAFT_DEDUP_JOB", "minhash_lsh")
    val hostRankJob = job.startsWith("host_rank")
    val corpusDir =
      s"/dev/shm/graft-dedup-${if (hostRankJob) "host_rank" else job}-corpus-$nDocs-f128"
    // identical harness config to graft.Scaling BY CONSTRUCTION — the
    // 0.74-vs-0.86 job-shape comparison depends on it
    val spark = graft.ScalingHarness.session(cores)
    import spark.implicits._
    // cc_chain rounds = the distinct per-round Observations
    // ("ccstar_<round>") the star engine fires during one run
    val starRounds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    if (job == "cc_chain")
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          qe.observedMetrics.keys.filter(_.startsWith("ccstar_")).foreach(starRounds.add)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
      if (job == "cc_chain") {
        val stride = chainStride(nDocs + 1)
        spark.range(nDocs).repartition(128).as[Long]
          .map(i => chainEdge(i, nDocs, stride))
          .toDF("doc_a", "doc_b")
          .write.mode("overwrite").parquet(corpusDir)
      } else if (hostRankJob) {
        val nHosts = nDocs / 15 max 1000L // ~15 raw edges per host
        spark.range(nDocs).repartition(128).as[Long]
          .map(i => edgeRow(i, nHosts))
          .toDF("src", "dst", "weight")
          .write.mode("overwrite").parquet(corpusDir)
      } else
        spark.range(nDocs).repartition(128).as[Long]
          .map(i => (i, if (job == "line_dedup") lineDocText(i) else docText(i)))
          .toDF("doc_id", "text")
          .write.mode("overwrite").parquet(corpusDir)
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(corpusDir)
      if (job == "line_dedup")
        // aggregate over clean_text/n_removed so the reassembly join and
        // text filtering actually execute: a bare count() lets Catalyst
        // prune the unused columns AND eliminate the left-outer join
        // (unique build keys preserve cardinality) — measuring only the
        // scan, not the job
        graft.ops.Dedup.corpusLineDedup(docs)
          .agg(sum(length(col("clean_text"))), sum(col("n_removed"))).collect()
      else if (hostRankJob)
        // sum over rank_e12 forces every round's join+agg (nothing for
        // Catalyst to eliminate — the rank column IS the fixpoint)
        graft.ops.CorpusOps.rankFixpoint(docs, None, iterations = 3, dampingPct = 85,
            localCap = if (job == "host_rank_local") Long.MaxValue else 0L)
          .agg(sum(col("rank_e12"))).collect()
      else if (job == "cc_chain") {
        // sum over cluster_id forces every round; the chain is one
        // component with minimum id 0, so any other answer is wrong
        val r = graft.ops.Dedup.connectedComponents(docs, localEdgeCap = 0L)
          .agg(sum(col("cluster_id")), count(lit(1))).collect()(0)
        require(r.getLong(0) == 0L && r.getLong(1) == nDocs + 1,
          s"cc_chain: label sum ${r.get(0)} over ${r.get(1)} nodes, want 0 over ${nDocs + 1}")
      }
      else graft.ops.Dedup.minhashLsh(docs).count()
      nDocs / ((System.nanoTime() - t0) / 1e9)
    }
    once() // warmup (JIT + codegen settle)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "3").toInt
    val rates = (1 to reps).map { k =>
      spark.sparkContext.setJobGroup(s"rep-$k", job)
      try once() finally spark.sparkContext.clearJobGroup()
    }.sorted
    val rate = rates(rates.size / 2)
    // the listener bus is asynchronous: read the round count once two
    // reads 200 ms apart agree
    def settledRounds(): Int = {
      var prev = -1
      var cur = starRounds.size
      while (cur != prev) { prev = cur; Thread.sleep(200); cur = starRounds.size }
      cur
    }
    val extra = if (job == "cc_chain") {
      val rounds = settledRounds()
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(s"rep-$reps").length
      s""","rounds":$rounds,"jobs":$jobs"""
    } else ""
    println(f"""{"job":"$job","cores":$cores,"docs_per_sec":$rate%.1f,"wall_s":${nDocs / rate}%.2f,"reps":[${rates.map(r => f"$r%.1f").mkString(",")}],"n_docs":$nDocs$extra}""")
    spark.stop()
  }
}
