package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{count, lit}

/** Materialize-and-release discipline for operators whose plan reads a
  * corpus-sized cached intermediate more than once (minhashLsh signatures,
  * jaccard postings, packing's range-partitioned base, x18's post-kernel
  * frame): the SMALL result is materialized eagerly, then the big cache is
  * unpersisted, so block-manager residency across repeated calls in a long
  * session is bounded by O(result), not O(corpus).
  *
  * Fault tolerance (the round-3 finding this object closes): the
  * materialization mechanism is chosen by whether the session has a
  * RELIABLE checkpoint directory configured
  * (`spark.sparkContext.setCheckpointDir(...)`):
  *
  *  - checkpoint dir SET (production clusters — any job that can lose
  *    executors, esp. under dynamic allocation): `Dataset.checkpoint` —
  *    result blocks are written to the checkpoint FS (HDFS/S3A/...); an
  *    executor loss after this call recovers by re-reading those files.
  *    Checkpoint files are cleaned by the ContextCleaner once the frame is
  *    unreferenced when `spark.cleaner.referenceTracking.cleanCheckpoints`
  *    is true (set it in long sessions), else at checkpoint-dir cleanup.
  *
  *  - checkpoint dir UNSET (local runs, tests, short-lived batch jobs):
  *    `Dataset.localCheckpoint` — result blocks live on executors and are
  *    ContextCleaner-reclaimed once unreferenced, but lineage is SEVERED:
  *    losing an executor that holds blocks makes later reads of the
  *    returned frame fail rather than recompute. That trade is acceptable
  *    only when executor loss fails the whole job anyway (local mode) or
  *    the caller re-runs the operator on failure.
  *
  * Five operators split their plan out as a `private[graft]` `*Lazy`
  * builder that returns the lazy result plus the caches it reads:
  * `ngramJaccardAllPairs`, `ngramJaccardPrefix`, `ngramContainment`,
  * `ngramJaccardDups` and `incrementalExactDedup`. The public operator
  * wraps its builder in [[eager]]; OpsSpec calls the builders directly to
  * gate the join shape, which the eager cut hides from the plan.
  */
private[graft] object Checkpoints {

  // warn ONCE per JVM if reliable checkpoints will accumulate: the
  // ContextCleaner only removes checkpoint files of GC'd frames when
  // spark.cleaner.referenceTracking.cleanCheckpoints=true, and that flag
  // must be set BEFORE the SparkContext starts (we cannot set it here)
  @volatile private var warnedCleaner = false
  private def warnCleanerOnce(sc: org.apache.spark.SparkContext): Unit =
    if (!warnedCleaner &&
        !sc.getConf.getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints", false)) {
      warnedCleaner = true
      System.err.println(
        "[graft.Checkpoints] a checkpoint dir is configured but " +
          "spark.cleaner.referenceTracking.cleanCheckpoints is false: reliable " +
          "checkpoint files will accumulate until the dir is cleaned manually; " +
          "set the flag at session build time for long-lived sessions")
    }

  /** reliable checkpoint without the double compute: Dataset.checkpoint on
    * an unpersisted plan runs the plan once for the eager count and AGAIN
    * for the checkpoint-write job (Spark's own docs recommend
    * persist-before-checkpoint) — so cache first, checkpoint from the
    * cache, then drop the transient cache */
  private def reliable(df: DataFrame): DataFrame = {
    warnCleanerOnce(df.sparkSession.sparkContext)
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cp = cached.checkpoint(eager = true)
    cached.unpersist()
    cp
  }

  /** Eagerly materialize `out` with [[cut]], then run `release`
    * (unpersist of the corpus-sized caches the plan consumed). */
  def eager(out: DataFrame)(release: => Unit): DataFrame = {
    val cp = cut(out)
    release
    cp
  }

  /** Lineage cut for iterative loops (the connectedComponentsStar rounds):
    * reliable checkpoint if a checkpoint dir is configured, local
    * otherwise (see object doc); no release hook. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) reliable(df)
    else df.localCheckpoint(eager = true)

  /** The row-count cap at or under which the EDGE-sized tables of the
    * host-graph family are answered on the driver: the rank and HITS
    * rounds, [[LinkOps.hostComponents]] and [[Dedup.connectedComponents]]'
    * union-find. Above it the distributed rounds run, so the plans for
    * 10^8-host graphs are unchanged. Measured on 4 cores (local[4]) with
    * the DedupScaling host_rank (distributed) and host_rank_local
    * (driver) jobs: the driver path is the faster one for hostRank at
    * 2M edges (1.4x) and still at 8M (1.3x); at 2M it is also faster for
    * hits (1.7x) and hostComponents (3.2x, against the label-table
    * rounds the star engine has since replaced). The collected rows hold ~150
    * bytes each, ~300 MB of driver heap at the cap and ~1.2 GB at 8M, so
    * the cap sits at 2M, below the crossover, where the heap stays
    * small; more executor cores speed up the distributed rounds and move
    * the crossover down. */
  val localEdgeCap: Long = 2000000L

  /** The row-count cap for the HOST-sized tables, whose rows are hosts,
    * not edges: the tier ranking ([[CorpusOps.hostTierTable]]) and
    * SparkEntry's host-id table. Its driver path ends in a driver-local
    * frame that every downstream operator reads, and on 4 cores it is
    * the faster one at 13k, 33k and 67k hosts but the slower one at 133k
    * (1.03 s vs 0.59 s for the tier table), so the cap sits below that
    * crossover. */
  val localHostCap: Long = 50000L

  /** The driver-local gate: [[cut]] `df` with its row count fused into the
    * cut's job as an Observation; at or under `cap` rows (`cap > 0`) the
    * cut is also collected (one more job). A frame that is already a
    * driver-local table (`LocalRelation`) is neither cut nor counted by a
    * job: its rows are on the driver. Returns (the cut, or `df` when
    * local; the row count; `Some(rows)` when under the cap). `cap <= 0`
    * forces the over-cap answer, which the parity tests use. */
  def gate(df: DataFrame, cap: Long): (DataFrame, Long, Option[Array[Row]]) =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if cap > 0 && l.data.length <= cap =>
        val rows = df.collect()
        (df, rows.length.toLong, Some(rows))
      case _ =>
        val obs = Observation()
        val cp = cut(df.observe(obs, count(lit(1)).as("n")))
        val n = observed(obs)(cp.agg(count(lit(1))).head()).getLong(0)
        (cp, n, if (cap > 0 && n <= cap) Some(cp.collect()) else None)
    }

  /** read an [[org.apache.spark.sql.Observation]] fired by an already-run
    * eager job (a `cut`/`eager` materialization), with a bounded wait and
    * a recompute fallback if metric delivery ever fails — the
    * connectedComponents pattern (that both cut shapes fire the metric is
    * asserted by OpsSpec "an Observation below an eager cut fires"),
    * defined ONCE so every fused-scalar loop degrades identically. */
  private[graft] def observed(obs: Observation)(fallback: => Row): Row = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    try Await.result(obs.future, 30.seconds)
    catch { case _: java.util.concurrent.TimeoutException => fallback }
  }
}
