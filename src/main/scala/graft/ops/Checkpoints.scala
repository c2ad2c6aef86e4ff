package graft.ops

import org.apache.spark.sql.DataFrame

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
  * Callers that want full laziness instead (no eager job at call time, no
  * severed lineage) use the `*Lazy` plan builders next to each public
  * operator and manage persistence themselves.
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

  /** Lineage cut for iterative loops (connectedComponents label rounds):
    * reliable checkpoint if a checkpoint dir is configured, local
    * otherwise (see object doc); no release hook. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) reliable(df)
    else df.localCheckpoint(eager = true)

  /** Lazy stage for FIXED-small-round loops (hostRank/hits/labelProp-
    * style: a handful of rounds, each round's table read by 2-3
    * consumers): persist WITHOUT an eager job, so every round's
    * materialization folds into the first downstream job that needs it
    * (a round-total broadcast, a convergence count, or the final
    * action) instead of costing one eager job per round — at bench
    * scale those sequential job round-trips dominate these operators,
    * and at production scale one fewer barrier per round is the same
    * win smaller. Lineage is KEPT, so an executor loss recomputes
    * (persist is safer than localCheckpoint's severed lineage); the
    * trade is plan depth growing with rounds, so convergence-checked or
    * many-round loops (CC's O(log n) rounds) stay on the eager `cut`. */
  def stage(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** read an [[org.apache.spark.sql.Observation]] fired by an already-run
    * eager job (a `cut`/`eager` materialization), with a bounded wait and
    * a recompute fallback if metric delivery ever fails — the
    * connectedComponents pattern (that both cut shapes fire the metric is
    * asserted by OpsSpec "an Observation below an eager cut fires"),
    * defined ONCE so every fused-scalar loop degrades identically. */
  private[graft] def observed(obs: org.apache.spark.sql.Observation)(
      fallback: => org.apache.spark.sql.Row): org.apache.spark.sql.Row = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    try Await.result(obs.future, 30.seconds)
    catch { case _: java.util.concurrent.TimeoutException => fallback }
  }
}
