package graft

import scala.io.Source
import scala.util.Using

import org.apache.spark.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark jobs, exchanges and plan flags of every
  * [[SparkEntry.queries]] surface, so no surface can drift into extra
  * jobs, an all-pairs join or interpreted execution without failing the
  * suite.
  *
  * `plan_ledger.tsv` holds one line per surface,
  * `surface<TAB>jobs<TAB>exchanges<TAB>flags`, keys in C-locale order:
  *  - jobs: the Spark jobs the surface starts, building its frame and
  *    collecting it, in the fixture session (local[4], 4 shuffle
  *    partitions) on sf0.001 with AQE off. With AQE on, whether a map
  *    stage is submitted before a re-optimization makes it unnecessary
  *    is a race; with it off the count is the driver's own jobs and
  *    repeats exactly from run to run.
  *  - exchanges: the non-reused `Exchange` nodes of the executed plan,
  *    subqueries and cached relations' plans included.
  *  - flags: `-` or a comma list of `CARTESIAN`, `BNLJ`, `NO-CODEGEN`
  *    (see [[PlanLedgerSpec.flags]]).
  *
  * One uncounted pass over every surface comes first: it caches the input
  * schemas (`SparkEntry.readT`) and writes the q49/q54 index snapshots
  * under `java.io.tmpdir`, so a fresh machine and a warm one count the
  * same jobs.
  *
  * A lower job or exchange count is a win: edit that surface's line by
  * hand and give the before and after in CHANGES.md. A higher count or a
  * new flag needs its reason there too.
  */
class PlanLedgerSpec extends AnyFunSuite {
  import PlanLedgerSpec._

  private lazy val spark = graft.pipeline.SparkFixture.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("every surface matches its pinned jobs, exchanges and flags (plan_ledger.tsv)") {
    assume(new java.io.File(s"$sfDir/lineitem.parquet").exists())
    val text = Using.resource(
      Source.fromResource("graft/plan_ledger.tsv", getClass.getClassLoader))(_.mkString)
    val pinned = text.linesIterator.map(l => l.takeWhile(_ != '\t') -> l).toMap
    val sc = spark.sparkContext
    val surfaces = SparkEntry.queries.toSeq.sortBy(_._1)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val (lines, drifted) = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      surfaces.foreach { case (_, fn) => fn(spark, sfDir).collect() } // the warm pass
      surfaces.map { case (name, fn) =>
        var df: DataFrame = null
        val jobs = TestBus.jobsIn(sc, s"plan-ledger-$name") { df = fn(spark, sfDir); df.collect() }
        val l = line(name, jobs, df.queryExecution.executedPlan)
        val drift =
          if (pinned.get(name).contains(l)) None
          else Some(s"$name\n  pinned: ${pinned.getOrElse(name, "-")}\n  now:    $l\n" +
            df.queryExecution.explainString(FormattedMode))
        (l, drift)
      }.unzip
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val unknown = (pinned.keySet -- surfaces.map(_._1)).toSeq.sorted
      .map(k => s"$k\n  pinned: ${pinned(k)}\n  now:    - (no such surface)")
    val differing = drifted.flatten ++ unknown
    if (differing.nonEmpty)
      fail(s"plan ledger drifted for ${differing.size} surface(s):\n" + differing.mkString("\n"))
    // keys are ASCII, so String order is C-locale order
    if (text != lines.map(_ + "\n").mkString)
      fail("plan_ledger.tsv must list one line per surface in C-locale key order")
  }
}

object PlanLedgerSpec {

  private def line(name: String, jobs: Int, plan: SparkPlan): String = {
    val exchanges = nodes(plan).count(_.isInstanceOf[Exchange])
    val fs = flags(plan)
    s"$name\t$jobs\t$exchanges\t${if (fs.isEmpty) "-" else fs.mkString(",")}"
  }

  /** every node the plan's tree string prints: children, subqueries and
    * the plans of cached relations */
  def nodes(plan: QueryPlan[_]): Iterator[QueryPlan[_]] =
    Iterator.single(plan) ++ ((plan.children: Seq[Any]) ++ plan.innerChildren).iterator.flatMap {
      case p: QueryPlan[_] => nodes(p)
      case _ => Iterator.empty
    }

  /** `CARTESIAN`: a `CartesianProduct` node. `BNLJ`: a
    * `BroadcastNestedLoopJoin` whose broadcast side can hold more than
    * one row, i.e. is neither a global aggregate (no grouping keys) nor a
    * `LocalTableScan`; with one build row the node is the scalar-subquery
    * shape, not an all-pairs join. `NO-CODEGEN`: no whole-stage-codegen
    * span anywhere, so the plan runs interpreted, unless its only scans
    * are `LocalTableScan`s (a driver-local result: nothing distributed to
    * compile). */
  def flags(plan: SparkPlan): Seq[String] = {
    val all = nodes(plan).toSeq
    val cartesian = all.exists(_.isInstanceOf[CartesianProductExec])
    val bnlj = all.exists {
      case j: BroadcastNestedLoopJoinExec =>
        !oneRowOrLocal(if (j.buildSide == BuildLeft) j.left else j.right)
      case _ => false
    }
    val scans = all.collect {
      case l: LeafExecNode if !l.isInstanceOf[ReusedExchangeExec] && !l.isInstanceOf[ReusedSubqueryExec] => l
    }
    val codegen = all.exists(_.isInstanceOf[WholeStageCodegenExec]) ||
      (scans.nonEmpty && scans.forall(_.isInstanceOf[LocalTableScanExec]))
    Seq("CARTESIAN" -> cartesian, "BNLJ" -> bnlj, "NO-CODEGEN" -> !codegen).collect { case (f, true) => f }
  }

  /** a broadcast side that is a global aggregate or a `LocalTableScan`,
    * under any codegen wrappers, projections and filters */
  private def oneRowOrLocal(p: SparkPlan): Boolean = p match {
    case b: BroadcastExchangeExec => oneRowOrLocal(b.child)
    case r: ReusedExchangeExec => oneRowOrLocal(r.child)
    case w: WholeStageCodegenExec => oneRowOrLocal(w.child)
    case i: InputAdapter => oneRowOrLocal(i.child)
    case pr: ProjectExec => oneRowOrLocal(pr.child)
    case f: FilterExec => oneRowOrLocal(f.child)
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty &&
      !a.aggregateExpressions.exists(e => e.mode == Partial || e.mode == PartialMerge)
    case _: LocalTableScanExec => true
    case _ => false
  }
}
