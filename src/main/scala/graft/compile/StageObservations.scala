package graft.compile

import java.util.UUID

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, FilterExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.SessionBridge

/** Rows out of each transform, observed inside the sink action — only
  * where observing leaves the plan as it is.
  *
  * An observation is a `CollectMetrics` node, and the optimizer pushes
  * no predicate through one: observed between a filter and its scan it
  * costs the scan its `PushedFilters`/`PartitionFilters`. A stage under
  * a range-partitioning exchange (a global `sort`, `repartitionByRange`)
  * runs twice, once for the exchange's sampling job, and would count
  * double. So the transforms are folded once, unobserved; each stage's
  * output plan is found in the final plan and wrapped there; and a stage
  * stays observed only while the observed plan's scans push exactly the
  * unobserved plan's filters and no range exchange sits above it. The
  * stages left out are absent from `stage_rows`.
  */
private[compile] object StageObservations {

  private final case class Mark(stage: String, name: String, plan: LogicalPlan,
      observed: LogicalPlan)

  /** The final stream with the kept stage observations, and the kept
    * (transform name → observed-metric name) pairs in stage order. */
  def place(df: DataFrame, stages: Seq[(String, DataFrame)]): (DataFrame, Seq[(String, String)]) = {
    val root = df.queryExecution.analyzed
    val nonce = UUID.randomUUID()
    // a stage's plan met more than once (a self-join) or not at all (an
    // RDD round-trip) cannot be observed as the stage it is
    val marks = stages.zipWithIndex.flatMap { case ((stage, out), i) =>
      val plan = out.queryExecution.analyzed
      if (root.collect { case p if p.fastEquals(plan) => p }.size != 1) None
      else {
        // observed-metric names are session-global; the nonce keeps runs
        // of one pipeline in one session apart
        val name = s"graft_stage_${nonce}_${i}_$stage"
        Some(Mark(stage, name, plan,
          out.observe(name, count(lit(1)).as("rows")).queryExecution.analyzed))
      }
    }
    val plainScans = scans(df.queryExecution.sparkPlan)

    @tailrec def settle(kept: Seq[Mark]): (DataFrame, Seq[Mark]) =
      if (kept.isEmpty) (df, Nil)
      else {
        val observed = SessionBridge.ofPlan(df.sparkSession, inject(root, kept))
        val plan = observed.queryExecution.sparkPlan
        val blocking =
          if (scans(plan) == plainScans) Set.empty[String]
          else stuckUnderFilter(plan) match {
            case none if none.isEmpty => kept.map(_.name).toSet
            case some => some
          }
        val drop = resampled(plan) ++ blocking
        if (drop.isEmpty) (observed, kept) else settle(kept.filterNot(m => drop(m.name)))
      }

    val (observed, kept) = settle(marks)
    (observed, kept.map(m => m.stage -> m.name))
  }

  /** `plan` with each marked stage's subtree wrapped in its observation. */
  private def inject(plan: LogicalPlan, marks: Seq[Mark]): LogicalPlan = {
    val rewritten = plan.mapChildren(inject(_, marks))
    marks.filter(m => plan.fastEquals(m.plan))
      .foldLeft(rewritten)((child, m) => m.observed.withNewChildren(Seq(child)))
  }

  /** What each file scan pushes to its reader, attribute ids aside. */
  private def scans(plan: SparkPlan): Seq[String] =
    plan.collectWithSubqueries { case s: FileSourceScanExec =>
      Seq("PushedFilters", "PartitionFilters")
        .map(k => s.metadata.getOrElse(k, "").replaceAll("#\\d+", ""))
        .mkString(s.nodeName + " ", " ", "")
    }.sorted

  /** Observations a range exchange's sampling job would run again. */
  private def resampled(plan: SparkPlan): Set[String] =
    plan.collect {
      case s: SortExec if s.global => s.child
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e.child
    }.flatMap(_.collect { case c: CollectMetricsExec => c.name }).toSet

  /** Observations a filter could not be pushed through. */
  private def stuckUnderFilter(plan: SparkPlan): Set[String] =
    plan.collect { case f: FilterExec => f.child }
      .collect { case c: CollectMetricsExec => c.name }.toSet
}
