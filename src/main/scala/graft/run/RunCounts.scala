package graft.run

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExprId
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{DataSourceScanExec, ExternalRDDScanExec, LocalTableScanExec, QueryExecution, RDDScanExec, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The row counts of one run, read from the run's own sink actions: no
  * count job and no second execution.
  *
  * Each sink's input carries one observation, `count(1)` under a name
  * that belongs to this run ([[observe]]). A query execution carrying
  * one of those names is one of this run's sink actions, and it yields:
  *  - rows written: the sink's observation (max over the sink's
  *    actions: sqlite probes its input's size before collecting it);
  *  - stage rows: the compiler's stage observations in the same plan;
  *  - rows read: `numOutputRows` of each source's scans in the executed
  *    plan, a scan belonging to the source whose columns it outputs
  *    (max over a source's scans, which a self-join can repeat). A
  *    source with no scan counted once leaves rows read at -1.
  *
  * Listens from construction until [[close]], which the runner calls
  * whether the run succeeded or not.
  */
private[run] final class RunCounts(spark: SparkSession, sinks: Int,
    sources: Seq[DataFrame], stages: Seq[(String, String)]) extends QueryExecutionListener {

  private val tag = s"graft_sink_${UUID.randomUUID()}_"
  private val sinkNames = (0 until sinks).map(tag + _)
  private val stageNames = stages.map(_._2).toSet
  private val sourceIds: Seq[Set[ExprId]] = sources.map(
    _.queryExecution.analyzed.collectLeaves().flatMap(_.output.map(_.exprId)).toSet)

  // observed-metric name → rows and source index → rows; guarded by this
  private val observed = mutable.Map.empty[String, Long]
  private val scanned = mutable.Map.empty[Int, Long]

  spark.listenerManager.register(this)

  def close(): Unit = spark.listenerManager.unregister(this)

  /** `df` with sink `i`'s row count attached. */
  def observe(i: Int)(df: DataFrame): DataFrame =
    df.observe(sinkNames(i), count(lit(1)).as("rows"))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val metrics = qe.observedMetrics
    if (sinkNames.exists(metrics.contains)) {
      // a self-joining op can duplicate an observed subtree and surface
      // an empty metrics row: that stage is left out
      val rows = metrics.collect {
        case (k, r) if r.length > 0 && (k.startsWith(tag) || stageNames(k)) => k -> r.getLong(0)
      }
      val scans = sourceScans(qe.executedPlan)
      synchronized {
        rows.foreach { case (k, v) => observed(k) = math.max(v, observed.getOrElse(k, v)) }
        scans.foreach { case (i, v) => scanned(i) = math.max(v, scanned.getOrElse(i, v)) }
        notifyAll()
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every sink's action has been reported, or `timeoutMs`
    * has passed: listener events arrive on Spark's listener bus, after
    * the action returns. */
  def await(timeoutMs: Long): Unit = synchronized {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!sinkNames.forall(observed.contains) && deadline - System.nanoTime() > 0)
      wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
  }

  /** Rows the sources' scans returned, or -1 when a source has no scan
    * that ran once. */
  def rowsRead: Long = synchronized {
    if (sources.indices.forall(scanned.contains)) scanned.values.sum else -1L
  }

  /** Rows the sinks received (`printed` overrides a sink that takes fewer
    * rows than it reads), or -1 when a sink's count did not arrive. */
  def rowsWritten(printed: Seq[Option[Long]]): Long = synchronized {
    val each = sinkNames.zip(printed).map { case (n, p) => p.orElse(observed.get(n)) }
    if (each.forall(_.isDefined)) each.flatten.sum else -1L
  }

  def stageRows: Map[String, Long] = synchronized {
    stages.flatMap { case (stage, name) => observed.get(name).map(stage -> _) }.toMap
  }

  /** (source index, numOutputRows) for every scan of a source in `plan`,
    * cached plans included. A scan whose nearest exchange above is a
    * range exchange ran twice, once for the exchange's sampling job (and
    * again in part for a skewed partition): its rows are not counted. */
  private def sourceScans(plan: SparkPlan, resampled: Boolean = false): Seq[(Int, Long)] =
    plan match {
      case a: AdaptiveSparkPlanExec => sourceScans(a.executedPlan, resampled)
      case q: QueryStageExec => sourceScans(q.plan, resampled)
      case _: ReusedExchangeExec => Nil // its exchange is counted where it first runs
      case c: InMemoryTableScanExec => sourceScans(c.relation.cachedPlan)
      case e: ShuffleExchangeExec =>
        sourceScans(e.child, e.outputPartitioning.isInstanceOf[RangePartitioning])
      case e: BroadcastExchangeExec => sourceScans(e.child)
      case s @ (_: DataSourceScanExec | _: DataSourceV2ScanExecBase | _: RDDScanExec |
          _: ExternalRDDScanExec[_] | _: LocalTableScanExec | _: RangeExec) =>
        val out = s.output.map(_.exprId).toSet
        if (resampled || out.isEmpty) Nil
        else s.metrics.get("numOutputRows").toSeq.flatMap { m =>
          sourceIds.indices.filter(i => out.subsetOf(sourceIds(i))).map(_ -> m.value)
        }
      case p => p.children.flatMap(sourceScans(_, resampled)) ++ p.subqueries.flatMap(sourceScans(_))
    }
}
