package graft.run

import java.time.Instant
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.catalog.{MetaStore, RunRecord}
import graft.compile.PipelineCompiler
import graft.sinks.SinkWriter
import graft.spec.PipelineSpec

/** Batch executor: compile → write to every sink → record the run.
  * Mirrors the reference run loop (main.py:415-474): read sources,
  * implicit union, fold transforms, fan out to all sinks, persist a
  * run record with rows_read / rows_written / duration / error.
  *
  * Differences that matter at scale:
  *  - the sink actions are the only jobs of a run (beyond `compile`'s
  *    eager jobs, such as jsonl schema inference), and every count is
  *    taken from them by [[RunCounts]] when `collectStats` is on:
  *    rows_written from one observation on each sink's input, rows_read
  *    from the source scans' `numOutputRows` in the executed plans,
  *    stage_rows from the stage observations the compiler kept;
  *  - with multiple sinks the final stream is persisted
  *    (MEMORY_AND_DISK) so transforms run once, not once per sink —
  *    the reference holds everything in memory by construction;
  *  - failures roll up into a failed run record (main.py:467-474).
  */
object PipelineRunner {

  /** One deadline for all of a run's counts to arrive from the listener
    * bus; a count still missing then records -1 ("not collected"). */
  private val CountsTimeoutMs = 30000L

  final case class RunResult(
      runId: String,
      status: String,
      /** Rows the source scans returned during the sink actions: after
        * partition pruning and row-group skipping, and only as many as a
        * stdout sink's limit pulled. -1 when not collected. */
      rowsRead: Long,
      /** Rows the sinks received, summed over sinks; stdout counts the
        * rows it printed. -1 when not collected. */
      rowsWritten: Long,
      durationMs: Long,
      error: Option[String],
      /** Rows observed flowing OUT of each transform (stage name →
        * rows), measured inside the sink action via CollectMetrics —
        * no per-stage count jobs. Only the stages the compiler could
        * observe without changing the plan (see
        * `graft.compile.StageObservations`); empty when stats are off,
        * the pipeline has no sinks, or a sink is stdout or cluster_by. */
      stageRows: Map[String, Long] = Map.empty)

  def run(
      spark: SparkSession,
      spec: PipelineSpec,
      pipelineId: String = "",
      store: Option[MetaStore] = None,
      collectStats: Boolean = true): RunResult = {
    val runId = UUID.randomUUID().toString
    val started = Instant.now()
    val t0 = System.nanoTime()
    try {
      val compiled = PipelineCompiler.compile(spark, spec,
        observeStages = collectStats && spec.sinks.nonEmpty)
      val counts =
        if (collectStats && spec.sinks.nonEmpty)
          Some(new RunCounts(spark, spec.sinks.size,
            spec.sources.map(s => compiled.ctx(s.name)), compiled.stageObs))
        else None
      val multiSink = spec.sinks.size > 1
      val out = if (multiSink) compiled.df.persist(StorageLevel.MEMORY_AND_DISK) else compiled.df
      val (rowsRead, rowsWritten, stageRows) = try {
        val printed = spec.sinks.zipWithIndex.map { case (s, i) =>
          SinkWriter.write(out, s, counts.fold(identity[DataFrame] _)(_.observe(i)))
        }
        counts match {
          case Some(c) =>
            c.await(CountsTimeoutMs)
            (c.rowsRead, c.rowsWritten(printed), c.stageRows)
          case None => (-1L, if (spec.sinks.isEmpty) 0L else -1L, Map.empty[String, Long])
        }
      } finally {
        counts.foreach(_.close())
        if (multiSink) out.unpersist()
      }
      val dur = (System.nanoTime() - t0) / 1000000
      store.foreach(_.recordRun(RunRecord(runId, pipelineId, "success", started,
        Instant.now(), rowsRead, rowsWritten, dur, None, stageRows)))
      RunResult(runId, "success", rowsRead, rowsWritten, dur, None, stageRows)
    } catch {
      case e: Throwable =>
        val dur = (System.nanoTime() - t0) / 1000000
        // some throwables (StackOverflowError) carry no message
        val error = Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        store.foreach(_.recordRun(RunRecord(runId, pipelineId, "failed", started,
          Instant.now(), 0L, 0L, dur, error)))
        RunResult(runId, "failed", 0L, 0L, dur, error)
    }
  }
}
