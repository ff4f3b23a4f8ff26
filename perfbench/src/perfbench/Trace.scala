package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

import graft.catalog.{MetaStore, RunRecord}
import graft.spec.PipelineSpec

/** Cumulative Spark work, as a difference-able snapshot. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, inputRecords: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskCpuNs - o.taskCpuNs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, inputRecords - o.inputRecords)
}

/** Counts jobs, stages, tasks and task metrics, and keeps each job's
  * interval so a span's driver gap (time covered by no job) can be taken. */
final class SparkCounters extends SparkListener {
  private var c = Counts(0, 0, 0, 0, 0, 0, 0, 0)
  private val open = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputRecords = c.inputRecords + m.inputMetrics.recordsRead)
  }

  def snapshot(): Counts = synchronized(c)

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** A timed call into one layer. `run` is shared by every span of one
  * pipeline iteration; `parent` is -1 for an iteration's root span. */
final case class Span(id: Int, parent: Int, run: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Records spans in memory around calls into the engine's layers, with the
  * Spark counters at the same boundaries. Single-threaded, like the loop. */
final class Tracer(sc: SparkContext, counters: SparkCounters) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var run = 0

  def span[T](name: String)(body: => T): T = {
    PerfbenchBus.drain(sc)
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val c0 = counters.snapshot()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      PerfbenchBus.drain(sc)
      stack = stack.tail
      spans += Span(id, parent, run, name, t0, t1, ms0, ms1, counters.snapshot() - c0)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = s.counts
      s"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${c.jobs},""" +
        s""""stages":${c.stages},"tasks":${c.tasks},"task_cpu_ns":${c.taskCpuNs},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""spill_bytes":${c.spill},"input_records":${c.inputRecords}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** The real store, with `recordRun` (called from inside
  * `PipelineRunner.run`) timed as its own span. */
final class TimedStore(inner: MetaStore, tracer: Tracer) extends MetaStore {
  def save(spec: PipelineSpec, id: Option[String]): String = inner.save(spec, id)
  def load(id: String): PipelineSpec = inner.load(id)
  def list(): Seq[(String, String, String)] = inner.list()
  def recordRun(r: RunRecord): Unit = tracer.span("catalog.record")(inner.recordRun(r))
  def runs(pipelineId: String): Seq[RunRecord] = inner.runs(pipelineId)
}
