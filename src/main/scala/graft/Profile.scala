package graft

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Per-query job/stage profiler (optimization round tooling).
  *
  * Runs the named gates (SPARK_GRAFT_PROFILE_ONLY, comma-separated)
  * on a [[GraftSession]] after [[Bench.warmup]] and prints, for the
  * LAST repeat of each query, every Spark job with its wall time, task
  * count, summed task time, and shuffle bytes — so gate seconds can be
  * attributed to specific jobs (scan, shuffle round, state-store
  * commit, convergence check) instead of guessed at. Timing gaps
  * between jobs (driver-side planning/collect work) show up as the
  * difference between the query wall and the job-covered span.
  */
object Profile {
  // static so the per-clone listener instances (registered by class
  // name via spark.sql.streaming.streamingQueryListeners, which every
  // cloned session re-instantiates) all feed one accumulator
  val phase = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  val stateRows = new java.util.concurrent.atomic.AtomicLong(0)
  val stateMemory = new java.util.concurrent.atomic.AtomicLong(0)
  var batches = 0
  @volatile var recording = false

  final case class JobRec(
      id: Int, desc: String, start: Long, var end: Long = 0L,
      var tasks: Int = 0, var taskTimeMs: Long = 0L,
      var shufRead: Long = 0L, var shufWrite: Long = 0L,
      var stages: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt)
    val selected = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_PROFILE_ONLY", "q_agg")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.streamingQueryListeners", "graft.ProfileStreamListener")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    def recording = Profile.recording
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (recording) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.synchronized {
          jobs(js.jobId) = JobRec(js.jobId, desc.take(90), js.time)
          js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.end = je.time) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageToJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach { r =>
            r.stages += 1
            r.tasks += sc.stageInfo.numTasks
            val m = sc.stageInfo.taskMetrics
            if (m != null) {
              r.taskTimeMs += m.executorRunTime
              r.shufRead += m.shuffleReadMetrics.totalBytesRead
              r.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val phase = Profile.phase

    Bench.warmup(spark, sfDir)

    selected.foreach { gate =>
      val name = gate.name
      (1 to repeats).foreach { rep =>
        System.gc()
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        phase.synchronized { phase.clear(); Profile.batches = 0 }
        Profile.recording = true
        val t0 = System.nanoTime()
        try gate.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[profile] $name failed: $e") }
        val wall = (System.nanoTime() - t0) / 1e9
        Profile.recording = false
        Thread.sleep(400) // let the listener bus drain
        val snap = jobs.synchronized { jobs.values.toVector }
        val covered = snap.map(r => math.max(0L, r.end - r.start)).sum / 1e3
        println(f"== $name rep $rep wall $wall%.3f s, ${snap.size} jobs, job-covered $covered%.3f s, gap ${wall - covered}%.3f s")
        val ph = phase.synchronized { (Profile.batches, phase.toVector) }
        if (ph._1 > 0)
          println(s"   stream: ${ph._1} batches  " +
            ph._2.sortBy(-_._2).map { case (k, v) => s"$k=${v}ms" }.mkString("  "))
        if (rep == repeats) {
          var prevEnd = 0L
          snap.foreach { r =>
            val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
            prevEnd = math.max(prevEnd, r.end)
            println(f"  job ${r.id}%4d  ${(r.end - r.start) / 1e3}%7.3f s  (+gap $gap%6.3f)  stages ${r.stages}%2d tasks ${r.tasks}%4d taskTime ${r.taskTimeMs / 1e3}%8.3f s  shufR ${r.shufRead}%9d shufW ${r.shufWrite}%9d  ${r.desc}")
          }
        }
      }
    }
    spark.stop()
  }
}

/** Registered by class name so every cloned session's
  * StreamingQueryManager instantiates one; all feed Profile.phase. */
class ProfileStreamListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Profile.recording) Profile.phase.synchronized {
      Profile.batches += 1
      e.progress.durationMs.forEach((k, v) =>
        Profile.phase(k) = Profile.phase.getOrElse(k, 0L) + v)
      e.progress.stateOperators.foreach { so =>
        Profile.phase("state.commitTimeSum") =
          Profile.phase.getOrElse("state.commitTimeSum", 0L) + so.commitTimeMs
        Profile.stateRows.addAndGet(so.numRowsTotal)
        ()
      }
    }
}
