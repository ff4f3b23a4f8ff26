package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.GraftSession
import graft.catalog.{FileMetaStore, MetaStore, SqliteMetaStore}
import graft.compile.PipelineCompiler
import graft.run.PipelineRunner
import graft.sinks.SinkWriter
import graft.sources.SourceReader
import graft.spec.SpecJson

/** Product-path pipeline benchmark: spec JSON → catalog → compile → run →
  * sinks, for one workload, in one process, one client in a closed loop.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics: set-up time,
  * the first run in a fresh session, and the median wall time, tail, CPU
  * and throughput of `PipelineRunner.run` over `--seconds`. Traced
  * (`--trace 1`) it interleaves untraced iterations, traced iterations of
  * the same calls, and layer-by-layer iterations that time every layer's
  * public entry point in its own span, and reports per-layer medians, self
  * times and the tracing overhead. Every run's sinks are read back and
  * checked.
  *
  * Arguments: --manifest FILE --work DIR --seconds S --trace 0|1
  * --result FILE [--corrupt-expected 1]
  */
object PipelineBench {

  /** Iterations after which the retained heap is read: a fixed count, so
    * the metric follows what each run leaves behind, not how many runs fit
    * in the window (Spark's status store keeps up to 1000 jobs). */
  val HeapAt = 8
  /** The warm-up ends once the median of the last `Settle` run times is no
    * more than `SettleTol` below the median of the `Settle` before them,
    * after at least `HeapAt` iterations and at most `WarmupMaxSeconds`. */
  val Settle = 3
  val SettleTol = 0.05
  val WarmupMaxSeconds = 20.0

  private final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, v: (Double, String)): Unit = values(name) = v
    def json: String = values.map { case (k, (v, u)) =>
      s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of these percentiles with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => s.size * (1 - p / 100) >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by the whole process so far. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = work.resolve("out")
    val m0 = Manifest.load(Paths.get(opt("manifest")), out)
    val m = if (opt.get("corrupt-expected").contains("1"))
      m0.copy(pipelines = m0.pipelines.map(p =>
        p.copy(sinks = p.sinks.map(s => s.copy(digest = "0" * 16)))))
    else m0
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    Manifest.prepare(m) // input generation: before the set-up clock
    new PipelineBench(m, work, seconds).run(traced, Paths.get(opt("result")))
  }

  /** Pushed predicates in the file scans of a plan (AQE plans included). */
  def pushedFilters(df: DataFrame): Int = {
    object H extends AdaptiveSparkPlanHelper
    H.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metadata.get("PushedFilters").map(topLevelItems).getOrElse(0)
    }.sum
  }

  /** Items of a rendered list "[a(x,1), b]" (commas inside parentheses
    * do not separate). */
  private def topLevelItems(list: String): Int = {
    val body = list.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) 0
    else 1 + body.foldLeft((0, 0)) { case ((depth, n), ch) => ch match {
      case '(' | '[' => (depth + 1, n)
      case ')' | ']' => (depth - 1, n)
      case ',' if depth == 0 => (depth, n + 1)
      case _ => (depth, n)
    } }._2
  }
}

final class PipelineBench(m: Manifest, work: Path, seconds: Double) {
  import PipelineBench._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val catalogDir = work.resolve("catalog")

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  private def session(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The workload's catalog: the seeded reference-format SQLite file, reset
    * to its snapshot before each iteration, or a fresh file catalog. */
  private def resetCatalog(): Unit = m.catalog.foreach { snap =>
    Files.createDirectories(catalogDir)
    Files.copy(Paths.get(snap), catalogDir.resolve("catalog.db"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def openCatalog(): MetaStore = {
    val store = m.catalog match {
      case Some(_) => new SqliteMetaStore(catalogDir.resolve("catalog.db"))
      case None => new FileMetaStore(catalogDir)
    }
    store.list()
    store
  }

  def run(traced: Boolean, resultPath: Path): Unit = {
    // set-up, once and cold, as a `graft run` user pays it: build the
    // session and open the catalog
    resetCatalog()
    val t0 = System.nanoTime()
    val spark = session()
    val store = openCatalog()
    val setup = (System.nanoTime() - t0) / 1e9

    val first = iteration(spark, store, 0).map(_._1).getOrElse(Double.NaN)
    val (warm, heapMb, warmWalls) = warmUp(spark, store)

    val metrics = new Metrics
    val report = mutable.ArrayBuffer.empty[String]
    report += warmWalls.map(w => f"$w%.3f").mkString(s"warmup_walls_s (n=${warmWalls.size}) ", " ", "")
    if (!traced) {
      val (walls, cpus) = loop(spark, store, seconds, warm)
      val p50 = median(walls)
      val inputRows = m.pipelines.map(_.inputRows.toDouble).sum / m.pipelines.size
      metrics("setup_s") = (setup, "s")
      metrics("first_run_s") = (first, "s")
      metrics("run_p50_s") = (p50, "s")
      metrics("input_rows_per_s") = (inputRows / p50, "rows/s")
      metrics("cpu_per_run_s") = (median(cpus), "s")
      metrics("heap_retained_mb") = (heapMb, "MB")
      report += f"run_p50_s ${p50}%.4f s (n=${walls.size})"
      report += walls.map(w => f"$w%.3f").mkString("run_walls_s ", " ", "")
      report += cpus.map(c => f"$c%.3f").mkString("run_cpu_s ", " ", "")
      report += (tail(walls) match {
        case Some((p, v)) => f"run_tail_s $v%.4f s (p$p%s, n=${walls.size})"
        case None => s"run_tail_s not reported: n=${walls.size}, fewer than 10 beyond p50"
      })
      report += f"fail_frac ${failed.toDouble / attempted}%.4f ratio ($failed/$attempted)"
    } else {
      val t = new TracedLoop(spark, store)
      t.loop(seconds, warm, metrics)
      Files.createDirectories(work.getParent.resolve("traces"))
      val tracePath = work.getParent.resolve("traces").resolve(s"${m.workload}-s${m.seed}.jsonl")
      t.tracer.write(tracePath)
      report += s"spans ${t.tracer.spans.size} written to $tracePath"
    }
    report += s"workload ${m.workload} seed ${m.seed} cores $cores runs $attempted failed $failed"
    failures.take(5).foreach(f => report += s"failure: $f")
    val shown = metrics.values.map { case (k, (v, u)) => f"$k $v%.6g $u" }
    (report ++ shown).foreach(println)
    val correct = failed == 0
    Files.writeString(resultPath,
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${metrics.json}}""")
    spark.stop()
  }

  /** Checked, unsampled runs after the first, until run times stop falling
    * (the JIT is still compiling the driver's planning paths over the
    * first several runs). Returns the next iteration index, the heap
    * retained after iteration `HeapAt`, and the warm-up run times. */
  private def warmUp(spark: SparkSession, store: MetaStore): (Int, Double, Seq[Double]) = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (WarmupMaxSeconds * 1e9).toLong
    def settled = walls.size >= 2 * Settle &&
      median(walls.takeRight(Settle).toSeq) >=
        (1 - SettleTol) * median(walls.slice(walls.size - 2 * Settle, walls.size - Settle).toSeq)
    var heapMb = Double.NaN
    var i = 1
    while (i <= HeapAt || !(settled || System.nanoTime() > deadline)) {
      iteration(spark, store, i).foreach(walls += _._1)
      if (i == HeapAt) heapMb = retainedHeapBytes(spark) / 1048576.0
      i += 1
    }
    (i, heapMb, walls.toSeq)
  }

  /** Heap still held between runs (leaked persists, observations and
    * listeners show here). Spark's ContextCleaner frees
    * broadcast, shuffle and cached blocks only after a GC has cleared the
    * driver's references to them, on its own thread, so collect until
    * the used heap stops falling. */
  private def retainedHeapBytes(spark: SparkSession): Long = {
    def used() = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    PerfbenchBus.drain(spark.sparkContext)
    System.gc()
    var last = used()
    var rounds = 0
    var falling = true
    while (falling && rounds < 8) {
      Thread.sleep(100)
      System.gc()
      val now = used()
      falling = now < last - (1L << 20)
      last = now
      rounds += 1
    }
    last
  }

  /** The closed loop: pipelines in turn, each run starting when the last
    * one's check ends, until `secs` have passed (and at least three runs).
    * Samples are the runs that passed their check. */
  private def loop(spark: SparkSession, store: MetaStore, secs: Double,
      from: Int): (Seq[Double], Seq[Double]) = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    var i = from
    while (i < from + 3 || System.nanoTime() < deadline) {
      iteration(spark, store, i).foreach { case (wall, cpu) =>
        walls += wall
        cpus += cpu
      }
      i += 1
    }
    (walls.toSeq, cpus.toSeq)
  }

  /** One untraced iteration: parse, save, load, run with the store, list
    * the run history, check the sinks. Returns the run call's wall and
    * process CPU seconds when it succeeded and its outputs are correct. */
  private def iteration(spark: SparkSession, store: MetaStore, i: Int): Option[(Double, Double)] = {
    val p = m.pipelines(i % m.pipelines.size)
    resetCatalog()
    attempted += 1
    try {
      val spec = SpecJson.parse(p.specJson)
      val id = store.save(spec)
      val loaded = store.load(id)
      val cpu0 = cpuSeconds()
      val t0 = System.nanoTime()
      val res = PipelineRunner.run(spark, loaded, id, Some(store))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds() - cpu0
      store.runs(id)
      verify(spark, p, res).map(_ => (wall, cpu))
    } catch {
      case e: Throwable => fail(p, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
  }

  private def fail(p: Pipe, why: String): Unit = {
    failed += 1
    failures += s"${p.name}: ${why.take(300)}"
  }

  /** The sinks as read back, when the run is `success` and every sink
    * holds the expected rows; otherwise None and a recorded failure. A
    * rows_written that disagrees with the sinks is not a failure: it is
    * recorded as `run.rows_written_mismatch` (a known defect of the
    * runner's count). */
  private def verify(spark: SparkSession, p: Pipe, res: PipelineRunner.RunResult): Option[Seq[SinkResult]] = {
    if (res.status != "success") {
      fail(p, s"status ${res.status}: ${res.error.getOrElse("")}")
      return None
    }
    val got = Check.sinks(spark, p)
    val bad = got.filterNot(_.ok)
    if (bad.isEmpty) Some(got)
    else {
      fail(p, bad.map(s => s"sink ${s.name}: ${s.rows} rows digest ${s.digest}, " +
        s"expected ${s.expected.rows} rows digest ${s.expected.digest}").mkString("; "))
      None
    }
  }

  /** The traced loop. For each pipeline in turn it makes three
    * iterations: an untraced one; a traced one that makes the same calls,
    * each in a span, so that their difference is the tracing overhead;
    * and a layer-by-layer one, which calls each layer's public entry point
    * in its own span and gives the per-layer figures. The listener is
    * attached only while a traced iteration runs. */
  private final class TracedLoop(spark: SparkSession, store: MetaStore) {
    private val sc = spark.sparkContext
    private val counters = new SparkCounters
    val tracer = new Tracer(sc, counters)
    private val extras = mutable.Map.empty[Int, mutable.Map[String, Double]]
    private val plainWalls = mutable.ArrayBuffer.empty[Double]
    private val tracedWalls = mutable.ArrayBuffer.empty[Double]

    def loop(secs: Double, from: Int, metrics: Metrics): Unit = {
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      var k = 0
      while (k < 9 || System.nanoTime() < deadline) {
        val i = from + k / 3
        k % 3 match {
          case 0 => iteration(spark, store, i).foreach(plainWalls += _._1)
          case 1 => listening(k)(traced(i))
          case _ => listening(k)(layers(i))
        }
        k += 1
      }
      summarize(metrics)
    }

    private def listening(k: Int)(body: => Unit): Unit = {
      tracer.run = k
      sc.addSparkListener(counters)
      try body
      finally {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(counters)
      }
    }

    /** The calls of `iteration`, each in a span. */
    private def traced(i: Int): Unit = {
      val p = m.pipelines(i % m.pipelines.size)
      resetCatalog()
      attempted += 1
      try tracer.span("iteration.traced") {
        val spec = tracer.span("spec.parse")(SpecJson.parse(p.specJson))
        val id = tracer.span("catalog.save")(store.save(spec))
        val loaded = tracer.span("catalog.load")(store.load(id))
        val res = tracer.span("run")(PipelineRunner.run(spark, loaded, id,
          Some(new TimedStore(store, tracer))))
        tracer.span("catalog.runs")(store.runs(id))
        if (tracer.span("check")(verify(spark, p, res)).isDefined)
          tracedWalls ++= tracer.spans.findLast(_.name == "run").map(_.seconds)
      } catch {
        case e: Throwable => fail(p, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    private def layers(i: Int): Unit = {
      val p = m.pipelines(i % m.pipelines.size)
      val x = extras.getOrElseUpdate(tracer.run, mutable.Map.empty)
      resetCatalog()
      attempted += 1
      try tracer.span("iteration.layers") {
        val spec = tracer.span("spec.parse")(SpecJson.parse(p.specJson))
        val id = tracer.span("catalog.save")(store.save(spec))
        val loaded = tracer.span("catalog.load")(store.load(id))
        tracer.span("compile.validate")(PipelineCompiler.validate(loaded))
        val observed = tracer.span("compile.build")(
          PipelineCompiler.compile(spark, loaded, observeStages = loaded.sinks.nonEmpty))
        tracer.span("compile.plan")(observed.df.queryExecution.executedPlan)
        x("compile.pushed_filters_on") = pushedFilters(observed.df)
        val plain = tracer.span("compile.build_plain")(
          PipelineCompiler.compile(spark, loaded, observeStages = false))
        x("compile.pushed_filters_off") = pushedFilters(plain.df)
        tracer.span("sources.read")(loaded.sources.foreach(SourceReader.read(spark, _)))
        tracer.span("sources.scan")(loaded.sources.foreach(s =>
          SourceReader.read(spark, s).write.format("noop").mode("overwrite").save()))
        tracer.span("transforms.noop")(plain.df.write.format("noop").mode("overwrite").save())
        loaded.sinks.foreach(s => tracer.span("sinks.write")(SinkWriter.write(plain.df, s)))
        val res = tracer.span("run")(PipelineRunner.run(spark, loaded, id,
          Some(new TimedStore(store, tracer))))
        tracer.span("catalog.runs")(store.runs(id))
        x("catalog.bytes") = Check.treeBytes(catalogDir).toDouble
        tracer.span("check")(verify(spark, p, res)).foreach { got =>
          val rows = got.map(_.rows).sum
          x("run.rows_written_mismatch") = math.abs(res.rowsWritten - rows).toDouble
          x("transforms.rows_out") = got.head.rows.toDouble
          x("sinks.bytes_written") = got.map(_.bytes).sum.toDouble
          x("sinks.files_written") = got.map(_.files).sum.toDouble
          x("sinks.bytes_per_row") = got.map(_.bytes).sum.toDouble / math.max(1L, rows)
        }
      } catch {
        case e: Throwable => fail(p, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    private def summarize(metrics: Metrics): Unit = {
      val byRun = tracer.spans.groupBy(_.run).filter(_._2.exists(_.name == "iteration.layers"))
      val perRun: Seq[Map[String, Double]] = byRun.keys.toSeq.sorted.map { r =>
        val ss = byRun(r)
        def dur(n: String) = ss.filter(_.name == n).map(_.seconds).sum
        def jobs(n: String) = ss.filter(_.name == n).map(_.counts.jobs).sum.toDouble
        val run = ss.find(_.name == "run")
        val children = ss.groupBy(_.parent)
        val self = ss.filter(_.layer != "iteration").groupBy(_.layer).map { case (layer, ls) =>
          s"self.${layer}_s" -> ls.map(s => s.seconds -
            children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
        }
        val rc = run.map(_.counts).getOrElse(Counts(0, 0, 0, 0, 0, 0, 0, 0))
        Map(
          "spec.parse_s" -> dur("spec.parse"),
          "catalog.save_s" -> dur("catalog.save"),
          "catalog.load_s" -> dur("catalog.load"),
          "catalog.runs_s" -> dur("catalog.runs"),
          "catalog.record_s" -> dur("catalog.record"),
          "compile.validate_s" -> dur("compile.validate"),
          "compile.build_s" -> dur("compile.build"),
          "compile.plan_s" -> dur("compile.plan"),
          "compile.eager_jobs" -> jobs("compile.build"),
          "sources.read_s" -> dur("sources.read"),
          "sources.scan_s" -> dur("sources.scan"),
          "transforms.noop_s" -> dur("transforms.noop"),
          "sinks.write_s" -> dur("sinks.write"),
          "run.s" -> dur("run"),
          "run.jobs" -> rc.jobs.toDouble,
          "run.extra_jobs" -> (rc.jobs - jobs("compile.build_plain") - jobs("sinks.write")),
          "run.overhead_s" -> (dur("run") - dur("compile.build") - dur("sinks.write")),
          "spark.stages" -> rc.stages.toDouble,
          "spark.tasks" -> rc.tasks.toDouble,
          "spark.task_cpu_s" -> rc.taskCpuNs / 1e9,
          "spark.shuffle_read_bytes" -> rc.shuffleRead.toDouble,
          "spark.shuffle_write_bytes" -> rc.shuffleWrite.toDouble,
          "spark.spill_bytes" -> rc.spill.toDouble,
          "spark.input_records" -> rc.inputRecords.toDouble,
          "spark.driver_gap_s" -> run.map(s => s.seconds -
            counters.jobCoveredMs(s.startMs, s.endMs) / 1e3).getOrElse(0.0),
        ) ++ self ++ extras.getOrElse(r, Map.empty)
      }
      def med(k: String) = median(perRun.flatMap(_.get(k)))
      val units = Seq(
        "spec.parse_s" -> "s", "catalog.save_s" -> "s", "catalog.load_s" -> "s",
        "catalog.runs_s" -> "s", "catalog.record_s" -> "s", "catalog.bytes" -> "B",
        "compile.validate_s" -> "s", "compile.build_s" -> "s", "compile.plan_s" -> "s",
        "compile.eager_jobs" -> "count", "compile.pushed_filters_on" -> "count",
        "compile.pushed_filters_off" -> "count", "sources.read_s" -> "s",
        "sources.scan_s" -> "s", "transforms.noop_s" -> "s", "transforms.rows_out" -> "rows",
        "sinks.write_s" -> "s", "sinks.bytes_written" -> "B", "sinks.files_written" -> "count",
        "sinks.bytes_per_row" -> "B", "run.jobs" -> "count", "run.extra_jobs" -> "count",
        "run.overhead_s" -> "s", "run.rows_written_mismatch" -> "rows",
        "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
        "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
        "spark.spill_bytes" -> "B", "spark.input_records" -> "rows", "spark.driver_gap_s" -> "s",
      ) ++ Seq("spec", "catalog", "compile", "sources", "transforms", "sinks", "run")
        .map(l => s"self.${l}_s" -> "s")
      units.foreach { case (k, u) =>
        val v = med(k)
        metrics(k) = (if (v.isNaN) 0.0 else v, u)
      }
      // overhead: traced against untraced iterations of the same calls,
      // interleaved, over the runs whose checks passed
      val tracedP50 = median(tracedWalls.toSeq)
      metrics("trace.run_p50_s") = (tracedP50, "s")
      metrics("trace.overhead_s") = (tracedP50 - median(plainWalls.toSeq), "s")
      metrics("trace.iterations") = (perRun.size.toDouble, "count")
    }
  }
}
