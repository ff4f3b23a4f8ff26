package graft

import java.nio.file.Files
import java.time.Instant

import graft.catalog.{FileMetaStore, MetaStore, RunRecord, SqliteMetaStore}
import graft.compile.PipelineCompiler
import graft.run.PipelineRunner
import graft.sinks.SinkWriter
import graft.spec._

/** The runner's counts come from the run's own sink actions: rows_written
  * equals what the sinks hold, a run starts no job beyond its sinks', and
  * the run registry keeps what the run reported.
  */
class RunnerCountsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graftcounts").toString

  /** 100 rows over 4 files: qty = id % 50, so `qty > 24` keeps 50. */
  private lazy val input: String = {
    val dir = tmp() + "/items"
    (0 until 100).map(i => (i.toLong, (i % 50).toDouble, s"g${i % 3}", s"Item $i"))
      .toDF("id", "qty", "grp", "label").repartition(4).write.parquet(dir)
    dir
  }

  /** items → map → filter (→ global sort) → sinks. */
  private def pipeline(sinks: SinkSpec*): PipelineSpec = PipelineSpec(
    name = "counts",
    sources = Seq(SourceSpec("items", "parquet", Config.of("path" -> input))),
    transforms = Seq(
      TransformSpec("low", "map",
        Config.of("field" -> "label", "operation" -> "lower", "as" -> "low"), Nil, 0),
      TransformSpec("big", "filter", Config.of("field" -> "qty", "op" -> "gt", "value" -> 24), Nil, 1)),
    sinks = sinks)

  private def sorted(sinks: SinkSpec*): PipelineSpec = {
    val p = pipeline(sinks: _*)
    p.copy(transforms = p.transforms :+
      TransformSpec("ordered", "sort", Config.of("columns" -> Seq(Map("field" -> "id"))), Nil, 2))
  }

  private def readBack(s: SinkSpec): Long = s.sinkType match {
    case "json" => spark.read.json(s.config.reqStr("path")).count()
    case _ => spark.read.parquet(s.config.reqStr("path")).count()
  }

  test("parquet, json and partitioned parquet sinks: rows_written is what the sink holds") {
    val sinks = Seq(
      SinkSpec("pq", "parquet", Config.of("path" -> (tmp() + "/pq"))),
      SinkSpec("js", "json", Config.of("path" -> (tmp() + "/js"))),
      SinkSpec("part", "parquet", Config.of("path" -> (tmp() + "/part"), "partition_by" -> Seq("grp"))))
    for (s <- sinks; spec <- Seq(pipeline(s), sorted(s))) {
      val res = PipelineRunner.run(spark, spec)
      assert(res.status == "success", res.error)
      assert(res.rowsWritten == 50 && readBack(s) == 50, s.name)
      // under the global sort the scan also feeds the range sampling job,
      // so its row count is not the rows read
      assert(res.rowsRead == (if (spec.transforms.size == 2) 100 else -1), s.name)
    }
  }

  test("two sinks (the persist path): rows_written is the sum of what both hold") {
    val sinks = Seq(
      SinkSpec("pq", "parquet", Config.of("path" -> (tmp() + "/pq"))),
      SinkSpec("js", "json", Config.of("path" -> (tmp() + "/js"))))
    val res = PipelineRunner.run(spark, pipeline(sinks: _*))
    assert(res.status == "success", res.error)
    assert(res.rowsWritten == sinks.map(readBack).sum && res.rowsWritten == 100)
    assert(res.rowsRead == 100)
    assert(res.stageRows == Map("big" -> 50L))
    val sortedRes = PipelineRunner.run(spark, sorted(sinks: _*))
    assert(sortedRes.rowsWritten == sinks.map(readBack).sum && sortedRes.rowsWritten == 100)
    assert(sortedRes.stageRows == Map("ordered" -> 50L))
  }

  test("cluster_by sink: the range sampling job is not counted") {
    val s = SinkSpec("clustered", "parquet", Config.of(
      "path" -> (tmp() + "/cl"), "cluster_by" -> Seq("id"), "num_files" -> 3))
    val res = PipelineRunner.run(spark, pipeline(s))
    assert(res.status == "success", res.error)
    assert(res.rowsWritten == readBack(s) && res.rowsWritten == 50)
    // every stage and the scan run again in the sink's range sampling
    // job: no stage is observed and rows_read is not collected
    assert(res.stageRows.isEmpty && res.rowsRead == -1)
  }

  test("stdout with limit 5 over 100 rows: rows_written is the rows printed") {
    val spec = pipeline(SinkSpec("o", "stdout", Config.of("limit" -> 5))).copy(transforms = Nil)
    val buf = new java.io.ByteArrayOutputStream()
    val res = Console.withOut(buf)(PipelineRunner.run(spark, spec))
    assert(res.status == "success", res.error)
    val printed = buf.toString("UTF-8").linesIterator.count(_.startsWith("{"))
    assert(printed == 5 && res.rowsWritten == 5)
  }

  test("stage_rows: a filter below a global sort is left out, never double-counted") {
    val s = SinkSpec("pq", "parquet", Config.of("path" -> (tmp() + "/pq")))
    val res = PipelineRunner.run(spark, sorted(s))
    assert(res.status == "success", res.error)
    // `low` and `big` run again in the sort's range sampling job
    assert(res.stageRows == Map("ordered" -> 50L))
    val res2 = PipelineRunner.run(spark, pipeline(s))
    // the map sits between the filter and its scan: observing it would
    // cost the scan its pushed filter
    assert(res2.stageRows == Map("big" -> 50L))
    assert(res2.rowsWritten == readBack(s))
  }

  test("a run's jobs are its sinks' jobs: no count probes, no recount") {
    for (sinks <- Seq(
        Seq(SinkSpec("pq", "parquet", Config.of("path" -> (tmp() + "/pq")))),
        Seq(SinkSpec("pq", "parquet", Config.of("path" -> (tmp() + "/pq"))),
          SinkSpec("js", "json", Config.of("path" -> (tmp() + "/js")))))) {
      val spec = sorted(sinks: _*)
      PipelineRunner.run(spark, spec) // warm: file listings, codegen
      val plain = jobsOf {
        // persisted with more than one sink, as the runner does
        val df = PipelineCompiler.compile(spark, spec).df
        val out = if (sinks.size > 1) df.persist() else df
        sinks.foreach(SinkWriter.write(out, _))
        out.unpersist()
      }
      val run = jobsOf(assert(PipelineRunner.run(spark, spec).status == "success"))
      assert(run == plain, s"${sinks.size} sink(s): run $run jobs, stats-off sinks $plain")
    }
  }

  test("a failure without a message is recorded as failed in the SQLite catalog") {
    val db = new SqliteMetaStore(Files.createTempDirectory("graftsq").resolve("p.db"))
    // the success record throws a message-less exception, as a
    // StackOverflowError would: the run must still come back `failed`
    val flaky = new MetaStore {
      def save(spec: PipelineSpec, id: Option[String]) = db.save(spec, id)
      def load(id: String) = db.load(id)
      def list() = db.list()
      def runs(pipelineId: String) = db.runs(pipelineId)
      def recordRun(r: RunRecord): Unit =
        if (r.status == "success") throw new IllegalStateException() else db.recordRun(r)
    }
    val spec = pipeline(SinkSpec("pq", "parquet", Config.of("path" -> (tmp() + "/pq"))))
    val res = PipelineRunner.run(spark, spec, "pid-null", Some(flaky))
    assert(res.status == "failed" && res.error.contains("java.lang.IllegalStateException"))
    val rec = db.runs("pid-null").head
    assert(rec.status == "failed" && rec.error.contains("java.lang.IllegalStateException"))
  }

  test("run records keep counts above 2^31 in both catalogs") {
    val big = 3000000000L
    val rec = RunRecord("r1", "pid-big", "success", Instant.parse("2026-01-01T00:00:00Z"),
      Instant.parse("2026-01-01T01:00:00Z"), big, big + 1, big + 2, None, Map("s" -> (big + 3)))
    for (store <- Seq[MetaStore](
        new FileMetaStore(Files.createTempDirectory("graftbig")),
        new SqliteMetaStore(Files.createTempDirectory("graftbig").resolve("p.db")))) {
      store.recordRun(rec)
      assert(store.runs("pid-big") == Seq(rec), store.getClass.getSimpleName)
    }
  }
}
