package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.Instant
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.spec.{Config, PipelineSpec, SinkSpec, SourceSpec, SpecJson, TransformSpec}

/** Metadata catalog: create / list / load pipelines, record and list
  * runs (reference main.py:371-413, 499-510). Two backends:
  *
  *  - [[SqliteMetaStore]] — the reference's own format: five SQLite
  *    tables in the `$PIPELINE_DB` file (main.py:21,32-80), so existing
  *    tooling pointed at the reference's `.db` keeps working (drop-in
  *    parity, SURVEY §1.4).
  *  - [[FileMetaStore]] — JSON spec files + append-only `runs.jsonl`
  *    under `$GRAFT_HOME`; no database dependency, works on any shared
  *    filesystem a cluster driver can see.
  *
  * [[MetaStore.fromEnv]] picks SQLite when `$PIPELINE_DB` is set
  * (reference precedence), else the file store.
  */
trait MetaStore {
  /** Persist a spec; returns its id. */
  def save(spec: PipelineSpec, id: Option[String] = None): String
  def load(id: String): PipelineSpec
  /** (id, name, description) for every stored pipeline. */
  def list(): Seq[(String, String, String)]
  def recordRun(r: RunRecord): Unit
  /** Run history for a pipeline, newest first. */
  def runs(pipelineId: String): Seq[RunRecord]
}

object MetaStore {
  def fromEnv(): MetaStore = sys.env.get("PIPELINE_DB") match {
    case Some(db) => new SqliteMetaStore(Paths.get(db))
    case None => new FileMetaStore(
      Paths.get(sys.env.getOrElse("GRAFT_HOME", sys.props("user.home") + "/.graft")))
  }
}

/** File-backed catalog: control-plane metadata is tiny (KBs), so a
  * directory of JSON spec files plus an append-only `runs.jsonl` gives
  * the reference's capabilities without a database dependency.
  */
final class FileMetaStore(root: Path) extends MetaStore {
  private val pipelinesDir = root.resolve("pipelines")
  private val runsFile = root.resolve("runs.jsonl")
  Files.createDirectories(pipelinesDir)

  /** Reference create_pipeline + add_source/add_transform/add_sink
    * (main.py:371-413), collapsed into one atomic write of the spec. */
  def save(spec: PipelineSpec, id: Option[String] = None): String = {
    val pid = id.getOrElse(UUID.randomUUID().toString)
    Files.writeString(pipelinesDir.resolve(s"$pid.json"), spec.json)
    pid
  }

  def load(id: String): PipelineSpec =
    SpecJson.parse(Files.readString(pipelinesDir.resolve(s"$id.json")))

  /** Reference list_pipelines (main.py:499-502). */
  def list(): Seq[(String, String, String)] =
    Files.list(pipelinesDir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".json")).sortBy(_.toString).map { p =>
        val spec = SpecJson.parse(Files.readString(p))
        val id = p.getFileName.toString.stripSuffix(".json")
        (id, spec.name, spec.description)
      }

  /** Append a run record (reference runs table, main.py:69-79). */
  def recordRun(r: RunRecord): Unit = {
    val line = JsonMethods.compact(JsonMethods.render(JObject(
      "run_id" -> JString(r.runId),
      "pipeline_id" -> JString(r.pipelineId),
      "status" -> JString(r.status),
      "started_at" -> JString(r.startedAt.toString),
      "finished_at" -> JString(r.finishedAt.toString),
      "rows_read" -> JLong(r.rowsRead),
      "rows_written" -> JLong(r.rowsWritten),
      "duration_ms" -> JLong(r.durationMs),
      "error" -> r.error.map(JString(_)).getOrElse(JNull),
      "stage_rows" -> JObject(r.stageRows.toList.sortBy(_._1)
        .map { case (k, v) => k -> (JLong(v): org.json4s.JValue) }))))
    Files.writeString(runsFile, line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Reference list_runs (main.py:504-510). */
  def runs(pipelineId: String): Seq[RunRecord] = {
    if (!Files.exists(runsFile)) return Nil
    Files.readAllLines(runsFile).asScala.toSeq.flatMap { line =>
      JsonMethods.parse(line) match {
        case o: JObject =>
          val c = graft.spec.Config(o)
          if (c.str("pipeline_id").contains(pipelineId))
            Some(RunRecord(
              c.reqStr("run_id"), c.reqStr("pipeline_id"), c.reqStr("status"),
              Instant.parse(c.reqStr("started_at")), Instant.parse(c.reqStr("finished_at")),
              c.long("rows_read").getOrElse(0L),
              c.long("rows_written").getOrElse(0L),
              c.long("duration_ms").getOrElse(0L),
              c.str("error"),
              c.strMap("stage_rows").flatMap { case (k, v) =>
                v.toLongOption.map(k -> _) }))
          else None
        case _ => None
      }
    }.reverse
  }
}

/** SQLite-backed catalog in the reference's own five-table schema
  * (main.py:32-80), via the pure-Scala [[SqliteFile]] codec. Each
  * mutation re-reads current state and rebuilds the file atomically —
  * correct and cheap at control-plane size, and simpler than in-place
  * b-tree surgery.
  *
  * Column layouts match the reference byte-for-byte; `duration_ms`
  * (which the reference schema lacks) rides in the `stats` JSON column
  * (main.py:79).
  */
final class SqliteMetaStore(db: Path) extends MetaStore {
  import SqliteFile._

  // Reference DDL (main.py:35-80) minus PRIMARY KEY/REFERENCES
  // constraints: SQLite backs TEXT primary keys with an index b-tree
  // this writer doesn't build, and constraint-free DDL keeps real
  // SQLite happy opening our file. The reference's reader/writer SQL
  // never relies on either constraint.
  private val ddl: Seq[(String, String)] = Seq(
    "pipelines" -> ("CREATE TABLE pipelines (id TEXT, name TEXT NOT NULL, description TEXT, " +
      "status TEXT NOT NULL DEFAULT 'idle', created_at TEXT NOT NULL, updated_at TEXT NOT NULL, " +
      "config TEXT NOT NULL DEFAULT '{}')"),
    "sources" -> ("CREATE TABLE sources (id TEXT, pipeline_id TEXT NOT NULL, name TEXT NOT NULL, " +
      "source_type TEXT NOT NULL, config TEXT NOT NULL DEFAULT '{}', schema TEXT, created_at TEXT NOT NULL)"),
    "transforms" -> ("CREATE TABLE transforms (id TEXT, pipeline_id TEXT NOT NULL, name TEXT NOT NULL, " +
      "transform_type TEXT NOT NULL, config TEXT NOT NULL DEFAULT '{}', " +
      "depends_on TEXT NOT NULL DEFAULT '[]', order_index INTEGER NOT NULL DEFAULT 0)"),
    "sinks" -> ("CREATE TABLE sinks (id TEXT, pipeline_id TEXT NOT NULL, name TEXT NOT NULL, " +
      "sink_type TEXT NOT NULL, config TEXT NOT NULL DEFAULT '{}')"),
    "runs" -> ("CREATE TABLE runs (id TEXT, pipeline_id TEXT NOT NULL, " +
      "status TEXT NOT NULL DEFAULT 'pending', started_at TEXT, finished_at TEXT, " +
      "rows_read INTEGER DEFAULT 0, rows_written INTEGER DEFAULT 0, error TEXT, " +
      "stats TEXT NOT NULL DEFAULT '{}')"))

  private def state(): Map[String, Seq[Seq[SqlValue]]] =
    if (Files.exists(db)) SqliteFile.read(db)
    else ddl.map { case (n, _) => n -> Seq.empty[Seq[SqlValue]] }.toMap

  private def persist(s: Map[String, Seq[Seq[SqlValue]]]): Unit = {
    Files.createDirectories(db.toAbsolutePath.getParent)
    SqliteFile.write(db, ddl.map { case (n, sql) => Table(n, sql, s.getOrElse(n, Nil)) })
  }

  private def txt(v: SqlValue): String = v match {
    case SText(s) => s
    case SInt(i) => i.toString
    case SReal(d) => d.toString
    case SNull => null
    case SBlob(_) => throw new graft.GraftAnalysisException("unexpected blob in catalog")
  }
  private def num(v: SqlValue): Long = v match {
    case SInt(i) => i
    case SText(s) => s.toLong
    case SReal(d) => d.toLong
    case _ => 0L
  }
  private def cfgJson(c: Config): String = JsonMethods.compact(JsonMethods.render(c.jv))

  def save(spec: PipelineSpec, id: Option[String] = None): String = {
    val pid = id.getOrElse(UUID.randomUUID().toString)
    val now = Instant.now().toString
    val s = state()
    def keep(rows: Seq[Seq[SqlValue]]): Seq[Seq[SqlValue]] =
      rows.filterNot(r => txt(r(1)) == pid) // col 1 = pipeline_id in child tables
    val pipeRow = Seq(SText(pid), SText(spec.name), SText(spec.description),
      SText("idle"), SText(now), SText(now), SText("{}"))
    val srcRows = spec.sources.map(src => Seq(SText(s"$pid:src:${src.name}"), SText(pid),
      SText(src.name), SText(src.sourceType), SText(cfgJson(src.config)), SNull, SText(now)))
    val trRows = spec.transforms.zipWithIndex.map { case (t, i) =>
      Seq(SText(s"$pid:tr:${t.name}"), SText(pid), SText(t.name), SText(t.transformType),
        SText(cfgJson(t.config)),
        SText(JsonMethods.compact(JsonMethods.render(JArray(t.dependsOn.toList.map(JString(_)))))),
        SInt(if (t.orderIndex != 0) t.orderIndex.toLong else i.toLong))
    }
    val skRows = spec.sinks.map(sk => Seq(SText(s"$pid:sink:${sk.name}"), SText(pid),
      SText(sk.name), SText(sk.sinkType), SText(cfgJson(sk.config))))
    persist(s ++ Map(
      "pipelines" -> (s.getOrElse("pipelines", Nil).filterNot(r => txt(r.head) == pid) :+ pipeRow),
      "sources" -> (keep(s.getOrElse("sources", Nil)) ++ srcRows),
      "transforms" -> (keep(s.getOrElse("transforms", Nil)) ++ trRows),
      "sinks" -> (keep(s.getOrElse("sinks", Nil)) ++ skRows)))
    pid
  }

  def load(id: String): PipelineSpec = {
    val s = state()
    val p = s.getOrElse("pipelines", Nil).find(r => txt(r.head) == id)
      .getOrElse(throw new java.nio.file.NoSuchFileException(s"pipeline $id in $db"))
    def mine(t: String): Seq[Seq[SqlValue]] =
      s.getOrElse(t, Nil).filter(r => txt(r(1)) == id)
    PipelineSpec(
      name = txt(p(1)),
      description = Option(txt(p(2))).getOrElse(""),
      sources = mine("sources").map(r =>
        SourceSpec(txt(r(2)), txt(r(3)), Config.parse(txt(r(4))))),
      transforms = mine("transforms").sortBy(r => num(r(6))).map(r =>
        TransformSpec(txt(r(2)), txt(r(3)), Config.parse(txt(r(4))),
          dependsOn = JsonMethods.parse(txt(r(5))) match {
            case JArray(xs) => xs.collect { case JString(x) => x }
            case _ => Nil
          },
          orderIndex = num(r(6)).toInt)),
      sinks = mine("sinks").map(r => SinkSpec(txt(r(2)), txt(r(3)), Config.parse(txt(r(4))))))
  }

  def list(): Seq[(String, String, String)] =
    state().getOrElse("pipelines", Nil)
      .map(r => (txt(r.head), txt(r(1)), Option(txt(r(2))).getOrElse("")))
      .sortBy(_._1)

  def recordRun(r: RunRecord): Unit = {
    val s = state()
    val row = Seq(SText(r.runId), SText(r.pipelineId), SText(r.status),
      SText(r.startedAt.toString), SText(r.finishedAt.toString),
      SInt(r.rowsRead), SInt(r.rowsWritten),
      r.error.map(SText(_): SqlValue).getOrElse(SNull),
      SText(JsonMethods.compact(JsonMethods.render(JObject(
        "duration_ms" -> JLong(r.durationMs),
        "stage_rows" -> JObject(r.stageRows.toList.sortBy(_._1)
          .map { case (k, v) => k -> (JLong(v): org.json4s.JValue) }))))))
    persist(s + ("runs" -> (s.getOrElse("runs", Nil) :+ row)))
  }

  def runs(pipelineId: String): Seq[RunRecord] =
    state().getOrElse("runs", Nil).filter(r => txt(r(1)) == pipelineId).map { r =>
      val stats = Option(txt(r(8))).map(Config.parse).getOrElse(Config.empty)
      // started_at/finished_at are nullable in the reference schema
      // (main.py:70-80): a run inserted while running (or left behind
      // by a crash) has finished_at NULL. EPOCH is the sentinel so a
      // foreign-written db never NPEs a `runs` listing.
      RunRecord(txt(r.head), txt(r(1)), txt(r(2)),
        Option(txt(r(3))).map(Instant.parse).getOrElse(Instant.EPOCH),
        Option(txt(r(4))).map(Instant.parse).getOrElse(Instant.EPOCH),
        num(r(5)), num(r(6)),
        stats.long("duration_ms").getOrElse(0L),
        Option(txt(r(7))),
        stats.strMap("stage_rows").flatMap { case (k, v) =>
          v.toLongOption.map(k -> _) })
    }.reverse
}

final case class RunRecord(
    runId: String,
    pipelineId: String,
    status: String,
    startedAt: Instant,
    finishedAt: Instant,
    rowsRead: Long,
    rowsWritten: Long,
    durationMs: Long,
    error: Option[String],
    /** Observed rows out of each transform (stats JSON `stage_rows`). */
    stageRows: Map[String, Long] = Map.empty)
