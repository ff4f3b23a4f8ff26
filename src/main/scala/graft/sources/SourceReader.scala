package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.jackson.JsonMethods

import graft.GraftAnalysisException
import graft.spec.SourceSpec

/** Source scans: spec → lazy DataFrame.
  *
  * Reference surface (main.py:106-138): csv, json, sqlite, inline —
  * each an *eager, total* read into memory. Here every source is a lazy
  * Spark scan, so predicate pushdown / column pruning reach the file
  * (Catalyst `PushDownPredicates` + `ColumnPruning`) and nothing
  * materializes until a sink action. `parquet` is added as the
  * first-class columnar format for the 100 TB design point; `jdbc`
  * generalizes the reference's sqlite source (main.py:130-138),
  * including its arbitrary-SQL pushdown via the `query` option.
  */
object SourceReader {

  /** Optional `where` on ANY source: a SQL predicate applied to the
    * lazy scan, so for columnar sources it reaches the reader as a
    * pushed filter (`PushedFilters` in the scan node) — the idiomatic
    * way to split one physical table into roles (e.g. a train vs eval
    * slice feeding a contamination audit) without materializing
    * either side.
    */
  def read(spark: SparkSession, s: SourceSpec): DataFrame = {
    val df = readRaw(spark, s)
    s.config.str("where") match {
      case Some(w) => df.where(org.apache.spark.sql.functions.expr(w))
      case None    => df
    }
  }

  /** The archive-size seam, shared by every whole-file binary source
    * (warc/tar/zip/pdf/jsonl): Spark's binary row limit is
    * `Int.MaxValue` bytes, so a >2 GiB shard is otherwise a hard TASK
    * CRASH that kills the whole 100 TB scan. Files above `max_bytes`
    * (config; default the 2 GiB hard limit) are never read — the
    * length predicate is applied to the `binaryFile` listing columns,
    * so pruning happens before any content bytes load — and come back
    * in the second frame for per-source quarantine rows. Real crawl
    * estates shard archives at ~1 GiB (the Common Crawl convention);
    * set `max_bytes` lower to enforce a local policy.
    */
  private def binarySeam(spark: SparkSession, s: SourceSpec): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val maxBytes = s.config.long("max_bytes").getOrElse(Int.MaxValue.toLong)
    val all = spark.read.format("binaryFile").load(s.config.reqStr("path"))
    (all.where(col("length") <= maxBytes).select(col("path"), col("content")),
      all.where(col("length") > maxBytes).select(col("path"), col("length")))
  }

  private def readRaw(spark: SparkSession, s: SourceSpec): DataFrame = s.sourceType match {
    // Reference csv semantics (main.py:118-123): header row = field
    // names, every value a string. inferSchema stays opt-in so default
    // typing matches the reference exactly.
    case "csv" =>
      spark.read
        .option("header", s.config.bool("header").getOrElse(true))
        .option("delimiter", s.config.str("delimiter").getOrElse(","))
        .option("inferSchema", s.config.bool("infer_schema").getOrElse(false))
        .csv(s.config.reqStr("path"))

    // Reference json source (main.py:125-128): one file, either a
    // top-level array of objects or a single object (1-row). Spark's
    // multiLine mode handles both roots. `lines=true` switches to
    // JSONL, the scalable layout for large corpora.
    case "json" =>
      val lines = s.config.bool("lines").getOrElse(false)
      spark.read.option("multiLine", !lines).json(s.config.reqStr("path"))

    case "parquet" =>
      val df = spark.read.parquet(s.config.reqStr("path"))
      s.config.strList("columns") match {
        case Nil  => df
        case cols => df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      }
    // Delta table snapshot: _delta_log JSON replay selects the
    // active parquet files; partition values inject from the log.
    // Optional `version_as_of` time-travels to that exact version
    // (refusing when it is not contiguously replayable);
    // `timestamp_as_of` (epoch ms) resolves through the monotonic
    // commit timestamps instead. Naming both refuses.
    // `changes = true` reads the CHANGE DATA FEED instead of the
    // snapshot: the start bound is `starting_version` OR
    // `starting_timestamp` (epoch ms, resolved to the earliest commit
    // at or after it); `ending_version` is optional (absent = the
    // log's latest — the incremental tail). Output rows carry
    // _change_type/_commit_version/_commit_timestamp appended.
    // `partition_where` (a SQL predicate) prunes the SNAPSHOT read at
    // the log replay — partition conjuncts against partitionValues,
    // the rest min/max-skipped against add.stats — and is re-applied
    // to the rows.
    case "delta" if s.config.bool("changes").getOrElse(false) =>
      val path = s.config.reqStr("path")
      val end = s.config.long("ending_version")
      val endTs = s.config.long("ending_timestamp")
      if (end.isDefined && endTs.isDefined)
        throw new graft.GraftAnalysisException(
          "delta: ending_version and ending_timestamp are mutually exclusive")
      (s.config.long("starting_version"), s.config.long("starting_timestamp")) match {
        case (Some(_), Some(_)) => throw new graft.GraftAnalysisException(
          "delta: starting_version and starting_timestamp are mutually exclusive")
        case (Some(sv), None) =>
          val endV = endTs.map(t => graft.ops.DeltaLog.resolveEndTs(path, t))
            .orElse(end)
          graft.ops.DeltaLog.readChanges(spark, path, sv, endV)
        case (None, Some(ts)) =>
          graft.ops.DeltaLog.readChangesAt(spark, path, ts, end, endTs)
        case (None, None) => throw new graft.GraftAnalysisException(
          "delta: changes=true requires starting_version or starting_timestamp")
      }

    case "delta" =>
      val path = s.config.reqStr("path")
      val pf = s.config.str("partition_where")
        .map(org.apache.spark.sql.functions.expr)
      (s.config.long("version_as_of"), s.config.long("timestamp_as_of")) match {
        case (Some(_), Some(_)) => throw new graft.GraftAnalysisException(
          "delta: version_as_of and timestamp_as_of are mutually exclusive")
        case (None, Some(ts)) => graft.ops.DeltaLog.readTableAt(spark, path, ts, pf)
        case (v, None) => graft.ops.DeltaLog.readTable(spark, path, v, pf)
      }

    // Iceberg table snapshot: metadata-json → manifest-list →
    // manifests (in-repo Avro) select the active parquet files;
    // optional `snapshot_id` reads a historical snapshot,
    // `timestamp_as_of` (epoch ms) resolves through the metadata's
    // snapshot-log. Naming both refuses. `partition_where` (a SQL
    // predicate over identity partition fields) prunes at the
    // MANIFEST walk — only matching files open — and is re-applied
    // to the rows.
    // `changes = true` reads the INCREMENTAL APPEND SCAN instead of a
    // snapshot: rows appended after from_snapshot up to to_snapshot
    // (default current) — append-only by design, rewrites/deletes
    // between the snapshots refuse by name.
    case "iceberg" if s.config.bool("changes").getOrElse(false) =>
      graft.ops.Iceberg.readAppendsBetween(spark, s.config.reqStr("path"),
        s.config.long("from_snapshot").getOrElse(
          throw new graft.GraftAnalysisException(
            "iceberg: changes=true requires from_snapshot")),
        s.config.long("to_snapshot"))

    case "iceberg" =>
      val path = s.config.reqStr("path")
      val pf = s.config.str("partition_where")
        .map(org.apache.spark.sql.functions.expr)
      (s.config.long("snapshot_id"), s.config.long("timestamp_as_of")) match {
        case (Some(_), Some(_)) => throw new graft.GraftAnalysisException(
          "iceberg: snapshot_id and timestamp_as_of are mutually exclusive")
        case (None, Some(ts)) => graft.ops.Iceberg.readTableAt(spark, path, ts, pf)
        case (v, None) => graft.ops.Iceberg.readTable(spark, path, v, pf)
      }

    // ORC: the other columnar format large estates standardize on
    // (Hive lineage). Same lazy-scan contract as parquet — pushdown,
    // pruning, and the optional `columns` projection reach the reader.
    case "orc" =>
      val df = spark.read.orc(s.config.reqStr("path"))
      s.config.strList("columns") match {
        case Nil  => df
        case cols => df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      }

    // Raw text — the canonical LLM-corpus ingestion format. Default:
    // one row per line, column `value`. `whole_file = true` reads one
    // row per FILE (column `value`, plus `path` when `with_path` is
    // set) — the document-per-file layout crawl dumps arrive in.
    // Lazy scan like every other source; line mode splits by HDFS
    // block, so a single huge file still parallelizes.
    case "text" =>
      val whole = s.config.bool("whole_file").getOrElse(false)
      val df = spark.read.option("wholetext", whole).text(s.config.reqStr("path"))
      if (s.config.bool("with_path").getOrElse(false))
        df.withColumn("path", org.apache.spark.sql.functions.input_file_name())
      else df

    // WARC — the web-crawl wire format (ISO 28500; Common Crawl's
    // .warc.gz). Files load as binary (one row per file, the
    // parallelism unit), records parse through the from-spec gzip +
    // WARC framing walk in [[graft.ops.Warc]]. Default emits the
    // response-text surface (target_uri, http_status, text) ready
    // for html_extract; `records = true` emits the raw record rows
    // (warc_type, record_id, headers, body) instead. Malformed files
    // quarantine as rec_index = -1 rows rather than failing the scan.
    case "warc" if s.config.bool("cdx").getOrElse(false) =>
      // CDX index mode: one row per response record with its exact
      // member (offset, length) — the crawl-archive lookup sidecar
      import org.apache.spark.sql.functions.col
      val paths = spark.read.format("binaryFile").load(s.config.reqStr("path"))
        .select(col("path"))
      graft.ops.Cdx.index(paths, "path")

    case "warc" if s.config.bool("split").getOrElse(false) =>
      // member-split scan: gzip member ranges indexed by one
      // streaming pass per file, then fanned out as ranged reads —
      // unbounded file sizes (no 2 GiB binary-row limit, no
      // max_bytes quarantine needed), parallelism = ranges. The
      // listing reads paths only; content bytes never ride a row.
      import org.apache.spark.sql.functions.{col, concat, lit}
      val paths = spark.read.format("binaryFile").load(s.config.reqStr("path"))
        .select(col("path"))
      val recs = graft.ops.Warc.splitRecords(paths, "path",
        s.config.long("split_target_bytes").getOrElse(64L << 20))
      if (s.config.bool("records").getOrElse(false)) recs
      else graft.ops.Warc.responseText(
        // responseText keys on `path`; (path, offset) is the unique
        // shard key under the split scan, so fold the offset in
        recs.withColumn("path", concat(col("path"), lit("#"), col("offset")))
          .drop("offset"),
        pathCol = true)

    case "warc" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      val recs = graft.ops.Warc.recordsByPath(files, "path", "content")
      if (s.config.bool("records").getOrElse(false))
        recs.unionByName(oversized.select(col("path"),
          lit(-1).as("rec_index"), lit(null).cast("string").as("warc_type"),
          lit(null).cast("string").as("record_id"), lit(null).cast("string").as("target_uri"),
          lit(null).cast("string").as("warc_date"), lit(null).cast("string").as("content_type"),
          col("length").as("content_length"), lit(null).cast("int").as("http_status"),
          lit(null).cast("binary").as("body")))
      else graft.ops.Warc.responseText(recs, pathCol = true)
        .unionByName(oversized.select(col("path"), lit(-1).as("rec_index"),
          lit(null).cast("string").as("target_uri"), lit(null).cast("int").as("http_status"),
          lit(null).cast("string").as("text"), lit(null).cast("string").as("charset"),
          lit(null).cast("string").as("charset_src"),
          lit(null).cast("string").as("content_encoding"),
          lit(false).as("payload_decoded")))

    // ZIP — the everyday archive for per-document-file dumps:
    // binary load, central-directory walk with member CRCs verified,
    // DEFLATE through the from-spec inflate. Same surfaces and
    // quarantine contract as `tar` (`members = true` for raw rows).
    case "zip" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      val ms = graft.ops.Zip.members(files, "path", "content")
      if (s.config.bool("members").getOrElse(false))
        ms.unionByName(oversized.select(col("path").as("file_id"),
          lit(-1).as("member_index"), lit(null).cast("string").as("name"),
          lit(-1).as("method"), col("length").as("size"),
          lit(null).cast("binary").as("data")))
      else graft.ops.Zip.memberText(ms)
        .unionByName(oversized.select(col("path").as("file_id"),
          lit(-1).as("member_index"), lit(null).cast("string").as("name"),
          col("length").as("size"), lit(null).cast("string").as("text")))

    // PDF — document dumps as files on disk: binary load (one task
    // per file), from-spec object/xref/content-stream walk, one row
    // per file (path, decoded, version, n_objects, n_pages, flate,
    // text). Unparseable files quarantine with decoded = false.
    case "pdf" =>
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      files.as[(String, Array[Byte])].mapPartitions(_.map { case (path, bytes) =>
        (graft.ops.Pdf.extractText(bytes), graft.ops.Pdf.meta(bytes)) match {
          case (Some(text), Some((ver, nObj, nPages, flate))) =>
            (path, true, ver, nObj, nPages, flate, text)
          case _ => (path, false, null: String, 0, 0, false, null: String)
        }
      }).toDF("path", "decoded", "version", "n_objects", "n_pages", "flate", "text")
        .unionByName(oversized.select(col("path"), lit(false).as("decoded"),
          lit(null).cast("string").as("version"), lit(0).as("n_objects"),
          lit(0).as("n_pages"), lit(false).as("flate"),
          lit(null).cast("string").as("text")))

    // Compressed JSONL — the default corpus shard format
    // (`shard-00042.jsonl.zst` / `.jsonl.gz`): files load as binary
    // (one task per shard), decompress through the codec `compression`
    // names (zstd | gzip | bzip2 | xz | snappy-framed | lz4-framed |
    // none), or the one [[graft.ops.Sniff]] detects when unset, split
    // on newlines, and parse as JSON with schema inferred across
    // shards. A shard its codec refuses fails the read, named. Scale:
    // shards are the parallelism unit, the engine's own shard writers
    // (shuffle_shards) produce bounded-size files.
    case "jsonl" =>
      import spark.implicits._
      val comp = s.config.str("compression") // a Sniff.codec label | none | unset = sniff
      // jsonl rows carry a data-dependent schema, so there is no
      // quarantine-row shape to union — the seam fails FAST instead,
      // naming the offending shards (listing columns only; no content
      // bytes load for this check)
      val (okFiles, oversizedJsonl) = binarySeam(spark, s)
      val oversizedNames = oversizedJsonl
        .select(org.apache.spark.sql.functions.col("path")).limit(10)
        .collect().map(_.getString(0))
      if (oversizedNames.nonEmpty)
        throw new GraftAnalysisException(
          s"source '${s.name}': jsonl shard(s) exceed max_bytes " +
            s"(default ${Int.MaxValue} — Spark's binary row limit; shard archives ~1 GiB): " +
            oversizedNames.mkString(", "))
      val sourceName = s.name
      val named = comp.flatMap(graft.ops.Sniff.codec)
      val files = okFiles
        .select(org.apache.spark.sql.functions.col("path"), org.apache.spark.sql.functions.col("content"))
        .as[(String, Array[Byte])]
      val lines = files.flatMap { case (path, payload) =>
        val decoded = (comp, named) match {
          case (Some("none"), _) => Some(payload)
          case (_, Some(decode)) => decode(payload)
          case _ => graft.ops.Sniff.decompress(payload)
        }
        val bytes = decoded.getOrElse(throw new GraftAnalysisException(
          s"source '$sourceName': jsonl shard refused by its codec " +
            s"(corrupt, truncated, or decodes past the 256 MiB codec cap): $path"))
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n", -1).iterator.map(_.stripSuffix("\r")).filter(_.nonEmpty)
      }
      // schema inference runs the decode now, so a refused shard
      // surfaces here: unwrap it from the job failure
      try spark.read.json(lines)
      catch {
        case e: org.apache.spark.SparkException =>
          throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collectFirst { case g: GraftAnalysisException => g }.getOrElse(e)
      }

    // Avro object container files — the data-eng wire format (Kafka
    // dumps, warehouse exports): binary load (one task per shard),
    // from-spec container walk + datum decode in [[graft.ops.Avro]]
    // (codecs null/deflate/snappy/bzip2/xz/zstandard). Schema comes
    // from the first shard's header (bounded driver-side prefix read)
    // and every shard must match it byte-for-byte; malformed shards
    // fail fast naming the file unless skip_corrupt is set (schema
    // DRIFT always fails — a silently dropped column is data loss).
    case "avro" =>
      val (files, oversizedAvro) = binarySeam(spark, s)
      val oversizedNames = oversizedAvro
        .select(org.apache.spark.sql.functions.col("path")).limit(10)
        .collect().map(_.getString(0))
      if (oversizedNames.nonEmpty)
        throw new GraftAnalysisException(
          s"source '${s.name}': avro shard(s) exceed max_bytes " +
            s"(default ${Int.MaxValue} — Spark's binary row limit): " +
            oversizedNames.mkString(", "))
      graft.ops.Avro.rows(spark, files,
        skipCorrupt = s.config.bool("skip_corrupt").getOrElse(false))

    // TFRecord shards — the canonical training-data container of the
    // TensorFlow estate: from-spec framing (masked CRC-32C verified
    // per record) + tf.train.Example protobuf decode in
    // [[graft.ops.TfRecord]]. Long format, one row per (record,
    // feature) — Examples carry no schema to pivot against. Framing
    // violations, undecodable Examples, and oversized files
    // quarantine as rec_index = -1 rows.
    case "tfrecord" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      graft.ops.TfRecord.rows(files, "path", "content")
        .unionByName(oversized.select(col("path").as("file_id"),
          lit(-1).as("rec_index"), lit(null).cast("string").as("feature"),
          lit(null).cast("string").as("kind"), lit(null).cast("string").as("text"),
          lit(null).cast("array<bigint>").as("ints"),
          lit(null).cast("array<float>").as("floats")))

    // tar / tar.gz — the per-document-file archive layout (POSIX
    // ustar through the same from-spec gzip rung). Default emits the
    // text surface (name, size, text) of regular-file members;
    // `members = true` emits every member row (typeflag, size, raw
    // data). Same quarantine + parallelism contract as `warc`.
    case "tar" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      val ms = graft.ops.Tar.members(files, "path", "content")
      if (s.config.bool("members").getOrElse(false))
        ms.unionByName(oversized.select(col("path").as("file_id"),
          lit(-1).as("member_index"), lit(null).cast("string").as("name"),
          lit(null).cast("string").as("typeflag"), col("length").as("size"),
          lit(null).cast("binary").as("data")))
      else graft.ops.Tar.memberText(ms)
        .unionByName(oversized.select(col("path").as("file_id"),
          lit(-1).as("member_index"), lit(null).cast("string").as("name"),
          col("length").as("size"), lit(null).cast("string").as("text")))

    // WebDataset shards — the multimodal sample convention over tar
    // ([[graft.ops.WebDataset]]): one row per SAMPLE with a
    // part-name → bytes map, grouped by the first-dot-of-basename
    // key rule in a single scan-local adjacency pass. Malformed and
    // oversized shards quarantine as sample_index = -1 rows.
    case "webdataset" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      graft.ops.WebDataset.samples(files, "path", "content")
        .unionByName(oversized.select(col("path").as("file_id"),
          lit(-1).as("sample_index"), lit(null).cast("string").as("key"),
          lit(null).cast("map<string,binary>").as("parts")))

    // Office reads on the from-spec Zip + Xml stack: one row per
    // file, body text per the format's element semantics
    // ([[graft.ops.Docx]] / [[graft.ops.Office]]); hostile files
    // surface decoded = false.
    case "docx" | "pptx" | "odt" | "epub" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      val extract: Array[Byte] => Option[String] = s.sourceType match {
        case "docx" => graft.ops.Docx.extractText
        case "pptx" => graft.ops.Office.extractPptxText
        case "epub" => graft.ops.Epub.extractText
        case _ => graft.ops.Office.extractOdtText
      }
      val spark2 = spark
      import spark2.implicits._
      files.select(col("path"), col("content")).as[(String, Array[Byte])]
        .map { case (path, bytes) =>
          extract(bytes) match {
            case Some(t) => (path, t, true)
            case None => (path, "", false)
          }
        }
        .toDF("path", "text", "decoded")
        .unionByName(oversized.select(col("path"),
          lit("").as("text"), lit(false).as("decoded")))

    // mbox mail archives: one row per RFC 5322 message with MIME
    // body decode ([[graft.ops.Email]]); unparseable messages are
    // null rows at their seq, oversized files quarantine whole.
    case "mbox" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      val spark5 = spark
      import spark5.implicits._
      files.select(col("path"), col("content")).as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          graft.ops.Email.splitMboxPublic(bytes).zipWithIndex.map { case (raw, i) =>
            graft.ops.Email.parseMessage(raw) match {
              case Some(m) => (path, i, m.from, m.to, m.subject, m.date,
                m.messageId, m.contentType, m.bodyIsHtml, m.text)
              case None => (path, i, null: String, null: String, null: String,
                null: String, null: String, null: String, false, null: String)
            }
          }
        }
        .toDF("path", "seq", "from", "to", "subject", "date", "message_id",
          "content_type", "body_is_html", "text")
        .unionByName(oversized.select(col("path"), lit(-1).as("seq"),
          lit(null).cast("string").as("from"), lit(null).cast("string").as("to"),
          lit(null).cast("string").as("subject"), lit(null).cast("string").as("date"),
          lit(null).cast("string").as("message_id"),
          lit(null).cast("string").as("content_type"),
          lit(false).as("body_is_html"), lit(null).cast("string").as("text")))

    // Jupyter notebooks: (path, seq, cell_type, language, source)
    // per cell; malformed files quarantine as seq = -1.
    case "ipynb" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      val spark4 = spark
      import spark4.implicits._
      files.select(col("path"), col("content")).as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          graft.ops.Ipynb.cells(bytes) match {
            case Some((lang, cs)) => cs.zipWithIndex.map { case ((t, src), i) =>
              (path, i, t, lang, src)
            }
            case None =>
              Seq((path, -1, null: String, null: String, null: String))
          }
        }
        .toDF("path", "seq", "cell_type", "language", "source")
        .unionByName(oversized.select(col("path"), lit(-1).as("seq"),
          lit(null).cast("string").as("cell_type"),
          lit(null).cast("string").as("language"),
          lit(null).cast("string").as("source")))

    // XLSX cells in long format on the same stack: (path, sheet,
    // row, col, value) per populated cell; hostile files quarantine
    // as one row = -1 row.
    case "xlsx" =>
      import org.apache.spark.sql.functions.{col, lit}
      val (files, oversized) = binarySeam(spark, s)
      val spark3 = spark
      import spark3.implicits._
      files.select(col("path"), col("content")).as[(String, Array[Byte])]
        .flatMap { case (path, bytes) =>
          graft.ops.Xlsx.cells(bytes) match {
            case Some(cs) => cs.map(c => (path, c.sheet, c.row, c.col, c.value))
            case None => Seq((path, null: String, -1L, null: String, null: String))
          }
        }
        .toDF("path", "sheet", "row", "col", "value")
        .unionByName(oversized.select(col("path"),
          lit(null).cast("string").as("sheet"), lit(-1L).as("row"),
          lit(null).cast("string").as("col"), lit(null).cast("string").as("value")))

    // record-per-element XML reads on the from-spec [[graft.ops.Xml]]
    // parser — the spark-xml shape with an EXPLICIT config schema
    // (all-string columns, the csv parity convention): `record_tag`
    // picks elements by LOCAL name at any depth (namespace prefixes
    // tolerated, nested matches collected in document order), each
    // `fields` entry becomes a string column holding the first
    // matching child element's text (absent → null). UTF-8 bytes
    // (declared; the XML prolog's encoding attribute is not honored).
    // Malformed or non-well-formed files quarantine as seq = -1 rows
    // — one bad file cannot kill the scan; files are the parallelism
    // unit under the binary seam.
    case "xml" =>
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
      val recordTag = s.config.reqStr("record_tag")
      val fields = s.config.strList("fields")
      if (fields.isEmpty) throw new GraftAnalysisException(
        s"source '${s.name}': xml source needs a non-empty 'fields' list")
      if (fields.contains("path") || fields.contains("seq"))
        throw new GraftAnalysisException(
          s"source '${s.name}': xml fields may not shadow path/seq")
      val (files, oversized) = binarySeam(spark, s)
      val schema = StructType(
        StructField("path", StringType) +: StructField("seq", IntegerType) +:
          fields.map(f => StructField(f, StringType)))
      val rows = files.select(col("path"), col("content")).rdd.flatMap { r =>
        val path = r.getString(0)
        val text = new String(r.getAs[Array[Byte]](1),
          java.nio.charset.StandardCharsets.UTF_8)
        graft.ops.Xml.parse(text) match {
          case Some(root) =>
            graft.ops.Xml.collectByLocal(root, recordTag).zipWithIndex.map {
              case (e, i) => Row.fromSeq(path +: i +:
                fields.map(f => e.elems(f).headOption.map(_.text).orNull))
            }
          case None =>
            Seq(Row.fromSeq(path +: Integer.valueOf(-1) +: fields.map(_ => null)))
        }
      }
      val quarantineOversized = oversized.select(col("path")).rdd.map { r =>
        Row.fromSeq(r.getString(0) +: Integer.valueOf(-1) +: fields.map(_ => null))
      }
      spark.createDataFrame(rows.union(quarantineOversized), schema)

    // Reference sqlite source (main.py:130-138) over the pure-Scala
    // file codec — no JDBC driver needed. `table` reads one table;
    // `query` is the reference's arbitrary-SQL mode, re-expressed as
    // Spark SQL over every table in the file registered as a view
    // (see [[graft.catalog.SqliteData]] for the scale contract:
    // SQLite is a driver-local side-input surface, not a bulk path).
    case "sqlite" =>
      val db = s.config.reqStr("database")
      (s.config.str("query"), s.config.str("table")) match {
        case (Some(q), _)    => graft.catalog.SqliteData.readQuery(spark, db, q)
        case (None, Some(t)) => graft.catalog.SqliteData.readTable(spark, db, t)
        case _ => throw new GraftAnalysisException(s"source '${s.name}': sqlite needs 'query' or 'table'")
      }

    // Generic JDBC for real client-server databases; requires the
    // matching driver on the classpath. `query` pushes arbitrary SQL
    // down to the database, `table` maps to dbtable.
    case "jdbc" =>
      val r = spark.read.format("jdbc").option("url", s.config.reqStr("url"))
      val r2 = (s.config.str("query"), s.config.str("table")) match {
        case (Some(q), _)    => r.option("query", q)
        case (None, Some(t)) => r.option("dbtable", t)
        case _ => throw new GraftAnalysisException(s"source '${s.name}': jdbc needs 'query' or 'table'")
      }
      r2.load()

    // Reference inline source (main.py:113-114): literal rows in the
    // config. Rows may be ragged/heterogeneous; schema is inferred by
    // the JSON reader over the serialized rows (absent key ≡ null,
    // matching SURVEY §1.4's ragged-row mapping).
    case "inline" =>
      import spark.implicits._
      val rows = s.config.rawList("data").map(j => JsonMethods.compact(JsonMethods.render(j)))
      if (rows.isEmpty) throw new GraftAnalysisException(s"source '${s.name}': inline needs non-empty 'data'")
      spark.read.json(spark.createDataset(rows))

    // The reference *declares* postgres/api source types but read()
    // raises for them (main.py:92,116) — same contract here.
    case "postgres" | "api" =>
      throw new GraftAnalysisException(s"source type '${s.sourceType}' is declared but not implemented")

    case other =>
      throw new GraftAnalysisException(s"source '${s.name}': unknown source type '$other'")
  }
}
