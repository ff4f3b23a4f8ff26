package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.GraftAnalysisException
import graft.spec.SinkSpec

/** Sinks: terminal actions of a pipeline (reference main.py:309-343:
  * stdout, json, csv, sqlite). `parquet` added as the scalable
  * columnar sink (with `partition_by` for partition-pruned downstream
  * reads); `jdbc` generalizes the reference's sqlite sink.
  *
  * Every writer is distributed (`df.write`) except stdout, which by
  * nature collects to the driver — capped by `limit` (default 20) so a
  * misconfigured pipeline cannot OOM the driver (SURVEY §7.3 safeguard;
  * the reference pretty-prints the entire dataset, main.py:310-312).
  */
object SinkWriter {

  /** The table sinks' `txn_app`/`txn_version` epoch marker (round 18):
    * both or neither, and only in append mode — a replayed overwrite
    * is not idempotent, so accepting the marker there would promise a
    * contract the write cannot keep. */
  private def txnOf(s: SinkSpec, modeMustBe: String): Option[(String, Long)] =
    (s.config.str("txn_app"), s.config.long("txn_version")) match {
      case (None, None) => None
      case (Some(app), Some(v)) =>
        if (s.config.str("mode").getOrElse("append") != modeMustBe)
          throw new GraftAnalysisException(
            s"sink '${s.name}': txn_app/txn_version require mode '$modeMustBe'")
        Some((app, v))
      case _ => throw new GraftAnalysisException(
        s"sink '${s.name}': txn_app and txn_version must be set together")
    }

  /** Write `df` to sink `s`. `observe` wraps the DataFrame the sink's
    * action consumes: a row count placed there counts what the sink
    * received, and it sits above a cluster_by sink's range sampling,
    * which would otherwise run it twice. Returns the rows printed by
    * `stdout`, the one sink whose action takes fewer rows than it reads;
    * None for every other sink. */
  def write(df: DataFrame, s: SinkSpec,
      observe: DataFrame => DataFrame = identity[DataFrame]): Option[Long] =
    if (s.sinkType == "stdout") {
      val rows = observe(df).limit(s.config.int("limit").getOrElse(20)).toJSON.collect()
      rows.foreach(println)
      Some(rows.length.toLong)
    } else {
      action(df, s, observe)
      None
    }

  private def action(df: DataFrame, s: SinkSpec, observe: DataFrame => DataFrame): Unit = s.sinkType match {
    case "json" =>
      writer(observe(df), s).json(s.config.reqStr("path"))

    case "csv" =>
      writer(observe(df), s)
        .option("header", s.config.bool("header").getOrElse(true))
        .csv(s.config.reqStr("path"))

    case "parquet" =>
      val cluster = s.config.strList("cluster_by")
      val buckets = s.config.strList("bucket_by")
      if (buckets.nonEmpty) {
        // bucketed + sorted table: downstream equi-joins/aggs on the
        // bucket key plan with NO shuffle exchange (ScaleSpec asserts
        // the plan) — the declare-once-join-forever layout for a fact
        // table at 100 TB. Bucketing needs the table catalog, hence
        // the required `table` name; `path` makes it external.
        if (cluster.nonEmpty) throw new GraftAnalysisException(
          s"sink '${s.name}': bucket_by and cluster_by are mutually exclusive " +
            "(hash buckets vs disjoint sorted ranges — pick the join-key layout " +
            "or the range-pruning layout)")
        val n = s.config.int("num_buckets").getOrElse(
          throw new GraftAnalysisException(s"sink '${s.name}': bucket_by requires num_buckets"))
        val table = s.config.str("table").getOrElse(
          throw new GraftAnalysisException(s"sink '${s.name}': bucket_by requires a table name"))
        val sortCols = s.config.strList("sort_by") match {
          case Nil => buckets
          case sc  => sc
        }
        val w = writer(observe(df), s)
          .bucketBy(n, buckets.head, buckets.tail: _*)
          .sortBy(sortCols.head, sortCols.tail: _*)
        s.config.str("path").map(p => w.option("path", p)).getOrElse(w)
          .format("parquet").saveAsTable(table)
      } else if (cluster.nonEmpty)
        // range-clustered sorted layout (z-order lite): disjoint
        // per-file key ranges so parquet min/max statistics prune
        // downstream scans — see graft.ops.Layout
        graft.ops.Layout.writeRangeClustered(df, s.config.reqStr("path"), cluster,
          numFiles = s.config.int("num_files").getOrElse(
            df.sparkSession.sparkContext.defaultParallelism),
          dirKeys = s.config.strList("partition_by"),
          // user's mode/compression are honored here too, not just in
          // the plain-parquet branch; append is rejected inside (it
          // would void the disjoint-range pruning contract)
          mode = s.config.str("mode").getOrElse("overwrite"),
          compression = s.config.str("compression"),
          observe = observe)
      else {
        val w = writer(observe(df), s)
        val parts = s.config.strList("partition_by")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(s.config.reqStr("path"))
      }

    // WARC / tar archive sinks: shard the corpus into real .warc.gz /
    // .tar.gz files (the Common Crawl / per-document-file layouts the
    // matching sources read back) — each bucket written by the task
    // that built it, one file per bucket, distributed via
    // foreachPartition. `n_files` sets the shard count (the
    // parallelism unit of any later scan); id/text field names
    // configurable.
    case "warc" | "tar" =>
      val dir = new java.io.File(s.config.reqStr("path"))
      dir.mkdirs()
      val idF = s.config.str("id_field").getOrElse("doc_id")
      val textF = s.config.str("text_field").getOrElse("text")
      val nFiles = s.config.int("n_files").getOrElse(32)
      val (packed, ext) =
        if (s.sinkType == "warc")
          (graft.ops.Warc.packDocsWarcGz(observe(df), idF,
            s.config.str("source_field").getOrElse(idF), textF, nFiles), "warc.gz")
        else (graft.ops.Tar.packDocsTarGz(observe(df), idF, textF, nFiles), "tar.gz")
      val base = dir.getAbsolutePath
      packed.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          val out = new java.io.FileOutputStream(
            new java.io.File(base, f"part-${r.getLong(0)}%05d.$ext"))
          try out.write(r.getAs[Array[Byte]](1)) finally out.close()
        }
      }

    // Avro object container sink — the write half of the avro wire
    // round trip: one shard per partition (`n_files` repartitions to
    // set the shard count), from-spec container writer with
    // deterministic sync markers, codec null/deflate/snappy/zstandard
    // (default deflate). The matching `avro` source reads the shards
    // back; so does the Apache reference library (AvroSpec pin).
    case "avro" =>
      val nFiles = s.config.int("n_files").getOrElse(0)
      val shaped = if (nFiles > 0) observe(df).repartition(nFiles) else observe(df)
      graft.ops.Avro.writeShards(shaped, s.config.reqStr("path"),
        codec = s.config.str("codec").getOrElse("deflate"),
        recordName = s.config.str("record_name").getOrElse("row"))

    // TFRecord sink — each row becomes one tf.train.Example (string →
    // BytesList, integral → Int64List, float/double → FloatList,
    // arrays → multi-value lists; nulls omitted), framed with the
    // masked-CRC-32C record layout, one shard per partition
    // (`n_files` repartitions to set the shard count). Unsupported
    // column types are an analysis error BEFORE the job launches.
    case "tfrecord" =>
      val nFiles = s.config.int("n_files").getOrElse(0)
      val shaped = if (nFiles > 0) observe(df).repartition(nFiles) else observe(df)
      graft.ops.TfRecord.writeShards(shaped, s.config.reqStr("path"))

    // Raw text sink: exactly one string column, one line per row (the
    // inverse of the `text` source's line mode). More columns is an
    // analysis error — concatenate upstream; silently joining columns
    // would invent a format.
    case "text" =>
      if (df.schema.fields.length != 1 ||
          df.schema.fields(0).dataType != org.apache.spark.sql.types.StringType)
        throw new GraftAnalysisException(
          s"sink '${s.name}': text sink needs exactly one string column, " +
            s"got ${df.schema.simpleString}")
      writer(observe(df), s).text(s.config.reqStr("path"))

    case "orc" =>
      val w = writer(observe(df), s)
      val parts = s.config.strList("partition_by")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).orc(s.config.reqStr("path"))

    // Reference sqlite sink (main.py:326-341) over the pure-Scala
    // file codec — no JDBC driver needed. The reference stores every
    // value as TEXT; here values keep real sqlite storage classes
    // (INTEGER/REAL/TEXT/BLOB) — the all-TEXT behavior was an
    // artifact, not a semantic (SURVEY §2.3). Default mode is append
    // (the reference's CREATE IF NOT EXISTS + INSERT). Collects to the
    // driver: a .db is a single-file, single-writer surface by nature
    // — documented side-input/export path, parquet is the bulk sink.
    case "sqlite" =>
      graft.catalog.SqliteData.write(
        s.config.reqStr("database"),
        s.config.str("table").getOrElse("output"),
        observe(df),
        overwrite = s.config.str("mode").contains("overwrite"))
      ()

    // Build-and-save a near-dup signature index from the stream — an
    // index IS a sink (the ingest-time half of the standing-corpus
    // dedup lifecycle; see graft.ops.Dedup.NearDupIndex). Checks
    // against it run through the `dedup_index_check` transform.
    case "neardup_index" =>
      graft.ops.Dedup.NearDupIndex.save(
        graft.ops.Dedup.NearDupIndex.build(observe(df),
          s.config.reqStr("id_field"),
          s.config.str("text_field").getOrElse("text"),
          numHashes = s.config.int("num_hashes").getOrElse(64),
          k = s.config.int("k").getOrElse(3),
          bands = s.config.int("bands").getOrElse(16),
          seed = s.config.int("seed").getOrElse(42).toLong),
        s.config.reqStr("path"))

    // Delta Lake APPEND sink (round 17): transactional table output —
    // plain parquet data files + an atomic _delta_log commit carrying
    // real per-file stats ([[graft.ops.DeltaWrite]], scoped v1:
    // append-only, single writer). Creates the table on first write;
    // `partition_by` lays out Hive-style partition dirs whose values
    // live in the log. The matching `delta` source (and any Delta
    // reader) reads it back, stats feeding their data skipping.
    case "delta" =>
      val path = s.config.reqStr("path")
      val pb = s.config.strList("partition_by")
      val txn = txnOf(s, modeMustBe = "append")
      s.config.str("mode").getOrElse("append") match {
        case "append" =>
          graft.ops.DeltaWrite.append(df.sparkSession, observe(df), path, pb, txn,
            mergeSchema = s.config.bool("merge_schema").getOrElse(false))
        case "overwrite" =>
          graft.ops.DeltaWrite.overwrite(df.sparkSession, observe(df), path, pb,
            dynamic = false)
        case "overwrite_dynamic" =>
          graft.ops.DeltaWrite.overwrite(df.sparkSession, observe(df), path, pb,
            dynamic = true)
        case "merge" =>
          val keys = s.config.strList("merge_keys")
          if (keys.isEmpty) throw new GraftAnalysisException(
            s"sink '${s.name}': mode 'merge' requires merge_keys")
          if (pb.nonEmpty) throw new GraftAnalysisException(
            s"sink '${s.name}': merge into a partitioned layout is out of " +
              "the v1 scope")
          graft.ops.DeltaWrite.merge(df.sparkSession, observe(df), path, keys)
        case other => throw new GraftAnalysisException(
          s"sink '${s.name}': unknown delta mode '$other' " +
            "(append, overwrite, overwrite_dynamic, merge)")
      }
      ()

    // Iceberg APPEND sink (round 17): transactional table output via
    // [[graft.ops.IcebergWrite]]; round 18 adds identity
    // `partition_by` (manifest tuple pruning engages on the written
    // table) and `txn_app`/`txn_version` epoch idempotence.
    case "iceberg" =>
      graft.ops.IcebergWrite.append(df.sparkSession, df, s.config.reqStr("path"),
        s.config.strList("cluster_by"),
        numFiles = s.config.int("num_files").getOrElse(0),
        partitionBy = s.config.strList("partition_by"),
        txn = txnOf(s, modeMustBe = "append"),
        mergeSchema = s.config.bool("merge_schema").getOrElse(false),
        observe = observe)
      ()

    case "jdbc" =>
      observe(df).write.format("jdbc").option("url", s.config.reqStr("url"))
        .option("dbtable", s.config.str("table").getOrElse("output"))
        .mode(s.config.str("mode").getOrElse("append"))
        .save()

    case other =>
      throw new GraftAnalysisException(s"sink '${s.name}': unknown sink type '$other'")
  }

  private def writer(df: DataFrame, s: SinkSpec) = {
    val coalesceN = s.config.int("coalesce")
    val d = coalesceN.map(df.coalesce).getOrElse(df)
    val w = d.write.mode(s.config.str("mode").getOrElse("overwrite"))
    // codec passthrough (gzip/snappy/zstd/...): at corpus scale the
    // storage codec is a first-order cost knob, so every file sink
    // takes it; format defaults apply when unset
    s.config.str("compression").map(c => w.option("compression", c)).getOrElse(w)
  }

  val knownTypes: Set[String] = Set(
    "stdout", "json", "csv", "parquet", "orc", "text", "jdbc", "sqlite", "neardup_index", "warc", "tar", "avro", "tfrecord", "delta", "iceberg")
}
