package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Table formats: Delta and Iceberg reads, writes and
  * maintenance, plus parquet footer/stats metadata. */
object TableGates {
  val gates: Seq[Gate] = Seq(
    // Parquet footer metadata (round 12): the from-spec Thrift
    // compact-protocol walk over three REAL testdata footers
    // (documents / embeddings / orders — flat, nested-list, and
    // date-bearing schemas) cross-pinned against DuckDB's
    // independent parquet reader: every row-group size, column path
    // (including the nested "embedding, list, element" leaf), codec
    // name, offset, and byte count must agree.
    // Delta transaction-log replay (round 13): one synthetic commit
    // per document — a metaData line, an add for part-<id>.parquet
    // with the doc's source as its partition value and stats on even
    // ids, a self-remove when id%5==3 (the file must NOT be active),
    // and a remove + re-add with a different size when id%5==4 (the
    // resurrect rule: the LAST add wins). id%7==0 paths arrive
    // percent-encoded (%2D for the dash) and must decode. Every
    // active-file row replays from id arithmetic; protocol gating,
    // ordering, and the end-to-end parquet read are pinned in
    // DeltaLogSpec.
    Gate("x_delta_log", (s, d) => {
      val id = col("doc_id")
      val path = when(pmod(id, lit(7)) === 0,
        concat(lit("part%2D"), id, lit(".parquet")))
        .otherwise(concat(lit("part-"), id, lit(".parquet")))
      val addLine = concat(
        lit("{\"add\":{\"path\":\""), path,
        lit("\",\"partitionValues\":{\"src\":\""), coalesce(col("source"), lit("")),
        lit("\"},\"size\":"), id + 1000,
        lit(",\"modificationTime\":"), id * 1000,
        lit(",\"dataChange\":true"),
        when(pmod(id, lit(2)) === 0,
          concat(lit(",\"stats\":\"{\\\"numRecords\\\":"), id, lit("}\"")))
          .otherwise(lit("")),
        lit("}}"))
      val removeLine = concat(
        lit("{\"remove\":{\"path\":\"part-"), id,
        lit(".parquet\",\"deletionTimestamp\":1}}"))
      val readdLine = concat(
        lit("{\"add\":{\"path\":\"part-"), id,
        lit(".parquet\",\"partitionValues\":{\"src\":\""), coalesce(col("source"), lit("")),
        lit("\"},\"size\":"), id + 2000,
        lit(",\"modificationTime\":"), id * 1000 + 1,
        lit(",\"dataChange\":true}}"))
      val content = concat(
        lit("{\"metaData\":{\"id\":\"tbl\",\"schemaString\":\"{}\",\"partitionColumns\":[\"src\"]}}\n"),
        lit("{\"protocol\":{\"minReaderVersion\":1,\"minWriterVersion\":2}}\n"),
        addLine,
        when(pmod(id, lit(5)) === 3, concat(lit("\n"), removeLine))
          .when(pmod(id, lit(5)) === 4,
            concat(lit("\n"), removeLine, lit("\n"), readdLine))
          .otherwise(lit("")))
      graft.ops.DeltaLog.activeFiles(
        docs(s, d).select(id.as("version"), content.as("content")),
        "version", "content")
    },
      // parquet footer contract: DuckDB's own parquet reader IS the
      // oracle — two independent decoders of the same real footers.
      // parquet_metadata needs FILE paths (the oracle harness registers
      // views, which carry no path), so the oracle names the sf0.01
      // files the correctness gate contractually runs at; the Spark
      // side follows the sfDir argument as always.
      // delta-log contract: active files replay by id arithmetic —
      // %5==3 self-removed (absent), %5==4 resurrected with the re-add
      // size, stats on even ids, partition value from the source column
      """
      SELECT 'part-' || doc_id || '.parquet' AS path,
             CAST(CASE WHEN doc_id % 5 = 4 THEN doc_id + 2000
                       ELSE doc_id + 1000 END AS BIGINT) AS size,
             CAST(CASE WHEN doc_id % 5 = 4 THEN doc_id * 1000 + 1
                       ELSE doc_id * 1000 END AS BIGINT) AS modification_time,
             1 AS n_partition_values,
             'src=' || coalesce(source, '') AS partition_json,
             CASE WHEN doc_id % 5 = 4 THEN false ELSE doc_id % 2 = 0 END AS has_stats
      FROM documents
      WHERE doc_id % 5 <> 3"""),

    // Delta CHECKPOINT-seeded replay (round 14): a synthetic
    // checkpoint-parquet action set (one add per document —
    // cp-<id>.parquet, partition src, stats on even ids — plus the
    // metaData/protocol rows and a remove TOMBSTONE per doc that must
    // stay inactive) at version 1e6, then post-checkpoint JSON
    // commits replayed on top: id%4==1 removed, id%4==2 removed and
    // re-added with a new size (the resurrect rule through a
    // checkpoint seed), id%4==3 adds a second file — percent-encoded
    // (%2D) when also id%3==0 — and id%4==0 commits only a
    // commitInfo line (the ignored-action path). A stale commit at
    // the checkpoint version itself must be skipped. The end-to-end
    // file layout (_last_checkpoint, multi-part parts, refusals) is
    // pinned in DeltaLogSpec.
    Gate("x_delta_checkpoint", (s, d) => {
      val id = col("doc_id")
      val dd = docs(s, d)
      val cpAdds = dd.select(struct(
        concat(lit("cp-"), id, lit(".parquet")).as("path"),
        map(lit("src"), coalesce(col("source"), lit(""))).as("partitionValues"),
        (id + 500).cast("long").as("size"),
        (id * 10).cast("long").as("modificationTime"),
        when(pmod(id, lit(2)) === 0,
          concat(lit("{\"numRecords\":"), id, lit("}")))
          .otherwise(lit(null).cast("string")).as("stats")).as("add"))
      val cpTombs = dd.select(struct(
        concat(lit("gone-"), id, lit(".parquet")).as("path")).as("remove"))
      val cpFurniture = s.sql(
        "SELECT named_struct('id','tbl','schemaString','{}','partitionColumns',array('src')) AS metaData")
        .unionByName(
          s.sql("SELECT named_struct('minReaderVersion', CAST(1 AS BIGINT)) AS protocol"),
          allowMissingColumns = true)
      val checkpoint = cpAdds
        .unionByName(cpTombs, allowMissingColumns = true)
        .unionByName(cpFurniture, allowMissingColumns = true)
      val newPath = when(pmod(id, lit(3)) === 0,
          concat(lit("new%2D"), id, lit(".parquet")))
        .otherwise(concat(lit("new-"), id, lit(".parquet")))
      val removeLine = concat(lit("{\"remove\":{\"path\":\"cp-"), id,
        lit(".parquet\",\"deletionTimestamp\":1}}"))
      val readdLine = concat(
        lit("{\"add\":{\"path\":\"cp-"), id,
        lit(".parquet\",\"partitionValues\":{\"src\":\""), coalesce(col("source"), lit("")),
        lit("\"},\"size\":"), id + 9000,
        lit(",\"modificationTime\":"), id * 10 + 7,
        lit(",\"dataChange\":true}}"))
      val newAddLine = concat(
        lit("{\"add\":{\"path\":\""), newPath,
        lit("\",\"partitionValues\":{\"src\":\""), coalesce(col("source"), lit("")),
        lit("\"},\"size\":"), id + 77,
        lit(",\"modificationTime\":"), id * 10 + 3,
        lit(",\"dataChange\":true,\"stats\":\"{\\\"numRecords\\\":1}\"}}"))
      val content =
        when(pmod(id, lit(4)) === 1, removeLine)
          .when(pmod(id, lit(4)) === 2, concat(removeLine, lit("\n"), readdLine))
          .when(pmod(id, lit(4)) === 3, newAddLine)
          .otherwise(lit("{\"commitInfo\":{\"operation\":\"WRITE\"}}"))
      val commits = dd.select((id + 1000001L).as("version"), content.as("content"))
        .unionByName(dd.limit(1).select(lit(1000000L).as("version"),
          lit("{\"add\":{\"path\":\"stale.parquet\",\"partitionValues\":{},\"size\":1,\"modificationTime\":0}}").as("content")))
      graft.ops.DeltaLog.activeFilesFromCheckpoint(
        checkpoint, commits, "version", "content", 1000000L)
    },
      // checkpoint-seeded contract: checkpoint adds survive unless the
      // post-checkpoint tail removes them (%4==1), the %4==2 re-add
      // wins size/mtime/stats, %4==3 contributes a second (decoded)
      // file, tombstones and the stale at-checkpoint commit contribute
      // nothing
      """
      SELECT 'cp-' || doc_id || '.parquet' AS path,
             CAST(CASE WHEN doc_id % 4 = 2 THEN doc_id + 9000
                       ELSE doc_id + 500 END AS BIGINT) AS size,
             CAST(CASE WHEN doc_id % 4 = 2 THEN doc_id * 10 + 7
                       ELSE doc_id * 10 END AS BIGINT) AS modification_time,
             1 AS n_partition_values,
             'src=' || coalesce(source, '') AS partition_json,
             CASE WHEN doc_id % 4 = 2 THEN false ELSE doc_id % 2 = 0 END AS has_stats
      FROM documents WHERE doc_id % 4 <> 1
      UNION ALL
      SELECT 'new-' || doc_id || '.parquet',
             CAST(doc_id + 77 AS BIGINT), CAST(doc_id * 10 + 3 AS BIGINT),
             1, 'src=' || coalesce(source, ''), true
      FROM documents WHERE doc_id % 4 = 3"""),

    // Delta DELETION VECTORS (round 15): a real on-disk Delta table —
    // four bucket files (bucket = doc_id%4, partition column),
    // protocol v3 + deletionVectors, and id%7==0 rows deleted via DVs
    // exercising all three storages ('u' file-by-UUID on bucket 0,
    // 'p' absolute path with run containers on bucket 1, 'i' inline
    // on bucket 2; bucket 3 untouched). readTable must decode the
    // portable RoaringBitmapArray blobs and anti-join the positions
    // against _metadata.row_index; the oracle replays the survivor
    // set from the delete rule.
    Gate("x_delta_dv", (s, d) => {
      val dir = sharedDir("delta_dv", d)(
        graft.ops.TableFixtures.writeDeltaDvTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("bucket"))
    },
      // deletion vectors: the survivor set replays the planted
      // id%7==0 delete rule on buckets 0-2 (bucket 3 keeps all rows)
      """
      SELECT doc_id, source, n_chars,
             CAST(doc_id % 4 AS VARCHAR) AS bucket
      FROM documents
      WHERE NOT (doc_id % 7 = 0 AND doc_id % 4 IN (0, 1, 2))"""),

    // Delta COLUMN MAPPING, name mode (round 15): data files carry
    // physical parquet names (col-1..col-3), the log's schemaString
    // maps them back to logical ones, and the partition column's
    // partitionValues key by its PHYSICAL name — the read must come
    // back fully logical.
    Gate("x_delta_cm", (s, d) => {
      val dir = sharedDir("delta_cm", d)(
        graft.ops.TableFixtures.writeDeltaCmTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("parity"))
    },
      // column mapping: every row survives; the check is that physical
      // parquet names resolved back to these logical columns and the
      // physically-keyed partition value landed
      """
      SELECT doc_id, source, n_chars,
             CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
      FROM documents"""),

    // Delta ID-mode column mapping (round 15 continuation): the
    // parquet files carry field ids under column names that
    // deliberately DIFFER from the metadata physicalNames, so only
    // the spec's field-id resolution (footers probed by distributed
    // ranged tail reads) can read this table — a physical-name
    // fallback would fail loudly, and the oracle replays the same
    // logical rows as the name-mode gate.
    Gate("x_delta_cm_id", (s, d) => {
      val dir = sharedDir("delta_cm_id", d)(
        graft.ops.TableFixtures.writeDeltaCmIdTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("parity"))
    },
      // delta id-mode column mapping: the same logical rows, reachable
      // only through parquet field-id resolution
      """
      SELECT doc_id, source, n_chars,
             CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
      FROM documents"""),

    // Delta TIME TRAVEL (round 15 continuation): a two-version table
    // whose version 1 rewrites one bucket WITHOUT the doc_id%5==0
    // rows — reading AS OF version 0 must return every row, so a
    // reader that silently serves the latest state hash-mismatches.
    // The refusal ladder (beyond-log versions, non-contiguous
    // histories, checkpoints past the target) is pinned in
    // DeltaLogSpec.
    Gate("x_delta_time_travel", (s, d) => {
      val dir = sharedDir("delta_tt", d)(
        graft.ops.TableFixtures.writeDeltaTtTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.DeltaLog.readTable(s, dir, Some(0L))
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // delta time travel: version 0 holds EVERY row; the current
      // version dropped the even %5 rows, so serving it would lose rows
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    // Delta CHANGE DATA FEED (round 16): v0 inserts every doc, v1 is
    // a CDC commit (update pre/post rows for doc_id%10==0, postimage
    // n_chars+1000) whose cdc files must SHADOW its dataChange file
    // rewrite, v2 deletes bucket 1, v3 is a dataChange=false
    // compaction contributing nothing. The oracle replays all four.
    Gate("x_delta_cdf", (s, d) => {
      val dir = sharedDir("delta_cdf", d)(
        graft.ops.TableFixtures.writeDeltaCdfTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.DeltaLog.readChanges(s, dir, 0L, 3L)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("_change_type"), col("_commit_version"), col("_commit_timestamp"))
    },
      // delta change data feed: v0 inserts, v1 cdc updates (%10==0,
      // postimage +1000), v2 deletes the odd bucket, v3 contributes
      // nothing (dataChange=false compaction)
      """
      SELECT doc_id, source, n_chars, 'insert' AS _change_type,
             CAST(0 AS BIGINT) AS _commit_version,
             CAST(1000 AS BIGINT) AS _commit_timestamp
      FROM documents
      UNION ALL
      SELECT doc_id, source, n_chars, 'update_preimage',
             CAST(1 AS BIGINT), CAST(2000 AS BIGINT)
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, source, n_chars + 1000, 'update_postimage',
             CAST(1 AS BIGINT), CAST(2000 AS BIGINT)
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id, source, n_chars, 'delete',
             CAST(2 AS BIGINT), CAST(3000 AS BIGINT)
      FROM documents WHERE doc_id % 2 = 1"""),

    // Delta TIMESTAMP travel (round 16): the two-version table's
    // commitInfo lines stamp version 0 at t=1000 ms and version 1
    // (the bucket rewrite that drops %5 rows) at t=2000 ms; reading
    // AS OF 1500 must resolve to version 0 — every row.
    Gate("x_delta_time_travel_ts", (s, d) => {
      val dir = sharedDir("delta_tt", d)(
        graft.ops.TableFixtures.writeDeltaTtTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.DeltaLog.readTableAt(s, dir, 1500L)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // delta timestamp travel: t=1500 lands between the v0 (t=1000)
      // and v1 (t=2000) commits → version 0, every row
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    // Delta DATA SKIPPING (round 17, mirroring x_iceberg_prune): the
    // partitioned table carries real per-file stats (four files =
    // bucket × id-halves split at cut = max(doc_id)/2); the predicate
    // prunes the partition conjunct against partitionValues and
    // min/max-skips the doc_id range against add.stats, so exactly ONE
    // file opens (PlanShape-asserted in DeltaLogSpec) while the result
    // equals the full-scan filter the oracle replays.
    Gate("x_delta_prune", (s, d) => {
      val dir = sharedDir("delta_part", d)(
        graft.ops.TableFixtures.writeDeltaPartTable(s, t(s, d, "documents"), "doc_id"))
      val cut = t(s, d, "documents")
        .agg(max(col("doc_id").cast("long"))).head().getLong(0) / 2
      graft.ops.DeltaLog.readTable(s, dir, None,
        Some(col("bucket") === 1 && col("doc_id") <= cut))
        .select(col("doc_id"), col("source"), col("n_chars"), col("bucket"))
    },
      // delta data skipping: the pruned read equals the full-scan
      // filter — bucket 1, ids at or under half the max
      """
      SELECT doc_id, source, n_chars, CAST(doc_id % 2 AS VARCHAR) AS bucket
      FROM documents
      WHERE doc_id % 2 = 1
        AND doc_id <= (SELECT max(doc_id) // 2 FROM documents)"""),

    // Delta APPEND WRITE roundtrip (round 17): the engine's own
    // writer creates a partitioned table in TWO commits (even parity
    // at v0, odd at v1 — the append path exercises the compat gate and
    // contiguous versioning), with real per-file stats in the log;
    // the engine's own reader replays it and the oracle compares
    // against the source rows. Stats consumability is asserted in
    // DeltaWriteSpec (pruned read over the written table).
    Gate("x_delta_write_roundtrip", (s, d) => {
      val dir = sharedDir("delta_write", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-wr")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          pmod(col("doc_id"), lit(2)).cast("string").as("parity"))
        graft.ops.DeltaWrite.append(s, data.where(col("parity") === "0"), dest, Seq("parity"))
        graft.ops.DeltaWrite.append(s, data.where(col("parity") === "1"), dest, Seq("parity"))
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("parity"))
    },
      // delta write roundtrip: own writer → own reader equals the
      // source rows (partition values re-injected from the log)
      """
      SELECT doc_id, source, n_chars, CAST(doc_id % 2 AS VARCHAR) AS parity
      FROM documents"""),

    // Delta CHECKPOINT WRITER (round 17): three appends around a
    // checkpoint at v1 — the read must seed from the engine's OWN
    // checkpoint parquet (cluster-side merge) and replay only the v2
    // tail; the oracle is every row. Vacuumed-prefix reads and
    // prune-through-own-checkpoint are pinned in DeltaWriteSpec.
    Gate("x_delta_write_checkpoint", (s, d) => {
      val dir = sharedDir("delta_write_cp", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-wcp")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          pmod(col("doc_id"), lit(3)).cast("string").as("third"))
        graft.ops.DeltaWrite.append(s, data.where(col("third") === "0"), dest, Seq("third"))
        graft.ops.DeltaWrite.append(s, data.where(col("third") === "1"), dest, Seq("third"))
        graft.ops.DeltaWrite.writeCheckpoint(s, dest)
        graft.ops.DeltaWrite.append(s, data.where(col("third") === "2"), dest, Seq("third"))
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("third"))
    },
      // delta checkpoint writer: every row survives the
      // checkpoint-seeded read
      """
      SELECT doc_id, source, n_chars, CAST(doc_id % 3 AS VARCHAR) AS third
      FROM documents"""),

    // Delta OPEN-ENDED CDF (round 17): "changes since t=2500" with no
    // end bound — the starting timestamp resolves to the earliest
    // commit at or after it (v2 at ts 3000), the end defaults to the
    // log's latest (v3, the dataChange=false compaction contributing
    // nothing) — so the feed is exactly v2's deletes.
    Gate("x_delta_cdf_tail", (s, d) => {
      val dir = sharedDir("delta_cdf", d)(
        graft.ops.TableFixtures.writeDeltaCdfTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.DeltaLog.readChangesAt(s, dir, 2500L, None)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("_change_type"), col("_commit_version"), col("_commit_timestamp"))
    },
      // delta open-ended cdf: start ts 2500 resolves to v2 (ts 3000),
      // the end bound defaults to the latest commit (v3 contributes
      // nothing) — the feed is v2's bucket-1 deletes
      """
      SELECT doc_id, source, n_chars, 'delete' AS _change_type,
             CAST(2 AS BIGINT) AS _commit_version,
             CAST(3000 AS BIGINT) AS _commit_timestamp
      FROM documents WHERE doc_id % 2 = 1"""),

    // Delta DYNAMIC PARTITION OVERWRITE (round 18): the re-curation
    // pattern — v0 writes every parity, v1 replaces ONLY the odd
    // partition with refreshed rows (n_chars + 1000) in one atomic
    // commit (adds + remove tombstones together); the read must show
    // the even rows untouched and the odd rows refreshed, with no
    // stale odd rows surviving. The CDF view of the swap is pinned in
    // DeltaWriteSpec.
    Gate("x_delta_overwrite", (s, d) => {
      val dir = sharedDir("delta_overwrite", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-ow")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          pmod(col("doc_id"), lit(2)).cast("string").as("parity"))
        graft.ops.DeltaWrite.append(s, data, dest, Seq("parity"))
        graft.ops.DeltaWrite.overwrite(s,
          data.where(col("parity") === "1")
            .withColumn("n_chars", col("n_chars") + 1000L),
          dest, Seq("parity"), dynamic = true)
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("parity"))
    },
      """
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 1 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
             CAST(doc_id % 2 AS VARCHAR) AS parity
      FROM documents"""),

    // Delta COMPACTION (round 18): four small appends, then OPTIMIZE
    // bin-packs the active files with dataChange=false — same rows,
    // fewer files, an EMPTY change feed across the compaction
    // version (asserted in DeltaWriteSpec along with the file-count
    // drop); the gate pins that the post-compaction read still equals
    // every row exactly.
    Gate("x_delta_compact", (s, d) => {
      val dir = sharedDir("delta_compact", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-opt")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        (0 to 3).foreach(i => graft.ops.DeltaWrite.append(s,
          data.where(pmod(col("doc_id"), lit(4)) === i), dest))
        if (graft.ops.DeltaWrite.compact(s, dest).isEmpty)
          throw new graft.GraftAnalysisException("compact found nothing to do")
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // delta compaction: same rows after the dataChange=false rewrite
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    // Delta TXN IDEMPOTENCE (round 18): appends tagged with an
    // application transaction (appId, version); replaying an epoch
    // the table already recorded is a NO-OP — the exactly-once
    // contract a restarting streaming sink relies on. The oracle is
    // every row EXACTLY ONCE: a writer that re-applied the replay
    // would double the odd rows and hash-mismatch.
    Gate("x_delta_txn", (s, d) => {
      val dir = sharedDir("delta_txn", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-txn")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        val even = data.where(col("doc_id") % 2 === 0)
        val odd = data.where(col("doc_id") % 2 === 1)
        graft.ops.DeltaWrite.append(s, even, dest, txn = Some(("graft-etl", 0L)))
        graft.ops.DeltaWrite.append(s, odd, dest, txn = Some(("graft-etl", 1L)))
        graft.ops.DeltaWrite.append(s, odd, dest, txn = Some(("graft-etl", 1L)))
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // delta txn idempotence: the replayed odd append is a no-op —
      // every row exactly once
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    // Delta TIMESTAMP-BOUNDS skipping (round 18): the writer records
    // ISO-millis min/max for a timestamp column (micros-carrying MAX
    // rounded UP to stay a true bound) and `WHERE ts <= …` — the
    // single most common pruning predicate — skips on them. Two
    // id-ordered appends give the files disjoint ts ranges; the
    // pruned read (file skip + row filter) must equal the plain
    // filtered read. File-count pruning is asserted in DeltaWriteSpec.
    Gate("x_delta_ts_skip", (s, d) => {
      val base = 1700000000000000L // µs; ts = base + doc_id s + 1500 µs
      val dir = sharedDir("delta_ts_skip", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-ts")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          timestamp_micros(lit(base) + col("doc_id").cast("long") * 1000000L
            + lit(1500L)).as("ts"))
        val cut = t(s, d, "documents")
          .agg(max(col("doc_id").cast("long"))).head().getLong(0) / 2
        graft.ops.DeltaWrite.append(s, data.where(col("doc_id") <= cut), dest)
        graft.ops.DeltaWrite.append(s, data.where(col("doc_id") > cut), dest)
        dest
      }
      val cut = t(s, d, "documents")
        .agg(max(col("doc_id").cast("long"))).head().getLong(0) / 2
      // ts ≤ base + cut s ⟺ doc_id < cut (the +1500 µs pushes the
      // boundary row above the literal)
      val bound = java.time.Instant.ofEpochSecond(
        base / 1000000L + cut, (base % 1000000L) * 1000L)
      graft.ops.DeltaLog.readTable(s, dir, None, Some(col("ts") <= lit(bound)))
        .select(col("doc_id"), col("n_chars"))
    },
      // delta timestamp-bounds skipping: ts = base + doc_id s + 1500 µs,
      // predicate ts ≤ base + (max/2) s keeps exactly doc_id < max/2
      """
      SELECT doc_id, n_chars FROM documents
      WHERE doc_id < (SELECT max(doc_id) // 2 FROM documents)"""),

    // Delta MERGE (round 18): upsert by doc_id against a 4-file
    // table — odd ids update (n_chars + 1000), evens re-keyed past
    // the id space insert; matched files rewrite, unmatched files
    // keep their add actions (file-targeting pinned in
    // DeltaWriteSpec's CDF row counts). An engine that dropped a
    // kept row, double-applied an update, or missed an insert
    // hash-mismatches.
    Gate("x_delta_merge", (s, d) => {
      val dir = sharedDir("delta_merge", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-mg")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        (0 to 3).foreach(i => graft.ops.DeltaWrite.append(s,
          data.where(pmod(col("doc_id"), lit(4)) === i), dest))
        val maxId = data.agg(max("doc_id")).head().getLong(0)
        val src = data.where(col("doc_id") % 2 === 1)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .unionByName(data.where(col("doc_id") % 2 === 0)
            .withColumn("doc_id", col("doc_id") + maxId + 1L))
        graft.ops.DeltaWrite.merge(s, src, dest, Seq("doc_id"))
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // delta merge: odds updated, evens re-keyed past the id space
      // inserted, everything else untouched
      """
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 1 THEN n_chars + 1000 ELSE n_chars END AS n_chars
      FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), source, n_chars
      FROM documents WHERE doc_id % 2 = 0"""),

    // Delta SCHEMA EVOLUTION (round 18): v0 writes a NARROW
    // generation (doc_id, source — the even ids), v1 merge-appends
    // the full width (odd ids); the read serves the AUTHORITATIVE
    // merged schema, null-filling n_chars for the narrow files — a
    // reader that pins one file's footer schema (the narrow
    // generation sorts first in the scan list) drops the column and
    // hash-mismatches.
    Gate("x_delta_evolve", (s, d) => {
      val dir = sharedDir("delta_evolve", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-ev")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        graft.ops.DeltaWrite.append(s,
          data.where(col("doc_id") % 2 === 0).select("doc_id", "source"), dest)
        graft.ops.DeltaWrite.append(s,
          data.where(col("doc_id") % 2 === 1), dest, mergeSchema = true)
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // delta schema evolution: the merged schema serves, narrow-file
      // rows null-fill the evolved-in column
      """
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
      FROM documents"""),

    // Delta VACUUM (round 18): after a dynamic overwrite tombstones
    // the odd partition's originals, vacuum at retention 0 physically
    // reclaims exactly those files — and the current read is
    // untouched (active files are never deleted whatever their age).
    // Never-active / time-travel-breaks contracts are pinned in
    // DeltaWriteSpec.
    Gate("x_delta_vacuum", (s, d) => {
      val dir = sharedDir("delta_vacuum", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-vac")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          pmod(col("doc_id"), lit(2)).cast("string").as("parity"))
        graft.ops.DeltaWrite.append(s, data, dest, Seq("parity"))
        graft.ops.DeltaWrite.overwrite(s,
          data.where(col("parity") === "1")
            .withColumn("n_chars", col("n_chars") + 1000L),
          dest, Seq("parity"), dynamic = true)
        if (graft.ops.DeltaWrite.vacuum(s, dest, retentionMillis = 0L).isEmpty)
          throw new graft.GraftAnalysisException("vacuum reclaimed nothing")
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("parity"))
    },
      // delta vacuum: reclaim leaves the current state exact (the
      // odd-partition refresh survives, originals are gone from disk)
      """
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 1 THEN n_chars + 1000 ELSE n_chars END AS n_chars,
             CAST(doc_id % 2 AS VARCHAR) AS parity
      FROM documents"""),

    // Delta RESTORE (round 18): overwrite refreshes the odd
    // partition, restore(0) rolls the table back as a NEW commit —
    // the read equals the ORIGINAL rows again (a restore that missed
    // a file, re-added a wrong one, or forgot a remove
    // hash-mismatches). CDF-of-the-rollback and vacuumed-target
    // refusal are pinned in DeltaWriteSpec.
    Gate("x_delta_restore", (s, d) => {
      val dir = sharedDir("delta_restore", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-rst")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          pmod(col("doc_id"), lit(2)).cast("string").as("parity"))
        graft.ops.DeltaWrite.append(s, data, dest, Seq("parity"))
        graft.ops.DeltaWrite.overwrite(s,
          data.where(col("parity") === "1")
            .withColumn("n_chars", col("n_chars") + 1000L),
          dest, Seq("parity"), dynamic = true)
        graft.ops.DeltaWrite.restore(s, dest, 0L)
        dest
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("parity"))
    },
      // delta restore: rollback to v0 — the ORIGINAL rows again
      """
      SELECT doc_id, source, n_chars,
             CAST(doc_id % 2 AS VARCHAR) AS parity
      FROM documents"""),

    // Delta Z-ORDER compaction (round 18): four id-striped appends
    // (every file spans the whole doc_id AND n_chars range — nothing
    // prunes), then OPTIMIZE ZORDER BY (doc_id, n_chars) re-clusters
    // on the interleaved key; the gate reads through an n_chars
    // predicate — the NON-leading dimension a linear sort could not
    // tighten — and must equal the filter replay. File-count pruning
    // on both dimensions is asserted in DeltaWriteSpec.
    Gate("x_delta_zorder", (s, d) => {
      val dir = sharedDir("delta_zorder", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-delta-zo")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        (0 to 3).foreach(i => graft.ops.DeltaWrite.append(s,
          data.where(pmod(col("doc_id"), lit(4)) === i), dest))
        if (graft.ops.DeltaWrite.compact(s, dest,
            zOrderBy = Seq("doc_id", "n_chars")).isEmpty)
          throw new graft.GraftAnalysisException("z-order compact did nothing")
        dest
      }
      val cut = t(s, d, "documents")
        .agg(max(col("n_chars").cast("long"))).head().getLong(0) / 2
      graft.ops.DeltaLog.readTable(s, dir, None, Some(col("n_chars") <= cut))
        .select(col("doc_id"), col("n_chars"))
    },
      // delta z-order: the re-clustered table filtered on the
      // non-leading dimension replays exactly
      """
      SELECT doc_id, n_chars FROM documents
      WHERE n_chars <= (SELECT max(n_chars) // 2 FROM documents)"""),

    // Iceberg v1 manifests (round 14): one spec-schema manifest_entry
    // Avro container per document (written by the in-repo from-spec
    // Avro codec, decoded by the same reader the `iceberg` source
    // uses), entries from id arithmetic — data-<id>-0 DELETED when
    // id%3==0 else ADDED, an EXISTING second file on even ids — and
    // the snapshot surface keeps the non-DELETED rows. The end-to-end
    // table walk (version-hint, metadata json, manifest list, path
    // remap, refusal ladder) is pinned in IcebergSpec.
    Gate("x_iceberg_snapshot", (s, d) => {
      val packed = graft.ops.Iceberg.packDocsManifest(docs(s, d), "doc_id")
      graft.ops.Iceberg.entriesDf(packed, "id", "payload")
        .where(col("status") =!= 2)
        .select(col("id").as("doc_id"), col("status"), col("path"),
          col("format"), col("record_count"), col("file_size"))
    },
      // iceberg manifest contract: active entries replay by id
      // arithmetic — %3==0's first file is a DELETED tombstone (absent),
      // even ids carry the EXISTING second file
      """
      SELECT doc_id, 1 AS status,
             'data-' || doc_id || '-0.parquet' AS path, 'PARQUET' AS format,
             CAST(doc_id % 100 + 1 AS BIGINT) AS record_count,
             CAST(doc_id + 4096 AS BIGINT) AS file_size
      FROM documents WHERE doc_id % 3 <> 0
      UNION ALL
      SELECT doc_id, 0, 'data-' || doc_id || '-1.parquet', 'PARQUET',
             CAST(7 AS BIGINT), CAST(doc_id + 100 AS BIGINT)
      FROM documents WHERE doc_id % 2 = 0"""),

    // Iceberg FORMAT-VERSION 2 (round 15): a real on-disk v2 table —
    // four bucket data files, a position-delete parquet named by a
    // delete manifest (manifest-list content=1), id%7==0 rows deleted
    // in EVERY bucket. readTable must anti-join the delete rows'
    // (file_path, pos) against the data scan's metadata columns; the
    // oracle replays the survivor set.
    Gate("x_iceberg_v2", (s, d) => {
      val dir = sharedDir("iceberg_v2", d)(
        graft.ops.TableFixtures.writeIcebergV2Table(s, t(s, d, "documents"), "doc_id"))
      graft.ops.Iceberg.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg v2 position deletes: survivors of the planted id%7==0
      // delete rule, applied across all four bucket files
      """
      SELECT doc_id, source, n_chars
      FROM documents WHERE doc_id % 7 <> 0"""),

    // Iceberg EQUALITY deletes (round 15 continuation): a real v2
    // table with two data generations around an equality delete on
    // doc_id (field id 1) — gen1 (even ids, data sequence 1 INHERITED
    // from the manifest list), the delete (sequence 2, every id%3==0
    // value), gen2 (odd ids, sequence 3, written AFTER the delete).
    // The %3==0 odd rows must SURVIVE: a reader that value-matches
    // without sequence scoping deletes them and hash-mismatches.
    // Iceberg SNAPSHOT TRAVEL (round 15 continuation): the v2 table's
    // snapshot 0 predates the position deletes — reading it by id
    // must return every row; serving the current snapshot instead
    // loses the %7 rows and hash-mismatches. Unknown ids refuse by
    // name (IcebergSpec).
    Gate("x_iceberg_snapshot_at", (s, d) => {
      val dir = sharedDir("iceberg_v2", d)(
        graft.ops.TableFixtures.writeIcebergV2Table(s, t(s, d, "documents"), "doc_id"))
      graft.ops.Iceberg.readTable(s, dir, Some(0L))
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    Gate("x_iceberg_eq", (s, d) => {
      val dir = sharedDir("iceberg_eq", d)(
        graft.ops.TableFixtures.writeIcebergEqTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.Iceberg.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg v2 equality deletes: the sequence-scoped survivor set —
      // the delete (seq 2) reaches generation 1 (even ids, seq 1) but
      // NOT generation 2 (odd ids, seq 3)
      """
      SELECT doc_id, source, n_chars
      FROM documents
      WHERE doc_id % 2 = 1 OR doc_id % 3 <> 0"""),

    // Iceberg FIELD-ID column resolution (round 16): generation A
    // files predate a column rename (stored names id_v1/src_v1/
    // chars_v1, field ids 1..3, no parity column); generation B files
    // carry the current names plus parity (ids 1..4). The spec says
    // resolve columns by field id — a name-based reader null-fills
    // generation A's data columns and hash-mismatches. Gen A rows
    // read parity NULL (the column postdates them).
    Gate("x_iceberg_rename", (s, d) => {
      val dir = sharedDir("iceberg_rename", d)(
        graft.ops.TableFixtures.writeIcebergRenameTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.Iceberg.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("parity"))
    },
      // iceberg field-id resolution: both generations read by field id —
      // generation A (even ids) predates the parity column → NULL
      """
      SELECT doc_id, source, n_chars,
             CASE WHEN doc_id % 2 = 1 THEN 'odd' END AS parity
      FROM documents"""),

    // Iceberg MANIFEST-LEVEL PARTITION PRUNING (round 16): the
    // partitioned table's manifest entries carry exact {bucket} tuples
    // and the metadata the identity spec; a bucket predicate opens
    // ONLY the matching files (PlanShape-asserted in IcebergSpec) and
    // is re-applied to the rows, so the result equals a full-scan
    // filter while reading a quarter of the data.
    Gate("x_iceberg_prune", (s, d) => {
      val dir = sharedDir("iceberg_part", d)(
        graft.ops.TableFixtures.writeIcebergPartTable(s, t(s, d, "documents"), "doc_id"))
      graft.ops.Iceberg.readTable(s, dir, None,
        Some(col("bucket") === 1 || col("bucket") === 2))
        .select(col("doc_id"), col("source"), col("n_chars"), col("bucket"))
    },
      // iceberg partition pruning: the bucket predicate replays exactly
      """
      SELECT doc_id, source, n_chars, doc_id % 4 AS bucket
      FROM documents WHERE doc_id % 4 IN (1, 2)"""),

    // Iceberg COLUMN-BOUNDS file skipping (round 17): the
    // unpartitioned table's manifest entries carry real Appendix-D
    // lower/upper bounds per column; a doc_id range predicate opens
    // ONLY the overlapping quartile file (scan-files-asserted in
    // IcebergSpec) while the result equals the full-scan filter.
    Gate("x_iceberg_skip", (s, d) => {
      val dir = sharedDir("iceberg_skip", d)(
        graft.ops.TableFixtures.writeIcebergSkipTable(s, t(s, d, "documents"), "doc_id"))
      val maxId = t(s, d, "documents")
        .agg(max(col("doc_id").cast("long"))).head().getLong(0)
      graft.ops.Iceberg.readTable(s, dir, None,
        Some(col("doc_id") > maxId / 2 && col("doc_id") <= 3 * maxId / 4))
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg column-bounds skipping: the doc_id range replays
      // exactly (third quartile of the id space)
      """
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id > (SELECT max(doc_id) // 2 FROM documents)
        AND doc_id <= (SELECT (3 * max(doc_id)) // 4 FROM documents)"""),

    // Iceberg APPEND WRITE roundtrip (round 17, the DeltaWrite
    // mirror): the engine's own writer creates the table in TWO
    // snapshots (even ids, then odd — exercising the carry-forward
    // manifest merge and the compat gate), range-clustered on doc_id
    // with real column bounds in the manifests; the engine's own
    // reader replays the current snapshot. Bounds consumability and
    // snapshot travel to the first append are pinned in
    // IcebergWriteSpec.
    Gate("x_iceberg_write_roundtrip", (s, d) => {
      val dir = sharedDir("iceberg_write", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-ib-wr")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        graft.ops.IcebergWrite.append(s, data.where(col("doc_id") % 2 === 0),
          dest, clusterBy = Seq("doc_id"), numFiles = 2)
        graft.ops.IcebergWrite.append(s, data.where(col("doc_id") % 2 === 1),
          dest, clusterBy = Seq("doc_id"), numFiles = 2)
        dest
      }
      graft.ops.Iceberg.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg write roundtrip: own writer (two snapshots) → own
      // reader equals the source rows
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    // Iceberg INCREMENTAL APPEND scan (round 17): the diff between
    // the write fixture's two snapshots is exactly the second
    // append's rows (odd ids) — the per-poll read an incremental
    // consumer does; rewrite/delete refusals pinned in
    // IcebergWriteSpec.
    Gate("x_iceberg_incremental", (s, d) => {
      val dir = sharedDir("iceberg_write", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-ib-wr")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        graft.ops.IcebergWrite.append(s, data.where(col("doc_id") % 2 === 0),
          dest, clusterBy = Seq("doc_id"), numFiles = 2)
        graft.ops.IcebergWrite.append(s, data.where(col("doc_id") % 2 === 1),
          dest, clusterBy = Seq("doc_id"), numFiles = 2)
        dest
      }
      graft.ops.Iceberg.readAppendsBetween(s, dir, 1L, None)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg incremental append scan: snapshot 1 → current diff is
      // the second append (odd ids)
      """
      SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 1"""),

    // Iceberg IDENTITY-PARTITIONED write (round 18): the writer emits
    // a real partition spec + per-entry partition tuples, so the
    // reader's own manifest partition pruning engages on own-written
    // tables — the bucket predicate opens only that bucket's files
    // (inputFiles-asserted in IcebergWriteSpec); the gate pins the
    // pruned read equals the filter replay.
    Gate("x_iceberg_write_part", (s, d) => {
      val dir = sharedDir("iceberg_write_part", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-ib-wp")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          pmod(col("doc_id"), lit(4)).cast("long").as("bucket"))
        graft.ops.IcebergWrite.append(s, data, dest, partitionBy = Seq("bucket"))
        dest
      }
      graft.ops.Iceberg.readTable(s, dir, None, Some(col("bucket") === 2L))
        .select(col("doc_id"), col("source"), col("n_chars"), col("bucket"))
    },
      // iceberg identity-partitioned write: tuple pruning on bucket=2
      """
      SELECT doc_id, source, n_chars, doc_id % 4 AS bucket
      FROM documents WHERE doc_id % 4 = 2"""),

    // Iceberg SCHEMA EVOLUTION (round 18): the x_delta_evolve mirror
    // — narrow v1 (doc_id, source on evens), merge-append widens
    // (odds); the read projects the evolved schema, null-filling
    // n_chars for the narrow generation's files, with fresh field ids
    // for the added column (IcebergWriteSpec pins the metadata shape).
    Gate("x_iceberg_evolve", (s, d) => {
      val dir = sharedDir("iceberg_evolve", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-ib-ev")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        graft.ops.IcebergWrite.append(s,
          data.where(col("doc_id") % 2 === 0).select("doc_id", "source"), dest)
        graft.ops.IcebergWrite.append(s,
          data.where(col("doc_id") % 2 === 1), dest, mergeSchema = true)
        dest
      }
      graft.ops.Iceberg.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg schema evolution: same contract, field-id projection
      """
      SELECT doc_id, source,
             CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
      FROM documents"""),

    // Iceberg PRUNED incremental scan (round 18): the per-poll diff
    // composes with the same pruning ladder as the full read — the
    // appended files that cannot hold matching rows never open; the
    // result equals the diff filtered row-wise.
    Gate("x_iceberg_incremental_pruned", (s, d) => {
      val dir = sharedDir("iceberg_write", d) {
        val dest = java.nio.file.Files.createTempDirectory("graft-ib-wr")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        graft.ops.IcebergWrite.append(s, data.where(col("doc_id") % 2 === 0),
          dest, clusterBy = Seq("doc_id"), numFiles = 2)
        graft.ops.IcebergWrite.append(s, data.where(col("doc_id") % 2 === 1),
          dest, clusterBy = Seq("doc_id"), numFiles = 2)
        dest
      }
      val cut = t(s, d, "documents")
        .agg(max(col("doc_id").cast("long"))).head().getLong(0) / 2
      graft.ops.Iceberg.readAppendsBetween(s, dir, 1L, None,
        Some(col("doc_id") <= cut))
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg pruned incremental scan: odd ids within the bound
      """
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id % 2 = 1 AND doc_id <= (SELECT max(doc_id) // 2 FROM documents)"""),

    // Iceberg TIMESTAMP travel (round 16): the v2 table's
    // snapshot-log stamps snapshot 0 at t=1000 ms and snapshot 1
    // (with the position deletes) at t=2000 ms; reading AS OF 1500
    // must resolve to snapshot 0 — every row, pre-delete.
    Gate("x_iceberg_at_ts", (s, d) => {
      val dir = sharedDir("iceberg_v2", d)(
        graft.ops.TableFixtures.writeIcebergV2Table(s, t(s, d, "documents"), "doc_id"))
      graft.ops.Iceberg.readTableAt(s, dir, 1500L)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // iceberg timestamp travel: t=1500 lands between the snapshot-log
      // entries (snapshot 0 at 1000, snapshot 1 at 2000) → snapshot 0
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    Gate("x_parquet_footer", (s, d) => {
      import s.implicits._
      val paths = Seq("documents", "embeddings", "orders")
        .map(tn => s"$d/$tn.parquet").toDF("path")
      graft.ops.ParquetMeta.meta(paths, "path")
        .select(
          regexp_extract(col("path"), "([a-z]+)\\.parquet$", 1).as("tbl"),
          col("row_group"), col("rg_num_rows"), col("column_id"),
          col("path_in_schema"), col("type"), col("compression"),
          col("num_values"), col("dictionary_page_offset"),
          col("data_page_offset"), col("total_compressed_size"),
          col("total_uncompressed_size"), col("encodings"))
    },
      """
      SELECT regexp_extract(file_name, '([a-z]+)\.parquet$', 1) AS tbl,
             CAST(row_group_id AS INTEGER) AS row_group,
             row_group_num_rows AS rg_num_rows,
             CAST(column_id AS INTEGER) AS column_id,
             path_in_schema, type, compression, num_values,
             coalesce(dictionary_page_offset, -1) AS dictionary_page_offset,
             data_page_offset, total_compressed_size, total_uncompressed_size,
             array_to_string(list_sort(string_split(encodings, ', ')), ', ')
               AS encodings
      FROM parquet_metadata(['/root/testdata/sf0.01/documents.parquet',
                             '/root/testdata/sf0.01/embeddings.parquet',
                             '/root/testdata/sf0.01/orders.parquet'])"""),

    // Parquet zone-map statistics (round 12): the per-chunk
    // null_count / min_value / max_value pruning keys on, decoded by
    // PHYSICAL type (raw stored order) — restricted to the columns
    // whose DuckDB rendering is physical too (plain INT64 and
    // BYTE_ARRAY; DuckDB renders date/timestamp-annotated and float
    // stats through the logical layer, a different surface).
    Gate("x_parquet_stats", (s, d) => {
      import s.implicits._
      val paths = Seq("documents", "orders")
        .map(tn => s"$d/$tn.parquet").toDF("path")
      graft.ops.ParquetMeta.meta(paths, "path")
        .where(col("type").isin("INT64", "BYTE_ARRAY") &&
          !col("path_in_schema").isin("o_orderdate"))
        .select(
          regexp_extract(col("path"), "([a-z]+)\\.parquet$", 1).as("tbl"),
          col("row_group"), col("path_in_schema"),
          col("null_count"), col("min_value"), col("max_value"))
    },
      // parquet stats contract: DuckDB's reader again — the o_orderdate
      // column is excluded on BOTH sides (DuckDB renders its stats
      // through the timestamp logical type; ours are the raw int64s)
      """
      SELECT regexp_extract(file_name, '([a-z]+)\.parquet$', 1) AS tbl,
             CAST(row_group_id AS INTEGER) AS row_group,
             path_in_schema,
             stats_null_count AS null_count,
             stats_min_value AS min_value,
             stats_max_value AS max_value
      FROM parquet_metadata(['/root/testdata/sf0.01/documents.parquet',
                             '/root/testdata/sf0.01/orders.parquet'])
      WHERE type IN ('INT64', 'BYTE_ARRAY') AND path_in_schema <> 'o_orderdate'"""),
  )
}
