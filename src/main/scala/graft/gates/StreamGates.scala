package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Streaming: event-time windows and sessions, and the
  * batch/stream parity gates that replay the same events through
  * Structured Streaming (joins, dedup, late data, table sinks). */
object StreamGates {
  val gates: Seq[Gate] = Seq(
    // STREAMING → ICEBERG sink (round 18): the delta-sink mirror —
    // one snapshot per epoch, idempotent via the snapshot summary's
    // epoch marker (crash/replay pinned in StreamingSpec); the
    // drained table equals the batch input.
    Gate("x_stream_iceberg_sink", (s, d) => {
      import graft.streaming.Streaming
      val dir = sharedDir("stream_iceberg_sink", d) {
        val base = java.nio.file.Files.createTempDirectory("graft-sis-gate")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        data.repartition(2).write.parquet(s"$base/in")
        val stream = Streaming.fileSource(s, s"$base/in",
          data.schema, maxFilesPerTrigger = 1)
        val q = Streaming.startIcebergSink(stream, s"$base/tbl", s"$base/cp",
          "gate-app", trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
        s"$base/tbl"
      }
      graft.ops.Iceberg.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      // streaming iceberg sink: same contract, snapshot-per-epoch
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    // STREAMING → DELTA sink (round 18): a file-source stream drains
    // through foreachBatch into [[DeltaWrite.append]], one table
    // commit per epoch with a `txn` marker carrying the epoch id —
    // the crash/replay no-op is pinned in StreamingSpec; the gate
    // pins that the drained table equals the batch input exactly.
    Gate("x_stream_delta_sink", (s, d) => {
      import graft.streaming.Streaming
      val dir = sharedDir("stream_delta_sink", d) {
        val base = java.nio.file.Files.createTempDirectory("graft-sds-gate")
          .toFile.getAbsolutePath
        val data = t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        data.repartition(2).write.parquet(s"$base/in")
        val stream = Streaming.fileSource(s, s"$base/in",
          data.schema, maxFilesPerTrigger = 1)
        val q = Streaming.startDeltaSink(stream, s"$base/tbl", s"$base/cp",
          "gate-app", trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
        s"$base/tbl"
      }
      graft.ops.DeltaLog.readTable(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      """
      SELECT doc_id, source, n_chars FROM documents"""),

    // ==== extensions: event-time windowing + sessionization (batch
    // equivalents of graft.streaming) ====
    Gate("x_events_window", (s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
        .select(unix_millis(col("w.start")).as("ws_ms"), col("event_type"),
          col("n"), col("total")),
      """
      SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS ws_ms,
             event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2"""),
    Gate("x_sessionize", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, d).select(col("user_id"), col("event_id"), col("value"),
        unix_millis(col("ts")).as("ts_ms"))
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("__new",
          when(col("ts_ms") - lag(col("ts_ms"), 1).over(ord) > 1800000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("__new")).over(run).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts_ms")).as("session_start_ms"),
          max(col("ts_ms")).as("session_end_ms"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    },
      """
      WITH flagged AS (
        SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                      (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
                    THEN 1 ELSE 0 END AS __new
        FROM events),
      sess AS (
        SELECT user_id, value, ts_ms,
               CAST(sum(__new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id,
             min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
      FROM sess GROUP BY user_id, session_id"""),

    // ==== extensions: batch/stream parity gates — the SAME events
    // history replayed through the file-stream source as time-ordered
    // micro-batches must reproduce the batch answer (and therefore
    // the DuckDB oracle) exactly. See graft.streaming.StreamParity
    // for why in-order replay is the right arrival history to pin.
    Gate("x_stream_window", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      // decimal value BEFORE the stream: sum(decimal) is
      // order-independent, so incremental per-batch accumulation is
      // bit-equal to the batch/oracle aggregate
      val ev = events(s, d).select(col("ts"), col("event_type"),
        col("value").cast("decimal(18,6)").as("value"))
      val dir = StreamParity.writeTimeOrderedChunks(ev, "ts", chunks = 4, cacheKey = Some(s"window:$d"))
      val stream = Streaming.fileSource(s, dir.toString, ev.schema, maxFilesPerTrigger = 1)
      val agg = Streaming.windowedAgg(stream, "ts", "event_type", "value",
        window_ = "1 hour", watermark = "30 minutes")
      val sink = s"x_stream_window_${System.nanoTime}"
      // complete mode: every window survives to the end of the replay
      // (append would hold back windows newer than the final watermark)
      val q = Streaming.startMemorySink(agg, sink, mode = "complete")
      try q.processAllAvailable() finally q.stop()
      s.table(sink).select(unix_millis(col("window_start")).as("ws_ms"),
        col("event_type"), col("n"), col("total").cast("double").as("total"))
    },
      // batch/stream parity: the streaming replay must land on the SAME
      // oracle rows as the batch operator — x_stream_window shares
      // x_events_window's oracle shape; x_stream_sessions is the batch
      // sessionization oracle with per-session rows keyed by boundaries
      // (sessions of a user are disjoint in time, so (user_id,
      // session_start_ms) is unique without the ordinal session_id).
      """
      SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS ws_ms,
             event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2"""),
    Gate("x_stream_sessions", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      import s.implicits._
      val gapMs = 1800000L
      // value scaled to an exact integer-in-double (micros of value):
      // the state machine accumulates doubles in arrival order, and
      // integer-valued doubles sum exactly in ANY order, so the
      // running total matches the oracle's decimal sum bit-for-bit
      val ev = events(s, d).select(col("user_id"), col("ts"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("double").as("value"))
      val maxMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
      // one far-future sentinel per user closes every real session at
      // end-of-stream; the sentinel sessions themselves stay open in
      // state and are never emitted (append mode emits closed only)
      val sentinels = ev.select("user_id").distinct()
        .withColumn("ts", timestamp_millis(lit(maxMs + 10 * gapMs)))
        .withColumn("value", lit(0.0))
      val dir = StreamParity.writeTimeOrderedChunks(
        ev.unionByName(sentinels), "ts", chunks = 5, cacheKey = Some(s"sessions:$d"))
      val stream = Streaming.fileSource(s, dir.toString, ev.schema, maxFilesPerTrigger = 1)
      val sess = Streaming.sessionize(stream.as[Streaming.SessionEvent], gapMs)
      val sink = s"x_stream_sessions_${System.nanoTime}"
      val q = Streaming.startMemorySink(sess.toDF(), sink)
      try q.processAllAvailable() finally q.stop()
      s.table(sink).select(col("user_id"),
        unix_millis(col("session_start")).as("session_start_ms"),
        unix_millis(col("session_end")).as("session_end_ms"),
        col("n_events"),
        col("total_value").cast("long").as("total_value_e6"))
    },
      """
      WITH flagged AS (
        SELECT user_id, value, epoch_ms(ts) AS ts_ms, event_id,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                      (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
                    THEN 1 ELSE 0 END AS __new
        FROM events),
      sess AS (
        SELECT user_id, value, ts_ms,
               CAST(sum(__new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id,
             min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
             count(*) AS n_events,
             CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)) AS BIGINT) AS total_value_e6
      FROM sess GROUP BY user_id, session_id"""),

    // ==== extension: EVENT-TIME-TIMEOUT sessionization — the
    // production closing mechanism (no sentinel rows): a session
    // emits either when a later gap-exceeding event of the same user
    // arrives (closed by data) or when the watermark passes
    // session_end + gap (closed by timeout). The oracle re-derives
    // the emission set exactly: every non-last session per user is
    // closed by data; the last session emits iff the FINAL watermark
    // (hi − 30 min) strictly passes session_end + gap. Same
    // value-scaling trick as x_stream_sessions (exact-integer doubles
    // sum order-independently).
    Gate("x_stream_sessions_et", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      import s.implicits._
      val gapMs = 1800000L
      val ev = events(s, d).select(col("user_id"), col("ts"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("double").as("value"))
      val (staged, _) = StreamParity.writeChunksInOrder(ev, "ts", 0 until 5,
        cacheKey = Some(s"sessions_et:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_sessions_et_watch")
      val stream = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .withWatermark("ts", "30 minutes")
      val sess = Streaming.sessionizeEventTime(stream.as[Streaming.SessionEvent], gapMs)
      val sink = s"x_stream_sessions_et_${System.nanoTime}"
      val q = Streaming.startMemorySink(sess.toDF(), sink)
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).select(col("user_id"),
        unix_millis(col("session_start")).as("session_start_ms"),
        unix_millis(col("session_end")).as("session_end_ms"),
        col("n_events"),
        col("total_value").cast("long").as("total_value_e6"))
    },
      // Event-time-timeout sessions: batch sessionization, minus the
      // sessions the stream can never close — the LAST session of each
      // user survives only if the final watermark (hi − 30 min)
      // strictly passes its end + gap; every earlier session was closed
      // by the arrival of its successor's first event.
      """
      WITH flagged AS (
        SELECT user_id, value, epoch_ms(ts) AS ts_ms, event_id,
               CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                      (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) > 1800000
                    THEN 1 ELSE 0 END AS __new
        FROM events),
      sess AS (
        SELECT user_id, value, ts_ms,
               CAST(sum(__new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged),
      grouped AS (
        SELECT user_id, session_id,
               min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
               count(*) AS n_events,
               CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)) AS BIGINT) AS total_value_e6
        FROM sess GROUP BY user_id, session_id),
      b AS (SELECT max(epoch_ms(ts)) AS hi FROM events),
      lastsess AS (SELECT user_id, max(session_id) AS last_id FROM grouped GROUP BY user_id)
      SELECT g.user_id, g.session_start_ms, g.session_end_ms, g.n_events, g.total_value_e6
      FROM grouped g JOIN lastsess l ON g.user_id = l.user_id, b
      WHERE g.session_id <> l.last_id OR g.session_end_ms + 1800000 < hi - 1800000"""),

    // ==== extension: STREAM-STATIC join — the enrichment shape every
    // ingestion pipeline has (stream facts × broadcast dimension).
    // The dimension is derived deterministically from the same events
    // history (user_id → cohort), so the oracle re-joins it exactly;
    // the windowed aggregate over the enriched stream must reproduce
    // the batch answer under in-order replay.
    Gate("x_stream_join", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      val ev = events(s, d).select(col("ts"), col("user_id"),
        col("value").cast("decimal(18,6)").as("value"))
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("cohort", pmod(col("user_id"), lit(7)))
      val (staged, _) = StreamParity.writeChunksInOrder(ev, "ts", 0 until 4,
        cacheKey = Some(s"join:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_join_watch")
      val stream = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .join(broadcast(dim), "user_id")
      val agg = Streaming.windowedAgg(stream, "ts", "cohort", "value",
        window_ = "1 hour", watermark = "30 minutes")
      val sink = s"x_stream_join_${System.nanoTime}"
      val q = Streaming.startMemorySink(agg, sink, mode = "complete")
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).select(unix_millis(col("window_start")).as("ws_ms"),
        col("cohort").cast("long").as("cohort"), col("n"),
        col("total").cast("double").as("total"))
    },
      // Stream-static join: enrich with the derived cohort dimension,
      // then the same hourly aggregate shape as x_stream_window.
      """
      SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS ws_ms,
             CAST(user_id % 7 AS BIGINT) AS cohort, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2"""),

    // ==== extension: STREAM-STREAM interval join — the attribution
    // shape (purchase matched to the same user's views in the 4 hours
    // before it) with BOTH sides unbounded. Both streams watermark
    // their event time and the join carries the range condition, so
    // Spark derives the state-eviction bound from the interval: view
    // state lives exactly [watermark - 4h, now] — bounded regardless
    // of stream length, the property that distinguishes a viable
    // 100 TB stream join from one whose state grows forever. Replayed
    // time-ordered, the append-mode inner join must emit exactly the
    // batch interval join (the DuckDB oracle).
    Gate("x_stream_stream_join", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      val ev = events(s, d).select(col("ts"), col("user_id"),
        col("event_id"), col("event_type"))
      val (staged, _) = StreamParity.writeChunksInOrder(ev, "ts", 0 until 4,
        cacheKey = Some(s"ssjoin:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_stream_join_watch")
      val purchases = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_event"))
        .withWatermark("p_ts", "30 minutes")
      val views = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_event"))
        .withWatermark("v_ts", "30 minutes")
      val joined = purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("interval 4 hours") &&
          col("v_ts") <= col("p_ts"))
      val sink = s"x_stream_stream_join_${System.nanoTime}"
      val q = Streaming.startMemorySink(joined, sink)
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).select(col("purchase_event"), col("view_event"),
        unix_millis(col("p_ts")).as("p_ts_ms"), unix_millis(col("v_ts")).as("v_ts_ms"))
    },
      """
      SELECT a.event_id AS purchase_event, b.event_id AS view_event,
             epoch_ms(a.ts) AS p_ts_ms, epoch_ms(b.ts) AS v_ts_ms
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'purchase' AND b.event_type = 'view'
       AND b.ts BETWEEN a.ts - INTERVAL 4 HOUR AND a.ts"""),

    // LEFT-OUTER stream-stream interval join — production attribution
    // also needs the purchases with NO prior view. Structured
    // Streaming holds an unmatched left row in state and emits it
    // with nulls only once BOTH watermarks pass its join window, so a
    // finite replay would strand every tail purchase in state: the
    // fixture appends one far-future sentinel row per side (user −1,
    // 10 h past max ts — outside every real join window) whose only
    // job is to advance both watermarks past all real data, then the
    // sentinels are filtered from the result. Oracle: the batch LEFT
    // θ-join, hash-exact INCLUDING the null view columns.
    Gate("x_stream_stream_join_outer", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      import s.implicits._
      val ev0 = events(s, d).select(col("ts"), col("user_id"),
        col("event_id"), col("event_type"))
      val hi = ev0.agg(max(col("ts"))).head().getTimestamp(0)
      val flushTs = java.sql.Timestamp.from(hi.toInstant.plusSeconds(10 * 3600))
      val sentinels = Seq(("purchase"), ("view")).toDF("event_type")
        .select(lit(flushTs).as("ts"), lit(-1L).as("user_id"),
          lit(-1L).as("event_id"), col("event_type"))
      val ev = ev0.unionByName(sentinels)
      val (staged, _) = StreamParity.writeChunksInOrder(ev, "ts", 0 until 4,
        cacheKey = Some(s"ssjoin_outer:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_stream_join_outer_watch")
      val purchases = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_event"))
        .withWatermark("p_ts", "30 minutes")
      val views = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_event"))
        .withWatermark("v_ts", "30 minutes")
      val joined = purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("interval 4 hours") &&
          col("v_ts") <= col("p_ts"),
        "left_outer")
      val sink = s"x_stream_stream_join_outer_${System.nanoTime}"
      val q = Streaming.startMemorySink(joined, sink)
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).where(col("purchase_event") =!= -1L)
        .select(col("purchase_event"), col("view_event"),
          unix_millis(col("p_ts")).as("p_ts_ms"), unix_millis(col("v_ts")).as("v_ts_ms"))
    },
      """
      SELECT a.event_id AS purchase_event, b.event_id AS view_event,
             epoch_ms(a.ts) AS p_ts_ms, epoch_ms(b.ts) AS v_ts_ms
      FROM (SELECT * FROM events WHERE event_type = 'purchase') a
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
        ON a.user_id = b.user_id
       AND b.ts BETWEEN a.ts - INTERVAL 4 HOUR AND a.ts"""),

    // ==== extension: STREAMING exact-dedup — at-least-once upstream
    // delivery (every event arrives twice here) must yield
    // exactly-once downstream. dropDuplicates keys INCLUDE the
    // event-time column, so the watermark evicts old keys and state
    // stays bounded by the delay window instead of growing with the
    // stream — the property that makes streaming ingestion dedup
    // viable at 100 TB. Oracle: the distinct event set.
    Gate("x_stream_dedup", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      val ev = events(s, d).select(col("ts"), col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("value"))
      val dup = ev.unionByName(ev)
      val (staged, _) = StreamParity.writeChunksInOrder(dup, "ts", 0 until 4,
        cacheKey = Some(s"dedup:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_dedup_watch")
      val stream = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .withWatermark("ts", "30 minutes")
        .dropDuplicates("event_id", "ts")
      val sink = s"x_stream_dedup_${System.nanoTime}"
      val q = Streaming.startMemorySink(stream, sink)
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).select(unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        col("event_type"), col("value").cast("double").as("value"))
    },
      // Streaming exact-dedup: doubled delivery in, distinct events out.
      """
      SELECT epoch_ms(ts) AS ts_ms, event_id, event_type,
             CAST(CAST(value AS DECIMAL(38,6)) AS DOUBLE) AS value
      FROM events"""),

    // ==== extension: BOUNDED-FOREVER stream dedup — the crawl-
    // frontier contract dropDuplicates can't give: fixed Bloom state
    // for the stream's whole life. Same duplicated replay as
    // x_stream_dedup; filter sized so the corpus has zero false
    // positives, making the output exactly the distinct event set
    // (and the run deterministic — same data, same bits, forever).
    Gate("x_stream_bloom_dedup", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      val ev = events(s, d).select(col("ts"), col("event_id"), col("event_type"),
        col("value").cast("decimal(18,6)").as("value"))
      val dup = ev.unionByName(ev)
      val (staged, _) = StreamParity.writeChunksInOrder(dup, "ts", 0 until 4,
        cacheKey = Some(s"bloomdedup:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_bloom_watch")
      val src = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
      val stream = Streaming.bloomDedup(src,
        Seq("event_id", "ts"), mBits = 1 << 24, k = 4, nShards = 8)
      val sink = s"x_stream_bloom_${System.nanoTime}"
      val q = Streaming.startMemorySink(stream, sink)
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).select(unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        col("event_type"), col("value").cast("double").as("value"))
    },
      // bloom dedup at zero-false-positive sizing: exactly the
      // distinct event set
      """
      SELECT epoch_ms(ts) AS ts_ms, event_id, event_type,
             CAST(CAST(value AS DECIMAL(38,6)) AS DOUBLE) AS value
      FROM events"""),

    // ==== extension: OUT-OF-ORDER sessionization — the sorter
    // pattern: arrivals buffer in state and fold into sessions only
    // once the watermark releases them in EVENT-TIME order, so the
    // same shuffled replay as x_stream_late must reproduce the batch
    // segmentation over exactly the rows the arrival schedule keeps:
    // dropped = at-or-below the watermark at arrival (self-enforced
    // operator contract), unreleased = above the final watermark,
    // last-session holdback as in x_stream_sessions_et. One oracle
    // derives all three boundaries.
    Gate("x_stream_sessions_ooo", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      import s.implicits._
      val gapMs = 1800000L
      val ev = events(s, d).select(col("user_id"), col("ts"),
        (col("value").cast("decimal(18,6)") * 1000000).cast("double").as("value"))
      val (staged, _) = StreamParity.writeChunksInOrder(ev, "ts", Seq(1, 0, 3, 2, 5, 4),
        cacheKey = Some(s"ooo:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_sessions_ooo_watch")
      val stream = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
        .withWatermark("ts", "30 minutes")
      val sess = Streaming.sessionizeOutOfOrder(stream.as[Streaming.SessionEvent], gapMs)
      val sink = s"x_stream_sessions_ooo_${System.nanoTime}"
      val q = Streaming.startMemorySink(sess.toDF(), sink)
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).select(col("user_id"),
        unix_millis(col("session_start")).as("session_start_ms"),
        unix_millis(col("session_end")).as("session_end_ms"),
        col("n_events"),
        col("total_value").cast("long").as("total_value_e6"))
    },
      // Out-of-order sessions: the arrival-schedule watermark decides
      // which rows survive (dropped at arrival if at-or-below it;
      // unreleased if above the FINAL watermark), then batch gap-
      // segmentation over the survivors, then the last-session
      // emission rule — all three boundaries derived in one query.
      """
      WITH ev AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value
        FROM events),
      b AS (SELECT min(ts_ms) AS lo, max(ts_ms) AS hi FROM ev),
      chunked AS (
        SELECT ev.*,
               least(CAST(floor((ts_ms - lo) * 6 / CAST(hi - lo + 1 AS DOUBLE)) AS INT), 5)
                 AS chunk
        FROM ev, b),
      cmax AS (SELECT chunk, max(ts_ms) AS mx FROM chunked GROUP BY chunk),
      arrival AS (
        SELECT c.chunk, row_number() OVER (ORDER BY o.pos) - 1 AS batch, c.mx
        FROM cmax c JOIN (VALUES (1,0),(0,1),(3,2),(2,3),(5,4),(4,5)) AS o(chunk, pos)
          ON o.chunk = c.chunk),
      wm AS (
        SELECT chunk,
               COALESCE(max(mx) OVER (ORDER BY batch
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 1800000, 0) AS wm_ms
        FROM arrival),
      processed AS (
        SELECT c.user_id, c.ts_ms, c.event_id, c.value
        FROM chunked c JOIN wm ON wm.chunk = c.chunk, b
        WHERE c.ts_ms > wm.wm_ms AND c.ts_ms <= hi - 1800000),
      flagged AS (
        SELECT user_id, value, ts_ms, event_id,
               CASE WHEN ts_ms - lag(ts_ms) OVER
                      (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000
                    THEN 1 ELSE 0 END AS __new
        FROM processed),
      sess AS (
        SELECT user_id, value, ts_ms,
               CAST(sum(__new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged),
      grouped AS (
        SELECT user_id, session_id,
               min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
               count(*) AS n_events,
               CAST(sum(CAST(CAST(value AS DECIMAL(38,6)) * 1000000 AS BIGINT)) AS BIGINT) AS total_value_e6
        FROM sess GROUP BY user_id, session_id),
      lastsess AS (SELECT user_id, max(session_id) AS last_id FROM grouped GROUP BY user_id)
      SELECT g.user_id, g.session_start_ms, g.session_end_ms, g.n_events, g.total_value_e6
      FROM grouped g JOIN lastsess l ON g.user_id = l.user_id, b
      WHERE g.session_id <> l.last_id OR hi - 1800000 > g.session_end_ms + 1800000"""),

    // ==== extension: OUT-OF-ORDER arrival — the late-data contract.
    // The same events history replayed with chunks arriving in the
    // fixed permutation (1,0,3,2,5,4): every chunk is at most one
    // position early/late, so the watermark schedule is deterministic
    // arithmetic over (chunk time ranges, arrival positions) and the
    // DuckDB oracle re-derives EXACTLY which rows the watermark must
    // drop (and which straddler windows therefore finalize with
    // partial counts) — late-data semantics as a checked contract,
    // not a demo. Append mode: a window is emitted once, when the
    // watermark passes its end; trailing windows never finalize and
    // the oracle excludes them the same way.
    Gate("x_stream_late", (s, d) => {
      import graft.streaming.{StreamParity, Streaming}
      val ev = events(s, d).select(col("ts"), col("event_type"),
        col("value").cast("decimal(18,6)").as("value"))
      val (staged, _) = StreamParity.writeChunksInOrder(ev, "ts", Seq(1, 0, 3, 2, 5, 4),
        cacheKey = Some(s"late:$d"))
      val watched = java.nio.file.Files.createTempDirectory("x_stream_late_watch")
      val stream = Streaming.fileSource(s, watched.toString, ev.schema, maxFilesPerTrigger = 1)
      val agg = Streaming.windowedAgg(stream, "ts", "event_type", "value",
        window_ = "1 hour", watermark = "30 minutes")
      val sink = s"x_stream_late_${System.nanoTime}"
      val q = Streaming.startMemorySink(agg, sink, mode = "append")
      try StreamParity.feedSequentially(staged, watched, q) finally q.stop()
      s.table(sink).select(unix_millis(col("window_start")).as("ws_ms"),
        col("event_type"), col("n"), col("total").cast("double").as("total"))
    },
      // Late-data contract: re-derive the watermark schedule of the
      // fixed shuffled replay — chunk(r) by the writer's formula,
      // arrival position from the literal permutation (1,0,3,2,5,4),
      // watermark during a batch = max event time of STRICTLY EARLIER
      // batches − 30 min (initial 0) — then drop exactly the rows whose
      // window end trails it, and keep only windows finalized by the
      // final watermark (append mode). Row-level predicate, so windows
      // straddling a dropped chunk's range keep their on-time partial
      // counts — the subtle case a spot-check would miss.
      """
      WITH ev AS (
        SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, event_type,
               CAST(value AS DECIMAL(38,6)) AS value
        FROM events),
      b AS (SELECT min(ts_ms) AS lo, max(ts_ms) AS hi FROM ev),
      chunked AS (
        SELECT ev.*,
               least(CAST(floor((ts_ms - lo) * 6 / CAST(hi - lo + 1 AS DOUBLE)) AS INT), 5)
                 AS chunk
        FROM ev, b),
      cmax AS (SELECT chunk, max(ts_ms) AS mx FROM chunked GROUP BY chunk),
      arrival AS (
        SELECT c.chunk, row_number() OVER (ORDER BY o.pos) - 1 AS batch, c.mx
        FROM cmax c JOIN (VALUES (1,0),(0,1),(3,2),(2,3),(5,4),(4,5)) AS o(chunk, pos)
          ON o.chunk = c.chunk),
      wm AS (
        SELECT chunk,
               COALESCE(max(mx) OVER (ORDER BY batch
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 1800000, 0) AS wm_ms
        FROM arrival),
      kept AS (
        SELECT ch.ts_ms, ch.event_type, ch.value
        FROM chunked ch JOIN wm ON wm.chunk = ch.chunk
        WHERE CAST(floor(ts_ms / 3600000.0) AS BIGINT) * 3600000 + 3600000 > wm.wm_ms)
      SELECT CAST(floor(ts_ms / 3600000.0) AS BIGINT) * 3600000 AS ws_ms, event_type,
             count(*) AS n, CAST(sum(value) AS DOUBLE) AS total
      FROM kept, b
      WHERE CAST(floor(ts_ms / 3600000.0) AS BIGINT) * 3600000 + 3600000 <= hi - 1800000
      GROUP BY 1, 2"""),
  )
}
