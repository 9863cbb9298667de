package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.{UniqueUsersStream, UpsertSink}

/** Streaming entries in the correctness gate: each runs a REAL Structured
  * Streaming query (file source → stateful plan → sink) to completion
  * inside the query function and returns the materialized result, so the
  * DuckDB oracle compare checks batch/stream parity — the test axis
  * SURVEY §3 (entry point 3) makes first-class. Every gate gets the
  * streaming protocol from one harness, StreamGate: its input as a staged
  * `Feed` (batch 1 in a fresh scratch dir, later batches delivered as
  * files the feed names), its run through `run` (start → drain → deliver
  * each later file → drain → stop), and, for the foreachBatch gates, its
  * state through `versioned` (named state relations, one new version dir
  * per merged micro-batch). A gate body holds only its data split and its
  * Spark plan.
  *
  * The gates cover every output mode: COMPLETE emits every window,
  * including the last, never-closed one, so it equals the batch oracle
  * exactly; UPDATE gates the changelog shape of the reference's running
  * counts; APPEND gates watermark-closed results, flushed by a far-future
  * sentinel batch, with late rows dropped; and the foreachBatch
  * versioned-state sinks (upsert, CDC, funnel state) must land on the
  * batch query's final table.
  */
object StreamingQueries {

  /** Every streaming gate runs on `SparkSession.newSession()` — same
    * SparkContext (executors, block manager), but an ISOLATED SessionState:
    * its own SQLConf, temp views, and listener wiring. The gates mutate
    * session conf by necessity (state-partition sizing, the RocksDB
    * provider class), and on a
    * shared session those sets are a thread-safety hazard (a concurrent
    * query on the same session would observe them mid-flight). On the
    * child session they are free: the mutations die with the gate, no
    * restore protocol needed. The memory-sink temp table and the returned
    * DataFrame are both bound to the child, which stays fully usable after
    * the gate returns (a child session is never "closed" — only the
    * SparkContext owns lifecycle). Applied centrally in `all`, so every
    * gate body may treat its `s` as private. */
  private def isolated(f: Q): Q = (s, dir) => f(s.newSession(), dir)

  // events.parquet carries TIMESTAMP(NANOS); readStream needs an explicit
  // schema, and asking for long ts surfaces Spark's internal epoch-MICROS
  // (Schemas.eventsRawMicros — the ns→µs floor happens in the reader).
  private val eventsRawSchema = graft.model.Schemas.eventsRawMicros

  /** The flagship's input shape: event time and the user id as string. */
  private def eventTimeUid(events: DataFrame): DataFrame =
    events.select(graft.model.Schemas.tsFromMicros(col("ts")).as("eventTime"),
      col("user_id").cast("string").as("uid"))

  private val streamingUniqueUsers: Q = (s, dir) => {
    // glob form: FileStreamSource requires a directory or glob, not a
    // bare file path ("Option 'basePath' must be a directory")
    val frames = eventTimeUid(s.readStream
      .schema(eventsRawSchema)
      .parquet(s"$dir/events.parquet*"))
    val counts = UniqueUsersStream.uniquePerWindow(frames,
      window = "1 minute", watermark = None)
    s.table(StreamGate.run(s, "streaming_unique_users", counts, "complete"))
      .select(unix_timestamp(col("window_start")).as("minute"),
        col("unique_users"))
  }

  // Same oracle as the batch flagship — THE parity statement.
  private val streamingUniqueUsersSql =
    """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users
      |FROM events GROUP BY 1""".stripMargin

  /** transformWithState in the gate: the RunningDistinct processor over a
    * file-source stream. The whole file arrives in one micro-batch, so
    * each bucket emits exactly one (final) running count — which must
    * equal the batch distinct-count oracle. Requires the RocksDB state
    * store provider, set on the gate's isolated child session (`isolated`),
    * so nothing needs restoring. */
  private val streamingRunningDistinct: Q = (s, dir) => {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    locally {
      import s.implicits._
      val frames = s.readStream
        .schema(eventsRawSchema)
        .parquet(s"$dir/events.parquet*")
        .select(
          unix_timestamp(date_trunc("minute",
            graft.model.Schemas.tsFromMicros(col("ts")))).as("bucket"),
          col("user_id").cast("string").as("uid"),
          graft.model.Schemas.tsFromMicros(col("ts")).as("eventTime"))
        .as[graft.streaming.RunningDistinct.In]
      val out = graft.streaming.RunningDistinct.runningUniquePerBucket(frames)
      s.table(StreamGate.run(s, "streaming_running_distinct", out.toDF(),
          "update"))
        .select(col("bucket").as("minute"),
          col("uniqueUsers").as("unique_users"))
    }
  }

  /** The latest event time of the fixture, in epoch micros. */
  private def maxEventUs(s: SparkSession, dir: String): Long =
    s.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet*")
      .agg(max(col("ts"))).head().getLong(0)

  /** Far-future sentinel events, one per (negative) key — user_id =
    * event_id = key, event time = `maxUs` + 1 day. Delivered as the last
    * micro-batch they advance the watermark past every real window,
    * session or join-match end, so append mode emits every final result
    * (the standard "advance event time to flush" pattern); callers filter
    * the sentinels' own rows back out. */
  private def sentinel(s: SparkSession, maxUs: Long, keys: Long*): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(keys.map(k =>
      Row(k, maxUs + 86400L * 1000000L, k, "sentinel", 0.0, null)): _*),
      eventsRawSchema)

  /** The reference's OBSERVED output semantics gated end-to-end: with its
    * cache buffering disabled (UniqueUsersApp.java:76, cache.max.bytes
    * .buffering=0; README.md:133–136 shows the resulting running counts)
    * the windowed count emits an updated intermediate count as records
    * arrive. Spark's analogue is UPDATE output mode: each window's count
    * is re-emitted in every micro-batch where it changed.
    *
    * Harness: events split into two micro-batches by user-id parity (even
    * users first — the odd file is written only after the even batch
    * commits, so delivery order is explicit, not mtime-derived),
    * update-mode flagship plan, memory sink
    * accumulating the whole changelog. The gate then checks the changelog
    * SHAPE, not just final state — per window:
    *   unique_users  = max emission  = the batch distinct count,
    *   first_emission = min emission = distinct evens (or the full count
    *                    for windows with no even user — single emission),
    *   n_emissions    = number of parity classes present in the window.
    * All three are computable by DuckDB from the raw table, so the
    * reference's running-count changelog is hash-checked, unlike r2 where
    * only spec-level coverage existed (VERDICT r2 "What's missing" #2). */
  private val streamingUpdateChangelog: Q = (s, dir) => {
    val events = s.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet")
    // batch 1: even users only; batch 2: odd users. The changelog-shape
    // oracle below derives n_emissions from the two parity classes
    // arriving as exactly two data micro-batches.
    val feed = StreamGate.feed(s, "streaming_uu_update", dir,
      events.filter(col("user_id") % 2 === 0),
      events.filter(col("user_id") % 2 =!= 0))
    val counts = UniqueUsersStream.uniquePerWindow(eventTimeUid(feed.stream()),
      window = "1 minute", watermark = None)
    val sink = StreamGate.run(s, "streaming_uu_update", counts, "update",
      deliver = feed.deliveries, dataBatches = 2)
    s.table(sink)
      .groupBy(col("window_start"))
      .agg(max(col("unique_users")).as("unique_users"),
        min(col("unique_users")).as("first_emission"),
        count(lit(1)).as("n_emissions"))
      .select(unix_timestamp(col("window_start")).as("minute"),
        col("unique_users"), col("first_emission"), col("n_emissions"))
  }

  private val streamingUpdateChangelogSql =
    """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users,
      |       CAST(CASE WHEN count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) > 0
      |                 THEN count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END)
      |                 ELSE count(DISTINCT user_id) END AS BIGINT) AS first_emission,
      |       CAST((CASE WHEN count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) > 0
      |              THEN 1 ELSE 0 END)
      |          + (CASE WHEN count(DISTINCT CASE WHEN user_id % 2 <> 0 THEN user_id END) > 0
      |              THEN 1 ELSE 0 END) AS BIGINT) AS n_emissions
      |FROM events GROUP BY 1""".stripMargin

  /** Append-mode gate harness: stream the fixture's events (a
    * `fixtureFeed`), run `build(frames)` with a memory sink in APPEND
    * mode, then deliver ONE far-future `sentinel` event (key −1) as a
    * second micro-batch, so append mode emits every final result; callers
    * filter the sentinel's own row back out. Returns the sink table and
    * the fixture's max event time the sentinel was placed after. */
  private def appendWithSentinelFlush(s: SparkSession, dir: String,
      tag: String)(build: DataFrame => DataFrame): (DataFrame, Long) = {
    // batch 1 is the whole fixture regardless of layout (one file or
    // staged part files) — read the max event time from the source
    val maxUs = maxEventUs(s, dir)
    val feed = StreamGate.fixtureFeed(s, tag, dir, sentinel(s, maxUs, -1L))
    val sink = StreamGate.run(s, tag, build(feed.stream()), "append",
      deliver = feed.deliveries)
    (s.table(sink), maxUs)
  }

  /** Session windows through a REAL streaming execution: the same
    * `Windowing.sessionStats` plan as the batch `session_window_stats`,
    * driven by a file stream with a watermark (session windows demand one
    * in streaming — it bounds the merge state — and only support APPEND
    * mode, which emits a session exactly when the watermark passes its
    * end). A session's end is its last event + gap, so the trailing
    * sessions can never close on real data alone; the sentinel flush
    * advances the watermark past every real session end. The final result
    * (sentinel filtered out) must equal the batch gaps-and-islands
    * oracle — streaming/batch parity for stateful session merging,
    * including watermark-driven finalization. */
  private val streamingSessions: Q = (s, dir) =>
    appendWithSentinelFlush(s, dir, "streaming_sessions") { raw =>
      val frames = raw
        .select(graft.model.Schemas.tsFromMicros(col("ts")).as("eventTime"),
          col("user_id"))
        .withWatermark("eventTime", "0 seconds")
      graft.operators.Windowing.sessionStats(
        frames, col("eventTime"), col("user_id"), "30 minutes")
    }._1.filter(col("key") >= 0)
      .select(col("key").as("user_id"),
        col("session_start"), col("session_end"), col("n_events"))

  /** The flagship pipeline in APPEND output mode — the reference's
    * *intended* semantics (one final count per closed window; its
    * `suppress(untilWindowCloses)` is commented out "Could not make it
    * work", UniqueUsersApp.java:119) gated end-to-end: watermarked
    * in-window dedup → windowed count, each window emitted exactly once
    * when the watermark passes its end, flushed by the sentinel batch.
    * Sentinel's own far-future window is dropped by the time filter; the
    * result must equal the same batch count_distinct oracle as the
    * complete-mode flagship. */
  private val streamingUniqueUsersAppend: Q = (s, dir) => {
    val (counts, maxUs) =
      appendWithSentinelFlush(s, dir, "streaming_uu_append") { raw =>
        UniqueUsersStream.uniquePerWindow(eventTimeUid(raw),
          window = "1 minute", watermark = Some("1 minute"))
      }
    // defensive sentinel drop: every real window starts ≤ the real max
    // event time; the sentinel's window (a day later) can only start
    // after it. (With a 1-minute watermark the sentinel's own window
    // never closes, so it shouldn't be emitted at all — but the filter
    // keys on the DATA, not on that emission subtlety.)
    counts.filter(unix_timestamp(col("window_start")) <=
        Math.floorDiv(maxUs, 1000000L))
      .select(unix_timestamp(col("window_start")).as("minute"),
        col("unique_users"))
  }

  /** The reference's debug store dump (DeduplicateValueTransformer
    * .java:58–68 — `fetchAll` + print of every (window, uid) in the
    * WindowStore), re-expressed on the engine-native surface: Spark 4's
    * state data source reads a streaming checkpoint's state stores as
    * DataFrames. The flagship runs with a real checkpoint; the gate then
    * reads BOTH stateful operators — the windowed-count aggregate
    * (operator 0: key = window, value = running count) and the dedup
    * store (operator 1: key = (window, uid), the exact analogue of the
    * reference's store) — and cross-checks them: per window, the agg
    * state's count AND the number of dedup state keys must both equal
    * the batch distinct count. Unlike the reference's hard-coded epoch
    * range (couples the dump to its 2016 sample), this reads whatever
    * the checkpoint holds. */
  private val stateStoreDump: Q = (s, dir) => {
    val ckpt = StreamGate.freshScratch("state_dump", dir)
    val frames = eventTimeUid(s.readStream
      .schema(eventsRawSchema)
      .parquet(s"$dir/events.parquet*"))
    val counts = UniqueUsersStream.uniquePerWindow(frames,
      window = "1 minute", watermark = None)
    StreamGate.run(s, "state_dump", counts, "complete",
      sink = _.format("memory").option("checkpointLocation", ckpt.toString))
    val agg = s.read.format("statestore")
      .option("operatorId", 0).load(ckpt.toString)
      .select(unix_timestamp(col("key.w.start")).as("minute"),
        col("value.count").as("unique_users"))
    val ded = s.read.format("statestore")
      .option("operatorId", 1).load(ckpt.toString)
      .groupBy(unix_timestamp(col("key.w.start")).as("minute"))
      .agg(count(lit(1)).as("uid_state_rows"))
    agg.join(ded, Seq("minute"))
  }

  private val stateStoreDumpSql =
    """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS uid_state_rows
      |FROM events GROUP BY 1""".stripMargin

  /** Stream-stream attribution join in the gate: views joined to
    * purchases of the same user within a 60-minute lookback, both sides
    * REAL file streams with watermarks and a time-bounded predicate (the
    * bound is what makes both sides' state evictable — SURVEY §2.3
    * stream-stream joins). Inner joins emit on match, so one micro-batch
    * suffices; the result must equal the batch self-join oracle. */
  private val streamingStreamJoin: Q = (s, dir) => {
    def side(tp: String) = s.readStream
      .schema(eventsRawSchema)
      .parquet(s"$dir/events.parquet*")
      .filter(col("event_type") === tp)
      .select(col("user_id").as("key"),
        graft.model.Schemas.tsFromMicros(col("ts")).as("t"),
        col("event_id").as("id"))
    val joined = graft.streaming.StreamJoins.withinLookback(
      side("view"), side("purchase"),
      watermark = "0 seconds", lookback = "60 minutes")
    s.table(StreamGate.run(s, "streaming_stream_join", joined, "append"))
      .select(col("key").as("user_id"),
        col("left_id").as("view_id"), col("right_id").as("purchase_id"),
        unix_timestamp(col("left_t")).as("view_ts"),
        unix_timestamp(col("right_t")).as("purchase_ts"))
  }

  // µs-truncated comparisons mirror Spark's TimestampType precision
  // (DuckDB reads the parquet ns timestamps losslessly)
  private val streamingStreamJoinSql =
    """WITH v AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |       CAST(epoch(date_trunc('second', v.ts)) AS BIGINT) AS view_ts,
      |       CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS purchase_ts
      |FROM v JOIN p ON v.user_id = p.user_id
      | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 60 MINUTE""".stripMargin

  /** LEFT OUTER stream-stream join — the semantics the inner gate can't
    * show: a view whose 60-minute match window closes unmatched is
    * emitted ONCE with null purchase columns when the purchase-side
    * watermark passes view_ts + 60 min (state-expiry null padding, the
    * streaming analogue of batch LEFT JOIN). Harness: real events first;
    * then one far-future sentinel row PER SIDE (event_type 'sentinel'
    * passes both side filters) advances both watermarks a day past the
    * data, expiring every pending view so all null rows flush; sentinel
    * keys are negative and filtered from the result. Oracle: the same
    * batch LEFT JOIN — matched multiplicity and null padding must agree
    * row-for-row. */
  private val streamingOuterJoin: Q = (s, dir) => {
    // batch 1: all real events; then the sentinel batch + expiry flush
    val feed = StreamGate.fixtureFeed(s, "souter", dir,
      sentinel(s, maxEventUs(s, dir), -1L, -2L))
    def side(tp: String) = feed.stream()
      .filter(col("event_type").isin(tp, "sentinel"))
      .select(col("user_id").as("key"),
        graft.model.Schemas.tsFromMicros(col("ts")).as("t"),
        col("event_id").as("id"))
    val joined = graft.streaming.StreamJoins.withinLookback(
      side("view"), side("purchase"),
      watermark = "0 seconds", lookback = "60 minutes",
      joinType = "left_outer")
    val sink = StreamGate.run(s, "streaming_outer_join", joined, "append",
      deliver = feed.deliveries)
    s.table(sink).filter(col("key") >= 0)
      .select(col("key").as("user_id"),
        col("left_id").as("view_id"), col("right_id").as("purchase_id"),
        unix_timestamp(col("left_t")).as("view_ts"),
        unix_timestamp(col("right_t")).as("purchase_ts"))
  }

  private val streamingOuterJoinSql =
    """WITH v AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |       CAST(epoch(date_trunc('second', v.ts)) AS BIGINT) AS view_ts,
      |       CAST(epoch(date_trunc('second', p.ts)) AS BIGINT) AS purchase_ts
      |FROM v LEFT JOIN p ON v.user_id = p.user_id
      | AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 60 MINUTE""".stripMargin

  /** The WATERMARK LATE-DATA POLICY made oracle-visible — the policy the
    * reference gets wrong (README.md:196 admits late frames land in
    * wrong windows; its extractor assigns malformed keys to the epoch
    * window). Harness: events split by minute — everything from the
    * 11th minute on is delivered first, and only after that batch (and
    * its watermark-commit no-data batch) completes is the first-ten-
    * minutes file written, so the late rows arrive under a watermark at
    * (global max event time − 1 min), thousands of minutes past their
    * windows, and the windowed aggregate must DROP every one. A final
    * far-future sentinel flushes append mode. Oracle: the batch
    * aggregate EXCLUDING the first ten minutes — a late row leaking in
    * (or a late-window resurrection) is a hash mismatch.
    *
    * The progressive delivery is essential, not convenience: late-record
    * filtering in a stateful operator uses the watermark ONE BATCH
    * BEHIND eviction (`eventTimeWatermarkForLateEvents`, the Spark 3.4+
    * chained-stateful-operator contract), so a late file processed
    * back-to-back after the on-time batch would still see wm = 0 and be
    * admitted — measured exactly that with pre-written files. */
  private val streamingLateDataDrop: Q = (s, dir) => {
    val events = s.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet")
    // minute-truncated epoch seconds of the raw epoch-micros ts column
    val minuteCol = unix_timestamp(date_trunc("minute",
      graft.model.Schemas.tsFromMicros(col("ts"))))
    val bounds = events.agg(
      min(minuteCol).as("m0"), max(col("ts")).as("maxUs")).head()
    val (m0, maxUs) = (bounds.getLong(0), bounds.getLong(1))
    // on-time batch + watermark-commit batch; then the late batch, every
    // row behind the watermark; then the sentinel, flushing every window
    val feed = StreamGate.feed(s, "streaming_late_drop", dir,
      events.filter(minuteCol >= m0 + 600),
      events.filter(minuteCol < m0 + 600), sentinel(s, maxUs, -1L))
    val counts = UniqueUsersStream.uniquePerWindow(eventTimeUid(feed.stream()),
      window = "1 minute", watermark = Some("1 minute"))
    val sink = StreamGate.run(s, "streaming_late_drop", counts, "append",
      deliver = feed.deliveries)
    s.table(sink)
      .filter(unix_timestamp(col("window_start")) <=
        Math.floorDiv(maxUs, 1000000L)) // sentinel's own window out
      .select(unix_timestamp(col("window_start")).as("minute"),
        col("unique_users"))
  }

  private val streamingLateDataDropSql =
    """WITH m0 AS (SELECT CAST(epoch(date_trunc('minute', min(ts))) AS BIGINT) AS m
      |            FROM events)
      |SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users
      |FROM events, m0
      |WHERE epoch(date_trunc('minute', ts)) >= m0.m + 600
      |GROUP BY 1""".stripMargin

  /** The reference's SINK EDGE (§2.1 #14–15): counts → (key, value)
    * Kafka records — key = window-start epoch seconds as STRING (the
    * reference's key shape, UniqueUsersApp.java:125–130), value = the
    * JSON metric (README.md:194 "Produce the metrics as json"). The
    * exact wire text is the contract, so the oracle rebuilds the same
    * strings character-for-character (to_json emits no whitespace,
    * struct field order). Only the broker handoff itself stays
    * environment-bound (no broker in the sandbox); the record
    * construction is now hash-gated. */
  private val kafkaSinkProjection: Q = (s, dir) => {
    val counts = eventTimeUid(
        s.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet"))
      .groupBy(window(col("eventTime"), "1 minute").as("w"))
      .agg(count_distinct(col("uid")).as("unique_users"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("unique_users"))
    UniqueUsersStream.toKafkaRecords(counts)
  }

  private val kafkaSinkProjectionSql =
    """SELECT CAST(CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS VARCHAR) AS key,
      |       '{"windowStart":' || CAST(epoch(date_trunc('minute', ts)) AS BIGINT)
      |         || ',"uniqueUsers":' || CAST(count(DISTINCT user_id) AS BIGINT)
      |         || '}' AS value
      |FROM events GROUP BY date_trunc('minute', ts)""".stripMargin

  /** `dropDuplicatesWithinWatermark` gated end-to-end — the canonical
    * Spark translation of the reference's dedup store (SURVEY §2.1 #7:
    * DeduplicateValueTransformer keeps a key in a windowed store and
    * drops re-deliveries while it lives). Harness: the full event set
    * arrives as micro-batch 1, then every third event is RE-DELIVERED in
    * a later micro-batch (at-least-once source semantics — the redelivery
    * file is written only after batch 1 commits, so the batch split is
    * delivery-ordered, not mtime-derived). The re-deliveries land within the
    * watermark (2-day delay ≫ the data's time span), so the operator
    * must drop every one of them: the appended output equals the batch
    * per-minute aggregate of the ORIGINAL set — event counts prove no
    * duplicate survived, distinct-user counts prove no original was lost
    * (event_id is unique in the source, making the oracle exact). */
  private val streamingDedupWithinWatermark: Q = (s, dir) => {
    val events = s.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet")
    // batch 1: the full original event set; batch 2: the re-deliveries,
    // all dropped. The gate only proves cross-batch dedup if the
    // re-delivery really arrives as a SECOND data micro-batch.
    val feed = StreamGate.fixtureFeed(s, "streaming_ddww", dir,
      events.filter(col("event_id") % 3 === 0))
    val deduped = feed.stream()
      .select(graft.model.Schemas.tsFromMicros(col("ts")).as("eventTime"),
        col("event_id"), col("user_id"))
      .withWatermark("eventTime", "2 days")
      .dropDuplicatesWithinWatermark("event_id")
    // FILE sink, not memory: append-mode dedup emits every surviving row,
    // so a memory sink is a DRIVER-scale relation — at the 1000× decade
    // (100 M events) one task's serialized result hit 1.68 GiB and killed
    // the query on spark.driver.maxResultSize. The parquet sink keeps the
    // deduped stream distributed; the verification aggregate then reads
    // the sink files batch-side. (Found by the r14 1000× campaign — the
    // operator was fine, the harness wasn't.)
    val sinkDir = feed.scratch.resolve("sink")
    StreamGate.run(s, "streaming_ddww", deduped, "append",
      sink = _.format("parquet").option("path", sinkDir.toString)
        .option("checkpointLocation", feed.scratch.resolve("ckpt").toString),
      deliver = feed.deliveries, dataBatches = 2)
    s.read.parquet(sinkDir.toString)
      .groupBy(unix_timestamp(date_trunc("minute", col("eventTime"))).as("minute"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
  }

  private val streamingDedupWithinWatermarkSql =
    """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY 1""".stripMargin

  /** `docs` with its shingle hashes `hs` and first-band key `band_key`
    * (a doc with no shingle has no key and is dropped) — the row-local
    * in-stream near-dedup kernels, shared by `streaming_near_dedup` and
    * `pipeline_streaming_ingest`. */
  private def withBandKey(docs: DataFrame): DataFrame =
    docs.withColumn("hs",
        graft.functions.TextFunctions.wordShingleHashes(col("text"), NdShingleN))
      .filter(size(col("hs")) > 0)
      .withColumn("band_key", element_at(
        graft.operators.DedupOps.bandKeys(col("hs"), NdNumHashes, NdBands), 1))

  /** One doc per band key, the min doc_id (deterministic, oracle-replayed). */
  private def canonicalPerBandKey(docs: DataFrame): DataFrame =
    withBandKey(docs)
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("band_key")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).select(col("doc_id"), col("text"))

  /** The near-dedup gates' feed (`streaming_near_dedup`'s harness): the
    * canonical originals, then every 3rd original re-ingested as a
    * near-dup under the SAME canonical-per-key prep.
    * The r11 form instead
    * REQUIRED planted new keys to be unique — true at gate SFs, but 9 of
    * 17001 planted keys collided on the 100× corpus (birthday pressure on
    * band-0 keys over the low-entropy fixture vocabulary) and the gate
    * refused to run; intra-batch collisions are prep concerns, not the
    * cross-batch state semantics under test. */
  private def nearDupFeed(s: SparkSession, dir: String,
      tag: String): StreamGate.Feed = {
    val docs = graft.sources.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
    val plant = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + NdPlantOffset).as("doc_id"),
        concat(col("text"), lit(NdPerturb)).as("text"))
    StreamGate.feed(s, tag, dir, canonicalPerBandKey(docs),
      canonicalPerBandKey(plant))
  }

  /** The in-stream near-dedup chain over `feed`'s docs: band key → event
    * time → watermark → `dropDuplicatesWithinWatermark` on the band key. */
  private def nearDedupStream(feed: StreamGate.Feed): DataFrame =
    withBandKey(feed.stream())
      // deterministic event time from the doc id; a planted doc (+1e6)
      // shares its original's event time, so redeliveries are never late.
      // +3 days keeps doc 0 off the epoch-0 boundary — the initial
      // watermark is 0, and an event AT the watermark is filtered as
      // late by the stateful-op late-record check (observed: doc 0
      // silently dropped without the offset)
      .withColumn("eventTime",
        timestamp_micros((col("doc_id") % NdPlantOffset + 259200L) * 1000000L))
      .withWatermark("eventTime", "2 days")
      .dropDuplicatesWithinWatermark("band_key")

  /** Streaming NEAR-duplicate dedup — the dedup library composed with the
    * streaming layer, the operator a streaming ingestion pipeline
    * actually runs: per-document MinHash band keys computed IN-STREAM by
    * the row-local codegen kernels (WordShingleHashes →
    * MinHashBandKeys — zero shuffle, zero state of their own), then
    * `dropDuplicatesWithinWatermark` on the first LSH band key, so any
    * document near-duplicating one seen within the watermark is dropped
    * while the state stays bounded (watermark-evicted). Single-band LSH
    * dedup is the aggressive streaming policy: docs agreeing on band 0
    * (4 of 16 min-hashes) are treated as duplicates.
    *
    * Harness (doc-level deterministic by construction):
    *  - batch 1 = the CANONICAL originals — one doc (min doc_id) per
    *    band key; the fixture contains natural band collisions (real
    *    near-dups), and which of an INTRA-batch colliding set survives
    *    `dropDuplicates` is arrival-order-dependent, so the canonical
    *    selection happens in the (deterministic, oracle-replayed) batch
    *    prep instead — exactly the pre-deduped-history + new-arrivals
    *    shape a production stream has;
    *  - batch 2 (delivered only after batch 1 commits) = every 3rd
    *    original re-ingested as a NEAR-dup: new id (+1e6), text
    *    perturbed by an appended token. Most collide with batch-1 state
    *    on band 0 and must be dropped; the perturbation occasionally
    *    shifts band 0, and those genuinely-new keys must be KEPT — the
    *    oracle recomputes which is which. Batch 2 gets the same
    *    canonical-per-key prep as batch 1 (min doc_id per band key):
    *    planted keys COLLIDE at scale (9/17001 on the 100× corpus) and
    *    an undeduped batch would make the in-stream survivor
    *    arrival-order-dependent (doc-level determinism).
    * Oracle: the same shingle→minhash→band-0 pipeline as CTEs over the
    * union corpus (the minhash_lsh_pairs arithmetic-band-key contract).
    * Output: every kept (doc_id, band_key) — 478 + 16 rows at sf0.01. */
  private val streamingNearDedup: Q = (s, dir) => {
    val feed = nearDupFeed(s, dir, "streaming_near_dedup")
    val deduped = nearDedupStream(feed).select(col("doc_id"), col("band_key"))
    // batch 1: canonical originals, all kept; batch 2: near-dups dropped,
    // new keys kept — and it must arrive as its own micro-batch
    s.table(StreamGate.run(s, "streaming_near_dedup", deduped, "append",
      deliver = feed.deliveries, dataBatches = 2))
  }

  private val NdShingleN = 3
  private val NdNumHashes = 16
  private val NdBands = 4
  private val NdPlantOffset = 1000000L
  private val NdPerturb = " graftdup"

  /** The near-dedup oracles' shared CTE chain: the shingle → minhash →
    * band-0 pipeline over the union corpus, then the canonical originals
    * (`orig_canon`) and the planted near-dups (`plant`). */
  private lazy val nearDedupCtes = {
    val rowsPerBand = NdNumHashes / NdBands
    // band 0 needs only the first rowsPerBand minima; its key is the
    // MinHashBandKeys fold, the same oracle form as minhash_lsh_pairs'
    val mins = TextQueries.minHashColsSql(rowsPerBand, "g", indent = 7)
    val fold = TextQueries.bandKeySql(0, rowsPerBand)
    s"""WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $NdPlantOffset, text || '$NdPerturb' FROM documents
      |  WHERE doc_id % 3 = 0),
      |${TextQueries.wordShingleCtes("docs2", NdShingleN)},
      |${TextQueries.hashedShingleDt},
      |sig AS MATERIALIZED (SELECT doc_id, $mins
      |        FROM dt GROUP BY doc_id),
      |key0 AS (SELECT doc_id, $fold AS band_key FROM sig),
      |-- originals classified by MEMBERSHIP in documents, not by an id
      |-- threshold: scaled corpora (ScaleGen) shift replica doc ids far
      |-- past the +$NdPlantOffset plant offset, so an id comparison
      |-- silently misclassifies replica originals as planted (found by
      |-- the 10x full-registry oracle run)
      |orig AS (SELECT * FROM key0
      |         WHERE doc_id IN (SELECT doc_id FROM documents)),
      |orig_canon AS (SELECT min(doc_id) AS doc_id, band_key
      |               FROM orig GROUP BY band_key),
      |plant AS (SELECT * FROM key0
      |          WHERE doc_id NOT IN (SELECT doc_id FROM documents))""".stripMargin
  }

  private lazy val streamingNearDedupSql = nearDedupCtes + "\n" +
    """|SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |       CAST(band_key AS BIGINT) AS band_key
      |FROM orig_canon
      |UNION ALL
      |-- min per key, mirroring the batch-2 canonical prep: planted
      |-- band keys collide at scale (9/17001 at 100×)
      |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
      |       CAST(band_key AS BIGINT) AS band_key
      |FROM plant
      |WHERE band_key NOT IN (SELECT band_key FROM orig_canon)
      |GROUP BY band_key""".stripMargin

  // ── stream-static enrichment join ──────────────────────────────────────
  // The most common production streaming pattern: a stream joined against
  // a STATIC dimension (here a literal event-type → category/weight dim,
  // broadcast — re-evaluated per micro-batch, no state store involved),
  // then a running aggregate per enriched category. The weighted sum uses
  // the order-free fixed-point convention (value rounded to 1e-4 longs
  // before the weight multiply and sum), so complete-mode re-emission and
  // the batch oracle agree bit-for-bit — the parity statement: streaming
  // enrichment ≡ the same join in batch.
  private val streamingStaticJoin: Q = (s, dir) => {
    val dim = {
      import s.implicits._
      Seq(("view", "engagement", 1L), ("click", "engagement", 2L),
        ("signup", "conversion", 10L), ("purchase", "conversion", 25L),
        ("error", "ops", 0L)).toDF("event_type", "category", "weight")
    }
    val stream = s.readStream.schema(eventsRawSchema)
      .parquet(s"$dir/events.parquet*")
      .select(col("event_type"), col("user_id"), col("value"))
    val agg = stream.join(broadcast(dim), "event_type")
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * lit(1e4)).cast("long") * col("weight")) /
          lit(1e4)).as("weighted_value"))
    s.table(StreamGate.run(s, "streaming_static_join", agg, "complete"))
      .select(col("category"), col("n_events"), col("weighted_value"))
  }

  private val streamingStaticJoinSql =
    """WITH dim(event_type, category, weight) AS (VALUES
      |  ('view', 'engagement', 1), ('click', 'engagement', 2),
      |  ('signup', 'conversion', 10), ('purchase', 'conversion', 25),
      |  ('error', 'ops', 0))
      |SELECT d.category,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(SUM(CAST(round(e.value*10000.0) AS BIGINT) * d.weight) AS BIGINT)
      |         / 10000.0 AS weighted_value
      |FROM events e JOIN dim d USING (event_type)
      |GROUP BY 1""".stripMargin

  /** The time-split feed of the versioned-state gates: the fixture's
    * `cols` split at the timeline midpoint, the early half as batch 1 and
    * the late half as the one later delivery. */
  private def midpointSplit(s: SparkSession, dir: String, tag: String,
      cols: String*): StreamGate.Feed = {
    val evAll = s.read.schema(eventsRawSchema)
      .parquet(s"$dir/events.parquet")
      .select(cols.map(col): _*)
    // `div` (integer division), not `/`: Spark's `/` on longs is DOUBLE
    // division, which only matched the oracle's integer `//` because
    // epoch-µs values happen to be exactly double-representable
    val mid = evAll.agg(
      expr("min(ts) + (max(ts) - min(ts)) div 2").cast("long").as("t"))
      .head().getLong(0)
    StreamGate.feed(s, tag, dir, evAll.filter(col("ts") <= mid),
      evAll.filter(col("ts") > mid))
  }

  /** foreachBatch idempotent upsert sink — the production "MERGE INTO
    * keyed table" pattern (the Delta-merge shape without a table format):
    * each micro-batch merges into the persisted state table keeping the
    * (ts, event_id)-max row per key, and writes the result to a NEW
    * versioned directory — a reader never
    * observes a half-written table, and replaying batch k deterministically
    * rewrites v_k from v_{k-1} (idempotent recovery, the reason production
    * sinks version or MERGE rather than append). Two micro-batches split
    * at the timeline midpoint (progressive delivery — the second batch
    * UPDATES most keys, not just inserts). Scale shape: per-batch work is
    * batch-sized + one key-cardinality window over the state table; at
    * cluster scale the same code targets a partitioned table where only
    * touched partitions rewrite. Final table ≡ the batch
    * last-event-per-user query — the parity statement (same oracle). */
  private val streamingUpsertSink: Q = (s, dir) => {
    val feed = midpointSplit(s, dir, "upsert", "user_id", "event_id", "ts")
    val frames = feed.stream()
    val Seq(st) = StreamGate.versioned(s, "streaming_upsert_sink", frames,
        feed, merges = 2, "state" -> StreamGate.empty(s, frames.schema)) {
      (df, cur) =>
      Seq(UpsertSink.mergeLatest(Some(cur.head), df,
        "user_id", "ts", "event_id"))
    }
    st.select(
      col("user_id"), col("event_id").as("last_event_id"),
      expr("ts div 1000000").as("last_ts"))
  }

  /** Streaming CDC apply — `streaming_upsert_sink`'s changelog-consuming
    * counterpart with DELETE TOMBSTONES, and the streaming half of the
    * batch `cdc_apply` gate: it runs the SAME DuckDB oracle verbatim, so
    * the parity statement is "a changelog consumed incrementally through
    * the versioned sink lands on exactly the state the one-shot batch
    * apply computes".
    *
    * Shape: the base snapshot (latest row ≤ the integer-µs midpoint per
    * key, via the same `mergeLatest` algebra) seeds state v0; the
    * post-midpoint changelog — `error` events as `'D'` tombstones,
    * everything else `'U'` — arrives in TWO micro-batches split at the
    * 3/4 point; a THIRD micro-batch replays the second verbatim. The
    * oracle passing therefore proves replay idempotence live, and
    * tombstone RETENTION (UpsertSink.readView scaladoc) is what makes
    * that safe: merge keeps `'D'` rows as state so no stale upsert can
    * outrank a deletion; readers drop them at view time. Scale shape:
    * per batch one window over (batch ∪ state-candidates) on the key —
    * cost ∝ batch + touched keys, exactly `cdc_apply`'s claim, paid
    * incrementally. */
  private val streamingCdcUpsert: Q = (s, dir) => {
    val evAll = s.read.schema(eventsRawSchema)
      .parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type").as("state"),
        round(col("value") * 100).cast("long").as("value_fp"))
    // one bounds pass: t2 derives from (t1, max) arithmetically, so the
    // second full scan + head() job the old two-agg form paid is free
    val bounds = evAll.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .head()
    val (mnUs, mxUs) = (bounds.getLong(0), bounds.getLong(1))
    val t1 = mnUs + (mxUs - mnUs) / 2
    val t2 = t1 + (mxUs - t1) / 2

    val v0 = UpsertSink.mergeLatest(
        None, evAll.filter(col("ts") <= t1), "user_id", "ts", "event_id")
      .withColumn("op", lit("U"))

    val changelog = evAll.filter(col("ts") > t1)
      .withColumn("op",
        when(col("state") === "error", "D").otherwise("U"))
    val tail = changelog.filter(col("ts") > t2)
    // 2 batches + 1 verbatim replay of the second
    val feed = StreamGate.feed(s, "cdc_upsert", dir,
      changelog.filter(col("ts") <= t2), tail, tail)
    val Seq(st) = StreamGate.versioned(s, "streaming_cdc_upsert",
        feed.stream(), feed, merges = 3, "state" -> v0) { (df, cur) =>
      Seq(UpsertSink.mergeLatest(Some(cur.head), df,
        "user_id", "ts", "event_id"))
    }
    UpsertSink.readView(st)
      .select(col("user_id"), col("state"), col("value_fp"))
  }

  /** The full streaming INGESTION path as ONE gated query — the second
    * end-to-end composition gate, at the streaming boundary (the batch
    * `pipeline_end_to_end` gate's counterpart): file-stream ingestion →
    * in-stream near-dedup (the `streaming_near_dedup` machinery:
    * row-local codegen'd MinHash band keys +
    * `dropDuplicatesWithinWatermark` on the first band, watermark-evicted
    * state) → row-local quality filter (non-empty token count ≥
    * `PsiMinTokens` — filtering AFTER dedup so a junk near-dup still
    * counts as a duplicate, the published-pipeline ordering) → foreachBatch
    * versioned upsert sink (`UpsertSink.mergeLatest` keyed on the band
    * key — a reader never observes a half-written table, replay rewrites
    * v_k from v_{k-1}). Two micro-batches: canonical originals, then
    * every-3rd-doc near-dup redeliveries (new ids, perturbed text) of
    * which only genuinely-new band keys may survive.
    *
    * Parity statement (same shape the flagship makes): the final merged
    * state table ≡ the equivalent BATCH chain — union corpus → band keys
    * → canonical-per-key ∪ new-key arrivals → quality filter — which is
    * exactly what the DuckDB oracle computes. Scale shape: every stage is
    * the gated operator's own shape (bounded dedup state, row-local
    * kernels, key-cardinality merges); nothing new materializes at
    * corpus scale. */
  private val pipelineStreamingIngest: Q = (s, dir) => {
    // batch 1: canonical originals; batch 2: near-dups dropped, new keys kept
    val feed = nearDupFeed(s, dir, "pipeline_streaming_ingest")
    val ingested = nearDedupStream(feed)
      .withColumn("n_tokens",
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
      .filter(col("n_tokens") >= PsiMinTokens)
      .select(col("doc_id"), col("band_key"), col("n_tokens"))
    val Seq(st) = StreamGate.versioned(s, "pipeline_streaming_ingest",
        ingested, feed, merges = 2,
        "psi_state" -> StreamGate.empty(s, ingested.schema)) { (df, cur) =>
      // post-dedup band keys are unique across batches, so the merge
      // is insert-shaped by construction — the versioned MERGE
      // plumbing (atomic new dir, idempotent replay) is what's under
      // test, with doc_id recency as the general contract
      Seq(UpsertSink.mergeLatest(Some(cur.head), df,
        "band_key", "doc_id", "n_tokens"))
    }
    st.select(col("doc_id"), col("band_key"), col("n_tokens"))
  }

  private val PsiMinTokens = 30L

  // the streaming_near_dedup oracle chain + the post-dedup quality
  // filter — the batch chain the parity statement names
  private lazy val pipelineStreamingIngestSql = nearDedupCtes + ",\n" +
    s"""|kept AS (SELECT doc_id, band_key FROM orig_canon
      |         UNION ALL
      |         -- min per key ≙ the batch-2 canonical prep (planted band
      |         -- keys collide at scale: 9/17001 at 100×)
      |         SELECT min(doc_id) AS doc_id, band_key FROM plant
      |         WHERE band_key NOT IN (SELECT band_key FROM orig_canon)
      |         GROUP BY band_key),
      |ntok AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1)
      |SELECT CAST(k.doc_id AS BIGINT) AS doc_id,
      |       CAST(k.band_key AS BIGINT) AS band_key,
      |       CAST(n.n_tokens AS BIGINT) AS n_tokens
      |FROM kept k JOIN ntok n ON n.doc_id = k.doc_id
      |WHERE n.n_tokens >= $PsiMinTokens""".stripMargin

  /** Streaming ordered funnel — `funnel_conversion`'s incremental half,
    * run through the versioned foreachBatch state sink and gated against
    * the batch funnel oracle VERBATIM (the `streaming_cdc_upsert`
    * pattern): per-user funnel state (t1, t2, t3) merges with each
    * micro-batch in one pass — the batch's events collect per user, join
    * the state once, and continue the state's funnel walk
    * (`SessionFunnelState.funnelWalk`, keyed by user instead of session).
    * So view→click inside one batch converts, and a click delivered
    * before any view can never convert — order semantics preserved
    * incrementally; batches are time-split, so a later batch can only
    * APPEND to the timeline, which is what makes the walk mergeable. Per
    * batch: one batch-sized aggregate + one key-cardinality join against
    * state — cost ∝ batch + touched users, never a history re-scan. */
  private val streamingFunnel: Q = (s, dir) => {
    val feed = midpointSplit(s, dir, "sfunnel",
      "user_id", "event_id", "ts", "event_type")
    val empty = StreamGate.empty(s, StructType(Seq("user_id", "t1", "t2", "t3")
      .map(StructField(_, LongType))))
    val Seq(st) = StreamGate.versioned(s, "streaming_funnel", feed.stream(),
        feed, merges = 2, "state" -> empty) { (df, cur) =>
      import graft.streaming.SessionFunnelState.{funnelWalk, walkEvents}
      // a user with no view yet holds no funnel state
      Seq(cur.head.join(df.groupBy(col("user_id"))
          .agg(walkEvents(col("ts")).as("evs")), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          funnelWalk(col("evs"), col("t1"), col("t2"), col("t3")).as("w"))
        .select(col("user_id"), col("w.*"))
        .filter(col("t1").isNotNull))
    }
    st.agg(count(col("t1")).as("users"), lit(0L).as("sum_lag_us"))
      .select(lit("1_view").as("step"), col("users"), col("sum_lag_us"))
      .unionByName(st.filter(col("t2").isNotNull)
        .agg(count(lit(1)).as("users"),
          sum(col("t2") - col("t1")).as("sum_lag_us"))
        .select(lit("2_click").as("step"), col("users"), col("sum_lag_us")))
      .unionByName(st.filter(col("t3").isNotNull)
        .agg(count(lit(1)).as("users"),
          sum(col("t3") - col("t2")).as("sum_lag_us"))
        .select(lit("3_purchase").as("step"), col("users"),
          col("sum_lag_us")))
  }

  /** Streaming sessionize→funnel — `pipeline_sessions_funnel`'s
    * incremental half, gated against the batch composition oracle
    * VERBATIM (the `streaming_funnel` contract, lifted from per-user to
    * per-(user, session) keys). Two state relations version through the
    * foreachBatch sink: per-USER sessionizer state (last event time,
    * last session index, first-seen time for the cohort) and
    * per-(user, session) funnel state (n_events, t1, t2, t3). Each
    * micro-batch sessionizes ITS OWN rows with one per-user window whose
    * first-row gap tests against the state's last_us (so a session open
    * at the batch boundary continues, and a > 30 min boundary gap opens
    * session last_sidx + 1); batches are time-split, so a later batch
    * only ever APPENDS to each user's timeline — the recurrence that
    * makes both the sessionizer and the in-session funnel walk
    * mergeable (each key's batch events continue the walk from the
    * state's step times — the `streaming_funnel` order argument, per
    * session key). Per batch, one pass (SessionFunnelState.mergeBatch):
    * one batch-sized window, one (user, session) aggregate, and one
    * key-cardinality join per state relation; the final cohort rollup
    * reads state relations only. */
  private val streamingSessionsFunnel: Q = (s, dir) => {
    import graft.streaming.SessionFunnelState
    val feed = midpointSplit(s, dir, "ssessfunnel",
      "user_id", "event_id", "ts", "event_type")
    // the two state writes run concurrently (StreamGate.versioned)
    val Seq(user, sess) = StreamGate.versioned(s, "streaming_sessions_funnel",
        feed.stream(), feed, merges = 2,
        "user" -> SessionFunnelState.emptyUser(s),
        "sess" -> SessionFunnelState.emptySess(s)) { (df, cur) =>
      // the merge recurrence lives in SessionFunnelState so the
      // batch-boundary invariance claim is property-tested against
      // the SAME code this gate runs (EngineProperties re-splits
      // the stream at random quantiles)
      val (u1, s3) = SessionFunnelState.mergeBatch(df, cur(0), cur(1))
      Seq(u1, s3)
    }
    // cohort rollup over state relations only (user- and session-sized)
    val cohort = user
      .select(col("user_id"),
        expr("first_us div 604800000000").as("cohort_week"))
    sess.join(cohort, "user_id")
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("n_conv"))
      .withColumn("conv_fp", expr("1000000 * n_conv div n_sessions"))
  }

  val all: Map[String, Q] = Map(
    "streaming_funnel" -> streamingFunnel,
    "streaming_sessions_funnel" -> streamingSessionsFunnel,
    "pipeline_streaming_ingest" -> pipelineStreamingIngest,
    "streaming_upsert_sink" -> streamingUpsertSink,
    "streaming_cdc_upsert" -> streamingCdcUpsert,
    "streaming_static_join" -> streamingStaticJoin,
    "streaming_near_dedup" -> streamingNearDedup,
    "streaming_dedup_within_watermark" -> streamingDedupWithinWatermark,
    "streaming_unique_users" -> streamingUniqueUsers,
    "streaming_unique_users_append" -> streamingUniqueUsersAppend,
    "streaming_update_changelog" -> streamingUpdateChangelog,
    "streaming_running_distinct" -> streamingRunningDistinct,
    "streaming_late_data_drop" -> streamingLateDataDrop,
    "streaming_sessions" -> streamingSessions,
    "streaming_stream_join" -> streamingStreamJoin,
    "streaming_outer_join" -> streamingOuterJoin,
    "kafka_sink_projection" -> kafkaSinkProjection,
    "state_store_dump" -> stateStoreDump
  ).map { case (n, f) => n -> isolated(f) }

  val oracles: Map[String, String] = Map(
    // incremental funnel state ≡ the batch ordered funnel — same oracle,
    // verbatim: the streaming-equals-batch parity statement
    "streaming_funnel" -> AnalyticsQueries.oracles("funnel_conversion"),
    // the batch composition oracle VERBATIM — streaming ≡ batch
    "streaming_sessions_funnel" ->
      AnalyticsQueries.oracles("pipeline_sessions_funnel"),
    // the merged upsert table ≡ the batch last-event query — parity
    "streaming_upsert_sink" ->
      """SELECT user_id, event_id AS last_event_id,
        |       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS last_ts
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id
        |        ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,
    // streaming changelog apply ≡ the batch cdc_apply — same oracle,
    // verbatim; passing it across the replayed batch proves idempotence
    "streaming_cdc_upsert" -> MaintenanceQueries.cdcApplySql,
    // state-expiry null padding ≡ the batch LEFT JOIN — parity
    "streaming_outer_join" -> streamingOuterJoinSql,
    // streaming enrichment ≡ the same join in batch — a parity statement
    "streaming_static_join" -> streamingStaticJoinSql,
    "streaming_near_dedup" -> streamingNearDedupSql,
    // the merged ingest state ≡ the batch dedup→quality chain — parity
    "pipeline_streaming_ingest" -> pipelineStreamingIngestSql,
    "streaming_dedup_within_watermark" -> streamingDedupWithinWatermarkSql,
    "streaming_unique_users" -> streamingUniqueUsersSql,
    "streaming_unique_users_append" -> streamingUniqueUsersSql,
    "streaming_update_changelog" -> streamingUpdateChangelogSql,
    "streaming_running_distinct" -> streamingUniqueUsersSql,
    "streaming_late_data_drop" -> streamingLateDataDropSql,
    // same oracle as the batch session query — THE parity statement
    "streaming_sessions" -> EventQueries.sessionWindowStatsSql,
    "streaming_stream_join" -> streamingStreamJoinSql,
    "kafka_sink_projection" -> kafkaSinkProjectionSql,
    "state_store_dump" -> stateStoreDumpSql)
}
