package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.LogFrame
import graft.streaming.{LogFrames, StatefulDedup, UniqueUsersStream}

/** Streaming semantics against controllable MemoryStream input: the
  * reference probe (FIXTURES.md §3), append-mode window closing (what the
  * reference's `suppress` failed to do), update-mode running counts (what
  * the reference actually emitted), watermark late-data drop (the
  * reference's known bug, README.md:196), and batch/stream parity on
  * seeded random data.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def framesDF(mem: MemoryStream[LogFrame]): DataFrame =
    mem.toDF().select(timestamp_seconds($"ts").as("eventTime"), $"uid")

  private def runAppend(mem: MemoryStream[LogFrame], sink: String): Unit = {
    val counts = UniqueUsersStream.uniquePerWindow(framesDF(mem),
      window = "1 minute", watermark = Some("1 minute"))
    val q = counts.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
  }

  private def probe: Seq[LogFrame] =
    (0 until 20).map(i => LogFrame(1468244340L + 10L * i, (i + 1).toString))

  private def collectCounts(sink: String): Map[Long, Long] =
    spark.table(sink)
      .select(unix_timestamp($"window_start").as("m"), $"unique_users")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("append mode emits one final count per closed window (reference probe)") {
    val mem = MemoryStream[LogFrame]
    mem.addData(probe: _*)
    // sentinel far in the future advances the watermark and closes all
    // probe windows; its own window stays open and is never emitted
    mem.addData(LogFrame(1468250000L, "sentinel"))
    runAppend(mem, "append_probe")
    assert(collectCounts("append_probe") ==
      Map(1468244340L -> 6L, 1468244400L -> 6L, 1468244460L -> 6L, 1468244520L -> 2L))
  }

  test("watermark drops late data — the reference's retention bug, fixed") {
    val mem = MemoryStream[LogFrame]
    val counts = UniqueUsersStream.uniquePerWindow(framesDF(mem),
      window = "1 minute", watermark = Some("1 minute"))
    val q = counts.writeStream.format("memory").queryName("late_probe")
      .outputMode("append").start()
    try {
      // distinct micro-batches: the watermark only advances at batch
      // boundaries, so the late rows must arrive in a LATER trigger than
      // the sentinel that moves the watermark past their window
      mem.addData(probe: _*)
      q.processAllAvailable()
      mem.addData(LogFrame(1468250000L, "sentinel"))
      q.processAllAvailable()
      // a late duplicate AND a late new uid for an already-closed window:
      // the reference would re-count both (README.md:196); we must drop them
      mem.addData(LogFrame(1468244345L, "1"), LogFrame(1468244345L, "999"))
      q.processAllAvailable()
    } finally q.stop()
    assert(collectCounts("late_probe") ==
      Map(1468244340L -> 6L, 1468244400L -> 6L, 1468244460L -> 6L, 1468244520L -> 2L))
  }

  test("update mode emits running counts (the reference's observed behavior)") {
    val mem = MemoryStream[LogFrame]
    val counts = UniqueUsersStream.uniquePerWindow(framesDF(mem),
      window = "1 minute", watermark = Some("1 minute"))
    val q = counts.writeStream.format("memory").queryName("update_probe")
      .outputMode("update").start()
    try {
      mem.addData(LogFrame(1468244340L, "a"), LogFrame(1468244341L, "b"))
      q.processAllAvailable()
      mem.addData(LogFrame(1468244342L, "c"), LogFrame(1468244342L, "a"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("update_probe")
      .select(unix_timestamp($"window_start").as("m"), $"unique_users")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // two triggers → two emissions for the same window: 2 then 3 (dup 'a'
    // ignored) — the "different stages of aggregation" the reference's
    // README documents as its observed output (README.md:133–136)
    assert(rows.count(_._1 == 1468244340L) == 2)
    assert(rows.contains((1468244340L, 2L)) && rows.contains((1468244340L, 3L)))
  }

  test("duplicates across micro-batches are deduped within the window") {
    val mem = MemoryStream[LogFrame]
    mem.addData(LogFrame(1468244340L, "x"), LogFrame(1468244350L, "x"))
    mem.addData(LogFrame(1468244355L, "x"), LogFrame(1468244399L, "x"))
    mem.addData(LogFrame(1468250000L, "sentinel"))
    runAppend(mem, "dup_probe")
    assert(collectCounts("dup_probe") == Map(1468244340L -> 1L))
  }

  test("batch/stream parity on seeded random frames") {
    val rnd = new scala.util.Random(42)
    val frames = (0 until 2000).map { _ =>
      LogFrame(1468244340L + rnd.nextInt(600), s"u${rnd.nextInt(300)}")
    }
    val mem = MemoryStream[LogFrame]
    frames.grouped(500).foreach(b => mem.addData(b: _*))
    mem.addData(LogFrame(1468250000L, "sentinel"))
    runAppend(mem, "parity_probe")
    val streamed = collectCounts("parity_probe")

    val batch = graft.operators.UniqueUsers.perMinute(
        frames.toDF().select(timestamp_seconds($"ts").as("t"), $"uid"),
        $"t", $"uid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("corrupt and empty-uid frames are rejected, valid ones parsed") {
    val raw = Seq(
      """{"ts":1468244340,"uid":"good","extra":1}""",
      """{"ts":1468244341,"uid":""}""",
      """not json at all""",
      """{"uid":"no-ts"}""",
      """{"ts":1468244342}""",
      """{"ts":9300000000000000,"uid":"a"}""").toDF("value")
    val parsed = LogFrames.valid(LogFrames.parse(raw, $"value")).collect()
    assert(parsed.length == 1 && parsed(0).getString(1) == "good")
  }

  test("stateful first-seen dedup emits one row per (bucket, uid)") {
    val mem = MemoryStream[StatefulDedup.Keyed]
    mem.addData(
      StatefulDedup.Keyed(1468244340L, "a", 1468244340000L),
      StatefulDedup.Keyed(1468244340L, "a", 1468244350000L),
      StatefulDedup.Keyed(1468244340L, "b", 1468244351000L))
    mem.addData(StatefulDedup.Keyed(1468244340L, "a", 1468244355000L),
      StatefulDedup.Keyed(1468244400L, "a", 1468244400000L))
    val ds = mem.toDS()
      .withColumn("eventTime", timestamp_millis($"eventTimeMs"))
      .withWatermark("eventTime", "1 minute")
      .as[StatefulDedup.Keyed]
    val out = StatefulDedup.firstSeen(ds, retentionSec = 120L)
    val q = out.toDF().writeStream.format("memory").queryName("sfd_probe")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("sfd_probe")
      .select($"bucket", $"uid").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1468244340L, "a"), (1468244340L, "b"), (1468244400L, "a")))
  }

  test("stateful dedup drops late rows for expired buckets without storing state") {
    val mem = MemoryStream[StatefulDedup.Keyed]
    val ds = mem.toDS()
      .withColumn("eventTime", timestamp_millis($"eventTimeMs"))
      .withWatermark("eventTime", "1 minute")
      .as[StatefulDedup.Keyed]
    val out = StatefulDedup.firstSeen(ds, retentionSec = 120L)
    val q = out.toDF().writeStream.format("memory").queryName("sfd_late_probe")
      .outputMode("append").start()
    try {
      mem.addData(StatefulDedup.Keyed(1468244340L, "a", 1468244340000L))
      q.processAllAvailable()
      // push the watermark far past bucket+retention
      mem.addData(StatefulDedup.Keyed(1468250000L, "w", 1468250000000L))
      q.processAllAvailable()
      // a first-seen (bucket, uid) arriving AFTER its bucket expired:
      // must be dropped, not emitted (and must not leak timeout-less state)
      mem.addData(StatefulDedup.Keyed(1468244340L, "late", 1468244341000L))
      q.processAllAvailable()
    } finally q.stop()
    val uids = spark.table("sfd_late_probe").select($"uid").as[String].collect().toSet
    assert(uids == Set("a", "w"))
  }

  test("kafka sink records round-trip through the declared JSON shape") {
    val counts = Seq((new java.sql.Timestamp(1468244340000L),
      new java.sql.Timestamp(1468244400000L), 42L))
      .toDF("window_start", "window_end", "unique_users")
    val rec = graft.streaming.UniqueUsersStream.toKafkaRecords(counts).head()
    assert(rec.getString(0) == "1468244340") // key = epoch-seconds string
    val parsed = Seq(rec.getString(1)).toDF("value")
      .select(from_json($"value",
        org.apache.spark.sql.types.StructType.fromDDL(
          "windowStart LONG, uniqueUsers LONG")).as("m"))
      .select($"m.windowStart", $"m.uniqueUsers").head()
    assert(parsed.getLong(0) == 1468244340L && parsed.getLong(1) == 42L)
  }

  test("streaming_unique_users verify-query matches the batch flagship") {
    val streamed = Queries.all("streaming_unique_users")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Queries.all("unique_users_per_minute")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch flagship counts user_id as long; streaming casts to string —
    // counts are equal regardless
    assert(streamed == batch)
  }

  test("streaming_sessions_funnel ≡ batch composition, incl. boundary sessions") {
    def rows(name: String, dir: String) =
      Queries.all(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    // fixture parity at sf0.001 (the driver gates vs the oracle; this
    // pins streaming ≡ batch inside one engine too)
    assert(rows("streaming_sessions_funnel", sf001) ==
      rows("pipeline_sessions_funnel", sf001))

    // synthetic corpus engineered so the time-split lands INSIDE an open
    // session: the funnel must convert across the batch boundary, and a
    // > 30 min gap straddling the boundary must open a new session.
    // mid = (0 + 2400e6) / 2 = 1200e6: u1's purchase (1300e6) arrives in
    // batch 2 for the session opened in batch 1.
    val min30 = 1800000000L
    val ev = Seq(
      // u1: view → click (batch 1) → purchase (batch 2), gaps < 30 min:
      // ONE session, converted across the boundary
      (1L, 0L, 1L, "view"), (2L, 600000000L, 1L, "click"),
      (3L, 1300000000L, 1L, "purchase"),
      // u2: two events 40 min apart → split lands between them AND the
      // gap exceeds 30 min: second event opens session 1 in batch 2
      (4L, 0L, 2L, "view"), (5L, 2400000000L, 2L, "view"),
      // u3: click then a 33-min-later view — new session in batch 2,
      // and the click-before-view must never convert
      (6L, 0L, 3L, "click"), (7L, 2000000000L, 3L, "view"))
    val dir = java.nio.file.Files.createTempDirectory("ssf_spec").toString
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
        ev.map(e => org.apache.spark.sql.Row(e._1, e._2, e._3, e._4, 0.0, "{}"))
          .asJava,
      graft.model.Schemas.eventsRawMicros)
      .withColumn("ts", expr("timestamp_micros(ts)"))
    val tsConf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(tsConf)
    spark.conf.set(tsConf, "TIMESTAMP_MICROS")
    try df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    finally spark.conf.set(tsConf, prev)
    val streamed = rows("streaming_sessions_funnel", dir)
    assert(streamed == rows("pipeline_sessions_funnel", dir))
    // hand-computed: 5 sessions (u1: 1, u2: 2, u3: 2), 1 converted,
    // all in cohort week 0 → conv_fp = 1e6 * 1 div 5
    assert(streamed == Set((0L, 5L, 1L, 200000L)), streamed)
    assert(ev.map(_._2).max - ev.map(_._2).min > min30,
      "fixture must span more than one session gap or the test is vacuous")
  }
  test("sentinel-flush harness stages multi-part parquet dirs (ScaleGen layout)") {
    // Driver testdata ships events.parquet as ONE file; ScaleGen corpora
    // (every scale probe's input) write a multi-part DIRECTORY. The
    // sentinel-flush gates must stage either layout — a single Files.copy
    // silently produced an EMPTY first batch on the directory layout
    // (found by the 10x streaming probe; StreamGate.fixtureFeed is the fix).
    val dir = java.nio.file.Files.createTempDirectory("graft_dirfx_").toString
    val tsConf = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(tsConf)
    spark.conf.set(tsConf, "TIMESTAMP_MICROS")
    try graft.sources.Tables.events(spark, sf001).repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    finally spark.conf.set(tsConf, prev)
    val fx = new java.io.File(s"$dir/events.parquet")
    assert(fx.isDirectory &&
      fx.listFiles().count(_.getName.endsWith(".parquet")) >= 3,
      "fixture must be a multi-part parquet directory or the test is vacuous")
    val streamed = Queries.all("streaming_unique_users_append")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.sources.Tables.events(spark, sf001)
      .groupBy(unix_timestamp(date_trunc("minute", col("ts"))).as("minute"))
      .agg(count_distinct(col("user_id")).as("unique_users"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }
}
