package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.LogFrameDecode
import graft.model.Schemas

/** JSON log-frame ingestion: raw (key, value) records → typed
  * (eventTime, uid) frames, with explicit reject policy.
  *
  * Reference equivalents: ad-hoc json-simple parsing returning "" on
  * failure (UniqueUsersApp.java:206–216), the empty-uid filter (:114), and
  * the timestamp extractor that silently maps malformed keys to the
  * epoch-0 window (LogFrameTimestampExtractor.java:11–12). Here the schema
  * is declared once, corrupt rows become nulls (`from_json` permissive
  * mode), and rejects are *dropped and counted* — never epoch-0-bucketed
  * (FIXTURES.md §1 engine policy).
  *
  * The decode has two paths and one result:
  *  - **fast path** — [[graft.functions.LogFrameDecode]] reads the value's
  *    bytes in place and accepts exactly the reference producer's shape
  *    `{"ts":<int>,"uid":"<str>"}` (reference README.md:23): `{"ts":`, 1–18
  *    digits with no sign and no leading zero unless the number is `0`,
  *    `,"uid":"`, any bytes in 0x20–0x7E other than `"` and `\`, and `"}`
  *    as the last two bytes;
  *  - **fallback** — every other frame (reordered keys, whitespace,
  *    escapes, non-ASCII, nulls, trailing bytes, corrupt JSON) goes to
  *    `from_json(value.cast("string"), Schemas.logFrame)`, which on the
  *    accepted shape yields the same (ts, uid), so the two paths agree.
  *
  * After either path, a `ts` whose microseconds overflow a Long
  * (|ts| > [[MaxEpochSeconds]]) nulls `eventTime`: the frame is rejected
  * and counted like any malformed frame instead of failing the query.
  */
object LogFrames {

  /** The largest |ts| in epoch seconds whose microseconds fit a Long. */
  val MaxEpochSeconds: Long = Long.MaxValue / 1000000L

  /** Parse a raw string/binary value column into (eventTime, uid).
    * Corrupt JSON, missing fields, non-numeric or out-of-range ts → null
    * columns. */
  def parse(raw: DataFrame, valueCol: Column): DataFrame =
    raw.select(coalesce(LogFrameDecode(valueCol),
        from_json(valueCol.cast("string"), Schemas.logFrame)).as("f"))
      .select(
        when(col("f.ts").between(-MaxEpochSeconds, MaxEpochSeconds),
          timestamp_seconds(col("f.ts"))).as("eventTime"),
        col("f.uid").as("uid"))

  /** The reject filter: both fields present and uid non-empty. */
  def valid(frames: DataFrame): DataFrame =
    frames.filter(col("eventTime").isNotNull &&
      col("uid").isNotNull && length(col("uid")) > 0)

  /** `observe` hook: counts total vs rejected rows per micro-batch so the
    * drop policy is measurable (query-progress listeners / batch metrics).
    */
  def observed(frames: DataFrame, name: String = "log_frames"): DataFrame =
    frames.observe(name,
      count(lit(1)).as("rows"),
      count(when(col("eventTime").isNull ||
        col("uid").isNull || length(col("uid")) === 0, 1)).as("rejects"))
}
