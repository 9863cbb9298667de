package graft.time

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Event-time derivation and bucketing.
  *
  * The reference buckets event time to the minute *upstream* (producer-side
  * `jq`: `60 * floor(ts/60)`, reference README.md:111) and re-parses it from
  * the Kafka record key (LogFrameTimestampExtractor.java:8–14). In Spark the
  * bucketing is an in-query expression and the shuffle performs the
  * co-partitioning the reference delegated to the Kafka producer — no
  * extractor, no producer contract.
  */
object TimeOps {

  /** Truncate an event-time column to its minute bucket — the engine-native
    * form of the reference's `60*floor(ts/60)` key.
    */
  def minuteBucket(eventTime: Column): Column = date_trunc("minute", eventTime)

  /** Minute bucket as epoch seconds (LongType) — the reference's literal key
    * representation ("1468244340"); also what we emit to oracles, because an
    * integer survives engine/timezone round-trips bit-exactly.
    */
  def minuteBucketEpoch(eventTime: Column): Column =
    unix_timestamp(minuteBucket(eventTime))

  /** Epoch-seconds long → event-time timestamp (reference
    * LogFrameTimestampExtractor.java:10 does `toLong * 1000`; Spark's
    * `timestamp_seconds` is the declarative equivalent).
    */
  def fromEpochSeconds(ts: Column): Column = timestamp_seconds(ts)
}
