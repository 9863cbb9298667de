package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-window operators beyond the reference's single tumbling-minute case
  * (reference UniqueUsersApp.java:96–97 — `TimeWindows.of(1 minute)` only;
  * sliding/session are absent there and inherited from Spark built-ins,
  * SURVEY §2.3 "Streaming — windows").
  *
  * All emit window bounds as epoch-seconds longs: integer keys survive
  * engine/timezone round-trips bit-exactly and mirror the reference's own
  * epoch-seconds key representation.
  *
  * Scale note: each is a single hash aggregate keyed by (window, key) —
  * partial aggregation map-side, one shuffle on the composite key. Sliding
  * windows multiply input by width/slide (Spark expands via `Expand`);
  * keep that factor small or pre-aggregate to the slide granularity first.
  */
object Windowing {

  /** Sliding window event + distinct-id counts. Batch form; the streaming
    * form swaps count_distinct for dropDuplicates+count (SURVEY §7 risk 2).
    */
  def slidingCounts(df: DataFrame, eventTime: Column, idCol: Column,
                    width: String, slide: String): DataFrame =
    df.select(window(eventTime, width, slide).as("w"), idCol.as("id"))
      .groupBy(unix_timestamp(col("w.start")).as("window_start"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("id")).as("unique_ids"))

  /** Session windows (gap-based) per key: Spark's `session_window` merges
    * events closer than `gap`; session end = last event + gap. */
  def sessionStats(df: DataFrame, eventTime: Column, keyCol: Column,
                   gap: String): DataFrame =
    df.groupBy(session_window(eventTime, gap).as("w"), keyCol.as("key"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("key"),
        unix_timestamp(col("w.start")).as("session_start"),
        unix_timestamp(col("w.end")).as("session_end"),
        col("n_events"))
}
