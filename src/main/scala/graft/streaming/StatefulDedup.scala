package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Bespoke keyed-state dedup — the direct structural analogue of the
  * reference's `DeduplicateValueTransformer` + windowed `WindowStore`
  * (DeduplicateValueTransformer.java:19–69; store built at
  * UniqueUsersApp.java:101–110): emit a (bucket, uid) the first time it is
  * seen, swallow repeats, expire state when the bucket's retention passes.
  *
  * `dropDuplicates` is the production path (UniqueUsersStream); this
  * operator exists for semantics Spark's built-in can't express — custom
  * TTLs, first-N-per-key, emit-on-expire — and demonstrates the
  * `flatMapGroupsWithState` extension point (SURVEY §2.3 "stateful ops").
  * Unlike the reference's transformer it never emits null tombstones
  * (which forced the topology's post-`toStream` filter, UniqueUsersApp
  * .java:121–123) — duplicates are simply not emitted.
  *
  * Scale: state is one boolean per live (bucket, uid) key, hash-partitioned
  * by the group key — the same shuffle the downstream count needs, so the
  * pair (dedup → count) co-partitions exactly like the reference's
  * repartition-topic design (SURVEY §2.1 #12).
  */
object StatefulDedup {

  /** One keyed occurrence: bucket = epoch-seconds window start. */
  final case class Keyed(bucket: Long, uid: String, eventTimeMs: Long)

  /** First occurrence per (bucket, uid); state expires `retentionSec`
    * after the bucket starts (event-time timeout driven by the watermark —
    * the fix for the reference's retention/watermark mismatch,
    * reference README.md:196). Caller must have applied `withWatermark` on
    * the dataset's event-time column. */
  def firstSeen(ds: Dataset[Keyed], retentionSec: Long): Dataset[Keyed] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(k => (k.bucket, k.uid))
      .flatMapGroupsWithState[Boolean, Keyed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, _, state) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case ((bucket, _), rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            val expireMs = (bucket + retentionSec) * 1000L
            if (expireMs <= state.getCurrentWatermarkMs()) {
              // bucket already expired relative to the watermark: this is
              // late data — drop it WITHOUT storing state (storing with no
              // timeout would leak the entry forever AND re-count a closed
              // bucket, the exact reference bug this operator fixes)
              Iterator.empty
            } else {
              state.update(true)
              state.setTimeoutTimestamp(expireMs)
              Iterator.single(rows.next())
            }
          }
      }
  }
}
