package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The mergeable state recurrence behind `streaming_sessions_funnel`
  * (StreamingQueries): gap sessionization + in-session ordered funnel,
  * versioned as two state relations and advanced one TIME-SPLIT
  * micro-batch at a time.
  *
  *  - per-USER sessionizer state (last_us, last_sidx, first_us): a new
  *    batch's first row per user gaps against last_us, so a session open
  *    at the batch boundary continues, and a > gap boundary opens
  *    session last_sidx + 1;
  *  - per-(user, session) funnel state (n_events, t1, t2, t3): counts
  *    sum, and the batch's events of each key continue the funnel walk
  *    ([[funnelWalk]]) from the state's step times.
  *
  * Extracted from the gate's foreachBatch so the batch-boundary
  * INVARIANCE claim is testable directly: folding this merge over ANY
  * time-split partitioning of the input must land on identical final
  * state relations (EngineProperties re-splits at random quantiles).
  */
object SessionFunnelState {

  val userSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("last_us", LongType),
    StructField("last_sidx", LongType), StructField("first_us", LongType)))

  val sessSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("sidx", LongType),
    StructField("n_events", LongType), StructField("t1", LongType),
    StructField("t2", LongType), StructField("t3", LongType)))

  def emptyUser(s: SparkSession): DataFrame =
    s.createDataFrame(new java.util.ArrayList[Row](), userSchema)

  def emptySess(s: SparkSession): DataFrame =
    s.createDataFrame(new java.util.ArrayList[Row](), sessSchema)

  private val noStep: Column = lit(null).cast(LongType)

  /** The ordered funnel (view → click → purchase) as one state-machine
    * walk over `evs`, an array of struct(ts, event_id, event_type),
    * seeded with the step times (t1, t2, t3) already reached (nulls for
    * a fresh key). Walking events in (ts, event_id) order and taking the
    * first qualifying event per step IS the conditional-min chain — min
    * view, then min click strictly after it, then min purchase strictly
    * after that — because each step's predicate depends only on ts.
    * Seeding makes it mergeable under time splits: no seeded time is
    * later than an event of a later batch, so continuing the walk
    * equals walking the concatenated timeline. A null `evs` (a key the
    * batch does not touch) keeps the seed. Returns struct(t1, t2, t3);
    * project it once and read its fields from that column, since Spark
    * does not share a higher-order function between expressions. */
  def funnelWalk(evs: Column, t1: Column = noStep, t2: Column = noStep,
                 t3: Column = noStep): Column = {
    val seed = struct(t1.as("t1"), t2.as("t2"), t3.as("t3"))
    def step(st: Column, e: Column, k: String, prev: Option[String],
             kind: String): Column = {
      val hit = st(k).isNull && e("event_type") === kind
      when(prev.fold(hit)(p => hit && e("ts") > st(p)), e("ts"))
        .otherwise(st(k)).as(k)
    }
    coalesce(aggregate(sort_array(evs), seed, (st, e) => struct(
      step(st, e, "t1", None, "view"),
      step(st, e, "t2", Some("t1"), "click"),
      step(st, e, "t3", Some("t2"), "purchase"))), seed)
  }

  /** The events of each group as the walk's input array. */
  def walkEvents(ts: Column): Column =
    collect_list(struct(ts.as("ts"), col("event_id"), col("event_type")))

  /** Advance both state relations by one micro-batch.
    *
    * `df` carries (user_id, event_id, ts — epoch-µs long, event_type);
    * batches must be TIME-SPLIT (every ts in this batch ≥ every ts
    * already merged). One pass: a per-user window sessionizes the batch,
    * one (user, session) aggregate collects each key's events (no
    * exchange — the window already hash-partitions by user), and that
    * aggregate full-outer-joins the session state ONCE, where the seeded
    * [[funnelWalk]] continues each key's funnel. The per-user update
    * rolls up the same aggregate. */
  def mergeBatch(df: DataFrame, uSt: DataFrame, sSt: DataFrame,
                 gapUs: Long = 1800000000L): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
    // sessionize the batch; the first row per user gaps against the
    // state's last_us (null for a new user → no break → sidx 0)
    val perKey = df
      .join(uSt.select(col("user_id"), col("last_us"),
        col("last_sidx")), Seq("user_id"), "left")
      .withColumn("prev_us",
        coalesce(lag(col("ts"), 1).over(w), col("last_us")))
      .withColumn("is_break",
        coalesce((col("ts") - col("prev_us") > gapUs)
          .cast("long"), lit(0L)))
      .withColumn("sidx", coalesce(col("last_sidx"), lit(0L))
        + sum(col("is_break")).over(wRun))
      .groupBy(col("user_id"), col("sidx"))
      .agg(count(lit(1)).as("bn"), max(col("ts")).as("bmax"),
        min(col("ts")).as("bmin"), walkEvents(col("ts")).as("evs"))
    val s1 = sSt.join(perKey, Seq("user_id", "sidx"), "full_outer")
      .select(col("user_id"), col("sidx"),
        (coalesce(col("n_events"), lit(0L)) +
          coalesce(col("bn"), lit(0L))).as("n_events"),
        funnelWalk(col("evs"), col("t1"), col("t2"), col("t3")).as("w"))
      .select(col("user_id"), col("sidx"), col("n_events"), col("w.*"))
    // merge per-user sessionizer state (time-split: batch max IS the
    // new last_us; batch max sidx IS the new last session)
    val bu = perKey.groupBy(col("user_id")).agg(
      max(col("bmax")).as("bmax"), min(col("bmin")).as("bmin"),
      max(col("sidx")).as("bsidx"))
    val u1 = uSt.join(bu, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        greatest(col("last_us"), col("bmax")).as("last_us"),
        coalesce(col("bsidx"), col("last_sidx")).as("last_sidx"),
        least(col("first_us"), col("bmin")).as("first_us"))
    (u1, s1)
  }
}
