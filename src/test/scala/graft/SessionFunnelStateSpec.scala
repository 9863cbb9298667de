package graft

import org.apache.spark.sql.Row
import graft.streaming.SessionFunnelState

/** Deterministic cases of the seeded funnel walk, run through
  * SessionFunnelState.mergeBatch (the merge `streaming_sessions_funnel`
  * folds each micro-batch with). All events of one user fall inside one
  * 30-minute gap, so every case is one session, sidx 0. */
class SessionFunnelStateSpec extends SparkSpec {
  import spark.implicits._

  private type Sess = (Long, Long, Long, Option[Long], Option[Long], Option[Long])

  /** Fold `batches` in order from empty state; the final session rows. */
  private def fold(batches: Seq[SfEv]*): Set[Sess] = {
    var uSt = SessionFunnelState.emptyUser(spark)
    var sSt = SessionFunnelState.emptySess(spark)
    batches.foreach { b =>
      val (u1, s1) = SessionFunnelState.mergeBatch(b.toDF(), uSt, sSt)
      uSt = u1; sSt = s1
    }
    sessRows(sSt.collect())
  }

  private def sessRows(rows: Array[Row]): Set[Sess] = rows.map { r =>
    def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
    (r.getLong(0), r.getLong(1), r.getLong(2), opt(3), opt(4), opt(5))
  }.toSet

  test("a click at the same µs as the view does not convert") {
    // (ts, event_id) order walks the view first, but the click is not
    // strictly after it; the same holds with the ids swapped
    assert(fold(Seq(SfEv(1L, 1L, 100L, "view"), SfEv(1L, 2L, 100L, "click"),
        SfEv(1L, 3L, 200L, "purchase"))) ==
      Set((1L, 0L, 3L, Some(100L), None, None)))
    assert(fold(Seq(SfEv(1L, 2L, 100L, "view"), SfEv(1L, 1L, 100L, "click"),
        SfEv(1L, 3L, 200L, "purchase"))) ==
      Set((1L, 0L, 3L, Some(100L), None, None)))
  }

  test("a view in batch 1 converts with a click and purchase in batch 2") {
    assert(fold(Seq(SfEv(1L, 1L, 100L, "view")),
        Seq(SfEv(1L, 2L, 200L, "click"), SfEv(1L, 3L, 300L, "purchase"))) ==
      Set((1L, 0L, 3L, Some(100L), Some(200L), Some(300L))))
  }

  test("a click before any view never converts, across batches") {
    assert(fold(Seq(SfEv(1L, 1L, 100L, "click")),
        Seq(SfEv(1L, 2L, 200L, "view"))) ==
      Set((1L, 0L, 2L, Some(200L), None, None)))
  }

  test("a state key the batch does not touch is returned unchanged") {
    val uSt = Seq((9L, 500L, 0L, 5L)).toDF(
      "user_id", "last_us", "last_sidx", "first_us")
    val sSt = spark.createDataFrame(
      java.util.List.of(Row(9L, 0L, 3L, 5L, 400L, null)),
      SessionFunnelState.sessSchema)
    val (u1, s1) = SessionFunnelState.mergeBatch(
      Seq(SfEv(1L, 1L, 1000L, "view")).toDF(), uSt, sSt)
    assert(sessRows(s1.collect()) == Set(
      (9L, 0L, 3L, Some(5L), Some(400L), None),
      (1L, 0L, 1L, Some(1000L), None, None)))
    assert(u1.collect().map(r => (0 to 3).map(r.getLong)).toSet == Set(
      Seq(9L, 500L, 0L, 5L), Seq(1L, 1000L, 0L, 1000L)))
  }
}
