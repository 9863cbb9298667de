package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.graftbridge.StreamingBridge
import org.apache.spark.sql.streaming.StreamingQuery

/** Opt-in recorder for streaming gates' per-micro-batch executed plans.
  *
  * Batch queries are plan-audited by `graft.Inspect static` → PLANS.md,
  * but a streaming gate's plan is a per-micro-batch IncrementalExecution
  * that only exists while the query runs and is gone once the gate stops
  * it. The gates call [[record]] immediately before `stop()` (see
  * `StreamGate.drainStop`, the one stop every streaming gate goes
  * through); when capture is DISABLED — every normal gate run — that
  * call is a single volatile read, so the correctness path pays nothing.
  * `graft.Inspect static` enables capture, runs the gate, then [[drain]]s
  * the recorded plans into PLANS.md.
  *
  * Not thread-safe across concurrent Inspect invocations by design: the
  * audit tool is the only writer-enabler and runs gates sequentially.
  */
object StreamPlanCapture {

  @volatile private var enabled = false
  private val buf = ArrayBuffer.empty[(String, String)]

  def enable(): Unit = synchronized { buf.clear(); enabled = true }
  def disable(): Unit = synchronized { enabled = false }

  /** Record the query's last micro-batch plan; no-op unless enabled.
    * Never throws — plan capture must not fail a gate. */
  def record(q: StreamingQuery): Unit = if (enabled) synchronized {
    val label = Option(q.name).getOrElse(q.id.toString)
    val plan =
      try StreamingBridge.lastBatchPlan(q)
      catch { case e: Throwable => s"(capture failed: ${e.getMessage})" }
    buf += ((label, plan))
  }

  /** Return and clear everything recorded since `enable()`. */
  def drain(): Seq[(String, String)] = synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}
