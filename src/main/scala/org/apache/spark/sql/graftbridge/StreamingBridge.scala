package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming plan access. A micro-batch's executed plan lives on the
  * engine-side `StreamExecution.lastExecution` (an IncrementalExecution),
  * which the public [[StreamingQuery]] interface doesn't expose — only
  * `explain()`, which prints to stdout. Like [[ColumnBridge]], this shim
  * sits in the `org.apache.spark.sql` package tree to reach the
  * `private[sql]` wrapper, so the plan-audit tooling (`graft.Inspect
  * static` / PLANS.md) can pin streaming gates' per-micro-batch plans the
  * same way it pins batch plans.
  */
object StreamingBridge {

  /** Formatted executed plan of the LAST completed micro-batch, or a
    * diagnostic placeholder when none ran / the query isn't the classic
    * engine's wrapper. Never throws: plan capture must not fail a gate. */
  def lastBatchPlan(q: StreamingQuery): String = q match {
    case w: StreamingQueryWrapper =>
      val le = w.streamingQuery.lastExecution
      if (le == null) "(no completed micro-batch)"
      else le.executedPlan.toString
    case _ => s"(unsupported StreamingQuery impl: ${q.getClass.getName})"
  }
}
