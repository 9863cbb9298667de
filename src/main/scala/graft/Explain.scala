package graft

import org.apache.spark.sql.SparkSession

/** Plan-review tool: dump `explain("formatted")` for every registered
  * query (or the names passed as args) so scan pushdown (`PushedFilters`,
  * `ReadSchema`), broadcast vs shuffle joins, partial aggregation, and
  * WholeStageCodegen spans can be audited per round.
  *
  * With `--executed`, each query is RUN first and the AQE-final
  * `executedPlan` is printed instead — the only place runtime plan
  * features (ReusedExchange dedup of repeated subplans, AQE coalescing,
  * skew splits) are visible; the static formatted plan shows none of them.
  *
  * Usage: runMain graft.Explain [sfDir] [--executed] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val executed = args.tail.contains("--executed")
    val rest = args.tail.filterNot(_ == "--executed").toSeq
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Plan text can embed control characters from string literals (e.g.
    // DistributionRanks.NullGroupKey's U+0000 sentinel in a coalesce) —
    // escape them so PLANS.md stays a text file for grep/diff/judges.
    def sanitized(s: String): String =
      s.flatMap(c => if (c < ' ' && c != '\n' && c != '\t')
        f"\\u${c.toInt}%04x" else c.toString)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // streaming-in-function gates run their query on build; their plan
      // is the per-micro-batch IncrementalExecution, which only exists
      // while the query runs — StreamPlanCapture records the LAST
      // micro-batch's executed plan as StreamGate stops each gate.
      if (n.startsWith("streaming_") || n == "pipeline_streaming_ingest") {
        graft.plans.StreamPlanCapture.enable()
        try SparkEntry.queries(n)(spark, sfDir).collect()
        finally graft.plans.StreamPlanCapture.disable()
        val plans = graft.plans.StreamPlanCapture.drain()
        if (plans.isEmpty) println("(no streaming query executed — nothing captured)")
        plans.foreach { case (label, p) =>
          println(s"-- last micro-batch executed plan [$label] --")
          println(sanitized(p))
        }
      }
      else if (executed) {
        val df = SparkEntry.queries(n)(spark, sfDir)
        // collect(), not count(): an action like count() builds its OWN
        // QueryExecution, leaving this dataset's AQE plan un-finalized
        df.collect()
        println(sanitized(df.queryExecution.executedPlan.toString))
      } else println(sanitized(
        SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))))
    }
    spark.stop()
  }
}
