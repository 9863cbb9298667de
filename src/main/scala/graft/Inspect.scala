package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan and job inspection of registry queries, on the same [[GraftSession]]
  * Bench times, so an audited plan is a benched plan.
  *
  * `runMain graft.Inspect <static|run> <sfDir> [query...]` (no names: the
  * whole registry, in name order)
  *
  *  - `static` prints `explain("formatted")`: scan pushdown (`PushedFilters`,
  *    `ReadSchema`), broadcast vs shuffle joins, partial aggregation and
  *    WholeStageCodegen spans. PLANS.md pins these.
  *  - `run` follows Bench's protocol: one untimed warm-up, then one measured
  *    noop-sink run. It prints the wall, one line per Spark job (so an
  *    iterative operator's per-round overhead, a repeated scan or a driver
  *    gap is visible in one read) and the AQE-final executed plan of the
  *    write action, the only place runtime plan decisions (ReusedExchange,
  *    AQE coalescing, skew splits, runtime broadcasts) show. Timing belongs
  *    to Bench; this wall is corroboration.
  */
object Inspect {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && (args(0) == "static" || args(0) == "run"),
      "usage: Inspect <static|run> <sfDir> [query...]")
    val sfDir = args(1)
    val names =
      if (args.length > 2) Queries.select(args.drop(2).toSeq, "the Inspect command line")
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      if (args(0) == "static") printStatic(spark, sfDir, n)
      else printRun(spark, sfDir, n)
    }
    spark.stop()
  }

  /** Plan text can embed control characters from string literals (e.g.
    * DistributionRanks.NullGroupKey's U+0000 sentinel in a coalesce) —
    * escape them so PLANS.md stays a text file for grep and diff. */
  private def sanitized(s: String): String =
    s.flatMap(c => if (c < ' ' && c != '\n' && c != '\t')
      f"\\u${c.toInt}%04x" else c.toString)

  private def printStatic(spark: SparkSession, sfDir: String, name: String): Unit =
    // streaming-in-function gates run their query on build; their plan is
    // the per-micro-batch IncrementalExecution, which only exists while the
    // query runs — StreamPlanCapture records the LAST micro-batch's
    // executed plan as StreamGate stops each gate.
    if (name.startsWith("streaming_") || name == "pipeline_streaming_ingest") {
      graft.plans.StreamPlanCapture.enable()
      try SparkEntry.queries(name)(spark, sfDir).collect()
      finally graft.plans.StreamPlanCapture.disable()
      val plans = graft.plans.StreamPlanCapture.drain()
      if (plans.isEmpty) println("(no streaming query executed — nothing captured)")
      plans.foreach { case (label, p) =>
        println(s"-- last micro-batch executed plan [$label] --")
        println(sanitized(p))
      }
    } else println(sanitized(
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        ExplainMode.fromString("formatted"))))

  private def printRun(spark: SparkSession, sfDir: String, name: String): Unit = {
    val fn = SparkEntry.queries(name)
    Bench.noop(fn(spark, sfDir)) // warm-up: JIT, codegen cache, parquet footers
    spark.catalog.clearCache()
    ListenerBusBridge.flush(spark) // no warm-up job may reach the table
    val jobs = new JobTable
    spark.sparkContext.addSparkListener(jobs)
    // job events carry wall-clock millis, so the run is stamped on that clock
    val t0 = System.currentTimeMillis()
    var t1 = t0
    val plan =
      try {
        val df = fn(spark, sfDir)
        writePlan(df.sparkSession) { Bench.noop(df); t1 = System.currentTimeMillis() }
      } finally spark.sparkContext.removeSparkListener(jobs)
    spark.catalog.clearCache()

    val snap = jobs.snapshot.sortBy(_.start)
    println(f"wall=${(t1 - t0) / 1000.0}%.3f s")
    // gap = time before the job starts with no job of the run running
    var coveredTo = t0
    snap.foreach { j =>
      val gap = math.max(0L, j.start - coveredTo)
      coveredTo = math.max(coveredTo, j.end)
      println(f"job ${j.id}%3d  dur=${(j.end - j.start) / 1000.0}%7.3f s  " +
        f"gap=${gap / 1000.0}%6.3f s  tasks=${j.nTasks}%4d  " +
        f"execSum=${j.execMs / 1000.0}%8.3f s  " +
        s"site=${j.site}  stages=${j.stages.reverse.mkString(",")}")
    }
    val busyMs = busy(snap.map(j => (math.max(j.start, t0), math.min(j.end, t1))))
    println(f"jobs=${snap.size}  busy=${busyMs / 1000.0}%.3f s  " +
      f"driver/other gap=${(t1 - t0 - busyMs) / 1000.0}%.3f s")
    println("-- executed plan of the write action --")
    println(sanitized(plan))
  }

  /** Length of the union of the intervals `[start, end)`: the time at least
    * one of them covers. Jobs of one query can overlap (a gate's two state
    * writes run at once), so their summed walls overstate the busy time.
    * Empty intervals (end ≤ start) count 0. */
  def busy(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((total, coveredTo), (s, e)) =>
        if (e <= coveredTo) (total, coveredTo)
        else (total + e - math.max(s, coveredTo), e)
      }._1

  /** Run `write`, which must fire one noop write action on `spark`, and
    * return that action's own executed plan: the AQE-final physical plan.
    * `spark` must be the written DataFrame's own session (a streaming gate's
    * result lives on an isolated child session): a `QueryExecutionListener`
    * only hears its own session's actions.
    *
    * `df.write.format("noop").save()` runs through a NEW QueryExecution
    * wrapping the write command, so the DataFrame's own
    * `queryExecution.executedPlan` is never executed and still prints
    * `isFinalPlan=false` with the pre-execution estimate. The write
    * action's plan is captured by a `QueryExecutionListener` instead, and a
    * capture that is not final fails (a pin of a non-final plan is worse
    * than no pin). */
  def writePlan(spark: SparkSession)(write: => Unit): String = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      // only the write action itself — a query that fires auxiliary
      // actions while executing must not pollute the capture. The V2
      // noop write posts funcName "overwrite"; "save" is the V1 path.
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "overwrite" || funcName == "save")
          plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write
      ListenerBusBridge.flush(spark)
      assert(!plans.isEmpty, "no write-action event reached the QueryExecutionListener")
      val plan = plans.peek()
      assert(!plan.contains("isFinalPlan=false"),
        "captured plan is not AQE-final (isFinalPlan=false) — pin would be wrong")
      plan
    } finally spark.listenerManager.unregister(listener)
  }

  private final case class Job(id: Int, start: Long, site: String) {
    var end = 0L
    var nTasks = 0
    var execMs = 0L
    var stages = List.empty[String]
  }

  /** Every job that starts while registered: its wall interval, its first
    * stage's callsite, and its completed stages' task count and summed
    * executor run time. */
  private final class JobTable extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      jobs(e.jobId) = Job(e.jobId, e.time, site)
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      for (jid <- stageToJob.get(e.stageInfo.stageId); j <- jobs.get(jid)) {
        j.nTasks += e.stageInfo.numTasks
        j.execMs += e.stageInfo.taskMetrics.executorRunTime
        j.stages ::= s"${e.stageInfo.stageId}:${e.stageInfo.name.takeWhile(_ != ' ')}"
      }
    }
    def snapshot: List[Job] = synchronized(jobs.values.toList)
  }
}
