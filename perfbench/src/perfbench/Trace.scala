package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed interval at a layer boundary; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double) {
  def dur: Double = math.max(0.0, end - start)
}

object Intervals {
  /** Length of the union of `iv`, each clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double = Double.MinValue,
            hi: Double = Double.MaxValue): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = math.max(ce, b)
      else { total += ce - cs; cs = a; ce = b }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

/** The span tree of one run, kept in memory and written when the run ends.
  * Every span carries the run's id; parent -1 is the root. */
final class Trace(val runId: String) {
  private val spans = ArrayBuffer.empty[Span]

  def add(parent: Int, kind: String, name: String, start: Double, end: Double): Int =
    synchronized {
      val id = spans.size
      spans += Span(id, parent, kind, name, start, end)
      id
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** A span's duration minus the part of it its children cover. */
  def selfTimes: Map[Int, Double] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map { sp =>
      val cover = Intervals.union(
        kids.getOrElse(sp.id, Nil).map(c => (c.start, c.end)), sp.start, sp.end)
      sp.id -> (sp.dur - cover)
    }.toMap
  }

  /** Self time summed per span kind, under the subtree of `root`. */
  def selfByKind(root: Int): Map[String, Double] = {
    val s = all
    val kids = s.groupBy(_.parent)
    val self = selfTimes
    def walk(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(c => c +: walk(c.id))
    walk(root).groupBy(_.kind).map { case (k, v) => k -> v.map(x => self(x.id)).sum }
  }

  def toJson: String = {
    val self = selfTimes
    all.map { s =>
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},""" +
        s""""self_ms":${Json.num(self(s.id))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  /** Execution order of the micro-batch phases inside `triggerExecution`
    * (MicroBatchExecution: offsets → offset WAL → batch → plan → sink →
    * commit log). Unknown keys follow in name order. */
  val PhaseOrder: Seq[String] = Seq("latestOffset", "setOffsetRange", "getOffset",
    "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Add batch ▸ phase ▸ job ▸ stage spans for `batches` under `parent`.
    * Phases are laid end to end from the trigger start in execution order;
    * a job hangs under the phase of its own batch that contains its start. */
  def addBatches(t: Trace, parent: Int, batches: Seq[StreamingQueryProgress],
                 jobs: Seq[JobRec], stages: Seq[StageRec]): Unit = {
    val byBatch = jobs.filter(j => j.batch.isDefined && j.query.isDefined)
      .groupBy(j => (j.query.get, j.batch.get))
    val stagesByJob = stages.groupBy(_.job)
    batches.foreach { p =>
      val st = Progress.startMs(p)
      val b = t.add(parent, "batch", s"${p.id}#${p.batchId}", st, Progress.endMs(p))
      val keys = p.durationMs.keySet.toArray.map(_.toString)
        .filterNot(_ == "triggerExecution")
      val ordered = PhaseOrder.filter(keys.contains) ++
        keys.filterNot(PhaseOrder.contains).sorted
      var at = st
      val phases = ordered.map { k =>
        val d = Progress.durMs(p, k)
        val id = t.add(b, "phase", k, at, at + d)
        val r = (id, at, at + d)
        at += d
        r
      }
      byBatch.getOrElse((p.id.toString, p.batchId), Nil).foreach { j =>
        val par = phases.find { case (_, a, e) => j.start >= a && j.start < e }
          .map(_._1).getOrElse(b)
        addJob(t, par, j, stagesByJob)
      }
    }
  }

  def addJob(t: Trace, parent: Int, j: JobRec,
             stagesByJob: Map[Int, Seq[StageRec]]): Unit = {
    val jid = t.add(parent, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
    stagesByJob.getOrElse(j.id, Nil).filter(s => s.submit >= 0 && s.complete >= 0)
      .foreach(s => t.add(jid, "stage", s"stage ${s.id}", s.submit.toDouble,
        s.complete.toDouble))
  }
}

/** Scheduler-level totals over the jobs that started inside [lo, hi]. */
final case class SparkTotals(jobs: Int, tasks: Long, runMs: Double, cpuMs: Double,
    shuffleRead: Double, shuffleWrite: Double, spill: Double, busyMs: Double,
    wallMs: Double) {
  def gapMs: Double = wallMs - busyMs
}

object SparkTotals {
  def over(jobs: Seq[JobRec], stages: Seq[StageRec], lo: Double, hi: Double): SparkTotals = {
    val js = jobs.filter(j => j.start >= lo && j.start <= hi)
    val ids = js.map(_.id).toSet
    val ss = stages.filter(s => ids.contains(s.job))
    SparkTotals(js.size, ss.map(_.tasks.toLong).sum, ss.map(_.runMs).sum.toDouble,
      ss.map(_.cpuNs).sum / 1e6, ss.map(_.shuffleRead).sum.toDouble,
      ss.map(_.shuffleWrite).sum.toDouble, ss.map(_.spill).sum.toDouble,
      Intervals.union(js.map(j => (j.start.toDouble, j.end.toDouble)), lo, hi), hi - lo)
  }
}
