package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Every progress event of every streaming query in this JVM, in arrival
  * order. Fed by [[ProgressTap]], which the session registers through
  * `spark.sql.streaming.streamingQueryListeners`, so queries started on
  * child sessions (every streaming gate runs on one) are seen too. */
object Progress {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val committed = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  private val lock = new Object

  def add(p: StreamingQueryProgress): Unit = {
    events.add(p)
    committed.merge(p.id, endOffset(p), (a, b) => math.max(a, b))
    lock.synchronized(lock.notifyAll())
  }

  def failed(msg: String): Unit = {
    failures.add(msg)
    lock.synchronized(lock.notifyAll())
  }

  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] = all.filter(_.id == id)
  /** Highest MemoryStream offset that query `id` has committed. */
  def committedOffset(id: java.util.UUID): Long =
    Option(committed.get(id)).fold(-1L)(_.longValue())
  def errors: Seq[String] = failures.asScala.toSeq
  def clear(): Unit = { events.clear(); failures.clear(); committed.clear() }

  /** Wait until `done` holds, re-checking on every event; false on timeout. */
  def await(timeoutMs: Long)(done: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      while (!done && failures.isEmpty && System.currentTimeMillis() < deadline)
        lock.wait(math.max(1L, math.min(50L, deadline - System.currentTimeMillis())))
    }
    done
  }

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue())
  def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + durMs(p, "triggerExecution")
  /** The event-time watermark the batch ran with (0 before the first). */
  def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark"))
      .fold(0L)(w => java.time.Instant.parse(w).toEpochMilli)
  /** The MemoryStream offset a batch committed up to (-1 if none). */
  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
}

class ProgressTap extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = Progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => Progress.failed(s"query ${e.id}: $x"))
}

final case class JobRec(id: Int, start: Long, batch: Option[Long],
    query: Option[String], stageIds: Seq[Int]) {
  var end: Long = -1L
}

final class StageRec(val id: Int, val job: Int) {
  var submit = -1L
  var complete = -1L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Passive job/stage recorder for traced runs: it only copies what the
  * scheduler already reports at job and stage boundaries. */
final class JobTracer extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time,
      prop("streaming.sql.batchId").flatMap(_.toLongOption),
      prop("sql.streaming.queryId"), e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = new StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1))
    r.submit = i.submissionTime.getOrElse(-1L)
    r.complete = i.completionTime.getOrElse(-1L)
    r.tasks = i.numTasks
    Option(i.taskMetrics).foreach { m =>
      r.runMs = m.executorRunTime
      r.cpuNs = m.executorCpuTime
      r.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      r.spill = m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stages(i.stageId) = r
  }

  def snapshot: (Seq[JobRec], Seq[StageRec]) = synchronized {
    (jobs.values.filter(_.end >= 0).toSeq, stages.values.toSeq)
  }
}
