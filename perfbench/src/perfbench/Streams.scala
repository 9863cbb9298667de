package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.UniqueUsersApp
import graft.streaming.{KafkaTransport, UniqueUsersStream}

/** The `stream` workload: the flagship pipeline as a stream, a MemoryStream
  * shaped like the Kafka source (KafkaTransport.wireSchema) →
  * KafkaTransport.frames → UniqueUsersApp.buildPlan → a memory sink standing
  * in for the Kafka sink, under two loads in turn:
  *
  *  - bulk: closed loop over a fixed number of 100,000-record chunks of
  *    mostly distinct uids, one window of event time per chunk; it gives
  *    the throughput metric. It runs first, so its untimed first chunks and
  *    its timed chunks warm the JIT before the latency load;
  *  - steady: open loop, one 400-record chunk every 200 ms (2,000 events/s),
  *    5,000 distinct uids, event time 30× faster than wall time; it gives
  *    the latency metrics. A batch takes 350–850 ms, so the ten slowest
  *    chunks beyond `latency_tail_ms` span about five batches, and one slow
  *    batch does not set it.
  *
  * Spark gets half the cores (see `cores`).
  */
object Streams {
  val Steady = LoadSpec(records = 400, virtMsPerChunk = 6000L, jitterS = 20,
    uidCard = 5000, rejectShare = 0.01, lateShare = 0.01)
  val SteadyIntervalMs = 200.0
  val Bulk = LoadSpec(records = 100000, virtMsPerChunk = 60000L, jitterS = 30,
    uidCard = 0, rejectShare = 0.05, lateShare = 0.02)
  /** Timed bulk chunks per run (6 at 14 s): a fixed amount of work, so the
    * state reaches the same peak on every run (three windows while a chunk
    * runs). */
  def bulkChunks(o: Opts): Int = math.max(2, math.round(o.seconds * 0.4).toInt)
  /** Untimed bulk chunks before the timed ones, so the JIT settles. The
    * no-data batch after the second chunk reads the highest, most
    * seed-dependent state memory of the load; it stays untimed too. */
  val BulkWarmChunks = 2
  /** Untimed open-loop load before the timed region, at the same rate (the
    * bulk load before it has already warmed the JIT). */
  val WarmupS = 4
  /** Records in chunk 0, the batch committed before timing starts. */
  val WarmRecords = 1000
  val TimeoutMs = 120000L

  final class Pipe(val spark: SparkSession, val mem: MemoryStream[Wire.Rec],
      val q: StreamingQuery, val sink: String, val wire: Wire, val warm: Chunk)

  final class Phase(val chunks: Seq[Chunk], val warmChunks: Int,
      val batches: Seq[StreamingQueryProgress], val latencies: Seq[Double],
      val eventsPerS: Double, val t0: Double, val tEnd: Double, val lateMaxMs: Double) {
    def memPeakBytes: Double =
      batches.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0)
  }

  private var pipes = 0

  private def now(): Double = System.nanoTime() / 1e6 - Clock.nanoOffsetMs

  /** Wall-clock epoch ms with sub-ms resolution, comparable with the
    * engine's progress timestamps. */
  object Clock {
    val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
  }

  private def offer(p: MemoryStream[Wire.Rec], rows: Seq[Wire.Rec]): Long =
    p.addData(rows).json.toLong

  private def awaitCommit(q: StreamingQuery, off: Long): Unit = {
    val ok = Progress.await(TimeoutMs)(Progress.committedOffset(q.id) >= off || !q.isActive)
    if (!ok || Progress.committedOffset(q.id) < off)
      throw new IllegalStateException(s"offset $off not committed: " +
        q.exception.map(_.toString).getOrElse(Progress.errors.mkString("; ")))
  }

  private def awaitWatermark(q: StreamingQuery, ms: Long): Unit =
    if (!Progress.await(TimeoutMs)(Progress.of(q.id).exists(Progress.watermarkMs(_) >= ms)))
      throw new IllegalStateException(s"watermark never reached $ms: " +
        q.exception.map(_.toString).getOrElse(Progress.errors.mkString("; ")))

  /** Start the pipeline on a fresh stream and checkpoint and commit chunk 0;
    * returns once that first batch is committed. */
  def start(spark: SparkSession, o: Opts, spec: LoadSpec, traced: Boolean): Pipe = {
    import spark.implicits._
    pipes += 1
    val ckpt = s"${o.runDir}/ckpt-$pipes"
    val sink = s"perfbench_sink_$pipes"
    val wire = new Wire(o.seed, spec, o.cpus)
    val warm = wire.chunk(0, WarmRecords)
    val mem = MemoryStream[Wire.Rec](spark, o.cpus)
    val raw = mem.toDF().toDF(KafkaTransport.wireSchema.fieldNames.toIndexedSeq: _*)
    val parsed = KafkaTransport.frames(raw)
    val frames =
      if (traced) parsed.observe("perfbench_parse", count(lit(1)).as("valid")) else parsed
    val cfg = UniqueUsersApp.Config(bootstrap = "none", checkpoint = ckpt)
    val q = UniqueUsersApp.buildPlan(frames, cfg).writeStream
      .format("memory").queryName(sink)
      .outputMode(cfg.mode)
      .option("checkpointLocation", ckpt)
      .start()
    warm.ts.setTime(System.currentTimeMillis())
    awaitCommit(q, offer(mem, warm.rows.toIndexedSeq))
    new Pipe(spark, mem, q, sink, wire, warm)
  }

  /** Feed the timed chunks: for `o.seconds` on the open loop, or
    * `bulkChunks` chunks on the closed loop. Starts after the engine has run the
    * batch that moves the watermark past chunk 0 (so every planted late
    * frame is behind the watermark of the batch that reads it). */
  def timed(p: Pipe, o: Opts, open: Boolean, spec: LoadSpec): Phase = {
    awaitWatermark(p.q, (p.warm.maxEt - 60L) * 1000L)
    val barrier = Progress.of(p.q.id).map(_.batchId).max
    // warm-up chunks run first, untimed, at the same schedule
    val w = if (open) (WarmupS * 1000 / SteadyIntervalMs).toInt else BulkWarmChunks
    val n = w + (if (open) (o.seconds * 1000 / SteadyIntervalMs).toInt else bulkChunks(o))
    val pool = (1 to n).map(i => p.wire.chunk(i))
    val sched = new Array[Double](n)
    val offs = new Array[Long](n)
    var sent = 0
    var lateMax = 0.0
    def send(due: Double): Unit = {
      val c = pool(sent)
      c.ts.setTime(due.toLong)
      lateMax = math.max(lateMax, now() - due)
      offs(sent) = offer(p.mem, c.rows.toIndexedSeq)
      sched(sent) = due
      sent += 1
    }
    var t0 = 0.0
    if (open) {
      val start = now() + 20.0
      t0 = start + w * SteadyIntervalMs
      val gen = new Thread(() => {
        while (sent < n) {
          val due = start + sent * SteadyIntervalMs
          var wait = due - now()
          while (wait > 0) {
            java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
            wait = due - now()
          }
          send(due)
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      awaitCommit(p.q, offs(sent - 1))
    } else {
      while (sent < n) {
        if (sent == w) t0 = now()
        send(now())
        awaitCommit(p.q, offs(sent - 1))
      }
    }
    val all = Progress.of(p.q.id).filter(_.batchId > barrier).sortBy(_.batchId)
    def committing(off: Long) = all.find(b => Progress.endOffset(b) >= off).get
    val first = committing(offs(w))
    val last = committing(offs(sent - 1))
    val batches = all.filter(b => b.batchId >= first.batchId && b.batchId <= last.batchId)
    val lat = (w until sent).map(i => Progress.endMs(committing(offs(i))) - sched(i))
    val data = batches.filter(_.numInputRows > 0)
    val eps =
      if (!open) {
        // the median chunk rate, each chunk over the wall from the end of
        // the previous chunk's batch (whose trailing no-data batch it waits
        // behind) to the end of its own
        val ends = (w - 1 until sent).map(i => Progress.endMs(committing(offs(i))))
        Stats.median((w until sent).map(i =>
          committing(offs(i)).numInputRows * 1000.0 / (ends(i - w + 1) - ends(i - w))))
      } else if (data.size >= 2)
        data.tail.map(_.numInputRows).sum * 1000.0 /
          (Progress.endMs(data.last) - Progress.endMs(data.head))
      else data.map(_.numInputRows).sum * 1000.0 / (Progress.endMs(last) - t0)
    println(s"[perfbench] ${if (open) "steady" else "bulk"} batches (rows:ms:state MB) " +
      all.map(b => s"${b.numInputRows}:${Progress.durMs(b, "triggerExecution").toLong}:" +
        (b.stateOperators.map(_.memoryUsedBytes).sum >> 20)).mkString(" "))
    new Phase(pool, w, batches, lat, eps, t0, Progress.endMs(last), lateMax)
  }

  /** Close every window with a far-future frame, then compare the sink with
    * the generator's reference: one record per window, exact counts.
    * Returns (windows checked, windows wrong, records out). */
  def check(p: Pipe, ph: Phase, perturb: Boolean, r: Report): (Int, Int, Long) = {
    val chunks = p.warm +: ph.chunks
    val endS = chunks.map(_.maxEt).max + 86400L
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    offer(p.mem, Seq(Wire.sentinel(endS, ts)))
    awaitWatermark(p.q, (endS - 60L) * 1000L)
    val ref0 = Wire.reference(chunks)
    val ref =
      if (perturb) { val w = ref0.keys.min; ref0.updated(w, ref0(w) + 1) } else ref0
    val WinRe = "\"windowStart\":(-?\\d+)".r.unanchored
    val NRe = "\"uniqueUsers\":(-?\\d+)".r.unanchored
    val out = p.spark.table(p.sink).collect().toSeq.map { row =>
      val (k, v) = (row.getString(0), row.getString(1))
      val w = v match { case WinRe(x) => x.toLong; case _ => Long.MinValue }
      val c = v match { case NRe(x) => x.toLong; case _ => -1L }
      (k.toLong, w, c)
    }
    val byWin = out.groupBy(_._1)
    val wrong = ref.count { case (w, c) =>
      byWin.get(w) match {
        case Some(Seq((_, vw, vc))) => vw != w || vc != c
        case _ => true
      }
    } + byWin.keySet.count(w => !ref.contains(w))
    if (wrong > 0) r.note(s"$wrong of ${ref.size} windows differ from the reference")
    (ref.size, wrong, out.size.toLong)
  }

  /** Start a pipeline for `spec`, run its timed phase and its check. */
  private def phase(spark: SparkSession, o: Opts, open: Boolean, traced: Boolean,
                    r: Report, started: Option[Pipe] = None): (Pipe, Phase, Long) = {
    val spec = if (open) Steady else Bulk
    val pipe = started.getOrElse(start(spark, o, spec, traced))
    val ph = timed(pipe, o, open, spec)
    val (wins, wrong, rowsOut) = check(pipe, ph, o.perturb, r)
    pipe.q.stop()
    r.attempted += ph.batches.size + wins
    r.failed += wrong
    (pipe, ph, rowsOut)
  }

  /** Spark's cores for the stream loads: half the machine's. The micro-batch
    * driver thread, the generator, the JIT and GC run beside the executor
    * threads; at local[nproc] they contend with them, and on 4 cores the
    * steady load's p50 latency read about 1,000 ms against about 850 ms at
    * local[2], with throughput no lower. */
  def cores(nproc: Int): Int = math.max(1, nproc / 2)

  def run(o0: Opts, jvmStart: Double, r: Report): Unit = {
    val o = o0.copy(cpus = cores(o0.cpus))
    val spark = Session.build(o, o.cpus)
    // set-up: JVM start to the first committed batch of the first pipeline
    val pipe = start(spark, o, Bulk, traced = false)
    val setup = (System.currentTimeMillis() - jvmStart) / 1000.0
    println(s"[perfbench] conf ${Session.confLine(spark)}")

    val (_, bulk, _) = phase(spark, o, open = false, traced = false, r, Some(pipe))
    val (_, steady, _) = phase(spark, o, open = true, traced = false, r)
    val (latTail, tailPct) = Stats.tail(steady.latencies)
    r.e2e("events_per_s", bulk.eventsPerS, "1/s")
    r.e2e("latency_p50_ms", Stats.median(steady.latencies), "ms")
    r.e2e("latency_tail_ms", latTail, "ms")
    r.e2e("state_mem_peak_mb", math.max(steady.memPeakBytes, bulk.memPeakBytes) / (1 << 20), "MB")
    r.e2e("setup_s", setup, "s")
    r.info("latency_tail_percentile", tailPct, "%")
    r.info("latency_samples", steady.latencies.size, "count")
    r.info("steady.offered_events_per_s", Steady.records * 1000.0 / SteadyIntervalMs, "1/s")
    r.info("steady.events_per_s", steady.eventsPerS, "1/s")
    r.info("bulk.latency_p50_ms", Stats.median(bulk.latencies), "ms")
    r.info("bulk.batches", bulk.batches.size, "count")

    if (o.trace) traced(spark, o, steady, bulk, r)
    Session.stop(spark)
  }

  /** The traced run: both phases again, in the same order and at half the
    * length (so the run stays within its time limit), with the job tracer
    * attached and the parse counter in the plan. Micro-batch and scheduler
    * figures come from the steady phase, state figures from the bulk phase. */
  private def traced(spark0: SparkSession, o: Opts, plainSteady: Phase, plainBulk: Phase,
                     r: Report): Unit = {
    var spark = spark0
    val tracer = new JobTracer
    spark.sparkContext.addSparkListener(tracer)
    val half = o.copy(seconds = math.max(1, o.seconds / 2))
    val (pb, b, outB) = phase(spark, half, open = false, traced = true, r)
    val (pa, a, outA) = phase(spark, half, open = true, traced = true, r)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (jobs, stages) = tracer.snapshot

    val t = new Trace(s"${o.workload}-seed${o.seed}-${ProcessHandle.current().pid()}")
    val root = t.add(-1, "run", o.workload, b.t0, a.tEnd)
    val stagesByJob = stages.groupBy(_.job)
    Seq(("bulk", pb, b), ("steady", pa, a)).foreach { case (name, p, ph) =>
      val load = t.add(root, "load", name, ph.t0, ph.tEnd)
      val in = jobs.filter(j => j.start >= ph.t0 && j.start <= ph.tEnd)
      Trace.addBatches(t, load, ph.batches, in, stages)
      in.filterNot(j => j.query.contains(p.q.id.toString) &&
          ph.batches.exists(bt => j.batch.contains(bt.batchId)))
        .foreach(j => Trace.addJob(t, load, j, stagesByJob))
    }

    val both = a.batches ++ b.batches
    Layers.gen(r, a.chunks.drop(a.warmChunks) ++ b.chunks.drop(b.warmChunks),
      math.max(a.lateMaxMs, b.lateMaxMs))
    val valid = both.flatMap(bt => Option(bt.observedMetrics.get("perfbench_parse")))
      .map(_.getLong(0)).sum
    Layers.parse(r, both.map(_.numInputRows).sum, valid,
      Layers.parseReplay(spark, o, b.chunks.flatMap(_.rows))._1)
    Layers.state(r, b.batches, both)
    Layers.microbatch(r, a.batches)
    Layers.sink(r, outA + outB, Layers.sinkReplay(spark))
    val windows = Seq(pa, pb).map(p => spark.table(p.sink).select("key").distinct().count()).sum
    r.info("sink.rows_per_closed_window",
      if (windows > 0) (outA + outB).toDouble / windows else 0.0, "ratio")
    Layers.spark(r, SparkTotals.over(jobs, stages, a.t0, a.tEnd), a.batches.size)
    Layers.traceStats(r, t, root,
      Stats.median(a.latencies) / Stats.median(plainSteady.latencies) - 1.0)
    Layers.gatesJobs(r, Map.empty)
    r.info("trace.overhead_ratio_bulk", plainBulk.eventsPerS / b.eventsPerS - 1.0, "ratio")
    r.info("traced.latency_p50_ms", Stats.median(a.latencies), "ms")
    r.info("traced.events_per_s", b.eventsPerS, "1/s")

    Session.stop(spark)
    val one = o.copy(cpus = 1, seconds = 3)
    spark = Session.build(one, 1)
    val p1 = start(spark, one, Bulk, traced = false)
    val single = timed(p1, one, open = false, Bulk)
    p1.q.stop()
    r.info("bulk.single_thread_events_per_s", single.eventsPerS, "1/s")
    Session.stop(spark)
    Layers.writeTrace(o, t)
  }
}
