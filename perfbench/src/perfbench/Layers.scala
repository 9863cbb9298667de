package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{KafkaTransport, UniqueUsersStream}

/** Per-layer metrics of a traced run, named by the module they measure.
  * Times under `microbatch.` and `state.` are per-batch means; `spark.`
  * figures are totals over the timed region. */
object Layers {
  /** The gate set, in run order: two batch controls (the flagship and one
    * built on localCheckpoint), then the flagship streaming gate and the
    * costliest one (the most Spark jobs per batch). */
  val GateNames: Seq[String] = Seq(
    "unique_users_per_minute", "minhash_lsh_pairs", "streaming_unique_users",
    "streaming_sessions_funnel")

  def gen(r: Report, chunks: Seq[Chunk], lateMaxMs: Double): Unit = {
    r.layer("gen.events", chunks.map(_.rows.length.toLong).sum.toDouble, "count")
    r.layer("gen.rejects_planted", chunks.map(_.rejects).sum.toDouble, "count")
    r.layer("gen.late_planted", chunks.map(_.late).sum.toDouble, "count")
    r.info("gen.late_ms_max", lateMaxMs, "ms")
  }

  def parse(r: Report, rowsIn: Long, valid: Long, msPer100k: Double): Unit = {
    r.layer("parse.rows_in", rowsIn.toDouble, "count")
    r.layer("parse.rows_valid", valid.toDouble, "count")
    r.layer("parse.valid_ratio", if (rowsIn > 0) valid.toDouble / rowsIn else 0.0, "ratio")
    r.layer("parse.ms_per_100k", msPer100k, "ms")
  }

  private def timedMedian(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
    })

  /** KafkaTransport.frames over 100k of the run's own wire records (cycled
    * if the run had fewer), cached, into the noop sink: median of three.
    * Returns that time and the number of valid frames among the 100k. */
  def parseReplay(spark: SparkSession, o: Opts, rows: Seq[Wire.Rec]): (Double, Long) = {
    import spark.implicits._
    val sample = Iterator.continually(rows).flatten.take(100000).toSeq
    val df = spark.sparkContext.parallelize(sample, o.cpus).toDF(
      KafkaTransport.wireSchema.fieldNames.toIndexedSeq: _*).cache()
    df.count()
    val valid = KafkaTransport.frames(df).count()
    val ms = timedMedian(3)(
      KafkaTransport.frames(df).write.format("noop").mode("overwrite").save())
    df.unpersist(blocking = true)
    (ms, valid)
  }

  /** UniqueUsersStream.toKafkaRecords over 100k cached window counts. */
  def sinkReplay(spark: SparkSession): Double = {
    val counts = spark.range(100000).select(
      timestamp_seconds(lit(Wire.BaseEventS) + col("id") * 60).as("window_start"),
      timestamp_seconds(lit(Wire.BaseEventS) + col("id") * 60 + 60).as("window_end"),
      (col("id") % 5000).as("unique_users")).cache()
    counts.count()
    UniqueUsersStream.toKafkaRecords(counts).write.format("noop").mode("overwrite").save()
    val ms = timedMedian(3)(
      UniqueUsersStream.toKafkaRecords(counts).write.format("noop").mode("overwrite").save())
    counts.unpersist(blocking = true)
    ms
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Dedup (`dropDuplicates`) and window-aggregate state operators over
    * `batches`; late rows dropped by the watermark over `all`. */
  def state(r: Report, batches: Seq[StreamingQueryProgress],
            all: Seq[StreamingQueryProgress]): Unit = {
    def kind(name: String) =
      if (name.startsWith("dedupe")) "dedup" else if (name == "stateStoreSave") "agg" else "other"
    Seq("dedup", "agg").foreach { k =>
      val ops = batches.map(_.stateOperators.filter(op => kind(op.operatorName) == k).toSeq)
      val last = batches.reverse.map(_.stateOperators.filter(op => kind(op.operatorName) == k))
        .find(_.nonEmpty).getOrElse(Array.empty)
      r.layer(s"state.$k.rows_total", last.map(_.numRowsTotal).sum.toDouble, "count")
      r.layer(s"state.$k.rows_updated", ops.flatten.map(_.numRowsUpdated).sum.toDouble, "count")
      r.layer(s"state.$k.rows_removed", ops.flatten.map(_.numRowsRemoved).sum.toDouble, "count")
      r.layer(s"state.$k.update_ms", mean(ops.map(_.map(_.allUpdatesTimeMs).sum.toDouble)), "ms")
      r.layer(s"state.$k.removal_ms", mean(ops.map(_.map(_.allRemovalsTimeMs).sum.toDouble)), "ms")
      r.layer(s"state.$k.commit_ms", mean(ops.map(_.map(_.commitTimeMs).sum.toDouble)), "ms")
      r.layer(s"state.$k.mem_bytes",
        ops.map(_.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0), "bytes")
    }
    r.layer("state.dropped_by_watermark",
      all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    r.layer("state.instances", batches.lastOption
      .fold(0L)(_.stateOperators.map(_.numStateStoreInstances).sum).toDouble, "count")
  }

  def microbatch(r: Report, batches: Seq[StreamingQueryProgress]): Unit = {
    def m(k: String) = mean(batches.map(Progress.durMs(_, k)))
    r.layer("microbatch.batches", batches.size.toDouble, "count")
    r.layer("microbatch.nodata_batches", batches.count(_.numInputRows == 0).toDouble, "count")
    r.layer("microbatch.trigger_ms_p50",
      if (batches.isEmpty) 0.0 else Stats.median(batches.map(Progress.durMs(_, "triggerExecution"))), "ms")
    r.layer("microbatch.add_batch_ms", m("addBatch"), "ms")
    r.layer("microbatch.wal_commit_ms", m("walCommit"), "ms")
    r.layer("microbatch.commit_offsets_ms", m("commitOffsets"), "ms")
    r.layer("microbatch.query_planning_ms", m("queryPlanning"), "ms")
    r.layer("microbatch.latest_offset_ms", m("latestOffset"), "ms")
    r.layer("microbatch.get_batch_ms", m("getBatch"), "ms")
    r.layer("microbatch.overhead_ms", m("triggerExecution") - m("addBatch"), "ms")
  }

  def sink(r: Report, rowsOut: Long, msPer100k: Double): Unit = {
    r.layer("sink.rows_out", rowsOut.toDouble, "count")
    r.layer("sink.ms_per_100k", msPer100k, "ms")
  }

  def spark(r: Report, s: SparkTotals, batches: Int): Unit = {
    r.layer("spark.jobs", s.jobs.toDouble, "count")
    r.layer("spark.tasks", s.tasks.toDouble, "count")
    r.layer("spark.jobs_per_batch", if (batches > 0) s.jobs.toDouble / batches else 0.0, "ratio")
    r.layer("spark.executor_run_ms", s.runMs, "ms")
    r.layer("spark.executor_cpu_ms", s.cpuMs, "ms")
    r.layer("spark.shuffle_read_bytes", s.shuffleRead, "bytes")
    r.layer("spark.shuffle_write_bytes", s.shuffleWrite, "bytes")
    r.layer("spark.spill_bytes", s.spill, "bytes")
    r.layer("spark.busy_ms", s.busyMs, "ms")
    r.layer("spark.driver_gap_ms", s.gapMs, "ms")
  }

  /** Tracing overhead against the untraced phase of the same run, and the
    * share of batch wall that no phase span covers. */
  def traceStats(r: Report, t: Trace, root: Int, overhead: Double): Unit = {
    val bs = t.all.filter(_.kind == "batch")
    val self = t.selfTimes
    val wall = bs.map(_.dur).sum
    r.layer("trace.overhead_ratio", overhead, "ratio")
    r.layer("trace.unattributed_ratio",
      if (wall > 0) bs.map(b => self(b.id)).sum / wall else 0.0, "ratio")
    t.selfByKind(root).toSeq.sortBy(_._1).foreach { case (k, v) =>
      r.info(s"trace.self_ms.$k", v, "ms")
    }
  }

  def gatesJobs(r: Report, jobs: Map[String, Int]): Unit =
    GateNames.foreach(g => r.layer(s"gates.$g.jobs", jobs.getOrElse(g, 0).toDouble, "count"))

  def writeTrace(o: Opts, t: Trace): Unit = if (o.traceFile.nonEmpty) {
    val p = java.nio.file.Paths.get(o.traceFile)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, t.toJson.getBytes("UTF-8"))
    println(s"[perfbench] spans written to ${o.traceFile}")
  }
}
