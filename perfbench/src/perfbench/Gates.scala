package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.SparkEntry

/** The streaming-gate set: registry queries (SparkEntry.queries) over
  * generated tables, each forced through the noop sink like graft.Bench. */
object Gates {
  val DocGates: Set[String] = Set("minhash_lsh_pairs")

  final class Pass(val walls: Map[String, (Double, Double)], val errors: Map[String, String],
      val rows: Map[String, Long], val batches: Seq[StreamingQueryProgress], val t0: Double,
      val tEnd: Double) {
    def total: Double = walls.values.map { case (a, b) => b - a }.sum
    def rowsOut: Long = rows.values.sum
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass over the gate set. With `out`, each result is
    * also written as parquet for the oracle check, outside the timing. */
  def pass(spark: SparkSession, dir: String, out: Option[String]): Pass = {
    val seen = Progress.all.size
    val walls = mutable.LinkedHashMap.empty[String, (Double, Double)]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val rows = mutable.LinkedHashMap.empty[String, Long]
    Layers.GateNames.foreach { n =>
      val a = System.currentTimeMillis().toDouble
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        noop(df)
        walls(n) = (a, System.currentTimeMillis().toDouble)
        out.foreach { d =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$d/$n")
          rows(n) = spark.read.parquet(s"$d/$n").count()
        }
      } catch {
        case e: Throwable =>
          walls(n) = (a, System.currentTimeMillis().toDouble)
          errors(n) = e.toString
      }
      spark.catalog.clearCache()
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val batches = Progress.all.drop(seen)
    new Pass(walls.toMap, errors.toMap, rows.toMap, batches,
      walls.values.map(_._1).min, walls.values.map(_._2).max)
  }

  def run(o: Opts, jvmStart: Double, r: Report): Unit = {
    val dir = o.dataDir
    // set-up: JVM start to the end of one untimed pass over the gate set,
    // on the tenth-size tables in `warm/`: it compiles the same plans, so
    // the timed pass measures warm runs, at less than the cost of a full pass
    val spark = Session.build(o, o.cpus)
    val warm = pass(spark, s"$dir/warm", None)
    warm.errors.foreach { case (n, e) => r.note(s"gate $n failed in the warm-up pass: $e") }
    val setup = (System.currentTimeMillis() - jvmStart) / 1000.0
    println(s"[perfbench] conf ${Session.confLine(spark)}")

    val events = spark.read.parquet(s"$dir/events.parquet").count()
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    val inputRows = Layers.GateNames.map(n => if (DocGates(n)) docs else events).sum

    val out = s"${o.runDir}/gates-out"
    val plain = pass(spark, dir, Some(out))
    // a gate that threw is counted here and left out of the oracle check
    val oracles = Layers.GateNames.filterNot(plain.errors.contains).map(n =>
      Json.str(n) + ":" + Json.str(SparkEntry.oracleSql(n))).mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      oracles.getBytes("UTF-8"))
    plain.errors.foreach { case (n, e) => r.note(s"gate $n failed: $e") }
    r.attempted += Layers.GateNames.size
    r.failed += plain.errors.size

    // a gate's latency is its wall from call to materialized result
    val lat = plain.walls.values.map { case (a, b) => b - a }.toSeq
    val (tail, tailPct) = Stats.tail(lat)
    r.e2e("events_per_s", inputRows / plain.total * 1000.0, "1/s")
    r.e2e("latency_p50_ms", Stats.median(lat), "ms")
    r.e2e("latency_tail_ms", tail, "ms")
    r.e2e("state_mem_peak_mb", plain.batches.map(
      _.stateOperators.map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0) / (1 << 20), "MB")
    r.e2e("setup_s", setup, "s")
    r.info("gates_total_s", plain.total / 1000.0, "s")
    r.info("latency_tail_percentile", tailPct, "%")
    r.info("latency_samples", lat.size, "count")
    r.info("input_rows", inputRows, "count")
    Layers.GateNames.foreach { n =>
      val (a, b) = plain.walls(n)
      r.info(s"gates.$n.wall_s", (b - a) / 1000.0, "s")
      plain.rows.get(n).foreach(k => r.info(s"gates.$n.rows_out", k.toDouble, "count"))
    }

    if (o.trace) traced(spark, o, plain, r)
    Session.stop(spark)
  }

  private def traced(spark: SparkSession, o: Opts, plain: Pass, r: Report): Unit = {
    val tracer = new JobTracer
    spark.sparkContext.addSparkListener(tracer)
    val ph = pass(spark, o.dataDir, None)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (jobs, stages) = tracer.snapshot
    r.failed += ph.errors.size
    r.attempted += Layers.GateNames.size

    val t = new Trace(s"gates-seed${o.seed}-${ProcessHandle.current().pid()}")
    val root = t.add(-1, "run", "gates", ph.t0, ph.tEnd)
    val stagesByJob = stages.groupBy(_.job)
    val perGate = Layers.GateNames.map { n =>
      val (a, b) = ph.walls(n)
      val g = t.add(root, "query", n, a, b)
      val bs = ph.batches.filter(p => Progress.startMs(p) >= a && Progress.startMs(p) <= b)
      val js = jobs.filter(j => j.start >= a && j.start <= b)
      Trace.addBatches(t, g, bs, js, stages)
      js.filterNot(j => j.batch.isDefined && bs.exists(p =>
          j.query.contains(p.id.toString) && j.batch.contains(p.batchId)))
        .foreach(j => Trace.addJob(t, g, j, stagesByJob))
      val s = SparkTotals.over(jobs, stages, a, b)
      r.info(s"gates.$n.tasks", s.tasks.toDouble, "count")
      r.info(s"gates.$n.busy_s", s.busyMs / 1000.0, "s")
      r.info(s"gates.$n.driver_gap_s", s.gapMs / 1000.0, "s")
      n -> s.jobs
    }.toMap

    // the gate set parses no wire records: gen and parse describe the
    // parse replay, 100k wire records of the steady load's shape
    val replay = new Wire(o.seed, Streams.Steady, o.cpus)
    val chunks = (0 until 100000 / Streams.Steady.records).map(replay.chunk(_))
    r.layer("gen.events", chunks.map(_.rows.length).sum.toDouble, "count")
    r.layer("gen.rejects_planted", chunks.map(_.rejects).sum.toDouble, "count")
    r.layer("gen.late_planted", chunks.map(_.late).sum.toDouble, "count")
    val (parseMs, valid) = Layers.parseReplay(spark, o, chunks.flatMap(_.rows))
    Layers.parse(r, chunks.map(_.rows.length.toLong).sum, valid, parseMs)
    Layers.state(r, ph.batches, ph.batches)
    Layers.microbatch(r, ph.batches)
    Layers.sink(r, plain.rowsOut, Layers.sinkReplay(spark))
    Layers.spark(r, SparkTotals.over(jobs, stages, ph.t0, ph.tEnd), ph.batches.size)
    Layers.traceStats(r, t, root, ph.total / plain.total - 1.0)
    Layers.gatesJobs(r, perGate)
    r.info("traced.gates_total_s", ph.total / 1000.0, "s")
    Layers.writeTrace(o, t)
  }
}
