package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, runDir: String, dataDir: String, perturb: Boolean, traceFile: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Opts(get("workload", ""), get("seed", "1").toLong, get("seconds", "10").toInt,
      get("trace", "0") == "1", Runtime.getRuntime.availableProcessors,
      get("run-dir", "."), get("data-dir", ""), get("perturb", "0") == "1",
      get("trace-file", ""))
  }
}

/** The benchmark's session: the same settings as graft.Bench (local[n],
  * n shuffle and state partitions, AQE, zstd, UTC), plus the progress tap
  * and scratch paths inside the run directory. */
object Session {
  def build(o: Opts, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[ProgressTap].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Recorded: Seq[String] = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.io.compression.codec",
    "spark.sql.session.timeZone", "spark.sql.streaming.stateStore.providerClass")

  def confLine(s: SparkSession): String =
    Recorded.map(k => s"$k=${s.conf.getOption(k).getOrElse("<default>")}").mkString(" ")

  /** Stop the session and its context, so the next build starts afresh. */
  def stop(s: SparkSession): Unit = if (!s.sparkContext.isStopped) {
    s.streams.active.foreach(_.stop())
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank), with that percentile; the maximum when there are fewer than 11. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, 0.0)
    else if (s.size < 11) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }
}

/** Metrics of one run: the end-to-end and per-layer sets that go into the
  * result line, and extra named figures that are only printed. */
final class Report {
  val endToEnd = ArrayBuffer.empty[(String, Double, String)]
  val perLayer = ArrayBuffer.empty[(String, Double, String)]
  val extra = ArrayBuffer.empty[(String, Double, String)]
  var attempted = 0L
  var failed = 0L

  def e2e(n: String, v: Double, u: String): Unit = endToEnd += ((n, v, u))
  def layer(n: String, v: Double, u: String): Unit = perLayer += ((n, v, u))
  def info(n: String, v: Double, u: String): Unit = extra += ((n, v, u))
  def note(s: String): Unit = println(s"[perfbench] $s")

  def print(trace: Boolean): Unit = {
    def show(title: String, xs: Seq[(String, Double, String)]): Unit = if (xs.nonEmpty) {
      println(s"[perfbench] -- $title")
      xs.foreach { case (n, v, u) => println(f"[perfbench]   $n%-40s ${Json.num(v)}%s $u") }
    }
    show("end-to-end", endToEnd.toSeq)
    show("per-layer", perLayer.toSeq)
    show("context", extra.toSeq)
    val ratio = if (attempted > 0) failed.toDouble / attempted else 0.0
    println(f"[perfbench]   ${"ops_failed_ratio"}%-40s ${Json.num(ratio)} ratio ($failed failed / $attempted attempted)")
    val ms = (if (trace) perLayer else endToEnd).map { case (n, v, u) =>
      s"${Json.str(n)}:{" + "\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString("{", ",", "}")
    println("PERFBENCH_RESULT {\"attempted\":" + attempted + ",\"failed\":" + failed +
      ",\"metrics\":" + ms + "}")
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val r = new Report
    o.workload match {
      case "stream" => Streams.run(o, jvmStart, r)
      case "gates" => Gates.run(o, jvmStart, r)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    r.print(o.trace)
    System.exit(0)
  }
}
