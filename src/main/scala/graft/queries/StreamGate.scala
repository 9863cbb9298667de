package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The streaming-gate protocol, once. A stream is a sequence of
  * deterministic batch jobs over staged, immutable inputs, with state
  * carried from one batch to the next (D-Streams); every gate in
  * StreamingQueries gets each of those three parts from here:
  *
  *  1. INPUT — a [[Feed]] ([[feed]] / [[fixtureFeed]]) stages batch 1 in a
  *     fresh scratch dir before the query starts, opens the file stream
  *     over it, and names each later batch's delivery file in order;
  *  2. RUN — [[run]] pins the state partitions on the gate's isolated
  *     child session, names the query (and so the memory sink's table)
  *     from a process-wide sequence so concurrent runs of one gate never
  *     collide, starts it and drains the initial batch, then writes each
  *     later file with [[writeOneFile]] and drains after each one — batch
  *     boundaries come from PROGRESSIVE DELIVERY (a file is written only
  *     after the previous batch commits), never from file mtimes; it
  *     optionally checks how many data micro-batches the source
  *     delivered, and always stops through [[drainStop]], also when a
  *     step above throws;
  *  3. STATE — [[versioned]] is the foreachBatch form: a versioned store
  *     of the gate's named state relations, folded by the gate's merge
  *     one micro-batch at a time.
  */
private[queries] object StreamGate {

  type Sink = DataStreamWriter[Row] => DataStreamWriter[Row]

  private val runSeq = new AtomicInteger(0)

  /** A gate's staged input: batch 1 already sits in the watched dir
    * `<scratch>/in` (the stream's star-dot-parquet glob), and
    * `deliveries` pairs each later batch with the file it is delivered
    * as, in delivery order — the `deliver` argument of [[run]]. The
    * scratch dir also holds the gate's other files (state versions, sink,
    * checkpoint). */
  final class Feed private[StreamGate] (s: SparkSession, val scratch: Path,
      schema: StructType, later: Seq[DataFrame]) {
    private[StreamGate] val watched =
      Files.createDirectories(scratch.resolve("in"))

    /** The file stream over the feed. Each call opens its own source (a
      * stream-stream join reads the feed twice). */
    def stream(): DataFrame =
      s.readStream.schema(schema).parquet(s"$watched/*.parquet")

    val deliveries: Seq[(Path, DataFrame)] = later.zipWithIndex.map {
      case (rows, i) => watched.resolve(s"batch${i + 2}.parquet") -> rows
    }
  }

  /** A feed whose batch 1 is `batch1`'s rows, written as one file; the
    * stream reads `batch1`'s schema. */
  def feed(s: SparkSession, tag: String, dir: String, batch1: DataFrame,
      later: DataFrame*): Feed = {
    val f = new Feed(s, freshScratch(tag, dir), batch1.schema, later)
    writeOneFile(batch1, f.watched.resolve("batch1.parquet"))
    f
  }

  /** A feed whose batch 1 is the fixture's events table itself, COPIED as
    * files, never rewritten through Spark; the stream reads it as
    * `Schemas.eventsRawMicros`. Driver testdata ships `events.parquet` as
    * ONE file; ScaleGen corpora (the scale probes' inputs) write a
    * multi-part parquet DIRECTORY — every part file is staged flat, so the
    * glob sees all of them as the initial batch either way
    * (FileStreamSource puts every file available at start into the first
    * batch). */
  def fixtureFeed(s: SparkSession, tag: String, dir: String,
      later: DataFrame*): Feed = {
    val f = new Feed(s, freshScratch(tag, dir),
      graft.model.Schemas.eventsRawMicros, later)
    val src = Paths.get(dir, "events.parquet")
    if (Files.isDirectory(src)) {
      val list = Files.list(src)
      try {
        val parts = list.iterator()
        var i = 0
        while (parts.hasNext) {
          val p = parts.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            Files.copy(p, f.watched.resolve(f"batch1_$i%05d.parquet"))
            i += 1
          }
        }
      } finally list.close()
    } else Files.copy(src, f.watched.resolve("batch1.parquet"))
    f
  }

  /** An empty relation of `schema`: a state relation's initial value. */
  def empty(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** The gate's scratch dir (`scratchPath`), emptied and recreated. */
  def freshScratch(tag: String, dir: String): Path = {
    val tmp = Paths.get(scratchPath(tag, dir))
    deleteTree(tmp)
    Files.createDirectories(tmp)
  }

  /** Run `out` to completion as `tag`'s streaming query in output `mode`,
    * delivering `deliver`'s (target file, rows) pairs one micro-batch at a
    * time after the initial drain, into `sink` (by default an in-memory
    * table named after the query). `dataBatches` ≥ 0 requires exactly that
    * many micro-batches with input rows — for gates whose oracle assumes
    * the delivery split, so a source-batching change fails here, loudly,
    * instead of hash-mismatching obscurely at the oracle compare. Returns
    * the query name, which is the memory sink's table. */
  def run(s: SparkSession, tag: String, out: DataFrame, mode: String,
      sink: Sink = _.format("memory"), deliver: Seq[(Path, DataFrame)] = Nil,
      dataBatches: Int = -1): String = {
    // A streaming query pins its STATE partitioning to
    // spark.sql.shuffle.partitions at start, and every micro-batch then
    // pays one state-store instance (for RocksDB: one native DB
    // open/commit) per partition — at the gate's data scale, 32 partitions
    // is pure overhead (measured 8.6 s → ~2 s). Gates pin 4, deterministic
    // across 4- and 32-cpu hosts; state partition count is a
    // per-deployment sizing knob, not a semantic (at cluster scale, size
    // it to executors × cores). No restore: the conf lives on the gate's
    // isolated child session, which no other query shares.
    s.conf.set("spark.sql.shuffle.partitions", 4)
    val name = s"${tag}_${runSeq.incrementAndGet()}"
    val q = sink(out.writeStream.queryName(name).outputMode(mode)).start()
    try {
      q.processAllAvailable()
      deliver.foreach { case (target, rows) =>
        writeOneFile(rows, target)
        q.processAllAvailable()
      }
      if (dataBatches >= 0) {
        val seen = q.recentProgress.count(_.numInputRows > 0)
        require(seen == dataBatches, s"$name expected exactly $dataBatches " +
          s"data micro-batches, but the source delivered $seen")
      }
    } finally drainStop(q)
    name
  }

  /** The versioned-state form: `in` runs over `feed` into a foreachBatch
    * sink that keeps the gate's named `state` relations, each starting at
    * its given initial value (an empty relation, or a snapshot). `merge`
    * folds each NON-EMPTY micro-batch into the current versions and
    * returns the next ones, in `state`'s order; each is written to a NEW
    * version dir `<scratch>/<name>_v<batchId>`, so a reader never sees a
    * half-written table and a replayed batch rewrites v_k from v_{k−1}.
    * Empty batches — the no-data batches a watermark advance triggers —
    * are skipped, and exactly `merges` merges must have run when the
    * stream drains. Returns the final versions. */
  def versioned(s: SparkSession, tag: String, in: DataFrame, feed: Feed,
      merges: Int, state: (String, DataFrame)*)(
      merge: (DataFrame, Seq[DataFrame]) => Seq[DataFrame]): Seq[DataFrame] = {
    val (names, initial) = state.unzip
    var current = initial
    val merged = new AtomicInteger(0)
    run(s, tag, in, "append", _.foreachBatch { (df: DataFrame, id: Long) =>
      if (!df.isEmpty) {
        val next = merge(df, current)
        require(next.size == names.size,
          s"$tag's merge returned ${next.size} relations for ${names.size}")
        val outs = names.map(n => feed.scratch.resolve(s"${n}_v$id").toString)
        writeAll(next.zip(outs))
        current = outs.map(s.read.parquet(_))
        merged.incrementAndGet()
      }
      ()
    }, feed.deliveries)
    require(merged.get() == merges,
      s"$tag expected exactly $merges merged batches, saw ${merged.get()}")
    current
  }

  /** Write each (relation, dir) pair; the writes are independent actions
    * on disjoint dirs, so all but the last run concurrently with it and
    * the second's tasks back-fill the first's stragglers (optimization
    * guide §2.6 "overlap independent jobs"). `blocking`: each future
    * parks its thread on a Spark action, so the global pool may
    * compensate instead of starving under nested or parallel use. The
    * inline write may THROW while a concurrent one is still in flight, so
    * every concurrent write is awaited before this returns or rethrows —
    * else a live job keeps writing a state dir as the exception
    * propagates. */
  private def writeAll(writes: Seq[(DataFrame, String)]): Unit = {
    def write(w: (DataFrame, String)): Unit =
      w._1.write.mode("overwrite").parquet(w._2)
    val pending = writes.init.map(w => Future(blocking(write(w))))
    try write(writes.last)
    finally pending.foreach(Await.ready(_, Duration.Inf))
    pending.foreach(Await.result(_, Duration.Inf))
  }

  /** Stop a gate's streaming query, first offering its last micro-batch
    * plan to the audit recorder (a volatile-read no-op outside
    * `graft.Inspect static` — see StreamPlanCapture), so PLANS.md can pin
    * streaming plans like batch ones.
    *
    * `SPARK_GRAFT_STREAM_PROBE=1` (a measurement knob; unset in normal
    * runs) additionally prints each micro-batch's engine-reported
    * durationMs breakdown (triggerExecution = whole batch; addBatch =
    * plan+run+sink; walCommit/commitOffsets = offset/commit log fsyncs;
    * getBatch/latestOffset = source), the direct evidence for where the
    * machinery gap of a gate goes (guide §1: measure first). */
  private def drainStop(q: StreamingQuery): Unit = {
    graft.plans.StreamPlanCapture.record(q)
    if (sys.env.get("SPARK_GRAFT_STREAM_PROBE").contains("1")) {
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).fold(-1L)(_.longValue())
        println(s"[stream-probe] ${p.name} batch=${p.batchId} " +
          s"trigger=${ms("triggerExecution")} addBatch=${ms("addBatch")} " +
          s"walCommit=${ms("walCommit")} commitOffsets=${ms("commitOffsets")} " +
          s"getBatch=${ms("getBatch")} latestOffset=${ms("latestOffset")} " +
          s"queryPlanning=${ms("queryPlanning")} rows=${p.numInputRows}")
      }
    }
    q.stop()
  }

  /** Write `df` as the single parquet file `target`, atomically.
    *
    * Staging happens in a SIBLING of the watched dir, never inside it: the
    * watched dir is what the gate's `readStream` globs with a
    * star-dot-parquet pattern, and a staging DIRECTORY named
    * `_stage_X.parquet` inside it matches that glob — the source's poll can
    * then list the part-file within during the write→move window and fail
    * its next getBatch with FileNotFound once the move takes the file away
    * (the leading underscore hides the dir from a batch read's file index,
    * but glob expansion matches it first). Only the atomic `Files.move`
    * endpoint may ever be visible under the glob. */
  def writeOneFile(df: DataFrame, target: Path): Unit = {
    val watched = target.getParent
    val scratch = watched.resolveSibling(
      s"${watched.getFileName}_stage_${target.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val list = Files.list(scratch)
    val part = try list
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    finally list.close()
    Files.move(part, target)
    // the staging dir may sit OUTSIDE the gate's scratch root (when the
    // watched dir is the root itself), where a fresh scratch never reclaims it
    deleteTree(scratch)
  }
}
