package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The streaming-gate protocol, once. Every gate in StreamingQueries runs
  * its query through [[run]] (or its versioned-state form [[versioned]]):
  *
  *  1. pin the state partitions on the gate's isolated child session;
  *  2. name the query (and so the memory sink's table) from a process-wide
  *     sequence, so concurrent runs of one gate never collide;
  *  3. start it and drain the initial batch — whatever the source holds at
  *     start (files the gate staged, or the fixture itself);
  *  4. deliver each later file with [[writeOneFile]] and drain after each
  *     one, so batch boundaries come from PROGRESSIVE DELIVERY (a file is
  *     written only after the previous batch commits), never from file
  *     mtimes — the gates carry no wall-clock coupling;
  *  5. optionally check how many data micro-batches the source delivered;
  *  6. always stop through [[drainStop]], also when a step above throws.
  */
private[queries] object StreamGate {

  type Sink = DataStreamWriter[Row] => DataStreamWriter[Row]

  private val runSeq = new AtomicInteger(0)

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

  /** The versioned-state form: a foreachBatch sink whose `merge` folds each
    * NON-EMPTY micro-batch into the gate's state relations (written to a new
    * versioned directory per batch, so a reader never sees a half-written
    * table and a replayed batch rewrites v_k from v_{k−1}). Empty batches —
    * the no-data batches a watermark advance triggers — are skipped, and
    * exactly `merges` merges must have run when the stream drains. */
  def versioned(s: SparkSession, tag: String, in: DataFrame,
      deliver: Seq[(Path, DataFrame)], merges: Int)(
      merge: (DataFrame, Long) => Unit): Unit = {
    val merged = new AtomicInteger(0)
    run(s, tag, in, "append", _.foreachBatch { (df: DataFrame, id: Long) =>
      if (!df.isEmpty) {
        merge(df, id)
        merged.incrementAndGet()
      }
      ()
    }, deliver)
    require(merged.get() == merges,
      s"$tag expected exactly $merges merged batches, saw ${merged.get()}")
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
