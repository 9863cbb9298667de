package graft.queries

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, udf}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

/** The streaming-gate harness on a scratch dir this suite owns: delivered
  * files arrive one micro-batch each, a batch-count mismatch fails the
  * gate while still stopping its query, and the versioned state store
  * folds each batch into the previous versions, waiting for every
  * concurrent state write before it rethrows a failed one. */
class StreamGateSpec extends SparkSpec {

  private val schema = StructType(Seq(StructField("id", LongType)))

  /** Run `f` on a fresh child session (the gates' own isolation, so the
    * harness's conf writes stay off the shared session) over an empty
    * watched dir, deleted afterwards. */
  private def withFeed(f: (SparkSession, Path) => Unit): Unit = {
    val root = Files.createTempDirectory("stream_gate_spec")
    try {
      val feed = Files.createDirectories(root.resolve("feed"))
      f(spark.newSession(), feed)
    } finally deleteTree(root)
  }

  private def ids(s: SparkSession, from: Long, to: Long) =
    s.range(from, to).toDF("id")

  private def stream(s: SparkSession, feed: Path) =
    s.readStream.schema(schema).parquet(s"$feed/*.parquet")

  test("two delivered files arrive as exactly two data micro-batches") {
    withFeed { (s, feed) =>
      val sink = StreamGate.run(s, "gate_spec", stream(s, feed), "append",
        deliver = Seq(feed.resolve("b1.parquet") -> ids(s, 0, 3),
          feed.resolve("b2.parquet") -> ids(s, 3, 5)),
        dataBatches = 2)
      assert(s.table(sink).collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 5L))
      assert(s.streams.active.isEmpty)
    }
  }

  test("a batch-count mismatch throws and still stops the query") {
    withFeed { (s, feed) =>
      val e = intercept[IllegalArgumentException] {
        StreamGate.run(s, "gate_spec_mismatch", stream(s, feed), "append",
          deliver = Seq(feed.resolve("b1.parquet") -> ids(s, 0, 3),
            feed.resolve("b2.parquet") -> ids(s, 3, 5)),
          dataBatches = 3)
      }
      assert(e.getMessage.contains("source delivered 2"), e.getMessage)
      assert(s.streams.active.isEmpty,
        s"query left running: ${s.streams.active.map(_.name).mkString(", ")}")
    }
  }

  /** Run `f` on a fresh child session over `tag`'s feed of `batches`,
    * deleting the feed's scratch dir afterwards. */
  private def withStagedFeed(tag: String, batches: (Long, Long)*)(
      f: (SparkSession, StreamGate.Feed) => Unit): Unit = {
    val s = spark.newSession()
    val Seq(first, later @ _*) = batches.map { case (a, b) => ids(s, a, b) }
    val feed = StreamGate.feed(s, tag, "stream_gate_spec", first, later: _*)
    try f(s, feed) finally deleteTree(feed.scratch)
  }

  test("versioned folds each batch into the previous state versions") {
    withStagedFeed("gate_spec_fold", (0L, 3L), (3L, 5L)) { (s, feed) =>
      val seen = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]()
      val Seq(all, sizes) = StreamGate.versioned(s, "gate_spec_fold",
          feed.stream(), feed, merges = 2,
          "all" -> StreamGate.empty(s, schema),
          "sizes" -> StreamGate.empty(s, schema)) { (df, cur) =>
        seen.add((cur(0).count(), cur(1).count()))
        Seq(cur(0).unionByName(df),
          cur(1).unionByName(df.agg(count(lit(1)).as("id"))))
      }
      // merge 2 saw merge 1's versions: 3 rows of `all`, 1 of `sizes`
      assert(seen.asScala.toSeq == Seq((0L, 0L), (3L, 1L)))
      assert(all.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
      assert(sizes.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
      assert(all.inputFiles.nonEmpty &&
        all.inputFiles.forall(_.contains("/all_v1/")), all.inputFiles.toSeq)
      assert(sizes.inputFiles.nonEmpty &&
        sizes.inputFiles.forall(_.contains("/sizes_v1/")), sizes.inputFiles.toSeq)
      assert(s.streams.active.isEmpty)
    }
  }

  test("a failed state write rethrows only after the concurrent one finished") {
    withStagedFeed("gate_spec_fail", (0L, 1L)) { (s, feed) =>
      val slow = udf { (id: Long) => Thread.sleep(1500); id }
      val boom = udf { (id: Long) =>
        if (id >= 0) throw new IllegalStateException("boom"); id }
      // either order: the failing write inline with the slow one in
      // flight, and the slow one inline with the failure already in
      Seq(Seq("slow", "boom"), Seq("boom", "slow")).foreach { names =>
        deleteTree(feed.scratch.resolve("slow_v0"))
        val e = intercept[StreamingQueryException] {
          StreamGate.versioned(s, "gate_spec_fail", feed.stream(), feed,
              merges = 1, names.map(_ -> StreamGate.empty(s, schema)): _*) {
            (df, _) => names.map(n =>
              df.select((if (n == "slow") slow else boom)(col("id")).as("id")))
          }
        }
        assert(e.getMessage.contains("boom"), e.getMessage)
        assert(java.nio.file.Files.exists(
          feed.scratch.resolve("slow_v0").resolve("_SUCCESS")),
          s"$names: rethrown before the concurrent write finished")
        assert(s.streams.active.isEmpty,
          s"query left running: ${s.streams.active.map(_.name).mkString(", ")}")
      }
    }
  }
}
