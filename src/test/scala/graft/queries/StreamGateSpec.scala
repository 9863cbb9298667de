package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

/** The streaming-gate harness on a scratch dir this suite owns: delivered
  * files arrive one micro-batch each, and a batch-count mismatch fails the
  * gate while still stopping its query. */
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
}
