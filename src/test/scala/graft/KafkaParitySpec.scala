package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.KafkaTransport

/** Broker-free coverage of the Kafka transport path (SURVEY §2.1 #1/#15).
  *
  * The `spark-sql-kafka-0-10` connector jar is not on this container's
  * classpath (offline resolver; documented in README "Kafka transport"), so
  * the scan node itself cannot execute here. Everything else can: these
  * tests drive `KafkaTransport.frames` — the entire read path above the
  * scan — with a MemoryStream shaped exactly like the connector's output
  * (`KafkaTransport.wireSchema`, one row per ConsumerRecord: binary
  * key/value + topic/partition/offset/timestamp), through the full
  * flagship pipeline (`UniqueUsersApp.buildPlan`) to the sink contract,
  * and pin plan parity between the Kafka-shaped path and the file-source
  * path the correctness gate executes.
  *
  * Wire fixture = the reference's synthetic mini-stream (README.md:171–185,
  * FIXTURES.md §3): key = pre-bucketed epoch-minute string, value = raw
  * JSON `{"ts":...,"uid":"..."}` — the exact framing its jq producer emits
  * (reference README.md:111–116).
  */
class KafkaParitySpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // (key, value, topic, partition, offset, timestamp, timestampType)
  private type Wire = (Array[Byte], Array[Byte], String, Int, Long, Timestamp, Int)

  private def record(value: String, ts: Long, offset: Long): Wire = {
    val key = (60L * (ts / 60L)).toString.getBytes(UTF_8)
    (key, value.getBytes(UTF_8), "log-frames", 0, offset, new Timestamp(ts * 1000L), 0)
  }

  private def frame(ts: Long, uid: String, offset: Long): Wire =
    record(s"""{"ts":$ts,"uid":"$uid"}""", ts, offset)

  private def wireDF(mem: MemoryStream[Wire]): DataFrame =
    mem.toDF().toDF("key", "value", "topic", "partition", "offset",
      "timestamp", "timestampType")

  test("wire schema matches the connector's documented record shape") {
    val mem = MemoryStream[Wire]
    // nullability aside (the tuple encoder marks primitives non-null, the
    // connector reports them nullable), names and types must line up
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => (f.name, f.dataType))
    assert(shape(wireDF(mem).schema) == shape(KafkaTransport.wireSchema))
  }

  test("flagship pipeline over Kafka-framed records hits the golden mini-stream counts") {
    val cfg = UniqueUsersApp.loadConfig(Map(
      "graft.kafka.bootstrap" -> "unused:9092",
      "graft.checkpoint" -> "unused").get)
    val mem = MemoryStream[Wire]
    // 20 frames, 10 s apart, all-distinct uids → windows 6,6,6,2
    mem.addData((0 until 20).map(i =>
      frame(1468244340L + 10L * i, (i + 1).toString, i.toLong)): _*)
    // rejects: corrupt JSON, missing uid, empty uid, a ts whose
    // microseconds overflow a Long — all dropped, never epoch-0-bucketed
    // (FIXTURES.md §1 engine policy)
    mem.addData(
      record("not json at all", 1468244350L, 100L),
      record("""{"ts":1468244351}""", 1468244351L, 101L),
      record("""{"ts":1468244352,"uid":""}""", 1468244352L, 102L),
      record("""{"ts":9300000000000000,"uid":"a"}""", 1468244353L, 103L))
    // watermark flush for append mode
    mem.addData(frame(1468250000L, "sentinel", 200L))
    val q = UniqueUsersApp.buildPlan(KafkaTransport.frames(wireDF(mem)), cfg)
      .writeStream.format("memory").queryName("kafka_parity_probe")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val recs = spark.table("kafka_parity_probe")
      .select($"key", get_json_object($"value", "$.uniqueUsers").cast("long").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(recs == Map("1468244340" -> 6L, "1468244400" -> 6L,
      "1468244460" -> 6L, "1468244520" -> 2L))
  }

  test("Kafka-shaped and file-shaped sources produce the identical plan above the scan") {
    // a streaming source carrying the Kafka wire schema (no renames — the
    // leaf emits the schema directly, exactly like the connector's scan)
    val scratch = java.nio.file.Files.createTempDirectory("kafka_parity_").toString
    val kafkaSide = KafkaTransport.frames(
      spark.readStream.schema(KafkaTransport.wireSchema).parquet(scratch))
    // the same wire schema arriving from a batch file-like relation
    val fileSide = KafkaTransport.frames(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        KafkaTransport.wireSchema))
    def aboveScan(df: DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case n if n.children.nonEmpty =>
          n.getClass.getSimpleName + "(" +
            n.expressions.map(_.sql).mkString(", ") + ")"
      }
    assert(aboveScan(kafkaSide) == aboveScan(fileSide))
    assert(kafkaSide.schema == fileSide.schema)
  }

  test("readRaw wiring fails only at the connector lookup, with a clear error") {
    val err = intercept[Exception] {
      KafkaTransport.readRaw(spark,
        KafkaTransport.SourceConfig("unused:9092", "log-frames"))
    }
    // DataSource resolution is the first thing load() does; reaching it
    // means every option/builder line upstream executed
    assert(err.getMessage.toLowerCase.contains("kafka"))
  }
}
