package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Kafka source/sink wiring (reference config.properties:1–5 +
  * UniqueUsersApp.java:68–89, re-expressed as Spark source options).
  *
  * The structural translation (SURVEY §2.1 #1, #15): consumer group/serde
  * config → source options; changelog/offset topics → checkpoint dir;
  * `latest` offset reset (UniqueUsersApp.java:72) → `startingOffsets`.
  *
  * NOTE: needs the `spark-sql-kafka-0-10` connector on the runtime
  * classpath (it ships with Spark distributions' external jars; this dev
  * container has no broker and no connector, so these builders are
  * compile-checked here and exercised via the file/memory sources in
  * tests — the plan they feed is identical, which is the point of keeping
  * transport at the edges).
  */
object KafkaTransport {

  final case class SourceConfig(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None)

  final case class SinkConfig(
      bootstrapServers: String,
      topic: String,
      checkpointLocation: String)

  /** The Kafka source's fixed output schema (the connector's documented
    * wire shape: one row per ConsumerRecord). Declared here so tests can
    * drive the exact same downstream plan from a connector-free source —
    * KafkaParitySpec feeds `frames` a MemoryStream with THIS schema, which
    * is everything of the Kafka path above the scan node.
    */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Raw frames stream: (key, value, timestamp, ...) from a topic. */
  def readRaw(spark: SparkSession, cfg: SourceConfig): DataFrame = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.topic)
      .option("startingOffsets", cfg.startingOffsets)
    cfg.maxOffsetsPerTrigger.fold(base)(n =>
      base.option("maxOffsetsPerTrigger", n.toString)).load()
  }

  /** The entire post-scan transform of the Kafka read path: raw wire
    * records (any source with `wireSchema`-compatible columns) → typed,
    * validated (eventTime, uid) frames. Factored out of [[readLogFrames]]
    * so the one connector-dependent line is the scan itself; everything
    * else is exercised broker-free in KafkaParitySpec.
    */
  def frames(raw: DataFrame): DataFrame =
    LogFrames.valid(LogFrames.parse(raw,
      org.apache.spark.sql.functions.col("value")))

  /** Typed, validated log frames from a topic (parse + reject filter). */
  def readLogFrames(spark: SparkSession, cfg: SourceConfig): DataFrame =
    frames(readRaw(spark, cfg))

  /** Writer for (key, value) records to a topic. Spark's Kafka sink is
    * AT-LEAST-ONCE: the checkpoint (the Spark analogue of the reference's
    * changelog+offsets) restores state and offsets, but a batch replayed
    * after a crash re-sends its records. In append mode each window key
    * carries exactly one value, so consumers dedupe by key.
    */
  def writer(records: DataFrame, cfg: SinkConfig): DataStreamWriter[Row] =
    records.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("topic", cfg.topic)
      .option("checkpointLocation", cfg.checkpointLocation)
}
