package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, JsonToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import graft.functions.{LogFrameDecode, LogFrameKernel}
import graft.model.Schemas
import graft.streaming.{KafkaTransport, LogFrames}

/** The canonical-frame fast path of `LogFrames.parse`: a differential test
  * against the plain `from_json` plan over a seeded, fuzzed corpus (binary
  * and string `value` columns, generated code and interpreted eval), the
  * kernel's accept/decline rule, and a pin of the fast path in the plan of
  * `KafkaTransport.frames`. */
class LogFrameDecodeSpec extends SparkSpec {
  import spark.implicits._

  /** The plan `parse` replaces: `from_json` alone, with the same overflow
    * guard on `eventTime`. */
  private def fromJsonOnly(raw: DataFrame): DataFrame =
    raw.select(from_json($"value".cast("string"), Schemas.logFrame).as("f"))
      .select(
        when($"f.ts".between(-LogFrames.MaxEpochSeconds, LogFrames.MaxEpochSeconds),
          timestamp_seconds($"f.ts")).as("eventTime"),
        $"f.uid".as("uid"))

  private def canonical(ts: String, uid: String): String = s"""{"ts":$ts,"uid":"$uid"}"""

  /** Printable ASCII other than `"` and `\`: the fast path's uid alphabet. */
  private val plain: IndexedSeq[Char] = (0x20 to 0x7E).map(_.toChar).filterNot("\"\\".contains(_))

  private def digits(r: Random, n: Int): String =
    if (n == 1) r.nextInt(10).toString
    else (1 + r.nextInt(9)).toString + Seq.fill(n - 1)(r.nextInt(10)).mkString

  private def uid(r: Random): String = Seq.fill(r.nextInt(20))(plain(r.nextInt(plain.length))).mkString

  private def ws(r: Random): String = Seq.fill(1 + r.nextInt(2))(" \t\n\r"(r.nextInt(4))).mkString

  /** (bytes, whether the fast path must accept them). */
  private def corpus(seed: Long): Seq[(Array[Byte], Boolean)] = {
    val r = new Random(seed)
    val fast = Seq.fill(300) {
      canonical(digits(r, 1 + r.nextInt(18)), uid(r))
    } ++ Seq(canonical("0", ""), canonical("1468244340", ""),
      canonical("9300000000000000", "a"), canonical("9223372036854", "edge"),
      canonical("9223372036855", "edge"), canonical("999999999999999999", "max18"))
    val slow: Seq[String] = Seq.fill(60) {
      val (ts, u) = (digits(r, 1 + r.nextInt(18)), uid(r))
      r.nextInt(12) match {
        case 0 => s"""{"uid":"$u","ts":$ts}"""
        case 1 => s"""${ws(r)}{"ts":$ts,"uid":"$u"}${ws(r)}"""
        case 2 => s"""{${ws(r)}"ts"${ws(r)}:${ws(r)}$ts${ws(r)},${ws(r)}"uid":"$u"${ws(r)}}"""
        case 3 => canonical(ts, u + "\\\"" + u)
        case 4 => canonical(ts, u + "\\u00e9")
        case 5 => canonical(ts, u + "\\\\/\\/")
        case 6 => canonical(ts, u + "é日本")
        case 7 => s"""{"ts":$ts,"uid":null}"""
        case 8 => s"""{"ts":null,"uid":"$u"}"""
        case 9 => s"""{"ts":$ts,"uid":"$u","ts":${digits(r, 5)}}"""
        case 10 => s"""{"ts":$ts,"uid":"$u","uid":"${uid(r)}"}"""
        case _ => canonical(ts, u) + Seq(" ", "x", "}", "\n", "{", ",").apply(r.nextInt(6))
      }
    } ++ Seq("1.5", "\"123\"", "1e3", "-5", "-0", "0123", "00", "+1",
      digits(r, 19), digits(r, 20), "9223372036854775807", "9223372036854775808")
      .map(canonical(_, "u")) ++
      Seq("", "null", "{}", "[]", """{"ts":1}""", """{"uid":"u"}""", """{"ts":1,"uid":123}""",
        "not json at all", """{"ts":1,"uid":"a"}""".toUpperCase)
    val truncated = {
      val c = canonical("1468244340", "user-42")
      (0 until c.length).map(c.substring(0, _))
    }
    // raw bytes that are not valid UTF-8 inside an otherwise canonical frame
    val invalidUtf8 = Seq(Array(0xFF.toByte), Array(0xC3.toByte), Array(0xED.toByte, 0xA0.toByte, 0x80.toByte))
      .map(bad => "{\"ts\":7,\"uid\":\"a".getBytes(UTF_8) ++ bad ++ "\"}".getBytes(UTF_8))
    fast.map(s => (s.getBytes(UTF_8), true)) ++
      (slow ++ truncated).map(s => (s.getBytes(UTF_8), false)) ++
      invalidUtf8.map((_, false))
  }

  private def binaryFrame(values: Seq[Array[Byte]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(values.map(Row(_)) :+ Row(null), 1),
      StructType(Seq(StructField("value", BinaryType))))

  private def withCodegen[T](mode: String)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), mode)
    spark.conf.set(keys(1), (mode == "CODEGEN_ONLY").toString)
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the kernel accepts exactly the canonical byte shape") {
    for (seed <- 1L to 3L; (bytes, fast) <- corpus(seed)) {
      val row = LogFrameKernel.decode(bytes)
      assert((row != null) == fast, new String(bytes, UTF_8))
    }
    val row = LogFrameKernel.decode(canonical("1468244340", "user-42").getBytes(UTF_8))
    assert(row.getLong(0) == 1468244340L && row.getUTF8String(1).toString == "user-42")
  }

  test("parse equals the plain from_json plan row for row, binary and string values") {
    for (seed <- 1L to 3L; mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) withCodegen(mode) {
      val bin = binaryFrame(corpus(seed).map(_._1))
      for (raw <- Seq(bin, bin.select($"value".cast("string").as("value")))) {
        val got = LogFrames.parse(raw, $"value").collect().toSeq
        val want = fromJsonOnly(raw).collect().toSeq
        assert(got.length == want.length)
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g == w, s"seed $seed, $mode, ${raw.schema("value").dataType}, row $i")
        }
        assert(LogFrames.parse(raw, $"value").schema == fromJsonOnly(raw).schema)
      }
    }
  }

  test("KafkaTransport.frames' plan decodes through one LogFrameDecode, from_json only as its fallback") {
    val raw = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], KafkaTransport.wireSchema)
    val exprs: Seq[Expression] = KafkaTransport.frames(raw).queryExecution.optimizedPlan
      .flatMap(_.expressions).flatMap(_.collect { case e => e })
    val decodes = exprs.collect { case d: LogFrameDecode => d.canonicalized }.distinct
    assert(decodes.size == 1)
    val fallbacks = exprs.collect {
      case Coalesce(Seq(d: LogFrameDecode, j: JsonToStructs)) => j
    }
    val jsons = exprs.collect { case j: JsonToStructs => j }
    assert(fallbacks.nonEmpty && jsons.size == fallbacks.size)
  }
}
