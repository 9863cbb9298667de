package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

/** Shape of one stream workload's load: records per chunk, how far event
  * time moves per chunk, the on-time jitter (kept under the watermark
  * delay), uid cardinality (0 = a fresh random uid per frame) and the
  * shares of malformed and late frames. */
final case class LoadSpec(records: Int, virtMsPerChunk: Long, jitterS: Int,
    uidCard: Int, rejectShare: Double, lateShare: Double)

/** One addData unit. `ts` is shared by every row of the chunk and is set to
  * the chunk's scheduled time just before it is offered; `wins`/`uids` are
  * the (window start, uid) pairs of its valid on-time frames. */
final class Chunk(val idx: Int, val rows: Array[Wire.Rec], val ts: Timestamp,
    val wins: Array[Long], val uids: Array[Long], val rejects: Int, val late: Int,
    val minEt: Long, val maxEt: Long)

/** Builds Kafka-shaped wire records (KafkaTransport.wireSchema) holding the
  * reference's JSON log frames, and keeps the exact distinct-uid reference
  * per window alongside. Deterministic in the seed. */
final class Wire(seed: Long, spec: LoadSpec, partitions: Int) {
  import Wire._

  private val rnd = new SplittableRandom(seed)
  private val salt = new SplittableRandom(seed ^ 0x5DEECE66DL).nextLong()
  private var offset = 0L
  /** Minimum event time of chunk 0; late frames are planted behind it. */
  private var firstMin = Long.MaxValue

  private def uidOf(k: Long): Long = mix(k ^ salt)

  def chunk(idx: Int, n: Int = spec.records): Chunk = {
    // chunk i's event times end 3/4 into its slice of virtual time: for
    // 60 s slices and 30 s jitter each chunk fills exactly one window
    val tVirt = BaseEventS * 1000L + idx * spec.virtMsPerChunk + spec.virtMsPerChunk * 3 / 4
    val ts = new Timestamp(0L)
    val rows = new Array[Rec](n)
    val wins = mutable.ArrayBuilder.make[Long]
    val uids = mutable.ArrayBuilder.make[Long]
    var rejects, late = 0
    var minEt, maxEt = 0L
    minEt = Long.MaxValue
    maxEt = Long.MinValue
    var i = 0
    while (i < n) {
      val uid = if (spec.uidCard > 0) uidOf(rnd.nextInt(spec.uidCard).toLong) else rnd.nextLong()
      val u = hex(uid)
      val onTime = tVirt / 1000L - rnd.nextInt(spec.jitterS + 1)
      val roll = rnd.nextDouble()
      val (value, et) =
        if (roll < spec.rejectShare) {
          rejects += 1
          (rnd.nextInt(5) match {
            case 0 => s"not json $u"
            case 1 => s"""{"ts":$onTime}"""
            case 2 => s"""{"ts":$onTime,"uid":""}"""
            case 3 => s"""{"uid":"$u"}"""
            case _ => s"""{"ts":"n/a","uid":"$u"}"""
          }, onTime)
        } else if (idx > 0 && roll < spec.rejectShare + spec.lateShare) {
          late += 1
          val e = firstMin - LateMarginS - rnd.nextInt(600)
          (s"""{"ts":$e,"uid":"$u"}""", e)
        } else {
          wins += (onTime - Math.floorMod(onTime, 60L))
          uids += uid
          minEt = math.min(minEt, onTime)
          maxEt = math.max(maxEt, onTime)
          (s"""{"ts":$onTime,"uid":"$u"}""", onTime)
        }
      val key = (et - Math.floorMod(et, 60L)).toString.getBytes(UTF_8)
      rows(i) = (key, value.getBytes(UTF_8), Topic, (offset % partitions).toInt,
        offset, ts, 0)
      offset += 1
      i += 1
    }
    if (idx == 0) firstMin = minEt
    new Chunk(idx, rows, ts, wins.result(), uids.result(), rejects, late, minEt, maxEt)
  }
}

object Wire {
  /** (key, value, topic, partition, offset, timestamp, timestampType) */
  type Rec = (Array[Byte], Array[Byte], String, Int, Long, Timestamp, Int)

  val Topic = "log-frames"
  /** 2016-07-11 14:39:00 UTC, the first minute of the reference's data. */
  val BaseEventS = 1468244340L
  /** Window plus watermark delay, plus one second: a frame this far behind
    * the first committed chunk is behind every later batch's watermark. */
  val LateMarginS = 121L
  val SentinelUid = "perfbench-sentinel"

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private val Digits = "0123456789abcdef".toCharArray
  def hex(x: Long): String = {
    val c = new Array[Char](16)
    var i = 0
    while (i < 16) { c(i) = Digits(((x >>> (60 - 4 * i)) & 0xF).toInt); i += 1 }
    new String(c)
  }

  /** A valid frame far past every real window, so append mode emits them all. */
  def sentinel(eventS: Long, ts: Timestamp): Rec = {
    val v = s"""{"ts":$eventS,"uid":"$SentinelUid"}"""
    ((eventS - Math.floorMod(eventS, 60L)).toString.getBytes(UTF_8),
      v.getBytes(UTF_8), Topic, 0, -1L, ts, 0)
  }

  /** Exact distinct on-time valid uids per window start, over `chunks`. */
  def reference(chunks: Seq[Chunk]): Map[Long, Long] = {
    val per = mutable.HashMap.empty[Long, mutable.ArrayBuilder.ofLong]
    chunks.foreach { c =>
      var i = 0
      while (i < c.wins.length) {
        per.getOrElseUpdate(c.wins(i), new mutable.ArrayBuilder.ofLong) += c.uids(i)
        i += 1
      }
    }
    per.map { case (w, b) =>
      val a = b.result()
      java.util.Arrays.sort(a)
      var d = 0L
      var i = 0
      while (i < a.length) { if (i == 0 || a(i) != a(i - 1)) d += 1; i += 1 }
      w -> d
    }.toMap
  }
}
