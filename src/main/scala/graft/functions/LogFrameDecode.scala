package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas

/** JVM kernel of [[LogFrameDecode]]: reads a log frame's bytes in place
  * (`base` + `offset`, the `Platform` addressing of both `byte[]` and
  * `UTF8String`) and accepts exactly
  *
  *   `{"ts":` · 1–18 digits, no sign, no leading zero unless the number is
  *   `0` · `,"uid":"` · any bytes in 0x20–0x7E other than `"` and `\` ·
  *   `"}` as the last two bytes
  *
  * returning the (ts, uid) row, or null for any other byte shape. On the
  * accepted shape the JSON text has no escapes, no whitespace and no
  * duplicate keys, and 18 digits always fit a Long, so the row equals what
  * `from_json(…, Schemas.logFrame)` yields for the same bytes. */
object LogFrameKernel {
  private val Head = "{\"ts\":".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val Mid = ",\"uid\":\"".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val MaxDigits = 18

  private def matches(base: AnyRef, at: Long, lit: Array[Byte]): Boolean = {
    var k = 0
    while (k < lit.length && Platform.getByte(base, at + k) == lit(k)) k += 1
    k == lit.length
  }

  private def decode(base: AnyRef, offset: Long, len: Int): InternalRow = {
    // shortest accepted frame: {"ts":0,"uid":""}
    if (len < Head.length + 1 + Mid.length + 2 || !matches(base, offset, Head)) return null
    val firstDigit = Head.length
    val digitsEnd = math.min(len, firstDigit + MaxDigits)
    var i = firstDigit
    var ts = 0L
    var more = true
    while (more && i < digitsEnd) {
      val d = Platform.getByte(base, offset + i) - '0'
      more = d >= 0 && d <= 9
      if (more) { ts = ts * 10 + d; i += 1 }
    }
    val digits = i - firstDigit
    if (digits == 0 || (digits > 1 && Platform.getByte(base, offset + firstDigit) == '0')) return null
    // a 19th digit, or anything else that is not the `,"uid":"` separator,
    // fails the separator match
    val uidStart = i + Mid.length
    val uidEnd = len - 2
    if (uidStart > uidEnd || !matches(base, offset + i, Mid) ||
        Platform.getByte(base, offset + uidEnd) != '"' ||
        Platform.getByte(base, offset + uidEnd + 1) != '}') return null
    var j = uidStart
    while (j < uidEnd) {
      val c = Platform.getByte(base, offset + j)
      if (c < 0x20 || c > 0x7E || c == '"' || c == '\\') return null
      j += 1
    }
    val uid = new Array[Byte](uidEnd - uidStart)
    Platform.copyMemory(base, offset + uidStart, uid, Platform.BYTE_ARRAY_OFFSET, uid.length)
    new GenericInternalRow(Array[Any](ts, UTF8String.fromBytes(uid)))
  }

  def decode(value: Array[Byte]): InternalRow =
    decode(value, Platform.BYTE_ARRAY_OFFSET, value.length)

  def decode(value: UTF8String): InternalRow =
    decode(value.getBaseObject, value.getBaseOffset, value.numBytes)
}

/** Native expression: a binary or string log-frame column →
  * `struct<ts: bigint, uid: string>` (`Schemas.logFrame`) for the one
  * canonical byte shape [[LogFrameKernel]] accepts, null otherwise. The
  * value's bytes are read where they lie: no binary → string copy, no JSON
  * tokenizer. `LogFrames.parse` puts it in front of `from_json` in a
  * `coalesce`, so `from_json` runs only on the frames this declines. */
case class LogFrameDecode(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"log_frame_decode requires a binary or string column, got ${other.simpleString}")
  }

  override def dataType: DataType = Schemas.logFrame
  override def nullable: Boolean = true
  override def prettyName: String = "log_frame_decode"

  override protected def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => LogFrameKernel.decode(b)
    case s: UTF8String => LogFrameKernel.decode(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.LogFrameKernel.decode($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): LogFrameDecode =
    copy(child = newChild)
}

object LogFrameDecode {
  /** Column API: the canonical-frame fast path over a binary or string column. */
  def apply(value: Column): Column =
    ColumnBridge.column(LogFrameDecode(ColumnBridge.expression(value)))
}
