package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Decimal-string → long with arbitrary-precision wrap-around semantics:
  * the low 64 bits of the (possibly >64-bit) integer, matching
  * `new BigInteger(s).longValue()` as used by the reference for vehicle ids
  * (CsvLoader.java:145-146). A plain `cast(LongType)` nulls out-of-range
  * values instead of wrapping, so this needs a custom expression.
  * Returns null for non-integer strings — NOTE this is our permissive
  * choice, not the reference's: its BigInteger parse sits outside the
  * per-record try/catch, so a bad id aborts the reference's whole load.
  *
  * Fast path: an input that is, after `String.trim`'s trim (bytes up to
  * `' '` at both ends), an optional `+`/`-` and then 1 to 18 ASCII
  * digits is read off its UTF-8 bytes with no decode. Such a value is
  * below 10^18 < 2^63, so the long is the integer itself, which is what
  * the BigInteger's low 64 bits are. Every other input (19 or more
  * digits, a bare sign, inner spaces, non-ASCII digits, junk) goes
  * through [[low64Fallback]], the BigInteger parse, unchanged.
  * `ExpressionsSpec` pins the two equal. The SQL expression
  * ([[BigIntLow64Expr]]) and the `graft-vehicle-csv` source share it.
  */
object BigIntLow64 {
  def low64(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    val v = asciiLow64(s)
    if (v != NoFast) java.lang.Long.valueOf(v) else low64Fallback(s)
  }

  /** The BigInteger parse, with no fast path. */
  private[functions] def low64Fallback(s: UTF8String): java.lang.Long = {
    if (s == null) return null
    try java.lang.Long.valueOf(new java.math.BigInteger(s.toString.trim).longValue())
    catch { case _: NumberFormatException => null }
  }

  /** [[asciiLow64]]'s "not a fast-path shape" answer; its values are
    * below 10^18 in magnitude. */
  private final val NoFast = Long.MinValue
  private final val MaxDigits = 18

  private def asciiLow64(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    var a = 0
    var b = s.numBytes()
    while (a < b && at(a) <= ' ') a += 1
    while (b > a && at(b - 1) <= ' ') b -= 1
    val neg = a < b && at(a) == '-'
    if (a < b && (at(a) == '-' || at(a) == '+')) a += 1
    if (b - a < 1 || b - a > MaxDigits) return NoFast
    var v = 0L
    while (a < b) {
      val d = at(a) - '0'
      if (d < 0 || d > 9) return NoFast
      v = v * 10 + d
      a += 1
    }
    if (neg) -v else v
  }
}

case class BigIntLow64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    BigIntLow64.low64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |java.lang.Long ${ev.value}Tmp = graft.functions.BigIntLow64.low64($c);
         |if (${ev.value}Tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}Tmp.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BigIntLow64Expr =
    copy(child = newChild)
}

object BigIntLow64Expr {
  def apply(c: Column): Column =
    ExpressionUtils.column(BigIntLow64Expr(ExpressionUtils.expression(c)))
}
