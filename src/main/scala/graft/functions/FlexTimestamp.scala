package graft.functions

import java.text.SimpleDateFormat
import java.time.{Instant, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.util.TimeZone

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Multi-format "flexible" timestamp parser with the reference's semantics
  * (behavior of `opentraffic/csv-loader` CsvLoader.java:237-273):
  *
  *  1. Snip a fractional-seconds run starting at the first `.` and ending at
  *     the first `+`, else the first `Z`, else end-of-string. The `Z`/`+tz`
  *     suffix itself is KEPT in the remaining string.
  *  2. Parse the remainder with a 3-format cascade:
  *     a. `yyyy-MM-dd HH:mm:ssX` (ISO zone: `+05`, `+0530`, `Z`),
  *     b. `yyyy-MM-dd HH:mm:ss`  (zoneless — pinned to UTC here; the
  *        reference used the JVM default TZ, which is not reproducible),
  *     c. ISO-8601 (`2015-02-14T18:51:42Z` and friends).
  *  3. Re-add the snipped fraction as `(long)(parseDouble("0" + frac) * 1000)`
  *     milliseconds — bit-identical Java double arithmetic, including any
  *     IEEE-754 truncation on fractions whose product lands below the
  *     integer (e.g. ".9999999999999999" → 999 ms).
  *
  * Fast path: an input that is, after trimming, exactly
  * `yyyy-MM-dd HH:mm:ss` or `yyyy-MM-ddTHH:mm:ss`, then an optional
  * fraction of at most 9 digits, then nothing or `Z` (either separator)
  * or `+hh`/`-hh` (space separator only; `-hh` only without a fraction),
  * is computed directly from its bytes when every field is in range
  * (month 1-12, a real day of that month, hour 0-23, minute and second
  * 0-59, offset hour 0-23) and the year is at least 1600, where the
  * Julian/Gregorian calendar of the cascade agrees with the proleptic
  * one. Those are exactly the inputs on which each cascade step returns
  * the plain field arithmetic, so the result is the same; the fast path
  * skips the decode, the substrings, `parseDouble` and the
  * `SimpleDateFormat` exceptions the cascade throws for zoneless and ISO
  * values. Every other string (lenient rollovers such as `2015-99-99`,
  * `+hhmm`/`+hh:mm` offsets, offsets after `T`, early years, longer
  * fractions, trailing characters) goes through the cascade unchanged;
  * `ExpressionsSpec` pins the two paths equal on all of these shapes.
  *
  * Returns epoch millis (LongType), or null when unparseable (the permissive
  * drop-malformed contract, CsvLoader.java:140-143).
  */
object FlexTimestamp {

  // SimpleDateFormat is not thread-safe: one pair per executor thread.
  private val fmts = new ThreadLocal[(SimpleDateFormat, SimpleDateFormat)] {
    override def initialValue(): (SimpleDateFormat, SimpleDateFormat) = {
      val f1 = new SimpleDateFormat("yyyy-MM-dd HH:mm:ssX")
      val f2 = new SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      f2.setTimeZone(TimeZone.getTimeZone("UTC"))
      (f1, f2)
    }
  }

  /** Static entry point used by both interpreted eval and codegen. */
  def parseToMillis(input: UTF8String): java.lang.Long = {
    if (input == null) return null
    val quick = fastMillis(input)
    if (quick != NoFast) java.lang.Long.valueOf(quick) else parseToMillisCascade(input)
  }

  /** Steps 1-3 as the reference runs them, with no fast path. */
  private[functions] def parseToMillisCascade(input: UTF8String): java.lang.Long = {
    if (input == null) return null
    try {
      var s = input.toString.trim
      if (s.isEmpty) return null

      // 1. snip fractional seconds
      val snipStart = s.indexOf('.')
      var frac = "0.0"
      if (snipStart >= 0) {
        var snipEnd = s.indexOf('+')
        if (snipEnd < 0) snipEnd = s.indexOf('Z')
        if (snipEnd < 0) snipEnd = s.length
        frac = "0" + s.substring(snipStart, snipEnd)
        s = s.substring(0, snipStart) + s.substring(snipEnd)
      }

      // 2. format cascade
      val base: Long = {
        val (f1, f2) = fmts.get()
        try f1.parse(s).getTime
        catch {
          case _: Exception =>
            try f2.parse(s).getTime
            catch { case _: Exception => parseIso(s) }
        }
      }

      // 3. fraction re-added as millis (reference's double-math quirk kept)
      java.lang.Long.valueOf(base + (java.lang.Double.parseDouble(frac) * 1000).toLong)
    } catch {
      case _: Exception => null
    }
  }

  private def parseIso(s: String): Long = {
    try Instant.parse(s).toEpochMilli
    catch {
      case _: Exception =>
        try OffsetDateTime.parse(s).toInstant.toEpochMilli
        catch {
          case _: Exception =>
            LocalDateTime.parse(s).toInstant(ZoneOffset.UTC).toEpochMilli
        }
    }
  }

  /** [[fastMillis]]'s "not a fast-path shape" answer; no accepted input
    * (year >= 1600) comes near it. */
  private final val NoFast = Long.MinValue

  private final val MaxFracDigits = 9
  /** Powers of ten a fraction of at most [[MaxFracDigits]] divides by. */
  private val pow10: Array[Double] = Array.tabulate(MaxFracDigits + 1)(math.pow(10, _))

  /** Epoch millis of a fast-path input (see the object doc), read off the
    * UTF-8 bytes with no decode; NoFast for any other input. The
    * fraction is step 1's run between the seconds and the suffix, not
    * before `-hh` (step 1 would keep the `-hh` in the fraction, which
    * then fails to parse). Its k <= 9 digits d are an integer below
    * 2^53 and 10^k is exact, so `d / 10^k` is the double nearest the
    * decimal, which is `parseDouble`'s value too. */
  private def fastMillis(u: UTF8String): Long = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    def at(i: Int): Int = Platform.getByte(base, off + i) & 0xff
    // String.trim: drop chars <= ' ' at both ends (single bytes in UTF-8)
    var a = 0
    var b = u.numBytes()
    while (a < b && at(a) <= ' ') a += 1
    while (b > a && at(b - 1) <= ' ') b -= 1
    if (b - a < 19) return NoFast
    def d2(i: Int): Int = {
      val x = at(a + i) - '0'
      val y = at(a + i + 1) - '0'
      if (x < 0 || x > 9 || y < 0 || y > 9) -1 else x * 10 + y
    }
    val sep = at(a + 10)
    if ((sep != ' ' && sep != 'T') || at(a + 4) != '-' || at(a + 7) != '-' ||
        at(a + 13) != ':' || at(a + 16) != ':') return NoFast
    val y1 = d2(0)
    val y2 = d2(2)
    val mo = d2(5)
    val d = d2(8)
    val h = d2(11)
    val mi = d2(14)
    val sec = d2(17)
    if (y1 < 0 || y2 < 0 || mo < 1 || mo > 12 || d < 1 || h < 0 || h > 23 ||
        mi < 0 || mi > 59 || sec < 0 || sec > 59) return NoFast
    val y = y1 * 100 + y2
    if (y < 1600 || d > daysInMonth(y, mo)) return NoFast

    var p = a + 19
    var fracMs = 0L
    val hasFrac = p < b && at(p) == '.'
    if (hasFrac) {
      p += 1
      var digits = 0
      var frac = 0L
      while (p < b && at(p) >= '0' && at(p) <= '9') {
        if (digits == MaxFracDigits) return NoFast
        frac = frac * 10 + (at(p) - '0')
        digits += 1
        p += 1
      }
      fracMs = (frac / pow10(digits) * 1000).toLong
    }
    val offsetMin = b - p match {
      case 0 => 0
      case 1 if at(p) == 'Z' => 0
      case 3 if sep == ' ' && (at(p) == '+' || (at(p) == '-' && !hasFrac)) =>
        val hh = d2(p + 1 - a)
        if (hh < 0 || hh > 23) return NoFast
        if (at(p) == '+') hh * 60 else -hh * 60
      case _ => return NoFast
    }
    val secs = daysFromCivil(y, mo, d) * 86400L + h * 3600L + mi * 60L + sec -
      offsetMin * 60L
    secs * 1000L + fracMs
  }

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date (y > 0). */
  private def daysFromCivil(y0: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) y0 - 1 else y0
    val era = y / 400
    val yoe = y - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }
}

/** Catalyst expression wrapping [[FlexTimestamp.parseToMillis]]. Codegen
  * emits a static call, so the expression stays inside whole-stage codegen.
  */
case class ParseFlexTimestamp(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    FlexTimestamp.parseToMillis(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |java.lang.Long ${ev.value}Tmp = graft.functions.FlexTimestamp.parseToMillis($c);
         |if (${ev.value}Tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}Tmp.longValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ParseFlexTimestamp =
    copy(child = newChild)
}

object ParseFlexTimestamp {
  /** Column-API entry: `flex_timestamp_ms($"ts_str")` → epoch millis. */
  def apply(c: Column): Column =
    ExpressionUtils.column(ParseFlexTimestamp(ExpressionUtils.expression(c)))
}
