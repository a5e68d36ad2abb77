package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Non-strict string → integral parse (reference fa-etl.py:63,67, Polars
  * `cast(strict=False)`): unparseable → NULL, never an error, in ANSI mode
  * or not.
  *
  * Accepted shape, byte for byte: optional leading and trailing Java `\s`
  * (`[ \t\n\x0B\f\r]`), an optional `+`/`-`, then one or more ASCII digits
  * whose value fits `dataType`. Anything else — other control or Unicode
  * whitespace, non-ASCII digits, a lone sign, decimals (`1.5`), exponents,
  * hex, overflow — is NULL. One pass over the `UTF8String` bytes: no
  * `String` copy, no regex, no exception. */
case class ParseIntegral(child: Expression, dataType: DataType)
    extends UnaryExpression {

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "parse_integral"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, dataType) match {
      case (_: StringType, LongType | IntegerType | ShortType | ByteType) =>
        TypeCheckResult.TypeCheckSuccess
      case (from, to) => TypeCheckResult.TypeCheckFailure(
        s"parse_integral expects string to an integral type, got " +
          s"${from.simpleString} to ${to.simpleString}")
    }

  private def bounds: (Long, Long) = dataType match {
    case LongType => (Long.MinValue, Long.MaxValue)
    case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
    case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
    case ByteType => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
  }

  override def nullSafeEval(input: Any): Any = {
    val (min, max) = bounds
    val out = new UTF8String.LongWrapper()
    if (!NonStrictParse.parseIntegral(input.asInstanceOf[UTF8String], min, max, out)) null
    else dataType match {
      case LongType => out.value
      case IntegerType => out.value.toInt
      case ShortType => out.value.toShort
      case ByteType => out.value.toByte
    }
  }

  /** The scan lives in a static helper (the [[JaroWinkler]] pattern); one
    * `LongWrapper` per generated operator instance carries the value. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (min, max) = bounds
    val wrapper = "org.apache.spark.unsafe.types.UTF8String.LongWrapper"
    val out = ctx.addMutableState(wrapper, "parsedLong", v => s"$v = new $wrapper();")
    val javaType = CodeGenerator.javaType(dataType)
    nullSafeCodeGen(ctx, ev, c =>
      s"""if (graft.functions.NonStrictParse.parseIntegral($c, ${min}L, ${max}L, $out)) {
         |  ${ev.value} = ($javaType) $out.value;
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseIntegral =
    copy(child = newChild)
}

/** Non-strict `yyyyMMdd` → date (reference fa-etl.py:70-72,167, Polars
  * `str.to_date(strict=False, exact=False)`): the first 8 bytes must be
  * ASCII digits forming a real proleptic-Gregorian day — month 1–12, day
  * within that month, leap years included, year 0000 allowed as Spark's
  * `to_date` allows it. Bytes after the 8th are ignored (prefix match).
  * Anything else is NULL, in ANSI mode or not. */
case class ParseYyyymmdd(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DateType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "parse_yyyymmdd"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"parse_yyyymmdd expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val days = NonStrictParse.parseYyyymmdd(input.asInstanceOf[UTF8String])
    if (days == NonStrictParse.InvalidDate) null else days
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NonStrictParse.parseYyyymmdd($c);
         |if (${ev.value} == ${NonStrictParse.InvalidDate}) {
         |  ${ev.isNull} = true;
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ParseYyyymmdd =
    copy(child = newChild)
}

object NonStrictParse {

  /** [[parseYyyymmdd]]'s "no date" result; no 8-digit date maps to it. */
  final val InvalidDate = Int.MinValue

  private def isJavaSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  /** Parse `s` as [[ParseIntegral]] accepts it into `out.value`; false
    * (and `out` untouched) when the shape is wrong or the value is outside
    * [min, max]. Accumulates negatively, as `java.lang.Long.parseLong`
    * does, so `min` itself parses. Public static for codegen. */
  def parseIntegral(s: UTF8String, min: Long, max: Long,
      out: UTF8String.LongWrapper): Boolean = {
    var i = 0
    var end = s.numBytes()
    while (i < end && isJavaSpace(s.getByte(i))) i += 1
    while (end > i && isJavaSpace(s.getByte(end - 1))) end -= 1
    if (i == end) return false
    val first = s.getByte(i)
    val negative = first == '-'
    if (negative || first == '+') {
      i += 1
      if (i == end) return false
    }
    val limit = if (negative) min else -max
    val multMin = limit / 10
    var acc = 0L
    while (i < end) {
      val d = s.getByte(i) - '0'
      if (d < 0 || d > 9 || acc < multMin) return false
      acc *= 10
      if (acc < limit + d) return false
      acc -= d
      i += 1
    }
    out.value = if (negative) acc else -acc
    true
  }

  private def digit(s: UTF8String, i: Int): Int = s.getByte(i) - '0'

  /** Days since 1970-01-01 of the `yyyyMMdd` prefix of `s`, or
    * [[InvalidDate]]. Public static for codegen. */
  def parseYyyymmdd(s: UTF8String): Int = {
    if (s.numBytes() < 8) return InvalidDate
    var i = 0
    while (i < 8) {
      val d = digit(s, i)
      if (d < 0 || d > 9) return InvalidDate
      i += 1
    }
    val year = digit(s, 0) * 1000 + digit(s, 1) * 100 + digit(s, 2) * 10 + digit(s, 3)
    val month = digit(s, 4) * 10 + digit(s, 5)
    val day = digit(s, 6) * 10 + digit(s, 7)
    if (month < 1 || month > 12 || day < 1) return InvalidDate
    val leap = year % 4 == 0 && (year % 100 != 0 || year % 400 == 0)
    val monthDays = month match {
      case 2 => if (leap) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    }
    if (day > monthDays) return InvalidDate
    // days from civil (proleptic Gregorian, March-based year so the leap
    // day is last), shifted up one 400-year era so that years 0000-9999
    // keep every term non-negative
    val y = if (month <= 2) year - 1 + 400 else year + 400
    val era = y / 400
    val yoe = y - era * 400
    val mp = if (month > 2) month - 3 else month + 9
    val doy = (153 * mp + 2) / 5 + day - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    (era - 1) * 146097 + doe - 719468
  }
}
