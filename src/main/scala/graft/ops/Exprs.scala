package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftShims
import graft.functions.{ParseIntegral, ParseYyyymmdd}

/** Scalar-expression helpers generalizing the reference's expression surface
  * (SURVEY.md §2.3, reference fa-etl.py:60-83,161-176,227-235,297-308).
  *
  * All helpers are pure `Column => Column` combinators — built-in
  * `org.apache.spark.sql.functions` plus the two codegen'd parse kernels
  * in `graft.functions.NonStrictParse`, no UDFs — so Catalyst can
  * fold/push them down. Null semantics deliberately mirror the
  * reference's Polars non-strict ops: malformed input → null, never error
  * (the integral and date parses hold this under ANSI mode too).
  */
object Exprs {

  /** E3 (fa-etl.py:69,170-173): zero-left-pad a key to fixed width.
    * e.g. FIPS→5, CensusTract→6, CensusBlock→4, ZIP5→5.
    * NOT plain `lpad`: Spark lpad TRUNCATES values longer than the target
    * width, Polars `pad_start` leaves them intact — guard long values. */
  def padKey(c: Column, len: Int): Column = {
    val s = c.cast(StringType)
    when(length(s) >= len, s).otherwise(lpad(s, len, "0"))
  }

  /** E2 (fa-etl.py:65,73): 1-based prefix slice of a string column. */
  def strPrefix(c: Column, len: Int): Column =
    substring(c.cast(StringType), 1, len)

  /** E4 (fa-etl.py:70-72,167): parse a yyyyMMdd digit-string to Date,
    * malformed → null (Polars `str.to_date(strict=False, exact=False)`).
    *
    * One byte-scan kernel, [[graft.functions.ParseYyyymmdd]]: the first 8
    * bytes must be ASCII digits naming a real proleptic-Gregorian day
    * (month 1–12, day inside that month, leap years included, year 0000
    * as Spark's `to_date` reads it); bytes after the 8th are ignored, as
    * `exact=False` prefix-matches. Everything else → null, with or without
    * ANSI mode. It replaces an `rlike("^\\d{8}")` guard in front of
    * `to_date(substring(s, 1, 8), "yyyyMMdd")`, which copied every cell
    * into a `String` for the regex and then ran the `to_date` formatter:
    * on 4 M rows (noop sink, 4 vCPUs) clean dates took 2.0–2.15 s that way
    * against 0.50–0.71 s now, all-garbage cells 0.29–0.34 s against
    * 0.09–0.10 s. Unguarded `to_date` is no option: 4.0–4.7 s on garbage,
    * and it raises under ANSI mode. */
  def parseYyyymmdd(c: Column): Column =
    GraftShims.toColumn(ParseYyyymmdd(GraftShims.toExpression(c.cast(StringType))))

  /** E7 variant (fa-etl.py:168-169): 0 → null (bad lat/lon sentinel). */
  def zeroToNull(c: Column): Column = when(c === 0, lit(null)).otherwise(c)

  /** P8/E7 (fa-etl.py:74,174): keep value if in whitelist, else null. */
  def whitelistElseNull(c: Column, allowed: Seq[Any]): Column =
    when(c.isin(allowed: _*), c).otherwise(lit(null))

  /** E6 (fa-etl.py:175): separator concat with Polars `concat_str`
    * semantics — null if ANY input is null (NOT `concat_ws`, which skips
    * nulls). */
  def concatStrict(sep: String, cols: Column*): Column =
    concat(cols.flatMap(c => Seq(c.cast(StringType), lit(sep))).dropRight(1): _*)

  /** E6+E12 (fa-etl.py:175): strict concat with null fallback column. */
  def concatStrictOrElse(sep: String, fallback: Column, cols: Column*): Column =
    coalesce(concatStrict(sep, cols: _*), fallback)

  /** E8 (fa-etl.py:395-414): N-branch conditional cascade
    * `when(c1,v1).when(c2,v2)...otherwise(default)`. */
  def cascade(branches: Seq[(Column, Column)], default: Column): Column =
    branches.foldRight(default) { case ((cond, value), acc) =>
      when(cond, value).otherwise(acc)
    }

  /** Reference value-preference cascade shape (fa-etl.py:395-414): pick the
    * first measure that is non-null and non-zero; also emit which one won. */
  def preferNonZero(measures: Seq[(String, Column)]): (Column, Column) = {
    val value = cascade(
      measures.map { case (_, c) => (c.isNotNull && c =!= 0, c) },
      lit(null))
    val label = cascade(
      measures.map { case (name, c) => (c.isNotNull && c =!= 0, lit(name)) },
      lit(null))
    (value, label)
  }

  /** E1 (fa-etl.py:63,67): non-strict cast — unparseable → null.
    *
    * Integral targets (Long, Int, Short, Byte) run one byte-scan kernel,
    * [[graft.functions.ParseIntegral]]. It accepts exactly: optional
    * leading/trailing Java `\s` (`[ \t\n\x0B\f\r]`), an optional sign,
    * then one or more ASCII digits (leading zeros allowed) whose value fits
    * the target; anything else → null — other control characters,
    * non-ASCII digits, a lone sign, "1.5", "1e3", "0x1F", overflow — as
    * the reference's Polars `cast(strict=False)` (fa-etl.py:63) nulls what
    * it cannot parse. The result does not depend on ANSI mode. Input is
    * expected to be a string column (every call site parses CSV/parquet
    * string keys; a numeric input is stringified first).
    *
    * Why neither a regex nor `try_cast`: Spark's TRY string→integral cast
    * throws and catches a JVM exception per unparseable cell — 15.1–15.7 s
    * on 4 M all-garbage cells (noop sink, 4 vCPUs). The earlier guard,
    * `rlike("^\\s*[+-]?0*\\d{1,19}\\s*$")` around `try_cast`, copied
    * every cell into a `String` for the regex: 0.55–0.73 s on 4 M clean
    * cells and 0.39–0.51 s on garbage, against 0.17–0.24 s and 0.16 s for
    * the kernel. Other targets keep `try_cast`, whose non-integral
    * semantics match plain cast anyway. */
  def castOrNull(c: Column, to: DataType): Column = to match {
    case LongType | IntegerType | ShortType | ByteType =>
      GraftShims.toColumn(ParseIntegral(GraftShims.toExpression(c.cast(StringType)), to))
    case _ => c.try_cast(to)
  }
}
