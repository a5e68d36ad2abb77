package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Unit coverage for SURVEY.md §2.3 scalar semantics — the reference's
  * corner cases: null-on-bad-cast (E1), strict-concat null (E6), malformed
  * date → null (E4), fixed-width padding (E3), cascade preference (E8). */
class ExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("padKey zero-pads to fixed width and keeps wider values") {
    val got = Seq("61", "36061", "123456").toDF("v")
      .select(Exprs.padKey($"v", 5).as("p")).as[String].collect()
    assert(got.sameElements(Array("00061", "36061", "123456")))
  }

  test("parseYyyymmdd: valid, prefix-match, malformed, null") {
    val got = Seq("20200115", "20200115T99", "2020ab13", "999", null)
      .toDF("v").select(Exprs.parseYyyymmdd($"v").as("d"))
      .collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got.sameElements(Array(Some("2020-01-15"), Some("2020-01-15"),
      None, None, None)))
  }

  test("castOrNull nulls unparseable input (Polars non-strict cast)") {
    val got = Seq("123", "12x", "").toDF("v")
      .select(Exprs.castOrNull($"v", LongType).as("n"))
      .collect().map(r => Option(r.get(0)))
    assert(got.sameElements(Array(Some(123L), None, None)))
  }

  test("castOrNull integral fast path ≡ try_cast on edge strings") {
    // the guarded plain-cast path must keep exact try_cast semantics:
    // sign/whitespace parse, decimals+sci+hex+overflow+garbage → null
    val edge = Seq("", " 5 ", "+5", "-5", "1.5", ".5", "5.", "5.0",
      "999999999999999999999999", "9223372036854775807",
      "-9223372036854775808", "9223372036854775808", "1e3", "abc", null,
      "0x1F", "NaN", "12a", "  -7  ",
      // zero-padded keys are this codebase's domain: >19 chars must
      // still parse when the significant digits fit
      "00000000000000000001", "0000000000000000000000042", "-0005")
    val df = edge.toDF("v")
    val both = df.select(
        Exprs.castOrNull($"v", LongType).as("fast"),
        $"v".try_cast(LongType).as("ref"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    both.zip(edge).foreach { case ((fast, ref), in) =>
      assert(fast == ref, s"input '$in': fast=$fast try_cast=$ref")
    }
  }

  // The guarded forms castOrNull and parseYyyymmdd had before the
  // byte-scan kernels (graft.functions.NonStrictParse), kept here only as
  // the oracle the kernels must equal.
  private def guardedIntegral(s: Column, to: DataType): Column =
    when(s.rlike("^\\s*[+-]?0*\\d{1,19}\\s*$"), s.try_cast(to))
      .otherwise(lit(null).cast(to))
  private def guardedDate(s: Column): Column =
    to_date(when(s.rlike("^\\d{8}"), substring(s, 1, 8)), "yyyyMMdd")

  private val parsedTypes: Seq[(String, DataType)] = Seq(
    "long" -> LongType, "int" -> IntegerType, "short" -> ShortType,
    "byte" -> ByteType, "date" -> DateType)

  private def kernel(v: Column, t: DataType): Column =
    if (t == DateType) Exprs.parseYyyymmdd(v) else Exprs.castOrNull(v, t)

  private def adversarial: Seq[String] = {
    val bounds = Seq(Int.MinValue.toLong, Int.MaxValue.toLong,
      Short.MinValue.toLong, Short.MaxValue.toLong,
      Byte.MinValue.toLong, Byte.MaxValue.toLong)
      .flatMap(b => Seq(b - 1, b, b + 1)).map(_.toString)
    Seq(null, "", " ", "\t\n\u000B\f\r", "+", "-", "+-1", "--1", "- 1",
      "\u0001 5", "5\u0001", "\u001F5", "\u00A05", "5\u0085", "5\u2028",
      "5 \u2029", "\u0660", "\u0661\u0662", "\uFF15", "1.5", ".5", "5.",
      "1e3", "0x1F", "12a", " 42 ", "\t-7\r\n", "-0", "+0", "0", "-0005",
      "1234567890123456789", "12345678901234567890",
      "00000000000000000000042", Long.MinValue.toString,
      Long.MaxValue.toString, "9223372036854775808", "-9223372036854775809",
      "20230230", "20240229", "20230229", "19000229", "20000229", "00000101",
      "00000229", "00010101", "99991231", "2020011", "20200115T99",
      "20200115", "20201301", "20200001", "20200100", "20200431",
      "2020-01-15", " 20200115", "20200115\u2028",
      "\u0662\u0660\u0662\u0660\u0660\u0661\u0661\u0665") ++ bounds
  }

  /** Fixed-seed strings around both accepted shapes: sign/space/digit
    * runs near every type's bounds, 8-digit dates with out-of-range
    * months and days, each sometimes with one junk character spliced in. */
  private def randomCorpus(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(20240229L)
    val spaces = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
    val junk = Seq("\u0001", "\u001F", "\u00A0", "\u0085", "\u2028",
      "\u0663", ".", "e", "x", "a", "+", "-", " ")
    def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    def pad = Seq.fill(rnd.nextInt(3))(pick(spaces)).mkString
    def splice(s: String) =
      if (rnd.nextInt(4) != 0) s else {
        val at = rnd.nextInt(s.length + 1)
        s.substring(0, at) + pick(junk) + s.substring(at)
      }
    def integral: String = {
      val body = rnd.nextInt(4) match {
        case 0 => rnd.nextLong().toString
        case 1 =>
          val b = Seq(Long.MinValue, Long.MaxValue, Int.MinValue.toLong,
            Int.MaxValue.toLong, Short.MinValue.toLong, Short.MaxValue.toLong,
            Byte.MinValue.toLong, Byte.MaxValue.toLong)(rnd.nextInt(8))
          (BigInt(b) + (rnd.nextInt(5) - 2)).toString
        case 2 => Seq.fill(rnd.nextInt(22))(rnd.nextInt(10)).mkString
        case _ => rnd.nextInt(1000).toString
      }
      val signed = if (rnd.nextInt(4) == 0) "+" + body.stripPrefix("-") else body
      splice(pad + "0" * rnd.nextInt(3) + signed + pad)
    }
    def date: String = {
      val s = f"${rnd.nextInt(10000)}%04d${rnd.nextInt(14)}%02d${rnd.nextInt(33)}%02d" +
        pick(Seq("", "", "", "T99", "1", " ", "x"))
      splice(if (rnd.nextInt(10) == 0) s.take(rnd.nextInt(8)) else s)
    }
    Seq.fill(n)(if (rnd.nextBoolean()) integral else date)
  }

  test("parse kernels ≡ the guarded forms on random and adversarial " +
      "strings, interpreted and codegen'd, ANSI on and off") {
    val corpus = adversarial ++ randomCorpus(40000)
    val schema = StructType(StructField("v", StringType) +:
      parsedTypes.map { case (n, t) => StructField(s"o_$n", t) })
    // the oracle runs once, ANSI off: under ANSI, to_date raises on an
    // impossible day such as 20230230 instead of returning null
    val base = spark.newSession()
    base.conf.set("spark.sql.ansi.enabled", "false")
    val oracleRows = base.createDataFrame(corpus.map(Row(_)).asJava,
        StructType(Seq(StructField("v", StringType))))
      .select(col("v") +: parsedTypes.map { case (n, t) =>
        (if (t == DateType) guardedDate(col("v")) else guardedIntegral(col("v"), t))
          .as(s"o_$n") }: _*)
      .collect().toSeq
    assert(oracleRows.size == corpus.size)
    for (ansi <- Seq("false", "true"); codegen <- Seq(false, true)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi)
      s.conf.set("spark.sql.codegen.factoryMode",
        if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
      s.conf.set("spark.sql.codegen.fallback", "false")
      s.conf.set("spark.sql.adaptive.enabled", "false") // plain plan tree
      val local = s.createDataFrame(oracleRows.asJava, schema)
      val in = if (codegen) local.repartition(2) else local
      val diff = in.select(col("v") +: parsedTypes.flatMap { case (n, t) =>
          Seq(col(s"o_$n"), kernel(col("v"), t).as(s"k_$n")) }: _*)
        .filter(!parsedTypes.map { case (n, _) =>
          col(s"k_$n") <=> col(s"o_$n") }.reduce(_ && _))
      if (codegen) assert(diff.queryExecution.executedPlan
        .exists(_.isInstanceOf[WholeStageCodegenExec]))
      else assert(diff.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      val bad = diff.collect()
      assert(bad.isEmpty, s"ansi=$ansi codegen=$codegen: ${bad.length} " +
        s"mismatches, e.g. ${bad.take(5).mkString("; ")}")
    }
  }

  test("concatStrict is null when ANY input is null (Polars concat_str)") {
    val df = Seq(("36061", Some("012345")), ("36061", None))
      .toDF("fips", "tract")
    val strict = df.select(Exprs.concatStrict("_", $"fips", $"tract").as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(strict.sameElements(Array(Some("36061_012345"), None)))
    val fb = df.select(
        Exprs.concatStrictOrElse("_", $"fips", $"fips", $"tract").as("c"))
      .as[String].collect()
    assert(fb.sameElements(Array("36061_012345", "36061")))
  }

  test("whitelistElseNull and zeroToNull") {
    val wl = Seq("2", "9").toDF("v")
      .select(Exprs.whitelistElseNull($"v", Seq("1", "2", "3")).as("w"))
      .collect().map(r => Option(r.get(0)))
    assert(wl.sameElements(Array(Some("2"), None)))
    val zn = Seq(0.0, 40.7).toDF("v")
      .select(Exprs.zeroToNull($"v").as("z"))
      .collect().map(r => Option(r.get(0)))
    assert(zn.sameElements(Array(None, Some(40.7))))
  }

  test("preferNonZero cascade picks first non-null non-zero measure") {
    val df = Seq(
      (Some(500L), Some(600L), Some(550L)), // assd wins
      (Some(0L), Some(600L), None),         // assd zero -> market
      (None, None, Some(550L)),             // appr fallback
      (Some(0L), None, None),               // nothing usable
    ).toDF("assd", "market", "appr")
    val (v, l) = Exprs.preferNonZero(Seq(
      "Assd" -> col("assd"), "Market" -> col("market"), "Appr" -> col("appr")))
    val got = df.select(v.as("v"), l.as("l")).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(got.sameElements(Array(
      (Some(500L), Some("Assd")), (Some(600L), Some("Market")),
      (Some(550L), Some("Appr")), (None, None))))
  }
}
