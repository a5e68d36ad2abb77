package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** SQL access to the native expressions via the extensions hook. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("registered SQL functions evaluate the native expressions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT simhash64(split('a b c', ' ')) AS sh,
                simhash64(split('a b c', ' ')) AS sh2,
                cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS cs,
                minhash_sig(split('a b c d e', ' '), 4, 3) AS mh""").collect()(0)
    assert(r.getLong(0) == r.getLong(1))
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getSeq[Long](3).length == 4)
  }

  test("SQL word_shingles and repetition_stats evaluate the native expressions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT word_shingles(split('a b c d', ' '), 2) AS sh,
                repetition_stats(split('x y x y x', ' ')) AS rs""").collect()(0)
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
    val rs = r.getStruct(1)
    // 'x' occurs 3x; bigram 'x y' occurs 2x; all 3 trigram slots repeat?
    // trigrams: "x y x"(2), "y x y"(1) -> dup positions = 2
    assert(rs.getLong(0) == 3L && rs.getLong(1) == 2L && rs.getLong(2) == 2L)
  }

  test("SQL char_entropy evaluates the native expression") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT char_entropy('abcd') AS e").collect()(0)
    assert(math.abs(r.getDouble(0) - math.log(4)) < 1e-9)
  }

  test("SQL int8 family evaluates the native expressions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT int8_scale(v) AS s,
                int8_quant(v, int8_scale(v)) AS q,
                int8_max_err(v, int8_scale(v)) AS e,
                int8_dot(int8_quant(v, int8_scale(v)),
                         int8_quant(v, int8_scale(v))) AS d
         FROM (SELECT CAST(array(1.27, -2.54, 0.0) AS ARRAY<DOUBLE>) AS v)""")
      .collect()(0)
    assert(r.getDouble(0) == 0.02)
    assert(r.getSeq[Int](1) == Seq(64, -127, 0))
    // max err: |1.27 - 64*0.02| = 0.01; |-2.54 + 127*0.02| = 0.0
    assert(r.getDouble(2) == 0.01)
    assert(r.getLong(3) == 64L * 64 + 127L * 127)
  }

  test("SQL hyperplane_sig matches the Scala API and fail-fasts on wrong dim") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val viaSql = spark.sql("SELECT hyperplane_sig(array(1.0d, -2.0d), 4, 2) s")
      .collect()(0).getLong(0)
    val viaApi = Seq(Seq(1.0, -2.0)).toDF("v")
      .select(graft.ops.Similarity.lshSignature(col("v"), nBits = 4, dim = 2)
        .as("s")).collect()(0).getLong(0)
    assert(viaSql == viaApi)
    // a wrong-dim vector must raise, not silently emit the all-zero
    // signature that collapses the corpus into one LSH bucket
    val err = intercept[Throwable] {
      spark.sql("SELECT hyperplane_sig(array(1.0d), 4, 2) s").collect()
    }
    val msgs = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("expected dim 2"), msgs)
  }

  test("SQL jaro_winkler evaluates the native expression with the pinned " +
    "DuckDB-parity semantics (byte-level, empty=0, boost order)") {
    import graft.functions.JaroWinkler
    // DuckDB-probed reference values (see JaroWinkler scaladoc)
    assert(JaroWinkler.compute("".getBytes, "".getBytes) == 0.0)
    assert(JaroWinkler.compute("".getBytes, "x".getBytes) == 0.0)
    assert(JaroWinkler.compute("abc".getBytes, "abc".getBytes) == 1.0)
    // byte semantics: é is TWO match units — DuckDB says 0.84 exactly
    assert(JaroWinkler.compute("héllo".getBytes("UTF-8"),
      "hello".getBytes("UTF-8")) == 0.8400000000000001)
    assert(JaroWinkler.compute("日本語abc".getBytes("UTF-8"),
      "日本語abd".getBytes("UTF-8")) == 0.9666666666666666)
    // the textbook pair (Winkler 1990): martha/marhta = 0.9611...
    val m = JaroWinkler.compute("martha".getBytes, "marhta".getBytes)
    assert(math.abs(m - 0.9611111111111111) < 1e-15, m)
    // SQL face == Scala face == interpreted eval (codegen parity)
    val viaSql = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') j").collect()(0).getDouble(0)
    assert(viaSql == m)
    // null-strict like every binary string function
    assert(spark.sql("SELECT jaro_winkler(CAST(NULL AS STRING), 'x') j")
      .collect()(0).isNullAt(0))
  }

  test("a second tune registers no function again") {
    GraftSession.tune(spark)
    val reg = spark.sessionState.functionRegistry
    def infos = GraftExtensions.functions.map { case (name, _, _) =>
      reg.lookupFunction(FunctionIdentifier(name)).get
    }
    val first = infos
    GraftSession.tune(spark)
    first.zip(infos).foreach { case (a, b) =>
      assert(a eq b, s"${a.getName} was registered again")
    }
  }

  test("withExtensions wires functions at session build") {
    // a second session in the same JVM shares the context but gets its own
    // state; extensions must apply
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // getOrCreate may return the existing session; register covers both
    GraftExtensions.register(s2)
    assert(s2.sql("SELECT cosine_sim(array(1.0d,0.0d), array(0.0d,1.0d)) c")
      .collect()(0).getDouble(0) == 0.0)
  }
}
