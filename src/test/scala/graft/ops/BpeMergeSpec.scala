package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the r17 array-fold BPE merge application to the windowed
  * (runid/runmin) rule it replaced: greedy left-to-right non-overlapping
  * pair replacement, where a run of the pair's left symbol with bx = by
  * merges at even offsets from the run start. The fixtures force every
  * tricky shape: bx = by runs of odd/even length, overlapping bx ≠ by
  * chains, and repeated application across rounds. */
class BpeMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The pre-r17 windowed merge application, verbatim, over the
    * exploded (word, freq, pos, sym) table. */
  private def oldApply(syms: DataFrame, bx: String, by: String): DataFrame = {
    val wp = Window.partitionBy(col("word")).orderBy(col("pos").asc)
    val t = syms
      .withColumn("bx", lit(bx)).withColumn("by", lit(by))
      .withColumn("nxts", lead(col("sym"), 1).over(wp))
      .withColumn("lags", lag(col("sym"), 1).over(wp))
      .withColumn("runid", sum(when(col("sym") === col("bx") &&
          (col("lags").isNull || col("lags") =!= col("bx")), 1L)
          .otherwise(0L))
        .over(wp.rowsBetween(Window.unboundedPreceding, 0)))
    val v = t
      .withColumn("runmin",
        min(when(col("sym") === col("bx"), col("pos")))
          .over(Window.partitionBy(col("word"), col("runid"))))
      .withColumn("strt", col("sym") === col("bx") &&
        col("nxts") === col("by") &&
        (col("bx") =!= col("by") ||
          (col("pos") - col("runmin")) % 2 === 0))
      .withColumn("scnd",
        coalesce(lag(col("strt"), 1).over(wp), lit(false)))
    v.filter(!col("scnd"))
      .withColumn("sym2", when(col("strt"),
        concat(col("bx"), col("by"))).otherwise(col("sym")))
      .withColumn("pos2", row_number().over(wp))
      .select(col("word"), col("pos2").as("pos"), col("sym2").as("sym"))
  }

  /** The r17 fold, verbatim from bpeCore. */
  private def newApply(arr: DataFrame, bx: String, by: String): DataFrame =
    arr.withColumn("bx", lit(bx)).withColumn("by", lit(by))
      .select(col("word"), expr(
        """aggregate(syms,
          |  named_struct('acc', cast(array() as array<string>),
          |               'lm', false),
          |  (st, s) -> case
          |    when size(st.acc) > 0 and not st.lm
          |         and element_at(st.acc, -1) = bx and s = by
          |    then named_struct(
          |      'acc', concat(slice(st.acc, 1, size(st.acc) - 1),
          |                    array(bx || by)),
          |      'lm', true)
          |    else named_struct('acc', concat(st.acc, array(s)),
          |                      'lm', false)
          |  end,
          |  st -> st.acc)""".stripMargin).as("syms"))

  private def check(words: Seq[Seq[String]], bx: String, by: String): Unit = {
    val arr = words.zipWithIndex
      .map { case (s, i) => (s"w$i", s) }.toDF("word", "syms")
    val exploded2 = words.zipWithIndex.flatMap { case (s, i) =>
      s.zipWithIndex.map { case (sym, p) => (s"w$i", p + 1, sym) }
    }.toDF("word", "pos", "sym")
    val oldR = oldApply(exploded2, bx, by)
      .groupBy(col("word"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sym")))).as("ps"))
      .select(col("word"),
        expr("transform(ps, x -> x.sym)").as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val newR = newApply(arr, bx, by)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(newR == oldR, s"bx=$bx by=$by words=$words")
  }

  test("fold matches windowed merge on bx = by runs and overlaps") {
    check(Seq(
      Seq("a", "a", "a"),            // odd run, bx=by
      Seq("a", "a", "a", "a"),       // even run
      Seq("b", "a", "a", "a", "b"),  // interior run
      Seq("a"),                      // single symbol
      Seq("a", "a")), "a", "a")
  }

  test("fold matches windowed merge on bx != by chains") {
    check(Seq(
      Seq("a", "b", "b"),            // second b not consumed
      Seq("a", "a", "b"),            // merge at the second a
      Seq("a", "b", "a", "b"),       // two disjoint merges
      Seq("b", "a", "b", "a"),       // no merge at tail a
      Seq("ab", "a", "b", "c</w>")), "a", "b")
  }

  test("end-to-end bpeTrain matches hand-computed merges") {
    val docs = Seq("aa ab aa", "ab aa").toDF("text")
    // words: aa freq 3, ab freq 2 → symbols: [a, a</w>] ×3, [a, b</w>] ×2
    // round-1 pairs: (a, a</w>) 3, (a, b</w>) 2 → best (a, a</w>, 3)
    val m = TextAnalysis.bpeTrain(docs, "text", merges = 2)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == (1L, "a", "a</w>", 3L))
    assert(m(1) == (2L, "a", "b</w>", 2L))
  }
}
