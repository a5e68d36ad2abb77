package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Bounded-memory percentile and winsorizing contracts on fixtures and
  * real testdata. */
class SketchesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("binnedPercentile: exact on a fixture; within binWidth/2 of the " +
    "exact nearest-rank value on lineitem (the q67 contract)") {
    // fixture: values 1..10 in one group; p=0.5 -> rank 5 -> value 5 ->
    // bin floor(5/2)=2 -> midpoint 5.0; p=0.9 -> rank 9 -> bin 4 -> 9.0
    val fix = (1 to 10).map(v => ("g", v.toDouble)).toDF("k", "v")
    def one(df: org.apache.spark.sql.DataFrame, p: Double) =
      Sketches.binnedPercentile(df, "v", Seq("k"), p, binWidth = 2.0)
        .collect()(0).getDouble(1)
    assert(one(fix, 0.5) == 5.0 && one(fix, 0.9) == 9.0)
    // null values are excluded, not counted into ranks
    val withNulls = fix.union(Seq(("g", null.asInstanceOf[java.lang.Double]))
      .toDF("k", "v").select($"k", $"v".cast("double")))
    assert(one(withNulls, 0.5) == 5.0)

    // real-data bound, grouped (the q67 shape): the exact nearest-rank
    // value must lie in the chosen bin => |mid - exact| <= w/2
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    for ((vc, p, w) <- Seq(("l_quantity", 0.5, 1.0),
                           ("l_extendedprice", 0.9, 100.0))) {
      val approx = Sketches.binnedPercentile(li, vc, Seq("l_returnflag"),
          p, w).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val exact = li.select($"l_returnflag", col(vc).cast("double").as("v"))
        .collect().groupBy(_.getString(0))
        .map { case (g, rows) =>
          val vs = rows.map(_.getDouble(1)).sorted
          g -> vs(math.ceil(p * vs.length).toInt - 1) // 1-based nearest rank
        }
      exact.foreach { case (g, ex) =>
        assert(math.abs(approx(g) - ex) <= w / 2,
          s"group $g: approx=${approx(g)} exactNR=$ex w=$w")
      }
    }
  }

  test("winsorize: interior values pass through untouched, tails clip to " +
    "the per-group band, nulls stay null") {
    // group g: 1..100; p10 -> bin midpoint 11.0, p90 -> 91.0 (binWidth 2)
    val fix = ((1 to 100).map(v => ("g", v.toDouble)) ++
        Seq(("h", 5.0), ("h", 6.0), ("h", 7.0)))
      .toDF("k", "v")
      .union(Seq(("g", null.asInstanceOf[java.lang.Double])).toDF("k", "v")
        .select($"k", $"v".cast("double")))
    val got = Sketches.winsorize(fix, "v", Seq("k"), 0.1, 0.9,
        binWidth = 2.0, outCol = "w").collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.toString.toDouble),
        Option(r.get(2)).map(_.toString.toDouble)))
    val g = got.filter(_._1 == "g")
    assert(g.find(_._2.contains(50.0)).get._3.contains(50.0)) // interior: identity
    assert(g.find(_._2.contains(1.0)).get._3.contains(11.0))  // low tail clips up
    assert(g.find(_._2.contains(100.0)).get._3.contains(91.0))// high tail clips down
    assert(g.find(_._2.isEmpty).get._3.isEmpty)               // null stays null
    // group h is independent: its own (narrow) band, values interior
    assert(got.filter(_._1 == "h").forall(r => r._2 == r._3))
  }
}
