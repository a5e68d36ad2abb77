package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / dedup operators (SURVEY.md §2.4, reference fa-etl.py:99-105).
  *
  * The reference's only window shape is "rank within group, keep top-1"
  * (latest sale per property-year). We generalize to deterministic top-k
  * per group; the reference's seeded-random tie-break is not portable
  * across engines (SURVEY.md §5), so ties break on a total order instead.
  *
  * Scale note: `row_number` over a partition key shuffles once on that key;
  * the subsequent `filter(rn <= k)` is evaluated inside the same stage. At
  * 100 TB the partition key (e.g. PropertyID) is high-cardinality, so the
  * shuffle is well-spread; skew in a hot key is handled by AQE skew-join/
  * partition-split (enabled in GraftSession).
  */
object Windows {

  private val RN = "__graft_rn"

  /** W1/A1 (fa-etl.py:99,105): keep the top-1 row per group under a total
    * order. Caller must pass a tie-free `orderBy` (e.g. date desc then a
    * unique key) for deterministic output — SURVEY.md §5. */
  def topOnePerGroup(df: DataFrame, partitionBy: Seq[Column],
                     orderBy: Seq[Column]): DataFrame =
    topKPerGroup(df, partitionBy, orderBy, 1)

  /** Generalized top-k per group. */
  def topKPerGroup(df: DataFrame, partitionBy: Seq[Column],
                   orderBy: Seq[Column], k: Int): DataFrame =
    df.withColumn(RN,
        row_number().over(Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))
      .filter(col(RN) <= k)
      .drop(RN)

  /** Aggregation form of top-1 per group (SURVEY.md §2.6 A1's
    * `groupBy.agg(max_by)` alternative): one aggregate with map-side
    * partial combine and no rank pass. Honest measurement (round 2, noop
    * sink, 6M rows): this and the window form time EQUAL on local[32] —
    * Spark 3.5+'s `InferWindowGroupLimit` already collapses the window
    * idiom's shuffle to ~|groups| rows, and scan decode dominates. (The
    * round-1 "3.2×" number was a count()-sink artifact: Catalyst pruned
    * the un-referenced max_by wholesale, timing a gutted plan.) The agg
    * form drops two per-partition sorts + the rank pass from the plan;
    * round-5 wide-row measurement (4M rows × 55 columns incl. 26
    * strings, noop sink, 32 g heap) shows that does NOT
    * buy wall-clock either: window 4.54 s vs agg 5.09 s min-of-3 — equal
    * within noise, because `InferWindowGroupLimit`'s per-partition
    * group-limit discards losers BEFORE the sort sees most rows. Under an
    * 8 g heap the same wide shape drives BOTH forms into executor-killing
    * spill OOMs (sorter and hash-agg buffers alike hold whole wide rows),
    * so the real wide-row lever at scale is partition sizing, not
    * window-vs-agg. This is the explicit A1 form; window-idiom callers
    * (`topOnePerGroup`) are planned by Spark's `WindowGroupLimit`.
    * `ordering` must be a struct column whose lexicographic
    * MAX picks the winner (negate numeric components for ascending
    * tie-breaks); ties must be impossible for determinism. Returns the
    * original columns. */
  def topOneByAgg(df: DataFrame, partitionBy: Seq[Column],
                  ordering: Column): DataFrame = {
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    val winner = df.groupBy(partitionBy: _*)
      .agg(max_by(all, ordering).as("__w"))
      .select(col("__w.*"))
    winner
  }

  /** Running aggregate over an ordered frame (generalization surface; the
    * reference has no frames — SURVEY.md §2.4 note). */
  def runningSum(df: DataFrame, outCol: String, value: Column,
                 partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame =
    df.withColumn(outCol,
      sum(value).over(Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** 2-D PARETO FRONTIER (skyline) per group — the multi-objective
    * filter (Börzsönyi et al. 2001's SKYLINE OF): keep a row iff no
    * other row in its group DOMINATES it, i.e. is ≤ on the minimized
    * column and ≥ on the maximized column with at least one strict.
    * The "best price for the quantity" / "best quality for the length"
    * trade-off curve, computed without the naive quadratic self-join.
    *
    * Window formulation (all-integer compares, no float): sort each
    * group by the minimized column; a row is dominated iff
    * (a) some STRICTLY-cheaper row reaches ≥ its maximized value — a
    * RANGE frame max over x' < x, or (b) an equal-cost row strictly
    * beats it — the partition-by-(group, x) max. Equal (x, y) pairs
    * do not dominate each other, so duplicates of a frontier point all
    * survive (set semantics would be a `distinct` upstream).
    *
    * CONTRACT: `minCol` must be an INTEGRAL column (enforced). The
    * strict-dominance frame is rangeBetween(…, −1) = "x' ≤ x − 1",
    * which equals "x' < x" only on integer-valued data — a fractional
    * cost column would silently miss dominators in (x−1, x). Scale
    * fractional costs to integer cents/micros upstream.
    *
    * Scale shape: two windows on the SAME (group ordered-by x) shuffle
    * — Spark plans one Exchange + two Sort/Window passes, nothing
    * quadratic anywhere; the range frame is monotone so each partition
    * streams. Group cardinality spreads the shuffle; a single giant
    * group degrades to its own partition (the documented window-op
    * bound, q07 precedent). */
  def paretoFrontier(df: DataFrame, groupCols: Seq[Column],
                     minCol: String, maxCol: String): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType,
      LongType}
    val minType = df.schema(minCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(minType),
      s"paretoFrontier minCol '$minCol' must be integral (the " +
        s"rangeBetween(-1) strict-dominance frame is exact only on " +
        s"integers); got $minType — scale to cents/micros upstream")
    val strictlyBelow = Window.partitionBy(groupCols: _*)
      .orderBy(col(minCol).asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val sameX = Window.partitionBy(groupCols :+ col(minCol): _*)
    df.withColumn("__mPrev", max(col(maxCol)).over(strictlyBelow))
      .withColumn("__mEq", max(col(maxCol)).over(sameX))
      .filter((col("__mPrev").isNull || col("__mPrev") < col(maxCol)) &&
        col("__mEq") === col(maxCol))
      .drop("__mPrev", "__mEq")
  }

  /** WEIGHTED MEDIAN per group — the lower weighted median: the smallest
    * value v whose cumulative weight reaches half the total
    * (2·cum(v) ≥ total). ALL-INTEGER (values and weights are longs), so
    * unlike the interpolated [[graft.ops.Events.madOutliers]] medians
    * there is no float anywhere — the strongest determinism class.
    * The estimator a revenue dashboard wants when rows carry volume
    * (median price paid per UNIT, not per order line).
    *
    * Scale shape: collapse to one row per (group, value) FIRST (one
    * combinable aggregation — the cumulative window then runs over
    * distinct values, not raw rows), one cumulative-sum window on the
    * group key, one min-aggregate. A group's distinct-value count, not
    * its row count, bounds the window. */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
                     weightCol: String): DataFrame = {
    val g = df.groupBy(col(groupCol), col(valCol).as("v"))
      .agg(sum(col(weightCol)).as("w"))
    val cum = Window.partitionBy(col(groupCol)).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // group totals via one combinable agg + equi-join (r17): the
    // whole-partition window frame re-buffered every (group, value) row
    // for one scalar per group, on top of the running frame that streams.
    // No broadcast hint — the group count is data-dependent, so the
    // planner/AQE picks broadcast only when the totals side is small.
    val tot = g.groupBy(col(groupCol))
      .agg(sum(col("w")).as("tot"))
    g.join(tot, Seq(groupCol))
      .withColumn("cum", sum(col("w")).over(cum))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col(groupCol))
      .agg(min(col("v")).as("wmedian"))
  }
}
