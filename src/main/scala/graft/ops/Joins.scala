package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.5, reference fa-etl.py:357-391,459-476).
  *
  * All reference joins are left equi-joins (single or composite key, some
  * with mismatched key names). We use `join(right, Seq(keys), "left")` so
  * the key columns are coalesced into one output column (no ambiguity),
  * matching the reference's Polars join behavior.
  *
  * Scale notes:
  *  - Dimension-sized right sides should pass `broadcastRight = true`
  *    (maps the reference's `force_parallel=True` prop join,
  *    fa-etl.py:463-465, to a BroadcastHashJoin — no shuffle of the fact
  *    side).
  *  - The unified join chain (J3–J5) does not keep one partitioning:
  *    the m:1 guard rewrites J3's right-side key, so that side is shuffled
  *    twice, and J4/J5 join on (PropertyID, year), so the fact side is
  *    shuffled again after J3 — six exchanges in all
  *    (see `fa.Stages.unifiedJoin`).
  */
object Joins {

  /** J1/J3 (fa-etl.py:357-361,459-465): left equi-join on same-named keys. */
  def leftJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               broadcastRight: Boolean = false): DataFrame =
    left.join(if (broadcastRight) broadcast(right) else right, keys, "left")

  /** J4/J5 (fa-etl.py:467-476): left equi-join where the right table's key
    * columns have different names — rename right-side keys to the left
    * names, then equi-join (so keys stay single columns in the output). */
  def leftJoinRenamed(left: DataFrame, right: DataFrame,
                      keyMap: Seq[(String, String)],
                      broadcastRight: Boolean = false): DataFrame = {
    val renamed = keyMap.foldLeft(right) { case (df, (lName, rName)) =>
      if (lName == rName) df else df.withColumnRenamed(rName, lName)
    }
    leftJoin(left, renamed, keyMap.map(_._1), broadcastRight)
  }

  /** LAZY uniqueness guard — the reference's join-cardinality intent
    * (`validate='m:1'`, fa-etl.py:464) and its ad-hoc uniqueness asserts
    * (fa-etl.py:348-349): returns `df` with its first key column wrapped
    * so that any duplicated key RAISES when the plan executes. Plan
    * construction triggers zero jobs; the check rides the join's own
    * execution — a per-key window count on the guarded side, and the join
    * key itself carries the `raise_error`, so column pruning can never
    * silently drop the guard (the join must evaluate its keys).
    *
    * A key with ANY NULL column passes however often it repeats: an
    * equi-join never matches it, so it cannot fan out the other side (an
    * extract with several unparseable keys is damaged input, not a
    * cardinality violation).
    *
    * Cost model: one extra hash shuffle of the GUARDED side on the join
    * keys (the window), instead of a separate scan + aggregation job. The
    * guarded side of an m:1 contract is the dimension side, so at 100 TB
    * this is the cheap side either way.
    *
    * CAVEAT — the guard sees the side AS RETURNED, not as scanned: the
    * window counts keys in this DataFrame's result, and Catalyst pushes
    * later per-key filters BELOW the window. A downstream
    * `.filter(col(key) === x)` therefore prunes other keys' duplicates
    * before the count runs — duplicates on pruned keys go undetected
    * (the surviving key's own duplicates still raise). A contract over
    * the FULL table needs the guard applied before such filters are
    * possible. */
  def withUniqueKeyGuard(df: DataFrame, keys: Seq[String],
                         side: String = "input"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val k0 = keys.head
    df.withColumn("__graft_keycnt", count(lit(1)).over(w))
      .withColumn(k0,
        when(col("__graft_keycnt") <= 1 || keys.map(k => col(k).isNull).reduce(_ || _),
          col(k0))
          .otherwise(raise_error(concat(
            lit(s"$side is not unique on (${keys.mkString(", ")}): e.g. key="),
            concat_ws(",", keys.map(k => col(k).cast("string")): _*)))))
      .drop("__graft_keycnt")
  }

  /** Left join with a declared cardinality contract, mirroring pandas/
    * Polars `validate=`: "m:1" requires the right side unique on the keys,
    * "1:m" the left, "1:1" both, "m:m" skips the check. The wrong-side
    * duplication the reference worried about (a dup PropertyID in prop
    * silently fanning out the panel) aborts with sample keys instead of
    * corrupting downstream aggregates.
    *
    * Enforcement is LAZY ([[withUniqueKeyGuard]]): building the plan runs
    * nothing; the first action over the join raises on a contract
    * violation. NULL keys never match, so they never violate it. */
  def leftJoinValidated(left: DataFrame, right: DataFrame, keys: Seq[String],
                        expect: String): DataFrame = {
    val (gl, gr) = expect match {
      case "m:1" => (left, withUniqueKeyGuard(right, keys, "right side of m:1 join"))
      case "1:m" => (withUniqueKeyGuard(left, keys, "left side of 1:m join"), right)
      case "1:1" => (withUniqueKeyGuard(left, keys, "left side of 1:1 join"),
        withUniqueKeyGuard(right, keys, "right side of 1:1 join"))
      case "m:m" => (left, right)
      case other => throw new IllegalArgumentException(
        s"expect must be one of m:1, 1:m, 1:1, m:m — got '$other'")
    }
    leftJoin(gl, gr, keys)
  }

  /** As-of join (backward): for each left row, attach the single right row
    * with the greatest `rightOn` that is ≤ `leftOn`, matching on equi
    * `keys`; left rows without a match keep nulls (left semantics).
    *
    * Spark has no native ASOF join; per the preference order (SURVEY.md
    * §7 / spark guide) this is the built-in composition: equi-join on keys
    * with the range predicate, then deterministic top-1 per left row
    * (`leftId` must uniquely identify left rows; `tieBreak` orders equal
    * `rightOn` values). Catalyst plans the equi part as a hash/sort-merge
    * join with the range filter applied post-match, and the top-1 as
    * WindowGroupLimit — per-key match counts bound the blow-up, which is
    * the usual as-of regime (bounded history per entity).
    */
  def asOfJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftId: Seq[String], leftOn: Column, rightOn: Column,
                       tieBreak: Seq[Column] = Nil): DataFrame = {
    // Rename right-side keys before joining: when left and right derive
    // from the same scan (self-as-of), dataframe-qualified column refs
    // (right(k)) are ambiguous after Catalyst's attribute dedup — renamed
    // keys are unambiguous by construction.
    val renamed = keys.foldLeft(right)((df, k) =>
      df.withColumnRenamed(k, s"__asof_$k"))
    val matched = left.join(renamed,
        keys.map(k => left(k) === renamed(s"__asof_$k")).reduce(_ && _) &&
          rightOn <= leftOn, "left")
      .drop(keys.map(k => s"__asof_$k"): _*)
    Windows.topOnePerGroup(matched,
      leftId.map(col),
      rightOn.desc_nulls_last +: tieBreak)
  }

  /** As-of join (forward): for each left row, attach the single right row
    * with the SMALLEST `rightOn` that is ≥ `leftOn` — next-event
    * attribution (first purchase after a campaign touch, next error
    * after a deploy). Mirror of [[asOfJoinBackward]]: same equi+range
    * composition, top-1 flips to ascending. */
  def asOfJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftId: Seq[String], leftOn: Column, rightOn: Column,
                      tieBreak: Seq[Column] = Nil): DataFrame = {
    val renamed = keys.foldLeft(right)((df, k) =>
      df.withColumnRenamed(k, s"__asof_$k"))
    val matched = left.join(renamed,
        keys.map(k => left(k) === renamed(s"__asof_$k")).reduce(_ && _) &&
          rightOn >= leftOn, "left")
      .drop(keys.map(k => s"__asof_$k"): _*)
    Windows.topOnePerGroup(matched,
      leftId.map(col),
      rightOn.asc_nulls_last +: tieBreak)
  }

  /** Bucketized range join (point-in-interval): each point row matches
    * every interval row with `start <= point <= end` (inclusive, long
    * domain — cast dates/timestamps to epoch days/seconds first).
    *
    * Spark plans a bare non-equi join predicate as a BroadcastNestedLoop
    * join — O(|points| × |intervals|) compares, and an outright
    * single-node bottleneck once the interval side outgrows broadcast.
    * This operator restores an equi-join shape: points key on
    * `floor(p / w)`, intervals EXPLODE into every bucket they overlap,
    * and the bucket equi-join (hash/SMJ — shuffled, scalable, AQE-
    * skew-splittable) is followed by the exact residual `between`. A
    * point lands in exactly one bucket, so each (point, interval) pair
    * meets at most once — no post-join dedup.
    *
    * `bucketWidth` is the one tuning knob: interval rows replicate
    * ceil(span/w)+1 times (cost ∝ 1/w) while each point's bucket collides
    * with every interval overlapping that bucket (selectivity ∝ w). Set
    * it near the MEDIAN interval span so typical intervals explode to
    * ~2 rows; a long-tail interval only fattens the build side by its
    * own span/w. Intervals with `end < start` are dropped (they contain
    * no point; also keeps `sequence` ascending).
    *
    * Bucket ids use EXACT integer floor-division (`(x - pmod(x, w)) div
    * w`, all long arithmetic) — `floor(x / w)` rides a double divide,
    * which can misbucket values beyond 2^53 (epoch-micros scale): the
    * residual filter drops false matches but cannot recover a pair that
    * never met in a bucket. */
  private def floorDiv(colName: String, w: Long): Column =
    expr(s"(`$colName` - pmod(`$colName`, ${w}L)) div ${w}L")

  def rangeJoinPoints(points: DataFrame, pointCol: String,
                      intervals: DataFrame, startCol: String, endCol: String,
                      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty,
      s"points/intervals column names must be disjoint, both have: $overlap")
    val p = points.withColumn("__rj_bucket", floorDiv(pointCol, bucketWidth))
    val iv = intervals.filter(col(endCol) >= col(startCol))
      .withColumn("__rj_bucket",
        explode(sequence(floorDiv(startCol, bucketWidth),
          floorDiv(endCol, bucketWidth))))
    p.join(iv, Seq("__rj_bucket"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__rj_bucket")
  }

  /** Bucketized interval-OVERLAP join: left interval [ls, le] matches
    * right interval [rs, re] iff they overlap (`ls <= re AND rs <= le`,
    * inclusive). Same motivation as [[rangeJoinPoints]] — the naive
    * predicate plans as a nested loop — but two exploded sides meet in
    * EVERY shared bucket, so a naive bucket join duplicates pairs. The
    * standard ownership trick dedups for free: a pair's overlap region
    * starts at `greatest(ls, rs)`, which lies in exactly one bucket —
    * keep the match only in that bucket. No distinct, no post-join
    * shuffle; each surviving pair is emitted exactly once.
    *
    * Replication is ceil(span/w)+1 per row per side; the ownership
    * filter is evaluated post-match, codegen'd. Degenerate and inverted
    * intervals: `end < start` rows can't overlap anything and are
    * dropped (also keeps `sequence` ascending). */
  def rangeJoinIntervals(left: DataFrame, leftStart: String, leftEnd: String,
                         right: DataFrame, rightStart: String, rightEnd: String,
                         bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"left/right column names must be disjoint, both have: $overlap")
    val w = bucketWidth
    def explodeBuckets(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(col(e) >= col(s)).withColumn("__rj_bucket",
        explode(sequence(floorDiv(s, w), floorDiv(e, w))))
    // ownership: exact long floor-div of the overlap start (see floorDiv)
    val ownBucket = expr(
      s"(greatest(`$leftStart`, `$rightStart`) - " +
        s"pmod(greatest(`$leftStart`, `$rightStart`), ${w}L)) div ${w}L")
    explodeBuckets(left, leftStart, leftEnd)
      .join(explodeBuckets(right, rightStart, rightEnd), Seq("__rj_bucket"))
      .filter(col(leftStart) <= col(rightEnd) &&
        col(rightStart) <= col(leftEnd))
      .filter(ownBucket === col("__rj_bucket"))
      .drop("__rj_bucket")
  }

  /** Semi/anti generalization surface (not in the reference — SURVEY.md
    * §2.5 notes no semi/anti joins; exposed for the engine's library). */
  def semiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_semi")

  /** Bloom-prefiltered semi-join: identical result to [[semiJoin]], but
    * the fact side first passes a bloom membership probe built from the
    * key side ([[Sketches.bloomAgg]]) — the explicit form of AQE's
    * runtime bloom filter, available when the optimizer can't infer one
    * (non-equi downstream use, reused dims, cross-job filters).
    *
    * Why it matters at 100 TB: the exact semi-join must SHUFFLE every
    * surviving fact row; the bloom probe runs at the scan with a
    * broadcast-sized binary, so when the dim keys select (say) 1% of the
    * fact table, 99% of rows die before the exchange. Bloom false
    * positives only cost shuffle volume — the exact join behind the probe
    * keeps the result exact. `expectedItems` should be ≥ the dim's
    * distinct key count; `numBits` ≈ 10× expectedItems gives ~1% FPR. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                    expectedItems: Long, numBits: Long): DataFrame = {
    val key = if (keys.length == 1) col(keys.head)
      else struct(keys.map(col): _*)
    val bloom = dim
      .agg(Sketches.bloomAgg(key, expectedItems, numBits).as("bf")).scalar()
    semiJoin(fact.filter(Sketches.mightContain(bloom, key)), dim, keys)
  }

  def antiJoin(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")
}
