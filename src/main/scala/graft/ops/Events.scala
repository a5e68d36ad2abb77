package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream operators (extension surface — SURVEY.md §2.9 notes the
  * reference is batch-only; the `events` testdata table drives these).
  */
object Events {

  /** Load the events table, normalizing `ts` to TIMESTAMP (LTZ) whatever
    * the parquet writer chose. Encodings seen across testdata generations:
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright —
    *     with `spark.sql.legacy.parquet.nanosAsLong=true` (GraftSession) it
    *     arrives as long nanos; convert with integer `div` (not `/`) since
    *     nanos exceed 2^53 and double division loses ticks.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *     TIMESTAMP_NTZ; cast to TIMESTAMP — value-preserving under the
    *     pinned UTC session timezone, and required by `unix_micros` et al.
    *   - TIMESTAMP(MICROS/MILLIS, UTC-adjusted): already TIMESTAMP. */
  def load(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark) // nanosAsLong must be set BEFORE the read
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Normalize an events frame's `ts` column to TIMESTAMP (LTZ). Safe on
    * any of the three encodings above; no-op when already LTZ. */
  def normalizeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _ => raw
  }

  /** JSON property extraction (built-in `get_json_object`; SURVEY.md §2.8
    * reserves JSON for the extension surface). */
  def jsonField(c: Column, path: String, as: DataType = LongType): Column =
    get_json_object(c, path).try_cast(as)

  /** The calendar-day index of `tsCol`: days since the epoch of its
    * day in the session timezone — the day key of every daily series. */
  private[ops] def dayIndex(tsCol: String): Column =
    expr(s"unix_timestamp(date_trunc('day', $tsCol)) div 86400")

  /** The daily event-count series: one row per (`group`, day) with y =
    * the events on that day. `group` is a column of `events`, aliased
    * as the caller names it. */
  private[ops] def dailyCounts(events: DataFrame, group: Column,
                               tsCol: String): DataFrame = {
    val byDay = events.select(group, dayIndex(tsCol).as("day"))
    byDay.groupBy(byDay.columns.map(col): _*).agg(count(lit(1)).as("y"))
  }

  /** Tumbling-window aggregation over event time (the built-in
    * `window()` grouping). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").cast(TimestampNTZType).as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization: a new session starts after `gapSeconds` of
    * user inactivity. Batch analogue of `mapGroupsWithState` session
    * windows; one shuffle on user_id, then two window passes in the same
    * stage (same partitioning, no second exchange). */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame =
    withSessionSeq(events, gapSeconds)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).cast(TimestampNTZType).as("session_start"),
        count(lit(1)).as("n_events"),
        centSum(col("value")).as("sum_value"))

  /** The gap-session assignment shared by [[sessionize]] and
    * [[sessionAssemble]]: lag + cumulative-sum over one user_id shuffle;
    * both window passes ride the same partitioning (no second
    * exchange). */
  private def withSessionSeq(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val prevTs = lag(col("ts"), 1).over(byUser)
    val newSession = when(prevTs.isNull ||
      unix_micros(col("ts")) - unix_micros(prevTs) > gapSeconds * 1000000L, 1L
    ).otherwise(0L)
    events.withColumn("session_seq", sum(newSession).over(
      byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Session ASSEMBLY: each session rebuilt as its ordered event-type
    * sequence — the "turn logs into training conversations" step of an
    * interaction-data pipeline ([[sessionize]] reports aggregates; this
    * keeps the order-sensitive content). The sequence string is built
    * from `array_sort(collect_list(struct(ts, event_id, …)))`:
    * `collect_list` order under a shuffle is nondeterministic, the
    * struct sort imposes the (ts, event_id) total order AFTER collection
    * — the only safe pattern for ordered aggregation in a distributed
    * groupBy. */
  def sessionAssemble(events: DataFrame, gapSeconds: Long): DataFrame =
    withSessionSeq(events, gapSeconds)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).cast(TimestampNTZType).as("session_start"),
        count(lit(1)).as("n_events"),
        concat_ws(">", transform(array_sort(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type"))).as("event_seq"))

  /** Order-independent money sum: per-row round to integer cents (exact —
    * the inputs are 2-decimal amounts), sum as long, divide once. A double
    * `round(sum(x), 2)` is *almost* always stable, but its partial-agg merge
    * order varies run to run; integer summation removes the hazard class
    * entirely (and matches any engine's `sum(cast(round(x*100) as bigint))
    * / 100.0` bit for bit). */
  /** SCD2 (type-2 slowly-changing-dimension) attribute history from an
    * event stream: collapse each key's event sequence to the rows where
    * `attr` CHANGES, and give every surviving row a validity interval —
    * `valid_from` = its own timestamp, `valid_to` = the next change's
    * timestamp (null ⇒ `is_current`). The event-sourcing move every
    * warehouse / feature store runs to turn an append-only log into an
    * as-of-queryable dimension; the intervals feed [[Joins]]' as-of and
    * interval-join operators directly.
    *
    * Determinism: rows are ordered by the (`tsCol`, `ordCol`) TOTAL
    * order (the q19 sessionize contract — `ordCol` breaks timestamp
    * ties), and null attributes are dropped BEFORE the lag so a null
    * never splits a run of equal values asymmetrically between engines.
    * Two changes at the same timestamp produce an empty [t, t) interval
    * — retained, deterministic, and faithful to the log.
    *
    * Scale shape: both windows ride ONE shuffle on the key (the second
    * window's partitioning is the first's, so Catalyst plans a single
    * exchange); nothing else touches event-scale data. */
  def scd2History(events: DataFrame, keyCol: String, tsCol: String,
                  ordCol: String, attr: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(ordCol).asc)
    events.select(col(keyCol), col(tsCol), col(ordCol), attr.as("attr"))
      .filter(col("attr").isNotNull)
      .withColumn("prev", lag(col("attr"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("attr"))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col("attr"), col(tsCol).as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /** POINT-IN-TIME JOIN — attach to each fact row the dimension version
    * that was valid AT the fact's timestamp: the standard consumption
    * pattern of an SCD2 history ([[scd2History]] produces exactly the
    * `history` shape this expects). Interval semantics are
    * `valid_from <= ts < valid_to` (valid_to NULL = current row), the
    * same half-open contract scd2History emits. Left semantics: facts
    * before the key's first version (or with no history at all) keep
    * nulls.
    *
    * PRECONDITION: per key, history intervals are DISJOINT (scd2History
    * guarantees contiguous tiling). That is what makes this an m:1 join
    * needing NO top-1 window — containment is a pure predicate on the
    * (ts, interval) values, so unlike an as-of join there is no ordering
    * and no tie to break: same-instant fact/change pairs resolve by the
    * half-open boundary alone, identically in any engine.
    *
    * Scale shape: ONE equi-join on the keys with the containment
    * predicate applied post-match; per-key history length (versions per
    * entity — small by construction) bounds the intermediate blow-up.
    * The as-of composition ([[Joins.asOfJoinBackward]]) remains the form
    * for NON-tiling right sides. */
  def pointInTimeJoin(facts: DataFrame, history: DataFrame,
                      keys: Seq[String], factTs: String): DataFrame = {
    val renamed = keys.foldLeft(history)((df, k) =>
      df.withColumnRenamed(k, s"__pit_$k"))
    facts.join(renamed,
        keys.map(k => facts(k) === renamed(s"__pit_$k")).reduce(_ && _) &&
          col("valid_from") <= col(factTs) &&
          (col("valid_to").isNull || col(factTs) < col("valid_to")),
        "left")
      .drop(keys.map(k => s"__pit_$k"): _*)
      .drop("valid_from", "valid_to")
  }

  /** ROBUST OUTLIERS via Median Absolute Deviation — the heavy-tail-safe
    * alternative to z-scores (one wild value drags a mean/stddev fence,
    * but not the median's): per group, med = median(value), mad =
    * median(|value − med|), flag rows with |value − med| > k·mad.
    *
    * Deterministic: both medians are EXACT interpolated percentiles
    * rounded to 4 decimals before any downstream use (the q37-proven
    * `percentile` ≡ `quantile_cont` parity), so the fence comparison
    * runs on identical doubles in both engines — no raw-percentile ulp
    * can flip a boundary row.
    *
    * Scale shape: two combinable aggregations on the group key with the
    * tiny per-group stats broadcast back — the fact table never
    * shuffles. Exact `percentile` buffers each group's values; at
    * true 100 TB group sizes swap in `approx_percentile` (q67 precedent)
    * — same two-pass shape, bounded memory. */
  def madOutliers(events: DataFrame, groupCol: String, idCol: String,
                  valCol: String, k: Double = 3.0): DataFrame = {
    val med = events.groupBy(col(groupCol))
      .agg(round(percentile(col(valCol), lit(0.5)), 4).as("med"))
    val withMed = events.join(broadcast(med), groupCol)
    val mad = withMed.groupBy(col(groupCol))
      .agg(round(percentile(abs(col(valCol) - col("med")), lit(0.5)), 4)
        .as("mad"))
    withMed.join(broadcast(mad), groupCol)
      .select(col(idCol), col(groupCol), col("med"), col("mad"),
        round(abs(col(valCol) - col("med")), 4).as("dev"),
        (round(abs(col(valCol) - col("med")), 4) > lit(k) * col("mad"))
          .as("is_outlier"))
  }

  /** THEIL–SEN robust trend per group (Theil 1950, Sen 1968): the median
    * of all pairwise slopes of the group's daily counts — up to ~29%
    * corrupted days cannot move it, unlike an OLS slope (one outage day
    * drags a least-squares fit; it's just one slope among C(n,2) here).
    * The drift-monitor question it answers: is this event type's volume
    * trending, robustly?
    *
    * Deterministic: days are exact integers (UTC epoch-day — the
    * fixed-offset session-timezone contract, [[retentionCohorts]]
    * precedent), each pairwise slope is ONE double division of exact
    * integers (bit-identical cross-engine), and the median is the exact
    * interpolated percentile rounded to 4 with `+ 0.0` (slopes can be
    * negative — the signed-zero rule).
    *
    * Scale shape: the daily rollup collapses the event log first (ONE
    * combinable aggregation — the expensive input never self-joins);
    * the pairwise stage is days², bounded by the OBSERVATION WINDOW
    * (366 days ⇒ ≤ 67k pairs per group), not by corpus size. For
    * multi-year windows, run per-year and median the medians, or
    * subsample days — the standard Theil–Sen scale moves. */
  def theilSenTrend(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily = dailyCounts(events, col(groupCol), tsCol)
    val a = daily.select(col(groupCol), col("day").as("d1"), col("y").as("y1"))
    val b = daily.select(col(groupCol), col("day").as("d2"), col("y").as("y2"))
    a.join(b, groupCol)
      .filter(col("d2") > col("d1"))
      .select(col(groupCol),
        ((col("y2") - col("y1")).cast("double") /
          (col("d2") - col("d1")).cast("double")).as("slope"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_pairs"),
        (round(percentile(col("slope"), lit(0.5)), 4) + lit(0.0))
          .as("slope_med"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013) — the
    * standard A/B-test move: adjust each user's experiment-period metric
    * Y by their PRE-period covariate X, Y' = Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X), shrinking metric variance by the squared
    * pre/post correlation (often 40–60% on revenue metrics ⇒ the same
    * experiment powers in half the traffic). Output: one row per user —
    * (`userCol`, x_cents, y_cents, theta, y_adj).
    *
    * Deterministic: X and Y are integer cent sums; θ comes from INTEGER
    * moments — (n·Sxy − SxSy) / (n·Sxx − Sx²) as one double division of
    * exact longs — and the adjustment chain is mirrored literally in
    * the oracle, round-4 `+ 0.0` (adjusted metrics go negative).
    *
    * PRECONDITION: var(X) > 0 (a constant covariate has nothing to
    * explain; the division would be ±∞/NaN in any engine).
    *
    * Scale shape: one combinable per-user aggregation (the conditional
    * pre/post split costs nothing — same scan), one 1-row moment
    * aggregate broadcast back. Overflow envelope: |Sxy| ≲ users ·
    * (per-user cents)² — 1e5-cent users × 1e9 rows stays under 2^63
    * only if per-user mass is bounded; cap or rescale cents first at
    * that extreme. */
  def cuped(events: DataFrame, userCol: String, tsCol: String,
            valCol: String, cutoff: String): DataFrame = {
    val cents = round(col(valCol) * 100).cast("long")
    val cut = to_timestamp(lit(cutoff))
    val per = events.groupBy(col(userCol)).agg(
      sum(when(col(tsCol) < cut, cents).otherwise(lit(0L))).as("x_cents"),
      sum(when(col(tsCol) >= cut, cents).otherwise(lit(0L))).as("y_cents"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(col("x_cents")).as("sx"), sum(col("y_cents")).as("sy"),
      sum(col("x_cents") * col("x_cents")).as("sxx"),
      sum(col("x_cents") * col("y_cents")).as("sxy"))
    val theta = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    per.crossJoin(broadcast(m))
      .select(col(userCol), col("x_cents"), col("y_cents"),
        (round(theta, 6) + lit(0.0)).as("theta"),
        (round(col("y_cents").cast("double") -
          theta * (col("x_cents").cast("double") -
            col("sx").cast("double") / col("n").cast("double")), 4) +
          lit(0.0)).as("y_adj"))
  }

  /** DIFFERENCE-IN-DIFFERENCES estimator per segment (Card & Krueger
    * 1994's quasi-experimental workhorse): when a change ships to the
    * treated population at a known `cutoff`, the causal read is
    * (treated post − treated pre) − (control post − control pre) —
    * the control arm's delta nets out the seasonal drift a naive
    * pre/post diff would swallow. The complement to [[cuped]]: CUPED
    * shrinks variance WITHIN a randomized experiment; DiD recovers an
    * effect when assignment wasn't randomized but a parallel-trends
    * control exists.
    *
    * Determinism: cell means are DEFINED in micros over exact cents —
    * mean_micros = (1e6·Σcents) div n, every operand a non-negative
    * long (values are money, ≥ 0), so Spark `div` = DuckDB `//` and
    * did_micros = (m_t_post − m_t_pre) − (m_c_post − m_c_pre) is pure
    * integer arithmetic; no float anywhere. A segment missing any of
    * its four cells yields NULL (not a silently-biased estimate).
    * Treatment is the deterministic holdout `userCol % 2 = 1` (the
    * q49/q93 hash-split family's simplest member).
    *
    * Scale shape: ONE combinable (segment, treated, post) count+sum
    * aggregation over one scan, then a 4-way conditional pivot per
    * segment — output is |segments| rows. */
  def didEstimator(events: DataFrame, groupCol: String, userCol: String,
                   tsCol: String, valCol: String,
                   cutoff: String): DataFrame = {
    val cut = to_timestamp(lit(cutoff))
    val cells = events.select(col(groupCol),
        (col(userCol) % 2 === 1).as("treated"),
        (col(tsCol) >= cut).as("post"),
        round(col(valCol) * 100).cast(LongType).as("cents"))
      .groupBy(col(groupCol), col("treated"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("mm", expr("(1000000L * s) div n"))
    def cell(t: Boolean, p: Boolean, c: String): Column =
      max(when(col("treated") === t && col("post") === p, col(c)))
    cells.groupBy(col(groupCol))
      .agg(cell(t = true, p = false, "n").as("n_t_pre"),
        cell(t = true, p = true, "n").as("n_t_post"),
        cell(t = false, p = false, "n").as("n_c_pre"),
        cell(t = false, p = true, "n").as("n_c_post"),
        cell(t = true, p = false, "mm").as("m_t_pre_micros"),
        cell(t = true, p = true, "mm").as("m_t_post_micros"),
        cell(t = false, p = false, "mm").as("m_c_pre_micros"),
        cell(t = false, p = true, "mm").as("m_c_post_micros"))
      .withColumn("did_micros",
        (col("m_t_post_micros") - col("m_t_pre_micros")) -
          (col("m_c_post_micros") - col("m_c_pre_micros")))
  }

  /** Per-stratum arm cells of [[stratifiedAte]] and [[commonSupport]]:
    * (stratum, n_t, n_c, s_t, s_c) = event counts and cent sums of the
    * treated (odd user id) and control arms, null for a missing arm. */
  private def stratumArms(events: DataFrame, stratCol: String,
                          userCol: String, valCol: String): DataFrame =
    events.select(col(stratCol).as("stratum"),
        (col(userCol) % 2 === 1).as("treated"),
        round(col(valCol) * 100).cast(LongType).as("cents"))
      .groupBy(col("stratum"), col("treated"))
      .agg(count(lit(1)).as("cn"), sum(col("cents")).as("cs"))
      .groupBy(col("stratum"))
      .agg(max(when(col("treated"), col("cn"))).as("n_t"),
        max(when(!col("treated"), col("cn"))).as("n_c"),
        max(when(col("treated"), col("cs"))).as("s_t"),
        max(when(!col("treated"), col("cs"))).as("s_c"))

  /** STRATIFIED (blocked / post-stratified) ATE estimator — the
    * propensity-stratification workhorse (Imbens & Rubin 2015 ch. 17;
    * with strata as propensity-score blocks this is Rosenbaum & Rubin
    * 1984's subclassification): within each stratum the treated/control
    * contrast is unconfounded-by-assumption, and the average treatment
    * effect is the stratum-size-weighted mean of the per-stratum
    * contrasts, {{{ ATE = Σ_s (n_s / n) · (ȳ_t,s − ȳ_c,s) }}}. The
    * observational complement to [[didEstimator]] (which needs a time
    * cutoff) and [[cupedAdjust]] (which needs a pre-period covariate).
    *
    * Output: one row per stratum — (stratum, n, n_t, n_c, mt_micros,
    * mc_micros, effect_micros) — plus ONE total row (stratum NULL)
    * whose effect is the weighted ATE over the USED strata. A stratum
    * missing an arm keeps its row with NULL effect and is excluded
    * from the total (the standard overlap trim; silently imputing
    * would bias the estimate), with its rows also excluded from the
    * total's n so the weights stay honest.
    *
    * Determinism: per-stratum means are (1e6·Σcents) div n over
    * non-negative operands; the total's weighted sum can be NEGATIVE,
    * so it divides as sign(w)·(|w| div n) — truncation expressed
    * identically on both faces (the attribution-share idiom at
    * `Events.scala:571-576`).
    *
    * Scale shape: ONE combinable (stratum, arm) count/sum aggregation
    * over the event scan, a stratum-level pivot, and a 1-row total off
    * the stratum relation (strata ≪ events). Nothing event-scale past
    * the first agg. */
  def stratifiedAte(events: DataFrame, stratCol: String, userCol: String,
                    valCol: String): DataFrame = {
    val per = stratumArms(events, stratCol, userCol, valCol)
      .select(col("stratum"),
        (coalesce(col("n_t"), lit(0L)) + coalesce(col("n_c"), lit(0L)))
          .as("n"),
        col("n_t"), col("n_c"),
        expr("(1000000L * s_t) div n_t").as("mt_micros"),
        expr("(1000000L * s_c) div n_c").as("mc_micros"))
      .withColumn("effect_micros", col("mt_micros") - col("mc_micros"))
      .localCheckpoint(eager = false)
    val total = per.filter(col("effect_micros").isNotNull)
      .agg(sum(col("n")).as("n"),
        sum(col("n") * col("effect_micros")).as("w"))
      .select(lit(null).cast(per.schema("stratum").dataType).as("stratum"),
        col("n"), lit(null).cast("long").as("n_t"),
        lit(null).cast("long").as("n_c"),
        lit(null).cast("long").as("mt_micros"),
        lit(null).cast("long").as("mc_micros"),
        (signum(col("w")).cast("long") *
          expr("(abs(w)) div n")).as("effect_micros"))
    per.unionByName(total)
  }

  /** COMMON-SUPPORT (overlap) DIAGNOSTIC for stratified causal
    * estimates (Rosenbaum & Rubin 1983's overlap assumption made
    * operational; the trimming rule of Crump et al. 2009 in its
    * stratum form) — [[stratifiedAte]]'s mandatory companion: a
    * stratum with one arm missing (or wildly imbalanced) contributes
    * NO causal information, only extrapolation, and a stratification
    * that accidentally encodes the treatment silently poisons the
    * pooled estimate. Per stratum: arm sizes, the arm-balance ratio
    * min/max in exact micros, the in_support flag
    * (ratio ≥ `minRatioMicros`, default 0.1 — the standard 10:1
    * trimming band), and the stratum effect; then TWO total rows —
    * the q188 pooled ATE over ALL estimable strata (`scope =
    * 'ate_all'`) and over the SUPPORTED strata only
    * (`'ate_supported'`). The gap between the two totals is the
    * extrapolation the untrimmed estimate was smuggling in.
    *
    * Determinism: everything is q188's exact-integer machinery plus
    * one more micros floor for the ratio; the two pooled rows reuse
    * the sign-symmetric weighted-mean floor division. A stratum with
    * a missing arm has NULL ratio and in_support = false.
    *
    * Scale shape: q188's exactly — one combinable (stratum, arm) agg,
    * |strata|-sized everything after. */
  def commonSupport(events: DataFrame, stratCol: String, userCol: String,
                    valCol: String,
                    minRatioMicros: Long = 100000L): DataFrame = {
    val per = stratumArms(events, stratCol, userCol, valCol)
      .select(lit("stratum").as("scope"), col("stratum"),
        (coalesce(col("n_t"), lit(0L)) + coalesce(col("n_c"), lit(0L)))
          .as("n"),
        col("n_t"), col("n_c"),
        // explicit both-arms guard: least/greatest SKIP nulls (both
        // engines), so a one-armed stratum would otherwise score a
        // perfect 1.0 balance ratio and sneak into support
        when(col("n_t").isNotNull && col("n_c").isNotNull,
          expr("(1000000L * least(n_t, n_c)) div greatest(n_t, n_c)"))
          .as("ratio_micros"),
        (expr("(1000000L * s_t) div n_t") -
          expr("(1000000L * s_c) div n_c")).as("effect_micros"))
      .withColumn("in_support",
        coalesce(col("ratio_micros") >= minRatioMicros, lit(false)))
      .localCheckpoint(eager = false)
    def pooled(scope: String, flt: Column) = per
      .filter(flt && col("effect_micros").isNotNull)
      .agg(sum(col("n")).as("n"),
        sum(col("n") * col("effect_micros")).as("w"))
      .select(lit(scope).as("scope"),
        lit(null).cast(per.schema("stratum").dataType).as("stratum"),
        col("n"), lit(null).cast("long").as("n_t"),
        lit(null).cast("long").as("n_c"),
        lit(null).cast("long").as("ratio_micros"),
        (signum(col("w")).cast("long") *
          expr("(abs(w)) div n")).as("effect_micros"),
        lit(null).cast("boolean").as("in_support"))
    per.unionByName(pooled("ate_all", lit(true)))
      .unionByName(pooled("ate_supported", col("in_support")))
  }

  /** TWO-PROPORTION interval card — Wilson score intervals per arm
    * (Wilson 1927; the small-sample-safe default every A/B platform
    * ships instead of the Wald interval, whose coverage collapses near
    * 0/1) and the Newcombe score interval for the rate DIFFERENCE
    * (Newcombe 1998, method 10: the square-root combination of the
    * per-arm Wilson bounds). Per group: arm sizes, conversion counts,
    * rates, per-arm 95% bounds, and the diff with its interval — the
    * "is the lift real" card beside the point estimators (q147 CUPED,
    * q174 DiD, q188 stratified ATE).
    *
    * Determinism: counts are exact; every derived value is a FIXED
    * double expression tree evaluated from those counts (z = 1.96
    * embedded as the same literal on both faces, left-associated
    * arithmetic mirrored term-for-term — the cosine-contract
    * discipline), with only the OUTPUT columns rounded (round-6 +
    * signed-zero). A group missing an arm reports NULL bounds, never
    * a one-armed "lift". */
  def twoProportionCard(events: DataFrame, groupCol: String,
                        userCol: String, success: Column,
                        z: Double = 1.96): DataFrame = {
    val cells = events.select(col(groupCol).as("grp"),
        (col(userCol) % 2 === 1).as("treated"),
        when(success, 1L).otherwise(0L).as("y"))
      .groupBy(col("grp"), col("treated"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("x"))
      .groupBy(col("grp"))
      .agg(max(when(col("treated"), col("n"))).as("n_t"),
        max(when(col("treated"), col("x"))).as("x_t"),
        max(when(!col("treated"), col("n"))).as("n_c"),
        max(when(!col("treated"), col("x"))).as("x_c"))
    def rate(x: Column, n: Column): Column =
      x.cast("double") / n.cast("double")
    def wilson(x: Column, n: Column, sign: Double): Column = {
      val nd = n.cast("double")
      val p = rate(x, n)
      val z2 = lit(z * z)
      (p + z2 / (lit(2.0) * nd) + lit(sign * z) *
        sqrt(p * (lit(1.0) - p) / nd +
          z2 / (lit(4.0) * nd * nd))) / (lit(1.0) + z2 / nd)
    }
    val b = cells
      .withColumn("pt", rate(col("x_t"), col("n_t")))
      .withColumn("pc", rate(col("x_c"), col("n_c")))
      .withColumn("lt", wilson(col("x_t"), col("n_t"), -1.0))
      .withColumn("ut", wilson(col("x_t"), col("n_t"), 1.0))
      .withColumn("lc", wilson(col("x_c"), col("n_c"), -1.0))
      .withColumn("uc", wilson(col("x_c"), col("n_c"), 1.0))
    def r6(c: Column): Column = round(c, 6) + lit(0.0)
    b.select(col("grp"), col("n_t"), col("x_t"), col("n_c"), col("x_c"),
      r6(col("pt")).as("rate_t"), r6(col("pc")).as("rate_c"),
      r6(col("pt") - col("pc")).as("diff"),
      r6(col("lt")).as("lo_t"), r6(col("ut")).as("hi_t"),
      r6(col("lc")).as("lo_c"), r6(col("uc")).as("hi_c"),
      r6(col("pt") - col("pc") -
        sqrt((col("pt") - col("lt")) * (col("pt") - col("lt")) +
          (col("uc") - col("pc")) * (col("uc") - col("pc"))))
        .as("diff_lo"),
      r6(col("pt") - col("pc") +
        sqrt((col("ut") - col("pt")) * (col("ut") - col("pt")) +
          (col("pc") - col("lc")) * (col("pc") - col("lc"))))
        .as("diff_hi"))
  }

  /** OFF-POLICY REPLAY EVALUATION (Li et al. 2011, "Unbiased Offline
    * Evaluation of Contextual-bandit-based News Article Recommendation
    * Algorithms") — the estimator every bandit/recommender deployment
    * runs before shipping a policy: learn a greedy policy on a TRAIN
    * split (per context, the arm with the best mean reward), then on
    * the EVAL split keep only rounds where the LOGGED arm equals the
    * policy's choice and average their rewards. Under uniform logging
    * the matched-rounds mean is an unbiased estimate of the policy's
    * online reward — no simulator, no counterfactual model.
    *
    * Context here is a user segment (userCol mod `nContexts`), arm is
    * the logged `armCol`, reward is exact cents. Output per context:
    * the chosen arm, eval-split volume, matched volume (the replay
    * match rate is the estimator's effective sample size — report it,
    * don't hide it), and the matched-mean reward in micros.
    *
    * Determinism: the train/eval split is the md5-prefix idiom on the
    * event id; arm choice is argmax of (mean micros, arm asc) — one
    * combinable max_by; all means are (1e6·Σcents) div n on
    * non-negative operands. Contexts with no train rounds for any arm
    * or no matched eval rounds drop (inner joins) — an unevaluable
    * policy cell, not a zero.
    *
    * Scale shape: two combinable aggs (train cells, eval matched) + a
    * broadcast-sized policy table join; nothing event-scale past the
    * first pass. */
  def replayEval(events: DataFrame, armCol: String, userCol: String,
                 idCol: String, valCol: String,
                 nContexts: Int = 4): DataFrame = {
    require(nContexts >= 1, "nContexts must be >= 1")
    val base = events.select(col(armCol).as("arm"),
        (col(userCol) % nContexts).as("ctx"), col(idCol).as("id"),
        round(col(valCol) * 100).cast("long").as("cents"))
      .withColumn("slot",
        conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2)
      .localCheckpoint(eager = false)
    val cells = base.filter(col("slot") === 0)
      .groupBy(col("ctx"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .select(col("ctx"), col("arm"),
        expr("(1000000L * s) div n").as("m"))
    // argmax with arm-asc ties as two combinable aggs (strings can't
    // ride a negated max_by struct field)
    val policy = cells
      .join(cells.groupBy(col("ctx")).agg(max(col("m")).as("m")),
        Seq("ctx", "m"))
      .groupBy(col("ctx")).agg(min(col("arm")).as("arm"))
    val evalRounds = base.filter(col("slot") === 1)
      .groupBy(col("ctx")).agg(count(lit(1)).as("n_eval"))
    base.filter(col("slot") === 1)
      .join(broadcast(policy), Seq("ctx", "arm"))
      .groupBy(col("ctx"), col("arm"))
      .agg(count(lit(1)).as("n_matched"), sum(col("cents")).as("s"))
      .join(broadcast(evalRounds), Seq("ctx"))
      .select(col("ctx"), col("arm"), col("n_eval"), col("n_matched"),
        expr("(1000000L * s) div n_matched").as("reward_micros"),
        expr("(1000000L * n_matched) div n_eval").as("match_rate_micros"))
  }

  /** RFM SEGMENTATION — the classic customer-value triage: per user,
    * Recency (days since last `convType` event, measured from the
    * corpus's max event time — a deterministic "now"), Frequency
    * (conversion count) and Monetary (cents total), each scored into
    * quintiles and concatenated into the familiar "555"-style segment
    * label. Quintile determinism: `ntile` needs a TOTAL order, so every
    * score orders by (metric, user id) — R ascending-is-better (tie:
    * user asc), F/M descending-is-better (tie: user asc) — the q43
    * contract.
    *
    * Scale shape: one combinable per-user aggregation, a 1-row max-ts
    * broadcast, then three single-partition-per-score ntile windows
    * over the USER-LEVEL relation (users ≪ events; at true
    * billions-of-users scale swap ntile for percent_rank bucketing,
    * which keeps the user key partitioned — same scores away from
    * quintile boundaries). */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
                  valCol: String, convType: String, typeCol: String)
      : DataFrame = {
    val conv = events.filter(col(typeCol) === convType)
    val now = conv.agg(max(col(tsCol)).as("now"))
    val per = conv.groupBy(col(userCol)).agg(
      max(col(tsCol)).as("last_ts"),
      count(lit(1)).as("frequency"),
      sum(round(col(valCol) * 100).cast("long")).as("monetary_cents"))
    val w = org.apache.spark.sql.expressions.Window
    val rW = w.orderBy(expr("unix_timestamp(now) - unix_timestamp(last_ts)")
      .asc, col(userCol).asc)
    val fW = w.orderBy(col("frequency").desc, col(userCol).asc)
    val mW = w.orderBy(col("monetary_cents").desc, col(userCol).asc)
    per.crossJoin(broadcast(now))
      .select(col(userCol),
        expr("(unix_timestamp(now) - unix_timestamp(last_ts)) div 86400")
          .as("recency_days"),
        col("frequency"), col("monetary_cents"),
        ntile(5).over(rW).cast("long").as("r_score"),
        ntile(5).over(fW).cast("long").as("f_score"),
        ntile(5).over(mW).cast("long").as("m_score"))
      .withColumn("segment", concat(col("r_score"), col("f_score"),
        col("m_score")))
  }

  /** FIRST-ORDER MARKOV TRANSITIONS over the event-type sequence — the
    * behavioral model product analytics fits first: P(next type | type)
    * per user-ordered stream, as exact integer micros (count·1e6 div
    * row total — non-negative, so Spark's `div` = DuckDB's `//`).
    * Sequence order is the (`tsCol`, `ordCol`) total order; each user's
    * final event has no successor and drops. Output: (from_type,
    * to_type, n, p_micros).
    *
    * Scale shape: ONE user-key window (lead) + one tiny
    * (from, to) count — the |types|² result is dashboard-sized no
    * matter the corpus. */
  def markovTransitions(events: DataFrame, userCol: String, tsCol: String,
                        ordCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(ordCol).asc)
    val pairs = events
      .select(col(userCol), col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000L div tot").as("p_micros"))
  }

  /** FREQUENT CONTIGUOUS EVENT SEQUENCES (PrefixSpan's contiguous
    * special case, the n-gram form every clickstream miner ships):
    * per-user event streams in (ts, ord) order yield their length-2..n
    * contiguous type n-grams; SUPPORT counts DISTINCT USERS containing
    * the gram (the sequential-mining convention — one user repeating a
    * path doesn't inflate it); grams below `minSupport` drop.
    *
    * Scale shape: ONE shuffle on the user key, all n-gram lengths from
    * the SAME window pass (lead(1)..lead(n−1) share the sort), per-user
    * distinct + the support count both combinable hash aggs. Output is
    * bounded by distinct gram volume, never row volume. Integer counts
    * — engine-exact. */
  def frequentSequences(events: DataFrame, userCol: String, tsCol: String,
                        ordCol: String, typeCol: String, maxLen: Int = 3,
                        minSupport: Long = 1L): DataFrame = {
    require(maxLen >= 2, "need maxLen >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(ordCol).asc)
    val leads = events.select(
      (col(userCol) +: (0 until maxLen).map(i =>
        (if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w))
          .as(s"t$i"))): _*)
    val grams = (2 to maxLen).map { n =>
      leads.filter((1 until n).map(i => col(s"t$i").isNotNull)
          .reduce(_ && _))
        .select(col(userCol), lit(n.toLong).as("len"),
          concat_ws(">", (0 until n).map(i => col(s"t$i")): _*).as("gram"))
    }.reduce(_ unionByName _)
    grams.distinct()
      .groupBy(col("len"), col("gram"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** GINI CONCENTRATION per group — the inequality screen a corpus
    * monitor runs on any mass distribution (spend per user here; tokens
    * per source, docs per domain in a curation pipeline): G = 0 is
    * perfect equality, → 1 is one-entity dominance. ALL-INTEGER via the
    * sorted-rank identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) with xᵢ
    * ascending, emitted as floor-division micros — no float anywhere
    * (the q148 determinism class). Rank ties break by the entity id
    * (total order, the q43 contract); the numerator is provably ≥ 0
    * under any ascending order.
    *
    * Scale shape: one per-entity aggregation, one rank window over the
    * ENTITY-level relation, one combinable group aggregate. Overflow:
    * Σ i·xᵢ ≤ n²·max(x) — 1e6 entities × 1e9 cents needs the cents
    * rescaled; documented, not guarded. */
  def giniConcentration(events: DataFrame, groupCol: String,
                        entityCol: String, valCol: String): DataFrame = {
    val per = events.groupBy(col(groupCol), col(entityCol))
      .agg(sum(round(col(valCol) * 100).cast("long")).as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("x").asc, col(entityCol).asc)
    per.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col(groupCol), col("n"), col("sx").as("total_cents"),
        expr("(2 * six - (n + 1) * sx) * 1000000L div (n * sx)")
          .as("gini_micros"))
  }

  /** HOOVER (Robin Hood) INDEX per group — the third inequality lens
    * beside [[giniConcentration]] (q152) and the Lorenz deciles
    * (q154), with the most actionable reading: the SHARE OF TOTAL MASS
    * that would have to move to equalize everyone —
    * H = Σ|x_i − μ| / (2·Σx), the maximum vertical gap of the Lorenz
    * curve. A mixture/capping decision ("how much of the corpus sits
    * in the wrong place") consumes this number directly, where Gini
    * only ranks severity.
    *
    * ALL-INTEGER, no sort: |n·x_i − S| avoids the mean division (the
    * q258 dev trick), sums on the decimal(38,0) ladder, and
    * H = (1e6·Σ|n·x − S|) div (2·n·S) is one non-negative floor
    * division — unlike Gini's rank identity this needs NO window at
    * all, so it is the cheapest of the three at scale (one entity agg,
    * one combinable group agg). Zero-total groups emit NULL. */
  def hooverIndex(events: DataFrame, groupCol: String, entityCol: String,
                  valCol: String): DataFrame =
    hooverFromCents(events.groupBy(col(groupCol), col(entityCol))
      .agg(sum(round(col(valCol) * 100).cast("long")).as("x")), groupCol)

  /** [[hooverIndex]]'s dev ladder over an already-rolled-up
    * per-(group, entity) exact-cents relation `(groupCol, entity, x)`.
    * The stats join-back is NULL-SAFE (`<=>`): groupBy keeps a NULL
    * group (SQL standard), so a plain equi-join here would silently drop
    * that group's card while the aggregation path kept its rows. */
  private[graft] def hooverFromCents(per: DataFrame, groupCol: String)
      : DataFrame = {
    val st = per.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .withColumnRenamed(groupCol, "__g")
    per.join(broadcast(st), col(groupCol) <=> col("__g")).drop("__g")
      .groupBy(col(groupCol))
      .agg(max(col("n")).as("n"), max(col("sx")).as("total_cents"),
        sum(abs(col("n").cast("decimal(38,0)") * col("x") - col("sx")))
          .as("dev"))
      .select(col(groupCol), col("n"), col("total_cents"),
        when(col("total_cents") > 0,
          expr("(1000000L * dev) div (2 * cast(n as decimal(38,0))" +
            " * total_cents)").cast("long")).as("hoover_micros"))
  }

  /** AUTOCORRELATION of the daily count series per group at lags 1..k —
    * the seasonality probe behind every volume-anomaly monitor (a
    * strong lag-7 says weekly rhythm; a collapse at lag 1 says the
    * series went white). Pearson r per (group, lag) over (day, day+lag)
    * count pairs.
    *
    * Deterministic: counts are integers, all five moments are exact
    * longs, and r = (n·Σxy − ΣxΣy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²))
    * — each sqrt takes ONE exact integer (int→double conversion is
    * exact to 2^53; taking √a·√b instead of √(a·b) keeps the operand
    * inside int64 at any realistic scale), round-4 `+ 0.0` (r goes
    * negative). Degenerate windows (either side constant ⇒ zero
    * variance) are emitted with NULL r rather than a NaN face.
    *
    * Scale shape: daily rollup first (the log collapses before
    * anything joins), then ONE self-equi-join on (group, day+lag) per
    * the exploded lag list — output is |groups|·k rows. */
  /** Per-group OLS TREND of the daily count series — the least-squares
    * complement to [[theilSenTrend]]'s robust slope (classic trade:
    * OLS is the BLUE estimator under iid noise, Theil–Sen survives
    * outliers): slope and intercept from the five EXACT integer
    * moments (n, Σx, Σy, Σxy, Σxx over day-index x and daily count y),
    * one round-4 double division each, signed-zero canonicalized (a
    * flat series legitimately rounds to −0.0 from below). Single-day
    * groups (denominator 0) emit NULL — never a NaN face.
    *
    * Scale shape: the daily rollup collapses the log first (combinable
    * count), then ONE combinable moment aggregation per group — no
    * window, no join. */
  def dailyTrend(events: DataFrame, groupCol: String,
                 tsCol: String): DataFrame = {
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    dailyCounts(events, col(groupCol), tsCol).groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("y")).as("sy"), sum(col("day") * col("y")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .select(col(groupCol), col("n").as("n_days"),
        when(den =!= 0,
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / den.cast("double"), 4) + lit(0.0))
          .as("slope"),
        when(den =!= 0,
          round((col("sy") * col("sxx") - col("sx") * col("sxy"))
            .cast("double") / den.cast("double"), 4) + lit(0.0))
          .as("intercept"))
  }

  def dailyAutocorrelation(events: DataFrame, groupCol: String,
                           tsCol: String, maxLag: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = dailyCounts(events, col(groupCol), tsCol)
    val lags = daily.crossJoin(
      broadcast(Seq.range(1, maxLag + 1).toDF("lag")))
    // b's group column is renamed: lags and b both derive from daily, so
    // an equality on the same column of both would be trivially true
    val b = daily.select(col(groupCol).as("__g2"), col("day").as("day2"),
      col("y").as("y2"))
    val joined = lags.join(b,
      col(groupCol) === col("__g2") &&
        col("day") + col("lag") === col("day2"))
      .select(col(groupCol), col("lag"), col("y").as("x"), col("y2"))
    val m = joined.groupBy(col(groupCol), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y2")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y2") * col("y2")).as("syy"),
        sum(col("x") * col("y2")).as("sxy"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col(groupCol), col("lag"), col("n"),
      when(vx > 0 && vy > 0,
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 4) + lit(0.0))
        .as("r"))
  }

  /** PARTIAL AUTOCORRELATION of the daily count series via
    * DURBIN–LEVINSON (Durbin 1960) — the lag-h correlation with the
    * intervening lags REGRESSED OUT, the order-selection card an
    * AR-model reader wants beside [[dailyAutocorrelation]]'s raw ACF
    * (q153): a spike at lag h in PACF but not beyond means an AR(h)
    * explains the series. φ_{1,1} = ρ_1;
    * φ_{h,h} = (ρ_h − Σ_j φ_{h−1,j}·ρ_{h−j}) / (1 − Σ_j φ_{h−1,j}·ρ_j);
    * φ_{h,j} = φ_{h−1,j} − φ_{h,h}·φ_{h−1,h−j}.
    *
    * The input ACF here is the standard common-mean estimator (NOT
    * q153's per-window-mean Pearson, which isn't a stationary ACF):
    * with n days, S = Σy, dev_t = n·y_t − S (exact longs — n·dev
    * scaling avoids a mean division), c_h = Σ_t dev_t·dev_{t+h} over
    * calendar-adjacent pairs and c_0 = Σ dev², both carried in
    * decimal(38,0)/HUGEINT (the q201 ladder — dev² overflows int64
    * once daily counts pass ~3e9·√days), ρ_h = c_h/c_0 as ONE mirrored
    * double division. The D–L triangle then unrolls as ONE mirrored
    * left-associated float expression chain per coefficient (the
    * q82/q184 contract: identical op order ⇒ identical bits), with the
    * denominator guarded (CASE den ≠ 0) and NULLs propagating (a group
    * with < h+1 days has no lag-h pairs ⇒ ρ_h NULL ⇒ φ NULL). Output:
    * (`groupCol`, lag 1..maxLag, pacf round-4 + signed-zero).
    *
    * `maxLag` is bounded (≤ 6) because the unrolled coefficient chain
    * grows quadratically — the oracle must stay readable (the builder
    * bar this op shipped under); the default 4 is the AR-order range a
    * daily ops series actually uses.
    *
    * Scale shape: one daily rollup, one 1-row-per-group broadcast of
    * (n, S), one bounded (≤ maxLag× explode) calendar equi-join, then
    * |groups|-sized scalar arithmetic — nothing beyond the q153 cost
    * class. */
  def dailyPacf(events: DataFrame, groupCol: String, tsCol: String,
                maxLag: Int = 4): DataFrame = {
    require(maxLag >= 1 && maxLag <= 6, "need 1 <= maxLag <= 6")
    val daily = dailyCounts(events, col(groupCol).as("grp"), tsCol)
    val st = daily.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val dev = daily.join(broadcast(st), Seq("grp"))
      .select(col("grp"), col("day"),
        (col("n") * col("y") - col("s")).as("d"))
      .localCheckpoint(eager = false)
    val c0 = dev.groupBy(col("grp"))
      .agg(sum(col("d").cast("decimal(38,0)") * col("d")).as("c0"))
    val a = dev.select(col("grp"), col("day"), col("d").as("dx"),
      explode(sequence(lit(1), lit(maxLag))).as("lag"))
    val b = dev.select(col("grp").as("grp2"), col("day").as("day2"),
      col("d").as("dy"))
    val ch = a.join(b, col("grp") === col("grp2") &&
        col("day") + col("lag") === col("day2"))
      .groupBy(col("grp"), col("lag"))
      .agg(sum(col("dx").cast("decimal(38,0)") * col("dy")).as("ch"))
    val piv = ch.groupBy(col("grp")).agg(
      max(when(col("lag") === 1, col("ch"))).as("c1"),
      (2 to maxLag).map(h =>
        max(when(col("lag") === h, col("ch"))).as(s"c$h")): _*)
    var df = c0.join(piv, Seq("grp"), "left")
    for (h <- 1 to maxLag)
      df = df.withColumn(s"r$h",
        when(col("c0") > 0,
          col(s"c$h").cast("double") / col("c0").cast("double")))
    df = df.withColumn("p1_1", col("r1"))
    for (h <- 2 to maxLag) {
      val num = col(s"r$h") - (1 until h)
        .map(j => col(s"p${h - 1}_$j") * col(s"r${h - j}"))
        .reduce(_ + _)
      val den = lit(1.0) - (1 until h)
        .map(j => col(s"p${h - 1}_$j") * col(s"r$j"))
        .reduce(_ + _)
      df = df.withColumn(s"p${h}_$h", when(den =!= 0.0, num / den))
      if (h < maxLag)
        for (j <- 1 until h)
          df = df.withColumn(s"p${h}_$j",
            col(s"p${h - 1}_$j") -
              col(s"p${h}_$h") * col(s"p${h - 1}_${h - j}"))
    }
    val frozen = df.localCheckpoint(eager = false)
    (1 to maxLag).map { h =>
      frozen.select(col("grp").as(groupCol), lit(h.toLong).as("lag"),
        (round(col(s"p${h}_$h"), 4) + lit(0.0)).as("pacf"))
    }.reduce(_ unionByName _)
  }

  /** DAILY CROSS-CORRELATION (CCF) between two event types' count
    * series — the lead/lag reader beside q153's ACF and q258's PACF:
    * ccf(h) = corr(x_t, y_{t+h}) over the shared day grid, so a spike
    * at POSITIVE h means x LEADS y by h days ("click volume today
    * predicts purchase volume in h days"), at negative h that y leads.
    * The single-series autocorrelation machinery, pointed across two
    * series.
    *
    * Estimator (common-mean, the q258 contract): the day grid is the
    * UNION of days where either type fired (the missing type counts 0
    * that day); with n grid days, dx_t = n·x_t − Σx and
    * dy_t = n·y_t − Σy are EXACT longs (the n·dev scaling avoids a
    * mean division); c_xy(h) = Σ dx_t·dy_{t+h} over calendar-adjacent
    * pairs, c_xx = Σdx², c_yy = Σdy², all carried in decimal(38,0)/
    * HUGEINT (the q201 ladder); ccf = c_xy/√(c_xx·c_yy) is ONE
    * mirrored double expression, round-4 with signed-zero
    * normalization (+0.0). A lag with no surviving day pairs (or a
    * constant series, c = 0) yields NULL, never a fabricated 0.
    *
    * Scale shape: one daily rollup, one 1-row (n, Σx, Σy) broadcast,
    * one bounded (2·maxLag+1)× explode into a calendar equi-join on
    * DAY rows (calendar-bounded — the q222 contract), one ≤ 2·maxLag+1
    * row output off a broadcast lag spine. */
  def dailyCrossCorrelation(events: DataFrame, tsCol: String,
                            typeCol: String, typeX: String,
                            typeY: String, maxLag: Int = 4): DataFrame = {
    require(maxLag >= 1 && maxLag <= 14, "need 1 <= maxLag <= 14")
    require(typeX != typeY, "need two distinct types")
    val daily = events
      .filter(col(typeCol).isin(typeX, typeY))
      .select(
        dayIndex(tsCol).as("day"),
        (col(typeCol) === typeX).cast("long").as("ix"),
        (col(typeCol) === typeY).cast("long").as("iy"))
      .groupBy(col("day"))
      .agg(sum(col("ix")).as("x"), sum(col("iy")).as("y"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"))
    val dev = daily.join(broadcast(st), lit(true))
      .select(col("day"), col("n"),
        (col("n") * col("x") - col("sx")).as("dx"),
        (col("n") * col("y") - col("sy")).as("dy"))
      .localCheckpoint(eager = false)
    val c0 = dev.agg(
      sum(col("dx").cast("decimal(38,0)") * col("dx")).as("cxx"),
      sum(col("dy").cast("decimal(38,0)") * col("dy")).as("cyy"),
      max(col("n")).as("n_days"))
    val a = dev.select(col("day"), col("dx"),
      explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
    val ch = a.join(dev.select(col("day").as("day2"), col("dy")),
        col("day") + col("lag") === col("day2"))
      .groupBy(col("lag"))
      .agg(sum(col("dx").cast("decimal(38,0)") * col("dy")).as("cxy"))
    val spine = daily.sparkSession.range(-maxLag, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    spine
      .join(ch, Seq("lag"), "left")
      .join(broadcast(c0), lit(true))
      .select(col("lag").cast("long").as("lag"), col("n_days"),
        (round(when(col("cxx") > 0 && col("cyy") > 0,
          col("cxy").cast("double") /
            (sqrt(col("cxx").cast("double")) *
              sqrt(col("cyy").cast("double")))), 4) + lit(0.0))
          .as("ccf"))
  }

  /** TIME-WEIGHTED AVERAGE (TWAP) per group and day — the aggregation
    * finance/sensor pipelines need where the PLAIN mean is wrong: a
    * value holds until the next observation, so each reading weighs
    * by how long it was in force. Per (group, day): segments run from
    * each event to the next (the day's last event extends to
    * midnight), TWAP = Σ value·duration / Σ duration.
    *
    * Exactness without overflow: W = Σ(cents·dur) and the schoolbook
    * quotient — twap = q·1e6 + (r·1e6) div S with q = W div S,
    * r = W mod S, the exact floor of 1e6·W/S — are carried in
    * decimal(38,0) on the Spark face and HUGEINT on the DuckDB face.
    * Domain analysis (r12): the per-day durations PARTITION the day
    * (S ≤ 86400), so W ≤ max_cents·86400 — W tops int64 only when
    * max_cents > ~1.07e14, at which point the OUTPUT q·1e6 > ~1e20
    * cannot fit int64 either. The 128-bit carry therefore buys
    * DETECTABILITY, not range: in-domain results (weighted-mean value
    * ≤ ~$1e10) are bit-identical on both faces, and an out-of-domain
    * group yields NULL on the Spark face (try_cast — the plain
    * non-ANSI decimal→bigint cast WRAPS via BigDecimal.longValue,
    * which would reproduce the very garbage being killed) instead of
    * the silently wrapped value the pure-long form produced —
    * spec-pinned. Both faces mirror the two-step
    * form. Ordering ties (same second)
    * break on event id: a zero-length segment weighs zero whichever
    * of the tied events "holds" it, so the relation is
    * tie-insensitive.
    *
    * Scale shape: one per-(group, day) lead window + one combinable
    * agg. */
  def twap(events: DataFrame, groupCol: String, tsCol: String,
           idCol: String, valCol: String): DataFrame = {
    val base = events.select(col(groupCol).as("grp"),
      expr(s"unix_timestamp(date_trunc('second', $tsCol))").as("t"),
      dayIndex(tsCol).as("day"),
      col(idCol).as("eid"),
      round(col(valCol) * 100).cast("long").as("cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"), col("day"))
      .orderBy(col("t").asc, col("eid").asc)
    base
      .withColumn("dur",
        coalesce(lead(col("t"), 1).over(w),
          (col("day") + 1) * 86400L) - col("t"))
      .groupBy(col("grp"), col("day"))
      .agg(count(lit(1)).as("n"),
        // product AND sum in the 128-bit domain: a wrapped long here
        // would be silent garbage; decimal overflows to NULL instead
        sum(col("cents").cast("decimal(38,0)") * col("dur")).as("wsum"),
        sum(col("dur")).as("dsum"))
      .filter(col("dsum") > 0)
      .select(col("grp"), col("day"), col("n"),
        // try_cast: a plain decimal->bigint cast WRAPS in non-ANSI
        // mode (BigDecimal.longValue), reproducing exactly the silent
        // garbage the promotion exists to kill; try_cast nulls instead
        (expr("try_cast(cast(wsum div dsum as decimal(38,0)) * 1000000" +
            " as bigint)") +
          expr("cast(((wsum % dsum) * 1000000) div dsum as bigint)"))
          .as("twap_micros"))
  }

  /** ACTIVITY STREAKS — the gaps-and-islands classic as an engagement
    * card: per user, consecutive-active-day runs (a streak breaks on
    * any dark day), reporting total active days, number of streaks,
    * the LONGEST streak, and the CURRENT streak (the run containing
    * the user's most recent active day) — the retention mechanic
    * every habit-loop product (and its analysts) tracks.
    *
    * The island key is day − dense_rank(day): constant exactly while
    * days are consecutive — the textbook trick, entirely in one
    * per-user window pass over DISTINCT (user, day). All counts
    * exact; ties impossible (distinct days).
    *
    * Scale shape: one distinct collapse (the q210 relation), one
    * per-user window, two combinable aggs. */
  def activityStreaks(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("day").asc)
    val islands = events.select(col(userCol).as("u"), dayIndex(tsCol).as("day"))
      .distinct()
      .withColumn("isl", col("day") - dense_rank().over(w).cast("long"))
    val runs = islands.groupBy(col("u"), col("isl"))
      .agg(count(lit(1)).as("len"), max(col("day")).as("run_end"))
    runs.groupBy(col("u"))
      .agg(sum(col("len")).as("n_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest"),
        max_by(col("len"), col("run_end")).as("current"))
  }

  /** DAU/MAU STICKINESS — the product-engagement ratio (daily active
    * over trailing-28-day active users, per day): the one number that
    * separates "many users" from "users who come back", and a sliding
    * DISTINCT count, which no window sum expresses (a user active on
    * 5 of the 28 days counts once in MAU — partial aggregates don't
    * merge; this is why engagement pipelines materialize the
    * (user, day) relation first).
    *
    * Shape: collapse to DISTINCT (user, day) — the only event-scale
    * pass — then DAU is a per-day count and MAU joins the day GRID to
    * the pair relation on a trailing range (grid ≪ days·users; the
    * join is day-grid × active-pairs bounded, and the range residual
    * rides a day equi-bucket at real scale). Days with activity only
    * inside their trailing window but none that day still appear (the
    * grid is all active days; a fully-dark day has no DAU row by
    * construction and is absent — dashboards interpolate zeros, the
    * relation doesn't invent them). Output: (day, dau, mau,
    * stickiness_micros = (1e6·dau) div mau). */
  def stickiness(events: DataFrame, userCol: String, tsCol: String,
                 windowDays: Int = 28): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val pairs = events.select(col(userCol).as("u"), dayIndex(tsCol).as("day"))
      .distinct()
      .localCheckpoint(eager = false)
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val grid = dau.select(col("day").as("d"))
    val mau = grid.join(pairs,
        col("day") <= col("d") && col("day") > col("d") - windowDays)
      .groupBy(col("d"))
      .agg(count_distinct(col("u")).as("mau"))
    dau.join(mau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("mau"),
        expr("(1000000L * dau) div mau").as("stickiness_micros"))
  }

  /** BURSTINESS of inter-event gaps (Goh & Barabási 2008): per user,
    * B = (σ − μ)/(σ + μ) over the inter-arrival seconds — B → −1 for
    * a metronome, 0 for a Poisson process, → +1 for extreme bursts.
    * The bot/automation screen rate caps can't express: a scripted
    * client is TOO REGULAR (B near −1), organic humans are bursty —
    * flagging the left tail catches what volume thresholds miss.
    *
    * Exactness: gaps are integer seconds off the per-user lag window
    * (second-truncated, the q202 contract); n, Σg, Σg² are exact
    * longs; σ and μ meet in ONE mirrored double expression —
    * (sqrt(n·Σg² − (Σg)²) − √n·Σg/√n... kept literally as
    * (sqrt(nd·sgg − sg·sg) − sg) / (sqrt(nd·sgg − sg·sg) + sg) after
    * dividing both sides by n·μ's common factor: B = (√(n·Σg²−(Σg)²)
    * − Σg) / (√(n·Σg²−(Σg)²) + Σg) since σ/μ = √(n·Σg²−(Σg)²)/Σg —
    * round-4 + signed-zero. Users with < `minEvents` events or zero
    * total gap (all same second) emit NULL, never NaN.
    *
    * Scale shape: one per-user lag window + one combinable moment
    * agg. Output one row per qualifying user. `event_id` is the
    * same-second ordering tie-break (any unique event key — the twap
    * contract; gaps between same-second events are zero whichever tied
    * event leads, so the moment sums are tie-insensitive). */
  def burstiness(events: DataFrame, userCol: String, tsCol: String,
                 minEvents: Int = 5): DataFrame = {
    require(minEvents >= 3, "minEvents must be >= 3")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("t").asc, col("eid").asc)
    val gaps = events.select(col(userCol).as("u"),
        expr(s"unix_timestamp(date_trunc('second', $tsCol))").as("t"),
        col("event_id").as("eid"))
      .withColumn("g", col("t") - lag(col("t"), 1).over(w))
      .filter(col("g").isNotNull)
    gaps.groupBy(col("u"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sgg"))
      .filter(col("n") >= minEvents - 1)
      .select(col("u"), col("n"),
        when(col("sg") > 0 &&
          col("n") * col("sgg") - col("sg") * col("sg") >= 0,
          round((sqrt((col("n") * col("sgg") - col("sg") * col("sg"))
            .cast("double")) - col("sg").cast("double")) /
            (sqrt((col("n") * col("sgg") - col("sg") * col("sg"))
              .cast("double")) + col("sg").cast("double")), 4) + lit(0.0))
          .as("burstiness"))
  }

  /** INTERVAL CONCURRENCY (sweep line) — peak simultaneous activity
    * per group: each event opens a `durationSeconds` activity
    * interval, and the card reports the maximum number of overlapping
    * intervals and the FIRST instant the peak is reached — the
    * capacity question (peak concurrent sessions / connections /
    * rooms) behind every provisioning review, answered exactly rather
    * than by time-bucket approximation (a bucket histogram misses a
    * peak straddling bucket edges).
    *
    * Classic sweep: +1 at each start, −1 at each (exclusive) end,
    * running sum under (time, delta) order, max prefix. Determinism
    * under ties: at one instant only same-signed deltas are mutually
    * unordered (ends sort before starts via delta asc), and a prefix
    * over a permutation of identical increments walks the same value
    * SET — so the peak and its first time are order-invariant even
    * though individual row prefixes aren't. Output: (group,
    * peak_concurrency, peak_at) with peak_at in epoch seconds.
    *
    * Scale shape: one per-group window over 2·events points (the
    * q43/q44 single-partition-per-group precedent — right while a
    * group's points fit an executor; at true firehose scale the same
    * sweep runs two-level: per-bucket partial sums + a prefix over
    * bucket totals, same algebra) + two combinable aggs. */
  def intervalConcurrency(events: DataFrame, groupCol: String,
                          tsCol: String, durationSeconds: Long = 300L)
      : DataFrame = {
    require(durationSeconds >= 1, "durationSeconds must be >= 1")
    // second-truncated on BOTH faces (events carry sub-second
    // precision; Spark's unix_timestamp floors, DuckDB's epoch() is a
    // fractional double — explicit date_trunc makes the floor shared)
    val t0 = expr(s"unix_timestamp(date_trunc('second', $tsCol))")
    val pts = events.select(col(groupCol).as("grp"), t0.as("t"),
        lit(1L).as("d"))
      .union(events.select(col(groupCol).as("grp"),
        (t0 + durationSeconds).as("t"), lit(-1L).as("d")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("t").asc, col("d").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val run = pts.withColumn("c", sum(col("d")).over(w))
      .localCheckpoint(eager = false)
    val peaks = run.groupBy(col("grp"))
      .agg(max(col("c")).as("peak_concurrency"))
    run.join(broadcast(peaks), Seq("grp"))
      .filter(col("c") === col("peak_concurrency"))
      .groupBy(col("grp"), col("peak_concurrency"))
      .agg(min(col("t")).as("peak_at"))
  }

  /** FORECAST-BASELINE BACKTEST — the "beat this or don't ship" card
    * (Hyndman & Athanasopoulos, FPP: any forecaster is judged against
    * the naive and seasonal-naive baselines first): per group, replay
    * the two baselines over the daily count series — ŷ(d) = y(d−1)
    * (naive) and ŷ(d) = y(d−7) (seasonal-naive) — and report each
    * baseline's scored-day count, MAE and MAPE in exact integer
    * micros. A model whose backtest MAE doesn't beat these numbers is
    * noise; publishing the floor beside the model is the
    * forecast-review discipline.
    *
    * Determinism: counts are exact; MAE = (1e6·Σ|y−ŷ|) div n; MAPE
    * sums per-day (1e6·|y−ŷ|) div y (y ≥ 1 — it's a count) then
    * divides by n — floors mirrored on both faces. Days without a
    * lag-d predecessor simply aren't scored (no fabricated history).
    *
    * Scale shape: one combinable daily rollup, two day-shifted
    * equi-self-joins on (group, day) (days ≪ events), two combinable
    * aggs, one group join. */
  def forecastBacktest(events: DataFrame, groupCol: String,
                       tsCol: String): DataFrame = {
    val daily = dailyCounts(events, col(groupCol).as("grp"), tsCol)
      .localCheckpoint(eager = false)
    def baseline(lagDays: Int, tag: String): DataFrame =
      daily.join(daily.select(col("grp"),
          (col("day") + lagDays).as("day"), col("y").as("yhat")),
          Seq("grp", "day"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          sum(abs(col("y") - col("yhat"))).as("sae"),
          sum(expr("(1000000L * abs(y - yhat)) div y")).as("sape"))
        .select(col("grp"), col("n").as(s"n_$tag"),
          expr("(1000000L * sae) div n").as(s"mae_${tag}_micros"),
          expr("sape div n").as(s"mape_${tag}_micros"))
    baseline(1, "naive").join(baseline(7, "snaive"), Seq("grp"))
  }

  /** BINARY-SEGMENTATION CHANGE-POINT (Scott & Knott 1974; the first
    * split of binary segmentation, the standard retrospective
    * change-point scan): per group, the day that best splits its daily
    * count series into two constant segments — argmax over split
    * points of the SSE reduction, which by the ANOVA identity equals
    * maximizing S_L²/n_L + S_R²/n_R (S = segment sum, n = segment
    * days). The retrospective complement to [[graft.ops.DataQuality]]'s
    * sequential CUSUM (q171): CUSUM answers "is it drifting NOW",
    * binseg answers "WHEN did the level shift, and by how much".
    *
    * Exact integers off per-group day-prefix sums, via the ANOVA
    * identity in its SINGLE-DIVISION form: S_L²/n_L + S_R²/n_R − S²/n
    * = D²/(n_L·n_R·n) with D = S_L·n_R − S_R·n_L exactly, so
    * gain_micros = (1e6·D²) div (n_L·n_R·n) — ONE floor (error < 1
    * micro) where the three-term form pays three, and one product
    * chain to promote: D and 1e6·D² are carried in decimal(38,0)
    * (Spark) / HUGEINT (DuckDB), exact while 1e6·D² < 1e38, i.e.
    * S·days ≲ 1e16 per group — the int64 form died at S ≈ 3e6 (the
    * mahalanobis ladder; spec-pinned past that old bound). The
    * quotient returns to int64 (gain = 1e6·between-segment SS fits to
    * ~9.2e12 SS — a mean shift of m events/day over n days needs
    * 1e6·n·m²/4 < 9.2e18). Ties break day-asc;
    * the last day is excluded (empty right segment). Output:
    * (group, split_day = last left day, n_left, n_right,
    * mean_left_micros, mean_right_micros, gain_micros).
    *
    * Scale shape: one combinable daily rollup, one per-group window
    * over DAYS (≤ window-days rows per group, the q153/q181
    * precedent), one combinable argmax. */
  def binsegChangepoint(events: DataFrame, groupCol: String,
                        tsCol: String): DataFrame = {
    val daily = dailyCounts(events, col(groupCol).as("grp"), tsCol)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("day").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
    val s = daily
      .withColumn("nl", count(lit(1)).over(wCum))
      .withColumn("sl", sum(col("y")).over(wCum))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("stot", sum(col("y")).over(wAll))
      .filter(col("nl") < col("n"))
      .select(col("grp"), col("day"), col("nl"),
        (col("n") - col("nl")).as("nr"), col("sl"),
        (col("stot") - col("sl")).as("sr"), col("n"), col("stot"))
      .withColumn("gain_micros",
        // D = S_L·n_R − S_R·n_L in decimal(38,0); gain = (1e6·D²) div
        // (n_L·n_R·n) — the exact ANOVA identity, one floor, 128-bit
        // products (int64 overflowed at S ≈ 3e6 events/group)
        expr("cast((cast(1000000 as decimal(38,0))" +
          " * (cast(sl as decimal(38,0)) * nr - cast(sr as decimal(38,0)) * nl)" +
          " * (cast(sl as decimal(38,0)) * nr - cast(sr as decimal(38,0)) * nl))" +
          " div (cast(nl as decimal(38,0)) * nr * n) as bigint)"))
    graft.ops.Windows.topOneByAgg(s, Seq(col("grp")),
        struct(col("gain_micros"), (-col("day")).as("nd")))
      .select(col("grp"), col("day").as("split_day"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        expr("cast((cast(1000000 as decimal(38,0)) * sl) div nl as bigint)")
          .as("mean_left_micros"),
        expr("cast((cast(1000000 as decimal(38,0)) * sr) div nr as bigint)")
          .as("mean_right_micros"),
        col("gain_micros"))
  }

  /** ADDITIVE SEASONAL DECOMPOSITION of each group's daily count series
    * — the classical-decomposition core of STL (Cleveland et al. 1990,
    * the moving-average skeleton without loess): trend = centered
    * 7-day moving average, seasonal = day-of-week mean of the
    * detrended series, residual = the rest. The series triage every
    * metrics review starts with — "is the drop a trend break or just
    * the weekend".
    *
    * ALL-INTEGER in micros: trend = (1e6·Σ₇y) div 7 only where the
    * full ±3 window exists (edges stay NULL — classical decomposition
    * has no trend there, and extrapolating would fabricate one);
    * detrended = 1e6·y − trend; seasonal(dow) = (Σ detrended) div n
    * over that group's non-edge days, which can be negative — the
    * quotient is `div` = truncation toward zero in BOTH engines on
    * BIGINTs (DuckDB's `//` on integers truncates like its integer
    * division; negative-operand floor-vs-truncate divergence only
    * exists against Python's `//`, not DuckDB's BIGINT division) — so
    * to stay in the one-semantics class the division is written as
    * sign(x)·(|x| div n): floor and truncate agree on non-negative
    * operands, and both faces carry the sign outside. Residual =
    * detrended − seasonal. dow = day mod 7 (epoch-day residue — a
    * fixed 7-phase, not a calendar weekday; UTC session-timezone
    * contract as q120).
    *
    * Scale shape: one combinable daily collapse, then all three passes
    * are windows over the per-group DAILY table (≤ observation window
    * in days — the q113/q153 tiny-partition precedent) plus one
    * combinable (group, dow) agg broadcast back. */
  def seasonalDecompose(events: DataFrame, groupCol: String,
                        tsCol: String): DataFrame = {
    val daily = dailyCounts(events, col(groupCol), tsCol)
    val w7 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("day").asc)
      .rangeBetween(-3, 3)
    val t = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("s7", sum(col("y")).over(w7))
      .withColumn("trend_micros",
        when(col("n7") === 7, expr("(1000000L * s7) div 7")))
      .withColumn("detr_micros",
        lit(1000000L) * col("y") - col("trend_micros"))
      .withColumn("dow", expr("day % 7"))
    val seas = t.filter(col("detr_micros").isNotNull)
      .groupBy(col(groupCol), col("dow"))
      .agg(sum(col("detr_micros")).as("sd"), count(lit(1)).as("nd"))
      .withColumn("seasonal_micros",
        when(col("sd") >= 0, expr("sd div nd"))
          .otherwise(-expr("(-sd) div nd")))
      .select(col(groupCol), col("dow"), col("seasonal_micros"))
    t.join(broadcast(seas), Seq(groupCol, "dow"), "left")
      .select(col(groupCol), col("day"), col("dow"), col("y"),
        col("trend_micros"), col("seasonal_micros"),
        (col("detr_micros") - col("seasonal_micros")).as("resid_micros"))
  }

  /** SEASONAL-STRENGTH card (Wang, Smith & Hyndman 2006's STL-based
    * F_s, the one-number "is this series actually seasonal"): per
    * group, F = max(0, 1 − Var(R)/Var(S+R)) over the
    * [[seasonalDecompose]] components — F near 1 means the dow
    * pattern explains the detrended variance (gate dashboards on it
    * before rendering a seasonal adjustment), near 0 means the
    * "seasonality" is noise.
    *
    * Determinism: S+R is the exact integer detrended series
    * (1e6·y − trend) and R the exact residual; both variances use the
    * n·Σx² − (Σx)² moment form with products in decimal(38,0)/HUGEINT
    * (x ~ 1e6·daily-count, x² tops int64 at ~3e3 events/day — the r12
    * ladder); the ratio is ONE mirrored float over the exact moments
    * (round-4, clamped at 0). Groups with zero detrended variance
    * yield NULL.
    *
    * Scale shape: [[seasonalDecompose]]'s dataflow + one combinable
    * per-group moment agg. */
  def seasonalStrength(events: DataFrame, groupCol: String,
                       tsCol: String): DataFrame = {
    val d = seasonalDecompose(events, groupCol, tsCol)
      .filter(col("resid_micros").isNotNull)
      .select(col(groupCol).as("grp"),
        (lit(1000000L) * col("y") - col("trend_micros")).as("dt"),
        col("resid_micros").as("r"))
    d.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("dt")).as("sd"),
        sum(expr("cast(dt as decimal(38,0)) * dt")).as("sdd"),
        sum(col("r")).as("sr"),
        sum(expr("cast(r as decimal(38,0)) * r")).as("srr"))
      .select(col("grp"), col("n").as("n_days"),
        when(expr("cast(n as decimal(38,0)) * sdd" +
            " - cast(sd as decimal(38,0)) * sd").cast("double") > 0.0,
          round(greatest(lit(0.0),
            lit(1.0) - expr("cast(n as decimal(38,0)) * srr" +
              " - cast(sr as decimal(38,0)) * sr").cast("double") /
              expr("cast(n as decimal(38,0)) * sdd" +
                " - cast(sd as decimal(38,0)) * sd").cast("double")), 4))
          .as("f_seasonal"))
  }

  /** NEAREST-NEIGHBOR MATCHING estimator of the ATT (the Rubin-school
    * causal workhorse beside q174's DiD and q188's stratified ATE):
    * each TREATED user is matched to the CONTROL user nearest on a
    * covariate (here: per-user event count — activity level), and the
    * ATT is the mean treated-minus-matched-control outcome (per-user
    * summed value cents). Matching answers what stratification can't
    * when cells are sparse: every treated unit gets its own
    * counterfactual.
    *
    * Determinism (ties made total): controls COLLAPSE to one per
    * distinct covariate value — the min-user-id control (documented
    * representative; a mean would be a different estimator); the
    * nearest control resolves via the union-window idiom (the q36
    * as-of contract) with ties at equal distance going to the
    * covariate-BELOW control. ATT divides the signed diff sum
    * sign-symmetrically ((1e6·|Σ|) div n, sign carried out, the
    * seasonal-mean idiom) with the product in decimal(38,0).
    *
    * Scale shape: two combinable per-user aggs; the match is ONE
    * union + ONE window over (covariate, tag) order — no pair join
    * anywhere (the as-of shape); the ATT is one combinable agg. The
    * wPrev/wNext windows are GLOBAL (no partitionBy): every unit
    * funnels through one partition — the q43-class single-partition
    * bound, fine while distinct (covariate, unit) rows fit one task;
    * at true scale swap to covariate-range bucketing (match inside
    * buckets, resolve boundary units via the bucket-edge controls). */
  def nnMatchingAtt(events: DataFrame, userCol: String, valCol: String,
                    treatedCol: Column): DataFrame = {
    val per = events.groupBy(col(userCol).as("u"))
      .agg(count(lit(1)).as("cov"),
        sum(round(col(valCol) * 100).cast("long")).as("y_cents"),
        max(when(treatedCol, 1L).otherwise(0L)).as("g"))
      .localCheckpoint(eager = false)
    // one control per distinct covariate: min user id
    val ctl = graft.ops.Windows.topOnePerGroup(
      per.filter(col("g") === 0), Seq(col("cov")), Seq(col("u").asc))
      .select(col("cov"), col("u").as("cu"), col("y_cents").as("cy"))
    val tagged = ctl.select(col("cov"), lit(1L).as("isC"),
        lit(null).cast("long").as("u"), lit(null).cast("long").as("y"),
        col("cu"), col("cy"))
      .unionByName(per.filter(col("g") === 1)
        .select(col("cov"), lit(0L).as("isC"), col("u"),
          col("y_cents").as("y"), lit(null).cast("long").as("cu"),
          lit(null).cast("long").as("cy")))
    val ord = Seq(col("cov").asc, col("isC").desc, col("u").asc)
    val wPrev = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val wNext = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
      .rowsBetween(0, org.apache.spark.sql.expressions.Window
        .unboundedFollowing)
    val matched = tagged
      .withColumn("pc", last(when(col("isC") === 1,
        struct(col("cov").as("c"), col("cy").as("y"))), true).over(wPrev))
      .withColumn("nc", first(when(col("isC") === 1,
        struct(col("cov").as("c"), col("cy").as("y"))), true).over(wNext))
      .filter(col("isC") === 0)
      .withColumn("my",
        when(col("pc").isNull, col("nc.y"))
          .when(col("nc").isNull, col("pc.y"))
          .when(col("cov") - col("pc.c") <= col("nc.c") - col("cov"),
            col("pc.y"))
          .otherwise(col("nc.y")))
      .filter(col("my").isNotNull)
    matched.agg(count(lit(1)).as("n_matched"),
        sum(col("y") - col("my")).as("s"))
      .select(col("n_matched"),
        (signum(col("s")).cast("long") *
          expr("cast((cast(1000000 as decimal(38,0)) * abs(s))" +
            " div n_matched as bigint)")).as("att_micros"))
  }

  /** QINI / UPLIFT-BY-DECILE card (Radcliffe 2007) — the eval for
    * incremental-effect targeting, which q207's lift curve cannot
    * express: lift ranks by OUTCOME likelihood, Qini ranks by a
    * targeting score and asks how much INCREMENTAL conversion the
    * treated accumulate over the controls' rate at each depth —
    * q(t) = cumConvT − cumConvC·cumNT/cumNC. A score that targets
    * persuadables shows a concave Qini curve; a useless one hugs 0.
    *
    * Here: score = per-user event count, treatment = the q174 parity
    * convention, conversion = made a `convType` event. Output one row
    * per decile with cumulative counts and q_micros.
    *
    * Determinism: deciles from ntile over (score desc, user asc) —
    * the q43 total order; q_micros divides the signed cross-product
    * difference sign-symmetrically with decimal(38,0) products
    * (cumConvT·cumNC ≤ n² — the r12 ladder). Degenerate all-treated/
    * all-control prefixes yield NULL (no counterfactual rate yet).
    *
    * Scale shape: one per-user collapse, ONE global ntile window (the
    * q43 bound), one per-decile agg + a 10-row prefix window. */
  def qiniUplift(events: DataFrame, userCol: String,
                 typeCol: String, convType: String,
                 treatedCol: Column, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val per = events.groupBy(col(userCol).as("u"))
      .agg(count(lit(1)).as("score"),
        max(when(treatedCol, 1L).otherwise(0L)).as("g"),
        max(when(col(typeCol) === convType, 1L).otherwise(0L)).as("y"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("u").asc)
    val tiled = per.withColumn("tile", ntile(buckets).over(w).cast("long"))
      .groupBy(col("tile"))
      .agg(sum(col("g")).as("n_t"),
        sum(lit(1L) - col("g")).as("n_c"),
        sum(col("g") * col("y")).as("conv_t"),
        sum((lit(1L) - col("g")) * col("y")).as("conv_c"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("tile").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    tiled
      .withColumn("cnt", sum(col("n_t")).over(wc))
      .withColumn("cnc", sum(col("n_c")).over(wc))
      .withColumn("cct", sum(col("conv_t")).over(wc))
      .withColumn("ccc", sum(col("conv_c")).over(wc))
      .withColumn("num",
        expr("cast(cct as decimal(38,0)) * cnc" +
          " - cast(ccc as decimal(38,0)) * cnt"))
      .select(col("tile"), col("n_t"), col("n_c"), col("conv_t"),
        col("conv_c"),
        when(col("cnc") > 0,
          signum(col("num")).cast("long") *
            expr("cast((cast(1000000 as decimal(38,0)) * abs(num))" +
              " div cnc as bigint)")).as("q_micros"))
  }

  /** SPRT LLR constants in micros — BUILD-TIME from the ONE Scala
    * definition (the decayWeightMicros/DCG precedent: no engine
    * computes a log at query time; both faces embed these literals).
    * c1 = ln(p1/p0) (per success), c2 = ln((1−p1)/(1−p0)) (per
    * failure), A = ln((1−β)/α), B = ln(β/(1−α)). */
  private[graft] def sprtConstants(p0: Double, p1: Double,
                                   alpha: Double, beta: Double)
      : (Long, Long, Long, Long) = (
    math.round(math.log(p1 / p0) * 1e6),
    math.round(math.log((1 - p1) / (1 - p0)) * 1e6),
    math.round(math.log((1 - beta) / alpha) * 1e6),
    math.round(math.log(beta / (1 - alpha)) * 1e6))

  /** SEQUENTIAL PROBABILITY RATIO TEST (Wald 1945) — the A/B
    * early-stopping machinery: per user segment, the DAILY cumulative
    * binomial log-likelihood ratio of H1: p = p1 against H0: p = p0
    * for the `convType` share of events, with Wald's decision
    * boundaries. The answer a peeking-prone experimenter needs
    * precomputed: on WHICH day did the evidence cross a boundary, and
    * which way — without the inflated false-positive rate of naive
    * daily significance checks (SPRT's boundaries price the peeking
    * in).
    *
    * ALL-INTEGER: the LLR increments are build-time micro constants
    * ([[sprtConstants]] — the q165 DCG-constant precedent, no engine
    * logs at query time); per day llr = k·c1 + (n−k)·c2 exact longs;
    * the cumulative is one ordered window sum; the decision is an
    * integer threshold compare. Output per (segment, day):
    * (seg, day, n, k, llr_cum_micros, decision ∈
    * reject_h0 | accept_h0 | continue) — decision reads the FIRST
    * crossing's sign via the running extremes, so a later drift back
    * inside the band cannot un-decide a stopped test (sequential
    * semantics, not pointwise).
    *
    * Scale shape: one combinable (segment, day) agg, one per-segment
    * ordered window over DAYS (the q153 tiny-partition class). */
  def sprt(events: DataFrame, userCol: String, tsCol: String,
           typeCol: String, convType: String, segments: Long = 4L,
           p0: Double = 0.18, p1: Double = 0.22,
           alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(segments >= 1 && p0 > 0 && p1 > p0 && p1 < 1,
      "need segments >= 1 and 0 < p0 < p1 < 1")
    val (c1, c2, ua, lb) = sprtConstants(p0, p1, alpha, beta)
    val byDay = events
      .select((col(userCol) % segments).as("seg"), dayIndex(tsCol).as("day"),
        when(col(typeCol) === convType, 1L).otherwise(0L).as("y"))
      .groupBy(col("seg"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("day").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byDay
      .withColumn("llr",
        col("k") * lit(c1) + (col("n") - col("k")) * lit(c2))
      .withColumn("llr_cum_micros", sum(col("llr")).over(w))
      .withColumn("hi", max(col("llr_cum_micros")).over(w))
      .withColumn("lo", min(col("llr_cum_micros")).over(w))
      .select(col("seg"), col("day"), col("n"), col("k"),
        col("llr_cum_micros"),
        // running-extreme semantics: a prefix that EVER touched a
        // boundary stays decided (a later drift back inside the band
        // cannot un-stop a sequential test). If both boundaries were
        // touched (pathological oscillation), reject wins — documented
        // priority, deterministic either way.
        when(col("hi") >= ua, lit("reject_h0"))
          .when(col("lo") <= lb, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** O'Brien–Fleming interim boundaries — BUILD-TIME from the ONE
    * Scala definition (the [[sprtConstants]] / q165 DCG precedent: no
    * engine computes a sqrt of a plan constant at query time). Look k
    * of K gets |z| boundary c·sqrt(K/k), rounded to 6 decimals so both
    * engines parse the identical literal; c is the OBF critical value
    * for the planned look count (the classic two-sided α=0.05 table:
    * K=5 → c=2.040, giving the textbook ladder 4.562, 3.226, 2.634,
    * 2.281, 2.040; K=4 → 2.024; K=3 → 2.004; K=2 → 1.977). */
  private[graft] def obfBounds(looks: Int, c: Double): Seq[Double] =
    (1 to looks).map(k => BigDecimal(c * math.sqrt(looks.toDouble / k))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** GROUP-SEQUENTIAL INTERIM ANALYSIS with O'Brien–Fleming boundaries
    * (O'Brien & Fleming 1979; Pocock 1977 frames the comparison) — THE
    * industry interim-monitoring protocol, the committee-review
    * complement to [[sprt]]'s per-unit sequential test: the experiment
    * is reviewed at `looks` PLANNED interims; at look k the CUMULATIVE
    * two-proportion z (pooled variance, the q198 exact-counts chain
    * one estimator over: arms by user parity, conversion by the caller
    * predicate) is compared to the OBF boundary c·sqrt(K/k) — nearly
    * unspendable early (4.562 at the first of five looks), the full
    * fixed-sample 2.040 only at the end, which is why OBF is what
    * trial protocols actually register. Looks are CALENDAR-SPACED:
    * each group's observed day span splits into `looks` equal
    * consecutive slices (the monthly-review reading; information
    * fractions are therefore approximately, not exactly, k/K — the
    * standard practice-vs-theory gap, documented not hidden).
    *
    * Output per (group, interim): interim number, the slice's last
    * observed day, cumulative arm counts/conversions, z (round-6,
    * signed-zero), the boundary literal, crossed flag, and the
    * running first-crossing day (`crossed_at_day`, NULL until a
    * crossing — once set it never moves: sequential semantics, the
    * q231 running-extreme discipline, a later drift back inside the
    * boundary cannot un-stop the trial) with the matching decision
    * string.
    *
    * Determinism: counts exact; z is ONE fixed double expression
    * mirrored term-for-term in the oracle off exact longs (the q198
    * cosine-contract discipline), compared AFTER round-6 against a
    * 6-decimal boundary literal both engines parse identically — the
    * crossing boolean is a comparison of identical doubles. A look
    * missing either arm (or with pooled rate 0 or 1) reports NULL z
    * and never crosses.
    *
    * Scale shape: one combinable (group, day, arm) agg; the day→look
    * map joins a broadcast |groups|-row range relation; one ordered
    * window over ≤`looks` rows per group (the q153 tiny-partition
    * class). Nothing event-scale past the first aggregation. */
  def groupSequential(events: DataFrame, groupCol: String,
                      userCol: String, tsCol: String, success: Column,
                      looks: Int = 5, c: Double = 2.040): DataFrame = {
    val byDay = events
      .select(col(groupCol).as("grp"), dayIndex(tsCol).as("day"),
        (col(userCol) % 2 === 1).as("treated"),
        when(success, 1L).otherwise(0L).as("y"))
      .groupBy(col("grp"), col("day"), col("treated"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("x"))
      .localCheckpoint(eager = false)
    groupSequentialFromCells(byDay, looks, c)
  }

  /** [[groupSequential]]'s ladder tail over an already-rolled-up
    * `(grp, day, treated, n, x)` day-cell relation (count/sum are
    * associative, so cells summed from partial rollups give the same
    * ladder as cells from raw rows). */
  private[graft] def groupSequentialFromCells(byDay: DataFrame,
                                              looks: Int, c: Double)
      : DataFrame = {
    require(looks >= 1 && c > 0, "need looks >= 1 and c > 0")
    val bounds = obfBounds(looks, c)
    val range = byDay.groupBy(col("grp"))
      .agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val perLook = byDay.join(broadcast(range), Seq("grp"))
      .withColumn("interim",
        expr(s"1L + (${looks}L * (day - dmin)) div (dmax - dmin + 1)"))
      .groupBy(col("grp"), col("interim"))
      .agg(max(col("day")).as("last_day"),
        coalesce(sum(when(col("treated"), col("n"))), lit(0L)).as("dn_t"),
        coalesce(sum(when(col("treated"), col("x"))), lit(0L)).as("dx_t"),
        coalesce(sum(when(!col("treated"), col("n"))), lit(0L)).as("dn_c"),
        coalesce(sum(when(!col("treated"), col("x"))), lit(0L)).as("dx_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("interim").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = perLook
      .withColumn("n_t", sum(col("dn_t")).over(w))
      .withColumn("x_t", sum(col("dx_t")).over(w))
      .withColumn("n_c", sum(col("dn_c")).over(w))
      .withColumn("x_c", sum(col("dx_c")).over(w))
    val pt = col("x_t").cast("double") / col("n_t").cast("double")
    val pc = col("x_c").cast("double") / col("n_c").cast("double")
    val pp = (col("x_t") + col("x_c")).cast("double") /
      (col("n_t") + col("n_c")).cast("double")
    val zr = round((pt - pc) /
      sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_t").cast("double") +
          lit(1.0) / col("n_c").cast("double"))), 6) + lit(0.0)
    val boundCol = element_at(array(bounds.map(lit): _*),
      col("interim").cast("int"))
    val scored = cum
      .withColumn("z",
        when(col("n_t") > 0 && col("n_c") > 0 &&
          col("x_t") + col("x_c") > 0 &&
          col("x_t") + col("x_c") < col("n_t") + col("n_c"), zr))
      .withColumn("bound", boundCol)
      .withColumn("crossed",
        coalesce(abs(col("z")) >= col("bound"), lit(false)))
    scored
      .withColumn("crossed_at_day",
        min(when(col("crossed"), col("last_day"))).over(w))
      .select(col("grp"), col("interim"), col("last_day"),
        col("n_t"), col("x_t"), col("n_c"), col("x_c"),
        col("z"), col("bound"), col("crossed"), col("crossed_at_day"),
        when(col("crossed_at_day").isNotNull, lit("stop_reject"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** EMPIRICAL-BAYES RATE SHRINKAGE (additive smoothing toward the
    * corpus rate; the fixed-strength form of Micci-Barreca 2001 /
    * beta-binomial EB): each user's conversion rate k/n is shrunk to
    * (k + s·m)/(n + s) with m = the GLOBAL rate and `s` the prior
    * strength in pseudo-observations — the estimator that stops a
    * 1-for-1 user from outranking a 95-for-100 user in any
    * rate-ranked list (CTR ranking, seller scores, quality gates).
    *
    * ALL-INTEGER: m_micros = (1e6·Σk) div Σn;
    * shrunk_micros = (1e6·k + s·m_micros) div (n + s) — exact longs
    * end to end, no float anywhere (the strongest determinism class).
    * Output per user: (user, n, k, raw_micros, shrunk_micros).
    *
    * Scale shape: one combinable per-user agg, a 1-row global
    * broadcast, a map-side final expression. */
  def ebShrinkage(events: DataFrame, userCol: String, typeCol: String,
                  convType: String, priorStrength: Long = 20L)
      : DataFrame = {
    require(priorStrength >= 1, "priorStrength must be >= 1")
    val per = events.groupBy(col(userCol).as("u"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(typeCol) === convType, 1L).otherwise(0L)).as("k"))
      .localCheckpoint(eager = false)
    val g = per.agg(sum(col("k")).as("gk"), sum(col("n")).as("gn"))
      .select(expr("(1000000L * gk) div gn").as("m_micros"))
    per.crossJoin(broadcast(g))
      .select(col("u"), col("n"), col("k"),
        expr("(1000000L * k) div n").as("raw_micros"),
        expr(s"(1000000L * k + ${priorStrength}L * m_micros)" +
          s" div (n + ${priorStrength}L)").as("shrunk_micros"))
  }

  /** LEAVE-ONE-DAY-OUT JACKKNIFE influence card (Quenouille 1956;
    * Tukey's pseudo-values): for each day, the global mean event
    * value recomputed WITHOUT that day, the delta it induces, and the
    * jackknife pseudo-value D·θ̂ − (D−1)·θ̂₍d₎. The robustness read a
    * topline metric needs before anyone trusts it: one day carrying
    * the whole mean (a backfill, an outage, a flash sale) shows up as
    * the dominant |delta| row.
    *
    * ALL-INTEGER: day sums in exact cents; every mean is
    * (1e6·Σ) div n over non-negative longs (Spark div = DuckDB //);
    * deltas and pseudo-values are differences of those exact micros.
    * Headroom: 1e6·Σcents < 2^63 ⇒ Σ ≲ 9.2e12 cents (the q232/q233
    * family bound). A corpus with a single day yields NULL
    * leave-out columns.
    *
    * Scale shape: one combinable per-day agg, a 1-row global
    * broadcast, map-side final arithmetic — output is |days| rows. */
  def jackknifeDays(events: DataFrame, tsCol: String, valCol: String)
      : DataFrame = {
    val cents = round(col(valCol) * 100).cast("long")
    val byDay = events
      .select(dayIndex(tsCol).as("day"), cents.as("c"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_d"), sum(col("c")).as("s_d"))
    val g = byDay
      .agg(count(lit(1)).as("dd"), sum(col("n_d")).as("nn"),
        sum(col("s_d")).as("ss"))
      .select(col("dd"), col("nn"), col("ss"),
        expr("(1000000L * ss) div nn").as("overall_micros"))
    val loo = expr("(1000000L * (ss - s_d)) div (nn - n_d)")
    byDay.crossJoin(broadcast(g))
      .select(col("day"), col("n_d"), col("overall_micros"),
        when(col("nn") > col("n_d"), loo).as("loo_micros"),
        when(col("nn") > col("n_d"), loo - col("overall_micros"))
          .as("delta_micros"),
        when(col("nn") > col("n_d"),
          col("dd") * col("overall_micros") - (col("dd") - 1) * loo)
          .as("pseudo_micros"))
  }

  /** Truncated-RBO per-rank weights in micros — BUILD-TIME constants
    * from the ONE Scala definition (the q165 DCG / q231 SPRT
    * precedent: no engine computes powers at query time). Entry m
    * (1-based) is (1−p)·Σ_{d=m..k} p^(d−1)/d — the total RBO mass a
    * matched item first covered at depth m contributes. */
  private[graft] def rboWeightsMicros(k: Int, p: Double): Seq[Long] =
    (1 to k).map(m => math.round((1 - p) *
      (m to k).map(d => math.pow(p, d - 1) / d).sum * 1e6))

  /** TOP-K LEADERBOARD CHURN between the two window halves (rank-
    * biased overlap, Webber, Moffat & Zobel 2010, truncated at k;
    * plus plain overlap/Jaccard): how stable is the "top users"
    * list period over period? Overlap treats rank 1 and rank k the
    * same; RBO's geometric top-weighting answers the question people
    * actually ask — "did the HEAD of the leaderboard change" — and
    * a sudden RBO drop is the ranking-pipeline regression signal.
    *
    * ALL-INTEGER: both top-k lists are rank windows with a total
    * order (count desc, id asc — the q26 tie contract); each matched
    * id contributes the BUILD-TIME micro weight for depth
    * max(rank₁, rank₂) ([[rboWeightsMicros]] literals embedded in
    * both faces, summed as longs — order-free); jaccard_micros is
    * one floor division. The half split reuses q238's
    * (min+max) div 2 day rule.
    *
    * Scale shape: one combinable (id, half) agg, two top-k windows
    * (WindowGroupLimit prunes to k·partitions rows), one ≤k-row
    * equi-join, one 1-row card out. */
  def topKRankChurn(events: DataFrame, idCol: String, tsCol: String,
                    k: Int = 20, p: Double = 0.9): DataFrame = {
    require(k >= 1 && k <= 1000 && p > 0 && p < 1,
      "need 1 <= k <= 1000 and 0 < p < 1")
    val weights = rboWeightsMicros(k, p)
    val (base, bounds) = halfSplit(events, idCol, tsCol)
    val counts = base.crossJoin(broadcast(bounds))
      .groupBy(col("id"), (col("day") <= col("mid")).as("p1"))
      .agg(count(lit(1)).as("c"))
    def topK(firstHalf: Boolean, rankName: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("id").asc)
      counts.filter(col("p1") === firstHalf)
        .withColumn(rankName, row_number().over(w).cast("long"))
        .filter(col(rankName) <= k)
        .select(col("id"), col(rankName))
    }
    val a = topK(firstHalf = true, "r1")
    val b = topK(firstHalf = false, "r2")
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val wArr = array(weights.map(lit): _*)
    a.join(b, Seq("id"))
      .select(element_at(wArr, greatest(col("r1"), col("r2"))
        .cast("int")).as("w"))
      .agg(count(lit(1)).as("n_overlap"), sum(col("w")).as("rbo"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(lit(k.toLong).as("k"), col("n_a"), col("n_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        expr("(1000000L * n_overlap) div (n_a + n_b - n_overlap)")
          .as("jaccard_micros"),
        coalesce(col("rbo"), lit(0L)).as("rbo_micros"))
  }

  /** The two-halves split of [[topKRankChurn]] and [[captureRecapture]]:
    * `base`(id, day), checkpointed, and the 1-row `bounds`(mid) whose
    * day `mid` ends the first half of the observed day range. */
  private def halfSplit(events: DataFrame, idCol: String,
                        tsCol: String): (DataFrame, DataFrame) = {
    val base = events.select(col(idCol).as("id"), dayIndex(tsCol).as("day"))
      .localCheckpoint(eager = false)
    val bounds = base
      .agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
      .select(expr("(dmin + dmax) div 2").as("mid"))
    (base, bounds)
  }

  /** CAPTURE–RECAPTURE population estimate (Chapman 1951's
    * bias-corrected Lincoln–Petersen): treat the two window halves as
    * two independent "captures" of the user population; from
    * (n₁, n₂, overlap) estimate the TRUE population
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 and the coverage share the corpus
    * actually saw. The "how much are we missing" card — crawl
    * coverage, sensor completeness, dedup-universe sizing — for
    * exactly the situation where counting what you HAVE can't answer
    * what you DON'T.
    *
    * ALL-INTEGER: presence flags are max-of-indicator per user (one
    * combinable agg); N̂ floors via the decimal(38,0)/HUGEINT product
    * ladder ((n+1) products exceed int64 near 1e10 users);
    * coverage_micros = (1e6·seen) div N̂. N̂ ≥ max(n₁,n₂) ≥ 1 whenever
    * the corpus is non-empty, so no division guard is needed.
    *
    * Scale shape: one combinable per-user agg, one 1-row card — the
    * q238 half-split bounds broadcast. */
  def captureRecapture(events: DataFrame, idCol: String, tsCol: String)
      : DataFrame = {
    val (base, bounds) = halfSplit(events, idCol, tsCol)
    val nhat = "cast(cast(na + 1 as decimal(38,0)) * (nb + 1)" +
      " div (m + 1) as bigint) - 1"
    base.crossJoin(broadcast(bounds)).groupBy(col("id"))
      .agg(max(when(col("day") <= col("mid"), 1L).otherwise(0L))
        .as("in1"),
        max(when(col("day") > col("mid"), 1L).otherwise(0L)).as("in2"))
      .agg(sum(col("in1")).as("na"), sum(col("in2")).as("nb"),
        sum(col("in1") * col("in2")).as("m"), count(lit(1)).as("seen"))
      .select(col("na").as("n_first"), col("nb").as("n_second"),
        col("m").as("n_both"), col("seen").as("n_seen"),
        expr(nhat).as("n_hat"),
        expr(s"(1000000L * seen) div ($nhat)").as("coverage_micros"))
  }

  /** FUNNEL STEP LATENCY card — per user the FIRST `fromType` event,
    * the first `toType` AT OR AFTER it, and per segment the exact
    * median and P90 of the conversion latency. The "how long does the
    * funnel take" number product teams quote; means are useless here
    * (latencies are heavy-tailed — q223), so the card is built on
    * exact order statistics.
    *
    * ALL-INTEGER: latencies are whole seconds — timestamps TRUNCATE
    * to the second on both faces (Spark unix_timestamp floors;
    * DuckDB must date_trunc('second', ·) BEFORE epoch, since
    * CAST(epoch(ts)) half-even-ROUNDS sub-second parts — the ±1 s
    * mismatch class caught at first verify); the median uses the
    * q244 rank-pick identity (carried DOUBLED → median_micros =
    * 500000·med_x2 with no division); P90 is the nearest-rank
    * ⌈0.9n⌉ = (9n+9) div 10 order statistic — a single exact row.
    * Rank order (latency, user) is total. Segments with no
    * conversions vanish from both faces identically.
    *
    * Scale shape: two filtered scans collapse to per-user firsts
    * (combinable min aggs + one equi-join on the user key), then
    * rank windows over per-segment CONVERTED-user rows. */
  def funnelLatency(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, fromType: String, toType: String,
                    segments: Long = 4L): DataFrame = {
    require(segments >= 1, "need segments >= 1")
    val f = events.filter(col(typeCol) === fromType)
      .groupBy(col(userCol).as("u"))
      .agg(min(unix_timestamp(col(tsCol))).as("t0"))
    val lat = events.filter(col(typeCol) === toType)
      .select(col(userCol).as("u"),
        unix_timestamp(col(tsCol)).as("t1"))
      .join(f, Seq("u"))
      .filter(col("t1") >= col("t0"))
      .groupBy((col("u") % segments).as("seg"), col("u"))
      .agg((min(col("t1")) - min(col("t0"))).as("lat"))
      .localCheckpoint(eager = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg"))
      .orderBy(col("lat").asc, col("u").asc)
    val nn = lat.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    val rk = lat.withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(nn), Seq("seg"))
    val med = rk
      .filter(col("rk") >= expr("(n + 1) div 2") &&
        col("rk") <= expr("(n + 2) div 2"))
      .groupBy(col("seg"), col("n"))
      .agg((sum(col("lat")) * (lit(3L) - count(lit(1)))).as("med_x2"))
    val p90 = rk.filter(col("rk") === expr("(9 * n + 9) div 10"))
      .select(col("seg"), col("lat").as("p90_sec"))
    med.join(p90, Seq("seg"))
      .select(col("seg"), col("n").as("n_converted"),
        (lit(500000L) * col("med_x2")).as("median_micros"),
        col("p90_sec"))
  }

  /** Normalized finite-window EWMA weights in micros — BUILD-TIME
    * constants (the q240 RBO precedent): w_k ∝ α(1−α)^k over the
    * last `window` observed days, normalized to sum ≈ 1e6. */
  private[graft] def ewmaWeightsMicros(alpha: Double, window: Int)
      : Seq[Long] = {
    val raw = (0 until window).map(k =>
      alpha * math.pow(1 - alpha, k))
    val tot = raw.sum
    raw.map(w => math.round(w / tot * 1e6))
  }

  /** EWMA ONE-STEP-AHEAD BACKTEST (exponential smoothing as an
    * explicit finite weighted sum): for each day with a full
    * `window`-day observed history, forecast the daily count from the
    * previous `window` observed days under normalized geometric
    * weights, and score the whole series by MAPE. The "can yesterday
    * predict today" card that baselines any fancier forecaster — if
    * EWMA's MAPE is 5%, a model that claims 4.9% bought nothing.
    *
    * ALL-INTEGER: weights are BUILD-TIME micro constants
    * ([[ewmaWeightsMicros]] — no engine computes powers at query
    * time); the forecast is an UNROLLED Σ w_k·lag(y, k+1) of exact
    * longs (lag over the group's observed-day order — calendar gaps
    * are compressed, documented); ape = |1e6·y − f| div y (y ≥ 1
    * always — it's a count of an observed day); mape = Σape div n.
    *
    * Scale shape: one combinable daily collapse, ONE window pass
    * computing all `window` lags (q153 tiny-partition class), one
    * combinable per-group agg. */
  def ewmaBacktest(events: DataFrame, groupCol: String, tsCol: String,
                   alpha: Double = 0.3, window: Int = 30)
      : DataFrame = {
    require(alpha > 0 && alpha < 1 && window >= 2,
      "need 0 < alpha < 1 and window >= 2")
    val ws = ewmaWeightsMicros(alpha, window)
    val daily = dailyCounts(events, col(groupCol).as("grp"), tsCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("day").asc)
    val fc = ws.zipWithIndex.map { case (wk, k) =>
      lit(wk) * lag(col("y"), k + 1).over(w)
    }.reduce(_ + _)
    daily.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("f_micros", fc)
      .filter(col("rk") > window)
      .select(col("grp"), col("y"), col("f_micros"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_days_backtested"),
        sum(expr("abs(1000000L * y - f_micros) div y")).as("sape"))
      .select(col("grp"), col("n_days_backtested"),
        expr("sape div n_days_backtested").as("mape_micros"))
  }

  /** ROLLING ACTIVE USERS per day — DAU plus exact 7-day WAU and
    * 28-day MAU for EVERY day, and the DAU/WAU stickiness in micros.
    * The q210 card gives one corpus-level DAU/MAU scalar; this is the
    * full daily curve a growth dashboard actually plots.
    *
    * Scale trick: a rolling DISTINCT is not window-combinable, and a
    * range join explodes — instead each (user, active-day) presence
    * row fans out to the ≤ 28 future days it keeps the user "active"
    * for (a BOUNDED explode — 28·|presence| narrow rows), and each
    * horizon is ONE exact count_distinct by target day. Target days
    * beyond the corpus max are dropped so every reported day is a
    * real day. ALL-INTEGER throughout; stickiness =
    * (1e6·dau) div wau7.
    *
    * Scale shape: one distinct presence collapse, one bounded explode
    * (×29 rows), three combinable distinct aggs keyed by day. */
  def rollingActiveUsers(events: DataFrame, userCol: String,
                         tsCol: String): DataFrame = {
    val pres = events
      .select(col(userCol).as("u"), dayIndex(tsCol).as("day"))
      .distinct()
      .localCheckpoint(eager = false)
    val maxDay = pres.agg(max(col("day")).as("dmax"))
    val fan = pres
      .select(col("u"), col("day"),
        explode(sequence(lit(0), lit(27))).as("k"))
      .select(col("u"), col("day").as("src_day"),
        (col("day") + col("k")).as("day"), col("k"))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("dmax"))
    fan.groupBy(col("day"))
      .agg(
        count_distinct(when(col("k") === 0, col("u"))).as("dau"),
        count_distinct(when(col("k") <= 6, col("u"))).as("wau7"),
        count_distinct(col("u")).as("mau28"))
      .select(col("day"), col("dau"), col("wau7"), col("mau28"),
        when(col("wau7") > 0, expr("(1000000L * dau) div wau7"))
          .as("stickiness_micros"))
  }

  /** NEW vs RETURNING daily split — per day, events and distinct
    * users partitioned by whether the user's FIRST-EVER active day is
    * that day. The acquisition-vs-retention lens every growth chart
    * needs before a "DAU is up" claim means anything: DAU can rise
    * purely on one-day news traffic (new share spikes) while the
    * retained base shrinks.
    *
    * ALL-INTEGER, one first-occurrence trick (the q243 move): first
    * day = min(day) per user — a combinable agg joined back on the
    * user key; no per-day rescans, no window over history. new_share
    * = (1e6·new users) div (day's users).
    *
    * Scale shape: one distinct presence collapse, one combinable
    * per-user min, one equi-join on the user key, one combinable
    * per-day agg. */
  def newVsReturning(events: DataFrame, userCol: String, tsCol: String)
      : DataFrame = {
    val pres = events
      .select(col(userCol).as("u"), dayIndex(tsCol).as("day"))
      .groupBy(col("u"), col("day"))
      .agg(count(lit(1)).as("n_ev"))
      .localCheckpoint(eager = false)
    val first = pres.groupBy(col("u")).agg(min(col("day")).as("fday"))
    pres.join(first, Seq("u"))
      .select(col("day"), (col("day") === col("fday")).as("is_new"),
        col("n_ev"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("is_new"), col("n_ev")).otherwise(0L))
          .as("ev_new"),
        sum(when(!col("is_new"), col("n_ev")).otherwise(0L))
          .as("ev_returning"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("users_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L))
          .as("users_returning"))
      .select(col("day"), col("ev_new"), col("ev_returning"),
        col("users_new"), col("users_returning"),
        expr("(1000000L * users_new)" +
          " div (users_new + users_returning)").as("new_share_micros"))
  }

  /** MIX/RATE DECOMPOSITION of a mean-metric change (the index-number
    * "bridge" — Laspeyres decomposition / BCG growth accounting):
    * between two halves of the observation window, the change in the
    * global mean value per event splits EXACTLY into per-segment
    * Δmean = Σ_s [(w₂−w₁)·r₁]  (MIX: traffic moved between segments)
    *       + Σ_s [w₂·(r₂−r₁)]  (RATE: segments got better/worse),
    * the answer to "did the metric drop because users shifted to
    * cheap segments, or because segments themselves got cheaper" —
    * the first question asked of any topline move.
    *
    * Determinism: each term is a DIFFERENCE OF NON-NEGATIVE floored
    * micro terms (mix = w₂r₁ − w₁r₁, rate = w₂r₂ − w₂r₁, each
    * (1e6·cross-product) div (positive denominator) in decimal(38,0)/
    * HUGEINT — the q205 independent-floor class), so no signed
    * division exists anywhere. Segments absent from period 1 take the
    * r₁ := 0 convention (w₁ = 0 makes the identity hold for ANY r₁;
    * zero is the one both engines agree on); a window too short to
    * have a second period yields NULL period-2 columns. The split is
    * day ≤ (min+max) div 2 — derived from the data, no parameter.
    *
    * Scale shape: one combinable (segment, period) agg off one scan,
    * a 1-row bounds broadcast and a 1-row totals broadcast — output
    * is |segments| rows. */
  def mixRateDecomposition(events: DataFrame, groupCol: String,
                           tsCol: String, valCol: String): DataFrame = {
    val cents = round(col(valCol) * 100).cast("long")
    val base = events.select(col(groupCol).as("seg"),
        dayIndex(tsCol).as("day"), cents.as("c"))
      .localCheckpoint(eager = false)
    val bounds = base
      .agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
      .select(expr("(dmin + dmax) div 2").as("mid"))
    val cells = base.crossJoin(broadcast(bounds))
      .select(col("seg"), (col("day") <= col("mid")).as("p1"),
        col("c"))
      .groupBy(col("seg"))
      .agg(sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("p1"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("p1"), col("c")).otherwise(0L)).as("s1"),
        sum(when(!col("p1"), col("c")).otherwise(0L)).as("s2"))
    val tot = cells.agg(sum(col("n1")).as("nn1"),
      sum(col("n2")).as("nn2"), sum(col("s1")).as("ss1"),
      sum(col("s2")).as("ss2"))
    // non-negative floored micro terms (decimal ladder, independent
    // floors): w2r1 = (1e6·n2·s1) div (N2·n1), w1r1 = (1e6·s1) div N1,
    // w2r2 = (1e6·s2) div N2
    val w2r1 = when(col("n1") > 0 && col("nn2") > 0,
      expr("cast(cast(n2 as decimal(38,0)) * s1 * 1000000" +
        " div (cast(nn2 as decimal(38,0)) * n1) as bigint)"))
      .otherwise(when(col("nn2") > 0, 0L))
    val w1r1 = expr("cast(cast(s1 as decimal(38,0)) * 1000000" +
      " div nn1 as bigint)")
    val w2r2 = when(col("nn2") > 0,
      expr("cast(cast(s2 as decimal(38,0)) * 1000000" +
        " div nn2 as bigint)"))
    cells.crossJoin(broadcast(tot)).select(
      col("seg"), col("n1"), col("n2"),
      expr("(1000000L * n1) div nn1").as("w1_micros"),
      when(col("nn2") > 0, expr("(1000000L * n2) div nn2"))
        .as("w2_micros"),
      when(col("n1") > 0, expr("cast(cast(s1 as decimal(38,0))" +
        " * 1000000 div n1 as bigint)")).otherwise(0L).as("r1_micros"),
      when(col("n2") > 0, expr("cast(cast(s2 as decimal(38,0))" +
        " * 1000000 div n2 as bigint)")).otherwise(0L).as("r2_micros"),
      (w2r1 - w1r1).as("mix_micros"),
      (w2r2 - w2r1).as("rate_micros"))
  }

  /** DELTA-METHOD CI FOR A RATIO METRIC (Deng, Knoblich & Lu 2018 —
    * "Applying the Delta Method in Metric Analytics"): conversion
    * rates, revenue-per-session and any Σy/Σn metric violate the iid
    * assumption of a naive proportion CI because the randomization
    * unit (user) contributes MANY rows; the delta method gets the
    * variance right by treating per-user (y, n) pairs as the iid
    * draws: Var(R) ≈ (v_y − 2R·c_yn + R²·v_n)/(k·n̄²). The honest
    * error bar q232's point shrinkage and q231's boundary test both
    * lean on.
    *
    * Determinism: per-segment moments are exact (longs; squares and
    * cross products in decimal(38,0)/HUGEINT — the r12 ladder); the
    * CI is ONE mirrored float tree over those moments (sample
    * (co)variances with the k−1 denominator, z = 1.96 literal on both
    * faces, round-6 + signed-zero). Segments with k ≤ 1 or Σn = 0
    * yield NULL; a float-rounding-negative inner variance yields NULL
    * se/CI (guard mirrored).
    *
    * Scale shape: one combinable per-user agg, one combinable
    * per-segment moment agg — two scans' worth of map-side-combined
    * shuffle, output |segments| rows. */
  def ratioMetricCi(events: DataFrame, userCol: String, typeCol: String,
                    convType: String, segments: Long = 4L): DataFrame = {
    require(segments >= 1, "need segments >= 1")
    val per = events
      .groupBy((col(userCol) % segments).as("seg"), col(userCol).as("u"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(typeCol) === convType, 1L).otherwise(0L)).as("y"))
    val m = per.groupBy(col("seg")).agg(
      count(lit(1)).as("k"),
      sum(col("y")).as("sy"), sum(col("n")).as("sn"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
      sum(expr("cast(n as decimal(38,0)) * n")).as("snn"),
      sum(expr("cast(y as decimal(38,0)) * n")).as("syn"))
    val r = col("sy").cast("double") / col("sn").cast("double")
    def sv(num: String): Column =
      expr(s"cast(cast(k as decimal(38,0)) * $num as double)") /
        expr("cast(cast(k as decimal(38,0)) * (k - 1) as double)")
    val vy = sv("syy - cast(sy as decimal(38,0)) * sy")
    val vn = sv("snn - cast(sn as decimal(38,0)) * sn")
    val cyn = sv("syn - cast(sy as decimal(38,0)) * sn")
    val nbar = col("sn").cast("double") / col("k").cast("double")
    val inner = (vy - lit(2.0) * r * cyn + r * r * vn) /
      (col("k").cast("double") * nbar * nbar)
    val valid = col("k") > 1 && col("sn") > 0
    m.select(col("seg"), col("k").as("n_users"),
      col("sy").as("sum_conv"), col("sn").as("sum_events"),
      when(valid, round(r, 6) + lit(0.0)).as("ratio"),
      when(valid && inner >= 0.0,
        round(sqrt(inner), 6) + lit(0.0)).as("se"),
      when(valid && inner >= 0.0,
        round(r - lit(1.96) * sqrt(inner), 6) + lit(0.0)).as("ci_lo"),
      when(valid && inner >= 0.0,
        round(r + lit(1.96) * sqrt(inner), 6) + lit(0.0)).as("ci_hi"))
  }

  /** EXPONENTIALLY-DECAYED ENGAGEMENT SCORE per user — the recency-
    * weighted activity scalar ranking/churn models consume (each
    * event counts 0.9^(days-ago), "ago" measured from the corpus's max
    * event day, the [[rfmSegments]] deterministic "now"): recent
    * activity dominates, month-old activity barely registers, and the
    * score is incrementally maintainable (one multiply per day).
    *
    * Determinism: the decay weights are BUILD-TIME integer-micros
    * constants from the ONE Scala definition ([[decayWeightMicros]],
    * the q165 DCG-constants precedent — no engine computes pow(0.9, k)
    * at query time); lags beyond the table score zero (a documented
    * truncation at < 0.05% weight, not a float underflow surprise).
    * score = Σ n(day)·w(lag) is a pure integer dot product.
    *
    * Scale shape: one combinable (user, day) collapse, a 1-row max-day
    * broadcast, a broadcast equi-join onto the ≤31-row weight table,
    * one combinable per-user sum — no window anywhere. */
  def decayedEngagement(events: DataFrame, userCol: String,
                        tsCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val perDay = events
      .select(col(userCol), dayIndex(tsCol).as("day"))
      .groupBy(col(userCol), col("day"))
      .agg(count(lit(1)).as("n"))
    val ref = perDay.agg(max(col("day")).as("ref"))
    val wts = decayWeightMicros.zipWithIndex
      .map { case (w, l) => (l.toLong, w) }.toDF("lag", "w_micros")
    perDay.crossJoin(broadcast(ref))
      .withColumn("lag", col("ref") - col("day"))
      .join(broadcast(wts), Seq("lag"), "left")
      .groupBy(col(userCol))
      .agg(sum(col("n")).as("n_events"),
        sum(col("n") * coalesce(col("w_micros"), lit(0L)))
          .as("score_micros"))
  }

  /** round(1e6 · 0.9^lag) for lag 0..29 — the ONE definition of the
    * [[decayedEngagement]] decay table; the oracle embeds these exact
    * longs (q165 ndcgWeightMicros precedent). */
  val decayWeightMicros: IndexedSeq[Long] =
    (0 until 30).map(l => math.round(1000000.0 * math.pow(0.9, l)))

  /** LORENZ CURVE at decile resolution — the picture behind
    * [[giniConcentration]]'s scalar: per group, entities sort ascending
    * by mass and each decile reports its cumulative share of the total
    * (perfect equality = the diagonal; the gap is the Gini area). ALL
    * INTEGER: decile assignment is `ntile(10)` over the (mass, entity)
    * total order and shares are floor-division micros of exact cent
    * sums. The curation reading: "the top decile of domains holds X% of
    * the tokens" — the sentence a corpus-balance review opens with.
    *
    * Scale shape: per-entity aggregation, one rank window over the
    * entity-level relation, one decile rollup + a running sum over ≤ 10
    * rows per group. */
  def lorenzDeciles(events: DataFrame, groupCol: String,
                    entityCol: String, valCol: String): DataFrame = {
    val per = events.groupBy(col(groupCol), col(entityCol))
      .agg(sum(round(col(valCol) * 100).cast("long")).as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("x").asc, col(entityCol).asc)
    val dec = per.withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col(groupCol), col("decile"))
      .agg(count(lit(1)).as("n_entities"), sum(col("x")).as("decile_cents"))
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("decile").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    dec.withColumn("cum_cents", sum(col("decile_cents")).over(cum))
      .withColumn("total_cents", sum(col("decile_cents")).over(tot))
      .select(col(groupCol), col("decile"), col("n_entities"),
        col("decile_cents"),
        expr("cum_cents * 1000000L div total_cents").as("cum_share_micros"))
  }

  /** THEIL INDEX with exact BETWEEN/WITHIN DECOMPOSITION (Theil 1967)
    * — the fourth inequality lens beside Gini (q152), Lorenz (q154)
    * and Hoover (q284), and the only one of the four that DECOMPOSES
    * ADDITIVELY by a partition: T = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ),
    * so "is corpus mass concentrated BETWEEN sources or WITHIN them"
    * is answerable from one relation — the question a mixture-capping
    * decision (q64 source caps, q279 DoReMi weights) actually needs,
    * where Gini only says "concentrated". Output one row per group:
    * entity count, mass, mass share (exact micros), within-group
    * Theil T_g, the between term s_g·ln(μ_g/μ), and the group's total
    * contribution s_g·T_g + between — the global Theil is the exact
    * sum of the contribution column.
    *
    * Determinism: `valCol` must be a NON-NEGATIVE exact integer
    * measure (token/char counts — no cents conversion is applied);
    * per-entity terms (x/S_g)·ln(x·n_g/S_g) round to EXACT NANOS and
    * sum as longs (the q305 idiom); the per-group tail is three
    * mirrored float expressions (identical parenthesization), round-6
    * (+0.0 — decomposition terms are legitimately small). A zero-mass
    * group's share and both terms are 0 (the x·ln x → 0 limit);
    * entities with x = 0 contribute 0 within their group.
    *
    * Scale shape: one per-entity combinable agg, one |groups|-row
    * rollup broadcast BACK onto the entity stream (bounded by the
    * group set, never the entities), one combinable nanos sum, 1-row
    * global broadcast. No window, no sort — the [[hooverIndex]] cost
    * class. */
  def theilDecomposition(df: DataFrame, groupCol: String,
                         entityCol: String, valCol: Column): DataFrame =
    theilFromPerEntity(
      df.groupBy(col(groupCol).as("g"), col(entityCol))
        .agg(sum(valCol.cast("long")).as("x")), groupCol)

  /** [[theilDecomposition]]'s tail over an already-rolled-up
    * per-(group, entity) exact-integer relation `(g, <entity>, x)`. */
  private[graft] def theilFromPerEntity(per: DataFrame,
                                        groupCol: String): DataFrame = {
    val gt = per.groupBy(col("g"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      .localCheckpoint(eager = false)
    val tot = gt.agg(sum(col("ng")).as("nn"), sum(col("sg")).as("ss"))
    // null-safe stats join-back (the hooverFromCents contract): groupBy
    // keeps a NULL group; a plain equi-join here would starve that
    // group's term sum and drop its card row
    val tw = per.join(
        broadcast(gt.select(col("g").as("__g"), col("ng"), col("sg"))),
        col("g") <=> col("__g")).drop("__g")
      .select(col("g"),
        when(col("x") > 0,
          round(((col("x").cast("double") / col("sg")) *
            log((col("x").cast("double") * col("ng")) / col("sg"))) *
            lit(1000000000.0)).cast("long"))
          .otherwise(0L).as("tn"))
      .groupBy(col("g")).agg(sum(col("tn")).as("twn"))
    val braw = when(col("sg") > 0,
      (col("sg").cast("double") / col("ss")) *
        log((col("sg").cast("double") * col("nn")) /
          (col("ss").cast("double") * col("ng")))).otherwise(lit(0.0))
    // null-safe group join (the hooverFromCents contract): a plain
    // equi-join would silently drop the NULL group's card row
    gt.join(tw.withColumnRenamed("g", "__g"),
        col("g") <=> col("__g")).drop("__g")
      .join(broadcast(tot), lit(true))
      .select(col("g").as(groupCol), col("ng").as("n_entities"),
        col("sg").as("x_sum"),
        expr("(1000000L * sg) div ss").as("share_micros"),
        (round(col("twn").cast("double") / lit(1000000000.0), 6)
          + lit(0.0)).as("theil_within"),
        (round(braw, 6) + lit(0.0)).as("theil_between_term"),
        (round((col("sg").cast("double") / col("ss")) *
          (col("twn").cast("double") / lit(1000000000.0)) + braw, 6)
          + lit(0.0)).as("theil_contrib"))
  }

  def centSum(money: Column): Column =
    sum(round(money * 100).cast(LongType)) / 100.0

  /** The survival SPELL relation shared by the survival operators:
    * one row per user with a `startType` event, holding t0 = the first
    * start (plus `startAggs` over the start rows), one column per
    * (type, name) of `ends` = the first event of that type STRICTLY
    * after t0 (null when none came), and the corpus horizon tmax =
    * max(ts), where a spell with no end is censored. */
  private def survivalSpells(events: DataFrame, userCol: String,
                             tsCol: String, typeCol: String,
                             startType: String, ends: Seq[(String, String)],
                             startAggs: Seq[Column] = Nil): DataFrame = {
    val starts = events.filter(col(typeCol) === startType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t0"), startAggs: _*)
    ends.foldLeft(starts) { case (acc, (tp, out)) =>
      acc.join(events.filter(col(typeCol) === tp)
        .join(starts.select(col(userCol), col("t0")), Seq(userCol))
        .filter(col(tsCol) > col("t0"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as(out)),
        Seq(userCol), "left")
    }.join(broadcast(events.agg(max(col(tsCol)).as("tmax"))), lit(true))
  }

  /** [[survivalSpells]] with one end, `eventType`, as (`keep`, obs, d):
    * obs = 1 when the event came, d = the spell in whole days up to
    * the event or, censored, up to the horizon (see [[kaplanMeier]]'s
    * TIMEZONE CONTRACT). */
  private def survivalDurations(events: DataFrame, userCol: String,
                                tsCol: String, typeCol: String,
                                startType: String, eventType: String,
                                startAggs: Seq[Column] = Nil,
                                keep: Seq[Column] = Nil): DataFrame =
    survivalSpells(events, userCol, tsCol, typeCol, startType,
      Seq(eventType -> "te"), startAggs)
      .select(keep ++ Seq(
        when(col("te").isNotNull, lit(1L)).otherwise(lit(0L)).as("obs"),
        expr("(unix_timestamp(coalesce(te, tmax)) - unix_timestamp(t0))" +
          " div 86400").as("d")): _*)

  /** The Kaplan–Meier day table over [[survivalDurations]]: one row per
    * distinct duration day, (d, n_at, e_at, n_risk, __lt) with n_risk =
    * the spells lasting at least d days and __lt = ln(1 − e_at/n_risk),
    * the curve's log step (null on a saturated day, e_at = n_risk). */
  private def kmSteps(events: DataFrame, userCol: String, tsCol: String,
                      typeCol: String, startType: String,
                      eventType: String): DataFrame =
    survivalDurations(events, userCol, tsCol, typeCol, startType,
      eventType)
      .groupBy(col("d")).agg(count(lit(1)).as("n_at"),
        sum(col("obs")).as("e_at"))
      .withColumn("n_risk", sum(col("n_at")).over(
        Window.orderBy(col("d").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("__lt",
        when(col("e_at") < col("n_risk"),
          log(lit(1.0) - col("e_at").cast("double") / col("n_risk"))))

  /** LOG-RANK TEST (Mantel 1966) — "do two cohorts convert/churn at
    * the same rate?" answered on the FULL survival curves, censoring
    * included, where a mean-duration t-test silently drops every user
    * who hasn't converted yet. Cohorts come from `cohortCol` (boolean:
    * true = group 1); the relation under test is
    * [[survivalDurations]] (first `startType` → first `eventType`,
    * censored at the horizon). Output one row:
    * (n1, n0, o1, e1_micros, v_micros, z) — O−E over the pooled
    * per-day risk sets, z = (O1 − E1)/√V, |z| ≳ 1.96 rejects equal
    * hazards.
    *
    * Determinism: per distinct duration d (only rows with deaths),
    * E-term = (1e6·d_t·n1_t) div n_t and the variance term is the
    * STAGED floor chain a = (1e6·d_t·n1_t) div n_t,
    * b = (a·(n_t−n1_t)) div n_t, v = (b·(n_t−d_t)) div (n_t−1) — all
    * products in decimal(38,0)/HUGEINT (exact to n ≈ 1e16 at-risk),
    * each stage's quotient back in long, terms SUMMED AS LONGS. The
    * single float step is z over the summed integers (round-4 +
    * signed-zero). Ties: none possible (terms key on distinct d).
    *
    * Scale shape: one per-user duration collapse (the q120 shape),
    * one combinable per-(d) agg, one reverse-cumulative window over
    * DISTINCT durations, one combinable final agg. */
  def logRankTest(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, startType: String, eventType: String,
                  cohortCol: Column): DataFrame = {
    val dur = survivalDurations(events, userCol, tsCol, typeCol,
      startType, eventType,
      startAggs = Seq(max(when(cohortCol, 1L).otherwise(0L)).as("g")),
      keep = Seq(col("g")))
    val byD = dur.groupBy(col("d"))
      .agg(count(lit(1)).as("n_at"), sum(col("obs")).as("e_at"),
        sum(col("g")).as("n1_at"),
        sum(col("g") * col("obs")).as("e1_at"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val risk = byD
      .withColumn("nt", sum(col("n_at")).over(w))
      .withColumn("n1t", sum(col("n1_at")).over(w))
      .filter(col("e_at") > 0)
      .withColumn("em",
        expr("cast((cast(1000000 as decimal(38,0)) * e_at * n1t)" +
          " div nt as bigint)"))
      .withColumn("__b",
        expr("cast((cast(em as decimal(38,0)) * (nt - n1t))" +
          " div nt as bigint)"))
      .withColumn("vm",
        when(col("nt") > 1,
          expr("cast((cast(__b as decimal(38,0)) * (nt - e_at))" +
            " div (nt - 1) as bigint)"))
          .otherwise(0L))
    val tot = dur.agg(
      sum(col("g")).as("n1"), sum(lit(1L) - col("g")).as("n0"),
      sum(col("g") * col("obs")).as("o1"))
    risk.agg(coalesce(sum(col("em")), lit(0L)).as("e1_micros"),
        coalesce(sum(col("vm")), lit(0L)).as("v_micros"))
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n0"), col("o1"), col("e1_micros"),
        col("v_micros"),
        when(col("v_micros") > 0,
          round((col("o1").cast("double") * 1e6 -
            col("e1_micros").cast("double")) /
            (lit(1000.0) * sqrt(col("v_micros").cast("double"))), 4)
            + lit(0.0)).as("z"))
  }

  /** K-SAMPLE STRATIFIED LOG-RANK (Mantel 1966; Peto & Peto 1972 §7)
    * — the test actually run when MORE than two cohorts share a
    * survival question ("do these 3 acquisition channels churn
    * alike?"), with strata blocking out a confounder: risk sets and
    * expectations are formed WITHIN each stratum (a stratum-specific
    * baseline hazard is allowed to differ), then each group's
    * observed/expected/variance terms are summed across strata.
    * Duration relation = [[survivalDurations]], as in [[logRankTest]]
    * (q219): first `startType` → first `eventType`, censored at the
    * corpus horizon.
    * Output one row per group: (grp, n_users, o_events, e_micros,
    * v_micros, z) with z_g = (O_g − E_g)/√V_g — the per-group
    * direction readout; for k = 2 and one stratum, group "1"'s row
    * reproduces q219's (e1_micros, v_micros, z) EXACTLY (same staged
    * floors — Round16OpsSpec pins it).
    *
    * Determinism: group/stratum labels are the max of the (non-null)
    * label expression over the user's start rows, cast to string; per
    * death day d in stratum s, E-term = (1e6·e_t·n_gt) div n_t and
    * the variance is q219's STAGED floor chain with n1t → n_gt — all
    * products decimal(38,0), each quotient back in long, terms summed
    * as longs; the one float step is z over the summed integers
    * (round-4 + signed-zero).
    *
    * Scale shape: one per-user duration collapse, two combinable day
    * aggs, one reverse-cumulative window over DISTINCT (stratum, day)
    * rows, then the group-at-risk ladder as a BROADCAST non-equi join
    * of the death-day table against the (stratum, group, day) entry
    * table — both already day-collapsed, so the fan-out is quadratic
    * only in the calendar-bounded day ladder (the q237/q295 class),
    * never in users. */
  def logRankKSample(events: DataFrame, userCol: String, tsCol: String,
                     typeCol: String, startType: String,
                     eventType: String, groupCol: Column,
                     strataCol: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dur = survivalDurations(events, userCol, tsCol, typeCol,
      startType, eventType,
      startAggs = Seq(max(groupCol.cast("string")).as("grp"),
        max(strataCol.cast("string")).as("str")),
      keep = Seq(col("grp"), col("str")))
    val w = W.partitionBy(col("str")).orderBy(col("d").asc)
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    val deathDays = dur.groupBy(col("str"), col("d"))
      .agg(count(lit(1)).as("n_at"), sum(col("obs")).as("e_at"))
      .withColumn("nt", sum(col("n_at")).over(w))
      .filter(col("e_at") > 0)
      .select(col("str"), col("d"), col("nt"), col("e_at"))
    val gd = dur.groupBy(col("str").as("s2"), col("grp"),
        col("d").as("d2"))
      .agg(count(lit(1)).as("gn"), sum(col("obs")).as("ge"))
    val terms = broadcast(deathDays)
      .join(gd, col("str") === col("s2") && col("d2") >= col("d"))
      .groupBy(col("str"), col("d"), col("grp"), col("nt"),
        col("e_at"))
      .agg(sum(col("gn")).as("ngt"),
        sum(when(col("d2") === col("d"), col("ge")).otherwise(0L))
          .as("egt"))
      .withColumn("em",
        expr("cast((cast(1000000 as decimal(38,0)) * e_at * ngt)" +
          " div nt as bigint)"))
      .withColumn("__b",
        expr("cast((cast(em as decimal(38,0)) * (nt - ngt))" +
          " div nt as bigint)"))
      .withColumn("vm",
        when(col("nt") > 1,
          expr("cast((cast(__b as decimal(38,0)) * (nt - e_at))" +
            " div (nt - 1) as bigint)"))
          .otherwise(0L))
      .groupBy(col("grp"))
      .agg(sum(col("em")).as("e_micros"), sum(col("vm")).as("v_micros"))
    dur.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_users"), sum(col("obs")).as("o_events"))
      .join(terms, Seq("grp"), "left")
      .select(col("grp"), col("n_users"), col("o_events"),
        coalesce(col("e_micros"), lit(0L)).as("e_micros"),
        coalesce(col("v_micros"), lit(0L)).as("v_micros"),
        when(coalesce(col("v_micros"), lit(0L)) > 0,
          round((col("o_events").cast("double") * 1e6 -
            col("e_micros").cast("double")) /
            (lit(1000.0) * sqrt(col("v_micros").cast("double"))), 4)
            + lit(0.0)).as("z"))
  }

  /** STATIONARY DISTRIBUTION of the empirical event-type Markov chain
    * — where [[markovTransitions]] (q116) reports the one-step
    * matrix, this card answers "where does the process SPEND ITS
    * TIME": π with π = πP, by `iters` fixed power-iteration steps
    * from the uniform start, in SCALED-INTEGER arithmetic (the
    * pageRank determinism family — no float mass anywhere).
    *
    * Determinism: P is the q116 integer-micros matrix
    * (p = (1e6·n) div tot); each step is
    * π'(j) = Σ_i (π(i)·p_ij) div 1e6 — exact longs, combinable sum;
    * floors leak < |states| micros of mass per step (reported, not
    * renormalized — renormalizing would reintroduce a float). States
    * with no outgoing transitions drop their mass (the documented
    * absorbing-sink behavior; the q110 dangling redistribution is the
    * PageRank-side fix and deliberately not replicated here — this
    * card describes the OBSERVED chain). Fixed `iters` keeps the
    * oracle an unrolled CTE chain (the q47 Lloyd replay pattern).
    *
    * Scale shape: the state space is the event-type vocabulary (tiny);
    * every step is one broadcast-sized join + combinable agg. */
  def markovStationary(events: DataFrame, userCol: String, tsCol: String,
                       ordCol: String, typeCol: String,
                       iters: Int = 10): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val p = markovTransitions(events, userCol, tsCol, ordCol, typeCol)
      .select(col("from_type"), col("to_type"), col("p_micros"))
      .localCheckpoint(eager = false)
    // the whole power iteration runs ROW-LOCALLY (r18, the [[chainFold]]
    // move): the state space is |types|-bounded (broadcast class), so
    // the r17 lazy join-chain — which still paid ~2 sequential stage
    // barriers per iteration — collapses to ONE aggregation: sorted
    // state array + index-resolved edge array, then an `iters`-step HOF
    // fold. Arithmetic is the join form's verbatim: pi'_j = Σ over
    // edges i→j of (pi_i · p) div 1e6, exact longs (order-free sums);
    // a state with no incoming edges holds 0 from step 1 on, exactly
    // the join form's dropped-then-coalesced row (a 0-valued pi
    // contributes (0·p) div 1e6 = 0 onward — identical). Init
    // 1e6 div n is the same floor the crossJoin-scalar form computed.
    val stArr = p.select(col("from_type").as("state"))
      .union(p.select(col("to_type").as("state"))).distinct()
      .agg(sort_array(collect_list(col("state"))).as("st"))
    val edArr = p.agg(collect_list(struct(col("from_type"), col("to_type"),
      col("p_micros"))).as("ed0"))
    stArr.crossJoin(edArr)
      .select(col("st"),
        expr("""transform(ed0, e -> struct(
            array_position(st, e.from_type) as fi,
            array_position(st, e.to_type) as ti,
            e.p_micros as p))""").as("edr"))
      .select(col("st"),
        expr(s"""aggregate(
            sequence(1, $iters),
            transform(st, x -> 1000000L div size(st)),
            (pi, h) -> transform(sequence(1, size(st)), j ->
              aggregate(filter(edr, e -> e.ti = j), 0L,
                (a, e) -> a + (element_at(pi, cast(e.fi as int)) * e.p)
                  div 1000000L)))""").as("pi"))
      .select(posexplode(col("st")).as(Seq("i", "state")), col("pi"))
      .select(col("state"),
        element_at(col("pi"), col("i").cast("int") + 1).as("pi_micros"))
  }

  /** SESSION MARKOV FUNNEL — [[markovStationary]]'s (q220) transition
    * machinery restricted to SESSION-LOCAL transitions (consecutive
    * events of a user ≤ `gapSeconds` apart, the q99 session gap) with
    * `convType` made ABSORBING (outgoing transitions from it are
    * dropped): per starting state, the probability of reaching
    * conversion within `steps` in-session steps and the conditional
    * expected step count — "from a search, how far is the purchase"
    * as a chain property rather than a fixed step list (the q31
    * funnel's model-based sibling).
    *
    * Recurrence (first-passage truncated at H = `steps`):
    * c_1(s) = p(s→conv); c_h(s) = p(s→conv) + Σ_{j≠conv} p(s,j)·
    * c_{h−1}(j), every term integer micros with per-term floor (the
    * q220 step contract — non-negative, Spark `div` = DuckDB `//`).
    * Truncated expected steps by Abel summation — E_H(s) =
    * Σ h·(c_h − c_{h−1}) = H·c_H − Σ_{h<H} c_h — stays EXACT longs (no
    * per-h probability differences, no floats); the conditional
    * expectation divides once: (1e6·E_H) div c_H (≤ 8e12, long-safe).
    *
    * Output: (state, conv_micros, exp_steps_cond_micros) — one row per
    * transient state with an in-session outgoing transition;
    * exp_steps_cond_micros is NULL when c_H = 0 (nothing to condition
    * on). Fixed `steps` keeps the oracle an unrolled MATERIALIZED CTE
    * chain (each step reads the previous twice — the q192 hazard).
    *
    * Scale shape: ONE user-key window (lead type + lead ts), one tiny
    * (from, to) count; the H-step loop runs on |types|-sized relations
    * (broadcast class) with per-step localCheckpoint. */
  /** The session-local absorbing-chain transition relation shared by
    * [[sessionMarkovFunnel]] and [[markovRemovalEffects]]: integer-
    * micros P(next | state) over consecutive same-user events
    * ≤ `gapSeconds` apart, with `convType`'s outgoing rows dropped
    * (absorbing). */
  private def sessionTransitions(events: DataFrame, userCol: String,
                                 tsCol: String, ordCol: String,
                                 typeCol: String, convType: String,
                                 gapSeconds: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(ordCol).asc)
    val pairs = events
      .select(col(userCol), col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"),
        (unix_timestamp(lead(col(tsCol), 1).over(w)) -
          unix_timestamp(col(tsCol))).as("gap"))
      .filter(col("to_type").isNotNull && col("gap") <= gapSeconds &&
        col("from_type") =!= convType)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"),
        expr("n * 1000000L div tot").as("p_micros"))
      .localCheckpoint(eager = false)
  }

  /** The H-step truncated first-passage recurrence over a transition
    * relation `p` (see [[sessionMarkovFunnel]] for the arithmetic
    * contract): returns (state, c, sacc) after `steps` steps, with
    * c = c_H(state) and sacc = Σ_{h<H} c_h. `exclude` drops those
    * states' OUTGOING rows before the recurrence — the Markov REMOVAL
    * operation (transitions INTO a removed state still fire but then
    * die: the inner increment join finds no c row, contributing 0; the
    * kept states' probabilities are NOT renormalized, per the removal
    * model). Empty `exclude` = the full chain. */
  private def chainConv(p: DataFrame, convType: String, steps: Int,
                        exclude: Seq[String]): DataFrame =
    chainFold(p.select(lit("").as("vtag"), col("from_type"),
        col("to_type"), col("p_micros"))
        .filter(if (exclude.isEmpty) lit(true)
          else !col("from_type").isin(exclude: _*)),
      convType, steps)
      .select(col("state"), col("c"), col("sacc"))

  /** The H-step truncated first-passage recurrence, computed ROW-LOCALLY
    * per variant (r18, guide §2.4): the state space is |types|-bounded
    * (broadcast class — the scaladocs' standing contract for this
    * family), so instead of H sequential join+agg step jobs over
    * |variants|·|types|-row relations — each a stage barrier costing far
    * more than the arithmetic it carries — the chain collapses each
    * variant to ONE row (sorted state/pconv arrays + an index-resolved
    * edge array) and folds the recurrence with higher-order functions.
    * HOFs are interpreted, but over |variants| rows × |types|²·H long
    * ops that is microseconds (the q172 BPE-fold precedent).
    *
    * The arithmetic is the JOIN FORM's, verbatim per step: c_h(s) =
    * pconv(s) + Σ_{edges s→j, j transient-known} (p·c_{h−1}(j)) div 1e6
    * and sacc_h(s) = Σ_{h'<h} c_h'(s) — all exact longs, so the Σ's
    * order is irrelevant and collect_list nondeterminism cannot leak
    * (states sort ASC; edges to a to_type that never occurs as a
    * from_type contribute nothing, exactly like the join form's dropped
    * rows — ChainFoldSpec pins fold ≡ join-form on a pseudo chain).
    * Input must carry (vtag, from_type, to_type, p_micros) with the
    * removal filters already applied; returns (vtag, state, c, sacc). */
  private[ops] def chainFold(vp: DataFrame, convType: String, steps: Int)
      : DataFrame = {
    val pc = vp.groupBy(col("vtag"), col("from_type").as("state"))
      .agg(coalesce(max(when(col("to_type") === convType,
        col("p_micros"))), lit(0L)).as("pconv"))
    val q = vp.filter(col("to_type") =!= convType)
    val sp = pc.groupBy(col("vtag"))
      .agg(sort_array(collect_list(struct(col("state"), col("pconv"))))
        .as("sp"))
    val ed = q.groupBy(col("vtag"))
      .agg(collect_list(struct(col("from_type"), col("to_type"),
        col("p_micros"))).as("ed0"))
    val folded = sp.join(ed, Seq("vtag"), "left")
      .select(col("vtag"),
        expr("transform(sp, x -> x.state)").as("st"),
        expr("transform(sp, x -> x.pconv)").as("pv"),
        expr("""filter(
            transform(
              coalesce(ed0, cast(array() as
                array<struct<from_type:string,to_type:string,p_micros:bigint>>)),
              e -> struct(
                array_position(transform(sp, x -> x.state), e.from_type) as fi,
                array_position(transform(sp, x -> x.state), e.to_type) as ti,
                e.p_micros as p)),
            e -> e.ti > 0)""").as("edr"))
      .select(col("vtag"), col("st"),
        expr(s"""aggregate(
            if($steps >= 2, sequence(2, $steps), cast(array() as array<int>)),
            named_struct('c', pv, 'sacc', transform(pv, x -> 0L)),
            (acc, h) -> named_struct(
              'c', transform(sequence(1, size(pv)), i ->
                element_at(pv, i) + aggregate(
                  filter(edr, e -> e.fi = i), 0L,
                  (a, e) -> a + (e.p * element_at(acc.c, cast(e.ti as int)))
                    div 1000000L)),
              'sacc', transform(sequence(1, size(pv)), i ->
                element_at(acc.sacc, i) + element_at(acc.c, i))))""")
          .as("r"))
    folded
      .select(col("vtag"), posexplode(col("st")).as(Seq("i", "state")),
        col("r"))
      .select(col("vtag"), col("state"),
        element_at(col("r.c"), col("i").cast("int") + 1).as("c"),
        element_at(col("r.sacc"), col("i").cast("int") + 1).as("sacc"))
  }

  /** The MULTI-VARIANT form of [[chainConv]]: every (tag, excluded
    * states) variant runs in ONE tagged dataflow — per step a single
    * join + combinable agg keyed (vtag, state) over a
    * |variants|·|types|-sized relation, instead of one jobline per
    * variant (7 variants × H steps of tiny jobs collapses to H). The
    * per-variant integer arithmetic is IDENTICAL to [[chainConv]]'s
    * (the tag only partitions the key space), so oracles mirrored
    * against the per-variant recurrence stay exact. Returns
    * (vtag, state, c) after `steps` steps. */
  private def chainConvMulti(p: DataFrame, convType: String, steps: Int,
                             variants: Seq[(String, Seq[String])])
      : DataFrame = {
    val vp = variants.map { case (tag, excl) =>
      val f = if (excl.isEmpty) p
        else p.filter(!col("from_type").isin(excl: _*))
      f.select(lit(tag).as("vtag"), col("from_type"), col("to_type"),
        col("p_micros"))
    }.reduce(_ unionByName _).localCheckpoint(eager = false)
    // the recurrence runs ROW-LOCALLY per variant ([[chainFold]], r18):
    // the r17 lazy join-chain still paid ~2 sequential stage barriers
    // per step on |variants|·|types|-row relations — the whole H-step
    // loop is now one aggregation over broadcast-class rows.
    chainFold(vp, convType, steps)
      .select(col("vtag"), col("state"), col("c"))
  }

  /** Session-weighted conversion P per variant: the q263 scoring sum
    * over [[chainConvMulti]] output — weights × variant grid so a
    * variant missing a state still counts its sessions at c = 0. */
  private def variantScores(weights: DataFrame, cc: DataFrame,
                            tags: Seq[String]): DataFrame = {
    val spark = weights.sparkSession
    import spark.implicits._
    weights.crossJoin(broadcast(tags.toDF("vtag")))
      .join(cc.select(col("vtag"), col("state"), col("c")),
        Seq("vtag", "state"), "left")
      .groupBy(col("vtag"))
      .agg(expr("sum(n * coalesce(c, 0L)) div sum(n)").as("pm"))
      .localCheckpoint(eager = false)
  }

  def sessionMarkovFunnel(events: DataFrame, userCol: String,
                          tsCol: String, ordCol: String, typeCol: String,
                          convType: String, gapSeconds: Long = 1800L,
                          steps: Int = 8): DataFrame = {
    require(steps >= 1 && gapSeconds >= 0,
      "need steps >= 1, gapSeconds >= 0")
    val p = sessionTransitions(events, userCol, tsCol, ordCol, typeCol,
      convType, gapSeconds)
    chainConv(p, convType, steps, Nil)
      .select(col("state"), col("c").as("conv_micros"),
        when(col("c") > 0,
          expr(s"(1000000L * ($steps * c - sacc)) div c"))
          .as("exp_steps_cond_micros"))
  }

  /** ORDER-2 session Markov funnel — [[sessionMarkovFunnel]] with
    * BIGRAM states: the chain state is the last TWO event types
    * ("a>b"), so the conversion read conditions on the immediate
    * history ("a view after a click" vs "a view after an error" can
    * carry very different conversion odds — exactly what an order-1
    * chain averages away). Transitions run over in-session triples
    * a→b→c (both gaps ≤ `gapSeconds`): state "a>b" steps to "b>c", or
    * to the absorbing `convType` when c converts; states whose second
    * element is the conversion are absorbing (their outgoing rows are
    * dropped — the q257 contract lifted one order up, with the
    * absorbing state ENCODED under the plain `convType` name so the
    * H-step recurrence is [[chainConv]] verbatim).
    *
    * Same integer contract as q257 (floored transition micros, exact
    * step recurrence, Abel-summed conditional expectation); the state
    * space is ≤ |types|² + 1 — still broadcast-class. Output:
    * (state "a>b", conv_micros, exp_steps_cond_micros). */
  def sessionMarkovFunnel2(events: DataFrame, userCol: String,
                           tsCol: String, ordCol: String,
                           typeCol: String, convType: String,
                           gapSeconds: Long = 1800L, steps: Int = 8)
      : DataFrame = {
    require(steps >= 1 && gapSeconds >= 0,
      "need steps >= 1, gapSeconds >= 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(ordCol).asc)
    val triples = events
      .select(col(typeCol).as("t0"),
        lead(col(typeCol), 1).over(w).as("t1"),
        lead(col(typeCol), 2).over(w).as("t2"),
        (unix_timestamp(lead(col(tsCol), 1).over(w)) -
          unix_timestamp(col(tsCol))).as("g1"),
        (unix_timestamp(lead(col(tsCol), 2).over(w)) -
          unix_timestamp(lead(col(tsCol), 1).over(w))).as("g2"))
      .filter(col("t1").isNotNull && col("t2").isNotNull &&
        col("g1") <= gapSeconds && col("g2") <= gapSeconds &&
        col("t1") =!= convType)
      .select(concat(col("t0"), lit(">"), col("t1")).as("from_type"),
        when(col("t2") === convType, lit(convType))
          .otherwise(concat(col("t1"), lit(">"), col("t2")))
          .as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = triples.groupBy(col("from_type"))
      .agg(sum(col("n")).as("tot"))
    val p = triples.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"),
        expr("n * 1000000L div tot").as("p_micros"))
      .localCheckpoint(eager = false)
    chainConv(p, convType, steps, Nil)
      .select(col("state"), col("c").as("conv_micros"),
        when(col("c") > 0,
          expr(s"(1000000L * ($steps * c - sacc)) div c"))
          .as("exp_steps_cond_micros"))
  }

  /** Shapley coalition weight in micros: round(1e6 · s!(n−1−s)!/n!) —
    * shared with the oracle as build-time constants (q165 idiom). */
  private[graft] def shapleyWeightMicros(n: Int, s: Int): Long = {
    def fact(x: Int): Double = (1 to x).map(_.toDouble).product
    math.round(1e6 * fact(s) * fact(n - 1 - s) / fact(n))
  }

  /** The (channel, with-coalition, without-coalition, weight) spine
    * [[shapleyAttribution]] joins the coalition values against —
    * enumerated at BUILD time from the fixed channel list, so the
    * oracle embeds the identical rows as VALUES. Coalition keys are
    * sorted comma-joined channel names ('' = the empty coalition). */
  private[graft] def shapleySpine(channels: Seq[String])
      : Seq[(String, String, String, Long)] = {
    val n = channels.size
    def subsets(xs: Seq[String]): Seq[Seq[String]] =
      xs.foldLeft(Seq(Seq.empty[String]))((acc, x) =>
        acc ++ acc.map(_ :+ x))
    for {
      ch <- channels
      sub <- subsets(channels.filterNot(_ == ch))
    } yield (ch, (sub :+ ch).sorted.mkString(","),
      sub.sorted.mkString(","), shapleyWeightMicros(n, sub.size))
  }

  /** SHAPLEY CHANNEL ATTRIBUTION (Shapley 1953; the order-free
    * marketing form) — each channel's credit is its average marginal
    * contribution to session conversion over every coalition it could
    * join: φ_i = Σ_{S ∌ i} w(|S|)·(v(S∪{i}) − v(S)) with
    * w(s) = s!(n−1−s)!/n!. The coalition value v(S) is ESTIMATED FROM
    * THE DATA as the conversion rate of gap-sessions whose distinct
    * channel set is exactly S (integer micros; unseen coalitions
    * contribute v = 0 — the standard simplified-Shapley estimator,
    * the axiomatic sibling of q263's removal effects: removal asks
    * "what if the channel vanished", Shapley asks "what is its fair
    * share of the lift over every arrival order").
    *
    * Determinism: v = (1e6·conversions) div sessions per coalition
    * (non-negative `div`); weights are build-time constants; φ is
    * reported as TWO independently-floored non-negative sums
    * (gain = Σ w·v(S∪i) div 1e6, loss = Σ w·v(S) div 1e6,
    * φ = gain − loss) — the q238 signed-division-avoidance idiom, so
    * no sign mirroring exists anywhere. Coalition keys are sorted
    * comma-joined channel names; the n ≤ 8 bound keeps the 2^(n−1)·n
    * spine build-time-enumerable (and v(S) estimable at all).
    *
    * Scale shape: one session window + one per-session distinct-set
    * agg + one ≤ 2^n-row coalition table; the Shapley sum is a
    * 32-row broadcast spine joined twice against it. Output:
    * (channel, gain_micros, loss_micros, phi_micros). */
  /** Gap-session ids shared by [[shapleyAttribution]] and
    * [[positionalAttribution]]: (userCol, typeCol, __ts, __ord, sid)
    * with sid the running count of >`gapSeconds` breaks per user. */
  private def gapSessionIds(events: DataFrame, userCol: String,
                            tsCol: String, ordCol: String,
                            typeCol: String, gapSeconds: Long)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(ordCol).asc)
    val brk = events.select(col(userCol), col(typeCol),
        col(tsCol).as("__ts"), col(ordCol).as("__ord"),
        when(lag(col(tsCol), 1).over(w).isNull ||
          unix_timestamp(col(tsCol)) -
            unix_timestamp(lag(col(tsCol), 1).over(w)) > gapSeconds,
          1L).otherwise(0L).as("brk"))
    brk.withColumn("sid", sum(col("brk")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col(userCol))
        .orderBy(col("__ts").asc, col("__ord").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
  }

  def shapleyAttribution(events: DataFrame, userCol: String,
                         tsCol: String, ordCol: String, typeCol: String,
                         convType: String, channels: Seq[String],
                         gapSeconds: Long = 1800L): DataFrame = {
    require(channels.nonEmpty && channels.size <= 8 &&
      !channels.contains(convType),
      "need 1..8 channels, conversion excluded")
    val spark = events.sparkSession
    import spark.implicits._
    val sess = gapSessionIds(events, userCol, tsCol, ordCol, typeCol,
      gapSeconds)
    val per = sess.groupBy(col(userCol), col("sid"))
      .agg(concat_ws(",", array_sort(collect_set(
          when(col(typeCol).isin(channels: _*), col(typeCol)))))
        .as("coal"),
        max((col(typeCol) === convType).cast("long")).as("conv"))
    val coalV = per.groupBy(col("coal"))
      .agg(count(lit(1)).as("ns"), sum(col("conv")).as("nc"))
      .select(col("coal"), expr("(1000000L * nc) div ns").as("v"))
      .localCheckpoint(eager = false)
    val spine = shapleySpine(channels)
      .toDF("channel", "with_coal", "without_coal", "w_micros")
    spine
      .join(coalV.select(col("coal").as("with_coal"),
        col("v").as("vw")), Seq("with_coal"), "left")
      .join(coalV.select(col("coal").as("without_coal"),
        col("v").as("vo")), Seq("without_coal"), "left")
      .groupBy(col("channel"))
      .agg(expr("sum(w_micros * coalesce(vw, 0L)) div 1000000L")
          .as("gain_micros"),
        expr("sum(w_micros * coalesce(vo, 0L)) div 1000000L")
          .as("loss_micros"))
      .select(col("channel"), col("gain_micros"), col("loss_micros"),
        (col("gain_micros") - col("loss_micros")).as("phi_micros"))
  }

  /** ORDERED (positional) path attribution — the arrival-order-aware
    * sibling of [[shapleyAttribution]] (which is order-FREE by
    * construction): each channel's credit is its average marginal
    * contribution AT THE POSITION IT ACTUALLY ARRIVED, over the
    * observed path prefixes. Per gap-session, the path is the sequence
    * of FIRST occurrences of each channel (distinct, arrival order,
    * truncated at `maxLen`); the prefix value v(p) is estimated from
    * the data as the conversion rate of sessions whose path STARTS
    * WITH p (v('') = the overall session conversion rate); channel c
    * at position j of a path earns marginal v(p[1..j]) − v(p[1..j−1]).
    * Credits answer "what did adding this channel AT THIS POINT in the
    * journey change", which order-free Shapley cannot see (a closer
    * channel that only ever arrives after a strong opener earns ~0
    * here but splits credit evenly there).
    *
    * Determinism: v = (1e6·conv) div sessions per prefix (non-negative
    * `div`); per channel the report is TWO independently-floored
    * non-negative sums-of-v divided by the observation count
    * (gain = Σ v(with) div n_obs, loss = Σ v(without) div n_obs,
    * φ = gain − loss) — the q238/q264 signed-division-avoidance idiom.
    * Every credit row's with/without prefix exists in the value
    * relation by construction (the session itself contributed its own
    * prefixes), so the joins are inner.
    *
    * Scale shape: one session window, one first-occurrence window, one
    * ≤ maxLen+1-per-session prefix explode into a combinable agg; the
    * two value joins are hash equi-joins on the prefix key (the prefix
    * relation scales with the corpus — NOT broadcast). `maxLen` bounds
    * the explode exactly as q248's horizon spine bounds its fan-out.
    *
    * Output: (channel, n_obs, gain_micros, loss_micros, phi_micros). */
  def positionalAttribution(events: DataFrame, userCol: String,
                            tsCol: String, ordCol: String,
                            typeCol: String, convType: String,
                            channels: Seq[String],
                            gapSeconds: Long = 1800L, maxLen: Int = 4)
      : DataFrame = {
    require(channels.nonEmpty && !channels.contains(convType) &&
      maxLen >= 1, "need channels (conversion excluded), maxLen >= 1")
    val sess = gapSessionIds(events, userCol, tsCol, ordCol, typeCol,
      gapSeconds)
    val conv = sess.groupBy(col(userCol), col("sid"))
      .agg(max((col(typeCol) === convType).cast("long")).as("conv"))
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol), col("sid"), col(typeCol))
      .orderBy(col("__ts").asc, col("__ord").asc)
    val paths = sess.filter(col(typeCol).isin(channels: _*))
      .withColumn("__rn", row_number().over(wFirst))
      .filter(col("__rn") === 1)
      .groupBy(col(userCol), col("sid"))
      .agg(slice(transform(array_sort(collect_list(
          struct(col("__ts"), col("__ord"), col(typeCol).as("ch")))),
        x => x.getField("ch")), 1, maxLen).as("path"))
    val withPath = conv.join(paths, Seq(userCol, "sid"), "left")
      .select(col("conv"),
        coalesce(col("path"), array().cast("array<string>")).as("path"))
      .localCheckpoint(eager = false)
    val v = withPath
      .select(col("conv"), explode(transform(
        sequence(lit(0), size(col("path"))),
        j => array_join(slice(col("path"), lit(1), j), ","))).as("prefix"))
      .groupBy(col("prefix"))
      .agg(expr("(1000000L * sum(conv)) div count(1)").as("v"))
      .localCheckpoint(eager = false)
    val credits = withPath
      .select(posexplode(col("path")).as(Seq("pos", "channel")),
        col("path"))
      .select(col("channel"),
        array_join(slice(col("path"), lit(1), col("pos") + 1), ",")
          .as("wk"),
        array_join(slice(col("path"), lit(1), col("pos")), ",")
          .as("wo"))
    credits
      .join(v.select(col("prefix").as("wk"), col("v").as("vw")),
        Seq("wk"))
      .join(v.select(col("prefix").as("wo"), col("v").as("vo")),
        Seq("wo"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_obs"),
        expr("sum(vw) div count(1)").as("gain_micros"),
        expr("sum(vo) div count(1)").as("loss_micros"))
      .select(col("channel"), col("n_obs"), col("gain_micros"),
        col("loss_micros"),
        (col("gain_micros") - col("loss_micros")).as("phi_micros"))
  }

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014) — the
    * data-driven channel-credit model beside last-touch: a state's
    * credit is how much of the chain's overall conversion DISAPPEARS
    * when the state is removed (its outgoing transitions dropped;
    * paths reaching it die; nothing renormalized). Runs
    * [[sessionMarkovFunnel]]'s truncated chain once in full and once
    * per `removeStates` entry, scoring each run as the session-
    * weighted conversion probability P = Σ_init n(init)·c_H(init) div
    * N over SESSION-INITIAL states (first event of each gap-session;
    * an initial state outside the chain's transient set — e.g. a
    * conversion-initial session — contributes c = 0: the chain models
    * conversion AFTER arrival). removal_effect = (1e6·(P − P_−s)) div
    * P; removal only deletes paths, so P_−s ≤ P and the effect is in
    * [0, 1e6] — non-negative `div` both engines.
    *
    * `removeStates` is an explicit list (the q31 hardcoded-steps
    * convention) so the oracle unrolls one CTE family per variant.
    *
    * Scale shape: ONE pair window + one transition table shared by
    * every variant; each variant is the |types|-sized H-step loop.
    * Output: (state, p_full_micros, p_removed_micros,
    * removal_effect_micros). */
  def markovRemovalEffects(events: DataFrame, userCol: String,
                           tsCol: String, ordCol: String, typeCol: String,
                           convType: String, removeStates: Seq[String],
                           gapSeconds: Long = 1800L, steps: Int = 8)
      : DataFrame = {
    require(removeStates.nonEmpty && steps >= 1 && gapSeconds >= 0,
      "need removeStates nonempty, steps >= 1, gapSeconds >= 0")
    val spark = events.sparkSession
    import spark.implicits._
    val p = sessionTransitions(events, userCol, tsCol, ordCol, typeCol,
      convType, gapSeconds)
    val weights = sessionInitialWeights(events, userCol, tsCol, ordCol,
      typeCol, gapSeconds)
    val variants = ("full", Seq.empty[String]) +:
      removeStates.map(s => s"s:$s" -> Seq(s))
    val pms = variantScores(weights,
      chainConvMulti(p, convType, steps, variants), variants.map(_._1))
    val full = pms.filter(col("vtag") === "full")
      .select(col("pm").as("p_full_micros"))
    removeStates.toDF("state")
      .join(broadcast(pms.filter(col("vtag") =!= "full")
        .select(regexp_replace(col("vtag"), "^s:", "").as("state"),
          col("pm").as("p_removed_micros"))), Seq("state"))
      .crossJoin(broadcast(full))
      .select(col("state"), col("p_full_micros"),
        col("p_removed_micros"),
        when(col("p_full_micros") > 0,
          expr("(1000000L * (p_full_micros - p_removed_micros))" +
            " div p_full_micros")).as("removal_effect_micros"))
  }

  /** Session-initial state counts (first event of each gap-session) —
    * the session weighting shared by [[markovRemovalEffects]] and
    * [[markovPairRemovalEffects]]. */
  private def sessionInitialWeights(events: DataFrame, userCol: String,
                                    tsCol: String, ordCol: String,
                                    typeCol: String, gapSeconds: Long)
      : DataFrame = {
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(ordCol).asc)
    events
      .select(col(typeCol).as("state"),
        (unix_timestamp(col(tsCol)) -
          unix_timestamp(lag(col(tsCol), 1).over(wdw))).as("gap"))
      .filter(col("gap").isNull || col("gap") > gapSeconds)
      .groupBy(col("state")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
  }

  /** PAIRWISE Markov removal effects — [[markovRemovalEffects]] run on
    * state PAIRS to read channel INTERACTION: for each (a, b) the chain
    * runs once with BOTH states' outgoing transitions dropped, and the
    * joint effect is compared against the sum of the two single
    * removals. synergy = effect(a,b) − (effect(a) + effect(b)):
    * NEGATIVE means the channels are SUBSTITUTES (their paths overlap —
    * removing the second costs less once the first is gone; the single
    * effects double-count shared paths), POSITIVE means COMPLEMENTS
    * (paths that need both — e.g. a → b → conversion chains — die once
    * under the joint removal but are invisible to each single removal
    * alone... more precisely each single removal already kills a
    * shared a→b path, so overlap usually reads negative; a positive
    * residual flags mass REROUTED through the partner under single
    * removal).
    *
    * Determinism: every P is the q263 session-weighted conversion sum
    * (non-negative `div`); pair/single effects are the q263 ratio
    * (removal only deletes paths ⇒ P_removed ≤ P_full, so every
    * division is non-negative); synergy is a SIGNED SUBTRACTION of two
    * already-floored micros values — no signed division anywhere.
    *
    * Scale shape: ONE transition table + ONE weights table, and ALL
    * 1 + |states| + |pairs| variants run in ONE tagged dataflow
    * ([[chainConvMulti]]) — per step a single join + combinable agg
    * keyed (variant, state) over a |variants|·|types|-sized relation,
    * NOT one jobline per variant; the whole card is H step-jobs
    * regardless of how many pairs are asked for. `steps` defaults to 6
    * (vs q263's 8); the interaction read is insensitive to H once the
    * chain has mixed.
    *
    * Output: (state_a, state_b, p_full_micros, p_pair_micros,
    * pair_effect_micros, single_sum_micros, synergy_micros). */
  def markovPairRemovalEffects(events: DataFrame, userCol: String,
                               tsCol: String, ordCol: String,
                               typeCol: String, convType: String,
                               removePairs: Seq[(String, String)],
                               gapSeconds: Long = 1800L, steps: Int = 6)
      : DataFrame = {
    require(removePairs.nonEmpty && steps >= 1 && gapSeconds >= 0 &&
      removePairs.forall { case (a, b) => a != b },
      "need nonempty pairs of distinct states, steps >= 1, gap >= 0")
    val spark = events.sparkSession
    import spark.implicits._
    val p = sessionTransitions(events, userCol, tsCol, ordCol, typeCol,
      convType, gapSeconds)
    val weights = sessionInitialWeights(events, userCol, tsCol, ordCol,
      typeCol, gapSeconds)
    val singles = removePairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val variants = (("full", Seq.empty[String]) +:
      singles.map(s => s"s:$s" -> Seq(s))) ++
      removePairs.zipWithIndex.map { case ((a, b), i) =>
        s"p:$i" -> Seq(a, b)
      }
    val pms = variantScores(weights,
      chainConvMulti(p, convType, steps, variants), variants.map(_._1))
    val full = pms.filter(col("vtag") === "full")
      .select(col("pm").as("p_full_micros"))
    val spine = removePairs.zipWithIndex
      .map { case ((a, b), i) => (a, b, s"p:$i", s"s:$a", s"s:$b") }
      .toDF("state_a", "state_b", "tp", "ta", "tb")
    spine
      .join(broadcast(pms.select(col("vtag").as("tp"),
        col("pm").as("p_pair_micros"))), Seq("tp"))
      .join(broadcast(pms.select(col("vtag").as("ta"),
        col("pm").as("pa"))), Seq("ta"))
      .join(broadcast(pms.select(col("vtag").as("tb"),
        col("pm").as("pb"))), Seq("tb"))
      .crossJoin(broadcast(full))
      .select(col("state_a"), col("state_b"), col("p_full_micros"),
        col("p_pair_micros"),
        when(col("p_full_micros") > 0,
          expr("(1000000L * (p_full_micros - p_pair_micros))" +
            " div p_full_micros")).as("pair_effect_micros"),
        when(col("p_full_micros") > 0,
          expr("(1000000L * (p_full_micros - pa)) div p_full_micros" +
            " + (1000000L * (p_full_micros - pb)) div p_full_micros"))
          .as("single_sum_micros"))
      .withColumn("synergy_micros",
        col("pair_effect_micros") - col("single_sum_micros"))
  }

  /** KAPLAN–MEIER survival curve (Kaplan & Meier 1958) over the event
    * log — the churn/conversion-lag statistic retention dashboards are
    * built on: time-to-`eventType` from each user's first `startType`,
    * with users who never convert CENSORED at the corpus horizon (the
    * estimator's whole point — dropping them would bias survival down).
    * Output: one row per distinct duration day,
    * (duration_days, n_risk, n_events, surv) with
    * `surv = Π_{d' ≤ d} (1 − events(d')/risk(d'))`.
    *
    * Determinism: durations are integer day counts (truncating division
    * of exact epoch seconds); n_risk/n_events are exact counts; the
    * product runs as exp(Σ ln(1 − e/n)) over an ORDERED cumulative
    * frame (both engines accumulate in frame order), each term one ln
    * of an integer-derived double — round(·,4) absorbs the ulp (the
    * q85 ln-chain precedent). A risk set fully consumed by events
    * (e = n, only possible at the last duration) short-circuits to
    * surv = 0 rather than routing a −∞ through exp.
    *
    * Scale shape: two combinable per-user aggregations + one broadcast
    * horizon; only the DISTINCT-DURATION table (≤ observation window in
    * days — tiny by construction) goes through the single-partition
    * ordered window (the q61 bucket-total precedent).
    *
    * TIMEZONE CONTRACT: the day-duration division assumes a fixed-offset
    * session timezone (`spark.sql.session.timeZone=UTC`, as the
    * deterministic-oracle pipeline pins). In a DST timezone a day
    * spanning a transition is 86400±3600 s of epoch time and the
    * truncating division mis-buckets the duration by one. */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, startType: String,
                  eventType: String): DataFrame =
    kmSteps(events, userCol, tsCol, typeCol, startType, eventType)
      .withColumn("surv",
        when(col("e_at") === col("n_risk"), lit(0.0))
          .otherwise(round(exp(sum(col("__lt")).over(
            Window.orderBy(col("d").asc).rowsBetween(
              Window.unboundedPreceding, Window.currentRow))), 4)))
      .select(col("d").as("duration_days"), col("n_risk"),
        col("e_at").as("n_events"), col("surv"))

  /** KAPLAN–MEIER with GREENWOOD confidence bands (Greenwood 1926) —
    * q120's survival curve plus the uncertainty a reader needs before
    * acting on it: Var(S_t) = S_t² · Σ_{d≤t} e_d / (n_d·(n_d − e_d)),
    * se = S·√Σ, plain-scale 95% bands clamped to [0, 1]. Completes the
    * survival family's estimate/uncertainty pair (the q229 CI beside
    * the q227 point estimate, for time-to-event).
    *
    * Determinism: the build is q120's exactly (integer risk sets, the
    * ordered-window ln/exp chain); the Greenwood term e/(n·(n−e)) is
    * one more mirrored double expression per DAY row summed over the
    * same ordered window (sequential order identical on both engines —
    * the q120 precedent), z = 1.959964 as an identical literal (q253).
    * At a saturated day (e = n) the variance is undefined — se and the
    * bands are NULL there, never a fabricated 0 (surv itself stays
    * q120's 0.0). All outputs round-4; everything is non-negative
    * post-clamp, so no signed-zero exposure.
    *
    * Scale shape: identical to q120 — per-user min-aggs, one duration
    * rollup, windows over DAY rows. */
  def kaplanMeierCi(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, startType: String,
                    eventType: String): DataFrame = {
    val wPrev = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = lit(1.959964)
    val c = kmSteps(events, userCol, tsCol, typeCol, startType, eventType)
      .withColumn("__gt",
        when(col("e_at") < col("n_risk"),
          col("e_at").cast("double") /
            (col("n_risk").cast("double") * (col("n_risk") - col("e_at")))))
      .withColumn("__sraw",
        when(col("e_at") === col("n_risk"), lit(0.0))
          .otherwise(exp(sum(col("__lt")).over(wPrev))))
      .withColumn("__gw", sum(col("__gt")).over(wPrev))
    val seRaw = col("__sraw") * sqrt(col("__gw"))
    c.select(col("d").as("duration_days"), col("n_risk"),
      col("e_at").as("n_events"),
      round(col("__sraw"), 4).as("surv"),
      when(col("e_at") < col("n_risk"), round(seRaw, 4)).as("se"),
      when(col("e_at") < col("n_risk"),
        round(greatest(lit(0.0), col("__sraw") - z * seRaw), 4))
        .as("ci_lo"),
      when(col("e_at") < col("n_risk"),
        round(least(lit(1.0), col("__sraw") + z * seRaw), 4))
        .as("ci_hi"))
  }

  /** MEDIAN SURVIVAL TIME with the BROOKMEYER–CROWLEY confidence
    * interval (Brookmeyer & Crowley 1982) — the one-number answer
    * "when has HALF the cohort converted/churned", read directly off
    * the KM curve: median = the first day with S ≤ 0.5, and the 95%
    * interval inverts the Greenwood band test — its lower end is the
    * first day the LOWER band reaches 0.5 (earliest plausibly-median
    * day), its upper end the first day the UPPER band drops to 0.5.
    * Any of the three is NULL when the curve (or band) never reaches
    * 0.5 — the honest heavy-censoring readout (that's when [[rmst]]
    * is the right scalar instead). Output ONE row: (n_starts,
    * n_events, median_day, median_surv, ci_lo_day, ci_hi_day).
    *
    * Determinism: all threshold comparisons run on the ROUND-4 curve
    * and band columns of [[kaplanMeierCi]] (4-dp doubles are
    * bit-identical across engines, so a boundary can never flip — the
    * raw exp-chain could differ by an ulp exactly at 0.5); day picks
    * are exact integer mins; the saturated last day (NULL bands,
    * surv = 0) counts against both bands via its curve value — S = 0
    * is below 0.5 with certainty, not unknown.
    *
    * Scale shape: q262's exactly, plus one 1-row combinable agg. */
  def kmMedian(events: DataFrame, userCol: String, tsCol: String,
               typeCol: String, startType: String,
               eventType: String): DataFrame =
    kaplanMeierCi(events, userCol, tsCol, typeCol, startType, eventType)
      .agg(
        max(col("n_risk")).as("n_starts"),
        sum(col("n_events")).as("n_events"),
        min(when(col("surv") <= 0.5,
          struct(col("duration_days"), col("surv")))).as("__m"),
        min(when(coalesce(col("ci_lo"), col("surv")) <= 0.5,
          col("duration_days"))).as("ci_lo_day"),
        min(when(coalesce(col("ci_hi"), col("surv")) <= 0.5,
          col("duration_days"))).as("ci_hi_day"))
      .select(col("n_starts"), col("n_events"),
        col("__m.duration_days").as("median_day"),
        col("__m.surv").as("median_surv"),
        col("ci_lo_day"), col("ci_hi_day"))

  /** RESTRICTED MEAN SURVIVAL TIME (Irwin 1949; the τ-truncated area
    * under the KM curve) — the survival family's SCALAR summary when
    * the median never resolves (heavy censoring) and hazard ratios are
    * non-proportional: RMST(τ) = ∫₀^τ S(t)dt, "expected days survived
    * out of the first τ". Reported beside the curve (q120) and its
    * bands (q262), it is the number a product decision actually
    * consumes ("mean purchase-free days in the first 30").
    *
    * The KM curve is a step function changing only at event/censor
    * days, so the integral is exact over the day grid: with knots
    * d_1 < … < d_m and S_0 = 1 at d_0 = 0,
    * RMST = Σ_i S_{i−1}·(min(d_i, τ) − min(d_{i−1}, τ))
    *      + S_m·max(0, τ − min(d_m, τ)).
    * Determinism: S is q120's exact ln/exp ordered chain; each term is
    * one mirrored double product with INTEGER day widths; the body
    * accumulates over the ORDERED day window (the q262 sequential-sum
    * contract — a plain double-sum aggregate would be partition-order-
    * dependent) and the final row is picked by max_by on the unique
    * day key. Output: ONE row (tau_days, n_starts, rmst_days round-4).
    *
    * Scale shape: identical to q120 (per-user min-aggs, one duration
    * rollup, day windows) plus a 1-row final aggregate. */
  def rmst(events: DataFrame, userCol: String, tsCol: String,
           typeCol: String, startType: String, eventType: String,
           tauDays: Int): DataFrame = {
    require(tauDays >= 1, "need tauDays >= 1")
    val w = Window.orderBy(col("d").asc)
    val wIncl = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tau = lit(tauDays.toLong)
    val c = kmSteps(events, userCol, tsCol, typeCol, startType, eventType)
      .withColumn("surv",
        when(col("e_at") === col("n_risk"), lit(0.0))
          .otherwise(exp(sum(col("__lt")).over(wIncl))))
      .withColumn("__dprev",
        coalesce(lag(col("d"), 1).over(w), lit(0L)))
      .withColumn("__sprev",
        coalesce(lag(col("surv"), 1).over(w), lit(1.0)))
      .withColumn("__term",
        col("__sprev") *
          (least(col("d"), tau) - least(col("__dprev"), tau))
            .cast("double"))
      // the body integral accumulates over the ORDERED day window (a
      // plain double-sum agg would be partition-order-dependent)
      .withColumn("__cum", sum(col("__term")).over(wIncl))
    c.agg(max_by(col("__cum"), col("d")).as("__body"),
        max_by(col("surv"), col("d")).as("__slast"),
        least(max(col("d")), tau).as("__dlast"),
        sum(col("n_at")).as("n_starts"))
      .select(lit(tauDays.toLong).as("tau_days"), col("n_starts"),
        round(col("__body") +
          col("__slast") * (tau - col("__dlast")).cast("double"), 4)
          .as("rmst_days"))
  }

  /** RMST DIFFERENCE between parity cohorts with a delete-one-block
    * JACKKNIFE CI (Irwin 1949 RMST; Quenouille 1956 / Tukey jackknife;
    * grouped deletion per Shao & Tu 1995 §5) — the estimand actually
    * reported when hazard curves CROSS and a hazard ratio is
    * uninterpretable: Δ = RMST_A(τ) − RMST_B(τ), "extra event-free
    * days in the first τ", with an uncertainty band. Cohorts are the
    * q198/q294 parity arms (odd userCol = A); each arm runs q269's
    * exact KM/RMST chain over its own duration-day ladder.
    *
    * The CI is a DELETE-ONE-DURATION-DAY jackknife (q237's
    * leave-one-day-out idiom on the survival ladder): block j removes
    * duration-day j's subjects from BOTH arms (risk sets, events, and
    * the knot), Δ₍ⱼ₎ is recomputed on the filtered ladders, and
    * Var = (D−1)/D · Σ(Δ₍ⱼ₎ − Δ̄)² over the D observed duration days;
    * CI = Δ̂ ± 1.959964·se (the q253 z literal). A block whose removal
    * empties an arm's ladder yields a NULL Δ₍ⱼ₎ and is dropped from
    * the variance (degenerate block, documented not hidden).
    *
    * Determinism: each Δ₍ⱼ₎ is two q269 round-4 RMSTs converted to
    * EXACT integer micros (a round-4 double times 1e6 rounds to the
    * same integer on both engines — the q243 micros contract), so the
    * variance moments are exact long/decimal(38,0) sums immune to
    * float order; the final se/CI is ONE mirrored double expression
    * off those exact moments. Output: ONE row (tau_days, n_a, n_b,
    * rmst_a, rmst_b, diff_days, n_blocks, se_days, ci_lo, ci_hi).
    *
    * Scale shape: the corpus collapses to the per-(arm, day) rollup
    * first (one combinable agg — the only event-scale pass); the
    * jackknife fan-out is ladder×days, quadratic ONLY in the
    * CALENDAR-BOUNDED duration-day ladder (q237's class: |days| is
    * bounded by the observation span, never by corpus row count), as
    * a broadcast non-equi join; windows ride (j, arm) partitions. */
  def rmstDiff(events: DataFrame, userCol: String, tsCol: String,
               typeCol: String, startType: String, eventType: String,
               tauDays: Int): DataFrame = {
    require(tauDays >= 1, "need tauDays >= 1")
    val byD = survivalDurations(events, userCol, tsCol, typeCol,
      startType, eventType, keep = Seq((col(userCol) % 2 === 1).as("arm")))
      .groupBy(col("arm"), col("d"))
      .agg(count(lit(1)).as("n_at"), sum(col("obs")).as("e_at"))
      .localCheckpoint(eager = false)
    // jackknife blocks = every observed duration day; the -1 sentinel
    // block excludes nothing = the full-sample estimate, so ONE chain
    // computes the point estimate and every leave-one-out replicate
    val days = byD.select(col("d").as("j")).distinct()
      .unionByName(byD.select(lit(-1L).as("j")).distinct())
    val lad = byD.join(broadcast(days), col("d") =!= col("j"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("j"), col("arm")).orderBy(col("d").asc)
    val wIncl = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val wSuf = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.currentRow,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val tau = lit(tauDays.toLong)
    val c = lad
      .withColumn("n_risk", sum(col("n_at")).over(wSuf))
      .withColumn("__lt",
        when(col("e_at") < col("n_risk"),
          log(lit(1.0) - col("e_at").cast("double") / col("n_risk"))))
      .withColumn("surv",
        when(col("e_at") === col("n_risk"), lit(0.0))
          .otherwise(exp(sum(col("__lt")).over(wIncl))))
      .withColumn("__dprev", coalesce(lag(col("d"), 1).over(w), lit(0L)))
      .withColumn("__sprev",
        coalesce(lag(col("surv"), 1).over(w), lit(1.0)))
      .withColumn("__term",
        col("__sprev") *
          (least(col("d"), tau) - least(col("__dprev"), tau))
            .cast("double"))
      .withColumn("__cum", sum(col("__term")).over(wIncl))
    val per = c.groupBy(col("j"), col("arm"))
      .agg(max_by(col("__cum"), col("d")).as("__body"),
        max_by(col("surv"), col("d")).as("__slast"),
        least(max(col("d")), tau).as("__dlast"),
        sum(col("n_at")).as("n"))
      .select(col("j"), col("arm"), col("n"),
        round(col("__body") +
          col("__slast") * (tau - col("__dlast")).cast("double"), 4)
          .as("rmst"))
    val piv = per.groupBy(col("j"))
      .agg(max(when(col("arm"), col("rmst"))).as("ra"),
        max(when(!col("arm"), col("rmst"))).as("rb"),
        max(when(col("arm"), col("n"))).as("na"),
        max(when(!col("arm"), col("n"))).as("nb"))
      .withColumn("t_micros",
        expr("cast(round(ra * 1000000.0) as bigint)" +
          " - cast(round(rb * 1000000.0) as bigint)"))
    val jk = piv.filter(col("j") =!= -1L && col("t_micros").isNotNull)
      .agg(count(lit(1)).as("dd"),
        sum(col("t_micros")).as("st"),
        sum(col("t_micros").cast("decimal(38,0)") * col("t_micros"))
          .as("stt"))
    val seRaw = sqrt((col("dd") - 1).cast("double") *
      expr("cast(cast(dd as decimal(38,0)) * stt" +
        " - cast(st as decimal(38,0)) * st as double)") /
      (col("dd") * col("dd")).cast("double")) / lit(1000000.0)
    val diffRaw = col("t_micros").cast("double") / lit(1000000.0)
    val z = lit(1.959964)
    piv.filter(col("j") === -1L)
      .join(broadcast(jk), lit(true))
      .select(lit(tauDays.toLong).as("tau_days"),
        col("na").as("n_a"), col("nb").as("n_b"),
        col("ra").as("rmst_a"), col("rb").as("rmst_b"),
        (round(diffRaw, 4) + lit(0.0)).as("diff_days"),
        col("dd").as("n_blocks"),
        when(col("dd") >= 2, round(seRaw, 4)).as("se_days"),
        when(col("dd") >= 2, round(diffRaw - z * seRaw, 4) + lit(0.0))
          .as("ci_lo"),
        when(col("dd") >= 2, round(diffRaw + z * seRaw, 4) + lit(0.0))
          .as("ci_hi"))
  }

  /** WEIBULL PROBABILITY-PLOT FIT over the KM curve (Weibull 1951;
    * the plotting-position regression every reliability textbook opens
    * with, here with the Kaplan–Meier estimate supplying the censoring-
    * aware plotting positions) — the PARAMETRIC complement to the
    * empirical survival family (q120/q262/q269): under
    * S(t) = exp(−(t/λ)^k), {{{ ln(−ln S(t)) = k·ln t − k·ln λ }}}
    * is a line, so an OLS of y = ln(−ln S_d) on x = ln d over the KM
    * day knots (d ≥ 1, 0 < S < 1 — the transform's domain) reads off
    * shape k̂ (slope), scale λ̂ = exp(−intercept/k̂), the implied
    * median λ̂·(ln 2)^(1/k̂), and the plot's r² ("is it even Weibull" —
    * a low r² says don't extrapolate). This is the number a capacity /
    * retention plan consumes when it must extrapolate BEYOND follow-up,
    * where KM/RMST stop.
    *
    * Determinism: S is q120's exact ln/exp ordered chain (UNROUNDED,
    * the q269 contract); x, y, xy, x², y² accumulate over the ORDERED
    * day window (the q262 sequential-sum discipline — a plain
    * double-sum agg would be partition-order-dependent) and the final
    * row is picked by max_by on the unique day key; the closed-form
    * tail is ONE mirrored double expression. A fit needs ≥ 2 usable
    * points and positive x/y variance; a non-positive slope (hazard
    * DECREASING faster than Weibull allows... the transform still
    * fits a line, but λ is undefined) yields NULL scale/median while
    * shape and r² still report. All outputs round-4 signed-zero.
    *
    * Scale shape: identical to q120 (per-user min-aggs, one duration
    * rollup, day windows) — the fit itself is O(|days|) window rows
    * and a 1-row aggregate. */
  def weibullFit(events: DataFrame, userCol: String, tsCol: String,
                 typeCol: String, startType: String, eventType: String)
      : DataFrame = {
    val wIncl = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val km = kmSteps(events, userCol, tsCol, typeCol, startType, eventType)
      .withColumn("surv",
        when(col("e_at") === col("n_risk"), lit(0.0))
          .otherwise(exp(sum(col("__lt")).over(wIncl))))
    val pts = km
      .filter(col("d") >= 1 && col("surv") > 0 && col("surv") < 1)
      .select(col("d"), log(col("d").cast("double")).as("x"),
        log(-log(col("surv"))).as("y"))
    val cum = pts
      .withColumn("k", count(lit(1)).over(wIncl))
      .withColumn("sx", sum(col("x")).over(wIncl))
      .withColumn("sy", sum(col("y")).over(wIncl))
      .withColumn("sxy", sum(col("x") * col("y")).over(wIncl))
      .withColumn("sxx", sum(col("x") * col("x")).over(wIncl))
      .withColumn("syy", sum(col("y") * col("y")).over(wIncl))
    val f = cum.agg(max(col("k")).as("n"),
      max_by(col("sx"), col("d")).as("sx"),
      max_by(col("sy"), col("d")).as("sy"),
      max_by(col("sxy"), col("d")).as("sxy"),
      max_by(col("sxx"), col("d")).as("sxx"),
      max_by(col("syy"), col("d")).as("syy"))
    val nd = col("n").cast("double")
    val num = nd * col("sxy") - col("sx") * col("sy")
    val denx = nd * col("sxx") - col("sx") * col("sx")
    val deny = nd * col("syy") - col("sy") * col("sy")
    val slope = num / denx
    val intercept = (col("sy") - slope * col("sx")) / nd
    val scale = exp(-(intercept / slope))
    val fit = col("n") >= 2 && denx > 0 && deny > 0
    def r4(c: Column): Column = round(c, 4) + lit(0.0)
    f.select(col("n").as("n_points"),
      when(fit, r4(slope)).as("shape"),
      when(fit && num > 0, r4(scale)).as("scale_days"),
      when(fit && num > 0,
        r4(scale * exp(log(log(lit(2.0))) / slope))).as("median_days"),
      when(fit, r4(num * num / (denx * deny))).as("r2"))
  }

  /** NELSON–AALEN cumulative hazard (Nelson 1972, Aalen 1978) — the
    * survival family's OTHER estimator over the same
    * (duration, n_risk, n_events) relation as [[kaplanMeier]]:
    * H(t) = Σ_{d ≤ t} e_d / n_risk(d), the cumulative event RATE —
    * better behaved than KM in small risk sets (no product collapsing
    * to 0 at the first saturated day) and the input to hazard-ratio
    * eyeballing. Same start/first-event/censor-at-horizon protocol as
    * q120, so the two estimators are directly comparable per day.
    *
    * Exactness: where KM needs ln/exp (float, round-4), the NA
    * estimator is a SUM of ratios — each day's hazard term floors to
    * micros ((1e6·e) div n_risk) and the cumulative sum is then exact
    * long arithmetic, immune to float summation order (the q205/q207
    * term-floor discipline; per-term floor error < 1 micro·days).
    *
    * Scale shape: identical to KM — per-user min-aggregations, one
    * duration rollup, one suffix window over DAYS. */
  def nelsonAalen(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, startType: String,
                  eventType: String): DataFrame =
    kmSteps(events, userCol, tsCol, typeCol, startType, eventType)
      .withColumn("hazard_micros", expr("(1000000L * e_at) div n_risk"))
      .withColumn("cum_hazard_micros",
        sum(col("hazard_micros")).over(Window.orderBy(col("d").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("d").as("duration_days"), col("n_risk"),
        col("e_at").as("n_events"), col("hazard_micros"),
        col("cum_hazard_micros"))

  /** COMPETING-RISKS cumulative incidence (Aalen–Johansen, the
    * two-cause case) — the survival family's answer when a user can
    * exit by MORE THAN ONE first event: with causes A and B racing
    * after the start event (first post-start occurrence of either; the
    * EARLIER one wins, ties broken by type name ascending — a
    * build-time constant since both causes are parameters), the
    * cause-specific cumulative incidence is
    * CIF_k(t) = Σ_{d ≤ t} S(d−) · e_k(d)/n(d), where S(d−) is the
    * ALL-CAUSE Kaplan–Meier survival just BEFORE day d. Unlike
    * "1 − KM_k with the other cause censored", the CIFs are honest
    * probabilities: CIF_A + CIF_B + S = 1 at every day (up to float
    * rounding). "Purchase vs churn-by-error as competing exits" is the
    * canonical product read.
    *
    * Determinism: q120's exact protocol (integer risk sets, the
    * ordered ln/exp chain for survival) with S(d−) as the PRIOR-ROWS
    * (exclusive) window — `exp(coalesce(sum(lt) over prior, 0))` so
    * day 0 sees S(−) = 1; a saturated PRIOR day (e_all = n_risk)
    * forces S(d−) = 0.0 via a window max flag, never a NULL log. The
    * per-day increment S(d−)·e_k/n is one mirrored double product and
    * the CIF is its inclusive ordered-window sum (the q262 sequential-
    * sum precedent). All outputs round-4.
    *
    * Scale shape: identical to q120 — per-user min-aggregations, one
    * duration rollup, ordered windows over DAY rows (bounded by the
    * calendar, the q222 contract). */
  def competingRisks(events: DataFrame, userCol: String, tsCol: String,
                     typeCol: String, startType: String,
                     causeA: String, causeB: String): DataFrame = {
    val byD = competingDayRollup(events, userCol, tsCol, typeCol,
      startType, causeA, causeB)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d").asc)
    val wPrior = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wIncl = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val c = byD
      .withColumn("e_all", col("ea") + col("eb"))
      .withColumn("n_risk", sum(col("n_at")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("__lt",
        when(col("e_all") < col("n_risk"),
          log(lit(1.0) - col("e_all").cast("double") / col("n_risk"))))
      .withColumn("__sat",
        (col("e_all") === col("n_risk")).cast("long"))
      .withColumn("__sprev",
        when(coalesce(max(col("__sat")).over(wPrior), lit(0L)) > 0,
          lit(0.0))
          .otherwise(exp(coalesce(sum(col("__lt")).over(wPrior),
            lit(0.0)))))
      .withColumn("__inca",
        col("__sprev") * col("ea").cast("double") / col("n_risk"))
      .withColumn("__incb",
        col("__sprev") * col("eb").cast("double") / col("n_risk"))
    c.select(col("d").as("duration_days"), col("n_risk"),
      col("ea").as("ev_a"), col("eb").as("ev_b"),
      round(sum(col("__inca")).over(wIncl), 4).as("cif_a"),
      round(sum(col("__incb")).over(wIncl), 4).as("cif_b"))
  }

  /** The competing-risks DAY ROLLUP shared by [[competingRisks]] and
    * [[causeSpecificHazards]] — q266's exact duration protocol (first
    * post-start occurrence of either cause, the EARLIER wins, ties by
    * type name ascending; censor at the corpus horizon) aggregated to
    * one row per duration day: (d, n_at, ea, eb). */
  private def competingDayRollup(events: DataFrame, userCol: String,
                                 tsCol: String, typeCol: String,
                                 startType: String, causeA: String,
                                 causeB: String): DataFrame = {
    require(causeA != causeB && causeA != startType &&
      causeB != startType, "causes must be distinct from start")
    val tieWinsA = causeA <= causeB
    val dur = survivalSpells(events, userCol, tsCol, typeCol, startType,
        Seq(causeA -> "ta", causeB -> "tb"))
      .select(
        when(col("ta").isNotNull && (col("tb").isNull ||
          col("ta") < col("tb") ||
          (col("ta") === col("tb") && lit(tieWinsA))), lit(1L))
          .otherwise(lit(0L)).as("oa"),
        when(col("tb").isNotNull && (col("ta").isNull ||
          col("tb") < col("ta") ||
          (col("ta") === col("tb") && lit(!tieWinsA))), lit(1L))
          .otherwise(lit(0L)).as("ob"),
        expr("(unix_timestamp(coalesce(least(ta, tb), tmax))" +
          " - unix_timestamp(t0)) div 86400").as("d"))
    dur.groupBy(col("d")).agg(count(lit(1)).as("n_at"),
      sum(col("oa")).as("ea"), sum(col("ob")).as("eb"))
  }

  /** CAUSE-SPECIFIC HAZARDS + pooled rate ratio — the "which exit is
    * winning, and is the difference real" card over [[competingRisks]]'
    * day rollup: per duration day d, the cause-specific hazards
    * h_k(d) = e_k(d)/n(d) (events per person at risk that day) and
    * their per-day ratio; then ONE pooled TOTAL row (duration_days =
    * NULL, the rollup idiom) where the same columns carry person-day
    * pooled rates (Σe_k over Σ_d n(d) person-days — the aggregate
    * incidence-rate read), the pooled A:B rate ratio (with a shared
    * denominator the Mantel–Haenszel pooled rate ratio reduces to
    * exactly Σe_A/Σe_B), and the log-rank-style conditional score
    * z = (Σe_A − Σe_B)/√(Σe_A + Σe_B) — per day, conditional on that
    * day's e_all exits, H0 "both causes fire at the same hazard" makes
    * the A-count Binomial(e_all, 1/2): U = Σ(e_A − e_all/2),
    * V = Σ e_all/4, z = U/√V collapses to the closed form above.
    *
    * Determinism: all counts exact; hazards/rates/ratios are
    * non-negative integer-micros floors ((1e6·x) div y, NULL on zero
    * denominators — never 0/0); z is ONE mirrored double
    * division + sqrt, round-4, NULL when no events at all.
    *
    * Scale shape: the q266 rollup (per-user min-aggs, one duration
    * rollup, one calendar-bounded ordered window for the risk sets)
    * plus one combinable 3-column agg for the pooled row; the day
    * relation checkpoints once for its two readers. */
  def causeSpecificHazards(events: DataFrame, userCol: String,
                           tsCol: String, typeCol: String,
                           startType: String, causeA: String,
                           causeB: String): DataFrame = {
    val byD = competingDayRollup(events, userCol, tsCol, typeCol,
      startType, causeA, causeB)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d").asc)
    val days = byD
      .withColumn("n_risk", sum(col("n_at")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("d"), col("n_risk"), col("ea"), col("eb"))
      .localCheckpoint(eager = false)
    val dayRows = days.select(col("d").as("duration_days"),
      col("n_risk"), col("ea").as("ev_a"), col("eb").as("ev_b"),
      expr("(1000000L * ea) div n_risk").as("hazard_a_micros"),
      expr("(1000000L * eb) div n_risk").as("hazard_b_micros"),
      when(col("eb") > 0, expr("(1000000L * ea) div eb"))
        .as("ratio_micros"),
      lit(null).cast("double").as("logrank_z"))
    val pooled = days
      .agg(sum(col("n_risk")).as("pd"), sum(col("ea")).as("sa"),
        sum(col("eb")).as("sb"))
      .select(lit(null).cast("long").as("duration_days"),
        col("pd").as("n_risk"), col("sa").as("ev_a"),
        col("sb").as("ev_b"),
        when(col("pd") > 0, expr("(1000000L * sa) div pd"))
          .as("hazard_a_micros"),
        when(col("pd") > 0, expr("(1000000L * sb) div pd"))
          .as("hazard_b_micros"),
        when(col("sb") > 0, expr("(1000000L * sa) div sb"))
          .as("ratio_micros"),
        round(when(col("sa") + col("sb") > 0,
          (col("sa") - col("sb")).cast("double") /
            sqrt((col("sa") + col("sb")).cast("double"))), 4)
          .as("logrank_z"))
    dayRows.unionByName(pooled)
  }

  /** Ordered SEQUENCE support counts — for every ordered pair of event
    * types (a, b), how many users did a STRICTLY BEFORE some b (the
    * 2-length case of frequent-sequence mining; the pair table seeds
    * funnel design, and (a, a) rows count repeat behavior: a second
    * occurrence at a strictly later timestamp). Exists-semantics:
    * min_ts(a) < max_ts(b) per user — exact timestamp comparison, no
    * floats anywhere.
    *
    * Scale shape: one combinable (user, type) aggregation; the per-user
    * type-pair join fans out at most |types|² rows per user (types are
    * a small closed set by definition); one combinable count ends it. */
  def sequenceSupport(events: DataFrame, userCol: String,
                      tsCol: String, typeCol: String): DataFrame = {
    val tt = events.groupBy(col(userCol), col(typeCol))
      .agg(min(col(tsCol)).as("mn"), max(col(tsCol)).as("mx"))
    tt.select(col(userCol), col(typeCol).as("type_a"), col("mn"))
      .join(tt.select(col(userCol), col(typeCol).as("type_b"), col("mx")),
        Seq(userCol))
      .filter(col("mn") < col("mx"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** LEAVE-ONE-OUT target encoding — the tabular-ML categorical encoder
    * (Micci-Barreca 2001's mean encoding, LOO variant): each row's
    * category is replaced by the mean target of the OTHER rows in its
    * category, `loo = (Σ_cat − x) / (n_cat − 1)` — excluding the row's
    * own target is what stops the encoding from leaking the label into
    * the feature (the q93 grouped-split concern, one level down).
    * Singleton categories encode null (no other rows to average).
    *
    * Exactness: targets are cent-scaled into longs, so sum and
    * difference are exact integers; the single final division is one
    * IEEE op on integer-derived doubles — identical in both engines, no
    * rounding tricks needed.
    *
    * Scale shape: ONE combinable aggregation per category (the category
    * table is tiny by definition of a categorical), broadcast back onto
    * the fact stream — a map-side encode, the only shape that survives
    * a 10^12-row fact table. */
  def looTargetEncode(df: DataFrame, catCol: String, targetCol: String,
                      keyCols: Seq[String]): DataFrame = {
    val cents = round(col(targetCol) * 100).cast(LongType)
    val agg = df.groupBy(col(catCol)).agg(
      sum(cents).as("__s"), count(lit(1)).as("__n"))
    df.join(broadcast(agg), Seq(catCol))
      .select((keyCols.map(col) :+ col(catCol) :+
        when(col("__n") > 1,
          (col("__s") - cents).cast("double") /
            ((col("__n") - 1) * 100).cast("double"))
          .as("loo_mean")): _*)
  }

  /** LAST-TOUCH ATTRIBUTION — credit each conversion to the latest
    * preceding touch event of the same user (the default attribution
    * model of every campaign dashboard; first-touch is the same window
    * with `first`). Output: one row per conversion,
    * (`userCol`, conv_id, touch_id), touch_id NULL when no touch
    * precedes (the organic conversion — kept, honestly, rather than
    * silently dropped).
    *
    * Deterministic: "preceding" is the (`tsCol`, `ordCol`) TOTAL order
    * (the q19 contract — `ordCol` breaks timestamp ties), and the frame
    * excludes the current row, so a same-instant touch+conversion pair
    * resolves identically in any engine (the touch attributes iff it
    * sorts strictly earlier under the total order).
    *
    * Scale shape: events filter to the two types BEFORE the window (the
    * only shuffle, on the user key) — the running last-touch is one
    * frame-bounded window function, no self-join of the event log. */
  def lastTouchAttribution(events: DataFrame, userCol: String,
                           tsCol: String, ordCol: String, typeCol: String,
                           touchType: String, convType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(ordCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events.select(col(userCol), col(ordCol), col(tsCol), col(typeCol))
      .filter(col(typeCol).isin(touchType, convType))
      .withColumn("touch_id",
        last(when(col(typeCol) === touchType, col(ordCol)),
          ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .select(col(userCol), col(ordCol).as("conv_id"), col("touch_id"))
  }

  /** The journey binding of the multi-touch attributions: each
    * `touchType` event with the id (conv_id) and time (conv_ts) of the
    * user's NEXT `convType` event under the (ts, ord) total order;
    * touches with no later conversion drop. */
  private def boundTouches(events: DataFrame, userCol: String,
                           tsCol: String, ordCol: String, typeCol: String,
                           touchType: String,
                           convType: String): DataFrame = {
    val wNext = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(ordCol).asc)
      .rowsBetween(1, Window.unboundedFollowing)
    events.select(col(userCol), col(ordCol), col(tsCol), col(typeCol))
      .filter(col(typeCol).isin(touchType, convType))
      .withColumn("conv_id",
        first(when(col(typeCol) === convType, col(ordCol)),
          ignoreNulls = true).over(wNext))
      .withColumn("conv_ts",
        first(when(col(typeCol) === convType, col(tsCol)),
          ignoreNulls = true).over(wNext))
      .filter(col(typeCol) === touchType && col("conv_id").isNotNull)
  }

  /** LINEAR MULTI-TOUCH ATTRIBUTION — the other standard attribution
    * model ([[lastTouchAttribution]] is the degenerate 100%-to-last
    * case): every touch that precedes a conversion shares the credit
    * equally. "Precedes" binds each touch to its NEXT conversion under
    * the (`tsCol`, `ordCol`) total order, so a touch credits exactly one
    * conversion (the journey since the previous conversion) and touches
    * after a user's final conversion credit nothing. Output: one row per
    * attributed touch — (`userCol`, conv_id, touch_id, credit_micros).
    *
    * Deterministic: credit is INTEGER micros — each of a conversion's n
    * touches gets `1e6 div n`, and the remainder `1e6 mod n` goes to the
    * LAST touch (the one closest to the conversion), so per-conversion
    * credit sums to exactly 1,000,000 and no float division order can
    * differ between engines.
    *
    * Scale shape: filter to the two types BEFORE the windows; then ONE
    * shuffle on the user key serves both window passes (next-conversion
    * binding, then per-(user, conv) position/count — the second window's
    * (user, conv_id) keys are user-prefixed, so the partitioning is
    * reusable and Spark plans a sort, not a second exchange). No
    * self-join of the event log. */
  def linearAttribution(events: DataFrame, userCol: String,
                        tsCol: String, ordCol: String, typeCol: String,
                        touchType: String, convType: String): DataFrame = {
    val bound = boundTouches(events, userCol, tsCol, ordCol, typeCol,
      touchType, convType)
    val wConv = Window.partitionBy(col(userCol), col("conv_id"))
    val wPos = wConv.orderBy(col(tsCol).asc, col(ordCol).asc)
    bound
      .withColumn("rn", row_number().over(wPos))
      .withColumn("n", count(lit(1)).over(wConv))
      .select(col(userCol), col("conv_id"), col(ordCol).as("touch_id"),
        (expr("1000000L div n") +
          when(col("rn") === col("n"), pmod(lit(1000000L), col("n")))
            .otherwise(lit(0L))).as("credit_micros"))
  }

  /** TIME-DECAY ATTRIBUTION — the last classic of the attribution five
    * (last-touch q126, linear q135, positional q268, Shapley q264,
    * Markov q263): every touch preceding a conversion earns credit
    * halving per `halfLifeSeconds` of age, so recency matters but
    * nothing is discarded. Same journey binding as
    * [[linearAttribution]] (a touch credits its NEXT conversion under
    * the (ts, ord) total order).
    *
    * ALL-INTEGER: halvings h = Δt div halfLife; the raw weight is
    * w = 1e6 div 2^min(h, 20) (power-of-two division — exact; h ≥ 20
    * floors to 0, the natural horizon since 1e6 < 2^20); per
    * conversion, credit = (1e6·w) div Σw floored, and the remainder
    * tops up the touch CLOSEST to the conversion (the q135 remainder
    * convention), so per-conversion credit sums to exactly 1,000,000.
    * Σw = 0 (every touch beyond 20 half-lives) degenerates to
    * last-touch — the remainder convention's honest limit.
    *
    * Scale shape: q135's exactly — filter to two types, one user-key
    * shuffle serving the binding window and the per-(user, conv)
    * windows. Output: one row per attributed touch
    * (userCol, conv_id, touch_id, halvings, credit_micros). */
  def timeDecayAttribution(events: DataFrame, userCol: String,
                           tsCol: String, ordCol: String, typeCol: String,
                           touchType: String, convType: String,
                           halfLifeSeconds: Long = 86400L): DataFrame = {
    require(halfLifeSeconds >= 1, "need halfLifeSeconds >= 1")
    val bound = boundTouches(events, userCol, tsCol, ordCol, typeCol,
        touchType, convType)
      .withColumn("halvings",
        expr(s"(unix_timestamp(conv_ts) - unix_timestamp($tsCol))" +
          s" div ${halfLifeSeconds}L"))
      .withColumn("w",
        expr("1000000L div cast(power(2.0, least(halvings, 20L))" +
          " as long)"))
    val wConv = Window.partitionBy(col(userCol), col("conv_id"))
    val wLast = wConv.orderBy(col(tsCol).desc, col(ordCol).desc)
    bound
      .withColumn("sw", sum(col("w")).over(wConv))
      .withColumn("base",
        when(col("sw") > 0, expr("(1000000L * w) div sw"))
          .otherwise(lit(0L)))
      .withColumn("tot", sum(col("base")).over(wConv))
      .withColumn("rn", row_number().over(wLast))
      .select(col(userCol), col("conv_id"), col(ordCol).as("touch_id"),
        col("halvings"),
        (col("base") + when(col("rn") === 1,
          lit(1000000L) - col("tot")).otherwise(lit(0L)))
          .as("credit_micros"))
  }

  /** ORDERED FUNNEL conversion — the other half of the product-analytics
    * pair with [[retentionCohorts]]: how many users complete each step
    * of `steps` IN ORDER (strictly later timestamps). A user's step-k
    * time is their EARLIEST step-k event after their step-(k−1) time —
    * the standard first-touch funnel; reordered events (purchase before
    * any view) correctly don't count.
    *
    * Deterministic: each stage keeps a min-timestamp per user (exact,
    * order-independent); strict `>` makes a same-instant pair not a
    * conversion in either engine.
    *
    * Scale shape: per step, one combinable min-aggregation on the user
    * key plus one equi-join against the previous stage's (user, t)
    * relation — the stage relations only shrink; each is lazily
    * checkpointed because stage k feeds both stage k+1 and its own
    * count row. Step counts union into one tiny |steps|-row result. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    var reached = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
      .localCheckpoint(eager = false)
    var out = reached.agg(count(lit(1)).as("n_users"))
      .select(lit(1L).as("step_idx"), lit(steps.head).as("step"),
        col("n_users"))
    steps.tail.zipWithIndex.foreach { case (step, i) =>
      reached = events.filter(col(typeCol) === step)
        .join(reached.select(col(userCol), col("__t").as("__prev")),
          Seq(userCol))
        .filter(col(tsCol) > col("__prev"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
        .localCheckpoint(eager = false)
      out = out.union(reached.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 2L).as("step_idx"), lit(step).as("step"),
          col("n_users")))
    }
    out
  }

  /** Interval join (q157): left events joined to SAME-user right events
    * strictly after and within `windowSeconds` — the
    * click→purchase-within-1h shape. Spark plans the user equi-key as a
    * hash join with the time range as residual — both sides shuffle once
    * on user_id, no range explosion. */
  def intervalJoin(events: DataFrame, userCol: String, tsCol: String,
                   idCol: String, typeCol: String, leftType: String,
                   rightType: String, windowSeconds: Long): DataFrame = {
    require(windowSeconds > 0, "windowSeconds must be > 0")
    val l = events.filter(col(typeCol) === leftType)
      .select(col(userCol).as("user_id"), col(idCol).as("left_id"),
        col(tsCol).as("left_ts"))
    val r = events.filter(col(typeCol) === rightType)
      .select(col(userCol).as("__ru"), col(idCol).as("right_id"),
        col(tsCol).as("right_ts"))
    l.join(r, col("user_id") === col("__ru") &&
        col("right_ts") > col("left_ts") &&
        col("right_ts") <=
          col("left_ts") + expr(s"INTERVAL $windowSeconds SECOND"))
      .select(col("user_id"), col("left_id"), col("right_id"),
        col("left_ts").cast(TimestampNTZType).as("left_ts"),
        col("right_ts").cast(TimestampNTZType).as("right_ts"))
  }

  /** The PER-USER TRACE face of [[funnel]] — one row per (user,
    * step_idx, step, ts = that user's step-k conversion instant), the
    * same stage recurrence (step-k time = min ts of step-k events
    * strictly after the step-(k−1) time) exposed as a relation instead
    * of aggregated to counts: `funnel`'s counts are its per-step
    * aggregation. Scale shape identical to [[funnel]]. */
  def funnelTrace(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String],
                  maxGapSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(maxGapSeconds.forall(_ > 0), "maxGapSeconds must be > 0")
    // WINDOWED form: step k must land within maxGap of step k−1 (the
    // "conversion within a day" product-analytics contract). Timestamp
    // + day-time-interval arithmetic is exact in any engine — no float
    // epoch conversions at the boundary.
    val withinGap = maxGapSeconds
      .map(g => col(tsCol) <= col("__prev") + expr(s"INTERVAL $g SECONDS"))
      .getOrElse(lit(true))
    var reached = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
      .localCheckpoint(eager = false)
    var out = reached.select(col(userCol), lit(1L).as("step_idx"),
      lit(steps.head).as("step"), col("__t").as(tsCol))
    steps.tail.zipWithIndex.foreach { case (step, i) =>
      reached = events.filter(col(typeCol) === step)
        .join(reached.select(col(userCol), col("__t").as("__prev")),
          Seq(userCol))
        .filter(col(tsCol) > col("__prev") && withinGap)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
        .localCheckpoint(eager = false)
      out = out.union(reached.select(col(userCol),
        lit(i + 2L).as("step_idx"), lit(step).as("step"),
        col("__t").as(tsCol)))
    }
    out
  }

  /** RETENTION COHORT matrix — the product-analytics triangle: users
    * cohorted by the ISO week of their FIRST event, then one row per
    * (cohort_week, week_offset) counting how many of that cohort were
    * active `week_offset` weeks later. `date_trunc('week', ·)` is
    * Monday-start ISO in both engines, and the offset divides an exact
    * microsecond difference of two week-aligned instants, so the whole
    * matrix is integer/date arithmetic — engine-exact.
    *
    * Scale shape: first-activity is one combinable min-aggregation on the
    * user; the distinct (user, week) activity set is a second; the
    * cohort join is an equi-join on the user key and the matrix rollup
    * one more combinable count. Nothing non-combinable anywhere.
    *
    * TIMEZONE CONTRACT: "engine-exact integer arithmetic" holds under a
    * fixed-offset session timezone (`spark.sql.session.timeZone=UTC`,
    * as the pipeline pins) — in a DST timezone a week spanning a
    * transition is 604800±3600 s and the division mis-buckets the
    * offset by one ([[kaplanMeier]]'s day division shares the caveat). */
  def retentionCohorts(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val first = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).as("cw"))
    val active = events
      .select(col(userCol), date_trunc("week", col(tsCol)).as("wk"))
      .distinct()
    active.join(first, Seq(userCol))
      .select(col("cw").cast(DateType).as("cohort_week"),
        expr("(unix_timestamp(wk) - unix_timestamp(cw)) div 604800")
          .as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Rolling anomaly flags over a trailing TIME window — the live-ops
    * monitor for an ingestion stream: an event is anomalous when its
    * value sits more than k = `sigmaNum/sigmaDen` standard deviations
    * from the mean of its group's trailing `windowSeconds` (inclusive of
    * itself). The z-test runs ENTIRELY in integers: with cent-scaled x
    * and the trailing moments n, s1 = Σx, s2 = Σx²,
    * {{{ |x − μ| > k·σ  ⇔  den²·(n·x − s1)² > num²·(n·s2 − s1²) }}}
    * (multiply through by n²·den²; σ² = (n·s2 − s1²)/n²) — no division,
    * no sqrt, no float anywhere, so the flag is engine-/partitioning-
    * exact. `minEvents` suppresses the cold-start regime where a
    * variance estimate is meaningless (and where n = 1 makes both sides
    * 0). The threshold is RATIONAL because self-inclusion bounds the
    * achievable z² at n − 1 (one outlier among n moves its own baseline)
    * — a 3σ test needs trailing counts above 10, while thin streams run
    * at 3/2σ and still get an exact test.
    *
    * The frame is a RANGE (value-based) frame over epoch seconds —
    * events sharing a timestamp land in each other's frames
    * symmetrically, so ties need no break at all (the reason this is a
    * range, not rows, frame). Self-inclusion is deliberate: it biases
    * AGAINST flagging (the point inflates its own baseline), never
    * toward a false positive, and keeps the frame the SQL-standard one
    * every engine implements identically.
    *
    * Overflow envelope: den²·(n·x)² must stay under 2^63 — cents ≤ 10^5,
    * trailing counts ≤ 10^4 and den ≤ 2 give 4·10^18 < 9.2·10^18; wider
    * windows or bigger currencies scale cents down first.
    *
    * Scale shape: ONE shuffle on the group key; all three moments ride
    * the same window frame. */
  def rollingAnomalies(events: DataFrame, groupCol: String, tsCol: String,
                       valueCol: String, windowSeconds: Long = 3600L,
                       sigmaNum: Long = 3L, sigmaDen: Long = 1L,
                       minEvents: Long = 5L): DataFrame = {
    require(windowSeconds > 0 && sigmaNum > 0 && sigmaDen > 0 &&
      minEvents >= 2,
      "need windowSeconds > 0, sigmaNum/sigmaDen > 0, minEvents >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__sec"))
      .rangeBetween(-windowSeconds, 0)
    events
      .withColumn("__sec", unix_timestamp(col(tsCol)))
      .withColumn("__x", round(col(valueCol) * 100).cast(LongType))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("__s1", sum(col("__x")).over(w))
      .withColumn("__s2", sum(col("__x") * col("__x")).over(w))
      .select(col("event_id"), col(groupCol), col(tsCol), col(valueCol),
        col("n_window"),
        (col("n_window") >= minEvents &&
          lit(sigmaDen * sigmaDen) *
            ((col("n_window") * col("__x") - col("__s1")) *
              (col("n_window") * col("__x") - col("__s1"))) >
          lit(sigmaNum * sigmaNum) *
            (col("n_window") * col("__s2") - col("__s1") * col("__s1")))
          .as("is_anomaly"))
  }
}
