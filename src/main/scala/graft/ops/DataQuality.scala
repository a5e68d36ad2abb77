package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative DATA-QUALITY constraint checking (the Deequ/Great-
  * Expectations idea, engine-native): a constraint suite runs against a
  * table and yields one row per constraint — (check_name, violations,
  * total, pass) — the report a pipeline gates ingestion on. An ETL
  * engine without this re-implements it ad hoc in every job; the FA
  * pipeline's presence-validation stage (§2.10 O2) is the special case
  * this generalizes.
  *
  * Scale design: every ROW-LOCAL constraint (null, range, predicate)
  * compiles to one conditional-sum column of a SINGLE aggregation —
  * checking 50 such constraints still scans the table ONCE with a
  * combinable agg. Multi-row constraints cost what they must:
  * uniqueness is one groupBy on the key (count minus distinct-by-key
  * rows), a foreign key is one anti-join against the (broadcastable)
  * referenced key set. The tiny per-constraint rows union at the end.
  *
  * Determinism: every output is an exact integer count — no floats
  * anywhere, oracle-exact in any engine. */
object DataQuality {

  /** A named constraint to evaluate against a table. */
  sealed trait Constraint { def name: String }

  /** `col` must be non-null. */
  final case class NotNull(name: String, col: String) extends Constraint

  /** `col` must lie in [lo, hi] (nulls count as violations — use
    * [[NotNull]] alongside if null has its own contract). */
  final case class RangeIn(name: String, col: String, lo: Double,
                           hi: Double) extends Constraint

  /** Arbitrary row predicate that must hold (null → violation). */
  final case class Holds(name: String, predicate: Column) extends Constraint

  /** `cols` must be unique across rows (violations = rows in excess of
    * one per key). */
  final case class Unique(name: String, cols: Seq[String]) extends Constraint

  /** Every non-null `cols` tuple must appear in `refCols` of `ref`
    * (referential integrity; violations = orphan rows). */
  final case class ForeignKey(name: String, cols: Seq[String],
                              ref: DataFrame, refCols: Seq[String])
      extends Constraint

  /** Run the suite; one row per constraint:
    * (check_name, violations, total, pass). Row order is the suite
    * order (stable output for golden checks). */
  def check(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    val rowLocal = constraints.collect {
      case c: NotNull => c.name -> col(c.col).isNull
      case c: RangeIn =>
        // coalesce: a NULL comparison result (null value) is a violation
        c.name -> !coalesce(col(c.col) >= c.lo && col(c.col) <= c.hi,
          lit(false))
      case c: Holds => c.name -> !coalesce(c.predicate, lit(false))
    }
    // all row-local constraints ride ONE combinable aggregation
    val localCounts: Map[String, DataFrame] =
      if (rowLocal.isEmpty) Map.empty
      else {
        val agg = df.agg(count(lit(1)).as("total"),
          rowLocal.map { case (n, bad) =>
            sum(bad.cast("long")).as(s"__v_$n")
          }: _*).localCheckpoint(eager = false)
        rowLocal.map { case (n, _) =>
          n -> agg.select(lit(n).as("check_name"),
            coalesce(col(s"__v_$n"), lit(0L)).as("violations"),
            col("total"))
        }.toMap
      }
    val reports = constraints.map {
      case c: NotNull => localCounts(c.name)
      case c: RangeIn => localCounts(c.name)
      case c: Holds => localCounts(c.name)
      case c: Unique =>
        val keys = c.cols.map(col)
        df.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
          .agg(lit(c.name).as("check_name"),
            coalesce(sum(col("__n") - 1), lit(0L)).as("violations"),
            coalesce(sum(col("__n")), lit(0L)).as("total"))
      case c: ForeignKey =>
        val nonNull = c.cols.map(col(_).isNotNull).reduce(_ && _)
        val refKeys = c.ref
          .select(c.refCols.zip(c.cols).map { case (r, l) =>
            col(r).as(l)
          }: _*).distinct()
        val orphans = df.filter(nonNull)
          .join(broadcast(refKeys), c.cols, "left_anti")
          .agg(coalesce(count(lit(1)), lit(0L)).as("violations"))
        val total = df.agg(count(lit(1)).as("total"))
        orphans.join(broadcast(total), lit(true))
          .select(lit(c.name).as("check_name"), col("violations"),
            col("total"))
    }
    reports.reduce(_ unionByName _)
      .select(col("check_name"), col("violations"), col("total"),
        (col("violations") === 0L).as("pass"))
  }

  /** χ² INDEPENDENCE test between two categorical columns — the
    * contingency screen ("is priority independent of status?") that
    * catches encoding leaks and spurious correlations before a model
    * memorizes them. Per cell: observed count, expected =
    * rowTotal·colTotal/N (one double division of exact longs), and the
    * (o−e)²/e term, round-4 (non-negative — no signed-zero exposure).
    * Consumers sum the terms and read the χ²((r−1)(c−1)) tail.
    *
    * Scale shape: ONE (a, b) count aggregation; marginals derive from
    * it (they never rescan the input) and broadcast back. */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("observed"))
      .localCheckpoint(eager = false)
    val rowT = cells.groupBy(col(aCol)).agg(sum(col("observed")).as("row_tot"))
    val colT = cells.groupBy(col(bCol)).agg(sum(col("observed")).as("col_tot"))
    val n = cells.agg(sum(col("observed")).as("n"))
    val e = (col("row_tot") * col("col_tot")).cast("double") /
      col("n").cast("double")
    cells.join(broadcast(rowT), aCol).join(broadcast(colT), bCol)
      .crossJoin(broadcast(n))
      .select(col(aCol), col(bCol), col("observed"),
        round(e, 4).as("expected"),
        round((col("observed") - e) * (col("observed") - e) / e, 4)
          .as("chi2_term"))
  }

  /** CRAMÉR'S V — the one-number association strength between two
    * categorical columns (Cramér 1946): V = √(χ²/(n·min(r−1, c−1))) ∈
    * [0, 1], the normalized companion to the per-cell χ² card
    * ([[chi2Independence]]): χ² alone grows with n and table size, V
    * answers "HOW associated" on a fixed scale — the screen for
    * redundant categorical features and proxy-variable leaks.
    *
    * Exact-integer route: χ²/n + 1 = Σ_cells o²/(e_frac) ... computed
    * as S = Σ_cells (1e12·o²) div (ra·cb) — each term an exact long in
    * [0, 1e12·o/min(ra,cb)] with the o² and ra·cb products carried in
    * decimal(38,0)/HUGEINT (the r12 ladder; int64 dies at ~3e9 rows),
    * each term ≤ 1e12 summed over ≤ r·c cells — then
    * χ² = n·(S/1e12 − 1) and V = √((S − 1e12)/(1e12·min(r−1,c−1))) is
    * ONE mirrored float expression over exact integers (round-4;
    * max(0, ·) guards the S < 1e12 floor-error case). Degenerate
    * single-level columns (min(r−1,c−1) = 0) yield NULL.
    *
    * Scale shape: ONE (a, b) count aggregation; marginals derive from
    * it; the final card is one row. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
      .localCheckpoint(eager = false)
    val rowT = cells.groupBy(col(aCol)).agg(sum(col("o")).as("ra"))
    val colT = cells.groupBy(col(bCol)).agg(sum(col("o")).as("cb"))
    val dims = cells.agg(sum(col("o")).as("n"),
      count_distinct(col(aCol)).as("r"),
      count_distinct(col(bCol)).as("c"))
    cells.join(broadcast(rowT), aCol).join(broadcast(colT), bCol)
      .select(
        expr("cast((cast(1000000000000 as decimal(38,0)) * o * o)" +
          " div (cast(ra as decimal(38,0)) * cb) as bigint)").as("t"))
      .agg(sum(col("t")).as("s"))
      .crossJoin(broadcast(dims))
      .select(col("n"), col("r"), col("c"),
        when(least(col("r"), col("c")) > 1,
          round(sqrt(
            greatest(col("s") - lit(1000000000000L), lit(0L))
              .cast("double") /
              (lit(1e12) * (least(col("r"), col("c")) - 1)
                .cast("double"))), 4))
          .as("v"))
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * dependence measure that (unlike χ²/V) reads in NATS and feeds
    * feature selection directly: MI = Σ_cells (o/n)·ln(o·n/(ra·cb)),
    * with the normalized NMI = MI/√(H_a·H_b) ∈ [0, 1] beside it (the
    * clustering-agreement normalization of Strehl & Ghosh 2002).
    *
    * Determinism: every cell/level term is ONE mirrored float
    * expression over exact longs — (o/n)·ln(o·n/(ra·cb)) for MI,
    * −(ra/n)·ln(ra/n) for the entropies — each ROUNDED TO MICROS and
    * then summed as LONGS (order-free; the q82 ln contract covers the
    * shared doubles). NMI is one final mirrored float over the summed
    * micros; NULL when either entropy is 0 (a constant column carries
    * no information to normalize by).
    *
    * Scale shape: one (a, b) count collapse; marginals derive from it;
    * cell count (≤ r·c) bounds everything downstream. */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol), col(bCol)).agg(count(lit(1)).as("o"))
      .localCheckpoint(eager = false)
    val rowT = cells.groupBy(col(aCol)).agg(sum(col("o")).as("ra"))
      .localCheckpoint(eager = false)
    val colT = cells.groupBy(col(bCol)).agg(sum(col("o")).as("cb"))
      .localCheckpoint(eager = false)
    val n = cells.agg(sum(col("o")).as("n"))
    def entMicros(t: DataFrame, cnt: String): DataFrame =
      t.crossJoin(broadcast(n))
        .select(round((-col(cnt).cast("double") / col("n").cast("double"))
          * log(col(cnt).cast("double") / col("n").cast("double"))
          * 1e6).cast("long").as("hm"))
        .agg(coalesce(sum(col("hm")), lit(0L)).as("h"))
    val mi = cells.join(broadcast(rowT), aCol).join(broadcast(colT), bCol)
      .crossJoin(broadcast(n))
      .select(round((col("o").cast("double") / col("n").cast("double"))
        * log((col("o").cast("double") * col("n").cast("double")) /
          (col("ra").cast("double") * col("cb").cast("double")))
        * 1e6).cast("long").as("tm"))
      .agg(coalesce(sum(col("tm")), lit(0L)).as("mi"))
    mi.crossJoin(broadcast(entMicros(rowT, "ra").select(col("h").as("ha"))))
      .crossJoin(broadcast(entMicros(colT, "cb").select(col("h").as("hb"))))
      .crossJoin(broadcast(n))
      .select(col("n"), col("mi").as("mi_micros"),
        col("ha").as("h_a_micros"), col("hb").as("h_b_micros"),
        when(col("ha") > 0 && col("hb") > 0,
          round(col("mi").cast("double") /
            sqrt(col("ha").cast("double") * col("hb").cast("double")), 4))
          .as("nmi"))
  }

  /** K-ANONYMITY AUDIT over a quasi-identifier column set — the
    * privacy screen a training-data release runs before shipping
    * (Sweeney 2002): every row must be indistinguishable from ≥ k−1
    * others on the QI columns; the card reports the equivalence-class
    * profile — group count, minimum class size, rows in classes below
    * k, and the at-risk rate in micros. UNIQUES (size-1 classes) are
    * the re-identification disasters; the k threshold is policy.
    *
    * All exact integers: one combinable QI-group count, then one
    * combinable rollup over the group-size relation. Scale shape: the
    * group collapse is the only row-scale pass; everything after is
    * |classes|-sized. */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Long)
      : DataFrame = {
    require(qiCols.nonEmpty && k >= 2, "need QI columns and k >= 2")
    val sizes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("sz"))
    sizes.agg(sum(col("sz")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("sz")).as("min_class"),
        sum(when(col("sz") < k, col("sz")).otherwise(0L))
          .as("rows_below_k"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(lit(qiCols.mkString(",")).as("qi"), col("n_rows"),
        col("n_classes"), col("min_class"), col("rows_below_k"),
        col("n_unique"),
        expr("(1000000L * rows_below_k) div n_rows")
          .as("at_risk_rate_micros"))
  }

  /** L-DIVERSITY audit (Machanavajjhala et al. 2007) — the attack
    * [[kAnonymityAudit]] cannot see: a class can hold k ≥ 5 rows and
    * still leak everything if all k share ONE sensitive value
    * (homogeneity attack — re-identification isn't needed when the
    * answer is unanimous). Per quasi-identifier class, l = the number
    * of DISTINCT sensitive values; the card reports the dataset's
    * min l and how much of it sits in classes below the `l` bar. Run
    * beside q221 before any "anonymized" extract ships.
    *
    * Determinism: exact integer counts end-to-end; one micros floor.
    * A class whose sensitive values are all NULL counts l = 0 (both
    * engines' count(DISTINCT) skips nulls) — below any bar, which is
    * the honest read.
    *
    * Scale shape: ONE combinable (QI → size, distinct-sensitive) agg
    * (distinct via the two-level exact rollup Spark plans for
    * countDistinct), then a 1-row card. */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String],
                      sensitive: Column, l: Long): DataFrame = {
    require(qiCols.nonEmpty && l >= 2, "need QI columns and l >= 2")
    val classes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("sz"),
        countDistinct(sensitive).as("ldist"))
    classes.agg(sum(col("sz")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("ldist")).as("min_l"),
        sum(when(col("ldist") < l, 1L).otherwise(0L))
          .as("classes_below_l"),
        sum(when(col("ldist") < l, col("sz")).otherwise(0L))
          .as("rows_below_l"))
      .select(lit(qiCols.mkString(",")).as("qi"), col("n_rows"),
        col("n_classes"), col("min_l"), col("classes_below_l"),
        col("rows_below_l"),
        expr("(1000000L * rows_below_l) div n_rows")
          .as("at_risk_rate_micros"))
  }

  /** STANDARDIZED-MEAN-DIFFERENCE BALANCE card (the Rubin-school
    * covariate-balance diagnostic; Austin 2009's |SMD| < 0.1
    * convention): per covariate, (mean_T − mean_C)/√((s²_T + s²_C)/2)
    * — the check every matching/stratification/IPW estimate (q174,
    * q188, q225) must pass BEFORE its ATE is believed: an imbalanced
    * covariate means the comparison is confounded, whatever the
    * estimator says.
    *
    * `df` is the unit-level frame (one row per unit); covariates are
    * integer-valued columns. Determinism: per-arm moments are exact
    * (counts, sums, and decimal(38,0)/HUGEINT squares — the r12
    * ladder); the SMD is ONE mirrored float over the exact moments
    * (sample variances with the n−1 denominator; round-4 +
    * signed-zero). Arms with < 2 units or zero pooled variance yield
    * NULL.
    *
    * Scale shape: one explode (|covs| rows per unit), ONE combinable
    * moment agg — the giniStump unpivot dataflow. */
  def smdBalance(df: DataFrame, treatedCol: Column, covs: Seq[String])
      : DataFrame = {
    require(covs.nonEmpty, "need at least one covariate")
    val fx = covs.map(c =>
      struct(lit(c).as("cov"), col(c).cast("long").as("x")))
    val long = df.select(when(treatedCol, 1L).otherwise(0L).as("g"),
        explode(array(fx: _*)).as("f"))
      .select(col("g"), col("f.cov").as("cov"), col("f.x").as("x"))
    val m = long.groupBy(col("cov")).agg(
      sum(col("g")).as("nt"), sum(lit(1L) - col("g")).as("nc"),
      sum(when(col("g") === 1, col("x")).otherwise(0L)).as("st"),
      sum(when(col("g") === 0, col("x")).otherwise(0L)).as("sc"),
      sum(when(col("g") === 1, expr("cast(x as decimal(38,0)) * x"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("sst"),
      sum(when(col("g") === 0, expr("cast(x as decimal(38,0)) * x"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("ssc"))
    val vT = expr("cast(cast(nt as decimal(38,0)) * sst" +
      " - cast(st as decimal(38,0)) * st as double)") /
      expr("cast(cast(nt as decimal(38,0)) * (nt - 1) as double)")
    val vC = expr("cast(cast(nc as decimal(38,0)) * ssc" +
      " - cast(sc as decimal(38,0)) * sc as double)") /
      expr("cast(cast(nc as decimal(38,0)) * (nc - 1) as double)")
    m.select(col("cov"), col("nt").as("n_t"), col("nc").as("n_c"),
      when(col("nt") > 1 && col("nc") > 1 && (vT + vC) > 0.0,
        round((col("st").cast("double") / col("nt").cast("double") -
          col("sc").cast("double") / col("nc").cast("double")) /
          sqrt((vT + vC) / 2.0), 4) + lit(0.0)).as("smd"))
  }

  /** MANN–KENDALL TREND TEST (Mann 1945; Kendall's S over time) — the
    * nonparametric "is this series trending" TEST beside the q145
    * Theil–Sen slope ESTIMATE: S = Σ_{i<j} sign(y_j − y_i) over each
    * group's daily-count series, variance with the tie correction,
    * z = (S − sign(S))/√Var (continuity-corrected). Distribution-free
    * — level shifts and outliers that wreck an OLS-on-time test
    * barely move it.
    *
    * Exact integers: S from the day-pair self-join of the DAILY
    * relation (days², the q205 grid class — days ≪ rows); the
    * variance NUMERATOR 18·Var = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)
    * stays an exact long (n = days ≤ ~1e5 ⇒ ≤ 2e15); z is ONE
    * mirrored float over (S, num18): (S − sign S)/√(num18/18),
    * round-4 + signed-zero. Series with ≤ 1 day or zero variance
    * yield NULL.
    *
    * Scale shape: one combinable daily collapse, one per-group
    * day-pair equi-self-join (bounded by the observation window²),
    * two combinable aggs. */
  def mannKendall(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily = Events.dailyCounts(events, col(groupCol).as("grp"), tsCol)
      .localCheckpoint(eager = false)
    val pairs = daily.select(col("grp"), col("day").as("d1"),
        col("y").as("y1"))
      .join(daily.select(col("grp"), col("day").as("d2"),
        col("y").as("y2")), Seq("grp"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("grp"))
      .agg(sum(signum(col("y2") - col("y1")).cast("long")).as("s"))
    val ties = daily.groupBy(col("grp"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("t")).as("n"),
        sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_num"))
    pairs.join(ties, Seq("grp"))
      .select(col("grp"), col("n").as("n_days"), col("s").as("s_stat"),
        (expr("n * (n - 1) * (2 * n + 5)") - col("tie_num"))
          .as("var_num18"),
        when(col("n") > 1 &&
          expr("n * (n - 1) * (2 * n + 5)") - col("tie_num") > 0,
          round((col("s") - signum(col("s")).cast("long"))
            .cast("double") /
            sqrt((expr("n * (n - 1) * (2 * n + 5)") - col("tie_num"))
              .cast("double") / 18.0), 4) + lit(0.0)).as("z"))
  }

  /** HASH-SEEDED PERMUTATION TEST (Fisher 1935; the exact-replayable
    * randomization form): does the observed two-group mean difference
    * exceed what random relabelings produce? For replicate b the unit's
    * label is the low bit of md5(id:b) — a deterministic fair coin both
    * engines compute identically (the q93 grouped-split draw) — and
    * p = (1 + #{|T_b| ≥ |T_obs|}) / (B + 1), the add-one Monte-Carlo
    * estimate that can never report zero. The assumption-free
    * significance card beside the parametric q231 SPRT and the q229
    * SMD balance check: no normality, no variance formula — just the
    * relabeling distribution itself.
    *
    * ALL-INTEGER (the strongest determinism class): means in micros by
    * floor division — `metricCol` must be NON-NEGATIVE (st ≥ 0 makes
    * Spark `div` == DuckDB `//`) with 1e6·Σx < 2^63 (Σx ≲ 9.2e12 —
    * same headroom family as q232); T = m_T − m_C an exact long;
    * the extreme-count compare and p_micros floor are integers.
    * Replicates that draw an empty arm (probability 2^−N — never at
    * any real N) yield NULL T_b and count as non-extreme on both
    * faces.
    *
    * Scale shape: ONE pass for the observed stat, one explode ×B into
    * ONE combinable agg keyed by b — B·N md5 rows map-side-combine to
    * B rows per partition, so the shuffle carries O(B·partitions)
    * regardless of N; the 1-row observed card broadcasts. */
  def permutationTest(df: DataFrame, treatedCol: Column, idCol: String,
                      metricCol: String, reps: Int = 200): DataFrame = {
    require(reps >= 1, "need at least one replicate")
    val base = df.select(col(idCol).cast("string").as("id"),
        when(treatedCol, 1L).otherwise(0L).as("g"),
        col(metricCol).cast("long").as("x"))
      .localCheckpoint(eager = false)
    val obs = base.agg(
        sum(col("g")).as("nt"), sum(lit(1L) - col("g")).as("nc"),
        sum(when(col("g") === 1, col("x")).otherwise(0L)).as("st"),
        sum(when(col("g") === 0, col("x")).otherwise(0L)).as("sc"))
      .select(col("nt"), col("nc"),
        (expr("(1000000L * st) div nt") -
          expr("(1000000L * sc) div nc")).as("t_obs"))
    val tb = base
      .select(col("id"), col("x"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      .select(col("b"), col("x"),
        (conv(substring(md5(concat(col("id"), lit(":"),
          col("b").cast("string"))), 1, 8), 16, 10).cast("long") % 2)
          .as("gb"))
      .groupBy(col("b"))
      .agg(sum(col("gb")).as("nt"), sum(lit(1L) - col("gb")).as("nc"),
        sum(when(col("gb") === 1, col("x")).otherwise(0L)).as("st"),
        sum(when(col("gb") === 0, col("x")).otherwise(0L)).as("sc"))
      .select(col("b"),
        when(col("nt") > 0 && col("nc") > 0,
          expr("(1000000L * st) div nt") -
            expr("(1000000L * sc) div nc")).as("t_b"))
    tb.crossJoin(broadcast(obs))
      .groupBy(col("nt"), col("nc"), col("t_obs"))
      .agg(sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L)
        .otherwise(0L)).as("n_extreme"))
      .select(col("nt").as("n_t"), col("nc").as("n_c"),
        col("t_obs").as("t_obs_micros"), lit(reps.toLong).as("reps"),
        col("n_extreme"),
        expr(s"(1000000L * (1L + n_extreme)) div ${reps + 1}L")
          .as("p_micros"))
  }

  /** [[permutationTest]] PER FAMILY MEMBER — the same hash-seeded
    * relabeling machinery keyed by `groupCol`, with ONE draw per
    * (unit, replicate) SHARED across members (the resampling-family
    * convention: each replicate applies one permutation to every
    * hypothesis, Westfall & Young 1993). Feeds [[fdrBh]].
    *
    * Determinism: identical to [[permutationTest]] (all-integer,
    * non-negative metric, md5(id:b) coin). Scale shape: B·rows md5
    * evaluations map-side-combining to B·|family| rows; the |family|
    * observed stats broadcast. */
  def permutationTestByGroup(df: DataFrame, groupCol: String,
                             treatedCol: Column, idCol: String,
                             metricCol: String, reps: Int = 100)
      : DataFrame = {
    require(reps >= 1, "need at least one replicate")
    val base = df.select(col(groupCol).as("grp"),
        col(idCol).cast("string").as("id"),
        when(treatedCol, 1L).otherwise(0L).as("g"),
        col(metricCol).cast("long").as("x"))
      .localCheckpoint(eager = false)
    val obs = base.groupBy(col("grp")).agg(
        sum(col("g")).as("nt"), sum(lit(1L) - col("g")).as("nc"),
        sum(when(col("g") === 1, col("x")).otherwise(0L)).as("st"),
        sum(when(col("g") === 0, col("x")).otherwise(0L)).as("sc"))
      .select(col("grp"), col("nt"), col("nc"),
        when(col("nt") > 0 && col("nc") > 0,
          expr("(1000000L * st) div nt") -
            expr("(1000000L * sc) div nc")).as("t_obs"))
    val tb = base
      .select(col("grp"), col("x"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"),
        col("id"))
      .select(col("grp"), col("b"), col("x"),
        (conv(substring(md5(concat(col("id"), lit(":"),
          col("b").cast("string"))), 1, 8), 16, 10).cast("long") % 2)
          .as("gb"))
      .groupBy(col("grp"), col("b"))
      .agg(sum(col("gb")).as("nt"), sum(lit(1L) - col("gb")).as("nc"),
        sum(when(col("gb") === 1, col("x")).otherwise(0L)).as("st"),
        sum(when(col("gb") === 0, col("x")).otherwise(0L)).as("sc"))
      .select(col("grp"),
        when(col("nt") > 0 && col("nc") > 0,
          expr("(1000000L * st) div nt") -
            expr("(1000000L * sc) div nc")).as("t_b"))
    tb.join(broadcast(obs), Seq("grp"))
      .groupBy(col("grp"), col("nt"), col("nc"), col("t_obs"))
      .agg(sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L)
        .otherwise(0L)).as("n_extreme"))
      .select(col("grp"), col("nt").as("n_t"), col("nc").as("n_c"),
        col("t_obs").as("t_obs_micros"), col("n_extreme"),
        expr(s"(1000000L * (1L + n_extreme)) div ${reps + 1}L")
          .as("p_micros"))
  }

  /** BENJAMINI–HOCHBERG FDR step-up (Benjamini & Hochberg 1995) over
    * a family of p-values — the multiple-testing correction every
    * many-segment dashboard needs: rank p ascending, find the largest
    * i with p_(i) ≤ i·α/m, reject ranks ≤ i. Controls the EXPECTED
    * share of false discoveries at α where per-test thresholds
    * silently fire α·m false alarms.
    *
    * ALL-INTEGER on micro p-values: the step condition is
    * p_micros·m ≤ i·α_micros (exact longs), the reported per-rank
    * threshold is (i·α_micros) div m, the rank tie-break is
    * (p, member) — a total order. `rejected` is 0/1.
    *
    * Scale shape: the family is card-sized BY DEFINITION (one row per
    * hypothesis) — the whole-frame rank window runs on one partition
    * of |family| rows; never feed row-scale data here. */
  def fdrBh(pv: DataFrame, memberCol: String, pCol: String,
            alphaMicros: Long = 100000L): DataFrame = {
    require(alphaMicros > 0 && alphaMicros < 1000000L,
      "alphaMicros must be in (0, 1e6)")
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col(pCol).asc, col(memberCol).asc)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy()
    pv.select(col(memberCol), col(pCol).cast("long").as("p_micros"))
      .withColumn("rnk", row_number().over(wAll).cast("long"))
      .withColumn("m", count(lit(1)).over(whole))
      .withColumn("istar",
        max(when(col("p_micros") * col("m") <=
          col("rnk") * lit(alphaMicros), col("rnk"))).over(whole))
      .select(col(memberCol), col("p_micros"), col("rnk"), col("m"),
        expr(s"(rnk * ${alphaMicros}L) div m").as("thr_micros"),
        when(col("rnk") <= coalesce(col("istar"), lit(0L)), 1L)
          .otherwise(0L).as("rejected"))
  }

  /** FAIRNESS AUDIT card (the EEOC four-fifths screen + Hardt et al.
    * 2016's equalized-odds reads): given unit-level (group, score,
    * label), predict positive = global top-`topDeciles` deciles of
    * score, then per group report selection rate, TPR, FPR, the
    * DISPARATE-IMPACT ratio against the highest-selection-rate group
    * (the four-fifths rule flags di < 0.8) and the equal-opportunity
    * gap (TPR − TPR_ref). The pre-deployment card for ANY ranked
    * selection — trainset admission, review queues, quality gates.
    *
    * ALL-INTEGER: rates in micros by floor div (counts ≥ 0); the DI
    * ratio avoids stacked floors via the exact cross-product form
    * (1e6·np_g·n_ref) div (n_g·np_ref) in decimal(38,0)/HUGEINT (the
    * q217 χ² route); reference = max selection rate, ties to the
    * smallest group key (total order). Groups with no positives yield
    * NULL TPR; the EO gap is NULL-propagating.
    *
    * Scale shape: one combinable per-group agg; the decile cut is a
    * GLOBAL ntile window over units (the q43/q204 RFM class — swap
    * for an approx-quantile threshold when units stop fitting a
    * window); the 1-row reference broadcasts. */
  def fairnessAudit(units: DataFrame, groupCol: Column, idCol: String,
                    scoreCol: String, labelCol: String,
                    topDeciles: Int = 3): DataFrame = {
    require(topDeciles >= 1 && topDeciles <= 9,
      "topDeciles must be in [1, 9]")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val scored = units.select(groupCol.as("seg"), col(idCol),
        col(scoreCol), col(labelCol).cast("long").as("label"))
      .withColumn("pred",
        when(ntile(10).over(w) <= topDeciles, 1L).otherwise(0L))
    val grp = scored.groupBy(col("seg")).agg(
        count(lit(1)).as("n"), sum(col("label")).as("npos"),
        sum(col("pred")).as("npred"),
        sum(when(col("pred") === 1 && col("label") === 1, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("label") === 0, 1L)
          .otherwise(0L)).as("fp"))
      .withColumn("sel_rate_micros", expr("(1000000L * npred) div n"))
      .withColumn("tpr_micros",
        when(col("npos") > 0, expr("(1000000L * tp) div npos")))
      .withColumn("fpr_micros", when(col("n") - col("npos") > 0,
        expr("(1000000L * fp) div (n - npos)")))
    val ref = grp
      .orderBy(col("sel_rate_micros").desc, col("seg").asc).limit(1)
      .select(col("n").as("rn"), col("npred").as("rnp"),
        col("tpr_micros").as("rtpr"))
    grp.crossJoin(broadcast(ref))
      .select(col("seg"), col("n").as("n_users"),
        col("npos").as("n_label_pos"), col("npred").as("n_pred_pos"),
        col("sel_rate_micros"), col("tpr_micros"), col("fpr_micros"),
        when(col("rnp") > 0,
          expr("cast(cast(1000000 * npred as decimal(38,0)) * rn" +
            " div (cast(n as decimal(38,0)) * rnp) as bigint)"))
          .as("di_micros"),
        (col("tpr_micros") - col("rtpr")).as("eo_gap_micros"))
  }

  /** OVERDISPERSION card (index of dispersion / variance-to-mean
    * ratio; Fisher 1950's dispersion test): per group, VMR of the
    * daily count series and the test statistic (n−1)·VMR ~ χ²_{n−1}
    * under Poisson. VMR ≈ 1 means Poisson assumptions (and their
    * tight CIs) are fine; VMR ≫ 1 — the usual case for user activity,
    * which is bursty (q203) — means every Poisson-based alert
    * threshold is over-confident and a negative-binomial or empirical
    * null (q233) is required. The diagnostic to run BEFORE q231's
    * parametric boundaries are trusted on count metrics.
    *
    * Determinism: exact daily counts; moments exact with
    * decimal(38,0)/HUGEINT squares (the r12 ladder); VMR and the χ²
    * stat are ONE mirrored float tree over the exact moments
    * (sample variance, n−1), round-4 + signed-zero. Groups with ≤ 1
    * day or zero mean yield NULL.
    *
    * Scale shape: one combinable daily collapse, one combinable
    * per-group moment agg — output is |groups| rows. */
  def overdispersion(events: DataFrame, groupCol: String,
                     tsCol: String): DataFrame = {
    val daily = Events.dailyCounts(events, col(groupCol).as("grp"), tsCol)
    val m = daily.groupBy(col("grp")).agg(
      count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    val varY = expr("cast(cast(n as decimal(38,0)) * syy" +
      " - cast(sy as decimal(38,0)) * sy as double)") /
      expr("cast(cast(n as decimal(38,0)) * (n - 1) as double)")
    val meanY = col("sy").cast("double") / col("n").cast("double")
    val valid = col("n") > 1 && col("sy") > 0
    m.select(col("grp"), col("n").as("n_days"), col("sy").as("sum_y"),
      expr("(1000000L * sy) div n").as("mean_micros"),
      when(valid, round(varY / meanY, 4) + lit(0.0)).as("vmr"),
      when(valid, round((col("n") - 1).cast("double") *
        (varY / meanY), 4) + lit(0.0)).as("chi2_stat"))
  }

  /** KENDALL'S τ-b rank correlation (Kendall 1938, tie-corrected)
    * between two DAILY metrics per group — volume (events) vs reach
    * (distinct users): τ = (C−D)/√((n₀−n₁)(n₀−n₂)). The pair-based
    * sibling of [[spearman]] (which correlates row ranks) and the
    * two-VARIABLE generalization of q230 (Mann–Kendall IS τ against
    * time); robust to any monotone rescaling of either metric.
    *
    * Determinism: C−D = Σ_{i<j} sign(Δx)·sign(Δy) is an exact long
    * from the day-pair self-join (the q205/q230 days² grid class);
    * tie terms n₁ = Σt(t−1)/2, n₂ likewise, n₀ = n(n−1)/2 exact; τ is
    * ONE mirrored float (C−D)/√(product) with the product carried in
    * decimal(38,0)/HUGEINT (n₀² passes int64 near 1e5 days), round-4
    * + signed-zero. Groups with either factor zero yield NULL.
    *
    * Scale shape: one combinable daily collapse, one per-group
    * day-pair equi-self-join bounded by the observation window²,
    * two combinable tie aggs. */
  def kendallTau(events: DataFrame, groupCol: String, userCol: String,
                 tsCol: String): DataFrame = {
    val daily = events
      .select(col(groupCol).as("grp"),
        Events.dayIndex(tsCol).as("day"), col(userCol).as("u"))
      .groupBy(col("grp"), col("day"))
      .agg(count(lit(1)).as("x"), count_distinct(col("u")).as("y"))
      .localCheckpoint(eager = false)
    val pairs = daily.select(col("grp"), col("day").as("d1"),
        col("x").as("x1"), col("y").as("y1"))
      .join(daily.select(col("grp"), col("day").as("d2"),
        col("x").as("x2"), col("y").as("y2")), Seq("grp"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("grp"))
      .agg(sum((signum(col("x2") - col("x1")) *
        signum(col("y2") - col("y1"))).cast("long")).as("cd"))
    def tieTerm(c: String, out: String) =
      daily.groupBy(col("grp"), col(c)).agg(count(lit(1)).as("t"))
        .groupBy(col("grp"))
        .agg(sum(expr("t * (t - 1)")).as(out))
        .select(col("grp"), expr(s"$out div 2").as(out))
    val n = daily.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val den = expr("cast(n * (n - 1) div 2 - n1 as decimal(38,0))" +
      " * (n * (n - 1) div 2 - n2)")
    pairs.join(tieTerm("x", "n1"), Seq("grp"))
      .join(tieTerm("y", "n2"), Seq("grp")).join(n, Seq("grp"))
      .select(col("grp"), col("n").as("n_days"),
        col("cd").as("conc_minus_disc"), col("n1").as("ties_x"),
        col("n2").as("ties_y"),
        when(den.cast("double") > 0.0,
          round(col("cd").cast("double") / sqrt(den.cast("double")), 4)
            + lit(0.0)).as("tau_b"))
  }

  /** HODGES–LEHMANN location estimator (Hodges & Lehmann 1963) per
    * group — the median of all pairwise Walsh averages (y_i + y_j)/2,
    * i ≤ j, of the daily count series: the robust "typical level"
    * with 30% breakdown AND near-parametric efficiency, where the
    * plain median throws efficiency away and the mean breaks on one
    * backfill day. The location sibling of q145's Theil–Sen slope
    * (which is HL applied to pairwise slopes).
    *
    * ALL-INTEGER: Walsh averages are carried DOUBLED (w2 = y_i + y_j,
    * exact longs); the median of the w2 multiset uses the rank-pick
    * identity hl_x4 = Σ(middle one-or-two w2) · (3 − picked), so
    * hl_micros = 250000·hl_x4 is exact with no division at all. Rank
    * order (w2, d1, d2) is total; equal w2 values make any rank
    * permutation pick the same VALUES, so the output is
    * order-independent.
    *
    * Scale shape: one combinable daily collapse, one per-group
    * day-pair self-join (days² — the q205/q230 grid class), one rank
    * window over each group's pairs. */
  def hodgesLehmann(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily = Events.dailyCounts(events, col(groupCol).as("grp"), tsCol)
      .localCheckpoint(eager = false)
    val pairs = daily.select(col("grp"), col("day").as("d1"),
        col("y").as("y1"))
      .join(daily.select(col("grp"), col("day").as("d2"),
        col("y").as("y2")), Seq("grp"))
      .filter(col("d1") <= col("d2"))
      .select(col("grp"), col("d1"), col("d2"),
        (col("y1") + col("y2")).as("w2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("w2").asc, col("d1").asc, col("d2").asc)
    val counts = pairs.groupBy(col("grp"))
      .agg(count(lit(1)).as("m"))
    val nd = daily.groupBy(col("grp")).agg(count(lit(1)).as("n_days"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq("grp"))
      .filter(col("rk") >= expr("(m + 1) div 2") &&
        col("rk") <= expr("(m + 2) div 2"))
      .groupBy(col("grp"), col("m"))
      .agg((sum(col("w2")) * (lit(3L) - count(lit(1)))).as("hl_x4"))
      .join(broadcast(nd), Seq("grp"))
      .select(col("grp"), col("n_days"), col("m").as("n_pairs"),
        (lit(250000L) * col("hl_x4")).as("hl_micros"))
  }

  /** WALD–WOLFOWITZ RUNS TEST (1940) per group — is the daily series'
    * above/below-median sequence RANDOM, or does it clump? Trend
    * tests (q230) miss oscillation and regime-clumping; the runs test
    * sees both: too FEW runs = sticky regimes (an alert that fires in
    * week-long clumps isn't "random noise"), too MANY = oscillation
    * (a thermostatting feedback loop). Days equal to the median are
    * dropped (the standard convention).
    *
    * Determinism: the median compare is exact (2·y vs the integer
    * med_x2 from the [[hodgesLehmann]] rank-pick identity — no float
    * median); runs count via one ordered lag window; μ and σ² terms
    * are exact with the 2n₁n₂ products carried in decimal(38,0)/
    * HUGEINT; z is ONE mirrored float tree (round-4 + signed-zero).
    * Groups with n₁ = 0 or n₂ = 0 yield NULL z.
    *
    * Scale shape: one combinable daily collapse, rank/lag windows
    * over per-group DAILY rows (the q153 tiny-partition class). */
  def runsTest(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily = Events.dailyCounts(events, col(groupCol).as("grp"), tsCol)
      .localCheckpoint(eager = false)
    val wMed = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("y").asc, col("day").asc)
    val med = daily
      .withColumn("rk", row_number().over(wMed).cast("long"))
      .join(broadcast(daily.groupBy(col("grp"))
        .agg(count(lit(1)).as("nd"))), Seq("grp"))
      .filter(col("rk") >= expr("(nd + 1) div 2") &&
        col("rk") <= expr("(nd + 2) div 2"))
      .groupBy(col("grp"))
      .agg((sum(col("y")) * (lit(3L) - count(lit(1)))).as("med_x2"))
    val signed = daily.join(broadcast(med), Seq("grp"))
      .filter(col("y") * 2 =!= col("med_x2"))
      .select(col("grp"), col("day"),
        when(col("y") * 2 > col("med_x2"), 1L).otherwise(0L).as("s"))
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("day").asc)
    val m = signed
      .withColumn("chg",
        when(lag(col("s"), 1).over(wSeq).isNull ||
          lag(col("s"), 1).over(wSeq) =!= col("s"), 1L).otherwise(0L))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("s")).as("n1"),
        sum(lit(1L) - col("s")).as("n2"), sum(col("chg")).as("r"))
    val mu = lit(1.0) + expr("cast(2 * n1 * n2 as double)") /
      col("n").cast("double")
    val sig2 = expr("cast(cast(2 as decimal(38,0)) * n1 * n2" +
      " * (2 * n1 * n2 - n) as double)") /
      expr("cast(cast(n as decimal(38,0)) * n * (n - 1) as double)")
    m.select(col("grp"), col("n").as("n_days_used"),
      col("n1").as("n_above"), col("n2").as("n_below"),
      col("r").as("n_runs"),
      when(col("n1") > 0 && col("n2") > 0 && col("n") > 1,
        round((col("r").cast("double") - mu) / sqrt(sig2), 4)
          + lit(0.0)).as("z"))
  }

  /** MINIMUM DETECTABLE EFFECT power card (the two-sample z
    * approximation; Cohen 1988): per segment, the smallest true
    * mean difference a 50/50 split of its n units could detect at
    * α = 0.05 two-sided with 80% power — MDE = (z_{α/2}+z_β)·√(2s²/n)
    * — and the relative MDE against the segment mean. The "is this
    * experiment even worth running here" sizing every A/B platform
    * (q229/q231/q233/q234) shows next to its results: a segment whose
    * relative MDE is 40% cannot confirm a 5% lift, whatever the
    * p-value machinery says.
    *
    * Determinism: exact moments (decimal(38,0)/HUGEINT squares, the
    * r12 ladder); MDE is ONE mirrored float tree with the z-constant
    * 2.8015852181129688 (z₀.₉₇₅ + z₀.₈₀) as an identical literal on
    * both faces (the build-time-constants convention), round-4/6 +
    * signed-zero. Segments with n ≤ 1 or zero variance/mean yield
    * NULL.
    *
    * Scale shape: one combinable per-segment moment agg; output is
    * |segments| rows. */
  def mdePower(df: DataFrame, groupCol: Column, metricCol: String)
      : DataFrame = {
    val m = df.select(groupCol.as("seg"),
        col(metricCol).cast("long").as("x"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
    val vx = expr("cast(cast(n as decimal(38,0)) * sxx" +
      " - cast(sx as decimal(38,0)) * sx as double)") /
      expr("cast(cast(n as decimal(38,0)) * (n - 1) as double)")
    val meanX = col("sx").cast("double") / col("n").cast("double")
    val mde = lit(2.8015852181129688) *
      sqrt(lit(2.0) * vx / col("n").cast("double"))
    m.select(col("seg"), col("n").as("n_units"),
      expr("(1000000L * sx) div n").as("mean_micros"),
      when(col("n") > 1 && vx > 0.0, round(mde, 4) + lit(0.0))
        .as("mde_abs"),
      when(col("n") > 1 && vx > 0.0 && col("sx") > 0,
        round(mde / meanX, 6) + lit(0.0)).as("mde_rel"))
  }

  /** WEIGHTED (exposure-adjusted) PERMUTATION TEST — [[permutationTest]]
    * where each unit carries (x, w) and the arm statistic is the
    * POOLED RATE (1e6·Σx) div Σw: the randomization test for ratio
    * metrics (conversion per event, revenue per session) whose naive
    * unweighted form q233 would let heavy users distort. The
    * assumption-free sibling of q234's delta-method CI, with the SAME
    * md5(id:b) draw (units permute whole, exposure travels with the
    * unit — the cluster-randomization rule).
    *
    * ALL-INTEGER (the q233 contract): x, w non-negative longs with
    * 1e6·Σ < 2^63; arms drawing zero exposure yield NULL T_b and
    * count non-extreme on both faces.
    *
    * Scale shape: identical to q233 — one observed pass, one
    * explode ×B into ONE combinable agg keyed by b. */
  def weightedPermutationTest(df: DataFrame, treatedCol: Column,
                              idCol: String, metricCol: String,
                              weightCol: String, reps: Int = 200)
      : DataFrame = {
    require(reps >= 1, "need at least one replicate")
    val base = df.select(col(idCol).cast("string").as("id"),
        when(treatedCol, 1L).otherwise(0L).as("g"),
        col(metricCol).cast("long").as("x"),
        col(weightCol).cast("long").as("w"))
      .localCheckpoint(eager = false)
    def arms(gCol: Column) = Seq(
      sum(when(gCol === 1, col("x")).otherwise(0L)).as("st"),
      sum(when(gCol === 0, col("x")).otherwise(0L)).as("sc"),
      sum(when(gCol === 1, col("w")).otherwise(0L)).as("wt"),
      sum(when(gCol === 0, col("w")).otherwise(0L)).as("wc"))
    val tExpr = expr("(1000000L * st) div wt") -
      expr("(1000000L * sc) div wc")
    val obsAggs = Seq(sum(col("g")).as("nt"),
      sum(lit(1L) - col("g")).as("nc")) ++ arms(col("g"))
    val obs = base
      .agg(obsAggs.head, obsAggs.tail: _*)
      .select(col("nt"), col("nc"),
        when(col("wt") > 0 && col("wc") > 0, tExpr).as("t_obs"))
    val tb = base
      .select(col("id"), col("x"), col("w"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      .select(col("b"), col("x"), col("w"),
        (conv(substring(md5(concat(col("id"), lit(":"),
          col("b").cast("string"))), 1, 8), 16, 10).cast("long") % 2)
          .as("gb"))
      .groupBy(col("b"))
      .agg(arms(col("gb")).head, arms(col("gb")).tail: _*)
      .select(col("b"),
        when(col("wt") > 0 && col("wc") > 0, tExpr).as("t_b"))
    tb.crossJoin(broadcast(obs))
      .groupBy(col("nt"), col("nc"), col("t_obs"))
      .agg(sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L)
        .otherwise(0L)).as("n_extreme"))
      .select(col("nt").as("n_t"), col("nc").as("n_c"),
        col("t_obs").as("t_obs_micros"), lit(reps.toLong).as("reps"),
        col("n_extreme"),
        expr(s"(1000000L * (1L + n_extreme)) div ${reps + 1}L")
          .as("p_micros"))
  }

  /** TUKEY IQR OUTLIER DAYS (the boxplot fence; Tukey 1977): per
    * group, flag days whose count falls outside
    * [Q1 − 1.5·IQR, Q3 + 1.5·IQR]. The robust complement to the
    * z-score day screens (q113) and the jackknife influence card
    * (q237): fences come from quartiles, so one crazy day cannot
    * widen the fence that should catch it.
    *
    * ALL-INTEGER: Q1/Q3 are nearest-rank order statistics
    * (⌈n/4⌉ = (n+3) div 4, ⌈3n/4⌉ = (3n+3) div 4 — single exact
    * rows under the (y, day) total order); fences carried DOUBLED
    * (lo_x2 = 2q1 − 3(q3−q1), hi_x2 = 2q3 + 3(q3−q1)) so 1.5·IQR
    * never divides; the flag compares 2y against them. Output is ONE
    * row per group — fences plus the low/high outlier-day counts and
    * the worst offender (max |excess| day, ties to the earlier day) —
    * so the card is never empty even on tame corpora.
    *
    * Scale shape: one combinable daily collapse, one per-group rank
    * window over daily rows, a ≤|groups|-row broadcast of fences,
    * one combinable flag agg. */
  def iqrOutlierDays(events: DataFrame, groupCol: String,
                     tsCol: String): DataFrame = {
    val daily = Events.dailyCounts(events, col(groupCol).as("grp"), tsCol)
      .localCheckpoint(eager = false)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("y").asc, col("day").asc)
    val nn = daily.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val rk = daily.withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(nn), Seq("grp"))
    val fences = rk
      .groupBy(col("grp"), col("n"))
      .agg(max(when(col("rk") === expr("(n + 3) div 4"), col("y")))
        .as("q1"),
        max(when(col("rk") === expr("(3 * n + 3) div 4"), col("y")))
          .as("q3"))
      .select(col("grp"), col("n").as("n_days"), col("q1"), col("q3"),
        expr("2 * q1 - 3 * (q3 - q1)").as("lo_x2"),
        expr("2 * q3 + 3 * (q3 - q1)").as("hi_x2"))
    daily.join(broadcast(fences), Seq("grp"))
      .groupBy(col("grp"), col("n_days"), col("q1"), col("q3"))
      .agg(
        sum(when(col("y") * 2 < col("lo_x2"), 1L).otherwise(0L))
          .as("n_low"),
        sum(when(col("y") * 2 > col("hi_x2"), 1L).otherwise(0L))
          .as("n_high"),
        max(when(col("y") * 2 < col("lo_x2") ||
          col("y") * 2 > col("hi_x2"),
          struct(abs(col("y") * 2 - when(col("y") * 2 > col("hi_x2"),
            col("hi_x2")).otherwise(col("lo_x2"))).as("ex"),
            (-col("day")).as("negday"), col("y").as("y"))))
          .as("worst"))
      .select(col("grp"), col("n_days"), col("q1"), col("q3"),
        col("n_low"), col("n_high"),
        (-col("worst.negday")).as("worst_day"),
        col("worst.y").as("worst_y"))
  }

  /** HILL TAIL-INDEX estimator (Hill 1975) — "how heavy is this
    * distribution's tail": α̂ = k / Σ_{i=1..k} ln(x_(i)/x_(k+1)) over
    * the top-(k+1) order statistics. α ≤ 2 means infinite variance
    * (plan for skew-robust aggregates), α near 1 means a few rows
    * dominate any sum — the quantitative version of the q134 Lorenz /
    * q115 Gini concentration cards, and the principled check before
    * trusting means at 100 TB.
    *
    * Determinism: order stats from ONE per-group top-(k+1) window
    * (value desc, id asc — the q26 tie contract); each ln(x_i/x_ref)
    * is a mirrored float over exact cents ROUNDED TO MICROS, the k
    * terms SUM AS LONGS (order-free), and α̂ = k·1e6/Σ is one final
    * mirrored float (round-4). Groups with fewer than k+1 positive
    * values drop (no tail to estimate). Zero/negative values are
    * excluded before ranking (ln domain).
    *
    * Scale shape: one per-group WindowGroupLimit top-(k+1), one
    * combinable agg — the q07 family. */
  def hillTailIndex(df: DataFrame, groupCol: String, valCol: Column,
                    idCol: Column, k: Int = 100): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val base = df.select(col(groupCol).as("grp"),
        round(valCol * 100).cast("long").as("cents"), idCol.as("id"))
      .filter(col("cents") > 0)
    val top = graft.ops.Windows.topKPerGroup(base, Seq(col("grp")),
      Seq(col("cents").desc, col("id").asc), k + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("cents").desc, col("id").asc)
    val ranked = top.withColumn("rk", row_number().over(w))
    val ref = ranked.filter(col("rk") === k + 1)
      .select(col("grp"), col("cents").as("x_ref"))
    ranked.filter(col("rk") <= k)
      .join(ref, Seq("grp"))
      .select(col("grp"),
        round(log(col("cents").cast("double") /
          col("x_ref").cast("double")) * 1e6).cast("long").as("lm"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_top"), sum(col("lm")).as("hill_sum_micros"))
      .filter(col("n_top") === k)
      .select(col("grp"), lit(k.toLong).as("k"),
        col("hill_sum_micros"),
        when(col("hill_sum_micros") > 0,
          round(lit(k.toDouble) * 1e6 /
            col("hill_sum_micros").cast("double"), 4)).as("alpha"))
  }

  /** PSIS k̂ DIAGNOSTIC (Vehtari, Simpson, Gelman, Yao & Gabry 2024,
    * "Pareto smoothed importance sampling") — "is this
    * importance-sampling reliable?": the generalized-Pareto shape k̂
    * of the importance-WEIGHT tail, with the published decision
    * threshold k̂ ≤ 0.7. Above it, importance estimates (every
    * DSIR-weighted mixture decision q109 feeds) have unusably heavy
    * tails — a few documents dominate the reweighted corpus and the
    * effective sample size collapses. Estimated on LOG-weights, the
    * GPD shape is the Hill mean-excess in closed form:
    * k̂ = (1/k) Σ_{i=1..k} (ln w_(i) − ln w_(k+1)) over the top-(k+1)
    * order statistics — EXACTLY [[hillTailIndex]]'s machinery
    * (k̂ = 1/α̂) applied to a log-scale column, so `logWeightCol`
    * plugs in q109's `avg_logratio` with NO exp anywhere. Output one
    * row: (n_weights, k, excess_sum_tenk, khat, reliable).
    *
    * Determinism: ordering (logWeight desc, id asc) is a total
    * order; the 4-dp log-weights convert to EXACT tenths-of-milli
    * integers (·10⁴) so every excess term and their sum are exact
    * longs (order-free); k̂ is ONE mirrored float division (round-4
    * + signed-zero — an all-equal tail rounds to −0.0 in neither
    * engine). Emits nothing when fewer than k+1 weights exist (no
    * tail to fit — the q223 contract).
    *
    * Scale shape: one global top-(k+1) WindowGroupLimit (k+1 rows
    * survive regardless of corpus), one combinable agg. The global
    * (unpartitioned) window runs over the ALREADY-REDUCED top-(k+1)
    * relation only. */
  def psisKhat(weights: DataFrame, logWeightCol: Column, idCol: Column,
               k: Int = 100): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val base = weights.select(
      round(logWeightCol * 10000).cast("long").as("lw"),
      idCol.as("id"))
    val top = graft.ops.Windows.topKPerGroup(base, Seq(lit(1)),
      Seq(col("lw").desc, col("id").asc), k + 1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lw").desc, col("id").asc)
    val ranked = top.withColumn("rk", row_number().over(w))
    val ref = ranked.filter(col("rk") === k + 1)
      .select(col("lw").as("lw_ref"))
    val n = weights.agg(count(lit(1)).as("n_weights"))
    ranked.filter(col("rk") <= k)
      .join(broadcast(ref), lit(true))
      .agg(count(lit(1)).as("n_top"),
        sum(col("lw") - col("lw_ref")).as("excess_sum_tenk"))
      .filter(col("n_top") === k)
      .join(broadcast(n), lit(true))
      .select(col("n_weights"), lit(k.toLong).as("k"),
        col("excess_sum_tenk"),
        (round(col("excess_sum_tenk").cast("double") /
          lit(k.toDouble * 10000.0), 4) + lit(0.0)).as("khat"))
      .withColumn("reliable", col("khat") <= 0.7)
  }

  /** EXACT ROC AUC via the Mann–Whitney rank-sum identity (Hanley &
    * McNeil 1982): AUC = U / (n⁺·n⁻) with U = R⁺ − n⁺(n⁺+1)/2, average
    * ranks on ties — the standard "does this score separate the
    * classes" eval for quality-classifier calibration, computed exactly
    * (no sampling, no histogram binning).
    *
    * Determinism: the distinct-value collapse (the q148 weighted-median
    * trick) makes ties exact — per distinct score: cnt, pos, and
    * cum = rows strictly below; the average rank of that tie group is
    * cum + (cnt+1)/2, so 2·R⁺ = Σ pos·(2·cum + cnt + 1) stays INTEGER
    * (the ½s cancel), and 2U = 2R⁺ − n⁺(n⁺+1) is the exact integer
    * numerator both engines agree on bit-for-bit; the one double
    * division rounds to 4. Zero-class groups emit NULL, never NaN.
    *
    * Scale shape: ONE combinable (group, score) count aggregation —
    * the corpus collapses to its distinct scores before anything else —
    * then a window over DISTINCT scores per group (bounded by score
    * cardinality, not row count; quality scores are quantized in
    * practice) and one combinable final agg. `scoreCol` must be
    * exact-valued (integer-like); floats with ulp noise would make tie
    * groups engine-dependent. */
  def rankSumAuc(df: DataFrame, groupCol: String, scoreCol: String,
                 labelCol: Column): DataFrame = {
    val per = df.groupBy(col(groupCol), col(scoreCol).as("s"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(labelCol, 1L).otherwise(0L)).as("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("s").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val u2 = col("r2") - col("n_pos") * (col("n_pos") + 1)
    per.withColumn("cum", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(sum(col("pos")).as("n_pos"),
        sum(col("cnt") - col("pos")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cum") + col("cnt") + 1)).as("r2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        u2.as("u2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(u2.cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 4))
          .as("auc"))
  }

  /** QUANTILE NORMALIZATION of a per-group score onto the POOLED
    * distribution (Bolstad et al. 2003's microarray move, reused
    * verbatim for calibrating quality scores across corpora: a "0.8
    * from source A" and a "0.8 from source B" rarely mean the same
    * thing; after normalization equal ranks mean equal values): each
    * row's within-group midpoint rank q = (2i−1)/(2n) maps to the
    * pooled distribution's value at that quantile, discretized to a
    * `gridSize`-point grid. ([[graft.ops.Sampling.quantileNormalize]]
    * stops at the within-group percentile itself — a fraction; this op
    * goes the further Bolstad step and lands every group on the POOLED
    * VALUE scale, so thresholds stay in score units.)
    *
    * ALL-INTEGER: the grid assignment is ((2i−1)·G) div (2n); the
    * pooled grid value for point g is the smallest v whose cumulative
    * count satisfies 2G·cum ≥ (2g+1)·N — computed by giving each
    * distinct value its OWN g-range [(2G·cumPrev+N) div 2N,
    * (2G·cum−N) div 2N] and exploding it (exactly G rows total, every
    * operand non-negative so truncating and flooring division agree
    * across engines). No float appears anywhere; the normalized score
    * IS a pooled value.
    *
    * Scale shape: pooled side collapses to distinct values (ONE
    * combinable count agg) before its single-partition cumulative
    * window — bounded by score cardinality, the q148/q160 distinct-
    * value precedent; the grid (`gridSize` rows) broadcasts back onto
    * the row side, whose only shuffle is the per-group rank window. */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
                        valCol: String, gridSize: Int = 100): DataFrame = {
    require(gridSize >= 1, "need gridSize >= 1")
    val g2 = lit(2L * gridSize)
    val rows = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
      col(valCol).cast("long").as("v"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val gridVals = rows.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wv))
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("nn"))))
      .select(col("v"),
        expr(s"(${2L * gridSize} * (cum - cnt) + nn) div (2 * nn)")
          .as("glo"),
        when(g2 * col("cum") >= col("nn"),
          expr(s"(${2L * gridSize} * cum - nn) div (2 * nn)"))
          .otherwise(lit(-1L)).as("ghi"))
      .filter(col("glo") <= col("ghi"))
      .select(col("v"), explode(sequence(col("glo"), col("ghi")))
        .as("gq"))
      .select(col("gq"), col("v").as("norm"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v").asc, col("id").asc)
    val szs = rows.groupBy(col("grp")).agg(count(lit(1)).as("gn"))
    rows.withColumn("i", row_number().over(wg).cast("long"))
      .join(broadcast(szs), "grp")
      .withColumn("gq",
        expr(s"((2 * i - 1) * $gridSize) div (2 * gn)"))
      .join(broadcast(gridVals), Seq("gq"))
      .select(col("id"), col("grp"), col("v"), col("norm"))
  }

  /** Two-sample KOLMOGOROV–SMIRNOV statistic, each group vs the REST
    * of the corpus — the nonparametric distribution-drift test that
    * completes the drift family (PSI/KL see binned mass, χ² sees
    * categories; KS sees the full CDF shape with no binning choice):
    * D = max over values of |F_group − F_rest|.
    *
    * EXACT INTEGERS until the last step: D's numerator is
    * max |cum₁·n₂ − cum₂·n₁| over the global distinct values (the sup
    * of a step function is attained where a step changes, and
    * evaluating at every global distinct value covers both families'
    * jumps); the single float op is the round-4 division by n₁·n₂.
    *
    * Scale shape: the corpus collapses to per-(group, value) counts
    * and global distinct-value cumulative counts (combinable aggs +
    * the q148/q160/q163 distinct-value window); the evaluation matrix
    * is groups × distinct values — both BOUNDED cardinalities (the
    * mixture-components argument), built by broadcasting the tiny
    * group-size table, never touching row volume again. */
  def ksAgainstRest(df: DataFrame, groupCol: String,
                    valCol: String): DataFrame = {
    val rows = df.select(col(groupCol).as("grp"),
      col(valCol).cast("long").as("v"))
    val perGV = rows.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c1"))
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val globalCum = rows.groupBy(col("v")).agg(count(lit(1)).as("cAll"))
      .withColumn("cumAll", sum(col("cAll")).over(wAll))
      .select(col("v"), col("cumAll"))
    val sizes = rows.groupBy(col("grp")).agg(count(lit(1)).as("n1"))
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("nn"))))
      .select(col("grp"), col("n1"), (col("nn") - col("n1")).as("n2"))
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    globalCum.join(broadcast(sizes), lit(true))
      .join(perGV, Seq("grp", "v"), "left")
      .withColumn("cum1", sum(coalesce(col("c1"), lit(0L))).over(wG))
      .withColumn("dnum",
        abs(col("cum1") * col("n2") - (col("cumAll") - col("cum1")) * col("n1")))
      .groupBy(col("grp"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("dnum")).as("d_num"))
      .select(col("grp"), col("n1"), col("n2"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n1") * col("n2")).cast("double"), 4).as("ks"))
  }

  /** SPEARMAN RANK CORRELATION per group — the monotone-association
    * screen beside Pearson trends (q162) and Kendall-free of
    * distribution assumptions: ρ_s = Pearson correlation of the
    * AVERAGE RANKS of the two columns. The data-quality reading: "does
    * quantity still order price" per segment — a rank-correlation
    * break flags unit mixups that means-based drift misses.
    *
    * Determinism (the q160 AUC move, applied twice): per column, ranks
    * come off the DISTINCT-VALUE collapse — a tie group's average rank
    * is cum + (cnt+1)/2, so DOUBLED ranks 2·cum + cnt + 1 are exact
    * integers; Pearson is scale-invariant, so correlating the doubled
    * ranks IS ρ_s. All five moments are exact integer sums; the one
    * float step divides by the product of two IEEE sqrt's of
    * integer-derived doubles (the q153 autocorrelation precedent),
    * round-4 + signed-zero. Zero-variance sides yield NULL, never NaN.
    * Overflow discipline: ranks enter the moments CENTERED — the mean
    * doubled rank is exactly n+1, so d = 2r − (n+1) is an exact
    * integer deviation, Σdx = 0 drops out, and every sum is bounded by
    * n³ (safe past 10⁹ rows per group in int64, where the raw-moment
    * n·Σ(2r)² form overflows at ~10⁵).
    *
    * Scale shape: two combinable (group, value) collapses, each with a
    * per-group distinct-value window (bounded by value cardinality),
    * two equi-joins back onto the rows + a broadcast group-size join,
    * one combinable moment agg → one row per group. */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    def ranks(vc: String, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("v").asc)
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      df.select(col(groupCol).as("grp"), col(vc).as("v"))
        .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col("grp"), col("v").as(vc),
          (lit(2L) * col("cum") + col("cnt") + 1L).as(out))
    }
    val sizes = df.select(col(groupCol).as("grp"))
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val joined = df.select(col(groupCol).as("grp"), col(xCol), col(yCol))
      .join(ranks(xCol, "rx"), Seq("grp", xCol))
      .join(ranks(yCol, "ry"), Seq("grp", yCol))
      .join(broadcast(sizes), Seq("grp"))
      .withColumn("dx", col("rx") - (col("n") + 1L))
      .withColumn("dy", col("ry") - (col("n") + 1L))
    joined.groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("grp"), col("n"),
        when(col("sxx") > 0 && col("syy") > 0,
          round(col("sxy").cast("double") /
            (sqrt(col("sxx").cast("double")) *
              sqrt(col("syy").cast("double"))), 4) + lit(0.0))
          .as("rho"))
  }

  /** ISOTONIC CALIBRATION (pool-adjacent-violators fit) of a binary
    * label against a bucketed score — the calibration FIX beside
    * [[calibrationCard]]'s calibration EVAL (Zadrozny & Elkan 2002;
    * the standard post-hoc calibrator when Platt's sigmoid shape is
    * wrong): the best monotone-nondecreasing probability curve through
    * the per-bucket observed rates, in weighted least squares.
    *
    * Distributed form: not the sequential stack-based PAVA (a chain
    * algorithm with no parallel structure) but its CLOSED FORM, the
    * minimax identity fit(i) = max_{j≤i} min_{k≥i} avg(y[j..k])
    * (Robertson–Wright–Dykstra 1988 §1.2) over the BUCKET-collapsed
    * relation: B buckets yield O(B³) (i, j, k) triples of exact
    * prefix-sum averages — embarrassingly parallel joins, and B is a
    * calibration-resolution constant (tens), not a data size. The
    * monotone j/k ranges make the result nondecreasing in i REGARDLESS
    * of how the interval averages are rounded, so flooring to micros
    * keeps both the contract exact and the output isotonic.
    *
    * ALL-INTEGER: interval average = (1e6·Σpos) div Σcnt off exact
    * prefix sums; max/min over longs. The one single-partition window
    * (prefix sums over B buckets) is the q61 bucket-total precedent.
    * Output: (b, n, pos, raw_micros, fit_micros), fit nondecreasing. */
  def isotonicCalibration(df: DataFrame, scoreBucket: Column,
                          labelCol: Column): DataFrame = {
    val per = df.select(scoreBucket.as("b"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val wc = org.apache.spark.sql.expressions.Window.orderBy(col("b").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = per
      .withColumn("cn", sum(col("n")).over(wc))
      .withColumn("cp", sum(col("pos")).over(wc))
      .localCheckpoint(eager = false)
    val lo = cum.select(col("b").as("j"), (col("cn") - col("n")).as("cn0"),
      (col("cp") - col("pos")).as("cp0"))
    val hi = cum.select(col("b").as("k"), col("cn").as("cn1"),
      col("cp").as("cp1"))
    val ivals = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(1000000L * (cp1 - cp0)) div (cn1 - cn0)").as("avg_micros"))
    val idx = cum.select(col("b").as("i"))
    val fit = idx
      .join(ivals, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j"))
      .agg(min(col("avg_micros")).as("mm"))
      .groupBy(col("i"))
      .agg(max(col("mm")).as("fit_micros"))
    cum.join(fit, col("b") === col("i"))
      .select(col("b"), col("n"), col("pos"),
        expr("(1000000L * pos) div n").as("raw_micros"),
        col("fit_micros"))
  }

  /** COHEN'S KAPPA agreement card (Cohen 1960) — chance-corrected
    * agreement between two labelers over the same rows: κ =
    * (p_o − p_e)/(1 − p_e) with p_o the observed agreement and p_e
    * the agreement two independent raters with these marginals would
    * reach by luck. THE annotation-QA number — raw agreement flatters
    * any skewed label set (two raters stamping 90% "en" agree 81% by
    * chance alone), and every labeling pipeline (human or
    * model-as-judge) gates on κ, not accuracy.
    *
    * Exact integers end-to-end: with A = Σ agree, E = Σ_c row_c·col_c
    * (marginal products), κ = (n·A − E)/(n² − E) — one sign-symmetric
    * micros division; p_o, p_e floor to micros off the same counts.
    * Degenerate marginals (n² = E: both raters constant) → NULL κ.
    * Overflow: E ≤ n² — int64 to ~3e9 rows; decimal-promote past.
    *
    * Scale shape: one combinable (a, b) cell count; everything after
    * is class-cardinality-sized (marginal join + 1-row card). */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column)
      : DataFrame = {
    val cells = df.select(raterA.as("a"), raterB.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val tot = cells.agg(sum(col("cnt")).as("n"),
      sum(when(col("a") === col("b"), col("cnt")).otherwise(0L))
        .as("agree"))
    val ra = cells.groupBy(col("a")).agg(sum(col("cnt")).as("r"))
    val sb = cells.groupBy(col("b").as("a")).agg(sum(col("cnt")).as("s"))
    val e = ra.join(sb, Seq("a"))
      .agg(coalesce(sum(col("r") * col("s")), lit(0L)).as("e"))
    tot.crossJoin(e)
      .select(col("n"), col("agree"),
        expr("(1000000L * agree) div n").as("po_micros"),
        expr("(1000000L * e) div (n * n)").as("pe_micros"),
        when(col("n") * col("n") - col("e") > 0,
          signum(col("n") * col("agree") - col("e")).cast("long") *
            expr("(1000000L * abs(n * agree - e)) div (n * n - e)"))
          .as("kappa_micros"))
  }

  /** COCHRAN–MANTEL–HAENSZEL pooled odds ratio (Mantel & Haenszel
    * 1959) — "is exposure associated with outcome, CONTROLLING for a
    * stratifying confounder": per stratum k the 2×2 cells
    * (a = exposed∧outcome, b = exposed∧¬outcome, c = ¬exposed∧outcome,
    * d = neither), OR_MH = Σ_k a_k·d_k/n_k ÷ Σ_k b_k·c_k/n_k. Reported
    * BESIDE the crude (collapsed-table) odds ratio so a Simpson's-
    * paradox reversal is visible in one row — the confounding screen
    * q201's Mahalanobis and the q231 SMD balance card lead into.
    *
    * Determinism: the per-stratum fractions floor to micros on the
    * decimal(38,0) ladder — num = Σ (1e6·a·d) div n, den likewise —
    * so the pooled sums are EXACT integers (order-free), and OR_MH is
    * ONE mirrored double division, round-4 (per-term floor error
    * < 1 micro·strata, the q205/q207 discipline). The crude OR divides
    * two exact decimal products. den = 0 or BC = 0 → NULL, never a
    * fabricated ∞. try_cast reports the micros sums (NULL past int64 —
    * the TWAP overflow contract).
    *
    * Scale shape: ONE combinable 4-cell count per stratum; everything
    * after is |strata|-sized. Output: one row (n_strata, num_micros,
    * den_micros, or_mh, or_crude). */
  def cmhOddsRatio(df: DataFrame, stratum: Column, exposed: Column,
                   outcome: Column): DataFrame = {
    val cells = df
      .select(stratum.as("s"), exposed.cast("boolean").as("e"),
        outcome.cast("boolean").as("o"))
      .filter(col("e").isNotNull && col("o").isNotNull)
      .groupBy(col("s"))
      .agg(
        sum(when(col("e") && col("o"), 1L).otherwise(0L)).as("a"),
        sum(when(col("e") && !col("o"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("e") && col("o"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("e") && !col("o"), 1L).otherwise(0L)).as("d"))
      .localCheckpoint(eager = false)
    val pooled = cells.agg(
      count(lit(1)).as("n_strata"),
      sum(expr("(cast(a as decimal(38,0)) * d * 1000000)" +
        " div (a + b + c + d)")).as("num"),
      sum(expr("(cast(b as decimal(38,0)) * c * 1000000)" +
        " div (a + b + c + d)")).as("den"),
      sum(col("a")).as("ta"), sum(col("b")).as("tb"),
      sum(col("c")).as("tc"), sum(col("d")).as("td"))
    pooled.select(col("n_strata"),
      expr("try_cast(num as bigint)").as("num_micros"),
      expr("try_cast(den as bigint)").as("den_micros"),
      round(when(col("den") > 0,
        col("num").cast("double") / col("den").cast("double")), 4)
        .as("or_mh"),
      round(when(col("tb") > 0 && col("tc") > 0,
        (col("ta").cast("decimal(38,0)") * col("td")).cast("double") /
          (col("tb").cast("decimal(38,0)") * col("tc")).cast("double")),
        4).as("or_crude"))
  }

  /** BRESLOW–DAY HOMOGENEITY TEST (Breslow & Day 1980 §IV.4) — the
    * mandatory companion to [[cmhOddsRatio]]: the pooled OR_MH is
    * only meaningful if the per-stratum odds ratios are HOMOGENEOUS,
    * and this is the test that checks it. Per stratum, the expected
    * exposed-outcome cell ã under the common OR ψ solves the
    * hypergeometric quadratic
    * (ψ−1)ã² − [ψ(m1+n1) + (m0−n1)]ã + ψ·m1·n1 = 0 (the in-range
    * root), the asymptotic variance is 1/(1/ã+1/b̃+1/c̃+1/d̃), and
    * X² = Σ (a−ã)²/V on K−1 df. A large X² means the "controlled"
    * q271 estimate is averaging genuinely different effects — report
    * per-stratum ORs instead. ψ is the REPORTED 4-dp OR_MH (the
    * published two-stage procedure evaluates homogeneity at the MH
    * estimate; using the rounded value keeps both engines on one
    * number). Tarone's correction term is omitted (documented: it is
    * O(1/Σ V) and needs no new relations if wanted later).
    *
    * Determinism: cells/margins are exact longs; each stratum's
    * float chain (quadratic root with identical parenthesization +
    * association both engines, sqrt/divisions) rounds to EXACT MICROS
    * and the strata sum runs over longs; the final X² is one mirrored
    * division + round-4. Strata with any empty margin carry no
    * homogeneity information and are excluded from both the sum and
    * the df (n_used reports how many remain); n_used < 2 ⇒ NULL X²
    * (nothing to compare).
    *
    * Scale shape: the q271 shape exactly — ONE combinable 4-cell
    * count per stratum, |strata|-sized everything after. */
  def breslowDay(df: DataFrame, stratum: Column, exposed: Column,
                 outcome: Column): DataFrame = {
    val cells = df
      .select(stratum.as("s"), exposed.cast("boolean").as("e"),
        outcome.cast("boolean").as("o"))
      .filter(col("e").isNotNull && col("o").isNotNull)
      .groupBy(col("s"))
      .agg(
        sum(when(col("e") && col("o"), 1L).otherwise(0L)).as("a"),
        sum(when(col("e") && !col("o"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("e") && col("o"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("e") && !col("o"), 1L).otherwise(0L)).as("d"))
      .localCheckpoint(eager = false)
    val orRel = cells.agg(
        sum(expr("(cast(a as decimal(38,0)) * d * 1000000)" +
          " div (a + b + c + d)")).as("num"),
        sum(expr("(cast(b as decimal(38,0)) * c * 1000000)" +
          " div (a + b + c + d)")).as("den"))
      .select(round(when(col("den") > 0,
        col("num").cast("double") / col("den").cast("double")), 4)
        .as("psi"))
    val m1 = (col("a") + col("b")).cast("double")
    val m0 = (col("c") + col("d")).cast("double")
    val n1 = (col("a") + col("c")).cast("double")
    val nT = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val terms = cells.join(broadcast(orRel), lit(true))
      .withColumn("used",
        col("a") + col("b") > 0 && col("c") + col("d") > 0 &&
        col("a") + col("c") > 0 && col("b") + col("d") > 0)
      .withColumn("qa", col("psi") - lit(1.0))
      .withColumn("qb",
        -(col("psi") * (m1 + n1) + (m0 - n1)))
      .withColumn("qc", col("psi") * m1 * n1)
      .withColumn("at",
        when(col("psi") === 1.0, (m1 * n1) / nT)
          .otherwise {
            val s = sqrt(greatest(
              col("qb") * col("qb") - lit(4.0) * col("qa") * col("qc"),
              lit(0.0)))
            val r1 = (-col("qb") - s) / (lit(2.0) * col("qa"))
            val r2 = (-col("qb") + s) / (lit(2.0) * col("qa"))
            val lo = greatest(lit(0.0), n1 - m0)
            val hi = least(m1, n1)
            when(r1 >= lo && r1 <= hi, r1).otherwise(r2)
          })
      .withColumn("bt", m1 - col("at"))
      .withColumn("ct", n1 - col("at"))
      .withColumn("dt", (m0 - n1) + col("at"))
      .withColumn("tm",
        when(col("used") && col("at") > 0 && col("bt") > 0 &&
          col("ct") > 0 && col("dt") > 0,
          round(((col("a").cast("double") - col("at")) *
            (col("a").cast("double") - col("at")) *
            ((lit(1.0) / col("at") + lit(1.0) / col("bt")) +
              (lit(1.0) / col("ct") + lit(1.0) / col("dt")))) *
            lit(1000000.0)).cast("long"))
          .otherwise(0L))
    terms.groupBy(col("psi"))
      .agg(count(lit(1)).as("n_strata"),
        sum(when(col("used"), 1L).otherwise(0L)).as("n_used"),
        sum(col("tm")).as("x2_micros"))
      .select(col("n_strata"), col("n_used"),
        col("psi").as("or_mh"), col("x2_micros"),
        when(col("n_used") >= 2 && col("psi").isNotNull,
          round(col("x2_micros").cast("double") / lit(1000000.0), 4)
            + lit(0.0)).as("bd_x2"),
        when(col("n_used") >= 2 && col("psi").isNotNull,
          col("n_used") - 1).as("df"))
  }

  /** ONE-WAY ANOVA F (Fisher 1925) — "do the group means differ more
    * than chance", the k-group generalization of the two-sample mean
    * test the experiment cards stop at: F = (SSB/(k−1))/(SSW/(N−k))
    * over the between/within sum-of-squares decomposition, with
    * η² = SSB/SST reported beside it (effect size — an F can be huge
    * on a huge N while explaining nothing).
    *
    * Determinism: values enter as EXACT cents (the q119 contract);
    * per-group term t_g = (1e6·S_g²) div n_g floors on the
    * decimal(38,0) ladder so the pooled sums are exact order-free
    * integers (the q271/q205 per-term-floor discipline);
    * SSB = Σt_g − (1e6·S²) div N and SSW = 1e6·ΣX² − Σt_g are exact
    * decimals; F and η² are ONE mirrored double division each,
    * round-4, NULL when degenerate (k < 2, N ≤ k, or SSW/SST = 0).
    * Ladder bound: 1e6·S² needs S < ~1e16 cents — documented, the
    * q201 moment-card class.
    *
    * Scale shape: ONE combinable (n, Σ, Σ²) agg per group; everything
    * after is k-sized. Output: one row (k, n, f_stat, eta_sq). */
  def anovaF(df: DataFrame, groupCol: Column, valueCol: Column)
      : DataFrame = {
    val cents = round(valueCol * 100).cast("long")
    val g = df.select(groupCol.as("g"), cents.as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("ss"))
    val p = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("s")).as("stot"), sum(col("ss")).as("sstot"),
      sum(expr("(cast(s as decimal(38,0)) * s * 1000000) div n"))
        .as("tg"))
    p.select(col("k"), col("nn").as("n"),
        (col("tg") - expr("(cast(stot as decimal(38,0)) * stot" +
          " * 1000000) div nn")).as("ssb"),
        (col("sstot") * lit(1000000L) - col("tg")).as("ssw"))
      .select(col("k"), col("n"),
        round(when(col("k") > 1 && col("n") > col("k") &&
          col("ssw") > 0,
          (col("ssb").cast("double") * (col("n") - col("k"))
            .cast("double")) /
            (col("ssw").cast("double") * (col("k") - 1)
              .cast("double"))), 4).as("f_stat"),
        round(when(col("ssb") + col("ssw") > 0,
          col("ssb").cast("double") /
            (col("ssb") + col("ssw")).cast("double")), 4)
          .as("eta_sq"))
  }

  /** COCHRAN'S Q (Cochran 1950) — "do these k paired binary labelers
    * fire at the same rate", the k-labeler generalization of
    * [[mcnemar]] (k = 2 reduces to it): over n rows each labeled by
    * all k flags, Q = (k−1)·(k·ΣC_j² − (ΣC_j)²)/(k·ΣR_i − ΣR_i²) with
    * C_j the per-labeler totals and R_i the per-row success counts.
    * The ensemble-QA gate when a curation pipeline runs several
    * quality screens over the same documents: high Q says the screens
    * disagree SYSTEMATICALLY (one over-fires), not just noisily.
    *
    * Determinism: all sums are exact integers (C_j² on the
    * decimal(38,0) ladder); Q is ONE mirrored double division,
    * round-4. Degenerate denominator (every row unanimous — all 0s or
    * all ks) → NULL. Rows with ANY null flag are dropped (a paired
    * test needs complete rows).
    *
    * Scale shape: ONE combinable (k+3)-column agg; 1-row card. */
  def cochranQ(df: DataFrame, flags: Seq[Column]): DataFrame = {
    require(flags.size >= 2, "need at least two labelers")
    val k = flags.size
    val named = df.select(flags.zipWithIndex.map { case (f, i) =>
      f.cast("boolean").as(s"f$i") }: _*)
    val base = named
      .filter((0 until k).map(i => col(s"f$i").isNotNull)
        .reduce(_ && _))
      .select((0 until k).map(i =>
        col(s"f$i").cast("long").as(s"x$i")) :+
        (0 until k).map(i => col(s"f$i").cast("long"))
          .reduce(_ + _).as("r"): _*)
    val aggs = (0 until k).map(i => sum(col(s"x$i")).as(s"c$i")) ++
      Seq(count(lit(1)).as("n"), sum(col("r")).as("sr"),
        sum(col("r") * col("r")).as("sr2"))
    val a = base.agg(aggs.head, aggs.tail: _*)
    val sc2 = (0 until k).map(i =>
      col(s"c$i").cast("decimal(38,0)") * col(s"c$i")).reduce(_ + _)
    val sc = (0 until k).map(i => col(s"c$i")).reduce(_ + _)
    a.select(lit(k.toLong).as("k"), col("n"),
      round(when(lit(k.toLong) * col("sr") - col("sr2") > 0,
        (lit((k - 1).toLong).cast("decimal(38,0)") *
          (lit(k.toLong) * sc2 - sc.cast("decimal(38,0)") * sc))
          .cast("double") /
          (lit(k.toLong) * col("sr") - col("sr2")).cast("double")), 4)
        .as("q_stat"))
  }

  /** KRUSKAL–WALLIS H (Kruskal & Wallis 1952) — the RANK-based k-group
    * location test: [[anovaF]] without the normality/variance
    * assumptions (heavy-tailed engagement metrics are exactly where
    * the mean-based F lies), and the k-group generalization of q160's
    * Mann–Whitney identity. H = 12/(N(N+1))·Σ_g R_g²/n_g − 3(N+1)
    * with average ranks on ties, plus the tie-corrected
    * H_c = H/(1 − ΣT/(N³−N)), T = t³−t per tie group.
    *
    * Determinism (the q160 doubled-rank move): per DISTINCT value the
    * tie group's average rank doubles to the INTEGER 2·cum + t + 1, so
    * every group's doubled rank sum r2_g = Σ cnt·(2·cum + t + 1) is
    * exact; Σ R_g²/n_g floors per term to micros on the decimal(38,0)
    * ladder (u = Σ (1e6·r2_g²) div (4·n_g) — the ÷4 undoes the
    * doubling); H and the correction are ONE mirrored double
    * expression each, round-4. All-tied input (N³−N = ΣT) → H_c NULL.
    * Values enter as exact cents (q119); float scores with ulp noise
    * would make tie groups engine-dependent — same contract as q160.
    *
    * Scale shape: ONE combinable (group, value) count, one window over
    * DISTINCT values (bounded by value cardinality), k-sized tail.
    * Output: one row (k, n, h_stat, h_corrected). */
  def kruskalWallis(df: DataFrame, groupCol: Column, valueCol: Column)
      : DataFrame = {
    val cents = round(valueCol * 100).cast("long")
    val per = df.select(groupCol.as("g"), cents.as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val vc = per.groupBy(col("v")).agg(sum(col("cnt")).as("t"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val vr = vc
      .withColumn("cum", coalesce(sum(col("t")).over(w), lit(0L)))
    val r2 = per.join(vr.select(col("v"), col("t"), col("cum")), Seq("v"))
      .groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_g"),
        sum(col("cnt") *
          (lit(2L) * col("cum") + col("t") + 1)).as("r2"))
    val ties = vc.agg(coalesce(sum(
      col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t")),
      lit(0L).cast("decimal(38,0)")).as("tsum"))
    val p = r2.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(expr("(cast(r2 as decimal(38,0)) * r2 * 1000000)" +
          " div (4 * n_g)")).as("u"))
      .crossJoin(broadcast(ties))
    val h = lit(12.0) * col("u").cast("double") /
      (lit(1000000.0) * col("n").cast("double") *
        (col("n") + 1).cast("double")) -
      lit(3.0) * (col("n") + 1).cast("double")
    val n3n = expr("cast(n as decimal(38,0)) * n * n - n")
    p.select(col("k"), col("n"),
      round(when(col("k") > 1 && col("n") > 1, h), 4).as("h_stat"),
      round(when(col("k") > 1 && col("n") > 1 && n3n > col("tsum"),
        h / (lit(1.0) - col("tsum").cast("double") /
          n3n.cast("double"))), 4).as("h_corrected"))
  }

  /** McNEMAR'S TEST (McNemar 1947) — the DIRECTION-of-disagreement
    * reader beside [[cohensKappa]]'s agreement scalar, for PAIRED
    * binary labelers on the same rows: only the discordant cells
    * matter (b = A-only, c = B-only), and χ² = (b−c)²/(b+c) asks
    * whether the two labelers' marginal rates differ — two classifiers
    * can agree 95% (great κ) while one systematically over-fires, and
    * THIS is the statistic that sees it. χ²_cc reports Edwards'
    * continuity-corrected (|b−c|−1)²/(b+c) beside the plain form.
    *
    * Determinism: b, c are exact counts; (b−c)² is exact long
    * arithmetic (decimal-promoted); each χ² is ONE mirrored double
    * division, round-4; b + c = 0 (no disagreement at all) → NULL,
    * never a fabricated 0.
    *
    * Scale shape: ONE combinable 2-cell count; 1-row card. */
  def mcnemar(df: DataFrame, flagA: Column, flagB: Column): DataFrame = {
    val cells = df
      .select(flagA.cast("boolean").as("a"), flagB.cast("boolean").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("b_only"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("c_only"))
    cells.select(col("n"), col("b_only"), col("c_only"),
      round(when(col("b_only") + col("c_only") > 0,
        ((col("b_only") - col("c_only")).cast("decimal(38,0)") *
          (col("b_only") - col("c_only"))).cast("double") /
          (col("b_only") + col("c_only")).cast("double")), 4)
        .as("chi2"),
      round(when(col("b_only") + col("c_only") > 0,
        ((abs(col("b_only") - col("c_only")) - 1).cast("decimal(38,0)") *
          (abs(col("b_only") - col("c_only")) - 1)).cast("double") /
          (col("b_only") + col("c_only")).cast("double")), 4)
        .as("chi2_cc"))
  }

  /** WEIGHT-OF-EVIDENCE / INFORMATION-VALUE card — the credit-scoring
    * feature screen (Siddiqi 2006): bucket a numeric feature into
    * quantile tiles, per tile WOE = ln(pos-share / neg-share), and the
    * feature's Information Value IV = Σ (pos-share − neg-share)·WOE.
    * The interpretable complement to [[giniStump]] (which finds ONE
    * split; WOE maps the whole response curve and IV one-numbers the
    * feature: < 0.02 useless, > 0.3 strong).
    *
    * Determinism: tiles via ntile over (value, id) — q43 contract;
    * WOE's one float op is ln of a ratio of EXACT integer products
    * (pos_t·neg_total vs neg_t·pos_total — no intermediate float
    * shares), rounded to integer micros immediately (the q82 ln
    * contract); each tile's IV contribution is then pure integer
    * arithmetic — (share-diff micros × woe micros) sign-symmetric div
    * 1e6 — so the per-feature total is a sum of exact longs, immune
    * to float summation order. One-class tiles (pos or neg empty)
    * have undefined WOE: NULL, excluded from IV (the standard
    * zero-cell treatment; smoothing is a caller-side choice).
    * Output: per (feature, tile) rows carrying the tile's WOE and IV
    * contribution, plus one total row per feature (tile NULL) with
    * the summed IV.
    *
    * Scale shape: per feature one global ntile window (q204/RFM
    * precedent), one combinable tile agg, a broadcast totals join;
    * tiles ≪ rows everywhere past the first agg. */
  def woeIv(df: DataFrame, labelCol: Column, idCol: Column,
            features: Seq[String], buckets: Int = 5): DataFrame = {
    require(features.nonEmpty && buckets >= 2,
      "need features and buckets >= 2")
    val tiles = features.map { f =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("x").asc, col("rid").asc)
      df.select(col(f).cast("double").as("x"), idCol.as("rid"),
          when(labelCol, 1L).otherwise(0L).as("y"))
        .withColumn("tile", ntile(buckets).over(w).cast("long"))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        .select(lit(f).as("feature"), col("tile"), col("n"), col("pos"))
    }.reduce(_ unionByName _).localCheckpoint(eager = false)
    val totals = tiles.groupBy(col("feature"))
      .agg(sum(col("pos")).as("pos_tot"),
        sum(col("n") - col("pos")).as("neg_tot"))
    val b = tiles.join(broadcast(totals), Seq("feature"))
      .withColumn("neg", col("n") - col("pos"))
      .withColumn("woe_micros",
        when(col("pos") > 0 && col("neg") > 0,
          round(log((col("pos") * col("neg_tot")).cast("double") /
            (col("neg") * col("pos_tot")).cast("double")) *
            lit(1000000.0)).cast("long")))
      .withColumn("sd_micros",
        expr("(1000000L * pos) div pos_tot") -
          expr("(1000000L * neg) div neg_tot"))
      .withColumn("iv_micros",
        when(col("woe_micros").isNotNull,
          signum(col("sd_micros") * col("woe_micros")).cast("long") *
            expr("abs(sd_micros * woe_micros) div 1000000L")))
      .localCheckpoint(eager = false)
    val total = b.groupBy(col("feature"))
      .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"),
        sum(col("iv_micros")).as("iv_micros"))
      .select(col("feature"), lit(null).cast("long").as("tile"),
        col("n"), col("pos"), lit(null).cast("long").as("woe_micros"),
        col("iv_micros"))
    b.select(col("feature"), col("tile"), col("n"), col("pos"),
        col("woe_micros"), col("iv_micros"))
      .unionByName(total)
  }

  /** WASSERSTEIN-1 (earth mover's) drift distance — per group vs the
    * REST of the corpus, over an integer-valued column: W₁ =
    * ∫|F_g − F_rest| dv, the drift metric that (unlike KS, q166) sees
    * HOW FAR mass moved, not just the worst single gap — the
    * magnitude-aware screen for "did quantities shift by one bucket or
    * ten". Computed on the global distinct-value jumps: per
    * consecutive value pair, |cum_g·n_rest − cum_rest·n_g| · gap,
    * normalized by n_g·n_rest.
    *
    * Determinism/overflow: every CDF-gap term floors to micros
    * INDEPENDENTLY — ((1e6·|Δ|) div (n_g·n_rest))·gap summed — with
    * Δ = cum_g·n_rest − cum_rest·n_g and the 1e6 scale carried in
    * decimal(38,0) (Spark) / HUGEINT (DuckDB): |Δ| ≤ n_g·n_rest ≤
    * n²/4, so the int64 form overflows around n ≈ 6e6 rows — far
    * below warehouse scale — while the 128-bit domain is exact to
    * n ≈ 6e15 (the mahalanobis ladder; spec-pinned past the old
    * bound). Each post-division term is ≤ 1e6·gap, back inside int64,
    * and the term sum is ≤ 1e6·(value range).
    * The per-term floor is the documented contract: both faces floor
    * identically, and the true W₁ exceeds the reported value by less
    * than (value range) micros — a quantization the drift DECISION
    * never feels. NULL when a side is empty.
    *
    * Scale shape: one combinable (group, value) collapse, per-group
    * windows over the distinct-value grid (the q166 evaluation-matrix
    * shape: groups × distinct values), one combinable sum. */
  def wassersteinDrift(df: DataFrame, groupCol: String, valCol: Column)
      : DataFrame = {
    val per = df.select(col(groupCol).as("grp"),
        valCol.cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val grid = per.groupBy(col("v")).agg(sum(col("cnt")).as("cnt_all"))
      .localCheckpoint(eager = false)
    val sizes = per.groupBy(col("grp")).agg(sum(col("cnt")).as("n_g"))
    val tot = grid.agg(sum(col("cnt_all")).as("n")).localCheckpoint()
    // every group × every grid value (groups ≪ rows; the q166 matrix)
    val matrix = sizes.crossJoin(broadcast(tot))
      .join(grid.crossJoin(broadcast(sizes.select(col("grp")))),
        Seq("grp"))
      .join(per, Seq("grp", "v"), "left")
      .select(col("grp"), col("v"), col("n_g"), col("n"),
        col("cnt_all"), coalesce(col("cnt"), lit(0L)).as("cnt_g"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v").asc)
    val wc = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    matrix
      .withColumn("cum_g", sum(col("cnt_g")).over(wc))
      .withColumn("cum_all", sum(col("cnt_all")).over(wc))
      .withColumn("gap", lead(col("v"), 1).over(w) - col("v"))
      .filter(col("gap").isNotNull)
      .withColumn("n_r", col("n") - col("n_g"))
      .withColumn("term",
        // Δ and 1e6·|Δ| in decimal(38,0) — n²/4-sized, past int64 at
        // ~6e6 rows; the quotient (≤ 1e6) returns to long
        expr("cast((cast(1000000 as decimal(38,0))" +
          " * abs(cast(cum_g as decimal(38,0)) * n_r" +
          " - (cum_all - cum_g) * cast(n_g as decimal(38,0))))" +
          " div (cast(n_g as decimal(38,0)) * n_r) as bigint) * gap"))
      .groupBy(col("grp"))
      .agg(max(col("n_g")).as("n_g"), max(col("n_r")).as("n_rest"),
        sum(col("term")).as("w1_micros"))
      .select(col("grp"), col("n_g"), col("n_rest"),
        when(col("n_g") > 0 && col("n_rest") > 0, col("w1_micros"))
          .as("w1_micros"))
  }

  /** LIFT / CUMULATIVE-GAINS CURVE — the targeting eval every
    * propensity model ships with: sort by score descending, cut into
    * `buckets` equal tiles, and per tile report the positives
    * captured so far (gains) and the cumulative precision relative to
    * the base rate (lift). "Top decile captures 4× base rate" is this
    * card's first row; it's the threshold-free complement to one-number
    * AUC (q160) and the business-facing face of the calibration card.
    *
    * Determinism: tiles come from ntile over (score desc, id asc) —
    * the q43 total-order contract; every metric is exact integer
    * division of exact counts: gain = (1e6·cum_pos) div total_pos,
    * lift = (1e6·cum_pos·total_n) div (cum_n·total_pos). Overflow:
    * cum_pos·total_n ≤ n² — fine to ~3e6 rows scored; decimal-promote
    * past that.
    *
    * Scale shape: scoring is embarrassingly parallel; the ntile is ONE
    * global window over scored rows (the q43/RFM precedent — swap for
    * percent_rank bucketing at true scale, same tiles away from
    * boundaries), then one combinable per-tile agg + a prefix over
    * `buckets` rows. */
  def liftCurve(df: DataFrame, scoreCol: Column, labelCol: Column,
                idCol: Column, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("id").asc)
    val tiled = df.select(scoreCol.as("score"), idCol.as("id"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .withColumn("tile", ntile(buckets).over(w).cast("long"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("tile").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    tiled
      .withColumn("cum_n", sum(col("n")).over(wc))
      .withColumn("cum_pos", sum(col("pos")).over(wc))
      .withColumn("total_n", sum(col("n")).over(wa))
      .withColumn("total_pos", sum(col("pos")).over(wa))
      .select(col("tile"), col("n"), col("pos"), col("cum_n"),
        col("cum_pos"),
        when(col("total_pos") > 0,
          expr("(1000000L * cum_pos) div total_pos")).as("gain_micros"),
        when(col("total_pos") > 0,
          expr("(1000000L * cum_pos * total_n) div (cum_n * total_pos)"))
          .as("lift_micros"))
  }

  /** BIVARIATE MAHALANOBIS OUTLIERS — multivariate anomaly scoring
    * per group (Mahalanobis 1936): the squared distance of each
    * (x, y) row from its group's mean under the group covariance,
    * which catches the anomalies MARGINAL screens (q138 MAD, q80
    * winsorize) cannot — a row whose x and y are each unremarkable
    * but jointly off the correlation axis. Top `k` rows per group.
    *
    * Exactness: with a = n·Σx²−(Σx)², b = n·Σy²−(Σy)², c =
    * n·Σxy−Σx·Σy and per-row u = n·x−Σx, v = n·y−Σy (all EXACT
    * integers — the moment sums and a/b/c accumulate in decimal(38,0)
    * on the Spark face and HUGEINT on the DuckDB face, both exact
    * 128-bit integer domains, since (Σcents)² overflows int64 at
    * warehouse row counts; the PER-ROW u and v run in int64, exact
    * while n·max|value| < 2^63 — beyond that widen them back to the
    * decimal path, which costs ~4× on the scoring scan), the
    * closed form d² = (u²b − 2uvc + v²a) / (ab − c²) needs no n
    * anywhere. The one float step casts those exact integers to
    * DOUBLE (IEEE round-half-even in both engines) and evaluates the
    * mirrored expression, round-6 + signed-zero. Degenerate groups
    * (ab = c², a collinear or constant cloud) yield no rows — the
    * covariance is singular and the distance undefined; report
    * nothing rather than an arbitrary pseudo-inverse.
    *
    * Scale shape: ONE combinable moment agg, a broadcast of the tiny
    * per-group moment table back onto the scan, one per-group top-k
    * window (WindowGroupLimit). */
  def mahalanobisOutliers(df: DataFrame, groupCol: String, idCol: String,
                          xCol: Column, yCol: Column, k: Int = 5)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    val d38 = "decimal(38,0)"
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      xCol.cast("long").as("x"), yCol.cast("long").as("y"))
    val m = base.groupBy(col("grp"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("x").cast(d38)).as("sx"),
        sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"))
      .select(col("grp"),
        // per-row work happens on the PROBE side of the broadcast join
        // below, so everything castable is cast HERE, once per group
        // (r17): n/sx/sy to long (n·x and sx bound by n·max|x| ≪ 2^63,
        // exactly representable), a/b/c to double. Only the sums above
        // need decimal(38) — sxx can exceed int64 — and they collapse to
        // per-group scalars before any row sees them. The old form ran
        // ~6 BigDecimal ops per corpus row; this runs none (measured
        // 12.1 → ~3 CPU-s on the q201 scoring stage at sf0.1).
        col("n").cast("long").as("n"),
        col("sx").cast("long").as("sx"), col("sy").cast("long").as("sy"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("a"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("b"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("c"))
      // the degeneracy filter stays in EXACT decimal (a·b − c² is ~10^50
      // for big groups — a double compare could flip sign near zero);
      // it runs once per group, not per row
      .filter(col("a") * col("b") - col("c") * col("c") > 0)
      .select(col("grp"), col("n"), col("sx"), col("sy"),
        col("a").cast("double").as("ad"),
        col("b").cast("double").as("bd"),
        col("c").cast("double").as("cd"))
    val scored = base.join(broadcast(m), Seq("grp"))
      .withColumn("u", (col("n") * col("x") - col("sx")).cast("double"))
      .withColumn("v", (col("n") * col("y") - col("sy")).cast("double"))
      .withColumn("d2",
        round((col("u") * col("u") * col("bd") -
          lit(2.0) * col("u") * col("v") * col("cd") +
          col("v") * col("v") * col("ad")) /
          (col("ad") * col("bd") - col("cd") * col("cd")), 6) + lit(0.0))
    graft.ops.Windows.topKPerGroup(scored, Seq(col("grp")),
        Seq(col("d2").desc, col("id").asc), k)
      .select(col("grp"), col("id"), col("x"), col("y"),
        col("d2").as("d2_score"))
  }

  /** REFERENTIAL-INTEGRITY AUDIT — the relationship test of the dbt/
    * great-expectations school run as a scale-shaped card: for each
    * declared child→parent relationship, how many child rows carry a
    * NULL key, how many are ORPHANS (key present, no parent row), and
    * the orphan rate in micros. The first audit any warehouse
    * migration or CDC pipeline runs — a nonzero orphan rate is how
    * half-applied deletes and out-of-order loads announce themselves.
    *
    * `rels` lists (name, child, childKey, parent, parentKey). Output:
    * one row per relationship — (rel, n_child, n_null_key, n_orphan,
    * orphan_rate_micros) with the rate over the NON-NULL keyed rows
    * (a NULL key is its own defect class, not an orphan).
    *
    * Scale shape: per relationship ONE left-anti join of the child's
    * DISTINCT keys against the parent's distinct keys (key-domain
    * sized, not row sized) re-joined to per-key child counts — plus
    * one combinable count agg. Never a row-level child×parent join. */
  def integrityAudit(rels: Seq[(String, DataFrame, String, DataFrame,
                     String)]): DataFrame = {
    require(rels.nonEmpty, "need at least one relationship")
    rels.map { case (name, child, childKey, parent, parentKey) =>
      val keyed = child.select(col(childKey).as("k"))
      val counts = keyed.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = false)
      val totals = counts.agg(
        sum(when(col("k").isNotNull, col("cnt")).otherwise(0L))
          .as("n_keyed"),
        sum(when(col("k").isNull, col("cnt")).otherwise(0L))
          .as("n_null_key"))
      val orphans = counts.filter(col("k").isNotNull)
        .join(parent.select(col(parentKey).as("k")).distinct(),
          Seq("k"), "left_anti")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_orphan"))
      totals.crossJoin(orphans)
        .select(lit(name).as("rel"),
          (col("n_keyed") + col("n_null_key")).as("n_child"),
          col("n_null_key"), col("n_orphan"),
          when(col("n_keyed") > 0,
            expr("(1000000L * n_orphan) div n_keyed"))
            .as("orphan_rate_micros"))
    }.reduce(_ unionByName _)
  }

  /** DECISION-STUMP split finder — the one-level CART induction step
    * (Breiman et al. 1984), distributed: for each numeric feature, the
    * threshold t minimizing the size-weighted Gini impurity of the
    * x ≤ t / x > t split against a binary label. This is the inner
    * loop of every tree/GBDT trainer AND the feature-screening card
    * ("which raw column separates the label best, and where") — the
    * supervised complement to the unsupervised drift/association
    * screens (q76 PSI, q155 χ², q184 Spearman).
    *
    * Exact integer evaluation off the distinct-value collapse: per
    * candidate threshold the split is (cumN, cumP) vs the remainder —
    * prefix sums of per-value counts — and the criterion
    * {{{ score = (1e6·pL(nL−pL)) div nL + (1e6·pR(nR−pR)) div nR }}}
    * (each side's scaled Gini numerator; the shared 2/n factor is
    * rank-irrelevant and dropped) is exact integer arithmetic on both
    * faces, with the products ACCUMULATED IN decimal(38,0) on the
    * Spark face and HUGEINT on the DuckDB face (the mahalanobis
    * 128-bit ladder): 1e6·p(n−p) ≤ 1e6·n²/4 overflows int64 at
    * ~n = 6e6 rows per feature, so the 128-bit domain carries the
    * products to n ≈ 3.6e13 rows/feature — past any single feature's
    * realistic cardinality-collapse volume. Each POST-DIVISION term is
    * ≤ 1e6·n/4, back inside int64 to n ≈ 3.6e13 as well (the div
    * lands in long on both engines; spec-pinned past the old bound).
    * Argmin ties break threshold-asc; the max
    * value is excluded as a threshold (its right side is empty).
    *
    * Scale shape: one unpivot explode (|features| rows per input row),
    * one combinable (feature, value) collapse, one per-feature window
    * over DISTINCT values, a combinable argmin — the [[spearman]] /
    * q160 distinct-collapse dataflow. */
  def giniStump(df: DataFrame, labelCol: Column, features: Seq[String])
      : DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    val fx = features.map(f =>
      struct(lit(f).as("feature"), col(f).cast("double").as("x")))
    val long = df.select(when(labelCol, 1L).otherwise(0L).as("y"),
        explode(array(fx: _*)).as("fx"))
      .select(col("fx.feature").as("feature"), col("fx.x").as("x"),
        col("y"))
    val g = long.groupBy(col("feature"), col("x"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("feature")).orderBy(col("x").asc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // per-feature totals via ONE combinable agg + broadcast join instead
    // of an unbounded-frame window (r17): the whole-partition frame
    // buffered every (feature, x) row per partition a second time for
    // two scalars, on top of the running-frame pass that streams
    val totals = g.groupBy(col("feature"))
      .agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
    val s = g.join(broadcast(totals), Seq("feature"))
      .withColumn("cn", sum(col("cnt")).over(wCum))
      .withColumn("cp", sum(col("pos")).over(wCum))
      .filter(col("cn") < col("n"))
      .select(col("feature"), col("x"), col("cn").as("n_left"),
        col("cp").as("pos_left"),
        // adaptive-width EXACT arithmetic (r17): the products need the
        // 128-bit decimal(38,0) domain only past ~6e6 rows/feature
        // (1e6·cp·(cn−cp) ≤ 1e6·(n/2)² < 2^63 ⇔ n ≤ 6e6); below that
        // bound the same integers fit int64, where the per-row math is
        // plain long ops instead of BigDecimal multiply/divide (the
        // measured cost of this stage). Both branches are exact integer
        // arithmetic — identical values, per-group branch selection.
        when(col("n") <= 6000000L,
          expr("cast((1000000L * cp * (cn - cp)) div cn as bigint)") +
            expr("cast((1000000L * (p - cp) * ((n - cn) - (p - cp)))" +
              " div (n - cn) as bigint)"))
          .otherwise(
            expr("cast((cast(1000000 as decimal(38,0)) * cp * (cn - cp))" +
              " div cn as bigint)") +
            expr("cast((cast(1000000 as decimal(38,0)) * (p - cp)" +
              " * ((n - cn) - (p - cp))) div (n - cn) as bigint)"))
          .as("score_micros"))
    graft.ops.Windows.topOneByAgg(s, Seq(col("feature")),
        struct((-col("score_micros")).as("ns"), (-col("x")).as("nx")))
      .select(col("feature"), col("x").as("threshold"),
        col("n_left"), col("pos_left"), col("score_micros"))
  }

  /** SPLIT-CONFORMAL prediction card (Vovk's inductive conformal; Lei
    * et al. 2018 JASA form) — the distribution-free interval the
    * model-monitoring stack wraps around ANY point predictor: fit on a
    * train split, take q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest absolute
    * residual on a CALIBRATION split, and the interval pred ± q̂ covers
    * ≥ 1−α of fresh data by exchangeability alone — no model or noise
    * assumptions. The card reports the guarantee empirically: per
    * group, the fitted mean, q̂, and the realized coverage on a third
    * EVAL split (expect ≈ (1−α)·1e6 micros).
    *
    * The predictor here is the per-group train mean — deliberately the
    * simplest regressor; the op's value is the conformal machinery,
    * which wraps any scoring stage the same way.
    *
    * Determinism: the 3-way split is the md5-prefix integer of the id
    * mod 3 (the q93 split idiom); residuals are exact integer
    * micro-cents; q̂ is an exact order statistic (row_number under
    * (score, id) — the picked VALUE doesn't depend on the tie-break,
    * ranks within equal scores are interchangeable); the ceil rank is
    * ((n_cal+1)·(αden−αnum) + αden−1) div αden, all non-negative.
    * Groups missing any of the three splits are DROPPED (inner-join
    * contract) — a group too small to calibrate has no guarantee to
    * report. If the rank exceeds n_cal (tiny calib set), conformal
    * prescribes an infinite interval: no q̂ row exists and the group
    * drops, rather than reporting a fake finite quantile.
    *
    * Scale shape: one combinable train agg, one residual join (group-
    * keyed, groups ≪ rows), a per-group order-statistic window over
    * CALIB rows only, one combinable eval agg. */
  def conformalCard(df: DataFrame, groupCol: String, idCol: String,
                    valCol: String, alphaNum: Long = 1L,
                    alphaDen: Long = 10L): DataFrame = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum < alphaDen,
      "need 0 < alphaNum < alphaDen")
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
        round(col(valCol) * 100).cast("long").as("cents"))
      .withColumn("slot",
        conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 3)
      .localCheckpoint(eager = false)
    val train = base.filter(col("slot") === 0)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_train"), sum(col("cents")).as("s"))
      .select(col("grp"), col("n_train"),
        expr("(1000000L * s) div n_train").as("pred_micros"))
    val calib = base.filter(col("slot") === 1)
      .join(train, Seq("grp"))
      .select(col("grp"), col("id"),
        abs(lit(1000000L) * col("cents") - col("pred_micros")).as("score"))
    val rk = calib.groupBy(col("grp")).agg(count(lit(1)).as("n_cal"))
      .withColumn("r",
        expr(s"((n_cal + 1L) * ${alphaDen - alphaNum}L + ${alphaDen - 1}L)" +
          s" div ${alphaDen}L"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("score").asc, col("id").asc)
    val qhat = calib.withColumn("rn", row_number().over(w).cast("long"))
      .join(rk, Seq("grp"))
      .filter(col("rn") === col("r"))
      .select(col("grp"), col("n_cal"), col("score").as("qhat"))
    val evalCard = base.filter(col("slot") === 2)
      .join(train, Seq("grp"))
      .join(qhat, Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("n_train")).as("n_train"), max(col("n_cal")).as("n_cal"),
        max(col("pred_micros")).as("pred_micros"),
        max(col("qhat")).as("qhat"),
        count(lit(1)).as("n_eval"),
        sum(when(abs(lit(1000000L) * col("cents") - col("pred_micros"))
          <= col("qhat"), 1L).otherwise(0L)).as("cov"))
    evalCard.select(col("grp"), col("n_train"), col("n_cal"),
      col("n_eval"), col("pred_micros"), col("qhat"),
      expr("(1000000L * cov) div n_eval").as("coverage_micros"))
  }

  /** ORDER-INDEPENDENT GROUP CHECKSUM — the migration/CDC verification
    * primitive: a per-group content signature that any engine computes
    * identically from the same logical rows, regardless of
    * partitioning, ordering or physical layout. Two snapshots (or two
    * engines, or the two sides of a CDC apply) agree iff every group's
    * (n_rows, xor_sig, sum_sig) triple agrees — the cheap first check
    * before any row-level diff (q59's snapshot diff is the expensive
    * second step this screen gates).
    *
    * Row hash: md5 of the '|'-joined canonical row string. NULLs render
    * as the EXPLICIT reserved sentinel U+0001 (a control
    * char no text column legitimately contains; spelled as the escape
    * backslash-u0001 so
    * it is visible in source review) so NULL ≠ '' and (NULL,"x") ≠
    * ("x",NULL) — concat_ws's silent null-skip, or a coalesce-to-'',
    * would conflate them and false-negative a verification primitive.
    * The q179 oracle mirrors it as DuckDB `chr(1)` per column.
    * Truncated to 15 hex chars = a 60-bit non-negative long.
    * Signatures: bit_xor (order-free,
    * overflow-free) plus the mod-1e9+7 sum (catches the duplicated-row
    * ⊕ self-cancellation xor alone would miss: a row appearing twice
    * xors to zero but sums twice). Callers pass INTEGER/STRING columns
    * only — float-to-string rendering is engine-specific and belongs
    * to a cents-casting stage upstream.
    *
    * Scale shape: ONE combinable aggregation over one scan; both
    * signatures are commutative/associative, so map-side partial
    * aggregation applies and the shuffle carries |groups| rows. */
  def groupChecksum(df: DataFrame, groupCol: String,
                    cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one content column")
    val canon = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*)
    df.select(col(groupCol),
        conv(substring(md5(canon), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_sig"),
        sum(col("h") % 1000000007L).as("sum_sig"))
  }

  /** CALIBRATION CARD (reliability diagram + the ECE numerator,
    * Naeini et al. 2015 / Guo et al. 2017's evaluation): fit the
    * simplest honest classifier — the per-feature-cell base rate on a
    * deterministic TRAIN slice (`idCol % trainMod = 0`, the q93
    * hash-split family; pick `trainMod` COPRIME to any id-derived
    * feature period — an id-round-robin source column makes a parity
    * split degenerate, every eval cell unseen) — then on the EVAL half, bucket its predictions into
    * `bins` equal-width probability bins and compare each bin's mean
    * prediction with the observed positive rate. The gap column is
    * what a reliability diagram plots; Σ|gap|·n / N is ECE. Eval rows
    * whose feature cell never appeared in train land in bin −1 with a
    * NULL prediction (the honest face — dropping them would hide
    * coverage holes).
    *
    * ALL-INTEGER: predictions are micros ((1e6·pos) div n over train),
    * bin = (pred·bins) div 1e6 clamped to bins−1, bin means are
    * (Σpred) div n and (1e6·pos) div n — every operand a non-negative
    * long, so Spark `div` = DuckDB `//`; no float anywhere.
    *
    * Scale shape: one combinable train agg per feature cell (bounded
    * by feature cardinality), broadcast onto the eval scan, one
    * combinable per-bin agg → ≤ bins+1 rows. */
  def calibrationCard(df: DataFrame, idCol: String,
                      featureCols: Seq[Column], labelCol: Column,
                      bins: Int = 10, trainMod: Long = 2L): DataFrame = {
    require(bins >= 2 && trainMod >= 2L, "need bins >= 2, trainMod >= 2")
    val feats = featureCols.zipWithIndex
      .map { case (c, i) => c.as(s"f$i") }
    val fNames = featureCols.indices.map(i => s"f$i")
    val base = df.select(col(idCol).as("id") +: labelCol.as("y") +: feats: _*)
    val rates = base.filter(col("id") % trainMod === 0)
      .groupBy(fNames.map(col): _*)
      .agg(count(lit(1)).as("tn"),
        sum(when(col("y"), 1L).otherwise(0L)).as("tpos"))
      .withColumn("pred_micros", expr("(1000000L * tpos) div tn"))
      .select(fNames.map(col) :+ col("pred_micros"): _*)
    base.filter(col("id") % trainMod =!= 0)
      .join(broadcast(rates), fNames, "left")
      .withColumn("bin",
        when(col("pred_micros").isNull, lit(-1L))
          .otherwise(least(lit(bins - 1L),
            expr(s"(pred_micros * $bins) div 1000000"))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("pred_micros")).as("pw"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"))
      .select(col("bin"), col("n"),
        expr("pw div n").as("mean_pred_micros"),
        expr("(1000000L * pos) div n").as("obs_rate_micros"),
        (expr("pw div n") - expr("(1000000L * pos) div n"))
          .as("gap_micros"),
        (abs(expr("pw div n") - expr("(1000000L * pos) div n")) * col("n"))
          .as("ece_num"))
  }

  /** BENFORD first-digit test per group — the forensic data-quality
    * screen (Benford 1938; fabricated or unit-mixed numeric columns
    * miss the log distribution): observed first-significant-digit
    * counts vs expected n·log₁₀(1+1/d), with the per-digit χ² term
    * (o−e)²/e. Consumers sum the 9 terms per group and compare to the
    * χ²(8) tail; the per-digit breakdown is what an auditor actually
    * reads (WHICH digit is inflated).
    *
    * Deterministic: the first digit is taken from the INTEGER cents
    * string — `substring(cast(round(x·100) as bigint as string), 1, 1)`
    * — no float log10 near power-of-ten boundaries can misbucket;
    * expected counts and χ² terms are single mirrored double chains
    * rounded to 4 (q37/q108 parity precedents). Non-positive values are
    * excluded (Benford is defined on positive magnitudes).
    *
    * Scale shape: one combinable (group, digit) count + a broadcast
    * per-group total join — two small aggregations over one scan. */
  def benfordDigits(df: DataFrame, groupCol: String,
                    valCol: String): DataFrame = {
    val cents = round(col(valCol) * 100).cast("long")
    val obs = df.filter(col(valCol) > 0)
      .select(col(groupCol),
        substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col(groupCol), col("digit"))
      .agg(count(lit(1)).as("observed"))
    val totals = obs.groupBy(col(groupCol))
      .agg(sum(col("observed")).as("n"))
    val e = col("n") * log10(lit(1.0) + lit(1.0) / col("digit"))
    obs.join(broadcast(totals), groupCol)
      .select(col(groupCol), col("digit"), col("observed"),
        round(e, 4).as("expected"),
        round((col("observed") - e) * (col("observed") - e) / e, 4)
          .as("chi2_term"))
  }

  /** One-sided upper CUSUM change detection (Page 1954) over a
    * per-group daily count series — the SEQUENTIAL drift detector
    * beside the distributional ones (PSI q76, KL q142, KS q166): those
    * ask "has the distribution moved", CUSUM asks "WHEN did the level
    * shift", accumulating evidence across days so a small sustained
    * shift alarms even though no single day would.
    *
    * The recurrence S_t = max(0, S_{t−1} + (x_t − target − slack)) is
    * computed CLOSED-FORM as `C_t − min(0, min_{j≤t} C_j)` with C the
    * running sum of deviations — two window passes instead of a
    * sequential fold, the identity that makes CUSUM data-parallel. The
    * target is the mean of each group's first `baselineDays` OBSERVED
    * days in integer micros (`sum·1e6 div n` — truncating div on
    * non-negatives, `//` parity), deviations are exact micros, so every
    * value replays bit-for-bit; days with no events are unobserved (the
    * daily-rollup convention of q143/q153/q168), not zeros.
    *
    * Output: one row per monitored (group, day) — days after the
    * baseline window — with the running `cusum_micros` and the
    * `alarm` flag (cusum > thresholdMicros).
    *
    * Scale shape: one combinable daily rollup, two tiny per-group aggs
    * (baseline start, target), then windows over the per-group DAILY
    * table — window length is the observation window in days, the
    * documented ≤window-days single-partition precedent, never event
    * volume. */
  def cusumDrift(events: DataFrame, groupCol: String, tsCol: String,
                 baselineDays: Int = 7, slackMicros: Long = 0L,
                 thresholdMicros: Long = 5000000L): DataFrame = {
    require(baselineDays >= 1, "baselineDays must be >= 1")
    require(slackMicros >= 0 && thresholdMicros >= 0,
      "slack and threshold must be >= 0")
    val daily = Events.dailyCounts(events, col(groupCol).as("g"), tsCol)
    val start = daily.groupBy(col("g")).agg(min(col("day")).as("d0"))
    val target = daily.join(start, Seq("g"))
      .filter(col("day") < col("d0") + baselineDays)
      .groupBy(col("g"))
      .agg(expr("sum(y) * 1000000 div count(1)").as("target"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("day").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    daily.join(start, Seq("g")).join(target, Seq("g"))
      .filter(col("day") >= col("d0") + baselineDays)
      .withColumn("dd", col("y") * 1000000L - col("target")
        - lit(slackMicros))
      .withColumn("c", sum(col("dd")).over(w))
      .withColumn("cusum_micros",
        col("c") - least(min(col("c")).over(w), lit(0L)))
      .select(col("g"), col("day"), col("y"), col("cusum_micros"),
        (col("cusum_micros") > thresholdMicros).as("alarm"))
  }

}
