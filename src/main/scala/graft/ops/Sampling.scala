package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators (extension surface).
  *
  * Spark's `df.sample` is seed-deterministic only per partitioning — a
  * repartition or a different input split changes the sample, which breaks
  * oracle checks and makes reruns non-reproducible at 100 TB. These
  * operators order by a content hash instead: the sample is a pure
  * function of the DATA, stable across engines, partitionings, thread
  * counts, and reruns.
  */
object Sampling {

  /** Deterministic stratified sample: the `k` rows per group that sort
    * first by md5(key) — an order-stable pseudo-random draw reproducible
    * in any engine with md5 (the q49 oracle replays it in DuckDB SQL).
    * Ties impossible: the key column is unique per row, and (hash, key)
    * is a total order.
    *
    * Scale shape: one shuffle on the group columns; the per-group rank
    * gets WindowGroupLimit pre-reduction (each map task forwards only its
    * local top-k), so the exchange carries O(groups · k), not N. */
  def stratifiedByHash(df: DataFrame, groupCols: Seq[String],
                       keyCol: String, k: Int): DataFrame = {
    // collision-safe temp column: a user column literally named "__skey"
    // must survive (and not be clobbered by) the sort key
    val skey = Iterator.from(0).map(i => if (i == 0) "__skey" else s"__skey$i")
      .dropWhile(df.columns.contains).next()
    val hashed = df.withColumn(skey, md5(col(keyCol).cast("string")))
    Windows.topKPerGroup(hashed, groupCols.map(col),
        Seq(col(skey).asc, col(keyCol).asc), k)
      .drop(skey)
  }

  /** Deterministic WEIGHTED sample-without-replacement per group
    * (Efraimidis–Spirakis A-ES): priority = −ln(u)/w with u the row's own
    * md5 draw mapped into (0, 1]; the k SMALLEST priorities per group win,
    * which is distributionally exactly weighted sampling without
    * replacement (P(first pick = i) = wᵢ/Σw, then renormalized). With
    * equal weights it degenerates to [[stratifiedByHash]]'s uniform draw.
    * The curation use: "10 documents per language, long/high-quality ones
    * proportionally more likely", reproducible across engines,
    * partitionings and reruns because u is a pure function of the key.
    *
    * Rows with weight ≤ 0 get +∞ priority — drawn only when a group has
    * fewer than k positive-weight rows (callers wanting them excluded
    * should filter first; the q74 oracle has none, so it skips the CASE).
    *
    * The priority stays an UNROUNDED double used only for ordering (never
    * emitted): engines' ln() may differ in the last ulp, which flips a
    * rank only when two rows' priorities collide within ~1e-16 relative —
    * far rarer than any rounded-comparison boundary — and the keyCol
    * tie-break pins exact ties.
    *
    * Scale shape: identical to [[stratifiedByHash]] — one shuffle on the
    * group columns, WindowGroupLimit pre-reduces each map task to its
    * local top-k, the exchange carries O(groups · k). */
  def weightedTopKPerGroup(df: DataFrame, groupCols: Seq[String],
                           keyCol: String, weight: Column, k: Int): DataFrame = {
    val pcol = Iterator.from(0).map(i => s"__prio$i")
      .dropWhile(df.columns.contains).next()
    val v = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val u = (v.cast("double") + 1.0) / 4294967296.0
    val prio = when(weight > 0, -log(u) / weight)
      .otherwise(lit(Double.PositiveInfinity))
    Windows.topKPerGroup(df.withColumn(pcol, prio), groupCols.map(col),
        Seq(col(pcol).asc, col(keyCol).asc), k)
      .drop(pcol)
  }

  /** Deterministic IMPORTANCE sampling: keep each row with probability
    * `weight` (a per-row Column in [0, 1] — e.g. a quality score), decided
    * by the row's own md5 draw, so the sample is a pure function of the
    * data: reproducible across engines, partitionings and reruns, and a
    * row's fate never depends on other rows. The curation use: keep
    * high-quality documents at high rates and boilerplate at low rates in
    * ONE shuffle-free pass, instead of a hard threshold.
    *
    * The draw v is the first 8 hex chars of md5(key) read as a 32-bit
    * value, and the comparison is TRULY integerized: the clamped weight
    * rounds to 6 decimals, converts to micro-units
    * (wMicros = round(w·10⁶), an exact long), and the keep test is all-long
    * `v·10⁶ < wMicros·2^32` — algebraically `v < w·2^32` in exact rational
    * arithmetic, with no float comparison at the boundary, so an oracle
    * replays it exactly for ANY caller-supplied weight (a double
    * `v < w·2^32` can flip rows whose draw lands within one ulp of the
    * product when the two engines round the 6-decimal weight differently).
    * Ranges fit: v < 2^32 ⇒ v·10⁶ < 2^52; wMicros ≤ 10⁶ ⇒
    * wMicros·2^32 < 2^52 — both well inside long. Weights outside [0, 1]
    * clamp. */
  def weightedByHash(df: DataFrame, keyCol: String, weight: Column): DataFrame = {
    val v = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val wMicros = round(round(greatest(lit(0.0), least(lit(1.0), weight)), 6)
      * 1000000.0).cast("long")
    df.filter(v * lit(1000000L) < wMicros * lit(4294967296L))
  }

  /** Deterministic MIXTURE sampling toward per-source budgets — the data-
    * mixing step of a training pipeline: "cap source s at `targets(s)`
    * weight units (tokens/chars), keep everything else". Each listed
    * source is independently downsampled at rate
    * min(1, target / its total weight); sources absent from `targets` are
    * unconstrained (rate 1). The realized per-source weight then lands on
    * its budget in expectation, and the draw is each row's own md5 hash,
    * so the sample is a pure function of the data (reproducible across
    * engines, partitionings, reruns — and STABLE under corpus growth:
    * a kept row stays kept until its source's rate itself drops).
    *
    * Scale shape: per-source totals are one map-side-combinable
    * aggregation whose output is |sources| rows; the rate table joins back
    * by broadcast (no shuffle of the corpus); the keep test is
    * [[weightedByHash]]'s shuffle-free integerized filter. One tiny agg +
    * one broadcast join + one map — nothing scales with corpus size but
    * the two scans.
    *
    * Cross-engine caveat: rate = target / Σweight is one IEEE double
    * division (bit-identical in any engine); the only rounding step is
    * weightedByHash's round(rate, 6), shared with the oracle. */
  def mixtureBySource(df: DataFrame, keyCol: String, sourceCol: String,
                      weightCol: String,
                      targets: Map[String, Long]): DataFrame = {
    require(targets.values.forall(_ >= 0), "budgets must be >= 0")
    val rcol = Iterator.from(0).map(i => s"__rate$i")
      .dropWhile(df.columns.contains).next()
    val tgt = typedLit(targets)
    val rates = df.groupBy(col(sourceCol))
      .agg(sum(col(weightCol)).as("__tot"))
      .select(col(sourceCol),
        when(element_at(tgt, col(sourceCol)).isNull, lit(1.0))
          .otherwise(least(lit(1.0),
            element_at(tgt, col(sourceCol)).cast("double") /
              col("__tot").cast("double"))).as(rcol))
    val joined = df.join(broadcast(rates), Seq(sourceCol))
    weightedByHash(joined, keyCol, col(rcol)).drop(rcol)
  }

  /** Temperature-scaled source mixing (the UniMax/multilingual-sampling
    * shape): instead of per-source absolute budgets
    * ([[mixtureBySource]]), each source's share of a GLOBAL row budget is
    * proportional to `count^alpha` — `alpha = 1` reproduces natural
    * proportions, `alpha = 0` equalizes sources, `alpha ∈ (0, 1)`
    * upsamples the tail relative to the head (the standard fix for a
    * corpus dominated by one source/language). Keep rate for source s:
    * `min(1, budget · N_s^alpha / (Σ_t N_t^alpha · N_s))`, applied as
    * [[weightedByHash]]'s deterministic per-row draw.
    *
    * Scale shape, same as mixtureBySource: one combinable count
    * aggregation (|sources| rows out), the share normalization is a
    * window over that TINY table, rates broadcast back, keep test
    * shuffle-free. Cross-engine float: `pow(N, alpha)` and the division
    * chain are IEEE doubles in either engine; the only rounding step is
    * weightedByHash's shared round(rate, 6). */
  def temperatureBySource(df: DataFrame, keyCol: String, sourceCol: String,
                          alpha: Double, budget: Long): DataFrame = {
    require(alpha >= 0.0, "alpha must be >= 0")
    require(budget >= 0, "budget must be >= 0")
    val rcol = Iterator.from(0).map(i => s"__trate$i")
      .dropWhile(df.columns.contains).next()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy()
    val rates = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", pow(col("__n").cast("double"), lit(alpha)))
      .withColumn("__sumw", sum(col("__w")).over(w))
      .select(col(sourceCol),
        least(lit(1.0),
          lit(budget.toDouble) * col("__w")
            / (col("__sumw") * col("__n").cast("double"))).as(rcol))
    val joined = df.join(broadcast(rates), Seq(sourceCol))
    weightedByHash(joined, keyCol, col(rcol)).drop(rcol)
  }

  /** UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151):
    * split a GLOBAL example budget across sources so that no source
    * repeats more than `maxEpochs` times, and whatever budget the
    * epoch-capped (small) sources cannot absorb redistributes EVENLY
    * across the rest — the water-filling solve of
    * Σ_s min(maxEpochs·N_s, λ) = budget. The multilingual-training
    * allocation step: tail languages are bounded by repetition, head
    * languages share the remaining level λ.
    *
    * Closed form over the TINY per-source table (no corpus pass beyond
    * one combinable count): sort by cap = maxEpochs·N ascending, a
    * source is capped iff its cap fits under the level implied by
    * capping every smaller source (`cap·(S−r) ≤ budget − cum`), λ =
    * (budget − cum_k)/(S − k) for the largest capped rank k. With
    * integral `maxEpochs` (or any power-of-two fraction) every quantity
    * up to λ is EXACT double arithmetic, so the oracle replays the
    * branch decisions bit-for-bit; only the emitted alloc/epochs round
    * to 6.
    *
    * Output: one row per source — (source, n_docs, alloc, epochs).
    * Pair with [[weightedByHash]] (rate = alloc/N capped at 1) to
    * materialize the sample, or a repeat-expand for epochs > 1. */
  /** The water-filling solve shared by [[unimaxAllocation]] and
    * [[epochExpand]]: per-source rows with an UNROUNDED `__alloc`
    * column (exact doubles — both consumers round only at their own
    * emission point, so the expansion's fractional draws see the same
    * bits the oracle recomputes). */
  private def unimaxRaw(df: DataFrame, sourceCol: String, budget: Long,
                        maxEpochs: Double): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    require(maxEpochs > 0, "maxEpochs must be > 0")
    val W = org.apache.spark.sql.expressions.Window
    val byCap = W.orderBy(col("__cap").asc, col(sourceCol).asc)
    val caps = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("__cap", col("n_docs").cast("double") * maxEpochs)
      .withColumn("__r", row_number().over(byCap))
      .withColumn("__cum", sum(col("__cap")).over(
        byCap.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("__S", count(lit(1)).over(W.partitionBy()))
      .withColumn("__isCapped",
        col("__cap") * (col("__S") - col("__r")) <=
          lit(budget.toDouble) - col("__cum"))
    // k = largest capped rank (0 if none); __cum is increasing, so the
    // max over capped rows IS the cum at k
    val kRow = caps.agg(
      coalesce(max(when(col("__isCapped"), col("__r"))), lit(0)).as("__k"),
      coalesce(max(when(col("__isCapped"), col("__cum"))), lit(0.0))
        .as("__cumK"))
    val lam = (lit(budget.toDouble) - col("__cumK")) /
      (col("__S") - col("__k")).cast("double")
    caps.join(broadcast(kRow), lit(true))
      .withColumn("__alloc",
        when(col("__r") <= col("__k") || col("__k") === col("__S"),
          col("__cap")).otherwise(least(col("__cap"), lam)))
  }

  def unimaxAllocation(df: DataFrame, sourceCol: String, budget: Long,
                       maxEpochs: Double): DataFrame =
    unimaxRaw(df, sourceCol, budget, maxEpochs)
      .select(col(sourceCol), col("n_docs"),
        round(col("__alloc"), 6).as("alloc"),
        round(col("__alloc") / col("n_docs").cast("double"), 6).as("epochs"))

  /** Materialize a [[unimaxAllocation]]: each row repeats
    * floor(epochs) times plus one more when its own md5 draw falls
    * under the fractional epoch — so each source's realized example
    * count lands on its allocation in expectation, per-row decisions
    * are a pure function of the data (the [[weightedByHash]]
    * integerized draw), and every copy is tagged 1..n so downstream
    * shuffles ([[shuffleShards]]) can separate them.
    *
    * Scale shape: the allocation is a broadcast of the |sources|-row
    * solve; expansion is a map-side `explode(sequence(...))` — rows out
    * ≈ budget, no shuffle at all. */
  def epochExpand(df: DataFrame, keyCol: String, sourceCol: String,
                  budget: Long, maxEpochs: Double): DataFrame = {
    val eps = unimaxRaw(df, sourceCol, budget, maxEpochs)
      .select(col(sourceCol),
        (col("__alloc") / col("n_docs").cast("double")).as("__ep"))
    val v = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val nFull = floor(col("__ep")).cast("long")
    val fracMicros = round((col("__ep") - floor(col("__ep"))) * 1000000.0)
      .cast("long")
    val copies = (nFull +
      when(v * lit(1000000L) < fracMicros * lit(4294967296L), 1L)
        .otherwise(0L)).as("__copies")
    df.join(broadcast(eps), Seq(sourceCol))
      .withColumn("__copies", copies)
      .filter(col("__copies") >= 1L)
      .withColumn("copy", explode(sequence(lit(1L), col("__copies"))))
      .drop("__ep", "__copies")
  }

  /** Nucleus (top-p) keep per group: within each group, keep the
    * smallest prefix of rows — ordered by weight DESC, key ASC — whose
    * cumulative weight reaches fraction `num/den` of the group total
    * (a row is kept iff the weight BEFORE it is still under the bar, so
    * with positive weights the set is minimal and always non-empty —
    * see the positivity note below). The curation use: "keep
    * the head of each language's quality-mass distribution", the
    * data-selection analogue of nucleus sampling.
    *
    * The keep test is ALL-INTEGER when the weight column is integral
    * (`cum·den < num·tot` — no float boundary for an oracle to disagree
    * on; the [[weightedByHash]] integerization lesson applied to
    * cumulative shares). Supply the fraction as a rational, not a
    * double, for exactly that reason.
    *
    * Weights must be POSITIVE. The minimality and "always non-empty"
    * guarantees hold only then: a group whose total weight is ≤ 0 drops
    * ENTIRELY (0·den < 0·num is false for its head row), and negative
    * weights break both the monotone prefix argument and the all-integer
    * keep test's meaning. Filter or clamp non-positive weights first.
    *
    * Scale shape: ONE shuffle on the group columns; both windows (the
    * running sum and the group total) share that partitioning, so they
    * plan into the same exchange. No broadcast, no second pass. */
  def nucleusByGroup(df: DataFrame, groupCols: Seq[String], keyCol: String,
                     weightCol: String, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, "fraction must be in (0, 1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(weightCol).desc, col(keyCol).asc)
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val cumCol = Iterator.from(0).map(i => s"__cum$i")
      .dropWhile(df.columns.contains).next()
    val totCol = Iterator.from(0).map(i => s"__tot$i")
      .dropWhile(df.columns.contains).next()
    df.withColumn(cumCol, coalesce(sum(col(weightCol)).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          -1)), lit(0L)))
      .withColumn(totCol, sum(col(weightCol)).over(tot))
      .filter(col(cumCol) * den < col(totCol) * num)
      .drop(cumCol, totCol)
  }

  /** Per-group quantile normalization: each row's weight becomes its
    * percent_rank within the group (0 at the group min, 1 at the max,
    * key-ASC tie-break for determinism) — the cross-source score
    * calibration step before a GLOBAL threshold: raw quality scores from
    * different sources/classifiers aren't comparable, their percentiles
    * are. round(·, 6) for cross-engine float stability.
    *
    * Scale: one shuffle on the group columns, rank assignment rides it. */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String],
                        keyCol: String, weightCol: String,
                        outCol: String = "pct"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(weightCol).asc, col(keyCol).asc)
    df.withColumn(outCol, round(percent_rank().over(w), 6))
  }

  /** CIRCULAR BLOCK BOOTSTRAP of the per-group daily count series
    * (Politis & Romano 1992's circular variant of Künsch's moving-block
    * bootstrap): the iid bootstrap ([[poissonBootstrap]]) is WRONG for
    * autocorrelated series — resampling single days destroys the
    * dependence structure the statistic's variance lives in; block
    * resampling preserves within-block dependence, and the circular
    * wrap keeps every position equally likely (no edge bias). Each
    * replicate rebuilds a length-L series from ⌈L/blockLen⌉ blocks
    * whose start positions are md5 draws keyed (group, replicate,
    * block) — the pure-function-of-data determinism contract, mirrored
    * verbatim in the oracle — and reports the replicate mean.
    *
    * Scale shape: the log collapses to the daily series first; the
    * expansion is |groups|·replicates·L narrow rows that equi-join the
    * series on (group, position) — no nested loop, everything
    * combinable. */
  def blockBootstrap(events: DataFrame, groupCol: String, tsCol: String,
                     blockLen: Int = 7,
                     replicates: Int = 50): DataFrame = {
    require(blockLen >= 1 && replicates >= 1,
      "need blockLen, replicates >= 1")
    val daily = Events.dailyCounts(events, col(groupCol).as("g"), tsCol)
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("day").asc)
    val series = daily
      .withColumn("pos", (row_number().over(wd) - 1).cast("long"))
      .select(col("g"), col("pos"), col("y"))
      .localCheckpoint(eager = false)
    val lens = series.groupBy(col("g")).agg(count(lit(1)).as("len"))
    val picks = lens
      .select(col("g"), col("len"),
        explode(sequence(lit(0L), lit(replicates - 1L))).as("b"))
      .select(col("g"), col("len"), col("b"),
        explode(sequence(lit(0L),
          expr(s"(len + ${blockLen - 1}) div $blockLen - 1"))).as("j"))
      .withColumn("s",
        conv(substring(md5(concat_ws("#", col("g"), col("b"), col("j"))),
          1, 8), 16, 10).cast("long") % col("len"))
      .select(col("g"), col("len"), col("b"), col("j"), col("s"),
        explode(sequence(lit(0L), lit(blockLen - 1L))).as("o"))
      // the last block is partial: trim the rebuilt series to length L
      .filter(col("j") * blockLen + col("o") < col("len"))
      .withColumn("pos", (col("s") + col("o")) % col("len"))
    picks
      .join(series, Seq("g", "pos"))
      .groupBy(col("g"), col("b"))
      .agg(round(sum(col("y")).cast("double") /
        max(col("len")).cast("double"), 4).as("mean_count"))
      .select(col("g"), col("b").as("replicate"), col("mean_count"))
  }

  /** CURRICULUM INTERLEAVE — the deterministic training-order
    * scheduler: within each source, docs order by (quality DESC, key
    * ASC); globally, round r takes every surviving source's rank-r doc
    * in source order (round-robin that skips exhausted sources) — the
    * standard "interleave the per-source quality-sorted streams" batch
    * schedule that keeps every mixture component present from the
    * first batch onward instead of concatenating corpora.
    *
    * The global position is CLOSED-FORM, no global sort:
    *   pos(s, r) = Σ_{s'} [ min(r−1, n_{s'}) + 1{n_{s'} ≥ r, s' ≤ s} ]
    * (docs of earlier rounds from all sources, plus this round's
    * sources at-or-before s). Every term is an integer over the
    * per-source size table.
    *
    * Scale shape: ONE window per source for the rank (the shuffle),
    * then each ranked row meets the broadcast per-source size table —
    * bounded by SOURCE CARDINALITY, not rows (the mixture components
    * of a training set are tens, not millions; same bounded-dim
    * argument as mixtureBySource's rate table) — and one combinable
    * sum. Never a single-partition global ordering, which is how a
    * naive row_number-over-everything would compute the same thing. */
  def curriculumInterleave(df: DataFrame, keyCol: String,
                           sourceCol: String,
                           qualityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col(qualityCol).desc, col(keyCol).asc)
    val ranked = df.select(col(keyCol), col(sourceCol), col(qualityCol))
      .withColumn("r", row_number().over(w).cast("long"))
    val sizes = df.groupBy(col(sourceCol).as("__s2"))
      .agg(count(lit(1)).as("__n2"))
    ranked.join(broadcast(sizes), lit(true))
      .groupBy(col(keyCol), col(sourceCol), col(qualityCol), col("r"))
      .agg(sum(least(col("r") - 1, col("__n2")) +
        when(col("__n2") >= col("r") &&
          col("__s2") <= col(sourceCol), 1L).otherwise(0L)).as("pos"))
      .select(col(keyCol), col(sourceCol), col(qualityCol),
        col("r").as("source_rank"), col("pos"))
  }

  /** Deterministic global shuffle + shard assignment — the "write the
    * training set in randomized order across N shards" step. Every row
    * gets shard = draw % nShards and pos = its rank within the shard by
    * (draw, key), where draw is the row's md5 prefix: a reproducible
    * pseudo-random permutation that no engine, partitioning, or rerun can
    * perturb (keyCol breaks 32-bit draw ties exactly).
    *
    * Scale shape: ONE hash exchange on shard followed by an in-partition
    * sort — the window's PARTITION BY shard is the physical shard
    * partitioning, so rank assignment and output placement ride the same
    * shuffle; a writer maps each shard partition to one output file.
    * Shard sizes are balanced by the uniformity of the draw (skew-free by
    * construction — the partition key is a hash, not a data value). */
  def shuffleShards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be > 0")
    val v = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__draw").asc, col(keyCol).asc)
    df.withColumn("__draw", v)
      .withColumn("shard", col("__draw") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__draw")
  }

  /** NEYMAN (variance-optimal) stratified allocation (Neyman 1934): give
    * stratum h the share of `budget` proportional to N_h·S_h — strata
    * that are BIG or INTERNALLY VARIED earn more samples, because that is
    * where a mean estimate's variance comes from; a constant-valued
    * stratum needs (and gets) almost none. The principled version of the
    * flat per-stratum quota q49 draws, for building eval sets whose
    * metric variance is minimized at a fixed labeling budget.
    *
    * Cross-engine exactness without rounding tricks: N_h·S_h (population
    * sd) = sqrt(n·Σx² − (Σx)²)/n · n = sqrt(n·s2 − s1²), so the weight is
    * the sqrt of an EXACTLY-computed integer (the moments are long sums
    * of an integer-valued column). IEEE sqrt is correctly rounded in
    * both engines, the floor drops the one inexact bit, and everything
    * after — the total and the `(budget·w) div tw` share — is 64-bit
    * integer arithmetic. `alloc` caps at the stratum size (can't sample
    * more rows than exist); a fully-degenerate corpus (every stratum
    * constant ⇒ every w = 0) allocates 0 everywhere rather than
    * dividing by zero. Overflow envelope: n·s2 and budget·w must stay
    * under 2^63 — holds whenever value² · rows · budget < 9·10^18 (the
    * caller of a 10^12-row corpus scales `valueCol` down first).
    *
    * Scale shape: ONE combinable aggregation over the corpus (three long
    * moments per stratum); the |strata|-row table then broadcasts its
    * 1-row total. Row selection at the allocation is q49's existing
    * rank-by-draw machinery. */
  /** Poisson(1) inverse-CDF thresholds in units of the 32-bit md5 draw:
    * draw v < thresholds(k) ⇔ the bootstrap weight is ≤ k − … i.e. the
    * CASE ladder `WHEN v < t(0) THEN 0 WHEN v < t(1) THEN 1 …` yields a
    * Poisson(1) variate. Computed ONCE here and embedded literally in
    * both the Column tree and the oracle SQL, so the constants are
    * identical by construction (`private[graft]` for OracleGen). The
    * ladder truncates at 9 (P(X > 9) < 1.1e-7 — at most a handful of
    * rows per hundred million draw the tail value; the truncation is
    * part of the operator's definition, not an approximation bug). */
  private[graft] val poissonThresholds: Seq[Long] = {
    val pmf = (0 to 8).scanLeft(math.exp(-1.0)) { (p, k) => p / (k + 1) }
    val cdf = pmf.take(9).scanLeft(0.0)(_ + _).tail
    cdf.map(c => math.round(c * 4294967296.0))
  }

  /** POISSON BOOTSTRAP (Chamandy et al. 2012, "Estimating uncertainty
    * for massive data streams" — the distributed bootstrap): every
    * (row, replicate) pair draws an independent Poisson(1) WEIGHT
    * instead of resampling with replacement, so all `replicates`
    * resample means compute in ONE combinable aggregation over an N×B
    * expansion — no per-replicate shuffles, no driver-side sampling,
    * and the replicate means' spread estimates the sampling
    * distribution of the mean (the with-replacement multinomial's
    * per-row counts converge to independent Poisson(1) at large N).
    *
    * DETERMINISM: the weight is an integer inverse-CDF lookup of the
    * repo's standard md5 draw on (key, replicate) — a pure function of
    * the data, identical in any engine ([[poissonThresholds]] embeds
    * the same constants in both faces); values integerize to cents
    * before the weighted sum, so each replicate mean is one exact-long
    * ratio rounded to 4 (`+ 0.0` canonicalizes a zero mean's sign).
    * `keyCol` should be row-unique (duplicate keys draw identical
    * weights — still deterministic, but the resamples correlate).
    *
    * Scale shape: the N×B expansion never materializes across the wire
    * — partial aggregation collapses it to B rows per partition before
    * the one tiny B-group shuffle. Output: (replicate, mean_value), B
    * rows; percentile CIs are an ORDER BY away. */
  def poissonBootstrap(df: DataFrame, keyCol: String, valueCol: String,
                       replicates: Int = 100): DataFrame = {
    require(replicates >= 1, "replicates must be >= 1")
    // one md5 yields FOUR independent 32-bit draws (32 hex chars = 4
    // disjoint 8-hex windows): replicate b reads window b mod 4 of
    // md5(key # (b div 4)) — 4x fewer digests on the N×B expansion
    // (the md5 IS the cost: measured 16.2 s for 60M digests at sf0.1),
    // same determinism contract, mirrored verbatim in the oracle.
    // The expansion is two-level so each digest is COMPUTED once and
    // read four times (explode digest index d = b div 4, hash, then
    // posexplode the four windows; replicate = 4d + j) — the one-level
    // form recomputed the identical md5 under every window (4x the
    // hashing for the same draw values; r17 measured the digest as the
    // whole cost of this face).
    // the ladder compares the 8-hex window LEXICOGRAPHICALLY against the
    // thresholds rendered as fixed-width lowercase hex — identical to the
    // numeric compare (fixed width, '0'<'9'<'a'<'f' is nibble order) with
    // no per-row conv() radix parse on the N×B expansion
    require(poissonThresholds.forall(t => t >= 0 && t <= 0xFFFFFFFFL),
      "thresholds must fit in 32 bits for the hex-window compare")
    val v = col("__hw")
    val w = poissonThresholds.zipWithIndex.foldRight(
      lit(poissonThresholds.length.toLong): Column) {
      case ((t, k), acc) => when(v < f"$t%08x", lit(k.toLong)).otherwise(acc)
    }
    // spread the INPUT before exploding: the expansion multiplies
    // per-row work B× with no shuffle of its own, so a corpus read from
    // few files runs the whole N·B pipeline on its scan partitions. The
    // partition count must be EXPLICIT: the pre-explode rows are tiny
    // and AQE's size-based coalescing would fold an implicit repartition
    // back to one partition, blind to the B× work downstream (measured
    // at sf0.1: 10M expanded rows on one core = 15.8 s; spread = 1.3 s, a 12x).
    val nParts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val nDigests = (replicates + 3) / 4
    df.select(col(keyCol), round(col(valueCol) * 100).cast("long").as("__c"))
      .repartition(nParts, col(keyCol))
      .select(col(keyCol), col("__c"),
        explode(sequence(lit(0), lit(nDigests - 1))).as("__d"))
      .withColumn("__h", md5(concat(col(keyCol).cast("string"), lit("#"),
        col("__d").cast("string"))))
      .select(col("__c"), col("__d"),
        posexplode(array((0 until 4).map(j =>
          col("__h").substr(j * 8 + 1, 8)): _*)).as(Seq("__j", "__hw")))
      .filter(col("__d") * 4 + col("__j") < replicates)
      .select((col("__d") * 4 + col("__j")).as("replicate"), col("__c"),
        w.as("__w"))
      .groupBy(col("replicate"))
      .agg(sum(col("__w") * col("__c")).as("__num"),
        sum(col("__w")).as("__den"))
      .select(col("replicate").cast("long").as("replicate"),
        (round(col("__num") / (col("__den") * 100.0), 4) + lit(0.0))
          .as("mean_value"))
  }

  /** EFFECTIVE SAMPLE SIZE under importance weights (Kish 1965) — the
    * number every weighted estimate secretly rests on:
    * ESS = (Σw)²/Σw². Weighted sampling and importance reweighting
    * (q63's weight column, q109's DSIR keep set) trade bias for
    * variance, and ESS is the exchange rate — a 10M-doc corpus whose
    * weights concentrate on 1% of documents estimates like 100k docs,
    * and a mixture built on it will overfit that slice. Run per group
    * so a single pathological stratum is visible, with ess_share =
    * ESS/n as the "how much of the corpus do we effectively keep"
    * read.
    *
    * Determinism: weights are exact non-negative longs; Σw and Σw² sit
    * on the decimal(38,0) ladder; ESS and its share are ONE mirrored
    * double division each, round-4. A group with Σw² = 0 (all weights
    * zero) yields NULL, never a fabricated 0.
    *
    * Scale shape: ONE combinable 3-moment agg per group; card-sized
    * tail. */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
                          weightCol: Column): DataFrame = {
    val w = weightCol.cast("long")
    df.select(col(groupCol), w.as("__w"))
      .filter(col("__w").isNotNull && col("__w") >= 0)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__w")).as("sum_w"),
        sum(col("__w").cast("decimal(38,0)") * col("__w")).as("__w2"))
      .select(col(groupCol), col("n"), col("sum_w"),
        round(when(col("__w2") > 0,
          (col("sum_w").cast("decimal(38,0)") * col("sum_w"))
            .cast("double") / col("__w2").cast("double")), 4).as("ess"),
        round(when(col("__w2") > 0,
          (col("sum_w").cast("decimal(38,0)") * col("sum_w"))
            .cast("double") /
            (col("__w2").cast("double") * col("n").cast("double"))), 4)
          .as("ess_share"))
  }

  /** HORVITZ–THOMPSON total estimate + honest error (Horvitz &
    * Thompson 1952) — the design-unbiased estimator every
    * sampled-corpus readout rests on: with rows kept by the
    * md5-draw Bernoulli design at inclusion probability π = num/den,
    * the per-group total estimate is Σ_kept y/π, and this card scores
    * it against the TRUE total — the sampling-error exchange rate for
    * the q49/q63/q78 sampling family ("how wrong is a 10% readout"),
    * the sampling sibling of the q26/q275 sample-truth EVAL class: at
    * corpus scale you run only the estimator half (one conditional
    * sum), the truth column is what makes this an eval card.
    *
    * Determinism: the keep test reads the first 8 hex chars of md5(key)
    * as a 32-bit v and keeps v·den < num·2^32, an all-long rational
    * comparison; totals are exact cents; the HT
    * blow-up is sign-symmetric exact division (den·|s|) div num with
    * the sign multiplied back (the q238 idiom — floor division never
    * sees a negative operand); err_micros = sign(ht−true)·
    * ((1e6·|ht−true|) div |true|), NULL when the true total is 0.
    *
    * Scale shape: ONE combinable 4-column conditional agg over one
    * corpus scan — the keep test is a pure row-local map (no shuffle,
    * no join, no second pass); output is |groups| rows. */
  def horvitzThompson(df: DataFrame, groupCol: String, keyCol: String,
                      valCol: String, num: Int, den: Int): DataFrame = {
    require(num >= 1 && den > 0 && num <= den, "rate must be in (0, 1]")
    val v = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val kept = v * den < lit(num.toLong * 4294967296L)
    val cents = round(col(valCol) * 100).cast("long")
    val g = df
      .select(col(groupCol), kept.as("__kept"), cents.as("__c"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__kept").cast("long")).as("n_sampled"),
        sum(col("__c")).as("true_total_cents"),
        coalesce(sum(when(col("__kept"), col("__c"))), lit(0L))
          .as("__s"))
    g.select(col(groupCol), col("n_rows"), col("n_sampled"),
        col("true_total_cents"),
        (signum(col("__s")).cast("long") *
          expr(s"(${den}L * abs(__s)) div ${num}L"))
          .as("ht_total_cents"))
      .withColumn("err_micros",
        when(col("true_total_cents") =!= 0,
          signum(col("ht_total_cents") - col("true_total_cents"))
            .cast("long") *
            expr("(1000000L * abs(ht_total_cents - true_total_cents))" +
              " div abs(true_total_cents)")))
  }

  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val x = col(valueCol).cast("long")
    val m = df.groupBy(col(strataCol)).agg(
      count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"))
    val wgt = m.select(col(strataCol), col("n"),
      floor(sqrt((col("n") * col("s2") - col("s1") * col("s1"))
        .cast("double"))).cast("long").as("w"))
    val tot = wgt.agg(sum(col("w")).as("tw"))
    wgt.join(broadcast(tot), lit(true))
      .select(col(strataCol), col("n"), col("w"),
        when(col("tw") === 0L, lit(0L))
          .otherwise(least(col("n"), expr(s"($budget * w) div tw")))
          .as("alloc"))
  }
}
