package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based approximate operators — the fixed-memory path for
  * cardinality, frequency and quantile questions a 100 TB pipeline asks
  * constantly (how many distinct users/documents? which keys are hot?)
  * where an exact groupBy would shuffle every key.
  *
  * Spark's own sketch aggregates (`hll_sketch_agg`, `count_min_sketch`,
  * `percentile_approx`) are opaque or randomized, so DuckDB cannot replay
  * them. Most operators here are their deterministic, oracle-checkable
  * replays; [[bloomAgg]] surfaces Spark's native Bloom filter aggregate.
  * Every sketch is MERGEABLE (partitions build local state and the
  * partial-aggregation merge is exact for the sketch, so error bounds
  * hold regardless of partitioning/ordering), with no UDFs in the build
  * path.
  */
object Sketches {

  /** DETERMINISTIC bounded-memory percentile over fixed-width value bins
    * — the oracle-checkable sibling of Spark's `percentile_approx` (whose
    * KLL sketch DuckDB cannot replay). Values bin to `floor(v / binWidth)`,
    * bins aggregate to counts (one hash shuffle, map-side combine, state
    * O(range/binWidth) per group — bounded and mergeable like any
    * sketch), a per-group cumulative walk over the SORTED bins finds the
    * nearest-rank bin (the smallest bin whose cumulative count reaches
    * `ceil(p·n)`), and the estimate is that bin's midpoint. Every step is
    * exact integer/double arithmetic on both engines, so the checked q67
    * hash-verifies against a DuckDB replay — unlike a randomized sketch.
    *
    * Error contract: the true nearest-rank value lies inside the chosen
    * bin, so |estimate − exact nearest-rank value| ≤ binWidth/2 (spec-
    * pinned vs the exact sort). Against q37's INTERPOLATED percentile the
    * estimate additionally drifts by at most the local inter-value gap.
    * Nulls are excluded (percentile semantics). The window over bins is
    * per-group over O(bins) rows, never over raw data. */
  def binnedPercentile(df: DataFrame, valueCol: String, groupBy: Seq[String],
                       p: Double, binWidth: Double,
                       outCol: String = "approx_pct"): DataFrame = {
    require(p > 0.0 && p <= 1.0, "p must be in (0, 1]")
    require(binWidth > 0.0, "binWidth must be > 0")
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(groupBy.map(col) :+
        floor(col(valueCol) / binWidth).cast("long").as("__bin"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val ordered = Window.partitionBy(groupBy.map(col): _*)
      .orderBy(col("__bin"))
    val whole = Window.partitionBy(groupBy.map(col): _*)
    val r = ceil(lit(p) * col("__tot"))
    counts
      .withColumn("__cum", sum(col("__cnt")).over(ordered))
      .withColumn("__tot", sum(col("__cnt")).over(whole))
      .filter(col("__cum") >= r && col("__cum") - col("__cnt") < r)
      .select(groupBy.map(col) :+
        round(col("__bin") * binWidth + binWidth / 2, 4).as(outCol): _*)
  }

  /** WINSORIZATION — clip per-group outliers to the [pLo, pHi] percentile
    * band, the standard tail-taming step before averaging noisy metrics
    * (doc quality scores, per-source token counts). Bounds come from ONE
    * [[binnedPercentile]]-style pass: values bin to fixed widths, bins
    * aggregate to counts (map-side combine, state O(range/binWidth) per
    * group), a cumulative walk over the sorted bins reads BOTH ranks off
    * the same window, and the per-group (lo, hi) row — one per group —
    * broadcasts back onto the fact side. No sort of raw data, no
    * second scan for the second bound, and the clip itself is a
    * shuffle-free map. Null values stay null (clipping has no opinion on
    * missing data). Deterministic: every step is the exact arithmetic of
    * the q67 percentile, so an oracle replays it bit-for-bit. */
  def winsorize(df: DataFrame, valueCol: String, groupBy: Seq[String],
                pLo: Double, pHi: Double, binWidth: Double,
                outCol: String = "winsorized"): DataFrame = {
    require(pLo > 0.0 && pHi <= 1.0 && pLo <= pHi, "need 0 < pLo <= pHi <= 1")
    require(binWidth > 0.0, "binWidth must be > 0")
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(groupBy.map(col) :+
        floor(col(valueCol) / binWidth).cast("long").as("__bin"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val ordered = Window.partitionBy(groupBy.map(col): _*)
      .orderBy(col("__bin"))
    val whole = Window.partitionBy(groupBy.map(col): _*)
    val mid = round(col("__bin") * binWidth + binWidth / 2, 4)
    def rankBin(p: Double) = {
      val r = ceil(lit(p) * col("__tot"))
      when(col("__cum") >= r && col("__cum") - col("__cnt") < r, mid)
    }
    val bounds = counts
      .withColumn("__cum", sum(col("__cnt")).over(ordered))
      .withColumn("__tot", sum(col("__cnt")).over(whole))
      .groupBy(groupBy.map(col): _*)
      .agg(min(rankBin(pLo)).as("__lo"), min(rankBin(pHi)).as("__hi"))
    df.join(broadcast(bounds), groupBy)
      .withColumn(outCol,
        when(col(valueCol).isNull, lit(null))
          .otherwise(greatest(col("__lo"),
            least(col("__hi"), col(valueCol).cast("double")))))
      .drop("__lo", "__hi")
  }

  /** Bloom membership filter as a Column pair — the third mergeable
    * sketch, for the "probably seen before" question (admission pre-dedup,
    * fact-table pruning). Built on Spark's native
    * `BloomFilterAggregate` / `BloomFilterMightContain` (the expressions
    * behind AQE runtime filters), surfaced here as an EXPLICIT,
    * persistable operator: build once over a key set, store the binary,
    * probe any later scan with zero shuffle.
    *
    * Contract: NO false negatives (a key that was aggregated always
    * probes true), false-positive rate ≈ (1 - e^(-k·n/m))^k governed by
    * `numBits` vs the true item count. Nulls never enter the sketch and
    * probe as null (row drops under a filter — match exact semi-join
    * semantics for null keys).
    *
    * Both sides hash with xxhash64 so the sketch keys on a stable 8-byte
    * value regardless of the column's type/width. */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    GraftShims.toColumn(new BloomFilterAggregate(
        GraftShims.toExpression(xxhash64(key)),
        Literal(expectedItems), Literal(numBits))
      .toAggregateExpression())
  }

  /** AMS SECOND-MOMENT (F₂) SKETCH (Alon, Matias & Szegedy 1996) —
    * the one-pass mergeable estimate of Σ_keys cnt², the repeat-rate /
    * self-join-size statistic behind every skew planner: F₂/n² is the
    * collision probability, F₂ vs n flags the heavy-hitter regime
    * before a join blows up. Each of the `nSketches` estimators is
    * (Σ_keys s_i(key)·cnt)² with s_i(key) = ±1 from the md5-prefix bit
    * of (i, key) — E[est] = F₂ exactly; averaging tightens variance.
    * The card reports the estimate BESIDE the exact F₂ with the
    * realized relative error — at true scale the exact column is
    * dropped and only the sketch runs (one combinable ±cnt sum per
    * estimator — constant state, which is the point).
    *
    * ALL-INTEGER determinism: signs are exact md5-bit integers; the
    * signed sums are exact longs; squares and the F₂ sums are carried
    * in decimal(38,0)/HUGEINT (n² tops int64 at n ≈ 3e9 — the r12
    * ladder); the mean of estimators and the relative error are
    * integer floor divisions. No float anywhere — the strongest
    * class.
    *
    * Scale shape: one (sketch, key) count collapse (nSketches× the
    * distinct-key relation, map-side combinable), one combinable
    * signed sum per sketch, one nSketches-row final agg. The exact
    * side is one distinct-key count agg. */
  def amsF2(df: DataFrame, keyCol: Column, nSketches: Int = 16)
      : DataFrame = {
    require(nSketches >= 1, "nSketches must be >= 1")
    val counts = df.select(keyCol.as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val exact = counts.agg(
      coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_keys"),
      coalesce(sum(expr("cast(cnt as decimal(38,0)) * cnt")),
        lit(0L).cast("decimal(38,0)")).as("f2_exact"))
    val ests = counts
      .crossJoin(broadcast(
        counts.sparkSession.range(0, nSketches).select(col("id").as("i"))))
      .select(col("i"),
        (when(conv(substring(md5(
            concat(col("i"), lit("|"), col("k").cast("string"))), 1, 8),
            16, 10).cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
          * col("cnt")).as("sc"))
      .groupBy(col("i")).agg(sum(col("sc")).as("z"))
      .select(expr("cast(z as decimal(38,0)) * z").as("est"))
      .agg(sum(col("est")).as("s"), count(lit(1)).as("ns"))
      .select(expr("s div ns").as("f2_est"))
    exact.crossJoin(ests)
      .select(col("n_rows"), col("n_keys"),
        expr("cast(f2_exact as bigint)").as("f2_exact"),
        col("f2_est"),
        when(expr("f2_exact > 0"),
          expr("(1000000L * abs(f2_est - cast(f2_exact as bigint)))" +
            " div cast(f2_exact as bigint)")).as("rel_err_micros"))
  }

  /** HYPERLOGLOG REPLAY (Flajolet, Fusy, Gandouet & Meunier 2007) —
    * the ORACLE-CHECKED face of the HLL family: Spark's `hll_sketch_agg`
    * is an opaque DataSketches aggregate (which DuckDB cannot
    * replay), so the cross-engine contract is carried here by a
    * deterministic m = 2^p register table built from the q222
    * md5-prefix hash: register = h mod m, rank ρ = leading zeros of
    * the remaining (60−p)-bit word + 1, register value = max ρ. The
    * card reports the estimate BESIDE the exact distinct count with
    * the realized error — at true scale the exact column is dropped
    * and only the sketch runs (ONE combinable max-per-register agg
    * whose state is m registers REGARDLESS of corpus size — the
    * property that replaces the full-key shuffle at 100 TB).
    *
    * Determinism: hash/register/rank are exact integers (ρ via binary
    * string length, no float log); the harmonic sum Σ 2^(−M_r) is
    * carried EXACTLY as integer numerators scaled by 2^(width+1)
    * (each term is a shiftleft — Σ ≤ 2^61 fits long at any p ≤ 16), so
    * registers sum combinably with no float-order sensitivity; the
    * estimator α·m²/Σ is ONE mirrored double division off that exact
    * integer (α and the 2-power numerator are build-time literals, the
    * obfBounds precedent), the small-range correction m·ln(m/V) is one
    * mirrored log, and the branch compares identical doubles.
    *
    * Scale shape: one (key-hash → register, ρ) projection (map-side),
    * one m-row combinable max agg, a 1-row card. The exact side is the
    * test-scale truth anchor (the amsF2 contract). */
  def hllReplay(df: DataFrame, keyCol: Column, p: Int = 8): DataFrame = {
    val regs = hllRegisters(df.select(keyCol.cast("string").as("k"))
      .filter(col("k").isNotNull), p)
      .groupBy(col("r")).agg(max(col("rho")).as("mr"))
    val exact = df.select(keyCol.cast("string").as("k"))
      .filter(col("k").isNotNull)
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("k")).as("n_keys"))
    val est = hllEstimate(p)
    exact.join(broadcast(hllMoments(regs, p)), lit(true))
      .select(col("n_rows"), col("n_keys"), col("nonempty")
          .as("nonempty_registers"),
        (round(est, 4) + lit(0.0)).as("hll_estimate"),
        when(col("n_keys") > 0,
          round((est / col("n_keys").cast("double") - lit(1.0)) *
            lit(1000000.0)).cast("long")).as("err_ppm"))
  }

  /** CROSS-SOURCE DISTINCT OVERLAP VIA HLL UNION — the sketch-path
    * complement of `Dedup.sourceOverlap` (q167): "how many distinct
    * keys do sources A and B share?" answered by inclusion–exclusion
    * over HLL estimates, |A∩B| ≈ Est(A) + Est(B) − Est(A∪B), where
    * the union sketch is the REGISTER-WISE MAX of the two sources'
    * register tables — no key-level pair join anywhere. At 100 TB this
    * is the only shape that answers the corpus-overlap question
    * without shuffling the full key universe: per-source state is
    * exactly m = 2^p register rows, and every merge is an
    * order-free max. Output one row per unordered source pair
    * (source_a < source_b): the three estimates, the
    * inclusion–exclusion overlap, the EXACT overlap (computed at test
    * scale via the q167 fingerprint equi-join — the truth anchor the
    * q299 contract requires beside every sketch), and err_ppm of the
    * estimate against it. Overlap estimates can be negative on small
    * disjoint sources (standard inclusion–exclusion noise) — reported
    * raw, not clamped, so the consumer sees the sketch's true error.
    *
    * Determinism: registers/moments are the exact-integer
    * [[hllRegistersBy]]/[[hllMomentsBy]] relations; each estimate is
    * ONE mirrored float expression ([[hllEstimate]]) over exact
    * longs, rounded to 4 dp (+0.0 signed-zero); the overlap is one
    * mirrored sum over the three ROUNDED estimates, re-rounded;
    * err_ppm is one mirrored division to integer micros-per-million.
    *
    * Scale shape: one map-side hash pass + one (source, r) combinable
    * max agg; the pair fan-out is |S|²/2 · m rows where S is the
    * source label set (small closed set — the sequenceSupport
    * contract) and m = 2^p, CORPUS-INDEPENDENT; the exact column is
    * the one fingerprint equi-join (drop it past test scale and the
    * whole card is corpus-size-free). */
  def hllOverlap(df: DataFrame, sourceCol: String, keyCol: Column,
                 p: Int = 8): DataFrame = {
    val keyed = df.select(col(sourceCol).as("s"),
        keyCol.cast("string").as("k"))
      .filter(col("k").isNotNull && col("s").isNotNull)
    val regs = hllRegistersBy(keyed, p, Seq("s"))
      .groupBy(col("s"), col("r")).agg(max(col("rho")).as("mr"))
      .localCheckpoint(eager = false)
    val est = (round(hllEstimate(p), 4) + lit(0.0))
    val perSrc = hllMomentsBy(regs, p, Seq("s")).select(col("s"), est.as("e"))
    val pairs = perSrc.select(col("s").as("sa"), col("e").as("est_a"))
      .join(perSrc.select(col("s").as("sb"), col("e").as("est_b")),
        col("sa") < col("sb"))
    val unions = regs.join(
        broadcast(pairs.select(col("sa"), col("sb"))),
        col("s") === col("sa") || col("s") === col("sb"))
      .groupBy(col("sa"), col("sb"), col("r"))
      .agg(max(col("mr")).as("mr"))
    val unionEst = hllMomentsBy(unions, p, Seq("sa", "sb"))
      .select(col("sa"), col("sb"), est.as("est_union"))
    val dk = keyed.distinct()
    val exact = dk.join(dk.select(col("s").as("sb0"), col("k")),
        Seq("k"))
      .filter(col("s") < col("sb0"))
      .groupBy(col("s").as("sa"), col("sb0").as("sb"))
      .agg(count(lit(1)).as("n_common"))
    pairs.join(unionEst, Seq("sa", "sb"))
      .join(exact, Seq("sa", "sb"), "left")
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("est_a"), col("est_b"), col("est_union"),
        (round(col("est_a") + col("est_b") - col("est_union"), 4)
          + lit(0.0)).as("est_overlap"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        when(coalesce(col("n_common"), lit(0L)) > 0,
          round(((col("est_a") + col("est_b") - col("est_union")) /
            col("n_common").cast("double") - lit(1.0)) *
            lit(1000000.0)).cast("long")).as("err_ppm"))
  }

  /** The (register, rank) projection of a non-null string-keyed
    * relation `(k)` for [[hllReplay]] — the ungrouped
    * [[hllRegistersBy]], so every HLL face hashes identically. Map-side
    * only: one md5 + integer ops per row, no shuffle. */
  private[graft] def hllRegisters(keyed: DataFrame, p: Int): DataFrame =
    hllRegistersBy(keyed, p, Nil)

  /** Group-preserving form of [[hllRegisters]]: one register stream
    * PER distinct value of `by` (e.g. per source) — the SAME hash and
    * rank arithmetic, so a per-group sketch merged across groups is
    * byte-identical to the global sketch ([[hllOverlap]] leans on
    * that for its union registers). */
  private[graft] def hllRegistersBy(keyed: DataFrame, p: Int,
                                    by: Seq[String]): DataFrame = {
    require(p >= 4 && p <= 16, "need 4 <= p <= 16")
    val m = 1 << p
    val width = 60 - p
    val h = conv(substring(md5(col("k")), 1, 15), 16, 10).cast("long")
    keyed
      .select(by.map(col) :+ h.as("h"): _*)
      .select(by.map(col) :+ (col("h") % m).as("r") :+
        expr(s"h div ${m}L").as("w"): _*)
      .select(by.map(col) :+ col("r") :+
        (when(col("w") === 0, lit(width + 1))
          .otherwise(lit(width + 1) - length(bin(col("w")))))
          .as("rho"): _*)
  }

  /** Collapse a register table `(r, mr)` to the 1-row exact moments
    * `(nonempty, ssum)` — ssum is the harmonic sum scaled by
    * 2^(width+1), exact in a long at any p ≤ 16. */
  private[graft] def hllMoments(regs: DataFrame, p: Int): DataFrame = {
    val width = 60 - p
    regs.agg(count(lit(1)).as("nonempty"),
      sum(expr(s"shiftleft(1L, ${width + 1} - mr)")).as("ssum"))
  }

  /** Grouped form of [[hllMoments]] — one `(nonempty, ssum)` row per
    * distinct `by` tuple, same exact shifted-integer arithmetic. */
  private[graft] def hllMomentsBy(regs: DataFrame, p: Int,
                                  by: Seq[String]): DataFrame = {
    val width = 60 - p
    regs.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("nonempty"),
        sum(expr(s"shiftleft(1L, ${width + 1} - mr)")).as("ssum"))
  }

  /** The estimator expression over [[hllMoments]] columns — α·m²/Σ
    * with the small-range correction branch; α and the 2-power
    * numerator are build-time literals (identical in both engines and
    * both faces). */
  private[graft] def hllEstimate(p: Int): Column = {
    val m = 1 << p
    val width = 60 - p
    // Flajolet et al. 2007 prescribe FIXED bias constants for small
    // register counts (m = 16/32/64); the asymptotic 0.7213/(1+1.079/m)
    // form only holds from m = 128 (p >= 7). Same per-m constants as
    // the HyperANF face (Graph.hyperAnf, m = 32 -> 0.697) and its
    // oracle; the registered q299/q303 faces use p = 8 where the
    // asymptotic form is the paper's value.
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1 + 1.079 / m)
    }
    // alpha * m^2 * 2^(width+1): the scaled numerator, exact in double
    // (a product of a short decimal and a power of two)
    val numer = alpha * math.pow(2.0, 61 + p)
    val v = lit(m.toLong) - col("nonempty")
    val total = (col("ssum") +
      v * lit(1L << (width + 1))).cast("double")
    val raw = lit(numer) / total
    when(raw <= lit(2.5 * m) && v > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw)
  }

  /** COUNT–MIN SKETCH REPLAY — the ORACLE-CHECKED face of the CMS
    * family: Spark's `count_min_sketch` aggregate is an opaque binary
    * sketch (which DuckDB cannot replay), so the cross-engine contract is
    * carried here by a deterministic d×w counter table built from the
    * q222 md5-prefix seed hash and probed for the exact top-`topK`
    * keys. What the oracle then pins is the sketch's DEFINING
    * guarantee, est ≥ exact (min over d buckets, each holding the
    * key's count plus its colliders' mass) — the property every CMS
    * consumer leans on when it treats estimates as admission upper
    * bounds.
    *
    * Determinism: bucket_i(k) = md5-prefix-int(i ‖ '|' ‖ k) mod w —
    * exact integers both engines; counters, mins, and the
    * overestimate are exact longs. Top-K keys rank (count desc, key
    * asc), a total order.
    *
    * Scale shape: the counter build is ONE combinable agg whose
    * output is ≤ d·w cells REGARDLESS of corpus size (the sketch
    * property — this is what replaces the full-key shuffle at 100 TB);
    * the probe is topK·d rows against the cell table. The exact top-K
    * here is the test-scale truth anchor; at scale the probe set comes
    * from a sketch's candidates instead. */
  def cmsReplay(df: DataFrame, keyCol: Column, depth: Int = 4,
                width: Int = 256, topK: Int = 10): DataFrame = {
    require(depth >= 1 && width >= 1 && topK >= 1,
      "need depth, width, topK >= 1")
    val counts = df.select(keyCol.as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val depths = broadcast(
      counts.sparkSession.range(0, depth).select(col("id").as("i")))
    val cells = counts.crossJoin(depths)
      .select(col("i"), cmsBucket(col("i"), col("k"), width).as("b"),
        col("cnt"))
      .groupBy(col("i"), col("b")).agg(sum(col("cnt")).as("c"))
    val top = counts.orderBy(col("cnt").desc, col("k").asc).limit(topK)
    top.crossJoin(depths)
      .select(col("k"), col("cnt"), col("i"),
        cmsBucket(col("i"), col("k"), width).as("b"))
      .join(cells, Seq("i", "b"))
      .groupBy(col("k"), col("cnt")).agg(min(col("c")).as("est"))
      .select(col("k"), col("cnt").as("exact"), col("est"),
        (col("est") - col("cnt")).as("overest"))
  }

  /** BLOOM FILTER REPLAY (Bloom 1970) — the ORACLE-CHECKED face of
    * the bloom family, completing the sketch quartet beside CMS
    * (q260), HLL (q299) and AMS F2 (q222): q57's semijoin rides
    * Spark's opaque `bloom_filter_agg` binary (which DuckDB cannot
    * replay), so the cross-engine contract is carried here by a
    * deterministic m-bit array built from the q222 md5-prefix seed
    * hash family ([[cmsBucket]] — the same k-hash construction) and
    * probed for a second relation's keys. What the card then pins is
    * the structure's DEFINING guarantee: NO FALSE NEGATIVES (every
    * true member probes positive — BloomReplaySpec asserts
    * n_members ≤ n_positive with equality on the member subset), plus
    * the measured false-positive rate beside the exact membership
    * truth. Output ONE row: (n_keys, m_bits, k_hashes, bits_set,
    * n_probes, n_positive, n_members, n_false_pos, fpr_ppm).
    *
    * Determinism: positions are exact md5-prefix integers mod m; the
    * bit array is a bit_or aggregate (order-free, idempotent — the
    * HLL-register argument for exactness under any merge order); all
    * card columns are exact integers; fpr is one micros floor over
    * the exact non-member count.
    *
    * Scale shape: the array is ≤ ⌈m/63⌉ rows REGARDLESS of corpus
    * (63-bit words: the shift never reaches bit 63, which DuckDB's
    * checked `<<` rejects and a signed long would flip negative —
    * the sketch property either way) — at 100 TB the array
    * broadcasts while the exact
    * semijoin truth column shuffles; drop the truth column past test
    * scale and the whole probe is a broadcast join); build and probe
    * are each one combinable pass of k rows per distinct key. */
  def bloomReplay(build: DataFrame, buildKey: Column, probe: DataFrame,
                  probeKey: Column, mBits: Int = 4096,
                  kHashes: Int = 4): DataFrame = {
    require(mBits >= 2 && kHashes >= 1,
      "need mBits >= 2 and kHashes >= 1")
    val spark = build.sparkSession
    val keys = build.select(buildKey.cast("string").as("k"))
      .filter(col("k").isNotNull).distinct()
      .localCheckpoint(eager = false)
    val hashes = broadcast(
      spark.range(0, kHashes).select(col("id").as("i")))
    val words = keys.crossJoin(hashes)
      .select(cmsBucket(col("i"), col("k"), mBits).as("pos"))
      .distinct()
      .select(expr("pos div 63").as("w"),
        expr("shiftleft(1L, cast(pos % 63 as int))").as("bit"))
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("bits"))
      .localCheckpoint(eager = false)
    val probes = probe.select(probeKey.cast("string").as("k"))
      .filter(col("k").isNotNull).distinct()
      .localCheckpoint(eager = false)
    val perKey = probes.crossJoin(hashes)
      .select(col("k"), cmsBucket(col("i"), col("k"), mBits).as("pos"))
      .select(col("k"), expr("pos div 63").as("w"),
        expr("cast(pos % 63 as int)").as("b"))
      .join(broadcast(words), Seq("w"), "left")
      .select(col("k"),
        when(expr("(shiftright(coalesce(bits, 0L), b) & 1) = 1"), 1L)
          .otherwise(0L).as("hit"))
      .groupBy(col("k"))
      .agg((sum(col("hit")) === kHashes).as("positive"))
    val nk = keys.agg(count(lit(1)).as("n_keys"))
    val bs = words.agg(
      coalesce(sum(expr("bit_count(bits)").cast("long")), lit(0L))
        .as("bits_set"))
    val np = probes.agg(count(lit(1)).as("n_probes"))
    val pos = perKey.agg(
      coalesce(sum(when(col("positive"), 1L).otherwise(0L)), lit(0L))
        .as("n_positive"))
    val mem = probes.join(keys.withColumnRenamed("k", "k2"),
        col("k") === col("k2"), "left_semi")
      .agg(count(lit(1)).as("n_members"))
    nk.crossJoin(bs).crossJoin(np).crossJoin(pos).crossJoin(mem)
      .select(col("n_keys"), lit(mBits.toLong).as("m_bits"),
        lit(kHashes.toLong).as("k_hashes"), col("bits_set"),
        col("n_probes"), col("n_positive"), col("n_members"),
        (col("n_positive") - col("n_members")).as("n_false_pos"),
        when(col("n_probes") > col("n_members"),
          expr("(1000000L * (n_positive - n_members))" +
            " div (n_probes - n_members)")).as("fpr_ppm"))
  }

  /** The [[cmsReplay]] bucket hash — also the k-hash family of
    * [[bloomReplay]]. */
  private[graft] def cmsBucket(i: Column, k: Column, width: Int): Column =
    conv(substring(md5(concat(i, lit("|"), k.cast("string"))), 1, 8),
      16, 10).cast("long") % width

  /** Membership probe against a bloom binary (see [[bloomAgg]]).
    * `bloom` must be a constant or scalar-subquery Column — pass
    * `dim.agg(bloomAgg(...)).scalar()`, which keeps the whole build-and-
    * probe INSIDE one plan: Catalyst runs the build subquery once,
    * broadcasts the ~numBits/8-byte binary with the filter expression,
    * and the probe is a per-row codegen'd bit test at the scan. */
  def mightContain(bloom: Column, key: Column): Column = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    GraftShims.toColumn(BloomFilterMightContain(
      GraftShims.toExpression(bloom),
      GraftShims.toExpression(xxhash64(key))))
  }
}
