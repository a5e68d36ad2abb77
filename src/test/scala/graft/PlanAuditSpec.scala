package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the physical-plan properties PLANS.md
  * documents are load-bearing for the 100 TB story — pin them so a
  * refactor can't silently trade a pushed filter for a post-scan one or
  * a broadcast for a cartesian. Asserting on plan STRINGS is coarse but
  * catches exactly the regressions that matter (operator choice), not
  * cosmetic changes. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  // toString truncates long PushedFilters lists; formatted mode doesn't
  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02: every predicate reaches the parquet scan (PushedFilters)") {
    val p = formatted("q02_filter_project")
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThan(l_quantity,30.0)") &&
      p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q11: dims broadcast and the null-filtered left join converts to inner") {
    val p = plan("q11_unified_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q07: top-1 runs as an aggregate — no Window, no per-row rank") {
    val p = plan("q07_window_top1")
    assert(p.contains("max_by"), p)
    assert(!p.contains("Window"), p)
  }

  test("q26: the query subset broadcasts; the corpus side never shuffles whole") {
    val p = plan("q26_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q46: length-bucket blocking is an equi-join, not a cartesian") {
    val p = plan("q46_editdist_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q31: embedding near-dup ships the bucketed path, not all-pairs") {
    val p = plan("q31_embed_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q69: cosine posting self-join is an equi-join with the docfreq " +
    "guard applied pre-join; no cartesian") {
    val p = plan("q69_cosine_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // q69 checkpoints the postings (lineage truncated), so the guard is
    // pinned on the postings plan itself: a lost docfreq filter would
    // still produce correct cosines but revert to the all-pairs class
    val (postings, _) = graft.ops.Dedup.cosineIndex(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      shingleSize = 3, maxDocFreq = 50)
    val pp = postings.queryExecution.executedPlan.toString
    assert(pp.contains("docfreq"), pp)
  }

  test("q73: salted join is a hash join on (key, salt); never a cartesian") {
    val p = plan("q73_salted_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q29/q45: near-dup candidate stages are banded equi-joins, no all-pairs") {
    for (q <- Seq("q29_simhash_hybrid", "q45_neardup_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("top-k-per-group (ANN) keeps the WindowGroupLimit pre-reduction") {
    // q30's per-query top-k is a rank filter with k > 1 — the partial
    // group-limit before the exchange is the scale property
    val p = plan("q30_ann_lsh")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("fa rankSales keeps the WindowGroupLimit pre-reduction below its " +
    "exchange; no aggregate rewrite") {
    import spark.implicits._
    val raw = Seq(
      ("1", "100000", "20200115", "36061", "20230101", "1X", "2", "20200110"),
      ("1", "120000", "20200320", "36061", "20230101", "6Y", "3", "20200315"))
      .toDF("PropertyID", "SaleAmt", "RecordingDate", "FIPS", "FATimeStamp",
        "FATransactionID", "TransactionType", "SaleDate")
    val p = graft.fa.Stages.rankSales(graft.fa.Stages.cleanSales(raw))
      .queryExecution.executedPlan.toString
    // the partial group-limit must sit under the shuffle, so the exchange
    // carries ~|groups| rows rather than every sale
    val exchange = p.indexOf("Exchange hashpartitioning")
    assert(exchange >= 0 && p.indexOf("row_number(), 1, Partial") > exchange, p)
    assert(!p.contains("max_by"), p)
  }

  test("q50/q52: batch-vs-corpus probes broadcast; no cartesian anywhere") {
    for (q <- Seq("q50_incremental_dedup", "q52_leakage_flags")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
  }

  test("q51: chunking is scan + generate only — no shuffle, no join") {
    val p = plan("q51_chunk_tokens")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("q53: repetition metrics are scan-only — no shuffle, no join") {
    val p = plan("q53_repetition")
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("q54: eval postings broadcast into the train posting join; no cartesian") {
    val p = plan("q54_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q55: range join plans as a bucket equi-join, NOT a nested loop") {
    val p = plan("q55_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q56: bm25 prunes to query-term postings before aggregation") {
    val p = formatted("q56_bm25")
    // the term whitelist must appear as a Filter IN-list on the exploded
    // postings (below the tf aggregate), so the wide explode prunes to
    // query-term rows before any shuffle
    assert(p.contains("IN (spark,query,window,stream,merge)") ||
      p.contains("IN (spark, query, window, stream, merge)"), p.take(3000))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q58: interval overlap is a bucket equi-join, not a nested loop") {
    val p = plan("q58_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q61: only the tiny bucket-total table goes single-partition") {
    val p = plan("q61_token_packing")
    // the corpus-side running sum must window by __bucket (parallel);
    // a naive global cumsum would put the whole scan behind ONE
    // SinglePartition exchange with no partition spec on its Window
    assert(p.contains("__bucket"), p)
    val windowSpecs = "Window \\[".r.findAllMatchIn(p).map { m =>
      p.substring(m.start, math.min(p.length, m.start + 400))
    }.toList
    assert(windowSpecs.exists(_.contains("partitionBy=[__bucket")) ||
      p.contains("[__bucket#"), p.take(2000))
  }

  test("q59: snapshot diff is one full-outer equi-join, nothing else") {
    val p = plan("q59_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q57: bloom probe sits at the fact scan, exact semi-join behind it") {
    val p = plan("q57_bloom_semijoin")
    assert(p.contains("might_contain"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q68: salted agg keeps both phases — salted exchange then key-only merge") {
    val p = plan("q68_salted_agg")
    // phase 1 shuffles on (skew_key, salt): the hot key spreads over 16
    // reducer groups; phase 2 shuffles the 16 partials per key. If a
    // refactor collapses the phases, the salted exchange disappears and
    // one task re-owns the hot key at scale.
    assert("hashpartitioning\\(skew_key#\\d+, __graft_salt#\\d+".r
      .findFirstIn(p).isDefined, p.take(3000))
    assert("hashpartitioning\\(skew_key#\\d+, \\d+\\)".r
      .findFirstIn(p).isDefined, p.take(3000))
  }

  test("q77: span winner is a hash aggregate on the span hash — no self-join, " +
    "no all-pairs anywhere") {
    val p = plan("q77_span_dedup")
    assert(p.contains("xxhash64"), p.take(3000))   // 8-byte identity, not text
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q78: the per-source rate table broadcasts; the corpus never " +
    "shuffles for the join") {
    val p = plan("q78_mixture_sample")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("q79: shard assignment rides ONE exchange (the shard partitioning " +
    "IS the output placement)") {
    val p = plan("q79_shuffle_shard")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n${p.take(3000)}")
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q80: percentile bounds broadcast back; the fact side never sorts") {
    val p = plan("q80_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("q81: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q81_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q83: gopher rules are scan-only — no shuffle, no join, no inflation") {
    val p = plan("q83_gopher_rules")
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Generate"), p.take(3000))
  }

  test("q84: in-cell pair join is an equi-join on the cell id; the only " +
    "nested-loop is the 16-row centroid broadcast") {
    val p = plan("q84_semantic_dedup")
    assert(p.contains("cent_id"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the assignment is materialized once — both consumers read the
    // checkpointed RDD instead of re-running the centroid fan-out
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p.take(4000))
  }

  test("q85: the unigram model broadcasts back onto the token stream; " +
    "the corpus never shuffles for the join") {
    val p = plan("q85_unigram_nll")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("q86: the temperature rate table broadcasts; the corpus never " +
    "shuffles for the rate join") {
    val p = plan("q86_temperature_sample")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("q87: trained cells keep the q84 shape — equi pair join, no " +
    "cartesian; Lloyd rounds are checkpointed (constant plan depth)") {
    val p = plan("q87_semantic_dedup_trained")
    assert(p.contains("cent_id"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q88: filtered ANN keeps the IVF shape — one centroid broadcast, " +
    "cell equi-join, no cartesian; the predicate prunes pre-join") {
    val p = plan("q88_ann_filtered")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p.take(4000))
    assert(p.contains("cent_id"), p.take(3000))
  }

  test("q89: the eval set broadcasts; the train corpus never shuffles " +
    "for the leakage scan") {
    val p = plan("q89_semantic_leakage")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q100: the routed leakage hit test is a cell EQUI-join against the " +
    "broadcast eval probes — no nested loop, no cartesian over the corpus") {
    val p = plan("q100_semantic_leakage_routed")
    assert(p.contains("BroadcastHashJoin") && p.contains("cent_id"),
      p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q101: hybrid fusion — query terms and docfreq equi-join into the " +
    "postings (broadcast), no cartesian; nested-loop only for the 1-row " +
    "stats broadcast and the dense run's broadcast query probe") {
    val p = plan("q101_rrf_hybrid")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p.take(6000))
  }

  test("q102: index admission — the batch probes broadcast into the cell " +
    "equi-join; the indexed corpus never sort-merge-shuffles") {
    val p = plan("q102_semantic_admission")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(p.contains("BroadcastHashJoin") && p.contains("cent_id"),
      p.take(4000))
  }

  test("q106: the corpus card is scan + ONE rollup expand — no join at all") {
    val p = plan("q106_corpus_card")
    assert(p.contains("Expand"), p.take(3000))
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct")
      .foreach(j => assert(!p.contains(j), s"$j in ${p.take(3000)}"))
  }

  test("q124: the KNN-graph build routes through the cell EQUI-join " +
    "(the only nested loop is the 16-row centroid fan-out), and the " +
    "rank iterations never go cartesian") {
    // the rank side: pageRank lazily checkpoints the edge relation, so
    // the checked query's own plan holds just the iterations — pin those
    val pq = plan("q124_knn_pagerank")
    assert(!pq.contains("CartesianProduct"), pq.take(4000))
    assert(!pq.contains("BroadcastNestedLoopJoin"), pq.take(4000))
    // the edge-build side (flattened behind the checkpoint above): audit
    // the knnGraph plan directly. The cell assignment materializes once
    // (lazy checkpoint — at most one BNLJ, the 16-row centroid fan-out,
    // and none once flattened); the N-side candidate join MUST be the
    // cent_id equi-join, never an all-pairs shape.
    val pe = graft.ops.Similarity.knnGraph(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!pe.contains("CartesianProduct"), pe.take(4000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(pe).length <= 1,
      pe.take(6000))
    assert(pe.contains("cent_id"), pe.take(4000))
  }

  test("q127: PQ ADC scoring — the codes scan meets the broadcast ADC " +
    "table on a (subspace, code) EQUI-join; never cartesian") {
    val p = plan("q127_pq_ann")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("q128: quality constraints — row-local checks share ONE scan " +
    "(single lineitem aggregate feeding every local report); the FK is " +
    "a broadcast anti-join; only the 1-row total broadcast nests") {
    val p = plan("q128_quality_constraints")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      p.take(6000))
    assert(p.contains("LeftAnti"), p.take(4000))
  }

  test("q129: IVF-PQ — cell-routed candidates on equi-joins only " +
    "(routing is behind the checkpoint; scoring is codes x broadcast " +
    "ADC); never cartesian; the only nested loops are the two 1-row " +
    "centroid-array broadcasts") {
    val p = plan("q129_ivfpq_ann")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    // ivfPqTopK's row-local coarse routing attaches the centroid array via
    // crossJoin(broadcast(<1-row array>)) at TWO sites — the corpus cell
    // assignment (ivfPqIndex) and the query probe routing — the same benign
    // shape the q84/q88/q124 pins allow; more BNLJs means a real fan-out.
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p.take(6000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
  }

  test("q105: two-tier ANN — broadcast-only joins (int8 scan, candidate " +
    "join-back); the corpus never sort-merge-shuffles") {
    val p = plan("q105_two_tier_ann")
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q92: bigram formation is a lag window, not a positional self-join; " +
    "vocab and total broadcast; no cartesian") {
    val p = plan("q92_bigram_nll")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q93: the grouped split adds NO join or shuffle beyond the " +
    "component relation it reads") {
    val p = plan("q93_grouped_split")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the split itself is a projection: exactly the q45 component plan
    // plus a Project — pin by absence of any *extra* join operator vs q45
    val base = plan("q45_neardup_dedup")
    def joins(s: String) = Seq("SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin")
      .map(j => j.r.findAllIn(s).length).sum
    assert(joins(p) == joins(base), s"split=${joins(p)} base=${joins(base)}")
  }

  test("q107: pagerank's edge derivation and per-iteration joins are " +
    "equi-joins — no cartesian anywhere in the iterated plan") {
    // the final plan hides checkpointed iterations; audit one un-
    // checkpointed round explicitly: edges ⨝ ranks on src must hash-join
    val edges = graft.ops.Graph.transitionEdges(
      spark.read.parquet(s"$dir/events.parquet"), "user_id", "event_id",
      graft.ops.Events.jsonField(
        org.apache.spark.sql.functions.col("props"), "$.k"))
    val outw = edges.groupBy("src")
      .agg(org.apache.spark.sql.functions.sum("w").as("ow"))
    val round = edges.join(outw, Seq("src"))
      .join(edges.select(org.apache.spark.sql.functions.col("src"),
        org.apache.spark.sql.functions.lit(1000000L).as("r"))
        .distinct(), Seq("src"))
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val full = plan("q107_pagerank")
    assert(!full.contains("CartesianProduct"), full.take(3000))
  }

  test("q108: PMI pair scoring joins are all broadcast onto the vocab²-" +
    "bounded pair table; bigrams come from a lag window, no self-join " +
    "shuffle") {
    val p = plan("q108_pmi_collocations")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the bigram relation itself is checkpointed (shows as ExistingRDD in
    // the final plan), so pin its lag-window formation separately
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rid").orderBy("pos")
    val bigrams = docs.select(
        org.apache.spark.sql.functions.col("doc_id").as("rid"),
        org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " "))
          .as(Seq("pos", "tok")))
      .withColumn("prev",
        org.apache.spark.sql.functions.lag("tok", 1).over(w))
    val bp = bigrams.queryExecution.executedPlan.toString
    assert(bp.contains("Window") && !bp.contains("Join"), bp.take(2000))
  }

  test("q109: DSIR scores with ONE corpus-token aggregation (both models " +
    "are columns of the same group-by) and broadcast model join-back") {
    val p = plan("q109_dsir_weights")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q111: both SCD2 windows (change-lag and interval-lead) ride ONE " +
    "exchange on the key — the second window reuses the first's " +
    "partitioning and sort") {
    val p = plan("q111_scd2_history")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q112: Neyman allocation is one combinable moment aggregation; " +
    "the strata table never sort-merge-joins") {
    val p = plan("q112_neyman_allocation")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("q114: triangle wedge formation and closure are equi-joins on " +
    "node ids — no cartesian, no nested loop anywhere") {
    val p = plan("q114_triangle_counts")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q117: prefix-filter join is equi-joins only — candidates from " +
    "prefix postings, verification restricted to candidate pairs") {
    val p = plan("q117_jaccard_prefix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q118: every walk step is an equi-join of the frontier on src — " +
    "no cartesian, no nested loop") {
    val p = plan("q118_random_walks")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q113: all three rolling moments ride ONE range-frame window on " +
    "ONE exchange — no join, no second shuffle") {
    val p = plan("q113_rolling_anomaly")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n" + p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("q249: the six-table star broadcasts nation+region, joins " +
    "everything else hash-equi, and pushes the date filter into the " +
    "orders scan") {
    val p = plan("q249_multi_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val f = formatted("q249_multi_join_revenue")
    assert(f.contains("GreaterThanOrEqual(o_orderdate") &&
      f.contains("LessThan(o_orderdate"), f.take(5000))
  }

  test("q278 routed mutual top-1: the ONLY nested-loop broadcast is " +
    "the nCentroids centroid pin; the pair stage and the mutual join " +
    "are equi-joins (no corpus broadcast, no cartesian)") {
    val p = plan("q278_mutual_top1")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // at most one BroadcastNestedLoopJoin: the 16-row centroid cross
    // (the q149/q190 contract; it can sit behind the lazy-checkpoint
    // RDD boundary and not appear at all) — more would be a corpus leak
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("q285 purity: the label relation joins hash-equi without a " +
    "broadcast HINT (subset-proportional side — the planner picks)") {
    val p = plan("q285_mutual_pair_purity")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      p.take(3000)) // centroid pin + the 1-row marginal cross only
  }

  test("q293 source JSD: densify rides broadcasts of the |S|-row " +
    "totals and 1-row vocab size; the pair stage is a term-keyed " +
    "equi-join, never a cartesian in the corpus") {
    val p = plan("q293_source_jsd")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("no vocab-keyed join carries a forced broadcast hint (q85/q92/" +
    "q103/q108/q109/q185/q290): vocabulary grows ~sqrt(n) by Heaps' " +
    "law, so a broadcast HINT on a vocab- or distinct-word-keyed " +
    "relation fails past Spark's 8 GB cap at corpus scale — only " +
    "1-row/|S|-row relations may be hinted; the planner/AQE decides " +
    "for the model joins") {
    // hint markers survive into the optimized logical plan on the Join
    // node's own line (rightHint=(strategy=broadcast)); a vocab-keyed
    // join is one whose equi-condition is the token/word key
    val vocabKeyed = Seq(
      "q85_unigram_nll" -> Seq("tok#"),
      "q92_bigram_nll" -> Seq("tok#", "prev#"),
      "q103_ccnet_buckets" -> Seq("tok#"),
      "q108_pmi_collocations" -> Seq("tok#", "prev#"),
      "q109_dsir_weights" -> Seq("tok#"),
      "q185_bpe_encode" -> Seq("word#"),
      "q290_bpe_fertility" -> Seq("word#"))
    for ((q, keys) <- vocabKeyed) {
      val lp = SparkEntry.queries(q)(spark, dir)
        .queryExecution.optimizedPlan.toString
      val offending = lp.linesIterator.filter { l =>
        l.contains("Join") && l.contains("strategy=broadcast") &&
          keys.exists(k => l.contains(s"= $k") || l.contains(s"($k"))
      }.toList
      assert(offending.isEmpty,
        s"$q forces broadcast on a vocab-keyed join:\n${offending.mkString("\n")}")
    }
  }

  test("q288 Horvitz-Thompson: one scan, one aggregate — no join, no " +
    "window, no second pass") {
    val p = plan("q288_horvitz_thompson")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(3000))
  }

  /** An all-string frame shaped like `fa.Pipeline`'s CSV read of one
    * family: `header` and `rows` are pipe-separated, empty cells NULL. */
  private def rawFamily(header: String, rows: String*): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(header.split('|').toSeq.map(StructField(_, StringType)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map(r => Row.fromSeq(
      r.split("\\|", -1).toSeq.map(v => if (v.isEmpty) null else v))): _*),
      schema)
  }

  test("fa unified join plans equi joins only: no cartesian, no nested loop") {
    import graft.fa.Stages
    val valHist = Stages.rankValHist(Stages.cleanValHist(rawFamily(
      "PropertyID|AssdTotalValue|AssdYear|MarketTotalValue|MarketValueYear|ApprTotalValue|ApprYear|TaxableYear",
      "1|500000|2020|600000|2020|550000|2020|2020", "2|300000|2020|||||2020")))
    val prop = Stages.cleanProp(rawFamily(
      "PropertyID|PropertyClassID|FATimeStamp|SitusLatitude|SitusLongitude|SitusFullStreetAddress|SitusCity|SitusState|SitusZIP5|FIPS|SitusCensusTract|SitusCensusBlock|SitusGeoStatusCode",
      "1|R|20230101|40.7|-73.9|1 Main St|New York|NY|1001|36061|12345|100|A"))
    val deed = Stages.rankSales(Stages.cleanSales(rawFamily(
      "PropertyID|SaleAmt|RecordingDate|FIPS|FATimeStamp|FATransactionID|TransactionType|SaleDate",
      "1|120000|20200320|36061|20230101|6Y|3|20200315")))
    val taxHist = Stages.cleanTaxHist(rawFamily(
      "PropertyID|TaxYear|TaxAmt", "1|2020|123456"))
    // national-scale sides exceed any broadcast threshold
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Stages.unifiedJoin(valHist, prop, deed, taxHist)
        .queryExecution.executedPlan.toString
      // a lost join key shows up as a nested-loop or cartesian join long
      // before it shows up as wall time
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("SortMergeJoin"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
