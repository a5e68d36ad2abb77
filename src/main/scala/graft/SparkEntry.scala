package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ extension operators), with DuckDB-runnable `oracleSql`
  * for every SQL-expressible one. Column names are aliased identically on
  * both sides (driver hash-compares after sorting columns by name).
  *
  * All queries are deterministic: window ranks use tie-free total orders
  * (SURVEY.md §5), float aggregates are rounded to absorb summation-order
  * differences between engines.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(s)
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** Flagship: the reference's unified join shape (fa-etl.py:429-483) on
    * testdata — fact ⟕ dims chain with post-join null filter. */
  def entry(spark: SparkSession): DataFrame =
    qUnifiedJoin(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** §2.6 generalization: grouped aggregation (TPC-H Q1 shape). */
  private def qAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        count(lit(1)).as("cnt"))

  /** P1+P4+P5+P6+P7 (fa-etl.py:61-64): projection + conjunctive filters. */
  private def qFilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate").isNotNull && col("l_quantity") > 30 &&
        col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))

  /** E1+E10 (fa-etl.py:63,233-234): non-strict cast + arithmetic derive. */
  private def qCastArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      floor(col("l_quantity")).cast(LongType).as("qty_int"),
      (col("l_extendedprice") / 100).as("price_adj"),
      Exprs.castOrNull(col("l_returnflag"), LongType).as("flag_bad_cast"))

  /** E2+E3+E6+E12 (fa-etl.py:65,69-73,170-175): substring, lpad,
    * null-strict concat with fallback. */
  private def qStringOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      Exprs.strPrefix(col("p_name"), 4).as("name4"),
      Exprs.padKey(col("p_size"), 4).as("size_pad"),
      Exprs.concatStrictOrElse("_", col("p_brand"), col("p_brand"), col("p_type"))
        .as("brand_type"))

  /** E4+E5 (fa-etl.py:70-72,77-79): yyyyMMdd parse roundtrip + date parts. */
  private def qDateOps(s: SparkSession, dir: String): DataFrame = {
    val ymd = date_format(col("o_orderdate"), "yyyyMMdd")
    t(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast(LongType).as("o_year"),
      month(col("o_orderdate")).cast(LongType).as("o_month"),
      ymd.as("ymd"),
      Exprs.parseYyyymmdd(ymd).as("parsed_date"),
      Exprs.parseYyyymmdd(col("o_orderpriority")).as("bad_date"))
  }

  /** E7+E8+E9 (fa-etl.py:74,80,168-169,395-414): conditional cascade,
    * whitelist-else-null, zero-to-null. */
  private def qCaseCascade(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      Exprs.cascade(
        Seq((col("o_totalprice") > 200000, lit("high")),
            (col("o_totalprice") > 100000, lit("mid")),
            (col("o_totalprice") > 0, lit("low"))),
        lit(null)).as("band"),
      Exprs.whitelistElseNull(col("o_orderstatus"), Seq("F", "O")).as("status_wl"),
      Exprs.zeroToNull(col("o_totalprice")).as("price_nz"))

  /** W1+A1 (fa-etl.py:99-105): deterministic top-1 per group — latest
    * lineitem per order by shipdate, tie-broken by linenumber. Runs as ONE
    * aggregate (`max_by` over an ordering struct, map-side combine, no
    * sorts, no rank pass) — time-equal to the WindowGroupLimit'd window
    * form under an honest sink (see Windows.topOneByAgg scaladoc for the
    * round-2 measurement story), with a sort-free plan. Ascending
    * tie-breaks are negated struct fields; projection happens BEFORE the
    * agg so the all-columns ordering struct can't defeat parquet column
    * pruning. The window form remains `Windows.topOnePerGroup` (needed
    * for frames / non-struct orders). */
  private def qWindowTop1(s: SparkSession, dir: String): DataFrame =
    Windows.topOneByAgg(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
          "l_shipdate", "l_extendedprice", "l_partkey", "l_suppkey"),
        Seq(col("l_orderkey")),
        // l_linenumber alone is not unique in the synthetic data; extend the
        // order to a tie-free total order (SURVEY.md §5 determinism rule).
        struct(col("l_shipdate"), (-col("l_linenumber")).as("ln_neg"),
          col("l_extendedprice"), (-col("l_partkey")).as("pk_neg"),
          (-col("l_suppkey")).as("sk_neg")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("l_extendedprice"))

  /** W2 + frames: rank per supplier + running sum (ordered frame). */
  private def qWindowRunning(s: SparkSession, dir: String): DataFrame =
    Windows.runningSum(
        t(s, dir, "supplier").join(
          t(s, dir, "lineitem")
            .groupBy(col("l_suppkey"), col("l_orderkey"))
            .agg(round(sum(col("l_quantity")), 2).as("qty")),
          col("s_suppkey") === col("l_suppkey"), "inner"),
        "run_qty", col("qty"),
        Seq(col("s_suppkey")), Seq(col("l_orderkey").asc))
      .select(col("s_suppkey"), col("l_orderkey"), col("qty"),
        round(col("run_qty"), 2).as("run_qty"))

  /** J1 (fa-etl.py:357-361): left equi-join on a composite key. */
  private def qJoinComposite(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val a = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
    val b = li.filter(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("ret_price"))
    Joins.leftJoin(a, b, Seq("l_orderkey", "l_suppkey"))
  }

  /** J4/J5 (fa-etl.py:467-476): left join with mismatched key names. */
  private def qJoinRename(s: SparkSession, dir: String): DataFrame =
    Joins.leftJoinRenamed(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")),
        Seq("l_orderkey" -> "o_orderkey"))

  /** §3.3 flagship (fa-etl.py:429-483): 4-table left-join chain; post-join
    * null filter converts the first join to inner (EliminateOuterJoin);
    * dims broadcast. Helper columns dropped (P2). */
  private def qUnifiedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    Joins.leftJoinRenamed(li, o, Seq("l_orderkey" -> "o_orderkey"))
      .transform(d => Joins.leftJoinRenamed(d, c,
        Seq("o_custkey" -> "c_custkey"), broadcastRight = true))
      .transform(d => Joins.leftJoinRenamed(d, n,
        Seq("c_nationkey" -> "n_nationkey"), broadcastRight = true))
      .filter(col("o_totalprice").isNotNull)
      .drop("o_custkey", "c_nationkey")
  }

  /** ValHist unpivot+cascade shape (fa-etl.py:297-419): wide → per-measure
    * tables → left-join realignment → preference cascade + label. */
  private def qUnpivotCascade(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem").select(
      col("l_orderkey").as("k"), year(col("l_shipdate")).as("yr"),
      col("l_returnflag").as("f"), col("l_extendedprice").as("v"))
    def measure(flag: String, out: String): DataFrame =
      base.filter(col("f") === flag).groupBy(col("k"), col("yr"))
        .agg(round(sum(col("v")), 2).as(out))
    val assd = measure("N", "assd_v")
    val market = measure("R", "market_v")
    val appr = measure("A", "appr_v")
    val joined = Joins.leftJoin(Joins.leftJoin(assd, market, Seq("k", "yr")),
      appr, Seq("k", "yr"))
    val (value, used) = Exprs.preferNonZero(Seq(
      "Assd" -> col("assd_v"), "Market" -> col("market_v"),
      "Appr" -> col("appr_v")))
    joined.select(col("k").as("l_orderkey"), col("yr"),
      value.as("value"), used.as("used"), col("market_v"), col("appr_v"))
  }

  /** §2.7 set ops (absent in reference; engine library): intersect/except. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey").as("k"))
    val ord = t(s, dir, "orders").select(col("o_custkey").as("k"))
    cust.intersect(ord).withColumn("tag", lit("both"))
      .unionByName(cust.except(ord).withColumn("tag", lit("cust_only")))
  }

  /** §2.6 distinct aggregation (engine library). */
  private def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))

  /** §2.7 global sort + limit (top-k). */
  private def qTopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Semi/anti joins (engine library; SURVEY.md §2.5 notes absence). */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"))
    val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    Joins.semiJoin(c, o, Seq("c_custkey")).withColumn("tag", lit("has_orders"))
      .unionByName(Joins.antiJoin(c, o, Seq("c_custkey"))
        .withColumn("tag", lit("no_orders")))
  }

  // ------------------------------------------- extension operators (§7)

  /** JSON extraction from event properties (SURVEY.md §2.8 extension):
    * both path-extraction (get_json_object) and full-document parse to a
    * typed MapType (from_json). */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Events.load(s, dir).select(
      col("event_id"), col("event_type"),
      Events.jsonField(col("props"), "$.k").as("k_val"),
      element_at(from_json(col("props"), MapType(StringType, LongType)),
        "k").as("k_map"))

  /** Event-time tumbling window aggregation. */
  private def qTimeWindow(s: SparkSession, dir: String): DataFrame =
    Events.hourlyAgg(Events.load(s, dir))

  /** Gap-based sessionization (30 min inactivity). */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    Events.sessionize(Events.load(s, dir), gapSeconds = 1800)

  /** Day-over-day PSI drift of the event value stream (bin width 50):
    * q76's monitor walking the time axis — one smoothed-PSI row per day
    * vs its predecessor, micro-unit integer summation so the per-day sum
    * is engine-exact. */
  private def qWindowedDrift(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.windowedDrift(Events.load(s, dir), "ts", "value",
      binWidth = 50.0)

  /** Hybrid retrieval by reciprocal-rank fusion: the exact brute-force
    * cosine run and the LSH run (same stride-100 query set, k=10 each)
    * merged by Σ 1/(60+rank), top-5 fused per query — rank-only
    * combination, no cross-run score calibration. */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      k = 10, stride = 100)
    // queryStride restricts the LSH run's QUERY side before candidate
    // scoring — identical per-query results, ~100× less candidate work
    // than scoring every vector and post-filtering
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
      k = 10, nBits = 16, dim = 64, queryStride = 100)
    Similarity.rrfFuse(Seq(bf, lsh), "query_id", "cand_id",
      Seq(col("cos").desc, col("cand_id").asc), k = 5)
  }

  /** HETEROGENEOUS hybrid retrieval: the lexical run (document-as-query
    * BM25, TextAnalysis.bm25MoreLikeThis over the documents table) fused
    * with the dense run (exact embedding cosine over the shared id
    * space) by reciprocal-rank fusion — the realistic sparse+dense stack,
    * where RRF's rank-only combination is what makes the two genuinely
    * incomparable score scales (BM25 sums vs cosines) fusable with zero
    * calibration. Same rrfFuse as q98, unchanged. */
  private def qRrfHybrid(s: SparkSession, dir: String): DataFrame = {
    val lex = TextAnalysis.bm25MoreLikeThis(t(s, dir, "documents"),
        "doc_id", "text", queryStride = 100, k = 10, maxDf = Some(50))
      .select(col("query_id"), col("cand_id"), col("score"))
    val dense = Similarity.bruteForceTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 10, stride = 100)
      .select(col("query_id"), col("cand_id"), col("cos").as("score"))
    Similarity.rrfFuse(Seq(lex, dense), "query_id", "cand_id",
      Seq(col("score").desc, col("cand_id").asc), k = 5)
  }

  /** Signed feature hashing of documents into 256 buckets — the
    * vocab-free fixed-width vectorization for linear quality
    * classifiers; sparse (doc, bucket, w) rows, zero-sum collisions
    * dropped. */
  private def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.featureHash(t(s, dir, "documents"), "doc_id", "text",
      dim = 256)

  /** Session assembly: each 30-min-gap session as its ordered
    * event-type sequence — logs → training conversations; order imposed
    * by array_sort over (ts, event_id) structs, never collect_list
    * order. */
  private def qSessionAssembly(s: SparkSession, dir: String): DataFrame =
    Events.sessionAssemble(Events.load(s, dir), gapSeconds = 1800)

  /** Exact dedup by bag-of-words content fingerprint. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id",
      TextAnalysis.contentFingerprint(col("text")))

  /** Text quality metrics. */
  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityMetrics(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"),
        col("n_chars").cast(LongType).as("n_chars"),
        col("n_tokens").cast(LongType).as("n_tokens"),
        col("n_distinct").cast(LongType).as("n_distinct"),
        col("distinct_ratio"), col("stopword_ratio"), col("avg_token_len"))

  /** Token counting (whitespace + BPE-ish subword estimate). */
  private def qTokenCounts(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"),
        col("n_ws_tokens").cast(LongType).as("n_ws_tokens"),
        col("n_subword_est"), col("n_bpe_tokens"))

  /** Language-ID heuristic by marker-word counts. */
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang"))

  /** Content fingerprint (md5 over sorted distinct tokens). */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.contentFingerprint(col("text")).as("fingerprint"))

  /** TF-IDF top-5 terms per document (keyword extraction). Score rounded
    * to 4 decimals with a term-ASC tie-break — a deterministic total
    * order, so the DuckDB replay hash-matches. */
  private def qTfIdf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text",
      k = 5)

  /** Deterministic stratified sample: 10 docs per language by md5(id)
    * order — reproducible across engines/partitionings/reruns (unlike
    * df.sample, whose draw depends on the physical split). */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedByHash(
      t(s, dir, "documents").select(col("lang"), col("doc_id")),
      Seq("lang"), "doc_id", k = 10)

  /** Incremental corpus admission (nightly-ingest dedup): batch =
    * doc_id % 10 == 0, corpus = the rest. Batch docs are admitted unless
    * near-dup (3-gram Jaccard ≥ 0.8, LSH-then-verify) of a corpus doc or
    * of a smaller-id batch doc. The corpus side is touched only via its
    * narrow band index — the artifact a 100 TB pipeline persists. */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.incrementalNearDups(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", k = 16, bands = 8, shingleSize = 3,
      minEstJaccard = 0.5, threshold = 0.8)
  }

  /** Token-window chunking: 32-token chunks, 8-token overlap — the
    * pack-into-context-window step. Pure per-row explode, no shuffle. */
  private def qChunkTokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 32, overlap = 8)

  /** Train/eval leakage flags: eval = doc_id % 5 == 1 (~20%), train = the
    * rest; is_leak iff the eval doc has a 3-gram-Jaccard-0.8 near-dup in
    * train. Same broadcast-into-band-index shape as q50. */
  private def qLeakageFlags(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.leakageFlags(
      docs.filter(col("doc_id") % 5 =!= 1),
      docs.filter(col("doc_id") % 5 === 1),
      "doc_id", "text", k = 16, bands = 8, shingleSize = 3,
      minEstJaccard = 0.5, threshold = 0.8)
  }

  /** Gopher-style repetition metrics + keep flag — the quality-filter
    * pass before dedup. All per-row array work, no shuffle. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")

  /** Exact 5-gram benchmark-contamination probe: eval = doc_id % 5 == 1
    * (the q52 split, so near-dup leakage and verbatim contamination are
    * directly comparable), train = the rest. Eval postings broadcast into
    * the train posting join. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.ngramContamination(
      docs.filter(col("doc_id") % 5 =!= 1),
      docs.filter(col("doc_id") % 5 === 1),
      "doc_id", "text", n = 5)
  }

  /** Bucketized point-in-interval range join: lineitem ship days against
    * 30 order-derived date windows (width 3–30 days, bucket 16 days).
    * The naive non-equi formulation is a BroadcastNestedLoopJoin; this
    * plans as a hash equi-join on the day bucket + residual BETWEEN. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val pts = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"),
      datediff(col("l_shipdate"), epoch).cast(LongType).as("p_day"))
    val iv = t(s, dir, "orders").filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey").as("interval_id"),
        datediff(col("o_orderdate"), epoch).cast(LongType).as("s_day"))
      .withColumn("e_day", col("s_day") + col("interval_id") % 28 + 3)
    Joins.rangeJoinPoints(pts, "p_day", iv, "s_day", "e_day",
        bucketWidth = 16)
      .select("interval_id", "l_orderkey", "l_linenumber", "p_day")
  }

  /** BM25 top-10 documents per query term (Okapi k1=1.2, b=0.75) over
    * five single-term queries — keyword-targeted corpus selection. */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      queryTerms = Seq("spark", "query", "window", "stream", "merge"),
      k = 10)

  /** Interval-overlap join between two order-derived date-window sets,
    * via the bucket-ownership trick (each overlapping pair emitted from
    * exactly one bucket — no dedup pass). */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    def windows(rem: Int, idName: String, sName: String, eName: String,
                mod: Int, base: Int): DataFrame =
      t(s, dir, "orders").filter(col("o_orderkey") % 100 === rem)
        .select(col("o_orderkey").as(idName),
          datediff(col("o_orderdate"), epoch).cast(LongType).as(sName))
        .withColumn(eName, col(sName) + col(idName) % mod + base)
    Joins.rangeJoinIntervals(
        windows(0, "l_id", "ls", "le", mod = 40, base = 10), "ls", "le",
        windows(1, "r_id", "rs", "re", mod = 30, base = 10), "rs", "re",
        bucketWidth = 32)
      .select("l_id", "r_id", "ls", "rs")
  }

  /** Snapshot diff (CDC shape): two synthetic versions of `orders` —
    * ~1% of keys dropped each way, o_totalprice bumped on keys % 7,
    * o_orderpriority rewritten on keys % 11 — classified
    * added/removed/changed with the changed-column list. One full-outer
    * equi-join; unchanged mass filtered before materialization. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val oldV = orders.filter(col("o_orderkey") % 101 =!= 0)
    val newV = orders.filter(col("o_orderkey") % 103 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 11 === 0, lit("X"))
          .otherwise(col("o_orderpriority")))
    Snapshot.diff(oldV, newV, Seq("o_orderkey"))
      // list type stringified for the cross-engine hash (q38 precedent:
      // parquet list child names differ between engines)
      .select(col("o_orderkey"), col("status"),
        array_join(col("changed_cols"), ",").as("changed_cols"))
  }

  /** Global token packing: concat-in-id-order, split every 64 tokens —
    * two-level prefix scan (only the tiny bucket-total table ever sees a
    * single partition). bucketSize 128 exercises real multi-bucket
    * prefixes at sf0.01 (500 docs → 4 buckets). */
  private def qTokenPacking(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packTokens(t(s, dir, "documents"), "doc_id", "text",
      capacity = 64, bucketSize = 128)

  /** Multi-probe LSH ANN: q30's shape with probeBits=8 — the query side
    * fans out to Hamming-1 neighbor buckets, the stored index is
    * untouched, recall can only rise (candidates ⊇ single-probe). */
  private def qAnnMultiprobe(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5, probeBits = 8)

  /** Forward as-of join: each signup matched to the user's FIRST
    * purchase at-or-after it (next-event attribution — the mirror of
    * q36's backward as-of). */
  private def qAsOfForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Events.load(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    Joins.asOfJoinForward(signups, purchases, Seq("user_id"),
        leftId = Seq("event_id"), leftOn = col("ts"),
        rightOn = col("purchase_ts"), tieBreak = Seq(col("purchase_id").asc))
      .select(col("user_id"), col("event_id"),
        col("ts").cast(TimestampNTZType).as("ts"), col("purchase_id"),
        col("purchase_ts").cast(TimestampNTZType).as("purchase_ts"))
  }

  /** Per-source quota capping (domain balancing): keep at most 20 docs
    * per source, preferring high distinct-token ratio (quality rank,
    * doc_id tie-break). WindowGroupLimit pre-reduces per partition —
    * the standard pretraining domain-mix step as one rank pass. */
  private def qSourceCap(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val quality = round(size(array_distinct(toks)).cast("double") / size(toks), 4)
    Windows.topKPerGroup(
      t(s, dir, "documents").select(col("source"), col("doc_id"),
        quality.as("quality")),
      Seq(col("source")), Seq(col("quality").desc, col("doc_id").asc), k = 20)
  }

  /** Deterministic importance sampling: keep probability = the doc's
    * distinct-token ratio (a quality proxy), decided by the row's own
    * md5 draw — quality-weighted corpus thinning in one shuffle-free
    * pass, reproducible across engines and reruns. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val weight = round(size(array_distinct(toks)).cast("double") / size(toks), 4)
    Sampling.weightedByHash(t(s, dir, "documents"), "doc_id", weight)
      .select("doc_id", "lang")
  }

  /** Directed containment pairs (3-gram, max-direction ≥ 0.9): the
    * quote/subset duplication probe Jaccard misses. The hot-shingle guard
    * IS ENGAGED (maxShingleFreq = 50): shingles present in more than 50
    * docs are dropped from the gram universe before the inverted-index
    * join, bounding candidate work at O(Σ posting²) ≤ #grams·50² — the
    * scale path for the one operator class where MinHash banding cannot
    * generate candidates (asymmetric pairs have tiny Jaccard by
    * construction). The oracle replicates the guard over the same gram
    * relation, so the entry stays hash-checked; the CONTAINMENT stress
    * shape gates the guarded sweep's cost class on a dup-cluster corpus. */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, threshold = 0.9, maxShingleFreq = Some(50))

  /** The curation funnel end-to-end: quality filter (repetition keep) →
    * exact dedup (min-id per bag-of-words fingerprint) → deterministic
    * stratified sample (5 per language). Each stage is the already-
    * checked operator; this query pins their COMPOSITION. Scale shape:
    * scan-side filter, one hash shuffle for the dedup, WindowGroupLimit
    * for the sample — nothing quadratic end to end. */
  private def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keepIds = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val kept = docs.join(keepIds, Seq("doc_id"), "left_semi")
    val deduped = Dedup.dropExact(kept, "doc_id",
      TextAnalysis.contentFingerprint(col("text")))
    Sampling.stratifiedByHash(
      deduped.select(col("lang"), col("doc_id")), Seq("lang"), "doc_id",
      k = 5)
  }

  /** Bloom-prefiltered semi-join: lineitem rows whose order is in a
    * selective order subset. The bloom probe (explicit runtime filter)
    * kills non-matching rows at the scan, BEFORE the semi-join shuffle;
    * the exact semi-join behind it keeps the result exact, so the oracle
    * is the plain semi-join. */
  private def qBloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val dim = t(s, dir, "orders").filter(col("o_orderkey") % 200 === 0)
      .select(col("o_orderkey").as("l_orderkey"))
    Joins.bloomSemiJoin(fact, dim, Seq("l_orderkey"),
      expectedItems = 10000, numBits = 131072)
  }

  /** 3-gram Jaccard near-dup pairs (threshold 0.8) in the composable scale
    * shape: MinHash-LSH candidates, then exact Jaccard verification of only
    * those candidates. Same result as the raw inverted-index sweep
    * (`Dedup.jaccardPairs`, pinned equivalent in OpsSpec) at a fraction of
    * the cost — the sweep's dup-cluster mass is O(cluster²). */
  private def qJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDups(t(s, dir, "documents"), "doc_id", "text",
      k = 16, bands = 8, shingleSize = 3, minEstJaccard = 0.5, threshold = 0.8)

  /** Brute-force cosine top-5 ANN baseline (query subset id % 100 == 0). */
  private def qAnnBruteForce(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5, stride = 100)

  /** Multimodal: binary payload + typed metadata (decode step is stubbed;
    * this query exercises the real schema/bytes/checksum plumbing). */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.fromDocuments(t(s, dir, "documents")).select(
      col("media_id"), col("kind"),
      col("meta.n_bytes").as("n_bytes"), col("meta.checksum").as("checksum"))

  /** MinHash-LSH near-dups over 4-gram shingles (threshold 0.75) — same
    * LSH-then-verify shape as q25 on a different shingle width, so the two
    * queries gate the banding machinery against two distinct exact
    * relations. */
  private def qMinHashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDups(t(s, dir, "documents"), "doc_id", "text",
      k = 16, bands = 8, shingleSize = 4, minEstJaccard = 0.5, threshold = 0.75)

  /** HYBRID near-dup pairs — the candidate stage you'd run at 100 TB:
    * tight-radius SimHash banding (hamming ≤ 3 ⇒ 16-bit chunk keys, the
    * regime where pigeonhole banding stays ~linear; custom Catalyst
    * signature expression) plus banded MinHash-LSH for the wide-radius
    * recall simhash can't deliver at scale, both exact-verified by 2-gram
    * Jaccard ≥ 0.8. RecallProbe: jaccard-0.8 true pairs on this corpus
    * sit at hamming 7–13 even at threshold 0.95, so a COMPLETE
    * simhash-only config needs maxHamming = 14 ⇒ 4-bit chunks ⇒ ~N²/16
    * bucket pairs — that wide-radius configuration stays available in
    * `Dedup.simHashNearDups` as a small-scale verifier, but no checked
    * entry ships it. */
  private def qNearDupHybrid(s: SparkSession, dir: String): DataFrame =
    Dedup.hybridNearDups(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 2, threshold = 0.8)

  /** Near-dup DEDUP end to end: banded MinHash-LSH pairs (the wide-radius
    * scale path — same verified relation q29 emits) → connected components
    * by hook + pointer-jump label contraction → one canonical doc per
    * cluster. Oracle = recursive-CTE transitive closure over the
    * exact-Jaccard pair relation (OracleGen.componentsSql) — clustering
    * is deterministic because the label fixpoint (component min id) is
    * unique regardless of execution order. */
  /** Shared q45/q71/q72 clustering: MinHash-LSH near-dup pairs →
    * connected components (2-gram Jaccard ≥ 0.8; the relation the
    * recursive-CTE oracles replay). */
  private def nearDupComponents(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text",
      k = 32, bands = 16, shingleSize = 2, minEstJaccard = 0.4,
      threshold = 0.8)
    Dedup.components(docs.select("doc_id"), pairs.select("doc_a", "doc_b"))
  }

  private def qNearDupDedup(s: SparkSession, dir: String): DataFrame =
    nearDupComponents(s, dir)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("keep"))

  /** Leakage-safe train/val split: the whole near-dup CLUSTER moves to
    * one side (split keyed on the cluster label's md5 draw, mod 10 → ~10%
    * of clusters in val) — document-level random splits let near-dups
    * straddle the boundary and inflate validation metrics. */
  private def qGroupedSplit(s: SparkSession, dir: String): DataFrame =
    Dedup.groupedSplit(nearDupComponents(s, dir), mod = 10, rem = 0)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("split"))

  /** Cluster-size histogram over the near-dup components — the corpus
    * health metric a dedup pass reports (how much mass sits in how-large
    * duplicate families; singletons counted). Two tiny aggregates over
    * the component labels. */
  private def qClusterStats(s: SparkSession, dir: String): DataFrame =
    nearDupComponents(s, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** Quality-canonical dedup: keep each cluster's longest member (chars
    * desc, id asc) — [[Dedup.canonicalPerCluster]] over the same
    * component relation, quality = the documents table's n_chars. */
  private def qCanonicalPick(s: SparkSession, dir: String): DataFrame =
    Dedup.canonicalPerCluster(nearDupComponents(s, dir),
      t(s, dir, "documents"), "doc_id", "n_chars")
      .withColumnRenamed("quality", "canonical_chars")

  /** Fuzzy string matching (record linkage): part-name pairs within
    * Levenshtein distance 2 over a deterministic 10% key stride.
    * PassJoin-style SEGMENT blocking (complete — some segment of one side
    * survives the ≤ d edits verbatim, position-shifted ≤ d) as a pure
    * equi-join on (len, seg_idx, seg_text) + threshold-banded levenshtein
    * verify. Content in the key subdivides the fixed-format length
    * buckets that made plain length blocking quadratic (the checked
    * length-only path stays as [[graft.ops.Dedup.editDistancePairs]],
    * spec-pinned pair-equal). Oracle = DuckDB brute-force levenshtein
    * over the same subset. */
  private def qEditDistPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairsSegmented(
        t(s, dir, "part").filter(col("p_partkey") % 10 === 0),
        "p_partkey", "p_name", maxDist = 2)
      .select(col("id_a"), col("id_b"), col("dist").cast(LongType).as("dist"))

  /** LSH-bucketed ANN (approximate scale path). Hash-verified: the oracle
    * replicates the seeded hyperplane signatures and byte-chunk buckets in
    * SQL (OracleGen.annLshSql). */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5, nBits = 16, dim = 64)

  /** Embedding-cosine near-duplicate pairs — the LSH-bucketed scale path
    * (same-chunk candidates only; the exact all-pairs broadcast form is the
    * spec-level recall baseline in OpsSpec). Oracle replicates the
    * bucketing (OracleGen.embedNearDupLshSql). */
  private def qEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, lsh = true, nBits = 16, dim = 64)

  /** IVF-cell ANN (complements LSH q30 and the exact baseline q26).
    * Hash-verified: centroids and probing are deterministic, so the oracle
    * runs the same algorithm (OracleGen.ivfSql). */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 2, queryStride = 100)

  /** TRAINED IVF — two quantized Lloyd rounds (distributed k-means with
    * round-6 assignment cosines and centroid means, bit-reproducible
    * across engines and thread counts), then the same nProbe-cell search.
    * Hash-verified: the oracle replays the identical quantized training
    * in SQL (OracleGen.ivfTrainedSql). Recall@5 vs brute force is
    * spec-gated in ScaleOpsSpec. */
  private def qAnnIvfTrained(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 5, queryStride = 100, trainIters = 2)

  /** FILTERED ANN: nearest neighbors among even-label vectors only —
    * metadata-predicate vector search with the PRE-filter design (the
    * index holds only admissible candidates, so recall is independent of
    * the predicate's selectivity). Hash-verified: the oracle replays the
    * same seeded cells + filtered candidate join (OracleGen.ivfFilteredSql). */
  private def qAnnFiltered(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfFilteredTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      candPredicate = pmod(col("label"), lit(2)) === 0,
      k = 5, nCentroids = 16, nProbe = 2, queryStride = 100)

  /** SEMANTIC eval leakage: train vectors within 0.25 round-4 cosine of
    * any eval vector (vec_id % 97 == 1 — 6 held-out rows at sf0.01) get
    * flagged with their hit count — embedding-space benchmark
    * decontamination, the paraphrase-catching sibling of q52's n-gram
    * flags. */
  private def qSemanticLeakage(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticLeakage(t(s, dir, "embeddings"), "vec_id", "embedding",
      isEval = pmod(col("vec_id"), lit(97)) === 1, threshold = 0.25)

  /** CELL-ROUTED semantic leakage — q89's scale path: the same eval
    * set/threshold, but the hit scan routes through 16 trained IVF cells
    * (2 quantized Lloyd rounds, the q87 training) with eval vectors
    * probing their 8 nearest cells — an equi-join on cell id against the
    * broadcast eval side instead of the brute N·E nested loop. Counts
    * lower-bound q89's; routed/brute agreement at these params is
    * spec-measured (NewOpsPropertySpec). */
  private def qSemanticLeakageRouted(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticLeakageCellRouted(t(s, dir, "embeddings"), "vec_id",
      "embedding", isEval = pmod(col("vec_id"), lit(97)) === 1,
      threshold = 0.25, nCentroids = 16, nProbe = 8, trainIters = 2)

  /** Incremental SEMANTIC admission against a frozen IVF index: 90% of
    * the embeddings table is the indexed corpus (16 seeded cells, top-1
    * assignment), the stride-10 remainder arrives as a batch probing its
    * 4 nearest cells — "is this new vector semantically already in the
    * corpus?" decided without re-indexing (the embedding-side analogue
    * of q50/q75's persisted-index admission; PersistedIndexSpec pins the
    * write→read round-trip giving identical flags). */
  private def qSemanticAdmission(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (cent, cells) = Similarity.ivfIndex(
      emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id", "embedding",
      nCentroids = 16)
    Similarity.ivfAdmitFromIndex(cent, cells,
      emb.filter(pmod(col("vec_id"), lit(10)) === 0), "vec_id", "embedding",
      threshold = 0.25, nProbe = 4)
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * index-storage cut (int8 candidates + float re-rank, the two-tier
    * ANN deployment shape); per-vector scale, quantized array, and the
    * reconstruction-error bound all hash-verified against the DuckDB
    * list-op replay. */
  private def qEmbeddingQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
      // the q38 array precedent: arrow list FIELD NAMES differ between
      // engines ('element' vs 'l'), so the checked face serializes the
      // int8 array — every quantized value still enters the hash
      .select(col("vec_id"), col("scale"),
        array_join(col("q"), ",").as("q_str"), col("max_err"))

  /** Two-tier ANN over the int8 representation: every candidate scored
    * by the exact-integer int8 dot (×scales), top-20 per query re-ranked
    * by exact float cosine, top-5 emitted — the retrieval shape the q104
    * quantization exists for (wide scan on the 4×-smaller vectors, full
    * precision only for candidates). Recall@5 vs q26 spec-measured. */
  private def qTwoTierAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.int8RerankTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5, candK = 20, queryStride = 100)

  /** Regex/string cleaning ops (engine-library generality: regexp_replace,
    * trim, case fold, split-part). */
  private def qStringClean(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey"),
      upper(col("c_mktsegment")).as("seg_upper"),
      regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"),
      trim(col("c_name")).as("name_trim"),
      split(col("c_name"), "#").getItem(1).as("name_num"))

  /** As-of join: each purchase matched to the user's latest signup event
    * at-or-before it (backward as-of; panel-data staple Spark lacks
    * natively — composed per Joins.asOfJoinBackward). */
  private def qAsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Events.load(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"))
    Joins.asOfJoinBackward(purchases, signups, Seq("user_id"),
        leftId = Seq("event_id"), leftOn = col("ts"),
        rightOn = col("signup_ts"), tieBreak = Seq(col("signup_id").desc))
      .select(col("user_id"), col("event_id"),
        col("ts").cast(TimestampNTZType).as("ts"), col("signup_id"),
        col("signup_ts").cast(TimestampNTZType).as("signup_ts"))
  }

  /** BOUNDED-MEMORY percentile (the 100 TB sibling of q37's exact form,
    * which buffers every group value in aggregation state): fixed-width
    * value bins → mergeable bin counts → nearest-rank bin midpoint.
    * Deterministic end to end, so the oracle replays the identical
    * algorithm in SQL and the entry is hash-checked — the property
    * `percentile_approx`'s randomized KLL sketch can't offer
    * (use `percentile_approx` directly for tighter error at the same
    * memory). Median qty binned at 1.0, p90 price at
    * 100.0; SketchesSpec pins |estimate − exact nearest-rank| ≤ w/2. */
  private def qApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    Sketches.binnedPercentile(li, "l_quantity", Seq("l_returnflag"),
        p = 0.5, binWidth = 1.0, outCol = "approx_median_qty")
      .join(Sketches.binnedPercentile(li, "l_extendedprice",
        Seq("l_returnflag"), p = 0.9, binWidth = 100.0,
        outCol = "approx_p90_price"), Seq("l_returnflag"))
  }

  /** SALTED two-phase aggregation over a deliberately skewed key (90% of
    * lineitem lands on one 'hot' key): phase 1 aggregates on
    * (key, content-salt) — spreading the hot key over 16 partial groups
    * and 16 tasks — phase 2 merges partials per key. Map-side combine
    * already shrinks plain sums; the salt is the lever for the shapes
    * that defeat it (huge per-key state, count-distinct, a reducer whose
    * single hot task otherwise runs alone at 100 TB). Result is
    * row-identical to the plain groupBy, which is exactly what the
    * oracle runs; PlanAuditSpec pins the two-exchange shape. */
  /** PII scrub demo: the synthetic corpus contains no PII, so the query
    * SYNTHESIZES dirty text deterministically (same concat expression in
    * the oracle SQL — doc_id-derived emails/URLs/digit runs, with mod-
    * gated variants so the counts vary 0/1/2 across docs) and then runs
    * the real scrub operator. The fixture is in-query; the operator and
    * its count/replace contract are the product surface under test. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val idStr = col("doc_id").cast(StringType)
    val dirty = concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" cc backup"), idStr, lit("@alt.example.net")))
        .otherwise(lit("")),
      lit(" contact user"), idStr, lit("@mail.example.com"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" via https://site"), (col("doc_id") % 7).cast(StringType),
          lit(".example.org/p/"), idStr))
        .otherwise(lit("")),
      lit(" ref "), (lit(1000000L) + col("doc_id") * 37 % 9000000L).cast(StringType))
    TextAnalysis.scrubPii(
      t(s, dir, "documents").select(col("doc_id"), dirty.as("text")),
      "doc_id", "text")
  }

  /** TF-IDF shingle-cosine near-dup pairs: the weighted sibling of q25's
    * set-Jaccard — same 3-gram relation, but multiplicity-sensitive and
    * IDF-weighted, with the docfreq guard (≤ 50) engaged as the posting-
    * length bound. On this corpus the planted near-dups sit at cos ≥ 0.93
    * and the noise floor tops out ≈ 0.2, so the 0.6 gate is mid-gap. */
  private def qCosinePairs(s: SparkSession, dir: String): DataFrame =
    Dedup.sparseCosinePairs(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, maxDocFreq = 50, minCos = 0.6)

  /** Incremental WEIGHTED admission (the cosine-family face of q50):
    * batch = doc_id % 10 == 0, corpus = the rest; the corpus is touched
    * only through its persisted TF-IDF posting/IDF artifacts
    * ([[Dedup.cosineIndex]]), batch grams are weighted with the FROZEN
    * corpus IDF, and a batch doc is flagged iff its cosine against some
    * corpus doc reaches 0.6 — frequency-sensitive admission where q50's
    * set-Jaccard path is multiplicity-blind. */
  private def qCosineAdmit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (postings, idf) = Dedup.cosineIndex(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
      shingleSize = 3, maxDocFreq = 50)
    Dedup.cosineAdmitFromIndex(postings, idf,
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      shingleSize = 3, minCos = 0.6)
  }

  /** Distribution-drift monitor: PSI table of the batch (doc_id % 10 == 0)
    * against the corpus (the rest) over n_chars at bin width 50 — the
    * pre-admission health check that pairs with q75 (is the new ingest
    * the same KIND of data, before asking whether it duplicates it?). */
  private def qDriftPsi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.histogramDrift(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "n_chars", binWidth = 50.0)
  }

  /** Duplicate-span removal (C4-style): 10-word spans, global first
    * occurrence wins, documents reassembled from surviving spans. The
    * intra-document dedup direction whole-doc dedup can't see. */
  private def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", spanWords = 10)

  /** Sliding-window exact-substring dedup (Lee et al. 2022 direction):
    * 10-word windows every 4 words, global first occurrence wins, a
    * word survives iff any covering window does — catches duplicated
    * passages that straddle q77's non-overlapping tile boundaries at
    * different offsets (offset-invariant where tiling is not). */
  private def qSlidingSpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.slidingSpanDedup(t(s, dir, "documents"), "doc_id", "text",
      spanWords = 10, stride = 4)

  /** Mixture sampling toward per-source char budgets: src0 capped at
    * 4000 chars (≈ half its mass), src1 at 2000 (≈ quarter), src2's
    * budget exceeds its total (rate 1), every other source unlisted
    * (unconstrained) — the data-mixing step of training-set assembly,
    * deterministic off each row's own md5 draw. */
  private def qMixtureSample(s: SparkSession, dir: String): DataFrame =
    Sampling.mixtureBySource(t(s, dir, "documents"), "doc_id", "source",
        "n_chars", Map("src0" -> 4000L, "src1" -> 2000L, "src2" -> 1000000L))
      .select("doc_id", "source", "n_chars")

  /** Temperature-scaled (UniMax) language mixing: each lang's share of a
    * 400-row global budget ∝ count^0.3 — the multilingual rebalance that
    * upsamples tail languages relative to the `en` head. At sf0.01 the
    * head (`en`, 218 docs) keeps at rate ≈ 0.47 while the tail (`fr`, 64)
    * computes rate ≈ 1.12 and caps at 1 — both branches of the
    * min(1, ·) exercised. Deterministic off each row's own md5 draw. */
  private def qTemperatureSample(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureBySource(t(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.3, budget = 400L)
      .select("doc_id", "lang", "n_chars")

  /** Nucleus (top-p) keep: per language, the smallest high-weight prefix
    * holding half the group's character mass — all-integer keep test
    * (cum·2 < tot), no float boundary for the oracle to disagree on. */
  private def qNucleusKeep(s: SparkSession, dir: String): DataFrame =
    Sampling.nucleusByGroup(t(s, dir, "documents"), Seq("lang"), "doc_id",
        "n_chars", num = 1, den = 2)
      .select("doc_id", "lang", "n_chars")

  /** Per-source quantile normalization of the length score: raw scores
    * aren't comparable across sources; percentiles are — the calibration
    * step before a global quality threshold. */
  private def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    Sampling.quantileNormalize(t(s, dir, "documents"), Seq("source"),
        "doc_id", "n_chars")
      .select("doc_id", "source", "n_chars", "pct")

  /** UniMax epoch-capped budget allocation: 1400 examples over the five
    * langs at ≤4 epochs each — fr/de hit the epoch cap (256/280), the
    * rest share the water-filling level λ = 288. Exercises both the
    * capped prefix and the level branch. */
  private def qUnimaxAlloc(s: SparkSession, dir: String): DataFrame =
    Sampling.unimaxAllocation(t(s, dir, "documents"), "lang",
      budget = 1400L, maxEpochs = 4.0)

  /** Epoch expansion of the q94 allocation: fr/de docs appear exactly 4
    * times; en/es/zh get floor(epochs) copies plus a deterministic
    * fractional draw — the physically-repeated training set, tagged by
    * copy number. */
  private def qEpochExpand(s: SparkSession, dir: String): DataFrame =
    Sampling.epochExpand(t(s, dir, "documents"), "doc_id", "lang",
        budget = 1400L, maxEpochs = 4.0)
      .select("doc_id", "lang", "copy")

  /** Reproducible global shuffle into 8 training shards: shard = md5
    * draw mod 8, pos = rank within shard by (draw, doc_id) — randomized
    * write order that reruns and engines reproduce bit-for-bit. */
  private def qShuffleShard(s: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShards(t(s, dir, "documents").select("doc_id"),
      "doc_id", nShards = 8)

  /** Winsorize lineitem prices to the per-returnflag [p05, p95] band —
    * tail clipping off the q67 binned-percentile machinery: one bounded-
    * memory counts pass reads BOTH ranks, bounds broadcast back, the
    * clip is a shuffle-free map. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    Sketches.winsorize(
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
        "l_returnflag", "l_extendedprice"),
      "l_extendedprice", Seq("l_returnflag"),
      pLo = 0.05, pHi = 0.95, binWidth = 100.0, outCol = "w_price")

  /** Top-50 word bigrams with counts — corpus vocabulary mining; one
    * combinable count shuffle + TakeOrderedAndProject top-k. */
  private def qVocabTopK(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(t(s, dir, "documents"), "text", n = 2, k = 50)

  /** Per-document character entropy (quality signal: gibberish ≈ uniform
    * ceiling, boilerplate scores low) via the native one-pass
    * [[graft.functions.CharEntropy]] expression — zero row inflation; the
    * oracle replays the n_chars×-exploding declarative formulation this
    * expression exists to avoid. */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      // + 0.0: a zero-entropy doc is -0.0 under DuckDB's -sum() face but
      // +0.0 out of Spark round; the idiom pins +0.0 on both (q108 r9).
      (round(graft.functions.CharEntropy.char_entropy(col("text")), 4)
        + lit(0.0)).as("char_entropy"))

  /** Gopher-style rule filter with the measurements AND the verdict —
    * the stop list is the corpus's own function words ("the"/"a"; the
    * paper's English list is register-specific, see
    * [[graft.ops.TextAnalysis.gopherRules]]). */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text",
      minWords = 50, maxWords = 100000, stopWords = Seq("the", "a"),
      minStops = 2)

  /** Corpus data card: per-(lang, source) + rollup totals — docs, chars,
    * words, exact-division mean words, and the q83 quality-rule keep
    * count — the one-pass report a shipped training set carries. */
  private def qCorpusCard(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusCard(t(s, dir, "documents"), "text",
      groupCols = Seq("lang", "source"), charsCol = "n_chars",
      minWords = 50, maxWords = 100000, stopWords = Seq("the", "a"),
      minStops = 2)

  /** SemDedup over the embeddings table: 16 seeded cells bound the pair
    * work; drop any vector within round-4 cosine 0.35 of a lower-id
    * cluster-mate. */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      nCentroids = 16, threshold = 0.35)

  /** TRAINED SemDedup: same domination rule as q84 but over two
    * quantized-Lloyd k-means rounds (q47's bit-reproducible training) —
    * data-shaped cells instead of id-seeded ones. Hash-verified: the
    * oracle replays the identical quantized rounds in SQL
    * (OracleGen.semanticDedupTrainedSql). */
  private def qSemanticDedupTrained(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      nCentroids = 16, threshold = 0.35, trainIters = 2)

  /** Unigram-LM NLL scoring (the KenLM-perplexity-filter stand-in):
    * model fit on the even-id half of the corpus, every document scored
    * by mean −ln p with an OOV floor of 1/total. */
  private def qUnigramNll(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.unigramNll(docs.filter(col("doc_id") % 2 === 0), docs,
      "doc_id", "text")
  }

  /** CCNet head/middle/tail partition: q85's unigram-NLL scores bucketed
    * into per-LANGUAGE terciles (low NLL = head) — the language-calibrated
    * quality partition CCNet feeds into keep/sample/drop decisions; an
    * absolute NLL threshold would compare incomparable per-language
    * perplexity ranges. */
  private def qCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = TextAnalysis.unigramNll(docs.filter(col("doc_id") % 2 === 0),
      docs, "doc_id", "text")
    TextAnalysis.perplexityBuckets(
      scored.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
      Seq("lang"), "doc_id", "avg_nll")
      .select(col("doc_id"), col("lang"), col("avg_nll"), col("bucket"))
  }

  /** Interpolated bigram-LM NLL — q85's model one Markov order up: word
    * ORDER now matters, unseen bigrams back off to the unigram floor.
    * Same even-id reference fit. */
  private def qBigramNll(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.bigramNll(docs.filter(col("doc_id") % 2 === 0), docs,
      "doc_id", "text")
  }

  /** Interpolated Kneser–Ney bigram NLL (d = 0.75) — the CCNet/KenLM
    * smoothing family beside q92's additive backoff: unseen contexts
    * back off to the CONTINUATION probability, not raw frequency.
    * Same even-id reference fit. */
  private def qKneserNeyNll(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.kneserNeyNll(docs.filter(col("doc_id") % 2 === 0),
      docs, "doc_id", "text")
  }

  /** Weighted sample-without-replacement: 10 docs per language, longer
    * docs proportionally likelier (weight = n_chars), Efraimidis–Spirakis
    * priorities off each row's own md5 draw — the third sampling mode
    * next to q49's uniform-per-group and q63's per-row Bernoulli. */
  private def qWeightedReservoir(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedTopKPerGroup(
      t(s, dir, "documents").select(col("lang"), col("doc_id"), col("n_chars")),
      Seq("lang"), "doc_id", col("n_chars"), k = 10)
      .select("lang", "doc_id")

  /** Salted skewed JOIN as a checked contract (the join-side sibling of
    * q68): ~90% of lineitem rows share one hot key; the 25-row dim is
    * replicated bucket-wise so the hot key spreads over 16 tasks. The
    * oracle is the PLAIN left join — salting must be row-invisible. */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val skewKey = when(col("l_orderkey") % 10 =!= 0, lit("hot"))
      .otherwise(concat(lit("k"), (col("l_orderkey") % 100).cast(StringType)))
    val left = t(s, dir, "lineitem")
      .select(skewKey.as("skew_key"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
    val dim = t(s, dir, "nation").select(
      when(col("n_nationkey") === 0, lit("hot"))
        .otherwise(concat(lit("k"), col("n_nationkey").cast(StringType)))
        .as("skew_key"),
      col("n_name").as("dim_name"))
    Skew.saltedLeftJoin(left, dim, Seq("skew_key"), buckets = 16)
  }

  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val skewKey = when(col("l_orderkey") % 10 =!= 0, lit("hot"))
      .otherwise(concat(lit("k"), (col("l_orderkey") % 100).cast(LongType)))
    Skew.saltedAggregate(
      t(s, dir, "lineitem").select(skewKey.as("skew_key"), col("l_quantity")),
      Seq("skew_key"), buckets = 16,
      partial = Seq(sum(col("l_quantity")).as("s"), count(lit(1)).as("c")),
      merge = Seq(round(sum(col("s")), 2).as("sum_qty"),
        sum(col("c")).as("cnt")))
  }

  /** Ordered-statistics aggregation: exact interpolated median + p90. */
  private def qPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("l_quantity"), lit(0.5)), 4).as("median_qty"),
        round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90_price"))

  /** Array aggregation with deterministic ordering (collect + sort, joined
    * to a string so the comparison is engine-portable). */
  private def qArrayAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy(col("l_orderkey"))
      .agg(
        array_join(sort_array(collect_list(col("l_linenumber"))), ",")
          .as("linenumbers"),
        size(collect_set(col("l_suppkey"))).cast(LongType).as("n_supp"))

  /** Hierarchical totals via ROLLUP (grouping-sets family; §2.6
    * generalization). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 2).as("total"))

  /** lead/lag analytics over a per-user event order (§2.4 window family —
    * the reference has no lead/lag; engine-library generalization). */
  private def qLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Events.load(s, dir).select(
      col("user_id"), col("event_id"), col("value"),
      lag(col("value"), 1).over(w).as("prev_value"),
      lead(col("value"), 1).over(w).as("next_value"),
      (round(col("value") - coalesce(lag(col("value"), 1).over(w), lit(0.0)), 2)
        + lit(0.0)).as("delta"))
  }

  /** Native session_window (gap-based session assignment as a built-in
    * grouping — the operator form of q19's manual lag/cumsum construction;
    * same 30-minute-gap semantics, so the same oracle shape applies). */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Events.load(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        Events.centSum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").cast(TimestampNTZType).as("session_start"),
        col("n_events"), col("sum_value"))

  /** Pivot: wide per-group measures from a categorical column. */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum(col("l_quantity")), 2))

  /** Correlated scalar subquery — Catalyst decorrelates to agg + join
    * (SURVEY §4 'subquery decorrelation: built-in if ever needed'). */
  private def qCorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_orders")
    // the correlated aggregate is a SUM, not an AVG: totalprices are cent
    // amounts, so the rounded sum is decimal-exact in both engines; an avg
    // (cents / count) lands on exact .5 sub-cent boundaries where Spark's
    // BigDecimal rounding and DuckDB's multiply-based rounding disagree
    s.sql("""
      SELECT o_orderkey, o_totalprice,
             (SELECT round(sum(o2.o_totalprice), 2) FROM graft_orders o2
              WHERE o2.o_custkey = o.o_custkey) AS cust_total,
             (SELECT count(*) FROM graft_orders o2
              WHERE o2.o_custkey = o.o_custkey) AS cust_n
      FROM graft_orders o""")
  }

  /** Distribution analytics: ntile + percent_rank + cume_dist over a
    * tie-free total order. */
  private def qNtile(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(s, dir, "orders").select(
      col("o_orderkey"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"))
  }

  /** CUBE over two dimensions (all 4 grouping sets; §2.6 family). */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** Native unpivot/melt (the general form of the ValHist manual unpivot,
    * fa-etl.py:325-346 — there each measure carries its own year column, so
    * the pipeline uses filtered measure tables; this is the built-in op). */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")

  /** Link-graph quality ranking: weighted PageRank over the session-
    * transition graph — nodes are the JSON `props.k` page keys, edges are
    * per-user consecutive-event transitions under the `event_id` total
    * order, 5 scaled-integer iterations (bit-exact in both engines; see
    * [[graft.ops.Graph.pageRank]]). */
  private def qPageRank(s: SparkSession, dir: String): DataFrame =
    Graph.pageRank(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")),
      iters = 5)

  /** TRUE (mass-conserving) PageRank on a graph with real dangling
    * nodes: pages whose `src % 7 == 0` out-links are blocklisted (the
    * linked-to-but-never-crawled case every web graph has) become sinks,
    * and `danglingRedistribute = true` returns their rank to the graph
    * as `D div N` per node each iteration — total mass conserves within
    * the integer truncation envelope (GraphSpec pins the bound). Same
    * scaled-integer determinism as q107; the oracle unrolls the extra
    * one-scalar dangling CTE per iteration. */
  private def qPageRankDangling(s: SparkSession, dir: String): DataFrame =
    Graph.pageRank(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k"))
        .filter(col("src") % 7 =!= 0),
      iters = 5, danglingRedistribute = true)

  /** Semantic centrality: PageRank over the IVF-routed k-NN graph of
    * the embedding corpus — the graph×similarity composition (a doc
    * central in its semantic neighborhood graph is a cluster core; the
    * periphery is outliers), built from two existing families with no
    * new primitive. Edge build = q35's cell routing with every vector a
    * query; rank = q107's scaled-integer iteration. */
  private def qKnnPageRank(s: SparkSession, dir: String): DataFrame =
    Graph.pageRank(
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 2),
      iters = 5)

  /** Semi-supervised quality auto-labeling: label propagation over the
    * transition graph — trusted pages (`node % 10 == 0` → 1e6 micros)
    * and known-spam pages (`node % 10 == 5` → 0) clamp; every other
    * page inherits the weighted mean of its in-neighbors, iterated.
    * The audited-sliver → whole-corpus quality-score move, in the same
    * scaled-integer determinism as q107. */
  private def qLabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val edges = Graph.transitionEdges(t(s, dir, "events"), "user_id",
      "event_id", Events.jsonField(col("props"), "$.k"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val seeds = nodes
      .filter(col("node") % 10 === 0 || col("node") % 10 === 5)
      .select(col("node"),
        when(col("node") % 10 === 0, lit(1000000L)).otherwise(lit(0L))
          .as("label"))
    Graph.labelPropagation(edges, seeds, iters = 5)
  }

  /** Product-quantized ANN: per-subspace trained codebooks (8 bytes per
    * vector, 32× compression) + integer-micros ADC scoring — the
    * memory-bound-regime retrieval design past q104's int8. Training
    * replays deterministically via the quantized-Lloyd pattern (L2
    * edition), on the stride-4 id sample (FAISS's sample-train +
    * encode-once shape: trainIters sample passes + ONE corpus pass,
    * instead of trainIters+1 corpus passes). */
  private def qPqAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      m = 8, k = 64, trainIters = 3, topK = 5, queryStride = 100,
      trainStride = 4)

  /** Per-subspace PQ quantization distortion at the q127 codebook
    * params — the codebook-quality observability card beside q291's
    * routing-skew card: SSE/MSE in exact micros and codeword usage,
    * the numbers every ADC-ranked face silently assumes are healthy. */
  private def qPqDistortion(s: SparkSession, dir: String): DataFrame =
    Similarity.pqDistortion(t(s, dir, "embeddings"), "vec_id",
      "embedding", m = 8, k = 64, trainIters = 3, trainStride = 4)

  /** The per-user funnel TRACE (q116's relation one level down):
    * (user, step_idx, step, conversion instant), oracle-checked
    * directly. */
  private def qFunnelTrace(s: SparkSession, dir: String): DataFrame =
    Events.funnelTrace(Events.load(s, dir), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"))
      .withColumn("ts", col("ts").cast(TimestampNTZType))

  /** WINDOWED funnel: each step must land within 24 h of the previous
    * one — the "conversion within a day" contract; timestamp + interval
    * arithmetic keeps the boundary engine-exact. */
  private def qWindowedFunnel(s: SparkSession, dir: String): DataFrame =
    Events.funnelTrace(Events.load(s, dir), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"),
      maxGapSeconds = Some(86400L))
      .withColumn("ts", col("ts").cast(TimestampNTZType))

  /** Uncertainty for a corpus-scale mean without resampling shuffles:
    * 100 Poisson-bootstrap replicate means of the event value, all in
    * ONE combinable aggregation (Chamandy et al. 2012 — the distributed
    * bootstrap); percentile CIs are an ORDER BY away. */
  private def qPoissonBootstrap(s: SparkSession, dir: String): DataFrame =
    Sampling.poissonBootstrap(Events.load(s, dir), "event_id", "value",
      replicates = 100)

  /** ENTITY RESOLUTION end-to-end: segmented edit-distance blocking
    * (q46's candidate engine) → transitive-closure clustering →
    * SURVIVORSHIP of the golden record — per entity: member count,
    * canonical name (longest, id-asc tie), min price (cents-exact), and
    * distinct brand count. The record-linkage composition a master-data
    * pipeline runs nightly. */
  private def qEntityResolution(s: SparkSession, dir: String): DataFrame = {
    val recs = t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("id"), col("p_name").as("s"),
        round(col("p_retailprice") * 100).cast(LongType).as("price_cents"),
        col("p_brand"))
    val mapped = Dedup.resolveEntities(recs, "id", "s", maxDist = 2)
      .join(recs, "id")
    // survivorship canonical = (longest name, min-id tie): max_by on the
    // (length, -id) struct — a combinable aggregation, no per-entity sort
    val canon = Windows.topOneByAgg(
        mapped.select(col("entity_id"), col("s"), col("id")),
        Seq(col("entity_id")),
        struct(length(col("s")).as("len"), (-col("id")).as("neg_id")))
      .select(col("entity_id"), col("s").as("canonical_name"))
    mapped.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("price_cents")).as("min_price_cents"),
        countDistinct(col("p_brand")).as("n_brands"))
      .join(canon, "entity_id")
      .select(col("entity_id"), col("n_members"), col("canonical_name"),
        col("min_price_cents"), col("n_brands"))
  }

  /** SCD1 merge: apply a two-wave CDC batch (upserts, deletes, and
    * genuine inserts, all derived deterministically from the orders
    * table) to a base snapshot — last-write-wins per key by sequence
    * number. The nightly MERGE INTO, engine-native. */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def cents = round(col("o_totalprice") * 100).cast(LongType)
    val base = orders.filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey"), cents.as("price_cents"), col("o_orderstatus"))
    val w1 = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), (cents + 100).as("price_cents"),
        col("o_orderstatus"), lit(1L).as("seq"), lit("U").as("op"))
    val w2 = orders.filter(col("o_orderkey") % 14 === 0)
      .select(col("o_orderkey"), (cents + 200).as("price_cents"),
        col("o_orderstatus"), lit(2L).as("seq"),
        when(col("o_orderkey") % 21 === 0, "D").otherwise("U").as("op"))
    Snapshot.applyCdc(base, w1.unionByName(w2), Seq("o_orderkey"),
      seqCol = "seq", opCol = "op")
  }

  /** Point-in-time join: each purchase picks up the SCD2 attribute
    * version valid AT its timestamp — the standard consumption pattern
    * of q111's history, as a containment m:1 equi-join (disjoint
    * intervals ⇒ no window, no tie-break). */
  private def qPitJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Events.load(s, dir)
    val hist = Events.scd2History(ev, "user_id", "ts", "event_id",
        Events.jsonField(col("props"), "$.k"))
      .select(col("user_id"), col("attr"), col("valid_from"), col("valid_to"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    Events.pointInTimeJoin(facts, hist, Seq("user_id"), "ts")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts").cast(TimestampNTZType), col("attr"))
  }

  /** Non-hierarchical GROUPING SETS — per-flag and per-status marginals
    * in ONE scan + one expand (a shape neither rollup q32 nor cube q39
    * covers: the sets share no prefix). grouping_id disambiguates the
    * all-NULL labels. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(round(col("l_quantity") * 100).cast(LongType))
          .as("qty_cents"))

  /** Robust outliers: MAD fences per event type (median ± 3·MAD) — the
    * heavy-tail-safe screen a value-quality gate runs before training
    * on numeric telemetry. */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame =
    Events.madOutliers(Events.load(s, dir), "event_type", "event_id",
      "value", k = 3.0)

  /** Graded fuzzy matching: first-token-blocked Jaro–Winkler pairs at
    * ≥ 0.9 — the ranked-match complement of q46's hard edit radius,
    * scored by the native codegen'd expression (bit-equal to DuckDB's
    * jaro_winkler_similarity, so the raw doubles hash-verify). */
  private def qJaroWinklerPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaroWinklerPairs(
      t(s, dir, "part").filter(col("p_partkey") % 10 === 0),
      "p_partkey", "p_name", threshold = 0.9)

  /** Market-basket co-occurrence: item pairs sharing an order with
    * support ≥ 2 and integer-micros lift — the A-Priori candidate-pair
    * pass over lineitem baskets. */
  private def qCooccurrence(s: SparkSession, dir: String): DataFrame =
    Baskets.coPairs(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      minSupport = 2L)

  /** Winnowed-fingerprint overlap (the MOSS algorithm): pairs of
    * documents sharing ≥ 2 selected 3-gram hashes under a w=10 window —
    * guaranteed to surface any shared run of ≥ 12 tokens while joining
    * only the sparse fingerprint relation. */
  private def qWinnowing(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowedOverlapPairs(t(s, dir, "documents"),
      "doc_id", "text", k = 3, w = 10, minShared = 2L)

  /** Vocabulary drift: per-term KL(new ‖ old) contributions between the
    * even/odd halves of the documents corpus — the text-side drift
    * monitor pairing with the numeric PSI (q76/q96). */
  private def qVocabDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.vocabKlDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text")
  }

  /** Robust volume trend: Theil–Sen slope of daily event counts per
    * type — median of pairwise slopes, immune to outage/spike days that
    * would drag an OLS fit. */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame =
    Events.theilSenTrend(Events.load(s, dir), "event_type", "ts")

  /** Benford first-digit screen on order totals per priority class —
    * integer-cents digit extraction (no float log10 bucketing), χ² term
    * per digit. */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    DataQuality.benfordDigits(t(s, dir, "orders"), "o_orderpriority",
      "o_totalprice")

  /** Incremental aggregate maintenance: per-customer order count +
    * cents total maintained from the OLD snapshot plus only the
    * changed-key deltas (q59's diff relation) — the oracle does the
    * FULL recompute over the new snapshot, so equality proves the
    * materialized-view algebra. */
  private def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def cents = round(col("o_totalprice") * 100).cast(LongType)
    val oldV = orders.filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), cents.as("price_cents"))
    val newV = orders.filter(col("o_orderkey") % 103 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      .select(col("o_orderkey"), col("o_custkey"), cents.as("price_cents"))
    Snapshot.maintainAgg(oldV, newV, Seq("o_orderkey"),
      groupCol = "o_custkey", centsCol = "price_cents")
  }

  /** Johnson–Lindenstrauss projection of the embeddings to 16 dims via
    * the seeded hyperplane family — coordinates hash-verify because the
    * matrix is a build-time constant both engines share. */
  private def qJlProject(s: SparkSession, dir: String): DataFrame =
    Similarity.jlProjected(t(s, dir, "embeddings"), "vec_id", "embedding",
      outDim = 16, dim = 64)

  /** CUPED variance reduction: per-user experiment metric adjusted by
    * the pre-period covariate, θ from integer moments — the A/B-test
    * power move, engine-exact. */
  private def qCuped(s: SparkSession, dir: String): DataFrame =
    Events.cuped(Events.load(s, dir), "user_id", "ts", "value",
      cutoff = "2024-01-15 00:00:00")

  /** All-integer weighted median: median unit price weighted by
    * quantity per return flag — no float anywhere, the strongest
    * determinism class. */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame =
    Windows.weightedMedian(
      t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast(LongType).as("price_cents"),
        round(col("l_quantity")).cast(LongType).as("qty")),
      "l_returnflag", "price_cents", "qty")
      .select(col("l_returnflag"), col("wmedian").as("wmedian_cents"))

  /** k-NN majority-vote classification: stride vectors labeled by their
    * 5 nearest labeled neighbors (label = vec_id % 5) — the
    * weak-supervision spread of a small audited label set. ROUTED
    * (round 13): the brute face broadcast a corpus-proportional (N/100)
    * query slice into an N²/100 cosine stage; the registered face now
    * cell-routes queries through the shared IVF quantizer
    * (nProbe = 4 of 16) with the vote tail byte-shared. */
  private def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val labeled = e.filter(col("vec_id") % 100 =!= 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        (col("vec_id") % 5).as("label"))
    val queries = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.knnClassifyRouted(labeled, queries, k = 5,
      nCentroids = 16, nProbe = 4)
  }

  /** RFM segmentation: quintile-scored recency/frequency/monetary per
    * purchasing user with the "555"-style segment label; deterministic
    * ntile via (metric, user) total orders. */
  private def qRfm(s: SparkSession, dir: String): DataFrame =
    Events.rfmSegments(Events.load(s, dir), "user_id", "ts", "value",
      convType = "purchase", typeCol = "event_type")

  /** First-order Markov transition matrix over per-user event-type
    * sequences — exact integer micros probabilities. */
  private def qMarkov(s: SparkSession, dir: String): DataFrame =
    Events.markovTransitions(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type")

  /** Gini concentration of per-user spend within each event type —
    * the corpus-balance inequality screen, all-integer micros. */
  private def qGini(s: SparkSession, dir: String): DataFrame =
    Events.giniConcentration(Events.load(s, dir), "event_type", "user_id",
      "value")

  /** Daily-count autocorrelation at lags 1–3 per event type — the
    * seasonality probe; Pearson r from exact integer moments. */
  private def qAutocorr(s: SparkSession, dir: String): DataFrame =
    Events.dailyAutocorrelation(Events.load(s, dir), "event_type", "ts",
      maxLag = 3)

  /** Oracle-checked Count-Min replay over lineitem part keys: the d×w
    * deterministic counter table probed for the exact top-10 keys,
    * pinning est >= exact cross-engine — the checkable face of the
    * CMS family (Spark's `count_min_sketch` aggregate is an opaque
    * binary sketch, which DuckDB cannot replay). See
    * [[graft.ops.Sketches.cmsReplay]]. */
  private def qCmsReplay(s: SparkSession, dir: String): DataFrame =
    Sketches.cmsReplay(t(s, dir, "lineitem"), col("l_partkey"),
      depth = 4, width = 256, topK = 10)

  /** Good–Turing vocabulary saturation per language: unseen-token mass
    * N1/N, hapax share, bias-corrected Chao1 richness — "is more data
    * still adding tokens", the corpus-coverage card beside q243's
    * Heaps exponent. See [[graft.ops.TextAnalysis.goodTuringVocab]]. */
  private def qGoodTuring(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.goodTuringVocab(t(s, dir, "documents"), "lang", "text")

  /** Truss communities: connected components of q256's 4-truss edge
    * set — bridge edges fell in the peel, so the surviving components
    * are the transition graph's community cores. See
    * [[graft.ops.Graph.trussCommunities]]. */
  private def qTrussCommunities(s: SparkSession, dir: String): DataFrame =
    Graph.trussCommunities(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")), k = 4, rounds = 3)

  /** Markov removal-effect attribution over the q257 session chain:
    * per removed state, how much of the session-weighted 8-step
    * conversion probability disappears when its outgoing transitions
    * are dropped — the data-driven channel-credit model beside
    * last-touch. See [[graft.ops.Events.markovRemovalEffects]]. */
  private def qMarkovRemoval(s: SparkSession, dir: String): DataFrame =
    Events.markovRemovalEffects(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase",
      removeStates = Seq("click", "view", "signup"),
      gapSeconds = 1800L, steps = 8)

  /** Shapley channel attribution over gap-session coalitions: each
    * non-conversion event type's average marginal contribution to
    * session conversion, the axiomatic credit split beside q263's
    * removal effects. See [[graft.ops.Events.shapleyAttribution]]. */
  private def qShapley(s: SparkSession, dir: String): DataFrame =
    Events.shapleyAttribution(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase",
      channels = Seq("click", "error", "signup", "view"),
      gapSeconds = 1800L)

  /** Ordered (positional) path attribution: each channel's marginal
    * prefix value at the position it actually arrived in the session
    * path — the arrival-order-aware sibling of q264's order-free
    * Shapley. See [[graft.ops.Events.positionalAttribution]]. */
  private def qPositionalAttribution(s: SparkSession, dir: String)
      : DataFrame =
    Events.positionalAttribution(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase",
      channels = Seq("click", "error", "signup", "view"),
      gapSeconds = 1800L, maxLen = 4)

  /** Pairwise Markov removal effects over the q257/q263 session chain:
    * joint removal of channel pairs vs the sum of singles — negative
    * synergy reads substitutes (overlapping paths), positive reads
    * rerouted mass. See [[graft.ops.Events.markovPairRemovalEffects]]. */
  private def qMarkovPairRemoval(s: SparkSession, dir: String): DataFrame =
    Events.markovPairRemovalEffects(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase",
      removePairs = Seq(("click", "view"), ("click", "signup"),
        ("view", "signup")),
      gapSeconds = 1800L, steps = 6)

  /** Rich-club coefficient of the session-transition graph at degree
    * bars 1/2/4/8 — are the hub states preferentially interlinked.
    * See [[graft.ops.Graph.richClub]]. */
  private def qRichClub(s: SparkSession, dir: String): DataFrame =
    Graph.richClub(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")),
      ks = Seq(1L, 2L, 4L, 8L))

  /** Per-edge trussness tiering of the session-transition graph up to
    * k = 5 — the edge-sampling signal beside q169's node coreness.
    * See [[graft.ops.Graph.trussHierarchy]]. */
  private def qTrussHierarchy(s: SparkSession, dir: String): DataFrame =
    Graph.trussHierarchy(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")), maxK = 5, rounds = 3)

  /** PACF of the daily count series per event type via Durbin–Levinson
    * over the common-mean ACF — the AR-order-selection card beside
    * q153's raw ACF. See [[graft.ops.Events.dailyPacf]]. */
  private def qDailyPacf(s: SparkSession, dir: String): DataFrame =
    Events.dailyPacf(Events.load(s, dir), "event_type", "ts", maxLag = 4)

  /** Lorenz curve at decile resolution per event type — the cumulative-
    * share picture behind q152's Gini scalar, all-integer micros. */
  private def qLorenz(s: SparkSession, dir: String): DataFrame =
    Events.lorenzDeciles(Events.load(s, dir), "event_type", "user_id",
      "value")

  /** Chi-square independence of order priority × status — per-cell
    * observed/expected/chi2 terms over ONE contingency aggregation. */
  private def qChi2(s: SparkSession, dir: String): DataFrame =
    DataQuality.chi2Independence(t(s, dir, "orders"), "o_orderpriority",
      "o_orderstatus")

  /** Frequent contiguous event sequences (PrefixSpan's contiguous
    * case): length-2/3 type n-grams per user stream, support = distinct
    * users containing the gram, support ≥ 5. */
  private def qFrequentSequences(s: SparkSession, dir: String): DataFrame =
    Events.frequentSequences(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", maxLen = 3, minSupport = 5L)

  /** Per-type OLS trend of the daily event-count series — exact
    * integer moments, one round-4 division each for slope/intercept;
    * the least-squares complement to q143's Theil–Sen. */
  private def qDailyTrend(s: SparkSession, dir: String): DataFrame =
    Events.dailyTrend(Events.load(s, dir), "event_type", "ts")

  /** Circular block bootstrap of the per-type daily count series —
    * dependence-preserving resampling for autocorrelated series (the
    * iid q130 bootstrap destroys it); md5-draw block starts, replicate
    * means round-4. */
  private def qBlockBootstrap(s: SparkSession, dir: String): DataFrame =
    Sampling.blockBootstrap(Events.load(s, dir), "event_type", "ts",
      blockLen = 7, replicates = 50)

  /** Source-pair overlap card: distinct content-fingerprint set sizes,
    * intersection, exact Jaccard micros for every source pair sharing
    * a fingerprint — "which mixture components are secretly the same
    * crawl". */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(t(s, dir, "documents"), "source",
      TextAnalysis.contentFingerprint(col("text")))

  /** Cross-source distinct overlap via HLL union — inclusion–
    * exclusion over per-source + union-register sketches of the q167
    * content fingerprints, exact overlap beside the estimate. See
    * [[graft.ops.Sketches.hllOverlap]]. */
  private def qHllOverlap(s: SparkSession, dir: String): DataFrame =
    Sketches.hllOverlap(t(s, dir, "documents"), "source",
      TextAnalysis.contentFingerprint(col("text")))

  /** Two-sample KS per source vs the rest of the corpus over doc
    * length — the unbinned CDF-shape drift test beside PSI/KL/χ²;
    * exact integer numerator, one round-4 division. */
  private def qKsTest(s: SparkSession, dir: String): DataFrame =
    DataQuality.ksAgainstRest(t(s, dir, "documents"), "source", "n_chars")

  /** Retrieval eval: MRR / NDCG@5 / hits@5 of the LSH ANN run against
    * the brute-force truth per query — the IR monitoring triple as a
    * checked relation (RecallProbe's measurement made contractual).
    * DCG weights are build-time integer micros shared with the oracle;
    * the one float op is NDCG's round-4 division. */
  private def qRetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val (run, truth) = lshRunAndTruth(s, dir)
    Similarity.retrievalEval(run, truth, k = 5)
  }

  /** The ranked LSH top-5 run (query_id, cand_id, rank) over every
    * 100th embedding and its brute-force truth (query_id, cand_id) —
    * the retrieval-eval inputs of q165 and q173. */
  private def lshRunAndTruth(s: SparkSession,
                             dir: String): (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val run = Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
        nBits = 16, dim = 64, queryStride = 100)
      .withColumn("rank", row_number().over(w))
      .select("query_id", "cand_id", "rank")
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        k = 5, stride = 100)
      .select("query_id", "cand_id")
    (run, truth)
  }

  /** Curriculum interleave: global training order that round-robins
    * the per-source quality-sorted streams (skipping exhausted
    * sources) — closed-form position from the broadcast size table,
    * never a single-partition global sort. */
  private def qCurriculumInterleave(s: SparkSession, dir: String): DataFrame =
    Sampling.curriculumInterleave(t(s, dir, "documents"), "doc_id",
      "source", "n_chars")

  /** Quantile normalization of per-source doc length onto the pooled
    * distribution (Bolstad's microarray move for cross-corpus quality
    * calibration) — all-integer grid mapping, the normalized score IS
    * a pooled value. */
  private def qQuantileNormalize(s: SparkSession, dir: String): DataFrame =
    DataQuality.quantileNormalize(t(s, dir, "documents"), "doc_id",
        "source", "n_chars", gridSize = 100)
      .select(col("id").as("doc_id"), col("grp").as("source"),
        col("v").as("n_chars"), col("norm").as("norm_chars"))

  /** Exact ROC AUC (Mann–Whitney rank-sum, average-rank ties) per
    * source: does document length separate English from non-English —
    * the quality-classifier calibration eval, integer-exact numerator
    * (2U) plus the one round-4 division. */
  private def qRankSumAuc(s: SparkSession, dir: String): DataFrame =
    DataQuality.rankSumAuc(t(s, dir, "documents"), "source", "n_chars",
      col("lang") === "en")

  /** Mean-average-precision numerator: per-query ALL-INTEGER average
    * precision of the LSH run against brute-force truth — the
    * rank-sensitive eval beside q165's hits/MRR/NDCG triple. Same
    * run/truth derivation as q165. */
  private def qAveragePrecision(s: SparkSession, dir: String): DataFrame = {
    val (run, truth) = lshRunAndTruth(s, dir)
    Similarity.averagePrecision(run, truth, k = 5)
  }

  /** Difference-in-differences per event type at the q147 cutoff:
    * (treated post − pre) − (control post − pre) on micro-exact cell
    * means, treatment = the deterministic user_id%2 holdout — the
    * quasi-experimental causal read beside CUPED's variance shrink. */
  private def qDidEstimator(s: SparkSession, dir: String): DataFrame =
    Events.didEstimator(Events.load(s, dir), "event_type", "user_id",
      "ts", "value", cutoff = "2024-01-15 00:00:00")

  /** Calibration card of the (source, length-bucket) base-rate
    * classifier for lang=en, fit on the id%3=0 train slice (3 is
    * coprime to the id-round-robin source period, so every cell spans
    * both halves), binned on the eval rows — reliability-diagram rows + the ECE numerator, all
    * integer. */
  private def qCalibrationCard(s: SparkSession, dir: String): DataFrame =
    DataQuality.calibrationCard(t(s, dir, "documents"), "doc_id",
      Seq(col("source"), expr("n_chars div 100")), col("lang") === "en",
      bins = 10, trainMod = 3L)

  /** Common-neighbor / Jaccard link prediction on the session graph —
    * the "which edge forms next" ranking; the hub-center degree cap
    * (the similarity-join stop-word trade) is set non-binding at 128
    * on this dense 100-node graph — its semantics are spec-pinned. */
  private def qLinkPrediction(s: SparkSession, dir: String): DataFrame =
    Graph.linkPrediction(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")),
      minCommon = 2L, maxCenterDeg = 128L)

  /** Degree assortativity of the session graph (Newman 2002) — the
    * 1-row hubs-link-hubs texture card; integer moments, one round-4
    * division, no sqrt (marginals equal by symmetry). */
  private def qAssortativity(s: SparkSession, dir: String): DataFrame =
    Graph.degreeAssortativity(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")))

  /** Flesch reading ease per doc in integer micros — the readability
    * tier of the quality stack (vowel-group syllables, terminal-
    * punctuation sentences floored at 1). */
  private def qReadability(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")

  /** Order-independent per-group content checksums over lineitem's
    * key/flag columns — the migration/CDC verification screen (xor +
    * mod-sum of 60-bit md5 row hashes, combinable). */
  private def qGroupChecksum(s: SparkSession, dir: String): DataFrame =
    DataQuality.groupChecksum(t(s, dir, "lineitem"), "l_returnflag",
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus"))

  /** 2-D Pareto frontier per return flag: cheapest price for each
    * quantity level — the skyline operator as two windows on one
    * shuffle, never a quadratic self-join. */
  private def qParetoFrontier(s: SparkSession, dir: String): DataFrame =
    Windows.paretoFrontier(
      t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_orderkey"),
        col("l_linenumber").cast(LongType).as("l_linenumber"),
        round(col("l_extendedprice") * 100).cast(LongType)
          .as("price_cents"),
        round(col("l_quantity")).cast(LongType).as("qty")),
      Seq(col("l_returnflag")), "price_cents", "qty")

  /** Classical additive seasonal decomposition of each event type's
    * daily series — centered 7-day trend, epoch-dow seasonal, residual;
    * all integer micros. */
  private def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    Events.seasonalDecompose(Events.load(s, dir), "event_type", "ts")

  /** Exponentially-decayed per-user engagement score — build-time
    * 0.9^lag micro weights (q165 constants precedent), pure integer
    * dot product, no window. */
  private def qDecayedEngagement(s: SparkSession, dir: String): DataFrame =
    Events.decayedEngagement(Events.load(s, dir), "user_id", "ts")

  /** Isotonic (PAVA) calibration of P(lang=en) against the doc-length
    * bucket — the distributed minimax closed form over the bucket
    * collapse; the calibration FIX beside q175's EVAL. */
  private def qIsotonicCalibration(s: SparkSession, dir: String): DataFrame =
    DataQuality.isotonicCalibration(t(s, dir, "documents"),
      expr("n_chars div 50"), col("lang") === "en")

  /** Spearman rank correlation of quantity vs price per return flag —
    * centered doubled average ranks, integer moments, one round-4
    * sqrt division. */
  private def qSpearman(s: SparkSession, dir: String): DataFrame =
    DataQuality.spearman(t(s, dir, "lineitem"), "l_returnflag",
      "l_quantity", "l_extendedprice")

  /** BPE fit-and-apply: train q172's six merges, encode the corpus,
    * report the per-doc tokenizer compression card. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
      merges = 6)

  /** Content-defined chunking duplicate inventory — boundaries from a
    * trailing 4-gram hash (mod 16), so shared passages chunk
    * identically at ANY offset; the alignment-free storage-dedup tier
    * beside tile (q77) and sliding (q156) spans. */
  private def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunks(t(s, dir, "documents"), "doc_id", "text",
      gramSize = 4, boundaryMod = 16L, minOccurrences = 2L)

  /** Per-user consecutive-active-day streaks (gaps-and-islands):
    * total days, streak count, longest and current streak. */
  private def qActivityStreaks(s: SparkSession, dir: String): DataFrame =
    Events.activityStreaks(Events.load(s, dir), "user_id", "ts")

  /** Nelson–Aalen cumulative hazard over the q120 survival relation —
    * the sum-of-rates estimator, exact integer micros where KM needs
    * ln/exp. */
  private def qNelsonAalen(s: SparkSession, dir: String): DataFrame =
    Events.nelsonAalen(Events.load(s, dir), "user_id", "ts",
      "event_type", startType = "signup", eventType = "purchase")

  /** Time-weighted average value per (event type, day) — each reading
    * holds until the next, the last until midnight; exact micros via
    * schoolbook long division. */
  private def qTwap(s: SparkSession, dir: String): DataFrame =
    Events.twap(Events.load(s, dir), "event_type", "ts", "event_id",
      "value")

  /** DAU / trailing-28-day MAU stickiness per day — the sliding
    * DISTINCT count no window sum expresses. */
  private def qStickiness(s: SparkSession, dir: String): DataFrame =
    Events.stickiness(Events.load(s, dir), "user_id", "ts",
      windowDays = 28)

  /** Incremental ADC admission against a persisted IVF-PQ index (the
    * q102 decision on the 32×-compressed production index): 90% of the
    * embeddings table is indexed — 16 seeded cells + trained PQ
    * codebooks (2 quantized-Lloyd rounds on the stride-4 sample) — and
    * the stride-10 remainder probes its 4 nearest cells, scoring only
    * 8-byte codes via the broadcast ADC table. PersistedIndexSpec pins
    * the cent_id-partitioned write→read round-trip. */
  private def qIvfPqAdmission(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (cent, books, codes) = Similarity.ivfPqIndex(
      emb.filter(pmod(col("vec_id"), lit(10)) =!= 0), "vec_id",
      "embedding", nCentroids = 16, m = 8, k = 64, trainIters = 2,
      dim = 64, trainStride = 4)
    Similarity.ivfPqAdmitFromIndex(cent, books, codes,
      emb.filter(pmod(col("vec_id"), lit(10)) === 0), "vec_id",
      "embedding", adcThresholdMicros = 1100000L, nProbe = 4,
      m = 8, dim = 64)
  }

  /** Cohen's kappa between the q23 n-gram language classifier and the
    * gold lang label — chance-corrected agreement, the annotation-QA
    * gate raw accuracy can't be on a skewed label set. */
  private def qCohensKappa(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    DataQuality.cohensKappa(d, TextAnalysis.langId(col("text")),
      col("lang"))
  }

  /** Simplified silhouette of the id-seeded IVF cells — per cell the
    * mean (b−a)/max(a,b), grading the SAME clustering the routed ANN
    * queries use. */
  private def qSilhouette(s: SparkSession, dir: String): DataFrame =
    Similarity.silhouetteCard(t(s, dir, "embeddings"), "vec_id",
      "embedding", nCentroids = 16, dim = 64)

  /** WOE / Information Value of document length and word count as
    * predictors of lang = en — the interpretable credit-scoring
    * feature screen beside q194's single-split stump. */
  private def qWoeIv(s: SparkSession, dir: String): DataFrame =
    DataQuality.woeIv(
      t(s, dir, "documents")
        .withColumn("n_words", size(split(col("text"), " "))),
      col("lang") === "en", col("doc_id"),
      Seq("n_chars", "n_words"), buckets = 5)

  /** Hard-negative mining for contrastive training: per strided
    * anchor, the 3 most-similar embeddings with a DIFFERENT language
    * label — the near-misses that carry the gradient. ROUTED face
    * (r12): anchors score only their 4 probed IVF cells' mismatched
    * members instead of broadcasting N/10 anchors into a full-corpus
    * N²/10 cosine stage; exhaustive-equivalence to the brute face at
    * nProbe = nCentroids is spec-pinned (RoutedMiningSpec). */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame =
    Similarity.hardNegativesRouted(t(s, dir, "embeddings"),
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "vec_id", "embedding", stride = 10L, k = 3,
      nCentroids = 16, nProbe = 4)

  /** Wasserstein-1 drift of each return flag's quantity distribution
    * vs the rest — the magnitude-aware drift screen beside q166's KS
    * (how FAR mass moved, not just the worst gap). */
  private def qWassersteinDrift(s: SparkSession, dir: String): DataFrame =
    DataQuality.wassersteinDrift(t(s, dir, "lineitem"), "l_returnflag",
      col("l_quantity"))

  /** Decile lift/gains curve of doc length as a predictor of
    * lang = en — "the top tile captures k× base rate", the
    * threshold-free targeting eval beside q160's AUC. */
  private def qLiftCurve(s: SparkSession, dir: String): DataFrame =
    DataQuality.liftCurve(t(s, dir, "documents"), col("n_chars"),
      col("lang") === "en", col("doc_id"), buckets = 10)

  /** Inter-event burstiness per user (Goh–Barabási B in [−1, 1]) —
    * the automation screen: scripted clients sit near −1, organic
    * humans are bursty. */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame =
    Events.burstiness(Events.load(s, dir), "user_id", "ts", minEvents = 5)

  /** Peak concurrent 5-minute activity intervals per event type via
    * the exact sweep line — the provisioning number time-bucket
    * histograms approximate. */
  private def qIntervalConcurrency(s: SparkSession, dir: String)
      : DataFrame =
    Events.intervalConcurrency(Events.load(s, dir), "event_type", "ts",
      durationSeconds = 300L)

  /** Bivariate Mahalanobis outliers per return flag: the 5 lineitems
    * whose (quantity, price-cents) pair is farthest from the group
    * cloud under its own covariance — joint anomalies marginal
    * screens miss. */
  private def qMahalanobis(s: SparkSession, dir: String): DataFrame = {
    // lineitem has no unique key (duplicate l_linenumber per order), so
    // the tie-break id is a CONTENT hash of (grp, x, y): rows tying on
    // (d2, id) are bitwise-identical output rows, making top-k a
    // deterministic multiset whichever copies win
    // the rank key stays the 15-hex md5 PREFIX STRING through the
    // corpus-scale scoring scan (r18): fixed-width lowercase hex orders
    // lexicographically exactly as its base-16 value, so the top-k
    // selection is unchanged, and the conv() radix parse — the one
    // non-trivial per-row expression left on the probe side (the q130
    // lesson) — runs on the <= k·|groups| surviving rows only
    val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("xq"),
        round(col("l_extendedprice") * 100).cast("long").as("yc"))
      .withColumn("rowid",
        substring(md5(concat_ws("#", col("l_returnflag"),
          col("xq"), col("yc"))), 1, 15))
    DataQuality.mahalanobisOutliers(li, "l_returnflag", "rowid",
        col("xq"), col("yc"), k = 5)
      .withColumn("id", conv(col("id"), 16, 10).cast("long"))
  }

  /** Referential-integrity audit over the TPC-H-ish foreign keys:
    * per relationship, NULL-key and orphan counts with the orphan
    * rate — the dbt-style relationship test at warehouse scale
    * (distinct-key anti-joins, never row-level child×parent). */
  private def qIntegrityAudit(s: SparkSession, dir: String): DataFrame =
    DataQuality.integrityAudit(Seq(
      ("lineitem_orders", t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders"), "o_orderkey"),
      ("orders_customer", t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey"),
      ("lineitem_part", t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "part"), "p_partkey"),
      ("customer_nation", t(s, dir, "customer"), "c_nationkey",
        t(s, dir, "nation"), "n_nationkey")))

  /** Forecast-baseline backtest per event type: naive and seasonal-
    * naive MAE/MAPE over the daily series — the floor any shipped
    * forecaster must beat. */
  private def qForecastBacktest(s: SparkSession, dir: String): DataFrame =
    Events.forecastBacktest(Events.load(s, dir), "event_type", "ts")

  /** Two-proportion Wilson/Newcombe interval card per event type:
    * conversion = value ≥ 100, arms by user parity — per-arm 95%
    * score intervals and the Newcombe interval for the lift. */
  private def qTwoProportion(s: SparkSession, dir: String): DataFrame =
    Events.twoProportionCard(Events.load(s, dir), "event_type",
      "user_id", col("value") >= 100.0)

  /** Binary-segmentation change-point per event type: WHEN the daily
    * level shifted and by how much — the retrospective complement to
    * q171's sequential CUSUM, as one exact argmax over day-prefix
    * sums. */
  private def qBinsegChangepoint(s: SparkSession, dir: String): DataFrame =
    Events.binsegChangepoint(Events.load(s, dir), "event_type", "ts")

  /** Neighborhood function N(h) of the sparsified session graph —
    * ordered pairs within h hops for h = 0..4, the effective-diameter
    * card (exact ANF face; HyperANF's HLL swap is the web-scale
    * path). */
  private def qNeighborhoodFn(s: SparkSession, dir: String): DataFrame =
    Graph.neighborhoodFunction(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k"))
        .filter(expr("(src * 31 + dst) % 5 < 1")), maxHops = 4)

  /** HyperANF effective-diameter card over the FULL q196 transition
    * graph (no edge thinning — the sketch face doesn't need it): per
    * hop, the HLL-estimated within-h-hops pair count. The q196 exact
    * face is this card's oracle-of-quality (error band spec-pinned);
    * this face's oracle replays the sketches themselves. */
  private def qHyperAnf(s: SparkSession, dir: String): DataFrame =
    Graph.hyperAnf(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")), maxHops = 4)

  /** Zipf rank-frequency fit over the corpus vocabulary (top 500
    * terms): slope ≈ −1 is natural language, far off flags synthetic/
    * boilerplate text; r² says whether a power law fits at all. */
  private def qZipfFit(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topN = 500)

  /** Cramér's V association between order priority and status — the
    * one-number normalized companion to q155's per-cell χ² card. */
  private def qCramersV(s: SparkSession, dir: String): DataFrame =
    DataQuality.cramersV(t(s, dir, "orders"), "o_orderpriority",
      "o_orderstatus")

  /** Mutual information (and NMI) between return flag and line status
    * — the nats-denominated dependence screen beside χ²/V. */
  private def qMutualInformation(s: SparkSession, dir: String): DataFrame =
    DataQuality.mutualInformation(t(s, dir, "lineitem"), "l_returnflag",
      "l_linestatus")

  /** Log-rank test: do odd and even user cohorts convert at the same
    * hazard? O−E over the pooled per-day risk sets of the q120
    * signup→purchase survival relation, censoring included. */
  private def qLogRank(s: SparkSession, dir: String): DataFrame =
    Events.logRankTest(Events.load(s, dir), "user_id", "ts",
      "event_type", startType = "signup", eventType = "purchase",
      cohortCol = pmod(col("user_id"), lit(2)) === 1)

  /** k-sample stratified log-rank over the q219 duration relation:
    * three user-id cohorts, two strata blocking a second id digit —
    * per-group O/E/V summed across strata, within-stratum risk sets.
    * See [[graft.ops.Events.logRankKSample]]. */
  private def qLogRankK(s: SparkSession, dir: String): DataFrame =
    Events.logRankKSample(Events.load(s, dir), "user_id", "ts",
      "event_type", startType = "signup", eventType = "purchase",
      groupCol = pmod(col("user_id"), lit(3)),
      strataCol = pmod(expr("user_id div 3"), lit(2)))

  /** Stationary distribution of the q151 event-type Markov chain —
    * 10 integer-micros power-iteration steps from uniform. */
  private def qMarkovStationary(s: SparkSession, dir: String): DataFrame =
    Events.markovStationary(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", iters = 10)

  /** Session Markov funnel: q220's chain restricted to in-session
    * transitions (gap <= 1800 s) with 'purchase' absorbing — per
    * starting state the 8-step conversion probability and conditional
    * expected steps to convert. See
    * [[graft.ops.Events.sessionMarkovFunnel]]. */
  private def qSessionMarkovFunnel(s: SparkSession, dir: String): DataFrame =
    Events.sessionMarkovFunnel(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase",
      gapSeconds = 1800L, steps = 8)

  /** k-anonymity audit of customers on the (nation, market-segment)
    * quasi-identifier pair at k = 5 — equivalence-class profile with
    * the at-risk rate. */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    DataQuality.kAnonymityAudit(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), k = 5L)

  /** AMS F₂ sketch of the l_partkey frequency vector (16 estimators)
    * vs the exact second moment — the self-join-size / repeat-rate
    * card with its realized error. */
  private def qAmsF2(s: SparkSession, dir: String): DataFrame =
    Sketches.amsF2(t(s, dir, "lineitem"), col("l_partkey"),
      nSketches = 16)

  /** Hill tail-index of order totals per priority (top 50 order
    * stats): α ≤ 2 means infinite variance — plan skew-robust. */
  private def qHillTail(s: SparkSession, dir: String): DataFrame =
    DataQuality.hillTailIndex(t(s, dir, "orders"), "o_orderpriority",
      col("o_totalprice"), col("o_orderkey"), k = 50)

  /** Nearest-neighbor matching ATT: each odd (treated) user matched
    * to the control nearest on activity level, mean outcome gap — the
    * per-unit-counterfactual causal estimator beside q174 DiD and
    * q188 stratification. */
  private def qNnMatching(s: SparkSession, dir: String): DataFrame =
    Events.nnMatchingAtt(Events.load(s, dir), "user_id", "value",
      treatedCol = pmod(col("user_id"), lit(2)) === 1)

  /** Seasonal strength F_s per event type — "is the dow pattern real"
    * over the q181 decomposition's variance split. */
  private def qSeasonalStrength(s: SparkSession, dir: String): DataFrame =
    Events.seasonalStrength(Events.load(s, dir), "event_type", "ts")

  /** Qini uplift-by-decile: incremental purchase conversion of the
    * treated (odd users) over the control rate, ranked by activity
    * score — the targeting eval q207's lift curve can't express. */
  private def qQiniUplift(s: SparkSession, dir: String): DataFrame =
    Events.qiniUplift(Events.load(s, dir), "user_id", "event_type",
      convType = "purchase", treatedCol = pmod(col("user_id"), lit(2)) === 1)

  /** Reciprocity / dyad census of the full transition graph — what
    * fraction of flows come back. */
  private def qReciprocity(s: SparkSession, dir: String): DataFrame =
    Graph.reciprocity(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")))

  /** SMD covariate-balance card for the parity "experiment": are odd
    * and even users comparable on activity, spend and active days?
    * The diagnostic q174/q188/q225 must pass before their estimates
    * mean anything. */
  private def qSmdBalance(s: SparkSession, dir: String): DataFrame = {
    val per = Events.load(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"),
        count_distinct(
          expr("unix_timestamp(date_trunc('day', ts)) div 86400"))
          .as("n_days"))
    DataQuality.smdBalance(per, pmod(col("user_id"), lit(2)) === 1,
      Seq("n_events", "cents", "n_days"))
  }

  /** Hash-seeded permutation test of the parity "experiment": is the
    * odd/even per-user activity difference larger than random
    * relabelings produce? The assumption-free significance card
    * beside q229's balance check and q231's parametric SPRT. */
  private def qPermutationTest(s: SparkSession, dir: String): DataFrame = {
    val per = Events.load(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    DataQuality.permutationTest(per, pmod(col("user_id"), lit(2)) === 1,
      "user_id", "n_events", reps = 200)
  }

  /** Delta-method CI for the per-segment purchase-per-event ratio,
    * clustered by user — the honest error bar for a ratio metric
    * whose randomization unit contributes many rows. */
  private def qRatioMetricCi(s: SparkSession, dir: String): DataFrame =
    Events.ratioMetricCi(Events.load(s, dir), "user_id", "event_type",
      convType = "purchase", segments = 4L)

  /** Benjamini–Hochberg FDR over the per-event-type family of parity
    * permutation tests — "which event types REALLY differ between the
    * arms" with the expected false-discovery share controlled at 10%.
    * Absent (user, type) pairs count as zero activity (the unit set
    * is the same for every hypothesis). */
  private def qFdrBh(s: SparkSession, dir: String): DataFrame = {
    val ev = Events.load(s, dir)
    val users = ev.select(col("user_id")).distinct()
    val types = ev.select(col("event_type").as("grp")).distinct()
    val counts = ev.groupBy(col("user_id"), col("event_type").as("grp"))
      .agg(count(lit(1)).as("x"))
    val base = users.crossJoin(broadcast(types))
      .join(counts, Seq("user_id", "grp"), "left")
      .select(col("grp"), col("user_id"),
        coalesce(col("x"), lit(0L)).as("x"))
    val pv = DataQuality.permutationTestByGroup(base, "grp",
      pmod(col("user_id"), lit(2)) === 1, "user_id", "x", reps = 100)
    DataQuality.fdrBh(pv, "grp", "p_micros", alphaMicros = 100000L)
  }

  /** Fairness audit of an activity-ranked selection across user
    * segments: label = ever purchased, predicted = top-3 activity
    * deciles — per segment the selection rate, TPR/FPR, disparate
    * impact vs the most-selected segment and the EO gap. */
  private def qFairnessAudit(s: SparkSession, dir: String): DataFrame = {
    val per = Events.load(s, dir).groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("label"))
    DataQuality.fairnessAudit(per, pmod(col("user_id"), lit(3)),
      "user_id", "n_events", "label", topDeciles = 3)
  }

  /** Leave-one-day-out jackknife of the global mean event value —
    * which day, removed, moves the topline most. */
  private def qJackknifeDays(s: SparkSession, dir: String): DataFrame =
    Events.jackknifeDays(Events.load(s, dir), "ts", "value")

  /** Mix/rate decomposition of the half-window change in mean event
    * value across event types — did the topline move because traffic
    * shifted between types, or because types themselves changed. */
  private def qMixRateDecomp(s: SparkSession, dir: String): DataFrame =
    Events.mixRateDecomposition(Events.load(s, dir), "event_type",
      "ts", "value")

  /** Variance-to-mean overdispersion of daily counts per event type —
    * the "is Poisson wrong here" diagnostic that gates every
    * count-based alert threshold. */
  private def qOverdispersion(s: SparkSession, dir: String): DataFrame =
    DataQuality.overdispersion(Events.load(s, dir), "event_type", "ts")

  /** Top-20 user-leaderboard churn between the two window halves —
    * overlap, Jaccard and rank-biased overlap with build-time
    * geometric weights. */
  private def qRankChurn(s: SparkSession, dir: String): DataFrame =
    Events.topKRankChurn(Events.load(s, dir), "user_id", "ts",
      k = 20, p = 0.9)

  /** Chapman capture–recapture estimate of the true user population
    * from the two window halves — the "how many users are we NOT
    * seeing" coverage card. */
  private def qCaptureRecapture(s: SparkSession, dir: String): DataFrame =
    Events.captureRecapture(Events.load(s, dir), "user_id", "ts")

  /** Kendall τ-b between daily volume (events) and daily reach
    * (distinct users) per event type — does more traffic mean more
    * people, monotone-robustly. */
  private def qKendallTau(s: SparkSession, dir: String): DataFrame =
    DataQuality.kendallTau(Events.load(s, dir), "event_type",
      "user_id", "ts")

  /** Heaps-law vocabulary-growth fit over power-of-2 document-prefix
    * checkpoints — is new vocabulary still arriving at the natural
    * sub-linear rate. */
  private def qHeapsFit(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.heapsFit(t(s, dir, "documents"), "doc_id", "text")

  /** Hodges–Lehmann robust typical daily volume per event type — the
    * median of pairwise Walsh averages, exact to micro units. */
  private def qHodgesLehmann(s: SparkSession, dir: String): DataFrame =
    DataQuality.hodgesLehmann(Events.load(s, dir), "event_type", "ts")

  /** Wald–Wolfowitz runs test of the above/below-median daily
    * sequence per event type — regime-clumping vs oscillation, the
    * randomness check q230's trend test can't see. */
  private def qRunsTest(s: SparkSession, dir: String): DataFrame =
    DataQuality.runsTest(Events.load(s, dir), "event_type", "ts")

  /** First-view → first-purchase latency per segment — exact median
    * and nearest-rank P90 over converted users. */
  private def qFunnelLatency(s: SparkSession, dir: String): DataFrame =
    Events.funnelLatency(Events.load(s, dir), "user_id", "ts",
      "event_type", fromType = "view", toType = "purchase",
      segments = 4L)

  /** EWMA one-step-ahead backtest of daily counts per event type —
    * the forecasting baseline MAPE any fancier model must beat. */
  private def qEwmaBacktest(s: SparkSession, dir: String): DataFrame =
    Events.ewmaBacktest(Events.load(s, dir), "event_type", "ts",
      alpha = 0.3, window = 14)

  /** Daily DAU / 7-day WAU / 28-day MAU curve with stickiness — the
    * growth dashboard's spine, exact via bounded fan-out. */
  private def qRollingActive(s: SparkSession, dir: String): DataFrame =
    Events.rollingActiveUsers(Events.load(s, dir), "user_id", "ts")

  /** TPC-H Q5-shaped six-table star join: local-supplier revenue by
    * nation for one region-year, exact integer money (cents × basis
    * points per row, decimal(38,0) sum — output fits int64 to
    * ~$9.2T/nation/year). The multi-join planning face: region and
    * nation BROADCAST; lineitem–orders–customer–supplier shuffle on
    * their keys with AQE free to reorder; the date filter pushes into
    * the orders scan. */
  private def qMultiJoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_suppkey"),
      (round(col("l_extendedprice") * 100).cast("long") *
        (lit(10000L) - round(col("l_discount") * 10000).cast("long")))
        .as("rev"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      .select(col("r_regionkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        // try_cast: the q211 discipline — a plain decimal->long cast
        // WRAPS silently on overflow; out-of-domain yields NULL instead
        expr("try_cast(sum(cast(rev as decimal(38,0))) as bigint)")
          .as("revenue_micros"))
  }

  /** Top-20 session OPENING paths (first three event types of each
    * gap session) — "what do users do first", the path-analysis card
    * on q99's session assembly. */
  private def qSessionPaths(s: SparkSession, dir: String): DataFrame =
    Events.sessionAssemble(Events.load(s, dir), gapSeconds = 1800)
      .select(concat_ws(">",
        slice(split(col("event_seq"), ">"), 1, 3)).as("path3"))
      .groupBy(col("path3")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path3").asc)
      .limit(20)

  /** Hill tail index of the transition graph's out-degree
    * distribution — "is this graph scale-free", the q223 estimator
    * pointed at q107's edge relation. */
  private def qDegreePowerlaw(s: SparkSession, dir: String): DataFrame =
    DataQuality.hillTailIndex(
      Graph.transitionEdges(Events.load(s, dir), "user_id", "event_id",
          Events.jsonField(col("props"), "$.k"))
        .groupBy(col("src")).agg(count(lit(1)).as("d"))
        .select(lit("out_degree").as("grp"), col("d"), col("src")),
      "grp", col("d").cast("double"), col("src"), k = 50)

  /** New vs returning users per day — the acquisition/retention split
    * behind any DAU move. */
  private def qNewVsReturning(s: SparkSession, dir: String): DataFrame =
    Events.newVsReturning(Events.load(s, dir), "user_id", "ts")

  /** Minimum detectable effect per segment on the per-user activity
    * metric — can this segment's sample even see a small lift. */
  private def qMdePower(s: SparkSession, dir: String): DataFrame = {
    val per = Events.load(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    DataQuality.mdePower(per, pmod(col("user_id"), lit(4)), "n_events")
  }

  /** Exposure-weighted permutation test of the parity purchase RATE
    * (purchases per event) — the randomization-test face of q234's
    * ratio metric. */
  private def qWeightedPermutation(s: SparkSession, dir: String)
      : DataFrame = {
    val per = Events.load(s, dir).groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("purchases"),
        count(lit(1)).as("n_events"))
    DataQuality.weightedPermutationTest(per,
      pmod(col("user_id"), lit(2)) === 1, "user_id", "purchases",
      "n_events", reps = 200)
  }

  /** Tukey IQR fence outliers on daily counts per event type — the
    * robust boxplot day screen. */
  private def qIqrOutliers(s: SparkSession, dir: String): DataFrame =
    DataQuality.iqrOutlierDays(Events.load(s, dir), "event_type", "ts")

  /** Mann–Kendall trend test per event type — the nonparametric "is
    * it trending" TEST beside q145's Theil–Sen slope estimate. */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame =
    DataQuality.mannKendall(Events.load(s, dir), "event_type", "ts")

  /** Wald SPRT on the daily purchase share per user segment —
    * early-stopping boundaries priced for peeking; decision day and
    * direction precomputed. */
  private def qSprt(s: SparkSession, dir: String): DataFrame =
    Events.sprt(Events.load(s, dir), "user_id", "ts", "event_type",
      convType = "purchase", segments = 4L)

  /** Group-sequential O'Brien–Fleming interim ladder per event type:
    * five calendar-spaced looks, cumulative pooled two-proportion z
    * (conversion = value ≥ 100, arms by user parity — the q198 design)
    * against the OBF boundary ladder; first-crossing day and decision
    * precomputed. The committee-review interim protocol beside q231's
    * per-unit SPRT. */
  private def qGroupSequential(s: SparkSession, dir: String): DataFrame =
    Events.groupSequential(Events.load(s, dir), "event_type",
      "user_id", "ts", col("value") >= 100.0)

  /** Empirical-Bayes shrinkage of per-user purchase rates toward the
    * corpus rate (prior strength 20) — the rate-ranking fix for tiny
    * denominators. */
  private def qEbShrinkage(s: SparkSession, dir: String): DataFrame =
    Events.ebShrinkage(Events.load(s, dir), "user_id", "event_type",
      convType = "purchase", priorStrength = 20L)

  /** Directed modularity of the q187 SCC partition on the thinned
    * transition graph — "are the cycles real structure or random
    * wiring", the quality card for any graph partition. */
  private def qModularity(s: SparkSession, dir: String): DataFrame = {
    // self-loops dropped: the q187 SCC graph convention — the partition
    // under evaluation and the edge relation must be the SAME graph
    val edges = Graph.transitionEdges(t(s, dir, "events"), "user_id",
        "event_id", Events.jsonField(col("props"), "$.k"))
      .filter(col("src") =!= col("dst"))
      .filter(expr("(src * 31 + dst) % 5 < 1"))
      .localCheckpoint(eager = false)
    Graph.modularity(edges, Graph.scc(edges))
  }

  /** Off-policy replay evaluation: a greedy per-segment policy learned
    * on the train split, scored on eval rounds whose logged arm
    * matches — the unbiased offline estimate of online reward, with
    * the match rate reported beside it. */
  private def qReplayEval(s: SparkSession, dir: String): DataFrame =
    Events.replayEval(Events.load(s, dir), "event_type", "user_id",
      "event_id", "value", nContexts = 4)

  /** Decision-stump split finder: per numeric lineitem feature, the
    * exact Gini-minimizing threshold against the returned-flag label —
    * the distributed CART inner loop as a feature-screening card. */
  private def qGiniStump(s: SparkSession, dir: String): DataFrame =
    DataQuality.giniStump(t(s, dir, "lineitem"),
      col("l_returnflag") === "R",
      Seq("l_quantity", "l_discount", "l_extendedprice"))

  /** TextRank keyword scoring: PageRank over the word co-occurrence
    * graph — unsupervised "what is this corpus about", composed from
    * the adjacency derivation + the q107 rank core unchanged. */
  private def qTextRank(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textRank(t(s, dir, "documents"), "doc_id", "text",
      minLen = 3, iters = 3)

  /** Gonzalez k-center coreset over the embedding corpus: 8 maximally-
    * spread exemplars with their selection radii — the coverage-style
    * diverse subset beside q170's per-query MMR. */
  private def qKCenter(s: SparkSession, dir: String): DataFrame =
    Similarity.kCenterSelect(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 8, dim = 64)

  /** Split-conformal prediction card at α = 0.1 on event values by
    * type: per-group train-mean predictor, exact calibration quantile
    * q̂, and realized eval-split coverage — the distribution-free
    * interval guarantee, verified empirically (expect ≈ 900000
    * micros). */
  private def qConformalCard(s: SparkSession, dir: String): DataFrame =
    DataQuality.conformalCard(Events.load(s, dir), "event_type",
      "event_id", "value")

  /** Margin-based candidate mining (the LASER/CCMatrix ratio-margin
    * criterion) between the embedding table's parity halves: each
    * source's best target by cosine-over-mean-kNN-cosine, kept at
    * ratio ≥ 1 — the hubness-robust alignment mining absolute
    * thresholds can't do. ROUTED face (r12): both parity sides draw
    * candidates from their 4 probed IVF cells instead of broadcasting
    * half the corpus into an N²/4 pair stage; the margin arithmetic is
    * byte-shared with the brute face, and exhaustive equivalence at
    * nProbe = nCentroids is spec-pinned (RoutedMiningSpec). */
  private def qMarginMining(s: SparkSession, dir: String): DataFrame =
    Similarity.marginMiningRouted(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 4, marginThresholdMicros = 1000000L,
      nCentroids = 16, nProbe = 4)

  /** Blocking-quality evaluation: length-bucket and first-token
    * blocking scored against exact edit-distance-≤2 truth on the q133
    * part sample — reduction ratio vs pairs completeness, the
    * ER-blocking trade made contractual. The Spark face computes truth
    * via the COMPLETE segmented scheme (pinned pair-set-equal to
    * all-pairs); the oracle computes it as the literal all-pairs
    * filter. */
  private def qBlockingQuality(s: SparkSession, dir: String): DataFrame = {
    val recs = t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("id"), col("p_name").as("s"))
    val truth = Dedup.editDistancePairsSegmented(recs, "id", "s", 2)
      .select(col("id_a"), col("id_b"))
    Dedup.blockingQuality(recs, "id",
      Seq("len4" -> expr("length(s) div 4"),
        "first_token" -> split(col("s"), " ").getItem(0)),
      truth)
  }

  /** Stratified (blocked) ATE of the user_id-parity "treatment" on
    * event value, blocked by event_type — per-stratum contrasts plus
    * the size-weighted total row; single-arm strata report NULL and
    * stay out of the estimate (overlap trim). */
  private def qStratifiedAte(s: SparkSession, dir: String): DataFrame =
    Events.stratifiedAte(Events.load(s, dir), "event_type", "user_id",
      "value")

  /** Common-support diagnostic over a stratification that DELIBERATELY
    * encodes the treatment on purchase rows (purchase_0/purchase_1 are
    * one-armed → out of support): pooled ATE over all vs supported
    * strata. See [[graft.ops.Events.commonSupport]]. */
  private def qCommonSupport(s: SparkSession, dir: String): DataFrame =
    Events.commonSupport(
      Events.load(s, dir).withColumn("strat",
        when(col("event_type") === "purchase",
          concat(lit("purchase_"),
            pmod(col("user_id"), lit(2)).cast("string")))
          .otherwise(col("event_type"))),
      "strat", "user_id", "value")

  /** Strongly connected components of the session-transition graph,
    * sparsified by a deterministic edge filter so the condensation is
    * nontrivial (the full 100-node graph is one giant SCC) — mutual-
    * navigation page rings, the directed analysis weak components
    * can't express. */
  private def qScc(s: SparkSession, dir: String): DataFrame =
    Graph.scc(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k"))
        .filter(expr("(src * 31 + dst) % 5 < 1")))

  /** Interval join, oracle-checked: clicks joined to same-user
    * purchases within 1 h after. */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame =
    Events.intervalJoin(Events.load(s, dir), "user_id", "ts", "event_id",
      "event_type", leftType = "click", rightType = "purchase",
      windowSeconds = 3600L)

  /** Linear multi-touch attribution: every click before a purchase (and
    * after the user's previous purchase) shares the conversion credit —
    * integer micros, remainder to the last touch, so credit sums to
    * exactly 1e6 per conversion. Complements q126's last-touch model. */
  private def qLinearAttribution(s: SparkSession, dir: String): DataFrame =
    Events.linearAttribution(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", touchType = "click", convType = "purchase")

  /** Time-decay attribution with a 1-day half-life: recency-weighted
    * multi-touch credit, all-integer power-of-two halvings — the last
    * classic of the attribution five. See
    * [[graft.ops.Events.timeDecayAttribution]]. */
  private def qTimeDecayAttribution(s: SparkSession, dir: String)
      : DataFrame =
    Events.timeDecayAttribution(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", touchType = "click",
      convType = "purchase", halfLifeSeconds = 86400L)

  /** IVF-PQ: the FAISS-shape composition — PQ codes scored only inside
    * the query's IVF-probed cells, so the per-candidate stage shrinks
    * from N to Σ|probed cells| while staying integer-ADC cheap. Same
    * codebooks as q127, same routing as q35. */
  private def qIvfPqAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      m = 8, k = 64, trainIters = 3, nCentroids = 16, nProbe = 2,
      topK = 5, queryStride = 100, trainStride = 4)

  /** Entity-resolution SURVIVORSHIP (q133's golden-record step made
    * pluggable): resolve once, then pick each entity's survivor under
    * the three standard MDM rules — most-complete (longest name),
    * most-recent (largest version; p_size as the surrogate), and
    * source-priority (p_brand ladder, unlisted sources lose) — each ONE
    * combinable max_by agg over the same mapped relation. */
  private def qErSurvivorship(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup.Survivorship
    val recs = t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("id"), col("p_name").as("s"),
        col("p_size").cast(LongType).as("ver"), col("p_brand").as("src"))
    val mapped = Dedup.resolveEntities(recs, "id", "s", maxDist = 2)
      .join(recs, "id")
    val complete = Dedup.survivors(mapped, "entity_id", "id",
        Survivorship.MostComplete("s"))
      .select(col("entity_id"), col("s").as("name_complete"))
    val recent = Dedup.survivors(mapped, "entity_id", "id",
        Survivorship.MostRecent("ver"))
      .select(col("entity_id"), col("id").as("id_recent"),
        col("ver").as("ver_recent"))
    val prio = Dedup.survivors(mapped, "entity_id", "id",
        Survivorship.SourcePriority("src",
          Seq("Brand#13", "Brand#7")))
      .select(col("entity_id"), col("id").as("id_priority"),
        col("src").as("src_priority"))
    mapped.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"))
      .join(complete, "entity_id")
      .join(recent, "entity_id")
      .join(prio, "entity_id")
      .select(col("entity_id"), col("n_members"), col("name_complete"),
        col("id_recent"), col("ver_recent"), col("id_priority"),
        col("src_priority"))
  }

  /** IVF-PQ with residual encoding (q129's recall refinement at the
    * same bytes): members encode v − own-cell centroid, queries score
    * each probed cell with the ADC table of their residual against
    * that cell's centroid. RecallProbe: recall@5 0.32 vs raw's 0.15 on
    * a clustered corpus (the regime it exists for); 0.13 vs 0.18 on
    * the isotropic sf embeddings (documented honesty bound). */
  private def qIvfPqResidual(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqResidualTopK(t(s, dir, "embeddings"), "vec_id",
      "embedding", m = 8, k = 64, trainIters = 3, nCentroids = 16,
      nProbe = 2, topK = 5, queryStride = 100, trainStride = 4)

  /** Declarative data-quality gate (the Deequ idea, engine-native): six
    * constraints over lineitem — four row-local checks sharing ONE scan,
    * a composite-key uniqueness check, and an orders referential-
    * integrity check — reported as exact integer counts. */
  private def qQualityConstraints(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    DataQuality.check(li, Seq(
      DataQuality.NotNull("l_shipdate_notnull", "l_shipdate"),
      DataQuality.RangeIn("l_quantity_range", "l_quantity", 1, 50),
      DataQuality.RangeIn("l_discount_range", "l_discount", 0.0, 0.1),
      DataQuality.Holds("price_positive", col("l_extendedprice") > 0),
      DataQuality.Unique("lineitem_pk", Seq("l_orderkey", "l_linenumber")),
      DataQuality.ForeignKey("orderkey_fk", Seq("l_orderkey"),
        t(s, dir, "orders"), Seq("o_orderkey"))))
  }

  /** Marketing-funnel accounting: LAST-TOUCH attribution — every
    * purchase credits the user's latest strictly-preceding click under
    * the (ts, event_id) total order; organic purchases keep a NULL
    * touch. One user-key window, no event-log self-join. */
  private def qLastTouchAttribution(s: SparkSession, dir: String): DataFrame =
    Events.lastTouchAttribution(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", touchType = "click", convType = "purchase")

  /** Crawl-frontier prioritization: PERSONALIZED PageRank with teleport
    * restricted to the trusted seed pages (`node % 10 == 0`) — rank
    * measures reachability from the seed set, the signal a crawler uses
    * to order its frontier. Same integer iteration as q107. */
  private def qPersonalizedPageRank(s: SparkSession, dir: String): DataFrame =
    Graph.personalizedPageRank(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")),
      seed = col("node") % 10 === 0, iters = 5)

  /** Collocation mining for tokenizer/vocab curation: adjacent-bigram
    * PMI over the corpus, noise-floored at c2 >= 5. */
  private def qPmiCollocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
      minCount = 5L)

  /** DSIR targeted selection: every doc scored by the mean per-token
    * log-likelihood ratio between the `src0`-domain unigram model and
    * the raw-pool model; keep = the target model prefers it. Both models
    * fit in one corpus scan (one group-by, two count columns). */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
      col("source") === "src0")

  /** Oracle-checked Bloom replay: ordering customers' keys into a
    * 4096-bit array, probed for every customer — no false negatives,
    * measured FPR beside exact membership. See
    * [[graft.ops.Sketches.bloomReplay]]. */
  private def qBloomReplay(s: SparkSession, dir: String): DataFrame =
    Sketches.bloomReplay(t(s, dir, "orders"), col("o_custkey"),
      t(s, dir, "customer"), col("c_custkey"))

  /** Median time-to-purchase with the Brookmeyer–Crowley 95% CI off
    * the q262 Greenwood bands. See [[graft.ops.Events.kmMedian]]. */
  private def qKmMedian(s: SparkSession, dir: String): DataFrame =
    Events.kmMedian(Events.load(s, dir), "user_id", "ts", "event_type",
      startType = "signup", eventType = "purchase")

  /** IVF recall/candidate-mass operating curve at nProbe 1/2/4/8 from
    * ONE max-probe assignment — the probe-count tuning card. See
    * [[graft.ops.Similarity.ivfOperatingCurve]]. */
  private def qIvfOperatingCurve(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfOperatingCurve(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 5, nCentroids = 16, probes = Seq(1, 2, 4, 8),
      queryStride = 100)

  /** Theil inequality of document char mass across sources, with the
    * exact between/within decomposition — where the corpus
    * concentration actually lives. See
    * [[graft.ops.Events.theilDecomposition]]. */
  private def qTheil(s: SparkSession, dir: String): DataFrame =
    Events.theilDecomposition(t(s, dir, "documents"), "source",
      "doc_id", col("n_chars"))

  /** Chao–Shen coverage-adjusted token entropy per language, beside
    * the plug-in value — the diversity a bigger sample would still
    * reveal. See [[graft.ops.TextAnalysis.chaoShenEntropy]]. */
  private def qChaoShen(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chaoShenEntropy(t(s, dir, "documents"), "lang", "text")

  /** PSIS k̂ reliability diagnostic over the q109 DSIR importance
    * weights: GPD tail shape via the Hill mean-excess of the top-50
    * log-weights, against the published 0.7 threshold. See
    * [[graft.ops.DataQuality.psisKhat]]. */
  private def qPsisKhat(s: SparkSession, dir: String): DataFrame =
    DataQuality.psisKhat(
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        col("source") === "src0"),
      col("avg_logratio"), col("doc_id"), k = 50)

  /** Event-sourced SCD2 dimension build: each user's `props.k` attribute
    * collapsed to its change points with validity intervals — the
    * as-of-queryable history a feature store derives from an append-only
    * log. Total order (ts, event_id); see [[graft.ops.Events.scd2History]]. */
  private def qScd2History(s: SparkSession, dir: String): DataFrame =
    Events.scd2History(Events.load(s, dir), "user_id", "ts", "event_id",
      Events.jsonField(col("props"), "$.k"))
      // NTZ on the checked face — the q19 parquet-encoding precedent
      .withColumn("valid_from", col("valid_from").cast(TimestampNTZType))
      .withColumn("valid_to", col("valid_to").cast(TimestampNTZType))

  /** Variance-optimal eval-set budgeting: Neyman allocation of a 1000-row
    * labeling budget across languages by n_chars dispersion — exact
    * integer moments, so the float sqrt is the only (correctly-rounded)
    * non-integer step. */
  private def qNeymanAllocation(s: SparkSession, dir: String): DataFrame =
    Sampling.neymanAllocation(t(s, dir, "documents"), "lang", "n_chars",
      budget = 1000L)

  /** Local clustering structure of the session-transition graph: per-node
    * triangle + wedge counts via degree-ordered orientation (skew-bounded
    * wedge join; each triangle found once at its orientation-minimal
    * corner). */
  private def qTriangleCounts(s: SparkSession, dir: String): DataFrame =
    Graph.triangleCounts(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")))

  /** Distributed BPE tokenizer training: six global merge rounds over
    * the corpus word-frequency table, emitting the learned merge table
    * in training order. See [[graft.ops.TextAnalysis.bpeTrain]]. */
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", merges = 6)

  /** Sequential level-shift detection: one-sided upper CUSUM over each
    * event type's daily counts, baselined on the first week — the
    * "WHEN did it drift" monitor beside the distributional drift tests.
    * See [[graft.ops.DataQuality.cusumDrift]]. */
  private def qCusumDrift(s: SparkSession, dir: String): DataFrame =
    DataQuality.cusumDrift(Events.load(s, dir), "event_type", "ts",
      baselineDays = 7, slackMicros = 0L, thresholdMicros = 5000000L)

  /** Diversity-aware re-ranking: λ=1/2 maximal marginal relevance over
    * the q26 candidate pool — the selection stage that keeps
    * near-duplicate passages from crowding a retrieval or few-shot
    * context window. See [[graft.ops.Similarity.mmrRerank]]. */
  private def qMmrRerank(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrRerank(t(s, dir, "embeddings"), "vec_id", "embedding",
      candK = 20, k = 5, stride = 100)

  /** Core-number (k-core) decomposition of the session-transition
    * graph — the density-peeling tier beside q114's triangle counts
    * (coreness is the standard "how deep in a dense subgraph" signal
    * used to pick crawl seeds and to spot link farms: degree says how
    * many neighbours, coreness says how well-connected those
    * neighbours stay under peeling). Iterated h-index form, all
    * integer; see [[graft.ops.Graph.coreness]]. */
  private def qCoreness(s: SparkSession, dir: String): DataFrame =
    Graph.coreness(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")), iters = 8)

  /** Weisfeiler–Lehman color refinement of the session-transition
    * graph: 3 rounds of (own color, sorted neighbor-color multiset)
    * hashing — per-node structural signatures for graph dedup and
    * role discovery. See [[graft.ops.Graph.wlColors]]. */
  private def qWlColors(s: SparkSession, dir: String): DataFrame =
    Graph.wlColors(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")), iters = 3)

  /** k-truss decomposition of the session-transition graph — the edge
    * peel between q114's triangle counts and q169's node peel: the
    * surviving edges each sit in >= k-2 triangles OF THE SURVIVORS,
    * the community-core extractor. Iterated support peel, 3 rounds
    * (the coreness fixed-prefix contract); all integer.
    * See [[graft.ops.Graph.kTruss]]. */
  private def qKTruss(s: SparkSession, dir: String): DataFrame =
    Graph.kTruss(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")), k = 4, rounds = 3)

  /** Pairwise-source Jensen-Shannon divergence matrix over unigram
    * distributions — the symmetric source-structure map for mixture
    * design the one-vs-baseline drift family cannot give. See
    * [[graft.ops.TextAnalysis.sourceJsdMatrix]]. */
  private def qSourceJsd(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceJsdMatrix(t(s, dir, "documents"), "text",
      "source", minCount = 2L)

  /** Global transitivity vs mean local clustering over the transition
    * graph — the two classical clustering measures whose divergence
    * flags hub-dominated structure. See
    * [[graft.ops.Graph.clusteringCard]]. */
  private def qClusteringCard(s: SparkSession, dir: String): DataFrame =
    Graph.clusteringCard(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")))

  /** IVF cell-balance telemetry over the shared coarse quantizer —
    * routing-skew observability for the whole routed ANN family:
    * imbalance C·max/n and expected single-probe scan fraction
    * Σ(c/n)². See [[graft.ops.Similarity.ivfCellBalance]]. */
  private def qIvfCellBalance(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfCellBalance(t(s, dir, "embeddings"), "vec_id",
      "embedding", nCentroids = 16)

  /** Tokenizer fertility per language under the shared 6-merge BPE
    * vocab: tokens per word and chars per token — which languages the
    * common vocab under-serves (the tokenizer-equity read beside
    * q185's per-doc compression). See
    * [[graft.ops.TextAnalysis.bpeFertility]]. */
  private def qBpeFertility(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeFertility(t(s, dir, "documents"), "text", "lang",
      merges = 6)

  /** Fellegi–Sunter per-field evidence weights on the q133 part
    * sample: m from the q189 edit-distance truth pairs, u exactly
    * from value marginals, log2 agree/disagree weights — the
    * probabilistic-linkage scoring table beside q189's blocking eval.
    * See [[graft.ops.Dedup.fellegiSunterWeights]]. */
  private def qFellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val recs = t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("id"), col("p_name").as("s"),
        col("p_brand").as("brand"))
    val truth = Dedup.editDistancePairsSegmented(
      recs.select(col("id"), col("s")), "id", "s", 2)
      .select(col("id_a"), col("id_b"))
    Dedup.fellegiSunterWeights(recs, "id",
      Seq("first_token" -> split(col("s"), " ").getItem(0),
        "len4" -> expr("length(s) div 4"),
        "brand" -> col("brand")),
      truth)
  }

  /** Fellegi–Sunter EM over first-token-blocked part pairs: three
    * unrolled EM rounds fit (π, m, u) unsupervised from the
    * field-agreement pattern counts; output = per-pattern match
    * posterior — the thresholding artifact, with NO truth relation
    * (the unsupervised capstone beside q289's truth-anchored
    * weights). See [[graft.ops.Dedup.fellegiSunterEm]]. */
  private def qFellegiEm(s: SparkSession, dir: String): DataFrame = {
    val recs = t(s, dir, "part").filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("id"), col("p_name").as("s"),
        col("p_brand").as("brand"))
    val ft = recs.select(col("id"),
      split(col("s"), " ").getItem(0).as("ft"))
    val cand = ft.join(ft.select(col("id").as("id_b"), col("ft")),
        Seq("ft"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
    Dedup.fellegiSunterEm(recs, "id",
      Seq("len4" -> expr("length(s) div 4"),
        "brand" -> col("brand"),
        "last_token" -> element_at(split(col("s"), " "), -1)),
      cand, iters = 3)
  }

  /** Horvitz–Thompson total estimate per event type from the 10%
    * md5-draw Bernoulli design, scored against the true total — the
    * sampling-error exchange-rate card for the q49/q63 family. See
    * [[graft.ops.Sampling.horvitzThompson]]. */
  private def qHorvitzThompson(s: SparkSession, dir: String): DataFrame =
    Sampling.horvitzThompson(t(s, dir, "events"), "event_type",
      "event_id", "value", num = 1, den = 10)

  /** Convergence telemetry for q256's fixed-rounds truss peel: was the
    * final round dry (a fixpoint), or does the cascade need more
    * rounds at this scale. See [[graft.ops.Graph.peelConvergence]]. */
  private def qTrussConvergence(s: SparkSession, dir: String): DataFrame =
    Graph.peelConvergence(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")), k = 4, rounds = 3)

  /** Prefix-filter (AllPairs) Jaccard join — the SAME relation as q25
    * through the better candidate cost class: only each doc's
    * (1−t)-fraction prefix under the rare-first global order enters the
    * posting self-join; exact verification restricted to candidates.
    * Hash-checked against q25's unchanged oracle = algorithm
    * equivalence, the q26/q30 precedent. */
  private def qJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, tNum = 4L, tDen = 5L)

  /** HITS hubs/authorities on the transition graph — 2 integer
    * max-rescaled iterations; the complementary link rank to q107. */
  private def qHits(s: SparkSession, dir: String): DataFrame =
    Graph.hits(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")),
      iters = 2)

  /** Kaplan–Meier time-to-purchase from first signup, never-converters
    * censored at the corpus horizon. */
  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame =
    Events.kaplanMeier(Events.load(s, dir), "user_id", "ts", "event_type",
      startType = "signup", eventType = "purchase")

  /** Kaplan–Meier with Greenwood 95% bands: q120's curve plus
    * se = S*sqrt(sum e/(n(n-e))) and clamped plain-scale CI — NULL at
    * saturated days where the variance is undefined. See
    * [[graft.ops.Events.kaplanMeierCi]]. */
  private def qKmGreenwood(s: SparkSession, dir: String): DataFrame =
    Events.kaplanMeierCi(Events.load(s, dir), "user_id", "ts",
      "event_type", startType = "signup", eventType = "purchase")

  /** Competing-risks cumulative incidence from signup: purchase vs
    * error racing as first exits, CIF_k = sum S(d-)*e_k/n over days —
    * the Aalen–Johansen card beside q120's single-cause KM. See
    * [[graft.ops.Events.competingRisks]]. */
  private def qCompetingRisks(s: SparkSession, dir: String): DataFrame =
    Events.competingRisks(Events.load(s, dir), "user_id", "ts",
      "event_type", startType = "signup", causeA = "purchase",
      causeB = "error")

  /** Cause-specific hazards per duration day over the q266
    * purchase-vs-error race, plus the pooled person-day rate ratio and
    * log-rank-style score on a TOTAL row — which exit wins, and is it
    * real. See [[graft.ops.Events.causeSpecificHazards]]. */
  private def qCauseHazards(s: SparkSession, dir: String): DataFrame =
    Events.causeSpecificHazards(Events.load(s, dir), "user_id", "ts",
      "event_type", startType = "signup", causeA = "purchase",
      causeB = "error")

  /** DoReMi-lite mixture weights per source: excess unigram-NLL over
    * the corpus baseline, smoothed 20% toward uniform — the
    * data-mixture reweighting card. See
    * [[graft.ops.TextAnalysis.doremiMix]]. */
  private def qDoremiMix(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.doremiMix(t(s, dir, "documents"), "doc_id", "text",
      "source", smoothingMicros = 200000L)

  /** Kish effective sample size per language under length (token-
    * proportional) weights — the variance exchange rate behind q63's
    * weighted sampling and q109's importance reweighting. See
    * [[graft.ops.Sampling.effectiveSampleSize]]. */
  private def qEffectiveSampleSize(s: SparkSession, dir: String)
      : DataFrame =
    Sampling.effectiveSampleSize(t(s, dir, "documents"), "lang",
      col("n_chars"))

  /** Mutual top-1 (reciprocal best match) pairs on the stride-10
    * embedding subset, IVF-cell-routed — the hub-free high-precision
    * pairing bitext mining seeds from, with the pair stage routed
    * through the coarse quantizer instead of the (N/stride)² brute
    * self-join. See [[graft.ops.Similarity.mutualTopOneRouted]]. */
  private def qMutualTopOne(s: SparkSession, dir: String): DataFrame =
    Similarity.mutualTopOneRouted(t(s, dir, "embeddings"), "vec_id",
      "embedding", stride = 10, nCentroids = 16, nProbe = 4)

  /** l-diversity audit of the q221 quasi-identifier classes against
    * the account-balance band as the sensitive attribute — the
    * homogeneity-attack screen k-anonymity cannot see. See
    * [[graft.ops.DataQuality.lDiversityAudit]]. */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    DataQuality.lDiversityAudit(t(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"),
      floor(col("c_acctbal") / 1000).cast("long"), l = 3)

  /** Matryoshka truncation eval: top-5 overlap of prefix-16/32-dim
    * cosine retrieval vs the full 64 dims — the index-size-vs-recall
    * decision card. See [[graft.ops.Similarity.mrlTruncationEval]]. */
  private def qMrlTruncation(s: SparkSession, dir: String): DataFrame =
    Similarity.mrlTruncationEval(t(s, dir, "embeddings"), "vec_id",
      "embedding", dims = Seq(16, 32), k = 5, stride = 100)

  /** One-way ANOVA F across event types on the value metric, with
    * eta-squared effect size beside it. See
    * [[graft.ops.DataQuality.anovaF]]. */
  private def qAnovaF(s: SparkSession, dir: String): DataFrame =
    DataQuality.anovaF(t(s, dir, "events"), col("event_type"),
      col("value"))

  /** Chance-corrected label purity of the q278 routed mutual top-1
    * pairs: same-label share vs the marginal-agreement baseline — the
    * embedding-separation quality card. See
    * [[graft.ops.Similarity.mutualPairPurity]]. */
  private def qMutualPairPurity(s: SparkSession, dir: String): DataFrame =
    Similarity.mutualPairPurity(t(s, dir, "embeddings"), "vec_id",
      "embedding", "label", stride = 10, nCentroids = 16, nProbe = 4)

  /** Hoover (Robin Hood) index of spend per user within each event
    * type — the share of mass that would have to move to equalize,
    * sort-free and all-integer. See
    * [[graft.ops.Events.hooverIndex]]. */
  private def qHooverIndex(s: SparkSession, dir: String): DataFrame =
    Events.hooverIndex(t(s, dir, "events"), "event_type", "user_id",
      "value")

  /** Cochran's Q across three paired document screens (q23 langid=en,
    * length >= 300, word count >= 50) — do the k labelers fire at the
    * same rate. See [[graft.ops.DataQuality.cochranQ]]. */
  private def qCochranQ(s: SparkSession, dir: String): DataFrame =
    DataQuality.cochranQ(t(s, dir, "documents"), Seq(
      TextAnalysis.langId(col("text")) === "en",
      col("n_chars") >= 300,
      size(split(col("text"), " ")) >= 50))

  /** Order-2 session Markov funnel: bigram states "a>b" with absorbing
    * purchase — the immediate-history conversion read q257's order-1
    * chain averages away. See
    * [[graft.ops.Events.sessionMarkovFunnel2]]. */
  private def qSessionMarkovFunnel2(s: SparkSession, dir: String)
      : DataFrame =
    Events.sessionMarkovFunnel2(Events.load(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase",
      gapSeconds = 1800L, steps = 8)

  /** Kruskal–Wallis H across event types on the value metric: the
    * rank-based k-group location test beside q272's mean-based F.
    * See [[graft.ops.DataQuality.kruskalWallis]]. */
  private def qKruskalWallis(s: SparkSession, dir: String): DataFrame =
    DataQuality.kruskalWallis(t(s, dir, "events"), col("event_type"),
      col("value"))

  /** McNemar's paired test between the q23 language classifier and the
    * gold label on the binary is-English call — the direction-of-
    * disagreement sibling of q209's kappa. See
    * [[graft.ops.DataQuality.mcnemar]]. */
  private def qMcNemar(s: SparkSession, dir: String): DataFrame =
    DataQuality.mcnemar(t(s, dir, "documents"),
      TextAnalysis.langId(col("text")) === "en", col("lang") === "en")

  /** Cochran–Mantel–Haenszel pooled odds ratio on lineitem: deep
    * discount vs high tax, stratified by return flag, with the crude
    * OR beside it for the Simpson's-paradox read. See
    * [[graft.ops.DataQuality.cmhOddsRatio]]. */
  private def qCmhOddsRatio(s: SparkSession, dir: String): DataFrame =
    DataQuality.cmhOddsRatio(t(s, dir, "lineitem"), col("l_returnflag"),
      col("l_discount") > 0.05, col("l_tax") > 0.04)

  /** Breslow–Day homogeneity of the q271 per-stratum odds ratios —
    * whether the pooled MH estimate is averaging one effect or
    * several. See [[graft.ops.DataQuality.breslowDay]]. */
  private def qBreslowDay(s: SparkSession, dir: String): DataFrame =
    DataQuality.breslowDay(t(s, dir, "lineitem"), col("l_returnflag"),
      col("l_discount") > 0.05, col("l_tax") > 0.04)

  /** Daily cross-correlation click vs purchase at lags -4..4: positive
    * lag = click volume leads purchase volume — the lead/lag reader
    * beside q153/q258. See
    * [[graft.ops.Events.dailyCrossCorrelation]]. */
  private def qDailyCcf(s: SparkSession, dir: String): DataFrame =
    Events.dailyCrossCorrelation(Events.load(s, dir), "ts", "event_type",
      typeX = "click", typeY = "purchase", maxLag = 4)

  /** Restricted mean survival time at tau = 30 days: the area under
    * q120's KM curve — expected purchase-free days out of the first
    * 30. See [[graft.ops.Events.rmst]]. */
  private def qRmst(s: SparkSession, dir: String): DataFrame =
    Events.rmst(Events.load(s, dir), "user_id", "ts", "event_type",
      startType = "signup", eventType = "purchase", tauDays = 30)

  /** RMST difference between parity cohorts at τ=30 with a
    * delete-one-duration-day jackknife CI — the crossing-hazards
    * estimand beside q269's single-cohort RMST; the variance is the
    * q237 leave-one-day-out idiom on the survival ladder. */
  private def qRmstDiff(s: SparkSession, dir: String): DataFrame =
    Events.rmstDiff(Events.load(s, dir), "user_id", "ts", "event_type",
      startType = "signup", eventType = "purchase", tauDays = 30)

  /** Registered audio face: deterministic 16-bit PCM synthesized per
    * sampled document THROUGH the real JDK WAV encoder, parsed back by
    * the real container parser, and rolled into per-128-frame windows
    * (exact Σs², zero-crossings, round-6 RMS). The oracle re-derives
    * the SAMPLES from the same integer formula — a hash match proves
    * the encode→decode roundtrip is the identity on every window. */
  private def qAudioWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id").cast("long")).as[Long]
    val media = ids.mapPartitions(_.map { id =>
      val n = 256 + (id % 5).toInt * 64
      (id, graft.ops.Multimodal.synthWav(n,
        i => (((id * 7 + i.toLong * 31) % 61) - 30).toInt * 256))
    }).toDF("media_id", "payload")
    graft.ops.Multimodal.audioWindowStats(media, "media_id", "payload",
      windowFrames = 128)
  }

  /** Weibull probability-plot fit over the signup→purchase KM curve:
    * shape/scale/median and the plot r² — the parametric extrapolation
    * card beside the empirical q120/q262/q269 family. */
  private def qWeibullFit(s: SparkSession, dir: String): DataFrame =
    Events.weibullFit(Events.load(s, dir), "user_id", "ts",
      "event_type", startType = "signup", eventType = "purchase")

  /** Oracle-checked HyperLogLog over the corpus vocabulary (p=8, 256
    * registers): the distinct-token estimate beside the exact count
    * with realized error — the fixed-memory cardinality read the
    * opaque DataSketches path (`hll_sketch_agg`) can't
    * hash-verify cross-engine. */
  private def qHllReplay(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sketches.hllReplay(
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0),
      col("tok"))

  /** 2-length frequent-sequence support: users doing type a strictly
    * before some type b ((a,a) = repeat behavior). */
  private def qSequenceSupport(s: SparkSession, dir: String): DataFrame =
    Events.sequenceSupport(Events.load(s, dir), "user_id", "ts",
      "event_type")

  /** Leave-one-out target encoding of event_type against the value
    * target — cents-exact sums, one broadcast encode. */
  private def qLooEncode(s: SparkSession, dir: String): DataFrame =
    Events.looTargetEncode(t(s, dir, "events"), "event_type", "value",
      Seq("event_id"))

  /** DeepWalk-style training-corpus generation: one 3-step weighted
    * random walk per node of the transition graph, every step an md5
    * inverse-CDF draw — the walk corpus is a pure function of the
    * graph (engine-replayed by the oracle step for step). */
  private def qRandomWalks(s: SparkSession, dir: String): DataFrame =
    Graph.randomWalks(
      Graph.transitionEdges(t(s, dir, "events"), "user_id", "event_id",
        Events.jsonField(col("props"), "$.k")),
      steps = 3)

  /** First-touch ordered funnel: view → click → purchase completion
    * counts with strictly-increasing timestamps per user. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    Events.funnel(Events.load(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  /** Weekly retention triangle over the event stream: cohort = ISO week
    * of first activity; one row per (cohort, offset) with active-user
    * counts — integer/date arithmetic end to end. */
  private def qRetentionCohorts(s: SparkSession, dir: String): DataFrame =
    Events.retentionCohorts(Events.load(s, dir), "user_id", "ts")

  /** Live-ops anomaly monitor: per-event-type trailing-hour 3/2σ z-test
    * in exact integer arithmetic (range frame over epoch seconds, so ts
    * ties are frame-symmetric and need no break; 3/2 because the
    * synthetic uniform values cap |z| at √3 and self-inclusion caps z²
    * at n−1 — both flag branches exercised at every verify scale). */
  private def qRollingAnomaly(s: SparkSession, dir: String): DataFrame =
    Events.rollingAnomalies(Events.load(s, dir), "event_type", "ts",
      "value", windowSeconds = 3600L, sigmaNum = 3L, sigmaDen = 2L,
      minEvents = 5L)
      .withColumn("ts", col("ts").cast(TimestampNTZType))

  // ------------------------------------------------------------- contract

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg" -> (qAgg _),
    "q02_filter_project" -> (qFilterProject _),
    "q03_cast_arith" -> (qCastArith _),
    "q04_string_ops" -> (qStringOps _),
    "q05_date_ops" -> (qDateOps _),
    "q06_case_cascade" -> (qCaseCascade _),
    "q07_window_top1" -> (qWindowTop1 _),
    "q08_window_running" -> (qWindowRunning _),
    "q09_join_composite" -> (qJoinComposite _),
    "q10_join_rename" -> (qJoinRename _),
    "q11_unified_join" -> (qUnifiedJoin _),
    "q12_unpivot_cascade" -> (qUnpivotCascade _),
    "q13_setops" -> (qSetOps _),
    "q14_distinct_agg" -> (qDistinctAgg _),
    "q15_topk" -> (qTopK _),
    "q16_semi_anti" -> (qSemiAnti _),
    "q17_json_extract" -> (qJsonExtract _),
    "q18_time_window" -> (qTimeWindow _),
    "q19_sessionize" -> (qSessionize _),
    "q20_dedup_exact" -> (qDedupExact _),
    "q21_text_quality" -> (qTextQuality _),
    "q22_token_counts" -> (qTokenCounts _),
    "q23_langid" -> (qLangId _),
    "q24_fingerprint" -> (qFingerprint _),
    "q25_jaccard_pairs" -> (qJaccardPairs _),
    "q26_ann_bruteforce" -> (qAnnBruteForce _),
    "q27_multimodal_meta" -> (qMultimodalMeta _),
    "q28_minhash_lsh" -> (qMinHashLsh _),
    "q29_simhash_hybrid" -> (qNearDupHybrid _),
    "q30_ann_lsh" -> (qAnnLsh _),
    "q31_embed_neardup" -> (qEmbedNearDup _),
    "q32_rollup" -> (qRollup _),
    "q33_unpivot" -> (qUnpivot _),
    "q34_string_clean" -> (qStringClean _),
    "q35_ann_ivf" -> (qAnnIvf _),
    "q36_asof_join" -> (qAsOfJoin _),
    "q37_percentile" -> (qPercentile _),
    "q38_array_agg" -> (qArrayAgg _),
    "q39_cube" -> (qCube _),
    "q40_lead_lag" -> (qLeadLag _),
    "q41_pivot" -> (qPivot _),
    "q42_correlated_subq" -> (qCorrelatedSubquery _),
    "q43_ntile" -> (qNtile _),
    "q44_session_window" -> (qSessionWindow _),
    "q45_neardup_dedup" -> (qNearDupDedup _),
    "q46_editdist_pairs" -> (qEditDistPairs _),
    "q47_ann_ivf_trained" -> (qAnnIvfTrained _),
    "q48_tfidf_topk" -> (qTfIdf _),
    "q49_stratified_sample" -> (qStratifiedSample _),
    "q50_incremental_dedup" -> (qIncrementalDedup _),
    "q51_chunk_tokens" -> (qChunkTokens _),
    "q52_leakage_flags" -> (qLeakageFlags _),
    "q53_repetition" -> (qRepetition _),
    "q54_contamination" -> (qContamination _),
    "q55_range_join" -> (qRangeJoin _),
    "q56_bm25" -> (qBm25 _),
    "q57_bloom_semijoin" -> (qBloomSemiJoin _),
    "q58_interval_overlap" -> (qIntervalOverlap _),
    "q59_snapshot_diff" -> (qSnapshotDiff _),
    "q60_curation_funnel" -> (qCurationFunnel _),
    "q61_token_packing" -> (qTokenPacking _),
    "q62_containment" -> (qContainment _),
    "q63_weighted_sample" -> (qWeightedSample _),
    "q64_source_cap" -> (qSourceCap _),
    "q65_asof_forward" -> (qAsOfForward _),
    "q66_ann_multiprobe" -> (qAnnMultiprobe _),
    "q67_approx_percentile" -> (qApproxPercentile _),
    "q68_salted_agg" -> (qSaltedAgg _),
    "q69_cosine_pairs" -> (qCosinePairs _),
    "q70_pii_scrub" -> (qPiiScrub _),
    "q71_cluster_stats" -> (qClusterStats _),
    "q72_canonical_pick" -> (qCanonicalPick _),
    "q73_salted_join" -> (qSaltedJoin _),
    "q74_weighted_reservoir" -> (qWeightedReservoir _),
    "q75_cosine_admission" -> (qCosineAdmit _),
    "q76_drift_psi" -> (qDriftPsi _),
    "q77_span_dedup" -> (qSpanDedup _),
    "q78_mixture_sample" -> (qMixtureSample _),
    "q79_shuffle_shard" -> (qShuffleShard _),
    "q80_winsorize" -> (qWinsorize _),
    "q81_vocab_topk" -> (qVocabTopK _),
    "q82_char_entropy" -> (qCharEntropy _),
    "q83_gopher_rules" -> (qGopherRules _),
    "q84_semantic_dedup" -> (qSemanticDedup _),
    "q85_unigram_nll" -> (qUnigramNll _),
    "q103_ccnet_buckets" -> (qCcnetBuckets _),
    "q86_temperature_sample" -> (qTemperatureSample _),
    "q87_semantic_dedup_trained" -> (qSemanticDedupTrained _),
    "q88_ann_filtered" -> (qAnnFiltered _),
    "q89_semantic_leakage" -> (qSemanticLeakage _),
    "q100_semantic_leakage_routed" -> (qSemanticLeakageRouted _),
    "q102_semantic_admission" -> (qSemanticAdmission _),
    "q104_embedding_quantize" -> (qEmbeddingQuantize _),
    "q105_two_tier_ann" -> (qTwoTierAnn _),
    "q106_corpus_card" -> (qCorpusCard _),
    "q90_nucleus_keep" -> (qNucleusKeep _),
    "q91_quantile_norm" -> (qQuantileNorm _),
    "q92_bigram_nll" -> (qBigramNll _),
    "q93_grouped_split" -> (qGroupedSplit _),
    "q94_unimax_alloc" -> (qUnimaxAlloc _),
    "q95_epoch_expand" -> (qEpochExpand _),
    "q96_windowed_drift" -> (qWindowedDrift _),
    "q97_feature_hash" -> (qFeatureHash _),
    "q98_rrf_fusion" -> (qRrfFusion _),
    "q101_rrf_hybrid" -> (qRrfHybrid _),
    "q99_session_assembly" -> (qSessionAssembly _),
    "q107_pagerank" -> (qPageRank _),
    "q123_pagerank_dangling" -> (qPageRankDangling _),
    "q124_knn_pagerank" -> (qKnnPageRank _),
    "q125_label_propagation" -> (qLabelPropagation _),
    "q126_last_touch_attribution" -> (qLastTouchAttribution _),
    "q127_pq_ann" -> (qPqAnn _),
    "q128_quality_constraints" -> (qQualityConstraints _),
    "q129_ivfpq_ann" -> (qIvfPqAnn _),
    "q130_poisson_bootstrap" -> (qPoissonBootstrap _),
    "q131_funnel_trace" -> (qFunnelTrace _),
    "q132_windowed_funnel" -> (qWindowedFunnel _),
    "q133_entity_resolution" -> (qEntityResolution _),
    "q134_cdc_apply" -> (qCdcApply _),
    "q135_linear_attribution" -> (qLinearAttribution _),
    "q136_pit_join" -> (qPitJoin _),
    "q137_grouping_sets" -> (qGroupingSets _),
    "q138_mad_outliers" -> (qMadOutliers _),
    "q139_jw_pairs" -> (qJaroWinklerPairs _),
    "q140_cooccurrence" -> (qCooccurrence _),
    "q141_winnowing" -> (qWinnowing _),
    "q142_vocab_drift" -> (qVocabDrift _),
    "q143_theilsen_trend" -> (qTheilSen _),
    "q144_benford_digits" -> (qBenford _),
    "q145_incremental_agg" -> (qIncrementalAgg _),
    "q146_jl_project" -> (qJlProject _),
    "q147_cuped" -> (qCuped _),
    "q148_weighted_median" -> (qWeightedMedian _),
    "q149_knn_classify" -> (qKnnClassify _),
    "q150_rfm_segments" -> (qRfm _),
    "q151_markov_transitions" -> (qMarkov _),
    "q152_gini_concentration" -> (qGini _),
    "q153_daily_autocorr" -> (qAutocorr _),
    "q154_lorenz_deciles" -> (qLorenz _),
    "q155_chi2_independence" -> (qChi2 _),
    "q156_sliding_span_dedup" -> (qSlidingSpanDedup _),
    "q157_interval_join" -> (qIntervalJoin _),
    "q158_ivfpq_residual" -> (qIvfPqResidual _),
    "q159_er_survivorship" -> (qErSurvivorship _),
    "q160_rank_sum_auc" -> (qRankSumAuc _),
    "q161_frequent_sequences" -> (qFrequentSequences _),
    "q162_daily_trend" -> (qDailyTrend _),
    "q163_quantile_normalize" -> (qQuantileNormalize _),
    "q164_curriculum_interleave" -> (qCurriculumInterleave _),
    "q165_retrieval_eval" -> (qRetrievalEval _),
    "q166_ks_drift" -> (qKsTest _),
    "q167_source_overlap" -> (qSourceOverlap _),
    "q168_block_bootstrap" -> (qBlockBootstrap _),
    "q169_coreness" -> (qCoreness _),
    "q170_mmr_rerank" -> (qMmrRerank _),
    "q171_cusum_drift" -> (qCusumDrift _),
    "q172_bpe_train" -> (qBpeTrain _),
    "q173_average_precision" -> (qAveragePrecision _),
    "q174_did_estimator" -> (qDidEstimator _),
    "q175_calibration_card" -> (qCalibrationCard _),
    "q176_link_prediction" -> (qLinkPrediction _),
    "q177_assortativity" -> (qAssortativity _),
    "q178_readability" -> (qReadability _),
    "q179_group_checksum" -> (qGroupChecksum _),
    "q180_pareto_frontier" -> (qParetoFrontier _),
    "q181_seasonal_decompose" -> (qSeasonalDecompose _),
    "q182_decayed_engagement" -> (qDecayedEngagement _),
    "q183_isotonic_calibration" -> (qIsotonicCalibration _),
    "q184_spearman_rank" -> (qSpearman _),
    "q185_bpe_encode" -> (qBpeEncode _),
    "q186_cdc_chunks" -> (qCdcChunks _),
    "q187_scc" -> (qScc _),
    "q188_stratified_ate" -> (qStratifiedAte _),
    "q189_blocking_quality" -> (qBlockingQuality _),
    "q190_margin_mining" -> (qMarginMining _),
    "q191_conformal_card" -> (qConformalCard _),
    "q192_kcenter_coreset" -> (qKCenter _),
    "q193_textrank" -> (qTextRank _),
    "q194_gini_stump" -> (qGiniStump _),
    "q195_replay_eval" -> (qReplayEval _),
    "q196_neighborhood_fn" -> (qNeighborhoodFn _),
    "q197_binseg_changepoint" -> (qBinsegChangepoint _),
    "q198_two_proportion" -> (qTwoProportion _),
    "q199_forecast_backtest" -> (qForecastBacktest _),
    "q200_integrity_audit" -> (qIntegrityAudit _),
    "q201_mahalanobis_outliers" -> (qMahalanobis _),
    "q202_interval_concurrency" -> (qIntervalConcurrency _),
    "q203_burstiness" -> (qBurstiness _),
    "q204_lift_curve" -> (qLiftCurve _),
    "q205_wasserstein_drift" -> (qWassersteinDrift _),
    "q206_hard_negatives" -> (qHardNegatives _),
    "q207_woe_iv" -> (qWoeIv _),
    "q208_silhouette" -> (qSilhouette _),
    "q209_cohens_kappa" -> (qCohensKappa _),
    "q210_stickiness" -> (qStickiness _),
    "q211_twap" -> (qTwap _),
    "q212_nelson_aalen" -> (qNelsonAalen _),
    "q213_activity_streaks" -> (qActivityStreaks _),
    "q214_ivfpq_admission" -> (qIvfPqAdmission _),
    "q215_hyperanf" -> (qHyperAnf _),
    "q216_zipf_fit" -> (qZipfFit _),
    "q217_cramers_v" -> (qCramersV _),
    "q218_mutual_information" -> (qMutualInformation _),
    "q219_log_rank" -> (qLogRank _),
    "q220_markov_stationary" -> (qMarkovStationary _),
    "q221_k_anonymity" -> (qKAnonymity _),
    "q222_ams_f2" -> (qAmsF2 _),
    "q223_hill_tail" -> (qHillTail _),
    "q224_modularity" -> (qModularity _),
    "q225_nn_matching" -> (qNnMatching _),
    "q226_seasonal_strength" -> (qSeasonalStrength _),
    "q227_qini_uplift" -> (qQiniUplift _),
    "q228_reciprocity" -> (qReciprocity _),
    "q229_smd_balance" -> (qSmdBalance _),
    "q230_mann_kendall" -> (qMannKendall _),
    "q231_sprt" -> (qSprt _),
    "q232_eb_shrinkage" -> (qEbShrinkage _),
    "q233_permutation_test" -> (qPermutationTest _),
    "q234_ratio_metric_ci" -> (qRatioMetricCi _),
    "q235_fdr_bh" -> (qFdrBh _),
    "q236_fairness_audit" -> (qFairnessAudit _),
    "q237_jackknife_days" -> (qJackknifeDays _),
    "q238_mix_rate_decomp" -> (qMixRateDecomp _),
    "q239_overdispersion" -> (qOverdispersion _),
    "q240_rank_churn" -> (qRankChurn _),
    "q241_capture_recapture" -> (qCaptureRecapture _),
    "q242_kendall_tau" -> (qKendallTau _),
    "q243_heaps_fit" -> (qHeapsFit _),
    "q244_hodges_lehmann" -> (qHodgesLehmann _),
    "q245_runs_test" -> (qRunsTest _),
    "q246_funnel_latency" -> (qFunnelLatency _),
    "q247_ewma_backtest" -> (qEwmaBacktest _),
    "q248_rolling_active" -> (qRollingActive _),
    "q249_multi_join_revenue" -> (qMultiJoinRevenue _),
    "q250_session_paths" -> (qSessionPaths _),
    "q251_degree_powerlaw" -> (qDegreePowerlaw _),
    "q252_new_vs_returning" -> (qNewVsReturning _),
    "q253_mde_power" -> (qMdePower _),
    "q254_weighted_permutation" -> (qWeightedPermutation _),
    "q255_iqr_outlier_days" -> (qIqrOutliers _),
    "q256_ktruss" -> (qKTruss _),
    "q257_session_markov_funnel" -> (qSessionMarkovFunnel _),
    "q258_daily_pacf" -> (qDailyPacf _),
    "q259_good_turing" -> (qGoodTuring _),
    "q260_cms_replay" -> (qCmsReplay _),
    "q261_truss_communities" -> (qTrussCommunities _),
    "q262_km_greenwood" -> (qKmGreenwood _),
    "q263_markov_removal" -> (qMarkovRemoval _),
    "q264_shapley_attribution" -> (qShapley _),
    "q265_truss_hierarchy" -> (qTrussHierarchy _),
    "q266_competing_risks" -> (qCompetingRisks _),
    "q267_markov_pair_removal" -> (qMarkovPairRemoval _),
    "q268_positional_attribution" -> (qPositionalAttribution _),
    "q269_rmst" -> (qRmst _),
    "q270_daily_ccf" -> (qDailyCcf _),
    "q271_cmh_odds_ratio" -> (qCmhOddsRatio _),
    "q272_anova_f" -> (qAnovaF _),
    "q273_mcnemar" -> (qMcNemar _),
    "q274_kruskal_wallis" -> (qKruskalWallis _),
    "q275_mrl_truncation" -> (qMrlTruncation _),
    "q276_l_diversity" -> (qLDiversity _),
    "q277_effective_sample_size" -> (qEffectiveSampleSize _),
    "q278_mutual_top1" -> (qMutualTopOne _),
    "q279_doremi_mix" -> (qDoremiMix _),
    "q280_time_decay_attribution" -> (qTimeDecayAttribution _),
    "q281_rich_club" -> (qRichClub _),
    "q282_cochran_q" -> (qCochranQ _),
    "q283_session_markov2" -> (qSessionMarkovFunnel2 _),
    "q284_hoover_index" -> (qHooverIndex _),
    "q285_mutual_pair_purity" -> (qMutualPairPurity _),
    "q286_cause_hazards" -> (qCauseHazards _),
    "q287_truss_convergence" -> (qTrussConvergence _),
    "q288_horvitz_thompson" -> (qHorvitzThompson _),
    "q289_fellegi_sunter" -> (qFellegiSunter _),
    "q290_bpe_fertility" -> (qBpeFertility _),
    "q291_ivf_cell_balance" -> (qIvfCellBalance _),
    "q292_clustering_card" -> (qClusteringCard _),
    "q293_source_jsd" -> (qSourceJsd _),
    "q294_group_sequential" -> (qGroupSequential _),
    "q295_rmst_diff" -> (qRmstDiff _),
    "q296_audio_windows" -> (qAudioWindows _),
    "q297_pq_distortion" -> (qPqDistortion _),
    "q298_weibull_fit" -> (qWeibullFit _),
    "q299_hll_replay" -> (qHllReplay _),
    "q300_kneser_ney_nll" -> (qKneserNeyNll _),
    "q301_fellegi_em" -> (qFellegiEm _),
    "q302_log_rank_k" -> (qLogRankK _),
    "q303_hll_overlap" -> (qHllOverlap _),
    "q304_psis_khat" -> (qPsisKhat _),
    "q305_chao_shen_entropy" -> (qChaoShen _),
    "q306_wl_colors" -> (qWlColors _),
    "q307_breslow_day" -> (qBreslowDay _),
    "q308_theil_decomposition" -> (qTheil _),
    "q309_ivf_operating_curve" -> (qIvfOperatingCurve _),
    "q310_km_median" -> (qKmMedian _),
    "q311_bloom_replay" -> (qBloomReplay _),
    "q312_common_support" -> (qCommonSupport _),
    "q108_pmi_collocations" -> (qPmiCollocations _),
    "q109_dsir_weights" -> (qDsirWeights _),
    "q110_personalized_pagerank" -> (qPersonalizedPageRank _),
    "q111_scd2_history" -> (qScd2History _),
    "q112_neyman_allocation" -> (qNeymanAllocation _),
    "q113_rolling_anomaly" -> (qRollingAnomaly _),
    "q114_triangle_counts" -> (qTriangleCounts _),
    "q115_retention_cohorts" -> (qRetentionCohorts _),
    "q116_funnel" -> (qFunnel _),
    "q117_jaccard_prefix" -> (qJaccardPrefix _),
    "q118_random_walks" -> (qRandomWalks _),
    "q119_loo_target_encode" -> (qLooEncode _),
    "q120_kaplan_meier" -> (qKaplanMeier _),
    "q121_sequence_support" -> (qSequenceSupport _),
    "q122_hits" -> (qHits _),
  )

  /** DuckDB list_filter over marker words — kept in sync with
    * TextAnalysis.markers by construction. */
  private def duckHits(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(",")})))"

  /** The langid prediction as reusable CTEs ending in
    * `pred(doc_id, pred_lang)` — shared by q23 and the q209 agreement
    * card so the two can never drift. */
  private def langIdCtes: String = {
    val hits = TextAnalysis.markers.map { case (lang, ws) =>
      s"${duckHits(ws)} AS hits_$lang"
    }.mkString(", ")
    val langs = TextAnalysis.markers.map(_._1)
    val best = s"greatest(${langs.map(l => s"hits_$l").mkString(",")})"
    val cases = langs.map(l =>
      s"WHEN hits_$l = best AND best > 0 THEN '$l'").mkString(" ")
    s"""h AS (SELECT doc_id, $hits FROM documents),
        b AS (SELECT *, $best AS best FROM h),
        pred AS (SELECT doc_id, CASE $cases ELSE 'und' END AS pred_lang
          FROM b)"""
  }

  private def langIdOracle: String =
    s"""WITH $langIdCtes
        SELECT doc_id, pred_lang FROM pred"""

  /** Shared q53/q60 oracle fragments — ONE definition of the repetition
    * metrics and the keep predicate, so the funnel can never drift from
    * the metrics query. */
  private val repetitionCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       g AS (SELECT doc_id, t,
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg,
           list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS tg
         FROM toks),
       m AS (SELECT doc_id, len(t) AS n,
           round(list_max(list_transform(list_distinct(t),
             x -> len(list_filter(t, y -> y = x)))) * 1.0 / len(t), 4)
             AS top_unigram_frac,
           CASE WHEN len(t) >= 2 THEN
             round(list_max(list_transform(list_distinct(bg),
               x -> len(list_filter(bg, y -> y = x)))) * 1.0 / (len(t) - 1), 4)
           END AS top_bigram_frac,
           CASE WHEN len(t) >= 3 THEN
             round(len(list_filter(tg,
               x -> len(list_filter(tg, y -> y = x)) > 1)) * 1.0 / (len(t) - 2), 4)
           END AS dup_trigram_frac
         FROM g)"""

  private val repetitionKeepSql: String =
    """(n >= 10 AND top_unigram_frac <= 0.2
        AND coalesce(top_bigram_frac <= 0.18, true)
        AND coalesce(dup_trigram_frac <= 0.5, true))"""

  /** The survival SPELL CTEs shared by the survival oracles: `ev`, `st`
    * = each user's first signup t0 (plus `stCols`), one CTE per
    * (name, event type, column) of `ends` holding the first such event
    * STRICTLY after t0, and `hz` = the horizon that censors a spell. */
  private def spellCtes(ends: Seq[(String, String, String)],
                        stCols: String = ""): String = {
    val endCtes = ends.map { case (cte, tp, out) =>
      s"""$cte AS (SELECT e.user_id, min(e.ts) AS $out
           FROM ev e JOIN st ON st.user_id = e.user_id
           WHERE e.event_type = '$tp' AND e.ts > st.t0 GROUP BY 1),"""
    }.mkString("\n         ")
    s"""ev AS (SELECT user_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events),
         st AS (SELECT user_id, min(ts) AS t0$stCols FROM ev
           WHERE event_type = 'signup' GROUP BY 1),
         $endCtes
         hz AS (SELECT max(ts) AS tmax FROM ev)"""
  }

  /** [[spellCtes]] ending at the first purchase, `fe`, plus
    * `dur`(`keep` obs, d): obs = 1 when the purchase came, d = the
    * spell in whole days, censored at the horizon. */
  private def survivalCtes(stCols: String = "", keep: String = ""): String =
    s"""${spellCtes(Seq(("fe", "purchase", "te")), stCols)},
         dur AS (SELECT $keep
             CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END AS obs,
             (epoch_us(COALESCE(te, tmax)) // 1000000
               - epoch_us(t0) // 1000000) // 86400 AS d
           FROM st LEFT JOIN fe USING (user_id) CROSS JOIN hz)"""

  /** The Kaplan–Meier day table: [[survivalCtes]] rolled up per duration
    * day, `byd`, and `r`(d, n_at, e_at, n_risk) with its risk sets. */
  private val kmRiskCtes: String =
    s"""${survivalCtes()},
         byd AS (SELECT d, count(*) AS n_at,
             CAST(sum(obs) AS BIGINT) AS e_at
           FROM dur GROUP BY 1),
         r AS (SELECT d, n_at, e_at,
             CAST(sum(n_at) OVER (ORDER BY d ASC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
           FROM byd)"""

  /** [[kmRiskCtes]] plus `lt`, each day's log step t = ln(1 − e/n). */
  private val kmLogStepCtes: String =
    s"""$kmRiskCtes,
         lt AS (SELECT d, n_at, e_at, n_risk,
             CASE WHEN e_at < n_risk
               THEN ln(1.0 - CAST(e_at AS DOUBLE) / n_risk) END AS t
           FROM r)"""

  /** [[kmRiskCtes]] plus the Greenwood curve `c`(d, n_risk, e_at, sraw,
    * gw) — shared by q262 and q310. */
  private val greenwoodCtes: String =
    s"""$kmRiskCtes,
         g AS (SELECT d, e_at, n_risk,
             CASE WHEN e_at < n_risk
               THEN ln(1.0 - CAST(e_at AS DOUBLE) / n_risk) END AS t,
             CASE WHEN e_at < n_risk
               THEN CAST(e_at AS DOUBLE)
                 / (CAST(n_risk AS DOUBLE) * (n_risk - e_at)) END AS gt
           FROM r),
         c AS (SELECT d, n_risk, e_at,
             CASE WHEN e_at = n_risk THEN 0.0
                  ELSE exp(sum(t) OVER wp) END AS sraw,
             sum(gt) OVER wp AS gw
           FROM g WINDOW wp AS (ORDER BY d ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""

  /** The competing-risks day table shared by q266 and q286: spells
    * ending at the first purchase (`fa`) or error (`fb`), a tie going
    * to the lexically smaller cause, rolled up per day with risk sets:
    * `r`(d, n_at, ea, eb, e_all, n_risk). */
  private val competingCtes: String =
    s"""${spellCtes(Seq(("fa", "purchase", "ta"), ("fb", "error", "tb")))},
         dur AS (SELECT
             CASE WHEN ta IS NOT NULL AND (tb IS NULL OR ta < tb
               OR (ta = tb AND FALSE)) THEN 1 ELSE 0 END AS oa,
             CASE WHEN tb IS NOT NULL AND (ta IS NULL OR tb < ta
               OR (ta = tb AND TRUE)) THEN 1 ELSE 0 END AS ob,
             (epoch_us(COALESCE(LEAST(ta, tb), tmax)) // 1000000
               - epoch_us(t0) // 1000000) // 86400 AS d
           FROM st LEFT JOIN fa USING (user_id)
             LEFT JOIN fb USING (user_id) CROSS JOIN hz),
         byd AS (SELECT d, count(*) AS n_at,
             CAST(sum(oa) AS BIGINT) AS ea,
             CAST(sum(ob) AS BIGINT) AS eb
           FROM dur GROUP BY 1),
         r AS (SELECT d, n_at, ea, eb, ea + eb AS e_all,
             CAST(sum(n_at) OVER (ORDER BY d ASC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
           FROM byd)"""

  /** The 30-minute-gap sessionization shared by q19 and q44: `s`(user_id,
    * ts, value, session_seq). */
  private val sessionSeqCtes: String =
    """ev AS (SELECT user_id, event_id,
           CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         e AS (SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_s
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts, value,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM e)"""

  /** The UniMax budget split shared by q94 and q95: per-language caps of
    * 4 epochs over a 1400-doc budget; `f` ranks the caps, `k`(k, cumk, s)
    * holds how many are saturated. */
  private val unimaxCtes: String =
    """c AS (SELECT lang, count(*) AS n_docs FROM documents
           GROUP BY lang),
         r AS (SELECT lang, n_docs,
             CAST(n_docs AS DOUBLE) * 4.0 AS cap,
             row_number() OVER (ORDER BY CAST(n_docs AS DOUBLE) * 4.0 ASC,
               lang ASC) AS rk,
             sum(CAST(n_docs AS DOUBLE) * 4.0) OVER (
               ORDER BY CAST(n_docs AS DOUBLE) * 4.0 ASC, lang ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             count(*) OVER () AS s FROM c),
         f AS (SELECT *, (cap * (s - rk) <= 1400.0 - cum) AS isc FROM r),
         k AS (SELECT coalesce(max(CASE WHEN isc THEN rk END), 0) AS k,
             coalesce(max(CASE WHEN isc THEN cum END), 0.0) AS cumk,
             max(s) AS s FROM f)"""

  /** Entity-resolution components shared by q133 and q159, over
    * `p`(id, s, …): pairs within Levenshtein 2, and `comp`(id,
    * entity_id) = each record's connected component by its least id. */
  private val erComponentCtes: String =
    """pr AS (SELECT a.id AS ia, b.id AS ib FROM p a JOIN p b ON a.id < b.id
           WHERE abs(length(a.s) - length(b.s)) <= 2
             AND levenshtein(a.s, b.s) <= 2),
         edges AS (SELECT ia AS src, ib AS dst FROM pr
           UNION ALL SELECT ib, ia FROM pr),
         reach AS (
           SELECT id, id AS r FROM p
           UNION
           SELECT e.dst AS id, reach.r AS r
           FROM reach JOIN edges e ON e.src = reach.id),
         comp AS (SELECT id, min(r) AS entity_id FROM reach GROUP BY id)"""

  /** The Hill tail-index oracle shared by q223 and q251: `baseCtes`
    * ends in `base`(grp, cents, id); the top 50 positive values per
    * group against the 51st, as exact micros log sums. */
  private def hillTailSql(baseCtes: String): String =
    s"""WITH $baseCtes,
         pos AS (SELECT * FROM base WHERE cents > 0),
         rk AS (SELECT grp, cents, row_number() OVER (PARTITION BY grp
             ORDER BY cents DESC, id ASC) AS rk FROM pos),
         ref AS (SELECT grp, cents AS x_ref FROM rk WHERE rk = 51),
         tm AS (SELECT r.grp, CAST(round(ln(CAST(r.cents AS DOUBLE)
               / CAST(ref.x_ref AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS lm
           FROM rk r JOIN ref ON ref.grp = r.grp WHERE r.rk <= 50),
         a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_top,
             CAST(sum(lm) AS BIGINT) AS hill_sum_micros
           FROM tm GROUP BY 1)
         SELECT grp, CAST(50 AS BIGINT) AS k, hill_sum_micros,
           CASE WHEN hill_sum_micros > 0
             THEN round(50.0 * 1000000.0
               / CAST(hill_sum_micros AS DOUBLE), 4) END AS alpha
         FROM a WHERE n_top = 50"""

  /** The additive weekly decomposition shared by q181 and q226 over the
    * daily series: `t3`(g, day, dow, y, trend_micros, detr) with the
    * centred 7-day trend, and `s2`(g, dow, seasonal_micros) = the
    * truncated mean detrended value per weekday. */
  private val seasonalCtes: String =
    s"""${OracleGen.dailyCte("g")},
         t AS (SELECT g, day, y,
             CAST(count(*) OVER w7 AS BIGINT) AS n7,
             CAST(sum(y) OVER w7 AS BIGINT) AS s7
           FROM daily WINDOW w7 AS (PARTITION BY g ORDER BY day ASC
             RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         t3 AS (SELECT g, day, day % 7 AS dow, y,
             CASE WHEN n7 = 7 THEN (1000000 * s7) // 7 END
               AS trend_micros,
             1000000 * y - CASE WHEN n7 = 7 THEN (1000000 * s7) // 7 END
               AS detr
           FROM t),
         seas AS (SELECT g, dow, CAST(sum(detr) AS BIGINT) AS sd,
             CAST(count(*) AS BIGINT) AS nd
           FROM t3 WHERE detr IS NOT NULL GROUP BY 1, 2),
         s2 AS (SELECT g, dow,
             CASE WHEN sd >= 0 THEN sd // nd ELSE -((-sd) // nd) END
               AS seasonal_micros
           FROM seas)"""

  /** The per-stratum 2x2 `cells`(s, a, b, c, d) shared by q271 and
    * q307: lineitem stratified by return flag, exposure discount > 0.05,
    * outcome tax > 0.04. */
  private val stratifiedCellsCte: String =
    """cells AS (SELECT l_returnflag AS s,
           CAST(sum(CASE WHEN l_discount > 0.05 AND l_tax > 0.04
             THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(sum(CASE WHEN l_discount > 0.05 AND NOT l_tax > 0.04
             THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(sum(CASE WHEN NOT l_discount > 0.05 AND l_tax > 0.04
             THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(sum(CASE WHEN NOT l_discount > 0.05
             AND NOT l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS d
         FROM lineitem
         WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL
         GROUP BY 1)"""

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 2) AS avg_qty,
         count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate IS NOT NULL AND l_quantity > 30 AND l_returnflag = 'R'""",
    "q03_cast_arith" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(floor(l_quantity) AS BIGINT) AS qty_int,
         l_extendedprice / 100 AS price_adj,
         TRY_CAST(l_returnflag AS BIGINT) AS flag_bad_cast
         FROM lineitem""",
    "q04_string_ops" ->
      """SELECT p_partkey, substring(p_name, 1, 4) AS name4,
         CASE WHEN length(CAST(p_size AS VARCHAR)) >= 4
              THEN CAST(p_size AS VARCHAR)
              ELSE lpad(CAST(p_size AS VARCHAR), 4, '0') END AS size_pad,
         coalesce(p_brand || '_' || p_type, p_brand) AS brand_type
         FROM part""",
    "q05_date_ops" ->
      """SELECT o_orderkey, year(o_orderdate) AS o_year,
         month(o_orderdate) AS o_month,
         strftime(o_orderdate, '%Y%m%d') AS ymd,
         CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS parsed_date,
         CAST(NULL AS DATE) AS bad_date
         FROM orders""",
    "q06_case_cascade" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 200000 THEN 'high'
              WHEN o_totalprice > 100000 THEN 'mid'
              WHEN o_totalprice > 0 THEN 'low' END AS band,
         CASE WHEN o_orderstatus IN ('F','O') THEN o_orderstatus END AS status_wl,
         CASE WHEN o_totalprice = 0 THEN NULL ELSE o_totalprice END AS price_nz
         FROM orders""",
    "q07_window_top1" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
         FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_shipdate DESC, l_linenumber ASC, l_extendedprice DESC,
                        l_partkey ASC, l_suppkey ASC) AS rn FROM lineitem)
         WHERE rn = 1""",
    "q08_window_running" ->
      """WITH agg AS (SELECT l_suppkey, l_orderkey,
             round(sum(l_quantity), 2) AS qty
             FROM lineitem GROUP BY l_suppkey, l_orderkey)
         SELECT s_suppkey, l_orderkey, qty,
         round(sum(qty) OVER (PARTITION BY s_suppkey ORDER BY l_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_qty
         FROM supplier JOIN agg ON s_suppkey = l_suppkey""",
    "q09_join_composite" ->
      """WITH a AS (SELECT l_orderkey, l_suppkey, round(sum(l_quantity), 2) AS sum_qty
             FROM lineitem GROUP BY l_orderkey, l_suppkey),
         b AS (SELECT l_orderkey, l_suppkey, round(sum(l_extendedprice), 2) AS ret_price
             FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey, l_suppkey)
         SELECT a.l_orderkey, a.l_suppkey, a.sum_qty, b.ret_price
         FROM a LEFT JOIN b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey = b.l_suppkey""",
    "q10_join_rename" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice, o_orderstatus
         FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey""",
    "q11_unified_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
         o_totalprice, c_name, n_name
         FROM lineitem
         LEFT JOIN orders ON l_orderkey = o_orderkey
         LEFT JOIN customer ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         WHERE o_totalprice IS NOT NULL""",
    "q12_unpivot_cascade" ->
      """WITH base AS (SELECT l_orderkey AS k, year(l_shipdate) AS yr,
             l_returnflag AS f, l_extendedprice AS v FROM lineitem),
         assd AS (SELECT k, yr, round(sum(v), 2) AS assd_v FROM base WHERE f = 'N' GROUP BY k, yr),
         market AS (SELECT k, yr, round(sum(v), 2) AS market_v FROM base WHERE f = 'R' GROUP BY k, yr),
         appr AS (SELECT k, yr, round(sum(v), 2) AS appr_v FROM base WHERE f = 'A' GROUP BY k, yr)
         SELECT a.k AS l_orderkey, a.yr,
         CASE WHEN assd_v IS NOT NULL AND assd_v <> 0 THEN assd_v
              WHEN market_v IS NOT NULL AND market_v <> 0 THEN market_v
              WHEN appr_v IS NOT NULL AND appr_v <> 0 THEN appr_v END AS value,
         CASE WHEN assd_v IS NOT NULL AND assd_v <> 0 THEN 'Assd'
              WHEN market_v IS NOT NULL AND market_v <> 0 THEN 'Market'
              WHEN appr_v IS NOT NULL AND appr_v <> 0 THEN 'Appr' END AS used,
         market_v, appr_v
         FROM assd a
         LEFT JOIN market m ON a.k = m.k AND a.yr = m.yr
         LEFT JOIN appr ap ON a.k = ap.k AND a.yr = ap.yr""",
    "q13_setops" ->
      """SELECT k, 'both' AS tag FROM
           (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)
         UNION ALL
         SELECT k, 'cust_only' AS tag FROM
           (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)""",
    "q14_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
         count(*) AS n_orders FROM orders GROUP BY o_orderpriority""",
    "q15_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q16_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS tag FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT c_custkey, 'no_orders' AS tag FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q17_json_extract" ->
      """SELECT event_id, event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_map
         FROM events""",
    "q18_time_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
         event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q19_sessionize" ->
      s"""WITH $sessionSeqCtes
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, min(ts) AS session_start,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
         FROM s GROUP BY user_id, session_seq""",
    "q20_dedup_exact" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS dup_key,
         min(doc_id) AS keep_id, count(*) AS group_size
         FROM documents GROUP BY 1""",
    "q21_text_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         round(len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')), 4) AS distinct_ratio,
         round(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','and','of','to','is'))) * 1.0
               / len(string_split(text, ' ')), 4) AS stopword_ratio,
         round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
               / len(string_split(text, ' ')), 4) AS avg_token_len
         FROM documents""",
    "q22_token_counts" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
         CAST(list_sum(list_transform(string_split(text, ' '),
           x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword_est,
         CAST(len(regexp_extract_all(text,
           '[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\s]+|\s+')) AS BIGINT) AS n_bpe_tokens
         FROM documents""",
    "q23_langid" -> langIdOracle,
    "q24_fingerprint" ->
      """SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
         FROM documents""",
    "q25_jaccard_pairs" -> OracleGen.jaccardSql(n = 3, threshold = 0.8),
    // q117 computes q25's relation via prefix-filter candidates — same
    // oracle on purpose: two algorithms, one checked truth
    "q117_jaccard_prefix" -> OracleGen.jaccardSql(n = 3, threshold = 0.8),
    "q28_minhash_lsh" -> OracleGen.jaccardSql(n = 4, threshold = 0.75),
    "q29_simhash_hybrid" -> OracleGen.jaccardSql(n = 2, threshold = 0.8),
    "q45_neardup_dedup" -> OracleGen.componentsSql(n = 2, threshold = 0.8),
    "q93_grouped_split" ->
      OracleGen.groupedSplitSql(n = 2, threshold = 0.8, mod = 10, rem = 0),
    "q94_unimax_alloc" ->
      s"""WITH $unimaxCtes
         SELECT lang, n_docs,
           round(CASE WHEN f.rk <= k.k OR k.k = k.s THEN cap
                 ELSE least(cap, (1400.0 - k.cumk)
                       / CAST(k.s - k.k AS DOUBLE)) END, 6) AS alloc,
           round((CASE WHEN f.rk <= k.k OR k.k = k.s THEN cap
                 ELSE least(cap, (1400.0 - k.cumk)
                       / CAST(k.s - k.k AS DOUBLE)) END)
               / CAST(n_docs AS DOUBLE), 6) AS epochs
         FROM f, k""",
    "q95_epoch_expand" ->
      s"""WITH $unimaxCtes,
         a AS (SELECT lang,
             (CASE WHEN f.rk <= k.k OR k.k = k.s THEN cap
              ELSE least(cap, (1400.0 - k.cumk)
                    / CAST(k.s - k.k AS DOUBLE)) END)
               / CAST(n_docs AS DOUBLE) AS ep
           FROM f, k),
         d AS (SELECT doc_id, documents.lang,
             CAST(floor(ep) AS BIGINT) AS nf,
             CAST(round((ep - floor(ep)) * 1000000.0) AS BIGINT) AS fm,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS v
           FROM documents JOIN a USING (lang)),
         e AS (SELECT doc_id, lang,
             nf + CASE WHEN v * 1000000 < fm * 4294967296
                  THEN 1 ELSE 0 END AS copies
           FROM d)
         SELECT doc_id, lang, u.c AS copy
         FROM e, UNNEST(generate_series(1, copies)) AS u(c)
         WHERE copies >= 1""",
    "q96_windowed_drift" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS day,
             CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS cnt
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         p AS (SELECT day + 1 AS day, bin, cnt AS cnt_a FROM h),
         c AS (SELECT day, bin, cnt AS cnt_b FROM h),
         j AS (SELECT coalesce(p.day, c.day) AS day,
             coalesce(p.bin, c.bin) AS bin,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
           FROM p FULL OUTER JOIN c ON p.day = c.day AND p.bin = c.bin),
         t AS (SELECT day, sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b,
             count(*) AS n_bins
           FROM j GROUP BY day
           HAVING sum(cnt_a) > 0 AND sum(cnt_b) > 0)
         SELECT j.day, n_bins,
           CAST(sum(CAST(round(
               ((cnt_b + 0.5) / (tot_b + n_bins * 0.5)
                 - (cnt_a + 0.5) / (tot_a + n_bins * 0.5))
               * ln(((cnt_b + 0.5) / (tot_b + n_bins * 0.5))
                   / ((cnt_a + 0.5) / (tot_a + n_bins * 0.5)))
               * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS psi
         FROM j JOIN t USING (day)
         GROUP BY j.day, n_bins""",
    "q97_feature_hash" ->
      """WITH toks AS (SELECT doc_id, u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
         s AS (SELECT doc_id,
             CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 256
               AS bucket,
             CASE WHEN CAST(('0x' || substring(md5(tok), 9, 1)) AS BIGINT)
                       % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
           FROM toks)
         SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS w
         FROM s GROUP BY doc_id, bucket
         HAVING sum(sgn) <> 0""",
    "q98_rrf_fusion" ->
      OracleGen.rrfFusionSql(nBits = 16, dim = 64, runK = 10, fuseK = 5,
        stride = 100, c = 60),
    "q101_rrf_hybrid" ->
      OracleGen.rrfHybridSql(runK = 10, fuseK = 5, stride = 100, c = 60,
        maxDf = 50),
    "q99_session_assembly" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events),
         e AS (SELECT user_id, event_id, event_type, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_s
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_id, event_type, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM e)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           min(ts) AS session_start, count(*) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS event_seq
         FROM s GROUP BY user_id, session_seq""",
    "q50_incremental_dedup" ->
      OracleGen.incrementalSql(n = 3, threshold = 0.8, mod = 10),
    "q51_chunk_tokens" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         SELECT doc_id, s // 24 AS chunk_idx,
           array_to_string(t[s+1 : s+32], ' ') AS chunk,
           CAST(least(32, len(t) - s) AS BIGINT) AS n_tokens
         FROM toks, UNNEST(range(0, greatest(len(t), 1), 24)) AS u(s)""",
    "q52_leakage_flags" ->
      OracleGen.leakageSql(n = 3, threshold = 0.8, mod = 5, rem = 1),
    "q53_repetition" ->
      s"""WITH $repetitionCtes
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           top_unigram_frac, top_bigram_frac, dup_trigram_frac,
           $repetitionKeepSql AS keep
         FROM m""",
    "q62_containment" ->
      OracleGen.containmentSql(n = 3, threshold = 0.9,
        maxShingleFreq = Some(50)),
    "q65_asof_forward" ->
      """WITH su AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'signup'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
           FROM events WHERE event_type = 'purchase'),
         cand AS (SELECT su.user_id, su.event_id, su.ts, p.purchase_id,
             p.purchase_ts,
             row_number() OVER (PARTITION BY su.event_id
               ORDER BY p.purchase_ts ASC, p.purchase_id ASC) AS rn
           FROM su LEFT JOIN p
             ON su.user_id = p.user_id AND p.purchase_ts >= su.ts)
         SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, purchase_id,
           CAST(purchase_ts AS TIMESTAMP) AS purchase_ts
         FROM cand WHERE rn = 1""",
    "q64_source_cap" ->
      """WITH q AS (SELECT source, doc_id,
             round(len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')), 4) AS quality
           FROM documents)
         SELECT source, doc_id, quality FROM
           (SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY quality DESC, doc_id ASC) AS rn FROM q)
         WHERE rn <= 20""",
    "q63_weighted_sample" ->
      """WITH w AS (SELECT doc_id, lang,
             round(len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')), 4) AS wt
           FROM documents)
         SELECT doc_id, lang FROM w
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) * 1000000
               < CAST(round(round(greatest(0.0, least(1.0, wt)), 6) * 1000000.0)
                   AS BIGINT) * 4294967296""",
    "q61_token_packing" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_tok
           FROM t)
         SELECT doc_id, n_tokens, start_tok,
           start_tok // 64 AS bin_first,
           (start_tok + n_tokens - 1) // 64 AS bin_last
         FROM c""",
    "q60_curation_funnel" ->
      s"""WITH $repetitionCtes,
         keep AS (SELECT doc_id FROM m WHERE $repetitionKeepSql),
         kd AS (SELECT d.doc_id, d.text, d.lang FROM documents d
           JOIN keep USING (doc_id)),
         fp AS (SELECT doc_id, lang,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS f
           FROM kd),
         canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         final AS (SELECT lang, doc_id FROM fp JOIN canon USING (doc_id))
         SELECT lang, doc_id FROM
           (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
            FROM final)
         WHERE rn <= 5""",
    "q54_contamination" ->
      OracleGen.contaminationSql(n = 5, mod = 5, rem = 1),
    "q55_range_join" ->
      """WITH pts AS (SELECT l_orderkey, l_linenumber,
             datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS p_day
           FROM lineitem),
         iv AS (SELECT o_orderkey AS interval_id,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s_day
           FROM orders WHERE o_orderkey % 500 = 0),
         ive AS (SELECT interval_id, s_day,
             s_day + (interval_id % 28) + 3 AS e_day FROM iv)
         SELECT interval_id, l_orderkey, l_linenumber, p_day
         FROM pts JOIN ive ON p_day BETWEEN s_day AND e_day""",
    "q56_bm25" ->
      OracleGen.bm25Sql(
        terms = Seq("spark", "query", "window", "stream", "merge"), k = 10),
    "q57_bloom_semijoin" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_orderkey % 200 = 0)""",
    "q58_interval_overlap" ->
      """WITH l AS (SELECT o_orderkey AS l_id,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ls
           FROM orders WHERE o_orderkey % 100 = 0),
         le AS (SELECT l_id, ls, ls + (l_id % 40) + 10 AS le FROM l),
         r AS (SELECT o_orderkey AS r_id,
             datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS rs
           FROM orders WHERE o_orderkey % 100 = 1),
         re AS (SELECT r_id, rs, rs + (r_id % 30) + 10 AS re FROM r)
         SELECT l_id, r_id, ls, rs
         FROM le JOIN re ON ls <= re AND rs <= le""",
    "q59_snapshot_diff" ->
      """WITH o AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0),
         n AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                  ELSE o_orderpriority END AS o_orderpriority
           FROM orders WHERE o_orderkey % 103 <> 0),
         j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new,
             list_filter([
               CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey THEN 'o_custkey' END,
               CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END,
               CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END,
               CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate THEN 'o_orderdate' END,
               CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END
             ], x -> x IS NOT NULL) AS cc
           FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey),
         st AS (SELECT o_orderkey,
             CASE WHEN NOT in_old THEN 'added'
                  WHEN NOT in_new THEN 'removed'
                  WHEN len(cc) > 0 THEN 'changed'
                  ELSE 'unchanged' END AS status,
             cc FROM j)
         SELECT o_orderkey, status,
           CASE WHEN status = 'changed' THEN array_to_string(cc, ',')
                ELSE '' END AS changed_cols
         FROM st WHERE status <> 'unchanged'""",
    "q46_editdist_pairs" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s FROM part
           WHERE p_partkey % 10 = 0)
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM p a JOIN p b ON a.id < b.id
         WHERE abs(length(a.s) - length(b.s)) <= 2
           AND levenshtein(a.s, b.s) <= 2""",
    "q30_ann_lsh" -> OracleGen.annLshSql(nBits = 16, dim = 64, k = 5),
    "q66_ann_multiprobe" ->
      OracleGen.annLshMultiprobeSql(nBits = 16, dim = 64, k = 5,
        probeBits = 8),
    "q35_ann_ivf" ->
      OracleGen.ivfSql(k = 5, nCentroids = 16, nProbe = 2, queryStride = 100),
    "q47_ann_ivf_trained" ->
      OracleGen.ivfTrainedSql(k = 5, nCentroids = 16, nProbe = 5,
        queryStride = 100, trainIters = 2),
    "q48_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, u.term
           FROM documents, UNNEST(string_split(text, ' ')) AS u(term)),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS docfreq FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         s AS (SELECT tf.doc_id, tf.term,
             round(CAST(tf.tf AS DOUBLE)
               * ln(CAST(n.n_docs AS DOUBLE) / docfreq), 4) AS tfidf
           FROM tf JOIN dfreq USING (term), n)
         SELECT doc_id, term, tfidf FROM
           (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term ASC) AS rn FROM s)
         WHERE rn <= 5""",
    "q49_stratified_sample" ->
      """SELECT lang, doc_id FROM
           (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
            FROM documents)
         WHERE rn <= 10""",
    "q26_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
         pairs AS (SELECT query_id, e.vec_id AS cand_id,
             round(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 4) + 0.0 AS cos
           FROM e, q WHERE e.vec_id <> query_id)
         SELECT query_id, cand_id, cos FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, cand_id ASC) AS rn FROM pairs)
         WHERE rn <= 5""",
    "q27_multimodal_meta" ->
      """SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS checksum
         FROM documents""",
    "q31_embed_neardup" ->
      OracleGen.embedNearDupLshSql(nBits = 16, dim = 64, threshold = 0.4),
    "q32_rollup" ->
      """SELECT o_orderpriority, o_orderstatus,
         GROUPING(o_orderpriority, o_orderstatus) AS gid,
         count(*) AS cnt, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)""",
    "q33_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM
         (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
          FROM lineitem)
         UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))""",
    "q34_string_clean" ->
      """SELECT c_custkey, upper(c_mktsegment) AS seg_upper,
         regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
         trim(c_name) AS name_trim,
         string_split(c_name, '#')[2] AS name_num
         FROM customer""",
    "q36_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
         s AS (SELECT user_id, event_id AS signup_id, ts AS signup_ts
           FROM events WHERE event_type = 'signup'),
         cand AS (SELECT p.user_id, p.event_id, p.ts, s.signup_id, s.signup_ts,
           row_number() OVER (PARTITION BY p.event_id
             ORDER BY s.signup_ts DESC, s.signup_id DESC) AS rn
           FROM p LEFT JOIN s
             ON p.user_id = s.user_id AND s.signup_ts <= p.ts)
         SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, signup_id,
           CAST(signup_ts AS TIMESTAMP) AS signup_ts
         FROM cand WHERE rn = 1""",
    "q69_cosine_pairs" ->
      OracleGen.cosineSql(n = 3, maxDocFreq = 50, minCos = 0.6),
    "q71_cluster_stats" ->
      OracleGen.clusterStatsSql(n = 2, threshold = 0.8),
    "q75_cosine_admission" ->
      OracleGen.cosineAdmitSql(n = 3, maxDocFreq = 50, minCos = 0.6, mod = 10),
    "q76_drift_psi" ->
      """WITH ha AS (SELECT CAST(floor(n_chars / 50.0) AS BIGINT) AS bin,
             count(*) AS cnt_a FROM documents
           WHERE doc_id % 10 <> 0 AND n_chars IS NOT NULL GROUP BY 1),
         hb AS (SELECT CAST(floor(n_chars / 50.0) AS BIGINT) AS bin,
             count(*) AS cnt_b FROM documents
           WHERE doc_id % 10 = 0 AND n_chars IS NOT NULL GROUP BY 1),
         j AS (SELECT coalesce(ha.bin, hb.bin) AS bin,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
           FROM ha FULL OUTER JOIN hb ON ha.bin = hb.bin),
         s AS (SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b,
             count(*) AS n_bins FROM j)
         SELECT bin, cnt_a, cnt_b,
           round(((cnt_b + 0.5) / (tot_b + 0.5 * n_bins)
                  - (cnt_a + 0.5) / (tot_a + 0.5 * n_bins))
             * ln(((cnt_b + 0.5) / (tot_b + 0.5 * n_bins))
                  / ((cnt_a + 0.5) / (tot_a + 0.5 * n_bins))), 6)
             + 0.0 AS psi_contrib
         FROM j, s""",
    "q74_weighted_reservoir" ->
      """SELECT lang, doc_id FROM
           (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
              ORDER BY -ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) + 1.0) / 4294967296.0) / n_chars ASC,
                doc_id ASC) AS rn
            FROM documents)
         WHERE rn <= 10""",
    "q73_salted_join" ->
      """WITH l AS (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 'hot'
             ELSE 'k' || CAST(l_orderkey % 100 AS VARCHAR) END AS skew_key,
             l_orderkey, l_linenumber, l_quantity FROM lineitem),
         d AS (SELECT CASE WHEN n_nationkey = 0 THEN 'hot'
             ELSE 'k' || CAST(n_nationkey AS VARCHAR) END AS skew_key,
             n_name AS dim_name FROM nation)
         SELECT l.skew_key, l_orderkey, l_linenumber, l_quantity, dim_name
         FROM l LEFT JOIN d USING (skew_key)""",
    "q72_canonical_pick" ->
      OracleGen.canonicalPickSql(n = 2, threshold = 0.8),
    "q70_pii_scrub" ->
      s"""WITH dirty AS (SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0 THEN ' cc backup'
                  || CAST(doc_id AS VARCHAR) || '@alt.example.net'
                ELSE '' END
             || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com'
             || CASE WHEN doc_id % 2 = 0 THEN ' via https://site'
                  || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/'
                  || CAST(doc_id AS VARCHAR)
                ELSE '' END
             || ' ref ' || CAST(1000000 + doc_id * 37 % 9000000 AS VARCHAR)
             AS t FROM documents),
         s1 AS (SELECT doc_id, t,
             regexp_replace(t, '${TextAnalysis.urlPattern}', '<URL>', 'g') AS t1
           FROM dirty),
         s2 AS (SELECT doc_id, t, t1,
             regexp_replace(t1, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g') AS t2
           FROM s1)
         SELECT doc_id,
           len(regexp_extract_all(t, '${TextAnalysis.urlPattern}')) AS n_urls,
           len(regexp_extract_all(t1, '${TextAnalysis.emailPattern}')) AS n_emails,
           len(regexp_extract_all(t2, '${TextAnalysis.idPattern}')) AS n_ids,
           regexp_replace(t2, '${TextAnalysis.idPattern}', '<ID>', 'g') AS clean_text
         FROM s2""",
    "q77_span_dedup" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         sp0 AS (SELECT doc_id, t,
             unnest(range(0, greatest(len(t) - 1, 0) + 1, 10)) AS pos
           FROM base),
         sp AS (SELECT doc_id, CAST(pos AS BIGINT) AS span_idx,
             array_to_string(t[pos + 1 : pos + 10], ' ') AS span
           FROM sp0),
         kept AS (SELECT doc_id, span_idx, span FROM
             (SELECT doc_id, span_idx, span,
                row_number() OVER (PARTITION BY span
                  ORDER BY doc_id, span_idx) AS rn FROM sp)
           WHERE rn = 1),
         totals AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY doc_id),
         rebuilt AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(span, ' ' ORDER BY span_idx) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT totals.doc_id, n_spans,
           coalesce(n_kept, 0) AS n_kept,
           coalesce(clean_text, '') AS clean_text
         FROM totals LEFT JOIN rebuilt USING (doc_id)""",
    "q78_mixture_sample" ->
      """WITH tgt(source, target) AS
           (VALUES ('src0', 4000), ('src1', 2000), ('src2', 1000000)),
         tot AS (SELECT source, sum(n_chars) AS tot_w FROM documents
           GROUP BY source),
         rates AS (SELECT tot.source,
             CASE WHEN target IS NULL THEN CAST(1.0 AS DOUBLE)
                  ELSE least(CAST(1.0 AS DOUBLE),
                    CAST(target AS DOUBLE) / CAST(tot_w AS DOUBLE)) END AS rate
           FROM tot LEFT JOIN tgt USING (source))
         SELECT doc_id, d.source, n_chars
         FROM documents d JOIN rates USING (source)
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) * 1000000
               < CAST(round(round(greatest(0.0, least(1.0, rate)), 6)
                   * 1000000.0) AS BIGINT) * 4294967296""",
    "q79_shuffle_shard" ->
      """WITH d AS (SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS draw
           FROM documents)
         SELECT doc_id, draw % 8 AS shard,
           row_number() OVER (PARTITION BY draw % 8
             ORDER BY draw, doc_id) AS pos
         FROM d""",
    "q80_winsorize" ->
      """WITH b AS (SELECT l_returnflag,
             CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bin,
             count(*) AS cnt
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
         c AS (SELECT l_returnflag, bin, cnt,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM b),
         bounds AS (SELECT l_returnflag,
             min(CASE WHEN cum >= ceil(0.05 * tot) AND cum - cnt < ceil(0.05 * tot)
                 THEN round(bin * 100.0 + 50.0, 4) END) AS lo,
             min(CASE WHEN cum >= ceil(0.95 * tot) AND cum - cnt < ceil(0.95 * tot)
                 THEN round(bin * 100.0 + 50.0, 4) END) AS hi
           FROM c GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
           CASE WHEN l_extendedprice IS NULL THEN NULL
                ELSE greatest(lo, least(hi, CAST(l_extendedprice AS DOUBLE)))
           END AS w_price
         FROM lineitem l JOIN bounds USING (l_returnflag)""",
    "q81_vocab_topk" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         grams AS (SELECT CASE WHEN len(t) < 2 THEN array_to_string(t, ' ')
               ELSE array_to_string(t[i:i+1], ' ') END AS g
           FROM toks, UNNEST(range(1, greatest(len(t), 2))) AS u(i)),
         c AS (SELECT g AS gram, count(*) AS cnt FROM grams GROUP BY 1)
         SELECT gram, cnt FROM c ORDER BY cnt DESC, gram LIMIT 50""",
    "q82_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
           FROM documents),
         cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
         tot AS (SELECT doc_id, sum(cnt) AS n FROM cc GROUP BY 1)
         SELECT cc.doc_id,
           round(-sum((CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n)),
             4) + 0.0 AS char_entropy
         FROM cc JOIN tot USING (doc_id) GROUP BY cc.doc_id, n""",
    "q83_gopher_rules" ->
      """WITH m AS (SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           round((length(text) - len(string_split(text, ' ')) + 1.0)
             / len(string_split(text, ' ')), 4) AS mean_word_len,
           round(CAST(len(list_filter(string_split(text, ' '),
               w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS frac_alpha,
           len(list_intersect(string_split(text, ' '), ['the', 'a']))
             AS n_stop_distinct
         FROM documents)
         SELECT doc_id, n_words, mean_word_len, frac_alpha, n_stop_distinct,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3 AND 10)
             AND frac_alpha >= 0.8 AND n_stop_distinct >= 2 AS keep
         FROM m""",
    "q106_corpus_card" ->
      """WITH m AS (SELECT doc_id, lang, source, n_chars,
           len(string_split(text, ' ')) AS n_words,
           round((length(text) - len(string_split(text, ' ')) + 1.0)
             / len(string_split(text, ' ')), 4) AS mean_word_len,
           round(CAST(len(list_filter(string_split(text, ' '),
               w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS frac_alpha,
           len(list_intersect(string_split(text, ' '), ['the', 'a']))
             AS n_stop_distinct
         FROM documents)
         SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           round(CAST(sum(n_words) AS DOUBLE) / count(*), 4) AS avg_words,
           CAST(sum(CASE WHEN (n_words BETWEEN 50 AND 100000)
               AND (mean_word_len BETWEEN 3 AND 10)
               AND frac_alpha >= 0.8 AND n_stop_distinct >= 2
             THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         FROM m GROUP BY ROLLUP (lang, source)""",
    "q84_semantic_dedup" ->
      OracleGen.semanticDedupSql(nCentroids = 16, threshold = 0.35),
    "q87_semantic_dedup_trained" ->
      OracleGen.semanticDedupTrainedSql(nCentroids = 16, threshold = 0.35,
        trainIters = 2),
    "q88_ann_filtered" ->
      OracleGen.ivfFilteredSql(k = 5, nCentroids = 16, nProbe = 2,
        queryStride = 100, candWhere = "label % 2 = 0"),
    "q89_semantic_leakage" ->
      OracleGen.semanticLeakageSql(mod = 97, rem = 1, threshold = 0.25),
    "q100_semantic_leakage_routed" ->
      OracleGen.semanticLeakageCellSql(mod = 97, rem = 1, threshold = 0.25,
        nCentroids = 16, nProbe = 8, trainIters = 2),
    "q102_semantic_admission" ->
      OracleGen.semanticAdmitIvfSql(mod = 10, rem = 0, threshold = 0.25,
        nCentroids = 16, nProbe = 4),
    "q104_embedding_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         sc AS (SELECT vec_id, v,
             round(list_max(list_transform(v, x -> abs(x))) / 127.0, 6)
               AS scale
           FROM e),
         g AS (SELECT vec_id, v, scale,
             CASE WHEN scale = 0 THEN 1.0 ELSE scale END AS s
           FROM sc)
         SELECT vec_id, scale,
           array_to_string(list_transform(v, x -> CAST(greatest(-127.0,
             least(127.0, round(x / s))) AS INT)), ',') AS q_str,
           round(list_max(list_transform(v, x -> abs(x - greatest(-127.0,
             least(127.0, round(x / s))) * s))), 6) AS max_err
         FROM g""",
    "q105_two_tier_ann" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         z AS (SELECT id, v, scale,
             CASE WHEN scale = 0 THEN 1.0 ELSE scale END AS s
           FROM (SELECT id, v,
               round(list_max(list_transform(v, x -> abs(x))) / 127.0, 6)
                 AS scale FROM e)),
         qz AS (SELECT id, v, scale,
             list_transform(v, x -> greatest(-127.0,
               least(127.0, round(x / s)))) AS q
           FROM z),
         qs AS (SELECT id AS query_id, v AS qv, scale AS qscale, q AS qq
           FROM qz WHERE id % 100 = 0),
         ap AS (SELECT query_id, c.id AS cand_id, c.v, qs.qv,
             round(list_dot_product(c.q, qs.qq) * c.scale * qs.qscale, 6)
               + 0.0 AS approx
           FROM qz c, qs WHERE c.id <> qs.query_id),
         cand AS (SELECT query_id, cand_id, v, qv FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY approx DESC, cand_id ASC) AS rn FROM ap)
           WHERE rn <= 20),
         r AS (SELECT query_id, cand_id,
             round(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(v, v))), 4) + 0.0 AS cos
           FROM cand)
         SELECT query_id, cand_id, cos FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, cand_id ASC) AS rn FROM r)
         WHERE rn <= 5""",
    "q90_nucleus_keep" ->
      """WITH t AS (SELECT lang, doc_id, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY lang
               ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
             sum(n_chars) OVER (PARTITION BY lang) AS tot
           FROM documents)
         SELECT doc_id, lang, n_chars FROM t
         WHERE cum * 2 < tot * 1""",
    "q91_quantile_norm" ->
      """SELECT doc_id, source, n_chars,
           round(percent_rank() OVER (PARTITION BY source
             ORDER BY n_chars ASC, doc_id ASC), 6) AS pct
         FROM documents""",
    "q92_bigram_nll" ->
      """WITH rt AS (SELECT doc_id AS rid, u.i AS pos, toks[u.i] AS tok
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id % 2 = 0),
             UNNEST(generate_series(1, len(toks))) AS u(i)),
         uni AS (SELECT tok, count(*) AS c1 FROM rt GROUP BY tok),
         tot AS (SELECT sum(c1) AS total FROM uni),
         bi AS (SELECT a.tok AS prev, b.tok AS tok, count(*) AS c2
           FROM rt a JOIN rt b ON a.rid = b.rid AND b.pos = a.pos + 1
           GROUP BY 1, 2),
         dt AS (SELECT doc_id, u.i AS pos, toks[u.i] AS tok
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
             UNNEST(generate_series(1, len(toks))) AS u(i)),
         pairs AS (SELECT doc_id, pos, tok,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM dt),
         s AS (SELECT doc_id,
             CASE WHEN pairs.prev IS NULL
               THEN -ln(CAST(COALESCE(u1.c1, 1) AS DOUBLE) / total)
               ELSE -ln((CAST(COALESCE(b.c2, 0) AS DOUBLE)
                           + CAST(COALESCE(u1.c1, 1) AS DOUBLE) / total)
                        / (CAST(COALESCE(u2.c1, 0) AS DOUBLE) + 1.0)) END AS nll
           FROM pairs
           LEFT JOIN uni u1 ON pairs.tok = u1.tok
           LEFT JOIN uni u2 ON pairs.prev = u2.tok
           LEFT JOIN bi b ON pairs.prev = b.prev AND pairs.tok = b.tok
           CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
           round(sum(nll) / count(*), 4) AS avg_nll
         FROM s GROUP BY doc_id""",
    // q300: mirrors TextAnalysis.kneserNeyNll — the q92 CTE skeleton,
    // continuation/context type counts off the one bigram relation,
    // the interpolated-KN expression mirrored term-for-term.
    "q300_kneser_ney_nll" ->
      """WITH rt AS (SELECT doc_id AS rid, u.i AS pos, toks[u.i] AS tok
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id % 2 = 0),
             UNNEST(generate_series(1, len(toks))) AS u(i)),
         bi AS (SELECT a.tok AS prev, b.tok AS tok, count(*) AS c2
           FROM rt a JOIN rt b ON a.rid = b.rid AND b.pos = a.pos + 1
           GROUP BY 1, 2),
         prevs AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS ctot,
             CAST(count(*) AS BIGINT) AS n1p FROM bi GROUP BY 1),
         contw AS (SELECT tok, CAST(count(*) AS BIGINT) AS n1w
           FROM bi GROUP BY 1),
         gl AS (SELECT
             (SELECT CAST(count(*) AS BIGINT) FROM bi) AS n_types,
             (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM rt) AS v),
         dt AS (SELECT doc_id, u.i AS pos, toks[u.i] AS tok
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
             UNNEST(generate_series(1, len(toks))) AS u(i)),
         pairs AS (SELECT doc_id, pos, tok,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM dt),
         s AS (SELECT doc_id,
             -ln(CASE WHEN p2.ctot IS NOT NULL THEN
                 (greatest(CAST(COALESCE(b.c2, 0) AS DOUBLE) - 0.75,
                     0.0)
                   + 0.75 * CAST(p2.n1p AS DOUBLE)
                     * ((CAST(COALESCE(cw.n1w, 0) AS DOUBLE) + 1.0)
                       / CAST(n_types + v + 1 AS DOUBLE)))
                 / CAST(p2.ctot AS DOUBLE)
               ELSE (CAST(COALESCE(cw.n1w, 0) AS DOUBLE) + 1.0)
                 / CAST(n_types + v + 1 AS DOUBLE) END) AS nll
           FROM pairs
           LEFT JOIN bi b ON pairs.prev = b.prev AND pairs.tok = b.tok
           LEFT JOIN prevs p2 ON pairs.prev = p2.prev
           LEFT JOIN contw cw ON pairs.tok = cw.tok
           CROSS JOIN gl)
         SELECT doc_id, count(*) AS n_tokens,
           round(sum(nll) / count(*), 4) AS avg_nll
         FROM s GROUP BY doc_id""",
    "q85_unigram_nll" ->
      """WITH rt AS (SELECT u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
           WHERE doc_id % 2 = 0),
         model AS (SELECT tok, count(*) AS cnt FROM rt GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM rt),
         dt AS (SELECT doc_id, u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
         s AS (SELECT doc_id,
             -ln(CAST(COALESCE(cnt, 1) AS DOUBLE) / total) AS nll
           FROM dt CROSS JOIN tot LEFT JOIN model USING (tok))
         SELECT doc_id, count(*) AS n_tokens,
           round(sum(nll) / count(*), 4) AS avg_nll
         FROM s GROUP BY 1""",
    "q103_ccnet_buckets" ->
      """WITH rt AS (SELECT u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
           WHERE doc_id % 2 = 0),
         model AS (SELECT tok, count(*) AS cnt FROM rt GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM rt),
         dt AS (SELECT doc_id, u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
         s AS (SELECT doc_id,
             -ln(CAST(COALESCE(cnt, 1) AS DOUBLE) / total) AS nll
           FROM dt CROSS JOIN tot LEFT JOIN model USING (tok)),
         scored AS (SELECT doc_id,
             round(sum(nll) / count(*), 4) AS avg_nll
           FROM s GROUP BY 1),
         j AS (SELECT sc.doc_id, d.lang, sc.avg_nll,
             ntile(3) OVER (PARTITION BY d.lang
               ORDER BY sc.avg_nll ASC, sc.doc_id ASC) AS nt
           FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id)
         SELECT doc_id, lang, avg_nll,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS bucket
         FROM j""",
    "q86_temperature_sample" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         rates AS (SELECT lang,
             least(CAST(1.0 AS DOUBLE),
               400.0 * pow(CAST(n AS DOUBLE), 0.3)
                 / (sum(pow(CAST(n AS DOUBLE), 0.3)) OVER ()
                    * CAST(n AS DOUBLE))) AS rate
           FROM n)
         SELECT doc_id, d.lang, n_chars
         FROM documents d JOIN rates USING (lang)
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) * 1000000
               < CAST(round(round(greatest(0.0, least(1.0, rate)), 6)
                   * 1000000.0) AS BIGINT) * 4294967296""",
    "q68_salted_agg" ->
      """WITH b AS (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 'hot'
             ELSE 'k' || CAST(l_orderkey % 100 AS VARCHAR) END AS skew_key,
             l_quantity FROM lineitem)
         SELECT skew_key, round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS cnt
         FROM b GROUP BY skew_key""",
    "q67_approx_percentile" ->
      """WITH qb AS (SELECT l_returnflag,
             CAST(floor(l_quantity / 1.0) AS BIGINT) AS bin, count(*) AS cnt
           FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
         qc AS (SELECT l_returnflag, bin, cnt,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM qb),
         qm AS (SELECT l_returnflag,
             round(CAST(bin AS DOUBLE) * 1.0 + 0.5, 4) AS approx_median_qty
           FROM qc WHERE cum >= ceil(0.5 * tot) AND cum - cnt < ceil(0.5 * tot)),
         pb AS (SELECT l_returnflag,
             CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bin,
             count(*) AS cnt
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
         pc AS (SELECT l_returnflag, bin, cnt,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM pb),
         pm AS (SELECT l_returnflag,
             round(CAST(bin AS DOUBLE) * 100.0 + 50.0, 4) AS approx_p90_price
           FROM pc WHERE cum >= ceil(0.9 * tot) AND cum - cnt < ceil(0.9 * tot))
         SELECT qm.l_returnflag, approx_median_qty, approx_p90_price
         FROM qm JOIN pm ON qm.l_returnflag = pm.l_returnflag""",
    "q37_percentile" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
         FROM lineitem GROUP BY l_returnflag""",
    "q38_array_agg" ->
      """SELECT l_orderkey,
         array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
         FROM lineitem GROUP BY l_orderkey""",
    "q39_cube" ->
      """SELECT l_returnflag, l_linestatus,
         GROUPING(l_returnflag, l_linestatus) AS gid,
         count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q40_lead_lag" ->
      """SELECT user_id, event_id, value,
         lag(value, 1) OVER w AS prev_value,
         lead(value, 1) OVER w AS next_value,
         round(value - coalesce(lag(value, 1) OVER w, 0.0), 2) + 0.0 AS delta
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""",
    "q41_pivot" ->
      """SELECT l_linestatus,
         round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,
         round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,
         round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R
         FROM lineitem GROUP BY l_linestatus""",
    "q42_correlated_subq" ->
      """SELECT o_orderkey, o_totalprice,
         (SELECT round(sum(o2.o_totalprice), 2) FROM orders o2
          WHERE o2.o_custkey = o.o_custkey) AS cust_total,
         (SELECT count(*) FROM orders o2
          WHERE o2.o_custkey = o.o_custkey) AS cust_n
         FROM orders o""",
    "q43_ntile" ->
      """SELECT o_orderkey,
         ntile(4) OVER w AS quartile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
         FROM orders
         WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)""",
    "q44_session_window" ->
      s"""WITH $sessionSeqCtes
         SELECT user_id, min(ts) AS session_start,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
         FROM s GROUP BY user_id, session_seq""",
    "q107_pagerank" -> OracleGen.pageRankSql(iters = 5),
    "q123_pagerank_dangling" -> OracleGen.pageRankSql(iters = 5,
      edgeFilterSql = Some("src % 7 <> 0"), dangling = true),
    "q124_knn_pagerank" ->
      OracleGen.knnPageRankSql(k = 5, nCentroids = 16, nProbe = 2,
        iters = 5),
    "q125_label_propagation" -> OracleGen.labelPropSql(iters = 5),
    "q127_pq_ann" -> OracleGen.pqSql(m = 8, k = 64, trainIters = 3,
      topK = 5, queryStride = 100, dim = 64, trainStride = 4),
    // q301: mirrors Dedup.fellegiSunterEm — blocked pattern counts,
    // three unrolled EM rounds, exact-micros posteriors, clamps.
    "q301_fellegi_em" -> OracleGen.fellegiEmSql(iters = 3),
    // q297: mirrors Similarity.pqDistortion — the q127 codebook replay,
    // round-6 assigned distances to exact micros, per-subspace rollup.
    "q297_pq_distortion" -> OracleGen.pqDistortionSql(m = 8, k = 64,
      trainIters = 3, dim = 64, trainStride = 4),
    "q129_ivfpq_ann" -> OracleGen.ivfPqSql(m = 8, k = 64, trainIters = 3,
      nCentroids = 16, nProbe = 2, topK = 5, queryStride = 100, dim = 64,
      trainStride = 4),
    "q158_ivfpq_residual" -> OracleGen.ivfPqResidualSql(m = 8, k = 64,
      trainIters = 3, nCentroids = 16, nProbe = 2, topK = 5,
      queryStride = 100, dim = 64, trainStride = 4),
    "q130_poisson_bootstrap" -> OracleGen.poissonBootstrapSql(100),
    "q131_funnel_trace" ->
      OracleGen.funnelTraceSql(Seq("view", "click", "purchase")),
    "q132_windowed_funnel" ->
      OracleGen.funnelTraceSql(Seq("view", "click", "purchase"),
        gapSeconds = Some(86400L)),
    "q133_entity_resolution" ->
      s"""WITH RECURSIVE
         p AS (SELECT p_partkey AS id, p_name AS s,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             p_brand
           FROM part WHERE p_partkey % 10 = 0),
         $erComponentCtes,
         m AS (SELECT c.entity_id, p.id, p.s, p.price_cents, p.p_brand
           FROM comp c JOIN p ON c.id = p.id),
         canon AS (SELECT entity_id, s,
             row_number() OVER (PARTITION BY entity_id
               ORDER BY length(s) DESC, id ASC) AS rn
           FROM m),
         agg AS (SELECT entity_id, count(*) AS n_members,
             min(price_cents) AS min_price_cents,
             count(DISTINCT p_brand) AS n_brands
           FROM m GROUP BY 1)
         SELECT a.entity_id, a.n_members, c.s AS canonical_name,
           a.min_price_cents, a.n_brands
         FROM agg a JOIN canon c ON a.entity_id = c.entity_id AND c.rn = 1""",
    "q159_er_survivorship" ->
      s"""WITH RECURSIVE
         p AS (SELECT p_partkey AS id, p_name AS s,
             CAST(p_size AS BIGINT) AS ver, p_brand AS src
           FROM part WHERE p_partkey % 10 = 0),
         $erComponentCtes,
         m AS (SELECT c.entity_id, p.id, p.s, p.ver, p.src
           FROM comp c JOIN p ON c.id = p.id),
         compl AS (SELECT entity_id, s,
             row_number() OVER (PARTITION BY entity_id
               ORDER BY length(s) DESC, id ASC) AS rn FROM m),
         rec AS (SELECT entity_id, id, ver,
             row_number() OVER (PARTITION BY entity_id
               ORDER BY ver DESC, id ASC) AS rn FROM m),
         prio AS (SELECT entity_id, id, src,
             row_number() OVER (PARTITION BY entity_id
               ORDER BY (CASE WHEN src = 'Brand#13' THEN 1
                 WHEN src = 'Brand#7' THEN 2 ELSE 3 END) ASC,
                 id ASC) AS rn FROM m),
         agg AS (SELECT entity_id, count(*) AS n_members FROM m GROUP BY 1)
         SELECT a.entity_id, a.n_members, c.s AS name_complete,
           r.id AS id_recent, r.ver AS ver_recent,
           pp.id AS id_priority, pp.src AS src_priority
         FROM agg a
         JOIN compl c ON c.entity_id = a.entity_id AND c.rn = 1
         JOIN rec r ON r.entity_id = a.entity_id AND r.rn = 1
         JOIN prio pp ON pp.entity_id = a.entity_id AND pp.rn = 1""",
    "q160_rank_sum_auc" ->
      """WITH per AS (SELECT source, n_chars AS s, count(*) AS cnt,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos
           FROM documents GROUP BY 1, 2),
         c AS (SELECT source, s, cnt, pos,
             COALESCE(sum(cnt) OVER (PARTITION BY source ORDER BY s ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
           FROM per),
         a AS (SELECT source, CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * cum + cnt + 1)) AS BIGINT) AS r2
           FROM c GROUP BY 1)
         SELECT source, n_pos, n_neg,
           r2 - n_pos * (n_pos + 1) AS u2,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
               / CAST(2 * n_pos * n_neg AS DOUBLE), 4) END AS auc
         FROM a""",
    "q161_frequent_sequences" ->
      """WITH s AS (SELECT user_id, event_type AS t0,
             lead(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS t1,
             lead(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS t2
           FROM events),
         g AS (SELECT DISTINCT user_id, CAST(2 AS BIGINT) AS len,
             t0 || '>' || t1 AS gram
           FROM s WHERE t1 IS NOT NULL
           UNION
           SELECT DISTINCT user_id, CAST(3 AS BIGINT) AS len,
             t0 || '>' || t1 || '>' || t2 AS gram
           FROM s WHERE t1 IS NOT NULL AND t2 IS NOT NULL)
         SELECT len, gram, count(*) AS support
         FROM g GROUP BY 1, 2 HAVING count(*) >= 5""",
    "q162_daily_trend" ->
      """WITH daily AS (SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS x,
             count(*) AS y
           FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
           FROM daily GROUP BY 1)
         SELECT event_type, n AS n_days,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 4) + 0.0 END AS slope,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
             round(CAST(sy * sxx - sx * sxy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 4) + 0.0 END
             AS intercept
         FROM m""",
    "q163_quantile_normalize" ->
      """WITH rws AS (SELECT doc_id AS id, source AS grp,
             CAST(n_chars AS BIGINT) AS v FROM documents),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM rws),
         pooled AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM rws
           GROUP BY 1),
         cumd AS (SELECT v, cnt,
             CAST(sum(cnt) OVER (ORDER BY v ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
           FROM pooled),
         gv0 AS (SELECT v,
             (200 * (cum - cnt) + nn) // (2 * nn) AS glo,
             CASE WHEN 200 * cum >= nn
               THEN (200 * cum - nn) // (2 * nn) ELSE -1 END AS ghi
           FROM cumd CROSS JOIN tot),
         gridv AS (SELECT u.gq, v AS norm
           FROM gv0, UNNEST(range(glo, ghi + 1)) u(gq)
           WHERE glo <= ghi),
         ranked AS (SELECT id, grp, v,
             CAST(row_number() OVER (PARTITION BY grp
               ORDER BY v ASC, id ASC) AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS gn
           FROM rws)
         SELECT id AS doc_id, grp AS source, v AS n_chars, norm
           AS norm_chars
         FROM ranked JOIN gridv
           ON gridv.gq = ((2 * i - 1) * 100) // (2 * gn)""",
    "q164_curriculum_interleave" ->
      """WITH ranked AS (SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS r
           FROM documents),
         sizes AS (SELECT source AS s2, CAST(count(*) AS BIGINT) AS n2
           FROM documents GROUP BY 1)
         SELECT doc_id, source, n_chars, r AS source_rank,
           CAST(sum(least(r - 1, n2)
             + CASE WHEN n2 >= r AND s2 <= source THEN 1 ELSE 0 END)
             AS BIGINT) AS pos
         FROM ranked CROSS JOIN sizes
         GROUP BY doc_id, source, n_chars, r""",
    "q165_retrieval_eval" ->
      OracleGen.retrievalEvalSql(nBits = 16, dim = 64, k = 5,
        stride = 100),
    "q166_ks_drift" ->
      """WITH rws AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v
           FROM documents),
         pergv AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c1
           FROM rws GROUP BY 1, 2),
         gcum AS (SELECT v, CAST(sum(count(*)) OVER (ORDER BY v ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cumall
           FROM rws GROUP BY v),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM rws),
         sizes AS (SELECT grp, CAST(count(*) AS BIGINT) AS n1,
             nn - count(*) AS n2
           FROM rws CROSS JOIN tot GROUP BY grp, nn),
         mtx AS (SELECT s.grp, g.v, g.cumall, s.n1, s.n2,
             COALESCE(p.c1, 0) AS c1
           FROM gcum g CROSS JOIN sizes s
           LEFT JOIN pergv p ON p.grp = s.grp AND p.v = g.v),
         c AS (SELECT grp, n1, n2,
             abs(CAST(sum(c1) OVER (PARTITION BY grp ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) * n2
               - (cumall - CAST(sum(c1) OVER (PARTITION BY grp
                   ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT)) * n1) AS dnum
           FROM mtx)
         SELECT grp, n1, n2, max(dnum) AS d_num,
           round(CAST(max(dnum) AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 4)
             AS ks
         FROM c GROUP BY grp, n1, n2""",
    "q167_source_overlap" ->
      """WITH sf AS (SELECT DISTINCT source AS s,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS f
           FROM documents),
         sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM sf
           GROUP BY 1),
         inter AS (SELECT a.s AS sa, b.s AS sb,
             CAST(count(*) AS BIGINT) AS n_common
           FROM sf a JOIN sf b ON a.f = b.f AND a.s < b.s
           GROUP BY 1, 2)
         SELECT sa AS source_a, sb AS source_b,
           za.n AS n_a, zb.n AS n_b, n_common,
           n_common * 1000000 // (za.n + zb.n - n_common)
             AS jaccard_micros
         FROM inter
         JOIN sizes za ON za.s = sa
         JOIN sizes zb ON zb.s = sb""",
    "q168_block_bootstrap" ->
      s"""WITH ${OracleGen.dailyCte("g")},
         series AS (SELECT g,
             CAST(row_number() OVER (PARTITION BY g ORDER BY day ASC)
               AS BIGINT) - 1 AS pos, y
           FROM daily),
         lens AS (SELECT g, CAST(count(*) AS BIGINT) AS len FROM series
           GROUP BY 1),
         blocks AS (SELECT g, len, u.b, u2.j,
             CAST(('0x' || substring(md5(g || '#' ||
                 CAST(u.b AS VARCHAR) || '#' || CAST(u2.j AS VARCHAR)),
               1, 8)) AS BIGINT) % len AS s
           FROM lens,
             UNNEST(range(0, 50)) u(b),
             UNNEST(range(0, (len + 6) // 7)) u2(j)),
         picks AS (SELECT g, len, b, (s + u3.o) % len AS pos
           FROM blocks, UNNEST(range(0, 7)) u3(o)
           WHERE j * 7 + u3.o < len)
         SELECT p.g, CAST(p.b AS BIGINT) AS replicate,
           round(CAST(sum(sr.y) AS DOUBLE) / CAST(max(p.len) AS DOUBLE),
             4) AS mean_count
         FROM picks p JOIN series sr ON sr.g = p.g AND sr.pos = p.pos
         GROUP BY 1, 2""",
    "q134_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderstatus
           FROM orders WHERE o_orderkey % 101 <> 0),
         w1 AS (SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) + 100 AS price_cents,
             o_orderstatus, 1 AS seq, 'U' AS op
           FROM orders WHERE o_orderkey % 7 = 0),
         w2 AS (SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) + 200 AS price_cents,
             o_orderstatus, 2 AS seq,
             CASE WHEN o_orderkey % 21 = 0 THEN 'D' ELSE 'U' END AS op
           FROM orders WHERE o_orderkey % 14 = 0),
         ch AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
         latest AS (SELECT * FROM (SELECT *,
             row_number() OVER (PARTITION BY o_orderkey
               ORDER BY seq DESC) AS rn FROM ch) WHERE rn = 1),
         kept AS (SELECT b.* FROM base b
           LEFT JOIN latest l ON b.o_orderkey = l.o_orderkey
           WHERE l.o_orderkey IS NULL)
         SELECT o_orderkey, price_cents, o_orderstatus, 'base' AS src
         FROM kept
         UNION ALL
         SELECT o_orderkey, price_cents, o_orderstatus, 'cdc' AS src
         FROM latest WHERE op = 'U'""",
    "q135_linear_attribution" ->
      """WITH f AS (SELECT user_id, event_id, ts, event_type FROM events
           WHERE event_type IN ('click', 'purchase')),
         b AS (SELECT user_id, event_id, ts, event_type,
             first_value(CASE WHEN event_type = 'purchase' THEN event_id END
               IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS conv_id
           FROM f),
         t AS (SELECT user_id, conv_id, event_id AS touch_id, ts FROM b
           WHERE event_type = 'click' AND conv_id IS NOT NULL),
         c AS (SELECT user_id, conv_id, touch_id,
             row_number() OVER (PARTITION BY user_id, conv_id
               ORDER BY ts ASC, touch_id ASC) AS rn,
             count(*) OVER (PARTITION BY user_id, conv_id) AS n
           FROM t)
         SELECT user_id, conv_id, touch_id,
           1000000 // n +
             CASE WHEN rn = n THEN 1000000 % n ELSE 0 END AS credit_micros
         FROM c""",
    "q136_pit_join" ->
      """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS attr
         FROM events),
         nn AS (SELECT * FROM ev WHERE attr IS NOT NULL),
         ch AS (SELECT user_id, ts, event_id, attr,
             lag(attr) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS prev
           FROM nn),
         c2 AS (SELECT user_id, ts, event_id, attr FROM ch
           WHERE prev IS NULL OR prev <> attr),
         hist AS (SELECT user_id, attr, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS valid_to
           FROM c2),
         f AS (SELECT user_id, event_id AS conv_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase')
         SELECT f.user_id, f.conv_id, f.ts, h.attr
         FROM f LEFT JOIN hist h ON f.user_id = h.user_id
           AND h.valid_from <= f.ts
           AND (h.valid_to IS NULL OR f.ts < h.valid_to)""",
    "q137_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_cents
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
    "q138_mad_outliers" ->
      """WITH med AS (SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS med
           FROM events GROUP BY 1),
         wm AS (SELECT e.event_id, e.event_type, e.value, m.med
           FROM events e JOIN med m ON e.event_type = m.event_type),
         mad AS (SELECT event_type,
             round(quantile_cont(abs(value - med), 0.5), 4) AS mad
           FROM wm GROUP BY 1)
         SELECT wm.event_id, wm.event_type, wm.med, mad.mad,
           round(abs(wm.value - wm.med), 4) AS dev,
           round(abs(wm.value - wm.med), 4) > 3.0 * mad.mad AS is_outlier
         FROM wm JOIN mad ON wm.event_type = mad.event_type""",
    "q139_jw_pairs" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s,
             string_split(p_name, ' ')[1] AS blk
           FROM part WHERE p_partkey % 10 = 0 AND p_name IS NOT NULL)
         SELECT a.id AS id_a, b.id AS id_b,
           round(jaro_winkler_similarity(a.s, b.s), 4) AS jw
         FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
         WHERE round(jaro_winkler_similarity(a.s, b.s), 4) >= 0.9""",
    "q140_cooccurrence" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
           FROM lineitem WHERE l_orderkey IS NOT NULL
             AND l_partkey IS NOT NULL),
         n AS (SELECT count(DISTINCT bk) AS n_baskets FROM b),
         s AS (SELECT it, count(*) AS s FROM b GROUP BY 1),
         pr AS (SELECT a.it AS item_a, b2.it AS item_b,
             count(*) AS support
           FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
           GROUP BY 1, 2)
         SELECT item_a, item_b, support,
           (support * n_baskets * 1000000) // (sa.s * sb.s) AS lift_micros
         FROM pr
         JOIN s sa ON pr.item_a = sa.it
         JOIN s sb ON pr.item_b = sb.it
         CROSS JOIN n
         WHERE support >= 2""",
    "q141_winnowing" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         g AS (SELECT doc_id, i AS pos,
             CASE WHEN len(t) < 3 THEN array_to_string(t, ' ')
                  ELSE array_to_string(t[i:i+2], ' ') END AS g
           FROM toks, UNNEST(range(1, greatest(len(t) - 1, 2))) AS u(i)),
         k AS (SELECT doc_id, pos,
             CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) * 1048576
               + pos AS key
           FROM g),
         m AS (SELECT doc_id, min(key) OVER (PARTITION BY doc_id
             ORDER BY pos ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS wkey
           FROM k),
         f AS (SELECT DISTINCT doc_id, wkey // 1048576 AS h FROM m)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q142_vocab_drift" ->
      """WITH co AS (SELECT u.term, count(*) AS c_old
           FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
           WHERE doc_id % 2 = 0 GROUP BY 1),
         cn AS (SELECT u.term, count(*) AS c_new
           FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
           WHERE doc_id % 2 = 1 GROUP BY 1),
         j AS (SELECT coalesce(co.term, cn.term) AS term,
             coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
           FROM co FULL OUTER JOIN cn ON co.term = cn.term),
         st AS (SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
             CAST(sum(c_new) AS BIGINT) AS n_new,
             count(*) AS v FROM j)
         SELECT term, CAST(c_old AS BIGINT) AS c_old,
           CAST(c_new AS BIGINT) AS c_new,
           round(((c_new + 1.0) / (n_new + v)) *
             ln(((c_new + 1.0) / (n_new + v)) /
                ((c_old + 1.0) / (n_old + v))), 6) + 0.0 AS kl_term
         FROM j CROSS JOIN st""",
    "q143_theilsen_trend" ->
      """WITH daily AS (SELECT event_type,
             epoch(date_trunc('day', ts)) // 86400 AS day,
             count(*) AS y
           FROM events GROUP BY 1, 2),
         sl AS (SELECT a.event_type,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
               AS slope
           FROM daily a JOIN daily b ON a.event_type = b.event_type
             AND b.day > a.day)
         SELECT event_type, count(*) AS n_pairs,
           round(quantile_cont(slope, 0.5), 4) + 0.0 AS slope_med
         FROM sl GROUP BY 1""",
    "q144_benford_digits" ->
      """WITH obs AS (SELECT o_orderpriority,
             CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
               AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             count(*) AS observed
           FROM orders WHERE o_totalprice > 0 GROUP BY 1, 2),
         t AS (SELECT o_orderpriority, CAST(sum(observed) AS BIGINT) AS n
           FROM obs GROUP BY 1)
         SELECT obs.o_orderpriority, digit, observed,
           round(n * log10(1.0 + 1.0 / digit), 4) AS expected,
           round((observed - n * log10(1.0 + 1.0 / digit)) *
                 (observed - n * log10(1.0 + 1.0 / digit)) /
                 (n * log10(1.0 + 1.0 / digit)), 4) AS chi2_term
         FROM obs JOIN t ON obs.o_orderpriority = t.o_orderpriority""",
    "q145_incremental_agg" ->
      """WITH n AS (SELECT o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 103 <> 0)
         SELECT o_custkey, count(*) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
         FROM n GROUP BY 1""",
    "q146_jl_project" -> OracleGen.jlProjectSql(outDim = 16, dim = 64),
    "q147_cuped" ->
      """WITH per AS (SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP)
                 < TIMESTAMP '2024-01-15 00:00:00'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS x_cents,
             CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP)
                 >= TIMESTAMP '2024-01-15 00:00:00'
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS y_cents
           FROM events GROUP BY 1),
         m AS (SELECT count(*) AS n,
             CAST(sum(x_cents) AS BIGINT) AS sx,
             CAST(sum(y_cents) AS BIGINT) AS sy,
             CAST(sum(x_cents * x_cents) AS BIGINT) AS sxx,
             CAST(sum(x_cents * y_cents) AS BIGINT) AS sxy
           FROM per)
         SELECT user_id, x_cents, y_cents,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0 AS theta,
           round(CAST(y_cents AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE))
               * (CAST(x_cents AS DOUBLE)
                  - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 4) + 0.0
             AS y_adj
         FROM per CROSS JOIN m""",
    "q148_weighted_median" ->
      """WITH g AS (SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (SELECT l_returnflag, v,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(w) OVER (PARTITION BY l_returnflag) AS tot
           FROM g)
         SELECT l_returnflag, CAST(min(v) AS BIGINT) AS wmedian_cents
         FROM c WHERE 2 * cum >= tot GROUP BY 1""",
    "q149_knn_classify" ->
      OracleGen.knnClassifyRoutedSql(stride = 100L, nLabels = 5, k = 5,
        nCentroids = 16, nProbe = 4),
    "q150_rfm_segments" ->
      """WITH conv AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase'),
         nw AS (SELECT max(ts) AS now FROM conv),
         per AS (SELECT user_id, max(ts) AS last_ts,
             count(*) AS frequency,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
           FROM conv GROUP BY 1)
         SELECT user_id,
           (CAST(epoch(now) AS BIGINT) - CAST(epoch(last_ts) AS BIGINT))
             // 86400 AS recency_days,
           frequency, monetary_cents,
           CAST(ntile(5) OVER (ORDER BY epoch(now) - epoch(last_ts) ASC,
             user_id ASC) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
             AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, user_id ASC)
             AS BIGINT) AS m_score,
           CAST(ntile(5) OVER (ORDER BY epoch(now) - epoch(last_ts) ASC,
               user_id ASC) AS VARCHAR) ||
             CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC)
               AS VARCHAR) ||
             CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, user_id ASC)
               AS VARCHAR) AS segment
         FROM per CROSS JOIN nw""",
    "q151_markov_transitions" ->
      """WITH seq AS (SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS to_type
           FROM events),
         pr AS (SELECT from_type, to_type, count(*) AS n FROM seq
           WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM pr
           GROUP BY 1)
         SELECT pr.from_type, to_type, n, (n * 1000000) // tot AS p_micros
         FROM pr JOIN t ON pr.from_type = t.from_type""",
    "q152_gini_concentration" ->
      """WITH per AS (SELECT event_type, user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         r AS (SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY x ASC, user_id ASC) AS BIGINT) AS i
           FROM per),
         m AS (SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(i * x) AS BIGINT) AS six
           FROM r GROUP BY 1)
         SELECT event_type, n, sx AS total_cents,
           (2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS gini_micros
         FROM m""",
    "q153_daily_autocorr" ->
      """WITH daily AS (SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
             count(*) AS y
           FROM events GROUP BY 1, 2),
         l AS (SELECT event_type, day, y, u.lag
           FROM daily, UNNEST([1, 2, 3]) AS u(lag)),
         j AS (SELECT l.event_type, l.lag, l.y AS x, b.y AS y2
           FROM l JOIN daily b ON l.event_type = b.event_type
             AND l.day + l.lag = b.day),
         m AS (SELECT event_type, lag, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y2) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y2 * y2) AS BIGINT) AS syy,
             CAST(sum(x * y2) AS BIGINT) AS sxy
           FROM j GROUP BY 1, 2)
         SELECT event_type, lag, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4) + 0.0
           END AS r
         FROM m""",
    "q154_lorenz_deciles" ->
      """WITH per AS (SELECT event_type, user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         d AS (SELECT event_type, x,
             CAST(ntile(10) OVER (PARTITION BY event_type
               ORDER BY x ASC, user_id ASC) AS BIGINT) AS decile
           FROM per),
         g AS (SELECT event_type, decile, count(*) AS n_entities,
             CAST(sum(x) AS BIGINT) AS decile_cents
           FROM d GROUP BY 1, 2),
         c AS (SELECT event_type, decile, n_entities, decile_cents,
             CAST(sum(decile_cents) OVER (PARTITION BY event_type
               ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_cents,
             CAST(sum(decile_cents) OVER (PARTITION BY event_type)
               AS BIGINT) AS total_cents
           FROM g)
         SELECT event_type, decile, n_entities, decile_cents,
           cum_cents * 1000000 // total_cents AS cum_share_micros
         FROM c""",
    "q155_chi2_independence" ->
      """WITH cells AS (SELECT o_orderpriority, o_orderstatus,
             count(*) AS observed
           FROM orders WHERE o_orderpriority IS NOT NULL
             AND o_orderstatus IS NOT NULL GROUP BY 1, 2),
         rt AS (SELECT o_orderpriority,
             CAST(sum(observed) AS BIGINT) AS row_tot
           FROM cells GROUP BY 1),
         ct AS (SELECT o_orderstatus,
             CAST(sum(observed) AS BIGINT) AS col_tot
           FROM cells GROUP BY 1),
         nn AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells)
         SELECT cells.o_orderpriority, cells.o_orderstatus, observed,
           round(CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE), 4)
             AS expected,
           round((observed - CAST(row_tot * col_tot AS DOUBLE)
               / CAST(n AS DOUBLE))
             * (observed - CAST(row_tot * col_tot AS DOUBLE)
               / CAST(n AS DOUBLE))
             / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE)), 4)
             AS chi2_term
         FROM cells
         JOIN rt ON cells.o_orderpriority = rt.o_orderpriority
         JOIN ct ON cells.o_orderstatus = ct.o_orderstatus
         CROSS JOIN nn""",
    "q156_sliding_span_dedup" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         w0 AS (SELECT doc_id, t,
             unnest(range(0, greatest(len(t) - 1, 0) + 1, 4)) AS pos
           FROM base),
         w AS (SELECT doc_id, CAST(pos AS BIGINT) AS st,
             array_to_string(t[pos + 1 : pos + 10], ' ') AS wtext
           FROM w0),
         k AS (SELECT doc_id, st FROM
             (SELECT doc_id, st,
                row_number() OVER (PARTITION BY wtext
                  ORDER BY doc_id, st) AS rn FROM w)
           WHERE rn = 1),
         kc AS (SELECT doc_id, count(*) AS n_kept FROM k GROUP BY doc_id),
         totals AS (SELECT doc_id, count(*) AS n_windows
           FROM w GROUP BY doc_id),
         words AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS i, t[i] AS word
           FROM base, unnest(range(1, len(t) + 1)) u(i)),
         cw AS (SELECT wo.doc_id, wo.i, wo.word FROM words wo
           WHERE EXISTS (SELECT 1 FROM k
             WHERE k.doc_id = wo.doc_id AND k.st <= wo.i
               AND wo.i < k.st + 10)),
         reb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY i)
             AS clean_text
           FROM cw GROUP BY doc_id)
         SELECT totals.doc_id, n_windows,
           coalesce(n_kept, 0) AS n_kept,
           coalesce(clean_text, '') AS clean_text
         FROM totals LEFT JOIN kc USING (doc_id)
         LEFT JOIN reb USING (doc_id)""",
    "q157_interval_join" ->
      """WITH l AS (SELECT user_id, event_id AS left_id, ts AS left_ts
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, event_id AS right_id, ts AS right_ts
           FROM events WHERE event_type = 'purchase')
         SELECT l.user_id, left_id, right_id, left_ts, right_ts
         FROM l JOIN r ON r.user_id = l.user_id
           AND right_ts > left_ts
           AND right_ts <= left_ts + INTERVAL 3600 SECOND""",
    "q128_quality_constraints" ->
      """SELECT 'l_shipdate_notnull' AS check_name,
           CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS violations,
           count(*) AS total,
           sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0 AS pass
         FROM lineitem
         UNION ALL
         SELECT 'l_quantity_range',
           CAST(sum(CASE WHEN NOT coalesce(l_quantity >= 1
               AND l_quantity <= 50, false) THEN 1 ELSE 0 END) AS BIGINT),
           count(*),
           sum(CASE WHEN NOT coalesce(l_quantity >= 1
               AND l_quantity <= 50, false) THEN 1 ELSE 0 END) = 0
         FROM lineitem
         UNION ALL
         SELECT 'l_discount_range',
           CAST(sum(CASE WHEN NOT coalesce(l_discount >= 0.0
               AND l_discount <= 0.1, false) THEN 1 ELSE 0 END) AS BIGINT),
           count(*),
           sum(CASE WHEN NOT coalesce(l_discount >= 0.0
               AND l_discount <= 0.1, false) THEN 1 ELSE 0 END) = 0
         FROM lineitem
         UNION ALL
         SELECT 'price_positive',
           CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, false)
             THEN 1 ELSE 0 END) AS BIGINT),
           count(*),
           sum(CASE WHEN NOT coalesce(l_extendedprice > 0, false)
             THEN 1 ELSE 0 END) = 0
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_pk', CAST(sum(n - 1) AS BIGINT),
           CAST(sum(n) AS BIGINT), sum(n - 1) = 0
         FROM (SELECT count(*) AS n FROM lineitem
               GROUP BY l_orderkey, l_linenumber)
         UNION ALL
         SELECT 'orderkey_fk',
           (SELECT count(*) FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL),
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) = 0""",
    "q126_last_touch_attribution" ->
      """WITH f AS (SELECT user_id, event_id, ts, event_type FROM events
           WHERE event_type IN ('click', 'purchase')),
         a AS (SELECT user_id, event_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
               IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_id
           FROM f)
         SELECT user_id, event_id AS conv_id, touch_id FROM a
         WHERE event_type = 'purchase'""",
    "q110_personalized_pagerank" ->
      OracleGen.pageRankSql(iters = 5, seedSql = Some("node % 10 = 0")),
    "q111_scd2_history" ->
      """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS attr
         FROM events),
         nn AS (SELECT * FROM ev WHERE attr IS NOT NULL),
         ch AS (SELECT user_id, ts, event_id, attr,
             lag(attr) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS prev
           FROM nn),
         c2 AS (SELECT user_id, ts, event_id, attr FROM ch
           WHERE prev IS NULL OR prev <> attr)
         SELECT user_id, attr, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
         FROM c2 WINDOW w AS (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC)""",
    "q112_neyman_allocation" ->
      """WITH m AS (SELECT lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS s1,
           CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
         FROM documents GROUP BY 1),
         w AS (SELECT lang, n,
           CAST(floor(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS w
           FROM m),
         t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w)
         SELECT lang, n, w,
           CASE WHEN tw = 0 THEN 0
                ELSE least(n, (1000 * w) // tw) END AS alloc
         FROM w CROSS JOIN t""",
    "q114_triangle_counts" -> OracleGen.triangleCountsSql,
    "q169_coreness" -> OracleGen.corenessSql(iters = 8),
    // q309: mirrors Similarity.ivfOperatingCurve — one max-probe
    // assignment with ranks, pmin pair relation, VALUES sweep, brute
    // truth, exact micros recall.
    "q309_ivf_operating_curve" -> OracleGen.ivfOperatingCurveSql(
      k = 5, nCentroids = 16, probes = Seq(1, 2, 4, 8),
      queryStride = 100),
    // q306: mirrors Graph.wlColors — same transition-graph CTEs,
    // 3 unrolled WL rounds of sorted-multiset md5 refinement.
    "q306_wl_colors" -> OracleGen.wlColorsSql(iters = 3),
    "q170_mmr_rerank" -> OracleGen.mmrSql(candK = 20, k = 5, stride = 100),
    "q172_bpe_train" -> OracleGen.bpeSql(merges = 6),
    "q171_cusum_drift" ->
      s"""WITH ${OracleGen.dailyCte("g")},
         start AS (SELECT g, MIN(day) AS d0 FROM daily GROUP BY 1),
         tgt AS (SELECT d.g,
             CAST(SUM(d.y) * 1000000 AS BIGINT) // COUNT(*) AS target
           FROM daily d JOIN start s ON s.g = d.g
           WHERE d.day < s.d0 + 7 GROUP BY 1),
         mon AS (SELECT d.g, d.day, d.y,
             d.y * 1000000 - t.target AS dd
           FROM daily d JOIN start s ON s.g = d.g JOIN tgt t ON t.g = d.g
           WHERE d.day >= s.d0 + 7),
         cum AS (SELECT g, day, y,
             CAST(SUM(dd) OVER (PARTITION BY g ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
           FROM mon),
         res AS (SELECT g, day, y,
             c - LEAST(MIN(c) OVER (PARTITION BY g ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0) AS cusum_micros
           FROM cum)
         SELECT g, day, y, cusum_micros,
           cusum_micros > 5000000 AS alarm FROM res""",
    "q118_random_walks" -> OracleGen.randomWalksSql(steps = 3),
    "q122_hits" -> OracleGen.hitsSql(iters = 2),
    "q173_average_precision" ->
      OracleGen.averagePrecisionSql(nBits = 16, dim = 64, k = 5,
        stride = 100),
    "q175_calibration_card" ->
      """WITH base AS (SELECT doc_id AS id, source AS f0,
             n_chars // 100 AS f1, (lang = 'en') AS y FROM documents),
         rates AS (SELECT f0, f1,
             (1000000 * CAST(sum(CASE WHEN y THEN 1 ELSE 0 END)
               AS BIGINT)) // CAST(count(*) AS BIGINT) AS pred
           FROM base WHERE id % 3 = 0 GROUP BY 1, 2),
         ev AS (SELECT b.y, rates.pred FROM base b
           LEFT JOIN rates ON rates.f0 = b.f0 AND rates.f1 = b.f1
           WHERE b.id % 3 <> 0),
         bb AS (SELECT CASE WHEN pred IS NULL THEN -1
             ELSE least(9, (pred * 10) // 1000000) END AS bin, y, pred
           FROM ev),
         agg AS (SELECT CAST(bin AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pred) AS BIGINT) AS pw,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
           FROM bb GROUP BY 1)
         SELECT bin, n, pw // n AS mean_pred_micros,
           (1000000 * pos) // n AS obs_rate_micros,
           pw // n - (1000000 * pos) // n AS gap_micros,
           abs(pw // n - (1000000 * pos) // n) * n AS ece_num
         FROM agg""",
    "q176_link_prediction" ->
      OracleGen.linkPredictionSql(minCommon = 2L, maxCenterDeg = 128L),
    "q177_assortativity" -> OracleGen.assortativitySql,
    "q178_readability" ->
      """WITH b AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT)
               + CAST(len(list_filter(string_split(lower(text), ' '),
                   w -> NOT regexp_matches(w, '[aeiouy]'))) AS BIGINT)
               AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           206835000 - (1015000 * n_words) // n_sentences
             - (84600000 * n_syllables) // n_words AS flesch_micros
         FROM b""",
    "q179_group_checksum" ->
      """WITH h AS (SELECT l_returnflag,
             CAST(('0x' || substring(md5(
               coalesce(CAST(l_orderkey AS VARCHAR), chr(1)) || '|' ||
               coalesce(CAST(l_partkey AS VARCHAR), chr(1)) || '|' ||
               coalesce(CAST(l_suppkey AS VARCHAR), chr(1)) || '|' ||
               coalesce(CAST(l_linenumber AS VARCHAR), chr(1)) || '|' ||
               coalesce(l_returnflag, chr(1)) || '|' ||
               coalesce(l_linestatus, chr(1))), 1, 15)) AS BIGINT)
               AS h
           FROM lineitem)
         SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(h) AS xor_sig,
           CAST(sum(h % 1000000007) AS BIGINT) AS sum_sig
         FROM h GROUP BY 1""",
    "q180_pareto_frontier" ->
      """WITH li AS (SELECT l_returnflag, l_orderkey,
             CAST(l_linenumber AS BIGINT) AS l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(round(l_quantity) AS BIGINT) AS qty
           FROM lineitem),
         w AS (SELECT *,
             max(qty) OVER (PARTITION BY l_returnflag
               ORDER BY price_cents ASC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS mprev,
             max(qty) OVER (PARTITION BY l_returnflag, price_cents)
               AS meq
           FROM li)
         SELECT l_returnflag, l_orderkey, l_linenumber, price_cents, qty
         FROM w WHERE (mprev IS NULL OR mprev < qty) AND meq = qty""",
    "q181_seasonal_decompose" ->
      s"""WITH $seasonalCtes
         SELECT t3.g AS event_type, t3.day, t3.dow, t3.y,
           t3.trend_micros, s2.seasonal_micros,
           t3.detr - s2.seasonal_micros AS resid_micros
         FROM t3 LEFT JOIN s2 ON s2.g = t3.g AND s2.dow = t3.dow""",
    "q182_decayed_engagement" -> OracleGen.decayedEngagementSql,
    "q183_isotonic_calibration" ->
      """WITH per AS (SELECT n_chars // 50 AS b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos
           FROM documents GROUP BY 1),
         cum AS (SELECT b, n, pos,
             CAST(sum(n) OVER (ORDER BY b) AS BIGINT) AS cn,
             CAST(sum(pos) OVER (ORDER BY b) AS BIGINT) AS cp FROM per),
         ivals AS (SELECT l.b AS j, h.b AS k,
             (1000000 * (h.cp - (l.cp - l.pos)))
               // (h.cn - (l.cn - l.n)) AS am
           FROM cum l JOIN cum h ON l.b <= h.b),
         mm AS (SELECT c.b AS i, v.j, min(v.am) AS mn
           FROM cum c JOIN ivals v ON v.j <= c.b AND c.b <= v.k
           GROUP BY 1, 2),
         fit AS (SELECT i, max(mn) AS fit_micros FROM mm GROUP BY 1)
         SELECT c.b, c.n, c.pos, (1000000 * c.pos) // c.n AS raw_micros,
           f.fit_micros
         FROM cum c JOIN fit f ON f.i = c.b""",
    "q184_spearman_rank" ->
      """WITH base AS (SELECT l_returnflag AS grp, l_quantity AS x,
             l_extendedprice AS y FROM lineitem),
         sizes AS (SELECT grp, CAST(count(*) AS BIGINT) AS n FROM base
           GROUP BY 1),
         cx AS (SELECT grp, x, CAST(count(*) AS BIGINT) AS cnt FROM base
           GROUP BY 1, 2),
         rx AS (SELECT grp, x, 2 * coalesce(sum(cnt) OVER (PARTITION BY grp
               ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) + cnt + 1 AS rxv FROM cx),
         cy AS (SELECT grp, y, CAST(count(*) AS BIGINT) AS cnt FROM base
           GROUP BY 1, 2),
         ry AS (SELECT grp, y, 2 * coalesce(sum(cnt) OVER (PARTITION BY grp
               ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) + cnt + 1 AS ryv FROM cy),
         j AS (SELECT b.grp, s.n, rx.rxv - (s.n + 1) AS dx,
             ry.ryv - (s.n + 1) AS dy
           FROM base b JOIN rx ON rx.grp = b.grp AND rx.x = b.x
             JOIN ry ON ry.grp = b.grp AND ry.y = b.y
             JOIN sizes s ON s.grp = b.grp),
         m AS (SELECT grp, max(n) AS n,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy FROM j GROUP BY 1)
         SELECT grp, n, CASE WHEN sxx > 0 AND syy > 0
             THEN round(CAST(sxy AS DOUBLE) / (sqrt(CAST(sxx AS DOUBLE))
               * sqrt(CAST(syy AS DOUBLE))), 4) + 0.0 END AS rho
         FROM m""",
    "q185_bpe_encode" -> OracleGen.bpeEncodeSql(merges = 6),
    "q186_cdc_chunks" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents),
         w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, t[pos + 1] AS word,
             t FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos
               FROM base)),
         b AS (SELECT doc_id, pos, word,
             CASE WHEN pos >= 3 AND
                 CAST(('0x' || substring(md5(
                     array_to_string(t[pos - 2 : pos + 1], ' ')), 1, 15))
                   AS BIGINT) % 16 = 0
               THEN 1 ELSE 0 END AS boundary FROM w),
         c AS (SELECT doc_id, pos, word,
             coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id FROM b),
         ch AS (SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_words,
             string_agg(word, ' ' ORDER BY pos) AS chunk_text
           FROM c GROUP BY 1, 2)
         SELECT md5(chunk_text) AS fp, max(n_words) AS n_words,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM ch GROUP BY 1 HAVING count(*) >= 2""",
    "q187_scc" ->
      """WITH RECURSIVE
         ev AS (SELECT user_id, event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events),
         tr AS (SELECT lag(k) OVER (PARTITION BY user_id
               ORDER BY event_id ASC) AS src, k AS dst
           FROM ev WHERE k IS NOT NULL),
         edges AS (SELECT src, dst FROM tr
           WHERE src IS NOT NULL AND src <> dst
             AND (src * 31 + dst) % 5 < 1 GROUP BY 1, 2),
         nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
         reach AS (
           SELECT n AS a, n AS b FROM nodes
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         -- SCC id = min node mutually reachable with a (self included
         -- via the reflexive base rows)
         s AS (SELECT r1.a AS node, min(r1.b) AS scc_id
           FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
           GROUP BY 1)
         SELECT node, scc_id FROM s""",
    "q188_stratified_ate" ->
      """WITH cells AS (SELECT event_type AS stratum,
             (user_id % 2 = 1) AS treated,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cs
           FROM events GROUP BY 1, 2),
         per AS (SELECT stratum,
             max(CASE WHEN treated THEN cn END) AS n_t,
             max(CASE WHEN NOT treated THEN cn END) AS n_c,
             max(CASE WHEN treated THEN cs END) AS s_t,
             max(CASE WHEN NOT treated THEN cs END) AS s_c
           FROM cells GROUP BY 1),
         p3 AS (SELECT stratum,
             coalesce(n_t, 0) + coalesce(n_c, 0) AS n, n_t, n_c,
             (1000000 * s_t) // n_t AS mt_micros,
             (1000000 * s_c) // n_c AS mc_micros,
             (1000000 * s_t) // n_t - (1000000 * s_c) // n_c
               AS effect_micros
           FROM per)
         SELECT stratum, n, n_t, n_c, mt_micros, mc_micros, effect_micros
         FROM p3
         UNION ALL
         SELECT CAST(NULL AS VARCHAR), CAST(sum(n) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(sign(sum(n * effect_micros)) AS BIGINT)
             * CAST(abs(sum(n * effect_micros))
                 // CAST(sum(n) AS BIGINT) AS BIGINT)
         FROM p3 WHERE effect_micros IS NOT NULL""",
    // q312: mirrors Events.commonSupport — q188's cells with the
    // treatment-encoding stratum, micros balance ratio, 0.1 band,
    // pooled ATE twice (all vs supported strata).
    "q312_common_support" ->
      """WITH cells AS (SELECT CASE WHEN event_type = 'purchase'
             THEN 'purchase_' || CAST(user_id % 2 AS VARCHAR)
             ELSE event_type END AS stratum,
             (user_id % 2 = 1) AS treated,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cs
           FROM events GROUP BY 1, 2),
         per AS (SELECT stratum,
             max(CASE WHEN treated THEN cn END) AS n_t,
             max(CASE WHEN NOT treated THEN cn END) AS n_c,
             max(CASE WHEN treated THEN cs END) AS s_t,
             max(CASE WHEN NOT treated THEN cs END) AS s_c
           FROM cells GROUP BY 1),
         p3 AS (SELECT stratum,
             coalesce(n_t, 0) + coalesce(n_c, 0) AS n, n_t, n_c,
             CASE WHEN n_t IS NOT NULL AND n_c IS NOT NULL
               THEN (1000000 * least(n_t, n_c)) // greatest(n_t, n_c)
               END AS ratio_micros,
             (1000000 * s_t) // n_t - (1000000 * s_c) // n_c
               AS effect_micros
           FROM per),
         p4 AS (SELECT *,
             COALESCE(ratio_micros >= 100000, false) AS in_support
           FROM p3)
         SELECT 'stratum' AS scope, stratum, n, n_t, n_c,
           ratio_micros, effect_micros, in_support
         FROM p4
         UNION ALL
         SELECT 'ate_all', CAST(NULL AS VARCHAR),
           CAST(sum(n) AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(sign(sum(n * effect_micros)) AS BIGINT)
             * CAST(abs(sum(n * effect_micros))
                 // CAST(sum(n) AS BIGINT) AS BIGINT),
           CAST(NULL AS BOOLEAN)
         FROM p4 WHERE effect_micros IS NOT NULL
         UNION ALL
         SELECT 'ate_supported', CAST(NULL AS VARCHAR),
           CAST(sum(n) AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(sign(sum(n * effect_micros)) AS BIGINT)
             * CAST(abs(sum(n * effect_micros))
                 // CAST(sum(n) AS BIGINT) AS BIGINT),
           CAST(NULL AS BOOLEAN)
         FROM p4 WHERE effect_micros IS NOT NULL AND in_support""",
    "q189_blocking_quality" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s FROM part
           WHERE p_partkey % 10 = 0),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM p),
         t AS (SELECT a.id AS id_a, b.id AS id_b
           FROM p a JOIN p b ON a.id < b.id
           WHERE levenshtein(a.s, b.s) <= 2),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM t),
         c1 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM p a JOIN p b ON a.id < b.id
             AND length(a.s) // 4 = length(b.s) // 4),
         c2 AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM p a JOIN p b ON a.id < b.id
             AND string_split(a.s, ' ')[1] = string_split(b.s, ' ')[1]),
         card AS (
           SELECT 'len4' AS scheme,
             (SELECT CAST(count(*) AS BIGINT) FROM c1) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM c1 JOIN t
               USING (id_a, id_b)) AS n_found
           UNION ALL
           SELECT 'first_token',
             (SELECT CAST(count(*) AS BIGINT) FROM c2),
             (SELECT CAST(count(*) AS BIGINT) FROM c2 JOIN t
               USING (id_a, id_b)))
         SELECT scheme, n_records,
           (n_records * (n_records - 1)) // 2 AS n_all_pairs,
           n_cand, n_truth, n_found,
           CASE WHEN n_records >= 2 THEN 1000000 - (1000000 * n_cand)
             // ((n_records * (n_records - 1)) // 2) END
             AS reduction_ratio_micros,
           CASE WHEN n_truth > 0 THEN (1000000 * n_found) // n_truth END
             AS pairs_completeness_micros,
           CASE WHEN n_cand > 0 THEN (1000000 * n_found) // n_cand END
             AS pair_quality_micros
         FROM card, n, nt""",
    "q190_margin_mining" ->
      OracleGen.marginMiningRoutedSql(k = 4, thresholdMicros = 1000000L,
        nCentroids = 16, nProbe = 4),
    "q191_conformal_card" ->
      """WITH b AS (SELECT event_type AS grp, event_id AS id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 3 AS slot
           FROM events),
         tr AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_train,
             (1000000 * CAST(sum(cents) AS BIGINT))
               // CAST(count(*) AS BIGINT) AS pred_micros
           FROM b WHERE slot = 0 GROUP BY 1),
         ca AS (SELECT b.grp, b.id,
             abs(1000000 * b.cents - t.pred_micros) AS score
           FROM b JOIN tr t ON t.grp = b.grp WHERE b.slot = 1),
         rk AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_cal,
             ((CAST(count(*) AS BIGINT) + 1) * 9 + 9) // 10 AS r
           FROM ca GROUP BY 1),
         qh AS (SELECT c.grp, rk.n_cal, c.score AS qhat
           FROM (SELECT grp, score, row_number() OVER (PARTITION BY grp
               ORDER BY score ASC, id ASC) AS rn FROM ca) c
           JOIN rk ON rk.grp = c.grp AND c.rn = rk.r)
         SELECT b.grp, max(t.n_train) AS n_train, max(q.n_cal) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_eval,
           max(t.pred_micros) AS pred_micros, max(q.qhat) AS qhat,
           (1000000 * CAST(sum(CASE WHEN
               abs(1000000 * b.cents - t.pred_micros) <= q.qhat
             THEN 1 ELSE 0 END) AS BIGINT))
             // CAST(count(*) AS BIGINT) AS coverage_micros
         FROM b JOIN tr t ON t.grp = b.grp JOIN qh q ON q.grp = b.grp
         WHERE b.slot = 2 GROUP BY 1""",
    "q192_kcenter_coreset" -> OracleGen.kCenterSql(k = 8, dim = 64),
    "q193_textrank" -> OracleGen.textRankSql(iters = 3, minLen = 3),
    "q194_gini_stump" ->
      """WITH raw AS (SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
             END AS y, l_quantity, l_discount, l_extendedprice
           FROM lineitem),
         f AS (SELECT 'l_quantity' AS feature,
             CAST(l_quantity AS DOUBLE) AS x, y FROM raw
           UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE), y
           FROM raw
           UNION ALL SELECT 'l_extendedprice',
             CAST(l_extendedprice AS DOUBLE), y FROM raw),
         g AS (SELECT feature, x, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS pos
           FROM f GROUP BY 1, 2),
         c AS (SELECT feature, x,
             CAST(sum(cnt) OVER wc AS BIGINT) AS cn,
             CAST(sum(pos) OVER wc AS BIGINT) AS cp,
             CAST(sum(cnt) OVER wa AS BIGINT) AS n,
             CAST(sum(pos) OVER wa AS BIGINT) AS p
           FROM g
           WINDOW wc AS (PARTITION BY feature ORDER BY x ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wa AS (PARTITION BY feature)),
         s AS (SELECT feature, x, cn AS n_left, cp AS pos_left,
             CAST((1000000 * CAST(cp AS HUGEINT) * (cn - cp)) // cn
               AS BIGINT)
               + CAST((1000000 * CAST(p - cp AS HUGEINT)
                 * ((n - cn) - (p - cp))) // (n - cn) AS BIGINT)
               AS score_micros
           FROM c WHERE cn < n)
         SELECT feature, x AS threshold, n_left, pos_left, score_micros
         FROM (SELECT *, row_number() OVER (PARTITION BY feature
             ORDER BY score_micros ASC, x ASC) AS rn FROM s)
         WHERE rn = 1""",
    "q195_replay_eval" ->
      """WITH b AS (SELECT event_type AS arm, user_id % 4 AS ctx,
             event_id AS id, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 AS slot
           FROM events),
         cells AS (SELECT ctx, arm,
             (1000000 * CAST(sum(cents) AS BIGINT))
               // CAST(count(*) AS BIGINT) AS m
           FROM b WHERE slot = 0 GROUP BY 1, 2),
         best AS (SELECT ctx, max(m) AS m FROM cells GROUP BY 1),
         policy AS (SELECT c.ctx, min(c.arm) AS arm
           FROM cells c JOIN best USING (ctx, m) GROUP BY 1),
         ev AS (SELECT ctx, CAST(count(*) AS BIGINT) AS n_eval FROM b
           WHERE slot = 1 GROUP BY 1)
         SELECT b.ctx, b.arm, ev.n_eval,
           CAST(count(*) AS BIGINT) AS n_matched,
           (1000000 * CAST(sum(b.cents) AS BIGINT))
             // CAST(count(*) AS BIGINT) AS reward_micros,
           (1000000 * CAST(count(*) AS BIGINT)) // ev.n_eval
             AS match_rate_micros
         FROM b JOIN policy p ON p.ctx = b.ctx AND p.arm = b.arm
           JOIN ev ON ev.ctx = b.ctx
         WHERE b.slot = 1 GROUP BY 1, 2, 3""",
    "q196_neighborhood_fn" ->
      """WITH ev AS (SELECT user_id, event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events),
         tr AS (SELECT lag(k) OVER (PARTITION BY user_id
               ORDER BY event_id ASC) AS src, k AS dst
           FROM ev WHERE k IS NOT NULL),
         edges AS (SELECT src, dst FROM tr
           WHERE src IS NOT NULL AND src <> dst
             AND (src * 31 + dst) % 5 < 1 GROUP BY 1, 2),
         nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
         r0 AS MATERIALIZED (SELECT n AS a, n AS b FROM nodes),
         r1 AS MATERIALIZED (SELECT a, b FROM r0 UNION
           SELECT r.a, e.dst FROM r0 r JOIN edges e ON e.src = r.b),
         r2 AS MATERIALIZED (SELECT a, b FROM r1 UNION
           SELECT r.a, e.dst FROM r1 r JOIN edges e ON e.src = r.b),
         r3 AS MATERIALIZED (SELECT a, b FROM r2 UNION
           SELECT r.a, e.dst FROM r2 r JOIN edges e ON e.src = r.b),
         r4 AS MATERIALIZED (SELECT a, b FROM r3 UNION
           SELECT r.a, e.dst FROM r3 r JOIN edges e ON e.src = r.b)
         SELECT CAST(0 AS BIGINT) AS h,
           CAST((SELECT count(*) FROM r0) AS BIGINT) AS n_pairs
         UNION ALL SELECT 1, CAST((SELECT count(*) FROM r1) AS BIGINT)
         UNION ALL SELECT 2, CAST((SELECT count(*) FROM r2) AS BIGINT)
         UNION ALL SELECT 3, CAST((SELECT count(*) FROM r3) AS BIGINT)
         UNION ALL SELECT 4, CAST((SELECT count(*) FROM r4) AS BIGINT)""",
    "q197_binseg_changepoint" ->
      s"""WITH ${OracleGen.dailyCte("grp")},
         c AS (SELECT grp, day,
             CAST(count(*) OVER wc AS BIGINT) AS nl,
             CAST(sum(y) OVER wc AS BIGINT) AS sl,
             CAST(count(*) OVER wa AS BIGINT) AS n,
             CAST(sum(y) OVER wa AS BIGINT) AS stot
           FROM daily
           WINDOW wc AS (PARTITION BY grp ORDER BY day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wa AS (PARTITION BY grp)),
         s AS (SELECT grp, day, nl, n - nl AS nr, sl, stot - sl AS sr, n,
             CAST((1000000 * (CAST(sl AS HUGEINT) * (n - nl)
                 - CAST(stot - sl AS HUGEINT) * nl)
               * (CAST(sl AS HUGEINT) * (n - nl)
                 - CAST(stot - sl AS HUGEINT) * nl))
               // (CAST(nl AS HUGEINT) * (n - nl) * n) AS BIGINT)
               AS gain_micros
           FROM c WHERE nl < n)
         SELECT grp, day AS split_day, nl AS n_left, nr AS n_right,
           CAST((1000000 * CAST(sl AS HUGEINT)) // nl AS BIGINT)
             AS mean_left_micros,
           CAST((1000000 * CAST(sr AS HUGEINT)) // nr AS BIGINT)
             AS mean_right_micros, gain_micros
         FROM (SELECT *, row_number() OVER (PARTITION BY grp
             ORDER BY gain_micros DESC, day ASC) AS rn FROM s)
         WHERE rn = 1""",
    "q198_two_proportion" ->
      """WITH cells AS (SELECT event_type AS grp,
             (user_id % 2 = 1) AS treated,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         per AS (SELECT grp,
             max(CASE WHEN treated THEN n END) AS n_t,
             max(CASE WHEN treated THEN x END) AS x_t,
             max(CASE WHEN NOT treated THEN n END) AS n_c,
             max(CASE WHEN NOT treated THEN x END) AS x_c
           FROM cells GROUP BY 1),
         b1 AS (SELECT grp, n_t, x_t, n_c, x_c,
             CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS pt,
             CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS pc
           FROM per),
         b2 AS (SELECT *,
             (pt + (1.96 * 1.96) / (2.0 * CAST(n_t AS DOUBLE))
               + (-1.96) * sqrt(pt * (1.0 - pt) / CAST(n_t AS DOUBLE)
                 + (1.96 * 1.96) / (4.0 * CAST(n_t AS DOUBLE)
                   * CAST(n_t AS DOUBLE))))
               / (1.0 + (1.96 * 1.96) / CAST(n_t AS DOUBLE)) AS lt,
             (pt + (1.96 * 1.96) / (2.0 * CAST(n_t AS DOUBLE))
               + 1.96 * sqrt(pt * (1.0 - pt) / CAST(n_t AS DOUBLE)
                 + (1.96 * 1.96) / (4.0 * CAST(n_t AS DOUBLE)
                   * CAST(n_t AS DOUBLE))))
               / (1.0 + (1.96 * 1.96) / CAST(n_t AS DOUBLE)) AS ut,
             (pc + (1.96 * 1.96) / (2.0 * CAST(n_c AS DOUBLE))
               + (-1.96) * sqrt(pc * (1.0 - pc) / CAST(n_c AS DOUBLE)
                 + (1.96 * 1.96) / (4.0 * CAST(n_c AS DOUBLE)
                   * CAST(n_c AS DOUBLE))))
               / (1.0 + (1.96 * 1.96) / CAST(n_c AS DOUBLE)) AS lc,
             (pc + (1.96 * 1.96) / (2.0 * CAST(n_c AS DOUBLE))
               + 1.96 * sqrt(pc * (1.0 - pc) / CAST(n_c AS DOUBLE)
                 + (1.96 * 1.96) / (4.0 * CAST(n_c AS DOUBLE)
                   * CAST(n_c AS DOUBLE))))
               / (1.0 + (1.96 * 1.96) / CAST(n_c AS DOUBLE)) AS uc
           FROM b1)
         SELECT grp, n_t, x_t, n_c, x_c,
           round(pt, 6) + 0.0 AS rate_t, round(pc, 6) + 0.0 AS rate_c,
           round(pt - pc, 6) + 0.0 AS diff,
           round(lt, 6) + 0.0 AS lo_t, round(ut, 6) + 0.0 AS hi_t,
           round(lc, 6) + 0.0 AS lo_c, round(uc, 6) + 0.0 AS hi_c,
           round(pt - pc - sqrt((pt - lt) * (pt - lt)
             + (uc - pc) * (uc - pc)), 6) + 0.0 AS diff_lo,
           round(pt - pc + sqrt((ut - pt) * (ut - pt)
             + (pc - lc) * (pc - lc)), 6) + 0.0 AS diff_hi
         FROM b2""",
    "q199_forecast_backtest" ->
      s"""WITH ${OracleGen.dailyCte("grp")},
         n1 AS (SELECT a.grp, CAST(count(*) AS BIGINT) AS n_naive,
             (1000000 * CAST(sum(abs(a.y - b.y)) AS BIGINT))
               // CAST(count(*) AS BIGINT) AS mae_naive_micros,
             CAST(sum((1000000 * abs(a.y - b.y)) // a.y) AS BIGINT)
               // CAST(count(*) AS BIGINT) AS mape_naive_micros
           FROM daily a JOIN daily b
             ON a.grp = b.grp AND a.day = b.day + 1 GROUP BY 1),
         s7 AS (SELECT a.grp, CAST(count(*) AS BIGINT) AS n_snaive,
             (1000000 * CAST(sum(abs(a.y - b.y)) AS BIGINT))
               // CAST(count(*) AS BIGINT) AS mae_snaive_micros,
             CAST(sum((1000000 * abs(a.y - b.y)) // a.y) AS BIGINT)
               // CAST(count(*) AS BIGINT) AS mape_snaive_micros
           FROM daily a JOIN daily b
             ON a.grp = b.grp AND a.day = b.day + 7 GROUP BY 1)
         SELECT grp, n_naive, mae_naive_micros, mape_naive_micros,
           n_snaive, mae_snaive_micros, mape_snaive_micros
         FROM n1 JOIN s7 USING (grp)""",
    "q200_integrity_audit" ->
      """WITH a1 AS (SELECT 'lineitem_orders' AS rel,
             CAST(count(*) AS BIGINT) AS n_child,
             CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_key,
             CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
                 AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_orphan,
             CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL THEN 1 ELSE 0
               END) AS BIGINT) AS n_keyed
           FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey
             FROM orders) o ON o.o_orderkey = l.l_orderkey),
         a2 AS (SELECT 'orders_customer',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN c.o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(sum(CASE WHEN c.o_custkey IS NOT NULL
                 AND p.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN c.o_custkey IS NOT NULL THEN 1 ELSE 0
               END) AS BIGINT)
           FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey
             FROM customer) p ON p.c_custkey = c.o_custkey),
         a3 AS (SELECT 'lineitem_part',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(sum(CASE WHEN l.l_partkey IS NOT NULL
                 AND p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN l.l_partkey IS NOT NULL THEN 1 ELSE 0
               END) AS BIGINT)
           FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey
             FROM part) p ON p.p_partkey = l.l_partkey),
         a4 AS (SELECT 'customer_nation',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(sum(CASE WHEN c.c_nationkey IS NOT NULL
                 AND n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN c.c_nationkey IS NOT NULL THEN 1 ELSE 0
               END) AS BIGINT)
           FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey
             FROM nation) n ON n.n_nationkey = c.c_nationkey),
         u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
           UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4)
         SELECT rel, n_child, n_null_key, n_orphan,
           CASE WHEN n_keyed > 0 THEN (1000000 * n_orphan) // n_keyed END
             AS orphan_rate_micros
         FROM u""",
    "q201_mahalanobis_outliers" ->
      """WITH base AS (SELECT l_returnflag AS grp,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
           FROM lineitem),
         wid AS (SELECT grp, x, y,
             CAST(('0x' || substring(md5(grp || '#'
                 || CAST(x AS VARCHAR) || '#' || CAST(y AS VARCHAR)),
               1, 15)) AS BIGINT) AS id
           FROM base),
         m AS (SELECT grp, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(y * y) AS HUGEINT) AS syy,
             CAST(sum(x * y) AS HUGEINT) AS sxy
           FROM base GROUP BY 1),
         mm AS (SELECT grp, n, sx, sy,
             n * sxx - sx * sx AS a, n * syy - sy * sy AS b,
             n * sxy - sx * sy AS c
           FROM m),
         mg AS (SELECT * FROM mm WHERE a * b - c * c > 0),
         sc AS (SELECT w.grp, w.id, w.x, w.y,
             round((ud * ud * bd - 2.0 * ud * vd * cd + vd * vd * ad)
               / (ad * bd - cd * cd), 6) + 0.0 AS d2
           FROM (SELECT w.grp, w.id, w.x, w.y,
               CAST(g.n * CAST(w.x AS HUGEINT) - g.sx AS DOUBLE) AS ud,
               CAST(g.n * CAST(w.y AS HUGEINT) - g.sy AS DOUBLE) AS vd,
               CAST(g.a AS DOUBLE) AS ad, CAST(g.b AS DOUBLE) AS bd,
               CAST(g.c AS DOUBLE) AS cd
             FROM wid w JOIN mg g ON g.grp = w.grp) w)
         SELECT grp, id, x, y, d2 AS d2_score
         FROM (SELECT *, row_number() OVER (PARTITION BY grp
             ORDER BY d2 DESC, id ASC) AS rn FROM sc)
         WHERE rn <= 5""",
    "q202_interval_concurrency" ->
      """WITH ts0 AS (SELECT event_type AS grp,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
           FROM events),
         pts AS (SELECT grp, t, CAST(1 AS BIGINT) AS d FROM ts0
           UNION ALL SELECT grp, t + 300, CAST(-1 AS BIGINT) FROM ts0),
         run AS (SELECT grp, t,
             CAST(sum(d) OVER (PARTITION BY grp ORDER BY t ASC, d ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
           FROM pts),
         pk AS (SELECT grp, max(c) AS peak_concurrency FROM run
           GROUP BY 1)
         SELECT r.grp, p.peak_concurrency, min(r.t) AS peak_at
         FROM run r JOIN pk p ON p.grp = r.grp
           AND r.c = p.peak_concurrency
         GROUP BY 1, 2""",
    "q203_burstiness" ->
      """WITH e AS (SELECT user_id AS u,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             event_id AS eid
           FROM events),
         g AS (SELECT u, t - lag(t) OVER (PARTITION BY u
             ORDER BY t ASC, eid ASC) AS g
           FROM e),
         m AS (SELECT u, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS sg,
             CAST(sum(g * g) AS BIGINT) AS sgg
           FROM g WHERE g IS NOT NULL GROUP BY 1)
         SELECT u, n,
           CASE WHEN sg > 0 AND n * sgg - sg * sg >= 0 THEN
             round((sqrt(CAST(n * sgg - sg * sg AS DOUBLE))
                 - CAST(sg AS DOUBLE))
               / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE))
                 + CAST(sg AS DOUBLE)), 4) + 0.0 END AS burstiness
         FROM m WHERE n >= 4""",
    "q204_lift_curve" ->
      """WITH t AS (SELECT ntile(10) OVER (ORDER BY n_chars DESC,
             doc_id ASC) AS tile,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         g AS (SELECT CAST(tile AS BIGINT) AS tile,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
           FROM t GROUP BY 1),
         c AS (SELECT tile, n, pos,
             CAST(sum(n) OVER wc AS BIGINT) AS cum_n,
             CAST(sum(pos) OVER wc AS BIGINT) AS cum_pos,
             CAST(sum(n) OVER wa AS BIGINT) AS total_n,
             CAST(sum(pos) OVER wa AS BIGINT) AS total_pos
           FROM g
           WINDOW wc AS (ORDER BY tile ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wa AS ())
         SELECT tile, n, pos, cum_n, cum_pos,
           CASE WHEN total_pos > 0
             THEN (1000000 * cum_pos) // total_pos END AS gain_micros,
           CASE WHEN total_pos > 0
             THEN (1000000 * cum_pos * total_n) // (cum_n * total_pos)
             END AS lift_micros
         FROM c""",
    "q205_wasserstein_drift" ->
      """WITH per AS (SELECT l_returnflag AS grp,
             CAST(l_quantity AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem GROUP BY 1, 2),
         grid AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS cnt_all
           FROM per GROUP BY 1),
         sizes AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_g
           FROM per GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS n FROM grid),
         mx AS (SELECT s.grp, g.v, s.n_g, t.n, g.cnt_all,
             coalesce(p.cnt, 0) AS cnt_g
           FROM sizes s CROSS JOIN tot t CROSS JOIN grid g
           LEFT JOIN per p ON p.grp = s.grp AND p.v = g.v),
         c AS (SELECT grp, v, n_g, n - n_g AS n_r,
             CAST(sum(cnt_g) OVER w AS BIGINT) AS cum_g,
             CAST(sum(cnt_all) OVER w AS BIGINT) AS cum_all,
             lead(v) OVER (PARTITION BY grp ORDER BY v ASC) - v AS gap
           FROM mx
           WINDOW w AS (PARTITION BY grp ORDER BY v ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT grp, max(n_g) AS n_g, max(n_r) AS n_rest,
           CASE WHEN max(n_g) > 0 AND max(n_r) > 0 THEN
             CAST(sum(CAST((1000000 * abs(CAST(cum_g AS HUGEINT) * n_r
                 - (cum_all - cum_g) * CAST(n_g AS HUGEINT)))
               // (CAST(n_g AS HUGEINT) * n_r) AS BIGINT) * gap)
               AS BIGINT) END AS w1_micros
         FROM c WHERE gap IS NOT NULL GROUP BY 1""",
    "q206_hard_negatives" ->
      OracleGen.hardNegativesRoutedSql(stride = 10L, k = 3,
        nCentroids = 16, nProbe = 4),
    "q207_woe_iv" ->
      """WITH d AS (SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_words,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         f AS (SELECT 'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS x,
             doc_id AS rid, y FROM d
           UNION ALL SELECT 'n_words', CAST(n_words AS DOUBLE), doc_id, y
           FROM d),
         t AS (SELECT feature, CAST(ntile(5) OVER (PARTITION BY feature
             ORDER BY x ASC, rid ASC) AS BIGINT) AS tile, y FROM f),
         g AS (SELECT feature, tile, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos FROM t GROUP BY 1, 2),
         tt AS (SELECT feature, CAST(sum(pos) AS BIGINT) AS pos_tot,
             CAST(sum(n - pos) AS BIGINT) AS neg_tot
           FROM g GROUP BY 1),
         b AS (SELECT g.feature, g.tile, g.n, g.pos,
             CASE WHEN g.pos > 0 AND g.n - g.pos > 0 THEN
               CAST(round(ln(CAST(g.pos * tt.neg_tot AS DOUBLE)
                 / CAST((g.n - g.pos) * tt.pos_tot AS DOUBLE))
                 * 1000000.0) AS BIGINT) END AS woe_micros,
             (1000000 * g.pos) // tt.pos_tot
               - (1000000 * (g.n - g.pos)) // tt.neg_tot AS sd
           FROM g JOIN tt USING (feature)),
         b2 AS (SELECT feature, tile, n, pos, woe_micros,
             CASE WHEN woe_micros IS NOT NULL THEN
               CAST(sign(sd * woe_micros) AS BIGINT)
                 * (abs(sd * woe_micros) // 1000000) END AS iv_micros
           FROM b)
         SELECT feature, tile, n, pos, woe_micros, iv_micros FROM b2
         UNION ALL
         SELECT feature, CAST(NULL AS BIGINT), CAST(sum(n) AS BIGINT),
           CAST(sum(pos) AS BIGINT), CAST(NULL AS BIGINT),
           CAST(sum(iv_micros) AS BIGINT)
         FROM b2 GROUP BY 1""",
    "q208_silhouette" ->
      OracleGen.silhouetteSql(nCentroids = 16, dim = 64),
    "q209_cohens_kappa" ->
      s"""WITH $langIdCtes,
         j AS (SELECT p.pred_lang AS a, d.lang AS bl
           FROM pred p JOIN documents d USING (doc_id)),
         cells AS (SELECT a, bl, CAST(count(*) AS BIGINT) AS cnt
           FROM j GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = bl THEN cnt ELSE 0 END) AS BIGINT)
               AS agree
           FROM cells),
         ra AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS r FROM cells
           GROUP BY 1),
         sb AS (SELECT bl AS a, CAST(sum(cnt) AS BIGINT) AS s FROM cells
           GROUP BY 1),
         e AS (SELECT CAST(coalesce(sum(r * s), 0) AS BIGINT) AS e
           FROM ra JOIN sb USING (a))
         SELECT n, agree, (1000000 * agree) // n AS po_micros,
           (1000000 * e) // (n * n) AS pe_micros,
           CASE WHEN n * n - e > 0 THEN
             CAST(sign(n * agree - e) AS BIGINT)
               * ((1000000 * abs(n * agree - e)) // (n * n - e)) END
             AS kappa_micros
         FROM tot, e""",
    "q210_stickiness" ->
      """WITH pairs AS (SELECT DISTINCT user_id AS u,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
           FROM events),
         dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs
           GROUP BY 1),
         mau AS (SELECT g.day AS d,
             CAST(count(DISTINCT p.u) AS BIGINT) AS mau
           FROM dau g JOIN pairs p
             ON p.day <= g.day AND p.day > g.day - 28
           GROUP BY 1)
         SELECT dau.day, dau.dau, mau.mau,
           (1000000 * dau.dau) // mau.mau AS stickiness_micros
         FROM dau JOIN mau ON mau.d = dau.day""",
    "q211_twap" ->
      """WITH b AS (SELECT event_type AS grp,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day,
             event_id AS eid,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         d AS (SELECT grp, day, cents,
             coalesce(lead(t) OVER (PARTITION BY grp, day
                 ORDER BY t ASC, eid ASC), (day + 1) * 86400) - t AS dur
           FROM b),
         m AS (SELECT grp, day, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS HUGEINT) * dur) AS wsum,
             CAST(sum(dur) AS BIGINT) AS dsum
           FROM d GROUP BY 1, 2)
         SELECT grp, day, n,
           TRY_CAST((wsum // dsum) * 1000000 AS BIGINT)
             + CAST(((wsum % dsum) * 1000000) // dsum AS BIGINT)
             AS twap_micros
         FROM m WHERE dsum > 0""",
    "q212_nelson_aalen" ->
      s"""WITH $kmRiskCtes,
         h AS (SELECT d, n_risk, e_at,
             (1000000 * e_at) // n_risk AS hazard_micros
           FROM r)
         SELECT d AS duration_days, n_risk, e_at AS n_events,
           hazard_micros,
           CAST(sum(hazard_micros) OVER (ORDER BY d ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_hazard_micros
         FROM h""",
    "q213_activity_streaks" ->
      """WITH pairs AS (SELECT DISTINCT user_id AS u,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day
           FROM events),
         isl AS (SELECT u, day,
             day - CAST(dense_rank() OVER (PARTITION BY u
               ORDER BY day ASC) AS BIGINT) AS g
           FROM pairs),
         runs AS (SELECT u, g, CAST(count(*) AS BIGINT) AS len,
             max(day) AS run_end
           FROM isl GROUP BY 1, 2)
         SELECT u, CAST(sum(len) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           max(len) AS longest,
           max_by(len, run_end) AS current
         FROM runs GROUP BY 1""",
    "q214_ivfpq_admission" ->
      OracleGen.ivfPqAdmitSql(stride = 10L, m = 8, k = 64,
        trainIters = 2, nCentroids = 16, nProbe = 4,
        thresholdMicros = 1100000L, dim = 64, trainStride = 4),
    "q215_hyperanf" -> OracleGen.hyperAnfSql(maxHops = 4),
    "q216_zipf_fit" ->
      """WITH tc AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT u.term FROM documents,
               UNNEST(string_split(text, ' ')) AS u(term)
             WHERE u.term <> '') GROUP BY 1),
         top AS (SELECT term, cnt FROM tc
           ORDER BY cnt DESC, term ASC LIMIT 500),
         xy AS (SELECT
             CAST(round(ln(CAST(row_number() OVER (ORDER BY cnt DESC,
               term ASC) AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
             CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS y
           FROM top),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(y AS HUGEINT) * y) AS syy
           FROM xy),
         d AS (SELECT n, sx, sy,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
           FROM s)
         SELECT n AS n_terms,
           CASE WHEN CAST(den AS DOUBLE) <> 0.0
             THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4)
             END AS slope,
           CASE WHEN CAST(den AS DOUBLE) <> 0.0
             THEN round((CAST(sy AS DOUBLE)
               - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                 * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0, 4) END AS intercept,
           CASE WHEN CAST(den AS DOUBLE) <> 0.0
               AND CAST(deny AS DOUBLE) <> 0.0
             THEN round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
               / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)), 4)
             END AS r2
         FROM d""",
    "q217_cramers_v" ->
      """WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(count(*) AS BIGINT) AS o
           FROM orders WHERE o_orderpriority IS NOT NULL
             AND o_orderstatus IS NOT NULL GROUP BY 1, 2),
         rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells
           GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells
           GROUP BY 1),
         dims AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT a) AS BIGINT) AS r,
             CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
         sm AS (SELECT CAST(sum(CAST((1000000000000
               * CAST(o AS HUGEINT) * o)
               // (CAST(ra AS HUGEINT) * cb) AS BIGINT)) AS BIGINT) AS s
           FROM cells JOIN rt USING (a) JOIN ct USING (b))
         SELECT n, r, c,
           CASE WHEN least(r, c) > 1
             THEN round(sqrt(CAST(greatest(s - 1000000000000, 0)
               AS DOUBLE)
               / (1000000000000.0 * CAST(least(r, c) - 1 AS DOUBLE))), 4)
             END AS v
         FROM sm, dims""",
    "q218_mutual_information" ->
      """WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b,
             CAST(count(*) AS BIGINT) AS o
           FROM lineitem WHERE l_returnflag IS NOT NULL
             AND l_linestatus IS NOT NULL GROUP BY 1, 2),
         rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells
           GROUP BY 1),
         ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells
           GROUP BY 1),
         nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         mi AS (SELECT CAST(coalesce(sum(CAST(round(
               (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
               * ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
                 / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))
               * 1000000.0) AS BIGINT)), 0) AS BIGINT) AS mi
           FROM cells JOIN rt USING (a) JOIN ct USING (b), nt),
         ha AS (SELECT CAST(coalesce(sum(CAST(round(
               ((-CAST(ra AS DOUBLE)) / CAST(n AS DOUBLE))
               * ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000.0) AS BIGINT)), 0) AS BIGINT) AS ha
           FROM rt, nt),
         hb AS (SELECT CAST(coalesce(sum(CAST(round(
               ((-CAST(cb AS DOUBLE)) / CAST(n AS DOUBLE))
               * ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000.0) AS BIGINT)), 0) AS BIGINT) AS hb
           FROM ct, nt)
         SELECT n, mi AS mi_micros, ha AS h_a_micros, hb AS h_b_micros,
           CASE WHEN ha > 0 AND hb > 0
             THEN round(CAST(mi AS DOUBLE)
               / sqrt(CAST(ha AS DOUBLE) * CAST(hb AS DOUBLE)), 4)
             END AS nmi
         FROM mi, ha, hb, nt""",
    "q219_log_rank" ->
      s"""WITH ${survivalCtes(
           stCols = ", max(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS g",
           keep = "st.g,")},
         byd AS (SELECT d, CAST(count(*) AS BIGINT) AS n_at,
             CAST(sum(obs) AS BIGINT) AS e_at,
             CAST(sum(g) AS BIGINT) AS n1_at,
             CAST(sum(g * obs) AS BIGINT) AS e1_at
           FROM dur GROUP BY 1),
         r AS (SELECT d, e_at, n1_at,
             CAST(sum(n_at) OVER w AS BIGINT) AS nt,
             CAST(sum(n1_at) OVER w AS BIGINT) AS n1t
           FROM byd
           WINDOW w AS (ORDER BY d ASC
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         terms AS (SELECT b0 AS em,
             CASE WHEN nt > 1 THEN
               CAST((CAST(CAST((CAST(b0 AS HUGEINT) * (nt - n1t))
                 // nt AS BIGINT) AS HUGEINT) * (nt - e_at))
                 // (nt - 1) AS BIGINT)
               ELSE 0 END AS vm
           FROM (SELECT *,
               CAST((1000000 * CAST(e_at AS HUGEINT) * n1t) // nt
                 AS BIGINT) AS b0
             FROM r WHERE e_at > 0) em0),
         tot AS (SELECT CAST(sum(g) AS BIGINT) AS n1,
             CAST(sum(1 - g) AS BIGINT) AS n0,
             CAST(sum(g * obs) AS BIGINT) AS o1 FROM dur),
         agg AS (SELECT CAST(coalesce(sum(em), 0) AS BIGINT)
               AS e1_micros,
             CAST(coalesce(sum(vm), 0) AS BIGINT) AS v_micros
           FROM terms)
         SELECT n1, n0, o1, e1_micros, v_micros,
           CASE WHEN v_micros > 0
             THEN round((CAST(o1 AS DOUBLE) * 1000000.0
               - CAST(e1_micros AS DOUBLE))
               / (1000.0 * sqrt(CAST(v_micros AS DOUBLE))), 4) + 0.0
             END AS z
         FROM agg, tot""",
    // q302: mirrors Events.logRankKSample — `survivalCtes` durations
    // labelled with 3 cohorts x 2 strata, within-stratum reverse-
    // cumulative risk sets, the day-ladder non-equi join for per-group
    // at-risk counts, q219's staged floor chain with n1t -> ngt.
    "q302_log_rank_k" ->
      s"""WITH ${survivalCtes(
           stCols = ", max(CAST(user_id % 3 AS VARCHAR)) AS grp," +
             " max(CAST((user_id // 3) % 2 AS VARCHAR)) AS str",
           keep = "grp, str,")},
         byd AS (SELECT str, d, CAST(count(*) AS BIGINT) AS n_at,
             CAST(sum(obs) AS BIGINT) AS e_at
           FROM dur GROUP BY 1, 2),
         dd AS (SELECT str, d, e_at,
             CAST(sum(n_at) OVER w AS BIGINT) AS nt
           FROM byd
           WINDOW w AS (PARTITION BY str ORDER BY d ASC
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         ddx AS (SELECT * FROM dd WHERE e_at > 0),
         gd AS (SELECT str AS s2, grp, d AS d2,
             CAST(count(*) AS BIGINT) AS gn,
             CAST(sum(obs) AS BIGINT) AS ge
           FROM dur GROUP BY 1, 2, 3),
         lad AS (SELECT ddx.str, ddx.d, gd.grp, ddx.nt, ddx.e_at,
             CAST(sum(gn) AS BIGINT) AS ngt,
             CAST(sum(CASE WHEN d2 = ddx.d THEN ge ELSE 0 END)
               AS BIGINT) AS egt
           FROM ddx JOIN gd ON gd.s2 = ddx.str AND gd.d2 >= ddx.d
           GROUP BY 1, 2, 3, 4, 5),
         terms AS (SELECT grp, b0 AS em,
             CASE WHEN nt > 1 THEN
               CAST((CAST(CAST((CAST(b0 AS HUGEINT) * (nt - ngt))
                 // nt AS BIGINT) AS HUGEINT) * (nt - e_at))
                 // (nt - 1) AS BIGINT)
               ELSE 0 END AS vm
           FROM (SELECT *,
               CAST((1000000 * CAST(e_at AS HUGEINT) * ngt) // nt
                 AS BIGINT) AS b0
             FROM lad) em0),
         tsum AS (SELECT grp, CAST(sum(em) AS BIGINT) AS e_micros,
             CAST(sum(vm) AS BIGINT) AS v_micros
           FROM terms GROUP BY 1),
         tot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(obs) AS BIGINT) AS o_events
           FROM dur GROUP BY 1)
         SELECT tot.grp, n_users, o_events,
           CAST(COALESCE(e_micros, 0) AS BIGINT) AS e_micros,
           CAST(COALESCE(v_micros, 0) AS BIGINT) AS v_micros,
           CASE WHEN COALESCE(v_micros, 0) > 0
             THEN round((CAST(o_events AS DOUBLE) * 1000000.0
               - CAST(e_micros AS DOUBLE))
               / (1000.0 * sqrt(CAST(v_micros AS DOUBLE))), 4) + 0.0
             END AS z
         FROM tot LEFT JOIN tsum ON tot.grp = tsum.grp""",
    "q220_markov_stationary" -> {
      val pCtes =
        """seq AS (SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS to_type
           FROM events),
         pr AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM pr
           GROUP BY 1),
         p AS (SELECT pr.from_type, to_type,
             (n * 1000000) // tot AS p_micros
           FROM pr JOIN t ON pr.from_type = t.from_type),
         states AS MATERIALIZED (SELECT from_type AS state FROM p
           UNION SELECT to_type FROM p),
         pi0 AS (SELECT state,
             1000000 // (SELECT count(*) FROM states) AS pi
           FROM states)"""
      val steps = (1 to 10).map { i =>
        s"""pi$i AS (SELECT p.to_type AS state,
             CAST(sum((pi.pi * p.p_micros) // 1000000) AS BIGINT) AS pi
           FROM p JOIN pi${i - 1} pi ON pi.state = p.from_type
           GROUP BY 1)"""
      }.mkString(",\n         ")
      s"""WITH $pCtes,
         $steps
         SELECT s.state, CAST(coalesce(pi10.pi, 0) AS BIGINT)
           AS pi_micros
         FROM states s LEFT JOIN pi10 ON pi10.state = s.state"""
    },
    "q221_k_anonymity" ->
      """WITH s AS (SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS sz
           FROM customer GROUP BY 1, 2),
         a AS (SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes,
             min(sz) AS min_class,
             CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_below_k,
             CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
           FROM s)
         SELECT 'c_nationkey,c_mktsegment' AS qi, n_rows, n_classes,
           min_class, rows_below_k, n_unique,
           (1000000 * rows_below_k) // n_rows AS at_risk_rate_micros
         FROM a""",
    "q222_ams_f2" ->
      """WITH cnts AS (SELECT l_partkey AS k,
             CAST(count(*) AS BIGINT) AS cnt
           FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
         ex AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             coalesce(sum(CAST(cnt AS HUGEINT) * cnt), 0) AS f2x
           FROM cnts),
         sk AS (SELECT i,
             CAST(sum(CASE WHEN CAST(('0x' || substring(md5(
               CAST(i AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 8))
               AS BIGINT) % 2 = 0 THEN cnt ELSE -cnt END) AS BIGINT) AS z
           FROM cnts, range(0, 16) t(i) GROUP BY 1),
         es AS (SELECT CAST(sum(CAST(z AS HUGEINT) * z) // count(*)
             AS BIGINT) AS f2_est FROM sk)
         SELECT n_rows, n_keys, CAST(f2x AS BIGINT) AS f2_exact, f2_est,
           CASE WHEN f2x > 0 THEN (1000000
             * abs(f2_est - CAST(f2x AS BIGINT)))
             // CAST(f2x AS BIGINT) END AS rel_err_micros
         FROM ex, es""",
    "q223_hill_tail" -> hillTailSql(
      """base AS (SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey AS id
           FROM orders)"""),
    "q225_nn_matching" ->
      """WITH per AS (SELECT user_id AS u, CAST(count(*) AS BIGINT)
             AS cov,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS y,
             max(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS g
           FROM events GROUP BY 1),
         ctl AS (SELECT cov, cu, cy FROM (SELECT cov, u AS cu, y AS cy,
             row_number() OVER (PARTITION BY cov ORDER BY u ASC) AS rn
           FROM per WHERE g = 0) WHERE rn = 1),
         tr AS (SELECT cov, u, y FROM per WHERE g = 1),
         pv AS (SELECT t.u, max(c.cov) AS pcov FROM tr t
           LEFT JOIN ctl c ON c.cov <= t.cov GROUP BY 1),
         nx AS (SELECT t.u, min(c.cov) AS ncov FROM tr t
           LEFT JOIN ctl c ON c.cov > t.cov GROUP BY 1),
         pick AS (SELECT t.u, t.y,
             CASE WHEN pcov IS NULL THEN ncov
                  WHEN ncov IS NULL THEN pcov
                  WHEN t.cov - pcov <= ncov - t.cov THEN pcov
                  ELSE ncov END AS mcov
           FROM tr t JOIN pv ON pv.u = t.u JOIN nx ON nx.u = t.u),
         j AS (SELECT p.y, c.cy FROM pick p
           JOIN ctl c ON c.cov = p.mcov)
         SELECT CAST(count(*) AS BIGINT) AS n_matched,
           CAST(sign(sum(y - cy)) AS BIGINT)
             * CAST((1000000 * CAST(abs(sum(y - cy)) AS HUGEINT))
               // count(*) AS BIGINT) AS att_micros
         FROM j""",
    "q226_seasonal_strength" ->
      s"""WITH $seasonalCtes,
         comp AS (SELECT t3.g,
             1000000 * t3.y - t3.trend_micros AS dt,
             t3.detr - s2.seasonal_micros AS r
           FROM t3 JOIN s2 ON s2.g = t3.g AND s2.dow = t3.dow
           WHERE t3.detr IS NOT NULL),
         a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dt) AS BIGINT) AS sd,
             sum(CAST(dt AS HUGEINT) * dt) AS sdd,
             CAST(sum(r) AS BIGINT) AS sr,
             sum(CAST(r AS HUGEINT) * r) AS srr
           FROM comp GROUP BY 1)
         SELECT g AS grp, n AS n_days,
           CASE WHEN CAST(CAST(n AS HUGEINT) * sdd
               - CAST(sd AS HUGEINT) * sd AS DOUBLE) > 0.0
             THEN round(greatest(0.0,
               1.0 - CAST(CAST(n AS HUGEINT) * srr
                 - CAST(sr AS HUGEINT) * sr AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * sdd
                 - CAST(sd AS HUGEINT) * sd AS DOUBLE)), 4)
             END AS f_seasonal
         FROM a""",
    "q227_qini_uplift" ->
      """WITH per AS (SELECT user_id AS u,
             CAST(count(*) AS BIGINT) AS score,
             max(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS g,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS y
           FROM events GROUP BY 1),
         tl AS (SELECT ntile(10) OVER (ORDER BY score DESC, u ASC)
             AS tile, g, y FROM per),
         td AS (SELECT CAST(tile AS BIGINT) AS tile,
             CAST(sum(g) AS BIGINT) AS n_t,
             CAST(sum(1 - g) AS BIGINT) AS n_c,
             CAST(sum(g * y) AS BIGINT) AS conv_t,
             CAST(sum((1 - g) * y) AS BIGINT) AS conv_c
           FROM tl GROUP BY 1),
         c AS (SELECT tile, n_t, n_c, conv_t, conv_c,
             CAST(sum(n_t) OVER w AS BIGINT) AS cnt,
             CAST(sum(n_c) OVER w AS BIGINT) AS cnc,
             CAST(sum(conv_t) OVER w AS BIGINT) AS cct,
             CAST(sum(conv_c) OVER w AS BIGINT) AS ccc
           FROM td WINDOW w AS (ORDER BY tile ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT tile, n_t, n_c, conv_t, conv_c,
           CASE WHEN cnc > 0 THEN
             CAST(sign(CAST(cct AS HUGEINT) * cnc
               - CAST(ccc AS HUGEINT) * cnt) AS BIGINT)
             * CAST((1000000 * abs(CAST(cct AS HUGEINT) * cnc
               - CAST(ccc AS HUGEINT) * cnt)) // cnc AS BIGINT)
             END AS q_micros
         FROM c""",
    "q229_smd_balance" ->
      """WITH per AS (SELECT user_id AS u,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents,
             CAST(count(DISTINCT CAST(epoch(date_trunc('day', ts))
               AS BIGINT) // 86400) AS BIGINT) AS n_days,
             max(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS g
           FROM events GROUP BY 1),
         lg AS (SELECT g, 'n_events' AS cov, n_events AS x FROM per
           UNION ALL SELECT g, 'cents', cents FROM per
           UNION ALL SELECT g, 'n_days', n_days FROM per),
         m AS (SELECT cov, CAST(sum(g) AS BIGINT) AS nt,
             CAST(sum(1 - g) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT)
               AS st,
             CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sc,
             sum(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) * x
               ELSE 0 END) AS sst,
             sum(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) * x
               ELSE 0 END) AS ssc
           FROM lg GROUP BY 1),
         v AS (SELECT cov, nt, nc, st, sc,
             CAST(CAST(nt AS HUGEINT) * sst - CAST(st AS HUGEINT) * st
               AS DOUBLE)
               / CAST(CAST(nt AS HUGEINT) * (nt - 1) AS DOUBLE) AS vt,
             CAST(CAST(nc AS HUGEINT) * ssc - CAST(sc AS HUGEINT) * sc
               AS DOUBLE)
               / CAST(CAST(nc AS HUGEINT) * (nc - 1) AS DOUBLE) AS vc
           FROM m)
         SELECT cov, nt AS n_t, nc AS n_c,
           CASE WHEN nt > 1 AND nc > 1 AND (vt + vc) > 0.0 THEN
             round((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
               - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))
               / sqrt((vt + vc) / 2.0), 4) + 0.0 END AS smd
         FROM v""",
    "q230_mann_kendall" ->
      s"""WITH ${OracleGen.dailyCte("grp")},
         p AS (SELECT a.grp, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
           FROM daily a JOIN daily b ON a.grp = b.grp
             AND a.day < b.day GROUP BY 1),
         tg AS (SELECT grp, y, CAST(count(*) AS BIGINT) AS t
           FROM daily GROUP BY 1, 2),
         ti AS (SELECT grp, CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num
           FROM tg GROUP BY 1)
         SELECT p.grp, n AS n_days, s AS s_stat,
           n * (n - 1) * (2 * n + 5) - tie_num AS var_num18,
           CASE WHEN n > 1
               AND n * (n - 1) * (2 * n + 5) - tie_num > 0 THEN
             round(CAST(s - sign(s) AS DOUBLE)
               / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_num
                 AS DOUBLE) / 18.0), 4) + 0.0 END AS z
         FROM p JOIN ti ON ti.grp = p.grp""",
    "q231_sprt" -> {
      val (c1, c2, ua, lb) =
        Events.sprtConstants(0.18, 0.22, 0.05, 0.05)
      s"""WITH byday AS (SELECT user_id % 4 AS seg,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
               ELSE 0 END) AS BIGINT) AS k
           FROM events GROUP BY 1, 2),
         cum AS (SELECT seg, day, n, k,
             CAST(sum(k * $c1 + (n - k) * $c2) OVER w AS BIGINT)
               AS llr_cum_micros
           FROM byday WINDOW w AS (PARTITION BY seg ORDER BY day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         ex AS (SELECT seg, day, n, k, llr_cum_micros,
             CAST(max(llr_cum_micros) OVER w AS BIGINT) AS hi,
             CAST(min(llr_cum_micros) OVER w AS BIGINT) AS lo
           FROM cum WINDOW w AS (PARTITION BY seg ORDER BY day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT seg, day, n, k, llr_cum_micros,
           CASE WHEN hi >= $ua THEN 'reject_h0'
                WHEN lo <= $lb THEN 'accept_h0'
                ELSE 'continue' END AS decision
         FROM ex"""
    },
    "q234_ratio_metric_ci" ->
      """WITH per AS (SELECT user_id % 4 AS seg, user_id AS u,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
               ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         m AS (SELECT seg, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(n) AS BIGINT) AS sn,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CAST(n AS HUGEINT) * n) AS snn,
             sum(CAST(y AS HUGEINT) * n) AS syn
           FROM per GROUP BY 1),
         d AS (SELECT seg, k, sy, sn,
             CAST(sy AS DOUBLE) / CAST(sn AS DOUBLE) AS r,
             CAST(CAST(k AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
               AS DOUBLE) / CAST(CAST(k AS HUGEINT) * (k - 1)
               AS DOUBLE) AS vy,
             CAST(CAST(k AS HUGEINT) * snn - CAST(sn AS HUGEINT) * sn
               AS DOUBLE) / CAST(CAST(k AS HUGEINT) * (k - 1)
               AS DOUBLE) AS vn,
             CAST(CAST(k AS HUGEINT) * syn - CAST(sy AS HUGEINT) * sn
               AS DOUBLE) / CAST(CAST(k AS HUGEINT) * (k - 1)
               AS DOUBLE) AS cyn,
             CAST(sn AS DOUBLE) / CAST(k AS DOUBLE) AS nbar
           FROM m),
         e AS (SELECT seg, k, sy, sn, r,
             (vy - 2.0 * r * cyn + r * r * vn)
               / (CAST(k AS DOUBLE) * nbar * nbar) AS innr
           FROM d)
         SELECT seg, k AS n_users, sy AS sum_conv, sn AS sum_events,
           CASE WHEN k > 1 AND sn > 0 THEN round(r, 6) + 0.0 END
             AS ratio,
           CASE WHEN k > 1 AND sn > 0 AND innr >= 0.0 THEN
             round(sqrt(innr), 6) + 0.0 END AS se,
           CASE WHEN k > 1 AND sn > 0 AND innr >= 0.0 THEN
             round(r - 1.96 * sqrt(innr), 6) + 0.0 END AS ci_lo,
           CASE WHEN k > 1 AND sn > 0 AND innr >= 0.0 THEN
             round(r + 1.96 * sqrt(innr), 6) + 0.0 END AS ci_hi
         FROM e""",
    "q254_weighted_permutation" ->
      """WITH per AS (SELECT user_id AS id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
               ELSE 0 END) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS w,
             max(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS g
           FROM events GROUP BY 1),
         obs AS (SELECT CAST(sum(g) AS BIGINT) AS nt,
             CAST(sum(1 - g) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT)
               AS st,
             CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sc,
             CAST(sum(CASE WHEN g = 1 THEN w ELSE 0 END) AS BIGINT)
               AS wt,
             CAST(sum(CASE WHEN g = 0 THEN w ELSE 0 END) AS BIGINT)
               AS wc
           FROM per),
         obst AS (SELECT nt, nc, CASE WHEN wt > 0 AND wc > 0 THEN
             (1000000 * st) // wt - (1000000 * sc) // wc END AS t_obs
           FROM obs),
         r AS (SELECT t.b, x, w,
             CAST(('0x' || substring(md5(CAST(id AS VARCHAR) || ':'
               || CAST(t.b AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS gb
           FROM per, range(200) t(b)),
         rs AS (SELECT b,
             CAST(sum(CASE WHEN gb = 1 THEN x ELSE 0 END) AS BIGINT)
               AS st,
             CAST(sum(CASE WHEN gb = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sc,
             CAST(sum(CASE WHEN gb = 1 THEN w ELSE 0 END) AS BIGINT)
               AS wt,
             CAST(sum(CASE WHEN gb = 0 THEN w ELSE 0 END) AS BIGINT)
               AS wc
           FROM r GROUP BY 1),
         tb AS (SELECT b, CASE WHEN wt > 0 AND wc > 0 THEN
             (1000000 * st) // wt - (1000000 * sc) // wc END AS t_b
           FROM rs)
         SELECT o.nt AS n_t, o.nc AS n_c, o.t_obs AS t_obs_micros,
           CAST(200 AS BIGINT) AS reps,
           CAST(sum(CASE WHEN abs(t_b) >= abs(o.t_obs) THEN 1 ELSE 0
             END) AS BIGINT) AS n_extreme,
           (1000000 * (1 + CAST(sum(CASE WHEN abs(t_b) >=
             abs(o.t_obs) THEN 1 ELSE 0 END) AS BIGINT))) // 201
             AS p_micros
         FROM tb, obst o GROUP BY 1, 2, 3, 4""",
    "q255_iqr_outlier_days" ->
      s"""WITH ${OracleGen.dailyCte("grp")},
         nn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
           FROM daily GROUP BY 1),
         rk AS (SELECT grp, day, y,
             CAST(row_number() OVER (PARTITION BY grp
               ORDER BY y ASC, day ASC) AS BIGINT) AS rk
           FROM daily),
         f AS (SELECT rk.grp, nn.n AS n_days,
             CAST(max(CASE WHEN rk = (n + 3) // 4 THEN y END)
               AS BIGINT) AS q1,
             CAST(max(CASE WHEN rk = (3 * n + 3) // 4 THEN y END)
               AS BIGINT) AS q3
           FROM rk JOIN nn ON nn.grp = rk.grp GROUP BY 1, 2),
         f2 AS (SELECT grp, n_days, q1, q3,
             2 * q1 - 3 * (q3 - q1) AS lo_x2,
             2 * q3 + 3 * (q3 - q1) AS hi_x2
           FROM f),
         fl AS (SELECT d.grp, d.day, d.y,
             CASE WHEN d.y * 2 < lo_x2 THEN 1 ELSE 0 END AS is_low,
             CASE WHEN d.y * 2 > hi_x2 THEN 1 ELSE 0 END AS is_high,
             CASE WHEN d.y * 2 > hi_x2 THEN d.y * 2 - hi_x2
                  WHEN d.y * 2 < lo_x2 THEN lo_x2 - d.y * 2 END AS ex
           FROM daily d JOIN f2 ON f2.grp = d.grp),
         ag AS (SELECT grp, CAST(sum(is_low) AS BIGINT) AS n_low,
             CAST(sum(is_high) AS BIGINT) AS n_high
           FROM fl GROUP BY 1),
         worst AS (SELECT grp, day AS worst_day, y AS worst_y
           FROM (SELECT grp, day, y, row_number() OVER (
               PARTITION BY grp ORDER BY ex DESC, day ASC) AS rn
             FROM fl WHERE ex IS NOT NULL) WHERE rn = 1)
         SELECT f2.grp, n_days, q1, q3, n_low, n_high, worst_day,
           worst_y
         FROM f2 JOIN ag ON ag.grp = f2.grp
         LEFT JOIN worst ON worst.grp = f2.grp""",
    "q256_ktruss" -> OracleGen.kTrussSql(k = 4, rounds = 3),
    // q287: mirrors Graph.peelConvergence — the q256 peel chain, pure
    // edge counts of rounds-1 vs rounds, dry-round fixpoint flag.
    "q287_truss_convergence" ->
      OracleGen.trussConvergenceSql(k = 4, rounds = 3),
    // q293: mirrors TextAnalysis.sourceJsdMatrix — add-1 smoothed
    // source unigrams over the joint kept vocab, per-term pointwise
    // JS contribution rounded to exact nanos BEFORE the sum (the q279
    // round-then-sum idiom), micros floor at the end.
    "q293_source_jsd" ->
      """WITH tokc AS (SELECT source AS src, u.term,
           CAST(count(*) AS BIGINT) AS c
           FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
           WHERE u.term <> '' GROUP BY 1, 2),
         vocab AS (SELECT term FROM
             (SELECT term, sum(c) AS tot FROM tokc GROUP BY 1)
           WHERE tot >= 2),
         kept AS (SELECT tokc.* FROM tokc JOIN vocab USING (term)),
         totals AS (SELECT src, CAST(sum(c) AS BIGINT) AS n
           FROM kept GROUP BY 1),
         vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
         dense AS (SELECT vocab.term, totals.src,
             CAST(COALESCE(kept.c, 0) + 1 AS DOUBLE)
               / (totals.n + vs.v) AS p
           FROM vocab CROSS JOIN totals CROSS JOIN vs
             LEFT JOIN kept ON kept.term = vocab.term
               AND kept.src = totals.src),
         pairs AS (SELECT a.src AS source_a, b.src AS source_b,
             a.p AS p, b.p AS q
           FROM dense a JOIN dense b ON b.term = a.term
             AND a.src < b.src),
         contrib AS (SELECT source_a, source_b,
             CAST(round((p * log2(2.0 * p / (p + q))
                 + q * log2(2.0 * q / (p + q))) / 2.0 * 1000000000.0)
               AS BIGINT) AS jn
           FROM pairs)
         SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS v_terms,
           CAST(sum(jn) AS BIGINT) // 1000 AS jsd_micros
         FROM contrib GROUP BY 1, 2""",
    // q294: mirrors Events.groupSequential — calendar-spaced looks,
    // cumulative pooled two-proportion z mirrored term-for-term (the
    // q198 discipline), OBF boundary literals from the ONE Scala
    // definition (Events.obfBounds), running first-crossing day.
    "q294_group_sequential" -> {
      val b = Events.obfBounds(5, 2.040)
      s"""WITH byday AS (SELECT event_type AS grp,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day,
             (user_id % 2 = 1) AS treated,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
               AS BIGINT) AS x
           FROM events GROUP BY 1, 2, 3),
         rng AS (SELECT grp, min(day) AS dmin, max(day) AS dmax
           FROM byday GROUP BY 1),
         perlook AS (SELECT b.grp,
             1 + (5 * (b.day - r.dmin)) // (r.dmax - r.dmin + 1)
               AS interim,
             max(b.day) AS last_day,
             coalesce(sum(CASE WHEN treated THEN n END), 0) AS dn_t,
             coalesce(sum(CASE WHEN treated THEN x END), 0) AS dx_t,
             coalesce(sum(CASE WHEN NOT treated THEN n END), 0) AS dn_c,
             coalesce(sum(CASE WHEN NOT treated THEN x END), 0) AS dx_c
           FROM byday b JOIN rng r ON b.grp = r.grp GROUP BY 1, 2),
         cum AS (SELECT grp, interim, last_day,
             CAST(sum(dn_t) OVER w AS BIGINT) AS n_t,
             CAST(sum(dx_t) OVER w AS BIGINT) AS x_t,
             CAST(sum(dn_c) OVER w AS BIGINT) AS n_c,
             CAST(sum(dx_c) OVER w AS BIGINT) AS x_c
           FROM perlook WINDOW w AS (PARTITION BY grp
             ORDER BY interim ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         zed AS (SELECT grp, interim, last_day, n_t, x_t, n_c, x_c,
             CASE WHEN n_t > 0 AND n_c > 0 AND x_t + x_c > 0
                 AND x_t + x_c < n_t + n_c THEN
               round((CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                   - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
                 / sqrt(CAST(x_t + x_c AS DOUBLE)
                     / CAST(n_t + n_c AS DOUBLE)
                   * (1.0 - CAST(x_t + x_c AS DOUBLE)
                     / CAST(n_t + n_c AS DOUBLE))
                   * (1.0 / CAST(n_t AS DOUBLE)
                     + 1.0 / CAST(n_c AS DOUBLE))), 6) + 0.0
             END AS z,
             CAST(CASE interim WHEN 1 THEN ${b(0)} WHEN 2 THEN ${b(1)}
               WHEN 3 THEN ${b(2)} WHEN 4 THEN ${b(3)}
               ELSE ${b(4)} END AS DOUBLE) AS bound
           FROM cum),
         cr AS (SELECT *, coalesce(abs(z) >= bound, false) AS crossed
           FROM zed),
         fin AS (SELECT *,
             min(CASE WHEN crossed THEN last_day END) OVER w
               AS crossed_at_day
           FROM cr WINDOW w AS (PARTITION BY grp ORDER BY interim ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT grp, interim, last_day, n_t, x_t, n_c, x_c, z, bound,
           crossed, crossed_at_day,
           CASE WHEN crossed_at_day IS NOT NULL THEN 'stop_reject'
                ELSE 'continue' END AS decision
         FROM fin"""
    },
    // q292: mirrors Graph.clusteringCard — the q114 triangle chain,
    // per-node micros floors, exact global sums.
    "q292_clustering_card" -> OracleGen.clusteringCardSql,
    // q291: mirrors Similarity.ivfCellBalance — the IVF assignment
    // replay, per-cell counts, exact imbalance + expected-probe floors.
    "q291_ivf_cell_balance" ->
      OracleGen.ivfCellBalanceSql(nCentroids = 16),
    // q290: mirrors TextAnalysis.bpeFertility — the q185 unrolled
    // fit-and-apply loop rolled up by language, micros floors.
    "q290_bpe_fertility" ->
      OracleGen.bpeFertilitySql(merges = 6, groupCol = "lang"),
    // q289: mirrors Dedup.fellegiSunterWeights — all-pairs levenshtein
    // truth (the q189 oracle pattern; Spark computes it segmented),
    // melted field values, exact marginal u, micros floors, one
    // mirrored log2 per weight.
    "q289_fellegi_sunter" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s,
           p_brand AS brand FROM part WHERE p_partkey % 10 = 0),
         t AS (SELECT a.id AS id_a, b.id AS id_b
           FROM p a JOIN p b ON a.id < b.id
           WHERE abs(length(a.s) - length(b.s)) <= 2
             AND levenshtein(a.s, b.s) <= 2),
         m AS (SELECT id, field, v FROM (
             SELECT id, 'first_token' AS field,
               string_split(s, ' ')[1] AS v FROM p
             UNION ALL SELECT id, 'len4',
               CAST(length(s) // 4 AS VARCHAR) FROM p
             UNION ALL SELECT id, 'brand', brand FROM p)
           WHERE v IS NOT NULL),
         tp AS (SELECT ma.field, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN ma.v = mb.v THEN 1 ELSE 0 END)
               AS BIGINT) AS n_agree
           FROM t JOIN m ma ON ma.id = t.id_a
             JOIN m mb ON mb.id = t.id_b AND mb.field = ma.field
           GROUP BY 1),
         mg AS (SELECT field, CAST(sum(c) AS BIGINT) AS n,
             sum(CAST(c AS HUGEINT) * (c - 1)) AS sp
           FROM (SELECT field, v, CAST(count(*) AS BIGINT) AS c
             FROM m GROUP BY 1, 2) GROUP BY 1),
         j AS (SELECT tp.field, n AS n_recs, n_pairs AS n_truth_pairs,
             CASE WHEN n_pairs > 0
               THEN (1000000 * n_agree) // n_pairs END AS m_micros,
             CAST((1000000 * sp) // (CAST(n AS HUGEINT) * (n - 1))
               AS BIGINT) AS u_micros
           FROM tp JOIN mg ON mg.field = tp.field)
         SELECT field, n_recs, n_truth_pairs, m_micros, u_micros,
           round(CASE WHEN m_micros > 0 AND u_micros > 0
             THEN log2(CAST(m_micros AS DOUBLE) / u_micros) END, 4)
             AS w_agree,
           round(CASE WHEN m_micros < 1000000 AND u_micros < 1000000
             THEN log2(CAST(1000000 - m_micros AS DOUBLE)
               / (1000000 - u_micros)) END, 4) AS w_disagree
         FROM j""",
    // q288: mirrors Sampling.horvitzThompson — the q63 all-long md5
    // keep test, one conditional agg, sign-symmetric HT blow-up and
    // relative error (the q238 idiom).
    "q288_horvitz_thompson" ->
      """WITH v AS (SELECT event_type,
           CAST(round(value * 100) AS BIGINT) AS c,
           CASE WHEN CAST(('0x' || substring(md5(CAST(event_id
                 AS VARCHAR)), 1, 8)) AS BIGINT) * 10
               < 1 * 4294967296 THEN 1 ELSE 0 END AS kept
         FROM events),
       g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(kept) AS BIGINT) AS n_sampled,
           CAST(sum(c) AS BIGINT) AS true_total_cents,
           CAST(COALESCE(sum(CASE WHEN kept = 1 THEN c END), 0)
             AS BIGINT) AS s
         FROM v GROUP BY 1),
       h AS (SELECT event_type, n_rows, n_sampled, true_total_cents,
           CAST(sign(s) AS BIGINT) * ((10 * abs(s)) // 1)
             AS ht_total_cents
         FROM g)
       SELECT event_type, n_rows, n_sampled, true_total_cents,
         ht_total_cents,
         CASE WHEN true_total_cents <> 0
           THEN CAST(sign(ht_total_cents - true_total_cents) AS BIGINT)
             * ((1000000 * abs(ht_total_cents - true_total_cents))
               // abs(true_total_cents)) END AS err_micros
       FROM h""",
    "q261_truss_communities" ->
      OracleGen.trussCommunitiesSql(k = 4, rounds = 3),
    "q265_truss_hierarchy" ->
      OracleGen.trussHierarchySql(maxK = 5, rounds = 3),
    // q266: mirrors Events.competingRisks exactly — `competingCtes`,
    // the EXCLUSIVE-prior ln/exp chain for S(d-) (coalesce(sum,0) so day
    // 0 sees S=1; a saturated prior day forces 0.0), tie at ta = tb goes
    // to cause B ('error' < 'purchase' by the type-name-asc contract,
    // hence the literal FALSE/TRUE tie arms).
    "q266_competing_risks" ->
      s"""WITH $competingCtes,
         g AS (SELECT d, ea, eb, e_all, n_risk,
             CASE WHEN e_all < n_risk
               THEN ln(1.0 - CAST(e_all AS DOUBLE) / n_risk) END AS lt,
             CASE WHEN e_all = n_risk THEN 1 ELSE 0 END AS sat
           FROM r),
         c AS (SELECT d, ea, eb, n_risk,
             CASE WHEN COALESCE(max(sat) OVER wp, 0) > 0 THEN 0.0
               ELSE exp(COALESCE(sum(lt) OVER wp, 0.0)) END AS sprev
           FROM g WINDOW wp AS (ORDER BY d ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         i AS (SELECT d, ea, eb, n_risk,
             sprev * CAST(ea AS DOUBLE) / n_risk AS inca,
             sprev * CAST(eb AS DOUBLE) / n_risk AS incb
           FROM c)
         SELECT d AS duration_days, n_risk, ea AS ev_a, eb AS ev_b,
           round(sum(inca) OVER wi, 4) AS cif_a,
           round(sum(incb) OVER wi, 4) AS cif_b
         FROM i WINDOW wi AS (ORDER BY d ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // q272: mirrors DataQuality.anovaF — exact cents, per-group micros
    // floor on the HUGEINT ladder, one mirrored double division each
    // for F and eta-squared.
    "q272_anova_f" ->
      """WITH v AS (SELECT event_type,
           CAST(round(value * 100) AS BIGINT) AS x
         FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL),
       g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS s,
           sum(CAST(x AS HUGEINT) * x) AS ss
         FROM v GROUP BY 1),
       p AS (SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS nn,
           CAST(sum(s) AS HUGEINT) AS stot, sum(ss) AS sstot,
           sum((CAST(s AS HUGEINT) * s * 1000000) // n) AS tg
         FROM g),
       q AS (SELECT k, nn AS n,
           tg - (stot * stot * 1000000) // nn AS ssb,
           sstot * 1000000 - tg AS ssw
         FROM p)
       SELECT k, n,
         round(CASE WHEN k > 1 AND n > k AND ssw > 0
           THEN (CAST(ssb AS DOUBLE) * CAST(n - k AS DOUBLE))
             / (CAST(ssw AS DOUBLE) * CAST(k - 1 AS DOUBLE)) END, 4)
           AS f_stat,
         round(CASE WHEN ssb + ssw > 0
           THEN CAST(ssb AS DOUBLE) / CAST(ssb + ssw AS DOUBLE) END, 4)
           AS eta_sq
       FROM q""",
    // q285: mirrors Similarity.mutualPairPurity — q278's ROUTED mutual
    // pairs with label lookups, exact agreement + marginal-squares
    // chance, signed subtraction only.
    "q285_mutual_pair_purity" ->
      OracleGen.mutualPairPurityRoutedSql(stride = 10L,
        nCentroids = 16, nProbe = 4),
    // q286: mirrors Events.causeSpecificHazards — q266's `competingCtes`
    // day table and risk sets, per-day integer-micros hazard
    // floors, one pooled TOTAL row (NULL day) with person-day rates,
    // the Sa/Sb rate ratio, and the closed-form log-rank z.
    "q286_cause_hazards" ->
      s"""WITH $competingCtes,
         p AS (SELECT CAST(sum(n_risk) AS BIGINT) AS pd,
             CAST(sum(ea) AS BIGINT) AS sa,
             CAST(sum(eb) AS BIGINT) AS sb
           FROM r)
         SELECT d AS duration_days, n_risk, ea AS ev_a, eb AS ev_b,
           (1000000 * ea) // n_risk AS hazard_a_micros,
           (1000000 * eb) // n_risk AS hazard_b_micros,
           CASE WHEN eb > 0 THEN (1000000 * ea) // eb END
             AS ratio_micros,
           CAST(NULL AS DOUBLE) AS logrank_z
         FROM r
         UNION ALL
         SELECT CAST(NULL AS BIGINT), pd, sa, sb,
           CASE WHEN pd > 0 THEN (1000000 * sa) // pd END,
           CASE WHEN pd > 0 THEN (1000000 * sb) // pd END,
           CASE WHEN sb > 0 THEN (1000000 * sa) // sb END,
           round(CASE WHEN sa + sb > 0
             THEN CAST(sa - sb AS DOUBLE)
               / sqrt(CAST(sa + sb AS DOUBLE)) END, 4)
         FROM p""",
    // q284: mirrors Events.hooverIndex — q152's entity rollup, the
    // |n*x - S| dev ladder in HUGEINT, one non-negative floor division.
    "q284_hoover_index" ->
      """WITH per AS (SELECT event_type, user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx
           FROM per GROUP BY 1),
         d AS (SELECT per.event_type, st.n, st.sx,
             abs(CAST(st.n AS HUGEINT) * per.x - st.sx) AS dev
           FROM per JOIN st USING (event_type)),
         a AS (SELECT event_type, max(n) AS n,
             CAST(max(sx) AS BIGINT) AS total_cents, sum(dev) AS dev
           FROM d GROUP BY 1)
         SELECT event_type, n, total_cents,
           CASE WHEN total_cents > 0
             THEN CAST((1000000 * dev)
               // (2 * CAST(n AS HUGEINT) * total_cents) AS BIGINT)
           END AS hoover_micros
         FROM a""",
    // q282: mirrors DataQuality.cochranQ — q209's langid pairing plus
    // two deterministic screens; exact integer sums, HUGEINT squares,
    // one mirrored double division. The IS NOT NULL predicates pin the
    // Spark face's complete-rows contract (cochranQ drops rows with
    // ANY null flag — a paired test needs complete rows), so n agrees
    // even if documents ever carry NULL text/n_chars.
    "q282_cochran_q" -> {
      s"""WITH $langIdCtes,
         f AS (SELECT
             CASE WHEN p.pred_lang = 'en' THEN 1 ELSE 0 END AS x0,
             CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS x1,
             CASE WHEN len(string_split(d.text, ' ')) >= 50
               THEN 1 ELSE 0 END AS x2
           FROM pred p JOIN documents d USING (doc_id)
           WHERE p.pred_lang IS NOT NULL AND d.n_chars IS NOT NULL
             AND d.text IS NOT NULL),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x0) AS BIGINT) AS c0,
             CAST(sum(x1) AS BIGINT) AS c1,
             CAST(sum(x2) AS BIGINT) AS c2,
             CAST(sum(x0 + x1 + x2) AS BIGINT) AS sr,
             CAST(sum((x0 + x1 + x2) * (x0 + x1 + x2)) AS BIGINT)
               AS sr2
           FROM f)
         SELECT CAST(3 AS BIGINT) AS k, n,
           round(CASE WHEN 3 * sr - sr2 > 0
             THEN CAST(2 * (3 * (CAST(c0 AS HUGEINT) * c0
                   + CAST(c1 AS HUGEINT) * c1
                   + CAST(c2 AS HUGEINT) * c2)
                 - CAST(c0 + c1 + c2 AS HUGEINT) * (c0 + c1 + c2))
                 AS DOUBLE)
               / CAST(3 * sr - sr2 AS DOUBLE) END, 4) AS q_stat
         FROM a"""
    },
    // q283: mirrors Events.sessionMarkovFunnel2 — q257's step chain
    // over bigram states (in-session triples, absorbing state encoded
    // under the plain conversion name).
    "q283_session_markov2" -> OracleGen.sessionMarkovFunnelSql(
      """seq AS (SELECT user_id, event_type AS t0,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             CAST(epoch(date_trunc('second', lead(ts, 1) OVER w))
                 AS BIGINT)
               - CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS g1,
             CAST(epoch(date_trunc('second', lead(ts, 2) OVER w))
                 AS BIGINT)
               - CAST(epoch(date_trunc('second', lead(ts, 1) OVER w))
                 AS BIGINT) AS g2
           FROM events
           WINDOW w AS (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC)),
         pr AS (SELECT t0 || '>' || t1 AS from_type,
             CASE WHEN t2 = 'purchase' THEN 'purchase'
               ELSE t1 || '>' || t2 END AS to_type,
             CAST(count(*) AS BIGINT) AS n
           FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
             AND g1 <= 1800 AND g2 <= 1800 AND t1 <> 'purchase'
           GROUP BY 1, 2)"""),
    // q281: mirrors Graph.richClub — q169's und edge canonicalization,
    // exact degree/edge counts, HUGEINT-floored density per degree bar.
    "q281_rich_club" ->
      """WITH ev AS (SELECT user_id, event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events),
         tr AS (SELECT lag(k) OVER (PARTITION BY user_id
               ORDER BY event_id ASC) AS src, k AS dst
           FROM ev WHERE k IS NOT NULL),
         und AS (SELECT DISTINCT least(src, dst) AS a,
             greatest(src, dst) AS b
           FROM tr WHERE src IS NOT NULL AND src <> dst),
         nodes AS (SELECT a AS node FROM und
           UNION ALL SELECT b FROM und),
         deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
           FROM nodes GROUP BY 1),
         ks AS (SELECT CAST(k AS BIGINT) AS k
           FROM UNNEST([1, 2, 4, 8]) t(k)),
         nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
           FROM ks, deg WHERE deg > k GROUP BY 1),
         ed AS (SELECT da.deg AS da, db.deg AS db FROM und
           JOIN deg da ON da.node = und.a
           JOIN deg db ON db.node = und.b),
         ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
           FROM ks, ed WHERE da > k AND db > k GROUP BY 1)
         SELECT ks.k, COALESCE(nk.n_nodes, 0) AS n_nodes,
           COALESCE(ek.n_edges, 0) AS n_edges,
           CASE WHEN COALESCE(nk.n_nodes, 0) >= 2
             THEN CAST((2000000 * CAST(COALESCE(ek.n_edges, 0)
                 AS HUGEINT))
               // (CAST(nk.n_nodes AS HUGEINT) * (nk.n_nodes - 1))
               AS BIGINT) END AS phi_micros
         FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)""",
    // q280: mirrors Events.timeDecayAttribution — q135's journey
    // binding, power-of-two halvings (exact), floored shares with the
    // remainder to the closest touch.
    "q280_time_decay_attribution" ->
      """WITH f AS (SELECT user_id, event_id, ts, event_type FROM events
           WHERE event_type IN ('click', 'purchase')),
         b AS (SELECT user_id, event_id, ts, event_type,
             first_value(CASE WHEN event_type = 'purchase'
                 THEN event_id END IGNORE NULLS) OVER wn AS conv_id,
             first_value(CASE WHEN event_type = 'purchase'
                 THEN ts END IGNORE NULLS) OVER wn AS conv_ts
           FROM f
           WINDOW wn AS (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
         t AS (SELECT user_id, conv_id, event_id AS touch_id, ts,
             (CAST(epoch(date_trunc('second', conv_ts)) AS BIGINT)
               - CAST(epoch(date_trunc('second', ts)) AS BIGINT))
               // 86400 AS halvings
           FROM b WHERE event_type = 'click' AND conv_id IS NOT NULL),
         w AS (SELECT *, 1000000
             // CAST(power(2.0, LEAST(halvings, 20)) AS BIGINT) AS w
           FROM t),
         c AS (SELECT user_id, conv_id, touch_id, halvings, w,
             CAST(sum(w) OVER wc AS BIGINT) AS sw,
             row_number() OVER (PARTITION BY user_id, conv_id
               ORDER BY ts DESC, touch_id DESC) AS rn
           FROM w WINDOW wc AS (PARTITION BY user_id, conv_id)),
         d AS (SELECT user_id, conv_id, touch_id, halvings, rn,
             CASE WHEN sw > 0 THEN (1000000 * w) // sw ELSE 0 END AS base
           FROM c),
         e AS (SELECT *, CAST(sum(base) OVER (
             PARTITION BY user_id, conv_id) AS BIGINT) AS tot
           FROM d)
         SELECT user_id, conv_id, touch_id, halvings,
           base + CASE WHEN rn = 1 THEN 1000000 - tot ELSE 0 END
             AS credit_micros
         FROM e""",
    // q279: mirrors TextAnalysis.doremiMix — q85's unigram NLL with the
    // whole corpus as reference, per-doc round-4 -> exact micros,
    // integer domain means / baseline / excess / floored weights.
    "q279_doremi_mix" ->
      """WITH rt AS (SELECT u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
         model AS (SELECT tok, count(*) AS cnt FROM rt GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM rt),
         dt AS (SELECT doc_id, u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
         s AS (SELECT doc_id,
             -ln(CAST(COALESCE(cnt, 1) AS DOUBLE) / total) AS nll
           FROM dt CROSS JOIN tot LEFT JOIN model USING (tok)),
         pd AS (SELECT doc_id,
             CAST(round(round(sum(nll) / count(*), 4) * 10000)
               AS BIGINT) * 100 AS nll_micros
           FROM s GROUP BY 1),
         dom AS (SELECT d.source AS domain,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nll_micros) AS BIGINT) AS snll
           FROM documents d JOIN pd USING (doc_id) GROUP BY 1),
         b AS (SELECT CAST(sum(CAST(snll AS HUGEINT)) // sum(n_docs)
               AS BIGINT) AS base,
             CAST(count(*) AS BIGINT) AS k
           FROM dom),
         ex AS (SELECT domain, n_docs, snll // n_docs AS nll_micros,
             GREATEST(0, snll // n_docs - base) AS excess_micros, k
           FROM dom CROSS JOIN b),
         t AS (SELECT CAST(sum(excess_micros) AS BIGINT) AS tex FROM ex)
         SELECT domain, n_docs, nll_micros, excess_micros,
           CASE WHEN tex > 0
             THEN ((1000000 - 200000) * excess_micros) // tex
               + 200000 // k
             ELSE 1000000 // k END AS mix_weight_micros
         FROM ex CROSS JOIN t""",
    // q277: mirrors Sampling.effectiveSampleSize — exact long weights,
    // HUGEINT moment sums, one mirrored double division per output.
    "q277_effective_sample_size" ->
      """WITH w AS (SELECT lang, CAST(n_chars AS BIGINT) AS w
           FROM documents
           WHERE n_chars IS NOT NULL AND n_chars >= 0),
         g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(w) AS BIGINT) AS sum_w,
             sum(CAST(w AS HUGEINT) * w) AS w2
           FROM w GROUP BY 1)
         SELECT lang, n, sum_w,
           round(CASE WHEN w2 > 0
             THEN CAST(CAST(sum_w AS HUGEINT) * sum_w AS DOUBLE)
               / CAST(w2 AS DOUBLE) END, 4) AS ess,
           round(CASE WHEN w2 > 0
             THEN CAST(CAST(sum_w AS HUGEINT) * sum_w AS DOUBLE)
               / (CAST(w2 AS DOUBLE) * CAST(n AS DOUBLE)) END, 4)
             AS ess_share
         FROM g""",
    // q278: mirrors Similarity.mutualTopOneRouted — the IVF routing
    // replay on the stride-10 subset (round-6 assignment, cent_id
    // tie-break, every member probes 4 of 16 cells), q26 scoring
    // contract, top-1 per query, mutual self-join, a < b.
    "q278_mutual_top1" ->
      OracleGen.mutualTopOneRoutedSql(stride = 10L,
        nCentroids = 16, nProbe = 4),
    // q276: mirrors DataQuality.lDiversityAudit — q221's QI classes,
    // count(DISTINCT band) per class, exact counts, one micros floor.
    "q276_l_diversity" ->
      """WITH s AS (SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT CAST(floor(c_acctbal / 1000)
               AS BIGINT)) AS BIGINT) AS ldist
           FROM customer GROUP BY 1, 2),
         a AS (SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes,
             min(ldist) AS min_l,
             CAST(sum(CASE WHEN ldist < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_below_l,
             CAST(sum(CASE WHEN ldist < 3 THEN sz ELSE 0 END)
               AS BIGINT) AS rows_below_l
           FROM s)
         SELECT 'c_nationkey,c_mktsegment' AS qi, n_rows, n_classes,
           min_l, classes_below_l, rows_below_l,
           (1000000 * rows_below_l) // n_rows AS at_risk_rate_micros
         FROM a""",
    // q275: mirrors Similarity.mrlTruncationEval — the q26 pair stage
    // with prefix-slice cosines, round-4 + 0.0 before ranking, cand_id
    // tie-break, exact overlap counts floored to micros.
    "q275_mrl_truncation" -> {
      def cosOf(a: String, b: String) =
        s"""round(list_dot_product($a, $b)
           / (sqrt(list_dot_product($a, $a))
             * sqrt(list_dot_product($b, $b))), 4) + 0.0"""
      def topOf(scoreCol: String, tag: String) =
        s"""t$tag AS (SELECT query_id, cand_id FROM
           (SELECT query_id, cand_id, row_number() OVER (
              PARTITION BY query_id
              ORDER BY $scoreCol DESC, cand_id ASC) AS rn FROM pairs)
           WHERE rn <= 5)"""
      def outOf(d: Int) =
        s"""SELECT CAST($d AS BIGINT) AS trunc_dim, nq.nq AS n_queries,
           CAST(5 AS BIGINT) AS k,
           (1000000 * h$d.hits) // (5 * nq.nq) AS overlap_micros
         FROM h$d, nq"""
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id % 100 = 0),
         pairs AS (SELECT query_id, e.vec_id AS cand_id,
             ${cosOf("qv", "v")} AS cos_full,
             ${cosOf("qv[1:16]", "v[1:16]")} AS cos_16,
             ${cosOf("qv[1:32]", "v[1:32]")} AS cos_32
           FROM e, q WHERE e.vec_id <> query_id),
         ${topOf("cos_full", "full")},
         ${topOf("cos_16", "16")},
         ${topOf("cos_32", "32")},
         nq AS (SELECT CAST(count(*) AS BIGINT) AS nq FROM q),
         h16 AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM t16 JOIN tfull USING (query_id, cand_id)),
         h32 AS (SELECT CAST(count(*) AS BIGINT) AS hits
           FROM t32 JOIN tfull USING (query_id, cand_id))
         ${outOf(16)}
         UNION ALL ${outOf(32)}"""
    },
    // q274: mirrors DataQuality.kruskalWallis — doubled average ranks
    // over distinct cents (2*cum + t + 1, exact), per-group micros
    // floor of R^2/n on the HUGEINT ladder, one mirrored double
    // expression each for H and the tie correction.
    "q274_kruskal_wallis" ->
      """WITH v AS (SELECT event_type AS g,
           CAST(round(value * 100) AS BIGINT) AS v
         FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL),
       per AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt
         FROM v GROUP BY 1, 2),
       vc AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS t FROM per
         GROUP BY 1),
       vr AS (SELECT v, t,
           CAST(COALESCE(sum(t) OVER (ORDER BY v ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum
         FROM vc),
       r2 AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g,
           CAST(sum(cnt * (2 * cum + t + 1)) AS BIGINT) AS r2
         FROM per JOIN vr USING (v) GROUP BY 1),
       ties AS (SELECT COALESCE(sum(CAST(t AS HUGEINT) * t * t - t), 0)
           AS tsum
         FROM vc),
       p AS (SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(n_g) AS BIGINT) AS n,
           sum((CAST(r2 AS HUGEINT) * r2 * 1000000) // (4 * n_g)) AS u
         FROM r2),
       hh AS (SELECT k, n, tsum,
           12.0 * CAST(u AS DOUBLE)
             / (1000000.0 * CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
             - 3.0 * CAST(n + 1 AS DOUBLE) AS h,
           CAST(n AS HUGEINT) * n * n - n AS n3n
         FROM p CROSS JOIN ties)
       SELECT k, n,
         round(CASE WHEN k > 1 AND n > 1 THEN h END, 4) AS h_stat,
         round(CASE WHEN k > 1 AND n > 1 AND n3n > tsum
           THEN h / (1.0 - CAST(tsum AS DOUBLE) / CAST(n3n AS DOUBLE))
           END, 4) AS h_corrected
       FROM hh""",
    // q273: mirrors DataQuality.mcnemar — q209's pred/gold pairing on
    // the binary is-English call, discordant cells only, one mirrored
    // double division per chi-square form. The IS NOT NULL predicates
    // pin the Spark face's complete-rows contract (mcnemar drops rows
    // where either flag is null), so n agrees even if documents ever
    // carry NULL text/lang.
    "q273_mcnemar" ->
      s"""WITH $langIdCtes,
         j AS (SELECT (p.pred_lang = 'en') AS a, (d.lang = 'en') AS b
           FROM pred p JOIN documents d USING (doc_id)
           WHERE p.pred_lang IS NOT NULL AND d.lang IS NOT NULL),
         cells AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
               AS BIGINT) AS b_only,
             CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
               AS BIGINT) AS c_only
           FROM j)
         SELECT n, b_only, c_only,
           round(CASE WHEN b_only + c_only > 0
             THEN CAST((b_only - c_only) * (b_only - c_only) AS DOUBLE)
               / CAST(b_only + c_only AS DOUBLE) END, 4) AS chi2,
           round(CASE WHEN b_only + c_only > 0
             THEN CAST((abs(b_only - c_only) - 1)
                 * (abs(b_only - c_only) - 1) AS DOUBLE)
               / CAST(b_only + c_only AS DOUBLE) END, 4) AS chi2_cc
         FROM cells""",
    // q307: mirrors DataQuality.breslowDay — q271's cells, the 4-dp
    // psi, the hypergeometric quadratic with identical float
    // parenthesization, per-stratum micros rounding, exact long sum.
    "q307_breslow_day" ->
      s"""WITH $stratifiedCellsCte,
       p AS (SELECT round(CASE WHEN den > 0
             THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END, 4)
             AS psi
           FROM (SELECT
             sum((CAST(a AS HUGEINT) * d * 1000000) // (a + b + c + d))
               AS num,
             sum((CAST(b AS HUGEINT) * c * 1000000) // (a + b + c + d))
               AS den
           FROM cells)),
       t0 AS (SELECT cells.*, psi,
           (a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0)
             AS used,
           CAST(a + b AS DOUBLE) AS m1, CAST(c + d AS DOUBLE) AS m0,
           CAST(a + c AS DOUBLE) AS n1,
           CAST(a + b + c + d AS DOUBLE) AS nt
         FROM cells CROSS JOIN p),
       t1 AS (SELECT *, psi - 1.0 AS qa,
           -(psi * (m1 + n1) + (m0 - n1)) AS qb,
           psi * m1 * n1 AS qc
         FROM t0),
       t2 AS (SELECT *,
           sqrt(greatest(qb * qb - 4.0 * qa * qc, 0.0)) AS sq,
           greatest(0.0, n1 - m0) AS lo, least(m1, n1) AS hi
         FROM t1),
       t3 AS (SELECT *, (-qb - sq) / (2.0 * qa) AS r1,
           (-qb + sq) / (2.0 * qa) AS r2
         FROM t2),
       t4 AS (SELECT *, CASE WHEN psi = 1.0 THEN (m1 * n1) / nt
           WHEN r1 >= lo AND r1 <= hi THEN r1 ELSE r2 END AS at
         FROM t3),
       t5 AS (SELECT *, m1 - at AS bt, n1 - at AS ct,
           (m0 - n1) + at AS dt
         FROM t4),
       t6 AS (SELECT psi, used,
           CASE WHEN used AND at > 0 AND bt > 0 AND ct > 0 AND dt > 0
             THEN CAST(round(((CAST(a AS DOUBLE) - at)
               * (CAST(a AS DOUBLE) - at)
               * ((1.0 / at + 1.0 / bt) + (1.0 / ct + 1.0 / dt)))
               * 1000000.0) AS BIGINT)
             ELSE 0 END AS tm
         FROM t5)
       SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(CASE WHEN used THEN 1 ELSE 0 END) AS BIGINT)
           AS n_used,
         psi AS or_mh,
         CAST(sum(tm) AS BIGINT) AS x2_micros,
         CASE WHEN sum(CASE WHEN used THEN 1 ELSE 0 END) >= 2
             AND psi IS NOT NULL
           THEN round(CAST(sum(tm) AS DOUBLE) / 1000000.0, 4) + 0.0
           END AS bd_x2,
         CASE WHEN sum(CASE WHEN used THEN 1 ELSE 0 END) >= 2
             AND psi IS NOT NULL
           THEN CAST(sum(CASE WHEN used THEN 1 ELSE 0 END) - 1
             AS BIGINT) END AS df
       FROM t6 GROUP BY psi""",
    // q271: mirrors DataQuality.cmhOddsRatio — per-stratum 2x2 cells,
    // per-term micros floor on the HUGEINT ladder, one mirrored double
    // division each for pooled and crude OR.
    "q271_cmh_odds_ratio" ->
      s"""WITH $stratifiedCellsCte,
       p AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
           sum((CAST(a AS HUGEINT) * d * 1000000) // (a + b + c + d))
             AS num,
           sum((CAST(b AS HUGEINT) * c * 1000000) // (a + b + c + d))
             AS den,
           CAST(sum(a) AS HUGEINT) AS ta, CAST(sum(b) AS HUGEINT) AS tb,
           CAST(sum(c) AS HUGEINT) AS tc, CAST(sum(d) AS HUGEINT) AS td
         FROM cells)
       SELECT n_strata,
         CAST(num AS BIGINT) AS num_micros,
         CAST(den AS BIGINT) AS den_micros,
         round(CASE WHEN den > 0
           THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END, 4)
           AS or_mh,
         round(CASE WHEN tb > 0 AND tc > 0
           THEN CAST(ta * td AS DOUBLE) / CAST(tb * tc AS DOUBLE) END,
           4) AS or_crude
       FROM p""",
    // q270: mirrors Events.dailyCrossCorrelation — union day grid with
    // 0-fill, exact n*y - S devs, HUGEINT moment sums, one mirrored
    // double division per lag, round-4 + 0.0.
    "q270_daily_ccf" ->
      """WITH daily AS (SELECT
           CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS y
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY 1),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy
         FROM daily),
       dev AS MATERIALIZED (SELECT day, n,
           n * x - sx AS dx, n * y - sy AS dy
         FROM daily CROSS JOIN st),
       c0 AS (SELECT sum(CAST(dx AS HUGEINT) * dx) AS cxx,
           sum(CAST(dy AS HUGEINT) * dy) AS cyy,
           CAST(max(n) AS BIGINT) AS n_days
         FROM dev),
       ch AS (SELECT u.lag,
           sum(CAST(a.dx AS HUGEINT) * b.dy) AS cxy
         FROM dev a
         CROSS JOIN UNNEST([-4, -3, -2, -1, 0, 1, 2, 3, 4]) AS u(lag)
         JOIN dev b ON b.day = a.day + u.lag
         GROUP BY 1),
       l AS (SELECT CAST(lag AS BIGINT) AS lag
         FROM UNNEST([-4, -3, -2, -1, 0, 1, 2, 3, 4]) AS t(lag))
       SELECT l.lag, c0.n_days,
         round(CASE WHEN c0.cxx > 0 AND c0.cyy > 0
           THEN CAST(ch.cxy AS DOUBLE)
             / (sqrt(CAST(c0.cxx AS DOUBLE)) * sqrt(CAST(c0.cyy
                 AS DOUBLE))) END, 4) + 0.0 AS ccf
       FROM l LEFT JOIN ch ON ch.lag = l.lag CROSS JOIN c0""",
    // q269: mirrors Events.rmst — `kmLogStepCtes`' ln/exp chain,
    // step-function integral over ordered windows, last row by max_by
    // on the unique day key, tau = 30.
    "q269_rmst" ->
      s"""WITH $kmLogStepCtes,
         c AS (SELECT d, n_at,
             CASE WHEN e_at = n_risk THEN 0.0
               ELSE exp(sum(t) OVER wi) END AS surv
           FROM lt WINDOW wi AS (ORDER BY d ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         k AS (SELECT d, n_at, surv,
             COALESCE(lag(d) OVER (ORDER BY d ASC), 0) AS dprev,
             COALESCE(lag(surv) OVER (ORDER BY d ASC), 1.0) AS sprev
           FROM c),
         t2 AS (SELECT d, n_at, surv,
             sprev * CAST(LEAST(d, 30) - LEAST(dprev, 30) AS DOUBLE)
               AS term
           FROM k),
         u AS (SELECT d, n_at, surv,
             sum(term) OVER (ORDER BY d ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t2)
         SELECT CAST(30 AS BIGINT) AS tau_days,
           CAST(sum(n_at) AS BIGINT) AS n_starts,
           round(max_by(cum, d)
             + max_by(surv, d)
               * CAST(30 - LEAST(max(d), 30) AS DOUBLE), 4) AS rmst_days
         FROM u""",
    // q296: mirrors Multimodal synth->WAV->parse->window — the oracle
    // re-synthesizes the PCM SAMPLES from the same integer formula and
    // computes the same window moments; a hash match proves the real
    // encoder/parser roundtrip is the identity on every window.
    "q296_audio_windows" ->
      """WITH src AS (SELECT doc_id FROM documents
           WHERE doc_id % 20 = 0),
         params AS (SELECT doc_id, 256 + (doc_id % 5) * 64 AS n
           FROM src),
         samp AS (SELECT doc_id, i,
             ((doc_id * 7 + i * 31) % 61 - 30) * 256 AS s
           FROM params, UNNEST(range(0, n)) AS u(i)),
         lagged AS (SELECT doc_id, i, s, i // 128 AS w,
             lag(s) OVER (PARTITION BY doc_id ORDER BY i ASC) AS sp
           FROM samp)
         SELECT doc_id AS media_id, w, CAST(count(*) AS BIGINT)
             AS n_frames,
           CAST(sum(s * s) AS BIGINT) AS sumsq,
           CAST(sum(CASE WHEN i % 128 > 0 AND ((s >= 0) <> (sp >= 0))
             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           round(sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)), 6) AS rms
         FROM lagged GROUP BY 1, 2""",
    // q299: mirrors Sketches.hllReplay — md5-prefix 60-bit hash,
    // register/rank integers, exact shifted harmonic numerators, one
    // mirrored division + small-range-correction branch.
    "q299_hll_replay" -> {
      val alpha = 0.7213 / (1 + 1.079 / 256)
      val numer = alpha * math.pow(2.0, 69)
      s"""WITH tok AS (SELECT t AS k FROM (SELECT
             UNNEST(string_split(text, ' ')) AS t FROM documents)
           WHERE len(t) > 0),
         hashed AS (SELECT CAST(('0x' || substring(md5(k), 1, 15))
             AS BIGINT) AS h FROM tok),
         rw AS (SELECT h % 256 AS r, h // 256 AS w FROM hashed),
         rho AS (SELECT r, CASE WHEN w = 0 THEN 53
             ELSE 53 - length(bin(w)) END AS rho FROM rw),
         regs AS (SELECT r, max(rho) AS mr FROM rho GROUP BY 1),
         sk AS (SELECT CAST(count(*) AS BIGINT) AS nonempty,
             CAST(sum(1::BIGINT << (53 - mr)) AS BIGINT) AS ssum
           FROM regs),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT k) AS BIGINT) AS n_keys FROM tok),
         est AS (SELECT n_rows, n_keys, nonempty, 256 - nonempty AS v,
             $numer / CAST(ssum + (256 - nonempty) * (1::BIGINT << 53)
               AS DOUBLE) AS raw
           FROM ex CROSS JOIN sk),
         fin AS (SELECT n_rows, n_keys, nonempty,
             CASE WHEN raw <= 640.0 AND v > 0
               THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
               ELSE raw END AS e
           FROM est)
         SELECT n_rows, n_keys, nonempty AS nonempty_registers,
           round(e, 4) + 0.0 AS hll_estimate,
           CASE WHEN n_keys > 0 THEN
             CAST(round((e / CAST(n_keys AS DOUBLE) - 1.0)
               * 1000000.0) AS BIGINT) END AS err_ppm
         FROM fin"""
    },
    // q303: mirrors Sketches.hllOverlap — q167's fingerprint keys,
    // q299's register/rank/moment integers PER SOURCE, register-wise
    // max for the union sketch, one mirrored estimate per relation,
    // inclusion-exclusion over the rounded estimates.
    "q303_hll_overlap" -> {
      val alpha = 0.7213 / (1 + 1.079 / 256)
      val numer = alpha * math.pow(2.0, 69)
      def estSql(from: String, keys: String) =
        s"""SELECT $keys,
             round(CASE WHEN raw <= 640.0 AND v > 0
               THEN 256.0 * ln(256.0 / CAST(v AS DOUBLE))
               ELSE raw END, 4) + 0.0 AS e
           FROM (SELECT $keys, 256 - nonempty AS v,
               $numer / CAST(ssum + (256 - nonempty)
                 * (1::BIGINT << 53) AS DOUBLE) AS raw
             FROM $from)"""
      s"""WITH keyed AS (SELECT source AS s,
             md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS k
           FROM documents WHERE source IS NOT NULL),
         hashed AS (SELECT s, CAST(('0x' || substring(md5(k), 1, 15))
             AS BIGINT) AS h FROM keyed WHERE k IS NOT NULL),
         rw AS (SELECT s, h % 256 AS r, h // 256 AS w FROM hashed),
         rho AS (SELECT s, r, CASE WHEN w = 0 THEN 53
             ELSE 53 - length(bin(w)) END AS rho FROM rw),
         regs AS (SELECT s, r, max(rho) AS mr FROM rho GROUP BY 1, 2),
         mom AS (SELECT s, CAST(count(*) AS BIGINT) AS nonempty,
             CAST(sum(1::BIGINT << (53 - mr)) AS BIGINT) AS ssum
           FROM regs GROUP BY 1),
         est AS (${estSql("mom", "s")}),
         pairs AS (SELECT a.s AS sa, a.e AS est_a, b.s AS sb,
             b.e AS est_b
           FROM est a JOIN est b ON a.s < b.s),
         uregs AS (SELECT p.sa, p.sb, g.r, max(g.mr) AS mr
           FROM regs g JOIN (SELECT sa, sb FROM pairs) p
             ON g.s = p.sa OR g.s = p.sb
           GROUP BY 1, 2, 3),
         umom AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS nonempty,
             CAST(sum(1::BIGINT << (53 - mr)) AS BIGINT) AS ssum
           FROM uregs GROUP BY 1, 2),
         uest AS (SELECT sa, sb, e AS est_union
           FROM (${estSql("umom", "sa, sb")}) ue),
         dk AS (SELECT DISTINCT s, k FROM keyed WHERE k IS NOT NULL),
         exact AS (SELECT a.s AS sa, b.s AS sb,
             CAST(count(*) AS BIGINT) AS n_common
           FROM dk a JOIN dk b ON a.k = b.k AND a.s < b.s
           GROUP BY 1, 2)
         SELECT sa AS source_a, sb AS source_b, est_a, est_b,
           est_union,
           round(est_a + est_b - est_union, 4) + 0.0 AS est_overlap,
           CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common,
           CASE WHEN COALESCE(n_common, 0) > 0
             THEN CAST(round(((est_a + est_b - est_union)
               / CAST(n_common AS DOUBLE) - 1.0) * 1000000.0)
               AS BIGINT) END AS err_ppm
         FROM pairs JOIN uest USING (sa, sb)
           LEFT JOIN exact USING (sa, sb)"""
    },
    // q308: mirrors Events.theilDecomposition — per-doc nanos terms,
    // exact long sums, three mirrored round-6 float tails.
    "q308_theil_decomposition" ->
      """WITH per AS (SELECT source AS g, doc_id,
           CAST(sum(n_chars) AS BIGINT) AS x
           FROM documents GROUP BY 1, 2),
         gt AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(x) AS BIGINT) AS sg
           FROM per GROUP BY 1),
         tot AS (SELECT CAST(sum(ng) AS BIGINT) AS nn,
             CAST(sum(sg) AS BIGINT) AS ss FROM gt),
         terms AS (SELECT g, CASE WHEN x > 0 THEN
             CAST(round(((CAST(x AS DOUBLE) / sg)
               * ln((CAST(x AS DOUBLE) * ng) / sg))
               * 1000000000.0) AS BIGINT)
             ELSE 0 END AS tn
           FROM per JOIN gt USING (g)),
         tw AS (SELECT g, CAST(sum(tn) AS BIGINT) AS twn FROM terms
           GROUP BY 1),
         fin AS (SELECT gt.g, ng, sg, twn, nn, ss,
             CASE WHEN sg > 0 THEN (CAST(sg AS DOUBLE) / ss)
               * ln((CAST(sg AS DOUBLE) * nn)
                 / (CAST(ss AS DOUBLE) * ng))
               ELSE 0.0 END AS braw
           FROM gt JOIN tw USING (g) CROSS JOIN tot)
         SELECT g AS source, ng AS n_entities, sg AS x_sum,
           CAST((1000000 * sg) // ss AS BIGINT) AS share_micros,
           round(CAST(twn AS DOUBLE) / 1000000000.0, 6) + 0.0
             AS theil_within,
           round(braw, 6) + 0.0 AS theil_between_term,
           round((CAST(sg AS DOUBLE) / ss)
             * (CAST(twn AS DOUBLE) / 1000000000.0) + braw, 6) + 0.0
             AS theil_contrib
         FROM fin""",
    // q311: mirrors Sketches.bloomReplay — q222 seed-hash positions,
    // bit_or word array, all-k-bits membership test, exact counts.
    "q311_bloom_replay" ->
      """WITH keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
           FROM orders WHERE o_custkey IS NOT NULL),
         h AS (SELECT i FROM range(0, 4) t(i)),
         pos AS (SELECT DISTINCT
             CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || '|'
               || k), 1, 8)) AS BIGINT) % 4096 AS pos
           FROM keys, h),
         words AS (SELECT pos // 63 AS w,
             CAST(bit_or(1::BIGINT << CAST(pos % 63 AS INT))
               AS BIGINT) AS bits
           FROM pos GROUP BY 1),
         probes AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
           FROM customer WHERE c_custkey IS NOT NULL),
         pp AS (SELECT k,
             CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || '|'
               || k), 1, 8)) AS BIGINT) % 4096 AS pos
           FROM probes, h),
         pj AS (SELECT k, CASE WHEN
             ((COALESCE(bits, 0) >> CAST(pos % 63 AS INT)) & 1) = 1
             THEN 1 ELSE 0 END AS hit
           FROM (SELECT k, pos // 63 AS w, pos FROM pp) q
           LEFT JOIN words USING (w)),
         perkey AS (SELECT k, CAST(sum(hit) AS BIGINT) = 4 AS positive
           FROM pj GROUP BY 1),
         nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM keys),
         bs AS (SELECT CAST(COALESCE(sum(bit_count(bits)), 0)
             AS BIGINT) AS bits_set FROM words),
         np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes
           FROM probes),
         ps AS (SELECT CAST(COALESCE(sum(CASE WHEN positive THEN 1
             ELSE 0 END), 0) AS BIGINT) AS n_positive FROM perkey),
         mem AS (SELECT CAST(count(*) AS BIGINT) AS n_members
           FROM probes WHERE k IN (SELECT k FROM keys))
         SELECT n_keys, CAST(4096 AS BIGINT) AS m_bits,
           CAST(4 AS BIGINT) AS k_hashes, bits_set, n_probes,
           n_positive, n_members,
           n_positive - n_members AS n_false_pos,
           CASE WHEN n_probes > n_members THEN
             (1000000 * (n_positive - n_members))
               // (n_probes - n_members) END AS fpr_ppm
         FROM nk, bs, np, ps, mem""",
    // q305: mirrors TextAnalysis.chaoShenEntropy — q259's token count
    // CTEs, coverage-shrunk probabilities, per-term nanos rounding
    // (identical parenthesization), exact long sums, round-4 tails.
    "q305_chao_shen_entropy" ->
      """WITH cnt AS (SELECT lang, u.term, CAST(count(*) AS BIGINT) AS c
           FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
           WHERE u.term <> '' GROUP BY 1, 2),
         tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS v,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1
           FROM cnt GROUP BY 1),
         terms AS (SELECT cnt.lang, t, v, n1,
             CAST(c AS DOUBLE) / t AS ph,
             (CAST(t - n1 AS DOUBLE) / t) * (CAST(c AS DOUBLE) / t)
               AS pa
           FROM cnt JOIN tot USING (lang)),
         r AS (SELECT lang, t, v, n1,
             CAST(round((ph * ln(ph)) * 1000000000.0) AS BIGINT) AS tp,
             CASE WHEN pa > 0 THEN
               CAST(round(((pa * ln(pa)) /
                 (CASE WHEN pa < 1.0 THEN 1.0 - exp(CAST(t AS DOUBLE)
                   * ln(1.0 - pa)) ELSE 1.0 END))
                 * 1000000000.0) AS BIGINT)
               ELSE 0 END AS tc
           FROM terms)
         SELECT lang, t AS n_tokens, v AS vocab, n1,
           CAST(1000000 - (1000000 * n1) // t AS BIGINT)
             AS coverage_micros,
           round(-CAST(sum(tp) AS DOUBLE) / 1000000000.0, 4) + 0.0
             AS h_plugin,
           CASE WHEN n1 < t THEN
             round(-CAST(sum(tc) AS DOUBLE) / 1000000000.0, 4) + 0.0
             END AS h_chao_shen
         FROM r GROUP BY 1, 2, 3, 4""",
    // q304: mirrors DataQuality.psisKhat over TextAnalysis.dsirWeights
    // — q109's weight CTEs verbatim, 4-dp log-weights to exact 1e4
    // integers, top-51 order stats (lw desc, doc_id asc), Hill
    // mean-excess as one exact long sum + one mirrored division.
    "q304_psis_khat" ->
      """WITH dt AS (SELECT doc_id, source = 'src0' AS tgt, u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
         model AS (SELECT tok, count(*) AS c_raw,
             CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
               AS c_tgt
           FROM dt GROUP BY 1),
         tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
             CAST(sum(c_tgt) AS BIGINT) AS t_tgt,
             count(*) AS v FROM model),
         s AS (SELECT doc_id,
             ln(CAST(c_tgt + 1 AS DOUBLE) / (t_tgt + v))
               - ln(CAST(c_raw + 1 AS DOUBLE) / (t_raw + v)) AS lr
           FROM dt JOIN model USING (tok) CROSS JOIN tot),
         wts AS (SELECT doc_id,
             CAST(round((round(sum(lr) / count(*), 4) + 0.0) * 10000)
               AS BIGINT) AS lw
           FROM s GROUP BY doc_id),
         rk AS (SELECT lw, doc_id, row_number() OVER (ORDER BY lw DESC,
             doc_id ASC) AS rk FROM wts),
         ref AS (SELECT lw AS lw_ref FROM rk WHERE rk = 51),
         ex AS (SELECT CAST(count(*) AS BIGINT) AS n_top,
             CAST(sum(lw - lw_ref) AS BIGINT) AS excess_sum_tenk
           FROM rk CROSS JOIN ref WHERE rk <= 50),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_weights FROM wts)
         SELECT n_weights, CAST(50 AS BIGINT) AS k, excess_sum_tenk,
           round(CAST(excess_sum_tenk AS DOUBLE) / 500000.0, 4) + 0.0
             AS khat,
           (round(CAST(excess_sum_tenk AS DOUBLE) / 500000.0, 4)
             + 0.0) <= 0.7 AS reliable
         FROM ex CROSS JOIN n WHERE n_top = 50""",
    // q298: mirrors Events.weibullFit — the `kmLogStepCtes` KM prefix, the
    // ln/ln(-ln) transform over its day knots, ordered-window OLS
    // moments (the q262 sequential-sum discipline), closed-form tail.
    "q298_weibull_fit" ->
      s"""WITH $kmLogStepCtes,
         c AS (SELECT d,
             CASE WHEN e_at = n_risk THEN 0.0
               ELSE exp(sum(t) OVER wi) END AS surv
           FROM lt WINDOW wi AS (ORDER BY d ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         pts AS (SELECT d, ln(CAST(d AS DOUBLE)) AS x,
             ln(-ln(surv)) AS y
           FROM c WHERE d >= 1 AND surv > 0 AND surv < 1),
         cum AS (SELECT d,
             CAST(count(*) OVER wi AS BIGINT) AS k,
             sum(x) OVER wi AS sx, sum(y) OVER wi AS sy,
             sum(x * y) OVER wi AS sxy, sum(x * x) OVER wi AS sxx,
             sum(y * y) OVER wi AS syy
           FROM pts WINDOW wi AS (ORDER BY d ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         fa AS (SELECT max(k) AS n, max_by(sx, d) AS sx,
             max_by(sy, d) AS sy, max_by(sxy, d) AS sxy,
             max_by(sxx, d) AS sxx, max_by(syy, d) AS syy
           FROM cum),
         g AS (SELECT *,
             CAST(n AS DOUBLE) * sxy - sx * sy AS num,
             CAST(n AS DOUBLE) * sxx - sx * sx AS denx,
             CAST(n AS DOUBLE) * syy - sy * sy AS deny
           FROM fa),
         h AS (SELECT *, num / denx AS slope FROM g),
         i AS (SELECT *,
             (sy - slope * sx) / CAST(n AS DOUBLE) AS icpt FROM h),
         j2 AS (SELECT *, exp(-(icpt / slope)) AS lam FROM i)
         SELECT n AS n_points,
           CASE WHEN n >= 2 AND denx > 0 AND deny > 0
             THEN round(slope, 4) + 0.0 END AS shape,
           CASE WHEN n >= 2 AND denx > 0 AND deny > 0 AND num > 0
             THEN round(lam, 4) + 0.0 END AS scale_days,
           CASE WHEN n >= 2 AND denx > 0 AND deny > 0 AND num > 0
             THEN round(lam * exp(ln(ln(2.0)) / slope), 4) + 0.0
             END AS median_days,
           CASE WHEN n >= 2 AND denx > 0 AND deny > 0
             THEN round(num * num / (denx * deny), 4) + 0.0 END AS r2
         FROM j2""",
    // q295: mirrors Events.rmstDiff — `survivalCtes` durations, the q269
    // KM/RMST chain per (jackknife block, arm), round-4 RMSTs to exact
    // micros, exact jackknife moments, one mirrored se/CI expression.
    "q295_rmst_diff" ->
      s"""WITH ${survivalCtes(keep = "(user_id % 2 = 1) AS arm,")},
         byd AS (SELECT arm, d, count(*) AS n_at,
             CAST(sum(obs) AS BIGINT) AS e_at
           FROM dur GROUP BY 1, 2),
         days AS (SELECT DISTINCT d AS j FROM byd
           UNION ALL SELECT DISTINCT CAST(-1 AS BIGINT) FROM byd),
         lad AS (SELECT j, arm, d, n_at, e_at
           FROM byd JOIN days ON d <> j),
         r AS (SELECT *, CAST(sum(n_at) OVER (PARTITION BY j, arm
               ORDER BY d ASC
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
           FROM lad),
         lt AS (SELECT j, arm, d, n_at, e_at, n_risk,
             CASE WHEN e_at < n_risk
               THEN ln(1.0 - CAST(e_at AS DOUBLE) / n_risk) END AS t
           FROM r),
         c AS (SELECT j, arm, d, n_at,
             CASE WHEN e_at = n_risk THEN 0.0
               ELSE exp(sum(t) OVER wi) END AS surv
           FROM lt WINDOW wi AS (PARTITION BY j, arm ORDER BY d ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         k AS (SELECT j, arm, d, n_at, surv,
             COALESCE(lag(d) OVER wp, 0) AS dprev,
             COALESCE(lag(surv) OVER wp, 1.0) AS sprev
           FROM c WINDOW wp AS (PARTITION BY j, arm ORDER BY d ASC)),
         t2 AS (SELECT j, arm, d, n_at, surv,
             sprev * CAST(LEAST(d, 30) - LEAST(dprev, 30) AS DOUBLE)
               AS term
           FROM k),
         u AS (SELECT j, arm, d, n_at, surv,
             sum(term) OVER (PARTITION BY j, arm ORDER BY d ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM t2),
         per AS (SELECT j, arm, CAST(sum(n_at) AS BIGINT) AS n,
             round(max_by(cum, d) + max_by(surv, d)
               * CAST(30 - LEAST(max(d), 30) AS DOUBLE), 4) AS rmst
           FROM u GROUP BY 1, 2),
         piv AS (SELECT j,
             max(CASE WHEN arm THEN rmst END) AS ra,
             max(CASE WHEN NOT arm THEN rmst END) AS rb,
             max(CASE WHEN arm THEN n END) AS na,
             max(CASE WHEN NOT arm THEN n END) AS nb
           FROM per GROUP BY 1),
         pt AS (SELECT *, CAST(round(ra * 1000000.0) AS BIGINT)
               - CAST(round(rb * 1000000.0) AS BIGINT) AS t_micros
           FROM piv),
         jk AS (SELECT CAST(count(*) AS BIGINT) AS dd,
             CAST(sum(t_micros) AS BIGINT) AS st,
             sum(CAST(t_micros AS HUGEINT) * t_micros) AS stt
           FROM pt WHERE j <> -1 AND t_micros IS NOT NULL)
         SELECT CAST(30 AS BIGINT) AS tau_days, na AS n_a, nb AS n_b,
           ra AS rmst_a, rb AS rmst_b,
           round(CAST(t_micros AS DOUBLE) / 1000000.0, 4) + 0.0
             AS diff_days,
           dd AS n_blocks,
           CASE WHEN dd >= 2 THEN
             round(sqrt(CAST(dd - 1 AS DOUBLE)
               * CAST(CAST(dd AS HUGEINT) * stt
                 - CAST(st AS HUGEINT) * st AS DOUBLE)
               / CAST(dd * dd AS DOUBLE)) / 1000000.0, 4) END AS se_days,
           CASE WHEN dd >= 2 THEN
             round(CAST(t_micros AS DOUBLE) / 1000000.0
               - 1.959964 * (sqrt(CAST(dd - 1 AS DOUBLE)
                 * CAST(CAST(dd AS HUGEINT) * stt
                   - CAST(st AS HUGEINT) * st AS DOUBLE)
                 / CAST(dd * dd AS DOUBLE)) / 1000000.0), 4) + 0.0
             END AS ci_lo,
           CASE WHEN dd >= 2 THEN
             round(CAST(t_micros AS DOUBLE) / 1000000.0
               + 1.959964 * (sqrt(CAST(dd - 1 AS DOUBLE)
                 * CAST(CAST(dd AS HUGEINT) * stt
                   - CAST(st AS HUGEINT) * st AS DOUBLE)
                 / CAST(dd * dd AS DOUBLE)) / 1000000.0), 4) + 0.0
             END AS ci_hi
         FROM pt CROSS JOIN jk WHERE j = -1""",
    "q263_markov_removal" -> OracleGen.markovRemovalSql(
      removeStates = Seq("click", "view", "signup"), steps = 8,
      gapSeconds = 1800L),
    "q267_markov_pair_removal" -> OracleGen.markovPairRemovalSql(
      removePairs = Seq(("click", "view"), ("click", "signup"),
        ("view", "signup")),
      steps = 6, gapSeconds = 1800L),
    // q268: mirrors Events.positionalAttribution — the q264 session
    // CTEs, first-occurrence paths truncated at 4, prefix conversion
    // values, and the two independently-floored per-channel sums.
    "q268_positional_attribution" ->
      """WITH b AS (SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(ts) OVER w2 IS NULL
             OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               - CAST(epoch(date_trunc('second', lag(ts) OVER w2))
                   AS BIGINT) > 1800
             THEN 1 ELSE 0 END AS brk
         FROM events
         WINDOW w2 AS (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC)),
       s AS (SELECT user_id, event_type, ts, event_id,
           sum(brk) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM b),
       conv AS (SELECT user_id, sid,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS conv
         FROM s GROUP BY 1, 2),
       fo AS (SELECT user_id, sid, event_type, ts, event_id,
           row_number() OVER (PARTITION BY user_id, sid, event_type
             ORDER BY ts ASC, event_id ASC) AS rn
         FROM s
         WHERE event_type IN ('click', 'error', 'signup', 'view')),
       pth AS (SELECT user_id, sid,
           (list(event_type ORDER BY ts ASC, event_id ASC))[1:4]
             AS path
         FROM fo WHERE rn = 1 GROUP BY 1, 2),
       wp AS (SELECT conv.conv,
           COALESCE(pth.path, CAST([] AS VARCHAR[])) AS path
         FROM conv LEFT JOIN pth USING (user_id, sid)),
       v AS (SELECT
           COALESCE(array_to_string(path[1:j], ','), '') AS prefix,
           (1000000 * CAST(sum(conv) AS BIGINT)) // count(*) AS v
         FROM wp, UNNEST(generate_series(0, len(path))) r(j)
         GROUP BY 1),
       cr AS (SELECT path[j] AS channel,
           COALESCE(array_to_string(path[1:j], ','), '') AS wk,
           COALESCE(array_to_string(path[1:j-1], ','), '') AS wo
         FROM wp, UNNEST(generate_series(1, len(path))) r(j))
       SELECT channel, count(*) AS n_obs,
         CAST(sum(vw.v) // count(*) AS BIGINT) AS gain_micros,
         CAST(sum(vo.v) // count(*) AS BIGINT) AS loss_micros,
         CAST(sum(vw.v) // count(*) - sum(vo.v) // count(*) AS BIGINT)
           AS phi_micros
       FROM cr JOIN v vw ON vw.prefix = cr.wk
         JOIN v vo ON vo.prefix = cr.wo
       GROUP BY 1""",
    "q264_shapley_attribution" -> OracleGen.shapleySql(
      channels = Seq("click", "error", "signup", "view"),
      gapSeconds = 1800L),
    "q262_km_greenwood" ->
      s"""WITH $greenwoodCtes
         SELECT d AS duration_days, n_risk, e_at AS n_events,
           round(sraw, 4) AS surv,
           CASE WHEN e_at < n_risk
             THEN round(sraw * sqrt(gw), 4) END AS se,
           CASE WHEN e_at < n_risk
             THEN round(GREATEST(0.0,
               sraw - 1.959964 * (sraw * sqrt(gw))), 4) END AS ci_lo,
           CASE WHEN e_at < n_risk
             THEN round(LEAST(1.0,
               sraw + 1.959964 * (sraw * sqrt(gw))), 4) END AS ci_hi
         FROM c""",
    // q310: mirrors Events.kmMedian — q262's `greenwoodCtes`, threshold
    // tests on the ROUND-4 curve/band columns, integer day mins, the
    // saturated day counted via its surv = 0.
    "q310_km_median" ->
      s"""WITH $greenwoodCtes,
         fin AS (SELECT d, n_risk, e_at, round(sraw, 4) AS surv,
             CASE WHEN e_at < n_risk
               THEN round(GREATEST(0.0,
                 sraw - 1.959964 * (sraw * sqrt(gw))), 4) END AS ci_lo,
             CASE WHEN e_at < n_risk
               THEN round(LEAST(1.0,
                 sraw + 1.959964 * (sraw * sqrt(gw))), 4) END AS ci_hi
           FROM c),
         tot AS (SELECT CAST(max(n_risk) AS BIGINT) AS n_starts,
             CAST(sum(e_at) AS BIGINT) AS n_events,
             CAST(min(CASE WHEN surv <= 0.5 THEN d END) AS BIGINT)
               AS median_day,
             CAST(min(CASE WHEN COALESCE(ci_lo, surv) <= 0.5 THEN d
               END) AS BIGINT) AS ci_lo_day,
             CAST(min(CASE WHEN COALESCE(ci_hi, surv) <= 0.5 THEN d
               END) AS BIGINT) AS ci_hi_day
           FROM fin)
         SELECT n_starts, n_events, median_day,
           (SELECT surv FROM fin WHERE fin.d = tot.median_day)
             AS median_surv,
           ci_lo_day, ci_hi_day
         FROM tot""",
    "q258_daily_pacf" -> OracleGen.dailyPacfSql(maxLag = 4),
    "q260_cms_replay" ->
      OracleGen.cmsReplaySql(depth = 4, width = 256, topK = 10),
    "q259_good_turing" ->
      """WITH cnt AS (SELECT lang, u.term, CAST(count(*) AS BIGINT) AS c
           FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
           WHERE u.term <> '' GROUP BY 1, 2),
         g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2
           FROM cnt GROUP BY 1)
         SELECT lang, n_tokens, vocab, n1, n2,
           (1000000 * n1) // n_tokens AS p0_micros,
           (1000000 * n1) // vocab AS hapax_share_micros,
           vocab + CAST((CAST(n1 AS HUGEINT) * (n1 - 1))
             // (2 * (n2 + 1)) AS BIGINT) AS chao1
         FROM g""",
    // q257: epoch(date_trunc('second', ts)) mirrors Spark's flooring
    // unix_timestamp at ROW level (q246 idiom).
    "q257_session_markov_funnel" -> OracleGen.sessionMarkovFunnelSql(
      """seq AS (SELECT user_id, event_type AS from_type,
             lead(event_type) OVER w AS to_type,
             CAST(epoch(date_trunc('second', lead(ts) OVER w)) AS BIGINT)
               - CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC)),
         pr AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           FROM seq WHERE to_type IS NOT NULL AND gap <= 1800
             AND from_type <> 'purchase' GROUP BY 1, 2)"""),
    "q251_degree_powerlaw" -> hillTailSql(
      """ev AS (SELECT user_id, event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events),
         tr AS (SELECT lag(k) OVER (PARTITION BY user_id
               ORDER BY event_id ASC) AS src, k AS dst
           FROM ev WHERE k IS NOT NULL),
         edges AS (SELECT src, dst FROM tr WHERE src IS NOT NULL
           GROUP BY 1, 2),
         base AS (SELECT 'out_degree' AS grp,
             CAST(count(*) AS BIGINT) * 100 AS cents, src AS id
           FROM edges GROUP BY src)"""),
    "q252_new_vs_returning" ->
      """WITH pres AS (SELECT user_id AS u,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day, CAST(count(*) AS BIGINT) AS n_ev
           FROM events GROUP BY 1, 2),
         fst AS (SELECT u, min(day) AS fday FROM pres GROUP BY 1)
         SELECT day,
           CAST(sum(CASE WHEN day = fday THEN n_ev ELSE 0 END)
             AS BIGINT) AS ev_new,
           CAST(sum(CASE WHEN day <> fday THEN n_ev ELSE 0 END)
             AS BIGINT) AS ev_returning,
           CAST(sum(CASE WHEN day = fday THEN 1 ELSE 0 END)
             AS BIGINT) AS users_new,
           CAST(sum(CASE WHEN day <> fday THEN 1 ELSE 0 END)
             AS BIGINT) AS users_returning,
           (1000000 * CAST(sum(CASE WHEN day = fday THEN 1 ELSE 0
             END) AS BIGINT)) // CAST(count(*) AS BIGINT)
             AS new_share_micros
         FROM pres JOIN fst USING (u) GROUP BY 1""",
    "q253_mde_power" ->
      """WITH per AS (SELECT user_id % 4 AS seg, user_id AS u,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         m AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx
           FROM per GROUP BY 1),
         d AS (SELECT seg, n, sx,
             CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
               AS DOUBLE) / CAST(CAST(n AS HUGEINT) * (n - 1)
               AS DOUBLE) AS vx
           FROM m)
         SELECT seg, n AS n_units, (1000000 * sx) // n AS mean_micros,
           CASE WHEN n > 1 AND vx > 0.0 THEN
             round(2.8015852181129688 * sqrt(2.0 * vx
               / CAST(n AS DOUBLE)), 4) + 0.0 END AS mde_abs,
           CASE WHEN n > 1 AND vx > 0.0 AND sx > 0 THEN
             round(2.8015852181129688 * sqrt(2.0 * vx
               / CAST(n AS DOUBLE)) / (CAST(sx AS DOUBLE)
               / CAST(n AS DOUBLE)), 6) + 0.0 END AS mde_rel
         FROM d""",
    "q249_multi_join_revenue" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             * (10000 - CAST(round(l_discount * 10000) AS BIGINT)))
             AS BIGINT) AS revenue_micros
         FROM lineitem, orders, customer, supplier, nation, region
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1""",
    "q250_session_paths" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events),
         e AS (SELECT user_id, event_id, event_type, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS new_s
           FROM ev WINDOW w AS (PARTITION BY user_id
             ORDER BY ts, event_id)),
         s AS (SELECT user_id, event_id, event_type, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_seq
           FROM e),
         seq AS (SELECT string_agg(event_type, '>'
             ORDER BY ts, event_id) AS event_seq
           FROM s GROUP BY user_id, session_seq),
         p AS (SELECT array_to_string(
             string_split(event_seq, '>')[1:3], '>') AS path3
           FROM seq)
         SELECT path3, CAST(count(*) AS BIGINT) AS n_sessions
         FROM p GROUP BY 1
         ORDER BY n_sessions DESC, path3 ASC LIMIT 20""",
    "q246_funnel_latency" ->
      """WITH f AS (SELECT user_id AS u,
             min(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
               AS t0
           FROM events WHERE event_type = 'view' GROUP BY 1),
         lat AS (SELECT u % 4 AS seg, u,
             CAST(min(t1) - min(t0) AS BIGINT) AS lat
           FROM (SELECT e.user_id AS u,
               CAST(epoch(date_trunc('second', e.ts)) AS BIGINT)
                 AS t1, f.t0
             FROM events e JOIN f ON f.u = e.user_id
             WHERE e.event_type = 'purchase'
               AND CAST(epoch(date_trunc('second', e.ts)) AS BIGINT)
                 >= f.t0)
           GROUP BY 1, 2),
         nn AS (SELECT seg, CAST(count(*) AS BIGINT) AS n
           FROM lat GROUP BY 1),
         rk AS (SELECT seg, u, lat,
             CAST(row_number() OVER (PARTITION BY seg
               ORDER BY lat ASC, u ASC) AS BIGINT) AS rk
           FROM lat),
         med AS (SELECT rk.seg, nn.n,
             CAST(sum(lat) * (3 - count(*)) AS BIGINT) AS med_x2
           FROM rk JOIN nn ON nn.seg = rk.seg
           WHERE rk >= (nn.n + 1) // 2 AND rk <= (nn.n + 2) // 2
           GROUP BY 1, 2),
         p90 AS (SELECT rk.seg, lat AS p90_sec
           FROM rk JOIN nn ON nn.seg = rk.seg
           WHERE rk = (9 * nn.n + 9) // 10)
         SELECT med.seg, n AS n_converted,
           500000 * med_x2 AS median_micros, p90_sec
         FROM med JOIN p90 ON p90.seg = med.seg""",
    "q247_ewma_backtest" -> {
      val ws = Events.ewmaWeightsMicros(0.3, 14)
      val terms = ws.zipWithIndex.map { case (wk, k) =>
        s"$wk * lag(y, ${k + 1}) OVER w" }.mkString(" + ")
      s"""WITH ${OracleGen.dailyCte("grp")},
         fc AS (SELECT grp, y,
             CAST(row_number() OVER w AS BIGINT) AS rk,
             CAST($terms AS BIGINT) AS f_micros
           FROM daily WINDOW w AS (PARTITION BY grp
             ORDER BY day ASC)),
         s AS (SELECT grp, CAST(count(*) AS BIGINT)
               AS n_days_backtested,
             CAST(sum(abs(1000000 * y - f_micros) // y) AS BIGINT)
               AS sape
           FROM fc WHERE rk > 14 GROUP BY 1)
         SELECT grp, n_days_backtested,
           sape // n_days_backtested AS mape_micros
         FROM s"""
    },
    "q248_rolling_active" ->
      """WITH pres AS (SELECT DISTINCT user_id AS u,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day
           FROM events),
         mx AS (SELECT max(day) AS dmax FROM pres),
         fan AS (SELECT u, day + t.k AS day, t.k
           FROM pres, range(28) t(k) CROSS JOIN mx
           WHERE day + t.k <= dmax)
         SELECT day,
           CAST(count(DISTINCT CASE WHEN k = 0 THEN u END) AS BIGINT)
             AS dau,
           CAST(count(DISTINCT CASE WHEN k <= 6 THEN u END)
             AS BIGINT) AS wau7,
           CAST(count(DISTINCT u) AS BIGINT) AS mau28,
           CASE WHEN count(DISTINCT CASE WHEN k <= 6 THEN u END) > 0
             THEN (1000000 * CAST(count(DISTINCT CASE WHEN k = 0
               THEN u END) AS BIGINT))
               // CAST(count(DISTINCT CASE WHEN k <= 6 THEN u END)
               AS BIGINT) END AS stickiness_micros
         FROM fan GROUP BY 1""",
    "q244_hodges_lehmann" ->
      s"""WITH ${OracleGen.dailyCte("grp")},
         pairs AS (SELECT a.grp, a.day AS d1, b.day AS d2,
             a.y + b.y AS w2
           FROM daily a JOIN daily b ON a.grp = b.grp
             AND a.day <= b.day),
         m AS (SELECT grp, CAST(count(*) AS BIGINT) AS m
           FROM pairs GROUP BY 1),
         rk AS (SELECT grp, w2, d1, d2,
             CAST(row_number() OVER (PARTITION BY grp
               ORDER BY w2 ASC, d1 ASC, d2 ASC) AS BIGINT) AS rk
           FROM pairs),
         mid AS (SELECT rk.grp, m.m,
             CAST(sum(w2) * (3 - count(*)) AS BIGINT) AS hl_x4
           FROM rk JOIN m ON m.grp = rk.grp
           WHERE rk >= (m.m + 1) // 2 AND rk <= (m.m + 2) // 2
           GROUP BY 1, 2),
         nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days
           FROM daily GROUP BY 1)
         SELECT mid.grp, n_days, m AS n_pairs,
           250000 * hl_x4 AS hl_micros
         FROM mid JOIN nd ON nd.grp = mid.grp""",
    "q245_runs_test" ->
      s"""WITH ${OracleGen.dailyCte("grp")},
         nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS nd
           FROM daily GROUP BY 1),
         rk AS (SELECT grp, y, day,
             CAST(row_number() OVER (PARTITION BY grp
               ORDER BY y ASC, day ASC) AS BIGINT) AS rk
           FROM daily),
         med AS (SELECT rk.grp,
             CAST(sum(y) * (3 - count(*)) AS BIGINT) AS med_x2
           FROM rk JOIN nd ON nd.grp = rk.grp
           WHERE rk >= (nd + 1) // 2 AND rk <= (nd + 2) // 2
           GROUP BY 1),
         sg AS (SELECT d.grp, d.day,
             CASE WHEN d.y * 2 > med_x2 THEN 1 ELSE 0 END AS s
           FROM daily d JOIN med ON med.grp = d.grp
           WHERE d.y * 2 <> med_x2),
         ch AS (SELECT grp, s,
             CASE WHEN lag(s) OVER w IS NULL OR lag(s) OVER w <> s
               THEN 1 ELSE 0 END AS chg
           FROM sg WINDOW w AS (PARTITION BY grp ORDER BY day ASC)),
         m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS n1,
             CAST(sum(1 - s) AS BIGINT) AS n2,
             CAST(sum(chg) AS BIGINT) AS r
           FROM ch GROUP BY 1)
         SELECT grp, n AS n_days_used, n1 AS n_above, n2 AS n_below,
           r AS n_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n > 1 THEN
             round((CAST(r AS DOUBLE) - (1.0
               + CAST(2 * n1 * n2 AS DOUBLE) / CAST(n AS DOUBLE)))
               / sqrt(CAST(CAST(2 AS HUGEINT) * n1 * n2
                 * (2 * n1 * n2 - n) AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * n * (n - 1) AS DOUBLE)),
               4) + 0.0 END AS z
         FROM m""",
    "q241_capture_recapture" ->
      """WITH base AS (SELECT user_id AS id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day
           FROM events),
         bounds AS (SELECT (min(day) + max(day)) // 2 AS mid
           FROM base),
         per AS (SELECT id,
             max(CASE WHEN day <= mid THEN 1 ELSE 0 END) AS in1,
             max(CASE WHEN day > mid THEN 1 ELSE 0 END) AS in2
           FROM base CROSS JOIN bounds GROUP BY 1),
         s AS (SELECT CAST(sum(in1) AS BIGINT) AS na,
             CAST(sum(in2) AS BIGINT) AS nb,
             CAST(sum(in1 * in2) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS seen
           FROM per)
         SELECT na AS n_first, nb AS n_second, m AS n_both,
           seen AS n_seen,
           CAST(CAST(na + 1 AS HUGEINT) * (nb + 1) // (m + 1)
             AS BIGINT) - 1 AS n_hat,
           (1000000 * seen) // (CAST(CAST(na + 1 AS HUGEINT)
             * (nb + 1) // (m + 1) AS BIGINT) - 1) AS coverage_micros
         FROM s""",
    "q242_kendall_tau" ->
      """WITH daily AS (SELECT event_type AS grp,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day, CAST(count(*) AS BIGINT) AS x,
             CAST(count(DISTINCT user_id) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         p AS (SELECT a.grp,
             CAST(sum(sign(b.x - a.x) * sign(b.y - a.y)) AS BIGINT)
               AS cd
           FROM daily a JOIN daily b ON a.grp = b.grp
             AND a.day < b.day GROUP BY 1),
         tx AS (SELECT grp, CAST(sum(t * (t - 1)) AS BIGINT) // 2
             AS n1
           FROM (SELECT grp, x, CAST(count(*) AS BIGINT) AS t
             FROM daily GROUP BY 1, 2) GROUP BY 1),
         ty AS (SELECT grp, CAST(sum(t * (t - 1)) AS BIGINT) // 2
             AS n2
           FROM (SELECT grp, y, CAST(count(*) AS BIGINT) AS t
             FROM daily GROUP BY 1, 2) GROUP BY 1),
         nn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
           FROM daily GROUP BY 1)
         SELECT p.grp, n AS n_days, cd AS conc_minus_disc,
           n1 AS ties_x, n2 AS ties_y,
           CASE WHEN CAST(CAST(n * (n - 1) // 2 - n1 AS HUGEINT)
               * (n * (n - 1) // 2 - n2) AS DOUBLE) > 0.0 THEN
             round(CAST(cd AS DOUBLE)
               / sqrt(CAST(CAST(n * (n - 1) // 2 - n1 AS HUGEINT)
                 * (n * (n - 1) // 2 - n2) AS DOUBLE)), 4) + 0.0
             END AS tau_b
         FROM p JOIN tx USING (grp) JOIN ty USING (grp)
           JOIN nn USING (grp)""",
    "q243_heaps_fit" ->
      """WITH toks AS (SELECT seq, u.term FROM (
             SELECT CAST(row_number() OVER (ORDER BY doc_id ASC)
               AS BIGINT) AS seq, text FROM documents) docs,
             UNNEST(string_split(text, ' ')) AS u(term)
           WHERE u.term <> ''),
         dv AS (SELECT CAST(length(bin(fseq)) AS BIGINT) AS e,
             CAST(count(*) AS BIGINT) AS dv
           FROM (SELECT term, min(seq) AS fseq FROM toks GROUP BY 1)
           GROUP BY 1),
         dn AS (SELECT CAST(length(bin(seq)) AS BIGINT) AS e,
             CAST(count(*) AS BIGINT) AS dn
           FROM toks GROUP BY 1),
         ck AS (SELECT e, COALESCE(dn, 0) AS dn, COALESCE(dv, 0) AS dv
           FROM dn FULL OUTER JOIN dv USING (e)),
         cum AS (SELECT e, CAST(sum(dn) OVER w AS BIGINT) AS ncum,
             CAST(sum(dv) OVER w AS BIGINT) AS vcum
           FROM ck WINDOW w AS (ORDER BY e ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         xy AS (SELECT
             CAST(round(ln(CAST(ncum AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS x,
             CAST(round(ln(CAST(vcum AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS y
           FROM cum WHERE ncum > 0 AND vcum > 0),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT)
               AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(y AS HUGEINT) * y) AS syy
           FROM xy),
         d AS (SELECT n, sx, sy,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
               AS den,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
               AS num,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
               AS deny
           FROM s)
         SELECT n AS n_checkpoints,
           CASE WHEN CAST(den AS DOUBLE) <> 0.0
             THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4)
             END AS beta,
           CASE WHEN CAST(den AS DOUBLE) <> 0.0
             THEN round((CAST(sy AS DOUBLE)
               - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                 * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0, 4) END AS ln_k,
           CASE WHEN CAST(den AS DOUBLE) <> 0.0
               AND CAST(deny AS DOUBLE) <> 0.0
             THEN round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
               / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)), 4)
             END AS r2
         FROM d""",
    "q239_overdispersion" ->
      s"""WITH ${OracleGen.dailyCte("grp")},
         m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(y AS HUGEINT) * y) AS syy
           FROM daily GROUP BY 1),
         d AS (SELECT grp, n, sy,
             CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
               AS DOUBLE) / CAST(CAST(n AS HUGEINT) * (n - 1)
               AS DOUBLE) AS vr,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mn
           FROM m)
         SELECT grp, n AS n_days, sy AS sum_y,
           (1000000 * sy) // n AS mean_micros,
           CASE WHEN n > 1 AND sy > 0 THEN round(vr / mn, 4) + 0.0
             END AS vmr,
           CASE WHEN n > 1 AND sy > 0 THEN
             round(CAST(n - 1 AS DOUBLE) * (vr / mn), 4) + 0.0
             END AS chi2_stat
         FROM d""",
    "q240_rank_churn" -> {
      val w = Events.rboWeightsMicros(20, 0.9).mkString(", ")
      s"""WITH base AS (SELECT user_id AS id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day
           FROM events),
         bounds AS (SELECT (min(day) + max(day)) // 2 AS mid
           FROM base),
         counts AS (SELECT id, day <= mid AS p1,
             CAST(count(*) AS BIGINT) AS c
           FROM base CROSS JOIN bounds GROUP BY 1, 2),
         a AS (SELECT id, r1 FROM (SELECT id,
             CAST(row_number() OVER (ORDER BY c DESC, id ASC)
               AS BIGINT) AS r1
           FROM counts WHERE p1) WHERE r1 <= 20),
         b AS (SELECT id, r2 FROM (SELECT id,
             CAST(row_number() OVER (ORDER BY c DESC, id ASC)
               AS BIGINT) AS r2
           FROM counts WHERE NOT p1) WHERE r2 <= 20),
         na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
         nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b),
         ov AS (SELECT CAST(count(*) AS BIGINT) AS n_overlap,
             CAST(sum(([$w])[CAST(greatest(r1, r2) AS INT)])
               AS BIGINT) AS rbo
           FROM a JOIN b USING (id))
         SELECT CAST(20 AS BIGINT) AS k, n_a, n_b, n_overlap,
           (1000000 * n_overlap) // (n_a + n_b - n_overlap)
             AS jaccard_micros,
           COALESCE(rbo, 0) AS rbo_micros
         FROM ov CROSS JOIN na CROSS JOIN nb"""
    },
    "q238_mix_rate_decomp" ->
      """WITH base AS (SELECT event_type AS seg,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events),
         bounds AS (SELECT (min(day) + max(day)) // 2 AS mid
           FROM base),
         cells AS (SELECT seg,
             CAST(sum(CASE WHEN day <= mid THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(sum(CASE WHEN day > mid THEN 1 ELSE 0 END)
               AS BIGINT) AS n2,
             CAST(sum(CASE WHEN day <= mid THEN c ELSE 0 END)
               AS BIGINT) AS s1,
             CAST(sum(CASE WHEN day > mid THEN c ELSE 0 END)
               AS BIGINT) AS s2
           FROM base CROSS JOIN bounds GROUP BY 1),
         tot AS (SELECT CAST(sum(n1) AS BIGINT) AS nn1,
             CAST(sum(n2) AS BIGINT) AS nn2
           FROM cells),
         terms AS (SELECT seg, n1, n2, s1, s2, nn1, nn2,
             CASE WHEN n1 > 0 AND nn2 > 0 THEN
               CAST(CAST(n2 AS HUGEINT) * s1 * 1000000
                 // (CAST(nn2 AS HUGEINT) * n1) AS BIGINT)
             WHEN nn2 > 0 THEN 0 END AS w2r1,
             CAST(CAST(s1 AS HUGEINT) * 1000000 // nn1 AS BIGINT)
               AS w1r1,
             CASE WHEN nn2 > 0 THEN CAST(CAST(s2 AS HUGEINT)
               * 1000000 // nn2 AS BIGINT) END AS w2r2
           FROM cells CROSS JOIN tot)
         SELECT seg, n1, n2,
           (1000000 * n1) // nn1 AS w1_micros,
           CASE WHEN nn2 > 0 THEN (1000000 * n2) // nn2 END
             AS w2_micros,
           CASE WHEN n1 > 0 THEN CAST(CAST(s1 AS HUGEINT) * 1000000
             // n1 AS BIGINT) ELSE 0 END AS r1_micros,
           CASE WHEN n2 > 0 THEN CAST(CAST(s2 AS HUGEINT) * 1000000
             // n2 AS BIGINT) ELSE 0 END AS r2_micros,
           w2r1 - w1r1 AS mix_micros,
           w2r2 - w2r1 AS rate_micros
         FROM terms""",
    "q237_jackknife_days" ->
      """WITH byday AS (SELECT
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS day,
             CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS s_d
           FROM events GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS dd,
             CAST(sum(n_d) AS BIGINT) AS nn,
             CAST(sum(s_d) AS BIGINT) AS ss
           FROM byday),
         g2 AS (SELECT dd, nn, ss, (1000000 * ss) // nn
             AS overall_micros FROM g)
         SELECT day, n_d, overall_micros,
           CASE WHEN nn > n_d THEN
             (1000000 * (ss - s_d)) // (nn - n_d) END AS loo_micros,
           CASE WHEN nn > n_d THEN
             (1000000 * (ss - s_d)) // (nn - n_d) - overall_micros
             END AS delta_micros,
           CASE WHEN nn > n_d THEN dd * overall_micros - (dd - 1)
             * ((1000000 * (ss - s_d)) // (nn - n_d))
             END AS pseudo_micros
         FROM byday CROSS JOIN g2""",
    "q236_fairness_audit" ->
      """WITH per AS (SELECT user_id AS u, user_id % 3 AS seg,
             CAST(count(*) AS BIGINT) AS n_events,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS label
           FROM events GROUP BY 1, 2),
         scored AS (SELECT seg, label,
             CASE WHEN ntile(10) OVER (ORDER BY n_events DESC, u ASC)
               <= 3 THEN 1 ELSE 0 END AS pred
           FROM per),
         grp AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS npos,
             CAST(sum(pred) AS BIGINT) AS npred,
             CAST(sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0
               END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0
               END) AS BIGINT) AS fp
           FROM scored GROUP BY 1),
         rates AS (SELECT seg, n, npos, npred,
             (1000000 * npred) // n AS sel_rate_micros,
             CASE WHEN npos > 0 THEN (1000000 * tp) // npos END
               AS tpr_micros,
             CASE WHEN n - npos > 0 THEN (1000000 * fp) // (n - npos)
               END AS fpr_micros
           FROM grp),
         ref AS (SELECT n AS rn, npred AS rnp, tpr_micros AS rtpr
           FROM rates ORDER BY sel_rate_micros DESC, seg ASC LIMIT 1)
         SELECT seg, n AS n_users, npos AS n_label_pos,
           npred AS n_pred_pos, sel_rate_micros, tpr_micros,
           fpr_micros,
           CASE WHEN rnp > 0 THEN CAST(CAST(1000000 * npred
             AS HUGEINT) * rn // (CAST(n AS HUGEINT) * rnp)
             AS BIGINT) END AS di_micros,
           tpr_micros - rtpr AS eo_gap_micros
         FROM rates CROSS JOIN ref""",
    "q235_fdr_bh" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
         types AS (SELECT DISTINCT event_type AS grp FROM events),
         cnt AS (SELECT user_id, event_type AS grp,
             CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         base AS (SELECT t.grp, u.user_id AS id,
             COALESCE(c.x, 0) AS x,
             CASE WHEN u.user_id % 2 = 1 THEN 1 ELSE 0 END AS g
           FROM users u CROSS JOIN types t
           LEFT JOIN cnt c ON c.user_id = u.user_id AND c.grp = t.grp),
         obs AS (SELECT grp, CAST(sum(g) AS BIGINT) AS nt,
             CAST(sum(1 - g) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT)
               AS st,
             CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sc
           FROM base GROUP BY 1),
         obst AS (SELECT grp, CASE WHEN nt > 0 AND nc > 0 THEN
             (1000000 * st) // nt - (1000000 * sc) // nc END AS t_obs
           FROM obs),
         r AS (SELECT grp, t.b, x,
             CAST(('0x' || substring(md5(CAST(id AS VARCHAR) || ':'
               || CAST(t.b AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS gb
           FROM base, range(100) t(b)),
         rs AS (SELECT grp, b, CAST(sum(gb) AS BIGINT) AS nt,
             CAST(sum(1 - gb) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN gb = 1 THEN x ELSE 0 END) AS BIGINT)
               AS st,
             CAST(sum(CASE WHEN gb = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sc
           FROM r GROUP BY 1, 2),
         tb AS (SELECT grp, b, CASE WHEN nt > 0 AND nc > 0 THEN
             (1000000 * st) // nt - (1000000 * sc) // nc END AS t_b
           FROM rs),
         pv AS (SELECT tb.grp,
             (1000000 * (1 + CAST(sum(CASE WHEN abs(t_b) >=
               abs(o.t_obs) THEN 1 ELSE 0 END) AS BIGINT))) // 101
               AS p_micros
           FROM tb JOIN obst o ON o.grp = tb.grp GROUP BY 1),
         ranked AS (SELECT grp, p_micros,
             CAST(row_number() OVER (ORDER BY p_micros, grp)
               AS BIGINT) AS rnk,
             CAST(count(*) OVER () AS BIGINT) AS m
           FROM pv),
         st2 AS (SELECT grp, p_micros, rnk, m,
             max(CASE WHEN p_micros * m <= rnk * 100000 THEN rnk END)
               OVER () AS istar
           FROM ranked)
         SELECT grp, p_micros, rnk, m,
           (rnk * 100000) // m AS thr_micros,
           CASE WHEN rnk <= COALESCE(istar, 0) THEN 1 ELSE 0 END
             AS rejected
         FROM st2""",
    "q233_permutation_test" ->
      """WITH per AS (SELECT user_id AS id,
             CAST(count(*) AS BIGINT) AS x,
             max(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS g
           FROM events GROUP BY 1),
         obs AS (SELECT CAST(sum(g) AS BIGINT) AS nt,
             CAST(sum(1 - g) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN g = 1 THEN x ELSE 0 END) AS BIGINT)
               AS st,
             CAST(sum(CASE WHEN g = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sc
           FROM per),
         obst AS (SELECT nt, nc,
             (1000000 * st) // nt - (1000000 * sc) // nc AS t_obs
           FROM obs),
         r AS (SELECT t.b, per.x,
             CAST(('0x' || substring(md5(CAST(id AS VARCHAR) || ':'
               || CAST(t.b AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS gb
           FROM per, range(200) t(b)),
         rs AS (SELECT b, CAST(sum(gb) AS BIGINT) AS nt,
             CAST(sum(1 - gb) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN gb = 1 THEN x ELSE 0 END) AS BIGINT)
               AS st,
             CAST(sum(CASE WHEN gb = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sc
           FROM r GROUP BY 1),
         tb AS (SELECT b, CASE WHEN nt > 0 AND nc > 0 THEN
             (1000000 * st) // nt - (1000000 * sc) // nc END AS t_b
           FROM rs)
         SELECT o.nt AS n_t, o.nc AS n_c, o.t_obs AS t_obs_micros,
           CAST(200 AS BIGINT) AS reps,
           CAST(sum(CASE WHEN abs(t_b) >= abs(o.t_obs) THEN 1 ELSE 0
             END) AS BIGINT) AS n_extreme,
           (1000000 * (1 + CAST(sum(CASE WHEN abs(t_b) >= abs(o.t_obs)
             THEN 1 ELSE 0 END) AS BIGINT))) // 201 AS p_micros
         FROM tb, obst o GROUP BY 1, 2, 3, 4""",
    "q232_eb_shrinkage" ->
      """WITH per AS (SELECT user_id AS u, CAST(count(*) AS BIGINT)
             AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
               ELSE 0 END) AS BIGINT) AS k
           FROM events GROUP BY 1),
         g AS (SELECT (1000000 * CAST(sum(k) AS BIGINT))
             // CAST(sum(n) AS BIGINT) AS m FROM per)
         SELECT u, n, k, (1000000 * k) // n AS raw_micros,
           (1000000 * k + 20 * m) // (n + 20) AS shrunk_micros
         FROM per, g""",
    "q228_reciprocity" ->
      """WITH ev AS (SELECT user_id, event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events),
         tr AS (SELECT lag(k) OVER (PARTITION BY user_id
               ORDER BY event_id ASC) AS src, k AS dst
           FROM ev WHERE k IS NOT NULL),
         edges AS (SELECT src, dst FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         mu AS (SELECT CAST(count(*) AS BIGINT) AS mu FROM edges e
           JOIN edges r ON r.src = e.dst AND r.dst = e.src),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges)
         SELECT m AS m_edges, mu AS n_mutual_edges,
           mu // 2 AS n_mutual_dyads, m - mu AS n_asym_dyads,
           (1000000 * mu) // m AS reciprocity_micros
         FROM mm, mu""",
    "q224_modularity" ->
      """WITH RECURSIVE
         ev AS (SELECT user_id, event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events),
         tr AS (SELECT lag(k) OVER (PARTITION BY user_id
               ORDER BY event_id ASC) AS src, k AS dst
           FROM ev WHERE k IS NOT NULL),
         edges AS (SELECT src, dst FROM tr
           WHERE src IS NOT NULL AND src <> dst
             AND (src * 31 + dst) % 5 < 1 GROUP BY 1, 2),
         nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
         reach AS (
           SELECT n AS a, n AS b FROM nodes
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
         s AS (SELECT r1.a AS node, min(r1.b) AS scc_id
           FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
           GROUP BY 1),
         el AS (SELECT e.src, e.dst, ls.scc_id AS sc, ld.scc_id AS dc
           FROM edges e JOIN s ls ON ls.node = e.src
           JOIN s ld ON ld.node = e.dst),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
         w AS (SELECT sc AS comm, CAST(count(*) AS BIGINT) AS e_cc
           FROM el WHERE sc = dc GROUP BY 1),
         od AS (SELECT sc AS comm, CAST(count(*) AS BIGINT) AS dout
           FROM el GROUP BY 1),
         idg AS (SELECT dc AS comm, CAST(count(*) AS BIGINT) AS din
           FROM el GROUP BY 1),
         tm AS (SELECT (1000000 * coalesce(w.e_cc, 0)) // mm.m
             - CAST((1000000 * CAST(coalesce(od.dout, 0) AS HUGEINT)
               * coalesce(idg.din, 0))
               // (CAST(mm.m AS HUGEINT) * mm.m) AS BIGINT) AS t
           FROM od FULL OUTER JOIN idg USING (comm)
           LEFT JOIN w USING (comm), mm)
         SELECT CAST(count(*) AS BIGINT) AS n_communities,
           (SELECT m FROM mm) AS m_edges,
           CAST(sum(t) AS BIGINT) AS q_micros
         FROM tm""",
    "q174_did_estimator" ->
      """WITH cells AS (SELECT event_type,
             (user_id % 2 = 1) AS treated,
             (ts >= TIMESTAMP '2024-01-15 00:00:00') AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
           FROM events GROUP BY 1, 2, 3),
         m AS (SELECT event_type, treated, post, n,
             (1000000 * s) // n AS mm
           FROM cells),
         piv AS (SELECT event_type,
             max(CASE WHEN treated AND NOT post THEN n END) AS n_t_pre,
             max(CASE WHEN treated AND post THEN n END) AS n_t_post,
             max(CASE WHEN NOT treated AND NOT post THEN n END)
               AS n_c_pre,
             max(CASE WHEN NOT treated AND post THEN n END) AS n_c_post,
             max(CASE WHEN treated AND NOT post THEN mm END)
               AS m_t_pre_micros,
             max(CASE WHEN treated AND post THEN mm END)
               AS m_t_post_micros,
             max(CASE WHEN NOT treated AND NOT post THEN mm END)
               AS m_c_pre_micros,
             max(CASE WHEN NOT treated AND post THEN mm END)
               AS m_c_post_micros
           FROM m GROUP BY 1)
         SELECT *, (m_t_post_micros - m_t_pre_micros)
           - (m_c_post_micros - m_c_pre_micros) AS did_micros
         FROM piv""",
    "q120_kaplan_meier" ->
      s"""WITH $kmLogStepCtes
         SELECT d AS duration_days, n_risk, e_at AS n_events,
           CASE WHEN e_at = n_risk THEN 0.0
                ELSE round(exp(sum(t) OVER (ORDER BY d ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
           END AS surv
         FROM lt""",
    "q121_sequence_support" ->
      """WITH tt AS (SELECT user_id, event_type,
           min(CAST(ts AS TIMESTAMP)) AS mn,
           max(CAST(ts AS TIMESTAMP)) AS mx
         FROM events GROUP BY 1, 2)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_users
         FROM tt a JOIN tt b ON a.user_id = b.user_id AND a.mn < b.mx
         GROUP BY 1, 2""",
    "q119_loo_target_encode" ->
      """WITH ev AS (SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         agg AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS s,
             count(*) AS n
           FROM ev GROUP BY 1)
         SELECT event_id, ev.event_type,
           CASE WHEN n > 1 THEN
             CAST(s - cents AS DOUBLE) / CAST((n - 1) * 100 AS DOUBLE)
           END AS loo_mean
         FROM ev JOIN agg USING (event_type)""",
    "q116_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events),
         s1 AS (SELECT user_id, min(ts) AS t FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t
           FROM ev e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t
           FROM ev e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
         SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
           (SELECT count(*) FROM s1) AS n_users
         UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""",
    "q115_retention_cohorts" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events),
         f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
           FROM ev GROUP BY 1),
         a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
           FROM ev)
         SELECT CAST(cw AS DATE) AS cohort_week,
           (epoch_us(wk) - epoch_us(cw)) // 604800000000 AS week_offset,
           count(*) AS n_active
         FROM a JOIN f USING (user_id) GROUP BY 1, 2""",
    "q113_rolling_anomaly" ->
      """WITH ev AS (SELECT event_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts, value,
           epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec,
           CAST(round(value * 100) AS BIGINT) AS x
         FROM events),
         m AS (SELECT event_id, event_type, ts, value, x,
             count(*) OVER w AS n_window,
             CAST(sum(x) OVER w AS BIGINT) AS s1,
             CAST(sum(x * x) OVER w AS BIGINT) AS s2
           FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY sec ASC
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
         SELECT event_id, event_type, ts, value, n_window,
           n_window >= 5 AND
             4 * ((n_window * x - s1) * (n_window * x - s1)) >
               9 * (n_window * s2 - s1 * s1) AS is_anomaly
         FROM m""",
    "q108_pmi_collocations" ->
      """WITH rt AS (SELECT doc_id AS rid, u.i AS pos, toks[u.i] AS tok
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
             UNNEST(generate_series(1, len(toks))) AS u(i)),
         uni AS (SELECT tok, count(*) AS c1 FROM rt GROUP BY tok),
         tot AS (SELECT CAST(sum(c1) AS BIGINT) AS T FROM uni),
         bi0 AS (SELECT a.tok AS prev, b.tok AS tok, count(*) AS c2
           FROM rt a JOIN rt b ON a.rid = b.rid AND b.pos = a.pos + 1
           GROUP BY 1, 2),
         btot AS (SELECT CAST(sum(c2) AS BIGINT) AS B FROM bi0)
         SELECT bi0.prev AS prev, bi0.tok AS tok, c2,
           round(ln((CAST(c2 AS DOUBLE) * T * T) /
             (CAST(B AS DOUBLE) * up.c1 * ut.c1)), 4) + 0.0 AS pmi
         FROM bi0
           JOIN uni up ON up.tok = bi0.prev
           JOIN uni ut ON ut.tok = bi0.tok
           CROSS JOIN tot CROSS JOIN btot
         WHERE c2 >= 5""",
    "q109_dsir_weights" ->
      """WITH dt AS (SELECT doc_id, source = 'src0' AS tgt, u.tok
           FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)),
         model AS (SELECT tok, count(*) AS c_raw,
             CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
           FROM dt GROUP BY 1),
         tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
             CAST(sum(c_tgt) AS BIGINT) AS t_tgt,
             count(*) AS v FROM model),
         s AS (SELECT doc_id,
             ln(CAST(c_tgt + 1 AS DOUBLE) / (t_tgt + v))
               - ln(CAST(c_raw + 1 AS DOUBLE) / (t_raw + v)) AS lr
           FROM dt JOIN model USING (tok) CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
           round(sum(lr) / count(*), 4) + 0.0 AS avg_logratio,
           round(sum(lr) / count(*), 4) > 0 AS keep
         FROM s GROUP BY doc_id""",
  )
}
