package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (extension surface;
  * driven by the `documents` testdata table).
  *
  * Everything is built-in `functions._` over tokens from `split` — fully
  * codegen'd per-row work with no shuffle, so these scale linearly with
  * document count at 100 TB (the scan is the only cost; filters/projections
  * push down around them).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  /** Small language-marker lists. Deliberately tiny + disjoint so the
    * heuristic is deterministic and oracle-expressible in plain SQL. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "fr" -> Seq("le", "les", "des", "est", "une"),
  )

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Language-ID by marker-word counts; argmax with fixed precedence order
    * (en > es > de > fr on ties), 'und' (undetermined) when no marker hits.
    * N-gram-free heuristic — counts are one pass over the token array. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val counts = markers.map { case (lang, ws) => lang -> hits(toks, ws) }
    val best = counts.map(_._2).reduce((a, b) => greatest(a, b))
    counts.foldRight(lit("und"): Column) { case ((lang, c), acc) =>
      when(c === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality metrics: length, token counts, distinct ratio, stopword ratio,
    * mean token length. All ratios rounded for cross-engine comparison. */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val enStops = markers.head._2
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      nTok.as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      round(size(array_distinct(toks)).cast("double") / nTok, 4).as("distinct_ratio"),
      round(hits(toks, enStops).cast("double") / nTok, 4).as("stopword_ratio"),
      round((length(col(textCol)) - nTok + 1).cast("double") / nTok, 4)
        .as("avg_token_len"))
  }

  /** Whitespace token count + a BPE-ish subword proxy: counts of 4-char
    * chunks (ceil(len/4) per token), a deterministic stand-in for a BPE
    * tokenizer's piece count. */
  /** GPT-2-style pre-tokenizer pattern, restricted to the Java/RE2
    * common subset (no lookarounds, no unicode categories) so the DuckDB
    * oracle segments identically: letter runs, 1-3 digit groups,
    * punctuation runs, whitespace runs. */
  val bpePattern = "[a-zA-Z]+|[0-9]{1,3}|[^a-zA-Z0-9\\s]+|\\s+"

  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(
      col(idCol),
      size(toks).as("n_ws_tokens"),
      // cheap budget heuristic (~4 chars/subword), no second regex pass
      aggregate(toks, lit(0L),
        (acc, t) => acc + ceil(length(t).cast("double") / 4).cast("long"))
        .as("n_subword_est"),
      // regex segmentation count — the BPE-shaped budget a packing stage
      // plans against (one codegen'd regexp pass per row)
      size(regexp_extract_all(col(textCol), lit(bpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))
  }

  /** Token-window chunking — split each document into overlapping
    * fixed-size token windows (the pack-into-context-window step of a
    * training pipeline). Chunks start every `chunkSize - overlap` tokens;
    * the last chunk is short rather than dropped (no token is lost), and
    * a doc shorter than `chunkSize` yields exactly one chunk.
    *
    * Pure per-row explode — one `sequence` of start offsets +
    * `posexplode` + `slice`, all codegen'd builtins, no shuffle: output
    * volume is input volume × (1 + overlap share), which is the floor for
    * this op at any scale. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"), posexplode(
        sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), lit(step))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        array_join(slice(col("t"), col("col") + 1, lit(chunkSize)), " ").as("chunk"),
        least(lit(chunkSize), size(col("t")) - col("col")).cast("long")
          .as("n_tokens"))
  }

  /** Global token packing — the "concatenate all docs in id order, split
    * every `capacity` tokens" step that turns a curated corpus into
    * fixed-size training sequences. Per doc: its global token offset
    * (`start_tok`), and the first/last bin it lands in (a doc may
    * straddle a bin boundary; `bin_first`/`bin_last` delimit the split).
    *
    * The naive formulation is ONE window (`sum over (order by id)`) with
    * no partition key — Spark plans that as Exchange(SinglePartition):
    * the entire corpus flows through one task, a non-starter at scale.
    * This is the two-level scan instead:
    *   1. docs bucket by `id div bucketSize`; per-bucket token totals
    *      aggregate in parallel (map-side combine);
    *   2. the bucket-total table (corpus/bucketSize rows — TINY) takes
    *      the single-partition running sum, which is fine at that size;
    *   3. bucket prefixes broadcast back, and the within-bucket running
    *      sum is a window PARTITIONED by bucket — parallel again.
    * Same numbers as the naive window (OpsSpec pins equality); only the
    * tiny table ever sees a single partition. `idCol` must be integral
    * (the packing order and the bucketing both key on it). */
  def packTokens(df: DataFrame, idCol: String, textCol: String,
                 capacity: Long, bucketSize: Long = 4096): DataFrame = {
    require(capacity > 0 && bucketSize > 0, "capacity/bucketSize must be > 0")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val bucketed = base.withColumn("__bucket",
      expr(s"(doc_id - pmod(doc_id, ${bucketSize}L)) div ${bucketSize}L"))
    val totals = bucketed.groupBy("__bucket")
      .agg(sum("n_tokens").as("__btotal"))
    val prefixes = totals.withColumn("__bprefix",
      coalesce(sum(col("__btotal")).over(
        Window.orderBy("__bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bucket", "__bprefix")
    val within = Window.partitionBy("__bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(prefixes), Seq("__bucket"))
      .withColumn("start_tok",
        col("__bprefix") + coalesce(sum(col("n_tokens")).over(within), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("start_tok"),
        expr(s"(start_tok - pmod(start_tok, ${capacity}L)) div ${capacity}L")
          .as("bin_first"),
        expr(s"(start_tok + n_tokens - 1 - pmod(start_tok + n_tokens - 1, ${capacity}L)) div ${capacity}L")
          .as("bin_last"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set —
    * order-insensitive document identity (bag-of-words fingerprint).
    * Portable across engines (md5 of utf8), so oracle-checkable. */
  def contentFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** WINNOWED document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every word `k`-gram, slide a window of
    * `w` consecutive positions, keep each window's minimum hash. The
    * GUARANTEE that makes it the standard overlap detector: any shared
    * run of ≥ w+k−1 tokens contributes at least one IDENTICAL selected
    * hash to both documents, while the fingerprint set is ~2/(w+1) the
    * density of the full gram stream. Ties break to the leftmost
    * position (any fixed rule preserves the guarantee); windows shorter
    * than `w` at the document head emit their running min (prefix
    * convention, mirrored in the oracle). Output: (doc_id, h) DISTINCT —
    * one row per selected 32-bit gram hash.
    *
    * Everything is md5-integer draws + one frame-bounded window min —
    * the determinism toolbox end to end, so the relation hash-verifies
    * against DuckDB (q141). Short docs (< k tokens) fingerprint their
    * whole text as one gram, the [[graft.functions.WordShingles]]
    * convention.
    *
    * Scale shape: posexplode (positions ≈ tokens) → ONE window min on
    * the doc key (the gram stream never joins anything) → distinct
    * collapses ~w/2× before any downstream join. Fingerprints, not
    * grams, are what crosses the wire. */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, w: Int = 10): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    // row-local selection (r17, guide §2.4): the former posexplode →
    // per-doc frame-min window exchanged AND sorted the entire gram
    // stream on the doc key before distinct could thin it; the
    // winnow_fingerprints expression runs the same md5-keyed sliding
    // min inside the scan task and emits only the ~2/(w+1)-density
    // DISTINCT fingerprint set (WinnowFingerprintSpec pins equality
    // with the window form, including the short-doc and head-window
    // conventions).
    docs.select(col(idCol).as("doc_id"),
      explode(graft.functions.WinnowFingerprint.winnow_fingerprints(
        tokens(col(textCol)), k, w)).as("h"))
  }

  /** TERM-LEVEL VOCABULARY DRIFT between two corpus snapshots — the
    * text analogue of the numeric PSI drift pair (q76/q96): per-term
    * contribution to KL(new ‖ old) over add-1-smoothed unigram
    * distributions, `p·ln(p/q)` with p = (c_new+1)/(N_new+V),
    * q = (c_old+1)/(N_old+V). Positive contributions = terms the new
    * corpus over-represents (the emerging vocabulary a curation monitor
    * alerts on); the column sums to the corpus-level KL. Smoothing puts
    * vanished and newborn terms on the same footing instead of ±∞.
    *
    * Deterministic cross-engine: counts and totals are exact integers,
    * p and q are single double divisions of those integers, and the
    * round-6 `+ 0.0` canonicalization absorbs libm ulp and the signed
    * zero (the q108 PMI precedent — same ln parity).
    *
    * Scale shape: two explode+count aggregations (combinable, shuffle
    * on the term key), one full-outer term join, and a 1-row totals
    * aggregate broadcast back. Nothing is quadratic in corpus or
    * vocabulary. */
  def vocabKlDrift(oldDocs: DataFrame, newDocs: DataFrame,
                   textCol: String): DataFrame = {
    def termCounts(df: DataFrame, as: String) =
      df.select(explode(tokens(col(textCol))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as(as))
    val j = termCounts(oldDocs, "c_old")
      .join(termCounts(newDocs, "c_new"), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"))
    val stats = j.agg(sum(col("c_old")).as("n_old"),
      sum(col("c_new")).as("n_new"), count(lit(1)).as("v"))
    val p = (col("c_new") + lit(1.0)) / (col("n_new") + col("v"))
    val q = (col("c_old") + lit(1.0)) / (col("n_old") + col("v"))
    j.crossJoin(broadcast(stats))
      .select(col("term"), col("c_old"), col("c_new"),
        (round(p * log(p / q), 6) + lit(0.0)).as("kl_term"))
  }

  /** Document-overlap pairs via winnowed fingerprints — the MOSS
    * composition: docs sharing ≥ `minShared` selected hashes, with the
    * shared count as the overlap score. By the winnowing guarantee,
    * every pair sharing a token run of ≥ w+k−1 words surfaces here —
    * the boilerplate/quotation detector that works at corpus scale
    * because only the sparse fingerprint relation is joined, never the
    * gram stream. One equi-join on the 32-bit hash + one combinable
    * pair count; hot hashes (corpus-wide boilerplate grams) are the
    * skew knob — cap them upstream like [[graft.ops.Dedup]]'s hot-
    * shingle guard if a corpus needs it. */
  def winnowedOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, w: Int = 10,
                           minShared: Long = 2L): DataFrame = {
    val f = winnowedFingerprints(docs, idCol, textCol, k, w)
    val a = f.select(col("h"), col("doc_id").as("doc_a"))
    val b = f.select(col("h"), col("doc_id").as("doc_b"))
    a.join(b, "h").filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Gopher-style repetition metrics + a composite keep flag — the
    * quality-filter pass a pretraining pipeline runs before dedup.
    *
    * Per document (n = token count):
    *  - `top_unigram_frac`: occurrences of the most frequent token / n
    *  - `top_bigram_frac`: occurrences of the most frequent bigram / (n-1)
    *  - `dup_trigram_frac`: fraction of trigram positions whose trigram
    *    occurs more than once in the document / (n-2)
    *  - `keep`: true iff all three are under their thresholds (and the
    *    doc has ≥ minTokens tokens)
    *
    * Everything is per-row array work over the token list — NO explode, NO
    * shuffle: at 100 TB the cost is the scan plus O(n log n) per-row
    * compute, and the `keep` filter pushes down over the scan when used as
    * a predicate. (The explode + groupBy(doc, gram) formulation computes
    * the same mode but shuffles a row per token — strictly worse for a
    * per-document reduction.) Fractions round to 4 decimals so the DuckDB
    * replay compares rounded value to threshold identically.
    *
    * Formulation matters TWICE over, because HOFs are CodegenFallback-
    * INTERPRETED:
    *  1. Lambda evals cost ~1.6 µs each — the naive mode count
    *     (`array_max(transform(array_distinct(t), count-equal-in-t))`)
    *     plus a doubly-nested trigram-duplicate filter is
    *     O(n·distinct + n²) evals per row: measured 240+ s over 5k
    *     100-token docs in one scan task.
    *  2. Any expression referenced INSIDE a lambda body is RE-EVALUATED
    *     per element (interpreted HOFs do no subexpression sharing): a
    *     first rewrite that kept `element_at(sorted, i±1)` probes inside
    *     a filter lambda re-ran `array_sort(trigrams(split(text)))` for
    *     every index — jstack showed StringSplit/ConcatWs/ArraySort
    *     frames under the filter's per-element eval, O(n² log n)/row.
    *
    * The rule this code now follows: lambdas touch ONLY their lambda
    * variables and the fold state; every array enters a HOF as its
    * primary ARGUMENT (evaluated once per row). Sorting each gram array
    * (native) turns both questions into single linear folds over the
    * sorted array: mode count = longest run; duplicated-position count =
    * total length of runs ≥ 2. N-gram arrays build with `zip_with` over
    * shifted `slice`s (arguments, not lambda-internal indexing). Same
    * values as the straightforward formulation, so the DuckDB oracle
    * keeps that one and hash-agreement pins the equivalence. */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
                        maxTopUnigram: Double = 0.2,
                        maxTopBigram: Double = 0.18,
                        maxDupTrigram: Double = 0.5,
                        minTokens: Int = 10,
                        useNative: Boolean = true): DataFrame = {
    if (useNative) return repetitionMetricsNative(df, idCol, textCol,
      maxTopUnigram, maxTopBigram, maxDupTrigram, minTokens)
    val toks = tokens(col(textCol))
    val n = size(toks)
    // longest run in a SORTED array == max occurrence count of any value.
    // Fold state: (prev value, current run, best run); tokens are never
    // null (split output), so <=> against the null init is a clean "first
    // element" test. `arr` is the aggregate's ARGUMENT: one eval per row.
    def modeCount(arr: Column): Column =
      aggregate(array_sort(arr),
        struct(lit(null).cast("string").as("prev"),
          lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x <=> acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(run, acc.getField("best")).as("best"))
        },
        acc => acc.getField("best"))
    // duplicated-position count == total length of runs ≥ 2 in the sorted
    // array: fold flushes a finished run into the accumulator when the
    // value changes, finish flushes the last run.
    def dupCount(arr: Column): Column =
      aggregate(array_sort(arr),
        struct(lit(null).cast("string").as("prev"),
          lit(0L).as("run"), lit(0L).as("acc")),
        (acc, x) => {
          val same = x <=> acc.getField("prev")
          val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
          val flushed = when(!same && acc.getField("run") >= 2L,
            acc.getField("acc") + acc.getField("run"))
            .otherwise(acc.getField("acc"))
          struct(x.as("prev"), run.as("run"), flushed.as("acc"))
        },
        acc => acc.getField("acc") +
          when(acc.getField("run") >= 2L, acc.getField("run")).otherwise(0L))
    // n-grams via zip_with over shifted slices — every array is an
    // argument; the lambdas see only their element variables
    val bigrams = zip_with(slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val trigrams = zip_with(slice(bigrams, lit(1), greatest(n - 2, lit(0))),
      slice(toks, lit(3), greatest(n - 2, lit(0))),
      (ab, c) => concat(ab, lit(" "), c))
    val topUni = round(modeCount(toks).cast("double") / n, 4)
    val topBi = when(n >= 2,
      round(modeCount(bigrams).cast("double") / (n - 1), 4))
    val dupTri = when(n >= 3,
      round(dupCount(trigrams).cast("double") / (n - 2), 4))
    df.select(col(idCol),
      n.cast("long").as("n_tokens"),
      topUni.as("top_unigram_frac"),
      topBi.as("top_bigram_frac"),
      dupTri.as("dup_trigram_frac"),
      (n >= minTokens && topUni <= maxTopUnigram &&
        coalesce(topBi <= maxTopBigram, lit(true)) &&
        coalesce(dupTri <= maxDupTrigram, lit(true))).as("keep"))
  }

  /** Native-expression form of [[repetitionMetrics]] (the default): one
    * [[graft.functions.RepetitionStats]] eval per row replaces all the
    * interpreted HOF folds. Two-stage select on purpose — the struct is
    * referenced three times, and CollapseProject declines to inline a
    * non-cheap multiply-referenced alias, so the expression evaluates
    * ONCE per row instead of once per field. */
  private def repetitionMetricsNative(df: DataFrame, idCol: String,
                                      textCol: String, maxTopUnigram: Double,
                                      maxTopBigram: Double,
                                      maxDupTrigram: Double,
                                      minTokens: Int): DataFrame = {
    val staged = df.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("__n"),
      graft.functions.RepetitionStats.repetition_stats(
        tokens(col(textCol))).as("__rs"))
    val n = col("__n")
    val topUni = round(col("__rs.top_uni").cast("double") / n, 4)
    val topBi = when(n >= 2,
      round(col("__rs.top_bi").cast("double") / (n - 1), 4))
    val dupTri = when(n >= 3,
      round(col("__rs.dup_tri").cast("double") / (n - 2), 4))
    staged.select(col(idCol),
      n.as("n_tokens"),
      topUni.as("top_unigram_frac"),
      topBi.as("top_bigram_frac"),
      dupTri.as("dup_trigram_frac"),
      (n >= minTokens && topUni <= maxTopUnigram &&
        coalesce(topBi <= maxTopBigram, lit(true)) &&
        coalesce(dupTri <= maxDupTrigram, lit(true))).as("keep"))
  }

  /** BM25 top-k documents per query term (Okapi BM25, k1/b standard) —
    * the keyword-retrieval pass behind topic-targeted corpus selection.
    * Single-term queries; `queries` is a tiny in-memory list.
    *
    * Scale shape mirrors [[tfIdfTopTerms]]: one explode → (doc, term)
    * count shuffle with map-side combine, document frequency as a second
    * aggregate over the (doc, term) pairs RESTRICTED to the query terms
    * (the isin filter pushes below both aggregates, so the wide corpus
    * explode prunes to query-term postings immediately), corpus stats
    * (N, avgdl) ride a broadcast 1-row aggregate, and the final top-k is
    * a rank with WindowGroupLimit pre-reduction. Scores round to 4
    * decimals with a doc_id tie-break — a total order, so the DuckDB
    * replay hash-matches. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
    val tf = docs
      .select(col("doc_id"), size(col("t")).cast("double").as("dl"),
        explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("t"))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    // expression tree mirrors OracleGen-side SQL term for term (same
    // double literals, same associativity) so round(_, 4) agrees
    val denom = col("tf") +
      lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    val scored = tf.join(broadcast(docFreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"),
        round(idf * col("tf") * lit(k1 + 1) / denom, 4).as("score"))
    Windows.topKPerGroup(scored, Seq(col("term")),
      Seq(col("score").desc, col("doc_id").asc), k)
  }

  /** BM25 "more-like-this": for each QUERY DOCUMENT (id % stride == 0),
    * rank every other document by Σ over the query doc's DISTINCT terms
    * of its Okapi BM25 term score — document-as-query retrieval, the
    * lexical arm of a hybrid (sparse + dense) retrieval stack where the
    * dense arm is embedding cosine over the same id space
    * ([[graft.ops.Similarity.bruteForceTopK]]; q101 fuses the two with
    * RRF).
    *
    * Cross-engine determinism: each (query, term, cand) score is the
    * SAME double expression tree as [[bm25TopK]] (shared literals and
    * associativity; avgdl pre-rounded to 6), then integerized to
    * micro-units BEFORE the per-pair summation — the q76/q96 lesson:
    * long sums are order-free where IEEE double sums are not, and the
    * per-term 1e-6 quantization is far finer than any rank boundary the
    * final round(·, 4) exposes.
    *
    * Scale shape: corpus postings are ONE explode → (doc, term) count
    * shuffle; the query-side term list (stride docs' distinct terms,
    * pre-joined with its docfreqs) BROADCASTS into the postings join, so
    * the corpus never shuffles for the probe; the per-(query, cand) sum
    * is one combinable aggregation and the top-k rides a
    * WindowGroupLimit rank.
    *
    * `maxDf` is the hot-term cost guard — the same inverted-index skew
    * bomb every posting sweep in [[graft.ops.Dedup]] guards: a query
    * term present in df docs joins df posting rows PER QUERY USING IT, so
    * corpus-wide terms ("the"-class, df ≈ N) dominate the join while
    * contributing ≈ 0 relevance (idf → ln(1 + ~1/N)). Dropping terms
    * with df > maxDf before the join cuts the probe to
    * Σ min(df, maxDf) rows per query (measured 4.18 → ~1 s on the
    * sf0.1 bench shape at maxDf = 50) and is standard more-like-this
    * practice (informative terms only). The guard is part of the
    * declared relation — the oracle replays the same cut. */
  def bm25MoreLikeThis(df: DataFrame, idCol: String, textCol: String,
                       queryStride: Long = 100, k: Int = 10,
                       maxDf: Option[Int] = None,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryStride >= 1 && k >= 1, "need queryStride >= 1, k >= 1")
    require(maxDf.forall(_ >= 1), "maxDf must be >= 1")
    val docs = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
    val tf = docs
      .select(col("doc_id"), size(col("t")).cast("double").as("dl"),
        explode(col("t")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      round(avg(size(col("t"))), 6).as("avgdl"))
    val queryTerms = docs.filter(col("doc_id") % queryStride === 0)
      .select(col("doc_id").as("query_id"), explode(col("t")).as("term"))
      .distinct()
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val denom = col("tf") +
      lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    val termScoreMicros =
      round(idf * col("tf") * lit(k1 + 1) / denom * 1000000.0).cast("long")
    // query terms pick up their docfreq BEFORE the postings join (the
    // query side is broadcast-sized, so this is map-side) — the maxDf
    // guard then prunes hot terms before they can fan out, and the
    // postings join needs no separate docfreq join at all
    val qts = queryTerms.join(docFreq, Seq("term"))
      .filter(maxDf.map(m => col("df") <= m.toDouble).getOrElse(lit(true)))
    val scored = tf.join(broadcast(qts), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id").as("cand_id"),
        termScoreMicros.as("__sm"))
      .groupBy("query_id", "cand_id")
      .agg(round(sum(col("__sm")).cast("double") / 1000000.0, 4).as("score"))
    Windows.topKPerGroup(scored, Seq(col("query_id")),
      Seq(col("score").desc, col("cand_id").asc), k)
  }

  /** Top-k terms per document by TF-IDF (keyword extraction — the
    * training-data-prep step behind topic filters and per-doc summaries).
    * tf = in-doc term count; idf = ln(N / docfreq); score rounded to 4
    * decimals so the cross-engine ln/multiply wobble can't move a rank
    * (term ASC tie-break makes the top-k total-ordered).
    *
    * Scale shape: explode → (doc, term) count is one shuffle with map-side
    * combine; doc-frequency is a second, smaller aggregate over the
    * (doc, term) pairs; N rides a broadcast 1-row aggregate (NO eager
    * count — plan construction runs zero jobs). The score join shuffles
    * on term; the final top-k is a rank with WindowGroupLimit
    * pre-reduction. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("docfreq"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("docfreq")), 4).as("tfidf"))
    Windows.topKPerGroup(scored, Seq(col("doc_id")),
      Seq(col("tfidf").desc, col("term").asc), k)
  }

  // ------------------------------------------------- distribution drift

  /** Population-stability-index (PSI) drift table between a REFERENCE
    * corpus and a CANDIDATE batch over a numeric column — the standard
    * "did this ingest shift the corpus?" monitor a training pipeline runs
    * before admission. Values bin at fixed `binWidth` (fixed-width, not
    * quantile, so bin identity is a pure function of the value — stable
    * across snapshots and engines); per-bin proportions are additively
    * smoothed (+0.5 over the UNION of observed bins, so a bin present on
    * one side only contributes a finite, deterministic term instead of
    * ln(0)); contrib = (pb − pa)·ln(pb/pa) ≥ 0, and Σ contrib is the PSI
    * (rule of thumb: < 0.1 stable, > 0.25 drifted).
    *
    * Scale shape: two map-side-combined histogram aggregates (one per
    * side, shuffling one row per bin), a full outer join on bin, totals
    * ride broadcast 1-row aggregates. Nothing touches row-level data
    * after the histograms — the monitor costs two scans regardless of
    * corpus size, and the reference histogram is a natural persisted
    * artifact (recompute only the batch side nightly). */
  /** Global top-k word n-gram vocabulary with counts — corpus-level
    * vocabulary mining (tokenizer health checks, boilerplate discovery,
    * stop-phrase lists). Grams keep multiplicity (a phrase repeated in
    * one doc counts each time); short docs contribute their whole text
    * as one gram, matching [[graft.ops.Dedup.shingles]].
    *
    * Scale shape: explode is narrow; the count is ONE map-side-combinable
    * hash aggregation (shuffle carries one row per distinct gram per
    * partition); the global top-k plans as TakeOrderedAndProject — each
    * partition forwards its local k, never a full sort. Ties break on the
    * gram itself, so the k-boundary is a total order any engine
    * reproduces. */
  def vocabTopK(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, "need n >= 1 and k >= 1")
    df.select(explode(Dedup.shingles(tokens(col(textCol)), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)
  }

  /** ZIPF-LAW FIT over the corpus term frequencies — the power-law
    * check (Zipf 1949; freq ∝ rank^(−s), s ≈ 1 for natural language):
    * OLS of ln(freq) on ln(rank) over the top `topN` terms. The
    * corpus-health screen: a slope far from −1 flags synthetic /
    * boilerplate-dominated text; the r² says whether a power law fits
    * at all (template corpora kink). Output one row:
    * (n_terms, slope, intercept, r2).
    *
    * Determinism: rank = row_number under (cnt desc, term asc) — the
    * q64 total order; x = round(1e6·ln(rank)) and y = round(1e6·
    * ln(cnt)) are EXACT LONGS (shared-double ln, q82), so all five
    * OLS sums are exact with the products carried in decimal(38,0) /
    * HUGEINT (Σx·Σy ≈ (topN·14e6)² tops int64 just past topN ≈ 400 —
    * the r12 ladder); slope/intercept/r² are mirrored floats over the
    * exact sums (round-4). Degenerate fits (den = 0) yield NULLs.
    *
    * Scale shape: one combinable term count, ONE global top-N
    * (TakeOrderedAndProject — partitions forward their local N), then
    * everything is topN-sized. */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 500)
      : DataFrame = {
    require(topN >= 3, "topN must be >= 3")
    val top = df
      .select(explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term").asc)
    val xy = top.withColumn("rk", row_number().over(w).cast("long"))
      .select(
        round(log(col("rk").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * 1e6).cast("long").as("y"))
    val s = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
      sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    val den = expr("cast(n as decimal(38,0)) * sxx" +
      " - cast(sx as decimal(38,0)) * sx")
    val num = expr("cast(n as decimal(38,0)) * sxy" +
      " - cast(sx as decimal(38,0)) * sy")
    val deny = expr("cast(n as decimal(38,0)) * syy" +
      " - cast(sy as decimal(38,0)) * sy")
    s.select(col("n").as("n_terms"),
      when(den.cast("double") =!= 0.0,
        round(num.cast("double") / den.cast("double"), 4)).as("slope"),
      when(den.cast("double") =!= 0.0,
        round((col("sy").cast("double") -
          (num.cast("double") / den.cast("double")) *
            col("sx").cast("double")) /
          col("n").cast("double") / 1e6, 4)).as("intercept"),
      when(den.cast("double") =!= 0.0 && deny.cast("double") =!= 0.0,
        round(num.cast("double") * num.cast("double") /
          (den.cast("double") * deny.cast("double")), 4)).as("r2"))
  }

  /** HEAPS-LAW FIT of vocabulary growth (Heaps 1978; V ≈ K·N^β,
    * β ≈ 0.4–0.6 for natural language): OLS of ln V on ln N over
    * power-of-2 document-prefix checkpoints. The companion card to
    * [[zipfFit]]: Zipf checks the FREQUENCY shape, Heaps checks that
    * NEW vocabulary keeps arriving at the sub-linear natural rate —
    * a β near 0 flags a template corpus that stopped yielding novel
    * tokens (dedup it, don't train on more of it), β near 1 flags
    * id/hash-like token soup.
    *
    * Determinism + the scale trick: a token's contribution to EVERY
    * checkpoint is determined by its FIRST occurrence alone, so the
    * whole curve needs no quadratic prefix re-scan: doc sequence =
    * row_number under (id asc), checkpoint bucket = bit length of the
    * sequence (exact INTEGER length(bin(seq)) — no float log2 whose
    * boundary ulp could flip a bucket), V and N cumulate over the
    * ≤ 64 bucket rows. Checkpoint ln's are micro-rounded exact longs
    * and the OLS block is byte-identical to [[zipfFit]]'s (decimal
    * ladder, mirrored slope/intercept/r², round-4).
    *
    * Scale shape: one explode, TWO combinable aggs (min-first-seq per
    * term, token count per bucket), windows only over ≤ 64 bucket
    * rows. The doc-sequence row_number is the q43/q204 global-window
    * class — swap for a precomputed dense id at warehouse scale. */
  /** GOOD–TURING vocabulary-saturation card (Good 1953; Chao 1984's
    * bias-corrected richness) — per group (language), the
    * frequency-of-frequencies summary that answers "is more data still
    * adding new tokens": p0 = N1/N is the Good–Turing estimate of the
    * probability mass on UNSEEN tokens (the leave-one-out argument: a
    * hapax is exactly what a new token looks like one sample early),
    * hapax share N1/V is the vocabulary's raw-growth edge, and Chao1 =
    * V + N1·(N1−1)/(2·(N2+1)) (the bias-corrected form — defined even
    * at N2 = 0) lower-bounds the true vocabulary size. The corpus-level
    * counterpart of [[heapsFit]]'s growth exponent (q243): Heaps says
    * how fast V grew, this says how much is left.
    *
    * ALL-INTEGER: exact counts, non-negative `div` (= DuckDB `//`);
    * the one product N1·(N1−1) rides decimal(38,0)/HUGEINT (hapax
    * counts in the billions square past int64 — the q201 ladder).
    * Tokens are the corpus convention: split on ' ', empty dropped.
    *
    * Scale shape: one explode, one (group, term) combinable count, one
    * per-group combinable rollup — nothing keyed finer than the term
    * table. Output: (group, n_tokens, vocab, n1, n2, p0_micros,
    * hapax_share_micros, chao1). */
  def goodTuringVocab(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val cnt = df.select(col(groupCol).as("grp"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("grp"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("vocab"),
        col("n1"), col("n2"),
        expr("(1000000L * n1) div n_tokens").as("p0_micros"),
        expr("(1000000L * n1) div vocab").as("hapax_share_micros"),
        expr("vocab + cast((cast(n1 as decimal(38,0)) * (n1 - 1))" +
          " div (2 * (n2 + 1)) as bigint)").as("chao1"))
  }

  /** CHAO–SHEN COVERAGE-ADJUSTED ENTROPY (Chao & Shen 2003) — the
    * token-distribution entropy a finite sample actually supports:
    * the plug-in estimator Ĥ = −Σ p̂ ln p̂ is biased LOW (unseen
    * tokens contribute nothing), so the card corrects with the
    * Good–Turing coverage C = 1 − N1/N ([[goodTuringVocab]]'s p0
    * complement): shrink each p̂ to p̃ = C·p̂ and weight each term by
    * its inverse inclusion probability 1/(1 − (1−p̃)^N) (the
    * Horvitz–Thompson argument — the q288 estimator applied to
    * entropy terms). Reported per group beside the plug-in value, so
    * the GAP is the diversity a bigger sample would still reveal —
    * the principled companion to q259's "how much vocabulary is
    * left". An all-hapax group (C = 0) has no support for the
    * correction and reports NULL h_chao_shen.
    *
    * Determinism: counts are exact; each per-term float chain (one
    * ln, one exp-of-ln power, two divisions — identical
    * parenthesization both engines) rounds to EXACT NANOS
    * (round(·,·1e9) — the q279 round-then-sum idiom one scale down,
    * since entropy terms are O(p ln p) small) and the vocab-sized sum
    * runs over longs, order-free; the final entropy is one mirrored
    * division + round-4 (+0.0).
    *
    * Scale shape: one explode, one (group, term) combinable count,
    * one per-group combinable rollup, and ONE broadcast of the
    * |groups|-row totals back onto the term table (bounded by the
    * GROUP set, not the vocabulary — the vocab relation itself is
    * never broadcast, per the round-15 contract); final combinable
    * per-group agg. */
  def chaoShenEntropy(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val cnt = df.select(col(groupCol).as("grp"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("grp"), col("term")).agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("grp"))
      .agg(sum(col("c")).as("t"), count(lit(1)).as("v"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"))
    val ph = col("c").cast("double") / col("t")
    val pa = ((col("t") - col("n1")).cast("double") / col("t")) * ph
    val denom = when(col("pa") < 1.0,
      lit(1.0) - exp(col("t").cast("double") *
        log(lit(1.0) - col("pa")))).otherwise(lit(1.0))
    cnt.join(broadcast(tot), Seq("grp"))
      .withColumn("pa", pa)
      .select(col("grp"), col("t"), col("v"), col("n1"),
        round((ph * log(ph)) * lit(1000000000.0)).cast("long").as("tp"),
        when(col("pa") > 0,
          round(((col("pa") * log(col("pa"))) / denom) *
            lit(1000000000.0)).cast("long"))
          .otherwise(0L).as("tc"))
      .groupBy(col("grp"), col("t"), col("v"), col("n1"))
      .agg(sum(col("tp")).as("sp"), sum(col("tc")).as("sc"))
      .select(col("grp").as(groupCol), col("t").as("n_tokens"),
        col("v").as("vocab"), col("n1"),
        expr("1000000L - (1000000L * n1) div t").as("coverage_micros"),
        (round(-col("sp").cast("double") / lit(1e9), 4) + lit(0.0))
          .as("h_plugin"),
        when(col("n1") < col("t"),
          round(-col("sc").cast("double") / lit(1e9), 4) + lit(0.0))
          .as("h_chao_shen"))
  }

  def heapsFit(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val wSeq = org.apache.spark.sql.expressions.Window
      .orderBy(col("id").asc)
    val toks = df.select(col(idCol).as("id"), col(textCol).as("txt"))
      .withColumn("seq", row_number().over(wSeq).cast("long"))
      .select(col("seq"), explode(split(col("txt"), " ")).as("term"))
      .filter(col("term") =!= "")
      .localCheckpoint(eager = false)
    val dv = toks.groupBy(col("term")).agg(min(col("seq")).as("fseq"))
      .groupBy(expr("cast(length(bin(fseq)) as bigint)").as("e"))
      .agg(count(lit(1)).as("dv"))
    val dn = toks
      .groupBy(expr("cast(length(bin(seq)) as bigint)").as("e"))
      .agg(count(lit(1)).as("dn"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("e").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val xy = dn.join(dv, Seq("e"), "full_outer")
      .select(col("e"), coalesce(col("dn"), lit(0L)).as("dn"),
        coalesce(col("dv"), lit(0L)).as("dv"))
      .withColumn("ncum", sum(col("dn")).over(wCum))
      .withColumn("vcum", sum(col("dv")).over(wCum))
      .filter(col("ncum") > 0 && col("vcum") > 0)
      .select(
        round(log(col("ncum").cast("double")) * 1e6).cast("long")
          .as("x"),
        round(log(col("vcum").cast("double")) * 1e6).cast("long")
          .as("y"))
    val s = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
      sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
      sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    val den = expr("cast(n as decimal(38,0)) * sxx" +
      " - cast(sx as decimal(38,0)) * sx")
    val num = expr("cast(n as decimal(38,0)) * sxy" +
      " - cast(sx as decimal(38,0)) * sy")
    val deny = expr("cast(n as decimal(38,0)) * syy" +
      " - cast(sy as decimal(38,0)) * sy")
    s.select(col("n").as("n_checkpoints"),
      when(den.cast("double") =!= 0.0,
        round(num.cast("double") / den.cast("double"), 4)).as("beta"),
      when(den.cast("double") =!= 0.0,
        round((col("sy").cast("double") -
          (num.cast("double") / den.cast("double")) *
            col("sx").cast("double")) /
          col("n").cast("double") / 1e6, 4)).as("ln_k"),
      when(den.cast("double") =!= 0.0 && deny.cast("double") =!= 0.0,
        round(num.cast("double") * num.cast("double") /
          (den.cast("double") * deny.cast("double")), 4)).as("r2"))
  }

  def histogramDrift(ref: DataFrame, cand: DataFrame, valueCol: String,
                     binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def hist(df: DataFrame, cntName: String): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .select(floor(col(valueCol).cast("double") / binWidth).cast("long")
          .as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(cntName))
    val ha = hist(ref, "cnt_a")
    val hb = hist(cand, "cnt_b")
    val joined = ha.join(hb, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val stats = joined.agg(sum(col("cnt_a")).as("tot_a"),
      sum(col("cnt_b")).as("tot_b"), count(lit(1)).as("n_bins"))
    joined.crossJoin(broadcast(stats))
      .select(col("bin"), col("cnt_a"), col("cnt_b"),
        round(((col("cnt_b") + 0.5) / (col("tot_b") + col("n_bins") * 0.5)
          - (col("cnt_a") + 0.5) / (col("tot_a") + col("n_bins") * 0.5))
          * log(((col("cnt_b") + 0.5) / (col("tot_b") + col("n_bins") * 0.5))
            / ((col("cnt_a") + 0.5) / (col("tot_a") + col("n_bins") * 0.5))),
          6).+(lit(0.0)).as("psi_contrib"))
  }

  /** Day-over-day drift monitor: [[histogramDrift]]'s smoothed PSI
    * computed for every consecutive-day pair of an event stream — the
    * rolling health check an ingest pipeline alarms on (q76 compares two
    * fixed corpora; this walks the time axis). One row per day that has
    * a previous day: (day, n_bins, psi) where psi sums the smoothed
    * contributions of yesterday→today.
    *
    * Determinism: per-bin contributions round to micro-units and SUM AS
    * LONGS — a float sum of ~n_bins doubles is partial-order-sensitive
    * at the last ulp, and a final round can land on a boundary; the
    * integer sum cannot. psi = that exact long / 1e6 (one correctly-
    * rounded division, identical in any engine).
    *
    * Scale shape: ONE histogram aggregation over the stream (map-side
    * combined, one row per (day, bin) out), consumed twice via a lazy
    * localCheckpoint — as itself and shifted one day forward — in a
    * (day, bin) full-outer self-join; per-day totals are a tiny
    * broadcast. Nothing after the histogram touches row-level data. */
  def windowedDrift(df: DataFrame, tsCol: String, valueCol: String,
                    binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val h = df.filter(col(valueCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"),
        floor(col(valueCol).cast("double") / binWidth).cast("long").as("bin"))
      .groupBy("day", "bin").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    val prev = h.select(date_add(col("day"), 1).as("day"), col("bin"),
      col("cnt").as("cnt_a"))
    val cur = h.select(col("day"), col("bin"), col("cnt").as("cnt_b"))
    val joined = prev.join(cur, Seq("day", "bin"), "full_outer")
      .select(col("day"), col("bin"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    // a day enters the monitor only when BOTH itself and its
    // predecessor contributed rows (tot == 0 ⇒ one side is absent)
    val totals = joined.groupBy(col("day")).agg(
        sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"),
        count(lit(1)).as("n_bins"))
      .filter(col("tot_a") > 0 && col("tot_b") > 0)
    val pa = (col("cnt_a") + 0.5) / (col("tot_a") + col("n_bins") * 0.5)
    val pb = (col("cnt_b") + 0.5) / (col("tot_b") + col("n_bins") * 0.5)
    joined.join(broadcast(totals), Seq("day"))
      .select(col("day"), col("n_bins"),
        round((pb - pa) * log(pb / pa) * 1000000.0).cast("long")
          .as("__cm"))
      .groupBy(col("day"), col("n_bins"))
      .agg((sum(col("__cm")).cast("double") / 1000000.0).as("psi"))
      .select(col("day"), col("n_bins"), col("psi"))
  }

  /** Signed feature hashing (the hashing trick, Weinberger et al. 2009):
    * each token lands in bucket md5(token) mod `dim` with a ± sign drawn
    * from an independent hash bit, and a document's feature value per
    * bucket is the signed token count — the unbiased fixed-width
    * vectorization step for linear quality classifiers over unbounded
    * vocabularies (no vocab table to build, ship, or version). Output is
    * SPARSE: one row per (doc, bucket) with nonzero weight; zero-sum
    * collisions drop (their feature value IS zero).
    *
    * Both hashes are md5 substrings (bucket = first 8 hex digits, sign =
    * the 9th), so any engine replays them exactly — same portability
    * argument as [[Sampling.weightedByHash]]'s md5 draw.
    *
    * Scale shape: explode is narrow; ONE map-side-combinable aggregation
    * on (doc, bucket) — the same cost class as token counting. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  dim: Int): DataFrame = {
    require(dim > 0, "dim must be > 0")
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val bucket = pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10)
      .cast("long"), lit(dim.toLong))
    val sign = when(pmod(conv(substring(md5(col("tok")), 9, 1), 16, 10)
      .cast("long"), lit(2L)) === 0L, 1L).otherwise(-1L)
    toks.select(col(idCol), bucket.as("bucket"), sign.as("__s"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__s")).as("w"))
      .filter(col("w") =!= 0L)
  }

  // ------------------------------------------------------- PII scrubbing

  /** Scrub patterns. Deliberately restricted to syntax that Java regex and
    * RE2-family engines interpret identically (char classes with `-` last,
    * bounded `{m,}` quantifiers, no backrefs/lookaround) so the DuckDB
    * oracle runs the very same patterns. URL first (it may contain both
    * digits and `@`), then email (may contain digit runs), then bare long
    * digit runs — each count is taken on the PREVIOUS stage's output, so
    * n_urls/n_emails/n_ids are exactly the number of replacements each
    * stage performed (an id inside an email is the email's, not an id). */
  val urlPattern = "https?://[A-Za-z0-9./_%-]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val idPattern = "[0-9]{6,}"

  /** PII redaction over a text column: URLs → `<URL>`, emails → `<EMAIL>`,
    * long digit runs → `<ID>`, with per-stage replacement counts. Pure
    * per-row `regexp_replace`/`regexp_count` built-ins — codegen'd, no
    * shuffle, scales with the scan exactly like the quality metrics. */
  def scrubPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val afterUrl = regexp_replace(col(textCol), urlPattern, "<URL>")
    val afterEmail = regexp_replace(afterUrl, emailPattern, "<EMAIL>")
    val clean = regexp_replace(afterEmail, idPattern, "<ID>")
    df.select(col(idCol),
      regexp_count(col(textCol), lit(urlPattern)).as("n_urls"),
      regexp_count(afterUrl, lit(emailPattern)).as("n_emails"),
      regexp_count(afterEmail, lit(idPattern)).as("n_ids"),
      clean.as("clean_text"))
  }

  /** Gopher's 8 required stop words (Rae et al. 2021, arXiv:2112.11446
    * §A1.1): a document must contain at least two of these to pass the
    * stop-word rule. */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) — the word-level subset that is meaningful
    * for single-line documents: word count within `[minWords, maxWords]`,
    * mean word length within [3, 10], ≥ 80% of words containing an
    * alphabetic character, and ≥ `minStops` distinct stop words present.
    * Emits the underlying measurements AND the verdict, not just the
    * verdict — a production curation funnel logs WHY each document fell
    * (the reject-reason audit), and downstream mixes re-weight on the
    * individual rules.
    *
    * The stop list defaults to the paper's 8 words ([[gopherStops]]) but
    * is a parameter: the paper itself flags the rule set as
    * English-register-specific (§A1.1), and a pipeline scoring another
    * register swaps in that register's function words — exactly what the
    * checked q83 does for the synthetic corpus.
    *
    * One scan, all codegen'd builtins (`split`/`filter`/
    * `array_intersect`), no shuffle and no row inflation — like
    * [[qualityMetrics]] this costs exactly the scan at any corpus size.
    * Mean word length reuses the `(n_chars − n_words + 1) / n_words`
    * identity (single-space tokenization) so no second pass over the
    * token array is needed. */
  /** FLESCH READING EASE per document (Flesch 1948; Kincaid's military
    * re-fit made it the de-facto prose-difficulty screen) — the
    * readability tier of the quality stack: Gopher rules catch
    * boilerplate and gibberish, readability flags text whose register
    * is wrong for the training mix (legalese, OCR shred, word salad).
    *
    * Counts are fully deterministic: words = the single-space token
    * convention ([[tokens]]); sentences = terminal-punctuation runs
    * `[.!?]+` with a floor of 1 (headline-style fragments count as one
    * sentence, not zero — avoiding the divide-by-zero the formula
    * otherwise hits); syllables = the standard vowel-group
    * approximation (runs of `[aeiouy]` in the lowercased text) plus one
    * per vowel-less word (every word carries ≥ 1 syllable — "rhythm",
    * digit strings). The score is DEFINED in integer micros:
    * 206.835e6 − (1.015e6·W) div S − (84.6e6·Y) div W, every operand a
    * non-negative long (`div` = `//`), so both faces agree bit-for-bit
    * — no float anywhere.
    *
    * Scale shape: one scan, three codegen'd regexp/array passes per
    * row, no shuffle — costs exactly the scan at any corpus size. */
  def readability(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val low = lower(col(textCol))
    df.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
            .cast("long")).as("n_sentences"),
        (size(regexp_extract_all(low, lit("[aeiouy]+"), lit(0)))
          .cast("long") +
          size(filter(split(low, " "), w => !w.rlike("[aeiouy]")))
            .cast("long")).as("n_syllables"))
      .withColumn("flesch_micros",
        lit(206835000L) - expr("(1015000L * n_words) div n_sentences")
          - expr("(84600000L * n_syllables) div n_words"))
  }

  /** The four Gopher metric columns over a text column — ONE definition
    * shared by [[gopherRules]] (the per-doc verdict) and [[corpusCard]]
    * (the rollup report), so a rule tweak can never leave the card
    * reporting a different keep rate than the filter applies. */
  private def gopherCols(text: Column, stopWords: Seq[String])
      : (Column, Column, Column, Column) = {
    val toks = tokens(text)
    val nW = size(toks)
    val meanLen = round((length(text) - nW + 1).cast("double") / nW, 4)
    val fracAlpha =
      round(size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double") / nW, 4)
    val nStop = size(array_intersect(toks, array(stopWords.map(lit): _*)))
    (nW, meanLen, fracAlpha, nStop)
  }

  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  stopWords: Seq[String] = gopherStops,
                  minStops: Int = 2): DataFrame = {
    val (nW, meanLen, fracAlpha, nStop) = gopherCols(col(textCol), stopWords)
    df.select(col(idCol), nW.as("n_words"), meanLen.as("mean_word_len"),
        fracAlpha.as("frac_alpha"), nStop.as("n_stop_distinct"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("frac_alpha") >= 0.8 &&
          col("n_stop_distinct") >= minStops)
  }

  /** Corpus data card: the per-(group…) + rollup-total report a training
    * set ships with — document/char/word volumes and the quality-rule
    * keep count, per source dimension and overall (the ROLLUP grand
    * total), in ONE scan and one shuffle. Rule semantics are
    * [[gopherRules]]' own columns (shared via the private helper), so
    * the card's keep rate is exactly what the filter would do.
    * `avg_words` divides two exact longs once (round 4) instead of
    * averaging doubles — no partial-sum order in the result. */
  def corpusCard(df: DataFrame, textCol: String,
                 groupCols: Seq[String], charsCol: String,
                 minWords: Int = 50, maxWords: Int = 100000,
                 stopWords: Seq[String] = gopherStops,
                 minStops: Int = 2): DataFrame = {
    val (nW, meanLen, fracAlpha, nStop) = gopherCols(col(textCol), stopWords)
    val keep = nW.between(minWords, maxWords) &&
      meanLen.between(3.0, 10.0) && fracAlpha >= 0.8 && nStop >= minStops
    df.select(groupCols.map(col) ++ Seq(col(charsCol).cast("long")
        .as("__chars"), nW.cast("long").as("__nw"), keep.as("__keep")): _*)
      .rollup(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__chars")).as("total_chars"),
        sum(col("__nw")).as("total_words"),
        round(sum(col("__nw")).cast("double") / count(lit(1)), 4)
          .as("avg_words"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_keep"))
  }

  /** Unigram language-model scoring — the in-container stand-in for the
    * CCNet/Gopher KenLM perplexity filter: fit token probabilities on a
    * reference corpus, then score every document by its mean negative
    * log-likelihood (nats/token). High `avg_nll` ⇒ tokens the reference
    * distribution finds surprising (gibberish, wrong-language, spam);
    * the filter keeps a band. Out-of-vocabulary tokens get the floor
    * probability `1 / total_ref_tokens` (add-one-style, deterministic).
    *
    * Plan: ONE combinable shuffle fits the model (token → count; vocab
    * rows out, tiny next to the corpus), the model is BROADCAST back —
    * the defining property of a unigram scorer is that the model fits in
    * memory — so scoring is a map-side join over the exploded tokens,
    * and the per-doc mean is one more combinable shuffle on the id.
    * Nothing but the two scans touches corpus-scale data. Cross-engine
    * float: the per-doc sum of `−ln p` is order-sensitive; `round(·, 4)`
    * absorbs the ~1e-12 relative wobble (the q82/cosine/PSI precedent,
    * pinned at both verify scales). */
  /** Interpolated BIGRAM-LM NLL — one Markov order up from
    * [[unigramNll]], the closer stand-in for CCNet/Gopher's KenLM
    * perplexity filter (repetitive or incoherent word ORDER scores badly
    * even when the unigram mix looks fine). Model fit on `ref`:
    * unigram counts c1 (vocab-sized), within-doc bigram counts c2.
    * Score: first token pays −ln p1(t0); token i pays
    * −ln((c2(t_{i−1},t_i) + p1(t_i)) / (c1(t_{i−1}) + 1)) — add-p1
    * interpolation, so unseen bigrams back off to the unigram model and
    * the estimate is total (never −ln 0); p1(w) = coalesce(c1,1)/T is
    * q85's OOV floor.
    *
    * Scale shape: bigram formation is a lag window riding ONE shuffle on
    * the doc id (never a positional self-join); only the 1-row grand
    * total carries a broadcast hint. The unigram vocab and the vocab²
    * bigram model join UNHINTED — vocabulary grows ~√n by Heaps' law
    * (10⁸+ distinct tokens at corpus scale), so a forced broadcast
    * would hit Spark's 8 GB hard cap; the planner/AQE still picks
    * broadcast whenever the model actually fits. Per-doc aggregation
    * is combinable. Float: the
    * probability chain is written in the identical IEEE order in the
    * DuckDB oracle; per-doc Σ−ln is order-sensitive and round(·,4)
    * absorbs it (q85 precedent). */
  def bigramNll(ref: DataFrame, docs: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val rt = ref.select(col(idCol).as("rid"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val uni = rt.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false)
    val total = uni.agg(sum(col("c1")).as("total"))
    val rw = w.partitionBy(col("rid")).orderBy(col("pos").asc)
    val bi = rt.withColumn("prev", lag(col("tok"), 1).over(rw))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(eager = false)
    val dw = w.partitionBy(col(idCol)).orderBy(col("pos").asc)
    val pairs = docs.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("prev", lag(col("tok"), 1).over(dw))
    val p1 = coalesce(col("c1_tok"), lit(1L)).cast("double") / col("total")
    val scored = pairs
      .join(uni.select(col("tok"), col("c1").as("c1_tok")),
        Seq("tok"), "left")
      .join(uni.select(col("tok").as("prev"),
        col("c1").as("c1_prev")), Seq("prev"), "left")
      .join(bi, Seq("prev", "tok"), "left")
      .join(broadcast(total), lit(true))
      .select(col(idCol),
        when(col("prev").isNull, -log(p1))
          .otherwise(-log(
            (coalesce(col("c2"), lit(0L)).cast("double") + p1) /
              (coalesce(col("c1_prev"), lit(0L)).cast("double") + 1.0)))
          .as("nll"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")) / count(lit(1)), 4).as("avg_nll"))
  }

  /** INTERPOLATED KNESER–NEY bigram NLL (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1998 with fixed discount
    * d = 0.75) — the smoothing family the CCNet/KenLM perplexity
    * filters actually ship, one Markov order down: where [[bigramNll]]
    * backs off to RAW unigram frequency, KN backs off to the
    * CONTINUATION probability — "how many distinct contexts does this
    * word complete" — which is what stops high-frequency-but-bound
    * words (the classic "Francisco" pathology: frequent, yet only ever
    * after "San") from soaking up backoff mass:
    * {{{ P(w|prev) = (max(c(prev,w) − d, 0) + d·N1+(prev·)·Pc(w)) / c(prev·)
    *     Pc(w)     = (N1+(·w) + 1) / (N1+(··) + V + 1) }}}
    * with N1+(prev·) = distinct followers of prev, N1+(·w) = distinct
    * predecessors of w, N1+(··) = total bigram types, V = reference
    * vocabulary. Pc takes symmetric add-one smoothing (the
    * [[dsirWeights]] reasoning) so an OOV token scores a proper
    * probability; a document's FIRST token and any unseen context
    * back off to Pc alone — the same branch, documented. The discount
    * literal is embedded identically in both faces.
    *
    * Determinism: all counts exact integers; P is ONE fixed double
    * expression mirrored term-for-term in the oracle; per-doc Σ−ln is
    * order-sensitive and round(·,4) on the MEAN absorbs it (the q85/
    * q92 proven contract).
    *
    * Scale shape: bigram formation is a lag window riding ONE shuffle
    * on the doc id; ALL model relations (bigram types, per-context
    * totals, continuation counts) are aggregates of that single pass
    * and join UNHINTED (vocabulary- and vocab²-keyed — Heaps ~√n, a
    * forced broadcast fails past 8 GB; AQE broadcasts when they fit);
    * only the 1-row (n_types, V) card carries a hint. Per-doc
    * aggregation is combinable. */
  def kneserNeyNll(ref: DataFrame, docs: DataFrame, idCol: String,
                   textCol: String, discount: Double = 0.75)
      : DataFrame = {
    require(discount > 0 && discount < 1, "need 0 < discount < 1")
    val w = org.apache.spark.sql.expressions.Window
    val rt = ref.select(col(idCol).as("rid"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val rw = w.partitionBy(col("rid")).orderBy(col("pos").asc)
    val bi = rt.withColumn("prev", lag(col("tok"), 1).over(rw))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(eager = false)
    val prevs = bi.groupBy(col("prev"))
      .agg(sum(col("c2")).as("ctot"), count(lit(1)).as("n1p"))
    val contw = bi.groupBy(col("tok")).agg(count(lit(1)).as("n1w"))
    val glob = bi.agg(count(lit(1)).as("n_types"))
      .join(broadcast(rt.agg(count_distinct(col("tok")).as("v"))),
        lit(true))
    val dw = w.partitionBy(col(idCol)).orderBy(col("pos").asc)
    val pairs = docs.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("prev", lag(col("tok"), 1).over(dw))
    val d = lit(discount)
    val pc = (coalesce(col("n1w"), lit(0L)).cast("double") + lit(1.0)) /
      (col("n_types") + col("v") + lit(1L)).cast("double")
    val p = when(col("ctot").isNotNull,
      (greatest(coalesce(col("c2"), lit(0L)).cast("double") - d,
        lit(0.0)) + d * col("n1p").cast("double") * pc) /
        col("ctot").cast("double"))
      .otherwise(pc)
    pairs
      .join(bi, Seq("prev", "tok"), "left")
      .join(prevs, Seq("prev"), "left")
      .join(contw, Seq("tok"), "left")
      .join(broadcast(glob), lit(true))
      .select(col(idCol), (-log(p)).as("nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")) / count(lit(1)), 4).as("avg_nll"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): within each group (language), rank documents by
    * a quality score (ascending — for an NLL score low = fluent) and
    * split them into `labels.length` equal NTILE buckets — the classic
    * head/middle/tail partition CCNet uses to keep the head, sample the
    * middle, and drop the tail. Per-group bucketing is the point: a
    * cross-lingual absolute threshold is meaningless when each
    * language's LM has its own perplexity range (the same calibration
    * argument as [[graft.ops.Sampling.quantileNormalize]], which emits a
    * continuous percentile where this emits the discrete CCNet
    * partition).
    *
    * Deterministic: the window order is (score, key) — a total order —
    * and NTILE's earlier-buckets-get-the-remainder split is the SQL
    * standard both engines implement identically.
    *
    * Scale: ONE shuffle on the group columns; ntile rides it. */
  def perplexityBuckets(scored: DataFrame, groupCols: Seq[String],
                        keyCol: String, scoreCol: String,
                        labels: Seq[String] = Seq("head", "middle", "tail"))
      : DataFrame = {
    require(labels.nonEmpty, "need at least one bucket label")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(scoreCol).asc, col(keyCol).asc)
    val nt = Iterator.from(0).map(i => s"__ntile$i")
      .dropWhile(scored.columns.contains).next()
    scored.withColumn(nt, ntile(labels.length).over(w))
      .withColumn("bucket",
        element_at(array(labels.map(lit): _*), col(nt)))
      .drop(nt)
  }

  def unigramNll(ref: DataFrame, docs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    // the model is materialized ONCE (lazy localCheckpoint, the q69
    // postings pattern): both its consumers — the scoring join's build
    // side and the total — would otherwise each re-run the reference
    // scan + count shuffle. The scoring join is deliberately UNHINTED:
    // the model is vocabulary-sized (Heaps ~√n — past 8 GB a forced
    // broadcast fails outright); AQE picks broadcast when it fits
    val model = ref.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(eager = false)
    // grand total = Σ cnt over the VOCAB-sized model table, never a
    // second pass over the reference corpus
    val total = model.agg(sum(col("cnt")).as("total"))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .join(model, Seq("tok"), "left")
      .join(broadcast(total), lit(true))
      .select(col(idCol),
        (-log(coalesce(col("cnt"), lit(1L)).cast("double") / col("total")))
          .as("nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")) / count(lit(1)), 4).as("avg_nll"))
  }

  /** DoReMi-LITE domain mixture weights (Xie et al. 2023,
    * arXiv:2305.10429, the one-round deterministic reduction) — the
    * data-mixture question every pretraining run answers somehow:
    * upweight the domains the reference model finds HARD (excess loss
    * over the corpus baseline), smoothed toward uniform so no domain
    * starves. The full algorithm alternates proxy-model training with
    * weight updates; this card is its measurement core with the q85
    * unigram LM standing in for the proxy (the [[dsirWeights]]/KenLM
    * stand-in precedent): per domain, mean per-doc NLL; excess =
    * max(0, domain − baseline); mix ∝ (1−ε)·excess/Σexcess + ε/k.
    *
    * Determinism: per-doc avg NLL is q85's proven round-4 contract;
    * it converts to EXACT micros (round(·10000)·100 — a 4-decimal
    * double rounds to the same integer on both engines) and everything
    * after is integer arithmetic: domain means and the baseline floor
    * with `div`, excess is a greatest(0, ·) of exact longs, weights
    * floor to micros. Zero total excess (all domains at baseline) →
    * exactly uniform 1e6 div k. Σ weights may undershoot 1e6 by floor
    * dribble — by design, never renormalized with signed division.
    *
    * Scale shape: the q85 dataflow (one model agg off one corpus scan,
    * broadcast probe, per-doc combinable mean) plus a domain-sized
    * tail. Output: (domain, n_docs, nll_micros, excess_micros,
    * mix_weight_micros). */
  def doremiMix(docs: DataFrame, idCol: String, textCol: String,
                domainCol: String, smoothingMicros: Long = 200000L)
      : DataFrame = {
    require(smoothingMicros >= 0 && smoothingMicros <= 1000000L,
      "need 0 <= smoothingMicros <= 1e6")
    val perDoc = unigramNll(docs, docs, idCol, textCol)
      .select(col(idCol),
        expr("cast(round(avg_nll * 10000) as bigint) * 100")
          .as("nll_micros"))
    val dom = docs.select(col(idCol), col(domainCol).as("domain"))
      .join(perDoc, Seq(idCol))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nll_micros")).as("snll"))
      .localCheckpoint(eager = false)
    val base = dom.agg(
      expr("sum(cast(snll as decimal(38,0))) div sum(n_docs)").as("base"),
      count(lit(1)).as("k"))
    val ex = dom.crossJoin(broadcast(base))
      .select(col("domain"), col("n_docs"),
        expr("snll div n_docs").as("nll_micros"),
        greatest(lit(0L),
          expr("snll div n_docs") - col("base")).as("excess_micros"),
        col("k"))
      .localCheckpoint(eager = false)
    val tot = ex.agg(sum(col("excess_micros")).as("tex"))
    ex.crossJoin(broadcast(tot))
      .select(col("domain"), col("n_docs"), col("nll_micros"),
        col("excess_micros"),
        when(col("tex") > 0,
          expr(s"((1000000L - ${smoothingMicros}L) * excess_micros)" +
            s" div tex + ${smoothingMicros}L div k"))
          .otherwise(expr("1000000L div k"))
          .as("mix_weight_micros"))
  }

  /** PMI collocation mining (Church & Hanks 1990) — the statistic behind
    * both tokenizer-vocab curation (which adjacent pairs deserve a merge,
    * the first step of a BPE-style induction) and phrase-table building:
    * {{{ pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) )
    *             = ln( (c2·T·T) / (B·c1(a)·c1(b)) ) }}}
    * with c2 the adjacent-bigram count, c1 the unigram counts, T total
    * tokens, B total bigrams. `minCount` drops the classic PMI
    * pathology — rare pairs score arbitrarily high on noise — before
    * any float math happens.
    *
    * Scale shape: bigram formation is a lag window riding ONE shuffle on
    * the doc id (the q92 pattern — never a positional self-join); both
    * count tables are vocab-sized aggregates of that single pass, lazily
    * checkpointed so the unfiltered bigram relation is materialized once
    * and reused for the B total and the scored pairs. The two 1-row
    * totals broadcast onto the vocab²-bounded pair table; the unigram
    * model joins UNHINTED (it is vocabulary-sized — Heaps ~√n — so a
    * forced broadcast would cap out at 8 GB; AQE broadcasts it when it
    * fits). Corpus-scale data is touched exactly once. Float: the PMI of
    * a pair is ONE ln over integer-derived doubles (no float sums), so
    * round(·,4) only absorbs the cross-engine libm ulp. */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rid")).orderBy(col("pos").asc)
    val rt = docs.select(col(idCol).as("rid"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val uni = rt.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
      .localCheckpoint(eager = false)
    val total = uni.agg(sum(col("c1")).as("T"))
    val bi0 = rt.withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(eager = false)
    val btot = bi0.agg(sum(col("c2")).as("B"))
    bi0.filter(col("c2") >= minCount)
      .join(uni.select(col("tok").as("prev"),
        col("c1").as("c1p")), Seq("prev"))
      .join(uni.select(col("tok"), col("c1").as("c1t")),
        Seq("tok"))
      .join(broadcast(total), lit(true))
      .join(broadcast(btot), lit(true))
      .select(col("prev"), col("tok"), col("c2"),
        // + 0.0 canonicalizes the sign of zero: a PMI rounding to zero
        // from below is -0.0 in DuckDB but +0.0 in Spark's HALF_UP
        // round, and IEEE -0.0 + 0.0 = +0.0 on both engines.
        (round(log((col("c2").cast("double") * col("T") * col("T")) /
          (col("B").cast("double") * col("c1p") * col("c1t"))), 4)
          + lit(0.0)).as("pmi"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169) —
    * data selection by importance resampling: score every document by
    * how much more likely a TARGET-domain language model finds its
    * tokens than the raw-pool model does,
    * {{{ avg_logratio(d) = (1/|d|) Σ_t [ ln p_tgt(t) − ln p_raw(t) ] }}}
    * and keep documents the target model prefers (avg_logratio > 0).
    * The paper uses hashed n-gram features; the unigram form here is the
    * same estimator one Markov order down (the [[unigramNll]]/KenLM
    * stand-in precedent). Both models take SYMMETRIC Laplace smoothing,
    * p(t) = (c(t)+1)/(T+V) with V the pool vocabulary size — q85's
    * asymmetric 1/T floor would be WRONG here: it hands every
    * target-OOV token ln(T_raw/T_tgt) > 0, i.e. unseen-by-the-target
    * evidence would count FOR the target (a ratio statistic needs the
    * same estimator on both sides; with add-one, an OOV token scores
    * ln((T_raw+V)/(T_tgt+V)) − ln(c_raw+1) — negative as soon as the
    * token has any raw mass). `isTarget` should match at least one
    * document (an empty target degenerates to a constant-shift model);
    * a NULL predicate result counts the row as non-target (the
    * conditional sum skips it), so callers with three-valued predicates
    * should coalesce explicitly.
    *
    * Scale shape: BOTH models come out of ONE aggregation over ONE
    * corpus scan — the raw count and the target count are two columns of
    * the same vocab-sized group-by (a second corpus pass for the target
    * model is the naive shape; the conditional-sum column is free). The
    * 1-row totals broadcast back onto the token stream; the vocab-sized
    * model joins UNHINTED (Heaps ~√n growth would break a forced
    * broadcast at 8 GB — AQE picks broadcast when it fits); the
    * per-doc mean is one combinable shuffle.
    * Float: per-doc Σ of ln-ratios is order-sensitive; round(·,4) on the
    * MEAN absorbs it (q85's proven contract, not the raw sum). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame = {
    val dt = docs.select(col(idCol).as("id"), isTarget.as("__t"),
      explode(tokens(col(textCol))).as("tok"))
    val model = dt.groupBy(col("tok")).agg(
        count(lit(1)).as("c_raw"),
        sum(when(col("__t"), lit(1L)).otherwise(lit(0L))).as("c_tgt"))
      .localCheckpoint(eager = false)
    val tot = model.agg(sum(col("c_raw")).as("t_raw"),
      sum(col("c_tgt")).as("t_tgt"), count(lit(1)).as("v"))
    dt.join(model, Seq("tok"))
      .join(broadcast(tot), lit(true))
      .select(col("id"),
        (log((col("c_tgt") + lit(1L)).cast("double") /
            (col("t_tgt") + col("v")))
          - log((col("c_raw") + lit(1L)).cast("double") /
            (col("t_raw") + col("v")))).as("lr"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        // + 0.0: an avg log-ratio rounding to zero from below is -0.0 in
        // DuckDB, +0.0 out of Spark round — pin +0.0 on both (q108 r9)
        (round(sum(col("lr")) / count(lit(1)), 4) + lit(0.0)).as("avg_logratio"))
      .select(col("id").as(idCol), col("n_tokens"), col("avg_logratio"),
        (col("avg_logratio") > 0).as("keep"))
  }

  /** Distributed BPE vocabulary induction (Sennrich, Haddow & Birch
    * 2016, "Neural Machine Translation of Rare Words with Subword
    * Units") — the tokenizer-training step of an LLM data pipeline,
    * run as `merges` global rounds over the corpus WORD-FREQUENCY
    * table. Each round counts every adjacent symbol pair (weighted by
    * word frequency), merges the globally most frequent pair
    * (ties: count desc, then left/right symbol ascending — pure ASCII
    * byte order on both engines), and emits the merge rule; the output
    * is the learned merge table (step, left, right, pair_count), i.e.
    * the BPE vocab in training order. The final character of each word
    * carries the classic `</w>` end-marker so merges cannot cross word
    * boundaries when the vocab is applied.
    *
    * Merging left-to-right greedily is vectorized, not folded: for a
    * pair (x,y) with x ≠ y occurrences can never overlap, so every
    * candidate position merges; for x == y only alternate positions of
    * each maximal x-run merge, recovered with the gaps-and-islands
    * window idiom (run id = running count of run starts; position
    * parity inside the run picks the odd offsets). Everything is
    * integers and strings — the oracle unrolls the rounds as CTEs and
    * replays bit-for-bit.
    *
    * Scale shape: one corpus scan builds (word, freq) — from there the
    * working set is the DISTINCT-WORD symbol table (Σ|word| rows,
    * vocabulary-bounded, NOT corpus-bounded — the reason Sennrich's
    * algorithm trains on word counts). Per round: one per-word window
    * pass + one combinable pair count + a 1-row global top-1 that
    * broadcasts back; nothing rescans the corpus. */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int)
      : DataFrame = bpeCore(docs, textCol, merges, applyLast = false)._2

  /** BPE tokenizer fit-and-APPLY card (q172's other half): train the
    * same `merges` rounds, apply EVERY learned merge to the
    * distinct-word symbol table, and report per document how the
    * tokenizer compresses it — (n_words, n_chars_tok = pre-merge
    * symbol count, n_bpe_tokens, compression_micros = token/char
    * ratio). This is the number a budget planner actually consumes
    * (tokens-per-byte of each doc under the CURRENT vocab), and the
    * fit+apply composition every tokenizer deployment runs.
    *
    * Scale shape: training as [[bpeTrain]] (vocabulary-bounded working
    * set); application costs nothing extra (the loop's own merge step,
    * run once more for the final rule); the per-doc rollup is one
    * corpus explode joined UNHINTED to the DISTINCT-WORD token counts
    * (vocabulary-sized — Heaps ~√n, so never force-broadcast; AQE
    * picks broadcast when it fits) + one combinable agg. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Int): DataFrame = {
    val syms = bpeCore(docs, textCol, merges, applyLast = true)._1
    // per-word token count is row-local on the array form (r17)
    val wtok = syms.select(col("word"),
      size(col("syms")).cast("long").as("n_sub"))
    val docw = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    docw.join(wtok, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars_tok"),
        sum(col("n_sub")).as("n_bpe_tokens"))
      .withColumn("compression_micros",
        expr("(1000000L * n_bpe_tokens) div n_chars_tok"))
  }

  /** TEXTRANK keyword scoring (Mihalcea & Tarau 2004) — unsupervised
    * keyword extraction as PageRank over the word CO-OCCURRENCE graph:
    * nodes are (lowercased, length ≥ `minLen`) words, an undirected
    * weighted edge links words ADJACENT in the filtered sequence, and
    * a word's importance is its stationary rank — the corpus-level
    * "what is this collection about" signal TF-IDF (q48) can't give
    * (TF-IDF scores words per doc against the corpus; TextRank scores
    * them by how centrally they co-occur). Composition: the edge
    * derivation here + [[graft.ops.Graph.pageRank]] unchanged — same
    * scaled-integer determinism, same oracle core.
    *
    * Scale shape: one per-doc lag window over the token explode (the
    * [[graft.ops.Graph.transitionEdges]] shape with doc as the
    * sequence key), one combinable edge count; graph size is bounded
    * by VOCABULARY, not corpus — the rank loop's working set collapses
    * by the same distinct-word move as [[bpeTrain]]. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
               minLen: Int = 3, iters: Int = 3): DataFrame = {
    require(minLen >= 1 && iters >= 1, "need minLen >= 1, iters >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val kept = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos"), lower(col("word")).as("word"))
      .filter(length(col("word")) >= minLen)
    val und = kept.withColumn("a", lag(col("word"), 1).over(w))
      .filter(col("a").isNotNull && col("a") =!= col("word"))
      .select(least(col("a"), col("word")).as("x"),
        greatest(col("a"), col("word")).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))
    val edges = und.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .union(und.select(col("y").as("src"), col("x").as("dst"), col("w")))
    graft.ops.Graph.pageRank(edges, iters = iters)
  }

  /** Shared BPE loop: returns (final symbol table, merge table).
    * `applyLast` controls whether the last learned rule is applied to
    * the symbol table (encode) or only recorded (train). */
  private def bpeCore(docs: DataFrame, textCol: String, merges: Int,
                      applyLast: Boolean): (DataFrame, DataFrame) = {
    require(merges >= 1, "merges must be >= 1")
    val words = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // ONE array row per word (r17, guide §2 "shuffle fewer bytes" /
    // §1.2 per-task work): the former exploded (word, pos, sym) table
    // paid FOUR window passes (lead, lag, running run-id, per-run min)
    // plus a rank repack over N·L rows per merge round; the array form
    // counts pairs with a row-local position zip and applies the merge
    // with a row-local left-to-right fold — the ONLY exchange per round
    // is the vocabulary-sized pair-count aggregate. The fold is exactly
    // the non-overlapping rule the runid/runmin windows encoded (greedy
    // left-to-right: in a bx-run with bx = by, occurrences at even
    // offsets from the run start merge) — spec-pinned in BpeMergeSpec.
    var syms = words.select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), p -> " +
          "case when p = length(word) then substring(word, p, 1) || '</w>' " +
          "else substring(word, p, 1) end)").as("syms"))
      .localCheckpoint(eager = false)
    var out: DataFrame = null
    for (m <- 1 to merges) {
      val pairs = syms
        .filter(size(col("syms")) > 1)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> named_struct(" +
            "'sym', element_at(syms, i), 'nxt', element_at(syms, i + 1)))"))
          .as("pr"))
        .groupBy(col("pr.sym").as("sym"), col("pr.nxt").as("nxt"))
        .agg(sum(col("freq")).as("cnt"))
      val best = pairs
        .orderBy(col("cnt").desc, col("sym").asc, col("nxt").asc)
        .limit(1)
        .select(col("sym").as("bx"), col("nxt").as("by"), col("cnt"))
        .localCheckpoint(eager = false)
      val stepOut = best.select(lit(m.toLong).as("step"),
        col("bx").as("lhs"), col("by").as("rhs"),
        col("cnt").as("pair_count"))
      out = if (out == null) stepOut else out.union(stepOut)
      if (m < merges || applyLast) {
        syms = syms.crossJoin(broadcast(best.select(col("bx"), col("by"))))
          .select(col("word"), col("freq"), expr(
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
          .localCheckpoint(eager = false)
      }
    }
    (syms, out)
  }

  /** PAIRWISE-SOURCE JSD MATRIX — Jensen–Shannon divergence between
    * every pair of sources' unigram distributions (Lin 1991): the
    * SYMMETRIC, [0,1]-bounded (log2) distance the one-vs-baseline
    * drift family (PSI q76, KL q142, KS q166, χ² q155) cannot give —
    * a source×source structure map for mixture design ("src3 and
    * src11 are near-duplicates; merge their budgets" / "src7 is the
    * outlier domain"). Distributions are add-1 smoothed over the
    * JOINT kept vocabulary (terms with corpus count ≥ `minCount` —
    * the q108 rare-noise guard, and the vocab-size knob: V drops ~10×
    * at minCount 2).
    *
    * Determinism: the per-term pointwise contribution
    * ½(p·log2(2p/(p+q)) + q·log2(2q/(p+q))) is ≥ 0 by the log-sum
    * inequality and is ONE mirrored scalar expression per row,
    * rounded to EXACT integer nanos before the sum — so the per-pair
    * aggregation is an exact integer sum (order-free across engines
    * and partitionings; the q279 round-then-sum idiom at nano grain),
    * floored to micros at the end.
    *
    * Scale shape: one (source, term) combinable count, a vocab
    * semi-join, a V×|S| densify against a broadcast |S|-row totals
    * relation, and ONE term-keyed equi-join producing V·C(|S|,2)
    * contribution rows — linear in vocab, quadratic only in the
    * SMALL closed source set, never in the corpus. Output:
    * (source_a, source_b, v_terms, jsd_micros), |S|(|S|−1)/2 rows. */
  def sourceJsdMatrix(docs: DataFrame, textCol: String,
                      sourceCol: String, minCount: Long = 2L)
      : DataFrame = {
    require(minCount >= 1, "need minCount >= 1")
    val tc = docs.select(col(sourceCol).as("src"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("src"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val vocab = tc.groupBy(col("term")).agg(sum(col("c")).as("tot"))
      .filter(col("tot") >= minCount).select(col("term"))
      .localCheckpoint(eager = false)
    val kept = tc.join(vocab, Seq("term"), "left_semi")
    val totals = kept.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val dense = vocab.crossJoin(broadcast(totals))
      .join(kept, Seq("term", "src"), "left")
      .crossJoin(broadcast(vsize))
      .select(col("term"), col("src"),
        ((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("n") + col("v")).cast("double")).as("p"))
      .localCheckpoint(eager = false)
    val pairs = dense
      .select(col("term"), col("src").as("source_a"), col("p"))
      .join(dense.select(col("term"), col("src").as("source_b"),
        col("p").as("q")), Seq("term"))
      .filter(col("source_a") < col("source_b"))
    pairs
      .select(col("source_a"), col("source_b"),
        round((col("p") * log2(lit(2.0) * col("p") /
            (col("p") + col("q"))) +
          col("q") * log2(lit(2.0) * col("q") /
            (col("p") + col("q")))) / lit(2.0) * lit(1e9))
          .cast("long").as("jn"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("v_terms"), sum(col("jn")).as("__jn"))
      .select(col("source_a"), col("source_b"), col("v_terms"),
        expr("__jn div 1000").as("jsd_micros"))
  }

  /** TOKENIZER FERTILITY per group under the SHARED BPE vocab —
    * "which languages pay more tokens per word" (the cross-language
    * tokenizer-equity read of Petrov et al. 2023, "Language Model
    * Tokenizers Introduce Unfairness"; fertility is the standard
    * mBERT-era metric): train [[bpeTrain]]'s merges ONCE on the whole
    * corpus, apply them ([[bpeEncode]]'s fit-and-apply), and roll the
    * per-word token counts up by GROUP instead of by doc — fertility
    * = tokens per word and chars-per-token per language. A language
    * whose fertility sits far above the corpus mean is under-served
    * by the shared vocab (its context windows hold fewer words, its
    * per-word inference cost is higher) — the mixture/vocab-size
    * design card beside [[doremiMix]]'s loss-based weights.
    *
    * Determinism: [[bpeCore]]'s all-integer merge replay; counts
    * exact; both ratios non-negative integer-micros floors.
    *
    * Scale shape: training and application are [[bpeEncode]]'s
    * vocabulary-bounded working set; the rollup is one corpus explode
    * joined UNHINTED to the distinct-word token counts (vocabulary-
    * sized — never force-broadcast; AQE decides) + one combinable agg
    * keyed by the small closed group set. */
  def bpeFertility(docs: DataFrame, textCol: String, groupCol: String,
                   merges: Int): DataFrame = {
    val syms = bpeCore(docs, textCol, merges, applyLast = true)._1
    // per-word token count is row-local on the array form (r17)
    val wtok = syms.select(col("word"),
      size(col("syms")).cast("long").as("n_sub"))
    val docw = docs.select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    docw.join(wtok, Seq("word"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_sub")).as("n_tokens"))
      .select(col("__g").as(groupCol), col("n_words"), col("n_chars"),
        col("n_tokens"),
        expr("(1000000L * n_tokens) div n_words").as("fertility_micros"),
        expr("(1000000L * n_chars) div n_tokens")
          .as("chars_per_token_micros"))
  }
}
