package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Observation}
import org.apache.spark.sql.functions._
import graft.functions.SimHash64.simhash64

/** Deduplication operators for a training-data pipeline (extension surface).
  *
  * Scale design (the point at 100 TB):
  *  - Exact dedup is one hash-shuffle on the key (group-by with map-side
  *    partial aggregation).
  *  - MinHash-LSH avoids the O(N²) pairwise join: docs are mapped to
  *    (band, bandKey) buckets — one explode + one shuffle on the bucket key
  *    — and only within-bucket pairs are compared. Bucket skew (boilerplate
  *    whose signature collides corpus-wide) is the known hazard; AQE skew
  *    handling spreads an oversized bucket's JOIN work, and the
  *    `maxBucketSize` option of [[minHashCandidates]] caps its PAIR COUNT
  *    (an all-identical cluster of c docs is otherwise O(c²) pairs no
  *    matter how they're scheduled).
  *  - SimHash is O(tokens) per doc via a custom Catalyst expression, then
  *    banded on 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal).
  *  - Exact n-gram Jaccard is the verifier on candidate pairs, not a
  *    standalone O(N²) pass.
  */
object Dedup {

  // ------------------------------------------------------------- exact

  /** Exact-duplicate groups by a key expression (e.g. raw text or a
    * content fingerprint): canonical id = min id, plus group size. */
  def exactGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Keep one row per key (min id wins) — distributed "drop duplicates,
    * keep first" with a deterministic winner. */
  def dropExact(df: DataFrame, idCol: String, key: Column): DataFrame =
    Windows.topOnePerGroup(df.withColumn("__dup_key", key),
      Seq(col("__dup_key")), Seq(col(idCol).asc)).drop("__dup_key")

  // ---------------------------------------------------------- shingling

  /** Word n-gram shingles of a token array (short docs yield the whole doc
    * as one shingle). Native expression — see WordShingles scaladoc for
    * the measured HOF cost that motivated it. */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.WordShingles.word_shingles(toks, n)

  /** Built-ins-only reference formulation of [[shingles]] (kept for
    * equivalence testing and as the zero-custom-expression fallback). */
  def shinglesHof(toks: Column, n: Int): Column =
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))

  // ------------------------------------------------------------ minhash

  /** MinHash signature (length k) over word-shingles of `textCol`, via the
    * custom `MinHashSig` Catalyst expression: the whole signature is a
    * per-row map-side computation — no explode, no shuffle, one tight loop
    * per document. This is the 100 TB shape (signature cost scales with
    * the scan; nothing is exchanged until the tiny banding step).
    *
    * History (kept as guidance): a HOF formulation (transform/slice/
    * array_join + k array_min passes) is CodegenFallback-interpreted and
    * allocates per shingle — ~5 µs/shingle; an explode + groupBy(16 mins)
    * formulation was 20× faster but still shuffled a row per (doc,
    * shingle). The expression form beats both and keeps identical
    * semantics (same hash stream — see MinHashSig scaladoc). */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, shingleSize: Int = 3): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.MinHashSig.minhash_sig(
        split(col(textCol), " "), k, shingleSize).as("sig"))

  /** Narrow LSH band index `(doc_id, band, band_key)` of a signature set —
    * the ONE banding definition, shared by the self-join candidate path
    * ([[minHashCandidates]]) and the incremental batch-vs-corpus path
    * ([[incrementalNearDups]]). At 100 TB this is the artifact a pipeline
    * PERSISTS: three narrow columns per (doc, band), bucketable by
    * band_key, reusable across every subsequent batch admission. */
  def bandKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    sigs.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        xxhash64(col("band"),
          array_join(transform(slice(col("sig"), col("band") * r + 1, lit(r)),
            _.cast("string")), ",")).as("band_key"))
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand = k),
    * bucket-join on (band, bandKey), emit each pair once with the
    * signature-estimated Jaccard.
    *
    * `maxBucketSize`: per-(band, band_key) membership cap, enforced BEFORE
    * the bucket self-join — the degenerate-bucket guard. A boilerplate
    * template shared by c docs puts all c in the same bucket of every band
    * (identical text ⇒ identical signature), and the self-join then emits
    * O(c²) pairs whatever the scheduler does; at 100 TB c can be millions.
    * With the cap, buckets larger than `maxBucketSize` are DROPPED (a
    * count + broadcast anti-join on the narrow index — the oversized key
    * set is small by construction, it takes N/cap buckets to exist).
    * Honest recall contract: pairs whose every shared band lands in a
    * dropped bucket are LOST — by design, because a bucket that large
    * means near-identical mass that exact dedup
    * ([[exactGroups]]/[[dropExact]] on a content fingerprint) should have
    * removed first; run the cap only downstream of exact dedup, sized
    * well above the surviving true-cluster size. Checked queries keep
    * `None` (their oracle is the exact relation); the CI stress gate runs
    * the capped form on a 50%-boilerplate corpus. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4,
                        shingleSize: Int = 3,
                        minEstJaccard: Double = 0.0,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val sigs = minHashSignatures(df, idCol, textCol, k, shingleSize)
    // Bucket join ships ONLY (band, band_key, doc_id) — candidate pairs are
    // deduplicated while still narrow, and the k-long signatures are
    // re-attached afterwards by two id-joins. Carrying both signatures
    // through the bucket self-join instead shuffles k longs per candidate
    // ROW (pre-distinct) and measured 4× slower at 200k docs.
    // Known tradeoff: the sigs subtree is evaluated once for banding and
    // once per re-attach join (3× scan-side recompute). With the native
    // MinHashSig expression recompute is cheaper than materializing
    // k longs × corpus (cache/checkpoint) at 100 TB; if the signature fn
    // ever becomes expensive again, persist `sigs` here instead.
    val banded0 = bandKeys(sigs, k, bands)
    // Degenerate-bucket guard: count each bucket on the NARROW index and
    // anti-join the oversized keys away before the self-join. The banding
    // subtree evaluates twice (count + probe) — with the native signature
    // expression that recompute is cheaper than materializing the index,
    // and both passes stay three columns wide.
    val banded = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 1, "maxBucketSize must be >= 1")
        val oversized = banded0.groupBy("band", "band_key")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") > cap)
          .select("band", "band_key")
        banded0.join(broadcast(oversized), Seq("band", "band_key"),
          "left_anti")
      case None => banded0
    }
    val pairs = banded.select(col("band"), col("band_key"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("band_key"),
        col("doc_id").as("doc_b")), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    // est_jaccard = positional signature agreement / k. Unrolled
    // GetArrayItem comparisons stay inside whole-stage codegen; the
    // equivalent zip_with/filter HOF is CodegenFallback-interpreted and
    // measured +1.2 s over 250k candidate rows at sf0.1.
    val agree = (0 until k).map(i =>
        when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1)
          .otherwise(0))
      .reduce[Column](_ + _)
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (agree.cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  // ------------------------------------------------------- exact jaccard

  /** Exact n-gram Jaccard for GIVEN candidate pairs — the verifier half of
    * the LSH-then-verify pattern. Attaches each side's distinct-shingle set
    * by an id join and computes |∩|/|∪| per row: O(|pairs|) work, no
    * inverted-index self-join, so cost scales with the (rare) candidates
    * rather than the corpus. `pairs` must have columns (doc_a, doc_b). */
  def exactJaccardFor(docs: DataFrame, pairs: DataFrame,
                      idCol: String, textCol: String,
                      shingleSize: Int): DataFrame = {
    val sets = docs.select(col(idCol).as("doc_id"),
      array_distinct(shingles(split(col(textCol), " "), shingleSize)).as("set"))
    pairs.select("doc_a", "doc_b")
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("sb")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")), 4)
          .as("jaccard"))
  }

  /** MinHash-LSH near-duplicates, end to end: banded candidate generation
    * (one narrow bucket shuffle) then exact Jaccard verification of only
    * the candidates. This is the composable 100 TB shape — the checked
    * queries run THIS, with the raw [[jaccardPairs]] sweep kept as the
    * spec-level recall baseline.
    *
    * Recall: a true pair at exactly `threshold` is caught unless all
    * `bands` miss — with k=16, bands=8 (r=2), P(miss) = (1-t²)^8 ≈ 3e-4
    * at t=0.8. Not a proof; the OpsSpec equivalence test pins it on the
    * testdata corpora. */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                      minEstJaccard: Double = 0.5,
                      threshold: Double = 0.8,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    val cands = minHashCandidates(docs, idCol, textCol, k, bands,
      shingleSize, minEstJaccard, maxBucketSize)
    exactJaccardFor(docs, cands, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental corpus admission — dedup a NEW batch of docs against an
    * EXISTING corpus plus itself, the nightly-ingest shape of a training
    * corpus: the corpus is never re-deduped, only the batch is decided.
    *
    * Returns one row per batch doc: `(doc_id, status)` with status
    * `dup_corpus` (a near-dup of some corpus doc — checked first),
    * `dup_batch` (a near-dup of a smaller-id batch doc), or `accepted`.
    * Rejection is PAIRWISE against all smaller-id batch docs, not chained
    * through the greedy admission order — deterministic, order-independent,
    * and exactly SQL-expressible (OracleGen.incrementalSql), at the cost of
    * rejecting a doc whose only smaller near-dup was itself rejected.
    *
    * Scale shape (the reason this is not "union + re-dedup"):
    *  - the corpus side is touched ONLY through its narrow [[bandKeys]]
    *    index (3 columns per (doc, band)) — at 100 TB that index is a
    *    persisted, bucketed table and the nightly cost is one semi-join of
    *    the batch's band keys against it, never a corpus re-scan;
    *  - the batch index is tiny (a day's ingest), so it BROADCASTS into
    *    the corpus-index join — no shuffle of the big side;
    *  - corpus text is fetched only for verify candidates (O(candidates),
    *    not O(corpus)).
    * Recall rides the same banding guarantee the self-join path pins
    * (P(miss at t) = (1-t^r)^bands per pair; spec-checked here against the
    * brute-force relation). */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                          minEstJaccard: Double = 0.5,
                          threshold: Double = 0.8): DataFrame =
    incrementalNearDupsFromSigs(
      minHashSignatures(corpus, idCol, textCol, k, shingleSize),
      corpus, batch, idCol, textCol, k, bands, shingleSize,
      minEstJaccard, threshold)

  /** Distinct batch doc ids with a near-dup (n-gram Jaccard ≥ threshold)
    * in `corpus` — the cross-set half of [[incrementalNearDups]], exposed
    * because it IS the train/eval leakage check ([[leakageFlags]]): batch
    * band keys broadcast into the corpus index, est-Jaccard prunes banding
    * collisions on signature agreement, exact verify touches corpus text
    * only for surviving candidates. */
  def crossNearDupIds(corpusSigs: DataFrame,
                      corpus: DataFrame, batch: DataFrame,
                      idCol: String, textCol: String,
                      k: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                      minEstJaccard: Double = 0.5,
                      threshold: Double = 0.8): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val corpusIdx = bandKeys(corpusSigs, k, bands)
    val batchSigs = minHashSignatures(batch, idCol, textCol, k, shingleSize)
    val batchIdx = bandKeys(batchSigs, k, bands)
    // batch (small) broadcasts; corpus index streams — the only work on the
    // corpus side is this hash probe plus the per-candidate verify fetch.
    val cands = broadcast(batchIdx
        .select(col("band"), col("band_key"), col("doc_id").as("doc_a")))
      .join(corpusIdx.select(col("band"), col("band_key"),
        col("doc_id").as("doc_b")), Seq("band", "band_key"))
      .select("doc_a", "doc_b").distinct()
    // Same est-Jaccard prune as the self-join path: drop banding-collision
    // candidates on the cheap signature agreement before the wide
    // shingle-set verify join touches corpus text.
    val agree = (0 until k).map(i =>
        when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1)
          .otherwise(0))
      .reduce[Column](_ + _)
    val pruned = cands
      .join(batchSigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(corpusSigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .filter((agree.cast("double") / k) >= minEstJaccard)
      .select("doc_a", "doc_b")
    val all = corpus.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    exactJaccardFor(all, pruned, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()
  }

  /** Train/eval contamination flags: one row per eval doc, `is_leak` true
    * iff the eval doc has a near-dup in the training set. The split
    * stays intact (eval-internal dups are NOT leaks — they bias variance,
    * not validity); callers drop or keep flagged rows by policy. Same
    * scale shape as [[crossNearDupIds]]: eval is the small broadcast side,
    * train is touched only via its band index. */
  def leakageFlags(train: DataFrame, eval_ : DataFrame,
                   idCol: String, textCol: String,
                   k: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                   minEstJaccard: Double = 0.5,
                   threshold: Double = 0.8): DataFrame = {
    val leaks = crossNearDupIds(
        minHashSignatures(train, idCol, textCol, k, shingleSize),
        train, eval_, idCol, textCol, k, bands, shingleSize,
        minEstJaccard, threshold)
      .withColumn("__leak", lit(1))
    eval_.select(col(idCol).as("doc_id"))
      .join(broadcast(leaks), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__leak").isNotNull.as("is_leak"))
  }

  /** Exact n-gram benchmark-contamination counts: one row per eval doc
    * with its distinct n-gram count, how many of those n-grams also occur
    * anywhere in `train`, how many distinct train docs share at least one
    * n-gram, and a flag. This is the standard decontamination probe
    * (exact n-gram collision) — DISTINCT from [[leakageFlags]]'s near-dup
    * similarity: a single verbatim-copied benchmark sentence contaminates
    * here even when whole-document Jaccard is tiny.
    *
    * Scale shape: both sides reduce to distinct (doc, md5(gram)) postings
    * — the train side is the big one and is touched exactly once; the
    * eval side (benchmarks are small) BROADCASTS into the join, so the
    * train postings never shuffle. Gram keys are md5 (narrow, portable),
    * and per-doc totals come from the eval side alone. Counts are
    * count(DISTINCT) over the hit join — O(hits) rows into the aggregate,
    * not O(|train|). */
  def ngramContamination(train: DataFrame, eval_ : DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame =
    ngramContaminationFromPostings(
      ngramPostings(train, idCol, textCol, n), eval_, idCol, textCol, n)

  /** Distinct `(doc_id, gh)` n-gram postings of a corpus — the narrow
    * artifact the decontamination pipeline PERSISTS (like the MinHash
    * band index of [[bandKeys]]): computed once per train doc, ever;
    * every later eval batch probes it via
    * [[ngramContaminationFromPostings]] without touching train text. */
  def ngramPostings(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 5): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(split(col(textCol), " "), n))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))

  /** [[ngramContamination]] with the train side supplied as its persisted
    * posting index `(doc_id, gh)` — the production form. */
  def ngramContaminationFromPostings(trainPostings: DataFrame,
                         eval_ : DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    val evalGrams = ngramPostings(eval_, idCol, textCol, n)
    val hits = broadcast(evalGrams.select(col("doc_id").as("eval_id"), col("gh")))
      .join(trainPostings.select(col("doc_id").as("train_id"), col("gh")), "gh")
      .groupBy(col("eval_id").as("doc_id"))
      .agg(countDistinct(col("gh")).as("n_hit_ngrams"),
        countDistinct(col("train_id")).as("n_train_docs"))
    val totals = evalGrams.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
    eval_.select(col(idCol).as("doc_id"))
      .join(broadcast(totals), Seq("doc_id"))
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_hit_ngrams"), lit(0L)).as("n_hit_ngrams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        (coalesce(col("n_hit_ngrams"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** [[incrementalNearDups]] with the corpus side's signatures supplied —
    * the production form: `corpusSigs` `(doc_id, sig)` is the persisted
    * index artifact (computed once per doc, ever), so a batch admission
    * never recomputes signatures over the corpus. `corpus` itself is only
    * consulted for candidate verify text (O(candidates) rows read). */
  def incrementalNearDupsFromSigs(corpusSigs: DataFrame,
                          corpus: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 16, bands: Int = 8, shingleSize: Int = 3,
                          minEstJaccard: Double = 0.5,
                          threshold: Double = 0.8): DataFrame = {
    val dupCorpus = crossNearDupIds(corpusSigs, corpus, batch, idCol,
        textCol, k, bands, shingleSize, minEstJaccard, threshold)
      .withColumn("__dc", lit(1))
    // Within-batch near-dups: the standard self-join path on the (small)
    // batch alone; the larger id of each true pair is the reject.
    val dupBatch = minHashNearDups(batch, idCol, textCol, k, bands,
        shingleSize, minEstJaccard, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("__db", lit(1))
    batch.select(col(idCol).as("doc_id"))
      .join(broadcast(dupCorpus), Seq("doc_id"), "left")
      .join(broadcast(dupBatch), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__dc").isNotNull, "dup_corpus")
          .when(col("__db").isNotNull, "dup_batch")
          .otherwise("accepted").as("status"))
  }

  /** SimHash near-duplicates, end to end: pigeonhole-banded candidates for
    * hamming ≤ maxHamming, then exact n-gram Jaccard verification.
    * `maxHamming` is the recall dial: every true pair must sit within it
    * for the exact-verify stage to be complete (calibrate it against the
    * exact `jaccardPairs` sweep: 14 covers the observed true-pair max of
    * 13 on the documents corpus, PLANS.md).
    *
    * `featureShingle` picks the signature features: 1 = unigram tokens,
    * n>1 = word n-gram shingles. Shingled features are the scale lever on
    * templated corpora — measured on the testdata at sf0.1: unigram
    * signatures leave 1.05M of 12.5M pairs under hamming 12 (the hamming
    * filter passes 8% of the corpus — every one then pays the exact-verify
    * join), while 2-gram features leave ~500, because word order enters
    * the signature and unrelated template instances diverge. Same
    * pigeonhole banding either way.
    *
    * Scale regime: pigeonhole banding keys on 64/(maxHamming+1)-bit
    * chunks, so expected bucket-join volume is ≈ (maxHamming+1) ·
    * N²/2^(64/(maxHamming+1)) — linear-ish only while 2^chunkWidth ≳ N.
    * maxHamming ≤ 3 (16-bit chunks) holds to ~10⁵–10⁶ docs per shard;
    * the wide radii needed for jaccard-0.8 recall on short docs (h≈14 ⇒
    * 4-bit chunks) explode quadratically at corpus scale — no banding
    * scheme fixes a 22%-bit-radius search on 64 bits. At 100 TB run
    * simhash in its tight-radius regime (or as a verifier) and route
    * wide-radius near-dup through [[minHashNearDups]]. */
  def simHashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 12, shingleSize: Int = 2,
                      threshold: Double = 0.8,
                      featureShingle: Int = 1): DataFrame = {
    val cands = simHashPairs(docs, idCol, textCol, maxHamming, featureShingle)
    exactJaccardFor(docs, cands, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
  }

  /** Scale-safe near-dup pairs, HYBRID candidate generation: tight-radius
    * SimHash banding (maxHamming ≤ 3 ⇒ ≥16-bit chunk keys — the regime
    * where pigeonhole banding stays ~linear) catches the near-identical
    * mass with one cheap per-row signature, and banded MinHash-LSH
    * supplies the wide-radius recall simhash fundamentally cannot deliver
    * at scale (jaccard-0.8 pairs on short docs sit at hamming 8–14; a
    * 14-bit radius on 64 bits ⇒ 4-bit chunks ⇒ ~N²/16 bucket pairs — no
    * banding scheme fixes a 22%-bit-radius search). Both arms verify
    * candidates with EXACT n-gram Jaccard, so the union is exactly the
    * true pair relation restricted to candidate recall — with the MinHash
    * arm's banding (k=32, bands=16: P(miss at t=0.8) = 0.36^16 ≈ 8e-8 per
    * pair) recall is complete on every test corpus (tools/RecallProbe).
    *
    * This is the candidate stage you'd run at 100 TB; the wide-radius
    * [[simHashNearDups]] configuration stays available as a small-scale
    * VERIFIER (its completeness at maxHamming=14 is what RecallProbe and
    * the specs check the hybrid against).
    *
    * Cost shape (measured, sf0.1 = 5k docs): candidate pairs are unioned
    * NARROW (doc_a, doc_b) and exact-verified ONCE — verifying each arm
    * separately paid the shingle-set join twice. `minEstJaccard` prunes
    * the MinHash arm's r=2 false-candidate flood (250k candidate rows →
    * exact-verify was 3.6 s of the 5.4 s total) before the wide
    * shingle-set join; at the 0.4 default a true pair at j = 0.8 needs
    * 20 of its k=32 positional agreements to miss — P ≈ 2e-8
    * (Binomial(32, 0.8) ≤ 12) — and the estimate is a pure function of
    * the seeded signatures, so the outcome is deterministic per corpus
    * (pinned by the sweep-equality specs at every SF). */
  def hybridNearDups(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 2, threshold: Double = 0.8,
                     tightHamming: Int = 3, k: Int = 32, bands: Int = 16,
                     featureShingle: Int = 2,
                     minEstJaccard: Double = 0.4): DataFrame = {
    require(tightHamming <= 3,
      "tightHamming > 3 leaves the scale-safe (>=16-bit chunk) regime; " +
        "wide-radius recall is the MinHash arm's job")
    val tight = simHashPairs(docs, idCol, textCol, tightHamming,
      featureShingle).select("doc_a", "doc_b")
    val wide = minHashCandidates(docs, idCol, textCol, k, bands, shingleSize,
      minEstJaccard).select("doc_a", "doc_b")
    val cands = tight.union(wide).distinct()
    exactJaccardFor(docs, cands, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs ≥ threshold. Candidate generation
    * by shared-shingle inverted index (join on shingle), then exact
    * |∩|/|∪| from per-doc distinct-shingle counts. Oracle-expressible
    * (plain SQL) — the verified baseline for the LSH path.
    *
    * Scale guard: `maxShingleFreq` drops stop-shingles that appear in more
    * than that many docs before the self-join — the classic inverted-index
    * skew bomb at 100 TB (a shingle shared by 1M docs creates 10^12 pairs).
    */
  /** The guarded distinct-gram postings BOTH inverted-index sweeps
    * ([[jaccardPairs]], [[containmentPairs]]) self-join: per-doc DISTINCT
    * xxhash64'd `shingleSize`-gram keys, with shingles appearing in more
    * than `maxShingleFreq` docs anti-joined away FIRST (the hot-shingle
    * cost guard — and the shared definition is deliberate: the stress
    * gate's cost-class probe measures Σ posting² over exactly this
    * relation, so a guard change in the operators IS a change in the
    * gated metric). Gram identity is xxhash64 from the explode on: every
    * later step (distinct, hot-gram guard, self-join) only tests gram
    * EQUALITY, so 8-byte keys replace ~25-byte gram strings in the
    * postings, the materialized blocks, and the self-join exchange.
    * Collision caveat as in [[containmentPairsSketch]]. */
  private[graft] def guardedDistinctGrams(df: DataFrame, idCol: String,
                                          textCol: String, shingleSize: Int,
                                          maxShingleFreq: Option[Int])
      : DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(split(col(textCol), " "), shingleSize)))
          .as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
      .distinct()
    maxShingleFreq match {
      case Some(maxF) =>
        val hot = grams.groupBy("g").agg(count(lit(1)).as("f"))
          .filter(col("f") > maxF).select("g")
        grams.join(broadcast(hot), Seq("g"), "left_anti")
      case None => grams
    }
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.8,
                   maxShingleFreq: Option[Int] = None): DataFrame = {
    // Hot-shingle guard FIRST, then per-doc counts over the retained gram
    // universe — inter and the denominators must see the same universe or
    // identical docs with hot grams would score (n-h)/(n+h) < 1 and slip
    // under the threshold. Per-doc count via a window over the same doc_id
    // partitioning (no extra self-joins).
    val guarded = guardedDistinctGrams(df, idCol, textCol, shingleSize,
      maxShingleFreq)
    // materialized once — both self-join sides read it (see
    // containmentPairs' identical note)
    val filtered = guarded.withColumn("n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))))
      .localCheckpoint()
    filtered.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("g"))
      .join(filtered.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"), first(col("n_a")).as("n_a"),
        first(col("n_b")).as("n_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** PREFIX-FILTER Jaccard join (AllPairs, Bayardo et al. 2007 "Scaling
    * Up All Pairs Similarity Search" / PPJoin, Xiao et al. 2008) —
    * computes EXACTLY the [[jaccardPairs]] relation through a better
    * candidate cost class: under any global total order over grams, two
    * sets with J(A,B) ≥ t must share a token within their first
    * p = |X| − ⌈t·|X|⌉ + 1 tokens, so only those PREFIX tokens enter the
    * posting self-join. At t = 0.8 the quadratic join input drops to
    * ~20% of each doc's grams, and ordering rare-first (docfreq asc)
    * makes the surviving posting lists the SHORT ones — the two effects
    * the unfiltered inverted-index sweep pays for in full. Candidates
    * then verify with ONE exact intersection count restricted to the
    * candidate pairs.
    *
    * The threshold is RATIONAL (`tNum/tDen`) because the prefix length
    * must never under-shoot: a float ⌈0.8·n⌉ can land on either side of
    * an exact multiple (0.8·5 = 4.000000000000000222 in IEEE), silently
    * shortening the prefix and DROPPING true pairs. Integer
    * ceil-division is exact. The checked contract rounds Jaccard to 4
    * decimals before thresholding (the q25 oracle), so candidate
    * generation slackens to J ≥ t − 1/20000 — the exact admission
    * boundary of round-4 — again in integer arithmetic.
    *
    * Scale shape: one shuffle ranks each doc's grams under the global
    * (docfreq, gram) order (freq table joins by shuffle — at corpus
    * scale the gram vocabulary is not broadcastable); the prefix
    * posting join carries ~(1−t)·Σ|doc| rows; verification joins the
    * candidate pairs back to the full gram relation (cost ∝ candidates,
    * not corpus²). The ranked relation is materialized once and feeds
    * prefix, sizes, and both verification sides.
    *
    * Measured on the sf0.1 corpus (3-grams, t = 0.8): posting rows
    * 260,388 → 55,125 (4.7×), posting-join pair comparisons
    * Σ C(df,2) = 1,265,779 → 122,289 (**10.4×**). Local WALL-CLOCK is
    * nonetheless higher than [[jaccardPairs]] at this toy scale
    * (~2.4 s vs ~0.7 s at sf0.1) — the extra fixed stages (freq join,
    * two windows, candidate distinct, verification join-back) dominate
    * a 5000-doc corpus; the 10× quadratic-mass cut is what survives a
    * 100× corpus, where the posting join IS the cost (the q89→q100
    * brute-vs-routed precedent). */
  /** The ranked gram relation behind the prefix filter: distinct grams
    * per doc carrying the global docfreq `f`, the doc's gram count `n`,
    * and the doc-local rank `r` under the rare-first (f, g) total order.
    * ONE definition shared by [[jaccardPairsPrefix]] and the stress
    * tool's cost-class probe, so the gated metric IS the operator's
    * candidate relation (the guardedDistinctGrams/cosineIndex gate
    * precedent). */
  private def rankedGrams(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val grams = guardedDistinctGrams(df, idCol, textCol, shingleSize, None)
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("f"))
    grams.join(freq, Seq("g"))
      .withColumn("n", count(lit(1))
        .over(w.partitionBy(col("doc_id"))))
      .withColumn("r", row_number()
        .over(w.partitionBy(col("doc_id"))
          .orderBy(col("f").asc, col("g").asc)))
  }

  private def prefixFilter(ranked: DataFrame,
                           tNum: Long, tDen: Long): DataFrame = {
    // round-4 admits J >= t - 1/20000; integer ceil-division keeps the
    // prefix length exact at multiples (see jaccardPairsPrefix scaladoc)
    val pNum = tNum * 20000L - tDen
    val pDen = tDen * 20000L
    ranked.filter(
      col("r") <= col("n") -
        expr(s"(n * $pNum + $pDen - 1) div $pDen") + 1)
  }

  /** The prefix posting relation (doc_id, g) alone — the self-join input
    * whose Σ f² is [[jaccardPairsPrefix]]'s candidate cost; exposed for
    * the deterministic cost-class stress gate. */
  def prefixPostings(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3,
                     tNum: Long = 4L, tDen: Long = 5L): DataFrame =
    prefixFilter(rankedGrams(df, idCol, textCol, shingleSize), tNum, tDen)
      .select(col("doc_id"), col("g"))

  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3,
                         tNum: Long = 4L, tDen: Long = 5L): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      "threshold tNum/tDen must be in (0, 1]")
    val threshold = tNum.toDouble / tDen
    val ranked = rankedGrams(df, idCol, textCol, shingleSize)
      .localCheckpoint()
    val prefix = prefixFilter(ranked, tNum, tDen)
    val cand = prefix.select(col("doc_id").as("doc_a"), col("g"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // NOTE (r18): the sizes-post-agg variant (bare (doc, g) rows through
    // the verification joins, doc sizes joined back after the inter agg)
    // was probed and measured a no-op here: the gram mass lives in the
    // ranked checkpoint and prefix join, not in the n carry — shuffle
    // bytes 22.5 → 22.6 MB, iso min-of-9 2.10 → 2.17 s, +2 jobs. Left
    // in the carried-n form. (containmentPairs, where the carry rode
    // the posting SELF-join, kept the post-agg form: −33% shuffle.)
    cand
      .join(ranked.select(col("doc_id").as("doc_a"), col("g"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(ranked.select(col("doc_id").as("doc_b"), col("g"),
        col("n").as("n_b")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), first(col("n_a")).as("n_a"),
        first(col("n_b")).as("n_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Weighted (TF-IDF) gram postings of a corpus: `(doc_id, g, w)` with
    * w = tf·ln(N/df) over the docfreq-guarded gram universe, plus the
    * corpus IDF table `(g, idf)` — the pair of narrow artifacts the
    * weighted-dedup pipeline PERSISTS (the cosine-family sibling of
    * [[bandKeys]] / [[ngramPostings]]). Computed once per corpus build;
    * every later batch probes them via [[cosineAdmitFromIndex]] with the
    * corpus IDF FROZEN (the standard incremental-IR choice: admission
    * decisions must not drift as the corpus grows between index builds). */
  def cosineIndex(corpus: DataFrame, idCol: String, textCol: String,
                  shingleSize: Int = 3, maxDocFreq: Int = 50)
      : (DataFrame, DataFrame) = {
    val tf = corpus.select(col(idCol).as("doc_id"),
        explode(shingles(split(col(textCol), " "), shingleSize)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy("g").agg(count(lit(1)).as("docfreq"))
      .filter(col("docfreq") <= maxDocFreq)
      .crossJoin(broadcast(nDocs))
      .select(col("g"),
        log(col("n_docs").cast("double") / col("docfreq")).as("idf"))
    val postings = tf.join(idf, "g")
      .select(col("doc_id"), col("g"),
        (col("tf").cast("double") * col("idf")).as("w"))
    (postings, idf)
  }

  /** Incremental weighted admission: flag each batch doc whose TF-IDF
    * cosine against ANY indexed corpus doc reaches `minCos`, touching the
    * corpus ONLY through the persisted [[cosineIndex]] artifacts. Batch
    * grams are weighted with the FROZEN corpus IDF (unseen or corpus-hot
    * grams carry no weight — they couldn't have a corpus posting to dot
    * against anyway), batch postings broadcast into the corpus-postings
    * join, and corpus norms come from the postings themselves — no corpus
    * text is ever read. Returns one row per batch doc: (doc_id, is_dup). */
  def cosineAdmitFromIndex(postings: DataFrame, idf: DataFrame,
                           batch: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int = 3,
                           minCos: Double = 0.6): DataFrame = {
    val bw = batch.select(col(idCol).as("batch_id"),
        explode(shingles(split(col(textCol), " "), shingleSize)).as("g"))
      .groupBy("batch_id", "g").agg(count(lit(1)).as("tf"))
      .join(idf, "g")
      .select(col("batch_id"), col("g"),
        (col("tf").cast("double") * col("idf")).as("wb"))
    val bNorms = bw.groupBy("batch_id").agg(sqrt(sum(col("wb") * col("wb"))).as("nb"))
    val cNorms = postings.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("na"))
    val dups = broadcast(bw)
      .join(postings.select(col("doc_id").as("corpus_id"), col("g"),
        col("w")), Seq("g"))
      .groupBy("batch_id", "corpus_id")
      .agg(sum(col("wb") * col("w")).as("dot"))
      .join(cNorms.select(col("doc_id").as("corpus_id"), col("na")), "corpus_id")
      .join(broadcast(bNorms), "batch_id")
      .filter(round(col("dot") / (col("na") * col("nb")), 4) >= minCos)
      .select(col("batch_id").as("doc_id")).distinct()
      .withColumn("__dup", lit(1))
    batch.select(col(idCol).as("doc_id"))
      .join(broadcast(dups), Seq("doc_id"), "left")
      .select(col("doc_id"), col("__dup").isNotNull.as("is_dup"))
  }

  /** Quality-canonical selection over near-dup clusters: per cluster keep
    * the member with the highest `qualityCol` (id ASC tie-break) — the
    * curation-pipeline refinement of [[components]]' min-id `keep` flag
    * (a dedup pass should keep the BEST rendering of a duplicated article,
    * not the one with the smallest id). `comp` is [[components]] output
    * (first column = member id, second = cluster label).
    *
    * Scale shape: one equi-join to attach the quality signal; the rank is
    * a row_number window that InferWindowGroupLimit pre-reduces (each map
    * task forwards only its local best per cluster, so even a degenerate
    * 10⁸-member boilerplate cluster ships O(tasks) rows, not its mass);
    * the member count deliberately rides a groupBy — NOT a count() over
    * the same window — because a window count needs every member row on
    * one reducer (the skew bomb the rank avoids) while the hash aggregate
    * partial-combines map-side and shuffles one row per (task, cluster).
    * The count table is O(clusters) and joins back on cluster_id; no
    * broadcast assumptions — cluster count is O(docs) at 100 TB. */
  def canonicalPerCluster(comp: DataFrame, quality: DataFrame,
                          idCol: String, qualityCol: String): DataFrame = {
    val c = comp.select(col(comp.columns(0)).as("doc_id"),
      col(comp.columns(1)).as("cluster_id"))
    val cnt = c.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    val m = c.join(quality.select(col(idCol).as("doc_id"),
      col(qualityCol).as("quality")), "doc_id")
    val part = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    m.withColumn("__rn", row_number().over(
        part.orderBy(col("quality").desc, col("doc_id").asc)))
      .filter(col("__rn") === 1)
      .join(cnt, "cluster_id")
      .select(col("cluster_id"), col("doc_id").as("canonical_id"),
        col("quality"), col("n_members"))
  }

  /** WEIGHTED near-dup pairs: TF-IDF cosine over n-gram shingle COUNTS —
    * the frequency-sensitive sibling of [[jaccardPairs]] (which sees only
    * the distinct-shingle SET). Two docs that repeat the same rare phrases
    * with the same multiplicities score near 1 even when light edits moved
    * the set-Jaccard below a dedup threshold, and a doc that shares only
    * corpus-common boilerplate scores near 0 because IDF down-weights it —
    * the signal a curation pipeline wants for "same article, re-rendered".
    *
    * Pipeline (all built-ins, three aggregates + one posting join):
    * per-doc gram TF → gram docfreq (the `maxDocFreq` filter IS the scale
    * guard — grams in more than that many docs are dropped before the
    * self-join, so every retained posting list is ≤ maxDocFreq docs and
    * candidate volume is ≤ #grams·maxDocFreq², linear in gram volume for
    * fixed maxDocFreq, never O(N²)) → weight tf·ln(N/df) → norms per doc
    * over the SAME retained gram universe → posting-list self-join
    * accumulates dot products with map-side partial sums → cosine =
    * dot/(‖a‖·‖b‖) rounded to 4 decimals, thresholded on the rounded
    * value (cross-engine float wobble can't move a pair across the gate).
    *
    * Unlike the unguarded sweep this never materializes a pair unless the
    * docs share a RETAINED (rare) gram — IDF-hot grams can't contribute
    * meaningful weight anyway (ln(N/df) → 0 as df → N), so the guard drops
    * exactly the mass whose cosine contribution was already negligible.
    * N rides a broadcast 1-row aggregate (no eager count at plan time). */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, maxDocFreq: Int = 50,
                        minCos: Double = 0.6): DataFrame = {
    // ONE definition of the weighted postings — shared with the
    // persisted-artifact path ([[cosineIndex]]/[[cosineAdmitFromIndex]])
    // so the self-sweep and the incremental probe can never drift. The
    // postings are materialized once (localCheckpoint, like
    // [[components]]' iteration state): three consumers read them (norms
    // + both posting-join sides), and without the checkpoint each re-runs
    // the tf/docfreq subtree — three corpus scans at 100 TB. Pipelines
    // that persist the [[cosineIndex]] artifacts skip even this.
    //
    // The gram string is replaced by its xxhash64 BEFORE materialization:
    // the downstream consumers only ever test gram EQUALITY, so 24-byte
    // (long, long, double) rows carry everything they need instead of
    // rows that are mostly gram text by mass. A/B on the 200k dup-cluster
    // stress corpus (load-normalized): hashed+checkpoint ~133 s,
    // string+checkpoint ~148 s, hashed no-checkpoint ~168 s — hashing
    // shrinks both the resident blocks and the self-join exchange, and
    // the checkpoint still beats recomputing the tf/docfreq subtree per
    // consumer. A 64-bit collision could merge two grams' weights (same
    // caveat and precedent as [[containmentPairsSketch]]'s gram
    // identity) — at 100 TB partition the corpus before birthday mass
    // matters.
    val (w, _) = cosineIndex(df, idCol, textCol, shingleSize, maxDocFreq)
    val wc = w.select(col("doc_id"), xxhash64(col("g")).as("g"), col("w"))
      .localCheckpoint()
    val norms = wc.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val dots = wc.select(col("doc_id").as("doc_a"), col("g"), col("w").as("wa"))
      .join(wc.select(col("doc_id").as("doc_b"), col("g"), col("w").as("wb")),
        Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        // + 0.0 pins a zero cosine to +0.0 on both faces (q108 r9)
        (round(col("dot") / (col("na") * col("nb")), 4) + lit(0.0)).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Directed CONTAINMENT pairs: containment(a in b) = |A∩B| / |A| over
    * distinct n-gram shingle sets — the asymmetric complement of
    * [[jaccardPairs]]. A short document quoted verbatim inside a long one
    * has containment ≈ 1 while Jaccard ≈ |A|/|B| can sit far below any
    * dedup threshold; corpus curation needs this direction to catch
    * quote/subset duplication. Emits each unordered pair once with BOTH
    * directions' scores, filtered on the max ≥ `threshold`.
    *
    * Same inverted-index shape (and hot-shingle guard semantics) as
    * [[jaccardPairs]] — gram postings join, counts aggregate, denominators
    * ride a window over the same retained gram universe.
    *
    * Scale honesty: [[minHashCandidates]] does NOT recover the asymmetric
    * pairs this op exists for — MinHash/LSH estimates JACCARD, and a
    * short-doc-in-long-doc pair has jaccard ≈ |A|/|B|, so its band-match
    * probability is tiny precisely when containment is the only signal.
    * The candidate generator for containment at corpus scale is therefore
    * the guarded inverted index itself: with `maxShingleFreq = maxF`
    * every retained posting list is ≤ maxF docs, so the self-join emits
    * ≤ #grams·maxF² candidate rows — linear in corpus gram volume for
    * fixed maxF, never O(N²). The checked q62 entry ENGAGES the guard
    * (maxF = 50) and its oracle replicates it over the same gram
    * universe (OracleGen.containmentSql), so the guarded relation is the
    * hash-verified contract; the CONTAINMENT stress shape in
    * tools/Stress gates the cost class on a dup-cluster corpus. What the
    * guard costs: a pair whose shared grams are ALL corpus-hot
    * (boilerplate quoted inside boilerplate) is invisible — the same
    * trade the Jaccard sweep's guard makes, and the right one: those
    * pairs are template mass, not quotation signal. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, threshold: Double = 0.9,
                       maxShingleFreq: Option[Int] = None): DataFrame = {
    // same guarded posting relation as [[jaccardPairs]] — shared via
    // [[guardedDistinctGrams]] (xxhash64 narrowing + hot-shingle
    // anti-join; the stress cost-class probe measures this relation)
    val guarded = guardedDistinctGrams(df, idCol, textCol, shingleSize,
      maxShingleFreq)
    // materialize the guarded postings once: BOTH self-join sides and the
    // size agg read them, and each would otherwise re-run the gram
    // explode and the hot-gram anti-join — extra corpus scans at scale
    // (same rationale as sparseCosinePairs' checkpoint). Doc sizes ride a
    // SEPARATE per-doc aggregate joined back AFTER the pair agg (r18,
    // guide §2.3): the self-join exchanges then carry bare 16-byte
    // (doc, g) rows instead of (doc, n, g), the per-doc count window
    // drops out of the checkpoint materialization, and the pair agg
    // loses both first() carries — the size join-backs touch only the
    // candidate-pair relation, ≪ the posting mass.
    val filtered = guarded.localCheckpoint()
    val sizes = filtered.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    filtered.select(col("doc_id").as("doc_a"), col("g"))
      .join(filtered.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .withColumn("cont_a_in_b",
        round(col("inter").cast("double") / col("n_a"), 4))
      .withColumn("cont_b_in_a",
        round(col("inter").cast("double") / col("n_b"), 4))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a_in_b"),
        col("cont_b_in_a"))
  }

  /** Bottom-k sketch containment pairs — the SKETCH-candidate sibling of
    * [[containmentPairs]] (same verified relation, cheaper candidate
    * generation). Banded MinHash cannot see asymmetric pairs (it
    * estimates Jaccard), but bottom-k minima CAN: a doc's k
    * smallest-hash grams are a uniform pseudo-random k-subset of its
    * gram set, so for a true pair with containment(A in B) = C ≥ t, each
    * sketch gram of A lands in B independently with probability ≈ C —
    * P(no sketch gram of A occurs in B) ≈ (1−C)^k ≤ (1−t)^k (≤ 1e-8 at
    * t = 0.9, k = 8), and a doc with ≤ k grams sketches to its WHOLE set
    * (zero miss probability). Candidates are therefore: each doc's
    * bottom-k gram hashes probe the hot-shingle-guarded posting index —
    * O(N·k) probe rows against posting lists bounded by the guard, so
    * candidate volume is ≤ N·k·maxF narrow rows, vs the full index
    * self-join's O(Σ posting²).
    *
    * Verification is EXACT over the same retained gram universe as
    * [[containmentPairs]] (per-candidate posting intersection counts +
    * exact per-doc sizes), so on any corpus where the sketch recall
    * bound holds the two functions return identical rows — spec-pinned
    * on the testdata corpora. Gram identity is xxhash64 (64-bit), so a
    * hash collision could in principle inflate an intersection count by
    * one; at 100 TB partition the corpus before birthday mass matters.
    *
    * REGIME (measured, don't guess): the verify stage costs
    * O(Σ_candidates·|A|) posting rows, so this path wins when candidates
    * are SPARSE — a mostly-deduped corpus probed for quote/subset
    * duplication, the realistic downstream placement. On a dense
    * near-dup-cluster corpus (the 200k 40-copy stress shape) sketch
    * grams hit their whole cluster plus every hot-ish common gram, and
    * the verify spilled >37 GB where the guarded sweep finishes in
    * 163 s — Σ posting² beats Σ_cands·|A| exactly when pairs are dense.
    * That measurement is why [[containmentPairs]] (guard engaged) stays
    * the checked q62 path and this is the sparse-regime alternative
    * (CONTAINMENT_SKETCH_SPARSE_20K gates it in its own regime). */
  def containmentPairsSketch(df: DataFrame, idCol: String, textCol: String,
                             shingleSize: Int = 3, threshold: Double = 0.9,
                             sketchK: Int = 8,
                             maxShingleFreq: Option[Int] = None): DataFrame = {
    require(sketchK >= 1, "sketchK must be >= 1")
    val grams = df
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(split(col(textCol), " "), shingleSize)))
          .as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .distinct()
    val guarded = maxShingleFreq match {
      case Some(maxF) =>
        val hot = grams.groupBy("gh").agg(count(lit(1)).as("f"))
          .filter(col("f") > maxF).select("gh")
        grams.join(broadcast(hot), Seq("gh"), "left_anti")
      case None => grams
    }
    val sketch = Windows.topKPerGroup(guarded, Seq(col("doc_id")),
      Seq(col("gh").asc), sketchK)
    // probe: sketch grams against the posting index; both docs' sketches
    // probe, so both containment directions get the (1-t)^k recall bound
    val cands = sketch.select(col("doc_id").as("p_a"), col("gh"))
      .join(guarded.select(col("doc_id").as("p_b"), col("gh")), Seq("gh"))
      .filter(col("p_a") =!= col("p_b"))
      .select(least(col("p_a"), col("p_b")).as("doc_a"),
        greatest(col("p_a"), col("p_b")).as("doc_b"))
      .distinct()
    // exact verify on candidates only: intersection = shared retained
    // grams counted through two posting joins (O(candidate gram mass));
    // denominators are the exact retained set sizes
    val sizes = guarded.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(guarded.select(col("doc_id").as("doc_a"), col("gh")), Seq("doc_a"))
      .join(guarded.select(col("doc_id").as("doc_b"), col("gh")),
        Seq("doc_b", "gh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("cont_a_in_b",
        round(col("inter").cast("double") / col("n_a"), 4))
      .withColumn("cont_b_in_a",
        round(col("inter").cast("double") / col("n_b"), 4))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a_in_b"),
        col("cont_b_in_a"))
  }

  /** Connected components of a near-dup pair graph — the step that turns
    * PAIRS into a deduplicated corpus (one canonical doc per cluster).
    * Shiloach–Vishkin-style label contraction: every node starts labeled
    * with its own id; each round (a) HOOKS — every node takes the min of
    * its own and its neighbors' labels — then (b) POINTER-JUMPS — every
    * node replaces its label with its label-node's label, halving chain
    * depth. The jump makes convergence O(log diameter) rounds instead of
    * O(diameter), so the default `maxIters = 20` covers components of
    * diameter ~2^20 (a 50-node paraphrase CHAIN converges in ~7 rounds
    * where plain propagation needs 49). At fixpoint label = the
    * component's min id — unique, so the result is deterministic
    * regardless of execution order and oracle-verifiable against a
    * recursive-CTE closure. (Fixpoint ⇒ labels constant along every edge
    * ⇒ constant per component ⇒ = the component min, which is stable.)
    *
    * PRECONDITION: both columns of `pairs` must reference ids present in
    * `ids` (pairs ⊆ ids × ids). Since the label loop seeds from the
    * pair-touched node set, an edge to a FOREIGN id does not stay inert —
    * the foreign node participates in label propagation (it can bridge
    * two otherwise-separate components and its id can win the min and
    * leak into the output labels). Callers joining relations from
    * different corpora should anti-join-check the edge list first
    * (`pairs.select(src).except(ids)` count == 0) — cheap next to the
    * component rounds themselves.
    *
    * Scale shape: the loop runs over the PAIR-TOUCHED node set only —
    * edge-free ids can never change label and rejoin as singletons after
    * convergence — so each round is one join + one groupBy on the edge
    * list plus one label self-join, shuffles O(|V_dup| + |E|) with
    * |V_dup| the dup-graph node count (a small fraction of the corpus;
    * 477 of 5000 docs at sf0.1 under the q45 pair relation), with a
    * checkpoint per round to stop lineage growth. Convergence detection costs no
    * extra action: the jump job's checkpoint carries a CollectMetrics
    * count of still-decreasing labels (read via [[Observation]]), so a
    * round is exactly its two materializations — hook and jump. `checkpointDir` picks the
    * cluster-grade RELIABLE checkpoint (survives executor loss — set it
    * to HDFS/S3 on a real cluster; old files linger unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on); unset, it
    * falls back to executor-local `localCheckpoint` — fine on local[k],
    * lost-partition-unsafe on a cluster. Throws if `maxIters` rounds
    * don't converge (a silently partial labeling must never reach a
    * consumer). */
  /** Read the round's `changed` metric after its checkpoint action. The
    * observed-metrics listener fires asynchronously after the action
    * completes, so poll non-blockingly (`Observation.get` would hang
    * forever if the metric never arrived) with a generous deadline —
    * normally the metric is present on the first probe. */
  private val componentsRunNonce = new java.util.concurrent.atomic.AtomicLong(0L)

  private def observedChanged(obs: Observation): Long = {
    val deadline = System.nanoTime() + 30L * 1000L * 1000L * 1000L
    var res = GraftShims.observationResults(obs)
    while (res.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(10)
      res = GraftShims.observationResults(obs)
    }
    require(res.nonEmpty,
      "components: convergence metric did not arrive within 30s of the jump job")
    res("changed").asInstanceOf[Long]
  }

  def components(ids: DataFrame, pairs: DataFrame,
                 maxIters: Int = 20,
                 checkpointDir: Option[String] = None): DataFrame = {
    val idCol = ids.columns.head
    checkpointDir.foreach(ids.sparkSession.sparkContext.setCheckpointDir)
    def persist(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    val edges = persist(pairs
      .select(col(pairs.columns(0)).as("src"), col(pairs.columns(1)).as("dst"))
      .union(pairs.select(col(pairs.columns(1)).as("src"),
        col(pairs.columns(0)).as("dst"))))
    // Iterate ONLY over nodes that appear in some pair: a node with no
    // edges can never change label (hook sees no neighbors, jump maps
    // label=id to itself), so looping it through every round is pure
    // waste — and the dominant one, since in a real corpus the dup-graph
    // node set is a small fraction of the id universe (sf0.1 measured:
    // 477 touched of 5000 docs, a ~10x loop shrink). Untouched
    // ids rejoin as their own singleton label at the end. Labels stay
    // ids of TOUCHED nodes throughout (init = own id; hook takes mins
    // over touched neighbors), so the jump's self-lookup remains total.
    var labels = persist(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    var iters = 0
    var done = false
    while (!done && iters < maxIters) {
      // (a) hook: l(v) := min(l(v), min over neighbors' labels), as ONE
      // union-agg: the self row (tagged with the round-entry label) and
      // the neighbor contributions flow into a single combinable
      // min/max aggregate keyed by id — one label-mass exchange where
      // the join-back form paid two (the nbr-min agg by dst plus the
      // left join's labels-by-id exchange), and the map-side partial
      // agg collapses neighbor fan-in before the wire. Every id has
      // exactly one self row, so `max(ptag)` (nulls ignored) recovers
      // the round-entry label as `prev` for the convergence count, and
      // an edge-free id reduces to its own self row — the left-join
      // no-neighbor case. Left LAZY: the jump's self-join reads it
      // twice, but the two branches execute concurrently inside the one
      // jump materialization (their shared internal exchange is
      // runtime-reused), which on local[32] beats serializing a
      // checkpoint barrier per round (the round-18 chain-link trade —
      // same instance-measured call as q268).
      val labelType = labels.schema("label").dataType
      val hooked = labels
        .select(col("id"), col("label"), col("label").as("ptag"))
        .unionByName(edges.join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("label"),
            lit(null).cast(labelType).as("ptag")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("ptag")).as("prev"))
      // (b) jump: l(v) := l(l(v)). Labels are always ids of nodes in the
      // same component (init l=v; hook takes mins of such ids), so the
      // inner join preserves every row, and l only decreases. The
      // convergence probe is a CollectMetrics node UNDER the final
      // projection: the checkpoint that materializes `next` also counts
      // label changes, so each round is exactly two actions (hook + jump)
      // with no separate convergence job.
      // the nonce keeps names unique across concurrent components() runs
      // in one SparkSession — identically named Observations would pick
      // up each other's metrics
      val obs = Observation(
        s"components_${componentsRunNonce.getAndIncrement()}_round_$iters")
      val next = persist(hooked
        .join(hooked.select(col("id").as("jid"), col("label").as("jlabel")),
          col("label") === col("jid"))
        .select(col("id"), col("jlabel").as("label"), col("prev"))
        .observe(obs, count(when(col("label") < col("prev"), 1)).as("changed"))
        .select(col("id"), col("label")))
      done = observedChanged(obs) == 0L
      // `next` is materialized, so the superseded round's checkpoint
      // blocks can be released — keeps resident state at 2 label copies
      // + edges instead of one copy per round
      labels.unpersist()
      labels = next
      iters += 1
    }
    edges.unpersist()
    require(done, s"components: no fixpoint after $maxIters rounds " +
      "(component diameter exceeds ~2^maxIters)")
    // singletons (ids with no pair) re-enter as their own label; the
    // touched labels broadcast when small, else this is one equi-join
    ids.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("label", "__lbl"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__lbl"), col("id")).as("label"))
  }

  /** End-to-end near-dup corpus dedup: keep one canonical doc (the
    * cluster's min id) per near-dup cluster, drop the rest. The full
    * pipeline shape a training-data prep job wants: signature → banded
    * candidates → exact verify → components → filter. The pair stage is
    * banded MinHash-LSH ([[minHashNearDups]]) — the wide-radius-recall
    * path that stays ~linear at corpus scale (wide-radius simhash is
    * verifier-only; see [[hybridNearDups]]). `checkpointDir` flows to
    * [[components]] for cluster-grade reliable checkpoints. */
  def dropNearDups(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 2, threshold: Double = 0.8,
                   k: Int = 32, bands: Int = 16,
                   checkpointDir: Option[String] = None,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    val pairs = minHashNearDups(docs, idCol, textCol, k, bands,
      shingleSize, minEstJaccard = 0.4, threshold,
      maxBucketSize = maxBucketSize)
    val keep = components(docs.select(idCol), pairs.select("doc_a", "doc_b"),
        checkpointDir = checkpointDir)
      .filter(col("id") === col("label")).select(col("id"))
    docs.join(keep, docs(idCol) === keep("id"), "left_semi")
  }

  // -------------------------------------------------- embedding near-dup

  /** SemDedup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with a coarse quantizer,
    * then inside each cluster drop every document whose cosine to a
    * LOWER-id cluster-mate reaches `threshold`. The clustering exists to
    * bound the quadratic — pair work is Σ|cell|², not N²; the cell count
    * must GROW with N to hold |cell| roughly constant, so `nCentroids = 0`
    * (the default) derives it as [[autoCellCount]] = ceil(N / target) —
    * the in-cell join stays near-linear at any corpus size while
    * assignment stays one broadcast of the centroid table (the q35 IVF
    * shape). An explicit `nCentroids > 0` pins the count (what every
    * oracle-checked query does, since the oracle must replay it).
    *
    * Determinism (what makes q84/q87 hash-checkable): centroids are the
    * first `nCentroids` vectors by id (q35's seeding) or, with
    * `trainIters` > 0, [[Similarity.kMeansCentroids]]'s quantized-Lloyd
    * trained cells (q47's bit-reproducible replay — the q87 variant);
    * assignment is top-1 by round-6 cosine with cent_id
    * tie-break, and the drop test uses round-4 cosine. "Dominated by ANY
    * lower-id cluster-mate" — rather than SemDedup's keep-one-per-
    * near-dup-group greedy chain — keeps the rule a pure pairwise
    * predicate both engines evaluate identically; it is at most as
    * aggressive as dropping the full transitive closure under the
    * min-id canonical, the same semantics [[dropNearDups]] ships.
    *
    * Plan: broadcast centroid join + per-id top-1 window (assignment),
    * ONE corpus shuffle on cell id for the self-join, and the dominated
    * set — at most one narrow row per dropped id — joins back onto the
    * assignment; every wide vector column dies before that final join. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int = 0,
                    threshold: Double = 0.6,
                    trainIters: Int = 0,
                    maxCellSize: Option[Int] = None): DataFrame = {
    require(nCentroids >= 0, "nCentroids must be >= 0 (0 = auto from N)")
    require(trainIters >= 0, "trainIters must be >= 0")
    require(maxCellSize.forall(_ > 0), "maxCellSize must be > 0")
    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // nCentroids = 0 (the default): derive the cell count from the corpus
    // so E|cell| stays ~semanticDedupTargetCellSize whatever N is — the
    // pair sweep then costs ~N·target regardless of corpus growth, which
    // is the property a fixed cell count loses at 100× (16 cells over
    // 10^9 vectors = 10^16 pair tests). The one count() job is the price
    // of auto mode; callers who know their N keep the explicit knob
    // (every checked query pins it for oracle replay).
    val k = if (nCentroids > 0) nCentroids else autoCellCount(base.count())
    // trainIters > 0: quantized-Lloyd TRAINED cells (q47's bit-reproducible
    // k-means) — data-shaped cells dedup better than the id-seeded ones;
    // auto mode (above) grows the cell count with N so E|cell| stays
    // constant without caller bookkeeping; trainIters = 0 keeps the
    // seeded first-N centroids (the q84 oracle shape)
    val cent =
      if (trainIters > 0) Similarity.kMeansCentroids(base, k, trainIters)
      else base.orderBy(col("id")).limit(k)
        .select(col("id").as("cent_id"), col("v").as("cv"))
    // materialized ONCE (lazy localCheckpoint, the q69/q85 pattern): the
    // assignment feeds both the pair join and the final output — without
    // this, each consumer re-runs the centroid broadcast + top-1 shuffle
    val assigned = Windows.topKPerGroup(
      base.join(broadcast(cent), lit(true))
        .select(col("id"), col("v"), col("cent_id"),
          round(Similarity.cosine(col("v"), col("cv")), 6).as("cent_cos")),
      Seq(col("id")), Seq(col("cent_cos").desc, col("cent_id").asc), 1)
      .select(col("cent_id"), col("id"), col("v"))
      .localCheckpoint(eager = false)
    // maxCellSize: the WORST-CASE cost guard for skewed corpora. A cell
    // of size n costs n² pair tests; one mega-cell (a massive duplicate
    // family, or a degenerate centroid) turns the sweep quadratic no
    // matter how many cells exist. The cap sub-splits any cell over the
    // bound into ceil(n/cap) deterministic hash shards (xxhash64 of id —
    // a pure function of the data, so the result stays partitioning- and
    // rerun-reproducible; xxhash64 is Spark-specific, so unlike the md5
    // draws this shard split is NOT oracle-replayable and no oracle
    // query engages the cap) and pairs only within a shard: cost
    // drops to ~n·cap per oversized cell (linear in n). Recall trade
    // (explicit, two regimes over s = ceil(n/cap) shards): a duplicate
    // family of size f ≥ s collapses to ~1 representative per shard
    // (drops f − s — the mega-family case that CREATES mega-cells);
    // a small family f ≪ s only drops its birthday collisions, ~f²/2s
    // members (SEMDEDUP_SKEW_CAP_20K pins both the cost budget and this
    // predicted rate). Callers needing full small-family recall inside
    // a skewed cell should raise the cap or pre-split by a content key.
    // The per-shard sizes concentrate tightly around cap (binomial).
    val paired = maxCellSize match {
      case None => assigned.withColumn("__split", lit(0L))
      case Some(cap) =>
        val sizes = assigned.groupBy(col("cent_id"))
          .agg(count(lit(1)).as("__n"))
        assigned.join(broadcast(sizes), Seq("cent_id"))
          .withColumn("__split", pmod(xxhash64(col("id")),
            greatest(lit(1L), ceil(col("__n").cast("double") / cap)
              .cast("long"))))
          .drop("__n")
    }
    val dominated = paired
      .select(col("cent_id"), col("__split"), col("id").as("id_a"),
        col("v").as("va"))
      .join(paired.select(col("cent_id"), col("__split"),
        col("id").as("id_b"), col("v").as("vb")), Seq("cent_id", "__split"))
      .filter(col("id_a") < col("id_b") &&
        round(Similarity.cosine(col("va"), col("vb")), 4) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select(col("id"), col("cent_id"))
      .join(dominated.withColumn("__dom", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cent_id"),
        col("__dom").isNull.as("kept"))
  }

  /** Default cell-count target for [[semanticDedup]]'s auto mode. */
  val semanticDedupTargetCellSize: Long = 2000L

  /** Auto cell count: ceil(n / target), min 1 — holds the EXPECTED cell
    * size (and so the per-cell pair cost n·target) flat as the corpus
    * grows. Pure arithmetic, spec-pinned flat across sizes
    * (NewOpsPropertySpec). */
  def autoCellCount(n: Long,
                    targetCellSize: Long = semanticDedupTargetCellSize): Int = {
    require(n >= 0 && targetCellSize > 0, "need n >= 0, targetCellSize > 0")
    math.max(1L, (n + targetCellSize - 1) / targetCellSize)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Leakage-safe train/validation split: the split is decided per
    * near-dup CLUSTER (by the cluster label's md5 draw), never per
    * document — so two near-duplicates can never straddle the boundary
    * and inflate validation scores (the reason document-level random
    * splits leak). `draw % mod == rem` sends the whole cluster to val;
    * singletons are their own cluster, so unclustered docs still split
    * ~1/mod. Input is the [[components]] relation (id, label); output
    * (id, label, split). Pure function of the data — engine-,
    * partitioning- and rerun-stable, and STABLE UNDER CORPUS GROWTH
    * except where new members merge clusters (which is exactly when a
    * re-split is semantically required).
    *
    * Scale: a pure map over the component relation — no shuffle, no
    * join; the component computation upstream already paid its
    * O(log d) rounds. */
  def groupedSplit(components: DataFrame, mod: Int, rem: Int): DataFrame = {
    require(mod > 0 && rem >= 0 && rem < mod, "need 0 <= rem < mod")
    val draw = conv(substring(md5(col("label").cast("string")), 1, 8), 16, 10)
      .cast("long")
    components.select(col("id"), col("label"),
      when(pmod(draw, lit(mod)) === rem, lit("val"))
        .otherwise(lit("train")).as("split"))
  }

  /** SEMANTIC eval-set leakage — the embedding-space analogue of the
    * n-gram contamination flags (`contaminationFlags`): a training vector
    * is contaminated when ANY held-out/eval vector sits within `threshold`
    * round-4 cosine of it. N-gram decontamination misses paraphrases;
    * this catches them — the benchmark-decontamination step of a modern
    * training pipeline run in embedding space.
    *
    * Output: one row per NON-eval vector — (id, n_eval_hits, leaked) —
    * INCLUDING when the eval predicate matches zero rows (the eval side
    * joins LEFT-outer, so an empty eval set yields every non-eval row
    * with n_eval_hits = 0, not an empty result). Deterministic: hit
    * counting is exact integer work over round-4 cosines, so the oracle
    * replays it verbatim.
    *
    * Scale shape: the eval set is tiny next to a 100 TB corpus, so it
    * BROADCASTS and the corpus streams through map-side (a broadcast
    * nested-loop over eval×train cosines, distributed across the train
    * partitions — never a corpus shuffle); the per-id hit count is one
    * combinable aggregation of narrow (id, hit) rows. A flag-only caller
    * can skip even that shuffle with a broadcast semi-join on the same
    * predicate; the count output is kept because audits want "how
    * contaminated", not just "whether". */
  def semanticLeakage(emb: DataFrame, idCol: String, vecCol: String,
                      isEval: Column, threshold: Double): DataFrame = {
    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), isEval.as("__eval"))
    val eval = base.filter(col("__eval"))
      .select(col("id").as("eval_id"), col("v").as("ev"))
    // LEFT outer against the broadcast eval side: an empty eval set must
    // still yield one (id, 0, false) row per non-eval vector — the
    // documented contract — instead of an empty inner-join result
    base.filter(!col("__eval"))
      .join(broadcast(eval), lit(true), "left")
      .select(col("id"),
        when(col("eval_id").isNull, lit(0L))
          .otherwise(
            (round(Similarity.cosine(col("v"), col("ev")), 4) >= threshold)
              .cast("long")).as("__hit"))
      .groupBy(col("id"))
      .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_eval_hits"))
      .select(col("id").as(idCol), col("n_eval_hits"),
        (col("n_eval_hits") > 0).as("leaked"))
  }

  /** CELL-ROUTED semantic eval-leakage — the scale path for
    * [[semanticLeakage]]. The brute form is N·E cosines (every train
    * vector against every eval vector): correct and shuffle-free, but at
    * 10^10 docs × 10^5 eval vectors that is 10^15 ops — the wrong cost
    * class for the 100 TB design point. This variant routes the scan
    * through the IVF cell geometry the repo already trains
    * ([[Similarity.kMeansCentroids]], the q87/q47 path): every corpus
    * vector is assigned ONCE to its top-1 cell, every eval vector probes
    * its `nProbe` nearest cells, and the hit test joins train×eval ON THE
    * CELL ID — an equi-join against a broadcast eval side, so each train
    * vector is scored against only the eval vectors that probe its cell:
    * ~E·nProbe/nCentroids cosines per train row instead of E.
    *
    * RECALL BOUND (explicit): a true leak (cos ≥ threshold) is counted
    * iff the train vector's top-1 cell is among its eval partner's
    * `nProbe` probed cells. Near-identical vectors rank cells
    * near-identically, so leaks at high thresholds route together with
    * high probability; `nProbe = nCentroids` degenerates to the exact
    * brute-force relation (every pair meets). Counts are a LOWER bound on
    * the brute counts per id (`leaked` never false-positives), and the
    * routed/brute agreement at the pinned test params is spec-measured in
    * NewOpsPropertySpec. Tune recall with nProbe; cost scales linearly in
    * it.
    *
    * Same output contract as [[semanticLeakage]]: one row per NON-eval
    * vector — (id, n_eval_hits, leaked) — including n_eval_hits = 0 rows
    * (the hit counts LEFT-join back onto the full train assignment) and
    * when the eval predicate matches zero rows. `trainIters > 0` uses the
    * quantized-Lloyd trained cells (bit-reproducible across engines, the
    * q87 determinism argument); 0 keeps the seeded first-N centroids.
    * Centroids always come from the FULL corpus (train + eval) so the
    * cell geometry is an index property, stable under the eval predicate
    * (the q88 pre-filter argument).
    *
    * Plan shape: one broadcast centroid fan-out + one per-id top-rank
    * window over the corpus (the q84/q88 assignment pattern, computed
    * ONCE via lazy localCheckpoint and shared by both sides), then the
    * hit join BROADCASTS the assigned eval rows and equi-joins on
    * cent_id — the corpus never shuffles again: hit counting and the
    * left join back both ride the assignment's id partitioning. */
  def semanticLeakageCellRouted(emb: DataFrame, idCol: String, vecCol: String,
                                isEval: Column, threshold: Double,
                                nCentroids: Int = 16, nProbe: Int = 4,
                                trainIters: Int = 0): DataFrame = {
    require(nCentroids >= 1, "nCentroids must be >= 1")
    require(nProbe >= 1 && nProbe <= nCentroids, "need 1 <= nProbe <= nCentroids")
    require(trainIters >= 0, "trainIters must be >= 0")
    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), isEval.as("__eval"))
    val cent =
      if (trainIters > 0)
        Similarity.kMeansCentroids(base.select(col("id"), col("v")),
          nCentroids, trainIters)
      else base.orderBy(col("id")).limit(nCentroids)
        .select(col("id").as("cent_id"), col("v").as("cv"))
    // ranked cell assignment of EVERY vector, computed once: rank 1 is
    // the train side's home cell, ranks 1..nProbe are the eval side's
    // probe set — one centroid fan-out + one per-id window serves both
    val assigned = base.join(broadcast(cent), lit(true))
      .select(col("id"), col("v"), col("__eval"), col("cent_id"),
        round(Similarity.cosine(col("v"), col("cv")), 6).as("cent_cos"))
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("cent_cos").desc, col("cent_id").asc)))
      .filter(col("__rk") <= nProbe)
      .localCheckpoint(eager = false)
    val train = assigned.filter(!col("__eval") && col("__rk") === 1)
      .select(col("cent_id"), col("id"), col("v"))
    val evalProbes = assigned.filter(col("__eval") && col("__rk") <= nProbe)
      .select(col("cent_id"), col("id").as("eval_id"), col("v").as("ev"))
    // a train row meets each eval vector AT MOST once (probe cells are
    // distinct; the train side sits in exactly one cell), so the hit sum
    // needs no pair dedup
    val hits = train.join(broadcast(evalProbes), Seq("cent_id"))
      .select(col("id"),
        (round(Similarity.cosine(col("v"), col("ev")), 4) >= threshold)
          .cast("long").as("__hit"))
      .groupBy(col("id"))
      .agg(sum(col("__hit")).as("__n"))
    train.select(col("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__n"), lit(0L)).as("n_eval_hits"),
        (coalesce(col("__n"), lit(0L)) > 0).as("leaked"))
  }

  /** Embedding-cosine near-duplicates: pairs with cosine ≥ threshold.
    * `lsh=false` (default): exact all-pairs via a broadcast of the smaller
    * projection — the verified baseline (O(N²) compute distributed over N
    * partitions; only viable for corpus sizes whose id+vector projection
    * broadcasts). `lsh=true`: same-bucket candidates only (recall < 1),
    * the 100 TB path reusing Similarity's hyperplane signatures. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, lsh: Boolean = false,
                        nBits: Int = 16, dim: Int = 64): DataFrame = {
    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val pairs =
      if (lsh) {
        val sigs = base.withColumn("sig",
          Similarity.lshSignature(col("v"), nBits, dim))
        val chunked = Similarity.chunkedBuckets(sigs, col("sig"),
          nChunks = math.max(nBits / 8, 1))
          .select(col("id"), col("v"), col("chunk"), col("key"))
        chunked.select(col("chunk"), col("key"), col("id").as("doc_a"),
            col("v").as("va"))
          .join(chunked.select(col("chunk"), col("key"),
            col("id").as("doc_b"), col("v").as("vb")), Seq("chunk", "key"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("va"), col("vb"))
          .distinct()
      } else {
        base.select(col("id").as("doc_a"), col("v").as("va"))
          .join(broadcast(base.select(col("id").as("doc_b"),
            col("v").as("vb"))), col("doc_a") < col("doc_b"))
      }
    pairs
      .select(col("doc_a"), col("doc_b"),
        (round(Similarity.cosine(col("va"), col("vb")), 4) + lit(0.0)).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ------------------------------------------------------ edit distance

  /** Fuzzy string matching (record linkage): pairs within Levenshtein
    * distance ≤ maxDist. Blocking is by string LENGTH — complete, since
    * |len(a) − len(b)| > d forces dist > d — made an EQUI-join by
    * replicating each row to length buckets `len..len+d` and joining the
    * replicas against the other side's true length (the shorter member of
    * any qualifying pair reaches the longer one's bucket; no non-equi
    * condition, no cartesian fallback). Verification uses Spark's
    * threshold-banded `levenshtein(l, r, d)` (O(d·len) banded DP, -1 on
    * exceed) instead of the full O(len²) table.
    *
    * Scale notes: length blocking alone is weak on fixed-format corpora
    * (all same length ⇒ one bucket = all-pairs);
    * [[editDistancePairsSegmented]] subdivides by content. For long
    * TEXT near-dup use the jaccard/minhash family instead; edit distance
    * is the short-key tool (names, addresses, ids). */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"),
      lit(0).as("blk"))
    val replicated = base.select(col("id"), col("s"), col("blk"),
      explode(sequence(length(col("s")),
        length(col("s")) + lit(maxDist))).as("len_key"))
    val probes = base.select(col("id").as("id_r"), col("s").as("s_r"),
      col("blk").as("blk_r"), length(col("s")).as("len_key_r"))
    // null STRINGS produce no pairs — levenshtein over null is null —
    // which is the documented behavior for missing keys
    // verify before deduplicating — see [[editDistancePairsSegmented]]
    // (r17): the distinct exchange then carries only verified pairs.
    replicated.join(probes,
        col("len_key") === col("len_key_r") && col("blk") <=> col("blk_r"))
      .filter(col("id") =!= col("id_r"))
      .select(least(col("id"), col("id_r")).as("id_a"),
        greatest(col("id"), col("id_r")).as("id_b"),
        levenshtein(col("s"), col("s_r"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .distinct()
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Fuzzy string matching with SEGMENT blocking (PassJoin-style; Li,
    * Deng, Feng: "PASS-JOIN: a partition-based method for similarity
    * joins", VLDB 2011): each indexed string of length L is split into
    * `maxDist + 1` contiguous segments; if ed(s, r) ≤ d then some segment
    * of s is error-free under the optimal alignment, so it occurs VERBATIM
    * in r at a start position shifted at most d from its position in s
    * (net indels before it ≤ d). Blocking key = (L, segment_idx,
    * segment_text): the probe side enumerates, per candidate indexed
    * length L ∈ [len(r)−d, len(r)+d], each segment's substrings of r at
    * the ≤ 2d+1 allowed shifts. COMPLETE like plain length blocking (the
    * ScaleOpsSpec pins pair-set equality), but the key carries segment
    * CONTENT, so the degenerate fixed-format corpus that collapses length
    * buckets into one all-pairs bucket (the 100 TB hazard of
    * [[editDistancePairs]]) subdivides by what the strings actually say.
    *
    * Cost shape: indexed side emits d+1 keys/row; probe side ≤
    * (2d+1)·(d+1)·(2d+1) tiny keys/row (d=2 ⇒ ≤ 75, typically far fewer
    * after the shift-window clamp) — per-row linear work, one equi-join
    * shuffle, then the same banded-levenshtein verify on candidates. */
  def editDistancePairsSegmented(df: DataFrame, idCol: String,
                                 strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val d = maxDist
    val m = maxDist + 1
    // Even partition of an L-length string into m segments, the last
    // (L mod m) one char longer: len_i and 1-based start_i of segment i.
    def segLen(lc: Column, i: Column): Column =
      floor(lc / m).cast("int") +
        when(i >= lit(m) - pmod(lc, lit(m)), 1).otherwise(0)
    def segStart(lc: Column, i: Column): Column =
      (lit(1) + i * floor(lc / m).cast("int") +
        greatest(lit(0), i - (lit(m) - pmod(lc, lit(m))))).cast("int")

    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
    val segSide = base
      .select(col("id"), col("s"), length(col("s")).as("L"))
      .select(col("id"), col("s"), col("L"),
        explode(transform(sequence(lit(0), lit(m - 1)), i =>
          struct(i.cast("int").as("seg_i"),
            col("s").substr(segStart(col("L"), i), segLen(col("L"), i))
              .as("seg")))).as("sg"))
      .select(col("id"), col("s"), col("L"),
        col("sg.seg_i").as("seg_i"), col("sg.seg").as("seg"))
    // probe keys: for L in [Lr-d, Lr+d] (L ≥ 0 so an indexed empty string
    // is reachable), segment i of the L-scheme at start p/len l, r's
    // substrings starting in [max(1, p-d), min(Lr-l+1, p+d)]
    val probeKeys = {
      val lr = col("Lr")
      flatten(transform(
        sequence(greatest(lit(0), lr - d).cast("int"), (lr + d).cast("int")),
        tl => flatten(transform(sequence(lit(0), lit(m - 1)), i => {
          val p = segStart(tl, i)
          val l = segLen(tl, i)
          val qlo = greatest(lit(1), p - d)
          val qhi = least(lr - l + 1, p + d)
          when(qhi >= qlo,
            transform(sequence(qlo.cast("int"), qhi.cast("int")), q =>
              struct(tl.cast("int").as("L"), i.cast("int").as("seg_i"),
                col("s_r").substr(q, l).as("seg"))))
            .otherwise(array().cast(
              "array<struct<L:int,seg_i:int,seg:string>>"))
        }))))
    }
    val probeSide = base
      .select(col("id").as("id_r"), col("s").as("s_r"),
        length(col("s")).as("Lr"))
      .select(col("id_r"), col("s_r"), explode(probeKeys).as("pk"))
      .select(col("id_r"), col("s_r"), col("pk.L").as("L"),
        col("pk.seg_i").as("seg_i"), col("pk.seg").as("seg"))
    // verify BEFORE deduplicating (r17): the banded levenshtein is
    // cheap per candidate (O(d·len) on short keys), while the distinct
    // is a full exchange of the candidate mass — filtering first means
    // the shuffle carries only verified pairs (tens of thousands)
    // instead of every (blocking-key collision × shift) candidate
    // (millions, with both strings aboard). Same pair set: dedup of the
    // filtered relation ≡ filter of the deduped one.
    segSide.join(probeSide, Seq("L", "seg_i", "seg"))
      .filter(col("id") =!= col("id_r"))
      .select(least(col("id"), col("id_r")).as("id_a"),
        greatest(col("id"), col("id_r")).as("id_b"),
        levenshtein(col("s"), col("s_r"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .distinct()
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Blocked Jaro–Winkler match pairs — the RANKED fuzzy-match stage of
    * record linkage ([[editDistancePairsSegmented]] gives a hard edit
    * RADIUS; Winkler's prefix-boosted similarity gives the graded score
    * matchers threshold and reviewers sort by). Blocking key = first
    * token of `strCol` (the classic name-blocking choice: a typo in the
    * first word escapes the block — the documented recall trade every
    * blocking scheme makes; compose multiple passes with different keys
    * for higher recall). Output (id_a, id_b, jw), jw rounded to 4 —
    * [[graft.functions.JaroWinkler]] is bit-equal to DuckDB's
    * `jaro_winkler_similarity`, so the relation hash-verifies (q139).
    *
    * Scale shape: one equi-join on the block key; candidate mass is
    * Σ_blocks |b|² — bounded by the key's fan-out, never all-pairs; the
    * per-pair score is a codegen'd native expression inside the join's
    * WholeStageCodegen stage. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       threshold: Double): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("blk", split(col("s"), " ").getItem(0))
    val a = base.select(col("blk"), col("id").as("id_a"), col("s").as("s_a"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("s").as("s_b"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b"))
      .withColumn("jw",
        round(graft.functions.JaroWinkler.jaro_winkler(col("s_a"), col("s_b")), 4))
      .filter(col("jw") >= threshold)
      .select(col("id_a"), col("id_b"), col("jw"))
  }

  /** BLOCKING QUALITY card (Christen 2012 §7.2, "Data Matching") — the
    * evaluation every record-linkage deployment runs before trusting a
    * blocking scheme: against a TRUTH pair set (labeled duplicates, or
    * exact pairs computed on a sample), each candidate scheme reports
    *  - reduction ratio  RR = 1 − |cand| / C(n,2)   (cost saved),
    *  - pairs completeness PC = |truth ∩ cand| / |truth| (recall kept),
    *  - pair quality      PQ = |truth ∩ cand| / |cand|  (precision),
    * all floor-micros of non-negative counts. The RR/PC trade IS the
    * blocking design decision; this card makes it contractual the way
    * q165 made ANN recall contractual.
    *
    * `schemes` maps a scheme name to its blocking-key Column over
    * `records`; rows with a NULL key block with nothing (standard
    * missing-key semantics). `truth` is any (id_a, id_b) relation with
    * id_a < id_b — at 100 TB it's your labeled sample, SMALL by
    * construction (nobody computes all-pairs truth at corpus scale),
    * which is what makes the card cheap whatever the corpus size.
    *
    * Scale shape: per scheme ONE equi-self-join on the key (candidate
    * mass Σ_blocks C(|b|,2) — the same cost class the stress gate's Σf²
    * probe bounds), one count, one equi-join against the (small) truth
    * set; the four counts are 1-row relations cross-joined into the
    * card (broadcast by construction). */
  def blockingQuality(records: DataFrame, idCol: String,
                      schemes: Seq[(String, Column)],
                      truth: DataFrame): DataFrame = {
    require(schemes.nonEmpty, "need at least one blocking scheme")
    val tp = truth
      .select(col(truth.columns(0)).as("id_a"),
        col(truth.columns(1)).as("id_b"))
      .distinct()
      .localCheckpoint(eager = false)
    val nRec = records.agg(count(lit(1)).as("n_records"))
    val nTruth = tp.agg(count(lit(1)).as("n_truth"))
    schemes.map { case (name, keyCol) =>
      val keyed = records.select(col(idCol).as("id"), keyCol.as("k"))
        .filter(col("k").isNotNull)
        .localCheckpoint(eager = false)
      // The card needs COUNTS, not the candidate pairs themselves — so
      // never enumerate them (r17; guide §1.2 "don't compute things you
      // throw away"). Each record carries exactly ONE key per scheme, so
      // a pair shares at most one block and
      //   n_cand = Σ_blocks C(|b|, 2)
      // falls out of the block-size marginals: one combinable agg
      // replaces the keyed self-join + distinct + checkpoint of the full
      // candidate relation (the Σ C(b,2) pair mass — millions of rows —
      // was materialized only to be counted; measured 18.5 CPU-s of
      // q189's 24 at sf0.1). n_found likewise: a truth pair is a
      // candidate iff both sides carry the SAME non-null key, i.e. two
      // id-equi-joins against the (small by construction) truth set.
      // Counts are identical to the enumerated form by definition.
      val nCand = keyed.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L))
          .as("n_cand"))
      val nFound = tp
        .join(keyed.select(col("id").as("id_a"), col("k").as("ka")),
          Seq("id_a"))
        .join(keyed.select(col("id").as("id_b"), col("k").as("kb")),
          Seq("id_b"))
        .filter(col("ka") === col("kb"))
        .agg(count(lit(1)).as("n_found"))
      nRec.crossJoin(nTruth).crossJoin(nCand).crossJoin(nFound)
        .select(lit(name).as("scheme"), col("n_records"),
          expr("(n_records * (n_records - 1)) div 2").as("n_all_pairs"),
          col("n_cand"), col("n_truth"), col("n_found"))
        .withColumn("reduction_ratio_micros",
          when(col("n_all_pairs") > 0,
            lit(1000000L) - expr("(1000000L * n_cand) div n_all_pairs")))
        .withColumn("pairs_completeness_micros",
          when(col("n_truth") > 0,
            expr("(1000000L * n_found) div n_truth")))
        .withColumn("pair_quality_micros",
          when(col("n_cand") > 0,
            expr("(1000000L * n_found) div n_cand")))
    }.reduce(_ unionByName _)
  }

  /** FELLEGI–SUNTER FIELD WEIGHTS (Fellegi & Sunter 1969) — the
    * probabilistic-record-linkage evidence table every modern ER
    * scorer (Splink, dedupe.io) is built on: per comparison field f,
    * m = P(agree | true match) estimated over the verified truth-pair
    * relation (the q189 edit-distance truth), u = P(agree | random
    * pair) computed EXACTLY from the value marginals — Σ c_v(c_v−1)
    * agreeing ordered pairs over n(n−1) (the q285 chance idiom; no
    * sampled "random pairs" stage, no all-pairs join), and the
    * log-likelihood evidence weights w_agree = log2(m/u),
    * w_disagree = log2((1−m)/(1−u)). A field that agrees among
    * matches but rarely by chance (name) earns a large positive
    * w_agree; a field that agrees everywhere (a constant) earns ~0 —
    * the principled replacement for hand-tuned per-field match
    * scores, and the scoring complement to [[blockingQuality]]'s
    * candidate-generation eval.
    *
    * Determinism: m and u are non-negative integer-micros floors off
    * exact counts; the weights are ONE mirrored double division
    * inside log2 each, round-4, NULL when the log operand degenerates
    * (m = 0, u = 0, m = 1, u = 1) — never ±Inf. Rows with a NULL
    * field value leave that field's relation (both the marginals and
    * the truth pairs — a null can neither agree nor disagree).
    *
    * Scale shape: ONE corpus scan melts the fields (explode over a
    * |fields|-literal array), one combinable marginal agg per
    * (field, value), and the truth relation (bounded by the gated
    * blocking classes that produce it) joins field values by id
    * twice — nothing is quadratic in the corpus; u comes from counts,
    * not pairs. Output: one row per field. */
  def fellegiSunterWeights(records: DataFrame, idCol: String,
                           fields: Seq[(String, Column)],
                           truth: DataFrame): DataFrame = {
    require(fields.nonEmpty, "need at least one comparison field")
    val melted = records
      .select(col(idCol).as("id"),
        explode(array(fields.map { case (nm, c) =>
          struct(lit(nm).as("field"), c.cast("string").as("v"))
        }: _*)).as("fv"))
      .select(col("id"), col("fv.field").as("field"), col("fv.v").as("v"))
      .filter(col("v").isNotNull)
      .localCheckpoint(eager = false)
    val tp = truth
      .select(col(truth.columns(0)).as("id_a"),
        col(truth.columns(1)).as("id_b"))
      .distinct()
      .join(melted.select(col("id").as("id_a"), col("field"),
        col("v").as("va")), Seq("id_a"))
      .join(melted.select(col("id").as("id_b"), col("field"),
        col("v").as("vb")), Seq("id_b", "field"))
      .groupBy(col("field"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("va") === col("vb")).cast("long")).as("n_agree"))
    val marg = melted.groupBy(col("field"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("field"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("decimal(38,0)") * (col("c") - 1)).as("sp"))
    tp.join(marg, Seq("field"))
      .select(col("field"), col("n").as("n_recs"),
        col("n_pairs").as("n_truth_pairs"),
        when(col("n_pairs") > 0,
          expr("(1000000L * n_agree) div n_pairs")).as("m_micros"),
        expr("try_cast((1000000L * sp) div (cast(n as decimal(38,0))" +
          " * (n - 1)) as bigint)").as("u_micros"))
      .withColumn("w_agree",
        round(when(col("m_micros") > 0 && col("u_micros") > 0,
          log2(col("m_micros").cast("double") /
            col("u_micros").cast("double"))), 4))
      .withColumn("w_disagree",
        round(when(col("m_micros") < 1000000L &&
          col("u_micros") < 1000000L,
          log2((lit(1000000L) - col("m_micros")).cast("double") /
            (lit(1000000L) - col("u_micros")).cast("double"))), 4))
  }

  /** FELLEGI–SUNTER EM (Winkler 1988's EM fit of the Fellegi & Sunter
    * 1969 model) — the UNSUPERVISED capstone of the record-linkage
    * family: where [[fellegiSunterWeights]] (q289) needs a gated truth
    * relation to estimate m, the EM fit needs only the BLOCKED
    * candidate pairs and their field-agreement patterns. Each pattern
    * γ ∈ {0,1}^k gets a match posterior
    * {{{ w(γ) = π·Π m_i^γᵢ(1−m_i)^(1−γᵢ) /
    *            (π·Π m_i^… + (1−π)·Π u_i^…) }}}
    * and the M-step re-estimates (π, m, u) from the w-weighted pattern
    * counts. `candidates` must be EXACTLY two columns, read
    * positionally as (id_a, id_b) — enforced; pair order is harmless
    * (agreement is symmetric) but extra columns are rejected rather
    * than silently joined on the wrong pair. `iters` fixed unrolled
    * rounds (no convergence test — the
    * determinism contract), parameters clamped to [1e-6, 0.999999] so
    * no pattern ever reaches probability 0 or 1 (the standard
    * degenerate-EM guard). Agreement is non-null equality
    * (`coalesce(a = b, false)` — a NULL field can't agree). Output:
    * one row per observed pattern with its pair count and final match
    * posterior — the thresholding artifact an ER pipeline consumes.
    *
    * Determinism: the ONLY corpus-scale relation is the candidate
    * join; everything after is a ≤ 2^k-row pattern table. Posteriors
    * convert to EXACT integer micros before every M-step sum
    * (round(w·10⁶) — the q279 round-then-sum idiom), so the M-step
    * moments are exact longs immune to float order; each new
    * parameter is ONE mirrored double expression off those longs, and
    * the E-step product is an explicit left-associated chain. Micros
    * headroom: Σ n·w ≤ 10⁶·|candidates| — fine to ~9e12 pairs.
    *
    * Scale shape: one candidates⨝records⨝records field join (bounded
    * by the caller's blocking class — never all-pairs), ONE combinable
    * pattern count, then O(2^k) work per iteration regardless of
    * corpus size. */
  def fellegiSunterEm(records: DataFrame, idCol: String,
                      fields: Seq[(String, Column)],
                      candidates: DataFrame, iters: Int = 3,
                      piInit: Double = 0.1, mInit: Double = 0.9,
                      uInit: Double = 0.1): DataFrame = {
    require(fields.nonEmpty && iters >= 1, "need fields and iters >= 1")
    // `candidates` contract: EXACTLY two columns, positionally
    // (id_a, id_b) — enforced, because a frame with extra leading
    // columns would silently join on the wrong pair. Pair ORDER only
    // affects which side is called a/b (agreement is symmetric), so
    // (id_b, id_a) order is harmless; extra columns are not.
    require(candidates.columns.length == 2,
      s"candidates must have exactly the two pair-id columns " +
        s"(id_a, id_b); got ${candidates.columns.mkString(", ")}")
    val k = fields.size
    val proj = records.select(col(idCol).as("id") +:
      fields.zipWithIndex.map { case ((_, c), i) =>
        c.cast("string").as(s"f_$i") }: _*)
      .localCheckpoint(eager = false)
    val ca = candidates.select(col(candidates.columns(0)).as("id_a"),
      col(candidates.columns(1)).as("id_b"))
    val pat = ca
      .join(proj.select(col("id").as("id_a") +:
        (0 until k).map(i => col(s"f_$i").as(s"a_$i")): _*), Seq("id_a"))
      .join(proj.select(col("id").as("id_b") +:
        (0 until k).map(i => col(s"f_$i").as(s"b_$i")): _*), Seq("id_b"))
      .select((0 until k).map(i =>
        coalesce(col(s"a_$i") === col(s"b_$i"), lit(false))
          .as(s"g_$i")): _*)
      .groupBy((0 until k).map(i => col(s"g_$i")): _*)
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    fellegiSunterEmFromPatterns(pat, fields.map(_._1), iters, piInit,
      mInit, uInit)
  }

  /** The O(2^k) EM TAIL of [[fellegiSunterEm]], factored over the
    * PATTERN-COUNT relation `pat` = one row per observed agreement
    * pattern `(g_0 … g_{k-1}, n)` (counts are long sums, so pattern
    * partials merge exactly under any split). Arithmetic contract:
    * exact-micros posteriors before every M-step sum, clamps,
    * fixed unrolled `iters`. Corpus size never appears — the tail is
    * O(2^k) per iteration regardless of how many pairs fed `pat`. */
  private[graft] def fellegiSunterEmFromPatterns(pat: DataFrame,
      fieldNames: Seq[String], iters: Int, piInit: Double,
      mInit: Double, uInit: Double): DataFrame = {
    val k = fieldNames.size
    def wCol: Column = {
      val pm = (0 until k).map(i => when(col(s"g_$i"), col(s"m_$i"))
        .otherwise(lit(1.0) - col(s"m_$i"))).reduceLeft(_ * _)
      val pu = (0 until k).map(i => when(col(s"g_$i"), col(s"u_$i"))
        .otherwise(lit(1.0) - col(s"u_$i"))).reduceLeft(_ * _)
      (col("pi") * pm) /
        (col("pi") * pm + (lit(1.0) - col("pi")) * pu)
    }
    def clamp(c: Column): Column =
      least(greatest(c, lit(1e-6)), lit(0.999999))
    var params = pat.sparkSession.range(1).select(lit(piInit).as("pi") +:
      (0 until k).flatMap(i => Seq(lit(mInit).as(s"m_$i"),
        lit(uInit).as(s"u_$i"))): _*)
    for (_ <- 1 to iters) {
      val e = pat.join(broadcast(params), lit(true))
        .withColumn("w", round(wCol * lit(1000000.0)).cast("long"))
      val aggCols =
        Seq(sum(col("n") * col("w")).as("sw"),
          sum(col("n") * (lit(1000000L) - col("w"))).as("su"),
          sum(col("n")).as("nn")) ++
        (0 until k).flatMap(i => Seq(
          sum(when(col(s"g_$i"), col("n") * col("w"))
            .otherwise(lit(0L))).as(s"swa_$i"),
          sum(when(col(s"g_$i"), col("n") * (lit(1000000L) - col("w")))
            .otherwise(lit(0L))).as(s"sua_$i")))
      params = e.agg(aggCols.head, aggCols.tail: _*).select(
        clamp(col("sw").cast("double") /
          (lit(1000000.0) * col("nn").cast("double"))).as("pi") +:
        (0 until k).flatMap(i => Seq(
          clamp(when(col("sw") > 0, col(s"swa_$i").cast("double") /
            col("sw").cast("double")).otherwise(lit(0.0))).as(s"m_$i"),
          clamp(when(col("su") > 0, col(s"sua_$i").cast("double") /
            col("su").cast("double")).otherwise(lit(0.0))).as(s"u_$i"))): _*)
    }
    pat.join(broadcast(params), lit(true))
      .select((0 until k).map(i =>
        col(s"g_$i").as(s"agree_${fieldNames(i)}")) ++
        Seq(col("n").as("n_pairs"),
          (round(wCol, 6) + lit(0.0)).as("match_prob")): _*)
  }

  /** ENTITY RESOLUTION clustering — the record-linkage composition:
    * segmented edit-distance blocking ([[editDistancePairsSegmented]],
    * complete for ≤ `maxDist` by pigeonhole) supplies the match pairs,
    * [[components]] closes them transitively, and every record maps to
    * its entity (= the min record id of its match-connected cluster;
    * unmatched records stay their own singleton entity). Output:
    * (`id`, `entity_id`) — survivorship (which attribute values the
    * merged golden record keeps) is the caller's policy, applied as
    * ordinary aggregates over this mapping (see q133 for the
    * longest-name / min-price example).
    *
    * Transitive closure is the standard ER clustering choice: pairwise
    * `dist ≤ maxDist` is not transitive, so clusters can chain records
    * at pairwise distance > maxDist — intended (the alternative, leaving
    * A≈B≈C unresolved, splits one entity into two), and bounded in
    * practice by the blocking radius.
    *
    * Scale shape: inherits the two pieces' — candidate mass is gated by
    * the segment index (never all-pairs), and the component loop touches
    * only pair-touched records. */
  def resolveEntities(df: DataFrame, idCol: String, strCol: String,
                      maxDist: Int, maxIters: Int = 20): DataFrame = {
    val pairs = editDistancePairsSegmented(df, idCol, strCol, maxDist)
      .select(col("id_a"), col("id_b"))
    components(df.select(col(idCol).as("id")), pairs, maxIters)
      .select(col("id").as(idCol), col("label").as("entity_id"))
  }

  /** CORPUS-PAIR OVERLAP card — for every pair of sources sharing at
    * least one content fingerprint: distinct-fingerprint set sizes,
    * intersection, and exact Jaccard in integer micros. The
    * corpus-card metric that answers "which of my mixture components
    * are secretly the same crawl" before mixture weights are tuned on
    * double-counted mass.
    *
    * Scale shape: the corpus collapses to DISTINCT (source, fp) rows
    * first (one combinable agg); the intersection self-join keys on
    * the fingerprint, whose posting length is bounded by SOURCE
    * CARDINALITY (a fingerprint appears once per source after the
    * distinct), so candidate volume is ≤ C(|sources|, 2) per
    * fingerprint — never row-quadratic. Sizes broadcast back onto the
    * (tiny) pair relation. All integers. */
  def sourceOverlap(df: DataFrame, sourceCol: String,
                    fp: Column): DataFrame = {
    val sf = df.select(col(sourceCol).as("s"), fp.as("f")).distinct()
      .localCheckpoint(eager = false)
    val sizes = sf.groupBy(col("s")).agg(count(lit(1)).as("n"))
    val inter = sf.join(sf.select(col("s").as("s2"), col("f")), Seq("f"))
      .filter(col("s") < col("s2"))
      .groupBy(col("s"), col("s2")).agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("s"), col("n").as("n_a"))),
        Seq("s"))
      .join(broadcast(sizes.select(col("s").as("s2"),
        col("n").as("n_b"))), Seq("s2"))
      .select(col("s").as("source_a"), col("s2").as("source_b"),
        col("n_a"), col("n_b"), col("n_common"),
        expr("n_common * 1000000L div (n_a + n_b - n_common)")
          .as("jaccard_micros"))
  }

  /** Pluggable SURVIVORSHIP for entity resolution — the MDM
    * "golden record" rules (most-complete / most-recent /
    * source-priority are the standard trio). Every strategy compiles
    * to ONE max_by ordering struct ending on (−id), so survivor
    * picking is always a single combinable aggregation (map-side
    * combine keeps one candidate per entity per partition) — never a
    * per-entity sort, whatever the rule. */
  object Survivorship {
    sealed trait Strategy {
      /** The max_by key; strategies end on (−id) so ties resolve to
        * the smallest id — a total order, required for determinism. */
      private[graft] def key(idCol: String): Column
    }
    /** Longest `strCol` wins (the most-complete record). */
    final case class MostComplete(strCol: String) extends Strategy {
      private[graft] def key(idCol: String): Column =
        struct(length(col(strCol)).as("k1"), (-col(idCol)).as("k2"))
    }
    /** Largest `recencyCol` wins (the most-recent record); any
      * totally-ordered version/timestamp column qualifies. */
    final case class MostRecent(recencyCol: String) extends Strategy {
      private[graft] def key(idCol: String): Column =
        struct(col(recencyCol).as("k1"), (-col(idCol)).as("k2"))
    }
    /** Earliest source in `priority` wins; records from unlisted
      * sources lose to every listed one. */
    final case class SourcePriority(srcCol: String,
                                    priority: Seq[String])
        extends Strategy {
      private[graft] def key(idCol: String): Column = {
        val rank = priority.zipWithIndex
          .foldLeft(lit(-(priority.length + 1).toLong)) {
            case (acc, (s, i)) =>
              when(col(srcCol) === s, lit(-(i + 1).toLong))
                .otherwise(acc)
          }
        struct(rank.as("k1"), (-col(idCol)).as("k2"))
      }
    }
  }

  /** One surviving "golden" row per entity under `strategy`: all of
    * `records`' columns ride the max_by struct, so the survivor comes
    * back whole. `records` must already carry `entityCol` (join
    * [[resolveEntities]]' mapping back to the records once, then call
    * this per strategy — the resolution is the expensive part, the
    * survivor pick is one cheap combinable agg). */
  def survivors(records: DataFrame, entityCol: String, idCol: String,
                strategy: Survivorship.Strategy): DataFrame =
    Windows.topOneByAgg(records, Seq(col(entityCol)),
      strategy.key(idCol))

  // ------------------------------------------------------------ simhash

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 31).
    * Banding uses `maxHamming + 1` chunks of the 64-bit hash (pigeonhole:
    * ≤ maxHamming differing bits cannot touch all maxHamming+1 chunks, so
    * at least one chunk is equal and the bucket join is COMPLETE for the
    * requested distance); candidate pairs are then exactly filtered by
    * bit_count. More chunks ⇒ shorter chunks ⇒ more candidates — the
    * usual recall/cost dial, here always set for full recall. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, featureShingle: Int = 1): DataFrame = {
    val toks = split(col(textCol), " ")
    val features =
      if (featureShingle <= 1) toks else shingles(toks, featureShingle)
    bandedHammingPairs(
      df.select(col(idCol).as("doc_id"), simhash64(features).as("sh")),
      maxHamming)
  }

  /** Pigeonhole-banded hamming pairs over ANY 64-bit signature relation
    * `sigs(doc_id, sh)` — the candidate engine behind [[simHashPairs]]
    * (banding is a property of the 64-bit code, not of how it was
    * computed). Complete for the requested radius: ≤ maxHamming
    * differing bits cannot touch all maxHamming+1 chunks. */
  private def bandedHammingPairs(sigs: DataFrame,
                                 maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming must be in [0, 31]")
    val nChunks = maxHamming + 1
    val baseWidth = 64 / nChunks
    // chunk c covers bits [c*baseWidth, ...); the last chunk takes the
    // remainder so all 64 bits are covered
    def chunkExpr(c: Int) = {
      val width = if (c == nChunks - 1) 64 - baseWidth * c else baseWidth
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(c).as("chunk"),
        shiftright(col("sh"), c * baseWidth).bitwiseAND(lit(mask)).as("key"))
    }
    val chunked = sigs.select(col("doc_id"), col("sh"),
        explode(array((0 until nChunks).map(chunkExpr): _*)).as("b"))
      .select(col("doc_id"), col("sh"),
        col("b.chunk").as("chunk"), col("b.key").as("key"))
    val a = chunked.select(col("chunk"), col("key"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("key"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------------- span dedup

  /** Duplicate-SPAN removal (the C4 move, reshaped for word-stream docs):
    * split every document into non-overlapping `spanWords`-word spans,
    * keep only the globally FIRST occurrence of each distinct span text
    * (first = smallest (doc_id, span_idx)), and reassemble each document
    * from its surviving spans. Unlike document-level dedup this removes
    * boilerplate that recurs INSIDE otherwise-distinct documents —
    * the dedup direction C4 found necessary beyond whole-doc dedup.
    *
    * Scale shape: the winner per span is ONE hash aggregation —
    * `groupBy(span_hash).agg(min(struct(doc_id, span_idx, span)))` —
    * which map-side combines (each partition keeps one candidate row per
    * key before the exchange), so the shuffle carries at most one row per
    * distinct span per partition, keyed by an 8-byte xxhash64 rather than
    * the span text. No join back: the winning struct IS the kept
    * occurrence, span text riding along. Reassembly is a second hash
    * aggregation keyed by doc_id. Two shuffles total, both combinable —
    * the floor for a global-first-occurrence contract. The 64-bit span
    * identity carries the usual collision caveat (a collision would
    * silently merge two distinct spans; partition the corpus before
    * birthday mass matters — same precedent as [[containmentPairsSketch]]).
    *
    * Output: one row per input doc — doc_id, n_spans (total), n_kept,
    * clean_text ('' when every span was a duplicate). The last span of a
    * doc may be shorter than `spanWords`; it participates like any other
    * (a short tail equal to another doc's short tail IS a duplicate). */
  /** CONTENT-DEFINED CHUNKING duplicate report — the storage-dedup
    * move (Muthitacharoen et al. 2001 LBFS; FastCDC's ancestor)
    * applied at word granularity: a chunk boundary falls AFTER any
    * position whose trailing `gramSize`-word window hashes to
    * 0 mod `boundaryMod`, so boundaries depend ONLY on local content —
    * two documents sharing a long passage cut it into IDENTICAL chunks
    * regardless of where the passage sits in each doc (the alignment
    * problem fixed-tile spans (q77) solve only probabilistically and
    * sliding spans (q156) solve at stride cost). Expected chunk length
    * = `boundaryMod` words. Output: one row per chunk fingerprint
    * occurring ≥ `minOccurrences` times — (fp, n_words, n_occ,
    * n_docs), the duplicated-passage inventory.
    *
    * Determinism: the boundary hash is the md5-prefix integer (the
    * sampling layer's draw idiom) of the space-joined gram; chunk
    * membership is a prefix count of boundary flags; the chunk string
    * re-assembles under the (pos) total order. All integers + md5 —
    * both faces replay bit-for-bit.
    *
    * Scale shape: ONE per-doc window pass (the word table shuffles
    * once on doc_id; lag-gram, boundary flag and the running chunk id
    * all ride it), one (doc, chunk) reassembly agg, one combinable
    * fingerprint count — no self-join anywhere; candidate volume is
    * corpus word count, linear. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                gramSize: Int = 4, boundaryMod: Long = 16L,
                minOccurrences: Long = 2L): DataFrame = {
    require(gramSize >= 1 && boundaryMod >= 2L && minOccurrences >= 1L,
      "need gramSize >= 1, boundaryMod >= 2, minOccurrences >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val wPrev = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val words = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
    val chunks = words
      .withColumn("gram", concat_ws(" ",
        (gramSize - 1 to 0 by -1).map(k => lag(col("word"), k).over(w)): _*))
      .withColumn("boundary",
        col("pos") >= gramSize - 1 &&
          conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long")
            % boundaryMod === 0L)
      .withColumn("chunk_id",
        coalesce(sum(col("boundary").cast("long")).over(wPrev), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_words"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("chunk_text"))
    chunks.groupBy(md5(col("chunk_text")).as("fp"))
      .agg(max(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occ") >= minOccurrences)
  }

  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                spanWords: Int = 10): DataFrame = {
    require(spanWords > 0, "spanWords must be > 0")
    val spans = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
      .select(col("doc_id"), col("t"), posexplode(
        sequence(lit(0), greatest(size(col("t")) - 1, lit(0)),
          lit(spanWords))))
      .select(col("doc_id"), col("pos").cast("long").as("span_idx"),
        array_join(slice(col("t"), col("col") + 1, lit(spanWords)), " ")
          .as("span"))
    val kept = spans
      .groupBy(xxhash64(col("span")).as("h"))
      .agg(min(struct(col("doc_id"), col("span_idx"), col("span")))
        .as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.span_idx").as("span_idx"),
        col("w.span").as("span"))
    val totals = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("span_idx"), col("span")))),
          s => s.getField("span")), " ").as("clean_text"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** SLIDING-window exact-substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * direction, stride-windowed): [[spanDedup]] tiles documents into
    * NON-overlapping spans, so a passage duplicated at different word
    * offsets in two documents straddles span boundaries and every
    * tile differs — both it and winnowing's fingerprint sampling can
    * miss it. Here windows of `spanWords` words start every `stride`
    * words (stride < spanWords ⇒ overlapping); a window survives iff
    * it is the globally FIRST occurrence of its text (smallest
    * (doc_id, start)), and a WORD survives iff ANY window covering it
    * survives. In the first-occurrence document every window wins, so
    * it is untouched; in a later copy, windows fully inside the
    * duplicated passage lose, and only the ≤ spanWords-word fringes
    * survive via their straddling windows (exactly the boundary
    * imprecision Lee et al. accept). Offset sensitivity: a window in
    * the copy matches one in the original iff both land on the stride
    * grid at the same intra-passage offset, i.e. the two passage
    * offsets agree mod `stride` — stride 1 is fully offset-invariant
    * (the suffix-array exactness), larger strides trade that recall
    * for window volume. Either way this catches what [[spanDedup]]'s
    * fixed tiling structurally cannot: tiling only matches passages
    * whose offsets agree mod `spanWords` AND whose duplicated region
    * covers whole tiles.
    *
    * Scale shape: same two combinable hash aggregations as
    * [[spanDedup]] — winner-per-window is ONE
    * groupBy(xxhash64(window)) with a min(struct) that map-side
    * combines, keyed by 8-byte hashes (window text stays OUT of the
    * winner shuffle: only (doc_id, start) rides the struct);
    * reassembly is doc-local — the kept starts collect per doc
    * (≤ len/stride longs) and the word filter is a per-row
    * higher-order function over the doc's own word array, no
    * word-level shuffle. Window volume is len/stride rows per doc
    * (spanWords/stride × the tiled volume — the overlap factor is the
    * price of offset invariance). Same 64-bit collision caveat as
    * [[spanDedup]].
    *
    * Output: doc_id, n_windows, n_kept (surviving windows),
    * clean_text (surviving words, original order, '' if none). */
  def slidingSpanDedup(df: DataFrame, idCol: String, textCol: String,
                       spanWords: Int = 10, stride: Int = 5): DataFrame = {
    require(spanWords > 0, "spanWords must be > 0")
    require(stride > 0 && stride <= spanWords,
      "need 0 < stride <= spanWords")
    val docs = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
    val windows = docs
      .select(col("doc_id"), col("t"), posexplode(
        sequence(lit(0), greatest(size(col("t")) - 1, lit(0)),
          lit(stride))))
      .select(col("doc_id"), col("col").cast("long").as("start"),
        array_join(slice(col("t"), col("col") + 1, lit(spanWords)), " ")
          .as("w"))
    val kept = windows
      .groupBy(xxhash64(col("w")).as("h"))
      .agg(min(struct(col("doc_id"), col("start"))).as("win"))
      .select(col("win.doc_id").as("doc_id"), col("win.start").as("start"))
    val keptPerDoc = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(col("start"))).as("starts"))
    val totals = windows.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"))
    docs.join(totals, Seq("doc_id"))
      .join(keptPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(array_join(filter(col("t"), (_, i) =>
          exists(col("starts"), st =>
            st <= i.cast("long") &&
              i.cast("long") < st + spanWords)), " "), lit(""))
          .as("clean_text"))
  }
}
