package graft

/** Generators for DuckDB oracle SQL that REPLICATES engine-native
  * algorithms, so LSH/IVF queries get full hash-verified CORRECTNESS rows
  * instead of rows-only checks.
  *
  * The trick: everything the LSH paths randomize is seeded and known at
  * build time — the random hyperplanes are constants, the IVF coarse
  * quantizer is "first N vectors by id". Embedding those constants as SQL
  * literals lets DuckDB run the *same* algorithm:
  *  - hyperplane dot products are emitted as explicit left-associated
  *    `v[1]*p1 + v[2]*p2 + …` sums, which is bit-for-bit the fold order of
  *    Spark's `aggregate(zip_with(...))` in `Similarity.lshSignature`
  *    (double addition is left-assoc in both engines, `0.0 + x == x`);
  *  - bucket keys are plain bit ops on the signature (non-negative, ≤ 2^16,
  *    so BIGINT semantics agree);
  *  - cosine parity between the native `CosineSim` expression and DuckDB's
  *    `list_dot_product` at round-4/6 is the same contract q26 already
  *    hash-passes on.
  *
  * MinHash/SimHash signatures hash with xxhash64, which DuckDB lacks — for
  * those the checked queries use LSH-then-exact-verify (`minHashNearDups` /
  * `simHashNearDups`) and the oracle recomputes the exact n-gram Jaccard
  * relation directly ([[jaccardSql]]); the OpsSpec recall tests pin that
  * candidates cover every true pair on the testdata corpora.
  */
object OracleGen {

  /** Exact n-gram Jaccard pairs ≥ threshold over `documents` — the oracle
    * for the LSH-then-verify dedup queries. Shingling matches
    * `Dedup.shingles`: word n-grams, whole doc when shorter than n. */
  /** Shared CTE block: word n-gram shingling + per-doc set sizes +
    * pairwise intersection counts — the base relation of every
    * Jaccard-family oracle. ONE definition so the pair relation can never
    * desynchronize between the pair oracle (q25/q28/q29) and the
    * clustering oracle (q45). */
  private def gramCtes(n: Int,
                       maxShingleFreq: Option[Int] = None): String = {
    require(n >= 2, "token n-grams with n >= 2 (unigrams are handled by len(t) < n branch only)")
    // With the hot-shingle guard, sizes and inter both range over the SAME
    // retained gram universe (grams minus hot) — mirroring the Spark side,
    // where dropping a hot gram shrinks denominators too.
    val (guardCte, src) = maxShingleFreq match {
      case Some(maxF) => (
        s""",
       hot AS (SELECT g FROM grams GROUP BY g HAVING count(*) > $maxF),
       kept AS (SELECT doc_id, g FROM grams
         WHERE g NOT IN (SELECT g FROM hot))""",
        "kept")
      case None => ("", "grams")
    }
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       grams AS (SELECT DISTINCT doc_id,
           CASE WHEN len(t) < $n THEN array_to_string(t, ' ')
                ELSE array_to_string(t[i:i+${n - 1}], ' ') END AS g
         FROM toks, UNNEST(range(1, greatest(len(t) - ${n - 2}, 2))) AS u(i))$guardCte,
       sizes AS (SELECT doc_id, count(*) AS n FROM $src GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM $src a JOIN $src b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2)"""
  }

  def jaccardSql(n: Int, threshold: Double): String =
    s"""WITH ${gramCtes(n)}
       SELECT doc_a, doc_b,
         round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
       FROM inter
       JOIN sizes sa ON doc_a = sa.doc_id
       JOIN sizes sb ON doc_b = sb.doc_id
       WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= $threshold"""

  /** Near-dup dedup oracle: exact n-gram Jaccard pairs (same relation as
    * [[jaccardSql]]) → undirected edges → recursive-CTE transitive
    * closure → per-doc cluster = min reachable id, keep = is-canonical.
    * Verifies `Dedup.components` over the MinHash-LSH near-dup pairs (q29
    * pins pairs ≡ the exact relation; this pins the clustering). */
  /** Shared closure CTEs (thresholded pairs → undirected edges →
    * recursive reachability) — the relation behind every clustering
    * oracle, defined once so q45/q71/q72 can never desynchronize. */
  private def closureCtes(n: Int, threshold: Double): String =
    s"""${gramCtes(n)},
       pairs AS (SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= $threshold),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach AS (
         SELECT doc_id AS id, doc_id AS r FROM documents
         UNION
         SELECT e.dst AS id, reach.r AS r
         FROM reach JOIN edges e ON e.src = reach.id
       )"""

  def componentsSql(n: Int, threshold: Double): String = {
    s"""WITH RECURSIVE
       ${closureCtes(n, threshold)}
       SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
       FROM reach GROUP BY id"""
  }

  /** Near-dup cluster-size histogram oracle (mirrors the q71 composition:
    * components → per-cluster size → size histogram; singletons counted). */
  def clusterStatsSql(n: Int, threshold: Double): String =
    s"""WITH RECURSIVE
       ${closureCtes(n, threshold)},
       comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       szs AS (SELECT cluster_id, count(*) AS cluster_size
         FROM comp GROUP BY 1)
       SELECT cluster_size, count(*) AS n_clusters
       FROM szs GROUP BY 1"""

  /** Leakage-safe grouped split oracle (q93): the q45 component closure,
    * split decided by the CLUSTER id's md5 draw — members move together. */
  def groupedSplitSql(n: Int, threshold: Double, mod: Int, rem: Int): String =
    s"""WITH RECURSIVE
       ${closureCtes(n, threshold)},
       comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       SELECT id AS doc_id, cluster_id,
         CASE WHEN CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)),
                1, 8)) AS BIGINT) % $mod = $rem
              THEN 'val' ELSE 'train' END AS split
       FROM comp"""

  /** Quality-canonical dedup oracle: per near-dup cluster keep the member
    * with the most characters (doc_id ASC tie-break) — mirrors the q72
    * composition (components → join documents → top-1 window). */
  def canonicalPickSql(n: Int, threshold: Double): String =
    s"""WITH RECURSIVE
       ${closureCtes(n, threshold)},
       comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       cnt AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY 1),
       m AS (SELECT comp.id AS doc_id, comp.cluster_id, d.n_chars
         FROM comp JOIN documents d ON comp.id = d.doc_id),
       r AS (SELECT doc_id, cluster_id, n_chars,
           row_number() OVER (PARTITION BY cluster_id
             ORDER BY n_chars DESC, doc_id ASC) AS rn FROM m)
       SELECT r.cluster_id, doc_id AS canonical_id, n_chars AS canonical_chars,
         n_members
       FROM r JOIN cnt ON r.cluster_id = cnt.cluster_id WHERE rn = 1"""

  /** Incremental admission oracle: batch = docs with doc_id % mod = 0,
    * corpus = the rest. A batch doc is `dup_corpus` if some exact-Jaccard
    * pair (same relation as [[jaccardSql]]) connects it to a corpus doc,
    * else `dup_batch` if a pair connects it to a SMALLER-id batch doc,
    * else `accepted` — mirroring `Dedup.incrementalNearDups`' pairwise
    * (non-chained) semantics and its dup_corpus-first precedence. */
  def incrementalSql(n: Int, threshold: Double, mod: Int): String =
    s"""WITH ${gramCtes(n)},
       pairs AS (SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= $threshold),
       corp_rej AS (SELECT DISTINCT
           CASE WHEN doc_a % $mod = 0 THEN doc_a ELSE doc_b END AS doc_id
         FROM pairs WHERE (doc_a % $mod = 0) <> (doc_b % $mod = 0)),
       batch_rej AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
         WHERE doc_a % $mod = 0 AND doc_b % $mod = 0)
       SELECT d.doc_id,
         CASE WHEN c.doc_id IS NOT NULL THEN 'dup_corpus'
              WHEN r.doc_id IS NOT NULL THEN 'dup_batch'
              ELSE 'accepted' END AS status
       FROM documents d
       LEFT JOIN corp_rej c ON d.doc_id = c.doc_id
       LEFT JOIN batch_rej r ON d.doc_id = r.doc_id
       WHERE d.doc_id % $mod = 0"""

  /** Train/eval leakage oracle: eval = docs with doc_id % mod = rem,
    * train = the rest; is_leak iff an exact-Jaccard pair crosses the
    * split — mirroring `Dedup.leakageFlags` (eval-internal dups are NOT
    * leaks). */
  def leakageSql(n: Int, threshold: Double, mod: Int, rem: Int): String =
    s"""WITH ${gramCtes(n)},
       pairs AS (SELECT doc_a, doc_b FROM inter
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= $threshold),
       leak AS (SELECT DISTINCT
           CASE WHEN doc_a % $mod = $rem THEN doc_a ELSE doc_b END AS doc_id
         FROM pairs WHERE (doc_a % $mod = $rem) <> (doc_b % $mod = $rem))
       SELECT d.doc_id, (l.doc_id IS NOT NULL) AS is_leak
       FROM documents d LEFT JOIN leak l ON d.doc_id = l.doc_id
       WHERE d.doc_id % $mod = $rem"""

  /** Directed containment oracle (|A∩B|/|A| and /|B| over the same gram
    * relation) — mirrors `Dedup.containmentPairs`, thresholding on the
    * max of the ROUNDED directions exactly as the Spark side does.
    * `maxShingleFreq` replicates the hot-shingle guard: grams in more
    * than that many docs leave the universe before sizes AND inter. */
  def containmentSql(n: Int, threshold: Double,
                     maxShingleFreq: Option[Int] = None): String =
    s"""WITH ${gramCtes(n, maxShingleFreq)}
       SELECT doc_a, doc_b,
         round(i * 1.0 / sa.n, 4) AS cont_a_in_b,
         round(i * 1.0 / sb.n, 4) AS cont_b_in_a
       FROM inter
       JOIN sizes sa ON doc_a = sa.doc_id
       JOIN sizes sb ON doc_b = sb.doc_id
       WHERE greatest(round(i * 1.0 / sa.n, 4),
                      round(i * 1.0 / sb.n, 4)) >= $threshold"""

  /** TF-IDF shingle-cosine pair oracle — mirrors `Dedup.sparseCosinePairs`:
    * gram TF counts (NO distinct — multiplicity is the point), docfreq
    * guard as a HAVING on the posting length (same universe for weights
    * AND norms), weight tf·ln(N/df), cosine thresholded on the rounded
    * value. Gram construction is `gramCtes`' slice expression verbatim so
    * the gram relation can never desynchronize from the Jaccard family. */
  def cosineSql(n: Int, maxDocFreq: Int, minCos: Double): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       grams AS (SELECT doc_id,
           CASE WHEN len(t) < $n THEN array_to_string(t, ' ')
                ELSE array_to_string(t[i:i+${n - 1}], ' ') END AS g
         FROM toks, UNNEST(range(1, greatest(len(t) - ${n - 2}, 2))) AS u(i)),
       tf AS (SELECT doc_id, g, count(*) AS tf FROM grams GROUP BY 1, 2),
       dfreq AS (SELECT g, count(*) AS docfreq FROM tf
         GROUP BY 1 HAVING count(*) <= $maxDocFreq),
       n AS (SELECT count(*) AS n_docs FROM documents),
       w AS (SELECT tf.doc_id, tf.g,
           tf.tf * ln(CAST(n_docs AS DOUBLE) / docfreq) AS w
         FROM tf JOIN dfreq USING (g), n),
       norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
       dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sum(a.w * b.w) AS dot
         FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 4) + 0.0 AS cos
       FROM dots
       JOIN norms na ON doc_a = na.doc_id
       JOIN norms nb ON doc_b = nb.doc_id
       WHERE round(dot / (na.nrm * nb.nrm), 4) >= $minCos"""

  /** Incremental weighted-admission oracle — mirrors
    * `Dedup.cosineIndex` + `cosineAdmitFromIndex`: corpus = docs with
    * doc_id % mod ≠ 0, batch = the rest; corpus IDF (docfreq-guarded) is
    * FROZEN and batch grams are weighted with it (unseen grams drop);
    * a batch doc is a dup iff its cosine against some corpus doc reaches
    * `minCos` on the rounded value. */
  def cosineAdmitSql(n: Int, maxDocFreq: Int, minCos: Double,
                     mod: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       grams AS (SELECT doc_id,
           CASE WHEN len(t) < $n THEN array_to_string(t, ' ')
                ELSE array_to_string(t[i:i+${n - 1}], ' ') END AS g
         FROM toks, UNNEST(range(1, greatest(len(t) - ${n - 2}, 2))) AS u(i)),
       ctf AS (SELECT doc_id, g, count(*) AS tf FROM grams
         WHERE doc_id % $mod <> 0 GROUP BY 1, 2),
       nc AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id % $mod <> 0),
       idf AS (SELECT g, ln(CAST(n_docs AS DOUBLE) / count(*)) AS idf
         FROM ctf, nc GROUP BY g, n_docs HAVING count(*) <= $maxDocFreq),
       cw AS (SELECT doc_id, ctf.g, tf * idf AS w
         FROM ctf JOIN idf USING (g)),
       cn AS (SELECT doc_id, sqrt(sum(w * w)) AS na FROM cw GROUP BY 1),
       btf AS (SELECT doc_id, g, count(*) AS tf FROM grams
         WHERE doc_id % $mod = 0 GROUP BY 1, 2),
       bw AS (SELECT doc_id, btf.g, tf * idf AS wb
         FROM btf JOIN idf USING (g)),
       bn AS (SELECT doc_id, sqrt(sum(wb * wb)) AS nb FROM bw GROUP BY 1),
       dots AS (SELECT bw.doc_id AS batch_id, cw.doc_id AS corpus_id,
           sum(wb * w) AS dot
         FROM bw JOIN cw ON bw.g = cw.g GROUP BY 1, 2),
       dups AS (SELECT DISTINCT batch_id FROM dots
         JOIN cn ON corpus_id = cn.doc_id
         JOIN bn ON batch_id = bn.doc_id
         WHERE round(dot / (na * nb), 4) >= $minCos)
       SELECT d.doc_id, (dups.batch_id IS NOT NULL) AS is_dup
       FROM documents d LEFT JOIN dups ON d.doc_id = dups.batch_id
       WHERE d.doc_id % $mod = 0"""

  /** Exact n-gram contamination oracle: eval = docs with
    * doc_id % mod = rem, train = the rest; per eval doc, distinct n-gram
    * total, n-grams shared with ANY train doc, distinct train docs sharing
    * ≥1 n-gram — mirroring `Dedup.ngramContamination` (the md5 gram key on
    * the Spark side is injective over the same gram relation). */
  def contaminationSql(n: Int, mod: Int, rem: Int): String =
    s"""WITH ${gramCtes(n)},
       ev AS (SELECT doc_id, g FROM grams WHERE doc_id % $mod = $rem),
       tr AS (SELECT doc_id, g FROM grams WHERE doc_id % $mod <> $rem),
       hits AS (SELECT ev.doc_id,
           count(DISTINCT ev.g) AS n_hit_ngrams,
           count(DISTINCT tr.doc_id) AS n_train_docs
         FROM ev JOIN tr ON ev.g = tr.g GROUP BY 1),
       tot AS (SELECT doc_id, count(*) AS n_ngrams FROM ev GROUP BY 1)
       SELECT t.doc_id, t.n_ngrams,
         coalesce(h.n_hit_ngrams, 0) AS n_hit_ngrams,
         coalesce(h.n_train_docs, 0) AS n_train_docs,
         coalesce(h.n_hit_ngrams, 0) > 0 AS is_contaminated
       FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id"""

  /** BM25 top-k oracle. The score expression interpolates the SAME Scala
    * doubles the Spark side uses (`k1`, `1-b`, `k1+1`), term for term and
    * with the same associativity, so both engines evaluate an identical
    * double expression tree before the shared round(_, 4). */
  def bm25Sql(terms: Seq[String], k: Int,
              k1: Double = 1.2, b: Double = 0.75): String = {
    val inList = terms.map(t => s"'$t'").mkString(",")
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           avg(len(t)) AS avgdl FROM docs),
       tf AS (SELECT doc_id, u.term, CAST(count(*) AS DOUBLE) AS tf,
           CAST(max(len(t)) AS DOUBLE) AS dl
         FROM docs, UNNEST(t) AS u(term)
         WHERE u.term IN ($inList) GROUP BY doc_id, u.term),
       dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       s AS (SELECT term, doc_id,
           round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ${k1 + 1}
             / (tf + $k1 * (${1 - b} + $b * dl / avgdl)), 4) AS score
         FROM tf JOIN dfreq USING (term), stats)
       SELECT term, doc_id, score FROM
         (SELECT *, row_number() OVER (PARTITION BY term
            ORDER BY score DESC, doc_id ASC) AS rn FROM s)
       WHERE rn <= $k"""
  }

  /** `v[1]*p1 + v[2]*p2 + …` — left-associated, matching the
    * `aggregate(zip_with(...))` fold in `Similarity.lshSignature`. */
  private def planeDot(vec: String, plane: Array[Double]): String =
    plane.zipWithIndex
      .map { case (p, j) => s"$vec[${j + 1}] * ($p)" }
      .mkString(" + ")

  /** Oracle for `Similarity.jlProjected` (q146): one SELECT per output
    * dimension over the shared embeddings CTE, each emitting the SAME
    * left-associated plane-dot chain the Spark HOF fold evaluates,
    * round-6 `+ 0.0` (coords go negative — signed-zero rule). */
  def jlProjectSql(outDim: Int, dim: Int): String = {
    val branches = graft.ops.Similarity.hyperplanes(outDim, dim).zipWithIndex
      .map { case (p, j) =>
        s"""SELECT vec_id, $j AS dim_j,
           round(${planeDot("v", p)}, 6) + 0.0 AS coord FROM e"""
      }
      .mkString("\n UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings)
       $branches"""
  }

  /** Signature expression replicating `Similarity.lshSignature`: sign bit
    * per seeded hyperplane, packed little-endian into a BIGINT. */
  private def sigSql(vec: String, nBits: Int, dim: Int): String =
    graft.ops.Similarity.hyperplanes(nBits, dim).zipWithIndex
      .map { case (p, i) =>
        s"(CASE WHEN (${planeDot(vec, p)}) > 0 THEN ${1L << i} ELSE 0 END)"
      }
      .mkString(" + ")

  /** `+ 0.0` canonicalizes the sign of zero: a cosine rounding to zero
    * from below is −0.0 in DuckDB but +0.0 in Spark's BigDecimal-HALF_UP
    * round, and IEEE −0.0 + 0.0 = +0.0 in both engines (the q108 r9
    * postmortem — every Spark face mirrors the idiom). */
  private def cosSql(a: String, b: String, scale: Int = 4): String =
    s"""(round(list_dot_product($a, $b)
       / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), $scale) + 0.0)"""

  /** Oracle for `Similarity.silhouetteCard` (q208): id-seeded
    * centroids, per-point nearest/second-nearest L2 micros,
    * sign-symmetric silhouette and per-cell means. */
  def silhouetteSql(nCentroids: Int, dim: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       cents AS (SELECT id AS cent_id, v AS cv FROM e
         ORDER BY id ASC LIMIT $nCentroids),
       d AS (SELECT e.id, c.cent_id,
           CAST(round((${pqL2("e.v", "c.cv", dim)}) * 1000000)
             AS BIGINT) AS d
         FROM e, cents c),
       r AS (SELECT id, cent_id, d, row_number() OVER (PARTITION BY id
           ORDER BY d ASC, cent_id ASC) AS rk FROM d),
       per AS (SELECT id,
           max(CASE WHEN rk = 1 THEN cent_id END) AS cell,
           max(CASE WHEN rk = 1 THEN d END) AS a,
           max(CASE WHEN rk = 2 THEN d END) AS b
         FROM r WHERE rk <= 2 GROUP BY 1),
       s AS (SELECT cell,
           CASE WHEN greatest(a, b) = 0 THEN 0
             ELSE CAST(sign(b - a) AS BIGINT)
               * ((1000000 * abs(b - a)) // greatest(a, b)) END AS s,
           a
         FROM per)
       SELECT cell, CAST(count(*) AS BIGINT) AS n,
         CAST(sign(sum(s)) AS BIGINT)
           * CAST(abs(sum(s)) // count(*) AS BIGINT) AS mean_sil_micros,
         CAST(sum(a) // count(*) AS BIGINT) AS mean_a_micros
       FROM s GROUP BY 1"""

  /** Oracle for `Similarity.hardNegatives` (q206): label-mismatch
    * filter before the per-anchor round-4 cosine top-k. */
  def hardNegativesSql(stride: Long, k: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       lab AS (SELECT doc_id AS id, lang FROM documents),
       b AS (SELECT e.id, e.v, lab.lang FROM e JOIN lab USING (id)),
       q AS (SELECT id AS query_id, v AS qv, lang AS q_lang FROM b
         WHERE id % $stride = 0),
       p AS (SELECT q.query_id, b.id AS cand_id,
           ${cosSql("q.qv", "b.v")} AS cos
         FROM b, q WHERE b.id <> q.query_id AND b.lang <> q.q_lang)
       SELECT query_id, cand_id, cos FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
       WHERE rn <= $k"""

  /** Oracle for `Similarity.hardNegativesRouted` (q206): the IVF
    * routing replay over the LABELED corpus (centroids seeded from the
    * joined relation, round-6 assignment, cent_id tie-break), strided
    * anchors probing nProbe cells, label-mismatch filter over probed
    * members, per-anchor round-4 cosine top-k. */
  def hardNegativesRoutedSql(stride: Long, k: Int, nCentroids: Int,
                             nProbe: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       lab AS (SELECT doc_id AS id, lang FROM documents),
       b AS (SELECT e.id, e.v, lab.lang FROM e JOIN lab USING (id)),
       cent AS (SELECT id AS cent_id, v AS cv FROM b
         ORDER BY id LIMIT $nCentroids),
       rk AS (SELECT b.id, b.v, b.lang, c.cent_id,
           row_number() OVER (PARTITION BY b.id
             ORDER BY ${cosSql("b.v", "c.cv", 6)} DESC, c.cent_id ASC)
             AS rn
         FROM b, cent c),
       home AS (SELECT cent_id, id AS cand_id, v, lang AS cand_lang
         FROM rk WHERE rn = 1),
       prb AS (SELECT cent_id, id AS query_id, v AS qv, lang AS q_lang
         FROM rk WHERE rn <= $nProbe AND id % $stride = 0),
       p AS (SELECT DISTINCT query_id, cand_id,
           ${cosSql("qv", "v")} AS cos
         FROM prb JOIN home USING (cent_id)
         WHERE cand_id <> query_id AND cand_lang <> q_lang)
       SELECT query_id, cand_id, cos FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
       WHERE rn <= $k"""

  /** Oracle for `Similarity.knnClassifyRouted` (q149): the IVF routing
    * replay over the q149 label scheme (labeled = vec_id % `stride` <>
    * 0 with label = vec_id % `nLabels`, queries = the stride slice) —
    * centroids seeded from the LABELED corpus, round-6 assignment,
    * queries probing nProbe cells, round-4 cosine over probed members,
    * then the brute face's identical top-k + modal-vote tail (vote
    * ties to the smallest label). */
  def knnClassifyRoutedSql(stride: Long, nLabels: Int, k: Int,
                           nCentroids: Int, nProbe: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       b AS (SELECT vec_id AS id, v, vec_id % $nLabels AS label FROM e
         WHERE vec_id % $stride <> 0),
       q AS (SELECT vec_id AS query_id, v AS qv FROM e
         WHERE vec_id % $stride = 0),
       cent AS (SELECT id AS cent_id, v AS cv FROM b
         ORDER BY id LIMIT $nCentroids),
       rk AS (SELECT b.id, b.v, b.label, c.cent_id,
           row_number() OVER (PARTITION BY b.id
             ORDER BY ${cosSql("b.v", "c.cv", 6)} DESC, c.cent_id ASC)
             AS rn
         FROM b, cent c),
       home AS (SELECT cent_id, id AS cand_id, v, label
         FROM rk WHERE rn = 1),
       qrk AS (SELECT q.query_id, q.qv, c.cent_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY ${cosSql("q.qv", "c.cv", 6)} DESC, c.cent_id ASC)
             AS rn
         FROM q, cent c),
       prb AS (SELECT cent_id, query_id, qv FROM qrk WHERE rn <= $nProbe),
       p AS (SELECT query_id, cand_id, label,
           ${cosSql("qv", "v")} AS cos
         FROM prb JOIN home USING (cent_id)
         WHERE cand_id <> query_id),
       top AS (SELECT query_id, label FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
         WHERE rn <= $k),
       votes AS (SELECT query_id, label, count(*) AS votes
         FROM top GROUP BY 1, 2)
       SELECT query_id, label AS pred_label, votes FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY votes DESC, label ASC) AS vr FROM votes)
       WHERE vr = 1"""

  /** Oracle for `Similarity.ivfCellBalance` (q291): the IVF assignment
    * replay (min-id centroids, round-6 cosine, cent_id tie-break),
    * per-cell counts, exact imbalance and expected-probe-mass floors. */
  def ivfCellBalanceSql(nCentroids: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       cent AS (SELECT id AS cent_id, v AS cv FROM e
         ORDER BY id LIMIT $nCentroids),
       rk AS (SELECT e.id, c.cent_id,
           row_number() OVER (PARTITION BY e.id
             ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC)
             AS rn
         FROM e, cent c),
       pc AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS c
         FROM rk WHERE rn = 1 GROUP BY 1),
       a AS (SELECT CAST(count(*) AS BIGINT) AS nonempty_cells,
           CAST(sum(c) AS BIGINT) AS n_vectors,
           CAST(max(c) AS BIGINT) AS max_cell,
           sum(CAST(c AS HUGEINT) * c) AS c2
         FROM pc)
       SELECT CAST($nCentroids AS BIGINT) AS n_centroids, n_vectors,
         nonempty_cells, max_cell,
         (1000000 * $nCentroids * max_cell) // n_vectors
           AS imbalance_micros,
         CAST((1000000 * c2) // (CAST(n_vectors AS HUGEINT) * n_vectors)
           AS BIGINT) AS expected_probe_micros
       FROM a"""

  /** The routed mutual-pairing CTE chain shared by the q278/q285
    * oracles — the IVF routing replay over the stride subset
    * (centroids = min-id subset rows, round-6 cosine assignment,
    * cent_id tie-break; every member probes nProbe cells), round-4 +
    * signed-zero cosine over probed members, per-query top-1, then the
    * reciprocal self-join with a < b canonicalization. Yields CTEs
    * `e(vec_id, v, label)` and `mp(id_a, id_b, cos)`. */
  private def mutualRoutedCtes(stride: Long, nCentroids: Int,
                               nProbe: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         FROM embeddings WHERE vec_id % $stride = 0),
       cent AS (SELECT vec_id AS cent_id, v AS cv FROM e
         ORDER BY vec_id LIMIT $nCentroids),
       rk AS (SELECT e.vec_id AS id, e.v, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC)
             AS rn
         FROM e, cent c),
       home AS (SELECT cent_id, id AS cand_id, v FROM rk WHERE rn = 1),
       prb AS (SELECT cent_id, id AS query_id, v AS qv FROM rk
         WHERE rn <= $nProbe),
       p AS (SELECT query_id, cand_id, ${cosSql("qv", "v")} AS cos
         FROM prb JOIN home USING (cent_id)
         WHERE cand_id <> query_id),
       best AS (SELECT query_id, cand_id, cos FROM
           (SELECT query_id, cand_id, cos, row_number() OVER (
              PARTITION BY query_id
              ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
         WHERE rn = 1),
       mp AS (SELECT a.query_id AS id_a, a.cand_id AS id_b, a.cos
         FROM best a JOIN best b
           ON b.query_id = a.cand_id AND b.cand_id = a.query_id
         WHERE a.query_id < a.cand_id)"""

  /** Oracle for `Similarity.mutualTopOneRouted` (q278): the routed
    * pairing CTEs, pair rows out. */
  def mutualTopOneRoutedSql(stride: Long, nCentroids: Int,
                            nProbe: Int): String =
    s"""WITH ${mutualRoutedCtes(stride, nCentroids, nProbe)}
       SELECT id_a, id_b, cos FROM mp"""

  /** Oracle for `Similarity.mutualPairPurity` (q285): the routed
    * pairing CTEs, label lookups on both pair ends, exact agreement +
    * marginal-squares chance, signed subtraction only (the q238
    * idiom). */
  def mutualPairPurityRoutedSql(stride: Long, nCentroids: Int,
                                nProbe: Int): String =
    s"""WITH ${mutualRoutedCtes(stride, nCentroids, nProbe)},
       ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(sum(CASE WHEN la.label = lb.label
             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_agree
         FROM mp JOIN e la ON la.vec_id = mp.id_a
           JOIN e lb ON lb.vec_id = mp.id_b),
       mg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
           sum(CAST(c AS HUGEINT) * c) AS c2
         FROM (SELECT label, CAST(count(*) AS BIGINT) AS c FROM e
           GROUP BY 1))
       SELECT n_pairs, n_agree,
         CASE WHEN n_pairs > 0
           THEN (1000000 * n_agree) // n_pairs END AS purity_micros,
         CAST((1000000 * c2) // (CAST(n AS HUGEINT) * n) AS BIGINT)
           AS chance_micros,
         (CASE WHEN n_pairs > 0
           THEN (1000000 * n_agree) // n_pairs END)
         - CAST((1000000 * c2) // (CAST(n AS HUGEINT) * n) AS BIGINT)
           AS lift_micros
       FROM ag, mg"""

  /** Oracle for `Similarity.kCenterSelect` (q192): the Gonzalez greedy
    * loop unrolled — seed = min id, each step a min-over-selected of
    * the per-pair rounded L2 micros, then a (dm DESC, id ASC) top-1.
    * The accumulator CTEs are MATERIALIZED: each step reads s_{i-1}
    * twice (NOT IN + join), so DuckDB's default CTE inlining doubles
    * the plan per step — the SQL face of the same 2^k hazard the Spark
    * face's per-step localCheckpoint prevents (>150 s inlined at k=8,
    * sub-second materialized). */
  def kCenterSql(k: Int, dim: Int): String = {
    val steps = (2 to k).map { i =>
      s"""d$i AS (SELECT c.id,
           CAST(min(round((${pqL2("c.v", "s.v", dim)}) * 1000000))
             AS BIGINT) AS dm
         FROM e c, s${i - 1} s
         WHERE c.id NOT IN (SELECT id FROM s${i - 1}) GROUP BY c.id),
       p$i AS MATERIALIZED (SELECT e.id, e.v, d$i.dm
         FROM d$i JOIN e USING (id)
         ORDER BY d$i.dm DESC, e.id ASC LIMIT 1),
       s$i AS MATERIALIZED (SELECT id, v FROM s${i - 1}
         UNION ALL SELECT id, v FROM p$i)"""
    }.mkString(",\n       ")
    val outs = s"SELECT CAST(1 AS BIGINT) AS pick, id AS cand_id, " +
      "CAST(NULL AS BIGINT) AS d_micros FROM s1" +
      (2 to k).map(i =>
        s"\n       UNION ALL SELECT CAST($i AS BIGINT), id, dm FROM p$i")
        .mkString
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       s1 AS (SELECT id, v FROM e WHERE id = (SELECT min(id) FROM e)),
       $steps
       $outs"""
  }

  /** The margin tail shared by the brute and routed margin-mining
    * oracles — per-side top-k count-divided shift-idiom means,
    * sign-symmetric ratio division, margin-desc/target-asc top-1 per
    * source. Expects a CTE `p(src_id, dst_id, cm)` in scope. */
  private def marginTailSql(k: Int, thresholdMicros: Long): String =
    s"""ax AS (SELECT src_id,
           ((CAST(sum(cm) AS BIGINT) + count(*) * 1000000) // count(*))
             - 1000000 AS a_src
         FROM (SELECT src_id, cm, row_number() OVER (PARTITION BY src_id
             ORDER BY cm DESC, dst_id ASC) AS rn FROM p)
         WHERE rn <= $k GROUP BY 1),
       ay AS (SELECT dst_id,
           ((CAST(sum(cm) AS BIGINT) + count(*) * 1000000) // count(*))
             - 1000000 AS a_dst
         FROM (SELECT dst_id, cm, row_number() OVER (PARTITION BY dst_id
             ORDER BY cm DESC, src_id ASC) AS rn FROM p)
         WHERE rn <= $k GROUP BY 1),
       m AS (SELECT p.src_id, p.dst_id, p.cm,
           CASE WHEN ax.a_src + ay.a_dst > 0
             THEN CAST(sign(p.cm) AS BIGINT)
               * CAST((2000000 * abs(p.cm)) // (ax.a_src + ay.a_dst)
                   AS BIGINT) END AS margin_micros
         FROM p JOIN ax USING (src_id) JOIN ay USING (dst_id))
       SELECT src_id, dst_id, cm AS cos_micros, margin_micros
       FROM (SELECT *, row_number() OVER (PARTITION BY src_id
           ORDER BY margin_micros DESC, dst_id ASC) AS rn
         FROM m WHERE margin_micros IS NOT NULL)
       WHERE rn = 1 AND margin_micros >= $thresholdMicros"""

  /** Oracle for `Similarity.marginMining` (brute face): all
    * cross-parity pairs, then [[marginTailSql]]. */
  def marginMiningSql(k: Int, thresholdMicros: Long): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       s AS (SELECT id AS src_id, v AS sv FROM e WHERE id % 2 = 0),
       d AS (SELECT id AS dst_id, v AS dv FROM e WHERE id % 2 = 1),
       p AS (SELECT src_id, dst_id,
           CAST(round((${cosSql("sv", "dv")}) * 1000000) AS BIGINT) AS cm
         FROM s, d),
       ${marginTailSql(k, thresholdMicros)}"""

  /** Oracle for `Similarity.marginMiningRouted` (q190): the IVF
    * routing replay (round-6 cosine assignment, cent_id tie-break) —
    * cross-parity pairs sharing a probed cell in EITHER direction —
    * then the identical [[marginTailSql]]. */
  def marginMiningRoutedSql(k: Int, thresholdMicros: Long,
                            nCentroids: Int, nProbe: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       cent AS (SELECT id AS cent_id, v AS cv FROM e
         ORDER BY id LIMIT $nCentroids),
       rk AS (SELECT e.id, e.v, c.cent_id,
           row_number() OVER (PARTITION BY e.id
             ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC)
             AS rn
         FROM e, cent c),
       home AS (SELECT cent_id, id, v FROM rk WHERE rn = 1),
       prb AS (SELECT cent_id, id, v FROM rk WHERE rn <= $nProbe),
       p AS (SELECT DISTINCT src_id, dst_id, cm FROM (
         SELECT b.id AS src_id, h.id AS dst_id,
             CAST(round((${cosSql("b.v", "h.v")}) * 1000000) AS BIGINT)
               AS cm
           FROM prb b JOIN home h USING (cent_id)
           WHERE b.id % 2 = 0 AND h.id % 2 = 1
         UNION ALL
         SELECT h.id, b.id,
             CAST(round((${cosSql("h.v", "b.v")}) * 1000000) AS BIGINT)
           FROM prb b JOIN home h USING (cent_id)
           WHERE b.id % 2 = 1 AND h.id % 2 = 0)),
       ${marginTailSql(k, thresholdMicros)}"""

  /** Shared prefix: embeddings → signatures → byte-chunk buckets,
    * replicating `Similarity.lshSignature` + `chunkedBuckets`. */
  private def bucketCtes(nBits: Int, dim: Int, nChunks: Int): String = {
    val chunks = (0 until nChunks).mkString(", ")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       sg AS (SELECT id, v, (${sigSql("v", nBits, dim)}) AS sig FROM e),
       b AS (SELECT id, v, u.c AS chunk, (sig >> (u.c * 8)) & 255 AS key
         FROM sg, UNNEST([$chunks]) AS u(c))"""
  }

  /** Oracle for `Similarity.lshTopK` (q30): same-bucket pairs, exact
    * cosine, top-k per query. `queryStride > 0` restricts the query side
    * BEFORE scoring, mirroring lshCandidatePairs' queryStride (per-query
    * results identical to post-filtering; the q98 fusion oracle uses it
    * so both engines carry the same restricted plan). */
  def annLshSql(nBits: Int, dim: Int, k: Int, queryStride: Long = 0): String = {
    val qFilter = if (queryStride > 0) s" AND a.id % $queryStride = 0" else ""
    s"""${bucketCtes(nBits, dim, nBits / 8)},
       p AS (SELECT DISTINCT a.id AS query_id, c.id AS cand_id,
           ${cosSql("a.v", "c.v")} AS cos
         FROM b a JOIN b c
           ON a.chunk = c.chunk AND a.key = c.key AND a.id <> c.id$qFilter)
       SELECT query_id, cand_id, cos FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
       WHERE rn <= $k"""
  }

  /** The retrieval-eval CTE head shared by [[retrievalEvalSql]] and
    * [[averagePrecisionSql]]: the LSH run `run`(query_id, cand_id,
    * rnk), its brute-force truth `tru`(query_id, cand_id) over every
    * `stride`-th query, and `marked`(query_id, rnk, rel). */
  private def runTruthCtes(nBits: Int, dim: Int, k: Int,
                           stride: Long): String =
    s"""run0 AS (SELECT query_id, cand_id, cos
         FROM (${annLshSql(nBits, dim, k, queryStride = stride)})),
       run AS (SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, cand_id ASC) AS rnk
         FROM run0),
       e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       q AS (SELECT id AS query_id, v AS qv FROM e
         WHERE id % $stride = 0),
       bp AS (SELECT query_id, e.id AS cand_id,
           ${cosSql("q.qv", "e.v")} AS cos
         FROM e, q WHERE e.id <> query_id),
       tru AS (SELECT query_id, cand_id FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, cand_id ASC) AS rn FROM bp)
         WHERE rn <= $k),
       marked AS (SELECT r.query_id, r.rnk,
           CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         FROM run r LEFT JOIN tru t ON t.query_id = r.query_id
           AND t.cand_id = r.cand_id)"""

  /** Oracle for `Similarity.retrievalEval` over the LSH run vs the
    * brute-force truth (q165): MRR/NDCG@k with the DCG weights and
    * their prefix sums taken from the ONE Scala definition
    * (`Similarity.ndcgWeightMicros` — no engine computes a log at
    * query time; the poissonThresholds constant-embedding precedent). */
  def retrievalEvalSql(nBits: Int, dim: Int, k: Int,
                       stride: Long): String = {
    val w = graft.ops.Similarity.ndcgWeightMicros.take(k)
    val prefix = w.scanLeft(0L)(_ + _).tail
    val wts = w.zip(prefix).zipWithIndex
      .map { case ((wm, pm), i) => s"(${i + 1}, $wm, $pm)" }
      .mkString(", ")
    s"""WITH ${runTruthCtes(nBits, dim, k, stride)},
       wts(rnk, wm, pm) AS (VALUES $wts),
       per AS (SELECT m.query_id,
           CAST(sum(rel) AS BIGINT) AS hits_at_k,
           min(CASE WHEN rel = 1 THEN m.rnk END) AS first_rel,
           CAST(sum(CASE WHEN rel = 1 THEN w.wm ELSE 0 END) AS BIGINT)
             AS dcg_micros
         FROM marked m JOIN wts w ON w.rnk = m.rnk GROUP BY 1),
       nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         FROM tru GROUP BY 1)
       SELECT n.query_id, n.n_rel,
         COALESCE(hits_at_k, 0) AS hits_at_k,
         COALESCE(CASE WHEN first_rel IS NOT NULL
           THEN 1000000 // first_rel END, 0) AS rr_micros,
         COALESCE(dcg_micros, 0) AS dcg_micros,
         round(CAST(COALESCE(dcg_micros, 0) AS DOUBLE)
           / CAST(pw.pm AS DOUBLE), 4) AS ndcg
       FROM nrel n LEFT JOIN per ON per.query_id = n.query_id
       JOIN wts pw ON pw.rnk = least($k, n.n_rel)"""
  }

  /** Oracle for `Similarity.averagePrecision` over the LSH run vs
    * brute-force truth (q173): same run/truth derivation as
    * [[retrievalEvalSql]], then the all-integer AP contract —
    * per-hit (1e6·tp)//rank summed and divided by min(k, n_rel). */
  def averagePrecisionSql(nBits: Int, dim: Int, k: Int,
                          stride: Long): String =
    s"""WITH ${runTruthCtes(nBits, dim, k, stride)},
       cum AS (SELECT query_id, rnk, rel,
           CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rnk ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS tp
         FROM marked),
       per AS (SELECT query_id,
           CAST(sum(CASE WHEN rel = 1
             THEN (1000000 * tp) // rnk ELSE 0 END) AS BIGINT) AS ap_num,
           CAST(sum(rel) AS BIGINT) AS n_hits
         FROM cum GROUP BY 1),
       nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         FROM tru GROUP BY 1)
       SELECT n.query_id, n.n_rel,
         COALESCE(n_hits, 0) AS n_hits,
         COALESCE(ap_num // least($k, n.n_rel), 0) AS ap_micros
       FROM nrel n LEFT JOIN per ON per.query_id = n.query_id"""

  /** Oracle for `Similarity.rrfFuse` over the brute-force + LSH runs
    * (q98): both runs re-ranked by (cos DESC, cand ASC), fused by
    * Σ 1/(c + rank), top-fuseK per query. The LSH run restricts to the
    * brute-force query stride so both runs cover the same query set. */
  def rrfFusionSql(nBits: Int, dim: Int, runK: Int, fuseK: Int,
                   stride: Long, c: Int): String =
    s"""WITH bf AS (SELECT query_id, cand_id, cos FROM (
         WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
           q AS (SELECT id AS query_id, v AS qv FROM e
             WHERE id % $stride = 0),
           p AS (SELECT query_id, e.id AS cand_id,
               ${cosSql("q.qv", "e.v")} AS cos
             FROM e, q WHERE e.id <> query_id)
           SELECT query_id, cand_id, cos FROM
             (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
           WHERE rn <= $runK)),
       lsh AS (SELECT query_id, cand_id, cos
         FROM (${annLshSql(nBits, dim, runK, queryStride = stride)})),
       r1 AS (SELECT query_id, cand_id, row_number() OVER (
           PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk
         FROM bf),
       r2 AS (SELECT query_id, cand_id, row_number() OVER (
           PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rnk
         FROM lsh),
       u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
       s AS (SELECT query_id, cand_id,
           round(sum(1.0 / (rnk + $c)), 6) AS rrf
         FROM u GROUP BY 1, 2)
       SELECT query_id, cand_id, rrf FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rrf DESC, cand_id ASC) AS rn FROM s)
       WHERE rn <= $fuseK"""

  /** Oracle for the HETEROGENEOUS hybrid fusion (q101):
    * `TextAnalysis.bm25MoreLikeThis` (lexical run, document-as-query BM25
    * with micro-unit per-term integerization and round-6 avgdl) fused by
    * `Similarity.rrfFuse` with the brute-force dense cosine run over the
    * shared id space. Both runs re-rank by (score DESC, cand ASC); rank
    * is the ONLY thing that crosses into the fusion. */
  def rrfHybridSql(runK: Int, fuseK: Int, stride: Long, c: Int,
                   maxDf: Int, k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           round(avg(len(t)), 6) AS avgdl FROM docs),
       tf AS (SELECT doc_id, u.term, CAST(count(*) AS DOUBLE) AS tf,
           CAST(max(len(t)) AS DOUBLE) AS dl
         FROM docs, UNNEST(t) AS u(term) GROUP BY doc_id, u.term),
       dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
         FROM tf GROUP BY term),
       qt AS (SELECT DISTINCT doc_id AS query_id, u.term
         FROM docs, UNNEST(t) AS u(term) WHERE doc_id % $stride = 0),
       sm AS (SELECT qt.query_id, tf.doc_id AS cand_id,
           CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf
             * ${k1 + 1} / (tf + $k1 * (${1 - b} + $b * dl / avgdl))
             * 1000000) AS BIGINT) AS m
         FROM qt JOIN tf USING (term) JOIN dfreq USING (term), stats
         WHERE tf.doc_id <> qt.query_id AND df <= $maxDf),
       lex AS (SELECT query_id, cand_id, score FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, cand_id ASC) AS rn FROM
            (SELECT query_id, cand_id,
               round(CAST(sum(m) AS DOUBLE) / 1000000, 4) AS score
             FROM sm GROUP BY 1, 2))
         WHERE rn <= $runK),
       e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       q AS (SELECT id AS query_id, v AS qv FROM e WHERE id % $stride = 0),
       dp AS (SELECT query_id, e.id AS cand_id,
           ${cosSql("q.qv", "e.v")} AS score
         FROM e, q WHERE e.id <> query_id),
       den AS (SELECT query_id, cand_id, score FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, cand_id ASC) AS rn FROM dp)
         WHERE rn <= $runK),
       r1 AS (SELECT query_id, cand_id, row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rnk
         FROM lex),
       r2 AS (SELECT query_id, cand_id, row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, cand_id ASC) AS rnk
         FROM den),
       u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
       s AS (SELECT query_id, cand_id,
           round(sum(1.0 / (rnk + $c)), 6) AS rrf
         FROM u GROUP BY 1, 2)
       SELECT query_id, cand_id, rrf FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rrf DESC, cand_id ASC) AS rn FROM s)
       WHERE rn <= $fuseK"""

  /** Oracle for `Similarity.lshTopK(probeBits = p)` (q66): the query side
    * also probes each chunk key with one of its low `probeBits` bits
    * flipped; the corpus bucket side is unchanged. */
  def annLshMultiprobeSql(nBits: Int, dim: Int, k: Int,
                          probeBits: Int): String =
    s"""${bucketCtes(nBits, dim, nBits / 8)},
       pb AS (SELECT id, v, chunk, key FROM b
         UNION
         SELECT id, v, chunk, xor(key, (1::BIGINT << j)) AS key
           FROM b, UNNEST(range(0, $probeBits)) AS u(j)),
       p AS (SELECT DISTINCT a.id AS query_id, c.id AS cand_id,
           ${cosSql("a.v", "c.v")} AS cos
         FROM pb a JOIN b c
           ON a.chunk = c.chunk AND a.key = c.key AND a.id <> c.id)
       SELECT query_id, cand_id, cos FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
       WHERE rn <= $k"""

  /** Oracle for `Dedup.embeddingNearDups(lsh = true)` (q31): same-bucket
    * unordered pairs with cosine ≥ threshold. */
  def embedNearDupLshSql(nBits: Int, dim: Int, threshold: Double): String =
    s"""${bucketCtes(nBits, dim, math.max(nBits / 8, 1))},
       p AS (SELECT DISTINCT a.id AS doc_a, c.id AS doc_b,
           ${cosSql("a.v", "c.v")} AS cos
         FROM b a JOIN b c
           ON a.chunk = c.chunk AND a.key = c.key AND a.id < c.id)
       SELECT doc_a, doc_b, cos FROM p WHERE cos >= $threshold"""

  /** Oracle for `Dedup.semanticDedup` (q84): seeded centroids (first
    * nCentroids ids), top-1 assignment by round-6 cosine with cent_id
    * tie-break, in-cell round-4 cosine domination by any lower id. */
  def semanticDedupSql(nCentroids: Int, threshold: Double): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT $nCentroids),
       asg AS (SELECT id, v, cent_id FROM
         (SELECT e.id, e.v, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM e, cent c) WHERE rn = 1),
       dom AS (SELECT DISTINCT b.id
         FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.id < b.id
         WHERE ${cosSql("a.v", "b.v")} >= $threshold)
       SELECT asg.id AS vec_id, asg.cent_id, (dom.id IS NULL) AS kept
       FROM asg LEFT JOIN dom ON asg.id = dom.id"""

  /** The IVF probe-and-rank tail shared by [[ivfSql]] and
    * [[ivfTrainedSql]], over `e` and the centroid CTE `cent`(cent_id,
    * cv): each vector joins its `nProbe` nearest centroids, every
    * `queryStride`-th vector is scored against the vectors sharing one,
    * top-`k` by (cos DESC, cand_id ASC). */
  private def ivfProbeSql(cent: String, k: Int, nProbe: Int,
                          queryStride: Long): String =
    s"""asg AS (SELECT id, v, cent_id FROM
         (SELECT e.id, e.v, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM e, $cent c) WHERE rn <= $nProbe),
       q AS (SELECT cent_id, id AS query_id, v AS qv FROM asg
         WHERE id % $queryStride = 0),
       p AS (SELECT DISTINCT query_id, a.id AS cand_id,
           ${cosSql("q.qv", "a.v")} AS cos
         FROM q JOIN asg a ON q.cent_id = a.cent_id AND a.id <> q.query_id)
       SELECT query_id, cand_id, cos FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
       WHERE rn <= $k"""

  /** Oracle for `Similarity.ivfTopK` (q35): deterministic centroids (first
    * nCentroids ids), nProbe-cell assignment by round-6 cosine with cent_id
    * tie-break, cell-join search, top-k per query. */
  def ivfSql(k: Int, nCentroids: Int, nProbe: Int, queryStride: Long): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT $nCentroids),
       ${ivfProbeSql("cent", k, nProbe, queryStride)}"""

  /** Oracle for `Similarity.ivfOperatingCurve` (q309): one max-probe
    * assignment with probe ranks kept, pmin per pair, the VALUES-list
    * sweep, per-probe top-k vs the brute truth, exact micros recall. */
  def ivfOperatingCurveSql(k: Int, nCentroids: Int, probes: Seq[Int],
                           queryStride: Long): String = {
    val maxP = probes.max
    val vals = probes.map(p => s"($p)").mkString(", ")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id
         LIMIT $nCentroids),
       asg AS (SELECT id, v, cent_id, rn AS pr FROM
         (SELECT e.id, e.v, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC)
              AS rn
          FROM e, cent c) WHERE rn <= $maxP),
       q AS (SELECT cent_id, id AS query_id, v AS qv, pr AS qr
         FROM asg WHERE id % $queryStride = 0),
       pairs AS (SELECT query_id, cand_id,
           CAST(min(pp) AS BIGINT) AS pmin, max(cos) AS cos FROM
         (SELECT q.query_id, a.id AS cand_id,
            greatest(q.qr, a.pr) AS pp, ${cosSql("q.qv", "a.v")} AS cos
          FROM q JOIN asg a ON q.cent_id = a.cent_id
            AND a.id <> q.query_id)
         GROUP BY 1, 2),
       sw AS MATERIALIZED (SELECT CAST(p.np AS BIGINT) AS n_probe,
           pairs.* FROM pairs, (VALUES $vals) p(np)
         WHERE pmin <= p.np),
       tk AS (SELECT n_probe, query_id, cand_id FROM
         (SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM sw)
         WHERE rn <= $k),
       truth AS (SELECT query_id, cand_id FROM
         (SELECT qq.id AS query_id, c.id AS cand_id,
            row_number() OVER (PARTITION BY qq.id
              ORDER BY ${cosSql("qq.v", "c.v")} DESC, c.id ASC) AS rn
          FROM e qq JOIN e c ON c.id <> qq.id
          WHERE qq.id % $queryStride = 0)
         WHERE rn <= $k),
       nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nqq
         FROM q),
       mass AS (SELECT n_probe, CAST(count(*) AS BIGINT)
           AS n_candidates FROM sw GROUP BY 1),
       hits AS (SELECT n_probe, CAST(count(*) AS BIGINT) AS n_hits
         FROM tk JOIN truth USING (query_id, cand_id) GROUP BY 1)
       SELECT m.n_probe, nqq AS n_queries, n_candidates,
         CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
         CAST((1000000 * COALESCE(n_hits, 0)) // ($k * nqq) AS BIGINT)
           AS recall_micros
       FROM mass m LEFT JOIN hits USING (n_probe) CROSS JOIN nq"""
  }

  /** The unrolled quantized-Lloyd rounds shared by every trained-centroid
    * oracle (q47, q87): round r assigns each vector to its nearest c(r−1)
    * centroid by round-6 cosine (cent_id tie-break) and rebuilds each
    * centroid as round-6 component means — the exact SQL image of
    * `Similarity.kMeansCentroids`. Expects CTEs `e(id, v)` and
    * `c0(cent_id, cv)` in scope; leaves `c<trainIters>` as the result. */
  private def lloydRoundCtes(trainIters: Int, dim: Int): String =
    (1 to trainIters).map { r =>
      s"""a$r AS (SELECT id, v, cent_id FROM
           (SELECT e.id, e.v, c.cent_id,
              row_number() OVER (PARTITION BY e.id
                ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
            FROM e, c${r - 1} c) WHERE rn = 1),
         m$r AS (SELECT cent_id, i, round(avg(v[i]), 6) + 0.0 AS m
           FROM a$r, range(1, ${dim + 1}) t(i) GROUP BY cent_id, i),
         c$r AS (SELECT cent_id, list(m ORDER BY i) AS cv
           FROM m$r GROUP BY cent_id)"""
    }.mkString(",\n       ")

  /** Oracle for TRAINED `Dedup.semanticDedup` (q87): the [[lloydRoundCtes]]
    * trained cells, then [[semanticDedupSql]]'s assignment + lower-id
    * round-4 cosine domination over them. */
  def semanticDedupTrainedSql(nCentroids: Int, threshold: Double,
                              trainIters: Int, dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       c0 AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT $nCentroids),
       ${lloydRoundCtes(trainIters, dim)},
       asg AS (SELECT id, v, cent_id FROM
         (SELECT e.id, e.v, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM e, c$trainIters c) WHERE rn = 1),
       dom AS (SELECT DISTINCT b.id
         FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.id < b.id
         WHERE ${cosSql("a.v", "b.v")} >= $threshold)
       SELECT asg.id AS vec_id, asg.cent_id, (dom.id IS NULL) AS kept
       FROM asg LEFT JOIN dom ON asg.id = dom.id"""

  /** Oracle for `Similarity.ivfFilteredTopK` (q88): full-corpus seeded
    * centroids and nProbe assignment, candidate side restricted by
    * `candWhere` (a SQL predicate over the e CTE's columns, e.g.
    * `label % 2 = 0`), queries unfiltered. */
  def ivfFilteredSql(k: Int, nCentroids: Int, nProbe: Int, queryStride: Long,
                     candWhere: String): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
           label FROM embeddings),
       cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT $nCentroids),
       asg AS (SELECT id, v, label, cent_id FROM
         (SELECT e.id, e.v, e.label, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM e, cent c) WHERE rn <= $nProbe),
       q AS (SELECT cent_id, id AS query_id, v AS qv FROM asg
         WHERE id % $queryStride = 0),
       cand AS (SELECT cent_id, id, v FROM asg WHERE $candWhere),
       p AS (SELECT DISTINCT query_id, a.id AS cand_id,
           ${cosSql("q.qv", "a.v")} AS cos
         FROM q JOIN cand a ON q.cent_id = a.cent_id AND a.id <> q.query_id)
       SELECT query_id, cand_id, cos FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
       WHERE rn <= $k"""

  /** Oracle for `Dedup.semanticLeakage` (q89): eval set = id % mod = rem,
    * per-train-row count of eval vectors within round-4 cosine
    * `threshold`. The eval side joins LEFT-outer (ON true), mirroring the
    * Spark side's empty-eval contract: zero eval rows still yields one
    * (id, 0, false) row per non-eval vector. */
  def semanticLeakageSql(mod: Long, rem: Long, threshold: Double): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ev AS (SELECT id AS eval_id, v AS ev FROM e WHERE id % $mod = $rem),
       h AS (SELECT e.id,
           CASE WHEN ev.eval_id IS NOT NULL
                  AND ${cosSql("e.v", "ev.ev")} >= $threshold
                THEN 1 ELSE 0 END AS hit
         FROM e LEFT JOIN ev ON true WHERE e.id % $mod <> $rem)
       SELECT id AS vec_id, CAST(sum(hit) AS BIGINT) AS n_eval_hits,
         (sum(hit) > 0) AS leaked
       FROM h GROUP BY id"""

  /** Oracle for `Dedup.semanticLeakageCellRouted` (q100): trained
    * ([[lloydRoundCtes]]) or seeded cells over the FULL corpus, train
    * side = top-1 cell, eval side = top-nProbe probe cells, hit test
    * equi-joined on the cell id, counts LEFT-joined back so zero-hit
    * train rows appear. */
  def semanticLeakageCellSql(mod: Long, rem: Long, threshold: Double,
                             nCentroids: Int, nProbe: Int,
                             trainIters: Int, dim: Int = 64): String = {
    val cent = if (trainIters > 0) s"c$trainIters" else "c0"
    val rounds =
      if (trainIters > 0) s",\n       ${lloydRoundCtes(trainIters, dim)}" else ""
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       c0 AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT $nCentroids)$rounds,
       asg AS (SELECT id, v, cent_id, rn FROM
         (SELECT e.id, e.v, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM e, $cent c) WHERE rn <= $nProbe),
       tr AS (SELECT id, v, cent_id FROM asg
         WHERE rn = 1 AND id % $mod <> $rem),
       ev AS (SELECT id AS eval_id, v AS ev, cent_id FROM asg
         WHERE id % $mod = $rem),
       h AS (SELECT tr.id,
           CAST(sum(CASE WHEN ${cosSql("tr.v", "ev.ev")} >= $threshold
                THEN 1 ELSE 0 END) AS BIGINT) AS n
         FROM tr JOIN ev ON tr.cent_id = ev.cent_id GROUP BY tr.id)
       SELECT tr.id AS vec_id,
         CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_hits,
         (coalesce(h.n, 0) > 0) AS leaked
       FROM tr LEFT JOIN h ON tr.id = h.id"""
  }

  /** Oracle for `Similarity.ivfAdmitFromIndex` over an in-flight
    * `ivfIndex` (q102): corpus = id % mod <> rem with seeded centroids
    * and top-1 cells; batch = id % mod = rem probing nProbe cells; hit
    * counts LEFT-joined back so clean batch vectors appear. */
  def semanticAdmitIvfSql(mod: Long, rem: Long, threshold: Double,
                          nCentroids: Int, nProbe: Int): String =
    s"""WITH eall AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       e AS (SELECT id, v FROM eall WHERE id % $mod <> $rem),
       cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id
         LIMIT $nCentroids),
       cells AS (SELECT id, v, cent_id FROM
         (SELECT e.id, e.v, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM e, cent c) WHERE rn = 1),
       b AS (SELECT id, v FROM eall WHERE id % $mod = $rem),
       basg AS (SELECT id, v, cent_id FROM
         (SELECT b.id, b.v, c.cent_id,
            row_number() OVER (PARTITION BY b.id
              ORDER BY ${cosSql("b.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM b, cent c) WHERE rn <= $nProbe),
       h AS (SELECT basg.id,
           CAST(sum(CASE WHEN ${cosSql("basg.v", "cells.v")} >= $threshold
                THEN 1 ELSE 0 END) AS BIGINT) AS n
         FROM basg JOIN cells ON basg.cent_id = cells.cent_id
         GROUP BY basg.id)
       SELECT b.id AS vec_id,
         CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
         (coalesce(h.n, 0) > 0) AS is_dup
       FROM b LEFT JOIN h ON b.id = h.id"""

  /** Oracle for TRAINED `Similarity.ivfTopK` (q47): replays the QUANTIZED
    * Lloyd rounds of `Similarity.kMeansCentroids` in SQL — seed = first
    * nCentroids ids; each unrolled round assigns every vector to its
    * nearest centroid by round-6 cosine (cent_id tie-break) and rebuilds
    * each centroid as the round-6 component means of its members — then
    * runs the same nProbe-cell IVF search as [[ivfSql]] over the trained
    * centroids. Rounding both engines to 6 decimals each round is what
    * makes the cross-engine float means bit-comparable (see
    * kMeansCentroids scaladoc). */
  def ivfTrainedSql(k: Int, nCentroids: Int, nProbe: Int, queryStride: Long,
                    trainIters: Int, dim: Int = 64): String = {
    val cent = s"c$trainIters"
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       c0 AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT $nCentroids),
       ${lloydRoundCtes(trainIters, dim)},
       ${ivfProbeSql(cent, k, nProbe, queryStride)}"""
  }

  /** Unrolled scaled-integer PageRank over the events transition graph —
    * replays [[graft.ops.Graph.pageRank]] bit-for-bit. Iterations are
    * UNROLLED as chained CTEs (standard SQL forbids aggregates in a
    * recursive term, and unrolling keeps each round a plain join+agg the
    * optimizer understands). `//` on non-negative BIGINTs is DuckDB's
    * floor division = Spark's truncating `div`; all sums are integer
    * (DuckDB's HUGEINT sums cast back down), so no float order anywhere. */
  /** The nodes → out-weights → r0 → unrolled-iterations SUFFIX shared by
    * every PageRank oracle, over an `edges(src, dst, w BIGINT)` CTE
    * already in scope (composable: [[pageRankSql]] supplies the events
    * transition graph, [[knnPageRankSql]] the IVF-routed semantic KNN
    * graph). */
  private def prCoreSql(iters: Int, microScale: Long,
                        dampNum: Long, dampDen: Long,
                        seedSql: Option[String],
                        dangling: Boolean): String = {
    val teleport = microScale * (dampDen - dampNum) / dampDen
    // personalized form: teleport (and the initial rank) only where the
    // seed predicate holds — `seedSql` is a predicate over the
    // placeholder token `{node}` (or, for compatibility, the bare word
    // `node` when `{node}` is absent), mirroring
    // Graph.personalizedPageRank's Column predicate. The placeholder is
    // the safe spelling: a blind word replace would silently corrupt any
    // predicate containing `node` inside another identifier or literal
    // (e.g. `node_id`), so prefer `{node}` in new call sites.
    def gated(amount: Long, node: String): String = seedSql match {
      case Some(p) =>
        val sub =
          if (p.contains("{node}")) p.replace("{node}", node)
          else p.replace("node", node)
        s"CASE WHEN $sub THEN $amount ELSE 0 END"
      case None => amount.toString
    }
    // dangling form: per iteration, D = Σ rank over nodes with no
    // out-edges (one scalar CTE) and every node's pre-damping inflow
    // gains D // N — mirroring prImpl's danglingRedistribute arm
    val iterCtes = (1 to iters).map { i =>
      if (!dangling)
        s"""r$i AS (SELECT n.node,
           CAST(${gated(teleport, "n.node")}
             + ($dampNum * COALESCE(s.s, 0)) // $dampDen
             AS BIGINT) AS r
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS node, CAST(SUM((r.r * e.w) // e.ow) AS BIGINT) AS s
           FROM ew e JOIN r${i - 1} r ON r.node = e.src
           GROUP BY 1) s ON s.node = n.node)"""
      else
        s"""d$i AS (SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS dm
           FROM r${i - 1} r WHERE r.node NOT IN (SELECT src FROM edges)),
         r$i AS (SELECT n.node,
           CAST(${gated(teleport, "n.node")}
             + ($dampNum * (COALESCE(s.s, 0) + (d.dm // nc.nn))) // $dampDen
             AS BIGINT) AS r
         FROM nodes n CROSS JOIN d$i d CROSS JOIN nc LEFT JOIN (
           SELECT e.dst AS node, CAST(SUM((r.r * e.w) // e.ow) AS BIGINT) AS s
           FROM ew e JOIN r${i - 1} r ON r.node = e.src
           GROUP BY 1) s ON s.node = n.node)"""
    }.mkString(",\n       ")
    s"""nodes AS (SELECT src AS node FROM edges
         UNION SELECT dst FROM edges),
       nc AS (SELECT count(*) AS nn FROM nodes),
       outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
         FROM edges GROUP BY 1),
       ew AS (SELECT e.src, e.dst, e.w, o.ow
         FROM edges e JOIN outw o ON o.src = e.src),
       r0 AS (SELECT node,
         CAST(${gated(microScale, "node")} AS BIGINT) AS r FROM nodes),
       $iterCtes
       SELECT node, r AS rank_micros FROM r$iters"""
  }

  /** Oracle for `TextAnalysis.textRank` (q193): the word-adjacency
    * edge derivation + the SAME [[prCoreSql]] rank core q107 uses. */
  def textRankSql(iters: Int, minLen: Int): String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
         FROM documents),
       wt AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           lower(t[pos + 1]) AS word
         FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS pos
           FROM base)),
       k AS (SELECT doc_id, pos, word FROM wt
         WHERE length(word) >= $minLen),
       adj AS (SELECT lag(word) OVER (PARTITION BY doc_id
             ORDER BY pos ASC) AS a, word AS b
         FROM k),
       und AS (SELECT least(a, b) AS x, greatest(a, b) AS y,
           CAST(count(*) AS BIGINT) AS w
         FROM adj WHERE a IS NOT NULL AND a <> b GROUP BY 1, 2),
       edges AS (SELECT x AS src, y AS dst, w FROM und
         UNION ALL SELECT y, x, w FROM und),
       ${prCoreSql(iters, 1000000L, 85, 100, None, dangling = false)}"""

  def pageRankSql(iters: Int, microScale: Long = 1000000L,
                  dampNum: Long = 85, dampDen: Long = 100,
                  seedSql: Option[String] = None,
                  edgeFilterSql: Option[String] = None,
                  dangling: Boolean = false): String =
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       edges AS (SELECT src, dst, count(*) AS w FROM tr
         WHERE src IS NOT NULL${edgeFilterSql.map(f => s" AND ($f)").getOrElse("")} GROUP BY 1, 2),
       ${prCoreSql(iters, microScale, dampNum, dampDen, seedSql, dangling)}"""

  /** Oracle for `Similarity.pqTopK` (q127): per-subspace quantized-Lloyd
    * codebook training, encoding, and integer-micros ADC scoring — the
    * L2 edition of the [[lloydRoundCtes]] determinism story. The squared
    * distance is generated as the EXPLICIT left-associated per-component
    * chain so both engines evaluate the identical expression tree. */
  private def pqL2(a: String, b: String, sub: Int): String =
    (1 to sub).map(i => s"($a[$i] - $b[$i]) * ($a[$i] - $b[$i])")
      .mkString(" + ")

  /** The PQ training/encoding CTE prefix shared by [[pqSql]] and
    * [[ivfPqSql]]: e → subv → seeded b0 → `trainIters` quantized-Lloyd
    * rounds → `enc` codes and `qd` ADC micros over `b<trainIters>`.
    * `trainStride > 1` mirrors `Similarity.pqArtifacts`'s sample
    * trainer: rounds assign only `id % trainStride = 0` subvectors,
    * the final encode assigns the full corpus.
    * Expects nothing in scope; leaves `e`, `enc`, `qd` available. */
  private def pqCoreCtes(m: Int, k: Int, trainIters: Int,
                         queryStride: Long, dim: Int,
                         trainStride: Long): String = {
    val sub = dim / m
    s"""e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ${pqTrainCtes(m, k, trainIters, trainStride, dim, "e")},
       qd AS (SELECT s.id AS query_id, s.j, b.cid,
           CAST(round((${pqL2("s.sv", "b.cv", sub)}) * 1000000.0)
             AS BIGINT) AS dm
         FROM subv s JOIN b$trainIters b ON b.j = s.j
         WHERE s.id % $queryStride = 0)"""
  }

  /** The PQ subvector/seed/Lloyd-round/encode CTE block over any (id, v)
    * relation `src` — shared by [[pqCoreCtes]] (raw vectors) and
    * [[ivfPqResidualSql]] (cell residuals). Emits subv, (subvt), seed,
    * b0..b`trainIters`, enc. */
  private def pqTrainCtes(m: Int, k: Int, trainIters: Int,
                          trainStride: Long, dim: Int,
                          src: String): String = {
    val sub = dim / m
    def assignCte(name: String, book: String, from: String): String =
      s"""$name AS (SELECT id, j, sv, cid FROM
           (SELECT s.id, s.j, s.sv, b.cid,
              row_number() OVER (PARTITION BY s.id, s.j
                ORDER BY round(${pqL2("s.sv", "b.cv", sub)}, 6) ASC,
                  b.cid ASC) AS rn
            FROM $from s JOIN $book b ON b.j = s.j) WHERE rn = 1)"""
    val trainSrc = if (trainStride > 1) "subvt" else "subv"
    val trainCte =
      if (trainStride > 1)
        s""",
       subvt AS (SELECT * FROM subv WHERE id % $trainStride = 0)"""
      else ""
    val rounds = (1 to trainIters).map { r =>
      s"""${assignCte(s"a$r", s"b${r - 1}", trainSrc)},
         mu$r AS (SELECT j, cid, i, round(avg(sv[i]), 6) + 0.0 AS mu
           FROM a$r, range(1, ${sub + 1}) t(i) GROUP BY 1, 2, 3),
         b$r AS (SELECT j, cid, list(mu ORDER BY i) AS cv
           FROM mu$r GROUP BY 1, 2)"""
    }.mkString(",\n       ")
    val roundsPart = if (trainIters > 0) rounds + ",\n       " else ""
    s"""subv AS (SELECT id, j,
           v[(j * $sub + 1):(j * $sub + $sub)] AS sv
         FROM $src, range(0, $m) t(j))$trainCte,
       seed AS (SELECT v, row_number() OVER (ORDER BY id) - 1 AS cid
         FROM (SELECT * FROM $src ORDER BY id LIMIT $k)),
       b0 AS (SELECT j, cid,
           v[(j * $sub + 1):(j * $sub + $sub)] AS cv
         FROM seed, range(0, $m) t(j)),
       $roundsPart${assignCte("enc", s"b$trainIters", "subv")}"""
  }

  def pqSql(m: Int, k: Int, trainIters: Int, topK: Int,
            queryStride: Long, dim: Int,
            trainStride: Long = 1): String =
    s"""WITH ${pqCoreCtes(m, k, trainIters, queryStride, dim, trainStride)},
       sc AS (SELECT qd.query_id, c.id AS cand_id,
           CAST(SUM(qd.dm) AS BIGINT) AS adc_micros
         FROM enc c JOIN qd ON qd.j = c.j AND qd.cid = c.cid
         WHERE c.id <> qd.query_id GROUP BY 1, 2)
       SELECT query_id, cand_id, adc_micros FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micros ASC, cand_id ASC) AS rn FROM sc)
       WHERE rn <= $topK"""

  /** Oracle for `Dedup.fellegiSunterEm` (q301): first-token-blocked
    * part-sample pairs, the 2³ field-agreement pattern counts, and
    * `iters` unrolled EM rounds — posteriors to exact micros before
    * every M-step sum, parameters clamped, the final per-pattern
    * posterior mirrored term-for-term. */
  def fellegiEmSql(iters: Int, pi0: Double = 0.1, m0: Double = 0.9,
                   u0: Double = 0.1): String = {
    val (lo, hi) = (1e-6, 0.999999)
    val k = 3
    val pm = (0 until k).map(i =>
      s"(CASE WHEN g_$i THEN m_$i ELSE 1.0 - m_$i END)")
      .mkString(" * ")
    val pu = (0 until k).map(i =>
      s"(CASE WHEN g_$i THEN u_$i ELSE 1.0 - u_$i END)")
      .mkString(" * ")
    val ratio = s"(pi * $pm) / (pi * $pm + (1.0 - pi) * $pu)"
    val init = (0 until k).map(i => s"$m0 AS m_$i, $u0 AS u_$i")
      .mkString(", ")
    val rounds = (1 to iters).map { r =>
      val sums = (0 until k).map(i =>
        s"""CAST(sum(CASE WHEN g_$i THEN n * w ELSE 0 END)
           AS BIGINT) AS swa_$i,
         CAST(sum(CASE WHEN g_$i THEN n * (1000000 - w) ELSE 0 END)
           AS BIGINT) AS sua_$i""").mkString(",\n         ")
      val upd = (0 until k).map(i =>
        s"""least(greatest(CASE WHEN sw > 0 THEN CAST(swa_$i AS DOUBLE)
             / CAST(sw AS DOUBLE) ELSE 0.0 END, $lo), $hi) AS m_$i,
           least(greatest(CASE WHEN su > 0 THEN CAST(sua_$i AS DOUBLE)
             / CAST(su AS DOUBLE) ELSE 0.0 END, $lo), $hi) AS u_$i""")
        .mkString(",\n           ")
      s"""e_$r AS (SELECT g_0, g_1, g_2, n,
           CAST(round($ratio * 1000000.0) AS BIGINT) AS w
         FROM pat CROSS JOIN p_${r - 1}),
       a_$r AS (SELECT CAST(sum(n * w) AS BIGINT) AS sw,
           CAST(sum(n * (1000000 - w)) AS BIGINT) AS su,
           CAST(sum(n) AS BIGINT) AS nn,
         $sums
         FROM e_$r),
       p_$r AS (SELECT
           least(greatest(CAST(sw AS DOUBLE)
             / (1000000.0 * CAST(nn AS DOUBLE)), $lo), $hi) AS pi,
           $upd
         FROM a_$r)"""
    }.mkString(",\n       ")
    s"""WITH p AS (SELECT p_partkey AS id, p_name AS s,
           p_brand AS brand FROM part WHERE p_partkey % 10 = 0),
       r AS (SELECT id, string_split(s, ' ')[1] AS ft,
           CAST(length(s) // 4 AS VARCHAR) AS f_0,
           brand AS f_1,
           string_split(s, ' ')[len(string_split(s, ' '))] AS f_2
         FROM p),
       cand AS (SELECT a.id AS id_a, b.id AS id_b
         FROM r a JOIN r b ON a.ft = b.ft AND a.id < b.id),
       pat AS (SELECT COALESCE(ra.f_0 = rb.f_0, false) AS g_0,
           COALESCE(ra.f_1 = rb.f_1, false) AS g_1,
           COALESCE(ra.f_2 = rb.f_2, false) AS g_2,
           CAST(count(*) AS BIGINT) AS n
         FROM cand JOIN r ra ON ra.id = cand.id_a
           JOIN r rb ON rb.id = cand.id_b
         GROUP BY 1, 2, 3),
       p_0 AS (SELECT $pi0 AS pi, $init),
       $rounds
       SELECT g_0 AS agree_len4, g_1 AS agree_brand,
         g_2 AS agree_last_token, n AS n_pairs,
         round($ratio, 6) + 0.0 AS match_prob
       FROM pat CROSS JOIN p_$iters"""
  }

  /** Oracle for `Similarity.pqDistortion` (q297): the [[pqTrainCtes]]
    * replay, each encoded subvector's round-6 assigned distance to its
    * codeword converted to exact micros, rolled up per subspace. */
  def pqDistortionSql(m: Int, k: Int, trainIters: Int, dim: Int,
                      trainStride: Long = 1): String = {
    val sub = dim / m
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ${pqTrainCtes(m, k, trainIters, trainStride, dim, "e")},
       dist AS (SELECT n.j, n.cid,
           CAST(round(round(${pqL2("n.sv", "b.cv", sub)}, 6)
             * 1000000.0) AS BIGINT) AS dm
         FROM enc n JOIN b$trainIters b
           ON b.j = n.j AND b.cid = n.cid)
       SELECT j, CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(count(DISTINCT cid) AS BIGINT) AS codes_used,
         CAST(sum(dm) AS BIGINT) AS sse_micros,
         CAST(sum(dm) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS mse_micros
       FROM dist GROUP BY 1"""
  }

  /** The seeded IVF cells shared by the IVF-PQ oracles, over `e`:
    * `cent` = the first `nCentroids` vectors by id, `rankedc`(id,
    * cent_id, rn) = each vector's centroid rank by (cos DESC, cent_id
    * ASC), and `cells`(cent_id, id) = its nearest centroid. */
  private def ivfCellCtes(nCentroids: Int): String =
    s"""cent AS (SELECT id AS cent_id, v AS cv FROM e
         ORDER BY id LIMIT $nCentroids),
       rankedc AS (SELECT e.id, c.cent_id,
           row_number() OVER (PARTITION BY e.id
             ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC,
               c.cent_id ASC) AS rn
         FROM e, cent c),
       cells AS (SELECT cent_id, id FROM rankedc WHERE rn = 1)"""

  /** Oracle for `Similarity.ivfPqTopK` (q129): the [[pqCoreCtes]] codes
    * scored ONLY inside the query's `nProbe` IVF-routed cells (round-6
    * cosine routing, the [[ivfSql]] coarse quantizer). */
  def ivfPqSql(m: Int, k: Int, trainIters: Int, nCentroids: Int,
               nProbe: Int, topK: Int, queryStride: Long,
               dim: Int, trainStride: Long = 1): String =
    s"""WITH ${pqCoreCtes(m, k, trainIters, queryStride, dim, trainStride)},
       ${ivfCellCtes(nCentroids)},
       probes AS (SELECT cent_id, id AS query_id FROM rankedc
         WHERE rn <= $nProbe AND id % $queryStride = 0),
       cand AS (SELECT DISTINCT p.query_id, cl.id
         FROM probes p JOIN cells cl ON cl.cent_id = p.cent_id
         WHERE cl.id <> p.query_id),
       sc AS (SELECT qd.query_id, c.id AS cand_id,
           CAST(SUM(qd.dm) AS BIGINT) AS adc_micros
         FROM enc c JOIN cand ON cand.id = c.id
         JOIN qd ON qd.query_id = cand.query_id
           AND qd.j = c.j AND qd.cid = c.cid
         GROUP BY 1, 2)
       SELECT query_id, cand_id, adc_micros FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micros ASC, cand_id ASC) AS rn FROM sc)
       WHERE rn <= $topK"""

  /** Oracle for `Graph.hyperAnf` over the q196 transition graph
    * WITHOUT the edge thinning (q215): the HLL sketch replay —
    * md5-prefix register hash, trailing-zero ranks, per-hop
    * register-max union sweeps (MATERIALIZED: each hop reads the
    * previous sketch twice, the q192/q196 2^k CTE hazard), exact
    * long harmonic sums, the one mirrored float estimate per node
    * summed as longs. */
  def hyperAnfSql(maxHops: Int): String = {
    val m = 32
    val two56 = 1L << 56
    val alphaNum = 0.697 * m * m * two56.toDouble
    val hops = (1 to maxHops).map { h =>
      s"""s$h AS MATERIALIZED (SELECT node, reg, max(r) AS r FROM (
           SELECT e.src AS node, s.reg, s.r FROM edges e
             JOIN s${h - 1} s ON s.node = e.dst
           UNION ALL SELECT node, reg, r FROM s${h - 1})
         GROUP BY 1, 2)"""
    }.mkString(",\n       ")
    def est(h: Int): String =
      s"""SELECT CAST($h AS BIGINT) AS h,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(em) AS BIGINT) AS est_pairs_micros FROM (
           SELECT CAST(round((CASE WHEN (32 - cnt) > 0
               AND $alphaNum / CAST(si + (32 - cnt) * $two56 AS DOUBLE)
                 <= 80.0
             THEN 32.0 * ln(32.0 / CAST(32 - cnt AS DOUBLE))
             ELSE $alphaNum / CAST(si + (32 - cnt) * $two56 AS DOUBLE)
             END) * 1000000.0) AS BIGINT) AS em
           FROM (SELECT node,
               sum(CAST(1 AS BIGINT) << CAST(56 - r AS INT)) AS si,
               CAST(count(*) AS BIGINT) AS cnt
             FROM s$h GROUP BY 1))"""
    s"""WITH ev AS (SELECT user_id, event_id,
           TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       edges AS (SELECT src, dst FROM tr
         WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       nodes AS (SELECT src AS node FROM edges
         UNION SELECT dst FROM edges),
       nh AS (SELECT node,
           CAST(('0x' || substring(md5(CAST(node AS VARCHAR)), 1, 15))
             AS BIGINT) AS hv
         FROM nodes),
       s0 AS MATERIALIZED (SELECT node, hv % 32 AS reg,
           CASE WHEN (hv // 32) = 0 THEN 56
             ELSE CAST(bit_count(((hv // 32) & (-(hv // 32))) - 1) + 1
               AS BIGINT) END AS r
         FROM nh),
       $hops
       ${(0 to maxHops).map(est).mkString("\n       UNION ALL ")}"""
  }

  /** Oracle for `Similarity.ivfPqAdmitFromIndex` over a
    * `Similarity.ivfPqIndex` built on the id-stride corpus split
    * (q214): the [[pqTrainCtes]] codebooks/codes and seeded IVF cells
    * on the corpus (vec_id % stride ≠ 0), the stride remainder as the
    * probing batch, per-candidate ADC sums inside probed cells, hit
    * counts at the threshold, zero-hit batch rows preserved. */
  def ivfPqAdmitSql(stride: Long, m: Int, k: Int, trainIters: Int,
                    nCentroids: Int, nProbe: Int, thresholdMicros: Long,
                    dim: Int, trainStride: Long = 1): String = {
    val sub = dim / m
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings WHERE vec_id % $stride <> 0),
       ${pqTrainCtes(m, k, trainIters, trainStride, dim, "e")},
       ${ivfCellCtes(nCentroids)},
       bt AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings WHERE vec_id % $stride = 0),
       probes AS (SELECT cent_id, id AS batch_id FROM
         (SELECT bt.id, c.cent_id,
            row_number() OVER (PARTITION BY bt.id
              ORDER BY ${cosSql("bt.v", "c.cv", 6)} DESC,
                c.cent_id ASC) AS rn
          FROM bt, cent c) WHERE rn <= $nProbe),
       qd AS (SELECT s.id AS batch_id, s.j, b.cid,
           CAST(round((${pqL2("s.sv", "b.cv", sub)}) * 1000000.0)
             AS BIGINT) AS dm
         FROM (SELECT id, j, v[(j * $sub + 1):(j * $sub + $sub)] AS sv
               FROM bt, range(0, $m) t(j)) s
           JOIN b$trainIters b ON b.j = s.j),
       sc AS (SELECT p.batch_id, c.id,
           CAST(SUM(qd.dm) AS BIGINT) AS adc
         FROM enc c JOIN cells cl ON cl.id = c.id
         JOIN probes p ON p.cent_id = cl.cent_id
         JOIN qd ON qd.batch_id = p.batch_id
           AND qd.j = c.j AND qd.cid = c.cid
         GROUP BY 1, 2),
       h AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n FROM sc
         WHERE adc <= $thresholdMicros GROUP BY 1)
       SELECT bt.id AS vec_id, coalesce(h.n, 0) AS n_hits,
         coalesce(h.n, 0) > 0 AS is_dup
       FROM bt LEFT JOIN h ON h.batch_id = bt.id"""
  }

  /** Oracle for `Similarity.ivfPqResidualTopK` (q158): the [[ivfPqSql]]
    * routing, but members encode v − own-cell-centroid residuals and
    * each query scores a probed cell's candidates with the ADC table of
    * its residual against THAT cell's centroid. Residual subtraction is
    * exact IEEE on both engines; everything else is the [[pqTrainCtes]]
    * determinism story. */
  def ivfPqResidualSql(m: Int, k: Int, trainIters: Int, nCentroids: Int,
                       nProbe: Int, topK: Int, queryStride: Long,
                       dim: Int, trainStride: Long = 1): String = {
    val sub = dim / m
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       ${ivfCellCtes(nCentroids)},
       probes AS (SELECT cent_id, id AS query_id FROM rankedc
         WHERE rn <= $nProbe AND id % $queryStride = 0),
       resid AS (SELECT e.id,
           list_transform(range(1, ${dim + 1}),
             i -> e.v[i] - c.cv[i]) AS v
         FROM e JOIN cells cl ON cl.id = e.id
         JOIN cent c ON c.cent_id = cl.cent_id),
       ${pqTrainCtes(m, k, trainIters, trainStride, dim, "resid")},
       qresid AS (SELECT p.query_id, p.cent_id,
           list_transform(range(1, ${dim + 1}),
             i -> e.v[i] - c.cv[i]) AS rv
         FROM probes p JOIN e ON e.id = p.query_id
         JOIN cent c ON c.cent_id = p.cent_id),
       qsub AS (SELECT query_id, cent_id, j,
           rv[(j * $sub + 1):(j * $sub + $sub)] AS sv
         FROM qresid, range(0, $m) t(j)),
       qd AS (SELECT s.query_id, s.cent_id, s.j, b.cid,
           CAST(round((${pqL2("s.sv", "b.cv", sub)}) * 1000000.0)
             AS BIGINT) AS dm
         FROM qsub s JOIN b$trainIters b ON b.j = s.j),
       cand AS (SELECT DISTINCT p.query_id, cl.cent_id, cl.id
         FROM probes p JOIN cells cl ON cl.cent_id = p.cent_id
         WHERE cl.id <> p.query_id),
       sc AS (SELECT qd.query_id, c.id AS cand_id,
           CAST(SUM(qd.dm) AS BIGINT) AS adc_micros
         FROM enc c JOIN cand ON cand.id = c.id
         JOIN qd ON qd.query_id = cand.query_id
           AND qd.cent_id = cand.cent_id
           AND qd.j = c.j AND qd.cid = c.cid
         GROUP BY 1, 2)
       SELECT query_id, cand_id, adc_micros FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micros ASC, cand_id ASC) AS rn FROM sc)
       WHERE rn <= $topK"""
  }

  /** Oracle for `Events.funnelTrace` (q131 plain / q132 windowed): the
    * stage recurrence as chained CTEs — step-k time = min ts of step-k
    * events strictly after (and optionally within `gapSeconds` of) the
    * step-(k−1) time — unioned into the per-user trace. */
  def funnelTraceSql(steps: Seq[String],
                     gapSeconds: Option[Long] = None): String = {
    val ctes = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = '$st' GROUP BY 1)"""
      else {
        val gap = gapSeconds
          .map(g => s" AND e.ts <= s$i.t + INTERVAL '$g' SECOND")
          .getOrElse("")
        s"""s${i + 1} AS (SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN s$i ON e.user_id = s$i.user_id
           WHERE e.event_type = '$st' AND e.ts > s$i.t$gap GROUP BY 1)"""
      }
    }.mkString(",\n       ")
    val sel = steps.zipWithIndex.map { case (st, i) =>
      s"""SELECT user_id, CAST(${i + 1} AS BIGINT) AS step_idx,
         '$st' AS step, t AS ts FROM s${i + 1}"""
    }.mkString("\n       UNION ALL ")
    s"WITH $ctes\n       $sel"
  }

  /** Oracle for `Sampling.poissonBootstrap` over the events value
    * column (q130): the same md5 draw on (event_id, replicate), the
    * same [[graft.ops.Sampling.poissonThresholds]] CASE ladder (the
    * constants come from the one Scala definition), cents-exact
    * weighted sums, round-4 mean with signed-zero canonicalization. */
  def poissonBootstrapSql(replicates: Int): String = {
    val ts = graft.ops.Sampling.poissonThresholds
    val ladder = ts.zipWithIndex
      .map { case (t, k) => s"WHEN v < $t THEN $k" }.mkString(" ")
    s"""WITH r AS (SELECT event_id,
         CAST(round(value * 100) AS BIGINT) AS c, u.b AS replicate
         FROM events, UNNEST(range(0, $replicates)) u(b)),
       d AS (SELECT replicate, c, CASE $ladder ELSE ${ts.length} END AS w
         FROM (SELECT replicate, c,
             CAST('0x' || substring(md5(CAST(event_id AS VARCHAR) || '#' ||
               CAST(replicate // 4 AS VARCHAR)),
               1 + 8 * CAST(replicate % 4 AS INT), 8) AS BIGINT) AS v
           FROM r))
       SELECT CAST(replicate AS BIGINT) AS replicate,
         round(CAST(SUM(w * c) AS DOUBLE) / (SUM(w) * 100.0), 4) + 0.0
           AS mean_value
       FROM d GROUP BY replicate"""
  }

  /** Oracle for `Graph.labelPropagation` over the events transition
    * graph (q125): seeds node % 10 == 0 → 1000000 micros (trusted),
    * node % 10 == 5 → 0 (spam), prior 500000; per unrolled iteration an
    * unlabeled node takes the in-neighbor weighted mean
    * `num // den` (floor == Spark's truncating div on non-negatives),
    * seeds clamp, in-edge-free nodes keep their prior score. */
  def labelPropSql(iters: Int, priorMicros: Long = 500000L): String = {
    val seedCase = "CASE WHEN n.node % 10 = 0 THEN 1000000 " +
      "WHEN n.node % 10 = 5 THEN 0"
    val iterCtes = (1 to iters).map { i =>
      s"""s$i AS (SELECT n.node,
           CAST($seedCase
             WHEN a.num IS NOT NULL THEN a.num // a.den
             ELSE p.s END AS BIGINT) AS s
         FROM nodes n JOIN s${i - 1} p ON p.node = n.node LEFT JOIN (
           SELECT e.dst, CAST(SUM(p2.s * e.w) AS BIGINT) AS num,
             CAST(SUM(e.w) AS BIGINT) AS den
           FROM ew e JOIN s${i - 1} p2 ON p2.node = e.src
           GROUP BY 1) a ON a.dst = n.node)"""
    }.mkString(",\n       ")
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       ew AS (SELECT src, dst, count(*) AS w FROM tr
         WHERE src IS NOT NULL GROUP BY 1, 2),
       nodes AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),
       s0 AS (SELECT n.node,
         CAST($seedCase ELSE $priorMicros END AS BIGINT) AS s
         FROM nodes n),
       $iterCtes
       SELECT node, s AS score_micros,
         (node % 10 = 0 OR node % 10 = 5) AS is_seed FROM s$iters"""
  }

  /** Oracle for `Similarity.knnGraph` + `Graph.pageRank` (q124): the
    * [[ivfSql]] search with EVERY vector as a query builds the directed
    * unit-weight k-NN edge relation, and [[prCoreSql]] replays the
    * scaled-integer PageRank over it — two families composed with no new
    * primitive on either face. */
  def knnPageRankSql(k: Int, nCentroids: Int, nProbe: Int,
                     iters: Int): String =
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       cent AS (SELECT id AS cent_id, v AS cv FROM e ORDER BY id LIMIT $nCentroids),
       asg AS (SELECT id, v, cent_id FROM
         (SELECT e.id, e.v, c.cent_id,
            row_number() OVER (PARTITION BY e.id
              ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cent_id ASC) AS rn
          FROM e, cent c) WHERE rn <= $nProbe),
       q AS (SELECT cent_id, id AS query_id, v AS qv FROM asg),
       p AS (SELECT DISTINCT query_id, a.id AS cand_id,
           ${cosSql("q.qv", "a.v")} AS cos
         FROM q JOIN asg a ON q.cent_id = a.cent_id AND a.id <> q.query_id),
       knn AS (SELECT query_id, cand_id FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id ASC) AS rn FROM p)
         WHERE rn <= $k),
       edges AS (SELECT query_id AS src, cand_id AS dst,
         CAST(1 AS BIGINT) AS w FROM knn),
       ${prCoreSql(iters, 1000000L, 85L, 100L, None, dangling = false)}"""

  /** HITS over the events transition graph — replays
    * [[graft.ops.Graph.hits]]' integer max-rescaled half-steps exactly,
    * unrolled as CTEs. */
  def hitsSql(iters: Int, microScale: Long = 1000000L): String = {
    def half(outName: String, prevName: String, prevCol: String,
             joinCol: String, emitCol: String, outEdgeCol: String): String =
      s"""${outName}raw AS (SELECT e.$outEdgeCol AS node,
           CAST(SUM(p.$prevCol * e.w) AS BIGINT) AS raw
         FROM edges e JOIN $prevName p ON p.node = e.$joinCol
         GROUP BY 1),
       ${outName}mx AS (SELECT CAST(max(raw) AS BIGINT) AS mx
         FROM ${outName}raw),
       $outName AS (SELECT n.node,
           CASE WHEN mx IS NULL OR mx = 0 THEN 0
                ELSE (COALESCE(raw, 0) * $microScale) // mx
           END AS $emitCol
         FROM nodes n LEFT JOIN ${outName}raw USING (node)
           CROSS JOIN ${outName}mx)"""
    val steps = (1 to iters).flatMap { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      Seq(
        half(s"a$i", hPrev, "h", "src", "a", "dst"),
        half(s"h$i", s"a$i", "a", "dst", "h", "src"))
    }.mkString(",\n       ")
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       edges AS (SELECT src, dst, count(*) AS w FROM tr
         WHERE src IS NOT NULL GROUP BY 1, 2),
       nodes AS (SELECT src AS node FROM edges
         UNION SELECT dst FROM edges),
       h0 AS (SELECT node, CAST($microScale AS BIGINT) AS h FROM nodes),
       $steps
       SELECT h$iters.node, h AS hub_micros, a AS auth_micros
       FROM h$iters JOIN a$iters USING (node)"""
  }

  /** Deterministic weighted random walks over the events transition
    * graph — replays [[graft.ops.Graph.randomWalks]] step for step: the
    * same cumulative-bound inverse-CDF pick, the same
    * `md5(walk_id # step) mod out_w` draw (the groupedSplit md5-hex
    * idiom), steps unrolled as chained CTEs. */
  def randomWalksSql(steps: Int): String = {
    def draw(i: Int, prev: String): String =
      s"""(CAST(('0x' || substring(md5(CAST($prev.walk_id AS VARCHAR)
           || '#$i'), 1, 8)) AS BIGINT) % c.ow)"""
    val stepCtes = (1 to steps).map { i =>
      s"""s$i AS (SELECT s${i - 1}.walk_id, c.dst AS node
         FROM s${i - 1} JOIN cums c ON c.src = s${i - 1}.node
           AND ${draw(i, s"s${i - 1}")} >= c.lo
           AND ${draw(i, s"s${i - 1}")} < c.hi)"""
    }.mkString(",\n       ")
    val unions = (1 to steps).map { i =>
      s"UNION ALL SELECT walk_id, CAST($i AS BIGINT), node FROM s$i"
    }.mkString("\n       ")
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       edges AS (SELECT src, dst, count(*) AS w FROM tr
         WHERE src IS NOT NULL GROUP BY 1, 2),
       cums AS (SELECT src, dst,
           CAST(sum(w) OVER (PARTITION BY src ORDER BY dst ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w
             AS BIGINT) AS lo,
           CAST(sum(w) OVER (PARTITION BY src ORDER BY dst ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS hi,
           CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS ow
         FROM edges),
       nodes AS (SELECT src AS node FROM edges
         UNION SELECT dst FROM edges),
       s0 AS (SELECT node AS walk_id, node FROM nodes),
       $stepCtes
       SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM s0
       $unions"""
  }

  /** Per-node triangle/wedge counts over the events transition graph —
    * replays [[graft.ops.Graph.triangleCounts]]' degree-ordered
    * orientation exactly: same (deg, id) tuple order, same
    * orientation-minimal-corner production, pure integer counting. */
  /** The q114 triangle CTE chain (transition graph → degree-ordered
    * orientation → once-per-triangle wedges → per-node triangle
    * counts) — shared by [[triangleCountsSql]] and
    * [[clusteringCardSql]]. */
  private def triangleCtes: String =
    s"""ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM tr WHERE src IS NOT NULL AND src <> dst),
       deg AS (SELECT node, count(*) AS deg FROM
           (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         GROUP BY 1),
       o AS (SELECT
           CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                THEN a ELSE b END AS src,
           CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                THEN b ELSE a END AS dst,
           CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                THEN db.deg ELSE da.deg END AS ddeg
         FROM und JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
       tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         FROM o e1 JOIN o e2 ON e1.src = e2.src
           AND (e1.ddeg < e2.ddeg
             OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
         WHERE EXISTS (SELECT 1 FROM o e3
           WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
       pn AS (SELECT node, count(*) AS triangles FROM
           (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri)
         GROUP BY 1)"""

  def triangleCountsSql: String =
    s"""WITH $triangleCtes
       SELECT d.node, d.deg, d.deg * (d.deg - 1) // 2 AS wedges,
         COALESCE(pn.triangles, 0) AS triangles
       FROM deg d LEFT JOIN pn ON pn.node = d.node"""

  /** Oracle for `Graph.clusteringCard` (q292): the q114 chain, per-node
    * local coefficients as micros floors, then exact global sums —
    * transitivity Σtri_v/Σwedge_v beside the mean local coefficient. */
  def clusteringCardSql: String =
    s"""WITH $triangleCtes,
       pnj AS (SELECT d.node, d.deg * (d.deg - 1) // 2 AS wedges,
           COALESCE(pn.triangles, 0) AS triangles
         FROM deg d LEFT JOIN pn ON pn.node = d.node),
       cv AS (SELECT wedges, triangles,
           CASE WHEN wedges > 0
             THEN (1000000 * triangles) // wedges END AS c
         FROM pnj)
       SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(CASE WHEN wedges > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_wedge_nodes,
         CAST(sum(wedges) AS BIGINT) AS sum_wedges,
         CAST(sum(triangles) AS BIGINT) AS sum_tri_inc,
         CASE WHEN sum(wedges) > 0
           THEN (1000000 * CAST(sum(triangles) AS BIGINT))
             // CAST(sum(wedges) AS BIGINT) END AS transitivity_micros,
         CASE WHEN sum(CASE WHEN wedges > 0 THEN 1 ELSE 0 END) > 0
           THEN CAST(sum(c) AS BIGINT)
             // CAST(sum(CASE WHEN wedges > 0 THEN 1 ELSE 0 END)
               AS BIGINT) END
           AS avg_local_micros
       FROM cv"""

  /** Oracle for `Events.decayedEngagement` (q182): the decay table is
    * the SAME build-time constants the Spark face sums
    * (Events.decayWeightMicros — q165 ndcgWeightMicros precedent). */
  def decayedEngagementSql: String = {
    val wts = graft.ops.Events.decayWeightMicros.zipWithIndex
      .map { case (w, l) => s"($l, $w)" }.mkString(", ")
    s"""WITH pd AS (SELECT user_id,
         CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
       ref AS (SELECT max(day) AS ref FROM pd),
       wts(lg, w_micros) AS (VALUES $wts)
       SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
         CAST(sum(n * COALESCE(w_micros, 0)) AS BIGINT) AS score_micros
       FROM pd CROSS JOIN ref
       LEFT JOIN wts ON wts.lg = ref.ref - pd.day
       GROUP BY 1"""
  }

  /** Oracle for `Graph.linkPrediction` (q176): same transition-graph
    * derivation as [[triangleCountsSql]], wedge self-join on centers
    * under the degree cap, existing edges anti-joined away. */
  def linkPredictionSql(minCommon: Long, maxCenterDeg: Long): String =
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM tr WHERE src IS NOT NULL AND src <> dst),
       adj AS (SELECT a AS w, b AS n FROM und
         UNION ALL SELECT b, a FROM und),
       deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM adj
         GROUP BY 1),
       ctr AS (SELECT adj.w, adj.n FROM adj JOIN deg ON deg.w = adj.w
         WHERE deg.deg <= $maxCenterDeg),
       cn AS (SELECT x.n AS u, y.n AS v, CAST(count(*) AS BIGINT) AS cn
         FROM ctr x JOIN ctr y ON x.w = y.w AND x.n < y.n
         GROUP BY 1, 2 HAVING count(*) >= $minCommon),
       ne AS (SELECT cn.* FROM cn
         WHERE NOT EXISTS (SELECT 1 FROM und
           WHERE und.a = cn.u AND und.b = cn.v))
       SELECT u, v, cn, du.deg AS deg_u, dv.deg AS deg_v,
         (1000000 * cn) // (du.deg + dv.deg - cn) AS jaccard_micros
       FROM ne JOIN deg du ON du.w = u JOIN deg dv ON dv.w = v"""

  /** Oracle for `Graph.degreeAssortativity` (q177): symmetric edge
    * list, integer moments, one round-4 division (denominators equal
    * by symmetry — no sqrt). */
  def assortativitySql: String =
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM tr WHERE src IS NOT NULL AND src <> dst),
       adj AS (SELECT a AS s, b AS d FROM und
         UNION ALL SELECT b, a FROM und),
       deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM adj
         GROUP BY 1),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(dx.deg) AS BIGINT) AS sx,
           CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sxx,
           CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sxy
         FROM adj JOIN deg dx ON dx.s = adj.s
           JOIN deg dy ON dy.s = adj.d)
       SELECT m, sx, sxx, sxy,
         CASE WHEN m * sxx - sx * sx <> 0 THEN
           round(CAST(m * sxy - sx * sx AS DOUBLE)
             / CAST(m * sxx - sx * sx AS DOUBLE), 4) + 0.0 END
           AS assortativity
       FROM m"""

  /** Oracle for `TextAnalysis.bpeTrain` (q172): the BPE merge loop
    * unrolled as CTE blocks — per round one pair count + a 1-row
    * top-1, then the vectorized greedy merge (gaps-and-islands parity
    * for equal-symbol runs). Strings and integers only. */
  def bpeSql(merges: Int): String = bpeSqlCore(merges, applyLast = false)

  private def bpeSqlCore(merges: Int, applyLast: Boolean,
                         fertilityGroup: Option[String] = None): String = {
    val steps = (1 to merges).map { i =>
      val prev = s"s${i - 1}"
      val pairAndBest =
        s"""p$i AS (SELECT sym, nxt, CAST(SUM(freq) AS BIGINT) AS cnt
           FROM (SELECT sym, freq, lead(sym) OVER (PARTITION BY word
               ORDER BY pos ASC) AS nxt
             FROM $prev) WHERE nxt IS NOT NULL GROUP BY 1, 2),
         b$i AS (SELECT sym AS bx, nxt AS by, cnt FROM p$i
           ORDER BY cnt DESC, sym ASC, nxt ASC LIMIT 1)"""
      val mergeCtes = if (i < merges || applyLast)
        s""",
         t$i AS (SELECT s.word, s.freq, s.pos, s.sym, b.bx, b.by,
             lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos ASC)
               AS nxts,
             lag(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos ASC)
               AS lags
           FROM $prev s CROSS JOIN b$i b),
         u$i AS (SELECT *, SUM(CASE WHEN sym = bx
               AND (lags IS NULL OR lags <> bx) THEN 1 ELSE 0 END)
             OVER (PARTITION BY word ORDER BY pos ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS runid
           FROM t$i),
         v$i AS (SELECT *, MIN(CASE WHEN sym = bx THEN pos END)
             OVER (PARTITION BY word, runid) AS runmin FROM u$i),
         w$i AS (SELECT *, (sym = bx AND nxts = by
             AND (bx <> by OR (pos - runmin) % 2 = 0)) AS strt
           FROM v$i),
         x$i AS (SELECT *, COALESCE(lag(strt) OVER (PARTITION BY word
             ORDER BY pos ASC), FALSE) AS scnd FROM w$i),
         s$i AS (SELECT word, freq,
             row_number() OVER (PARTITION BY word ORDER BY pos ASC)
               AS pos,
             CASE WHEN strt THEN bx || by ELSE sym END AS sym
           FROM x$i WHERE NOT scnd)"""
      else ""
      pairAndBest + mergeCtes
    }.mkString(",\n       ")
    val outs =
      if (applyLast && fertilityGroup.isDefined) {
        val g = fertilityGroup.get
        s"""wtok AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub
           FROM s$merges GROUP BY 1),
         docw AS (SELECT $g, w AS word
           FROM (SELECT $g, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE length(w) > 0)
         SELECT $g, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars,
           CAST(sum(n_sub) AS BIGINT) AS n_tokens,
           (1000000 * CAST(sum(n_sub) AS BIGINT))
             // CAST(count(*) AS BIGINT) AS fertility_micros,
           (1000000 * CAST(sum(length(word)) AS BIGINT))
             // CAST(sum(n_sub) AS BIGINT) AS chars_per_token_micros
         FROM docw JOIN wtok USING (word) GROUP BY 1"""
      } else if (applyLast)
        s"""wtok AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub
           FROM s$merges GROUP BY 1),
         docw AS (SELECT doc_id, w AS word
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents)
           WHERE length(w) > 0)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars_tok,
           CAST(sum(n_sub) AS BIGINT) AS n_bpe_tokens,
           (1000000 * CAST(sum(n_sub) AS BIGINT))
             // CAST(sum(length(word)) AS BIGINT) AS compression_micros
         FROM docw JOIN wtok USING (word) GROUP BY 1"""
      else
        (1 to merges).map(i =>
          s"""SELECT CAST($i AS BIGINT) AS step, bx AS lhs, by AS rhs,
             cnt AS pair_count FROM b$i""").mkString("\n       UNION ALL ")
    val lead = if (applyLast) s",\n       " else "\n       "
    s"""WITH words AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(string_split(text, ' ')) AS w
           FROM documents)
         WHERE length(w) > 0 GROUP BY 1),
       s0 AS (SELECT w.word, w.freq, u.i AS pos,
           CASE WHEN u.i = length(w.word)
             THEN substring(w.word, CAST(u.i AS INT), 1) || '</w>'
             ELSE substring(w.word, CAST(u.i AS INT), 1) END AS sym
         FROM words w,
           UNNEST(generate_series(1, CAST(length(w.word) AS BIGINT)))
             AS u(i)),
       $steps$lead$outs"""
  }

  /** Oracle for `TextAnalysis.bpeEncode` (q185): the SAME unrolled
    * merge loop as [[bpeSql]] but every learned rule is APPLIED
    * (including the last), then the per-word token counts roll up to
    * the per-doc compression card. */
  def bpeEncodeSql(merges: Int): String = bpeSqlCore(merges, applyLast = true)

  /** Oracle for `TextAnalysis.bpeFertility` (q290): the same unrolled
    * fit-and-apply loop as [[bpeEncodeSql]], rolled up by the group
    * column with the fertility/chars-per-token floors. */
  def bpeFertilitySql(merges: Int, groupCol: String): String =
    bpeSqlCore(merges, applyLast = true, fertilityGroup = Some(groupCol))

  /** Oracle for `Similarity.mmrRerank` (q170): the λ=1/2 greedy MMR
    * loop unrolled as CTEs — pick 1 is pure relevance; each later pick
    * is argmax of `rel − max sim-to-selected`, a subtraction of two
    * round-4 doubles (bit-identical across engines), ties to the
    * smaller cand_id. */
  def mmrSql(candK: Int, k: Int, stride: Long): String = {
    val steps = (2 to k).map { i =>
      s"""p$i AS (SELECT query_id, cand_id, v, rel,
           CAST($i AS BIGINT) AS pick FROM (
           SELECT c.query_id, c.cand_id, c.v, c.rel,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY c.rel - m.maxsim DESC, c.cand_id ASC) AS rn
           FROM (SELECT c2.query_id, c2.cand_id,
               MAX(${cosSql("c2.v", "s.v", 4)}) AS maxsim
             FROM cand c2 JOIN r${i - 1} s ON s.query_id = c2.query_id
             WHERE NOT EXISTS (SELECT 1 FROM r${i - 1} x
               WHERE x.query_id = c2.query_id
                 AND x.cand_id = c2.cand_id)
             GROUP BY 1, 2) m
           JOIN cand c ON c.query_id = m.query_id
             AND c.cand_id = m.cand_id) WHERE rn = 1),
         r$i AS MATERIALIZED (SELECT * FROM r${i - 1}
           UNION ALL SELECT * FROM p$i)"""
    }.mkString(",\n       ")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
       q AS (SELECT id AS query_id, v AS qv FROM e WHERE id % $stride = 0),
       pairs AS (SELECT query_id, e.id AS cand_id, e.v,
           ${cosSql("qv", "e.v", 4)} AS rel
         FROM e, q WHERE e.id <> query_id),
       cand AS (SELECT query_id, cand_id, v, rel FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, cand_id ASC) AS rn
           FROM pairs) WHERE rn <= $candK),
       r1 AS (SELECT query_id, cand_id, v, rel,
           CAST(1 AS BIGINT) AS pick FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, cand_id ASC) AS rn
           FROM cand) WHERE rn = 1),
       $steps
       SELECT query_id, pick, cand_id, rel FROM r$k"""
  }

  /** Oracle for `Graph.coreness` (q169): the iterated-H-operator
    * recurrence unrolled as CTEs — per iteration the per-node h-index
    * is `MAX(LEAST(value, rank))` over neighbour values sorted
    * descending, exactly the Spark window; every quantity is BIGINT so
    * the replay is bit-for-bit (tie order in the sort is provably
    * value-invariant). */
  def corenessSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""c$i AS (SELECT node, MAX(LEAST(cn, rk)) AS c FROM (
           SELECT t.node, p.c AS cn,
             row_number() OVER (PARTITION BY t.node
               ORDER BY p.c DESC) AS rk
           FROM adj t JOIN c${i - 1} p ON p.node = t.nb)
         GROUP BY 1)"""
    }.mkString(",\n       ")
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM tr WHERE src IS NOT NULL AND src <> dst),
       adj AS (SELECT a AS node, b AS nb FROM und
         UNION ALL SELECT b, a FROM und),
       c0 AS (SELECT node, COUNT(*) AS c FROM adj GROUP BY 1),
       $iterCtes
       SELECT node, c AS coreness FROM c$iters"""
  }

  /** Oracle for `Graph.wlColors` (q306): the q169 transition-graph
    * CTEs, then `iters` unrolled Weisfeiler–Lehman rounds — each a
    * MATERIALIZED (node, color) relation built by hashing own color
    * with the SORTED neighbor-color list; pure string/integer work. */
  def wlColorsSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""w$i AS MATERIALIZED (SELECT t.node,
           substring(md5(p0.c || '|' ||
             array_to_string(list_sort(list(p.c)), ',')), 1, 16) AS c
         FROM adj t JOIN w${i - 1} p ON p.node = t.nb
           JOIN w${i - 1} p0 ON p0.node = t.node
         GROUP BY t.node, p0.c)"""
    }.mkString(",\n       ")
    s"""WITH ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM tr WHERE src IS NOT NULL AND src <> dst),
       adj AS (SELECT a AS node, b AS nb FROM und
         UNION ALL SELECT b, a FROM und),
       w0 AS (SELECT node, '0' AS c FROM
         (SELECT DISTINCT node FROM adj)),
       $iterCtes
       SELECT node, c AS wl_color FROM w$iters"""
  }

  /** Oracle for `Sketches.cmsReplay` (q260): the deterministic CMS
    * counter table (q222 md5-prefix seed hash, mod `width` buckets)
    * probed for the exact top-`topK` lineitem part keys — est ≥ exact
    * by construction, pinned cross-engine. */
  def cmsReplaySql(depth: Int, width: Int, topK: Int): String = {
    def bucket(iExpr: String, kExpr: String): String =
      s"""CAST(('0x' || substring(md5(CAST($iExpr AS VARCHAR) || '|'
         || CAST($kExpr AS VARCHAR)), 1, 8)) AS BIGINT) % $width"""
    s"""WITH cnt AS (SELECT l_partkey AS k,
         CAST(count(*) AS BIGINT) AS cnt
         FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
       d AS (SELECT i FROM
         UNNEST([${(0 until depth).mkString(", ")}]) AS t(i)),
       cells AS (SELECT i, ${bucket("i", "k")} AS b,
           CAST(sum(cnt) AS BIGINT) AS c
         FROM cnt, d GROUP BY 1, 2),
       top AS (SELECT k, cnt FROM cnt
         ORDER BY cnt DESC, k ASC LIMIT $topK),
       probe AS (SELECT top.k, top.cnt, d.i,
           ${bucket("d.i", "top.k")} AS b
         FROM top, d)
       SELECT probe.k, probe.cnt AS exact,
         CAST(min(c.c) AS BIGINT) AS est,
         CAST(min(c.c) - probe.cnt AS BIGINT) AS overest
       FROM probe JOIN cells c ON c.i = probe.i AND c.b = probe.b
       GROUP BY 1, 2"""
  }

  /** `t` and `p`: the transition matrix over `pr`(from_type, to_type,
    * n) as row-normalized integer micros — shared by every session
    * Markov oracle. */
  private val transitionMicrosCtes: String =
    """t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM pr
         GROUP BY 1),
       p AS MATERIALIZED (SELECT pr.from_type, to_type,
           (n * 1000000) // tot AS p_micros
         FROM pr JOIN t ON pr.from_type = t.from_type)"""

  /** Oracle for the session-Markov funnels `Events.sessionMarkovFunnel`
    * (q257) and `sessionMarkovFunnel2` (q283): `pairCtes` ends in
    * `pr`(from_type, to_type, n), the in-session transition counts with
    * an absorbing 'purchase'; then the q220 unrolled 8-step absorption
    * chain. Each step CTE is read twice (carry + increment join) ->
    * MATERIALIZED (the q192 inlining hazard). */
  def sessionMarkovFunnelSql(pairCtes: String): String = {
    val stepCtes = (2 to 8).map { h =>
      s"""s$h AS MATERIALIZED (SELECT pc.state,
           pc.pconv + COALESCE(inc.i, 0) AS c,
           pr.sacc + pr.c AS sacc
         FROM pc JOIN s${h - 1} pr ON pr.state = pc.state
         LEFT JOIN (SELECT q.from_type AS st,
             CAST(sum((q.p_micros * cc.c) // 1000000) AS BIGINT) AS i
           FROM q JOIN s${h - 1} cc ON cc.state = q.to_type
           GROUP BY 1) inc ON inc.st = pc.state)"""
    }.mkString(",\n       ")
    s"""WITH $pairCtes,
       $transitionMicrosCtes,
       pc AS MATERIALIZED (SELECT from_type AS state,
           COALESCE(max(CASE WHEN to_type = 'purchase'
             THEN p_micros END), 0) AS pconv
         FROM p GROUP BY 1),
       q AS (SELECT from_type, to_type, p_micros FROM p
         WHERE to_type <> 'purchase'),
       s1 AS MATERIALIZED (SELECT state, pconv AS c,
         CAST(0 AS BIGINT) AS sacc FROM pc),
       $stepCtes
       SELECT state, CAST(c AS BIGINT) AS conv_micros,
         CASE WHEN c > 0
           THEN CAST((1000000 * (8 * c - sacc)) // c AS BIGINT)
         END AS exp_steps_cond_micros
       FROM s8"""
  }

  /** The session-chain CTE head of the Markov removal oracles (q263,
    * q267): in-session pairs within `gapSeconds` with an absorbing
    * 'purchase', their micros matrix `p`, and `w`(state, n), each
    * session's initial-state count. */
  private def markovRemovalHead(gapSeconds: Long): String =
    s"""seq AS (SELECT user_id, event_type AS from_type,
         lead(event_type) OVER w2 AS to_type,
         CAST(epoch(date_trunc('second', lead(ts) OVER w2)) AS BIGINT)
           - CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS gap
         FROM events
         WINDOW w2 AS (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC)),
       pr AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         FROM seq WHERE to_type IS NOT NULL AND gap <= $gapSeconds
           AND from_type <> 'purchase' GROUP BY 1, 2),
       $transitionMicrosCtes,
       ini AS (SELECT event_type AS state,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT)
             - CAST(epoch(date_trunc('second',
                 lag(ts) OVER w3)) AS BIGINT) AS gap
         FROM events
         WINDOW w3 AS (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC)),
       w AS (SELECT state, CAST(count(*) AS BIGINT) AS n FROM ini
         WHERE gap IS NULL OR gap > $gapSeconds GROUP BY 1)"""

  /** One removal variant of the Markov removal oracles: the step chain
    * over `p` without the from_type rows that `filt` (an `AND …` SQL
    * suffix, empty for the full chain) excludes, scored as
    * `p_$tag`(pm), the session-weighted conversion after `steps`. */
  private def markovRemovalVariant(tag: String, filt: String,
                                   steps: Int): String = {
    val stepCtes = (2 to steps).map { h =>
      s"""s${h}_$tag AS MATERIALIZED (SELECT pc.state,
           pc.pconv + COALESCE(inc.i, 0) AS c
         FROM pc_$tag pc
         LEFT JOIN (SELECT q.from_type AS st,
             CAST(sum((q.p_micros * cc.c) // 1000000) AS BIGINT) AS i
           FROM q_$tag q JOIN s${h - 1}_$tag cc
             ON cc.state = q.to_type
           GROUP BY 1) inc ON inc.st = pc.state)"""
    }.mkString(",\n       ")
    s"""pc_$tag AS MATERIALIZED (SELECT from_type AS state,
         COALESCE(max(CASE WHEN to_type = 'purchase'
           THEN p_micros END), 0) AS pconv
       FROM p WHERE TRUE$filt GROUP BY 1),
     q_$tag AS (SELECT from_type, to_type, p_micros FROM p
       WHERE to_type <> 'purchase'$filt),
     s1_$tag AS MATERIALIZED (SELECT state, pconv AS c FROM pc_$tag),
     $stepCtes,
     p_$tag AS (SELECT CAST(sum(n * COALESCE(cc.c, 0)) // sum(n)
         AS BIGINT) AS pm
       FROM w LEFT JOIN s${steps}_$tag cc ON cc.state = w.state)"""
  }

  /** Oracle for `Events.markovRemovalEffects` (q263): the q257
    * session-chain CTE head (transitions + session-initial weights),
    * then ONE unrolled step-chain family per variant (full + one per
    * removed state: the variant's pc/q filter `from_type <> removed`,
    * probabilities NOT renormalized), scored by the session-weighted
    * conversion sum. Step CTEs are MATERIALIZED (read twice — q192). */
  def markovRemovalSql(removeStates: Seq[String], steps: Int,
                       gapSeconds: Long): String = {
    def variant(tag: String, excl: Option[String]): String =
      markovRemovalVariant(tag,
        excl.map(s => s" AND from_type <> '$s'").getOrElse(""), steps)
    val variants = variant("full", None) +: removeStates.zipWithIndex
      .map { case (s, i) => variant(s"r$i", Some(s)) }
    val outs = removeStates.zipWithIndex.map { case (s, i) =>
      s"""SELECT '$s' AS state, f.pm AS p_full_micros,
           r.pm AS p_removed_micros,
           CASE WHEN f.pm > 0
             THEN (1000000 * (f.pm - r.pm)) // f.pm
           END AS removal_effect_micros
         FROM p_full f, p_r$i r"""
    }.mkString("\n       UNION ALL ")
    s"""WITH ${markovRemovalHead(gapSeconds)},
       ${variants.mkString(",\n       ")}
       $outs"""
  }

  /** Oracle for `Events.markovPairRemovalEffects` (q267): the q263
    * session-chain CTE head, then one unrolled step-chain family per
    * variant — full, one per DISTINCT single state, one per pair (the
    * variant filter is `from_type NOT IN (...)`) — scored by the
    * session-weighted conversion sum; synergy is the signed subtraction
    * of the two already-floored effect ratios (NULL-propagating when
    * P_full = 0, mirroring the Spark when-chain). */
  def markovPairRemovalSql(removePairs: Seq[(String, String)],
                           steps: Int, gapSeconds: Long): String = {
    val singles = removePairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val singleTag = singles.zipWithIndex.toMap
    def variant(tag: String, excl: Seq[String]): String = {
      val filt = if (excl.isEmpty) ""
        else s" AND from_type NOT IN (${excl.map(s => s"'$s'")
          .mkString(", ")})"
      markovRemovalVariant(tag, filt, steps)
    }
    val variants = variant("full", Nil) +:
      (singles.map(s => variant(s"s${singleTag(s)}", Seq(s))) ++
        removePairs.zipWithIndex.map { case ((a, b), i) =>
          variant(s"pr$i", Seq(a, b)) })
    val outs = removePairs.zipWithIndex.map { case ((a, b), i) =>
      s"""SELECT '$a' AS state_a, '$b' AS state_b,
           f.pm AS p_full_micros, pr.pm AS p_pair_micros,
           CASE WHEN f.pm > 0
             THEN (1000000 * (f.pm - pr.pm)) // f.pm
           END AS pair_effect_micros,
           CASE WHEN f.pm > 0
             THEN (1000000 * (f.pm - sa.pm)) // f.pm
               + (1000000 * (f.pm - sb.pm)) // f.pm
           END AS single_sum_micros,
           (CASE WHEN f.pm > 0
             THEN (1000000 * (f.pm - pr.pm)) // f.pm END)
           - (CASE WHEN f.pm > 0
             THEN (1000000 * (f.pm - sa.pm)) // f.pm
               + (1000000 * (f.pm - sb.pm)) // f.pm END)
             AS synergy_micros
         FROM p_full f, p_pr$i pr, p_s${singleTag(a)} sa,
           p_s${singleTag(b)} sb"""
    }.mkString("\n       UNION ALL ")
    s"""WITH ${markovRemovalHead(gapSeconds)},
       ${variants.mkString(",\n       ")}
       $outs"""
  }

  /** Oracle for `Events.shapleyAttribution` (q264): gap-session
    * channel sets, coalition conversion rates, and the SAME
    * build-time (channel, with, without, weight) spine rows the Spark
    * face joins (Events.shapleySpine — the decayedEngagement shared-
    * constants precedent), scored by the two independently-floored
    * non-negative sums. */
  def shapleySql(channels: Seq[String], gapSeconds: Long): String = {
    val chanList = channels.map(c => s"'$c'").mkString(", ")
    val spineRows = graft.ops.Events.shapleySpine(channels)
      .map { case (ch, wc, wo, wm) => s"('$ch', '$wc', '$wo', $wm)" }
      .mkString(",\n           ")
    s"""WITH b AS (SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(ts) OVER w2 IS NULL
           OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
             - CAST(epoch(date_trunc('second', lag(ts) OVER w2))
                 AS BIGINT) > $gapSeconds
           THEN 1 ELSE 0 END AS brk
         FROM events
         WINDOW w2 AS (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC)),
       s AS (SELECT user_id, event_type,
           sum(brk) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM b),
       per AS (SELECT user_id, sid,
           COALESCE(array_to_string(list_sort(list_distinct(
             list(event_type)
               FILTER (WHERE event_type IN ($chanList)))), ','), '')
             AS coal,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS conv
         FROM s GROUP BY 1, 2),
       cv AS (SELECT coal,
           (1000000 * CAST(sum(conv) AS BIGINT)) // count(*) AS v
         FROM per GROUP BY 1),
       sp AS (SELECT * FROM (VALUES
           $spineRows)
         t(channel, with_coal, without_coal, w_micros))
       SELECT channel,
         CAST(sum(w_micros * COALESCE(vw.v, 0)) // 1000000 AS BIGINT)
           AS gain_micros,
         CAST(sum(w_micros * COALESCE(vo.v, 0)) // 1000000 AS BIGINT)
           AS loss_micros,
         CAST(sum(w_micros * COALESCE(vw.v, 0)) // 1000000
           - sum(w_micros * COALESCE(vo.v, 0)) // 1000000 AS BIGINT)
           AS phi_micros
       FROM sp LEFT JOIN cv vw ON vw.coal = sp.with_coal
         LEFT JOIN cv vo ON vo.coal = sp.without_coal
       GROUP BY 1"""
  }

  /** The `daily`(`g`, day, y) CTE of the daily-series oracles: events
    * per (event type, UTC calendar day), the event type aliased as `g`. */
  private[graft] def dailyCte(g: String): String =
    s"""daily AS (SELECT event_type AS $g,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
             CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2)"""

  /** Oracle for `Events.dailyPacf` (q258): the common-mean ACF in
    * HUGEINT (n·y − S devs, exact 128-bit moment sums), one mirrored
    * double division per ρ, then the Durbin–Levinson triangle unrolled
    * as chained CTEs whose expressions are built by the SAME loops as
    * the Spark face (identical left-association ⇒ identical bits). */
  def dailyPacfSql(maxLag: Int): String = {
    require(maxLag >= 1 && maxLag <= 6, "need 1 <= maxLag <= 6")
    val cPiv = (1 to maxLag).map(h =>
      s"max(CASE WHEN lag = $h THEN ch END) AS c$h")
      .mkString(",\n           ")
    val rCols = (1 to maxLag).map(h =>
      s"""CASE WHEN cz.c0 > 0 THEN CAST(c$h AS DOUBLE)
             / CAST(cz.c0 AS DOUBLE) END AS r$h""")
      .mkString(",\n           ")
    val levels = new StringBuilder(
      "lvl1 AS (SELECT *, r1 AS p1_1 FROM rr)")
    var prev = "lvl1"
    for (h <- 2 to maxLag) {
      val num = s"(r$h - ${(1 until h)
        .map(j => s"(p${h - 1}_$j * r${h - j})")
        .reduce((x, y) => s"($x + $y)")})"
      val den = s"(1.0 - ${(1 until h)
        .map(j => s"(p${h - 1}_$j * r$j)")
        .reduce((x, y) => s"($x + $y)")})"
      levels.append(s""",
       d$h AS (SELECT *, CASE WHEN $den <> 0
           THEN $num / $den END AS p${h}_$h FROM $prev)""")
      prev = s"d$h"
      if (h < maxLag) {
        val inner = (1 until h).map(j =>
          s"p${h - 1}_$j - (p${h}_$h * p${h - 1}_${h - j}) AS p${h}_$j")
          .mkString(", ")
        levels.append(s""",
       b$h AS (SELECT *, $inner FROM d$h)""")
        prev = s"b$h"
      }
    }
    val outs = (1 to maxLag).map(h =>
      s"""SELECT grp AS event_type, CAST($h AS BIGINT) AS lag,
           round(p${h}_$h, 4) + 0.0 AS pacf FROM $prev""")
      .mkString("\n       UNION ALL ")
    s"""WITH ${dailyCte("grp")},
       st AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS s
         FROM daily GROUP BY 1),
       dev AS MATERIALIZED (SELECT daily.grp, day, n * y - s AS d
         FROM daily JOIN st USING (grp)),
       cz AS (SELECT grp, sum(CAST(d AS HUGEINT) * d) AS c0
         FROM dev GROUP BY 1),
       ch AS (SELECT a.grp, u.lag, sum(CAST(a.d AS HUGEINT) * b.d) AS ch
         FROM dev a
         CROSS JOIN UNNEST([${(1 to maxLag).mkString(", ")}]) AS u(lag)
         JOIN dev b ON b.grp = a.grp AND b.day = a.day + u.lag
         GROUP BY 1, 2),
       piv AS (SELECT grp, $cPiv FROM ch GROUP BY 1),
       rr AS (SELECT cz.grp, $rCols
         FROM cz LEFT JOIN piv ON piv.grp = cz.grp),
       $levels
       $outs"""
  }

  /** The per-round support CTE chain shared by every `kTrussSql` round
    * r over edge set e{r-1}: recomputed degrees, degree-ordered
    * orientation, once-per-triangle wedge enumeration, per-undirected-
    * edge support count (the q114 triangle oracle, edge-keyed).
    * `tag` suffixes the CTE names so several peel chains (the q265
    * hierarchy) can share one query; round 1 always reads the shared
    * untagged base `e0`. */
  private def trussSupportCtes(r: Int, tag: String = "",
                               base: String = "e0"): String = {
    val src = if (r == 1) base else s"e${r - 1}$tag"
    s"""deg$r$tag AS (SELECT node, count(*) AS deg FROM
           (SELECT a AS node FROM $src UNION ALL SELECT b
            FROM $src) GROUP BY 1),
       o$r$tag AS MATERIALIZED (SELECT
           CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                THEN a ELSE b END AS src,
           CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                THEN b ELSE a END AS dst,
           CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                THEN db.deg ELSE da.deg END AS ddeg
         FROM $src JOIN deg$r$tag da ON da.node = a
           JOIN deg$r$tag db ON db.node = b),
       tri$r$tag AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         FROM o$r$tag e1 JOIN o$r$tag e2 ON e1.src = e2.src
           AND (e1.ddeg < e2.ddeg
             OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
         WHERE EXISTS (SELECT 1 FROM o$r$tag e3
           WHERE e3.src = e1.dst AND e3.dst = e2.dst)),
       sup$r$tag AS (SELECT a, b, count(*) AS support FROM
           (SELECT least(u, v) AS a, greatest(u, v) AS b FROM tri$r$tag
            UNION ALL SELECT least(u, w), greatest(u, w) FROM tri$r$tag
            UNION ALL SELECT least(v, w), greatest(v, w) FROM tri$r$tag)
         GROUP BY 1, 2)"""
  }

  /** One tagged peel chain (rounds × support+filter CTEs) from `base`
    * — the q265 building block; the hierarchy chains each k's base to
    * the previous k's survivors (the nesting restart). */
  private def trussPeelCtes(k: Int, rounds: Int, tag: String,
                            base: String = "e0"): String =
    (1 to rounds).map { r =>
      val src = if (r == 1) base else s"e${r - 1}$tag"
      s"""${trussSupportCtes(r, tag, base)},
       e$r$tag AS MATERIALIZED (SELECT e.a, e.b FROM $src e
         JOIN sup$r$tag s ON s.a = e.a AND s.b = e.b
         WHERE s.support >= ${k - 2})"""
    }.mkString(",\n       ")

  /** The full k-truss peel CTE chain (transition-graph edges e0, then
    * `rounds` support-peel rounds ending at e$rounds) — shared by
    * [[kTrussSql]] and [[trussCommunitiesSql]]. */
  /** The transition-graph base `e0` shared by every peel chain. */
  private def trussHeadCtes: String =
    s"""ev AS (SELECT user_id, event_id,
         TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         FROM events),
       tr AS (SELECT lag(k) OVER (PARTITION BY user_id
             ORDER BY event_id ASC) AS src, k AS dst
         FROM ev WHERE k IS NOT NULL),
       e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
           greatest(src, dst) AS b
         FROM tr WHERE src IS NOT NULL AND src <> dst)"""

  private def kTrussChain(k: Int, rounds: Int): String =
    s"""$trussHeadCtes,
       ${trussPeelCtes(k, rounds, "")}"""

  /** Oracle for `Graph.trussHierarchy` (q265): tagged peel chains with
    * each k's base = the previous k's survivors (the nesting restart
    * the Spark face runs), trussness = highest surviving k via left
    * joins (2 if the edge is in no 3-truss — every edge is a 2-truss
    * member by definition). */
  def trussHierarchySql(maxK: Int, rounds: Int): String = {
    val chains = (3 to maxK)
      .map(k => trussPeelCtes(k, rounds, s"k$k",
        base = if (k == 3) "e0" else s"e${rounds}k${k - 1}"))
      .mkString(",\n       ")
    val joins = (3 to maxK).map(k =>
      s"LEFT JOIN e$rounds" + s"k$k t$k ON t$k.a = e0.a AND t$k.b = e0.b")
      .mkString("\n       ")
    val pick = (maxK to 3 by -1)
      .map(k => s"CASE WHEN t$k.a IS NOT NULL THEN $k END")
      .mkString(", ")
    s"""WITH $trussHeadCtes,
       $chains
       SELECT e0.a, e0.b,
         CAST(COALESCE($pick, 2) AS BIGINT) AS trussness
       FROM e0
       $joins"""
  }

  /** Oracle for `Graph.kTruss` (q256): the support peel unrolled as
    * MATERIALIZED round CTEs (each round's edge set is read three
    * times — degrees, orientation, semi join — the q192 inlining
    * hazard) over the standard transition-graph edges. */
  def kTrussSql(k: Int, rounds: Int): String = {
    val f = rounds + 1
    s"""WITH ${kTrussChain(k, rounds)},
       ${trussSupportCtes(f)}
       SELECT e.a, e.b, COALESCE(s.support, 0) AS support
       FROM e$rounds e LEFT JOIN sup$f s ON s.a = e.a AND s.b = e.b"""
  }

  /** Oracle for `Graph.peelConvergence` (q287): the [[kTrussChain]]
    * peel unrolled, then pure edge counts of the start, previous and
    * final rounds — converged iff the final round removed nothing
    * (a dry round is a fixpoint of the support peel). */
  def trussConvergenceSql(k: Int, rounds: Int): String =
    s"""WITH ${kTrussChain(k, rounds)}
       SELECT CAST($k AS BIGINT) AS k, CAST($rounds AS BIGINT) AS rounds,
         (SELECT count(*) FROM e0) AS edges_start,
         (SELECT count(*) FROM e$rounds) AS edges_final,
         (SELECT count(*) FROM e${rounds - 1})
           - (SELECT count(*) FROM e$rounds) AS removed_final_round,
         (SELECT count(*) FROM e${rounds - 1})
           = (SELECT count(*) FROM e$rounds) AS converged"""

  /** Oracle for `Graph.trussCommunities` (q261): the [[kTrussChain]]
    * peel, then one recursive reachability closure over the survivor
    * edges (the q45 `reach` pattern) — community id = component-min
    * node id, plus the community size. */
  def trussCommunitiesSql(k: Int, rounds: Int): String =
    s"""WITH RECURSIVE ${kTrussChain(k, rounds)},
       tnodes AS (SELECT a AS id FROM e$rounds
         UNION SELECT b FROM e$rounds),
       tund AS (SELECT a AS src, b AS dst FROM e$rounds
         UNION ALL SELECT b, a FROM e$rounds),
       treach AS (
         SELECT id, id AS r FROM tnodes
         UNION
         SELECT e.dst AS id, treach.r AS r
         FROM treach JOIN tund e ON e.src = treach.id
       ),
       comp AS (SELECT id AS node, min(r) AS community_id
         FROM treach GROUP BY id),
       szs AS (SELECT community_id, CAST(count(*) AS BIGINT)
           AS community_size
         FROM comp GROUP BY 1)
       SELECT node, comp.community_id, community_size
       FROM comp JOIN szs ON szs.community_id = comp.community_id"""
}
