package graft.tools

import org.apache.spark.sql.functions._

/** Calibration probe for the q45 scale path: is the banded MinHash-LSH
  * candidate stage COMPLETE against the exact 2-gram-Jaccard≥t relation on
  * the test corpora (the q45 oracle is a recursive closure over exactly
  * that relation, so a single missed pair flips hashes)? Also prints the
  * simhash hamming histogram at tighter thresholds, to locate a threshold
  * regime where tight-radius (maxHamming ≤ 3 ⇒ 16-bit chunk) banding is
  * complete. */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(master = "local[32]",
      shufflePartitions = Some(32))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // probe-only rotation application (collect-rotate-recreate; the
    // production application is a per-row map like opqRotate)
    def applyRotation(df: org.apache.spark.sql.DataFrame,
                      r: Array[Array[Double]]) = {
      val dim = r.length
      df.select(col("vec_id"),
          col("embedding").cast("array<double>"))
        .as[(Long, Array[Double])].collect()
        .map { case (id, v) =>
          (id, Array.tabulate(dim) { i =>
            var s = 0.0; var j = 0
            while (j < dim) { s += v(j) * r(j)(i); j += 1 }
            s
          })
        }.toSeq.toDF("vec_id", "embedding")
    }
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/sf$sf/documents.parquet")
      val exact = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text",
          shingleSize = 2, threshold = 0.8)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val mh = graft.ops.Dedup.minHashNearDups(docs, "doc_id", "text",
          k = 32, bands = 16, shingleSize = 2, minEstJaccard = 0.4,
          threshold = 0.8)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      println(s"SF$sf exact=${exact.size} minhash=${mh.size} " +
        s"missed=${(exact -- mh).size} extra=${(mh -- exact).size} " +
        s"missedPairs=${(exact -- mh).take(5)}")
      // tight-radius feasibility: max simhash hamming among exact pairs
      // at stricter thresholds
      import graft.functions.SimHash64.simhash64
      val feats = graft.ops.Dedup.shingles(split(col("text"), " "), 2)
      val sigs = docs.select(col("doc_id"), simhash64(feats).as("sh"))
      for (t <- Seq(0.85, 0.9, 0.95)) {
        val tp = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text",
          shingleSize = 2, threshold = t)
        val ham = tp
          .join(sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
          .select(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("h"))
          .agg(count(lit(1)), max(col("h"))).collect()(0)
        println(s"SF$sf t=$t pairs=${ham.getLong(0)} maxHamming=${if (ham.isNullAt(1)) "-" else ham.get(1)}")
      }
    }
    // Multi-probe ANN operating-point sweep (round-6 brief #7): recall@5
    // of Similarity.lshTopK vs brute force for probeBits 0..8, with the
    // candidate-pair volume (the cost axis — query-side fan-out is
    // (1 + probeBits)x rows into the bucket join; the stored index never
    // changes). Printed as a markdown row per point for PLANS.md.
    {
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      def topSets(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val bf = topSets(graft.ops.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", k = 5, stride = 100))
      println("| probeBits | recall@5 | candidate pairs |")
      println("|---|---|---|")
      for (pb <- 0 to 8) {
        val got = topSets(graft.ops.Similarity.lshTopK(
          emb, "vec_id", "embedding", k = 5, nBits = 16, dim = 64,
          probeBits = pb))
        val recalls = bf.map { case (q, truth) =>
          got.get(q).map(c => (c & truth).size.toDouble / truth.size)
            .getOrElse(0.0) }
        val cands = graft.ops.Similarity.lshCandidatePairs(
          emb, "vec_id", "embedding", nBits = 16, dim = 64,
          probeBits = pb).count()
        println(f"| $pb | ${recalls.sum / recalls.size}%.3f | $cands |")
      }
    }
    // Residual vs raw IVF-PQ encoding at the SAME bytes (q129 vs q158
    // params): recall@5 against brute-force cosine. Residual encoding
    // spends the m·k codewords on within-cell structure — the classic
    // Jégou §V.B refinement this block quantifies on our corpus.
    {
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      def topSets(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val bf = topSets(graft.ops.Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", k = 5, stride = 100))
      def recall(got: Map[Long, Set[Long]]): Double = {
        val rs = bf.map { case (q, truth) =>
          got.get(q).map(c => (c & truth).size.toDouble / truth.size)
            .getOrElse(0.0) }
        rs.sum / rs.size
      }
      val raw = topSets(graft.ops.Similarity.ivfPqTopK(
        emb, "vec_id", "embedding", m = 8, k = 64, trainIters = 3,
        nCentroids = 16, nProbe = 2, topK = 5, queryStride = 100,
        trainStride = 4))
      val res = topSets(graft.ops.Similarity.ivfPqResidualTopK(
        emb, "vec_id", "embedding", m = 8, k = 64, trainIters = 3,
        nCentroids = 16, nProbe = 2, topK = 5, queryStride = 100,
        trainStride = 4))
      println(f"IVFPQ recall@5 (cosine truth) raw=${recall(raw)}%.3f " +
        f"residual=${recall(res)}%.3f (m=8 k=64 iters=3 nProbe=2 " +
        "trainStride=4, same bytes)")
      // ADC approximates L2, not cosine — also score both against the
      // exact L2 top-5 so quantization quality is not confounded by the
      // metric mismatch on non-normalized vectors
      val base = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      val l2truth = base.filter(col("id") % 100 === 0)
        .select(col("id").as("query_id"), col("v").as("qv"))
        .join(base.select(col("id").as("cand_id"), col("v")), lit(true))
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          aggregate(zip_with(col("qv"), col("v"),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d2"))
      val l2bf = graft.ops.Windows.topKPerGroup(l2truth,
        Seq(col("query_id")), Seq(col("d2").asc, col("cand_id").asc), 5)
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      def recallL2(got: Map[Long, Set[Long]]): Double = {
        val rs = l2bf.map { case (q, truth) =>
          got.get(q).map(c => (c & truth).size.toDouble / truth.size)
            .getOrElse(0.0) }
        rs.sum / rs.size
      }
      println(f"IVFPQ recall@5 (L2 truth) raw=${recallL2(raw)}%.3f " +
        f"residual=${recallL2(res)}%.3f")
      // OPQ-style pre-rotation (stretch probe): plain PQ vs PQ over the
      // Householder-rotated corpus, both vs the SAME L2 truth (the
      // rotation is orthonormal, so true neighbors are unchanged)
      val pqPlain = topSets(graft.ops.Similarity.pqTopK(
        emb, "vec_id", "embedding", m = 8, k = 64, trainIters = 3,
        topK = 5, queryStride = 100, trainStride = 4))
      val pqRot = topSets(graft.ops.Similarity.pqTopK(
        graft.ops.Similarity.opqRotate(emb, "embedding"), "vec_id",
        "embedding", m = 8, k = 64, trainIters = 3, topK = 5,
        queryStride = 100, trainStride = 4))
      println(f"PQ recall@5 (L2 truth) plain=${recallL2(pqPlain)}%.3f " +
        f"opq-rotated=${recallL2(pqRot)}%.3f")
      // LEARNED OPQ (alternating Lloyd + Procrustes, r12 brief item 5)
      val rOpq = graft.ops.Similarity.opqTrainRotation(emb, "vec_id",
        "embedding", m = 8, k = 64, lloydIters = 3, alternations = 4,
        trainStride = 4)
      val pqOpq = topSets(graft.ops.Similarity.pqTopK(
        applyRotation(emb, rOpq), "vec_id", "embedding", m = 8, k = 64,
        trainIters = 3, topK = 5, queryStride = 100, trainStride = 4))
      println(f"PQ recall@5 (L2 truth) opq-LEARNED=${recallL2(pqOpq)}%.3f " +
        "(alternating fit, same bytes)")
    }
    // Same comparison on a CLUSTERED corpus (16 well-separated centers,
    // small within-cluster noise — the regime residual encoding exists
    // for; the synthetic sf embeddings are isotropic, PQ's documented
    // worst case, where residuals only ADD variance). Deterministic:
    // centers and noise are pure functions of (id, i).
    {
      val clustered = spark.range(2000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          (pmod(col("id") % 16 * 31 + i * 7, lit(13)) - 6).cast("double") +
            (pmod(xxhash64(concat_ws("_", col("id"), i)), lit(1000))
              / 1000.0 - 0.5) * 0.2).as("embedding"))
        // eager: a range-built frame reused across the operator's
        // self-joins trips conflicting-reference analysis otherwise
        .localCheckpoint()
      def topSets(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val base = clustered.select(col("vec_id").as("id"),
        col("embedding").as("v"))
      val l2truth = base.filter(col("id") % 100 === 0)
        .select(col("id").as("query_id"), col("v").as("qv"))
        .join(base.select(col("id").as("cand_id"), col("v")), lit(true))
        .filter(col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"),
          aggregate(zip_with(col("qv"), col("v"),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d2"))
      val l2bf = graft.ops.Windows.topKPerGroup(l2truth,
        Seq(col("query_id")), Seq(col("d2").asc, col("cand_id").asc), 5)
        .select("query_id", "cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      def recallL2(got: Map[Long, Set[Long]]): Double = {
        val rs = l2bf.map { case (q, truth) =>
          got.get(q).map(c => (c & truth).size.toDouble / truth.size)
            .getOrElse(0.0) }
        rs.sum / rs.size
      }
      val raw = topSets(graft.ops.Similarity.ivfPqTopK(
        clustered, "vec_id", "embedding", m = 8, k = 64, trainIters = 3,
        nCentroids = 16, nProbe = 2, topK = 5, queryStride = 100,
        trainStride = 4))
      val res = topSets(graft.ops.Similarity.ivfPqResidualTopK(
        clustered, "vec_id", "embedding", m = 8, k = 64, trainIters = 3,
        nCentroids = 16, nProbe = 2, topK = 5, queryStride = 100,
        trainStride = 4))
      println(f"IVFPQ recall@5 CLUSTERED (L2 truth) raw=${recallL2(raw)}%.3f " +
        f"residual=${recallL2(res)}%.3f (same params, same bytes)")
      val pqPlain = topSets(graft.ops.Similarity.pqTopK(
        clustered, "vec_id", "embedding", m = 8, k = 64, trainIters = 3,
        topK = 5, queryStride = 100, trainStride = 4))
      val pqRot = topSets(graft.ops.Similarity.pqTopK(
        graft.ops.Similarity.opqRotate(clustered, "embedding"), "vec_id",
        "embedding", m = 8, k = 64, trainIters = 3, topK = 5,
        queryStride = 100, trainStride = 4))
      println(f"PQ recall@5 CLUSTERED (L2 truth) plain=${recallL2(pqPlain)}%.3f " +
        f"opq-rotated=${recallL2(pqRot)}%.3f")
      val rOpq = graft.ops.Similarity.opqTrainRotation(clustered,
        "vec_id", "embedding", m = 8, k = 64, lloydIters = 3,
        alternations = 4, trainStride = 4)
      val pqOpq = topSets(graft.ops.Similarity.pqTopK(
        applyRotation(clustered, rOpq), "vec_id", "embedding", m = 8,
        k = 64, trainIters = 3, topK = 5, queryStride = 100,
        trainStride = 4))
      println(f"PQ recall@5 CLUSTERED (L2 truth) " +
        f"opq-LEARNED=${recallL2(pqOpq)}%.3f (alternating fit, same bytes)")
    }
    // Routed mining recall vs the brute faces at the shipped q190/q206
    // sf0.1 params (round-12 brief items 1–2): what fraction of the
    // brute output survives cell routing at nProbe = 4 of 16.
    {
      val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val labels = docs.select(col("doc_id"), col("lang"))
      def pairSet(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
        df.select(col(a), col(b)).as[(Long, Long)].collect().toSet
      val mBrute = pairSet(graft.ops.Similarity.marginMining(
        emb, "vec_id", "embedding", k = 4), "src_id", "dst_id")
      val mRouted = pairSet(graft.ops.Similarity.marginMiningRouted(
        emb, "vec_id", "embedding", k = 4, nCentroids = 16, nProbe = 4),
        "src_id", "dst_id")
      println(f"MARGIN routed-vs-brute: brute=${mBrute.size} " +
        f"routed=${mRouted.size} overlap=${(mBrute & mRouted).size} " +
        f"recall=${(mBrute & mRouted).size.toDouble / mBrute.size}%.3f")
      val hBrute = pairSet(graft.ops.Similarity.hardNegatives(
        emb, labels, "vec_id", "embedding", stride = 10L, k = 3),
        "query_id", "cand_id")
      val hRouted = pairSet(graft.ops.Similarity.hardNegativesRouted(
        emb, labels, "vec_id", "embedding", stride = 10L, k = 3,
        nCentroids = 16, nProbe = 4), "query_id", "cand_id")
      println(f"HARDNEG routed-vs-brute: brute=${hBrute.size} " +
        f"routed=${hRouted.size} overlap=${(hBrute & hRouted).size} " +
        f"recall=${(hBrute & hRouted).size.toDouble / hBrute.size}%.3f")
      // q149 kNN classification at the shipped params (round-13 brief
      // item 1): what fraction of brute predictions the routed face
      // reproduces at nProbe = 4 of 16.
      val labeled = emb.filter(col("vec_id") % 100 =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          (col("vec_id") % 5).as("label"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val kBrute = graft.ops.Similarity.knnClassify(labeled, queries, k = 5)
        .select(col("query_id"), col("pred_label"))
        .as[(Long, Long)].collect().toMap
      val kRouted = graft.ops.Similarity.knnClassifyRouted(labeled,
          queries, k = 5, nCentroids = 16, nProbe = 4)
        .select(col("query_id"), col("pred_label"))
        .as[(Long, Long)].collect().toMap
      val agree = kBrute.count { case (q, p) => kRouted.get(q).contains(p) }
      println(f"KNN routed-vs-brute: queries=${kBrute.size} " +
        f"routedPreds=${kRouted.size} agree=$agree " +
        f"agreement=${agree.toDouble / kBrute.size}%.3f")
      // q278 mutual top-1 at the shipped params (round-14 brief item
      // 1): what fraction of brute mutual pairs survive cell routing
      // at nProbe = 4 of 16 — and the precision read (routed pairs
      // that are also brute pairs), since mutuality makes the routed
      // set a near-subset rather than a resort.
      val uBrute = pairSet(graft.ops.Similarity.mutualTopOne(
        emb, "vec_id", "embedding", stride = 10), "id_a", "id_b")
      val uRouted = pairSet(graft.ops.Similarity.mutualTopOneRouted(
        emb, "vec_id", "embedding", stride = 10, nCentroids = 16,
        nProbe = 4), "id_a", "id_b")
      println(f"MUTUAL routed-vs-brute: brute=${uBrute.size} " +
        f"routed=${uRouted.size} overlap=${(uBrute & uRouted).size} " +
        f"recall=${(uBrute & uRouted).size.toDouble / uBrute.size}%.3f " +
        f"precision=${(uBrute & uRouted).size.toDouble / uRouted.size}%.3f")
    }
    // The same MUTUAL comparison on the CLUSTERED corpus (round-15
    // brief item 5): the isotropic sf embeddings are IVF routing's
    // documented worst case (every cell boundary cuts true-neighbor
    // pairs), so the quoted 0.340 recall needs its other-regime
    // companion — on well-separated clusters the probed cells contain
    // the true neighbors and mutual pairs should survive routing
    // near-completely. Same deterministic 16-center corpus as the PQ
    // CLUSTERED block.
    {
      val clustered = spark.range(2000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          (pmod(col("id") % 16 * 31 + i * 7, lit(13)) - 6).cast("double") +
            (pmod(xxhash64(concat_ws("_", col("id"), i)), lit(1000))
              / 1000.0 - 0.5) * 0.2).as("embedding"))
        .localCheckpoint()
      def pairSet(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
        df.select(col(a), col(b)).as[(Long, Long)].collect().toSet
      val uBrute = pairSet(graft.ops.Similarity.mutualTopOne(
        clustered, "vec_id", "embedding", stride = 10), "id_a", "id_b")
      val uRouted = pairSet(graft.ops.Similarity.mutualTopOneRouted(
        clustered, "vec_id", "embedding", stride = 10, nCentroids = 16,
        nProbe = 4), "id_a", "id_b")
      println(f"MUTUAL routed-vs-brute CLUSTERED: brute=${uBrute.size} " +
        f"routed=${uRouted.size} overlap=${(uBrute & uRouted).size} " +
        f"recall=${(uBrute & uRouted).size.toDouble / uBrute.size}%.3f " +
        f"precision=${(uBrute & uRouted).size.toDouble / uRouted.size}%.3f")
    }
    spark.stop()
  }
}
