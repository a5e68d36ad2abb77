package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Zero-row inputs must flow through every operator family without
  * crashing (national runs hit empty counties / empty measure tables —
  * the reference special-cases one such branch, fa-etl.py:366-391; our
  * operators must all be total on empty inputs). */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  private val emptyEmb = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))

  test("dedup family is total on empty input") {
    assert(Dedup.exactGroups(emptyDocs, "doc_id", col("text")).count() == 0)
    assert(Dedup.minHashCandidates(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simHashPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.jaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.jaccardPairs(emptyDocs, "doc_id", "text",
      maxShingleFreq = Some(10)).count() == 0)
    assert(Dedup.containmentPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.jaccardPairsPrefix(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("similarity family is total on empty input") {
    assert(Similarity.bruteForceTopK(emptyEmb, "vec_id", "embedding").count() == 0)
    assert(Similarity.lshTopK(emptyEmb, "vec_id", "embedding").count() == 0)
    assert(Similarity.ivfTopK(emptyEmb, "vec_id", "embedding").count() == 0)
    assert(Dedup.embeddingNearDups(emptyEmb, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("incremental admission, leakage, chunking, layout are total on empty input") {
    // empty batch vs empty corpus, and empty batch vs a real corpus
    assert(Dedup.incrementalNearDups(emptyDocs, emptyDocs,
      "doc_id", "text").count() == 0)
    val corpus = spark.createDataFrame(Seq((1L, "x y z w v u t s q r")))
      .toDF("doc_id", "text")
    assert(Dedup.incrementalNearDups(corpus, emptyDocs,
      "doc_id", "text").count() == 0)
    // a real batch vs an EMPTY corpus: everything decided, nothing dup_corpus
    val dec = Dedup.incrementalNearDups(emptyDocs, corpus, "doc_id", "text")
      .collect()
    assert(dec.length == 1 && dec(0).getString(1) == "accepted")
    assert(Dedup.leakageFlags(emptyDocs, emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.leakageFlags(corpus, emptyDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.chunkTokens(emptyDocs, "doc_id", "text",
      chunkSize = 8, overlap = 2).count() == 0)
  }

  test("round-6 family (cosine pairs/admission, scrub, canonical pick, " +
    "weighted reservoir) is total on empty input") {
    assert(Dedup.sparseCosinePairs(emptyDocs, "doc_id", "text").count() == 0)
    val (p0, i0) = Dedup.cosineIndex(emptyDocs, "doc_id", "text")
    assert(p0.count() == 0 && i0.count() == 0)
    // empty batch vs empty index, and a real batch vs an EMPTY index:
    // nothing can match, everything admitted
    assert(Dedup.cosineAdmitFromIndex(p0, i0, emptyDocs,
      "doc_id", "text").count() == 0)
    val batch = spark.createDataFrame(Seq((1L, "x y z w v u t s q r")))
      .toDF("doc_id", "text")
    val admitted = Dedup.cosineAdmitFromIndex(p0, i0, batch, "doc_id", "text")
      .collect()
    assert(admitted.length == 1 && !admitted(0).getBoolean(1))
    assert(TextAnalysis.scrubPii(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.canonicalPerCluster(
      emptyDocs.select(col("doc_id").as("id"), col("doc_id").as("label")),
      emptyDocs.select(col("doc_id"), col("doc_id").as("q")),
      "doc_id", "q").count() == 0)
    assert(Sampling.weightedTopKPerGroup(emptyDocs, Seq("text"), "doc_id",
      lit(1.0), 3).count() == 0)
  }

  test("fifth-wave family (span dedup, mixture sample, shard shuffle) is " +
    "total on empty input") {
    assert(Dedup.spanDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Sampling.mixtureBySource(
      emptyDocs.withColumn("w", col("doc_id")),
      "doc_id", "text", "w", Map("a" -> 10L)).count() == 0)
    // an empty targets map constrains nothing: identity keep
    val docs = spark.createDataFrame(Seq((1L, "s", 5L), (2L, "s", 5L)))
      .toDF("doc_id", "src", "w")
    assert(Sampling.mixtureBySource(docs, "doc_id", "src", "w",
      Map.empty).count() == 2)
    assert(Sampling.shuffleShards(emptyDocs, "doc_id", 4).count() == 0)
    assert(Sampling.temperatureBySource(emptyDocs, "doc_id", "text",
      alpha = 0.5, budget = 10L).count() == 0)
  }

  test("ninth-wave family (filtered ANN, semantic leakage, nucleus keep, " +
    "quantile norm) is total on empty input") {
    assert(Similarity.ivfFilteredTopK(emptyEmb, "vec_id", "embedding",
      candPredicate = lit(true)).count() == 0)
    assert(Dedup.semanticLeakage(emptyEmb, "vec_id", "embedding",
      isEval = lit(false), threshold = 0.5).count() == 0)
    assert(Sampling.nucleusByGroup(
      emptyDocs.withColumn("w", col("doc_id")),
      Seq("text"), "doc_id", "w", 1, 2).count() == 0)
    assert(Sampling.quantileNormalize(
      emptyDocs.withColumn("w", col("doc_id")),
      Seq("text"), "doc_id", "w").count() == 0)
    assert(TextAnalysis.bigramNll(emptyDocs, emptyDocs, "doc_id", "text")
      .count() == 0)
    assert(Dedup.groupedSplit(
      emptyDocs.select(col("doc_id").as("id"), col("doc_id").as("label")),
      mod = 10, rem = 0).count() == 0)
    assert(Sampling.unimaxAllocation(emptyDocs, "text", budget = 10L,
      maxEpochs = 2.0).count() == 0)
    assert(Sampling.epochExpand(emptyDocs, "doc_id", "text", budget = 10L,
      maxEpochs = 2.0).count() == 0)
    assert(TextAnalysis.windowedDrift(
      emptyDocs.select(col("doc_id").cast("timestamp").as("ts"),
        col("doc_id").cast("double").as("value")),
      "ts", "value", binWidth = 10.0).count() == 0)
    assert(TextAnalysis.featureHash(emptyDocs, "doc_id", "text", dim = 8)
      .count() == 0)
  }

  test("round-9 family (cell-routed leakage, IVF admission, BM25 " +
    "more-like-this, RRF fusion) is total on empty input") {
    assert(Dedup.semanticLeakageCellRouted(emptyEmb, "vec_id", "embedding",
      isEval = lit(false), threshold = 0.5).count() == 0)
    val (cent, cells) = Similarity.ivfIndex(emptyEmb, "vec_id", "embedding")
    assert(cells.count() == 0)
    assert(Similarity.ivfAdmitFromIndex(cent, cells, emptyEmb,
      "vec_id", "embedding", threshold = 0.5).count() == 0)
    // non-empty index, EMPTY batch — and the reverse: empty index,
    // non-empty batch must flag nothing as dup (everything admitted)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (c2, cl2) = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nCentroids = 4)
    assert(Similarity.ivfAdmitFromIndex(c2, cl2, emptyEmb,
      "vec_id", "embedding", threshold = 0.5).count() == 0)
    val viaEmptyIdx = Similarity.ivfAdmitFromIndex(cent, cells, emb,
      "vec_id", "embedding", threshold = 0.5)
    assert(viaEmptyIdx.count() == emb.count() &&
      viaEmptyIdx.filter(col("is_dup")).count() == 0)
    assert(TextAnalysis.bm25MoreLikeThis(emptyDocs, "doc_id", "text")
      .count() == 0)
    assert(Similarity.rrfFuse(
      Seq(emptyDocs.select(col("doc_id").as("query_id"),
        col("doc_id").as("cand_id"), col("doc_id").as("score"))),
      "query_id", "cand_id", Seq(col("score").desc), k = 5).count() == 0)
  }

  test("eighth-wave family (gopher rules, semantic dedup, unigram NLL) is " +
    "total on empty input") {
    assert(TextAnalysis.gopherRules(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.semanticDedup(emptyEmb, "vec_id", "embedding").count() == 0)
    assert(TextAnalysis.unigramNll(emptyDocs, emptyDocs,
      "doc_id", "text").count() == 0)
    // empty MODEL, real docs: total on it — rows survive with null score
    // (no token has a defined probability), never a crash or a drop
    val docs = spark.createDataFrame(Seq((1L, "x y"))).toDF("doc_id", "text")
    val scored = TextAnalysis.unigramNll(emptyDocs, docs, "doc_id", "text")
      .collect()
    assert(scored.length == 1 && scored(0).isNullAt(2))
  }

  test("contamination, repetition, bm25, range join are total on empty input") {
    val corpus = spark.createDataFrame(Seq((1L, "x y z w v u t s q r")))
      .toDF("doc_id", "text")
    assert(Dedup.ngramContamination(emptyDocs, emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramContamination(corpus, emptyDocs, "doc_id", "text").count() == 0)
    // real eval vs empty train: one row, zero hits, not contaminated
    val r = Dedup.ngramContamination(emptyDocs, corpus, "doc_id", "text").collect()
    assert(r.length == 1 && r(0).getLong(2) == 0L && !r(0).getBoolean(4))
    assert(TextAnalysis.repetitionMetrics(emptyDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.bm25TopK(emptyDocs, "doc_id", "text",
      Seq("x"), k = 3).count() == 0)
    val emptyIv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("iv_id", LongType),
        StructField("s", LongType), StructField("e", LongType))))
    val pts = spark.createDataFrame(Seq((1L, 5L))).toDF("p_id", "p")
    assert(Joins.rangeJoinPoints(pts, "p", emptyIv, "s", "e", 10L).count() == 0)
    assert(Joins.rangeJoinPoints(pts.filter(col("p_id") < 0), "p",
      emptyIv, "s", "e", 10L).count() == 0)
    val iv2 = spark.createDataFrame(Seq((7L, 0L, 5L))).toDF("iv_id", "s", "e")
    assert(Joins.rangeJoinIntervals(emptyIv, "s", "e",
      iv2.withColumnRenamed("iv_id", "iv2_id").withColumnRenamed("s", "s2")
        .withColumnRenamed("e", "e2"), "s2", "e2", 10L).count() == 0)
    assert(TextAnalysis.packTokens(emptyDocs, "doc_id", "text", 64).count() == 0)
    // diff of empty vs empty; and a one-sided diff = all added
    assert(Snapshot.diff(emptyDocs, emptyDocs, Seq("doc_id")).count() == 0)
    val one = spark.createDataFrame(Seq((1L, "x"))).toDF("doc_id", "text")
    val d = Snapshot.diff(emptyDocs, one, Seq("doc_id")).collect()
    assert(d.length == 1 && d(0).getString(1) == "added")
  }

  test("windows and text analysis are total on empty input") {
    assert(Windows.topOnePerGroup(emptyDocs, Seq(col("doc_id")),
      Seq(col("text").desc)).count() == 0)
    assert(Windows.topOneByAgg(emptyDocs, Seq(col("doc_id")),
      struct(col("text"))).count() == 0)
    assert(TextAnalysis.qualityMetrics(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("graph + selection family is total on empty input") {
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_id", LongType),
        StructField("props", StringType))))
    val edges = Graph.transitionEdges(emptyEvents, "user_id", "event_id",
      Events.jsonField(col("props"), "$.k"))
    assert(edges.count() == 0)
    assert(Graph.pageRank(edges, iters = 2).count() == 0)
    assert(Graph.triangleCounts(edges).count() == 0)
    assert(Graph.randomWalks(edges, steps = 2).count() == 0)
    assert(TextAnalysis.pmiCollocations(emptyDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.dsirWeights(emptyDocs, "doc_id", "text",
      col("doc_id") % 2 === 0).count() == 0)
    val emptyTs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("props", StringType))))
    assert(Events.scd2History(emptyTs, "user_id", "ts", "event_id",
      Events.jsonField(col("props"), "$.k")).count() == 0)
    assert(Sampling.neymanAllocation(emptyDocs, "doc_id", "doc_id",
      budget = 10L).count() == 0)
  }
}
