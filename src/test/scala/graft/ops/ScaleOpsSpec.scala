package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Scale-machinery behavior: salting equivalence, LSH and banding
  * completeness against exact sweeps, embedding near-dups, components. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedLeftJoin is row-identical to a plain left join") {
    val left = (1 to 500).map(i => (i.toLong % 3, i.toLong)).toDF("k", "v")
    val right = Seq((0L, "a"), (1L, "b"), (9L, "z")).toDF("k", "name")
    val plain = Joins.leftJoin(left, right, Seq("k"))
      .orderBy("k", "v").collect().map(_.toString)
    val salted = Skew.saltedLeftJoin(left, right, Seq("k"), buckets = 8)
      .orderBy("k", "v").collect().map(_.toString)
    assert(salted.sameElements(plain))
  }

  test("saltedAggregate matches plain aggregation") {
    val df = (1 to 1000).map(i => (i % 5, i.toDouble)).toDF("k", "v")
    val plain = df.groupBy("k").agg(sum($"v").as("s"), count(lit(1)).as("c"))
      .orderBy("k").collect().map(_.toString)
    val salted = Skew.saltedAggregate(df, Seq("k"), 16,
        partial = Seq(sum($"v").as("s"), count(lit(1)).as("c")),
        merge = Seq(sum($"s").as("s"), sum($"c").as("c")))
      .orderBy("k").collect().map(_.toString)
    assert(salted.sameElements(plain))
  }

  test("minHashNearDups == raw jaccardPairs sweep on the testdata corpus") {
    // The LSH-then-verify scale shape must return exactly the pairs the
    // exact inverted-index sweep finds (full recall at these thresholds on
    // this corpus) — this is what lets the checked queries ship the scale
    // path with an exact-relation oracle.
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sweep = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .orderBy("doc_a", "doc_b").collect().map(_.toString)
    val lsh = Dedup.minHashNearDups(docs, "doc_id", "text",
        k = 16, bands = 8, shingleSize = 3, minEstJaccard = 0.5, threshold = 0.8)
      .orderBy("doc_a", "doc_b").collect().map(_.toString)
    assert(sweep.nonEmpty && lsh.sameElements(sweep))
  }

  test("minHashNearDups at q28's params == raw jaccardPairs (4-gram, 0.75)") {
    // q28 ships k=16/bands=8/shingle=4/minEst=0.5/threshold=0.75 against
    // the exact-Jaccard oracle; pin recall at EXACTLY those params so a
    // gate failure on a future corpus localizes to data, not code
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sweep = Dedup.jaccardPairs(docs, "doc_id", "text", 4, 0.75)
      .orderBy("doc_a", "doc_b").collect().map(_.toString)
    val lsh = Dedup.minHashNearDups(docs, "doc_id", "text",
        k = 16, bands = 8, shingleSize = 4, minEstJaccard = 0.5, threshold = 0.75)
      .orderBy("doc_a", "doc_b").collect().map(_.toString)
    assert(sweep.nonEmpty && lsh.sameElements(sweep))
  }

  test("incrementalNearDups == statuses derived from the exact pair sweep") {
    // The q50 semantics, derived independently in Scala from the brute
    // force exact relation over the WHOLE corpus: dup_corpus if paired
    // across the batch boundary, else dup_batch if paired with a smaller
    // batch id, else accepted.
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val isBatch = (id: Long) => id % 10 == 0
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val batchIds = docs.filter($"doc_id" % 10 === 0)
      .select("doc_id").as[Long].collect()
    val dupCorpus = pairs.collect {
      case (a, b) if isBatch(a) ^ isBatch(b) => if (isBatch(a)) a else b
    }.toSet
    val dupBatch = pairs.collect {
      case (a, b) if isBatch(a) && isBatch(b) => b
    }.toSet
    val expected = batchIds.map(id =>
      id -> (if (dupCorpus(id)) "dup_corpus"
             else if (dupBatch(id)) "dup_batch"
             else "accepted")).sortBy(_._1)
    val got = Dedup.incrementalNearDups(
        docs.filter($"doc_id" % 10 =!= 0), docs.filter($"doc_id" % 10 === 0),
        "doc_id", "text", k = 16, bands = 8, shingleSize = 3,
        minEstJaccard = 0.5, threshold = 0.8)
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(got.nonEmpty && got.sameElements(expected))
  }

  test("hybridNearDups == raw jaccardPairs sweep (2-gram) on the corpus") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val hybrid = Dedup.hybridNearDups(docs, "doc_id", "text",
        shingleSize = 2, threshold = 0.8)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val sweep = Dedup.jaccardPairs(docs, "doc_id", "text",
        shingleSize = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(hybrid.nonEmpty && hybrid.sameElements(sweep))
  }

  test("simHashNearDups == raw jaccardPairs sweep (2-gram) on the corpus") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val sweep = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.8)
      .orderBy("doc_a", "doc_b").collect().map(_.toString)
    val banded = Dedup.simHashNearDups(docs, "doc_id", "text",
        maxHamming = 14, shingleSize = 2, threshold = 0.8, featureShingle = 2)
      .orderBy("doc_a", "doc_b").collect().map(_.toString)
    assert(sweep.nonEmpty && banded.sameElements(sweep))
  }

  test("embeddingNearDups finds a planted near-identical vector pair") {
    val v = Array.fill(8)(0.5f)
    val nearly = v.clone(); nearly(0) = 0.55f
    val emb = Seq((1L, v.toSeq), (2L, nearly.toSeq),
      (3L, Seq(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f))).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.95)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(exact.sameElements(Array((1L, 2L))))
  }

  test("ivfTopK returns k candidates per query; top-1 bounded by brute force") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
        k = 5, nCentroids = 8, nProbe = 2, queryStride = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        k = 1, stride = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty)
    val byQuery = ivf.groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length <= 5)
      // approximate top-1 can't beat the exact top-1
      assert(rows.map(_._2).max <= bf(q) + 1e-9)
    }
  }

  test("components: min-label propagation finds chained clusters") {
    val ids = (1L to 7L).toDF("doc_id")
    // a 4-chain (needs 3 propagation rounds), a pair, and a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.components(ids, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 5L), (6L, 5L), (7L, 7L))))
  }

  test("components: 50-node path converges within default maxIters (O(log d) jump)") {
    // diameter 49 — plain one-hop propagation needs 49 rounds and threw at
    // the default maxIters=20; hook + pointer-jump converges in ~log2(50)
    val ids = (1L to 50L).toDF("doc_id")
    val path = (1L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.components(ids, path)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 50 && got.forall(_._2 == 1L))
    // worst-case id ordering for min-propagation: min sits at one END of
    // the chain reversed ids still converge to the global min
    val revPath = (1L until 50L).map(i => (51L - i, 50L - i)).toDF("doc_a", "doc_b")
    val got2 = Dedup.components(ids, revPath, maxIters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.length == 50 && got2.forall(_._2 == 1L))
  }

  test("components: checkpointDir variant produces the same labeling") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ids = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.components(ids, pairs, checkpointDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 5L), (6L, 5L), (7L, 7L))))
    // reliable checkpoint actually wrote RDD blocks to the dir
    assert(new java.io.File(dir).listFiles.nonEmpty)
  }

  test("editDistancePairs == brute-force levenshtein (length banding complete)") {
    val df = Seq((1L, "kathryn"), (2L, "katheryn"), (3L, "catherine"),
      (4L, "kate"), (5L, "nathan"), (6L, "kathrin"), (7L, "jonathan"),
      (8L, "jon"), (9L, "katheryne"), (10L, "kathryn")).toDF("id", "name")
    val got = Dedup.editDistancePairs(df, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val brute = df.select(col("id").as("a"), col("name").as("na"))
      .crossJoin(df.select(col("id").as("b"), col("name").as("nb")))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), levenshtein(col("na"), col("nb")).as("d"))
      .filter(col("d") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(got.sameElements(brute) && brute.nonEmpty)
    // identical strings at distance 0 must appear
    assert(got.contains((1L, 10L, 0)))
  }

  test("editDistancePairsSegmented == length-blocked run (completeness)") {
    // name fixture incl. empty and near-empty strings (probe L=0 path)
    val df = Seq((1L, "kathryn"), (2L, "katheryn"), (3L, "catherine"),
      (4L, "kate"), (5L, "nathan"), (6L, "kathrin"), (7L, "jonathan"),
      (8L, "jon"), (9L, "katheryne"), (10L, "kathryn"), (11L, ""),
      (12L, "ab"), (13L, "b")).toDF("id", "name")
    val seg = Dedup.editDistancePairsSegmented(df, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val len = Dedup.editDistancePairs(df, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(seg.nonEmpty && seg.sameElements(len))
    assert(seg.contains((11L, 13L, 1))) // "" ~ "b": zero-length segments
    // and on real part names (the q46 corpus)
    val part = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/part.parquet")
      .filter(col("p_partkey") % 10 === 0)
    val segP = Dedup.editDistancePairsSegmented(part, "p_partkey", "p_name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val lenP = Dedup.editDistancePairs(part, "p_partkey", "p_name", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(segP.sameElements(lenP))
  }

  test("segment blocking subdivides fixed-format length buckets") {
    // fixed-LENGTH corpus = the worst case for length-only blocking: ONE
    // bucket of N rows (N² candidate pairs). Segment keys carry content,
    // so where content varies the worst bucket collapses. (A constant
    // SEGMENT — e.g. a shared literal prefix — still buckets together;
    // that is inherent to any content-blocking scheme and is what the
    // exact-verify stage is for.)
    val n = 2000
    val df = TestSpark.spark.range(n)
      .select(col("id"),
        substring(md5(col("id").cast("string")), 1, 12).as("name"))
    val m = 3 // maxDist=2 => 3 segments
    def segLen(lc: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(lc / m).cast("int") +
        when(i >= lit(m) - pmod(lc, lit(m)), 1).otherwise(0)
    def segStart(lc: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (lit(1) + i * floor(lc / m).cast("int") +
        greatest(lit(0), i - (lit(m) - pmod(lc, lit(m))))).cast("int")
    val maxSegBucket = df
      .select(col("name"), length(col("name")).as("L"),
        explode(sequence(lit(0), lit(m - 1))).as("i"))
      .select(col("L"), col("i"),
        col("name").substr(segStart(col("L"), col("i")),
          segLen(col("L"), col("i"))).as("seg"))
      .groupBy("L", "i", "seg").count()
      .agg(max("count")).collect()(0).getLong(0)
    // length-only worst bucket is the whole corpus (2000); a 4-hex-char
    // varying segment spreads over ~65k keys — worst bucket ~constant
    assert(maxSegBucket <= 10, s"worst segment bucket $maxSegBucket")
  }

  test("dropNearDups keeps exactly the cluster-canonical docs") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = Dedup.dropNearDups(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.8)
    val expected = Dedup.components(docs.select("doc_id"),
        pairs.select("doc_a", "doc_b"))
      .filter(col("id") === col("label"))
      .select("id").as[Long].collect().toSet
    assert(kept == expected && kept.nonEmpty && kept.size < docs.count())
  }

  test("components refuses a labeling that has not converged") {
    val ids = (1L to 5L).toDF("doc_id")
    val chain = (1L to 4L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      Dedup.components(ids, chain, maxIters = 1).collect()
    }
  }

  test("k-means-trained IVF: well-formed cells, recall@5 over brute force") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    def topSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val bf = topSet(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      k = 5, stride = 100))
    val trained = topSet(Similarity.ivfTopK(emb, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 4, queryStride = 100, trainIters = 2))
    assert(trained.nonEmpty)
    val recalls = bf.map { case (q, truth) =>
      trained.get(q).map(c => (c & truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    val meanRecall = recalls.sum / recalls.size
    // candidate generator bar: probing 4 of 16 trained cells must recover
    // most of the true top-5 (training is now quantized/deterministic,
    // but the bar stays a recall bar — cell shapes are data-dependent)
    assert(meanRecall >= 0.5, s"mean recall@5 = $meanRecall")
    // and at q47's exact shipped params (nProbe=5, trainIters=2) the
    // verdict bar: mean recall@5 >= 0.9 (measured 1.0 at sf0.01;
    // nProbe=4 sat at 0.88)
    val q47 = topSet(Similarity.ivfTopK(emb, "vec_id", "embedding",
      k = 5, nCentroids = 16, nProbe = 5, queryStride = 100, trainIters = 2))
    val r47 = bf.map { case (q, truth) =>
      q47.get(q).map(c => (c & truth).size.toDouble / truth.size).getOrElse(0.0)
    }
    assert(r47.sum / r47.size >= 0.9, s"q47 mean recall@5 = ${r47.sum / r47.size}")
  }

  test("FIPS-style zero-padded partition values survive hive round-trip") {
    val dir = Files.createTempDirectory("fips_part").toString
    val df = Seq(("01001", 1L), ("36061", 2L)).toDF("FIPS", "v")
    Sources.sinkParquet(df, dir, partitionBy = Seq("FIPS"))
    val back = TestSpark.spark.read.parquet(dir)
    assert(back.schema("FIPS").dataType == StringType,
      "partition column must stay string (no type inference)")
    assert(back.filter(col("FIPS") === "01001").count() == 1)
  }

  test("guarded jaccardPairs keeps identical docs at 1.0 despite hot shingles") {
    // 12 docs share the hot gram universe of 'common common common ...';
    // docs 1 and 2 are identical and also contain unique material
    val hotText = (1 to 10).map(_ => "common").mkString(" ")
    val docs = ((1L, s"$hotText alpha beta gamma delta") ::
      (2L, s"$hotText alpha beta gamma delta") ::
      (3 to 12).map(i => (i.toLong, s"$hotText uniq$i only$i word$i here$i")).toList)
      .toDF("doc_id", "text")
    // hot grams (pure 'common' shingles) appear in all 12 docs; guard at 5
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.999,
        maxShingleFreq = Some(5))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"identical docs must score 1.0 after the guard; got ${pairs.mkString(",")}")
  }

  test("simHashPairs banding is complete up to maxHamming (vs brute force)") {
    val docs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val banded = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force: all-pairs hamming over the same signatures
    val sigs = docs.select(col("doc_id"),
      graft.functions.SimHash64.simhash64(split(col("text"), " ")).as("sh"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
    val brute = a.crossJoin(sigs.select(col("doc_id").as("doc_b"), col("sh").as("shb")))
      .filter(col("doc_a") < col("doc_b"))
      .filter(bit_count(col("sha").bitwiseXOR(col("shb"))) <= 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded == brute,
      s"missing=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
  }
}
