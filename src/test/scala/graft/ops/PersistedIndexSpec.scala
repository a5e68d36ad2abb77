package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The artifact contract a nightly pipeline depends on: the corpus-side
  * index tables (MinHash signatures, n-gram postings) are PERSISTABLE —
  * written to parquet once, re-read by every later batch admission /
  * decontamination run — and the probe paths produce results identical
  * to recomputing the index in-plan. A schema or hashing drift between
  * the writer and the reader would silently corrupt every downstream
  * admission decision; this spec round-trips both artifacts through
  * parquet and compares row-for-row. */
class PersistedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("MinHash signature index survives a parquet round-trip: identical " +
    "admission statuses (the q50 contract)") {
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val direct = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text",
        k = 16, bands = 8, shingleSize = 3, minEstJaccard = 0.5,
        threshold = 0.8)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(direct.nonEmpty && direct.exists(_._2 != "accepted"),
      "fixture must exercise real rejections")

    val idxDir = tmp("graft_sig_idx")
    Dedup.minHashSignatures(corpus, "doc_id", "text", k = 16,
        shingleSize = 3)
      .write.mode("overwrite").parquet(idxDir)
    val reread = spark.read.parquet(idxDir)
    val viaIndex = Dedup.incrementalNearDupsFromSigs(reread, corpus, batch,
        "doc_id", "text", k = 16, bands = 8, shingleSize = 3,
        minEstJaccard = 0.5, threshold = 0.8)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(viaIndex.sameElements(direct))
  }

  test("TF-IDF posting/IDF index survives a parquet round-trip: identical " +
    "weighted admission flags (the q75 contract)") {
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val (postings, idf) = Dedup.cosineIndex(corpus, "doc_id", "text",
      shingleSize = 3, maxDocFreq = 50)
    val direct = Dedup.cosineAdmitFromIndex(postings, idf, batch,
        "doc_id", "text", shingleSize = 3, minCos = 0.6)
      .as[(Long, Boolean)].collect().sortBy(_._1)
    assert(direct.nonEmpty && direct.exists(_._2),
      "fixture must exercise real dup flags")

    val pDir = tmp("graft_cos_postings")
    val iDir = tmp("graft_cos_idf")
    postings.write.mode("overwrite").parquet(pDir)
    idf.write.mode("overwrite").parquet(iDir)
    val viaIndex = Dedup.cosineAdmitFromIndex(
        spark.read.parquet(pDir), spark.read.parquet(iDir), batch,
        "doc_id", "text", shingleSize = 3, minCos = 0.6)
      .as[(Long, Boolean)].collect().sortBy(_._1)
    assert(viaIndex.sameElements(direct))
  }

  test("n-gram posting index survives a parquet round-trip: identical " +
    "contamination counts (the q54 contract)") {
    val train = docs.filter($"doc_id" % 5 =!= 1)
    val eval_ = docs.filter($"doc_id" % 5 === 1)
    val direct = Dedup.ngramContamination(train, eval_, "doc_id", "text",
        n = 5)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(direct.nonEmpty && direct.exists(_._5),
      "fixture must exercise real contamination hits")

    val postDir = tmp("graft_posting_idx")
    Dedup.ngramPostings(train, "doc_id", "text", n = 5)
      .write.mode("overwrite").parquet(postDir)
    val reread = spark.read.parquet(postDir)
    val viaIndex = Dedup.ngramContaminationFromPostings(reread, eval_,
        "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(viaIndex.sameElements(direct))
  }

  test("IVF index (centroids + cells) survives a parquet round-trip — " +
    "cells hive-partitioned by cent_id: identical semantic admission " +
    "flags (the q102 contract)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch = emb.filter($"vec_id" % 10 === 0)
    val (cent, cells) = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nCentroids = 16)
    val direct = Similarity.ivfAdmitFromIndex(cent, cells, batch,
        "vec_id", "embedding", threshold = 0.25, nProbe = 4)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(direct.nonEmpty && direct.exists(_._3),
      "fixture must exercise real semantic hits")

    val cDir = tmp("graft_ivf_cent")
    val cellDir = tmp("graft_ivf_cells")
    cent.write.mode("overwrite").parquet(cDir)
    // the documented layout: partition by cell so a probe's scan prunes
    // to its probed cells
    cells.write.mode("overwrite").partitionBy("cent_id").parquet(cellDir)
    val viaIndex = Similarity.ivfAdmitFromIndex(
        spark.read.parquet(cDir),
        // partition inference is off (GraftSession): cent_id reads back
        // as string — restore the join type like any real reader would
        spark.read.parquet(cellDir)
          .withColumn("cent_id", $"cent_id".cast("long")),
        batch, "vec_id", "embedding", threshold = 0.25, nProbe = 4)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(viaIndex.sameElements(direct))
  }

  test("IVF-PQ index (centroids + codebooks + cent_id-keyed codes) " +
    "survives a parquet round-trip — codes hive-partitioned by cent_id " +
    "— with identical ADC admission flags, and a probed-cell read " +
    "PRUNES partitions (the q214 contract)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch = emb.filter($"vec_id" % 10 === 0)
    val (cent, books, codes) = Similarity.ivfPqIndex(corpus, "vec_id",
      "embedding", nCentroids = 16, m = 8, k = 64, trainIters = 2,
      dim = 64, trainStride = 4)
    val direct = Similarity.ivfPqAdmitFromIndex(cent, books, codes,
        batch, "vec_id", "embedding", adcThresholdMicros = 1100000L,
        nProbe = 4)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(direct.nonEmpty && direct.exists(_._3) &&
      direct.exists(!_._3),
      "fixture must exercise real hits AND real rejections")

    val cDir = tmp("graft_ivfpq_cent")
    val bDir = tmp("graft_ivfpq_books")
    val codeDir = tmp("graft_ivfpq_codes")
    cent.write.mode("overwrite").parquet(cDir)
    books.write.mode("overwrite").parquet(bDir)
    // the documented layout: codes partitioned by cell so a probe's
    // scan reads only its probed cells' partitions
    codes.write.mode("overwrite").partitionBy("cent_id").parquet(codeDir)
    val rereadCodes = spark.read.parquet(codeDir)
      .withColumn("cent_id", $"cent_id".cast("long"))
    val viaIndex = Similarity.ivfPqAdmitFromIndex(
        spark.read.parquet(cDir), spark.read.parquet(bDir), rereadCodes,
        batch, "vec_id", "embedding", adcThresholdMicros = 1100000L,
        nProbe = 4)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(viaIndex.sameElements(direct))

    // partition-pruning pin: a probed-cells filter on the persisted
    // code table must reach the scan as a PartitionFilter, not a
    // post-scan Filter — the property that makes frozen-index probes
    // cost probed-cell bytes instead of corpus bytes
    val pruned = spark.read.parquet(codeDir)
      .filter($"cent_id".isin("1", "3", "5"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("cent_id"),
      s"cent_id filter must prune partitions:\n$scan")
  }
}
