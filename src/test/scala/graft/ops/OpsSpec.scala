package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark.messageChain
import graft.functions.SimHash64.simhash64

/** Windows / joins / dedup / similarity / text behavior on tiny exact
  * fixtures (SURVEY.md §5.1). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("topOnePerGroup keeps the max-order row per group") {
    val df = Seq((1, "2020-03-01", 120), (1, "2020-01-01", 100),
      (2, "2020-02-02", 90)).toDF("id", "d", "amt")
    val got = Windows.topOnePerGroup(df, Seq($"id"), Seq($"d".desc))
      .orderBy("id").select("id", "amt").as[(Int, Int)].collect()
    assert(got.sameElements(Array((1, 120), (2, 90))))
  }

  test("topOneByAgg equals topOnePerGroup under a tie-free order") {
    val df = Seq((1, "2020-03-01", 120, 2), (1, "2020-03-01", 120, 1),
      (1, "2020-01-01", 100, 3), (2, "2020-02-02", 90, 1)).toDF("id", "d", "amt", "ln")
    val viaWindow = Windows.topOnePerGroup(df, Seq($"id"),
        Seq($"d".desc, $"ln".asc)).orderBy("id").collect().map(_.toString)
    val viaAgg = Windows.topOneByAgg(df, Seq($"id"),
        struct($"d", -$"ln")).orderBy("id").collect().map(_.toString)
    assert(viaAgg.sameElements(viaWindow))
  }

  test("leftJoinRenamed aligns mismatched key names; null keys never match") {
    val l = Seq((1L, Some(2020L), "a"), (2L, Some(2021L), "b"), (3L, None, "c"))
      .toDF("PropertyID", "Year", "tag")
    val r = Seq((1L, 2020L, 100L), (3L, 2019L, 50L))
      .toDF("PropertyID", "RecordingYear", "SaleAmt")
    val got = Joins.leftJoinRenamed(l, r,
        Seq("PropertyID" -> "PropertyID", "Year" -> "RecordingYear"))
      .orderBy("PropertyID")
      .select("PropertyID", "tag", "SaleAmt")
      .collect().map(row => (row.getLong(0), row.getString(1),
        Option(row.get(2))))
    assert(got.sameElements(Array((1L, "a", Some(100L)), (2L, "b", None),
      (3L, "c", None))))
  }

  test("leftJoinValidated enforces the declared cardinality contract") {
    val facts = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    val dimOk = Seq((1L, 10L), (2L, 20L)).toDF("k", "d")
    val dimDup = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("k", "d")
    assert(Joins.leftJoinValidated(facts, dimOk, Seq("k"), "m:1").count() == 3)
    // guard is lazy: the violation raises when the join EXECUTES
    val e = intercept[Exception] {
      Joins.leftJoinValidated(facts, dimDup, Seq("k"), "m:1").count()
    }
    assert(messageChain(e).exists(_.contains("not unique on (k)")))
    intercept[Exception] {
      Joins.leftJoinValidated(facts, dimOk, Seq("k"), "1:1").count() // facts dup on k
    }
    intercept[IllegalArgumentException] {
      Joins.leftJoinValidated(facts, dimOk, Seq("k"), "n:1") // bad contract
    }
    // a 1:1 join over genuinely unique sides still runs clean
    val factsU = Seq((1L, "a"), (2L, "c")).toDF("k", "v")
    assert(Joins.leftJoinValidated(factsU, dimOk, Seq("k"), "1:1").count() == 2)
  }

  test("leftJoinValidated m:1: NULL right keys pass the guard and match " +
    "nothing; a real duplicate still raises") {
    val facts = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "c")).toDF("k", "v")
    val dimNulls = Seq((Some(1L), 10L), (None, 11L), (None, 12L),
      (Some(2L), 20L)).toDF("k", "d")
    val got = Joins.leftJoinValidated(facts, dimNulls, Seq("k"), "m:1")
      .orderBy("v").select("v", "d").collect()
      .map(r => (r.getString(0), Option(r.get(1))))
    assert(got.sameElements(Array(("a", Some(10L)), ("b", Some(20L)), ("c", None))))
    // composite keys: a NULL in any key column exempts the row
    val factsYk = Seq((1L, Some(2020L), "a")).toDF("k", "y", "v")
    val dimYk = Seq((1L, Option.empty[Long], 1L), (1L, Option.empty[Long], 2L),
      (1L, Some(2020L), 3L)).toDF("k", "y", "d")
    assert(Joins.leftJoinValidated(factsYk, dimYk, Seq("k", "y"), "m:1")
      .select("d").as[Long].collect().toSeq == Seq(3L))
    val dimDup = dimNulls.union(Seq((Some(2L), 21L)).toDF("k", "d"))
    val e = intercept[Exception] {
      Joins.leftJoinValidated(facts, dimDup, Seq("k"), "m:1").collect()
    }
    assert(messageChain(e).exists(_.contains("not unique on (k)")))
  }

  test("unifiedJoin: plan construction runs zero jobs; dup-PropertyID prop aborts on action") {
    val sc = TestSpark.spark.sparkContext
    val rankedValHist = Seq((1L, 2020L, 500L))
      .toDF("PropertyID", "Year", "Value")
    val propDup = Seq((1L, "R"), (1L, "C")).toDF("PropertyID", "cls")
    val rankedDeed = Seq((1L, 2020L, 100L))
      .toDF("PropertyID", "RecordingYear", "SaleAmt")
    val taxHist = Seq((1L, 2020L, 50L)).toDF("PropertyID", "TaxYear", "TaxAmt")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.flush(sc)
    sc.addSparkListener(listener)
    try {
      val plan = graft.fa.Stages.unifiedJoin(rankedValHist, propDup,
        rankedDeed, taxHist)
      org.apache.spark.GraftTestBus.flush(sc)
      assert(jobs.get() == 0, "building the unified-join plan must run no jobs")
      val e = intercept[Exception] { plan.count() }
      assert(messageChain(e).exists(_.contains("m:1")))
    } finally sc.removeSparkListener(listener)
    // same fixture with a unique prop side joins fine
    val prop = Seq((1L, "R")).toDF("PropertyID", "cls")
    assert(graft.fa.Stages.unifiedJoin(rankedValHist, prop, rankedDeed, taxHist)
      .count() == 1)
  }

  test("asOfJoinBackward picks latest right row at-or-before, null when none") {
    val trades = Seq((1L, 10L, 100), (1L, 20L, 200), (2L, 5L, 500))
      .toDF("k", "t", "px")
    val quotes = Seq((1L, 8L, "q8"), (1L, 15L, "q15"), (1L, 20L, "q20"),
      (2L, 9L, "q9")).toDF("k", "qt", "quote")
    val got = Joins.asOfJoinBackward(trades, quotes, Seq("k"),
        leftId = Seq("k", "t"), leftOn = $"t", rightOn = $"qt")
      .orderBy("k", "t").select("k", "t", "quote")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2))))
    assert(got.sameElements(Array(
      (1L, 10L, Some("q8")),   // 8 <= 10 < 15
      (1L, 20L, Some("q20")),  // equal timestamp matches (at-or-before)
      (2L, 5L, None))))        // quote at 9 is after trade 5
  }

  test("shingles builds word n-grams; short docs collapse to one shingle") {
    val got = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shingles(split($"t", " "), 3).as("s"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
    // native expression == HOF reference on varied shapes
    val texts = Seq("a b c d e f", "x", "", "p q", "m n o").toDF("t")
    val native = texts.select(Dedup.shingles(split($"t", " "), 3).as("s"))
      .as[Seq[String]].collect().toSeq
    val hof = texts.select(Dedup.shinglesHof(split($"t", " "), 3).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(native == hof)
  }

  test("char_entropy: matches the exploded per-char formulation on the " +
    "corpus; known values, empty, null, and multibyte edges hold") {
    import graft.functions.CharEntropy.char_entropy
    // known values: uniform over k symbols = ln(k); single symbol = 0
    val edge = Seq("abcd", "aaaa", "", "aab", "日本日").toDF("t")
      .select(round(char_entropy($"t"), 10).as("e")).as[Double].collect()
    assert(math.abs(edge(0) - math.log(4)) < 1e-9)
    assert(edge(1) == 0.0 && edge(2) == 0.0)
    assert(math.abs(edge(3) - (-(2.0/3*math.log(2.0/3) + 1.0/3*math.log(1.0/3)))) < 1e-9)
    assert(math.abs(edge(4) - (-(2.0/3*math.log(2.0/3) + 1.0/3*math.log(1.0/3)))) < 1e-9)
    assert(Seq(Option.empty[String]).toDF("t")
      .select(char_entropy($"t")).collect()(0).isNullAt(0))
    // corpus equivalence with the n_chars×-exploding declarative form
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = docs.select($"doc_id",
        round(char_entropy($"text"), 6).as("e"))
      .as[(Long, Double)].collect().toMap
    val exploded = docs
      .select($"doc_id", explode(split($"text", "")).as("c"))
      .groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
      .groupBy("doc_id")
      .agg(round(-sum(($"cnt" / $"n") * log($"cnt" / $"n")), 6).as("e"))
      .as[(Long, Double)].collect().toMap
    assert(native.keySet == exploded.keySet)
    native.foreach { case (id, e) =>
      assert(math.abs(e - exploded(id)) <= 1e-6, s"doc $id: $e vs ${exploded(id)}")
    }
  }

  test("dropExact keeps the min-id row per duplicate key") {
    val docs = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropExact(docs, "doc_id", col("text"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(2L, 9L)))
  }

  test("spanDedup keeps the global first occurrence of each span, removes " +
    "cross-doc AND intra-doc repeats, and reassembles in span order") {
    val docs = Seq(
      (1L, "a b c d e f g"),  // spans: "a b c", "d e f", "g"
      (2L, "a b c x y z"),    // "a b c" loses to doc 1; "x y z" survives
      (3L, "g"),              // tail span "g" loses to doc 1's (1, 6)
      (4L, "p q r p q r"),    // intra-doc repeat: second "p q r" removed
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "doc_id", "text", spanWords = 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(got.sameElements(Array(
      (1L, 3L, 3L, "a b c d e f g"),
      (2L, 2L, 1L, "x y z"),
      (3L, 1L, 0L, ""),
      (4L, 2L, 1L, "p q r"))))
  }

  test("slidingSpanDedup catches a boundary-straddling duplicated " +
    "passage that spanDedup's fixed tiling structurally misses") {
    // the same 8-word passage at offset 2 in doc 1 and offset 4 in
    // doc 2 (offsets agree mod stride=2 but NOT mod spanWords=4):
    // every spanWords tile mixes passage and unique words, so
    // spanDedup sees all-distinct tiles and removes nothing
    val docs = Seq(
      (1L, "u1 u2 p1 p2 p3 p4 p5 p6 p7 p8 u3 u4"),
      (2L, "v1 v2 v3 v4 p1 p2 p3 p4 p5 p6 p7 p8 v5 v6"),
    ).toDF("doc_id", "text")
    val tiled = Dedup.spanDedup(docs, "doc_id", "text", spanWords = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(tiled.forall { case (_, n, kept, _) => n == kept },
      "tiling misses the straddling duplicate entirely")
    val slid = Dedup.slidingSpanDedup(docs, "doc_id", "text",
      spanWords = 4, stride = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(slid.sameElements(Array(
      // first occurrence untouched
      (1L, 6L, 6L, "u1 u2 p1 p2 p3 p4 p5 p6 p7 p8 u3 u4"),
      // copy loses the passage interior; <spanWords-word fringes
      // survive via their straddling (unique) windows
      (2L, 7L, 4L, "v1 v2 v3 v4 p1 p2 p7 p8 v5 v6"))))
  }

  test("cdcChunks: boundaries are content-defined — a shared passage " +
    "chunks identically at DIFFERENT offsets (where fixed tiling needs " +
    "aligned offsets); disjoint docs share nothing") {
    val passage = (1 to 100).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"u1 u2 u3 $passage"),
      (2L, s"w1 w2 w3 w4 w5 w6 w7 $passage")).toDF("doc_id", "text")
    val dup = Dedup.cdcChunks(docs, "doc_id", "text",
      gramSize = 4, boundaryMod = 16L, minOccurrences = 2L)
      .as[(String, Long, Long, Long)].collect()
    // every duplicate chunk is the passage seen from both docs, and
    // the bulk of the passage mass is recovered despite the offsets
    // disagreeing mod every fixed span width
    assert(dup.nonEmpty && dup.forall(r => r._3 == 2L && r._4 == 2L), dup.toSeq)
    assert(dup.map(_._2).sum >= 50L, s"shared mass ${dup.map(_._2).sum}")
    val disjoint = Seq(
      (1L, (1 to 30).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.cdcChunks(disjoint, "doc_id", "text", 4, 16L, 2L)
      .count() == 0L)
  }

  test("blockingQuality: RR/PC/PQ hand card — first-token blocking " +
    "misses the cross-token true pair, NULL keys block with nothing, " +
    "and all metrics are exact floor-micros") {
    val recs = Seq((1L, "acme corp"), (2L, "acme co"), (3L, "bcme corp"),
      (4L, "zzz"), (5L, null.asInstanceOf[String])).toDF("id", "s")
    // truth: (1,2) ed=2 and (1,3) ed=1
    val truth = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.blockingQuality(recs, "id",
      Seq("len4" -> expr("length(s) div 4"),
        "first_token" -> split(col("s"), " ").getItem(0)), truth)
      .select("scheme", "n_records", "n_all_pairs", "n_cand", "n_truth",
        "n_found", "reduction_ratio_micros", "pairs_completeness_micros",
        "pair_quality_micros")
      .as[(String, Long, Long, Long, Long, Long,
        Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    // len4: lengths 9,7,9,3 -> buckets 2,1,2,0; null drops -> cand {(1,3)}
    assert(got("len4") == (("len4", 5L, 10L, 1L, 2L, 1L,
      Some(900000L), Some(500000L), Some(1000000L))), got("len4"))
    // first_token: {acme:{1,2}} -> cand {(1,2)}; (1,3) escapes the block
    assert(got("first_token") == (("first_token", 5L, 10L, 1L, 2L, 1L,
      Some(900000L), Some(500000L), Some(1000000L))), got("first_token"))
  }

  test("jaccardPairs finds permuted near-identical docs, skips distinct ones") {
    val docs = Seq(
      (1L, "x y z w v u t s"),
      (2L, "x y z w v u t s"),          // identical to 1
      (3L, "completely different words entirely here now today ok"),
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(got.sameElements(Array((1L, 2L))))
  }

  test("canonicalPerCluster keeps the highest-quality member (id tie-break) " +
    "with member counts; singletons keep themselves") {
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("id", "label")
    val quality = Seq((1L, 10L), (2L, 30L), (3L, 30L), (9L, 5L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.canonicalPerCluster(comp, quality, "doc_id", "n_chars")
      .orderBy("cluster_id").as[(Long, Long, Long, Long)].collect()
    // cluster 1: docs 2 and 3 tie on quality 30 -> id ASC keeps 2
    assert(got.sameElements(Array((1L, 2L, 30L, 3L), (9L, 9L, 5L, 1L))))
  }

  test("histogramDrift: zero PSI on identical inputs, nonnegative " +
    "contributions, and a shifted batch scores above the 0.25 drift bar") {
    val ref = (1 to 1000).map(i => Tuple1(100.0 + (i % 10) * 50)).toDF("v")
    val same = TextAnalysis.histogramDrift(ref, ref, "v", 50.0)
      .as[(Long, Long, Long, Double)].collect()
    assert(same.length == 10 && same.forall(_._4 == 0.0))
    // shift the candidate distribution up by 5 bins: heavy drift
    val shifted = (1 to 1000).map(i => Tuple1(350.0 + (i % 10) * 50)).toDF("v")
    val drift = TextAnalysis.histogramDrift(ref, shifted, "v", 50.0)
      .as[(Long, Long, Long, Double)].collect()
    assert(drift.forall(_._4 >= 0.0), "PSI contributions are nonnegative")
    val psi = drift.map(_._4).sum
    assert(psi > 0.25, s"shifted batch must breach the drift bar, psi=$psi")
  }

  test("scrubPii: urls, emails, digit runs replaced with stage-consistent counts") {
    val df = Seq(
      (1L, "see https://ex.org/a/b mail bob99@ex.org id 1234567 and 42"),
      (2L, "digits-only local part 9876543@x.io then 555 short"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPii(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Int, Int, Int, String)].collect()
    assert(got(0) == ((1L, 1, 1, 1, "see <URL> mail <EMAIL> id <ID> and 42")))
    // the 7-digit run is consumed by the email stage, so the id stage sees
    // nothing: counts are per-stage replacements, never double-counted
    assert(got(1) == ((2L, 0, 1, 0, "digits-only local part <EMAIL> then 555 short")))
  }

  test("sparseCosinePairs: rare-phrase dups pair at cos 1; boilerplate-only " +
    "overlap is IDF/guard-suppressed") {
    val boiler = "standard legal disclaimer applies to this document"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (3L, s"$boiler unique three one"),
      (4L, s"$boiler unique three two"),
      (5L, s"$boiler unique three four"),
      (6L, s"$boiler unique five six"),
      (7L, s"$boiler unique seven eight"),
      (8L, s"$boiler unique nine ten"),
    ).toDF("doc_id", "text")
    // boilerplate 3-grams have docfreq 6 > maxDocFreq 5 -> dropped before
    // the posting join; the df-3 gram bridging docs 3/4/5 survives but its
    // IDF weight is dominated by each doc's unique tail, so those pairs
    // score ~0.18 -- the guard and the IDF weighting suppress template
    // mass through different mechanisms, both exercised here.
    val got = Dedup.sparseCosinePairs(docs, "doc_id", "text",
      shingleSize = 3, maxDocFreq = 5, minCos = 0.5)
      .select("doc_a", "doc_b", "cos").as[(Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(got.head._3 == 1.0)
  }

  test("incrementalNearDups: statuses and dup_corpus precedence on a planted fixture") {
    val corpus = Seq(
      (1L, "x y z w v u t s q r"),
      (2L, "some other corpus doc with its own distinct words here"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "x y z w v u t s q r"),   // dup of corpus 1
      (20L, "m n o p q r s t u v w"), // first of a batch-internal pair -> accepted
      (30L, "m n o p q r s t u v w"), // dup of smaller batch doc 20
      (40L, "entirely fresh unique content nothing matches this at all"),
      (50L, "x y z w v u t s q r"),   // dup of corpus 1 AND of batch 10 -> corpus wins
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(corpus, batch, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(got.sameElements(Array(
      10L -> "dup_corpus", 20L -> "accepted", 30L -> "dup_batch",
      40L -> "accepted", 50L -> "dup_corpus")))
  }

  test("tokenCounts: BPE-ish regex segmentation on mixed text") {
    // hello | ' ' | world | 42 | ',' | ' ' | foo | '!!' | '  ' | bar
    // plus 1234 -> 123|4 (digit groups cap at 3)
    val docs = Seq((1L, "hello world42, foo!!  bar"), (2L, "x1234"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect()
    assert(got.sameElements(Array(1L -> 10L, 2L -> 3L)))
  }

  test("chunkTokens: overlap windows, short-doc single chunk, no token lost") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks, size 4, overlap 1
      (2L, "a b"),                                    // shorter than a chunk
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkTokens(docs, "doc_id", "text",
        chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, String, Long)].collect()
    assert(got.sameElements(Array(
      (1L, 0L, "w1 w2 w3 w4", 4L), (1L, 1L, "w4 w5 w6 w7", 4L),
      (1L, 2L, "w7 w8 w9 w10", 4L), (1L, 3L, "w10", 1L),
      (2L, 0L, "a b", 2L))))
    // every token of doc 1 appears in some chunk
    val covered = got.filter(_._1 == 1L).flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("leakageFlags: cross-split near-dup flagged, eval-internal dup is not a leak") {
    val train = Seq(
      (1L, "x y z w v u t s q r"),
      (2L, "some training doc with its own distinct words here"),
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (11L, "x y z w v u t s q r"),   // near-dup of train 1 -> leak
      (21L, "m n o p q r s t u v w"), // eval-internal pair, NOT a leak
      (31L, "m n o p q r s t u v w"),
      (41L, "entirely fresh unique content nothing matches this at all"),
    ).toDF("doc_id", "text")
    val got = Dedup.leakageFlags(train, eval_, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Boolean)].collect()
    assert(got.sameElements(Array(11L -> true, 21L -> false,
      31L -> false, 41L -> false)))
  }

  test("minHash candidates contain the identical pair with est_jaccard 1.0") {
    val docs = Seq(
      (1L, "x y z w v u t s q r a b"),
      (2L, "x y z w v u t s q r a b"),
      (3L, "completely different words entirely here now today ok yes no p d"),
    ).toDF("doc_id", "text")
    val got = Dedup.minHashCandidates(docs, "doc_id", "text", 16, 4, 3)
      .filter($"doc_a" === 1 && $"doc_b" === 2)
      .select("est_jaccard").as[Double].collect()
    assert(got.length == 1 && got(0) == 1.0)
  }

  test("maxBucketSize guard drops degenerate buckets, keeps small ones") {
    // 40 all-identical boilerplate docs (one bucket of 40 per band —
    // O(c²) pairs unguarded) + 2 identical rare docs (buckets of 2).
    val docs = (1L to 40L).map(i => (i, "the same boilerplate template " +
        "repeated verbatim in every crawled page footer")) ++
      Seq((100L, "rare pair content alpha beta gamma delta eps zeta"),
          (101L, "rare pair content alpha beta gamma delta eps zeta"))
    val df = docs.toDF("doc_id", "text")
    val unguarded = Dedup.minHashCandidates(df, "doc_id", "text", 16, 4, 3)
    assert(unguarded.filter($"doc_a" < 100).count() == 40L * 39 / 2)
    val guarded = Dedup.minHashCandidates(df, "doc_id", "text", 16, 4, 3,
      maxBucketSize = Some(10))
    // boilerplate cluster gone (every shared bucket oversized), rare pair
    // survives untouched
    val got = guarded.select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(got.toSet == Set((100L, 101L)))
    // cap above the cluster size = no-op: identical to unguarded
    val loose = Dedup.minHashCandidates(df, "doc_id", "text", 16, 4, 3,
      maxBucketSize = Some(40))
    assert(loose.count() == unguarded.count())
  }

  test("MinHashSig expression matches the composed HOF/explode formulation") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y"), (3L, ""))
      .toDF("doc_id", "text")
    val exprSigs = Dedup.minHashSignatures(docs, "doc_id", "text", 8, 3)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    // reference computation: explode shingles -> xxhash64 -> k affine mins
    val P = graft.functions.MinHashSig.P
    val rng = new scala.util.Random(42)
    val ab = Array.fill(8)((rng.nextInt(1 << 20).toLong * 2 + 1,
      rng.nextInt(1 << 20).toLong))
    val ref = docs.select($"doc_id",
        explode(Dedup.shingles(split($"text", " "), 3)).as("sh"))
      .select($"doc_id", pmod(xxhash64($"sh"), lit(P)).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues { hs =>
        ab.map { case (a, b) => hs.map(t => (a * t._2 + b) % P).min }.toSeq
      }.toMap
    exprSigs.foreach { case (id, sig) => assert(sig == ref(id), s"doc $id") }
  }

  test("simhash64: identical token arrays hash equal; disjoint ones differ") {
    val df = Seq("x y z w", "x y z w", "p q r s").toDF("t")
      .select(simhash64(split($"t", " ")).as("h")).as[Long].collect()
    assert(df(0) == df(1))
    assert(df(0) != df(2))
  }

  test("simHashPairs finds the identical pair at hamming 0") {
    val docs = Seq((1L, "x y z w v u"), (2L, "x y z w v u"),
      (3L, "p q r s t different")).toDF("doc_id", "text")
    val got = Dedup.simHashPairs(docs, "doc_id", "text", 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(got.sameElements(Array((1L, 2L, 0))))
  }

  test("cosine matches hand-computed values; expression == HOF baseline") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0),
      (Seq(3.0, 4.0), Seq(3.0, 4.0), 1.0),
      (Seq(0.3, -1.7, 2.9), Seq(1.1, 0.4, -0.2), Double.NaN)).toDF("a", "b", "want")
    df.select(Similarity.cosine($"a", $"b").as("got"), $"want").collect()
      .filterNot(r => r.getDouble(1).isNaN)
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
    // bit-identical to the HOF formulation (same accumulation order)
    df.select(Similarity.cosine($"a", $"b").as("e"),
        Similarity.cosineHof($"a", $"b").as("h")).collect()
      .foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("lshSignature: native expression bit-identical to the HOF baseline") {
    // whole corpus: every signature bit must agree (same left-assoc fold)
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val diff = emb.select(
        Similarity.lshSignature(col("embedding")).as("native"),
        Similarity.lshSignatureHof(col("embedding")).as("hof"))
      .filter($"native" =!= $"hof" || $"native".isNull =!= $"hof".isNull)
    assert(diff.isEmpty, diff.take(3).mkString(","))
    // edge semantics: null vector → null sig; null ELEMENT → that plane's
    // dot is null → bit 0 (both forms)
    val edges = Seq(
      (1L, Some(Seq[Option[Double]](Some(1.0), Some(2.0)))),
      (2L, Some(Seq[Option[Double]](Some(1.0), None))),
      (3L, None)).toDF("id", "v")
    val got = edges.select($"id",
        Similarity.lshSignature($"v", nBits = 4, dim = 2).as("n"),
        Similarity.lshSignatureHof($"v", nBits = 4, dim = 2).as("h"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    got.foreach { case (id, n, h) => assert(n == h, s"id=$id: $n != $h") }
    assert(got.find(_._1 == 3L).get._2.isEmpty)
  }

  test("HyperplaneSig: structural equality across instances (CSE-dedupable)") {
    // planes are stored structurally (IndexedSeq, not Array): two
    // independently built signature expressions over the same seed must
    // compare equal or Catalyst canonicalization/CSE can never dedupe them
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val child = BoundReference(0, ArrayType(DoubleType), nullable = true)
    def mk() = graft.functions.HyperplaneSig(child,
      Similarity.hyperplanes(4, 2).map(_.toIndexedSeq).toIndexedSeq)
    val (e1, e2) = (mk(), mk())
    assert(e1 == e2)
    assert(e1.hashCode == e2.hashCode)
    assert(e1.semanticEquals(e2))
  }

  test("lshTopK multiprobe: covers ⊇ queries, per-query best only improves, recall rises") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def top(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val single = top(Similarity.lshTopK(emb, "vec_id", "embedding", k = 5))
    val multi = top(Similarity.lshTopK(emb, "vec_id", "embedding", k = 5,
      probeBits = 8))
    // multiprobe candidates ⊇ single-probe: every covered query stays
    // covered, and its best cosine can only improve
    assert(single.keySet.subsetOf(multi.keySet))
    for ((q, rows) <- single)
      assert(multi(q).map(_._3).max >= rows.map(_._3).max - 1e-9, s"q=$q")
    // aggregate recall@5 vs brute force strictly improves on this corpus
    val bf = top(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      k = 5, stride = 1))
    def recall(ann: Map[Long, Array[(Long, Long, Double)]]): Double = {
      val per = bf.toSeq.map { case (q, truth) =>
        val t = truth.map(_._2).toSet
        ann.get(q).map(c => (c.map(_._2).toSet & t).size.toDouble / t.size)
          .getOrElse(0.0)
      }
      per.sum / per.size
    }
    // tiny corpus → sparse byte-chunk buckets → low absolute recall for
    // BOTH; the multiprobe claim is the RELATIVE one (measured here:
    // 0.037 → 0.199, ~5×)
    val (rs, rm) = (recall(single), recall(multi))
    info(f"recall@5 single=$rs%.3f multi=$rm%.3f")
    assert(rm >= rs * 2 && rm > rs, f"single=$rs%.3f multi=$rm%.3f")
  }

  test("bruteForceTopK returns k nearest by cosine, self excluded") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 2,
        stride = 4) // only vec 0 queries
      .select("query_id", "cand_id").as[(Long, Long)].collect()
    assert(got.sameElements(Array((0L, 1L), (0L, 2L))))
  }

  test("langId picks marker-dominant language, 'und' without markers") {
    val got = Seq("the cat and the dog is big", "el que la los una casa",
      "xyz qqq www").toDF("text")
      .select(graft.ops.TextAnalysis.langId($"text").as("l")).as[String].collect()
    assert(got.sameElements(Array("en", "es", "und")))
  }

  test("contentFingerprint is token-order-insensitive") {
    val df = Seq("a b c", "c b a", "a b d").toDF("t")
    val fp = df.select(TextAnalysis.contentFingerprint($"t").as("f"))
      .as[String].collect()
    assert(fp(0) == fp(1) && fp(0) != fp(2))
  }

  test("sessionize splits on gaps > threshold") {
    val ts = Seq(0L, 60L, 4000L, 4100L).map(s =>
      new java.sql.Timestamp(1700000000000L + s * 1000))
    val df = ts.zipWithIndex.map { case (t, i) => (1L, i.toLong, t, 1.0) }
      .toDF("user_id", "event_id", "ts", "value")
    val got = Events.sessionize(df, gapSeconds = 1800)
      .orderBy("session_seq")
      .select("session_seq", "n_events").as[(Long, Long)].collect()
    assert(got.sameElements(Array((1L, 2L), (2L, 2L))))
  }

  test("sessionAssemble: ordered event-type sequences per gap session — " +
    "order imposed by the struct sort, not collection order") {
    val ts = Seq(60L -> "b", 0L -> "a", 4000L -> "c") // input out of order
    val df = ts.zipWithIndex.map { case ((s, et), i) =>
      (1L, i.toLong, new java.sql.Timestamp(1700000000000L + s * 1000), et)
    }.toDF("user_id", "event_id", "ts", "event_type")
    val got = Events.sessionAssemble(df.repartition(3), gapSeconds = 1800)
      .orderBy("session_seq")
      .select("session_seq", "n_events", "event_seq")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 2L, "a>b"), (2L, 1L, "c")))
  }

  test("tfIdfTopTerms scores match hand-computed tf*ln(N/df)") {
    // N=3; "rare" appears in 1 doc (idf=ln 3), "mid" in 2 (ln 1.5),
    // "the" in all 3 (idf=0 → never tops a doc with any rarer term)
    val docs = Seq((1L, "the rare rare mid"), (2L, "the mid"), (3L, "the"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2))
    def s(tf: Int, df: Int) =
      BigDecimal(tf * math.log(3.0 / df))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (1L, "rare", s(2, 1)), (1L, "mid", s(1, 2)),
      (2L, "mid", s(1, 2)), (2L, "the", 0.0),
      (3L, "the", 0.0)))
  }

  test("stratifiedByHash: exactly k per group, stable across repartition") {
    val df = TestSpark.spark.range(200)
      .select(col("id"), pmod(col("id"), lit(3)).cast("string").as("g"))
    val a = Sampling.stratifiedByHash(df, Seq("g"), "id", 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted
    assert(a.length == 15 && a.map(_._1).distinct.length == 3)
    // the draw is a pure function of the data — any physical layout agrees
    val b = Sampling.stratifiedByHash(df.repartition(13), Seq("g"), "id", 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).sorted
    assert(a.sameElements(b))
  }

  test("stratifiedByHash survives a user column named __skey") {
    val df = TestSpark.spark.range(100)
      .select(col("id"), pmod(col("id"), lit(2)).cast("string").as("g"),
        concat(lit("u"), col("id")).as("__skey"))
    val got = Sampling.stratifiedByHash(df, Seq("g"), "id", 4)
    assert(got.columns.sameElements(df.columns))
    val rows = got.collect()
    assert(rows.length == 8)
    rows.foreach(r =>
      assert(r.getString(r.fieldIndex("__skey")) == "u" + r.getLong(0)))
    // the user column must not perturb the draw itself
    val base = Sampling.stratifiedByHash(df.drop("__skey"), Seq("g"), "id", 4)
      .collect().map(_.getLong(0)).sorted
    assert(rows.map(_.getLong(0)).sorted.sameElements(base))
  }

  test("asOfJoinForward attaches the FIRST right row at-or-after; nulls when none") {
    val l = Seq((1L, 10L, 100L), (1L, 20L, 250L), (2L, 30L, 50L))
      .toDF("k", "lid", "lt")
    val r = Seq((1L, 7L, 120L), (1L, 8L, 90L), (1L, 9L, 300L))
      .toDF("k", "rid", "rt")
    val got = Joins.asOfJoinForward(l, r, Seq("k"),
        leftId = Seq("lid"), leftOn = $"lt", rightOn = $"rt",
        tieBreak = Seq($"rid".asc))
      .select("lid", "rid").collect()
      .map(row => row.getLong(0) -> Option(row.get(1))).toMap
    // lid 10 (t=100): first rt >= 100 is 120 (rid 7); lid 20 (t=250): 300;
    // key 2 has no right rows at all -> null match, row kept
    assert(got == Map(10L -> Some(7L), 20L -> Some(9L), 30L -> None))
  }

  test("rangeJoinPoints matches the naive non-equi join (incl. negatives, bucket edges)") {
    // points straddle bucket boundaries and zero; intervals include
    // sub-bucket, multi-bucket, degenerate (s==e), and inverted (dropped)
    val pts = Seq(-25L, -10L, -1L, 0L, 1L, 9L, 10L, 15L, 99L, 100L)
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("p_id", "p")
    val ivs = Seq((100L, -30L, -20L), (101L, -5L, 5L), (102L, 0L, 0L),
      (103L, 8L, 42L), (104L, 90L, 110L), (105L, 50L, 40L))
      .toDF("iv_id", "s", "e")
    val got = Joins.rangeJoinPoints(pts, "p", ivs, "s", "e", bucketWidth = 10)
      .select("p_id", "iv_id").as[(Long, Long)].collect().toSet
    val naive = pts.join(ivs, $"p" >= $"s" && $"p" <= $"e")
      .select("p_id", "iv_id").as[(Long, Long)].collect().toSet
    assert(got == naive && naive.nonEmpty)
    // and the bucketized plan is an equi-join, not the naive BNLJ
    val plan = Joins.rangeJoinPoints(pts, "p", ivs, "s", "e", 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // beyond-2^53 magnitudes: bucket ids must use exact long floor-div —
    // a double-divide floor misbuckets here and silently LOSES matches
    val base = Long.MaxValue / 2 - 11
    val bigPts = (0L until 20L).map(i => (i, base + i)).toDF("p_id", "p")
    val bigIvs = Seq((1L, base + 3, base + 9), (2L, base - 5, base + 1))
      .toDF("iv_id", "s", "e")
    val gotBig = Joins.rangeJoinPoints(bigPts, "p", bigIvs, "s", "e", 7)
      .select("p_id", "iv_id").as[(Long, Long)].collect().toSet
    val naiveBig = bigPts.join(bigIvs, $"p" >= $"s" && $"p" <= $"e")
      .select("p_id", "iv_id").as[(Long, Long)].collect().toSet
    assert(gotBig == naiveBig && naiveBig.size == 9, s"got=$gotBig")
  }

  test("rangeJoinIntervals: matches naive overlap join, each pair exactly once") {
    // long intervals sharing MANY buckets — the duplicate-emission trap
    // the bucket-ownership filter must defuse
    val l = Seq((1L, 0L, 95L), (2L, 40L, 45L), (3L, -30L, -1L), (4L, 200L, 100L))
      .toDF("l_id", "ls", "le") // 4 is inverted: dropped
    val r = Seq((10L, 50L, 120L), (11L, -5L, 2L), (12L, 300L, 310L))
      .toDF("r_id", "rs", "re")
    val got = Joins.rangeJoinIntervals(l, "ls", "le", r, "rs", "re", 10)
      .select("l_id", "r_id").as[(Long, Long)].collect().toList
    val naive = l.filter($"le" >= $"ls").join(r, $"ls" <= $"re" && $"rs" <= $"le")
      .select("l_id", "r_id").as[(Long, Long)].collect().toList
    // sets equal AND no duplicates in the bucketized result
    assert(got.sorted == naive.sorted, s"got=$got naive=$naive")
    assert(got.distinct.size == got.size, s"duplicated pairs: $got")
    assert(got.toSet == Set((1L, 10L), (1L, 11L), (3L, 11L)))
  }

  test("repetitionMetrics: hand-computed fractions and null guards") {
    val df = Seq(
      (1L, "a a a a a a a a a a"),           // 10 tokens, all same
      (2L, "a b c d e f g h i j"),           // 10 distinct tokens
      (3L, "x y x y x y x y x y"),           // alternating pair
      (4L, "solo"),                          // 1 token: bigram/trigram null
      (5L, "two tokens")).toDF("doc_id", "text") // 2 tokens: trigram null
    val m = TextAnalysis.repetitionMetrics(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    def d(r: org.apache.spark.sql.Row, i: Int): Double = r.getDouble(i)
    assert(d(m(0), 2) == 1.0 && d(m(0), 3) == 1.0 && d(m(0), 4) == 1.0)
    assert(!m(0).getBoolean(5)) // pure repetition: dropped
    assert(d(m(1), 2) == 0.1 && d(m(1), 4) == 0.0)
    assert(m(1).getBoolean(5)) // fully distinct: kept
    // doc 3: "x y" bigram occurs 5 of 9 positions; every trigram repeats
    assert(d(m(2), 3) == round5(5.0 / 9) && d(m(2), 4) == 1.0)
    assert(m(3).isNullAt(3) && m(3).isNullAt(4) && !m(3).getBoolean(5))
    assert(m(4).isNullAt(4))
  }

  private def round5(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("weightedByHash: rate tracks the weight; deterministic; clamps") {
    val df = (0L until 4000L).map(i => (i, (i % 4) * 0.25)).toDF("id", "w")
    val kept = Sampling.weightedByHash(df, "id", $"w")
    // per-stratum keep rates ≈ the weight (md5 draws are uniform)
    val rates = kept.groupBy("w").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(!rates.contains(0.0)) // weight 0: never kept
    assert(math.abs(rates(0.5) - 500) < 80, rates.toString)
    assert(math.abs(rates(0.75) - 750) < 80, rates.toString)
    // deterministic: same input, same sample, any partitioning
    val again = Sampling.weightedByHash(df.repartition(13), "id", $"w")
      .select("id").as[Long].collect().sorted
    assert(again.sameElements(kept.select("id").as[Long].collect().sorted))
    // out-of-range weights clamp: 2.0 keeps everything, -1 keeps nothing
    assert(Sampling.weightedByHash(df, "id", lit(2.0)).count() == 4000)
    assert(Sampling.weightedByHash(df, "id", lit(-1.0)).count() == 0)
  }

  test("mixtureBySource: capped source lands near its budget, oversized " +
    "budget and unlisted sources keep all, zero budget drops the source") {
    val df = (0L until 3000L).map(i => (i, s"s${i % 3}", 10L))
      .toDF("id", "src", "w")                // 1000 rows x weight 10 per src
    val kept = Sampling.mixtureBySource(df, "id", "src", "w",
      Map("s0" -> 5000L, "s1" -> 20000L))
    val bySrc = kept.groupBy("src").agg(sum("w").as("tw")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(bySrc("s0") - 5000L) < 900, bySrc.toString) // rate 0.5
    assert(bySrc("s1") == 10000L)            // budget above total: keep all
    assert(bySrc("s2") == 10000L)            // unlisted: unconstrained
    // deterministic: same sample under any partitioning
    val again = Sampling.mixtureBySource(df.repartition(13), "id", "src", "w",
      Map("s0" -> 5000L, "s1" -> 20000L)).select("id").as[Long].collect().sorted
    assert(again.sameElements(kept.select("id").as[Long].collect().sorted))
    assert(Sampling.mixtureBySource(df, "id", "src", "w", Map("s2" -> 0L))
      .filter($"src" === "s2").count() == 0)
  }

  test("shuffleShards: dense 1..n positions per shard, all shards used, " +
    "deterministic under repartition") {
    val df = (0L until 1000L).toDF("id")
    val got = Sampling.shuffleShards(df, "id", 8)
    assert(got.count() == 1000)
    val shards = got.groupBy("shard").agg(count(lit(1)).as("n"),
        min("pos").as("mn"), max("pos").as("mx")).collect()
    assert(shards.length == 8, "uniform draw reaches every shard")
    shards.foreach { r =>
      assert(r.getLong(2) == 1L && r.getLong(3) == r.getLong(1),
        s"positions must be dense 1..n: $r")
    }
    val a = got.orderBy("id").as[(Long, Long, Long)].collect()
    val b = Sampling.shuffleShards(df.repartition(7), "id", 8)
      .orderBy("id").as[(Long, Long, Long)].collect()
    assert(a.sameElements(b))
  }

  test("vocabTopK counts gram multiplicity, short docs contribute whole " +
    "text, ties break on the gram") {
    val docs = Seq((1L, "a b a b c"), (2L, "a b z"), (3L, "q"))
      .toDF("doc_id", "text")
    // bigrams: "a b"x3 (twice in doc 1, once in doc 2), "b a", "b c",
    // "b z", and doc 3 is shorter than n -> whole-doc gram "q"
    val got = TextAnalysis.vocabTopK(docs, "text", n = 2, k = 3)
      .as[(String, Long)].collect()
    assert(got.sameElements(Array(("a b", 3L), ("b a", 1L), ("b c", 1L))))
  }

  test("containmentPairs flags subset duplication that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon"            // 3 trigrams
    val long = ("alpha beta gamma delta epsilon " * 1) +
      "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val df = Seq((1L, short), (2L, long), (3L, "unrelated text here entirely"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "doc_id", "text",
        shingleSize = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the short doc's trigrams all occur in the long doc -> containment 1.0
    assert(cont.toSeq == Seq((1L, 2L, 1.0)))
    // while Jaccard on the same pair is far below any dedup threshold
    val jac = Dedup.jaccardPairs(df, "doc_id", "text",
      shingleSize = 3, threshold = 0.8)
    assert(jac.count() == 0)
    // the bottom-k sketch path finds the same planted pair (the short
    // doc has 3 grams <= sketchK, so its whole set probes — zero miss)
    val sk = Dedup.containmentPairsSketch(df, "doc_id", "text",
        shingleSize = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sk.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("containmentPairsSketch == exact containmentPairs on real corpora " +
    "(rows AND scores), guarded and unguarded") {
    for ((sf, guard) <- Seq(("0.001", None), ("0.001", Some(50)),
                            ("0.01", Some(50)))) {
      val docs = spark.read.parquet(s"/root/testdata/sf$sf/documents.parquet")
      def key(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toSet
      val exact = key(Dedup.containmentPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.9, maxShingleFreq = guard))
      val sketch = key(Dedup.containmentPairsSketch(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.9, sketchK = 8,
        maxShingleFreq = guard))
      assert(sketch == exact,
        s"sf$sf guard=$guard missed=${exact -- sketch} extra=${sketch -- exact}")
      assert(exact.nonEmpty || sf == "0.001") // sf0.01 must exercise pairs
    }
  }

  test("ngramContamination from a persisted posting index == direct form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val train = docs.filter($"doc_id" % 5 =!= 1)
    val eval_ = docs.filter($"doc_id" % 5 === 1)
    // persist the index (parquet round-trip, as a pipeline would)
    val dir = java.nio.file.Files.createTempDirectory("postings").toString
    Dedup.ngramPostings(train, "doc_id", "text", 5)
      .write.mode("overwrite").parquet(dir)
    val viaIndex = Dedup.ngramContaminationFromPostings(
        spark.read.parquet(dir), eval_, "doc_id", "text", 5)
      .orderBy("doc_id").collect().map(_.toString)
    val direct = Dedup.ngramContamination(train, eval_, "doc_id", "text", 5)
      .orderBy("doc_id").collect().map(_.toString)
    assert(viaIndex.sameElements(direct) && direct.nonEmpty)
  }

  test("repetitionMetrics: native expression equals HOF baseline, corpus + edges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val edge = Seq((9001L, "solo"), (9002L, "two tokens"), (9003L, "a a"),
      (9004L, " x"), (9005L, null.asInstanceOf[String]),
      (9006L, "b a b a b")).toDF("doc_id", "text")
    for (df <- Seq(docs.select("doc_id", "text"), edge)) {
      val nat = TextAnalysis.repetitionMetrics(df, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toString)
      val hof = TextAnalysis.repetitionMetrics(df, "doc_id", "text",
          useNative = false)
        .orderBy("doc_id").collect().map(_.toString)
      assert(nat.sameElements(hof))
    }
  }

  test("ngramContamination counts shared distinct n-grams, not occurrences") {
    val train = Seq(
      (10L, "one two three four five six seven"),
      (11L, "one two three four five noise noise")).toDF("doc_id", "text")
    val eval_ = Seq(
      (1L, "zzz one two three four five one two three four five"), // 5-gram shared (twice in text, counts once)
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, eval_, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    // eval 1: 7 gram positions but "one two three four five" repeats ->
    // 6 DISTINCT 5-grams; that gram occurs in BOTH train docs -> 1 hit
    // gram, 2 train docs
    assert(got(0).getLong(1) == 6L && got(0).getLong(2) == 1L &&
      got(0).getLong(3) == 2L && got(0).getBoolean(4))
    assert(got(1).getLong(2) == 0L && !got(1).getBoolean(4))
  }

  test("bloomSemiJoin: identical to exact semi-join; probe prunes before the exchange") {
    val fact = (0L until 10000L).map(i => (i, s"v$i")).toDF("k", "payload")
    val dim = (0L until 10000L by 100).map(i => (i, "d")).toDF("k", "tag")
    val exact = Joins.semiJoin(fact, dim, Seq("k"))
      .select("k").as[Long].collect().toSet
    val viaBloom = Joins.bloomSemiJoin(fact, dim, Seq("k"),
        expectedItems = 200, numBits = 2048)
      .select("k").as[Long].collect().toSet
    assert(viaBloom == exact && exact.size == 100)
    // no false negatives: every dim key passes the bare probe; and the
    // probe is selective (far fewer than all fact rows survive)
    val bloom = dim.agg(Sketches.bloomAgg($"k", 200, 2048).as("bf")).scalar()
    val survivors = fact.filter(Sketches.mightContain(bloom, $"k")).count()
    assert(survivors >= 100 && survivors < 2000,
      s"bloom should prune most of the 10k fact rows, kept $survivors")
  }

  test("bloom null keys: never enter the sketch, never probe true") {
    val fact = Seq((Some(1L), "a"), (None, "b"), (Some(99L), "c"))
      .toDF("k", "payload")
    val dim = Seq((Some(1L), "d"), (None, "e")).toDF("k", "tag")
    val got = Joins.bloomSemiJoin(fact, dim, Seq("k"), 10, 256)
      .select("payload").as[String].collect().toSet
    val exact = Joins.semiJoin(fact, dim, Seq("k"))
      .select("payload").as[String].collect().toSet
    assert(got == exact && got == Set("a"))
  }

  test("bloom SQL surface: bloom_filter_agg + might_contain via scalar subquery") {
    graft.GraftExtensions.register(spark)
    (0L until 1000L).map(i => (i, i % 7)).toDF("id", "grp")
      .createOrReplaceTempView("bloom_fact")
    spark.sql("SELECT id FROM bloom_fact WHERE id % 50 = 0")
      .createOrReplaceTempView("bloom_dim")
    val n = spark.sql(
      """SELECT count(*) AS n FROM bloom_fact
         WHERE might_contain(
           (SELECT bloom_filter_agg(xxhash64(id), 100, 1024) FROM bloom_dim),
           xxhash64(id))""").head().getLong(0)
    assert(n >= 20 && n < 300, s"expected ~20 survivors of 1000, got $n")
  }

  test("packTokens: two-level prefix scan equals the naive global window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // tiny bucketSize so the fixture crosses MANY bucket boundaries
    val got = TextAnalysis.packTokens(docs, "doc_id", "text",
        capacity = 64, bucketSize = 16)
      .orderBy("doc_id").collect().map(_.toString)
    val w = org.apache.spark.sql.expressions.Window.orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val naive = docs.select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .select($"doc_id", $"n_tokens", $"start_tok",
        ($"start_tok" / 64).cast("long").as("bin_first"),
        (($"start_tok" + $"n_tokens" - 1) / 64).cast("long").as("bin_last"))
      .orderBy("doc_id").collect().map(_.toString)
    assert(got.sameElements(naive))
    // offsets tile the stream exactly: each start = previous start + n
    val rows = TextAnalysis.packTokens(docs, "doc_id", "text", 64, 16)
      .orderBy("doc_id").select("n_tokens", "start_tok")
      .as[(Long, Long)].collect()
    rows.sliding(2).foreach { case Array((n, s0), (_, s1)) =>
      assert(s0 + n == s1); case _ => }
    assert(rows.head._2 == 0L)
  }

  test("Snapshot.diff: added/removed/changed with column lists; null-safe") {
    val oldV = Seq((1L, Some("a"), Some(10)), (2L, Some("b"), None),
      (3L, Some("c"), Some(30)), (4L, None, Some(40)))
      .toDF("k", "s", "v")
    val newV = Seq((1L, Some("a"), Some(10)),      // unchanged
      (2L, Some("b"), Some(20)),                   // v: null -> 20
      (5L, Some("e"), Some(50)),                   // added
      (4L, None, Some(41)))                        // v changed, s null==null
      .toDF("k", "s", "v")
    val got = Snapshot.diff(oldV, newV, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[String](2).toList)).sortBy(_._1).toList
    assert(got == List(
      (2L, "changed", List("v")),
      (3L, "removed", Nil),
      (4L, "changed", List("v")),
      (5L, "added", Nil)))
    // includeUnchanged keeps key 1 with an empty change list
    val all = Snapshot.diff(oldV, newV, Seq("k"), includeUnchanged = true)
    assert(all.count() == 5 &&
      all.filter($"k" === 1 && $"status" === "unchanged").count() == 1)
    // schema mismatch refused
    intercept[IllegalArgumentException] {
      Snapshot.diff(oldV, newV.withColumnRenamed("v", "w"), Seq("k"))
    }
  }

  test("gopherRules: each rule rejects independently and keep is their " +
    "conjunction") {
    val pad = (1 to 60).map(i => "word" + i).mkString(" ")
    val df = Seq(
      (1L, pad + " the of x"),                    // passes all four
      (2L, "the of short doc"),                   // word count < minWords
      (3L, pad + " the x"),                       // only 1 distinct stop
      (4L, pad + " the of " + "a".*(800)),        // mean word len > 10
      (5L, (1 to 55).map(_ => "999!!").mkString(" ") + " the of")) // alpha
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(df, "doc_id", "text", minWords = 50)
      .orderBy("doc_id").collect()
    assert(got.map(_.getBoolean(5)).toSeq ==
      Seq(true, false, false, false, false))
    // measurement columns, not just verdicts: doc 3's only failure is stops
    val r3 = got(2)
    assert(r3.getInt(1) >= 50 && r3.getInt(4) == 1 &&
      r3.getDouble(2) >= 3 && r3.getDouble(2) <= 10 && r3.getDouble(3) >= 0.8)
    // doc 5 fails ONLY the alpha rule (57 words, mean len in band, 2 stops)
    val r5 = got(4)
    assert(r5.getDouble(3) < 0.8 && r5.getInt(4) == 2 && r5.getInt(1) >= 50 &&
      r5.getDouble(2) >= 3 && r5.getDouble(2) <= 10)
  }

  test("semanticDedup: in-cell near-dups drop toward the lowest id; " +
    "cross-cell twins are invisible (the clustering trade-off)") {
    // two well-separated directions; ids 1,2 seed the 2 centroids
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val aJit = Array(0.99f, 0.01f, 0.0f, 0.0f)   // cos≈1 with a
    val mix = Array(0.6f, 0.8f, 0.0f, 0.0f)      // cell b, cos .6 with b
    val df = Seq((1L, a), (2L, b), (3L, aJit), (4L, a), (5L, mix))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(df, "vec_id", "embedding",
        nCentroids = 2, threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    // 3 and 4 are dominated by 1; 5 shares cell with 2 but cos<0.9
    assert(got == Seq((1L, true), (2L, true), (3L, false), (4L, false),
      (5L, true)))
  }

  test("semanticDedup maxCellSize: skewed mega-cell cost is capped (shard " +
    "sizes bounded), the family still collapses, and drops ⊆ uncapped drops") {
    // skewed corpus: ONE direction owns 600 of 604 vectors — every seeded
    // cell collapse lands them in a single cell, the all-pairs worst case
    val fam = (10L until 610L).map { i =>
      (i, Array(1.0f, (i % 7).toFloat * 1e-4f, 0.0f, 0.0f))
    }
    val others = Seq(
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f)), (4L, Array(0.7f, 0.7f, 0.0f, 0.0f)))
    val df = (others ++ fam).toDF("vec_id", "embedding")
    val cap = 50
    val capped = Dedup.semanticDedup(df, "vec_id", "embedding",
      nCentroids = 4, threshold = 0.9, maxCellSize = Some(cap))
    val uncapped = Dedup.semanticDedup(df, "vec_id", "embedding",
      nCentroids = 4, threshold = 0.9)
    val keptCap = capped.filter(col("kept")).select("vec_id")
      .as[Long].collect().toSet
    val keptFull = uncapped.filter(col("kept")).select("vec_id")
      .as[Long].collect().toSet
    // capped drops are a SUBSET of uncapped drops (cap only removes pairs)
    assert(keptFull.subsetOf(keptCap))
    // the 600-member family still collapses to ~one rep per hash shard:
    // ceil(600/50) = 12 shards → at most 12 + slack survivors, not 600
    val famKept = keptCap.count(_ >= 10L)
    assert(famKept <= 15, s"family kept $famKept of 600 — cap not engaging")
    assert(famKept >= 1)
    // cost bound: replay the shard assignment and pin every shard ≤ ~3×cap
    // (xxhash64 split is deterministic, so this is a fixed number)
    val nSplits = math.ceil(601.0 / cap).toLong // family cell ≈ 601 members
    val splitSizes = df.selectExpr(s"pmod(xxhash64(vec_id), $nSplits) AS s")
      .groupBy(col("s")).count().select("count").as[Long].collect()
    assert(splitSizes.forall(_ <= 3L * cap),
      s"hash shards unbalanced: ${splitSizes.mkString(",")}")
    // determinism under repartition
    val again = Dedup.semanticDedup(df.repartition(7), "vec_id", "embedding",
      nCentroids = 4, threshold = 0.9, maxCellSize = Some(cap))
      .filter(col("kept")).select("vec_id").as[Long].collect().toSet
    assert(again == keptCap)
  }

  test("ivfFilteredTopK: every result satisfies the predicate; with full " +
    "probe it equals exact filtered top-k; post-filter would under-return") {
    // 2 clear directions; odd ids cluster near a, even ids near b
    def vec(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0f, 0f)
    val rows = Seq(
      (0L, vec(1, 0), 0), (1L, vec(0, 1), 1),          // seeds = centroids
      (2L, vec(0.99, 0.14), 0), (3L, vec(0.97, 0.24), 1),
      (4L, vec(0.95, 0.31), 0), (5L, vec(0.93, 0.37), 1),
      (6L, vec(0.14, 0.99), 0), (7L, vec(0.24, 0.97), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    // queries: id 0 (stride 2 hits 0,2,4,6); candidates: label == 0 only
    val got = Similarity.ivfFilteredTopK(df, "vec_id", "embedding",
        candPredicate = col("label") === 0, k = 3, nCentroids = 2,
        nProbe = 2, queryStride = 2)
      .select("query_id", "cand_id", "cos")
      .as[(Long, Long, Double)].collect().toSeq
    val evenIds = rows.filter(_._3 == 0).map(_._1).toSet
    assert(got.nonEmpty && got.forall(r => evenIds.contains(r._2)),
      s"candidate leaked past the predicate: $got")
    // full probe (nProbe = nCentroids = every cell) ⇒ exact filtered
    // top-k: replay in the JVM over the filtered candidate set
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      math.rint(d / (na * nb) * 1e4) / 1e4
    }
    val queries = rows.filter(_._1 % 2 == 0)
    val expected = queries.flatMap { case (qid, qv, _) =>
      rows.filter(r => r._3 == 0 && r._1 != qid)
        .map(r => (qid, r._1, cos(qv, r._2)))
        .sortBy { case (_, cid, c) => (-c, cid) }.take(3)
    }.toSet
    assert(got.toSet == expected, s"got=$got expected=$expected")
    // the lesson post-filtering misses: query 6 (near the b-direction)
    // still gets 3 admissible neighbors — an unfiltered top-3 around it
    // is odd-heavy and would leave <3 after filtering
    assert(got.count(_._1 == 6L) == 3)
  }

  test("semanticLeakage: known geometry — the duplicate leaks, the " +
    "orthogonal row doesn't, eval rows never appear") {
    val a = Array(1f, 0f, 0f, 0f)
    val b = Array(0f, 1f, 0f, 0f)
    val c = Array(0f, 0f, 1f, 0f)
    val near = Array(0.95f, 0.31f, 0f, 0f) // cos ~0.95 with a
    // eval set: id % 10 == 1 → ids 1 (vector a) and 11 (vector c)
    val df = Seq((1L, a), (2L, a), (3L, b), (10L, near), (11L, c))
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticLeakage(df, "vec_id", "embedding",
        isEval = pmod(col("vec_id"), lit(10)) === 1,
        threshold = 0.9)
      .orderBy("vec_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    // ids 1 and 11 are eval → absent; 2 dup of a → leaked; 3 orthogonal
    // → clean; 10 cos .95 → leaked
    assert(got == Seq((2L, 1L, true), (3L, 0L, false), (10L, 1L, true)))
  }

  test("nucleusByGroup: minimal head prefix per group, integer keep test, " +
    "ties broken by key; p=1 keeps everything") {
    val df = Seq((1L, "g", 5L), (2L, "g", 3L), (3L, "g", 2L),
      (10L, "h", 4L), (11L, "h", 4L), (12L, "h", 2L)).toDF("id", "grp", "w")
    def kept(num: Int, den: Int): Set[Long] =
      Sampling.nucleusByGroup(df, Seq("grp"), "id", "w", num, den)
        .select("id").as[Long].collect().toSet
    // g (tot 10, p=1/2): row 1 (w=5) alone reaches the bar — minimal set
    // h (tot 10, p=1/2): 4+4 needed; id ASC makes the choice deterministic
    assert(kept(1, 2) == Set(1L, 10L, 11L))
    assert(kept(1, 1) == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // partition-invariance: same keep set under any input layout
    assert(Sampling.nucleusByGroup(df.repartition(5), Seq("grp"), "id", "w",
      1, 2).select("id").as[Long].collect().toSet == Set(1L, 10L, 11L))
  }

  test("quantileNormalize: percentiles land on (rank-1)/(n-1) per group; " +
    "singleton groups get 0") {
    val df = Seq((1L, "s", 10L), (2L, "s", 20L), (3L, "s", 30L),
      (9L, "t", 7L)).toDF("id", "grp", "w")
    val got = Sampling.quantileNormalize(df, Seq("grp"), "id", "w")
      .orderBy("id").select("id", "pct").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 0.0), (2L, 0.5), (3L, 1.0), (9L, 0.0)))
  }

  test("rrfFuse: hand-computed fusion — consensus beats single-run tops, " +
    "ties break on candidate id, runs need no score calibration") {
    // run1 ranks: 1,2,3 ; run2 (different score scale!) ranks: 2,1,4
    val run1 = Seq((10L, 1L, 0.9), (10L, 2L, 0.8), (10L, 3L, 0.7))
      .toDF("q", "cand", "cos")
    val run2 = Seq((10L, 2L, 95.0), (10L, 1L, 85.0), (10L, 4L, 60.0))
      .toDF("q", "cand", "cos")
    val got = Similarity.rrfFuse(Seq(run1, run2), "q", "cand",
        Seq(col("cos").desc, col("cand").asc), k = 3, c = 0)
      .select("q", "cand", "rrf").as[(Long, Long, Double)].collect().toSeq
      .sortBy(r => (-r._3, r._2))
    // cand 1: 1/1 + 1/2 = 1.5 ; cand 2: 1/2 + 1/1 = 1.5 (tie → id asc);
    // cand 3 and 4: 1/3 each — k=3 keeps cand 3 by the id tie-break
    assert(got == Seq((10L, 1L, 1.5), (10L, 2L, 1.5), (10L, 3L, 0.333333)))
  }

  test("featureHash == exact JVM replay of the bucket and sign hashes; " +
    "repeated tokens accumulate; zero-weight rows drop") {
    val docs = Seq((1L, "a a b"), (2L, "c d e f")).toDF("doc_id", "text")
    val got = TextAnalysis.featureHash(docs, "doc_id", "text", dim = 16)
      .as[(Long, Long, Long)].collect().toSet
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(t: String) = java.lang.Long.parseLong(md5hex(t).take(8), 16) % 16
    def sign(t: String) =
      if (java.lang.Long.parseLong(md5hex(t).substring(8, 9), 16) % 2 == 0) 1L
      else -1L
    val expected = Seq(1L -> "a", 1L -> "a", 1L -> "b",
        2L -> "c", 2L -> "d", 2L -> "e", 2L -> "f")
      .groupBy { case (d, t) => (d, bucket(t)) }
      .map { case ((d, b), ts) => (d, b, ts.map(x => sign(x._2)).sum) }
      .filter(_._3 != 0L).toSet
    assert(got == expected)
    // the repeated token carries weight ±2 in its bucket
    assert(got.exists { case (d, b, w) =>
      d == 1L && b == bucket("a") && math.abs(w) == 2 })
  }

  test("windowedDrift: identical consecutive days score 0, a shifted day " +
    "alarms, days without a predecessor are excluded") {
    def day(d: String, vals: Seq[Double]) =
      vals.map(v => (s"2024-01-$d 12:00:00", v))
    val rows = day("01", Seq.fill(10)(10.0) ++ Seq.fill(10)(60.0)) ++
      day("02", Seq.fill(10)(10.0) ++ Seq.fill(10)(60.0)) ++   // same dist
      day("03", Seq.fill(20)(110.0)) ++                        // shifted
      day("05", Seq.fill(20)(10.0))                            // gap before
    val df = rows.toDF("s", "value")
      .select(to_timestamp(col("s")).as("ts"), col("value"))
    val got = TextAnalysis.windowedDrift(df, "ts", "value", binWidth = 50.0)
      .orderBy("day").as[(java.sql.Date, Long, Double)].collect().toSeq
    // only days 02 and 03 have a predecessor (05's is the missing 04)
    assert(got.map(_._1.toString) == Seq("2024-01-02", "2024-01-03"))
    assert(got(0)._3 == 0.0, s"identical days must score 0: $got")
    assert(got(1)._3 > 0.25, s"shifted day must alarm: $got")
  }

  test("unimaxAllocation: hand-computed water-filling — capped prefix, " +
    "even level for the rest, and the all-capped / none-capped edges") {
    // sources of 2/5/10 docs, maxEpochs 4 → caps 8/20/40
    val df = ((0 until 2).map(i => (i.toLong, "a")) ++
      (0 until 5).map(i => (100L + i, "b")) ++
      (0 until 10).map(i => (200L + i, "c"))).toDF("id", "src")
    def run(b: Long): Map[String, (Long, Double, Double)] =
      Sampling.unimaxAllocation(df, "src", b, 4.0)
        .as[(String, Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // B=40: a capped at 8 (4 ep); remaining 32 splits evenly → λ=16
    assert(run(40L) == Map("a" -> ((2L, 8.0, 4.0)), "b" -> ((5L, 16.0, 3.2)),
      "c" -> ((10L, 16.0, 1.6))))
    // B=100 ≥ Σcap=68: everyone at the epoch cap
    assert(run(100L) == Map("a" -> ((2L, 8.0, 4.0)), "b" -> ((5L, 20.0, 4.0)),
      "c" -> ((10L, 40.0, 4.0))))
    // B=12: nobody capped, pure even split λ=4
    assert(run(12L) == Map("a" -> ((2L, 4.0, 2.0)), "b" -> ((5L, 4.0, 0.8)),
      "c" -> ((10L, 4.0, 0.4))))
    // the allocation always exhausts exactly min(B, Σcap)
    assert(run(40L).values.map(_._2).sum == 40.0)
    assert(run(100L).values.map(_._2).sum == 68.0)
  }

  test("epochExpand: integer epochs repeat exactly, fractional epochs " +
    "draw per row, copies densely numbered, partition-invariant") {
    val df = ((0 until 2).map(i => (i.toLong, "a")) ++
      (0 until 5).map(i => (100L + i, "b")) ++
      (0 until 10).map(i => (200L + i, "c"))).toDF("id", "src")
    // B=40, E=4 → epochs: a=4.0 exact, b=3.2, c=1.6
    val got = Sampling.epochExpand(df, "id", "src", 40L, 4.0)
      .select("id", "src", "copy").as[(Long, String, Long)].collect().toSeq
    val perDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    // a: exactly 4 copies, numbered 1..4
    for (i <- 0L until 2L) assert(perDoc(i) == Seq(1L, 2L, 3L, 4L))
    // b: 3 or 4 copies; c: 1 or 2 — dense from 1 either way
    for (i <- 100L until 105L) {
      assert(perDoc(i).size == 3 || perDoc(i).size == 4, s"doc $i")
      assert(perDoc(i) == (1L to perDoc(i).size).toSeq)
    }
    for (i <- 200L until 210L)
      assert(perDoc(i).size == 1 || perDoc(i).size == 2, s"doc $i")
    // realized counts near the allocation (a exactly 8; b in [15,20]; c in [10,20])
    val bySrc = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc("a") == 8)
    assert(bySrc("b") >= 15 && bySrc("b") <= 20)
    assert(bySrc("c") >= 10 && bySrc("c") <= 20)
    val again = Sampling.epochExpand(df.repartition(7), "id", "src", 40L, 4.0)
      .select("id", "copy").as[(Long, Long)].collect().toSeq.sorted
    assert(again == got.map(r => (r._1, r._3)).sorted)
  }

  test("groupedSplit: a cluster never straddles the boundary; singletons " +
    "split at ~1/mod; deterministic under repartition") {
    // 50 clusters of 4 members + 200 singletons
    val comp = ((0 until 200).map(c => (1000L + c, 1000L + c)) ++
      (0 until 50).flatMap(c => (0 until 4).map(m =>
        (c.toLong * 10 + m, c.toLong * 10)))).toDF("id", "label")
    val got = Dedup.groupedSplit(comp, mod = 10, rem = 0)
      .select("id", "label", "split")
      .as[(Long, Long, String)].collect().toSeq
    assert(got.size == 400)
    // members move together: one split value per label
    assert(got.groupBy(_._2).values.forall(_.map(_._3).distinct.size == 1))
    // ~10% of the 250 clusters in val; generous 3x bounds
    val valClusters = got.filter(_._3 == "val").map(_._2).distinct.size
    assert(valClusters > 8 && valClusters < 75, s"valClusters=$valClusters")
    val again = Dedup.groupedSplit(comp.repartition(9), 10, 0)
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(again == got.map(r => (r._1, r._3)).toSet)
  }

  test("bigramNll: hand-computed interpolated chain — seen bigrams score " +
    "low, unseen back off to the unigram floor") {
    val ref = Seq((0L, "a b a b")).toDF("doc_id", "text")
    // c1: a=2 b=2, T=4; c2: (a,b)=2 (b,a)=1
    val docs = Seq((10L, "a b"), (11L, "b z")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramNll(ref, docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // doc 10: -ln p1(a) = -ln .5; then p(b|a) = (2 + .5)/(2+1)
    val d10 = r4((-math.log(0.5) - math.log(2.5 / 3.0)) / 2)
    // doc 11: -ln p1(b); z unseen → p(z|b) = (0 + 1/4)/(2+1)
    val d11 = r4((-math.log(0.5) - math.log(0.25 / 3.0)) / 2)
    assert(got == Seq((10L, 2L, d10), (11L, 2L, d11)))
    // word order matters now: "b a" scores differently from "a b"
    val swapped = TextAnalysis.bigramNll(ref,
      Seq((20L, "b a")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Double)].collect().head
    assert(swapped._3 == r4((-math.log(0.5) - math.log(1.5 / 3.0)) / 2))
  }

  test("unigramNll: in-vocab frequency ordering holds and OOV gets the " +
    "1/total floor") {
    val ref = Seq((1L, "a a a b")).toDF("doc_id", "text") // p(a)=3/4 p(b)=1/4
    val docs = Seq((10L, "a a"), (11L, "b b"), (12L, "zz"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramNll(ref, docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got(0) == ((10L, 2L, math.rint(-math.log(0.75) * 1e4) / 1e4)))
    assert(got(1) == ((11L, 2L, math.rint(-math.log(0.25) * 1e4) / 1e4)))
    // OOV floor: p = 1/4
    assert(got(2) == ((12L, 1L, math.rint(-math.log(0.25) * 1e4) / 1e4)))
  }

  test("bm25TopK: higher tf wins at equal length; absent terms score nothing") {
    val df = Seq(
      (1L, "spark spark spark pad pad pad pad pad"),
      (2L, "spark pad pad pad pad pad pad pad"),
      (3L, "pad pad pad pad pad pad pad pad")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("spark"), k = 10)
      .orderBy(desc("score")).collect()
    assert(got.length == 2) // doc 3 has no 'spark' posting at all
    assert(got(0).getLong(1) == 1L && got(1).getLong(1) == 2L)
    assert(got(0).getDouble(2) > got(1).getDouble(2))
  }
}
