package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Round-16 hand fixtures. */
class Round16OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hllEstimate: small m uses the Flajolet 2007 fixed bias " +
    "constants (m=16 -> 0.673), not the asymptotic formula") {
    // 200 distinct keys at p=4 sit far above the small-range branch
    // (2.5*m = 40), so the card is raw = alpha*m^2*2^(width+1)/total.
    // Recompute raw from the register moments with the PAPER constant;
    // the asymptotic 0.7213/(1+1.079/16) = 0.6759 would land ~0.9
    // higher — 4dp rounding cannot mask it.
    val df = (0 until 200).map(i => s"key_$i").toDF("k")
    val got = Sketches.hllReplay(df, col("k"), p = 4)
      .select(col("hll_estimate")).as[Double].collect().head
    val (nonempty, ssum) = Sketches.hllMoments(
        Sketches.hllRegisters(df.select(col("k")), 4)
          .groupBy(col("r")).agg(max(col("rho")).as("mr")), 4)
      .as[(Long, Long)].collect().head
    val total = ssum + (16L - nonempty) * (1L << 57)
    val want = BigDecimal(0.673 * math.pow(2.0, 65) / total.toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == want, s"got $got want $want")
    val asymptotic = 0.7213 / (1 + 1.079 / 16) *
      math.pow(2.0, 65) / total.toDouble
    assert(math.abs(got - asymptotic) > 0.1,
      "fixture cannot tell the constants apart")
  }

  test("hllOverlap: identical sources give est_union == est_a == " +
    "est_b and overlap == the per-source estimate; a disjoint third " +
    "source reports n_common = 0 with null err_ppm") {
    val rows = (0 until 500).flatMap(i =>
      Seq(("A", s"k$i"), ("B", s"k$i"))) ++
      (0 until 300).map(i => ("C", s"z$i"))
    val df = rows.toDF("source", "key")
    val got = Sketches.hllOverlap(df, "source", col("key"))
      .as[(String, String, Double, Double, Double, Double, Long,
        Option[Long])].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got.size == 3)
    val ab = got(("A", "B"))
    // identical key sets -> identical registers -> union max changes
    // nothing; inclusion-exclusion collapses to the shared estimate
    assert(ab._3 == ab._4 && ab._4 == ab._5, ab)
    assert(ab._6 == ab._3, ab)
    assert(ab._7 == 500L, ab)
    val ac = got(("A", "C"))
    assert(ac._7 == 0L && ac._8.isEmpty, ac)
    // the union estimate of disjoint sources sits above either side
    assert(ac._5 > ac._3 && ac._5 > ac._4, ac)
  }

  test("logRankKSample: two groups + one stratum reproduces " +
    "logRankTest's (e1, v, z) EXACTLY for group 1; a stratified run " +
    "with within-stratum-identical cohorts gives z = 0 everywhere") {
    def ts(day: Long) =
      new java.sql.Timestamp(1704067200000L + day * 86400000L)
    // the Round12 early-cohort fixture: odd users purchase day 1,
    // even users day 9 — a real separation, so e/v/z are non-trivial
    val early = Seq(
      (1L, "signup", ts(0)), (2L, "signup", ts(0)),
      (3L, "signup", ts(0)), (4L, "signup", ts(0)),
      (1L, "purchase", ts(1)), (3L, "purchase", ts(1)),
      (2L, "purchase", ts(9)), (4L, "purchase", ts(9)))
      .toDF("user_id", "event_type", "ts")
    val two = Events.logRankTest(early, "user_id", "ts", "event_type",
        "signup", "purchase", pmod(col("user_id"), lit(2)) === 1)
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()
    val kk = Events.logRankKSample(early, "user_id", "ts",
        "event_type", "signup", "purchase",
        groupCol = pmod(col("user_id"), lit(2)), strataCol = lit(0))
      .as[(String, Long, Long, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(kk("1") == (("1", two._1, two._3, two._4, two._5, two._6)),
      s"${kk("1")} vs $two")
    assert(kk("0")._2 == two._2)
    // 3 groups x 2 strata, duration SETS identical across groups
    // WITHIN each stratum (each (g, s) cell: one early + one late
    // death) -> every O_g = E_g (z = 0.0, v > 0); strata differ
    val strat = (1L to 12L).flatMap { u =>
      val stratum = u % 2 // day sets differ BETWEEN strata
      val day = 2 + 3 * stratum + (if (u > 6) 3 else 0)
      Seq((u, "signup", ts(0)), (u, "purchase", ts(day)))
    }.toDF("user_id", "event_type", "ts")
    val gz = Events.logRankKSample(strat, "user_id", "ts",
        "event_type", "signup", "purchase",
        groupCol = pmod(col("user_id"), lit(3)),
        strataCol = pmod(col("user_id"), lit(2)))
      .as[(String, Long, Long, Long, Long, Option[Double])].collect()
    assert(gz.length == 3)
    gz.foreach { r =>
      assert(r._2 == 4L && r._3 == 4L, r)
      assert(r._4 == 4000000L, r) // E_g = O_g = 4 exactly by symmetry
      assert(r._6.contains(0.0), r)
    }
  }

  test("psisKhat: a heavy-tailed log-weight fixture lands above the " +
    "0.7 threshold (reliable = false), a bounded one below; exact " +
    "mean-excess arithmetic; < k+1 weights emits nothing") {
    def card(vals: Seq[Double], k: Int) =
      DataQuality.psisKhat(
        vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "lw"),
        col("lw"), col("id"), k)
        .as[(Long, Long, Long, Double, Boolean)].collect()
    // top-5 excesses over ref 1.0: 9+4+2+1+0.5 = 16.5 -> khat 3.3
    val heavy = card(Seq(10.0, 5.0, 3.0, 2.0, 1.5, 1.0), k = 5)
    assert(heavy.head == ((6L, 5L, 165000L, 3.3, false)), heavy.head)
    // top-5 all 0.2 over ref 0.1: excess 0.5 -> khat 0.1, reliable
    val bounded = card(
      Seq(0.2, 0.2, 0.2, 0.2, 0.2, 0.1, 0.0, 0.0, 0.0, 0.0), k = 5)
    assert(bounded.head == ((10L, 5L, 5000L, 0.1, true)), bounded.head)
    assert(card(Seq(1.0, 2.0, 3.0), k = 5).isEmpty)
  }

  test("chaoShenEntropy: full-coverage uniform corpus gets the " +
    "closed-form HT-weighted entropy ln2/(1-2^-4); an all-hapax " +
    "group reports zero coverage and NULL h_chao_shen") {
    val df = Seq(("g1", "a a b b"), ("g2", "x y z"))
      .toDF("lang", "text")
    val got = TextAnalysis.chaoShenEntropy(df, "lang", "text")
      .as[(String, Long, Long, Long, Long, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // g1: T=4 V=2 f1=0 -> C=1, pa=.5, denom=1-.5^4=.9375;
    // H_cs = ln2/.9375 = .7394, plug-in = ln2 = .6931
    assert(got("g1") ==
      (("g1", 4L, 2L, 0L, 1000000L, 0.6931, Some(0.7394))), got("g1"))
    // g2: every token a hapax -> C=0, correction unsupported
    assert(got("g2") ==
      (("g2", 3L, 3L, 3L, 0L, 1.0986, None)), got("g2"))
  }

  test("wlColors: path ends/middles split into the right classes; a " +
    "6-cycle and two disjoint triangles stay 1-WL-indistinguishable " +
    "(all 2-regular nodes share one color — the test's known limit)") {
    val edges = Seq(
      // path 1-2-3-4
      (1L, 2L), (2L, 3L), (3L, 4L),
      // 6-cycle
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (15L, 10L),
      // two triangles
      (20L, 21L), (21L, 22L), (22L, 20L),
      (23L, 24L), (24L, 25L), (25L, 23L))
      .toDF("src", "dst")
    val c = Graph.wlColors(edges, iters = 3)
      .as[(Long, String)].collect().toMap
    assert(c(1L) == c(4L) && c(2L) == c(3L) && c(1L) != c(2L))
    val reg2 = Seq(10L, 11L, 12L, 13L, 14L, 15L, 20L, 21L, 22L, 23L,
      24L, 25L).map(c)
    assert(reg2.distinct.size == 1, reg2.distinct)
    assert(c(1L) != reg2.head && c(2L) != reg2.head)
  }

  test("breslowDay: two identical-OR strata give X2 = 0 exactly " +
    "(quadratic root lands on the observed cell); mirror-reversed " +
    "strata at psi = 1 give the hand-computed 7.2") {
    def rows(s: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, true, true)) ++ Seq.fill(b)((s, true, false)) ++
        Seq.fill(c)((s, false, true)) ++ Seq.fill(d)((s, false, false))
    def card(rs: Seq[(String, Boolean, Boolean)]) =
      DataQuality.breslowDay(rs.toDF("s", "e", "o"), col("s"),
        col("e"), col("o"))
        .as[(Long, Long, Option[Double], Long, Option[Double],
          Option[Long])].collect().head
    // both strata (2,1,1,2): OR 4 in each; psi rounds to 4.0 and the
    // in-range quadratic root is exactly a = 2 -> every term zero
    val hom = card(rows("s1", 2, 1, 1, 2) ++ rows("s2", 2, 1, 1, 2))
    assert(hom == ((2L, 2L, Some(4.0), 0L, Some(0.0), Some(1L))), hom)
    // (4,1,1,4) against its mirror: pooled psi = 1 exactly, expected
    // cell 2.5, per-stratum term 2.25 * 1.6 = 3.6 -> X2 = 7.2
    val het = card(rows("s1", 4, 1, 1, 4) ++ rows("s2", 1, 4, 4, 1))
    assert(het == ((2L, 2L, Some(1.0), 7200000L, Some(7.2), Some(1L))),
      het)
  }

  test("theilDecomposition: within-equal groups put ALL inequality " +
    "in the between terms (hand values); a single group puts it all " +
    "within with a zero between term") {
    val df = Seq(("A", 1L, 4L), ("A", 2L, 4L), ("B", 3L, 2L),
      ("B", 4L, 2L)).toDF("source", "doc_id", "v")
    val got = Events.theilDecomposition(df, "source", "doc_id",
        col("v"))
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    // A: share 2/3, mu_A/mu = 4/3 -> between (2/3)ln(4/3) = .191788
    assert(got("A") ==
      (("A", 2L, 8L, 666666L, 0.0, 0.191788, 0.191788)), got("A"))
    // B: share 1/3, ratio 2/3 -> (1/3)ln(2/3) = -.135155
    assert(got("B") ==
      (("B", 2L, 4L, 333333L, 0.0, -0.135155, -0.135155)), got("B"))
    // one group, values 1 and 3: T = .25 ln .5 + .75 ln 1.5 = .130812
    val one = Events.theilDecomposition(
        Seq(("G", 1L, 1L), ("G", 2L, 3L)).toDF("source", "doc_id", "v"),
        "source", "doc_id", col("v"))
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().head
    assert(one == (("G", 2L, 4L, 1000000L, 0.130812, 0.0, 0.130812)),
      one)
  }

  test("hooverIndex and theilDecomposition: a NULL group gets its own " +
    "card row, because both stats join-backs are null-safe — hand " +
    "values") {
    // NULL group {1,1,6} cents reads 5/12; A's equal split reads 0
    val ev = Seq[(Option[String], Long, Double)](
      (Some("A"), 1L, 0.02), (Some("A"), 2L, 0.02),
      (None, 1L, 0.01), (None, 2L, 0.01), (None, 3L, 0.06))
      .toDF("event_type", "user_id", "value")
    val hoover = Events.hooverIndex(ev, "event_type", "user_id", "value")
      .as[(Option[String], Long, Long, Option[Long])].collect().toSet
    assert(hoover == Set((Some("A"), 2L, 4L, Some(0L)),
      (None, 3L, 8L, Some(416666L))), hoover)
    // the hand fixture of the test above with group B made NULL
    val df = Seq[(Option[String], Long, Long)](
      (Some("A"), 1L, 4L), (Some("A"), 2L, 4L), (None, 3L, 2L),
      (None, 4L, 2L)).toDF("source", "doc_id", "v")
    val theil = Events.theilDecomposition(df, "source", "doc_id",
        col("v"))
      .as[(Option[String], Long, Long, Long, Double, Double, Double)]
      .collect().toSet
    assert(theil == Set(
      (Some("A"), 2L, 8L, 666666L, 0.0, 0.191788, 0.191788),
      (None, 2L, 4L, 333333L, 0.0, -0.135155, -0.135155)), theil)
  }

  test("ivfOperatingCurve: candidate mass and recall are monotone in " +
    "nProbe, and probing EVERY cell recovers the brute truth exactly " +
    "(recall_micros = 1000000)") {
    val vecs = (1L to 20L).map(i =>
      (i, Array((i % 5 + 1).toDouble, ((i * 3) % 7 + 1).toDouble,
        ((i * 2) % 4 + 1).toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.ivfOperatingCurve(vecs, "vec_id", "embedding",
        k = 3, nCentroids = 4, probes = Seq(1, 2, 4), queryStride = 5)
      .orderBy(col("n_probe"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    assert(rows.forall(_._2 == 4L)) // queries 5, 10, 15, 20
    val mass = rows.map(_._3)
    val rec = rows.map(_._5)
    assert(mass.zip(mass.tail).forall { case (a, b) => a <= b }, mass.toSeq)
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b }, rec.toSeq)
    // nProbe = nCentroids -> every pair routed -> brute-force exactly
    assert(rows.last._5 == 1000000L, rows.last)
  }

  test("kmMedian: four-user hand curve — median at the exact S = 0.5 " +
    "day, CI lower limit from the Greenwood band, upper limit only " +
    "at the saturated S = 0 day; an early-censored cohort reports " +
    "NULL median") {
    def ts(day: Long) =
      new java.sql.Timestamp(1704067200000L + day * 86400000L)
    val ev = Seq(
      (1L, "signup", ts(0)), (2L, "signup", ts(0)),
      (3L, "signup", ts(0)), (4L, "signup", ts(0)),
      (1L, "purchase", ts(2)), (2L, "purchase", ts(2)),
      (3L, "purchase", ts(5)), (4L, "purchase", ts(9)))
      .toDF("user_id", "event_type", "ts")
    val got = Events.kmMedian(ev, "user_id", "ts", "event_type",
        "signup", "purchase")
      .as[(Long, Long, Option[Long], Option[Double], Option[Long],
        Option[Long])].collect().head
    // d2: S = .5 (median), ci_lo = .5 - 1.96*.25 = .01 <= .5;
    // d5: ci_hi = .6743 > .5; d9: saturated, S = 0 -> upper limit 9
    assert(got == ((4L, 4L, Some(2L), Some(0.5), Some(2L), Some(9L))),
      got)
    // nobody converts: curve stays at 1.0 until the censor horizon
    val none = Seq((1L, "signup", ts(0)), (2L, "signup", ts(0)),
      (1L, "click", ts(3)))
      .toDF("user_id", "event_type", "ts")
    val n = Events.kmMedian(none, "user_id", "ts", "event_type",
        "signup", "purchase")
      .as[(Long, Long, Option[Long], Option[Double], Option[Long],
        Option[Long])].collect().head
    assert(n == ((2L, 0L, None, None, None, None)), n)
  }

  test("bloomReplay: no false negatives (member-only probe is all " +
    "positive); disjoint probes report exact false positives; a " +
    "saturated array answers positive for everything") {
    def card(build: Seq[String], probes: Seq[String], m: Int, k: Int) =
      Sketches.bloomReplay(build.toDF("bk"), col("bk"),
        probes.toDF("pk"), col("pk"), mBits = m, kHashes = k)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long,
          Option[Long])].collect().head
    val keys = (0 until 50).map(i => s"key_$i")
    val others = (0 until 400).map(i => s"other_$i")
    // every true member probes positive: the defining guarantee
    val mem = card(keys, keys, m = 1024, k = 4)
    assert(mem._1 == 50L && mem._5 == 50L && mem._6 == 50L &&
      mem._7 == 50L && mem._8 == 0L && mem._9.isEmpty, mem)
    // disjoint probes: positives are ALL false, fpr exact over 400
    val dis = card(keys, others, m = 1024, k = 4)
    assert(dis._7 == 0L && dis._6 == dis._8, dis)
    assert(dis._9.contains(dis._8 * 1000000L / 400L), dis)
    // a 4-bit array under 100 hash draws saturates -> all positive
    val sat = card(keys, others, m = 4, k = 2)
    assert(sat._4 == 4L && sat._6 == 400L &&
      sat._9.contains(1000000L), sat)
  }

  test("commonSupport: a balanced stratum is in support, an 11:1 one " +
    "falls outside the 0.1 band, a one-armed one has NULL ratio; the " +
    "supported ATE drops the imbalanced stratum's pull (hand values)") {
    val ev = (Seq((1L, "bal", 3.0), (2L, "bal", 1.0)) ++
      Seq.fill(11)((3L, "imb", 1.0)) ++ Seq((4L, "imb", 9.0)) ++
      Seq.fill(2)((5L, "pure", 2.0)))
      .toDF("user_id", "strat", "value")
    val got = Events.commonSupport(ev, "strat", "user_id", "value")
      .as[(String, Option[String], Long, Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Boolean])]
      .collect().map(r => (r._1, r._2.getOrElse("")) -> r).toMap
    assert(got(("stratum", "bal")) == (("stratum", Some("bal"), 2L,
      Some(1L), Some(1L), Some(1000000L), Some(200000000L),
      Some(true))))
    assert(got(("stratum", "imb")) == (("stratum", Some("imb"), 12L,
      Some(11L), Some(1L), Some(90909L), Some(-800000000L),
      Some(false))))
    assert(got(("stratum", "pure")) == (("stratum", Some("pure"), 2L,
      Some(2L), None, None, None, Some(false))))
    // all: (2*2e8 + 12*(-8e8)) / 14 = -657142857; supported: bal only
    assert(got(("ate_all", "")) == (("ate_all", None, 14L, None, None,
      None, Some(-657142857L), None)))
    assert(got(("ate_supported", "")) == (("ate_supported", None, 2L,
      None, None, None, Some(200000000L), None)))
  }

  test("fellegiSunterEm: a candidates frame with extra columns is " +
    "rejected, not silently joined on the wrong pair") {
    val recs = Seq((1L, "x"), (2L, "x")).toDF("id", "f")
    val bad = Seq(("blk", 1L, 2L)).toDF("block", "id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.fellegiSunterEm(recs, "id", Seq("f" -> col("f")), bad)
    }
    assert(e.getMessage.contains("exactly the two pair-id columns"))
  }
}
