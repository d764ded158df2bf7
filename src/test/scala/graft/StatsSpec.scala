package graft

import graft.pipeline.Stats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("covarianceMatrix is exact on a hand case and skips null vectors") {
    // already-quantized 2-dim vectors (1,2),(2,4),(3,6): y = 2x exactly
    val df = Seq(Some(Seq(1L, 2L)), Some(Seq(2L, 4L)), Some(Seq(3L, 6L)),
      None).toDF("v")
    val out = Stats.covarianceMatrix(df, "v", 2).orderBy("i", "j")
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    assert(out.size == 3)                              // upper triangle of d=2
    assert(out((0, 0)) == ((3L, 6L, 6L, 14L, 1.0)))    // var(x) = 1
    assert(out((0, 1)) == ((3L, 6L, 12L, 28L, 2.0)))   // cov(x,2x) = 2
    assert(out((1, 1)) == ((3L, 12L, 12L, 56L, 4.0)))  // var(2x) = 4
  }

  test("sprt decides at the first exact boundary crossing") {
    // constants at (500, 600, 50, 50) permille: success step
    // +ln(1.2)e6 = 182322, failure step ln(0.8)e6 = -223144, bounds
    // +/-ln(19)e6 = +/-2944439 -> 17 straight successes cross H1,
    // 14 straight failures cross H0
    val Seq(lpS, lpF, aUp, _) = Stats.sprtConstantsMicro(500, 600, 50, 50)
    assert(lpS == 182322L && lpF == -223144L && aUp == 2944439L)
    val rows =
      (1 to 20).map(i => ("a", i.toLong, true)) ++
      (1 to 10).map(i => ("b", i.toLong, true)) ++
      (1 to 14).map(i => ("c", i.toLong, false))
    val out = Stats.sprt(rows.toDF("k", "i", "succ"), Seq("k"), "i", "succ")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    assert(out(0) == (("a", 20L, "accept_h1", 17L, 20 * lpS)))
    assert(out(1) == (("b", 10L, "continue", -1L, 10 * lpS)))
    assert(out(2) == (("c", 14L, "accept_h0", 14L, 14 * lpF)))
  }

  test("theilSenSlope is the pairwise-slope median and shrugs off an outlier") {
    // series (0,0),(1,1),(2,2),(3,100): slopes {1,1,1,100/3,99/2,98};
    // even count -> mean of the two middles = (1 + 100/3)/2
    val df = Seq(("k", 0L, 0L), ("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 100L))
      .toDF("k", "x", "y")
    val out = Stats.theilSenSlope(df, Seq("k"), "x", "y").collect()(0)
    assert(out.getLong(1) == 6L)
    assert(out.getLong(2) == math.round(1e6 * (1.0 + 100.0 / 3.0) / 2))
    // OLS on the same series is dragged far above the robust slope
    val ols = Stats.trend(df, Seq("k"), "x", "y").collect()(0).getLong(2)
    assert(out.getLong(2) < ols)
    // odd count picks the single middle exactly
    val odd = Seq(("k", 0L, 0L), ("k", 1L, 2L), ("k", 2L, 2L)).toDF("k", "x", "y")
    val o = Stats.theilSenSlope(odd, Seq("k"), "x", "y").collect()(0)
    assert(o.getLong(1) == 3L && o.getLong(2) == 1000000L)
    // a single-point key yields no pairs and is absent
    val single = Seq(("a", 0L, 0L)).toDF("k", "x", "y")
    assert(Stats.theilSenSlope(single, Seq("k"), "x", "y").count() == 0L)
  }

  test("theilSenSlope fails loudly when a series exceeds maxSeriesLen") {
    // 5-point series with a cap of 4: the quadratic guard must abort
    // the job with the theil_sen message, not silently explode pairs
    val long5 = (0 until 5).map(i => ("k", i.toLong, i.toLong))
      .toDF("k", "x", "y")
    val ex = intercept[Exception] {
      Stats.theilSenSlope(long5, Seq("k"), "x", "y", maxSeriesLen = 4)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("theil_sen")))
    // at the cap exactly, the same series is fine
    val ok = Stats.theilSenSlope(long5, Seq("k"), "x", "y", maxSeriesLen = 5)
    assert(ok.count() == 1L)
    assert(intercept[IllegalArgumentException] {
      Stats.theilSenSlope(long5, Seq("k"), "x", "y", maxSeriesLen = 1)
    }.getMessage.contains("maxSeriesLen"))
  }

  test("sprt rejects inverted decision boundaries (alpha + beta >= 1)") {
    // at alpha=600, beta=500 permille both Wald bounds flip sign and
    // every key would "decide" immediately — the constructor must fail
    val df = Seq(("k", 1L, true)).toDF("k", "i", "succ")
    val ex = intercept[IllegalArgumentException] {
      Stats.sprt(df, Seq("k"), "i", "succ",
        alphaPermille = 600, betaPermille = 500)
    }
    assert(ex.getMessage.contains("invert"))
    // a legal near-boundary pair still constructs
    assert(Stats.sprt(df, Seq("k"), "i", "succ",
      alphaPermille = 499, betaPermille = 500).count() == 1L)
  }

  test("mannWhitneyU: exact U and tie-corrected z on hand cases") {
    // no ties: A={1,2}, B={3,4} -> U_A=0, z = -2/sqrt(20/12) = -1.549193...
    val df = Seq(("k", true, 1L), ("k", true, 2L),
      ("k", false, 3L), ("k", false, 4L)).toDF("k", "g", "v")
    val r = Stats.mannWhitneyU(df, Seq("k"), "g", "v").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 2L, 0L)))
    assert(r.getLong(4) == math.round(1e6 * -4 * math.sqrt(36.0) / math.sqrt(240.0)))
    assert(r.getLong(4) == -1549193L)
    // ties: A={1,1}, B={1,2}: mid-ranks make U_A=1 (u2_a=2); T=24 -> z=-1
    val t = Seq(("k", true, 1L), ("k", true, 1L),
      ("k", false, 1L), ("k", false, 2L)).toDF("k", "g", "v")
    val rt = Stats.mannWhitneyU(t, Seq("k"), "g", "v").collect()(0)
    assert(rt.getLong(3) == 2L && rt.getLong(4) == -1000000L)
    // one-group key and all-tied key: z NULL, counts still reported
    val deg = Seq(("a", true, 5L), ("a", true, 6L),
      ("b", true, 7L), ("b", false, 7L)).toDF("k", "g", "v")
    val dm = Stats.mannWhitneyU(deg, Seq("k"), "g", "v")
      .orderBy("k").collect()
    assert(dm(0).isNullAt(4) && dm(1).isNullAt(4))
  }

  test("bhFdr: the step-up threshold rejects exactly ranks <= k*") {
    // m=6, q=0.05: p*6 <= k*50000 holds through k=4, fails at 5,6
    val df = Seq(("t1", 1000L), ("t2", 9000L), ("t3", 20000L),
      ("t4", 30000L), ("t5", 500000L), ("t6", 900000L)).toDF("id", "p")
    val out = Stats.bhFdr(df, Seq("id"), "p").orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.map(_._5).toSeq == Seq(true, true, true, true, false, false))
    assert(out.forall(r => r._3 == 6L && r._4 == 4L))
    // nothing significant: k_star NULL, zero rejections
    val none = Stats.bhFdr(Seq(("a", 700000L), ("b", 900000L)).toDF("id", "p"),
      Seq("id"), "p").collect()
    assert(none.forall(r => r.isNullAt(4) && !r.getBoolean(5)))
    // tied p straddling the cut decide together (both in, same rank set)
    val tied = Stats.bhFdr(Seq(("a", 10000L), ("b", 10000L), ("c", 990000L))
      .toDF("id", "p"), Seq("id"), "p", qMicro = 100000L)
      .orderBy("rank").collect().map(_.getBoolean(5))
    assert(tied.toSeq == Seq(true, true, false))
    // maxTests guard: exactly at the cap passes, one over fails loudly
    val cap = Seq(("a", 1000L), ("b", 2000L), ("c", 3000L)).toDF("id", "p")
    assert(Stats.bhFdr(cap, Seq("id"), "p", maxTests = 3L).count() == 3L)
    val ex = intercept[Exception] {
      Stats.bhFdr(cap, Seq("id"), "p", maxTests = 2L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("bh_fdr")))
  }

  test("kendallTau: concordant/discordant counts and tau-b ties on hand cases") {
    // perfect agreement: nc=3, nd=0, tau=+1; perfect reversal: tau=-1
    val up = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L)).toDF("k", "x", "y")
    val u = Stats.kendallTau(up, Seq("k"), "x", "y").collect()(0)
    assert((u.getLong(1), u.getLong(2), u.getLong(3), u.getLong(4)) ==
      ((3L, 3L, 0L, 1000000L)))
    val down = Seq(("k", 1L, 3L), ("k", 2L, 2L), ("k", 3L, 1L)).toDF("k", "x", "y")
    assert(Stats.kendallTau(down, Seq("k"), "x", "y").collect()(0)
      .getLong(4) == -1000000L)
    // x-tie: (1,1),(1,2),(2,3) -> nc=2, nd=0, n1x2=2:
    // tau_b = 2e6*2/(sqrt(4)*sqrt(6)) = 816497
    val tie = Seq(("k", 1L, 1L), ("k", 1L, 2L), ("k", 2L, 3L)).toDF("k", "x", "y")
    val tb = Stats.kendallTau(tie, Seq("k"), "x", "y").collect()(0)
    assert((tb.getLong(2), tb.getLong(3)) == ((2L, 0L)))
    assert(tb.getLong(4) ==
      math.round(2e6 * 2 / math.sqrt(4.0) / math.sqrt(6.0)))
    // constant x: tau undefined (NULL), counts still reported
    val const = Seq(("k", 5L, 1L), ("k", 5L, 2L)).toDF("k", "x", "y")
    val cr = Stats.kendallTau(const, Seq("k"), "x", "y").collect()(0)
    assert(cr.getLong(2) == 0L && cr.isNullAt(4))
    // cell-count guard fails loudly
    val ex = intercept[Exception] {
      Stats.kendallTau(up, Seq("k"), "x", "y", maxCellsPerKey = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("kendall_tau")))
  }

  test("kaplanMeier: risk sets, per-time log terms, censoring, extinction") {
    // durations (1,ev),(2,ev),(3,cens),(4,ev),(5,cens):
    // S = 4/5 * 3/4 * 1 * 1/2 walk in micro-nats
    val df = Seq(("k", 1L, true), ("k", 2L, true), ("k", 3L, false),
      ("k", 4L, true), ("k", 5L, false)).toDF("k", "d", "e")
    val out = Stats.kaplanMeier(df, Seq("k"), "d", "e").orderBy("t").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) Long.MinValue else r.getLong(5)))
    val t1 = math.round(1e6 * math.log(4.0 / 5.0)) // -223144
    val t2 = math.round(1e6 * math.log(3.0 / 4.0)) // -287682
    val t4 = math.round(1e6 * math.log(1.0 / 2.0)) // -693147
    assert(out.toSeq == Seq(
      (1L, 5L, 1L, 0L, t1),
      (2L, 4L, 1L, 0L, t1 + t2),
      (3L, 3L, 0L, 1L, t1 + t2),
      (4L, 2L, 1L, 0L, t1 + t2 + t4),
      (5L, 1L, 0L, 1L, t1 + t2 + t4)))
    // exp of the final log matches the product-limit survival exactly
    assert(math.abs(math.exp((t1 + t2 + t4) / 1e6) - 0.3) < 1e-5)
    // extinction: everyone at risk dies at t -> survival 0, log NULL
    val ext = Seq(("k", 1L, true), ("k", 1L, true)).toDF("k", "d", "e")
    val er = Stats.kaplanMeier(ext, Seq("k"), "d", "e").collect()(0)
    assert(er.getLong(2) == 2L && er.getLong(3) == 2L && er.isNullAt(5))
  }

  test("logRank: hypergeometric O-E walk on a hand case") {
    // A: (1,ev),(3,ev); B: (2,ev),(4,censored)
    // t=1: n=4, na=2, d=1, da=1 -> oe=+500000, v=250000
    // t=2: n=3, na=1, d=1, da=0 -> oe=-333333, v=222222
    // t=3: n=2, na=1, d=1, da=1 -> oe=+500000, v=250000
    val df = Seq(("k", true, 1L, true), ("k", true, 3L, true),
      ("k", false, 2L, true), ("k", false, 4L, false))
      .toDF("k", "g", "d", "e")
    val r = Stats.logRank(df, Seq("k"), "g", "d", "e").collect()(0)
    assert(r.getLong(1) == 3L)
    assert(r.getLong(2) == 666667L && r.getLong(3) == 722222L)
    assert(r.getLong(4) ==
      math.round(1e3 * 666667.0 / math.sqrt(722222.0)))
    // identical curves in both groups: oe terms cancel pairwise
    val same = Seq(("k", true, 1L, true), ("k", false, 1L, true),
      ("k", true, 2L, true), ("k", false, 2L, true))
      .toDF("k", "g", "d", "e")
    val s0 = Stats.logRank(same, Seq("k"), "g", "d", "e").collect()(0)
    assert(s0.getLong(2) == 0L && s0.getLong(4) == 0L)
    // single-group key: every na=n, all v=0 -> z NULL
    val one = Seq(("k", true, 1L, true), ("k", true, 2L, true))
      .toDF("k", "g", "d", "e")
    assert(Stats.logRank(one, Seq("k"), "g", "d", "e").collect()(0).isNullAt(4))
  }

  test("cuped: pooled theta, adjusted means, and the rho^2 variance cut") {
    // y = 2x exactly: theta=2, both variants adjust to the same mean 50,
    // rho^2 = 1 (the pre-period explains ALL the variant difference)
    val df = Seq(("e", 0, 10L, 20L), ("e", 0, 20L, 40L),
      ("e", 1, 30L, 60L), ("e", 1, 40L, 80L)).toDF("k", "var", "x", "y")
    val out = Stats.cuped(df, Seq("k"), "var", "x", "y")
      .orderBy("variant").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(out(0) == ((0, 2L, 30000000L, 50000000L, 2000000L, 1000000L)))
    assert(out(1) == ((1, 2L, 70000000L, 50000000L, 2000000L, 1000000L)))
    // constant pre-period: theta/rho^2 NULL, adjusted = raw mean
    val const = Seq(("e", 0, 5L, 10L), ("e", 0, 5L, 30L),
      ("e", 1, 5L, 20L), ("e", 1, 5L, 40L)).toDF("k", "var", "x", "y")
    val c = Stats.cuped(const, Seq("k"), "var", "x", "y")
      .orderBy("variant").collect()
    assert(c(0).getLong(4) == c(0).getLong(3) && c(0).isNullAt(5) && c(0).isNullAt(6))
  }

  test("distributionDistance: W1, TV and CvM on a hand shift") {
    // ref {0,10} vs cur {10,20}: every point moves 10 right ->
    // W1 = 10 (value units); half the mass must move -> TV = 0.5;
    // CvM = (0.25*1 + 0.25*2 + 0)/4 = 0.1875
    val ref = Seq(0L, 10L).toDF("v")
    val cur = Seq(10L, 20L).toDF("v")
    val r = Stats.distributionDistance(ref, cur, "v").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getLong(2) == 10000000L) // w1_micro
    assert(r.getLong(3) == 500000L)   // tv_ppm
    assert(r.getLong(4) == 187500L)   // cvm_micro
    // identical distributions: all three zero
    val same = Seq(1L, 2L, 2L).toDF("v")
    val z = Stats.distributionDistance(same, same, "v").collect()(0)
    assert(z.getLong(2) == 0L && z.getLong(3) == 0L && z.getLong(4) == 0L)
    // NULLs carry no position: excluded from both sides (the ks rule)
    val withNull = Seq(Some(0L), Some(10L), None).toDF("v")
    val rn = Stats.distributionDistance(withNull, cur, "v").collect()(0)
    assert(rn.getLong(0) == 2L && rn.getLong(2) == 10000000L)
  }

  test("tokenDispersion: concentrated tokens score DP=0.5, uniform 0") {
    // parts a and b of equal token mass: "x x" only in a, "u" in both
    val df = Seq(("a", "x x u"), ("b", "u z z")).toDF("part", "text")
    val out = Stats.tokenDispersion(df, "part", "text", minCount = 1L, k = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // x: c_a=2, c_b=0, f=2, n_a=n_b=3, N=6:
    // num = |2*6-3*2| + |0-3*2| = 12 -> dp = 12*0.5/(2*6) = 0.5
    assert(out("x") == ((2L, 500000L)))
    assert(out("z") == ((2L, 500000L)))
    // u: 1 in each equal part -> perfectly proportional, DP = 0
    assert(out("u") == ((2L, 0L)))
    // minCount filters the long tail; k caps output
    assert(Stats.tokenDispersion(df, "part", "text", minCount = 3L, k = 10)
      .count() == 0L)
    assert(Stats.tokenDispersion(df, "part", "text", minCount = 1L, k = 2)
      .count() == 2L)
    // maxParts guard: at the cap passes, one over fails loudly with the
    // named diagnosis (not a blown broadcast five minutes later)
    assert(Stats.tokenDispersion(df, "part", "text", minCount = 1L, k = 10,
      maxParts = 2).count() == 3L)
    val ex = intercept[Exception] {
      Stats.tokenDispersion(df, "part", "text", minCount = 1L, k = 10,
        maxParts = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("token_dispersion")))
  }

  test("rocAuc: perfect ranking, ties, Cliff's delta identity") {
    // positives {3,4} above negatives {1,2}: AUC = 1, delta = +1
    val perfect = Seq(("k", true, 3L), ("k", true, 4L),
      ("k", false, 1L), ("k", false, 2L)).toDF("k", "g", "v")
    val p = Stats.rocAuc(perfect, Seq("k"), "g", "v").collect()(0)
    assert((p.getLong(1), p.getLong(2), p.getLong(3)) == ((2L, 2L, 8L)))
    assert(p.getLong(4) == 1000000L && p.getLong(5) == 1000000L)
    // full ties: one pos + one neg at each of two scores -> AUC 0.5
    val tied = Seq(("k", true, 1L), ("k", false, 1L),
      ("k", true, 2L), ("k", false, 2L)).toDF("k", "g", "v")
    val t = Stats.rocAuc(tied, Seq("k"), "g", "v").collect()(0)
    assert(t.getLong(4) == 500000L && t.getLong(5) == 0L)
    // one-class key: AUC undefined
    val deg = Seq(("k", true, 1L), ("k", true, 2L)).toDF("k", "g", "v")
    assert(Stats.rocAuc(deg, Seq("k"), "g", "v").collect()(0).isNullAt(4))
  }

  test("prAuc: trapezoid over distinct thresholds with the (0,1) anchor") {
    // desc thresholds: 4(pos) 3(neg) 2(pos) 1(neg)
    // terms: 1e9*1*(1+1)/(2*2)=5e8; 0; 1e9*1*(2/3+1/2)/(2*2)=291666667; 0
    val df = Seq(("k", true, 4L), ("k", false, 3L),
      ("k", true, 2L), ("k", false, 1L)).toDF("k", "g", "v")
    val r = Stats.prAuc(df, Seq("k"), "g", "v").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 2L, 4L)))
    assert(r.getLong(4) == (500000000L + 291666667L) / 1000L)
    // all-negative key: area undefined
    val neg = Seq(("k", false, 1L), ("k", false, 2L)).toDF("k", "g", "v")
    assert(Stats.prAuc(neg, Seq("k"), "g", "v").collect()(0).isNullAt(4))
  }

  test("mcc: perfect, random, and undefined-marginal hand cases") {
    val perfect = Seq(("k", true, true), ("k", true, true),
      ("k", false, false), ("k", false, false)).toDF("k", "y", "p")
    assert(Stats.mcc(perfect, Seq("k"), "y", "p").collect()(0)
      .getLong(5) == 1000000L)
    val random = Seq(("k", true, true), ("k", true, false),
      ("k", false, true), ("k", false, false)).toDF("k", "y", "p")
    assert(Stats.mcc(random, Seq("k"), "y", "p").collect()(0)
      .getLong(5) == 0L)
    // degenerate: the model always says true -> tn+fn = 0 -> NULL
    val allPos = Seq(("k", true, true), ("k", false, true)).toDF("k", "y", "p")
    assert(Stats.mcc(allPos, Seq("k"), "y", "p").collect()(0).isNullAt(5))
  }

  test("calibrationReport: exact per-bin gaps and the ECE headline") {
    // bin 0: p=0.2 x2 with one positive -> gap |1e6 - 400000| = 600000
    // bin 1: p=0.9 x2 both positive   -> gap |2e6 - 1800000| = 200000
    val df = Seq((200000L, true), (200000L, false),
      (900000L, true), (900000L, true)).toDF("p", "y")
    val out = Stats.calibrationReport(df, "p", "y", bins = 2)
      .orderBy("bin").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == Seq(
      (0L, 2L, 1L, 400000L, 600000L), (1L, 2L, 2L, 1800000L, 200000L)))
    assert(out.forall(r => r.getLong(5) == 4L && r.getLong(6) == 200000L))
    // p = 1e6 lands in the LAST bin, not bins (off-by-one guard)
    val edge = Seq((1000000L, true)).toDF("p", "y")
    assert(Stats.calibrationReport(edge, "p", "y", bins = 10)
      .collect()(0).getLong(0) == 9L)
    // p outside [0, 1e6] fails loudly with a named diagnosis, never
    // a silent negative-bin row
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    val ex = intercept[Exception] {
      Stats.calibrationReport(Seq((-5L, true)).toDF("p", "y"), "p", "y",
        bins = 2).collect()
    }
    assert(messages(ex).exists(m => m.contains("calibration_report") &&
      m.contains("p_micro=-5")), messages(ex).mkString("; "))
  }

  test("mcnemar: only discordant pairs drive the statistic") {
    // pairs (T,T),(T,F),(T,F),(F,T): n10=2, n01=1 -> chi2 = 1/3
    val df = Seq(("k", true, true), ("k", true, false),
      ("k", true, false), ("k", false, true)).toDF("k", "a", "b")
    val r = Stats.mcnemar(df, Seq("k"), "a", "b").collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((1L, 0L, 2L, 1L)))
    assert(r.getLong(6) == 333333L)
    // fully concordant: test undefined
    val conc = Seq(("k", true, true), ("k", false, false)).toDF("k", "a", "b")
    assert(Stats.mcnemar(conc, Seq("k"), "a", "b").collect()(0).isNullAt(6))
  }

  test("nelsonAalen: cumulative hazard walk on the kaplanMeier hand case") {
    val df = Seq(("k", 1L, true), ("k", 2L, true), ("k", 3L, false),
      ("k", 4L, true), ("k", 5L, false)).toDF("k", "d", "e")
    val out = Stats.nelsonAalen(df, Seq("k"), "d", "e").orderBy("t")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(5)))
    // terms: 1/5=200000, 1/4=250000, 0, 1/2=500000, 0
    assert(out.toSeq == Seq((1L, 5L, 200000L), (2L, 4L, 450000L),
      (3L, 3L, 450000L), (4L, 2L, 950000L), (5L, 1L, 950000L)))
  }

  test("welchT: unequal-variance t and Welch-Satterthwaite df") {
    // A = {1,2,3}: mean 2, s^2/n = 1/3; B = {5,7}: mean 6, s^2/n = 1
    // t = -4/sqrt(4/3) = -3.4641016; df = (4/3)^2/(1/18 + 1) = 32/19
    val df = Seq(("k", true, 1L), ("k", true, 2L), ("k", true, 3L),
      ("k", false, 5L), ("k", false, 7L)).toDF("k", "g", "v")
    val r = Stats.welchT(df, Seq("k"), "g", "v").collect()(0)
    assert((r.getLong(1), r.getLong(2)) == ((3L, 2L)))
    assert(r.getLong(3) == math.round(1e6 * -4.0 / math.sqrt(4.0 / 3.0)))
    assert(r.getLong(4) == math.round(1e3 * 32.0 / 19.0))
    // n < 2 in a group: undefined
    val small = Seq(("k", true, 1L), ("k", false, 5L), ("k", false, 7L))
      .toDF("k", "g", "v")
    val s = Stats.welchT(small, Seq("k"), "g", "v").collect()(0)
    assert(s.isNullAt(3) && s.isNullAt(4))
    // equal constant groups: zero variance -> undefined, not Inf
    val const = Seq(("k", true, 5L), ("k", true, 5L),
      ("k", false, 5L), ("k", false, 5L)).toDF("k", "g", "v")
    assert(Stats.welchT(const, Seq("k"), "g", "v").collect()(0).isNullAt(3))
  }

  test("chiSquareKxM: exact cell terms, dense grid for absent cells, guard") {
    // 2x2 with margins 30/30, 30/30 on N=60: every e=15,
    // chi2 = 4 * (300^2/54000e-9 nano) = 6.666..., V = sqrt(chi2/60)
    val rows = Seq.fill(10)(("t", "t")) ++ Seq.fill(20)(("t", "f")) ++
      Seq.fill(20)(("f", "t")) ++ Seq.fill(10)(("f", "f"))
    val df = rows.toDF("a", "b")
    val r = Stats.chiSquareKxM(df, "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((60L, 2L, 2L, 1L)))
    assert(r.getLong(4) == 4L * 1666666667L)
    assert(r.getLong(5) == math.round(1e6 *
      math.sqrt(4L * 1666666667L / 1e9 / 60.0)))
    // the ABSENT cell (y,q) contributes its full expected mass 1/4
    val sparse = Seq(("x", "p"), ("x", "p"), ("x", "q"), ("y", "p"))
      .toDF("a", "b")
    val s = Stats.chiSquareKxM(sparse, "a", "b").collect()(0)
    assert(s.getLong(4) == 27777778L + 83333333L + 83333333L + 250000000L)
    // margin cardinality guard fails loudly (3 levels > maxLevels=2)
    val wide = Seq(("x", "p"), ("y", "p"), ("z", "q")).toDF("a", "b")
    val ex = intercept[Exception] {
      Stats.chiSquareKxM(wide, "a", "b", maxLevels = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("chi_square_kxm")))
  }

  test("acf: exact mean-centered lags on 1..4; constant series undefined") {
    val df = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L), ("k", 4L, 4L))
      .toDF("k", "t", "x")
    val out = Stats.acf(df, Seq("k"), "t", "x", maxLag = 3)
      .orderBy("lag").collect()
      .map(r => (r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))
    // num_scaled: lag1 = 320-600+300 = 20; lag2 = 176-400+200 = -24;
    // lag3 = 64-200+100 = -36; den_scaled = 480-400 = 80
    assert(out.toSeq == Seq((1, 3L, 250000L), (2, 2L, -300000L),
      (3, 1L, -450000L)))
    val const = Seq(("k", 1L, 5L), ("k", 2L, 5L)).toDF("k", "t", "x")
    assert(Stats.acf(const, Seq("k"), "t", "x", maxLag = 1)
      .collect()(0).isNullAt(3))
  }

  test("vocabularyRichness: Good-Turing mass and bias-corrected Chao1") {
    // counts a:2 b:1 c:2 d:1 -> N=6, V=4, N1=2, N2=2
    val df = Seq("a a b c", "c d").toDF("text")
    val r = Stats.vocabularyRichness(df, "text").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((6L, 4L, 2L, 2L)))
    assert(r.getLong(4) == 333333L)           // 2e6 div 6
    assert(r.getLong(5) == 4333L)             // 4000 + 2000 div 6
    // singleton-free corpus: chao1 = V exactly, p0 = 0
    val nosing = Seq("a a b b").toDF("text")
    val n = Stats.vocabularyRichness(nosing, "text").collect()(0)
    assert(n.getLong(4) == 0L && n.getLong(5) == 2000L)
  }

  test("cohensD: pooled-sd effect size and the Hedges correction") {
    // A={2,4}, B={6,8}: both ss=2, pooled s^2=2, d=-4/sqrt(2), g=d*4/7
    val df = Seq(("k", true, 2L), ("k", true, 4L),
      ("k", false, 6L), ("k", false, 8L)).toDF("k", "g", "v")
    val r = Stats.cohensD(df, Seq("k"), "g", "v").collect()(0)
    // the operator's exact association order: (1e6*(ma-mb))/sp
    assert(r.getLong(3) == math.round(1e6 * -4.0 / math.sqrt(2.0)))
    assert(r.getLong(4) ==
      math.round(1e6 * -4.0 / math.sqrt(2.0) * (1.0 - 3.0 / 7.0)))
    // constant both groups: effect size undefined, not Inf
    val const = Seq(("k", true, 5L), ("k", true, 5L),
      ("k", false, 5L), ("k", false, 5L)).toDF("k", "g", "v")
    assert(Stats.cohensD(const, Seq("k"), "g", "v").collect()(0).isNullAt(3))
  }

  test("cochranArmitage: rising dose-response on the textbook 3-level case") {
    // s=0: 1/10, s=1: 5/10, s=2: 9/10 -> T=8, Var=5, z = 8/sqrt(5)
    val rows = (Seq.fill(1)(true) ++ Seq.fill(9)(false)).map(y => ("k", 0L, y)) ++
      (Seq.fill(5)(true) ++ Seq.fill(5)(false)).map(y => ("k", 1L, y)) ++
      (Seq.fill(9)(true) ++ Seq.fill(1)(false)).map(y => ("k", 2L, y))
    val df = rows.toDF("k", "s", "y")
    val r = Stats.cochranArmitage(df, Seq("k"), "s", "y").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((30L, 15L, 3L)))
    // the factored replay: NT=240, X=600
    assert(r.getLong(4) == math.round(1e6 * 240.0 * math.sqrt(30.0) /
      math.sqrt(225.0) / math.sqrt(600.0)))
    // sanity: equals the textbook z = T/sqrt(Var) within a micro
    assert(math.abs(r.getLong(4) - 1e6 * 8.0 / math.sqrt(5.0)) <= 1.0)
    // all-positive key: undefined
    val allPos = Seq(("k", 0L, true), ("k", 1L, true)).toDF("k", "s", "y")
    assert(Stats.cochranArmitage(allPos, Seq("k"), "s", "y")
      .collect()(0).isNullAt(4))
  }

  test("anovaF: exact nano decomposition on a two-group hand case") {
    // a={1,2,3}, b={4,5,6}: A = 12e9+75e9, B = 73.5e9 -> SSB 13.5,
    // SSW 4, F = 13.5/(4/4) = 13.5, eta2 = 13.5/17.5
    val df = Seq(("k", "a", 1L), ("k", "a", 2L), ("k", "a", 3L),
      ("k", "b", 4L), ("k", "b", 5L), ("k", "b", 6L)).toDF("k", "g", "v")
    val r = Stats.anovaF(df, Seq("k"), "g", "v").collect()(0)
    assert((r.getLong(1), r.getLong(2)) == ((6L, 2L)))
    assert(r.getLong(3) == 13L && r.getLong(4) == 4L) // whole value^2 parts
    assert(r.getLong(5) == 13500000L)
    assert(r.getLong(6) == 13500000000L * 1000000L / 17500000000L)
    // single group: F undefined
    val one = Seq(("k", "a", 1L), ("k", "a", 2L)).toDF("k", "g", "v")
    assert(Stats.anovaF(one, Seq("k"), "g", "v").collect()(0).isNullAt(5))
    // zero within-group variance: F undefined (not Inf)
    val zero = Seq(("k", "a", 1L), ("k", "a", 1L),
      ("k", "b", 2L), ("k", "b", 2L)).toDF("k", "g", "v")
    assert(Stats.anovaF(zero, Seq("k"), "g", "v").collect()(0).isNullAt(5))
  }

  test("brownForsythe: lower medians then anovaF on |x - med|") {
    // a={1,2,3} med 2 -> z {1,0,1}; b={10,20,30} med 20 -> z {10,0,10}
    // anova on z: A = 1333333333+133333333333, B = round(1e9*484/6)
    val df = Seq(("k", "a", 1L), ("k", "a", 2L), ("k", "a", 3L),
      ("k", "b", 10L), ("k", "b", 20L), ("k", "b", 30L)).toDF("k", "g", "v")
    val r = Stats.brownForsythe(df, Seq("k"), "g", "v").collect()(0)
    val a = 1333333333L + 133333333333L
    val b = math.round(1e9 * 484.0 / 6.0)
    val ssb = a - b
    val ssw = 202L * 1000000000L - a
    assert(r.getLong(3) == ssb / 1000000000L && r.getLong(4) == ssw / 1000000000L)
    assert(r.getLong(5) == math.round(1e6 *
      (ssb.toDouble / 1.0) / (ssw.toDouble / 4.0)))
    // identical spreads around different centers: SSB over z is 0
    val same = Seq(("k", "a", 1L), ("k", "a", 3L),
      ("k", "b", 11L), ("k", "b", 13L)).toDF("k", "g", "v")
    val s = Stats.brownForsythe(same, Seq("k"), "g", "v").collect()(0)
    assert(s.getLong(3) == 0L && s.getLong(5) == 0L)
  }

  test("kruskalWallis: textbook H on two groups; all-tied undefined") {
    // a={1,2}, b={3,4}: R_a=3, R_b=7 -> H = 0.6*(4.5+24.5) - 15 = 2.4
    val df = Seq(("k", "a", 1L), ("k", "a", 2L),
      ("k", "b", 3L), ("k", "b", 4L)).toDF("k", "g", "v")
    val r = Stats.kruskalWallis(df, Seq("k"), "g", "v").collect()(0)
    assert((r.getLong(1), r.getLong(2)) == ((4L, 2L)))
    assert(r.getLong(3) == 2400000L)
    // every value tied: correction denominator 0 -> NULL
    val tied = Seq(("k", "a", 5L), ("k", "b", 5L), ("k", "b", 5L))
      .toDF("k", "g", "v")
    assert(Stats.kruskalWallis(tied, Seq("k"), "g", "v")
      .collect()(0).isNullAt(3))
    // one group: NULL
    val one = Seq(("k", "a", 1L), ("k", "a", 2L)).toDF("k", "g", "v")
    assert(Stats.kruskalWallis(one, Seq("k"), "g", "v")
      .collect()(0).isNullAt(3))
  }

  test("grubbs: extreme-deviation statistic off one moment pass") {
    // {1,2,3,10}: dev = 24 at max, G = 24*sqrt(3)/sqrt(4)/sqrt(200)
    val df = Seq(("k", 1L), ("k", 2L), ("k", 3L), ("k", 10L)).toDF("k", "v")
    val r = Stats.grubbs(df, Seq("k"), "v").collect()(0)
    assert(r.getLong(1) == 4L && r.getLong(2) == 10L)
    assert(r.getLong(3) == math.round(1e6 * 24.0 * math.sqrt(3.0) /
      math.sqrt(4.0) / math.sqrt(200.0)))
    // low-side outlier reports the min
    val lo = Seq(("k", -10L), ("k", 1L), ("k", 2L), ("k", 3L)).toDF("k", "v")
    assert(Stats.grubbs(lo, Seq("k"), "v").collect()(0).getLong(2) == -10L)
    // n < 3 and zero variance: undefined
    assert(Stats.grubbs(Seq(("k", 1L), ("k", 2L)).toDF("k", "v"),
      Seq("k"), "v").collect()(0).isNullAt(3))
    assert(Stats.grubbs(Seq(("k", 5L), ("k", 5L), ("k", 5L)).toDF("k", "v"),
      Seq("k"), "v").collect()(0).isNullAt(3))
  }

  test("andersonDarling: tie-adjusted midrank A2 on hand cases") {
    // A={1,2}, B={3,4}: per-value nano terms 166666667/409090909 x2
    // each -> sum 2303030304, A2 = 3/4 * 2.303... = 1.727273
    val a = Seq(1L, 2L).toDF("v"); val b = Seq(3L, 4L).toDF("v")
    val r = Stats.andersonDarling(a, b, "v").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert(r.getLong(2) == math.round(3.0 * 2303030304L / 4.0 / 1000.0))
    // identical samples: every num2 is 0 -> A2 = 0
    val same = Stats.andersonDarling(Seq(1L, 2L).toDF("v"),
      Seq(1L, 2L).toDF("v"), "v").collect()(0)
    assert(same.getLong(2) == 0L)
    // single pooled distinct value / empty side: undefined
    assert(Stats.andersonDarling(Seq(5L).toDF("v"), Seq(5L).toDF("v"), "v")
      .collect()(0).isNullAt(2))
    assert(Stats.andersonDarling(Seq(1L, 2L).toDF("v"),
      Seq.empty[Long].toDF("v"), "v").collect()(0).isNullAt(2))
  }

  test("two-sample family fails loudly past the pooled distinct-value " +
      "cap, passes exactly at it") {
    // 4 pooled distinct values with max_distinct=3: the single-
    // partition cumulative window must abort with a named diagnosis,
    // not grind through an unquantized metric; at the cap it is fine
    val a = Seq(1L, 2L).toDF("v"); val b = Seq(3L, 4L).toDF("v")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    for ((name, run) <- Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      ("ks_statistic", n => Stats.ksStatistic(a, b, "v", maxDistinct = n)),
      ("distribution_distance",
        n => Stats.distributionDistance(a, b, "v", maxDistinct = n)),
      ("anderson_darling",
        n => Stats.andersonDarling(a, b, "v", maxDistinct = n)),
      ("energy_distance",
        n => Stats.energyDistance(a, b, "v", maxDistinct = n)))) {
      val ex = intercept[Exception] { run(3).collect() }
      assert(messages(ex).exists(m =>
        m.contains(name) && m.contains("maxDistinct")), s"$name guard")
      assert(run(4).count() == 1L, s"$name at-cap")
    }
  }

  test("energyDistance: exact prefix-identity pair sums on hand cases") {
    // A={0,2}, B={1,3}: E|X-Y| = 6/4, E|X-X'| = E|Y-Y'| = 1 -> E = 1
    val a = Seq(0L, 2L).toDF("v"); val b = Seq(1L, 3L).toDF("v")
    val r = Stats.energyDistance(a, b, "v").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 1000000L)))
    // identical distributions: E = 0 exactly
    val same = Seq(1L, 2L).toDF("v")
    assert(Stats.energyDistance(same, same, "v").collect()(0)
      .getLong(2) == 0L)
    // empty side: undefined
    assert(Stats.energyDistance(a, Seq.empty[Long].toDF("v"), "v")
      .collect()(0).isNullAt(2))
  }

  test("mutualInformation: perfect dependence U=1, independence U=0") {
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val r = Stats.mutualInformation(dep, "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 2L, 2L)))
    assert(r.getLong(3) == 2L * math.round(1e9 * 0.5 * math.log(2.0)))
    assert(r.getLong(3) == r.getLong(4)) // MI = H(A) at perfect dependence
    assert(r.getLong(5) == 1000000L)
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val i = Stats.mutualInformation(ind, "a", "b").collect()(0)
    assert(i.getLong(3) == 0L && i.getLong(5) == 0L)
    // constant A: H(A) = 0, U undefined
    val const = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    assert(Stats.mutualInformation(const, "a", "b").collect()(0).isNullAt(5))
    // margin guard fails loudly
    val ex = intercept[Exception] {
      Stats.mutualInformation(Seq(("x", "p"), ("y", "p"), ("z", "q"))
        .toDF("a", "b"), "a", "b", maxLevels = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("mutual_information")))
  }

  test("quantizeStep picks the finest power-of-10 step fitting maxBins") {
    // 0..99 distinct: fits 100 bins at step 1; at maxBins=32 the lattice
    // probe lands on step 10 (10 bins); 0..9999 needs step 1000 (10 bins
    // — step 100 still leaves 100 > 32)
    val small = (0L until 100L).toDF("v")
    assert(Stats.quantizeStep(small, "v", maxBins = 100) == 1L)
    assert(Stats.quantizeStep(small, "v", maxBins = 32) == 10L)
    val wide = (0L until 10000L by 1L).toDF("v")
    assert(Stats.quantizeStep(wide, "v", maxBins = 32) == 1000L)
    // NULLs excluded; empty input degenerates to step 1
    val nulls = Seq[Option[Long]](None, None).toDF("v")
    assert(Stats.quantizeStep(nulls, "v") == 1L)
    // the computed step really satisfies the downstream bin guard
    val step = Stats.quantizeStep(wide, "v", maxBins = 32)
    assert(wide.selectExpr(s"v div ${step}L as q").distinct().count() <= 32L)
  }

  test("quantizeStepPerKey probes the max PER-KEY distinct count") {
    // 100 distinct values split over 2 keys (50 each): the per-key probe
    // fits maxBins=50 at step 1 where the global probe would force 10
    val df = (0L until 100L).map(v => (v % 2, v)).toDF("k", "v")
    assert(Stats.quantizeStepPerKey(df, Seq("k"), "v", maxBins = 50) == 1L)
    assert(Stats.quantizeStep(df, "v", maxBins = 50) == 10L)
    // a single hot key drives the step up even when others are tiny
    val hot = ((0L until 200L).map(v => (0L, v)) ++ Seq((1L, 5L)))
      .toDF("k", "v")
    assert(Stats.quantizeStepPerKey(hot, Seq("k"), "v", maxBins = 50) == 10L)
    // NULL key or value rows are excluded (the monitors' exclusion rule)
    val nulls = Seq((Some(0L), Some(1L)), (None, Some(2L)),
      (Some(0L), None)).toDF("k", "v")
    assert(Stats.quantizeStepPerKey(nulls, Seq("k"), "v") == 1L)
    // the computed step satisfies the per-key downstream guard
    val step = Stats.quantizeStepPerKey(hot, Seq("k"), "v", maxBins = 50)
    val worst = hot.selectExpr("k", s"v div ${step}L as q").distinct()
      .groupBy("k").count().agg(org.apache.spark.sql.functions.max("count"))
      .head().getLong(0)
    assert(worst <= 50L)
  }

  test("gram matrix memory contract holds at the d=4096 ceiling") {
    // the documented contract: one ~67 MiB buffer per partial at the
    // ceiling — construct it, feed a vector, and pin the state size;
    // one past the ceiling is rejected at plan time
    val buf = new graft.pipeline.GramBuffer(4096)
    assert(buf.prods.length == 4096 * 4097 / 2)
    val bytes = 8L * (buf.prods.length + buf.sums.length + 1)
    assert(bytes > 64L * 1024 * 1024 && bytes < 70L * 1024 * 1024,
      s"buffer is $bytes bytes — update the scaladoc contract if this moved")
    val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill[Any](4096)(1L))
    buf.add(v)
    assert(buf.n == 1L && buf.sums(0) == 1L && buf.prods(0) == 1L)
    assert(intercept[IllegalArgumentException] {
      graft.pipeline.GramMatrixAggregate(
        org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)), 4097)
    }.getMessage.contains("4096"))
  }

  test("covarianceMatrix fails loudly on a null vector ELEMENT") {
    // a whole-null vector is skipped (tested above) but a null
    // component inside a vector must abort, not read as 0
    val df = Seq(Seq(Some(1L), Some(2L)), Seq(Some(3L), None)).toDF("v")
    val ex = intercept[Exception] { Stats.covarianceMatrix(df, "v", 2).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
        messages(e.getCause))
    assert(messages(ex).exists(_.contains("null element")))
  }

  test("isotonicCalibrate pools adjacent violators exactly") {
    // scores 1,1,2,2,3,3,4,4; buckets=4 -> bounds [1,2,3] -> buckets
    // 1:{s=1} rate 1.0, 2:{s=2} rate 0.0, 3:{s=3,4} rate 3/4.
    // PAV merges the 1.0 > 0.0 violation into a 2/4 block:
    // cal = [0.5, 0.5, 0.75]
    val df = Seq((1L, true), (1L, true), (2L, false), (2L, false),
      (3L, true), (3L, false), (4L, true), (4L, true)).toDF("s", "y")
    val out = Stats.isotonicCalibrate(df, "s", "y", buckets = 4)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1, 2L, 2L, 500000L), (2, 2L, 0L, 500000L), (3, 4L, 3L, 750000L)))
    // already-monotone input is untouched
    val mono = Seq((1L, false), (1L, false), (2L, true), (2L, false),
      (3L, true), (3L, true)).toDF("s", "y")
    val m = Stats.isotonicCalibrate(mono, "s", "y", buckets = 3)
      .orderBy("bucket").collect().map(_.getLong(3))
    assert(m.toSeq == m.toSeq.sorted)
  }

  test("pcaTopComponent recovers the dominant eigenpair") {
    // covariance [[1,2],[2,4]] has eigenvalues 5 and 0; top eigenvector
    // is (1,2)/sqrt(5), sign pinned positive on the largest loading
    val cov = Seq((0, 0, 1.0), (0, 1, 2.0), (1, 1, 4.0)).toDF("i", "j", "cov")
    val pc = Stats.pcaTopComponent(cov, 2).orderBy("dim")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(math.abs(pc(0)._2 - 1.0 / math.sqrt(5)) < 1e-12)
    assert(math.abs(pc(1)._2 - 2.0 / math.sqrt(5)) < 1e-12)
    assert(math.abs(pc(0)._3 - 5.0) < 1e-12)
  }

  test("anomalyFlags agrees with the float z-score on a hand case") {
    // group a: values 10,10,10,10,100 — 100 is the obvious outlier
    val df = Seq(("a", 10L), ("a", 10L), ("a", 10L), ("a", 10L), ("a", 100L),
      ("b", 5L), ("b", 7L)).toDF("k", "v")
    val out = Stats.anomalyFlags(df, Seq("k"), "v", kNum = 3, kDen = 2)
      .select("k", "v", "is_anomaly").orderBy("k", "v").collect()
    val flags = out.map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    // float z for 100 in group a: mean=28, sigma=sqrt((5*10400-140^2)/25)=36 -> z=2
    assert(flags == Seq(
      ("a", 10L, false), ("a", 10L, false), ("a", 10L, false),
      ("a", 10L, false), ("a", 100L, true),
      ("b", 5L, false), ("b", 7L, false)))
  }

  test("anomalyFlags matches the float z-score gate on random data") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 2000).map(i =>
      (s"g${rnd.nextInt(8)}", (rnd.nextGaussian() * 100).round + 500))
    val df = rows.toDF("k", "v")
    val got = Stats.anomalyFlags(df, Seq("k"), "v", kNum = 2, kDen = 1)
      .select("k", "v", "is_anomaly").as[(String, Long, Boolean)]
      .collect().toSeq.sorted
    // float reference; strict > on z^2 comparison mirrors the gate
    val byK = rows.groupBy(_._1)
    val want = rows.map { case (k, v) =>
      val vs = byK(k).map(_._2.toDouble)
      val n = vs.size.toDouble
      val s = vs.sum; val ssq = vs.map(x => x * x).sum
      (k, v, (n * v - s) * (n * v - s) > 4.0 * (n * ssq - s * s))
    }.sorted
    assert(got == want)
  }

  test("singleton groups never flag") {
    val df = Seq(("x", 99L)).toDF("k", "v")
    val out = Stats.anomalyFlags(df, Seq("k"), "v")
      .select("is_anomaly", "dev2", "var_n2").collect()
    assert(out.length == 1 && !out(0).getBoolean(0)
      && out(0).getLong(1) == 0L && out(0).getLong(2) == 0L)
  }

  test("the moment join broadcasts instead of reshuffling the fact side") {
    val df = (1 to 1000).map(i => (s"g${i % 4}", i.toLong)).toDF("k", "v")
    val plan = Stats.anomalyFlags(df, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("AdaptiveSparkPlan"),
      s"moment join should broadcast:\n$plan")
  }

  test("Profile.profile: counts, nulls, distincts, min/max per column") {
    import graft.pipeline.Profile
    val df = Seq(
      (1L, Some("a")), (2L, Some("b")), (2L, None), (5L, Some("a"))
    ).toDF("id", "tag")
    val got = Profile.profile(df, Seq("id", "tag"))
      .orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSeq
    assert(got == Seq(
      ("id", 4L, 4L, 3L, "1", "5"),
      ("tag", 4L, 3L, 2L, "a", "b")))
  }

  test("Profile.profile is a single pass (one aggregate, no joins)") {
    import graft.pipeline.Profile
    val df = (1 to 100).map(i => (i.toLong, s"s${i % 7}")).toDF("a", "b")
    val plan = Profile.profile(df, Seq("a", "b")).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"profile should not join:\n$plan")
  }

  test("cohortRetention: hand-checked triangle") {
    import graft.pipeline.Temporal
    // u1 first active day0, returns day1; u2 first day1 only
    val us = 86400L * 1000000L
    val df = Seq((1L, 0L), (1L, us), (1L, us + 5L), (2L, us))
      .toDF("user_id", "tus")
    val got = Temporal.cohortRetention(df, "user_id", "tus")
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("1970-01-01", 0, 1L), ("1970-01-01", 1, 1L), ("1970-01-02", 0, 1L)))
  }

  test("cusum closed form equals the direct max(0,.) recurrence") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for (k <- 0 until 4; t <- 0 until 60)
      yield (k.toLong, t.toLong, (10 + rnd.nextInt(11)).toLong) // 10..20
    val df = rows.toDF("k", "t", "x")
    val got = graft.pipeline.Stats.cusum(df, Seq("k"), "t", "x",
        ref = 15L, slack = 1L, threshold = 8L)
      .select("k", "t", "cusum_hi", "cusum_lo", "is_change")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    for (k <- 0 until 4) {
      var sh = 0L
      var sl = 0L
      for (t <- 0 until 60) {
        val x = rows(k * 60 + t)._3
        sh = math.max(0L, sh + (x - 15 - 1))
        sl = math.max(0L, sl + (15 - x - 1))
        val (gh, gl, gc) = got((k.toLong, t.toLong))
        assert(gh == sh && gl == sl, s"k=$k t=$t got ($gh,$gl) want ($sh,$sl)")
        assert(gc == (sh > 8 || sl > 8))
      }
    }
  }

  test("cusum flags a planted level shift and recovers") {
    import spark.implicits._
    // flat at ref, then a +10 shift for 5 buckets: hi side must flag
    val rows = (0 until 20).map(t =>
      (1L, t.toLong, if (t >= 10 && t < 15) 25L else 15L))
    val out = graft.pipeline.Stats.cusum(rows.toDF("k", "t", "x"),
        Seq("k"), "t", "x", ref = 15L, slack = 1L, threshold = 12L)
      .orderBy("t").collect()
    assert(!out.take(10).exists(_.getBoolean(5)))
    assert(out.slice(11, 15).forall(_.getBoolean(5))) // 2nd shifted bucket on
  }

  test("psiReport: identical distributions score ~0, shifted ones score high") {
    import spark.implicits._
    val ref = (0 until 1000).map(i => Tuple1((i % 100).toLong)).toDF("v")
    val same = (0 until 1000).map(i => Tuple1((i % 100).toLong)).toDF("v")
    val shifted = (0 until 1000).map(i => Tuple1((i % 100 + 80).toLong)).toDF("v")
    val calm = graft.pipeline.Stats.psiReport(ref, same, "v", 10)
      .agg(sum("psi_unats")).collect().head.getLong(0)
    val alarm = graft.pipeline.Stats.psiReport(ref, shifted, "v", 10)
      .agg(sum("psi_unats")).collect().head.getLong(0)
    assert(calm == 0L, s"identical dists must score 0 micro-nats, got $calm")
    // industry "act" gate is 0.25 = 250000 micro-nats
    assert(alarm > 250000L, s"an 80% shift must alarm, got $alarm")
  }

  test("psiReport: every row lands in a bucket; counts are conserved") {
    import spark.implicits._
    val ref = (0 until 500).map(i => Tuple1(i.toLong)).toDF("v")
    val cur = (0 until 300).map(i => Tuple1((i * 3).toLong)).toDF("v")
    val rows = graft.pipeline.Stats.psiReport(ref, cur, "v", 10).collect()
    assert(rows.map(_.getLong(1)).sum == 500L)
    assert(rows.map(_.getLong(2)).sum == 300L)
    assert(rows.map(_.getInt(0)).distinct.length == rows.length)
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 10))
  }

  test("trend: exact slope on a hand case; singleton keys report null") {
    import spark.implicits._
    // y = 3x + 5 exactly -> slope 3.000000; plus a singleton key
    val df = (0L to 10L).map(x => ("a", x, 3 * x + 5)).toDF("k", "x", "y")
      .union(Seq(("b", 1L, 7L)).toDF("k", "x", "y"))
    val out = graft.pipeline.Stats.trend(df, Seq("k"), "x", "y")
      .orderBy("k").collect()
    assert(out(0).getLong(2) == 3000000L)
    assert(out(1).isNullAt(2))
  }

  test("benford: digit shares sum to ~1000 and uniform data deviates") {
    import spark.implicits._
    // 1..9999 uniform: digit 1 is overrepresented vs Benford? No —
    // uniform 1..9999 gives each leading digit ~1111 values -> ~111
    // permille each, far from Benford's 301 for digit 1
    val df = (1L to 9999L).map(Tuple1(_)).toDF("v")
    val rows = graft.pipeline.Stats.benford(df, "v").orderBy("digit").collect()
    assert(rows.length == 9)
    assert(rows.map(_.getLong(2)).sum >= 995 && rows.map(_.getLong(2)).sum <= 1000)
    val d1 = rows.head
    assert(d1.getInt(0) == 1 && d1.getLong(3) == 301L)
    assert(d1.getLong(4) < -150L) // uniform data: digit-1 share ~111
    // non-positive values are excluded
    val withZeros = df.union(Seq(Tuple1(0L), Tuple1(-5L)).toDF("v"))
    val n2 = graft.pipeline.Stats.benford(withZeros, "v")
      .agg(sum("n")).collect().head.getLong(0)
    assert(n2 == 9999L)
  }

  test("cusum plan is one shuffle (both windows share the sort)") {
    import spark.implicits._
    val df = Seq((1L, 1L, 5L)).toDF("k", "t", "x")
    val plan = graft.pipeline.Stats.cusum(df, Seq("k"), "t", "x", 5L, 0L, 1L)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$plan")
  }

  test("percentileReport: exact discrete quantiles per key") {
    import spark.implicits._
    // key a: values 1..100 once each -> p500=50, p900=90, p990=99
    // key b: constant 7 -> every percentile is 7
    val df = ((1L to 100L).map(v => ("a", v)) ++ Seq.fill(10)(("b", 7L)))
      .toDF("k", "v")
    val rows = graft.pipeline.Stats.percentileReport(
        df, Seq("k"), "v", Seq(500, 900, 990))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows("a") == ((100L, 50L, 90L, 99L)))
    assert(rows("b") == ((10L, 7L, 7L, 7L)))
    // duplicates shift the cume exactly like repeated rows
    val dup = Seq(("c", 1L), ("c", 1L), ("c", 1L), ("c", 10L)).toDF("k", "v")
    val c = graft.pipeline.Stats.percentileReport(dup, Seq("k"), "v", Seq(750, 751))
      .collect().head
    assert(c.getLong(2) == 1L && c.getLong(3) == 10L) // cume(1)=3 = 75.0%
  }

  test("percentileReport shuffles the histogram, not the fact rows") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("k", "v")
    val plan = graft.pipeline.Stats.percentileReport(df, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    // first aggregate is partial+final on (k, v): map-side combine present
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"))
  }

  test("tokenEntropy: uniform tokens hit ln(k); repetition scores zero") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x x x x"), (3L, "a a b b")).toDF("id", "t")
    val out = graft.pipeline.Stats.tokenEntropy(df, "id", "t")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((4L, 4L, 4 * math.round(1e6 * 0.25 * math.log(4.0)))))
    assert(out(2L) == ((4L, 1L, 0L)))
    assert(out(3L) == ((4L, 2L, 2 * 2 * math.round(1e6 * 0.25 * math.log(2.0)))))
  }

  test("winsorize clamps into the exact percentile band per key") {
    import spark.implicits._
    // 1..100 once each: p100=10, p900=90 -> values clamp into [10, 90]
    val df = (1L to 100L).map(v => ("a", v, v)).toDF("k", "id", "v")
    val out = graft.pipeline.Stats.winsorize(df, Seq("k"), "v", 100, 900)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out(1L) == 10L && out(5L) == 10L && out(10L) == 10L)
    assert(out(50L) == 50L)
    assert(out(90L) == 90L && out(95L) == 90L && out(100L) == 90L)
  }

  test("robustAnomalyFlags: whale outlier flags; sigma-gate comparison case") {
    import spark.implicits._
    // 99 values of 10 + one whale 1000: med=10, MAD=0 -> whale flags
    val df = ((1L to 99L).map(i => ("a", i, 10L)) :+ ("a", 100L, 1000L))
      .toDF("k", "id", "v")
    val out = graft.pipeline.Stats.robustAnomalyFlags(df, Seq("k"), "v")
      .where(col("is_anomaly")).collect().map(_.getLong(1)).toSet
    assert(out == Set(100L))
    // spread data: nothing flags at 3 MAD when deviations are uniform
    val flat = (1L to 10L).map(i => ("b", i, i)).toDF("k", "id", "v")
    val n = graft.pipeline.Stats.robustAnomalyFlags(flat, Seq("k"), "v")
      .where(col("is_anomaly")).count()
    assert(n == 0L) // med=5, MAD=2, max dev 5 <= 6
  }

  test("collocations: planted adjacent phrase scores high, scattered pair absent") {
    import spark.implicits._
    // "new york" adjacent 6x; "red" and "blue" both frequent but never
    // adjacent; sub-2-token docs contribute nothing (strict bigrams)
    val docs = (Seq.fill(6)("new york is red and blue is big") :+
      "red q blue w red e blue r" :+ "solo").toDF("text")
    val out = graft.pipeline.Stats.collocations(docs, "text", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (cab, ca, cb, pmi) = out(("new", "york"))
    assert(cab == 6L && ca == 6L && cb == 6L)
    val nUni = 6 * 8 + 8 + 1 // six 8-token docs + one 8-token + "solo"
    val nBi = 6 * 7 + 7      // strict windows: "solo" has none
    val expected = math.round(1e6 * (math.log(6) + 2.0 * math.log(nUni.toDouble) -
      math.log(nBi.toDouble) - math.log(6) - math.log(6)))
    assert(pmi == expected)
    assert(!out.contains(("red", "blue"))) // frequent tokens, never adjacent
  }

  test("gapRegularity: metronome flags, bursty doesn't, edge cases") {
    import spark.implicits._
    def run(rows: Seq[(String, Long)]) =
      graft.pipeline.Stats.gapRegularity(rows.toDF("k", "ts"), Seq("k"), "ts",
          divisor = 1000000L, kNum = 1, kDen = 10, minGaps = 5)
        .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    // metronome: exactly 10s apart -> CV^2 = 0, robotic
    val metronome = (0L to 9L).map(i => ("bot", i * 10000000L))
    // bursty: gaps 1,1,1,1,100,1,1,1,100 s -> CV^2 well above 0.1
    val burstGaps = Seq(1L, 1L, 1L, 1L, 100L, 1L, 1L, 1L, 100L)
    val bursty = burstGaps.scanLeft(0L)(_ + _ * 1000000L).map(("human", _))
    // sub-second cadence: every gap divides to 0 -> degenerate metronome
    val fast = (0L to 9L).map(i => ("fastbot", i * 1000L))
    // short history: 4 gaps < minGaps=5 never flags, even on a metronome
    val short = (0L to 4L).map(i => ("new", i * 10000000L))
    val out = run(metronome ++ bursty ++ fast ++ short)
    assert(out("bot"))
    assert(!out("human"))
    assert(out("fastbot"))
    assert(!out("new"))
  }

  test("cohenKappa: hand case, perfect, systematic disagreement, degenerate") {
    def kappa(rows: Seq[(String, String)]): org.apache.spark.sql.Row =
      Stats.cohenKappa(rows.toDF("ga", "gb"), "ga", "gb").collect().head
    // 4x(a,a), 4x(b,b), 2x(a,b): n=10 agree=8, marginals gold a=6 b=4 /
    // guess a=4 b=6 -> pe_num=48, kappa = 32/52 = 615 permille truncated
    val hand = kappa(Seq.fill(4)(("a", "a")) ++ Seq.fill(4)(("b", "b")) ++
      Seq.fill(2)(("a", "b")))
    assert(hand.getLong(0) == 10L && hand.getLong(1) == 8L)
    assert(hand.getLong(2) == 48L && hand.getLong(3) == 32L)
    assert(hand.getLong(4) == 52L && hand.getLong(5) == 615L)
    // perfect agreement over two classes -> exactly 1000
    assert(kappa(Seq(("a", "a"), ("b", "b"), ("a", "a"))).getLong(5) == 1000L)
    // total systematic swap -> -1000 (negative branch of the sign-handled div)
    assert(kappa(Seq.fill(5)(("a", "b")) ++ Seq.fill(5)(("b", "a")))
      .getLong(5) == -1000L)
    // both columns constant: pe = 1, denominator 0 -> NULL kappa
    assert(kappa(Seq.fill(5)(("a", "a"))).isNullAt(5))
  }

  test("windowCooccur: exact window-2 pair counts, canonical order, strict windows") {
    val df = Seq("a b c d", "b a", "z").toDF("text")
    val got = Stats.windowCooccur(df, "text", window = 2, minCount = 1L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // doc1 d=1: (a,b),(b,c),(c,d); d=2: (a,c),(b,d); doc2 d=1: (b,a)->(a,b);
    // "z" has no pair at any distance (strict windows)
    assert(got == Map(("a", "b") -> 2L, ("b", "c") -> 1L, ("c", "d") -> 1L,
      ("a", "c") -> 1L, ("b", "d") -> 1L))
    // minCount prunes the singletons
    val pruned = Stats.windowCooccur(df, "text", window = 2, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pruned == Seq(("a", "b")))
  }

  test("fleissKappa: hand case, incomplete-item drop, perfect, swap, degenerate") {
    def fleiss(rows: Seq[(Long, String)], r: Int): org.apache.spark.sql.Row =
      Stats.fleissKappa(rows.toDF("item", "cat"), "item", "cat", r)
        .collect().head
    // items: (A,A,A), (A,A,B), (B,B,B), (A,B,B) + an incomplete 2-rating
    // item that must drop. N=4 r=3 S=28 C=72:
    // num=(28-12)*12-72*2=48, den=2*(144-72)=144 -> 333 permille
    val hand = fleiss(
      Seq(1L -> "A", 1L -> "A", 1L -> "A",
          2L -> "A", 2L -> "A", 2L -> "B",
          3L -> "B", 3L -> "B", 3L -> "B",
          4L -> "A", 4L -> "B", 4L -> "B",
          9L -> "A", 9L -> "A"), 3)
    assert(hand.getLong(0) == 4L)                      // n_items (9 dropped)
    assert(hand.getLong(2) == 28L && hand.getLong(3) == 72L) // s_sq, c_sq
    assert(hand.getLong(4) == 48L && hand.getLong(5) == 144L)
    assert(hand.getLong(6) == 333L)
    // perfect agreement across two categories -> exactly 1000
    assert(fleiss(Seq(1L -> "A", 1L -> "A", 1L -> "A",
      2L -> "B", 2L -> "B", 2L -> "B"), 3).getLong(6) == 1000L)
    // r=2 total within-item disagreement -> -1000
    assert(fleiss(Seq(1L -> "A", 1L -> "B", 2L -> "A", 2L -> "B"), 2)
      .getLong(6) == -1000L)
    // all ratings one category: den = 0 -> NULL
    assert(fleiss(Seq(1L -> "A", 1L -> "A", 2L -> "A", 2L -> "A"), 2)
      .isNullAt(6))
  }

  test("rougeN: clipped bigram overlap, permilles, short-side NULLs") {
    def rouge(cand: String, ref: String): org.apache.spark.sql.Row =
      Stats.rougeN(Seq((1L, cand, ref)).toDF("id", "cand", "ref"),
        "id", "cand", "ref", n = 2).collect().head
    // cand grams [a b, b c, c a, a b], ref grams [a b, b c]:
    // clipped match = min(1,2) + min(1,1) = 2
    val r = rouge("a b c a b", "a b c")
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L && r.getLong(3) == 2L)
    assert(r.getLong(4) == 500L && r.getLong(5) == 1000L && r.getLong(6) == 666L)
    // clipping caps repeated candidate grams at the ref multiplicity
    val c = rouge("x y x y x y", "x y")
    assert(c.getLong(3) == 1L && c.getLong(5) == 1000L)
    // sub-2-token ref: strict windows -> ref_n = 0, recall NULL
    val s = rouge("a b c", "a")
    assert(s.getLong(2) == 0L && s.getLong(3) == 0L && s.isNullAt(5))
    assert(s.getLong(4) == 0L)   // precision defined: 0/3
    // both sides too short -> every permille NULL
    val e = rouge("a", "b")
    assert(e.isNullAt(4) && e.isNullAt(5) && e.isNullAt(6))
  }

  test("krippendorffAlpha: hand case with variable raters, perfect, degenerate") {
    import org.apache.spark.sql.Row
    def alpha(rows: Seq[(Long, String)]): Row =
      Stats.krippendorffAlpha(rows.toDF("item", "cat"), "item", "cat")
        .collect().head
    // items: (A,A) r=2 t=0; (A,B) r=2 t=2e6; (B,B,B) r=3 t=0; single
    // rating (C) unpairable -> dropped. n=7 C=25:
    // num = 24e6 - 6*2e6 = 12e6, den = 24e6 -> 500 permille
    val hand = alpha(Seq(1L -> "A", 1L -> "A", 2L -> "A", 2L -> "B",
      3L -> "B", 3L -> "B", 3L -> "B", 9L -> "C"))
    assert(hand.getLong(0) == 7L && hand.getLong(1) == 3L)   // n_ratings, n_items
    assert(hand.getLong(2) == 2000000L && hand.getLong(3) == 25L) // d_o, c_sq
    assert(hand.getLong(6) == 500L)
    // perfect agreement, mixed panel sizes -> 1000
    assert(alpha(Seq(1L -> "A", 1L -> "A", 2L -> "B", 2L -> "B", 2L -> "B"))
      .getLong(6) == 1000L)
    // one category everywhere: den = 0 -> NULL
    assert(alpha(Seq(1L -> "A", 1L -> "A", 2L -> "A", 2L -> "A")).isNullAt(6))
    // nothing pairable -> NULL
    assert(alpha(Seq(1L -> "A", 2L -> "B")).isNullAt(6))
  }

  test("ngramNovelty: origin = min id, permille, short docs absent") {
    val df = Seq(
      (1L, "a b c d"),      // grams: abc, bcd — both first here -> 1000
      (2L, "a b c x"),      // abc (seen), bcx (new) -> 500
      (3L, "a b c d"),      // all seen -> 0
      (4L, "zz")            // sub-n doc: ONE truncated whole-doc gram
    ).toDF("doc_id", "text") //   (the DistinctNGrams fingerprint convention)
    val got = Stats.ngramNovelty(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(got == Map(1L -> ((2L, 2L, 1000L)), 2L -> ((2L, 1L, 500L)),
      3L -> ((2L, 0L, 0L)), 4L -> ((1L, 1L, 1000L))))
  }

  test("zipfFit: exact integer least squares on a constructed corpus") {
    // one doc whose token counts are a perfect power law would need
    // fractional counts; instead verify against an independently
    // computed expectation for counts (8, 4, 2, 1)
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++
      Seq.fill(2)("c") ++ Seq("d")).mkString(" ")
    val got = Stats.zipfFit(Seq((1L, text)).toDF("id", "text"), "text")
      .collect()(0)
    assert(got.getLong(0) == 4L)
    // replicate the documented formula exactly
    val xs = (1 to 4).map(r => math.round(1e6 * math.log(r)))
    val ys = Seq(8L, 4L, 2L, 1L).map(c => math.round(1e6 * math.log(c.toDouble)))
    val n = BigInt(4)
    val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
    val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum
    val sxx = xs.map(x => BigInt(x) * x).sum
    val slope = (n * sxy - sx * sy) * 1000000 / (n * sxx - sx * sx)
    val icpt = (sy * 1000000 - slope * sx) / (n * 1000000)
    assert(got.getLong(1) == slope.toLong, s"slope ${got.getLong(1)} vs $slope")
    assert(got.getLong(2) == icpt.toLong)
    // a genuine power law 8,4,2,1 over ranks 1..4 is NOT ln-linear
    // (freq halves while rank ratio shrinks), so just sanity-bound it
    assert(got.getLong(1) < 0L && got.getLong(1) > -2000000L)
  }

  test("zipfFit: degenerate single-term corpus yields null slope") {
    val got = Stats.zipfFit(Seq((1L, "x x x")).toDF("id", "text"), "text")
      .collect()(0)
    assert(got.getLong(0) == 1L && got.isNullAt(1) && got.isNullAt(2))
  }

  test("chiSquare2x2: hand-checked table, degenerate margins null") {
    // classic table a=20 b=30 c=35 d=15: chi2 = 100*(300-1050)^2/(50*50*55*45)
    val rows = (Seq.fill(20)((false, true)) ++ Seq.fill(30)((false, false)) ++
      Seq.fill(35)((true, true)) ++ Seq.fill(15)((true, false)))
      .map { case (g, su) => ("k", g, su) }
    val df = rows.toDF("k", "grp", "succ")
    val got = Stats.chiSquare2x2(df, Seq("k"), "grp", "succ").collect()(0)
    assert((got.getLong(1), got.getLong(2), got.getLong(3), got.getLong(4))
      == ((20L, 30L, 35L, 15L)))
    val exp = math.round(1e6 * 100.0 * (20.0 * 15 - 30 * 35) *
      (20.0 * 15 - 30 * 35) / (50.0 * 50 * 55 * 45))
    assert(got.getLong(5) == exp, s"${got.getLong(5)} vs $exp")
    assert(got.getBoolean(6)) // ~9.09 >> 3.84
    // single-group input: (c+d) margin 0 -> null test
    val deg = Seq(("k", false, true), ("k", false, false)).toDF("k", "grp", "succ")
    val dg = Stats.chiSquare2x2(deg, Seq("k"), "grp", "succ").collect()(0)
    assert(dg.isNullAt(5) && dg.isNullAt(6))
  }

  test("ksStatistic: exact integer D, smallest-value argmax tie-break") {
    // ref = {1,2,3,4}, cur = {3,4,5,6}: max |CDF gap| = 1/2 at v=2 (and
    // stays 1/2 at 3,4 -> tie-break reports v=2)
    val ref = Seq(1L, 2L, 3L, 4L).toDF("v")
    val cur = Seq(3L, 4L, 5L, 6L).toDF("v")
    val got = Stats.ksStatistic(ref, cur, "v").collect()(0)
    assert(got.getLong(0) == 4L && got.getLong(1) == 4L)
    assert(got.getLong(2) == 500000L, s"d_ppm ${got.getLong(2)}")
    assert(got.getLong(3) == 2L, s"at_value ${got.getLong(3)}")
    // identical samples -> D = 0
    val same = Stats.ksStatistic(ref, ref, "v").collect()(0)
    assert(same.getLong(2) == 0L)
  }

  test("conformalQuantile: exact order statistic, +inf edge is loud") {
    // 10 scores 1..10, alpha=100 (90%): k = ceil(11*0.9) = 10 -> qhat = 10
    val df = (1L to 10L).toDF("score")
    val got = Stats.conformalQuantile(df, "score", 100).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((10L, 10L, 10L)))
    // alpha=500: k = ceil(11*0.5) = 6 -> qhat = 6
    val half = Stats.conformalQuantile(df, "score", 500).collect()(0)
    assert(half.getLong(1) == 6L && half.getLong(2) == 6L)
    // n=3, alpha=100: k = ceil(4*0.9) = 4 > n -> +inf threshold, NULL row
    val tiny = Stats.conformalQuantile((1L to 3L).toDF("score"), "score", 100)
      .collect()(0)
    assert(tiny.isNullAt(0) && tiny.isNullAt(1) && tiny.isNullAt(2))
    // duplicate scores: ties collapse into the distinct-value counts
    val dup = Seq(1L, 1L, 1L, 2L).toDF("score")
    val d = Stats.conformalQuantile(dup, "score", 500).collect()(0)
    // k = ceil(5*0.5) = 3 -> third smallest is 1
    assert(d.getLong(1) == 3L && d.getLong(2) == 1L)
  }

  test("tokenLabelMI: perfect and independent tokens land where theory says") {
    // 4 docs, 2 labels. 'xx' appears exactly in the two label-a docs
    // (perfect 1-bit MI = ln 2); 'cc' appears in all docs (MI 0);
    // 'hh' appears in one doc of each label (independent of label, MI 0)
    val df = Seq(
      (1L, "xx cc hh", "a"), (2L, "xx cc", "a"),
      (3L, "cc hh", "b"), (4L, "cc yy", "b")).toDF("id", "text", "lab")
    val got = Stats.tokenLabelMI(df, "id", "text", "lab", 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    // two nonzero cells (present-a, absent-b), each ln 2 at p = 0.5,
    // each rounded once THEN summed
    assert(got("xx")._2 == 2 * math.round(1e6 * 0.5 * math.log(2.0)), got("xx"))
    assert(got("cc")._1 == 4L && got("cc")._2 == 0L)
    assert(got("hh")._2 == 0L) // 2x2 uniform over labels: independent
    // perfect predictor ranks first
    assert(got("xx")._3 == 1)
  }

  test("poissonBootstrap: deterministic, weights distribute like Poisson(1)") {
    val df = (0L until 4000L).map(i => (i, 100L)).toDF("id", "v")
    val a = Stats.poissonBootstrap(df, "id", "v", reps = 8).collect()
      .sortBy(_.getInt(0))
    val b = Stats.poissonBootstrap(df, "id", "v", reps = 8).collect()
      .sortBy(_.getInt(0))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq) // replayable
    assert(a.length == 8)
    // constant metric: every replicate mean is exactly 100
    a.foreach { r => assert(r.getDouble(3) == 100.0, r.toString) }
    // n_eff concentrates near n (Poisson(1) mean 1): all within 4 sigma
    a.foreach { r =>
      assert(math.abs(r.getLong(1) - 4000L) < 4 * math.sqrt(4000.0), r.toString)
    }
    // and replicates genuinely differ from each other
    assert(a.map(_.getLong(1)).distinct.length > 1)
    // sum is exactly 100 * n_eff (weights are integers)
    a.foreach { r => assert(r.getLong(2) == 100L * r.getLong(1)) }
  }

  test("tokenKL: identical slices are flat, a shifted token floats up") {
    val p = Seq("aa bb", "aa cc").toDF("text")
    // q lacks 'aa' entirely -> 'aa' must carry the largest contribution
    val q = Seq("bb cc", "bb dd").toDF("text")
    val rows = Stats.tokenKL(p, q, "text", 10).collect()
    val top = rows.minBy(_.getInt(4))
    assert(top.getString(0) == "aa" && top.getLong(1) == 2L && top.getLong(2) == 0L)
    // hand value: p_aa = 3/8, q_aa = 1/8 (add-one, Np=4 Nq=4 V=4)
    assert(top.getLong(3) ==
      math.round(1e6 * (3.0 / 8) * math.log((3.0 / 8) / (1.0 / 8))))
    // same slice twice: every contribution is exactly 0
    val flat = Stats.tokenKL(p, p, "text", 10).collect()
    assert(flat.forall(_.getLong(3) == 0L))
  }

  test("tokenJSD: zero on identical slices, symmetric, matches hand value") {
    val p = Seq("aa bb", "aa cc").toDF("text")
    val q = Seq("bb cc", "bb dd").toDF("text")
    val same = Stats.tokenJSD(p, p, "text").collect()(0)
    assert(same.getLong(1) == 0L)
    val ab = Stats.tokenJSD(p, q, "text").collect()(0)
    val ba = Stats.tokenJSD(q, p, "text").collect()(0)
    assert(ab.getLong(0) == 4L && ab.getLong(1) == ba.getLong(1)) // symmetric
    // hand: smoothed (p,q) per term over Np=Nq=4, V=4:
    // aa (3/8,1/8), bb (2/8,3/8), cc (2/8,2/8), dd (1/8,2/8)
    def term(pv: Double, qv: Double): Long = {
      val m = (pv + qv) / 2
      math.round(1e6 * (0.5 * pv * math.log(pv / m) +
        0.5 * qv * math.log(qv / m)))
    }
    val hand = term(3.0 / 8, 1.0 / 8) + term(2.0 / 8, 3.0 / 8) +
      term(2.0 / 8, 2.0 / 8) + term(1.0 / 8, 2.0 / 8)
    assert(ab.getLong(1) == hand, s"${ab.getLong(1)} vs $hand")
    assert(ab.getLong(1) > 0L && ab.getLong(1) < 693148L) // 0 < jsd < ln 2
  }

  test("simpsonReversals: the textbook reversal flags, aligned strata don't") {
    // classic: treatment better in BOTH strata, worse pooled
    // stratum X: grp 81/87 vs other 234/270; stratum Y: 192/263 vs 55/80
    def rows(st: String, g: Boolean, s: Boolean, n: Int) =
      Seq.fill(n)((st, g, s))
    val df = (rows("X", true, true, 81) ++ rows("X", true, false, 6) ++
      rows("X", false, true, 234) ++ rows("X", false, false, 36) ++
      rows("Y", true, true, 192) ++ rows("Y", true, false, 71) ++
      rows("Y", false, true, 55) ++ rows("Y", false, false, 25))
      .toDF("st", "g", "s")
    val got = Stats.simpsonReversals(df, "st", "g", "s").collect()
      .map(r => r.getString(0) -> (r.getInt(5), r.getInt(6), r.getBoolean(7)))
      .toMap
    // per-stratum: treatment better (sign +1); pooled: worse (sign -1)
    assert(got("X") == ((1, -1, true)), got.toString)
    assert(got("Y") == ((1, -1, true)), got.toString)
  }

  test("giniConcentration: even split is 0, total concentration nears 1") {
    val even = Seq("a", "a", "b", "b", "c", "c").toDF("k")
    val e = Stats.giniConcentration(even, "k").collect()(0)
    assert((e.getLong(0), e.getLong(1), e.getLong(2)) == ((3L, 6L, 0L)))
    // counts 1,1,8: gini = (2*(1*1+2*1+3*8) - 4*10) / (3*10) = 14/30
    val skew = (Seq.fill(8)("z") ++ Seq("x", "y")).toDF("k")
    val s = Stats.giniConcentration(skew, "k").collect()(0)
    assert(s.getLong(2) == 14L * 1000000 / 30)
  }

  test("cmhTest matches the hand formula and degenerate strata drop out") {
    // stratum X: a=20 b=30 c=35 d=15; stratum Y: a=8 b=2 c=5 d=5
    def rows(st: String, g: Boolean, s: Boolean, n: Int) =
      Seq.fill(n)((st, g, s))
    val df = (rows("X", true, true, 20) ++ rows("X", true, false, 30) ++
      rows("X", false, true, 35) ++ rows("X", false, false, 15) ++
      rows("Y", true, true, 8) ++ rows("Y", true, false, 2) ++
      rows("Y", false, true, 5) ++ rows("Y", false, false, 5) ++
      rows("Z", true, true, 1)).toDF("st", "g", "s") // Z: n=1, drops out
    val r = Stats.cmhTest(df, "st", "g", "s").collect()(0)
    def numI(a: Long, b: Long, c: Long, d: Long): Long = {
      val n = a + b + c + d
      math.round(1e6 * (a - (a + b).toDouble * (a + c) / n))
    }
    def denI(a: Long, b: Long, c: Long, d: Long): Long = {
      val n = a + b + c + d
      math.round(1e6 * ((a + b).toDouble * (c + d) * (a + c) * (b + d)) /
        (n.toDouble * n * (n - 1)))
    }
    val ns = numI(20, 30, 35, 15) + numI(8, 2, 5, 5)
    val ds = denI(20, 30, 35, 15) + denI(8, 2, 5, 5)
    assert(r.getLong(0) == 3L) // Z counted as a stratum, contributes 0
    assert(r.getLong(1) == ns && r.getLong(2) == ds)
    assert(r.getLong(3) == math.round(ns.toDouble * ns / ds))
    // X is strongly negative-assoc, Y positive; pooled X dominates
    assert(r.getBoolean(4) == (r.getLong(3) > 3841459L))
  }

  test("effectiveSampleSize: flat weights give n, one dominant row collapses it") {
    val flat = Seq.fill(10)(5L).toDF("w")
    val f = Stats.effectiveSampleSize(flat, "w").collect()(0)
    assert(f.getLong(0) == 10L && f.getLong(3) == 10000L) // ESS = n
    // one huge weight: ESS -> ~1
    val skew = (Seq.fill(9)(1L) :+ 1000L).toDF("w")
    val s = Stats.effectiveSampleSize(skew, "w").collect()(0)
    // (1009)^2 / (9 + 1e6) = 1.018... -> 1018 milli
    assert(s.getLong(3) == math.round(1000.0 * (1009.0 * 1009 / 1000009)))
    val zero = Seq(0L, 0L).toDF("w")
    assert(Stats.effectiveSampleSize(zero, "w").collect()(0).isNullAt(3))
  }

  test("spearmanCorr: monotone = 1e6, reversed = -1e6, ties mid-rank") {
    val mono = Seq((1L, 10L), (2L, 20L), (3L, 40L), (4L, 45L))
      .toDF("x", "y")
    assert(Stats.spearmanCorr(mono, "x", "y").collect()(0)
      .getLong(1) == 1000000L)
    val rev = Seq((1L, 9L), (2L, 7L), (3L, 5L), (4L, 2L)).toDF("x", "y")
    assert(Stats.spearmanCorr(rev, "x", "y").collect()(0)
      .getLong(1) == -1000000L)
    // constant y: undefined -> NULL
    val const = Seq((1L, 5L), (2L, 5L)).toDF("x", "y")
    assert(Stats.spearmanCorr(const, "x", "y").collect()(0).isNullAt(1))
    // tie case against the classic mid-rank formula: x=(1,2,2,4),
    // y=(1,3,2,4): double-ranks x=(2,5,5,8), y=(2,6,4,8)
    val tied = Seq((1L, 1L), (2L, 3L), (2L, 2L), (4L, 4L)).toDF("x", "y")
    val got = Stats.spearmanCorr(tied, "x", "y").collect()(0).getLong(1)
    val (dx, dy) = (Seq(2.0, 5, 5, 8), Seq(2.0, 6, 4, 8))
    val n = 4.0
    val (sx, sy) = (dx.sum, dy.sum)
    val sxy = dx.zip(dy).map { case (a, b) => a * b }.sum
    val (sxx, syy) = (dx.map(a => a * a).sum, dy.map(a => a * a).sum)
    val rho = (n * sxy - sx * sy) /
      math.sqrt(n * sxx - sx * sx) / math.sqrt(n * syy - sy * sy)
    assert(math.abs(got - math.round(1e6 * rho)) <= 1, s"$got vs $rho")
  }

  test("distinct-window family excludes NULL metric rows by contract") {
    // ksStatistic: a NULL value on either side must not become a NULL
    // histogram row (Spark orders NULL first, DuckDB last — admitting
    // them is engine-ambiguous); result equals the NULL-free input
    val a = Seq(Option(1L), Option(2L), None, Option(2L)).toDF("v")
    val b = Seq(Option(1L), Option(3L), None).toDF("v")
    val ks1 = Stats.ksStatistic(a, b, "v").collect().toSeq
    val ks2 = Stats.ksStatistic(a.na.drop(), b.na.drop(), "v").collect().toSeq
    assert(ks1 == ks2)
    assert(ks1.head.getLong(0) == 3L && ks1.head.getLong(1) == 2L,
      "n_ref/n_cur must count non-null rows only")
    // conformalQuantile: NULL scores are not calibration points
    // (alpha=500 keeps k=ceil(4*0.5)=2 <= n=3; qhat = 2nd smallest)
    val s1 = Seq(Option(10L), Option(20L), Option(30L), None).toDF("s")
    val c1 = Stats.conformalQuantile(s1, "s", alphaPermille = 500)
      .collect().head
    val c2 = Stats.conformalQuantile(s1.na.drop(), "s", alphaPermille = 500)
      .collect().head
    assert(c1 == c2 && c1.getLong(0) == 3L && c1.getLong(2) == 20L)
    // spearmanCorr: pairwise-complete — a NULL in either metric drops
    // the row from ranks AND moments
    val xy = Seq((Option(1L), Option(10L)), (Option(2L), Option(20L)),
      (Option(3L), Option(30L)), (None, Option(99L)), (Option(9L), None))
      .toDF("x", "y")
    val r1 = Stats.spearmanCorr(xy, "x", "y").collect().head
    val r2 = Stats.spearmanCorr(xy.na.drop(), "x", "y").collect().head
    assert(r1 == r2 && r1.getLong(0) == 3L && r1.getLong(1) == 1000000L)
  }

  test("spearmanCorr/giniConcentration: decimal moments past the long frontier") {
    // 50k rows of distinct ranks: the six spearman moments reach
    // ~4n^4 ≈ 2.5e19 > 2^63 in the n·Σxx products — the pre-decimal
    // long arithmetic overflowed (ANSI throw) at n ≈ 39k
    val n = 50000L
    val big = spark.range(n).select(col("id").as("x"), col("id").as("y"))
    val r = Stats.spearmanCorr(big, "x", "y").collect().head
    assert(r.getLong(0) == n && r.getLong(1) == 1000000L,
      s"monotone 50k-row rho must be exactly 1e6: $r")
    // gini now runs its Lorenz moments in DECIMAL(38,0) (the long form
    // overflowed at n_keys·Σc > 2^63/1e6 ≈ 9.2e12 — a fleet-scale
    // input no test can materialize); this pins the decimal path's
    // exactness against BigInt on a skewed 2.6M-row input
    val skew = spark.range(4)
      .select((col("id") % 2).as("k"))
      .unionByName(spark.range(2600000L).select(lit(2L).as("k")))
    val g = Stats.giniConcentration(skew, "k").collect().head
    assert(g.getLong(0) == 3L && g.getLong(1) == 2600004L, g.toString)
    // exact: counts c = (2,2,2600000) sorted -> Σic = 2+4+7800000
    // gini_ppm = (2*7800006 - 4*2600004)*1e6 div (3*2600004)
    val ic = 2L + 4L + 3L * 2600000L
    val expected = (BigInt(2) * ic - BigInt(4) * 2600004L) * 1000000 /
      (BigInt(3) * 2600004L)
    assert(g.getLong(2) == expected.toLong, s"${g.getLong(2)} vs $expected")
  }

  test("r18 moment family: DECIMAL accumulation survives values whose " +
      "long square wraps (welchT/cohensD/grubbs/acf)") {
    // a single 4e9 value already wraps as a long square (1.6e19 > 2^63
    // ≈ 9.22e18) — the pre-decimal sum(v*v) silently produced garbage
    // t/d/G/r; the variance numerators (n·Σx² − S²) cancel the offset
    // EXACTLY in decimal, so the expected statistics stay hand-sized
    val a = 4000000000L
    // A = {a, a+2}: s²/n = 1; B = {a+10, a+14}: s²/n = 4; Δmean = -11
    val w = Seq(("k", true, a), ("k", true, a + 2),
      ("k", false, a + 10), ("k", false, a + 14)).toDF("k", "g", "v")
    val wr = Stats.welchT(w, Seq("k"), "g", "v").collect()(0)
    assert(wr.getLong(3) == math.round(1e6 * -11.0 / math.sqrt(5.0)),
      s"welchT t_micro wrapped: $wr")
    assert(wr.getLong(4) == math.round(1e3 * 25.0 / 17.0),
      s"welchT df_milli wrapped: $wr")
    // same frame: sp = sqrt(((n-1)s²_A + (n-1)s²_B)/(N-2)) = sqrt(5)
    val cd = Stats.cohensD(w, Seq("k"), "g", "v").collect()(0)
    assert(cd.getLong(3) == math.round(1e6 * -11.0 / math.sqrt(5.0)),
      s"cohensD d_micro wrapped: $cd")
    assert(cd.getLong(4) == math.round(
      1e6 * -11.0 / math.sqrt(5.0) * (1.0 - 3.0 / 7.0)),
      s"cohensD g_micro wrapped: $cd")
    // {a, a+1, a+2, a+9}: dev = 24 at max, n·Σx²−S² = 200
    val gdf = Seq(("k", a), ("k", a + 1), ("k", a + 2), ("k", a + 9))
      .toDF("k", "v")
    val gr = Stats.grubbs(gdf, Seq("k"), "v").collect()(0)
    assert(gr.getLong(2) == a + 9, s"grubbs at_value wrapped: $gr")
    assert(gr.getLong(3) == math.round(1e6 * 24.0 * math.sqrt(3.0) /
      math.sqrt(4.0) / math.sqrt(200.0)), s"grubbs g_micro wrapped: $gr")
    // linear series a+{1,2,3,4}: lag-1 numerator/denominator both
    // cancel to 20/80 exactly — r_micro = 250000, shift-invariant
    val ts = Seq(("k", 1, a + 1), ("k", 2, a + 2), ("k", 3, a + 3),
      ("k", 4, a + 4)).toDF("k", "t", "v")
    val ar = Stats.acf(ts, Seq("k"), "t", "v", maxLag = 1).collect()(0)
    assert(ar.getLong(3) == 250000L, s"acf r_micro wrapped: $ar")
  }

  test("anovaF: DECIMAL moments survive row counts whose long Σv² " +
      "wraps") {
    // 2.4M rows at v ≈ 3.1e6: Σv² ≈ 2.3e19 > 2^63 — the pre-decimal
    // long sum wrapped to a negative SSW and a null F. Exact F is
    // 25·(n−k): groups {c,c+2} (mean c+1) and {c+10,c+12} (mean
    // c+11), SSW = 2.4e6, SSB = 6e7; the per-group nano terms round
    // in double at ~1e-16 relative, so assert within 0.5%.
    val c = 3100000L
    val half = 600000L
    val g1 = spark.range(half).select(lit("a").as("g"), lit(c).as("v"))
      .unionByName(spark.range(half)
        .select(lit("a").as("g"), lit(c + 2).as("v")))
    val g2 = spark.range(half).select(lit("b").as("g"), lit(c + 10).as("v"))
      .unionByName(spark.range(half)
        .select(lit("b").as("g"), lit(c + 12).as("v")))
    val df = g1.unionByName(g2).withColumn("k", lit("k"))
    val r = Stats.anovaF(df, Seq("k"), "g", "v").collect()(0)
    assert(r.getLong(1) == 4L * half && r.getLong(2) == 2L, r.toString)
    val ssw = r.getLong(4).toDouble
    assert(math.abs(ssw - 2400000.0) < 12000.0,
      s"ss_within wrapped or drifted: $r")
    val fExact = 1e6 * 25.0 * (4.0 * half - 2.0)
    assert(!r.isNullAt(5) &&
      math.abs(r.getLong(5) - fExact) / fExact < 0.005,
      s"f_micro wrapped or drifted: $r")
  }

  test("durbinWatson hand case, single-row NULL, zero-denominator NULL") {
    // a: 1,2,3,4 -> num 3, den 30 -> 0.1; b: one row; c: all zeros
    val df = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L), ("a", 4L, 4L),
      ("b", 1L, 7L), ("c", 1L, 0L), ("c", 2L, 0L)).toDF("k", "t", "v")
    val out = Stats.durbinWatson(df, Seq("k"), "t", "v").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out(0) == (("a", 4L, 100000L)))
    assert(out(1) == (("b", 1L, -1L)))
    assert(out(2) == (("c", 2L, -1L)))
  }

  test("runsTest hand z, one-sided NULL, zero-variance NULL") {
    // a: T T F F T -> n1=3 n2=2 R=3, z = -0.436436; b: all true;
    // c: T,F -> var_num = 0
    val df = Seq(("a", 1L, true), ("a", 2L, true), ("a", 3L, false),
      ("a", 4L, false), ("a", 5L, true),
      ("b", 1L, true), ("b", 2L, true),
      ("c", 1L, true), ("c", 2L, false)).toDF("k", "t", "f")
    val out = Stats.runsTest(df, Seq("k"), "t", "f").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))
    assert(out(0) == (("a", 3L, 2L, 3L, -436436L)))
    assert(out(1) == (("b", 2L, 0L, 1L, Long.MinValue)))
    assert(out(2) == (("c", 1L, 1L, 2L, Long.MinValue)))
  }

  test("ljungBox composes acf's quantized output with exact integer " +
      "terms; short series NULL") {
    // a: 1..6, h=3 -> r_micro (500000, 57143, -271429),
    // Q = n(n+2)*Sigma((r^2*1e6) div (n-k)) / 1e12 = 3.617963
    val df = ((1 to 6).map(i => ("a", i.toLong, i.toLong)) ++
      (1 to 3).map(i => ("b", i.toLong, (i % 2).toLong))).toDF("k", "t", "v")
    val out = Stats.ljungBox(df, Seq("k"), "t", "v", maxLag = 3)
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))
    assert(out(0) == (("a", 6L, 3L, 3617963L)))
    assert(out(1) == (("b", 3L, 3L, Long.MinValue)), "n <= h is NULL")
  }

  test("jarqueBera hand skew/kurtosis/JB; constant series NULL") {
    val df = (Seq(1L, 2L, 3L, 4L, 10L).map(("a", _)) ++
      Seq(5L, 5L).map(("b", _))).toDF("k", "v")
    val out = Stats.jarqueBera(df, Seq("k"), "v").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue else r.getLong(3),
        if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))
    assert(out(0) == (("a", 5L, 1138420L, -212000L, 1089363L)))
    assert(out(1) == (("b", 2L, Long.MinValue, Long.MinValue,
      Long.MinValue)), "M2 = 0 is NULL")
  }

  test("cochranQ textbook case; incomplete block fails loud; " +
      "degenerate denominator NULL") {
    val rows = for {
      (i, ys) <- Seq((1L, Seq(1, 1, 0)), (2L, Seq(1, 1, 1)),
        (3L, Seq(0, 1, 0)), (4L, Seq(0, 0, 0)))
      (y, j) <- ys.zipWithIndex
    } yield ("k1", i, s"t$j", y == 1)
    val out = Stats.cochranQ(rows.toDF("k", "i", "j", "y"),
      Seq("k"), "i", "j", "y").collect()(0)
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) ==
      ((4L, 3L, 3000000L)))
    val bad = rows.drop(1).toDF("k", "i", "j", "y") // item 1 lost t0
    val e = intercept[Exception] {
      Stats.cochranQ(bad, Seq("k"), "i", "j", "y").collect()
    }
    assert(e.getMessage.contains("cochran_q") ||
      e.getCause.getMessage.contains("cochran_q"))
    // all items all-success -> den 0 -> NULL
    val allTrue = (for (i <- 1L to 3L; j <- 0 to 1)
      yield ("k1", i, s"t$j", true)).toDF("k", "i", "j", "y")
    assert(Stats.cochranQ(allTrue, Seq("k"), "i", "j", "y")
      .collect()(0).isNullAt(3))
  }

  test("bartlett hand chi2; zero-variance group NULL; k=1 NULL") {
    val df = (Seq(1L, 2L, 3L, 4L).map(("k1", "a", _)) ++
      Seq(1L, 3L, 5L, 7L, 9L).map(("k1", "b", _)) ++
      Seq(5L, 5L, 5L).map(("k2", "a", _)) ++
      Seq(1L, 2L, 9L).map(("k2", "b", _)) ++
      Seq(1L, 2L).map(("k3", "a", _))).toDF("kk", "g", "v")
    val out = Stats.bartlett(df, Seq("kk"), "g", "v").orderBy("kk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))
    assert(out(0) == (("k1", 2L, 9L, 1990232L)))
    assert(out(1) == (("k2", 2L, 6L, Long.MinValue)), "ln(0) group NULL")
    assert(out(2) == (("k3", 1L, 2L, Long.MinValue)), "k < 2 NULL")
  }

  test("moodsMedian hand chi2 and lower-median rule; degenerate split " +
      "NULL") {
    val df = (Seq(1L, 2L, 3L).map(("k1", "a", _)) ++
      Seq(4L, 5L, 6L).map(("k1", "b", _)) ++
      Seq(7L, 7L).map(("k2", "a", _)) ++
      Seq(7L, 7L).map(("k2", "b", _))).toDF("k", "g", "v")
    val out = Stats.moodsMedian(df, Seq("k"), "g", "v").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) Long.MinValue else r.getLong(5)))
    // k1: pooled lower median 3; a entirely <= 3, b entirely > 3
    assert(out(0) == (("k1", 6L, 3L, 2L, 1L, 6000000L)))
    // k2: all values equal -> everything <= med, one above-level
    assert(out(1) == (("k2", 4L, 7L, 2L, 1L, Long.MinValue)))
  }

  test("rmst hand area under the KM steps with tail to tau") {
    // (1,T),(2,F),(3,T),(5,T), tau=4: steps 1.0*1 + 0.75*1 + 0.75*1
    // + S(3)=0.375 tail to tau -> 2.875; t=5 filtered before windows
    val df = Seq(("k1", 1L, true), ("k1", 2L, false), ("k1", 3L, true),
      ("k1", 5L, true)).toDF("kk", "dur", "ev")
    val r = Stats.rmst(df, Seq("kk"), "dur", "ev", tau = 4L).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 3L, 2875000L)))
  }

  test("gehanWilcoxon hand z: exact integer n-weighted O-E terms") {
    // A: (1,T),(3,T); B: (2,T),(4,F) -> oe 2e6, var 7e6,
    // z = 1e3*2e6/sqrt(7e6) = 755929
    val df = Seq(("k1", true, 1L, true), ("k1", true, 3L, true),
      ("k1", false, 2L, true), ("k1", false, 4L, false))
      .toDF("kk", "g", "dur", "ev")
    val r = Stats.gehanWilcoxon(df, Seq("kk"), "g", "dur", "ev")
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((3L, 2000000L, 7000000L, 755929L)))
    // one-group key: na = n at every time -> oe 0, var 0 -> z NULL
    val one = Seq(("k1", true, 1L, true), ("k1", true, 2L, true))
      .toDF("kk", "g", "dur", "ev")
    assert(Stats.gehanWilcoxon(one, Seq("kk"), "g", "dur", "ev")
      .collect()(0).isNullAt(4))
  }

  test("theilInequality hand T and Atkinson; non-positive fails loud") {
    val df = Seq(1L, 1L, 2L, 4L).map(("k1", _)).toDF("kk", "v")
    val r = Stats.theilInequality(df, Seq("kk"), "v").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 173287L, 159104L)))
    val bad = Seq(0L, 1L).map(("k1", _)).toDF("kk", "v")
    val e = intercept[Exception] {
      Stats.theilInequality(bad, Seq("kk"), "v").collect()
    }
    assert(e.getMessage.contains("theil_inequality") ||
      e.getCause.getMessage.contains("theil_inequality"))
  }

  test("trimmedMean exact over ties; over-trim NULL") {
    val df = ((1L to 10L).map(("a", _)) ++
      Seq(1L, 1L, 1L, 5L, 9L, 9L, 9L).map(("b", _)) ++
      Seq(3L).map(("c", _))).toDF("kk", "v")
    val out = Stats.trimmedMean(df, Seq("kk"), "v", trimPpm = 200000L)
      .orderBy("kk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))
    // a: n=10, g=2, keep 3..8 -> 33/6 = 5.5
    assert(out(0) == (("a", 10L, 6L, 5500000L)))
    // b: n=7, g=1, drop one 1 one 9, keep 1,1,5,9,9 -> 25/5 = 5
    assert(out(1) == (("b", 7L, 5L, 5000000L)))
    // c: n=1, g=0 -> mean is the value itself
    assert(out(2) == (("c", 1L, 1L, 3000000L)))
    // 10% trim on key a: g=1 -> 2..9 mean 5.5
    val a10 = Stats.trimmedMean(df.where($"kk" === "a"), Seq("kk"), "v",
      trimPpm = 100000L).collect()(0)
    assert((a10.getLong(2), a10.getLong(3)) == ((8L, 5500000L)))
  }

  test("pageHinkley hand walk: level shift alarms, steady level does " +
      "not") {
    // 10,10,10,20,20: terms 0,0,0,+7.5,+6.0 -> PH 13.5e6 > lambda 4e6
    val df = (Seq(10L, 10L, 10L, 20L, 20L).zipWithIndex
      .map { case (x, i) => ("a", i.toLong, x) } ++
      Seq(10L, 10L, 10L).zipWithIndex
        .map { case (x, i) => ("b", i.toLong, x) }).toDF("kk", "t", "v")
    val out = Stats.pageHinkley(df, Seq("kk"), "t", "v",
      lambdaMicro = 4000000L).orderBy("kk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out(0) == (("a", 5L, 13500000L, 13500000L, true)))
    assert(out(1) == (("b", 3L, 0L, 0L, false)))
  }

  test("cronbachAlpha hand panel; incomplete block fails loud; " +
      "k=1 NULL") {
    val scores = Seq((1L, Seq(2L, 4L, 3L)), (2L, Seq(4L, 5L, 5L)),
      (3L, Seq(1L, 2L, 2L)), (4L, Seq(3L, 4L, 3L)))
    val rows = for ((s, xs) <- scores; (x, i) <- xs.zipWithIndex)
      yield ("g1", s, s"item$i", x)
    val r = Stats.cronbachAlpha(rows.toDF("kk", "s", "i", "x"),
      Seq("kk"), "s", "i", "x").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 3L, 969512L)))
    val e = intercept[Exception] {
      Stats.cronbachAlpha(rows.drop(1).toDF("kk", "s", "i", "x"),
        Seq("kk"), "s", "i", "x").collect()
    }
    assert(e.getMessage.contains("cronbach_alpha") ||
      e.getCause.getMessage.contains("cronbach_alpha"))
    val oneItem = rows.filter(_._3 == "item0")
    assert(Stats.cronbachAlpha(oneItem.toDF("kk", "s", "i", "x"),
      Seq("kk"), "s", "i", "x").collect()(0).isNullAt(3))
  }

  test("twoProportionZ hand z and Wilson brackets; empty side NULL") {
    val rows = (1 to 100).map(i => ("k1", true, i <= 40)) ++
      (1 to 120).map(i => ("k1", false, i <= 30)) ++
      Seq(("k2", true, true))
    val out = Stats.twoProportionZ(rows.toDF("kk", "g", "s"),
      Seq("kk"), "g", "s").orderBy("kk").collect()
    val a = out(0)
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4)) ==
      ((100L, 40L, 120L, 30L)))
    assert(a.getLong(5) == 2378475L)
    assert((a.getLong(6), a.getLong(7)) == ((309400L, 497999L)))
    assert((a.getLong(8), a.getLong(9)) == ((181097L, 334413L)))
    assert(out(1).isNullAt(5) && out(1).isNullAt(8), "empty B side NULL")
  }

  test("hellingerDistance hand BC/H/D_B; disjoint supports NULL D_B") {
    val ref = Seq(1L, 1L, 2L, 2L).toDF("v")
    val cur = Seq(2L, 3L, 3L, 3L).toDF("v")
    val r = Stats.hellingerDistance(ref, cur, "v").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 4L, 353553L, 804019L, 1039721L)))
    val dj = Stats.hellingerDistance(Seq(1L).toDF("v"),
      Seq(9L).toDF("v"), "v").collect()(0)
    assert(dj.getLong(2) == 0L && dj.getLong(3) == 1000000L &&
      dj.isNullAt(4))
  }

  test("weightedKappa quadratic and linear hand values; " +
      "single-level NULL") {
    val pairs = Seq.fill(3)((1L, 1L)) ++ Seq((1L, 2L), (2L, 1L)) ++
      Seq.fill(3)((2L, 2L)) ++ Seq.fill(2)((3L, 3L))
    val df = pairs.toDF("a", "b")
    val q = Stats.weightedKappa(df, "a", "b").collect()(0)
    assert((q.getLong(0), q.getLong(1), q.getLong(2), q.getLong(3)) ==
      ((10L, 3L, 3L, 821429L)))
    val l = Stats.weightedKappa(df, "a", "b", quadratic = false)
      .collect()(0)
    assert(l.getLong(3) == 750000L)
    val one = Seq((1L, 1L), (1L, 1L)).toDF("a", "b")
    assert(Stats.weightedKappa(one, "a", "b").collect()(0).isNullAt(3))
  }

  test("heapsLaw hand fit over doc-boundary checkpoints; maxDocs " +
      "fails loud") {
    val df = Seq((1L, "a b a"), (2L, "b c"), (3L, "c a d"))
      .toDF("doc_id", "text")
    val r = Stats.heapsLaw(df, "doc_id", "text").collect()(0)
    // checkpoints (N,V): (3,2),(5,3),(8,4) -> beta .708, lnK -.070
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 8L, 4L, 707951L, -70418L)))
    val e = intercept[Exception] {
      Stats.heapsLaw(df, "doc_id", "text", maxDocs = 2).collect()
    }
    assert(e.getMessage.contains("heaps_law") ||
      e.getCause.getMessage.contains("heaps_law"))
  }

  test("diffInDiff hand estimate/SE/t; thin cell NULL") {
    val rows =
      Seq(20L, 24L).map(("k1", true, true, _)) ++
        Seq(10L, 12L).map(("k1", true, false, _)) ++
        Seq(12L, 16L).map(("k1", false, true, _)) ++
        Seq(10L, 14L).map(("k1", false, false, _)) ++
        Seq(("k2", true, true, 5L), ("k2", true, false, 1L),
          ("k2", false, true, 2L), ("k2", false, false, 3L))
    val out = Stats.diffInDiff(rows.toDF("kk", "g", "post", "v"),
      Seq("kk"), "g", "post", "v").orderBy("kk").collect()
    val a = out(0)
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4)) ==
      ((2L, 2L, 2L, 2L)))
    assert((a.getLong(5), a.getLong(6), a.getLong(7)) ==
      ((9000000L, 3605551L, 2496151L)))
    assert(out(1).isNullAt(5), "single-row cells are NULL")
  }

  test("poissonRateTest hand rate ratio and z; zero-event side NULL") {
    val df = Seq(("k1", true, 30L, 100L), ("k1", false, 20L, 200L),
      ("k2", true, 0L, 10L), ("k2", false, 5L, 10L))
      .toDF("kk", "g", "ev", "exp")
    val out = Stats.poissonRateTest(df, Seq("kk"), "g", "ev", "exp")
      .orderBy("kk").collect()
    val a = out(0)
    assert((a.getLong(1), a.getLong(2), a.getLong(3), a.getLong(4)) ==
      ((30L, 100L, 20L, 200L)))
    assert((a.getLong(5), a.getLong(6)) == ((3000000L, 3805705L)))
    assert(out(1).isNullAt(5) && out(1).isNullAt(6))
  }

  test("icc hand one-way reliability; unbalanced panel fails loud") {
    val scores = Seq((1L, Seq(2L, 4L, 3L)), (2L, Seq(4L, 5L, 5L)),
      (3L, Seq(1L, 2L, 2L)), (4L, Seq(3L, 4L, 3L)))
    val rows = for ((s, xs) <- scores; x <- xs) yield ("g1", s, x)
    val r = Stats.icc(rows.toDF("kk", "s", "x"), Seq("kk"), "s", "x")
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 3L, 730000L)))
    val e = intercept[Exception] {
      Stats.icc(rows.drop(1).toDF("kk", "s", "x"), Seq("kk"), "s", "x")
        .collect()
    }
    assert(e.getMessage.contains("icc") ||
      e.getCause.getMessage.contains("icc"))
  }

  test("holmBonferroni step-down prefix; all-pass and over-cap") {
    val df = Seq(("a", 1000L), ("b", 20000L), ("c", 30000L),
      ("d", 400000L)).toDF("t", "p")
    val out = Stats.holmBonferroni(df, Seq("t"), "p").orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(4)))
    // rank2: 20000*(4-2+1) = 60000 > 50000 -> only rank 1 rejects
    assert(out.map(_._3).toSeq == Seq(true, false, false, false))
    val allPass = Seq(("a", 1000L), ("b", 2000L)).toDF("t", "p")
    assert(Stats.holmBonferroni(allPass, Seq("t"), "p").collect()
      .forall(_.getBoolean(4)), "no failure -> all reject")
    val e = intercept[Exception] {
      Stats.holmBonferroni(df, Seq("t"), "p", maxTests = 2L).collect()
    }
    assert(e.getMessage.contains("holm_bonferroni") ||
      e.getCause.getMessage.contains("holm_bonferroni"))
  }

  test("pairwiseWelch hand pairs match welchT factoring; maxGroups " +
      "fails loud") {
    val rows = Seq(1L, 2L, 3L, 4L).map(("k1", "a", _)) ++
      Seq(1L, 3L, 5L, 7L, 9L).map(("k1", "b", _)) ++
      Seq(10L, 10L, 12L).map(("k1", "c", _))
    val out = Stats.pairwiseWelch(rows.toDF("kk", "g", "v"),
      Seq("kk"), "g", "v").orderBy("g_a", "g_b").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.toSeq == Seq(
      ("a", "b", 4L, 5L, -1608169L, 5521L),
      ("a", "c", 4L, 3L, -8800660L, 4734L),
      ("b", "c", 5L, 3L, -3624412L, 5438L)))
    val e = intercept[Exception] {
      Stats.pairwiseWelch(rows.toDF("kk", "g", "v"), Seq("kk"), "g",
        "v", maxGroups = 2).collect()
    }
    assert(e.getMessage.contains("pairwise_welch") ||
      e.getCause.getMessage.contains("pairwise_welch"))
  }

  test("brierScore exact hand case; out-of-range p fails loud") {
    val df = Seq((200000L, true), (200000L, false), (900000L, true),
      (900000L, true)).map(t => ("k1", t._1, t._2)).toDF("kk", "p", "y")
    val r = Stats.brierScore(df, Seq("kk"), "p", "y").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((4L, 750000L, 175000L, 187500L)))
    val bad = Seq(("k1", 1200000L, true)).toDF("kk", "p", "y")
    val e = intercept[Exception] {
      Stats.brierScore(bad, Seq("kk"), "p", "y").collect()
    }
    assert(e.getMessage.contains("brier_score") ||
      e.getCause.getMessage.contains("brier_score"))
  }

  test("cohensH hand effect size; empty side NULL") {
    val rows = (1 to 100).map(i => ("k1", true, i <= 40)) ++
      (1 to 120).map(i => ("k1", false, i <= 30)) ++
      Seq(("k2", true, true))
    val out = Stats.cohensH(rows.toDF("kk", "g", "s"),
      Seq("kk"), "g", "s").orderBy("kk").collect()
    assert(out(0).getLong(5) == 322241L)
    assert(out(1).isNullAt(5))
  }

  test("byFdr harmonic threshold is stricter than bhFdr on the same " +
      "table") {
    val df = Seq(("a", 1000L), ("b", 20000L), ("c", 30000L),
      ("d", 400000L)).toDF("t", "p")
    val by = Stats.byFdr(df, Seq("t"), "p").orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getBoolean(5)))
    // H(4) nano = 2083333333; only rank 1 passes p*m*H <= k*q*1e9
    assert(by.toSeq == Seq((1L, true), (2L, false), (3L, false),
      (4L, false)))
    val bh = Stats.bhFdr(df, Seq("t"), "p").orderBy("rank").collect()
      .map(_.getBoolean(5))
    assert(bh.count(identity) >= by.count(_._2),
      "BY must never reject more than BH")
  }

  test("gTest hand value; dof != 1 has NULL significance") {
    val rows = Seq.fill(3)(("x", "p")) ++ Seq(("x", "q")) ++
      Seq(("y", "p")) ++ Seq.fill(3)(("y", "q"))
    val r = Stats.gTest(rows.toDF("a", "b"), "a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getBoolean(5)) ==
      ((8L, 2L, 2L, 1L, 2092992576L, false)))
    val three = rows ++ Seq(("z", "p"))
    assert(Stats.gTest(three.toDF("a", "b"), "a", "b")
      .collect()(0).isNullAt(5), "dof != 1 -> NULL significance")
  }

  test("corrCompare hand Fisher z; perfect correlation NULL z; " +
      "thin side NULL") {
    val a = Seq((1L, 2L), (2L, 3L), (3L, 5L), (4L, 4L), (5L, 7L))
      .map { case (x, y) => ("k1", true, x, y) }
    val b = Seq((1L, 5L), (2L, 4L), (3L, 4L), (4L, 2L), (5L, 1L))
      .map { case (x, y) => ("k1", false, x, y) }
    val r = Stats.corrCompare((a ++ b).toDF("kk", "seg", "x", "y"),
      Seq("kk"), "seg", "x", "y").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((5L, 5L, 904194L, -962250L, 3470184L)))
    // perfect r on side A -> atanh diverges -> z NULL, r published
    val perf = Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 8L))
      .map { case (x, y) => ("k2", true, x, y) } ++ b.map(t =>
      ("k2", false, t._3, t._4))
    val p = Stats.corrCompare(perf.toDF("kk", "seg", "x", "y"),
      Seq("kk"), "seg", "x", "y").collect()(0)
    assert(p.getLong(3) == 1000000L && p.isNullAt(5))
    // n <= 3 on a side -> all NULL
    val thin = a.take(3) ++ b
    assert(Stats.corrCompare(thin.toDF("kk", "seg", "x", "y"),
      Seq("kk"), "seg", "x", "y").collect()(0).isNullAt(3))
  }

  test("contingency and lattice operators keep their empty and all-NULL rows") {
    val empty = Seq.empty[(Option[String], Option[Long], Option[Long])]
      .toDF("k", "a", "b")
    val nulls = Seq.fill(3)((Option.empty[String], Option.empty[Long],
      Option.empty[Long])).toDF("k", "a", "b")
    val keyOnly = Seq(("x", Option.empty[Long], Option.empty[Long]))
      .toDF("k", "a", "b")
    def rows(df: org.apache.spark.sql.DataFrame): String =
      df.collect().map(_.toString).mkString(";")
    for (in <- Seq(empty, nulls)) {
      // level counts are 0, not NULL, where nothing is left to count
      assert(rows(Stats.chiSquareKxM(in, "a", "b")) == "[null,0,0,1,null,null]")
      assert(rows(Stats.mutualInformation(in, "a", "b")) ==
        "[null,0,0,null,null,null]")
      assert(rows(Stats.gTest(in, "a", "b")) == "[null,0,0,1,null,null]")
      assert(rows(Stats.weightedKappa(in, "a", "b")) == "[null,0,0,null]")
      assert(rows(Stats.weightedKappa(in, "a", "b", quadratic = false)) ==
        "[null,0,0,null]")
      assert(rows(Stats.moodsMedian(in, Seq("k"), "a", "b")) == "")
      assert(Stats.quantizeStep(in, "a") == 1L)
      assert(Stats.quantizeStepPerKey(in, Seq("k"), "a") == 1L)
    }
    assert(rows(Stats.moodsMedian(keyOnly, Seq("k"), "a", "b")) == "")
    assert(Stats.quantizeStepPerKey(keyOnly, Seq("k"), "a") == 1L)
    // corpusReport: all-NULL documents count as rows with no text; an
    // empty table divides its duplicate rate by zero documents
    val docs = Seq.fill(3)((Option.empty[Long], Option.empty[String],
      Option.empty[String], Option.empty[String]))
      .toDF("id", "text", "lang", "source")
    assert(rows(graft.pipeline.Dedup.corpusReport(docs, "id", "text", "lang",
      "source")) == "[3,null,null,0,0,0,null,1.0,null]")
    val ex = intercept[Exception] {
      graft.pipeline.Dedup.corpusReport(docs.limit(0), "id", "text", "lang",
        "source").collect()
    }
    assert(messages(ex).exists(_.contains("DIVIDE_BY_ZERO")))
  }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++
      messages(e.getCause))

  test("gTest, weightedKappa and moodsMedian level guards name the column") {
    val wide = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("rater_a", "rater_b")
    val g = intercept[Exception] {
      Stats.gTest(wide, "rater_a", "rater_b", maxLevels = 2).collect()
    }
    assert(messages(g).exists(_.contains("g_test: rater_a has 3 levels")))
    val w = intercept[Exception] {
      Stats.weightedKappa(wide.select(col("rater_b").as("rater_a"),
        col("rater_a").as("rater_b")), "rater_a", "rater_b",
        maxLevels = 2).collect()
    }
    assert(messages(w).exists(_.contains("weighted_kappa: rater_b has 3 levels")))
    val groups = Seq(("k", "x", 1L), ("k", "y", 2L), ("k", "z", 3L))
      .toDF("k", "arm", "v")
    val m = intercept[Exception] {
      Stats.moodsMedian(groups, Seq("k"), "arm", "v", maxGroups = 2).collect()
    }
    assert(messages(m).exists(_.contains("moods_median: arm has 3 levels")))
  }
}
