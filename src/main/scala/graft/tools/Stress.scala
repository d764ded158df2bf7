package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Dedup2, EmbeddingDedup, Similarity}

/** Synthetic-decade stress harness for the shuffle-heavy text/ANN/
  * temporal operators. The sandbox tops out at sf0.1, so this replicates
  * the sf0.1 tables `factor`× with structure-PRESERVING perturbations
  * and times each operator at the inflated size — the second empirical
  * decade on top of `scripts/scale_curve.sh` (sf0.001 → 0.01 → 0.1).
  *
  * Replication must not change the statistics that drive these
  * operators' costs, so copies are perturbed, never cloned:
  * - documents: per-copy alphabet rotation (`translate`) rewrites every
  *   token, so copies share no shingles/grams — the duplicate RATE stays
  *   the corpus's own instead of every doc becoming a factor-sized
  *   near-dup clique (which would measure a corpus that cannot exist);
  * - embeddings: per-copy deterministic sign-flip patterns (an
  *   orthogonal transform per copy) keep norms and within-copy geometry
  *   while decorrelating cross-copy cosines;
  * - events: ids and the user key space shift per copy, so per-key event
  *   densities (the window/session cost driver) are unchanged.
  *
  * Usage: `Stress [sfDir] [factor]` — one JSON line per op:
  * `{"op":…,"factor":…,"rows":…,"sec":…}`.
  */
object Stress {
  private def timed(op: String, factor: Int)(df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val rows = df.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"op":"$op","factor":$factor,"rows":$rows,"sec":$sec%.3f}""")
  }

  /** Per-copy alphabet rotation rewrites every token, so copies share no
    * shingles/grams and the corpus duplicate RATE is factor-invariant
    * (StressSpec pins this: pair counts scale exactly ×factor). */
  def replicateDocs(spark: SparkSession, sfDir: String, factor: Int): DataFrame = {
    val alpha = "abcdefghijklmnopqrst"
    (0 until factor).map { k =>
      val rot = alpha.drop(k % alpha.length) + alpha.take(k % alpha.length)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select((col("doc_id") + lit(k.toLong * 10000000L)).as("doc_id"),
          translate(col("text"), alpha, rot).as("text"),
          col("lang"), col("source"))
    }.reduce(_ union _)
  }

  /** Per-copy deterministic sign-flip patterns: an orthogonal transform
    * per copy keeps norms and within-copy geometry, decorrelates
    * cross-copy cosines. */
  def replicateEmbeddings(spark: SparkSession, sfDir: String, factor: Int): DataFrame =
    (0 until factor).map { k =>
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select((col("vec_id") + lit(k.toLong * 10000000L)).as("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      if (k == 0) base
      else base.withColumn("embedding",
        transform(col("embedding"),
          (x, i) => when((i * (2 * k + 3)) % 7 < 3, -x).otherwise(x)))
    }.reduce(_ union _)

  /** Ids and the user key space shift per copy — per-key event densities
    * (the window/session cost driver) are unchanged. */
  def replicateEvents(spark: SparkSession, sfDir: String, factor: Int): DataFrame =
    (0 until factor).map { k =>
      spark.read.parquet(s"$sfDir/events.parquet")
        .select((col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"),
          (col("user_id") + lit(k.toLong * 1000000L)).as("user_id"),
          col("event_type"), col("ts"), col("value"))
    }.reduce(_ union _)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 16
    require(factor >= 1 && factor <= 20, s"factor must be in [1, 20], got $factor")
    val spark = Session.local(32)

    val docs = replicateDocs(spark, sfDir, factor)
    val emb = replicateEmbeddings(spark, sfDir, factor)
    val events = replicateEvents(spark, sfDir, factor)

    // materialize the replicated inputs once so every op times its own
    // work, not the union-of-parquet-scans
    docs.persist(); emb.persist(); events.persist()
    println(s"""{"op":"_sizes","factor":$factor,"docs":${docs.count()},""" +
      s""""emb":${emb.count()},"events":${events.count()}}""")

    timed("minhash_pairs", factor)(
      Dedup.minhashPairs(docs, "doc_id", "text"))
    timed("simhash_pairs", factor)(
      Dedup.simhashPairs(docs, "doc_id", "text"))
    timed("tfidf_top5", factor)(
      Dedup.tfidfTopTerms(docs, "doc_id", "text", k = 5))
    timed("dedup_lsh_cc", factor)(
      Dedup2.keepDecisions(docs, "doc_id", "text"))

    // ANN knobs scale with the corpus the way a real deployment's would:
    // nlist ~ sqrt(N) bounds the within-cell quadratic refine, and the
    // fit stays a bounded driver-side sample
    val n = emb.count()
    val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
    timed("semdedup", factor)(
      EmbeddingDedup.semDedupKeep(emb, "vec_id", "embedding",
        nlist = nlist, threshold = 0.97, fitSampleSize = 20000, fitIters = 4))
    timed("ivfpq_top3", factor)(
      Similarity.ivfpqTopK(emb, "vec_id", "embedding", 3,
        nlist = nlist, nprobe = 8, fitSampleSize = 20000,
        coarseIters = 4, pqIters = 3))

    // ts → epoch micros, schema-adaptive like SparkEntry.eventsMicros
    // (long = legacy nanos, typed TIMESTAMP via Temporal.epochMicros)
    val tus = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => graft.pipeline.Temporal.epochMicros(events, "ts")
    }
    val ev = events.withColumn("tus", tus)
    val views = ev.where(col("event_type") === "view")
      .groupBy("user_id", "tus").agg(max("value").as("value"))
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "tus")
    timed("asof_bucketed", factor)(
      graft.pipeline.Temporal.asofJoinBucketed(clicks, views, "user_id",
        "tus", "tus", bucketWidth = 3600L * 1000000L, rightPrefix = "view_"))
    timed("sessions", factor)(
      graft.streaming.StreamingPipeline.sessionStats(
        ev, "user_id", "tus", "value", gap = "1 hour"))
    // round-10 temporal analytics: the bucketed rolling window is the
    // shape whose hot-key behavior the replication actually stresses
    // (each copy shifts user ids, so per-key densities stay constant)
    timed("rolling_bucketed", factor)(
      graft.pipeline.Temporal.rollingBucketed(
        ev.withColumn("vl", expr("cast(round(value * 1000) as bigint)")),
        "user_id", "tus", "vl",
        window = 1800L * 1000000L, bucketWidth = 3600L * 1000000L))
    timed("funnel", factor)(
      graft.pipeline.Temporal.funnel(ev, "user_id", "tus", "event_type",
        Seq("signup", "view", "click", "purchase"),
        within = Some(7L * 86400L * 1000000L)))
    timed("pmi_pairs", factor)(
      Dedup.pmiPairs(docs, "doc_id", "text", minSupport = 5L, k = 20))

    // round-10 joins/sketches: per-copy user-id shifts keep the dim
    // side growing with the fact side (salted join), the rotated
    // alphabet grows the fuzzy-join vocabulary ×factor, and the HLL
    // rollup's register arrays stay m-long regardless of factor
    timed("compact_latest", factor)(
      graft.pipeline.Joins.compactLatest(
        ev.select("user_id", "event_type", "event_id", "tus"),
        Seq("user_id", "event_type"), Seq("tus", "event_id")))
    timed("hll_rollup", factor)(
      ev.withColumn("day", to_date(timestamp_micros(col("tus"))))
        .groupBy("event_type", "day")
        .agg(graft.pipeline.Hll.sketch(col("user_id"), 64).as("sk"))
        .groupBy("event_type")
        .agg(graft.pipeline.Hll.merge(col("sk"), 64).as("sk")))
    timed("retention", factor)(
      graft.pipeline.Temporal.cohortRetention(ev, "user_id", "tus"))
    timed("salted_join", factor) {
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("seg", pmod(col("user_id"), lit(7L)))
      graft.pipeline.Joins.saltedJoin(
        ev.select("event_id", "user_id"), dim, "user_id", salts = 8)
    }
    // vocab is a materialized dimension in any real fuzzy-match
    // pipeline; building it inline would re-run the corpus-wide token
    // distinct once per join side (tokenization scaling is already
    // covered by tfidf/pmi above) — persist it so the timed op is the
    // variant-blocked JOIN itself
    val vocab = docs.select(
        explode(graft.pipeline.TextFunctions.tokens(col("text"))).as("tok"))
      .where(length(col("tok")) >= 4).distinct().persist()
    vocab.count()
    val noisy = vocab.select(concat(col("tok").substr(lit(1), lit(1)),
      col("tok").substr(lit(3), length(col("tok")))).as("q")).distinct().persist()
    noisy.count()
    timed("fuzzy_join", factor)(
      graft.pipeline.Joins.fuzzyJoin(noisy, vocab, "q", "tok"))

    // round-10 second wave: the bloom prefilter's cost is one bitset
    // aggregate over the dim + a scalar probe per fact row (should be
    // ~linear in events regardless of dim growth), and the blocked
    // Levenshtein refine is bounded by the hot-block cap even as the
    // rotated alphabet multiplies the block count ×factor
    // like the fuzzy-join vocabulary: the dim is a materialized table in
    // any real pipeline (bloomJoin evaluates it twice — bitset build +
    // exact join — so deriving it inline would time the corpus-wide
    // distinct twice, not the bloom); persist it so the timed op is the
    // bitset aggregate + per-row probe + exact join
    val bloomDim = ev.select(col("user_id")).distinct()
      .where(pmod(col("user_id"), lit(5L)) === 0L)
      .withColumn("seg", pmod(col("user_id"), lit(7L))).persist()
    bloomDim.count()
    timed("bloom_join", factor)(
      graft.pipeline.Joins.bloomJoin(
        ev.select("event_id", "user_id"), bloomDim, "user_id"))
    timed("edit_dedup_pairs", factor)(
      graft.pipeline.Joins.editDistancePairs(
        docs.select("doc_id", "text"), "doc_id", "text",
        prefixLen = 16, maxDist = 10, hotCap = 64))

    // round-10 third wave: graph + interval ops. The stride lattice
    // over the (factor-shifted) user-id space keeps per-node degree
    // and per-node wedge counts CONSTANT as nodes grow ×factor, so
    // triangle work should scale linearly — the property the
    // degree-ordered orientation is supposed to deliver (a naive wedge
    // join would blow up on any emergent hub instead).
    val users = ev.select(col("user_id")).distinct().persist()
    users.count()
    val lattice = users
      .withColumn("d", explode(array(lit(1L), lit(2L), lit(3L))))
      .select(col("user_id").as("src"), (col("user_id") + col("d")).as("dst"))
    timed("triangles", factor)(
      graft.pipeline.Graph.triangles(lattice, "src", "dst"))
    // 1000 authorities regardless of factor: authority in-degree grows
    // ×factor — the hot-key shape HITS' per-dst aggregate must absorb
    // with map-side combine, never a per-authority reducer sort
    val cites = ev.select(col("user_id").as("src"),
      (lit(1000000000000L) + pmod(col("user_id"), lit(1000L))).as("dst"))
    timed("hits", factor)(
      graft.pipeline.Graph.hits(cites, "src", "dst", iterations = 2))
    // per-user event spans: densities per key are factor-invariant, so
    // overlap pair counts scale ×factor (linear shuffle, ~2× bucket
    // replication at width == max span)
    val spans = ev.select(col("user_id").as("k"), col("event_id"),
      col("tus").as("s"),
      (col("tus") + expr("cast(round(value * 1000000) as bigint)")).as("e"))
    val sa = spans.where(col("event_id") % 2 === 0)
      .select(col("k"), col("event_id").as("id_a"), col("s").as("s_a"), col("e").as("e_a"))
    val sb = spans.where(col("event_id") % 2 === 1)
      .select(col("k"), col("event_id").as("id_b"), col("s").as("s_b"), col("e").as("e_b"))
    timed("overlap_join", factor)(
      graft.pipeline.Joins.overlapJoin(sa, sb, "k",
        "s_a", "e_a", "s_b", "e_b", bucketWidth = 100000000L))
    timed("scd2", factor)(
      graft.pipeline.Temporal.scd2(
        ev.select("user_id", "event_type", "event_id", "tus"),
        Seq("user_id", "event_type"), "tus", Seq("event_id")))

    // round-10 fourth wave. Per-copy user-id shifts keep per-key event
    // densities constant, so the range-frame attribution windows and
    // the per-user CUSUM series should scale LINEARLY in events; the
    // DSIR/wordpiece fits stay bounded (512 longs / 200 words) while
    // their scoring passes scan ×factor rows; LPA on the stride
    // lattice keeps per-node degree constant as nodes grow ×factor.
    timed("attribution", factor)(
      graft.pipeline.Temporal.attribution(ev, "user_id", "event_id",
        "tus", "event_type", "purchase", Seq("click", "view"),
        lookbackMicros = 7L * 86400L * 1000000L))
    timed("cusum", factor)(
      graft.pipeline.Stats.cusum(
        ev.withColumn("vc", expr("cast(round(value * 100) as bigint)")),
        Seq("user_id"), "tus", "vc", ref = 50L, slack = 5L, threshold = 500L))
    timed("dsir_top1k", factor)(
      graft.pipeline.Dsir.topK(docs, "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 512, k = 1000))
    timed("wordpiece_stats", factor)(
      graft.pipeline.Wordpiece.pieceStats(docs, "doc_id", "text", 200))
    timed("lpa", factor)(
      graft.pipeline.Graph.labelPropagation(lattice, "src", "dst", 3))
    // CIDR fact side grows ×factor (shifted user ids → new IPs); the
    // rule table is a fixed dimension — the equi-join must stay linear
    val ips = ev.select(col("user_id")).distinct()
      .withColumn("ip32", expr("(user_id * 2654435761L) % 4294967296L"))
    val cidrRules = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"),
        expr("(c_custkey * 2654435761L) % 4294967296L").as("rip"),
        (lit(8) + (col("c_custkey") % 3) * 8).cast("int").as("plen"))
      .withColumn("prefix", expr("shiftright(rip, 32 - plen)"))
      .groupBy("plen", "prefix").agg(min("c_custkey").as("rule_id"))
      .persist()
    cidrRules.count()
    timed("cidr_join", factor)(
      graft.pipeline.Joins.longestPrefixJoin(ips, "ip32", "user_id",
        cidrRules, "plen", "prefix"))
    // baskets = per-user event-type sets: basket size is bounded by the
    // 5 event types, so the ordered pair self-join stays linear
    timed("assoc_pairs", factor)(
      graft.pipeline.Baskets.frequentPairs(
        ev.select(col("user_id").as("bid"), col("event_type").as("item")),
        "bid", "item", minSupport = 2L))
    timed("psi", factor)(
      graft.pipeline.Stats.psiReport(
        ev.where(col("event_type") === "view")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        ev.where(col("event_type") === "click")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        "vc", buckets = 10))

    // r17 wave: the r16 additions' scaling claims, measured. Modularity
    // over the stride lattice (edges ×factor at constant degree →
    // label joins + community groupBy should be linear; labels are an
    // UNTIMED persisted input, the op under test is Q itself);
    // Kneser–Ney doc scoring (the rotated alphabet grows the distinct
    // gram table ×~factor, the per-gram tables and the one doc-side
    // equi-join must absorb it linearly); unigram segmentation under a
    // FIXED vocab learned on the base copy (the model is a dimension —
    // the timed pass is the Viterbi kernel riding the ×factor scan).
    val lpaLabels = graft.pipeline.Graph.labelPropagation(
      lattice, "src", "dst", 3).persist()
    lpaLabels.count()
    timed("modularity", factor)(
      graft.pipeline.Graph.modularity(lpaLabels, lattice, "src", "dst"))
    timed("kn_score", factor)(
      graft.pipeline.NGramLM.knScore(docs, "doc_id", "text"))
    // r18 wave: the r17 statistics pack, measured beyond sf0.1. Every
    // operator reduces the corpus to distinct-value / per-(key,time)
    // tables before any window or join, so replication (counts ×factor,
    // distinct values ~constant) should land each at ~linear:
    // - MWU/Kendall ride docs (rotation preserves lengths/token counts
    //   → distinct value/cell tables are factor-invariant, only the
    //   histogram counts grow);
    // - KM/log-rank ride a distinct-time-heavy synthetic from events
    //   (durations = ms-quantized values — distinct times bounded by
    //   the value lattice, subjects ×factor);
    // - dist_shift/CUPED ride events (one moment/histogram pass);
    // - dispersion's token×part grid grows ×factor via the rotated
    //   vocabulary at a CONSTANT parts dimension.
    val mdocs = docs.withColumn("v", length(col("text")).cast("long"))
      .withColumn("g", col("lang") === "en")
    timed("mwu", factor)(
      graft.pipeline.Stats.mannWhitneyU(mdocs, Seq("source"), "g", "v"))
    timed("kendall", factor)(
      graft.pipeline.Stats.kendallTau(
        mdocs.withColumn("x", expr("v div 100"))
          .withColumn("y", expr("cast(size(split(text, ' ')) as long) div 10")),
        Seq("source"), "x", "y"))
    val surv = ev.select(pmod(col("user_id"), lit(8L)).as("k"),
      (col("user_id") % 2L === 0L).as("g"),
      expr("cast(round(value * 1000) as bigint) + 1").as("d"),
      (col("event_type") === "click").as("e"))
    timed("km", factor)(
      graft.pipeline.Stats.kaplanMeier(surv, Seq("k"), "d", "e"))
    timed("logrank", factor)(
      graft.pipeline.Stats.logRank(surv, Seq("k"), "g", "d", "e"))
    timed("dist_shift", factor)(
      graft.pipeline.Stats.distributionDistance(
        ev.where(col("event_type") === "view")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        ev.where(col("event_type") === "click")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        "vc"))
    timed("cuped", factor)(
      graft.pipeline.Stats.cuped(
        ev.select(pmod(col("user_id"), lit(4L)).as("k"),
          (col("user_id") % 2L).cast("int").as("variant"),
          expr("cast(round(value * 10) as bigint)").as("x"),
          expr("cast(round(value * 100) as bigint)").as("y")),
        Seq("k"), "variant", "x", "y"))
    timed("dispersion", factor)(
      graft.pipeline.Stats.tokenDispersion(docs, "source", "text",
        minCount = 5L, k = 50))

    // r19 wave: the r18 evaluation/drift pack, measured beyond sf0.1.
    // Same reduction discipline — distinct-score/threshold histograms
    // (ROC/PR/KW), the pooled distinct-value table (AD/energy — counts
    // grow ×factor, DISTINCT values are lattice-bounded), label-sized
    // margins (chi2 kxm / MI — the maxLevels guards must keep headroom
    // at 16×). Scores/groups derive from events so per-key densities
    // stay factor-invariant.
    val scored = ev.select(pmod(col("user_id"), lit(4L)).as("k"),
      (col("event_id") % 2L === 0L).as("y"),
      expr("cast(round(value * 100) as bigint)").as("s"))
    timed("roc_auc", factor)(
      graft.pipeline.Stats.rocAuc(scored, Seq("k"), "y", "s"))
    timed("pr_auc", factor)(
      graft.pipeline.Stats.prAuc(scored, Seq("k"), "y", "s"))
    timed("kruskal", factor)(
      graft.pipeline.Stats.kruskalWallis(
        ev.select(pmod(col("user_id"), lit(4L)).as("k"),
          col("event_type").as("g"),
          expr("cast(round(value * 100) as bigint)").as("v")),
        Seq("k"), "g", "v"))
    timed("anderson_darling", factor)(
      graft.pipeline.Stats.andersonDarling(
        ev.where(col("event_type") === "view")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        ev.where(col("event_type") === "click")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        "vc"))
    timed("energy_dist", factor)(
      graft.pipeline.Stats.energyDistance(
        ev.where(col("event_type") === "view")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        ev.where(col("event_type") === "click")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        "vc"))
    timed("chi_kxm", factor)(
      graft.pipeline.Stats.chiSquareKxM(
        ev.select(col("event_type").as("a"),
          pmod(col("user_id"), lit(16L)).as("b")), "a", "b"))
    timed("mutual_info", factor)(
      graft.pipeline.Stats.mutualInformation(
        ev.select(col("event_type").as("a"),
          pmod(col("user_id"), lit(16L)).as("b")), "a", "b"))

    // r19 wave: the serial-correlation / inequality / post-hoc pack.
    // Shapes under test: key-partitioned lag windows (DW, PH, runs —
    // rows shuffle once, no global sort), distinct-value histogram
    // windows (trimmed mean, Mood's median), 4-moment groupBys (JB),
    // per-group moment rollups + label-sized self-joins (Bartlett,
    // pairwise Welch), and the shared-value inner join (Hellinger).
    val keyed = ev.select(pmod(col("user_id"), lit(4L)).as("coh"),
      col("event_id").as("t"), col("event_type"),
      expr("cast(round(value * 100) as bigint)").as("vc"))
    timed("durbin_watson", factor)(
      graft.pipeline.Stats.durbinWatson(
        ev.select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("user_id"), "event_id", "vc"))
    timed("page_hinkley", factor)(
      graft.pipeline.Stats.pageHinkley(
        ev.select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("user_id"), "event_id", "vc", deltaMicro = 0L,
        lambdaMicro = 2000000L))
    timed("runs_test", factor)(
      graft.pipeline.Stats.runsTest(
        ev.select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint) > 50").as("hi")),
        Seq("user_id"), "event_id", "hi"))
    timed("jarque_bera", factor)(
      graft.pipeline.Stats.jarqueBera(keyed, Seq("event_type"), "vc"))
    timed("bartlett", factor)(
      graft.pipeline.Stats.bartlett(keyed, Seq("coh"), "event_type", "vc"))
    timed("moods_median", factor)(
      graft.pipeline.Stats.moodsMedian(keyed, Seq("coh"), "event_type",
        "vc"))
    timed("trimmed_mean", factor)(
      graft.pipeline.Stats.trimmedMean(keyed, Seq("event_type"), "vc",
        trimPpm = 100000L))
    timed("pairwise_welch", factor)(
      graft.pipeline.Stats.pairwiseWelch(keyed, Seq("coh"), "event_type",
        "vc"))
    timed("hellinger", factor)(
      graft.pipeline.Stats.hellingerDistance(
        ev.where(col("event_type") === "view")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        ev.where(col("event_type") === "click")
          .select(expr("cast(round(value * 100) as bigint)").as("vc")),
        "vc"))
    timed("theil_ineq", factor)(
      graft.pipeline.Stats.theilInequality(
        ev.where(expr("cast(round(value * 100) as bigint) > 0"))
          .select(col("event_type"),
            expr("cast(round(value * 100) as bigint)").as("vc")),
        Seq("event_type"), "vc"))

    val uniVocab = graft.pipeline.Unigram.learn(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text",
        vocabSize = 64, iters = 2, maxPieceLen = 4)
      .select("piece", "cost_unats").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq // bounded: vocab
    timed("unigram_apply", factor)(
      graft.pipeline.Unigram.segment(docs, "doc_id", "text", uniVocab))

    spark.stop()
  }
}
