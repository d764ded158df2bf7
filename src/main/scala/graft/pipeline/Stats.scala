package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distribution-based outlier screening — the per-group z-score gate a
 * curation pipeline runs over metric columns (request latencies, doc
 * quality scores, per-domain token counts) before training on them.
 *
 * Everything is EXACT INTEGER math on a pre-scaled long metric: the
 * z-test `|v − μ| > k·σ` is algebraically cleared of divisions to
 *
 *   kDen²·(n·v − s)² > kNum²·(n·ssq − s²),   s = Σv, ssq = Σv²
 *
 * so there is no float accumulation anywhere — the flag is
 * bit-reproducible under any partitioning / aggregation order, and the
 * DuckDB oracle (q_anomaly) replays it verbatim. Rational `k`
 * (kNum/kDen) covers the usual 1.5σ/2σ/3σ gates without touching
 * floats.
 *
 * Scale shape: one `groupBy(keys)` for the moment table (map-side
 * combine ⇒ one row per key per partition before the exchange), then
 * an equi-join back — the moment table is |keys| rows, so AQE
 * broadcast-joins it in practice; nothing shuffles the fact table a
 * second time and no window sort is involved.
 *
 * Overflow bound (documented contract, asserted per row): with
 * `V = max|v|` and `N = max group size`, the products need
 * `kNum²·N·V² < 2^63` — e.g. centi-scaled metrics to 10^6 with
 * million-row groups at k=3. Pre-scale coarser (deci/unit) for wider
 * regimes.
 */
object Stats {

  /**
   * Append group moments and the z-gate flag to every row:
   * `grp_n`, `dev2 = (n·v − s)²`, `var_n2 = n·ssq − s²` (= n²σ²), and
   * `is_anomaly = kDen²·dev2 > kNum²·var_n2`. Rows in singleton groups
   * have `var_n2 = 0` and never flag (z is undefined; the gate is
   * strict). `valueCol` must be integral (pre-scale floats first).
   */
  def anomalyFlags(df: DataFrame, keys: Seq[String], valueCol: String,
      kNum: Int = 2, kDen: Int = 1): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(kNum > 0 && kDen > 0, s"k must be positive, got $kNum/$kDen")
    val v = col(valueCol).cast("long")
    val moments = df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("grp_n"),
      sum(v).as("__graft_s"),
      sum(v * v).as("__graft_ssq"))
    df.join(moments, keys)
      .withColumn("dev2", {
        val d = col("grp_n") * v - col("__graft_s")
        d * d
      })
      .withColumn("var_n2",
        col("grp_n") * col("__graft_ssq") - col("__graft_s") * col("__graft_s"))
      .withColumn("is_anomaly",
        lit(kDen.toLong * kDen) * col("dev2") > lit(kNum.toLong * kNum) * col("var_n2"))
      .drop("__graft_s", "__graft_ssq")
  }

  /**
   * Two-sided CUSUM change-point detection over per-key ordered
   * series: the classic sequential statistic
   *
   *   S⁺_t = max(0, S⁺_{t−1} + (x_t − ref − slack))
   *   S⁻_t = max(0, S⁻_{t−1} + (ref − x_t − slack))
   *
   * flagged when either exceeds `threshold`. The recurrence is NOT
   * expressed as a recursion: `max(0, ·)`-folded sums have the closed
   * form `S_t = P_t − min(0, min_{j≤t} P_j)` with `P` the plain prefix
   * sum of the drift-adjusted deltas — so both sides are a cumulative
   * sum plus a running min, two ordinary window passes over ONE
   * shuffle by `keys`. No per-key array collection, no UDF loop; a
   * 100 TB metric stream with million-bucket keys runs as a sorted
   * window scan. All integer math on a pre-scaled long `valueCol` —
   * bit-reproducible, and the DuckDB oracle (q_cusum) replays the same
   * two windows.
   *
   * Output: input rows + `cusum_hi`, `cusum_lo`, `is_change`.
   */
  def cusum(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, ref: Long, slack: Long, threshold: Long): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(slack >= 0 && threshold > 0, "slack >= 0 and threshold > 0 required")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valueCol).cast("long")
    val withP = df
      .withColumn("__graft_ph", sum(v - lit(ref) - lit(slack)).over(w))
      .withColumn("__graft_pl", sum(lit(ref) - v - lit(slack)).over(w))
    withP
      .withColumn("cusum_hi",
        col("__graft_ph") - least(lit(0L), min("__graft_ph").over(w)))
      .withColumn("cusum_lo",
        col("__graft_pl") - least(lit(0L), min("__graft_pl").over(w)))
      .withColumn("is_change",
        col("cusum_hi") > threshold || col("cusum_lo") > threshold)
      .drop("__graft_ph", "__graft_pl")
  }

  /**
   * Per-key least-squares linear trend of an integral series — the
   * metric-direction primitive (is this domain's daily volume
   * growing?). `slope_micro = round(1e6·(nΣxy − ΣxΣy)/(nΣx² −
   * (Σx)²))`: every moment is an exact integer sum (map-side
   * combinable, ONE groupBy, no window, no sort), and only the final
   * division touches doubles — identical on any engine. Keys with a
   * single point (denominator 0) report null slope.
   */
  def trend(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"))
      .withColumn("slope_micro",
        when(col("n") * col("__sxx") - col("__sx") * col("__sx") === 0L, lit(null))
          .otherwise(round(lit(1e6) *
            (col("n") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
            (col("n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"))
            .cast("long")))
      .drop("__sx", "__sy", "__sxy", "__sxx")
  }

  /**
   * Wald SPRT — the sequential probability ratio test (Wald '45), the
   * "stop the A/B early" machinery [[chiSquare2x2]]'s fixed-horizon
   * test can't give: per key, walk the ORDERED bernoulli outcomes
   * accumulating the log-likelihood ratio of H1 (rate p1) vs H0 (rate
   * p0) and decide at the FIRST boundary crossing —
   *
   *   llr += x·ln(p1/p0) + (1−x)·ln((1−p1)/(1−p0)),
   *   accept H1 at llr ≥ ln((1−β)/α),  accept H0 at llr ≤ ln(β/(1−α)).
   *
   * The four log constants are rounded ONCE to micro-nats at plan time
   * (the [[psiReport]] discipline), so the cumulative walk is EXACT
   * long sums and the crossing index is bit-reproducible — the DuckDB
   * oracle inlines the same four longs and replays the window.
   *
   * Scale shape: one partitioned cumulative-sum window per key (the
   * per-key event series is the sort unit, never the corpus), one
   * partial+final rollup. Returns keys + (n, decision, decided_at,
   * llr_final_micro): decision ∈ accept_h1/accept_h0/continue,
   * decided_at = 1-based index of the first crossing (NULL if none).
   */
  def sprt(df: DataFrame, keys: Seq[String], orderCol: String,
      successCol: String, p0Permille: Int = 500, p1Permille: Int = 600,
      alphaPermille: Int = 50, betaPermille: Int = 50): DataFrame = {
    require(keys.nonEmpty, "keys required")
    for ((v, n) <- Seq(p0Permille -> "p0", p1Permille -> "p1",
        alphaPermille -> "alpha", betaPermille -> "beta"))
      require(v >= 1 && v <= 999, s"$n must be in [1, 999] permille, got $v")
    require(p0Permille != p1Permille, "p0 and p1 must differ")
    import org.apache.spark.sql.expressions.Window
    val Seq(lpS, lpF, aUp, bLo) = sprtConstantsMicro(
      p0Permille, p1Permille, alphaPermille, betaPermille)
    // alpha + beta >= 1 inverts the Wald boundaries (ln((1-b)/a) <= 0
    // <= ln(b/(1-a))): every key would "decide" at its first event and
    // accept_h1/accept_h0 would be meaningless. Fail loudly instead.
    require(aUp > 0L && bLo < 0L,
      s"alpha + beta must be < 1000 permille (got $alphaPermille + " +
        s"$betaPermille): SPRT decision boundaries invert")
    val step = when(col(successCol).cast("boolean"), lit(lpS)).otherwise(lit(lpF))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    val wo = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__llr", sum(step).over(w))
      .withColumn("__rn", row_number().over(wo))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n"),
        min(when(col("__llr") >= aUp, col("__rn"))).as("__hit1"),
        min(when(col("__llr") <= bLo, col("__rn"))).as("__hit0"),
        sum(step).as("llr_final_micro"))
      .withColumn("decision",
        when(col("__hit1").isNotNull &&
            (col("__hit0").isNull || col("__hit1") < col("__hit0")), "accept_h1")
          .when(col("__hit0").isNotNull, "accept_h0")
          .otherwise("continue"))
      .withColumn("decided_at", least(col("__hit1"), col("__hit0")).cast("long"))
      .drop("__hit1", "__hit0")
      .select((keys.map(col) :+ col("n") :+ col("decision") :+
        col("decided_at") :+ col("llr_final_micro")): _*)
  }

  /** The four SPRT micro-nat constants (success step, failure step,
    * upper bound, lower bound) — plan-time, HALF_UP, shared with the
    * oracle builder so both engines inline identical longs. */
  def sprtConstantsMicro(p0Permille: Int, p1Permille: Int,
      alphaPermille: Int, betaPermille: Int): Seq[Long] = {
    def r(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val (p0, p1) = (p0Permille / 1000.0, p1Permille / 1000.0)
    val (a, b) = (alphaPermille / 1000.0, betaPermille / 1000.0)
    Seq(r(1e6 * math.log(p1 / p0)), r(1e6 * math.log((1 - p1) / (1 - p0))),
      r(1e6 * math.log((1 - b) / a)), r(1e6 * math.log(b / (1 - a))))
  }

  /**
   * Theil–Sen robust trend slope per key — the breakdown-resistant
   * companion of [[trend]]'s OLS: the MEDIAN of all pairwise slopes
   * (y₂−y₁)/(x₂−x₁), which one wild day cannot move (29% breakdown
   * point vs OLS's zero; Theil '50, Sen '68). Each slope is ONE IEEE
   * division of exact longs; the median picks a VALUE from that
   * multiset (even counts average the two middles — a commutative
   * 2-element mean), so ties and sort order cannot change the result
   * and the DuckDB oracle replays it with the same window arithmetic.
   *
   * Scale shape: the pair generation is a keys equi-join of the series
   * with itself (co-partitioned, x₂ > x₁ filtered AFTER the key
   * match), O(len²) pairs per key where len is the per-key SERIES
   * length — meant for daily/weekly aggregates (the
   * [[graft.pipeline.Temporal]] contract), never corpus-sized, and
   * GUARDED: any key whose series exceeds `maxSeriesLen` fails the job
   * loudly (a `raise_error` riding the key-partitioned scan — the same
   * hub-guard discipline as [[graft.pipeline.Graph.adamicAdar]]'s
   * maxDegree) instead of silently detonating a quadratic. Raise the
   * cap deliberately if your series really are that long. One
   * partitioned window ranks slopes per key; keys with fewer than two
   * distinct x carry no pairs and are absent.
   *
   * Returns keys + (n_pairs, ts_slope_micro).
   */
  def theilSenSlope(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String, maxSeriesLen: Int = 4096): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(maxSeriesLen >= 2 && maxSeriesLen <= 1048576,
      s"maxSeriesLen must be in [2, 1048576], got $maxSeriesLen")
    import org.apache.spark.sql.expressions.Window
    // The guard window partitions by the SAME keys as the self-join
    // below, so its exchange is the join's exchange — no extra shuffle,
    // no separate counting job. The raise_error is woven into the x
    // column itself (not a dropped side column) so column pruning
    // cannot optimize the check away.
    val wg = Window.partitionBy(keys.map(col): _*)
    val src = df.select(keys.map(col) :+ col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y"): _*)
      .withColumn("__len", count(lit(1)).over(wg))
      .withColumn("__x", when(col("__len") <= maxSeriesLen, col("__x"))
        .otherwise(raise_error(concat(
          lit("theil_sen: per-key series length "), col("__len"),
          lit(s" exceeds maxSeriesLen=$maxSeriesLen; pair count is " +
            "O(len^2) per key — pre-aggregate the series (daily/weekly) " +
            "or raise maxSeriesLen deliberately")))))
      .drop("__len")
    val a = src.select(keys.map(col) :+ col("__x").as("__x1") :+
      col("__y").as("__y1"): _*)
    val b = src.select(keys.map(col) :+ col("__x").as("__x2") :+
      col("__y").as("__y2"): _*)
    val pairs = a.join(b, keys).where(col("__x2") > col("__x1"))
      .withColumn("__s", (col("__y2") - col("__y1")).cast("double") /
        (col("__x2") - col("__x1")).cast("double"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__s"))
    val wk = Window.partitionBy(keys.map(col): _*)
    pairs.withColumn("__rn", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(wk))
      .where(col("__rn") === expr("(__m + 1) div 2") ||
        col("__rn") === expr("(__m + 2) div 2"))
      .groupBy(keys.map(col): _*)
      .agg(max("__m").as("n_pairs"),
        round(lit(1e6) * avg(col("__s"))).cast("long").as("ts_slope_micro"))
  }

  /**
   * Benford's-law first-digit audit of a positive integral metric —
   * the classic fabricated-data / unit-mixup screen. Digit shares are
   * compared against `log10(1 + 1/d)` in permille (constants fixed at
   * plan time); the output is one row per leading digit with observed
   * count, observed and expected permille, and the signed deviation.
   * The first digit comes from the DECIMAL STRING rendering (identical
   * on any engine), never floor(log10) — which goes wrong at powers of
   * ten in floating point. One groupBy over 9 groups.
   */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val expected: Map[Int, Long] = (1 to 9).map(d =>
      d -> Math.round(1000.0 * math.log10(1.0 + 1.0 / d))).toMap
    val expectedCol = (1 to 9).foldLeft(lit(0L)) { (acc, d) =>
      when(col("digit") === d, lit(expected(d))).otherwise(acc)
    }
    val v = col(valueCol).cast("long")
    val digits = df.where(v > 0)
      .select(substring(v.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").as("__t"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("n * 1000 div __t").as("observed_permille"),
        expectedCol.as("expected_permille"))
      .withColumn("deviation_permille",
        col("observed_permille") - col("expected_permille"))
  }

  /**
   * PSI — population stability index — between a reference and a
   * current distribution of an integral metric: the standard drift
   * report (feature drift between training and serving, score drift
   * between crawl snapshots). Buckets are the reference side's decile
   * boundaries (the integer-exact discrete quantiles of
   * [[QuantileFilter.threshold]], computed from ONE value histogram —
   * never a row sort); each side then buckets with a codegen'd
   * boundary-count expression and reduces to `buckets` rows.
   * Per-bucket contribution in integer micro-nats with add-one
   * smoothing:
   *
   *   psi_b = round(1e6 · (p_b − q_b) · ln(p_b / q_b)),
   *   p_b = (ref_b + 1)/(R + B),  q_b = (cur_b + 1)/(C + B)
   *
   * Scale shape: one histogram aggregate on ref (distinct values
   * shuffle, not rows), a bounded driver collect of B−1 boundary
   * longs, one groupBy per side, and a B-row join — the fact tables
   * never shuffle a second time. Total PSI = sum of the column
   * (industry gates: warn > 0.1 ≙ 100 000 µnats, act > 0.25).
   */
  /**
   * The offline fit half of [[psiReport]] / the streaming
   * [[graft.streaming.StreamingPipeline.psiWindowed]] monitor: the
   * reference side's integer-exact discrete quantile boundaries
   * (buckets−1 sorted longs), computed from ONE value histogram
   * (distinct values shuffle, never a row sort) and a bounded driver
   * collect. `bucketOf(v) = Σ [v >= bound_i]` on both engines.
   */
  def quantileBounds(ref: DataFrame, valueCol: String,
      buckets: Int = 10): Array[Long] = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val s = ref.select(col(valueCol).cast("long").as("__s"))
    val hist = s.groupBy("__s").agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cume",
      sum(col("__c")).over(Window.orderBy(col("__s"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = s.agg(count(lit(1)).as("__n"))
    val permilles = (1 until buckets).map(i => i * 1000 / buckets)
    val pm = ref.sparkSession.createDataFrame(
      permilles.map(Tuple1(_))).toDF("__p")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(pm))
      .where(col("__cume") >= expr("(__n * __p + 999) div 1000"))
      .groupBy("__p").agg(min(col("__s")).as("__b"))
      .collect().map(_.getLong(1)).sorted // bounded: buckets-1 longs
  }

  /**
   * Scale-aware quantization step for the quantize-first family
   * ([[psiReport]], [[ksStatistic]], [[distributionDistance]],
   * [[kendallTau]], [[graft.streaming.StreamingPipeline.driftStream]]):
   * every one of those operators pushes a bin-width choice onto the
   * caller, and a hand-picked width that is safe at one scale detonates
   * the fail-loud bin guard at 10× (the q_drift_monitor centi-bin
   * blowout: 9913 bins at sf0.1 against a 4096 cap). This helper
   * COMPUTES the width instead: the smallest power-of-10 step `s` such
   * that `count(distinct v div s) <= maxBins` — exact, deterministic,
   * and engine-replayable (a plain distinct-count lattice, no HLL
   * sketch, so a DuckDB/any-engine oracle reproduces the identical
   * step; negative values use trunc division like Spark's `div`).
   *
   * Cost/scale shape: ONE distinct on the value column (the same
   * distinct-value table every downstream histogram materializes
   * anyway), one `explode` of the 19 steps over it (×19 DISTINCT
   * VALUES, never corpus rows), one distinct of (step, v div step) and
   * one per-step count — no distinct aggregate. Use it once per
   * pipeline and quantize with `col div step`.
   *
   * Recipe: `val s = quantizeStep(df, "v"); df.withColumn("vq",
   * expr(s"v div ${s}L"))` — then feed `vq` to the family operator.
   */
  def quantizeStep(df: DataFrame, valueCol: String,
      maxBins: Int = 4096): Long = {
    require(maxBins >= 32, s"maxBins must be >= 32, got $maxBins")
    finestStep(df.where(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("__v")).distinct(), Nil, maxBins)
  }

  /** The finest of the 19 power-of-10 steps at which no `keys` group of
    * the distinct values `__v` in `dv` has more than `maxBins` bins
    * `__v div step`; 1 when `dv` is empty. */
  private def finestStep(dv: DataFrame, keys: Seq[String],
      maxBins: Int): Long = {
    val k = keys.map(col)
    val steps = typedLit(Iterator.iterate(1L)(_ * 10L).take(19).toSeq)
    val row = dv.select(k :+ explode(steps).as("__s") :+ col("__v"): _*)
      .select(k :+ col("__s") :+ expr("__v div __s").as("__q"): _*)
      .distinct()
      .groupBy(k :+ col("__s"): _*).agg(count(lit(1)).as("__n"))
      .groupBy("__s").agg(max("__n").as("__n"))
      .where(col("__n") <= maxBins).agg(min("__s")).head()
    // 10^18 collapses any long range to <= 19 bins, so only an empty
    // input finds no step
    if (row.isNullAt(0)) 1L else row.getLong(0)
  }

  /**
   * PER-KEY variant of [[quantizeStep]] for operators whose fail-loud
   * bin cap is per GROUP, not global
   * ([[graft.streaming.StreamingPipeline.quantileStream]] keeps ≤
   * maxBins distinct values per key): the smallest power-of-10 step
   * `s` such that `max over keys of count(distinct v div s) <= maxBins`.
   * The global probe is a valid but needlessly coarse bound here — a
   * metric with 40k distinct values split evenly over 16 keys fits the
   * per-key cap at step 1 while the global probe would force step 10.
   * Same determinism/replayability contract as [[quantizeStep]]: a
   * distinct (keys, value) lattice, the same exploded (keys, step,
   * v div step) distinct counted per (key, step), then one max per
   * step, all exact, trunc division like Spark's `div`.
   * Rows with a NULL key or value are excluded, matching the monitors'
   * NULL exclusion.
   */
  def quantizeStepPerKey(df: DataFrame, keys: Seq[String], valueCol: String,
      maxBins: Int = 4096): Long = {
    require(keys.nonEmpty, "quantizeStepPerKey: at least one key column")
    require(maxBins >= 32, s"maxBins must be >= 32, got $maxBins")
    val nn = (keys.map(k => col(k).isNotNull) :+ col(valueCol).isNotNull)
      .reduce(_ && _)
    // empty / all-NULL input has no groups: step 1, as in quantizeStep
    finestStep(df.where(nn)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v"): _*)
      .distinct(), keys, maxBins)
  }

  def psiReport(ref: DataFrame, cur: DataFrame, valueCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val bounds = quantileBounds(ref, valueCol, buckets)
    def bucketOf(v: Column): Column =
      bounds.foldLeft(lit(0))((acc, b) =>
        acc + when(v >= lit(b), 1).otherwise(0))
    def side(df: DataFrame, name: String): DataFrame =
      df.select(bucketOf(col(valueCol).cast("long")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(name))
    val joined = side(ref, "ref_n").join(side(cur, "cur_n"), Seq("bucket"), "full")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    val totals = joined.agg(sum("ref_n").as("__r"), sum("cur_n").as("__c2"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("ref_n"), col("cur_n"),
        round(lit(1e6) *
          ((col("ref_n") + lit(1.0)) / (col("__r") + lit(buckets.toDouble))
            - (col("cur_n") + lit(1.0)) / (col("__c2") + lit(buckets.toDouble))) *
          (log((col("ref_n") + lit(1.0)) / (col("__r") + lit(buckets.toDouble)))
            - log((col("cur_n") + lit(1.0)) / (col("__c2") + lit(buckets.toDouble)))))
          .cast("long").as("psi_unats"))
  }

  /**
   * Per-key EXACT discrete percentile report — the p50/p90/p99 latency
   * table (per-domain doc-length percentiles, per-source quality
   * cutoffs) with none of the approximate-sketch error bars. For each
   * key and permille `p`, the smallest value whose cumulative count
   * reaches `ceil(n·p/1000)` — the same integer-exact histogram-cume
   * quantile as [[quantileBounds]], here per group and pivoted to one
   * row per key (`n`, then one `p<permille>` column each).
   *
   * Scale shape: ONE `groupBy(keys, value)` value histogram (map-side
   * combinable — the shuffle carries distinct (key, value) pairs, not
   * rows), one per-key window over those histogram rows (partitioned;
   * a key's distinct-value count bounds the sort), one per-key reduce.
   * The threshold test is cross-multiplied (`cume·1000 ≥ n·p`), so the
   * report is division-free and bit-identical on any engine.
   */
  def percentileReport(df: DataFrame, keys: Seq[String], valueCol: String,
      permilles: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles must be in [1,1000], got ${permilles.mkString(",")}")
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(keys.map(col) :+ col(valueCol).cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wCume = Window.partitionBy(keys.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wKey = Window.partitionBy(keys.map(col): _*)
    val cum = hist
      .withColumn("__cume", sum("__c").over(wCume))
      .withColumn("__n", sum("__c").over(wKey))
    val aggs = max(col("__n")).as("n") +: permilles.map(p =>
      min(when(col("__cume") * 1000 >= col("__n") * p, col("__v"))).as(s"p$p"))
    cum.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Per-key winsorization: clamp `valueCol` into its key's
   * `[p<lo>, p<hi>]` exact discrete percentile band (appended as
   * `<valueCol>_w`, band bounds as `__lo`/`__hi` dropped) — the
   * outlier treatment that keeps rows (unlike a filter) while bounding
   * the moments a downstream mean/σ gate sees. Bounds come from
   * [[percentileReport]] (histogram-cume, division-free); the fact
   * table meets the key-bounded bounds table in ONE equi-join that AQE
   * broadcasts in practice.
   */
  def winsorize(df: DataFrame, keys: Seq[String], valueCol: String,
      loPermille: Int = 10, hiPermille: Int = 990): DataFrame = {
    require(loPermille < hiPermille,
      s"lo must be < hi, got $loPermille >= $hiPermille")
    val pr = percentileReport(df, keys, valueCol, Seq(loPermille, hiPermille))
      .select(keys.map(col) :+ col(s"p$loPermille").as("__lo") :+
        col(s"p$hiPermille").as("__hi"): _*)
    df.join(pr, keys)
      .withColumn(s"${valueCol}_w",
        greatest(least(col(valueCol).cast("long"), col("__hi")), col("__lo")))
      .drop("__lo", "__hi")
  }

  /**
   * Robust per-key outlier gate on median/MAD instead of mean/σ — the
   * screen that survives the outliers it is looking for (one whale
   * purchase inflates σ enough to hide the rest; the median absolute
   * deviation barely moves). Flags `|v − med| · kDen > MAD · kNum`
   * with `med` the key's discrete median and `MAD = median(|v −
   * med|)` — every quantity an exact integer, so the flag is
   * bit-reproducible (contrast [[anomalyFlags]]' moment algebra, same
   * contract, different estimator). Keys where MAD = 0 flag any
   * deviation (strict gate, like the σ = 0 case).
   *
   * Scale shape: two [[percentileReport]] passes (median of v, then
   * median of |v − med|) — each one histogram aggregate plus
   * key-bounded windows — and two fact-side equi-joins against
   * key-bounded tables. No window ever sorts fact rows.
   */
  def robustAnomalyFlags(df: DataFrame, keys: Seq[String], valueCol: String,
      kNum: Int = 3, kDen: Int = 1): DataFrame = {
    require(kNum > 0 && kDen > 0, "kNum and kDen must be positive")
    val med = percentileReport(df, keys, valueCol, Seq(500))
      .select(keys.map(col) :+ col("p500").as("med"): _*)
    val dev = df.join(med, keys)
      .withColumn("abs_dev", abs(col(valueCol).cast("long") - col("med")))
    val mad = percentileReport(dev, keys, "abs_dev", Seq(500))
      .select(keys.map(col) :+ col("p500").as("mad"): _*)
    dev.join(mad, keys)
      .withColumn("is_anomaly",
        col("abs_dev") * kDen > col("mad") * kNum)
  }

  /**
   * Inter-event cadence regularity — the bot/crawler tell: humans
   * arrive with bursty gaps (squared coefficient of variation CV² ≈
   * 1 for Poisson, higher for sessions), schedulers arrive on a
   * metronome (CV² ≈ 0). Per key, the gap moments and the flag
   * `CV² < kNum/kDen`, division-cleared to
   * `kDen·(n·ssq − s²) < kNum·s²` — the [[anomalyFlags]] integer
   * algebra applied to the DELTAS of the sorted timestamps.
   *
   * Gaps are `(ts − prev) div divisor` (default micros → seconds;
   * TRUE integral `div` — sorted timestamps make every gap ≥ 0, so
   * div, truncation and floor all agree, but the expression says what
   * the doc says): the divisor is the overflow contract — with gap ≤ G
   * and n gaps per key, needs `n·ssq ≤ n²·G² < 2^63` (seconds over a
   * year: G ≈ 3·10⁷, n ≤ 10⁴ fits). Ordering ties cost nothing: the
   * gap MULTISET of a sorted multiset is tie-order-invariant, and only
   * moments are kept. One shuffle (the per-key lag window), then a
   * map-side-combinable moment aggregate. Keys need `minGaps` gaps to
   * flag (short histories say nothing). A key whose gaps ALL divide to
   * zero (a cadence faster than the divisor, or duplicated
   * timestamps) is the degenerate metronome — CV² has no mean to
   * divide by, and it flags robotic directly rather than hiding
   * behind the division guard.
   */
  def gapRegularity(df: DataFrame, keys: Seq[String], tsCol: String,
      divisor: Long = 1000000L, kNum: Int = 1, kDen: Int = 10,
      minGaps: Int = 5): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(divisor > 0 && kNum > 0 && kDen > 0 && minGaps >= 1,
      "divisor, kNum, kDen, minGaps must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.withColumn("__diff",
        col(tsCol).cast("long") - lag(col(tsCol).cast("long"), 1).over(w))
      .withColumn("__gap", expr(s"__diff div ${divisor}L"))
      .where(col("__gap").isNotNull)
      .drop("__diff")
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_gaps"),
        sum("__gap").as("gap_sum"),
        sum(col("__gap") * col("__gap")).as("gap_ssq"))
      .withColumn("var_n2",
        col("n_gaps") * col("gap_ssq") - col("gap_sum") * col("gap_sum"))
      .withColumn("is_robotic",
        col("n_gaps") >= minGaps &&
          (col("gap_sum") === 0L ||
            col("var_n2") * kDen < col("gap_sum") * col("gap_sum") * kNum))
  }

  /**
   * Per-document Shannon entropy of the token distribution, in integer
   * micro-nats — the repetitiveness signal quality filters gate on
   * (boilerplate and keyword-stuffed spam sit far below prose, which
   * runs ≈ ln(n_unique) when tokens are spread): `Σ round(1e6 ·
   * (c/n) · ln(n/c))` over the doc's token counts, each term rounded
   * before the sum (the [[psiReport]] micro-nat discipline, so any
   * IEEE engine reproduces the long exactly).
   *
   * Scale shape: explode to (id, token), ONE (id, token) count
   * aggregate (map-side combinable), per-id totals over that
   * token-bounded table, and the entropy reduce — no window, no
   * self-join; everything shuffles on id at token-table size.
   * Output: `id`, `n_tokens`, `n_unique`, `entropy_unats`.
   */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
    val cnt = toks.groupBy("id", "tok").agg(count(lit(1)).as("__c"))
    val tot = cnt.groupBy("id")
      .agg(sum("__c").as("n_tokens"), count(lit(1)).as("n_unique"))
    cnt.join(tot, "id")
      .groupBy(col("id"), col("n_tokens"), col("n_unique"))
      .agg(sum(round(lit(1e6) * col("__c") / col("n_tokens") *
          log(col("n_tokens").cast("double") / col("__c"))).cast("long"))
        .as("entropy_unats"))
  }

  /**
   * Adjacent-bigram collocation mining — the word2phrase step of
   * phrase-vocab building (contrast [[Dedup.pmiPairs]], which scores
   * DOCUMENT-level co-occurrence; this scores ADJACENCY): every
   * consecutive token pair is counted with multiplicity, each side
   * joins its corpus unigram count, and the score is pointwise mutual
   * information in integer micro-nats,
   * `round(1e6 · (ln c_ab + 2·ln N_uni − ln N_bi − ln c_a − ln c_b))` —
   * each ln an IEEE double and the sum rounded ONCE (the [[psiReport]]
   * micro-nat discipline, so any engine reproduces the long exactly).
   * `N_bi` is the UNpruned total bigram count (the probability
   * normalizer), taken before `minCount` trims the tail.
   *
   * Scale shape: one bigram-count groupBy + one unigram-count groupBy
   * (both map-side combinable; strict [[NGrams]] windows, so sub-2-token
   * docs contribute nothing), two equi-joins of the pruned bigram table
   * against the token-bounded unigram table, and the two corpus totals
   * ride a one-row broadcast. `minCount` prunes BEFORE the joins.
   * Output: `a, b, c_ab, c_a, c_b, pmi_unats`.
   */
  def collocations(df: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    import graft.expressions.{asColumn, asExpr}
    val toks = df.select(split(col(textCol), " ").as("__t"))
    // both count tables are consumed twice (totals + joins): one
    // materialization each, so the corpus scans exactly twice
    val uni = toks.select(explode(col("__t")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val bi0 = toks
      .select(explode(asColumn(NGrams(asExpr(col("__t")), 2))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val totals = broadcast(
      uni.agg(sum("c").as("n_uni"))
        .crossJoin(bi0.agg(sum("c_ab").as("n_bi"))))
    val bi = bi0.where(col("c_ab") >= minCount)
      .withColumn("a", expr("split(bg, ' ')[0]"))
      .withColumn("b", expr("split(bg, ' ')[1]"))
    bi.join(uni.select(col("tok").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), "b")
      .crossJoin(totals)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        round(lit(1e6) * (log(col("c_ab")) + lit(2.0) * log(col("n_uni")) -
          log(col("n_bi")) - log(col("c_a")) - log(col("c_b"))))
          .cast("long").as("pmi_unats"))
  }

  /**
   * Cohen's kappa — chance-corrected agreement between two labelers
   * (human annotators, two quality gates, a model vs. its teacher):
   * the label-quality audit a training-data pipeline runs before
   * trusting a filter column. Multi-class, EXACT INTEGER math: with
   * `n` rows, `agree = Σ_k n_kk` and `pe_num = Σ_k a_k·b_k` (marginal
   * products), kappa `(p_o − p_e)/(1 − p_e)` clears to the integer
   * ratio `kappa_num/kappa_den = (n·agree − pe_num)/(n² − pe_num)`,
   * reported in sign-handled truncating permille (κ can be negative —
   * systematic disagreement — and `div`-truncation toward zero is
   * applied to |num| so Spark `div` and DuckDB `//` agree on both
   * signs). `kappa_den = 0` (a degenerate corpus where chance
   * agreement is already 1, e.g. both columns constant) yields NULL.
   *
   * Scale shape: ONE (a, b) pair-count groupBy over the fact rows
   * (map-side combinable, label-combo-bounded output); marginals,
   * totals, and the agree sum all derive from that tiny pair table,
   * and the three one-row aggregates meet in broadcast crossJoins.
   * Output (one row): `n, agree, pe_num, kappa_num, kappa_den,
   * kappa_permille`.
   */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // the label-combo-bounded pair table feeds four aggregates
    // (marginals x2, totals, agree): materialize it once or every
    // reference re-scans the fact table
    val pairs = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val aMarg = pairs.groupBy("a").agg(sum("c").as("ca"))
    val bMarg = pairs.groupBy("b").agg(sum("c").as("cb"))
    val tot = pairs.agg(sum("c").as("n"),
      coalesce(sum(when(col("a") === col("b"), col("c"))), lit(0L)).as("agree"))
    val pe = aMarg.join(bMarg, col("a") === col("b"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("pe_num"))
    // n·agree and n² overflow Long past n ≈ 3e9 rows — plausible at
    // corpus scale — so the clearing runs in DECIMAL(38,0) and only the
    // reported intermediates cast down to long (null on overflow, never
    // a silent wraparound; kappa_permille itself is exact at any n).
    broadcast(tot).crossJoin(broadcast(pe))
      .withColumn("__n", col("n").cast("decimal(38,0)"))
      .withColumn("__agree", col("agree").cast("decimal(38,0)"))
      .withColumn("__pe", col("pe_num").cast("decimal(38,0)"))
      .withColumn("kappa_num",
        (col("__n") * col("__agree") - col("__pe")).cast("long"))
      .withColumn("kappa_den",
        (col("__n") * col("__n") - col("__pe")).cast("long"))
      .withColumn("kappa_permille", expr(
        """cast(case when __n * __n - __pe = 0 then null
          |     when __n * __agree - __pe >= 0
          |       then (__n * __agree - __pe) * 1000 div (__n * __n - __pe)
          |     else -((__pe - __n * __agree) * 1000 div (__n * __n - __pe))
          |     end as long)""".stripMargin))
      .drop("__n", "__agree", "__pe")
  }

  /**
   * Symmetric window-`window` token co-occurrence counts — the
   * GloVe/word2vec statistics pass (contrast [[collocations]], which
   * scores ADJACENT bigrams only): every unordered token pair whose
   * positions sit within `window` of each other in a document counts
   * once per occurrence, summed over the corpus, tail pruned at
   * `minCount`.
   *
   * Scale shape: pair generation is a per-row codegen'd HOF chain —
   * explode distances 1..window, `transform` zips each token with its
   * d-successor (strict windows: no padding, sub-(d+1)-token docs
   * contribute nothing at distance d) — then ONE map-side-combinable
   * groupBy count. No join, no window function, no self-join; the
   * shuffle carries (pair, partial count) rows bounded by the distinct
   * pair vocabulary per partition. Integer-only output:
   * `a, b, cnt` with `a <= b` (least/greatest canonical order).
   */
  def windowCooccur(df: DataFrame, textCol: String, window: Int = 5,
      minCount: Long = 5L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    df.select(split(col(textCol), " ").as("ws"),
        explode(sequence(lit(1), lit(window))).as("d"))
      .where(size(col("ws")) > col("d"))
      .select(explode(expr(
        "transform(sequence(1, size(ws) - d), i -> struct(ws[i-1] as x, ws[i+d-1] as y))")).as("p"))
      .where(col("p.x") =!= "" && col("p.y") =!= "")
      .select(least(col("p.x"), col("p.y")).as("a"),
        greatest(col("p.x"), col("p.y")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
  }

  /**
   * Fleiss' kappa — chance-corrected agreement among a FIXED panel of
   * `raters` raters per item (the multi-annotator generalization of
   * [[cohenKappa]]: crowd labeling rounds, N-way model ensembles
   * voting on training labels). Input is one row per rating
   * (item, category); items whose rating count differs from `raters`
   * are DROPPED (documented: Fleiss is defined for complete panels —
   * partial items would need Krippendorff weighting).
   *
   * EXACT INTEGER math. With `N` complete items, `r` raters,
   * `S = Σ_ij n_ij²` (n_ij = ratings of item i in category j) and
   * `C = Σ_j c_j²` (c_j = column totals over complete items), the
   * usual `κ = (P̄ − P̄_e)/(1 − P̄_e)` clears (common factor N·r
   * cancelled) to
   *
   *   kappa_num = (S − N·r)·N·r − C·(r−1)
   *   kappa_den = (r−1)·((N·r)² − C)
   *
   * computed in DECIMAL(38,0) so N ≳ 3e9 cannot wrap; the permille is
   * sign-handled truncating div (κ < 0 = systematic disagreement),
   * NULL when the denominator is 0 (all ratings one category).
   *
   * Scale shape: ONE (item, category) groupBy over the fact rows
   * (map-side combinable), an item-bounded completeness semi-join,
   * then three one-row aggregates (N, S, C) met in broadcast
   * crossJoins — the [[cohenKappa]] shape. Output (one row):
   * `n_items, n_raters, s_sq, c_sq, kappa_num, kappa_den,
   * kappa_permille`.
   */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
      raters: Int): DataFrame = {
    require(raters >= 2, s"raters must be >= 2, got $raters")
    // the (item, category) table feeds the completeness filter, S and C:
    // materialize once so facts scan once
    val nij = df.groupBy(col(itemCol).as("item"), col(categoryCol).as("cat"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val complete = nij.groupBy("item").agg(sum("c").as("__r"))
      .where(col("__r") === raters.toLong).select("item")
    val kept = nij.join(complete, "item")
    // three ONE-ROW aggregates (never a mixed distinct+sum agg — that
    // plans an Expand): N over the complete-item table, S over kept
    // cells, C over the category totals
    val nItems = complete.agg(count(lit(1)).as("n_items"))
    val sSq = kept.agg(coalesce(sum(col("c") * col("c")), lit(0L)).as("s_sq"))
    val cSq = kept.groupBy("cat").agg(sum("c").as("cj"))
      .agg(coalesce(sum(col("cj") * col("cj")), lit(0L)).as("c_sq"))
    broadcast(nItems).crossJoin(broadcast(sSq)).crossJoin(broadcast(cSq))
      .withColumn("__nr",
        (col("n_items") * lit(raters.toLong)).cast("decimal(38,0)"))
      .withColumn("__s", col("s_sq").cast("decimal(38,0)"))
      .withColumn("__c", col("c_sq").cast("decimal(38,0)"))
      .withColumn("__num",
        (col("__s") - col("__nr")) * col("__nr") - col("__c") * lit(raters - 1))
      .withColumn("__den",
        (col("__nr") * col("__nr") - col("__c")) * lit(raters - 1))
      .select(col("n_items"), lit(raters).as("n_raters"),
        col("s_sq"), col("c_sq"),
        col("__num").cast("long").as("kappa_num"),
        col("__den").cast("long").as("kappa_den"),
        expr("""cast(case when __den = 0 then null
          |     when __num >= 0 then __num * 1000 div __den
          |     else -((-__num) * 1000 div __den) end as long)""".stripMargin)
          .as("kappa_permille"))
  }

  /**
   * Per-document n-gram NOVELTY against the earlier corpus — the
   * memorization/freshness audit of an ordered ingest (how much of
   * this document's content first appears HERE?): a gram's origin is
   * the smallest doc id containing it, and a doc's novelty is the
   * permille of its distinct n-grams it originates. Boilerplate-heavy
   * or near-duplicate late documents score near 0; genuinely new
   * content scores near 1000. Deterministic — no sampling, exact
   * integer permille.
   *
   * Scale shape: one (gram → min doc id) groupBy (map-side combinable)
   * and one gram-keyed equi-join back to the per-doc distinct grams,
   * then a per-doc count aggregate — the tfidf shape; the gram table
   * is open-vocabulary and is never broadcast. Output: `id, n_grams,
   * n_novel, novelty_permille`. Sub-n documents contribute one
   * truncated whole-doc gram (the [[DistinctNGrams]] fingerprint
   * convention), so every non-empty document gets a row.
   */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    import graft.expressions.{asColumn, asExpr}
    val grams = df.select(col(idCol).as("id"),
        explode(asColumn(DistinctNGrams(asExpr(split(col(textCol), " ")), n)))
          .as("gram"))
      .where(col("gram") =!= "")
    val origin = grams.groupBy("gram").agg(min("id").as("__first"))
    grams.join(origin, "gram")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("id") === col("__first"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_permille", expr("n_novel * 1000 div n_grams"))
  }

  /**
   * Krippendorff's alpha (nominal) — chance-corrected agreement for
   * VARIABLE panel sizes: the exact case [[fleissKappa]] refuses
   * (items with any r_i ≥ 2 ratings all contribute; only single-rating
   * items are unpairable and drop). The observed-disagreement side is
   * a per-item rational `(r_i² − Σ_c n_ic²)/(r_i − 1)`, rounded to
   * integer MICRO-UNITS per item (`round(1e6·…)` — the psiReport
   * micro-nat discipline: one integer division in double then one
   * round, bit-replayable on any IEEE engine) and summed; the expected
   * side is all-integer. With `n = Σ_c n_c` pairable ratings and
   * `C = Σ_c n_c²`:
   *
   *   alpha_num = (n² − C)·1e6 − (n − 1)·Σ_i t_i
   *   alpha_den = (n² − C)·1e6
   *
   * in DECIMAL(38,0), sign-handled truncating permille; NULL when all
   * pairable ratings are one category (den = 0) or nothing is
   * pairable.
   *
   * Scale shape: ONE (item, category) groupBy, per-item micro-unit
   * terms off that bounded table, then three one-row aggregates met
   * in broadcast crossJoins — the [[fleissKappa]] shape without the
   * completeness filter. Output (one row): `n_ratings, n_items,
   * d_o_micro, c_sq, alpha_num, alpha_den, alpha_permille`.
   */
  def krippendorffAlpha(df: DataFrame, itemCol: String,
      categoryCol: String): DataFrame = {
    // (item, category) table feeds per-item terms AND the pairable
    // rollup: one materialization, one fact scan
    val nij = df.groupBy(col(itemCol).as("item"), col(categoryCol).as("cat"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val perItem = nij.groupBy("item")
      .agg(sum("c").as("ri"), sum(col("c") * col("c")).as("si"))
      .where(col("ri") >= 2L)
    val items = perItem.agg(
      count(lit(1)).as("n_items"),
      coalesce(sum(round(lit(1e6) *
        (col("ri") * col("ri") - col("si")).cast("double") /
        (col("ri") - 1L)).cast("long")), lit(0L)).as("d_o_micro"))
    val pairable = nij.join(perItem.select("item"), "item")
    val cats = pairable.groupBy("cat").agg(sum("c").as("nc"))
      .agg(coalesce(sum(col("nc")), lit(0L)).as("n_ratings"),
        coalesce(sum(col("nc") * col("nc")), lit(0L)).as("c_sq"))
    broadcast(cats).crossJoin(broadcast(items))
      .withColumn("__n", col("n_ratings").cast("decimal(38,0)"))
      .withColumn("__c", col("c_sq").cast("decimal(38,0)"))
      .withColumn("__do", col("d_o_micro").cast("decimal(38,0)"))
      .withColumn("__de", (col("__n") * col("__n") - col("__c")) * lit(1000000L))
      .withColumn("__num", col("__de") - (col("__n") - 1) * col("__do"))
      .select(col("n_ratings"), col("n_items"), col("d_o_micro"), col("c_sq"),
        col("__num").cast("long").as("alpha_num"),
        col("__de").cast("long").as("alpha_den"),
        expr("""cast(case when __de = 0 then null
          |     when __num >= 0 then __num * 1000 div __de
          |     else -((-__num) * 1000 div __de) end as long)""".stripMargin)
          .as("alpha_permille"))
  }

  /**
   * ROUGE-N — clipped n-gram overlap between a candidate and a
   * reference text (summarization / distillation eval, and the
   * prefix-leakage audit of a train/eval split): per pair,
   * `match = Σ_g min(cnt_cand(g), cnt_ref(g))` over the reference's
   * distinct n-grams, with recall `match/ref_n`, precision
   * `match/cand_n`, F1 `2·match/(cand_n + ref_n)` — all reported in
   * truncating permille (exact integers; NULL when the denominator is
   * 0, i.e. a side too short to have an n-gram).
   *
   * Scale shape: pure per-row expressions — strict [[NGrams]] windows
   * plus the native [[ClippedOverlap]] hash-count kernel
   * (O(|cand| + |ref|) per row; the HOF fold it replaced was
   * O(distinct·len) — 3.9× slower end-to-end on 300-gram docs) — ZERO shuffles;
   * a billion pairs cost one scan. (Contrast [[Decontaminate]], which joins
   * gram tables corpus-wide; ROUGE is pairwise so the grams never
   * leave the row.) Output: id, cand_n, ref_n, match_n,
   * rouge_p/r/f permilles.
   */
  /**
   * Chi-square test of independence on a 2×2 contingency table per
   * key — the A/B-experiment significance readout (is the success
   * rate difference between control and variant real?): per key,
   * cells a/b/c/d = (control success, control failure, variant
   * success, variant failure) and
   *
   *   chi2_micro = round(1e6 · N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)))
   *
   * with the integer cross term `ad − bc` exact in longs (safe to
   * ~3·10⁹ rows per cell) and ONE double division rounded once — the
   * [[trend]] recipe, identical on any IEEE engine when the operand
   * order matches. `significant_95` applies the χ²₍₁₎ 5% critical
   * value (3.841459). NULL chi2 when any margin is 0 (a degenerate
   * table has no test).
   *
   * Scale shape: ONE map-side-combinable groupBy computing four
   * conditional counts — a single keyed shuffle, output bounded by
   * the key space.
   */
  def chiSquare2x2(df: DataFrame, keys: Seq[String], groupCol: String,
      successCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val g = col(groupCol).cast("boolean")
    val s = col(successCol).cast("boolean")
    df.groupBy(keys.map(col): _*)
      .agg(
        count(when(!g && s, 1)).as("a"),
        count(when(!g && !s, 1)).as("b"),
        count(when(g && s, 1)).as("c"),
        count(when(g && !s, 1)).as("d"))
      .withColumn("chi2_micro", expr(
        """cast(case when (a + b) = 0 or (c + d) = 0
          |         or (a + c) = 0 or (b + d) = 0 then null
          |  else round(1e6 * cast(a + b + c + d as double)
          |    * cast(a * d - b * c as double) * cast(a * d - b * c as double)
          |    / (cast(a + b as double) * cast(c + d as double)
          |       * cast(a + c as double) * cast(b + d as double)))
          |  end as long)""".stripMargin))
      .withColumn("significant_95",
        when(col("chi2_micro").isNull, lit(null))
          .otherwise(col("chi2_micro") > 3841459L))
  }

  /**
   * Two-sample Kolmogorov–Smirnov statistic over a pre-scaled integral
   * metric — the distribution-drift gate that catches shape changes
   * [[psiReport]]'s fixed buckets can miss: `D = max_v |CDF_ref(v) −
   * CDF_cur(v)|`, cleared to exact integers as
   *
   *   d_ppm = max_v |cum_ref(v)·n_cur − cum_cur(v)·n_ref| · 1e6
   *             div (n_ref·n_cur)
   *
   * — DECIMAL(38,0) products, one truncating division at the max.
   * `at_value` is the SMALLEST value achieving the max (deterministic
   * argmax via a lexicographic struct). Output: one row — n_ref,
   * n_cur, d_ppm, at_value.
   *
   * Scale shape: one groupBy per side (map-side combinable, output
   * bounded by the DISTINCT VALUE table), a full outer join of the two
   * count tables, and cumulative windows over distinct values only —
   * the fact rows shuffle once per side. Continuous metrics should be
   * bucketed/scaled first (the pre-scaled-long contract); the global
   * window runs over the distinct-value table, not the corpus.
   * Bin-width choice is SCALE-SENSITIVE — compute it with
   * [[quantizeStep]] instead of hand-picking.
   */
  /**
   * Fail-loud cap on the pooled distinct-value table of the batch
   * two-sample family (the [[theilSen]] raise_error discipline, the
   * streaming `driftStream` maxBins twin): the cumulative windows
   * these statistics run downstream are SINGLE-partition over the
   * pooled distinct values by construction, so an unquantized
   * continuous metric means millions of rows through one partition —
   * a scale-killer, not a slow query. The guard rides a window with
   * the same empty partitioning as those cumulative windows (same
   * exchange — no extra shuffle, no separate counting job) and is
   * woven into `__ca` itself so column pruning cannot drop it.
   */
  private def capPooledDistinct(joined: DataFrame, op: String,
      maxDistinct: Int): DataFrame = {
    require(maxDistinct >= 2 && maxDistinct <= (1 << 24),
      s"maxDistinct must be in [2, ${1 << 24}], got $maxDistinct")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    joined
      .withColumn("__ndv", count(lit(1)).over(wAll))
      .withColumn("__ca", when(col("__ndv") <= maxDistinct, col("__ca"))
        .otherwise(raise_error(concat(
          lit(s"$op: pooled distinct-value table has "), col("__ndv"),
          lit(s" values, exceeds maxDistinct=$maxDistinct — quantize " +
            "the metric upstream (Stats.quantizeStep) or raise " +
            "maxDistinct deliberately")))))
      .drop("__ndv")
  }

  def ksStatistic(ref: DataFrame, cur: DataFrame,
      valueCol: String, maxDistinct: Int = 65536): DataFrame = {
    // NULL metric values carry no position on the value axis and are
    // engine-ambiguous in cumulative windows (Spark orders NULL first,
    // DuckDB last): excluded from both sides by contract (the
    // tCloseness rule; StatsSpec + the q_ks NULL-bearing fixture pin it)
    val va = ref.select(col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__ca"))
    val vb = cur.select(col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__v")
    val joined = capPooledDistinct(
      va.join(vb, Seq("__v"), "full_outer")
        .na.fill(0L, Seq("__ca", "__cb")), "ks_statistic", maxDistinct)
      .withColumn("__cuma", sum("__ca").over(w))
      .withColumn("__cumb", sum("__cb").over(w))
    joined
      .crossJoin(broadcast(joined.agg(sum("__ca").as("__na"),
        sum("__cb").as("__nb"))))
      .withColumn("__gap", abs(
        col("__cuma").cast("decimal(38,0)") * col("__nb") -
          col("__cumb").cast("decimal(38,0)") * col("__na")))
      .agg(max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
        max(struct(col("__gap"),
          (-col("__v").cast("decimal(38,0)")).as("__nv"),
          col("__v").as("__vv"))).as("__m"))
      .select(col("n_ref"), col("n_cur"),
        expr("cast(__m.__gap * 1000000 div (cast(n_ref as decimal(38,0)) * n_cur) as long)")
          .as("d_ppm"),
        col("__m.__vv").as("at_value"))
  }

  /**
   * Split-conformal calibration quantile over a pre-scaled integral
   * nonconformity score — the distribution-free prediction-set
   * threshold (Vovk et al.; Angelopoulos & Bates '21): with n
   * calibration scores and miscoverage α,
   *
   *   k    = ceil((n+1)·(1−α))        (integer: (a + 999) div 1000)
   *   qhat = the k-th SMALLEST score  (an exact order statistic)
   *
   * guarantees ≥ 1−α coverage on exchangeable test points. When
   * k > n (α below 1/(n+1) — too few calibration points for the
   * requested coverage) the threshold is +∞; this reports the row with
   * NULL n/k/qhat, the loud signal. Output: one row — n, k, qhat.
   *
   * Scale shape: one map-side-combinable distinct-value count, a
   * cumulative window over DISTINCT scores only (the ksStatistic
   * contract — bucket continuous scores first), one one-row aggregate.
   * No global sort of the fact table, no per-row rank.
   */
  def conformalQuantile(df: DataFrame, scoreCol: String,
      alphaPermille: Int): DataFrame = {
    require(alphaPermille >= 1 && alphaPermille <= 999,
      s"alphaPermille must be in [1,999], got $alphaPermille")
    // NULL scores are excluded by contract (no rank on the score axis;
    // engine-ambiguous NULL ordering in cumulative windows — the
    // ksStatistic rule), so n counts non-null calibration points only
    val counts = df.select(col(scoreCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__v")
    counts
      .withColumn("__cum", sum("__c").over(w))
      .crossJoin(broadcast(counts.agg(sum("__c").as("__n"))))
      .withColumn("__k", expr(
        s"((__n + 1) * ${1000 - alphaPermille} + 999) div 1000"))
      .where(col("__cum") >= col("__k"))
      .agg(max("__n").as("n"), max("__k").as("k"), min("__v").as("qhat"))
  }

  /**
   * Zipf rank–frequency fit over a corpus vocabulary — the classic
   * natural-language health check of a training mixture: organic text
   * follows `freq ∝ rank^s` with s ≈ −1; template spam, boilerplate
   * floods and synthetic fill bend the slope or crush the fit. Linear
   * least squares on `(x, y) = (round(1e6·ln rank), round(1e6·ln cnt))`
   * over the `topR` most frequent terms (count DESC, term ASC ties —
   * deterministic), with the rounding applied ONCE per value (the
   * idf_centi recipe) so the moments are exact integers:
   *
   *   slope_micro     = (n·Σxy − Σx·Σy)·1e6 div (n·Σx² − (Σx)²)
   *   intercept_micro = (Σy·1e6 − slope_micro·Σx) div (n·1e6)
   *
   * — truncating integer divisions by definition, replayable anywhere.
   *
   * Scale shape: ONE map-side-combinable token count (the only
   * row-bounded shuffle), a distributed TakeOrdered for the topR cut
   * (never a global sort of the vocabulary), a row_number over the
   * topR-row table, and one single-row moment aggregate. Output: one
   * row — n_terms, slope_micro, intercept_micro.
   */
  def zipfFit(df: DataFrame, textCol: String, topR: Int = 1000): DataFrame = {
    require(topR >= 2, s"topR must be >= 2, got $topR")
    val counts = df
      .select(explode(split(col(textCol), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("term")).limit(topR)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cnt"), col("term"))
    counts
      .withColumn("__r", row_number().over(w))
      .select(
        round(lit(1e6) * log(col("__r").cast("double"))).cast("long").as("__x"),
        round(lit(1e6) * log(col("cnt").cast("double"))).cast("long").as("__y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__x").cast("decimal(38,0)")).as("__sx"),
        sum(col("__y").cast("decimal(38,0)")).as("__sy"),
        sum(col("__x").cast("decimal(38,0)") * col("__y")).as("__sxy"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__sxx"))
      .withColumn("__den", expr("n_terms * __sxx - __sx * __sx"))
      .withColumn("slope_micro", expr(
        "cast(if(__den = 0, null," +
          " (n_terms * __sxy - __sx * __sy) * 1000000 div __den) as long)"))
      .withColumn("intercept_micro", expr(
        "cast(if(__den = 0, null, (__sy * 1000000 - slope_micro * __sx)" +
          " div (n_terms * 1000000)) as long)"))
      .select(col("n_terms"), col("slope_micro"), col("intercept_micro"))
  }

  /**
   * Heaps'-law vocabulary-growth fit (Heaps '78) — "how fast does NEW
   * vocabulary keep arriving as the corpus grows", the planning
   * number behind tokenizer vocab sizing and dedup-vs-coverage
   * budgets (V(N) ≈ K·N^β; English prose β ≈ 0.4–0.6 — a β drifting
   * up mid-crawl means the source mix changed):
   *
   * growth checkpoints at DOC boundaries in `idCol` order — N_d =
   * cumulative tokens, V_d = cumulative distinct terms (a term counts
   * at its FIRST doc, one corpus groupBy min) — then the exact
   * integer OLS of [[zipfFit]] on the micro-rounded (ln N_d, ln V_d)
   * points: slope = β, intercept = ln K.
   *
   * Scale shape: token counting and first-doc are corpus-scale
   * map-side-combinable groupBys; everything ordered is the DOC-level
   * table (two longs per doc). That table rides global cumulative
   * windows, so `maxDocs` fails loud (the [[bhFdr]] discipline) —
   * past it, fit on a doc-bucketed prefix deliberately.
   *
   * Returns one row: (n_docs, n_tokens, vocab, beta_micro,
   * ln_k_micro).
   */
  def heapsLaw(df: DataFrame, idCol: String, textCol: String,
      maxDocs: Int = 1000000): DataFrame = {
    require(maxDocs >= 2 && maxDocs <= (1 << 30),
      s"maxDocs must be in [2, 2^30], got $maxDocs")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val toks = df
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__d"),
        explode(split(col(textCol), " ")).as("__t"))
      .where(col("__t") =!= "")
    val perDoc = toks.groupBy("__d").agg(count(lit(1)).as("__nt"))
    val firstDoc = toks.groupBy("__t").agg(min("__d").as("__d"))
      .groupBy("__d").agg(count(lit(1)).as("__nv"))
    val wAsc = W.orderBy(col("__d")).rowsBetween(W.unboundedPreceding, 0)
    val wAll = W.partitionBy()
    val docs = perDoc.join(firstDoc, Seq("__d"), "left")
      .na.fill(0L, Seq("__nv"))
      .withColumn("__ndocs", count(lit(1)).over(wAll))
      .withColumn("__nt", when(col("__ndocs") <= maxDocs, col("__nt"))
        .otherwise(raise_error(concat(lit("heaps_law: "), col("__ndocs"),
          lit(s" docs exceed maxDocs=$maxDocs — the growth checkpoints " +
            "ride a global window; fit on a doc-bucketed prefix " +
            "deliberately")))))
      .withColumn("__N", sum("__nt").over(wAsc))
      .withColumn("__V", sum("__nv").over(wAsc))
      .where(col("__N") > 0L && col("__V") > 0L)
    docs
      .select(
        round(lit(1e6) * log(col("__N").cast("double"))).cast("long")
          .as("__x"),
        round(lit(1e6) * log(col("__V").cast("double"))).cast("long")
          .as("__y"),
        col("__N"), col("__V"))
      .agg(count(lit(1)).as("n_docs"),
        max("__N").as("n_tokens"), max("__V").as("vocab"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum(col("__x").cast(dec) * col("__y")).as("__sxy"),
        sum(col("__x").cast(dec) * col("__x")).as("__sxx"))
      .withColumn("__den", expr("n_docs * __sxx - __sx * __sx"))
      .withColumn("beta_micro", expr(
        "cast(if(__den = 0, null," +
          " (n_docs * __sxy - __sx * __sy) * 1000000 div __den) as long)"))
      .withColumn("ln_k_micro", expr(
        "cast(if(__den = 0, null, (__sy * 1000000 - beta_micro * __sx)" +
          " div (n_docs * 1000000)) as long)"))
      .select(col("n_docs"), col("n_tokens"), col("vocab"),
        col("beta_micro"), col("ln_k_micro"))
  }

  def rougeN(df: DataFrame, idCol: String, candCol: String,
      refCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    import graft.expressions.{asColumn, asExpr}
    val matched = asColumn(ClippedOverlap(
      asExpr(col("__cg")), asExpr(col("__rg"))))
    df.select(col(idCol).as("id"),
        asColumn(NGrams(asExpr(split(col(candCol), " ")), n)).as("__cg"),
        asColumn(NGrams(asExpr(split(col(refCol), " ")), n)).as("__rg"))
      .select(col("id"),
        size(col("__cg")).cast("long").as("cand_n"),
        size(col("__rg")).cast("long").as("ref_n"),
        matched.as("match_n"))
      .select(col("id"), col("cand_n"), col("ref_n"), col("match_n"),
        when(col("cand_n") > 0, expr("match_n * 1000 div cand_n")).as("rouge_p"),
        when(col("ref_n") > 0, expr("match_n * 1000 div ref_n")).as("rouge_r"),
        when(col("cand_n") + col("ref_n") > 0,
          expr("match_n * 2000 div (cand_n + ref_n)")).as("rouge_f"))
  }

  /**
   * Token–label mutual information — the label-leakage detector: for
   * every vocabulary token, the MI (in integer micro-nats) between the
   * token's per-document presence indicator and a document label
   * column. Tokens whose presence pins the label (a language marker
   * leaking into "topic" labels, a template string leaking the source)
   * float to the top; a feature-selection / leakage audit in one query.
   *
   *   MI(t) = Σ_{a∈{1,0}, l}  p(a,l) · ln( p(a,l) / (p(a)·p(l)) )
   *
   * with cells from exact document counts: present cell c₁ₗ = docs with
   * token t and label l, absent cell c₀ₗ = n_l − c₁ₗ. Each nonzero
   * cell's contribution is rounded ONCE to micro-nats (the [[psiReport]]
   * discipline) and the per-term sum of those longs is exact, so any
   * engine replays the total bit-for-bit; empty cells contribute 0 by
   * the x·ln x → 0 limit.
   *
   * Scale shape: one distinct over (doc, token) then ONE (token, label)
   * groupBy — fact rows shuffle once, map-side combined. The dense
   * term × label grid is the [[graft.pipeline.Curation]] t-closeness
   * shape: a crossJoin of the vocabulary-sized margin table with the
   * BROADCAST label margin table (labels are metadata-sized), linear in
   * the vocabulary. Global top-k is TakeOrdered (k-row heap per
   * partition, no full sort); rank is a window over the k survivors.
   *
   * Returns (term, n_docs_with, mi_unats, rank), rank 1..k by
   * (mi desc, term).
   */
  def tokenLabelMI(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val pres = df.select(col(idCol).as("__id"), col(labelCol).as("__l"),
      explode(split(col(textCol), " ")).as("__t"))
      .where(col("__t") =!= "").distinct()
    val cells = pres.groupBy("__t", "__l").agg(count(lit(1)).as("__c1"))
    val termMargin = cells.groupBy("__t").agg(sum("__c1").as("__nt"))
    val labelMargin = df.groupBy(col(labelCol).as("__l"))
      .agg(count(lit(1)).as("__nl"))
    val total = df.agg(count(lit(1)).as("__n"))
    // dense grid: every (term, label), absent labels get a 0 present
    // cell (their ABSENT cell still carries mass — it cannot be skipped)
    val grid = termMargin.crossJoin(broadcast(labelMargin))
      .join(cells, Seq("__t", "__l"), "left").na.fill(0L, Seq("__c1"))
      .crossJoin(broadcast(total))
    // one rounded micro-nat contribution per nonzero cell; the double
    // expression is left-associated identically in the DuckDB oracle
    def contrib(c: Column, rowMargin: Column): Column =
      when(c === 0L, 0L).otherwise(round(lit(1e6) *
        (c.cast("double") / col("__n")) *
        log(c.cast("double") * col("__n") /
          (rowMargin.cast("double") * col("__nl")))).cast("long"))
    val perCell = grid.select(col("__t"), col("__nt"),
      (contrib(col("__c1"), col("__nt")) +
        contrib(col("__nl") - col("__c1"), col("__n") - col("__nt")))
        .as("__mi"))
    val top = perCell.groupBy("__t", "__nt")
      .agg(sum("__mi").as("mi_unats"))
      .orderBy(col("mi_unats").desc, col("__t")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("mi_unats").desc, col("__t"))
    top.withColumn("rank", row_number().over(w).cast("int"))
      .select(col("__t").as("term"), col("__nt").as("n_docs_with"),
        col("mi_unats"), col("rank"))
  }

  /**
   * Token-distribution KL divergence between two corpus slices — the
   * "what changed in the mixture" report: for every token in the UNION
   * vocabulary, the add-one-smoothed KL(P‖Q) contribution
   *
   *   kl_t = p_t · ln(p_t / q_t),
   *   p_t = (c_P(t)+1)/(N_P+V),  q_t = (c_Q(t)+1)/(N_Q+V)
   *
   * in integer micro-nats (per-term round-once, the [[psiReport]]
   * discipline — any engine replays each long exactly). The top-k by
   * contribution are the tokens most over-represented in P relative to
   * Q — the drill-down PSI/[[ksStatistic]] can't give because they see
   * only a scalar metric, not the vocabulary.
   *
   * Scale shape: one token-count groupBy per side (map-side combined),
   * ONE full-outer equi-join on the term, and a broadcast one-row
   * totals crossJoin (N_P, N_Q, V). Global top-k is TakeOrdered; rank
   * is a window over the k survivors only.
   *
   * Returns (term, p_cnt, q_cnt, kl_unats, rank), rank 1..k by
   * (kl desc, term).
   */
  def tokenKL(p: DataFrame, q: DataFrame, textCol: String,
      k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def counts(df: DataFrame, name: String): DataFrame =
      df.select(explode(split(col(textCol), " ")).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as(name))
    val cp = counts(p, "p_cnt")
    val cq = counts(q, "q_cnt")
    val joined = cp.join(cq, Seq("term"), "full_outer")
      .na.fill(0L, Seq("p_cnt", "q_cnt"))
    val totals = joined.agg(sum("p_cnt").as("__np"), sum("q_cnt").as("__nq"),
      count(lit(1)).as("__v"))
    val contrib = round(lit(1e6) *
      ((col("p_cnt") + lit(1.0)) / (col("__np") + col("__v"))) *
      log(((col("p_cnt") + lit(1.0)) / (col("__np") + col("__v"))) /
        ((col("q_cnt") + lit(1.0)) / (col("__nq") + col("__v")))))
      .cast("long")
    val top = joined.crossJoin(broadcast(totals))
      .select(col("term"), col("p_cnt"), col("q_cnt"),
        contrib.as("kl_unats"))
      .orderBy(col("kl_unats").desc, col("term")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("kl_unats").desc, col("term"))
    top.withColumn("rank", row_number().over(w).cast("int"))
  }

  /**
   * Jensen–Shannon divergence between the token distributions of two
   * corpus slices — the SYMMETRIC, bounded (≤ ln 2) companion of
   * [[tokenKL]] for mixture-distance dashboards (Lin '91): with the
   * same add-one smoothing over the union vocabulary,
   *
   *   jsd = Σ_t round-once( 10⁶ · (½·p·ln(p/m) + ½·q·ln(q/m)) ),
   *   m = (p+q)/2
   *
   * one rounded micro-nat long per term, summed exactly — engine-
   * replayable like every log-family statistic here. Symmetry and the
   * ln 2 bound make it the number to TREND (KL explodes when a token
   * vanishes from one side; JSD never does).
   *
   * Scale shape: identical to [[tokenKL]] — one token-count groupBy
   * per side, one full-outer term join, a broadcast one-row totals
   * crossJoin, then ONE map-side-combinable sum.
   *
   * Returns one row: (n_terms, jsd_unats).
   */
  def tokenJSD(p: DataFrame, q: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame, name: String): DataFrame =
      df.select(explode(split(col(textCol), " ")).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as(name))
    val joined = counts(p, "p_cnt").join(counts(q, "q_cnt"),
        Seq("term"), "full_outer")
      .na.fill(0L, Seq("p_cnt", "q_cnt"))
    val totals = joined.agg(sum("p_cnt").as("__np"), sum("q_cnt").as("__nq"),
      count(lit(1)).as("__v"))
    val pp = (col("p_cnt") + lit(1.0)) / (col("__np") + col("__v"))
    val qq = (col("q_cnt") + lit(1.0)) / (col("__nq") + col("__v"))
    val m = (pp + qq) / lit(2.0)
    val contrib = round(lit(1e6) *
      (lit(0.5) * pp * log(pp / m) + lit(0.5) * qq * log(qq / m)))
      .cast("long")
    joined.crossJoin(broadcast(totals))
      .agg(count(lit(1)).as("n_terms"), sum(contrib).as("jsd_unats"))
  }

  /**
   * Simpson's-paradox screen over a stratified 2×2 association — the
   * A/B sanity check [[chiSquare2x2]] significance can't give: a pooled
   * effect direction that REVERSES inside every stratum is a
   * confounded readout, not a finding (Simpson '51; the canonical
   * Berkeley-admissions failure). Per stratum, the four counts and the
   * risk-difference sign compared RATIONALLY —
   *
   *   sign(a·(c+d) − c·(a+b))   (a/(a+b) vs c/(c+d), divisions cleared)
   *
   * — so everything is exact 64-bit integer math; the pooled row
   * computes the same sign over the summed counts and every stratum is
   * flagged when its direction contradicts the pooled one.
   *
   * Scale shape: ONE (stratum) groupBy with four conditional counts
   * (map-side combined, stratum-bounded output), a one-row pooled
   * aggregate over the stratum table (metadata-sized), broadcast back.
   * Fact rows shuffle once.
   *
   * Returns one row per stratum: (stratum, a, b, c, d, stratum_sign,
   * pooled_sign, reverses). Overflow contract: a·(c+d) < 2^63 — counts
   * to ~3e9 per stratum cell.
   */
  def simpsonReversals(df: DataFrame, stratumCol: String,
      groupCol: String, successCol: String): DataFrame = {
    val g = col(groupCol).cast("boolean")
    val s = col(successCol).cast("boolean")
    val strata = df.groupBy(col(stratumCol).as("stratum")).agg(
      count(when(g && s, 1)).as("a"),
      count(when(g && !s, 1)).as("b"),
      count(when(!g && s, 1)).as("c"),
      count(when(!g && !s, 1)).as("d"))
    def sig(a: Column, b: Column, c: Column, d: Column): Column =
      signum(a * (c + d) - c * (a + b)).cast("int")
    val pooled = strata.agg(sum("a").as("__pa"), sum("b").as("__pb"),
      sum("c").as("__pc"), sum("d").as("__pd"))
    strata.crossJoin(broadcast(pooled))
      .select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
        sig(col("a"), col("b"), col("c"), col("d")).as("stratum_sign"),
        sig(col("__pa"), col("__pb"), col("__pc"), col("__pd"))
          .as("pooled_sign"))
      .withColumn("reverses",
        col("stratum_sign") * col("pooled_sign") === -1)
  }

  /**
   * Gini concentration of a corpus over a grouping key — the
   * one-number "is the mixture dominated by a few domains/sources"
   * audit (Lorenz-curve area, Gini '12; the standard concentration
   * statistic). Over per-key counts c₁ ≤ … ≤ c_n (ties broken by key —
   * both engines sort identically):
   *
   *   gini_ppm = (2·Σ i·cᵢ − (n+1)·Σ cᵢ) · 10⁶ div (n · Σ cᵢ)
   *
   * — exact integers end to end (truncating div). 0 = perfectly even,
   * → 1 000 000 as one key takes everything.
   *
   * Scale shape: ONE keyed groupBy reduces the corpus to the key-
   * bounded count table; the rank window and the two one-row sums run
   * over THAT table only (keys are bounded — domains/sources/langs,
   * not documents). The Lorenz moments run in DECIMAL(38,0) — the
   * ×10⁶-scaled numerator reaches n·Σc·10⁶, which overflows a long a
   * million times below the key-count×row-count frontier; decimals
   * hold to n·Σc < 10³², matching the HUGEINT oracle. Overflow
   * contract: n·Σc < 10³² — e.g. a billion keys over a sextillion
   * rows.
   *
   * Returns one row: (n_keys, total, gini_ppm).
   */
  def giniConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__c"), col("__k"))
    counts.withColumn("__i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_keys"), sum("__c").as("total"),
        sum(col("__i").cast("decimal(38,0)") * col("__c")).as("__ic"))
      .select(col("n_keys"), col("total"),
        expr("(2 * __ic - (cast(n_keys as decimal(38,0)) + 1) * total)" +
          " * 1000000 div (cast(n_keys as decimal(38,0)) * total)")
          .as("gini_ppm"))
  }

  /**
   * Cochran–Mantel–Haenszel pooled 2×2 test across strata — the
   * statistically-sound companion to [[simpsonReversals]]: where the
   * Simpson screen flags per-stratum direction conflicts, CMH answers
   * "is there a common association after CONTROLLING for the stratum"
   * (Mantel & Haenszel '59; uncorrected statistic):
   *
   *   χ²_CMH = (Σᵢ aᵢ − Eᵢ)² / Σᵢ Vᵢ,
   *   Eᵢ = (aᵢ+bᵢ)(aᵢ+cᵢ)/nᵢ,
   *   Vᵢ = (aᵢ+bᵢ)(cᵢ+dᵢ)(aᵢ+cᵢ)(bᵢ+dᵢ)/(nᵢ²(nᵢ−1))
   *
   * Per-stratum Eᵢ/Vᵢ contributions are rounded ONCE to micro-points
   * (the [[psiReport]] discipline — margin products go through doubles,
   * so no 64-bit overflow at 3e9-row cells) and their long sums are
   * exact; the final χ² is one double division. Strata with nᵢ < 2
   * (V undefined) contribute nothing, documented; all-degenerate input
   * yields NULL. significant_95 gates on the χ²(1) 5% critical value.
   *
   * Scale shape: ONE stratum groupBy with four conditional counts
   * (map-side combined), then a one-row aggregate over the
   * metadata-sized stratum table. Fact rows shuffle once.
   *
   * Returns one row: (n_strata, num_micro, den_micro, chi2_micro,
   * significant_95).
   */
  def cmhTest(df: DataFrame, stratumCol: String, groupCol: String,
      successCol: String): DataFrame = {
    val g = col(groupCol).cast("boolean")
    val s = col(successCol).cast("boolean")
    val strata = df.groupBy(col(stratumCol).as("__st")).agg(
      count(when(g && s, 1)).as("a"),
      count(when(g && !s, 1)).as("b"),
      count(when(!g && s, 1)).as("c"),
      count(when(!g && !s, 1)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    val numI = when(col("n") < 2, 0L).otherwise(round(lit(1e6) *
      (col("a") - (col("a") + col("b")).cast("double") *
        (col("a") + col("c")) / col("n"))).cast("long"))
    val denI = when(col("n") < 2, 0L).otherwise(round(lit(1e6) *
      ((col("a") + col("b")).cast("double") * (col("c") + col("d")) *
        (col("a") + col("c")) * (col("b") + col("d"))) /
      (col("n").cast("double") * col("n") * (col("n") - lit(1)))).cast("long"))
    strata.agg(count(lit(1)).as("n_strata"),
        sum(numI).as("num_micro"), sum(denI).as("den_micro"))
      .select(col("n_strata"), col("num_micro"), col("den_micro"),
        when(col("den_micro") === 0L, lit(null).cast("long"))
          .otherwise(round(col("num_micro").cast("double") *
            col("num_micro") / col("den_micro")).cast("long"))
          .as("chi2_micro"))
      .withColumn("significant_95",
        when(col("chi2_micro").isNull, lit(null).cast("boolean"))
          .otherwise(col("chi2_micro") > 3841459L))
  }

  /**
   * Effective sample size of an importance-weighted corpus — the
   * one-number "did my reweighting destroy the sample" audit that
   * belongs next to every [[graft.pipeline.Training]] DSIR-style
   * resampling (Kong '92):
   *
   *   ESS = (Σw)² / Σw²,   ess_milli = round(1000 · sw·sw/sw2)
   *
   * Σw and Σw² are exact longs from pre-scaled integral weights; the
   * final ratio is one round-once double expression (identical on any
   * engine). ESS ≈ n means weights are flat; ESS ≪ n means a few rows
   * dominate and the reweighted estimate is noise. NULL when all
   * weights are 0.
   *
   * Scale shape: ONE map-side-combinable aggregate — three longs
   * shuffle per partition. Overflow contract: Σw² < 2^63 (milli-scaled
   * weights to 10⁶ rows; pre-scale coarser beyond).
   */
  def effectiveSampleSize(df: DataFrame, weightCol: String): DataFrame = {
    val w = col(weightCol).cast("long")
    df.agg(count(lit(1)).as("n"), sum(w).as("sum_w"),
        sum(w * w).as("sum_w2"))
      .select(col("n"), col("sum_w"), col("sum_w2"),
        when(col("sum_w2") === 0L, lit(null).cast("long"))
          .otherwise(round(lit(1000.0) * (col("sum_w").cast("double") *
            col("sum_w") / col("sum_w2"))).cast("long")).as("ess_milli"))
  }

  /** The integer DOUBLE mid-rank of each distinct value `__v` within
    * its `keys` group, from the per-value row count column `cnt`:
    * 2·cum_before(v) + cnt(v) + 1 (= 2 · mid-rank), so ties never touch
    * floats. One cumulative window over the distinct values. */
  private def doubleRank(keys: Seq[String], cnt: String): Column = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(keys.map(col): _*).orderBy(col("__v"))
      .rowsBetween(W.unboundedPreceding, -1)
    lit(2L) * coalesce(sum(cnt).over(w), lit(0L)) + col(cnt) + lit(1L)
  }

  /** The per-key distinct-value histogram that [[mannWhitneyU]] and
    * [[rocAuc]] rank: `__c` rows and `__ca` group-A rows (`groupCol`
    * true) per value `__v`, with the value's pooled [[doubleRank]]
    * `__dr`. NULL value/group rows are excluded. */
  private def rankHistogram(df: DataFrame, keys: Seq[String],
      groupCol: String, valueCol: String): DataFrame =
    df.where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v") :+
        col(groupCol).cast("boolean").as("__g"): _*)
      .groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"), count(when(col("__g"), 1)).as("__ca"))
      .withColumn("__dr", doubleRank(keys, "__c"))

  /**
   * Spearman rank correlation between two integral metrics — the
   * monotone-association audit ("does quality score track length?")
   * that Pearson gets wrong on heavy-tailed corpus metrics. Ranks use
   * the standard mid-rank tie treatment, materialized as integer
   * DOUBLE-RANKS so ties never touch floats:
   *
   *   dr(v) = 2·cum_before(v) + cnt(v) + 1       (= 2 · mid-rank)
   *   rho   = (n·Σxy − Σx·Σy) / √(n·Σx²−(Σx)²) / √(n·Σy²−(Σy)²)
   *
   * over the double-ranks; all six moments are exact DECIMAL(38,0)
   * integers (the n·Σxy-class products reach ~4n⁴ — longs overflow at
   * n ≈ 39k; decimals hold to n ≈ 10⁹) and rho is ONE round-once micro
   * expression over their correctly-rounded double casts —
   * engine-replayable against HUGEINT oracles. NULL when either metric
   * is constant (rho undefined). Rows with a NULL in either metric are
   * excluded by contract (pairwise-complete — the ksStatistic NULL
   * rule; a NULL has no rank and NULL window ordering is
   * engine-ambiguous).
   *
   * Scale shape: one distinct-value histogram + cumulative window per
   * metric (distinct values, never a row sort — the [[psiReport]]
   * discipline), two equi-joins hand each row its double-ranks, ONE
   * moment aggregate. Overflow contract: 4n⁴ < 10³⁸ — n to ~10⁹ rows;
   * sample first beyond (rho is an audit statistic).
   *
   * Returns one row: (n, rho_micro).
   */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val complete = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
    def ranks(c: String, out: String): DataFrame =
      complete.select(col(c).cast("long").as("__v"))
        .groupBy("__v").agg(count(lit(1)).as("__c"))
        .select(col("__v").as(s"__$out"), doubleRank(Nil, "__c").as(out))
    val joined = complete.select(col(xCol).cast("long").as("__xv"),
        col(yCol).cast("long").as("__yv"))
      .join(ranks(xCol, "drx"), col("__xv") === col("__drx"))
      .join(ranks(yCol, "dry"), col("__yv") === col("__dry"))
    val dx = col("drx").cast("decimal(38,0)")
    val dy = col("dry").cast("decimal(38,0)")
    joined.agg(count(lit(1)).as("n"),
        sum(dx).as("__sx"), sum(dy).as("__sy"),
        sum(dx * dy).as("__sxy"),
        sum(dx * dx).as("__sxx"),
        sum(dy * dy).as("__syy"))
      .select(col("n"),
        when(col("n") * col("__sxx") - col("__sx") * col("__sx") === 0L ||
            col("n") * col("__syy") - col("__sy") * col("__sy") === 0L,
          lit(null).cast("long"))
          .otherwise(round(lit(1e6) *
            (col("n").cast("double") * col("__sxy") -
              col("__sx").cast("double") * col("__sy")) /
            sqrt((col("n") * col("__sxx") - col("__sx") * col("__sx"))
              .cast("double")) /
            sqrt((col("n") * col("__syy") - col("__sy") * col("__sy"))
              .cast("double"))).cast("long")).as("rho_micro"))
  }

  /**
   * Mann–Whitney U rank-sum test per key — the distribution-free
   * two-sample location test (Mann & Whitney '47): "is the metric
   * stochastically larger under treatment?" where the t-test's
   * normality assumption fails on heavy-tailed corpus metrics. Pooled
   * mid-ranks use [[spearmanCorr]]'s integer DOUBLE-RANK construction
   * (dr(v) = 2·cum_before + cnt + 1 = 2·mid-rank), so ties never touch
   * floats:
   *
   *   2·U_A = Σ_A dr − n_A(n_A+1)            (exact long, returned)
   *   z     = (2U_A − n_A·n_B) · √(3n(n−1)) / √(n_A·n_B·(n³−n−T))
   *
   * with T = Σ(t³−t) the standard tie correction — every moment is an
   * exact DECIMAL(38,0) integer and z is ONE round-once micro
   * expression over their correctly-rounded double casts (the
   * [[spearmanCorr]] discipline; the HUGEINT oracle replays the same
   * factoring). z is NULL when a key lacks both groups or all its
   * values tie (the statistic is undefined). NULL metric/group rows
   * are excluded by contract (pairwise-complete).
   *
   * Scale shape: one per-key distinct-VALUE histogram + cumulative
   * window (partitioned by key, ordered by value — distinct values,
   * never a row sort: the [[psiReport]] discipline), then ONE
   * map-side-combinable moment rollup per key. Overflow contract:
   * the z denominator is FACTORED — √(n_A·n_B)·√(n³−n−T), each factor
   * an exact DECIMAL(38,0) cast to double separately (the combined
   * product n_A·n_B·(n³−n−T) ~ n⁵/4 would overflow 38 digits at
   * ~5·10⁷ rows/key) — so the binding bound is n³ < 10³⁸ ⇒ n to
   * ~10¹² rows/key, and an overflow NULL can never masquerade as the
   * "statistic undefined" NULL below that bound.
   *
   * Returns keys + (n_a, n_b, u2_a, z_micro); group = true is "A".
   */
  def mannWhitneyU(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val m = rankHistogram(df, keys, groupCol, valueCol)
      .groupBy(keys.map(col): _*)
      .agg(sum("__c").cast(dec).as("__n"), sum("__ca").cast(dec).as("__na"),
        sum(col("__ca").cast(dec) * col("__dr")).as("__r2a"),
        sum(col("__c").cast(dec) * col("__c") * col("__c") - col("__c"))
          .as("__t"))
    val n = col("__n"); val na = col("__na"); val nb = col("__n") - col("__na")
    val u2a = col("__r2a") - na * (na + lit(1L))
    // factored denominator: each factor fits DECIMAL(38,0) to n ~ 1e12
    val d1 = na * nb
    val d2 = n * n * n - n - col("__t")
    m.select((keys.map(col) :+
      na.cast("long").as("n_a") :+ nb.cast("long").as("n_b") :+
      u2a.cast("long").as("u2_a") :+
      when(na === 0L || nb === 0L || d2 === 0L, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * (u2a - na * nb).cast("double") *
          sqrt((lit(3L).cast(dec) * n * (n - lit(1L))).cast("double")) /
          sqrt(d1.cast("double")) / sqrt(d2.cast("double")))
          .cast("long")).as("z_micro")): _*)
  }

  /**
   * Benjamini–Hochberg FDR control over a per-test p-value table —
   * the multiple-testing gate that makes a thousand-experiment scan
   * honest (Benjamini & Hochberg '95): sort the m p-values ascending,
   * find k* = max{k : p₍ₖ₎·m ≤ k·q}, reject tests ranked ≤ k*. With
   * p in exact micro units the threshold compare `p_micro·m ≤ k·q_micro`
   * is pure long arithmetic (≤ 10¹² at m ≤ 10⁶ tests) — zero floats,
   * bit-replayable by any engine. Ranks are row_number over
   * (p, tie-break keys), and tied p-values decide identically by
   * construction: if rank k passes, every tied row's larger rank r
   * also satisfies p·m ≤ k·q ≤ r·q, so ties never straddle k*.
   *
   * Scale contract: the input is the PER-TEST table (one row per
   * experiment/hypothesis — metadata-sized, ≤ ~10⁶ rows; the
   * corpus-sized work happened upstream producing the p's), so the
   * single-partition rank window and the one-row k* broadcast are
   * bounded by construction — the [[isotonicCalibrate]] driver-table
   * discipline, kept distributed anyway. The contract is ENFORCED:
   * a `maxTests` count guard (the [[kendallTau]] raise_error
   * discipline) fails the job loudly if a corpus-sized table is fed
   * through the single-partition rank window; raise the cap
   * deliberately if your experiment registry is genuinely bigger.
   *
   * Returns keyCols + (p_micro, rank, m_tests, k_star, reject).
   */
  def bhFdr(df: DataFrame, keyCols: Seq[String], pMicroCol: String,
      qMicro: Long = 50000L, maxTests: Long = 1000000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols required")
    require(qMicro >= 1L && qMicro <= 1000000L,
      s"qMicro must be in [1, 1000000], got $qMicro")
    require(maxTests >= 1L, s"maxTests must be >= 1, got $maxTests")
    val W = org.apache.spark.sql.expressions.Window
    val ordered = W.orderBy(col("p_micro") +: keyCols.map(col): _*)
    val ranked = df
      .select(keyCols.map(col) :+ col(pMicroCol).cast("long").as("p_micro"): _*)
      .withColumn("rank", row_number().over(ordered).cast("long"))
    val kstar = ranked
      .withColumn("__m", count(lit(1)).over(W.partitionBy()))
      .withColumn("__m", when(col("__m") <= maxTests, col("__m"))
        .otherwise(raise_error(concat(
          lit("bh_fdr: per-test table has "), col("__m"),
          lit(s" rows, exceeds maxTests=$maxTests; the global rank " +
            "window is single-partition by design over a METADATA-sized " +
            "experiment registry — this looks like a corpus-sized table; " +
            "aggregate upstream or raise the cap deliberately")))))
      .agg(max("__m").as("m_tests"),
        max(when(col("p_micro") * col("__m") <= col("rank") * qMicro,
          col("rank"))).as("k_star"))
    ranked.crossJoin(broadcast(kstar))
      .withColumn("reject",
        col("k_star").isNotNull && col("rank") <= col("k_star"))
      .select(keyCols.map(col) :+ col("p_micro") :+ col("rank") :+
        col("m_tests") :+ col("k_star") :+ col("reject"): _*)
  }

  /**
   * CUPED variance reduction for A/B metrics (Deng, Xu, Kohavi &
   * Walker, WSDM '13) — adjust each variant's metric mean by the
   * pre-period covariate, cutting variance by the squared correlation:
   *
   *   θ        = cov(x,y)/var(x)     (POOLED across variants)
   *   mean'_v  = ȳ_v − θ·(x̄_v − x̄)
   *   var cut  = ρ²(x,y)
   *
   * The whole estimator is moment identities — no per-row adjusted
   * column is ever materialized: ONE map-side-combinable groupBy on
   * (key, variant) collects the six exact DECIMAL(38,0) integer
   * moments, the pooled moments are the variant partials re-summed
   * (experiments × variants rows — metadata), and θ/means/ρ² are
   * round-once micro expressions over correctly-rounded double casts,
   * replayed by the HUGEINT oracle with the same factoring. θ and
   * var_reduction_ppm are NULL when var(x) = 0 (or var(y) = 0 for
   * ρ²), in which case mean_adj falls back to the raw mean. Inputs
   * are integer-quantized by contract (milli-units upstream).
   *
   * Scale shape: corpus scanned ONCE; the shuffle carries
   * (key, variant) moment rows; the pooled join is a broadcast of a
   * metadata-sized table. Overflow contract: n·Σxy < 10³⁸ — |x|,|y| ≤
   * 10⁶ units to ~10¹⁴ rows/key.
   *
   * Returns keys + variant + (n, mean_y_micro, mean_adj_micro,
   * theta_micro, var_reduction_ppm).
   */
  def cuped(df: DataFrame, keys: Seq[String], variantCol: String,
      preCol: String, metricCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val x = col(preCol).cast("long").cast(dec)
    val y = col(metricCol).cast("long").cast(dec)
    val perVariant = df
      .where(col(preCol).isNotNull && col(metricCol).isNotNull)
      .groupBy(keys.map(col) :+ col(variantCol).as("variant"): _*)
      .agg(count(lit(1)).cast(dec).as("__nv"),
        sum(x).as("__sxv"), sum(y).as("__syv"),
        sum(x * x).as("__sxxv"), sum(x * y).as("__sxyv"),
        sum(y * y).as("__syyv"))
    val pooled = perVariant.groupBy(keys.map(col): _*)
      .agg(sum("__nv").as("__n"), sum("__sxv").as("__sx"),
        sum("__syv").as("__sy"), sum("__sxxv").as("__sxx"),
        sum("__sxyv").as("__sxy"), sum("__syyv").as("__syy"))
    val j = perVariant.join(broadcast(pooled), keys)
    val covN = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val varxN = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val varyN = col("__n") * col("__syy") - col("__sy") * col("__sy")
    val theta = covN.cast("double") / varxN.cast("double")
    val meanY = col("__syv").cast("double") / col("__nv").cast("double")
    val dxv = col("__sxv").cast("double") / col("__nv").cast("double") -
      col("__sx").cast("double") / col("__n").cast("double")
    j.select((keys.map(col) :+ col("variant") :+
      col("__nv").cast("long").as("n") :+
      round(lit(1e6) * meanY).cast("long").as("mean_y_micro") :+
      when(varxN === 0L, round(lit(1e6) * meanY))
        .otherwise(round(lit(1e6) * (meanY - theta * dxv)))
        .cast("long").as("mean_adj_micro") :+
      when(varxN === 0L, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * theta).cast("long")).as("theta_micro") :+
      when(varxN === 0L || varyN === 0L, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * covN.cast("double") * covN.cast("double") /
          varxN.cast("double") / varyN.cast("double")).cast("long"))
        .as("var_reduction_ppm")): _*)
  }

  /**
   * Kendall tau-b rank correlation per key — [[spearmanCorr]]'s
   * pair-concordance twin (Kendall '38; tau-b tie correction): the
   * probability-scale "do the two metrics move together" statistic
   * whose O(n²) pair definition collapses to the JOINT DISTINCT-CELL
   * table:
   *
   *   nc = Σ c_a·c_b over cell pairs strictly increasing in BOTH dims
   *   nd = Σ c_a·c_b over cell pairs increasing in x, decreasing in y
   *   τ_b = (nc − nd) / √(n₀−n₁) / √(n₀−n₂)
   *
   * with n₀ = n(n−1)/2 and n₁/n₂ the margin tie terms Σ t(t−1)/2.
   * Every count is an exact DECIMAL(38,0) integer; τ_b is ONE
   * round-once micro expression (the [[spearmanCorr]] factoring,
   * HUGEINT-oracle-replayable). Keys where either metric is constant
   * return NULL τ (undefined).
   *
   * Scale contract: inputs are COARSELY QUANTIZED metrics (the
   * [[psiReport]] discipline — bucket upstream with `div`), so the
   * per-key distinct-cell table is bounded; the cell self-join is D²
   * per key, GUARDED by `maxCellsPerKey` with a fail-loud raise_error
   * riding the aggregated cell table (the [[theilSenSlope]] guard
   * pattern — the corpus itself is never pair-joined). Bucket width
   * is SCALE-SENSITIVE — compute it with [[quantizeStep]] per metric.
   *
   * Returns keys + (n, nc, nd, tau_b_micro).
   */
  def kendallTau(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String, maxCellsPerKey: Int = 4096): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(maxCellsPerKey >= 2 && maxCellsPerKey <= 65536,
      s"maxCellsPerKey must be in [2, 65536], got $maxCellsPerKey")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val cells = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(keys.map(col) :+ col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y"): _*)
      .groupBy(keys.map(col) :+ col("__x") :+ col("__y"): _*)
      .agg(count(lit(1)).as("__c"))
    val wg = W.partitionBy(keys.map(col): _*)
    val guarded = cells
      .withColumn("__ncells", count(lit(1)).over(wg))
      .withColumn("__c", when(col("__ncells") <= maxCellsPerKey, col("__c"))
        .otherwise(raise_error(concat(
          lit("kendall_tau: per-key distinct-cell count "), col("__ncells"),
          lit(s" exceeds maxCellsPerKey=$maxCellsPerKey; the cell " +
            "self-join is O(D^2) per key — quantize the metrics coarser " +
            "(div upstream) or raise the cap deliberately")))))
      .drop("__ncells")
    val a = guarded.select(keys.map(col) :+ col("__x").as("__ax") :+
      col("__y").as("__ay") :+ col("__c").as("__ca"): _*)
    val b = guarded.select(keys.map(col) :+ col("__x").as("__bx") :+
      col("__y").as("__by") :+ col("__c").as("__cb"): _*)
    val cd = a.join(b, keys)
      .where(col("__bx") > col("__ax") && col("__by") =!= col("__ay"))
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("__by") > col("__ay"),
          col("__ca").cast(dec) * col("__cb")).otherwise(lit(0L).cast(dec)))
          .as("__nc"),
        sum(when(col("__by") < col("__ay"),
          col("__ca").cast(dec) * col("__cb")).otherwise(lit(0L).cast(dec)))
          .as("__nd"))
    // doubled tie terms (n0x2 = n(n−1), n1x2 = Σ t(t−1)) keep every
    // intermediate an INTEGER — no /2 anywhere; the 2 surfaces once in
    // the final literal: τ = 2e6·(nc−nd)/√(n0x2−n1x2)/√(n0x2−n2x2)
    val tot = guarded.groupBy(keys.map(col): _*)
      .agg(sum("__c").cast(dec).as("__n"))
    val n1 = guarded.groupBy(keys.map(col) :+ col("__x"): _*)
      .agg(sum("__c").cast(dec).as("__tx"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__tx") * (col("__tx") - lit(1L))).cast(dec).as("__n1x2"))
    val n2 = guarded.groupBy(keys.map(col) :+ col("__y"): _*)
      .agg(sum("__c").cast(dec).as("__ty"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__ty") * (col("__ty") - lit(1L))).cast(dec).as("__n2x2"))
    val n0x2 = col("__n") * (col("__n") - lit(1L))
    tot.join(n1, keys).join(n2, keys).join(cd, keys, "left")
      .select((keys.map(col) :+ col("__n").cast("long").as("n") :+
        coalesce(col("__nc"), lit(0L).cast(dec)).cast("long").as("nc") :+
        coalesce(col("__nd"), lit(0L).cast(dec)).cast("long").as("nd") :+
        when(n0x2 - col("__n1x2") === 0L || n0x2 - col("__n2x2") === 0L,
          lit(null).cast("long"))
          .otherwise(round(lit(2e6) *
            (coalesce(col("__nc"), lit(0L).cast(dec)) -
              coalesce(col("__nd"), lit(0L).cast(dec))).cast("double") /
            sqrt((n0x2 - col("__n1x2")).cast("double")) /
            sqrt((n0x2 - col("__n2x2")).cast("double"))).cast("long"))
          .as("tau_b_micro")): _*)
  }

  /**
   * Kaplan–Meier product-limit survival per key (Kaplan & Meier '58) —
   * the right-censoring-aware retention curve: "what fraction of the
   * cohort survives past t" when some subjects are still alive
   * (censored) at observation end, where a naive rate understates
   * survival. Survival is returned in LOG space as exact long sums of
   * per-time rounded micro-nat terms (the [[sprt]] constant
   * discipline, but per-distinct-time instead of plan-time):
   *
   *   n_risk(t) = #{duration ≥ t}        (a DESC cumulative window)
   *   term(t)   = round(1e6·ln((n_risk−d)/n_risk))
   *   km_log_unats(t) = Σ_{u ≤ t} term(u)   ⇒ S(t) = exp(km/1e6)
   *
   * so downstream exp is the CALLER's one rounding decision, and the
   * DuckDB oracle replays every term and sum bit-for-bit (ln of the
   * same double quotient — the [[graft.pipeline.NGramLM.knScore]]
   * parity precedent). When every at-risk subject dies at t
   * (d = n_risk — necessarily the key's last time point), survival is
   * exactly 0 and km_log_unats is NULL (log undefined).
   *
   * Scale shape: one groupBy to the per-(key, distinct-time) table,
   * two key-partitioned windows over it (distinct times, never
   * subject rows), zero joins.
   *
   * Returns keys + (t, n_risk, d_events, c_censored, km_log_unats)
   * — one row per observed distinct duration.
   */
  def kaplanMeier(df: DataFrame, keys: Seq[String], durationCol: String,
      eventCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val perT = df
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .select(keys.map(col) :+ col(durationCol).cast("long").as("t") :+
        col(eventCol).cast("boolean").as("__e"): _*)
      .groupBy(keys.map(col) :+ col("t"): _*)
      .agg(count(lit(1)).as("__n"), count(when(col("__e"), 1)).as("d_events"))
    val wDesc = W.partitionBy(keys.map(col): _*).orderBy(col("t").desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val wAsc = W.partitionBy(keys.map(col): _*).orderBy(col("t"))
      .rowsBetween(W.unboundedPreceding, 0)
    perT
      .withColumn("n_risk", sum("__n").over(wDesc))
      .withColumn("__term",
        when(col("d_events") === col("n_risk"), lit(0L))
          .otherwise(round(lit(1e6) * log(
            (col("n_risk") - col("d_events")).cast("double") /
              col("n_risk").cast("double"))).cast("long")))
      .withColumn("km_log_unats",
        when(col("d_events") === col("n_risk"), lit(null).cast("long"))
          .otherwise(sum("__term").over(wAsc)))
      .select(keys.map(col) :+ col("t") :+ col("n_risk") :+
        col("d_events") :+ (col("__n") - col("d_events")).as("c_censored") :+
        col("km_log_unats"): _*)
  }

  /**
   * Log-rank (Mantel–Cox) test per key — [[kaplanMeier]]'s hypothesis
   * test: "do cohorts A and B have the SAME survival curve", the
   * censoring-aware replacement for comparing raw churn rates. At each
   * distinct event time t with d deaths out of n at risk (n_A in A):
   *
   *   O_A−E_A = d_A − d·n_A/n
   *   V       = d·(n_A/n)·(1−n_A/n)·(n−d)/(n−1)
   *   z       = Σ(O_A−E_A) / √(ΣV)
   *
   * The hypergeometric moments are rationals with per-time
   * denominators, so each time's numerator term and variance term are
   * rounded ONCE to micro units (the [[kaplanMeier]] per-term
   * discipline: both factors exact-integer first, one double division
   * point each, engine-replayable) and the key's z is one final
   * division over their exact long sums. z is NULL when a key never
   * has both groups at risk together (ΣV = 0). Events with d = n and
   * n = 1 contribute V = 0 (the n−1 guard).
   *
   * Scale shape: one groupBy to the per-(key, distinct-time, counts)
   * table, one DESC cumulative window pair for the risk sets, one
   * rollup — distinct times, never subject rows, zero joins.
   *
   * Returns keys + (n_times, oe_sum_micro, var_sum_micro, z_micro).
   */
  def logRank(df: DataFrame, keys: Seq[String], groupCol: String,
      durationCol: String, eventCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val perT = df
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(durationCol).cast("long").as("__t") :+
        col(eventCol).cast("boolean").as("__e") :+
        col(groupCol).cast("boolean").as("__g"): _*)
      .groupBy(keys.map(col) :+ col("__t"): _*)
      .agg(count(lit(1)).as("__m"),
        count(when(col("__g"), 1)).as("__ma"),
        count(when(col("__e"), 1)).as("__d"),
        count(when(col("__e") && col("__g"), 1)).as("__da"))
    val wDesc = W.partitionBy(keys.map(col): _*).orderBy(col("__t").desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val risky = perT
      .withColumn("__n", sum("__m").over(wDesc))
      .withColumn("__na", sum("__ma").over(wDesc))
      .where(col("__d") > 0L)
    // per-time rounded micro terms: exact DECIMAL(38,0) numerators
    // (the d·n_A·(n−n_A)·(n−d) product reaches n⁴ — longs die at
    // n ≈ 55k), one double division point each (denominators n and
    // n²(n−1) respectively)
    val dec = "decimal(38,0)"
    def D(c: Column): Column = c.cast(dec)
    val oeT = round(lit(1e6) *
      (D(col("__da")) * col("__n") - D(col("__d")) * col("__na"))
        .cast("double") / col("__n").cast("double")).cast("long")
    val vT = when(col("__n") === 1L, lit(0L))
      .otherwise(round(lit(1e6) *
        (D(col("__d")) * col("__na") * (col("__n") - col("__na")) *
          (col("__n") - col("__d"))).cast("double") /
        (D(col("__n")) * col("__n") * (col("__n") - lit(1L))).cast("double"))
        .cast("long"))
    // z_micro = 1e6·(Σoe/1e6)/√(Σv/1e6) = 1e3·Σoe/√Σv — one division
    risky
      .withColumn("__oe", oeT).withColumn("__v", vT)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_times"),
        sum("__oe").as("oe_sum_micro"), sum("__v").as("var_sum_micro"))
      .withColumn("z_micro",
        when(col("var_sum_micro") <= 0L, lit(null).cast("long"))
          .otherwise(round(lit(1e3) * col("oe_sum_micro").cast("double") /
            sqrt(col("var_sum_micro").cast("double"))).cast("long")))
  }

  /**
   * Distribution distance triple — the drift-family completion next to
   * [[psiReport]]/[[ksStatistic]]/[[tokenJSD]]: ONE pass over the two
   * sides' distinct-value histograms yields the three statistics the
   * single-number KS gap cannot express:
   *
   *   W₁  (Wasserstein-1 / earth-mover) = Σᵢ |F_a−F_b|(vᵢ)·(vᵢ₊₁−vᵢ)
   *        — drift WITH MAGNITUDE in value units ("the distribution
   *        moved ~34 ms right"), where KS only says how far CDFs split;
   *   TV  (total variation) = ½·Σᵢ |p_a−p_b|(vᵢ) — the FRACTION of
   *        probability mass that must move, shape-blind;
   *   CvM (Cramér–von Mises, pooled-weight form) =
   *        Σᵢ (F_a−F_b)²(vᵢ)·(cₐᵢ+c_bᵢ)/N — the whole-curve squared
   *        gap that catches many-small-deviations drift a max-gap
   *        statistic misses.
   *
   * Exactness: CDF gaps are cross-multiplied counts
   * (|cumₐ·n_b − cum_b·nₐ|, DECIMAL(38,0) — no divisions until the
   * end), W₁ and TV finish with ONE integer `div` each; CvM's squared
   * gap is irrational in counts, so each value's contribution is
   * rounded ONCE to nano units (the [[tokenJSD]]/[[kaplanMeier]]
   * per-term discipline: identical double quotient → identical term on
   * any engine) and summed exactly. NULL metric values are excluded
   * from both sides by contract (the [[ksStatistic]] rule). Inputs are
   * integral by contract (pre-scale upstream).
   *
   * Scale shape: identical to [[ksStatistic]] — one groupBy per side
   * to the distinct-value histograms, one full-outer equi-join, one
   * cumulative window over DISTINCT values (never rows), a one-row
   * broadcast of the side totals. Overflow contract:
   * Σ gap·width < 10³⁸ ⇒ nₐ·n_b·range < 10³⁸. Bin-width choice is
   * SCALE-SENSITIVE — compute it with [[quantizeStep]].
   *
   * Returns one row: (n_ref, n_cur, w1_micro, tv_ppm, cvm_micro).
   */
  def distributionDistance(ref: DataFrame, cur: DataFrame,
      valueCol: String, maxDistinct: Int = 65536): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val va = ref.select(col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__ca"))
    val vb = cur.select(col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as("__cb"))
    val w = W.orderBy("__v")
    val joined = capPooledDistinct(
      va.join(vb, Seq("__v"), "full_outer")
        .na.fill(0L, Seq("__ca", "__cb")),
      "distribution_distance", maxDistinct)
      .withColumn("__cuma", sum("__ca").over(w))
      .withColumn("__cumb", sum("__cb").over(w))
      .withColumn("__width",
        coalesce(lead("__v", 1).over(w) - col("__v"), lit(0L)))
    val na = col("__na").cast(dec); val nb = col("__nb").cast(dec)
    val gap = abs(col("__cuma").cast(dec) * col("__nb") -
      col("__cumb").cast(dec) * col("__na"))
    val pgap = abs(col("__ca").cast(dec) * col("__nb") -
      col("__cb").cast(dec) * col("__na"))
    val gapD = gap.cast("double") / (na * nb).cast("double")
    val cvmNano = round(lit(1e9) * gapD * gapD *
      (col("__ca") + col("__cb")).cast("double")).cast("long")
    joined
      .crossJoin(broadcast(joined.agg(sum("__ca").as("__na"),
        sum("__cb").as("__nb"))))
      .agg(max(col("__na")).as("n_ref"), max(col("__nb")).as("n_cur"),
        sum(gap * col("__width")).as("__w1num"),
        sum(pgap).as("__tvnum"),
        sum(cvmNano.cast(dec)).as("__cvmnano"))
      .select(col("n_ref"), col("n_cur"),
        expr("cast(__w1num * 1000000 div " +
          "(cast(n_ref as decimal(38,0)) * n_cur) as long)").as("w1_micro"),
        expr("cast(__tvnum * 500000 div " +
          "(cast(n_ref as decimal(38,0)) * n_cur) as long)").as("tv_ppm"),
        expr("cast(__cvmnano div (1000 * " +
          "(cast(n_ref as decimal(38,0)) + n_cur)) as long)").as("cvm_micro"))
  }

  /**
   * Token dispersion (Gries' DP, '08) — the corpus-linguistics audit
   * "is this token spread across the corpus or concentrated in a few
   * sources": for each token, the total-variation distance between its
   * occurrence distribution over parts and the parts' size shares,
   *
   *   DP(t) = ½ · Σ_p | c_tp/f_t − n_p/N |   ∈ [0, 1)
   *
   * 0 = perfectly proportional everywhere (function words), →1 =
   * concentrated in one vanishing part (boilerplate, templates, source
   * tags — the contamination/template screen TF-IDF misses because it
   * ignores WHERE the mass sits). Exact integers: the inner term is
   * |c_tp·N − n_p·f_t| (DECIMAL(38,0) cross-products), one floor `div`
   * per token at the end — engine-replayable.
   *
   * Scale shape: one (token, part) groupBy rides the token explode
   * (map-side combined); the dense token×part grid comes from
   * broadcasting the PARTS dimension (sources — metadata-sized by
   * construction, the [[tokenLabelMI]] dense-grid pattern) onto the
   * minCount-filtered token list, so absent cells score their full
   * |0 − n_p·f_t| instead of silently vanishing; top-k is a
   * TakeOrdered, never a global sort. The metadata-sized-parts
   * contract is ENFORCED by a `maxParts` distinct-count guard (the
   * [[kendallTau]] raise_error discipline) — a high-cardinality part
   * column (e.g. a doc id) fails in the parts rollup with a named
   * diagnosis instead of five minutes later in a blown broadcast.
   *
   * Returns k rows: (token, f, dp_ppm), most-CONCENTRATED-first
   * (dp_ppm DESC — high DP = concentrated, the screen's positives).
   */
  def tokenDispersion(df: DataFrame, partCol: String, textCol: String,
      minCount: Long = 5L, k: Int = 50, maxParts: Int = 10000): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    require(maxParts >= 1, s"maxParts must be >= 1, got $maxParts")
    val dec = "decimal(38,0)"
    val W = org.apache.spark.sql.expressions.Window
    val tok = df.select(col(partCol).as("part"),
        explode(split(col(textCol), " ")).as("token"))
      .where(col("token") =!= "")
    val ctp = tok.groupBy("token", "part").agg(count(lit(1)).as("__c"))
    val ft = ctp.groupBy("token").agg(sum("__c").as("__f"))
      .where(col("__f") >= minCount)
    // the single-partition count window rides the metadata-sized parts
    // rollup (same bounded table the broadcast ships), never the corpus
    val np = tok.groupBy("part").agg(count(lit(1)).as("__np"))
      .withColumn("__nparts", count(lit(1)).over(W.partitionBy()))
      .withColumn("__np", when(col("__nparts") <= maxParts, col("__np"))
        .otherwise(raise_error(concat(
          lit("token_dispersion: "), col("__nparts"),
          lit(s" distinct parts exceeds maxParts=$maxParts; the dense " +
            "token x part grid needs a METADATA-sized parts dimension " +
            "(sources, not doc ids) — coarsen the part column or raise " +
            "the cap deliberately")))))
      .drop("__nparts")
    val tot = np.agg(sum("__np").as("__N"))
    ft.crossJoin(broadcast(np))
      .join(ctp, Seq("token", "part"), "left")
      .na.fill(0L, Seq("__c"))
      .crossJoin(broadcast(tot))
      .groupBy("token")
      .agg(max("__f").as("f"),
        sum(abs(col("__c").cast(dec) * col("__N") -
          col("__np").cast(dec) * col("__f"))).as("__num"),
        max("__N").as("__Nx"))
      .select(col("token"), col("f"),
        expr("cast(__num * 500000 div " +
          "(cast(f as decimal(38,0)) * __Nx) as long)").as("dp_ppm"))
      .orderBy(col("dp_ppm").desc, col("token")).limit(k)
  }

  /** Poisson(1) inverse-CDF thresholds on the 63-bit uniform scale:
    * weight(u) = Σ_k [u ≥ T_k], k = 0..6 — so per-row bootstrap weights
    * are 0..7 (the ≥8 tail, mass 1e-5, folds into 7). The literals are
    * shared verbatim with the DuckDB oracle, so replay is exact. */
  private[graft] val PoissonThresholds: Array[Long] = Array(
    3393088950634442752L, 6786177901268885504L, 8482722376586106880L,
    9048237201691847680L, 9189615907968282624L, 9217891649223569408L,
    9222604272766116864L)

  /**
   * Poisson bootstrap — the scalable bootstrap (Chamandy et al.,
   * Google '12; the resampling scheme behind large-scale A/B CIs):
   * replicate r reweights every row by an independent Poisson(1) draw,
   * approximating a multinomial resample without coordinating a global
   * n. Draws are DETERMINISTIC: mix64(id ⊕ (r+1)·golden) masked to 63
   * bits against the shared [[PoissonThresholds]], so any engine
   * replays every weight exactly and the replicate sums are integers.
   * The per-replicate golden multiples are PRECOMPUTED literals (JVM
   * longs wrap; ANSI column arithmetic would throw) XOR'd in — the
   * [[Cms]] seeding recipe.
   *
   * Returns `reps` rows (rep, n_eff, sum_w, mean) over a pre-scaled
   * integral metric: n_eff = Σ w, sum_w = Σ w·v (exact longs),
   * mean = sum_w / n_eff in one double division. The replicate spread
   * IS the sampling distribution of the mean — percentile CIs read
   * straight off the sorted means.
   *
   * Scale shape: explode(sequence(0, reps−1)) inflates rows reps× on
   * the MAP side only — the groupBy(rep) partial-aggregates before the
   * exchange, so exactly `reps` rows per partition shuffle regardless
   * of data size. No global sort, no second pass. Overflow contract:
   * reps·max|v|·n < 2^63 with w ≤ 7 — pre-scale coarser for wider
   * regimes (the [[anomalyFlags]] bound discipline).
   */
  /**
   * Exact ROC-AUC per key — the threshold-free ranking quality of a
   * score against a binary label ("does the quality score actually
   * rank good docs above bad ones"), computed WITHOUT sorting rows:
   * AUC = U/(n⁺·n⁻) where U is the Mann–Whitney statistic of the
   * positive class, so the whole computation is [[mannWhitneyU]]'s
   * pooled integer double-rank construction over the per-key
   * distinct-SCORE histogram (mid-rank ties = the trapezoid over tied
   * scores, the standard definition). Cliff's delta rides the same
   * moments for free (δ = 2·AUC − 1 — the ordinal effect size).
   * Everything is exact integer arithmetic: 2U as a long, the two
   * ratios as single truncating `div`s over DECIMAL(38,0) — zero
   * doubles, bit-replayable by any engine.
   *
   * Scale shape: one distinct-score histogram groupBy + one cumulative
   * window over DISTINCT scores + one moment rollup per key (the
   * [[mannWhitneyU]] plan exactly — never a row sort). NULL metrics/
   * labels are excluded by contract.
   *
   * Returns keys + (n_pos, n_neg, u2, auc_ppm, delta_ppm); AUC/δ NULL
   * when a key lacks one of the classes.
   */
  def rocAuc(df: DataFrame, keys: Seq[String], labelCol: String,
      scoreCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val m = rankHistogram(df, keys, labelCol, scoreCol)
      .groupBy(keys.map(col): _*)
      .agg(sum("__c").cast(dec).as("__n"), sum("__ca").cast(dec).as("__na"),
        sum(col("__ca").cast(dec) * col("__dr")).as("__r2a"))
    val na = col("__na"); val nb = col("__n") - col("__na")
    val u2 = col("__r2a") - na * (na + lit(1L))
    m.select((keys.map(col) :+
      na.cast("long").as("n_pos") :+ nb.cast("long").as("n_neg") :+
      u2.cast("long").as("u2") :+
      when(na === 0L || nb === 0L, lit(null).cast("long"))
        .otherwise(expr("cast(((__r2a - __na * (__na + 1)) * 500000) div " +
          "(__na * (__n - __na)) as long)")).as("auc_ppm") :+
      when(na === 0L || nb === 0L, lit(null).cast("long"))
        .otherwise(expr("cast(((__r2a - __na * (__na + 1) - __na * (__n - __na)) " +
          "* 1000000) div (__na * (__n - __na)) as long)")).as("delta_ppm")): _*)
  }

  /**
   * Trapezoidal PR-AUC per key — precision-recall area, the ranking
   * metric that stays honest under the class imbalance ROC-AUC hides
   * (a 1%-positive corpus can score AUC .99 while precision is
   * garbage). Points are the distinct score thresholds DESC with the
   * conventional (recall 0, precision 1) anchor; the area is the
   * trapezoid sum
   *
   *   Σ_i (tp_i − tp_{i−1})/n⁺ · (p_i + p_{i−1})/2
   *
   * where tp/fp come from ONE cumulative window over the per-key
   * distinct-score histogram (never a row sort). Each trapezoid term
   * is rounded ONCE to nano units from exact-integer tp/fp (the
   * [[kaplanMeier]] per-term discipline — one double expression per
   * distinct threshold, engine-replayable), and the key's area is a
   * single truncating div over their exact long sum.
   *
   * Returns keys + (n_pos, n_neg, n_thresholds, pr_auc_micro);
   * NULL when the key has no positives.
   */
  def prAuc(df: DataFrame, keys: Seq[String], labelCol: String,
      scoreCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val complete = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(keys.map(col) :+ col(scoreCol).cast("long").as("__v") :+
        col(labelCol).cast("boolean").as("__g"): _*)
    val hist = complete.groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"), count(when(col("__g"), 1)).as("__p"))
    val wDesc = W.partitionBy(keys.map(col): _*).orderBy(col("__v").desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val wKey = W.partitionBy(keys.map(col): _*)
    val wLag = W.partitionBy(keys.map(col): _*).orderBy(col("__v").desc)
    val pts = hist
      .withColumn("__tp", sum("__p").over(wDesc))
      .withColumn("__sc", sum("__c").over(wDesc))
      .withColumn("__na", sum("__p").over(wKey))
      .withColumn("__nt", sum("__c").over(wKey))
      .withColumn("__tpp", coalesce(lag("__tp", 1).over(wLag), lit(0L)))
      .withColumn("__scp", lag("__sc", 1).over(wLag))
    // p_prev at the anchor (no previous threshold) is 1 by convention
    val pCur = col("__tp").cast("double") / col("__sc").cast("double")
    val pPrev = when(col("__scp").isNull, lit(1.0))
      .otherwise(col("__tpp").cast("double") / col("__scp").cast("double"))
    // a no-positive key would divide by n_pos = 0 (ANSI: fatal); its
    // area is reported NULL below, so the terms are irrelevant — 0
    val terms = pts.withColumn("__nano",
      when(col("__na") === 0L, lit(0L))
        .otherwise(round(lit(1e9) * (col("__tp") - col("__tpp")).cast("double") *
          (pCur + pPrev) / (lit(2.0) * col("__na").cast("double")))
          .cast("long")))
    terms.groupBy(keys.map(col): _*)
      .agg(max("__na").as("__napos"), max("__nt").as("__ntot"),
        count(lit(1)).as("n_thresholds"), sum("__nano").as("__area"))
      .select(keys.map(col) :+
        col("__napos").as("n_pos") :+
        (col("__ntot") - col("__napos")).as("n_neg") :+
        col("n_thresholds") :+
        when(col("__napos") === 0L, lit(null).cast("long"))
          .otherwise(expr("cast(__area div 1000 as long)"))
          .as("pr_auc_micro"): _*)
  }

  /**
   * Matthews correlation coefficient per key — the single-number
   * binary-classifier quality that stays meaningful on imbalanced
   * labels (accuracy and F1 both saturate; MCC is the φ coefficient
   * of the confusion matrix):
   *
   *   MCC = (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn))
   *
   * One map-side-combinable groupBy collects the four exact confusion
   * counts; the numerator is DECIMAL(38,0) and the denominator is the
   * FOUR marginals under separate √s (each ≤ n — the [[mannWhitneyU]]
   * factored-denominator discipline, never the 4-way product that
   * would overflow at n ~ 10⁹), one round-once micro expression.
   * NULL when any marginal is 0 (MCC undefined).
   *
   * Returns keys + (tp, fp, fn, tn, mcc_micro).
   */
  def mcc(df: DataFrame, keys: Seq[String], labelCol: String,
      predCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val m = df
      .where(col(labelCol).isNotNull && col(predCol).isNotNull)
      .select(keys.map(col) :+ col(labelCol).cast("boolean").as("__y") :+
        col(predCol).cast("boolean").as("__p"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(when(col("__y") && col("__p"), 1)).as("tp"),
        count(when(!col("__y") && col("__p"), 1)).as("fp"),
        count(when(col("__y") && !col("__p"), 1)).as("fn"),
        count(when(!col("__y") && !col("__p"), 1)).as("tn"))
    val num = col("tp").cast(dec) * col("tn") - col("fp").cast(dec) * col("fn")
    val m1 = col("tp") + col("fp"); val m2 = col("tp") + col("fn")
    val m3 = col("tn") + col("fp"); val m4 = col("tn") + col("fn")
    m.select(keys.map(col) :+ col("tp") :+ col("fp") :+ col("fn") :+
      col("tn") :+
      when(m1 === 0L || m2 === 0L || m3 === 0L || m4 === 0L,
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) * num.cast("double") /
          sqrt(m1.cast("double")) / sqrt(m2.cast("double")) /
          sqrt(m3.cast("double")) / sqrt(m4.cast("double"))).cast("long"))
        .as("mcc_micro"): _*)
  }

  /**
   * Calibration report + expected calibration error — "when the model
   * says 70% it should be right 70% of the time", the reliability
   * audit for every confidence-weighted curation gate. Scores are
   * micro-probabilities (p ∈ [0, 10⁶] by contract); `bins` fixed-width
   * confidence bins each report exact counts and the exact integer
   * gap |10⁶·n_pos − Σp| — accuracy-vs-confidence with ZERO floats —
   * and the headline
   *
   *   ECE_micro = (Σ_b gap_b) div N
   *
   * rides every row via a one-row broadcast (the [[psiReport]] shape).
   *
   * Scale shape: one map-side-combinable groupBy to ≤ `bins` rows +
   * one broadcast — nothing else touches the corpus.
   *
   * Returns per-bin rows: (bin, n, n_pos, conf_sum, gap_abs, n_total,
   * ece_micro).
   */
  def calibrationReport(df: DataFrame, pMicroCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val perBin = df
      .where(col(pMicroCol).isNotNull && col(labelCol).isNotNull)
      // fail loud with a named diagnosis, not a bogus negative-bin
      // row: p is a probability in micro units by contract
      .select(when(col(pMicroCol) < 0L || col(pMicroCol) > 1000000L,
          raise_error(concat(lit("calibration_report: p_micro="),
            col(pMicroCol).cast("string"),
            lit(" outside [0, 1000000] — probabilities must be " +
              "micro-unit scaled"))))
        .otherwise(least(
          expr(s"(cast($pMicroCol as bigint) * $bins) div 1000000"),
          lit(bins - 1L))).as("bin"),
        col(labelCol).cast("boolean").as("__y"),
        col(pMicroCol).cast("long").as("__p"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), count(when(col("__y"), 1)).as("n_pos"),
        sum("__p").as("conf_sum"))
      .withColumn("gap_abs",
        abs(col("n_pos") * lit(1000000L) - col("conf_sum")))
    val tot = perBin.agg(sum("n").as("n_total"),
      expr("cast(sum(gap_abs) div sum(n) as long)").as("ece_micro"))
    perBin.crossJoin(broadcast(tot))
  }

  /**
   * McNemar's test per key — the PAIRED binary comparison ("is model B
   * actually better than model A on the same docs", where two
   * independent accuracy numbers would throw away the pairing): only
   * the discordant counts matter,
   *
   *   χ² = (n₁₀ − n₀₁)² / (n₁₀ + n₀₁)
   *
   * computed as one exact integer expression (square in DECIMAL(38,0),
   * one truncating div to micro units — zero doubles, engine-
   * replayable). NULL when there are no discordant pairs (test
   * undefined). One map-side-combinable groupBy; nothing else.
   *
   * Returns keys + (n, n11, n00, n10, n01, chi2_micro).
   */
  def mcnemar(df: DataFrame, keys: Seq[String], aCol: String,
      bCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val m = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(keys.map(col) :+ col(aCol).cast("boolean").as("__a") :+
        col(bCol).cast("boolean").as("__b"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count(when(col("__a") && col("__b"), 1)).as("n11"),
        count(when(!col("__a") && !col("__b"), 1)).as("n00"),
        count(when(col("__a") && !col("__b"), 1)).as("n10"),
        count(when(!col("__a") && col("__b"), 1)).as("n01"))
    m.select(keys.map(col) :+ col("n") :+ col("n11") :+ col("n00") :+
      col("n10") :+ col("n01") :+
      when(col("n10") + col("n01") === 0L, lit(null).cast("long"))
        .otherwise(expr("cast((cast(n10 - n01 as decimal(38,0)) * " +
          "(n10 - n01) * 1000000) div (n10 + n01) as long)"))
        .as("chi2_micro"): _*)
  }

  /**
   * Nelson–Aalen cumulative hazard per key — [[kaplanMeier]]'s
   * additive twin: H(t) = Σ_{u ≤ t} d_u/n_risk(u), the estimator whose
   * increments are per-time event RATES (so hazard ratios and crude
   * churn intensities read straight off the curve, where KM gives the
   * survival product). Rides the IDENTICAL per-(key, distinct-time)
   * machinery: risk sets from one DESC cumulative window, each time's
   * term rounded ONCE to micro units from the exact integer pair
   * (d, n_risk), the curve an exact long cumulative sum — engine-
   * replayable term-for-term.
   *
   * Returns keys + (t, n_risk, d_events, c_censored, na_cum_micro)
   * — one row per observed distinct duration.
   */
  def nelsonAalen(df: DataFrame, keys: Seq[String], durationCol: String,
      eventCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val perT = df
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull)
      .select(keys.map(col) :+ col(durationCol).cast("long").as("t") :+
        col(eventCol).cast("boolean").as("__e"): _*)
      .groupBy(keys.map(col) :+ col("t"): _*)
      .agg(count(lit(1)).as("__n"), count(when(col("__e"), 1)).as("d_events"))
    val wDesc = W.partitionBy(keys.map(col): _*).orderBy(col("t").desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val wAsc = W.partitionBy(keys.map(col): _*).orderBy(col("t"))
      .rowsBetween(W.unboundedPreceding, 0)
    perT
      .withColumn("n_risk", sum("__n").over(wDesc))
      .withColumn("__term",
        round(lit(1e6) * col("d_events").cast("double") /
          col("n_risk").cast("double")).cast("long"))
      .withColumn("na_cum_micro", sum("__term").over(wAsc))
      .select(keys.map(col) :+ col("t") :+ col("n_risk") :+
        col("d_events") :+ (col("__n") - col("d_events")).as("c_censored") :+
        col("na_cum_micro"): _*)
  }

  /**
   * Welch's unequal-variance t-test per key — the two-sample mean
   * comparison that does NOT assume equal variances (the safe default
   * when treatment changes the spread, not just the level; Welch '47):
   *
   *   t  = (x̄_A − x̄_B) / √(s²_A/n_A + s²_B/n_B)
   *   ν  = (s²_A/n_A + s²_B/n_B)² / ((s²_A/n_A)²/(n_A−1) + (s²_B/n_B)²/(n_B−1))
   *
   * ONE map-side-combinable groupBy collects the six exact
   * DECIMAL(38,0) moments (n, Σx, Σx² per group — the [[cuped]]
   * moment discipline); t and the Welch–Satterthwaite ν are round-once
   * double expressions over their correctly-rounded casts, replayed by
   * the HUGEINT oracle with the same factoring: each s²/n is computed
   * as (n·Σx² − (Σx)²)/(n·n·(n−1)) with the numerator exact. NULL when
   * either group has n < 2 or both variances are 0.
   *
   * Returns keys + (n_a, n_b, t_micro, df_milli); group = true is "A".
   */
  def welchT(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val m = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v") :+
        col(groupCol).cast("boolean").as("__g"): _*)
      .groupBy(keys.map(col): _*)
      // moments accumulate in DECIMAL(38,0) from the first multiply —
      // a long v*v product wraps silently past 2^63 (~3e9-unit values
      // at any count, or micro-units at ~9e6 rows/key); the decimal
      // lattice instead fails loud on overflow (the cuped discipline)
      .agg(count(when(col("__g"), 1)).cast(dec).as("__naM"),
        sum(when(col("__g"), col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__sa"),
        sum(when(col("__g"), col("__v").cast(dec) * col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__qa"),
        count(when(!col("__g"), 1)).cast(dec).as("__nbM"),
        sum(when(!col("__g"), col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__sb"),
        sum(when(!col("__g"), col("__v").cast(dec) * col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__qb"))
    val na = col("__naM"); val nb = col("__nbM")
    // s^2/n with an exact integer numerator, one division point each
    val va = (na * col("__qa") - col("__sa") * col("__sa")).cast("double") /
      (na * na * (na - lit(1L))).cast("double")
    val vb = (nb * col("__qb") - col("__sb") * col("__sb")).cast("double") /
      (nb * nb * (nb - lit(1L))).cast("double")
    val ma = col("__sa").cast("double") / na.cast("double")
    val mb = col("__sb").cast("double") / nb.cast("double")
    val bad = na < 2L || nb < 2L
    m.select(keys.map(col) :+
      na.cast("long").as("n_a") :+ nb.cast("long").as("n_b") :+
      when(bad, lit(null).cast("long"))
        .otherwise(when(va + vb === 0.0, lit(null).cast("long"))
          .otherwise(round(lit(1e6) * (ma - mb) / sqrt(va + vb))
            .cast("long"))).as("t_micro") :+
      when(bad, lit(null).cast("long"))
        .otherwise(when(va * va / (na.cast("double") - 1.0) +
            vb * vb / (nb.cast("double") - 1.0) === 0.0,
          lit(null).cast("long"))
          .otherwise(round(lit(1e3) * (va + vb) * (va + vb) /
            (va * va / (na.cast("double") - 1.0) +
              vb * vb / (nb.cast("double") - 1.0))).cast("long")))
        .as("df_milli"): _*)
  }

  /** The contingency table of `__a` × `__b` within each key group:
    * observed cells `__o`, the margins `__ra` (per `__a`) and `__cb` (per
    * `__b`), each with its level count (`__ka`, `__kb`), and the total
    * `__N`. */
  private final case class Contingency(cells: DataFrame, ra: DataFrame,
      cb: DataFrame, tot: DataFrame)

  /**
   * The [[Contingency]] of `base`'s projected `__a`, `__b` columns within
   * each `keys` group. Each margin counts its levels in a window over
   * its own rollup (label-sized, no separate job) and fails the job
   * loudly past `maxLevels`, naming `op` and the user's column from
   * `names`; the guard is woven into the margin count itself, so column
   * pruning cannot drop it. Level counts are read as `max` of `__ka`/
   * `__kb`, never as a distinct aggregate (whose Expand rewrite plans
   * differently on every run).
   */
  private def contingency(base: DataFrame, keys: Seq[String], op: String,
      names: (String, String), cap: String, maxLevels: Int): Contingency = {
    require(maxLevels >= 2 && maxLevels <= 100000,
      s"$cap must be in [2, 100000], got $maxLevels")
    val k = keys.map(col)
    val wk = org.apache.spark.sql.expressions.Window.partitionBy(k: _*)
    def margin(c: String, n: String, lv: String, name: String): DataFrame =
      base.groupBy(k :+ col(c): _*).agg(count(lit(1)).as(n))
        .withColumn(lv, count(lit(1)).over(wk))
        .withColumn(n, when(col(lv) <= maxLevels, col(n))
          .otherwise(raise_error(concat(lit(s"$op: $name has "), col(lv),
            lit(s" levels, exceeds $cap=$maxLevels — coarsen the column " +
              "or raise the cap deliberately")))))
    Contingency(
      base.groupBy(k :+ col("__a") :+ col("__b"): _*)
        .agg(count(lit(1)).as("__o")),
      margin("__a", "__ra", "__ka", names._1),
      margin("__b", "__cb", "__kb", names._2),
      base.groupBy(k: _*).agg(count(lit(1)).as("__N")))
  }

  /** The non-NULL (`aCol`, `bCol`) pairs of `df` as `__a`, `__b`, cast
    * to `t`. */
  private def pairs(df: DataFrame, aCol: String, bCol: String,
      t: String): DataFrame =
    df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast(t).as("__a"), col(bCol).cast(t).as("__b"))

  /** The two margins' level counts, named `a` and `b`, over rows that
    * carry a [[Contingency]]'s `__ka` and `__kb` (0 over no rows). */
  private def levelCounts(a: String, b: String): Seq[Column] =
    Seq(coalesce(max("__ka"), lit(0L)).as(a), coalesce(max("__kb"), lit(0L)).as(b))

  /**
   * General k×m chi-square independence test + Cramér's V — "are these
   * two categorical columns independent" beyond [[chiSquare2x2]]'s
   * binary case (lang × source, label × shard, template × license).
   * With o the observed cell count, r_a/c_b the margins and N the
   * total, each cell's contribution clears denominators exactly:
   *
   *   (o − e)²/e = (o·N − r_a·c_b)² / (N·r_a·c_b)
   *
   * — numerator and denominator are exact DECIMAL(38,0) products, one
   * nano-rounded division per cell (the [[kaplanMeier]] per-term
   * discipline), summed as exact longs; Cramér's V = √(χ²/(N·min(k−1,
   * m−1))) is one round-once expression over the exact nano sum.
   * ABSENT cells contribute their full expected mass via the dense
   * level×level grid (the [[tokenDispersion]] broadcast pattern — both
   * dimensions are label-sized by contract, ENFORCED by `maxLevels`
   * count guards on each margin).
   *
   * Returns one row: (n, k_levels, m_levels, dof, chi2_nano, v_micro).
   */
  def chiSquareKxM(df: DataFrame, aCol: String, bCol: String,
      maxLevels: Int = 1000): DataFrame = {
    val dec = "decimal(38,0)"
    val t = contingency(pairs(df, aCol, bCol, "string"), Nil, "chi_square_kxm",
      (aCol, bCol), "maxLevels", maxLevels)
    val grid = t.ra.crossJoin(broadcast(t.cb))
      .join(t.cells, Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("__o"))
      .crossJoin(broadcast(t.tot))
    val num = (col("__o").cast(dec) * col("__N") -
      col("__ra").cast(dec) * col("__cb"))
    val term = expr("cast(round(1e9 * cast(__num2 as double) / " +
      "cast(cast(__N as decimal(38,0)) * __ra * __cb as double)) as bigint)")
    val summed = grid
      .withColumn("__num2", num * num)
      .withColumn("__t", term)
      .agg(max("__N").as("n"), levelCounts("k_levels", "m_levels") :+
        sum("__t").as("chi2_nano"): _*)
    summed.select(col("n"), col("k_levels"), col("m_levels"),
      ((col("k_levels") - 1L) * (col("m_levels") - 1L)).as("dof"),
      col("chi2_nano"),
      when(col("n") === 0L || col("k_levels") < 2L || col("m_levels") < 2L,
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) * sqrt(
          col("chi2_nano").cast("double") / lit(1e9) /
            (col("n").cast("double") *
              least(col("k_levels") - 1L, col("m_levels") - 1L)
                .cast("double")))).cast("long")).as("v_micro"))
  }

  /**
   * Autocorrelation FUNCTION per key — the whole correlogram r_ℓ for
   * lags 1..maxLag in ONE pass, where [[graft.pipeline.Temporal.autocorr]]
   * answers a single chosen lag (same integer identity; this is the
   * multi-lag generalization: one window materializes every lag
   * column, one rollup carries all 4·maxLag moments, so "which period
   * is it" costs one job instead of maxLag). The mean-centered
   * products clear the rational mean exactly (multiply through by n²):
   *
   *   num_ℓ·n² = n²·Σ x_t·x_{t+ℓ} − n·S·(S_head+S_tail) + (n−ℓ)·S²
   *   den·n²   = n²·Σ x²           − n·S²
   *   r_ℓ      = num_ℓ/den         (one round-once micro division)
   *
   * where S_head/S_tail are the paired-row partial sums — ALL exact
   * DECIMAL(38,0), so the only double is the final ratio. One window
   * pass materializes the maxLag lag columns; one map-side-combinable
   * rollup per key collects every lag's moments (rows never shuffle
   * per lag). In-batch order is `orderCol`; rows per key are the
   * series (quantize/bucket upstream for regular spacing).
   *
   * Returns one row per (key, lag): keys + (lag, n_pairs, r_micro);
   * r NULL when the key's variance is 0 or the lag has no pairs.
   */
  def acf(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, maxLag: Int = 8): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(maxLag >= 1 && maxLag <= 32, s"maxLag in [1,32], got $maxLag")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val w = W.partitionBy(keys.map(col): _*).orderBy(col("__t"))
    val base = df
      .where(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(keys.map(col) :+ col(orderCol).as("__t") :+
        col(valueCol).cast("long").as("__x"): _*)
    val lagged = (1 to maxLag).foldLeft(
      base.withColumn("__t", col("__t")))((d, l) =>
      d.withColumn(s"__lag$l", lag(col("__x"), l).over(w)))
    // moments accumulate in DECIMAL(38,0) from the first multiply — a
    // long x*lag product wraps silently past 2^63; decimal fails loud
    val xd = col("__x").cast(dec)
    val aggs = Seq(count(lit(1)).cast(dec).as("__n"),
      sum(xd).as("__s"),
      sum(xd * xd).as("__q")) ++
      (1 to maxLag).flatMap { l =>
        val lg = col(s"__lag$l")
        val lgd = lg.cast(dec)
        Seq(
          sum(when(lg.isNotNull, xd * lgd).otherwise(lit(0).cast(dec)))
            .as(s"__xx$l"),
          sum(when(lg.isNotNull, lgd).otherwise(lit(0).cast(dec)))
            .as(s"__sh$l"),
          sum(when(lg.isNotNull, xd).otherwise(lit(0).cast(dec)))
            .as(s"__st$l"),
          count(when(lg.isNotNull, 1)).cast(dec).as(s"__np$l"))
      }
    val m = lagged.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val n = col("__n"); val s = col("__s")
    val den = n * n * col("__q") - n * s * s
    val perLag = (1 to maxLag).map { l =>
      struct(lit(l).as("lag"),
        col(s"__np$l").cast("long").as("n_pairs"),
        when(den === 0L || col(s"__np$l") === 0L, lit(null).cast("long"))
          .otherwise(round(lit(1e6) *
            (n * n * col(s"__xx$l") - n * s * (col(s"__sh$l") + col(s"__st$l")) +
              (n - lit(l.toLong)) * s * s).cast("double") /
            den.cast("double")).cast("long")).as("r_micro"))
    }
    m.select(keys.map(col) :+ explode(array(perLag: _*)).as("__e"): _*)
      .select(keys.map(col) :+ col("__e.lag") :+ col("__e.n_pairs") :+
        col("__e.r_micro"): _*)
  }

  /**
   * Vocabulary richness: Good–Turing unseen mass + bias-corrected
   * Chao1 — "how much of this corpus's vocabulary have we NOT seen",
   * the coverage answer behind dedup/contamination budgeting (Good
   * '53; Chao '84). From the frequency-of-frequency table (N_c =
   * #types with count c):
   *
   *   p₀        = N₁/N                    (Good–Turing unseen mass)
   *   Chao1     = V + N₁(N₁−1)/(2(N₂+1))  (bias-corrected form — no
   *                                        zero-division when N₂ = 0)
   *
   * both as exact integer divisions (ppm / milli units). Scale shape:
   * token histogram → ONE tiny freq-of-freq rollup (the [[zipfFit]]
   * table); nothing else touches the corpus.
   *
   * Returns one row: (n_tokens, vocab, n1, n2, p0_ppm, chao1_milli).
   */
  def vocabularyRichness(df: DataFrame, textCol: String): DataFrame = {
    val counts = df
      .select(explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("__c"))
    val fof = counts.groupBy("__c").agg(count(lit(1)).as("__nc"))
    fof.agg(
      sum(col("__c") * col("__nc")).as("n_tokens"),
      sum("__nc").as("vocab"),
      coalesce(sum(when(col("__c") === 1L, col("__nc"))), lit(0L)).as("n1"),
      coalesce(sum(when(col("__c") === 2L, col("__nc"))), lit(0L)).as("n2"))
      .select(col("n_tokens"), col("vocab"), col("n1"), col("n2"),
        expr("cast((n1 * 1000000) div n_tokens as long)").as("p0_ppm"),
        expr("cast(vocab * 1000 + (cast(n1 as decimal(38,0)) * (n1 - 1) " +
          "* 1000) div (2 * (n2 + 1)) as long)").as("chao1_milli"))
  }

  /**
   * Cohen's d / Hedges' g per key — the standardized effect size that
   * turns [[welchT]]'s "significant?" into "HOW BIG" (the report a
   * thousand-experiment scan actually needs next to its p-value):
   *
   *   d = (x̄_A − x̄_B) / s_pooled,  s²_p = ((n_A−1)s²_A + (n_B−1)s²_B)/(n−2)
   *   g = d · (1 − 3/(4n − 9))      (small-sample bias correction)
   *
   * over the same six exact DECIMAL(38,0) moments as [[welchT]] (ONE
   * map-side-combinable groupBy); d and g are round-once double
   * expressions with each variance numerator exact. NULL when either
   * group has n < 2 or the pooled variance is 0.
   *
   * Returns keys + (n_a, n_b, d_micro, g_micro); group = true is "A".
   */
  def cohensD(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val m = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v") :+
        col(groupCol).cast("boolean").as("__g"): _*)
      .groupBy(keys.map(col): _*)
      // moments accumulate in DECIMAL(38,0) from the first multiply —
      // a long v*v product wraps silently past 2^63 (~3e9-unit values
      // at any count, or micro-units at ~9e6 rows/key); the decimal
      // lattice instead fails loud on overflow (the cuped discipline)
      .agg(count(when(col("__g"), 1)).cast(dec).as("__naM"),
        sum(when(col("__g"), col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__sa"),
        sum(when(col("__g"), col("__v").cast(dec) * col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__qa"),
        count(when(!col("__g"), 1)).cast(dec).as("__nbM"),
        sum(when(!col("__g"), col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__sb"),
        sum(when(!col("__g"), col("__v").cast(dec) * col("__v").cast(dec))
          .otherwise(lit(0).cast(dec))).as("__qb"))
    val na = col("__naM"); val nb = col("__nbM")
    // (n-1)·s² = (n·Σx² − (Σx)²)/n — keep the numerator exact, divide once
    val ssA = (na * col("__qa") - col("__sa") * col("__sa")).cast("double") /
      na.cast("double")
    val ssB = (nb * col("__qb") - col("__sb") * col("__sb")).cast("double") /
      nb.cast("double")
    val ma = col("__sa").cast("double") / na.cast("double")
    val mb = col("__sb").cast("double") / nb.cast("double")
    val nTot = (na + nb).cast("double")
    val sp = sqrt((ssA + ssB) / (nTot - lit(2.0)))
    val bad = na < 2L || nb < 2L
    // association order fixed as (1e6·(ma−mb))/sp — the oracle replays
    // this exact shape; 1e6·((ma−mb)/sp) can differ by an ulp
    m.select(keys.map(col) :+
      na.cast("long").as("n_a") :+ nb.cast("long").as("n_b") :+
      when(bad, lit(null).cast("long"))
        .otherwise(when(ssA + ssB === 0.0, lit(null).cast("long"))
          .otherwise(round(lit(1e6) * (ma - mb) / sp).cast("long")))
        .as("d_micro") :+
      when(bad, lit(null).cast("long"))
        .otherwise(when(ssA + ssB === 0.0, lit(null).cast("long"))
          .otherwise(round(lit(1e6) * (ma - mb) / sp *
            (lit(1.0) - lit(3.0) / (lit(4.0) * nTot - lit(9.0))))
            .cast("long"))).as("g_micro"): _*)
  }

  /**
   * Cochran–Armitage trend test per key — "does the positive rate RISE
   * with the ordered dose" (quality tier, dedup round, toxicity
   * bucket), the ordered-alternative test a k×2 chi-square wastes
   * power on. With ordinal scores s_i, group sizes n_i, positives r_i,
   * R = Σr, N = Σn:
   *
   *   N·T    = Σ s_i (r_i·N − n_i·R)                (exact)
   *   z      = N·T·√N / √(R(N−R)) / √(N·Σn_i s_i² − (Σn_i s_i)²)
   *
   * — every factor an exact DECIMAL(38,0) under its own √ (the
   * [[mannWhitneyU]] factored-denominator discipline), z one
   * round-once micro expression. Scale shape: one groupBy to the
   * per-(key, score) table (scores are ordinal levels — metadata), one
   * rollup. NULL when R = 0, R = N, or the scores are constant.
   *
   * Returns keys + (n, r_pos, n_levels, z_micro).
   */
  def cochranArmitage(df: DataFrame, keys: Seq[String], scoreCol: String,
      labelCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val perLevel = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(keys.map(col) :+ col(scoreCol).cast("long").as("__s") :+
        col(labelCol).cast("boolean").as("__y"): _*)
      .groupBy(keys.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__ni"), count(when(col("__y"), 1)).as("__ri"))
    val m = perLevel.groupBy(keys.map(col): _*)
      .agg(sum("__ni").cast(dec).as("__N"), sum("__ri").cast(dec).as("__R"),
        count(lit(1)).as("n_levels"),
        sum(col("__s").cast(dec) * col("__ni")).as("__ns"),
        sum(col("__s").cast(dec) * col("__s") * col("__ni")).as("__nss"),
        sum(col("__s").cast(dec) * col("__ri")).as("__sr"))
    val nBig = col("__N"); val r = col("__R")
    // N·T = Σ s_i·r_i·N − Σ s_i·n_i·R  (both one product of exact sums)
    val nt = col("__sr") * nBig - col("__ns") * r
    val x = nBig * col("__nss") - col("__ns") * col("__ns")
    m.select(keys.map(col) :+
      nBig.cast("long").as("n") :+ r.cast("long").as("r_pos") :+
      col("n_levels") :+
      when(r === 0L || r === nBig || x === 0L, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * nt.cast("double") *
          sqrt(nBig.cast("double")) /
          sqrt((r * (nBig - r)).cast("double")) /
          sqrt(x.cast("double"))).cast("long")).as("z_micro"): _*)
  }

  /**
   * One-way ANOVA F per key — "does the metric differ across k
   * categorical groups" (source tiers, dedup buckets, license pools),
   * the k-group generalization of the two-sample mean tests. Per-group
   * moments (n_g, S_g, Q_g) are exact DECIMAL(38,0) from ONE
   * map-side-combinable groupBy; the per-group rational S²_g/n_g terms
   * are nano-rounded ONCE each (the [[kaplanMeier]] per-term
   * discipline — deterministic, engine-replayable; a double sum would
   * be order-dependent) and summed as exact longs:
   *
   *   A = Σ_g round(1e9·S²_g/n_g),  B = round(1e9·S²/N)
   *   SSB ≈ (A−B)/1e9,  SSW ≈ (1e9·ΣQ − A)/1e9
   *   F   = (SSB/(k−1)) / (SSW/(N−k)),  η² = SSB/SST
   *
   * F/η² are round-once expressions over the exact nano sums, which
   * live in DECIMAL(38,0) end-to-end (a long nano sum would overflow
   * at SST ~ 9.2×10⁹ value² — mid-corpus scale); the reported
   * ss_between/ss_within are the whole value²-unit parts (nano div
   * 10⁹). NULL F when k < 2, N ≤ k, or SSW = 0. Scale shape: corpus →
   * per-(key, group) moment table (groups are label-sized) → one
   * rollup per key.
   *
   * Returns keys + (n, k_groups, ss_between, ss_within, f_micro,
   * eta2_ppm).
   */
  def anovaF(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val pg = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(groupCol).cast("string").as("__g") :+
        col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col) :+ col("__g"): _*)
      // DECIMAL(38,0) from the first multiply — long v*v wraps silently
      .agg(count(lit(1)).cast(dec).as("__ng"),
        sum(col("__v").cast(dec)).as("__sg"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__qg"))
      .withColumn("__t", round(lit(1e9) *
        (col("__sg") * col("__sg")).cast("double") /
        col("__ng").cast("double")).cast(dec))
    val m = pg.groupBy(keys.map(col): _*)
      .agg(sum("__ng").cast(dec).as("__n"), count(lit(1)).as("k_groups"),
        sum("__sg").cast(dec).as("__s"), sum("__qg").cast(dec).as("__q"),
        sum("__t").as("__a"))
    val bTerm = round(lit(1e9) * (col("__s") * col("__s")).cast("double") /
      col("__n").cast("double")).cast(dec)
    val withB = m.withColumn("__b", bTerm)
      // nano rounding can leave SSB at -1e-9 when it is exactly 0
      .withColumn("__ssb",
        greatest(col("__a") - col("__b"), lit(0L).cast(dec)))
      .withColumn("__sstd", col("__q") * lit(1000000000L) - col("__b"))
      .withColumn("__ssw", col("__q") * lit(1000000000L) - col("__a"))
    val n = col("__n"); val k = col("k_groups")
    val bad = k < 2L || n <= k.cast(dec) || col("__ssw") <= 0L
    withB.select(keys.map(col) :+
      n.cast("long").as("n") :+ k :+
      expr("cast(__ssb div 1000000000 as long)").as("ss_between") :+
      expr("cast(__ssw div 1000000000 as long)").as("ss_within") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) *
          (col("__ssb").cast("double") / (k - lit(1L)).cast("double")) /
          (col("__ssw").cast("double") /
            (n - k.cast(dec)).cast("double"))).cast("long")).as("f_micro") :+
      when(k < 2L || col("__sstd") <= 0L, lit(null).cast("long"))
        .otherwise(expr(
          "cast((__ssb * 1000000) div __sstd as long)")).as("eta2_ppm"): _*)
  }

  /**
   * Brown–Forsythe robust variance-equality test per key — "do the
   * groups have the SAME spread" with a MEDIAN center (Levene's test
   * made heavy-tail-safe; Brown & Forsythe '74): the one-way
   * [[anovaF]] applied to z = |x − median_g|. Group medians are the
   * deterministic LOWER median (smallest v with 2·cum ≥ n) read off
   * the per-(key, group) distinct-value histogram — one cumulative
   * window over DISTINCT values (the [[psiReport]] discipline), the
   * (key, group) median table equi-joined back (AQE broadcasts it
   * when small; no forced hint, so huge key sets still shuffle-join
   * instead of blowing the driver), and z stays
   * integral so the whole [[anovaF]] exact-moment machinery applies
   * unchanged.
   *
   * Returns keys + (n, k_groups, ss_between, ss_within, f_micro,
   * eta2_ppm) over the |x − med| frame.
   */
  def brownForsythe(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val base = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(groupCol).cast("string").as("__g") :+
        col(valueCol).cast("long").as("__v"): _*)
    val gk = keys.map(col) :+ col("__g")
    val hist = base.groupBy(gk :+ col("__v"): _*).agg(count(lit(1)).as("__c"))
    val wCum = W.partitionBy(gk: _*).orderBy(col("__v"))
      .rowsBetween(W.unboundedPreceding, 0)
    val wTot = W.partitionBy(gk: _*)
    val med = hist
      .withColumn("__cum", sum("__c").over(wCum))
      .withColumn("__tot", sum("__c").over(wTot))
      .where(col("__cum") * 2L >= col("__tot"))
      .groupBy(gk: _*).agg(min("__v").as("__med"))
    // equi-join on (keys, group) — AQE broadcasts when the median
    // table is small; no hint, so corpus-scale key sets still plan a
    // shuffle join instead of blowing the driver
    val z = base.join(med, keys :+ "__g")
      .select(keys.map(col) :+ col("__g") :+
        abs(col("__v") - col("__med")).as("__z"): _*)
    anovaF(z, keys, "__g", "__z")
  }

  /**
   * Kruskal–Wallis H per key — the k-group distribution-free location
   * test ([[mannWhitneyU]]'s many-group generalization, [[anovaF]]'s
   * heavy-tail-safe twin): pooled integer DOUBLE mid-ranks over the
   * per-key distinct-VALUE histogram (never a row sort), per-group
   * rank sums as exact DECIMAL(38,0) (2R_g = Σ c_gv·dr), the
   * per-group rational (2R_g)²/(4n_g) nano-rounded ONCE each and
   * summed exactly (the [[anovaF]] discipline), then
   *
   *   H = [12·ΣR²_g/n_g / (N(N+1)) − 3(N+1)] / (1 − T/(N³−N))
   *
   * as ONE round-once micro expression (T = Σ(t³−t) the tie
   * correction). NULL when k < 2 or all values tie (correction
   * denominator 0).
   *
   * Scale shape: one (key, group, value) histogram groupBy, one
   * pooled cumulative window over DISTINCT values, one per-(key,
   * group) rollup (label-sized), one rollup per key.
   *
   * Returns keys + (n, k_groups, h_micro).
   */
  def kruskalWallis(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val cells = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(groupCol).cast("string").as("__g") :+
        col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col) :+ col("__g") :+ col("__v"): _*)
      .agg(count(lit(1)).as("__cgv"))
    val pooled = cells.groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(sum("__cgv").as("__cv"))
    val dr = pooled.withColumn("__dr", doubleRank(keys, "__cv"))
    val perG = cells.join(dr.select(keys.map(col) :+ col("__v") :+
        col("__dr"): _*), keys :+ "__v")
      .groupBy(keys.map(col) :+ col("__g"): _*)
      .agg(sum("__cgv").cast(dec).as("__ng"),
        sum(col("__cgv").cast(dec) * col("__dr")).as("__r2g"))
      .withColumn("__t", round(lit(1e9) *
        (col("__r2g") * col("__r2g")).cast("double") /
        (lit(4L).cast(dec) * col("__ng")).cast("double")).cast(dec))
    val ties = pooled.groupBy(keys.map(col): _*)
      .agg(sum(col("__cv").cast(dec) * col("__cv") * col("__cv") -
        col("__cv")).as("__tie"))
    val m = perG.groupBy(keys.map(col): _*)
      .agg(sum("__ng").cast(dec).as("__n"), count(lit(1)).as("k_groups"),
        sum("__t").as("__a"))
      .join(ties, keys)
    val n = col("__n")
    val corr = lit(1.0) - col("__tie").cast("double") /
      (n * n * n - n).cast("double")
    val bad = col("k_groups") < 2L || (n * n * n - n) === 0L ||
      col("__tie") === (n * n * n - n)
    m.select(keys.map(col) :+ n.cast("long").as("n") :+ col("k_groups") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) *
          (lit(12.0) * col("__a").cast("double") / lit(1e9) /
            (n * (n + lit(1L))).cast("double") -
            lit(3.0) * (n + lit(1L)).cast("double")) / corr)
          .cast("long")).as("h_micro"): _*)
  }

  /**
   * Grubbs' outlier statistic per key — "is the most extreme value a
   * statistical outlier": G = max|x − x̄|/s. The extremes-only
   * identity makes this ONE map-side-combinable groupBy (the maximum
   * deviation is always at min or max, so the corpus never sorts or
   * re-scans): with exact DECIMAL moments (n, S, Q, mn, mx),
   *
   *   dev = max(n·mx − S, S − n·mn)          (exact integer)
   *   G   = dev·√(n−1) / √n / √(n·Q − S²)    (factored √s, one round)
   *
   * `at_value` reports which extreme achieved it (ties pick the max —
   * deterministic). NULL when n < 3 or the variance is 0. Compare G
   * against the caller's critical value (a plan-time constant).
   *
   * Returns keys + (n, at_value, g_micro).
   */
  def grubbs(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val m = df
      .where(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col): _*)
      // DECIMAL(38,0) from the first multiply — long v*v wraps silently
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__q"),
        min("__v").as("__mn"), max("__v").as("__mx"))
    val n = col("__n"); val s = col("__s")
    val devHi = n * col("__mx") - s
    val devLo = s - n * col("__mn")
    val dev = greatest(devHi, devLo)
    val varNum = n * col("__q") - s * s
    m.select(keys.map(col) :+ n.cast("long").as("n") :+
      when(devHi >= devLo, col("__mx")).otherwise(col("__mn"))
        .as("at_value") :+
      when(n < 3L || varNum === 0L, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * dev.cast("double") *
          sqrt((n - lit(1L)).cast("double")) / sqrt(n.cast("double")) /
          sqrt(varNum.cast("double"))).cast("long")).as("g_micro"): _*)
  }

  /**
   * Anderson–Darling two-sample test — the TAIL-sensitive drift
   * statistic ([[ksStatistic]] weights the middle of the distribution;
   * AD's 1/(F(1−F)) weighting catches tail shifts KS misses — the
   * usual recommendation for production drift monitors). The
   * tie-adjusted midrank form (Scholz & Stephens '87) over the pooled
   * DISTINCT-value histogram:
   *
   *   A² = (N−1)/N · Σ_i 1/n_i · Σ_v (l_v/N)·(N·M_iv − n_i·B_v)² /
   *        (B_v(N−B_v) − N·l_v/4)
   *
   * with B_v/M_iv the midrank cumulative counts. Doubling clears the
   * halves (2B = 2·cum − l), so every factor is an exact integer; each
   * (sample, value) term is ONE round-once nano expression over their
   * double casts (the [[kaplanMeier]] discipline — l·num² would
   * overflow DECIMAL at N ~ 3×10⁷, so the division happens in double
   * with a pinned factor order, engine-replayable), summed as exact
   * longs. NULL when either side is empty or the pooled data has a
   * single distinct value. Inputs are integral by contract —
   * compute the width with [[quantizeStep]] — ENFORCED by the
   * `maxDistinct` fail-loud cap on the pooled distinct-value table
   * (see [[capPooledDistinct]]).
   *
   * Scale shape: identical to [[ksStatistic]]/[[distributionDistance]]
   * — one groupBy per side, one full-outer join of the distinct-value
   * count tables, cumulative windows over DISTINCT values, a one-row
   * totals broadcast.
   *
   * Returns one row: (n_ref, n_cur, a2_micro).
   */
  def andersonDarling(ref: DataFrame, cur: DataFrame,
      valueCol: String, maxDistinct: Int = 65536): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    def side(df: DataFrame, n: String): DataFrame = df
      .where(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("__v"))
      .groupBy("__v").agg(count(lit(1)).as(n))
    val j = side(ref, "__ca").join(side(cur, "__cb"), Seq("__v"), "full")
      .na.fill(0L, Seq("__ca", "__cb"))
      .transform(capPooledDistinct(_, "anderson_darling", maxDistinct))
    val w = W.orderBy(col("__v")).rowsBetween(W.unboundedPreceding, 0)
    val cum = j
      .withColumn("__cuma", sum("__ca").over(w))
      .withColumn("__cumb", sum("__cb").over(w))
    val tot = j.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"),
      count(lit(1)).as("__nv"))
    val g = cum.crossJoin(broadcast(tot))
      .withColumn("__l", col("__ca") + col("__cb"))
      .withColumn("__N", col("__na") + col("__nb"))
      .withColumn("__b2", lit(2L) * (col("__cuma") + col("__cumb")) - col("__l"))
      .withColumn("__den2",
        col("__b2").cast(dec) * (lit(2L) * col("__N") - col("__b2")) -
          col("__N").cast(dec) * col("__l"))
    def termFor(cumC: String, cC: String, nC: String): Column = {
      val m2 = lit(2L) * col(cumC) - col(cC)
      val num2 = (col("__N").cast(dec) * m2 -
        col(nC).cast(dec) * col("__b2")).cast("double")
      // den2 = 0 only at a single-distinct-value pool; n_i = 0 on an
      // empty side — both cases report NULL overall, terms are moot
      when(col("__den2") === 0L || col(nC) === 0L, lit(0L))
        .otherwise(round(lit(1e9) * col("__l").cast("double") *
          num2 * num2 / (col("__N").cast("double") *
            col(nC).cast("double") * col("__den2").cast("double")))
          .cast("long"))
    }
    g.withColumn("__ta", termFor("__cuma", "__ca", "__na"))
      .withColumn("__tb", termFor("__cumb", "__cb", "__nb"))
      .agg(max("__na").as("n_ref"), max("__nb").as("n_cur"),
        max("__nv").as("__nvx"), max("__N").as("__Nx"),
        sum(col("__ta") + col("__tb")).as("__sum"))
      .select(col("n_ref"), col("n_cur"),
        when(col("n_ref") === 0L || col("n_cur") === 0L ||
          col("__nvx") < 2L, lit(null).cast("long"))
          .otherwise(round(
            ((col("__Nx") - lit(1L)).cast(dec) * col("__sum")).cast("double") /
              col("__Nx").cast("double") / lit(1000.0)).cast("long"))
          .as("a2_micro"))
  }

  /**
   * Energy distance two-sample test (Székely & Rizzo '04) — the
   * metric-space drift statistic behind modern two-sample detectors:
   *
   *   E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|    (≥ 0, = 0 iff same dist.)
   *
   * Every pairwise-|difference| sum is EXACT via the sorted prefix
   * identity over the distinct-value histogram (never a pair join):
   *
   *   Σ_{i,j}|x_i−y_j| = Σ_v ca(v)·(v·C⁻_B(v) − S⁻_B(v))
   *                    + Σ_v cb(v)·(v·C⁻_A(v) − S⁻_A(v))
   *
   * with C⁻/S⁻ the strictly-below cumulative count/value-sum (equal
   * values contribute 0) — all DECIMAL(38,0); the only rounding is
   * the final round-once micro expression over the three V-statistic
   * ratios (n², m², nm denominators — independent-copy expectations).
   * NULL when either side is empty. Inputs are integral by contract —
   * compute the width with [[quantizeStep]] — ENFORCED by the
   * `maxDistinct` fail-loud cap on the pooled distinct-value table
   * (see [[capPooledDistinct]]).
   *
   * Scale shape: the [[ksStatistic]] plan — one groupBy per side, one
   * full-outer join of distinct-value tables, cumulative windows over
   * DISTINCT values, a one-row totals broadcast.
   *
   * Returns one row: (n_ref, n_cur, e_micro).
   */
  def energyDistance(ref: DataFrame, cur: DataFrame,
      valueCol: String, maxDistinct: Int = 65536): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    def side(df: DataFrame, n: String): DataFrame = df
      .where(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("__v"))
      .groupBy("__v").agg(count(lit(1)).as(n))
    val j = side(ref, "__ca").join(side(cur, "__cb"), Seq("__v"), "full")
      .na.fill(0L, Seq("__ca", "__cb"))
      .transform(capPooledDistinct(_, "energy_distance", maxDistinct))
    val w = W.orderBy(col("__v")).rowsBetween(W.unboundedPreceding, -1)
    val cum = j
      .withColumn("__cab", coalesce(sum("__ca").over(w), lit(0L)).cast(dec))
      .withColumn("__cbb", coalesce(sum("__cb").over(w), lit(0L)).cast(dec))
      .withColumn("__sab",
        coalesce(sum(col("__v").cast(dec) * col("__ca")).over(w),
          lit(0L).cast(dec)))
      .withColumn("__sbb",
        coalesce(sum(col("__v").cast(dec) * col("__cb")).over(w),
          lit(0L).cast(dec)))
    val tot = j.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    val v = col("__v").cast(dec)
    val terms = cum
      .withColumn("__tab",
        col("__ca").cast(dec) * (v * col("__cbb") - col("__sbb")) +
          col("__cb").cast(dec) * (v * col("__cab") - col("__sab")))
      .withColumn("__taa",
        lit(2L).cast(dec) * col("__ca") * (v * col("__cab") - col("__sab")))
      .withColumn("__tbb",
        lit(2L).cast(dec) * col("__cb") * (v * col("__cbb") - col("__sbb")))
      .agg(sum("__tab").as("__ab"), sum("__taa").as("__aa"),
        sum("__tbb").as("__bb"))
    terms.crossJoin(broadcast(tot))
      .select(col("__na").as("n_ref"), col("__nb").as("n_cur"),
        when(col("__na") === 0L || col("__nb") === 0L,
          lit(null).cast("long"))
          .otherwise(round(lit(1e6) * (
            lit(2.0) * col("__ab").cast("double") /
              (col("__na").cast(dec) * col("__nb")).cast("double") -
              col("__aa").cast("double") /
                (col("__na").cast(dec) * col("__na")).cast("double") -
              col("__bb").cast("double") /
                (col("__nb").cast(dec) * col("__nb")).cast("double")))
            .cast("long")).as("e_micro"))
  }

  /**
   * Mutual information + Theil's U between two categorical columns —
   * [[chiSquareKxM]]'s effect-size companion in INFORMATION units:
   * "how many nats does knowing B tell you about A" (lang ↔ source,
   * template ↔ license — the dependence measure that stays comparable
   * across table shapes where χ² grows with N):
   *
   *   MI   = Σ_cells (o/N)·ln(o·N/(r_a·c_b))     (absent cells = 0)
   *   H(A) = −Σ_a (r_a/N)·ln(r_a/N)
   *   U    = MI/H(A)                             (Theil's uncertainty
   *                                               coefficient ∈ [0,1])
   *
   * Each cell/level term is ONE nano-rounded expression over exact
   * integer counts (the [[kaplanMeier]] discipline — ln of the same
   * double quotient in any engine), summed as exact longs; U is one
   * round-once ratio of the two nano sums. Unlike χ², absent cells
   * contribute EXACTLY 0, so only observed cells flow — no dense
   * grid, just the cells table joined to its two label-sized margins
   * (`maxLevels`-guarded, the [[chiSquareKxM]] contract).
   *
   * Returns one row: (n, k_levels, m_levels, mi_nano_nats,
   * h_a_nano_nats, u_micro).
   */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String,
      maxLevels: Int = 1000): DataFrame = {
    val t = contingency(pairs(df, aCol, bCol, "string"), Nil,
      "mutual_information", (aCol, bCol), "maxLevels", maxLevels)
    val g = t.cells.join(broadcast(t.ra), "__a").join(broadcast(t.cb), "__b")
      .crossJoin(broadcast(t.tot))
    val dec = "decimal(38,0)"
    val miTerm = round(lit(1e9) * col("__o").cast("double") /
      col("__N").cast("double") *
      log((col("__o").cast(dec) * col("__N")).cast("double") /
        (col("__ra").cast(dec) * col("__cb")).cast("double"))).cast("long")
    val mi = g.withColumn("__t", miTerm)
      .agg(max("__N").as("n"), levelCounts("k_levels", "m_levels") :+
        sum("__t").as("mi_nano_nats"): _*)
    val ha = t.ra.crossJoin(broadcast(t.tot))
      .withColumn("__h", round(lit(-1e9) * col("__ra").cast("double") /
        col("__N").cast("double") *
        log(col("__ra").cast("double") / col("__N").cast("double")))
        .cast("long"))
      .agg(sum("__h").as("h_a_nano_nats"))
    mi.crossJoin(broadcast(ha))
      .select(col("n"), col("k_levels"), col("m_levels"),
        col("mi_nano_nats"), col("h_a_nano_nats"),
        when(col("h_a_nano_nats") <= 0L, lit(null).cast("long"))
          .otherwise(round(lit(1e6) * col("mi_nano_nats").cast("double") /
            col("h_a_nano_nats").cast("double")).cast("long"))
          .as("u_micro"))
  }

  /**
   * Durbin–Watson statistic per key (Durbin & Watson '50) — the
   * first-order serial-correlation check on an ordered residual/metric
   * series (training-loss curves, per-user engagement residuals):
   *
   *   DW = Σ_{t≥2} (x_t − x_{t−1})² / Σ x_t²   ∈ [0, 4]; 2 = none
   *
   * Both sums accumulate in DECIMAL(38,0) from the first multiply (a
   * long diff² wraps silently past 2^63); ONE round-once micro
   * division. Input values are integral by contract (quantize
   * upstream). NULL when n < 2 or Σx² = 0.
   *
   * Scale shape: one key-partitioned lag-1 window (rows shuffle once,
   * by key), then one map-side-combinable groupBy — the series never
   * sorts globally and no state beyond the single lag row exists.
   *
   * Returns keys + (n, dw_micro).
   */
  def durbinWatson(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val w = W.partitionBy(keys.map(col): _*).orderBy(col("__t"))
    val base = df
      .where(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(keys.map(col) :+ col(orderCol).as("__t") :+
        col(valueCol).cast("long").as("__x"): _*)
      .withColumn("__lag", lag(col("__x"), 1).over(w))
    val xd = col("__x").cast(dec)
    val dd = (col("__x") - col("__lag")).cast(dec)
    val m = base.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(xd * xd).as("__den"),
      sum(when(col("__lag").isNotNull, dd * dd).otherwise(lit(0).cast(dec)))
        .as("__num"))
    m.select(keys.map(col) :+ col("n") :+
      when(col("n") < 2L || col("__den") === 0L, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * col("__num").cast("double") /
          col("__den").cast("double")).cast("long")).as("dw_micro"): _*)
  }

  /**
   * Wald–Wolfowitz runs test per key ('40) — "is this binary sequence
   * random, or does it streak?" (flaky-test detection, label-order
   * leakage, drift in a boolean health signal). With n₁ trues, n₂
   * falses and R observed runs (maximal same-value blocks):
   *
   *   μ_R = 2n₁n₂/n + 1,  σ²_R = 2n₁n₂(2n₁n₂ − n) / (n²(n−1))
   *   z   = (R − μ_R)/σ_R
   *
   * R is exact (1 + Σ[x_t ≠ x_{t−1}], one lag-1 window); μ and σ²
   * keep exact DECIMAL numerators and divide once each into double;
   * z is a round-once micro. NULL z when either side is empty, n < 2,
   * or σ = 0. Scale shape: the [[durbinWatson]] plan — one key
   * window, one groupBy.
   *
   * Returns keys + (n_pos, n_neg, runs, z_micro).
   */
  def runsTest(df: DataFrame, keys: Seq[String], orderCol: String,
      flagCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val w = W.partitionBy(keys.map(col): _*).orderBy(col("__t"))
    val base = df
      .where(col(flagCol).isNotNull && col(orderCol).isNotNull)
      .select(keys.map(col) :+ col(orderCol).as("__t") :+
        col(flagCol).cast("boolean").as("__x"): _*)
      .withColumn("__brk",
        when(lag(col("__x"), 1).over(w).isNull ||
          lag(col("__x"), 1).over(w) =!= col("__x"), 1L).otherwise(0L))
    val m = base.groupBy(keys.map(col): _*).agg(
      count(when(col("__x"), 1)).as("n_pos"),
      count(when(!col("__x"), 1)).as("n_neg"),
      sum("__brk").as("runs"))
    val n1 = col("n_pos").cast(dec); val n2 = col("n_neg").cast(dec)
    val n = n1 + n2
    val two = lit(2).cast(dec)
    val muNum = two * n1 * n2 + n          // μ = muNum / n
    val varNum = two * n1 * n2 * (two * n1 * n2 - n) // σ² = varNum/(n²(n−1))
    val sigma = sqrt(varNum.cast("double") /
      (n * n * (n - lit(1).cast(dec))).cast("double"))
    m.select(keys.map(col) :+ col("n_pos") :+ col("n_neg") :+ col("runs") :+
      when(col("n_pos") === 0L || col("n_neg") === 0L ||
          n < lit(2).cast(dec) || varNum <= lit(0).cast(dec),
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) *
          (col("runs").cast("double") -
            muNum.cast("double") / n.cast("double")) / sigma)
          .cast("long")).as("z_micro"): _*)
  }

  /**
   * Ljung–Box portmanteau statistic per key ('78) — "is there ANY
   * autocorrelation in the first h lags", the whiteness check run
   * after [[acf]]:
   *
   *   Q = n(n+2) Σ_{k=1..h} ρ̂_k² / (n−k)
   *
   * Composes [[acf]] by CONTRACT on its quantized output: each ρ̂_k is
   * the published r_micro, each per-lag term is the exact integer
   * (r_micro² · 10⁶) div (n−k), and the integer term sum is
   * order-independent — both engines replay bit-for-bit (summing raw
   * double terms would make the result depend on Spark's partial-agg
   * order). One round-once division at the end. Lags with NULL
   * r_micro (constant series) contribute 0; NULL q when n ≤ h.
   * Scale shape: [[acf]]'s one window + one groupBy, then an h-row
   * per-key rollup.
   *
   * Returns keys + (n, h, q_micro).
   */
  def ljungBox(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, maxLag: Int = 8): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(maxLag >= 1 && maxLag <= 32, s"maxLag in [1,32], got $maxLag")
    val dec = "decimal(38,0)"
    val r = acf(df, keys, orderCol, valueCol, maxLag)
    val terms = r.withColumn("__term",
      when(col("r_micro").isNull, lit(0L))
        .otherwise(expr("cast((cast(r_micro as decimal(38,0)) * r_micro" +
          " * 1000000) div n_pairs as bigint)")))
    // lag is row-based, so n_pairs(k) = n − k exactly: n recovers from
    // the lag-1 row with no second corpus scan
    val s = terms.groupBy(keys.map(col): _*)
      .agg(sum("__term").as("__s"), count(lit(1)).as("h"),
        (max(when(col("lag") === 1, col("n_pairs"))) + lit(1L)).as("n"))
    s.select(keys.map(col) :+ col("n") :+ col("h") :+
      when(col("n") <= col("h"), lit(null).cast("long"))
        .otherwise(round(
          (col("n").cast(dec) * (col("n") + lit(2)).cast(dec))
            .cast("double") * col("__s").cast("double") / 1e12)
          .cast("long")).as("q_micro"): _*)
  }

  /**
   * Jarque–Bera normality test per key ('80) — "does this metric even
   * look Gaussian" before anyone reaches for a z-test:
   *
   *   JB = n/6 · (S² + K²/4),  S = M₃/M₂^{3/2},  K = M₄/M₂² − 3
   *
   * with the scale-free central-moment ratios built from exact
   * single-pass power sums (s₁..s₄ in DECIMAL(38,0)):
   *
   *   M₂ = n·s₂ − s₁²                       (= n²·m₂)
   *   M₃ = n²·s₃ − 3n·s₁·s₂ + 2s₁³          (= n³·m₃)
   *   M₄ = n³·s₄ − 4n²·s₁·s₃ + 6n·s₁²·s₂ − 3s₁⁴  (= n⁴·m₄)
   *
   * (the n-powers cancel in S and K exactly). m₂^{3/2} is M₂·√M₂ —
   * sqrt is IEEE-exact in both engines, so no pow() parity risk.
   * Overflow bound is explicit: s₁⁴ needs (n·v_max)⁴ < 10³⁸, i.e.
   * n·v_max < 10^9.5 per key — micro-unit values are the wrong scale
   * here, use centi units ([[quantizeStep]] with a coarse maxBins);
   * past the bound ANSI decimal fails loud, never wraps. NULL when
   * n < 2 or M₂ = 0. Scale shape: ONE map-side-combinable groupBy.
   *
   * Returns keys + (n, skew_micro, kurt_micro, jb_micro).
   */
  def jarqueBera(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val m = df
      .where(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__v").cast(dec)).as("__s1"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__s2"),
        sum(col("__v").cast(dec) * col("__v").cast(dec) *
          col("__v").cast(dec)).as("__s3"),
        sum(col("__v").cast(dec) * col("__v").cast(dec) *
          col("__v").cast(dec) * col("__v").cast(dec)).as("__s4"))
    val n = col("__n"); val s1 = col("__s1"); val s2 = col("__s2")
    val s3 = col("__s3"); val s4 = col("__s4")
    val m2 = n * s2 - s1 * s1
    val m3 = n * n * s3 - lit(3).cast(dec) * n * s1 * s2 +
      lit(2).cast(dec) * s1 * s1 * s1
    val m4 = n * n * n * s4 - lit(4).cast(dec) * n * n * s1 * s3 +
      lit(6).cast(dec) * n * s1 * s1 * s2 -
      lit(3).cast(dec) * s1 * s1 * s1 * s1
    val m2d = m2.cast("double"); val m3d = m3.cast("double")
    val m4d = m4.cast("double")
    val skew = m3d / (m2d * sqrt(m2d))
    val kurt = m4d / (m2d * m2d) - lit(3.0)
    val bad = n < lit(2).cast(dec) || m2 <= lit(0).cast(dec)
    m.select(keys.map(col) :+ n.cast("long").as("n") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * skew).cast("long")).as("skew_micro") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * kurt).cast("long")).as("kurt_micro") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * n.cast("double") / lit(6.0) *
          (skew * skew + kurt * kurt / lit(4.0))).cast("long"))
        .as("jb_micro"): _*)
  }

  /**
   * Cochran's Q per key ('50) — the k-treatment extension of
   * [[mcnemar]] for PAIRED binary outcomes ("did any of these k
   * checkers/judges/configs behave differently on the same items"):
   *
   *   Q = (k−1)·[k·ΣG_j² − (ΣG_j)²] / [k·ΣL_i − ΣL_i²]
   *
   * with G_j = successes of treatment j, L_i = successes of item i —
   * EXACT integers end to end, one round-once micro division. Blocks
   * must be complete by contract (every item × every treatment);
   * build absence-as-failure upstream if the panel is sparse. Fails
   * loud when an item's treatment count differs from k (the
   * [[chiSquareKxM]] maxLevels discipline — a silent incomplete
   * block would bias Q, not error).
   *
   * Scale shape: one item-level rollup (map-side combinable; items
   * shuffle once), one treatment-level rollup (k rows), both reduced
   * before the two one-row sides cross-join — the corpus never sorts
   * and nothing key-wide ever sits on the driver.
   *
   * Returns keys + (n_items, k, q_micro); NULL when the denominator
   * is 0 (all items all-success or all-failure) or k < 2.
   */
  def cochranQ(df: DataFrame, keys: Seq[String], itemCol: String,
      treatmentCol: String, outcomeCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val base = df
      .where(col(itemCol).isNotNull && col(treatmentCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(keys.map(col) :+ col(itemCol).as("__i") :+
        col(treatmentCol).as("__j") :+
        col(outcomeCol).cast("boolean").as("__y"): _*)
    val k = base.groupBy(keys.map(col): _*)
      .agg(countDistinct("__j").as("__k"))
    // item rollup carries its own treatment count so incomplete
    // blocks fail loud at the join below
    val items = base.groupBy(keys.map(col) :+ col("__i"): _*)
      .agg(count(lit(1)).as("__ki"),
        count(when(col("__y"), 1)).as("__li"))
    val itemSums = items.join(broadcast(k), keys)
      .withColumn("__li", when(col("__ki") === col("__k"), col("__li"))
        .otherwise(raise_error(concat(lit("cochran_q: item "),
          col("__i").cast("string"), lit(" has "), col("__ki"),
          lit(" treatments, expected "), col("__k"),
          lit(" — blocks must be complete (absence-as-failure upstream)")))))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_items"),
        sum(col("__li").cast(dec)).as("__sl"),
        sum(col("__li").cast(dec) * col("__li").cast(dec)).as("__sl2"))
    val treatSums = base.groupBy(keys.map(col) :+ col("__j"): _*)
      .agg(count(when(col("__y"), 1)).as("__gj"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__gj").cast(dec)).as("__sg"),
        sum(col("__gj").cast(dec) * col("__gj").cast(dec)).as("__sg2"))
    val kd = col("__k").cast(dec)
    val num = (kd - lit(1).cast(dec)) *
      (kd * col("__sg2") - col("__sg") * col("__sg"))
    val den = kd * col("__sl") - col("__sl2")
    itemSums.join(treatSums, keys).join(broadcast(k), keys)
      .select(keys.map(col) :+ col("n_items") :+
        col("__k").as("k") :+
        when(col("__k") < 2L || den <= lit(0).cast(dec),
          lit(null).cast("long"))
          .otherwise(round(lit(1e6) * num.cast("double") /
            den.cast("double")).cast("long")).as("q_micro"): _*)
  }

  /**
   * Bartlett's test for equal variances per key ('37) — the
   * variance-homogeneity gate in front of [[anovaF]] (pooled-variance
   * ANOVA assumes it; [[brownForsythe]] is the robust fallback):
   *
   *   χ² = [(N−k)·ln s²_p − Σ(n_g−1)·ln s²_g] / C
   *   C  = 1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1))
   *
   * Engine-replayable by the same per-term-rounding discipline as
   * [[mutualInformation]]: each group's ln-variance term, its
   * 1e9·ssn/n within-SS share, and its 1/(n_g−1) reciprocal are
   * rounded to nano INTEGERS per group and summed order-independently
   * (raw double sums would depend on partial-agg order); s²_g keeps
   * the exact DECIMAL numerator ssn_g = n_g·Σv² − (Σv)² under a
   * single log. NULL when k < 2, any n_g < 2, or any group has zero
   * variance (ln 0). Scale shape: one (key, group) moment groupBy,
   * one per-key rollup — both map-side combinable, no windows.
   *
   * Returns keys + (k, n, chi2_micro).
   */
  def bartlett(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val g = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(groupCol).cast("string").as("__g") :+
        col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col) :+ col("__g"): _*)
      .agg(count(lit(1)).cast(dec).as("__ng"),
        sum(col("__v").cast(dec)).as("__sg"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__qg"))
    val ng = col("__ng")
    val ssn = ng * col("__qg") - col("__sg") * col("__sg")
    val withTerms = g
      .withColumn("__ssn", ssn)
      .withColumn("__lnterm",
        when(ng < 2L || col("__ssn") <= 0L, lit(null).cast(dec))
          .otherwise(round(lit(1e9) * (ng - lit(1)).cast("double") *
            log(col("__ssn").cast("double") /
              (ng * (ng - lit(1))).cast("double"))).cast(dec)))
      .withColumn("__tnano",
        round(lit(1e9) * col("__ssn").cast("double") / ng.cast("double"))
          .cast(dec))
      .withColumn("__inv",
        when(ng < 2L, lit(null).cast("long"))
          .otherwise(round(lit(1e9) / (ng - lit(1)).cast("double"))
            .cast("long")))
    val m = withTerms.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("k"),
        sum(ng).cast("long").as("n"),
        min(ng.cast("long")).as("__minn"),
        min(col("__ssn")).as("__minssn"),
        sum("__lnterm").as("__T"),
        sum("__tnano").as("__ssw"),
        sum("__inv").as("__invs"))
    val kD = col("k").cast("double")
    val nmkD = (col("n") - col("k")).cast("double")
    val sswD = col("__ssw").cast("double")
    val chi2 = nmkD * (log(sswD) - log(lit(1e9) * nmkD)) -
      col("__T").cast("double") / lit(1e9)
    val c = lit(1.0) + (col("__invs").cast("double") / lit(1e9) -
      lit(1.0) / nmkD) / (lit(3.0) * (kD - lit(1.0)))
    m.select(keys.map(col) :+ col("k") :+ col("n") :+
      when(col("k") < 2L || col("__minn") < 2L ||
          col("__minssn") <= lit(0).cast(dec) || col("__ssw") <= 0L,
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) * chi2 / c).cast("long"))
        .as("chi2_micro"): _*)
  }

  /**
   * Mood's median test per key ('50) — the nonparametric k-group
   * location test that only needs COUNTS above/below the pooled
   * median (robust to any monotone transform; the coarse cousin of
   * [[kruskalWallis]] when ranks are overkill):
   *
   * pooled lower median = min v with 2·cum(v) ≥ N over the per-key
   * distinct-value histogram (one cumulative window over DISTINCT
   * values only — the corpus never sorts), then the k×2 χ² over
   * (group, above-median) counts with the [[chiSquareKxM]] exact
   * per-cell nano terms ((o·N − r·c)² over N·r·c, round-once each).
   * NULL χ² when k < 2 or the median splits degenerately (all mass
   * one side). maxGroups fails loud on an unbounded group column.
   *
   * Returns keys + (n, med, k_groups, dof, chi2_micro).
   */
  def moodsMedian(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String, maxGroups: Int = 1000): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val base = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(groupCol).cast("string").as("__a") :+
        col(valueCol).cast("long").as("__v"): _*)
    val wc = W.partitionBy(keys.map(col): _*).orderBy(col("__v"))
    val wk = W.partitionBy(keys.map(col): _*)
    val med = base.groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum("__c").over(wc))
      .withColumn("__N", sum("__c").over(wk))
      .where(lit(2L) * col("__cum") >= col("__N"))
      .groupBy(keys.map(col): _*).agg(min("__v").as("med"))
    // the (group, above-median) table within each (key, med): med is
    // one value per key, so it rides along as a key column
    val km = keys :+ "med"
    val t = contingency(base.join(med, keys)
        .withColumn("__b", (col("__v") > col("med")).cast("string")),
      km, "moods_median", (groupCol, "the above-median flag"), "maxGroups",
      maxGroups)
    val grid = t.ra.join(t.cb, km)
      .join(t.cells, km ++ Seq("__a", "__b"), "left")
      .na.fill(0L, Seq("__o"))
      .join(t.tot, km)
    val num = col("__o").cast(dec) * col("__N") -
      col("__ra").cast(dec) * col("__cb")
    val summed = grid
      .withColumn("__num2", num * num)
      .withColumn("__t", expr("cast(round(1e9 * cast(__num2 as double) / " +
        "cast(cast(__N as decimal(38,0)) * __ra * __cb as double)) as bigint)"))
      .groupBy(km.map(col): _*)
      .agg(max("__N").as("n"), levelCounts("k_groups", "__ml") :+
        sum("__t").as("__chi2n"): _*)
    summed.select(keys.map(col) :+ col("n") :+ col("med") :+
      col("k_groups") :+ (col("k_groups") - 1L).as("dof") :+
      when(col("k_groups") < 2L || col("__ml") < 2L,
        lit(null).cast("long"))
        .otherwise(round(col("__chi2n").cast("double") / lit(1e3))
          .cast("long")).as("chi2_micro"): _*)
  }

  /**
   * Restricted mean survival time per key (Royston & Parmar '13 for
   * the reporting case) — "average days survived in the first τ", the
   * clinically-readable area under the [[kaplanMeier]] curve that
   * stays defined under heavy censoring where the median never
   * resolves:
   *
   *   RMST(τ) = ∫₀^τ Ŝ(t) dt = Σᵢ Ŝ(t_{i−1})·(tᵢ−t_{i−1}) + Ŝ(t_L)·(τ−t_L)
   *
   * Composes [[kaplanMeier]] by CONTRACT on its published quantized
   * `km_log_unats`: each step's area term is rounded ONCE to micro
   * units (exp of the cumulative log — exp, like ln, replays across
   * engines under per-term rounding) and the integer terms sum
   * order-independently. The step function is right-continuous (the
   * segment (t_{i−1}, tᵢ] carries S(t_{i−1}); S(0)=1); extinction
   * rows (S=0, NULL log) close the area exactly. The τ filter is
   * applied to the KM RESULT, after its windows — n_risk must keep
   * counting subjects whose durations exceed τ.
   *
   * Scale shape: [[kaplanMeier]]'s distinct-time table + one more
   * lag-1 window over the same per-key ordering — never subject rows.
   *
   * Returns keys + (tau, n_times, rmst_micro).
   */
  def rmst(df: DataFrame, keys: Seq[String], durationCol: String,
      eventCol: String, tau: Long): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(tau > 0L, s"tau must be positive, got $tau")
    val W = org.apache.spark.sql.expressions.Window
    val km = kaplanMeier(df, keys, durationCol, eventCol)
      .where(col("t") <= tau && col("t") >= 0L)
    val w = W.partitionBy(keys.map(col): _*).orderBy(col("t"))
    val wk = W.partitionBy(keys.map(col): _*)
    val stepped = km
      .withColumn("__prevT", coalesce(lag(col("t"), 1).over(w), lit(0L)))
      .withColumn("__prevLog",
        coalesce(lag(col("km_log_unats"), 1).over(w), lit(0L)))
      .withColumn("__s", when(col("km_log_unats").isNull, lit(0.0))
        .otherwise(exp(col("km_log_unats").cast("double") / lit(1e6))))
      .withColumn("__contrib", round(lit(1e6) *
        exp(col("__prevLog").cast("double") / lit(1e6)) *
        (col("t") - col("__prevT")).cast("double")).cast("long"))
      .withColumn("__maxT", max(col("t")).over(wk))
      .withColumn("__tail", when(col("t") === col("__maxT") &&
          col("t") < tau,
        round(lit(1e6) * col("__s") *
          (lit(tau) - col("t")).cast("double")).cast("long"))
        .otherwise(lit(0L)))
    stepped.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_times"),
        (sum("__contrib") + sum("__tail")).as("rmst_micro"))
      .select(keys.map(col) :+ lit(tau).as("tau") :+ col("n_times") :+
        col("rmst_micro"): _*)
  }

  /**
   * Gehan–Breslow–Wilcoxon test per key ('65) — the early-difference
   * twin of [[logRank]]: weights each distinct event time by the
   * at-risk count n, so divergence while MOST subjects are still
   * alive (early churn) dominates, where log-rank weights all times
   * equally and late tails can mask it. With the same hypergeometric
   * moments:
   *
   *   z = Σ n·(O_A−E_A) / √(Σ n²·V)
   *
   * The n-weights CANCEL the rational denominators: n·(O−E) =
   * d_A·n − d·n_A is an EXACT integer (micro-scaled, no division at
   * all) and n²·V = d·n_A·(n−n_A)·(n−d)/(n−1) has one division point
   * — tighter than unweighted log-rank's two. Terms round once to
   * micro and sum in DECIMAL(38,0) (they carry an extra n factor over
   * log-rank's, so long sums would wrap ~n× sooner). NULL z when
   * ΣV = 0. Scale shape: identical to [[logRank]] — distinct times,
   * never subject rows, zero joins.
   *
   * Returns keys + (n_times, oe_w_sum_micro, var_w_sum_micro,
   * z_micro).
   */
  def gehanWilcoxon(df: DataFrame, keys: Seq[String], groupCol: String,
      durationCol: String, eventCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val W = org.apache.spark.sql.expressions.Window
    val perT = df
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(durationCol).cast("long").as("__t") :+
        col(eventCol).cast("boolean").as("__e") :+
        col(groupCol).cast("boolean").as("__g"): _*)
      .groupBy(keys.map(col) :+ col("__t"): _*)
      .agg(count(lit(1)).as("__m"),
        count(when(col("__g"), 1)).as("__ma"),
        count(when(col("__e"), 1)).as("__d"),
        count(when(col("__e") && col("__g"), 1)).as("__da"))
    val wDesc = W.partitionBy(keys.map(col): _*).orderBy(col("__t").desc)
      .rowsBetween(W.unboundedPreceding, 0)
    val risky = perT
      .withColumn("__n", sum("__m").over(wDesc))
      .withColumn("__na", sum("__ma").over(wDesc))
      .where(col("__d") > 0L)
    val dec = "decimal(38,0)"
    def D(c: Column): Column = c.cast(dec)
    // n·(O−E) is exact: micro-scale it with NO division point
    val oeT = (D(col("__da")) * col("__n") - D(col("__d")) * col("__na")) *
      lit(1000000).cast(dec)
    val vT = when(col("__n") === 1L, lit(0).cast(dec))
      .otherwise(round(lit(1e6) *
        (D(col("__d")) * col("__na") * (col("__n") - col("__na")) *
          (col("__n") - col("__d"))).cast("double") /
        (col("__n") - lit(1L)).cast("double")).cast(dec))
    risky
      .withColumn("__oe", oeT).withColumn("__v", vT)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_times"),
        sum("__oe").as("__oes"), sum("__v").as("__vs"))
      .select(keys.map(col) :+ col("n_times") :+
        col("__oes").cast("long").as("oe_w_sum_micro") :+
        col("__vs").cast("long").as("var_w_sum_micro") :+
        when(col("__vs") <= lit(0).cast(dec), lit(null).cast("long"))
          .otherwise(round(lit(1e3) * col("__oes").cast("double") /
            sqrt(col("__vs").cast("double"))).cast("long"))
          .as("z_micro"): _*)
  }

  /**
   * Theil T + Atkinson(ε=1) inequality indices per key (Theil '67;
   * Atkinson '70) — "how unevenly is this metric distributed",
   * value-weighted where [[giniConcentration]] ranks key COUNTS
   * (compute share, token budget, per-tenant cost):
   *
   *   T    = Σ x·ln x / (n·μ) − ln μ          (0 = equal, ln n = max)
   *   A(1) = 1 − geomean(x)/μ
   *
   * Per-DISTINCT-value nano terms c·v·ln v and c·ln v round once and
   * sum order-independently (the [[mutualInformation]] discipline);
   * Σx and n stay exact DECIMAL. Values must be POSITIVE — a zero or
   * negative value fails loud (ln is undefined; silently dropping
   * mass would understate inequality). Scale shape: one distinct-value
   * histogram groupBy per key, one rollup — no windows, no joins.
   *
   * Returns keys + (n, theil_micro, atkinson_micro).
   */
  def theilInequality(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val hist = df
      .where(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__c", when(col("__v") > 0L, col("__c"))
        .otherwise(raise_error(concat(
          lit("theil_inequality: value "), col("__v"),
          lit(" is not positive — ln is undefined; filter or shift " +
            "upstream DELIBERATELY")))))
    val cd = col("__c").cast(dec); val vd = col("__v").cast(dec)
    val m = hist
      .withColumn("__t", round(lit(1e9) * (cd * vd).cast("double") *
        log(col("__v").cast("double"))).cast(dec))
      .withColumn("__g", round(lit(1e9) * cd.cast("double") *
        log(col("__v").cast("double"))).cast(dec))
      .groupBy(keys.map(col): _*)
      .agg(sum(cd).as("__n"), sum(cd * vd).as("__s"),
        sum("__t").as("__L"), sum("__g").as("__G"))
    val nd = col("__n").cast("double"); val sd = col("__s").cast("double")
    val lnMu = log(sd / nd)
    m.select(keys.map(col) :+ col("__n").cast("long").as("n") :+
      round(lit(1e6) * (col("__L").cast("double") / lit(1e9) / sd - lnMu))
        .cast("long").as("theil_micro") :+
      round(lit(1e6) * (lit(1.0) -
        exp(col("__G").cast("double") / lit(1e9) / nd - lnMu)))
        .cast("long").as("atkinson_micro"): _*)
  }

  /**
   * Exact α-trimmed mean per key — the robust location estimate that
   * survives the heavy-tail/outlier regimes where the plain mean is
   * one bot away from garbage (the reporting companion to
   * [[winsorize]], which clips ROWS; this trims the AGGREGATE):
   * drop the lowest and highest g = ⌊n·trim⌋ observations, average
   * the rest — computed EXACTLY over the per-key distinct-value
   * histogram, no row sort:
   *
   *   kept(v) = clamp(min(cum(v), n−g) − max(cum(v)−c(v), g), ≥0)
   *   mean    = Σ kept(v)·v / (n − 2g)     (one round-once division)
   *
   * Scale shape: one histogram groupBy, one cumulative window over
   * DISTINCT values per key, one rollup. NULL when n − 2g ≤ 0
   * (over-trimmed).
   *
   * Returns keys + (n, trimmed_n, trimmed_mean_micro).
   */
  def trimmedMean(df: DataFrame, keys: Seq[String], valueCol: String,
      trimPpm: Long = 100000L): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(trimPpm >= 0L && trimPpm < 500000L,
      s"trimPpm must be in [0, 500000), got $trimPpm")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val wc = W.partitionBy(keys.map(col): _*).orderBy(col("__v"))
      .rowsBetween(W.unboundedPreceding, 0)
    val wk = W.partitionBy(keys.map(col): _*)
    val hist = df
      .where(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum("__c").over(wc))
      .withColumn("__n", sum("__c").over(wk))
      .withColumn("__g", expr(s"(__n * ${trimPpm}L) div 1000000"))
    val kept = greatest(
      least(col("__cum"), col("__n") - col("__g")) -
        greatest(col("__cum") - col("__c"), col("__g")),
      lit(0L))
    hist
      .withColumn("__kept", kept)
      .groupBy(keys.map(col): _*)
      .agg(max("__n").as("n"), max("__g").as("__gm"),
        sum(col("__kept").cast(dec) * col("__v").cast(dec)).as("__ks"))
      .select(keys.map(col) :+ col("n") :+
        (col("n") - lit(2L) * col("__gm")).as("trimmed_n") :+
        when(col("n") - lit(2L) * col("__gm") <= 0L,
          lit(null).cast("long"))
          .otherwise(round(lit(1e6) * col("__ks").cast("double") /
            (col("n") - lit(2L) * col("__gm")).cast("double"))
            .cast("long")).as("trimmed_mean_micro"): _*)
  }

  /**
   * Page–Hinkley mean-shift detector per key (Page '54; Hinkley '71)
   * — the drift-with-memory cousin of [[cusum]]: where CUSUM tracks
   * deviation from a FIXED reference, PH tracks deviation from the
   * RUNNING mean, so it needs no calibrated baseline:
   *
   *   m_T  = Σ_{t≤T} (x_t − x̄_t − δ),   PH_T = m_T − min_{t≤T} m_t
   *   alarm when PH_T > λ
   *
   * Each row's term rounds ONCE to micro (the running mean x̄_t =
   * cumsum/t is the single double division; round is HALF_UP =
   * ties-away-from-zero on BOTH engines) and the cumulative m / its
   * prefix min are exact integer window sums — engine-replayable.
   * `orderCol` must be unique per key by contract (ties would make
   * the prefix nondeterministic). Returns the FINAL row per key.
   *
   * Scale shape: one key-partitioned window pass (rows shuffle once),
   * one max-struct rollup. The streaming twin is
   * [[graft.streaming.StreamingPipeline.pageHinkleyStream]] (state:
   * 4 longs per key).
   *
   * Returns keys + (n, m_micro, ph_micro, alarm).
   */
  def pageHinkley(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, deltaMicro: Long = 0L,
      lambdaMicro: Long): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(lambdaMicro > 0L, s"lambdaMicro must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(keys.map(col): _*).orderBy(col("__t"))
      .rowsBetween(W.unboundedPreceding, 0)
    val base = df
      .where(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(keys.map(col) :+ col(orderCol).cast("long").as("__t") :+
        col(valueCol).cast("long").as("__x"): _*)
      .withColumn("__cs", sum("__x").over(w))
      .withColumn("__cn", count(lit(1)).over(w))
      .withColumn("__term", round(lit(1e6) *
        (col("__x").cast("double") -
          col("__cs").cast("double") / col("__cn").cast("double")))
        .cast("long") - lit(deltaMicro))
      .withColumn("__m", sum("__term").over(w))
      .withColumn("__minm", min("__m").over(w))
    base.groupBy(keys.map(col): _*)
      .agg(max(struct(col("__t"), col("__cn"), col("__m"),
        col("__minm"))).as("__last"))
      .select(keys.map(col) :+ col("__last.__cn").as("n") :+
        col("__last.__m").as("m_micro") :+
        (col("__last.__m") - col("__last.__minm")).as("ph_micro") :+
        (col("__last.__m") - col("__last.__minm") > lambdaMicro)
          .as("alarm"): _*)
  }

  /**
   * Cronbach's alpha per key ('51) — internal-consistency reliability
   * of a k-item panel ("do these k judges/probes/rubric items measure
   * the same thing"), the prerequisite before anyone averages them
   * into one score:
   *
   *   α = k/(k−1) · (1 − Σᵢ var(itemᵢ) / var(total))
   *
   * Every variance keeps its exact DECIMAL numerator ssn = n·Σx²−(Σx)²
   * — the shared n(n−1) denominators CANCEL in the ratio, so the only
   * doubles are the two final divisions. Blocks must be complete
   * (every subject × every item — fails loud per the [[cochranQ]]
   * discipline). NULL when k < 2 or var(total) = 0.
   *
   * Scale shape: one (key, item) moment rollup + one (key, subject)
   * total rollup feeding a per-key variance — all map-side
   * combinable; subjects shuffle once each way, never sort.
   *
   * Returns keys + (n_subjects, k_items, alpha_micro).
   */
  def cronbachAlpha(df: DataFrame, keys: Seq[String], subjectCol: String,
      itemCol: String, scoreCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val base = df
      .where(col(subjectCol).isNotNull && col(itemCol).isNotNull &&
        col(scoreCol).isNotNull)
      .select(keys.map(col) :+ col(subjectCol).as("__s") :+
        col(itemCol).as("__i") :+ col(scoreCol).cast("long").as("__x"): _*)
    val k = base.groupBy(keys.map(col): _*)
      .agg(countDistinct("__i").as("__k"))
    val items = base.groupBy(keys.map(col) :+ col("__i"): _*)
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__x").cast(dec)).as("__si"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__qi"))
      .withColumn("__ssn",
        col("__n") * col("__qi") - col("__si") * col("__si"))
      .groupBy(keys.map(col): _*)
      .agg(sum("__ssn").as("__ssi"))
    val subj = base.groupBy(keys.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__ks"), sum("__x").as("__T"))
    val totals = subj.join(broadcast(k), keys)
      .withColumn("__T", when(col("__ks") === col("__k"), col("__T"))
        .otherwise(raise_error(concat(lit("cronbach_alpha: subject "),
          col("__s").cast("string"), lit(" has "), col("__ks"),
          lit(" items, expected "), col("__k"),
          lit(" — blocks must be complete")))))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast(dec).as("__ns"),
        sum(col("__T").cast(dec)).as("__st"),
        sum(col("__T").cast(dec) * col("__T").cast(dec)).as("__qt"))
      .withColumn("__sst",
        col("__ns") * col("__qt") - col("__st") * col("__st"))
    val kd = col("__k").cast("double")
    items.join(totals, keys).join(broadcast(k), keys)
      .select(keys.map(col) :+ col("__ns").cast("long").as("n_subjects") :+
        col("__k").as("k_items") :+
        when(col("__k") < 2L || col("__sst") <= lit(0).cast(dec),
          lit(null).cast("long"))
          .otherwise(round(lit(1e6) * kd / (kd - lit(1.0)) *
            (lit(1.0) - col("__ssi").cast("double") /
              col("__sst").cast("double"))).cast("long"))
          .as("alpha_micro"): _*)
  }

  /**
   * Two-proportion z test + Wilson 95% intervals per key — the
   * conversion-rate A/B readout ("did the success RATE move, and what
   * are the honest brackets"), where [[chiSquare2x2]] answers the same
   * null via counts but gives no interval:
   *
   *   z = (p̂_A − p̂_B) / √(p̂(1−p̂)(1/n_A + 1/n_B)),  p̂ pooled
   *   Wilson: (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
   *           with z = 1.96 (the 95% normal quantile, documented)
   *
   * Success/trial counts are exact; each published number is one
   * round-once ppm expression over them (identical double trees both
   * engines). z NULL when either side is empty or the pooled rate is
   * degenerate (0 or 1). Scale shape: ONE map-side-combinable groupBy
   * — four conditional counts per key, nothing else.
   *
   * Returns keys + (n_a, s_a, n_b, s_b, z_micro, a_lo_ppm, a_hi_ppm,
   * b_lo_ppm, b_hi_ppm).
   */
  def twoProportionZ(df: DataFrame, keys: Seq[String], groupCol: String,
      successCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val g = col(groupCol).cast("boolean")
    val s = col(successCol).cast("boolean")
    val m = df
      .where(g.isNotNull && s.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(when(g, 1)).as("n_a"),
        count(when(g && s, 1)).as("s_a"),
        count(when(!g, 1)).as("n_b"),
        count(when(!g && s, 1)).as("s_b"))
    val naD = col("n_a").cast("double"); val saD = col("s_a").cast("double")
    val nbD = col("n_b").cast("double"); val sbD = col("s_b").cast("double")
    val pPool = (saD + sbD) / (naD + nbD)
    val z = (saD / naD - sbD / nbD) /
      sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / naD + lit(1.0) / nbD))
    def wilson(sD: Column, nD: Column, hi: Boolean): Column = {
      val z2 = lit(1.96 * 1.96)
      val p = sD / nD
      val center = p + z2 / (lit(2.0) * nD)
      val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / nD +
        z2 / (lit(4.0) * nD * nD))
      val denom = lit(1.0) + z2 / nD
      round(lit(1e6) *
        (if (hi) center + half else center - half) / denom).cast("long")
    }
    m.select(keys.map(col) :+ col("n_a") :+ col("s_a") :+ col("n_b") :+
      col("s_b") :+
      when(col("n_a") === 0L || col("n_b") === 0L ||
          col("s_a") + col("s_b") === 0L ||
          col("s_a") + col("s_b") === col("n_a") + col("n_b"),
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) * z).cast("long")).as("z_micro") :+
      when(col("n_a") === 0L, lit(null).cast("long"))
        .otherwise(wilson(saD, naD, hi = false)).as("a_lo_ppm") :+
      when(col("n_a") === 0L, lit(null).cast("long"))
        .otherwise(wilson(saD, naD, hi = true)).as("a_hi_ppm") :+
      when(col("n_b") === 0L, lit(null).cast("long"))
        .otherwise(wilson(sbD, nbD, hi = false)).as("b_lo_ppm") :+
      when(col("n_b") === 0L, lit(null).cast("long"))
        .otherwise(wilson(sbD, nbD, hi = true)).as("b_hi_ppm"): _*)
  }

  /**
   * Hellinger + Bhattacharyya two-sample distances — the
   * drift-family members with METRIC semantics ([[ksStatistic]] is a
   * max-gap, [[distributionDistance]] mass/shape, these are the
   * geometry: Hellinger is a true bounded metric in [0,1],
   * Bhattacharyya the log-overlap that dominates classification
   * error bounds):
   *
   *   BC = Σᵢ √(pᵢ·qᵢ),   H = √(1−BC),   D_B = −ln BC
   *
   * Per-DISTINCT-value nano terms √(cₐ·c_b) round once and sum
   * order-independently (cₐ·c_b exact DECIMAL under the sqrt — the
   * side totals factor out of the root and divide once at the end).
   * D_B is NULL on disjoint supports (BC = 0). Inputs integral by
   * contract ([[quantizeStep]]). Scale shape: one groupBy per side,
   * one inner equi-join of distinct-value tables (only SHARED values
   * carry mass — no full-outer needed), one-row totals broadcast; no
   * windows at all.
   *
   * Returns one row: (n_ref, n_cur, bc_ppm, hellinger_micro,
   * bhattacharyya_micro).
   */
  def hellingerDistance(ref: DataFrame, cur: DataFrame,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def side(df: DataFrame, n: String): DataFrame = df
      .select(col(valueCol).cast("long").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy("__v").agg(count(lit(1)).as(n))
    val a = side(ref, "__ca"); val b = side(cur, "__cb")
    val shared = a.join(b, Seq("__v"))
      .withColumn("__t", round(lit(1e9) * sqrt(
        (col("__ca").cast(dec) * col("__cb").cast(dec)).cast("double")))
        .cast(dec))
      .agg(coalesce(sum("__t"), lit(0).cast(dec)).as("__T"))
    val tot = a.agg(sum("__ca").as("__na"))
      .crossJoin(b.agg(sum("__cb").as("__nb")))
    shared.crossJoin(broadcast(tot))
      .withColumn("__bc", col("__T").cast("double") / lit(1e9) /
        sqrt(col("__na").cast("double") * col("__nb").cast("double")))
      .select(col("__na").as("n_ref"), col("__nb").as("n_cur"),
        round(lit(1e6) * col("__bc")).cast("long").as("bc_ppm"),
        round(lit(1e6) * sqrt(greatest(lit(0.0), lit(1.0) - col("__bc"))))
          .cast("long").as("hellinger_micro"),
        when(col("__bc") <= lit(0.0), lit(null).cast("long"))
          .otherwise(round(lit(-1e6) * log(col("__bc"))).cast("long"))
          .as("bhattacharyya_micro"))
  }

  /**
   * Weighted Cohen's kappa for ORDINAL raters (Cohen '68) — the
   * agreement statistic [[cohenKappa]] cannot express: disagreeing by
   * one rubric level is not the same failure as disagreeing by four.
   * With w_ij = (i−j)² (quadratic, default) or |i−j| (linear):
   *
   *   κ_w = 1 − N·Σ w_ij·o_ij / Σ w_ij·r_i·c_j
   *
   * EXACT integers end to end — observed disagreement needs only the
   * OBSERVED cells (w_ii = 0, absent cells 0), expected disagreement
   * is the dense k×k MARGIN grid (label-sized, broadcast
   * cross-join under a fail-loud maxLevels); one round-once micro
   * division. Labels must be integral ordinal levels. NULL when the
   * expected disagreement is 0 (a single level on either side).
   *
   * Scale shape: one cell groupBy (fact rows shuffle once), two
   * label-sized margins, a k²-row broadcast grid — the corpus never
   * joins itself.
   *
   * Returns one row: (n, k_a, k_b, kappa_w_micro).
   */
  def weightedKappa(df: DataFrame, aCol: String, bCol: String,
      quadratic: Boolean = true, maxLevels: Int = 1000): DataFrame = {
    val dec = "decimal(38,0)"
    def wgt(i: Column, j: Column): Column = {
      val d = abs(i - j).cast(dec)
      if (quadratic) d * d else d
    }
    val t = contingency(pairs(df, aCol, bCol, "long"), Nil, "weighted_kappa",
      (aCol, bCol), "maxLevels", maxLevels)
    val num = t.cells
      .agg(coalesce(sum(wgt(col("__a"), col("__b")) * col("__o")),
        lit(0).cast(dec)).as("__num"),
        sum("__o").cast(dec).as("__N"))
    val den = t.ra.crossJoin(broadcast(t.cb))
      .agg(coalesce(sum(wgt(col("__a"), col("__b")) *
        col("__ra").cast(dec) * col("__cb").cast(dec)),
        lit(0).cast(dec)).as("__den"), levelCounts("k_a", "k_b"): _*)
    broadcast(num).crossJoin(broadcast(den))
      .select(col("__N").cast("long").as("n"), col("k_a"), col("k_b"),
        when(col("__den") <= lit(0).cast(dec), lit(null).cast("long"))
          .otherwise(round(lit(1e6) * (lit(1.0) -
            (col("__N") * col("__num")).cast("double") /
              col("__den").cast("double"))).cast("long"))
          .as("kappa_w_micro"))
  }

  /**
   * Difference-in-differences estimator per key (Card & Krueger '94
   * for the canonical design) — the quasi-experimental readout when
   * treatment was NOT randomized but a pre-period exists:
   *
   *   DID = (ȳ_treated,post − ȳ_treated,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
   *   SE  = √(Σ_cells s²_c/n_c),   t = DID/SE
   *
   * All twelve cell moments (n, Σv, Σv²) land in ONE conditional
   * groupBy row — exact DECIMAL(38,0), every published number a
   * round-once expression over them (no cross-row double sums, so no
   * partial-agg order dependence). NULL when any cell has n < 2.
   * Parallel-trends is the CALLER's design assumption, not checked
   * here. Scale shape: one map-side-combinable groupBy, nothing else.
   *
   * Returns keys + (n_tpre, n_tpost, n_cpre, n_cpost, did_micro,
   * se_micro, t_micro).
   */
  def diffInDiff(df: DataFrame, keys: Seq[String], treatedCol: String,
      postCol: String, valueCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val g = col(treatedCol).cast("boolean")
    val t = col(postCol).cast("boolean")
    val v = col(valueCol).cast("long")
    def cell(name: String, cond: Column): Seq[Column] = Seq(
      count(when(cond, 1)).cast(dec).as(s"__n$name"),
      sum(when(cond, v.cast(dec)).otherwise(lit(0).cast(dec)))
        .as(s"__s$name"),
      sum(when(cond, v.cast(dec) * v.cast(dec))
        .otherwise(lit(0).cast(dec))).as(s"__q$name"))
    val aggs = cell("tp", g && t) ++ cell("tr", g && !t) ++
      cell("cp", !g && t) ++ cell("cr", !g && !t)
    val m = df
      .where(g.isNotNull && t.isNotNull && v.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    def mean(n: String): Column =
      col(s"__s$n").cast("double") / col(s"__n$n").cast("double")
    // s²/n = (n·Σv² − (Σv)²) / (n²(n−1)) — exact numerator, one
    // division point per cell
    def varOverN(n: String): Column =
      (col(s"__n$n") * col(s"__q$n") - col(s"__s$n") * col(s"__s$n"))
        .cast("double") /
        (col(s"__n$n") * col(s"__n$n") * (col(s"__n$n") - lit(1)))
          .cast("double")
    val did = (mean("tp") - mean("tr")) - (mean("cp") - mean("cr"))
    val se = sqrt(varOverN("tp") + varOverN("tr") + varOverN("cp") +
      varOverN("cr"))
    val bad = Seq("tp", "tr", "cp", "cr")
      .map(n => col(s"__n$n") < lit(2).cast(dec)).reduce(_ || _)
    m.select(keys.map(col) :+
      col("__ntr").cast("long").as("n_tpre") :+
      col("__ntp").cast("long").as("n_tpost") :+
      col("__ncr").cast("long").as("n_cpre") :+
      col("__ncp").cast("long").as("n_cpost") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * did).cast("long")).as("did_micro") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * se).cast("long")).as("se_micro") :+
      when(bad || se === lit(0.0), lit(null).cast("long"))
        .otherwise(round(lit(1e6) * did / se).cast("long"))
        .as("t_micro"): _*)
  }

  /**
   * Two-sample Poisson rate-ratio test per key — "did the EVENT RATE
   * per unit exposure change" (errors per request, purchases per
   * user-day), the count-data twin of [[twoProportionZ]]:
   *
   *   RR = (a/T_A)/(b/T_B),   z = ln RR / √(1/a + 1/b)
   *
   * (the standard log-rate Wald test; exposure enters the estimate
   * but not the variance). Event and exposure totals are exact
   * DECIMAL sums from ONE conditional groupBy; RR and z are
   * round-once expressions. NULL when either side has zero events or
   * non-positive exposure. Scale shape: one map-side-combinable
   * groupBy.
   *
   * Returns keys + (events_a, exposure_a, events_b, exposure_b,
   * rate_ratio_ppm, z_micro).
   */
  def poissonRateTest(df: DataFrame, keys: Seq[String], groupCol: String,
      eventsCol: String, exposureCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val g = col(groupCol).cast("boolean")
    val m = df
      .where(g.isNotNull && col(eventsCol).isNotNull &&
        col(exposureCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(g, col(eventsCol).cast(dec)).otherwise(lit(0).cast(dec)))
          .as("__a"),
        sum(when(g, col(exposureCol).cast(dec))
          .otherwise(lit(0).cast(dec))).as("__ta"),
        sum(when(!g, col(eventsCol).cast(dec)).otherwise(lit(0).cast(dec)))
          .as("__b"),
        sum(when(!g, col(exposureCol).cast(dec))
          .otherwise(lit(0).cast(dec))).as("__tb"))
    val aD = col("__a").cast("double"); val bD = col("__b").cast("double")
    val taD = col("__ta").cast("double"); val tbD = col("__tb").cast("double")
    val rr = (aD / taD) / (bD / tbD)
    val z = log(rr) / sqrt(lit(1.0) / aD + lit(1.0) / bD)
    val bad = col("__a") <= lit(0).cast(dec) ||
      col("__b") <= lit(0).cast(dec) ||
      col("__ta") <= lit(0).cast(dec) || col("__tb") <= lit(0).cast(dec)
    m.select(keys.map(col) :+
      col("__a").cast("long").as("events_a") :+
      col("__ta").cast("long").as("exposure_a") :+
      col("__b").cast("long").as("events_b") :+
      col("__tb").cast("long").as("exposure_b") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * rr).cast("long"))
        .as("rate_ratio_ppm") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * z).cast("long")).as("z_micro"): _*)
  }

  /**
   * Intraclass correlation ICC(1,1) per key (Shrout & Fleiss '79) —
   * "how much of the score variance is BETWEEN subjects rather than
   * within them", the reliability number behind repeated measurements
   * and rater panels (the per-rating twin of [[cronbachAlpha]]'s
   * per-instrument view):
   *
   *   ICC = (MSB − MSW) / (MSB + (k−1)·MSW)
   *
   * from the one-way ANOVA mean squares over subjects as groups.
   * Per-subject nano terms (the [[anovaF]] discipline): t_s =
   * round(1e9·(Σx)²/k) sums exactly; SSW = 1e9·ΣΣx² − Σt, SSB =
   * Σt − round(1e9·(ΣΣx)²/N) — every intermediate an exact integer,
   * the mean squares one double division each. Panels must be
   * BALANCED (every subject k ratings — fails loud per the
   * [[cochranQ]] discipline). NULL when n < 2, k < 2, or the
   * denominator is 0. Scale shape: one (key, subject) moment groupBy
   * + one per-key rollup, both map-side combinable.
   *
   * Returns keys + (n_subjects, k_ratings, icc_micro).
   */
  def icc(df: DataFrame, keys: Seq[String], subjectCol: String,
      scoreCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val base = df
      .where(col(subjectCol).isNotNull && col(scoreCol).isNotNull)
      .select(keys.map(col) :+ col(subjectCol).as("__s") :+
        col(scoreCol).cast("long").as("__x"): _*)
    val k = base.groupBy(keys.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__ks"))
      .groupBy(keys.map(col): _*)
      .agg(max("__ks").as("__k"), min("__ks").as("__kmin"))
      .withColumn("__k", when(col("__k") === col("__kmin"), col("__k"))
        .otherwise(raise_error(concat(lit("icc: unbalanced panel — " +
          "subject rating counts range "), col("__kmin"), lit(".."),
          col("__k"), lit("; complete the blocks upstream")))))
      .drop("__kmin")
    val subj = base.groupBy(keys.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__ks"),
        sum(col("__x").cast(dec)).as("__ss"),
        sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__qs"))
      .withColumn("__t", round(lit(1e9) *
        (col("__ss") * col("__ss")).cast("double") /
        col("__ks").cast("double")).cast(dec))
    val m = subj.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sum(col("__ss")).as("__sum"), sum(col("__qs")).as("__qsum"),
        sum("__t").as("__tsum"))
      .join(broadcast(k), keys)
    val nD = col("__n").cast("double"); val kD = col("__k").cast("double")
    val bigN = col("__n").cast(dec) * col("__k").cast(dec)
    val grand = round(lit(1e9) *
      (col("__sum") * col("__sum")).cast("double") / bigN.cast("double"))
      .cast(dec)
    val ssw = lit(1000000000L).cast(dec) * col("__qsum") - col("__tsum")
    val ssb = col("__tsum") - grand
    val msb = ssb.cast("double") / lit(1e9) / (nD - lit(1.0))
    val msw = ssw.cast("double") / lit(1e9) /
      (bigN.cast("double") - nD)
    val den = msb + (kD - lit(1.0)) * msw
    m.select(keys.map(col) :+ col("__n").as("n_subjects") :+
      col("__k").as("k_ratings") :+
      when(col("__n") < 2L || col("__k") < 2L || den <= lit(0.0),
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) * (msb - msw) / den).cast("long"))
        .as("icc_micro"): _*)
  }

  /**
   * Holm–Bonferroni step-down per-test rejection (Holm '79) — the
   * FAMILY-WISE error control next to [[bhFdr]]'s FDR: when even one
   * false rejection is unacceptable (shipping gates, safety checks),
   * Holm dominates plain Bonferroni at no extra assumption:
   *
   *   sort p ascending; reject the largest PREFIX where EVERY
   *   i ≤ k satisfies p_(i)·(m−i+1) ≤ α
   *
   * Pure long arithmetic over the METADATA-sized per-test table (the
   * [[bhFdr]] maxTests contract — a global rank window over
   * experiments, never rows); the step-down prefix rule is one
   * min-over-failures broadcast. Ties in p decide together
   * (deterministic rank tie-break on the key columns).
   *
   * Returns one row per test: keyCols + (p_micro, rank, m_tests,
   * reject).
   */
  def holmBonferroni(df: DataFrame, keyCols: Seq[String],
      pMicroCol: String, alphaMicro: Long = 50000L,
      maxTests: Long = 1000000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols required")
    require(alphaMicro >= 1L && alphaMicro <= 1000000L,
      s"alphaMicro must be in [1, 1000000], got $alphaMicro")
    require(maxTests >= 1L, s"maxTests must be >= 1, got $maxTests")
    val W = org.apache.spark.sql.expressions.Window
    val ordered = W.orderBy(col("p_micro") +: keyCols.map(col): _*)
    val ranked = df
      .select(keyCols.map(col) :+
        col(pMicroCol).cast("long").as("p_micro"): _*)
      .withColumn("rank", row_number().over(ordered).cast("long"))
      .withColumn("__m", count(lit(1)).over(W.partitionBy()))
      .withColumn("__m", when(col("__m") <= maxTests, col("__m"))
        .otherwise(raise_error(concat(
          lit("holm_bonferroni: per-test table has "), col("__m"),
          lit(s" rows, exceeds maxTests=$maxTests; the global rank " +
            "window is single-partition by design over a METADATA-sized " +
            "experiment registry — aggregate upstream or raise the cap " +
            "deliberately")))))
    val firstFail = ranked
      .agg(max("__m").as("m_tests"),
        min(when(col("p_micro") * (col("__m") - col("rank") + 1L) >
          lit(alphaMicro), col("rank"))).as("__ff"))
    ranked.crossJoin(broadcast(firstFail))
      .withColumn("reject",
        col("__ff").isNull || col("rank") < col("__ff"))
      .select(keyCols.map(col) :+ col("p_micro") :+ col("rank") :+
        col("m_tests") :+ col("reject"): _*)
  }

  /**
   * Pairwise Welch t over ALL group pairs per key — the post-hoc step
   * after [[anovaF]] says "SOME group differs": which pairs? Every
   * (g_a < g_b) pair gets [[welchT]]'s statistic with the identical
   * factoring — s²/n from exact DECIMAL numerators with one division
   * point each, round-once t and Satterthwaite df. Feed the t values
   * to [[holmBonferroni]]/[[bhFdr]] for multiplicity downstream.
   *
   * Scale shape: the corpus reduces ONCE to the (key, group) moment
   * table (map-side combinable); the pair join is a self-equi-join of
   * THAT table on the key — k² pairs of moment rows, label-sized
   * under the fail-loud `maxGroups` guard; the corpus never joins
   * itself.
   *
   * Returns one row per pair: keys + (g_a, g_b, n_a, n_b, t_micro,
   * df_milli); NULL t when either side has n < 2 or both variances 0.
   */
  def pairwiseWelch(df: DataFrame, keys: Seq[String], groupCol: String,
      valueCol: String, maxGroups: Int = 100): DataFrame = {
    require(keys.nonEmpty, "keys required")
    require(maxGroups >= 2 && maxGroups <= 10000,
      s"maxGroups must be in [2, 10000], got $maxGroups")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val m = df
      .where(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(keys.map(col) :+ col(groupCol).cast("string").as("__g") :+
        col(valueCol).cast("long").as("__v"): _*)
      .groupBy(keys.map(col) :+ col("__g"): _*)
      .agg(count(lit(1)).cast(dec).as("__n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__q"))
      .withColumn("__lv", count(lit(1))
        .over(W.partitionBy(keys.map(col): _*)))
      .withColumn("__n", when(col("__lv") <= maxGroups, col("__n"))
        .otherwise(raise_error(concat(
          lit("pairwise_welch: "), col("__lv"),
          lit(s" groups exceed maxGroups=$maxGroups — the pair join " +
            "is k² in groups; coarsen or raise deliberately")))))
      .drop("__lv")
    val a = m.select(keys.map(col) :+ col("__g").as("g_a") :+
      col("__n").as("__na") :+ col("__s").as("__sa") :+
      col("__q").as("__qa"): _*)
    val b = m.select(keys.map(col) :+ col("__g").as("g_b") :+
      col("__n").as("__nb") :+ col("__s").as("__sb") :+
      col("__q").as("__qb"): _*)
    val pairs = a.join(b, keys).where(col("g_a") < col("g_b"))
    val na = col("__na"); val nb = col("__nb")
    val va = (na * col("__qa") - col("__sa") * col("__sa")).cast("double") /
      (na * na * (na - lit(1L))).cast("double")
    val vb = (nb * col("__qb") - col("__sb") * col("__sb")).cast("double") /
      (nb * nb * (nb - lit(1L))).cast("double")
    val ma = col("__sa").cast("double") / na.cast("double")
    val mb = col("__sb").cast("double") / nb.cast("double")
    val bad = na < 2L || nb < 2L
    pairs.select(keys.map(col) :+ col("g_a") :+ col("g_b") :+
      na.cast("long").as("n_a") :+ nb.cast("long").as("n_b") :+
      when(bad, lit(null).cast("long"))
        .otherwise(when(va + vb === 0.0, lit(null).cast("long"))
          .otherwise(round(lit(1e6) * (ma - mb) / sqrt(va + vb))
            .cast("long"))).as("t_micro") :+
      when(bad, lit(null).cast("long"))
        .otherwise(when(va * va / (na.cast("double") - 1.0) +
            vb * vb / (nb.cast("double") - 1.0) === 0.0,
          lit(null).cast("long"))
          .otherwise(round(lit(1e3) * (va + vb) * (va + vb) /
            (va * va / (na.cast("double") - 1.0) +
              vb * vb / (nb.cast("double") - 1.0))).cast("long")))
        .as("df_milli"): _*)
  }

  /**
   * Brier score + its two-way decomposition inputs per key (Brier
   * '50) — the proper scoring rule for probabilistic predictions,
   * the "how wrong were the probabilities" number [[calibrationReport]]
   * bins and [[rocAuc]] ignores (AUC is rank-only):
   *
   *   BS = (1/n)·Σ (p − y)²,  with p in micro units
   *
   * EXACT: each (p − 10⁶·y)² is an integer, the sum a DECIMAL, one
   * round-once division. Also publishes the all-positive base rate
   * and the reference score BS_ref = ȳ(1−ȳ) (the skill denominator:
   * skill = 1 − BS/BS_ref downstream). p outside [0, 10⁶] fails loud
   * (the [[calibrationReport]] contract). Scale shape: ONE map-side
   * combinable groupBy.
   *
   * Returns keys + (n, base_rate_ppm, brier_micro, brier_ref_micro).
   */
  def brierScore(df: DataFrame, keys: Seq[String], pMicroCol: String,
      labelCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val p = col(pMicroCol).cast("long")
    val guarded = when(p < 0L || p > 1000000L,
      raise_error(concat(lit("brier_score: p_micro="), p.cast("string"),
        lit(" outside [0, 1000000] — probabilities must be micro-unit " +
          "scaled")))).otherwise(p)
    val m = df
      .where(p.isNotNull && col(labelCol).isNotNull)
      .select(keys.map(col) :+ guarded.as("__p") :+
        col(labelCol).cast("boolean").as("__y"): _*)
      .withColumn("__d", col("__p") -
        when(col("__y"), lit(1000000L)).otherwise(lit(0L)))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count(when(col("__y"), 1)).as("__pos"),
        sum((col("__d").cast(dec) * col("__d").cast(dec))).as("__ss"))
    val nD = col("n").cast("double")
    val rate = col("__pos").cast("double") / nD
    m.select(keys.map(col) :+ col("n") :+
      round(lit(1e6) * rate).cast("long").as("base_rate_ppm") :+
      round(col("__ss").cast("double") / nD / lit(1e6)).cast("long")
        .as("brier_micro") :+
      round(lit(1e6) * rate * (lit(1.0) - rate)).cast("long")
        .as("brier_ref_micro"): _*)
  }

  /**
   * Cohen's h effect size for two proportions ('88) — the arcsine-
   * stabilized "HOW BIG is the rate difference" that pairs with
   * [[twoProportionZ]]'s "is it real" (a 1pp move at 50% and at 99%
   * are very different effects; h sees that, the raw difference
   * doesn't):
   *
   *   h = 2·asin(√p_A) − 2·asin(√p_B)
   *
   * Counts are exact from ONE conditional groupBy; h is a round-once
   * micro expression (asin/sqrt are the engines' shared libm —
   * per-value rounding absorbs the last-bit risk, the
   * [[mutualInformation]] ln precedent). NULL when either side is
   * empty.
   *
   * Returns keys + (n_a, s_a, n_b, s_b, h_micro).
   */
  def cohensH(df: DataFrame, keys: Seq[String], groupCol: String,
      successCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val g = col(groupCol).cast("boolean")
    val s = col(successCol).cast("boolean")
    val m = df
      .where(g.isNotNull && s.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(when(g, 1)).as("n_a"),
        count(when(g && s, 1)).as("s_a"),
        count(when(!g, 1)).as("n_b"),
        count(when(!g && s, 1)).as("s_b"))
    val phiA = lit(2.0) * asin(sqrt(
      col("s_a").cast("double") / col("n_a").cast("double")))
    val phiB = lit(2.0) * asin(sqrt(
      col("s_b").cast("double") / col("n_b").cast("double")))
    m.select(keys.map(col) :+ col("n_a") :+ col("s_a") :+ col("n_b") :+
      col("s_b") :+
      when(col("n_a") === 0L || col("n_b") === 0L,
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) * (phiA - phiB)).cast("long"))
        .as("h_micro"): _*)
  }

  /**
   * Benjamini–Yekutieli FDR step-up ('01) — [[bhFdr]] under ARBITRARY
   * dependence between the tests (BH assumes independence/PRDS; when
   * the same corpus feeds every metric, BY is the honest choice): the
   * BH threshold divides by the harmonic number c(m) = Σ_{i≤m} 1/i:
   *
   *   reject p_(1..k*),  k* = max{k : p_(k)·m·c(m) ≤ k·q}
   *
   * c(m) accumulates as per-rank nano integers (round(10⁹/i), summed
   * exactly — order-independent, engine-replayable), so the step-up
   * comparison is pure long/DECIMAL arithmetic: p·m·H_nano ≤
   * k·q·10⁹. Same METADATA-sized per-test table contract as
   * [[bhFdr]] (fail-loud maxTests).
   *
   * Returns one row per test: keyCols + (p_micro, rank, m_tests,
   * k_star, reject).
   */
  def byFdr(df: DataFrame, keyCols: Seq[String], pMicroCol: String,
      qMicro: Long = 50000L, maxTests: Long = 1000000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols required")
    require(qMicro >= 1L && qMicro <= 1000000L,
      s"qMicro must be in [1, 1000000], got $qMicro")
    require(maxTests >= 1L, s"maxTests must be >= 1, got $maxTests")
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val ordered = W.orderBy(col("p_micro") +: keyCols.map(col): _*)
    val ranked = df
      .select(keyCols.map(col) :+
        col(pMicroCol).cast("long").as("p_micro"): _*)
      .withColumn("rank", row_number().over(ordered).cast("long"))
      .withColumn("__m", count(lit(1)).over(W.partitionBy()))
      .withColumn("__m", when(col("__m") <= maxTests, col("__m"))
        .otherwise(raise_error(concat(
          lit("by_fdr: per-test table has "), col("__m"),
          lit(s" rows, exceeds maxTests=$maxTests; the global rank " +
            "window is single-partition by design over a METADATA-sized " +
            "experiment registry — aggregate upstream or raise the cap " +
            "deliberately")))))
      .withColumn("__hterm", round(lit(1e9) /
        col("rank").cast("double")).cast("long"))
    val kstar = ranked
      .withColumn("__H", sum("__hterm").over(W.partitionBy()))
      .agg(max("__m").as("m_tests"),
        max(when(col("p_micro").cast(dec) * col("__m") * col("__H") <=
          col("rank").cast(dec) * qMicro * lit(1000000000L),
          col("rank"))).as("k_star"))
    ranked.crossJoin(broadcast(kstar))
      .withColumn("reject",
        col("k_star").isNotNull && col("rank") <= col("k_star"))
      .select(keyCols.map(col) :+ col("p_micro") :+ col("rank") :+
        col("m_tests") :+ col("k_star") :+ col("reject"): _*)
  }

  /**
   * G-test of independence (log-likelihood ratio) — [[chiSquareKxM]]'s
   * information-theoretic twin, the better-behaved statistic under
   * small expected counts and the one that decomposes additively
   * across nested tables:
   *
   *   G = 2·Σ o·ln(o·N / (r_a·c_b))     (observed cells only — an
   *                                      o = 0 cell contributes 0)
   *
   * Per-OBSERVED-cell nano-nat terms round once and sum
   * order-independently (the [[mutualInformation]] machinery — G =
   * 2N·MI in nats, but published directly with dof so it reads as a
   * test); margins broadcast under fail-loud maxLevels. NO dense
   * grid, unlike chi² — the zero cells that force chiSquareKxM's
   * grid contribute nothing here.
   *
   * Returns one row: (n, k_levels, m_levels, dof, g_nano,
   * significant_95 for dof = 1 only, else NULL).
   */
  def gTest(df: DataFrame, aCol: String, bCol: String,
      maxLevels: Int = 1000): DataFrame = {
    val dec = "decimal(38,0)"
    val t = contingency(pairs(df, aCol, bCol, "string"), Nil, "g_test",
      (aCol, bCol), "maxLevels", maxLevels)
    val g = t.cells
      .join(t.ra, Seq("__a"))
      .join(t.cb, Seq("__b"))
      .crossJoin(broadcast(t.tot))
      .withColumn("__t", round(lit(2e9) * col("__o").cast("double") *
        log((col("__o").cast(dec) * col("__N")).cast("double") /
          (col("__ra").cast(dec) * col("__cb")).cast("double")))
        .cast("long"))
      .agg(max("__N").as("n"), levelCounts("k_levels", "m_levels") :+
        sum("__t").as("g_nano"): _*)
    g.select(col("n"), col("k_levels"), col("m_levels"),
      ((col("k_levels") - 1L) * (col("m_levels") - 1L)).as("dof"),
      col("g_nano"),
      when((col("k_levels") - 1L) * (col("m_levels") - 1L) =!= 1L,
        lit(null).cast("boolean"))
        .otherwise(col("g_nano") > 3841458821L).as("significant_95"))
  }

  /**
   * Two-segment correlation comparison via Fisher's z ('21) — "did
   * the RELATIONSHIP between x and y change between cohorts/periods"
   * (feature drift that marginals miss entirely):
   *
   *   r per side from exact moments,  z_r = atanh(r) = ½ln((1+r)/(1−r))
   *   z = (z_A − z_B) / √(1/(n_A−3) + 1/(n_B−3))
   *
   * All ten side moments land in ONE conditional groupBy row (exact
   * DECIMAL); each r keeps its exact cross-moment numerator under
   * separate √s (the [[mcc]] factored-denominator discipline:
   * n·Σxy−ΣxΣy over √(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)); atanh is written
   * as the half-log so both engines share one ln. NULL when a side
   * has n ≤ 3 or zero variance or |r| = 1. Scale shape: one
   * map-side-combinable groupBy.
   *
   * Returns keys + (n_a, n_b, r_a_micro, r_b_micro, z_micro).
   */
  def corrCompare(df: DataFrame, keys: Seq[String], segCol: String,
      xCol: String, yCol: String): DataFrame = {
    require(keys.nonEmpty, "keys required")
    val dec = "decimal(38,0)"
    val g = col(segCol).cast("boolean")
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    def side(name: String, cond: Column): Seq[Column] = {
      val zero = lit(0).cast(dec)
      Seq(count(when(cond, 1)).cast(dec).as(s"__n$name"),
        sum(when(cond, x.cast(dec)).otherwise(zero)).as(s"__sx$name"),
        sum(when(cond, y.cast(dec)).otherwise(zero)).as(s"__sy$name"),
        sum(when(cond, x.cast(dec) * y.cast(dec)).otherwise(zero))
          .as(s"__sxy$name"),
        sum(when(cond, x.cast(dec) * x.cast(dec)).otherwise(zero))
          .as(s"__sxx$name"),
        sum(when(cond, y.cast(dec) * y.cast(dec)).otherwise(zero))
          .as(s"__syy$name"))
    }
    val aggs = side("a", g) ++ side("b", !g)
    val m = df
      .where(g.isNotNull && x.isNotNull && y.isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    def r(n: String): Column = {
      val nn = col(s"__n$n")
      val num = nn * col(s"__sxy$n") - col(s"__sx$n") * col(s"__sy$n")
      val dx = nn * col(s"__sxx$n") - col(s"__sx$n") * col(s"__sx$n")
      val dy = nn * col(s"__syy$n") - col(s"__sy$n") * col(s"__sy$n")
      num.cast("double") /
        (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))
    }
    def varOk(n: String): Column = {
      val nn = col(s"__n$n")
      (nn * col(s"__sxx$n") - col(s"__sx$n") * col(s"__sx$n")) >
        lit(0).cast(dec) &&
      (nn * col(s"__syy$n") - col(s"__sy$n") * col(s"__sy$n")) >
        lit(0).cast(dec)
    }
    val ra = r("a"); val rb = r("b")
    def zf(rr: Column): Column =
      lit(0.5) * log((lit(1.0) + rr) / (lit(1.0) - rr))
    val naD = col("__na").cast("double"); val nbD = col("__nb").cast("double")
    val z = (zf(ra) - zf(rb)) /
      sqrt(lit(1.0) / (naD - lit(3.0)) + lit(1.0) / (nbD - lit(3.0)))
    val bad = col("__na") <= lit(3).cast(dec) ||
      col("__nb") <= lit(3).cast(dec) || !varOk("a") || !varOk("b")
    m.select(keys.map(col) :+
      col("__na").cast("long").as("n_a") :+
      col("__nb").cast("long").as("n_b") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * ra).cast("long")).as("r_a_micro") :+
      when(bad, lit(null).cast("long"))
        .otherwise(round(lit(1e6) * rb).cast("long")).as("r_b_micro") :+
      // NULL z when either r ROUNDS to ±1 in micro units — atanh has
      // left any meaningful scale there, and the exact-1.0 double is
      // not reliably produced by sqrt rounding
      when(bad || abs(ra) >= lit(0.9999995) || abs(rb) >= lit(0.9999995),
        lit(null).cast("long"))
        .otherwise(round(lit(1e6) * z).cast("long")).as("z_micro"): _*)
  }

  def poissonBootstrap(df: DataFrame, idCol: String, valueCol: String,
      reps: Int = 32): DataFrame = {
    require(reps >= 2 && reps <= 1024, s"reps must be in [2,1024], got $reps")
    import graft.expressions.{asColumn, asExpr}
    val rep = explode(array((0 until reps).map(r => struct(
      lit(r).as("r"), lit((r + 1L) * -7046029254386353131L).as("s"))): _*))
      .as("__rs")
    val h = asColumn(Mix64(asExpr(
      col(idCol).cast("long").bitwiseXOR(col("__rs.s")))))
    val u = h.bitwiseAND(lit(Long.MaxValue))
    val wgt = PoissonThresholds.foldLeft(lit(0L))((acc, t) =>
      acc + when(u >= lit(t), 1L).otherwise(0L))
    df.select(col(idCol).cast("long").as(idCol),
        col(valueCol).cast("long").as("__v"), rep)
      .withColumn("rep", col("__rs.r"))
      .withColumn("__w", wgt)
      .groupBy("rep")
      .agg(sum("__w").as("n_eff"),
        sum(col("__w") * col("__v")).as("sum_w"))
      .select(col("rep").cast("int").as("rep"), col("n_eff"), col("sum_w"),
        (col("sum_w").cast("double") / col("n_eff")).as("mean"))
  }

  /**
   * Isotonic (PAV) score calibration — the monotone score→rate mapping
   * of Zadrozny & Elkan '02, the calibration step a quality-score gate
   * runs so "score 0.8" MEANS an 80% pass rate: bucket the score by its
   * own discrete quantiles ([[quantileBounds]] — distinct values
   * shuffle, never rows), count (n, positives) per bucket, then
   * pool-adjacent-violators over the ≤ `buckets` bucket rows ON THE
   * DRIVER (the quantile-bounds class of bounded collect) with EXACT
   * long cross-product violation compares (pos_t·n_p < pos_p·n_t — no
   * float drift decides a merge). Each bucket's calibrated rate is its
   * final block's pooled pos/n: ONE double division, rounded once to
   * ppm — and because the PAV solution equals the minimax formula
   * ŷᵢ = max_{j≤i} min_{k≥i} avg(j..k) (Robertson–Wright–Dykstra '88),
   * the DuckDB oracle replays it with an O(buckets²) pairs join and
   * bit-identical divisions.
   *
   * Scale shape: one value-histogram aggregate for the bounds, one
   * bucket groupBy (map-side combined, ≤ buckets rows out), a
   * metadata-sized driver PAV. The fact table shuffles once.
   *
   * Returns (bucket, n, n_pos, cal_ppm), cal_ppm non-decreasing.
   */
  def isotonicCalibrate(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 16): DataFrame = {
    require(buckets >= 2 && buckets <= 256,
      s"buckets must be in [2, 256], got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val bounds = quantileBounds(df, scoreCol, buckets)
    def bucketOf(v: Column): Column =
      bounds.foldLeft(lit(0))((acc, b) =>
        acc + when(v >= lit(b), 1).otherwise(0))
    val rows = df.select(bucketOf(col(scoreCol).cast("long")).as("bucket"),
        col(labelCol).cast("boolean").as("__y"))
      .groupBy("bucket").agg(count(lit(1)).as("n"),
        count(when(col("__y"), 1)).as("n_pos"))
      .orderBy("bucket")
      .collect() // bounded: ≤ buckets rows
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // PAV: blocks of pooled (firstRow, n, pos); a new block merges left
    // while its rate is BELOW its neighbor's (exact rational compare —
    // in BigInt: pooled counts above ~3e9 rows/block overflow a Long
    // cross-product and would silently flip merge decisions; ≤256
    // driver-side compares, so the BigInt cost is nil)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    rows.zipWithIndex.foreach { case ((_, n, pos), i) =>
      var (st, bn, bp) = (i, n, pos)
      while (blocks.nonEmpty &&
          BigInt(bp) * blocks.last._2 < BigInt(blocks.last._3) * bn) {
        val (pst, pn, pp) = blocks.remove(blocks.length - 1)
        st = pst; bn += pn; bp += pp
      }
      blocks += ((st, bn, bp))
    }
    val cal = new Array[Long](rows.length)
    val ends = blocks.map(_._1).drop(1) :+ rows.length
    blocks.zip(ends).foreach { case ((st, bn, bp), end) =>
      val ppm = BigDecimal(1e6 * (bp.toDouble / bn))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (st until end).foreach(cal(_) = ppm)
    }
    rows.zipWithIndex.map { case ((b, n, pos), i) => (b, n, pos, cal(i)) }
      .toSeq.toDF("bucket", "n", "n_pos", "cal_ppm")
  }

  /**
   * Exact sample covariance matrix of an integer-quantized embedding
   * column — the moment input of embedding whitening / PCA / Mahalanobis
   * screens. One [[GramMatrixAggregate]] pass collapses the corpus to
   * d + d(d+1)/2 + 1 longs per partition (merged associatively —
   * NOTHING about the result depends on row or partition order, unlike
   * every float covariance), then the d(d+1)/2 upper-triangle cells are
   * unpacked by a broadcast join against a metadata-sized (i, j) index
   * table and finished as
   *
   *   cov_ij = (n·Σxy − Σx·Σy) / (n·(n−1))
   *
   * with DECIMAL(38,0) numerator/denominator products (longs would
   * overflow n·Σxy around n ≈ 10⁶ at 10³-unit quantization) and ONE
   * double division — bit-replayable by a HUGEINT oracle.
   *
   * `vec` must already be integer units (e.g.
   * `transform(embedding, x -> cast(round(x*1000) as bigint))`); see
   * [[GramMatrixAggregate]] for the Σ|x·x| < 2^63 state contract.
   *
   * Scale shape: one aggregate over the scan (state O(d²), shuffle
   * O(partitions·d²)), one posexplode of a SINGLE row, one broadcast
   * equi-join on the triangle index. The corpus is read exactly once.
   *
   * Returns (i, j, n, sx, sy, sxy, cov) for i ≤ j, i/j 0-based dims.
   */
  def covarianceMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    import graft.expressions.{asColumn, asExpr}
    val spark = df.sparkSession
    import spark.implicits._
    val g = asColumn(GramMatrixAggregate(asExpr(col(vecCol)), dim)
      .toAggregateExpression())
    val moments = df.agg(g.as("__g"))
      .select(col("__g.n").as("n"), col("__g.sums").as("__sums"),
        posexplode(col("__g.prods")).as(Seq("__k", "sxy")))
    // triangle index (k -> (i, j)) and the per-dim sums, both
    // metadata-sized (d(d+1)/2 rows) and broadcast
    val idx = (0 until dim).flatMap(i => (i until dim).map(j =>
        (i.toLong * dim - i.toLong * (i - 1) / 2 + (j - i), i, j)))
      .toDF("__k", "i", "j")
    val dec = "decimal(38,0)"
    moments.join(broadcast(idx), Seq("__k"))
      .withColumn("sx", expr(s"__sums[i]"))
      .withColumn("sy", expr(s"__sums[j]"))
      .select(col("i"), col("j"), col("n"), col("sx"), col("sy"), col("sxy"),
        ((col("n").cast(dec) * col("sxy") - col("sx").cast(dec) * col("sy"))
          .cast("double") /
          (col("n").cast(dec) * (col("n") - lit(1L))).cast("double"))
          .as("cov"))
  }

  /**
   * Top principal component of a [[covarianceMatrix]] result by seeded
   * power iteration ON THE DRIVER — the d×d matrix is metadata
   * (≤ 4096² doubles), so iterating it locally is the correct scale
   * shape; the corpus itself was already reduced by the one-pass
   * moment aggregate. Deterministic: starts from the all-ones vector,
   * `iters` fixed multiply+normalize rounds (no convergence test, no
   * RNG), sign pinned so the largest-|loading| coordinate is positive.
   *
   * Returns (dim 0-based, loading, eigenvalue) — `dim` rows.
   */
  def pcaTopComponent(cov: DataFrame, dim: Int, iters: Int = 50): DataFrame = {
    require(dim > 0 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    val spark = cov.sparkSession
    import spark.implicits._
    val m = Array.ofDim[Double](dim, dim)
    // bounded by construction: d(d+1)/2 rows of the moment table
    cov.select("i", "j", "cov").collect().foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = v; m(j)(i) = v
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var eig = 0.0
    (0 until iters).foreach { _ =>
      val w = Array.tabulate(dim)(i => {
        var s = 0.0; var j = 0
        while (j < dim) { s += m(i)(j) * v(j); j += 1 }
        s
      })
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm > 0) { v = w.map(_ / norm); eig = norm }
    }
    val flip = if (v(v.indices.maxBy(i => (math.abs(v(i)), -i))) < 0) -1.0 else 1.0
    v.indices.map(i => (i, v(i) * flip, eig)).toDF("dim", "loading", "eigenvalue")
  }
}
