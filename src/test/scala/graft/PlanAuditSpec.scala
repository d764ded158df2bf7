package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Automated plan lint over EVERY SparkEntry query (analysis only, no
 * execution): unbounded join shapes — CartesianProduct and
 * BroadcastNestedLoopJoin — are forbidden except where a query
 * intentionally ships one (the labeled brute-force baselines and the
 * reference-shaped theta raster join, which exists to be compared
 * against its bucketed equi-join twin). A new query that accidentally
 * plans a cross product fails here before it ever reaches the bench.
 */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries allowed to contain a nested-loop/cartesian shape, and why. */
  private val nestedLoopAllowed: Map[String, String] = Map(
    "q_knn_brute" -> "labeled exact brute-force baseline (broadcast NLJ)",
    "q_raster_join" -> "reference-shaped theta join; bucketed twin is the scale path",
    "q_quantile_filter" -> "broadcast one-row threshold crossJoin",
    "q_tfidf" -> "broadcast one-row corpus-count crossJoin",
    "q_sample_budget" -> "broadcast per-source boundary-bucket plan",
    "q_sample_quota" -> "broadcast per-source boundary-bucket plan",
    "q_corpus_report" -> "broadcast one-row gopher-pass-count crossJoin",
    "q_knn_ivf" -> "broadcast nlist-row centroid table crossJoin (probe ranking)",
    "q_knn_ivfpq" -> "broadcast nlist-row centroid table crossJoin (probe ranking)",
    "q_knn_pq" -> "broadcast PQ code table crossJoin (the point of PQ: codes fit anywhere)",
    "q_pmi" -> "broadcast one-row corpus-count crossJoin",
    "q_heavy_hitters" -> "broadcast one-row CMS sketch crossJoin (1 KB array)",
    "q_knn_recall" -> ("contains the labeled brute baseline as the recall " +
      "ground truth; at scale the truth side runs on a query sample"),
    "q_knn_ndcg" -> ("contains the labeled brute baseline as the nDCG " +
      "ground truth; at scale the truth side runs on a query sample"),
    "q_skew_report" -> "broadcast one-row table-total crossJoin",
    "q_psi" -> "broadcast one-row side-totals crossJoin (10-row bucket table)",
    "q_assoc" -> "broadcast one-row basket-count crossJoin",
    "q_benford" -> "broadcast one-row digit-total crossJoin (9-row table)",
    "q_hll_overlap" -> "broadcast one-row exact-intersect crossJoin beside the 1 KB sketches",
    "q_label_separation" ->
      "broadcast label-cardinality sum-vector crossJoin (L x L label pairs = metadata-sized)",
    "q_colloc" -> "broadcast one-row corpus-totals crossJoin (n_uni, n_bi)",
    "q_kappa" -> "broadcast one-row totals crossJoin (n, agree, pe_num — 3 longs)",
    "q_shard_balance" -> "broadcast one-row grand-total crossJoin over the shard counts",
    "q_fleiss" -> "broadcast one-row totals crossJoins (n_items, s_sq, c_sq — 3 longs)",
    "q_krippendorff" -> "broadcast one-row totals crossJoin (cats × items — 2 tiny rows)",
    "q_cosine_join" -> "broadcast one-row corpus-count crossJoin (the idf N)",
    "q_tcloseness" -> ("broadcast combos x values dense-grid crossJoin " +
      "(two metadata-sized tables — the label_separation pattern) + one-row totals"),
    "q_bpe_learn" -> "broadcast one-row best-pair crossJoin per merge round (3 rows total)",
    "q_minhash_eval" -> "broadcast one-row count crossJoins (n_truth, n_cand, tp)",
    "q_ks" -> "broadcast one-row side-totals crossJoin (n_ref, n_cur — 2 longs)",
    "q_dist_shift" -> "broadcast one-row side-totals crossJoin (the q_ks shape)",
    "q_anderson_darling" -> "broadcast one-row side-totals crossJoin (the q_ks shape)",
    "q_energy_dist" -> "broadcast one-row side-totals crossJoin (the q_ks shape)",
    "q_dispersion" -> "broadcast parts-dimension + one-row total crossJoins (the dense-grid pattern; parts are metadata-sized)",
    "q_mrr" -> "broadcast nlist-row centroid table crossJoin (the q_knn_ivf probe ranking) + the labeled brute baseline as MRR ground truth",
    "q_conformal" -> "broadcast one-row calibration-count crossJoin (the n)",
    "q_bm25" -> "broadcast query-term df table + one-row (N, sumlen) totals crossJoin",
    "q_token_label_mi" -> ("broadcast label-margin dense-grid crossJoin " +
      "(labels are metadata-sized — the q_tcloseness pattern) + one-row total"),
    "q_token_kl" -> "broadcast one-row (N_P, N_Q, V) totals crossJoin",
    "q_simpson" -> "broadcast one-row pooled-counts crossJoin (4 longs)",
    "q_rbo" -> ("contains the labeled brute baseline + the q_knn_ivf " +
      "centroid crossJoin; the RBO depth expansion itself is a " +
      "broadcast k-row depth-table range join (metadata-sized)"),
    "q_neyman" -> "broadcast one-row total-weight crossJoin (the sum of N_h*sigma_h)",
    "q_qnorm" -> ("broadcast 1000-row permille grid + one-row pooled-total " +
      "crossJoins over the distinct-score histogram (pre-quantized scores by contract)"),
    "q_jsd" -> "broadcast one-row (N_P, N_Q, V) totals crossJoin (the q_token_kl shape)",
    "q_kn_score" -> "broadcast one-row bigram-type-count crossJoin (the Kneser-Ney N1+(··))",
    "q_modularity" -> "broadcast one-row |E2| total crossJoin onto the community table",
    "q_bh_fdr" -> "broadcast one-row (m, k_star) threshold crossJoin over the per-test table",
    "q_ece" -> "broadcast one-row (n_total, ece_micro) totals crossJoin onto the <= bins-row table (the psiReport shape)",
    "q_chi_kxm" -> "broadcast level x level dense-grid crossJoin (both margins label-sized, ENFORCED by maxLevels raise_error) + one-row total",
    "q_mutual_info" -> "broadcast label-sized margin joins + one-row total/entropy crossJoins (maxLevels-guarded, the q_chi_kxm contract; only OBSERVED cells flow)",
    "q_hellinger" -> "broadcast one-row side-totals crossJoin (the q_ks shape)",
    "q_cronbach" -> ("broadcast event-type dimension crossJoin building the " +
      "complete absence-as-zero grid (types are metadata-sized) + the " +
      "broadcast k-count join"),
    "q_cochran_q" -> ("broadcast event-type dimension crossJoin building " +
      "the complete absence-as-failure grid (the q_cronbach pattern) + " +
      "the broadcast k-count join"),
    "q_weighted_kappa" -> ("broadcast level x level margin dense-grid " +
      "crossJoin (both margins label-sized, ENFORCED by maxLevels " +
      "raise_error — the q_chi_kxm pattern) + one-row num/den crossJoins"),
    "q_icc" -> ("broadcast event-type dimension crossJoin building the " +
      "complete absence-as-zero grid (the q_cronbach pattern) + the " +
      "broadcast balanced-k join"),
    "q_holm" -> ("broadcast one-row (m_tests, first-fail rank) " +
      "crossJoin over the per-test table (the q_bh_fdr shape)"),
    "q_by_fdr" -> ("broadcast one-row (m, k_star) threshold crossJoin " +
      "over the per-test table (the q_bh_fdr shape, harmonic-corrected)"),
    "q_g_test" -> ("broadcast one-row total crossJoin onto the " +
      "OBSERVED-cell table (maxLevels-guarded margins; no dense grid " +
      "— zero cells contribute 0 to G)"))

  test("no query plans an unintended cartesian or nested-loop join") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries) {
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val hasNlj = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      if (hasNlj && !nestedLoopAllowed.contains(name)) offenders += name
    }
    assert(offenders.isEmpty,
      s"unintended nested-loop/cartesian in: ${offenders.mkString(", ")}")
  }

  test("tf-idf never broadcast-hints the open vocabulary df table") {
    // The df (document-frequency) table is unbounded on a web-scale
    // corpus; the only sanctioned broadcast hint is the one-row corpus
    // count. AQE may still *choose* a broadcast join at tiny SF from
    // runtime stats — that is fine; what must never exist is the
    // explicit hint that forces it at any scale.
    val df = SparkEntry.queries("q_tfidf")(spark, sfDir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 1, s"expected exactly one broadcast hint, got ${hints.size}")
    assert(hints.head.child.schema.fieldNames.sameElements(Array("n_docs")),
      s"the only broadcast hint must be the one-row corpus count, " +
        s"got schema ${hints.head.child.schema.fieldNames.mkString(",")}")
  }

  /** Queries allowed a window WITHOUT partition keys, and why every one
    * is bounded: each global window here runs over an already-reduced
    * relation (distinct values, per-group aggregates, a top-k) whose
    * row count is data-bounded, not corpus-bounded — a single task over
    * thousands of rows, never a global sort of the fact table. */
  private val globalWindowAllowed: Map[String, String] = Map(
    "q_psi" -> "cumulative histogram over DISTINCT metric values (decile fit)",
    "q_quantile_filter" -> "cumulative histogram over DISTINCT score values",
    "q_sample_budget" -> "cume over per-source aggregate rows (sources, not docs)",
    "q_skew_report" -> "rank over per-key count aggregates (top-k skew table)",
    "q_heavy_hitters" -> "rank over CMS row-estimates (width-bounded table)",
    "q_wordpiece" -> "rank over the bounded candidate-vocab aggregate",
    "q_dsir" -> "rank over the top-100 score rows",
    "q_benford" -> "9-digit table rank",
    "q_token_freq" -> "rank over per-token aggregate (top-k output)",
    "q_bpe_pairs" -> "rank over per-pair aggregate (top-40 output)",
    "q_pmi" -> "rank over per-pair cooccurrence aggregate (top-20 output)",
    "q_shuffle_order" -> "row_number AFTER the limit(100) — 100 rows, not the corpus",
    "q_zipf" -> "row_number over the TakeOrdered top-500 term table (topR-bounded)",
    "q_ks" -> "cumulative sums over DISTINCT metric values (pre-scaled-long contract)",
    "q_conformal" -> "cumulative counts over DISTINCT calibration scores (pre-scaled-long contract)",
    "q_bm25" -> "row_number over the TakeOrdered top-10 doc table",
    "q_token_label_mi" -> "row_number over the TakeOrdered top-20 term table",
    "q_token_kl" -> "row_number over the TakeOrdered top-20 term table",
    "q_gini" -> "rank over the per-key count aggregate (keys are metadata-sized)",
    "q_qnorm" -> "cumulative counts over the POOLED distinct-score histogram (pre-quantized)",
    "q_spearman" -> "cumulative counts over the two DISTINCT-value histograms (mid-rank ties)",
    "q_bh_fdr" -> "rank over the PER-TEST p-value table (experiments, not rows — metadata-sized by contract)",
    "q_dist_shift" -> "cumulative sums + lead over DISTINCT metric values (the q_ks machinery)",
    "q_anderson_darling" -> "cumulative sums over DISTINCT metric values (the q_ks machinery)",
    "q_energy_dist" -> "cumulative count/value-sum prefixes over DISTINCT metric values (the q_ks machinery)",
    "q_dispersion" -> "maxParts count guard over the PARTS rollup (sources — the same metadata-sized table the broadcast ships; fails loudly before the grid, never rides the corpus)",
    "q_chi_kxm" -> "maxLevels count guards over the two MARGIN rollups (label-sized tables the dense grid broadcasts; the q_dispersion guard shape)",
    "q_mutual_info" -> "maxLevels count guards over the two MARGIN rollups (the q_chi_kxm guard shape)",
    "q_weighted_kappa" -> "maxLevels count guards over the two MARGIN rollups (the q_chi_kxm guard shape)",
    "q_heaps" -> ("cumulative token/vocab sums over the DOC-level table " +
      "(two longs per doc, never token rows), fail-loud maxDocs guard — " +
      "the bhFdr metadata-sized-by-contract discipline"),
    "q_holm" -> ("rank over the PER-TEST p-value table (experiments, " +
      "not rows — metadata-sized by the maxTests contract, the " +
      "q_bh_fdr shape)"),
    "q_by_fdr" -> ("rank + harmonic-sum windows over the PER-TEST " +
      "p-value table (metadata-sized by the maxTests contract)"),
    "q_g_test" -> ("maxLevels count guards over the two MARGIN " +
      "rollups (the q_chi_kxm guard shape)"))

  test("every window operator is partitioned (no global fact-table sorts)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries) {
      val plan =
        try fn(spark, sfDir).queryExecution.optimizedPlan
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      val hasGlobal = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hasGlobal && !globalWindowAllowed.contains(name)) offenders += name
    }
    assert(offenders.isEmpty,
      s"un-partitioned window in: ${offenders.mkString(", ")} — " +
        "partition the window or justify it in globalWindowAllowed")
  }

  test("no query or builder pre-job plans a distinct-aggregate Expand") {
    // Spark rewrites an Aggregate with more than one distinct group into
    // an Expand over a `gid` column, whose projection order can change
    // between runs (new generated classes every run); a grouping-set
    // Expand (cube, rollup) carries `spark_grouping_id` instead.
    import org.apache.spark.sql.catalyst.plans.logical.{Expand, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    def distinctExpand(p: LogicalPlan): Boolean = p.collectWithSubqueries {
      case e: Expand if e.output.exists(_.name == "gid") => e
    }.nonEmpty
    // the plans a builder runs before returning (`.head()` probes)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(listener)
    try for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      org.apache.spark.sql.graft.shims.waitForListenerBus(spark.sparkContext)
      ran.clear()
      val plan =
        try fn(spark, sfDir).queryExecution.optimizedPlan
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      org.apache.spark.sql.graft.shims.waitForListenerBus(spark.sparkContext)
      if (distinctExpand(plan)) offenders += name
      if (ran.toArray(Array.empty[LogicalPlan]).exists(distinctExpand))
        offenders += s"$name (builder pre-job)"
    } finally spark.listenerManager.unregister(listener)
    assert(offenders.isEmpty,
      s"distinct-aggregate Expand in: ${offenders.mkString(", ")} — count " +
        "each distinct column in its own groupBy branch")
  }

  test("document-table scans prune to the referenced columns") {
    // q_chunk reads only (doc_id, text) of documents: the scan must not
    // drag lang/source/n_chars through the generator
    val plan = SparkEntry.queries("q_chunk")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(s => !s.contains("n_chars") && !s.contains("source")),
      readSchemas.mkString("\n"))
  }
}
