package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps formatted physical plans of the flagship queries to PLANS.md —
  * the scale-shape claims (shuffle counts, broadcast sides, pushed
  * pruning) made auditable from the repo without running anything. */
object DumpPlans {
  /** The flagship set: every post-wave-4 oracled operator lands here
    * with a one-paragraph scale note when it ships. PlansAuditSpec pins
    * PLANS.md to exactly these sections, so a new flagship without a
    * regenerated PLANS.md fails the suite. */
  val picks: Seq[(String, String)] = Seq(
      "q_agg_stats" -> ("Columnar stats aggregate: one partial+final pass, " +
        "48-byte buffers; the row_number window and the assemble groupBy " +
        "share the l_orderkey exchange."),
      "q_raster_join_bucketed" -> ("The 100 TB raster join: extent-grid " +
        "equi-join (SortMergeJoin on bucket keys), no broadcast of tile " +
        "payloads, exactly-once pair emission."),
      "q_minhash_pairs" -> ("Band equi-join carries only (id, band_idx, " +
        "band_hash); signatures rejoin once per side AFTER the narrow " +
        "distinct — no payload through the wide shuffle."),
      "q_tfidf" -> ("The term df table joins with a plain shuffle join " +
        "(open vocabulary — never broadcast); the only broadcast is the " +
        "one-row corpus count."),
      "q_knn_ivfpq" -> ("IVF+PQ composition: nlist-row centroid broadcast " +
        "for probe ranking, then an equi-join on the cell id shuffling " +
        "m-byte codes, never raw vectors; bounded top-k aggregate."),
      "q_asof" -> ("As-of join as ONE hash exchange: tagged union, per-key " +
        "(ts, side) window, running last(payload)."),
      "q_geotiff_read" -> ("DSv2 geotiff scan: bin-packed file-run BatchScan " +
        "with pruned output columns; window expansion is executor-side."),
      "q_dedup_pipeline" -> ("Connected-components keep-decisions: " +
        "localCheckpoint'ed symmetric edges, label propagation via " +
        "alternating joins — no re-derivation of the edge set per round."),
      "q_semdedup" -> ("SemDeDup: the only broadcast is the nlist-row " +
        "centroid table; candidate pairs are an equi-join on the cell id " +
        "over the once-materialized assignment — no corpus broadcast, no " +
        "cross join, no per-cell window."),
      "q_substring_dedup" -> ("ExactSubstr dedup: window fingerprints are " +
        "ids-only rows; duplicated-fp detection is one linear groupBy; " +
        "flagged windows return via LEFT SEMI join on fp (no pair " +
        "materialization); interval merge is a per-doc window."),
      "q_url_dedup" -> ("URL dedup: pl_normalize_url is a pure " +
        "regexp/string expression chain inside whole-stage codegen; the " +
        "only shuffle is the final canonical-URL groupBy."),
      "q_rolling" -> ("Bucketed trailing range window: ghosts are a second " +
        "filter-pruned scan unioned BEFORE the single (key, time-bucket) " +
        "hash exchange; the window partitions on the composite key, so a " +
        "hot key spreads across its time range — no bare-key serialization."),
      "q_funnel" -> ("Funnel: ONE hash exchange; the per-step first-reach " +
        "minima are chained window projections over the same sort, then " +
        "a plain partial+final aggregation — no per-step self-joins."),
      "q_heavy_hitters" -> ("Count-min heavy hitters: the sketch reduces " +
        "to one 1 KB partial per partition (ObjectHashAggregate), rides a " +
        "one-row broadcast, and every estimate probe is a flat codegen'd " +
        "expression — no shuffle beyond the exact-count groupBy."),
      "q_pagerank" -> ("Fixed-point PageRank, final iteration: edge-to-rank " +
        "equi-joins + a per-dst partial/final sum over localCheckpoint'ed " +
        "inputs — the Pregel-lite relational shape; integer millionths, " +
        "no float drift."),
      "q_salted_join" -> ("Skew-salted join: the fact side shuffles ONCE on " +
        "(key, salt) — a hot key fans out over 8 reducers — while the dim " +
        "side replicates through a generator; result row-identical to the " +
        "plain join (the oracle is the unsalted SQL)."),
      "q_compact" -> ("CDC latest-wins compaction as a partial+final max_by " +
        "aggregate: every partition collapses to one struct per key BEFORE " +
        "the exchange — no window sort, no skew exposure."),
      "q_hll" -> ("HyperLogLog rollup: daily register arrays reduce via " +
        "ObjectHashAggregate partials, MAX-merge to event_type, and the " +
        "estimate is a flat integer expression over the 64-long array — " +
        "the only shuffles are the two tiny keyed aggregations."),
      "q_fuzzy_join" -> ("Edit-distance-1 join: deletion variants explode " +
        "~(len+1)× ids-only rows into a variant EQUI-join (SortMergeJoin), " +
        "refine is a per-candidate levenshtein — no Levenshtein theta-join, " +
        "no nested loop."),
      "q_bloom_join" -> ("Bloom-prefiltered join: the dim keys collapse to " +
        "a 128 KB bitset (one-row aggregate, driver-collected like the IVF " +
        "centroids), probed as a scalar plan literal in the fact SCAN's " +
        "filter — ~96% of fact rows die before the join exchange; the " +
        "exact join removes false positives, so rows match the plain join."),
      "q_edit_dedup" -> ("Blocked Levenshtein near-dup pairs: prefix-block " +
        "equi-self-join bounds the quadratic refine per block; the hot-" +
        "block guard is a broadcast anti-join; the refine is the " +
        "THRESHOLDED levenshtein(a,b,d) — banded O(len·d), early abandon."),
      "q_profile" -> ("Column profile without the multi-distinct Expand: " +
        "per-column branches, each a map-side partial groupBy(value) (only " +
        "DISTINCT values shuffle) + a global fold; each branch's parquet " +
        "scan is pruned to its own column."),
      "q_zorder_prune" -> ("Z-order layout read-back: conjunctive range " +
        "predicates on BOTH interleaved keys reach the parquet reader as " +
        "PushedFilters over files whose min-max stats are selective " +
        "rectangles — row groups outside the predicate box never decode."),
      "q_triangles" -> ("Degree-ordered triangle enumeration: every join " +
        "is an equi-join (edge↔degree, wedge↔closing-edge); orientation " +
        "from the (deg, id)-smaller endpoint bounds wedge fan-out at " +
        "O(√m) per node, so the quadratic step is O(m^1.5) TOTAL — no " +
        "hub-key reducer, no cartesian anywhere in the plan."),
      "q_overlap_join" -> ("Interval-overlap join: both sides explode to " +
        "(key, time-bucket) rows and meet in a SortMergeJoin on the " +
        "composite key; the greatest-start ownership filter makes pairs " +
        "exactly-once with NO distinct shuffle — replication factor " +
        "span/width + 1, the knob the caller sizes to the typical span."),
      "q_cdc_apply" -> ("CDC MERGE: the changelog collapses to one head " +
        "per touched key in a partial+final max_by aggregate BEFORE the " +
        "exchange, then ONE full-outer SortMergeJoin against the snapshot " +
        "applies upserts and op='D' deletes — no window over the " +
        "snapshot, no second pass."),
      "q_segment_lm_filter" -> ("Segment LM gate: the bigram model is a " +
        "partial+final gram count; segment scoring shuffles ids-only " +
        "(id, pos, gram) rows on the gram; reassembly is an in-group " +
        "sort_array — no window over raw tokens, no per-segment scan."),
      "q_priority_sample" -> ("Weighted priority sample: one codegen'd " +
        "projection computes the integer u div w priority, then " +
        "TakeOrderedAndProject keeps k rows per partition before the " +
        "singleton merge — no global sort materialization, no shuffle " +
        "of non-winners."),
      "q_dsir" -> ("DSIR: pass 1 reduces the token stream to a 512-row " +
        "bucket aggregate (map-side combined); the integer micro-nat " +
        "lambda table ships INSIDE the scoring expression, so pass 2 is " +
        "scan + TakeOrderedAndProject — zero joins, zero row shuffles " +
        "in the scoring pass."),
      "q_attribution" -> ("Multi-touch attribution: ONE hash exchange by " +
        "user; first/last touch are two range-frame window aggregates of " +
        "a lexicographic (ts,id,type) struct over the same sort — the " +
        "conversions-times-touches self-join never exists."),
      "q_cidr_join" -> ("Longest-prefix CIDR join: rows expand once per " +
        "distinct prefix length (bounded collect, here 3) into an " +
        "equi-join on (len, prefix); winner-per-row is a partial+final " +
        "struct max — no LIKE theta join, no nested loop."),
      "q_wordpiece" -> ("Greedy subword stats: the vocab fit is a " +
        "map-side-combined word count + top-200 TakeOrdered; stats " +
        "evaluate inside the scan via the shipped-vocab expression — " +
        "the scoring pass has no exchange at all."),
      "q_cusum" -> ("CUSUM change-point: daily counts aggregate once, " +
        "then BOTH cusum sides are window projections (prefix sum + " +
        "running min) sharing one (key) exchange — the max(0,.) " +
        "recurrence never loops."),
      "q_lpa" -> ("Label propagation, final round: edge-label equi-join, " +
        "(node, label) partial+final count, min-struct argmax — hot " +
        "nodes cost degree, never degree^2; localCheckpoint'ed rounds " +
        "keep the plan flat."),
      "q_path_block" -> ("URL path blocklist: bounded per-depth " +
        "segment-prefix expansion meets rules in an equi-join on " +
        "(prefix, depth); deepest-rule winner is a partial+final struct " +
        "max — no LIKE theta join."),
      "q_assoc" -> ("Market-basket pairs: distinct (basket, item) rows, " +
        "ordered self-equi-join on the basket id (quadratic only in " +
        "the bounded basket size), minSupport prune BEFORE the " +
        "per-item joins; the only broadcast is the one-row basket count."),
      "q_knn_ndcg" -> ("nDCG@3: the fused and truth lists meet in ONE " +
        "ids-only equi-join; discounts are plan-time integer constants, " +
        "so the per-query score is a partial+final integer sum."),
      // ---- waves 5-9 + round-12 flagships ----
      "q_jaccard_join" -> ("PPJoin Jaccard self-join: candidates are an " +
        "equi-join on rare-first prefix shingles with the symmetric size " +
        "AND position filters applied IN the join condition, after a " +
        "broadcast anti-join removes hot prefix blocks; verify is one " +
        "count aggregate per candidate — ids + small ints only, never " +
        "all-pairs."),
      "q_kcore" -> ("k-core, fixed rounds: each round is one degree " +
        "aggregate + two equi-joins of edges against the shrinking " +
        "surviving-node table, localCheckpoint'ed so the plan never " +
        "re-derives prior rounds — no edge self-join anywhere."),
      "q_m4" -> ("M4 downsampling: ONE map-side-combinable groupBy — " +
        "first/last ride lexicographic struct min/max beside the value " +
        "min/max, so a billion-point series reduces in a single " +
        "partial+final pass with no window and no sort."),
      "q_percentiles" -> ("Exact per-key p50/p90/p99: the fact table " +
        "collapses to a (key, value) histogram FIRST; the cume windows " +
        "run over histogram rows (distinct values), never fact rows, and " +
        "the report is a partial+final min-over-threshold."),
      "q_winsorize" -> ("Winsorization: percentile band bounds come from " +
        "the histogram-cume report; the fact side meets the key-bounded " +
        "bounds table in ONE equi-join (AQE broadcasts it) and clamps " +
        "inside whole-stage codegen."),
      "q_robust_anomaly" -> ("Median/MAD gate: two histogram-cume " +
        "percentile passes (median of v, median of |v-med|), each " +
        "windowing only distinct-value rows; the fact table pays two " +
        "equi-joins against key-bounded tables and an integer compare."),
      "q_calibrate" -> ("Per-group score calibration: permille ranks come " +
        "from per-group distinct-score histograms (windows over histogram " +
        "rows); facts join the rank table once on (group, score) — no " +
        "window ever sorts fact rows."),
      "q_growth_curve" -> ("First-seen growth: min(bucket) per id is one " +
        "map-side-combinable groupBy; the curve aggregates that " +
        "id-bounded table and the cume window runs over bucket rows " +
        "(days), so history is never rescanned."),
      "q_kanonymity" -> ("k-anonymity audit: two map-side-combinable " +
        "groupBys (combo counts, coarse-combo counts) + one equi-join " +
        "bounded by the distinct-combo table — fact rows shuffle once."),
      "q_token_entropy" -> ("Token entropy: explode to (id, token), ONE " +
        "(id, token) count aggregate, per-id totals over the " +
        "token-bounded table, integer micro-nat reduce — no window, no " +
        "self-join."),
      "q_reconcile" -> ("Parent/child conservation: the child side " +
        "REDUCES to one row per parent key before the single left " +
        "equi-join against headers — integral-exact diff, no window."),
      "q_gap_regularity" -> ("Cadence regularity: one per-key lag window " +
        "(the only shuffle), integral-div gaps, then a map-side-" +
        "combinable moment aggregate; the CV^2 flag is division-cleared " +
        "integer algebra."),
      "q_colloc" -> ("Adjacent-bigram collocations: one bigram-count " +
        "groupBy + one unigram-count groupBy (both map-side " +
        "combinable), two equi-joins of the minCount-pruned bigram " +
        "table against the token-bounded unigram table; only the " +
        "one-row corpus totals broadcast."),
      "q_ldiversity" -> ("l-diversity audit: one (combo, sensitive) " +
        "groupBy then a combo-bounded rollup — fact rows shuffle once " +
        "and no countDistinct Expand ever materializes."),
      // ---- wave-11 (round-12 snapshot) + round-13 flagships ----
      "q_cooccur" -> ("Windowed token co-occurrence: tokens explode to " +
        "(id, pos, token) once, pairs form in a per-doc position-bounded " +
        "equi-self-join (|pos_a - pos_b| <= w inside the join condition), " +
        "then ONE map-side-combinable pair-count groupBy — fan-out is " +
        "window-bounded per token, never quadratic in the document."),
      "q_kappa" -> ("Cohen's kappa: the rating stream collapses to ONE " +
        "(a, b) pair-count groupBy; marginals are label-bounded " +
        "re-aggregations of that table and the chance term is a " +
        "label-bounded equi-join; the only crossJoins are the allowlisted " +
        "one-row broadcast totals; DECIMAL(38,0) clearing keeps n^2 exact " +
        "past 3e9 rows."),
      "q_shard_balance" -> ("Shard-balance audit: mix64 over the " +
        "(schema-checked integral) id inside whole-stage codegen, one " +
        "groupBy on the masked hash (exactly nShards groups), and the " +
        "permille deviation rides the one-row broadcast total — fact rows " +
        "shuffle once into a bounded-cardinality aggregate."),
      "q_debounce" -> ("Tolerance debounce: ONE hash exchange on the key; " +
        "prev-gap is a lag window over the (ts, id) sort and the keep " +
        "decision is a codegen'd compare — sessionization's skew profile, " +
        "no self-join, no second pass."),
      "q_containment_join" -> ("One-way containment join (PPJoin prefix): " +
        "candidates are an equi-join on the rare-first prefix with the " +
        "containment size filter and position upper bound IN the join " +
        "condition, after a broadcast anti-join caps hot shingles " +
        "(df > hotCap); verify is one count per candidate — ids + small " +
        "ints through the shuffle, never payloads."),
      "q_resample_cubic" -> ("Keys cubic-convolution resample: a pure " +
        "per-tile codegen'd expression over the scan — zero exchanges; " +
        "the 16-tap kernel's dyadic weights make the result exact in " +
        "double, so the same query is the cross-engine oracle."),
      "q_raster_join_bilinear" -> ("Raster join with a bilinear " +
        "reproject_and_merge kernel: identical join shape to the pinned " +
        "q_raster_join_bucketed (extent-grid SortMergeJoin, no tile " +
        "broadcast) — the resample method changes only the per-pair merge " +
        "expression, never the shuffle."),
      "q_e2e_curation" -> ("The composed curation pipeline (clean-lines " +
        "→ gopher gate → exact dedup → pack) as ONE plan: per-row " +
        "codegen from scan to the dedup step, then three keyed shuffles " +
        "— a content-hash min-id window (duplicate-sized groups, no " +
        "skew; replaced a groupBy+join-back that planned three " +
        "exchanges), the per-shard packing window, the per-bin stats " +
        "aggregate. The per-stage flagships pin each piece; this pins " +
        "the cross-stage contracts."),
      // ---- wave-12 flagships ----
      "q_fleiss" -> ("Fleiss' kappa: ONE (item, category) groupBy over " +
        "the rating stream, an item-bounded completeness semi-join, and " +
        "three one-row aggregates met in allowlisted broadcast " +
        "crossJoins — DECIMAL(38,0) clearing keeps the integer kappa " +
        "exact past 3e9 items."),
      "q_rouge" -> ("ROUGE-2: strict NGrams windows + a codegen'd " +
        "clipped-overlap fold, all per-row — ZERO exchanges; a billion " +
        "candidate/reference pairs cost one scan."),
      "q_link_predict" -> ("Adamic-Adar: wedges enumerate through the " +
        "CENTER node (one adjacency equi-self-join on w, quadratic only " +
        "in deg(w)) with centers capped at maxDegree BEFORE the join — " +
        "the hub guard; per-wedge micro-unit 1/ln terms aggregate in one " +
        "(u, v) groupBy and existing edges leave via one LEFT ANTI join."),
      "q_also_viewed" -> ("Co-membership: distinct (user, item) is one " +
        "groupBy, hub users (> maxItems) drop via an aggregate semi-join " +
        "BEFORE the user-keyed pair self-join (bounded at maxItems² per " +
        "user), then ONE map-side-combinable pair count."),
      "q_autocorr" -> ("Exact lag-k autocorrelation: one lead window per " +
        "key + one map-side-combinable six-moment aggregate — a single " +
        "keyed shuffle; the n²-cleared integer num/den make the permille " +
        "bit-reproducible under any partitioning."),
      // ---- wave-13 flagships ----
      "q_krippendorff" -> ("Krippendorff's alpha: ONE (item, category) " +
        "groupBy, per-item micro-unit disagreement terms off the bounded " +
        "item table, three one-row aggregates in allowlisted broadcast " +
        "crossJoins — the variable-panel sibling of q_fleiss."),
      "q_cosine_join" -> ("Sparse tf-idf cosine join: tf and df are two " +
        "map-side-combinable groupBys; the weighted posting list " +
        "materializes ONCE (eager localCheckpoint — it feeds both dot " +
        "sides and both norm joins; without it the optimizer re-derived " +
        "the lineage per reference into a 22-join plan); candidates " +
        "equi-join the postings on the TERM after the df > dfCap hub " +
        "guard; all products DECIMAL-exact."),
      "q_blocklist" -> ("Aho-Corasick blocklist scan: the dictionary " +
        "ships inside the expression as a plan literal, the automaton " +
        "builds once per executor, and each row costs O(len + matches) " +
        "independent of pattern count — zero exchanges before the " +
        "caller's aggregation."),
      // ---- wave-14 flagships ----
      "q_tcloseness" -> ("t-closeness: fact rows shuffle exactly once " +
        "(the (combo, value) groupBy, checkpointed — it feeds the " +
        "combos, the grid join and the global rollup, which derives " +
        "from the cell table instead of re-scanning facts); the dense " +
        "grid is an allowlisted crossJoin of two METADATA-sized tables " +
        "and the cumulative windows run over grid rows only."),
      "q_readability" -> ("Flesch reading ease: split + " +
        "regexp_extract_all + a higher-order syllable fold, all per-row " +
        "— zero exchanges; the milli-point score rounds ONCE from two " +
        "exact integer divisions."),
      "q_journeys" -> ("Session journey mining: sessionization's single " +
        "key shuffle (lag + running break sum), a (key, session) groupBy " +
        "whose in-group sort_array replays the total order without a " +
        "second window, strict NGrams path windows, one map-side-" +
        "combinable journey count."),
      "q_bpe_learn" -> ("BPE merge learning: per round one map-side-" +
        "combinable pair count, a ONE-ROW TakeOrdered argmax (never a " +
        "driver collect) pinned flat with an eager localCheckpoint, and " +
        "a broadcast crossJoin feeding the per-row delimiter-replace " +
        "rewrite — the 'needs a UDF loop' folklore reduced to replace()."),
      "q_bpe_apply" -> ("BPE tokenize with a LEARNED merge table: the " +
        "whole table (8 learn rounds here; thousands in a real vocab) " +
        "rides in ONE BpeApplyMerges expression node — a per-executor " +
        "hash map, single greedy min-rank loop per word, zero per-merge " +
        "corpus copies and zero Exchanges after the learn phase's " +
        "metadata-sized collect."),
      "q_unigram_apply" -> ("Unigram-LM (SentencePiece) tokenize: the " +
        "learned vocab (pieces + integer micro-nat costs) rides in ONE " +
        "UnigramViterbi expression node — per-executor hash map, exact-" +
        "long DP per word, the corpus segments inside the scan; the EM " +
        "fit above it touches only the DISTINCT-WORD table and vocab-" +
        "bounded collects."),
      "q_covariance" -> ("One-pass exact covariance matrix: ONE " +
        "GramMatrixAggregate reduces the embedding corpus to O(d^2) " +
        "longs of associative state (order-free result, no row " +
        "shuffles), a single-row posexplode and a broadcast triangle-" +
        "index equi-join finish d(d+1)/2 cells with DECIMAL(38,0) " +
        "products and one division each."),
      "q_minhash_eval" -> ("Minhash-LSH quality audit: exact truth from " +
        "a direct shingle-intersection equi-join (no pruning — the eval " +
        "harness must not inherit the candidate generator's blind " +
        "spots), banded candidates from the production operator, three " +
        "one-row counts on broadcast crossJoins."),
      "q_hard_negatives" -> ("Contrastive hard-negative mining: the IVF " +
        "fit + one-pass assignment of q_knn_ivf, ONE cell equi-self-" +
        "join (never all-pairs), and one per-anchor aggregate whose " +
        "lexicographic struct max breaks similarity ties to the " +
        "smallest id — deterministic where max_by is not."),
      "q_novelty" -> ("N-gram novelty: one (gram -> min id) groupBy " +
        "(map-side combinable) + one gram-keyed equi-join back — the " +
        "tfidf shape; the open-vocabulary gram table is never " +
        "broadcast."),
      "q_trending" -> ("Trending terms through the SHARED batch/" +
        "streaming termCountsWindowed: explode to (window, term), ONE " +
        "map-side-combinable count; the top-3 rank is batch-side by " +
        "design (a rank after a streaming agg would chain two stateful " +
        "aggregations, which append-mode streaming forbids)."),
      // ---- wave-17 flagships ----
      "q_e2e_multimodal" -> ("The composed multimodal pipeline (PNG " +
        "encode → REAL decode gate → ahash → chunk-blocked near-dup " +
        "anti-join → pixel-count packing) as ONE plan: the decoded " +
        "(id, px, ahash) table checkpoints ONCE and feeds both the " +
        "blocking self-join and the survivor anti-join; pairs travel " +
        "as ids+hashes only, never payloads — the image twin of " +
        "q_e2e_curation's cross-stage contract pin."),
      // ---- wave-18..23 flagships ----
      "q_chi2" -> ("Chi-square 2x2 A/B readout: FOUR conditional " +
        "counts in ONE map-side-combinable groupBy — a single keyed " +
        "shuffle, key-bounded output; the statistic is a per-row " +
        "round-once expression after the aggregate."),
      "q_ks" -> ("Two-sample KS drift: one groupBy per side, " +
        "cumulative windows over the DISTINCT-VALUE table only " +
        "(fact rows shuffle once per side), exact integer D in ppm " +
        "with a smallest-value argmax."),
      "q_bm25" -> ("BM25 retrieval: tokens filter to the query terms " +
        "BEFORE any shuffle (the explode feeds a pushed-down isin); " +
        "df and the one-row (N, sumlen) totals broadcast; top-k is " +
        "TakeOrdered, rank over the k survivors only."),
      "q_token_label_mi" -> ("Token-label MI leakage audit: ONE " +
        "(token, label) groupBy; the dense term x label grid is a " +
        "crossJoin with the BROADCAST metadata-sized label margins " +
        "(the t-closeness pattern) — linear in the vocabulary, and " +
        "absent cells keep their mass."),
      "q_bootstrap" -> ("Poisson bootstrap: explode inflates reps x " +
        "on the MAP side only — groupBy(rep) partial-aggregates " +
        "before the exchange, so exactly reps rows per partition " +
        "shuffle regardless of data size; weights are deterministic " +
        "mix64 draws against shared threshold literals."),
      "q_token_kl" -> ("Token KL mixture shift: one token-count " +
        "groupBy per side, ONE full-outer term join, broadcast " +
        "one-row totals; per-term round-once micro-nats make the " +
        "top-k engine-replayable."),
      "q_source_overlap" -> ("Cross-source Jaccard: text reduces to " +
        "distinct (source, fingerprint) BEFORE the fp-keyed ordered " +
        "self-join; per-fp fan-out is bounded by the metadata-sized " +
        "source count squared; sizes join back via broadcast."),
      "q_ewma" -> ("Truncated integer EWMA: L lag reads share ONE " +
        "per-key window sort — partitioned, never a global sort; no " +
        "joins, no second shuffle; exact longs end to end."),
      "q_rbo" -> ("Rank-biased overlap: the two rankings meet in ONE " +
        "equi-join on (query, neighbor); the depth expansion is a " +
        "broadcast k-row table range join (metadata-sized); " +
        "per-(query, depth) counts map-side combine; zero-overlap " +
        "queries survive via the left join from A's distinct queries."),
      "q_neyman" -> ("Neyman stratified sampling: one moments groupBy " +
        "(stratum-bounded), broadcast one-row total-weight crossJoin, " +
        "then the SAME bucketed two-phase take as q_sample_quota — " +
        "whole buckets pass rank-free, only the per-source boundary " +
        "bucket pays a window over ~n/4096 rows."),
      "q_qnorm" -> ("Quantile normalization: both sides reduce to " +
        "distinct-score histograms BEFORE any window (fact rows are " +
        "never window-sorted); the pooled inverse-CDF is a 1000-row " +
        "broadcast; the fact table pays ONE (group, score) equi-join " +
        "plus a broadcast permille lookup."),
      // ---- wave-41/42 flagships (r17) ----
      "q_mwu" -> ("Mann-Whitney U: pooled mid-ranks from per-key " +
        "DISTINCT-VALUE histograms (the spearman construction — fact " +
        "rows shuffle once into the histogram, never sort), one " +
        "moment rollup per key; the tie-corrected z is a round-once " +
        "expression after the aggregate."),
      "q_cuped" -> ("CUPED variance reduction: ONE (key, variant) " +
        "moments groupBy over the unit table (map-side combined), " +
        "pooled moments re-summed from the variant partials " +
        "(metadata-sized), theta/means/rho-squared as round-once " +
        "expressions after a broadcast pooled join — no per-row " +
        "adjusted column ever materializes."),
      "q_km" -> ("Kaplan-Meier survival: subjects reduce to the " +
        "per-(key, distinct-time) count table in one groupBy; risk " +
        "sets are a DESC cumulative window over distinct times (never " +
        "subject rows), the log-survival walk an ASC one; zero joins."),
      "q_kendall" -> ("Kendall tau-b: the O(n^2) pair definition " +
        "collapsed to the quantized joint distinct-CELL table; the " +
        "cell self-join is D^2 per key under a fail-loud cap, margins " +
        "and totals are cell-table groupBys — the corpus itself is " +
        "never pair-joined."),
      "q_roc_auc" -> ("Exact ROC-AUC: the ranking metric WITHOUT a " +
        "rank sort — one distinct-score histogram groupBy, one " +
        "cumulative window over DISTINCT scores, one moment rollup; " +
        "AUC and Cliff's delta are integer divisions of the rollup."),
      "q_chi_kxm" -> ("k x m chi-square: margins and cells are " +
        "map-side-combinable groupBys; the dense level grid is a " +
        "label-sized broadcast crossJoin GUARDED by maxLevels " +
        "raise_error — the corpus is scanned once."),
      "q_anova_f" -> ("One-way ANOVA: the corpus reduces to the " +
        "per-(key, group) six-moment table in one partial+final " +
        "aggregate; per-group nano terms and the key rollup never " +
        "touch rows again — zero joins, zero windows."),
      "q_kruskal" -> ("Kruskal-Wallis: pooled double mid-ranks ride " +
        "ONE cumulative window over the per-key distinct-value " +
        "table; the (key, group, value) cell table equi-joins the " +
        "rank column back and rolls up — rows shuffle once."),
      "q_anderson_darling" -> ("Anderson-Darling two-sample: the " +
        "ksStatistic shape — one groupBy per side, a full-outer join " +
        "of distinct-value tables under the maxDistinct fail-loud " +
        "cap, cumulative windows over DISTINCT values only, a " +
        "one-row totals broadcast; the corpus never sorts."),
      "q_energy_dist" -> ("Energy distance: all three pairwise-|diff| " +
        "sums are prefix-identity window sums over the pooled " +
        "distinct-value table (capped by maxDistinct) — NEVER a pair " +
        "join; one totals broadcast, one round-once micro division."),
      "q_mutual_info" -> ("Mutual information + Theil's U: only " +
        "OBSERVED cells flow (absent cells contribute exactly 0 — no " +
        "dense grid); the two label-sized margins broadcast-join the " +
        "cell table under maxLevels guards; one scan, one rollup."),
      "q_calibration_monitor" -> ("Streaming calibration (batch " +
        "face): one map-side-combinable per-bin groupBy (bins rows " +
        "total), the one-row ECE headline broadcast back — state in " +
        "the streaming twin is exactly 3*bins longs per key."),
      "q_pr_auc" -> ("PR-AUC: trapezoids over the distinct-threshold " +
        "table DESC — one histogram groupBy, one cumulative window " +
        "over DISTINCT thresholds, per-threshold round-once terms; " +
        "no row sort, no join."),
      "q_grubbs" -> ("Grubbs outlier G: the extremes-only identity " +
        "makes it ONE moment groupBy (max deviation is at min or " +
        "max) — five exact DECIMAL moments, factored sqrts, zero " +
        "windows, zero joins."),
      "q_page_hinkley" -> ("Page-Hinkley detector: one key-partitioned " +
        "window pass (running mean, cumulative m, prefix min — rows " +
        "shuffle once), one max-struct rollup for the final row; no " +
        "calibrated baseline, no joins."),
      "q_moods_median" -> ("Mood's median: pooled lower median from a " +
        "cumulative window over the per-key DISTINCT-value histogram, " +
        "then the k x 2 chi-square over counts — the corpus joins the " +
        "key-bounded median table once and never sorts."),
      "q_did" -> ("Difference-in-differences: all twelve cell moments " +
        "in ONE conditional groupBy row — a single keyed shuffle; " +
        "DID/SE/t are round-once expressions with no cross-row double " +
        "sums."),
      "q_trimmed_mean" -> ("Exact trimmed mean: clamped kept-counts on " +
        "the cumulative distinct-value histogram window — fact rows " +
        "shuffle once into the histogram and are never window-sorted."),
      "q_hellinger" -> ("Hellinger/Bhattacharyya: INNER join of the " +
        "two distinct-value tables (only shared values carry mass), " +
        "per-value nano sqrt terms, one-row totals broadcast — no " +
        "windows at all."),
      "q_pairwise_welch" -> ("Pairwise Welch post-hoc: the corpus " +
        "reduces ONCE to (key, group) moments; the pair join is a " +
        "label-sized self-equi-join under the fail-loud maxGroups " +
        "guard — k^2 moment rows, never corpus rows."),
      "q_heaps" -> ("Heaps-law fit: token counting and first-doc are " +
        "corpus groupBys; everything ordered is the DOC-level table " +
        "(maxDocs fail-loud), then the zipfFit exact integer OLS."),
      "q_sample_per_key" -> ("Per-key priority sample: one codegen'd " +
        "mix64 projection + one key-partitioned row_number window — " +
        "deterministic, seedless, bit-identical to the streaming " +
        "reservoir over any prefix."),
      "q_quantile_monitor" -> ("Streaming quantile monitor (batch " +
        "face): per-key bounded distinct-value histogram state " +
        "(maxBins fail-loud), exact percentileReport-rule p50/p90/p99 " +
        "per batch."),
      "q_jarque_bera" -> ("Jarque-Bera: ONE 4-power-sum groupBy — the " +
        "n-powers cancel in the scale-free skew/kurtosis ratios; " +
        "m2^1.5 as m2*sqrt(m2), no pow(), zero joins, zero windows."))

  def main(args: Array[String]): Unit = {
    // small-SF auto-broadcast would mask the at-scale join shapes:
    // with the threshold off, ONLY explicit broadcast() hints
    // broadcast — the plans below show what a big cluster would run
    val spark = Session.local(8, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the flagship queries\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` at sf0.001 with\n")
    sb.append("`spark.sql.autoBroadcastJoinThreshold=-1`, so ONLY explicit\n")
    sb.append("broadcast() hints broadcast — every other join shows its\n")
    sb.append("at-scale shuffle shape (AQE may still re-plan at runtime).\n")
    sb.append("Regenerate: `sbt \"runMain graft.tools.DumpPlans\"`.\n")
    for ((name, note) <- picks) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
    }
    Files.write(Paths.get("PLANS.md"), sb.toString.getBytes("UTF-8"))
    println("WROTE PLANS.md " + sb.length)
    spark.stop()
  }
}
