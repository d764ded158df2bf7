"""Training-data pipeline operators: thin py4j wrappers over the Scala
``graft.pipeline`` objects (``Stats``, ``Dedup``, ``Graph``, ``Joins``,
``QuantileFilter``, ...).

Each wrapper calls its Scala operator directly and returns the JVM plan
as a Python DataFrame, so every algorithm has one implementation and
every Scala fix reaches Python. Argument conversion lives in
``graft._bridge``; a wrapper keeps only the checks that need no data
(raised as ``ValueError``). The Scala contract holds as is: most keyed
operators require non-empty ``keys``, and runtime errors carry the
snake_case operator name (``raise_error("bh_fdr: ...")``).

Python-only, because no Scala operator takes these arguments:

- ``hll_overlap`` and ``vad_segments``: compositions that exist inline
  in ``SparkEntry`` (q_hll_overlap, q_vad), not as operators;
- ``hard_negatives_with_cells``: takes PRE-ASSIGNED cells, while
  ``Similarity.hardNegatives`` fits its own IVF cells.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graft._bridge import _jc, _jvm, _pl, _seq, _wrap


def _check_disjoint(left, right, key):
    collide = (set(left.columns) & set(right.columns)) - {key}
    if collide:
        raise ValueError(f"column names must not collide across sides: "
                         f"{sorted(collide)}")


def _check_max_distinct(max_distinct):
    if not 2 <= max_distinct <= 1 << 24:
        raise ValueError("max_distinct must be in [2, %d], got %d"
                         % (1 << 24, max_distinct))


def chunk(df, id_col, text_col, size_tokens, overlap=0):
    """Split documents into ``size_tokens``-token windows advancing by
    ``size_tokens - overlap``; every token lands in at least one chunk,
    short docs yield one short chunk. Scala ``Chunking.chunk``."""
    if size_tokens <= 0:
        raise ValueError("size_tokens must be positive")
    if not 0 <= overlap < size_tokens:
        raise ValueError("overlap must be in [0, size_tokens)")
    return _wrap(df, _pl().Chunking.chunk(
        df._jdf, id_col, text_col, int(size_tokens), int(overlap)))


def quantile_threshold(df, score, permille):
    """One-row frame holding the smallest score value whose cumulative
    histogram count reaches ceil(n * permille / 1000). Scala
    ``QuantileFilter.threshold``."""
    if not 0 <= permille <= 1000:
        raise ValueError("permille must be in [0, 1000]")
    return _wrap(df, _pl().QuantileFilter.threshold(
        df._jdf, _jc(score), int(permille)))


def quantile_keep_above(df, score, permille):
    """Keep rows with score >= the permille threshold (ties kept). Scala
    ``QuantileFilter.keepAbove``."""
    return _wrap(df, _pl().QuantileFilter.keepAbove(
        df._jdf, _jc(score), int(permille)))


def dedupe_within_doc(df, id_col, text_col, seg_tokens=8):
    """Collapse repeated ``seg_tokens``-token segments inside one document
    to their first occurrence (order-preserving); returns (id, clean_text,
    n_segments, n_dropped). No shuffle. Scala ``Dedup.dedupeWithinDoc``."""
    if seg_tokens <= 0:
        raise ValueError("seg_tokens must be positive")
    return _wrap(df, _pl().Dedup.dedupeWithinDoc(
        df._jdf, id_col, text_col, int(seg_tokens)))


def gopher_metrics(df, id_col, text_col,
                   min_words=4, max_words=1000,
                   min_mean_word_len=3.0, max_mean_word_len=10.0,
                   max_symbol_ratio=0.1, min_alpha_ratio=0.8,
                   min_stop_hits=2,
                   stopwords=("the", "a", "and", "of", "to", "in")):
    """Gopher-rule metrics + composite gopher_pass verdict. Scala
    ``GopherRules.metrics``."""
    return _wrap(df, _pl().GopherRules.metrics(
        df._jdf, id_col, text_col, int(min_words), int(max_words),
        float(min_mean_word_len), float(max_mean_word_len),
        float(max_symbol_ratio), float(min_alpha_ratio), int(min_stop_hits),
        _seq(stopwords)))


def winnow_pairs(df, id_col, text_col, k=3, w=4, min_shared=2,
                 max_doc_freq=20):
    """Near-dup candidate pairs by shared winnowing fingerprints with the
    hot-fingerprint cutoff. Scala ``Dedup.winnowPairs``."""
    return _wrap(df, _pl().Dedup.winnowPairs(
        df._jdf, id_col, text_col, int(k), int(w), int(min_shared),
        int(max_doc_freq)))


def semdedup_keep(df, id_col, vec_col, nlist=16, threshold=0.97,
                  fit_sample_size=100000, fit_iters=10):
    """SemDeDup keep decisions (Abbas et al. 2023, arXiv:2303.09540):
    k-means cells + within-cell cosine pruning, keep priority = LOW
    centroid similarity (edge examples survive), ties to the lower id.
    Returns ``(id, cell, csim, keep)``. Scala
    ``EmbeddingDedup.semDedupKeep``."""
    return _wrap(df, _pl().EmbeddingDedup.semDedupKeep(
        df._jdf, id_col, vec_col, int(nlist), float(threshold),
        int(fit_sample_size), int(fit_iters)))


def read_warc(spark, path):
    """Common Crawl WARC container read: columns ``(record_type,
    target_uri, warc_date, record_id, content_type, content_length,
    payload)``, one task per ``.warc``/``.warc.gz`` file. Scala
    ``graft.datasource.Warc.read`` (the reader behind the ``warc`` data
    source)."""
    return _wrap(spark, _jvm().graft.datasource.Warc.read(
        spark._jsparkSession, path))


def substring_dedup(df, id_col, text_col, k=8):
    """Exact substring dedup (Lee et al. 2022, arXiv:2107.06499
    "ExactSubstr", at k-token-window granularity): drop every token covered
    by a k-token window whose content occurs more than once in the corpus.
    Windows come from the registered ``pl_winnow`` with w=1 (every window,
    no downsampling); "occurs more than once" is one linear groupBy(fp);
    flagged windows return via LEFT SEMI join on fp (no pair blowup);
    overlapping windows merge per doc with the cumulative-max interval
    merge. Returns ``(id, n_tokens, n_dup_spans, n_removed_tokens,
    cleaned_text)``. Scala ``Dedup.substringDedup``."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    return _wrap(df, _pl().Dedup.substringDedup(
        df._jdf, id_col, text_col, int(k)))


def pmi_pairs(df, id_col, text_col, min_support=5, k=20):
    """Top co-occurring term pairs by rational PMI lift: for unordered
    pairs (a < b) co-occurring in >= ``min_support`` documents, ``lift =
    n_ab * N / (n_a * n_b)`` (no logarithm — the ranking is identical and
    the scores stay bit-exact cross-engine). The df filter runs before
    pairing and is lossless; the global top-k is sort+limit
    (TakeOrderedAndProject), rank assigned over the k survivors only.
    Returns ``(a, b, n_ab, n_a, n_b, lift, rank)``. Scala
    ``Dedup.pmiPairs``."""
    if min_support <= 0 or k <= 0:
        raise ValueError("min_support and k must be positive")
    return _wrap(df, _pl().Dedup.pmiPairs(
        df._jdf, id_col, text_col, int(min_support), int(k)))


def page_rank(edges, src_col, dst_col, iterations=3, damping_permille=850):
    """Fixed-point PageRank: damped power iteration as joins +
    aggregations, ranks as integer MILLIONTHS (floating summation order
    would make runs and engines disagree; long sums are associative, so the
    result is bit-reproducible). Parallel edges dedupe; dangling nodes leak
    mass (simple variant). Returns ``(node, rank)``. Scala
    ``Graph.pageRank``."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0 <= damping_permille <= 1000:
        raise ValueError(
            f"damping_permille must be in [0, 1000], got {damping_permille}")
    return _wrap(edges, _pl().Graph.pageRank(
        edges._jdf, src_col, dst_col, int(iterations), int(damping_permille)))


def hits(edges, src_col, dst_col, iterations=2):
    """HITS hubs-and-authorities: per iteration, authority = in-edge hub
    sum and hub = out-edge authority sum, each max-normalized to integer
    millionths (exact long arithmetic, bit-reproducible). Returns ``(node,
    hub, auth)``. Scala ``Graph.hits``."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    return _wrap(edges, _pl().Graph.hits(
        edges._jdf, src_col, dst_col, int(iterations)))


def triangles(edges, src_col, dst_col):
    """Triangle enumeration: degree-ordered orientation (each undirected
    edge points from its (degree, id)-smaller endpoint), so wedge
    generation is O(m^1.5) total regardless of hub skew and each triangle
    is found once, at its unique minimal apex. Direction, parallel edges
    and self-loops are ignored. Returns ``(a, b, c)`` with ``a < b < c``.
    Scala ``Graph.triangles``."""
    return _wrap(edges, _pl().Graph.triangles(edges._jdf, src_col, dst_col))


def snapshot_diff(old_df, new_df, id_col, text_col):
    """Crawl-to-crawl snapshot diff: classify every id as added / removed /
    changed / unchanged by content fingerprint. One full-outer shuffle join
    on the id; both sides reduce to (id, fingerprint) before the exchange.
    Returns ``(id, status, old_fp, new_fp)``. Scala ``Dedup.snapshotDiff``."""
    return _wrap(old_df, _pl().Dedup.snapshotDiff(
        old_df._jdf, new_df._jdf, id_col, text_col))


def diversity_report(df, src_col, text_col):
    """Per-source lexical-diversity report: doc/token totals, distinct
    unigrams and bigrams, type-token ratios. Integer counts + one exact
    double division per ratio. Scala ``Dedup.diversityReport``."""
    return _wrap(df, _pl().Dedup.diversityReport(df._jdf, src_col, text_col))


def salted_join(big, small, key, salts=8):
    """Skew-salted inner equi-join: row-identical to ``big.join(small,
    key)`` but a hot key's rows spread over ``salts`` reducers. The big
    side gets a deterministic row-hash salt; the small side replicates once
    per salt through a generator (no broadcast requirement). Scala
    ``Joins.saltedJoin``."""
    return _wrap(big, _pl().Joins.saltedJoin(
        big._jdf, small._jdf, key, int(salts)))


def compact_latest(df, keys, order_cols):
    """CDC latest-wins changelog compaction: one row per ``keys``, the
    lexicographically greatest ``order_cols`` tuple, via the map-side-
    combining ``max_by`` aggregate (no window sort). ``order_cols`` must be
    a total order within each key (end with a unique id). Scala
    ``Joins.compactLatest``."""
    return _wrap(df, _pl().Joins.compactLatest(
        df._jdf, _seq(keys), _seq(order_cols)))


def overlap_join(left, right, key, left_start, left_end, right_start,
                 right_end, bucket_width):
    """Interval-overlap equi-join: pairs rows sharing ``key`` whose CLOSED
    ``[start, end]`` intervals overlap. Each interval explodes to the
    ``bucket_width``-sized buckets it touches; the join runs on ``(key,
    bucket)``, and keeping only ``greatest(starts)``'s bucket makes each
    pair exactly-once with no dedup shuffle. Scala ``Joins.overlapJoin``."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    _check_disjoint(left, right, key)
    return _wrap(left, _pl().Joins.overlapJoin(
        left._jdf, right._jdf, key, left_start, left_end, right_start,
        right_end, int(bucket_width)))


def segment_lm_filter(df, id_col, text_col, seg_tokens=8,
                      max_rare_permille=500, rare_max_cnt=1):
    """CCNet-style segment LM gate: fixed token-window segments score
    against the corpus bigram table; segments whose bigrams are mostly
    corpus-unique drop, documents reassemble in order. Integer-permille
    rarity keeps the gate exactly replayable. Scala
    ``SegmentLm.segmentLmFilter``."""
    return _wrap(df, _pl().SegmentLm.segmentLmFilter(
        df._jdf, id_col, text_col, int(seg_tokens), int(max_rare_permille),
        int(rare_max_cnt)))


def priority_sample(df, id_col, weight_col, k):
    """Weighted priority sampling (Duffield-Lund-Thorup, integer form):
    ``priority = (pl_mix64(id) & Long.Max) div max(weight, 1)``, the k
    smallest priorities win. Deterministic, seedless, exact integer
    comparisons; the plan is a scalar projection + bounded global top-k.
    Scala ``Splits.prioritySample``."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    return _wrap(df, _pl().Splits.prioritySample(
        df._jdf, id_col, weight_col, int(k)))


def priority_sample_per_key(df, keys, id_col, k):
    """Per-key deterministic k-sample and batch face of the streaming
    reservoir: seedless mix64 priorities, k smallest per key via one key-
    partitioned row_number window. Scala ``Splits.prioritySamplePerKey``."""
    if k <= 0:
        raise ValueError("k must be positive, got %d" % k)
    return _wrap(df, _pl().Splits.prioritySamplePerKey(
        df._jdf, _seq(keys), id_col, int(k)))


def band_join(left, right, key, left_val, right_val, eps):
    """Scalar band join: pairs rows sharing ``key`` whose integral values
    differ by at most ``eps``. The left side replicates to its home bucket
    and both neighbors (width = eps), the right keeps its single home
    bucket, so each matching pair meets exactly once in an equi-join. Scala
    ``Joins.bandJoin``."""
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    _check_disjoint(left, right, key)
    return _wrap(left, _pl().Joins.bandJoin(
        left._jdf, right._jdf, key, left_val, right_val, int(eps)))


def apply_changelog(snapshot, changes, keys, order_cols, op_col):
    """CDC MERGE: apply a changelog (upserts AND ``op == 'D'`` tombstones)
    to a snapshot. The changelog compacts map-side to one head per touched
    key (``compact_latest``), then ONE full-outer equi-join upserts /
    deletes; untouched keys pass through. Scala ``Joins.applyChangelog``."""
    return _wrap(snapshot, _pl().Joins.applyChangelog(
        snapshot._jdf, changes._jdf, _seq(keys), _seq(order_cols), op_col))


def fuzzy_join(left, right, left_col, right_col):
    """Edit-distance-≤1 string join: FastSS deletion-variant blocking
    (``pl_deletion_variants``) turns Levenshtein matching into an equi-join
    on variants; only candidates pay the exact refine. Column names must
    not collide across sides; inputs should be deduplicated relations.
    Scala ``Joins.fuzzyJoin``."""
    return _wrap(left, _pl().Joins.fuzzyJoin(
        left._jdf, right._jdf, left_col, right_col))


def anomaly_flags(df, keys, value_col, k_num=2, k_den=1):
    """Division-free per-group z-score gate: appends ``grp_n``, ``dev2 =
    (n·v − s)²``, ``var_n2 = n·ssq − s²`` and ``is_anomaly = kDen²·dev2 >
    kNum²·var_n2`` in exact integer math (pre-scale float metrics to longs
    first). Scala ``Stats.anomalyFlags``."""
    return _wrap(df, _pl().Stats.anomalyFlags(
        df._jdf, _seq(keys), value_col, int(k_num), int(k_den)))


def profile(df, cols):
    """Deequ-style column profile: one row per column with
    row/null/distinct counts and string-cast min/max, as per-column two-
    phase ``groupBy(value)`` branches (map-side combine, column-pruned
    scans — no multi-distinct Expand). Keep float columns out when cross-
    engine string parity matters; cache computed inputs first (branches re-
    evaluate). Scala ``Profile.profile``."""
    return _wrap(df, _pl().Profile.profile(df._jdf, _seq(cols)))


def bloom_join(big, small, key, num_bits=1 << 20, k=5):
    """Bloom-prefiltered inner equi-join: row-identical to
    ``big.join(small, key)``, but the big side is cut at the scan by a
    membership probe against a Bloom bitset of the small side's keys (built
    by a one-row aggregate, ``num_bits/8`` bytes collected driver-side).
    False positives die in the exact join; false negatives are impossible.
    Scala ``Joins.bloomJoin``."""
    return _wrap(big, _pl().Joins.bloomJoin(
        big._jdf, small._jdf, key, int(num_bits), int(k)))


def edit_distance_pairs(docs, id_col, text_col, prefix_len=16,
                        max_dist=10, hot_cap=64):
    """Blocked exact edit-distance near-dup pairs: prefix-block equi-self-
    join + thresholded banded ``levenshtein`` refine; blocks larger than
    ``hot_cap`` are excluded by a broadcast anti-join. Scala
    ``Joins.editDistancePairs``."""
    return _wrap(docs, _pl().Joins.editDistancePairs(
        docs._jdf, id_col, text_col, int(prefix_len), int(max_dist),
        int(hot_cap)))


def z_index(a, b):
    """Morton/Z2 interleave of two non-negative integer key columns (16
    bits each). Scala ``Layout.zIndex``."""
    return Column(_pl().Layout.zIndex(_jc(a), _jc(b)))


def zorder_write(df, key_a, key_b, path, files=16):
    """Write ``df`` as ``files`` Parquet files z-ordered on ``(key_a,
    key_b)``: range-partitioned by the Morton index so per-file min-max
    stats prune conjunctive range predicates on BOTH keys. Scala
    ``Layout.zorderWrite``."""
    _pl().Layout.zorderWrite(df._jdf, key_a, key_b, path, int(files))


def dsir_top_k(df, id_col, text_col, is_target, buckets=512, k=100):
    """DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169).
    Hashed lowercase-alnum unigram features (``pl_fingerprint`` rolling
    hash, power-of-two bucket mask), add-one-smoothed log-likelihood-ratio
    weights in integer micro-nats, per-doc score = Σ λ[bucket(tok)],
    top-``k`` by (score desc, id). Returns ``(doc_id, score_unats, rank)``.
    Scala ``Dsir.topK``."""
    if buckets & (buckets - 1) != 0:
        raise ValueError("buckets must be a power of two")
    return _wrap(df, _pl().Dsir.topK(
        df._jdf, id_col, text_col, _jc(is_target), int(buckets), int(k)))


def longest_prefix_join(left, ip_col, id_col, rules, len_col, prefix_col):
    """Longest-prefix-match (CIDR) join: bounded candidate expansion (one
    per distinct prefix length, ≤ 33), equi-join on ``(len, prefix)``,
    longest match wins per row via a lexicographic struct max. Left outer:
    unmatched rows keep null ``matched_len`` + payload. Scala
    ``Joins.longestPrefixJoin``."""
    return _wrap(left, _pl().Joins.longestPrefixJoin(
        left._jdf, ip_col, id_col, rules._jdf, len_col, prefix_col))


def wordpiece_stats(df, id_col, text_col, vocab_size=200):
    """Greedy longest-match subword stats: vocab = top-``vocab_size``
    corpus words by (count desc, word) plus single ASCII-alnum chars; per
    doc, greedy longest-prefix tokenization yields (n_words, n_pieces,
    n_unk), evaluated in the scan by a shipped-vocab expression. Scala
    ``Wordpiece.pieceStats``."""
    return _wrap(df, _pl().Wordpiece.pieceStats(
        df._jdf, id_col, text_col, int(vocab_size)))


def cusum(df, keys, order_col, value_col, ref, slack, threshold):
    """Two-sided CUSUM change-point detection. The ``max(0, .)`` recurrence
    in closed form: ``S_t = P_t - min(0, min_{j<=t} P_j)`` with ``P`` the
    prefix sum of drift-adjusted deltas — two window passes over one
    shuffle by ``keys``, all integer math. Scala ``Stats.cusum``."""
    if slack < 0 or threshold <= 0:
        raise ValueError("slack >= 0 and threshold > 0 required")
    return _wrap(df, _pl().Stats.cusum(
        df._jdf, _seq(keys), order_col, value_col, int(ref), int(slack),
        int(threshold)))


def quantize_step(df, value_col, max_bins=4096):
    """Scale-aware quantization step: the smallest power-of-10 step ``s``
    such that ``count(distinct v div s) <= max_bins``. Exact, deterministic
    and engine-replayable (a distinct-count lattice over the distinct value
    table, no HLL). Use the result as ``expr(f"v div {s}")`` before feeding
    any quantize-first operator (psi/ks/dist-shift/ kendall/drift_stream) —
    a hand-picked width safe at one scale detonates those operators' fail-
    loud bin guards at 10x. Scala ``Stats.quantizeStep``."""
    if max_bins < 32:
        raise ValueError("max_bins must be >= 32, got %d" % max_bins)
    return _pl().Stats.quantizeStep(df._jdf, value_col, int(max_bins))


def psi_report(ref, cur, value_col, buckets=10):
    """Population stability index drift report: reference-decile boundaries
    from the integer-exact histogram quantile, per-bucket contribution in
    integer micro-nats with add-one smoothing. Total PSI = the column sum
    (warn > 100000 µnats ≙ 0.1, act > 250000 ≙ 0.25). Scala
    ``Stats.psiReport``."""
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    return _wrap(ref, _pl().Stats.psiReport(
        ref._jdf, cur._jdf, value_col, int(buckets)))


def rrf_fuse(lists, k, rrf_k=60):
    """Reciprocal-rank fusion (Cormack et al. 2009): integer-micro scores
    ``1e6 div (rrf_k + rank)`` summed per (query, neighbor), per-query
    top-``k`` with ties to the lower neighbor id. Scala
    ``Similarity.rrfFuse``."""
    if not lists:
        raise ValueError("at least one ranked list required")
    return _wrap(lists[0], _pl().Similarity.rrfFuse(
        _seq([d._jdf for d in lists]), int(k), int(rrf_k)))


def frequent_pairs(df, basket_col, item_col, min_support=2):
    """Market-basket frequent item pairs: ordered self-equi-join on the
    basket id, support / integer-permille confidence and lift. Scala
    ``Baskets.frequentPairs``."""
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    return _wrap(df, _pl().Baskets.frequentPairs(
        df._jdf, basket_col, item_col, int(min_support)))


def label_propagation(edges, src_col, dst_col, iterations=3):
    """Deterministic synchronous label propagation: every node adopts the
    most frequent neighbor label (ties to the smallest), fixed iteration
    count, isolated nodes keep their own. Returns (node, community). Scala
    ``Graph.labelPropagation``."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    return _wrap(edges, _pl().Graph.labelPropagation(
        edges._jdf, src_col, dst_col, int(iterations)))


def path_prefix_join(left, path_col, id_col, rules, prefix_col):
    """Longest URL path-prefix match: bounded per-depth segment-prefix
    expansion into an equi-join on (prefix, depth); the deepest rule wins;
    segment boundaries are respected (``/ab`` is not under ``/a``). Left
    outer; rule payload rides through. Scala ``Joins.pathPrefixJoin``."""
    return _wrap(left, _pl().Joins.pathPrefixJoin(
        left._jdf, path_col, id_col, rules._jdf, prefix_col))


def ndcg_k(results, truth, k):
    """Graded nDCG@k of a ranked list vs a ranked truth: rel = k+1 -
    truth_rank (0 if absent), integer-micro discounts round(1e6/log2(i+1)),
    ndcg_permille = dcg*1000 div idcg. Scala ``Similarity.ndcgK``."""
    if not 1 <= k <= 100:
        raise ValueError("k must be in [1,100]")
    return _wrap(results, _pl().Similarity.ndcgK(
        results._jdf, truth._jdf, int(k)))


def trend(df, keys, x_col, y_col):
    """Per-key least-squares linear trend: exact integer moments in one
    groupBy, slope in integer micro-units; singleton keys report null.
    Scala ``Stats.trend``."""
    return _wrap(df, _pl().Stats.trend(df._jdf, _seq(keys), x_col, y_col))


def benford(df, value_col):
    """Benford first-digit audit: digit from the decimal string, expected
    permille log10(1+1/d), signed deviation. Scala ``Stats.benford``."""
    return _wrap(df, _pl().Stats.benford(df._jdf, value_col))


def hll_overlap(a, b, key_col, m=64):
    """Audience-overlap estimate via HLL inclusion–exclusion, the
    q_hll_overlap composition (no Scala operator): est(A) + est(B) −
    est(A∪B), clamped at 0, beside the union estimate. Uses the
    registered pl_hll_* SQL aggregates; the sketches make the overlap
    question answerable without materializing either distinct set.
    """
    ska = a.select(F.expr(f"pl_hll_agg({key_col}, {m})").alias("sk"))
    skb = b.select(F.expr(f"pl_hll_agg({key_col}, {m})").alias("sk"))
    sks = ska.unionByName(skb)
    est = (sks.agg(F.expr(f"pl_hll_merge(sk, {m})").alias("sku"))
           .crossJoin(F.broadcast(
               ska.select(F.expr(f"pl_hll_estimate(sk, {m})").alias("est_a"))))
           .crossJoin(F.broadcast(
               skb.select(F.expr(f"pl_hll_estimate(sk, {m})").alias("est_b"))))
           .select("est_a", "est_b",
                   F.expr(f"pl_hll_estimate(sku, {m})").alias("est_union")))
    return est.withColumn(
        "est_intersect",
        F.greatest(F.lit(0), F.col("est_a") + F.col("est_b") - F.col("est_union")))


def vad_segments(df, id_col, energies_col):
    """Voice-activity segments, the q_vad composition (no Scala
    operator): explode a per-clip window-energy array (e.g.
    ``mm_wav_energy(blob, win)``), mark windows whose energy beats the
    clip mean with the integer cross-multiply ``e * n_windows >
    total_energy`` (no division), and merge runs of active windows
    into segments via gaps-and-islands (window index minus its
    row_number is constant inside a run). One shuffle by clip id.
    """
    en = (df.select(F.col(id_col),
                    F.posexplode(F.col(energies_col)).alias("w", "e"))
          .withColumn("w", F.col("w").cast("long")))
    tot = en.groupBy(id_col).agg(F.sum("e").alias("__te"),
                                 F.count(F.lit(1)).alias("__nw"))
    act = (en.join(tot, id_col)
           .where(F.col("e") * F.col("__nw") > F.col("__te")))
    win = Window.partitionBy(id_col).orderBy("w")
    return (act.withColumn("__isl", F.col("w") - F.row_number().over(win))
            .groupBy(id_col, "__isl")
            .agg(F.min("w").alias("start_w"), F.max("w").alias("end_w"),
                 F.count(F.lit(1)).alias("n_active"),
                 F.sum("e").alias("seg_energy"))
            .drop("__isl"))


def percentile_report(df, keys, value_col, permilles=(500, 900, 990)):
    """Per-key EXACT discrete percentile report: one (key, value) histogram
    shuffle, a per-key cume window over distinct values, and the cross-
    multiplied ceil threshold ``cume * 1000 >= n * p`` (division- free),
    pivoted to one row per key with a ``p<permille>`` column each. Scala
    ``Stats.percentileReport``."""
    return _wrap(df, _pl().Stats.percentileReport(
        df._jdf, _seq(keys), value_col, _seq([int(v) for v in permilles])))


def k_core(edges, src_col, dst_col, k, rounds=3):
    """k-core pruning: ``rounds`` fixed iterations of "drop nodes with
    degree < k"; per round one degree aggregate and two equi-joins against
    the survivor table, with ``localCheckpoint`` cutting the plan lineage.
    Scala ``Graph.kCore``."""
    return _wrap(edges, _pl().Graph.kCore(
        edges._jdf, src_col, dst_col, int(k), int(rounds)))


def k_anonymity_audit(df, quasi_cols, k):
    """k-anonymity audit: per full quasi-identifier combo its count and
    ``is_risky = n < k``, plus the coarser prefix combo's count and whether
    generalizing away the finest column clears it (``coarse_ok``).
    ``quasi_cols`` ordered coarse -> fine, >= 2 cols. Scala
    ``KAnonymity.audit``."""
    if len(quasi_cols) < 2:
        raise ValueError("need >= 2 quasi columns (coarse -> fine)")
    return _wrap(df, _pl().KAnonymity.audit(df._jdf, _seq(quasi_cols), int(k)))


def calibrate_scores(df, group_col, score_col):
    """Per-group percentile-rank calibration: ``calib_permille`` = permille
    of the group's rows scoring strictly below this row (``below * 1000 div
    n``, ties share one value), via the (group, score) histogram cume and
    one equi-join back — rows are never window-sorted. Scala
    ``QuantileFilter.calibrate``."""
    return _wrap(df, _pl().QuantileFilter.calibrate(
        df._jdf, group_col, score_col))


def token_entropy(df, id_col, text_col):
    """Per-doc Shannon token entropy in integer micro-nats: one (id, token)
    count aggregate, each term ``round(1e6 * (c/n) * ln(n/c))`` rounded
    before the sum (the psi micro-nat discipline). Scala
    ``Stats.tokenEntropy``."""
    return _wrap(df, _pl().Stats.tokenEntropy(df._jdf, id_col, text_col))


def conservation_audit(parent, parent_key, parent_val, child, child_key,
                       child_val):
    """Parent/child conservation audit: children reduce first to parent-key
    cardinality, then one left equi-join; orphan headers report ``child_sum
    = 0``. Integral values only (pre-scale to cents). Scala
    ``Joins.conservationAudit``."""
    return _wrap(parent, _pl().Joins.conservationAudit(
        parent._jdf, parent_key, parent_val, child._jdf, child_key, child_val))


def winsorize(df, keys, value_col, lo_permille=10, hi_permille=990):
    """Per-key winsorization: clamp into the key's exact discrete ``[p<lo>,
    p<hi>]`` percentile band (from :func:`percentile_report`'s histogram
    machinery), appended as ``<value_col>_w``. Scala ``Stats.winsorize``."""
    return _wrap(df, _pl().Stats.winsorize(
        df._jdf, _seq(keys), value_col, int(lo_permille), int(hi_permille)))


def robust_anomaly_flags(df, keys, value_col, k_num=3, k_den=1):
    """Median/MAD outlier gate: flags ``|v - med| * k_den > MAD * k_num``
    with both med and MAD exact discrete medians from two histogram passes;
    all integer, bit-reproducible. Scala ``Stats.robustAnomalyFlags``."""
    return _wrap(df, _pl().Stats.robustAnomalyFlags(
        df._jdf, _seq(keys), value_col, int(k_num), int(k_den)))


def l_diversity(df, quasi_cols, sensitive_col, l):
    """l-diversity audit: per quasi combo, row count, distinct sensitive-
    value count, ``is_risky = l_distinct < l``; two bounded groupBys, no
    countDistinct Expand. Scala ``KAnonymity.lDiversity``."""
    return _wrap(df, _pl().KAnonymity.lDiversity(
        df._jdf, _seq(quasi_cols), sensitive_col, int(l)))


def collocations(df, text_col, min_count=5):
    """Adjacent-bigram collocation mining: strict bigram counts, unigram
    joins, and the left-assoc micro-nat PMI sum rounded once. Scala
    ``Stats.collocations``."""
    return _wrap(df, _pl().Stats.collocations(
        df._jdf, text_col, int(min_count)))


def gap_regularity(df, keys, ts_col, divisor=1000000, k_num=1, k_den=10,
                   min_gaps=5):
    """Inter-event cadence regularity: integral-div gaps off one per-key
    lag window, integer moment aggregate, division-cleared CV^2 flag; all-
    zero-gap keys (cadence faster than the divisor) flag robotic. Scala
    ``Stats.gapRegularity``."""
    return _wrap(df, _pl().Stats.gapRegularity(
        df._jdf, _seq(keys), ts_col, int(divisor), int(k_num), int(k_den),
        int(min_gaps)))


def jaccard_prefix_pairs(df, id_col, text_col, threshold_permille, shingle=3,
                         hot_cap=1024):
    """PPJoin-style Jaccard threshold self-join: STRICT distinct
    ``shingle``-gram sets (a doc with fewer than ``shingle`` tokens
    contributes nothing), global rare-first prefix candidates, symmetric
    size filter, PPJoin position filter, ``hot_cap`` prefix-block guard,
    exact intersection verify, all integer permille. Scala
    ``Dedup.jaccardPrefixPairs``."""
    return _wrap(df, _pl().Dedup.jaccardPrefixPairs(
        df._jdf, id_col, text_col, int(threshold_permille), int(shingle),
        int(hot_cap)))


def window_cooccur(df, text_col, window=5, min_count=5):
    """Symmetric window co-occurrence counts: per-row HOF pair generation
    (explode distances 1..window, zip each token with its d-successor,
    strict windows), canonical least/greatest pair order, ONE map-side-
    combinable groupBy count, ``min_count`` tail prune. Scala
    ``Stats.windowCooccur``."""
    if window < 1 or min_count < 1:
        raise ValueError("window and min_count must be >= 1")
    return _wrap(df, _pl().Stats.windowCooccur(
        df._jdf, text_col, int(window), int(min_count)))


def cohen_kappa(df, a_col, b_col):
    """Cohen's kappa: one (a, b) pair-count groupBy, marginal products, the
    integer- cleared (n*agree - pe_num)/(n^2 - pe_num) in sign-handled
    truncating permille; the clearing runs in DECIMAL(38,0) so n*agree and
    n^2 cannot wrap past ~3e9 rows. Scala ``Stats.cohenKappa``."""
    return _wrap(df, _pl().Stats.cohenKappa(df._jdf, a_col, b_col))


def shard_balance(df, id_col, weight_col, shards=256):
    """Hash-shard balance audit: shard = pl_mix64(id) & (shards-1) (shards
    must be a power of two), per-shard row count and weight sum, signed
    permille deviation from the even split off a broadcast one-row total.
    Requires an integral id column so a bad id fails loudly instead of
    pooling into a NULL shard. Scala ``Layout.shardBalance``."""
    if shards < 2 or (shards & (shards - 1)) != 0:
        raise ValueError(f"shards must be a power of two >= 2, got {shards}")
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long", "date",
                       "timestamp") and not id_type.startswith("decimal"):
        raise ValueError(
            f"shard_balance needs an integral id column; '{id_col}' is "
            f"{id_type} (hash raw bytes or pre-parse instead)")
    return _wrap(df, _pl().Layout.shardBalance(
        df._jdf, id_col, _jc(weight_col), int(shards)))


def containment_prefix_pairs(df, id_col, text_col, threshold_permille,
                             shingle=3, hot_cap=1024):
    """Set-containment threshold join: a's rare-first prefix probes b's
    FULL rare-ranked shingle list (index-probe shape), one-sided size
    filter, per-match position filter, ``hot_cap`` anti-join on document
    frequency, exact intersection verify; ordered pairs with integer
    ``containment_permille = inter*1000 div a_sz``. Scala
    ``Dedup.containmentPrefixPairs``."""
    if not 1 <= threshold_permille <= 1000:
        raise ValueError("threshold_permille must be in [1,1000], "
                         f"got {threshold_permille}")
    return _wrap(df, _pl().Dedup.containmentPrefixPairs(
        df._jdf, id_col, text_col, int(threshold_permille), int(shingle),
        int(hot_cap)))


def fleiss_kappa(df, item_col, category_col, raters):
    """Fleiss' kappa: one (item, category) groupBy, an item-bounded
    completeness semi-join (items without exactly ``raters`` ratings drop),
    three one-row aggregates met in broadcast crossJoins, DECIMAL(38,0)
    clearing: num = (S - N*r)*N*r - C*(r-1), den = (r-1)*((N*r)^2 - C),
    sign-handled truncating permille (NULL when den = 0). Scala
    ``Stats.fleissKappa``."""
    if raters < 2:
        raise ValueError(f"raters must be >= 2, got {raters}")
    return _wrap(df, _pl().Stats.fleissKappa(
        df._jdf, item_col, category_col, int(raters)))


def rouge_n(df, id_col, cand_col, ref_col, n=2):
    """ROUGE-N: per-row strict pl_ngrams windows + a clipped-overlap fold
    over the reference's distinct grams; recall/precision/F1 in truncating
    permille (NULL when the side has no n-gram). ZERO shuffles. Scala
    ``Stats.rougeN``."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return _wrap(df, _pl().Stats.rougeN(
        df._jdf, id_col, cand_col, ref_col, int(n)))


def adamic_adar(edges, src_col, dst_col, max_degree=64, min_common=1):
    """Adamic-Adar link prediction: canonical undirected edges, adjacency,
    centers capped at ``max_degree`` (the hub guard) BEFORE the wedge self-
    join on the center, per-wedge round(1e6/ln(deg)) micro-unit terms,
    existing edges removed with a LEFT ANTI join. Scala
    ``Graph.adamicAdar``."""
    if max_degree < 2:
        raise ValueError(f"max_degree must be >= 2, got {max_degree}")
    return _wrap(edges, _pl().Graph.adamicAdar(
        edges._jdf, src_col, dst_col, int(max_degree), int(min_common)))


def co_membership(df, user_col, item_col, max_items=50, min_users=2):
    """Co-membership ("also engaged"): distinct (user, item), hub users
    above ``max_items`` dropped BEFORE the user-bounded pair self-join, one
    (a, b) pair count pruned at ``min_users``. Scala
    ``Graph.coMembership``."""
    if max_items < 2:
        raise ValueError(f"max_items must be >= 2, got {max_items}")
    return _wrap(df, _pl().Graph.coMembership(
        df._jdf, user_col, item_col, int(max_items), int(min_users)))


def krippendorff_alpha(df, item_col, category_col):
    """Krippendorff's alpha (nominal): variable panel sizes (items with r_i
    >= 2 all contribute; single-rating items are unpairable), per-item
    micro-unit disagreement terms round(1e6*(ri^2-si)/(ri-1)), integer
    expected side, DECIMAL(38,0) clearing, sign-handled truncating permille
    (NULL when nothing is pairable or one category). Scala
    ``Stats.krippendorffAlpha``."""
    return _wrap(df, _pl().Stats.krippendorffAlpha(
        df._jdf, item_col, category_col))


def cosine_sim_join(df, id_col, text_col, threshold_permille, df_cap=1024):
    """Sparse tf-idf cosine similarity join: centi-nat integer idf weights
    (round(100*ln(N/df))), inverted-index candidates with the df >
    ``df_cap`` hub guard, exact integer dots/norms in DECIMAL(38,0), cos^2
    in ppm thresholded at ``threshold_permille``^2. Scala
    ``Dedup.cosineSimJoin``."""
    if not 1 <= threshold_permille <= 1000:
        raise ValueError("threshold_permille must be in [1,1000], "
                         f"got {threshold_permille}")
    return _wrap(df, _pl().Dedup.cosineSimJoin(
        df._jdf, id_col, text_col, int(threshold_permille), int(df_cap)))


def blocklist_hits(df, id_col, text_col, patterns):
    """Multi-pattern blocklist scan: one Aho-Corasick pass per row via the
    registered ``pl_multi_match_counts`` SQL function (counts ALL
    overlapping occurrences), exploded to (id, pattern, n_hits > 0). Scala
    ``Blocklist.hits``."""
    if not patterns:
        raise ValueError("patterns must not be empty")
    return _wrap(df, _pl().Blocklist.hits(
        df._jdf, id_col, text_col, _seq(patterns)))


def t_closeness(df, quasi_cols, sensitive_col, t_permille):
    """t-closeness audit: integer EMD (mean absolute cumulative gap over
    the ordered sensitive values) of each quasi combo's distribution vs the
    corpus, via a dense combo x value grid (broadcast crossJoin of two
    metadata-sized tables), cumulative windows over grid rows,
    DECIMAL(38,0) clearing. Scala ``KAnonymity.tCloseness``."""
    if not 1 <= t_permille <= 1000:
        raise ValueError(f"t_permille must be in [1,1000], got {t_permille}")
    return _wrap(df, _pl().KAnonymity.tCloseness(
        df._jdf, _seq(quasi_cols), sensitive_col, int(t_permille)))


def flesch_readability(df, id_col, text_col):
    """Flesch reading ease: sentence-per-line text, vowel-group syllables
    (floor 1 per word), milli-point score rounded once; NULL for wordless
    rows. Pure per-row built-ins, zero shuffles. Scala
    ``Readability.flesch``."""
    return _wrap(df, _pl().Readability.flesch(df._jdf, id_col, text_col))


def bpe_learn(df, text_col, rounds):
    """BPE merge learning: per round, within-word adjacent-unit pair
    counts, a deterministic (cnt DESC, pair) one-row argmax, and the
    delimiter-replace rewrite ('¦x¦¦y¦' -> '¦xy¦') whose left-to-right non-
    overlap IS the BPE greedy scan. Returns one (round, pair, merged, cnt)
    row per round (rounds past pair exhaustion emit nothing). Scala
    ``Bpe.learn``."""
    if not 1 <= rounds <= 16:
        raise ValueError(f"rounds must be in [1,16], got {rounds}")
    return _wrap(df, _pl().Bpe.learn(df._jdf, text_col, int(rounds)))


def hard_negatives_with_cells(df, id_col, vec_col, label_col, cell_col,
                              max_cell_mates=4096):
    """Contrastive hard-negative mining over a PRE-ASSIGNED cell column,
    with the pair logic of ``Similarity.hardNegatives`` (which fits its
    own IVF cells, so it cannot take ``cell_col``): one cell
    equi-self-join, cosine refine, per-anchor lexicographic struct max
    (sim DESC, id ASC ties). ``max_cell_mates`` is the hub guard: the
    neighbor side is capped to the max_cell_mates LOWEST-ID members of
    each cell, bounding pairs at O(N * max_cell_mates) on skewed cells;
    anchors are never dropped, only the mates they compare against."""
    LMAX = (1 << 63) - 1
    a = df.select(F.col(id_col).alias("query_id"),
                  F.col(label_col).alias("label"),
                  F.col(vec_col).cast("array<double>").alias("a_vec"),
                  F.col(cell_col).alias("cell"))
    b = (df.select(F.col(id_col).alias("neighbor_id"),
                   F.col(label_col).alias("n_label"),
                   F.col(vec_col).cast("array<double>").alias("b_vec"),
                   F.col(cell_col).alias("cell"))
         .withColumn("__r", F.row_number().over(
             Window.partitionBy("cell").orderBy("neighbor_id")))
         .where(F.col("__r") <= max_cell_mates).drop("__r"))
    dot = F.expr("aggregate(zip_with(a_vec, b_vec, (x, y) -> x * y), "
                 "0D, (acc, v) -> acc + v)")
    na = F.expr("aggregate(transform(a_vec, x -> x * x), 0D, (acc, v) -> acc + v)")
    nb = F.expr("aggregate(transform(b_vec, x -> x * x), 0D, (acc, v) -> acc + v)")
    sim = F.when((na == 0) | (nb == 0), F.lit(0.0)) \
        .otherwise(dot / (F.sqrt(na) * F.sqrt(nb)))
    pairs = (a.join(b, ["cell"])
             .where(F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "label", "neighbor_id", "n_label",
                     sim.alias("sim")))
    key = F.struct(F.col("sim"),
                   (F.lit(LMAX) - F.col("neighbor_id")).alias("nk"),
                   F.col("neighbor_id").alias("nid"),
                   F.col("n_label").alias("nlbl"), F.col("sim").alias("s2"))
    return (pairs.groupBy("query_id", "label")
            .agg(F.max(F.when(F.col("n_label") == F.col("label"), key))
                 .alias("__p"),
                 F.max(F.when(F.col("n_label") != F.col("label"), key))
                 .alias("__n"))
            .select("query_id", "label",
                    F.col("__p.nid").alias("pos_id"),
                    F.col("__p.s2").alias("pos_sim"),
                    F.col("__n.nid").alias("neg_id"),
                    F.col("__n.nlbl").alias("neg_label"),
                    F.col("__n.s2").alias("neg_sim")))


def ngram_novelty(df, id_col, text_col, n=3):
    """Per-doc n-gram novelty: gram origin = min doc id, per-doc novel
    fraction in truncating permille; sub-n docs contribute one truncated
    whole-doc gram (the pl_distinct_ngrams convention). Scala
    ``Stats.ngramNovelty``."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return _wrap(df, _pl().Stats.ngramNovelty(
        df._jdf, id_col, text_col, int(n)))


def zipf_fit(df, text_col, top_r=1000):
    """Zipf rank-frequency fit: integer least squares on once-rounded
    micro-nat (ln rank, ln count) over the top_r most frequent terms (count
    DESC, term ASC ties). One map-side-combinable token count, a
    distributed TakeOrdered top_r cut, one single-row moment aggregate.
    Returns one row: n_terms, slope_micro, intercept_micro (organic text
    sits near slope_micro ~ -1e6). Scala ``Stats.zipfFit``."""
    if top_r < 2:
        raise ValueError(f"top_r must be >= 2, got {top_r}")
    return _wrap(df, _pl().Stats.zipfFit(df._jdf, text_col, int(top_r)))


def chi_square_2x2(df, keys, group_col, success_col):
    """Chi-square 2x2 independence test per key: four conditional counts in
    ONE map-side-combinable groupBy, chi2 in rounded-once micro-points (the
    trend recipe), significant_95 at the chi2(1) 5% critical value; NULL on
    degenerate margins. Scala ``Stats.chiSquare2x2``."""
    return _wrap(df, _pl().Stats.chiSquare2x2(
        df._jdf, _seq(keys), group_col, success_col))


def ks_statistic(ref, cur, value_col, max_distinct=65536):
    """Two-sample Kolmogorov-Smirnov statistic: exact integer D in ppm over
    the distinct-value table (one groupBy per side, cumulative windows over
    distinct values only), smallest-value argmax tie-break. NULL values are
    excluded from both sides by contract (no position on the value axis;
    engine-ambiguous NULL window ordering). Scala ``Stats.ksStatistic``."""
    _check_max_distinct(max_distinct)
    return _wrap(ref, _pl().Stats.ksStatistic(
        ref._jdf, cur._jdf, value_col, int(max_distinct)))


def mrr_k(results, truth, k):
    """MRR@k: per query, the first result rank <= k whose neighbor is in
    the truth set; rr_ppm = 1e6 div rank (truncating), 0 on miss. Scala
    ``Similarity.mrrK``."""
    return _wrap(results, _pl().Similarity.mrrK(
        results._jdf, truth._jdf, int(k)))


def conformal_quantile(df, score_col, alpha_permille):
    """Split-conformal calibration quantile: qhat = the k-th smallest
    calibration score with k = ceil((n+1)(1-alpha)); NULL row when k > n
    (too few calibration points). Distinct-value cumulative window, one
    one-row aggregate. NULL scores are excluded by contract (the
    ks_statistic NULL rule). Scala ``Stats.conformalQuantile``."""
    if not 1 <= alpha_permille <= 999:
        raise ValueError(
            f"alpha_permille must be in [1,999], got {alpha_permille}")
    return _wrap(df, _pl().Stats.conformalQuantile(
        df._jdf, score_col, int(alpha_permille)))


def bm25(df, id_col, text_col, query_terms, k1_milli=1200,
         b_permille=750, k=10):
    """Okapi BM25 top-k retrieval scoring: Lucene (1 + ...) idf, per-(doc,
    term) contribution rounded once to micro-points. Tokens filter to the
    query terms BEFORE any shuffle; df and the one-row totals broadcast.
    Scala ``Dedup.bm25``."""
    if not query_terms:
        raise ValueError("query_terms required")
    return _wrap(df, _pl().Dedup.bm25(
        df._jdf, id_col, text_col, _seq(query_terms), int(k1_milli),
        int(b_permille), int(k)))


def token_label_mi(df, id_col, text_col, label_col, k=20):
    """Token-label mutual information (label-leakage audit): per-token MI
    against a document label in integer micro-nats (per-cell round-once),
    dense term x label grid with the broadcast label margins, top-k. Scala
    ``Stats.tokenLabelMI``."""
    return _wrap(df, _pl().Stats.tokenLabelMI(
        df._jdf, id_col, text_col, label_col, int(k)))


def poisson_bootstrap(df, id_col, value_col, reps=32):
    """Poisson bootstrap of the mean of a pre-scaled integral metric: reps
    deterministic mix64 replicates, weight 0..7 from the shared Poisson(1)
    thresholds, one map-side-combined groupBy(rep). Scala
    ``Stats.poissonBootstrap``."""
    if not 2 <= reps <= 1024:
        raise ValueError(f"reps must be in [2,1024], got {reps}")
    return _wrap(df, _pl().Stats.poissonBootstrap(
        df._jdf, id_col, value_col, int(reps)))


def token_kl(p, q, text_col, k=20):
    """Token-distribution KL divergence between two corpus slices: add-one-
    smoothed per-term KL(P||Q) contributions in integer micro-nats over the
    union vocabulary, top-k most over-represented in P. Scala
    ``Stats.tokenKL``."""
    return _wrap(p, _pl().Stats.tokenKL(p._jdf, q._jdf, text_col, int(k)))


def source_overlap(df, source_col, text_col):
    """Pairwise source content Jaccard over 64-bit doc fingerprints:
    distinct (source, fp) before any join, fp-keyed ordered self-join,
    exact truncating ppm. Scala ``Dedup.sourceOverlap``."""
    return _wrap(df, _pl().Dedup.sourceOverlap(df._jdf, source_col, text_col))


def simpson_reversals(df, stratum_col, group_col, success_col):
    """Simpson's-paradox screen: per-stratum 2x2 counts, rational risk-
    difference signs (divisions cleared), reversal flag vs the pooled
    direction. Exact integer math throughout. Scala
    ``Stats.simpsonReversals``."""
    return _wrap(df, _pl().Stats.simpsonReversals(
        df._jdf, stratum_col, group_col, success_col))


def gini_concentration(df, key_col):
    """Gini concentration of rows over a grouping key: exact integer Lorenz
    formula over (count, key)-sorted per-key counts, truncating ppm.
    Moments run in DECIMAL(38,0) — the x1e6-scaled numerator overflows a
    long at n_keys*total > ~9.2e12; decimals hold to 1e32. Scala
    ``Stats.giniConcentration``."""
    return _wrap(df, _pl().Stats.giniConcentration(df._jdf, key_col))


def cmh_test(df, stratum_col, group_col, success_col):
    """Cochran-Mantel-Haenszel pooled 2x2 chi-square across strata: per-
    stratum E/V in round-once micro-points, exact long sums, one double
    division; strata with n < 2 contribute nothing. Scala
    ``Stats.cmhTest``."""
    return _wrap(df, _pl().Stats.cmhTest(
        df._jdf, stratum_col, group_col, success_col))


def ewma_smooth(df, key_col, order_col, value_col, lags=8):
    """Truncated half-decay EWMA in exact integer arithmetic: weight
    2^(L-1-k) on lag k over one per-key window; absent lags leave both
    sums. Scala ``Temporal.ewmaSmooth``."""
    if not 1 <= lags <= 16:
        raise ValueError(f"lags must be in [1,16], got {lags}")
    return _wrap(df, _pl().Temporal.ewmaSmooth(
        df._jdf, key_col, order_col, value_col, int(lags)))


def rbo_topk(a, b, k):
    """Rank-biased overlap at p=1/2: exact 2^-d depth weights, overlap via
    max(rank_A, rank_B) <= d against a broadcast k-row depth table; queries
    sharing nothing keep a 0 row. Scala ``Similarity.rboTopK``."""
    if not 1 <= k <= 62:
        raise ValueError(f"k must be in [1,62], got {k}")
    return _wrap(a, _pl().Similarity.rboTopK(a._jdf, b._jdf, int(k)))


def neyman_sample(df, id_col, src_col, metric_col, budget):
    """Neyman-allocated stratified sample: allocation min(n_h, budget*w_h
    div sum w) with w_h = round(sqrt(n*ssq - s^2)) (= N_h*sigma_h, engine-
    exact by IEEE sqrt), rows taken per stratum in mix64(id) order by a
    bucketed two-phase take. ``metric_col`` is a column name or Column.
    Scala ``Mixture.neymanSample``."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    return _wrap(df, _pl().Mixture.neymanSample(
        df._jdf, id_col, src_col, _jc(metric_col), int(budget)))


def quantile_normalize(df, group_col, score_col):
    """Quantile normalization across groups: within-group inclusive
    cumulative permille over the distinct-score histogram, mapped onto the
    pooled discrete quantile at that permille (1..1000 broadcast grid).
    Integral pre-quantized scores only. The within-group permille is a
    CEILING division (range [1,1000] — a floor maps any value with cum <
    n/1000 to 0 and silently drops it at the grid join). NULL group/score
    rows are excluded by contract. Scala
    ``QuantileFilter.quantileNormalize``."""
    return _wrap(df, _pl().QuantileFilter.quantileNormalize(
        df._jdf, group_col, score_col))


def effective_sample_size(df, weight_col):
    """ESS = (sum w)^2 / sum w^2: exact long moments, one round-once milli
    ratio, NULL when all weights are zero. Scala
    ``Stats.effectiveSampleSize``."""
    return _wrap(df, _pl().Stats.effectiveSampleSize(df._jdf, weight_col))


def spearman_corr(df, x_col, y_col):
    """Spearman rank correlation with mid-rank ties: integer double-ranks
    (2*cum_before + cnt + 1) from distinct-value histograms, six exact
    DECIMAL(38,0) moments (longs overflow the n*Sxx-class products at n ~
    39k; decimals hold to n ~ 1e9), one round-once micro rho; NULL on a
    constant metric. Rows with a NULL in either metric are excluded
    (pairwise-complete). Scala ``Stats.spearmanCorr``."""
    return _wrap(df, _pl().Stats.spearmanCorr(df._jdf, x_col, y_col))


def token_jsd(p, q, text_col):
    """Jensen-Shannon divergence of two token distributions: symmetric,
    bounded by ln 2, one rounded micro-nat per union-vocabulary term with m
    = (p+q)/2, exact long sum. Scala ``Stats.tokenJSD``."""
    return _wrap(p, _pl().Stats.tokenJSD(p._jdf, q._jdf, text_col))


def mann_whitney_u(df, keys, group_col, value_col):
    """Mann-Whitney U rank-sum test per key: pooled integer double-ranks
    from per-key distinct-value histograms (never a row sort), exact 2*U,
    tie-corrected round-once z over DECIMAL(38,0) moments; z NULL when a
    key lacks both groups or all values tie. Scala ``Stats.mannWhitneyU``."""
    return _wrap(df, _pl().Stats.mannWhitneyU(
        df._jdf, _seq(keys), group_col, value_col))


def bh_fdr(df, key_cols, p_micro_col, q_micro=50000, max_tests=1000000):
    """Benjamini-Hochberg step-up FDR: pure long arithmetic (p_micro*m <=
    k*q_micro) over the metadata-sized per-test table; ties decide together
    by construction. A ``max_tests`` count guard fails loudly if a corpus-
    sized table reaches the single-partition rank window. Returns key cols
    + (p_micro, rank, m_tests, k_star, reject). Scala ``Stats.bhFdr``."""
    return _wrap(df, _pl().Stats.bhFdr(
        df._jdf, _seq(key_cols), p_micro_col, int(q_micro), int(max_tests)))


def cuped(df, keys, variant_col, pre_col, metric_col):
    """CUPED variance reduction: one (key, variant) moments groupBy, pooled
    moments re-summed from the variant partials, theta / adjusted means /
    rho^2 as round-once micro expressions; theta NULL when var(x) = 0.
    Scala ``Stats.cuped``."""
    return _wrap(df, _pl().Stats.cuped(
        df._jdf, _seq(keys), variant_col, pre_col, metric_col))


def kendall_tau(df, keys, x_col, y_col, max_cells_per_key=4096):
    """Kendall tau-b: the O(n^2) pair definition collapsed to the quantized
    joint distinct-cell table (cell self-join is D^2 per key behind a fail-
    loud cap); doubled tie terms keep every intermediate integral. Scala
    ``Stats.kendallTau``."""
    return _wrap(df, _pl().Stats.kendallTau(
        df._jdf, _seq(keys), x_col, y_col, int(max_cells_per_key)))


def kaplan_meier(df, keys, duration_col, event_col):
    """Kaplan-Meier product-limit survival: log-space exact long sums of
    per-time rounded micro-nat terms; risk sets via one DESC cumulative
    window over distinct times; extinction rows (d = n_risk) carry NULL
    log. Scala ``Stats.kaplanMeier``."""
    return _wrap(df, _pl().Stats.kaplanMeier(
        df._jdf, _seq(keys), duration_col, event_col))


def log_rank(df, keys, group_col, duration_col, event_col):
    """Log-rank (Mantel-Cox) test: hypergeometric O-E walk over the per-
    time machinery, DECIMAL(38,0) numerators with one double division point
    per term, z = 1e3*sum(oe)/sqrt(sum(v)). Scala ``Stats.logRank``."""
    return _wrap(df, _pl().Stats.logRank(
        df._jdf, _seq(keys), group_col, duration_col, event_col))


def sprt_constants_micro(p0_permille, p1_permille, alpha_permille,
                         beta_permille):
    """The four Wald SPRT micro-nat constants (success step, failure step,
    upper bound, lower bound) — plan-time HALF_UP rounding, the longs
    that ``sprt`` and its DuckDB oracle inline. Scala
    ``Stats.sprtConstantsMicro``."""
    seq = _pl().Stats.sprtConstantsMicro(
        int(p0_permille), int(p1_permille), int(alpha_permille),
        int(beta_permille))
    return tuple(seq.apply(i) for i in range(seq.size()))


def sprt(df, keys, order_col, success_col, p0_permille=500,
         p1_permille=600, alpha_permille=50, beta_permille=50):
    """Wald SPRT early-stop A/B gate: four plan-time micro-nat constants,
    exact cumulative-long LLR walk per key, bit-reproducible first-crossing
    decision. Rejects inverted boundaries (alpha + beta >= 1). Scala
    ``Stats.sprt``."""
    if alpha_permille + beta_permille >= 1000:
        raise ValueError("alpha + beta must be < 1000 permille: "
                         "SPRT decision boundaries invert")
    return _wrap(df, _pl().Stats.sprt(
        df._jdf, _seq(keys), order_col, success_col, int(p0_permille),
        int(p1_permille), int(alpha_permille), int(beta_permille)))


def theil_sen_slope(df, keys, x_col, y_col, max_series_len=4096):
    """Theil-Sen robust slope: median of all per-key pairwise slopes, with
    the O(len^2) pair join guarded by a fail-loud raise_error at
    max_series_len riding the key-partitioned window. Scala
    ``Stats.theilSenSlope``."""
    return _wrap(df, _pl().Stats.theilSenSlope(
        df._jdf, _seq(keys), x_col, y_col, int(max_series_len)))


def roc_auc(df, keys, label_col, score_col):
    """Exact ROC-AUC + Cliff's delta: AUC = U/(n+ * n-) via the pooled
    integer double-rank construction over distinct scores (mid-rank ties =
    trapezoid); delta = 2*AUC - 1 rides the same moments. Zero floats.
    Scala ``Stats.rocAuc``."""
    return _wrap(df, _pl().Stats.rocAuc(
        df._jdf, _seq(keys), label_col, score_col))


def pr_auc(df, keys, label_col, score_col):
    """Trapezoidal PR-AUC: distinct-threshold points DESC with the (recall
    0, precision 1) anchor; per-threshold nano terms rounded once from
    exact tp/fp, summed as longs. Scala ``Stats.prAuc``."""
    return _wrap(df, _pl().Stats.prAuc(
        df._jdf, _seq(keys), label_col, score_col))


def mcc(df, keys, label_col, pred_col):
    """Matthews correlation coefficient: exact confusion counts,
    DECIMAL(38,0) numerator, four marginals under separate sqrts, round-
    once micro. Scala ``Stats.mcc``."""
    return _wrap(df, _pl().Stats.mcc(df._jdf, _seq(keys), label_col, pred_col))


def calibration_report(df, p_micro_col, label_col, bins=10):
    """Calibration report + ECE: exact per-bin counts, integer gap
    |1e6*n_pos - sum(p)|, ECE = sum(gap) div N on every row via a one-row
    broadcast. Scala ``Stats.calibrationReport``."""
    return _wrap(df, _pl().Stats.calibrationReport(
        df._jdf, p_micro_col, label_col, int(bins)))


def mcnemar(df, keys, a_col, b_col):
    """McNemar's paired-binary test: chi2 = (n10-n01)^2/(n10+n01) as one
    exact integer expression; NULL with no discordant pairs. Scala
    ``Stats.mcnemar``."""
    return _wrap(df, _pl().Stats.mcnemar(df._jdf, _seq(keys), a_col, b_col))


def nelson_aalen(df, keys, duration_col, event_col):
    """Nelson-Aalen cumulative hazard: kaplan_meier's per-distinct-time
    machinery with additive round-once d/n_risk micro terms. Scala
    ``Stats.nelsonAalen``."""
    return _wrap(df, _pl().Stats.nelsonAalen(
        df._jdf, _seq(keys), duration_col, event_col))


def welch_t(df, keys, group_col, value_col):
    """Welch's unequal-variance t-test: six exact DECIMAL(38,0) moments in
    one groupBy; t and the Welch-Satterthwaite df as round-once doubles.
    Scala ``Stats.welchT``."""
    return _wrap(df, _pl().Stats.welchT(
        df._jdf, _seq(keys), group_col, value_col))


def chi_square_kxm(df, a_col, b_col, max_levels=1000):
    """General k x m chi-square + Cramer's V: exact per-cell nano terms
    over the dense level grid (absent cells contribute their expected
    mass); fail-loud max_levels guards on both margins. Scala
    ``Stats.chiSquareKxM``."""
    return _wrap(df, _pl().Stats.chiSquareKxM(
        df._jdf, a_col, b_col, int(max_levels)))


def acf(df, keys, order_col, value_col, max_lag=8):
    """Per-key autocorrelation at lags 1..max_lag: exact mean-centered
    moments (multiply through by n^2), one round-once micro division per
    lag. Scala ``Stats.acf``."""
    return _wrap(df, _pl().Stats.acf(
        df._jdf, _seq(keys), order_col, value_col, int(max_lag)))


def vocabulary_richness(df, text_col):
    """Good-Turing unseen mass + bias-corrected Chao1: one freq-of-freq
    rollup, exact integer divisions. Scala ``Stats.vocabularyRichness``."""
    return _wrap(df, _pl().Stats.vocabularyRichness(df._jdf, text_col))


def cohens_d(df, keys, group_col, value_col):
    """Cohen's d / Hedges' g: pooled-sd standardized mean difference over
    the welch_t six-moment groupBy; (1e6*(ma-mb))/sp association order.
    Scala ``Stats.cohensD``."""
    return _wrap(df, _pl().Stats.cohensD(
        df._jdf, _seq(keys), group_col, value_col))


def cochran_armitage(df, keys, score_col, label_col):
    """Cochran-Armitage trend test: exact per-level moments, factored
    denominator (each factor under its own sqrt), round-once z. Scala
    ``Stats.cochranArmitage``."""
    return _wrap(df, _pl().Stats.cochranArmitage(
        df._jdf, _seq(keys), score_col, label_col))


def anova_f(df, keys, group_col, value_col):
    """One-way ANOVA F: per-group nano terms rounded once from exact
    DECIMAL moments, summed in DECIMAL; F/eta^2 round-once; ss_* reported
    in whole value^2 units. Scala ``Stats.anovaF``."""
    return _wrap(df, _pl().Stats.anovaF(
        df._jdf, _seq(keys), group_col, value_col))


def brown_forsythe(df, keys, group_col, value_col):
    """Brown-Forsythe robust variance test: deterministic lower medians off
    the per-(key, group) distinct-value histogram, then anova_f on |x -
    median|. Scala ``Stats.brownForsythe``."""
    return _wrap(df, _pl().Stats.brownForsythe(
        df._jdf, _seq(keys), group_col, value_col))


def kruskal_wallis(df, keys, group_col, value_col):
    """Kruskal-Wallis H: pooled double mid-ranks over distinct values, per-
    group nano terms, tie-corrected round-once H. Scala
    ``Stats.kruskalWallis``."""
    return _wrap(df, _pl().Stats.kruskalWallis(
        df._jdf, _seq(keys), group_col, value_col))


def grubbs(df, keys, value_col):
    """Grubbs' outlier statistic: extremes-only identity, one moment pass,
    factored sqrts. Scala ``Stats.grubbs``."""
    return _wrap(df, _pl().Stats.grubbs(df._jdf, _seq(keys), value_col))


def anderson_darling(ref, cur, value_col, max_distinct=65536):
    """Anderson-Darling two-sample test: tie-adjusted midrank form over the
    pooled distinct-value histogram; per-(sample, value) nano terms rounded
    once, exact long sums, round-once A^2. Scala ``Stats.andersonDarling``."""
    _check_max_distinct(max_distinct)
    return _wrap(ref, _pl().Stats.andersonDarling(
        ref._jdf, cur._jdf, value_col, int(max_distinct)))


def energy_distance(ref, cur, value_col, max_distinct=65536):
    """Energy distance two-sample test: every pairwise-|difference| sum
    exact via the sorted prefix identity over distinct values (no pair
    join); one round-once micro over the three V-statistic ratios. Scala
    ``Stats.energyDistance``."""
    _check_max_distinct(max_distinct)
    return _wrap(ref, _pl().Stats.energyDistance(
        ref._jdf, cur._jdf, value_col, int(max_distinct)))


def mutual_information(df, a_col, b_col, max_levels=1000):
    """Mutual information + Theil's U: per-cell/level nano-nat terms
    rounded once from exact counts (absent cells contribute exactly 0 — no
    dense grid), U = MI/H(A) round-once; max_levels margin guards. Scala
    ``Stats.mutualInformation``."""
    return _wrap(df, _pl().Stats.mutualInformation(
        df._jdf, a_col, b_col, int(max_levels)))


def isotonic_calibrate(df, score_col, label_col, buckets=16):
    """Isotonic (PAV) score calibration: quantile-bucketed score->rate map,
    driver-side pool-adjacent-violators over the metadata-sized bucket
    table with exact (arbitrary-precision) cross-product compares. Scala
    ``Stats.isotonicCalibrate``."""
    if not 2 <= buckets <= 256:
        raise ValueError("buckets must be in [2, 256]")
    return _wrap(df, _pl().Stats.isotonicCalibrate(
        df._jdf, score_col, label_col, int(buckets)))


def modularity(labels, edges, src_col, dst_col):
    """Newman-Girvan modularity: exact integer intra-edge/degree moments
    per community, DECIMAL(38,0) numerator, one round-once division; labels
    must cover every edge endpoint (enforced with raise_error). Scala
    ``Graph.modularity``."""
    return _wrap(labels, _pl().Graph.modularity(
        labels._jdf, edges._jdf, src_col, dst_col))


def distribution_distance(ref, cur, value_col, max_distinct=65536):
    """Wasserstein-1 + total variation + Cramer-von Mises in one pass:
    exact cross-multiplied CDF gaps over the joint distinct-value
    histogram, one integer div for W1/TV, per-value nano-rounded terms for
    CvM. Scala ``Stats.distributionDistance``."""
    _check_max_distinct(max_distinct)
    return _wrap(ref, _pl().Stats.distributionDistance(
        ref._jdf, cur._jdf, value_col, int(max_distinct)))


def token_dispersion(df, part_col, text_col, min_count=5, k=50,
                     max_parts=10000):
    """Gries' DP token dispersion: per token, the total-variation distance
    between its occurrence distribution over parts and the parts' size
    shares; exact cross-multiplied integers, one floor div per token, top-k
    most-concentrated first. A ``max_parts`` distinct-count guard fails
    loudly if the part column is corpus-cardinality. Scala
    ``Stats.tokenDispersion``."""
    return _wrap(df, _pl().Stats.tokenDispersion(
        df._jdf, part_col, text_col, int(min_count), int(k), int(max_parts)))


def durbin_watson(df, keys, order_col, value_col):
    """Durbin-Watson first-order serial-correlation statistic per key:
    DECIMAL(38,0) sums from the first multiply, one key-partitioned lag-1
    window + one groupBy, one round-once micro division. NULL when n < 2 or
    the denominator is 0. Scala ``Stats.durbinWatson``."""
    return _wrap(df, _pl().Stats.durbinWatson(
        df._jdf, _seq(keys), order_col, value_col))


def runs_test(df, keys, order_col, flag_col):
    """Wald-Wolfowitz runs test per key: exact run count via one lag-1
    window, exact DECIMAL mean/variance numerators, round-once micro z.
    NULL when either side is empty, n < 2, or the variance is 0. Scala
    ``Stats.runsTest``."""
    return _wrap(df, _pl().Stats.runsTest(
        df._jdf, _seq(keys), order_col, flag_col))


def ljung_box(df, keys, order_col, value_col, max_lag=8):
    """Ljung-Box portmanteau whiteness statistic per key: composes ``acf``
    by CONTRACT on its quantized r_micro, summing exact integer per-lag
    terms (order-independent), one round-once division. NULL q when n <= h.
    Scala ``Stats.ljungBox``."""
    return _wrap(df, _pl().Stats.ljungBox(
        df._jdf, _seq(keys), order_col, value_col, int(max_lag)))


def jarque_bera(df, keys, value_col):
    """Jarque-Bera normality test per key: exact single-pass DECIMAL(38,0)
    power sums s1..s4, scale-free central-moment ratios (the n-powers
    cancel), m2^1.5 as m2*sqrt(m2) (no pow() parity risk). NULL when n < 2
    or M2 = 0. Overflow bound: n * v_max < 10**9.5 per key. Scala
    ``Stats.jarqueBera``."""
    return _wrap(df, _pl().Stats.jarqueBera(df._jdf, _seq(keys), value_col))


def cochran_q(df, keys, item_col, treatment_col, outcome_col):
    """Cochran's Q per key: exact integers end to end over one item-level
    and one treatment-level rollup; blocks must be complete (fails loud on
    an item whose treatment count differs from k). NULL when the
    denominator is 0 or k < 2. Scala ``Stats.cochranQ``."""
    return _wrap(df, _pl().Stats.cochranQ(
        df._jdf, _seq(keys), item_col, treatment_col, outcome_col))


def bartlett(df, keys, group_col, value_col):
    """Bartlett's equal-variance test per key: per-group nano-rounded ln-
    variance / within-SS / reciprocal terms summed order-independently,
    exact DECIMAL variance numerators under a single log. NULL when k < 2,
    any n_g < 2, or any group variance is 0. Scala ``Stats.bartlett``."""
    return _wrap(df, _pl().Stats.bartlett(
        df._jdf, _seq(keys), group_col, value_col))


def moods_median(df, keys, group_col, value_col, max_groups=1000):
    """Mood's median test per key: pooled lower median over the per-key
    distinct-value histogram, then the k x 2 chi-square with exact per-cell
    nano terms. Fails loud past max_groups group levels. Scala
    ``Stats.moodsMedian``."""
    if not (2 <= max_groups <= 100000):
        raise ValueError("max_groups must be in [2, 100000], got %d"
                         % max_groups)
    return _wrap(df, _pl().Stats.moodsMedian(
        df._jdf, _seq(keys), group_col, value_col, int(max_groups)))


def rmst(df, keys, duration_col, event_col, tau):
    """Restricted mean survival time per key: area under the
    ``kaplan_meier`` step curve to tau, composing its published quantized
    km_log_unats by contract; per-step micro terms round once and sum
    order-independently. The tau filter applies AFTER the KM windows
    (n_risk must keep counting beyond-tau subjects). Scala ``Stats.rmst``."""
    if tau <= 0:
        raise ValueError("tau must be positive, got %d" % tau)
    return _wrap(df, _pl().Stats.rmst(
        df._jdf, _seq(keys), duration_col, event_col, int(tau)))


def gehan_wilcoxon(df, keys, group_col, duration_col, event_col):
    """Gehan-Breslow-Wilcoxon early-difference weighted log-rank per key:
    the at-risk-count weight cancels the rational denominators, so the
    n*(O-E) terms are EXACT micro integers (no division) and n^2*V has one
    division point; terms sum in DECIMAL(38,0). Scala
    ``Stats.gehanWilcoxon``."""
    return _wrap(df, _pl().Stats.gehanWilcoxon(
        df._jdf, _seq(keys), group_col, duration_col, event_col))


def theil_inequality(df, keys, value_col):
    """Theil T + Atkinson(eps=1) inequality per key: per-distinct-value
    nano terms c*v*ln(v) and c*ln(v) round once and sum order-
    independently; exact DECIMAL n and sum. Values must be POSITIVE (fails
    loud). Scala ``Stats.theilInequality``."""
    return _wrap(df, _pl().Stats.theilInequality(
        df._jdf, _seq(keys), value_col))


def trimmed_mean(df, keys, value_col, trim_ppm=100000):
    """Exact alpha-trimmed mean per key: drop the lowest/highest g =
    floor(n*trim) observations EXACTLY via the per-key distinct-value
    histogram and one cumulative window (no row sort); one round-once
    division. NULL when over-trimmed. Scala ``Stats.trimmedMean``."""
    if not (0 <= trim_ppm < 500000):
        raise ValueError("trim_ppm must be in [0, 500000), got %d"
                         % trim_ppm)
    return _wrap(df, _pl().Stats.trimmedMean(
        df._jdf, _seq(keys), value_col, int(trim_ppm)))


def page_hinkley(df, keys, order_col, value_col, delta_micro=0,
                 lambda_micro=1000000):
    """Page-Hinkley mean-shift detector per key: per-row micro terms
    against the RUNNING mean round once (HALF_UP both engines), cumulative
    m and its prefix min are exact integer window sums; returns the final
    row per key. order_col must be unique per key by contract. Scala
    ``Stats.pageHinkley``."""
    if lambda_micro <= 0:
        raise ValueError("lambda_micro must be positive")
    return _wrap(df, _pl().Stats.pageHinkley(
        df._jdf, _seq(keys), order_col, value_col, int(delta_micro),
        int(lambda_micro)))


def cronbach_alpha(df, keys, subject_col, item_col, score_col):
    """Cronbach's alpha per key: exact DECIMAL variance numerators whose
    shared n(n-1) denominators cancel in the ratio; complete blocks fail
    loud. NULL when k < 2 or var(total) = 0. Scala ``Stats.cronbachAlpha``."""
    return _wrap(df, _pl().Stats.cronbachAlpha(
        df._jdf, _seq(keys), subject_col, item_col, score_col))


def two_proportion_z(df, keys, group_col, success_col):
    """Two-proportion z test + Wilson 95% intervals per key: exact counts,
    one round-once ppm expression per published number (z = 1.96). Scala
    ``Stats.twoProportionZ``."""
    return _wrap(df, _pl().Stats.twoProportionZ(
        df._jdf, _seq(keys), group_col, success_col))


def hellinger_distance(ref, cur, value_col):
    """Hellinger + Bhattacharyya two-sample distances: per-shared-value
    nano sqrt(ca*cb) terms round once (side totals factor out of the root);
    inner join of distinct-value tables, no windows. D_B NULL on disjoint
    supports. Scala ``Stats.hellingerDistance``."""
    return _wrap(ref, _pl().Stats.hellingerDistance(
        ref._jdf, cur._jdf, value_col))


def weighted_kappa(df, a_col, b_col, quadratic=True, max_levels=1000):
    """Weighted Cohen's kappa for ordinal raters: exact integers end to
    end, observed cells only for disagreement, dense label-sized margin
    grid for expectation, fail-loud max_levels. Scala
    ``Stats.weightedKappa``."""
    if not (2 <= max_levels <= 100000):
        raise ValueError("max_levels must be in [2, 100000]")
    return _wrap(df, _pl().Stats.weightedKappa(
        df._jdf, a_col, b_col, bool(quadratic), int(max_levels)))


def heaps_law(df, id_col, text_col, max_docs=1000000):
    """Heaps'-law vocabulary-growth fit: growth checkpoints at doc
    boundaries (terms count at their FIRST doc), exact integer OLS on
    micro-rounded (ln N, ln V) points; fail-loud max_docs on the doc-level
    global window. Scala ``Stats.heapsLaw``."""
    if not (2 <= max_docs <= (1 << 30)):
        raise ValueError("max_docs must be in [2, 2^30]")
    return _wrap(df, _pl().Stats.heapsLaw(
        df._jdf, id_col, text_col, int(max_docs)))


def diff_in_diff(df, keys, treated_col, post_col, value_col):
    """Difference-in-differences per key: twelve exact DECIMAL cell moments
    in ONE conditional groupBy row; DID, SE and t are round-once
    expressions. NULL when any cell has n < 2. Scala ``Stats.diffInDiff``."""
    return _wrap(df, _pl().Stats.diffInDiff(
        df._jdf, _seq(keys), treated_col, post_col, value_col))


def poisson_rate_test(df, keys, group_col, events_col, exposure_col):
    """Two-sample Poisson rate-ratio test per key: exact DECIMAL
    event/exposure totals in ONE conditional groupBy; RR and the log-rate
    Wald z are round-once expressions. NULL on a zero-event or non-positive
    exposure side. Scala ``Stats.poissonRateTest``."""
    return _wrap(df, _pl().Stats.poissonRateTest(
        df._jdf, _seq(keys), group_col, events_col, exposure_col))


def icc(df, keys, subject_col, score_col):
    """ICC(1,1) per key: one-way ANOVA mean squares over subjects as groups
    with the anovaF per-subject nano-term discipline; balanced panels fail
    loud. Scala ``Stats.icc``."""
    return _wrap(df, _pl().Stats.icc(
        df._jdf, _seq(keys), subject_col, score_col))


def holm_bonferroni(df, key_cols, p_micro_col, alpha_micro=50000,
                    max_tests=1000000):
    """Holm-Bonferroni step-down rejection: pure long arithmetic over the
    metadata-sized per-test table; reject the largest prefix where every
    p_(i)*(m-i+1) <= alpha. Scala ``Stats.holmBonferroni``."""
    if not (1 <= alpha_micro <= 1000000):
        raise ValueError("alpha_micro must be in [1, 1000000]")
    return _wrap(df, _pl().Stats.holmBonferroni(
        df._jdf, _seq(key_cols), p_micro_col, int(alpha_micro),
        int(max_tests)))


def pairwise_welch(df, keys, group_col, value_col, max_groups=100):
    """Pairwise Welch t over all group pairs per key: one (key, group)
    DECIMAL moment rollup, then a label-sized self-equi-join (g_a < g_b)
    under a fail-loud max_groups guard; welch_t's exact factoring per pair.
    Scala ``Stats.pairwiseWelch``."""
    if not (2 <= max_groups <= 10000):
        raise ValueError("max_groups must be in [2, 10000]")
    return _wrap(df, _pl().Stats.pairwiseWelch(
        df._jdf, _seq(keys), group_col, value_col, int(max_groups)))


def brier_score(df, keys, p_micro_col, label_col):
    """Brier score per key: exact integer squared gaps in one groupBy,
    round-once division; the base rate and BS_ref = r(1-r) ship for the
    skill score downstream. p outside [0, 1e6] fails loud. Scala
    ``Stats.brierScore``."""
    return _wrap(df, _pl().Stats.brierScore(
        df._jdf, _seq(keys), p_micro_col, label_col))


def cohens_h(df, keys, group_col, success_col):
    """Cohen's h arcsine effect size for two proportions. Scala
    ``Stats.cohensH``."""
    return _wrap(df, _pl().Stats.cohensH(
        df._jdf, _seq(keys), group_col, success_col))


def by_fdr(df, key_cols, p_micro_col, q_micro=50000, max_tests=1000000):
    """Benjamini-Yekutieli FDR under arbitrary dependence: bh_fdr with the
    harmonic number accumulated as exact per-rank nano integers. Scala
    ``Stats.byFdr``."""
    if not (1 <= q_micro <= 1000000):
        raise ValueError("q_micro must be in [1, 1000000]")
    return _wrap(df, _pl().Stats.byFdr(
        df._jdf, _seq(key_cols), p_micro_col, int(q_micro), int(max_tests)))


def g_test(df, a_col, b_col, max_levels=1000):
    """G-test of independence: per-OBSERVED-cell nano-nat terms (zero cells
    contribute 0 — no dense grid), fail-loud max_levels margins. Scala
    ``Stats.gTest``."""
    if not (2 <= max_levels <= 100000):
        raise ValueError("max_levels must be in [2, 100000]")
    return _wrap(df, _pl().Stats.gTest(df._jdf, a_col, b_col, int(max_levels)))


def corr_compare(df, keys, seg_col, x_col, y_col):
    """Two-segment Pearson correlation comparison via Fisher's z: ten exact
    DECIMAL side moments in one conditional groupBy, factored denominators,
    atanh written as the half-log. NULL z when either r rounds to +-1 in
    micro units. Scala ``Stats.corrCompare``."""
    return _wrap(df, _pl().Stats.corrCompare(
        df._jdf, _seq(keys), seg_col, x_col, y_col))
