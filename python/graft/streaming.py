"""Python face of the stateful streaming surface.

Thin py4j wrappers over ``graft.streaming.StreamingBridge`` — every
operator is the compiled Scala ``flatMapGroupsWithState`` /
session-window state machine; nothing here leaves the JVM on the hot
path (the ``rasterfunctions`` delegation style). Argument conversion
lives in ``graft._bridge``. Each wrapper accepts a batch OR streaming
DataFrame, like its Scala counterpart: on a streaming frame the state
accumulates across micro-batches; on a batch frame the call degenerates
to a single-batch run, so parity tests against the batch operators in
``graft.pipeline`` compare two Scala implementations.
"""

from graft._bridge import _jvm, _long_array, _wrap


def drift_stream(df, key, value_col, ref_hist, max_bins=4096):
    """Streaming distribution-drift monitor — per key, the cumulative
    quantized histogram of everything seen so far scored against the
    fixed reference histogram after every micro-batch (W1/TV/CvM with
    the exact batch arithmetic). ``ref_hist`` is a list of
    ``(value, count)`` pairs — the metadata-sized artifact of an
    upstream histogram job. Compute the quantization width with
    ``graft.pipeline.quantize_step``, never by hand."""
    vals = [int(v) for v, _ in ref_hist]
    cnts = [int(c) for _, c in ref_hist]
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.driftStream(
        df._jdf, key, value_col, _long_array(vals),
        _long_array(cnts), int(max_bins)))


def sprt_stream(df, key, order_col, success_col, p0_permille=500,
                p1_permille=600, alpha_permille=50, beta_permille=50):
    """Sequential probability ratio test per key — exact micro-nat LLR
    walk with latched accept_h0/accept_h1 verdicts, recovered across
    restarts from the checkpoint."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.sprtStream(
        df._jdf, key, order_col, success_col, int(p0_permille),
        int(p1_permille), int(alpha_permille), int(beta_permille)))


def ngram_novelty_stream(df, id_col, text_col, event_time_col, n=3,
                         ttl_micros=(1 << 62), watermark_delay="0 seconds"):
    """Per-gram novelty: the first document to emit an n-gram marks it
    seen (state TTL-evicted by event time); later sightings emit
    novel=false."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.ngramNoveltyStream(
        df._jdf, id_col, text_col, event_time_col, int(n),
        int(ttl_micros), watermark_delay))


def trending_topk_stream(df, event_time_col, text_col, window_micros, k,
                         capacity=1024, watermark_delay="0 seconds"):
    """Per-window top-k trending terms off a bounded space-saving
    summary per window (state is ``capacity`` counters, not the
    vocabulary)."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.trendingTopKStream(
        df._jdf, event_time_col, text_col, int(window_micros), int(k),
        int(capacity), watermark_delay))


def cusum_stream(df, key, order_col, value_col, ref, slack, threshold):
    """Streaming one-sided CUSUM change detector per key — exact long
    arithmetic, state is two accumulators per key."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.cusumStream(
        df._jdf, key, order_col, value_col, int(ref), int(slack),
        int(threshold)))


def page_hinkley_stream(df, key, order_col, value_col, delta_micro=0,
                        lambda_micro=1000000):
    """Streaming Page-Hinkley mean-shift detector per key — deviation
    from the RUNNING mean (no calibrated baseline); state is exactly
    4 longs per key."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.pageHinkleyStream(
        df._jdf, key, order_col, value_col, int(delta_micro),
        int(lambda_micro)))


def reservoir_stream(df, key, id_col, k):
    """Streaming bounded k-sample per key — bit-identical to the batch
    priority_sample_per_key over any stream prefix; state is <= k
    (priority, id) pairs per key."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.reservoirStream(
        df._jdf, key, id_col, int(k)))


def quantile_stream(df, key, value_col, max_bins=4096):
    """Streaming exact-quantile monitor — the live face of
    percentile_report; cumulative distinct-value histogram per key,
    fail-loud past max_bins, exact p50/p90/p99 per batch."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.quantileStream(
        df._jdf, key, value_col, int(max_bins)))


def debounce_stream(df, key, ts_col, id_col, min_gap):
    """Suppress per-key events arriving within ``min_gap`` of the last
    emitted one — state is one long per key."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.debounceStream(
        df._jdf, key, ts_col, id_col, int(min_gap)))


def first_seen_stream(df, id_col, bucket_col):
    """Emit each id exactly once (its first sighting), latched across
    micro-batches and restarts."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.firstSeenStream(
        df._jdf, id_col, bucket_col))


def anomaly_stream(df, key, order_col, value_col, k_num=2, k_den=1):
    """Streaming z-ish outlier flags per key off running exact moments:
    |x - mean| > (k_num/k_den) * stddev."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.anomalyStream(
        df._jdf, key, order_col, value_col, int(k_num), int(k_den)))


def ewma_stream(df, key, order_col, value_col, lags=8):
    """Exponentially weighted moving average per key as exact integer
    lag sums (alpha = 1/2, ``lags`` terms)."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.ewmaStream(
        df._jdf, key, order_col, value_col, int(lags)))


def gap_regularity_stream(df, key, ts_col, divisor=1000000, k_num=1,
                          k_den=10, min_gaps=5):
    """Bot-cadence screen: per-key inter-arrival regularity off four
    longs of state (machine-regular keys have tiny gap variance)."""
    bridge = _jvm().graft.streaming.StreamingBridge
    return _wrap(df, bridge.gapRegularityStream(
        df._jdf, key, ts_col, int(divisor), int(k_num), int(k_den),
        int(min_gaps)))


def session_stats(df, key_col, event_time_col, value_col, gap):
    """Session-window aggregates per key (``session_window`` native
    operator): event count and value min/max per session."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.sessionStats(
        df._jdf, key_col, event_time_col, value_col, gap))


def psi_windowed(df, event_time_col, value_col, ref_bounds, ref_counts,
                 window_duration, watermark_delay="0 seconds"):
    """Windowed population-stability-index against fixed reference
    bucket bounds/counts."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.psiWindowed(
        df._jdf, event_time_col, value_col,
        _long_array([int(b) for b in ref_bounds]),
        _long_array([int(c) for c in ref_counts]),
        window_duration, watermark_delay))


def calibration_stream(df, key, p_micro_col, label_col, bins=10):
    """Streaming calibration monitor — per key, the cumulative per-bin
    (count, positives, confidence-sum) state re-scored after every
    micro-batch with the exact batch ECE arithmetic; emits the worst
    bin and its per-row gap. State is exactly 3*bins longs per key."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.calibrationStream(
        df._jdf, key, p_micro_col, label_col, int(bins)))


def distinct_windowed(df, event_time_col, id_col, window_duration, m=64,
                      watermark_delay="0 seconds"):
    """HLL distinct ids per event-time window — state is the m-register
    sketch, never the id set."""
    return _wrap(df, _jvm().graft.streaming.StreamingBridge.distinctWindowed(
        df._jdf, event_time_col, id_col, window_duration, int(m),
        watermark_delay))
