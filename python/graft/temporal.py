"""Temporal operators: thin py4j wrappers over the Scala
``graft.pipeline.Temporal`` object (see ``pipeline/Temporal.scala`` for
the design notes: the one-shuffle as-of join, bucketed interval joins,
rolling windows, funnels, sessions).

Each wrapper calls its Scala operator directly, so Python and Scala run
the same plan. Argument conversion lives in ``graft._bridge``.

Python-only, because no Scala operator exists: ``seasonality_profile``
and ``seasonal_anomaly`` are the q_seasonality and q_seasonal_anomaly
compositions that ``SparkEntry`` builds inline.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graft._bridge import (_jc, _jvm, _option, _option_long, _pl, _seq,
                           _wrap)


def epoch_micros(df, c):
    """``c`` as epoch micros (long), schema-adaptively: TIMESTAMP via
    ``unix_micros``, TIMESTAMP_NTZ cast in the session timezone (graft pins
    UTC) first, numeric passes through as the caller's own epoch algebra.
    Scala ``Temporal.epochMicros``."""
    return Column(_pl().Temporal.epochMicros(df._jdf, c))


def asof_join(left, right, key, left_ts, right_ts, right_prefix="right_",
              tolerance=None, direction="backward",
              allow_exact_matches=True):
    """For every left row, attach the right row of the same ``key`` with
    the greatest ``right_ts <= left_ts`` (pandas ``merge_asof``,
    direction="backward"). ``direction="forward"`` matches the smallest
    ``right_ts >= left_ts`` (the same single-shuffle window read in reverse
    time order); ``"nearest"`` picks whichever sits closer, ties backward.
    ``allow_exact_matches=False`` makes both comparisons strict. Left-
    outer: unmatched rows keep null right columns. Scala
    ``Temporal.asofJoin``."""
    payload_cols = [c for c in right.columns if c != key]
    if right_ts not in payload_cols:
        raise ValueError(f"right is missing ts column {right_ts}")
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            "direction must be 'backward', 'forward' or 'nearest', "
            f"got {direction!r}")
    return _wrap(left, _pl().Temporal.asofJoin(
        left._jdf, right._jdf, key, left_ts, right_ts, right_prefix,
        _option(None if tolerance is None else _jc(tolerance)), direction,
        bool(allow_exact_matches)))


def asof_join_bucketed(left, right, key, left_ts, right_ts, bucket_width,
                       right_prefix="right_", tolerance=None):
    """Hot-key-safe :func:`asof_join`: identical semantics for any
    ``bucket_width``, with the per-key window split into ``(key, ts div
    bucket_width)`` time buckets so one hot key parallelizes across its
    time range. The carry-in (latest right row before each bucket start)
    comes from a bounded per-(key, bucket) max-struct summary; carry rows
    inject at side -1 so real rows win boundary ties. Timestamps may be
    TIMESTAMP/TIMESTAMP_NTZ (``bucket_width``/``tolerance`` then in MICROS)
    or numeric non-negative epochs, like :func:`interval_join`. Scala
    ``Temporal.asofJoinBucketed``."""
    if right_ts not in right.columns or right_ts == key:
        raise ValueError(f"right is missing ts column {right_ts}")
    return _wrap(left, _pl().Temporal.asofJoinBucketed(
        left._jdf, right._jdf, key, left_ts, right_ts, int(bucket_width),
        right_prefix, _option(None if tolerance is None else _jc(tolerance))))


def interval_join(points, spans, key, ts_col, start_col, end_col,
                  bucket_width, span_prefix="span_"):
    """Every (point, span) pair of the same ``key`` with ``start <= ts <
    end`` (half-open). Span columns come back prefixed with
    ``span_prefix``. Timestamps may be TIMESTAMP/TIMESTAMP_NTZ
    (``bucket_width`` then in MICROS) or numeric epochs — bucketing and the
    exact refine both run in the :func:`epoch_micros`-normalized domain, so
    the two sides may even mix typed and numeric columns. Scala
    ``Temporal.intervalJoin``."""
    return _wrap(points, _pl().Temporal.intervalJoin(
        points._jdf, spans._jdf, key, ts_col, start_col, end_col,
        int(bucket_width), span_prefix))


def resample(df, key, ts_col, value_col, bucket_width):
    """Time-bucket downsample (pandas ``resample`` / OHLC bars): one row
    per (key, bucket) with open/high/low/close of ``value_col``, the row
    count and the sum. ONE shuffle with map-side partial aggregation;
    equal-ts ties take the smallest value as open, greatest as close (a
    total order). ``ts_col`` may be TIMESTAMP/TIMESTAMP_NTZ (then
    ``bucket_width`` is MICROS) or a numeric epoch. Scala
    ``Temporal.resample``."""
    return _wrap(df, _pl().Temporal.resample(
        df._jdf, key, ts_col, value_col, int(bucket_width)))


def rolling(df, key, ts_col, value_col, window, prefix="roll_"):
    """Trailing rolling-window aggregates: per row, the count/sum/min/max
    of ``value_col`` over the same key's rows with ts in the inclusive
    range ``[ts - window, ts]``. One shuffle; a single hot key serializes
    through one task — use :func:`rolling_bucketed` for that shape. Scala
    ``Temporal.rolling``."""
    return _wrap(df, _pl().Temporal.rolling(
        df._jdf, key, ts_col, value_col, int(window), prefix))


def rolling_bucketed(df, key, ts_col, value_col, window, bucket_width,
                     prefix="roll_"):
    """Hot-key-safe twin of :func:`rolling`: identical output for any
    ``bucket_width >= window``, the per-key range window split across (key,
    ts div bucket_width) partitions; rows within ``window`` of a bucket's
    end are replicated as ghosts into the next bucket and dropped from the
    output. Scala ``Temporal.rollingBucketed``."""
    return _wrap(df, _pl().Temporal.rollingBucketed(
        df._jdf, key, ts_col, value_col, int(window), int(bucket_width),
        prefix))


def funnel(df, key, ts_col, step_col, steps, within=None):
    """Funnel analysis: one row per key with the time each ordered step was
    first reached — step i's time is the earliest step-i event at-or-after
    step i-1's time (equal timestamps DO progress), with ``within``
    bounding later steps relative to the FIRST step. ONE shuffle: per-step
    first-reach times are prefix minima over a single (ts, step-rank)
    window, then a plain aggregation. Scala ``Temporal.funnel``."""
    if not steps:
        raise ValueError("steps must be non-empty")
    return _wrap(df, _pl().Temporal.funnel(
        df._jdf, key, ts_col, step_col, _seq(steps), _option_long(within)))


def cohort_retention(df, key, ts_col):
    """Cohort retention triangle: every key joins the cohort of its first
    active UTC day; exact distinct keys per (cohort_day, day_offset). Two
    keyed aggregations + one equi-join, no time self-joins. Scala
    ``Temporal.cohortRetention``."""
    return _wrap(df, _pl().Temporal.cohortRetention(df._jdf, key, ts_col))


def interval_union_length(df, key, start_col, end_col):
    """Merged-interval coverage: total length of the union of half-open
    [start, end) spans per key via one running-max window (each span
    contributes only its uncovered tail). Returns (key, n_spans, span_sum,
    covered). Scala ``Temporal.intervalUnionLength``."""
    return _wrap(df, _pl().Temporal.intervalUnionLength(
        df._jdf, key, start_col, end_col))


def gap_fill(df, key, bucket_col, value_col):
    """Forward-fill over a dense time spine: one row per key per bucket
    from the key's first to last observation, ``<value>_filled`` = the most
    recent observation at or before that bucket. Scala
    ``Temporal.gapFill``."""
    return _wrap(df, _pl().Temporal.gapFill(
        df._jdf, key, bucket_col, value_col))


def scd2(df, keys, ts_col, tie_cols=()):
    """SCD Type-2 history build: each changelog row gains ``valid_from_us``
    (its change instant, epoch micros) and ``valid_to_us`` (the next change
    for the same ``keys``, null while current) from ONE lead window.
    ``tie_cols`` must make the sort total within a key (end with a unique
    id). ``ts_col`` is schema-adaptive via ``epoch_micros``. Scala
    ``Temporal.scd2``."""
    if not keys:
        raise ValueError("keys required")
    return _wrap(df, _pl().Temporal.scd2(
        df._jdf, _seq(keys), ts_col, _seq(tie_cols)))


def attribution(df, key, id_col, ts_col, type_col, conversion_type,
                touch_types, lookback_micros):
    """Multi-touch attribution: for each ``conversion_type`` event, the
    first- and last-touch ``touch_types`` event of the same ``key`` within
    a trailing ``lookback_micros`` window. One shuffle (by key) and two
    range-frame window aggregates of a lexicographic ``(ts, id, type)``
    struct — never a conversions×touches self-join. Scala
    ``Temporal.attribution``."""
    if conversion_type in touch_types:
        raise ValueError("conversion_type cannot also be a touch type")
    return _wrap(df, _pl().Temporal.attribution(
        df._jdf, key, id_col, ts_col, type_col, conversion_type,
        _seq(touch_types), int(lookback_micros)))


def clamped_cum_sum(df, keys, order_cols, delta_col, floor=0):
    """Floor-clamped running balance: bal_t = max(floor, bal_{t-1} + delta)
    in closed window form (prefix sum minus its clamped running min), one
    shuffle by keys. ``(keys, order_cols)`` must totally order rows within
    a key. Scala ``Temporal.clampedCumSum``."""
    return _wrap(df, _pl().Temporal.clampedCumSum(
        df._jdf, _seq(keys), _seq(order_cols), delta_col, int(floor)))


def seasonality_profile(df, type_col, tus_col):
    """Day-of-week x hour seasonality profile per type with an integer
    permille lift vs the type's uniform cell mean, the q_seasonality
    composition (no Scala operator). dow/hour come from pure epoch
    arithmetic on micros (0 = Sunday), so any engine agrees; the lift
    is the division-free ``n * 168 * 1000 div type_total``.
    """
    cells = (df.groupBy(
                F.col(type_col),
                F.expr(f"({tus_col} div 86400000000 + 4) % 7").alias("dow"),
                F.expr(f"({tus_col} % 86400000000) div 3600000000").alias("hour"))
             .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy(type_col)
    return (cells.withColumn("type_total", F.sum("n").over(w))
            .withColumn("lift_permille",
                        F.expr("n * 168 * 1000 div type_total")))


def seasonal_anomaly(df, type_col, tus_col, num=1, den=4):
    """Seasonally-adjusted anomaly days, the q_seasonal_anomaly
    composition (no Scala operator): each (type, day) count against the
    type's same-day-of-week mean, flagged when the residual exceeds
    ``num/den`` of it. Cross-multiplied (``|n*days - total| * den >
    total * num``), so the gate is all-integer and division-free.
    """
    daily = (df.groupBy(F.col(type_col),
                        F.expr(f"{tus_col} div 86400000000").alias("day"))
             .agg(F.count(F.lit(1)).alias("n"))
             .withColumn("dow", F.expr("(day + 4) % 7")))
    prof = (daily.groupBy(type_col, "dow")
            .agg(F.sum("n").alias("dow_total"),
                 F.count(F.lit(1)).alias("days_dow")))
    return (daily.join(prof, [type_col, "dow"])
            .withColumn("is_anomaly",
                        F.abs(F.col("n") * F.col("days_dow")
                              - F.col("dow_total")) * den
                        > F.col("dow_total") * num))


def growth_curve(df, keys, id_col, bucket_col):
    """First-seen growth curve: per (keys, bucket) the ids appearing for
    the first time in that bucket plus the running cumulative (= exact
    distinct-to-date), from one min-bucket-per-id groupBy and a cume window
    over bucket rows. ``keys`` may be empty for one global curve. Scala
    ``Temporal.growthCurve``."""
    return _wrap(df, _pl().Temporal.growthCurve(
        df._jdf, _seq(keys), id_col, bucket_col))


def m4_downsample(df, keys, ts_col, value_col, bucket_width):
    """M4 chart downsampling: per (keys, bucket) exactly first, last, min
    and max (first/last via lexicographic struct min/max), one map-side-
    combinable groupBy — visually lossless line rendering from 4 rows per
    pixel column (Jugel et al., VLDB 2014). Scala
    ``Temporal.m4Downsample``."""
    return _wrap(df, _pl().Temporal.m4Downsample(
        df._jdf, _seq(keys), ts_col, value_col, int(bucket_width)))


def debounce(df, keys, ts_col, id_col, min_gap):
    """Debounce / tolerance dedup: LAG-based suppression of events within
    ``min_gap`` of the PREVIOUS event on the same key, (ts, id) total order
    for deterministic ties; adds ``prev_gap`` and ``is_kept`` (reserved
    names — fails fast if the input already has them). Scala
    ``Temporal.debounce``."""
    if not keys:
        raise ValueError("keys required")
    if min_gap <= 0:
        raise ValueError(f"min_gap must be positive, got {min_gap}")
    for r in ("prev_gap", "is_kept"):
        if r in df.columns:
            raise ValueError(
                f"debounce writes a '{r}' column; input already has one")
    return _wrap(df, _pl().Temporal.debounce(
        df._jdf, _seq(keys), ts_col, id_col, int(min_gap)))


def autocorr(df, key_col, order_col, id_col, value_col, k):
    """Exact lag-k autocorrelation: one lead(k) window per key over the
    (order, id) total order, one six-moment aggregate, DECIMAL(38,0)
    n^2-cleared num/den, sign-handled truncating permille (NULL for
    constant or too-short series). ``value_col`` must be pre-scaled
    integral. Scala ``Temporal.autocorr``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return _wrap(df, _pl().Temporal.autocorr(
        df._jdf, key_col, order_col, id_col, value_col, int(k)))


def journeys(df, key_col, ts_col, id_col, type_col, gap_micros, n=3,
             min_count=2):
    """Session journey mining: gap sessionization (one key shuffle), per-
    session ordered type path via in-group sort_array, strict pl_ngrams
    path windows, one journey count pruned at ``min_count``. Scala
    ``Temporal.journeys``."""
    if gap_micros <= 0 or n < 1:
        raise ValueError("gap_micros must be positive and n >= 1")
    return _wrap(df, _pl().Temporal.journeys(
        df._jdf, key_col, ts_col, id_col, type_col, int(gap_micros), int(n),
        int(min_count)))


def term_counts_windowed(df, event_time_col, text_col, window_duration,
                         watermark_delay="0 seconds"):
    """Windowed term counts: one API for the batch and streaming faces
    (watermarked tumbling-window token count); top-k is the consumer's cut.
    Scala ``StreamingPipeline.termCountsWindowed``."""
    ops = _jvm().graft.streaming.StreamingPipeline
    return _wrap(df, ops.termCountsWindowed(
        df._jdf, event_time_col, text_col, window_duration, watermark_delay))


def burst_segments(df, key_col, bucket_col, cnt_col, threshold, min_len=2):
    """Burst segment detection: maximal runs of CONSECUTIVE buckets with
    count >= threshold via the gaps-and-islands key (bucket - row_number),
    reported as (key, seg_start, n_buckets, total_cnt) and pruned at
    min_len. Two keyed windows + one groupBy over the already-aggregated
    (key, bucket) count table. Scala ``Temporal.burstSegments``."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    return _wrap(df, _pl().Temporal.burstSegments(
        df._jdf, key_col, bucket_col, cnt_col, int(threshold), int(min_len)))
