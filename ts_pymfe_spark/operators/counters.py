"""Counter-rate semantics (PromQL ``increase``/``rate``, RRDtool
COUNTER): per-series monotone counters that occasionally reset to
zero, rolled up into per-bucket increase and per-second rate.

Engine addition (no reference counterpart): transcript/metrics
pipelines carry cumulative counters (bytes sent, tokens emitted,
request totals) whose resets — process restarts — must not show up as
negative spikes.

Reset convention (Prometheus): if value < previous value, the counter
restarted from 0, so the increase attributable to that step is the new
value itself; the first sample of a series contributes nothing (no
earlier sample to difference against).

Scale shape: ONE exchange — the lag window partitions by the series
key, and the (key, bucket) aggregation reuses that partitioning
(hash(key) clusters any (key, ...) grouping; the same
subset-of-group-keys property the tier cascade exploits).  All
arithmetic is lag + CASE + sum: pure SQL, exactly oracle-able.

Hot-key mitigation (round 6, the skew probe's named limit): a
``Window.partitionBy(key)`` serializes ALL rows of one key through a
single task — a ~10^10-row conversation would pin one core for hours.
``counter_increase``/``counter_rate``, ``time_weighted_avg`` and
``burst_stats`` accept ``chunk_s``: the window then partitions by
``(key, floor(epoch / chunk_s))`` so a hot key splits across
time-range tasks, and the cross-chunk state (previous chunk's last
value / next chunk's first timestamp) is merged back from a
per-(key, chunk) boundary table — O(#chunks) rows per key.
``burst_stats`` instead
replicates each chunk's trailing ``window_s`` seconds into the next
chunk (ghost rows count in frames, never in output).  All three are
value-equal to the single-window plan (tests/test_round6_features.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _epoch(ts_col: str):
    """Epoch seconds with sub-second fraction kept (unix_timestamp
    truncates)."""
    return F.col(ts_col).cast("timestamp").cast("double")


def counter_increase(df: DataFrame, key: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value",
                     tiebreak_col: str | None = None,
                     chunk_s: int | None = None) -> DataFrame:
    """Per-sample reset-adjusted increase: lag-difference if the
    counter moved forward, the raw value after a reset, null for the
    first sample of a series.  Adds ``increase`` and ``is_reset``.
    Pass ``tiebreak_col`` (a unique id) when ``ts_col`` can collide
    within a key, to keep the lag order total.

    ``chunk_s`` switches to the hot-key plan: the lag window partitions
    by (key, time-chunk) and each chunk's first row takes its previous
    value from a per-(key, chunk) boundary table (the previous
    NON-EMPTY chunk's last sample, found with a lag over the boundary
    rows — O(#chunks) per key, never O(rows)).  Requires
    ``tiebreak_col`` when timestamps can collide at a chunk edge."""
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())

    def _inc(prev):
        delta = F.col(value_col) - prev
        return (
            F.when(prev.isNull(), F.lit(None).cast("double"))
            .when(delta < 0, F.col(value_col).cast("double"))
            .otherwise(delta.cast("double"))
            .alias("increase"),
            # coalesce: a series' first sample is NOT a reset (and a
            # null here would make an all-first-samples bucket sum to
            # null where 0 is meant)
            F.coalesce(delta < 0, F.lit(False)).alias("is_reset"),
        )

    if chunk_s is None:
        w = Window.partitionBy(key).orderBy(*order)
        return df.select("*", *_inc(F.lag(value_col).over(w)))

    staged = df.withColumn("_chunk", F.floor(_epoch(ts_col) / chunk_s))
    w = Window.partitionBy(key, "_chunk").orderBy(*order)
    # per-chunk last sample: struct max orders by (ts[, tiebreak]) so
    # the value rides along in the last slot
    sort_cols = [F.col(ts_col)]
    if tiebreak_col is not None:
        sort_cols.append(F.col(tiebreak_col))
    last = staged.groupBy(key, "_chunk").agg(
        F.max(F.struct(*sort_cols, F.col(value_col).alias("_v")))
        .alias("_last"))
    bw = Window.partitionBy(key).orderBy("_chunk")
    carry = last.select(
        key, "_chunk",
        F.lag(F.col("_last._v")).over(bw).alias("_carry"))
    rn = F.row_number().over(w)
    prev = F.when(rn == 1, F.col("_carry")) \
        .otherwise(F.lag(value_col).over(w))
    # both sides hash on (key, _chunk): the join reuses the window's
    # exchange; the boundary side is one row per (key, chunk)
    return (staged.join(carry, [key, "_chunk"], "left")
            .select(*df.columns, *_inc(prev)))


def counter_rate(df: DataFrame, key: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 bucket_s: int = 3600,
                 tiebreak_col: str | None = None,
                 chunk_s: int | None = None) -> DataFrame:
    """Per (key, bucket) counter rollup: total reset-adjusted
    increase, per-second rate, sample and reset counts.  Bucket start
    is the floor of ``ts`` to ``bucket_s`` seconds.  ``chunk_s``
    selects the hot-key chunked-window plan (see counter_increase).

    -> (key, bucket_start, n_samples, n_resets, increase_sum, rate)
    """
    inc = counter_increase(df, key, ts_col, value_col, tiebreak_col,
                           chunk_s=chunk_s)
    bucket = F.timestamp_seconds(
        F.floor(
            F.unix_timestamp(F.col(ts_col).cast("timestamp")) / bucket_s
        ) * bucket_s
    ).cast(df.schema[ts_col].dataType)
    return (
        inc.groupBy(F.col(key), bucket.alias("bucket_start"))
        .agg(
            F.count("*").alias("n_samples"),
            F.sum(F.col("is_reset").cast("long")).alias("n_resets"),
            F.sum("increase").alias("increase_sum"),
        )
        .withColumn("rate", F.col("increase_sum") / bucket_s)
    )


def time_weighted_avg(df: DataFrame, key: str = "user_id",
                      ts_col: str = "ts", value_col: str = "value",
                      bucket_s: int = 86400,
                      chunk_s: int | None = None) -> DataFrame:
    """Time-weighted average per (key, bucket) with last-observation-
    carried-forward weighting (TimescaleDB ``time_weight('LOCF')``
    semantics over irregular samples).

    Each sample's weight is the seconds until the next sample of the
    same key, CLIPPED to the bucket edge, so a sample near the bucket
    end never leaks weight into the next bucket and the per-bucket
    weights of a dense stream sum exactly to the covered span.  The
    key's final sample (no successor) gets weight to its bucket's end.

    -> (key, bucket_start, n_samples, covered_s, twa)

    Scale shape: ONE exchange — the lead window partitions by the key
    and the (key, bucket) aggregation reuses it (subset rule).
    ``chunk_s`` selects the hot-key plan: the lead window partitions by
    (key, time-chunk) and the chunk's LAST row takes its successor
    timestamp from the next non-empty chunk's first sample (per-chunk
    boundary table, lead over O(#chunks) rows).
    """
    # double cast keeps sub-second fractions (unix_timestamp truncates)
    e = _epoch(ts_col)
    bucket_num = F.floor(e / bucket_s)
    bucket_end = (bucket_num + 1) * bucket_s

    if chunk_s is None:
        w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
        nxt = F.lead(e).over(w)
        pre = df
    else:
        pre = df.withColumn("_chunk", F.floor(e / chunk_s))
        w = Window.partitionBy(key, "_chunk").orderBy(F.col(ts_col).asc())
        first = pre.groupBy(key, "_chunk").agg(F.min(e).alias("_first_e"))
        bw = Window.partitionBy(key).orderBy("_chunk")
        carry = first.select(
            key, "_chunk",
            F.lead("_first_e").over(bw).alias("_next_e"))
        pre = pre.join(carry, [key, "_chunk"], "left")
        nxt = F.coalesce(F.lead(e).over(w), F.col("_next_e"))

    dt = F.least(F.coalesce(nxt, bucket_end.cast("double")),
                 bucket_end.cast("double")) - e
    staged = pre.select(
        F.col(key),
        F.timestamp_seconds(bucket_num * bucket_s)
        .cast(df.schema[ts_col].dataType).alias("bucket_start"),
        F.col(value_col).cast("double").alias("_v"),
        dt.alias("_dt"),
    )
    return (
        staged.groupBy(key, "bucket_start")
        .agg(
            F.count("*").cast("long").alias("n_samples"),
            F.round(F.sum("_dt"), 6).alias("covered_s"),
            (F.round(F.sum(F.col("_v") * F.col("_dt"))
                     / F.sum("_dt"), 6) + F.lit(0.0)).alias("twa"),
        )
    )


def burst_stats(df: DataFrame, key: str = "user_id",
                ts_col: str = "ts", window_s: int = 60,
                chunk_s: int | None = None) -> DataFrame:
    """Peak sliding-window event rate per key: the maximum number of
    events in ANY trailing ``window_s`` seconds (rate-limiter /
    burst-detection primitive).

    The trailing count is a RANGE frame over event-time seconds —
    O(n log n) per key, one exchange; the max-reduction reuses the
    window's partitioning.

    ``chunk_s`` (must be >= ``window_s``) selects the hot-key plan:
    the frame runs per (key, time-chunk) and each chunk's trailing
    ``window_s`` seconds are REPLICATED into the next chunk as ghost
    rows — ghosts feed frames but are filtered before output, so every
    real row still sees its full trailing window.  One extra narrow
    union of a <= window_s/chunk_s row fraction; no boundary join.

    -> (key, n_events, peak_burst, peak_at)
    """
    e = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    staged = df.select(F.col(key), F.col(ts_col), e.alias("_e"))
    if chunk_s is None:
        w = (Window.partitionBy(key).orderBy(F.col("_e"))
             .rangeBetween(-window_s, 0))
        cnt = staged.withColumn("_burst", F.count("*").over(w))
    else:
        if chunk_s < window_s:
            raise ValueError("chunk_s must be >= window_s so one "
                             "neighbor chunk covers the frame")
        chunk = F.floor(F.col("_e") / chunk_s)
        main = (staged.withColumn("_chunk", chunk)
                .withColumn("_ghost", F.lit(False)))
        ghosts = (staged
                  .where(F.col("_e") >= (chunk + 1) * chunk_s - window_s)
                  .withColumn("_chunk", chunk + 1)
                  .withColumn("_ghost", F.lit(True)))
        w = (Window.partitionBy(key, "_chunk").orderBy(F.col("_e"))
             .rangeBetween(-window_s, 0))
        cnt = (main.unionByName(ghosts)
               .withColumn("_burst", F.count("*").over(w))
               .where(~F.col("_ghost")))
    # deterministic argmax via struct max: highest count, then
    # earliest ts (negated epoch makes max pick the smallest ts)
    mx = F.max(F.struct(F.col("_burst").alias("b"),
                        (-F.col("_e")).alias("ne"),
                        F.col(ts_col).alias("t")))
    return (cnt.groupBy(key)
            .agg(F.count("*").cast("long").alias("n_events"),
                 mx.alias("_mx"))
            .select(key, "n_events",
                    F.col("_mx.b").cast("long").alias("peak_burst"),
                    F.col("_mx.t").alias("peak_at")))


def heartbeat_gaps(df: DataFrame, key: str = "user_id",
                   ts_col: str = "ts", gap_s: float = 3600.0) -> DataFrame:
    """Heartbeat / liveness gap detection: per key, the inter-arrival
    gaps exceeding ``gap_s`` (monitoring's dead-man-switch view of an
    event stream).

    -> (key, n_events, n_gaps, max_gap_s, downtime_s) where
    ``downtime_s`` sums only the above-threshold gaps (round-6; the
    micro-second epoch diffs are exact halves so the sum is stable).

    One exchange: lag window by key; the aggregate reuses it.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    e = F.col(ts_col).cast("timestamp").cast("double")
    gap = e - F.lag(e).over(w)
    staged = df.select(F.col(key), gap.alias("_gap"))
    over = F.when(F.col("_gap") > gap_s, F.col("_gap"))
    return staged.groupBy(key).agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(over).cast("long").alias("n_gaps"),
        (F.round(F.coalesce(F.max(over), F.lit(0.0)), 6)
         + F.lit(0.0)).alias("max_gap_s"),
        (F.round(F.coalesce(F.sum(over), F.lit(0.0)), 6)
         + F.lit(0.0)).alias("downtime_s"),
    )


def state_durations(df: DataFrame, key: str = "user_id",
                    ts_col: str = "ts",
                    state_col: str = "event_type") -> DataFrame:
    """Time spent in each state per key (TimescaleDB ``state_agg``
    semantics): a key is "in" a state from an event until its next
    event (LOCF); the final event holds no duration (no extrapolation
    past the stream).

    -> (key, state, n_events, total_s)

    One exchange: the lead window by key; the (key, state) aggregate
    reuses it (subset rule).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    e = F.col(ts_col).cast("timestamp").cast("double")
    dt = F.coalesce(F.lead(e).over(w) - e, F.lit(0.0))
    staged = df.select(F.col(key), F.col(state_col).alias("state"),
                       dt.alias("_dt"))
    return staged.groupBy(key, "state").agg(
        F.count("*").cast("long").alias("n_events"),
        (F.round(F.sum("_dt"), 6) + F.lit(0.0)).alias("total_s"),
    )


def counter_deriv(df: DataFrame, key: str = "user_id",
                  ts_col: str = "ts", value_col: str = "value",
                  bucket_s: int = 3600) -> DataFrame:
    """Per-(key, bucket) least-squares slope of value over time
    (PromQL ``deriv``), units value/second.

    Time is centered to seconds-within-bucket before the regression —
    raw epoch x-values (~1.7e9) would cancel ~12 digits in
    ``n·Σx² − (Σx)²`` and make the slope numerically engine-dependent;
    centered x spans [0, bucket_s) and the explicit moment formula is
    then stable and identical on both engines.

    -> (key, bucket_start, n_samples, slope); slope null for
    single-sample or zero-time-spread buckets.
    """
    e = F.col(ts_col).cast("timestamp").cast("double")
    bucket_num = F.floor(e / bucket_s)
    x = e - bucket_num * bucket_s
    staged = df.select(
        F.col(key),
        F.timestamp_seconds(bucket_num * bucket_s)
        .cast(df.schema[ts_col].dataType).alias("bucket_start"),
        x.alias("_x"),
        F.col(value_col).cast("double").alias("_y"),
    )
    n = F.count("*").cast("double")
    sx = F.sum("_x")
    sy = F.sum("_y")
    sxx = F.sum(F.col("_x") * F.col("_x"))
    sxy = F.sum(F.col("_x") * F.col("_y"))
    den = n * sxx - sx * sx
    slope = F.when(den > 0, (n * sxy - sx * sy) / den)
    return staged.groupBy(key, "bucket_start").agg(
        F.count("*").cast("long").alias("n_samples"),
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
    )


def seasonal_profile(df: DataFrame, ts_col: str = "ts",
                     value_col: str = "value") -> DataFrame:
    """Hour-of-day x day-of-week activity/value profile — the
    seasonal-naive baseline matrix (168 rows) behind traffic
    normalization and anomaly context.

    -> (dow, hour, n_events, avg_value); dow 1=Sunday..7=Saturday
    (Spark dayofweek convention).

    Scale shape: one narrow projection + a 168-group aggregate with
    map-side partials — the shuffle is 168 rows per task.
    """
    return (df.select(
        F.dayofweek(F.col(ts_col)).alias("dow"),
        F.hour(F.col(ts_col)).alias("hour"),
        F.col(value_col).cast("double").alias("_v"))
        .groupBy("dow", "hour")
        .agg(F.count("*").cast("long").alias("n_events"),
             (F.round(F.avg("_v"), 6) + F.lit(0.0)).alias("avg_value")))


def seasonal_anomaly(df: DataFrame, ts_col: str = "ts",
                     value_col: str = "value",
                     k: float = 3.0) -> DataFrame:
    """Seasonal-baseline anomaly screen (round 6): flag events whose
    value deviates more than ``k`` sample standard deviations from
    their hour-of-week cell's mean (the ``seasonal_profile`` matrix as
    the baseline), reported per cell.

    -> (dow, hour, n_events, n_anomalies, anom_frac)

    Baseline mean/sd are ROUNDED to 6 decimals before the comparison
    so the flag is stable across engines' float summation orders (the
    same convention as the tier moment algebra).  Cells with <2 events
    or zero spread flag nothing.

    Scale shape: one narrow projection, a 168-group aggregate with
    map-side partials, then a BROADCAST of the 168-row profile back
    onto the stream — the raw rows are never shuffled; the final
    (dow, hour) count aggregation shuffles 168 rows per task.
    """
    cell = [F.dayofweek(F.col(ts_col)).alias("dow"),
            F.hour(F.col(ts_col)).alias("hour")]
    staged = df.select(*cell, F.col(value_col).cast("double").alias("_v"))
    n = F.count("*").cast("double")
    s1 = F.sum("_v")
    s2 = F.sum(F.col("_v") * F.col("_v"))
    var = F.when(n > 1, (s2 - s1 * s1 / n) / (n - 1))
    prof = staged.groupBy("dow", "hour").agg(
        F.round(s1 / n, 6).alias("_mu"),
        F.round(F.sqrt(F.when(var > 0, var).otherwise(F.lit(0.0))), 6)
        .alias("_sd"))
    flagged = staged.join(F.broadcast(prof), ["dow", "hour"])
    is_anom = ((F.col("_sd") > 0)
               & (F.abs(F.col("_v") - F.col("_mu"))
                  > F.lit(float(k)) * F.col("_sd")))
    return flagged.groupBy("dow", "hour").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(is_anom.cast("long")).alias("n_anomalies"),
        (F.round(F.sum(is_anom.cast("long")) / F.count("*"), 6)
         + F.lit(0.0)).alias("anom_frac"))


def rolling_corr_gap(df: DataFrame, key: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value",
                     k: int = 20, min_n: int = 10) -> DataFrame:
    """Trailing-window Pearson correlation between a stream's values
    and its inter-arrival gaps — a burst-coupling diagnostic (do
    values spike when events bunch up?).

    Explicit moment-sum form over the frame (cross-engine-stable, like
    the moving_* family); rows with fewer than ``min_n`` frame points
    or zero variance are not scored.  Adds ``corr_gap`` (round-6).
    One exchange (the key window serves lag and frame).
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    e = F.col(ts_col).cast("timestamp").cast("double")
    staged = df.select(
        F.col(key), F.col(ts_col),
        F.col(value_col).cast("double").alias("_y"),
        (e - F.lag(e).over(w)).alias("_x"))
    fr = (Window.partitionBy(key).orderBy(F.col(ts_col).asc())
          .rowsBetween(-k, 0))
    x, y = F.col("_x"), F.col("_y")
    n = F.count(x).over(fr).cast("double")
    sx = F.sum(x).over(fr)
    sy = F.sum(F.when(x.isNotNull(), y)).over(fr)
    sxx = F.sum(x * x).over(fr)
    syy = F.sum(F.when(x.isNotNull(), y * y)).over(fr)
    sxy = F.sum(x * y).over(fr)
    den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
    corr = F.when((n >= min_n) & (den2 > 0),
                  (n * sxy - sx * sy) / F.sqrt(den2))
    return staged.select(
        key, ts_col, F.col("_y").alias(value_col),
        (F.round(corr, 6) + F.lit(0.0)).alias("corr_gap"))


def burstiness(df: DataFrame, key: str = "user_id",
               ts_col: str = "ts") -> DataFrame:
    """Inter-arrival burstiness per key (round 6): the Goh-Barabasi
    burstiness index B = (sd - mean)/(sd + mean) of the event gaps,
    plus the coefficient of variation — B = -1 for a perfect
    heartbeat, 0 for Poisson, -> 1 for extreme bursts.  The
    distributional complement to ``heartbeat_gaps``'s threshold view.

    -> (key, n_gaps, mean_gap_s, cv, burstiness); keys with < 2 gaps
    (or zero mean) emit NULL cv/burstiness.

    Numerics: gap variance uses the TWO-PASS centered form — the
    6-dp-rounded mean gap is attached to every gap row and the
    variance sums (g - mu)^2, keeping addend magnitudes at spread
    scale (the raw sum-of-squares form carries ~1e12 partial sums
    whose engine summation-order error survives a 6-dp round).  cv/B
    round after their normalizing division.

    Scale shape: ONE exchange — the mean comes back as an UNBOUNDED
    per-key window over the gaps rather than a self-join (a join would
    make Spark re-derive the gap subplan — a second scan + second
    shuffle of the raw events — and at small SF broadcast the raw fact
    rows; plan-audited in tests/test_plan_audits.py).  The lag window,
    the mean window and the final aggregation all partition by ``key``
    (subset rule); per-key state is two scalars.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    wk = Window.partitionBy(key)
    e = F.col(ts_col).cast("timestamp").cast("double")
    gaps = (df.select(F.col(key), (e - F.lag(e).over(w)).alias("_g"))
            .where(F.col("_g").isNotNull())
            .withColumn("_mu", F.round(F.avg("_g").over(wk), 6)))
    d = F.col("_g") - F.col("_mu")
    stats = (gaps.groupBy(key)
             .agg(F.count("*").cast("double").alias("_n"),
                  F.max("_mu").alias("_mu"),
                  F.sum(d * d).alias("_ss")))
    sd = F.sqrt(F.col("_ss") / (F.col("_n") - 1))
    ok = (F.col("_n") > 1) & (F.col("_mu") > 0)
    return stats.select(
        F.col(key),
        F.col("_n").cast("long").alias("n_gaps"),
        (F.col("_mu") + F.lit(0.0)).alias("mean_gap_s"),
        (F.round(F.when(ok, sd / F.col("_mu")), 6)
         + F.lit(0.0)).alias("cv"),
        (F.round(F.when(ok, (sd - F.col("_mu")) / (sd + F.col("_mu"))), 6)
         + F.lit(0.0)).alias("burstiness"))


def mad_anomaly(df: DataFrame, key: str = "user_id",
                value_col: str = "value", k: float = 3.5) -> DataFrame:
    """Robust per-key anomaly screen (round 6): flag values whose
    distance from the key's MEDIAN exceeds ``k`` times the scaled
    median absolute deviation (1.4826 * MAD, consistent for the normal
    sd — Iglewicz & Hoaglin 1993, k=3.5 their recommended cut).  The
    robust complement to ``seasonal_anomaly``'s mean/sd screen: a few
    wild outliers cannot inflate their own baseline.

    -> (key, n_events, med, mad, n_anomalies, anom_frac); keys with
    MAD = 0 flag nothing (degenerate spread, same convention as the
    sd = 0 seasonal cell).

    med/mad are exact full-sort percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, the convention verified by
    exact_quantiles_user), rounded to 6 decimals before the compare.

    Scale shape: ONE exchange — both medians come back as UNBOUNDED
    per-key windows over the slim (key, value) projection rather than
    agg-plus-join-back (a self-join makes Spark re-derive each
    subplan: four scans, four shuffles, and per-key baseline tables on
    the broadcast side — tables as big as the key domain at corpus
    scale).  The two windows and the final aggregation all partition
    by ``key`` (subset rule); plan-audited
    (tests/test_plan_audits.py).  Exact medians full-sort within each
    key's partition; at genuinely hot keys swap in the histogram
    sketch (operators/histogram.py) upstream.
    """
    v = F.col(value_col).cast("double")
    wk = Window.partitionBy(key)
    flagged = (
        df.select(F.col(key), v.alias("_v"))
        .withColumn("_med",
                    F.round(F.expr("percentile(_v, 0.5)").over(wk), 6))
        .withColumn("_ad", F.abs(F.col("_v") - F.col("_med")))
        .withColumn("_mad",
                    F.round(F.expr("percentile(_ad, 0.5)").over(wk), 6)))
    is_anom = ((F.col("_mad") > 0)
               & (F.col("_ad") > F.lit(float(k)) * 1.4826 * F.col("_mad")))
    return flagged.groupBy(key).agg(
        F.count("*").cast("long").alias("n_events"),
        (F.max("_med") + F.lit(0.0)).alias("med"),
        (F.max("_mad") + F.lit(0.0)).alias("mad"),
        F.sum(is_anom.cast("long")).alias("n_anomalies"),
        (F.round(F.sum(is_anom.cast("long")) / F.count("*"), 6)
         + F.lit(0.0)).alias("anom_frac"))
