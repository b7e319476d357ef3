"""Distribution-drift monitoring operators (round 6).

Engine additions (no reference counterpart — the reference computes
whole-series meta-features over ONE population; production pipelines
also need to compare TWO populations of the same metric): the standard
ML-monitoring drift screens, each as pure SQL so the DuckDB oracle
reproduces every value bit-for-bit.

* ``ks_drift``        — exact two-sample Kolmogorov-Smirnov D per key
                        (Smirnov 1939; 5% two-sample gate c = 1.358,
                        the same Brownian-bridge constant as
                        ``cusum_changepoint``).
* ``ks_drift_binned`` — the same screen over equal-width cells of each
                        key's pooled range (the 100 TB default).
* ``psi_drift``       — Population Stability Index over equal-width
                        bins anchored on the BASELINE population's
                        min/max (the industry scorecard-monitoring
                        metric; > 0.25 = major shift convention).
* ``daily_drift``     — per-day per-column health profile (null rate,
                        mean, min/max) with day-over-day mean deltas,
                        the long-format companion to
                        ``profile.profile_table``.

Batch screens are reductions of ``drift_cells`` and the health
partials: ``ks_drift_binned`` is ``ks_from_cells(drift_cells(...))``
over the pooled per-key range, ``psi_drift`` is
``psi_from_cells(drift_cells(...))`` over the baseline range, and
``daily_drift`` is ``daily_health_from_partials(daily_health_partials
(...))``.  The batch screen and the stored / streamed store share one
binning, one aggregation and one verdict, so batch == stream holds by
construction.  Only the exact ``ks_drift`` keeps its own per-row ECDF;
its verdict is the shared ``_ks_verdict``.  The group split is an
arbitrary caller expression, so "last 7 days vs before" or "cohort A
vs B" are both just a different ``grp`` column.

Numerics: counts are exact integers; every ratio is one IEEE-double
division of exact integers, identical on any engine; outputs round to
6 dp AFTER the final division (memory: float-compare rules).

Per-key baseline strategy is a KEY-CARDINALITY trade, applied
deliberately across the engine:

* FEW FAT keys (event_type-scale domains — ks_drift/psi_drift/
  ks_drift_binned defaults): per-key windows serialize a hot key's
  rows through one task, while the baseline table is tiny — so
  baselines come from a separate aggregate BROADCAST back, and raw
  rows never shuffle.
* MANY THIN keys (user_id-scale domains — counters.mad_anomaly,
  trend.key_ols, burstiness): the baseline table is as big as the key
  domain (unbroadcastable), while each key's row count is small — so
  baselines come back as UNBOUNDED per-key windows over one exchange,
  and the "serialization" is a per-key scan of a few hundred rows.

An operator pointed at the wrong-shaped domain should switch pattern
(or, for ordered statistics, use ks_drift(buckets=) / counters
chunk_s).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: 5% two-sample KS critical coefficient c(alpha): reject if
#: D > c * sqrt((n0+n1)/(n0*n1)).  Brownian-bridge sup |B(t)|, the
#: same constant family as the CUSUM gate (trend.cusum_changepoint).
KS_C_5PCT = 1.358


def ks_drift(df: DataFrame, grp: Column, key: str = "event_type",
             value_col: str = "value",
             buckets: int | None = None) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift screen per key: split each
    key's values into population 0 / population 1 by the caller's
    ``grp`` expression (cast to int 0/1), and compute
    D = max_x |F0(x) - F1(x)| over the pooled empirical CDFs, plus the
    5% decision against the large-sample critical value.

    -> (key, n0, n1, ks_d, ks_crit, drifted); keys with an empty side
    emit NULL ks_d/ks_crit/drifted.

    The pooled-ECDF maximum needs the cumulative counts AT EVERY
    distinct value including all its ties, so the cumulative windows
    use a RANGE frame (ORDER BY value RANGE UNBOUNDED PRECEDING →
    CURRENT ROW): every row of a tie group sees the full tie group,
    matching the right-continuous ECDF definition.

    Scale shape (default): ONE exchange — the RANGE cumulative
    windows, the per-key total windows and the final max-aggregation
    all partition by ``key``.  Per-key work is the sort the window
    already pays; state is two running integers.

    Hot-key mitigation (``buckets=B``, the counters.chunk_s analogue
    for VALUE-ordered windows): a ``Window.partitionBy(key)``
    serializes ALL of one key's rows through a single task — a
    ~10^10-row key pins one core.  With ``buckets`` set the ECDF goes
    DISTRIBUTED two-level prefix-sum: per-key value range (one tiny
    groupBy, broadcast back — O(keys) rows) splits each key into B
    equal-width value buckets; local RANGE cumulatives run per
    (key, bucket) in parallel; per-bucket totals take an EXCLUSIVE
    prefix over the O(B)-row bucket ledger; global cum = local +
    offset.  Ties never straddle buckets (equal values share a
    bucket), so the result is VALUE-EQUAL to the single-window plan
    (asserted in tests/test_drift_sketch.py).
    """
    v = F.col(value_col).cast("double")
    rows = (df.where(v.isNotNull())
            .select(F.col(key), v.alias("_v"),
                    grp.cast("int").alias("_g")))
    i0 = F.when(F.col("_g") == 0, 1).otherwise(0)
    i1 = F.when(F.col("_g") == 1, 1).otherwise(0)
    if buckets is not None:
        staged = _ks_bucketed_cum(rows, key, i0, i1, buckets)
    else:
        wc = (Window.partitionBy(key).orderBy("_v")
              .rangeBetween(Window.unboundedPreceding, Window.currentRow))
        wk = Window.partitionBy(key)
        staged = (rows
                  .withColumn("_c0", F.sum(i0).over(wc))
                  .withColumn("_c1", F.sum(i1).over(wc))
                  .withColumn("_n0", F.sum(i0).over(wk))
                  .withColumn("_n1", F.sum(i1).over(wk)))
    # try_divide: ANSI mode raises on ANY division by zero (doubles
    # included), so an empty side must yield NULL, which max() skips
    # and the ok guard turns into NULL outputs — the oracle's CASE
    # WHEN n0 > 0 AND n1 > 0 guard, same contract.
    gap = F.abs(F.try_divide(F.col("_c0"), F.col("_n0"))
                - F.try_divide(F.col("_c1"), F.col("_n1")))
    agg = staged.groupBy(key).agg(
        F.max("_n0").alias("_n0"), F.max("_n1").alias("_n1"),
        F.max(gap).alias("_d"))
    return _ks_verdict(agg, key, (F.col("_n0") > 0) & (F.col("_n1") > 0))


def _ks_verdict(agg: DataFrame, key: str, ok: Column) -> DataFrame:
    """Per-key (_n0, _n1, _d) -> (key, n0, n1, ks_d, ks_crit, drifted):
    D against the 5% large-sample critical value; keys failing ``ok``
    (an empty side, a degenerate range) emit NULL verdicts."""
    n0d, n1d = F.col("_n0").cast("double"), F.col("_n1").cast("double")
    crit = F.lit(KS_C_5PCT) * F.sqrt((n0d + n1d) / (n0d * n1d))
    return agg.select(
        F.col(key),
        F.col("_n0").cast("long").alias("n0"),
        F.col("_n1").cast("long").alias("n1"),
        (F.round(F.when(ok, F.col("_d")), 6) + F.lit(0.0)).alias("ks_d"),
        (F.round(F.when(ok, crit), 6) + F.lit(0.0)).alias("ks_crit"),
        F.when(ok, F.col("_d") > crit).alias("drifted"))


def _ks_bucketed_cum(rows: DataFrame, key: str, i0, i1,
                     buckets: int) -> DataFrame:
    """Distributed pooled-ECDF cumulatives (two-level prefix sum):
    -> rows + (_c0, _c1, _n0, _n1), value-equal to the single-window
    RANGE cumulative.  See ks_drift's hot-key note."""
    # per-key value range: tiny aggregate, broadcast back (a window
    # would re-serialize the hot key; a plain join of this SEPARATE
    # aggregation is one broadcast of O(keys) rows)
    bounds = rows.groupBy(key).agg(F.min("_v").alias("_bmn"),
                                   F.max("_v").alias("_bmx"))
    r = rows.join(F.broadcast(bounds), key)
    width = (F.col("_bmx") - F.col("_bmn")) / F.lit(float(buckets))
    b = F.when(
        F.col("_bmx") > F.col("_bmn"),
        F.least(F.lit(buckets - 1),
                F.floor((F.col("_v") - F.col("_bmn")) / width)
                .cast("int"))).otherwise(F.lit(0))
    r = r.withColumn("_b", b).drop("_bmn", "_bmx")
    # local cumulatives within each (key, bucket) — parallel tasks
    wloc = (Window.partitionBy(key, "_b").orderBy("_v")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow))
    r = (r.withColumn("_l0", F.sum(i0).over(wloc))
         .withColumn("_l1", F.sum(i1).over(wloc)))
    # exclusive prefix over the O(B)-row-per-key bucket ledger
    cells = r.groupBy(key, "_b").agg(F.sum(i0).alias("_t0"),
                                     F.sum(i1).alias("_t1"))
    wpre = (Window.partitionBy(key).orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = (cells
            .withColumn("_o0", F.coalesce(F.sum("_t0").over(wpre),
                                          F.lit(0)))
            .withColumn("_o1", F.coalesce(F.sum("_t1").over(wpre),
                                          F.lit(0)))
            .withColumn("_n0", F.sum("_t0").over(Window.partitionBy(key)))
            .withColumn("_n1", F.sum("_t1").over(Window.partitionBy(key)))
            .select(key, "_b", "_o0", "_o1", "_n0", "_n1"))
    return (r.join(offs, [key, "_b"])
            .withColumn("_c0", F.col("_l0") + F.col("_o0"))
            .withColumn("_c1", F.col("_l1") + F.col("_o1")))


def psi_drift(df: DataFrame, grp: Column, key: str = "event_type",
              value_col: str = "value", bins: int = 10,
              eps: float = 1e-6) -> DataFrame:
    """Population Stability Index per key: bin both populations into
    ``bins`` equal-width cells anchored on the BASELINE population's
    (grp = 0) min/max, then PSI = Σ_cells (p1 - p0) · ln(p1 / p0) with
    the standard ``eps`` clamp for empty cells (a cell empty in both
    populations contributes exactly 0 and is skipped).

    -> (key, n0, n1, psi); keys with an empty side or a degenerate
    baseline range (min0 = max0) emit NULL psi; a NULL key is scored
    like any other.

    Binning convention: cell = floor((v - min0) / width), clamped to
    [0, bins-1]; values outside the baseline range land in the edge
    cells (out-of-range mass is exactly what PSI must see).  The
    floor of one IEEE division of identical doubles is identical on
    any engine, so the oracle reproduces every cell assignment.

    Scale shape: ``drift_cells``' — raw rows NEVER shuffle; baseline
    min/max come from a tiny separate aggregate broadcast back onto
    the stream (a per-key window would serialize a hot key's rows
    through one task — the ks_drift(buckets=) lesson), and the
    (key, cell) histogram partial-aggregates map-side, so every
    exchange carries O(bins) cells per key per map task.
    """
    baseline = df.where(grp.cast("int") == 0)
    cells = drift_cells(df, grp, _value_bounds(baseline, key, value_col),
                        key, value_col, bins)
    return psi_from_cells(cells, key, eps)


def _value_bounds(df: DataFrame, key: str, value_col: str) -> DataFrame:
    """(key, lo, hi): each key's non-NULL value range — the ``bounds``
    relation ``drift_cells`` bins against."""
    v = F.col(value_col).cast("double")
    return (df.where(v.isNotNull())
            .groupBy(key).agg(F.min(v).alias("lo"), F.max(v).alias("hi")))


def daily_drift(df: DataFrame, ts_col: str = "ts",
                cols: Sequence[str] = ("value",)) -> DataFrame:
    """Per-day per-column health profile with day-over-day deltas:
    (day, col_name, n, n_null, null_frac, mean_v, min_v, max_v,
    dod_mean_delta) — the monitoring table a pipeline alerts on when a
    producer silently starts emitting NULLs or shifts a metric.

    ``dod_mean_delta`` = mean_v - lag(mean_v) over days (NULL on each
    column's first day) — computed AFTER the aggregation, so the lag
    window runs over O(days x columns) rows, not raw events.

    Scale shape: the unpivot is a narrow Expand-free stack; one
    exchange aggregates raw rows by (day, column) into the health
    partials, whose merge reuses that partitioning; the day-over-day
    window is a second exchange over the tiny aggregate only.
    """
    return daily_health_from_partials(daily_health_partials(df, ts_col, cols))


#: Benford first-digit probabilities log10(1 + 1/d), embedded as
#: full-precision literals so both engines use the identical doubles.
BENFORD_P = {
    1: 0.30102999566398120,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

#: chi-square 5% critical value at 8 degrees of freedom (9 digits - 1).
BENFORD_CHI2_CRIT_5PCT = 15.507


def benford_deviation(df: DataFrame, key: str = "event_type",
                      value_col: str = "value") -> DataFrame:
    """First-significant-digit data-quality screen (late round 6,
    Benford 1938 / Nigrini's audit statistic): per key, the chi-square
    distance of the observed leading-digit distribution from Benford's
    law, plus the 5% verdict.  Fabricated, truncated, or
    unit-mismatched numeric feeds show up here before any downstream
    stat moves.

    -> (key, n, chi2, benford_ok); keys with no nonzero values emit no
    row.  Digits observed 0 times still contribute their expected mass
    (the correction term n·(1 - Σ_present e_d) — dropping it
    understates the statistic exactly when the data is MOST broken).

    Digit extraction is STRING-based (first [1-9] char of the value's
    decimal repr): both engines print shortest-round-trip doubles and
    every format — plain or scientific — leads with the mantissa, so
    the leading digit is engine-identical, with no log10 last-ulp
    boundary hazard at exact powers of ten.

    Scale shape: raw rows NEVER shuffle — the (key, digit) count
    partial-aggregates map-side, so the first exchange carries at most
    9 cells per key per map task and the second (re-clustering the
    <= 9-row groups by key for the total window) is just as bounded.
    Forcing a single exchange would require repartitioning the RAW
    rows by key first — strictly worse (the ngram_topk two-stage
    shape, not the mad_anomaly one).
    """
    v = F.abs(F.col(value_col).cast("double"))
    digit = F.regexp_extract(v.cast("string"), "[1-9]", 0)
    rows = (df.where(F.col(value_col).isNotNull())
            .select(F.col(key), digit.alias("_d"))
            .where(F.col("_d") != ""))
    per = rows.groupBy(key, "_d").agg(F.count("*").alias("_c"))
    e = F.element_at(
        F.create_map(*[F.lit(x) for kv in BENFORD_P.items()
                       for x in (str(kv[0]), kv[1])]), F.col("_d"))
    wk = Window.partitionBy(key)
    tot = (per.withColumn("_n", F.sum("_c").over(wk))
           .withColumn("_e", e))
    ne = F.col("_n") * F.col("_e")
    agg = tot.groupBy(key).agg(
        F.max("_n").cast("long").alias("n"),
        F.sum((F.col("_c") - ne) * (F.col("_c") - ne) / ne).alias("_x2p"),
        F.sum("_e").alias("_ep"),
        F.max("_n").alias("_nd"))
    chi2 = F.col("_x2p") + F.col("_nd") * (F.lit(1.0) - F.col("_ep"))
    return agg.select(
        F.col(key), "n",
        (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
        (chi2 <= F.lit(BENFORD_CHI2_CRIT_5PCT)).alias("benford_ok"))


def daily_health_partials(df: DataFrame, ts_col: str = "ts",
                          cols: Sequence[str] = ("value",)) -> DataFrame:
    """The sum/min/max-MERGEABLE form of ``daily_drift``'s aggregate:
    (day, col_name, n, n_null, sum_v, min_v, max_v) — partials from
    any row subset merge by summing n/n_null/sum_v and min/max-ing the
    extremes, the same merge-on-read shape as the tier moment and
    sketch stores.  ``daily_health_from_partials`` reduces merged
    partials to daily_drift's exact output schema."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("_day")
    stacked = df.select(
        day,
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("_col"),
                     F.col(c).cast("double").alias("_v"))
            for c in cols])).alias("_s"),
    ).select("_day", "_s._col", "_s._v")
    return stacked.groupBy("_day", "_col").agg(
        F.count("*").alias("n"),
        F.sum(F.col("_v").isNull().cast("long")).alias("n_null"),
        F.sum("_v").alias("sum_v"),
        F.min("_v").alias("min_v"),
        F.max("_v").alias("max_v"))


def daily_health_from_partials(partials: DataFrame) -> DataFrame:
    """Merge health partials (any number of subsets of the same
    stream) and emit daily_drift's output schema.  The mean comes from
    merged sum/count, so it equals the batch avg up to double
    summation order — bit-equal whenever the values' sums are exact
    (asserted with binary-exact fixtures in the streaming parity
    test), within the 6-dp round otherwise."""
    merged = partials.groupBy("_day", "_col").agg(
        F.sum("n").alias("n"),
        F.sum("n_null").alias("n_null"),
        F.sum("sum_v").alias("_sum"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"))
    mean = F.round(F.try_divide(F.col("_sum"),
                                (F.col("n") - F.col("n_null"))
                                .cast("double")), 6)
    wd = Window.partitionBy("_col").orderBy("_day")
    return (merged
            .withColumn("_mean", mean)
            .withColumn("_prev", F.lag("_mean").over(wd))
            .select(
                F.col("_day").cast("string").alias("day"),
                F.col("_col").alias("col_name"),
                "n",
                "n_null",
                (F.round(F.col("n_null") / F.col("n"), 6)
                 + F.lit(0.0)).alias("null_frac"),
                (F.col("_mean") + F.lit(0.0)).alias("mean_v"),
                "min_v",
                "max_v",
                (F.round(F.col("_mean") - F.col("_prev"), 6)
                 + F.lit(0.0)).alias("dod_mean_delta")))


def daily_quantile_drift(df: DataFrame, ts_col: str = "ts",
                         value_col: str = "value",
                         qs: Sequence[float] = (0.5, 0.95)) -> DataFrame:
    """Per-day EXACT quantiles of a metric with day-over-day deltas
    (late round 6): the tail-latency/SLO companion of
    ``daily_drift``'s mean view — a p95 that jumps while the mean
    holds is exactly the regression the mean-only table misses.

    -> (day, n, p<q>..., d_p<q>...), quantile columns named from the
    FULL q value (p50, p99_5 — histogram._q_col_name, the
    collision-free convention), deltas NULL on the first day.

    Scale shape: one exchange into per-day percentile groups (exact
    full-sort within each day's partition — at 100 TB swap the
    histogram sketch in upstream, same as mad_anomaly's note); the
    day-over-day lag window runs over the O(days) aggregate only.
    """
    from ts_pymfe_spark.operators.histogram import _q_col_name

    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("_day")
    v = F.col(value_col).cast("double")
    names = [_q_col_name(q) for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(f"quantile name collision: {names}")
    agg = df.where(v.isNotNull()).select(day, v.alias("_v")) \
        .groupBy("_day").agg(
            F.count("*").cast("long").alias("n"),
            *[F.round(F.expr(f"percentile(_v, {q!r})"), 6).alias(f"_{nm}")
              for q, nm in zip(qs, names)])
    # Deliberately unpartitioned (round-6 VERDICT minor): the window
    # input is the per-DAY aggregate — O(days) rows, a few KB even at
    # a decade of data — so the single-partition WindowExec warning is
    # noise here; partitioning (e.g. by year) would NULL the lag at
    # partition boundaries and change the day-over-day contract.  Raw
    # rows never flow through this window.
    wd = Window.orderBy("_day")
    cols = [F.col("_day").cast("string").alias("day"), F.col("n")]
    for nm in names:
        cols.append((F.col(f"_{nm}") + F.lit(0.0)).alias(nm))
    for nm in names:
        cols.append(
            (F.round(F.col(f"_{nm}") - F.lag(f"_{nm}").over(wd), 6)
             + F.lit(0.0)).alias(f"d_{nm}"))
    return agg.select(*cols)


def ks_drift_binned(df: DataFrame, grp: Column, key: str = "event_type",
                    value_col: str = "value",
                    bins: int = 256) -> DataFrame:
    """Binned two-sample KS over each key's pooled range — the 100
    TB-default KS (the exact screens are ks_drift and its distributed
    ks_drift(buckets=B) form): ``ks_from_cells`` over ``drift_cells``
    with ``bins`` equal-width cells spanning the key's pooled min/max,
    so D is the max gap of the binned ECDFs at cell boundaries.

    Approximation contract: D_binned <= D_exact, and the gap is at
    most the largest single-cell probability mass — at 256 cells a
    smooth distribution costs ~1/256 of resolution, while the shuffle
    carries O(bins) cells per key per map task instead of every row
    through one per-key sort (the histogram-sketch economics; the
    cells are also sum-mergeable, so day-over-day KS can run from a
    stored sketch without re-scanning events).

    -> (key, n0, n1, ks_d, ks_crit, drifted) — same schema as
    ks_drift; keys with an empty side or a degenerate pooled range
    emit NULL verdicts; NULL keys emit no row.

    Scale shape: ``drift_cells``' — pooled per-key bounds via a tiny
    broadcast aggregate (never a per-key window — the bucketed-ks
    lesson); the (key, cell) histogram partial-aggregates map-side;
    the cumulative runs over the O(bins)-row ledger per key.
    """
    df = df.where(F.col(key).isNotNull())
    cells = drift_cells(df, grp, _value_bounds(df, key, value_col),
                        key, value_col, bins)
    return ks_from_cells(cells, key)


# ---------------------------------------------------------------------------
# Mergeable drift cells (late round 6): the streaming-drift store.
# ---------------------------------------------------------------------------

def drift_cells(df: DataFrame, grp: Column, bounds: DataFrame,
                key: str = "event_type", value_col: str = "value",
                bins: int = 256) -> DataFrame:
    """Sum-mergeable two-population histogram cells over FIXED bounds:
    (key, cell, k0, k1) — the storable/streamable form of the binned
    drift screens.  ``bounds`` is a tiny (key, lo, hi) relation — the
    baseline contract pinned once (reference week, config table) so
    partials from ANY row subset merge by summing k0/k1; per-batch
    pooled bounds would make batches incomparable.

    Out-of-range values clamp into the edge cells (shifted mass is
    exactly what drift must see); keys absent from ``bounds`` or with
    lo >= hi emit cell NULL (degenerate, surfaced by the reducers).  A
    NULL key matches a NULL-keyed bounds row (null-safe join).

    Scale shape: bounds broadcast; the (key, cell) count
    partial-aggregates map-side — O(bins) cells per key per map task,
    raw rows never shuffle.
    """
    v = F.col(value_col).cast("double")
    rows = (df.where(v.isNotNull())
            .select(F.col(key), v.alias("_v"),
                    grp.cast("int").alias("_g")))
    b = bounds.select(F.col(key).alias("_bkey"),
                      F.col("lo").cast("double").alias("_lo"),
                      F.col("hi").cast("double").alias("_hi"))
    # null-safe: a NULL key bins against its own (NULL-keyed) bounds
    r = rows.join(F.broadcast(b), F.col(key).eqNullSafe(F.col("_bkey")),
                  "left")
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    cell = F.when(
        F.col("_hi") > F.col("_lo"),
        F.least(F.lit(bins - 1),
                F.greatest(F.lit(0),
                           F.floor((F.col("_v") - F.col("_lo")) / width)
                           .cast("int"))))
    return (r.withColumn("_cell", cell)
            .groupBy(key, "_cell")
            .agg(F.sum(F.when(F.col("_g") == 0, 1).otherwise(0))
                 .alias("k0"),
                 F.sum(F.when(F.col("_g") == 1, 1).otherwise(0))
                 .alias("k1"))
            .withColumnRenamed("_cell", "cell"))


def drift_cells_merge(*cells: DataFrame) -> DataFrame:
    """Sum-merge cell tables built with the same bounds/bins."""
    out = cells[0]
    for c in cells[1:]:
        out = out.unionByName(c)
    keys = [c for c in out.columns if c not in ("cell", "k0", "k1")]
    return out.groupBy(*keys, "cell").agg(
        F.sum("k0").alias("k0"), F.sum("k1").alias("k1"))


def ks_from_cells(cells: DataFrame, key: str = "event_type") -> DataFrame:
    """Binned two-sample KS verdicts from a (merged) cell table —
    ``ks_drift_binned``'s reduction, with ks_drift's output schema.
    All arithmetic over the O(bins) ledger."""
    wcum = (Window.partitionBy(key).orderBy("cell")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wk = Window.partitionBy(key)
    staged = (cells
              .withColumn("_c0", F.sum("k0").over(wcum))
              .withColumn("_c1", F.sum("k1").over(wcum))
              .withColumn("_n0", F.sum("k0").over(wk))
              .withColumn("_n1", F.sum("k1").over(wk)))
    gap = F.when(
        F.col("cell").isNotNull(),
        F.abs(F.try_divide(F.col("_c0"), F.col("_n0"))
              - F.try_divide(F.col("_c1"), F.col("_n1"))))
    agg = staged.groupBy(key).agg(
        F.max("_n0").alias("_n0"), F.max("_n1").alias("_n1"),
        F.max(F.col("cell").isNull().cast("int")).alias("_degen"),
        F.max(gap).alias("_d"))
    return _ks_verdict(agg, key, (F.col("_n0") > 0) & (F.col("_n1") > 0)
                       & (F.col("_degen") == 0))


def psi_from_cells(cells: DataFrame, key: str = "event_type",
                   eps: float = 1e-6) -> DataFrame:
    """PSI verdicts from a (merged) cell table — psi_drift's
    reduction (there over baseline-anchored bounds; over stored cells,
    the fixed bounds are the streaming-compatible convention)."""
    wk = Window.partitionBy(key)
    tot = (cells
           .withColumn("_n0", F.sum("k0").over(wk))
           .withColumn("_n1", F.sum("k1").over(wk)))
    p0 = F.greatest(F.try_divide(F.col("k0"), F.col("_n0")),
                    F.lit(float(eps)))
    p1 = F.greatest(F.try_divide(F.col("k1"), F.col("_n1")),
                    F.lit(float(eps)))
    term = F.when(F.col("cell").isNotNull()
                  & ((F.col("k0") > 0) | (F.col("k1") > 0)),
                  (p1 - p0) * F.log(p1 / p0)).otherwise(F.lit(0.0))
    agg = tot.groupBy(key).agg(
        F.max("_n0").alias("_n0"), F.max("_n1").alias("_n1"),
        F.max(F.col("cell").isNull().cast("int")).alias("_degen"),
        F.sum(term).alias("_psi"))
    ok = ((F.col("_n0") > 0) & (F.col("_n1") > 0)
          & (F.col("_degen") == 0))
    return agg.select(
        F.col(key),
        F.col("_n0").cast("long").alias("n0"),
        F.col("_n1").cast("long").alias("n1"),
        (F.round(F.when(ok, F.col("_psi")), 6) + F.lit(0.0)).alias("psi"))


def daily_dist_drift(df: DataFrame, ts_col: str = "ts",
                     value_col: str = "value", lo: float = 0.0,
                     hi: float = 200.0, bins: int = 128) -> DataFrame:
    """Day-over-day distribution drift (late round 6): binned
    two-sample KS between each day and its literal predecessor — the
    "did today's distribution shift vs yesterday" monitor, run from
    O(days x bins) histogram cells instead of raw re-scans (the same
    cell economics as drift_cells; fixed [lo, hi) bounds keep days
    comparable, out-of-range mass clamps into the edge cells).

    -> (day, n_prev, n_cur, ks_d, ks_crit, drifted), one row per day
    whose predecessor day is present.

    Scale shape: the (day, cell) histogram partial-aggregates
    map-side (raw rows never shuffle); the self-pairing joins the
    O(days x bins) cell ledger to itself via a date_add shift — both
    sides tiny, the hll_overlap pattern.
    """
    v = F.col(value_col).cast("double")
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    width = (hi - lo) / float(bins)
    cell = F.least(F.lit(bins - 1),
                   F.greatest(F.lit(0),
                              F.floor((v - F.lit(float(lo)))
                                      / F.lit(width)).cast("int")))
    cells = (df.where(v.isNotNull())
             .select(day.alias("_day"), cell.alias("_cell"))
             .groupBy("_day", "_cell").agg(F.count("*").alias("_c")))
    wcum = (Window.partitionBy("_day").orderBy("_cell")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wd = Window.partitionBy("_day")
    cum = (cells
           .withColumn("_cum", F.sum("_c").over(wcum))
           .withColumn("_n", F.sum("_c").over(wd)))
    cur = cum.select(F.col("_day").alias("day"), "_cell",
                     F.col("_cum").alias("_ccur"),
                     F.col("_n").alias("_ncur"))
    prv = cum.select(F.date_add("_day", 1).alias("day"), "_cell",
                     F.col("_cum").alias("_cprv"),
                     F.col("_n").alias("_nprv"))
    # full outer per cell: a cell present on one day only still moves
    # the ECDF gap; its missing cum is the day's running count at that
    # cell, recovered by a forward fill over cells
    j = cur.join(prv, ["day", "_cell"], "full")
    wfill = (Window.partitionBy("day").orderBy("_cell")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    j = (j.withColumn("_ccur", F.last("_ccur", True).over(wfill))
         .withColumn("_cprv", F.last("_cprv", True).over(wfill))
         .withColumn("_ncur", F.max("_ncur").over(Window.partitionBy("day")))
         .withColumn("_nprv", F.max("_nprv").over(Window.partitionBy("day"))))
    gap = F.abs(F.coalesce(F.try_divide(F.col("_ccur"), F.col("_ncur")),
                           F.lit(0.0))
                - F.coalesce(F.try_divide(F.col("_cprv"), F.col("_nprv")),
                             F.lit(0.0)))
    agg = (j.groupBy("day")
           .agg(F.max("_nprv").alias("_np"), F.max("_ncur").alias("_nc"),
                F.max(gap).alias("_d"))
           .where(F.col("_np").isNotNull() & F.col("_nc").isNotNull()))
    npd, ncd = F.col("_np").cast("double"), F.col("_nc").cast("double")
    crit = F.lit(KS_C_5PCT) * F.sqrt((npd + ncd) / (npd * ncd))
    return agg.select(
        F.col("day").cast("string").alias("day"),
        F.col("_np").cast("long").alias("n_prev"),
        F.col("_nc").cast("long").alias("n_cur"),
        (F.round(F.col("_d"), 6) + F.lit(0.0)).alias("ks_d"),
        (F.round(crit, 6) + F.lit(0.0)).alias("ks_crit"),
        (F.col("_d") > crit).alias("drifted"))
