"""Sequence feature family — lags, diffs, runs, crossings, expanding
windows, higher-order self-alignment statistics, gap-split sessions.

Reference files: ``/root/reference/tspymfe/general.py`` (diffs,
crossings, turning points, step changes, run lengths),
``global_stats.py`` (diff/sdiff moments, trimmed mean),
``autocorr.py`` (trev/tc3/generalized autocorrelation — the reference's
"joins", which are lag self-alignments, SURVEY §2.2).

Everything here is native Window/aggregate SQL — one shuffle on
``conv_id`` ordered by ``turn_idx``, shared across features when
composed in one select.  At 10^12 turns the Window partition is one
conversation — bounded, no skew beyond the Zipf head handled by the
rollup/salting layer (features over hot conversations run on the
tiered series, which is already O(buckets) not O(turns)).
"""

from __future__ import annotations

from math import comb

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def W_SERIES():
    # lazy: PySpark 4 requires an active session to build Window specs
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def W_CONV():
    return Window.partitionBy("conv_id")


def diff_col(value: str = "value", order: int = 1, lag: int = 1) -> Column:
    """n-th order difference via the binomial identity
    Δⁿx_t = Σ_k (−1)^k C(n,k) x_{t−k·lag} — n chained lags collapse to
    one Window pass (reference ``general.py:358-375`` uses np.diff)."""
    terms = None
    for k in range(order + 1):
        c = (-1) ** k * comb(order, k)
        t = F.lag(value, k * lag).over(W_SERIES()) * F.lit(float(c))
        terms = t if terms is None else terms + t
    return terms


def with_diff(df: DataFrame, order: int = 1, lag: int = 1,
              value: str = "value", out: str = "diff") -> DataFrame:
    return df.withColumn(out, diff_col(value, order, lag)).filter(
        F.col(out).isNotNull()
    )


def bin_mean_col(value: str = "value") -> Column:
    """Binarize vs per-series mean (``general.py:769-795``)."""
    return (F.col(value) >= F.avg(value).over(W_CONV())).cast("int")


def frac_cp(df: DataFrame, value: str = "value") -> DataFrame:
    """Fraction of median-line crossings (``general.py:702-766``):
    sum(xor(x_t<=med, x_{t-1}<=med)) / (n−1)."""
    med = F.median(value).over(W_CONV())
    below = (F.col(value) <= med).cast("int")
    prev = F.lag(below).over(W_SERIES())
    cross = F.when(prev.isNotNull(), (below != prev).cast("int"))
    return (
        df.withColumn("_cross", cross)
        .groupBy("conv_id")
        .agg((F.sum("_cross") / (F.count("*") - 1)).alias("frac_cp"))
    )


def t_mean(df: DataFrame, p: float = 0.02, value: str = "value") -> DataFrame:
    """Trimmed mean, cutting p-tails (``global_stats.py:848-875``:
    scipy.stats.trim_mean => drop floor(n*p) lowest and highest ranks)."""
    n = F.count("*").over(W_CONV())
    cut = F.floor(n * F.lit(p))
    rnk = F.row_number().over(Window.partitionBy("conv_id").orderBy(value, "turn_idx"))
    return (
        df.withColumn("_rnk", rnk).withColumn("_n", n).withColumn("_cut", cut)
        .filter((F.col("_rnk") > F.col("_cut")) & (F.col("_rnk") <= F.col("_n") - F.col("_cut")))
        .groupBy("conv_id")
        .agg(F.avg(value).alias("t_mean"))
    )


def turning_points(df: DataFrame, value: str = "value",
                   on_diff: bool = False) -> DataFrame:
    """Local-extrema flags: (x_t − x_{t−1})·(x_{t+1} − x_t) < 0
    (``general.py:398-458``, crit-pt kernel ``_utils.py:170-213``).
    ``on_diff=True`` = ft_turning_points_trend (flags on Δx)."""
    v = F.col("_tp_v")
    base = df.withColumn("_tp_v", diff_col(value) if on_diff else F.col(value))
    if on_diff:
        base = base.filter(v.isNotNull())
    prev, nxt = F.lag("_tp_v").over(W_SERIES()), F.lead("_tp_v").over(W_SERIES())
    flag = F.when(
        prev.isNotNull() & nxt.isNotNull(), ((v - prev) * (nxt - v) < 0).cast("int")
    )
    return base.withColumn("turning_point", flag).drop("_tp_v").filter(
        F.col("turning_point").isNotNull()
    )


def step_changes(df: DataFrame, value: str = "value",
                 on_diff: bool = False) -> DataFrame:
    """Expanding-window step-change flags (``general.py:461-543``):
    |x_i − mean(x_0..x_{i−1})| > 2·sd(x_0..x_{i−1}), ddof=1."""
    v = F.col("_sc_v")
    base = df.withColumn("_sc_v", diff_col(value) if on_diff else F.col(value))
    if on_diff:
        base = base.filter(v.isNotNull())
    exp_fr = W_SERIES().rowsBetween(Window.unboundedPreceding, -1)
    mu, sd = F.avg("_sc_v").over(exp_fr), F.stddev_samp("_sc_v").over(exp_fr)
    flag = F.when(sd.isNotNull(), (F.abs(v - mu) > 2 * sd).cast("int"))
    return base.withColumn("step_change", flag).drop("_sc_v").filter(
        F.col("step_change").isNotNull()
    )


def discretize_col(value: str = "value", num_bins: int = 10,
                   strategy: str = "equal-width") -> Column:
    """Histogram binning (``_utils.py:418-463``).  equal-width matches
    np.histogram edge semantics (right-closed last bin); equiprobable
    uses rank ntile."""
    if strategy == "equal-width":
        v, mn, mx = F.col(value), F.min(value).over(W_CONV()), F.max(value).over(W_CONV())
        raw = F.floor((v - mn) / ((mx - mn) / num_bins))
        # zero-range guard: all-equal values land in bin 0 (np.histogram
        # expands a degenerate range to [v-0.5, v+0.5] -> single bin);
        # without it ANSI mode raises DIVIDE_BY_ZERO (round-4 fix, found
        # by the trimmed-entropy degenerate-set test)
        return F.when(mx > mn, F.least(raw, F.lit(num_bins - 1))).otherwise(
            F.lit(0)
        ).cast("int")
    if strategy == "equiprobable":
        return F.ntile(num_bins).over(
            Window.partitionBy("conv_id").orderBy(value, "turn_idx")
        ) - 1
    raise ValueError(strategy)


def fs_len(df: DataFrame, num_bins: int = 10, value: str = "value") -> DataFrame:
    """Run lengths of constant discretized level (``general.py:797-852``):
    change-flag -> running sum as run id -> groupBy(run).count()."""
    lvl = discretize_col(value, num_bins)
    base = df.withColumn("_lvl", lvl)
    chg = F.when(
        F.lag("_lvl").over(W_SERIES()).isNull()
        | (F.col("_lvl") != F.lag("_lvl").over(W_SERIES())),
        1,
    ).otherwise(0)
    run = F.sum("_chg").over(W_SERIES().rowsBetween(Window.unboundedPreceding, 0))
    return (
        base.withColumn("_chg", chg)
        .withColumn("run_id", run)
        .groupBy("conv_id", "run_id")
        .agg(F.count("*").alias("run_len"), F.first("_lvl").alias("level"))
    )


# ---------------------------------------------------------------------------
# Higher-order self-alignment statistics (reference autocorr.py)
# ---------------------------------------------------------------------------

def trev(df: DataFrame, lag: int = 1, only_numerator: bool = False,
         value: str = "value") -> DataFrame:
    """Normalized nonlinearity statistic trev (``autocorr.py:711-797``):
    mean(d³)/mean(d²)^1.5 with d = x_{t+lag} − x_t."""
    d = F.col(value) - F.lag(value, lag).over(W_SERIES())
    base = df.withColumn("_d", d).filter(F.col("_d").isNotNull())
    num = F.avg(F.pow("_d", 3))
    if only_numerator:
        return base.groupBy("conv_id").agg(num.alias("trev"))
    return base.groupBy("conv_id").agg(
        (num / F.pow(F.avg(F.pow("_d", 2)), 1.5)).alias("trev")
    )


def tc3(df: DataFrame, lag: int = 1, only_numerator: bool = False,
        value: str = "value") -> DataFrame:
    """Third-order cumulant ratio tc3 (``autocorr.py:800-890``):
    mean(x·x₊L·x₊2L) / |mean(x·x₊L)|^1.5."""
    x = F.col(value)
    x1 = F.lead(value, lag).over(W_SERIES())
    x2 = F.lead(value, 2 * lag).over(W_SERIES())
    base = (
        df.withColumn("_p3", x * x1 * x2)
        .withColumn("_p2", x * x1)
        .filter(F.col("_p3").isNotNull())
    )
    num = F.avg("_p3")
    if only_numerator:
        return base.groupBy("conv_id").agg(num.alias("tc3"))
    return base.groupBy("conv_id").agg(
        (num / F.pow(F.abs(F.avg("_p2")), 1.5)).alias("tc3")
    )


def gen_autocorr(df: DataFrame, lag: int = 1, alpha: float = 1.0,
                 beta: float = 1.0, value: str = "value") -> DataFrame:
    """Generalized autocorrelation of |x|^α vs |x₊L|^β, replicating the
    exact expression at ``autocorr.py:1001-1006`` INCLUDING its Python
    operator precedence (only the mean-product term is divided by the
    sd normalizer; the joint mean is not):

        mean(a·b) − (mean(a)·mean(b)) / (sd_pop(a)·sd_pop(b))

    with a = |x_head|^α, b = |x_tail|^β over the lag-aligned halves.
    Behavior, not intent, is the compatibility contract."""
    xa = F.pow(F.abs(F.col(value)), alpha)
    xb = F.pow(F.abs(F.lead(value, lag).over(W_SERIES())), beta)
    base = (
        df.withColumn("_xa", xa)
        .withColumn("_xb", xb)
        .filter(F.col("_xb").isNotNull())
    )
    ma, mb = F.avg("_xa"), F.avg("_xb")
    # population sd of a = sqrt(mean(a²) − mean(a)²)  (np.mean forms)
    sda = F.sqrt(F.avg(F.col("_xa") * F.col("_xa")) - ma * ma)
    sdb = F.sqrt(F.avg(F.col("_xb") * F.col("_xb")) - mb * mb)
    return base.groupBy("conv_id").agg(
        (F.avg(F.col("_xa") * F.col("_xb")) - ma * mb / (sda * sdb)).alias(
            "gen_autocorr"
        )
    )


def acf_at_lags(df: DataFrame, max_lag: int, adjusted: bool = True,
                value: str = "value") -> DataFrame:
    """SQL-expressible autocovariance-based ACF for small fixed lags:
    acf(k) = Σ_{t}(x_t−μ)(x_{t+k}−μ)/denominator / (Σ(x_t−μ)²/n),
    μ = full-series mean; denominator n−k (adjusted, statsmodels
    ``acf(adjusted=True)`` used at ``autocorr.py:188-190``) or n.
    Returns (conv_id, lag, acf) rows for lags 1..max_lag; the full
    FFT ACF (arbitrary nlags) lives in arrow_kernels."""
    mu = F.avg(value).over(W_CONV())
    n = F.count("*").over(W_CONV())
    c = (F.col(value) - mu).alias("_c")
    base = df.select(
        "conv_id", "turn_idx", c, n.alias("_n")
    )
    lag_cols = [
        (F.col("_c") * F.lag("_c", k).over(W_SERIES())).alias(f"_p{k}")
        for k in range(1, max_lag + 1)
    ]
    wide = base.select("conv_id", "_c", "_n", *lag_cols)
    denom = F.sum(F.col("_c") * F.col("_c"))
    per_lag = []
    for k in range(1, max_lag + 1):
        num = F.sum(f"_p{k}")
        d = (F.first("_n") - k) if adjusted else F.first("_n")
        per_lag.append((num / d / (denom / F.first("_n"))).alias(f"acf_{k}"))
    wide_acf = wide.groupBy("conv_id").agg(*per_lag)
    pairs = ", ".join(f"{k}, acf_{k}" for k in range(1, max_lag + 1))
    return wide_acf.select(
        "conv_id", F.expr(f"stack({max_lag}, {pairs}) as (lag, acf)")
    )


def peak_trough_frac(df: DataFrame, period: int, which: str = "peak",
                     value: str = "value") -> DataFrame:
    """ft_peak_frac / ft_trough_frac as pure SQL (``general.py:855-992``;
    numpy twin kernels.peak_trough_frac): split the series into full
    ``period``-length chunks, take the argmax (peak) / argmin (trough)
    POSITION inside each chunk — first index on ties, np.argmax
    semantics — and return the mode of those positions, PLUS ONE (the reference's
    executed 1-based convention — general.py:296; see the numpy twin's
    round-4 note), as a fraction of the period (smallest position on
    count ties, np.bincount-argmax semantics).  Conversations shorter than two full periods are
    dropped (the kernel returns nan there).

    One row per conv_id: (conv_id, frac)."""
    p = int(period)
    pos0 = F.row_number().over(W_SERIES()) - 1
    n = F.count("*").over(W_CONV())
    base = df.select(
        "conv_id", F.col(value).alias("_v"),
        (pos0 / p).cast("int").alias("_chunk"),
        (pos0 % p).alias("_pos"),
        n.alias("_n"),
    ).filter(
        (F.col("_n") >= 2 * p)
        & (F.col("_chunk") < (F.col("_n") / p).cast("int"))
    )
    wch = Window.partitionBy("conv_id", "_chunk")
    ext = F.max("_v").over(wch) if which == "peak" else F.min("_v").over(wch)
    arg = (
        base.withColumn("_ext", ext)
        .filter(F.col("_v") == F.col("_ext"))
        .groupBy("conv_id", "_chunk")
        .agg(F.min("_pos").alias("_arg"))  # FIRST extreme index on ties
    )
    counts = arg.groupBy("conv_id", "_arg").agg(F.count("*").alias("_c"))
    wmode = Window.partitionBy("conv_id").orderBy(
        F.col("_c").desc(), F.col("_arg").asc()
    )
    return (
        counts.withColumn("_rk", F.row_number().over(wmode))
        .filter(F.col("_rk") == 1)
        .select("conv_id", ((F.col("_arg") + 1) / p).alias("frac"))
    )


def sessionize_batch(turns: DataFrame, gap_seconds: int = 1800,
                     order_cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Conversation sessionizer: a new session starts when the gap to
    the previous turn exceeds ``gap_seconds`` — one window pass.

    ``order_cols``: pass ("ts", "turn_idx") when ts values can tie —
    a cumulative window over a non-total order is engine-dependent."""
    w = Window.partitionBy("conv_id").orderBy(*order_cols)
    # the ts->timestamp hop keeps TIMESTAMP_NTZ sources castable
    # (NTZ -> DOUBLE directly is a DATATYPE_MISMATCH; session tz is UTC)
    sec = F.col("ts").cast("timestamp").cast("double")
    gap = sec - F.lag(sec).over(w)
    flagged = turns.select(
        "conv_id", "turn_idx", "ts",
        F.when(gap > gap_seconds, 1).otherwise(0).alias("_flag"),
    )
    return flagged.select(
        "conv_id", "turn_idx", "ts",
        F.sum("_flag").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("session_id"),
    )


def session_stats(turns: DataFrame, gap_seconds: int = 1800,
                  order_cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Per-session aggregates over ``sessionize_batch``'s assignment
    (round 6): one row per (conv_id, session_id) with turn count,
    start, and duration.

    -> (conv_id, session_id, n_turns, session_start, duration_s)

    Scale shape: the sessionizer's one exchange by conv_id is reused
    by the (conv_id, session_id) aggregation (subset rule) — the whole
    op is a single shuffle of slim turn rows.
    """
    sess = sessionize_batch(turns, gap_seconds, order_cols)
    e = F.col("ts").cast("timestamp").cast("double")
    return (sess.select("conv_id", "session_id", "ts", e.alias("_e"))
            .groupBy("conv_id", "session_id")
            .agg(F.count("*").cast("long").alias("n_turns"),
                 F.min("ts").alias("session_start"),
                 (F.round(F.max("_e") - F.min("_e"), 6)
                  + F.lit(0.0)).alias("duration_s")))
