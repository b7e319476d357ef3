"""Local-statistics feature family — rolling + tiled window operators.

Reference: ``/root/reference/tspymfe/local_stats.py`` (22 ``ft_*``
methods).  The reference computes centered odd-width rolling stats on
the z-scored series (``_utils.py:36-67`` forces odd window,
``_utils.py:86-110`` builds ``pd.Series.rolling(w, center=True)``) and
16 equal non-overlapping tiles (``_utils.py:11-33``).  ``*_shift``
variants are ``|stat_t − stat_{t−1}|`` (``local_stats.py:176-253``);
nan edges (incomplete windows) are dropped (``local_stats.py:113-173``).

Spark mapping (all native Window functions — whole-stage codegen, one
shuffle on conv_id shared by every rolling column):

  rolling stat   -> ``f(value) OVER (PARTITION BY conv_id ORDER BY
                    turn_idx ROWS BETWEEN k PRECEDING AND k FOLLOWING)``
  edge semantics -> keep only rows with a full frame
                    (row_number > k AND row_number <= n−k)
  tiles          -> ``ntile(16) OVER (... ORDER BY turn_idx)`` then a
                    groupBy — identical to the tier engine's tumbling
                    buckets, so at scale tiles ARE the 1m/1h buckets.

Scale notes: a single Window spec serves all rolling stats (Spark
evaluates them in one pass over each partition); per-conversation
partitions are bounded by series-length caps for the Arrow kernels,
and plain Window stats stream — no materialization of the frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ORDER = ["conv_id", "turn_idx"]


def _w(order_col: str = "turn_idx"):
    return Window.partitionBy("conv_id").orderBy(order_col)


def zscore(df: DataFrame, value: str = "value", ddof: int = 0,
           out: str = "value_z") -> DataFrame:
    """Per-conversation standardization.

    Reference: ``_utils.py:70-83`` (sklearn StandardScaler => population
    ddof=0; the summaries' ddof=1 is a different call site —
    ``tsmfe.py:808-810`` — pin per operator)."""
    w = Window.partitionBy("conv_id")
    mu = F.avg(value).over(w)
    sd = F.stddev_pop(value).over(w) if ddof == 0 else F.stddev_samp(value).over(w)
    return df.withColumn(out, (F.col(value) - mu) / sd)


#: reference VALID_RESCALE (_internal.py:150-162) — sklearn scaler trio
VALID_RESCALE = ("standard", "min-max", "robust")


def rescale(df: DataFrame, option: str = "standard", value: str = "value",
            out: str = "value_scaled") -> DataFrame:
    """Ingest rescaling, reference parity (``_internal.py:1569-1609``):
    sklearn StandardScaler / MinMaxScaler / RobustScaler semantics as
    per-conversation window expressions (one shuffle-free pass; the
    partition window is the per-series fit the reference does on its
    single array).

      standard: (x − mean) / std_pop          (StandardScaler)
      min-max:  (x − min) / (max − min)       (MinMaxScaler)
      robust:   (x − median) / (q75 − q25)    (RobustScaler, linear-
                interpolated quantiles = numpy/sklearn default)
    """
    if option not in VALID_RESCALE:
        raise ValueError(
            f"Unknown rescale option {option!r}; choose one of {VALID_RESCALE}"
        )
    w = Window.partitionBy("conv_id")
    x = F.col(value)
    if option == "standard":
        col = (x - F.avg(value).over(w)) / F.stddev_pop(value).over(w)
    elif option == "min-max":
        mn, mx = F.min(value).over(w), F.max(value).over(w)
        col = (x - mn) / (mx - mn)
    else:  # robust
        q1 = F.percentile(x, F.lit(0.25)).over(w)
        q2 = F.percentile(x, F.lit(0.5)).over(w)
        q3 = F.percentile(x, F.lit(0.75)).over(w)
        col = (x - q2) / (q3 - q1)
    return df.withColumn(out, col)


def _frame(k: int):
    return _w().rowsBetween(-k, k)


_ROLLING_STATS = {
    "moving_avg": lambda v, k: F.avg(v).over(_frame(k)),
    "moving_var": lambda v, k: F.var_samp(v).over(_frame(k)),
    "moving_sd": lambda v, k: F.stddev_samp(v).over(_frame(k)),
    # geometric mean: exp(mean(ln v)) over the frame; NULL if any v<=0
    # in-frame (scipy gmean semantics, local_stats.py:1162-1210)
    "moving_gmean": lambda v, k: F.when(
        F.min(v).over(_frame(k)) > 0,
        F.exp(F.avg(F.log(v)).over(_frame(k))),
    ),
    # rolling EXACT median (round 6): percentile over the ROWS frame
    # (Spark percentile == DuckDB quantile_cont, the convention
    # verified by exact_quantiles_user).  Exact per-frame sort costs
    # O(w log w) per row — fine at the reference's half-widths; for
    # wide frames at 100 TB route through the mergeable histogram
    # sketch (operators/histogram.py) instead.
    "moving_median": lambda v, k: F.percentile(v, F.lit(0.5))
    .over(_frame(k)),
}


def _moment_over_frame(v: Column, k: int, which: str) -> Column:
    """Rolling e1071 method-3 skew/kurt from one-pass moment sums over
    the frame (reference formulas ``_summary.py:149-273`` applied to
    each window, ``local_stats.py:671-1028``)."""
    fr = _frame(k)
    n = F.count(v).over(fr).cast("double")
    s1 = F.sum(v).over(fr)
    s2 = F.sum(v * v).over(fr)
    s3 = F.sum(v * v * v).over(fr)
    s4 = F.sum(v * v * v * v).over(fr)
    mu = s1 / n
    m2 = s2 / n - mu * mu
    if which == "skew":
        m3 = s3 / n - 3 * mu * s2 / n + 2 * mu**3
        return F.when((n > 1) & (m2 > 0), m3 / F.pow(m2, 1.5) * F.pow((n - 1) / n, 1.5))
    m4 = s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu**4
    return F.when((n > 1) & (m2 > 0), m4 / (m2 * m2) * F.pow(1 - 1 / n, 2) - 3)


def rolling(df: DataFrame, stat: str, k: int, value: str = "value",
            shift: bool = False, drop_edges: bool = True,
            out: str = "stat") -> DataFrame:
    """Centered rolling statistic of half-width ``k`` (window = 2k+1).

    ``shift=True`` gives the ``*_shift`` variant |stat_t − stat_{t−1}|.
    ``drop_edges=True`` keeps only full-frame rows (reference nan-edge
    postprocessor, local_stats.py:113-173)."""
    v = F.col(value)
    if stat == "moving_acf":
        # EXACT rolling adjusted lag-1 ACF (reference
        # local_stats.py:1031-1086, kernel form moving_stat('acf')):
        #   num = Σ_{j<w}(v_j−μ)(v_{j+1}−μ)/(w−1),  den = Σ(v_j−μ)²/w
        # expanded into pure window sums (one shuffle, all JVM-side):
        # pair products over frame [−k, k−1], value sums over the two
        # off-by-one frames, centered via μ algebraically.
        df = df.withColumn("_nxt", F.lead(value, 1).over(_w()))
        fr = _frame(k)
        fr_lo = _w().rowsBetween(-k, k - 1)
        fr_hi = _w().rowsBetween(-k + 1, k)
        w_n = F.count(v).over(fr).cast("double")
        s1 = F.sum(v).over(fr)
        s2 = F.sum(v * v).over(fr)
        mu = s1 / w_n
        p = F.sum(v * F.col("_nxt")).over(fr_lo)
        a = F.sum(v).over(fr_lo)
        b = F.sum(v).over(fr_hi)
        num = (p - mu * (a + b) + (w_n - 1) * mu * mu) / (w_n - 1)
        den = (s2 - s1 * s1 / w_n) / w_n
        c = F.when(den > 0, num / den)
    elif stat == "moving_skewness":
        c = _moment_over_frame(v, k, "skew")
    elif stat == "moving_kurtosis":
        c = _moment_over_frame(v, k, "kurt")
    elif stat in _ROLLING_STATS:
        c = _ROLLING_STATS[stat](v, k)
    else:
        raise ValueError(f"unknown rolling stat: {stat}")

    res = df.withColumn(out, c).drop("_nxt")
    if drop_edges:
        w = _w()
        rn = F.row_number().over(w)
        cnt = F.count("*").over(Window.partitionBy("conv_id"))
        res = (
            res.withColumn("_rn", rn)
            .withColumn("_n", cnt)
            .filter((F.col("_rn") > k) & (F.col("_rn") <= F.col("_n") - k))
            .drop("_rn", "_n")
        )
    if shift:
        res = (
            res.withColumn(out, F.abs(F.col(out) - F.lag(out, 1).over(_w())))
            .filter(F.col(out).isNotNull())
        )
    return res


# ---------------------------------------------------------------------------
# Tiles: 16 equal non-overlapping chunks (np.array_split, _utils.py:11-33)
# ---------------------------------------------------------------------------

def with_tile(df: DataFrame, num_tiles: int = 16, out: str = "tile") -> DataFrame:
    """np.array_split semantics: first (n % k) tiles get ⌈n/k⌉ rows,
    the rest ⌊n/k⌋ — expressed in closed form from row_number so it is
    ONE window pass, not an ntile (ntile's remainder rule matches
    array_split, so use the builtin)."""
    return df.withColumn(out, F.ntile(num_tiles).over(_w()) - 1)


def rolling_anomalies(df: DataFrame, k: int = 20, z: float = 3.0,
                      value: str = "value",
                      min_n: int = 10) -> DataFrame:
    """Trailing-window z-score anomaly flags (engine addition — the
    streaming-compatible outlier detector the reference lacks; its
    outlier trims are whole-series).

    The baseline is the k rows strictly BEFORE the current one (the
    point never masks itself); the variance comes from explicit
    sum/sum-of-squares moment algebra over the frame — the same
    cross-engine-stable form the moving_* family uses — not the
    engine's stddev aggregate.  Rows with fewer than ``min_n``
    baseline points are not scored.

    Adds ``zscore`` (round-6) and ``is_anomaly``.  One exchange (the
    conv window).
    """
    fr = _w().rowsBetween(-k, -1)
    v = F.col(value)
    n = F.count(v).over(fr).cast("double")
    s1 = F.sum(v).over(fr)
    s2 = F.sum(v * v).over(fr)
    mu = s1 / n
    sd2 = (s2 - s1 * s1 / n) / (n - 1)
    zc = F.when((n >= min_n) & (sd2 > 0),
                (v - mu) / F.sqrt(sd2))
    return df.select(
        "*",
        (F.round(zc, 6) + F.lit(0.0)).alias("zscore"),
        F.when(zc.isNotNull(), F.abs(zc) > z).alias("is_anomaly"),
    )
