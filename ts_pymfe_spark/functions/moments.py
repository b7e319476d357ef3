"""Mergeable moment-vector algebra — the tier cascade's partial aggregates.

SURVEY.md §7 Phase 2: a bucket's state is the algebraic vector
``(n, Σx, Σx², Σx³, Σx⁴, min, max, first(ts-ordered), last, Σlog x,
n_nonpos)``.  Rolling a tier up (1m -> 1h -> 1d) is a plain ``groupBy``
SUM/MIN/MAX/first/last over these columns — no re-scan of raw data, no
Python, fully whole-stage-codegen.  Every distributive/algebraic
ts-pymfe statistic is then a closed-form expression over the merged
vector:

  mean, var/sd (ddof=1), e1071 method-3 skewness/kurtosis
  (formulas: reference ``_summary.py:149-209`` skew, ``:212-273`` kurt),
  range/ptp, geometric mean (``exp(Σlog/n)``, nan when any x<=0 —
  scipy gmean semantics used by ``local_stats.py:1162-1210``).

Holistic stats (median/quantiles/iq_range) are NOT mergeable and are
recomputed per tier from that tier's rows (SURVEY §7 Phase 2 note).

At 100 TB scale this algebra is what makes the cascade cheap: the 1h
rollup reads 60 rows per (conv, series) instead of 3600 raw turns, and
1d reads 24.  All merges are associative+commutative, so Spark's
partial (map-side) aggregation applies and shuffle volume is O(buckets),
not O(points).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def moment_aggs(value: str = "value", ts: str = "ts") -> list[Column]:
    """Aggregate expressions building the moment vector from raw rows.

    ``first/last`` are ts-ordered via min_by/max_by — deterministic under
    shuffle (reference's array order = our (conv_id, turn_idx/ts) order).
    """
    v = F.col(value)
    return [
        F.count(v).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
        F.min(F.col(ts)).alias("first_ts"),
        F.min_by(v, F.col(ts)).alias("first_v"),
        F.max(F.col(ts)).alias("last_ts"),
        F.max_by(v, F.col(ts)).alias("last_v"),
        F.sum(F.when(v > 0, F.log(v))).alias("slog"),
        F.sum(F.when(v <= 0, F.lit(1)).otherwise(F.lit(0))).alias("n_nonpos"),
    ]


def moment_merge_aggs() -> list[Column]:
    """Aggregate expressions merging child-tier moment vectors into the
    parent tier (1m -> 1h -> 1d).  Associative/commutative -> map-side
    partial aggregation halves shuffle volume automatically."""
    return [
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.sum("s3").alias("s3"),
        F.sum("s4").alias("s4"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.min("first_ts").alias("first_ts"),
        F.min_by("first_v", "first_ts").alias("first_v"),
        F.max("last_ts").alias("last_ts"),
        F.max_by("last_v", "last_ts").alias("last_v"),
        F.sum("slog").alias("slog"),
        F.sum("n_nonpos").alias("n_nonpos"),
    ]


# ---------------------------------------------------------------------------
# Closed-form statistics over a moment vector (pure Column algebra — codegen)
# ---------------------------------------------------------------------------

def m_mean(n: Column = None, s1: Column = None) -> Column:
    n = F.col("n") if n is None else n
    s1 = F.col("s1") if s1 is None else s1
    return s1 / n


def m_var_samp() -> Column:
    """Sample variance, ddof=1 (ts-pymfe summary contract, tsmfe.py:808-810).

    (Σx² − (Σx)²/n) / (n−1); NULL when n<2, matching stddev_samp."""
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return F.when(n > 1, (s2 - s1 * s1 / n) / (n - 1))


def m_sd_samp() -> Column:
    # guard tiny negative from float cancellation
    return F.sqrt(F.greatest(m_var_samp(), F.lit(0.0)))


def _central_moments() -> tuple[Column, Column, Column, Column]:
    """(mu, m2, m3, m4) population central moments from raw moments."""
    n, s1, s2, s3, s4 = (F.col(c) for c in ["n", "s1", "s2", "s3", "s4"])
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu
    m4 = s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu * mu * mu * mu
    return mu, m2, m3, m4


def m_skew_e1071_m3() -> Column:
    """e1071 method-3 skewness: (m3/m2^1.5)·((n−1)/n)^1.5.

    Reference formula: ``_summary.py:149-209`` (sum_skewness, method 3).
    NULL when m2==0 or n<2."""
    n = F.col("n")
    _, m2, m3, _ = _central_moments()
    raw = m3 / F.pow(m2, 1.5)
    return F.when((n > 1) & (m2 > 0), raw * F.pow((n - 1) / n, 1.5))


def m_kurt_e1071_m3() -> Column:
    """e1071 method-3 kurtosis: (m4/m2²)·(1−1/n)² − 3.

    Reference formula: ``_summary.py:212-273`` (sum_kurtosis, method 3)."""
    n = F.col("n")
    _, m2, _, m4 = _central_moments()
    raw = m4 / (m2 * m2)
    return F.when((n > 1) & (m2 > 0), raw * F.pow(1 - 1 / n, 2) - 3)


def m_range() -> Column:
    return F.col("mx") - F.col("mn")


def m_gmean() -> Column:
    """Geometric mean; NULL (nan at the numpy boundary) when any x<=0 —
    matches scipy.stats.gmean-on-nonpositive used at local_stats.py:1162."""
    return F.when(F.col("n_nonpos") == 0, F.exp(F.col("slog") / F.col("n")))


def stat_columns() -> list[Column]:
    """The standard derived-statistics projection over a moment vector."""
    return [
        F.col("n").alias("count"),
        m_mean().alias("mean"),
        m_var_samp().alias("var"),
        m_sd_samp().alias("sd"),
        m_skew_e1071_m3().alias("skewness"),
        m_kurt_e1071_m3().alias("kurtosis"),
        F.col("mn").alias("min"),
        F.col("mx").alias("max"),
        m_range().alias("range"),
        m_gmean().alias("gmean"),
        F.col("first_v").alias("first"),
        F.col("last_v").alias("last"),
        F.col("s1").alias("sum"),
    ]
