"""The reference's 32 summary functions (``_summary.py:450-485``) as
pure-numpy kernels; the Arrow workers of ``operators/arrow_kernels``
apply them to each feature array in the kernel call that computed it.

ts-pymfe reduces multi-valued features through these summaries
(``_internal.py:515-553``, default ``("mean","sd")`` at tsmfe.py:48).
Numeric contracts replicated exactly:

  - sd/var: ddof=1, nan when n<=ddof (``_summary.py:276-305``)
  - skewness: scipy.stats.skew(bias=True) = m3/m2^1.5, then method-3
    factor ((n−1)/n)^1.5 (``_summary.py:149-209``)
  - kurtosis: scipy fisher biased = m4/m2²−3, then method 3
    (k+3)(1−1/n)²−3 (``_summary.py:212-273``)
  - quantiles: numpy linear interpolation, [0,25,50,75,100]
    (``_summary.py:64-146``)
  - histogram: np.histogram 10 equal-width bins, normalized
    (``_summary.py:28-61``)
  - powersum/pnorm: p=2 defaults (``_summary.py:359-431``)
  - every ``nan*`` variant filters nans first (``_summary.py:20-25``)
"""

from __future__ import annotations

from typing import Callable

import numpy as np


def _rm_nan(v: np.ndarray) -> np.ndarray:
    return v[~np.isnan(v)]


def _std(v, ddof=1):
    return np.nan if len(v) <= ddof else float(np.std(v, ddof=ddof))


def _var(v, ddof=1):
    return np.nan if len(v) <= ddof else float(np.var(v, ddof=ddof))


def _skew_m3(v):
    n = len(v)
    if n == 0:
        return np.nan
    m = np.mean(v)
    m2 = np.mean((v - m) ** 2)
    if m2 == 0:
        return np.nan  # scipy.stats.skew 0/0 -> nan
    sk = np.mean((v - m) ** 3) / m2**1.5
    return float(sk * ((n - 1.0) / n) ** 1.5)


def _kurt_m3(v):
    n = len(v)
    if n == 0:
        return np.nan
    m = np.mean(v)
    m2 = np.mean((v - m) ** 2)
    if m2 == 0:
        return np.nan
    k = np.mean((v - m) ** 4) / m2**2 - 3.0
    return float((k + 3.0) * (1.0 - 1.0 / n) ** 2 - 3.0)


def _histogram(v, bins=10, normalize=True):
    if len(v) == 0:
        return np.full(bins, np.nan)
    try:
        freqs, _ = np.histogram(v, bins=bins)
    except ValueError:
        return np.full(bins, np.nan)
    return freqs / freqs.sum() if normalize else freqs.astype(float)


def _iqr(v):
    if len(v) == 0:
        return np.nan
    q75, q25 = np.percentile(v, [75, 25])
    return float(q75 - q25)


def _quantiles(v):
    if len(v) == 0:
        return np.full(5, np.nan)
    return np.percentile(v, [0, 25, 50, 75, 100])


def _powersum(v, p=2):
    return float(np.sum(np.power(v, p))) if len(v) else np.nan


def _pnorm(v, p=2):
    return float(np.power(np.sum(np.power(np.abs(v), p)), 1.0 / p)) if len(v) else np.nan


def _guard(fn):
    def wrapped(v):
        try:
            if len(v) == 0:
                return np.nan
            return fn(v)
        except Exception:
            return np.nan

    return wrapped


#: name -> callable(np.ndarray) -> float | np.ndarray  (order mirrors
#: SUMMARY_METHODS, _summary.py:450-485)
SUMMARY_FUNCS: dict[str, Callable] = {
    "mean": _guard(np.mean),
    "nanmean": _guard(lambda v: np.mean(_rm_nan(v))),
    "sd": _guard(_std),
    "nansd": _guard(lambda v: _std(_rm_nan(v))),
    "var": _guard(_var),
    "nanvar": _guard(lambda v: _var(_rm_nan(v))),
    "count": _guard(len),
    "nancount": _guard(lambda v: len(_rm_nan(v))),
    "histogram": _guard(_histogram),
    "nanhistogram": _guard(lambda v: _histogram(_rm_nan(v))),
    "iq_range": _guard(_iqr),
    "naniq_range": _guard(lambda v: _iqr(_rm_nan(v))),
    "kurtosis": _guard(_kurt_m3),
    "nankurtosis": _guard(lambda v: _kurt_m3(_rm_nan(v))),
    "max": _guard(np.max),
    "nanmax": _guard(lambda v: np.max(_rm_nan(v))),
    "median": _guard(np.median),
    "nanmedian": _guard(lambda v: np.median(_rm_nan(v))),
    "min": _guard(np.min),
    "nanmin": _guard(lambda v: np.min(_rm_nan(v))),
    "quantiles": _guard(_quantiles),
    "nanquantiles": _guard(lambda v: _quantiles(_rm_nan(v))),
    "range": _guard(np.ptp),
    "nanrange": _guard(lambda v: np.ptp(_rm_nan(v))),
    "skewness": _guard(_skew_m3),
    "nanskewness": _guard(lambda v: _skew_m3(_rm_nan(v))),
    "sum": _guard(np.sum),
    "nansum": _guard(lambda v: np.sum(_rm_nan(v))),
    "powersum": _guard(_powersum),
    "pnorm": _guard(_pnorm),
    "nanpowersum": _guard(lambda v: _powersum(_rm_nan(v))),
    "nanpnorm": _guard(lambda v: _pnorm(_rm_nan(v))),
}

DEFAULT_SUMMARIES = ("mean", "sd")  # reference default, tsmfe.py:48


def summarize_array(values: np.ndarray, summaries=DEFAULT_SUMMARIES):
    """One feature array -> [(summary_name_with_idx, value), ...] —
    dotted idx suffix for multi-valued summaries (tsmfe.py:427-438)."""
    out = []
    for s in summaries:
        res = SUMMARY_FUNCS[s](np.asarray(values, dtype=float))
        arr = np.atleast_1d(np.asarray(res, dtype=float))
        if arr.size == 1:
            out.append((s, float(arr[0])))
        else:
            out.extend((f"{s}.{i}", float(x)) for i, x in enumerate(arr))
    return out
