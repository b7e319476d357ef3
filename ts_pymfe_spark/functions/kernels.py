"""Pure-numpy per-series kernels — the Arrow-UDF compute layer.

These re-derive the reference's library-backed computations
(statsmodels/scipy/nolds are NOT vendored — each kernel is written
from the published formula, with the reference call-site cited) so the
exact same code runs inside the Spark ``mapInPandas`` workers of the
grouped-map runner (``operators/grouped.py``) AND in the fixture
generator — bit-match by construction (SURVEY §5.2).

No Spark imports here: this module is importable by tests, fixture
generation, and the Arrow wrappers alike.
"""

from __future__ import annotations

import math

import numpy as np

# ---------------------------------------------------------------------------
# ACF / PACF / period  (reference: autocorr.py, _period.py)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Per-series memo cache — the reference's precompute-cache idea
# (_internal.py:1158-1331) inside the kernel layer: ts_period/decompose/
# acf are consumed by a dozen features each; memoizing on the series
# bytes computes them once per series per worker.  Bounded (8 entries)
# so Arrow workers stay memory-flat.
# ---------------------------------------------------------------------------

_MEMO: dict = {}
_MEMO_MAX = 8


def _memo(key, fn):
    if key in _MEMO:
        return _MEMO[key]
    val = fn()
    if len(_MEMO) >= _MEMO_MAX:
        _MEMO.pop(next(iter(_MEMO)))
    _MEMO[key] = val
    return val


def acf(ts: np.ndarray, nlags: int | None = None, adjusted: bool = True) -> np.ndarray:
    """Autocorrelation function, FFT-based, statsmodels semantics
    (``autocorr.py:128-191`` calls statsmodels ``acf(adjusted=True,
    fft=True)``; lag 0 dropped by the caller).  Returns lags 1..nlags.

    acov(k) = (1/d_k) Σ_t (x_t−μ)(x_{t+k}−μ), d_k = n−k (adjusted) or n;
    acf(k) = acov(k)/acov(0) with acov(0) always /n.
    """
    x = np.asarray(ts, dtype=float)
    n = x.size
    if nlags is None:
        nlags = min(int(10 * np.log10(n)), n - 1) if n > 1 else 0
    nlags = max(0, min(nlags, n - 1))
    xd = x - x.mean()
    # FFT autocovariance (circular-free via zero padding to 2^ceil)
    nfft = 1 << int(np.ceil(np.log2(2 * n)))
    fr = np.fft.rfft(xd, nfft)
    acov_full = np.fft.irfft(fr * np.conjugate(fr), nfft)[: nlags + 1]
    acov = acov_full / n
    if adjusted:
        d = n - np.arange(nlags + 1)
        acov = acov_full / d
        acov[0] = acov_full[0] / n
    c0 = acov_full[0] / n
    if c0 == 0:
        return np.full(nlags, np.nan)
    return (acov / c0)[1:]


#: Smallest pivot L_jj² (of the diagonal-equilibrated Gram, so a value
#: in [0, 1]: one minus the R² of column j on the columns before it)
#: pacf_ols accepts from its Cholesky before it falls back to lstsq.
_PACF_MIN_PIVOT = 1e-6
#: Smallest lag-column to intercept-column norm ratio (about the series
#: sd) pacf_ols accepts.  lstsq does not equilibrate, so when the
#: centred series is tiny next to the intercept column of ones its own
#: error grows (~2e-9 at sd 1e-7); below this ratio the series takes
#: the loop and keeps the loop's answer exactly.  There is no upper
#: bound: past sd ~1e8 lstsq drifts too (up to ~1e-5 at sd 1e12), but
#: the equilibrated Cholesky does not, so it is the better answer there.
_PACF_MIN_SCALE = 1e-6
#: Element budget of one stacked Gram block (8 MB of float64): lags are
#: factored in chunks of at most this many (k+2)² elements, so memory
#: stays O(n·K) plus a fixed block instead of O(K³).
_PACF_CHUNK_ELEMS = 1 << 20


def pacf_ols(ts: np.ndarray, nlags: int, adjusted: bool = True) -> np.ndarray:
    """Partial autocorrelation via per-lag OLS (statsmodels
    ``pacf(method='ols-adjusted')``, used at ``autocorr.py:194-250``):
    regress x_t on [1, x_{t-1..t-k}] over rows t = k..n-1 (statsmodels'
    ``efficient=True`` per-lag sample); pacf(k) = last coefficient,
    scaled by n/(n-k) when adjusted.  Returns lags 1..nlags.

    All lags come from one Gram matrix and batched Choleskys instead of
    one ``lstsq`` per lag.  With ``Z = [1, x_{t-1..t-K}, x_t]``,
    ``H_K = Z[K:]ᵀZ[K:]`` and ``H_k = H_{k+1} + z_k z_kᵀ`` (a reverse
    cumulative sum).  Each ``H_k`` is masked to columns {0..k, y} (the
    masked diagonal set to 1) and equilibrated by its diagonal, so
    pacf(k) = L[y,k]/L[k,k] · d_y/d_k: the last coefficient of the
    regression read off the Cholesky factor.  Lags are stacked in
    chunks of at most ``_PACF_CHUNK_ELEMS`` elements (one chunk for
    every K ≤ 100), each chunk cut to the columns its highest lag uses.
    Agrees with the per-lag loop to max |Δ| ≤ 1e-9, not bit for bit
    (for sd above ~1e8, with the loop on the standardised series).

    Guards: lstsq's answer on a rank-deficient design is the
    minimum-norm solution, which normal equations cannot reproduce.
    So if a Cholesky fails or any design pivot L_jj² is below
    ``_PACF_MIN_PIVOT`` (constant, ramp, exact-sine, periodic-integer
    series), or a lag column's norm is below ``_PACF_MIN_SCALE`` times
    the intercept's (series sd below ~1e-6, where lstsq's own error
    exceeds the tolerance), the whole series takes ``_pacf_ols_loop``
    and its result is the loop's exactly."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    nlags = min(nlags, n // 2 - 1) if n >= 4 else 0
    if nlags < 1:
        return np.empty(0)
    x0 = x - x.mean()
    # Z[t] = [1, x0_{t-1}, ..., x0_{t-K}, x0_t]; lags before t = 0 are 0
    # and only ever land in columns j > t ≥ k, which H_k's mask drops.
    lagged = np.lib.stride_tricks.sliding_window_view(
        np.concatenate([np.zeros(nlags), x0]), nlags + 1)[:, ::-1]
    Z = np.column_stack([np.ones(n), lagged[:, 1:], x0])
    G = Z[nlags:].T @ Z[nlags:]
    out = np.empty(nlags)
    k_hi = nlags
    while k_hi >= 1:
        c = max(1, min(k_hi, _PACF_CHUNK_ELEMS // (k_hi + 2) ** 2))
        coef = _pacf_chunk(Z, G, k_hi, c)
        if coef is None:
            return _pacf_ols_loop(x, nlags, adjusted)
        out[k_hi - c:k_hi] = coef
        rows = Z[k_hi - c:k_hi]
        G += rows.T @ rows  # now H_{k_hi - c}
        k_hi -= c
    if adjusted:
        out *= n / (n - np.arange(1, nlags + 1))
    return out


def _pacf_chunk(Z: np.ndarray, G: np.ndarray, k_hi: int, c: int):
    """Unadjusted pacf(k) for lags k = k_hi-c+1..k_hi, given
    ``G = H_{k_hi}``; None when a guard of pacf_ols fires."""
    s = k_hi + 2
    cols = np.r_[0:k_hi + 1, Z.shape[1] - 1]
    # H[i] = H_{k_hi-i} on columns {0..k_hi, y}: H_{k_hi}, then the rows
    # z_t (t = k_hi-1 down to k_hi-c+1) as outer products, summed in place.
    H = np.empty((c, s, s))
    H[0] = G[np.ix_(cols, cols)]
    z = Z[k_hi - 1:k_hi - c:-1][:, cols]
    np.multiply(z[:, :, None], z[:, None, :], out=H[1:])
    np.cumsum(H, axis=0, out=H)
    k = k_hi - np.arange(c)
    j = np.arange(s)
    y = s - 1
    keep = (j[None, :] <= k[:, None]) | (j[None, :] == y)
    H *= keep[:, :, None]
    H *= keep[:, None, :]
    diag = H[:, j, j]
    diag[~keep] = 1.0
    d = np.sqrt(np.where(diag > 0, diag, 1.0))
    if not np.all(d[:, 1:] >= _PACF_MIN_SCALE * d[:, :1]):
        return None
    H[:, j, j] = diag
    H /= d[:, :, None]
    H /= d[:, None, :]
    try:
        L = np.linalg.cholesky(H)
    except np.linalg.LinAlgError:
        return None
    piv = L[:, j, j] ** 2
    if not np.all(piv[keep & (j[None, :] != y)] >= _PACF_MIN_PIVOT):
        return None
    i = np.arange(c)
    return (L[i, y, k] / L[i, k, k] * d[i, y] / d[i, k])[::-1]


def _pacf_ols_loop(x: np.ndarray, nlags: int, adjusted: bool) -> np.ndarray:
    """pacf_ols as one ``lstsq`` per lag: the path a series takes when a
    Cholesky guard fires (``nlags`` already clipped by the caller)."""
    n = x.size
    out = np.full(nlags, np.nan)
    x0 = x - x.mean()
    for k in range(1, nlags + 1):
        # design: rows t = k..n-1, cols [x_{t-1}, ..., x_{t-k}], + const
        cols = [x0[k - j - 1 : n - j - 1] for j in range(k)]
        X = np.column_stack([np.ones(n - k)] + cols)
        y = x0[k:]
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        coef = beta[-1]
        if adjusted:
            coef *= n / (n - k)
        out[k - 1] = coef
    return out


def _ts_period_raw(ts: np.ndarray) -> int:
    """Dominant period (reference ``_period.py:14-45``): detrend first
    (reference: SuperSmoother residuals; here: centered-MA residuals —
    same role, documented divergence since supersmoother is
    unavailable), then argmax |ACF| up to n/2, +1 lag offset."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 4:
        return 1
    detrended = x - _trend_ma(x)
    a = acf(detrended, nlags=n // 2, adjusted=True)
    if a.size == 0 or np.all(~np.isfinite(a)):
        return 1
    return int(np.nanargmax(np.abs(a))) + 1


def _trend_ma(x: np.ndarray, w: int | None = None) -> np.ndarray:
    """Centered moving-average trend with shrinking edges, O(n)."""
    n = x.size
    if w is None:
        w = max(3, n // 10)
    if w % 2 == 0:
        w += 1
    w = min(w, n if n % 2 == 1 else n - 1)
    half = w // 2
    c = np.concatenate([[0.0], np.cumsum(x)])
    lo = np.maximum(np.arange(n) - half, 0)
    hi = np.minimum(np.arange(n) + half + 1, n)
    return (c[hi] - c[lo]) / (hi - lo)


def first_acf_nonsig(acfs: np.ndarray, n: int, threshold: float | None = None) -> float:
    """First lag with |acf| below the significance line 1.96/sqrt(n)
    (``autocorr.py:562-617``).  Returns nan when none."""
    crit = threshold if threshold is not None else 1.96 / math.sqrt(n)
    idx = np.flatnonzero(np.abs(acfs) <= crit)
    return float(idx[0] + 1) if idx.size else np.nan


def first_acf_nonpos(acfs: np.ndarray) -> float:
    """First lag with acf <= 0 (``autocorr.py:620-659``)."""
    idx = np.flatnonzero(acfs <= 0)
    return float(idx[0] + 1) if idx.size else np.nan


def first_local_min(arr: np.ndarray) -> float:
    """Index (1-based lag) of first local minimum (``autocorr.py:662-708``;
    crit-pt kernel ``_utils.py:170-213``)."""
    a = np.asarray(arr, dtype=float)
    if a.size < 3:
        return np.nan
    mins = (a[1:-1] < a[:-2]) & (a[1:-1] < a[2:])
    idx = np.flatnonzero(mins)
    return float(idx[0] + 2) if idx.size else np.nan


# ---------------------------------------------------------------------------
# Decomposition (reference: _detrend.py — STL/SuperSmoother; here a
# deterministic classical decomposition, documented divergence since
# statsmodels/supersmoother are unavailable in this environment)
# ---------------------------------------------------------------------------

def _loess_plan(n: int, q: int, xeval: np.ndarray | None = None):
    """Weights of a 1-D loess at integer design points (Cleveland 1979
    as used inside STL): for each evaluation point take the ``q``
    nearest neighbours, tricube weights, weighted degree-1 fit.  For
    q > n the neighbourhood radius is inflated by q/n (STL paper §2).

    On the regular integer grid the q-nearest neighbourhood is a
    CONTIGUOUS window, so all evaluation points batch into one
    (n_eval × q) gather.  Everything that depends only on (n, q, xeval)
    — the window indices, the weights and the weight moments sw, swx,
    swxx, the determinant and the degenerate mask — is computed here
    once; ``_loess_apply`` then costs one gather and two weighted sums
    per call, whatever the number of series smoothed together.

    A length-1 series plans as a plain gather of y[0]: the general
    formula gives (w·y)/w there, which can be 1 ulp off y[0]."""
    xe = (np.arange(n, dtype=float) if xeval is None
          else np.asarray(xeval, dtype=float))
    if n == 1:
        return np.zeros(xe.size, dtype=int), None
    qe = min(q, n)
    half = (qe - 1) // 2
    s = np.clip(np.rint(xe).astype(int) - half, 0, n - qe)
    idx = s[:, None] + np.arange(qe)[None, :]
    xc = idx - xe[:, None]
    lam = np.maximum(xe - s, s + qe - 1 - xe)
    if q > n:
        lam = lam * (q / n)
    lam = np.maximum(lam, 1e-300)
    w = np.clip(1.0 - (np.abs(xc) / lam[:, None]) ** 3, 0.0, None) ** 3
    wxc = w * xc
    sw = w.sum(axis=1)
    swx = wxc.sum(axis=1)
    swxx = (wxc * xc).sum(axis=1)
    det = sw * swxx - swx * swx
    # degenerate neighbourhood (all weight on one point): weighted mean
    ok = det > 1e-12 * np.maximum(sw * swxx, 1e-300)
    return idx, (w, wxc, swx, swxx, det, ok, np.maximum(sw, 1e-300))


def _loess_apply(plan, Y: np.ndarray) -> np.ndarray:
    """Apply a ``_loess_plan`` to ``Y`` of shape (..., n): every row
    along the last axis is smoothed with the same weights, giving
    (..., n_eval).  Sums run along the last, contiguous axis in the
    same association order as a one-series fit, so a batched row is
    bit-identical to smoothing that row alone."""
    idx, wts = plan
    G = np.asarray(Y, dtype=float)[..., idx]
    if wts is None:
        return G
    w, wxc, swx, swxx, det, ok, sw_safe = wts
    swy = (w * G).sum(axis=-1)
    swxy = (wxc * G).sum(axis=-1)
    with np.errstate(divide="ignore", invalid="ignore"):
        fit = (swxx * swy - swx * swxy) / det
    return np.where(ok, fit, swy / sw_safe)


def _loess(y: np.ndarray, q: int, xeval: np.ndarray | None = None) -> np.ndarray:
    """One-series degree-1 loess (see ``_loess_plan``)."""
    y = np.asarray(y, dtype=float)
    return _loess_apply(_loess_plan(y.size, q, xeval), y)


def _band_operator(n: int, q: int) -> np.ndarray:
    """The q-nearest loess on the full integer grid 0..n-1 as a linear
    operator, stored as its distinct coefficient rows only.

    Output i is Σ_j c_ij·y_j over the window [s_i, s_i + qe), with
    c_ij = (swxx·w_ij − swx·wxc_ij)/det (w_ij/sw on the degenerate
    branch), the ``_loess_plan`` fit rewritten as weights on y.  On the
    integer grid the window is contiguous and, with half = (qe−1)//2
    and E = qe − 1 − half:

      * the ``half`` left-edge rows use the window [0, qe);
      * every interior row has the same offsets −half..E, so one
        coefficient row serves all n − qe + 1 of them;
      * right-edge row n−1−i is left-edge-frame row i mirrored (|xc|,
        λ, sw and swxx mirror; swx and wxc both flip sign), i.e. row i
        applied to the reversed series.

    So the operator is the (E + 1, qe) block of rows i = 0..E in the
    left frame (window [0, qe), point i), row ``half`` being the
    interior row — O(q² + n) memory where the per-row plan is O(n·q).
    Against ``_loess_plan``/``_loess_apply`` this changes only
    rounding (weights-then-dot instead of moments-then-fit, and the
    right edge's sums run mirrored)."""
    qe = min(q, n)
    e = qe - 1 - (qe - 1) // 2
    i = np.arange(e + 1, dtype=float)[:, None]
    xc = np.arange(qe, dtype=float)[None, :] - i
    lam = np.maximum(i, qe - 1 - i)
    if q > n:
        lam = lam * (q / n)
    lam = np.maximum(lam, 1e-300)
    # w = (1 − |xc/λ|³)³ on [0, 1], in place to bound the peak at three
    # (E + 1, qe) arrays
    u = np.abs(xc)
    u /= lam
    w = u * u
    w *= u
    np.subtract(1.0, w, out=w)
    np.maximum(w, 0.0, out=w)
    np.multiply(w, w, out=u)
    w *= u
    del u
    wxc = w * xc
    sw = w.sum(axis=1, keepdims=True)
    swx = wxc.sum(axis=1, keepdims=True)
    xc *= wxc                       # w·xc²
    swxx = xc.sum(axis=1, keepdims=True)
    del xc
    det = sw * swxx - swx * swx
    # degenerate neighbourhood (all weight on one point): weighted mean
    deg = ~(det > 1e-12 * np.maximum(sw * swxx, 1e-300))[:, 0]
    mean_rows = w[deg] / np.maximum(sw[deg], 1e-300)
    wxc *= swx
    w *= swxx
    w -= wxc
    with np.errstate(divide="ignore", invalid="ignore"):
        w /= det
    w[deg] = mean_rows
    return w


def _band_apply(op: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Apply a ``_band_operator`` to a 1-D ``y``: one row-by-vector
    product per edge block (the right one on the reversed tail) and one
    correlation with the interior row.

    The edge products are ``einsum``, not ``@``: OpenBLAS gemv splits
    blocks over its threads and rounds differently per thread count
    (driver and Python workers may differ there), while einsum's loops
    round the same everywhere.  ``np.correlate`` is one dot per output,
    single-threaded at these lengths."""
    n, qe = y.size, op.shape[1]
    h = (qe - 1) // 2
    e = qe - 1 - h
    out = np.empty(n)
    out[:h] = np.einsum("ij,j->i", op[:h], y[:qe])
    out[h: n - e] = np.correlate(y, op[h], "valid")
    out[n - e:] = np.einsum("ij,j->i", op[:e], y[::-1][:qe])[::-1]
    return out


def _ma_valid(x: np.ndarray, w: int) -> np.ndarray:
    """'valid' moving average: length n − w + 1."""
    c = np.concatenate([[0.0], np.cumsum(x)])
    return (c[w:] - c[:-w]) / w


def stl_decompose(ts: np.ndarray, period: int, seasonal: int = 7,
                  inner: int = 5) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Minimal STL (Cleveland, Cleveland, McRae & Terpenning 1990 — the
    published algorithm the reference delegates to statsmodels for,
    ``_detrend.py:100-115``), non-robust, no jump/skip optimizations:

      per inner iteration:
        1. detrend              D = x − T
        2. cycle-subseries      loess(q=seasonal, d=1) per phase,
                                extended one period on each side → C
        3. low-pass on C        MA(period) ×2, MA(3), loess(q=lp, d=1)
        4. seasonal             S = C[period:-period] − L
        5. trend                T = loess(x − S, q=trend_len, d=1)

    with the standard window defaults: trend_len = smallest odd ≥
    1.5·period/(1 − 1.5/seasonal); low-pass = smallest odd > period.
    Non-robust inner count 5, matching statsmodels STL.fit's
    inner_iter default when robust=False (it is 2 only when
    robust=True), since the reference calls STL(ts, period).fit()
    non-robust (``_detrend.py:100-115``).

    Step 2 is batched: D, viewed as a (period, M) grid with
    M = ceil(n / period), holds phase p's subseries in row p.  The
    first r = n − (M−1)·period rows have M points, the rest M−1, so
    all subseries are smoothed by at most two ``_loess_apply`` calls.
    Their fits land in a (period, M+2) grid whose flattened transpose
    is C: evaluation point j of phase p is time p + (j−1)·period, i.e.
    C[p + j·period].  The loess weights depend only on (n, q, xeval),
    so the subseries plans and the low-pass and trend operators are
    built once per call, not once per inner iteration.  A length-1
    subseries (period > n/2) is fitted and extended as its single value
    exactly, as the per-phase loop did; the output is bit-identical to
    that loop.

    Steps 3 and 5 smooth the full grid 0..n-1, so they use the banded
    operators of ``_band_operator`` (O(q² + n) memory, one correlation
    for the interior rows) instead of per-row plans (O(n·q)).  That
    changes rounding only: every component stays within 1e-12·max|x|
    of the per-row-plan STL (tests/test_kernel_oracles.py)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    period = int(period)
    tl = int(math.ceil(1.5 * period / (1 - 1.5 / seasonal)))
    tl += 1 - tl % 2          # force odd
    lp = period + 1 + (period % 2)  # smallest odd > period
    M = -(-n // period)
    r = n - (M - 1) * period
    groups = [(slice(0, r), M)] + ([(slice(r, period), M - 1)] if r < period else [])
    sub_plans = [
        (rows, m, _loess_plan(m, seasonal, np.arange(-1, m + 1, dtype=float)))
        for rows, m in groups
    ]
    lp_op = _band_operator(n, lp)
    tl_op = _band_operator(n, tl)
    Dpad = np.zeros(M * period)
    G = np.empty((period, M + 2))
    T = np.zeros(n)
    S = np.zeros(n)
    for _ in range(inner):
        Dpad[:n] = x - T
        grid = Dpad.reshape(M, period).T
        for rows, m, plan in sub_plans:
            G[rows, : m + 2] = _loess_apply(plan, grid[rows, :m])
        C = G.T.ravel()[: n + 2 * period]
        L = _ma_valid(_ma_valid(_ma_valid(C, period), period), 3)
        L = _band_apply(lp_op, L)
        S = C[period: period + n] - L
        T = _band_apply(tl_op, x - S)
    return T, S, x - T - S


def classical_decompose(ts: np.ndarray, period: int | None = None
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Classical MA + per-phase-means decomposition (the round-1
    substitute, kept as the cheap fallback and as the comparison
    baseline for the STL divergence test)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if period is None:
        period = ts_period(x)
    w = period if period and period > 1 else max(3, n // 10)
    trend = _trend_ma(x, w)
    det = x - trend
    if period and period > 1:
        phases = np.arange(n) % period
        means = np.array([det[phases == p].mean() if np.any(phases == p) else 0.0
                          for p in range(period)])
        means = means - means.mean()
        season = means[phases]
    else:
        season = np.zeros(n)
    resid = x - trend - season
    return trend, season, resid


def _decompose_raw(ts: np.ndarray, period: int | None = None) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(trend, season, resid) additive decomposition, reference
    structure (``_detrend.py:117-182``): STL (numpy re-derivation
    above) when period > 1, else trend-only smoothing with zero
    seasonal (reference uses Friedman's SuperSmoother there; this
    engine uses the centered-MA smoother — documented divergence,
    supersmoother wheel absent)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if period is None:
        period = ts_period(x)
    if period and 1 < period <= n // 2:
        return stl_decompose(x, period)
    trend = _trend_ma(x, max(3, n // 10))
    season = np.zeros(n)
    return trend, season, x - trend - season


def ts_period(ts: np.ndarray) -> int:
    x = np.asarray(ts, dtype=float)
    return _memo(("period", x.tobytes()), lambda: _ts_period_raw(x))


def decompose(ts: np.ndarray, period: int | None = None):
    x = np.asarray(ts, dtype=float)
    return _memo(("decomp", x.tobytes(), period), lambda: _decompose_raw(x, period))



# ---------------------------------------------------------------------------
# Spectral (reference: freq_domain.py — scipy.signal.periodogram)
# ---------------------------------------------------------------------------

def periodogram_hamming(ts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One-sided power spectral density with a Hamming window, fs=1,
    'density' scaling — scipy.signal.periodogram semantics used at
    ``freq_domain.py:50-79``.  Returns (freqs, power) excluding f=0."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    win = np.hamming(n)
    xd = (x - x.mean()) * win  # detrend='constant' is scipy default
    scale = 1.0 / (win * win).sum()
    spec = np.fft.rfft(xd)
    p = (np.abs(spec) ** 2) * scale
    # one-sided doubling (all bins except DC and Nyquist-if-even)
    if n % 2 == 0:
        p[1:-1] *= 2
    else:
        p[1:] *= 2
    freqs = np.fft.rfftfreq(n, d=1.0)
    return freqs[1:], p[1:]


def ps_freqs_topk(power: np.ndarray, frac: float = 0.05) -> np.ndarray:
    """Top ⌈frac·m⌉ largest powers, descending (``freq_domain.py:122-171``)."""
    k = int(np.ceil(frac * power.size))
    return np.sort(power)[::-1][:k]


def ps_peaks(power: np.ndarray, factor: float = 0.6) -> np.ndarray:
    """Binary indicator power >= factor·max (``freq_domain.py:174-230``)."""
    return (power >= factor * power.max()).astype(float)


def ps_entropy(power: np.ndarray, normalize: bool = True) -> float:
    """Normalized spectral entropy, base 2 (``freq_domain.py:233-302``).
    NaN when the total power is 0 or not finite (a flat series): the
    distribution is then undefined, as it is for the reference's
    ``scipy.stats.entropy``."""
    total = power.sum()
    if total == 0 or not np.isfinite(total):
        return np.nan
    p = power / total
    p = p[p > 0]
    h = -float(np.sum(p * np.log2(p)))
    return h / math.log2(power.size) if normalize else h


def low_freq_power(ts: np.ndarray, threshold: float = 0.04) -> float:
    """Fraction of spectral power below ``threshold`` on the [0, π]
    angular-frequency scale, Hann-ish windowed spectrum
    (``freq_domain.py:305-350``)."""
    freqs, power = periodogram_hamming(ts)
    w = 2 * np.pi * freqs  # rad/sample in (0, π]
    mask = w <= threshold * np.pi
    total = power.sum()
    return float(power[mask].sum() / total) if total > 0 else np.nan


# ---------------------------------------------------------------------------
# Entropy family (reference: info_theory.py)
# ---------------------------------------------------------------------------

def hist_counts(x: np.ndarray, bins: int) -> np.ndarray:
    """np.histogram equal-width counts (right-closed last bin)."""
    c, _ = np.histogram(x, bins=bins)
    return c


def hist_entropy(ts: np.ndarray, num_bins: int = 10, normalize: bool = True) -> float:
    """(``info_theory.py:221-255``) scipy.stats.entropy of histogram
    counts (natural log), / log(num_bins) when normalized."""
    c = hist_counts(np.asarray(ts, float), num_bins)
    p = c / c.sum()
    p = p[p > 0]
    h = -float(np.sum(p * np.log(p)))
    return h / math.log(num_bins) if normalize else h


def ami(ts: np.ndarray, lags: np.ndarray | list[int], num_bins: int = 64) -> np.ndarray:
    """Auto-mutual information per lag via 2-D histograms
    (``info_theory.py:148-218``): I = H(x)+H(y)−H(x,y), natural log."""
    x = np.asarray(ts, dtype=float)
    out = []
    for lag in lags:
        a, b = x[:-lag], x[lag:]
        joint, _, _ = np.histogram2d(a, b, bins=num_bins)
        p = joint / joint.sum()
        px, py = p.sum(axis=1), p.sum(axis=0)
        def ent(q):
            q = q[q > 0]
            return -float(np.sum(q * np.log(q)))
        out.append(ent(px) + ent(py) - ent(p.ravel()))
    return np.array(out)


def _embed(x: np.ndarray, dim: int, lag: int = 1) -> np.ndarray:
    """Takens embedding matrix, reference ``_embed.py:26-74`` ordering
    (most recent first)."""
    n = x.size - (dim - 1) * lag
    return np.column_stack([x[(dim - 1 - j) * lag : (dim - 1 - j) * lag + n]
                            for j in range(dim)])


def _entropy_counts(ts: np.ndarray, m: int, factor: float, max_n: int,
                    memo: bool = True):
    """The one O(n²) pass approx_entropy and sample_entropy share: for
    d in (m, m+1), the per-row count of D_d ≤ r (self-match included)
    and the number of matching pairs i < j, where D_d is the Chebyshev
    distance matrix of the d-length embedding windows.  The input is
    truncated to its last ``max_n`` points and r = factor·std.

    No D_d is built.  max(a, b) ≤ r exactly when a ≤ r and b ≤ r, and
    the dimension-d step matrix is the dimension-1 one shifted by d−1
    on both axes.  So B = |x_i − x_j| ≤ r is computed once, from one
    ``subtract.outer``, and the hits of dimension d are those of d−1
    (cut to the rows of d) AND B shifted by d−1: one float pass and
    boolean ANDs.  Each comparison is the same float subtraction as in
    a per-dimension matrix, so the counts are exact, also for NaN input
    (NaN is never ≤ r) and r = 0.

    Pairs are (Σ rowcount − diagonal matches) // 2: the hits are
    exactly symmetric, so this is the upper-triangle count without the
    ``triu_indices`` gather.  Memoized on the truncated series, m and
    factor (not r, which is NaN and never equal to itself when the
    series holds a NaN), so the second of the two kernels on a series
    costs nothing; ``memo=False``
    is for callers with many short-lived windows (a rolling ApEn would
    otherwise evict the series' period/decomp entries)."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    r = factor * x.std(ddof=0)

    def run():
        diff = np.subtract.outer(x, x)
        B = np.abs(diff, out=diff) <= r
        hit = B
        counts = {}
        for d in range(1, m + 2):
            if d > 1:
                rows = x.size - d + 1
                hit = hit[:rows, :rows] & B[d - 1:d - 1 + rows,
                                            d - 1:d - 1 + rows]
            if d >= m:
                rowcount = hit.sum(axis=1)
                self_hits = np.count_nonzero(np.diagonal(hit))
                counts[d] = (rowcount, int(rowcount.sum() - self_hits) // 2)
        return counts

    if not memo:
        return run()
    return _memo(("entropy_counts", x.tobytes(), m, factor), run)


def approx_entropy(ts: np.ndarray, m: int = 2, factor: float = 0.2,
                   max_n: int = 512, memo: bool = True) -> float:
    """ApEn(m, r=factor·std, Chebyshev) — ``info_theory.py:764-837``.
    O(n²); input truncated to the last ``max_n`` points (engine length
    cap, mirroring the reference tests' 512-point truncation).  Reads
    the row counts of the pass shared with sample_entropy
    (``_entropy_counts``; ``memo=False`` bypasses its memo).  NaN,
    without the pass, when the cut series holds a non-finite value
    (r is then NaN, no pair matches and both log-means are −inf) or has
    at most ``m`` points (no (m+1)-window, so φ_{m+1} is a mean over
    nothing)."""
    x = np.asarray(ts, dtype=float)[-max_n:]
    if x.size <= m or not np.isfinite(x).all():
        return np.nan
    counts = _entropy_counts(ts, m, factor, max_n, memo)
    phis = {}
    for d, (rowcount, _) in counts.items():
        rows = rowcount.size
        phis[d] = float(np.mean(np.log(rowcount / rows)))
    return phis[m] - phis[m + 1]


def sample_entropy(ts: np.ndarray, m: int = 2, factor: float = 0.2,
                   max_n: int = 512) -> float:
    """SampEn — ``info_theory.py:840-914`` (nolds sampen semantics:
    r = factor·std, Chebyshev, self-matches excluded).  Reads the pair
    counts of the memoized pass shared with approx_entropy
    (``_entropy_counts``)."""
    counts = _entropy_counts(ts, m, factor, max_n)
    a, b = counts[m + 1][1], counts[m][1]
    if b == 0 or a == 0:
        return np.nan
    return -math.log(a / b)


def lz_complexity(ts: np.ndarray, num_bins: int = 10) -> float:
    """Lempel-Ziv complexity of the equal-width-discretized series,
    normalized by n/log2(n) — ``info_theory.py:1169-1232``.  NaN on a
    non-finite value, where the reference's discretisation raises."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if not np.isfinite(x).all():
        return np.nan
    mn, mx = x.min(), x.max()
    if mx == mn:
        sym = np.zeros(n, dtype=int)
    else:
        sym = np.minimum(((x - mn) / ((mx - mn) / num_bins)).astype(int),
                         num_bins - 1)
    s = sym.tolist()
    substrings = set()
    i, k = 0, 1
    while i + k <= n:
        sub = tuple(s[i : i + k])
        if sub in substrings:
            k += 1
        else:
            substrings.add(sub)
            i += k
            k = 1
    return len(substrings) / (n / math.log2(n)) if n > 1 else np.nan


# ---------------------------------------------------------------------------
# Long-memory / fractal (reference: global_stats.py via nolds)
# ---------------------------------------------------------------------------

def hurst_rs(ts: np.ndarray) -> float:
    """Hurst exponent via rescaled-range (R/S) regression over
    logarithmically-spaced window sizes (nolds ``hurst_rs`` approach,
    used at ``global_stats.py:691-720``)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 20:
        return np.nan
    sizes = np.unique(np.floor(np.logspace(np.log10(10), np.log10(n // 2), 15)).astype(int))
    rs_vals, used = [], []
    for w in sizes:
        m = n // w
        if m < 1:
            continue
        chunks = x[: m * w].reshape(m, w)
        dev = chunks - chunks.mean(axis=1, keepdims=True)
        z = np.cumsum(dev, axis=1)
        rng = z.max(axis=1) - z.min(axis=1)
        std = chunks.std(axis=1, ddof=0)
        ok = std > 0
        if not ok.any():
            continue
        rs_vals.append(float(np.mean(rng[ok] / std[ok])))
        used.append(w)
    if len(used) < 3:
        return np.nan
    coef = np.polyfit(np.log(used), np.log(rs_vals), 1)
    return float(coef[0])


def dfa(ts: np.ndarray, order: int = 1) -> float:
    """Detrended fluctuation analysis exponent (nolds ``dfa`` approach,
    ``global_stats.py:723-767``): profile -> windowed polyfit detrend ->
    log-log slope of fluctuation vs window size."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 20:
        return np.nan
    y = np.cumsum(x - x.mean())
    sizes = np.unique(np.floor(np.logspace(np.log10(4), np.log10(n // 4), 15)).astype(int))
    flucts, used = [], []
    t = np.arange(n)
    for w in sizes:
        if w < order + 2:
            continue
        m = n // w
        if m < 2:
            continue
        segs = y[: m * w].reshape(m, w)
        tt = np.arange(w)
        # vectorized per-segment polyfit via vandermonde lstsq
        V = np.vander(tt, order + 1)
        coef, *_ = np.linalg.lstsq(V, segs.T, rcond=None)
        detr = segs.T - V @ coef
        f = np.sqrt(np.mean(detr**2, axis=0))
        flucts.append(float(np.mean(f)))
        used.append(w)
    if len(used) < 3:
        return np.nan
    coef = np.polyfit(np.log(used), np.log(flucts), 1)
    return float(coef[0])


# ---------------------------------------------------------------------------
# Statistical tests (reference: stat_tests.py) — numpy re-derivations
# ---------------------------------------------------------------------------

def _gammainc_upper_reg(s: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(s,x) via series/continued
    fraction (Numerical Recipes construction) — powers the chi2 sf."""
    if x < 0 or s <= 0:
        return np.nan
    if x == 0:
        return 1.0
    if x < s + 1:
        # lower series
        term = 1.0 / s
        total = term
        a = s
        for _ in range(500):
            a += 1
            term *= x / a
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        p = total * math.exp(-x + s * math.log(x) - math.lgamma(s))
        return 1.0 - p
    # continued fraction for upper
    tiny = 1e-300
    b = x + 1 - s
    c = 1 / tiny
    d = 1 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - s)
        b += 2
        d = an * d + b
        d = tiny if abs(d) < tiny else d
        c = b + an / c
        c = tiny if abs(c) < tiny else c
        d = 1 / d
        delta = d * c
        h *= delta
        if abs(delta - 1) < 1e-15:
            break
    return h * math.exp(-x + s * math.log(x) - math.lgamma(s))


def chi2_sf(x: float, df: float) -> float:
    """Chi-squared survival function P(X > x)."""
    return _gammainc_upper_reg(df / 2.0, x / 2.0)


def ljung_box(ts: np.ndarray, max_lags: int = 16) -> tuple[np.ndarray, np.ndarray]:
    """Ljung-Box Q statistics and p-values for lags 1..max_lags
    (statsmodels ``acorr_ljungbox`` formula, used at
    ``stat_tests.py:72-124``): Q_h = n(n+2) Σ_{k≤h} acf_k²/(n−k)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    max_lags = min(max_lags, n - 2)
    a = acf(x, nlags=max_lags, adjusted=False)
    k = np.arange(1, max_lags + 1)
    q = n * (n + 2) * np.cumsum(a**2 / (n - k))
    p = np.array([chi2_sf(qi, df) for qi, df in zip(q, k)])
    return q, p


def durbin_watson(x: np.ndarray) -> float:
    """DW statistic Σ(Δx)²/Σx² (statsmodels ``durbin_watson``; the
    reference scales /4 at ``stat_tests.py:29-69``)."""
    x = np.asarray(x, dtype=float)
    return float(np.sum(np.diff(x) ** 2) / np.sum(x * x))


# ---------------------------------------------------------------------------
# Stateful recurrences (reference: general.py — inherently sequential)
# ---------------------------------------------------------------------------

def walker_path(ts: np.ndarray, step_size: float = 0.1,
                start_point: float | None = None) -> np.ndarray:
    """Particle attracted to the series: w_i = w_{i−1} + s·(ts_{i−1} −
    w_{i−1}) — reference kernel ``general.py:298-333``."""
    x = np.asarray(ts, dtype=float)
    w = np.empty(x.size)
    w[0] = x.mean() if start_point is None else start_point
    for i in range(1, x.size):
        w[i] = w[i - 1] + step_size * (x[i - 1] - w[i - 1])
    return w


def moving_threshold(ts_scaled: np.ndarray, rate_absorption: float = 0.1,
                     rate_decay: float = 0.1) -> np.ndarray:
    """Decaying threshold absorbing spikes (``general.py:1151-1241``):
    threshold decays each step, jumps to |x| on exceedance."""
    x = np.abs(np.asarray(ts_scaled, dtype=float))
    thr = np.empty(x.size)
    cur = 1.0
    for i, v in enumerate(x):
        if v > cur:
            cur = (1.0 + rate_absorption) * v
        else:
            cur = (1.0 - rate_decay) * cur
        thr[i] = cur
    return thr


# ---------------------------------------------------------------------------
# Rolling / tiled arrays (reference: local_stats.py; numpy oracle forms
# of the SQL-family operators in operators/local_stats.py)
# ---------------------------------------------------------------------------

def _rolling_windows(x: np.ndarray, w: int) -> np.ndarray:
    from numpy.lib.stride_tricks import sliding_window_view

    return sliding_window_view(x, w)


def _win_size(n: int, window_size: float = 0.1) -> int:
    """Reference window sizing: 0.1*n forced odd (_utils.py:36-67)."""
    w = max(3, int(np.ceil(window_size * n)))
    if w % 2 == 0:
        w += 1
    return min(w, n if n % 2 == 1 else n - 1)


def moving_stat(ts: np.ndarray, stat: str, window_size: float = 0.1,
                shift: bool = False) -> np.ndarray:
    """Centered rolling statistics on the z-scored series
    (local_stats.py:256-1278): full-frame values only (nan edges
    dropped, local_stats.py:113-173); ``shift`` -> |diff| of the stat."""
    x = np.asarray(ts, dtype=float)
    sd0 = x.std(ddof=0)
    x = (x - x.mean()) / sd0 if sd0 > 0 else x - x.mean()
    w = _win_size(x.size, window_size)
    if x.size < w:
        return np.array([])
    win = _rolling_windows(x, w)
    if stat == "avg":
        out = win.mean(axis=1)
    elif stat == "var":
        out = win.var(axis=1, ddof=1)
    elif stat == "sd":
        out = win.std(axis=1, ddof=1)
    elif stat == "skewness":
        n = w
        mu = win.mean(axis=1, keepdims=True)
        m2 = ((win - mu) ** 2).mean(axis=1)
        m3 = ((win - mu) ** 3).mean(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = m3 / m2**1.5 * ((n - 1) / n) ** 1.5
    elif stat == "kurtosis":
        n = w
        mu = win.mean(axis=1, keepdims=True)
        m2 = ((win - mu) ** 2).mean(axis=1)
        m4 = ((win - mu) ** 4).mean(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = m4 / m2**2 * (1 - 1 / n) ** 2 - 3
    elif stat == "acf":
        # rolling adjusted lag-1 ACF per window (local_stats.py:1031-1086)
        mu = win.mean(axis=1, keepdims=True)
        d = win - mu
        num = (d[:, :-1] * d[:, 1:]).sum(axis=1) / (w - 1)
        den = (d * d).sum(axis=1) / w
        with np.errstate(divide="ignore", invalid="ignore"):
            out = num / den
    elif stat == "gmean":
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(
                (win > 0).all(axis=1),
                np.exp(np.log(np.where(win > 0, win, 1.0)).mean(axis=1)),
                np.nan,
            )
    else:
        raise ValueError(f"unknown moving stat: {stat}")
    if shift:
        out = np.abs(np.diff(out))
    return out


def tiles(ts: np.ndarray, num_tiles: int = 16) -> list[np.ndarray]:
    return np.array_split(np.asarray(ts, dtype=float), num_tiles)


def lumpiness(ts: np.ndarray, num_tiles: int = 16) -> np.ndarray:
    """Tile variances ddof=1 (local_stats.py:1624-1681)."""
    return np.array([t.var(ddof=1) for t in tiles(ts, num_tiles) if t.size > 1])


def stability(ts: np.ndarray, num_tiles: int = 16) -> np.ndarray:
    """Tile means (local_stats.py:1684-1733)."""
    return np.array([t.mean() for t in tiles(ts, num_tiles) if t.size])


def local_extrema(ts: np.ndarray, num_tiles: int = 16) -> np.ndarray:
    """Per-tile max-|v| value (local_stats.py:1736-1788)."""
    return np.array(
        [t[np.argmax(np.abs(t))] for t in tiles(ts, num_tiles) if t.size]
    )


def local_range(ts: np.ndarray, num_tiles: int = 16) -> np.ndarray:
    """Per-tile ptp (local_stats.py:1791-1836)."""
    return np.array([np.ptp(t) for t in tiles(ts, num_tiles) if t.size])


# ---------------------------------------------------------------------------
# General-family kernels (reference: general.py)
# ---------------------------------------------------------------------------

def turning_points_flags(ts: np.ndarray, on_diff: bool = False) -> np.ndarray:
    """(general.py:398-458): binary local-extrema flags."""
    x = np.diff(ts) if on_diff else np.asarray(ts, dtype=float)
    d1, d2 = x[1:-1] - x[:-2], x[2:] - x[1:-1]
    return ((d1 * d2) < 0).astype(float)


def step_changes_flags(ts: np.ndarray, on_diff: bool = False) -> np.ndarray:
    """(general.py:461-543): expanding-window |x−mean|>2sd flags."""
    x = np.diff(ts) if on_diff else np.asarray(ts, dtype=float)
    n = x.size
    out = np.zeros(max(0, n - 2))
    c1 = np.cumsum(x)
    c2 = np.cumsum(x * x)
    for i in range(2, n):
        m = c1[i - 1] / i
        var = (c2[i - 1] - c1[i - 1] ** 2 / i) / (i - 1)
        sd = math.sqrt(var) if var > 0 else 0.0
        out[i - 2] = 1.0 if abs(x[i] - m) > 2 * sd else 0.0
    return out


def stick_angles(ts: np.ndarray) -> np.ndarray:
    """(general.py:1478-1525): arctan of slopes between consecutive
    same-sign observations, both signs concatenated."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    angles = []
    for sign in (x >= 0, x < 0):
        idx = np.flatnonzero(sign)
        if idx.size > 1:
            slopes = (n - 1) * (x[idx[1:]] - x[idx[:-1]]) / (idx[1:] - idx[:-1])
            angles.append(np.arctan(slopes))
    return np.concatenate(angles) if angles else np.array([np.nan])


def spikiness(residuals: np.ndarray) -> np.ndarray:
    """Leave-one-out variances of residuals (global_stats.py:878-925),
    closed form from (n, Σx, Σx²) — O(n), no loop."""
    x = np.asarray(residuals, dtype=float)
    n = x.size
    if n < 3:
        return np.array([np.nan])
    s1, s2 = x.sum(), (x * x).sum()
    s1_i, s2_i = s1 - x, s2 - x * x
    return (s2_i - s1_i * s1_i / (n - 1)) / (n - 2)


def embed_in_shell(ts: np.ndarray, radii=(0.0, 1.0), dim: int = 2,
                   lag: int = 1) -> float:
    """Fraction of Takens-embedded points inside the hypershell
    (general.py:1244-1384), on the z-scored series."""
    x = np.asarray(ts, dtype=float)
    sd = x.std(ddof=0)
    x = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    emb = _embed(x, dim, lag)
    norms = np.sqrt((emb * emb).sum(axis=1))
    lo, hi = radii
    return float(np.mean((norms >= lo) & (norms <= hi)))


def ioe_stats(ts: np.ndarray, func, step_size: float = 0.05,
              max_it: int = 1024, differentiate: bool = False) -> np.ndarray:
    """Iterative-outlier-exclusion statistics (reference
    ``_utils.py:248-350`` calc_ioe_stats): raise an absolute-value
    threshold stepwise; at each step apply ``func`` to the (optionally
    differenced) indices of surviving outliers."""
    x = np.asarray(ts, dtype=float)
    sd = x.std(ddof=0)
    xs = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    ts_abs = np.abs(xs)
    min_abs, max_abs = ts_abs.min(), ts_abs.max()
    step = step_size * ts_abs.std(ddof=0)
    if step <= 0:
        return np.array([np.nan])
    n_it = min(max_it, int(np.ceil(max_abs / step)))
    out = []
    threshold = min_abs
    for _ in range(n_it):
        threshold += step
        steps = np.flatnonzero(ts_abs >= threshold)
        if steps.size <= 1:
            break
        d = np.diff(steps, int(differentiate))
        out.append(func(d))
    return np.asarray(out, dtype=float) if out else np.array([np.nan])


def boxcox_lambda(ts: np.ndarray) -> float:
    """MLE Box-Cox lambda via golden-section search on the profile
    log-likelihood (scipy boxcox_normmax(method='mle') semantics,
    global_stats.py:810-845); data shifted positive first."""
    x = np.asarray(ts, dtype=float)
    x = x - x.min() + 1e-4  # shift to positive (reference behavior)
    n = x.size
    logx = np.log(x)
    slogx = logx.sum()

    def negll(lmb: float) -> float:
        if abs(lmb) < 1e-12:
            y = logx
        else:
            y = (np.power(x, lmb) - 1) / lmb
        var = y.var(ddof=0)
        if var <= 0:
            return np.inf
        return 0.5 * n * math.log(var) - (lmb - 1) * slogx

    lo, hi = -5.0, 5.0
    gr = (math.sqrt(5) - 1) / 2
    a, b = lo, hi
    c, d = b - gr * (b - a), a + gr * (b - a)
    fc, fd = negll(c), negll(d)
    for _ in range(200):
        if fc < fd:
            b, d, fd = d, c, fc
            c = b - gr * (b - a)
            fc = negll(c)
        else:
            a, c, fc = c, d, fd
            d = a + gr * (b - a)
            fd = negll(d)
        if abs(b - a) < 1e-10:
            break
    return float((a + b) / 2)


# ---------------------------------------------------------------------------
# Randomize / surrogate family (reference: randomize.py, _surrogates.py)
# Determinism: np.random.seed per call, matching the reference's global
# seeding (tsmfe.py:272-274); engine derives seed per (conv_id, feature)
# ---------------------------------------------------------------------------

def itrand_stat(ts: np.ndarray, func, strategy: str = "dist-dynamic",
                prop_rep: float = 2, prop_interval: float = 0.1,
                random_state: int | None = None) -> np.ndarray:
    """Iterative-perturbation statistic trajectory (randomize.py:174-312)."""
    x = np.asarray(ts, dtype=float)
    sd = x.std(ddof=0)
    xs = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    rep_it = int(np.ceil(prop_interval * xs.size))
    num_it = int(np.ceil(prop_rep * xs.size))
    num_it += num_it % rep_it
    res = np.zeros(1 + num_it // rep_it)
    ts_rnd = np.copy(xs)
    ts_src = xs if strategy == "dist-static" else ts_rnd
    swap = strategy == "permute"
    if random_state is not None:
        np.random.seed(random_state)
    inds = np.random.randint(xs.size, size=(num_it, 2))
    stat_ind = 0
    for it, (a, b) in enumerate(inds):
        if swap:
            ts_rnd[a], ts_src[b] = ts_src[b], ts_rnd[a]
        else:
            ts_rnd[a] = ts_src[b]
        if it % rep_it == 0:
            res[stat_ind] = func(ts_rnd)
            stat_ind += 1
    return res


def iaaft(ts: np.ndarray, max_iter: int = 128, atol: float = 1e-8,
          rtol: float = 1e-10, random_state: int | None = None) -> np.ndarray:
    """IAAFT surrogate (reference ``_surrogates.py:8-82``, itself adapted
    from the public nolitsa package): iterative amplitude-adjusted
    Fourier transform preserving amplitude spectrum + value distribution."""
    x = np.asarray(ts, dtype=float)
    ampl = np.abs(np.fft.rfft(x))
    sort = np.sort(x)
    err_prev, err_cur = -1.0, atol + 1
    if random_state is not None:
        np.random.seed(random_state)
    ts_fft = np.fft.rfft(np.random.permutation(x))
    ts_sur = x
    for _ in range(max_iter):
        s = np.fft.irfft(ampl * ts_fft / (1e-8 + np.abs(ts_fft)), n=x.size).real
        ts_sur = sort[np.argsort(np.argsort(s))]
        ts_fft = np.fft.rfft(ts_sur)
        err_cur = math.sqrt(float(np.mean((ampl**2 - np.abs(ts_fft) ** 2) ** 2)))
        if abs(err_cur - err_prev) <= atol + rtol * abs(err_prev):
            break
        err_prev = err_cur
    return ts_sur


#: per-worker memo of the last IAAFT surrogate SET: surr_trev and
#: surr_tc3 consume the same 32 surrogates of the same series (their
#: seeds are aliased to one derivation in operators/arrow_kernels.py),
#: and each surrogate costs up to 128 FFT iterations — generating the
#: set once halves the surrogate-family cost (round-4, same memo
#: pattern as _GP_CACHE / the shared Holt fits).  Keyed by every
#: parameter that shapes the draw; callers must not mutate results.
_IAAFT_CACHE: dict[tuple, list[np.ndarray]] = {}


def iaaft_set(ts: np.ndarray, surrogate_num: int = 32, max_iter: int = 128,
              random_state: int | None = None,
              atol: float = 1e-8, rtol: float = 1e-10) -> list[np.ndarray]:
    """The ``surrogate_num`` IAAFT surrogates, seed incrementing per
    replica (reference ``_surrogates.py:154-158``); memoized, and
    iterated as a BATCH (round 4): all replicas evolve the same ops,
    so one (k, n) rfft/irfft per iteration replaces k 1-D transforms,
    and the rank step uses an O(n) scatter (argsort produces a unique
    permutation, so rank[order] = arange IS argsort(argsort(s)) —
    exactly).  Asserted bit-identical to the sequential ``iaaft`` loop
    in tests (2.2x measured on 32x512)."""
    x = np.asarray(ts, dtype=float)
    key = None
    if random_state is not None:
        # atol/rtol shape the convergence cut and therefore the draw —
        # they belong in the key (round-5 ADVICE; same class of bug as
        # the round-4 _GP_CACHE alpha/max_n fix)
        key = (x.tobytes(), surrogate_num, max_iter, random_state,
               float(atol), float(rtol))
        hit = _IAAFT_CACHE.get(key)
        if hit is not None:
            return hit
    k, n = surrogate_num, x.size
    ampl = np.abs(np.fft.rfft(x))
    sort = np.sort(x)
    perms = np.empty((k, n))
    for i in range(k):
        if random_state is not None:
            np.random.seed(random_state + i)
        perms[i] = np.random.permutation(x)
    ts_fft = np.fft.rfft(perms, axis=1)
    ts_sur = np.tile(x, (k, 1))
    err_prev = np.full(k, -1.0)
    active = np.ones(k, dtype=bool)
    ar = np.arange(n)
    rank = np.empty((k, n), dtype=np.intp)
    for _ in range(max_iter):
        idx = np.flatnonzero(active)
        if idx.size == 0:
            break
        s = np.fft.irfft(
            ampl * ts_fft[idx] / (1e-8 + np.abs(ts_fft[idx])), n=n, axis=1
        ).real
        order = np.argsort(s, axis=1)
        rk = rank[: idx.size]
        np.put_along_axis(rk, order, ar[None, :], axis=1)
        sur = sort[rk]
        ts_sur[idx] = sur
        f = np.fft.rfft(sur, axis=1)
        ts_fft[idx] = f
        err_cur = np.sqrt(np.mean((ampl**2 - np.abs(f) ** 2) ** 2, axis=1))
        conv = np.abs(err_cur - err_prev[idx]) <= atol + rtol * np.abs(
            err_prev[idx]
        )
        err_prev[idx] = err_cur
        active[idx[conv]] = False
    surr = [ts_sur[i] for i in range(k)]
    if key is not None:
        if len(_IAAFT_CACHE) >= 4:
            _IAAFT_CACHE.pop(next(iter(_IAAFT_CACHE)))
        _IAAFT_CACHE[key] = surr
    return surr


def surrogate_stat(ts: np.ndarray, func, surrogate_num: int = 32,
                   max_iter: int = 128, random_state: int | None = None) -> np.ndarray:
    """Apply ``func`` on IAAFT surrogates (memoized set — see iaaft_set)."""
    surr = iaaft_set(ts, surrogate_num, max_iter, random_state)
    return np.asarray([func(s) for s in surr], dtype=float)


def resample_stat(ts: np.ndarray, func, num_samples: int = 64,
                  sample_frac: float = 0.1,
                  random_state: int | None = None) -> np.ndarray:
    """Statistic over random contiguous subsamples
    (randomize.py:604-761, sampler ``_utils.py:353-415``)."""
    x = np.asarray(ts, dtype=float)
    m = max(2, int(np.ceil(sample_frac * x.size)))
    if random_state is not None:
        np.random.seed(random_state)
    starts = np.random.randint(0, x.size - m + 1, size=num_samples)
    return np.asarray([func(x[s : s + m]) for s in starts], dtype=float)


def trev_stat(ts: np.ndarray, lag: int = 1) -> float:
    d = ts[lag:] - ts[:-lag]
    m2 = np.mean(d**2)
    return float(np.mean(d**3) / m2**1.5) if m2 > 0 else np.nan


def tc3_stat(ts: np.ndarray, lag: int = 1) -> float:
    x = ts[: -2 * lag] if lag > 0 else ts
    x1 = ts[lag : ts.size - lag]
    x2 = ts[2 * lag :]
    den = abs(np.mean(ts[:-lag] * ts[lag:])) ** 1.5
    return float(np.mean(x * x1 * x2) / den) if den > 0 else np.nan


# ---------------------------------------------------------------------------
# Normal distribution helpers (erf-based; scipy unavailable)
# ---------------------------------------------------------------------------

def norm_cdf(x: np.ndarray) -> np.ndarray:
    from math import erf

    xa = np.atleast_1d(np.asarray(x, dtype=float))
    out = np.array([0.5 * (1.0 + erf(v / math.sqrt(2.0))) for v in xa])
    return out if np.ndim(x) else float(out[0])


# ---------------------------------------------------------------------------
# Statistical tests (reference: stat_tests.py) — numpy re-derivations
# of the published test constructions
# ---------------------------------------------------------------------------

def _ols(X: np.ndarray, y: np.ndarray):
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    dof = X.shape[0] - X.shape[1]
    sigma2 = float(resid @ resid) / max(dof, 1)
    XtX_inv = np.linalg.pinv(X.T @ X)
    se = np.sqrt(np.maximum(np.diag(XtX_inv) * sigma2, 0.0))
    return beta, se, resid


def adf_stat(ts: np.ndarray, max_lags: int | None = None) -> float:
    """Augmented Dickey-Fuller t-statistic, constant-only regression
    (statsmodels ``adfuller`` construction used at stat_tests.py:176-223):
    Δx_t = a + γ·x_{t−1} + Σ φ_i Δx_{t−i} + e; returns t(γ).
    Lag order: Schwert rule 12·(n/100)^0.25 then BIC selection is
    approximated by the fixed Schwert maximum (documented divergence)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 12:
        return np.nan
    if max_lags is None:
        max_lags = min(int(np.ceil(12.0 * (n / 100.0) ** 0.25)), n // 2 - 2)
    d = np.diff(x)
    k = max_lags
    rows = d.size - k
    y = d[k:]
    cols = [np.ones(rows), x[k:-1]]
    for i in range(1, k + 1):
        cols.append(d[k - i : d.size - i])
    X = np.column_stack(cols)
    beta, se, _ = _ols(X, y)
    return float(beta[1] / se[1]) if se[1] > 0 else np.nan


#: MacKinnon (2010) asymptotic critical values, constant-only ADF
_ADF_CRIT = {0.01: -3.43, 0.05: -2.86, 0.10: -2.57}


def adf_pvalue_approx(t_stat: float) -> float:
    """Coarse p-value by log-linear interpolation over the MacKinnon
    asymptotic critical values (exact mackinnonp polynomial not
    vendored; the statistic itself is the fixture contract)."""
    if not np.isfinite(t_stat):
        return np.nan
    pts = sorted(_ADF_CRIT.items(), key=lambda kv: kv[1])  # by crit value
    cs = [c for _, c in pts]
    ps = [p for p, _ in pts]
    if t_stat <= cs[0]:
        return ps[0]
    if t_stat >= cs[-1]:
        return min(1.0, ps[-1] + 0.45 * (t_stat - cs[-1]))
    for (p1, c1), (p2, c2) in zip(pts[:-1], pts[1:]):
        if c1 <= t_stat <= c2:
            w = (t_stat - c1) / (c2 - c1)
            return p1 + w * (p2 - p1)
    return np.nan


def kpss_stat(ts: np.ndarray, regression: str = "c") -> float:
    """KPSS statistic (level-stationarity, Newey-West bartlett long-run
    variance with the statsmodels legacy lag rule int(12·(n/100)^0.25)) —
    reference stat_tests.py:332-380 (arch.unitroot.KPSS)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 12:
        return np.nan
    if regression == "ct":
        t = np.arange(n, dtype=float)
        X = np.column_stack([np.ones(n), t])
        _, _, e = _ols(X, x)
    else:
        e = x - x.mean()
    s = np.cumsum(e)
    lags = int(np.ceil(12.0 * (n / 100.0) ** 0.25))
    gamma0 = float(e @ e) / n
    lrv = gamma0
    for k in range(1, lags + 1):
        w = 1.0 - k / (lags + 1.0)
        lrv += 2.0 * w * float(e[:-k] @ e[k:]) / n
    if lrv <= 0:
        return np.nan
    return float(s @ s / (n * n * lrv))


def arch_lm_stat(ts: np.ndarray, nlags: int = 12) -> tuple[float, float]:
    """Engle ARCH-LM (statsmodels het_arch construction,
    stat_tests.py:127-173): regress x² on its own lags; LM = n·R²,
    p-value from chi2(nlags)."""
    x = np.asarray(ts, dtype=float)
    x2 = (x - x.mean()) ** 2
    n = x2.size
    nlags = min(nlags, n // 2 - 1)
    if nlags < 1:
        return np.nan, np.nan
    rows = n - nlags
    y = x2[nlags:]
    X = np.column_stack(
        [np.ones(rows)] + [x2[nlags - i : n - i] for i in range(1, nlags + 1)]
    )
    beta, _, resid = _ols(X, y)
    ss_res = float(resid @ resid)
    ss_tot = float(((y - y.mean()) ** 2).sum())
    r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else 0.0
    lm = rows * r2
    return float(lm), chi2_sf(lm, nlags)


def lilliefors_stat(ts: np.ndarray, dist: str = "norm") -> float:
    """Lilliefors KS statistic with estimated parameters
    (statsmodels lilliefors, stat_tests.py:425-480): sup|F̂ − F|
    against normal (mean, sd ddof=1) or exponential (mean)."""
    x = np.sort(np.asarray(ts, dtype=float))
    n = x.size
    if n < 4:
        return np.nan
    if dist == "norm":
        sd = x.std(ddof=1)
        if sd == 0:
            return np.nan
        cdf = norm_cdf((x - x.mean()) / sd)
    elif dist == "exp":
        mu = x.mean()
        if mu <= 0:
            return np.nan
        cdf = 1.0 - np.exp(-x / mu)
    else:
        raise ValueError(dist)
    ecdf_hi = np.arange(1, n + 1) / n
    ecdf_lo = np.arange(0, n) / n
    return float(max(np.max(ecdf_hi - cdf), np.max(cdf - ecdf_lo)))


# ---------------------------------------------------------------------------
# Model-based features (reference: model_based.py)
# ---------------------------------------------------------------------------

def nelder_mead(f, x0: np.ndarray, max_iter: int = 400, tol: float = 1e-8) -> np.ndarray:
    """Deterministic Nelder-Mead simplex minimizer (scipy stand-in for
    the smoothing-parameter MLE fits)."""
    x0 = np.asarray(x0, dtype=float)
    k = x0.size
    simplex = [x0]
    for i in range(k):
        p = x0.copy()
        p[i] = p[i] + (0.05 if p[i] != 0 else 0.00025)
        simplex.append(p)
    simplex = np.array(simplex)
    fv = np.array([f(p) for p in simplex])
    for _ in range(max_iter):
        order = np.argsort(fv)
        simplex, fv = simplex[order], fv[order]
        if abs(fv[-1] - fv[0]) < tol:
            break
        centroid = simplex[:-1].mean(axis=0)
        xr = centroid + (centroid - simplex[-1])
        fr = f(xr)
        if fr < fv[0]:
            xe = centroid + 2.0 * (centroid - simplex[-1])
            fe = f(xe)
            simplex[-1], fv[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fv[-2]:
            simplex[-1], fv[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (simplex[-1] - centroid)
            fc = f(xc)
            if fc < fv[-1]:
                simplex[-1], fv[-1] = xc, fc
            else:
                for i in range(1, k + 1):
                    simplex[i] = simplex[0] + 0.5 * (simplex[i] - simplex[0])
                    fv[i] = f(simplex[i])
    return simplex[np.argmin(fv)]


def _clip01(v: float) -> float:
    return min(1.0 - 1e-6, max(1e-6, v))


#: per-worker memos: des_level/des_trend consume ONE Holt fit and
#: ets_level/trend/season ONE Holt-Winters fit, but each registry
#: feature calls the fitter independently — the same consecutive-
#: caller pattern (and fix) as the GP cache above.
_DES_CACHE: dict[bytes, tuple[float, float]] = {}
_ETS_CACHE: dict[tuple[bytes, int], tuple[float, float, float]] = {}


def des_params(ts: np.ndarray) -> tuple[float, float]:
    """Holt double-exponential-smoothing (alpha, beta) by SSE
    minimization (reference model_based.py:294-344 via statsmodels
    Holt().fit()).  Memoized per series."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 5:
        return np.nan, np.nan
    key = x.tobytes()
    hit = _DES_CACHE.get(key)
    if hit is not None:
        return hit

    def sse(p):
        a, b = _clip01(p[0]), _clip01(p[1])
        lvl, tr = x[0], x[1] - x[0]
        s = 0.0
        for t in range(1, n):
            pred = lvl + tr
            e = x[t] - pred
            s += e * e
            new_lvl = a * x[t] + (1 - a) * (lvl + tr)
            tr = b * (new_lvl - lvl) + (1 - b) * tr
            lvl = new_lvl
        return s

    a, b = nelder_mead(sse, np.array([0.3, 0.1]))
    out = (_clip01(a), _clip01(b))
    if len(_DES_CACHE) >= 8:
        _DES_CACHE.clear()
    _DES_CACHE[key] = out
    return out


def ets_params(ts: np.ndarray, period: int) -> tuple[float, float, float]:
    """Holt-Winters additive (alpha, beta, gamma) by SSE minimization
    (reference model_based.py:346-413 via ExponentialSmoothing).
    Memoized per (series, period)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    m = int(period)
    if m < 2 or n < 2 * m + 2:
        return np.nan, np.nan, np.nan
    key = (x.tobytes(), m)
    hit = _ETS_CACHE.get(key)
    if hit is not None:
        return hit
    seas0 = x[:m] - x[:m].mean()

    def sse(p):
        a, b, g = (_clip01(v) for v in p)
        lvl = x[:m].mean()
        tr = (x[m : 2 * m].mean() - lvl) / m
        seas = seas0.copy()
        s = 0.0
        for t in range(m, n):
            pred = lvl + tr + seas[t % m]
            e = x[t] - pred
            s += e * e
            new_lvl = a * (x[t] - seas[t % m]) + (1 - a) * (lvl + tr)
            tr = b * (new_lvl - lvl) + (1 - b) * tr
            seas[t % m] = g * (x[t] - new_lvl) + (1 - g) * seas[t % m]
            lvl = new_lvl
        return s

    a, b, g = nelder_mead(sse, np.array([0.3, 0.05, 0.1]))
    out = (_clip01(a), _clip01(b), _clip01(g))
    if len(_ETS_CACHE) >= 8:
        _ETS_CACHE.clear()
    _ETS_CACHE[key] = out
    return out


def orthopoly_features(ts: np.ndarray) -> tuple[float, float]:
    """(linearity, curvature): 1st/2nd orthogonal-polynomial OLS
    coefficients of the trend component (reference model_based.py:794-893,
    orthopoly construction _orthopoly.py:5-40 — QR of vandermonde)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 4:
        return np.nan, np.nan
    t = np.arange(n, dtype=float)
    V = np.vander(t, 3, increasing=True)
    Q, _ = np.linalg.qr(V)
    beta, *_ = np.linalg.lstsq(Q, x, rcond=None)
    return float(beta[1]), float(beta[2])


def ar2_cycle_period(ts: np.ndarray) -> float:
    """ft_avg_cycle_period (model_based.py:896-940): fit AR(2) by OLS;
    cycle period 2π/arccos(−φ₁(1−φ₂)/(4φ₂)) when complex roots exist,
    nan otherwise."""
    x = np.asarray(ts, dtype=float)
    x = x - x.mean()
    n = x.size
    if n < 8:
        return np.nan
    X = np.column_stack([x[1:-1], x[:-2]])
    y = x[2:]
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    p1, p2 = float(beta[0]), float(beta[1])
    if p2 >= 0 or p1 * p1 + 4 * p2 >= 0:
        return np.nan
    arg = -p1 * (1 - p2) / (4 * p2)
    if not -1 <= arg <= 1:
        return np.nan
    return float(2 * math.pi / math.acos(arg))


def ioe_std_linreg(ts: np.ndarray, step_size: float = 0.05) -> tuple[float, float]:
    """(slope, adjusted R²) of OLS of IOE stddevs on thresholds
    (reference model_based.py:1002-1127, fit :225-292)."""
    stds = ioe_stats(ts, lambda d: np.std(d, ddof=1) if d.size > 1 else np.nan,
                     step_size=step_size, differentiate=True)
    stds = stds[np.isfinite(stds)]
    m = stds.size
    if m < 3:
        return np.nan, np.nan
    t = np.arange(m, dtype=float)
    X = np.column_stack([np.ones(m), t])
    beta, _, resid = _ols(X, stds)
    ss_res = float(resid @ resid)
    ss_tot = float(((stds - stds.mean()) ** 2).sum())
    if ss_tot <= 0:
        return float(beta[1]), np.nan
    r2 = 1 - ss_res / ss_tot
    adj = 1 - (1 - r2) * (m - 1) / (m - 2)
    return float(beta[1]), float(adj)


# ---------------------------------------------------------------------------
# Embedding family (reference: _embed.py + general.py)
# ---------------------------------------------------------------------------

def emb_lag(ts: np.ndarray, max_nlags: int | None = None) -> int:
    """Embedding lag via first nonpos ACF (reference default criterion,
    general.py:1528-1612 / _embed.py:346-455)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if max_nlags is None:
        max_nlags = max(1, n // 2)
    a = acf(x, nlags=max_nlags, adjusted=True)
    v = first_acf_nonpos(a)
    return int(v) if np.isfinite(v) else 1


def cao_e1_e2(ts: np.ndarray, lag: int = 1, dims: int = 16,
              max_n: int = 512) -> tuple[np.ndarray, np.ndarray]:
    """Cao's E1/E2 embedding-dimension statistics (reference
    _embed.py:229-343; Cao 1997 construction): Chebyshev
    nearest-neighbor ratios across consecutive dimensions."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    sd = x.std(ddof=0)
    x = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    n = x.size
    e_vals, estar_vals = [], []
    # Chebyshev distance over a (d+1)-dim embedding = max(distance over
    # the d-dim embedding, |new-coordinate diff|), so the m×m distance
    # matrix is UPDATED per dimension at O(m²) instead of rebuilt from
    # an O(m²·d) broadcast tensor — ~dims× less compute and allocation
    # on this O(n²) kernel (the engine's measured hot spot).
    D = None
    ar = None
    for d in range(1, dims + 1):
        m = n - d * lag  # rows of emb_{d+1}
        if m < 3:
            break
        v_new = x[(d - 1) * lag : (d - 1) * lag + m]
        if D is None:
            D = np.abs(np.subtract.outer(v_new, v_new))
        else:
            D = np.maximum(D[:m, :m],
                           np.abs(np.subtract.outer(v_new, v_new)))
        ar = np.arange(m)
        np.fill_diagonal(D, np.inf)
        nn = np.argmin(D, axis=1)
        dn = D[ar, nn]
        np.fill_diagonal(D, 0.0)  # restore (diagonal distance is 0)
        dn = np.where(dn == 0, 1e-12, dn)
        # (d+1)-dim distance to the d-dim NN: max of the d-dim distance
        # and the appended coordinate's diff (== max over emb_d1 coords)
        v_next = x[d * lag : d * lag + m]
        dist_d1 = np.maximum(D[ar, nn], np.abs(v_next - v_next[nn]))
        e_vals.append(float(np.mean(dist_d1 / dn)))
        estar_vals.append(float(np.mean(np.abs(v_next - v_next[nn]))))
    e = np.asarray(e_vals)
    estar = np.asarray(estar_vals)
    e1 = e[1:] / e[:-1] if e.size > 1 else np.array([np.nan])
    e2 = estar[1:] / estar[:-1] if estar.size > 1 else np.array([np.nan])
    return e1, e2


def emb_dim_cao(ts: np.ndarray, lag: int = 1, dims: int = 16,
                threshold: float = 0.95) -> float:
    """Embedding dimension: first d where E1 exceeds threshold
    (general.py:1615-1752)."""
    e1, _ = cao_e1_e2(ts, lag, dims)
    idx = np.flatnonzero(e1 >= threshold)
    return float(idx[0] + 1) if idx.size else float(dims)


def fnn_prop(ts: np.ndarray, lag: int = 1, dims: int = 8,
             rtol: float = 10.0, atol: float = 2.0,
             max_n: int = 512) -> np.ndarray:
    """False-nearest-neighbor proportion per dimension (reference
    _embed.py:93-226; Kennel et al. 1992 criteria)."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    sd_all = x.std(ddof=0)
    n = x.size
    out = []
    # Same incremental-update trick as cao_e1_e2, on SQUARED euclidean
    # distances: D²(d+1) = D²(d) + (new-coordinate diff)² — O(m²) per
    # dimension instead of an O(m²·d) broadcast tensor.  argmin over D²
    # equals argmin over D (sqrt is monotone), and rd = sqrt(D²) is the
    # same accumulation order as the former sum(axis=2).
    D2 = None
    for d in range(1, dims + 1):
        m = n - d * lag  # rows of emb_{d+1}
        if m < 3:
            out.append(np.nan)
            continue
        v_new = x[(d - 1) * lag : (d - 1) * lag + m]
        diff = np.subtract.outer(v_new, v_new)
        if D2 is None:
            D2 = diff * diff
        else:
            D2 = D2[:m, :m] + diff * diff
        ar = np.arange(m)
        np.fill_diagonal(D2, np.inf)
        nn = np.argmin(D2, axis=1)
        rd = np.sqrt(D2[ar, nn])
        np.fill_diagonal(D2, 0.0)  # restore (diagonal distance is 0)
        rd = np.where(rd == 0, 1e-12, rd)
        # the appended (d+1)-th coordinate is the most-recent one =
        # column 0 of emb_{d+1}: x[d·lag + i]
        v_next = x[d * lag : d * lag + m]
        new_coord = np.abs(v_next - v_next[nn])
        crit1 = new_coord / rd > rtol
        rdd1 = np.sqrt(rd**2 + new_coord**2)
        crit2 = rdd1 / (sd_all if sd_all > 0 else 1.0) > atol
        out.append(float(np.mean(crit1 | crit2)))
    return np.asarray(out)


def force_potential(ts: np.ndarray, potential: str = "sine",
                    params: tuple[float, float, float] = (1.0, 1.0, 0.1),
                    start_point: tuple[float, float] | None = None) -> np.ndarray:
    """Leapfrog particle driven by the series in a sine/double-well
    potential (general.py:1387-1475): returns the particle path."""
    x = np.asarray(ts, dtype=float)
    sd = x.std(ddof=0)
    xs = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    alpha, fric, dt = params
    if potential == "sine":
        force = lambda p: -alpha * np.sin(p / alpha)
    else:  # dblwell
        force = lambda p: -4 * p**3 + alpha * alpha * 2 * p
    n = xs.size
    pos = np.empty(n)
    p = xs[0] if start_point is None else start_point[0]
    v = 0.0 if start_point is None else start_point[1]
    for i in range(n):
        a = force(p) + xs[i] - fric * v
        v = v + dt * a
        p = p + dt * v
        pos[i] = p
        if not np.isfinite(p):
            pos[i:] = np.nan
            break
    return pos


def surprise(ts: np.ndarray, num_bins: int = 10, memory_size: float = 0.1,
             num_it: int = 128, strategy: str = "distribution",
             diff_order: int = 1, epsilon: float = 1e-10,
             random_state: int | None = None) -> np.ndarray:
    """ft_surprise (info_theory.py:991-1166): −log P(bin(value) | recent
    memory) of the DIFFERENCED series at randomly sampled reference
    points, equiprobable binning; zero probabilities map to surprise 0
    (reference: ``probs[probs < epsilon] = 1.0``)."""
    x = np.diff(np.asarray(ts, dtype=float), n=diff_order)
    n = x.size
    mem = max(2, int(np.ceil(memory_size * n)))
    # equiprobable discretization (_utils.discretize 'equiprobable')
    ranks = np.argsort(np.argsort(x, kind="stable"), kind="stable")
    sym = (ranks * num_bins // n).astype(int)
    if random_state is not None:
        np.random.seed(random_state)
    if n - mem > num_it:
        inds = mem + np.random.choice(n - mem, size=num_it, replace=False)
    else:
        inds = np.arange(mem, n)
    probs = np.zeros(inds.size)
    for j, i in enumerate(inds):
        window = sym[i - mem : i]
        if strategy == "distribution":
            probs[j] = np.mean(window == sym[i])
        else:  # "1-transition": matches of the memory's last value
            prev = window[-1]
            hits = np.flatnonzero(window[:-1] == prev)
            eq = window[hits + 1] == sym[i]
            probs[j] = np.mean(eq) if eq.size else 0.0
    probs[probs < epsilon] = 1.0
    return -np.log(probs)


def moving_kldiv(ts: np.ndarray, window_size: float = 0.1,
                 num_bins: int = 10) -> np.ndarray:
    """KL divergence of adjacent windows' histograms
    (local_stats.py:1281-1448), density-normalized, nan where undefined."""
    x = np.asarray(ts, dtype=float)
    sd = x.std(ddof=0)
    xs = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    w = _win_size(xs.size, window_size)
    if xs.size < 2 * w:
        return np.array([np.nan])
    lo, hi = xs.min(), xs.max()
    bins = np.linspace(lo, hi, num_bins + 1)
    out = []
    for i in range(xs.size - 2 * w + 1):
        a = xs[i : i + w]
        b = xs[i + w : i + 2 * w]
        pa, _ = np.histogram(a, bins=bins, density=True)
        pb, _ = np.histogram(b, bins=bins, density=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            terms = pb * np.log(pb / pa)
        valid = np.isfinite(terms)
        out.append(float(terms[valid].sum()) if valid.any() else np.nan)
    return np.asarray(out)


def moving_lilliefors(ts: np.ndarray, window_size: float = 0.1) -> np.ndarray:
    """Rolling Lilliefors normality statistic (local_stats.py:1451-1525)."""
    x = np.asarray(ts, dtype=float)
    w = _win_size(x.size, window_size)
    if x.size < w:
        return np.array([np.nan])
    wins = _rolling_windows(x, w)
    return np.asarray([lilliefors_stat(win) for win in wins])


def peak_trough_frac(ts: np.ndarray, period: int, which: str = "peak") -> float:
    """ft_peak_frac / ft_trough_frac (general.py:855-992): mode of the
    argmax/argmin position within each full seasonal period, as a
    fraction of the period.

    Round-4 decision: the reference's EXECUTED code returns
    ``mode_index + 1`` (general.py:296, converting numpy's 0-based
    argmax to the 1-based ``which.max`` convention of the cited R
    tsfeatures package) while its docstring describes 0-based.  Golden
    parity targets executed behavior, so we add 1 — mirrored in the
    SQL form (operators/sequence.py) and the DuckDB oracle."""
    x = np.asarray(ts, dtype=float)
    p = int(period)
    if p < 2 or x.size < 2 * p:
        return np.nan
    m = x.size // p
    chunks = x[: m * p].reshape(m, p)
    pos = np.argmax(chunks, axis=1) if which == "peak" else np.argmin(chunks, axis=1)
    counts = np.bincount(pos, minlength=p)
    return float(np.argmax(counts) + 1) / p


# ---------------------------------------------------------------------------
# Chaos / nonlinear dynamics (reference: global_stats.py via nolds)
# ---------------------------------------------------------------------------

def corr_dim(ts: np.ndarray, emb_dim: int = 2, lag: int = 1,
             max_n: int = 512) -> float:
    """Grassberger-Procaccia correlation dimension (nolds ``corr_dim``
    approach, global_stats.py:770-807): slope of log C(r) vs log r over
    log-spaced radii of pairwise embedding distances."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    sd = x.std(ddof=0)
    if sd == 0:
        return np.nan
    x = (x - x.mean()) / sd
    emb = _embed(x, emb_dim, lag)
    m = emb.shape[0]
    if m < 16:
        return np.nan
    d = np.sqrt(((emb[:, None, :] - emb[None, :, :]) ** 2).sum(axis=2))
    iu = np.triu_indices(m, k=1)
    dists = d[iu]
    dists = dists[dists > 0]
    if dists.size < 16:
        return np.nan
    rs = np.logspace(
        np.log10(np.percentile(dists, 3)), np.log10(np.percentile(dists, 50)), 12
    )
    cs = np.array([np.mean(dists < r) for r in rs])
    ok = cs > 0
    if ok.sum() < 3:
        return np.nan
    coef = np.polyfit(np.log(rs[ok]), np.log(cs[ok]), 1)
    return float(coef[0])


def max_lyap(ts: np.ndarray, emb_dim: int = 10, lag: int = 1,
             min_tsep: int | None = None, trajectory_len: int = 20,
             max_n: int = 512) -> float:
    """Largest Lyapunov exponent, Rosenstein et al. (1993) method
    (nolds ``lyap_r`` approach, global_stats.py:644-688): mean log
    divergence of nearest trajectories vs time, least-squares slope."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    sd = x.std(ddof=0)
    if sd == 0:
        return np.nan
    x = (x - x.mean()) / sd
    emb = _embed(x, emb_dim, lag)
    m = emb.shape[0]
    if min_tsep is None:
        min_tsep = max(1, m // 10)
    if m < min_tsep + trajectory_len + 2:
        return np.nan
    # per-dimension accumulation (round 4, same trick as the r3 cao
    # rewrite): the (m, m, emb_dim) broadcast temporary is ~200 MB at
    # m~500/dim=10 and thrashes the cache.  The accumulation ORDER
    # differs from sum(axis=2) (numpy's pairwise summation trees even
    # 8-128-long axes), so individual distances agree only to ~1 ulp,
    # NOT bit-identically; the end value is equivalent because the
    # argmin neighbor choice is insensitive to ulp noise on non-tied
    # data, and everything after argmin reads ``emb`` directly.
    # Tests assert allclose on the distance matrices plus argmin
    # equality (round-5 ADVICE correction of the r4 bit-identity claim).
    d2 = np.zeros((m, m))
    for _k in range(emb.shape[1]):
        c = emb[:, _k]
        d2 += (c[:, None] - c[None, :]) ** 2
    d = np.sqrt(d2)
    idx = np.arange(m)
    band = np.abs(idx[:, None] - idx[None, :]) <= min_tsep
    d[band] = np.inf
    nn = np.argmin(d, axis=1)
    usable = m - trajectory_len
    logs = []
    for k in range(trajectory_len):
        i = np.arange(usable)
        j = nn[:usable]
        valid = j + k < m
        di = np.sqrt(((emb[i[valid] + k] - emb[j[valid] + k]) ** 2).sum(axis=1))
        di = di[di > 0]
        if di.size == 0:
            logs.append(np.nan)
        else:
            logs.append(float(np.mean(np.log(di))))
    logs = np.asarray(logs)
    ok = np.isfinite(logs)
    if ok.sum() < 3:
        return np.nan
    coef = np.polyfit(np.arange(trajectory_len)[ok], logs[ok], 1)
    return float(coef[0])


def ami_curvature(ts: np.ndarray, noise_range=(0.0, 3.0), num_noise: int = 10,
                  lag: int = 1, num_bins: int = 64,
                  random_state: int | None = None) -> float:
    """ft_ami_curvature (info_theory.py:625-761): OLS slope of AMI(lag)
    of the series under iteratively amplified gaussian noise."""
    x = np.asarray(ts, dtype=float)
    sd = x.std(ddof=0)
    xs = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    if random_state is not None:
        np.random.seed(random_state)
    noise = np.random.randn(xs.size)
    scales = np.linspace(*noise_range, num_noise)
    amis = np.array([
        ami(xs + s * noise, [lag], num_bins=num_bins)[0] for s in scales
    ])
    X = np.column_stack([np.ones(num_noise), scales])
    beta, *_ = np.linalg.lstsq(X, amis, rcond=None)
    return float(beta[1])


def pred_dvv(ts: np.ndarray, emb_dim: int = 3, lag: int = 1,
             num_spans: int = 10, max_n: int = 400) -> np.ndarray:
    """ft_pred delay-vector-variance predictability (general.py:546-699):
    mean variance of targets whose delay vectors fall within growing
    distance spans, normalized by series variance."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    sd = x.std(ddof=0)
    if sd == 0:
        return np.array([np.nan])
    xs = (x - x.mean()) / sd
    emb = _embed(xs, emb_dim, lag)
    m = emb.shape[0] - 1
    if m < 8:
        return np.array([np.nan])
    past = emb[:m]
    target = xs[(emb_dim - 1) * lag + 1 : (emb_dim - 1) * lag + 1 + m]
    d = np.sqrt(((past[:, None, :] - past[None, :, :]) ** 2).sum(axis=2))
    iu = np.triu_indices(m, 1)
    mu, sdd = d[iu].mean(), d[iu].std(ddof=0)
    spans = np.linspace(max(1e-6, mu - 2 * sdd), mu + 2 * sdd, num_spans)
    out = np.empty(num_spans)
    for i, r in enumerate(spans):
        variances = []
        for j in range(m):
            mask = d[j] <= r
            if mask.sum() > 2:
                variances.append(target[mask].var(ddof=1))
        out[i] = float(np.mean(variances)) if variances else np.nan
    return out


# ---------------------------------------------------------------------------
# Gaussian-process regression (numpy stand-in for sklearn
# GaussianProcessRegressor(default RBF kernel, alpha=1e-10) used at
# _utils.py:216-245; length-scale by log-marginal-likelihood search)
# ---------------------------------------------------------------------------

def _rbf_k(a: np.ndarray, b: np.ndarray, ls: float) -> np.ndarray:
    d2 = (a[:, None] - b[None, :]) ** 2
    return np.exp(-0.5 * d2 / (ls * ls))


#: per-worker memo of the last few GP fits: three kernels
#: (gresid_autocorr, gresid_lbtest, gaussian_r_sqr) fit the SAME GP on
#: the same series within one feature pass — the fit is the single most
#: expensive kernel component (40 golden-section NLL evaluations, each
#: an O(n³) Cholesky), so refitting it per caller tripled its cost.
#: Keyed by (tail-capped input bytes, alpha, max_n) — the non-default
#: parameters must be part of the key or a caller with a different
#: alpha would silently get a stale fit (round-4 ADVICE fix; same
#: pattern as _ETS_CACHE keying on period).  Tiny (≤8 entries) because
#: callers for one series arrive consecutively in the Arrow kernel loop.
_GP_CACHE: dict[tuple[bytes, float, int], tuple[np.ndarray, np.ndarray]] = {}


def gp_fit_predict(ts: np.ndarray, alpha: float = 1e-10,
                   max_n: int = 512) -> tuple[np.ndarray, np.ndarray]:
    """Fit GP(RBF) on (linspace(0,1,n), zscore(ts)); return
    (ts_scaled, predictions) — callers must not mutate the returned
    arrays (memoized).  Length-scale selected by golden-section on the
    log marginal likelihood (sklearn optimizes the same objective with
    L-BFGS)."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    key = (x.tobytes(), float(alpha), int(max_n))
    hit = _GP_CACHE.get(key)
    if hit is not None:
        return hit
    sd = x.std(ddof=0)
    y = (x - x.mean()) / sd if sd > 0 else x - x.mean()
    n = y.size
    t = np.linspace(0, 1, n)
    # hoisted out of nll: the squared-distance matrix and the jitter
    # diagonal are length-scale-independent
    d2 = (t[:, None] - t[None, :]) ** 2
    aI = alpha * np.eye(n)

    def nll(log_ls: float) -> float:
        ls = math.exp(log_ls)
        K = np.exp(-0.5 * d2 / (ls * ls)) + aI
        try:
            L = np.linalg.cholesky(K)
        except np.linalg.LinAlgError:
            return np.inf
        a_ = np.linalg.solve(L.T, np.linalg.solve(L, y))
        return float(0.5 * y @ a_ + np.log(np.diag(L)).sum())

    gr = (math.sqrt(5) - 1) / 2
    a_b = [-6.0, 2.0]
    c = a_b[1] - gr * (a_b[1] - a_b[0])
    d = a_b[0] + gr * (a_b[1] - a_b[0])
    fc, fd = nll(c), nll(d)
    # 24 golden-section steps bracket log-ls to ~1e-4 — already far
    # tighter than the NLL surface warrants (each step is an O(n³)
    # Cholesky; the former 40 steps doubled cost for sub-float noise)
    for _ in range(24):
        if fc < fd:
            a_b[1], d, fd = d, c, fc
            c = a_b[1] - gr * (a_b[1] - a_b[0])
            fc = nll(c)
        else:
            a_b[0], c, fc = c, d, fd
            d = a_b[0] + gr * (a_b[1] - a_b[0])
            fd = nll(d)
    ls = math.exp((a_b[0] + a_b[1]) / 2)
    Krbf = np.exp(-0.5 * d2 / (ls * ls))
    try:
        coef = np.linalg.solve(Krbf + aI, y)
    except np.linalg.LinAlgError:
        return y, np.full(n, np.nan)
    pred = Krbf @ coef
    if len(_GP_CACHE) >= 8:
        _GP_CACHE.clear()
    _GP_CACHE[key] = (y, pred)
    return y, pred


def gresid(ts: np.ndarray) -> np.ndarray:
    """GP residuals (reference fit_gaussian_process(return_residuals))."""
    y, pred = gp_fit_predict(ts)
    return y - pred


def gaussian_r_sqr(ts: np.ndarray) -> float:
    """ft_gaussian_r_sqr (model_based.py:943-999): GP model R²."""
    y, pred = gp_fit_predict(ts)
    ss_res = float(((y - pred) ** 2).sum())
    ss_tot = float(((y - y.mean()) ** 2).sum())
    return 1.0 - ss_res / ss_tot if ss_tot > 0 else np.nan


# ---------------------------------------------------------------------------
# Unit-root test variants (reference stat_tests.py via arch)
# ---------------------------------------------------------------------------

def dfgls_stat(ts: np.ndarray) -> float:
    """DF-GLS (Elliott-Rothenberg-Stock): GLS-demean with
    c̄ = −7 (constant case), then ADF regression without constant on the
    detrended series (arch.unitroot.DFGLS construction,
    stat_tests.py:226-279)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 16:
        return np.nan
    cbar = -7.0
    a = 1.0 + cbar / n
    # quasi-difference
    zy = np.concatenate([[x[0]], x[1:] - a * x[:-1]])
    zx = np.concatenate([[1.0], np.full(n - 1, 1.0 - a)])
    delta = float(zx @ zy) / float(zx @ zx)
    xd = x - delta
    max_lags = min(int(np.ceil(12.0 * (n / 100.0) ** 0.25)), n // 2 - 2)
    d = np.diff(xd)
    k = max_lags
    rows = d.size - k
    y = d[k:]
    cols = [xd[k:-1]]
    for i in range(1, k + 1):
        cols.append(d[k - i : d.size - i])
    X = np.column_stack(cols)
    beta, se, _ = _ols(X, y)
    return float(beta[0] / se[0]) if se[0] > 0 else np.nan


def pp_stat(ts: np.ndarray) -> float:
    """Phillips-Perron Z-tau (constant case): OLS x_t on [1, x_{t−1}],
    Newey-West long-run variance correction of the t-statistic
    (arch.unitroot.PhillipsPerron construction, stat_tests.py:282-329)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    if n < 16:
        return np.nan
    y = x[1:]
    X = np.column_stack([np.ones(n - 1), x[:-1]])
    beta, se, e = _ols(X, y)
    rho_t = (beta[1] - 1.0) / se[1] if se[1] > 0 else np.nan
    m = n - 1
    gamma0 = float(e @ e) / m
    lags = int(np.ceil(12.0 * (m / 100.0) ** 0.25))
    lam = gamma0
    for k in range(1, lags + 1):
        w = 1.0 - k / (lags + 1.0)
        lam += 2.0 * w * float(e[:-k] @ e[k:]) / m
    if lam <= 0 or gamma0 <= 0:
        return np.nan
    z_tau = (
        math.sqrt(gamma0 / lam) * rho_t
        - (lam - gamma0) * m * se[1] / (2.0 * math.sqrt(lam) * math.sqrt(gamma0))
    )
    return float(z_tau)


def za_stat(ts: np.ndarray, trim: float = 0.15, max_points: int = 256) -> float:
    """Zivot-Andrews minimum t-statistic over candidate structural
    breaks in the intercept (model 'c'; arch.unitroot.ZivotAndrews
    construction, stat_tests.py:383-422).  Series capped for the
    O(n·breaks) OLS sweep."""
    x = np.asarray(ts, dtype=float)
    if x.size > max_points:
        x = x[-max_points:]
    n = x.size
    if n < 24:
        return np.nan
    lo, hi = int(trim * n), int((1 - trim) * n)
    best = np.inf
    d = np.diff(x)
    k = min(4, n // 8)
    rows = d.size - k
    y = d[k:]
    base_cols = [np.ones(rows), x[k:-1]]
    lag_cols = [d[k - i : d.size - i] for i in range(1, k + 1)]
    t_index = np.arange(k + 1, n)
    for tb in range(lo, hi):
        dummy = (t_index > tb).astype(float)
        X = np.column_stack(base_cols + [dummy] + lag_cols)
        beta, se, _ = _ols(X, y)
        if se[1] > 0:
            t_stat = beta[1] / se[1]
            best = min(best, t_stat)
    return float(best) if np.isfinite(best) else np.nan
