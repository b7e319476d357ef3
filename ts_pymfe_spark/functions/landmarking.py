"""Landmarking kernels: forward-chaining CV scores of simple forecast
models (reference ``landmarking.py`` + ``_models.py`` + ``scoring.py``),
re-derived in pure numpy (sklearn/scipy/statsmodels unavailable here —
each component replicates the cited formula).

Pipeline contract (``landmarking.py:36-146``):
  - X = linspace(0,1,n) timestamps, y = series
  - TimeSeriesSplit(n_splits=5): sklearn semantics — test size
    n//(n_splits+1), fold i trains on everything before its test block
  - per-fold MinMax scaling of y to [0,1], fit on train only
    (``landmarking.py:125-136``)
  - failed fits -> nan (``landmarking.py:143-144``)
  - score(y_pred, y_test), default rmse (``tsmfe.py:52``)
  - every feature returns the 5-fold score vector (summarized later)
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np

# ---------------------------------------------------------------------------
# scoring (reference scoring.py:7-63)
# ---------------------------------------------------------------------------

def mse(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.mean((a - b) ** 2))


def rmse(a: np.ndarray, b: np.ndarray) -> float:
    return float(math.sqrt(mse(a, b)))


def mae(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.mean(np.abs(a - b)))


def smape(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.mean(np.abs(a - b) / (1e-9 + np.abs(a) + np.abs(b))))


SCORES: dict[str, Callable] = {"mse": mse, "rmse": rmse, "mae": mae, "smape": smape}


# ---------------------------------------------------------------------------
# forward chaining split (sklearn TimeSeriesSplit(n_splits))
# ---------------------------------------------------------------------------

def ts_splits(n: int, n_splits: int = 5):
    """Yield (train_idx_end, test_start, test_end) triples, sklearn
    TimeSeriesSplit semantics: test_size = n // (n_splits+1)."""
    test_size = n // (n_splits + 1)
    if test_size < 1:
        return
    for i in range(n_splits):
        test_start = n - (n_splits - i) * test_size
        yield test_start, test_start, test_start + test_size


# ---------------------------------------------------------------------------
# models: fit(Xtr, ytr) -> predict(Xte) closures (reference _models.py)
# ---------------------------------------------------------------------------

def _m_mean(Xtr, ytr, Xte, period):
    return np.full(Xte.shape[0], ytr.mean())


def _m_loc_mean(Xtr, ytr, Xte, period, train_prop=0.25):
    k = int(np.ceil(ytr.size * train_prop))
    return np.full(Xte.shape[0], ytr[-k:].mean())


def _m_loc_median(Xtr, ytr, Xte, period, train_prop=0.25):
    k = int(np.ceil(ytr.size * train_prop))
    return np.full(Xte.shape[0], float(np.median(ytr[-k:])))


def _m_naive(Xtr, ytr, Xte, period):
    return np.full(Xte.shape[0], ytr[-1])


def _m_naive_drift(Xtr, ytr, Xte, period):
    slope = (ytr[-1] - ytr[0]) / (Xtr[-1] - Xtr[0]) if ytr.size > 1 else 0.0
    return ytr[-1] + (Xte - Xtr[-1]) * slope


def _m_naive_seasonal(Xtr, ytr, Xte, period):
    """TSNaiveSeasonal (``_models.py:127-186``): value from the
    corresponding position of the previous period, using integer
    timestamp indices."""
    if period is None or period < 1 or ytr.size < period:
        raise ValueError("series shorter than period")
    interval = Xtr[1] - Xtr[0]
    ix = (Xte / interval).astype(int)
    shift = (ix - ytr.size) // period
    inds = ix - period * (1 + shift)
    if np.any(inds < 0):
        raise ValueError("cannot predict before fitted range")
    return ytr[inds]


def _m_linear(Xtr, ytr, Xte, period):
    A = np.column_stack([np.ones(Xtr.size), Xtr])
    beta, *_ = np.linalg.lstsq(A, ytr, rcond=None)
    return beta[0] + beta[1] * Xte


def _m_linear_seasonal(Xtr, ytr, Xte, period):
    """OLS on one-hot season-position dummies (``landmarking.py:1087-1095``)."""
    p = max(2, period or 2)
    postr = (np.arange(Xtr.size) % p)
    poste = (Xtr.size + np.arange(Xte.size)) % p
    A = np.zeros((Xtr.size, p))
    A[np.arange(Xtr.size), postr] = 1.0
    beta, *_ = np.linalg.lstsq(A, ytr, rcond=None)
    return beta[poste]


#: smallest pivot of the sine fit's normal equations, relative to the
#: training length m (the norm² of the constant column, and the summed
#: norm² of the sin and cos columns): below it the fit is singular
_SINE_MIN_PIVOT = 1e-8
#: the sine fit has converged when its next step in w is at most this
#: times w
_SINE_XTOL = 1e-10
#: evaluations of the projected objective one sine fit may make
_SINE_MAX_EVALS = 50


def _sine_project(t: np.ndarray, w: np.ndarray, ys: np.ndarray,
                  sy: np.ndarray):
    """The variable projection of ``a·sin(wt) + b·cos(wt) + c`` at one
    frequency per item: for a stack ``ys`` (k, m) with row sums ``sy``
    and frequencies ``w`` (k,), returns (k,) arrays ``(a, b, c, f, g,
    hn, ok)``.

    ``(a, b, c)`` solve the 3×3 normal equations, with c eliminated
    first (a centred 2×2 system).  ``f = rᵀr`` is the residual sum of
    squares, ``g = df/dw = −2·rᵀu`` its exact derivative, with
    ``u = t·(a·cos(wt) − b·sin(wt))``, and ``hn = |P⊥u|²`` the Kaufman
    Gauss–Newton curvature (``f'' ≈ 2·hn``).  ``ok`` is False where a
    pivot is below ``_SINE_MIN_PIVOT``·m.  Sums are einsum reductions
    over the contiguous last axis and everything else is elementwise,
    so row i does not depend on the other rows."""
    m = t.size
    P = np.empty((w.size, 2, m))
    s, co = P[:, 0], P[:, 1]
    arg = np.multiply(w[:, None], t)
    np.sin(arg, out=s)
    np.cos(arg, out=co)
    G = np.einsum("kim,kjm->kij", P, P)
    q = np.einsum("kim,km->ki", P, ys)
    s1, c1 = np.einsum("kim->ik", P)
    ss = G[:, 0, 0] - s1 * s1 / m
    sc = G[:, 0, 1] - s1 * c1 / m
    cc = G[:, 1, 1] - c1 * c1 / m
    qs = q[:, 0] - s1 * sy / m
    qc = q[:, 1] - c1 * sy / m
    det = ss * cc - sc * sc
    ok = (ss > _SINE_MIN_PIVOT * m) & (det > _SINE_MIN_PIVOT * m * ss)
    a = (cc * qs - sc * qc) / det
    b = (ss * qc - sc * qs) / det
    c = (sy - a * s1 - b * c1) / m
    r = ys - c[:, None]
    r -= a[:, None] * s
    r -= b[:, None] * co
    u = a[:, None] * co
    u -= b[:, None] * s
    u *= t
    f = np.einsum("km,km->k", r, r)
    g = -2.0 * np.einsum("km,km->k", r, u)
    us, uc = np.einsum("kim,km->ik", P, u)
    u1 = np.einsum("km->k", u)
    us -= s1 * u1 / m
    uc -= c1 * u1 / m
    hn = (np.einsum("km,km->k", u, u) - u1 * u1 / m
          - (cc * us * us - 2.0 * sc * us * uc + ss * uc * uc) / det)
    return a, b, c, f, g, hn, ok


def _m_sine(Xtr, ytr, Xte, period):
    """TSSine (``_models.py:267-345``): the least-squares fit of
    A·sin(wt+p)+c from an FFT start, written as a·sin(wt)+b·cos(wt)+c
    and fitted by variable projection (Golub & Pereyra 1973): for each
    w, (a, b, c) is linear least squares (``_sine_project``), so the
    search runs over w alone.  Same objective as the reference's
    curve_fit, deterministic.

    The search takes safeguarded 1-D steps in w: a secant Newton step
    on the exact projected gradient when the secant curvature is
    positive, else the Kaufman Gauss–Newton step, each clipped to half
    a cycle of phase at the window's end (π/t_end).  A step that raises
    f, or whose system is singular, is halved.  w stays in [0, w_hi]:
    sampled at spacing dt, frequencies mirror about the Nyquist
    frequency π/dt, where the sin column vanishes, so w_hi is
    1e-3/t_end below it; an FFT start at the Nyquist bin begins at
    w_hi.  A fit has converged at w when its
    next step is at most ``_SINE_XTOL``·w.  A fit is failed — ValueError
    for one series, a NaN prediction row in a stack — as the reference
    scores a failed fit NaN, when a training value is not finite, its
    start is singular, it does not converge within ``_SINE_MAX_EVALS``
    evaluations, or its search ends halving away from a singular trial:
    then f falls all the way into the band near w = 0 where the sin
    column is collinear with the constant (a trend, such as a ramp).

    ``ytr`` is one series (m,) or a stack (S, m) of same-length series,
    fitted in lockstep: each iteration evaluates one trial w for every
    still-active item with one ``_sine_project`` call, and an item
    leaves the stack when it stops.  Every per-item operation is
    elementwise or a row reduction, so each row of a stack equals that
    series fitted alone, bit for bit, whatever else shares the
    stack."""
    Y = np.asarray(ytr, dtype=float)
    Ys = Y.reshape(-1, Y.shape[-1])
    S, n = Ys.shape
    if n < 8:
        raise ValueError("too short for sine fit")
    dt = Xtr[1] - Xtr[0]
    freqs = np.fft.fftfreq(n, dt)
    w0 = 2 * np.pi * np.abs(
        freqs[1 + np.argmax(np.abs(np.fft.rfft(Ys, axis=-1))[:, 1:], axis=1)])
    t_end = float(Xtr[-1])
    w_hi = math.pi / dt - 1e-3 / t_end
    d_max = math.pi / t_end
    fit = np.full((S, 4), np.nan)                  # (a, b, c, w)
    # the active items (ia) and their state, compacted when one stops;
    # a series with a NaN or inf never starts
    ia = np.flatnonzero(np.all(np.isfinite(Ys), axis=1))
    ys = Ys[ia]
    sy = np.einsum("km->k", ys)
    w = np.minimum(w0[ia], w_hi)
    with np.errstate(invalid="ignore", over="ignore", divide="ignore",
                     under="ignore"):
        a, b, c, f, g, hn, ok = _sine_project(Xtr, w, ys, sy)
        # a singular start fails the fit
        ia, ys, sy, w, a, b, c, f, g, hn = (
            v[ok] for v in (ia, ys, sy, w, a, b, c, f, g, hn))
        wp, gp, d = (np.full(ia.size, np.nan) for _ in range(3))
        # whether each item's last trial was rejected, and whether for
        # a singular system
        halving = np.zeros(ia.size, dtype=bool)
        singular = np.zeros(ia.size, dtype=bool)
        for _ in range(_SINE_MAX_EVALS - 1):
            if not ia.size:
                break
            h = (g - gp) / (w - wp)
            step = np.where(h > 0, -g / h, -g / (2.0 * hn))
            step[g == 0] = 0.0          # e.g. a constant series: g = hn = 0
            d = np.where(halving, d, np.clip(step, -d_max, d_max))
            wt = np.clip(w + d, 0.0, w_hi)
            d = wt - w
            done = np.abs(d) <= _SINE_XTOL * w
            # a search that ends halving away from a singular trial
            # fails: f falls into the singular band at w -> 0
            conv = done & ~singular
            if conv.any():
                fit[ia[conv]] = np.stack([a, b, c, w], axis=1)[conv]
            go = np.isfinite(d) & ~done
            if not go.all():
                ia, ys, sy, w, wt, a, b, c, f, g, hn, wp, gp, d = (
                    v[go] for v in (ia, ys, sy, w, wt, a, b, c, f, g, hn,
                                    wp, gp, d))
            a2, b2, c2, f2, g2, hn2, ok = _sine_project(Xtr, wt, ys, sy)
            # a singular trial is rejected like one that raises f
            acc = ok & (f2 <= f)
            halving, singular = ~acc, ~ok
            wp, gp = np.where(acc, w, wp), np.where(acc, g, gp)
            w, a, b, c, f, g, hn = (
                np.where(acc, new, old) for new, old in (
                    (wt, w), (a2, a), (b2, b), (c2, c), (f2, f), (g2, g),
                    (hn2, hn)))
            d = np.where(halving, d / 2, d)
    if Y.ndim == 1 and not np.all(np.isfinite(fit[0])):
        raise ValueError("sine fit failed")
    a, b, c, w = (fit[:, j, None] for j in range(4))
    arg = w * Xte
    pred = a * np.sin(arg) + b * np.cos(arg) + c
    return pred[0] if Y.ndim == 1 else pred


def _m_exp(Xtr, ytr, Xte, period):
    """TSExp (``_models.py:348-391``): a·e^{bt}+c via grid on b +
    linear lstsq for (a, c) — deterministic curve_fit stand-in."""
    best = None
    for b in np.linspace(-8, 8, 65):
        e = np.exp(b * Xtr)
        A = np.column_stack([e, np.ones(Xtr.size)])
        beta, res, *_ = np.linalg.lstsq(A, ytr, rcond=None)
        pred = A @ beta
        sse = float(np.sum((ytr - pred) ** 2))
        if best is None or sse < best[0]:
            best = (sse, b, beta)
    _, b, beta = best
    return beta[0] * np.exp(b * Xte) + beta[1]


MODELS: dict[str, Callable] = {
    "model_mean": _m_mean,
    "model_loc_mean": _m_loc_mean,
    "model_loc_median": _m_loc_median,
    "model_naive": _m_naive,
    "model_naive_drift": _m_naive_drift,
    "model_naive_seasonal": _m_naive_seasonal,
    "model_linear": _m_linear,
    "model_linear_seasonal": _m_linear_seasonal,
    "model_sine": _m_sine,
    "model_exp": _m_exp,
}


#: models whose fit takes a (S, m) stack of same-length training series
#: and returns (S, h) predictions, a NaN row where one item's fit failed
STACKED_MODELS = frozenset({"model_sine"})


def landmark_scores(y: np.ndarray, model: str, period: int | None = None,
                    score: str = "rmse", num_cv_folds: int = 5,
                    lm_sample_frac: float = 1.0) -> np.ndarray:
    """The standard pipeline (``landmarking.py:36-146``): returns the
    per-fold score vector (len = num_cv_folds), nan where the fit fails.

    For a ``STACKED_MODELS`` model ``y`` may also be a (S, n) stack of
    same-length series, giving (S, num_cv_folds): each fold of the
    whole stack is fitted in one call, and row i equals
    ``landmark_scores(y[i], ...)`` bit for bit."""
    y = np.asarray(y, dtype=float)
    if y.ndim != 1 and model not in STACKED_MODELS:
        raise ValueError(f"{model} takes one series, got shape {y.shape}")
    if lm_sample_frac < 1.0:
        keep = int(np.ceil(y.shape[-1] * lm_sample_frac))
        y = y[..., -keep:]
    n = y.shape[-1]
    score_fn = SCORES[score]
    model_fn = MODELS[model]
    # seasonal-naive uses integer timestamps (landmarking.py:1241-1313);
    # everything else the [0,1] linspace
    if model == "model_naive_seasonal":
        X = np.arange(n, dtype=float)
    else:
        X = np.linspace(0.0, 1.0, n)
    out = np.full(y.shape[:-1] + (num_cv_folds,), np.nan)
    for fold, (tr_end, te_s, te_e) in enumerate(ts_splits(n, num_cv_folds)):
        ytr, yte = y[..., :tr_end], y[..., te_s:te_e]
        Xtr, Xte = X[:tr_end], X[te_s:te_e]
        # per-fold MinMax scale fit on train (landmarking.py:125-136)
        lo = ytr.min(axis=-1, keepdims=True)
        span = ytr.max(axis=-1, keepdims=True) - lo
        span[span == 0] = 1.0
        ytr_s = (ytr - lo) / span
        yte_s = (yte - lo) / span
        try:
            pred = np.asarray(model_fn(Xtr, ytr_s, Xte, period), float)
            if y.ndim == 1:
                out[fold] = score_fn(pred.ravel(), yte_s)
            else:
                out[:, fold] = [score_fn(a, b) for a, b in zip(pred, yte_s)]
        except (ValueError, ZeroDivisionError, np.linalg.LinAlgError):
            out[..., fold] = np.nan
    return out


# ---------------------------------------------------------------------------
# Smoothing-model forecasters (reference landmarking.py ft_model_ses /
# ft_model_hwes_ada / ft_model_hwes_adm via statsmodels; here SSE-fit
# with the deterministic Nelder-Mead from functions/kernels.py)
# ---------------------------------------------------------------------------

def _m_ses(Xtr, ytr, Xte, period):
    from ts_pymfe_spark.functions.kernels import nelder_mead

    n = ytr.size
    if n < 4:
        raise ValueError("too short")

    def sse(p):
        a = min(1 - 1e-6, max(1e-6, p[0]))
        lvl = ytr[0]
        s = 0.0
        for t in range(1, n):
            e = ytr[t] - lvl
            s += e * e
            lvl = a * ytr[t] + (1 - a) * lvl
        return s

    a = min(1 - 1e-6, max(1e-6, nelder_mead(sse, np.array([0.3]))[0]))
    lvl = ytr[0]
    for t in range(1, n):
        lvl = a * ytr[t] + (1 - a) * lvl
    return np.full(Xte.shape[0], lvl)


def _hw_forecast(ytr, h, period, mult):
    from ts_pymfe_spark.functions.kernels import nelder_mead

    m = int(period) if period else 0
    n = ytr.size
    if m < 2 or n < 2 * m + 2:
        raise ValueError("too short for HW")
    if mult and np.any(ytr <= 0):
        raise ValueError("multiplicative seasonality needs positive data")
    if mult:
        seas0 = ytr[:m] / max(1e-12, ytr[:m].mean())
    else:
        seas0 = ytr[:m] - ytr[:m].mean()

    def run(p, collect=False):
        a = min(1 - 1e-6, max(1e-6, p[0]))
        b = min(1 - 1e-6, max(1e-6, p[1]))
        g = min(1 - 1e-6, max(1e-6, p[2]))
        lvl = ytr[:m].mean()
        tr = (ytr[m : 2 * m].mean() - lvl) / m
        seas = seas0.copy()
        s = 0.0
        for t in range(m, n):
            si = seas[t % m]
            pred = (lvl + tr) * si if mult else lvl + tr + si
            e = ytr[t] - pred
            s += e * e
            obs_deseason = ytr[t] / max(1e-12, si) if mult else ytr[t] - si
            new_lvl = a * obs_deseason + (1 - a) * (lvl + tr)
            tr = b * (new_lvl - lvl) + (1 - b) * tr
            upd = ytr[t] / max(1e-12, new_lvl) if mult else ytr[t] - new_lvl
            seas[t % m] = g * upd + (1 - g) * si
            lvl = new_lvl
        if collect:
            out = np.empty(h)
            for k in range(1, h + 1):
                si = seas[(n + k - 1) % m]
                out[k - 1] = (lvl + k * tr) * si if mult else lvl + k * tr + si
            return out
        return s

    p = nelder_mead(run, np.array([0.3, 0.05, 0.1]))
    return run(p, collect=True)


def _m_hwes_ada(Xtr, ytr, Xte, period):
    return _hw_forecast(ytr, Xte.shape[0], period, mult=False)


def _m_hwes_adm(Xtr, ytr, Xte, period):
    return _hw_forecast(ytr, Xte.shape[0], period, mult=True)


# ---------------------------------------------------------------------------
# ARIMA(p,d,q) by conditional sum of squares (reference ft_model_arima_*
# via statsmodels ARIMA; 7 fixed orders at landmarking.py:1316-1911)
# ---------------------------------------------------------------------------

def _arima_forecast(ytr, h, p, d, q, const):
    from ts_pymfe_spark.functions.kernels import nelder_mead

    w = np.diff(ytr, n=d) if d else np.asarray(ytr, dtype=float)
    n = w.size
    if n < p + q + 3:
        raise ValueError("too short for ARIMA order")

    def css(theta, collect=False):
        # Hot path: Nelder-Mead calls this up to ~400×.  The AR part is
        # vectorized (ar[t] = c + Σ phi_i·w[t−1−i] as shifted array
        # adds); the MA recursion is inherently sequential, so the
        # common orders (q ≤ 2) run as scalar-local loops — ~5-50×
        # faster than the former per-t indexed triple loop, same
        # recurrence (zero pre-sample residuals).
        phi = theta[:p]
        th = theta[p : p + q]
        c = theta[p + q] if const else 0.0
        start = max(p, 1)
        ar = np.full(n, c)
        for i in range(p):
            ar[i + 1 :] += phi[i] * w[: n - 1 - i]
        z = w - ar
        e = np.zeros(n)
        if q == 0:
            e[start:] = z[start:]
            s = float(e @ e)
        elif q == 1:
            t1 = float(th[0])
            e1 = 0.0
            s = 0.0
            zs = z.tolist()
            for t in range(start, n):
                et = zs[t] - t1 * e1
                s += et * et
                e[t] = et
                e1 = et
        elif q == 2:
            t1, t2 = float(th[0]), float(th[1])
            e1 = e2 = 0.0
            s = 0.0
            zs = z.tolist()
            for t in range(start, n):
                et = zs[t] - t1 * e1 - t2 * e2
                s += et * et
                e[t] = et
                e2 = e1
                e1 = et
        else:
            s = 0.0
            for t in range(start, n):
                pred = 0.0
                for j in range(q):
                    if t - 1 - j >= 0:
                        pred += th[j] * e[t - 1 - j]
                e[t] = z[t] - pred
                s += e[t] * e[t]
        if collect:
            wf = list(w)
            ef = list(e)
            out = []
            for k in range(h):
                pred = c
                for i in range(p):
                    pred += phi[i] * (wf[-1 - i] if i < len(wf) else 0.0)
                for j in range(q):
                    idx = len(ef) - 1 - j
                    # future shocks are zero; only observed residuals count
                    pred += th[j] * (ef[idx] if idx >= 0 and idx < n else 0.0)
                wf.append(pred)
                ef.append(0.0)
                out.append(pred)
            return np.asarray(out)
        return s

    k = p + q + (1 if const else 0)
    theta = nelder_mead(css, np.full(max(k, 1), 0.1)[: k or 1])
    if k == 0:
        theta = np.array([])
    fw = css(np.pad(theta, (0, max(0, p + q + 1 - theta.size))), collect=True)
    # integrate differences back
    if d == 0:
        return fw
    # reconstruct level forecasts by cumulative integration of order d
    hist = np.asarray(ytr, dtype=float)
    levels = []
    if d == 1:
        prev = hist[-1]
        for f in fw:
            prev = prev + f
            levels.append(prev)
    else:  # d == 2
        prev = hist[-1]
        prev_d = hist[-1] - hist[-2]
        for f in fw:
            prev_d = prev_d + f
            prev = prev + prev_d
            levels.append(prev)
    return np.asarray(levels)


ARIMA_ORDERS = {
    # name -> (p, d, q, const)  (orders at landmarking.py:1378-1890)
    "model_arima_100_c": (1, 0, 0, True),
    "model_arima_010_c": (0, 1, 0, True),
    "model_arima_110_c": (1, 1, 0, True),
    "model_arima_011_nc": (0, 1, 1, False),
    "model_arima_011_c": (0, 1, 1, True),
    "model_arima_021_c": (0, 2, 1, True),
    "model_arima_112_nc": (1, 1, 2, False),
}

for _name, (_p, _d, _q, _c) in ARIMA_ORDERS.items():
    MODELS[_name] = (
        lambda Xtr, ytr, Xte, period, p=_p, d=_d, q=_q, c=_c: _arima_forecast(
            ytr, Xte.shape[0], p, d, q, c
        )
    )


def _m_linear_embed(Xtr, ytr, Xte, period):
    """OLS on a Takens embedding with recursive multi-step forecast
    (ft_model_linear_embed, landmarking.py:869-1023; dim from Cao)."""
    from ts_pymfe_spark.functions.kernels import _embed, emb_dim_cao

    n = ytr.size
    if n < 16:
        raise ValueError("too short")
    dim = max(2, min(8, int(emb_dim_cao(ytr, dims=8))))
    emb = _embed(ytr, dim, 1)
    X = emb[:-1]
    y = ytr[dim:]
    A = np.column_stack([np.ones(X.shape[0]), X])
    beta, *_ = np.linalg.lstsq(A, y, rcond=None)
    hist = list(ytr)
    out = []
    for _ in range(Xte.shape[0]):
        vec = np.array([hist[-1 - j] for j in range(dim)][::-1])
        pred = float(beta[0] + beta[1:] @ vec)
        hist.append(pred)
        out.append(pred)
    return np.asarray(out)


MODELS.update(
    {
        "model_ses": _m_ses,
        "model_hwes_ada": _m_hwes_ada,
        "model_hwes_adm": _m_hwes_adm,
        "model_linear_embed": _m_linear_embed,
    }
)


def model_error_acf_first_nonpos(y: np.ndarray, model: str,
                                 period: int | None = None,
                                 num_cv_folds: int = 5) -> float:
    """ft_model_{mean,linear}_acf_first_nonpos (landmarking.py:2178-2326,
    kernel :276-340): first nonpositive-ACF lag of the concatenated CV
    fold errors."""
    from ts_pymfe_spark.functions.kernels import acf, first_acf_nonpos

    y = np.asarray(y, dtype=float)
    n = y.size
    errors = []
    model_fn = MODELS[model]
    X = np.linspace(0.0, 1.0, n)
    for tr_end, te_s, te_e in ts_splits(n, num_cv_folds):
        ytr, yte = y[:tr_end], y[te_s:te_e]
        lo, hi = ytr.min(), ytr.max()
        span = hi - lo if hi > lo else 1.0
        try:
            pred = model_fn(X[:tr_end], (ytr - lo) / span, X[te_s:te_e], period)
            errors.append((yte - lo) / span - np.asarray(pred).ravel())
        except (ValueError, ZeroDivisionError, np.linalg.LinAlgError):
            continue
    if not errors:
        return np.nan
    e = np.concatenate(errors)
    if e.size < 4:
        return np.nan
    return first_acf_nonpos(acf(e, nlags=e.size // 2))
