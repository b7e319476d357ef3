"""Per-series Arrow kernels over the pure-numpy kernel library
(functions/kernels.py).

This is the bit-match oracle path (SURVEY §2.12): whole-series
computations SQL cannot express (FFT ACF/spectrum, O(n²) entropies,
sequential recurrences) run vectorized per series inside Arrow workers.
The same kernel functions generate the golden fixtures, so engine
output equals fixtures by construction — the float-summation-order
hazard (SURVEY §4.3) is closed by sorting each series by
``(turn_idx, value)`` before compute.

``series_features`` and ``bootstrap_ci`` run on one partition-level
runner (``operators/grouped.py``: repartition + sortWithinPartitions +
one ``mapInPandas``) and share one per-feature kernel loop
(``_feature_arrays``): same-length series — the series of a batch, or
the resamples of one series — are stacked for the features in
``BATCHED_FEATURE_KERNELS``.  ``bootstrap_ci`` reduces the resamples to
CI rows in the worker.

Scale design:
  - groups are (conv_id[, series]) — the natural parallelism axis; a
    1000-executor cluster processes ~10^6 series concurrently.
  - ``max_points`` caps quadratic kernels (reference analogue: the
    512-point truncation in its tests, test_a.py:27, and
    ``lm_sample_frac``) — documented engine config, keeps worst-case
    per-task time bounded regardless of Zipf skew.
  - output is a long feature table (conv_id, series, feature, idx,
    value): adding features changes rows, not schema.
"""

from __future__ import annotations

import math
import time
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ts_pymfe_spark.functions import kernels as K
from ts_pymfe_spark.functions.summaries import (DEFAULT_SUMMARIES,
                                                summarize_array)
from ts_pymfe_spark.operators.grouped import map_sorted_groups

#: Spark type of every column ``series_features`` emits
_COLUMN_TYPES = {
    "conv_id": "string", "series": "string", "feature": "string",
    "idx": "int", "name": "string", "value": "double",
    "wall_ms": "double",
}

#: feature name -> callable(x: np.ndarray) -> float | np.ndarray
#: (reference ft_* counterpart cited in each kernel's docstring)
FEATURE_KERNELS: dict[str, Callable[[np.ndarray], float | np.ndarray]] = {
    "acf": lambda x: K.acf(x, nlags=min(16, x.size - 2)),
    "pacf": lambda x: K.pacf_ols(x, nlags=max(1, 1 + x.size // 10)),
    "period": lambda x: float(K.ts_period(x)),
    "acf_first_nonsig": lambda x: K.first_acf_nonsig(
        K.acf(x, nlags=min(64, x.size - 2)), x.size
    ),
    "acf_first_nonpos": lambda x: K.first_acf_nonpos(
        K.acf(x, nlags=min(64, x.size - 2))
    ),
    "acf_first_locmin": lambda x: K.first_local_min(
        K.acf(x, nlags=min(64, x.size - 2))
    ),
    "ps_entropy": lambda x: K.ps_entropy(K.periodogram_hamming(x)[1]),
    "ps_freqs": lambda x: K.ps_freqs_topk(K.periodogram_hamming(x)[1]),
    "ps_peaks": lambda x: K.ps_peaks(K.periodogram_hamming(x)[1]),
    "low_freq_power": K.low_freq_power,
    "hist_entropy": K.hist_entropy,
    "ami": lambda x: K.ami(x, lags=[1, 2, 3, 4]),
    "ami_first_critpt": lambda x: K.first_local_min(
        K.ami(x, lags=list(range(1, min(17, x.size // 2))))
    ),
    "approx_entropy": K.approx_entropy,
    "sample_entropy": K.sample_entropy,
    "control_entropy": lambda x: K.sample_entropy(np.diff(x)),
    "lz_complexity": K.lz_complexity,
    "hurst": K.hurst_rs,
    "dfa": K.dfa,
    "lb_pvalues": lambda x: K.ljung_box(x, max_lags=min(16, x.size - 3))[1],
    "dw": lambda x: K.durbin_watson(x) / 4.0,
    "trend_strength": lambda x: _strength(x, "trend"),
    "season_strength": lambda x: _strength(x, "season"),
    "walker_cross_frac": lambda x: _walker_cross_frac(x),
    "moving_threshold_mean": lambda x: float(
        np.mean(K.moving_threshold(_zscore(x)))
    ),
}

# landmarking family: 5-fold forward-chaining CV rmse vectors
# (functions/landmarking.py; reference landmarking.py ft_model_*)
from ts_pymfe_spark.functions import landmarking as LM  # noqa: E402

for _model in LM.MODELS:
    FEATURE_KERNELS[_model] = (
        lambda x, m=_model: LM.landmark_scores(
            x, m, period=K.ts_period(x) if m.endswith("seasonal") else None
        )
    )

#: feature name -> callable(X: (S, n) stack of same-length series) ->
#: S results, result i bit-identical to ``FEATURE_KERNELS[name](X[i])``;
#: ``series_features`` runs these once per stack instead of per series
BATCHED_FEATURE_KERNELS: dict[str, Callable[[np.ndarray], Iterable]] = {
    "model_sine": lambda X: LM.landmark_scores(X, "model_sine"),
}

# rolling/tiled array features (numpy oracle forms of operators/local_stats)
for _stat in ("avg", "var", "sd", "skewness", "kurtosis", "acf", "gmean"):
    FEATURE_KERNELS[f"moving_{_stat}"] = (
        lambda x, s=_stat: K.moving_stat(x, s, shift=False)
    )
    FEATURE_KERNELS[f"moving_{_stat}_shift"] = (
        lambda x, s=_stat: K.moving_stat(x, s, shift=True)
    )
FEATURE_KERNELS.update(
    {
        "lumpiness": K.lumpiness,
        "stability": K.stability,
        "local_extrema": K.local_extrema,
        "local_range": K.local_range,
        "length": lambda x: float(x.size),
        "turning_points": K.turning_points_flags,
        "turning_points_trend": lambda x: K.turning_points_flags(x, on_diff=True),
        "step_changes": K.step_changes_flags,
        "step_changes_trend": lambda x: K.step_changes_flags(x, on_diff=True),
        "stick_angles": K.stick_angles,
        "spikiness": lambda x: K.spikiness(K.decompose(x)[2]),
        "embed_in_shell": K.embed_in_shell,
        "ioe_tdelta_mean": lambda x: K.ioe_stats(x, np.mean, differentiate=True),
        "opt_boxcox_coef": K.boxcox_lambda,
        "trev": K.trev_stat,
        "tc3": K.tc3_stat,
    }
)

# stat tests, model-based, embedding, chaos, remaining local/info ops
FEATURE_KERNELS.update(
    {
        # stat tests (reference stat_tests.py)
        "test_adf": K.adf_stat,
        "test_adf_p": lambda x: K.adf_pvalue_approx(K.adf_stat(x)),
        "test_kpss": K.kpss_stat,
        "test_earch": lambda x: np.array(K.arch_lm_stat(x)),
        "test_lilliefors": lambda x: K.lilliefors_stat(x, "norm"),
        "test_lilliefors_exp": lambda x: K.lilliefors_stat(x, "exp"),
        # model-based (reference model_based.py)
        "des_level": lambda x: K.des_params(x)[0],
        "des_trend": lambda x: K.des_params(x)[1],
        "ets_level": lambda x: K.ets_params(x, K.ts_period(x))[0],
        "ets_trend": lambda x: K.ets_params(x, K.ts_period(x))[1],
        "ets_season": lambda x: K.ets_params(x, K.ts_period(x))[2],
        "linearity": lambda x: K.orthopoly_features(K.decompose(x)[0])[0],
        "curvature": lambda x: K.orthopoly_features(K.decompose(x)[0])[1],
        "avg_cycle_period": K.ar2_cycle_period,
        "ioe_std_slope": lambda x: K.ioe_std_linreg(x)[0],
        "ioe_std_adj_r_sqr": lambda x: K.ioe_std_linreg(x)[1],
        # embedding / chaos (reference _embed.py, general.py, global_stats.py)
        "emb_lag": lambda x: float(K.emb_lag(x)),
        "emb_dim_cao": K.emb_dim_cao,
        "cao_e1": lambda x: K.cao_e1_e2(x)[0],
        "cao_e2": lambda x: K.cao_e1_e2(x)[1],
        "fnn_prop": K.fnn_prop,
        "corr_dim": K.corr_dim,
        "exp_max_lyap": K.max_lyap,
        "exp_hurst": K.hurst_rs,
        "pred": K.pred_dvv,
        # remaining general / local / info ops
        "walker_path": lambda x: K.walker_path(x),
        "force_potential_mean": lambda x: float(
            np.nanmean(K.force_potential(x))
        ),
        "moving_kldiv": K.moving_kldiv,
        "moving_lilliefors": K.moving_lilliefors,
        "peak_frac": lambda x: K.peak_trough_frac(x, K.ts_period(x), "peak"),
        "trough_frac": lambda x: K.peak_trough_frac(x, K.ts_period(x), "trough"),
        "sd_residuals": lambda x: float(np.std(K.decompose(x)[2], ddof=1)),
        "skewness_residuals": lambda x: _skew_m3_arr(K.decompose(x)[2]),
        "kurtosis_residuals": lambda x: _kurt_m3_arr(K.decompose(x)[2]),
        "sd_diff": lambda x: float(np.std(np.diff(x), ddof=1)),
        "skewness_diff": lambda x: _skew_m3_arr(np.diff(x)),
        "kurtosis_diff": lambda x: _kurt_m3_arr(np.diff(x)),
        # seasonal diff ts[p:] − ts[:-p] (global_stats.py:276,454,636)
        "sd_sdiff": lambda x: float(
            np.std(x[K.ts_period(x):] - x[: -K.ts_period(x)], ddof=1)
        ),
        "hist_ent_out_diff": lambda x: _hist_ent_out_diff(x),
        "acf_detrended": lambda x: K.acf(
            x - K._trend_ma(x), nlags=min(16, x.size - 2)
        ),
        "acf_diff": lambda x: K.acf(np.diff(x), nlags=min(16, x.size - 3)),
        "pacf_detrended": lambda x: K.pacf_ols(
            x - K._trend_ma(x), nlags=max(1, 1 + x.size // 10)
        ),
        "pacf_diff": lambda x: K.pacf_ols(
            np.diff(x), nlags=max(1, 1 + x.size // 10)
        ),
        "ami_detrended": lambda x: K.ami(x - K._trend_ma(x), lags=[1, 2, 3, 4]),
        # GP-based (numpy RBF GP, kernels.gp_fit_predict)
        "gaussian_r_sqr": K.gaussian_r_sqr,
        "gresid_autocorr": lambda x: K.acf(K.gresid(x), nlags=8),
        "gresid_lbtest": lambda x: K.ljung_box(K.gresid(x), max_lags=8)[1],
        # unit-root variants (reference stat_tests.py via arch)
        "test_adf_gls": K.dfgls_stat,
        "test_pp": K.pp_stat,
        "test_za": K.za_stat,
        "test_lb": lambda x: K.ljung_box(x, max_lags=min(16, x.size - 3))[1],
        # fold-error diagnostics (landmarking.py:2178-2326)
        "model_mean_acf_first_nonpos": lambda x: LM.model_error_acf_first_nonpos(
            x, "model_mean"
        ),
        "model_linear_acf_first_nonpos": lambda x: LM.model_error_acf_first_nonpos(
            x, "model_linear"
        ),
        # remaining autocorr family
        "autocorr_crit_pt": lambda x: _acf_crit_points(x),
        "autocorr_out_dist": lambda x: _acf_out_dist(x),
        # remaining general/local/info
        "diff": lambda x: np.diff(x),
        "bin_mean": lambda x: (x >= x.mean()).astype(float),
        "frac_cp": lambda x: _frac_cp(x),
        "t_mean": lambda x: _t_mean(x),
        "fs_len": lambda x: _fs_len(x),
        "skewness_sdiff": lambda x: _skew_m3_arr(
            x[K.ts_period(x):] - x[: -K.ts_period(x)]
        ),
        "kurtosis_sdiff": lambda x: _kurt_m3_arr(
            x[K.ts_period(x):] - x[: -K.ts_period(x)]
        ),
        "moving_kldiv_shift": lambda x: np.abs(np.diff(K.moving_kldiv(x))),
        "moving_approx_ent": lambda x: _moving_approx_ent(x),
        # full-array variants closing the 149-method inventory
        "moving_threshold": lambda x: K.moving_threshold(_zscore(x)),
        "force_potential": lambda x: K.force_potential(x),
        "gen_autocorr": lambda x: _gen_autocorr(x),
        "ps_residuals": lambda x: K.periodogram_hamming(K.decompose(x)[2])[1],
        "model_gaussian": lambda x: _model_gaussian_scores(x),
    }
)


def _gen_autocorr(x: np.ndarray, lag: int = 1, alpha: float = 1.0,
                  beta: float = 1.0) -> float:
    """Generalized autocorrelation, exact reference expression incl.
    its operator precedence (autocorr.py:1001-1006; see also
    operators/sequence.py gen_autocorr for the SQL form)."""
    a = np.abs(x[:-lag]) ** alpha
    b = np.abs(x[lag:]) ** beta
    ma, mb = a.mean(), b.mean()
    sda = math.sqrt(max((a * a).mean() - ma * ma, 0.0))
    sdb = math.sqrt(max((b * b).mean() - mb * mb, 0.0))
    if sda == 0 or sdb == 0:
        return np.nan
    return float((a * b).mean() - ma * mb / (sda * sdb))


def _model_gaussian_scores(x: np.ndarray) -> np.ndarray:
    """ft_model_gaussian (landmarking.py:737-812): GP forecaster under
    the standard CV pipeline, numpy RBF GP (kernels.gp_fit_predict
    machinery) as the sklearn stand-in."""
    from ts_pymfe_spark.functions.landmarking import SCORES, ts_splits

    y = np.asarray(x, dtype=float)
    n = y.size
    out = []
    X = np.linspace(0.0, 1.0, n)
    for tr_end, te_s, te_e in ts_splits(n, 5):
        ytr, yte = y[:tr_end], y[te_s:te_e]
        lo, hi = ytr.min(), ytr.max()
        span = hi - lo if hi > lo else 1.0
        ys = (ytr - lo) / span
        try:
            t = X[:tr_end]
            # fixed mid-range length-scale: per-fold MLE search is the
            # dominant cost; 0.1 on the [0,1] axis matches the scale the
            # full-series MLE typically selects on these series
            Kmat = K._rbf_k(t, t, 0.1) + 1e-10 * np.eye(t.size)
            coef = np.linalg.solve(Kmat, ys)
            pred = K._rbf_k(X[te_s:te_e], t, 0.1) @ coef
            out.append(SCORES["rmse"](pred, (yte - lo) / span))
        except np.linalg.LinAlgError:
            out.append(np.nan)
    return np.asarray(out) if out else np.array([np.nan])


def _acf_crit_points(x: np.ndarray) -> np.ndarray:
    """Lags of ACF local minima/maxima (autocorr.py:1011-1086)."""
    a = K.acf(x, nlags=min(64, x.size - 2))
    if a.size < 3:
        return np.array([np.nan])
    mins = (a[1:-1] < a[:-2]) & (a[1:-1] < a[2:])
    maxs = (a[1:-1] > a[:-2]) & (a[1:-1] > a[2:])
    lags = np.flatnonzero(mins | maxs) + 2.0
    return lags if lags.size else np.array([np.nan])


def _acf_out_dist(x: np.ndarray, p: float = 0.8) -> np.ndarray:
    """|ACF(full) − ACF(inliers |v|<=quantile(|v|,p))| (autocorr.py:1243-1314)."""
    nl = min(16, x.size - 2)
    full = K.acf(x, nlags=nl)
    cut = np.quantile(np.abs(x), p)
    inl = x[np.abs(x) <= cut]
    if inl.size < nl + 2:
        return np.array([np.nan])
    return np.abs(full - K.acf(inl, nlags=nl))


def _frac_cp(x: np.ndarray) -> float:
    """Median-crossing fraction (general.py:702-766)."""
    med = np.median(x)
    below = x <= med
    return float(np.sum(below[1:] != below[:-1]) / (x.size - 1))


def _t_mean(x: np.ndarray, p: float = 0.02) -> float:
    """scipy trim_mean(0.02) semantics (global_stats.py:848-875)."""
    n = x.size
    cut = int(np.floor(n * p))
    xs = np.sort(x)
    return float(xs[cut : n - cut].mean()) if n - 2 * cut > 0 else np.nan


def _fs_len(x: np.ndarray, num_bins: int = 10) -> np.ndarray:
    """Run lengths of constant discretized level (general.py:797-852)."""
    mn, mx = x.min(), x.max()
    if mx == mn:
        return np.array([float(x.size)])
    lvl = np.minimum(((x - mn) / ((mx - mn) / num_bins)).astype(int), num_bins - 1)
    change = np.flatnonzero(np.diff(lvl) != 0)
    bounds = np.concatenate([[-1], change, [x.size - 1]])
    return np.diff(bounds).astype(float)


def _moving_approx_ent(x: np.ndarray, window_size: float = 0.1,
                       max_windows: int = 64) -> np.ndarray:
    """Rolling approximate entropy (local_stats.py:1528-1621), stride-
    subsampled to bound the O(n·w²) cost (engine cap, documented).
    Windows bypass the kernel memo: up to 64 one-off entries would
    evict the series' own period/decomp entries."""
    w = K._win_size(x.size, window_size)
    if x.size < w or w < 8:
        return np.array([np.nan])
    wins = K._rolling_windows(x, w)
    stride = max(1, wins.shape[0] // max_windows)
    return np.asarray(
        [K.approx_entropy(win, max_n=w, memo=False) for win in wins[::stride]]
    )


def _skew_m3_arr(v: np.ndarray) -> float:
    from ts_pymfe_spark.functions.summaries import SUMMARY_FUNCS

    return float(SUMMARY_FUNCS["skewness"](v))


def _kurt_m3_arr(v: np.ndarray) -> float:
    from ts_pymfe_spark.functions.summaries import SUMMARY_FUNCS

    return float(SUMMARY_FUNCS["kurtosis"](v))


def _hist_ent_out_diff(x: np.ndarray, p: float = 0.05) -> float:
    """entropy(full) − entropy(5%-trimmed) (info_theory.py:258-316)."""
    lo, hi = np.quantile(x, [p, 1 - p])
    inner = x[(x >= lo) & (x <= hi)]
    if inner.size < 2:
        return np.nan
    return K.hist_entropy(x) - K.hist_entropy(inner)


#: seeded Monte-Carlo features: callable(x, seed) — the engine derives
#: seed per (conv_id, feature) so results are deterministic under any
#: repartitioning (SURVEY §2.10 determinism contract)
SEEDED_FEATURE_KERNELS: dict[str, Callable] = {
    "itrand_mean": lambda x, seed: K.itrand_stat(x, np.mean, random_state=seed),
    "itrand_sd": lambda x, seed: K.itrand_stat(
        x, lambda v: np.std(v, ddof=1), random_state=seed
    ),
    "itrand_acf": lambda x, seed: K.itrand_stat(
        x,
        lambda v: K.acf(v, nlags=1, adjusted=True)[0] if v.size > 2 else np.nan,
        random_state=seed,
    ),
    "resample_std": lambda x, seed: K.resample_stat(
        x, lambda v: np.std(v, ddof=1), num_samples=64, sample_frac=0.1,
        random_state=seed,
    ),
    "resample_first_acf_nonpos": lambda x, seed: K.resample_stat(
        x,
        lambda v: K.first_acf_nonpos(K.acf(v, nlags=max(1, v.size // 2))),
        num_samples=128, sample_frac=0.2, random_state=seed,
    ),
    "resample_first_acf_locmin": lambda x, seed: K.resample_stat(
        x,
        lambda v: K.first_local_min(K.acf(v, nlags=max(1, v.size // 2))),
        num_samples=128, sample_frac=0.2, random_state=seed,
    ),
    # trev/tc3 on 32 IAAFT surrogates relative to original
    # (randomize.py:764-1015)
    "surr_trev": lambda x, seed: K.surrogate_stat(
        x, K.trev_stat, surrogate_num=32, random_state=seed
    ) - K.trev_stat(x),
    "surr_tc3": lambda x, seed: K.surrogate_stat(
        x, K.tc3_stat, surrogate_num=32, random_state=seed
    ) - K.tc3_stat(x),
    "ami_curvature": lambda x, seed: K.ami_curvature(x, random_state=seed),
    "surprise_distribution": lambda x, seed: K.surprise(
        x, strategy="distribution", random_state=seed
    ),
    "surprise_transition": lambda x, seed: K.surprise(
        x, strategy="1-transition", random_state=seed
    ),
}


#: features sharing one random draw: surr_trev and surr_tc3 evaluate
#: different statistics over the SAME 32 IAAFT surrogates (reference
#: semantics do not couple the two draws, so aliasing the seeds is a
#: free choice) — one seed means kernels.iaaft_set computes the
#: surrogate set once for both (round-4 perf item).
SEED_ALIAS = {"surr_trev": "surr_iaaft", "surr_tc3": "surr_iaaft"}


def feature_seed(conv_id: str, feature: str, base_seed: int = 42) -> int:
    """Deterministic per-(conv, feature) seed — stable under shuffle."""
    import zlib

    feature = SEED_ALIAS.get(feature, feature)
    return (base_seed * 1_000_003 + zlib.crc32(f"{conv_id}:{feature}".encode())) % (2**31)


def _zscore(x: np.ndarray) -> np.ndarray:
    sd = x.std(ddof=0)
    return (x - x.mean()) / sd if sd > 0 else x - x.mean()


def _strength(x: np.ndarray, which: str) -> float:
    """ft_trend_strenght / ft_season_strenght (``global_stats.py:119-207``):
    1 − var(resid)/var(deseasonalized|detrended), clamped to [0,1]."""
    trend, season, resid = K.decompose(x)
    base = x - season if which == "trend" else x - trend
    vb = base.var(ddof=1)
    if not np.isfinite(vb) or vb == 0:
        return np.nan
    return float(min(1.0, max(0.0, 1.0 - resid.var(ddof=1) / vb)))


def _walker_cross_frac(x: np.ndarray) -> float:
    """ft_walker_cross_frac (``general.py:1069-1148``): fraction of
    steps where the walker path crosses the series."""
    w = K.walker_path(x)
    side = w >= x
    return float(np.mean(side[1:] != side[:-1]))


def _resolve_features(features: Iterable[str] | None) -> list[str]:
    if features is not None:
        names = list(features)
    else:
        names = list(FEATURE_KERNELS) + list(SEEDED_FEATURE_KERNELS)
    unknown = set(names) - set(FEATURE_KERNELS) - set(SEEDED_FEATURE_KERNELS)
    if unknown:
        raise ValueError(f"unknown features: {sorted(unknown)}")
    return names


def _batched_results(name: str, xs: list[np.ndarray]) -> list[tuple]:
    """(result, wall_ms) of ``BATCHED_FEATURE_KERNELS[name]`` for every
    series in ``xs``: one call per stack of same-length series, its
    wall split evenly over the stack."""
    by_len: dict[int, list[int]] = {}
    for i, x in enumerate(xs):
        by_len.setdefault(x.size, []).append(i)
    out: list[tuple] = [()] * len(xs)
    for idx in by_len.values():
        t0 = time.perf_counter()
        try:
            stack = np.stack([xs[i] for i in idx])
            res = list(BATCHED_FEATURE_KERNELS[name](stack))
        except Exception:
            res = [np.nan] * len(idx)  # error containment, as per series
        ms = (time.perf_counter() - t0) * 1000.0 / len(idx)
        for i, r in zip(idx, res):
            out[i] = (r, ms)
    return out


def _feature_arrays(
    names: list[str],
    xs: list[np.ndarray],
    seed_of: Callable[[int, str], int],
    measure_time: bool = False,
) -> Iterator[tuple[int, str, np.ndarray, float | None]]:
    """The per-feature kernel loop: ``(i, name, arr, ms)`` for each
    series ``xs[i]`` and each feature of ``names``, in that order.
    ``arr`` is the result as a 1-d float array, NaN when the kernel
    raised (error containment, reference ``_internal.py:594-614``);
    seeded kernels get ``seed_of(i, name)``; features in
    ``BATCHED_FEATURE_KERNELS`` run once per stack of same-length
    series.  ``ms`` is the kernel wall when ``measure_time``, else
    None."""
    pre = {n: _batched_results(n, xs) for n in names
           if n in BATCHED_FEATURE_KERNELS}
    for i, x in enumerate(xs):
        for name in names:
            if name in pre:
                res, ms = pre[name][i]
            else:
                t0 = time.perf_counter() if measure_time else 0.0
                try:
                    if name in SEEDED_FEATURE_KERNELS:
                        res = SEEDED_FEATURE_KERNELS[name](x, seed_of(i, name))
                    else:
                        res = FEATURE_KERNELS[name](x)
                except Exception:
                    res = np.nan
                ms = (time.perf_counter() - t0) * 1000.0
            yield (i, name, np.atleast_1d(np.asarray(res, dtype=float)),
                   ms if measure_time else None)


def _summary_rows(arr: np.ndarray, summaries: tuple[str, ...]) -> list[tuple]:
    """``[(summary, value), ...]`` of one feature array: one value
    passes through with summary '' (the reference does not summarize
    scalars, tsmfe.py:469-471), an empty array has no rows."""
    if arr.size <= 1:
        return [("", float(v)) for v in arr]
    return summarize_array(arr, summaries)


def feature_name(feature: str, summary: str) -> str:
    """The reference's result name (tsmfe.py:427-438): ``feature`` for
    an unsummarized value, else ``feature.summary``."""
    return f"{feature}.{summary}" if summary else feature


def _series_keys(df: DataFrame) -> tuple[bool, list[str]]:
    has_series = "series" in df.columns
    return has_series, ["conv_id", "series"] if has_series else ["conv_id"]


def series_features(
    df: DataFrame,
    features: Iterable[str] | None = None,
    max_points: int = 4096,
    order_col: str = "turn_idx",
    value_col: str = "value",
    measure_time: bool = False,
    parallelism: int | None = None,
    min_points: int = 0,
    summaries: Iterable[str] | None = None,
) -> DataFrame:
    """Long feature table over per-series Arrow kernels.

    Execution: one partition-level runner (``grouped.map_sorted_groups``)
    — repartition on the series keys, sort within partitions by
    (keys, ``order_col``, ``value_col``), one ``mapInPandas`` that cuts
    the groups with numpy and runs ``_feature_arrays`` on batches of
    complete series (a batched feature stacks the same-length series
    of a batch, bit-identical to its per-series kernel).

    Row order: each series is sorted by ``order_col`` with ties broken
    by ``value_col``, a total order of its rows, so the series (and its
    ``max_points`` cut) does not depend on input splits, partition
    count or shuffle order.

    ``summaries``: when given, the kernel emits the final summary rows
    (conv_id, series, name, value[, wall_ms]) itself (``_summary_rows``,
    ``name`` from ``feature_name``): it holds each feature's complete
    value array, so no second exchange over long feature rows is
    needed.  Each series' rows are ordered by ``name`` (code points,
    which is Spark's UTF-8 byte order), and the runner hands the series
    over in (conv_id, series) order, so every output partition is
    ordered by (conv_id, series, name) with no Spark projection or sort
    after the kernel.

    ``min_points``: skip series shorter than this INSIDE the kernel
    (empty output for the group) — one scan + one shuffle, instead of
    the aggregate + broadcast-semi-join pre-filter pattern which costs
    an extra full pass over the input.

    Input: (conv_id[, series], turn_idx, value).  Output rows without
    ``summaries``: (conv_id, series, feature, idx, value); scalar
    features have idx=0; array features one row per element.

    ``max_points``: quadratic-kernel cap — each group is truncated to
    its most-recent ``max_points`` observations after sorting (the
    reference's tail-truncation semantics, test_a.py:27).

    ``measure_time``: add a ``wall_ms`` column = wall-clock of the
    feature's kernel call (reference ``measure_time='total'``,
    tsmfe.py:128-165; array rows of one feature share the value).  A
    batched feature stamps each series of a stack with the stack's
    wall divided by its size.

    ``parallelism``: partition count of the stage's only shuffle
    (``map_sorted_groups``' default when None)."""
    names = _resolve_features(features)
    has_series, keys = _series_keys(df)
    summarized = summaries is not None
    summ_names = tuple(summaries) if summarized else ()
    columns = (["conv_id", "series", "name", "value"] if summarized else
               ["conv_id", "series", "feature", "idx", "value"])
    columns += ["wall_ms"] if measure_time else []

    def kernel(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(dtype=float)
        convs = pdf["conv_id"].to_numpy()
        sers = pdf["series"].to_numpy() if has_series else None
        groups = []
        for a, b in zip(starts[:-1].tolist(), starts[1:].tolist()):
            if b - a >= min_points:
                groups.append((convs[a], sers[a] if has_series else value_col,
                               vals[max(a, b - max_points): b].copy()))
        cols: dict[str, list] = {c: [] for c in columns}
        gis: list[int] = []     # each summary row's series index
        for gi, feat, arr, ms in _feature_arrays(
            names, [g[2] for g in groups],
            lambda gi, name: feature_seed(groups[gi][0], name), measure_time,
        ):
            if summarized:
                rows = _summary_rows(arr, summ_names)
                cols["name"].extend(feature_name(feat, s) for s, _ in rows)
                cols["value"].extend(v for _, v in rows)
                n_rows = len(rows)
                gis.extend([gi] * n_rows)
            else:
                cols["feature"].extend([feat] * arr.size)
                cols["idx"].extend(range(arr.size))
                cols["value"].extend(arr.tolist())
                n_rows = arr.size
            cols["conv_id"].extend([groups[gi][0]] * n_rows)
            cols["series"].extend([groups[gi][1]] * n_rows)
            if measure_time:
                cols["wall_ms"].extend([ms] * n_rows)
        if summarized:      # each series' rows in name order
            order = np.lexsort((np.array(cols["name"]), gis))
            cols = {c: np.array(v, dtype=object if _COLUMN_TYPES[c] == "string"
                                else float)[order] for c, v in cols.items()}
        return pd.DataFrame(cols)

    schema = ", ".join(f"{c} {_COLUMN_TYPES[c]}" for c in columns)
    return map_sorted_groups(df.select(*keys, order_col, value_col), keys,
                             [order_col, value_col], kernel, schema,
                             parallelism)


def spark_percentile(v: np.ndarray, p: float) -> float:
    """Spark SQL ``percentile(col, p)`` of the sorted, non-empty,
    NaN-free ``v``, to the bit: at position (n − 1)·p, ``v[lo]`` when
    ``lo == hi`` or ``v[lo] == v[hi]``, else (hi − pos)·v[lo] +
    (pos − lo)·v[hi] (``PercentileBase.getPercentile``)."""
    pos = (v.size - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or v[lo] == v[hi]:
        return float(v[lo])
    return (hi - pos) * float(v[lo]) + (pos - lo) * float(v[hi])


CI_SCHEMA = (
    "conv_id string, series string, name string, value double, "
    "ci_low double, ci_high double, n_resamples bigint"
)


def bootstrap_ci(
    df: DataFrame,
    features: Iterable[str] | None = None,
    summaries: Iterable[str] = DEFAULT_SUMMARIES,
    sample_num: int = 128,
    confidence: float = 0.95,
    max_points: int = 4096,
    order_col: str = "turn_idx",
    value_col: str = "value",
    base_seed: int = 1234,
) -> DataFrame:
    """Bootstrap CI rows (``CI_SCHEMA``) per (conv_id, series, name)
    (reference ``extract_with_confidence``, tsmfe.py:1079-1248: iid
    resampling WITH replacement, fresh seed per iteration), on
    ``grouped.map_sorted_groups`` like ``series_features``.

    Per series (runner order, last ``max_points`` points) the worker
    draws resample r with ``RandomState(feature_seed(conv,
    f"bootstrap:{r}", base_seed))`` and runs ``_feature_arrays`` over
    all resamples at once (a batched kernel gets one (sample_num, n)
    stack; seeded kernels get ``feature_seed(conv, f"{name}:{r}",
    base_seed)``).  Per name (``feature`` or ``feature.summary``), NaN
    resample values are dropped: ``value`` is the mean of the rest,
    ``ci_low``/``ci_high`` their ``spark_percentile`` at α/2 and
    1 − α/2 (α = 1 − confidence), ``n_resamples`` their count; with
    none left, ``value``/``ci_*`` are NULL."""
    names = _resolve_features(features)
    summ_names = tuple(summaries)
    has_series, keys = _series_keys(df)
    p_lo = 0.5 * (1.0 - confidence)
    p_hi = 1.0 - p_lo

    def kernel(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        vals = pdf[value_col].to_numpy(dtype=float)
        convs = pdf["conv_id"].to_numpy()
        sers = pdf["series"].to_numpy() if has_series else None
        rows = []
        for a, b in zip(starts[:-1].tolist(), starts[1:].tolist()):
            conv, x = convs[a], vals[max(a, b - max_points): b]
            xs = [x[np.random.RandomState(
                feature_seed(conv, f"bootstrap:{r}", base_seed)
            ).randint(x.size, size=x.size)] for r in range(sample_num)]
            by_name: dict[str, list[float]] = {}
            for _, name, arr, _ in _feature_arrays(
                names, xs,
                lambda r, name: feature_seed(conv, f"{name}:{r}", base_seed),
            ):
                for summ, v in _summary_rows(arr, summ_names):
                    by_name.setdefault(feature_name(name, summ), []).append(v)
            ser = sers[a] if has_series else value_col
            for name, got in by_name.items():
                v = np.sort(got)
                v = v[~np.isnan(v)]
                ci = ((v.mean(), spark_percentile(v, p_lo),
                       spark_percentile(v, p_hi)) if v.size else
                      (np.nan,) * 3)
                rows.append((conv, ser, name, *ci, v.size))
        return pd.DataFrame(rows, columns=[
            "conv_id", "series", "name", "value", "ci_low", "ci_high",
            "n_resamples"])

    return map_sorted_groups(df.select(*keys, order_col, value_col), keys,
                             [order_col, value_col], kernel, CI_SCHEMA)
