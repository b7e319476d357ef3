"""Independent correctness oracles for the numpy kernel tail.

The driver contract + tier goldens verify the SQL operators and the
Arrow pipeline, but most kernels in functions/kernels.py were (round 1)
only checked against themselves.  Every test here asserts against
something the kernels did NOT produce:

  * literal textbook definitions re-derived inline (O(n²) sums, direct
    DFT, brute-force loops),
  * hand-computed small-n values,
  * published constants (MacKinnon critical values, chi² quantiles,
    logistic-map invariants),
  * qualitative discrimination on canonical processes (random walk vs
    white noise, sine vs noise) that the reference's statsmodels /
    nolds / arch backends are known to produce.

Pure numpy — no SparkSession — so the whole file runs in seconds.
Reference citations: the ft_* methods these kernels re-derive live in
/root/reference/tspymfe (autocorr.py, stat_tests.py, info_theory.py,
general.py, model_based.py, landmarking.py, freq_domain.py).
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pytest

from ts_pymfe_spark.functions import kernels as K
from ts_pymfe_spark.functions import landmarking as LM

RNG_SEED = 7


@pytest.fixture(scope="module")
def procs():
    """Canonical processes, one shared RNG so values are reproducible."""
    rng = np.random.default_rng(RNG_SEED)
    n = 512
    t = np.arange(n)
    wn = rng.standard_normal(n)
    rw = np.cumsum(rng.standard_normal(n))
    sine12 = np.sin(2 * np.pi * t / 12)
    sine12n = sine12 + 0.05 * rng.standard_normal(n)
    x = 0.4
    lm = []
    for _ in range(n + 100):
        x = 4.0 * x * (1 - x)
        lm.append(x)
    logistic = np.array(lm[100:])
    arch = np.zeros(n)
    for i in range(1, n):
        sig2 = 0.2 + 0.75 * arch[i - 1] ** 2
        arch[i] = math.sqrt(sig2) * rng.standard_normal()
    return dict(rng=rng, n=n, t=t, wn=wn, rw=rw, sine12=sine12,
                sine12n=sine12n, logistic=logistic, arch=arch)


# ---------------------------------------------------------------------------
# Definition oracles: exact numerical agreement with the literal formula
# ---------------------------------------------------------------------------

def test_acf_fft_matches_literal_definition(procs):
    """FFT ACF (autocorr.py:128-191 semantics) vs the O(n·k) direct sum."""
    x = procs["wn"][:200]
    n = x.size
    mu = x.mean()
    c0 = np.sum((x - mu) ** 2) / n
    for adjusted in (True, False):
        got = K.acf(x, nlags=24, adjusted=adjusted)
        for k in range(1, 25):
            d = (n - k) if adjusted else n
            expect = np.sum((x[:-k] - mu) * (x[k:] - mu)) / d / c0
            assert got[k - 1] == pytest.approx(expect, abs=1e-10)


def test_pacf_ols_matches_independent_regression(procs):
    """pacf(method='ols-adjusted'): last coef of x_t ~ [1, lags],
    re-derived via the normal equations instead of lstsq."""
    x = procs["sine12n"][:150]
    n = x.size
    x0 = x - x.mean()
    got = K.pacf_ols(x, nlags=8)
    for k in range(1, 9):
        cols = [x0[k - j - 1: n - j - 1] for j in range(k)]
        X = np.column_stack([np.ones(n - k)] + cols)
        beta = np.linalg.solve(X.T @ X, X.T @ x0[k:])
        expect = beta[-1] * n / (n - k)
        assert got[k - 1] == pytest.approx(expect, rel=1e-8)


def test_periodogram_matches_direct_dft_sum(procs):
    """Hamming periodogram vs the literal DFT sum |Σ x_t w_t e^{-iωt}|²."""
    x = procs["wn"][:64]
    n = x.size
    win = np.hamming(n)
    xd = (x - x.mean()) * win
    freqs, power = K.periodogram_hamming(x)
    for idx, f in enumerate(freqs):
        s = complex(0.0)
        for tt in range(n):
            s += xd[tt] * np.exp(-2j * np.pi * f * tt)
        p = abs(s) ** 2 / (win * win).sum()
        if not (n % 2 == 0 and idx == len(freqs) - 1):
            p *= 2  # one-sided doubling, Nyquist excluded for even n
        assert power[idx] == pytest.approx(p, rel=1e-8)


def test_ljung_box_matches_formula_and_chi2(procs):
    """Q_h = n(n+2)Σ r_k²/(n−k) with unadjusted acf; p from chi²(h)."""
    x = procs["wn"][:120]
    n = x.size
    mu = x.mean()
    c0 = np.sum((x - mu) ** 2)
    r = np.array(
        [np.sum((x[:-k] - mu) * (x[k:] - mu)) / c0 for k in range(1, 9)]
    )
    q_expect = n * (n + 2) * np.cumsum(r**2 / (n - np.arange(1, 9)))
    q_got, p_got = K.ljung_box(x, max_lags=8)
    assert np.allclose(q_got, q_expect, rtol=1e-9)
    assert np.all((p_got >= 0) & (p_got <= 1))


def test_chi2_sf_against_published_quantiles():
    """Upper-tail chi² vs standard table values (Abramowitz & Stegun)."""
    assert K.chi2_sf(3.841, 1) == pytest.approx(0.05, abs=2e-4)
    assert K.chi2_sf(5.991, 2) == pytest.approx(0.05, abs=2e-4)
    assert K.chi2_sf(18.307, 10) == pytest.approx(0.05, abs=2e-4)
    assert K.chi2_sf(6.635, 1) == pytest.approx(0.01, abs=2e-4)
    assert K.chi2_sf(0.0, 3) == pytest.approx(1.0, abs=1e-12)


def test_norm_cdf_against_published_values():
    assert K.norm_cdf(0.0) == pytest.approx(0.5, abs=1e-12)
    assert K.norm_cdf(1.959963985) == pytest.approx(0.975, abs=1e-9)
    assert K.norm_cdf(-1.644853627) == pytest.approx(0.05, abs=1e-9)


def test_adf_pvalue_anchors_mackinnon_critical_values():
    """MacKinnon constant-only critical values: -3.43→1%, -2.86→5%."""
    assert K.adf_pvalue_approx(-3.43) == pytest.approx(0.01, abs=0.005)
    assert K.adf_pvalue_approx(-2.86) == pytest.approx(0.05, abs=0.01)
    assert K.adf_pvalue_approx(-10.0) <= 0.01  # clamped lower tail
    assert K.adf_pvalue_approx(1.0) > 0.9


def test_ami_matches_literal_joint_histogram(procs):
    """AMI via histogram2d vs a literal double-loop binning + H sums."""
    x = procs["sine12n"][:100]
    lag, bins = 2, 8
    a, b = x[:-lag], x[lag:]
    # independent binning: same equal-width rule, hand-rolled
    lo_a, hi_a = a.min(), a.max()
    lo_b, hi_b = b.min(), b.max()
    joint = np.zeros((bins, bins))
    for va, vb in zip(a, b):
        ia = min(int((va - lo_a) / ((hi_a - lo_a) / bins)), bins - 1)
        ib = min(int((vb - lo_b) / ((hi_b - lo_b) / bins)), bins - 1)
        joint[ia, ib] += 1
    p = joint / joint.sum()

    def ent(q):
        q = q[q > 0]
        return -np.sum(q * np.log(q))

    expect = ent(p.sum(axis=1)) + ent(p.sum(axis=0)) - ent(p.ravel())
    got = K.ami(x, lags=[lag], num_bins=bins)[0]
    assert got == pytest.approx(expect, rel=1e-9)


def test_sample_entropy_matches_literal_count(procs):
    """SampEn = −ln(A/B) with brute-force Chebyshev template counting."""
    x = procs["wn"][:80]
    m, r = 2, 0.2 * x.std(ddof=0)

    def brute_count(mm):
        tpl = [x[i: i + mm] for i in range(x.size - mm + 1)]
        c = 0
        for i in range(len(tpl)):
            for j in range(i + 1, len(tpl)):
                if np.max(np.abs(tpl[i] - tpl[j])) <= r:
                    c += 1
        return c

    a, b = brute_count(m + 1), brute_count(m)
    assert K.sample_entropy(x, m=m) == pytest.approx(-math.log(a / b), rel=1e-12)


def test_approx_entropy_matches_literal_phi(procs):
    """ApEn = φ(m) − φ(m+1), φ = mean log of self-inclusive match freq."""
    x = procs["sine12n"][:80]
    m, r = 2, 0.2 * x.std(ddof=0)

    def phi(mm):
        tpl = [x[i: i + mm] for i in range(x.size - mm + 1)]
        nn = len(tpl)
        tot = 0.0
        for i in range(nn):
            c = sum(
                1 for j in range(nn)
                if np.max(np.abs(tpl[i] - tpl[j])) <= r
            )
            tot += math.log(c / nn)
        return tot / nn

    assert K.approx_entropy(x, m=m) == pytest.approx(
        phi(m) - phi(m + 1), rel=1e-10
    )


def test_embed_is_takens_most_recent_first():
    x = np.arange(10.0)
    e = K._embed(x, dim=3, lag=2)
    # row i = [x_{i+4}, x_{i+2}, x_i] (most recent first, lag 2)
    assert e.shape == (6, 3)
    assert list(e[0]) == [4.0, 2.0, 0.0]
    assert list(e[-1]) == [9.0, 7.0, 5.0]


def test_lz_complexity_hand_case():
    """Hand parse of the symbol stream 0101010101 under the greedy
    grow-until-new scheme: 0 | 1 | 01 | 010 | 10 → 5 phrases
    ({0},{1},{01},{010},{10}), trailing '1' re-used."""
    x = np.array([0.0, 1, 0, 1, 0, 1, 0, 1, 0, 1])
    got = K.lz_complexity(x, num_bins=2)
    n = 10
    assert got == pytest.approx(5 / (n / math.log2(n)))


@pytest.mark.parametrize("bad", [np.nan, np.inf, -np.inf])
def test_lz_complexity_non_finite_is_nan(bad):
    """A non-finite point makes the equal-width discretisation undefined
    (the reference raises and scores NaN); it must not collapse the
    series to one symbol and score it as constant."""
    x = np.random.default_rng(0).normal(size=600)
    x[100] = bad
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert math.isnan(K.lz_complexity(x))


@pytest.mark.parametrize("power", [np.zeros(256), np.full(8, np.inf)])
def test_ps_entropy_of_flat_spectrum_is_nan(power):
    """A zero or non-finite total power has no distribution to take the
    entropy of (scipy.stats.entropy gives NaN): no 0/0 warning, and no
    (negative) zero that would score a flat series as fully ordered."""
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert math.isnan(K.ps_entropy(power))
        assert math.isnan(
            K.ps_entropy(K.periodogram_hamming(np.full(300, 2.5))[1]))


@pytest.mark.parametrize("bad", [np.nan, np.inf])
def test_approx_entropy_non_finite_is_nan_without_the_pass(bad):
    """A non-finite point in the cut series scores NaN before the
    O(n²) match-count pass: no log(0) warning, no memo entry."""
    x = np.random.default_rng(1).normal(size=600)
    x[300] = bad
    before = set(K._MEMO)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert math.isnan(K.approx_entropy(x))
    assert set(K._MEMO) == before


def test_walker_path_hand_recurrence():
    x = np.array([1.0, 2.0, 3.0])
    w = K.walker_path(x, step_size=0.5)
    assert w[0] == pytest.approx(2.0)            # mean start
    assert w[1] == pytest.approx(2.0 + 0.5 * (1.0 - 2.0))  # 1.5
    assert w[2] == pytest.approx(1.5 + 0.5 * (2.0 - 1.5))  # 1.75


def test_moving_threshold_hand_recurrence():
    xs = np.array([0.5, 2.0, 0.1])
    thr = K.moving_threshold(xs, rate_absorption=0.1, rate_decay=0.1)
    assert thr[0] == pytest.approx(0.9)           # decay from 1.0
    assert thr[1] == pytest.approx(1.1 * 2.0)     # absorbed spike
    assert thr[2] == pytest.approx(0.9 * 2.2)     # decay again


def test_force_potential_hand_leapfrog():
    """First two leapfrog steps of the sine potential by hand."""
    x = np.array([0.0, 1.0, -1.0, 0.5])
    sd = x.std(ddof=0)
    xs = (x - x.mean()) / sd
    alpha, fric, dt = 1.0, 1.0, 0.1
    p, v = xs[0], 0.0
    expect = []
    for i in range(4):
        a = -alpha * math.sin(p / alpha) + xs[i] - fric * v
        v = v + dt * a
        p = p + dt * v
        expect.append(p)
    got = K.force_potential(x)
    assert np.allclose(got, expect, rtol=1e-12)


def test_stick_angles_hand_case():
    """x = [1, -1, 2, 3]: positive idx {0,2,3}, negative {1}."""
    x = np.array([1.0, -1.0, 2.0, 3.0])
    n = 4
    pos = [math.atan((n - 1) * (2.0 - 1.0) / 2), math.atan((n - 1) * (3.0 - 2.0) / 1)]
    got = K.stick_angles(x)
    assert np.allclose(np.sort(got), np.sort(pos))


def test_spikiness_closed_form_equals_literal_loo(procs):
    x = procs["wn"][:40]
    got = K.spikiness(x)
    expect = np.array(
        [np.var(np.delete(x, i), ddof=1) for i in range(x.size)]
    )
    assert np.allclose(got, expect, rtol=1e-10)


def test_moving_stats_match_pandas_rolling(procs):
    import pandas as pd

    x = procs["sine12n"][:120]
    sd0 = x.std(ddof=0)
    z = (x - x.mean()) / sd0
    w = K._win_size(z.size, 0.1)
    s = pd.Series(z)
    assert np.allclose(
        K.moving_stat(x, "avg"),
        s.rolling(w, center=True).mean().dropna().to_numpy(),
        rtol=1e-10,
    )
    assert np.allclose(
        K.moving_stat(x, "sd"),
        s.rolling(w, center=True).std(ddof=1).dropna().to_numpy(),
        rtol=1e-10,
    )
    assert np.allclose(
        K.moving_stat(x, "var"),
        s.rolling(w, center=True).var(ddof=1).dropna().to_numpy(),
        rtol=1e-10,
    )


def test_tiled_kernels_match_array_split(procs):
    x = procs["wn"][:100]
    parts = np.array_split(x, 16)
    assert np.allclose(K.lumpiness(x), [p.var(ddof=1) for p in parts])
    assert np.allclose(K.stability(x), [p.mean() for p in parts])
    assert np.allclose(K.local_range(x), [p.max() - p.min() for p in parts])


def test_ioe_stats_matches_literal_reimplementation(procs):
    """Iterative outlier exclusion (reference _utils.py:248-350):
    re-derived step-by-step with plain Python."""
    x = procs["sine12n"][:100]
    got = K.ioe_stats(x, np.mean, differentiate=True)
    sd = x.std(ddof=0)
    xs = (x - x.mean()) / sd
    ab = np.abs(xs)
    step = 0.05 * ab.std(ddof=0)
    thr = ab.min()
    expect = []
    for _ in range(min(1024, int(np.ceil(ab.max() / step)))):
        thr += step
        idx = [i for i, v in enumerate(ab) if v >= thr]
        if len(idx) <= 1:
            break
        expect.append(np.mean(np.diff(idx)))
    assert np.allclose(got, expect, rtol=1e-12)


def test_embed_in_shell_hand_case():
    """dim=2 lag=1 embedding of a z-scored ramp; count norms in [0,1]."""
    x = np.array([0.0, 1.0, 2.0, 3.0])
    sd = x.std(ddof=0)
    z = (x - x.mean()) / sd
    emb = np.column_stack([z[1:], z[:-1]])
    norms = np.sqrt((emb**2).sum(axis=1))
    expect = np.mean((norms >= 0.0) & (norms <= 1.0))
    assert K.embed_in_shell(x) == pytest.approx(expect)


def test_lilliefors_is_ks_distance_to_fitted_normal():
    """Hand-computed D for n=4 against the erf CDF."""
    x = np.array([0.0, 1.0, 2.0, 10.0])
    mu, sd = x.mean(), x.std(ddof=1)
    z = np.sort((x - mu) / sd)
    cdf = np.array([0.5 * (1 + math.erf(v / math.sqrt(2))) for v in z])
    n = 4
    d_plus = np.max(np.arange(1, n + 1) / n - cdf)
    d_minus = np.max(cdf - np.arange(0, n) / n)
    assert K.lilliefors_stat(x, "norm") == pytest.approx(
        max(d_plus, d_minus), rel=1e-9
    )


def test_trev_tc3_hand_case():
    x = np.array([1.0, 3.0, 2.0, 5.0])
    d = np.array([2.0, -1.0, 3.0])
    assert K.trev_stat(x) == pytest.approx(
        np.mean(d**3) / np.mean(d**2) ** 1.5
    )
    num = np.mean([1 * 3 * 2, 3 * 2 * 5])
    den = abs(np.mean([1 * 3, 3 * 2, 2 * 5])) ** 1.5
    assert K.tc3_stat(x) == pytest.approx(num / den)


def test_peak_trough_frac_on_pure_sine(procs):
    """Sine of period 12: the per-period argmax sits at phase 3/12 and
    the argmin at 9/12 — exact fractions."""
    t = np.arange(480)
    s = np.sin(2 * np.pi * t / 12)
    # 0-based argmax pos 3, +1 (reference-executed 1-based) -> 4/12
    assert K.peak_trough_frac(s, 12, "peak") == pytest.approx(4 / 12)
    assert K.peak_trough_frac(s, 12, "trough") == pytest.approx(10 / 12)


# ---------------------------------------------------------------------------
# Behavioral oracles: canonical-process discrimination
# ---------------------------------------------------------------------------

def test_unit_root_tests_discriminate_rw_from_wn(procs):
    wn, rw = procs["wn"], procs["rw"]
    # ADF: very negative for stationary noise, near zero for a RW
    assert K.adf_stat(wn) < -3.5 < K.adf_stat(rw)
    # PP: same direction, larger magnitudes
    assert K.pp_stat(wn) < -10 < K.pp_stat(rw)
    # DF-GLS
    assert K.dfgls_stat(wn) < -2.5 < K.dfgls_stat(rw)
    # Zivot-Andrews (break-adjusted): stationary well below -5
    assert K.za_stat(wn) < -5 < K.za_stat(rw)
    # KPSS flips: H0 is stationarity — wn small (below 5% crit 0.463)
    assert K.kpss_stat(wn) < 0.463
    assert K.kpss_stat(rw) > K.kpss_stat(wn)


def test_arch_lm_detects_conditional_heteroskedasticity(procs):
    stat_arch = K.arch_lm_stat(procs["arch"])[0]
    stat_wn = K.arch_lm_stat(procs["wn"])[0]
    # chi²(12) 5% critical value is 21.03
    assert stat_arch > 21.03 > stat_wn


def test_hurst_and_dfa_exponents(procs):
    """White noise ~0.5; RW: R/S→~1, DFA α→~1.5 (published values)."""
    assert 0.4 < K.hurst_rs(procs["wn"]) < 0.7
    assert K.hurst_rs(procs["rw"]) > 0.85
    assert 0.4 < K.dfa(procs["wn"]) < 0.7
    assert 1.2 < K.dfa(procs["rw"]) < 1.8


def test_corr_dim_logistic_map_near_one(procs):
    """G-P correlation dimension of the fully chaotic logistic map is
    ≈1 (its invariant measure fills [0,1]); iid noise embeds at the
    embedding dimension (≈2 here), so the ordering is strict."""
    d_lm = K.corr_dim(procs["logistic"])
    d_wn = K.corr_dim(procs["wn"])
    assert 0.7 < d_lm < 1.15
    assert d_wn > d_lm + 0.4


def test_max_lyap_positive_for_chaos_only(procs):
    """Rosenstein λ₁ > 0 for the logistic map (true value ln 2), and
    clearly larger than for a periodic signal."""
    lam_chaos = K.max_lyap(procs["logistic"])
    lam_sine = K.max_lyap(procs["sine12"])
    assert lam_chaos > 0.05
    assert lam_chaos > 3 * abs(lam_sine)


def test_period_recovers_impulse_train(procs):
    """argmax|ACF| semantics (reference _period.py:14-45): an impulse
    train of period 12 has ACF peaks only at multiples of 12, so the
    returned period must be one of them (the adjusted 1/(n−k) divisor
    can promote a higher harmonic — same behavior as statsmodels
    acf(adjusted=True), which the reference calls)."""
    rng = np.random.default_rng(3)
    t = np.arange(480)
    imp = (t % 12 == 0).astype(float) + 0.01 * rng.standard_normal(480)
    p = K.ts_period(imp)
    assert p % 12 == 0 and p >= 12


def test_ar2_cycle_period_recovers_seasonal_cycle(procs):
    assert K.ar2_cycle_period(procs["sine12n"]) == pytest.approx(12.0, abs=0.5)


def test_spectral_entropy_discriminates(procs):
    h_sine = K.ps_entropy(K.periodogram_hamming(procs["sine12"])[1])
    h_wn = K.ps_entropy(K.periodogram_hamming(procs["wn"])[1])
    assert h_sine < 0.3 < 0.8 < h_wn <= 1.0


def test_low_freq_power_detects_trend(procs):
    slow = np.linspace(0, 1, 512) + 0.01 * procs["wn"]
    assert K.low_freq_power(slow) > 0.5
    assert K.low_freq_power(procs["sine12"]) < 0.1


def test_entropies_order_regular_vs_random(procs):
    assert K.sample_entropy(procs["sine12"]) < K.sample_entropy(procs["wn"])
    assert K.approx_entropy(procs["sine12"]) < K.approx_entropy(procs["wn"])
    assert K.lz_complexity(procs["sine12"]) < K.lz_complexity(procs["wn"])


def test_boxcox_lambda_recovers_transform_family(procs):
    rng = np.random.default_rng(11)
    lognorm = np.exp(0.5 * rng.standard_normal(400))
    norm = rng.standard_normal(400) + 100
    lam_log = K.boxcox_lambda(lognorm)
    lam_norm = K.boxcox_lambda(norm)
    assert lam_log < 0.6            # log-ish data wants λ near 0
    assert 0.5 < lam_norm < 1.5     # normal data wants λ near 1
    assert lam_log < lam_norm


def test_embedding_diagnostics_on_deterministic_signal(procs):
    """Cao E1 rises to ~1 once the attractor unfolds; FNN proportion
    collapses to ~0 for a clean deterministic signal."""
    e1 = K.cao_e1_e2(procs["sine12n"])[0]
    assert e1[0] < 0.2 and e1[5] > 0.85
    fnn = K.fnn_prop(procs["sine12n"])
    assert fnn[0] > 0.5
    assert np.nanmin(fnn[2:]) < 0.05


def test_pred_dvv_sine_more_predictable_than_noise(procs):
    p_sine = K.pred_dvv(procs["sine12"])
    p_wn = K.pred_dvv(procs["wn"])
    # delay-vector variance: deterministic → small at small spans,
    # noise → ≈1 everywhere
    assert np.nanmean(p_sine) < 0.7
    assert np.nanmean(p_wn) > 0.9


def test_gp_r_squared_fits_smooth_signal(procs):
    assert K.gaussian_r_sqr(procs["sine12n"][:128]) > 0.95


def test_lilliefors_discriminates_distributions(procs):
    rng = np.random.default_rng(5)
    normal = rng.standard_normal(300)
    expo = rng.exponential(1.0, 300)
    # 5% critical value for Lilliefors(norm) at n=300 ≈ 0.886/sqrt(n)=0.051
    assert K.lilliefors_stat(normal, "norm") < 0.051
    assert K.lilliefors_stat(expo, "norm") > 0.1
    assert K.lilliefors_stat(expo, "exp") < K.lilliefors_stat(expo, "norm")


def test_moving_kldiv_detects_distribution_shift(procs):
    rng = np.random.default_rng(9)
    iid = rng.standard_normal(512)
    shifted = np.concatenate(
        [rng.standard_normal(256), 5 + rng.standard_normal(256)]
    )
    assert np.nanmean(K.moving_kldiv(shifted)) > 1.5 * np.nanmean(
        K.moving_kldiv(iid)
    )


def test_orthopoly_linearity_curvature_signs():
    n = 256
    t = np.linspace(0, 1, n)
    lin_coef, lin_curv = K.orthopoly_features(2 + 3 * t)
    assert abs(lin_coef) > 1.0
    assert abs(lin_curv) < 1e-8
    _, quad_curv = K.orthopoly_features(t**2)
    assert abs(quad_curv) > 0.5


def test_des_params_track_signal_memory(procs):
    """Holt on a random walk wants α≈1 (level follows last value)."""
    a_rw, _ = K.des_params(procs["rw"][:200])
    assert a_rw > 0.8


def test_landmarking_exact_fit_models_score_zero():
    n = 240
    t = np.linspace(0, 1, n)
    lin = 2 + 3 * t
    assert np.nanmax(LM.landmark_scores(lin, "model_linear")) < 1e-8
    const = np.full(n, 5.0)
    assert np.nanmax(LM.landmark_scores(const, "model_mean")) < 1e-12
    assert np.nanmax(LM.landmark_scores(const, "model_naive")) < 1e-12
    sine = np.sin(2 * np.pi * np.arange(n) / 24)
    assert np.nanmax(LM.landmark_scores(sine, "model_sine")) < 1e-6


def test_landmarking_linear_beats_naive_on_trend(procs):
    """On a strong trend the linear landmarker must beat naive — the
    relative ordering is the reference's landmarking signal."""
    n = 240
    rng = np.random.default_rng(13)
    y = 3 * np.linspace(0, 1, n) + 0.05 * rng.standard_normal(n)
    lin = np.nanmean(LM.landmark_scores(y, "model_linear"))
    naive = np.nanmean(LM.landmark_scores(y, "model_naive"))
    mean = np.nanmean(LM.landmark_scores(y, "model_mean"))
    assert lin < naive < mean


def test_iaaft_preserves_amplitude_distribution(procs):
    """IAAFT surrogates are exact permutations of the original values."""
    x = procs["sine12n"][:128]
    surr = K.iaaft(x, random_state=21)
    assert np.allclose(np.sort(surr), np.sort(x))


def test_seeded_stats_deterministic(procs):
    x = procs["wn"][:100]
    s1 = K.surprise(x, random_state=123)
    s2 = K.surprise(x, random_state=123)
    assert np.array_equal(s1, s2)
    r1 = K.resample_stat(x, np.mean, random_state=77)
    r2 = K.resample_stat(x, np.mean, random_state=77)
    assert np.array_equal(r1, r2)
    # bootstrap means concentrate around the true mean
    assert abs(np.nanmean(r1) - x.mean()) < 3 * x.std(ddof=0) / math.sqrt(
        0.2 * x.size
    )


# ---------------------------------------------------------------------------
# STL decomposition (numpy re-derivation of Cleveland 1990)
# ---------------------------------------------------------------------------

def test_stl_exact_additivity_and_seasonal_recovery():
    """STL must reproduce x = T + S + R exactly and recover a known
    evolving seasonal component (the case classical per-phase means
    cannot represent)."""
    rng = np.random.default_rng(0)
    n = 240
    t = np.arange(n)
    trend0 = 0.02 * t
    season0 = 2.0 * np.sin(2 * np.pi * t / 12) * (1 + 0.3 * t / n)
    x = trend0 + season0 + 0.3 * rng.standard_normal(n)
    T, S, R = K.stl_decompose(x, 12)
    assert np.allclose(T + S + R, x, atol=1e-10)
    assert np.corrcoef(S, season0)[0, 1] > 0.99
    # trend tracks the true line (loess, so ends may flare slightly)
    assert np.sqrt(np.mean((T - trend0) ** 2)) < 0.5
    # seasonal has (near-)zero mean per full cycle
    assert abs(S[: 12 * (n // 12)].mean()) < 0.1


def _classical_decompose(ts, period):
    """Classical centered-MA trend + per-phase-means seasonal: the
    baseline the STL divergence tests measure against."""
    x = np.asarray(ts, dtype=float)
    trend = K._trend_ma(x, period)
    phases = np.arange(x.size) % period
    means = np.array([(x - trend)[phases == p].mean()
                      for p in range(period)])
    season = (means - means.mean())[phases]
    return trend, season, x - trend - season


def test_stl_beats_classical_on_evolving_seasonality():
    """Quantifies the round-1 divergence: classical per-phase means are
    constant over time, STL's loess-smoothed cycle-subseries follow
    amplitude drift — so STL residual variance must be smaller on an
    amplitude-modulated seasonal signal."""
    rng = np.random.default_rng(1)
    n = 240
    t = np.arange(n)
    x = (2.0 * np.sin(2 * np.pi * t / 12) * (1 + 0.5 * t / n)
         + 0.2 * rng.standard_normal(n))
    _, _, r_stl = K.stl_decompose(x, 12)
    _, _, r_cls = _classical_decompose(x, 12)
    assert r_stl.var() < r_cls.var()


def test_stl_constant_seasonal_matches_classical_closely():
    """On a STATIONARY seasonal signal the two decompositions agree —
    bounds the divergence for the benign case."""
    rng = np.random.default_rng(2)
    n = 240
    t = np.arange(n)
    x = 1.5 * np.sin(2 * np.pi * t / 12) + 0.1 * rng.standard_normal(n)
    _, s_stl, _ = K.stl_decompose(x, 12)
    _, s_cls, _ = _classical_decompose(x, 12)
    # interior agreement (both ends have edge effects)
    core = slice(24, n - 24)
    rms = np.sqrt(np.mean((s_stl[core] - s_cls[core]) ** 2))
    assert rms < 0.1  # << the 1.5 seasonal amplitude


def test_decompose_routes_seasonal_to_stl():
    """decompose() uses STL when 1 < period <= n/2 (reference
    _detrend.py:163-169 routing) and trend-only otherwise."""
    rng = np.random.default_rng(3)
    n = 240
    t = np.arange(n)
    x = np.sin(2 * np.pi * t / 12) + 0.05 * rng.standard_normal(n)
    T, S, R = K.decompose(x, period=12)
    Ts, Ss, Rs = K.stl_decompose(x, 12)
    assert np.array_equal(S, Ss) and np.array_equal(T, Ts)
    # non-seasonal branch: zero seasonal
    _, S1, _ = K.decompose(rng.standard_normal(100), period=1)
    assert np.all(S1 == 0)


def test_loess_reproduces_line_exactly():
    """Degree-1 loess is exact on affine data regardless of window."""
    y = 3.0 + 2.0 * np.arange(50)
    for q in (7, 21, 101):
        sm = K._loess_apply(K._loess_plan(y.size, q, None), y)
        assert np.allclose(sm, y, atol=1e-8)


def _loess_reference(y, q, xeval=None):
    """One-series loess as a self-contained per-call computation: the
    form the plan/apply split in kernels.py must reproduce bit for bit."""
    y = np.asarray(y, dtype=float)
    n = y.size
    if xeval is None:
        xeval = np.arange(n, dtype=float)
    xe = np.asarray(xeval, dtype=float)
    if n == 1:
        return np.full(xe.size, y[0])
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
    Y = y[idx]
    sw = w.sum(axis=1)
    swx = (w * xc).sum(axis=1)
    swxx = (w * xc * xc).sum(axis=1)
    swy = (w * Y).sum(axis=1)
    swxy = (w * xc * Y).sum(axis=1)
    det = sw * swxx - swx * swx
    with np.errstate(divide="ignore", invalid="ignore"):
        fit = (swxx * swy - swx * swxy) / det
    return np.where(det > 1e-12 * np.maximum(sw * swxx, 1e-300),
                    fit, swy / np.maximum(sw, 1e-300))


def _band_smoother(y, q):
    """The low-pass / trend smoother of ``K.stl_decompose``: the banded
    loess operator on the full integer grid."""
    return K._band_apply(K._band_operator(y.size, q), y)


def _stl_loop_reference(x, period, seasonal=7, inner=5,
                        smoother=_band_smoother):
    """STL with one loess call per cycle-subseries phase per inner
    iteration and every loess weight set rebuilt per call.  The
    low-pass and trend fits use ``smoother``: the banded operator of
    ``K.stl_decompose`` by default, ``_loess_reference`` for the
    per-row form of the original implementation."""
    x = np.asarray(x, dtype=float)
    n = x.size
    tl = int(math.ceil(1.5 * period / (1 - 1.5 / seasonal)))
    tl += 1 - tl % 2
    lp = period + 1 + (period % 2)
    T = np.zeros(n)
    S = np.zeros(n)
    for _ in range(inner):
        D = x - T
        C = np.empty(n + 2 * period)
        for p in range(period):
            sub = D[p::period]
            m = sub.size
            sm = _loess_reference(sub, seasonal,
                                  np.arange(-1, m + 1, dtype=float))
            C[p + period + np.arange(m) * period] = sm[1:-1]
            C[p] = sm[0]
            C[p + (m + 1) * period] = sm[-1]
        L = K._ma_valid(K._ma_valid(K._ma_valid(C, period), period), 3)
        L = smoother(L, lp)
        S = C[period: period + n] - L
        T = smoother(x - S, tl)
    return T, S, x - T - S


@pytest.mark.parametrize(
    "n,period",
    [(240, 12), (512, 256), (511, 255), (101, 50), (64, 2), (9, 4),
     (20, 19), (7, 6)],
)
def test_stl_batched_bit_identical_to_loop(n, period):
    """The batched, plan-reusing STL is bit-identical to the per-phase
    loop: on Gaussian input, on constant input (every loess
    neighbourhood takes the degenerate-det branch) and on lognormal×1e3
    input (where a length-1 subseries fitted by the general formula
    would be 1 ulp off for (20, 19) and (7, 6))."""
    inputs = {
        "gaussian": np.random.default_rng(n).standard_normal(n),
        "constant": np.full(n, 2.5),
        # seed 87 is one at which the general formula's length-1 fit is
        # 1 ulp off y[0] for both (20, 19) and (7, 6), so this input
        # pins the n == 1 rule of _loess_plan
        "lognormal": np.random.default_rng(87).lognormal(size=n) * 1e3,
    }
    for kind, x in inputs.items():
        ref = _stl_loop_reference(x, period)
        got = K.stl_decompose(x, period)
        for part, a, b in zip("TSR", ref, got):
            assert np.array_equal(a, b), (kind, part)
        if period <= n // 2:
            for a, b in zip(ref, K.decompose(x, period)):
                assert np.array_equal(a, b), kind


@pytest.mark.parametrize(
    "n", [1, 2, 3, 4, 7, 8, 9, 20, 64, 101, 240, 511, 512, 1000])
def test_band_operator_matches_per_row_loess(n):
    """The banded loess operator equals the per-row loess of
    ``_loess_reference`` within 1e-13·max|y| for odd and even windows,
    windows wider than the series (q > n, radius inflated by q/n) and
    on constant input (every row on the degenerate-det branch)."""
    qs = [1, 2, 3, 4, 5, 6, 7, 8, 13, 14, 25, 50, 101, 190, 191, 256,
          n - 1, n, n + 1, 2 * n, 3 * n + 2]
    for q in sorted({q for q in qs if q >= 1}):
        rng = np.random.default_rng(1000 * n + q)
        for y in (rng.standard_normal(n), np.full(n, 2.5),
                  rng.lognormal(size=n) * 1e3):
            got = K._band_apply(K._band_operator(n, q), y)
            ref = _loess_reference(y, q)
            assert got.shape == ref.shape
            assert np.max(np.abs(got - ref)) <= 1e-13 * np.max(np.abs(y)), q


_STL_GRID = [(240, 12), (512, 256), (511, 255), (101, 50), (64, 2), (9, 4),
             (20, 19), (7, 6)] + [(512, p) for p in (190, 200, 211, 224, 240,
                                                      255, 256)]


@pytest.mark.parametrize("n,period", _STL_GRID)
def test_stl_within_tolerance_of_per_row_loess_stl(n, period):
    """Full STL with the banded low-pass/trend operators against the
    original per-row-loess STL (``_stl_loop_reference`` with
    ``_loess_reference`` smoothers, which is bit-identical to the
    plan-based STL it replaced): every component within
    1e-12·max|x|."""
    for x in (np.random.default_rng(n + period).standard_normal(n),
              np.full(n, 2.5),
              np.random.default_rng(87).lognormal(size=n) * 1e3,
              np.cumsum(np.random.default_rng(period).standard_normal(n))):
        ref = _stl_loop_reference(x, period, smoother=_loess_reference)
        got = K.stl_decompose(x, period)
        tol = 1e-12 * np.max(np.abs(x))
        for part, a, b in zip("TSR", ref, got):
            assert np.max(np.abs(a - b)) <= tol, part


#: tracemalloc peaks of the plan-based STL this replaced, n = 4096
_STL_PARENT_PEAK_MIB = {300: 118.4, 2000: 785.0}


@pytest.mark.parametrize("period", sorted(_STL_PARENT_PEAK_MIB))
def test_stl_memory_at_4096_points(period):
    """The banded operators are O(q² + n): at n = 4096 STL peaks below
    the per-row plans' O(n·q) peak (118 MiB at period 300, 785 MiB at
    period 2000, where the trend window is 3819 points)."""
    import tracemalloc

    x = np.random.default_rng(period).standard_normal(4096)
    tracemalloc.start()
    try:
        K.stl_decompose(x, period)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= _STL_PARENT_PEAK_MIB[period] * 2 ** 20, peak


def _pacf_lag_reference(x0, k):
    """Unadjusted lag-k coefficient: lstsq of x0_t on [1, x0_{t-1..t-k}]
    over rows t = k..n-1."""
    n = x0.size
    cols = [x0[k - j - 1: n - j - 1] for j in range(k)]
    X = np.column_stack([np.ones(n - k)] + cols)
    beta, *_ = np.linalg.lstsq(X, x0[k:], rcond=None)
    return beta[-1]


def _pacf_ols_loop_reference(ts, nlags, adjusted=True):
    """pacf_ols as one lstsq per lag (the pre-Cholesky implementation)."""
    x = np.asarray(ts, dtype=float)
    n = x.size
    nlags = min(nlags, n // 2 - 1) if n >= 4 else 0
    out = np.full(nlags, np.nan)
    x0 = x - x.mean()
    for k in range(1, nlags + 1):
        coef = _pacf_lag_reference(x0, k)
        if adjusted:
            coef *= n / (n - k)
        out[k - 1] = coef
    return out


def _spy_pacf_fallback(monkeypatch):
    """Record every call pacf_ols makes to its per-lag fallback."""
    fell_back = []
    loop = K._pacf_ols_loop

    def spy(*args):
        fell_back.append(True)
        return loop(*args)

    monkeypatch.setattr(K, "_pacf_ols_loop", spy)
    return fell_back


def _ar_series(n, phi, seed):
    rng = np.random.default_rng(seed)
    x = np.zeros(n)
    for i in range(1, n):
        x[i] = phi * x[i - 1] + rng.standard_normal()
    return x


def _pacf_inputs(n):
    rng = np.random.default_rng(n)
    t = np.arange(n, dtype=float)
    sine = np.sin(2 * np.pi * t / 12)
    ar = np.zeros(n)
    for i in range(1, n):
        ar[i] = 0.99 * ar[i - 1] + rng.standard_normal()
    spike = np.zeros(n)
    spike[n // 2] = 1.0
    return {
        "gaussian": rng.standard_normal(n),
        "lognormal": rng.lognormal(size=n) * 1e3,
        "random_walk": np.cumsum(rng.standard_normal(n)),
        "ar_0.99": ar,
        "near_constant": 1 + 1e-7 * rng.standard_normal(n),
        "sine_1e-3": sine + 1e-3 * rng.standard_normal(n),
        "sine_1e-4": sine + 1e-4 * rng.standard_normal(n),
        "sine_1e-6": sine + 1e-6 * rng.standard_normal(n),
        "sine": sine,
        "ramp": t,
        "ramp_1e-9": t + 1e-9 * rng.standard_normal(n),
        "t_squared": t ** 2,
        "t_mod_2": t % 2,
        "t_mod_5": t % 5,
        "constant": np.full(n, 3.0),
        "spike": spike,
        "sparse_01": (rng.random(n) < 0.1).astype(float),
    }


#: rank-deficient designs (lstsq returns the minimum-norm solution)
#: and a badly scaled one (lstsq's own error is ~1e-9): only the
#: per-lag fallback reproduces either
_PACF_MUST_FALL_BACK = ("constant", "ramp", "sine", "t_mod_2", "t_mod_5",
                        "near_constant")


def _check_pacf_matrix(n, monkeypatch):
    fell_back = _spy_pacf_fallback(monkeypatch)
    nlags = max(1, 1 + n // 10)
    for kind, x in _pacf_inputs(n).items():
        fell_back.clear()
        ref = _pacf_ols_loop_reference(x, nlags)
        got = K.pacf_ols(x, nlags)
        assert got.shape == ref.shape, kind
        if fell_back:
            assert np.array_equal(got, ref, equal_nan=True), kind
        else:
            assert np.max(np.abs(got - ref), initial=0.0) <= 1e-9, kind
        if kind in _PACF_MUST_FALL_BACK and ref.size > 1:
            assert fell_back, kind


@pytest.mark.parametrize("n", [4, 5, 9, 451, 512])
def test_pacf_ols_cholesky_matches_lstsq_loop(n, monkeypatch):
    """One-Cholesky pacf vs the per-lag lstsq loop: max |Δ| ≤ 1e-9 on
    every input, and exactly equal on the inputs that take the
    rank-deficient fallback (which every degenerate design must)."""
    _check_pacf_matrix(n, monkeypatch)


@pytest.mark.parametrize("n", [9, 451, 512])
def test_pacf_ols_small_chunks_match_lstsq_loop(n, monkeypatch):
    """The same contract when a tiny Gram budget splits the lags into
    many chunks (1 to 6 lags each), so every chunk boundary and the
    rank-1 carry of H between chunks is exercised."""
    monkeypatch.setattr(K, "_PACF_CHUNK_ELEMS", 600)
    _check_pacf_matrix(n, monkeypatch)


def test_pacf_ols_memory_bounded_at_4096_points(monkeypatch):
    """Extract's default max_points is 4096 (K = 410 lags).  The chunked
    Gram keeps the peak allocation near the per-lag loop's (~23 MiB
    there) instead of the ~2 GiB a single (K, K+2, K+2) stack takes,
    and the lags at both ends of the first chunk match lstsq."""
    import tracemalloc

    fell_back = _spy_pacf_fallback(monkeypatch)
    n = 4096
    x = _ar_series(n, 0.6, seed=n)
    nlags = 1 + n // 10
    tracemalloc.start()
    try:
        got = K.pacf_ols(x, nlags)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert not fell_back
    assert peak < 64 * 2 ** 20, peak
    c = K._PACF_CHUNK_ELEMS // (nlags + 2) ** 2
    assert 1 < c < nlags
    x0 = x - x.mean()
    for k in (1, 2, nlags - c, nlags - c + 1, nlags):
        ref = _pacf_lag_reference(x0, k) * n / (n - k)
        assert abs(got[k - 1] - ref) <= 1e-9, k


def test_pacf_ols_scale_guard_only_for_tiny_sd(monkeypatch):
    """pacf is scale-invariant.  Below sd ~1e-6 (next to the intercept
    column of ones) the series takes the lstsq loop and returns it
    exactly.  Any larger sd keeps the Cholesky, which stays within 1e-9
    of the loop on the standardised series up to sd 1e12 (where the
    loop on the scaled series itself is off by up to ~1e-6)."""
    fell_back = _spy_pacf_fallback(monkeypatch)
    n = 512
    nlags = 1 + n // 10
    base = _ar_series(n, 0.6, seed=5)
    base /= base.std()
    truth = _pacf_ols_loop_reference(base, nlags)
    for sd in (1e-9, 1e-8, 1e-7, 1e-5, 1e-3, 1e3, 1e6, 1e9, 1e12):
        x = 5.0 + sd * base
        fell_back.clear()
        got = K.pacf_ols(x, nlags)
        if sd < 1e-6:
            assert fell_back, sd
            assert np.array_equal(got, _pacf_ols_loop_reference(x, nlags)), sd
        else:
            assert not fell_back, sd
            assert np.max(np.abs(got - truth)) <= 1e-9, sd


def _cheb_dist_by_dim_reference(x: np.ndarray, max_dim: int):
    """Yield (dim, rows, D) for dim = 1..max_dim where D is the
    rows×rows Chebyshev distance matrix over the dim-length embedding
    windows of ``x``, built incrementally (D_d = max(D_{d-1}, new
    coordinate diff)): the float distance matrices the entropy kernels
    used before their counts came from one comparison matrix."""
    n = x.size
    D = None
    for d in range(1, max_dim + 1):
        rows = n - d + 1
        v = x[d - 1 : d - 1 + rows]
        step = np.abs(np.subtract.outer(v, v))
        D = step if D is None else np.maximum(D[:rows, :rows], step)
        yield d, rows, D


def _approx_entropy_reference(ts, m=2, factor=0.2, max_n=512):
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    r = factor * x.std(ddof=0)
    phis = {}
    for d, rows, D in _cheb_dist_by_dim_reference(x, m + 1):
        if d in (m, m + 1):
            c = (D <= r).sum(axis=1) / rows
            phis[d] = float(np.mean(np.log(c)))
    return phis[m] - phis[m + 1]


def _approx_entropy_reference_quiet(ts, m=2):
    """``_approx_entropy_reference`` without the two numpy warnings it
    raises on its way to NaN when n ≤ m: the mean over zero (m+1)-window
    rows ("Mean of empty slice") and that mean's 0/0."""
    with warnings.catch_warnings(), np.errstate(invalid="ignore"):
        warnings.filterwarnings("ignore", "Mean of empty slice",
                                RuntimeWarning)
        return _approx_entropy_reference(ts, m=m)


def _sample_entropy_reference(ts, m=2, factor=0.2, max_n=512):
    x = np.asarray(ts, dtype=float)
    if x.size > max_n:
        x = x[-max_n:]
    r = factor * x.std(ddof=0)
    counts = {}
    for d, rows, D in _cheb_dist_by_dim_reference(x, m + 1):
        if d in (m, m + 1):
            iu = np.triu_indices(rows, k=1)
            counts[d] = int((D[iu] <= r).sum())
    a, b = counts[m + 1], counts[m]
    if b == 0 or a == 0:
        return np.nan
    return -math.log(a / b)


def _entropy_inputs(n, m):
    rng = np.random.default_rng(n + m)
    with_nan = rng.standard_normal(n)
    with_nan[-3] = np.nan
    return {
        "gaussian": rng.standard_normal(n),
        "lognormal": rng.lognormal(size=n) * 1e3,
        "constant": np.full(n, 4.0),
        "sparse_01": (rng.random(n) < 0.1).astype(float),
        "with_nan": with_nan,
    }


@pytest.mark.parametrize("n", [3, 5, 40, 300, 512, 700])
@pytest.mark.parametrize("m", [1, 2, 3])
def test_entropies_from_shared_counts_bit_identical(n, m):
    """approx_entropy/sample_entropy read one memoized match-count pass
    and count pairs as (Σ rowcount − self-matches) // 2: bit-identical
    to the per-kernel passes with triu_indices, also past the 512-point
    truncation, on r = 0 (constant input) and on r = NaN (a NaN in the
    series: no diagonal self-match either)."""
    for kind, x in _entropy_inputs(n, m).items():
        with np.errstate(divide="ignore"):
            pairs = [
                (_approx_entropy_reference_quiet(x, m=m),
                 K.approx_entropy(x, m=m)),
                (_sample_entropy_reference(x, m=m), K.sample_entropy(x, m=m)),
                (_approx_entropy_reference_quiet(x, m=m),
                 K.approx_entropy(x, m=m, memo=False)),
            ]
        for ref, got in pairs:
            assert (np.isnan(ref) and np.isnan(got)) or ref == got, kind


@pytest.mark.parametrize("n", [1, 2, 3])
@pytest.mark.parametrize("m", [2, 3])
def test_approx_entropy_short_series_is_nan_without_warning(n, m):
    """A cut series of at most m points has no (m+1)-window: ApEn is
    NaN, returned before the match-count pass, so no numpy warning is
    raised and no memo entry is added.  n = 3 at m = 2 has one
    (m+1)-window: it runs the pass (one memo entry) to a finite value,
    still without a warning."""
    x = np.random.default_rng(n + m).standard_normal(n)
    K._MEMO.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = [K.approx_entropy(x, m=m), K.approx_entropy(x, m=m, memo=False)]
    if n <= m:
        assert all(np.isnan(g) for g in got)
        assert not K._MEMO
    else:
        assert all(np.isfinite(g) for g in got) and got[0] == got[1]
        assert len(K._MEMO) == 1


@pytest.mark.parametrize("n, m", [(1, 2), (2, 2), (1, 3), (3, 3)])
def test_sample_entropy_short_series_is_nan_without_pass(n, m):
    """A cut series of at most m points has no (m+1)-window: SampEn is
    NaN, returned before the match-count pass, so no memo entry is
    added and no warning is raised."""
    x = np.random.default_rng(n + m).standard_normal(n)
    K._MEMO.clear()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = K.sample_entropy(x, m=m)
    assert np.isnan(got)
    assert not K._MEMO


@pytest.mark.parametrize("n", [3, 5, 40, 300, 512, 700])
@pytest.mark.parametrize("m", [1, 2, 3])
def test_entropy_counts_equal_distance_matrix_counts(n, m):
    """The counts read from one comparison matrix (hits of dimension d
    = hits of d−1 AND the shifted dimension-1 hits) equal the row and
    upper-triangle pair counts of the float Chebyshev matrices D_d ≤ r,
    for every input kind, with and without the memo."""
    for kind, x in _entropy_inputs(n, m).items():
        xs = x[-512:]
        r = 0.2 * xs.std(ddof=0)
        ref = {}
        for d, rows, D in _cheb_dist_by_dim_reference(xs, m + 1):
            if d in (m, m + 1):
                iu = np.triu_indices(rows, k=1)
                ref[d] = ((D <= r).sum(axis=1), int((D[iu] <= r).sum()))
        for memo in (True, False):
            got = K._entropy_counts(x, m, 0.2, 512, memo)
            assert set(got) == set(ref), kind
            for d, (rowcount, pairs) in ref.items():
                assert np.array_equal(got[d][0], rowcount), (kind, d)
                assert got[d][1] == pairs, (kind, d)


def test_moving_approx_ent_keeps_series_memo():
    """The rolling ApEn's windows bypass the 8-entry kernel memo, so the
    series' own decomp entry survives and no window key is added; a
    series with a NaN adds one shared entropy entry, not one per
    kernel call."""
    from ts_pymfe_spark.operators import arrow_kernels as AK

    x = np.random.default_rng(3).standard_normal(400)
    K._MEMO.clear()
    K.decompose(x)
    before = set(K._MEMO)
    assert any(key[0] == "decomp" and key[1] == x.tobytes() for key in before)
    AK._moving_approx_ent(x)
    assert set(K._MEMO) == before
    # a NaN makes r NaN: both entropies still share one entry
    xn = x.copy()
    xn[7] = np.nan
    with np.errstate(divide="ignore"):
        K.approx_entropy(xn)
        K.sample_entropy(xn)
    assert len(set(K._MEMO) - before) == 1


# ---------------------------------------------------------------------------
# Batch 2: remaining self-only rows (selectors, spectral pickers,
# landmarker families, perturbation/surprise, embedding lag)
# ---------------------------------------------------------------------------

def test_first_acf_selectors_hand_arrays():
    """first-nonsig / first-nonpos / first-local-min on hand arrays
    (1-based lag indexing, reference autocorr.py:562-708)."""
    a = np.array([0.9, 0.5, 0.15, -0.2, 0.1])
    # n=100 -> crit 0.196: first |acf| <= crit is lag 3
    assert K.first_acf_nonsig(a, 100) == 3.0
    assert K.first_acf_nonpos(a) == 4.0          # first <= 0
    b = np.array([0.9, 0.4, 0.6, 0.2, 0.5])
    assert K.first_local_min(b) == 2.0           # a[1] < both neighbours
    assert np.isnan(K.first_acf_nonpos(np.array([0.5, 0.4])))
    assert np.isnan(K.first_local_min(np.array([1.0, 2.0])))


def test_spectral_pickers_hand_arrays():
    p = np.array([1.0, 5.0, 3.0, 0.5, 4.0, 2.0])
    # top ceil(0.34*6)=3 powers, descending
    assert list(K.ps_freqs_topk(p, frac=0.34)) == [5.0, 4.0, 3.0]
    # indicator power >= 0.6*max(=3.0)
    assert list(K.ps_peaks(p, factor=0.6)) == [0.0, 1.0, 1.0, 0.0, 1.0, 0.0]


def test_emb_lag_is_first_acf_zero_crossing(procs):
    """For a pure sine of period 12 the ACF is cos(2πk/12): the zero
    crossing sits exactly at the quarter period k=3 (finite-sample
    adjusted ACF can leave lag 3 a hair above zero, pushing the first
    NON-positive lag to 4 — both witness the quarter-period rule)."""
    assert K.emb_lag(procs["sine12"]) in (3, 4)


def test_surprise_hand_semantics():
    """'distribution' strategy: P = frequency of the current bin in the
    memory window of the DIFFERENCED series; zero-prob maps to surprise
    0 (reference probs<eps -> 1.0).  On a period-2 alternating series
    every diff is ±c alternating, so with num_bins=2 the memory always
    contains the current symbol with frequency ~1/2."""
    x = np.array([0.0, 1.0] * 40)
    s = K.surprise(x, num_bins=2, memory_size=0.25, random_state=7)
    assert s.size > 0
    # alternating ±1 diffs: each bin holds half the memory window; the
    # exact frequency wobbles by one element with window parity
    assert np.all(s > 0.4) and np.all(s < 1.1)
    assert np.allclose(np.exp(-s), 0.5, atol=0.15)


def test_itrand_perturbation_converges_to_noise(procs):
    """Iterative perturbation replaces values with resampled ones; the
    lag-1 ACF trajectory of a smooth series must decay toward ~0 as the
    series is progressively randomized (reference randomize.py
    semantics), and the run is seed-deterministic."""
    x = procs["sine12"][:200]

    def acf1(v):
        vv = v - v.mean()
        return float((vv[:-1] * vv[1:]).mean() / (vv * vv).mean())

    traj = K.itrand_stat(x, acf1, random_state=11)
    traj2 = K.itrand_stat(x, acf1, random_state=11)
    assert np.array_equal(traj, traj2)
    assert traj[0] > 0.8                      # smooth at start
    assert abs(np.mean(traj[-3:])) < 0.35     # randomized at the end


def test_ses_landmarker_flat_series_and_ordering():
    """SES forecasts a level: exact on a constant series; on a strong
    trend it must lose to the linear landmarker."""
    n = 240
    const = np.full(n, 3.0)
    assert np.nanmax(LM.landmark_scores(const, "model_ses")) < 1e-6
    rng = np.random.default_rng(5)
    trend = 5 * np.linspace(0, 1, n) + 0.05 * rng.standard_normal(n)
    ses = np.nanmean(LM.landmark_scores(trend, "model_ses"))
    lin = np.nanmean(LM.landmark_scores(trend, "model_linear"))
    assert lin < ses


def test_hwes_landmarkers_handle_seasonal_signal():
    """Holt-Winters additive (ada) on a clean seasonal+trend series must
    beat plain SES (which cannot represent seasonality)."""
    n = 240
    t = np.arange(n)
    rng = np.random.default_rng(6)
    y = 0.01 * t + 1.5 * np.sin(2 * np.pi * t / 12) \
        + 0.05 * rng.standard_normal(n)
    hw = np.nanmean(LM.landmark_scores(y, "model_hwes_ada", period=12))
    ses = np.nanmean(LM.landmark_scores(y, "model_ses", period=12))
    assert np.isfinite(hw)
    assert hw < ses


def test_arima_landmarkers_match_model_structure():
    """ARIMA(0,1,0)+c is a drift model: near-exact on a pure linear
    trend (first difference constant; Nelder-Mead CSS converges to the
    drift within ~1e-4 of min-max-scaled RMSE); AR(1)+c fits an AR(1)
    process better than the pure-drift model fits it."""
    n = 240
    lin = 2 + 3 * np.linspace(0, 1, n)
    drift = np.nanmean(LM.landmark_scores(lin, "model_arima_010_c"))
    assert drift < 5e-3
    rng = np.random.default_rng(8)
    ar = np.zeros(n)
    for i in range(1, n):
        ar[i] = 0.8 * ar[i - 1] + rng.standard_normal()
    ar100 = np.nanmean(LM.landmark_scores(ar, "model_arima_100_c"))
    a010 = np.nanmean(LM.landmark_scores(ar, "model_arima_010_c"))
    assert ar100 < a010


def test_ioe_std_linreg_trend_sign():
    """IOE stddev-vs-threshold slope: for a heavy-central-mass series
    the surviving-outlier index gaps SPREAD as the threshold rises, so
    the regression must return finite slope + adjusted R²."""
    rng = np.random.default_rng(9)
    x = rng.standard_normal(400)
    slope, adj = K.ioe_std_linreg(x)
    assert np.isfinite(slope) and np.isfinite(adj)
    assert adj <= 1.0


def test_hist_ent_out_diff_outliers_lower_entropy(procs):
    """hist_ent_out_diff = H(full) − H(outliers-trimmed): injecting a
    far outlier into a uniform-ish series concentrates the histogram
    (entropy drops), so the difference must move versus the clean
    series."""
    from ts_pymfe_spark.operators.arrow_kernels import _hist_ent_out_diff

    rng = np.random.default_rng(10)
    clean = rng.uniform(0, 1, 300)
    spiked = clean.copy()
    spiked[0] = 50.0
    d_clean = _hist_ent_out_diff(clean)
    d_spiked = _hist_ent_out_diff(spiked)
    assert np.isfinite(d_clean) and np.isfinite(d_spiked)
    assert abs(d_spiked) > abs(d_clean)


# ---------------------------------------------------------------------------
# Round-3: value-level oracles for the last 4 previously self-only
# kernels (VERDICT r02 item 2).  Each expected value is re-derived
# LITERALLY inside the test — O(n²) definition sums, explicit OLS
# algebra, explicit re-draws of the documented seeding contract — never
# by calling the kernel under test.
# ---------------------------------------------------------------------------


def _literal_acf(x, nlags):
    """Adjusted ACF by the literal definition sum (statsmodels
    acf(adjusted=True) semantics, reference autocorr.py:128-191):
    acov(k) = Σ(x_t−μ)(x_{t+k}−μ)/(n−k), acov(0) always /n."""
    x = np.asarray(x, dtype=float)
    n = x.size
    mu = x.mean()
    c0 = np.sum((x - mu) ** 2) / n
    out = []
    for k in range(1, nlags + 1):
        ck = np.sum((x[:-k] - mu) * (x[k:] - mu)) / (n - k)
        out.append(ck / c0)
    return np.array(out)


def test_acf_out_dist_matches_literal_trimmed_acf_distance():
    """autocorr_out_dist (reference autocorr.py:1243-1314): per-lag
    |ACF(full) − ACF(|v| ≤ quantile(|v|, 0.8) inliers)|.  Expected
    vector re-derived with the literal definition-sum ACF and explicit
    trim steps; plus a sensitivity check: injecting a huge outlier must
    move the distance away from the clean series' near-zero baseline."""
    from ts_pymfe_spark.operators.arrow_kernels import _acf_out_dist

    rng = np.random.default_rng(33)
    t = np.arange(48)
    x = np.sin(2 * np.pi * t / 8) + 0.3 * rng.standard_normal(48)
    x[7] = 9.0
    x[29] = -11.0

    nl = min(16, x.size - 2)
    cut = np.quantile(np.abs(x), 0.8)
    inliers = x[np.abs(x) <= cut]
    assert inliers.size >= nl + 2  # test precondition, not kernel output
    expected = np.abs(_literal_acf(x, nl) - _literal_acf(inliers, nl))

    got = _acf_out_dist(x)
    np.testing.assert_allclose(got, expected, rtol=1e-10, atol=1e-12)
    # outliers must matter: clean series' distance stays near zero
    clean = np.sin(2 * np.pi * t / 8)
    assert np.max(_acf_out_dist(clean)) < 0.15 < np.max(got)


def test_ami_curvature_matches_literal_noise_ladder_ols():
    """ami_curvature (reference info_theory.py:625-761): OLS slope of
    AMI(lag=1) versus gaussian-noise amplitude.  Expected value
    re-derived literally: same documented seeding contract
    (np.random.seed → one randn draw), joint-histogram AMI spelled out
    with histogram2d + plug-in entropies, slope via the explicit
    Σ(s−s̄)(a−ā)/Σ(s−s̄)² formula — no kernel calls anywhere."""
    rng = np.random.default_rng(5)
    t = np.arange(160)
    x = np.sin(2 * np.pi * t / 16) + 0.1 * rng.standard_normal(160)
    seed = 1234

    xs = (x - x.mean()) / x.std(ddof=0)
    np.random.seed(seed)
    noise = np.random.randn(xs.size)
    scales = np.linspace(0.0, 3.0, 10)
    amis = []
    for s in scales:
        v = xs + s * noise
        a, b = v[:-1], v[1:]
        joint, _, _ = np.histogram2d(a, b, bins=64)
        p = joint / joint.sum()
        px, py = p.sum(axis=1), p.sum(axis=0)
        ent = lambda q: -float(np.sum(q[q > 0] * np.log(q[q > 0])))
        amis.append(ent(px) + ent(py) - ent(p.ravel()))
    amis = np.asarray(amis)
    sbar, abar = scales.mean(), amis.mean()
    expected_slope = float(
        np.sum((scales - sbar) * (amis - abar)) / np.sum((scales - sbar) ** 2)
    )

    got = K.ami_curvature(x, random_state=seed)
    assert got == pytest.approx(expected_slope, rel=1e-10)
    # structure destroyed by noise ⇒ AMI decreases along the ladder
    assert got < 0


def test_resample_std_matches_literal_redraw():
    """resample_std engine binding (num_samples=64, sample_frac=0.1,
    reference randomize.py:604-761 + sampler _utils.py:353-415): the
    test re-draws the documented contract literally — np.random.seed,
    window length m = max(2, ceil(frac·n)), randint starts — and
    computes each window's ddof=1 std with the textbook formula."""
    from ts_pymfe_spark.operators.arrow_kernels import SEEDED_FEATURE_KERNELS

    rng = np.random.default_rng(91)
    x = rng.standard_normal(32).cumsum()  # n=32 per VERDICT item 2
    seed = 77

    m = max(2, int(np.ceil(0.1 * x.size)))
    np.random.seed(seed)
    starts = np.random.randint(0, x.size - m + 1, size=64)
    expected = []
    for s in starts:
        w = x[s : s + m]
        mu = w.mean()
        expected.append(math.sqrt(np.sum((w - mu) ** 2) / (w.size - 1)))
    expected = np.asarray(expected)

    got = SEEDED_FEATURE_KERNELS["resample_std"](x, seed)
    np.testing.assert_allclose(got, expected, rtol=1e-12)


def test_resample_first_acf_matches_literal_redraw():
    """resample_first_acf_nonpos / _locmin engine bindings
    (num_samples=128, sample_frac=0.2): literal re-draw of the seeded
    windows, literal definition-sum ACF per window, and explicit
    first-lag scans (1-based): first k with acf(k) ≤ 0, and first k
    with acf(k−1) > acf(k) < acf(k+1)."""
    from ts_pymfe_spark.operators.arrow_kernels import SEEDED_FEATURE_KERNELS

    rng = np.random.default_rng(17)
    t = np.arange(48)
    x = np.sin(2 * np.pi * t / 12) + 0.2 * rng.standard_normal(48)
    seed = 321

    m = max(2, int(np.ceil(0.2 * x.size)))
    np.random.seed(seed)
    starts = np.random.randint(0, x.size - m + 1, size=128)

    exp_nonpos, exp_locmin = [], []
    for s in starts:
        w = x[s : s + m]
        a = _literal_acf(w, max(1, w.size // 2))
        np_idx = [k + 1 for k in range(a.size) if a[k] <= 0]
        exp_nonpos.append(float(np_idx[0]) if np_idx else np.nan)
        lm_idx = [
            k + 1
            for k in range(1, a.size - 1)
            if a[k] < a[k - 1] and a[k] < a[k + 1]
        ]
        exp_locmin.append(float(lm_idx[0]) if lm_idx else np.nan)

    got_np = SEEDED_FEATURE_KERNELS["resample_first_acf_nonpos"](x, seed)
    got_lm = SEEDED_FEATURE_KERNELS["resample_first_acf_locmin"](x, seed)
    np.testing.assert_allclose(got_np, exp_nonpos, rtol=1e-10)
    np.testing.assert_allclose(
        got_lm, np.asarray(exp_locmin, dtype=float), rtol=1e-10
    )


def test_surrogate_set_memoized_and_shared(procs):
    """Round-4 perf item: surr_trev and surr_tc3 share one IAAFT
    surrogate set per series (seed aliased), and the memoized set is
    bit-identical to a fresh literal generation."""
    import numpy as np

    from ts_pymfe_spark.functions import kernels as K
    from ts_pymfe_spark.operators.arrow_kernels import feature_seed

    assert feature_seed("c1", "surr_trev") == feature_seed("c1", "surr_tc3")
    assert feature_seed("c1", "surr_trev") != feature_seed("c2", "surr_trev")

    rng = np.random.default_rng(3)
    x = np.cumsum(rng.normal(size=128))
    K._IAAFT_CACHE.clear()
    a = K.iaaft_set(x, surrogate_num=4, random_state=99)
    assert len(K._IAAFT_CACHE) == 1
    b = K.iaaft_set(x, surrogate_num=4, random_state=99)  # memo hit
    assert all(s1 is s2 for s1, s2 in zip(a, b))
    # literal re-generation (bypassing the cache) is bit-identical
    fresh = [K.iaaft(x, random_state=99 + i) for i in range(4)]
    for s1, s2 in zip(a, fresh):
        np.testing.assert_array_equal(s1, s2)


def test_max_lyap_incremental_distance_matches_literal(procs):
    """Round-4 perf rewrite, rationale corrected round 5 (ADVICE): the
    per-dimension accumulation is NOT bit-identical to the literal
    (m, m, dim) broadcast sum(axis=2) — numpy pairwise summation trees
    even 8-128-long axes, so ~1-ulp differences exist.  Equivalence
    holds because the argmin neighbor choice is robust to ulp noise on
    non-tied data and everything downstream of argmin reads ``emb``
    directly.  Assert exactly that: allclose distance matrices + EQUAL
    argmin neighbors + equal end values."""
    import numpy as np

    from ts_pymfe_spark.functions import kernels as K

    def literal(ts, emb_dim=10, lag=1, min_tsep=None, trajectory_len=20,
                max_n=512):
        x = np.asarray(ts, dtype=float)
        if x.size > max_n:
            x = x[-max_n:]
        sd = x.std(ddof=0)
        if sd == 0:
            return np.nan
        x = (x - x.mean()) / sd
        emb = K._embed(x, emb_dim, lag)
        m = emb.shape[0]
        if min_tsep is None:
            min_tsep = max(1, m // 10)
        if m < min_tsep + trajectory_len + 2:
            return np.nan
        d = np.sqrt(((emb[:, None, :] - emb[None, :, :]) ** 2).sum(axis=2))
        idx = np.arange(m)
        d[np.abs(idx[:, None] - idx[None, :]) <= min_tsep] = np.inf
        nn = np.argmin(d, axis=1)
        usable = m - trajectory_len
        logs = []
        for k in range(trajectory_len):
            i = np.arange(usable)
            j = nn[:usable]
            valid = j + k < m
            di = np.sqrt(
                ((emb[i[valid] + k] - emb[j[valid] + k]) ** 2).sum(axis=1)
            )
            di = di[di > 0]
            logs.append(float(np.mean(np.log(di))) if di.size else np.nan)
        logs = np.asarray(logs)
        ok = np.isfinite(logs)
        if ok.sum() < 3:
            return np.nan
        return float(np.polyfit(np.arange(trajectory_len)[ok], logs[ok], 1)[0])

    rng = np.random.default_rng(11)
    for trial in range(6):
        x = (
            np.cumsum(rng.normal(size=400))
            if trial % 2
            else np.sin(np.arange(400) * 0.07) + rng.normal(size=400) * 0.2
        )
        # the actual invariant: distances allclose (NOT bit-equal) and
        # the banded argmin neighbor choice identical
        z = np.asarray(x, dtype=float)[-512:]
        z = (z - z.mean()) / z.std(ddof=0)
        emb = K._embed(z, 10, 1)
        m = emb.shape[0]
        d_lit = np.sqrt(((emb[:, None, :] - emb[None, :, :]) ** 2).sum(axis=2))
        d2 = np.zeros((m, m))
        for kk in range(emb.shape[1]):
            c = emb[:, kk]
            d2 += (c[:, None] - c[None, :]) ** 2
        d_inc = np.sqrt(d2)
        np.testing.assert_allclose(d_inc, d_lit, rtol=1e-12, atol=0.0)
        band = (
            np.abs(np.arange(m)[:, None] - np.arange(m)[None, :])
            <= max(1, m // 10)
        )
        d_lit[band] = np.inf
        d_inc[band] = np.inf
        np.testing.assert_array_equal(
            np.argmin(d_lit, axis=1), np.argmin(d_inc, axis=1)
        )
        a, b = literal(x), K.max_lyap(x)
        assert (np.isnan(a) and np.isnan(b)) or a == b
