"""TSMFESpark extraction: Spark output bit-matches driver-side kernels
(the golden-fixture property, SURVEY §5.2 item 1), summaries replicate
the reference formulas, seeded features are partition-invariant."""

from __future__ import annotations

import numpy as np
import pytest

from ts_pymfe_spark.api import TSMFESpark
from ts_pymfe_spark.functions import kernels as K
from ts_pymfe_spark.functions import landmarking as LM
from ts_pymfe_spark.functions.summaries import SUMMARY_FUNCS, summarize_array
from ts_pymfe_spark.operators.arrow_kernels import (
    SEEDED_FEATURE_KERNELS,
    feature_seed,
)


@pytest.fixture(scope="module")
def small_turns(spark, turns):
    return turns.filter("conv_id < 'conv00000015'")


@pytest.fixture(scope="module")
def small_pdf(turns_pdf):
    pdf = turns_pdf[turns_pdf.conv_id < "conv00000015"].copy()
    pdf["value"] = pdf["text"].str.len().astype(float)
    return pdf


def _series(pdf, conv):
    g = pdf[(pdf.conv_id == conv)].sort_values("turn_idx")
    return g["value"].to_numpy(dtype=float)


def test_extract_bitmatch_driver_kernels(spark, small_turns, small_pdf):
    eng = TSMFESpark(
        features=["acf", "period", "hist_entropy", "dw", "lumpiness",
                  "model_naive", "model_linear"],
        summaries=("mean", "sd"),
    )
    res = eng.extract_turns(small_turns).toPandas()
    sub = res[res.series == "text_len"]
    for conv in sorted(small_pdf.conv_id.unique())[:10]:
        x = _series(small_pdf, conv)[-512:]
        rows = sub[sub.conv_id == conv].set_index("name")["value"]
        # scalar feature exact
        assert rows["period"] == float(K.ts_period(x))
        assert rows["dw"] == K.durbin_watson(x) / 4.0
        # array feature summarized exactly
        acf_arr = K.acf(x, nlags=min(16, x.size - 2))
        exp = dict(summarize_array(acf_arr, ("mean", "sd")))
        assert rows["acf.mean"] == exp["mean"]
        assert rows["acf.sd"] == exp["sd"]
        lm = LM.landmark_scores(x, "model_naive")
        exp_lm = dict(summarize_array(lm, ("mean", "sd")))
        if not np.isnan(exp_lm["mean"]):
            assert rows["model_naive.mean"] == exp_lm["mean"]


def test_seeded_features_partition_invariant(spark, small_turns):
    eng = TSMFESpark(features=["itrand_mean", "resample_std"], summaries=("mean",))
    a = eng.extract_turns(small_turns).toPandas()
    b = eng.extract_turns(small_turns.repartition(13)).toPandas()
    m = a.merge(b, on=["conv_id", "series", "name"], suffixes=("_a", "_b"))
    assert len(m) == len(a) > 0
    np.testing.assert_array_equal(m["value_a"].to_numpy(), m["value_b"].to_numpy())


def test_summary_funcs_match_numpy_semantics():
    rng = np.random.default_rng(11)
    v = rng.standard_normal(257)
    v[5] = np.nan
    f = SUMMARY_FUNCS
    assert np.isnan(f["mean"](v)) or True  # np.mean with nan -> nan
    assert f["nancount"](v) == 256
    np.testing.assert_allclose(f["nanmean"](v), np.nanmean(v))
    np.testing.assert_allclose(f["nansd"](v), np.nanstd(v, ddof=1))
    np.testing.assert_allclose(
        f["nanquantiles"](v), np.nanpercentile(v, [0, 25, 50, 75, 100])
    )
    h = f["nanhistogram"](v)
    assert h.size == 10 and abs(h.sum() - 1.0) < 1e-12
    # e1071 method-3 vs direct formula
    w = rng.lognormal(0, 1, 100)
    n = w.size
    m2 = ((w - w.mean()) ** 2).mean()
    m3 = ((w - w.mean()) ** 3).mean()
    exp_skew = m3 / m2**1.5 * ((n - 1) / n) ** 1.5
    np.testing.assert_allclose(f["skewness"](w), exp_skew)
    # empty -> nan
    assert np.isnan(f["mean"](np.array([])))
    assert np.isnan(f["pnorm"](np.array([])))


def test_landmarking_sanity():
    t = np.arange(120, dtype=float)
    trend = 2.0 + 0.1 * t
    scores_linear = LM.landmark_scores(trend, "model_linear")
    scores_mean = LM.landmark_scores(trend, "model_mean")
    # a pure trend: linear model must beat the global mean on every fold
    assert np.all(scores_linear < scores_mean)
    per = np.sin(2 * np.pi * t / 12)
    s_seas = LM.landmark_scores(per, "model_naive_seasonal", period=12)
    s_naive = LM.landmark_scores(per, "model_naive")
    assert np.nanmean(s_seas) < np.nanmean(s_naive)


def test_fused_extract_emits_no_rows_for_empty_feature(spark):
    """A feature whose value array is empty (acf of a 2-point series
    asks for 0 lags) has no rows to summarize: the fused summary path
    emits none for it, as the separate summarize() stage did, instead
    of NaN summary rows."""
    assert K.acf(np.array([1.0, 3.0]), nlags=0).size == 0
    rows = [("c2", i, v) for i, v in enumerate([1.0, 3.0])] + [
        ("c9", i, float(v)) for i, v in enumerate([4, 1, 7, 2, 8, 3, 9, 5, 6])
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double")
    eng = TSMFESpark(features=["acf", "dw"], summaries=("mean", "sd"))
    res = eng.extract(df).toPandas()
    short = res[res.conv_id == "c2"]
    assert not short.name.str.startswith("acf").any()
    assert list(short.name) == ["dw"]
    long_ = res[res.conv_id == "c9"].set_index("name")["value"]
    assert {"acf.mean", "acf.sd", "dw"} <= set(long_.index)
    assert not np.isnan(long_["acf.mean"])


# ---------------------------------------------------------------------------
# Partition-level runner: batches of complete groups, stacked kernels
# ---------------------------------------------------------------------------

#: the extract benchmark's 14 features (bench.py feature_job's set)
BENCH_FEATURES = [
    "acf", "pacf", "period", "ps_entropy", "hist_entropy", "dw",
    "trend_strength", "season_strength", "lz_complexity",
    "sample_entropy", "approx_entropy", "model_linear", "model_sine",
    "model_naive_seasonal",
]


def _mixed_series():
    """(conv_id, series) -> values: lengths 5, 40 and 456-512, series
    cut by max_points=512, constant, NaN-containing and 0/1 flags."""
    rng = np.random.default_rng(2024)
    t = np.arange(700)
    out = {
        ("a0", "text_len"): rng.lognormal(3, 1, 5),
        ("a1", "text_len"): rng.lognormal(3, 1, 40),
        ("a2", "text_len"): rng.lognormal(3, 1, 456),
        ("a3", "text_len"): rng.lognormal(3, 1, 480),
        ("a4", "text_len"): rng.lognormal(3, 1, 511),
        ("a5", "text_len"): np.full(512, 42.0),
        ("a6", "text_len"): np.where(t % 97 == 3, np.nan,
                                     rng.lognormal(3, 1, 700))[:600],
        ("a7", "tool_flag"): (rng.random(600) < 0.3).astype(float),
        ("a8", "text_len"): 50 + 20 * np.sin(2 * np.pi * t / 24)
        + rng.standard_normal(700),
        ("a9", "text_len"): np.cumsum(rng.standard_normal(512)),
    }
    for i in range(5):
        out[(f"b{i}", "text_len")] = rng.lognormal(3, 1, 512 + 37 * i)
        out[(f"b{i}", "tool_flag")] = (rng.random(512 + 37 * i) < 0.2) * 1.0
    return out


def _series_df(spark, series, shuffle_seed=0):
    import pandas as pd

    rows = [(c, s, i, float(v)) for (c, s), x in series.items()
            for i, v in enumerate(x)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "series", "turn_idx", "value"])
    pdf = pdf.sample(frac=1.0, random_state=shuffle_seed)  # arrival order
    return spark.createDataFrame(
        pdf, "conv_id string, series string, turn_idx int, value double")


def _reference_rows(x, conv, features, summaries):
    """Driver-side twin of the fused kernel for one series, keyed by
    result name."""
    from ts_pymfe_spark.operators.arrow_kernels import (FEATURE_KERNELS,
                                                        feature_name)

    out = {}
    for name in features:
        try:
            res = (SEEDED_FEATURE_KERNELS[name](x, feature_seed(conv, name))
                   if name in SEEDED_FEATURE_KERNELS
                   else FEATURE_KERNELS[name](x))
        except Exception:
            res = np.nan
        arr = np.atleast_1d(np.asarray(res, dtype=float))
        if arr.size == 1:
            out[name] = float(arr[0])
        elif arr.size > 1:
            for s, v in summarize_array(arr, summaries):
                out[feature_name(name, s)] = v
    return out


@pytest.fixture
def small_arrow_batches(spark, monkeypatch):
    """Arrow batches of 37 rows and kernel batches of ~900 rows, so
    groups straddle both boundaries."""
    from ts_pymfe_spark.operators import grouped

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    monkeypatch.setattr(grouped, "BATCH_ROWS", 900)
    yield
    spark.conf.set(key, old)


def test_runner_bitmatches_per_series_kernels(spark, small_arrow_batches):
    """The runner (one partition, groups straddling Arrow and kernel
    batches, model_sine stacked over same-length series) emits exactly
    the per-series FEATURE_KERNELS values of every series."""
    from ts_pymfe_spark.operators.arrow_kernels import series_features

    series = _mixed_series()
    summaries = ("mean", "sd")
    got = series_features(
        _series_df(spark, series), features=BENCH_FEATURES, max_points=512,
        parallelism=1, summaries=summaries,
    ).toPandas()
    assert set(zip(got.conv_id, got.series)) == set(series)
    for (conv, ser), x in series.items():
        g = got[(got.conv_id == conv) & (got.series == ser)]
        rows = dict(zip(g.name, g.value))
        ref = _reference_rows(x[-512:], conv, BENCH_FEATURES, summaries)
        assert set(rows) == set(ref), conv
        bad = [k for k in ref if not (rows[k] == ref[k] or (
            np.isnan(rows[k]) and np.isnan(ref[k])))]
        assert not bad, (conv, ser, bad)


def test_row_order_is_total_and_partition_invariant(spark, tmp_path):
    """Rows sharing a turn_idx are ordered by value, so the series and
    its max_points cut do not depend on input files or partitioning:
    input written as 4 files, extracted at parallelism 1 and 8, gives
    identical output, equal to the driver-side (turn_idx, value) sort."""
    import pandas as pd

    from ts_pymfe_spark.operators.arrow_kernels import series_features

    rng = np.random.default_rng(5)
    rows = []
    for c in range(6):
        n = 60 + 10 * c
        idx = np.sort(rng.integers(0, n // 2, n))      # many duplicates
        rows += [(f"c{c}", int(i), float(v))
                 for i, v in zip(idx, rng.lognormal(2, 1, n))]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "value"])
    path = str(tmp_path / "dup")
    spark.createDataFrame(
        pdf.sample(frac=1.0, random_state=1),
        "conv_id string, turn_idx int, value double",
    ).repartition(4).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(spark.read.parquet(path).inputFiles()) == 4
    feats = ["acf", "dw", "model_linear", "lz_complexity"]
    outs = [
        series_features(df, features=feats, max_points=50, parallelism=p)
        .toPandas().sort_values(["conv_id", "feature", "idx"],
                                ignore_index=True)
        for p in (1, 8)
    ]
    pd.testing.assert_frame_equal(outs[0], outs[1], check_exact=True)
    from ts_pymfe_spark.operators.arrow_kernels import FEATURE_KERNELS

    for conv, g in pdf.groupby("conv_id"):
        x = g.sort_values(["turn_idx", "value"])["value"].to_numpy()[-50:]
        got = outs[0][outs[0].conv_id == conv]
        for name in feats:
            ref = np.atleast_1d(FEATURE_KERNELS[name](x))
            np.testing.assert_array_equal(
                got[got.feature == name]["value"].to_numpy(), ref)


def test_measure_time_constant_per_series_feature(spark, small_arrow_batches):
    """measure_time=True: wall_ms is non-negative and constant per
    (conv, series, feature), also for the stacked model_sine (stack
    wall / stack size), and values equal the untimed run."""
    from ts_pymfe_spark.operators.arrow_kernels import series_features

    df = _series_df(spark, _mixed_series())
    feats = ["model_sine", "dw", "acf"]
    timed = series_features(df, features=feats, max_points=512,
                            parallelism=1, measure_time=True,
                            summaries=("mean", "sd")).toPandas()
    assert (timed["wall_ms"] >= 0).all()
    feature = timed["name"].str.split(".").str[0]
    assert (timed.groupby(["conv_id", "series", feature])["wall_ms"]
            .nunique() == 1).all()
    plain = series_features(df, features=feats, max_points=512,
                            parallelism=1, summaries=("mean", "sd")).toPandas()
    keys = ["conv_id", "series", "name"]
    m = plain.merge(timed, on=keys, suffixes=("_a", "_b"))
    assert len(m) == len(plain) == len(timed)
    np.testing.assert_array_equal(m["value_a"].to_numpy(),
                                  m["value_b"].to_numpy())


def _sine_vp_reference(y):
    """model_sine landmark scores with the variable-projection fit
    transcribed for one series and one fold at a time: scalar state,
    1-D planes, one einsum per sum, in the stacked fit's order of
    operations.  The reference the stacked fit must equal bit for
    bit."""
    import math

    def project(t, w, y, sy):
        m = t.size
        e = np.einsum
        s, co = np.sin(w * t), np.cos(w * t)
        s1, c1 = e("j->", s), e("j->", co)
        ss = e("j,j->", s, s) - s1 * s1 / m
        sc = e("j,j->", s, co) - s1 * c1 / m
        cc = e("j,j->", co, co) - c1 * c1 / m
        qs = e("j,j->", s, y) - s1 * sy / m
        qc = e("j,j->", co, y) - c1 * sy / m
        det = ss * cc - sc * sc
        ok = (ss > LM._SINE_MIN_PIVOT * m
              and det > LM._SINE_MIN_PIVOT * m * ss)
        a = (cc * qs - sc * qc) / det
        b = (ss * qc - sc * qs) / det
        c = (sy - a * s1 - b * c1) / m
        r = y - c - a * s - b * co
        u = (a * co - b * s) * t
        u1 = e("j->", u)
        us = e("j,j->", s, u) - s1 * u1 / m
        uc = e("j,j->", co, u) - c1 * u1 / m
        hn = (e("j,j->", u, u) - u1 * u1 / m
              - (cc * us * us - 2.0 * sc * us * uc + ss * uc * uc) / det)
        return (a, b, c), e("j,j->", r, r), -2.0 * e("j,j->", r, u), hn, ok

    def fit(t, y):
        """(a, b, c, w), or None for a failed fit."""
        if not np.all(np.isfinite(y)):
            return None
        dt, t_end = t[1] - t[0], float(t[-1])
        freqs = np.fft.fftfreq(y.size, dt)
        k = 1 + int(np.argmax(np.abs(np.fft.rfft(y))[1:]))
        w_hi = math.pi / dt - 1e-3 / t_end
        d_max = math.pi / t_end
        w = min(2 * np.pi * abs(freqs[k]), w_hi)
        sy = np.einsum("j->", y)
        coef, f, g, hn, ok = project(t, w, y, sy)
        if not ok:
            return None
        wp = gp = d = math.nan
        halving = singular = False
        for _ in range(LM._SINE_MAX_EVALS - 1):
            if not halving:
                h = (g - gp) / (w - wp)
                step = -g / h if h > 0 else -g / (2.0 * hn)
                if g == 0:
                    step = 0.0
                d = min(max(step, -d_max), d_max)
            wt = min(max(w + d, 0.0), w_hi)
            d = wt - w
            if abs(d) <= LM._SINE_XTOL * w:
                return None if singular else (*coef, w)
            if not math.isfinite(d):
                return None
            coef2, f2, g2, hn2, ok = project(t, wt, y, sy)
            singular = not ok
            halving = singular or not f2 <= f
            if halving:
                d = d / 2
            else:
                wp, gp = w, g
                w, coef, f, g, hn = wt, coef2, f2, g2, hn2
        return None

    y = np.asarray(y, dtype=float)
    n = y.size
    X = np.linspace(0.0, 1.0, n)
    out = np.full(5, np.nan)
    with np.errstate(all="ignore"):
        for fold, (tr_end, te_s, te_e) in enumerate(LM.ts_splits(n, 5)):
            ytr, yte = y[:tr_end], y[te_s:te_e]
            lo, hi = ytr.min(), ytr.max()
            span = hi - lo
            if span == 0:
                span = 1.0
            res = fit(X[:tr_end], (ytr - lo) / span) if tr_end >= 8 else None
            if res is not None and np.all(np.isfinite(res)):
                a, b, c, w = res
                arg = w * X[te_s:te_e]
                pred = a * np.sin(arg) + b * np.cos(arg) + c
                out[fold] = LM.rmse(pred, (yte - lo) / span)
    return out


def _sine_stack(n, rng):
    t = np.arange(n)
    nan_row = rng.standard_normal(n)
    nan_row[n // 2] = np.nan
    return np.stack([
        rng.standard_normal(n),
        np.cumsum(rng.standard_normal(n)),
        3 * np.sin(2 * np.pi * t / 12) + rng.standard_normal(n),
        rng.lognormal(3, 1, n),
        (rng.random(n) < 0.3).astype(float),
        np.full(n, 7.0),
        nan_row,
        1e6 + rng.standard_normal(n),
        (t % 2) + 0.1 * rng.standard_normal(n),
        t * 0.5,
    ])


@pytest.mark.parametrize("n", [5, 9, 40, 47, 48, 456, 512])
def test_stacked_sine_equals_per_series_lstsq_loop(n):
    """The stacked variable-projection fit equals its one-series
    reference loop (``_sine_vp_reference``) bit for bit: per series
    (S = 1), as one stack, permuted and split into uneven stacks.  The
    stack holds noise, a random walk, a noisy sine, lognormal counts,
    a 0/1 flag, a constant, a NaN-holding series, a large offset, an
    alternating series (FFT start at the Nyquist bin) and a ramp
    (singular: w runs to 0)."""
    rng = np.random.default_rng(n)
    X = _sine_stack(n, rng)
    ref = np.stack([_sine_vp_reference(x) for x in X])
    same = lambda a, b: np.array_equal(a, b, equal_nan=True)  # noqa: E731
    assert same(np.stack([LM.landmark_scores(x, "model_sine") for x in X]), ref)
    assert same(LM.landmark_scores(X, "model_sine"), ref)
    perm = rng.permutation(len(X))
    assert same(LM.landmark_scores(X[perm], "model_sine"), ref[perm])
    parts = [LM.landmark_scores(X[a:b], "model_sine")
             for a, b in ((0, 3), (3, 4), (4, 10))]
    assert same(np.concatenate(parts), ref)


def test_sine_fit_stable_under_relative_scaling():
    """Scaling every series by (1 + 1e-12) moves no fold score by more
    than 1e-8 and turns no fold to or from NaN: every fit converges to
    its optimum, so rounding does not pick the fold's value."""
    rng = np.random.default_rng(9)
    n = 512
    t = np.arange(n)
    X = np.concatenate([
        _sine_stack(n, rng),
        rng.lognormal(3, 1, (8, n)),
        (rng.random((8, n)) < 0.3) * 1.0,
        50 + 20 * np.sin(2 * np.pi * t / 24) + rng.standard_normal((8, n)),
    ])
    base = LM.landmark_scores(X, "model_sine")
    scaled = LM.landmark_scores(X * (1 + 1e-12), "model_sine")
    assert np.array_equal(np.isnan(base), np.isnan(scaled))
    assert np.nanmax(np.abs(scaled - base)) <= 1e-8
    assert np.isfinite(base).sum() > 0.8 * base.size


def test_sine_singular_item_fails_alone():
    """A ramp runs its fit to w → 0, where the sin column is collinear
    with the constant: a singular system, so every fold is NaN.  In a
    stack it fails alone — its neighbours equal their one-series fits
    and stay finite."""
    rng = np.random.default_rng(4)
    n = 300
    t = np.arange(n)
    X = np.stack([3 * np.sin(2 * np.pi * t / 24) + rng.standard_normal(n),
                  t * 0.25,
                  rng.lognormal(3, 1, n)])
    got = LM.landmark_scores(X, "model_sine")
    assert np.isnan(got[1]).all()
    for i in (0, 2):
        assert np.array_equal(got[i], LM.landmark_scores(X[i], "model_sine"))
        assert np.isfinite(got[i]).all()


def test_sine_singular_trial_is_a_rejected_step(monkeypatch):
    """A singular trial w is rejected and its step halved, like a trial
    that raises f, so a fit whose step lands in the singular band near
    w = 0 goes on from its last w to its optimum instead of failing.
    Here the first trial of every fold is made singular: every fold
    stays finite and within 1e-8 of its unforced score."""
    rng = np.random.default_rng(6)
    n = 240
    t = np.arange(n)
    X = np.stack([3 * np.sin(2 * np.pi * t / 24) + rng.standard_normal(n),
                  50 + 20 * np.sin(2 * np.pi * t / 40)
                  + rng.standard_normal(n),
                  np.sin(2 * np.pi * t / 60) + 0.1 * rng.standard_normal(n)])
    want = LM.landmark_scores(X, "model_sine")
    assert np.isfinite(want).all()
    project, evals = LM._sine_project, {}

    def first_trial_singular(t, w, ys, sy):
        *out, ok = project(t, w, ys, sy)
        evals[t.size] = evals.get(t.size, 0) + 1    # one fold per size
        if evals[t.size] == 2:              # start, then the first trial
            ok = np.zeros_like(ok)
        return (*out, ok)

    monkeypatch.setattr(LM, "_sine_project", first_trial_singular)
    got = LM.landmark_scores(X, "model_sine")
    assert len(evals) == 5 and min(evals.values()) > 2
    assert np.isfinite(got).all()
    assert np.abs(got - want).max() <= 1e-8


def test_stacked_sine_skips_nan_series_without_blas_errors(capfd):
    """A series holding a NaN is never fitted: no DLASCL error is
    written (at fd level, hence capfd), its rows are NaN, and the
    finite series beside it still equal their one-series (S = 1) fits
    bit for bit."""
    n = 512
    rng = np.random.default_rng(11)
    t = np.arange(n)
    nan_row = rng.standard_normal(n)
    nan_row[n // 3] = np.nan
    X = np.stack([3 * np.sin(2 * np.pi * t / 24) + rng.standard_normal(n),
                  nan_row,
                  np.cumsum(rng.standard_normal(n))])
    capfd.readouterr()
    got = LM.landmark_scores(X, "model_sine")
    singles = [LM.landmark_scores(X[i], "model_sine") for i in (0, 2)]
    out, err = capfd.readouterr()
    assert "DLASCL" not in out + err
    assert np.isnan(got[1]).all()
    assert np.array_equal(got[[0, 2]], np.stack(singles))
    assert np.isfinite(got[[0, 2]]).all()
