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
    """Driver-side twin of the fused kernel for one series."""
    from ts_pymfe_spark.operators.arrow_kernels import FEATURE_KERNELS

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
            out[(name, "")] = float(arr[0])
        elif arr.size > 1:
            for s, v in summarize_array(arr, summaries):
                out[(name, s)] = v
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
        rows = dict(zip(zip(g.feature, g.summary), g.value))
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
    assert (timed.groupby(["conv_id", "series", "feature"])["wall_ms"]
            .nunique() == 1).all()
    plain = series_features(df, features=feats, max_points=512,
                            parallelism=1, summaries=("mean", "sd")).toPandas()
    keys = ["conv_id", "series", "feature", "summary"]
    m = plain.merge(timed, on=keys, suffixes=("_a", "_b"))
    assert len(m) == len(plain) == len(timed)
    np.testing.assert_array_equal(m["value_a"].to_numpy(),
                                  m["value_b"].to_numpy())


def _sine_fold_loop_reference(y):
    """model_sine landmark scores as one np.linalg.lstsq per
    Gauss-Newton step per fold, one series at a time: the per-fold
    loop the stacked fit replaced, kept verbatim as the reference."""
    import math

    def fit(Xtr, ytr, Xte):
        n = ytr.size
        if n < 8:
            raise ValueError("too short for sine fit")
        freqs = np.fft.fftfreq(n, Xtr[1] - Xtr[0])
        fyy = np.abs(np.fft.rfft(ytr))[1:]
        w0 = 2 * np.pi * abs(freqs[1 + int(np.argmax(fyy))])
        theta = np.array([ytr.std() * math.sqrt(2), max(w0, 1e-6), 0.0,
                          ytr.mean()])
        for _ in range(50):
            A, w, p, c = theta
            s = np.sin(w * Xtr + p)
            cc = np.cos(w * Xtr + p)
            r = ytr - (A * s + c)
            J = np.column_stack([s, A * Xtr * cc, A * cc, np.ones(n)])
            try:
                step, *_ = np.linalg.lstsq(J, r, rcond=None)
            except np.linalg.LinAlgError:
                break
            theta = theta + step
            if np.max(np.abs(step)) < 1e-10:
                break
        A, w, p, c = theta
        if not np.all(np.isfinite(theta)):
            raise ValueError("sine fit diverged")
        return A * np.sin(w * Xte + p) + c

    y = np.asarray(y, dtype=float)
    n = y.size
    X = np.linspace(0.0, 1.0, n)
    out = np.full(5, np.nan)
    for fold, (tr_end, te_s, te_e) in enumerate(LM.ts_splits(n, 5)):
        ytr, yte = y[:tr_end], y[te_s:te_e]
        lo, hi = ytr.min(), ytr.max()
        span = hi - lo
        if span == 0:
            span = 1.0
        try:
            pred = fit(X[:tr_end], (ytr - lo) / span, X[te_s:te_e])
            out[fold] = LM.rmse(np.asarray(pred, float).ravel(),
                                (yte - lo) / span)
        except (ValueError, ZeroDivisionError, np.linalg.LinAlgError):
            out[fold] = np.nan
    return out


@pytest.mark.parametrize("n", [5, 9, 40, 47, 48, 456, 512])
def test_stacked_sine_equals_per_series_lstsq_loop(n):
    """The stacked Gauss-Newton fit (one private gelsd gufunc call per
    step for the whole stack) equals the public np.linalg.lstsq fold
    loop bit for bit: per series (S = 1), as one stack, permuted and
    split into uneven stacks.  A numpy whose gufunc no longer matches
    lstsq fails here."""
    rng = np.random.default_rng(n)
    t = np.arange(n)
    nan_row = rng.standard_normal(n)
    nan_row[n // 2] = np.nan
    X = np.stack([
        rng.standard_normal(n),
        np.cumsum(rng.standard_normal(n)),
        3 * np.sin(2 * np.pi * t / 12) + rng.standard_normal(n),
        rng.lognormal(3, 1, n),
        (rng.random(n) < 0.3).astype(float),
        np.full(n, 7.0),
        nan_row,
        1e6 + rng.standard_normal(n),
    ])
    ref = np.stack([_sine_fold_loop_reference(x) for x in X])
    same = lambda a, b: np.array_equal(a, b, equal_nan=True)  # noqa: E731
    assert same(np.stack([LM.landmark_scores(x, "model_sine") for x in X]), ref)
    assert same(LM.landmark_scores(X, "model_sine"), ref)
    perm = rng.permutation(len(X))
    assert same(LM.landmark_scores(X[perm], "model_sine"), ref[perm])
    parts = [LM.landmark_scores(X[a:b], "model_sine")
             for a, b in ((0, 3), (3, 4), (4, 8))]
    assert same(np.concatenate(parts), ref)


def test_stacked_sine_skips_nan_series_without_blas_errors(capfd):
    """A series holding a NaN starts from a non-finite θ and is never
    solved: OpenBLAS writes no DLASCL error (at fd level, hence capfd),
    its rows are NaN, and the finite series beside it still equal
    their one-series (S = 1) fits bit for bit."""
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
