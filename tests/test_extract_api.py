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
