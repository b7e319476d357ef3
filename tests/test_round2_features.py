"""Round-2 surfaces: rescale parity, measure_time, bootstrap CIs,
and the jaccard_pairs scale guard."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_pymfe_spark.api import TSMFESpark
from ts_pymfe_spark.operators import textpipe as TP
from ts_pymfe_spark.operators.derive import series_of
from ts_pymfe_spark.operators.local_stats import VALID_RESCALE, rescale


@pytest.fixture(scope="module")
def small_series(spark, turns):
    s = series_of(turns, "text_len")
    keep = [r.conv_id for r in (
        s.groupBy("conv_id").count()
        .orderBy(F.col("count").desc()).limit(4)
        .select("conv_id").collect()
    )]
    assert keep, "fixture must select conversations"
    out = s.filter(F.col("conv_id").isin(keep)).cache()
    assert out.count() > 0
    return out


def test_rescale_three_modes_match_sklearn_semantics(spark, small_series):
    """standard/min-max/robust vs numpy re-derivations of the sklearn
    scalers the reference delegates to (_internal.py:1569-1609)."""
    pdf = small_series.toPandas().sort_values(["conv_id", "turn_idx"])
    for option in VALID_RESCALE:
        got = (
            rescale(small_series, option)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
        )
        for conv, g in got.groupby("conv_id"):
            x = pdf[pdf.conv_id == conv]["value"].to_numpy(dtype=float)
            if option == "standard":
                expect = (x - x.mean()) / x.std(ddof=0)
            elif option == "min-max":
                expect = (x - x.min()) / (x.max() - x.min())
            else:
                q1, q2, q3 = np.percentile(x, [25, 50, 75])
                expect = (x - q2) / (q3 - q1)
            assert np.allclose(
                g["value_scaled"].to_numpy(), expect, rtol=1e-9
            ), f"{option} mismatch for {conv}"


def test_rescale_rejects_unknown_option(small_series):
    with pytest.raises(ValueError, match="rescale option"):
        rescale(small_series, "sigmoid")


def test_extract_measure_time_emits_wall_ms(spark, small_series):
    eng = TSMFESpark(features=["acf", "length", "dw"], summaries=("mean",))
    out = eng.extract(small_series, measure_time=True).toPandas()
    assert "wall_ms" in out.columns
    assert (out["wall_ms"] >= 0).all()
    # all summary rows of one (conv, feature) share the kernel time
    out["feat"] = out["name"].str.split(".").str[0]
    for _, g in out.groupby(["conv_id", "feat"]):
        assert g["wall_ms"].nunique() == 1
    # values identical to the untimed path
    plain = eng.extract(small_series).toPandas()
    merged = plain.merge(
        out[["conv_id", "series", "name", "value"]],
        on=["conv_id", "series", "name"], suffixes=("_a", "_b"),
    )
    assert len(merged) == len(plain)
    pd.testing.assert_series_equal(
        merged["value_a"], merged["value_b"], check_names=False
    )


def test_extract_with_confidence_brackets_point_estimate(spark, small_series):
    eng = TSMFESpark(features=["dw", "trev", "hist_entropy"],
                     summaries=("mean",))
    ci = eng.extract_with_confidence(
        small_series, sample_num=24, confidence=0.9
    ).toPandas()
    assert set(ci.columns) == {
        "conv_id", "series", "name", "value", "ci_low", "ci_high",
        "n_resamples",
    }
    assert (ci["n_resamples"] == 24).all()
    ok = ci.dropna(subset=["ci_low", "ci_high"])
    assert len(ok) > 0
    assert (ok["ci_low"] <= ok["ci_high"]).all()
    # bootstrap mean sits inside its own CI
    assert (
        (ok["value"] >= ok["ci_low"] - 1e-12)
        & (ok["value"] <= ok["ci_high"] + 1e-12)
    ).all()
    # higher confidence -> wider (or equal) intervals
    ci99 = eng.extract_with_confidence(
        small_series, sample_num=24, confidence=0.99
    ).toPandas()
    m = ok.merge(ci99, on=["conv_id", "series", "name"],
                 suffixes=("_90", "_99")).dropna()
    width90 = m["ci_high_90"] - m["ci_low_90"]
    width99 = m["ci_high_99"] - m["ci_low_99"]
    assert (width99 >= width90 - 1e-12).all()


def _dup_turn_idx_rows():
    """Four series whose turn_idx repeats (about two rows per value)."""
    rng = np.random.default_rng(7)
    rows = []
    for c in range(4):
        n = 40 + 5 * c
        idx = np.sort(rng.integers(0, n // 2, n))
        rows += [(f"d{c}", int(i), float(v))
                 for i, v in zip(idx, rng.lognormal(2, 1, n))]
    return rows


def test_extract_with_confidence_partition_invariant(spark, small_series):
    """Also with repeated turn_idx: the same rows, read in reverse
    order, give the same CIs."""
    eng = TSMFESpark(features=["dw"], summaries=("mean",))
    rows = _dup_turn_idx_rows()
    schema = "conv_id string, turn_idx int, value double"
    for one, seven in (
        (small_series, small_series),
        (spark.createDataFrame(rows, schema),
         spark.createDataFrame(rows[::-1], schema)),
    ):
        a = eng.extract_with_confidence(
            one.repartition(1), sample_num=8
        ).toPandas().sort_values(["conv_id", "name"]).reset_index(drop=True)
        b = eng.extract_with_confidence(
            seven.repartition(7, "turn_idx"), sample_num=8
        ).toPandas().sort_values(["conv_id", "name"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


def _spark_percentile_reference(v, p):
    """numpy copy of Spark's ``percentile``: position (n − 1)·p, the
    lower value when the position is whole or both neighbours are
    equal, else linear interpolation."""
    v = np.sort(np.asarray(v, dtype=float))
    pos = (v.size - 1) * p
    lo, hi = int(np.floor(pos)), int(np.ceil(pos))
    if lo == hi or v[lo] == v[hi]:
        return float(v[lo])
    return float((hi - pos) * v[lo] + (pos - lo) * v[hi])


def _bootstrap_reference(x, conv, feats, summaries, sample_num, confidence,
                         base_seed=1234):
    """Driver-side extract_with_confidence of one series: the resample
    loop over the per-series kernels, the summary convention, and the
    NaN-dropping mean / Spark percentile / count per name."""
    from ts_pymfe_spark.functions.summaries import summarize_array
    from ts_pymfe_spark.operators.arrow_kernels import (
        FEATURE_KERNELS, SEEDED_FEATURE_KERNELS, feature_seed)

    per_name = {}
    for r in range(sample_num):
        rs = np.random.RandomState(
            feature_seed(conv, f"bootstrap:{r}", base_seed))
        xs = x[rs.randint(x.size, size=x.size)]
        for f in feats:
            try:
                if f in SEEDED_FEATURE_KERNELS:
                    res = SEEDED_FEATURE_KERNELS[f](
                        xs, feature_seed(conv, f"{f}:{r}", base_seed))
                else:
                    res = FEATURE_KERNELS[f](xs)
            except Exception:
                res = np.nan
            arr = np.atleast_1d(np.asarray(res, dtype=float))
            if arr.size == 1:
                rows = [("", float(arr[0]))]
            else:
                rows = summarize_array(arr, summaries) if arr.size else []
            for summ, v in rows:
                per_name.setdefault(f"{f}.{summ}" if summ else f,
                                    []).append(v)
    lo = 0.5 * (1.0 - confidence)
    out = {}
    for name, vals in per_name.items():
        v = np.asarray(vals)
        v = v[~np.isnan(v)]
        out[name] = (
            (float(v.mean()), _spark_percentile_reference(v, lo),
             _spark_percentile_reference(v, 1.0 - lo), v.size)
            if v.size else (np.nan, np.nan, np.nan, 0))
    return out


def test_extract_with_confidence_matches_driver_loop(spark, small_series):
    """CI rows equal a driver-side resample loop: ci_* and n_resamples
    exactly, value to 1e-12 relative (summation order).  A constant
    series has an all-NaN trend_strength (NULL row, n_resamples 0); a
    short random walk's model_naive_seasonal is NaN on some resamples
    only, which are dropped."""
    feats = ["dw", "acf", "trend_strength", "model_naive_seasonal",
             "itrand_mean"]
    summaries = ("mean", "sd")
    sample_num, confidence, max_points = 16, 0.9, 48
    rng = np.random.default_rng(1)
    extra = [("k_const", i, 3.0) for i in range(30)]
    extra += [("k_walk", i, float(v))
              for i, v in enumerate(np.cumsum(rng.standard_normal(40)))]
    df = small_series.select("conv_id", "turn_idx", "value").unionByName(
        spark.createDataFrame(extra,
                              "conv_id string, turn_idx int, value double"))
    eng = TSMFESpark(features=feats, summaries=summaries,
                     max_points=max_points)
    got = eng.extract_with_confidence(
        df, sample_num=sample_num, confidence=confidence).toPandas()
    assert (got["series"] == "value").all()
    pdf = df.toPandas()
    ref = {}
    for conv, g in pdf.groupby("conv_id"):
        x = g.sort_values(["turn_idx", "value"])["value"].to_numpy(
            dtype=float)[-max_points:]
        for name, row in _bootstrap_reference(
                x, conv, feats, summaries, sample_num, confidence).items():
            ref[(conv, name)] = row
    rows = {(r.conv_id, r.name): (r.value, r.ci_low, r.ci_high,
                                  r.n_resamples)
            for r in got.itertuples()}
    assert set(rows) == set(ref)
    same = lambda a, b: a == b or (np.isnan(a) and np.isnan(b))  # noqa: E731
    for k, (v, lo, hi, n) in ref.items():
        gv, glo, ghi, gn = rows[k]
        assert gn == n, k
        assert same(glo, lo) and same(ghi, hi), k
        assert same(gv, v) or abs(gv - v) <= 1e-12 * abs(v), k
    assert ref[("k_const", "trend_strength")][3] == 0
    assert got[(got.conv_id == "k_const") & (got.name == "trend_strength")
               ][["value", "ci_low", "ci_high"]].isna().all(axis=None)
    assert 0 < ref[("k_walk", "model_naive_seasonal.mean")][3] < sample_num


def test_spark_percentile_formula_bitwise(spark):
    """The worker's percentile equals Spark's ``percentile`` bit for
    bit, also where both neighbours are equal (interpolating between
    them can change the last bit) and on repeated values."""
    from ts_pymfe_spark.operators.arrow_kernels import spark_percentile

    rng = np.random.default_rng(3)
    cases = {
        "n1": [1 / 3],
        "n2": [0.1, 0.7],
        "n2_equal": [1 / 3, 1 / 3],
        "n3": [0.1, 0.1, 0.7],
        "n32_repeats": list(np.round(rng.standard_normal(32), 1) / 3),
        "n32_runs": [v / 7 for v in (1, 2, 3, 4) for _ in range(8)],
        "n32_distinct": list(rng.lognormal(0, 1, 32)),
    }
    ps = [0.025, 0.05, 0.5, 0.95, 0.975]
    df = spark.createDataFrame(
        [(c, float(v)) for c, vs in cases.items() for v in vs],
        "case string, v double")
    got = df.groupBy("case").agg(*[
        F.percentile("v", F.lit(p)).alias(f"p{i}") for i, p in enumerate(ps)
    ]).collect()
    assert len(got) == len(cases)
    for r in got:
        v = np.sort(np.asarray(cases[r["case"]], dtype=float))
        for i, p in enumerate(ps):
            assert spark_percentile(v, p).hex() == r[f"p{i}"].hex(), (
                r["case"], p)


def test_jaccard_pairs_guard_refuses_oversize_corpus(spark):
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 F.col("id").cast("string")).alias("text"),
    )
    guarded = TP.jaccard_pairs(docs, max_docs=10)
    with pytest.raises(Exception, match="O\\(docs\\^2\\)"):
        guarded.count()
    # under the bound it runs; force=True bypasses
    assert TP.jaccard_pairs(docs, max_docs=100).count() >= 0
    assert TP.jaccard_pairs(docs, max_docs=10, force=True).count() >= 0


# ---------------------------------------------------------------------------
# Multimodal: pure-numpy WAV/BMP codecs + real decode -> feature path
# ---------------------------------------------------------------------------

def test_wav_roundtrip_pcm16():
    from ts_pymfe_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(3)
    x = np.clip(0.7 * np.sin(np.arange(800) / 5.0)
                + 0.1 * rng.standard_normal(800), -1, 1)
    payload = encode_wav(x, 8000)
    got, sr = decode_wav(payload)
    assert sr == 8000
    assert got.shape == x.shape
    # PCM16 quantization error bound: 1/32767
    assert np.max(np.abs(got - x)) <= 1.0 / 32767 + 1e-12


def test_bmp_roundtrip_exact():
    from ts_pymfe_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)  # odd width: padding
    got = decode_bmp(encode_bmp(img))
    assert got.dtype == np.uint8
    assert np.array_equal(got, img)


def test_media_features_real_decode_path(spark):
    from ts_pymfe_spark.operators import multimodal as MM

    media = MM.synth_media(spark, 18)
    mimes = {
        r["media_id"]: r["mime"] for r in media.select("media_id", "mime").collect()
    }
    out = MM.extract_media_features(media).toPandas()
    assert len(out) == 18
    by_kind = out.set_index("media_id")["feature"]
    kinds = out.set_index("media_id")["kind"]
    for mid, feat in by_kind.items():
        if kinds[mid] == "video" and mimes[mid] == "video/mp4":
            assert feat is None  # compressed container: stub retained
        else:
            # BMP / WAV / raw YUV4MPEG2: real decode
            assert feat is not None and len(feat) == 16
    # audio features: rms of a 0.5-amplitude sine ~ 0.35
    audio = out[out.kind == "audio"]["feature"]
    rms = np.array([f[0] for f in audio])
    assert (rms > 0.2).all() and (rms < 0.6).all()
    # image features: channel means in [0,1], histogram sums to 1
    img = out[out.kind == "image"]["feature"].iloc[0]
    assert 0.0 <= img[0] <= 1.0
    assert abs(sum(img[4:]) - 1.0) < 1e-5


def test_decode_image_dispatches_bmp_and_stubs_compressed():
    from ts_pymfe_spark.operators.multimodal import decode_image, encode_bmp

    img = np.zeros((3, 3, 3), dtype=np.uint8)
    assert decode_image(encode_bmp(img)).shape == (3, 3, 3)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n....")


def test_moving_acf_sql_exact_vs_kernel(spark, small_series):
    """The SQL moving_acf is now the EXACT rolling adjusted lag-1 ACF
    (round 1 shipped a Pearson-corr approximation).  Oracle: the numpy
    kernel moving_stat('acf') — ACF is affine-invariant, so the
    kernel's z-scoring does not change values."""
    from ts_pymfe_spark.functions.kernels import _win_size, moving_stat
    from ts_pymfe_spark.operators import local_stats as LS

    pdf = small_series.toPandas().sort_values(["conv_id", "turn_idx"])
    for conv, g in pdf.groupby("conv_id"):
        x = g["value"].to_numpy(dtype=float)
        w = _win_size(x.size, 0.1)
        k = (w - 1) // 2
        got = (
            LS.rolling(
                small_series.filter(F.col("conv_id") == conv),
                "moving_acf", k,
            )
            .orderBy("turn_idx")
            .toPandas()["stat"]
            .to_numpy(dtype=float)
        )
        expect = moving_stat(x, "acf", 0.1)
        assert got.shape == expect.shape
        # constant windows: SQL yields a principled NULL (den == 0
        # exactly on raw values); the kernel reproduces the reference's
        # z-score float-noise artifact (0/0 -> ~1.0).  Exclude them.
        win = np.lib.stride_tricks.sliding_window_view(x, w)
        const = win.ptp(axis=1) == 0
        keep = ~const & ~(np.isnan(got) & np.isnan(expect))
        np.testing.assert_allclose(
            got[keep], expect[keep], rtol=1e-8, atol=1e-10
        )


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF ANN (k-means lists + nprobe probing): recall@3 against the
    brute-force cosine oracle must be high at nprobe=4/16 lists, and
    must not decrease when nprobe grows."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    corpus, queries = emb.filter("vec_id >= 20"), emb.filter("vec_id < 20")
    cents = TP.ivf_train_centroids(corpus, n_lists=16, seed=7)
    assert len(cents) == 16 and len(cents[0]) == 64

    truth = TP.cosine_topk(corpus, queries, k=3).toPandas()
    truth_set = set(zip(truth.query_id, truth.neighbor_id))

    def recall(nprobe):
        got = TP.ivf_topk(corpus, queries, cents, k=3, nprobe=nprobe).toPandas()
        hit = sum((q, n) in truth_set for q, n in zip(got.query_id, got.neighbor_id))
        return hit / len(truth_set)

    r2, r8 = recall(2), recall(8)
    assert r8 >= r2
    assert r8 >= 0.6, f"recall@nprobe=8 too low: {r8}"
