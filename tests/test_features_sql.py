"""SQL-family features vs pandas/numpy oracles (reference semantics)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from ts_pymfe_spark.operators.derive import series_of
from ts_pymfe_spark.operators import local_stats as LS
from ts_pymfe_spark.operators import sequence as SQ
from ts_pymfe_spark.operators.gapfill import gapfill


@pytest.fixture(scope="module")
def text_len(spark, turns):
    return series_of(turns, "text_len").cache()


@pytest.fixture(scope="module")
def text_len_pdf(turns_pdf):
    pdf = turns_pdf.copy()
    pdf["value"] = pdf["text"].str.len().astype(float)
    return pdf[["conv_id", "turn_idx", "ts", "value"]]


def oracle_series(pdf, conv):
    g = pdf[pdf.conv_id == conv].sort_values("turn_idx")
    return g["value"].to_numpy()


def test_moving_avg_matches_pandas_rolling(spark, text_len, text_len_pdf):
    k = 2
    got = (
        LS.rolling(text_len, "moving_avg", k)
        .select("conv_id", "turn_idx", "stat")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    convs = sorted(text_len_pdf.conv_id.unique())[:30]
    for conv in convs:
        x = oracle_series(text_len_pdf, conv)
        exp = pd.Series(x).rolling(2 * k + 1, center=True).mean().dropna().to_numpy()
        sub = got[got.conv_id == conv]["stat"].to_numpy()
        np.testing.assert_allclose(sub, exp, rtol=1e-12)


def test_moving_skew_matches_reference_formula(spark, text_len, text_len_pdf):
    k = 3

    def skew_m3(x):
        n, mu = x.size, x.mean()
        m2 = ((x - mu) ** 2).mean()
        m3 = ((x - mu) ** 3).mean()
        if m2 <= 0:
            return np.nan
        return m3 / m2**1.5 * ((n - 1) / n) ** 1.5

    got = (
        LS.rolling(text_len, "moving_skewness", k)
        .select("conv_id", "turn_idx", "stat")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    for conv in sorted(text_len_pdf.conv_id.unique())[:10]:
        x = oracle_series(text_len_pdf, conv)
        if x.size < 2 * k + 1:
            continue
        exp = np.array([skew_m3(x[i - k : i + k + 1]) for i in range(k, x.size - k)])
        sub = got[got.conv_id == conv]["stat"].astype(float).to_numpy()
        np.testing.assert_allclose(sub, exp, rtol=1e-7, equal_nan=True)


def test_tiled_stats_match_array_split(spark, text_len, text_len_pdf):
    v = F.col("value")
    got = (
        LS.with_tile(text_len, 16)
        .groupBy("conv_id", "tile")
        .agg(F.var_samp(v).alias("tile_var"), F.avg(v).alias("tile_mean"))
        .orderBy("conv_id", "tile")
        .toPandas()
    )
    for conv in sorted(text_len_pdf.conv_id.unique())[:20]:
        x = oracle_series(text_len_pdf, conv)
        tiles = np.array_split(x, 16)
        exp_var = [t.var(ddof=1) if t.size > 1 else np.nan for t in tiles if t.size]
        exp_mean = [t.mean() for t in tiles if t.size]
        sub = got[got.conv_id == conv].sort_values("tile")
        np.testing.assert_allclose(
            sub["tile_var"].astype(float), exp_var, rtol=1e-9, equal_nan=True
        )
        np.testing.assert_allclose(sub["tile_mean"], exp_mean, rtol=1e-12)


def test_diff_and_trev(spark, text_len, text_len_pdf):
    got_d = (
        SQ.with_diff(text_len, order=2)
        .select("conv_id", "turn_idx", "diff")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    got_t = SQ.trev(text_len, lag=1).orderBy("conv_id").toPandas()
    for conv in sorted(text_len_pdf.conv_id.unique())[:20]:
        x = oracle_series(text_len_pdf, conv)
        np.testing.assert_allclose(
            got_d[got_d.conv_id == conv]["diff"].to_numpy(),
            np.diff(x, 2),
            rtol=1e-12,
        )
        d = x[1:] - x[:-1]
        exp_trev = np.mean(d**3) / np.mean(d**2) ** 1.5
        np.testing.assert_allclose(
            got_t[got_t.conv_id == conv]["trev"].iloc[0], exp_trev, rtol=1e-10
        )


def test_acf_at_lags_matches_adjusted_acf(spark, text_len, text_len_pdf):
    got = SQ.acf_at_lags(text_len, 3).orderBy("conv_id", "lag").toPandas()

    def acf_adj(x, k):
        # statsmodels acf(adjusted=True) definition (autocorr.py:188-190)
        mu = x.mean()
        c0 = np.mean((x - mu) ** 2)
        ck = np.sum((x[:-k] - mu) * (x[k:] - mu)) / (x.size - k)
        return ck / c0

    for conv in sorted(text_len_pdf.conv_id.unique())[:20]:
        x = oracle_series(text_len_pdf, conv)
        sub = got[got.conv_id == conv].sort_values("lag")["acf"].to_numpy()
        exp = [acf_adj(x, k) for k in (1, 2, 3)]
        np.testing.assert_allclose(sub, exp, rtol=1e-9)


def test_step_changes_and_turning_points(spark, text_len, text_len_pdf):
    got_tp = (
        SQ.turning_points(text_len)
        .groupBy("conv_id")
        .agg(F.sum("turning_point").alias("n_tp"))
        .orderBy("conv_id")
        .toPandas()
    )
    got_sc = (
        SQ.step_changes(text_len)
        .groupBy("conv_id")
        .agg(F.sum("step_change").alias("n_sc"))
        .orderBy("conv_id")
        .toPandas()
    )
    for conv in sorted(text_len_pdf.conv_id.unique())[:20]:
        x = oracle_series(text_len_pdf, conv)
        d1, d2 = x[1:-1] - x[:-2], x[2:] - x[1:-1]
        exp_tp = int(((d1 * d2) < 0).sum())
        assert got_tp[got_tp.conv_id == conv]["n_tp"].iloc[0] == exp_tp
        # oracle: expanding mean/sd over x[0..i-1], ddof=1
        exp_sc = 0
        for i in range(2, x.size):
            h = x[:i]
            if abs(x[i] - h.mean()) > 2 * h.std(ddof=1):
                exp_sc += 1
        assert got_sc[got_sc.conv_id == conv]["n_sc"].iloc[0] == exp_sc


def test_fs_len_run_lengths(spark, text_len, text_len_pdf):
    got = SQ.fs_len(text_len, 10).orderBy("conv_id", "run_id").toPandas()
    for conv in sorted(text_len_pdf.conv_id.unique())[:20]:
        x = oracle_series(text_len_pdf, conv)
        # equal-width bins, np.histogram semantics (last bin right-closed)
        mn, mx = x.min(), x.max()
        if mx == mn:
            continue
        lvl = np.minimum(((x - mn) / ((mx - mn) / 10)).astype(int), 9)
        runs = []
        cur = 1
        for a, b in zip(lvl[:-1], lvl[1:]):
            if a == b:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        sub = got[got.conv_id == conv].sort_values("run_id")["run_len"].tolist()
        assert sub == runs


def test_gapfill_interp_and_locf(spark):
    import datetime as dt

    rows = [
        ("c1", "s", dt.datetime(2024, 1, 1, 0, 0), 1.0),
        ("c1", "s", dt.datetime(2024, 1, 1, 0, 3), 7.0),
        ("c1", "s", dt.datetime(2024, 1, 1, 0, 4), 4.0),
    ]
    df = spark.createDataFrame(rows, "conv_id string, series string, bucket_start timestamp, v double")
    got = (
        gapfill(df, 60, "v", method="interp")
        .orderBy("bucket_start")
        .toPandas()
    )
    assert got["value"].tolist() == [1.0, 3.0, 5.0, 7.0, 4.0]
    assert got["is_gap"].tolist() == [False, True, True, False, False]
    locf = gapfill(df, 60, "v", method="locf").orderBy("bucket_start").toPandas()
    assert locf["value"].tolist() == [1.0, 1.0, 1.0, 7.0, 4.0]


def test_gapfill_agg_equals_aggregate_over_gapfill(spark):
    """Round-7 fill-aware aggregation: gapfill_agg must be value-equal
    to generating the grid with gapfill() and aggregating it — hand
    case first, then a seeded multi-key series with irregular gaps."""
    import datetime as dt
    import random

    from pyspark.sql import functions as F

    from ts_pymfe_spark.operators.gapfill import gapfill_agg

    def grid_agg(df):
        return (
            gapfill(df, 60, "v", method="interp")
            .groupBy("conv_id", "series")
            .agg(
                F.count("*").alias("n_buckets"),
                F.sum(F.col("is_gap").cast("long")).alias("n_gaps"),
                F.sum("value").alias("total"),
            )
        )

    def closed(df):
        return gapfill_agg(df, 60, "v", method="interp")

    def compare(df):
        a = {
            (r["conv_id"], r["series"]): r
            for r in grid_agg(df).collect()
        }
        b = {
            (r["conv_id"], r["series"]): r
            for r in closed(df).collect()
        }
        assert a.keys() == b.keys()
        for k in a:
            assert a[k]["n_buckets"] == b[k]["n_buckets"], k
            assert a[k]["n_gaps"] == b[k]["n_gaps"], k
            assert abs(a[k]["total"] - b[k]["total"]) <= 1e-9 * max(
                1.0, abs(a[k]["total"])
            ), k

    rows = [
        ("c1", "s", dt.datetime(2024, 1, 1, 0, 0), 1.0),
        ("c1", "s", dt.datetime(2024, 1, 1, 0, 3), 7.0),
        ("c1", "s", dt.datetime(2024, 1, 1, 0, 4), 4.0),
    ]
    schema = ("conv_id string, series string, bucket_start timestamp, "
              "v double")
    compare(spark.createDataFrame(rows, schema))

    rng = random.Random(7)
    rows = []
    for conv in ("a", "b", "c"):
        t = dt.datetime(2024, 1, 1)
        for _ in range(40):
            t += dt.timedelta(minutes=rng.randint(1, 9))
            rows.append((conv, "s", t, rng.uniform(-5, 5)))
    compare(spark.createDataFrame(rows, schema))

    # degenerate: single observation per key (no gaps, no lag pair)
    one = [("z", "s", dt.datetime(2024, 1, 1), 3.25)]
    out = closed(spark.createDataFrame(one, schema)).collect()[0]
    assert (out["n_buckets"], out["n_gaps"], out["total"]) == (1, 0, 3.25)
