"""Gorilla segment codec: bit-exact round-trips, standalone and through
the Spark compress/decompress operators (SURVEY §5.2 item 3 analogue:
raw -> compressed -> decompressed equality under stable ordering)."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from ts_pymfe_spark.functions.gorilla import decode_segment, encode_segment
from ts_pymfe_spark.operators.compression import (
    compress_segments,
    decompress_segments,
)
from ts_pymfe_spark.operators.derive import series_of


def test_codec_roundtrip_property():
    rng = np.random.default_rng(7)
    for _ in range(8):
        n = int(rng.integers(0, 3000))
        gaps = (rng.choice([2e6, 30e6, 1.2e9], n) * (0.5 + rng.random(n))).astype(
            np.int64
        )
        ts = np.cumsum(gaps) + 1_700_000_000_000_000
        v = np.round(rng.standard_normal(n) * 100, 2)
        if n:
            v[rng.random(n) < 0.3] = v[0]  # repeated values: xor==0 path
            v[rng.random(n) < 0.05] = np.nan  # NaN bits preserved
        ts2, v2 = decode_segment(encode_segment(ts, v))
        np.testing.assert_array_equal(ts, ts2)
        np.testing.assert_array_equal(v.view(np.uint64), v2.view(np.uint64))


def test_spark_compress_roundtrip(spark, turns):
    pts = series_of(turns, "text_len").withColumn("series", F.lit("text_len"))
    segs = compress_segments(pts.select("conv_id", "series", "ts", "value"), "1d")
    back = decompress_segments(segs)
    a = (
        pts.select("conv_id", "ts", "value")
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    b = back.select("conv_id", "ts", "value").orderBy("conv_id", "ts").toPandas()
    assert len(a) == len(b)
    pd.testing.assert_series_equal(a["value"], b["value"], check_exact=True)
    assert (a["ts"].values == b["ts"].values).all()
    # segments actually compress vs 16 bytes/point raw
    sizes = segs.toPandas()
    total_points = sizes["n"].sum()
    total_bytes = sizes["seg"].map(len).sum()
    assert total_bytes < 16 * total_points


def _points(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, series string, ts timestamp, value double")


def test_decompress_keeps_nan_bits(spark):
    """NaN and −0.0 keep their bits through compress → decompress →
    collect(): decoding builds Arrow columns, not pandas ones, and
    pandas→Arrow would turn NaN into NULL.  Gorilla has no null bitmap,
    so a NULL input value comes back as NaN."""
    t0 = datetime.datetime(2024, 1, 1, 12)
    vals = [1.0, float("nan"), -0.0, 2.5, float("nan"), 3.0, None]
    rows = [("c", "s", t0 + datetime.timedelta(seconds=i), v)
            for i, v in enumerate(vals)]
    back = decompress_segments(compress_segments(_points(spark, rows), "1d"))
    got = back.orderBy("ts").collect()
    assert [r.ts for r in got] == [r[2] for r in rows]
    assert all(r.value is not None for r in got)
    want = np.array([np.nan if v is None else v for v in vals])
    np.testing.assert_array_equal(
        np.array([r.value for r in got]).view(np.uint64),
        want.view(np.uint64))


def test_compress_duplicate_ts_partition_invariant(spark):
    """Points sharing a timestamp are encoded in value order, so each
    segment's bytes are the same under any partitioning or input row
    order: 6 conversations × 40 points, 3 points per timestamp."""
    rng = np.random.default_rng(1)
    t0 = datetime.datetime(2024, 1, 1, 12)
    rows = [(f"c{c}", "s", t0 + datetime.timedelta(seconds=i // 3),
             float(rng.integers(0, 1000)))
            for c in range(6) for i in range(40)]
    pts = _points(spark, rows)

    def segments(df):
        return {(r.conv_id, r.series, r.bucket_start): bytes(r.seg)
                for r in compress_segments(df, "1d").collect()}

    one = segments(pts.repartition(1))
    assert len(one) == 6
    assert segments(pts.repartition(7, "value")) == one
    assert segments(pts.orderBy(F.desc("value")).coalesce(1)) == one


def test_segments_portable_across_session_time_zones(spark, tmp_path):
    """Segments store UTC µs taken in the JVM, so a store written under
    one session time zone decodes to the same instants under another:
    points compressed under America/New_York (across its 2024-03-10
    DST change) and decompressed under UTC keep their epoch µs."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    micros = [1_710_000_000_000_000 + i * 3_600_000_000 + 17 for i in range(48)]
    pts = spark.createDataFrame(
        [("c", "s", m, float(i)) for i, m in enumerate(micros)],
        "conv_id string, series string, us long, value double",
    ).select("conv_id", "series", F.timestamp_micros("us").alias("ts"),
             "value")
    path = str(tmp_path / "segs")
    try:
        spark.conf.set(key, "America/New_York")
        compress_segments(pts, "1d").write.parquet(path)
        spark.conf.set(key, "UTC")
        back = decompress_segments(spark.read.parquet(path))
        got = back.select(F.unix_micros("ts").alias("us"), "value").collect()
    finally:
        spark.conf.set(key, old)
    assert sorted((r.us, r.value) for r in got) == [
        (m, float(i)) for i, m in enumerate(micros)]
