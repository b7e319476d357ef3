"""Columnar segment compression for tier storage: Gorilla XOR values +
delta-of-delta timestamps (``functions/gorilla.py``), encoded on the
grouped-map runner and decoded per Arrow batch (north rule).

One BinaryType segment per (conv_id, series, segment_bucket) holds all
(ts, value) points of that bucket, so the raw-tier point table shrinks
~10-100x (real rollup series vary slowly, unlike random data).

Round-trip is bit-exact through Spark (IEEE bits incl. NaN/-0.0), so
the per-turn value-equality invariant holds through storage
(BASELINE.json input_hint).  Gorilla has no null bitmap: a NULL value
is encoded as NaN and decodes as NaN.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ts_pymfe_spark.functions.gorilla import decode_segment, encode_segment
from ts_pymfe_spark.operators.grouped import map_sorted_groups

SEGMENT_SCHEMA = (
    "conv_id string, series string, bucket_start timestamp, "
    "n int, seg binary"
)
POINTS_SCHEMA = "conv_id string, series string, ts timestamp, value double"


def compress_segments(series_df: DataFrame, tier: str = "1h") -> DataFrame:
    """(conv_id, series, ts, value) -> one Gorilla segment per
    (conv_id, series, date_trunc(tier) bucket).

    ``grouped.map_sorted_groups``: one hash exchange on the segment key,
    points in the total order (ts, value), so segment bytes do not depend
    on input files or partitioning (values Spark sorts as equal, 0.0 and
    −0.0 or two NaNs, keep input order).  ts is encoded as UTC µs since
    the epoch, taken in the JVM (``unix_micros``), so a segment reads
    back as the same instants under any session time zone.
    (``bucket_start`` stays the session-zone ``date_trunc``.)"""
    from ts_pymfe_spark.operators.rollup import TIERS

    keys = ["conv_id", "series", "bucket_start"]
    points = series_df.select(
        "conv_id", "series",
        F.date_trunc(TIERS[tier], "ts").alias("bucket_start"),
        F.unix_micros("ts").alias("ts_us"), "value")

    def encode(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        ts_us = pdf["ts_us"].to_numpy(dtype=np.int64)
        vals = pdf["value"].to_numpy(dtype=np.float64)
        out = pdf[keys].iloc[starts[:-1]].reset_index(drop=True)
        out["n"] = np.diff(starts).astype(np.int32)
        out["seg"] = [encode_segment(ts_us[a:b], vals[a:b])
                      for a, b in zip(starts[:-1], starts[1:])]
        return out

    return map_sorted_groups(points, keys, ["ts_us", "value"], encode,
                             SEGMENT_SCHEMA)


def decompress_segments(segments: DataFrame) -> DataFrame:
    """Segments -> points, bit-exact inverse of compress_segments.

    One narrow ``mapInArrow``: per batch, the decoded values become one
    float64 Arrow column and the keys are repeated by one ``take``.  No
    pandas step, so NaN stays NaN (pandas→Arrow would make it NULL).
    ts is decoded as UTC instants."""
    arrow = to_arrow_schema(StructType.fromDDL(POINTS_SCHEMA))

    def decode(batches):
        for batch in batches:
            segs = [decode_segment(s) for s in batch.column("seg").to_pylist()]
            ts_us, vals = (np.concatenate(c) for c in zip(*segs))
            keys = batch.select(["conv_id", "series"]).take(
                np.repeat(np.arange(len(segs)), [len(t) for t, _ in segs]))
            yield pa.RecordBatch.from_arrays(
                [*keys.columns, pa.array(ts_us, arrow.field("ts").type),
                 pa.array(vals, arrow.field("value").type)], names=arrow.names)

    return segments.select("conv_id", "series", "seg").mapInArrow(
        decode, POINTS_SCHEMA)
