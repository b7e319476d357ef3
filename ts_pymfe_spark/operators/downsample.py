"""Visualization-grade time-series downsampling: M4 (pure SQL) and
LTTB (vectorized Arrow kernel).

Engine additions (no reference counterpart — the reference never
renders): the north-star engine is "rollup + downsample + retention";
the tier cascade is the AGGREGATE downsample, these are the
SHAPE-preserving ones a dashboard needs.

* **M4** (Jugel et al., VLDB 2014): per pixel-bucket keep min, max,
  first and last — the exact point set needed for a pixel-perfect
  line rendering at a given width.  Pure SQL (one groupBy with
  deterministic struct-min/max argreduction), mergeable, exact.
* **LTTB** (Steinarsson 2013, "Largest-Triangle-Three-Buckets"):
  fixed output size with visual-salience selection.  Inherently
  sequential (each pick depends on the previous pick), so it runs as
  a per-series vectorized numpy kernel on the partition-level runner
  (``operators/grouped.map_sorted_groups``) — the per-bucket triangle
  areas are computed vectorized; only the bucket-to-bucket carry is a
  Python loop over n_out buckets (not over points).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ts_pymfe_spark.operators.grouped import map_sorted_groups


def m4_downsample(df: DataFrame, n_buckets: int = 64,
                  key: str = "conv_id", order_col: str = "turn_idx",
                  value_col: str = "value") -> DataFrame:
    """M4 per-series downsample: one row per (key, bucket) carrying
    min/max/first/last values and their positions.

    Buckets split the per-series ORDER RANGE evenly (ntile semantics
    would need a sort; range-splitting is a narrow projection).  All
    four argreductions are deterministic struct min/max:
    value ties -> smallest (min) / largest (max) position wins.

    Scale shape: one exchange (groupBy (key, bucket) with map-side
    partial struct min/max).
    """
    from pyspark.sql import Window

    o = F.col(order_col).cast("double")
    # bucket from the per-series order span; the window min/max is one
    # exchange the groupBy then reuses (subset rule)
    wk = Window.partitionBy(key)
    lo = F.min(o).over(wk)
    hi = F.max(o).over(wk)
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    b = F.least(
        F.floor((o - lo) / span * n_buckets).cast("int"),
        F.lit(n_buckets - 1),
    )
    v = F.col(value_col)
    idx = F.col(order_col)
    base = df.select(F.col(key), b.alias("bucket"), idx.alias("_i"), v.alias("_v"))
    agg = base.groupBy(key, "bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.min(F.struct(F.col("_v"), F.col("_i"))).alias("_mn"),
        F.max(F.struct(F.col("_v"), F.col("_i"))).alias("_mx"),
        F.min(F.struct(F.col("_i"), F.col("_v"))).alias("_fst"),
        F.max(F.struct(F.col("_i"), F.col("_v"))).alias("_lst"),
    )
    return agg.select(
        key, "bucket", "n",
        F.col("_mn._v").alias("min_v"), F.col("_mn._i").alias("min_i"),
        F.col("_mx._v").alias("max_v"), F.col("_mx._i").alias("max_i"),
        F.col("_fst._v").alias("first_v"),
        F.col("_fst._i").alias("first_i"),
        F.col("_lst._v").alias("last_v"), F.col("_lst._i").alias("last_i"),
    )


def lttb_select(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Indices LTTB keeps for (x, y) at output size ``n_out``.

    Literal Steinarsson 2013: endpoints always kept; interior points
    fall into n_out-2 even buckets; from each bucket keep the point
    maximizing the triangle area with the PREVIOUS KEPT point and the
    NEXT bucket's mean.  First max wins on exact area ties (argmax).
    """
    n = len(x)
    if n_out >= n:
        return np.arange(n)
    if n_out < 3:
        raise ValueError("n_out must be >= 3")
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    keep = np.empty(n_out, dtype=np.int64)
    keep[0] = 0
    a = 0
    for i in range(n_out - 2):
        s, e = edges[i], edges[i + 1]
        ns, ne = edges[i + 1], (edges[i + 2] if i + 2 < len(edges) else n)
        cx, cy = x[ns:ne].mean(), y[ns:ne].mean()
        # vectorized 2x triangle areas vs (a, centroid of next bucket)
        area = np.abs((x[a] - cx) * (y[s:e] - y[a])
                      - (x[a] - x[s:e]) * (cy - y[a]))
        a = s + int(np.argmax(area))
        keep[i + 1] = a
    keep[-1] = n - 1
    return keep


def lttb_downsample(df: DataFrame, n_out: int = 64,
                    key: str = "conv_id", order_col: str = "turn_idx",
                    value_col: str = "value") -> DataFrame:
    """Per-series LTTB on the partition-level runner
    (``grouped.map_sorted_groups``: one shuffle, one ``mapInPandas``,
    no per-row Python).  Each series reaches ``lttb_select`` sorted by
    (``order_col``, ``value_col``), so duplicate ``order_col`` values
    pick the same points under any partitioning.  Output schema: (key,
    order_col, value_col) with the key and order types taken from the
    INPUT schema (ADVICE r5: a hard-coded struct mislabeled
    non-default columns and broke non-string keys at Arrow
    conversion); values are double."""
    schema = StructType([
        StructField(key, df.schema[key].dataType),
        StructField(order_col, df.schema[order_col].dataType),
        StructField(value_col, DoubleType()),
    ])

    def kernel(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        x = pdf[order_col].to_numpy(dtype=np.float64)
        y = pdf[value_col].to_numpy(dtype=np.float64)
        keep = np.concatenate([
            a + lttb_select(x[a:b], y[a:b], n_out)
            for a, b in zip(starts[:-1].tolist(), starts[1:].tolist())
        ])
        return pd.DataFrame({
            key: pdf[key].to_numpy()[keep],
            order_col: pdf[order_col].to_numpy()[keep],
            value_col: y[keep],
        })

    return map_sorted_groups(df.select(key, order_col, value_col), [key],
                             [order_col, value_col], kernel, schema)


#: SAX breakpoints for equiprobable Gaussian regions (Lin et al. 2003,
#: "A Symbolic Representation of Time Series"), alphabet size -> cuts.
SAX_BREAKPOINTS = {
    3: [-0.4307273, 0.4307273],
    4: [-0.6744898, 0.0, 0.6744898],
    5: [-0.8416212, -0.2533471, 0.2533471, 0.8416212],
}


def paa_sax(df: DataFrame, n_segments: int = 8, alphabet: int = 4,
            key: str = "conv_id", order_col: str = "turn_idx",
            value_col: str = "value") -> DataFrame:
    """PAA + SAX per series, pure SQL (round 6): split each series
    into ``n_segments`` equal-COUNT segments in ``order_col`` order,
    average each (Piecewise Aggregate Approximation), z-normalize the
    segment means by the SERIES mean/sd, and classify into the
    equiprobable-Gaussian SAX alphabet.

    -> (key, seg, n_pts, paa, z, sym); series with zero spread emit a
    NULL z and the middle symbol convention is avoided by emitting a
    NULL sym (honest: SAX is undefined for a flat series).

    Rounding convention: paa/z round to 6 decimals BEFORE the
    breakpoint comparison so the symbol is stable across engines'
    summation orders.

    Scale shape: ONE exchange — the row_number window partitions by
    the series key and both the (key, seg) aggregation and the series
    mean/sd window reuse it (subset rule).  No Python: unlike LTTB the
    PAA reduction is order-independent within a segment.
    """
    from pyspark.sql import Window

    if alphabet not in SAX_BREAKPOINTS:
        raise ValueError(f"alphabet must be one of "
                         f"{sorted(SAX_BREAKPOINTS)}")
    w = Window.partitionBy(key).orderBy(F.col(order_col).asc())
    wk = Window.partitionBy(key)
    v = F.col(value_col).cast("double")
    staged = df.select(
        F.col(key), v.alias("_v"),
        ((F.row_number().over(w) - 1) * n_segments
         / F.count("*").over(wk)).cast("int").alias("seg"),
        F.count("*").over(wk).cast("double").alias("_n"),
        F.sum(v).over(wk).alias("_s1"),
        F.sum(v * v).over(wk).alias("_s2"))
    var = F.when(F.col("_n") > 1,
                 (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n"))
                 / (F.col("_n") - 1))
    # Null out a 6-dp-rounded sd of exactly 0.0 (possible while var >
    # 0 for sd < ~5e-7): under ANSI the z division would otherwise
    # raise DIVIDE_BY_ZERO (round-6 ADVICE, reproduced with values
    # i*1e-7); NULL routes such series to the existing NULL z/sym path.
    sd0 = F.round(F.sqrt(F.when(var > 0, var)), 6)
    sd = F.when(sd0 > 0, sd0)
    mu = F.round(F.col("_s1") / F.col("_n"), 6)
    segs = staged.groupBy(key, "seg").agg(
        F.count("*").cast("long").alias("n_pts"),
        F.round(F.avg("_v"), 6).alias("paa"),
        F.max(mu).alias("_mu"), F.max(sd).alias("_sd"))
    z = F.round((F.col("paa") - F.col("_mu")) / F.col("_sd"), 6)
    cuts = SAX_BREAKPOINTS[alphabet]
    sym = F.lit(chr(ord("a") + len(cuts)))
    for i in range(len(cuts) - 1, -1, -1):
        sym = F.when(z <= F.lit(cuts[i]), F.lit(chr(ord("a") + i))) \
            .otherwise(sym)
    return segs.select(
        key, "seg", "n_pts",
        (F.col("paa") + F.lit(0.0)).alias("paa"),
        (z + F.lit(0.0)).alias("z"),
        F.when(F.col("_sd").isNotNull(), sym).alias("sym"))
