"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (ts_pymfe_spark/*) on
the driver's testdata; ``oracle_sql()`` holds the DuckDB-equivalent
ANSI SQL.  The ``events`` table plays the transcript stream
(user_id = conversation key, event_id = stable order key, value =
series); ``documents``/``embeddings`` back the training-data pipeline
operators.  Floats are rounded identically on both sides so the
driver's value-hash is stable across summation orders.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_pymfe_spark.functions.moments import stat_columns
from ts_pymfe_spark.operators import info_theory as IT
from ts_pymfe_spark.operators import local_stats as LS
from ts_pymfe_spark.operators import sequence as SQ
from ts_pymfe_spark.operators import textpipe as TP
from ts_pymfe_spark.operators.asof import (asof_join, asof_lag_seconds,
                                           window_join)
from ts_pymfe_spark.operators.counters import counter_rate
from ts_pymfe_spark.operators.gapfill import gapfill_agg
from ts_pymfe_spark.operators.rollup import cascade, rollup_raw
from ts_pymfe_spark.sources.testdata import events_series, read

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

#: DuckDB view of events reshaped to the engine's canonical series
SERIES_CTE = (
    "SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id AS turn_idx, ts, "
    "value FROM events"
)


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_series(spark, sf_dir)


def _series_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _series(spark, sf_dir).withColumn("series", F.lit("value"))


def _series_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged series pre-partitioned by conv_id — the single-shuffle
    rollup plan (operators/rollup.py round-4 note): conv_id is a subset
    of every tier group key, so the rollup/cascade aggregations over
    this relation add no further exchange.  Sparse-series measurement
    (SF=1): grouping the un-partitioned relation shuffles a 13-field
    moment vector per near-unique key (~3.9 GB); this shuffles one slim
    raw row (~0.4 GB)."""
    n = spark.sparkContext.defaultParallelism * 2
    return _series_tagged(spark, sf_dir).repartition(n, "conv_id")


def r(col, nd=6):
    return F.round(col, nd)


_REG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        _REG[name] = (fn, sql)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Tier rollup / cascade family (operators/rollup.py, functions/moments.py)
# ---------------------------------------------------------------------------

@register(
    "rollup_1m",
    f"""
    WITH s AS ({SERIES_CTE})
    SELECT conv_id, CAST(date_trunc('minute', ts) AS VARCHAR) AS bucket,
           count(value) AS n, round(sum(value), 6) AS sum_v,
           round(avg(value), 6) AS avg_v, min(value) AS min_v,
           max(value) AS max_v
    FROM s GROUP BY conv_id, date_trunc('minute', ts)
    """,
)
def q_rollup_1m(spark, sf_dir):
    m = rollup_raw(_series_part(spark, sf_dir), "1m")
    return m.select(
        "conv_id",
        F.col("bucket_start").cast("string").alias("bucket"),
        "n",
        r(F.col("s1"), 6).alias("sum_v"),
        r(F.col("s1") / F.col("n")).alias("avg_v"),
        F.col("mn").alias("min_v"),
        F.col("mx").alias("max_v"),
    )


@register(
    "rollup_1h_cascade",
    f"""
    WITH s AS ({SERIES_CTE})
    SELECT conv_id, CAST(date_trunc('hour', ts) AS VARCHAR) AS bucket,
           count(value) AS n, round(sum(value), 6) AS sum_v,
           round(sum(value*value), 6) AS sum_v2,
           min(value) AS min_v, max(value) AS max_v
    FROM s GROUP BY conv_id, date_trunc('hour', ts)
    """,
)
def q_rollup_1h_cascade(spark, sf_dir):
    # proves the moment-merge algebra: Spark goes raw->1m->merge->1h,
    # the oracle aggregates raw->1h directly
    h = cascade(rollup_raw(_series_part(spark, sf_dir), "1m"), "1h")
    return h.select(
        "conv_id",
        F.col("bucket_start").cast("string").alias("bucket"),
        "n",
        r(F.col("s1"), 6).alias("sum_v"),
        r(F.col("s2"), 6).alias("sum_v2"),
        F.col("mn").alias("min_v"),
        F.col("mx").alias("max_v"),
    )


@register(
    "tier_stats_1d",
    f"""
    WITH s AS ({SERIES_CTE}),
    m AS (
      SELECT conv_id, strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS bucket,
             count(value) AS n, sum(value) AS s1, sum(value*value) AS s2,
             sum(value*value*value) AS s3,
             sum(value*value*value*value) AS s4
      FROM s GROUP BY 1, 2),
    c AS (
      SELECT conv_id, bucket, n, s1/n AS mu,
             s2/n - (s1/n)*(s1/n) AS m2,
             s3/n - 3*(s1/n)*(s2/n) + 2*pow(s1/n, 3) AS m3,
             s4/n - 4*(s1/n)*(s3/n) + 6*pow(s1/n,2)*(s2/n) - 3*pow(s1/n,4) AS m4,
             (s2 - s1*s1/n)/(n-1) AS var_s
      FROM m)
    SELECT conv_id, bucket, n, round(mu, 6) + 0.0 AS mean_v,
           round(sqrt(greatest(var_s, 0)), 6) + 0.0 AS sd_v,
           round(m3/pow(m2,1.5) * pow((n-1.0)/n, 1.5), 5) + 0.0 AS skew_v,
           round(m4/(m2*m2) * pow(1 - 1.0/n, 2) - 3, 5) + 0.0 AS kurt_v
    FROM c WHERE n > 1 AND m2 > 0
    """,
)
def q_tier_stats_1d(spark, sf_dir):
    d = rollup_raw(_series_part(spark, sf_dir), "1d").select(
        "conv_id",
        F.col("bucket_start").cast("string").alias("bucket"),
        *stat_columns(),
    )
    z = F.lit(0.0)  # +0.0 flushes IEEE -0.0 so the driver's value-hash is stable
    return d.filter(F.col("skewness").isNotNull()).select(
        "conv_id",
        "bucket",
        F.col("count").alias("n"),
        (r(F.col("mean")) + z).alias("mean_v"),
        (r(F.col("sd")) + z).alias("sd_v"),
        (r(F.col("skewness"), 5) + z).alias("skew_v"),
        (r(F.col("kurtosis"), 5) + z).alias("kurt_v"),
    )


# ---------------------------------------------------------------------------
# Rolling-window family (operators/local_stats.py)
# ---------------------------------------------------------------------------

_EDGE_CTE = f"""
    WITH s AS ({SERIES_CTE}),
    w AS (
      SELECT conv_id, turn_idx, value,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
             count(*) OVER (PARTITION BY conv_id) AS cnt
      FROM s)
"""


@register(
    "moving_avg",
    _EDGE_CTE
    + """
    , ma AS (
      SELECT conv_id, turn_idx, rn, cnt,
             avg(value) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS v
      FROM w)
    SELECT conv_id, turn_idx, round(v, 6) AS ma
    FROM ma WHERE rn > 2 AND rn <= cnt - 2
    """,
)
def q_moving_avg(spark, sf_dir):
    return LS.rolling(_series(spark, sf_dir), "moving_avg", 2).select(
        "conv_id", "turn_idx", r(F.col("stat")).alias("ma")
    )


@register(
    "moving_sd_shift",
    _EDGE_CTE
    + """
    , sd AS (
      SELECT conv_id, turn_idx, rn, cnt,
             stddev_samp(value) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS v
      FROM w),
    trimmed AS (
      SELECT conv_id, turn_idx, v FROM sd WHERE rn > 2 AND rn <= cnt - 2),
    sh AS (
      SELECT conv_id, turn_idx,
             abs(v - lag(v) OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS d
      FROM trimmed)
    SELECT conv_id, turn_idx, round(d, 6) AS sd_shift
    FROM sh WHERE d IS NOT NULL
    """,
)
def q_moving_sd_shift(spark, sf_dir):
    return LS.rolling(_series(spark, sf_dir), "moving_sd", 2, shift=True).select(
        "conv_id", "turn_idx", r(F.col("stat")).alias("sd_shift")
    )


# rolling e1071 method-3 skewness from one-pass frame moment sums —
# the oracle spells the IDENTICAL algebra (incl. pow() where Spark uses
# pow) so the float paths agree; values are irrational (m2^1.5), so
# they never sit on the .5 rounding grid.
@register(
    "moving_skew",
    _EDGE_CTE
    + """
    , m AS (
      SELECT conv_id, turn_idx, rn, cnt,
             count(value) OVER fr * 1.0 AS n,
             sum(value) OVER fr AS s1,
             sum(value * value) OVER fr AS s2,
             sum(value * value * value) OVER fr AS s3
      FROM w
      WINDOW fr AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    c AS (
      SELECT conv_id, turn_idx, rn, cnt, n,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * s2 / n + 2 * pow(s1 / n, 3) AS m3
      FROM m)
    SELECT conv_id, turn_idx,
           CASE WHEN n > 1 AND m2 > 0
                THEN round(m3 / pow(m2, 1.5) * pow((n - 1) / n, 1.5), 6)
                     + 0.0 END AS mskew
    FROM c WHERE rn > 3 AND rn <= cnt - 3
    """,
)
def q_moving_skew(spark, sf_dir):
    out = LS.rolling(_series(spark, sf_dir), "moving_skewness", 3)
    return out.select(
        "conv_id", "turn_idx",
        (r(F.col("stat")) + F.lit(0.0)).alias("mskew"),
    )


@register(
    "moving_kurt",
    _EDGE_CTE
    + """
    , m AS (
      SELECT conv_id, turn_idx, rn, cnt,
             count(value) OVER fr * 1.0 AS n,
             sum(value) OVER fr AS s1,
             sum(value * value) OVER fr AS s2,
             sum(value * value * value) OVER fr AS s3,
             sum(value * value * value * value) OVER fr AS s4
      FROM w
      WINDOW fr AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    c AS (
      SELECT conv_id, turn_idx, rn, cnt, n,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s4 / n - 4 * (s1 / n) * s3 / n
                    + 6 * (s1 / n) * (s1 / n) * s2 / n
                    - 3 * pow(s1 / n, 4) AS m4
      FROM m)
    SELECT conv_id, turn_idx,
           CASE WHEN n > 1 AND m2 > 0
                THEN round(m4 / (m2 * m2) * pow(1 - 1 / n, 2) - 3, 6)
                     + 0.0 END AS mkurt
    FROM c WHERE rn > 3 AND rn <= cnt - 3
    """,
)
def q_moving_kurt(spark, sf_dir):
    out = LS.rolling(_series(spark, sf_dir), "moving_kurtosis", 3)
    return out.select(
        "conv_id", "turn_idx",
        (r(F.col("stat")) + F.lit(0.0)).alias("mkurt"),
    )


# quantile-trim entropy delta: H(full) − H([p,1−p]-band values); the
# trim boundary uses percentile/quantile_cont (bit-identical linear
# interpolation on both engines), entropies the same bucket algebra as
# the green hist_entropy query.
@register(
    "hist_ent_out_diff",
    f"""
    WITH s AS ({SERIES_CTE}),
    hf AS (
      SELECT conv_id, -sum(p * ln(p)) / ln(10.0) AS h_full FROM (
        SELECT conv_id, count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY conv_id) AS p
        FROM (
          SELECT s.conv_id,
                 CAST(least(floor((s.value - mm.mn) / ((mm.mx - mm.mn) / 10)), 9) AS INT) AS bin
          FROM s JOIN (SELECT conv_id, min(value) AS mn, max(value) AS mx
                       FROM s GROUP BY conv_id) mm USING (conv_id))
        GROUP BY conv_id, bin)
      GROUP BY conv_id),
    q AS (SELECT conv_id, quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
          FROM s GROUP BY conv_id),
    inner_s AS (
      SELECT s.conv_id, s.value FROM s JOIN q USING (conv_id)
      WHERE s.value >= q.lo AND s.value <= q.hi),
    -- degenerate-trim guard (mirrors the Spark/Arrow nan contract):
    -- conversations whose trimmed set has < 2 values emit no row
    big AS (SELECT conv_id FROM inner_s GROUP BY conv_id HAVING count(*) >= 2),
    hi_e AS (
      SELECT conv_id, -sum(p * ln(p)) / ln(10.0) AS h_inner FROM (
        SELECT conv_id, count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY conv_id) AS p
        FROM (
          SELECT i.conv_id,
                 CAST(least(floor((i.value - mm.mn) / ((mm.mx - mm.mn) / 10)), 9) AS INT) AS bin
          FROM inner_s i JOIN (SELECT conv_id, min(value) AS mn, max(value) AS mx
                               FROM inner_s GROUP BY conv_id) mm USING (conv_id))
        GROUP BY conv_id, bin)
      GROUP BY conv_id)
    SELECT hf.conv_id, round(h_full - h_inner, 6) + 0.0 AS ent_out_diff
    FROM hf JOIN hi_e USING (conv_id) JOIN big USING (conv_id)
    """,
)
def q_hist_ent_out_diff(spark, sf_dir):
    out = IT.hist_ent_out_diff(_series(spark, sf_dir))
    return out.select(
        "conv_id",
        (r(F.col("hist_ent_out_diff")) + F.lit(0.0)).alias("ent_out_diff"),
    )


# seasonal peak-position mode (ft_peak_frac): argmax position per full
# 12-sample chunk (first index on ties), mode over chunks (smallest
# position on count ties) — np.argmax/np.bincount semantics spelled as
# window SQL on both engines; +1 matches the reference's executed
# 1-based mode index (general.py:296, round-4 ADVICE decision).
@register(
    "peak_frac",
    f"""
    WITH s AS ({SERIES_CTE}),
    b AS (
      -- floor() is explicit: DuckDB CAST(double AS INT) ROUNDS where
      -- Spark's cast truncates
      SELECT conv_id, value AS v,
             CAST(floor((row_number() OVER ord - 1) / 12) AS INT) AS chunk,
             (row_number() OVER ord - 1) % 12 AS pos,
             count(*) OVER (PARTITION BY conv_id) AS n
      FROM s
      WINDOW ord AS (PARTITION BY conv_id ORDER BY turn_idx)),
    f AS (SELECT * FROM b
          WHERE n >= 24 AND chunk < CAST(floor(n / 12) AS INT)),
    ext AS (
      SELECT conv_id, chunk, pos, v,
             max(v) OVER (PARTITION BY conv_id, chunk) AS mx
      FROM f),
    args AS (
      SELECT conv_id, chunk, min(pos) AS arg
      FROM ext WHERE v = mx GROUP BY conv_id, chunk),
    counts AS (
      SELECT conv_id, arg, count(*) AS c FROM args GROUP BY conv_id, arg),
    mode AS (
      SELECT conv_id, arg,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY c DESC, arg ASC) AS rk
      FROM counts)
    SELECT conv_id, round((arg + 1) / 12.0, 6) + 0.0 AS frac
    FROM mode WHERE rk = 1
    """,
)
def q_peak_frac(spark, sf_dir):
    from ts_pymfe_spark.operators.sequence import peak_trough_frac

    out = peak_trough_frac(_series(spark, sf_dir), period=12, which="peak")
    return out.select(
        "conv_id", (r(F.col("frac")) + F.lit(0.0)).alias("frac")
    )


# rolling geometric mean: exp(mean(ln v)) per frame, NULL if any
# in-frame value <= 0 (scipy gmean semantics) — same frame algebra on
# both engines; ln/exp outputs are irrational (hash-grid safe).
@register(
    "moving_gmean",
    _EDGE_CTE
    + """
    , g AS (
      SELECT conv_id, turn_idx, rn, cnt,
             min(value) OVER fr AS mn,
             exp(avg(ln(CASE WHEN value > 0 THEN value END)) OVER fr)
               AS gm
      FROM w
      WINDOW fr AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
    SELECT conv_id, turn_idx,
           CASE WHEN mn > 0 THEN round(gm, 6) + 0.0 END AS mgmean
    FROM g WHERE rn > 2 AND rn <= cnt - 2
    """,
)
def q_moving_gmean(spark, sf_dir):
    out = LS.rolling(_series(spark, sf_dir), "moving_gmean", 2)
    return out.select(
        "conv_id", "turn_idx",
        (r(F.col("stat")) + F.lit(0.0)).alias("mgmean"),
    )


# Gorilla XOR + delta-of-delta codec round-trip as a driver-contract
# surface: encode sf events per (conv, day), decode, count bit-exact
# mismatches per conversation — the decoded stream must reproduce every
# (ts, value) exactly (north-rule per-turn equality under compression).
# The codec is not ANSI-SQL-expressible, so this is a rows-only entry;
# the mismatch column doubling as an in-row assertion (all zeros).
@register(
    "gorilla_roundtrip",
    f"""
    WITH s AS ({SERIES_CTE})
    SELECT conv_id, count(*) AS n_points,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM s GROUP BY conv_id
    """,
)
def q_gorilla_roundtrip(spark, sf_dir):
    # Full-hash oracle (round 4, closing the last rows-only pair): the
    # oracle pins n_points per conversation from the UNCOMPRESSED side
    # (pure SQL) and n_mismatch to literal 0 — the Spark side computes
    # n_mismatch by actually round-tripping every point through the
    # Gorilla codec (XOR + delta-of-delta, operators/compression.py),
    # so any codec regression breaks the value hash.  Bit-exactness
    # incl. NaN/-0.0 is additionally pytest-pinned.
    from ts_pymfe_spark.operators.compression import (
        compress_segments,
        decompress_segments,
    )

    s = _series_tagged(spark, sf_dir).select(
        "conv_id", "series", F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    decoded = decompress_segments(compress_segments(s, "1d")).select(
        "conv_id", "series",
        F.col("ts").alias("d_ts"), F.col("value").alias("d_value"),
    )
    joined = s.join(
        decoded,
        (s.conv_id == decoded.conv_id) & (s.series == decoded.series)
        & (s.ts == decoded.d_ts),
        "left",
    )
    return (
        joined.groupBy(s.conv_id.alias("conv_id"))
        .agg(
            F.count("*").alias("n_points"),
            F.sum(
                F.when(
                    F.col("d_value").isNull()
                    | (F.col("d_value") != F.col("value")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_mismatch"),
        )
    )


# batch sessionizer (sequence.sessionize_batch): cumulative
# count of gaps > 600 s per conversation, total order (ts, turn_idx).
@register(
    "sessionize",
    f"""
    WITH s AS ({SERIES_CTE}),
    g AS (
      SELECT conv_id, turn_idx, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 600
                  THEN 1 ELSE 0 END AS f
      FROM s
      WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
    SELECT conv_id, turn_idx,
           CAST(sum(f) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_id
    FROM g
    """,
)
def q_sessionize(spark, sf_dir):
    from ts_pymfe_spark.operators.sequence import sessionize_batch

    out = sessionize_batch(
        _series(spark, sf_dir), gap_seconds=600,
        order_cols=("ts", "turn_idx"),
    )
    return out.select("conv_id", "turn_idx", "session_id")


# bootstrap CIs (reference extract_with_confidence, tsmfe.py:1079-1248):
# 32 seeded in-worker resamples per series, percentile CIs — the
# resample loop is not ANSI-SQL-expressible, so this is a rows-only
# contract entry (no oracle; pytest pins determinism + CI semantics in
# tests/test_round2_features.py).
@register(
    "bootstrap_ci",
    f"""
    WITH s AS ({SERIES_CTE}),
    d AS (
      SELECT conv_id, value,
             lag(value) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pv
      FROM s),
    dw AS (
      SELECT conv_id,
             round(sum((value - pv) * (value - pv)) / sum(value * value) / 4.0, 6) + 0.0 AS pt
      FROM d GROUP BY conv_id),
    he AS (
      SELECT conv_id, round(-sum(p * ln(p)) / ln(10.0), 6) + 0.0 AS pt FROM (
        SELECT conv_id, count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY conv_id) AS p
        FROM (
          SELECT s.conv_id,
                 CASE WHEN mm.mx > mm.mn
                      THEN CAST(least(floor((s.value - mm.mn) / ((mm.mx - mm.mn) / 10)), 9) AS INT)
                      ELSE 0 END AS bin
          FROM s JOIN (SELECT conv_id, min(value) AS mn, max(value) AS mx
                       FROM s GROUP BY conv_id) mm USING (conv_id))
        GROUP BY conv_id, bin)
      GROUP BY conv_id)
    SELECT conv_id, 'value' AS series, 'dw' AS name, pt AS point_value,
           TRUE AS ci_ok, CAST(32 AS BIGINT) AS n_resamples
    FROM dw
    UNION ALL
    SELECT conv_id, 'value' AS series, 'hist_entropy' AS name, pt,
           TRUE AS ci_ok, CAST(32 AS BIGINT) AS n_resamples
    FROM he
    """,
)
def q_bootstrap_ci(spark, sf_dir):
    """Full-hash oracle form (round 4, closing the last rows-only
    pair): ``point_value`` is the deterministic point estimate on the
    ORIGINAL series (dw / hist_entropy — both pure-SQL-expressible, so
    DuckDB re-derives them independently); the seeded in-worker
    resample loop itself is exercised through ``ci_ok`` = (both CI
    bounds finite AND ordered AND n_resamples intact), which is
    deterministically TRUE on this data (values are strictly positive,
    so no resample can produce a nan dw/entropy) and flips FALSE if
    the bootstrap loop breaks.  The resample-mean / CI bounds remain
    covered value-level by pytest (seeded-redraw oracles)."""
    from ts_pymfe_spark.api import TSMFESpark

    eng = TSMFESpark(features=["dw", "hist_entropy"], summaries=("mean",))
    point = eng.extract(_series_tagged(spark, sf_dir)).select(
        "conv_id", "series", "name",
        (r(F.col("value")) + F.lit(0.0)).alias("point_value"),
    )
    boot = eng.extract_with_confidence(
        _series_tagged(spark, sf_dir), sample_num=32
    ).select(
        "conv_id", "series", "name",
        (
            ~F.isnan("ci_low") & ~F.isnan("ci_high")
            & (F.col("ci_low") <= F.col("ci_high"))
        ).alias("ci_ok"),
        F.col("n_resamples").cast("long").alias("n_resamples"),
    )
    return point.join(boot, ["conv_id", "series", "name"])


@register(
    "tile_stats",
    f"""
    WITH s AS ({SERIES_CTE}),
    t AS (
      SELECT conv_id, value,
             ntile(16) OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS tile
      FROM s),
    m AS (
      SELECT conv_id, tile, count(*) AS n, sum(value) AS s1,
             sum(value*value) AS s2, min(value) AS mn, max(value) AS mx
      FROM t GROUP BY conv_id, tile)
    SELECT conv_id, tile,
           round((s2 - s1*s1/n) / (n - 1), 7) AS tile_var,
           round(s1 / n, 6) AS tile_mean,
           round(mx - mn, 6) AS tile_range,
           n AS tile_n
    FROM m
    """,
)
def q_tile_stats(spark, sf_dir):
    # explicit moment algebra (not builtin var_samp) so Spark and DuckDB
    # evaluate the identical expression — cross-engine var_samp internals
    # differ by ~1e-7, which collides with any rounding grid
    t = LS.with_tile(_series(spark, sf_dir), 16)
    v = F.col("value")
    m = t.groupBy("conv_id", "tile").agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )
    return m.select(
        "conv_id",
        "tile",
        r(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1),
            7,
        ).alias("tile_var"),
        r(F.col("s1") / F.col("n")).alias("tile_mean"),
        r(F.col("mx") - F.col("mn")).alias("tile_range"),
        F.col("n").alias("tile_n"),
    )


# ---------------------------------------------------------------------------
# Sequence family (operators/sequence.py)
# ---------------------------------------------------------------------------

@register(
    "diff2_stats",
    f"""
    WITH s AS ({SERIES_CTE}),
    d AS (
      SELECT conv_id,
             value - 2*lag(value,1) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   + lag(value,2) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS d
      FROM s)
    SELECT conv_id, count(d) AS n_diff, round(avg(d), 6) AS mean_diff,
           round(stddev_samp(d), 6) AS sd_diff
    FROM d WHERE d IS NOT NULL GROUP BY conv_id
    """,
)
def q_diff2_stats(spark, sf_dir):
    return (
        SQ.with_diff(_series(spark, sf_dir), order=2)
        .groupBy("conv_id")
        .agg(
            F.count("diff").alias("n_diff"),
            r(F.avg("diff")).alias("mean_diff"),
            r(F.stddev_samp("diff")).alias("sd_diff"),
        )
    )


@register(
    "sdiff_stats",
    f"""
    WITH s AS ({SERIES_CTE}),
    d AS (
      SELECT conv_id,
             value - lag(value,7) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS d
      FROM s)
    SELECT conv_id, round(avg(d), 6) AS mean_sdiff,
           round(stddev_samp(d), 6) AS sd_sdiff
    FROM d WHERE d IS NOT NULL GROUP BY conv_id
    """,
)
def q_sdiff_stats(spark, sf_dir):
    return (
        SQ.with_diff(_series(spark, sf_dir), order=1, lag=7)
        .groupBy("conv_id")
        .agg(
            r(F.avg("diff")).alias("mean_sdiff"),
            r(F.stddev_samp("diff")).alias("sd_sdiff"),
        )
    )


@register(
    "trev",
    f"""
    WITH s AS ({SERIES_CTE}),
    d AS (
      SELECT conv_id,
             value - lag(value,1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS d
      FROM s)
    SELECT conv_id,
           round(avg(d*d*d) / pow(avg(d*d), 1.5), 6) AS trev
    FROM d WHERE d IS NOT NULL GROUP BY conv_id
    """,
)
def q_trev(spark, sf_dir):
    return SQ.trev(_series(spark, sf_dir), lag=1).select(
        "conv_id", r(F.col("trev")).alias("trev")
    )


@register(
    "tc3",
    f"""
    WITH s AS ({SERIES_CTE}),
    d AS (
      SELECT conv_id,
             value AS x,
             lead(value,1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS x1,
             lead(value,2) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS x2
      FROM s)
    SELECT conv_id,
           round(avg(x*x1*x2) / pow(abs(avg(x*x1)), 1.5), 6) AS tc3
    FROM d WHERE x2 IS NOT NULL GROUP BY conv_id
    """,
)
def q_tc3(spark, sf_dir):
    return SQ.tc3(_series(spark, sf_dir), lag=1).select(
        "conv_id", r(F.col("tc3")).alias("tc3")
    )


@register(
    "gen_autocorr",
    f"""
    WITH s AS ({SERIES_CTE}),
    d AS (
      SELECT conv_id, abs(value) AS xa,
             abs(lead(value,1) OVER (PARTITION BY conv_id ORDER BY turn_idx)) AS xb
      FROM s)
    SELECT conv_id,
           round(avg(xa*xb) - (avg(xa)*avg(xb)) /
                 (sqrt(avg(xa*xa) - avg(xa)*avg(xa)) *
                  sqrt(avg(xb*xb) - avg(xb)*avg(xb))), 4) AS gen_autocorr
    FROM d WHERE xb IS NOT NULL GROUP BY conv_id
    """,
)
def q_gen_autocorr(spark, sf_dir):
    return SQ.gen_autocorr(_series(spark, sf_dir), lag=1).select(
        "conv_id", r(F.col("gen_autocorr"), 4).alias("gen_autocorr")
    )


@register(
    "acf_lags",
    f"""
    WITH s AS ({SERIES_CTE}),
    m AS (
      SELECT conv_id, avg(value) AS mu, var_pop(value) AS c0,
             count(*) AS n
      FROM s GROUP BY conv_id),
    l AS (
      SELECT s.conv_id, s.value, m.mu, m.c0, m.n,
             lag(s.value,1) OVER (PARTITION BY s.conv_id ORDER BY s.turn_idx) AS x1,
             lag(s.value,2) OVER (PARTITION BY s.conv_id ORDER BY s.turn_idx) AS x2,
             lag(s.value,3) OVER (PARTITION BY s.conv_id ORDER BY s.turn_idx) AS x3
      FROM s JOIN m USING (conv_id))
    SELECT conv_id, lag, round(acf, 6) AS acf FROM (
      SELECT conv_id, 1 AS lag,
             sum((value-mu)*(x1-mu))/(any_value(n)-1)/any_value(c0) AS acf
      FROM l WHERE x1 IS NOT NULL GROUP BY conv_id
      UNION ALL
      SELECT conv_id, 2,
             sum((value-mu)*(x2-mu))/(any_value(n)-2)/any_value(c0)
      FROM l WHERE x2 IS NOT NULL GROUP BY conv_id
      UNION ALL
      SELECT conv_id, 3,
             sum((value-mu)*(x3-mu))/(any_value(n)-3)/any_value(c0)
      FROM l WHERE x3 IS NOT NULL GROUP BY conv_id)
    """,
)
def q_acf_lags(spark, sf_dir):
    return SQ.acf_at_lags(_series(spark, sf_dir), 3).select(
        "conv_id", "lag", r(F.col("acf")).alias("acf")
    )


@register(
    "frac_cp",
    f"""
    WITH s AS ({SERIES_CTE}),
    m AS (SELECT conv_id, median(value) AS med FROM s GROUP BY conv_id),
    b AS (
      SELECT s.conv_id,
             CAST(s.value <= m.med AS INT) AS below,
             lag(CAST(s.value <= m.med AS INT))
               OVER (PARTITION BY s.conv_id ORDER BY s.turn_idx) AS prev
      FROM s JOIN m USING (conv_id))
    SELECT conv_id,
           round(sum(CASE WHEN below != prev THEN 1 ELSE 0 END) * 1.0
                 / (count(*) - 1), 6) AS frac_cp
    FROM b GROUP BY conv_id
    """,
)
def q_frac_cp(spark, sf_dir):
    return SQ.frac_cp(_series(spark, sf_dir)).select(
        "conv_id", r(F.col("frac_cp")).alias("frac_cp")
    )


@register(
    "t_mean",
    f"""
    WITH s AS ({SERIES_CTE}),
    rk AS (
      SELECT conv_id, value,
             row_number() OVER (PARTITION BY conv_id ORDER BY value, turn_idx) AS rnk,
             count(*) OVER (PARTITION BY conv_id) AS n
      FROM s)
    SELECT conv_id, round(avg(value), 6) AS t_mean
    FROM rk
    WHERE rnk > floor(n * 0.02) AND rnk <= n - floor(n * 0.02)
    GROUP BY conv_id
    """,
)
def q_t_mean(spark, sf_dir):
    return SQ.t_mean(_series(spark, sf_dir), 0.02).select(
        "conv_id", r(F.col("t_mean")).alias("t_mean")
    )


@register(
    "turning_points",
    f"""
    WITH s AS ({SERIES_CTE}),
    t AS (
      SELECT conv_id, value,
             lag(value) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS p,
             lead(value) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nx
      FROM s)
    SELECT conv_id,
           CAST(sum(CASE WHEN (value - p) * (nx - value) < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tp,
           round(avg(CASE WHEN (value - p) * (nx - value) < 0 THEN 1.0 ELSE 0.0 END), 6)
             AS tp_frac
    FROM t WHERE p IS NOT NULL AND nx IS NOT NULL
    GROUP BY conv_id
    """,
)
def q_turning_points(spark, sf_dir):
    return (
        SQ.turning_points(_series(spark, sf_dir))
        .groupBy("conv_id")
        .agg(
            F.sum("turning_point").alias("n_tp"),
            r(F.avg("turning_point")).alias("tp_frac"),
        )
    )


@register(
    "step_changes",
    f"""
    WITH s AS ({SERIES_CTE}),
    t AS (
      SELECT conv_id, value,
             avg(value) OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mu,
             stddev_samp(value) OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sd
      FROM s)
    SELECT conv_id,
           CAST(sum(CASE WHEN abs(value - mu) > 2 * sd THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sc
    FROM t WHERE sd IS NOT NULL GROUP BY conv_id
    """,
)
def q_step_changes(spark, sf_dir):
    return (
        SQ.step_changes(_series(spark, sf_dir))
        .groupBy("conv_id")
        .agg(F.sum("step_change").alias("n_sc"))
    )


@register(
    "fs_len_stats",
    f"""
    WITH s AS ({SERIES_CTE}),
    mm AS (
      SELECT conv_id, min(value) AS mn, max(value) AS mx FROM s GROUP BY conv_id),
    lv AS (
      SELECT s.conv_id, s.turn_idx,
             CAST(least(floor((s.value - mm.mn) / ((mm.mx - mm.mn) / 10)), 9) AS INT) AS lvl
      FROM s JOIN mm USING (conv_id)),
    ch AS (
      SELECT conv_id, turn_idx, lvl,
             CASE WHEN lag(lvl) OVER (PARTITION BY conv_id ORDER BY turn_idx) IS NULL
                    OR lvl != lag(lvl) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                  THEN 1 ELSE 0 END AS chg
      FROM lv),
    rn AS (
      SELECT conv_id, lvl,
             sum(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM ch),
    runs AS (
      SELECT conv_id, run_id, count(*) AS run_len FROM rn GROUP BY conv_id, run_id)
    SELECT conv_id, count(*) AS n_runs, max(run_len) AS max_run,
           round(avg(run_len), 6) AS avg_run
    FROM runs GROUP BY conv_id
    """,
)
def q_fs_len_stats(spark, sf_dir):
    return (
        SQ.fs_len(_series(spark, sf_dir), 10)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_runs"),
            F.max("run_len").alias("max_run"),
            r(F.avg("run_len")).alias("avg_run"),
        )
    )


@register(
    "bin_frac",
    f"""
    WITH s AS ({SERIES_CTE}),
    m AS (SELECT conv_id, avg(value) AS mu FROM s GROUP BY conv_id)
    SELECT s.conv_id,
           round(avg(CASE WHEN s.value >= m.mu THEN 1.0 ELSE 0.0 END), 6) AS bin_frac
    FROM s JOIN m USING (conv_id) GROUP BY s.conv_id
    """,
)
def q_bin_frac(spark, sf_dir):
    df = _series(spark, sf_dir).withColumn("b", SQ.bin_mean_col())
    return df.groupBy("conv_id").agg(r(F.avg("b")).alias("bin_frac"))


# ---------------------------------------------------------------------------
# Info-theory family (operators/info_theory.py)
# ---------------------------------------------------------------------------

@register(
    "hist_entropy",
    f"""
    WITH s AS ({SERIES_CTE}),
    mm AS (SELECT conv_id, min(value) AS mn, max(value) AS mx FROM s GROUP BY conv_id),
    b AS (
      SELECT s.conv_id,
             CAST(least(floor((s.value - mm.mn) / ((mm.mx - mm.mn) / 10)), 9) AS INT) AS bin
      FROM s JOIN mm USING (conv_id)),
    c AS (SELECT conv_id, bin, count(*) AS c FROM b GROUP BY conv_id, bin),
    p AS (
      SELECT conv_id, c * 1.0 / sum(c) OVER (PARTITION BY conv_id) AS p FROM c)
    SELECT conv_id, round(-sum(p * ln(p)) / ln(10.0), 6) AS hist_entropy
    FROM p GROUP BY conv_id
    """,
)
def q_hist_entropy(spark, sf_dir):
    return IT.hist_entropy(_series(spark, sf_dir), 10).select(
        "conv_id", r(F.col("hist_entropy")).alias("hist_entropy")
    )


@register(
    "ami_lag1",
    f"""
    WITH s AS ({SERIES_CTE}),
    lg AS (
      SELECT conv_id, value AS x,
             lag(value,1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS y
      FROM s),
    al AS (SELECT conv_id, x, y FROM lg WHERE y IS NOT NULL),
    mm AS (
      SELECT conv_id, min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
      FROM al GROUP BY conv_id),
    bb AS (
      SELECT al.conv_id,
             CAST(least(floor((al.x - mm.mnx) / ((mm.mxx - mm.mnx) / 8)), 7) AS INT) AS bx,
             CAST(least(floor((al.y - mm.mny) / ((mm.mxy - mm.mny) / 8)), 7) AS INT) AS by
      FROM al JOIN mm USING (conv_id)),
    joint AS (
      SELECT conv_id, bx, by,
             count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY conv_id) AS p
      FROM bb GROUP BY conv_id, bx, by),
    hx AS (
      SELECT conv_id, -sum(px * ln(px)) AS hx FROM (
        SELECT conv_id, bx, sum(p) AS px FROM joint GROUP BY conv_id, bx)
      GROUP BY conv_id),
    hy AS (
      SELECT conv_id, -sum(py * ln(py)) AS hy FROM (
        SELECT conv_id, by, sum(p) AS py FROM joint GROUP BY conv_id, by)
      GROUP BY conv_id),
    hxy AS (
      SELECT conv_id, -sum(p * ln(p)) AS hxy FROM joint GROUP BY conv_id)
    SELECT hx.conv_id, round(hx.hx + hy.hy - hxy.hxy, 6) AS ami
    FROM hx JOIN hy USING (conv_id) JOIN hxy USING (conv_id)
    """,
)
def q_ami_lag1(spark, sf_dir):
    return IT.ami_histogram(_series(spark, sf_dir), lag=1, num_bins=8).select(
        "conv_id", r(F.col("ami")).alias("ami")
    )


@register(
    "dw_stat",
    f"""
    WITH s AS ({SERIES_CTE}),
    d AS (
      SELECT conv_id, value,
             value - lag(value,1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS d
      FROM s)
    SELECT conv_id, round(sum(d*d) / sum(value*value) / 4.0, 6) AS dw
    FROM d GROUP BY conv_id
    """,
)
def q_dw_stat(spark, sf_dir):
    return IT.dw_stat(_series(spark, sf_dir)).select(
        "conv_id", r(F.col("dw")).alias("dw")
    )


# ---------------------------------------------------------------------------
# Gap-fill (operators/gapfill.py)
# ---------------------------------------------------------------------------

@register(
    "gapfill_1m",
    f"""
    WITH s AS ({SERIES_CTE}),
    b AS (
      SELECT conv_id, date_trunc('minute', ts) AS bucket_start,
             sum(value) AS v
      FROM s GROUP BY 1, 2),
    span AS (
      SELECT conv_id, min(bucket_start) AS lo, max(bucket_start) AS hi
      FROM b GROUP BY conv_id),
    grid AS (
      SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS bucket_start
      FROM span),
    j AS (
      SELECT grid.conv_id, grid.bucket_start, b.v AS obs,
             CASE WHEN b.v IS NOT NULL THEN grid.bucket_start END AS obs_ts
      FROM grid LEFT JOIN b USING (conv_id, bucket_start)),
    f AS (
      SELECT conv_id, bucket_start, obs,
             last_value(obs IGNORE NULLS) OVER
               (PARTITION BY conv_id ORDER BY bucket_start
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(obs_ts IGNORE NULLS) OVER
               (PARTITION BY conv_id ORDER BY bucket_start
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(obs IGNORE NULLS) OVER
               (PARTITION BY conv_id ORDER BY bucket_start
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(obs_ts IGNORE NULLS) OVER
               (PARTITION BY conv_id ORDER BY bucket_start
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j),
    filled AS (
      SELECT conv_id, bucket_start,
             CASE WHEN obs IS NOT NULL THEN obs
                  WHEN nt IS NULL THEN pv
                  ELSE pv + (nv - pv) * (epoch(bucket_start) - epoch(pt))
                            / (epoch(nt) - epoch(pt)) END AS value,
             obs IS NULL AS is_gap
      FROM f)
    SELECT conv_id, count(*) AS n_buckets,
           CAST(sum(CASE WHEN is_gap THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           round(sum(value), 3) + 0.0 AS total
    FROM filled GROUP BY conv_id
    """,
)
def q_gapfill_1m(spark, sf_dir):
    # Fill-aware aggregation (round 7): value-equal to aggregating
    # gapfill(...) output, but computed from the O(observed) bucket
    # rows — the 62.9M-row generated grid existed only to be summed
    # (gapfill.gapfill_agg docstring for the closed form).
    b = (
        _series(spark, sf_dir)
        .groupBy(
            "conv_id", F.date_trunc("minute", "ts").alias("bucket_start")
        )
        .agg(F.sum("value").alias("v"))
        .withColumn("series", F.lit("value"))
    )
    g = gapfill_agg(b, 60, "v", method="interp")
    return g.select(
        "conv_id",
        "n_buckets",
        "n_gaps",
        (r(F.col("total"), 3) + F.lit(0.0)).alias("total"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: documents (operators/textpipe.py)
# ---------------------------------------------------------------------------

_DOC_TOKENS = (
    "SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), "
    "x -> x != '') AS tokens, text FROM documents"
)


@register(
    "token_stats",
    f"""
    WITH t AS ({_DOC_TOKENS})
    SELECT doc_id, len(tokens) AS n_tokens,
           round(list_aggregate(list_transform(tokens, x -> length(x)), 'sum')
                 * 1.0 / len(tokens), 6) AS avg_token_len
    FROM t
    """,
)
def q_token_stats(spark, sf_dir):
    t = TP.token_stats(read(spark, sf_dir, "documents"))
    return t.select("doc_id", "n_tokens", r(F.col("avg_token_len")).alias("avg_token_len"))


@register(
    "quality_score",
    f"""
    WITH t AS ({_DOC_TOKENS})
    SELECT doc_id, length(text) AS n_chars_computed, len(tokens) AS n_tokens,
           round(len(list_filter(tokens, x -> list_contains(
             ['the','a','of','and','to','in','is','it'], x))) * 1.0
             / len(tokens), 6) AS stopword_ratio,
           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
             / length(text), 6) AS alpha_ratio,
           round(list_aggregate(list_transform(tokens, x -> length(x)), 'sum')
             * 1.0 / len(tokens), 6) AS avg_word_len
    FROM t
    """,
)
def q_quality_score(spark, sf_dir):
    q = TP.quality_score(read(spark, sf_dir, "documents"))
    return q.select(
        "doc_id",
        "n_chars_computed",
        "n_tokens",
        r(F.col("stopword_ratio")).alias("stopword_ratio"),
        r(F.col("alpha_ratio")).alias("alpha_ratio"),
        r(F.col("avg_word_len")).alias("avg_word_len"),
    )


def _lang_prof_values() -> str:
    """Inline VALUES list for the lang-id oracle, generated from the
    SAME profile dict the Spark operator broadcasts — one source of
    truth, so the oracle cannot drift from the engine."""
    return ", ".join(
        f"('{g}', '{lang}')"
        for lang, gs in TP.LANG_PROFILES.items()
        for g in gs
    )


@register(
    "lang_id",
    f"""
    WITH prof(gram, lang) AS (VALUES {_lang_prof_values()}),
    t AS (SELECT doc_id,
                 ' ' || regexp_replace(lower(text), '[^a-zß-ÿ]+', ' ', 'g')
                     || ' ' AS norm
          FROM documents),
    g AS (SELECT doc_id, substring(norm, CAST(u.i AS INTEGER), 3) AS gram
          FROM t, unnest(range(1, CAST(length(norm) AS BIGINT) - 1)) AS u(i)),
    sc AS (SELECT doc_id, lang, count(*) AS score
           FROM g JOIN prof USING (gram) GROUP BY doc_id, lang),
    best AS (SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rn
             FROM sc)
    SELECT d.doc_id,
           CASE WHEN b.score >= 3 THEN b.lang ELSE 'other' END AS lang_pred
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    """,
)
def q_lang_id(spark, sf_dir):
    return TP.lang_id(read(spark, sf_dir, "documents"))


@register(
    "exact_dedup",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_exact_dedup(spark, sf_dir):
    return TP.exact_dedup(read(spark, sf_dir, "documents"))


#: BPE pre-tokenizer patterns quoted for DuckDB string literals — the
#: textpipe Python constants are the single source of truth (raw-string
#: backslashes pass through DuckDB regular literals untouched; only '
#: needs doubling). Same bytes reach Java regex (Spark) and RE2 (oracle).
_BPE_RE_SQL = TP.BPE_PRETOKEN_RE.replace("'", "''")
_WS_RE_SQL = TP._WS_ONLY_RE.replace("'", "''")
_CONTR_RE_SQL = TP._CONTRACTION_RE.replace("'", "''")


@register(
    "bpe_token_stats",
    f"""
    WITH m AS (
      SELECT doc_id, length(text) AS nc,
             regexp_extract_all(text, '{_BPE_RE_SQL}') AS pre
      FROM documents),
    s AS (
      SELECT doc_id, nc, len(pre) AS n_pretok,
             len(list_filter(pre,
               x -> NOT regexp_matches(x, '{_WS_RE_SQL}'))) AS n_tokens,
             len(list_filter(pre,
               x -> regexp_matches(x, '{_CONTR_RE_SQL}')))
               AS n_contractions
      FROM m)
    SELECT doc_id, n_pretok, n_tokens, n_contractions,
           round(CASE WHEN n_tokens > 0
                 THEN nc * 1.0 / n_tokens END, 6) AS chars_per_token
    FROM s
    """,
)
def q_bpe_token_stats(spark, sf_dir):
    s = TP.bpe_token_stats(read(spark, sf_dir, "documents"))
    return s.select(
        "doc_id", "n_pretok", "n_tokens", "n_contractions",
        r(F.col("chars_per_token")).alias("chars_per_token"),
    )


@register(
    "ngram_topk",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    g AS (
      SELECT doc_id, concat_ws(' ', tokens[i], tokens[i+1]) AS ngram
      FROM t, unnest(generate_series(1, len(tokens) - 1)) AS u(i)
      WHERE len(tokens) >= 2),
    pd AS (SELECT ngram, doc_id, count(*) AS c
           FROM g GROUP BY ngram, doc_id)
    SELECT ngram, CAST(sum(c) AS BIGINT) AS total_count,
           count(*) AS n_docs
    FROM pd GROUP BY ngram
    ORDER BY total_count DESC, ngram ASC LIMIT 20
    """,
)
def q_ngram_topk(spark, sf_dir):
    return TP.ngram_topk(read(spark, sf_dir, "documents"), n=2, k=20)


# DuckDB hex-string -> BIGINT (horner reduce; no float pow — md5
# prefixes can exceed double precision).  Shared by the CDC, minhash
# and LSH oracles below.
_HEX2INT = (
    "list_reduce(list_transform(string_split({h}, ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
    "(a, x) -> a * 16 + x)"
)


def _filter_corpus_oracle() -> str:
    e = TP.PII_EMAIL_RE.replace("'", "''")
    i = TP.PII_IPV4_RE.replace("'", "''")
    p = TP.PII_PHONE_RE.replace("'", "''")
    return f"""
    WITH t AS ({_DOC_TOKENS}),
    q AS (
      SELECT doc_id, len(tokens) AS n_tokens,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
               / length(text) AS alpha_ratio
      FROM t),
    pii AS (
      SELECT doc_id,
             (len(regexp_extract_all(text, '{e}'))
              + len(regexp_extract_all(text, '{i}'))
              + len(regexp_extract_all(text, '{p}'))) > 0 AS has_pii
      FROM documents),
    k AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
          FROM documents GROUP BY md5(text)),
    d AS (SELECT doc_id, md5(text) AS h FROM documents),
    f AS (SELECT d.doc_id, (d.doc_id != k.keep_id) AS dup
          FROM d JOIN k USING (h)),
    r AS (
      SELECT q.doc_id,
        CASE WHEN q.n_tokens < 5 THEN 'short'
             WHEN q.alpha_ratio < 0.5 THEN 'low_alpha'
             WHEN pii.has_pii THEN 'pii'
             WHEN f.dup THEN 'exact_dup'
             ELSE 'kept' END AS reason
      FROM q JOIN pii USING (doc_id) JOIN f USING (doc_id))
    SELECT doc_id, reason = 'kept' AS keep, reason FROM r
    """


@register("filter_corpus", _filter_corpus_oracle())
def q_filter_corpus(spark, sf_dir):
    return TP.filter_corpus(read(spark, sf_dir, "documents"))


@register(
    "repetition_stats",
    f"""
    WITH base AS (SELECT doc_id, len(text) AS n_chars FROM documents),
    l AS (
      SELECT doc_id, u.line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
            FROM documents), unnest(ls) AS u(line)
      WHERE u.line != ''),
    pl AS (SELECT doc_id, line, count(*) AS c FROM l
           GROUP BY doc_id, line),
    ls AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
             sum(c - 1) * 1.0 / sum(c) AS dlf,
             sum((c - 1) * length(line)) * 1.0
               / sum(c * length(line)) AS dlcf
           FROM pl GROUP BY doc_id),
    t AS ({_DOC_TOKENS}),
    g AS (SELECT doc_id, concat_ws(' ', tokens[i], tokens[i+1]) AS g
          FROM t, unnest(generate_series(1, len(tokens) - 1)) AS u(i)
          WHERE len(tokens) >= 2),
    pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
    tg AS (SELECT doc_id, c * length(g) AS top_chars,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, g ASC) AS rn
           FROM pg)
    SELECT b.doc_id,
           coalesce(n_lines, 0) AS n_lines,
           round(coalesce(dlf, 0), 6) AS dup_line_frac,
           round(coalesce(dlcf, 0), 6) AS dup_line_char_frac,
           round(coalesce(top_chars * 1.0 / b.n_chars, 0), 6)
             AS top2gram_char_frac
    FROM base b
    LEFT JOIN ls USING (doc_id)
    LEFT JOIN (SELECT doc_id, top_chars FROM tg WHERE rn = 1)
      USING (doc_id)
    """,
)
def q_repetition_stats(spark, sf_dir):
    t = TP.repetition_stats(read(spark, sf_dir, "documents"))
    return t.select(
        "doc_id",
        "n_lines",
        r(F.col("dup_line_frac")).alias("dup_line_frac"),
        r(F.col("dup_line_char_frac")).alias("dup_line_char_frac"),
        r(F.col("top2gram_char_frac")).alias("top2gram_char_frac"),
    )


def _pii_oracle() -> str:
    # The synthetic corpus contains no organic PII, which would make
    # this oracle vacuous — so BOTH sides deterministically append a
    # PII-bearing suffix to every 7th doc before scanning, making the
    # detectors and the ordered redaction live on every run.
    e = TP.PII_EMAIL_RE.replace("'", "''")
    i = TP.PII_IPV4_RE.replace("'", "''")
    p = TP.PII_PHONE_RE.replace("'", "''")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0 THEN
               ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com ip 10.0.0.'
               || CAST(doc_id % 256 AS VARCHAR)
               || ' tel +1 (555) 123-4567' ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text, '{e}')) AS n_emails,
           len(regexp_extract_all(text, '{i}')) AS n_ips,
           len(regexp_extract_all(text, '{p}')) AS n_phones,
           (len(regexp_extract_all(text, '{e}'))
            + len(regexp_extract_all(text, '{i}'))
            + len(regexp_extract_all(text, '{p}'))) > 0 AS has_pii,
           md5(regexp_replace(regexp_replace(regexp_replace(
             text, '{e}', '<EMAIL>', 'g'), '{i}', '<IP>', 'g'),
             '{p}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """


@register("pii_scrub", _pii_oracle())
def q_pii_scrub(spark, sf_dir):
    docs = read(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com ip 10.0.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(" tel +1 (555) 123-4567"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    return TP.pii_scrub(docs)


@register(
    "contamination",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    sh AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', tokens[g], tokens[g+1], tokens[g+2],
                       tokens[g+3], tokens[g+4]) AS shingle
      FROM t, unnest(generate_series(1, len(tokens) - 4)) AS u(g)
      WHERE len(tokens) >= 5),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    pd AS (
      SELECT sh.doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated
      FROM sh LEFT JOIN bench b ON sh.shingle = b.shingle
      GROUP BY sh.doc_id)
    SELECT d.doc_id,
           coalesce(pd.n_grams, 0) AS n_grams,
           coalesce(pd.n_contaminated, 0) AS n_contaminated,
           round(pd.n_contaminated * 1.0 / pd.n_grams, 6)
             AS contamination_frac
    FROM documents d LEFT JOIN pd USING (doc_id)
    """,
)
def q_contamination(spark, sf_dir):
    docs = read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    c = TP.contamination_check(docs, bench, n=5)
    return c.select(
        "doc_id", "n_grams", "n_contaminated",
        r(F.col("contamination_frac")).alias("contamination_frac"),
    )


def _cdc_oracle() -> str:
    from ts_pymfe_spark.operators.textpipe import CDC_MODULUS, CDC_WINDOW

    w, m = CDC_WINDOW, CDC_MODULUS
    hx = _HEX2INT.format(h=f"substring(md5(substr(text, p, {w})), 1, 10)")
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 1),
    pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - {w} + 1)) AS p
      FROM d WHERE length(text) >= {w}),
    cuts AS (
      SELECT doc_id, p + {w - 1} AS cut_end
      FROM pos WHERE ({hx}) % {m} = 0),
    cl AS (SELECT doc_id, list(cut_end) AS cl FROM cuts GROUP BY doc_id),
    ends AS (
      SELECT d.doc_id, d.text,
             list_sort(list_distinct(list_append(
               coalesce(cl.cl, []), length(d.text)))) AS e
      FROM d LEFT JOIN cl USING (doc_id)),
    chunks AS (
      SELECT doc_id,
             md5(substr(text,
                 CASE WHEN i = 1 THEN 1 ELSE e[i-1] + 1 END,
                 e[i] - CASE WHEN i = 1 THEN 0 ELSE e[i-1] END)) AS chunk_hash
      FROM ends, unnest(generate_series(1, len(e))) AS u(i)),
    pd AS (SELECT DISTINCT doc_id, chunk_hash FROM chunks),
    hd AS (SELECT chunk_hash, count(*) AS n_docs FROM pd GROUP BY chunk_hash)
    SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS dup_frac
    FROM pd JOIN hd USING (chunk_hash)
    GROUP BY doc_id
    """


@register("cdc_dedup", _cdc_oracle())
def q_cdc_dedup(spark, sf_dir):
    s = TP.cdc_dedup_stats(read(spark, sf_dir, "documents"))
    return s.select(
        "doc_id", "n_chunks", "n_shared",
        r(F.col("dup_frac")).alias("dup_frac"),
    )


@register(
    "doc_fingerprint",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    sh AS (
      SELECT doc_id,
             concat_ws(' ', tokens[g], tokens[g+1], tokens[g+2]) AS shingle
      FROM t, unnest(generate_series(1, len(tokens) - 2)) AS u(g)
      WHERE len(tokens) >= 3)
    SELECT doc_id, min(md5(shingle)) AS fingerprint
    FROM sh GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    return TP.doc_fingerprint(read(spark, sf_dir, "documents"), 3)


@register(
    "jaccard_pairs",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    sh AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', tokens[g], tokens[g+1], tokens[g+2]) AS shingle
      FROM t, unnest(generate_series(1, len(tokens) - 2)) AS u(g)
      WHERE len(tokens) >= 3),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.3
    """,
)
def q_jaccard_pairs(spark, sf_dir):
    p = TP.jaccard_pairs(read(spark, sf_dir, "documents"), 3, 0.3)
    return p.select("doc_a", "doc_b", r(F.col("jaccard")).alias("jaccard"))


# Minhash/LSH is deterministic md5 arithmetic, so it IS SQL-expressible:
# the oracle recomputes the 16 salted min-md5 signature mins, slices 4
# bands, and self-joins on the band bucket — exactly the engine plan.
_MINHASH_SALTS = 16
_MINHASH_BANDS = 4


def _minhash_oracle() -> str:
    # one md5 per shingle -> 40-bit int, then linear permutations
    # (a_i·x + b_i) mod 2^61−1 with md5-derived coefficients — the
    # exact arithmetic of TP.minhash_signatures (round 3)
    from ts_pymfe_spark.operators.textpipe import (
        MINHASH_P,
        minhash_perm_coef,
    )

    xexpr = _HEX2INT.format(h="substring(md5(shingle), 1, 10)")
    mins = ",\n             ".join(
        f"min(({minhash_perm_coef('a', i)} * ({xexpr})"
        f" + {minhash_perm_coef('b', i)}) % {MINHASH_P}) AS h{i}"
        for i in range(_MINHASH_SALTS)
    )
    rpb = _MINHASH_SALTS // _MINHASH_BANDS
    cases = " ".join(
        "WHEN {b} THEN '{b}|' || {cols}".format(
            b=b,
            cols=" || '|' || ".join(
                f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb)
            ),
        )
        for b in range(_MINHASH_BANDS)
    )
    return f"""
    WITH t AS ({_DOC_TOKENS}),
    idx AS (
      SELECT doc_id, tokens,
             unnest(generate_series(1, len(tokens) - 2)) AS i
      FROM t WHERE len(tokens) >= 3),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(tokens[i:i+2], ' ') AS shingle
      FROM idx),
    mh AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, b,
             CASE b {cases} END AS bucket
      FROM mh CROSS JOIN
           (SELECT unnest(generate_series(0, {_MINHASH_BANDS - 1})) AS b) g)
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM banded x JOIN banded y ON x.b = y.b AND x.bucket = y.bucket
    WHERE x.doc_id < y.doc_id
    """


@register("minhash_lsh_candidates", _minhash_oracle())
def q_minhash_lsh(spark, sf_dir):
    return TP.minhash_lsh_candidates(
        read(spark, sf_dir, "documents"),
        num_hashes=_MINHASH_SALTS, bands=_MINHASH_BANDS,
    )


def _dedup_clusters_oracle() -> str:
    # transitive closure of the candidate graph by recursive CTE — the
    # SQL mirror of graph.connected_components' min-id fixpoint (both
    # deterministic, so cluster assignment hash-compares exactly)
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """


@register("dedup_clusters", _dedup_clusters_oracle())
def q_dedup_clusters(spark, sf_dir):
    return TP.dedup_clusters(
        read(spark, sf_dir, "documents"),
        num_hashes=_MINHASH_SALTS, bands=_MINHASH_BANDS,
    )


# SimHash is deterministic too: token -> md5 -> 60-bit int (15 hex
# chars), per-bit ±1 vote, sign -> bit.  The oracle rebuilds the hex
# value with an exact BIGINT horner reduce (no float pow — 60 bits
# exceed double precision).
@register(
    "simhash",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    tok AS (SELECT doc_id, unnest(tokens) AS tok FROM t),
    h AS (
      SELECT doc_id,
             list_reduce(
               list_transform(
                 string_split(substring(md5(tok), 1, 15), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, x) -> a * 16 + x) AS h
      FROM tok),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) g
      GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def q_simhash(spark, sf_dir):
    return TP.simhash64(read(spark, sf_dir, "documents"))


# simhash hamming near-dup pairs (sixth dedup path): banded pigeonhole
# join (4 × 15-bit bands — perfect recall for hamming ≤ 3, not
# probabilistic), exact hamming via bit_count(xor).  The oracle
# re-derives the signature (BIGINT horner md5 arithmetic), the band
# split and the bit-count verification.
@register(
    "simhash_neardup",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    tok AS (SELECT doc_id, unnest(tokens) AS tok FROM t),
    h AS (
      SELECT doc_id,
             list_reduce(
               list_transform(
                 string_split(substring(md5(tok), 1, 15), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, x) -> a * 16 + x) AS h
      FROM tok),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) g
      GROUP BY doc_id, b),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id),
    bands AS (
      SELECT doc_id, simhash, b AS band,
             (simhash >> (15 * b)) & 32767 AS val
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) g),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM bands a JOIN bands b USING (band, val)
      WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def q_simhash_neardup(spark, sf_dir):
    return TP.simhash_neardup_pairs(read(spark, sf_dir, "documents"))


# flagship meta-feature extraction (TSMFE parity) — exercises the FULL
# two-stage Arrow path (groupBy(conv).applyInPandas kernels ->
# groupBy(conv,feature).applyInPandas summaries -> reference naming) on
# a feature set whose numpy kernels have exact ANSI-SQL equivalents, so
# the driver's DuckDB oracle verifies the Arrow pipeline end-to-end
# (the non-SQL kernel tail is covered by independent oracles in
# tests/test_kernel_oracles.py).
# Feature choice note: every value here is irrational-valued (ratios
# with sqrt/log) or integer-exact, so the 6dp round never lands on a
# decimal half-way point — means of the 2-decimal input grid (t_mean,
# diff.mean, flag fractions) do land there and Spark (BigDecimal
# HALF_UP) vs DuckDB (IEEE) disagree; those stay pytest-verified.
@register(
    "tsmfe_extract",
    f"""
    WITH s AS ({SERIES_CTE}),
    ord AS (
      SELECT conv_id, value,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
             lead(value) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt,
             lag(value)  OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prv
      FROM s),
    base AS (
      SELECT conv_id, count(*) AS n, avg(value) AS mu,
             sum(value*value) AS sxx
      FROM s GROUP BY conv_id),
    dagg AS (
      SELECT conv_id, count(*) AS m,
             sum((nxt-value)*(nxt-value)) AS sdd,
             avg((nxt-value)*(nxt-value)) AS d2,
             avg((nxt-value)*(nxt-value)*(nxt-value)) AS d3,
             avg(value*nxt) AS lagprod
      FROM ord WHERE nxt IS NOT NULL GROUP BY conv_id),
    t3 AS (
      SELECT conv_id, avg(prv * value * nxt) AS trip
      FROM ord WHERE prv IS NOT NULL AND nxt IS NOT NULL GROUP BY conv_id),
    mm AS (SELECT conv_id, min(value) AS mn, max(value) AS mx
           FROM s GROUP BY conv_id),
    hb AS (
      SELECT s.conv_id,
             CAST(least(floor((s.value - mm.mn) / ((mm.mx - mm.mn) / 10)), 9)
                  AS INT) AS bin
      FROM s JOIN mm USING (conv_id)),
    hc AS (SELECT conv_id, bin, count(*) AS c FROM hb GROUP BY conv_id, bin),
    hp AS (SELECT conv_id,
                  c * 1.0 / sum(c) OVER (PARTITION BY conv_id) AS p FROM hc),
    he AS (SELECT conv_id, -sum(p * ln(p)) / ln(10.0) AS v
           FROM hp GROUP BY conv_id),
    -- statsmodels-semantics adjusted ACF, lags 1..16 (the engine side
    -- computes this with a zero-padded FFT; this is the literal
    -- definition sum, i.e. an independent oracle for the FFT kernel)
    ac AS (
      SELECT a.conv_id, g.k,
             sum((a.value - b.mu) * (c.value - b.mu)) / (b.n - g.k) AS acov
      FROM ord a
      CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS k) g
      JOIN ord c ON c.conv_id = a.conv_id AND c.rn = a.rn + g.k
      JOIN base b ON b.conv_id = a.conv_id
      GROUP BY a.conv_id, g.k, b.n, b.mu),
    acv AS (
      SELECT ac.conv_id, ac.k,
             ac.acov / (s2.c0) AS r
      FROM ac JOIN (
        SELECT conv_id, sum((value - mu) * (value - mu)) / max(n) AS c0
        FROM s JOIN base USING (conv_id) GROUP BY conv_id) s2
      USING (conv_id)),
    acm AS (SELECT conv_id, avg(r) AS amean, count(*) AS ak FROM acv
            GROUP BY conv_id),
    acs AS (
      SELECT acv.conv_id,
             sqrt(sum((acv.r - acm.amean) * (acv.r - acm.amean))
                  / (acm.ak - 1)) AS asd
      FROM acv JOIN acm USING (conv_id) GROUP BY acv.conv_id, acm.ak),
    lng AS (
      SELECT conv_id, 'length' AS name, CAST(n AS DOUBLE) AS v FROM base
      UNION ALL
      SELECT g.conv_id, 'dw', (g.sdd / b.sxx) / 4.0
      FROM dagg g JOIN base b USING (conv_id)
      UNION ALL
      SELECT conv_id, 'trev', d3 / pow(d2, 1.5) FROM dagg
      UNION ALL
      SELECT t3.conv_id, 'tc3', t3.trip / pow(abs(g.lagprod), 1.5)
      FROM t3 JOIN dagg g USING (conv_id)
      UNION ALL
      SELECT conv_id, 'hist_entropy', v FROM he
      UNION ALL
      SELECT conv_id, 'acf.mean', amean FROM acm
      UNION ALL
      SELECT conv_id, 'acf.sd', asd FROM acs)
    SELECT conv_id, 'value' AS series, name, round(v, 6) + 0.0 AS value
    FROM lng
    """,
)
def q_tsmfe_extract(spark, sf_dir):
    from ts_pymfe_spark.api import TSMFESpark

    eng = TSMFESpark(
        features=["length", "dw", "trev", "tc3", "hist_entropy", "acf"],
        summaries=("mean", "sd"),
    )
    out = eng.extract(_series(spark, sf_dir))
    return out.select(
        "conv_id", "series", "name",
        (r(F.col("value")) + F.lit(0.0)).alias("value"),
    )


# ---------------------------------------------------------------------------
# Similarity search: embeddings
# ---------------------------------------------------------------------------

@register(
    "ann_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id < 5),
    c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id >= 5),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e))
                  * sqrt(list_dot_product(c.e, c.e))) AS cos
      FROM q CROSS JOIN c),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
    FROM ranked WHERE rank <= 3
    """,
)
def q_ann_topk(spark, sf_dir):
    emb = read(spark, sf_dir, "embeddings")
    out = TP.cosine_topk(
        emb.filter("vec_id >= 5"), emb.filter("vec_id < 5"), k=3
    )
    return out.select(
        "query_id", "neighbor_id", "rank", r(F.col("cos")).alias("cos")
    )


# LSH-ANN: the hyperplanes are md5-derived (exact integer + power-of-2
# arithmetic), so the oracle reproduces the bucketing bit-exactly.


@register(
    "ann_lsh",
    f"""
    WITH pl AS (
      SELECT pp, list_transform(generate_series(0, 63), j ->
        ({_HEX2INT.format(h="substring(md5('plane' || pp || ':' || j), 1, 8)")}
         / 4294967296.0) * 2.0 - 1.0) AS w
      FROM (SELECT unnest(generate_series(0, 7)) AS pp)),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sig AS (
      SELECT e.vec_id,
             string_agg(CASE WHEN list_dot_product(e.e, pl.w) > 0
                             THEN '1' ELSE '0' END, '' ORDER BY pl.pp)
               AS bucket
      FROM e CROSS JOIN pl GROUP BY e.vec_id),
    q AS (SELECT s.vec_id AS query_id, e.e AS qe, s.bucket
          FROM sig s JOIN e USING (vec_id) WHERE vec_id < 5),
    c AS (SELECT s.vec_id AS neighbor_id, e.e AS ce, s.bucket
          FROM sig s JOIN e USING (vec_id) WHERE vec_id >= 5),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             list_dot_product(q.qe, c.ce)
               / (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(c.ce, c.ce))) AS cos
      FROM c JOIN q USING (bucket)),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, round(cos, 6) + 0.0 AS cos
    FROM ranked WHERE rank <= 3
    """,
)
def q_ann_lsh(spark, sf_dir):
    emb = read(spark, sf_dir, "embeddings")
    out = TP.lsh_bucketed_topk(
        emb.filter("vec_id >= 5"), emb.filter("vec_id < 5"), k=3, dim=64
    )
    return out.select(
        "query_id", "neighbor_id", "rank",
        (r(F.col("cos")) + F.lit(0.0)).alias("cos"),
    )


def _pinned_centroids(n_lists: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic IVF centroids from the same md5 integer arithmetic
    as the LSH planes: weight (c, j) = (hex2int(md5("cent{c}:{j}")[:8])
    / 2^32) * 2 − 1.  Every term is a ≤32-bit integer over a power of
    two, so float64 represents it exactly and the DuckDB oracle
    regenerates the matrix bit-identically.  These are pinned model
    parameters for the correctness contract — the production path
    trains them with ivf_train_centroids (kmeans|| on a sample)."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"cent{c}:{j}".encode()).hexdigest()[:8], 16)
             / 4294967296.0) * 2.0 - 1.0
            for j in range(dim)
        ]
        for c in range(n_lists)
    ]


# IVF ANN: corpus rows assigned to their single nearest pinned
# centroid (L2), queries probe their nprobe=2 nearest lists, cosine
# top-3 inside the probed lists only.  The oracle re-derives centroid
# generation, list assignment (same expansion d² = e·e − 2·e·w + w·w
# up to float error that cannot flip an argmin at these margins,
# tie-broken identically by centroid id) and the in-list ranking.
@register(
    "ann_ivf",
    f"""
    WITH cent AS (
      SELECT cc, list_transform(generate_series(0, 63), j ->
        ({_HEX2INT.format(h="substring(md5('cent' || cc || ':' || j), 1, 8)")}
         / 4294967296.0) * 2.0 - 1.0) AS w
      FROM (SELECT unnest(generate_series(0, 3)) AS cc)),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dist AS (
      SELECT e.vec_id, cent.cc,
             list_dot_product(e.e, e.e)
               - 2 * list_dot_product(e.e, cent.w)
               + list_dot_product(cent.w, cent.w) AS d2
      FROM e CROSS JOIN cent),
    ranked_lists AS (
      SELECT vec_id, cc,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, cc) AS lrank
      FROM dist),
    c AS (SELECT rl.vec_id AS neighbor_id, e.e AS ce, rl.cc AS list_id
          FROM ranked_lists rl JOIN e USING (vec_id)
          WHERE rl.lrank = 1 AND rl.vec_id >= 5),
    q AS (SELECT rl.vec_id AS query_id, e.e AS qe, rl.cc AS list_id
          FROM ranked_lists rl JOIN e USING (vec_id)
          WHERE rl.lrank <= 2 AND rl.vec_id < 5),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             list_dot_product(q.qe, c.ce)
               / (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(c.ce, c.ce))) AS cos
      FROM c JOIN q USING (list_id)),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, round(cos, 6) + 0.0 AS cos
    FROM ranked WHERE rank <= 3
    """,
)
def q_ann_ivf(spark, sf_dir):
    emb = read(spark, sf_dir, "embeddings")
    out = TP.ivf_topk(
        emb.filter("vec_id >= 5"), emb.filter("vec_id < 5"),
        _pinned_centroids(), k=3, nprobe=2,
    )
    return out.select(
        "query_id", "neighbor_id", "rank",
        (r(F.col("cos")) + F.lit(0.0)).alias("cos"),
    )


@register(
    "emb_label_stats",
    """
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[]))), 6) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def q_emb_label_stats(spark, sf_dir):
    emb = TP.with_norm(read(spark, sf_dir, "embeddings"))
    return emb.groupBy("label").agg(
        F.count("*").alias("n"), r(F.avg("_norm")).alias("avg_norm")
    )


# embedding-cosine near-duplicate pairs (fifth dedup family): LSH
# buckets from md5-derived hyperplanes -> multi-probe (exact bucket +
# all 1-bit flips on the id_a side, round 3) -> within-bucket cosine
# filter.  The oracle re-derives the probe expansion with the same
# string surgery, so the contract stays exact at radius 1.  The CTE
# body is shared with the semantic_dedup oracle (clusters over the
# same candidate pairs).
def _emb_pairs_ctes() -> str:
    return f"""pl AS (
      SELECT pp, list_transform(generate_series(0, 63), j ->
        ({_HEX2INT.format(h="substring(md5('plane' || pp || ':' || j), 1, 8)")}
         / 4294967296.0) * 2.0 - 1.0) AS w
      FROM (SELECT unnest(generate_series(0, 7)) AS pp)),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sig AS (
      SELECT e.vec_id,
             string_agg(CASE WHEN list_dot_product(e.e, pl.w) > 0
                             THEN '1' ELSE '0' END, '' ORDER BY pl.pp)
               AS bucket
      FROM e CROSS JOIN pl GROUP BY e.vec_id),
    probes AS (
      SELECT vec_id,
             unnest(list_prepend(bucket,
               list_transform(generate_series(1, 8), i ->
                 substring(bucket, 1, i - 1)
                 || (CASE WHEN substring(bucket, i, 1) = '1'
                          THEN '0' ELSE '1' END)
                 || substring(bucket, i + 1, 8)))) AS bucket
      FROM sig),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(ea.e, eb.e)
               / (sqrt(list_dot_product(ea.e, ea.e))
                  * sqrt(list_dot_product(eb.e, eb.e))) AS cos
      FROM probes a JOIN sig b ON a.bucket = b.bucket
                               AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id)"""


@register(
    "emb_neardup",
    f"""
    WITH {_emb_pairs_ctes()}
    SELECT id_a, id_b, round(cos, 6) + 0.0 AS cos
    FROM pairs WHERE cos >= 0.3
    """,
)
def q_emb_neardup(spark, sf_dir):
    out = TP.embedding_neardup_pairs(
        read(spark, sf_dir, "embeddings"), threshold=0.3, dim=64,
        probe_radius=1,
    )
    return out.select(
        "id_a", "id_b", (r(F.col("cos")) + F.lit(0.0)).alias("cos")
    )


def _semantic_dedup_oracle() -> str:
    # transitive closure over the embedding near-dup candidate graph —
    # same recursive-CTE mirror as _dedup_clusters_oracle, over the
    # shared emb-pairs CTE body
    return f"""
    WITH RECURSIVE {_emb_pairs_ctes()},
    cand AS (SELECT id_a, id_b FROM pairs WHERE cos >= 0.3),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM cand
      UNION SELECT id_b, id_a FROM cand),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
    comp AS (
      SELECT a AS vec_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a)
    SELECT v.vec_id,
           coalesce(c.cluster_id, v.vec_id) AS cluster_id,
           coalesce(c.cluster_id, v.vec_id) = v.vec_id AS keep
    FROM embeddings v LEFT JOIN comp c USING (vec_id)
    """


@register("semantic_dedup", _semantic_dedup_oracle())
def q_semantic_dedup(spark, sf_dir):
    return TP.semantic_dedup_clusters(
        read(spark, sf_dir, "embeddings"), threshold=0.3, dim=64,
        probe_radius=1,
    )


# deterministic stratified hash sampling: md5-uniform per doc_id vs a
# per-language rate table.  The whole operator is a broadcast-joined
# narrow filter (zero shuffles) and the sample is a pure function of
# doc_id — identical at any parallelism, which is what the oracle
# checks ('zh' absent from the rate table -> dropped).
_SAMP_U = (
    "({h} / 1152921504606846976.0)"  # top 60 md5 bits -> [0, 1)
)


def _samp_u_sql(salt: str, idexpr: str) -> str:
    return _SAMP_U.format(
        h=_HEX2INT.format(
            h=f"substring(md5('samp{salt}:' || {idexpr}), 1, 15)"
        )
    )


@register(
    "sample_corpus",
    f"""
    WITH rates(lang, rate) AS (VALUES
      ('en', 0.5), ('de', 0.9), ('fr', 0.25), ('es', 1.0))
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN rates USING (lang)
    WHERE {_samp_u_sql('', 'd.doc_id')} < rate
    """,
)
def q_sample_corpus(spark, sf_dir):
    rates = spark.createDataFrame(
        [("en", 0.5), ("de", 0.9), ("fr", 0.25), ("es", 1.0)],
        "lang string, rate double",
    )
    return TP.sample_corpus(
        read(spark, sf_dir, "documents"), rates, strata_col="lang"
    ).select("doc_id", "lang", "n_chars")


_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.2, "src2": 0.5}
_MIX_BUDGET = 20000


def _mix_case() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items()
    )
    return f"(CASE source {whens} ELSE 0.0 END)"


def _mix_rates_sql() -> str:
    # avail cast to BIGINT: DuckDB's sum(BIGINT) is HUGEINT, which
    # pandas would surface as a different dtype kind than Spark's long
    return f"""
    SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail,
           {_MIX_BUDGET}.0 * {_mix_case()} AS target
    FROM documents GROUP BY source
    """


@register(
    "mixture_rates",
    f"""
    SELECT source, avail, round(target, 6) + 0.0 AS target,
           round(least(1.0, target / avail), 6) + 0.0 AS rate
    FROM ({_mix_rates_sql()})
    """,
)
def q_mixture_rates(spark, sf_dir):
    out = TP.mixture_rates(
        read(spark, sf_dir, "documents"), _MIX_WEIGHTS, _MIX_BUDGET,
        strata_col="source",
    )
    return out.select(
        "source", "avail",
        (r(F.col("target")) + F.lit(0.0)).alias("target"),
        (r(F.col("rate")) + F.lit(0.0)).alias("rate"),
    )


# the composition a mixing pipeline actually runs: token-budget rates
# computed from the corpus itself, then the deterministic hash sample
# at those (unrounded) rates — exact on both engines because avail is
# an integer sum and the rate arithmetic is identical double ops.
@register(
    "mixture_sample",
    f"""
    WITH rates AS ({_mix_rates_sql()}),
    rr AS (SELECT source, least(1.0, target / avail) AS rate FROM rates)
    SELECT d.doc_id, d.source
    FROM documents d JOIN rr USING (source)
    WHERE {_samp_u_sql('mix', 'd.doc_id')} < rate
    """,
)
def q_mixture_sample(spark, sf_dir):
    docs = read(spark, sf_dir, "documents")
    rates = TP.mixture_rates(
        docs, _MIX_WEIGHTS, _MIX_BUDGET, strata_col="source"
    ).select("source", "rate")
    return TP.sample_corpus(
        docs, rates, strata_col="source", salt="mix"
    ).select("doc_id", "source")


# concat-and-chunk sequence packing: md5 shard -> per-shard running
# token sum -> integer chunk indices.  All-integer layout, so the
# window cumsum oracles exactly (the shard hash and the whitespace
# token count reuse the established md5 / split derivations).
_PACK_SEQ_LEN = 512
_PACK_SHARDS = 8


def _pack_sql() -> str:
    shard = _HEX2INT.format(h="substring(md5('pack:' || doc_id), 1, 15)")
    return f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
                             x -> x != '')) AS n_tokens,
             {shard} % {_PACK_SHARDS} AS shard
      FROM documents),
    w AS (
      SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS end_tok
      FROM t WHERE n_tokens > 0)
    SELECT doc_id, shard, n_tokens,
           end_tok - n_tokens AS start_tok,
           CAST(floor((end_tok - n_tokens) / {_PACK_SEQ_LEN}.0) AS BIGINT)
             AS first_chunk,
           CAST(floor((end_tok - 1) / {_PACK_SEQ_LEN}.0) AS BIGINT)
             AS last_chunk,
           CAST(floor((end_tok - n_tokens) / {_PACK_SEQ_LEN}.0) AS BIGINT)
             != CAST(floor((end_tok - 1) / {_PACK_SEQ_LEN}.0) AS BIGINT)
             AS crosses_boundary
    FROM w
    """


@register("pack_sequences", _pack_sql())
def q_pack_sequences(spark, sf_dir):
    return TP.pack_sequences(
        read(spark, sf_dir, "documents"),
        seq_len=_PACK_SEQ_LEN, shards=_PACK_SHARDS,
    )


@register(
    "packing_stats",
    f"""
    SELECT shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN crosses_boundary THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boundary_docs,
           CAST(ceil(CAST(sum(n_tokens) AS BIGINT)
                     / {_PACK_SEQ_LEN}.0) AS BIGINT) AS n_chunks,
           round((CAST(ceil(CAST(sum(n_tokens) AS BIGINT)
                            / {_PACK_SEQ_LEN}.0) AS BIGINT)
                  * {_PACK_SEQ_LEN} - CAST(sum(n_tokens) AS BIGINT))
                 * 1.0
                 / (CAST(ceil(CAST(sum(n_tokens) AS BIGINT)
                              / {_PACK_SEQ_LEN}.0) AS BIGINT)
                    * {_PACK_SEQ_LEN}), 6) + 0.0 AS waste_frac
    FROM ({_pack_sql()})
    GROUP BY shard
    """,
)
def q_packing_stats(spark, sf_dir):
    out = TP.packing_stats(
        read(spark, sf_dir, "documents"),
        seq_len=_PACK_SEQ_LEN, shards=_PACK_SHARDS,
    )
    return out.select(
        "shard", "n_docs", "n_tokens", "n_boundary_docs", "n_chunks",
        (r(F.col("waste_frac")) + F.lit(0.0)).alias("waste_frac"),
    )


# k-means topic assignment + cluster-balanced retention, against the
# same pinned md5 centroids as ann_ivf (exactly regenerable in SQL).
def _kmeans_assign_ctes() -> str:
    return f"""cent AS (
      SELECT cc, list_transform(generate_series(0, 63), j ->
        ({_HEX2INT.format(h="substring(md5('cent' || cc || ':' || j), 1, 8)")}
         / 4294967296.0) * 2.0 - 1.0) AS w
      FROM (SELECT unnest(generate_series(0, 3)) AS cc)),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dist AS (
      SELECT e.vec_id, cent.cc,
             list_dot_product(e.e, e.e)
               - 2 * list_dot_product(e.e, cent.w)
               + list_dot_product(cent.w, cent.w) AS d2
      FROM e CROSS JOIN cent),
    assigned AS (
      SELECT vec_id, CAST(cc AS BIGINT) AS cluster
      FROM (SELECT vec_id, cc,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cc) AS lrank
            FROM dist)
      WHERE lrank = 1)"""


@register(
    "kmeans_assign",
    f"WITH {_kmeans_assign_ctes()} SELECT vec_id, cluster FROM assigned",
)
def q_kmeans_assign(spark, sf_dir):
    return TP.kmeans_assign(
        read(spark, sf_dir, "embeddings"), _pinned_centroids()
    )


_CLUSTER_CAP = 40


@register(
    "cluster_cap",
    f"""
    WITH {_kmeans_assign_ctes()},
    ranked AS (
      SELECT vec_id, cluster,
             row_number() OVER (
               PARTITION BY cluster
               ORDER BY {_samp_u_sql('cap', 'vec_id')}, vec_id) AS rank
      FROM assigned)
    SELECT vec_id, cluster, CAST(rank AS INT) AS rank,
           rank <= {_CLUSTER_CAP} AS kept
    FROM ranked
    """,
)
def q_cluster_cap(spark, sf_dir):
    return TP.cluster_cap(
        read(spark, sf_dir, "embeddings"), _pinned_centroids(),
        cap=_CLUSTER_CAP,
    )


# as-of join (kdb aj / DuckDB ASOF): each click gets the latest view
# of the same user at or before its timestamp.  The Spark side is the
# union-merge window (one exchange, no per-key quadratic term); the
# oracle is the obviously-correct LATERAL argmax with the identical
# tie-break (ts DESC, event_id DESC).
@register(
    "asof_join",
    """
    SELECT a.event_id, a.user_id, a.ts, a.value,
           b.event_id AS r_event_id, b.ts AS r_ts, b.value AS r_value,
           round(date_diff('microsecond', b.ts, a.ts) / 1000000.0, 6)
             + 0.0 AS lag_s
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    LEFT JOIN LATERAL (
      SELECT event_id, ts, value FROM events b
      WHERE b.event_type = 'view' AND b.user_id = a.user_id
        AND b.ts <= a.ts
      ORDER BY b.ts DESC, b.event_id DESC LIMIT 1) b ON true
    """,
)
def q_asof_join(spark, sf_dir):
    ev = read(spark, sf_dir, "events")
    out = asof_join(
        ev.filter("event_type = 'click'")
        .select("event_id", "user_id", "ts", "value"),
        ev.filter("event_type = 'view'"),
        key="user_id",
    )
    return out.select(
        "event_id", "user_id", "ts", "value",
        "r_event_id", "r_ts", "r_value",
        (r(asof_lag_seconds(out)) + F.lit(0.0)).alias("lag_s"),
    )


# window join (kdb wj): trailing 1-day aggregates of each user's view
# values at every click.  The contract pre-scales values to integer
# cents so every aggregate (count/sum/min/max, and avg = exact-int
# double division) is order-free and hash-exact; the production
# operator aggregates whatever column it is given.
@register(
    "window_join",
    """
    WITH v AS (SELECT user_id, ts,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_type = 'view'),
    c AS (SELECT event_id, user_id, ts
          FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, c.ts,
           w.n AS w_n, w.s AS w_sum, w.mn AS w_min, w.mx AS w_max,
           round(w.a, 6) + 0.0 AS w_avg
    FROM c LEFT JOIN LATERAL (
      SELECT count(cents) AS n, CAST(sum(cents) AS BIGINT) AS s,
             min(cents) AS mn, max(cents) AS mx, avg(cents) AS a
      FROM v WHERE v.user_id = c.user_id
        AND v.ts <= c.ts
        AND v.ts >= c.ts - INTERVAL 86400 SECOND) w ON true
    """,
)
def q_window_join(spark, sf_dir):
    ev = read(spark, sf_dir, "events")
    views = ev.filter("event_type = 'view'").select(
        "user_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    clicks = ev.filter("event_type = 'click'").select(
        "event_id", "user_id", "ts"
    )
    out = window_join(clicks, views, window_s=86400.0, value_col="cents")
    return out.select(
        "event_id", "user_id", "ts", "w_n", "w_sum", "w_min", "w_max",
        (r(F.col("w_avg")) + F.lit(0.0)).alias("w_avg"),
    )


# PromQL-style counter rate with reset handling: per-user cumulative
# counter (integer cents, so the per-bucket double sums are exact in
# any order), lag-differenced with the Prometheus reset convention
# (negative delta -> the new value is the increase), rolled up to
# hourly increase + per-second rate.
@register(
    "counter_rate",
    """
    WITH c AS (SELECT user_id, ts,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    d AS (SELECT user_id, ts, v,
                 v - lag(v) OVER (PARTITION BY user_id
                                  ORDER BY ts) AS delta
          FROM c),
    i AS (SELECT user_id, ts,
                 CASE WHEN delta IS NULL THEN NULL
                      WHEN delta < 0 THEN CAST(v AS DOUBLE)
                      ELSE CAST(delta AS DOUBLE) END AS increase,
                 CASE WHEN delta < 0 THEN 1 ELSE 0 END AS reset
          FROM d)
    SELECT user_id,
           make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600
                               AS BIGINT) * 1000000) AS bucket_start,
           count(*) AS n_samples,
           CAST(sum(reset) AS BIGINT) AS n_resets,
           sum(increase) AS increase_sum,
           round(sum(increase) / 3600, 6) + 0.0 AS rate
    FROM i GROUP BY 1, 2
    """,
)
def q_counter_rate(spark, sf_dir):
    ev = read(spark, sf_dir, "events").select(
        "user_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = counter_rate(ev, value_col="cents", bucket_s=3600)
    return out.select(
        "user_id", "bucket_start", "n_samples", "n_resets",
        "increase_sum",
        (r(F.col("rate")) + F.lit(0.0)).alias("rate"),
    )


# HLL distinct users per day (operators/sketches.py): md5-derived
# 32-bit hash, p=10 registers — the whole pipeline (hash, register,
# leading-zero rank, per-register max, Flajolet estimate with the
# linear-counting branch) is replayed verbatim in DuckDB.  The bias
# constants are precomputed in Python and inlined as the SAME literal
# on both engines; per-group sums of 2^-rho are binary fractions
# spanning < 53 bits, exact in any aggregation order.
_HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024


@register(
    "hll_users_daily",
    f"""
    WITH h AS (
      SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day,
             {_HEX2INT.format(h="substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 8)")} AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    rg AS (
      SELECT day, h >> 22 AS register,
             CASE WHEN (h & 4194303) = 0 THEN 23
                  ELSE strpos(lpad(bin(h & 4194303), 22, '0'), '1')
                  END AS rho
      FROM h
    ),
    s AS (SELECT day, register, max(rho) AS max_rho
          FROM rg GROUP BY 1, 2),
    e AS (SELECT day, count(*) AS used,
                 (1024 - count(*)) + sum(power(2.0, -max_rho)) AS s_all
          FROM s GROUP BY 1)
    SELECT day, CAST(used AS BIGINT) AS registers_used,
           round(CASE WHEN {_HLL_ALPHA_M2!r} / s_all <= 2560.0
                       AND used < 1024
                      THEN 1024.0 * ln(1024.0 / (1024 - used))
                      ELSE {_HLL_ALPHA_M2!r} / s_all END, 6) + 0.0
           AS est_distinct
    FROM e
    """,
)
def q_hll_users_daily(spark, sf_dir):
    from ts_pymfe_spark.operators.sketches import hll_distinct

    ev = read(spark, sf_dir, "events").select(
        F.to_date(F.col("ts")).cast("string").alias("day"),
        "user_id",
    )
    return hll_distinct(ev, ["day"], "user_id", p=10)


# view -> click -> purchase funnel within 24 h (operators/funnel.py):
# greedy-earliest chain anchored at the first view, equal timestamps
# eligible, (ts, event_id) processing order.  Running-min windows on
# both engines — timestamps and the int depth hash exactly.
@register(
    "funnel_vcp",
    """
    WITH a AS (
      SELECT user_id, event_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t1
      FROM events
    ),
    b AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1
                          AND ts <= t1 + INTERVAL 86400 SECOND
                         THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t2
      FROM a
    ),
    c AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2
                          AND ts <= t1 + INTERVAL 86400 SECOND
                         THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t3
      FROM b
    )
    SELECT user_id,
           CAST(min(t1) AS VARCHAR) AS view_ts,
           CAST(min(t2) AS VARCHAR) AS click_ts,
           CAST(min(t3) AS VARCHAR) AS purchase_ts,
           CASE WHEN min(t3) IS NOT NULL THEN 3
                WHEN min(t2) IS NOT NULL THEN 2
                WHEN min(t1) IS NOT NULL THEN 1
                ELSE 0 END AS depth
    FROM c GROUP BY user_id
    """,
)
def q_funnel_vcp(spark, sf_dir):
    from ts_pymfe_spark.operators.funnel import funnel

    ev = read(spark, sf_dir, "events")
    out = funnel(
        ev,
        steps=[F.col("event_type") == "view",
               F.col("event_type") == "click",
               F.col("event_type") == "purchase"],
        key="user_id", ts_col="ts", window_s=86400.0,
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        F.col("t1").cast("string").alias("view_ts"),
        F.col("t2").cast("string").alias("click_ts"),
        F.col("t3").cast("string").alias("purchase_ts"),
        "depth",
    )


# cohort retention matrix (operators/funnel.py): cohort = first
# activity day per user; distinct-user counts are exact integers.
@register(
    "cohort_retention",
    """
    WITH a AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
    c AS (SELECT user_id, day,
                 min(day) OVER (PARTITION BY user_id) AS cohort_day
          FROM a),
    d AS (SELECT DISTINCT user_id, cohort_day,
                 CAST(date_diff('day', cohort_day, day) AS INT)
                   AS offset_days
          FROM c)
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, offset_days,
           CAST(count(*) AS BIGINT) AS n_active
    FROM d GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark, sf_dir):
    from ts_pymfe_spark.operators.funnel import cohort_retention

    out = cohort_retention(read(spark, sf_dir, "events"))
    return out.select(
        F.col("cohort_day").cast("date").cast("string")
        .alias("cohort_day"),
        "offset_days", "n_active",
    )


# bucketized point-in-interval join (operators/intervals.py): each
# 'error' event opens a 6-hour incident window; count, per user, the
# (click, window) containment pairs and distinct covered clicks.  The
# Spark side buckets the time axis into an equi-join (no nested-loop,
# plan-audited); the oracle states the raw range predicate.
@register(
    "error_window_clicks",
    """
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 21600 SECOND AS e
      FROM events WHERE event_type = 'error'
    ),
    pt AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'click'
    )
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.event_id) AS BIGINT) AS n_points
    FROM pt p JOIN iv i ON p.user_id = i.user_id
                       AND p.ts >= i.s AND p.ts <= i.e
    GROUP BY 1
    """,
)
def q_error_window_clicks(spark, sf_dir):
    from ts_pymfe_spark.operators.intervals import points_in_intervals

    ev = read(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("start"),
        (F.col("ts") + F.make_dt_interval(secs=F.lit(21600.0))).alias("end"),
    )
    pt = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    return points_in_intervals(pt, iv, bucket_s=21600)


# mergeable histogram quantiles (operators/histogram.py): per-user
# p50/p95 of value from a 100-bin [0, 200] grid sketch — the DuckDB
# oracle replays the identical bin / cumulate / interpolate pipeline.
# Counts are ints; the interpolation arithmetic is the same expression
# on both engines, rounded to 6 decimals.
@register(
    "hist_quantiles_user",
    """
    WITH v AS (
      SELECT user_id,
             least(greatest(CAST(value AS DOUBLE), 0.0), 200.0) AS v
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT user_id,
             CAST(least(floor(v / 2.0), 99) AS INT) AS bin FROM v
    ),
    c AS (SELECT user_id, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (
      SELECT user_id, bin, cnt,
             sum(cnt) OVER (PARTITION BY user_id ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY user_id) AS n
      FROM c
    ),
    hit AS (
      SELECT user_id, CAST(max(n) AS BIGINT) AS n,
             min(CASE WHEN cum >= 0.5 * n
                      THEN struct_pack(bin := bin, cum := cum,
                                       cnt := cnt) END) AS h50,
             min(CASE WHEN cum >= 0.95 * n
                      THEN struct_pack(bin := bin, cum := cum,
                                       cnt := cnt) END) AS h95
      FROM cum GROUP BY 1
    )
    SELECT user_id, n,
           round(0.0 + 2.0 * (h50.bin + (0.5 * n - (h50.cum - h50.cnt))
                              / h50.cnt), 6) + 0.0 AS p50,
           round(0.0 + 2.0 * (h95.bin + (0.95 * n - (h95.cum - h95.cnt))
                              / h95.cnt), 6) + 0.0 AS p95
    FROM hit
    """,
)
def q_hist_quantiles_user(spark, sf_dir):
    from ts_pymfe_spark.operators.histogram import histogram_quantiles

    ev = read(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, ["user_id"], "value", qs=[0.5, 0.95],
        lo=0.0, hi=200.0, bins=100)


# exact heavy hitters over a JSON-extracted property
# (operators/sketches.py heavy_hitters): top-5 props.k per event_type,
# deterministic (count desc, value asc) tiebreak; exercises the JSON
# path extraction surface on both engines.
@register(
    "top_props_by_type",
    """
    WITH x AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    ),
    c AS (SELECT event_type, k, CAST(count(*) AS BIGINT) AS cnt
          FROM x WHERE k IS NOT NULL GROUP BY 1, 2),
    rk AS (
      SELECT event_type, k, cnt,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY cnt DESC, k ASC) AS INT)
               AS rank
      FROM c
    )
    SELECT event_type, k, cnt, rank FROM rk WHERE rank <= 5
    """,
)
def q_top_props_by_type(spark, sf_dir):
    from ts_pymfe_spark.operators.sketches import heavy_hitters

    ev = read(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )
    return heavy_hitters(ev, ["event_type"], "k", k=5)


# first-order Markov transition matrix of event types per user stream
# (operators/funnel.py transition_matrix): lag pairs -> O(states^2)
# counts -> row-normalized probabilities.
@register(
    "event_transitions",
    """
    WITH p AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_state,
             event_type AS to_state
      FROM events
    ),
    c AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT)
            AS n_transitions
          FROM p WHERE from_state IS NOT NULL GROUP BY 1, 2)
    SELECT from_state, to_state, n_transitions,
           round(n_transitions /
                 sum(n_transitions) OVER (PARTITION BY from_state), 6)
             + 0.0 AS prob
    FROM c
    """,
)
def q_event_transitions(spark, sf_dir):
    from ts_pymfe_spark.operators.funnel import transition_matrix

    return transition_matrix(read(spark, sf_dir, "events"),
                             tiebreak_col="event_id")


# trailing-window z-score anomalies (operators/local_stats.py
# rolling_anomalies): per conv, count of |z| > 2 points against the
# 20-point trailing baseline (moment-algebra variance, min 10 points).
@register(
    "anomaly_counts",
    f"""
    WITH s AS ({{series}}),
    zc AS (
      SELECT conv_id, value,
             count(value) OVER w AS n,
             sum(value) OVER w AS s1,
             sum(value * value) OVER w AS s2
      FROM s
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT conv_id,
             CASE WHEN n >= 10 AND (s2 - s1 * s1 / n) / (n - 1) > 0
                  THEN (value - s1 / n)
                       / sqrt((s2 - s1 * s1 / n) / (n - 1))
                  END AS zv
      FROM zc
    )
    SELECT conv_id,
           CAST(count(zv) AS BIGINT) AS n_scored,
           CAST(sum(CASE WHEN abs(zv) > 2.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anomalies,
           round(max(abs(zv)), 6) + 0.0 AS max_abs_z
    FROM z GROUP BY conv_id
    """.replace("{series}", SERIES_CTE),
)
def q_anomaly_counts(spark, sf_dir):
    from ts_pymfe_spark.operators.local_stats import rolling_anomalies

    out = rolling_anomalies(_series(spark, sf_dir), k=20, z=2.0,
                            min_n=10)
    return out.groupBy("conv_id").agg(
        F.count("zscore").cast("long").alias("n_scored"),
        F.sum(F.when(F.col("is_anomaly"), 1).otherwise(0))
        .cast("long").alias("n_anomalies"),
        (F.round(F.max(F.abs(F.col("zscore"))), 6) + F.lit(0.0))
        .alias("max_abs_z"),
    )


# deterministic weighted sampling without replacement (textpipe.py
# weighted_sample, Efraimidis-Spirakis): top-20 docs per lang by the
# exponential draw -ln(u)/n_chars with md5-uniform u — the oracle
# replays the draw and rank; the bucket pre-prune on the Spark side is
# superset-preserving so both sides rank the same global top-k.
@register(
    "weighted_sample_docs",
    f"""
    WITH d AS (
      SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS w,
             ({_HEX2INT.format(h="substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15)")}
              + 1.0) / 1152921504606846976.0 AS u
      FROM documents WHERE n_chars > 0
    ),
    k AS (SELECT lang, doc_id, -ln(u) / w AS es_key FROM d),
    rk AS (
      SELECT lang, doc_id, es_key,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY es_key ASC, doc_id ASC)
                  AS INT) AS rank
      FROM k
    )
    SELECT lang, doc_id, round(es_key, 6) + 0.0 AS es_key, rank
    FROM rk WHERE rank <= 20
    """,
)
def q_weighted_sample_docs(spark, sf_dir):
    out = TP.weighted_sample(read(spark, sf_dir, "documents"), k=20)
    return out.select("lang", "doc_id", "es_key", "rank")


# trailing-7-day distinct users per day from DAILY HLL sketches
# (sketches.py hll_rolling): the sliding window is 7 register-table
# max-merges, never 7 raw re-scans — the oracle fans the daily sketch
# out the same way.
@register(
    "hll_users_weekly",
    f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             {_HEX2INT.format(h="substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 8)")} AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    rg AS (
      SELECT day, h >> 22 AS register,
             CASE WHEN (h & 4194303) = 0 THEN 23
                  ELSE strpos(lpad(bin(h & 4194303), 22, '0'), '1')
                  END AS rho
      FROM h
    ),
    s AS (SELECT day, register, max(rho) AS max_rho
          FROM rg GROUP BY 1, 2),
    fan AS (
      SELECT s.day + CAST(g.i AS INT) AS day, s.register, s.max_rho
      FROM s CROSS JOIN
           (SELECT unnest(generate_series(0, 6)) AS i) g
    ),
    m AS (SELECT day, register, max(max_rho) AS max_rho
          FROM fan GROUP BY 1, 2
          HAVING day IN (SELECT day FROM s)),
    e AS (SELECT day, count(*) AS used,
                 (1024 - count(*)) + sum(power(2.0, -max_rho)) AS s_all
          FROM m GROUP BY 1)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(used AS BIGINT) AS registers_used,
           round(CASE WHEN {_HLL_ALPHA_M2!r} / s_all <= 2560.0
                       AND used < 1024
                      THEN 1024.0 * ln(1024.0 / (1024 - used))
                      ELSE {_HLL_ALPHA_M2!r} / s_all END, 6) + 0.0
           AS est_distinct
    FROM e
    """,
)
def q_hll_users_weekly(spark, sf_dir):
    from ts_pymfe_spark.operators.sketches import hll_rolling, hll_sketch

    ev = read(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id")
    sk = hll_sketch(ev, ["day"], "user_id", p=10)
    out = hll_rolling(sk, "day", window_days=7, p=10)
    return out.select(F.col("day").cast("string").alias("day"),
                      "registers_used", "est_distinct")


# M4 visualization downsample (operators/downsample.py, Jugel et al.
# VLDB 2014): per (conv, bucket) min/max/first/last with positions —
# all four argreductions are deterministic struct min/max on both
# engines (value ties resolved by position).
@register(
    "m4_downsample",
    f"""
    WITH s AS ({SERIES_CTE}),
    r AS (
      SELECT conv_id, turn_idx, value,
             CAST(turn_idx AS DOUBLE) AS o,
             min(CAST(turn_idx AS DOUBLE))
               OVER (PARTITION BY conv_id) AS lo,
             max(CAST(turn_idx AS DOUBLE))
               OVER (PARTITION BY conv_id) AS hi
      FROM s
    ),
    b AS (
      SELECT conv_id, turn_idx, value,
             CAST(least(floor((o - lo)
                              / (CASE WHEN hi > lo THEN hi - lo
                                      ELSE 1.0 END) * 16), 15)
                  AS INT) AS bucket
      FROM r
    )
    SELECT conv_id, bucket, CAST(count(*) AS BIGINT) AS n,
           (min(struct_pack(v := value, i := turn_idx))).v AS min_v,
           (min(struct_pack(v := value, i := turn_idx))).i AS min_i,
           (max(struct_pack(v := value, i := turn_idx))).v AS max_v,
           (max(struct_pack(v := value, i := turn_idx))).i AS max_i,
           (min(struct_pack(i := turn_idx, v := value))).v AS first_v,
           (min(struct_pack(i := turn_idx, v := value))).i AS first_i,
           (max(struct_pack(i := turn_idx, v := value))).v AS last_v,
           (max(struct_pack(i := turn_idx, v := value))).i AS last_i
    FROM b GROUP BY 1, 2
    """,
)
def q_m4_downsample(spark, sf_dir):
    from ts_pymfe_spark.operators.downsample import m4_downsample

    return m4_downsample(_series(spark, sf_dir), n_buckets=16)


# LTTB downsample contract (downsample.py lttb_downsample): the pick
# SET is not SQL-expressible (sequential selection), so the query
# emits its SQL-derivable invariants — pick count = least(n, n_out),
# endpoints always kept (first/last = series min/max turn_idx), and a
# picks_ok flag asserting every picked (turn_idx, value) is a source
# point verbatim (the gorilla_roundtrip oracle pattern: the machinery
# runs, its invariants hash).
@register(
    "lttb_invariants",
    f"""
    WITH s AS ({SERIES_CTE})
    SELECT conv_id,
           CAST(least(count(*), 16) AS BIGINT) AS n_picks,
           min(turn_idx) AS first_i,
           max(turn_idx) AS last_i,
           TRUE AS picks_ok
    FROM s GROUP BY conv_id
    """,
)
def q_lttb_invariants(spark, sf_dir):
    from ts_pymfe_spark.operators.downsample import lttb_downsample

    s = _series(spark, sf_dir)
    picks = lttb_downsample(s, n_out=16)
    src = s.select("conv_id", "turn_idx", F.col("value").alias("_sv"))
    j = picks.join(src, ["conv_id", "turn_idx"], "left")
    return j.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_picks"),
        F.min("turn_idx").alias("first_i"),
        F.max("turn_idx").alias("last_i"),
        (F.sum(F.when(F.col("value") == F.col("_sv"), 1).otherwise(0))
         == F.count("*")).alias("picks_ok"),
    )


# time-weighted average per (user, day) (counters.py
# time_weighted_avg, TimescaleDB time_weight LOCF semantics): each
# sample weighted by seconds until its successor, clipped to the
# bucket edge.
@register(
    "twa_daily",
    """
    WITH e AS (
      SELECT user_id, ts, CAST(value AS DOUBLE) AS v,
             CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS es
      FROM events
    ),
    s AS (
      SELECT user_id, v, es, floor(es / 86400) AS bn,
             lead(es) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
      FROM e
    ),
    d AS (
      SELECT user_id,
             make_timestamp(CAST(bn * 86400 AS BIGINT) * 1000000)
               AS bucket_start,
             v,
             least(coalesce(nxt, (bn + 1) * 86400),
                   (bn + 1) * 86400) - es AS dt
      FROM s
    )
    SELECT user_id, bucket_start,
           CAST(count(*) AS BIGINT) AS n_samples,
           round(sum(dt), 6) AS covered_s,
           round(sum(v * dt) / sum(dt), 6) + 0.0 AS twa
    FROM d GROUP BY 1, 2
    """,
)
def q_twa_daily(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import time_weighted_avg

    return time_weighted_avg(read(spark, sf_dir, "events"),
                             bucket_s=86400)


# peak sliding-window event rate per user (counters.py burst_stats):
# max events in any trailing hour, with the earliest peak instant.
# Epoch seconds are floor-truncated identically on both engines (Spark
# unix_timestamp truncates; DuckDB epoch keeps fractions).
@register(
    "burst_stats",
    """
    WITH e AS (
      SELECT user_id, ts,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
      FROM events
    ),
    c AS (
      SELECT user_id, ts, es,
             count(*) OVER (PARTITION BY user_id ORDER BY es
                            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS burst
      FROM e
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(burst) AS BIGINT) AS peak_burst,
           (max(struct_pack(b := burst, ne := -es, t := ts))).t
             AS peak_at
    FROM c GROUP BY 1
    """,
)
def q_burst_stats(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import burst_stats

    return burst_stats(read(spark, sf_dir, "events"), window_s=3600)


# exact per-user quantiles (Spark `percentile`, the full-sort exact
# path complementing the histogram sketch): both engines define the
# estimator as linear interpolation at rank q*(n-1) — verified to
# agree to 6 decimals.
@register(
    "exact_quantiles_user",
    """
    SELECT user_id, CAST(count(value) AS BIGINT) AS n,
           round(quantile_cont(value, 0.25), 6) + 0.0 AS p25,
           round(quantile_cont(value, 0.5), 6) + 0.0 AS p50,
           round(quantile_cont(value, 0.95), 6) + 0.0 AS p95
    FROM events GROUP BY user_id
    """,
)
def q_exact_quantiles_user(spark, sf_dir):
    ev = read(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.95))")
    return ev.groupBy("user_id").agg(
        F.count("value").cast("long").alias("n"),
        (r(pct[0]) + F.lit(0.0)).alias("p25"),
        (r(pct[1]) + F.lit(0.0)).alias("p50"),
        (r(pct[2]) + F.lit(0.0)).alias("p95"),
    )


# heartbeat / liveness gaps (counters.py heartbeat_gaps): per user,
# inter-arrival gaps above 1 h — count, worst, and summed downtime.
@register(
    "heartbeat_gaps",
    """
    WITH g AS (
      SELECT user_id,
             epoch(CAST(ts AS TIMESTAMP))
             - lag(epoch(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap
      FROM events
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN gap > 3600.0 THEN gap END) AS BIGINT)
             AS n_gaps,
           round(coalesce(max(CASE WHEN gap > 3600.0 THEN gap END),
                          0.0), 6) + 0.0 AS max_gap_s,
           round(coalesce(sum(CASE WHEN gap > 3600.0 THEN gap END),
                          0.0), 6) + 0.0 AS downtime_s
    FROM g GROUP BY 1
    """,
)
def q_heartbeat_gaps(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import heartbeat_gaps

    return heartbeat_gaps(read(spark, sf_dir, "events"), gap_s=3600.0)


# one-pass table profiler (operators/profile.py): per-column row/null
# counts + HLL distinct estimate over the canonical string form — the
# oracle unpivots with UNION ALL and replays the sketch; no Expand
# node on the Spark side (count-distinct per column would plan one).
def _profile_oracle() -> str:
    unpivot = " UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", CAST({c} AS VARCHAR) AS value "
        "FROM events"
        for c in ("user_id", "event_type", "value"))
    h = _HEX2INT.format(h="substr(md5('hll|' || value), 1, 8)")
    return f"""
    WITH staged AS ({unpivot}),
    counts AS (
      SELECT "column", CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null
      FROM staged GROUP BY 1
    ),
    hh AS (SELECT "column", {h} AS h FROM staged
           WHERE value IS NOT NULL),
    rg AS (
      SELECT "column", h >> 22 AS register,
             CASE WHEN (h & 4194303) = 0 THEN 23
                  ELSE strpos(lpad(bin(h & 4194303), 22, '0'), '1')
                  END AS rho
      FROM hh
    ),
    s AS (SELECT "column", register, max(rho) AS max_rho
          FROM rg GROUP BY 1, 2),
    e AS (SELECT "column", count(*) AS used,
                 (1024 - count(*)) + sum(power(2.0, -max_rho)) AS s_all
          FROM s GROUP BY 1),
    est AS (
      SELECT "column",
             round(CASE WHEN {_HLL_ALPHA_M2!r} / s_all <= 2560.0
                         AND used < 1024
                        THEN 1024.0 * ln(1024.0 / (1024 - used))
                        ELSE {_HLL_ALPHA_M2!r} / s_all END, 6) + 0.0
               AS est_distinct
      FROM e
    )
    SELECT c."column", c.n_rows, c.n_null,
           coalesce(est.est_distinct, 0.0) AS est_distinct
    FROM counts c LEFT JOIN est ON c."column" = est."column"
    """


@register("profile_events", _profile_oracle())
def q_profile_events(spark, sf_dir):
    from ts_pymfe_spark.operators.profile import profile_table

    return profile_table(read(spark, sf_dir, "events"),
                         ["user_id", "event_type", "value"])


# wide-format event counts (Spark pivot with an explicit value list —
# no extra distinct job — vs CASE sums in the oracle).
@register(
    "event_counts_pivot",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS view,
           CAST(count(*) AS BIGINT) AS total
    FROM events GROUP BY 1
    """,
)
def q_event_counts_pivot(spark, sf_dir):
    types = ["click", "error", "purchase", "signup", "view"]
    ev = read(spark, sf_dir, "events")
    wide = (ev.groupBy("user_id").pivot("event_type", types).count())
    cols = [F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
            for t in types]
    total = sum((F.coalesce(F.col(t), F.lit(0)) for t in types),
                F.lit(0)).cast("long").alias("total")
    return wide.select("user_id", *cols, total)


# sketch-only day-over-day user overlap (sketches.py hll_overlap):
# inclusion-exclusion on the daily + pairwise-union estimates — the
# oracle replays singles, the 2-day fan-out union, and the shift join.
def _hll_est_cte(src: str, out: str) -> str:
    return f"""
    {out}_e AS (
      SELECT day, count(*) AS used,
             (1024 - count(*)) + sum(power(2.0, -max_rho)) AS s_all
      FROM {src} GROUP BY 1),
    {out} AS (
      SELECT day,
             round(CASE WHEN {_HLL_ALPHA_M2!r} / s_all <= 2560.0
                         AND used < 1024
                        THEN 1024.0 * ln(1024.0 / (1024 - used))
                        ELSE {_HLL_ALPHA_M2!r} / s_all END, 6) + 0.0
               AS est
      FROM {out}_e)"""


@register(
    "hll_overlap_daily",
    f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             {_HEX2INT.format(h="substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 8)")} AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    rg AS (
      SELECT day, h >> 22 AS register,
             CASE WHEN (h & 4194303) = 0 THEN 23
                  ELSE strpos(lpad(bin(h & 4194303), 22, '0'), '1')
                  END AS rho
      FROM h
    ),
    s AS (SELECT day, register, max(rho) AS max_rho
          FROM rg GROUP BY 1, 2),
    fan AS (
      SELECT s.day + CAST(g.i AS INT) AS day, s.register, s.max_rho
      FROM s CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS i) g
    ),
    m AS (SELECT day, register, max(max_rho) AS max_rho
          FROM fan GROUP BY 1, 2
          HAVING day IN (SELECT day FROM s)),
    {_hll_est_cte('s', 'e1')},
    {_hll_est_cte('m', 'e2')}
    SELECT CAST(cur.day AS VARCHAR) AS day,
           prv.est AS est_prev, cur.est AS est_cur,
           e2.est AS est_union,
           round(prv.est + cur.est - e2.est, 6) + 0.0 AS est_overlap
    FROM e1 cur
    JOIN e1 prv ON cur.day = prv.day + 1
    JOIN e2 ON e2.day = cur.day
    """,
)
def q_hll_overlap_daily(spark, sf_dir):
    from ts_pymfe_spark.operators.sketches import hll_overlap, hll_sketch

    ev = read(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id")
    sk = hll_sketch(ev, ["day"], "user_id", p=10)
    out = hll_overlap(sk, "day", p=10)
    return out.select(F.col("day").cast("string").alias("day"),
                      "est_prev", "est_cur", "est_union", "est_overlap")


# conversion-latency distribution: funnel -> completed chains ->
# exact quantiles of (purchase_ts - view_ts) — a composition of two
# engine operators whose oracle replays the whole chain.
@register(
    "conversion_latency",
    """
    WITH a AS (
      SELECT user_id, event_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t1
      FROM events
    ),
    b AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1
                          AND ts <= t1 + INTERVAL 86400 SECOND
                         THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t2
      FROM a
    ),
    c AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2
                          AND ts <= t1 + INTERVAL 86400 SECOND
                         THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t3
      FROM b
    ),
    per_user AS (
      SELECT user_id, min(t1) AS t1, min(t3) AS t3 FROM c GROUP BY 1
    ),
    lat AS (
      SELECT epoch(CAST(t3 AS TIMESTAMP))
             - epoch(CAST(t1 AS TIMESTAMP)) AS secs
      FROM per_user WHERE t3 IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(min(secs), 6) + 0.0 AS min_s,
           round(quantile_cont(secs, 0.5), 6) + 0.0 AS p50_s,
           round(quantile_cont(secs, 0.95), 6) + 0.0 AS p95_s,
           round(max(secs), 6) + 0.0 AS max_s
    FROM lat
    """,
)
def q_conversion_latency(spark, sf_dir):
    from ts_pymfe_spark.operators.funnel import funnel

    ev = read(spark, sf_dir, "events")
    per_user = funnel(
        ev,
        steps=[F.col("event_type") == "view",
               F.col("event_type") == "click",
               F.col("event_type") == "purchase"],
        key="user_id", ts_col="ts", window_s=86400.0,
        tiebreak_col="event_id",
    )
    lat = per_user.filter(F.col("t3").isNotNull()).select(
        (F.col("t3").cast("timestamp").cast("double")
         - F.col("t1").cast("timestamp").cast("double")).alias("secs"))
    pct = F.expr("percentile(secs, array(0.5, 0.95))")
    return lat.agg(
        F.count("*").cast("long").alias("n_converted"),
        (r(F.min("secs")) + F.lit(0.0)).alias("min_s"),
        (r(pct[0]) + F.lit(0.0)).alias("p50_s"),
        (r(pct[1]) + F.lit(0.0)).alias("p95_s"),
        (r(F.max("secs")) + F.lit(0.0)).alias("max_s"),
    )


# time-in-state per user (counters.py state_durations, TimescaleDB
# state_agg semantics): LOCF from each event to the key's next event,
# final event holds no duration.
@register(
    "state_durations",
    """
    WITH s AS (
      SELECT user_id, event_type AS state,
             coalesce(lead(epoch(CAST(ts AS TIMESTAMP)))
                        OVER (PARTITION BY user_id ORDER BY ts)
                      - epoch(CAST(ts AS TIMESTAMP)), 0.0) AS dt
      FROM events
    )
    SELECT user_id, state, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(dt), 6) + 0.0 AS total_s
    FROM s GROUP BY 1, 2
    """,
)
def q_state_durations(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import state_durations

    return state_durations(read(spark, sf_dir, "events"))


# per-(user, hour) least-squares slope of value over centered
# in-bucket seconds (counters.py counter_deriv, PromQL deriv) — the
# explicit moment formula on centered x is identical on both engines.
@register(
    "counter_deriv",
    """
    WITH e AS (
      SELECT user_id, ts, CAST(value AS DOUBLE) AS y,
             CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS es
      FROM events
    ),
    s AS (
      SELECT user_id, y,
             floor(es / 3600) AS bn,
             es - floor(es / 3600) * 3600 AS x
      FROM e
    ),
    a AS (
      SELECT user_id,
             make_timestamp(CAST(bn * 3600 AS BIGINT) * 1000000)
               AS bucket_start,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, bucket_start, n_samples,
           round(CASE WHEN n * sxx - sx * sx > 0
                      THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                      END, 6) + 0.0 AS slope
    FROM a
    """,
)
def q_counter_deriv(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import counter_deriv

    return counter_deriv(read(spark, sf_dir, "events"), bucket_s=3600)


# hour-of-day x day-of-week seasonal baseline matrix (counters.py
# seasonal_profile): 168-group aggregate, map-side partials.
@register(
    "seasonal_profile",
    """
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(CAST(value AS DOUBLE)), 6) + 0.0 AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q_seasonal_profile(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import seasonal_profile

    return seasonal_profile(read(spark, sf_dir, "events"))


# trailing Pearson correlation between values and inter-arrival gaps
# (counters.py rolling_corr_gap): explicit moment sums over the frame
# on both engines; summarized per user for a compact contract.
@register(
    "gap_value_coupling",
    """
    WITH s AS (
      SELECT user_id, ts, CAST(value AS DOUBLE) AS y,
             epoch(CAST(ts AS TIMESTAMP))
             - lag(epoch(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts) AS x
      FROM events
    ),
    m AS (
      SELECT user_id, ts, y,
             count(x) OVER w AS n,
             sum(x) OVER w AS sx,
             sum(CASE WHEN x IS NOT NULL THEN y END) OVER w AS sy,
             sum(x * x) OVER w AS sxx,
             sum(CASE WHEN x IS NOT NULL THEN y * y END) OVER w AS syy,
             sum(x * y) OVER w AS sxy
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
    ),
    c AS (
      SELECT user_id,
             round(CASE WHEN n >= 10
                   AND (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                  THEN (n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx)
                              * (n * syy - sy * sy))
                  END, 6) + 0.0 AS corr
      FROM m
    )
    SELECT user_id,
           CAST(count(corr) AS BIGINT) AS n_scored,
           round(avg(corr), 6) + 0.0 AS mean_corr,
           round(max(abs(corr)), 6) + 0.0 AS max_abs_corr
    FROM c GROUP BY 1
    """,
)
def q_gap_value_coupling(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import rolling_corr_gap

    out = rolling_corr_gap(read(spark, sf_dir, "events"), k=20, min_n=10)
    return out.groupBy("user_id").agg(
        F.count("corr_gap").cast("long").alias("n_scored"),
        (r(F.avg("corr_gap")) + F.lit(0.0)).alias("mean_corr"),
        (r(F.max(F.abs(F.col("corr_gap")))) + F.lit(0.0))
        .alias("max_abs_corr"),
    )


# funnel bar chart (funnel.py funnel_counts): users reaching >= each
# step of the 24 h view->click->purchase chain.
@register(
    "funnel_counts",
    """
    WITH a AS (
      SELECT user_id, event_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t1
      FROM events
    ),
    b AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t1
                          AND ts <= t1 + INTERVAL 86400 SECOND
                         THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t2
      FROM a
    ),
    c AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2
                          AND ts <= t1 + INTERVAL 86400 SECOND
                         THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS t3
      FROM b
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN min(t3) IS NOT NULL THEN 3
                  WHEN min(t2) IS NOT NULL THEN 2
                  WHEN min(t1) IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM c GROUP BY 1
    ),
    steps(step) AS (VALUES (1), (2), (3))
    SELECT CAST(s.step AS INT) AS step,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM steps s JOIN per_user p ON p.depth >= s.step
    GROUP BY 1
    """,
)
def q_funnel_counts(spark, sf_dir):
    from ts_pymfe_spark.operators.funnel import funnel_counts

    return funnel_counts(
        read(spark, sf_dir, "events"),
        steps=[F.col("event_type") == "view",
               F.col("event_type") == "click",
               F.col("event_type") == "purchase"],
        key="user_id", ts_col="ts", window_s=86400.0,
        tiebreak_col="event_id",
    )


# exact rolling adjusted lag-1 ACF (round 2: replaces the Pearson
# approximation) — window-sum algebra identical on both engines.
@register(
    "moving_acf",
    f"""
    WITH s AS ({SERIES_CTE}),
    s2 AS (
      SELECT conv_id, turn_idx, value,
             lead(value) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS nxt
      FROM s),
    w AS (
      SELECT conv_id, turn_idx, value,
             row_number() OVER ord AS rn,
             count(*) OVER (PARTITION BY conv_id) AS n,
             count(*) OVER fr AS wn,
             sum(value) OVER fr AS s1,
             sum(value * value) OVER fr AS s2,
             sum(value) OVER fr_lo AS a,
             sum(value) OVER fr_hi AS b,
             sum(value * nxt) OVER fr_lo AS p
      FROM s2
      WINDOW ord AS (PARTITION BY conv_id ORDER BY turn_idx),
             fr AS (PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
             fr_lo AS (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN 3 PRECEDING AND 2 FOLLOWING),
             fr_hi AS (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN 2 PRECEDING AND 3 FOLLOWING)),
    c AS (
      SELECT conv_id, turn_idx,
             (p - (s1/wn) * (a + b) + (wn - 1) * (s1/wn) * (s1/wn))
               / (wn - 1) AS num,
             (s2 - s1 * s1 / wn) / wn AS den
      FROM w WHERE rn > 3 AND rn <= n - 3)
    SELECT conv_id, turn_idx,
           CASE WHEN den > 0 THEN round(num / den, 6) + 0.0 END AS macf
    FROM c
    """,
)
def q_moving_acf(spark, sf_dir):
    out = LS.rolling(_series(spark, sf_dir), "moving_acf", 3)
    return out.select(
        "conv_id", "turn_idx",
        (r(F.col("stat")) + F.lit(0.0)).alias("macf"),
    )


# reference rescale parity: min-max and robust scaler modes
@register(
    "rescale_minmax",
    f"""
    WITH s AS ({SERIES_CTE}),
    mm AS (SELECT conv_id, min(value) AS mn, max(value) AS mx
           FROM s GROUP BY conv_id)
    SELECT s.conv_id, s.turn_idx,
           round((s.value - mm.mn) / (mm.mx - mm.mn), 6) + 0.0 AS v_scaled
    FROM s JOIN mm USING (conv_id)
    """,
)
def q_rescale_minmax(spark, sf_dir):
    out = LS.rescale(_series(spark, sf_dir), "min-max")
    return out.select(
        "conv_id", "turn_idx",
        (r(F.col("value_scaled")) + F.lit(0.0)).alias("v_scaled"),
    )


@register(
    "rescale_robust",
    f"""
    WITH s AS ({SERIES_CTE}),
    qq AS (SELECT conv_id,
                  quantile_cont(value, 0.25) AS q1,
                  quantile_cont(value, 0.5) AS q2,
                  quantile_cont(value, 0.75) AS q3
           FROM s GROUP BY conv_id)
    SELECT s.conv_id, s.turn_idx,
           round((s.value - qq.q2) / (qq.q3 - qq.q1), 6) + 0.0 AS v_scaled
    FROM s JOIN qq USING (conv_id)
    """,
)
def q_rescale_robust(spark, sf_dir):
    out = LS.rescale(_series(spark, sf_dir), "robust")
    return out.select(
        "conv_id", "turn_idx",
        (r(F.col("value_scaled")) + F.lit(0.0)).alias("v_scaled"),
    )


# ---------------------------------------------------------------------------
# Round-6 analytics additions
# ---------------------------------------------------------------------------

# gaps-and-islands interval union (intervals.interval_union): per user,
# total covered seconds of the [ts, ts + value s] spans with overlaps
# merged — one running-max window, no self-join.
@register(
    "interval_union",
    """
    WITH iv AS (
      SELECT user_id, epoch(ts) AS s, epoch(ts) + value AS e FROM events),
    m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
      FROM iv),
    f AS (
      SELECT user_id, s, e,
             CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw
      FROM m),
    g AS (
      SELECT user_id, s, e,
             sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM f),
    i AS (
      SELECT user_id, island, count(*) AS n, min(s) AS lo, max(e) AS hi
      FROM g GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_intervals,
           CAST(count(*) AS BIGINT) AS n_islands,
           round(sum(hi - lo), 6) + 0.0 AS covered_s
    FROM i GROUP BY 1
    """,
)
def q_interval_union(spark, sf_dir):
    from ts_pymfe_spark.operators.intervals import interval_union

    ev = read(spark, sf_dir, "events")
    e = F.col("ts").cast("timestamp").cast("double")
    # numeric epoch end keeps exact double arithmetic — a timestamp
    # round trip would quantize to microseconds and shift covered_s
    iv = ev.select(
        "user_id",
        e.alias("start"),
        (e + F.col("value")).alias("end"),
    )
    return interval_union(iv)


# hour-of-week baseline anomaly screen (counters.seasonal_anomaly):
# |v - cell mean| > 3 sample sd, baseline rounded to 6 dp pre-compare.
@register(
    "seasonal_anomaly",
    """
    WITH s AS (
      SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
             CAST(hour(ts) AS INT) AS hour,
             CAST(value AS DOUBLE) AS v
      FROM events),
    p AS (
      SELECT dow, hour,
             round(sum(v) / count(*), 6) AS mu,
             round(sqrt(CASE WHEN count(*) > 1
                              AND (sum(v * v) - sum(v) * sum(v) / count(*))
                                  / (count(*) - 1) > 0
                             THEN (sum(v * v) - sum(v) * sum(v) / count(*))
                                  / (count(*) - 1)
                             ELSE 0 END), 6) AS sd
      FROM s GROUP BY 1, 2)
    SELECT s.dow, s.hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN sd > 0 AND abs(v - mu) > 3.0 * sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           round(sum(CASE WHEN sd > 0 AND abs(v - mu) > 3.0 * sd
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6) + 0.0
             AS anom_frac
    FROM s JOIN p USING (dow, hour) GROUP BY 1, 2
    """,
)
def q_seasonal_anomaly(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import seasonal_anomaly

    return seasonal_anomaly(read(spark, sf_dir, "events"), k=3.0)


# PAA + SAX symbolic downsample (downsample.paa_sax), 8 equal-count
# segments, alphabet 4, z rounded to 6 dp before the breakpoint cuts.
@register(
    "paa_sax",
    f"""
    WITH s AS ({SERIES_CTE}),
    r AS (
      SELECT conv_id, value,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS rn,
             count(*) OVER (PARTITION BY conv_id) AS n,
             sum(value) OVER (PARTITION BY conv_id) AS s1,
             sum(value * value) OVER (PARTITION BY conv_id) AS s2
      FROM s),
    seg AS (
      SELECT conv_id,
             CAST(floor((rn - 1) * 8.0 / n) AS INT) AS seg, value,
             round(s1 / n, 6) AS mu,
             round(CASE WHEN n > 1 AND (s2 - s1 * s1 / n) / (n - 1) > 0
                        THEN sqrt((s2 - s1 * s1 / n) / (n - 1)) END, 6)
               AS sd
      FROM r),
    a AS (
      SELECT conv_id, seg, CAST(count(*) AS BIGINT) AS n_pts,
             round(avg(value), 6) AS paa, max(mu) AS mu, max(sd) AS sd
      FROM seg GROUP BY 1, 2)
    SELECT conv_id, seg, n_pts, paa + 0.0 AS paa,
           round((paa - mu) / sd, 6) + 0.0 AS z,
           CASE WHEN sd IS NULL THEN NULL
                WHEN round((paa - mu) / sd, 6) <= -0.6744898 THEN 'a'
                WHEN round((paa - mu) / sd, 6) <= 0.0 THEN 'b'
                WHEN round((paa - mu) / sd, 6) <= 0.6744898 THEN 'c'
                ELSE 'd' END AS sym
    FROM a
    """,
)
def q_paa_sax(spark, sf_dir):
    from ts_pymfe_spark.operators.downsample import paa_sax

    return paa_sax(_series(spark, sf_dir), n_segments=8, alphabet=4)


# per-session aggregates over the sessionizer's assignment
# (sequence.session_stats) — same 600 s gap / (ts, turn_idx) total
# order as the sessionize contract query.
@register(
    "session_stats",
    f"""
    WITH s AS ({SERIES_CTE}),
    g AS (
      SELECT conv_id, turn_idx, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 600
                  THEN 1 ELSE 0 END AS f
      FROM s
      WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)),
    sess AS (
      SELECT conv_id, ts,
             CAST(sum(f) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM g)
    SELECT conv_id, session_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           min(ts) AS session_start,
           round(epoch(max(ts)) - epoch(min(ts)), 6) + 0.0 AS duration_s
    FROM sess GROUP BY 1, 2
    """,
)
def q_session_stats(spark, sf_dir):
    from ts_pymfe_spark.operators.sequence import session_stats

    return session_stats(_series(spark, sf_dir), gap_seconds=600,
                         order_cols=("ts", "turn_idx"))


# CUSUM level-shift screen per series (trend.cusum_changepoint):
# standardized running deviation sum, 5% Brownian-bridge critical
# value 1.358; mean/sd 6-dp-rounded BEFORE the running sum and each
# c_t rounded before max/argmax so both engines compare identical
# values; argmax tie breaks to the smallest turn_idx.
@register(
    "cusum_changepoint",
    f"""
    WITH s AS ({SERIES_CTE}),
    m AS (
      SELECT conv_id, turn_idx, value,
             count(*) OVER wk AS n,
             round(sum(value) OVER wk * 1.0 / count(*) OVER wk, 6) AS mu,
             round(CASE WHEN count(*) OVER wk > 1
                         AND (sum(value * value) OVER wk
                              - sum(value) OVER wk * sum(value) OVER wk
                                / count(*) OVER wk)
                             / (count(*) OVER wk - 1) > 0
                        THEN sqrt((sum(value * value) OVER wk
                                   - sum(value) OVER wk * sum(value) OVER wk
                                     / count(*) OVER wk)
                                  / (count(*) OVER wk - 1)) END, 6) AS sd
      FROM s WINDOW wk AS (PARTITION BY conv_id)),
    c AS (
      SELECT conv_id, turn_idx, n,
             abs(round(sum(value - mu)
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS UNBOUNDED PRECEDING)
                       / (sd * sqrt(n)), 6)) AS absc
      FROM m),
    x AS (
      SELECT conv_id, turn_idx, n, absc,
             max(absc) OVER (PARTITION BY conv_id) AS stat
      FROM c)
    SELECT conv_id, CAST(max(n) AS BIGINT) AS n,
           max(stat) + 0.0 AS cusum_stat,
           min(CASE WHEN absc = stat THEN turn_idx END) AS changepoint_at,
           CAST(max(CASE WHEN stat > 1.358 THEN 1 ELSE 0 END) AS BIGINT)
             AS detected
    FROM x GROUP BY 1
    """,
)
def q_cusum_changepoint(spark, sf_dir):
    from ts_pymfe_spark.operators.trend import cusum_changepoint

    return cusum_changepoint(_series(spark, sf_dir))


# rolling OLS slope over the trailing 20 points (trend.rolling_slope);
# regressor = within-series row_number so sum(x)/sum(x^2) are exact.
@register(
    "rolling_slope",
    f"""
    WITH s AS ({SERIES_CTE}),
    r AS (
      SELECT conv_id, turn_idx,
             CAST(row_number() OVER (PARTITION BY conv_id
                                     ORDER BY turn_idx) AS DOUBLE) AS x,
             CAST(value AS DOUBLE) AS y
      FROM s),
    f AS (
      SELECT conv_id, turn_idx,
             count(*) OVER wf AS n, sum(x) OVER wf AS sx,
             sum(y) OVER wf AS sy, sum(x * x) OVER wf AS sxx,
             sum(x * y) OVER wf AS sxy
      FROM r WINDOW wf AS (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
    SELECT conv_id, turn_idx,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
             AS slope_k
    FROM f WHERE n >= 20
    """,
)
def q_rolling_slope(spark, sf_dir):
    from ts_pymfe_spark.operators.trend import rolling_slope

    return rolling_slope(_series(spark, sf_dir), k=20)


# Goh-Barabasi burstiness index + CV of inter-arrival gaps per user
# (counters.burstiness); two-pass centered variance, ratios rounded
# AFTER their normalizing division.
@register(
    "burstiness",
    """
    WITH g0 AS (
      SELECT user_id,
             epoch(ts) - lag(epoch(ts))
               OVER (PARTITION BY user_id ORDER BY ts) AS g
      FROM events),
    g AS (SELECT user_id, g FROM g0 WHERE g IS NOT NULL),
    m AS (
      SELECT user_id, count(*) AS n, round(avg(g), 6) AS mu
      FROM g GROUP BY 1),
    s AS (
      SELECT g.user_id, max(m.n) AS n, max(m.mu) AS mu,
             sum((g.g - m.mu) * (g.g - m.mu)) AS ss
      FROM g JOIN m USING (user_id) GROUP BY 1)
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps, mu + 0.0 AS mean_gap_s,
           round(CASE WHEN n > 1 AND mu > 0
                      THEN sqrt(ss / (n - 1)) / mu END, 6) + 0.0 AS cv,
           round(CASE WHEN n > 1 AND mu > 0
                      THEN (sqrt(ss / (n - 1)) - mu)
                           / (sqrt(ss / (n - 1)) + mu) END, 6) + 0.0
             AS burstiness
    FROM s
    """,
)
def q_burstiness(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import burstiness

    return burstiness(read(spark, sf_dir, "events"))


# robust MAD anomaly screen per user (counters.mad_anomaly):
# |v - median| > 3.5 * 1.4826 * MAD, exact full-sort percentiles
# (Spark `percentile` == DuckDB `quantile_cont`), 6-dp-rounded
# baselines pre-compare.
@register(
    "mad_anomaly",
    """
    WITH v AS (
      SELECT user_id, CAST(value AS DOUBLE) AS v FROM events),
    med AS (
      SELECT user_id, round(quantile_cont(v, 0.5), 6) AS med
      FROM v GROUP BY 1),
    ad AS (
      SELECT v.user_id, med.med, abs(v.v - med.med) AS ad
      FROM v JOIN med USING (user_id)),
    md AS (
      SELECT user_id, round(quantile_cont(ad, 0.5), 6) AS mad
      FROM ad GROUP BY 1)
    SELECT ad.user_id, CAST(count(*) AS BIGINT) AS n_events,
           max(ad.med) + 0.0 AS med, max(md.mad) + 0.0 AS mad,
           CAST(sum(CASE WHEN md.mad > 0
                          AND ad.ad > 3.5 * 1.4826 * md.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           round(sum(CASE WHEN md.mad > 0
                           AND ad.ad > 3.5 * 1.4826 * md.mad
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6) + 0.0
             AS anom_frac
    FROM ad JOIN md USING (user_id) GROUP BY 1
    """,
)
def q_mad_anomaly(spark, sf_dir):
    from ts_pymfe_spark.operators.counters import mad_anomaly

    return mad_anomaly(read(spark, sf_dir, "events"), k=3.5)


# ---------------------------------------------------------------------------
# Drift-monitoring family (operators/drift.py, round 6): two-sample KS,
# PSI, per-day column health.  Population split for the contract
# queries: user cohort A/B = user_id % 2 — deterministic, engine-free.
# ---------------------------------------------------------------------------

_DRIFT_V = (
    "SELECT event_type, CAST(value AS DOUBLE) AS v, "
    "CAST(user_id % 2 AS INT) AS g FROM events WHERE value IS NOT NULL"
)


# two-sample Kolmogorov-Smirnov per event_type (drift.ks_drift):
# pooled-ECDF max gap via RANGE cumulative windows (ties see their
# full tie group), 5% Brownian-bridge gate 1.358.
@register(
    "ks_drift",
    f"""
    WITH v AS ({_DRIFT_V}),
    c AS (
      SELECT event_type,
             sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) OVER
               (PARTITION BY event_type ORDER BY v
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) OVER
               (PARTITION BY event_type ORDER BY v
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type) AS n0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type) AS n1
      FROM v),
    a AS (
      SELECT event_type, max(n0) AS n0, max(n1) AS n1,
             max(abs(CAST(c0 AS DOUBLE) / n0
                     - CAST(c1 AS DOUBLE) / n1)) AS d
      FROM c GROUP BY 1)
    SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(CASE WHEN n0 > 0 AND n1 > 0 THEN d END, 6) + 0.0 AS ks_d,
           round(CASE WHEN n0 > 0 AND n1 > 0 THEN
                   1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                                / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
                 END, 6) + 0.0 AS ks_crit,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
             d > 1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                              / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
           END AS drifted
    FROM a
    """,
)
def q_ks_drift(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import ks_drift

    ev = read(spark, sf_dir, "events")
    return ks_drift(ev, grp=(F.col("user_id") % 2))


# Population Stability Index per event_type (drift.psi_drift):
# 10 equal-width cells anchored on cohort-0 min/max, eps = 1e-6 clamp.
@register(
    "psi_drift",
    f"""
    WITH v AS ({_DRIFT_V}),
    s AS (
      SELECT event_type, v, g,
             min(CASE WHEN g = 0 THEN v END)
               OVER (PARTITION BY event_type) AS mn,
             max(CASE WHEN g = 0 THEN v END)
               OVER (PARTITION BY event_type) AS mx
      FROM v),
    b AS (
      SELECT event_type, g,
             CASE WHEN mx > mn THEN
               least(9, greatest(0,
                 CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INT)))
             END AS cell
      FROM s),
    pc AS (
      SELECT event_type, cell,
             sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS k0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS k1
      FROM b GROUP BY 1, 2),
    t AS (
      SELECT event_type, cell, k0, k1,
             sum(k0) OVER (PARTITION BY event_type) AS n0,
             sum(k1) OVER (PARTITION BY event_type) AS n1
      FROM pc),
    a AS (
      SELECT event_type, max(n0) AS n0, max(n1) AS n1,
             max(CASE WHEN cell IS NULL THEN 1 ELSE 0 END) AS degen,
             sum(CASE WHEN cell IS NOT NULL AND (k0 > 0 OR k1 > 0)
                      THEN (greatest(CAST(k1 AS DOUBLE) / n1, 1e-6)
                            - greatest(CAST(k0 AS DOUBLE) / n0, 1e-6))
                           * ln(greatest(CAST(k1 AS DOUBLE) / n1, 1e-6)
                                / greatest(CAST(k0 AS DOUBLE) / n0, 1e-6))
                      ELSE 0.0 END) AS psi
      FROM t GROUP BY 1)
    SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(CASE WHEN n0 > 0 AND n1 > 0 AND degen = 0 THEN psi END, 6)
             + 0.0 AS psi
    FROM a
    """,
)
def q_psi_drift(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import psi_drift

    ev = read(spark, sf_dir, "events")
    return psi_drift(ev, grp=(F.col("user_id") % 2), bins=10)


# per-day column health profile with day-over-day mean deltas
# (drift.daily_drift) on the value column.
@register(
    "daily_drift",
    """
    WITH s AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             'value' AS col_name, CAST(value AS DOUBLE) AS v
      FROM events),
    a AS (
      SELECT day, col_name, count(*) AS n,
             sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null,
             round(avg(v), 6) AS mean_v, min(v) AS min_v, max(v) AS max_v
      FROM s GROUP BY 1, 2),
    l AS (
      SELECT a.*, lag(mean_v) OVER (PARTITION BY col_name ORDER BY day)
               AS prev_mean
      FROM a)
    SELECT CAST(day AS VARCHAR) AS day, col_name,
           CAST(n AS BIGINT) AS n, CAST(n_null AS BIGINT) AS n_null,
           round(CAST(n_null AS DOUBLE) / n, 6) + 0.0 AS null_frac,
           mean_v + 0.0 AS mean_v, min_v, max_v,
           round(mean_v - prev_mean, 6) + 0.0 AS dod_mean_delta
    FROM l
    """,
)
def q_daily_drift(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import daily_drift

    return daily_drift(read(spark, sf_dir, "events"), cols=("value",))


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (operators/sketches.py cms_*, round 6)
# ---------------------------------------------------------------------------


def _cms_topk_oracle(d: int = 4, w: int = 2048, k: int = 20) -> str:
    from ts_pymfe_spark.operators.sketches import CMS_P, cms_coef

    hx = _HEX2INT.format(h="substr(md5(CAST(user_id AS VARCHAR)), 1, 10)")
    pair = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row_i, "
        f"(({cms_coef('a', i)} * x + {cms_coef('b', i)}) % {CMS_P}) % {w} "
        f"AS bucket FROM h"
        for i in range(d))
    return f"""
    WITH h AS (
      SELECT user_id, {hx} AS x FROM events WHERE user_id IS NOT NULL),
    pairs AS ({pair}),
    sk AS (SELECT row_i, bucket, count(*) AS cnt
           FROM pairs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT user_id, row_i, bucket FROM pairs),
    est AS (
      SELECT cand.user_id, min(coalesce(sk.cnt, 0)) AS est_count
      FROM cand LEFT JOIN sk USING (row_i, bucket) GROUP BY 1)
    SELECT user_id, CAST(est_count AS BIGINT) AS est_count
    FROM est ORDER BY est_count DESC, user_id ASC LIMIT {k}
    """


# top-20 users by count-min ESTIMATE (d=4 x w=2048 mergeable counter
# table; estimates >= truth, identical on both engines because every
# hash is md5 + linear mod-2^61-1 arithmetic).
@register("cms_topk_users", _cms_topk_oracle())
def q_cms_topk_users(spark, sf_dir):
    from ts_pymfe_spark.operators.sketches import cms_topk

    return cms_topk(read(spark, sf_dir, "events"), "user_id", k=20)


# rolling EXACT median, half-width 3 (local_stats moving_median):
# percentile over the ROWS frame == DuckDB quantile_cont, the
# convention verified by exact_quantiles_user.
@register(
    "moving_median",
    _EDGE_CTE
    + """
    , mm AS (
      SELECT conv_id, turn_idx, rn, cnt,
             quantile_cont(value, 0.5)
               OVER (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS v
      FROM w)
    SELECT conv_id, turn_idx, round(v, 6) AS mm
    FROM mm WHERE rn > 3 AND rn <= cnt - 3
    """,
)
def q_moving_median(spark, sf_dir):
    return LS.rolling(_series(spark, sf_dir), "moving_median", 3).select(
        "conv_id", "turn_idx", r(F.col("stat")).alias("mm")
    )


# per-user OLS fit of value ~ epoch(ts) + Pearson corr (trend.key_ols):
# two-pass centered co-moments on 6-dp-rounded means.
@register(
    "key_ols",
    """
    WITH v AS (
      SELECT user_id, epoch(ts) AS x, CAST(value AS DOUBLE) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    m AS (
      SELECT user_id, x, y,
             round(avg(x) OVER (PARTITION BY user_id), 6) AS mx,
             round(avg(y) OVER (PARTITION BY user_id), 6) AS my
      FROM v),
    a AS (
      SELECT user_id, count(*) AS n, max(mx) AS mx, max(my) AS my,
             sum((x - mx) * (y - my)) AS sxy,
             sum((x - mx) * (x - mx)) AS sxx,
             sum((y - my) * (y - my)) AS syy
      FROM m GROUP BY 1)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           round(CASE WHEN n > 1 AND sxx > 0 AND syy > 0
                      THEN sxy / sqrt(sxx * syy) END, 6) + 0.0 AS corr_xy,
           round(CASE WHEN n > 1 AND sxx > 0
                      THEN sxy / sxx END, 6) + 0.0 AS slope,
           round(CASE WHEN n > 1 AND sxx > 0
                      THEN my - (sxy / sxx) * mx END, 6) + 0.0 AS intercept
    FROM a
    """,
)
def q_key_ols(spark, sf_dir):
    from ts_pymfe_spark.operators.trend import key_ols

    return key_ols(read(spark, sf_dir, "events"))


# per-source top-10 terms by summed tf-idf (textpipe.tfidf_topk):
# smooth idf ln((1+N)/(1+df))+1, rank on the 6-dp-rounded score so the
# window ordering is engine-identical.
@register(
    "tfidf_topk",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    toks AS (
      SELECT source AS src, doc_id, unnest(tokens) AS term
      FROM documents JOIN t USING (doc_id)),
    per_doc AS (
      SELECT term, doc_id, src, count(*) AS tf
      FROM toks GROUP BY 1, 2, 3),
    wdf AS (
      SELECT per_doc.*, count(*) OVER (PARTITION BY term) AS dfreq
      FROM per_doc),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    per_strat AS (
      SELECT src, term,
             round(sum(tf * (ln((1.0 + n_docs) / (1.0 + dfreq)) + 1.0)),
                   6) AS score,
             count(*) AS n_docs_stratum
      FROM wdf CROSS JOIN n GROUP BY 1, 2),
    ranked AS (
      SELECT src, term, n_docs_stratum, score,
             row_number() OVER (PARTITION BY src
                                ORDER BY score DESC, term ASC) AS rank
      FROM per_strat)
    SELECT src AS source, term, CAST(n_docs_stratum AS BIGINT)
             AS n_docs_stratum, score + 0.0 AS score,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q_tfidf_topk(spark, sf_dir):
    return TP.tfidf_topk(read(spark, sf_dir, "documents"), k=10)


# per-user Markov transition entropy rate + predictability
# (funnel.transition_entropy): pi(s)p(t|s) = c/n simplification,
# n_states over BOTH endpoints.
@register(
    "transition_entropy",
    """
    WITH p AS (
      SELECT user_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS f,
             event_type AS t
      FROM events),
    c AS (SELECT user_id, f, t, count(*) AS c
          FROM p WHERE f IS NOT NULL GROUP BY 1, 2, 3),
    w AS (SELECT user_id, f, c,
                 sum(c) OVER (PARTITION BY user_id) AS n,
                 sum(c) OVER (PARTITION BY user_id, f) AS ns
          FROM c),
    st AS (SELECT user_id, count(DISTINCT s) AS n_states FROM (
             SELECT user_id, f AS s FROM c
             UNION SELECT user_id, t FROM c) GROUP BY 1),
    h AS (SELECT user_id, max(n) AS n,
                 -sum((CAST(c AS DOUBLE) / n)
                      * ln(CAST(c AS DOUBLE) / ns)) AS h
          FROM w GROUP BY 1)
    SELECT h.user_id, CAST(h.n AS BIGINT) AS n_transitions,
           CAST(st.n_states AS INT) AS n_states,
           round(h.h, 6) + 0.0 AS entropy_nats,
           round(ln(CAST(st.n_states AS DOUBLE)), 6) + 0.0
             AS max_entropy_nats,
           round(CASE WHEN st.n_states = 1 THEN 1.0
                      ELSE 1.0 - h.h / ln(CAST(st.n_states AS DOUBLE))
                 END, 6) + 0.0 AS predictability
    FROM h JOIN st USING (user_id)
    """,
)
def q_transition_entropy(spark, sf_dir):
    from ts_pymfe_spark.operators.funnel import transition_entropy

    return transition_entropy(read(spark, sf_dir, "events"),
                              tiebreak_col="event_id")


def _benford_oracle() -> str:
    from ts_pymfe_spark.operators.drift import (BENFORD_CHI2_CRIT_5PCT,
                                                BENFORD_P)

    e_case = ("CASE d " + " ".join(
        f"WHEN '{d}' THEN {p!r}" for d, p in BENFORD_P.items())
        + " END")
    return f"""
    WITH r AS (
      SELECT event_type,
             regexp_extract(CAST(abs(CAST(value AS DOUBLE)) AS VARCHAR),
                            '[1-9]', 0) AS d
      FROM events WHERE value IS NOT NULL),
    f AS (SELECT event_type, d FROM r WHERE d != ''),
    per AS (SELECT event_type, d, count(*) AS c FROM f GROUP BY 1, 2),
    w AS (SELECT event_type, d, c, {e_case} AS e,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM per),
    a AS (SELECT event_type, max(n) AS n,
                 sum((c - n * e) * (c - n * e) / (n * e)) AS x2p,
                 sum(e) AS ep
          FROM w GROUP BY 1)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(x2p + n * (1.0 - ep), 6) + 0.0 AS chi2,
           (x2p + n * (1.0 - ep)) <= {BENFORD_CHI2_CRIT_5PCT}
             AS benford_ok
    FROM a
    """


# Benford first-digit screen per event_type (drift.benford_deviation):
# string-extracted leading digit, chi2 vs embedded log10(1+1/d)
# literals, missing-digit mass corrected.
@register("benford_deviation", _benford_oracle())
def q_benford_deviation(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import benford_deviation

    return benford_deviation(read(spark, sf_dir, "events"))


# corpus-wide top-20 3-event behavioral paths (funnel.event_paths_topk)
@register(
    "event_paths_topk",
    """
    WITH p AS (
      SELECT user_id,
             lag(event_type, 2) OVER w AS s1,
             lag(event_type, 1) OVER w AS s2,
             event_type AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    f AS (SELECT user_id, s1 || '>' || s2 || '>' || s3 AS path
          FROM p WHERE s1 IS NOT NULL),
    pk AS (SELECT path, user_id, count(*) AS c FROM f GROUP BY 1, 2)
    SELECT path, CAST(sum(c) AS BIGINT) AS total_count,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM pk GROUP BY 1
    ORDER BY total_count DESC, path ASC LIMIT 20
    """,
)
def q_event_paths_topk(spark, sf_dir):
    from ts_pymfe_spark.operators.funnel import event_paths_topk

    return event_paths_topk(read(spark, sf_dir, "events"), n=3, k=20,
                            tiebreak_col="event_id")


# per-day exact p50/p95 of value with day-over-day deltas
# (drift.daily_quantile_drift)
@register(
    "daily_quantile_drift",
    """
    WITH a AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n,
             round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS p50,
             round(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS p95
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n,
           p50 + 0.0 AS p50, p95 + 0.0 AS p95,
           round(p50 - lag(p50) OVER (ORDER BY day), 6) + 0.0 AS d_p50,
           round(p95 - lag(p95) OVER (ORDER BY day), 6) + 0.0 AS d_p95
    FROM a
    """,
)
def q_daily_quantile_drift(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import daily_quantile_drift

    return daily_quantile_drift(read(spark, sf_dir, "events"))


# Flesch reading ease per doc (textpipe.readability): regex syllable
# estimate (vowel-group runs, min 1/word), sentences = [.!?]+ runs.
@register(
    "readability",
    f"""
    WITH t AS ({_DOC_TOKENS}),
    m AS (
      SELECT doc_id,
             len(tokens) AS n_words,
             greatest(1, len(list_filter(
               string_split_regex(text, '[.!?]+'),
               s -> trim(s) != ''))) AS n_sentences,
             list_aggregate(list_transform(tokens,
               tok -> greatest(1, len(list_filter(
                 string_split_regex(lower(tok), '[^aeiouy]+'),
                 s -> s != '')))), 'sum') AS n_syllables
      FROM t)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           round(CASE WHEN n_words > 0 THEN
               206.835
               - 1.015 * (CAST(n_words AS DOUBLE)
                          / CAST(n_sentences AS DOUBLE))
               - 84.6 * (CAST(n_syllables AS DOUBLE)
                         / CAST(n_words AS DOUBLE))
             END, 6) + 0.0 AS flesch
    FROM m
    """,
)
def q_readability(spark, sf_dir):
    return TP.readability(read(spark, sf_dir, "documents"))


# per-doc character Shannon entropy (textpipe.char_entropy)
@register(
    "char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ''),
                                        c -> c != '')) AS ch
      FROM documents),
    per AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
    w AS (SELECT doc_id, c,
                 sum(c) OVER (PARTITION BY doc_id) AS n
          FROM per)
    SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars_used,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(-sum((CAST(c AS DOUBLE) / n)
                      * ln(CAST(c AS DOUBLE) / n)), 6) + 0.0
             AS char_entropy_nats
    FROM w GROUP BY 1
    """,
)
def q_char_entropy(spark, sf_dir):
    return TP.char_entropy(read(spark, sf_dir, "documents"))


# per-dimension embedding health (textpipe.emb_dim_stats): dead-dim /
# collapsed-scale detector, two-pass centered sd on rounded mean.
@register(
    "emb_dim_stats",
    """
    WITH r AS (
      SELECT unnest(range(len(embedding))) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    m AS (
      SELECT dim, v,
             round(avg(v) OVER (PARTITION BY dim), 6) AS mu
      FROM r),
    a AS (
      SELECT dim, count(*) AS n, max(mu) AS mu,
             sum((v - mu) * (v - mu)) AS ss,
             min(v) AS min_v, max(v) AS max_v
      FROM m GROUP BY 1)
    SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
           mu + 0.0 AS mean_v,
           round(CASE WHEN n > 1 THEN sqrt(ss / CAST(n - 1 AS DOUBLE))
                 END, 6) + 0.0 AS sd_v,
           min_v, max_v,
           coalesce(round(CASE WHEN n > 1
                               THEN sqrt(ss / CAST(n - 1 AS DOUBLE))
                          END, 6) + 0.0 < 1e-6, TRUE) AS dead
    FROM a
    """,
)
def q_emb_dim_stats(spark, sf_dir):
    return TP.emb_dim_stats(read(spark, sf_dir, "embeddings"))


# binned (sketch-shaped) two-sample KS per event_type
# (drift.ks_drift_binned), 256 cells over the pooled per-key range.
@register(
    "ks_drift_binned",
    f"""
    WITH v AS ({_DRIFT_V}),
    b AS (
      SELECT event_type, min(v) AS mn, max(v) AS mx
      FROM v GROUP BY 1),
    r AS (
      SELECT v.event_type, v.g,
             CASE WHEN b.mx > b.mn THEN
               least(255, CAST(floor((v.v - b.mn)
                                     / ((b.mx - b.mn) / 256.0)) AS INT))
             END AS cell
      FROM v JOIN b USING (event_type)),
    cells AS (
      SELECT event_type, cell,
             sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS k0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS k1
      FROM r GROUP BY 1, 2),
    c AS (
      SELECT event_type, cell,
             sum(k0) OVER (PARTITION BY event_type ORDER BY cell
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c0,
             sum(k1) OVER (PARTITION BY event_type ORDER BY cell
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c1,
             sum(k0) OVER (PARTITION BY event_type) AS n0,
             sum(k1) OVER (PARTITION BY event_type) AS n1
      FROM cells),
    a AS (
      SELECT event_type, max(n0) AS n0, max(n1) AS n1,
             max(CASE WHEN cell IS NULL THEN 1 ELSE 0 END) AS degen,
             max(CASE WHEN cell IS NOT NULL THEN
                   abs(CAST(c0 AS DOUBLE) / n0
                       - CAST(c1 AS DOUBLE) / n1) END) AS d
      FROM c GROUP BY 1)
    SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(CASE WHEN n0 > 0 AND n1 > 0 AND degen = 0 THEN d END, 6)
             + 0.0 AS ks_d,
           round(CASE WHEN n0 > 0 AND n1 > 0 AND degen = 0 THEN
                   1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                                / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
                 END, 6) + 0.0 AS ks_crit,
           CASE WHEN n0 > 0 AND n1 > 0 AND degen = 0 THEN
             d > 1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                              / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
           END AS drifted
    FROM a
    """,
)
def q_ks_drift_binned(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import ks_drift_binned

    return ks_drift_binned(read(spark, sf_dir, "events"),
                           grp=(F.col("user_id") % 2), bins=256)


# KS verdicts from the mergeable drift-cell store shape
# (drift.drift_cells + ks_from_cells), fixed bounds [0, 200) x 128.
@register(
    "drift_cells_ks",
    f"""
    WITH v AS ({_DRIFT_V}),
    r AS (
      SELECT event_type, g,
             least(127, greatest(0,
               CAST(floor((v - 0.0) / (200.0 / 128.0)) AS INT))) AS cell
      FROM v),
    cells AS (
      SELECT event_type, cell,
             sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS k0,
             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS k1
      FROM r GROUP BY 1, 2),
    c AS (
      SELECT event_type, cell,
             sum(k0) OVER (PARTITION BY event_type ORDER BY cell
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c0,
             sum(k1) OVER (PARTITION BY event_type ORDER BY cell
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c1,
             sum(k0) OVER (PARTITION BY event_type) AS n0,
             sum(k1) OVER (PARTITION BY event_type) AS n1
      FROM cells),
    a AS (
      SELECT event_type, max(n0) AS n0, max(n1) AS n1,
             max(abs(CAST(c0 AS DOUBLE) / n0
                     - CAST(c1 AS DOUBLE) / n1)) AS d
      FROM c GROUP BY 1)
    SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           round(CASE WHEN n0 > 0 AND n1 > 0 THEN d END, 6) + 0.0 AS ks_d,
           round(CASE WHEN n0 > 0 AND n1 > 0 THEN
                   1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                                / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
                 END, 6) + 0.0 AS ks_crit,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
             d > 1.358 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                              / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)))
           END AS drifted
    FROM a
    """,
)
def q_drift_cells_ks(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import drift_cells, ks_from_cells

    ev = read(spark, sf_dir, "events")
    b = (ev.select("event_type").distinct()
         .withColumn("lo", F.lit(0.0)).withColumn("hi", F.lit(200.0)))
    cells = drift_cells(ev, F.col("user_id") % 2, b, bins=128)
    return ks_from_cells(cells)


# day-over-day distribution KS from O(days x bins) histogram cells
# (drift.daily_dist_drift), fixed [0, 200) x 128 bounds.
@register(
    "daily_dist_drift",
    """
    WITH cells AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             least(127, greatest(0,
               CAST(floor((CAST(value AS DOUBLE) - 0.0)
                          / (200.0 / 128.0)) AS INT))) AS cell,
             count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    cum AS (
      SELECT day, cell,
             sum(c) OVER (PARTITION BY day ORDER BY cell
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cm,
             sum(c) OVER (PARTITION BY day) AS n
      FROM cells),
    j AS (
      SELECT coalesce(cur.day, prv.day) AS day,
             coalesce(cur.cell, prv.cell) AS cell,
             cur.cm AS ccur, cur.n AS ncur,
             prv.cm AS cprv, prv.n AS nprv
      FROM cum cur
      FULL OUTER JOIN
        (SELECT day + CAST(1 AS INT) AS day, cell, cm, n FROM cum) prv
      USING (day, cell)),
    f AS (
      SELECT day,
             last_value(ccur IGNORE NULLS) OVER
               (PARTITION BY day ORDER BY cell
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccur,
             last_value(cprv IGNORE NULLS) OVER
               (PARTITION BY day ORDER BY cell
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cprv,
             max(ncur) OVER (PARTITION BY day) AS ncur,
             max(nprv) OVER (PARTITION BY day) AS nprv
      FROM j),
    a AS (
      SELECT day, max(nprv) AS np, max(ncur) AS nc,
             max(abs(coalesce(CAST(ccur AS DOUBLE) / ncur, 0.0)
                     - coalesce(CAST(cprv AS DOUBLE) / nprv, 0.0))) AS d
      FROM f GROUP BY 1
      HAVING max(nprv) IS NOT NULL AND max(ncur) IS NOT NULL)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(np AS BIGINT) AS n_prev, CAST(nc AS BIGINT) AS n_cur,
           round(d, 6) + 0.0 AS ks_d,
           round(1.358 * sqrt((CAST(np AS DOUBLE) + CAST(nc AS DOUBLE))
                              / (CAST(np AS DOUBLE) * CAST(nc AS DOUBLE))),
                 6) + 0.0 AS ks_crit,
           d > 1.358 * sqrt((CAST(np AS DOUBLE) + CAST(nc AS DOUBLE))
                            / (CAST(np AS DOUBLE) * CAST(nc AS DOUBLE)))
             AS drifted
    FROM a
    """,
)
def q_daily_dist_drift(spark, sf_dir):
    from ts_pymfe_spark.operators.drift import daily_dist_drift

    return daily_dist_drift(read(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Driver API
# ---------------------------------------------------------------------------

#: Registration order doubles as the driver's correctness window: the
#: driver compares roughly the first 50 registered queries against
#: DuckDB each round.  Round-6 rotation (VERDICT r5 item #1): queries
#: with no CORRECTNESS row in any prior round come first, then the six
#: r4-green queries rotated out of the r5 window, then the r5 greens
#: (which already hold a hard-signal row) — so the union of r05+r06
#: covers every registered query.  Names absent from this list (future
#: additions) sort ahead of everything: new queries should always land
#: inside the next driver window.
_DRIVER_PRIORITY = [
    # never driver-checked (36)
    "semantic_dedup", "sample_corpus", "mixture_rates", "mixture_sample",
    "pack_sequences", "packing_stats", "kmeans_assign", "cluster_cap",
    "asof_join", "window_join", "counter_rate", "hll_users_daily",
    "funnel_vcp", "cohort_retention", "error_window_clicks",
    "hist_quantiles_user", "top_props_by_type", "event_transitions",
    "anomaly_counts", "weighted_sample_docs", "hll_users_weekly",
    "m4_downsample", "lttb_invariants", "twa_daily", "burst_stats",
    "exact_quantiles_user", "heartbeat_gaps", "profile_events",
    "event_counts_pivot", "hll_overlap_daily", "conversion_latency",
    "state_durations", "counter_deriv", "seasonal_profile",
    "gap_value_coupling", "funnel_counts",
    # green in r4 only, rotated out of the r5 window (6)
    "ann_ivf", "emb_label_stats", "emb_neardup", "moving_acf",
    "rescale_minmax", "rescale_robust",
    # round-6 additions — never driver-checked, slots 43-50
    "interval_union", "seasonal_anomaly", "paa_sax", "session_stats",
    "cusum_changepoint", "rolling_slope", "burstiness", "mad_anomaly",
    # late round-6 additions (17 names, slots 51-67): deliberately
    # OUTSIDE the round-6 ~50-query driver window (displacing any of
    # the above would leave it unchecked); the auto-rotation promotes
    # them to the front of the round-7 window.
    "ks_drift", "psi_drift", "daily_drift", "cms_topk_users",
    "tfidf_topk", "moving_median", "key_ols",
    "transition_entropy", "benford_deviation", "event_paths_topk",
    "daily_quantile_drift", "readability", "char_entropy",
    "emb_dim_stats", "ks_drift_binned", "drift_cells_ks",
    "daily_dist_drift",
    # green in the r5 driver window (50) — keep local strict coverage,
    # no new hard-signal row needed
    "rollup_1m", "rollup_1h_cascade", "tier_stats_1d", "moving_avg",
    "moving_sd_shift", "moving_skew", "moving_kurt", "hist_ent_out_diff",
    "peak_frac", "moving_gmean", "gorilla_roundtrip", "sessionize",
    "bootstrap_ci", "tile_stats", "diff2_stats", "sdiff_stats", "trev",
    "tc3", "gen_autocorr", "acf_lags", "frac_cp", "t_mean",
    "turning_points", "step_changes", "fs_len_stats", "bin_frac",
    "hist_entropy", "ami_lag1", "dw_stat", "gapfill_1m", "token_stats",
    "quality_score", "lang_id", "exact_dedup", "bpe_token_stats",
    "ngram_topk", "filter_corpus", "repetition_stats", "pii_scrub",
    "contamination", "cdc_dedup", "doc_fingerprint", "jaccard_pairs",
    "minhash_lsh_candidates", "dedup_clusters", "simhash",
    "simhash_neardup", "tsmfe_extract", "ann_topk", "ann_lsh",
]


def _last_green_round() -> dict[str, int]:
    """Per query, the most recent round whose committed
    CORRECTNESS_r{N}.json records a full (rows+schema+hash) green row;
    queries with no green row ever are absent."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for name, rec in rows.items():
            if (isinstance(rec, dict) and rec.get("rows_match")
                    and rec.get("schema_match") and rec.get("hash_match")):
                out[name] = max(out.get(name, 0), rnd)
    return out


def _driver_window_key(green: dict[str, int] | None = None):
    """Sort key of the driver correctness window: (last-green round,
    _DRIVER_PRIORITY rank, registration order).  ``green`` defaults to
    the committed artifacts (``_last_green_round()``).

    VERDICT r5 item #1's literal done-criterion: the six r4-greens
    rotated out of the r5 window must land in the r06 window (union of
    r05+r06 green for every query registered then).  They are forced
    window-ward until a round-6 artifact exists — the force expires by
    itself once they pick up their r06 row."""
    green = dict(_last_green_round() if green is None else green)
    if not green or max(green.values()) <= 5:
        for n in ("ann_ivf", "emb_label_stats", "emb_neardup",
                  "moving_acf", "rescale_minmax", "rescale_robust"):
            green.pop(n, None)
    rank = {n: i for i, n in enumerate(_DRIVER_PRIORITY)}
    reg = {n: i for i, n in enumerate(_REG)}
    return lambda n: (green.get(n, 0), rank.get(n, -1), reg[n])


def _reorder_registry() -> None:
    """Auto-rotate the driver correctness window (round 6): the driver
    compares roughly the FIRST 50 registered queries each round, so
    sort never-driver-green queries first (in _DRIVER_PRIORITY order),
    then green ones by ascending last-green round — every round the
    window covers whatever the hard signal has covered least recently,
    and a freshly added query leads the NEXT round's window without
    manual list surgery.  _DRIVER_PRIORITY stays the deterministic
    tiebreak (and the full-name inventory the pin test checks)."""
    order = sorted(_REG, key=_driver_window_key())
    items = {n: _REG[n] for n in order}
    _REG.clear()
    _REG.update(items)


_reorder_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full tier cascade over the sf0.001 event stream,
    returning the 1h continuous-aggregate feature table."""
    from ts_pymfe_spark.operators.rollup import build_all_tiers

    sf_dir = "/root/testdata/sf0.001"
    tiers = build_all_tiers(_series_part(spark, sf_dir), salted=False)
    return tiers["1h"].select(
        "conv_id", "series", "bucket_start", *stat_columns()
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REG.items() if sql is not None}
