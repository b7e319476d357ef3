"""Correctness checks, run outside the timed region.

Each check returns a list of failure messages; an empty list passes.

* ``check_tiers``: the 1d tier equals a DuckDB raw->1d aggregation of
  the input parquet (n, min, max exact; power sums within 1e-9
  relative), Σn per series is conserved across 1m/1h/1d, and the
  turn_rate 1m Σs1 equals the text_len 1m Σn.
* ``check_extract``: sampled series equal a driver-side call of the
  same ``FEATURE_KERNELS`` + ``summarize_array``.
* ``check_roundtrip``: decompressed points equal the compressed ones
  bit for bit.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

REL_TOL = 1e-9
DAY_US = 86_400_000_000
MINUTE_US = 60_000_000


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def check_tiers(con, inputs: list[str], tiers: dict[str, str]) -> list[str]:
    """``inputs``: turn parquet files; ``tiers``: {tier: parquet glob}."""
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW raw AS
        SELECT conv_id, epoch_us(ts) AS ts_us,
               CAST(length(text) AS DOUBLE) AS text_len,
               CASE WHEN tool IS NULL THEN 0.0 ELSE 1.0 END AS tool_flag
        FROM read_parquet({_sql_list(inputs)})""")
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE expected AS
        WITH pts AS (
            SELECT conv_id, 'text_len' AS series, ts_us, text_len AS v FROM raw
            UNION ALL
            SELECT conv_id, 'tool_flag', ts_us, tool_flag FROM raw
            UNION ALL
            SELECT conv_id, 'turn_rate', min(ts_us), CAST(count(*) AS DOUBLE)
            FROM raw GROUP BY conv_id, ts_us // {MINUTE_US}
        )
        SELECT conv_id, series, ts_us // {DAY_US} AS day, count(*) AS n,
               sum(v) AS s1, sum(v * v) AS s2, sum(v * v * v) AS s3,
               sum(v * v * v * v) AS s4, min(v) AS mn, max(v) AS mx
        FROM pts GROUP BY ALL""")
    for tier, glob in tiers.items():
        con.execute(f"""
            CREATE OR REPLACE TEMP VIEW t{tier} AS
            SELECT conv_id, series, epoch_us(bucket_start) AS b_us,
                   n, s1, s2, s3, s4, mn, mx
            FROM read_parquet('{glob}', hive_partitioning = false)""")
    fails = []
    bad = con.execute(f"""
        SELECT count(*), any_value(coalesce(e.conv_id, a.conv_id))
        FROM expected e FULL OUTER JOIN
             (SELECT *, b_us // {DAY_US} AS day FROM t1d) a
          USING (conv_id, series, day)
        WHERE e.n IS NULL OR a.n IS NULL OR a.n <> e.n
           OR a.mn <> e.mn OR a.mx <> e.mx
           OR abs(a.s1 - e.s1) > {REL_TOL} * abs(e.s1)
           OR abs(a.s2 - e.s2) > {REL_TOL} * abs(e.s2)
           OR abs(a.s3 - e.s3) > {REL_TOL} * abs(e.s3)
           OR abs(a.s4 - e.s4) > {REL_TOL} * abs(e.s4)""").fetchone()
    if bad[0]:
        fails.append(f"1d tier: {bad[0]} rows differ from DuckDB (e.g. {bad[1]})")
    sums = {
        tier: dict(con.execute(
            f"SELECT series, sum(n) FROM t{tier} GROUP BY series").fetchall())
        for tier in tiers
    }
    for tier in tiers:
        if sums[tier] != sums["1d"]:
            fails.append(f"Σn per series differs: {tier} {sums[tier]} vs 1d {sums['1d']}")
    rate_s1, text_n = con.execute("""
        SELECT sum(s1) FILTER (WHERE series = 'turn_rate'),
               sum(n) FILTER (WHERE series = 'text_len') FROM t1m""").fetchone()
    if rate_s1 != text_n:
        fails.append(f"turn_rate 1m Σs1 {rate_s1} != text_len 1m Σn {text_n}")
    return fails


def tier_rows(con, glob: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{glob}', hive_partitioning = false)"
    ).fetchone()[0]


def _same(a: float, b: float) -> bool:
    return a == b or (math.isnan(a) and math.isnan(b))


def reference_features(x: np.ndarray, conv: str, features: list[str],
                       summaries: tuple[str, ...]) -> dict[str, float]:
    """Driver-side twin of the fused extract kernel for one series."""
    from ts_pymfe_spark.functions.summaries import summarize_array
    from ts_pymfe_spark.operators.arrow_kernels import (
        FEATURE_KERNELS,
        SEEDED_FEATURE_KERNELS,
        feature_seed,
    )

    out = {}
    for name in features:
        try:
            if name in SEEDED_FEATURE_KERNELS:
                res = SEEDED_FEATURE_KERNELS[name](x, feature_seed(conv, name))
            else:
                res = FEATURE_KERNELS[name](x)
        except Exception:  # the kernel's own error containment: nan
            res = np.nan
        arr = np.atleast_1d(np.asarray(res, dtype=float))
        if arr.size == 1:
            out[name] = float(arr[0])
        else:
            for s, v in summarize_array(arr, summaries):
                out[f"{name}.{s}"] = v
    return out


def check_extract(result: pd.DataFrame, series: pd.DataFrame,
                  features: list[str], summaries: tuple[str, ...],
                  max_points: int, n_sample: int, seed: int) -> list[str]:
    """``result``: (conv_id, series, name, value) rows from the engine;
    ``series``: (conv_id, series, turn_idx, value) extract input."""
    keys = sorted(set(zip(result["conv_id"], result["series"])))
    want = sorted(set(zip(series["conv_id"], series["series"])))
    if keys != want:
        return [f"extract: {len(keys)} series out, {len(want)} in"]
    rng = np.random.default_rng(seed)
    pick = [keys[i] for i in rng.choice(len(keys), min(n_sample, len(keys)),
                                        replace=False)]
    by_key = {k: g for k, g in result.groupby(["conv_id", "series"])}
    src = {k: g for k, g in series.groupby(["conv_id", "series"])}
    fails = []
    for conv, ser in pick:
        pts = src[(conv, ser)].sort_values("turn_idx")
        x = pts["value"].to_numpy(dtype=float)[-max_points:]
        ref = reference_features(x, conv, features, summaries)
        got = dict(zip(by_key[(conv, ser)]["name"], by_key[(conv, ser)]["value"]))
        if set(got) != set(ref):
            fails.append(f"extract {conv}/{ser}: names differ")
            continue
        bad = [k for k in ref if not _same(got[k], ref[k])]
        if bad:
            fails.append(f"extract {conv}/{ser}: {bad[:3]} differ")
    return fails


def ts_us(ts: pd.Series) -> np.ndarray:
    """Epoch microseconds of a naive-UTC or tz-aware timestamp column."""
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[us]").astype(np.int64).to_numpy()


def check_roundtrip(original: pd.DataFrame, decoded: pd.DataFrame) -> list[str]:
    """Bit-exact (conv_id, series, ts, value) multiset equality."""
    def canon(df: pd.DataFrame) -> pd.DataFrame:
        out = pd.DataFrame({
            "conv_id": df["conv_id"].astype(str).to_numpy(),
            "series": df["series"].astype(str).to_numpy(),
            "ts": ts_us(df["ts"]),
            "bits": df["value"].to_numpy(dtype=np.float64).view(np.int64),
        })
        return out.sort_values(list(out.columns), ignore_index=True)

    a, b = canon(original), canon(decoded)
    if len(a) != len(b):
        return [f"roundtrip: {len(b)} points decoded, {len(a)} encoded"]
    diff = int((a != b).any(axis=1).sum())
    return [f"roundtrip: {diff} points differ"] if diff else []
