"""Round-6 features: hot-key chunked-window plans for the ordered
counter operators (VERDICT r5 item #2), the session operators, and the
ADVICE r5 contract fixes."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _events(spark, n_keys=7, n_per_key=400, hot_key="hot", hot_n=4000):
    """Synthetic monotone-ish counter stream with resets, duplicate
    timestamps, and one key carrying 10x the rows of the rest."""
    rows = []
    base = dt.datetime(2025, 1, 1)
    for k in range(n_keys):
        key = f"u{k}"
        v = 0.0
        for i in range(n_per_key):
            # deterministic pseudo-random walk with resets
            step = ((i * 2654435761 + k * 40503) % 97) / 10.0
            if i % 137 == 136:
                v = step  # reset
            else:
                v += step
            # uneven spacing incl. exact duplicates every 50th sample
            t = base + dt.timedelta(seconds=i * 7 + (0 if i % 50 else -7))
            rows.append((key, k * 100000 + i, t, v))
    v = 0.0
    for i in range(hot_n):
        step = ((i * 69069 + 12345) % 89) / 8.0
        v = step if i % 211 == 210 else v + step
        rows.append((hot_key, 10**7 + i,
                     base + dt.timedelta(seconds=i * 2), v))
    return spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double")


@pytest.fixture(scope="module")
def counter_df(spark):
    df = _events(spark).cache()
    df.count()
    return df


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_counter_increase_chunked_value_equal(spark, counter_df):
    from ts_pymfe_spark.operators.counters import counter_increase

    base = counter_increase(counter_df, tiebreak_col="event_id")
    # chunk far smaller than the stream span so every key crosses many
    # chunk boundaries (hot key: ~80 chunks)
    chunked = counter_increase(counter_df, tiebreak_col="event_id",
                               chunk_s=100)
    assert _sorted_rows(base, "user_id", "event_id") == \
        _sorted_rows(chunked, "user_id", "event_id")


def test_counter_increase_chunked_empty_chunk_carry(spark):
    """A gap larger than chunk_s leaves empty chunks between samples;
    the carry must come from the previous NON-EMPTY chunk."""
    from ts_pymfe_spark.operators.counters import counter_increase

    base = dt.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [("a", 1, base, 10.0),
         ("a", 2, base + dt.timedelta(seconds=5000), 25.0),
         ("a", 3, base + dt.timedelta(seconds=5010), 5.0)],
        "user_id string, event_id long, ts timestamp, value double")
    out = {r["event_id"]: (r["increase"], r["is_reset"])
           for r in counter_increase(df, tiebreak_col="event_id",
                                     chunk_s=60).collect()}
    assert out[1] == (None, False)
    assert out[2] == (15.0, False)   # carried across ~82 empty chunks
    assert out[3] == (5.0, True)     # reset: raw value


def test_counter_rate_chunked_value_equal(spark, counter_df):
    from ts_pymfe_spark.operators.counters import counter_rate

    base = counter_rate(counter_df, bucket_s=600, tiebreak_col="event_id")
    chunked = counter_rate(counter_df, bucket_s=600,
                           tiebreak_col="event_id", chunk_s=100)
    assert _sorted_rows(base, "user_id", "bucket_start") == \
        _sorted_rows(chunked, "user_id", "bucket_start")


def test_twa_chunked_value_equal(spark, counter_df):
    from ts_pymfe_spark.operators.counters import time_weighted_avg

    base = time_weighted_avg(counter_df, bucket_s=3600)
    chunked = time_weighted_avg(counter_df, bucket_s=3600, chunk_s=500)
    assert _sorted_rows(base, "user_id", "bucket_start") == \
        _sorted_rows(chunked, "user_id", "bucket_start")


def test_burst_chunked_value_equal(spark, counter_df):
    from ts_pymfe_spark.operators.counters import burst_stats

    base = burst_stats(counter_df, window_s=60)
    chunked = burst_stats(counter_df, window_s=60, chunk_s=60)
    assert _sorted_rows(base, "user_id") == _sorted_rows(chunked, "user_id")
    wider = burst_stats(counter_df, window_s=60, chunk_s=300)
    assert _sorted_rows(base, "user_id") == _sorted_rows(wider, "user_id")


def test_burst_chunk_smaller_than_window_rejected(spark, counter_df):
    from ts_pymfe_spark.operators.counters import burst_stats

    with pytest.raises(ValueError):
        burst_stats(counter_df, window_s=60, chunk_s=30)


def test_chunked_window_partitions_by_chunk(spark, counter_df):
    """The skew-mitigation contract: the chunked plan's Window node
    partitions by (key, chunk), so a single hot key spreads across
    as many tasks as it has time chunks — never one task per key."""
    from ts_pymfe_spark.operators.counters import (burst_stats,
                                                   counter_increase,
                                                   time_weighted_avg)

    for out in (
        counter_increase(counter_df, tiebreak_col="event_id", chunk_s=100),
        time_weighted_avg(counter_df, bucket_s=3600, chunk_s=500),
        burst_stats(counter_df, window_s=60, chunk_s=60),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        windows = [ln for ln in plan.splitlines() if "Window" in ln]
        assert windows, plan
        assert any("_chunk" in ln for ln in windows), plan


def test_chunked_hot_key_splits_tasks(spark, counter_df):
    """Physical evidence of the split: the hot key's rows land in >= 10
    distinct (key, chunk) hash partitions under the chunked plan, vs
    exactly 1 under the plain per-key window."""
    n_part = 32
    staged = counter_df.where(F.col("user_id") == "hot").select(
        "user_id", F.floor(F.col("ts").cast("double") / 100).alias("_chunk"))
    split = (staged.repartition(n_part, "user_id", "_chunk")
             .withColumn("pid", F.spark_partition_id())
             .select("pid").distinct().count())
    mono = (staged.repartition(n_part, "user_id")
            .withColumn("pid", F.spark_partition_id())
            .select("pid").distinct().count())
    assert mono == 1
    assert split >= 10


def test_read_tier_raises_on_compacted_store(spark, tmp_path):
    """ADVICE r5: after compaction sweeps batch dirs, read_tier on the
    partial store alone would silently return truncated history — it
    must fail loudly and point at read_tier_compacted."""
    import json
    import os

    from ts_pymfe_spark.streaming.rollup_stream import read_tier

    root = tmp_path / "store" / "tier=1m"
    os.makedirs(root)
    with open(root / "_compacted_until.json", "w") as f:
        json.dump({"older_than": "2025-01-01"}, f)
    with pytest.raises(RuntimeError, match="read_tier_compacted"):
        read_tier(spark, str(tmp_path / "store"), "1m")


def test_histogram_quantile_fractional_names_unique(spark):
    """ADVICE r5: 0.995 and 1.0 used to both map to 'p100' and the
    later withColumn silently overwrote the earlier estimate."""
    from ts_pymfe_spark.operators.histogram import (_q_col_name,
                                                    histogram_quantiles)

    assert _q_col_name(0.5) == "p50"
    assert _q_col_name(0.995) == "p99_5"
    assert _q_col_name(1.0) == "p100"
    assert _q_col_name(0.0005) == "p0_05"

    df = spark.range(1000).select(
        F.lit("g").alias("g"), (F.col("id") / 10.0).alias("v"))
    out = histogram_quantiles(df, ["g"], "v", [0.995, 1.0], 0.0, 100.0)
    assert "p99_5" in out.columns and "p100" in out.columns
    row = out.collect()[0]
    assert row["p99_5"] < row["p100"]

    with pytest.raises(ValueError, match="duplicate"):
        histogram_quantiles(df, ["g"], "v", [0.5, 0.5], 0.0, 100.0)


def test_lttb_nondefault_columns_and_key_type(spark):
    """ADVICE r5: output schema now follows the input's key/order
    types and the given column names."""
    from ts_pymfe_spark.operators.downsample import lttb_downsample

    df = spark.range(500).select(
        (F.col("id") % 2).alias("series_id"),       # LONG key
        F.col("id").cast("int").alias("pos"),        # INT order
        F.sin(F.col("id") / 10.0).alias("reading"))
    out = lttb_downsample(df, n_out=16, key="series_id",
                          order_col="pos", value_col="reading")
    assert out.columns == ["series_id", "pos", "reading"]
    kinds = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert kinds["series_id"] == "bigint"
    assert kinds["pos"] == "int"
    got = out.groupBy("series_id").count().collect()
    assert sorted((r["series_id"], r["count"]) for r in got) == \
        [(0, 16), (1, 16)]


def test_contamination_check_custom_text_column(spark):
    """ADVICE r5: the text parameter is now threaded through
    shingles for both corpus and benchmark sides."""
    from ts_pymfe_spark.operators.textpipe import contamination_check

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated words here for sure today")],
        "doc_id long, body string")
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "doc_id long, body string")
    out = {r["doc_id"]: r["contamination_frac"]
           for r in contamination_check(corpus, bench, n=5,
                                        text="body").collect()}
    assert out[1] > 0.0
    assert out[2] == 0.0


def test_connected_components_rounds_logarithmic(spark):
    """VERDICT r5 #4 support: a 255-node chain (diameter 254) must
    converge in O(log d) rounds under min-label + path halving — ~8-9
    plus the convergence-detection round, never ~254."""
    from ts_pymfe_spark.operators.graph import connected_components

    edges = spark.range(254).selectExpr("id AS src", "id + 1 AS dst")
    stats = {}
    cc = connected_components(edges, stats=stats)
    assert cc.where(F.col("comp") != 0).count() == 0
    assert cc.count() == 255
    assert stats["rounds"] <= 12, stats


def test_interval_union_hand_case(spark):
    """Overlap, touch (closed intervals merge), gap, containment."""
    from ts_pymfe_spark.operators.intervals import interval_union

    iv = spark.createDataFrame(
        [("a", 0.0, 10.0),    # island 1
         ("a", 5.0, 12.0),    # overlaps -> extends island 1
         ("a", 12.0, 15.0),   # touches (closed) -> still island 1
         ("a", 20.0, 30.0),   # island 2
         ("a", 22.0, 25.0),   # contained in island 2
         ("b", 1.0, 2.0)],
        "user_id string, start double, end double")
    got = {r["user_id"]: (r["n_intervals"], r["n_islands"], r["covered_s"])
           for r in interval_union(iv).collect()}
    assert got["a"] == (5, 2, 25.0)   # [0,15] + [20,30]
    assert got["b"] == (1, 1, 1.0)


def test_interval_union_timestamp_input(spark):
    import datetime as dtm

    from ts_pymfe_spark.operators.intervals import interval_union

    t0 = dtm.datetime(2025, 1, 1)
    iv = spark.createDataFrame(
        [("a", t0, t0 + dtm.timedelta(seconds=10)),
         ("a", t0 + dtm.timedelta(seconds=30),
          t0 + dtm.timedelta(seconds=40))],
        "user_id string, start timestamp, end timestamp")
    row = interval_union(iv).collect()[0]
    assert (row["n_islands"], row["covered_s"]) == (2, 20.0)


def test_seasonal_anomaly_hand_case(spark):
    """19 identical values + one wild outlier in a single hour-of-week
    cell -> exactly that one row flags; a constant-value cell (sd=0)
    flags nothing."""
    import datetime as dtm

    from ts_pymfe_spark.operators.counters import seasonal_anomaly

    t_a = dtm.datetime(2025, 1, 6, 9, 0)    # Monday 09h
    t_b = dtm.datetime(2025, 1, 7, 14, 0)   # Tuesday 14h
    rows = [(t_a + dtm.timedelta(minutes=i), 10.0 + (i % 3)) for i in range(19)]
    rows.append((t_a + dtm.timedelta(minutes=30), 500.0))
    rows += [(t_b + dtm.timedelta(minutes=i), 7.0) for i in range(5)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {(r["dow"], r["hour"]): (r["n_events"], r["n_anomalies"])
           for r in seasonal_anomaly(df, k=3.0).collect()}
    assert got[(2, 9)] == (20, 1)    # Spark dow: 2 = Monday
    assert got[(3, 14)] == (5, 0)    # zero spread -> no flags


def test_paa_sax_hand_case(spark):
    """A monotone ramp: segment means ascend, symbols sweep a->d, and
    a flat series yields NULL z/sym."""
    from ts_pymfe_spark.operators.downsample import paa_sax

    rows = [("r", i, float(i)) for i in range(16)]
    rows += [("flat", i, 5.0) for i in range(8)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, value double")
    out = paa_sax(df, n_segments=4, alphabet=4)
    ramp = {r["seg"]: r for r in out.where("conv_id = 'r'").collect()}
    assert [ramp[s]["n_pts"] for s in range(4)] == [4, 4, 4, 4]
    paas = [ramp[s]["paa"] for s in range(4)]
    assert paas == sorted(paas) == [1.5, 5.5, 9.5, 13.5]
    assert [ramp[s]["sym"] for s in range(4)] == ["a", "b", "c", "d"]
    flat = out.where("conv_id = 'flat'").collect()
    assert all(r["z"] is None and r["sym"] is None for r in flat)


def test_paa_sax_segments_partition_invariant(spark):
    """Equal-count segmentation depends only on (order, n), never on
    physical partitioning."""
    from ts_pymfe_spark.operators.downsample import paa_sax

    rows = [("c", i, float((i * 37) % 11)) for i in range(100)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, value double")
    a = sorted(map(tuple, paa_sax(df.repartition(1)).collect()))
    b = sorted(map(tuple, paa_sax(df.repartition(13)).collect()))
    assert a == b


def test_sessionize_batch_hand_case(spark):
    """A gap of exactly gap_seconds stays in the session, one second
    more splits it; a ts tie is ordered by turn_idx; sessions follow ts
    order, not turn_idx order; each conversation counts from 0 — the
    contract the ``sessionize`` query's DuckDB oracle states."""
    import datetime as dtm

    from ts_pymfe_spark.operators.sequence import sessionize_batch

    t0 = dtm.datetime(2025, 1, 1)

    def at(sec):
        return t0 + dtm.timedelta(seconds=sec)

    rows = [("a", 0, at(0)),
            ("a", 1, at(600)),      # gap == 600: same session
            ("a", 2, at(1201)),     # gap 601: new session
            ("a", 3, at(1201)),     # ts tie, after turn 2
            ("a", 4, at(1801)),     # gap == 600 again
            ("b", 0, at(700)),      # 700 s after b's first turn in ts
            ("b", 1, at(0)),
            ("b", 2, at(5000))]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    got = sorted((r["conv_id"], r["turn_idx"], r["session_id"])
                 for r in sessionize_batch(
                     df, gap_seconds=600,
                     order_cols=("ts", "turn_idx")).collect())
    assert got == [("a", 0, 0), ("a", 1, 0), ("a", 2, 1), ("a", 3, 1),
                   ("a", 4, 1), ("b", 0, 1), ("b", 1, 0), ("b", 2, 2)]


def test_session_stats_hand_case(spark):
    import datetime as dtm

    from ts_pymfe_spark.operators.sequence import session_stats

    t0 = dtm.datetime(2025, 1, 1)
    rows = [("c", 0, t0), ("c", 1, t0 + dtm.timedelta(seconds=100)),
            ("c", 2, t0 + dtm.timedelta(seconds=5000)),   # new session
            ("c", 3, t0 + dtm.timedelta(seconds=5100))]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    got = {r["session_id"]: (r["n_turns"], r["duration_s"])
           for r in session_stats(df, gap_seconds=600).collect()}
    assert got == {0: (2, 100.0), 1: (2, 100.0)}


def test_cusum_changepoint_level_shift(spark):
    """20 zeros then 20 tens: max |cusum| lands exactly at the shift
    (turn_idx 19) with stat 100/(sd*sqrt(40)) ~ 3.12 >> 1.358; an
    alternating +-1 series stays under the gate; a constant series
    emits NULL stat and detected=0."""
    from ts_pymfe_spark.operators.trend import cusum_changepoint

    rows = [("shift", i, 0.0 if i < 20 else 10.0) for i in range(40)]
    rows += [("alt", i, float(1 if i % 2 else -1)) for i in range(40)]
    rows += [("flat", i, 7.0) for i in range(10)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, value double")
    got = {r["conv_id"]: r for r in cusum_changepoint(df).collect()}
    assert got["shift"]["detected"] == 1
    assert got["shift"]["changepoint_at"] == 19
    assert abs(got["shift"]["cusum_stat"] - 3.122498) < 1e-5
    assert got["alt"]["detected"] == 0
    assert got["flat"]["cusum_stat"] is None
    assert got["flat"]["detected"] == 0
    assert got["flat"]["changepoint_at"] is None


def test_rolling_slope_ramp_and_flat(spark):
    from ts_pymfe_spark.operators.trend import rolling_slope

    rows = [("ramp", i, 2.0 * i) for i in range(30)]
    rows += [("flat", i, 3.0) for i in range(25)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, value double")
    out = rolling_slope(df, k=20).collect()
    ramp = [r for r in out if r["conv_id"] == "ramp"]
    flat = [r for r in out if r["conv_id"] == "flat"]
    assert len(ramp) == 11 and len(flat) == 6   # n - k + 1 full frames
    assert all(r["slope_k"] == 2.0 for r in ramp)
    assert all(r["slope_k"] == 0.0 for r in flat)


def test_burstiness_hand_cases(spark):
    """Perfect heartbeat -> B = -1, cv = 0; gaps (1, 3) -> closed-form
    cv/B; a 2-event key (one gap) -> NULL ratios."""
    import datetime as dtm

    from ts_pymfe_spark.operators.counters import burstiness

    t0 = dtm.datetime(2025, 1, 1)

    def at(s):
        return t0 + dtm.timedelta(seconds=s)

    rows = [(1, at(s)) for s in (0, 10, 20, 30)]
    rows += [(2, at(s)) for s in (0, 1, 4)]      # gaps 1, 3
    rows += [(3, at(s)) for s in (0, 5)]         # one gap
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r["user_id"]: r for r in burstiness(df).collect()}
    assert (got[1]["n_gaps"], got[1]["mean_gap_s"]) == (3, 10.0)
    assert got[1]["cv"] == 0.0 and got[1]["burstiness"] == -1.0
    assert abs(got[2]["cv"] - 0.707107) < 1e-6
    assert abs(got[2]["burstiness"] - (-0.171573)) < 1e-6
    assert got[3]["cv"] is None and got[3]["burstiness"] is None


def test_mad_anomaly_hand_case(spark):
    """1..9 plus a wild 100: median 5.5, MAD 2.5, threshold
    3.5*1.4826*2.5 = 12.97 -> exactly the outlier flags; a constant
    key (MAD 0) flags nothing."""
    from ts_pymfe_spark.operators.counters import mad_anomaly

    rows = [(1, float(v)) for v in range(1, 10)] + [(1, 100.0)]
    rows += [(2, 4.0)] * 5
    df = spark.createDataFrame(rows, "user_id long, value double")
    got = {r["user_id"]: r for r in mad_anomaly(df, k=3.5).collect()}
    assert (got[1]["med"], got[1]["mad"]) == (5.5, 2.5)
    assert (got[1]["n_events"], got[1]["n_anomalies"]) == (10, 1)
    assert (got[2]["mad"], got[2]["n_anomalies"]) == (0.0, 0)


def test_cusum_tiny_spread_no_ansi_divide_by_zero(spark):
    """Round-7 guard (round-6 ADVICE high): a near-constant series
    whose true sd is positive but rounds to 0.0 at 6 decimals must
    take the NULL-stat path, not die with ANSI DIVIDE_BY_ZERO."""
    from ts_pymfe_spark.operators.trend import cusum_changepoint

    rows = [("c", i, i * 1e-7) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, "
                                     "value double")
    out = cusum_changepoint(df).collect()[0]
    assert out["cusum_stat"] is None
    assert out["changepoint_at"] is None
    assert out["detected"] == 0


def test_paa_sax_tiny_spread_no_ansi_divide_by_zero(spark):
    """Same guard for paa_sax: 6-dp-rounded sd of exactly 0.0 while
    var > 0 must yield NULL z/sym, not ANSI DIVIDE_BY_ZERO."""
    from ts_pymfe_spark.operators.downsample import paa_sax

    rows = [("c", i, i * 1e-7) for i in range(1, 17)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx long, "
                                     "value double")
    got = paa_sax(df, n_segments=4).collect()
    assert len(got) == 4
    assert all(r["z"] is None and r["sym"] is None for r in got)


def test_doc_fingerprint_xxhash64_partition_invariant(spark):
    """Round-7 production hash path (cdc_chunks pattern): xxhash64
    fingerprints must be identical under any input partitioning, and
    equal docs must share a fingerprint while distinct docs differ."""
    from ts_pymfe_spark.operators.textpipe import doc_fingerprint

    # word-distinct texts: no shared shingles across the 7 variants,
    # so distinct texts must get distinct fingerprints (a 1-perm
    # minhash legitimately collides for texts sharing their min
    # shingle — avoid that in the fixture, it is not the invariant)
    texts = [" ".join(f"w{i % 7}x{j}" for j in range(6)) for i in range(50)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    a = {r["doc_id"]: r["fingerprint"]
         for r in doc_fingerprint(docs, hash_fn="xxhash64").collect()}
    b = {r["doc_id"]: r["fingerprint"]
         for r in doc_fingerprint(docs.repartition(13),
                                  hash_fn="xxhash64").collect()}
    assert a == b
    assert all(isinstance(v, int) for v in a.values())
    # same text -> same fingerprint; the 7 distinct texts -> 7 values
    assert a[0] == a[7] and len(set(a.values())) == 7

    import pytest
    with pytest.raises(ValueError):
        doc_fingerprint(docs, hash_fn="sha999")
