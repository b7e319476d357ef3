"""Physical-plan audits: assert the *shape* of the plans Catalyst
produces for the scale-critical operators — shuffle counts, broadcast
strategies, column pruning, window-frame direction.  These are the
machine-checked versions of the claims in SURVEY.md §6 / BENCH docs:
a regression that adds a shuffle or un-prunes the scan fails here, not
in a 100 TB run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from ts_pymfe_spark.operators import textpipe as TP
from ts_pymfe_spark.operators.derive import derive_series
from ts_pymfe_spark.operators.gapfill import gapfill
from ts_pymfe_spark.operators.rollup import rollup_raw

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_extract_is_exactly_one_shuffle(spark, turns):
    """The flagship extract = ONE fused kernel+summary Arrow stage
    (round 7): a single hash exchange on the series keys and a single
    Python boundary — the partition-level mapInPandas runner, no
    per-group FlatMapGroupsInPandas — nothing else (no global sort:
    round 1's orderBy would show a rangepartitioning Exchange here;
    rounds 1-6 carried a second exchange + grouped-map pass for the
    summary stage)."""
    from ts_pymfe_spark.api import TSMFESpark

    eng = TSMFESpark(features=["dw", "acf"], summaries=("mean",))
    series = derive_series(turns)
    p = plan(eng.extract(series))
    assert p.count("Exchange hashpartitioning") == 1
    # the synthetic input is itself a mapInPandas source
    assert p.count("MapInPandas") == plan(series).count("MapInPandas") + 1
    assert "FlatMapGroupsInPandas" not in p
    assert "rangepartitioning" not in p  # the dropped global orderBy
    # the kernel emits the final named, ordered rows: the runner's sort
    # is the only Sort, and nothing runs after the MapInPandas
    assert p.count("Sort [") == 1
    lines = p.splitlines()
    top = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    assert not any("Project" in line or "Sort" in line for line in lines[:top])


@pytest.mark.parametrize("with_series", [True, False])
@pytest.mark.parametrize("measure_time", [False, True])
def test_extract_partitions_ordered_by_conv_series_name(
        spark, turns, with_series, measure_time):
    """Every output partition of extract holds its rows in (conv_id,
    series, name) order — names compared as code points, Spark's UTF-8
    byte order — with or without a series column and wall_ms.  The
    features are listed out of name order, and '.' sorts before '_'
    ("acf.mean" < "acf_first_nonpos")."""
    from ts_pymfe_spark.api import TSMFESpark

    series = derive_series(turns.filter("conv_id < 'conv00000080'"))
    if not with_series:
        series = series.filter("series = 'text_len'").drop("series")
    eng = TSMFESpark(features=["pacf", "dw", "acf_first_nonpos", "acf",
                               "model_linear"],
                     summaries=("mean", "sd", "max"))
    parts = eng.extract(series, measure_time=measure_time).rdd.glom().collect()
    assert sum(1 for part in parts if part) > 1
    for part in parts:
        keys = [(r.conv_id, r.series, r.name) for r in part]
        assert keys == sorted(keys)
    names = {r.name for part in parts for r in part}
    assert {"acf.mean", "acf_first_nonpos", "dw", "pacf.max"} <= names


def test_rollup_unsalted_single_shuffle_with_partial_agg(spark, turns):
    df = rollup_raw(derive_series(turns), "1m", salted=False)
    p = plan(df)
    assert p.count("Exchange") == 1
    # map-side combine: partial aggregation before the exchange
    assert "partial_" in p.lower() or "HashAggregate" in p


def test_ann_topk_never_shuffles_the_corpus(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = TP.cosine_topk(emb.filter("vec_id >= 5"), emb.filter("vec_id < 5"))
    p = plan(df)
    # query side broadcast; corpus side stays un-exchanged until the
    # tiny top-k window (rank over query_id) — no SortMergeJoin ever
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_ann_lsh_is_broadcast_hash_join_on_bucket(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = TP.lsh_bucketed_topk(
        emb.filter("vec_id >= 5"), emb.filter("vec_id < 5"), dim=64
    )
    p = plan(df)
    assert "CartesianProduct" not in p
    # the 1-row hyperplane relation and the query set broadcast
    assert p.count("BroadcastExchange") >= 1


def test_gapfill_has_no_unbounded_following_frames(spark, turns):
    """The O(n²) WindowExec trap: 'next non-null' must be expressed as
    a DESCENDING running frame, never UNBOUNDED FOLLOWING."""
    b = (
        derive_series(turns)
        .filter("series = 'text_len'")
        .groupBy("conv_id", F.date_trunc("minute", "ts").alias("bucket_start"))
        .agg(F.sum("value").alias("v"))
        .withColumn("series", F.lit("text_len"))
    )
    p = plan(gapfill(b, 60, "v", method="interp"))
    assert "unboundedfollowing" not in p.lower()


def test_trev_query_prunes_parquet_columns(spark):
    """The driver trev query needs (user_id, event_id, value) [+ts in
    the shared series projection]; the parquet ReadSchema must not
    carry the rest of the events table."""
    df = entry.queries()["trev"](spark, SF_DIR)
    p = plan(df)
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, "no parquet scan found in plan"
    line = scan[0]
    assert "value" in line
    # events has more columns (e.g. event_type/payload-ish) that the
    # query never touches; a full-width read would list them here
    width = line.split("ReadSchema:")[1]
    assert width.count(",") <= 3, f"scan too wide: {width}"


def test_jaccard_guard_is_plan_resident(spark):
    """The O(docs²) guard must survive optimization (Catalyst prunes
    unreferenced projections — the filter anchor keeps it)."""
    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    p = optimized(TP.jaccard_pairs(docs, max_docs=5))
    assert "assert_true" in p or "raise_error" in p


def test_minhash_lsh_no_cartesian(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(TP.minhash_lsh_candidates(docs))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_simhash_neardup_no_cartesian_banded_join(spark):
    """The sixth dedup path candidates come from a (band, val) hash
    join — an all-pairs plan (CartesianProduct / BroadcastNestedLoop)
    here would be O(docs²) at scale."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(TP.simhash_neardup_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_emb_neardup_multiprobe_no_cartesian(spark):
    """Multi-probe explodes ONE side by num_planes+1 buckets; the PAIR
    join must stay a bucket hash join, never all-pairs.  (The plan
    legitimately contains BroadcastNestedLoopJoins — those are the
    1-row broadcast hyperplane relations from with_lsh_bucket, O(rows)
    each, not pairwise.)"""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(TP.embedding_neardup_pairs(emb, dim=64, probe_radius=1))
    assert "CartesianProduct" not in p
    assert (
        "SortMergeJoin" in p or "ShuffledHashJoin" in p
        or "BroadcastHashJoin" in p
    )


def test_moving_skew_single_window_no_extra_exchange(spark, turns):
    """Frame-moment skew/kurt compute 4-5 window sums over the SAME
    frame — one Window node, one exchange, not one per moment."""
    from ts_pymfe_spark.operators.local_stats import rolling

    s = derive_series(turns).filter(F.col("series") == "text_len")
    p = plan(rolling(s, "moving_skewness", 3))
    assert p.count("Exchange hashpartitioning") <= 1


def test_prepartitioned_cascade_is_single_exchange_end_to_end(spark, turns):
    """Round-4 single-shuffle cascade: partition once by conv_id at
    derive time; every downstream group key (conv_id, series, bucket)
    contains conv_id, so ClusteredDistribution is satisfied and the
    whole raw->1m->1h->1d path (turn-rate branch included) plans with
    EXACTLY one Exchange — the derive-time repartition.  A regression
    that re-shuffles (e.g. cascading over a unionByName, which erases
    partitioning info) fails here."""
    from ts_pymfe_spark.operators.rollup import build_all_tiers

    series = derive_series(turns, partition_by=("conv_id",), partitions=8)
    tiers = build_all_tiers(series, salted=False, include_turn_rate=True)
    for tier in ("1m", "1h", "1d"):
        p = plan(tiers[tier])
        n_branches = 2  # main + turn-rate, each carrying the ONE repartition
        assert p.count("Exchange") == n_branches, (
            f"tier {tier}: expected 1 exchange per branch, plan:\n{p}"
        )
        assert "REPARTITION_BY_COL" in p or "hashpartitioning(conv_id" in p


def test_prepartitioned_cascade_matches_salted_cascade(spark, turns):
    """Value-level: the single-shuffle plan and the salted two-phase
    plan produce identical tier rows (moment merge is associative and
    all synth values are small integers -> float64-exact sums)."""
    from ts_pymfe_spark.operators.rollup import KEY, build_all_tiers

    a = build_all_tiers(derive_series(turns), salted=True)
    b = build_all_tiers(
        derive_series(turns, partition_by=("conv_id",), partitions=4),
        salted=False,
    )
    for tier in ("1m", "1h", "1d"):
        pa = a[tier].orderBy(*KEY).toPandas()
        pb = b[tier].orderBy(*KEY).toPandas()
        import pandas.testing as pdt

        pdt.assert_frame_equal(pa, pb, check_exact=False, rtol=1e-12)


def test_time_predicate_reaches_parquet_scan(spark, tmp_path):
    """The storage contract behind retention/compaction: tier tables
    are written as TIMESTAMP_MICROS (session.py — INT96 would have NO
    footer min/max), so a bucket_start predicate is pushed into the
    parquet scan (PushedFilters) and row-group pruning can act on the
    footer stats.  Verified two ways: the filter appears in the scan
    node, and pyarrow sees real min/max statistics on the column."""
    import datetime as dt

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    rows = [("c", dt.datetime(2024, 1, 1 + d, h), float(d * 24 + h))
            for d in range(3) for h in range(24)]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp_ntz, v double")
    out = str(tmp_path / "tier")
    df.coalesce(1).write.mode("overwrite").parquet(out)

    scan = (spark.read.parquet(out)
            .filter(F.col("bucket_start")
                    >= dt.datetime(2024, 1, 3)))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bucket_start" in plan.split(
        "PushedFilters")[1][:200], plan

    import os
    pfile = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
    meta = pq.ParquetFile(os.path.join(out, pfile)).metadata
    col_idx = [meta.schema.column(i).name
               for i in range(meta.num_columns)].index("bucket_start")
    st = meta.row_group(0).column(col_idx).statistics
    assert st is not None and st.has_min_max  # INT96 would be None


# ---------------------------------------------------------------------------
# Round-6 analytics ops: the docstring "ONE exchange" claims,
# machine-checked.  AQE plans report "Exchange" nodes inside
# AdaptiveSparkPlan; count hashpartitioning exchanges only (broadcast
# exchanges are the intended small-side strategy, not a shuffle of the
# fact rows).
# ---------------------------------------------------------------------------

def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def _series6(spark):
    ev = _events(spark)
    return ev.select(F.col("user_id").cast("string").alias("conv_id"),
                     F.col("event_id").alias("turn_idx"), "ts", "value")


def test_interval_union_single_exchange(spark):
    from ts_pymfe_spark.operators.intervals import interval_union

    ev = _events(spark)
    e = F.col("ts").cast("timestamp").cast("double")
    iv = ev.select("user_id", e.alias("start"),
                   (e + F.col("value")).alias("end"))
    p = plan(interval_union(iv))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_cusum_changepoint_single_exchange(spark):
    from ts_pymfe_spark.operators.trend import cusum_changepoint

    p = plan(cusum_changepoint(_series6(spark)))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_rolling_slope_single_exchange(spark):
    from ts_pymfe_spark.operators.trend import rolling_slope

    p = plan(rolling_slope(_series6(spark), k=20))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_paa_sax_single_exchange(spark):
    from ts_pymfe_spark.operators.downsample import paa_sax

    p = plan(paa_sax(_series6(spark)))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_session_stats_single_exchange(spark):
    from ts_pymfe_spark.operators.sequence import session_stats

    p = plan(session_stats(_series6(spark), gap_seconds=600,
                           order_cols=("ts", "turn_idx")))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_burstiness_single_exchange(spark):
    from ts_pymfe_spark.operators.counters import burstiness

    p = plan(burstiness(_events(spark)))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_mad_anomaly_single_exchange_no_broadcast_of_per_key_baselines(spark):
    """Both percentile aggs and both joins key on user_id: ONE
    exchange, and the per-key baselines must JOIN on the existing
    partitioning, never broadcast (at corpus scale the baseline table
    is as big as the key domain)."""
    from ts_pymfe_spark.operators.counters import mad_anomaly

    p = plan(mad_anomaly(_events(spark)))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_seasonal_anomaly_raw_rows_never_shuffled(spark):
    """The 168-row hour-of-week profile must come back as a BROADCAST
    join onto the event stream; the only hashpartitioning exchanges
    carry (dow, hour) aggregates (<= 168 rows per task after partial
    agg), never raw events."""
    from ts_pymfe_spark.operators.counters import seasonal_anomaly

    p = plan(seasonal_anomaly(_events(spark), k=3.0))
    assert "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("Exchange hashpartitioning") <= 2, p


# ---------------------------------------------------------------------------
# Late round-6 additions: drift family + count-min sketch + tf-idf.
# ---------------------------------------------------------------------------

def test_ks_drift_single_exchange(spark):
    from ts_pymfe_spark.operators.drift import ks_drift

    p = plan(ks_drift(_events(spark), grp=F.col("user_id") % 2))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_psi_drift_raw_rows_never_shuffled(spark):
    """Baseline bounds broadcast; the (key, cell) histogram partial-
    aggregates map-side — every exchange carries O(bins) cells, never
    raw rows (late-round-6 hot-key rework)."""
    from ts_pymfe_spark.operators.drift import psi_drift

    p = plan(psi_drift(_events(spark), grp=F.col("user_id") % 2))
    assert "BroadcastExchange" in p, p
    assert "partial_sum" in p, p
    # three hash exchanges, every one ledger-sized after map-side
    # partials: baseline bounds (O(keys)), (key, cell) histogram
    # (O(bins)/key/task), cell window re-cluster (O(bins)/key)
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_daily_drift_second_exchange_is_post_aggregate_only(spark):
    """One exchange of raw rows into (day, column) aggregates; the
    day-over-day lag window's exchange runs over O(days x columns)
    aggregate rows only — both scans must prune to (ts, value)."""
    from ts_pymfe_spark.operators.drift import daily_drift

    p = plan(daily_drift(_events(spark)))
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "ReadSchema: struct<ts:timestamp_ntz,value:double>" in p, p


def test_cms_sketch_output_is_constant_bounded(spark):
    """The sketch aggregation partially aggregates map-side: the
    exchange carries (row, bucket) cells, never raw values."""
    from ts_pymfe_spark.operators.sketches import cms_sketch

    p = plan(cms_sketch(_events(spark), "user_id"))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "partial_count" in p, p  # map-side combine before the shuffle


def test_cms_topk_broadcasts_the_sketch_not_the_candidates(spark):
    from ts_pymfe_spark.operators.sketches import cms_topk

    p = plan(cms_topk(_events(spark), "user_id", k=20))
    assert "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    # candidate distinct + sketch agg + estimate agg; no extra shuffles
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_tfidf_topk_token_stream_shuffles_once(spark):
    """The raw exploded token stream exchanges once (repartition by
    term feeds both the per-doc tf agg and the document-frequency
    window via the subset rule); later exchanges carry reduced
    per-(doc, term) / per-(stratum, term) rows; N arrives broadcast."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(TP.tfidf_topk(docs, k=10))
    assert "BroadcastExchange" in p, p
    assert p.count("Exchange hashpartitioning") <= 3, p
    # the token explode must appear exactly once: a self-join replan
    # would generate two Generate nodes over the corpus scan
    assert p.count("Generate explode") == 1, p


def test_key_ols_single_exchange(spark):
    from ts_pymfe_spark.operators.trend import key_ols

    p = plan(key_ols(_events(spark)))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_moving_median_single_exchange(spark):
    from ts_pymfe_spark.operators import local_stats as LS

    p = plan(LS.rolling(_series6(spark), "moving_median", 3))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_transition_entropy_single_exchange(spark):
    from ts_pymfe_spark.operators.funnel import transition_entropy

    p = plan(transition_entropy(_events(spark), tiebreak_col="event_id"))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_benford_raw_rows_never_shuffled(spark):
    """Both exchanges carry (key, digit) cell aggregates (<= 9 per
    key per map task after the partial count), never raw rows."""
    from ts_pymfe_spark.operators.drift import benford_deviation

    p = plan(benford_deviation(_events(spark)))
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert "partial_count" in p, p  # map-side combine before shuffle 1


def test_event_paths_topk_two_stage_no_expand(spark):
    from ts_pymfe_spark.operators.funnel import event_paths_topk

    p = plan(event_paths_topk(_events(spark), tiebreak_col="event_id"))
    # key-partitioned lag window reused by the (path, key) agg;
    # per-path reduction over reduced rows; TakeOrdered final
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert "Expand" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_drift_family_scans_are_column_pruned(spark):
    """Every drift-family scan must read only the columns it uses —
    a scan shipping all six event columns for a 3-column screen reads
    2x the bytes at 100 TB."""
    from ts_pymfe_spark.operators.drift import (benford_deviation,
                                                daily_quantile_drift,
                                                ks_drift, ks_drift_binned,
                                                psi_drift)
    from ts_pymfe_spark.operators.trend import key_ols

    ev = _events(spark)
    grp = F.col("user_id") % 2
    for df, cols in [
        (ks_drift(ev, grp), "user_id:bigint,event_type:string,value:double"),
        (psi_drift(ev, grp), "user_id:bigint,event_type:string,value:double"),
        (ks_drift_binned(ev, grp),
         "user_id:bigint,event_type:string,value:double"),
        (benford_deviation(ev), "event_type:string,value:double"),
        (daily_quantile_drift(ev), "ts:timestamp_ntz,value:double"),
        (key_ols(ev), "ts:timestamp_ntz,user_id:bigint,value:double"),
    ]:
        p = plan(df)
        assert f"ReadSchema: struct<{cols}>" in p, (cols, p)


def test_char_entropy_cells_partial_aggregated(spark):
    """The char explode shuffles (doc, char) CELLS after a map-side
    partial count — never one row per character."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(TP.char_entropy(docs))
    assert "partial_count" in p, p
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_readability_is_shuffle_free(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(TP.readability(docs))
    assert "Exchange" not in p, p


def test_emb_dim_stats_single_exchange(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(TP.emb_dim_stats(emb))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_ks_binned_cells_partial_aggregated_no_key_window_on_rows(spark):
    """The sketch-shaped KS must shuffle (key, cell) CELLS after a
    map-side partial — never raw rows through a per-key sort; bounds
    arrive as one broadcast."""
    from ts_pymfe_spark.operators.drift import ks_drift_binned

    p = plan(ks_drift_binned(_events(spark), grp=F.col("user_id") % 2))
    assert "partial_sum" in p, p
    assert "BroadcastExchange" in p, p
    # the only sort is the O(bins)-row cumulative ledger
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_daily_dist_drift_cells_only(spark):
    """Raw rows never shuffle: the (day, cell) histogram partial-
    aggregates map-side; every later exchange and the self-pairing
    join run over the O(days x bins) ledger."""
    from ts_pymfe_spark.operators.drift import daily_dist_drift

    p = plan(daily_dist_drift(_events(spark)))
    assert "partial_count" in p, p
    assert "ReadSchema: struct<ts:timestamp_ntz,value:double>" in p, p


def test_rate_1m_projection_equals_identity_rollup(spark, turns):
    """Round-7: the turn-rate 1m branch as a closed-form projection
    must be value-equal (schema, types, every moment field) to the
    rollup_raw(turn_rate_series(t1m), '1m') it replaces."""
    from ts_pymfe_spark.operators.rollup import (
        rate_1m_projection,
        turn_rate_series,
    )

    t1m = rollup_raw(derive_series(turns), "1m", salted=False)
    old = rollup_raw(turn_rate_series(t1m), "1m", salted=False)
    new = rate_1m_projection(t1m)
    # names and types identical; nullability is intentionally STRICTER
    # in the projection (non-null by construction, where aggregates
    # must declare nullable) — consumers all widen, see docstring
    assert [(f.name, f.dataType) for f in old.schema] == \
        [(f.name, f.dataType) for f in new.schema]
    a = sorted(map(repr, old.collect()))
    b = sorted(map(repr, new.collect()))
    assert len(a) > 100
    assert a == b


def test_extract_with_confidence_is_exactly_one_shuffle(spark, turns):
    """Bootstrap CIs run on the same runner as extract: one hash
    exchange on the series keys and one mapInPandas that emits the CI
    rows — no per-group FlatMapGroupsInPandas and no Spark percentile
    aggregate after it."""
    from ts_pymfe_spark.api import TSMFESpark

    eng = TSMFESpark(features=["dw", "acf"], summaries=("mean",))
    series = derive_series(turns)
    p = plan(eng.extract_with_confidence(series, sample_num=4))
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("MapInPandas") == plan(series).count("MapInPandas") + 1
    assert "FlatMapGroupsInPandas" not in p
    assert "percentile" not in p.lower()
    assert "ObjectHashAggregate" not in p


def test_compress_is_one_exchange_one_map(spark, turns):
    """Gorilla compression runs on the grouped-map runner: over an
    unpartitioned input, one hash exchange on the segment key and one
    mapInPandas, no per-group FlatMapGroupsInPandas.  Decompression is
    one narrow mapInArrow: it adds no exchange."""
    from ts_pymfe_spark.operators.compression import (compress_segments,
                                                      decompress_segments)

    series = derive_series(turns)
    segs = compress_segments(series, "1d")
    p = plan(segs)
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("MapInPandas") == plan(series).count("MapInPandas") + 1
    assert "FlatMapGroupsInPandas" not in p
    d = plan(decompress_segments(segs))
    assert d.count("Exchange") == p.count("Exchange")
    assert "MapInArrow" in d
