"""Checkpoint/resume manifest + Structured Streaming tier maintenance."""

from __future__ import annotations

import contextlib
import shutil

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from ts_pymfe_spark.operators.derive import derive_series
from ts_pymfe_spark.operators.rollup import KEY, rollup_raw
from ts_pymfe_spark.plans.manifest import CheckpointedWriter


def test_checkpointed_writer_resume(spark, turns, tmp_path):
    root = str(tmp_path / "features_1h")
    tier = rollup_raw(derive_series(turns), "1h")

    w1 = CheckpointedWriter(spark, root, run_id="run1")
    committed = w1.run(tier, "bucket_start", "day")
    assert len(committed) > 1
    assert all(e["rows"] > 0 and e["bytes"] > 0 for e in committed)

    # resume: nothing pending
    w2 = CheckpointedWriter(spark, root, run_id="run2")
    assert w2.run(tier, "bucket_start", "day") == []

    # simulate a crash: drop one partition's manifest entry + data
    victim = committed[0]["partition"]
    shutil.rmtree(f"{root}/part={victim}")
    import os

    for f in os.listdir(f"{root}/_manifest"):
        if f.startswith(victim):
            os.remove(f"{root}/_manifest/{f}")
    w3 = CheckpointedWriter(spark, root, run_id="run3")
    redone = w3.run(tier, "bucket_start", "day")
    assert [e["partition"] for e in redone] == [victim]

    # read-back equals the source tier
    got = w3.read().orderBy(*KEY).toPandas()
    exp = tier.orderBy(*KEY).toPandas()
    assert len(got) == len(exp)
    np.testing.assert_array_equal(got["n"].to_numpy(), exp["n"].to_numpy())

    # lineage metrics table
    m = w3.metrics().toPandas()
    assert {"run_id", "partition", "rows", "bytes", "wall_ms"} <= set(m.columns)


def test_streaming_rollup_matches_batch(spark, turns, tmp_path):
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_tier,
        run_stream_to_store,
    )

    in_dir = str(tmp_path / "turns_in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    # write input as several files so the stream sees multiple batches
    turns.repartition(6).write.mode("overwrite").parquet(in_dir)

    run_stream_to_store(spark, in_dir, store, ckpt)

    got = read_tier(spark, store, "1h").orderBy(*KEY).toPandas()
    exp = (
        rollup_raw(derive_series(spark.read.parquet(in_dir)), "1h")
        .orderBy(*KEY)
        .toPandas()
    )
    assert len(got) == len(exp)
    np.testing.assert_array_equal(got["n"].to_numpy(), exp["n"].to_numpy())
    np.testing.assert_allclose(
        got["s1"].to_numpy(), exp["s1"].to_numpy(), rtol=1e-12
    )
    np.testing.assert_array_equal(got["mn"].to_numpy(), exp["mn"].to_numpy())
    np.testing.assert_array_equal(
        got["first_v"].to_numpy(), exp["first_v"].to_numpy()
    )


def test_checkpointed_writer_single_upstream_execution(spark, turns, tmp_path):
    """Round-4 redesign: run() must execute the upstream pipeline ONCE
    for all pending partitions (the old form ran one full job per day —
    #days x pipeline cost at scale).  An accumulator on the upstream
    rows proves it: after a multi-day write it equals the row count,
    not partitions x rows."""
    acc = spark.sparkContext.accumulator(0)

    tier = rollup_raw(derive_series(turns), "1h")

    def _count(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    counted = tier.mapInPandas(_count, schema=tier.schema)
    root = str(tmp_path / "single_exec")
    w = CheckpointedWriter(spark, root, run_id="once")
    committed = w.run(counted, "bucket_start", "day")
    total_rows = sum(e["rows"] for e in committed)
    assert len(committed) > 1           # multi-partition write
    assert total_rows == tier.count()
    assert acc.value == total_rows      # upstream ran exactly once


def test_streaming_full_cascade_matches_batch(spark, turns, tmp_path):
    """Round-4 parity closure (VERDICT r3 next-round #5): the COMPOSED
    raw -> 1m -> 1h -> 1d path with the emergent turn-rate branch,
    replayed as multiple availableNow microbatches, must equal the
    batch build_all_tiers exactly — including gap-fill chained after
    the streamed 1m tier."""
    from ts_pymfe_spark.operators.gapfill import gapfill
    from ts_pymfe_spark.operators.rollup import build_all_tiers
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_all_tiers,
        run_stream_to_store,
    )

    in_dir = str(tmp_path / "casc_in")
    store = str(tmp_path / "casc_store")
    ckpt = str(tmp_path / "casc_ckpt")
    # >=2 microbatches (run_stream_to_store reads 8 files per trigger), with
    # conversations straddling the batch boundary
    turns.repartition(16).write.mode("overwrite").parquet(in_dir)

    run_stream_to_store(spark, in_dir, store, ckpt)
    got_tiers = read_all_tiers(spark, store)
    exp_tiers = build_all_tiers(
        derive_series(spark.read.parquet(in_dir)), salted=False
    )
    for tier in ("1m", "1h", "1d"):
        got = got_tiers[tier].orderBy(*KEY).toPandas()
        exp = exp_tiers[tier].orderBy(*KEY).toPandas()
        assert len(got) == len(exp), tier
        np.testing.assert_array_equal(got["n"].to_numpy(), exp["n"].to_numpy())
        np.testing.assert_allclose(
            got["s1"].to_numpy(), exp["s1"].to_numpy(), rtol=1e-12
        )
        np.testing.assert_allclose(
            got["s2"].to_numpy(), exp["s2"].to_numpy(), rtol=1e-12
        )
        np.testing.assert_array_equal(got["mn"].to_numpy(), exp["mn"].to_numpy())
        np.testing.assert_array_equal(got["mx"].to_numpy(), exp["mx"].to_numpy())
        np.testing.assert_array_equal(
            got["first_v"].to_numpy(), exp["first_v"].to_numpy()
        )
        np.testing.assert_array_equal(
            got["last_v"].to_numpy(), exp["last_v"].to_numpy()
        )

    # gap-fill chained after the STREAMED 1m tier == after the batch 1m
    def _gf(t1m):
        g = t1m.filter(F.col("series") == "text_len").select(
            "conv_id", "series", "bucket_start",
            (F.col("s1") / F.col("n")).alias("v"),
        )
        return gapfill(g, 60, value="v")

    got_gf = _gf(got_tiers["1m"]).orderBy(
        "conv_id", "series", "bucket_start"
    ).toPandas()
    exp_gf = _gf(exp_tiers["1m"]).orderBy(
        "conv_id", "series", "bucket_start"
    ).toPandas()
    assert len(got_gf) == len(exp_gf)
    np.testing.assert_allclose(
        got_gf["value"].to_numpy(), exp_gf["value"].to_numpy(), rtol=1e-12
    )
    np.testing.assert_array_equal(
        got_gf["is_gap"].to_numpy(), exp_gf["is_gap"].to_numpy()
    )


def test_stale_staging_swept_on_next_run(spark, turns, tmp_path):
    """Round-5 ADVICE: a crash between the staging write and the
    renames leaves a full pending-day dataset under _staging/{random
    run_id}; the next run must sweep ALL stale staging dirs, not just
    its own run_id's."""
    import os

    root = str(tmp_path / "stage_store")
    tier = rollup_raw(derive_series(turns), "1h")
    stale = f"{root}/_staging/deadbeef0000"
    os.makedirs(stale)
    with open(f"{stale}/part-00000.parquet", "wb") as f:
        f.write(b"x" * 128)
    w = CheckpointedWriter(spark, root, run_id="fresh")
    committed = w.run(tier, "bucket_start", "day")
    assert committed
    assert not os.path.exists(stale)
    assert not os.path.exists(f"{root}/_staging")


def test_retention_expires_partitions_crash_safe(spark, turns, tmp_path):
    """Round-4 retention half of the north rule's 'rollup + downsample
    + retention engine': day-partitions older than the per-tier cutoff
    are tombstoned in the manifest FIRST, then deleted — resume never
    recomputes expired days, read() excludes them, and a crash that
    leaves a tombstoned-but-present orphan is swept on the next pass."""
    import os

    root = str(tmp_path / "ret_store")
    tier = rollup_raw(derive_series(turns), "1h")
    w = CheckpointedWriter(spark, root, run_id="w1")
    committed = w.run(tier, "bucket_start", "day")
    parts = sorted(e["partition"] for e in committed)
    assert len(parts) >= 3
    cutoff = parts[2]  # expire the first 2 days

    expired = w.apply_retention(cutoff)
    assert expired == parts[:2]
    for p in parts[:2]:
        assert not os.path.exists(f"{root}/part={p}")

    # lineage preserved (round-5 ADVICE): the SAME run_id expiring a
    # partition it committed must APPEND a tombstone, not overwrite the
    # commit record — rows/bytes history survives expiry
    m = w.metrics().toPandas()
    for p in parts[:2]:
        mine = m[m["partition"] == p]
        assert len(mine) >= 2
        assert mine["expired"].eq(True).any()
        assert (mine["rows"].fillna(0) > 0).any()

    # read() excludes expired days
    kept = w.read().select("bucket_start").distinct().toPandas()
    assert kept["bucket_start"].dt.strftime("%Y-%m-%d").min() >= cutoff

    # resume does NOT recompute expired partitions
    w2 = CheckpointedWriter(spark, root, run_id="w2")
    assert w2.run(tier, "bucket_start", "day") == []

    # crash simulation: tombstone present but data dir resurrected
    victim = parts[1]
    os.makedirs(f"{root}/part={victim}", exist_ok=True)
    w3 = CheckpointedWriter(spark, root, run_id="w3")
    assert w3.apply_retention(cutoff) == []  # nothing newly live to expire
    assert not os.path.exists(f"{root}/part={victim}")  # orphan swept

    # idempotent + dry_run
    assert w3.apply_retention(cutoff, dry_run=True) == []


def test_storage_backed_ingest_matches_batch_and_resumes(spark, turns, tmp_path):
    """Round-5 storage-backed ingest (plans/ingest.py): the 1m tier is
    committed from raw once, the turn-rate branch and the 1h/1d tiers
    cascade merge-on-read from the committed store — no persisted
    caches (the round-3 resume-OOM hazard).  Content must equal the
    in-memory batch cascade, a crash-resume must restore an identical
    store recomputing only the lost partitions, and retention must
    expire suffixed (~rate) partitions alongside their day."""
    import os

    import pandas as pd

    from ts_pymfe_spark.operators.derive import derive_series
    from ts_pymfe_spark.operators.rollup import KEY, build_all_tiers
    from ts_pymfe_spark.plans.ingest import RATE_SUFFIX, ingest_tiers
    from ts_pymfe_spark.plans.manifest import CheckpointedWriter

    out = str(tmp_path / "ingest_store")
    series = derive_series(turns)
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    metrics = ingest_tiers(spark, series, out, run_id="i1")
    assert all(metrics[t] for t in ("1m", "1h", "1d"))
    # storage-backed means NO caches: ingest must not register a single
    # persisted relation (the round-3 resume-OOM hazard)
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
    )

    def read_tier(t):
        w = CheckpointedWriter(spark, f"{out}/tier={t}")
        return (
            w.read().orderBy(*KEY).toPandas().reset_index(drop=True)
        )

    batch = build_all_tiers(series, salted=False, persist=False)
    snapshots = {}
    for t in ("1m", "1h", "1d"):
        got = read_tier(t)
        exp = (
            batch[t].orderBy(*KEY).toPandas().reset_index(drop=True)
        )
        assert len(got) == len(exp)
        pd.testing.assert_frame_equal(
            got[exp.columns], exp, check_exact=False, rtol=1e-12
        )
        snapshots[t] = got

    # ~rate partitions committed under the same 1m root
    parts_1m = sorted(
        d.split("=", 1)[1] for d in os.listdir(f"{out}/tier=1m")
        if d.startswith("part=")
    )
    rate_parts = [p for p in parts_1m if p.endswith(RATE_SUFFIX)]
    assert rate_parts and len(rate_parts) < len(parts_1m)

    # crash simulation: lose one main day + one ~rate day + one 1h day
    import shutil

    victims = {
        "1m": [p for p in parts_1m if not p.endswith(RATE_SUFFIX)][0],
        "1h": None,
    }
    lost = [("1m", victims["1m"]), ("1m", rate_parts[0])]
    h_parts = sorted(
        d.split("=", 1)[1] for d in os.listdir(f"{out}/tier=1h")
        if d.startswith("part=")
    )
    lost.append(("1h", h_parts[-1]))
    for tier, p in lost:
        shutil.rmtree(f"{out}/tier={tier}/part={p}")
        mdir = f"{out}/tier={tier}/_manifest"
        for f in os.listdir(mdir):
            if f.startswith(p + "-"):
                os.remove(os.path.join(mdir, f))

    redone = ingest_tiers(spark, series, out, run_id="i2")
    assert sorted(e["partition"] for e in redone["1m"]) == sorted(
        [victims["1m"], rate_parts[0]]
    )
    assert [e["partition"] for e in redone["1h"]] == [h_parts[-1]]
    assert redone["1d"] == []
    for t in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(
            read_tier(t), snapshots[t], check_exact=False, rtol=1e-12
        )

    # retention expires a day's ~rate partition alongside the day
    w1m = CheckpointedWriter(spark, f"{out}/tier=1m", run_id="ret")
    days = sorted(p for p in parts_1m if not p.endswith(RATE_SUFFIX))
    cutoff = days[1]
    expired = w1m.apply_retention(cutoff)
    assert days[0] in expired
    assert f"{days[0]}{RATE_SUFFIX}" in expired
    assert all(p < cutoff for p in expired)


# One ingest_tiers call on a fresh store submits this many Spark jobs:
# the 1m, ~rate, 1h and 1d writes and the stages their plans need.
# Manifest lookups and tier read-backs are driver-side and add none, so
# a change that brings back a metadata job fails the guard below.
INGEST_MAX_JOBS = 11


@contextlib.contextmanager
def _spark_jobs(spark):
    """Count the Spark jobs submitted inside the block, by job-id window
    over the status store (the window perfbench/trace.py uses).  The
    listener bus is drained at both ends so no job is missed or
    miscounted because its start event was still queued."""
    sc = spark.sparkContext._jsc.sc()

    def next_job_id():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    out = {"jobs": 0}
    job0 = next_job_id()
    yield out
    out["jobs"] = next_job_id() - job0


@pytest.fixture(scope="module")
def ingested(spark, turns, tmp_path_factory):
    """A fresh ingest_tiers store, its job count, and a copy of it whose
    1m tier has had retention applied (tombstoned main and ~rate days)."""
    from ts_pymfe_spark.plans.ingest import ingest_tiers

    base = tmp_path_factory.mktemp("ingested")
    out = str(base / "store")
    series = derive_series(turns)
    with _spark_jobs(spark) as n:
        ingest_tiers(spark, series, out, run_id="fresh")
    retained = str(base / "retained")
    shutil.copytree(f"{out}/tier=1m", retained)
    w = CheckpointedWriter(spark, retained, run_id="ret")
    days = sorted(p for p in w.live() if "~" not in p)
    expired = w.apply_retention(days[1])
    assert expired and any("~" in p for p in expired)
    return {"out": out, "jobs": n["jobs"], "retained": retained}


def _ingested_roots(ingested):
    return [f"{ingested['out']}/tier={t}" for t in ("1m", "1h", "1d")] + [
        ingested["retained"]
    ]


def test_ingest_job_count_guard(ingested):
    assert 0 < ingested["jobs"] <= INGEST_MAX_JOBS


def test_manifest_reads_submit_no_spark_jobs(spark, ingested):
    """completed/expired/live/read are driver-side file reads: bracketed
    with the status-store window they submit no Spark job, on stores
    with main, ~rate and tombstoned partitions."""
    for root in _ingested_roots(ingested):
        w = CheckpointedWriter(spark, root)
        with _spark_jobs(spark) as n:
            done, dead, live = w.completed(), w.expired(), w.live()
            df = w.read()
        assert n["jobs"] == 0, root
        assert live and live == done - dead
        assert df.columns
    w = CheckpointedWriter(spark, ingested["retained"])
    assert w.expired() and any("~" in p for p in w.live())


def test_read_schema_and_rows_match_inferred_read(spark, ingested):
    """The footer-pinned schema equals what parquet schema inference
    returns (names, types, nullability, order) and the rows are the
    same, for every tier, both 1m branches and a store after retention."""
    import pandas as pd

    for root in _ingested_roots(ingested):
        w = CheckpointedWriter(spark, root)
        live = sorted(w.live())
        paths = [f"{root}/part={p}" for p in live]
        got, exp = w.read(), spark.read.parquet(*paths)
        assert got.schema == exp.schema, root
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in exp.schema
        ]
        if root.endswith("tier=1m"):  # the ~rate branch alone agrees too
            rate = [p for p, d in zip(paths, live) if "~" in d]
            assert rate and spark.read.parquet(*rate).schema == got.schema

        def rows(df):
            return df.orderBy(*KEY).toPandas().reset_index(drop=True)

        pd.testing.assert_frame_equal(rows(got), rows(exp), check_exact=True)


def test_empty_manifest_dir_is_an_empty_manifest(spark, turns, tmp_path):
    """A crash between creating _manifest and the first entry's rename
    leaves the directory empty: that is a manifest with no entries, not
    an error, and the next run commits every partition."""
    import os

    root = str(tmp_path / "empty_manifest")
    os.makedirs(f"{root}/_manifest")
    w = CheckpointedWriter(spark, root, run_id="after_crash")
    assert w.completed() == w.expired() == w.live() == set()
    assert w.metrics().count() == 0
    with pytest.raises(FileNotFoundError):
        w.read()
    tier = rollup_raw(derive_series(turns), "1h")
    committed = w.run(tier, "bucket_start", "day")
    assert len(committed) > 1
    assert w.read().count() == tier.count()


def test_uncommitted_manifest_tmp_is_pending(spark, turns, tmp_path):
    """Only renamed *.json files are manifest entries.  A crash after a
    partition's data rename but before its manifest rename leaves a
    complete *.json.tmp: the partition is still pending, a resume
    recomputes it exactly once, sweeps the leftover, and read() returns
    each row once.  A truncated *.json.tmp is ignored as well."""
    import os

    root = str(tmp_path / "tmp_store")
    tier = rollup_raw(derive_series(turns), "1h")
    w1 = CheckpointedWriter(spark, root, run_id="w1")
    parts = sorted(e["partition"] for e in w1.run(tier, "bucket_start", "day"))
    assert len(parts) > 2
    mdir = f"{root}/_manifest"
    victim = parts[1]
    entry = f"{mdir}/{victim}-w1.json"
    os.rename(entry, entry + ".tmp")  # data in place, manifest not renamed
    with open(f"{mdir}/{parts[2]}-dead.json.tmp", "w") as f:
        f.write('{"run_id": "dead", "partit')  # truncated mid-write

    w2 = CheckpointedWriter(spark, root, run_id="w2")
    assert w2.completed() == set(parts) - {victim}
    assert None not in w2.completed()
    assert set(w2.metrics().toPandas()["partition"]) == w2.completed()
    redone = w2.run(tier, "bucket_start", "day")
    assert [e["partition"] for e in redone] == [victim]
    assert not [f for f in os.listdir(mdir) if f.endswith(".tmp")]
    assert w2.completed() == set(parts)

    got = w2.read()
    assert got.count() == tier.count()
    assert got.select(*KEY).distinct().count() == tier.count()
    assert CheckpointedWriter(spark, root, run_id="w3").run(
        tier, "bucket_start", "day") == []


# One run_stream_to_store arrival on an existing store submits at most
# this many Spark jobs: the batch's 1m rollup and its write.  The store
# keeps 1m partials only, so a change that brings back per-batch 1h/1d
# writes (or a persist of the batch aggregate) fails the guard below.
STREAM_COMMIT_MAX_JOBS = 2


def _streamed_store(spark, turns, root, files=3):
    """A 1m partial store streamed from ``files`` input files, one
    microbatch per file; returns (in_dir, store, ckpt)."""
    from ts_pymfe_spark.streaming.rollup_stream import run_stream_to_store

    in_dir, store, ckpt = (str(root / d) for d in ("in", "store", "ckpt"))
    turns.repartition(files).write.mode("overwrite").parquet(in_dir)
    run_stream_to_store(spark, in_dir, store, ckpt, max_files_per_trigger=1)
    return in_dir, store, ckpt


def _tiers_pdf(tiers):
    return {t: df.orderBy(*KEY).toPandas() for t, df in tiers.items()}


def _batch_dirs(store):
    import os

    return sorted(d for d in os.listdir(f"{store}/tier=1m")
                  if d.startswith("batch="))


def test_stream_commit_job_count_guard(spark, turns, tmp_path):
    from ts_pymfe_spark.streaming.rollup_stream import run_stream_to_store

    in_dir, store, ckpt = _streamed_store(spark, turns, tmp_path, files=2)
    turns.limit(500).coalesce(1).write.mode("append").parquet(in_dir)
    with _spark_jobs(spark) as n:
        run_stream_to_store(spark, in_dir, store, ckpt)
    assert len(_batch_dirs(store)) == 3
    assert 0 < n["jobs"] <= STREAM_COMMIT_MAX_JOBS


def test_stream_replay_is_idempotent(spark, turns, tmp_path):
    """A batch whose commit never reached the checkpoint is replayed on
    the next run: it overwrites its own batch dir, adds none, and the
    merged tiers are exactly what the first run read."""
    import os

    from ts_pymfe_spark.streaming.rollup_stream import (
        read_all_tiers,
        run_stream_to_store,
    )

    in_dir, store, ckpt = _streamed_store(spark, turns, tmp_path)
    first = _tiers_pdf(read_all_tiers(spark, store))
    dirs = _batch_dirs(store)
    assert len(dirs) >= 2
    last = max(int(d.split("=")[1]) for d in dirs)
    replayed = f"{store}/tier=1m/batch={last}"
    before = set(os.listdir(replayed))

    for f in (f"{last}", f".{last}.crc"):  # the commit and its checksum
        os.remove(f"{ckpt}/commits/{f}")
    run_stream_to_store(spark, in_dir, store, ckpt, max_files_per_trigger=1)

    assert os.path.exists(f"{ckpt}/commits/{last}")
    assert _batch_dirs(store) == dirs
    assert set(os.listdir(replayed)) != before  # rewritten, not kept
    again = _tiers_pdf(read_all_tiers(spark, store))
    for t in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(again[t], first[t], check_exact=True)


def test_stream_readers_ignore_old_layout_tier_dirs(spark, turns, tmp_path):
    """Stores from the earlier layout also hold per-batch 1h and 1d
    partials.  Planted for the first batch only (a store whose writer
    switched to 1m-only partials after it), they must not change what
    read_tier or read_all_tiers return."""
    from ts_pymfe_spark.operators.rollup import cascade
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_all_tiers,
        read_tier,
    )

    _, store, _ = _streamed_store(spark, turns, tmp_path)
    exp_1h = read_tier(spark, store, "1h").orderBy(*KEY).toPandas()
    exp = _tiers_pdf(read_all_tiers(spark, store))

    b0 = _batch_dirs(store)[0]
    up = spark.read.parquet(f"{store}/tier=1m/{b0}")
    for tier in ("1h", "1d"):
        up = cascade(up, tier)
        up.write.parquet(f"{store}/tier={tier}/{b0}")

    got_1h = read_tier(spark, store, "1h").orderBy(*KEY).toPandas()
    pd.testing.assert_frame_equal(got_1h, exp_1h, check_exact=True)
    got = _tiers_pdf(read_all_tiers(spark, store))
    for t in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(got[t], exp[t], check_exact=True)


def test_stream_store_retention_expires_batches_crash_safe(
        spark, turns, tmp_path):
    """Round-5 streaming retention (VERDICT r4 #6): the streamed
    partial store must expire old batch dirs tombstone-first (footer
    max(bucket_start) strictly older than the cutoff), read_tier must
    exclude tombstoned orphans a crash left behind, and the next pass
    must sweep them — mirroring
    test_retention_expires_partitions_crash_safe."""
    import os

    from pyspark.sql import functions as F

    from ts_pymfe_spark.streaming.rollup_stream import (
        apply_stream_retention,
        read_tier,
        run_stream_to_store,
    )

    in_dir = str(tmp_path / "ret_stream_in")
    store = str(tmp_path / "ret_stream_store")
    ckpt = str(tmp_path / "ret_stream_ckpt")
    # one input FILE per day -> with maxFilesPerTrigger=1, one batch
    # per day, so batch expiry aligns with day expiry
    days = sorted(
        r["d"].isoformat()
        for r in turns.select(
            F.to_date("ts").alias("d")
        ).distinct().collect()
    )
    assert len(days) >= 3
    for d in days:
        (
            turns.filter(F.to_date("ts") == d)
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )
    run_stream_to_store(spark, in_dir, store, ckpt,
                        max_files_per_trigger=1)

    pre = read_tier(spark, store, "1m").orderBy(*KEY).toPandas()
    cutoff = days[2]

    expired = apply_stream_retention(store, "1m", cutoff)
    assert len(expired) == 2  # exactly the two all-older-than-cutoff days
    for b in expired:
        assert not os.path.exists(f"{store}/tier=1m/{b}")
        assert os.path.exists(f"{store}/tier=1m/_retention/{b}.json")

    got = read_tier(spark, store, "1m").orderBy(*KEY).toPandas()
    exp = pre[
        pre["bucket_start"].dt.strftime("%Y-%m-%d") >= cutoff
    ].reset_index(drop=True)
    assert len(got) == len(exp) > 0
    np.testing.assert_array_equal(got["n"].to_numpy(), exp["n"].to_numpy())
    np.testing.assert_allclose(
        got["s1"].to_numpy(), exp["s1"].to_numpy(), rtol=1e-12
    )

    # idempotent
    assert apply_stream_retention(store, "1m", cutoff, dry_run=True) == []

    # crash simulation: a tombstoned dir resurfaces -> read_tier still
    # excludes it, and the next pass sweeps it
    orphan = expired[0]
    os.makedirs(f"{store}/tier=1m/{orphan}", exist_ok=True)
    got2 = read_tier(spark, store, "1m").orderBy(*KEY).toPandas()
    assert len(got2) == len(exp)
    assert apply_stream_retention(store, "1m", cutoff) == []
    assert not os.path.exists(f"{store}/tier=1m/{orphan}")


def test_stream_store_compaction_exactly_once(spark, turns, tmp_path):
    """Round-5 compaction: partials older than the watermark move into
    the day-partitioned checkpointed layout; the marker atomically
    switches reads so straddling batches are never double-counted;
    fully-old batch dirs are swept; the union view equals the pure
    partial read exactly; a marker can never move backwards."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from ts_pymfe_spark.streaming.rollup_stream import (
        compact_stream_store,
        read_tier,
        read_tier_compacted,
        run_stream_to_store,
    )

    in_dir = str(tmp_path / "cmp_in")
    store = str(tmp_path / "cmp_store")
    compact = str(tmp_path / "cmp_compact")
    ckpt = str(tmp_path / "cmp_ckpt")
    days = sorted(
        r["d"].isoformat()
        for r in turns.select(
            F.to_date("ts").alias("d")
        ).distinct().collect()
    )
    assert len(days) >= 3
    # one file per day, PLUS one file straddling days[0] and days[-1]
    straddle = turns.filter(
        F.to_date("ts").isin(days[0], days[-1])
        & (F.pmod(F.hash("conv_id"), F.lit(7)) == 0)
    )
    rest = turns.join(
        straddle.select("conv_id", "turn_idx"),
        ["conv_id", "turn_idx"],
        "left_anti",
    )
    for d in days:
        (
            rest.filter(F.to_date("ts") == d)
            .coalesce(1).write.mode("append").parquet(in_dir)
        )
    straddle.coalesce(1).write.mode("append").parquet(in_dir)
    run_stream_to_store(spark, in_dir, store, ckpt,
                        max_files_per_trigger=1)

    pre = read_tier(spark, store, "1m").orderBy(*KEY).toPandas()
    pre_1h = read_tier(spark, store, "1h").orderBy(*KEY).toPandas()
    n_batches = len(os.listdir(f"{store}/tier=1m"))

    cutoff = days[2]
    committed = compact_stream_store(
        spark, store, compact, "1m", cutoff, run_id="c1"
    )
    assert sorted(e["partition"] for e in committed) == days[:2]
    # day-aligned old batches swept; the straddling batch survives
    remaining = [
        d for d in os.listdir(f"{store}/tier=1m") if d.startswith("batch=")
    ]
    assert len(remaining) == n_batches - 1 - 2  # -_compacted marker +2 swept

    got = read_tier_compacted(spark, store, compact, "1m").orderBy(
        *KEY
    ).toPandas()
    assert len(got) == len(pre)
    np.testing.assert_array_equal(got["n"].to_numpy(), pre["n"].to_numpy())
    np.testing.assert_allclose(
        got["s1"].to_numpy(), pre["s1"].to_numpy(), rtol=1e-12
    )
    # coarser tiers compose from the compacted 1m view
    got_1h = read_tier_compacted(spark, store, compact, "1h").orderBy(
        *KEY
    ).toPandas()
    assert len(got_1h) == len(pre_1h)
    np.testing.assert_array_equal(
        got_1h["n"].to_numpy(), pre_1h["n"].to_numpy())
    np.testing.assert_allclose(
        got_1h["s1"].to_numpy(), pre_1h["s1"].to_numpy(), rtol=1e-12
    )

    # idempotent re-run: nothing new to commit, view unchanged
    assert compact_stream_store(
        spark, store, compact, "1m", cutoff, run_id="c2"
    ) == []
    got2 = read_tier_compacted(spark, store, compact, "1m").count()
    assert got2 == len(pre)

    # the marker is monotone
    with _pytest.raises(ValueError):
        compact_stream_store(spark, store, compact, "1m", days[0])


def test_streaming_hll_matches_batch(spark, turns, tmp_path):
    """Streamed per-microbatch HLL partials, max-merged on read, equal
    the batch sketch over the same rows — register-exact, so the
    estimates match to the last ulp."""
    from ts_pymfe_spark.operators.sketches import (hll_estimate, hll_merge,
                                                   hll_sketch)
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_partials,
        run_partials_to_store,
    )
    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "hll_in")
    store = str(tmp_path / "hll_store")
    ckpt = str(tmp_path / "hll_ckpt")
    turns.repartition(16).write.mode("overwrite").parquet(in_dir)

    run_partials_to_store(
        spark, in_dir, store, ckpt,
        lambda b: hll_sketch(b.select(F.to_date("ts").alias("day"),
                                      "conv_id"), ["day"], "conv_id"))
    got = hll_merge(read_partials(spark, store))
    exp = hll_sketch(
        spark.read.parquet(in_dir)
        .select(F.to_date("ts").alias("day"), "conv_id"),
        ["day"], "conv_id")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))
    ge = hll_estimate(got, ["day"]).collect()
    ee = {(r["day"],): r["est_distinct"]
          for r in hll_estimate(exp, ["day"]).collect()}
    assert all(ee[(r["day"],)] == r["est_distinct"] for r in ge)
    # more than one microbatch actually ran (16 files / 8 per trigger)
    import os
    assert len([d for d in os.listdir(store)
                if d.startswith("batch=")]) >= 2


def test_streaming_histogram_matches_batch(spark, turns, tmp_path):
    """Streamed per-microbatch histogram partials, sum-merged on read,
    equal the batch sketch bin-for-bin — so streamed quantiles equal
    batch quantiles exactly."""
    from pyspark.sql import functions as F

    from ts_pymfe_spark.operators.histogram import (histogram_merge,
                                                    histogram_quantile,
                                                    histogram_sketch)
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_partials,
        run_partials_to_store,
    )

    in_dir = str(tmp_path / "hist_in")
    store = str(tmp_path / "hist_store")
    ckpt = str(tmp_path / "hist_ckpt")
    turns.repartition(16).write.mode("overwrite").parquet(in_dir)

    run_partials_to_store(
        spark, in_dir, store, ckpt,
        lambda b: histogram_sketch(
            b.select(F.to_date("ts").alias("day"), "turn_idx"),
            ["day"], "turn_idx", 0.0, 200.0, 100))
    got = histogram_merge(read_partials(spark, store))
    exp = histogram_sketch(
        spark.read.parquet(in_dir)
        .select(F.to_date("ts").alias("day"), "turn_idx"),
        ["day"], "turn_idx", 0.0, 200.0, 100)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))
    gq = sorted(map(tuple, histogram_quantile(
        got, ["day"], [0.5], 0.0, 200.0, 100).collect()))
    eq = sorted(map(tuple, histogram_quantile(
        exp, ["day"], [0.5], 0.0, 200.0, 100).collect()))
    assert gq == eq


def test_streaming_cms_matches_batch(spark, turns, tmp_path):
    """Streamed per-microbatch count-min counter partials, sum-merged
    on read, equal the batch sketch over the same rows — counter-exact
    (integer sums), so every point estimate matches exactly."""
    from ts_pymfe_spark.operators.sketches import (cms_estimate, cms_merge,
                                                   cms_sketch)
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_partials,
        run_partials_to_store,
    )

    in_dir = str(tmp_path / "cms_in")
    store = str(tmp_path / "cms_store")
    ckpt = str(tmp_path / "cms_ckpt")
    turns.repartition(16).write.mode("overwrite").parquet(in_dir)

    run_partials_to_store(spark, in_dir, store, ckpt,
                          lambda b: cms_sketch(b, "conv_id"))
    got = cms_merge(read_partials(spark, store))
    whole = spark.read.parquet(in_dir)
    exp = cms_sketch(whole, "conv_id")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))
    cand = whole.select("conv_id").distinct()
    ge = {r["conv_id"]: r["est_count"]
          for r in cms_estimate(got, cand, "conv_id").collect()}
    true = {r["conv_id"]: r["n"]
            for r in whole.groupBy("conv_id")
            .agg(F.count("*").alias("n")).collect()}
    assert all(ge[k] >= n for k, n in true.items())  # never undercounts
    import os
    assert len([d for d in os.listdir(store)
                if d.startswith("batch=")]) >= 2


def test_streaming_daily_health_matches_batch(spark, tmp_path):
    """Streamed health partials, merged on read, equal the batch
    daily_drift bit-for-bit on binary-exact values (sums of multiples
    of 1/4 are exact in any merge order)."""
    import datetime as dt

    from ts_pymfe_spark.operators.drift import (daily_drift,
                                                daily_health_from_partials,
                                                daily_health_partials)
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_partials,
        run_partials_to_store,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for d in range(5):
        for i in range(200):
            v = None if (i % 17 == 0) else (i % 40) * 0.25
            rows.append(("c%d" % (i % 7), i,
                         t0 + dt.timedelta(days=d, seconds=i), v))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx long, ts timestamp, value double")

    in_dir = str(tmp_path / "h_in")
    store = str(tmp_path / "h_store")
    ckpt = str(tmp_path / "h_ckpt")
    df.repartition(16).write.mode("overwrite").parquet(in_dir)

    run_partials_to_store(spark, in_dir, store, ckpt,
                          daily_health_partials,
                          schema=spark.read.parquet(in_dir).schema)
    got = daily_health_from_partials(read_partials(spark, store)) \
        .orderBy("col_name", "day")
    exp = daily_drift(spark.read.parquet(in_dir)) \
        .orderBy("col_name", "day")
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in exp.collect()]
    import os
    assert len([d for d in os.listdir(store)
                if d.startswith("batch=")]) >= 2


def test_streaming_drift_cells_match_batch(spark, tmp_path):
    """Streamed drift-cell partials (fixed bounds), sum-merged on
    read, equal the batch cells exactly (integer counts), so the
    KS/PSI verdicts from the store match the batch screens."""
    from ts_pymfe_spark.operators.drift import (drift_cells,
                                                drift_cells_merge,
                                                ks_from_cells,
                                                psi_from_cells)
    from ts_pymfe_spark.streaming.rollup_stream import (
        read_partials,
        run_partials_to_store,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "dc_in")
    store = str(tmp_path / "dc_store")
    ckpt = str(tmp_path / "dc_ckpt")
    ev.repartition(16).write.mode("overwrite").parquet(in_dir)

    bounds = {t: (0.0, 100.0) for t in
              ("view", "click", "purchase", "signup", "error")}
    bdf = spark.createDataFrame(
        [(k, lo, hi) for k, (lo, hi) in bounds.items()],
        "event_type string, lo double, hi double")
    run_partials_to_store(
        spark, in_dir, store, ckpt,
        lambda b: drift_cells(b, F.col("user_id") % 2, bdf, bins=64),
        schema=spark.read.parquet(in_dir).schema)
    got = drift_cells_merge(read_partials(spark, store))
    exp = drift_cells(spark.read.parquet(in_dir),
                      F.col("user_id") % 2, bdf, bins=64)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))
    gk = sorted(map(tuple, ks_from_cells(got).collect()))
    ek = sorted(map(tuple, ks_from_cells(exp).collect()))
    assert gk == ek
    gp = sorted(map(tuple, psi_from_cells(got).collect()))
    ep = sorted(map(tuple, psi_from_cells(exp).collect()))
    assert gp == ep
    import os
    assert len([d for d in os.listdir(store)
                if d.startswith("batch=")]) >= 2
