"""Structured Streaming tier maintenance: continuous aggregates kept
fresh as transcript turns arrive.

Design: **stateless partial vectors + merge-on-read** — each microbatch
computes plain per-(conv, series, minute) moment vectors for JUST its
rows (no streaming state, no watermark-dropped late data) and appends
them as partials; reading a tier finishes the merge with the same
associative ``moment_merge_aggs`` the batch cascade uses.  Late or
out-of-order turns simply add another partial to their bucket — exact
regardless of arrival order, the same property that makes the batch
cascade salt-safe.

The store keeps **1m partials only** (``tier=1m/batch=<id>``); 1h and
1d are composed on read from the merged 1m by ``rollup.compose_tiers``,
the batch cascade's own composition (turn_rate needs the MERGED 1m
count anyway, see ``read_all_tiers``).  Stores written by the earlier
layout may also hold ``tier=1h/batch=*`` and ``tier=1d/batch=*``
directories; readers ignore them.  ``run_partials_to_store`` and
``read_partials`` carry the same contract for any mergeable partial
(HLL registers, histogram/count-min counters, health, drift cells).

At production scale the source is Kafka/Iceberg CDC and the partial
store is an Iceberg table compacted periodically (merge partials into
one row per bucket — same aggregation, run as maintenance); here a file
source with ``availableNow`` triggers serves tests.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ts_pymfe_spark.functions.moments import moment_merge_aggs
from ts_pymfe_spark.operators.derive import derive_series
from ts_pymfe_spark.operators.rollup import (KEY, TierMap, compose_tiers,
                                             rollup_raw)
from ts_pymfe_spark.synth import TURNS_SCHEMA


def run_partials_to_store(spark: SparkSession, input_dir: str,
                          store_dir: str, checkpoint_dir: str,
                          partial: Callable[[DataFrame], DataFrame],
                          schema: StructType = TURNS_SCHEMA,
                          max_files_per_trigger: int = 8) -> None:
    """availableNow streaming job writing ``partial(batch)`` of every
    microbatch to ``store_dir/batch=<id>``; ``schema`` is the input's
    row schema.  Exactly-once via the streaming checkpoint: a replayed
    batch overwrites its own directory, so appends are idempotent."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        partial(batch).write.mode("overwrite").parquet(
            f"{store_dir}/batch={batch_id}")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_partials(spark: SparkSession, store_dir: str) -> DataFrame:
    """Every batch's partial rows, unmerged, for the operator's merge;
    the ``batch`` layout column is dropped (it is not a partial key)."""
    return spark.read.parquet(store_dir).drop("batch")


def run_stream_to_store(spark: SparkSession, input_dir: str, store_dir: str,
                        checkpoint_dir: str,
                        max_files_per_trigger: int = 8) -> None:
    """availableNow streaming job: each batch's 1m moment vectors are
    appended under ``store_dir/tier=1m``; coarser tiers are composed on
    read (``read_tier``/``read_all_tiers``)."""
    run_partials_to_store(
        spark, input_dir, f"{store_dir}/tier=1m", checkpoint_dir,
        lambda batch: rollup_raw(derive_series(batch), "1m"),
        max_files_per_trigger=max_files_per_trigger,
    )


def _live_batch_dirs(store_dir: str, tier: str) -> list[str]:
    """Batch partial dirs that are not retention-tombstoned."""
    import os

    root = f"{store_dir}/tier={tier}"
    dead = set()
    ret = f"{root}/_retention"
    if os.path.isdir(ret):
        dead = {f[: -len(".json")] for f in os.listdir(ret)
                if f.endswith(".json")}
    return [
        f"{root}/{d}" for d in sorted(os.listdir(root))
        if d.startswith("batch=") and d not in dead
    ]


def read_tier(spark: SparkSession, store_dir: str, tier: str) -> DataFrame:
    """Merge-on-read: combine the per-batch 1m partial vectors into
    final bucket vectors — identical algebra to the batch cascade, so
    streaming output == batch output exactly; 1h and 1d are the main
    branch of ``compose_tiers`` over them.  Retention-tombstoned batch
    dirs are excluded even if a crash left them on disk.

    Fails loudly on a compacted store (ADVICE r5): once
    ``compact_stream_store`` has swept batch dirs behind the
    ``_compacted_until`` marker, the partials alone are TRUNCATED
    history — a stale caller must switch to ``read_tier_compacted``
    rather than silently get only the newest buckets."""
    marker = _compaction_marker(store_dir, "1m")
    if marker is not None:
        raise RuntimeError(
            f"tier {tier!r} under {store_dir} is compacted up to "
            f"{marker}: read_tier would return truncated history — "
            "use read_tier_compacted(spark, store_dir, compact_dir, "
            "tier) instead"
        )
    paths = _live_batch_dirs(store_dir, "1m")
    if not paths:
        raise FileNotFoundError(
            f"no live batch partials under {store_dir}/tier=1m"
        )
    t1m = (
        spark.read.parquet(*paths)
        .groupBy(*KEY)
        .agg(*moment_merge_aggs())
    )
    if tier == "1m":
        return t1m
    return compose_tiers(t1m, include_turn_rate=False)[tier]


def _batch_max_bucket(batch_dir: str):
    """Max ``bucket_start`` across a batch dir, from parquet FOOTER
    row-group statistics — no data read (same principle as
    plans/manifest._footer_stats)."""
    import os

    import pyarrow.parquet as pq

    mx = None
    for f in os.listdir(batch_dir):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(batch_dir, f)).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema != "bucket_start":
                    continue
                st = col.statistics
                if st is not None and st.has_min_max:
                    mx = st.max if mx is None else max(mx, st.max)
    return mx


def _compaction_marker(store_dir: str, tier: str) -> str | None:
    """The compaction watermark: buckets strictly older than this
    YYYY-MM-DD live in the compacted store, not the partials."""
    import json as _json
    import os

    path = f"{store_dir}/tier={tier}/_compacted_until.json"
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return _json.load(f)["older_than"]


def compact_stream_store(spark: SparkSession, store_dir: str,
                         compact_dir: str, tier: str, older_than: str,
                         run_id: str | None = None) -> list[dict]:
    """Compact streamed partials older than ``older_than`` into the
    day-partitioned checkpointed layout (round 5) — the production
    maintenance pass the partial store's design assumes: without it
    merge-on-read degrades as O(#batches) and retention can only drop
    whole batches.

    Mechanics (exactly-once via the marker as the atomic switch):

      1. live partials are filtered to ``bucket_start < older_than``,
         merged with the same associative ``moment_merge_aggs`` a
         read would apply, and committed day-partitioned through
         ``CheckpointedWriter`` (resume-safe: already-committed days
         are skipped on a re-run);
      2. the ``_compacted_until.json`` marker is advanced (atomic
         rename) — from this instant ``read_tier_compacted`` takes
         old buckets from the compacted store and keeps reading the
         partials only for buckets >= the marker, so a batch that
         straddles the cutoff is never double-counted;
      3. batch dirs whose footer max(bucket_start) is strictly older
         than the marker are deleted — every row they held is in the
         compacted store.  A crash before this step leaves garbage
         the marker filter already hides; the next pass sweeps it.

    Contract: ``older_than`` is a watermark — rows older than an
    already-advanced marker must not arrive in later batches (a real
    deployment routes such stragglers through a late lane).  Returns
    the manifest entries committed by this call."""
    import datetime as _dt
    import json as _json
    import os
    import shutil

    from ts_pymfe_spark.plans.manifest import CheckpointedWriter

    prev = _compaction_marker(store_dir, tier)
    if prev is not None and older_than < prev:
        raise ValueError(
            f"compaction marker cannot move backwards: {older_than} < {prev}"
        )
    paths = _live_batch_dirs(store_dir, tier)
    w = CheckpointedWriter(spark, f"{compact_dir}/tier={tier}",
                           run_id=run_id)
    committed: list[dict] = []
    if paths:
        merged_old = (
            spark.read.parquet(*paths)
            .filter(F.col("bucket_start") < F.lit(older_than))
            .groupBy(*KEY)
            .agg(*moment_merge_aggs())
        )
        committed = w.run(merged_old, "bucket_start", "day")
    # advance the marker (atomic commit point of the read switch)
    marker = f"{store_dir}/tier={tier}/_compacted_until.json"
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(_json.dumps({"older_than": older_than}) + "\n")
    os.rename(tmp, marker)
    # sweep batch dirs now fully represented in the compacted store
    cutoff = _dt.date.fromisoformat(older_than)
    for path in _live_batch_dirs(store_dir, tier):
        mx = _batch_max_bucket(path)
        if mx is not None and mx.date() < cutoff:
            shutil.rmtree(path, ignore_errors=True)
    return committed


def read_tier_compacted(spark: SparkSession, store_dir: str,
                        compact_dir: str, tier: str) -> DataFrame:
    """Union view over the compacted store and the live partials —
    the reader for a compacted streaming tier.  The marker decides
    the split: compacted rows are final vectors for buckets strictly
    older than it; partial rows at or after it still merge on read.
    The two sides' keys are disjoint by construction, so the union
    needs no further aggregation.  Marker, partials and compacted rows
    are the 1m tier's; 1h and 1d are composed from this view as in
    ``read_tier``."""
    from ts_pymfe_spark.plans.manifest import CheckpointedWriter

    marker = _compaction_marker(store_dir, "1m")
    if marker is None:
        return read_tier(spark, store_dir, tier)
    paths = _live_batch_dirs(store_dir, "1m")
    fresh = None
    if paths:
        fresh = (
            spark.read.parquet(*paths)
            .filter(F.col("bucket_start") >= F.lit(marker))
            .groupBy(*KEY)
            .agg(*moment_merge_aggs())
        )
    try:
        old = CheckpointedWriter(
            spark, f"{compact_dir}/tier=1m"
        ).read().filter(F.col("bucket_start") < F.lit(marker))
    except FileNotFoundError:
        # marker advanced but nothing was old enough to compact yet
        old = None
    if old is None and fresh is None:
        raise FileNotFoundError(
            f"no data in either store for tier={tier}"
        )
    t1m = fresh if old is None else (
        old if fresh is None else old.unionByName(fresh))
    if tier == "1m":
        return t1m
    return compose_tiers(t1m, include_turn_rate=False)[tier]


def apply_stream_retention(store_dir: str, tier: str,
                           older_than: str,
                           dry_run: bool = False) -> list[str]:
    """Retention for the streamed partial store (round 5 — the batch
    ladder's ``manifest.apply_retention`` counterpart; without it the
    partial store grows unboundedly).

    A ``batch=N`` partial dir is expired when EVERY row in it is
    strictly older than ``older_than`` (YYYY-MM-DD) — decided from the
    parquet footer max of ``bucket_start``, no data read.  Batches
    that straddle the cutoff are conservatively kept (partial vectors
    cannot be row-filtered without rewriting the batch; periodic
    compaction into day partitions is the production path for those).

    Crash-safe ordering mirrors the batch ladder: the tombstone
    (``_retention/batch=N.json``) commits FIRST via atomic rename,
    then the directory is deleted.  A crash in between leaves a
    tombstoned-but-present orphan: ``read_tier`` already excludes it,
    and the next retention pass sweeps it.  Returns newly expired
    batch dir names."""
    import datetime as _dt
    import json as _json
    import os
    import shutil

    cutoff = _dt.date.fromisoformat(older_than)
    root = f"{store_dir}/tier={tier}"
    ret = f"{root}/_retention"
    victims = []
    for path in _live_batch_dirs(store_dir, tier):
        mx = _batch_max_bucket(path)
        if mx is not None and mx.date() < cutoff:
            victims.append(os.path.basename(path))
    if dry_run:
        return victims
    os.makedirs(ret, exist_ok=True)
    for b in victims:
        fname = f"{ret}/{b}.json"
        tmp = fname + ".tmp"
        with open(tmp, "w") as f:
            f.write(_json.dumps(
                {"batch": b, "expired": True, "older_than": older_than}
            ) + "\n")
        os.rename(tmp, fname)  # atomic tombstone commit point
    # sweep: newly expired dirs AND orphans from a crashed prior pass
    dead = {f[: -len(".json")] for f in os.listdir(ret)
            if f.endswith(".json")}
    for b in sorted(dead):
        shutil.rmtree(f"{root}/{b}", ignore_errors=True)
    return victims


def read_all_tiers(spark: SparkSession, store_dir: str,
                   include_turn_rate: bool = True) -> TierMap:
    """The FULL cascade over a streaming partial store: the merged 1m
    (``read_tier``) through ``compose_tiers``, as ``build_all_tiers``
    composes its raw 1m rollup — so streaming output == batch output
    exactly (test_streaming_full_cascade_matches_batch).

    The emergent turn-rate series cannot be maintained as per-batch
    partials: its VALUE is the merged 1m bucket count ``n``, and
    moments of n are not mergeable from moments of per-batch partial
    counts (s2 of 5 is not s2 of 3 plus s2 of 2).  It, and with it
    every 1h/1d tier, is derived here AFTER the 1m merge."""
    return compose_tiers(read_tier(spark, store_dir, "1m"),
                         include_turn_rate=include_turn_rate)
