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

Maintenance has one route: ``compact_stream_store`` merges partials
older than a watermark into day partitions of a checkpointed store at
``{store_dir}/compacted/tier=1m`` and records the watermark in
``tier=1m/_compacted_until.json``; ``read_tier`` then reads old buckets
from there and new ones from the partials.  Retention is the batch
ladder's own::

    manifest.apply_retention(spark, f"{store_dir}/compacted",
                             {"1m": keep_days}, now)

so only compacted days can expire; partials at or after the marker
are kept until a compaction moves them.

At production scale the source is Kafka/Iceberg CDC and both stores
are Iceberg tables; here a file source with ``availableNow`` triggers
serves tests.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ts_pymfe_spark.functions.moments import moment_merge_aggs
from ts_pymfe_spark.operators.derive import derive_series
from ts_pymfe_spark.operators.rollup import (KEY, TierMap, compose_tiers,
                                             rollup_raw)
from ts_pymfe_spark.plans.manifest import CheckpointedWriter
from ts_pymfe_spark.synth import TURNS_SCHEMA

# where a compacted store keeps its final 1m vectors, and the marker
# that splits reads between them and the partials (both under store_dir)
_COMPACTED_1M = "compacted/tier=1m"
_MARKER = "tier=1m/_compacted_until.json"


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


def _live_batch_dirs(store_dir: str) -> list[str]:
    """The store's 1m batch partial dirs."""
    root = f"{store_dir}/tier=1m"
    return [f"{root}/{d}" for d in sorted(os.listdir(root))
            if d.startswith("batch=")]


def _compaction_marker(store_dir: str) -> str | None:
    """The compaction watermark: 1m buckets strictly older than this
    YYYY-MM-DD live in the compacted store, not the partials."""
    try:
        with open(f"{store_dir}/{_MARKER}") as f:
            return json.load(f)["older_than"]
    except FileNotFoundError:
        return None


def read_tier(spark: SparkSession, store_dir: str, tier: str) -> DataFrame:
    """Merge-on-read: combine the per-batch 1m partial vectors into
    final bucket vectors — identical algebra to the batch cascade, so
    streaming output == batch output exactly; 1h and 1d are the main
    branch of ``compose_tiers`` over them.

    On a compacted store the marker splits the 1m rows: buckets
    strictly older than it come from the compacted store's live
    (retention-unexpired) day partitions as final vectors, buckets at
    or after it still merge from the partials.  The two sides' keys are
    disjoint, so the union needs no further aggregation.  A marker with
    no compacted store beside it raises (ADVICE r5): the partials alone
    would be truncated history."""
    marker = _compaction_marker(store_dir)
    paths = _live_batch_dirs(store_dir)
    parts = []
    if marker is not None:
        root = f"{store_dir}/{_COMPACTED_1M}"
        if not os.path.isdir(root):
            raise RuntimeError(
                f"{store_dir} is compacted up to {marker} but {root} "
                "does not exist: read_tier would return truncated history"
            )
        try:
            # the filter hides days a crashed compaction committed
            # before it could advance the marker
            parts.append(CheckpointedWriter(spark, root).read()
                         .filter(F.col("bucket_start") < F.lit(marker)))
        except FileNotFoundError:  # nothing compacted or all expired
            pass
    if paths:
        fresh = spark.read.parquet(*paths)
        if marker is not None:
            fresh = fresh.filter(F.col("bucket_start") >= F.lit(marker))
        parts.append(fresh.groupBy(*KEY).agg(*moment_merge_aggs()))
    if not parts:
        raise FileNotFoundError(f"no live 1m rows under {store_dir}")
    t1m = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    if tier == "1m":
        return t1m
    return compose_tiers(t1m, include_turn_rate=False)[tier]


def _batch_max_bucket(batch_dir: str):
    """Max ``bucket_start`` across a batch dir, from parquet FOOTER
    row-group statistics — no data read (same principle as
    plans/manifest._footer_stats)."""
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


def compact_stream_store(spark: SparkSession, store_dir: str,
                         older_than: str,
                         run_id: str | None = None) -> list[dict]:
    """Compact streamed 1m partials older than ``older_than`` into the
    day-partitioned checkpointed layout at
    ``{store_dir}/compacted/tier=1m`` — the maintenance pass the
    partial store's design assumes: without it merge-on-read degrades
    as O(#batches), and it is the store's only route to retention.

    Mechanics (exactly-once via the marker as the atomic switch):

      1. partials are filtered to ``bucket_start < older_than``,
         merged with the same associative ``moment_merge_aggs`` a
         read would apply, and committed day-partitioned through
         ``CheckpointedWriter`` (resume-safe: already-committed days,
         expired ones included, are skipped on a re-run);
      2. the ``_compacted_until.json`` marker is advanced (atomic
         rename) — from this instant ``read_tier`` takes old buckets
         from the compacted store and keeps reading the partials only
         for buckets >= the marker, so a batch that straddles the
         cutoff is never double-counted;
      3. batch dirs whose footer max(bucket_start) is strictly older
         than the marker are deleted — every row they held is in the
         compacted store.  A crash before this step leaves garbage
         the marker filter already hides; the next pass sweeps it.

    Contract: ``older_than`` is a watermark — rows older than an
    already-advanced marker must not arrive in later batches (a real
    deployment routes such stragglers through a late lane).  Returns
    the manifest entries committed by this call."""
    prev = _compaction_marker(store_dir)
    if prev is not None and older_than < prev:
        raise ValueError(
            f"compaction marker cannot move backwards: {older_than} < {prev}"
        )
    paths = _live_batch_dirs(store_dir)
    root = f"{store_dir}/{_COMPACTED_1M}"
    committed: list[dict] = []
    if paths:
        merged_old = (
            spark.read.parquet(*paths)
            .filter(F.col("bucket_start") < F.lit(older_than))
            .groupBy(*KEY)
            .agg(*moment_merge_aggs())
        )
        committed = CheckpointedWriter(spark, root, run_id=run_id).run(
            merged_old, "bucket_start", "day")
    os.makedirs(root, exist_ok=True)
    # advance the marker (atomic commit point of the read switch)
    marker = f"{store_dir}/{_MARKER}"
    with open(marker + ".tmp", "w") as f:
        f.write(json.dumps({"older_than": older_than}) + "\n")
    os.rename(marker + ".tmp", marker)
    # sweep batch dirs now fully represented in the compacted store
    cutoff = datetime.date.fromisoformat(older_than)
    for path in paths:
        mx = _batch_max_bucket(path)
        if mx is not None and mx.date() < cutoff:
            shutil.rmtree(path, ignore_errors=True)
    return committed


def read_all_tiers(spark: SparkSession, store_dir: str,
                   include_turn_rate: bool = True) -> TierMap:
    """The FULL cascade over a streaming store, compacted or not: the
    merged 1m (``read_tier``) through ``compose_tiers``, as ``build_all_tiers``
    composes its raw 1m rollup — so streaming output == batch output
    exactly (test_streaming_full_cascade_matches_batch).

    The emergent turn-rate series cannot be maintained as per-batch
    partials: its VALUE is the merged 1m bucket count ``n``, and
    moments of n are not mergeable from moments of per-batch partial
    counts (s2 of 5 is not s2 of 3 plus s2 of 2).  It, and with it
    every 1h/1d tier, is derived here AFTER the 1m merge."""
    return compose_tiers(read_tier(spark, store_dir, "1m"),
                         include_turn_rate=include_turn_rate)
