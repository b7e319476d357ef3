"""Storage-backed tier ingest: raw -> committed 1m -> merge-on-read
1h/1d (round 5, VERDICT r4 "Next round" #2).

The previous ingest job called ``build_all_tiers(persist=True)``: the
MEMORY_AND_DISK 1m cache duplicated data that CheckpointedWriter had
just written, contradicting rollup.py's own guidance ("callers that
write each tier to storage should leave this False"), and the cache was
the documented cause of a resume OOM at default driver memory.  This
module implements the scale-safe form as a commit-and-read-back ladder:

  1. the main-branch 1m tier is aggregated from raw and committed
     (the ONLY pass over raw points — one conv_id exchange when the
     series input is pre-partitioned, operators/rollup.py);
  2. the emergent turn-rate branch is derived from the COMMITTED 1m
     store (``CheckpointedWriter.read()``) and committed into the same
     tier root under ``~rate``-suffixed partitions, so both branches
     resume independently and ``read()`` returns their union —
     identical content to ``build_all_tiers``'s 1m union;
  3. 1h cascades merge-on-read from the committed 1m union, 1d from
     the committed 1h — each step reads O(buckets) rows from storage,
     never raw, and nothing is persisted in executor memory.

Branch note: ``cascade`` of the stored union equals the batch path's
union-of-branch-cascades because the two branches' group keys are
disjoint (``series`` = 'turn_rate' vs the rest).

Why this is not ``rollup.compose_tiers``: that composition (used by
``build_all_tiers`` and the streaming store's ``read_all_tiers``)
builds every tier as one lazy plan over a 1m relation, so its 1d tier
recomputes from 1m.  Here each step reads back the tier it has just
committed — 1d from the stored 1h, the turn-rate branch from the stored
1m — so every step resumes independently and never re-derives a
committed tier.  It is composed from the same primitives
(``rollup_raw``, ``rate_1m_projection``, ``cascade``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ts_pymfe_spark.operators.rollup import (
    cascade,
    rate_1m_projection,
    rollup_raw,
)
from ts_pymfe_spark.plans.manifest import CheckpointedWriter

RATE_SUFFIX = "~rate"


def ingest_tiers(spark: SparkSession, series: DataFrame, output: str,
                 run_id: str | None = None, salted: bool = False,
                 include_turn_rate: bool = True) -> dict[str, list[dict]]:
    """Commit the full raw->1m->1h->1d cascade to ``output`` with
    per-partition lineage, resumably, with zero persisted caches.

    ``series``: derived-series rows (operators/derive.derive_series).
    Returns {tier: [manifest entries committed by THIS call]} — a
    resume run returns only the partitions it actually recomputed.
    """
    metrics: dict[str, list[dict]] = {}
    w1m = CheckpointedWriter(spark, f"{output}/tier=1m", run_id=run_id)
    metrics["1m"] = w1m.run(
        rollup_raw(series, "1m", salted=salted), "bucket_start", "day"
    )
    try:
        committed_1m = w1m.read()
    except FileNotFoundError:  # empty input: nothing committed, ever
        metrics["1h"] = []
        metrics["1d"] = []
        return metrics
    if include_turn_rate:
        # derived from the committed store, not a cache; the
        # projection filters series == base, so already-committed
        # ~rate rows from a crashed previous attempt cannot feed back
        # into the input.  rate_1m_projection: identity-bucket rollup
        # as a closed-form projection (round 7, rollup.py docstring).
        rate_1m = rate_1m_projection(committed_1m)
        metrics["1m"] += w1m.run(
            rate_1m, "bucket_start", "day", partition_suffix=RATE_SUFFIX
        )
    w1h = CheckpointedWriter(spark, f"{output}/tier=1h", run_id=run_id)
    metrics["1h"] = w1h.run(
        cascade(w1m.read(), "1h"), "bucket_start", "day"
    )
    w1d = CheckpointedWriter(spark, f"{output}/tier=1d", run_id=run_id)
    metrics["1d"] = w1d.run(
        cascade(w1h.read(), "1d"), "bucket_start", "day"
    )
    return metrics
