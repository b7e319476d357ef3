"""Continuous-aggregate tier cascade: raw -> 1m -> 1h -> 1d.

The reference has no tiers (one in-RAM array); tiers are the north
rule's recast of its precompute cache (``_internal.py:1158-1331``) into
materialized continuous aggregates.  Each tier stores one mergeable
moment vector per ``(conv_id, series, bucket_start)`` —
functions/moments.py — so the cascade NEVER re-reads raw data:

    raw turns --(groupBy 1m bucket, moment_aggs)--> tier 1m
    tier 1m  --(groupBy hour,  moment_merge_aggs)--> tier 1h
    tier 1h  --(groupBy day,   moment_merge_aggs)--> tier 1d

Scale design:
  - The 1m aggregation is the only pass over raw points; everything
    above it shuffles O(#buckets) rows.  At 10^12 turns / ~10^9
    conv-minutes that is a 1000x shuffle reduction per level.
  - Shuffle strategy is DENSITY-AWARE (round-4 measurement):
      * sparse series (few rows per (conv, series, minute) — transcript
        turn cadence: ~2.9 rows/bucket measured at SF=1): map-side
        partials EXPAND the data (a 13-field moment vector per
        near-unique key) instead of reducing it — measured 3.9 GB
        shuffled from a 128 MB input, twice with salting.  The right
        plan partitions ONCE by conv_id upstream
        (``derive_series(partition_by=("conv_id",))``): conv_id is a
        subset of every tier group key, so the entire raw->1m->1h->1d
        cascade plans with exactly one exchange of slim raw rows
        (~0.4 GB at SF=1; audited in tests/test_plan_audits.py).
        Conversation-level skew is bounded: the Zipf-head conversation
        is ~0.2% of rows (FIXTURES.md), far below task granularity.
      * dense series (many points per bucket — e.g. 1s-cadence sensors
        rolled to 1h): plain groupBy; map-side partials reduce
        O(points) to O(buckets) before the exchange and win.
      * hot single keys (one (conv, bucket) with ~10^6+ rows):
        ``salted=True`` two-phase pre-aggregation on (key, salt) —
        identical results (moment merge is associative+commutative),
        no single reducer owns a whole hot key.
    AQE skew handling stays on as the runtime backstop (session.py).
  - ``turn_rate`` is rollup-emergent: the count-per-finer-bucket becomes
    the *value* series one tier up (turns/minute rolled into 1h/1d
    moment vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_pymfe_spark.functions.moments import moment_aggs, moment_merge_aggs

#: tier -> date_trunc unit
TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}

KEY = ["conv_id", "series", "bucket_start"]


def bucket(ts_col: str, tier: str) -> F.Column:
    return F.date_trunc(TIERS[tier], F.col(ts_col)).alias("bucket_start")


def rollup_raw(series_df: DataFrame, tier: str = "1m", salted: bool = False,
               salt_buckets: int = 16) -> DataFrame:
    """Derived-series rows -> moment vectors per (conv_id, series, bucket).

    ``salted``: two-phase exact aggregation for hot (conv, bucket) keys.
    """
    with_bucket = series_df.select(
        "conv_id", "series", "ts", "value", bucket("ts", tier)
    )
    if not salted:
        return with_bucket.groupBy(*KEY).agg(*moment_aggs("value", "ts"))
    partial = (
        with_bucket
        .withColumn("_salt", F.pmod(F.hash("ts"), F.lit(salt_buckets)))
        .groupBy(*KEY, "_salt")
        .agg(*moment_aggs("value", "ts"))
    )
    return partial.groupBy(*KEY).agg(*moment_merge_aggs())


def cascade(tier_df: DataFrame, to_tier: str) -> DataFrame:
    """Merge a finer tier's moment vectors into a coarser tier.

    Pure moment-merge: associative, exact, O(child buckets)."""
    return (
        tier_df
        .withColumn("bucket_start", F.date_trunc(TIERS[to_tier], "bucket_start"))
        .groupBy(*KEY)
        .agg(*moment_merge_aggs())
    )


def turn_rate_series(tier_df: DataFrame, base_series: str = "text_len") -> DataFrame:
    """Emergent turn-rate series: the finer tier's per-bucket count ``n``
    becomes a value series (conv_id, 'turn_rate', ts=bucket_start, value=n).

    Feed the result back through ``rollup_raw`` at a coarser tier to get
    turn-rate moment vectors (e.g. 1m counts rolled into 1h stats)."""
    return (
        tier_df
        .filter(F.col("series") == base_series)
        .select(
            "conv_id",
            F.lit("turn_rate").alias("series"),
            F.col("bucket_start").alias("ts"),
            F.col("n").cast("double").alias("value"),
        )
    )


def rate_1m_projection(t1m: DataFrame,
                       base_series: str = "text_len") -> DataFrame:
    """Identity-bucket turn-rate rollup (round 7).

    Feeding ``turn_rate_series(t1m)`` back through ``rollup_raw`` at
    the SAME 1m tier groups by ``date_trunc('minute', bucket_start)``
    — which IS ``bucket_start`` (already minute-truncated), so every
    group holds exactly one row and the whole two-phase hash
    aggregation is an identity: the moment vector is a closed-form
    projection of the single row (n=1, s_k = v^k, min = max = first =
    last = v).  Value-equal to
    ``rollup_raw(turn_rate_series(t1m), "1m", salted=False)``
    (tests/test_plan_audits.py), with zero aggregation passes —
    measured 2.3-3.5 s -> 0.5 s on the 12.3M-row branch at SF=2
    local[8] (guide §1.2 step 1: don't compute what a projection
    already knows)."""
    v = F.col("n").cast("double")
    out = (
        t1m.filter(F.col("series") == base_series)
        .select(
            "conv_id",
            F.lit("turn_rate").alias("series"),
            "bucket_start",
            F.lit(1).cast("long").alias("n"),
            v.alias("s1"),
            (v * v).alias("s2"),
            (v * v * v).alias("s3"),
            (v * v * v * v).alias("s4"),
            v.alias("mn"),
            v.alias("mx"),
            F.col("bucket_start").alias("first_ts"),
            v.alias("first_v"),
            F.col("bucket_start").alias("last_ts"),
            v.alias("last_v"),
            F.when(v > 0, F.log(v)).alias("slog"),
            F.when(v <= 0, F.lit(1)).otherwise(F.lit(0))
            .cast("long").alias("n_nonpos"),
        )
    )
    # Same column names/types/values as the aggregate form; the
    # moment fields come out NON-nullable here (a projection of a
    # non-null count proves more than SUM/MIN/MAX aggregates can) —
    # every consumer (unionByName, moment_merge_aggs, parquet stores)
    # widens nullability, so the stricter schema is safe and honest.
    return out


class TierMap(dict):
    """{tier: moments DataFrame} plus ``aux``: inner persisted
    DataFrames that back the tiers but are not tiers themselves.

    ``unpersist_all()`` releases every cache this cascade registered.
    Round-4 fix: the pre-union 1m moment relation (persisted so the
    emergent turn-rate rollup and the union both read it once) was
    previously persisted but never surfaced to callers — it stayed in
    the session CacheManager after ``tiers.values()`` were unpersisted,
    and because Catalyst cache substitution matches on CANONICAL plans,
    every later query over the same input path silently read the leaked
    cache instead of scanning raw.  That both held executor storage
    memory indefinitely (a real leak at production scale) and made
    rounds 2-3's repeated-run benchmarks time cache-assisted reruns
    (BENCH/BASELINE.md, round-4 note).
    """

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.aux: list[DataFrame] = []

    def unpersist_all(self) -> None:
        for df in self.values():
            df.unpersist()
        for df in self.aux:
            df.unpersist()


def build_all_tiers(series_df: DataFrame, salted: bool = True,
                    include_turn_rate: bool = True,
                    persist: bool = False) -> TierMap:
    """The full cascade: the one pass over raw points (1m
    ``rollup_raw``) through ``compose_tiers``.  Returns TierMap
    {tier: moments DataFrame}.

    ``persist=True`` caches the 1m tier (it is consumed twice: by the
    emergent turn-rate rollup and by the 1h cascade) and the 1h tier
    (consumed by 1d) — the reference's precompute-cache idea
    (``_internal.py:1158-1331``) applied to tiers.  Callers that write
    each tier to storage (plans/manifest.py) should leave this False
    and rely on the written table instead.  Callers that persist MUST
    release with ``tiers.unpersist_all()`` (not just per-tier
    unpersist) — see TierMap."""
    return compose_tiers(rollup_raw(series_df, "1m", salted=salted),
                         include_turn_rate, persist)


def compose_tiers(t1m: DataFrame, include_turn_rate: bool = True,
                  persist: bool = False) -> TierMap:
    """Every tier from the main-branch 1m moment vectors: the emergent
    turn-rate branch, then the 1h/1d cascades.  Shared by the batch
    cascade and the streaming store's merge-on-read (rollup_stream);
    ``persist`` as in ``build_all_tiers``."""
    from pyspark import StorageLevel

    from functools import reduce

    def _union(dfs: list[DataFrame]) -> DataFrame:
        return reduce(lambda a, b: a.unionByName(b), dfs)

    def _persist(df: DataFrame, tiers: TierMap) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        tiers.aux.append(df)
        return df

    # Branch-wise cascade: the main (text_len/tool_flag) branch and the
    # emergent turn-rate branch are rolled up 1h/1d SEPARATELY and only
    # union-ed per tier.  Rationale: a unionByName erases Catalyst's
    # output-partitioning info, so cascading the union would re-shuffle
    # every 1m moment vector even when the input was pre-partitioned by
    # conv_id (derive_series(partition_by=...)); per-branch cascades
    # keep ClusteredDistribution satisfied and the whole raw->1d path
    # needs exactly ONE exchange (audited in tests/test_plan_audits.py).
    tiers = TierMap()
    if persist:
        t1m = _persist(t1m, tiers)
    branches = [t1m]
    if include_turn_rate:
        # rate_1m_projection == rollup_raw(turn_rate_series(t1m), "1m")
        # — identity buckets, see its docstring.  NOT persisted even
        # under persist=True (round 7): the projection re-derives from
        # the cached t1m in ~0.5 s per consumer, far cheaper than
        # building a second 12M-row columnar cache.
        rate = rate_1m_projection(t1m)
        branches.append(rate)
    tiers["1m"] = _union(branches)
    branches_1h = [cascade(b, "1h") for b in branches]
    if persist:
        branches_1h = [_persist(b, tiers) for b in branches_1h]
    tiers["1h"] = _union(branches_1h)
    tiers["1d"] = _union([cascade(b, "1d") for b in branches_1h])
    return tiers
