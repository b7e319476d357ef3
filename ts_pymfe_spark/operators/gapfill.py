"""Gap-fill: calendar grid + as-of carry-forward + linear interpolation.

Engine addition mandated by the north rule (the reference has no
irregular time — its series are dense integer-indexed arrays,
``_internal.py:1334-1364``; SURVEY §2.2 marks as-of joins "absent").

Pattern (all native SQL — no Python, no per-row UDF):

  1. grid: per (conv_id, series), ``sequence(min_bucket, max_bucket,
     interval)`` exploded -> one row per expected bucket.  This is a
     per-key range generator: no shuffle beyond the groupBy that
     computes the span, and the explode is narrow.
  2. LEFT JOIN observed buckets on (conv_id, series, bucket_start).
  3. as-of carry-forward: ``last(value, ignoreNulls=True) OVER
     (... ROWS UNBOUNDED PRECEDING)`` — the classic LOCF as-of join.
  4. linear interpolation: bracket each missing bucket with the
     previous/next observed (ts, value) via ignoreNulls last/first
     windows, then lerp.

Scale: the join key includes bucket_start, so Spark hash-partitions on
high-cardinality (conv, series, bucket) — no hot key even for Zipf-head
conversations; AQE coalesces the small side.  Grid explosion is bounded
by span/interval; a retention-tier engine only gap-fills within each
tier's retention window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["conv_id", "series"]


def gapfill(buckets: DataFrame, step_seconds: int, value: str = "v",
            method: str = "interp") -> DataFrame:
    """Fill missing buckets of a tier table.

    ``buckets``: (conv_id, series, bucket_start, <value>) — e.g. a tier
    rollup projected to one statistic.
    ``method``: 'locf' (carry-forward) | 'interp' (linear between
    bracketing observations; LOCF after the last).

    Returns (conv_id, series, bucket_start, value, is_gap).
    """
    step = F.expr(f"interval {step_seconds} seconds")
    span = buckets.groupBy(*KEY).agg(
        F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi")
    )
    grid = span.select(
        *KEY,
        F.explode(F.sequence("_lo", "_hi", step)).alias("bucket_start"),
    )
    joined = grid.join(
        buckets.select(*KEY, "bucket_start", F.col(value).alias("_obs")),
        on=[*KEY, "bucket_start"],
        how="left",
    )

    # Both frames are running (UNBOUNDED PRECEDING .. CURRENT ROW) frames:
    # Spark evaluates those incrementally in O(n) per partition, while an
    # UNBOUNDED FOLLOWING frame re-scans the tail per row — O(n²), which
    # at one month of 1-minute grid per conversation (43k buckets) turns
    # a seconds-long job into hours.  "next observation" is therefore the
    # running last() under DESCENDING order.
    w_prev = (
        Window.partitionBy(*KEY)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*KEY)
        .orderBy(F.col("bucket_start").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    prev_v = F.last("_obs", ignorenulls=True).over(w_prev)
    obs_ts = F.when(F.col("_obs").isNotNull(), F.col("bucket_start"))
    joined = joined.withColumn("_obs_ts", obs_ts)
    prev_t = F.last("_obs_ts", ignorenulls=True).over(w_prev)
    next_v = F.last("_obs", ignorenulls=True).over(w_next)
    next_t = F.last("_obs_ts", ignorenulls=True).over(w_next)

    if method == "locf":
        filled = prev_v
    elif method == "interp":
        dt_total = F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)
        dt_here = F.unix_timestamp("bucket_start") - F.unix_timestamp(prev_t)
        lerp = prev_v + (next_v - prev_v) * dt_here / dt_total
        filled = (
            F.when(F.col("_obs").isNotNull(), F.col("_obs"))
            .when(next_t.isNull(), prev_v)          # after last obs: LOCF
            .otherwise(lerp)
        )
    else:
        raise ValueError(method)

    return joined.select(
        *KEY,
        "bucket_start",
        filled.alias("value"),
        F.col("_obs").isNull().alias("is_gap"),
    )


def gapfill_agg(buckets: DataFrame, step_seconds: int,
                value: str = "v", method: str = "interp") -> DataFrame:
    """Fill-aware aggregation: per-key totals over the *filled* grid,
    computed from the O(sparse) observed rows without generating it.

    Value-equal to ``gapfill(...)`` followed by::

        .groupBy(*KEY).agg(count(*), sum(is_gap), sum(value))

    but O(observed) instead of O(span/step) — the grid only exists to
    be summed, and the linear interpolation over a gap of ``m`` missing
    buckets between observations ``(v0, v1)`` has the closed form
    ``sum_{k=1..m} v0 + (v1-v0)*k/(m+1) = m*(v0+v1)/2`` (trapezoid).
    The grid spans [min_bucket, max_bucket] of the *observed* rows, so
    every gap is interior (bracketed) and the LOCF tail never fires.
    Assumes grid-aligned buckets (every bucket_start a whole multiple
    of ``step_seconds`` apart — true for any tier table, whose buckets
    are date_trunc'd), same as gapfill()'s LEFT JOIN, which silently
    drops off-grid observations.

    Preconditions, not checked: ``value`` is non-NULL on every row, and
    ``(conv_id, series, bucket_start)`` is unique.  A NULL observation
    drops out of the sum together with the interpolated gaps on both
    sides of it; a duplicate bucket adds an ``m = -1`` term and counts
    twice in ``count(*)``.  Either way the totals no longer equal the
    filled grid's.

    Returns (conv_id, series, n_buckets, n_gaps, total) with ``total``
    the un-rounded double sum of filled values.  The closed form is
    value-equal, not bit-identical, to summing the per-bucket lerps, so
    a total rounded to 3 dp that sits a few ulps from a .0005 boundary
    can round the other way.
    """
    if method != "interp":
        raise ValueError(method)
    w = Window.partitionBy(*KEY).orderBy("bucket_start")
    d = (
        buckets.select(*KEY, "bucket_start", F.col(value).alias("_v"))
        .withColumn("_t", F.unix_timestamp("bucket_start"))
        .withColumn("_pt", F.lag("_t").over(w))
        .withColumn("_pv", F.lag("_v").over(w))
    )
    # missing buckets between this observation and the previous one
    m = (F.col("_t") - F.col("_pt")) / F.lit(step_seconds) - 1
    contrib = F.col("_v") + F.coalesce(
        m * (F.col("_pv") + F.col("_v")) / F.lit(2.0), F.lit(0.0)
    )
    # The groupBy keys equal the window partition keys, so the final
    # aggregation reuses the window's hash partitioning — no second
    # exchange (guide §2.4).
    return d.groupBy(*KEY).agg(
        ((F.max("_t") - F.min("_t")) / F.lit(step_seconds) + 1)
        .cast("long").alias("n_buckets"),
        (
            (F.max("_t") - F.min("_t")) / F.lit(step_seconds) + 1
            - F.count("*")
        ).cast("long").alias("n_gaps"),
        F.sum(contrib).alias("total"),
    )
