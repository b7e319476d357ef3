"""Event funnel analysis (ClickHouse ``windowFunnel``-style) and
cohort retention, pure Spark SQL.

Engine additions (no reference counterpart): the transcripts/events
side of the workload needs behavioral analytics — "how many sessions
reached view -> click -> purchase within 24 h" and "what fraction of a
signup cohort was still active k days later" — that the reference's
per-series feature extractors never touch.

Funnel semantics (documented, deterministic): events are processed in
``(ts, tiebreak)`` order per key.  The chain is greedy-earliest and
anchored at the first step-1 event:

* ``t1`` = earliest ts matching step 1,
* ``t_k`` = earliest ts matching step k with ``t_k >= t_{k-1}`` and
  ``t_k <= t1 + window``,
* ``depth`` = number of completed steps.

Same-timestamp contract (ADVICE r5): a step-k event whose ts EQUALS
the step-(k-1) completion time is matched only if the ``(ts,
tiebreak)`` sort places it AFTER that completing event — the running
frame is causal, so ``t_{k-1}`` is not yet visible to rows sorted
before it.  With a monotone tiebreak (an ingestion-ordered event id,
as all driver queries use) this is exactly "steps must complete in
arrival order".  Events at strictly later timestamps are always
eligible.

Greedy-earliest is optimal here: taking the earliest eligible event at
every step can only leave more room (never less) for later steps
inside the fixed ``[t1, t1 + window]`` envelope, so ``depth`` equals
the max achievable depth for the anchor-at-first-step-1 convention.

Scale shape: ONE exchange — all three running-min windows and the
final per-key aggregate share the key partitioning (subset-of-group-
keys rule); the windows are running frames (UNBOUNDED PRECEDING ..
CURRENT ROW), never FOLLOWING, so no per-row rescans.  The nested
window expressions are layered as successive projections (Spark
rejects window-inside-window in one select), which Catalyst plans as
consecutive Window nodes over one sort.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def funnel(df: DataFrame, steps: Sequence[Column], key: str = "user_id",
           ts_col: str = "ts", window_s: float = 86400.0,
           tiebreak_col: str | None = None) -> DataFrame:
    """Per-key funnel completion times and depth.

    ``steps`` are boolean Columns (e.g. ``F.col("event_type") ==
    "view"``).  -> (key, t1..tk, depth).
    """
    if not steps:
        raise ValueError("funnel needs at least one step predicate")
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = (Window.partitionBy(key).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ts = F.col(ts_col)
    out = df
    deadline = None  # t1 + window, set after the first step lands
    for i, pred in enumerate(steps, start=1):
        if i == 1:
            cand = F.when(pred, ts)
        else:
            prev = F.col(f"t{i - 1}")
            cand = F.when(
                pred & (ts >= prev) & (ts <= deadline), ts)
        # each running min references the previous one -> new projection
        out = out.withColumn(f"t{i}", F.min(cand).over(w))
        if i == 1:
            deadline = F.col("t1") + F.make_dt_interval(
                secs=F.lit(float(window_s)))
    tcols = [f"t{i}" for i in range(1, len(steps) + 1)]
    # running mins are non-increasing, so min == value at the last row
    agg = [F.min(c).alias(c) for c in tcols]
    depth = F.lit(0)
    for i, c in enumerate(tcols, start=1):
        depth = F.when(F.col(c).isNotNull(), i).otherwise(depth)
    return (out.groupBy(key).agg(*agg)
            .withColumn("depth", depth.cast("int")))


def funnel_counts(df: DataFrame, steps: Sequence[Column],
                  key: str = "user_id", ts_col: str = "ts",
                  window_s: float = 86400.0,
                  tiebreak_col: str | None = None) -> DataFrame:
    """Funnel summary: keys reaching >= each step (classic funnel bar
    chart).  -> (step, n_keys), step 1..k."""
    per_key = funnel(df, steps, key, ts_col, window_s, tiebreak_col)
    k = len(steps)
    return (per_key
            .select(F.explode(F.sequence(F.lit(1), F.lit(k))).alias("step"),
                    F.col("depth"))
            .filter(F.col("depth") >= F.col("step"))
            .groupBy("step").agg(F.count("*").alias("n_keys")))


def transition_matrix(df: DataFrame, key: str = "user_id",
                      ts_col: str = "ts", state_col: str = "event_type",
                      tiebreak_col: str | None = None) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive states of each key's event stream.

    -> (from_state, to_state, n_transitions, prob); prob normalizes
    over each from_state row.

    Scale shape: one exchange by key for the lag window; the
    (from, to) count is a tiny O(states^2) aggregation with map-side
    partials, and the row-normalizing window runs over that matrix,
    not the raw stream.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key).orderBy(*order)
    pairs = (df.select(F.lag(state_col).over(w).alias("from_state"),
                       F.col(state_col).alias("to_state"))
             .filter(F.col("from_state").isNotNull()))
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").cast("long").alias("n_transitions"))
    wrow = Window.partitionBy("from_state")
    return counts.withColumn(
        "prob",
        F.round(F.col("n_transitions")
                / F.sum("n_transitions").over(wrow), 6) + F.lit(0.0))


def cohort_retention(df: DataFrame, key: str = "user_id",
                     ts_col: str = "ts",
                     max_offset_days: int | None = None) -> DataFrame:
    """Classic cohort-retention matrix over an event stream.

    cohort_day = the key's first-ever activity day; one output row per
    (cohort_day, offset_days) with the count of distinct keys from
    that cohort active exactly ``offset_days`` after it.

    -> (cohort_day, offset_days, n_active); offset 0 row carries the
    cohort size.

    Scale shape: one exchange by key (the first-activity window), then
    the per-(key, cohort, offset) dedup reuses that partitioning
    (subset rule) and only the final O(cohorts x offsets) agg
    re-shuffles — count(distinct) never sees raw rows twice.
    """
    day = F.date_trunc("day", F.col(ts_col))
    w = Window.partitionBy(key)
    act = df.select(F.col(key), day.alias("day"))
    act = act.withColumn("cohort_day", F.min("day").over(w))
    act = act.withColumn(
        "offset_days",
        F.datediff(F.col("day"), F.col("cohort_day")).cast("int"))
    if max_offset_days is not None:
        act = act.filter(F.col("offset_days") <= max_offset_days)
    # dedup (key, cohort, offset) first — partitioning by key is a
    # subset of these keys, so this agg is exchange-free
    per_key = act.groupBy(key, "cohort_day", "offset_days").agg(
        F.lit(1).alias("one"))
    return (per_key.groupBy("cohort_day", "offset_days")
            .agg(F.count("*").cast("long").alias("n_active")))


def transition_entropy(df: DataFrame, key: str = "user_id",
                       ts_col: str = "ts", state_col: str = "event_type",
                       tiebreak_col: str | None = None) -> DataFrame:
    """Markov predictability of each key's event stream (late round 6):
    per-key first-order transition entropy rate

        H = - sum_s pi(s) * sum_t p(t|s) * ln p(t|s)

    with pi the empirical from-state frequency — 0 nats for a
    deterministic loop, ln(#states) for uniform hopping.  The per-key
    companion of ``transition_matrix``'s corpus view: "whose behavior
    is predictable", the engagement-segmentation feature.

    -> (key, n_transitions, n_states, entropy_nats, max_entropy_nats,
    predictability); keys with < 2 events emit no row (no transition
    to measure).  ``n_states`` counts distinct states over BOTH
    transition endpoints; ``predictability`` = 1 - H / ln(n_states),
    1.0 by convention when n_states = 1 (a single looping state is
    perfectly predictable; H = 0 there, and H <= ln(n_states) always
    since every out-distribution lives on the observed state set).

    Numerics: p(t|s) and pi(s) are ratios of exact counts; each term
    is one IEEE division + ln, summed over at most states^2 addends —
    6-dp rounding absorbs summation order.

    Scale shape: ONE exchange — the lag window partitions by ``key``;
    the (key, from, to) pre-aggregation and both window totals reuse
    that partitioning (subset rule); the entropy reduction runs over
    O(states^2) rows per key, never the raw stream.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key).orderBy(*order)
    pairs = (df.select(F.col(key),
                       F.lag(state_col).over(w).alias("_from"),
                       F.col(state_col).alias("_to"))
             .filter(F.col("_from").isNotNull()))
    cell = pairs.groupBy(key, "_from", "_to").agg(
        F.count("*").alias("_c"))
    wk = Window.partitionBy(key)
    wks = Window.partitionBy(key, "_from")
    tot = (cell
           .withColumn("_n", F.sum("_c").over(wk))
           .withColumn("_ns", F.sum("_c").over(wks)))
    # pi(s)·p(t|s) == c/n, so each addend simplifies to (c/n)·ln p(t|s)
    p = F.col("_c").cast("double") / F.col("_ns")
    addend = (F.col("_c").cast("double") / F.col("_n")) * F.log(p)
    agg = tot.groupBy(key).agg(
        F.max("_n").cast("long").alias("n_transitions"),
        F.size(F.array_distinct(F.flatten(
            F.collect_set(F.array("_from", "_to"))))).alias("n_states"),
        (-F.sum(addend)).alias("_h"))
    one = F.col("n_states") == 1
    hmax = F.log(F.col("n_states").cast("double"))
    return agg.select(
        F.col(key), "n_transitions", "n_states",
        (F.round(F.col("_h"), 6) + F.lit(0.0)).alias("entropy_nats"),
        (F.round(hmax, 6) + F.lit(0.0)).alias("max_entropy_nats"),
        (F.round(F.when(one, F.lit(1.0))
                 .otherwise(F.lit(1.0) - F.col("_h") / hmax), 6)
         + F.lit(0.0)).alias("predictability"))


def event_paths_topk(df: DataFrame, n: int = 3, k: int = 20,
                     key: str = "user_id", ts_col: str = "ts",
                     state_col: str = "event_type",
                     tiebreak_col: str | None = None) -> DataFrame:
    """Corpus-wide top-k length-``n`` event paths (late round 6): the
    most common consecutive event-type sequences across all keys —
    "what do users actually do", the n-gram generalization of
    ``transition_matrix`` (n = 2) along the behavioral axis instead of
    the token axis (textpipe.ngram_topk).

    -> (path 'a>b>c', total_count, n_keys), k rows, ties deterministic
    (count desc, path asc).

    Scale shape: ONE key-partitioned exchange feeds the lag windows;
    the (path, key) pre-aggregation reuses it (subset rule), the
    per-path reduction shuffles already-reduced rows, and the final
    top-k is TakeOrdered (each partition keeps k) — the ngram_topk
    two-stage shape, no Expand.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key).orderBy(*order)
    lags = [F.lag(state_col, n - 1 - i).over(w) for i in range(n - 1)]
    path = F.concat_ws(">", *lags, F.col(state_col))
    # Require EVERY position non-null (round-6 ADVICE): concat_ws
    # silently drops NULLs, so checking only the longest lag would
    # collapse 'a>NULL>c' to 'a>c' and diverge from the oracle's
    # NULL-propagating || concatenation when state_col has NULLs.
    full = reduce(lambda a, b: a & b,
                  [c.isNotNull() for c in lags + [F.col(state_col)]])
    rows = (df.select(F.col(key), path.alias("path"),
                      full.alias("_full"))
            .where(F.col("_full")))
    per_key = rows.groupBy("path", key).agg(F.count("*").alias("_c"))
    return (per_key.groupBy("path")
            .agg(F.sum("_c").cast("long").alias("total_count"),
                 F.count("*").cast("long").alias("n_keys"))
            .orderBy(F.desc("total_count"), F.asc("path"))
            .limit(k))
