"""Transcript table -> per-conversation derived series (long format).

The reference consumes one 1-D float array (``_internal.py:1334-1364``).
Our input is the transcript table ``(conv_id, turn_idx, role, text,
tool, ts)``; the engine derives the per-conversation series the north
rule names:

  - ``text_len``  — length(text) per turn (a per-event value series)
  - ``tool_flag`` — 1.0 when the turn invoked a tool else 0.0 (its
                    bucket sums are the tool-invocation counts)
  - ``turn_rate`` — turns per time bucket (emerges as the rollup's
                    ``n`` column; see operators/rollup.py)

Long format ``(conv_id, series, turn_idx, ts, value)`` keeps every
downstream operator generic: one Window spec / one groupBy serves all
series, and adding a series is a row-space change, not a schema change
(the 100 TB-friendly choice — no wide-table rewrite to add a metric).

All expressions are native Column ops -> whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: value series derived 1:1 from turns (turn_rate is rollup-emergent):
#: name -> its Column (built on call: a Column needs an active session)
_SERIES = {
    "text_len": lambda: F.length("text").cast("double"),
    "tool_flag": lambda: F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0),
}
TURN_SERIES = tuple(_SERIES)


def derive_series(turns: DataFrame,
                  partition_by: tuple[str, ...] | None = None,
                  partitions: int | None = None) -> DataFrame:
    """(conv_id, series, turn_idx, ts, value) — one row per turn per series.

    ``stack`` (UNPIVOT) is a narrow transformation: no shuffle, fully
    pushed into the scan projection (only text-length and tool nullity
    are read; Catalyst prunes role/text bytes at the parquet reader
    when upstream allows).

    ``partition_by`` (typically ``("conv_id",)``): hash-repartition the
    PROJECTED pre-stack rows by these columns.  This is the cascade's
    single-shuffle design (round 4): because ``conv_id`` is a subset of
    every downstream group key — (conv_id, series, bucket) at 1m, 1h,
    1d, and the turn-rate re-rollup — Catalyst's ClusteredDistribution
    is satisfied by this one HashPartitioning and NO further exchange
    appears anywhere in the tier cascade.  Shuffling here moves one
    slim row per turn (text bytes already projected away); shuffling at
    the aggregates instead moves a 13-field moment vector per
    near-unique (conv, series, minute) key — measured 3.9 GB vs 0.4 GB
    at SF=1 (sparse series: only ~2.9 raw rows per 1m bucket, so
    map-side partials EXPAND the data instead of reducing it).
    Conversation-level skew is bounded (the Zipf-head conversation is
    ~0.2% of rows — FIXTURES.md), and ``partitions`` should be set to
    2-4x total cores so no core idles; pass None to let AQE size it.
    """
    base = turns.select(
        "conv_id",
        "turn_idx",
        "ts",
        *[col().alias(name) for name, col in _SERIES.items()],
    )
    if partition_by:
        if partitions:
            base = base.repartition(partitions, *partition_by)
        else:
            base = base.repartition(*partition_by)
    n = len(TURN_SERIES)
    stack_expr = ", ".join(f"'{s}', {s}" for s in TURN_SERIES)
    return base.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.expr(f"stack({n}, {stack_expr}) as (series, value)"),
    )


def series_of(turns: DataFrame, series: str) -> DataFrame:
    """Single derived series as (conv_id, turn_idx, ts, value)."""
    if series not in _SERIES:
        raise ValueError(f"unknown turn-level series: {series}")
    return turns.select("conv_id", "turn_idx", "ts",
                        _SERIES[series]().alias("value"))
