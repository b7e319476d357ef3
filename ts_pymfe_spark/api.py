"""TSMFESpark — the reference-parity extraction API, Spark-first.

Reference lifecycle (``tsmfe.py``: TSMFE().fit(ts).extract() -> sorted
(name, value) lists, SURVEY §3.1) recast over DataFrames: one call
extracts every requested feature for EVERY conversation series in the
table at once, returning a long result relation instead of Python
lists.

    >>> eng = TSMFESpark(features="all", summaries=("mean", "sd"))
    >>> res = eng.extract(series_df)        # or .extract_turns(turns_df)
    >>> res.columns
    ['conv_id', 'series', 'name', 'value']

``name`` follows the reference naming contract ``feature.summary[.idx]``
(tsmfe.py:427-438), sorted lexicographically per series
(tsmfe.py:941-947).  Scalar features keep their bare name.

Execution: the whole extraction is ONE Arrow stage — the
``series_features`` kernels (operators/arrow_kernels.py) on one
partition-level ``mapInPandas`` runner over key-sorted partitions,
with the per-feature summaries fused into the same kernel call (round
7; the kernel holds each feature's full value array already) — so a
1000-executor cluster extracts ~10^6 conversations concurrently with
exactly one shuffle.  The bootstrap-CI path keeps the separate
``groupBy(conv, feature, resample).applyInPandas`` summary stage.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_pymfe_spark.functions.summaries import DEFAULT_SUMMARIES, summarize
from ts_pymfe_spark.operators.arrow_kernels import (
    FEATURE_KERNELS,
    SEEDED_FEATURE_KERNELS,
    series_features,
)
from ts_pymfe_spark.operators.derive import derive_series


class TSMFESpark:
    """Distributed meta-feature extractor (reference: ``TSMFE``,
    tsmfe.py:44-312).

    Parameters
    ----------
    features : "all" | iterable of names
        Kernel names from operators/arrow_kernels.py (reference ft_*
        counterparts cited there).  Invalid names raise, mirroring the
        reference's group validation (``_internal.py:755-867``).
    summaries : iterable of names
        From functions/summaries.py (32 available; reference default
        ("mean","sd"), tsmfe.py:48).
    max_points : int
        Per-series tail cap (reference test truncation, test_a.py:27).
    """

    def __init__(self, features: str | Iterable[str] = "all",
                 summaries: Iterable[str] = DEFAULT_SUMMARIES,
                 max_points: int = 512) -> None:
        if features == "all":
            self.features = None
        else:
            self.features = list(features)
        self.summaries = tuple(summaries)
        self.max_points = max_points

    def valid_features(self) -> list[str]:
        return sorted(list(FEATURE_KERNELS) + list(SEEDED_FEATURE_KERNELS))

    def extract(self, series_df: DataFrame,
                measure_time: bool = False) -> DataFrame:
        """(conv_id[, series], turn_idx, value) ->
        (conv_id, series, name, value[, wall_ms]).

        ``measure_time``: adds per-feature kernel wall-clock
        (reference ``measure_time`` option, tsmfe.py:128-165 /
        _internal.timeit:1422-1442 — 'total' semantics: rows of one
        feature's summaries share the feature's kernel time).  A
        feature that runs batched over same-length series
        (``BATCHED_FEATURE_KERNELS``) stamps each of them with the
        batch's wall divided by the batch size."""
        # Fused summary stage (round 7): the kernel holds each
        # feature's complete value array for its group, so it emits
        # the summary rows directly — value-equal to the former
        # separate summarize() stage (same summarize_array, same
        # scalar pass-through) while deleting one exchange and one
        # grouped-map Python pass of ~6x-group-count tiny groups.
        # measure_time rides along as before: wall_ms is constant per
        # (conv, series, feature) and stamps every summary row.
        summ = series_features(
            series_df, features=self.features, max_points=self.max_points,
            measure_time=measure_time, summaries=self.summaries,
        )
        name = F.when(F.col("summary") == "", F.col("feature")).otherwise(
            F.concat_ws(".", "feature", "summary")
        )
        # The reference sorts a driver-local Python list (tsmfe.py:941-947);
        # a global orderBy here would be a full extra range-shuffle at
        # 10^6 conversations.  sortWithinPartitions preserves the naming
        # contract per partition with zero exchanges; consumers key by
        # (conv_id, name) anyway.
        cols = ["conv_id", "series", name.alias("name"), "value"]
        if measure_time:
            cols.append("wall_ms")
        return summ.select(*cols).sortWithinPartitions(
            "conv_id", "series", "name"
        )

    def extract_with_confidence(
        self,
        series_df: DataFrame,
        sample_num: int = 128,
        confidence: float = 0.95,
        base_seed: int = 1234,
    ) -> DataFrame:
        """Bootstrap confidence intervals per meta-feature (reference
        ``extract_with_confidence``, tsmfe.py:1079-1248): ``sample_num``
        iid-with-replacement resamples per series, each fully extracted,
        then per-(conv, name) percentile CIs.

        Returns (conv_id, series, name, value, ci_low, ci_high,
        n_resamples): ``value`` = nanmean over resamples (reference
        ``return_avg_val=True``); CI bounds = the [α/2, 1−α/2]
        linear-interpolated quantiles, NaN when any resample produced
        NaN (np.quantile propagation — reference uses the non-nan-aware
        quantile, tsmfe.py:1232-1236).

        One shuffle for extraction (resample loop runs in-worker), one
        for the summary stage, one final partial-aggregated reduction —
        the sample_num× compute fan-out never touches the network."""
        from ts_pymfe_spark.operators.arrow_kernels import (
            bootstrap_series_features,
        )

        lo = 0.5 * (1.0 - confidence)
        feats = bootstrap_series_features(
            series_df, features=self.features, sample_num=sample_num,
            max_points=self.max_points, base_seed=base_seed,
        )
        summ = summarize(feats, self.summaries, extra_keys=("resample",))
        name = F.when(F.col("summary") == "", F.col("feature")).otherwise(
            F.concat_ws(".", "feature", "summary")
        )
        per = summ.select(
            "conv_id", "series", name.alias("name"),
            F.col("value"),
            F.when(F.isnan("value"), None).otherwise(F.col("value"))
            .alias("_v"),
        )
        nan_lit = F.lit(float("nan"))
        agg = per.groupBy("conv_id", "series", "name").agg(
            F.avg("_v").alias("value"),               # nanmean
            F.max(F.isnan("value")).alias("_any_nan"),
            F.percentile("_v", F.lit(lo)).alias("_lo"),
            F.percentile("_v", F.lit(1.0 - lo)).alias("_hi"),
            F.count("value").alias("n_resamples"),
        )
        return agg.select(
            "conv_id", "series", "name", "value",
            F.when(F.col("_any_nan"), nan_lit).otherwise(F.col("_lo"))
            .alias("ci_low"),
            F.when(F.col("_any_nan"), nan_lit).otherwise(F.col("_hi"))
            .alias("ci_high"),
            "n_resamples",
        )

    def extract_turns(self, turns_df: DataFrame) -> DataFrame:
        """Transcript table (input_hint schema) -> features for every
        derived series (text_len, tool_flag)."""
        return self.extract(derive_series(turns_df))
