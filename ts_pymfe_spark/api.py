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
7; the kernel holds each feature's full value array already), which
emits the final named rows in name order, so no projection or sort
runs after it — so a 1000-executor cluster extracts ~10^6
conversations concurrently with exactly one shuffle.  The bootstrap-CI
path runs on the same runner (``arrow_kernels.bootstrap_ci``),
reducing the resamples to CI rows in the worker: also one shuffle.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame

from ts_pymfe_spark.functions.summaries import DEFAULT_SUMMARIES
from ts_pymfe_spark.operators.arrow_kernels import (
    FEATURE_KERNELS,
    SEEDED_FEATURE_KERNELS,
    bootstrap_ci,
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
        # The kernel holds each feature's complete value array for its
        # group, so it emits the named summary rows itself, already in
        # (conv_id, series, name) order within each partition: the
        # reference sorts a driver-local Python list (tsmfe.py:941-947),
        # and a global orderBy here would be a full extra range-shuffle
        # at 10^6 conversations; consumers key by (conv_id, name)
        # anyway.  wall_ms is constant per (conv, series, feature) and
        # stamps every summary row.
        return series_features(
            series_df, features=self.features, max_points=self.max_points,
            measure_time=measure_time, summaries=self.summaries,
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
        iid-with-replacement resamples per series, each fully extracted
        and summarized, then per-(conv, name) percentile CIs.

        Returns (conv_id, series, name, value, ci_low, ci_high,
        n_resamples).  NaN resample values are dropped: ``value`` is
        the mean of the others (reference ``return_avg_val=True``),
        ``ci_low``/``ci_high`` their Spark ``percentile`` at
        [α/2, 1−α/2], and ``n_resamples`` their count; a name whose
        resamples are all NaN has NULL ``value``/``ci_*`` and
        ``n_resamples`` 0.  This is the contract the former Spark
        aggregate had in practice: pandas→Arrow turns a NaN into NULL,
        which ``avg``/``percentile``/``count`` skip.  The reference
        instead takes a non-nan-aware quantile (tsmfe.py:1232-1236), so
        one NaN resample makes its CI NaN.

        One shuffle and one ``mapInPandas``
        (``arrow_kernels.bootstrap_ci``): the resample loop, the
        summaries and the CI reduction all run in the worker that holds
        the series, so the sample_num× fan-out never touches the
        network."""
        return bootstrap_ci(
            series_df, features=self.features, summaries=self.summaries,
            sample_num=sample_num, confidence=confidence,
            max_points=self.max_points, base_seed=base_seed,
        )

    def extract_turns(self, turns_df: DataFrame) -> DataFrame:
        """Transcript table (input_hint schema) -> features for every
        derived series (text_len, tool_flag)."""
        return self.extract(derive_series(turns_df))
