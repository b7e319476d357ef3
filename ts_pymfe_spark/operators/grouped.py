"""Partition-level grouped map: one ``mapInPandas`` over key-sorted
partitions instead of ``groupBy().applyInPandas``.  Every grouped Python
UDF of the package runs on it: ``series_features`` and ``bootstrap_ci``
(arrow_kernels), ``lttb_downsample`` and ``compress_segments``.

``applyInPandas`` (``FlatMapGroupsInPandas``) builds one pandas frame
and makes one Python call per group.  Here each partition is hashed on
the group keys, sorted by (keys, order), and streamed through a single
``mapInPandas`` call: group boundaries are found with numpy, and
complete groups are handed to ``fn`` in batches of about
``BATCH_ROWS`` input rows, so the UDF boundary is paid per batch, not
per group (CIDR 2022, "Accelerating Python UDFs in Vectorized Query
Execution").  A group that straddles Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch``) is carried into the
next one; a group is never split across two ``fn`` calls.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

#: complete groups are accumulated until they hold at least this many
#: input rows before ``fn`` runs on them (one group larger than this is
#: still passed whole)
BATCH_ROWS = 1 << 16


class _FrozenZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` that keeps the archive directory it has read:
    ``importlib.invalidate_caches()`` no longer re-reads the archive."""

    def invalidate_caches(self):
        pass


def freeze_spark_archives() -> None:
    """Stop ``importlib.invalidate_caches()`` re-reading the archives of
    the Spark installation in this Python worker.

    pyspark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task, and on
    Python 3.11 each ``zipimporter`` in ``sys.path_importer_cache``
    then re-reads its whole archive directory.  A ``local[3]`` worker
    holds 16 of them: 12 into pyspark.zip (the archive and sub-packages
    such as ``pyspark/sql/pandas``), 2 into the spark-core jar (5,359
    entries, no ``.py`` file among them) and 2 into the py4j zip.  One
    call took 0.17–0.30 s in a worker on a 4-core host (one re-read of
    pyspark.zip 8–16 ms, of the jar 27–63 ms, of py4j 0.3 ms), paid by
    every Python task before its kernels start, also on a reused
    worker.

    Every plain ``zipimporter`` outside ``SparkFiles.getRootDirectory()``
    becomes a ``_FrozenZipImporter`` (a class swap: nothing is read).
    Those archives are installation files that do not change while a
    worker runs, so no import result changes; archives shipped with
    ``addPyFile`` live under the root directory and still invalidate.
    Workers are reused (``spark.python.worker.reuse``), so this pays
    off from a worker's second task on; call it at the start of every
    task, where it costs microseconds."""
    from pyspark import SparkFiles

    shipped = os.path.join(SparkFiles.getRootDirectory(), "")
    for path, finder in list(sys.path_importer_cache.items()):
        if (type(finder) is zipimport.zipimporter
                and not path.startswith(shipped)):
            finder.__class__ = _FrozenZipImporter


def group_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Start offsets of the runs of equal keys in a key-sorted frame,
    followed by ``len(pdf)``: group g is rows ``[s[g], s[g+1])``."""
    n = len(pdf)
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for k in keys:
        col = pdf[k].to_numpy()
        change |= col[1:] != col[:-1]
    return np.concatenate([[0], np.flatnonzero(change) + 1, [n]])


def map_sorted_groups(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    fn: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame],
    schema: str | StructType,
    parallelism: int | None = None,
) -> DataFrame:
    """Run ``fn(pdf, starts)`` over batches of complete groups.

    The frame is repartitioned into ``parallelism`` partitions on
    ``keys`` (default 2× defaultParallelism: an explicit numbered
    repartition opts out of AQE's bytes-based coalescing, which is
    wrong for compute-bound Arrow stages — measured: 3 partitions for
    2109 series at local[32], a 10× parallelism collapse) and sorted
    within partitions by ``(*keys, *order)``; that
    sort is the total order the rows of a group reach ``fn`` in, so
    put enough columns in ``order`` to break every tie.  ``pdf`` holds
    whole groups only, ``starts`` is ``group_starts(pdf, keys)``, and
    ``fn`` returns the output rows (columns of ``schema``) of all of
    them.

    Each task starts with ``freeze_spark_archives()``: a reused worker
    then skips pyspark's per-task re-read of Spark's own archives."""
    keys = list(keys)
    batch_rows = BATCH_ROWS  # read here: the closure carries it to workers
    if parallelism is None:
        parallelism = 2 * df.sparkSession.sparkContext.defaultParallelism
    sorted_df = df.repartition(parallelism, *keys).sortWithinPartitions(
        *keys, *order)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        freeze_spark_archives()
        done: list[pd.DataFrame] = []   # complete groups not yet run
        done_rows = 0
        tail: list[pd.DataFrame] = []   # pieces of the group still open
        for pdf in batches:
            if not len(pdf):
                continue
            cuts = group_starts(pdf, keys)[1:-1]
            if tail and any(tail[-1][k].iat[-1] != pdf[k].iat[0]
                            for k in keys):
                cuts = np.concatenate([[0], cuts])
            if not cuts.size:
                tail.append(pdf)
                continue
            done += tail + [pdf.iloc[: cuts[0]], pdf.iloc[cuts[0]: cuts[-1]]]
            done_rows += sum(len(t) for t in tail) + int(cuts[-1])
            tail = [pdf.iloc[cuts[-1]:]]
            if done_rows >= batch_rows:
                yield from _call(fn, done, keys)
                done, done_rows = [], 0
        yield from _call(fn, done + tail, keys)

    return sorted_df.mapInPandas(run, schema)


def _call(fn, frames: list[pd.DataFrame], keys: list[str]):
    frames = [f for f in frames if len(f)]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else (
        frames[0].reset_index(drop=True))
    out = fn(pdf, group_starts(pdf, keys))
    if len(out):
        yield out
