"""The partition-level runner pins the zip importers of Spark's own
archives in its Python workers (``grouped.freeze_spark_archives``), and
leaves the archives shipped with ``addPyFile`` invalidating as before."""

from __future__ import annotations

import uuid
import zipfile

import pandas as pd

from ts_pymfe_spark.operators import grouped


def _run_stage(spark, fn, schema):
    """One map_sorted_groups stage over 4 tiny groups on one
    partition; ``fn`` runs in the worker and returns its report (a
    nested function: the workers cannot import this test module)."""
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b", "c", "d"], "t": range(5)}),
        "k string, t long")
    return grouped.map_sorted_groups(
        df, ["k"], ["t"], lambda pdf, starts: fn(), schema, 1).toPandas()


def _importer_report():
    """A worker-side report (nested, so it pickles by value) of every
    zip importer outside the SparkFiles root and of the time one
    importlib.invalidate_caches() takes there."""

    def report():
        import importlib
        import sys
        import time
        import zipimport

        from pyspark import SparkFiles

        root = SparkFiles.getRootDirectory()
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        rows = [(path, type(finder).__name__, ms)
                for path, finder in sys.path_importer_cache.items()
                if isinstance(finder, zipimport.zipimporter)
                and not path.startswith(root)]
        return pd.DataFrame(rows, columns=["path", "kind", "ms"])

    return report


def test_runner_freezes_spark_archives(spark):
    """After one runner stage, a second one sees every zip importer
    outside the SparkFiles root as the frozen type; the cost of
    importlib.invalidate_caches() there is reported, not asserted."""
    schema = "path string, kind string, ms double"
    _run_stage(spark, _importer_report(), schema)
    got = _run_stage(spark, _importer_report(), schema)
    assert len(got), "the worker imports Spark from its archives"
    assert set(got.kind) == {"_FrozenZipImporter"}, got
    print(f"invalidate_caches in a runner task: {got.ms.max():.2f} ms "
          f"over {len(got)} zip importers")


def test_add_py_file_zip_still_invalidates(spark, tmp_path):
    """A zip shipped with addPyFile after a runner stage is importable
    in later runner stages, and the freeze leaves its importer a plain
    zipimporter (it lives under the SparkFiles root)."""
    _run_stage(spark, _importer_report(), "path string, kind string, ms double")
    mod = f"shipped_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def shipped_report():
        import importlib
        import sys

        value = importlib.import_module(mod).VALUE
        grouped.freeze_spark_archives()
        kinds = {type(finder).__name__
                 for p, finder in sys.path_importer_cache.items()
                 if p.endswith(f"{mod}.zip")}
        return pd.DataFrame({"value": [value], "kinds": [str(sorted(kinds))]})

    for _ in range(2):
        got = _run_stage(spark, shipped_report, "value long, kinds string")
        assert list(got.value) == [42]
        assert list(got.kinds) == ["['zipimporter']"]
