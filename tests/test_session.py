"""Session defaults fit the host unless the environment overrides them."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from ts_pymfe_spark import session


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"


def test_driver_memory_default_is_capped_half_of_ram(monkeypatch):
    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo: the default is a flat 16g")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = session.default_driver_memory()
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    assert mem == f"{min(16384, total_kb // 2048)}m"


def _default_cpus(env_cpus):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_cpus is not None:
        env["SPARK_GRAFT_CPUS"] = env_cpus
    out = subprocess.run(
        [sys.executable, "-c",
         "from ts_pymfe_spark.session import DEFAULT_CPUS; print(DEFAULT_CPUS)"],
        env=env, capture_output=True, text=True, check=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    return int(out.stdout)


def test_default_cpus_is_host_cores_unless_overridden():
    assert _default_cpus(None) == os.cpu_count()
    assert _default_cpus("3") == 3


def test_driver_blas_rounds_like_the_workers(spark):
    """The pytest driver runs OpenBLAS with the workers' one thread
    (conftest sets the variables before numpy loads): a gemv of the
    STL band operator's edge-block shape, whose rounding depends on
    the thread count at these sizes, is bitwise equal on the driver
    and in a mapInPandas worker."""
    import numpy as np
    import pandas as pd

    from ts_pymfe_spark.functions.kernels import _band_operator

    def products():
        rng = np.random.default_rng(7)
        out = []
        for n, q in ((512, 253), (456, 201), (700, 411)):
            op = _band_operator(n, q)
            qe = op.shape[1]
            y = rng.lognormal(3, 1, n)
            out.append((op[: (qe - 1) // 2] @ y[:qe]).tobytes().hex())
        return out

    def in_worker(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"hex": products()})

    got = spark.range(1, numPartitions=1).mapInPandas(
        in_worker, "hex string").toPandas()
    assert list(got.hex) == products()
