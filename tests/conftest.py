from __future__ import annotations

import os

# One BLAS thread on the driver, as session.get_spark gives the Python
# workers: OpenBLAS reads this only when numpy first loads it, which
# the imports below do (pyspark.sql imports numpy).
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import pytest  # noqa: E402

from ts_pymfe_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ts_pymfe_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def turns(spark):
    from ts_pymfe_spark.synth import gen_turns

    df = gen_turns(spark, 0.001).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def turns_pdf():
    from ts_pymfe_spark.synth import gen_turns_pandas

    return gen_turns_pandas(0.001)
