"""SparkSession factory tuned for the rollup engine.

Local mode is a 1-JVM proxy for a multi-executor cluster; every conf
below is chosen so the same code scales: AQE re-plans skewed shuffles
at runtime, Arrow batches bound pandas-UDF memory, and shuffle
partition count tracks parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of shuffle partitions is sized to cores locally; on a real
# cluster you would size it to 2-3x total executor cores and let AQE
# coalesce (spark.sql.adaptive.coalescePartitions.enabled) shrink it.
# Defaults fit the host; SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM
# override them.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else min(16g, half of physical memory):
    a flat 16g driver heap would overcommit a host with 16 GB of RAM
    or less."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{min(16384, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return "16g"


def get_spark(
    app_name: str = "ts_pymfe_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Scale notes (100 TB / 1000-executor design intent):
      - AQE on: runtime skew-join splitting + partition coalescing; hot
        conversations (Zipf skew, FIXTURES.md) are additionally salted
        at the operator level (operators/rollup.py) so no single task
        receives a 10^4x partition.
      - ``files.maxPartitionBytes`` 128m keeps scan tasks bounded so a
        100 TB scan becomes ~800k well-sized tasks, not a few huge ones.
      - Arrow batch size bounds per-UDF-invocation memory so grouped
        kernels stream series through workers instead of materializing
        a whole partition.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # Pin BLAS to one thread per Python worker: Spark already provides
    # the process-level parallelism (one worker per task slot); letting
    # OpenBLAS additionally spawn ncpu threads per worker oversubscribes
    # cores quadratically and ANTI-scales the Arrow-kernel path
    # (measured: 8-core feature job slower than 2-core before this pin).
    # The workers get it from spark.executorEnv.* below.  The driver's
    # own BLAS reads these variables only when numpy first loads, which
    # ``import pyspark.sql`` (above) has normally done already, so the
    # setdefault here does not reach it: a driver that must round like
    # the workers (gemv splits work per thread) sets them before
    # importing numpy, as tests/conftest.py does.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Write timestamps as TIMESTAMP_MICROS, not the deprecated
        # INT96: INT96 columns carry NO parquet min/max statistics, so
        # row-group pruning on bucket_start never fires and footer-
        # based retention (streaming/rollup_stream.apply_stream_
        # retention) cannot see batch time ranges.  Micros is also
        # what Iceberg mandates, keeping the stand-in swap-compatible.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
