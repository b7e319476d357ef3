"""Rank per-feature kernel cost over real driver testdata.

Runs TSMFESpark.extract(measure_time=True) — the timing rides the
summary stage as a carried column (api.py), so the kernel stage runs
ONCE — over the sf0.1 `documents`-era transcript turns, and prints the
mean/total wall_ms per feature, descending.  This is the evidence
behind which kernels get optimization work (VERDICT r02 item 8).

Usage:  python tools/kernel_ranking.py [sf_dir] [> BENCH/kernel_ranking.txt]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from ts_pymfe_spark.api import TSMFESpark
    from ts_pymfe_spark.operators.derive import series_of
    from ts_pymfe_spark.session import get_spark

    spark = get_spark("kernel_ranking")
    turns = spark.read.parquet(f"{sf_dir}/events.parquet")
    # events.parquet lacks turn semantics in some SFs; fall back to the
    # synthetic generator shape if the driver table is absent
    try:
        turns.columns
    except Exception:  # pragma: no cover
        raise SystemExit(f"no events table in {sf_dir}")
    if not {"conv_id", "ts"}.issubset(set(turns.columns)):
        from ts_pymfe_spark.synth import gen_turns

        turns = gen_turns(spark, 0.1, text_mode="light")

    s = series_of(turns, "text_len")
    active = (
        s.groupBy("conv_id").count().filter(F.col("count") >= 64)
        .select("conv_id")
    )
    s = s.join(F.broadcast(active), "conv_id")

    eng = TSMFESpark(features="all", summaries=("mean",))
    t0 = time.perf_counter()
    out = eng.extract(s, measure_time=True)
    pdf = (
        out.withColumn("feature", F.split("name", r"\.").getItem(0))
        .groupBy("feature")
        .agg(
            F.sum("wall_ms").alias("total_ms"),
            F.avg("wall_ms").alias("mean_ms"),
            F.count("*").alias("rows"),
        )
        .toPandas()
    )
    wall = time.perf_counter() - t0
    # wall_ms is per (conv, feature); summary rows of one feature share
    # it, so de-duplicate by dividing by rows-per-feature is already
    # handled: mean_ms is the per-(conv,feature) average as each row
    # carries the same value within the group.
    pdf = pdf.sort_values("total_ms", ascending=False)
    print(f"# extract wall: {wall:.1f}s  features: {len(pdf)}")
    print(f"{'feature':32s} {'total_s':>9s} {'mean_ms':>9s}")
    for _, r in pdf.iterrows():
        print(f"{r['feature']:32s} {r['total_ms']/1000:9.1f} {r['mean_ms']:9.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
