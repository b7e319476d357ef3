"""Production drift-monitoring job: events -> data-health report
tables + mergeable count-min frequency store, the drift-half companion
of jobs/analytics_report.py.

Run form (north rule — package surface via spark-submit --py-files):

    cd /root/repo && zip -qr /tmp/engine.zip ts_pymfe_spark
    spark-submit --py-files /tmp/engine.zip jobs/drift_report.py \
        --input /path/to/events_parquet --output /path/to/report \
        [--cpus 8] [--split-epoch 1704067200] [--bins 10]

Population split: rows with ``epoch(ts) < --split-epoch`` form the
BASELINE, the rest the CURRENT population (omit the flag and the job
splits at the observed midpoint — computed once, one scalar agg).
Writes under ``--output``:

* ``ks_drift/ psi_drift/``  two-sample KS and PSI per event_type
* ``daily_health/``         per-day column health + day-over-day
                            deltas (the alerting table)
* ``daily_quantiles/``      per-day exact p50/p95 + deltas (tail view)
* ``benford/``              first-digit chi-square screen per
                            event_type
* ``predictability/``       per-user Markov transition entropy
* ``cms_counters/``         d x w count-min counter table (the
                            MERGEABLE artifact — re-runs sum-merge;
                            any later candidate set gets frequency
                            estimates without re-scanning events)
* ``heavy_hitters/``        top user_ids by count-min estimate

Scan economics: ks is one exchange of its raw projection; psi and
daily health are reductions of mergeable stores (drift cells, health
partials), so their shuffles carry (key, cell) counts and (day,
column) partials, never raw rows — psi's extra scan is the tiny
baseline-bounds aggregate it broadcasts.  The CMS pass is one more
scan whose shuffle is O(d*w) regardless of row count.  Report tables
never read each other.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="events parquet path")
    ap.add_argument("--output", required=True, help="report root")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--split-epoch", type=float, default=None,
                    help="baseline/current boundary (epoch seconds); "
                         "default = observed midpoint")
    ap.add_argument("--bins", type=int, default=10)
    ap.add_argument("--topk", type=int, default=50)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ts_pymfe_spark.operators.drift import (benford_deviation,
                                                daily_drift,
                                                daily_quantile_drift,
                                                ks_drift, psi_drift)
    from ts_pymfe_spark.operators.funnel import transition_entropy
    from ts_pymfe_spark.operators.sketches import (cms_estimate,
                                                   cms_sketch)
    from ts_pymfe_spark.session import get_spark

    spark = get_spark("drift-report", cpus=args.cpus)
    out = args.output.rstrip("/")
    ev = spark.read.parquet(args.input)

    # timestamp -> epoch seconds via the two-step cast (TIMESTAMP_NTZ
    # has no direct double cast)
    epoch = F.col("ts").cast("timestamp").cast("double")
    if args.split_epoch is None:
        lo, hi = ev.agg(F.min(epoch), F.max(epoch)).collect()[0]
        split = (lo + hi) / 2.0
    else:
        split = args.split_epoch
    grp = (epoch >= F.lit(split)).cast("int")

    ks_drift(ev, grp).write.mode("overwrite") \
        .parquet(f"{out}/ks_drift")
    psi_drift(ev, grp, bins=args.bins).write.mode("overwrite") \
        .parquet(f"{out}/psi_drift")
    daily_drift(ev).write.mode("overwrite") \
        .parquet(f"{out}/daily_health")
    daily_quantile_drift(ev).write.mode("overwrite") \
        .parquet(f"{out}/daily_quantiles")
    benford_deviation(ev).write.mode("overwrite") \
        .parquet(f"{out}/benford")
    transition_entropy(ev, tiebreak_col="event_id") \
        .write.mode("overwrite").parquet(f"{out}/predictability")

    # mergeable frequency store + derived heavy hitters
    sk = cms_sketch(ev, "user_id")
    sk.write.mode("overwrite").parquet(f"{out}/cms_counters")
    sk = spark.read.parquet(f"{out}/cms_counters")  # derive from storage
    cand = ev.select("user_id").where(
        F.col("user_id").isNotNull()).distinct()
    (cms_estimate(sk, cand, "user_id")
     .orderBy(F.desc("est_count"), F.asc("user_id")).limit(args.topk)
     .write.mode("overwrite").parquet(f"{out}/heavy_hitters"))

    # row counts from parquet footers — never a read-after-write job
    from ts_pymfe_spark.plans.manifest import _footer_stats

    for t in ("ks_drift", "psi_drift", "daily_health",
              "daily_quantiles", "benford", "predictability",
              "cms_counters", "heavy_hitters"):
        rows, nbytes = _footer_stats(f"{out}/{t}")
        print(f"REPORT {t}: {rows} rows, {nbytes} bytes")
    print("DRIFT_REPORT_DONE")


if __name__ == "__main__":
    main()
