"""Production ingest job: transcripts -> tier cascade -> checkpointed,
resumable tier tables with per-partition lineage metrics.

Run form (north rule):

    cd /root/repo && zip -qr /tmp/engine.zip ts_pymfe_spark
    spark-submit --driver-memory 16g --py-files /tmp/engine.zip \
        jobs/ingest_rollup.py \
        --input /path/to/turns_parquet --output /path/to/tier_store \
        [--sf 0.01 --synth]   # synthesize input instead of reading
        [--cpus 32] [--compress] [--features]

Memory note: session-level ``spark.driver.memory`` conf is ignored
once the JVM is already launched (spark-submit mode), so sizing must
go on the command line.  Round 5 removed the job's persisted 1m tier
cache (the documented cause of a round-3 resume OOM at the 1 g
default): tiers are now STORAGE-BACKED — the 1m tier is committed
first and 1h/1d cascade merge-on-read from the committed store
(plans/ingest.py), so nothing is pinned in executor memory and the
small-SF kill/resume rehearsal passes at default driver memory.  At
production scale you still size executors for the shuffle, not for
any cache.

Resumable: re-running after a crash skips partitions already committed
to each tier's ``_manifest`` (plans/manifest.py).  Metrics (rows, bytes,
wall_ms per partition) are printed at the end and queryable from the
manifest table.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="turns parquet/Iceberg path")
    ap.add_argument("--output", required=True, help="tier store root")
    ap.add_argument("--synth", action="store_true", help="synthesize input")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--compress", action="store_true",
                    help="also write Gorilla segments for the raw series")
    ap.add_argument("--retain", default=None,
                    help="per-tier retention, e.g. '1m=30,1h=365,1d=3650' "
                         "(days); expired day-partitions are tombstoned in "
                         "the manifest then deleted (plans/manifest.py)")
    ap.add_argument("--retain-now", default=None,
                    help="YYYY-MM-DD reference date for --retain "
                         "(default: today)")
    ap.add_argument("--salted", action="store_true",
                    help="use the two-phase salted aggregation instead of "
                         "the conv_id single-shuffle plan — for inputs with "
                         "genuinely hot single (conv, bucket) keys "
                         "(operators/rollup.py density contract)")
    ap.add_argument("--features", action="store_true",
                    help="also extract meta-features per conversation")
    args = ap.parse_args()

    from ts_pymfe_spark.operators.derive import derive_series
    from ts_pymfe_spark.plans.ingest import ingest_tiers
    from ts_pymfe_spark.session import get_spark
    from ts_pymfe_spark.sources.testdata import read_turns
    from ts_pymfe_spark.synth import gen_turns

    spark = get_spark("ingest_rollup", cpus=args.cpus)
    if args.synth:
        turns = gen_turns(spark, args.sf)
    else:
        turns = read_turns(spark, args.input)

    # Single-shuffle 1m aggregation (operators/rollup.py round-4 note):
    # one conv_id repartition of slim pre-stack rows; salting is
    # reserved for genuinely hot single keys (--salted), which
    # 1-minute buckets of per-turn data do not have.  The cascade
    # above 1m is storage-backed (plans/ingest.py): 1h/1d read the
    # committed finer tier, never raw, and nothing is persisted.
    # The side outputs (--compress, --features) read the unpartitioned
    # series: their grouped-map runner repartitions on its own keys, and
    # that is their only raw-point exchange.
    raw_series = derive_series(turns)
    if args.salted:
        series = raw_series
    else:
        par = spark.sparkContext.defaultParallelism * 4
        series = derive_series(
            turns, partition_by=("conv_id",), partitions=par
        )
    all_metrics: dict[str, list] = ingest_tiers(
        spark, series, args.output, run_id=args.run_id, salted=args.salted
    )

    if args.retain:
        import datetime as _dt

        from ts_pymfe_spark.plans.manifest import apply_retention

        policy = dict(
            (k, int(v))
            for k, v in (kv.split("=") for kv in args.retain.split(","))
        )
        now = args.retain_now or _dt.date.today().isoformat()
        expired = apply_retention(spark, args.output, policy, now)
        all_metrics["_retention"] = [
            {"tier": t, "expired": len(ps)} for t, ps in expired.items()
        ]

    # Side-output metrics come from parquet FOOTERS (round 5, VERDICT
    # r4 #4): a post-write spark.read.count() was a full re-read of
    # just-written data at scale; pyarrow footer metadata is free.
    from ts_pymfe_spark.plans.manifest import _footer_stats

    if args.compress:
        from ts_pymfe_spark.operators.compression import compress_segments

        segs = compress_segments(raw_series, "1d")
        segs.write.mode("overwrite").parquet(f"{args.output}/segments_1d")
        rows, nbytes = _footer_stats(f"{args.output}/segments_1d")
        all_metrics["segments_1d"] = [{"rows": rows, "bytes": nbytes}]

    if args.features:
        from ts_pymfe_spark.api import TSMFESpark

        feats = TSMFESpark().extract(raw_series)
        feats.write.mode("overwrite").parquet(f"{args.output}/features")
        rows, nbytes = _footer_stats(f"{args.output}/features")
        all_metrics["features"] = [{"rows": rows, "bytes": nbytes}]

    print(
        json.dumps(
            {
                tier: {
                    "partitions": len(m),
                    "rows": sum(e.get("rows", 0) for e in m),
                    "bytes": sum(e.get("bytes", 0) for e in m),
                }
                for tier, m in all_metrics.items()
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
