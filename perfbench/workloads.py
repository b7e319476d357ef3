"""The benchmark's workloads: closed loop, one caller.

Each workload runs *cycles*.  A cycle makes the workload's timed write
calls (``ops``) and one timed read call, and its outputs are checked
after the cycle, outside the timed region.  ``warmup`` runs the same
calls untimed before the first cycle, so the cycles start with
compiled code and live Python workers: on every 4th conversation for
``ingest`` and ``extract``, whose first call in a fresh JVM runs far
slower than the later ones, and on a tiny input for the paths that only
a traced run measures.

=========  ==============================  ===============================
workload   timed op (unit of work)         timed read
=========  ==============================  ===============================
ingest     derive_series + ingest_tiers    CheckpointedWriter.read of the
           into a fresh store (turns)      three tiers, full-row hash
stream     run_stream_to_store for one     read_all_tiers, written out
           arrival slice (turns)
extract    TSMFESpark.extract on the       scan + derive_series + keep the
           selected series (series)        conversations with >= 32 turns
compress   compress_segments(.., "1d")     decompress_segments, collected
           written out (points)
=========  ==============================  ===============================
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.trace import Tracer, instrument

TIERS = ("1m", "1h", "1d")
#: bench.py feature_job's 14-feature set
EXTRACT_FEATURES = [
    "acf", "pacf", "period", "ps_entropy", "hist_entropy", "dw",
    "trend_strength", "season_strength", "lz_complexity",
    "sample_entropy", "approx_entropy", "model_linear", "model_sine",
    "model_naive_seasonal",
]
EXTRACT_SUMMARIES = ("mean", "sd")
EXTRACT_MAX_POINTS = 512
EXTRACT_MIN_TURNS = 32
EXTRACT_CHECK_SERIES = 4
COMPRESS_SAMPLE = 10  # keep conversations with xxhash64(conv_id) % 10 == 0
WARMUP_CONVS = 40
#: the extract prime runs on every PRIME_EVERY-th conversation
PRIME_EVERY = 4
MANIFEST_READS = ("manifest.completed", "manifest.expired", "manifest.read")


class Workload:
    name = ""
    #: what ``work_per_s`` counts
    unit = ""
    #: the input part (``inputs.PARTS``) the workload reads
    needs = "turns"
    #: nominal cycle wall on a 4-core host; a run makes
    #: ``--seconds // cycle_s`` cycles
    cycle_s = 6.5

    def __init__(self, spark, inputs: dict, rundir: str, tracer: Tracer,
                 seed: int) -> None:
        self.spark = spark
        self.inputs = inputs
        self.rundir = rundir
        self.tracer = tracer
        self.seed = seed
        self.con = checks.connect(os.path.join(rundir, "duckdb"))
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.rundir, f"{self.name}-{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def subset(self, src: str) -> str:
        """Write every ``PRIME_EVERY``-th conversation of ``src`` to a
        fresh file and return its path.  The plans over it are the same
        as over ``src``, so a prime on it compiles the code the cycles
        run."""
        import pyarrow as pa
        import pyarrow.compute as pc

        table = pq.read_table(src)
        ids = sorted(set(table.column("conv_id").to_pylist()))[::PRIME_EVERY]
        out = self.fresh_dir("subset") + ".parquet"
        pq.write_table(table.filter(pc.is_in(table["conv_id"], pa.array(ids))),
                       out)
        return out

    def turns(self, path=None, convs: int | None = None):
        df = self.spark.read.parquet(path or self.inputs["turns"])
        if convs is not None:
            df = df.filter(df.conv_id < f"conv{convs:08d}")
        return df

    # interface ------------------------------------------------------------
    def warmup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed per-run preparation after set-up."""

    def cycle(self) -> dict:
        """Run one cycle; return {"ops": [(wall_s, units)], "read_s": x}."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics from the last traced cycle."""
        raise NotImplementedError

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures printed for people."""
        return {}

    def close(self) -> None:
        self.con.close()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _store_bytes(root: str) -> int:
    return sum(os.path.getsize(f)
               for f in glob.glob(f"{root}/**/*.parquet", recursive=True))


# ---------------------------------------------------------------------------
class Ingest(Workload):
    """Production tier write path: derive -> committed 1m (+ turn-rate
    branch) -> merge-on-read 1h/1d through CheckpointedWriter."""

    name, unit = "ingest", "turns"
    cycle_s = 7.0

    def _ingest(self, turns, store: str):
        from ts_pymfe_spark.operators.derive import derive_series
        from ts_pymfe_spark.plans.ingest import ingest_tiers

        series = derive_series(turns, partition_by=("conv_id",))
        return ingest_tiers(self.spark, series, store)

    def _read(self, store: str) -> None:
        from functools import reduce

        from pyspark.sql import functions as F

        from ts_pymfe_spark.plans.manifest import CheckpointedWriter

        parts = []
        for t in TIERS:
            df = CheckpointedWriter(self.spark, f"{store}/tier={t}").read()
            parts.append(df.agg(
                F.sum(F.xxhash64(F.struct(*df.columns)).cast("double")).alias("h")))
        reduce(lambda a, b: a.unionByName(b), parts).collect()

    def warmup(self) -> None:
        # on the whole input: the prime's cost is mostly the first call's
        # class loading and code generation, and the full input runs the
        # generated code often enough for the JIT to compile it
        store = self.fresh_dir("warm")
        self._ingest(self.turns(), store)
        self._read(store)

    def cycle(self) -> dict:
        self.store = self.fresh_dir("store")
        with self.tracer.span("ingest.cycle"), instrument(self.tracer):
            with self.tracer.span("ingest.op"):
                wall, self.manifest = _timed(
                    lambda: self._ingest(self.turns(), self.store))
            with self.tracer.span("ingest.read"):
                read_s, _ = _timed(lambda: self._read(self.store))
        return {"ops": [(wall, self.inputs["rows"])], "read_s": read_s}

    def tier_globs(self) -> dict[str, str]:
        return {t: f"{self.store}/tier={t}/part=*/*.parquet" for t in TIERS}

    def check(self) -> list[str]:
        return checks.check_tiers(self.con, [self.inputs["turns"]],
                                  self.tier_globs())

    def extra_metrics(self):
        return {"ingest.store_bytes_per_turn": (
            _store_bytes(self.store) / self.inputs["rows"], "B")}

    def layer_metrics(self):
        tr = self.tracer
        op = tr.find("ingest.op")[-1]
        inner = [s for s in tr.spans if _within(s, op)]
        runs = {(s["tier"], s["suffix"]): s for s in inner
                if s["name"] == "manifest.run"}
        # outermost manifest reads only: read() calls completed()/expired()
        reads = {s["id"] for s in inner if s["name"] in MANIFEST_READS}
        manifest = [s for s in inner
                    if s["name"] in MANIFEST_READS and s["parent"] not in reads]
        out = {
            "ingest.run_1m_s": runs[("1m", "")]["wall_s"],
            "ingest.run_rate_s": runs[("1m", "~rate")]["wall_s"],
            "ingest.run_1h_s": runs[("1h", "")]["wall_s"],
            "ingest.run_1d_s": runs[("1d", "")]["wall_s"],
            "ingest.manifest_s": sum(s["wall_s"] for s in manifest),
            "ingest.commit_s": sum(s["wall_s"] - s["job_wall_s"]
                                   for s in runs.values()),
            "ingest.cpu_s": op["cpu_s"],
            "ingest.run_s": op["run_s"],
            "ingest.gc_s": op["gc_s"],
            "ingest.shuffle_bytes": op["shuffle_read_bytes"]
            + op["shuffle_write_bytes"],
            "ingest.spill_bytes": op["spill_bytes"],
            "ingest.jobs": op["jobs"],
            "ingest.tasks": op["tasks"],
            "ingest.read_cpu_s": tr.find("ingest.read")[-1]["cpu_s"],
        }
        for t in TIERS:
            out[f"ingest.rows_{t}"] = sum(e["rows"] for e in self.manifest[t])
        return out


def _within(span: dict, outer: dict) -> bool:
    return span["start"] >= outer["start"] and span["end"] <= outer["end"]


# ---------------------------------------------------------------------------
class Stream(Workload):
    """Streaming tier upkeep: each arrival slice is dropped into the
    source directory and committed by ``run_stream_to_store``
    (availableNow); the cycle ends with one merge-on-read of every
    tier (``read_all_tiers``), written out."""

    name, unit = "stream", "turns"

    def _arrive(self, src: str, inbox: str, store: str, ckpt: str) -> None:
        from ts_pymfe_spark.streaming.rollup_stream import run_stream_to_store

        shutil.copy(src, os.path.join(inbox, os.path.basename(src)))
        run_stream_to_store(self.spark, inbox, store, ckpt)

    def _read(self, store: str, out: str) -> None:
        from ts_pymfe_spark.streaming.rollup_stream import read_all_tiers

        for t, df in read_all_tiers(self.spark, store).items():
            df.write.parquet(f"{out}/tier={t}")

    def _dirs(self, tag: str) -> tuple[str, str, str, str]:
        root = self.fresh_dir(tag)
        dirs = tuple(os.path.join(root, d)
                     for d in ("inbox", "store", "ckpt", "merged"))
        os.makedirs(dirs[0])
        return dirs

    def warmup(self) -> None:
        inbox, store, ckpt, merged = self._dirs("warm")
        tiny = os.path.join(os.path.dirname(inbox), "tiny.parquet")
        pq.write_table(pq.read_table(self.inputs["arrivals"][0]).slice(0, 500),
                       tiny)
        self._arrive(tiny, inbox, store, ckpt)
        self._read(store, merged)

    def cycle(self) -> dict:
        inbox, self.store, ckpt, self.merged = self._dirs("cycle")
        ops = []
        with self.tracer.span("stream.cycle"):
            for i, src in enumerate(self.inputs["arrivals"]):
                rows = pq.ParquetFile(src).metadata.num_rows
                with self.tracer.span("stream.commit", arrival=i):
                    wall, _ = _timed(
                        lambda: self._arrive(src, inbox, self.store, ckpt))
                ops.append((wall, rows))
            with self.tracer.span("stream.read"):
                read_s, _ = _timed(lambda: self._read(self.store, self.merged))
        self.commit_walls = [w for w, _ in ops]
        return {"ops": ops, "read_s": read_s}

    def check(self) -> list[str]:
        globs = {t: f"{self.merged}/tier={t}/*.parquet" for t in TIERS}
        return checks.check_tiers(self.con, self.inputs["arrivals"], globs)

    def extra_metrics(self):
        from perfbench.measure import percentile

        return {
            "stream.store_bytes_per_turn": (
                _store_bytes(self.store) / self.inputs["rows"], "B"),
            "stream.commit_p50_s": (percentile(self.commit_walls, 50), "s"),
            "stream.commit_p66_s": (percentile(self.commit_walls, 66), "s"),
        }

    def layer_metrics(self):
        from statistics import median

        tr = self.tracer
        commits = tr.find("stream.commit")[-len(self.inputs["arrivals"]):]
        read = tr.find("stream.read")[-1]
        return {
            "stream.commit_jobs": median(s["jobs"] for s in commits),
            "stream.commit_cpu_s": median(s["cpu_s"] for s in commits),
            "stream.read_files": len(glob.glob(
                f"{self.store}/tier=*/batch=*/*.parquet")),
            "stream.read_rows": sum(
                checks.tier_rows(self.con, f"{self.merged}/tier={t}/*.parquet")
                for t in TIERS),
            "stream.read_shuffle_bytes": read["shuffle_read_bytes"],
            "stream.read_cpu_s": read["cpu_s"],
        }


# ---------------------------------------------------------------------------
class Extract(Workload):
    """Arrow meta-feature kernels over few, large, CPU-bound groups:
    both derived series of every conversation with >= 32 turns."""

    name, unit, needs = "extract", "series", "extract"
    cycle_s = 10.0

    def _select(self, path: str, out: str, convs: int | None = None) -> None:
        from pyspark.sql import functions as F

        from ts_pymfe_spark.operators.derive import derive_series

        series = derive_series(self.turns(path, convs))
        active = (series.filter(F.col("series") == "text_len")
                  .groupBy("conv_id").count()
                  .filter(F.col("count") >= EXTRACT_MIN_TURNS)
                  .select("conv_id"))
        (series.join(F.broadcast(active), "conv_id")
         .select("conv_id", "series", "turn_idx", "value")
         .write.parquet(out))

    def _extract(self, path: str) -> pd.DataFrame:
        from ts_pymfe_spark.api import TSMFESpark

        eng = TSMFESpark(features=EXTRACT_FEATURES,
                         summaries=EXTRACT_SUMMARIES,
                         max_points=EXTRACT_MAX_POINTS)
        res = eng.extract(self.spark.read.parquet(path),
                          measure_time=self.tracer.enabled)
        return res.toPandas()

    def warmup(self) -> None:
        out = self.fresh_dir("warm")
        self._select(self.subset(self.inputs["extract"]), out)
        self._extract(out)

    def cycle(self) -> dict:
        self.selected = self.fresh_dir("selected")
        with self.tracer.span("extract.cycle"):
            with self.tracer.span("extract.read"):
                read_s, _ = _timed(
                    lambda: self._select(self.inputs["extract"], self.selected))
            self.n_series = len(
                pd.read_parquet(self.selected, columns=["conv_id", "series"])
                .drop_duplicates())
            with self.tracer.span("extract.op"):
                wall, self.result = _timed(lambda: self._extract(self.selected))
        return {"ops": [(wall, self.n_series)], "read_s": read_s}

    def check(self) -> list[str]:
        return checks.check_extract(
            self.result, pd.read_parquet(self.selected), EXTRACT_FEATURES,
            EXTRACT_SUMMARIES, EXTRACT_MAX_POINTS, EXTRACT_CHECK_SERIES,
            self.seed)

    def layer_metrics(self):
        op = self.tracer.find("extract.op")[-1]
        # wall_ms is stamped on every summary row of a feature: count it
        # once per (conv, series, feature)
        per = (self.result.assign(feature=self.result["name"].str.split(".").str[0])
               .drop_duplicates(["conv_id", "series", "feature"]))
        kernel_s = per["wall_ms"].sum() / 1e3
        out = {
            "extract.kernel_s": kernel_s,
            "extract.boundary_s": op["run_s"] - kernel_s,
            "extract.run_s": op["run_s"],
            "extract.cpu_s": op["cpu_s"],
            "extract.shuffle_bytes": op["shuffle_read_bytes"]
            + op["shuffle_write_bytes"],
            "extract.tasks": op["tasks"],
        }
        for feat, ms in per.groupby("feature")["wall_ms"].sum().items():
            out[f"extract.kernel_ms.{feat}"] = ms
        return out


# ---------------------------------------------------------------------------
class Compress(Workload):
    """Gorilla segment codec over ~10^3 tiny (conv, series, day) groups:
    a conversation-hash sample of derive_series output."""

    name, unit = "compress", "points"

    def _sample(self, out: str, convs: int | None = None) -> None:
        from pyspark.sql import functions as F

        from ts_pymfe_spark.operators.derive import derive_series

        (derive_series(self.turns(convs=convs))
         .filter(F.pmod(F.xxhash64("conv_id"), F.lit(COMPRESS_SAMPLE)) == 0)
         .select("conv_id", "series", "ts", "value")
         .write.parquet(out))

    def _compress(self, src: str, out: str) -> None:
        from ts_pymfe_spark.operators.compression import compress_segments

        compress_segments(self.spark.read.parquet(src), "1d").write.parquet(out)

    def _decompress(self, segs: str) -> pd.DataFrame:
        from ts_pymfe_spark.operators.compression import decompress_segments

        return decompress_segments(self.spark.read.parquet(segs)).toPandas()

    def warmup(self) -> None:
        src, segs = self.fresh_dir("warm-src"), self.fresh_dir("warm-segs")
        self._sample(src, convs=WARMUP_CONVS * 10)
        self._compress(src, segs)
        self._decompress(segs)

    def prepare(self) -> None:
        self.src = self.fresh_dir("sample")
        self._sample(self.src)
        self.points = pd.read_parquet(self.src)

    def cycle(self) -> dict:
        self.segs = self.fresh_dir("segs")
        with self.tracer.span("compress.cycle"):
            with self.tracer.span("compress.op"):
                wall, _ = _timed(lambda: self._compress(self.src, self.segs))
            with self.tracer.span("compress.read"):
                read_s, self.decoded = _timed(lambda: self._decompress(self.segs))
        return {"ops": [(wall, len(self.points))], "read_s": read_s}

    def check(self) -> list[str]:
        return checks.check_roundtrip(self.points, self.decoded)

    def _segments(self) -> pd.DataFrame:
        return pd.read_parquet(self.segs)

    def extra_metrics(self):
        segs = self._segments()
        n = len(self.points)
        return {
            "compress.bits_per_point": (8 * segs["seg"].map(len).sum() / n, "bit"),
            "compress.points": (n, "count"),
        }

    def layer_metrics(self):
        import numpy as np

        from ts_pymfe_spark.functions.gorilla import encode_segment

        op = self.tracer.find("compress.op")[-1]
        pts = self.points.assign(ts_us=checks.ts_us(self.points["ts"]))
        pts["day"] = pts["ts_us"] // checks.DAY_US
        groups = [
            (g["ts_us"].to_numpy(), g["value"].to_numpy(dtype=np.float64))
            for _, g in pts.sort_values("ts_us").groupby(
                ["conv_id", "series", "day"])
        ]
        t0 = time.perf_counter()
        for ts_us, vals in groups:
            encode_segment(ts_us, vals)
        encode_s = time.perf_counter() - t0
        return {
            "compress.segments": len(self._segments()),
            "compress.encode_kernel_s": encode_s,
            "compress.stage_s": op["run_s"],
            "compress.cpu_s": op["cpu_s"],
            "compress.shuffle_bytes": op["shuffle_read_bytes"]
            + op["shuffle_write_bytes"],
            "compress.tasks": op["tasks"],
            "compress.read_cpu_s": self.tracer.find("compress.read")[-1]["cpu_s"],
        }


WORKLOADS = {w.name: w for w in (Ingest, Stream, Extract, Compress)}
