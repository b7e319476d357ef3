"""Spans recorded around the benchmark's calls into the engine, and the
Spark work done during each span.

A span holds its name, id, parent id, start and end.  When tracing is
on, each span also gets the delta of Spark's in-process status store
over the jobs submitted while it was open: executor run and CPU
seconds, GC seconds, shuffle read/write bytes, spill bytes, task,
stage and job counts, and the wall the jobs covered.  Jobs are found
by job-id window (ids are monotonic), not by job group, so jobs run on
a streaming query's own thread are counted too.

``instrument`` wraps the public ``CheckpointedWriter`` methods in spans
for the length of a ``with`` block and restores them after; nothing in
the engine is modified.  Spans stay in memory and are written out by
``Tracer.dump`` when the benchmark ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

SPARK_FIELDS = (
    "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "tasks", "stages", "jobs", "job_wall_s",
)


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        job0 = self._next_job_id()
        t0 = time.perf_counter()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec.update(self._spark_delta(job0))
            self.spans.append(rec)

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, env: dict) -> None:
        """One JSON line with ``env``, then one per span."""
        with open(path, "w") as f:
            f.write(json.dumps({"env": env}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- Spark status store -------------------------------------------------
    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _next_job_id(self) -> int:
        jobs = self._store().jobsList(None)  # newest first
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def _spark_delta(self, job0: int) -> dict:
        store = self._store()
        jobs = store.jobsList(None)
        out = dict.fromkeys(SPARK_FIELDS, 0)
        intervals = []
        stage_ids = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < job0:
                break
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            sids = job.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store or never ran
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
        out["job_wall_s"] = _union_ms(intervals) / 1e3
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


MANIFEST_CALLS = ("completed", "expired", "read")


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap ``CheckpointedWriter.run`` and its manifest calls in spans."""
    from ts_pymfe_spark.plans.manifest import CheckpointedWriter

    if not tracer.enabled:
        yield
        return
    saved = {n: getattr(CheckpointedWriter, n) for n in ("run",) + MANIFEST_CALLS}

    def wrap(name, fn):
        def wrapper(self, *a, **kw):
            tier = self.root.rsplit("tier=", 1)[-1]
            suffix = kw.get("partition_suffix", "")
            with tracer.span(f"manifest.{name}", tier=tier, suffix=suffix):
                return fn(self, *a, **kw)
        return wrapper

    for n, fn in saved.items():
        setattr(CheckpointedWriter, n, wrap(n, fn))
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(CheckpointedWriter, n, fn)
