"""Tier-engine benchmark: one workload per run, closed loop, one caller.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 21 --trace 0

Run it from the root of a checkout: it imports ``ts_pymfe_spark`` from
there and exits with status 2, printing no result, when the package
is absent.  Everything it writes goes under ``.perfbench/`` in the
checkout (input cache, Spark scratch, per-run stores, artifacts).

A run generates (or reuses) the seeded inputs, sets up five times
(``local[nproc - 1]`` session start plus a warm-up of one SQL aggregate;
the first start also launches the JVM) and reports the median as
``setup_s``.  It primes the workload, untimed, then runs
``--seconds // cycle_s`` cycles, checks every cycle's outputs outside
the timed region and prints, as its last stdout line, one JSON object:

* ``--trace 0``: the end-to-end metrics of the chosen workload.
* ``--trace 1``: the per-layer metrics of all four paths (ingest,
  stream, extract, compress).  The chosen workload runs an untraced, a
  traced and an untraced cycle, the difference being the tracing
  overhead; the other paths run one traced cycle each.  Spans go to
  ``.perfbench/traces/`` at exit.

``attempted`` counts timed calls and ``failed`` those that raised or
whose cycle failed its check, so failed / attempted is the run's
failed-operation fraction.

Every process a run starts (the JVM, its Python workers, the input
generator's pool and the multiprocessing resource tracker) has ended
before the run exits, on every path out of it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
DRIVER_MEMORY = "2g"
SETUPS = 5
#: no cycle starts after this much process wall, so a run on a slow
#: host still ends well within the 180 s a run may take
DEADLINE_S = 60.0
#: workloads a run can name; stream and compress are measured by every
#: traced run
MEASURED = ("ingest", "extract")


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=MEASURED)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test uses 0.05)")
    return p.parse_args(argv)


def bootstrap(root: str) -> dict:
    """Put the checkout's package on the driver and worker paths and
    keep every scratch file inside ``root/.perfbench``."""
    work = os.path.join(root, ".perfbench")
    rundir = os.path.join(work, "runs", f"{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # one BLAS thread, as session.py gives the Python workers, so the
    # driver-side reference kernels round exactly like the workers
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    return {"root": root, "work": work, "rundir": rundir, "tmp": tmp}


def spark_cores() -> int:
    """Spark's task slots: one core fewer than the host has.  The spare
    core runs the Python driver, the JVM's own threads (JIT, GC, RPC) and
    the measurement side processes, so they do not hold up a stage's
    task threads by taking turns with them on a core."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def start_session(dirs: dict):
    from ts_pymfe_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=spark_cores(),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": dirs["tmp"],
            "spark.sql.warehouse.dir": os.path.join(dirs["rundir"], "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        },
    )


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


#: prctl option that makes orphaned descendants re-parent to the caller
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the reaper of every process this run starts.  The Python
    workers the JVM forks outlive the JVM by a moment, and the
    multiprocessing resource tracker outlives its parent; as a subreaper
    this process gets both back as children and can wait for them."""
    import ctypes

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap(deadline: float) -> bool:
    """Collect exited children until none is left (True) or ``deadline``
    passes (False)."""
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)


def stop_children() -> None:
    """Stop every process this run started and wait until each has ended:
    first let them exit on their own, then SIGTERM, then SIGKILL."""
    import signal
    from multiprocessing import resource_tracker

    from perfbench.measure import descendants

    # the tracker only exits on EOF from its parent, so stop it here (the
    # module has no public call for this)
    resource_tracker._resource_tracker._stop()
    for sig, grace_s in ((None, 10.0), (signal.SIGTERM, 10.0),
                         (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in descendants(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        if _reap(time.monotonic() + grace_s):
            return
    log(f"processes left after SIGKILL: {descendants(os.getpid())}")


class Runner:
    def __init__(self, args, dirs: dict, inputs: dict, rss=None,
                 speed=None) -> None:
        self.args = args
        self.rss = rss
        self.speed = speed
        self.dirs = dirs
        self.inputs = inputs
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.setup_walls: list[tuple[float, float]] = []
        self.prime_s = 0.0

    def make(self, name: str):
        from perfbench.workloads import WORKLOADS

        return WORKLOADS[name](self.spark, self.inputs, self.dirs["rundir"],
                               self.tracer, self.args.seed)

    def setup(self, traced: bool) -> None:
        """One set-up: (re)start the session, then warm the engine up."""
        from perfbench.trace import Tracer

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(self.dirs)
        t1 = time.perf_counter()
        self.tracer = Tracer(self.spark, traced)
        with self.tracer.span("setup.warmup"):
            warmup(self.spark)
        self.setup_walls.append((t1 - t0, time.perf_counter() - t1))
        log(f"setup {len(self.setup_walls)}: session {t1 - t0:.2f}s, "
            f"warm-up {self.setup_walls[-1][1]:.2f}s")

    def prime(self, name: str):
        """The workload's calls, untimed, so the timed cycles start with
        JIT-compiled code and live Python workers."""
        wl = self.make(name)
        t0 = time.perf_counter()
        wl.warmup()
        self.prime_s = time.perf_counter() - t0
        log(f"prime {name}: {self.prime_s:.2f}s")
        return wl

    def run_cycle(self, wl) -> dict | None:
        """One cycle plus its check; failures are counted, not raised."""
        calls = 0
        try:
            t0 = time.time()
            with self.rss.window() if self.rss else contextlib.nullcontext():
                res = wl.cycle()
            if self.speed is not None:
                res["speed"] = self.speed.speed(t0, time.time())
            calls = len(res["ops"]) + 1
            fails = wl.check()
        except Exception:
            traceback.print_exc()
            calls = max(calls, 1)
            self.attempted += calls
            self.failed += calls
            return None
        self.attempted += calls
        if fails:
            for f in fails:
                print(f"CHECK FAILED [{wl.name}] {f}", file=sys.stderr)
            self.failed += calls
        return res


def warmup(spark) -> None:
    """One SQL aggregate.  Python workers are left to the workloads that
    use them: starting them costs about 2 s a set-up, which ``ingest``
    never needs and ``extract`` pays once, untimed, in its prime."""
    from pyspark.sql import functions as F

    (spark.range(0, 4096, numPartitions=4)
     .groupBy((F.col("id") % 7).alias("k")).count().collect())


def setup_s(walls: list[tuple[float, float]]) -> float:
    return statistics.median(s + w for s, w in walls)


def run_untraced(runner: Runner, args) -> dict:
    for _ in range(SETUPS):
        runner.setup(traced=False)
    wl = runner.prime(args.workload)
    wl.prepare()
    # a fixed cycle count per --seconds: cycles get faster as the JIT
    # warms, so a count that varied with timing would move the medians
    cycles = []
    for k in range(max(1, int(args.seconds // wl.cycle_s))):
        if k and time.perf_counter() - T_START > DEADLINE_S:
            log(f"stopping after {k} cycles: past the {DEADLINE_S}s deadline")
            break
        res = runner.run_cycle(wl)
        if res is not None:
            cycles.append(res)
            log(f"cycle {len(cycles)}: {[round(w, 2) for w, _ in res['ops']]}"
                f" read {res['read_s']:.2f} speed {res['speed']:.3f}")
    if not cycles:
        raise RuntimeError("no cycle of the workload completed")
    # host speed moves by a third within seconds on a shared VM, so each
    # cycle's figures are scaled to speed 1 (see measure.SpeedProbe)
    rates = [u / w for c in cycles for w, u in c["ops"]]
    reads = [c["read_s"] for c in cycles]
    norm_rates = [u / w / c["speed"] for c in cycles for w, u in c["ops"]]
    norm_reads = [c["read_s"] * c["speed"] for c in cycles]
    people = {
        f"{args.workload}_{wl.unit}_per_s": (statistics.median(norm_rates),
                                            f"{wl.unit}/s"),
        f"{args.workload}_read_s": (statistics.median(norm_reads), "s"),
        "raw_work_per_s": (statistics.median(rates), "1/s"),
        "raw_read_s": (statistics.median(reads), "s"),
        "host_speed": (statistics.median(c["speed"] for c in cycles), ""),
        "cycles": (len(cycles), "count"),
    }
    people.update(wl.extra_metrics())
    wl.close()
    # the read wall is printed, not bounded: its run medians varied more
    # than the host speed explains (quartile spread 0.30 over ten runs)
    metrics = {
        "setup_s": (setup_s(runner.setup_walls), "s"),
        "work_per_s": (statistics.median(norm_rates), "1/s"),
    }
    return {"metrics": metrics, "people": people}


def run_traced(runner: Runner, args) -> dict:
    """Per-layer metrics of all four paths.  The chosen workload runs
    untraced, traced and untraced cycles (traced minus the mean of the
    untraced walls is the tracing overhead); the other paths run one
    traced cycle each."""
    from perfbench.workloads import WORKLOADS

    for k in range(SETUPS):
        runner.setup(traced=(k == SETUPS - 1))
    (s1, w1), (s2, w2) = runner.setup_walls[-2:]
    layers = {
        "setup.session_s": statistics.median(s for s, _ in runner.setup_walls),
        "setup.warmup_s": statistics.median(w for _, w in runner.setup_walls),
        "setup.cold_s": sum(runner.setup_walls[0]),
        "synth.gen_s": runner.inputs["gen_s"],
        "trace.overhead_setup_s": (s2 + w2) - (s1 + w1),
    }
    order = [args.workload] + [n for n in WORKLOADS if n != args.workload]
    for name in order:
        wl = runner.prime(name)
        layers[f"{name}.prime_s"] = runner.prime_s
        wl.prepare()
        modes = (False, True, False) if name == args.workload else (True,)
        walls = {}
        for traced in modes:
            runner.tracer.enabled = traced
            res = runner.run_cycle(wl)
            if res is None:
                raise RuntimeError(f"{name}: traced-run cycle failed")
            walls.setdefault(traced, []).append(
                sum(w for w, _ in res["ops"]) + res["read_s"])
            if traced:
                layers[f"{name}.op_s"] = statistics.median(
                    w for w, _ in res["ops"])
                layers[f"{name}.read_s"] = res["read_s"]
                layers.update(
                    {k: v for k, (v, _) in wl.extra_metrics().items()})
                layers.update(wl.layer_metrics())
        if False in walls:
            layers["trace.overhead_cycle_s"] = (
                walls[True][0] - statistics.mean(walls[False]))
        wl.close()
    return {"metrics": {k: (v, layer_unit(k)) for k, v in layers.items()},
            "people": {}}


def layer_unit(name: str) -> str:
    if ".kernel_ms." in name:
        return "ms"
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_bytes", "B"),
                         ("bytes_per_turn", "B"), ("bits_per_point", "bit")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ts_pymfe_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding ts_pymfe_spark/",
              file=sys.stderr)
        return 2
    dirs = bootstrap(root)
    from perfbench.inputs import ensure_inputs
    from perfbench.measure import RssSampler, SpeedProbe, environment

    from perfbench.workloads import WORKLOADS

    names = WORKLOADS if args.trace else [args.workload]
    inputs = ensure_inputs(dirs["work"], root, args.seed, args.scale,
                           workers=min(4, len(os.sched_getaffinity(0))),
                           parts={WORKLOADS[n].needs for n in names})
    log(f"inputs ready (generation took {inputs['gen_s']:.2f}s)")
    rss = RssSampler()
    speed = SpeedProbe(os.path.join(dirs["rundir"], "speed.txt"))
    runner = Runner(args, dirs, inputs, rss, speed)
    try:
        with rss, speed:
            out = (run_traced if args.trace else run_untraced)(runner, args)
        if not args.trace:
            out["metrics"]["peak_rss_mb"] = (rss.peak_mb, "MB")
    finally:
        env = environment(root, f"local[{spark_cores()}]",
                          DRIVER_MEMORY)
        if runner.spark is not None:
            if runner.tracer is not None and args.trace:
                os.makedirs(os.path.join(dirs["work"], "traces"), exist_ok=True)
                runner.tracer.dump(os.path.join(
                    dirs["work"], "traces",
                    f"{int(time.time())}-{args.workload}-seed{args.seed}.jsonl"),
                    env)
            shutdown(runner.spark)
        shutil.rmtree(dirs["rundir"], ignore_errors=True)
        log("stopped")

    out["people"]["ops_failed_frac"] = (runner.failed / max(runner.attempted, 1), "")
    out["people"]["gen_s"] = (inputs["gen_s"], "s")
    for k, (v, unit) in {**out["metrics"], **out["people"]}.items():
        print(f"{k:<34} {v:>16.6g} {unit}")
    print("env " + json.dumps(env))
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    artifact = os.path.join(dirs["work"], "results")
    os.makedirs(artifact, exist_ok=True)
    with open(os.path.join(
            artifact, f"{int(time.time())}-{args.workload}-seed{args.seed}"
            f"-trace{args.trace}.json"), "w") as f:
        json.dump({"env": env, "people": out["people"], **result}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # the checkout root, for ``perfbench.*`` imports on every path out
    sys.path.insert(0, os.getcwd())
    adopt_orphans()
    # a SIGTERM unwinds through main's clean-up like an error does
    import signal
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main(sys.argv[1:])
    finally:
        stop_children()
    sys.exit(code)
