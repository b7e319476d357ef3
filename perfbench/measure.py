"""Process-level measurement: resident memory sampled from ``/proc``,
the host-speed probe, percentiles, and the environment record every
artifact carries."""

from __future__ import annotations

import contextlib
import multiprocessing
import os
import platform
import subprocess
import sys
import threading
import time

import numpy as np


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes that map it.  Plain RSS would count the JVM's
    2 GB heap twice while a child it forks has not yet exec'd."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids = _children(root)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory (summed PSS) of ``root`` and all its descendants:
    this driver, the JVM it launched and the JVM's Python workers."""
    return sum(_pss_kb(pid) for pid in [root] + descendants(root)) / 1024.0


class RssSampler:
    """Samples ``tree_rss_mb(os.getpid())`` on a thread while a
    ``window()`` is open; ``peak_mb`` holds the maximum seen.  Use as a
    context manager.  Only the timed calls open a window, so the
    driver-side checks (DuckDB, reference kernels) are not counted."""

    # one sample reads the JVM's ``smaps_rollup``, a walk of its page
    # tables that takes about 25 ms of a core on a 3 GB JVM, so samples
    # are kept sparse enough not to slow the work they measure
    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._active.is_set():
                self._sample()

    @contextlib.contextmanager
    def window(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


#: iterations of the speed probe's fixed chunk of pure-Python work
SPEED_CHUNK = 20_000
#: a window whose median chunk costs this much thread CPU time has speed
#: 1; the baseline's runs on a shared 4-vCPU VM measured 0.82 to 1.06
REFERENCE_COST_S = 2.0e-3


def _speed_loop(path: str, interval_s: float) -> None:
    """Time a fixed chunk of work in thread CPU time, until terminated."""
    with open(path, "a", buffering=1) as f:
        while True:
            t0 = time.thread_time()
            acc = 0
            for i in range(SPEED_CHUNK):
                acc += i * i % 7
            f.write(f"{time.time()} {time.thread_time() - t0}\n")
            time.sleep(interval_s)


class SpeedProbe:
    """A side process that times a fixed chunk of CPU work every
    ``interval_s``.  The chunk's thread CPU time does not grow when the
    benchmark's own processes keep this one off a core, only when the
    host runs every vCPU slower (frequency, sibling threads, steal).
    ``speed(t0, t1)`` is ``REFERENCE_COST_S`` over the median chunk time
    in a wall interval: below 1 when the host ran slow."""

    def __init__(self, path: str, interval_s: float = 0.05) -> None:
        self.path = path
        self._proc = multiprocessing.get_context("spawn").Process(
            target=_speed_loop, args=(path, interval_s), daemon=True)

    def __enter__(self) -> "SpeedProbe":
        self._proc.start()
        return self

    def __exit__(self, *exc) -> None:
        self._proc.terminate()
        self._proc.join(timeout=10)

    def speed(self, t0: float, t1: float) -> float:
        with open(self.path) as f:
            dts = [float(dt) for ts, dt in (line.split() for line in f)
                   if t0 <= float(ts) <= t1]
        if not dts:
            raise RuntimeError("speed probe: no sample in the window")
        return REFERENCE_COST_S / float(np.median(dts))


def git_commit(root: str) -> str:
    """The checkout's commit, or "unknown" outside a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(root: str, master: str, driver_memory: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "driver_memory": driver_memory,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(root),
        "argv": sys.argv[1:],
    }
