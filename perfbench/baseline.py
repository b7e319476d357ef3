"""Record and render the benchmark's baseline.

    python3 perfbench/baseline.py run --set A --seeds 101-110
    python3 perfbench/baseline.py trace --workload ingest --seed 201
    python3 perfbench/baseline.py report

Run from the checkout root.  ``run`` appends one JSON line per run
(workload, seed, process wall and the result line) to
``perfbench/results/set_<SET>.jsonl``, alternating the workloads seed
by seed.  ``trace`` stores a traced run's result line in
``perfbench/results/trace_<workload>.json``.  ``report`` writes
``perfbench/results/BASELINE.md``: per workload and metric, the median
and the quartile spread (``statistics.quantiles(n=4)``, IQR / median)
of each set, the drift between the sets' medians, and one per-layer
table per path from the traced runs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")
PATHS = ("setup", "synth", "trace", "ingest", "stream", "extract", "compress")


def bench() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run_once(workload: str, seed: int, trace: int, seconds: int) -> dict:
    """One benchmark run as {"workload", "seed", "wall_s", "env", "result"}."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    env = next(json.loads(x[4:]) for x in lines if x.startswith("env "))
    return {"workload": workload, "seed": seed, "wall_s": wall, "env": env,
            "result": json.loads(lines[-1])}


def cmd_run(args) -> None:
    b = bench()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"set_{args.set}.jsonl")
    for seed in range(lo, hi + 1):
        for w in b["workloads"]:
            rec = run_once(w["name"], seed, 0, b["run_seconds"])
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")


def cmd_trace(args) -> None:
    rec = run_once(args.workload, args.seed, 1, bench()["run_seconds"])
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"trace_{args.workload}.json"), "w") as f:
        json.dump(rec, f, indent=1)


def spread(values: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q[2] - q[0]) / med


def cmd_report(_args) -> None:
    b = bench()
    sets = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, "set_*.jsonl"))):
        with open(path) as f:
            sets[os.path.basename(path)[4:-6]] = [json.loads(line) for line in f]
    lines = ["# Baseline", "",
             "Generated by `python3 perfbench/baseline.py report`.", ""]
    for w in b["workloads"]:
        name = w["name"]
        lines += [f"## {name}", ""]
        head = "| metric | bound |"
        rule = "|---|---|"
        for s in sets:
            head += f" set {s} median | set {s} IQR/median |"
            rule += "---|---|"
        drift = len(sets) == 2
        if drift:
            head += " drift of medians |"
            rule += "---|"
        lines += [head, rule]
        for m in b["end_to_end"]:
            row = f"| {m['name']} ({m['unit']}) | {m['bound']} |"
            meds = []
            for rows in sets.values():
                vals = [r["result"]["metrics"][m["name"]]["value"]
                        for r in rows if r["workload"] == name]
                med, iqr = spread(vals)
                meds.append(med)
                row += f" {med:.4g} | {iqr:.3f} |"
            if drift:
                sign = 1 if m["better"] == "lower" else -1
                row += f" {sign * (meds[1] - meds[0]) / meds[0]:+.3f} |"
            lines.append(row)
        walls = [r["wall_s"] for rows in sets.values() for r in rows
                 if r["workload"] == name]
        failed = sum(r["result"]["failed"] for rows in sets.values() for r in rows
                     if r["workload"] == name)
        lines += ["", f"{len(walls)} runs in {len(sets)} sets; process wall "
                  f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
                  f"failed calls {failed}.", ""]
    traces = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, "trace_*.json"))):
        with open(path) as f:
            t = json.load(f)
        traces[t["workload"]] = t
    if traces:
        lines += ["## Per-layer (traced runs)", "",
                  "Columns are traced runs, named by the workload given to "
                  "`--workload`; every traced run measures all four paths.", ""]
        for p in PATHS:
            lines += [f"### {p}", "", "| metric | unit | "
                      + " | ".join(f"--workload {w}" for w in traces) + " |",
                      "|---|---|" + "---|" * len(traces)]
            for m in b["per_layer"]:
                if m["name"].split(".")[0] != p:
                    continue
                vals = " | ".join(
                    f"{t['result']['metrics'][m['name']]['value']:.4g}"
                    for t in traces.values())
                lines.append(f"| {m['name']} | {m['unit']} | {vals} |")
            lines.append("")
    with open(os.path.join(RESULTS, "BASELINE.md"), "w") as f:
        f.write("\n".join(lines))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    t = sub.add_parser("trace")
    t.add_argument("--workload", required=True)
    t.add_argument("--seed", type=int, required=True)
    sub.add_parser("report")
    args = p.parse_args(argv)
    {"run": cmd_run, "trace": cmd_trace, "report": cmd_report}[args.cmd](args)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
