"""Smoke test of the benchmark itself, at a tiny input size.

    python3 perfbench/smoke.py

Run from the checkout root.  It asserts that

1. each workload's untraced run and one traced run pass their checks
   and print exactly the metric names and units that ``BENCHMARK.json``
   lists (``end_to_end`` untraced, ``per_layer`` traced);
2. a planted fault fails the matching correctness check: one perturbed
   1d tier row, one perturbed meta-feature value and one flipped bit
   of a decompressed point.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

SCALE = 0.05
SEED = 7


def run_bench(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", str(SCALE)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def assert_names(result: dict, expected: list[dict], what: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in expected}
    assert got == want, (
        f"{what}: missing {sorted(set(want) - set(got))}, "
        f"extra {sorted(set(got) - set(want))}, "
        f"unit differs {[k for k in got if k in want and got[k] != want[k]]}")
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 1


def perturb_one_row(path: str) -> None:
    """Add 1 to ``n`` of the first row of one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    n = table.column("n").to_numpy().copy()
    n[0] += 1
    table = table.set_column(table.schema.get_field_index("n"), "n",
                             pa.array(n, type=table.schema.field("n").type))
    pq.write_table(table, path)


def planted_faults() -> None:
    from perfbench.run import Runner, bootstrap, shutdown

    # bootstrap pins BLAS to one thread before numpy loads, so the
    # driver-side reference kernels round like the workers
    dirs = bootstrap(os.getcwd())
    import numpy as np

    from perfbench.inputs import ensure_inputs

    inputs = ensure_inputs(dirs["work"], dirs["root"], SEED, SCALE)
    args = type("Args", (), {"seed": SEED})()
    runner = Runner(args, dirs, inputs)
    try:
        runner.setup(traced=False)
        ingest = runner.make("ingest")
        ingest.cycle()
        assert ingest.check() == [], ingest.check()
        perturb_one_row(sorted(glob.glob(ingest.tier_globs()["1d"]))[0])
        fails = ingest.check()
        assert fails and "1d tier" in fails[0], fails

        extract = runner.make("extract")
        extract.cycle()
        assert extract.check() == [], extract.check()
        extract.result.loc[:, "value"] = extract.result["value"] + 1e-3
        assert extract.check(), "perturbed meta-features passed"

        compress = runner.make("compress")
        compress.prepare()
        compress.cycle()
        assert compress.check() == [], compress.check()
        bits = compress.decoded["value"].to_numpy().view(np.int64).copy()
        bits[0] ^= 1
        compress.decoded["value"] = bits.view(np.float64)
        assert compress.check(), "flipped bit passed the round-trip check"
    finally:
        if runner.spark is not None:
            shutdown(runner.spark)
        shutil.rmtree(dirs["rundir"], ignore_errors=True)


def main() -> int:
    sys.path.insert(0, os.getcwd())
    from perfbench.run import adopt_orphans, stop_children

    adopt_orphans()
    try:
        check_all()
    finally:
        stop_children()
    return 0


def check_all() -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        assert_names(run_bench(w["name"], 0), bench["end_to_end"], w["name"])
        print(f"ok  {w['name']}: end-to-end metric names and checks")
    assert_names(run_bench(bench["workloads"][0]["name"], 1),
                 bench["per_layer"], "traced")
    print("ok  traced run: per-layer metric names and checks")
    planted_faults()
    print("ok  planted faults fail their checks")


if __name__ == "__main__":
    sys.exit(main())
