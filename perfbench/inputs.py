"""Seeded benchmark inputs, generated with ``ts_pymfe_spark.synth`` and
cached under the work directory.

The cache key is (seed, sf, sha256 of ``synth.py``, layout version), so
a change to the generator invalidates every cached input.  Generation
runs driver-side (``synth.gen_conv``, which is bit-identical to the
distributed ``synth.gen_turns``) in a small spawn pool, without Spark,
so its cost never lands in ``setup_s``.  An entry has two parts, each
generated the first time a run needs it; the wall a part took is stored
in its ``<part>.json`` and reported as ``synth.gen_s``.

Files of one entry:

* part ``turns``: ``turns.parquet``, every turn of the ``BASE_SF``
  population (the ``ingest`` and ``compress`` input), and
  ``arrivals/NN.parquet``, the same turns cut into ``N_ARRIVALS``
  time-ordered slices of equal turn count (the ``stream`` input).
* part ``extract``: ``extract.parquet``, the ``EXTRACT_HEAD`` Zipf-head
  conversations of the ``EXTRACT_SF`` population (all with >= 32 turns)
  plus as many tail conversations (8-15 turns, which the >= 32 filter
  drops).
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LAYOUT_VERSION = 2
BASE_SF = 0.0025
N_ARRIVALS = 6
EXTRACT_SF = 0.5
EXTRACT_HEAD = 32
KEEP_ENTRIES = 6

ARROW_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string()),
        # tz-aware, so Spark reads TimestampType rather than TIMESTAMP_NTZ
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def _gen_chunk(args: tuple[list[int], float, int]) -> pa.Table:
    from ts_pymfe_spark.synth import gen_conv

    indices, sf, seed = args
    pdf = pd.concat(
        [gen_conv(i, sf, seed, text_mode="light") for i in indices],
        ignore_index=True,
    )
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, schema=ARROW_SCHEMA, preserve_index=False)


def _generate(chunks: list[list[int]], sf: float, seed: int,
              workers: int) -> pa.Table:
    jobs = [(c, sf, seed) for c in chunks if c]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        tables = pool.map(_gen_chunk, jobs)
    return pa.concat_tables(tables)


def synth_hash(repo_root: str) -> str:
    with open(os.path.join(repo_root, "ts_pymfe_spark", "synth.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def extract_conv_indices(sf: float, head: int) -> list[int]:
    """Zipf-head conversations plus evenly spaced tail conversations."""
    from ts_pymfe_spark.synth import num_convs

    k = num_convs(sf)
    step = k // (head + 1)
    return list(range(head)) + [step * (i + 1) for i in range(head)]


def _gen_turns(out: str, sf: float, seed: int, head: int, workers: int) -> dict:
    from ts_pymfe_spark.synth import num_convs

    idx = np.array_split(np.arange(num_convs(sf)), workers * 4)
    turns = _generate([c.tolist() for c in idx], sf, seed, workers)
    pq.write_table(turns, os.path.join(out, "turns.parquet"))
    by_ts = turns.take(pc.sort_indices(turns, [("ts", "ascending")]))
    bounds = np.linspace(0, by_ts.num_rows, N_ARRIVALS + 1).astype(int)
    os.makedirs(os.path.join(out, "arrivals"))
    for i in range(N_ARRIVALS):
        pq.write_table(
            by_ts.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out, "arrivals", f"{i:02d}.parquet"),
        )
    return {"rows": turns.num_rows}


def _gen_extract(out: str, sf: float, seed: int, head: int, workers: int) -> dict:
    ext_idx = extract_conv_indices(EXTRACT_SF, head)
    ext = _generate([ext_idx[i::workers] for i in range(workers)],
                    EXTRACT_SF, seed, workers)
    pq.write_table(ext, os.path.join(out, "extract.parquet"))
    return {"rows": ext.num_rows}


#: the parts of a cache entry, each generated only when a run needs it
PARTS = {"turns": _gen_turns, "extract": _gen_extract}


def ensure_inputs(work: str, repo_root: str, seed: int, scale: float = 1.0,
                  workers: int = 4, parts=tuple(PARTS)) -> dict:
    """Return the cache entry for ``seed`` as {"dir", "gen_s"} plus, per
    part asked for, {"turns", "arrivals", "rows"} and {"extract"}.  Parts
    missing from the entry are generated first.  ``gen_s`` is the
    generation wall of the parts asked for.  ``scale`` shrinks both
    populations (the smoke test uses a tiny one)."""
    sf = BASE_SF * scale
    head = max(2, round(EXTRACT_HEAD * scale))
    key = (f"seed{seed}-sf{sf:g}-head{head}-synth{synth_hash(repo_root)}"
           f"-v{LAYOUT_VERSION}")
    root = os.path.join(work, "cache")
    entry = os.path.join(root, key)
    os.makedirs(entry, exist_ok=True)
    meta = {}
    for part in parts:
        meta_path = os.path.join(entry, f"{part}.json")
        if not os.path.exists(meta_path):
            # build in a scratch directory and move the files in, so an
            # interrupted run leaves no half-written part behind
            tmp = os.path.join(entry, f".{part}.tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            t0 = time.perf_counter()
            info = PARTS[part](tmp, sf, seed, head, workers)
            info["gen_s"] = time.perf_counter() - t0
            for name in os.listdir(tmp):
                target = os.path.join(entry, name)
                shutil.rmtree(target, ignore_errors=True)
                os.replace(os.path.join(tmp, name), target)
            os.rmdir(tmp)
            with open(meta_path, "w") as f:
                json.dump(info, f)
        with open(meta_path) as f:
            meta[part] = json.load(f)
    os.utime(entry)
    _evict(root, keep=entry)
    out = {"dir": entry, "gen_s": sum(m["gen_s"] for m in meta.values())}
    if "turns" in meta:
        arrivals = os.path.join(entry, "arrivals")
        out.update(
            turns=os.path.join(entry, "turns.parquet"),
            arrivals=sorted(os.path.join(arrivals, a)
                            for a in os.listdir(arrivals)),
            rows=meta["turns"]["rows"],
        )
    if "extract" in meta:
        out["extract"] = os.path.join(entry, "extract.parquet")
    return out


def _evict(root: str, keep: str) -> None:
    """Bound the cache: keep the ``KEEP_ENTRIES`` newest entries."""
    entries = sorted(
        (os.path.join(root, d) for d in os.listdir(root)),
        key=os.path.getmtime, reverse=True,
    )
    for old in entries[KEEP_ENTRIES:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)
