#!/usr/bin/env python
"""Host capacity probe: the same work in P independent processes per level.

Each level starts P processes (no Spark, no shared state). Every process
runs the mode's work once and reports the units it did and its wall. The
JSON line gives each level's per-worker walls and rates, the aggregate
rate, and that rate against the first level (1 process by default):
``aggregate_x`` reads P and ``eff`` 1.0 on a host whose cores are truly
independent; ``equal_split`` is the slowest worker's rate over the
first level's, the ceiling of a job whose barrier waits for its slowest
task. Levels are the powers of two up to the affinity mask, so
``taskset -c 0-1`` probes levels 1 and 2.

Modes:
  alu [iters=20000000]      integer LCG loop: no memory traffic, no BLAS
  sgemm [reps=2000]         single-threaded float32 GEMM at the ANN scan
                            tile, (QCHUNK, 128) @ (128, BLOCK) from
                            ligra_spark.functions.similarity
  membw [reps=20] [passes=3]
                            np.minimum.at random gather/scatter, the
                            access pattern of hash exchanges and label
                            lookups; each level keeps its best pass
  ann <parquet_dir> [window_s=12]
                            the real _query_arrays + _scan_partition
                            (k = 5, the first file's first 2000 rows as
                            queries) over the dir's *.parquet files,
                            files scanned per window (at least one)

Usage: python tools/host_probe.py <mode> [args]   (prints one JSON line)
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import queue
import sys
import time
from pathlib import Path

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ligra_spark.functions.similarity import (  # noqa: E402
    BLOCK,
    QCHUNK,
    _query_arrays,
    _scan_partition,
)

DIM = 128
MEMBW_IDS = 1_000_000
ANN_QUERIES = 2000
ANN_K = 5


def alu(worker: int, iters: int = 20_000_000) -> tuple[float, float]:
    t0 = time.perf_counter()
    x = 1
    for _ in range(iters):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
    return iters / 1e6, time.perf_counter() - t0


def sgemm(worker: int, reps: int = 2000) -> tuple[float, float]:
    import numpy as np

    rng = np.random.default_rng(worker)
    a = rng.normal(size=(QCHUNK, DIM)).astype(np.float32)
    b = rng.normal(size=(DIM, BLOCK)).astype(np.float32)
    out = np.empty((QCHUNK, BLOCK), dtype=np.float32)
    np.dot(a, b, out=out)  # warm
    t0 = time.perf_counter()
    for _ in range(reps):
        np.dot(a, b, out=out)
    return reps * 2 * QCHUNK * DIM * BLOCK / 1e9, time.perf_counter() - t0


def membw(worker: int, reps: int = 20) -> tuple[float, float]:
    import numpy as np

    rng = np.random.default_rng(1)
    a = rng.integers(0, MEMBW_IDS, 2 * MEMBW_IDS)
    lab = np.arange(MEMBW_IDS)
    t0 = time.perf_counter()
    for _ in range(reps):
        np.minimum.at(lab, a[:MEMBW_IDS], lab[a[MEMBW_IDS:]])
    return reps * MEMBW_IDS / 1e6, time.perf_counter() - t0


def _batches(path: str):
    import pyarrow.parquet as papq

    return papq.ParquetFile(path).iter_batches(
        batch_size=1 << 16, columns=["vec_id", "embedding"], use_threads=False
    )


def ann(
    worker: int, pq_dir: str, window_s: float = 12.0
) -> tuple[float, float]:
    files = sorted(str(p) for p in Path(pq_dir).glob("*.parquet"))
    b = next(_batches(files[0]))
    ids = b.column(0).to_numpy(zero_copy_only=False)
    mat = b.column(1).flatten().to_numpy(zero_copy_only=False)
    mat = mat.reshape(b.num_rows, -1)
    qarrs = _query_arrays(ids[:ANN_QUERIES], mat[:ANN_QUERIES])
    done = 0
    t0 = time.perf_counter()
    while not done or time.perf_counter() - t0 < window_s:
        path = files[(worker * 7 + done) % len(files)]
        list(_scan_partition(_batches(path), qarrs, ANN_K))
        done += 1
    return done, time.perf_counter() - t0


# mode -> (work, unit of the rates, argv types)
MODES = {
    "alu": (alu, "Miter", (int,)),
    "sgemm": (sgemm, "GFLOP", (int,)),
    "membw": (membw, "Mop", (int, int)),
    "ann": (ann, "file", (str, float)),
}


def _worker(q, mode: str, worker: int, args: tuple) -> None:
    q.put(MODES[mode][0](worker, *args))


def default_levels() -> tuple[int, ...]:
    n = len(os.sched_getaffinity(0))
    return tuple(1 << i for i in range(n.bit_length()))


def run(
    mode: str,
    args: tuple = (),
    levels: tuple[int, ...] | None = None,
    passes: int = 1,
) -> dict:
    """Run ``mode`` at every level ``passes`` times; keep each level's
    pass with the highest aggregate rate."""
    levels = levels or default_levels()
    # spawn, not fork: a worker must not inherit the caller's threads or
    # an already-initialized multi-threaded BLAS
    ctx = mp.get_context("spawn")
    best: dict[int, tuple[float, list]] = {}
    for _ in range(passes):
        for p in levels:
            q = ctx.Queue()
            procs = [
                ctx.Process(target=_worker, args=(q, mode, j, args))
                for j in range(p)
            ]
            for pr in procs:
                pr.start()
            res: list = []
            while len(res) < p:
                try:
                    res.append(q.get(timeout=1))
                except queue.Empty:
                    if any(pr.exitcode for pr in procs):
                        for pr in procs:
                            pr.terminate()
                        raise RuntimeError(f"{mode} worker failed at {p}")
            for pr in procs:
                pr.join()
            agg = sum(u / w for u, w in res)
            if p not in best or agg > best[p][0]:
                best[p] = (agg, res)
    base = best[levels[0]][0] / levels[0]
    out: dict = {
        "mode": mode,
        "args": list(args),
        "unit": MODES[mode][1],
        "passes": passes,
        "levels": {},
    }
    for p in levels:
        agg, res = best[p]
        rates = sorted(u / w for u, w in res)
        out["levels"][str(p)] = {
            "walls": sorted(round(w, 3) for _, w in res),
            "rates": [round(r, 3) for r in rates],
            "aggregate": round(agg, 3),
            "aggregate_x": round(agg / base, 3),
            "eff": round(agg / base / p, 3),
            "equal_split": round(rates[0] / base, 3),
        }
    return out


def main(argv: list[str]) -> None:
    if not argv or argv[0] not in MODES:
        sys.exit(__doc__)
    mode = argv[0]
    args = [f(v) for f, v in zip(MODES[mode][2], argv[1:])]
    passes = 1
    if mode == "membw":
        # the runner's pass count: a noise burst on a shared host then
        # costs one pass, not the level
        passes = args.pop() if len(args) == 2 else 3
    print(json.dumps(run(mode, tuple(args), passes=passes)), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
