#!/usr/bin/env python
"""Host SGEMM-capacity probe: float32 matmul throughput vs occupancy.

Same question as host_capacity_probe.py (per-vCPU speed at partial vs
full occupancy) but for the instruction mix that actually bounds the
ann_kernel scan: single-threaded OpenBLAS float32 GEMM at the kernel's
own tile shapes ((QCHUNK,dim) @ (dim,BLOCK), read from
ligra_spark.functions.similarity; dim = 128 as in the bench corpus).
If aggregate GFLOP/s at 32 procs is ~2x the 8-proc level instead of
4x, the box's 32 vCPUs share ~16 cores' worth of FPU (host-side SMT /
oversubscription, invisible to the guest's lscpu) and no engine change
can scale a compute-saturating kernel past that ceiling; a real
N -> 4N executor scale-out multiplies physical FPUs and does not hit
it.

Usage: python tools/sgemm_probe.py [reps]  (prints one JSON line)
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import sys
import time
from pathlib import Path

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ligra_spark.functions.similarity import BLOCK, QCHUNK  # noqa: E402

DIM = 128
FLOP_PER_REP = 2 * QCHUNK * DIM * BLOCK


def _worker(reps: int, q: "mp.Queue") -> None:
    import numpy as np

    rng = np.random.default_rng(os.getpid())
    a = rng.normal(size=(QCHUNK, DIM)).astype(np.float32)
    b = rng.normal(size=(DIM, BLOCK)).astype(np.float32)
    out = np.empty((QCHUNK, BLOCK), dtype=np.float32)
    np.dot(a, b, out=out)  # warm
    t0 = time.perf_counter()
    for _ in range(reps):
        np.dot(a, b, out=out)
    q.put(time.perf_counter() - t0)


def run(reps: int = 2000) -> dict:
    out: dict = {"reps": reps, "tile": [QCHUNK, DIM, BLOCK], "levels": {}}
    base_agg = None
    for p in (1, 8, 16, 32):
        q: "mp.Queue" = mp.Queue()
        procs = [mp.Process(target=_worker, args=(reps, q)) for _ in range(p)]
        for pr in procs:
            pr.start()
        walls = sorted(q.get() for _ in procs)
        for pr in procs:
            pr.join()
        gflops = [reps * FLOP_PER_REP / w / 1e9 for w in walls]
        agg = sum(gflops)
        out["levels"][str(p)] = {
            "per_worker_gflops": [round(g, 1) for g in gflops],
            "aggregate_gflops": round(agg, 1),
            "wall_median": round(statistics.median(walls), 3),
        }
        if p == 8:
            base_agg = agg
    out["agg_32_over_8"] = round(
        out["levels"]["32"]["aggregate_gflops"] / base_agg, 3
    )
    out["agg_16_over_8"] = round(
        out["levels"]["16"]["aggregate_gflops"] / base_agg, 3
    )
    # the ceiling a barrier-free 8->32 compute-saturating job can reach
    out["sgemm_scaling_ceiling_8to32"] = round(out["agg_32_over_8"] / 4, 3)
    return out


if __name__ == "__main__":
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    print(json.dumps(run(reps)))
