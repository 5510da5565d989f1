#!/usr/bin/env python
"""Workload-exact concurrency probe for the ann scan kernel.

Runs the REAL kernel (`_scan_partition`) on the REAL bench corpus
files in P independent OS processes (no Spark, no IPC, no shuffle) and
reports aggregate files/sec at each occupancy level. This bounds what
ANY scheduler can extract from this box for this exact workload: if
aggregate throughput at 4P processes is only ~3x the P level, the
scaling-efficiency ceiling for the Spark job is that ratio / 4, and
the gap is the machine (memory system / SMT sharing under the
hypervisor), not the engine.

Usage: python tools/ann_kernel_probe.py <parquet_dir> [levels...]
       (default levels 1 4 16; each worker scans files round-robin
        for a fixed wall window and reports files completed)
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time
from pathlib import Path

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

WINDOW_S = float(os.environ.get("LIGRA_PROBE_WINDOW", "12"))


def _load_queries(f0: str, n_q: int = 2000):
    import numpy as np
    import pyarrow.parquet as papq

    from ligra_spark.functions.similarity import _query_arrays

    b = next(
        papq.ParquetFile(f0).iter_batches(
            batch_size=1 << 16, columns=["vec_id", "embedding"],
            use_threads=False,
        )
    )
    ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    mat = (
        b.column(1).flatten().to_numpy(zero_copy_only=False)
        .reshape(b.num_rows, -1)
    )
    return _query_arrays(ids[:n_q], mat[:n_q])


def _worker(files: list[str], qarrs, offset: int, q: "mp.Queue") -> None:
    import pyarrow.parquet as papq

    from ligra_spark.functions.similarity import _scan_partition

    done = 0
    t0 = time.perf_counter()
    i = offset
    while time.perf_counter() - t0 < WINDOW_S:
        path = files[i % len(files)]
        i += 1
        pf = papq.ParquetFile(path)
        it = (
            rb.select(["vec_id", "embedding"])
            for rb in pf.iter_batches(
                batch_size=1 << 16, columns=["vec_id", "embedding"],
                use_threads=False,
            )
        )
        list(_scan_partition(it, qarrs, 5))
        done += 1
    q.put((done, time.perf_counter() - t0))


def run(pq_dir: str, levels: list[int]) -> dict:
    files = sorted(str(p) for p in Path(pq_dir).glob("*.parquet"))
    qarrs = _load_queries(files[0])
    out: dict = {"dir": pq_dir, "files": len(files), "window_s": WINDOW_S,
                 "levels": {}}
    for p in levels:
        q: "mp.Queue" = mp.Queue()
        procs = [
            mp.Process(target=_worker, args=(files, qarrs, j * 7, q))
            for j in range(p)
        ]
        for pr in procs:
            pr.start()
        res = [q.get() for _ in procs]
        for pr in procs:
            pr.join()
        agg = sum(d / w for d, w in res)
        out["levels"][str(p)] = {
            "aggregate_files_per_s": round(agg, 2),
            "per_worker": [round(d / w, 2) for d, w in res],
        }
    lv = out["levels"]
    if "4" in lv and "16" in lv:
        r = lv["16"]["aggregate_files_per_s"] / lv["4"]["aggregate_files_per_s"]
        out["agg_16_over_4"] = round(r, 3)
        out["kernel_ceiling_4to16"] = round(r / 4, 3)
    if "8" in lv and "32" in lv:
        r = lv["32"]["aggregate_files_per_s"] / lv["8"]["aggregate_files_per_s"]
        out["agg_32_over_8"] = round(r, 3)
        out["kernel_ceiling_8to32"] = round(r / 4, 3)
    return out


if __name__ == "__main__":
    pq_dir = sys.argv[1]
    levels = [int(x) for x in sys.argv[2:]] or [1, 4, 16]
    print(json.dumps(run(pq_dir, levels)))
