#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Protocol mirrors the reference driver (1 untimed warmup + timed rounds,
ligra.h:480,490-495) where feasible; iterative queries run once (they
are already many Spark jobs, cold-start effects amortize internally).

Headline queries (BASELINE.json metric: edges-processed/sec for
PageRank + CC on the transcript-derived edge graph):

- pagerank_transcripts: 20 fixed power iterations over the edge graph
  derived from a deterministic synthetic transcripts table sized by sf
  (no external data; seed 42). Since r04 the transcript graph declares
  its conversation closure key, so PR/CC/LP here run the fused
  partition-local kernels (algorithms/closed.py) — the engine's actual
  production path for this input; the generic shuffling engine is
  still measured by pagerank_events / cc_events below.
- cc_transcripts: min-id components (closed contraction, exact).
- lp_transcripts: 5 synchronous label-propagation rounds.
- triangle_rmat: exact triangle count on a skewed R-MAT graph
  (transcript chains are triangle-free by construction, so TC gets the
  reference's own generator shape instead).
- pagerank_events / cc_events: same algorithms over the sf_dir events
  chains (driver testdata).
- minhash_lsh_docs, ann_topk: training-data-pipeline headliners.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_ONLY (comma-separated
query subset; default all).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

# one BLAS thread per task — Spark supplies the process-level parallelism
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")
# heap pre-fault opt-in (see session.py): bench runs want flat GC
# behavior; plain library callers keep the lazy heap
os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ligra_spark.algorithms import (  # noqa: E402
    cc_contract_local,
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from ligra_spark.graph import Graph  # noqa: E402
from ligra_spark.queries import q_ann_topk, q_minhash_lsh_docs  # noqa: E402
from ligra_spark.session import get_spark  # noqa: E402
from ligra_spark.sources import derive_edges, generate_transcripts  # noqa: E402
from ligra_spark.sources.events import edges_from_events  # noqa: E402
from ligra_spark.sources.rmat import rmat_graph_df  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PR_ITERS = 20
# comma-separated subset of queries to run (empty = all)
ONLY = {q for q in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if q}


def _want(name: str) -> bool:
    return not ONLY or name in ONLY


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else 0.1


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    # local[N,4]: allow 4 task attempts. Plain local[N] has
    # maxFailures=1, so ONE transient Python-worker death cancels the
    # job and (r04, observed) loses the whole bench run's timings;
    # a real cluster runs with task retries for exactly this reason.
    spark = get_spark(
        "ligra_bench", master=f"local[{CPUS},4]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed Python-worker warmup. The first Arrow-kernel job of a
    # session forks + cold-imports CPUS Python worker processes
    # (numpy/pandas/pyarrow), a fixed ~20-30s at local[32] that is
    # parallelism-INsensitive — profiled: an identical mapInArrow scan
    # is 33s on cold workers, 1.6s repeated warm. On a real cluster
    # executors' workers are long-lived (spark.python.worker.reuse),
    # so letting the first timed query absorb the fork+import storm
    # measures the harness, not the engine. One trivial kernel over
    # 2×CPUS single-row partitions warms the full worker pool.
    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    spark.range(0, 2 * CPUS, 1, 2 * CPUS).mapInArrow(_warm, "id long").count()

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    spreads: dict[str, list[float]] = {}

    errors: dict[str, str] = {}

    def timed(name, fn, trials: int = 1):
        """Time ``fn``; with ``trials > 1`` (cheap queries only) rerun
        and record min + the per-trial spread, so a regression can be
        told apart from a host-noise burst (VERDICT r02 item 8).

        A query that raises is recorded in ``errors`` and skipped —
        one failure must not lose every other query's timing (r04:
        a worker crash in the LAST query dropped the whole run).

        Before every trial: an UNTIMED ``System.gc()`` (~0.6s on the
        pre-faulted heap). Earlier queries leave garbage + pending
        ContextCleaner work (dropped shuffle/broadcast refs are only
        discovered at a GC); without the flush that storm fires inside
        a random later trial — measured as 17-28s spikes landing in
        arbitrary cc_events/minhash trials, gone with the flush. The
        reference protocol times rounds, not the allocator
        (ligra.h:490-495); a cluster run gets the same effect from
        per-job executor churn."""
        walls = []
        out = None
        for _ in range(trials):
            try:
                spark.sparkContext._jvm.System.gc()
                time.sleep(0.3)
            except Exception:  # noqa: BLE001 — hygiene only, never fatal
                pass
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:  # noqa: BLE001 — record, keep going
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"[bench] {name} FAILED: {errors[name]}",
                      file=sys.stderr, flush=True)
                return None
            walls.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(walls)
        if trials > 1:
            spreads[name] = walls
        # incremental progress on stderr: partial results survive a
        # later hard crash (the final JSON still goes to stdout alone)
        print(f"[bench] {name}: {walls}", file=sys.stderr, flush=True)
        return out

    # ---- transcript-derived link graph (the north-star input) -------------
    transcript_queries = ("pagerank_transcripts", "cc_transcripts", "lp_transcripts")
    if any(_want(q) for q in transcript_queries):
        transcripts = generate_transcripts(spark, max(200, int(200_000 * sf)))
        # closure_key: the transcript link graph is conversation-closed,
        # so PageRank/LP/CC dispatch to the fused partition-local Arrow
        # kernels (closed.py) — zero per-iteration shuffle, exact results
        # (parity pinned by tests/test_closed.py)
        g = Graph(
            derive_edges(transcripts, closure_key=True),
            closure_key="ckey",
            validated_closure=True,
            num_partitions=CPUS,
        )
        m = g.m  # materializes the closed edge table (untimed warmup)
        extras["transcript_edges"] = m

        if _want("pagerank_transcripts"):
            from ligra_spark.algorithms._iter import IterMetrics

            # untimed warmup rounds (reference protocol, ligra.h:480):
            # PageRank is the FIRST timed query, and on a freshly-booted
            # JVM the first ~6 SpMV iterations carry one-time JIT/
            # codegen + allocator first-touch cost (observed walls
            # 12.4, 9.1, 7.9, 5.4, 5.4, 3.6 then a flat ~1.0s/iter) —
            # a 5-iter untimed run absorbs that off the clock, exactly
            # as done for LP below
            # warmup released like LP below: the closed PR path persists
            # its kernel output, and an unreleased warmup both pins a
            # vertex-sized cache for the rest of the run AND (when
            # PR_ITERS happens to equal the warmup's 5) plan-cache-
            # matches the timed run into a cache read
            from ligra_spark.algorithms._iter import unpersist as _unp_pr

            try:
                wu_pr = pagerank(g, max_iters=5)
                wu_pr.count()
                _unp_pr(wu_pr)
            except Exception as exc:  # warmup must never abort the bench
                print(f"[bench] pagerank warmup failed: {exc}", file=sys.stderr)
            pr_ms: list[IterMetrics] = []

            def _pr_trial():
                # unpersist INSIDE the trial (like _lp_trial): a trial
                # that leaves its persisted closed-kernel result cached
                # lets the next trial plan-cache-match into a cache
                # read — min-of-trials would time a cache hit (the LP
                # bug of r04, ADVICE r04)
                m_ = IterMetrics()
                pr_ms.append(m_)
                r = pagerank(g, max_iters=PR_ITERS, metrics=m_)
                n_ = r.count()
                _unp_pr(r)
                return n_

            timed("pagerank_transcripts", _pr_trial, trials=3)
            extras["pagerank_edges_per_sec"] = round(
                m * PR_ITERS / timings["pagerank_transcripts"], 1
            )
            # per-iteration walls of the fastest trial: a degrading
            # tail (vs uniform) is the signature of plan/lineage
            # blowup, not compute
            best_pr = min(
                pr_ms, key=lambda m_: sum(r.get("wall_s", 0.0) for r in m_.rounds)
            )
            extras["pagerank_iter_walls"] = [
                round(r.get("wall_s", 0.0), 2) for r in best_pr.rounds
            ]
        if _want("cc_transcripts"):
            from ligra_spark.algorithms._iter import IterMetrics

            # partition-local Arrow contraction (cc_contract_local):
            # same min-id fixpoint as connected_components (oracle- and
            # parity-verified), one kernel pass + one edge-sized
            # sort-shuffle instead of ~5 shuffles × O(log) rounds
            #
            # one FULL untimed run first — the reference protocol
            # (ligra.h:480) that PR and LP above already follow. cc was
            # the only iterative query timed on first execution of its
            # own path (mapInArrow kernel + window sort), and measured
            # first-run costs are large and one-time: solo cold
            # local[16] round-0 wall 6.5s vs ~3s warm; it also absorbs
            # whatever transient the preceding PR run leaves (JIT
            # recompilation, old-gen debris) at the point cc runs
            try:
                cc_contract_local(g).count()
            except Exception as exc:
                print(f"[bench] cc warmup failed: {exc}", file=sys.stderr)
            cc_ms: list[IterMetrics] = []

            def _cct_trial():
                m_ = IterMetrics()
                cc_ms.append(m_)
                return cc_contract_local(g, metrics=m_).count()

            timed("cc_transcripts", _cct_trial, trials=3)
            extras["cc_edges_per_sec"] = round(m / timings["cc_transcripts"], 1)
            best_cc = min(
                cc_ms, key=lambda m_: sum(r.get("wall_s", 0.0) for r in m_.rounds)
            )
            extras["cc_iter_walls"] = [
                round(r.get("wall_s", 0.0), 2) for r in best_cc.rounds
            ]
            extras["cc_residuals"] = [r.get("residual") for r in best_cc.rounds]
        if _want("lp_transcripts"):
            from ligra_spark.algorithms._iter import IterMetrics

            # one FULL untimed round, the reference's own protocol
            # (ligra.h:480): a 1-iter warmup left trials 1-2 carrying
            # ~2x one-time JIT/codegen cost (measured [16.2, 15.4, 7.4]
            # — the mode-agg loop only gets C2-compiled after ~10
            # executions; 5 untimed iters absorb that off the clock)
            # NOTE on the closed-kernel path: repeated identical LP calls
            # build plan-identical mapInArrow nodes, and Spark's
            # CacheManager matches the previous call's persisted result
            # by canonicalized plan — so without releasing state between
            # trials, trials 2..n (and min-of-trials) measure a CACHE
            # READ, not compute (observed: 0.3s "LP" at 24M edges).
            # Each trial therefore unpersists its result, and the warmup
            # releases too; timed trials then recompute honestly.
            from ligra_spark.algorithms._iter import unpersist as _unp

            try:
                wu = label_propagation(g, max_iters=5)
                wu.count()
                _unp(wu)
            except Exception as exc:
                print(f"[bench] lp warmup failed: {exc}", file=sys.stderr)
            lp_metrics: list[IterMetrics] = []

            def _lp_trial():
                m_ = IterMetrics()
                lp_metrics.append(m_)
                res = label_propagation(g, max_iters=5, metrics=m_)
                n_ = res.count()
                _unp(res)
                return n_

            timed("lp_transcripts", _lp_trial, trials=3)
            # walls of the fastest trial (matches the reported min)
            best_lp = min(
                lp_metrics, key=lambda m_: sum(r.get("wall_s", 0.0) for r in m_.rounds)
            )
            extras["lp_iter_walls"] = [
                round(r.get("wall_s", 0.0), 2) for r in best_lp.rounds
            ]
        g.unpersist()

    # ---- skewed R-MAT graph for triangle counting --------------------------
    if _want("triangle_rmat"):
        rmat_m = max(10_000, int(5_000_000 * sf))
        rg = Graph(rmat_graph_df(spark, 17, rmat_m), dedupe=True, num_partitions=CPUS)
        _ = rg.m
        # one FULL untimed run (reference protocol, ligra.h:480): the
        # wedge-join path's first execution carries ~3x one-time JIT/
        # codegen cost (r04 spread [19.2, 6.5, 6.3] without it)
        try:
            triangle_count(rg)
        except Exception as exc:
            print(f"[bench] triangle warmup failed: {exc}", file=sys.stderr)
        tri = timed("triangle_rmat", lambda: triangle_count(rg), trials=3)
        extras["rmat_triangles"] = tri
        rg.unpersist()

    # ---- 10× closed-kernel input (VERDICT r04 item 8): one driver-
    # harness row at a compute-dominated scale (~6M derived edges) so
    # the closed path's edges/s claim is pinned by the authoritative
    # artifact. The transcripts table is generated once into a /tmp
    # parquet cache keyed by n_conv.
    if _want("pagerank_transcripts_10x"):
        from ligra_spark.algorithms._iter import IterMetrics
        from ligra_spark.algorithms._iter import unpersist as _unp_big

        n_big = 250_000
        big_pq = f"/tmp/ligra_bench_transcripts_{n_big}.parquet"
        if not Path(big_pq).exists():
            generate_transcripts(spark, n_big).write.mode("ignore").parquet(big_pq)
        gb = Graph(
            derive_edges(spark.read.parquet(big_pq), closure_key=True),
            closure_key="ckey",
            validated_closure=True,
            num_partitions=CPUS,
        )
        extras["pagerank_10x_edges"] = gb.m
        try:
            wu = pagerank(gb, max_iters=5)
            wu.count()
            _unp_big(wu)
        except Exception as exc:
            print(f"[bench] pagerank_10x warmup failed: {exc}", file=sys.stderr)
        big_ms: list[IterMetrics] = []

        def _pr_big_trial():
            m_ = IterMetrics()
            big_ms.append(m_)
            r = pagerank(gb, max_iters=PR_ITERS, metrics=m_)
            n_ = r.count()
            _unp_big(r)
            return n_

        timed("pagerank_transcripts_10x", _pr_big_trial, trials=3)
        extras["pagerank_10x_edges_per_sec"] = round(
            gb.m * PR_ITERS / timings["pagerank_transcripts_10x"], 1
        )
        best_big = min(
            big_ms, key=lambda m_: sum(r.get("wall_s", 0.0) for r in m_.rounds)
        )
        extras["pagerank_10x_iter_walls"] = [
            round(r.get("wall_s", 0.0), 2) for r in best_big.rounds
        ]
        gb.unpersist()

    # ---- driver testdata graphs -------------------------------------------
    if _want("pagerank_events") or _want("cc_events"):
        # num_partitions="auto" (VERDICT r04 item 6): the events chains
        # are ~100k edges — at 32 partitions every round pays scheduler
        # fan-out for ~3k-row tasks; auto sizes to 16 here (measured:
        # PR 11.4-13.8s → 7.2-8.0s, CC 15.9-27.5s → 5.9-6.3s), while
        # any ≥256k-edge input still gets the full session parallelism
        ev = Graph(
            edges_from_events(spark.read.parquet(f"{SF_DIR}/events.parquet")),
            num_partitions="auto",
        )
        _ = ev.m
        extras["events_partitions"] = ev.num_partitions
        if _want("pagerank_events"):
            timed(
                "pagerank_events",
                lambda: pagerank(ev, max_iters=PR_ITERS).count(),
                trials=3,
            )
        if _want("cc_events"):
            from ligra_spark.algorithms._iter import IterMetrics

            # untimed first run, same ligra.h:480 protocol (r04 spread
            # [13.9, 7.5, 6.8] — the hash-min loop's iterate/checkpoint
            # path pays one-time JIT on first execution)
            try:
                connected_components(ev).count()
            except Exception as exc:
                print(f"[bench] cc_events warmup failed: {exc}", file=sys.stderr)
            # per-round walls + frontier sizes recorded per trial
            # (VERDICT r04 item 1): the r04 driver box measured
            # [20.3, 54.7, 24.8] where two builder runs measured
            # 6.9-9.5s — with walls in the artifact, a recurrence is
            # attributable to specific rounds instead of mysterious
            ccev_ms: list[IterMetrics] = []

            def _ccev_trial():
                m_ = IterMetrics()
                ccev_ms.append(m_)
                return connected_components(ev, metrics=m_).count()

            timed("cc_events", _ccev_trial, trials=3)
            if ccev_ms:
                extras["cc_events_iter_walls_per_trial"] = [
                    [round(r.get("wall_s", 0.0), 2) for r in m_.rounds]
                    for m_ in ccev_ms
                ]
                extras["cc_events_frontiers"] = [
                    r.get("frontier") for r in ccev_ms[0].rounds
                ]
        ev.unpersist()

    # ---- training-data pipeline ops ----------------------------------------
    if _want("minhash_lsh_docs"):
        # untimed warmup of THIS query's own path (banded equi-join +
        # posting-list explode): the generic worker warmup doesn't
        # cover it — r04 first trial was 11.0s vs 5.7s warm
        try:
            q_minhash_lsh_docs(spark, SF_DIR).count()
        except Exception as exc:
            print(f"[bench] minhash warmup failed: {exc}", file=sys.stderr)
        timed(
            "minhash_lsh_docs",
            lambda: q_minhash_lsh_docs(spark, SF_DIR).count(),
            trials=3,
        )
    if _want("ann_topk"):
        timed("ann_topk", lambda: q_ann_topk(spark, SF_DIR).count(), trials=3)

    # ---- CPU-dense Arrow-kernel similarity search ---------------------------
    # (synthetic embeddings sized by sf; compute runs in per-core Python
    # worker processes — the operator class that scales past single-JVM
    # GC/allocation limits, see BENCH.md)
    if _want("ann_kernel"):
        import numpy as np
        import pandas as pd

        from ligra_spark.functions.similarity import cosine_topk_parquet

        ann_n = max(20_000, int(4_000_000 * sf))
        ann_q = max(100, ann_n // 200)
        dim = 128

        def gen_vecs(batches):
            for pdf in batches:
                ids = pdf["id"].to_numpy(np.int64)
                r = np.random.default_rng(int(ids[0]) + 99)
                yield pd.DataFrame(
                    {
                        "vec_id": ids,
                        "embedding": list(
                            r.normal(size=(len(ids), dim)).astype(np.float32)
                        ),
                    }
                )

        # The corpus feeds the scan from PARQUET, not a DataFrame
        # cache: the InMemoryRelation → Arrow conversion measured
        # ~0.9 s/25k-row task (the kernel's own fold is 0.33 s), while
        # the parquet vectorized reader hands the Arrow UDF columnar
        # batches nearly for free — and disk-resident parquet is the
        # honest 100-TB shape for a corpus anyway. Feed granularity is
        # CPUS×4 files: with per-task fixed cost
        # now small, 4 waves of work-stealing absorb the host's
        # bimodal-vCPU straggler effect that a 1-task-per-core barrier
        # is fully exposed to (BENCH.md r05 note).
        ann_mult = 4
        ann_pq = f"/tmp/ligra_ann_{ann_n}_{dim}_{CPUS}x{ann_mult}.parquet"
        if not os.path.exists(ann_pq):
            (
                spark.range(0, ann_n, 1, CPUS * ann_mult)
                .mapInPandas(gen_vecs, "vec_id long, embedding array<float>")
                .write.parquet(ann_pq)
            )
        emb = spark.read.parquet(ann_pq)
        # rowgroup min/max stats prune the query-set scan to ~1 file
        qs = emb.where(f"vec_id < {ann_q}")
        # untimed warmup of this query's exact BLAS/Arrow/window path
        # at FULL buffer shape on EVERY worker: r03's tiny warmup
        # (256 corpus × 8 queries) left a 3.6x cold first trial because
        # the per-worker (QCHUNK, BLOCK) sims buffers + glibc arenas
        # first-fault only at real shape. `vec_id % 6` keeps ~1 block
        # per partition (spark.range splits contiguously, so a `< n`
        # prefix filter would warm only the first few partitions).
        # warmup IS the timed plan (full parquet scan → kernel): with
        # the parquet feed a filtered warmup leaves the no-filter scan
        # plan cold (JIT + page-cache) and the first trial 3-4× slow
        # storage-direct scan (cosine_topk_parquet): workers read the
        # corpus files with pyarrow locally — the JVM→Python Arrow IPC
        # copy of the embedding column (measured 1.2-2.7 s at 1.6M×128,
        # vs 0.15 s for the JVM-side scan itself) never happens; path
        # parity vs cosine_topk_kernel and the zip_with reference is
        # pytest-pinned (tests/test_similarity.py)
        cosine_topk_parquet(ann_pq, qs, k=5).count()
        timed(
            "ann_kernel",
            lambda: cosine_topk_parquet(ann_pq, qs, k=5).count(),
            trials=3,
        )
        extras["ann_kernel_vectors"] = ann_n
        extras["ann_feed_files"] = CPUS * ann_mult

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_spread": spreads,
                "sf": sf,
                "cpus": CPUS,
                "extras": extras,
                **({"errors": errors} if errors else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
