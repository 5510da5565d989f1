"""Partition-closed iteration kernels.

The transcript link graph has a structural property the generic engine
cannot see: **every edge lives inside one conversation** (reply edges
link consecutive turns of a conv, tool edges link a call to its reply in
the same conv — sources/transcripts.py:163-199). Declaring that closure
key on the :class:`~ligra_spark.graph.Graph` (``closure_key=``) lets the
iterative algorithms run as *fused partition-local Arrow kernels*: one
repartition by the key up front, then every power/label iteration is
pure C-speed numpy inside the partition — **zero per-iteration
shuffle**, versus one message shuffle + one state materialization per
round on the generic path.

This is the same design as ``cc_contract_local`` (components.py)
promoted into a first-class dispatch: the reference's analog is that
Ligra's whole computation is "partition local" on one shared-memory
node (ligra.h:469-497); here the closure key recovers that locality
*per conversation* on a cluster.

Exactness (not approximation):

- **PageRank** decomposes exactly over conversation-closed partitions:
  ``p_next[d] = (1-λ)/n + λ·Σ_{s→d} p[s]/outdeg(s)`` only references
  in-partition sources, and the global constants (n, the damping base)
  are computed once up front. The L1 convergence test is global, so the
  kernel first runs to ``max_iters`` recording per-iteration *local* L1
  (partitions that reach an exact local fixpoint stop early — their
  state is thereafter constant, so absent L1 rows read as 0.0); the
  driver sums local L1s per iteration into the global norm and, iff the
  tolerance was crossed before the last executed round, replays with
  exactly the converged round count. Output is pytest-pinned equal to
  the generic path at rtol 1e-12 (float summation order is the only
  difference), same round count.
- **Label propagation** needs no replay at all: a partition whose
  synchronous update changes nothing is at a fixpoint of a closed
  subgraph and stays there, so "iterate until local fixpoint or
  ``max_iters``" yields *bit-identical* labels to the generic
  synchronous rounds with the global changed==0 stop. Ties break to the
  minimum label exactly like ``mode(label, true)``
  (label_propagation.py:44-53).
- **Connected components**: ``cc_contract_local`` already consumes
  ``graph.edges_derived``; a declared closure key upgrades that table
  to *guaranteed* closure, so contraction completes in one round with
  an empty residual.

Every kernel here, ``cc_contract_local``'s contraction rounds, the
local-parallel triangle probe (triangle.py) and the streaming CC merge
(streaming/components.py) build their partition-local CSR with the
module-level numpy helpers below (``local_index``, ``sv_labels``,
``undirected``, ``orient``, ``wedge_hits``). Kernels reference them by
module, so executors import ``ligra_spark`` — ``get_spark`` puts the
package on the workers' ``PYTHONPATH``, and a cluster ships it with
``spark-submit --py-files ligra_spark.zip``.

100-TB story: at 10^12 turns the transcripts table is stored
partitioned/bucketed by ``conv_id`` (its natural Iceberg layout), so
even the one up-front repartition disappears — iteration over the full
corpus is embarrassingly parallel, and cluster scaling is bounded by
scan bandwidth alone. The generic path (graph.py) remains the engine
for graphs without a closure key (events, rMat, external edge lists).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ligra_spark.algorithms._iter import IterMetrics, Timer, derive

# Per-call salt for the PERSISTED kernel outputs below. Spark's
# CacheManager replaces any subtree whose canonicalized plan matches a
# persisted DataFrame with the cached relation — and two calls of the
# same kernel builder pickle to identical bytes, so a repeated
# pagerank/LP call whose previous result is still persisted would
# silently become a CACHE READ (the r04 LP bench bug, resurfaced by the
# whole-graph local dispatch: bench.py's pagerank_events trials never
# unpersist, and min-of-trials then times a cache hit — measured
# [1.337, 0.168, 0.168]). Capturing a fresh counter value in each
# kernel closure makes every call's pickled command bytes unique, so
# identical repeated calls always recompute; the persist still serves
# its intra-call purpose (the L1/changed collect + the state readout
# share one kernel pass).
import itertools as _itertools

_call_salt = _itertools.count()


def local_index(batches):
    """``(ids, s, d)`` for one partition's ``(src, dst)`` Arrow batches,
    or ``None`` when it has no edges: ``ids`` is the sorted distinct
    endpoint array (global 64-bit ids), ``s``/``d`` index into it.

    Indices are int32 whenever the vertex count allows (always, at sane
    partition sizes): the kernels are bound by random gathers
    (``lab[s]``, ``share[s]``, ``minimum.at``), so halving the element
    width halves their traffic. Results are LOCAL indices, mapped back
    through ``ids[]`` at emit, so the downcast never touches a global
    id."""
    srcs, dsts = [], []
    for batch in batches:
        srcs.append(batch.column(0).to_numpy(zero_copy_only=False))
        dsts.append(batch.column(1).to_numpy(zero_copy_only=False))
    if not srcs:
        return None
    src = np.concatenate(srcs)
    dst = np.concatenate(dsts)
    if src.size == 0:
        return None
    ids = np.unique(np.concatenate([src, dst]))
    idx_t = np.int32 if len(ids) < 2**31 else np.int64
    s = np.searchsorted(ids, src).astype(idx_t, copy=False)
    d = np.searchsorted(ids, dst).astype(idx_t, copy=False)
    return ids, s, d


def sv_labels(s, d, nl):
    """Component label of each of ``nl`` local vertices = the minimum
    local index in its component (= the minimum global id, since
    ``ids`` is sorted). Shiloach–Vishkin: hook each edge's two ROOTS to
    their min (updating roots, not endpoints, merges whole trees per
    pass), then compress to stars by full pointer doubling. O(log
    component-size) passes regardless of id order; the endpoint-update
    variant needs O(path length) passes on chains with random ids
    (measured 40 sweeps on transcripts)."""
    lab = np.arange(nl, dtype=s.dtype)
    while True:
        before = lab.copy()
        rs, rd = lab[s], lab[d]
        m = np.minimum(rs, rd)
        np.minimum.at(lab, rs, m)
        np.minimum.at(lab, rd, m)
        while True:
            l2 = lab[lab]
            if np.array_equal(l2, lab):
                break
            lab = l2
        if np.array_equal(lab, before):
            break
    return lab


def undirected(s, d, nl):
    """The simple undirected graph of local edges ``(s, d)``: both
    orientations, self-loops dropped, duplicates removed, sorted by
    ``(a, b)`` — ``Graph.symmetrized()``'s dedupe semantics. Returns
    int64 ``(a, b)``. Indices widen to int64 BEFORE forming the
    ``a*nl+b`` keys: numpy 1.x keeps ``int32_array * np.int64(nl)`` in
    int32, which overflows once ``nl > 46340``."""
    a = np.concatenate([s, d]).astype(np.int64)
    b = np.concatenate([d, s]).astype(np.int64)
    keep = a != b
    key = np.unique(a[keep] * nl + b[keep])
    return key // nl, key % nl


def orient(a, b, ids):
    """Compact-forward orientation of an ``undirected`` edge set:
    ``(u, v, grp_end, key)`` keeps each edge once, from the lower to
    the higher (degree, id) rank (the distributed plan's orientation,
    triangle.py ``_oriented_edges``), grouped by tail ``u`` with
    out-lists sorted by head rank. ``grp_end[e]`` is the end offset of
    edge e's u-group; ``key`` is the sorted ``u*nl+v`` probe array."""
    nl = len(ids)
    deg = np.bincount(a, minlength=nl)
    order = np.lexsort((ids, deg))
    rank = np.empty(nl, np.int64)
    rank[order] = np.arange(nl)
    fwd = rank[a] < rank[b]
    u, v = a[fwd], b[fwd]
    o2 = np.lexsort((rank[v], u))
    u, v = u[o2], v[o2]
    grp_end = np.searchsorted(u, u, side="right")
    return u, v, grp_end, np.sort(u * nl + v)


def wedge_hits(v, grp_end, key, nl, e0, e1):
    """Wedge probe over the oriented edges ``[e0, e1)``: every
    rank-ordered head pair ``(v[wb], v[wc])`` of one u-group is a wedge,
    closed iff its ``v[wb]*nl+v[wc]`` key is in ``key``. Returns
    ``(wb, wc, hits)``; a triangle is counted once, at its lowest-rank
    corner. Temporaries are ~40 B per wedge of the range."""
    idx = np.arange(e0, e1)
    reps = grp_end[e0:e1] - idx - 1
    wb = np.repeat(idx, reps)
    cum = np.concatenate([[0], np.cumsum(reps)])
    wc = np.arange(cum[-1]) - np.repeat(cum[:-1], reps) + wb + 1
    probe = v[wb] * nl + v[wc]
    pos = np.searchsorted(key, probe)
    hits = (pos < len(key)) & (key[np.minimum(pos, len(key) - 1)] == probe)
    return wb, wc, hits


def closed_counts(edges: DataFrame) -> tuple[int, int]:
    """(n, m) of a closure-partitioned edge table in ONE pass.

    Each vertex appears in exactly one partition (its conversation's),
    so the global vertex count is the sum of per-partition distinct
    endpoint counts — no global distinct shuffle."""

    def _count_kernel(batches):
        import pyarrow as pa

        parts, m = [], 0
        for batch in batches:
            s = batch.column(0).to_numpy(zero_copy_only=False)
            d = batch.column(1).to_numpy(zero_copy_only=False)
            m += len(s)
            parts.append(np.unique(np.concatenate([s, d])))
        nv = len(np.unique(np.concatenate(parts))) if parts else 0
        yield pa.RecordBatch.from_arrays(
            [pa.array([nv], type=pa.int64()), pa.array([m], type=pa.int64())],
            ["nv", "ne"],
        )

    row = (
        edges.select("src", "dst")
        .mapInArrow(_count_kernel, "nv long, ne long")
        .agg(F.sum("nv").alias("n"), F.sum("ne").alias("m"))
        .collect()[0]
    )
    return int(row["n"] or 0), int(row["m"] or 0)


def _pr_kernel(n_glob: int, damping: float, iters: int):
    """Build the per-partition PageRank kernel (the closure captures
    the global constants; the CSR helpers are module-level)."""
    _salt = next(_call_salt)

    def kernel(batches):
        import pyarrow as pa

        _ = _salt  # unique pickled bytes per call (see _call_salt)
        idx = local_index(batches)
        if idx is None:
            return
        ids, s, d = idx
        nl = len(ids)
        out_deg = np.bincount(s, minlength=nl).astype(np.float64)
        nz = out_deg > 0
        base = (1.0 - damping) / n_glob
        p = np.full(nl, 1.0 / n_glob)
        l1s = []
        for _ in range(iters):
            share = np.zeros(nl)
            np.divide(p, out_deg, out=share, where=nz)
            contrib = np.bincount(d, weights=share[s], minlength=nl)
            p_next = base + damping * contrib
            l1 = float(np.abs(p_next - p).sum())
            l1s.append(l1)
            p = p_next
            if l1 == 0.0:  # exact local fixpoint: state is constant now
                break
        t = len(l1s)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate([ids, np.full(t, -1, np.int64)])),
                pa.array(np.concatenate([p, np.array(l1s)])),
                pa.array(
                    np.concatenate(
                        [np.full(nl, -1, np.int32), np.arange(t, dtype=np.int32)]
                    ),
                    type=pa.int32(),
                ),
            ],
            ["id", "val", "it"],
        )

    return kernel


def pagerank_closed(
    graph,
    damping: float = 0.85,
    tol: float = 1e-7,
    max_iters: int = 100,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, rank)`` — exact PageRank.C semantics (damping 0.85, L1
    stop, dangling mass leaks) over a closure-partitioned edge table.
    One up-front count pass + one iterate pass (+ one replay pass iff
    the L1 tolerance was crossed before the last executed round);
    every iteration inside the pass is numpy, zero shuffle."""
    edges = graph.closed_edges.select("src", "dst")
    timer = Timer()
    n = graph.n  # closed count kernel (Graph.n routes here when closed)
    if n == 0:
        return graph.spark.createDataFrame([], "id long, rank double")

    out = edges.mapInArrow(
        _pr_kernel(n, damping, max_iters), "id long, val double, it int"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    l1_rows = (
        out.where(F.col("it") >= 0)
        .groupBy("it")
        .agg(F.sum("val").alias("l1"))
        .collect()
    )
    glob_l1 = {int(r["it"]): float(r["l1"]) for r in l1_rows}
    t_max = max(glob_l1) + 1 if glob_l1 else 0
    rounds = next(
        (t + 1 for t in range(t_max) if glob_l1.get(t, 0.0) < tol), max_iters
    )
    wall = timer.lap()
    replay_wall = None
    if rounds < t_max:
        # tolerance crossed before some partition's last executed round:
        # replay with exactly the converged round count (partitions at a
        # local fixpoint before `rounds` still stop early — their state
        # is identical either way)
        out.unpersist()
        out = edges.mapInArrow(
            _pr_kernel(n, damping, rounds), "id long, val double, it int"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        out.count()  # replay wall measured here, lazy otherwise
        replay_wall = timer.lap()
    if metrics is not None:
        # the kernel fuses all rounds into ONE pass, so per-round walls
        # are the pass wall amortized evenly over the rounds ACTUALLY
        # EXECUTED in that pass (t_max, not the converged `rounds` —
        # ADVICE r04: amortizing over `rounds` overstated per-round
        # cost); flagged fused=True so a "degrading tail" diagnostic
        # cannot fire on these
        per = wall / max(t_max, 1)
        for t in range(rounds):
            kv = dict(
                l1=glob_l1.get(t, 0.0), wall_s=per, edges=graph.m, fused=True
            )
            if t == rounds - 1:
                # exploratory rounds past convergence + the replay pass
                # are real measured cost; carried as EXPLICIT fields on
                # the final round (not an extra round entry — the round
                # count is parity-pinned against the generic path), so
                # sum(wall_s) + overshoot_wall_s + replay_wall_s equals
                # the total measured wall
                extra = wall - per * rounds
                if extra > 1e-9:
                    kv["overshoot_rounds"] = t_max - rounds
                    kv["overshoot_wall_s"] = extra
                if replay_wall is not None:
                    kv["replay_wall_s"] = replay_wall
            metrics.record(t, **kv)
    return derive(
        out.where(F.col("it") < 0).select("id", F.col("val").alias("rank")), out
    )


def _lp_kernel(iters: int, symmetrize: bool):
    _salt = next(_call_salt)

    def kernel(batches):
        import pyarrow as pa

        _ = _salt  # unique pickled bytes per call (see _call_salt)
        idx = local_index(batches)
        if idx is None:
            return
        ids, s, d = idx
        nl = len(ids)
        emit_mask = None
        if symmetrize:
            # Graph.symmetrized()'s dedupe=True semantics; the
            # non-symmetrized path keeps raw edge multiplicities like
            # the generic LP on a raw graph
            s, d = undirected(s, d, nl)
            # the generic path's vertex universe is the SYMMETRIZED
            # graph's endpoints: a vertex whose only edges were
            # self-loops drops out of it (found by the randomized
            # parity test), so restrict emission the same way
            present = np.zeros(nl, np.bool_)
            present[s] = True
            present[d] = True
            if not present.all():
                emit_mask = present
        lab = ids.copy()  # labels are GLOBAL vertex ids
        changed_per_round = []
        for _ in range(iters if len(s) else 0):
            msg = lab[s]
            order = np.lexsort((msg, d))
            dd, ll = d[order], msg[order]
            newg = np.empty(len(dd), np.bool_)
            newg[0] = True
            newg[1:] = (dd[1:] != dd[:-1]) | (ll[1:] != ll[:-1])
            starts = np.flatnonzero(newg)
            counts = np.diff(np.append(starts, len(dd)))
            gd, gl = dd[starts], ll[starts]
            segb = np.empty(len(gd), np.bool_)
            segb[0] = True
            segb[1:] = gd[1:] != gd[:-1]
            seg_starts = np.flatnonzero(segb)
            seg_id = np.cumsum(segb) - 1
            maxc = np.maximum.reduceat(counts, seg_starts)
            # most-frequent label, ties to MINIMUM label: groups are
            # sorted by (gd, gl asc), so the first max-count entry per
            # segment is the min-label winner — mode(label, true)
            cand = np.flatnonzero(counts == maxc[seg_id])
            first = cand[np.unique(seg_id[cand], return_index=True)[1]]
            new_lab = lab.copy()
            new_lab[gd[first]] = gl[first]
            changed = int(np.count_nonzero(new_lab != lab))
            changed_per_round.append(changed)
            lab = new_lab
            if changed == 0:  # closed fixpoint: stays fixed forever
                break
        if emit_mask is not None:
            ids = ids[emit_mask]
            lab = lab[emit_mask]
        t = len(changed_per_round)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate([ids, np.full(t, -1, np.int64)])),
                pa.array(
                    np.concatenate([lab, np.array(changed_per_round, np.int64)])
                ),
                pa.array(
                    np.concatenate(
                        [
                            np.full(len(ids), -1, np.int32),
                            np.arange(t, dtype=np.int32),
                        ]
                    ),
                    type=pa.int32(),
                ),
            ],
            ["id", "label", "it"],
        )

    return kernel


def _cc_kernel(batches):
    """``(id, comp)`` min-id labels of one partition's local subgraph.
    Exact global components when the partition is closed; one
    contraction round of ``cc_contract_local`` otherwise."""
    import pyarrow as pa

    idx = local_index(batches)
    if idx is None:
        return
    ids, s, d = idx
    lab = sv_labels(s, d, len(ids))
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(ids[lab])], ["id", "comp"]
    )


def connected_components_closed(
    graph, metrics: IterMetrics | None = None
) -> DataFrame:
    """``(id, comp)`` min-id components in ONE kernel pass, zero
    shuffle: with a declared closure key every component is a subset of
    one closure group, so partition-local Shiloach–Vishkin labels ARE
    the global labels — no cross-partition coupling rounds, no window
    sort-shuffle over the pair stream (cc_contract_local's one
    remaining exchange). Identical output to Components.C's hash-min
    fixpoint (same min-id contract as cc_contract_local)."""
    timer = Timer()
    out = graph.closed_edges.select("src", "dst").mapInArrow(
        _cc_kernel, "id long, comp long"
    )
    if metrics is not None:
        # materialize so the recorded wall is the kernel's, not a lazy 0
        from ligra_spark.algorithms._iter import materialize

        out = materialize(out)
        metrics.record(0, residual=0, wall_s=timer.lap())
    return out


def _tri_kernel(per_vertex: bool):
    """Partition-local Triangle.C: sorted-adjacency wedge closure under
    the (degree, id) compact-forward rank — triangles never cross a
    closure partition, so local counts sum to the exact global count."""

    def kernel(batches):
        import pyarrow as pa

        def emit(ids, tri_of):
            if per_vertex:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids), pa.array(tri_of)], ["id", "triangles"]
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([int(tri_of)], type=pa.int64())], ["triangles"]
                )

        idx = local_index(batches)
        if idx is None:
            return
        ids, s, d = idx
        nl = len(ids)
        u, v, grp_end, key = orient(*undirected(s, d, nl), ids)
        wb, wc, hits = wedge_hits(v, grp_end, key, nl, 0, len(u))
        if per_vertex:
            tri = np.zeros(nl, np.int64)
            for corner in (u[wb[hits]], v[wb[hits]], v[wc[hits]]):
                tri += np.bincount(corner, minlength=nl)
            yield from emit(ids, tri)
        else:
            yield from emit(ids, int(hits.sum()))

    return kernel


def triangle_count_closed(graph) -> int:
    """Exact global triangle count over a closure-partitioned graph:
    one Arrow pass, no wedge shuffle at all (the generic plan's two
    shuffled joins + semi-join become per-partition numpy)."""
    edges = graph.closed_edges.select("src", "dst")
    row = (
        edges.mapInArrow(_tri_kernel(False), "triangles long")
        .agg(F.sum("triangles").alias("t"))
        .collect()[0]
    )
    return int(row["t"] or 0)


def triangles_per_vertex_closed(graph) -> DataFrame:
    """``(id, triangles)`` incident-triangle counts, one Arrow pass."""
    edges = graph.closed_edges.select("src", "dst")
    return edges.mapInArrow(_tri_kernel(True), "id long, triangles long")


def eccentricity_closed(
    graph, metrics: IterMetrics | None = None
) -> DataFrame:
    """``(id, radius INT)`` — EXACT per-vertex eccentricity over the
    symmetrized graph, one kernel pass.

    The generic exact variant (kBFS-Exact.C, radii.py ``kbfs_exact``)
    needs ``ceil(n/64)`` full 64-bit multi-BFS propagations — O(n·m/64)
    work, hopeless at corpus scale. Closure changes the asymptotics:
    eccentricities only involve a vertex's own component, and closed
    components are conversation-sized, so a per-partition level-
    synchronous multi-source BFS (every vertex a source at once, pair
    frontier deduped against a sorted visited-key array) costs
    Σ_conv O(L²) total — linear in the corpus for bounded conversation
    length. Vertex universe and distances match ``kbfs_exact``
    (symmetrized + deduped graph; pytest parity)."""

    def _ecc_kernel(batches):
        import pyarrow as pa

        idx = local_index(batches)
        if idx is None:
            return
        ids, s, d = idx
        nl = len(ids)
        # kbfs_exact runs over graph.symmetrized(), whose vertex universe
        # also drops self-loop-only vertices — same emission rule as the
        # LP kernel
        a, b = undirected(s, d, nl)
        present = np.zeros(nl, np.bool_)
        present[a] = True
        present[b] = True
        ecc = np.zeros(nl, np.int32)
        if len(a):
            # CSR over the deduped symmetric edges (sorted by (a, b))
            offs = np.searchsorted(a, np.arange(nl + 1))
            # all-sources level-synchronous BFS: pair keys src*nl + v
            cur = np.arange(nl, dtype=np.int64) * nl + np.arange(nl)
            cur = cur[present[np.arange(nl)]]
            visited = np.sort(cur)
            level = 0
            while len(cur):
                level += 1
                cs, cv = cur // nl, cur % nl
                cnt = offs[cv + 1] - offs[cv]
                ns = np.repeat(cs, cnt)
                cum = np.concatenate([[0], np.cumsum(cnt)])
                idx = (
                    np.arange(cum[-1])
                    - np.repeat(cum[:-1], cnt)
                    + np.repeat(offs[cv], cnt)
                )
                keys = np.unique(ns * np.int64(nl) + b[idx])
                pos = np.searchsorted(visited, keys)
                pos_c = np.minimum(pos, len(visited) - 1)
                new = keys[(pos >= len(visited)) | (visited[pos_c] != keys)]
                if not len(new):
                    break
                visited = np.union1d(visited, new)
                np.maximum.at(ecc, new // nl, np.int32(level))
                cur = new
        ids = ids[present]
        ecc = ecc[present]
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(ecc, type=pa.int32())], ["id", "radius"]
        )

    timer = Timer()
    out = graph.closed_edges.select("src", "dst").mapInArrow(
        _ecc_kernel, "id long, radius int"
    )
    if metrics is not None:
        # one fused round recorded, like connected_components_closed:
        # callers passing IterMetrics (kbfs_exact dispatch) must not
        # silently get an empty rounds list (ADVICE r04)
        from ligra_spark.algorithms._iter import materialize

        out = materialize(out)
        metrics.record(0, wall_s=timer.lap(), fused=True)
    return out


def label_propagation_closed(
    graph,
    max_iters: int = 20,
    symmetrize: bool = True,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, label)`` — bit-identical to the generic synchronous LP
    (most-frequent neighbor label, ties to minimum, stop on global
    changed==0 or ``max_iters``) in ONE kernel pass: closed partitions
    that reach a local fixpoint are fixed forever, so per-partition
    early stop composes into the exact global stopping rule."""
    edges = graph.closed_edges.select("src", "dst")
    timer = Timer()
    out = edges.mapInArrow(
        _lp_kernel(max_iters, symmetrize), "id long, label long, it int"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if metrics is not None:
        rows = (
            out.where(F.col("it") >= 0)
            .groupBy("it")
            .agg(F.sum("label").alias("changed"))
            .collect()
        )
        glob = {int(r["it"]): int(r["changed"]) for r in rows}
        t_max = max(glob) + 1 if glob else 0
        # global rounds = rounds until every partition was fixed (or
        # cap); walls are the fused pass amortized evenly (fused=True,
        # same caveat as pagerank_closed)
        wall = timer.lap()
        for t in range(t_max):
            metrics.record(
                t, changed=glob.get(t, 0), wall_s=wall / max(t_max, 1),
                fused=True,
            )
    return derive(out.where(F.col("it") < 0).select("id", "label"), out)
