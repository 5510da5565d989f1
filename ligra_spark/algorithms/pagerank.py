"""PageRank — power iteration with Ligra-faithful semantics.

Reference: apps/PageRank.C — damping 0.85, init 1/n, per round
``p_next[d] += p_curr[s]/outdeg(s)`` over all edges (writeAdd,
PageRank.C:33-41) then ``p_next = 0.85*p_next + 0.15/n``
(PageRank.C:44-56); converges when the **L1 norm of the rank delta**
drops below 1e-7, max 100 iterations (PageRank.C:73, 90-98).

Two deliberate semantic reproductions for 1e-6 parity:

- **No dangling redistribution**: vertices with out-degree 0 leak their
  rank mass — PageRank.C:33-40 never redistributes sink mass, so total
  rank sum decays below 1. We match that exactly.
- **All-vertices frontier every round** (PageRank.C:80-87): the
  iteration is always dense, so every round is one SpMV, ``edge_map``'s
  shuffle plan with the ``sum`` combiner: the state's shares join
  ``edges_by_src`` and sum by ``dst``, one shuffle of
  partially-aggregated contributions. It is not exchange-free. Under
  the broadcast threshold (64 MB from ``get_spark``) Spark broadcasts
  the cached edge table every round (a ``BroadcastHashJoin`` on the
  29,932-edge R-MAT graph), and under AQE the checkpointed state
  reports no partitioning, so the state ⋈ contributions join exchanges
  it on ``id``.

``pagerank_delta`` is the frontier-sparsifying variant
(apps/PageRankDelta.C): only vertices whose rank moved by more than
``eps2 = 0.01 ×`` their rank stay in the frontier, exercising the
direction-switching scheduler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import (
    IterMetrics,
    Timer,
    commit,
    commit_degrees,
    derive,
)
from ligra_spark.algorithms.dispatch import choose_backend
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map
from ligra_spark.operators.vertex_ops import vertex_map


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    tol: float = 1e-7,
    max_iters: int = 100,
    metrics: IterMetrics | None = None,
    checkpointer=None,
) -> DataFrame:
    """Returns ``(id LONG, rank DOUBLE)`` at convergence.

    Unless checkpointed (per-iteration checkpoint cadence contract),
    the call dispatches (dispatch.py) to the fused PageRank kernel
    (closed.py) — on a closure-keyed graph partition-locally, on a
    graph within the local edge cap over the whole-graph view — which
    runs all power iterations in ONE Arrow pass: zero per-iteration
    shuffle, same rounds and L1 stop, ranks equal at rtol 1e-12
    (pytest-pinned)."""
    _, _, view = choose_backend(
        graph, eligible=checkpointer is None, metrics=metrics
    )
    if view is not None:
        from ligra_spark.algorithms.closed import pagerank_closed

        return pagerank_closed(
            view, damping=damping, tol=tol, max_iters=max_iters, metrics=metrics
        )
    # state: (id, out_deg, rank); its first commit counts n and m
    state = graph.degrees.select("id", "out_deg")
    start_iter = 0
    resumed = checkpointer.resume() if checkpointer is not None else None
    if resumed is not None:
        start_iter, st = resumed
        state = state.join(st, "id")
    state, n = commit_degrees(graph, state)
    if n == 0:
        return graph.spark.createDataFrame([], "id long, rank double")
    if resumed is None:
        state = derive(state.withColumn("rank", F.lit(1.0 / n)), state)
    base = (1.0 - damping) / n

    timer = Timer()
    for it in range(start_iter, max_iters):
        contribs = edge_map(
            graph,
            state.where(F.col("out_deg") > 0).select(
                "id", (F.col("rank") / F.col("out_deg")).alias("share")
            ),
            message=F.col("share"), combiner="sum", direction="shuffle",
        )
        # PR_Vertex_F (PageRank.C:44-56) as a vertex_map: the damped
        # rank update is a pure columnar expression over gathered state
        nxt = vertex_map(
            state.join(contribs, "id", "left"),
            {
                "rank_next": F.lit(base)
                + F.lit(damping) * F.coalesce("msg", F.lit(0.0))
            },
        ).select("id", "out_deg", "rank", "rank_next")
        nxt, got = commit(
            nxt, state, l1=F.sum(F.abs(F.col("rank_next") - F.col("rank")))
        )
        state = derive(
            nxt.select("id", "out_deg", F.col("rank_next").alias("rank")), nxt
        )
        l1 = float(got["l1"] or 0.0)
        if metrics is not None:
            metrics.record(it, l1=l1, wall_s=timer.lap(), edges=graph.m)
        if checkpointer is not None:
            checkpointer.save(it, state.select("id", "rank"), {"l1": l1})
        if l1 < tol:
            break
    return state.select("id", "rank")


def pagerank_delta(
    graph: Graph,
    damping: float = 0.85,
    eps: float = 1e-7,
    eps2: float = 0.01,
    max_iters: int = 100,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Delta-filtered PageRank (apps/PageRankDelta.C:27-127): after the
    first round only vertices with ``|Δ| > eps2 · p`` remain in the
    frontier, so late rounds push from a sparse frontier (``edge_map``'s
    m/20 rule picks the broadcast zero-shuffle plan) instead of
    rescanning dense state."""
    # Derivation: with the power iteration p_{t+1} = base + d·A·p_t and
    # p_0 = 1/n, the deltas δ_t = p_t − p_{t-1} satisfy
    #   δ_1 = d·A·δ_0 + (base − 1/n)   with δ_0 = 1/n,
    #   δ_{t+1} = d·A·δ_t              for t ≥ 1,
    # so converged p equals plain PageRank exactly — matching the
    # first-round special case in PageRankDelta.C:47-85.
    state, n = commit_degrees(graph, graph.degrees.select("id", "out_deg"))
    if n == 0:
        return graph.spark.createDataFrame([], "id long, rank double")
    base = (1.0 - damping) / n
    state = derive(
        state.select(
            "id",
            "out_deg",
            F.lit(1.0 / n).alias("p"),
            F.lit(1.0 / n).alias("delta"),
        ),
        state,
    )
    frontier = state.select("id", "out_deg", "delta")
    frontier_n = n
    timer = Timer()
    for it in range(max_iters):
        shares = frontier.where(F.col("out_deg") > 0).select(
            "id", (F.col("delta") / F.col("out_deg")).alias("share")
        )
        contribs = edge_map(
            graph, shares, message=F.col("share"), combiner="sum",
            frontier_size=frontier_n,
        )
        kick = (base - 1.0 / n) if it == 0 else 0.0
        nxt = state.join(contribs, "id", "left").select(
            "id",
            "out_deg",
            (
                F.col("p")
                + F.coalesce(F.lit(damping) * F.col("msg"), F.lit(0.0))
                + F.lit(kick)
            ).alias("p_new"),
            "p",
        )
        nxt = nxt.select(
            "id",
            "out_deg",
            F.col("p_new").alias("p"),
            (F.col("p_new") - F.col("p")).alias("delta"),
        )
        live_c = F.abs(F.col("delta")) > F.col("p") * eps2
        state, got = commit(
            nxt, state, l1=F.sum(F.abs("delta")), frontier_n=F.count_if(live_c)
        )
        l1 = got["l1"] or 0.0
        # (frontier below shares state's checkpoint blocks)
        frontier = state.where(live_c).select("id", "out_deg", "delta")
        frontier_n = got["frontier_n"]
        if metrics is not None:
            metrics.record(
                it, l1=float(l1), frontier=frontier_n, wall_s=timer.lap()
            )
        if l1 < eps or frontier_n == 0:
            break
    return state.select("id", F.col("p").alias("rank"))
