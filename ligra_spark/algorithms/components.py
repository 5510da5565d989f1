"""Connected components — the min-id fixpoint of Components.C.

Reference: apps/Components.C — every vertex's label starts as its own
id (Components.C:56); each round frontier vertices push their label and
each destination keeps the minimum (writeMin, Components.C:38); a vertex
re-enters the frontier iff its label changed this round
(Components.C:34-38); fixpoint when the frontier empties
(Components.C:62-67). At fixpoint every vertex holds the **minimum
vertex id of its component** — an exact, deterministic output. Every
backend below computes that output; only the schedule differs.

- Under the local cap or with a closure key: one Shiloach–Vishkin
  Arrow pass (closed.py, chosen in dispatch.py).
- Undirected, above the cap: partition-local contraction
  (``_contract``, the loop behind ``cc_contract_local``), one Arrow
  kernel pass and one window shuffle per round.
- Directed labels (``symmetrize=False`` on an asymmetric graph), a
  checkpointer, partial labels (``max_iters`` below the default) and
  the contraction's stall fallback above the local cap: the hash-min
  rounds
  (``_hash_min``). ``contract`` adds per-round **group-min
  contraction** (a vertex whose old label was L adopts the best label
  anyone in L's group found: 6 rounds against plain hash-min's 40 on
  the sf0.01 transcript chains); ``jumps`` chains pointer-jump hops
  (``IDs[i] = IDs[IDs[i]]``, Components-Shortcut.C:30-42), each
  materialized on its own, as a lazily chained k-hop plan would embed
  2^k copies of the relax subplan. ``contract=False, jumps=0`` is
  Components.C's plain scheme, ``jumps=1`` Components-Shortcut.C's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import (
    IterMetrics,
    Timer,
    commit,
    derive,
    materialize,
    unpersist,
)
from ligra_spark.algorithms.closed import _cc_kernel, connected_components_closed
from ligra_spark.algorithms.dispatch import OVER_CAP, choose_backend
from ligra_spark.graph import Graph, local_kernel_edge_cap
from ligra_spark.operators.edge_map import edge_map


def connected_components(
    graph: Graph,
    symmetrize: bool = True,
    max_iters: int = 1000,
    metrics: IterMetrics | None = None,
    checkpointer=None,
) -> DataFrame:
    """Returns ``(id LONG, comp LONG)`` — comp = min id in component.
    Checkpointed and partial (``max_iters`` below the default) calls run
    the hash-min rounds: the kernels can neither resume nor stop early."""
    _, reason, view = choose_backend(
        graph,
        eligible=checkpointer is None
        and max_iters >= 1000
        and (symmetrize or graph.symmetric),
        metrics=metrics,
    )
    if view is not None:
        return connected_components_closed(view, metrics=metrics)
    if reason == OVER_CAP:
        # rmat-dist (29,932 edges, 4 cores): 1 round and 5 jobs here
        # against 4 rounds and 73 jobs of hash-min, 0.73 s vs 4.0 s
        return _contract(graph.edges_derived, metrics=metrics)
    return _hash_min(
        graph, symmetrize, max_iters=max_iters, metrics=metrics,
        checkpointer=checkpointer,
    )


def _hash_min(
    graph: Graph, symmetrize: bool = True, *, contract: bool = True,
    jumps: int = 2, max_iters: int = 1000,
    metrics: IterMetrics | None = None, checkpointer=None,
) -> DataFrame:
    """The Components.C label rounds (module docstring). Two jumps on
    the sf0.1 events chains at local[32]: 5 rounds / 6.8 s against one
    jump's 7 / 7.3 s; three gave 4 / 6.1 s, but each hop is a
    vertex-sized materialization, pure cost on short-diameter graphs
    (rMat: 4 rounds at any jump count)."""
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph

    state = g.vertices.select("id", F.col("id").alias("comp"))
    start_iter = 0
    if checkpointer is not None:
        resumed = checkpointer.resume()
        if resumed is not None:
            start_iter, state = resumed
    state = materialize(state)
    frontier = state
    frontier_n = g.n

    timer = Timer()
    for it in range(start_iter, max_iters):
        msgs = edge_map(
            g,
            frontier,
            message=F.col("comp"),
            combiner="min",
            frontier_size=frontier_n,
        )
        nxt = state.join(msgs, "id", "left").select(
            "id",
            "comp",
            F.least("comp", F.coalesce("msg", "comp")).alias("comp_new"),
        )
        if contract:
            grp = nxt.groupBy("comp").agg(F.min("comp_new").alias("gmin"))
            nxt = nxt.join(grp, "comp").select(
                "id", "comp", F.least("comp_new", "gmin").alias("comp_new")
            )
        # the frontier count rides the round's LAST commit: nxt itself
        # when jumps == 0, else the final jump
        moved = F.col("comp_new") < F.col("comp")
        count = dict(frontier_n=F.count_if(moved))
        nxt, got = commit(nxt, state, **({} if jumps else count))
        for j in range(jumps):
            hop = nxt.select(
                F.col("id").alias("comp_new"), F.col("comp_new").alias("comp2")
            )
            jumped = nxt.join(hop, "comp_new", "left").select(
                "id",
                "comp",
                F.coalesce("comp2", "comp_new").alias("comp_new"),
            )
            nxt, got = commit(jumped, nxt, **(count if j == jumps - 1 else {}))
        frontier = nxt.where(moved).select("id", F.col("comp_new").alias("comp"))
        frontier_n = got["frontier_n"]
        state = derive(nxt.select("id", F.col("comp_new").alias("comp")), nxt)
        if metrics is not None:
            metrics.record(it, frontier=frontier_n, wall_s=timer.lap())
        if checkpointer is not None:
            checkpointer.save(it, state, {"frontier": frontier_n})
        if frontier_n == 0:
            break
    return state


def cc_contract_local(
    graph: Graph,
    stall_ratio: float = 0.7,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, comp)`` — comp = min id in component; identical output to
    ``connected_components`` (the Components.C fixpoint), via
    partition-local contraction instead of global label rounds.

    Each round: (1) an Arrow kernel contracts every partition's local
    subgraph to min-id labels — zero shuffle, all C-speed; (2) one
    ``groupBy(v).min`` couples partitions that share a vertex; (3) the
    residual label graph (one edge per unresolved coupling) becomes the
    next round's input. Final labels resolve by composing the per-round
    mappings smallest-first, so all but one join are residual-sized
    (broadcast-able), then one vertex-sized join.

    Why this wins at scale: hash-min shuffles edge-sized message and
    state tables ~5× per round; here the edge table is never shuffled
    (the kernel runs in place) and every later round is sized by the
    *unresolved couplings*, near zero for locality-preserving layouts:
    per-conversation edges (derive_edges) contract in 1-2 rounds, as
    no edge crosses a conversation. The kernel exploits the graph's
    as-derived partitioning (``edges_derived``; union-find ignores
    direction, so no symmetrized copy is built).

    Degenerate case, measured on 4 cores: a 20k-vertex path with
    shuffled ids and edge order (39,998 edges). With AQE coalescing on
    (get_spark's default) the residual lands in one partition, so at 4,
    16 and 64 shuffle partitions alike it takes 2 rounds (residual
    11,858, then 0; 1 round after ``dedupe``) against hash-min's 11.
    With coalescing off the residual shrinks by a constant per round:
    17-18 rounds at 4 partitions; at 16 and 64 it stalls (shrinks by
    less than ``stall_ratio``) within 4-7 rounds. A stalled residual
    within the local edge cap is coalesced into one partition, where
    the kernel is exact, so one more round ends the loop; a larger one
    goes to hash-min, whose labels append to the mapping chain like
    any other round.

    Reference parity: Components.C computes the same min-id fixpoint;
    the contraction schedule is the standard MapReduce-CC local-
    aggregation family (Kiveris et al., "Connected Components in
    MapReduce and Beyond" — public literature), re-expressed as Arrow
    kernels + DataFrame aggregation."""
    # declared closure: every component is inside one closure group,
    # so the single-pass closed kernel is exact — no coupling rounds,
    # no pair-stream sort-shuffle (closed.py)
    _, _, view = choose_backend(graph, whole_graph=False, metrics=metrics)
    if view is not None:
        return connected_components_closed(view, metrics=metrics)
    return _contract(graph.edges_derived, stall_ratio, metrics)


# every round either shrinks the residual below stall_ratio × the last
# one or ends the loop, so at the default 0.7 this covers ~8e9 edges
_MAX_ROUNDS = 64


def _contract(
    edges: DataFrame, stall_ratio: float = 0.7,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """The contraction rounds of ``cc_contract_local`` over ``edges``."""
    edges = edges.select("src", "dst")
    mappings: list[DataFrame] = []
    own_edges: DataFrame | None = None  # round ≥2 edge tables we created
    prev_residual: int | None = None
    fallback: dict = {}  # {"fallback": "local"} on the coalesced round
    timer = Timer()

    for it in range(_MAX_ROUNDS):
        # One edge-sized sort-shuffle per round: the window over v
        # yields both the mapping (first row per v carries the min
        # label) and the residual couplings (rows whose label isn't the
        # min) in a single pass — no pairs⋈mapping join, no checkpoint
        # of the raw pairs stream, no object-hash aggregation
        # (collect_set measured 4× slower: ObjectHashAggregate falls
        # back to sort-based with per-group array building).
        # _cc_kernel: each partition's local subgraph contracted to
        # min-id labels (Arrow → numpy Shiloach–Vishkin, O(partition
        # edges) memory), one (v, lab) row per distinct vertex
        pairs = edges.mapInArrow(_cc_kernel, "id long, comp long").select(
            F.col("id").alias("v"), F.col("comp").alias("lab")
        )
        w = Window.partitionBy("v").orderBy("lab")
        x = pairs.select(
            "v",
            "lab",
            F.row_number().over(w).alias("rn"),
            F.first("lab").over(w).alias("gl"),
        )
        x = materialize(
            x.where((F.col("rn") == 1) | (F.col("lab") != F.col("gl")))
        )
        glob = x.where(F.col("rn") == 1).select("v", "gl")
        residual, got = commit(
            x.where(F.col("lab") != F.col("gl")).select("lab", "gl").distinct(),
            n=F.count(F.lit(1)),
        )
        n_residual = got["n"]
        mappings.append(glob)
        if metrics is not None:
            metrics.record(it, residual=n_residual, wall_s=timer.lap(),
                           **fallback)
        if n_residual == 0:
            break
        edges = residual.select(F.col("lab").alias("src"), F.col("gl").alias("dst"))
        stalled = (
            prev_residual is not None and n_residual > stall_ratio * prev_residual
        )
        if stalled and n_residual <= local_kernel_edge_cap():
            # layout gives no leverage (scattered long paths), but the
            # residual fits one worker: in one partition _cc_kernel is
            # exact, so the next round's residual is 0. On a scattered
            # 600-vertex path (4 cores, 8 partitions, no coalescing) the
            # 8-edge residual took 0.41-0.45 s here, 4.0-4.6 s on hash-min
            edges = edges.coalesce(1)
            fallback = {"fallback": "local"}
        elif stalled:
            # above the cap, finish the contracted residual with the
            # O(log)-round hash-min fixpoint; it runs on a graph
            # already shrunk by the local rounds, and its labels
            # compose like any other mapping
            rest = _hash_min(Graph(edges))
            mappings.append(rest.select(
                F.col("id").alias("v"), F.col("comp").alias("gl")
            ))
            if metrics is not None:
                metrics.record(it + 1, residual=0, fallback="hashmin",
                               wall_s=timer.lap())
            break
        prev_residual = n_residual
        if own_edges is not None:
            unpersist(own_edges)
        own_edges = residual  # already materialized; next round reads it
    else:
        raise RuntimeError(
            f"cc_contract_local did not converge in {_MAX_ROUNDS} rounds"
        )

    # resolve: compose mappings from the last (smallest) backward, then
    # apply the composite to round 1's vertex-sized mapping once
    comp = mappings[-1]
    for m_r in reversed(mappings[:-1]):
        step = comp.select(F.col("v").alias("gl"), F.col("gl").alias("gl2"))
        comp = m_r.join(step, "gl", "left").select(
            "v", F.coalesce("gl2", "gl").alias("gl")
        )
    out = comp.select(F.col("v").alias("id"), F.col("gl").alias("comp"))
    if own_edges is not None:
        unpersist(own_edges)
    return out


def bfs_components(
    graph: Graph,
    symmetrize: bool = True,
    max_comps: int = 10_000,
    metrics: IterMetrics | None = None,
    on_overflow: str = "error",
    roots_per_wave: int = 32,
) -> DataFrame:
    """``(id, comp)`` — components via repeated BFS (BFSCC.C:31-73),
    the low-diameter-graph strategy: BFS from the smallest unvisited
    vertices and label their whole components. Rooting at ascending
    ids makes every component's label its min id, so the output equals
    hash-min label propagation exactly (and shares its oracle); only
    the schedule differs.

    ``roots_per_wave`` roots run in ONE multi-root min-label BFS
    fixpoint per wave instead of one driver-blocking fixpoint per
    component. This is exact: the wave's roots are the ``k`` smallest
    remaining ids and earlier waves flood whole components, so any
    component a root touches has its min id ≤ that root and still
    remaining — hence also in the root set — and min-label flooding
    converges to exactly that min id. Waves cut the driver round-trips
    from O(#components · diameter) to O(#components/k · diameter).

    Each BFS fixpoint is a sequence of driver-blocking Spark jobs, so
    this strategy only makes sense when #components is SMALL (a few
    giant low-diameter components). Real sparse graphs — including the
    engine's own per-user event chains, where #components ≈ #users —
    routinely exceed any reasonable cap, and a silently truncated
    labeling is worse than no answer. So when ``max_comps`` roots are
    exhausted with vertices still unlabeled, ``on_overflow`` decides:

    - ``'error'`` (default): raise, naming ``connected_components`` as
      the many-component tool;
    - ``'fallback'``: label the remainder with one
      ``connected_components`` run (exact same fixpoint, O(log) rounds
      regardless of component count)."""
    if on_overflow not in ("error", "fallback"):
        raise ValueError("on_overflow must be 'error' or 'fallback'")
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    remaining = materialize(g.vertices)
    out = g.spark.createDataFrame([], "id long, comp long")
    timer = Timer()
    comps_done = 0
    wave = 0
    while comps_done < max_comps:
        k = min(roots_per_wave, max_comps - comps_done)
        roots, got = commit(
            remaining.orderBy("id").limit(k).select(
                "id", F.col("id").alias("comp")
            ),
            n=F.count(F.lit(1)),
        )
        n_roots = got["n"]
        if n_roots == 0:
            unpersist(roots)
            return out
        # multi-root min-label flood to fixpoint: frontier = vertices
        # whose label changed this round (newly reached or improved)
        vis = materialize(roots.withColumn("_chg", F.lit(True)))
        unpersist(roots)
        frontier = vis
        while True:
            msgs = edge_map(
                g, frontier, message=F.col("comp"), combiner="min",
                direction="shuffle",
            ).withColumnRenamed("msg", "_mc")
            merged = (
                vis.drop("_chg")
                .join(msgs, "id", "full")
                .select(
                    "id",
                    F.least(
                        F.coalesce("comp", F.lit(1 << 62)),
                        F.coalesce("_mc", F.lit(1 << 62)),
                    ).alias("comp"),
                    (
                        F.col("_mc").isNotNull()
                        & (
                            F.col("comp").isNull()
                            | (F.col("_mc") < F.col("comp"))
                        )
                    ).alias("_chg"),
                )
            )
            vis, got = commit(merged, vis, n=F.count_if("_chg"))
            if got["n"] == 0:
                break
            frontier = vis.where("_chg")
        reached = vis.select("id", "comp")
        # cumulative components labeled = rows whose label is their own
        # id (each wave's winning labels are exactly such roots)
        out, got = commit(
            out.unionAll(reached), out, c=F.count_if(F.col("id") == F.col("comp"))
        )
        comps_done = got["c"]
        remaining = materialize(
            remaining.join(vis.select("id"), "id", "left_anti"), remaining
        )
        unpersist(vis)
        if metrics is not None:
            metrics.record(wave, roots=n_roots, wall_s=timer.lap())
        wave += 1
    n_left = remaining.count()
    if n_left == 0:
        return out
    if on_overflow == "fallback":
        # The remaining set is closed under connectivity (anything
        # touching a labeled vertex was swallowed by that BFS), so a
        # src-side semi-join on the symmetric edge set is the exact
        # induced remainder subgraph.
        rest_edges = g.edges_by_src.join(
            remaining.select(F.col("id").alias("src")), "src", "left_semi"
        )
        rest = connected_components(
            Graph(
                rest_edges,
                num_partitions=g.num_partitions,
                symmetric=True,
            ),
            symmetrize=False,
        )
        # vertices isolated within the remainder keep their own id
        rest = remaining.select("id").join(rest, "id", "left").select(
            "id", F.coalesce("comp", "id").alias("comp")
        )
        return out.unionAll(rest)
    raise RuntimeError(
        f"bfs_components hit max_comps={max_comps} with {n_left} vertices "
        "still unlabeled — this graph has too many components for the "
        "one-BFS-per-component schedule. Use connected_components() "
        "(O(log) rounds independent of component count), raise "
        "max_comps, or pass on_overflow='fallback'."
    )
