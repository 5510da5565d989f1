"""Connected components — hash-min label propagation.

Reference: apps/Components.C — every vertex's label starts as its own
id (Components.C:56); each round frontier vertices push their label and
each destination keeps the minimum (writeMin, Components.C:38); a vertex
re-enters the frontier iff its label changed this round
(Components.C:34-38); fixpoint when the frontier empties
(Components.C:62-67). At fixpoint every vertex holds the **minimum
vertex id of its component** — an exact, deterministic output.

Acceleration (identical fixpoint, far fewer rounds):

- ``contract=True`` adds per-round **group-min contraction**: every
  vertex whose *old* label was L adopts the best label discovered by
  anyone in L's group this round (``groupBy(comp).min`` + join back) —
  the star-contraction idea from the MapReduce-WCC literature. Plain
  hash-min needs O(diameter) rounds (ruinous on 10^12-turn
  conversation chains, where per-round Spark job overhead dominates);
  contraction empirically converges in O(log) rounds on the transcript
  graphs (6 rounds vs 40 at sf0.01) and each extra step is
  label-table-sized, never edge-sized.
- ``jumps`` chained pointer-jump hops per round
  (``IDs[i] = IDs[IDs[i]]``, Components-Shortcut.C:30-42); hops are
  materialized individually — a lazily chained k-hop plan would embed
  2^k copies of the relax subplan (each self-join doubles the tree).

``shortcut=True`` is the single-hop Components-Shortcut.C behavior
(kept for parity testing). All variants produce byte-identical final
labels; only round counts differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
from ligra_spark.algorithms.dispatch import choose_backend
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map


def connected_components(
    graph: Graph,
    symmetrize: bool = True,
    shortcut: bool = False,
    jumps: int | None = None,
    contract: bool = True,
    max_iters: int = 1000,
    metrics: IterMetrics | None = None,
    checkpointer=None,
) -> DataFrame:
    """Returns ``(id LONG, comp LONG)`` — comp = min id in component."""
    if jumps is None:
        # contract default 2 (was 1), measured on the sf0.1 events
        # chains at local[32]: rounds 7→5 and wall 7.3→6.8s (jumps=3:
        # 4 rounds / 6.1s but each hop is an extra vertex-sized
        # materialization per round — on short-diameter graphs (rMat:
        # 4 rounds at any jump count) extra hops are pure cost, so 2
        # is the balance). shortcut stays 1 = Components-Shortcut.C
        # parity.
        jumps = (1 if shortcut else 2) if (shortcut or contract) else 0
    # The fused kernel (dispatch.py) runs one Shiloach–Vishkin Arrow
    # pass to the fixpoint, replacing the multi-round hash-min loop
    # (each round ~0.5s of driver orchestration at small scale). It is
    # direction-agnostic, i.e. symmetrized, and cannot stop early: a
    # max_iters below the default asks for PARTIAL labels. Output is
    # the identical min-id fixpoint; shortcut/jumps/contract only
    # change round schedules, never the labels (module docstring).
    _, _, view = choose_backend(
        graph,
        eligible=checkpointer is None
        and max_iters >= 1000
        and (symmetrize or graph.symmetric),
        metrics=metrics,
    )
    if view is not None:
        return connected_components_closed(view, metrics=metrics)
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
    edges: DataFrame | None = None,
    stall_ratio: float = 0.7,
    max_rounds: int = 64,
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

    Why this wins at scale: the hash-min loop shuffles edge-sized
    message + state tables ~5× per round for O(log) rounds; here the
    edge table is never shuffled at all (the kernel runs in place) and
    everything after round 1 is sized by the *unresolved couplings*,
    which for locality-preserving partitionings is near zero. In
    particular, edges derived per-conversation (derive_edges keeps the
    transcript window's conv_id partitioning) contract completely in
    1-2 rounds, because no edge crosses a conversation. Pass ``edges``
    to choose the partitioning the kernel exploits (default: the
    graph's as-derived edge table; direction is irrelevant to
    union-find, so the symmetrized orientation is never built).

    Degenerate case: a long path whose edges are scattered with no
    locality contracts by only a constant per round (the residual of a
    path is again a path, and random partitions co-locate few adjacent
    edges). When the residual shrinks by less than ``stall_ratio`` per
    round, the loop hands the *contracted* residual graph — usually
    orders of magnitude smaller than the input — to the hash-min
    ``connected_components`` fixpoint, whose groupBy-contraction +
    pointer jumps converge in O(log) rounds regardless of layout; its
    labels append to the mapping chain like any other round.

    Reference parity: Components.C computes the same min-id fixpoint;
    the contraction schedule is the standard MapReduce-CC local-
    aggregation family (Kiveris et al., "Connected Components in
    MapReduce and Beyond" — public literature), re-expressed as Arrow
    kernels + DataFrame aggregation."""
    # declared closure: every component is inside one closure group,
    # so the single-pass closed kernel is exact — no coupling rounds,
    # no pair-stream sort-shuffle (closed.py)
    _, _, view = choose_backend(
        graph, eligible=edges is None, whole_graph=False, metrics=metrics
    )
    if view is not None:
        return connected_components_closed(view, metrics=metrics)
    if edges is None:
        edges = graph.edges_derived
    edges = edges.select("src", "dst")

    mappings: list[DataFrame] = []
    own_edges: DataFrame | None = None  # round ≥2 edge tables we created
    prev_residual: int | None = None
    timer = Timer()
    from pyspark.sql import Window

    for it in range(max_rounds):
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
            metrics.record(it, residual=n_residual, wall_s=timer.lap())
        if n_residual == 0:
            break
        if prev_residual is not None and n_residual > stall_ratio * prev_residual:
            # layout gives no leverage (scattered long paths) — finish
            # the contracted residual with the O(log)-round hash-min
            # fixpoint; it runs on a graph already shrunk by the local
            # rounds, and its labels compose like any other mapping
            rest = connected_components(
                Graph(
                    residual.select(
                        F.col("lab").alias("src"), F.col("gl").alias("dst")
                    ),
                    num_partitions=graph.num_partitions,
                ),
                symmetrize=True,
            )
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
        edges = residual.select(
            F.col("lab").alias("src"), F.col("gl").alias("dst")
        )
    else:
        raise RuntimeError(
            f"cc_contract_local did not converge in {max_rounds} rounds"
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
            msgs = (
                frontier.select(F.col("id").alias("src"), "comp")
                .join(g.edges_by_src, "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("comp").alias("_mc"))
            )
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
