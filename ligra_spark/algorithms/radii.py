"""Radii — graph eccentricity estimation via k simultaneous BFS.

Reference: apps/Radii.C — samples 64 start vertices (hashInt,
Radii.C:84-89), gives each a bit in a per-vertex 64-bit ``Visited``
mask, and OR-propagates masks along edges (writeOr, Radii.C:27-32);
a vertex's radius estimate is the last round in which its mask changed
(Radii.C:34-59). The same multi-source bitmask machinery underlies the
eccentricity app family (kBFS-Ecc, FM-Ecc, LogLog-Ecc).

Spark realization: the mask is a LONG column, the OR-merge is the
``bit_or`` combiner — the cleanest demonstration that ``edge_map``'s
combiner set covers the reference's writeOr algorithms.
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
)
from ligra_spark.algorithms.dispatch import choose_backend
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map


def _or_propagate(
    g: Graph, state: DataFrame, max_iters: int, metrics: IterMetrics | None
) -> DataFrame:
    """The 64-bit OR-propagation fixpoint shared by ``radii`` and
    ``kbfs_sampled_ecc``: ``state`` is ``(id, mask, r)`` with every
    source's bit set in ``mask`` and ``r`` each vertex's starting round
    value; frontier vertices OR their mask into their out-neighbors'
    (writeOr, Radii.C:27-32) until no mask changes. Returns
    ``(id, mask, r)``, ``r`` = the last round v's mask changed (its
    starting value if it never did)."""
    state, got = commit(state, f=F.count_if(F.col("mask") != 0))
    frontier = state.where(F.col("mask") != 0).select("id", "mask")
    frontier_n = got["f"]
    timer = Timer()
    for it in range(max_iters):
        if frontier_n == 0:
            break
        msgs = edge_map(
            g,
            frontier,
            message=F.col("mask"),
            combiner="bit_or",
            frontier_size=frontier_n,
        )
        nxt = state.join(msgs, "id", "left").select(
            "id",
            "mask",
            "r",
            (F.col("mask").bitwiseOR(F.coalesce("msg", F.lit(0)))).alias("mask_new"),
        )
        changed = F.col("mask_new") != F.col("mask")
        nxt, got = commit(nxt, state, f=F.count_if(changed))
        frontier_n = got["f"]
        frontier = nxt.where(changed).select("id", F.col("mask_new").alias("mask"))
        state = derive(
            nxt.select(
                "id",
                F.col("mask_new").alias("mask"),
                F.when(changed, F.lit(it + 1)).otherwise(F.col("r")).alias("r"),
            ),
            nxt,
        )
        if metrics is not None:
            metrics.record(it, frontier=frontier_n, wall_s=timer.lap())
    return state


def radii(
    graph: Graph,
    k: int = 64,
    seed: int = 42,
    symmetrize: bool = True,
    max_iters: int = 1000,
    metrics: IterMetrics | None = None,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Returns ``(id, radius INT)`` — per-vertex eccentricity estimate
    (lower bound from k sampled BFS sources; exact over the given set
    when ``sources`` is passed explicitly, ≤64 ids)."""
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph

    # sample k start vertices deterministically by hash rank
    # (Radii.C:84-89 samples via hashInt over vertex ids)
    base = (
        sources.select("id")
        if sources is not None
        else g.vertices.orderBy(F.xxhash64(F.col("id") + F.lit(seed))).limit(k)
    )
    sample = base.withColumn(
        "bit",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), "
            "CAST(row_number() OVER (ORDER BY id) - 1 AS INT))"
        ),
    )
    state = g.vertices.join(sample.select("id", "bit"), "id", "left").select(
        "id",
        F.coalesce("bit", F.lit(0)).alias("mask"),
        F.when(F.col("bit").isNotNull(), 0).otherwise(F.lit(-1)).alias("r"),
    )
    return _or_propagate(g, state, max_iters, metrics).select(
        "id", F.col("r").alias("radius")
    )


def kbfs_sampled_ecc(
    graph: Graph,
    k: int = 64,
    phases: int = 2,
    seed: int = 42,
    fringe_min_size: int = 1024,
    sample_rank=None,
    labels: DataFrame | None = None,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Sampled multi-BFS eccentricity — apps/eccentricity/kBFS-Ecc.C
    (``phases=2``) and kBFS-1Phase-Ecc.C (``phases=1``).

    The reference first labels connected components (kBFS-Ecc.C:150-180),
    then **per component** samples up to ``k`` start vertices, gives each
    a bit in the component's visited word, OR-propagates to fixpoint, and
    sets ``ecc[v]`` to the last round in which v's mask changed
    (Ecc_F, kBFS-1Phase-Ecc.C:53-84) — i.e. the max distance from v to
    any sampled source in its component. kBFS-Ecc.C adds a second phase
    (kBFS-Ecc.C:235-260) for components larger than ``fringe_min_size``:
    reseed from the ``k`` *highest-ecc* ("fringe") vertices of phase 1
    and keep the per-vertex max over both phases.

    Determinism: the reference samples with ``hashInt(i+seed)``
    (kBFS-Ecc.C:202); here phase-1 sources are the top-``k`` per
    component under ``sample_rank`` (default ``xxhash64(id + seed)``;
    pass portable integer arithmetic for cross-engine replay), and the
    phase-2 fringe is ranked ``(ecc DESC, id ASC)`` — the deterministic
    tie-break the reference's sort leaves unspecified. Bit positions are
    per-component ranks, so the 64-bit word is reused across components
    (masks never cross a component boundary).

    Returns ``(id, ecc INT)`` — a lower bound on true eccentricity,
    exact over the sampled source sets."""
    from pyspark.sql import Window

    if k > 64:
        # the JVM masks shiftleft amounts mod 64, so k > 64 would
        # silently alias source bits (same 64-bit visited-word width
        # the reference kBFS-Ecc.C assumes) — fail loudly instead
        raise ValueError(f"kbfs_sampled_ecc: k must be <= 64, got {k}")
    g = graph.symmetrized() if not graph.symmetric else graph
    if sample_rank is None:
        sample_rank = F.xxhash64(F.col("id") + F.lit(seed))
    if labels is None:
        from ligra_spark.algorithms.components import connected_components

        labels = connected_components(g, symmetrize=False)
    labels = materialize(labels.select("id", "comp"))

    def _propagate(sources: DataFrame) -> DataFrame:
        """(id, ecc) = the last round each vertex's per-component mask
        changed (0 if never reached beyond init)."""
        state = labels.join(sources.select("id", "bit"), "id", "left").select(
            "id", F.coalesce("bit", F.lit(0)).alias("mask"), F.lit(0).alias("r")
        )
        return _or_propagate(g, state, 1000, metrics).select(
            "id", F.col("r").alias("ecc")
        )

    def _bits(ranked: DataFrame) -> DataFrame:
        return ranked.where(F.col("rn") <= k).select(
            "id",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(rn - 1 AS INT))"
            ).alias("bit"),
        )

    w1 = Window.partitionBy("comp").orderBy(sample_rank.asc(), F.col("id").asc())
    srcs1 = _bits(labels.select("id", "comp", F.row_number().over(w1).alias("rn")))
    ecc = _propagate(srcs1)
    if phases >= 2:
        sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("csz"))
        big = labels.join(sizes, "comp").where(F.col("csz") >= F.lit(fringe_min_size))
        w2 = Window.partitionBy("comp").orderBy(
            F.col("e1").desc(), F.col("id").asc()
        )
        fringe = _bits(
            big.join(ecc.withColumnRenamed("ecc", "e1"), "id")
            .select("id", "comp", "e1")
            .select("id", "comp", F.row_number().over(w2).alias("rn"))
        )
        ecc2 = _propagate(fringe)
        ecc = ecc.join(ecc2.withColumnRenamed("ecc", "e2"), "id").select(
            "id", F.greatest("ecc", "e2").alias("ecc")
        )
    return ecc.select("id", F.col("ecc").cast("int").alias("ecc"))


def kbfs_exact(
    graph: Graph,
    batch: int = 64,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Exact per-vertex eccentricity (apps/eccentricity/kBFS-Exact.C):
    run the 64-bit multi-BFS over EVERY vertex in ``ceil(n/64)``
    batches and take the per-vertex max radius across batches.

    O(n/64) full propagations — the reference's exact variant has the
    same asymptotics; use ``radii`` (sampled) or ``fm_ecc`` (sketch) at
    scale. Returns ``(id, radius INT)`` over the symmetrized graph.

    Closure-keyed graphs dispatch to ``eccentricity_closed``
    (closed.py): eccentricities never leave a closure group, so the
    exact answer is ONE partition-local all-sources-BFS pass —
    Σ O(component²) total work, linear in the corpus for bounded
    conversation length, where this batched variant is O(n·m/64)."""
    _, _, view = choose_backend(graph, whole_graph=False, metrics=metrics)
    if view is not None:
        from ligra_spark.algorithms.closed import eccentricity_closed

        return eccentricity_closed(view, metrics=metrics)
    from math import ceil

    from pyspark.sql import Window

    from ligra_spark.algorithms._iter import materialize

    g = graph.symmetrized() if not graph.symmetric else graph
    n = g.n
    # deterministic batches by id rank (single-partition window — exact
    # eccentricity is a small/medium-graph operation by nature)
    verts = materialize(
        g.vertices.withColumn(
            "batch",
            ((F.row_number().over(Window.orderBy("id")) - 1) / batch).cast("long"),
        )
    )
    ecc = g.vertices.select("id", F.lit(-1).alias("radius"))
    for b in range(ceil(n / batch)):
        srcs = verts.where(F.col("batch") == b).select("id")
        part = radii(g, symmetrize=False, metrics=metrics, sources=srcs)
        ecc = materialize(
            ecc.join(part.withColumnRenamed("radius", "r2"), "id", "left").select(
                "id",
                F.greatest("radius", F.coalesce("r2", F.lit(-1))).alias("radius"),
            ),
            ecc if b > 0 else None,
        )
    return ecc
