"""Betweenness centrality (single source) — Brandes dependencies.

Reference: apps/BC.C — a forward BFS accumulates per-vertex shortest-
path counts level by level (BC_F with CAS-add, BC.C:29-45), then a
backward sweep over the transposed graph (BC.C:132) accumulates
dependencies (BC_Back_F, BC.C:49-68):

    dep[v] = Σ_{w ∈ successors(v)} (σ_v / σ_w) · (1 + dep[w])

Spark realization: the forward pass is the multi-level BFS loop with a
``sum`` combiner over path counts (each level is one edge_map + an
anti-join against visited); levels persist in one (id, level, paths)
DataFrame. The backward pass walks levels deep→shallow joining each
level's vertices to its successors — using ``edges_by_dst``/``transpose``
exactly as the reference reuses the in-CSR.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import IterMetrics, Timer, commit, materialize
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map


def betweenness_from_source(
    graph: Graph,
    source: int,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns ``(id, paths DOUBLE, dep DOUBLE)`` — σ (shortest-path
    counts from the source) and the Brandes dependency score, for every
    vertex reachable from ``source``."""
    spark = graph.spark
    timer = Timer()

    # ---- forward: level-synchronous path counting -----------------------
    levels = materialize(
        spark.createDataFrame(
            [(int(source), 0, 1.0)], "id long, level int, paths double"
        )
    )
    frontier = levels.select("id", "paths")
    frontier_n = 1
    depth = 0
    for it in range(max_iters):
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("paths"),
            combiner="sum",
            frontier_size=frontier_n,
        )
        new = (
            msgs.join(levels.select("id"), "id", "left_anti")
            .select(
                "id",
                F.lit(it + 1).alias("level"),
                F.col("msg").alias("paths"),
            )
        )
        levels, got = commit(
            levels.unionAll(new), levels, n=F.count_if(F.col("level") == it + 1)
        )
        frontier = levels.where(F.col("level") == it + 1).select("id", "paths")
        frontier_n = got["n"]
        if metrics is not None:
            metrics.record(it, phase="fwd", frontier=frontier_n, wall_s=timer.lap())
        if frontier_n == 0:
            depth = it
            break

    # ---- backward: dependency accumulation deep -> shallow ----------------
    # dep starts at 0 everywhere; process levels below the deepest
    deps = materialize(
        levels.select("id", "level", "paths", F.lit(0.0).alias("dep"))
    )
    for d in range(depth - 1, -1, -1):
        succ = deps.where(F.col("level") == d + 1).select(
            F.col("id").alias("dst"),
            (F.lit(1.0) + F.col("dep")).alias("w_succ"),
            F.col("paths").alias("succ_paths"),
        )
        cur_ids = deps.where(F.col("level") == d).select("id", "paths")
        contrib = (
            graph.edges_by_src.join(
                cur_ids.withColumnRenamed("id", "src").withColumnRenamed(
                    "paths", "src_paths"
                ),
                "src",
            )
            .join(succ, "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.sum(
                    F.col("src_paths") / F.col("succ_paths") * F.col("w_succ")
                ).alias("dep_new")
            )
        )
        deps_next = deps.join(contrib, "id", "left").select(
            "id",
            "level",
            "paths",
            F.when(F.col("level") == d, F.coalesce("dep_new", F.lit(0.0)))
            .otherwise(F.col("dep"))
            .alias("dep"),
        )
        deps = materialize(deps_next, deps)
        if metrics is not None:
            metrics.record(d, phase="bwd", wall_s=timer.lap())
    return deps.select("id", "paths", "dep")
