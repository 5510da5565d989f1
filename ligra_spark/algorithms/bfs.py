"""BFS — parent tree + levels from a source.

Reference: apps/BFS.C — frontier starts at the source (BFS.C:48); each
round edgeMap CAS-claims ``Parents[d] = s`` for unvisited destinations
(BFS_F, BFS.C:26-38) and the claimed vertices form the next frontier
(loop BFS.C:49-53). The CAS "first writer wins" is nondeterministic in
the reference; we use ``min(src)`` as the combiner so the parent tree is
deterministic (SURVEY.md §2.2) — still a valid BFS tree.

The unvisited check (``cond``, BFS.C:37) is an **anti-join** against the
visited set. Frontiers are typically tiny relative to the graph, so the
gather uses the broadcast zero-shuffle plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import IterMetrics, Timer, commit
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map


def bfs(
    graph: Graph,
    source,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns ``(id, parent, dist)`` for reachable vertices; sources
    have ``parent = -1, dist = 0`` (Parents[start] = start in BFS.C:47,
    reported as the conventional -1 root marker here).

    ``source``: a vertex id, a list of ids, or a DataFrame with an
    ``id`` column — the multi-source form is the kBFS building block
    (apps/eccentricity run 64 simultaneous BFS the same way)."""
    spark = graph.spark
    if isinstance(source, DataFrame):
        seeds = source.select("id")
    elif isinstance(source, (list, tuple, set)):
        seeds = spark.createDataFrame([(int(s),) for s in source], "id long")
    else:
        seeds = spark.createDataFrame([(int(source),)], "id long")
    visited, got = commit(
        seeds.select(
            "id", F.lit(-1).cast("long").alias("parent"), F.lit(0).alias("dist")
        ),
        n=F.count(F.lit(1)),
    )
    frontier = visited.select("id")
    frontier_n = got["n"]

    timer = Timer()
    for it in range(max_iters):
        msgs = edge_map(
            graph, frontier, message=F.col("src"), combiner="min",
            frontier_size=frontier_n,
        )
        new = (
            msgs.join(visited.select("id"), "id", "left_anti")
            .select("id", F.col("msg").alias("parent"), F.lit(it + 1).alias("dist"))
        )
        visited, got = commit(
            visited.unionAll(new), visited, n=F.count_if(F.col("dist") == it + 1)
        )
        frontier = visited.where(F.col("dist") == it + 1).select("id")
        frontier_n = got["n"]
        if metrics is not None:
            metrics.record(it, frontier=frontier_n, wall_s=timer.lap())
        if frontier_n == 0:
            break
    return visited
