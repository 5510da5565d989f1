"""Bellman-Ford SSSP over weighted edges.

Reference: apps/BellmanFord.C — writeMin relaxation of
``dist[d] = min(dist[d], dist[s] + w)`` (BF_F, BellmanFord.C:27-46);
the frontier is the set of vertices whose distance improved; after n
rounds without fixpoint the graph has a negative cycle
(BellmanFord.C:74-77). Weighted adjacency = the ``w`` column (the
reference interleaves weights in the neighbor array, vertex.h:214-231).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import IterMetrics, Timer, commit, materialize
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map


def bellman_ford(
    graph: Graph,
    source: int,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns ``(id, dist DOUBLE)`` for reachable vertices. Raises on
    negative cycles (reference aborts with "negative weight cycle",
    BellmanFord.C:75-76)."""
    if not graph.weighted:
        raise ValueError("bellman_ford requires a weighted graph (w column)")
    spark = graph.spark
    n = graph.n
    state = materialize(
        spark.createDataFrame([(int(source), 0.0)], "id long, dist double")
    )
    frontier = state
    frontier_n = 1

    timer = Timer()
    for it in range(n + 1):
        if it == n:
            raise RuntimeError("negative weight cycle detected")
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("dist") + F.col("w"),
            combiner="min",
            frontier_size=frontier_n,
        )
        joined = msgs.join(state, "id", "left")
        improved = joined.where(
            F.col("dist").isNull() | (F.col("msg") < F.col("dist"))
        ).select("id", F.col("msg").alias("dist"))
        improved, got = commit(
            improved, frontier if it > 0 else None, n=F.count(F.lit(1))
        )
        frontier_n = got["n"]
        if frontier_n == 0:
            break
        state = materialize(
            state.join(improved.select("id"), "id", "left_anti").unionAll(improved),
            state,
        )
        frontier = improved
        if metrics is not None:
            metrics.record(it, frontier=frontier_n, wall_s=timer.lap())
    return state
