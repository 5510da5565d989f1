"""Maximal independent set — deterministic priority-based rounds.

Reference: apps/MIS.C — Luby-style rounds over a 4-state per-vertex
flag array with ID-priority conflict resolution (MIS.C:72-124): a
vertex joins the MIS when no higher-priority (lower-id) *undecided or
in-set* neighbor exists; its neighbors then leave the candidate pool.
The optional post-hoc checker (checkMis, MIS.C:38-70) verifies
independence + maximality; our test does the same.

Spark realization: each round,
- every undecided vertex receives ``min`` over undecided neighbor ids
  (the priority signal — one edge_map with the min combiner);
- vertices whose own id beats every undecided neighbor enter the set;
- an existence message from new members removes their neighbors.

Deterministic by construction (id priority, no RNG) — same output on
any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import IterMetrics, Timer, commit, materialize
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map
from ligra_spark.operators.vertex_ops import vertex_filter


def maximal_independent_set(
    graph: Graph,
    max_iters: int = 1000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns ``(id, in_set BOOLEAN)`` over the symmetrized simple
    graph."""
    g = graph if graph.symmetric else graph.symmetrized()
    # state: 0 undecided, 1 in set, 2 excluded
    state = materialize(g.vertices.select("id", F.lit(0).alias("flag")))

    timer = Timer()
    n_und = g.n  # all undecided at start; updated from each round's obs
    for it in range(max_iters):
        undecided = vertex_filter(state, F.col("flag") == 0).select("id")
        if n_und == 0:
            break
        # min undecided-neighbor id per vertex
        nbr_min = edge_map(
            g, undecided, message=F.col("src"), combiner="min",
            frontier_size=n_und,
        )
        winners = (
            undecided.join(nbr_min, "id", "left")
            .where(F.col("msg").isNull() | (F.col("id") < F.col("msg")))
            .select("id")
        )
        winners, got = commit(winners, n=F.count(F.lit(1)))
        n_win = got["n"]
        excluded = edge_map(
            g, winners, message=F.lit(True), combiner="any",
            frontier_size=n_win,
        ).select("id")
        nxt = (
            state.join(winners.withColumn("_w", F.lit(1)), "id", "left")
            .join(excluded.withColumn("_x", F.lit(1)), "id", "left")
            .select(
                "id",
                F.when(F.col("flag") != 0, F.col("flag"))
                .when(F.col("_w").isNotNull(), F.lit(1))
                .when(F.col("_x").isNotNull(), F.lit(2))
                .otherwise(F.lit(0))
                .alias("flag"),
            )
        )
        # next round's undecided count rides this commit
        state, got = commit(nxt, state, n=F.count_if(F.col("flag") == 0))
        prev_und, n_und = n_und, got["n"]
        if metrics is not None:
            metrics.record(
                it, undecided=prev_und, winners=n_win, wall_s=timer.lap()
            )
    return state.select("id", (F.col("flag") == 1).alias("in_set"))
