"""Julienne-style bucketing (reference: apps/bucketing/, bucket.h:31-365).

The reference's bucket structure keeps per-vertex bucket ids in shared
memory and supports ``next_bucket`` (pop the minimum non-empty bucket)
and ``update_buckets`` (move vertices whose key changed). The
distributed analog keeps the bucket key as a COLUMN of the iteration
state:

- ``next_bucket``  → one aggregation job: ``groupBy(bucket).count``
  ordered by bucket, take the minimum (returns id + size, so the
  caller's edgeMap can pick its direction without an extra job);
- popping         → a filter on the state + nulling the popped keys;
- update_buckets  → the ordinary columnar state update each round
  (vertices re-enter by getting a non-null key again).

This is work-efficient in the same sense as Julienne: each round only
touches the min-bucket frontier and its out-edges, never rescans empty
bucket ids (unlike a ``for k = 1..max`` peel loop), and per-round cost
is frontier-sized. The bucket *structure* itself costs nothing extra at
10^12 scale — it is a long column riding the existing state shuffle.

Algorithms built on it:

- ``delta_stepping`` — SSSP with distance buckets of width ``delta``
  (apps/bucketing/DeltaStepping.C:10-99).
- ``kcore_bucketed`` — work-efficient peeling that jumps straight to
  the minimum remaining degree (apps/bucketing/KCore.C:7-38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from typing import TYPE_CHECKING

from ligra_spark.graph import Graph

if TYPE_CHECKING:  # circular at runtime: _iter sits inside the
    # algorithms package, whose __init__ imports setcover, which
    # imports this module. Import lazily inside the functions instead.
    from ligra_spark.algorithms._iter import IterMetrics
from ligra_spark.operators.edge_map import edge_map, edge_map_count


def next_bucket(
    state: DataFrame, key: str = "bkt", order: str = "increasing"
) -> tuple[int | None, int]:
    """(extreme non-null bucket id, its vertex count) — bucket.h's
    ``next_bucket`` as one aggregation job. ``order`` matches
    make_buckets' increasing (SSSP/KCore) / decreasing (SetCover)
    traversal."""
    grouped = (
        state.where(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row = grouped.orderBy(
        F.col(key).asc() if order == "increasing" else F.col(key).desc()
    ).first()
    if row is None:
        return None, 0
    return int(row[key]), int(row["n"])


def delta_stepping(
    graph: Graph,
    source: int,
    delta: float = 1.0,
    max_rounds: int = 100_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """SSSP by delta-stepping (DeltaStepping.C:44-85): pop the minimum
    distance bucket, relax its out-edges with a min-combiner edgeMap,
    and re-bucket improved vertices — a vertex improved into the
    *current* bucket is reprocessed before any higher bucket, matching
    the reference's semantics (light-edge reentry falls out of the
    min-bucket loop; no separate light/heavy phases, same as the
    reference's Visit_F which relaxes all out-edges).

    Returns ``(id, dist DOUBLE)`` for reachable vertices. Requires
    non-negative weights (bucket monotonicity; the reference's uintE
    distances imply the same)."""
    from ligra_spark.algorithms._iter import Timer, materialize

    if not graph.weighted:
        raise ValueError("delta_stepping requires a weighted graph (w column)")
    # state: dist + bucket key; bkt NULL = not pending (settled-for-now).
    # Unreached vertices are simply absent (ids appear on first relax).
    spark = graph.spark
    state = materialize(
        spark.createDataFrame(
            [(int(source), 0.0, 0)], "id long, dist double, bkt long"
        )
    )
    timer = Timer()
    for it in range(max_rounds):
        cur, n_cur = next_bucket(state)
        if cur is None:
            break
        frontier = state.where(F.col("bkt") == cur).select("id", "dist")
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("dist") + F.col("w"),
            combiner="min",
            frontier_size=n_cur,
        )
        # pop the processed bucket; apply improvements; improved
        # vertices (re-)enter the bucket of their new distance
        nxt = (
            state.join(msgs, "id", "full_outer")
            .select(
                "id",
                F.when(
                    F.col("msg") < F.coalesce("dist", F.lit(float("inf"))),
                    F.col("msg"),
                )
                .otherwise(F.col("dist"))
                .alias("dist"),
                F.when(
                    F.col("msg") < F.coalesce("dist", F.lit(float("inf"))),
                    F.floor(F.col("msg") / delta),
                )
                .otherwise(
                    F.when(F.col("bkt") == cur, F.lit(None)).otherwise(F.col("bkt"))
                )
                .alias("bkt"),
            )
        )
        nxt = materialize(nxt, state)
        state = nxt
        if metrics is not None:
            metrics.record(it, bucket=cur, frontier=n_cur, wall_s=timer.lap())
    return state.select("id", "dist")


def kcore_bucketed(
    graph: Graph,
    metrics: IterMetrics | None = None,
    max_rounds: int = 100_000,
) -> DataFrame:
    """Work-efficient k-core (bucketing/KCore.C:7-38): every round pops
    the minimum remaining induced degree k, finalizes those vertices at
    core = k, and decrements their neighbors' degrees clamped to k
    (``new_deg = max(deg - edgesRemoved, k)``, KCore.C:25 — the clamp
    keeps bucket ids monotone so nothing is ever re-finalized).

    Identical output to ``algorithms.kcore`` — but rounds jump straight
    between occupied degree levels instead of scanning k = 1, 2, 3, …

    Returns ``(id, core LONG)`` over the symmetrized simple graph."""
    from ligra_spark.algorithms._iter import Timer, commit, derive

    g = graph.symmetrized() if not graph.symmetric else graph
    # next_bucket's min-key job rides the state commit — one driver job
    # per round total; the popped-bucket size rides the same commit via
    # the _a marker column (dropped from the logical state after it).
    state, got = commit(
        g.degrees.select(
            "id",
            F.col("out_deg").alias("bkt"),  # pending bucket = induced degree
            F.lit(None).cast("long").alias("core"),
        ),
        mink=F.min("bkt"),
    )
    k = got["mink"]
    timer = Timer()
    for it in range(max_rounds):
        if k is None:
            break
        k = int(k)
        active = state.where(F.col("bkt") == k).select("id")
        decr = edge_map_count(g, active, by="dst")
        nxt = (
            state.join(active.withColumn("_a", F.lit(1)), "id", "left")
            .join(decr, "id", "left")
            .select(
                "id",
                F.when(F.col("_a").isNotNull(), F.lit(None).cast("long"))
                .when(
                    F.col("bkt").isNotNull(),
                    F.greatest(
                        F.col("bkt") - F.coalesce("cnt", F.lit(0)), F.lit(k)
                    ),
                )
                .otherwise(F.col("bkt"))
                .alias("bkt"),
                F.when(F.col("_a").isNotNull(), F.lit(k).cast("long"))
                .otherwise(F.col("core"))
                .alias("core"),
                F.col("_a"),
            )
        )
        nxt, got = commit(
            nxt, state, mink=F.min("bkt"), n_k=F.count_if(F.col("_a").isNotNull())
        )
        state = derive(nxt.select("id", "bkt", "core"), nxt)
        if metrics is not None:
            metrics.record(it, k=k, peeled=got["n_k"], wall_s=timer.lap())
        k = got["mink"]
    return state.select("id", "core")
