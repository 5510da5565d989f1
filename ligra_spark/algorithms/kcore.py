"""K-core decomposition by iterative peeling.

Reference: apps/KCore.C — for k = 1..n, repeatedly vertexFilter vertices
with remaining degree < k, record their core number, and edgeMap-
decrement their neighbors' degrees (cond ``Degrees[d] > 0``,
KCore.C:29-107). The Julienne variant (apps/bucketing/KCore.C) replaces
the k-scan with dynamic buckets; here the bucket structure is simply the
``deg`` column and a filter — each peel round is one count-aggregate +
one columnar update.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import (
    IterMetrics,
    Timer,
    commit,
    materialize,
    unpersist,
)
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map_count
from ligra_spark.operators.vertex_ops import vertex_filter


def kcore(
    graph: Graph,
    max_k: int | None = None,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns ``(id, core LONG)`` — each vertex's core number. Operates
    on the symmetrized simple graph (KCore assumes symmetric input,
    KCore.C and README.md:455-458)."""
    g = graph.symmetrized() if not graph.symmetric else graph
    state = materialize(
        g.degrees.select(
            "id",
            F.col("out_deg").alias("deg"),
            F.lit(True).alias("alive"),
            F.lit(0).cast("long").alias("core"),
        )
    )
    remaining = g.n
    k = 1
    timer = Timer()
    while remaining > 0 and (max_k is None or k <= max_k):
        # peel everything with deg < k until none remain at this k
        while True:
            peel, got = commit(
                vertex_filter(state, F.col("alive") & (F.col("deg") < k)).select("id"),
                n=F.count(F.lit(1)),
            )
            n_peel = got["n"]
            if n_peel == 0:
                unpersist(peel)
                break
            remaining -= n_peel
            decr = edge_map_count(g, peel, by="dst")
            nxt = (
                state.join(peel.select(F.col("id"), F.lit(True).alias("_p")), "id", "left")
                .join(decr, "id", "left")
                .select(
                    "id",
                    F.when(F.col("_p").isNotNull(), F.lit(0).cast("long"))
                    .otherwise(F.col("deg") - F.coalesce("cnt", F.lit(0)))
                    .alias("deg"),
                    (F.col("alive") & F.col("_p").isNull()).alias("alive"),
                    F.when(F.col("_p").isNotNull() & F.col("alive"), F.lit(k - 1).cast("long"))
                    .otherwise(F.col("core"))
                    .alias("core"),
                )
            )
            nxt = materialize(nxt, state)
            state = nxt
            unpersist(peel)
        if metrics is not None:
            metrics.record(k, remaining=remaining, wall_s=timer.lap())
        k += 1
    return state.select("id", "core")
