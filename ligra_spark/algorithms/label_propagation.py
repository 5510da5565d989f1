"""Community detection by synchronous label propagation.

The reference's Components.C *is* hash-min label propagation (its
functor, Components.C:26-41, literally propagates minimum labels), and
Components-Shortcut.C:25-27 cites the shortcutted-LP paper. Classic
most-frequent-label community LP is the same edgeMap skeleton with the
combiner swapped from ``min`` to ``mode``: each round every vertex
adopts the most frequent label among its neighbors, breaking ties by
**minimum label** so rounds are deterministic and reproducible across
partitionings (SURVEY.md §2.6).

Each round is ``edge_map``'s shuffle plan with the ``mode`` combiner,
ONE hash aggregation: ``mode(label, deterministic=true)`` is a
TypedImperativeAggregate whose partial state is a per-destination
label→count map built MAP-SIDE, so only the partial maps shuffle — one
exchange per round, keyed by dst. (Rounds 1-3 ran it as two chained
aggregations, ``groupBy(dst,label).count()`` then an argmax; the second
exchange was ~40% of per-round wall at bench scale — VERDICT r03 item
1.) Deterministic mode breaks frequency ties by MINIMUM value, exactly
the reference-style deterministic tie-break the oracle replays. Partial
maps stay small: a destination's map is bounded by its neighbors'
distinct labels, and hub skew is absorbed by the map-side combine the
same way the count form was.
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


def label_propagation(
    graph: Graph,
    max_iters: int = 20,
    symmetrize: bool = True,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns ``(id LONG, label LONG)`` after convergence or
    ``max_iters`` synchronous rounds.

    Closure-keyed graphs and graphs within the local edge cap dispatch
    (dispatch.py) to the fused LP kernel (closed.py): one Arrow pass,
    bit-identical labels (deterministic mode + min tie-break; a closed
    partition at a local fixpoint is fixed forever, so per-partition
    early stop composes into the exact global changed==0 stopping
    rule)."""
    _, _, view = choose_backend(graph, metrics=metrics)
    if view is not None:
        from ligra_spark.algorithms.closed import label_propagation_closed

        return label_propagation_closed(
            view,
            max_iters=max_iters,
            symmetrize=symmetrize and not graph.symmetric,
            metrics=metrics,
        )
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    state = materialize(g.vertices.select("id", F.col("id").alias("label")))

    timer = Timer()
    for it in range(max_iters):
        # single-exchange mode: partial label->count maps combine
        # map-side, ties break to the minimum label (deterministic)
        best = edge_map(
            g, state, message=F.col("label"), combiner="mode",
            direction="shuffle",
        )
        nxt = state.join(best, "id", "left").select(
            "id",
            "label",
            F.coalesce("msg", "label").alias("label_next"),
        )
        nxt, got = commit(
            nxt, state, changed=F.count_if(F.col("label") != F.col("label_next"))
        )
        changed = got["changed"]
        state = derive(nxt.select("id", F.col("label_next").alias("label")), nxt)
        if metrics is not None:
            metrics.record(it, changed=changed, wall_s=timer.lap())
        if changed == 0:
            break
    return state
