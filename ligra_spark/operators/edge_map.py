"""edgeMap — the engine's core gather-scatter operator.

Reference semantics (ligra.h:279-283 → edgeMapData ligra.h:233-276):
apply ``F.update(s, d [, w])`` over every edge out of the frontier,
resolve concurrent writes to the same destination with an atomic
combiner (``writeAdd``/``writeMin``/``writeOr``/CAS, utils.h:304-364),
and return the set of updated destinations. Ligra picks between a
sparse *push* traversal and a dense *pull* traversal by comparing
``|frontier| + Σ out_degree(frontier)`` against ``m/20`` (ligra.h:238,
261).

Spark realization: the atomic combiner is exactly a partial+final hash
aggregation — ``groupBy(dst).agg(combiner(message))`` — so the operator
is a join + aggregation whose *physical strategy* is the direction
choice:

- **broadcast plan** (small frontier): broadcast the frontier and
  probe the ``dst``-partitioned edge table. The join preserves the edge
  table's hash partitioning on ``dst``, so the message aggregation needs
  **no exchange at all** — a zero-shuffle iteration. (Cost: a full scan
  of the cached columnar edge table, which whole-stage codegen makes
  cheap.)
- **shuffle plan** (large or whole-vertex frontier): join frontier
  state against the ``src``-partitioned edge table, then shuffle only
  the partially-aggregated messages into ``groupBy(dst)``. The join
  would be exchange-free for a frontier hash-partitioned on ``id``, but
  loop state is not: under AQE (``get_spark``'s default, the mode the
  loops run in) a ``localCheckpoint`` reports ``UnknownPartitioning``,
  so the plan exchanges the state on ``id`` each round. Under the
  broadcast threshold (64 MB) Spark broadcasts the cached edge table
  instead (distributed PageRank's rounds on the 29,932-edge R-MAT graph
  do).

Skew: hub destinations are handled by Spark's partial (map-side)
aggregation — each task pre-combines its messages per ``dst`` before the
exchange, so a hub costs one partial row per map task, not one row per
in-edge — plus AQE skew handling.

Callers: every distributed round that gathers one value per destination
runs through this operator (PageRank, PageRankDelta, label propagation,
hash-min CC, BFSCC's flood, BFS, Bellman-Ford, MIS, BC's forward pass,
Δ-stepping, the local-cluster apps), so the direction rule exists
only here. Left outside, because they key by more than the destination
or restrict both endpoints: ``radii._propagate`` (``(dst, slot)``
registers), ``eccentricity._multi_root_bfs`` (``(root, id)``), CF's
K-vector sums, BC's backward pass and RV's parent join (both endpoints
restricted by level), set cover's claims (uncovered elements only) and
the hypergraph MIS counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ligra_spark.graph import Graph

# updateAtomic analogs (utils.h:304-364): every reference app's combiner
# is commutative+associative, which is what Spark's partial+final
# aggregation requires. CAS-claim-once (BFS.C:33-35) maps to `min` for a
# deterministic winner. `mode` (label propagation) combines per-dst
# label->count maps map-side; ties go to the minimum label.
COMBINERS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "any": F.max,  # over booleans
    "mode": lambda c: F.mode(c, deterministic=True),
}

# Below this many frontier rows, ship the frontier to every task instead
# of shuffling messages (the m/20 analog, retuned for shuffle cost).
DEFAULT_BROADCAST_ROWS = 2_000_000

DIRECTIONS = ("auto", "broadcast", "shuffle")


def edge_map(
    graph: Graph,
    frontier: DataFrame | None,
    message: Column | str = "src",
    combiner: str = "min",
    *,
    direction: str = "auto",
    frontier_size: int | None = None,
) -> DataFrame:
    """Gather ``message`` along every out-edge of ``frontier`` and
    combine per destination.

    Parameters
    ----------
    frontier : DataFrame ``(id [, payload...])`` or None for the
        all-vertices frontier (PageRank.C:80-87 pattern). Payload
        columns are visible to ``message`` alongside ``src``/``dst``/
        ``w``.
    message : Column expression evaluated per live edge.
    combiner : one of COMBINERS — the ``updateAtomic`` analog.
    direction : one of DIRECTIONS; 'auto' picks by the m/20 rule.
    frontier_size : pass a known size to skip the count job in 'auto'.

    Returns ``(id, msg)`` — one row per destination that received at
    least one message (the new-frontier candidate set; ``cond``/apply
    filtering is the caller's algorithm logic).
    """
    if combiner not in COMBINERS:
        raise ValueError(f"unknown combiner {combiner!r}; use {sorted(COMBINERS)}")
    if direction not in DIRECTIONS:
        raise ValueError(f"unknown direction {direction!r}; use {DIRECTIONS}")
    agg = COMBINERS[combiner]
    msg_col = F.col(message) if isinstance(message, str) else message

    if frontier is None:
        # Whole-vertex-set frontier: always the co-partitioned plan.
        live = graph.edges_by_src
        chosen = "shuffle"
    else:
        fr = frontier.withColumnRenamed("id", "src")
        if direction == "auto":
            if frontier_size is None:
                frontier_size = frontier.count()
            # the m/20 rule (ligra.h:238) recast for Spark: broadcast
            # (zero-shuffle) only when the frontier is small relative to
            # the edge count — building a per-task hash relation over a
            # huge frontier costs more than one bounded message shuffle
            chosen = (
                "broadcast"
                if frontier_size <= DEFAULT_BROADCAST_ROWS
                and frontier_size * 20 <= graph.m
                else "shuffle"
            )
        else:
            chosen = direction
        if chosen == "broadcast":
            live = graph.edges_by_dst.join(F.broadcast(fr), "src", "inner")
        else:
            live = graph.edges_by_src.join(fr, "src", "inner")

    msgs = live.select(F.col("dst").alias("id"), msg_col.alias("_m"))
    return msgs.groupBy("id").agg(agg(F.col("_m")).alias("msg"))


def edge_map_count(
    graph: Graph,
    frontier: DataFrame | None,
    predicate: Column | None = None,
    by: str = "src",
) -> DataFrame:
    """edgeMapFilter / edgeMapCount analog (ligra.h:336-368,
    edgeMapReduce.h:76-81). The frontier always gates the edge SOURCES
    (both reference forms iterate the frontier's out-edges); ``by``
    selects the grouping side:

    - ``by='src'``: per frontier member, how many of its out-edges
      satisfy ``predicate`` (the edgeMapFilter count, ligra.h:344-350).
    - ``by='dst'``: per destination, how many frontier in-neighbors it
      has (the edgeMapCount histogram, edgeMapReduce.h:76-81) — e.g.
      KCore's per-neighbor decrement.

    Returns ``(id, cnt LONG)``."""
    edges = graph.edges_by_src
    if predicate is not None:
        edges = edges.where(predicate)
    if frontier is not None:
        fr = frontier.select(F.col("id").alias("src"))
        # planner picks broadcast vs shuffle by frontier size/stats,
        # same trade-off as edge_map's direction choice
        edges = edges.join(fr, "src")
    return edges.groupBy(F.col(by).alias("id")).agg(F.count(F.lit(1)).alias("cnt"))
