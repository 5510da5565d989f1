"""Operator-level contracts: edge_map's destination membership, mode
combiner, keyed gather and direction check, edge_map_count semantics
(both grouping sides), pack_edges, vertex_map/vertex_filter."""

from __future__ import annotations

import functools
import operator

import pytest
from pyspark.sql import functions as F

from ligra_spark.graph import Graph
from ligra_spark.operators import edge_map, edge_map_count, vertex_filter, vertex_map

# star: 0 -> 1,2,3 ; chain: 1 -> 2 -> 3 ; weights = dst
EDGES = [(0, 1, 1.0), (0, 2, 2.0), (0, 3, 3.0), (1, 2, 2.0), (2, 3, 3.0)]


def _g(spark):
    return Graph(
        spark.createDataFrame(EDGES, "src long, dst long, w double"),
        num_partitions=2,
    )


def test_edge_map_count_by_src_filters_predicate(spark):
    """edgeMapFilter form (ligra.h:336-368): per frontier member, count
    out-edges satisfying the predicate."""
    g = _g(spark)
    frontier = spark.createDataFrame([(0,), (2,)], "id long")
    got = {
        r["id"]: r["cnt"]
        for r in edge_map_count(g, frontier, predicate=F.col("w") >= 2.0).collect()
    }
    assert got == {0: 2, 2: 1}  # 0→2,0→3 pass; 0→1 fails; 2→3 passes
    g.unpersist()


def test_edge_map_count_by_dst_counts_frontier_in_neighbors(spark):
    """edgeMapCount histogram form (edgeMapReduce.h:76-81): per
    destination, number of frontier in-neighbors."""
    g = _g(spark)
    frontier = spark.createDataFrame([(0,), (1,)], "id long")
    got = {r["id"]: r["cnt"] for r in edge_map_count(g, frontier, by="dst").collect()}
    assert got == {1: 1, 2: 2, 3: 1}  # dst 2 hit by both 0 and 1
    g.unpersist()


def test_edge_map_count_none_frontier_is_degree(spark):
    g = _g(spark)
    got = {r["id"]: r["cnt"] for r in edge_map_count(g, None, by="src").collect()}
    assert got == {0: 3, 1: 1, 2: 1}
    g.unpersist()


def test_edge_map_zero_share_destinations(spark):
    """A destination whose messages sum to exactly 0.0 (zero shares, or
    cancelling +x/-x) must still be emitted — 'one row per destination
    that received at least one message' is membership, not value."""
    # dst 1 gets 0.0 from src 5; dst 2 gets +3 and -3 (cancel); dst 3
    # gets 1.0 (control)
    g = Graph(
        spark.createDataFrame(
            [(5, 1), (6, 2), (7, 2), (8, 3)], "src long, dst long"
        ),
        num_partitions=2,
    )
    frontier = spark.createDataFrame(
        [(5, 0.0), (6, 3.0), (7, -3.0), (8, 1.0)], "id long, x double"
    )
    for direction in ("shuffle", "broadcast"):
        got = {
            r["id"]: r["msg"]
            for r in edge_map(
                g, frontier, message=F.col("x"), combiner="sum",
                direction=direction,
            ).collect()
        }
        assert got == {1: 0.0, 2: 0.0, 3: 1.0}, direction
    g.unpersist()


def test_edge_map_mode_ties_to_min_label(spark):
    """The ``mode`` combiner (label propagation's gather): the most
    frequent label wins, a frequency tie goes to the minimum label, on
    both plans."""
    # dst 9 receives labels {5, 5, 7, 7, 9}: 5 and 7 tie at two each
    g = Graph(
        spark.createDataFrame(
            [(1, 9), (2, 9), (3, 9), (4, 9), (6, 9)], "src long, dst long"
        ),
        num_partitions=2,
    )
    frontier = spark.createDataFrame(
        [(1, 7), (2, 5), (3, 9), (4, 7), (6, 5)], "id long, label long"
    )
    for direction in ("broadcast", "shuffle"):
        got = edge_map(
            g, frontier, message=F.col("label"), combiner="mode",
            direction=direction,
        ).collect()
        assert [(r["id"], r["msg"]) for r in got] == [(9, 5)], direction
    g.unpersist()


def test_edge_map_keys_combine_per_destination_and_key(spark):
    """``keys=("slot",)`` combines each ``(destination, slot)`` on its
    own (the register gather of radii and the sketches, the per-root
    visit of the multi-root BFS), for ``bit_or``, ``max`` and ``any``
    on both plans, against a pure-Python gather."""
    g = _g(spark)
    rows = [(0, 0, 1), (0, 1, 4), (1, 0, 2), (1, 1, 8), (2, 1, 3)]
    frontier = spark.createDataFrame(rows, "id long, slot int, reg long")
    sent: dict[tuple[int, int], list[int]] = {}
    for src, dst, _ in EDGES:
        for vid, slot, reg in rows:
            if vid == src:
                sent.setdefault((dst, slot), []).append(reg)
    oracle = {
        "bit_or": {k: functools.reduce(operator.or_, v) for k, v in sent.items()},
        "max": {k: max(v) for k, v in sent.items()},
        "any": dict.fromkeys(sent, True),
    }
    for combiner, message in (
        ("bit_or", F.col("reg")), ("max", F.col("reg")), ("any", F.lit(True))
    ):
        for direction in ("broadcast", "shuffle"):
            got = {
                (r["id"], r["slot"]): r["msg"]
                for r in edge_map(
                    g, frontier, message=message, combiner=combiner,
                    direction=direction, keys=("slot",),
                ).collect()
            }
            assert got == oracle[combiner], (combiner, direction)
    g.unpersist()


def test_edge_map_rejects_unknown_direction(spark):
    """An unknown direction raises, as an unknown combiner does, instead
    of silently running the shuffle plan."""
    g = _g(spark)
    frontier = spark.createDataFrame([(0,)], "id long")
    for direction in ("sideways", "pull"):
        with pytest.raises(ValueError, match="unknown direction"):
            edge_map(g, frontier, direction=direction, frontier_size=1)
    g.unpersist()


def test_pack_edges_filters_adjacency(spark):
    """packEdges analog (ligra.h:288-334): the packed graph holds only
    edges passing the predicate, and algorithms over it see exactly the
    filtered adjacency (delta-stepping's light-edge subgraph shape)."""
    from ligra_spark.algorithms import bellman_ford

    g = _g(spark)
    light = g.pack_edges(F.col("w") <= 2.0)
    assert light.m == 3
    got = {r["id"]: r["dist"] for r in bellman_ford(light, 0).collect()}
    # only light edges: 0->1 (1), 0->2 (2), 1->2 (2); 3 unreachable
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}
    light.unpersist()
    g.unpersist()


def test_vertex_map_and_filter(spark):
    state = spark.createDataFrame([(1, 2), (2, 5), (3, 8)], "id long, x long")
    mapped = vertex_map(state, {"x": F.col("x") * 10})
    assert {r["id"]: r["x"] for r in mapped.collect()} == {1: 20, 2: 50, 3: 80}
    kept = vertex_filter(state, F.col("x") >= 5)
    assert sorted(r["id"] for r in kept.collect()) == [2, 3]
