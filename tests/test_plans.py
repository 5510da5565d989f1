"""Physical-plan regression tests — the `.explain("formatted")` review
as assertions. A correct-but-wrong-strategy plan (lost pushdown,
shuffled dimension join, accidental cartesian) fails here before it
fails at scale."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ligra_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_whole_stage_codegen,
)

SF_DIR = "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_codegen(spark):
    from ligra_spark.queries import q_pricing_summary

    df = q_pricing_summary(spark, SF_DIR)
    assert_pushed_filters(df, "l_shipdate", "pricing_summary")
    assert_whole_stage_codegen(df, "pricing_summary")
    assert_no_cartesian(df, "pricing_summary")


def test_nation_revenue_broadcasts_dims(spark):
    from ligra_spark.queries import q_nation_revenue

    df = q_nation_revenue(spark, SF_DIR)
    # customer, supplier, nation, region all broadcast
    assert_broadcast_join(df, at_least=4, label="nation_revenue")
    assert_no_cartesian(df, "nation_revenue")


def test_segment_spend_broadcasts(spark):
    from ligra_spark.queries import q_segment_spend

    df = q_segment_spend(spark, SF_DIR)
    assert_broadcast_join(df, at_least=1, label="segment_spend")
    assert_no_cartesian(df, "segment_spend")


def test_edge_map_broadcast_mode_plan(spark, mk_graph):
    """The broadcast plan, plain and keyed by ``slot``: the frontier is
    broadcast, and the final aggregation reads the partial one with no
    exchange between them, since the edge table's
    ``hashpartitioning(dst)`` satisfies ``(id)`` and ``(id, slot)``
    alike (AQE drops the exchange once the cached scan reports its
    partitioning, so the check reads the executed plan)."""
    from ligra_spark.operators.edge_map import edge_map
    from ligra_spark.plans import physical_plan

    g = mk_graph([(0, 1), (1, 2), (2, 3), (3, 0)])
    plain = spark.createDataFrame([(0,)], "id long")
    keyed = spark.createDataFrame([(0, 5)], "id long, slot int")
    for frontier, keys in ((plain, ()), (keyed, ("slot",))):
        label = f"edge_map broadcast keys={keys}"
        msgs = edge_map(g, frontier, message=F.col("src"), combiner="min",
                        direction="broadcast", frontier_size=1, keys=keys)
        assert_broadcast_join(msgs, at_least=1, label=label)
        assert_no_cartesian(msgs, label)
        msgs.collect()
        plan = physical_plan(msgs)
        assert re.search(
            r"HashAggregate \(\d+\)\n\s*\+- \* HashAggregate \(\d+\)", plan
        ), f"{label}: exchange between the aggregations:\n{plan}"


def test_edge_map_shuffle_mode_no_broadcast_of_edges(spark, mk_graph):
    from ligra_spark.operators.edge_map import edge_map
    from ligra_spark.plans import physical_plan

    g = mk_graph([(0, 1), (1, 2), (2, 3), (3, 0)])
    frontier = spark.createDataFrame([(0,), (1,)], "id long")
    msgs = edge_map(g, frontier, message=F.col("src"), combiner="min",
                    direction="shuffle", frontier_size=2)
    assert_no_cartesian(msgs, "edge_map shuffle")
    assert "HashAggregate" in physical_plan(msgs)


def test_triangle_plan_no_cartesian(spark, mk_graph):
    from ligra_spark.algorithms import triangles_per_vertex

    g = mk_graph([(0, 1), (1, 2), (0, 2), (2, 3)])
    df = triangles_per_vertex(g)
    assert_no_cartesian(df, "triangle")


def test_minhash_lsh_plan_is_equijoin(spark):
    from ligra_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(30)],
        "doc_id long, text string",
    )
    df = minhash_lsh_pairs(docs)
    assert_no_cartesian(df, "minhash_lsh")


def test_embedding_dups_bucketed_no_cartesian(spark):
    from ligra_spark.functions.similarity import embedding_dup_pairs

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.5]) for i in range(40)],
        "emb_id long, vec array<double>",
    )
    # method='lsh' is the documented scale path; the default is the
    # exact all-pairs oracle mode, whose cross join is intentional
    df = embedding_dup_pairs(emb, id_col="emb_id", vec_col="vec", method="lsh")
    assert_no_cartesian(df, "embedding_dup_pairs")


def test_hyper_props_no_cartesian(spark):
    from ligra_spark.hypergraph import Hypergraph

    inc = spark.createDataFrame(
        [(0, 100), (1, 100), (2, 101), (0, 101)], "v long, h long"
    )
    hg = Hypergraph(inc, num_partitions=4)
    frontier = spark.createDataFrame([(0,)], "id long")
    up = hg.vertex_prop(frontier, combiner="min", frontier_size=1)
    assert_no_cartesian(up, "vertex_prop")
    down = hg.hyperedge_prop(
        spark.createDataFrame([(100,)], "id long"), combiner="min",
        frontier_size=1,
    )
    assert_no_cartesian(down, "hyperedge_prop")


def test_ivf_probe_is_equijoin(spark):
    from ligra_spark.functions.similarity import ivf_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = emb.orderBy("vec_id").limit(4)
    df = ivf_topk(emb, q, k=3, n_cells=4, nprobe=2)
    assert_no_cartesian(df, "ivf_topk")
