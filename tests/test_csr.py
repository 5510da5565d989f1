"""CSR-Arrow kernel path: block construction and SpMV parity with the
DataFrame plan and the numpy oracle."""

from __future__ import annotations

import numpy as np

from conftest import CHAIN_64, STAR_HUB, TWO_COMPONENTS
from ligra_spark.csr import build_csr_blocks, csr_spmv, pagerank_csr
from oracles import pagerank_oracle
from pyspark.sql import functions as F


def test_blocks_cover_all_edges(spark, mk_graph):
    g = mk_graph(TWO_COMPONENTS + CHAIN_64)
    blocks = build_csr_blocks(g.edges_by_src, 8)
    rows = blocks.collect()
    total_edges = sum(len(r["dst_inverse"]) for r in rows)
    assert total_edges == g.m
    # every block's indptr covers exactly its edges
    for r in rows:
        assert r["indptr"][-1] == len(r["dst_inverse"])
        assert len(r["indptr"]) == len(r["srcs"]) + 1
    # part_ids unique (one block per logical partition)
    pids = [r["part_id"] for r in rows]
    assert len(pids) == len(set(pids))
    blocks.unpersist()
    g.unpersist()


def test_csr_spmv_matches_join_plan(spark, mk_graph):
    g = mk_graph(STAR_HUB + CHAIN_64 + [(0, 5)])
    blocks = build_csr_blocks(g.edges_by_src, 8)
    shares = g.degrees.where(F.col("out_deg") > 0).select(
        "id", (F.lit(1.0) / F.col("out_deg")).alias("share")
    )
    got = {
        r["id"]: r["msg"] for r in csr_spmv(blocks, shares, 8).collect()
    }
    want_df = (
        shares.withColumnRenamed("id", "src")
        .join(g.edges_by_src, "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum("share").alias("msg"))
    )
    want = {r["id"]: r["msg"] for r in want_df.collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12
    blocks.unpersist()
    g.unpersist()


def test_pagerank_csr_parity(spark, mk_graph):
    edges = TWO_COMPONENTS + [(0, 10), (16, 4)] + CHAIN_64
    g = mk_graph(edges)
    want = pagerank_oracle(edges)
    got = {r["id"]: r["rank"] for r in pagerank_csr(g).collect()}
    assert set(got) == set(want)
    keys = sorted(want)
    assert np.allclose(
        [got[k] for k in keys], [want[k] for k in keys], atol=1e-6
    )
    g.unpersist()
