"""PageRank parity: Spark engine vs reference-faithful numpy oracle,
np.allclose atol=1e-6 (BASELINE.json metric)."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import CHAIN_64, STAR_HUB, TWO_COMPONENTS
from ligra_spark.algorithms import pagerank, pagerank_delta
from ligra_spark.algorithms._iter import IterMetrics
from ligra_spark.graph import Graph
from oracles import pagerank_oracle


def _check(mk_graph, edges, algo=pagerank, **kw):
    g = mk_graph(edges)
    got = {r["id"]: r["rank"] for r in algo(g, **kw).collect()}
    want = pagerank_oracle(edges)
    assert set(got) == set(want)
    got_v = np.array([got[k] for k in sorted(want)])
    want_v = np.array([want[k] for k in sorted(want)])
    assert np.allclose(got_v, want_v, atol=1e-6), (got, want)
    g.unpersist()


def test_pagerank_star_hub(mk_graph):
    # hub is a sink: reference semantics lose its rank mass
    _check(mk_graph, STAR_HUB)


def test_pagerank_chain(mk_graph):
    _check(mk_graph, CHAIN_64)


def test_pagerank_two_components(mk_graph):
    _check(mk_graph, TWO_COMPONENTS)


# two cliques joined both ways and a chain: the fixture graphs above
# take the local kernel, so this one runs the distributed round loop
DIST_EDGES = TWO_COMPONENTS + [(0, 10), (16, 4)] + CHAIN_64


def test_pagerank_distributed(mk_graph, monkeypatch):
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    _check(mk_graph, DIST_EDGES)


def test_distributed_pagerank_counts_n_in_its_commit(mk_graph, monkeypatch):
    """On a cold generic graph the distributed loops read ``n`` and ``m``
    off their first state commit, never through ``Graph.n`` (a degree
    count job of its own)."""
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    calls = []
    real_n = Graph.n
    monkeypatch.setattr(
        Graph, "n", property(lambda g: calls.append(g) or real_n.fget(g))
    )
    want = pagerank_oracle(DIST_EDGES, max_iters=1)
    keys = sorted(want)
    for algo in (pagerank, pagerank_delta):
        g = mk_graph(DIST_EDGES)
        got = {r["id"]: r["rank"] for r in algo(g, max_iters=1).collect()}
        assert calls == [], algo.__name__
        assert set(got) == set(want)
        assert np.allclose(
            [got[k] for k in keys], [want[k] for k in keys], rtol=1e-12, atol=0
        ), algo.__name__
        assert g.m == len(DIST_EDGES)
        g.unpersist()


def test_pagerank_sink_mass_is_lost(mk_graph):
    # PageRank.C:33-40 has no dangling redistribution: with a pure sink,
    # total mass stays below 1 — assert we reproduce that, not "fix" it.
    g = mk_graph(STAR_HUB)
    total = sum(r["rank"] for r in pagerank(g, max_iters=5).collect())
    assert total < 0.999
    g.unpersist()


def test_pagerank_records_metrics(mk_graph):
    m = IterMetrics()
    g = mk_graph(CHAIN_64)
    pagerank(g, max_iters=3, metrics=m)
    assert m.iterations == 3
    assert all("l1" in r and "wall_s" in r for r in m.rounds)
    g.unpersist()


@pytest.mark.slow
def test_pagerank_delta_matches_pagerank(mk_graph):
    edges = TWO_COMPONENTS + [(0, 10), (16, 4)]
    g = mk_graph(edges)
    want = pagerank_oracle(edges)
    want_v = np.array([want[k] for k in sorted(want)])
    # eps2=0: no deltas are dropped → exact power iteration, 1e-6 parity
    got = {r["id"]: r["rank"] for r in pagerank_delta(g, eps2=0.0, max_iters=100).collect()}
    got_v = np.array([got[k] for k in sorted(want)])
    assert np.allclose(got_v, want_v, atol=1e-6)
    # default eps2=0.01 is Ligra's approximation (PageRankDelta.C:93):
    # close, but intentionally not 1e-6-exact
    got2 = {r["id"]: r["rank"] for r in pagerank_delta(g, max_iters=100).collect()}
    got2_v = np.array([got2[k] for k in sorted(want)])
    assert np.allclose(got2_v, want_v, rtol=0.05)
    g.unpersist()
