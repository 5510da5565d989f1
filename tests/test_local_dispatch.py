"""Whole-graph local-kernel dispatch (r06 optimization).

Small graphs (m ≤ LIGRA_LOCAL_GRAPH_EDGES) route the iterative
fixpoints through the closed.py kernels over a single-partition view
(graph.local_view()). These tests pin: (1) the dispatch produces
results identical to the distributed fixpoints it replaces, (2) the
env kill-switch (=0) really forces the distributed path, (3) every
dispatch decision is recorded on the metrics with its reason."""

from __future__ import annotations

import math

import pytest

from conftest import CHAIN_64, K4, STAR_HUB, TWO_COMPONENTS
from ligra_spark.algorithms import dispatch
from ligra_spark.algorithms._iter import IterMetrics


@pytest.fixture()
def no_local(monkeypatch):
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")


def _rank_map(df):
    return {r["id"]: r["rank"] for r in df.collect()}


@pytest.mark.parametrize("edges", [CHAIN_64, STAR_HUB, TWO_COMPONENTS])
def test_pagerank_local_matches_generic(mk_graph, monkeypatch, edges):
    from ligra_spark.algorithms import pagerank

    g = mk_graph(edges)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = _rank_map(pagerank(g, max_iters=10))
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = _rank_map(pagerank(g, max_iters=10))
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12)


def test_cc_local_matches_generic(mk_graph, monkeypatch):
    from ligra_spark.algorithms import connected_components

    g = mk_graph(TWO_COMPONENTS + [(40, 41), (41, 40)])
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    assert got == want


def test_lp_local_matches_generic(mk_graph, monkeypatch):
    from ligra_spark.algorithms import label_propagation

    g = mk_graph(TWO_COMPONENTS)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = {r["id"]: r["label"] for r in label_propagation(g, max_iters=5).collect()}
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iters=5).collect()}
    assert got == want


def test_triangle_local_matches_generic(mk_graph, monkeypatch):
    from ligra_spark.algorithms import triangle_count

    edges = TWO_COMPONENTS + CHAIN_64
    g = mk_graph(edges, dedupe=True)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = triangle_count(g)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    got = triangle_count(g)
    assert got == want  # K5 → 10, K7 → 35


def test_asymmetric_cc_never_dispatches(mk_graph):
    """symmetrize=False on a directed graph must keep the generic path
    (the local kernel is direction-agnostic, i.e. undirected)."""
    from ligra_spark.algorithms import connected_components

    g = mk_graph([(1, 2), (3, 2)])
    out = {r["id"]: r["comp"] for r in
           connected_components(g, symmetrize=False).collect()}
    # directed hash-min: 2 receives min(1, 3) = 1; 1 and 3 keep selves
    assert out == {1: 1, 2: 1, 3: 3}


def test_dispatch_threshold_respects_env(mk_graph, monkeypatch):
    from ligra_spark.graph import Graph  # noqa: F401

    g = mk_graph(CHAIN_64)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    assert not g.fits_local_kernel()
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "63")
    assert g.fits_local_kernel()
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "62")
    assert not g.fits_local_kernel()


@pytest.mark.parametrize("wedge_cap", [None, 64])
def test_triangle_parallel_local_random_graph(mk_graph, monkeypatch, wedge_cap):
    """The parallel local triangle path (driver-side orientation +
    broadcast wedge probe, r06) must match the distributed wedge-join
    plan on a messy graph: duplicate edges, self-loops, skewed hub,
    multiple wedge-balanced chunks. With a tiny per-task wedge cap the
    probe splits into many more chunks than cores, same count."""
    import random

    from ligra_spark.algorithms import triangle, triangle_count

    rnd = random.Random(23)
    edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(900)]
    edges += [(7, 7), (3, 3)]                 # self-loops
    edges += edges[:50]                       # duplicates
    edges += [(0, i) for i in range(1, 40)]   # hub skew
    g = mk_graph(edges, dedupe=True)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    want = triangle_count(g)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "1000000")
    sc = g.spark.sparkContext
    chunks = []
    parallelize = sc.parallelize

    def spy(data, num_slices=None):
        chunks.append(num_slices)
        return parallelize(data, num_slices)

    monkeypatch.setattr(sc, "parallelize", spy)
    if wedge_cap is not None:
        monkeypatch.setattr(triangle, "_MAX_WEDGES_PER_TASK", wedge_cap)
    got = triangle_count(g)
    assert got == want > 0
    if wedge_cap is None:
        assert chunks == [sc.defaultParallelism]
    else:
        assert chunks[0] > 4 * sc.defaultParallelism


def _closed_graph(spark):
    from ligra_spark.graph import Graph

    df = spark.createDataFrame(
        [(a, b, 1) for a, b in K4], "src long, dst long, ckey long"
    )
    return Graph(df, closure_key="ckey", num_partitions=4)


@pytest.mark.parametrize(
    "kind, algo, kw, cap, backend, reason, row",
    [
        ("closed", "pagerank", {}, "0", "closed", dispatch.CLOSURE_KEY, None),
        ("generic", "pagerank", {}, None, "local", dispatch.UNDER_CAP, None),
        ("generic", "pagerank", {}, "0", "distributed", dispatch.OVER_CAP,
         None),
        ("generic", "pagerank", {"checkpointer": 1}, None, "distributed",
         dispatch.INELIGIBLE, None),
        ("generic", "connected_components", {"max_iters": 3}, None,
         "distributed", dispatch.INELIGIBLE, "frontier"),
        ("directed", "connected_components", {"symmetrize": False}, None,
         "distributed", dispatch.INELIGIBLE, "frontier"),
        ("generic", "connected_components", {}, "0", "distributed",
         dispatch.OVER_CAP, "residual"),
        ("generic", "connected_components", {"checkpointer": 1}, None,
         "distributed", dispatch.INELIGIBLE, "frontier"),
    ],
    ids=["closure-key", "small-generic", "cap-0", "checkpointer",
         "cc-max-iters", "cc-asymmetric", "cc-cap-0", "cc-checkpointer"],
)
def test_dispatch_decision(spark, mk_graph, monkeypatch, tmp_path,
                           kind, algo, kw, cap, backend, reason, row):
    """The recorded backend and reason; for CC also the loop that ran:
    the contraction records ``residual`` rows, hash-min ``frontier``."""
    from ligra_spark import algorithms
    from ligra_spark.checkpoint import Checkpointer

    if cap is not None:
        monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", cap)
    if kind == "closed":
        g = _closed_graph(spark)
    else:
        g = mk_graph(TWO_COMPONENTS if kind == "generic" else [(1, 2), (3, 2)])
    kw = dict(kw)
    if "checkpointer" in kw:
        kw["checkpointer"] = Checkpointer(spark, str(tmp_path), run_id="ck")
    m = IterMetrics()
    getattr(algorithms, algo)(g, metrics=m, **kw).collect()
    assert (m.backend, m.reason) == (backend, reason)
    if row is not None:
        assert m.rounds and all(row in r for r in m.rounds), m.rounds
    g.unpersist()


def test_cc_stall_fallback_through_dispatch(mk_graph, monkeypatch,
                                            no_coalesce):
    """Above the cap, a long path scattered over partitions stalls the
    contraction, which hands its residual to the hash-min loop. The
    labels stay exact, and the fallback never re-enters the public
    connected_components (that would re-dispatch to the contraction)."""
    import random

    from ligra_spark.algorithms import components
    from oracles import components_oracle

    rng = random.Random(5)
    ids = list(range(600))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    rng.shuffle(edges)
    g = mk_graph(edges)
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    cc = components.connected_components
    reentered = []
    monkeypatch.setattr(components, "connected_components",
                        lambda *a, **k: reentered.append(a) or cc(*a, **k))
    m = IterMetrics()
    got = {r["id"]: r["comp"] for r in cc(g, metrics=m).collect()}
    assert (m.backend, m.reason) == ("distributed", dispatch.OVER_CAP)
    assert m.rounds[-1].get("fallback") == "hashmin", m.rounds
    assert not reentered
    assert got == components_oracle(edges)
    g.unpersist()


def test_closed_dispatch_runs_no_job(spark, mk_graph):
    """The closure key is read before the edge cap, so deciding on a
    closure-keyed graph costs no Spark job; a cold generic graph pays
    its count there."""
    sc = spark.sparkContext
    closed, cold = _closed_graph(spark), mk_graph(CHAIN_64)
    for g, want in ((closed, "closed"), (cold, "local")):
        sc.setJobGroup(f"dispatch-{want}", want)
        backend, _, view = dispatch.choose_backend(g)
        jobs = sc.statusTracker().getJobIdsForGroup(f"dispatch-{want}")
        assert backend == want and view is not None
        assert (len(jobs) == 0) == (want == "closed"), jobs
    sc.setLocalProperty("spark.jobGroup.id", None)
    closed.unpersist()
    cold.unpersist()


def test_pagerank_dispatch_counts_in_kernel(spark, mk_graph, monkeypatch):
    """The fused PageRank reads n off its own pass: on a cold generic
    graph whose m is known it runs the kernel pass and the L1 collect
    only, and never builds the degree table behind Graph.n; on a
    closure-keyed graph it never runs the closed count kernel."""
    from ligra_spark.algorithms import closed, pagerank

    sc = spark.sparkContext
    g = mk_graph(CHAIN_64)
    assert g.m == 63
    sc.setJobGroup("pagerank-local", "pagerank")
    pagerank(g, max_iters=5).collect()
    jobs = sc.statusTracker().getJobIdsForGroup("pagerank-local")
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 3, jobs
    assert g._degrees is None
    g.unpersist()

    counted = []
    monkeypatch.setattr(closed, "closed_counts",
                        lambda *a: counted.append(a) or (0, 0))
    for metrics in (None, IterMetrics()):
        g = _closed_graph(spark)
        pagerank(g, max_iters=5, metrics=metrics).collect()
        assert not counted
        if metrics is not None:
            assert metrics.rounds[0]["edges"] == len(K4)
        g.unpersist()
