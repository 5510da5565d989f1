"""Hypergraph family (apps/hyper/) vs Python replay oracles.

The oracles replay the reference round structures directly on the
bipartite incidence (HyperBFS.C:41-66, HyperCC.C:52-79,
HyperPageRank.C:84-113, HyperSSSP.C:60-96, HyperKCore.C:87-137,
HyperBPath.C:27-80); Dijkstra stands in for the SSSP fixpoint."""

from __future__ import annotations

import heapq
from collections import defaultdict

import pytest

from ligra_spark.algorithms import (
    hyper_bfs,
    hyper_bpath,
    hyper_cc,
    hyper_kcore,
    hyper_pagerank,
    hyper_sssp,
)
from ligra_spark.hypergraph import Hypergraph

# two components: {0,1,2,3} via hyperedges 100/101, {5,6} via 103;
# vertex 4 only in hyperedge 102 with 3
INC = [
    (0, 100), (1, 100), (2, 100),
    (2, 101), (3, 101),
    (3, 102), (4, 102),
    (5, 103), (6, 103),
]


@pytest.fixture(scope="module")
def hg(spark):
    df = spark.createDataFrame(INC, "v long, h long")
    return Hypergraph(df, num_partitions=4)


def _maps(inc):
    vh, hv = defaultdict(set), defaultdict(set)
    for v, h in inc:
        vh[v].add(h)
        hv[h].add(v)
    return vh, hv


def test_hyper_bfs(hg):
    vh, hv = _maps(INC)
    dist = {("v", 0): 0}
    frv, r = {0}, 0
    while True:
        nh = {h for v in frv for h in vh[v] if ("h", h) not in dist}
        for h in nh:
            dist[("h", h)] = 2 * r + 1
        if not nh:
            break
        nv = {v for h in nh for v in hv[h] if ("v", v) not in dist}
        for v in nv:
            dist[("v", v)] = 2 * r + 2
        if not nv:
            break
        frv, r = nv, r + 1
    got = {(x.kind, x.id): x.dist for x in hyper_bfs(hg, 0).collect()}
    assert got == dist
    assert ("v", 5) not in got  # other component unreachable


def test_hyper_cc(hg):
    got = {(x.kind, x.id): x.comp for x in hyper_cc(hg).collect()}
    want = {
        ("v", 0): 0, ("v", 1): 0, ("v", 2): 0, ("v", 3): 0, ("v", 4): 0,
        ("h", 100): 0, ("h", 101): 0, ("h", 102): 0,
        ("v", 5): 5, ("v", 6): 5, ("h", 103): 5,
    }
    assert got == want


def test_hyper_pagerank(hg):
    vh, hv = _maps(INC)
    nv = len(vh)
    pv = {v: 1.0 / nv for v in vh}
    for _ in range(3):
        ph = {h: sum(pv[v] / len(vh[v]) for v in hv[h]) for h in hv}
        pv = {
            v: 0.85 * sum(ph[h] / len(hv[h]) for h in vh[v]) + 0.15 / nv
            for v in vh
        }
    got = {(x.kind, x.id): x.p for x in hyper_pagerank(hg, max_iters=3).collect()}
    for v, want in pv.items():
        assert abs(got[("v", v)] - want) < 1e-12
    for h, want in ph.items():
        assert abs(got[("h", h)] - want) < 1e-12


def test_hyper_sssp(spark):
    wmap = {(v, h): (v + 2 * h) % 9 + 1 for v, h in INC}
    df = spark.createDataFrame(
        [(v, h, float(w)) for (v, h), w in wmap.items()], "v long, h long, w double"
    )
    hgw = Hypergraph(df, num_partitions=4)
    vh, hv = _maps(INC)
    dd = {("v", 0): 0.0}
    pq = [(0.0, "v", 0)]
    while pq:
        d, k, x = heapq.heappop(pq)
        if dd.get((k, x), float("inf")) < d:
            continue
        nbrs = (
            [("h", h, wmap[(x, h)]) for h in vh[x]]
            if k == "v"
            else [("v", v, wmap[(v, x)]) for v in hv[x]]
        )
        for k2, y, w in nbrs:
            nd = d + w
            if nd < dd.get((k2, y), float("inf")):
                dd[(k2, y)] = nd
                heapq.heappush(pq, (nd, k2, y))
    got = {(x.kind, x.id): x.dist for x in hyper_sssp(hgw, 0).collect()}
    assert got == dd


def test_hyper_kcore(hg):
    vh, hv = _maps(INC)
    alive, core, k = set(vh), {}, 1
    while alive:
        while True:
            alive_h = {h for h in hv if hv[h] <= alive}
            deg = {v: sum(1 for h in vh[v] if h in alive_h) for v in alive}
            rm = {v for v in alive if deg[v] < k}
            if not rm:
                break
            for v in rm:
                core[v] = k - 1
            alive -= rm
        k += 1
    got = {x.id: x.core for x in hyper_kcore(hg).collect()}
    assert got == core


def test_hyper_bpath(spark):
    # directed: h100 tails {0,1} heads {2}; h101 tails {2} heads {3};
    # h102 tails {9} heads {0} (never fires from source set {0,1})
    inc = [
        (0, 100, 0), (1, 100, 0), (2, 100, 1),
        (2, 101, 0), (3, 101, 1),
        (9, 102, 0), (0, 102, 1),
    ]
    df = spark.createDataFrame(inc, "v long, h long, d int")
    hgd = Hypergraph(df, directed=True, num_partitions=4)
    # single source 0: h100 needs BOTH tails visited -> never fires
    got = {(x.kind, x.id): x.dist for x in hyper_bpath(hgd, 0).collect()}
    assert got == {("v", 0): 0}
    # two-tail firing observed when 1 is also reachable: seed via a
    # singleton-tail hyperedge 103: tail {0} head {1}
    inc2 = inc + [(0, 103, 0), (1, 103, 1)]
    hgd2 = Hypergraph(
        spark.createDataFrame(inc2, "v long, h long, d int"),
        directed=True,
        num_partitions=4,
    )
    got = {(x.kind, x.id): x.dist for x in hyper_bpath(hgd2, 0).collect()}
    assert got == {
        ("v", 0): 0,
        ("h", 103): 1, ("v", 1): 1,     # fires once tail 0 visited
        ("h", 100): 2, ("v", 2): 2,     # fires once both 0,1 visited
        ("h", 101): 3, ("v", 3): 3,     # chain continues
    }


def test_hyper_bc(hg):
    from ligra_spark.algorithms import hyper_bc

    vh, hv = _maps(INC)
    src = 0
    sigv, sigh, lv, lh = {src: 1.0}, {}, {src: 0}, {}
    frv, rnd, maxvl = {src}, 0, 0
    while True:
        newh = defaultdict(float)
        for v in frv:
            for h in vh[v]:
                if h not in lh:
                    newh[h] += sigv[v]
        for h in newh:
            lh[h], sigh[h] = 2 * rnd + 1, newh[h]
        if not newh:
            break
        newv = defaultdict(float)
        for h in newh:
            for v in hv[h]:
                if v not in lv:
                    newv[v] += sigh[h]
        for v in newv:
            lv[v], sigv[v] = 2 * rnd + 2, newv[v]
        if not newv:
            break
        maxvl, frv, rnd = 2 * rnd + 2, set(newv), rnd + 1
    depv = {v: 0.0 for v in lv}
    deph = {h: 0.0 for h in lh}
    for L in range(maxvl, 1, -2):
        fr = [v for v in lv if lv[v] == L]
        for v in fr:
            depv[v] += 1.0
        for v in fr:
            for h in vh[v]:
                if lh.get(h) == L - 1:
                    deph[h] += depv[v] / sigv[v]
        for h in [x for x in lh if lh[x] == L - 1]:
            for v in hv[h]:
                if lv.get(v) == L - 2:
                    depv[v] += deph[h] * sigv[v]
    got = {(r.kind, r.id): (r.paths, r.dep) for r in hyper_bc(hg, src).collect()}
    want = {("v", v): (sigv[v], depv[v]) for v in lv}
    want.update({("h", h): (sigh[h], deph[h]) for h in lh})
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 1e-9
        assert abs(got[k][1] - want[k][1]) < 1e-9


def test_hyper_mis(hg, spark):
    from ligra_spark.algorithms import hyper_mis

    vh, hv = _maps(INC)
    got = {r.id: r.in_set for r in hyper_mis(hg).collect()}
    assert set(got) == set(vh)
    in_set = {v for v, b in got.items() if b}
    # independence: no hyperedge fully inside the set
    # (HyperMIS.C's commented checker, lines 162-168)
    for h, mem in hv.items():
        assert not mem <= in_set, f"hyperedge {h} violated"
    # maximality: adding any OUT vertex must complete some hyperedge
    for v, b in got.items():
        if not b:
            assert any(
                mem - {v} <= in_set for mem in (hv[h] for h in vh[v])
            ), f"vertex {v} could be added"


def test_hyper_kcore_bucketed_matches_plain(hg):
    from ligra_spark.algorithms import hyper_kcore, hyper_kcore_bucketed

    plain = {r.id: r.core for r in hyper_kcore(hg).collect()}
    bucketed = {r.id: r.core for r in hyper_kcore_bucketed(hg).collect()}
    assert bucketed == plain


def test_hyper_loops_pass_frontier_sizes(hg, monkeypatch):
    """hyper_cc, hyper_pagerank and hyper_bc take every edge_map
    frontier size from a commit the loop already runs, so edge_map never
    pays its own frontier.count() job."""
    import importlib

    from ligra_spark.algorithms import hyper_bc

    em = importlib.import_module("ligra_spark.operators.edge_map")
    real = em.edge_map
    calls, unsized = [], []

    def spy(graph, frontier, *args, **kw):
        calls.append(current)
        if frontier is not None and kw.get("frontier_size") is None:
            unsized.append(current)
        return real(graph, frontier, *args, **kw)

    monkeypatch.setattr(em, "edge_map", spy)
    for current, run in (
        ("hyper_cc", lambda: hyper_cc(hg)),
        ("hyper_pagerank", lambda: hyper_pagerank(hg, max_iters=2)),
        ("hyper_bc", lambda: hyper_bc(hg, 0)),
    ):
        run().collect()
        assert current in calls
    assert unsized == []
