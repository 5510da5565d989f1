"""FM-Ecc / LogLog-Ecc sketch eccentricity vs exact BFS eccentricity."""

from __future__ import annotations

import numpy as np

from ligra_spark.algorithms import fm_ecc, loglog_ecc
from ligra_spark.graph import Graph
from ligra_spark.sources.rmat import rmat_graph_df


def _exact_ecc(edges, n_ids):
    """BFS from every vertex over the symmetrized edge list."""
    import collections

    adj = collections.defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    ecc = {}
    for s in n_ids:
        dist = {s: 0}
        q = collections.deque([s])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        ecc[s] = max(dist.values())
    return ecc


def test_fm_ecc_is_lower_bound_and_tight_on_path(spark):
    # path 0-1-2-3-4: distinct init sketches make the bound exact whp
    edges = [(i, i + 1) for i in range(5)]
    g = Graph(spark.createDataFrame(edges, "src long, dst long"), num_partitions=2)
    exact = _exact_ecc(edges, range(6))
    got = {r["id"]: r["ecc"] for r in fm_ecc(g, counters=32).collect()}
    assert set(got) == set(exact)
    for v in exact:
        assert got[v] <= exact[v]
    # with 32 counters on 6 vertices the estimate is exact
    assert got == exact
    g.unpersist()


def test_fm_and_loglog_lower_bound_rmat(spark):
    g = Graph(rmat_graph_df(spark, 6, 250), dedupe=True, num_partitions=4)
    edges = [(r["src"], r["dst"]) for r in g.edges_by_src.collect()]
    ids = sorted({x for e in edges for x in e})
    exact = _exact_ecc(edges, ids)
    # FM registers carry a full bit-vector; LogLog keeps only the max
    # geometric rank, so its lower bound saturates earlier — the accuracy
    # floors reflect estimator strength, not implementation quality.
    for fn, floor in ((fm_ecc, 0.8), (loglog_ecc, 0.35)):
        got = {r["id"]: r["ecc"] for r in fn(g, counters=16).collect()}
        assert set(got) == set(exact)
        for v in exact:
            assert got[v] <= exact[v]
        hits = sum(got[v] == exact[v] for v in exact)
        assert hits / len(exact) > floor, f"{fn.__name__}: {hits}/{len(exact)}"
    g.unpersist()


def test_kbfs_exact_matches_bfs_oracle(spark):
    """kBFS-Exact batches 64-source BFS over every vertex -> exact
    eccentricity (here n > 64 so multiple batches run)."""
    from ligra_spark.algorithms import kbfs_exact

    g = Graph(rmat_graph_df(spark, 7, 500), dedupe=True, num_partitions=4)
    edges = [(r["src"], r["dst"]) for r in g.edges_by_src.collect()]
    ids = sorted({x for e in edges for x in e})
    assert len(ids) > 64
    exact = _exact_ecc(edges, ids)
    got = {r["id"]: r["radius"] for r in kbfs_exact(g).collect()}
    assert got == exact
    g.unpersist()


def test_tk_exact_on_rmat(spark):
    from collections import defaultdict, deque

    from ligra_spark.algorithms import tk_ecc
    from ligra_spark.graph import Graph
    from ligra_spark.sources.rmat import rmat_graph_df

    df = rmat_graph_df(spark, 6, 250, seed=11)
    g = Graph(df, dedupe=True, num_partitions=4)
    adj = defaultdict(set)
    for r in g.symmetrized().edges_by_src.collect():
        adj[r.src].add(r.dst)

    def ecc(v):
        dist = {v: 0}
        q = deque([v])
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    q.append(y)
        return max(dist.values())

    want = sorted((v, ecc(v)) for v in adj)
    got = sorted((r.id, r.radius) for r in tk_ecc(g).collect())
    assert got == want  # list compare catches duplicate rows too


def test_rv_exact_on_small_components(mk_graph):
    """Components with size ≤ nghSize land entirely in Ngh_s, so RV
    degenerates to exact eccentricity — K4 and a 7-path check the
    whole sample/w/Ngh_s plumbing against hand-computed values."""
    from ligra_spark.algorithms import rv_ecc

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(10 + i, 11 + i) for i in range(6)]
    pair = [(100, 101)]
    g = mk_graph(k4 + path + pair)
    got = {r.id: r.radius for r in rv_ecc(g).collect()}
    assert got == {
        0: 1, 1: 1, 2: 1, 3: 1,
        10: 6, 11: 5, 12: 4, 13: 3, 14: 4, 15: 5, 16: 6,
        100: 1, 101: 1,
    }
    g.unpersist()


def test_clrstv_exact_on_small_components(mk_graph):
    """Same degenerate-exact property as RV: components ≤ nghSize land
    entirely in Ngh_s, and every lower-bound estimate for an exact
    vertex is the true eccentricity."""
    from ligra_spark.algorithms import clrstv_ecc

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(10 + i, 11 + i) for i in range(6)]
    g = mk_graph(k4 + path)
    got = {r.id: r.radius for r in clrstv_ecc(g).collect()}
    assert got == {
        0: 1, 1: 1, 2: 1, 3: 1,
        10: 6, 11: 5, 12: 4, 13: 3, 14: 4, 15: 5, 16: 6,
    }
    g.unpersist()


def test_sketch_ecc_one_commit_per_round(spark, monkeypatch):
    """FM-Ecc commits once per round: the changed-register count rides
    the round's checkpoint job, with no separate eccentricity table or
    changed-id set to materialize."""
    import sys

    from ligra_spark.algorithms import _iter

    edges = [(i, i + 1) for i in range(5)]
    both = edges + [(d, s) for s, d in edges]
    g = Graph(
        spark.createDataFrame(both, "src long, dst long"),
        symmetric=True,
        num_partitions=2,
    )
    real, calls = _iter.materialize, []

    def spy(df, prev=None):
        calls.append(df)
        return real(df, prev)

    # _iter itself (commit calls it) and every module that imported it
    for mod in list(sys.modules.values()):
        if (
            getattr(mod, "__name__", "").startswith("ligra_spark")
            and getattr(mod, "materialize", None) is real
        ):
            monkeypatch.setattr(mod, "materialize", spy)
    m = _iter.IterMetrics()
    got = {r["id"]: r["ecc"] for r in fm_ecc(g, counters=32, metrics=m).collect()}
    assert got == _exact_ecc(edges, range(6))
    assert m.iterations > 0
    assert len(calls) <= m.iterations + 2, (len(calls), m.iterations)
    g.unpersist()
