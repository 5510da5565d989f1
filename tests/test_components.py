"""Connected components + label propagation + triangles: exact parity
vs oracles (BASELINE.json: components/triangles/labels exact)."""

from __future__ import annotations

from conftest import CHAIN_64, K4, SELF_LOOPS_DUPS, STAR_HUB, TWO_COMPONENTS
from ligra_spark.algorithms import (
    connected_components,
    kcore,
    label_propagation,
    triangle_count,
    triangles_per_vertex,
)
from ligra_spark.algorithms._iter import IterMetrics
from ligra_spark.algorithms.components import _hash_min
from ligra_spark.graph import Graph
from oracles import (
    components_oracle,
    kcore_oracle,
    label_propagation_oracle,
    triangle_count_oracle,
)


def _cc_check(mk_graph, edges, cc=connected_components, **kw):
    g = mk_graph(edges)
    got = {r["id"]: r["comp"] for r in cc(g, **kw).collect()}
    assert got == components_oracle(edges)
    g.unpersist()


def test_cc_plain_hash_min_ligra_semantics(mk_graph):
    # contract=False, jumps=0: the exact Components.C iteration scheme,
    # run on the hash-min loop itself (connected_components would take
    # the local kernel at this size). Its frontier per round: every
    # vertex but 0 takes a smaller label (11-16 take 10), then 11-16
    # take 0 through 10, then nothing moves.
    m = IterMetrics()
    _cc_check(mk_graph, TWO_COMPONENTS + [(0, 10)], _hash_min,
              contract=False, jumps=0, metrics=m)
    assert [r["frontier"] for r in m.rounds] == [11, 6, 0]


def test_hash_min_counts_n_in_its_commit(mk_graph, monkeypatch):
    """Directed CC on a cold generic graph runs the hash-min loop, which
    reads ``n`` and ``m`` off its first state commit, never through
    ``Graph.n`` (a degree count job of its own). Every edge points away
    from its component's minimum, so the directed labels are the
    undirected ones."""
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    calls = []
    real_n = Graph.n
    monkeypatch.setattr(
        Graph, "n", property(lambda g: calls.append(g) or real_n.fget(g))
    )
    edges = CHAIN_64 + [(100, 101), (101, 102), (100, 103), (103, 102)]
    g = mk_graph(edges)
    got = {
        r["id"]: r["comp"]
        for r in connected_components(g, symmetrize=False).collect()
    }
    assert calls == []
    assert got == components_oracle(edges)
    assert g.m == len(edges)
    g.unpersist()


def test_cc_two_components(mk_graph):
    _cc_check(mk_graph, TWO_COMPONENTS)


def test_cc_chain(mk_graph):
    _cc_check(mk_graph, CHAIN_64)


def test_cc_chain_shortcut(mk_graph):
    # one pointer jump per round: Components-Shortcut.C
    _cc_check(mk_graph, CHAIN_64, _hash_min, jumps=1)


def test_cc_star(mk_graph):
    _cc_check(mk_graph, STAR_HUB)


def test_cc_self_loops_dups(mk_graph):
    _cc_check(mk_graph, SELF_LOOPS_DUPS)


def test_lp_two_components(mk_graph):
    edges = TWO_COMPONENTS
    g = mk_graph(edges)
    got = {r["id"]: r["label"] for r in label_propagation(g).collect()}
    assert got == label_propagation_oracle(edges)
    g.unpersist()


def test_lp_star(mk_graph):
    g = mk_graph(STAR_HUB)
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iters=5).collect()}
    assert got == label_propagation_oracle(STAR_HUB, max_iters=5)
    g.unpersist()


def test_triangles_k4(mk_graph):
    g = mk_graph(K4)
    assert triangle_count(g) == 4 == triangle_count_oracle(K4)
    per_v = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
    assert per_v == {0: 3, 1: 3, 2: 3, 3: 3}
    g.unpersist()


def test_triangles_two_cliques(mk_graph):
    # C(5,3) + C(7,3) = 10 + 35 = 45 (FIXTURES.md §3)
    g = mk_graph(TWO_COMPONENTS)
    assert triangle_count(g) == 45 == triangle_count_oracle(TWO_COMPONENTS)
    g.unpersist()


def test_triangles_self_loops_dups(mk_graph):
    g = mk_graph(SELF_LOOPS_DUPS)
    assert triangle_count(g) == triangle_count_oracle(SELF_LOOPS_DUPS) == 1
    g.unpersist()


def test_triangles_chain_has_none(mk_graph):
    g = mk_graph(CHAIN_64)
    assert triangle_count(g) == 0
    g.unpersist()


def test_kcore_cliques(mk_graph):
    edges = TWO_COMPONENTS + [(0, 10)]  # bridge the cliques
    g = mk_graph(edges)
    got = {r["id"]: r["core"] for r in kcore(g).collect()}
    assert got == kcore_oracle(edges)
    g.unpersist()


def test_bfs_components_overflow_guard(mk_graph):
    # 100 disjoint 2-vertex components; the one-BFS-per-component
    # schedule must refuse to silently truncate when capped below that.
    import pytest

    from ligra_spark.algorithms import bfs_components, connected_components

    edges = [(2 * i, 2 * i + 1) for i in range(100)]
    g = mk_graph(edges)
    with pytest.raises(RuntimeError, match="max_comps"):
        bfs_components(g, max_comps=3)
    # fallback path labels the remainder via connected_components and
    # matches the O(log)-round engine exactly
    got = {
        r["id"]: r["comp"]
        for r in bfs_components(g, max_comps=3, on_overflow="fallback").collect()
    }
    want = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    assert got == want
    g.unpersist()


# ---- cc_contract_local: partition-local Arrow contraction ------------------


def _ccl_check(mk_graph, edges, **kw):
    from ligra_spark.algorithms import cc_contract_local

    g = mk_graph(edges)
    got = {r["id"]: r["comp"] for r in cc_contract_local(g, **kw).collect()}
    assert got == components_oracle(edges)
    g.unpersist()


def test_ccl_two_components(mk_graph):
    _ccl_check(mk_graph, TWO_COMPONENTS)


def test_ccl_chain(mk_graph):
    _ccl_check(mk_graph, CHAIN_64)


def test_ccl_star(mk_graph):
    _ccl_check(mk_graph, STAR_HUB)


def test_ccl_self_loops_dups(mk_graph):
    _ccl_check(mk_graph, SELF_LOOPS_DUPS)


def _scattered_path():
    import random

    rng = random.Random(11)
    ids = list(range(0, 4000, 2))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    # path order would put a contiguous stretch in each partition
    rng.shuffle(edges)
    return edges


def test_ccl_scattered_path_stall_fallback(mk_graph, monkeypatch, no_coalesce):
    """A long path with shuffled ids scattered over partitions is the
    worst case for local contraction (residual shrinks by a constant
    per round); at cap 0 the stall detector must hand the contracted
    residual to hash-min and still produce the exact min-id labeling."""
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")
    # stall_ratio=0 forces the fallback on the very first non-improving
    # round, exercising the hash-min handoff + mapping composition
    m = IterMetrics()
    _ccl_check(mk_graph, _scattered_path(), stall_ratio=0.0, metrics=m)
    assert m.rounds[-1].get("fallback") == "hashmin", m.rounds


def test_ccl_stall_fallback_local_under_cap(mk_graph, no_coalesce):
    """At the default cap a stalled residual fits one worker: it is
    coalesced into one partition and one more contraction round ends
    the loop with residual 0, exact labels and no hash-min round."""
    m = IterMetrics()
    _ccl_check(mk_graph, _scattered_path(), stall_ratio=0.0, metrics=m)
    last = m.rounds[-1]
    assert (last["residual"], last.get("fallback")) == (0, "local"), m.rounds
    assert not any(r.get("fallback") == "hashmin" for r in m.rounds), m.rounds


def test_ccl_empty(spark):
    from ligra_spark.algorithms import cc_contract_local
    from ligra_spark.graph import Graph

    g = Graph(spark.createDataFrame([], "src long, dst long"), num_partitions=2)
    assert cc_contract_local(g).count() == 0
