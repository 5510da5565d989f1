"""Closure-key dispatch (closed.py) vs the generic engine paths.

The transcript link graph is conversation-closed (no edge crosses a
conv — sources/transcripts.py), so ``Graph(closure_key="ckey")``
dispatches PageRank / LP to fused partition-local Arrow kernels. These
tests pin the EXACTNESS contract: identical results to the generic
shuffling paths (bit-identical labels for LP, rtol 1e-12 ranks for
PageRank — float summation order is the only permitted difference).
The local-kernel cap is 0 throughout, so the plain graph really runs
the generic loops instead of dispatching to the same kernels.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import IterMetrics
from ligra_spark.algorithms.components import (
    cc_contract_local,
    connected_components,
)
from ligra_spark.algorithms.label_propagation import label_propagation
from ligra_spark.algorithms.pagerank import pagerank
from ligra_spark.graph import Graph
from ligra_spark.sources import derive_edges, generate_transcripts


@pytest.fixture(autouse=True)
def no_local(monkeypatch):
    """Closure-keyed graphs dispatch before the cap is read; the plain
    graph would otherwise take the whole-graph local kernels."""
    monkeypatch.setenv("LIGRA_LOCAL_GRAPH_EDGES", "0")


@pytest.fixture(scope="module")
def pair(spark):
    """(closed graph, plain graph) over the same 300-conv transcripts."""
    t = generate_transcripts(spark, 300, distributed=False)
    g_closed = Graph(
        derive_edges(t, closure_key=True), closure_key="ckey", num_partitions=8
    )
    g_plain = Graph(derive_edges(t), num_partitions=8)
    yield g_closed, g_plain
    g_closed.unpersist()
    g_plain.unpersist()


def test_closed_counts_match(pair):
    g_closed, g_plain = pair
    # n parity doubles as the closure proof: the closed count sums
    # per-partition distincts, which equals the global distinct count
    # iff no vertex's conversation spans two partitions
    assert g_closed.n == g_plain.n
    assert g_closed.m == g_plain.m
    assert g_closed.n > 0


def test_pagerank_closed_parity_fixed_iters(pair):
    g_closed, g_plain = pair
    mc, mp = IterMetrics(), IterMetrics()
    a = pagerank(g_closed, max_iters=10, metrics=mc)
    b = pagerank(g_plain, max_iters=10, metrics=mp)
    assert mc.iterations == mp.iterations == 10
    j = a.join(b.withColumnRenamed("rank", "rank_b"), "id", "full_outer")
    bad = j.where(
        F.col("rank").isNull()
        | F.col("rank_b").isNull()
        | (F.abs(F.col("rank") - F.col("rank_b")) > 1e-12 * F.abs(F.col("rank_b")))
    ).count()
    assert bad == 0
    # per-iteration L1 telemetry matches the generic path's
    for rc, rp in zip(mc.rounds, mp.rounds):
        assert rc["l1"] == pytest.approx(rp["l1"], rel=1e-9)


def test_pagerank_closed_parity_converged(pair):
    """Loose tolerance → converges mid-run → exercises the replay
    path; round counts and ranks must match the generic stop."""
    g_closed, g_plain = pair
    mc, mp = IterMetrics(), IterMetrics()
    a = pagerank(g_closed, tol=1e-4, max_iters=100, metrics=mc)
    b = pagerank(g_plain, tol=1e-4, max_iters=100, metrics=mp)
    assert mc.iterations == mp.iterations
    assert 0 < mc.iterations < 100
    j = a.join(b.withColumnRenamed("rank", "rank_b"), "id", "full_outer")
    bad = j.where(
        F.abs(F.col("rank") - F.col("rank_b")) > 1e-12 * F.abs(F.col("rank_b"))
    ).count()
    assert bad == 0


def test_lp_closed_bit_identical(pair):
    g_closed, g_plain = pair
    a = label_propagation(g_closed, max_iters=5)
    b = label_propagation(g_plain, max_iters=5)
    assert a.count() == b.count() == g_plain.n
    diff = (
        a.withColumnRenamed("label", "la")
        .join(b.withColumnRenamed("label", "lb"), "id", "full_outer")
        .where(
            F.col("la").isNull()
            | F.col("lb").isNull()
            | (F.col("la") != F.col("lb"))
        )
        .count()
    )
    assert diff == 0


def test_cc_single_round_on_closed(pair):
    """A declared closure key guarantees contraction finishes with an
    empty residual in round one (edges_derived IS the closed table)."""
    g_closed, g_plain = pair
    m = IterMetrics()
    a = cc_contract_local(g_closed, metrics=m)
    b = cc_contract_local(g_plain)
    assert m.rounds[0]["residual"] == 0
    diff = (
        a.withColumnRenamed("comp", "ca")
        .join(b.withColumnRenamed("comp", "cb"), "id", "full_outer")
        .where(F.col("ca") != F.col("cb"))
        .count()
    )
    assert diff == 0


def test_cc_closed_parity(pair):
    """connected_components on a closure-keyed graph takes the closed
    kernel and matches the distributed hash-min fixpoint exactly."""
    g_closed, g_plain = pair
    mc, mp = IterMetrics(), IterMetrics()
    a = connected_components(g_closed, metrics=mc)
    b = connected_components(g_plain, metrics=mp)
    assert (mc.backend, mp.backend) == ("closed", "distributed")
    diff = (
        a.withColumnRenamed("comp", "ca")
        .join(b.withColumnRenamed("comp", "cb"), "id", "full_outer")
        .where(
            F.col("ca").isNull() | F.col("cb").isNull() | (F.col("ca") != F.col("cb"))
        )
        .count()
    )
    assert diff == 0


def test_triangle_closed_parity(pair):
    """Transcript graphs DO contain triangles (a tool call at turn t
    answered at t+2 closes {t, t+1, t+2}); counts must match the
    generic rank-directed join plan exactly."""
    from ligra_spark.algorithms.triangle import triangle_count, triangles_per_vertex

    g_closed, g_plain = pair
    n_closed = triangle_count(g_closed)
    n_plain = triangle_count(g_plain)
    assert n_closed == n_plain
    a = triangles_per_vertex(g_closed)
    b = triangles_per_vertex(g_plain)
    diff = (
        a.withColumnRenamed("triangles", "ta")
        .join(b.withColumnRenamed("triangles", "tb"), "id", "full_outer")
        .where(
            F.col("ta").isNull() | F.col("tb").isNull() | (F.col("ta") != F.col("tb"))
        )
        .count()
    )
    assert diff == 0


def test_triangle_closed_nonzero(spark):
    """Hand-built two-component closed graph with known triangle
    structure: K4 (4 triangles) in one closure group, a triangle plus a
    pendant in another — the synthetic transcripts fixture is
    triangle-free (tool replies are always adjacent), so this pins the
    nonzero path explicitly."""
    from ligra_spark.algorithms.triangle import triangle_count, triangles_per_vertex

    k4 = [(a, b, 1) for a in range(4) for b in range(4) if a < b]
    tri = [(10, 11, 2), (11, 12, 2), (10, 12, 2), (12, 13, 2)]
    df = spark.createDataFrame(k4 + tri, "src long, dst long, ckey long")
    g = Graph(df, closure_key="ckey", num_partitions=4)
    g_plain = Graph(df.select("src", "dst"), num_partitions=4)
    assert triangle_count(g) == triangle_count(g_plain) == 5
    pv = {r.id: r.triangles for r in triangles_per_vertex(g).collect()}
    assert pv == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1, 13: 0}


def test_closed_survives_transpose(pair):
    g_closed, _ = pair
    gt = g_closed.transpose()
    assert gt.closed_edges is not None
    gt.validate_closure()  # keyed view must survive the swap too
    # transpose twice = original ranks
    a = pagerank(g_closed, max_iters=3)
    b = pagerank(gt.transpose(), max_iters=3)
    bad = (
        a.join(b.withColumnRenamed("rank", "rank_b"), "id")
        .where(F.abs(F.col("rank") - F.col("rank_b")) > 1e-12)
        .count()
    )
    assert bad == 0


def test_closed_lp_plan_shuffle_free(pair):
    """The closed LP state plan contains at most ONE exchange — the
    up-front closure repartition inside the cached edge table; no
    per-iteration shuffle exists anywhere in the lineage."""
    g_closed, _ = pair
    state = label_propagation(g_closed, max_iters=4)
    plan = state._jdf.queryExecution().executedPlan().toString()
    # every Exchange line must be the up-front ckey repartition (AQE
    # prints the same cached exchange in both its initial and final
    # plan, so count-based assertions double-count it)
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert ex and all("ckey" in ln for ln in ex), plan


def test_derived_graphs_drop_closure(pair):
    g_closed, _ = pair
    assert g_closed.symmetrized().closed_edges is None
    assert g_closed.pack_edges(F.col("src") != F.col("dst")).closed_edges is None


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_closed_random_parity(spark, seed):
    """Randomized closed graphs with the nasty cases the transcript
    derivation never produces — self-loops, duplicate directed edges,
    negative 64-bit ids, singleton-edge groups — must still match the
    generic engine exactly (PR rtol 1e-12, LP/CC/Triangle identical)."""
    import numpy as np

    from ligra_spark.algorithms.triangle import triangle_count

    rng = np.random.default_rng(seed)
    rows = []
    for grp in range(25):
        nv = int(rng.integers(2, 9))
        # hash-like ids: random int64, sign included
        vids = rng.integers(-(2**62), 2**62, size=nv)
        ne = int(rng.integers(1, 3 * nv))
        for _ in range(ne):
            a, b = rng.integers(0, nv, size=2)  # self-loops + dupes ok
            rows.append((int(vids[a]), int(vids[b]), grp))
    df = spark.createDataFrame(rows, "src long, dst long, ckey long")
    g_closed = Graph(df, closure_key="ckey", num_partitions=8)
    g_plain = Graph(df.select("src", "dst"), num_partitions=8)
    g_closed.validate_closure()

    assert (g_closed.n, g_closed.m) == (g_plain.n, g_plain.m)
    a = pagerank(g_closed, max_iters=7)
    b = pagerank(g_plain, max_iters=7)
    bad = (
        a.join(b.withColumnRenamed("rank", "rb"), "id", "full_outer")
        .where(
            F.col("rank").isNull()
            | F.col("rb").isNull()
            | (F.abs(F.col("rank") - F.col("rb")) > 1e-12 * F.abs(F.col("rb")))
        )
        .count()
    )
    assert bad == 0
    la = label_propagation(g_closed, max_iters=4)
    lb = label_propagation(g_plain, max_iters=4)
    assert (
        la.withColumnRenamed("label", "x")
        .join(lb.withColumnRenamed("label", "y"), "id", "full_outer")
        .where(F.col("x").isNull() | F.col("y").isNull() | (F.col("x") != F.col("y")))
        .count()
        == 0
    )
    ca = cc_contract_local(g_closed)
    cb = cc_contract_local(g_plain)
    assert (
        ca.withColumnRenamed("comp", "x")
        .join(cb.withColumnRenamed("comp", "y"), "id", "full_outer")
        .where(F.col("x").isNull() | F.col("y").isNull() | (F.col("x") != F.col("y")))
        .count()
        == 0
    )
    assert triangle_count(g_closed) == triangle_count(g_plain)
    g_closed.unpersist()
    g_plain.unpersist()


def test_eccentricity_closed_parity(spark):
    """Exact eccentricity via the closed all-sources-BFS kernel equals
    kbfs_exact's batched 64-bit multi-BFS on a small transcript graph
    (tool edges give non-chain distance structure)."""
    from ligra_spark.algorithms.radii import kbfs_exact

    t = generate_transcripts(spark, 30, distributed=False)
    g_closed = Graph(
        derive_edges(t, closure_key=True), closure_key="ckey", num_partitions=8
    )
    g_plain = Graph(derive_edges(t), num_partitions=8)
    a = kbfs_exact(g_closed)  # dispatches to the closed kernel
    b = kbfs_exact(g_plain, batch=64)
    diff = (
        a.withColumnRenamed("radius", "ra")
        .join(b.withColumnRenamed("radius", "rb"), "id", "full_outer")
        .where(
            F.col("ra").isNull() | F.col("rb").isNull() | (F.col("ra") != F.col("rb"))
        )
        .count()
    )
    assert diff == 0
    assert a.count() > 0
    g_closed.unpersist()
    g_plain.unpersist()


def test_validate_closure(pair, spark):
    g_closed, g_plain = pair
    g_closed.validate_closure()  # conv-derived key: closed by construction
    with pytest.raises(ValueError, match="no closure key"):
        g_plain.validate_closure()
    # a key that does NOT close the graph (parity of dst on a path)
    # must be rejected loudly, not silently produce wrong kernels
    edges = spark.createDataFrame(
        [(i, i + 1, (i + 1) % 2) for i in range(10)],
        "src long, dst long, ckey long",
    )
    # ... at CONSTRUCTION by default (r04 advice: a misdeclared key
    # silently corrupts every closed kernel, so validation is opt-out)
    with pytest.raises(ValueError, match="does not close"):
        Graph(edges, closure_key="ckey", num_partitions=4)
    # opt-out path defers to the explicit call
    bad = Graph(
        edges, closure_key="ckey", num_partitions=4, validated_closure=True
    )
    with pytest.raises(ValueError, match="does not close"):
        bad.validate_closure()
    bad.unpersist()
