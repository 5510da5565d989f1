"""Triangle counting — rank-directed intersection.

Reference: apps/Triangle.C — adjacency lists are sorted (Triangle.C:74),
then for each edge the kernel merge-intersects the endpoints' neighbor
lists counting only neighbors ranked below both endpoints
(countCommon, Triangle.C:34-45), so each triangle is counted exactly
once. The global count is a plus-reduce (Triangle.C:89).

Spark realization: orient each undirected edge from the lower-ranked to
the higher-ranked endpoint under the **degree-then-id rank** (the
standard compact-forward orientation; rank-by-degree bounds every
oriented out-degree by O(√m), which is what keeps the join-based plan
alive on skewed hub graphs — an id-ranked orientation would give a hub
an out-list of millions and quadratic wedge blowup). A triangle
{a,b,c} with rank a<b<c appears exactly once as the wedge (a→b, a→c)
closed by the oriented edge (b→c):

    wedges = E⁺ ⋈ E⁺ on the low endpoint (rank-ordered via struct
    comparison), then LEFT SEMI equi-join against E⁺ on (b, c).

Catalyst executes this as two shuffled hash joins with partial
aggregation; AQE's skew-join splitting handles residual wedge skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms.closed import local_index, orient, undirected, wedge_hits
from ligra_spark.algorithms.dispatch import choose_backend
from ligra_spark.graph import Graph

# Wedges one local-parallel probe task may hold (wedge_hits keeps ~40 B
# of temporaries per wedge, so ~640 MB per task at this bound).
_MAX_WEDGES_PER_TASK = 1 << 24


def _oriented_edges(graph: Graph) -> DataFrame:
    """Canonical simple-graph edges oriented low-rank → high-rank under
    (degree, id) rank, carrying the head's rank columns for wedge
    ordering. Self-loops dropped, deduped (Triangle.C:25-28 assumes a
    symmetric simple graph).

    Built INLINE from the edge table rather than via
    ``graph.symmetrized()``: constructing a full Graph pays the
    iterative-algorithm machinery (checkpoint + two persisted
    repartitions + degree table) that a one-shot query never amortizes
    — profiled at ~25s of the r03 triangle_rmat's 30s (VERDICT r04
    item 4). The doubled undirected table also makes the orientation a
    pure FILTER: every unordered pair appears in both directions, so
    keeping the rows where (deg, id) of src < of dst keeps exactly one
    orientation — no dropDuplicates shuffle."""
    e0 = graph.edges_by_src.select("src", "dst").where(
        F.col("src") != F.col("dst")
    )
    if not graph.symmetric:
        e0 = e0.unionAll(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    und = e0.distinct()  # simple undirected graph, both orientations
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    lower = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    return (
        und.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg"), "dst")
        .where(lower)
        .select(
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.col("ddeg").alias("vdeg"),
        )
    )


def _closed_wedges(ep: DataFrame) -> DataFrame:
    """(a, b, c) triples, rank(a) < rank(b) < rank(c), forming triangles."""
    ab, ac = ep.alias("ab"), ep.alias("ac")
    wedges = (
        ab.join(ac, F.col("ab.u") == F.col("ac.u"))
        .where(
            # rank-order the wedge tips: (deg, id) struct comparison
            F.struct(F.col("ab.vdeg"), F.col("ab.v"))
            < F.struct(F.col("ac.vdeg"), F.col("ac.v"))
        )
        .select(
            F.col("ab.u").alias("a"),
            F.col("ab.v").alias("b"),
            F.col("ac.v").alias("c"),
        )
    )
    closing = ep.select(F.col("u").alias("b"), F.col("v").alias("c"))
    return wedges.join(closing, ["b", "c"], "left_semi")


def triangle_count(graph: Graph) -> int:
    """Exact global triangle count (Triangle.C semantics). The oriented
    edge table is checkpointed once — the wedge join references it
    three times (two wedge sides + the closing semi-join), and
    exchange reuse does not reliably cover all three."""
    from ligra_spark.algorithms._iter import materialize, unpersist

    backend, _, _ = choose_backend(graph)
    if backend == "closed":
        # triangles never cross a closure partition, so the count is
        # one Arrow pass, no joins (closed.py)
        from ligra_spark.algorithms.closed import triangle_count_closed

        return triangle_count_closed(graph)
    if backend == "local":
        # Parallel variant of the whole-graph kernel: the coalesce(1)
        # closed kernel put the whole wedge enumeration on ONE core
        # (measured 0.88 s in-kernel for the 487k-edge rMat bench graph
        # while 31 cores idled, 1.6 s end to end). Orientation is tiny
        # (O(m) numpy, bounded by the ≤LIGRA_LOCAL_GRAPH_EDGES dispatch
        # cap, ≤32 MB at the 2M default) and runs on the driver; the
        # wedge probe — the actual work — fans out across the session's
        # cores against a broadcast of the oriented arrays.
        return _triangle_count_local_parallel(graph)
    ep = materialize(_oriented_edges(graph))
    n = _closed_wedges(ep).count()
    unpersist(ep)
    return n


def _triangle_count_local_parallel(graph: Graph) -> int:
    """Exact Triangle.C count for local-dispatch-sized graphs with the
    wedge probe parallelized over the session's cores.

    Same math as the closed kernel (closed.py ``_tri_kernel``), from
    the same helpers: ``undirected`` + ``orient`` run on the DRIVER —
    O(m) vectorized numpy, legitimate here because the whole-graph
    dispatch only fires at m ≤ LIGRA_LOCAL_GRAPH_EDGES (≤32 MB of
    endpoints at the 2M default; big graphs take the distributed
    wedge-join plan above). The oriented arrays ship once as a
    broadcast; each task runs ``wedge_hits`` on a contiguous edge range
    cut at equal-WEDGE boundaries (wedge counts are known exactly from
    the group offsets, so skewed hubs cannot straggle a task) and
    returns its hit count. Parity with the distributed plan and the
    closed kernel is pytest-pinned."""
    import numpy as np

    spark = graph.spark
    tab = graph.edges_by_src.select("src", "dst").toArrow()
    idx = local_index(tab.to_batches())
    if idx is None:
        return 0
    ids, s, d = idx
    nl = len(ids)
    u, v, grp_end, key = orient(*undirected(s, d, nl), ids)
    E = len(u)
    reps = grp_end - np.arange(E) - 1
    W = int(reps.sum())
    if W == 0:
        return 0
    # at least one range per core, and enough ranges that none holds
    # much more than _MAX_WEDGES_PER_TASK wedges (~40 B of temporaries
    # each in wedge_hits)
    cores = spark.sparkContext.defaultParallelism
    T = min(max(cores, -(-W // _MAX_WEDGES_PER_TASK)), E)
    cumw = np.cumsum(reps)
    targets = (np.arange(1, T) * W) // T
    cuts = np.searchsorted(cumw, targets, side="left") + 1
    bounds = np.unique(np.concatenate([[0], cuts, [E]]))
    ranges = [
        (int(bounds[i]), int(bounds[i + 1])) for i in range(len(bounds) - 1)
    ]
    bc = spark.sparkContext.broadcast((v, grp_end, key, nl))

    def count_chunk(rng):
        return int(wedge_hits(*bc.value, *rng)[2].sum())

    total = (
        spark.sparkContext.parallelize(ranges, len(ranges))
        .map(count_chunk)
        .sum()
    )
    # release the broadcast eagerly: long-lived sessions issuing many
    # counts would otherwise accumulate executor-side blocks
    bc.unpersist()
    return int(total)


def triangles_per_vertex(graph: Graph) -> DataFrame:
    """``(id, triangles)`` — per-vertex incident triangle counts (each
    triangle contributes 1 to each of its three corners). The oriented
    table doubles as the vertex universe (every non-isolated vertex
    heads or tails at least one oriented edge), so no symmetrized
    Graph is built here either."""
    from ligra_spark.algorithms._iter import materialize

    if choose_backend(graph, whole_graph=False)[0] == "closed":
        from ligra_spark.algorithms.closed import triangles_per_vertex_closed

        return triangles_per_vertex_closed(graph)
    ep = materialize(_oriented_edges(graph))
    tri = _closed_wedges(ep)
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    # vertex universe straight from the raw endpoints (keeps vertices
    # whose only edges are self-loops, which ep drops)
    raw = graph.edges_by_src
    verts = (
        raw.select(F.col("src").alias("id"))
        .unionAll(raw.select(F.col("dst").alias("id")))
        .distinct()
    )
    return verts.join(counts, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
