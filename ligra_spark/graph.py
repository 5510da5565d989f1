"""Distributed graph representation.

The reference keeps a shared-memory CSR (``graph<vertex>``,
/root/reference/ligra/graph.h:98-128) with per-vertex neighbor pointers;
asymmetric graphs additionally keep an in-edge CSR built at load time
(IO.h:235-309), and ``transpose()`` (graph.h:119-127) flips the two.

Here the graph is a pair of hash-partitioned, persisted DataFrames:

- ``edges_by_src`` — ``(src LONG, dst LONG [, w])`` repartitioned on
  ``src``: the out-CSR analog. Joining per-vertex state (partitioned on
  the same key) is then exchange-free on the edge side — the per-
  iteration shuffle moves only gathered messages, never the edge table.
- ``edges_by_dst`` — same rows repartitioned on ``dst``: the in-CSR /
  ``transpose()`` analog, built once up front.
- ``degrees`` — ``(id, out_deg, in_deg)`` for direction decisions
  (frontier out-degree sum, ligra.h:248-259) and PageRank's
  ``p[s]/outdeg(s)`` gather.

Vertex IDs are 64-bit longs (we target 10^12-turn scale; the reference's
32-bit default, parallel.h:114-125, does not survive that).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


# Graphs at or under this many edges dispatch iterative algorithms to
# the fused single-partition Arrow kernels (the closed.py kernels over
# the trivial whole-graph closure) instead of the distributed fixpoint
# loops. Rationale (measured, sf0.1 events graph = 98.5k edges,
# local[32]): a distributed fixpoint round costs ~0.45-0.5s of pure
# driver orchestration — ~5 scheduler jobs + Catalyst planning + AQE
# stage materialization + a localCheckpoint — while its 32 cores are
# >97% idle (sum of executor task time across a full 20-round PageRank:
# 9.2s on 32 cores = 0.29s busy-equivalent vs 12.4s wall). A
# single-worker numpy kernel sustains ~30-60M edge-updates/s, so any
# graph under a few million edges finishes ALL rounds in under a
# second, beating the per-round floor by an order of magnitude. The
# threshold is deliberately conservative (kernel wall ≲1s, worker
# memory ≲100 MB) and env-tunable: a real cluster tunes it by its own
# scheduler floor; 0 disables the dispatch (bench_scaling sets 0 so the
# distributed engine's scaling is what gets measured).
DEFAULT_LOCAL_KERNEL_EDGES = 2_000_000


def local_kernel_edge_cap() -> int:
    import os

    try:
        return int(
            os.environ.get(
                "LIGRA_LOCAL_GRAPH_EDGES", DEFAULT_LOCAL_KERNEL_EDGES
            )
        )
    except ValueError:
        return DEFAULT_LOCAL_KERNEL_EDGES


class _LocalClosedView:
    """Single-partition closed view of a small graph: the whole edge set
    coalesced into ONE partition is trivially closure-partitioned (every
    vertex's entire neighborhood is in that partition), so the closed.py
    kernels — already oracle- and parity-verified against the generic
    fixpoints — compute exact GLOBAL answers over it. This is the
    reference's own execution model recovered as a dispatch target:
    Ligra runs the whole graph in shared memory on one node
    (ligra.h:469-497); when a graph fits one worker's budget, paying
    20+ distributed rounds of driver orchestration to emulate that is
    pure overhead."""

    def __init__(self, graph: "Graph") -> None:
        self.spark = graph.spark
        self._graph = graph
        cols = ["src", "dst"] + (["w"] if graph.weighted else [])
        self.closed_edges = graph.edges_by_src.select(cols).coalesce(1)
        self.closure_key = "__whole_graph__"

    # counted on first use by a kernel, not when the view is built
    @property
    def n(self) -> int:
        return self._graph.n

    @property
    def m(self) -> int:
        return self._graph.m


def _auto_partitions(m: int, cap: int) -> int:
    """Partition count ∝ edge count, power-of-two, floor 8, capped at
    the session's shuffle-partition setting.

    Rationale (measured, sf0.1 events graph = 98.5k edges,
    local[32]): at 32 partitions a ~100k-edge graph pays per-round
    scheduler fan-out for ~3k-row tasks — CC ran 15.9-27.5s and
    20-iteration PageRank 11.4-13.8s; at 16 partitions the same
    queries ran 5.9-6.3s and 7.2-8.0s (8 partitions was slightly
    worse again: 7.4-8.4s / 8.1-8.9s). ~8k edges/partition keeps
    tasks large enough to amortize launch overhead while preserving
    enough parallelism for the shuffle stages; big graphs hit the cap
    and behave exactly as before. On a real cluster the cap is the
    configured shuffle parallelism, so auto-sizing only ever *shrinks*
    tiny inputs — it never under-partitions a 100 TB table."""
    if m <= 0:
        return 8
    p = 1 << max(3, math.ceil(math.log2(m / 8192)))
    return max(8, min(p, cap))


class Graph:
    """Immutable distributed graph over an edge DataFrame.

    Parameters
    ----------
    edges : DataFrame with columns ``src`` (long), ``dst`` (long) and
        optionally ``w`` (double) — analogous to the weighted CSR's
        interleaved (neighbor, weight) pairs (vertex.h:214-231).
    symmetric : the graph is already symmetric (every edge present in
        both directions), like Ligra's ``-s`` flag.
    dedupe : drop duplicate (src, dst) rows and self-loops, matching
        the simple-graph assumption of Triangle.C:25-28.
    num_partitions : explicit partition count, ``None`` for the
        session's shuffle-partition setting, or ``"auto"`` to size
        partitions from the edge count (one extra count job at
        construction; see ``_auto_partitions`` for the measured
        rationale — small graphs otherwise pay per-round scheduler
        fan-out for near-empty tasks).
    validated_closure : a declared ``closure_key`` is validated at
        construction (one endpoint-distinct pass) unless this is True
        — a misdeclared key makes every partition-local kernel
        (closed.py) **silently wrong**, so the unsafe path is opt-out,
        not opt-in. In-repo derivations that are closed by
        construction (``derive_edges``, ``edges_from_events``,
        ``user_clique_edges``) pass True; at 100 TB callers validate
        once and persist the flag with the table.
    """

    def __init__(
        self,
        edges: DataFrame,
        *,
        symmetric: bool = False,
        dedupe: bool = False,
        num_partitions: int | str | None = None,
        persist: bool = True,
        truncate: bool | str = "auto",
        closure_key: str | None = None,
        validated_closure: bool = False,
    ) -> None:
        self.spark: SparkSession = edges.sparkSession
        self.weighted = "w" in edges.columns
        if closure_key is not None and closure_key not in edges.columns:
            raise ValueError(
                f"closure_key {closure_key!r} not in edge columns {edges.columns}"
            )
        cols = ["src", "dst"] + (["w"] if self.weighted else [])
        edges = edges.select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            *([F.col("w").cast("double")] if self.weighted else []),
            *([F.col(closure_key)] if closure_key is not None else []),
        )
        if dedupe:
            edges = edges.where(F.col("src") != F.col("dst")).dropDuplicates(
                ["src", "dst"]
            )
        self.symmetric = symmetric

        session_parts = int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        if num_partitions is None:
            num_partitions = session_parts

        # Load-time lineage truncation (the analog of the reference
        # building its CSR once at load, IO.h:163-316): Catalyst
        # re-analyzes the *full* logical plan of every query touching a
        # cached table — caching short-circuits execution, not planning.
        # A deep edge derivation (windows + joins over transcripts) taxes
        # every edgeMap iteration with seconds of driver-side analysis;
        # checkpointing once makes all iteration plans shallow
        # (measured: 4.0s vs 0.9s per PageRank iteration at sf0.1). The
        # truncation happens BEFORE the repartition so the persisted
        # orientations keep their hash-partitioning metadata.
        self._edges_ckpt: DataFrame | None = None
        if truncate == "auto":
            plan_lines = edges._jdf.queryExecution().analyzed().toString().count("\n")
            truncate = persist and plan_lines > 24
        if truncate:
            from ligra_spark.algorithms._iter import materialize

            edges = materialize(edges)
            self._edges_ckpt = edges

        self._n: int | None = None
        self._m: int | None = None
        if num_partitions == "auto":
            # sized AFTER truncation so the count scans the checkpointed
            # RDD, not the raw derivation; the count doubles as m
            self._m = edges.count()
            num_partitions = _auto_partitions(self._m, session_parts)
        self.num_partitions = num_partitions

        # Declared partition closure (closed.py): repartitioning by the
        # closure key puts every vertex's ENTIRE neighborhood in one
        # partition, so iterative algorithms dispatch to fused
        # partition-local Arrow kernels with zero per-iteration shuffle.
        # At 10^12-turn scale the transcripts table is stored bucketed
        # by conv_id, so even this one repartition is storage-aligned.
        self.closure_key = closure_key
        self.closed_edges: DataFrame | None = None
        if closure_key is not None:
            # keyed view retained (lazy, unpersisted) for the opt-in
            # validate_closure() group-level check
            self._closed_keyed = edges
            ce = edges.repartition(num_partitions, closure_key).select(cols)
            if persist:
                ce.persist(StorageLevel.MEMORY_AND_DISK)
            self.closed_edges = ce
            # orientations below derive from the persisted closed table
            # so the upstream derivation runs exactly once
            edges = ce

        # The edge table in its AS-DERIVED partitioning, before the
        # src/dst repartitions below. Derivations that are already
        # entity-local (derive_edges windows by conv_id, so no edge
        # crosses a partition's conversations) keep that locality here;
        # partition-local operators (cc_contract_local) exploit it to
        # finish in one contraction round — and a declared closure key
        # (above) upgrades it to *guaranteed* closure. Cached iff the
        # load-time truncation above fired or a closure key persisted
        # it; otherwise it re-runs the derivation (one extra pass —
        # only partition-local consumers read it).
        self.edges_derived = edges.select(cols)

        # Out-CSR analog: partitioned by src so state⋈edges is local.
        self.edges_by_src = edges.repartition(num_partitions, "src").select(cols)
        if persist:
            self.edges_by_src.persist(StorageLevel.MEMORY_AND_DISK)
        # In-CSR analog (IO.h:235-309): built once, partitioned by dst so
        # the message groupBy(dst) after a broadcast join is exchange-free.
        # Derived from the cached out-orientation so the upstream edge
        # derivation (windows/joins over transcripts) runs exactly once.
        self.edges_by_dst = self.edges_by_src.repartition(num_partitions, "dst")
        if persist:
            self.edges_by_dst.persist(StorageLevel.MEMORY_AND_DISK)

        self._degrees: DataFrame | None = None
        self._vertices: DataFrame | None = None

        if closure_key is not None and not validated_closure:
            self.validate_closure()

    # -- vertex set -----------------------------------------------------
    @property
    def vertices(self) -> DataFrame:
        """All vertex ids appearing as an endpoint: ``(id LONG)``.

        The reference's vertex set is dense [0, n); ours is whatever ids
        the edge derivation produced. Algorithms that need isolated
        vertices pass an explicit vertices DF instead.
        """
        return self.degrees.select("id")

    @property
    def degrees(self) -> DataFrame:
        """``(id, out_deg, in_deg)`` — drives the m/20 direction heuristic
        (ligra.h:238) and PageRank's out-degree division.

        Built as out-counts ⟗ in-counts (one full-outer join of two
        pre-aggregated tables) — cheaper than materializing a distinct
        vertex union over 2m endpoint rows first."""
        if self._degrees is None:
            out_d = self.edges_by_src.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("o")
            )
            in_d = self.edges_by_dst.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("i")
            )
            deg = (
                out_d.join(in_d, "id", "full_outer")
                .select(
                    "id",
                    F.coalesce("o", F.lit(0)).alias("out_deg"),
                    F.coalesce("i", F.lit(0)).alias("in_deg"),
                )
                .repartition(self.num_partitions, "id")
            )
            self._degrees = deg.persist(StorageLevel.MEMORY_AND_DISK)
        return self._degrees

    @property
    def n(self) -> int:
        if self._n is None:
            if self.closed_edges is not None:
                self._count_closed()
            else:
                self._n = self.vertices.count()
        return self._n

    @property
    def m(self) -> int:
        if self._m is None:
            if self.closed_edges is not None:
                self._count_closed()
            else:
                self._m = self.edges_by_src.count()
        return self._m

    def _count_closed(self) -> None:
        """(n, m) in one partition-local pass over the closed table —
        each vertex lives in exactly one closure partition, so distinct
        endpoint counts sum without a global shuffle (closed.py)."""
        from ligra_spark.algorithms.closed import closed_counts

        self._n, self._m = closed_counts(self.closed_edges)

    def validate_closure(self) -> None:
        """Raise unless the declared closure key actually closes the
        edge set. A vertex whose edges span two closure groups would
        make every partition-local kernel (closed.py) **silently
        wrong** — each partition sees only part of its neighborhood —
        so the constructor runs this automatically for any declared
        key unless ``validated_closure=True`` was passed (the opt-out
        for in-repo derivations that are closed by construction and
        for 100 TB tables validated once up front). The check is
        GROUP-level (distinct (key, vertex) pairs vs distinct
        vertices), not partition-level: two violating groups hashed
        into the same partition would hide a partition-level count
        mismatch."""
        if self.closed_edges is None:
            raise ValueError("no closure key declared on this graph")
        k = self._closed_keyed
        key = F.col(self.closure_key).alias("k")
        ep = k.select(key, F.col("src").alias("id")).unionAll(
            k.select(key, F.col("dst").alias("id"))
        )
        n_pairs = ep.distinct().count()
        n_glob = ep.select("id").distinct().count()
        if n_pairs != n_glob:
            raise ValueError(
                f"closure_key {self.closure_key!r} does not close the "
                f"graph: {n_pairs} distinct (key, vertex) pairs vs "
                f"{n_glob} distinct vertices — {n_pairs - n_glob} "
                "vertex slots span closure groups; partition-local "
                "kernels would be wrong"
            )

    def fits_local_kernel(self) -> bool:
        """True when the edge set is small enough for the fused
        single-partition kernel dispatch (see ``_LocalClosedView`` /
        ``DEFAULT_LOCAL_KERNEL_EDGES``). Costs one count job if ``m``
        was never computed."""
        cap = local_kernel_edge_cap()
        return cap > 0 and self.m <= cap

    def local_view(self) -> "_LocalClosedView":
        """Single-partition closed view for the local-kernel dispatch."""
        return _LocalClosedView(self)

    def csr_blocks(self) -> DataFrame:
        """Partition-local CSR blocks in Arrow batches (built lazily,
        persisted) — the dense-pull substrate for
        ``edge_map(direction='pull')``; see csr.py."""
        if getattr(self, "_csr_blocks", None) is None:
            from ligra_spark.csr import build_csr_blocks

            self._csr_blocks = build_csr_blocks(
                self.edges_by_src, self.num_partitions
            )
            self._csr_blocks.count()
        return self._csr_blocks

    # -- derived graphs ---------------------------------------------------
    def symmetrized(self) -> "Graph":
        """Undirected view: union of edges and reversed edges, deduped —
        what Ligra's symmetric-input apps (Components, Triangle, KCore)
        assume of their ``-s`` input."""
        if self.symmetric:
            return self
        rev_cols = [F.col("dst").alias("src"), F.col("src").alias("dst")] + (
            [F.col("w")] if self.weighted else []
        )
        both = self.edges_by_src.unionAll(self.edges_by_src.select(rev_cols))
        return Graph(
            both,
            symmetric=True,
            dedupe=True,
            num_partitions=self.num_partitions,
        )

    def transpose(self) -> "Graph":
        """graph.transpose() analog (graph.h:119-127): O(1) — both edge
        orientations are already materialized, so just swap roles."""
        g = object.__new__(Graph)
        g.spark = self.spark
        g._edges_ckpt = None
        g.weighted = self.weighted
        g.symmetric = self.symmetric
        g.num_partitions = self.num_partitions
        cols = [F.col("dst").alias("src"), F.col("src").alias("dst")] + (
            [F.col("w")] if self.weighted else []
        )
        # closure survives direction swap (same partitions, roles flipped)
        g.closure_key = self.closure_key
        g.closed_edges = (
            self.closed_edges.select(cols)
            if self.closed_edges is not None
            else None
        )
        if self.closed_edges is not None:
            # keyed view for validate_closure(): same swap, key kept
            g._closed_keyed = self._closed_keyed.select(
                *cols, F.col(self.closure_key)
            )
        g.edges_by_src = self.edges_by_dst.select(cols)
        g.edges_by_dst = self.edges_by_src.select(cols)
        g.edges_derived = self.edges_derived.select(cols)
        g._vertices = self._vertices
        g._n = self._n
        g._m = self._m
        g._degrees = None
        if self._degrees is not None:
            g._degrees = self._degrees.select(
                "id",
                F.col("in_deg").alias("out_deg"),
                F.col("out_deg").alias("in_deg"),
            )
        return g

    def pack_edges(self, predicate) -> "Graph":
        """packEdges analog (ligra.h:288-334): the reference mutates
        adjacency lists in place; immutable DataFrames re-materialize a
        filtered edge set instead (same asymptotics, no mutation)."""
        return Graph(
            self.edges_by_src.where(predicate),
            symmetric=self.symmetric,
            num_partitions=self.num_partitions,
        )

    def unpersist(self) -> None:
        from ligra_spark.algorithms._iter import unpersist as _unp

        for df in (
            self.edges_by_src,
            self.edges_by_dst,
            self._degrees,
            self._vertices,
            self.closed_edges,
        ):
            if df is not None:
                df.unpersist()
        if getattr(self, "_csr_blocks", None) is not None:
            self._csr_blocks.unpersist()
        if self._edges_ckpt is not None:
            _unp(self._edges_ckpt)
