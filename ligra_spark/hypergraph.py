"""Hypergraph engine — the hygra.h analog (reference: ligra/hygra.h:36-472).

The reference represents a hypergraph as a BIPARTITE structure of nv
vertices and nh hyperedges with two CSR halves (vertex→hyperedge
incidence and its transpose), and drives every app with two dual
traversal operators:

- ``vertexProp``    (hygra.h: vertexProp)    — map over the out-incidence
  of a vertex frontier, producing a hyperedge subset;
- ``hyperedgeProp`` (hygra.h: hyperedgeProp) — map over the member lists
  of a hyperedge frontier, producing a vertex subset.

The Spark-first realization is one incidence DataFrame ``(v, h [, w])``
wrapped in the existing dual-partitioned :class:`~ligra_spark.graph.Graph`
(v→h orientation); ``vertexProp`` is an ordinary ``edge_map`` over it and
``hyperedgeProp`` is an ``edge_map`` over its O(1) transpose. All of
Ligra's scheduling (broadcast-vs-shuffle direction choice, the m/20
rule, combiner pushdown) is inherited unchanged, which is exactly the
reference's design: hygra's operators are ligra's operators on the
bipartite expansion.

Scale note: at 10^12 incidences this is two hash-partitioned edge
tables and every round is one bounded message shuffle — identical cost
model to the graph engine, no new machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.graph import Graph


class Hypergraph:
    """Immutable distributed hypergraph over an incidence DataFrame.

    Parameters
    ----------
    incidence : DataFrame with columns ``v`` (long), ``h`` (long) and
        optionally ``w`` (double) — one row per (vertex, hyperedge)
        membership, the bipartite edge list hygra.h builds its two CSR
        halves from. Vertex and hyperedge id spaces may overlap; the
        two layers are always addressed separately.
    directed : if True, ``incidence`` must carry a ``d`` column with
        0 = tail arc (v→h, traversed by vertex_prop) and 1 = head arc
        (h→v, traversed by hyperedge_prop) — the reference's directed
        hypergraph, where a hyperedge's in-neighbors and out-neighbors
        are distinct sets (HyperBPath relies on this). The default
        symmetric mode mirrors the reference's ``-s`` inputs: one
        membership set traversed in both directions.
    """

    def __init__(
        self,
        incidence: DataFrame,
        *,
        directed: bool = False,
        num_partitions: int | None = None,
    ) -> None:
        wcols = [F.col("w")] if "w" in incidence.columns else []
        fwd_rows = incidence.where(F.col("d") == 0) if directed else incidence
        # v→h orientation; the h→v half is its O(1) transpose in
        # symmetric mode, a separate arc set in directed mode.
        self.fwd = Graph(
            fwd_rows.select(
                F.col("v").alias("src"), F.col("h").alias("dst"), *wcols
            ),
            num_partitions=num_partitions,
            dedupe=False,
        )
        if directed:
            self.rev = Graph(
                incidence.where(F.col("d") == 1).select(
                    F.col("h").alias("src"), F.col("v").alias("dst"), *wcols
                ),
                num_partitions=num_partitions,
                dedupe=False,
            )
        else:
            self.rev = self.fwd.transpose()
        self.directed = directed
        self.spark = self.fwd.spark
        self.weighted = self.fwd.weighted
        self.num_partitions = self.fwd.num_partitions

    # -- layer views ----------------------------------------------------
    @property
    def vertices(self) -> DataFrame:
        """``(id)`` — vertices with at least one incidence."""
        ids = self.fwd.edges_by_src.select(F.col("src").alias("id"))
        if self.directed:
            ids = ids.unionAll(
                self.rev.edges_by_dst.select(F.col("dst").alias("id"))
            )
        return ids.distinct()

    @property
    def hyperedges(self) -> DataFrame:
        """``(id)`` — hyperedges with at least one member."""
        ids = self.fwd.edges_by_dst.select(F.col("dst").alias("id"))
        if self.directed:
            ids = ids.unionAll(
                self.rev.edges_by_src.select(F.col("src").alias("id"))
            )
        return ids.distinct()

    @property
    def vertex_degrees(self) -> DataFrame:
        """``(id, deg)`` — out-incidence count per vertex (the
        reference's ``V[i].getOutDegree()``; = incident-hyperedge
        count in symmetric mode)."""
        return self.fwd.edges_by_src.groupBy(
            F.col("src").alias("id")
        ).agg(F.count(F.lit(1)).alias("deg"))

    @property
    def hyperedge_degrees(self) -> DataFrame:
        """``(id, deg)`` — tail count per hyperedge (the reference's
        ``H[i].getInDegree()``; = cardinality in symmetric mode)."""
        return self.fwd.edges_by_dst.groupBy(
            F.col("dst").alias("id")
        ).agg(F.count(F.lit(1)).alias("deg"))

    @property
    def nv(self) -> int:
        return self.vertices.count()

    @property
    def nh(self) -> int:
        return self.hyperedges.count()

    # -- dual traversal operators (hygra.h vertexProp/hyperedgeProp) ----
    def vertex_prop(
        self,
        frontier: DataFrame | None,
        message=None,
        combiner: str = "min",
        **kw,
    ) -> DataFrame:
        """Map over the out-incidence of a vertex frontier → per-
        hyperedge combined messages ``(id, msg)``."""
        from ligra_spark.operators.edge_map import edge_map

        msg = F.col("src") if message is None else message
        return edge_map(self.fwd, frontier, msg, combiner, **kw)

    def hyperedge_prop(
        self,
        frontier: DataFrame | None,
        message=None,
        combiner: str = "min",
        **kw,
    ) -> DataFrame:
        """Map over the member lists of a hyperedge frontier → per-
        vertex combined messages ``(id, msg)``."""
        from ligra_spark.operators.edge_map import edge_map

        msg = F.col("src") if message is None else message
        return edge_map(self.rev, frontier, msg, combiner, **kw)
