"""Parallel (1+ε)-approximate set cover over Julienne buckets.

Reference: apps/bucketing/SetCover.C:12-113 (the Blelloch et al.
bucketed MaNIS scheme). Input is a bipartite digraph set → element.
Rounds process sets bucketed by ``floor(x·ln(deg))`` in DECREASING
order (largest remaining sets first, x = 1/ln(1+ε)):

1. pack: recompute each active set's degree over UNCOVERED elements
   only (SetCover.C:40-43 — the packEdges call site);
2. keep sets still at the bucket's size threshold ``(1+ε)^cur``;
3. claim: each surviving set writeMin's its id into its uncovered
   neighbors (SetCover.C:53-54);
4. win: a set that claimed ≥ ``(1+ε)^(cur-1)`` elements joins the
   cover and marks those elements COVERED; losers release claims
   (SetCover.C:56-77);
5. rebucket survivors by their packed degree (SetCover.C:80-89).

All steps are columnar: pack is a join against the uncovered-element
state + count, claim is ``groupBy(element).min(set)``, win/release is
one join-update of the element state. Deterministic (min-id claim
ties), so the pytest oracle replays the identical rounds in Python.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import (
    IterMetrics,
    Timer,
    commit,
    derive,
    materialize,
    unpersist,
)
from ligra_spark.graph import Graph


def set_cover(
    graph: Graph,
    epsilon: float = 0.01,
    max_rounds: int = 100_000,
    metrics: IterMetrics | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """Returns ``(set_id LONG)`` — the chosen cover over the bipartite
    set→element edge table (sources are sets, destinations elements).

    Set-cover semantics are over *sets*, so duplicate ``(src, dst)``
    edges are collapsed up front (one shuffle, checkpointed once and
    reused every round). This is load-bearing for termination, not just
    hygiene: degrees counted WITH multiplicity but claims counted over
    distinct elements let a duplicated-edge set sit at a bucket whose
    win threshold it can never meet — it loses every round, rebuckets
    to the same bucket by its inflated packed degree, and the loop
    never drains (observed on the transcript-chain graph, which carries
    duplicate links). Pass ``assume_distinct=True`` to skip the dedupe
    shuffle when the input is known simple (e.g. ``mod_graph_edges``,
    already ``.distinct()``).

    Driver-job budget: 2 jobs/round (``won`` + the single tagged-state
    materialization). Set rows (kind 0, bucket) and element rows
    (kind 1, owner) live in ONE state table so both sides update under
    one commit, and next_bucket's max-key scan rides it."""
    x = 1.0 / math.log(1.0 + epsilon)
    if assume_distinct:
        edges = graph.edges_by_src
    else:
        edges = materialize(graph.edges_by_src.select("src", "dst").distinct())
    degrees = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )

    def bucket_of(deg_col):
        return F.when(
            deg_col > 0, F.floor(F.lit(x) * F.log(deg_col.cast("double")))
        ).otherwise(F.lit(None))

    # kind 0 rows = sets (bkt; NULL once covered-out or in the cover);
    # kind 1 rows = elements (owner NULL = unclaimed, -1 = COVERED)
    state, got = commit(
        degrees.where(F.col("out_deg") > 0)
        .select(
            F.lit(0).alias("kind"),
            "id",
            bucket_of(F.col("out_deg")).alias("bkt"),
            F.lit(None).cast("long").alias("owner"),
        )
        .unionAll(
            edges.select(F.col("dst").alias("id")).distinct()
            .select(
                F.lit(1).alias("kind"),
                "id",
                F.lit(None).cast("long").alias("bkt"),
                F.lit(None).cast("long").alias("owner"),
            )
        ),
        mx=F.max("bkt"),
    )
    cur0 = got["mx"]
    cover = graph.spark.createDataFrame([], "set_id long")

    timer = Timer()
    cur = None if cur0 is None else int(cur0)
    for it in range(max_rounds):
        if cur is None:
            break
        active = state.where(
            (F.col("kind") == 0) & (F.col("bkt") == cur)
        ).select(F.col("id").alias("src"))
        # persisted owner is NULL (unclaimed) or -1 (COVERED); round-local
        # claims never persist, matching the reference's per-round reset
        uncovered = state.where(
            (F.col("kind") == 1) & F.col("owner").isNull()
        ).select(F.col("id").alias("dst"))
        # 1. pack: live degree over uncovered elements only
        live = edges.join(active, "src").join(uncovered, "dst")
        deg_new = live.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        threshold = math.ceil((1.0 + epsilon) ** cur)
        still = deg_new.where(F.col("deg") >= threshold).select("src")
        # 2. claim: writeMin of set id into uncovered neighbor elements
        claims = (
            live.join(still, "src")
            .groupBy(F.col("dst").alias("elm"))
            .agg(F.min("src").alias("claimant"))
        )
        # 3. win: sets claiming enough elements join the cover
        low = max(math.ceil((1.0 + epsilon) ** (cur - 1)), 1)
        won = (
            claims.groupBy(F.col("claimant").alias("src"))
            .agg(F.count(F.lit(1)).alias("n_won"))
            .where(F.col("n_won") >= low)
            .select("src")
        )
        won = materialize(won)
        cover = cover.unionAll(won.select(F.col("src").alias("set_id")))
        # 4. elements claimed by winners become COVERED; losers release
        elm_upd = claims.join(
            won.withColumnRenamed("src", "claimant").withColumn("_w", F.lit(1)),
            "claimant",
            "left",
        ).select(
            F.col("elm").alias("id"),
            F.when(F.col("_w").isNotNull(), F.lit(-1).cast("long"))
            .otherwise(F.lit(None).cast("long"))
            .alias("owner_new"),
        )
        elm_rows = (
            state.where(F.col("kind") == 1)
            .join(elm_upd, "id", "left")
            .select(
                "kind",
                "id",
                "bkt",
                F.coalesce("owner_new", "owner").alias("owner"),
                F.lit(None).cast("int").alias("_a"),
            )
        )
        # 5. rebucket the processed bucket's sets by packed degree;
        # winners leave the structure. `_a` marks this round's active
        # sets so their count rides the same commit as next
        # round's max bucket.
        set_rows = (
            state.where(F.col("kind") == 0)
            .join(
                active.withColumnRenamed("src", "id").withColumn("_a", F.lit(1)),
                "id",
                "left",
            )
            .join(deg_new.withColumnRenamed("src", "id"), "id", "left")
            .join(
                won.withColumnRenamed("src", "id").withColumn("_w", F.lit(1)),
                "id",
                "left",
            )
            .select(
                "kind",
                "id",
                F.when(F.col("_a").isNull(), F.col("bkt"))
                .when(F.col("_w").isNotNull(), F.lit(None))
                .otherwise(bucket_of(F.coalesce("deg", F.lit(0))))
                .alias("bkt"),
                "owner",
                F.col("_a"),
            )
        )
        nxt, got = commit(
            set_rows.unionAll(elm_rows),
            state,
            mx=F.max("bkt"),
            n_active=F.count_if(F.col("_a").isNotNull()),
        )
        state = derive(nxt.drop("_a"), nxt)
        # cover is an append-only union of already-materialized `won`
        # nodes — the union plan stays shallow without its own
        # per-round materialization job
        if metrics is not None:
            metrics.record(
                it,
                bucket=cur,
                active=got["n_active"],
                wall_s=timer.lap(),
            )
        nxt_cur = got["mx"]
        cur = None if nxt_cur is None else int(nxt_cur)
    if not assume_distinct:
        unpersist(edges)
    unpersist(state)
    return cover.select("set_id").distinct()
