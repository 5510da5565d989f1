"""Partition-local CSR blocks in Arrow record batches.

The reference's execution substrate is a shared-memory CSR
(graph.h:98-128) over which edgeMap runs tight gather-scatter loops.
The Spark-native analog built here:

- ``build_csr_blocks``: hash-partition edges by ``src`` (Murmur3, the
  same partitioner Spark's ``repartition(P, col)`` uses), then pack
  each partition into ONE block row via ``mapInArrow``:
  ``(part_id, srcs, indptr, uniq_dsts, dst_inverse)`` — a
  numpy-ready CSR with the destination remap (`uniq_dsts[dst_inverse]`
  = edge targets) precomputed once at build time, the analog of
  Ligra's load-time CSR construction (IO.h:163-316). Blocks persist
  across iterations; the edge data never moves again.
- ``csr_spmv``: one PageRank-style gather-scatter round. Per-vertex
  state is tagged with the same ``pmod(hash(id), P)`` partition key and
  **cogrouped** with its block (``groupby().cogroup().applyInPandas``);
  the kernel does the whole per-partition SpMV in numpy — searchsorted
  src lookup, ``np.repeat`` fan-out, ``np.bincount`` **map-side
  pre-aggregation by destination** — and emits one partial per
  (partition, distinct dst). Only those partials shuffle into the final
  ``groupBy(dst).sum``. No per-row Python anywhere; Arrow moves columns.

Block size is bounded by the partition count: at 10^12 edges pick P so
m/P edges (~a few hundred MB of int64) fit one Arrow group; locally the
defaults suffice.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.storagelevel import StorageLevel

BLOCK_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("srcs", ArrayType(LongType()), False),
        StructField("indptr", ArrayType(LongType()), False),
        StructField("uniq_dsts", ArrayType(LongType()), False),
        StructField("dst_inverse", ArrayType(LongType()), False),
    ]
)

MSG_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("partial", DoubleType(), False),
    ]
)


def build_csr_blocks(edges: DataFrame, num_partitions: int) -> DataFrame:
    """edges(src,dst) → one CSR block row per hash partition of src."""

    def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        srcs_parts, dsts_parts, pid_parts = [], [], []
        for b in batches:
            d = b.to_pydict()
            srcs_parts.append(np.asarray(d["src"], dtype=np.int64))
            dsts_parts.append(np.asarray(d["dst"], dtype=np.int64))
            pid_parts.append(np.asarray(d["part_id"], dtype=np.int32))
        if not srcs_parts:
            return
        src = np.concatenate(srcs_parts)
        dst = np.concatenate(dsts_parts)
        pid = np.concatenate(pid_parts)
        # one physical partition can host several logical part_ids
        # (repartition hashes the part_id value) — emit one CSR block
        # per logical part_id so the cogroup keys align exactly
        for p in np.unique(pid):
            mask = pid == p
            s, t = src[mask], dst[mask]
            order = np.lexsort((t, s))
            s, t = s[order], t[order]
            uniq_src, counts = np.unique(s, return_counts=True)
            indptr = np.concatenate([[0], np.cumsum(counts)])
            uniq_dst, inverse = np.unique(t, return_inverse=True)
            yield pa.RecordBatch.from_pydict(
                {
                    "part_id": pa.array([int(p)], pa.int32()),
                    "srcs": pa.array([uniq_src.tolist()], pa.list_(pa.int64())),
                    "indptr": pa.array([indptr.tolist()], pa.list_(pa.int64())),
                    "uniq_dsts": pa.array([uniq_dst.tolist()], pa.list_(pa.int64())),
                    "dst_inverse": pa.array(
                        [inverse.tolist()], pa.list_(pa.int64())
                    ),
                }
            )

    tagged = (
        edges.select("src", "dst")
        .withColumn(
            "part_id", F.pmod(F.hash("src"), F.lit(num_partitions)).cast("int")
        )
        .repartition(num_partitions, "part_id")
    )
    blocks = tagged.mapInArrow(pack, BLOCK_SCHEMA)
    return blocks.persist(StorageLevel.MEMORY_AND_DISK)


def csr_spmv(
    blocks: DataFrame,
    state: DataFrame,
    num_partitions: int,
    combiner: str = "sum",
) -> DataFrame:
    """One gather-scatter round: state ``(id, share)`` → per-destination
    combines ``(id, msg)``. The cogrouped Arrow kernel pre-aggregates by
    destination inside each partition (np.bincount for sum,
    ufunc.at for min/max); the only exchange is the final partial
    combine. This is the dense-pull substrate behind
    ``edge_map(direction='pull')``."""
    if combiner not in ("sum", "min", "max"):
        raise ValueError(
            f"csr_spmv supports sum/min/max combiners, not {combiner!r}"
        )

    def kernel(blocks_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if blocks_pdf.empty or state_pdf.empty:
            return pd.DataFrame({"id": [], "partial": []}).astype(
                {"id": "int64", "partial": "float64"}
            )
        row = blocks_pdf.iloc[0]
        srcs = np.asarray(row["srcs"], dtype=np.int64)
        indptr = np.asarray(row["indptr"], dtype=np.int64)
        uniq_dsts = np.asarray(row["uniq_dsts"], dtype=np.int64)
        inverse = np.asarray(row["dst_inverse"], dtype=np.int64)

        ids = state_pdf["id"].to_numpy(dtype=np.int64)
        share = state_pdf["share"].to_numpy(dtype=np.float64)
        order = np.argsort(ids)
        ids, share = ids[order], share[order]
        # align state to block srcs (gather): srcs with no state message
        pos = np.searchsorted(ids, srcs)
        pos = np.clip(pos, 0, len(ids) - 1)
        found = ids[pos] == srcs
        deg = np.diff(indptr)
        # a destination is LIVE iff it received >= 1 message from a
        # frontier source — tracked by an explicit in-edge count, NOT
        # by the combined value (a sum can be exactly 0.0 from zero or
        # cancelling shares; min/max messages may themselves be ±inf),
        # so pull emits exactly the rows the push plans emit
        edge_live = np.repeat(found, deg)
        live = (
            np.bincount(inverse[edge_live], minlength=len(uniq_dsts)) > 0
        )
        if combiner == "sum":
            src_share = np.where(found, share[pos], 0.0)
            # scatter: fan each src's share across its out-edges, then
            # pre-aggregate by destination (map-side combine)
            vals = np.repeat(src_share, deg)
            partial = np.bincount(inverse, weights=vals, minlength=len(uniq_dsts))
        else:
            # min/max: fan only live sources, ufunc.at pre-combine
            vals = np.repeat(np.where(found, share[pos], 0.0), deg)
            fill = np.inf if combiner == "min" else -np.inf
            partial = np.full(len(uniq_dsts), fill)
            ufunc = np.minimum if combiner == "min" else np.maximum
            ufunc.at(partial, inverse[edge_live], vals[edge_live])
        return pd.DataFrame({"id": uniq_dsts[live], "partial": partial[live]})

    tagged_state = state.withColumn(
        "part_id", F.pmod(F.hash("id"), F.lit(num_partitions)).cast("int")
    )
    partials = (
        blocks.groupby("part_id")
        .cogroup(tagged_state.groupby("part_id"))
        .applyInPandas(kernel, MSG_SCHEMA)
    )
    agg = {"sum": F.sum, "min": F.min, "max": F.max}[combiner]
    return partials.groupBy("id").agg(agg("partial").alias("msg"))


def pagerank_csr(
    graph,
    damping: float = 0.85,
    tol: float = 1e-7,
    max_iters: int = 100,
    metrics=None,
) -> DataFrame:
    """PageRank over CSR blocks — identical semantics to
    algorithms.pagerank (damping 0.85, L1 < tol, dangling mass lost),
    with the join replaced by the Arrow gather-scatter kernel."""
    from ligra_spark.algorithms._iter import Timer, commit, derive, materialize

    n = graph.n
    if n == 0:
        return graph.spark.createDataFrame([], "id long, rank double")
    base = (1.0 - damping) / n
    P = graph.num_partitions
    blocks = build_csr_blocks(graph.edges_by_src, P)
    blocks.count()  # build once

    state = materialize(
        graph.degrees.select("id", "out_deg", F.lit(1.0 / n).alias("rank"))
    )
    timer = Timer()
    for it in range(max_iters):
        shares = state.where(F.col("out_deg") > 0).select(
            "id", (F.col("rank") / F.col("out_deg")).alias("share")
        )
        contribs = csr_spmv(blocks, shares, P)
        nxt = state.join(contribs, "id", "left").select(
            "id",
            "out_deg",
            "rank",
            (F.lit(base) + F.lit(damping) * F.coalesce("msg", F.lit(0.0))).alias(
                "rank_next"
            ),
        )
        nxt, got = commit(
            nxt, state, l1=F.sum(F.abs(F.col("rank_next") - F.col("rank")))
        )
        l1 = float(got["l1"] or 0.0)
        state = derive(
            nxt.select("id", "out_deg", F.col("rank_next").alias("rank")), nxt
        )
        if metrics is not None:
            metrics.record(it, l1=l1, wall_s=timer.lap())
        if l1 < tol:
            break
    blocks.unpersist()
    return state.select("id", "rank")
