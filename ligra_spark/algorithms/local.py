"""Local clustering family (apps/localAlg/): sparse-state diffusion
from a seed vertex.

- ``ppr_acl`` — Andersen-Chung-Lang approximate personalized PageRank
  push (ACL-Sync-Local-Opt.C:75-128): p(seed)=0, r(seed)=1; every
  round, frontier vertices (r > deg·ε) move ``2α/(1+α)·r`` into p,
  zero their residual, and push ``(1−α)/(1+α)·r/deg`` to each
  out-neighbor's residual.
- ``nibble`` — Spielman-Teng Nibble (Nibble-Parallel.C:30-107): a
  truncated lazy random walk; each round frontier vertices (p ≥ deg·ε)
  keep p/2 and spread p/(2·deg) to neighbors, and sub-threshold mass
  is truncated (non-frontier p drops out, exactly as the reference's
  fresh ``new_p`` table each round).

Both keep SPARSE per-vertex state — only touched vertices exist as
rows, the DataFrame analog of the reference's sparseAdditiveSet hash
tables — so a local query on a 10^12-edge graph only ever materializes
the seed's neighborhood."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import (
    IterMetrics,
    Timer,
    commit,
    materialize,
)
from ligra_spark.graph import Graph
from ligra_spark.operators.edge_map import edge_map


def ppr_acl(
    graph: Graph,
    source: int,
    alpha: float = 0.15,
    eps: float = 1e-9,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns sparse ``(id, p DOUBLE)`` — the approximate personalized
    PageRank vector around ``source``."""
    spark = graph.spark
    push_c = (1.0 - alpha) / (1.0 + alpha)
    keep_c = 2.0 * alpha / (1.0 + alpha)

    state = materialize(
        spark.createDataFrame([(int(source), 0.0, 1.0)], "id long, p double, r double")
    )
    timer = Timer()
    for it in range(max_iters):
        fr = state.join(graph.degrees.select("id", "out_deg"), "id").where(
            (F.col("r") > F.col("out_deg") * eps) & (F.col("out_deg") > 0)
        )
        fr, got = commit(fr, n=F.count(F.lit(1)))
        n_fr = got["n"]
        if n_fr == 0:
            break
        msgs = edge_map(
            graph,
            fr.select("id", (F.lit(push_c) * F.col("r") / F.col("out_deg")).alias("share")),
            message=F.col("share"),
            combiner="sum",
            frontier_size=n_fr,
        )
        nxt = (
            state.join(fr.select("id", F.lit(1).alias("_f")), "id", "left")
            .join(msgs, "id", "full_outer")
            .select(
                "id",
                (
                    F.coalesce("p", F.lit(0.0))
                    + F.when(
                        F.col("_f").isNotNull(),
                        F.lit(keep_c) * F.coalesce("r", F.lit(0.0)),
                    ).otherwise(F.lit(0.0))
                ).alias("p"),
                (
                    F.when(F.col("_f").isNotNull(), F.lit(0.0)).otherwise(
                        F.coalesce("r", F.lit(0.0))
                    )
                    + F.coalesce("msg", F.lit(0.0))
                ).alias("r"),
            )
        )
        nxt = materialize(nxt, state)
        state = nxt
        if metrics is not None:
            metrics.record(it, frontier=n_fr, wall_s=timer.lap())
    return state.where(F.col("p") > 0).select("id", "p")


def nibble(
    graph: Graph,
    source: int,
    eps: float = 1e-9,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """Returns sparse ``(id, p DOUBLE)`` — the truncated lazy-walk mass
    distribution around ``source`` (Nibble-Parallel.C semantics: mass at
    non-frontier vertices is truncated every round)."""
    spark = graph.spark
    state = materialize(
        spark.createDataFrame([(int(source), 1.0)], "id long, p double")
    )
    timer = Timer()
    for it in range(max_iters):
        fr = state.join(graph.degrees.select("id", "out_deg"), "id").where(
            (F.col("p") >= F.col("out_deg") * eps) & (F.col("out_deg") > 0)
        )
        fr, got = commit(fr, n=F.count(F.lit(1)))
        n_fr = got["n"]
        if n_fr == 0:
            break
        msgs = edge_map(
            graph,
            fr.select("id", (F.col("p") / (2.0 * F.col("out_deg"))).alias("share")),
            message=F.col("share"),
            combiner="sum",
            frontier_size=n_fr,
        )
        # fresh table: frontier keeps half, neighbors gain pushes,
        # everything else truncates
        nxt = (
            fr.select("id", (F.col("p") / 2.0).alias("keep"))
            .join(msgs, "id", "full_outer")
            .select(
                "id",
                (
                    F.coalesce("keep", F.lit(0.0)) + F.coalesce("msg", F.lit(0.0))
                ).alias("p"),
            )
        )
        nxt = materialize(nxt, state)
        state = nxt
        if metrics is not None:
            metrics.record(it, frontier=n_fr, wall_s=timer.lap())
    return state.select("id", "p")


def heat_kernel(
    graph: Graph,
    source: int,
    t: float = 3.0,
    eps: float = 1e-9,
    N: int = 4,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """hk-relax heat-kernel diffusion (localAlg/HeatKernel-Parallel.C:
    94-174, the Kloster-Gleich push). Exactly ``N`` Taylor terms:
    round j (j+1 < N) folds the frontier's residual into x and pushes
    ``(t/(j+1))·r/deg`` into a FRESH residual table (non-frontier
    residual truncates, as the reference's r.del()/new_r swap); the
    active set is residuals >= deg·exp(t)·eps/(2N)/psis[j+1]; the last
    round folds and pushes ``r/deg`` with no Taylor factor
    (HK_Last_F). Deterministic; returns sparse ``(id, x DOUBLE)``."""
    import math

    spark = graph.spark
    fact = [1.0] * N
    for k in range(1, N):
        fact[k] = k * fact[k - 1]
    psis = [
        sum(fact[k] * t ** m / fact[m + k] for m in range(N - k))
        for k in range(N)
    ]
    constant = math.exp(t) * eps / (2.0 * N)

    deg = graph.degrees.select("id", "out_deg")
    x = materialize(
        spark.createDataFrame([(int(source), 0.0)], "id long, x double")
    )
    r = spark.createDataFrame([(int(source), 1.0)], "id long, r double")
    frontier, got = commit(
        r.join(deg, "id").where(F.col("out_deg") > 0), n=F.count(F.lit(1))
    )
    n_f = got["n"]

    timer = Timer()
    for j in range(N):
        if n_f == 0:
            break
        fold = x.join(frontier.select("id", "r"), "id", "full_outer").select(
            "id",
            (F.coalesce("x", F.lit(0.0)) + F.coalesce("r", F.lit(0.0))).alias("x"),
        )
        last = j + 1 == N
        factor = 1.0 if last else t / float(j + 1)
        msgs = edge_map(
            graph,
            frontier.select(
                "id",
                (F.lit(factor) * F.col("r") / F.col("out_deg")).alias("share"),
            ),
            message=F.col("share"),
            combiner="sum",
            frontier_size=n_f,
        )
        if last:
            x = materialize(
                fold.join(msgs, "id", "full_outer").select(
                    "id",
                    (
                        F.coalesce("x", F.lit(0.0)) + F.coalesce("msg", F.lit(0.0))
                    ).alias("x"),
                ),
                x,
            )
            break
        x = materialize(fold, x)
        r = msgs.select("id", F.col("msg").alias("r"))
        frontier, got = commit(
            r.join(deg, "id").where(
                (F.col("r") >= F.col("out_deg") * (constant / psis[j + 1]))
                & (F.col("out_deg") > 0)
            ),
            frontier,
            n=F.count(F.lit(1)),
        )
        n_f = got["n"]
        if metrics is not None:
            metrics.record(j, frontier=n_f, wall_s=timer.lap())
    return x


def heat_kernel_rand_walk_params(
    t: float = 3.0, K: int = 10, n_walks: int = 256, seed: int = 1
):
    """The pinned per-walk stream of rand-HK-PR
    (HeatKernel-Randomized-Parallel.C:63-86) as plain Python values:
    ``(walk_id, step_hash, n_steps)`` triples.

    The reference seeds with ``srand(time(NULL))`` — an inherently
    randomized estimator; its deterministic Spark realization replaces
    the one ``rand()`` call with a fixed ``seed`` and keeps the rest of
    the stream bit-exact (``hashInt`` utils.h:366-374):

    - walk i draws ONE uniform ``hashInt(seed+2i)/UINT_MAX`` and walks
      while the cumulative Poisson(t) mass stays below it, i.e. takes
      ``L_i = min{j : rand_i < cum[j]}`` steps (the reference's
      mass-accumulation loop, HeatKernel-Randomized-Parallel.C:76-84);
      a walker whose draw exceeds ``cum[K-1]`` is CLAMPED to K steps
      where the reference reads ``probs[K]`` out of bounds (line 81's
      ``j <= K`` bound on a K-element array) — the clamp is the
      well-defined member of that undefined family.
    - every step of walk i indexes the current vertex's out-neighbors
      with the SAME ``hashInt(seed+2i+1)`` (the reference passes one
      seed per walk into ``walk()``, line 43-45, so the hash is
      constant along the walk; only ``% degree`` varies).

    Driver-sized by design: ``n_walks`` ints, like the IVF codebook.
    Exposed as a function so the DuckDB oracle can embed the identical
    triples as literals (the radii XXH64-register precedent)."""
    import math

    import numpy as np

    from ligra_spark.sources.converters import hash_int32

    i = np.arange(n_walks, dtype=np.uint64)
    rand = hash_int32(np.uint64(seed) + 2 * i).astype(np.float64) / 4294967295.0
    h = hash_int32(np.uint64(seed) + 2 * i + 1).astype(np.int64)
    probs = [math.exp(-t)]
    for k in range(1, K):
        probs.append(probs[-1] * t / k)
    cum = np.cumsum(probs)
    steps = np.searchsorted(cum, rand, side="right")  # min{j: rand < cum[j]}, K if none
    return [(int(w), int(hh), int(ll)) for w, hh, ll in zip(i, h, steps)]


def heat_kernel_rand(
    graph: Graph,
    source: int,
    t: float = 3.0,
    K: int = 10,
    n_walks: int = 256,
    seed: int = 1,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """rand-HK-PR: the Monte-Carlo heat-kernel PageRank estimator
    (localAlg/HeatKernel-Randomized-Parallel.C:52-107) with the seed
    pinned (see ``heat_kernel_rand_walk_params``). ``n_walks``
    independent walks start at ``source``; the estimate is the endpoint
    frequency ``est(v) = #walks ending at v / n_walks`` (the
    reference's sort + prefix-count, lines 88-101).

    Scale shape: walks advance in LOCKSTEP, one round per step. The
    walker table is ``n_walks`` rows — always broadcast — while the
    ranked adjacency stays partitioned by ``src`` (the window reuses
    ``edges_by_src``'s existing partitioning, no shuffle), so a local
    query on a 10^12-edge graph moves no edge data. Neighbor order is
    pinned to ascending dst id (the reference indexes the input file's
    adjacency order; ascending-id is a legal such order, stated in the
    oracle too). A walker at a sink vertex stays put (the reference
    would ``% 0``, line 43 — UB); ``source`` with no out-edges raises,
    as the reference returns early (line 56-59)."""
    from pyspark.sql import Window

    spark = graph.spark
    walkers = heat_kernel_rand_walk_params(t=t, K=K, n_walks=n_walks, seed=seed)
    deg = graph.degrees.select(F.col("id").alias("x"), "out_deg")
    adj = graph.edges_by_src.select(
        "src",
        "dst",
        (
            F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
        ).alias("rnk"),
    )
    if (
        graph.edges_by_src.where(F.col("src") == int(source)).limit(1).count()
        == 0
    ):
        raise ValueError(f"starting vertex {source} has degree 0")

    state = materialize(
        spark.createDataFrame(
            walkers, "walk long, h long, steps long"
        ).withColumn("x", F.lit(int(source)).cast("long"))
    )
    timer = Timer()
    max_steps = max((s for _, _, s in walkers), default=0)
    for r in range(max_steps):
        movers = state.where(F.col("steps") > r)
        stay = state.where(F.col("steps") <= r)
        moved = (
            movers.join(deg, "x", "left")
            .join(
                adj,
                (F.col("x") == F.col("src"))
                & (F.col("h") % F.col("out_deg") == F.col("rnk")),
                "left",
            )
            .select(
                "walk",
                "h",
                "steps",
                F.coalesce(F.col("dst"), F.col("x")).alias("x"),
            )
        )
        # unionByName CONCATENATES partitions (stay's + moved's join
        # output's) — left alone the state table doubles its partition
        # count every round (observed 256 → 16384 empty tasks by round
        # 10). The state is n_walks rows: shuffle it back to one
        # partition (repartition, not coalesce — coalesce would fold
        # the adjacency join itself into a single task)
        state = materialize(
            stay.unionByName(moved).repartition(1), state
        )
        if metrics is not None:
            metrics.record(r, frontier=None, wall_s=timer.lap())
    return state.groupBy("x").agg(
        (F.count("*") / float(n_walks)).alias("est")
    ).select(F.col("x").alias("id"), "est")
