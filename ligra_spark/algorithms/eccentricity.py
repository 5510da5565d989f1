"""Eccentricity estimation — the FM/LogLog sketch family.

Reference: apps/eccentricity/ (9 apps). The sketch core implemented
here:

- ``fm_ecc`` (FM-Ecc.C:93-137): every vertex holds ``counters``
  Flajolet-Martin registers, each initialized to a single geometric
  bit ``h & -h`` (the reference's ``1 << log2(rand & -rand)``,
  FM-Ecc.C:110-113). Every round each vertex ORs in its in-neighbors'
  registers (Ecc_F update, FM-Ecc.C:48-56 — a bitwise-or writeOr);
  ``ecc[v]`` is the last round v's sketch changed. At fixpoint the
  sketch of v is the OR over all vertices within distance r, so the
  estimate is a deterministic LOWER bound of the true eccentricity,
  equal whp as ``counters`` grows.
- ``loglog_ecc`` (LogLog-Ecc.C): identical propagation with
  HyperLogLog-style registers (position of the lowest set bit) merged
  by MAX instead of OR.

Spark realization mirrors the engine's other sketch columns (MinHash
slots, Radii bitmasks): state is ``(id, slot, reg)`` rows; one round =
frontier ⋈ edges → ``groupBy(dst, slot).agg(bit_or|max)`` — the
composite-key form of edgeMapReduce, partial-aggregated map-side. The
frontier (vertices whose sketch changed) shrinks like the reference's,
so late rounds are cheap.

kBFS-Ecc's exact-bitmask core is ``algorithms.radii``.
"""

from __future__ import annotations

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


def _sketch_ecc(
    graph: Graph,
    counters: int,
    seed: int,
    init_reg,
    merge: str,
    symmetrize: bool,
    max_iters: int,
    metrics: IterMetrics | None,
) -> DataFrame:
    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    agg = F.bit_or if merge == "bit_or" else F.max

    slot = F.explode(F.sequence(F.lit(0), F.lit(counters - 1))).alias("slot")
    sketch = materialize(
        g.vertices.select("id", slot).select("id", "slot", init_reg.alias("reg"))
    )
    ecc = g.vertices.select("id", F.lit(0).alias("ecc"))
    frontier_ids = g.vertices
    frontier_n = g.n

    timer = Timer()
    for it in range(max_iters):
        if frontier_n == 0:
            break
        fr = (
            sketch.join(frontier_ids, "id", "left_semi")
            .withColumnRenamed("id", "src")
        )
        msgs = (
            g.edges_by_src.join(fr, "src")
            .groupBy(F.col("dst").alias("id"), "slot")
            .agg(agg("reg").alias("msg"))
        )
        nxt = sketch.join(msgs, ["id", "slot"], "left").select(
            "id",
            "slot",
            "reg",
            (
                F.col("reg").bitwiseOR(F.coalesce("msg", F.lit(0)))
                if merge == "bit_or"
                else F.greatest("reg", F.coalesce("msg", F.lit(0)))
            ).alias("reg_new"),
        )
        nxt = materialize(nxt, sketch)
        changed, got = commit(
            nxt.where(F.col("reg_new") != F.col("reg")).select("id").distinct(),
            frontier_ids if it > 0 else None,
            f=F.count(F.lit(1)),
        )
        frontier_n = got["f"]
        ecc = ecc.join(changed.withColumn("_c", F.lit(1)), "id", "left").select(
            "id",
            F.when(F.col("_c").isNotNull(), F.lit(it + 1))
            .otherwise(F.col("ecc"))
            .alias("ecc"),
        )
        ecc = materialize(ecc)
        sketch = derive(nxt.select("id", "slot", F.col("reg_new").alias("reg")), nxt)
        frontier_ids = changed
        if metrics is not None:
            metrics.record(it, frontier=frontier_n, wall_s=timer.lap())
    return ecc.select("id", F.col("ecc").cast("int").alias("ecc"))


def fm_ecc(
    graph: Graph,
    counters: int = 8,
    seed: int = 42,
    symmetrize: bool = True,
    max_iters: int = 1000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, ecc INT)`` — Flajolet-Martin eccentricity estimate (a
    deterministic lower bound; exact whp for large ``counters``)."""
    h = F.abs(F.xxhash64(F.col("id") * counters + F.col("slot") + F.lit(seed)))
    # lowest set bit of h == the reference's 1 << log2(h & -h)
    init = F.when(h == 0, F.lit(1)).otherwise(
        h.bitwiseAND(-h)
    )
    return _sketch_ecc(
        graph, counters, seed, init, "bit_or", symmetrize, max_iters, metrics
    )


def loglog_ecc(
    graph: Graph,
    counters: int = 8,
    seed: int = 42,
    symmetrize: bool = True,
    max_iters: int = 1000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, ecc INT)`` — LogLog-Ecc.C variant: registers hold the
    geometric rank (lowest-set-bit position) and merge by MAX."""
    h = F.abs(F.xxhash64(F.col("id") * counters + F.col("slot") + F.lit(seed)))
    lowest = F.when(h == 0, F.lit(1)).otherwise(h.bitwiseAND(-h))
    # log2 of a power of two = bit position = HLL rank
    init = F.log2(lowest.cast("double")).cast("long")
    return _sketch_ecc(
        graph, counters, seed, init, "max", symmetrize, max_iters, metrics
    )


def simple_approx_ecc(
    graph: Graph,
    symmetrize: bool = True,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, ecc INT)`` — Simple-Approx-Ecc.C:74-159: per connected
    component run ONE BFS and assign every member the BFS depth (a
    2-approximation; size-2 components get 1, singletons 0). The
    reference picks a random source per component (rand(),
    Simple-Approx-Ecc.C:133); we pick the component's min vertex id —
    deterministic, same guarantee. Spark-first: one multi-source BFS
    from all component roots at once (per-component sources cannot
    collide across components), then depth = max dist per component —
    one fixpoint instead of a per-component loop."""
    from ligra_spark.algorithms.bfs import bfs
    from ligra_spark.algorithms.components import connected_components

    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    comps = materialize(connected_components(g, symmetrize=False))
    roots = comps.where(F.col("id") == F.col("comp")).select("id")
    dists = bfs(g, roots, metrics=metrics).select("id", "dist")
    depth = (
        comps.join(dists, "id")
        .groupBy("comp")
        .agg(F.max("dist").alias("depth"))
    )
    return comps.join(depth, "comp").select(
        "id", F.col("depth").cast("int").alias("ecc")
    )


def tk_ecc(
    graph: Graph,
    symmetrize: bool = True,
    batch: int = 8,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, radius INT)`` — EXACT eccentricities by Takes-Kosters
    bound refinement (TK.C:125-194): every vertex keeps lower/upper
    eccentricity bounds; each iteration BFSes from one undetermined
    vertex per component (alternating the reference's max-upper /
    min-lower selection, TK.C:151-152; ties break to min id — the
    schedule only affects iteration count, never the exact output),
    fixes that vertex's eccentricity, and tightens everyone's bounds
    via lower = max(lower, ecc_w - d, d), upper = min(upper,
    ecc_w + d) (TK.C:171-174). Vertices whose bounds meet are
    determined. All components refine simultaneously, and ``batch``
    roots per component run in ONE multi-root BFS fixpoint per
    iteration (the (root, id) state keys distances per root) — fewer
    synchronous fixpoints, identical exact output."""
    from ligra_spark.algorithms.components import connected_components

    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    comps = connected_components(g, symmetrize=False)
    # determined vertices stay in state with `ecc` set (instead of a
    # separate `done` accumulator) so the whole iteration is ONE
    # commit with the undetermined count riding it — 2 driver jobs per
    # iteration + BFS rounds
    state, got = commit(
        comps.select(
            "id", "comp", F.lit(0).alias("low"),
            F.lit(None).cast("int").alias("up"),
            F.lit(None).cast("int").alias("ecc"),
        ),
        n=F.count(F.lit(1)),
    )
    n_left = got["n"]

    timer = Timer()
    for it in range(max_iters):
        if n_left == 0:
            break
        from pyspark.sql import Window

        key = (
            F.col("up").desc_nulls_first()
            if it % 2 == 0
            else F.col("low").asc()
        )
        w = Window.partitionBy("comp").orderBy(key, F.col("id").asc())
        picks = materialize(
            state.where(F.col("ecc").isNull())
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= batch)
            .select(F.col("id").alias("root"), "comp")
        )
        # multi-root BFS keeping per-root distances (at most `batch`
        # roots per component, so the (root, id) state is
        # comp-partitioned)
        vis = _multi_root_bfs(g, picks)
        eccw = vis.groupBy("root").agg(F.max("dist").alias("eccw"))
        # aggregate bound deltas over ALL roots that reached a vertex
        delta = (
            vis.join(eccw, "root")
            .groupBy("id")
            .agg(
                F.max(
                    F.greatest(F.col("eccw") - F.col("dist"), F.col("dist"))
                ).alias("lowd"),
                F.min(F.col("eccw") + F.col("dist")).alias("upd"),
            )
        )
        low2 = F.greatest("low", "lowd")
        up2 = F.least("up", "upd")
        upd = (
            state.join(delta, "id", "left")
            .join(eccw.select(F.col("root").alias("id"), "eccw"), "id", "left")
            .select(
                "id",
                "comp",
                low2.alias("low"),
                up2.alias("up"),
                # exact value: already fixed > this iteration's root
                # (its own BFS eccentricity) > bounds that just met
                F.when(F.col("ecc").isNotNull(), F.col("ecc"))
                .when(F.col("eccw").isNotNull(), F.col("eccw").cast("int"))
                .when(low2 == up2, up2.cast("int"))
                .alias("ecc"),
            )
        )
        state, got = commit(upd, state, n=F.count_if(F.col("ecc").isNull()))
        unpersist(picks)
        unpersist(vis)
        n_left = got["n"]
        if metrics is not None:
            metrics.record(it, remaining=n_left, wall_s=timer.lap())
    return state.where(F.col("ecc").isNotNull()).select(
        "id", F.col("ecc").alias("radius")
    )


def _multi_root_bfs(g: Graph, roots: DataFrame) -> DataFrame:
    """``(root, id, dist)`` — per-root BFS distances from every row of
    ``roots`` (column ``root``), all roots advancing in ONE synchronous
    fixpoint. The reference runs its sample/neighborhood BFSes serially
    (RV.C:176-188, 276-284); batching them keys the frontier by
    (root, id) instead, trading state size for fixpoint count — the
    right trade on Spark, where each round is a scheduled job. Round
    0's visited set stays lazy: it derives from ``roots``, which every
    caller has already materialized."""
    vis = roots.select("root", F.col("root").alias("id"), F.lit(0).alias("dist"))
    frontier = vis
    r = 0
    while True:
        msgs = (
            frontier.select("root", F.col("id").alias("src"))
            .join(g.edges_by_src, "src")
            .select("root", F.col("dst").alias("id"))
            .distinct()
        )
        new = msgs.join(vis.select("root", "id"), ["root", "id"], "left_anti")
        vis, got = commit(
            vis.unionAll(new.select("root", "id", F.lit(r + 1).alias("dist"))),
            vis if r > 0 else None,
            f=F.count_if(F.col("dist") == r + 1),
        )
        frontier = vis.where(F.col("dist") == r + 1)
        r += 1
        if got["f"] == 0:
            return vis


def _sample_w_ngh(
    g: Graph, big: DataFrame, sizes: DataFrame, max_sample: int = 1000
) -> dict:
    """The phase machinery RV and CLRSTV share (RV.C:160-284 ==
    CLRSTV.C:150-277): pinned sample S + exact per-sample BFS, the
    furthest-from-S vertex w + its BFS, and the (level, id)-ordered
    Ngh_s neighborhood + its BFS. Returns every frame the estimate
    formulas need.

    Sample size follows the reference (RV.C:157-168):
    ``sampleSize ≈ √(CCsize·log2 CCsize)`` capped at ``max_sample``, so
    the per-vertex keep probability FALLS with component size — the
    pinned stream ``(id*31+7) % 101`` is compared against a
    per-component threshold ``round(101·sampleSize/csz)`` instead of a
    constant (a constant rate made the (root,id)-keyed multi-BFS state
    quadratic in component size — ADVICE r03). The component's min-id
    member is always forced in (RV.C:172 non-empty forcing)."""
    from pyspark.sql import Window

    # sample S: pinned stream vs per-component threshold + forced
    # min-id member (comp == min id)
    samp_sz = F.least(
        F.col("csz"),
        F.least(
            F.lit(max_sample).cast("bigint"),
            F.greatest(
                F.lit(10).cast("bigint"),
                F.floor(F.sqrt(F.col("csz") * F.log2(F.col("csz")))),
            ),
        ),
    )
    thr = F.round(F.lit(101.0) * samp_sz / F.col("csz"))
    S = materialize(
        big.where(
            ((F.col("id") * 31 + 7) % 101 < thr) | (F.col("id") == F.col("comp"))
        ).select(F.col("id").alias("root"), "comp")
    )
    distS = _multi_root_bfs(g, S)
    eccS = distS.groupBy("root").agg(F.max("dist").alias("ecc"))
    per_v = distS.groupBy("id").agg(
        F.max("dist").alias("maxd"), F.min("dist").alias("mind")
    )

    # w: furthest vertex from the sample set (argmax of min-dist)
    wv = Window.partitionBy("comp").orderBy(
        F.col("mind").desc(), F.col("id").asc()
    )
    W = materialize(
        big.join(per_v, "id")
        .withColumn("_rn", F.row_number().over(wv))
        .where(F.col("_rn") == 1)
        .select(F.col("id").alias("root"), "comp")
    )
    distW = _multi_root_bfs(g, W)
    eccW = distW.groupBy("root").agg(F.max("dist").alias("ecc"))

    # Ngh_s: first nghSize vertices in (level, id) BFS order from w
    scal = sizes.where(F.col("csz") >= 3).select(
        "comp",
        "csz",
        F.least(
            F.col("csz"),
            F.greatest(
                F.lit(10),
                F.floor(F.sqrt(F.col("csz") * F.log2(F.col("csz")))),
            ),
        ).alias("ngh"),
    )
    dW = distW.join(W, "root")  # (root=w, id, dist, comp)
    nw = Window.partitionBy("comp").orderBy(F.col("dist").asc(), F.col("id").asc())
    N = materialize(
        dW.withColumn("_rn", F.row_number().over(nw))
        .join(scal.select("comp", "ngh"), "comp")
        .where(F.col("_rn") <= F.col("ngh"))
        .select(F.col("id").alias("root"), "comp")
    )
    distN = _multi_root_bfs(g, N)
    eccN = distN.groupBy("root").agg(F.max("dist").alias("ecc"))
    return dict(
        S=S, distS=distS, eccS=eccS, per_v=per_v,
        W=W, distW=distW, eccW=eccW, dW=dW,
        N=N, distN=distN, eccN=eccN,
    )


def rv_ecc(
    graph: Graph,
    max_sample: int = 1000,
    symmetrize: bool = True,
) -> DataFrame:
    """``(id, radius INT)`` — eccentricity estimates by the
    Roditty-Vassilevska-Williams sampling scheme (apps/eccentricity/
    RV.C:83-326), with every source of run-to-run nondeterminism
    PINNED so the output is a deterministic function of the graph
    (the FM-Ecc/LogLog-Ecc treatment, VERDICT r02 item 9):

    - RV.C:89 seeds from ``time(NULL)``; the sample membership test
      ``hashInt(i+seed) % CCsize < sampleSize`` (RV.C:164-169) becomes
      the pinned arithmetic stream ``(id*31 + 7) % 101`` compared to a
      per-component threshold ``round(101·sampleSize/csz)`` with
      ``sampleSize = min(csz, max_sample, max(10, √(csz·log2 csz)))``
      — the reference's falling per-vertex rate, so the batched
      multi-BFS holds ~√(n log n) roots per component, not O(n) — and
      the sample always contains the component's min id (the
      reference's non-empty forcing, RV.C:172).
    - ``Ngh_s`` (the √(n log n) neighborhood of w) is the first
      nghSize vertices in BFS order from w; the reference takes them
      in frontier order, nondeterministic within a level
      (RV.C:249-256, and the comment at RV.C:248-249 documents it);
      here the order is (level, id) — deterministic.
    - each vertex's guide into Ngh_s is inherited from its MIN-ID BFS
      parent rather than the CAS-winning parent (RV.C:56-64).

    Exact-BFS phases (samples, w, Ngh_s — RV.C:176-188, 243-284) and
    the estimate formula rv = max(maxDist_S(v), d(w,v)); use ecc(vt)
    when d(vt,v) ≤ d(vt,w), else the sample's min radius
    (RV.C:291-306) follow the reference unchanged. Components of size
    1 / 2 short-circuit to 0 / 1 (RV.C:153-156); components whose size
    ≤ nghSize get fully exact eccentricities (everything lands in
    Ngh_s)."""
    from pyspark.sql import Window

    from ligra_spark.algorithms.components import cc_contract_local

    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    comps = cc_contract_local(g)
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("csz"))
    comps = materialize(comps.join(sizes, "comp"))

    small = comps.where(F.col("csz") <= 2).select(
        "id", F.when(F.col("csz") == 1, 0).otherwise(1).alias("radius")
    )
    big = comps.where(F.col("csz") >= 3)

    if big.isEmpty():
        return small.select("id", F.col("radius").cast("int").alias("radius"))

    ph = _sample_w_ngh(g, big, sizes, max_sample)
    S, distS, eccS, per_v = ph["S"], ph["distS"], ph["eccS"], ph["per_v"]
    W, distW, eccW, dW = ph["W"], ph["distW"], ph["eccW"], ph["dW"]
    N, distN, eccN = ph["N"], ph["distN"], ph["eccN"]

    # --- guide: nearest Ngh_s ancestor along the min-parent BFS tree
    par = (
        g.edges_by_src.join(
            dW.select(F.col("id").alias("src"), F.col("dist").alias("ds")), "src"
        )
        .join(dW.select(F.col("id").alias("dst"), F.col("dist").alias("dd")), "dst")
        .where(F.col("ds") == F.col("dd") - 1)
        .groupBy("dst")
        .agg(F.min("src").alias("parent"))
    )
    n_ids = N.select(F.col("root").alias("id"), F.lit(True).alias("in_n"))
    n_ids_g = n_ids.select(F.col("id").alias("g"), F.col("in_n").alias("gn"))
    # unresolved-count rides each guide commit (the init one, then one
    # per doubling round) — one driver job per round; `gn` (g is in
    # Ngh_s) stays in the committed guide
    open_c = F.count_if(F.col("gn").isNull())
    guide, got = commit(
        dW.select("id")
        .join(n_ids, "id", "left")
        .join(par.withColumnRenamed("dst", "id"), "id", "left")
        .select(
            "id",
            F.when(F.col("in_n"), F.col("id"))
            .otherwise(F.col("parent"))
            .alias("g"),
        )
        .join(n_ids_g, "g", "left"),
        open=open_c,
    )
    n_open = got["open"]
    while n_open > 0:
        # pointer doubling toward the absorbing Ngh_s set (members of
        # Ngh_s self-loop, so hopping a resolved pointer is a no-op)
        hop = guide.select(F.col("id").alias("g"), F.col("g").alias("g2"))
        guide, got = commit(
            guide.join(hop, "g", "left")
            .select("id", F.coalesce("g2", "g").alias("g"))
            .join(n_ids_g, "g", "left"),
            guide,
            open=open_c,
        )
        n_open = got["open"]

    # --- assemble: exact (S ∪ {w} ∪ Ngh_s), then estimates for the rest
    exact = materialize(
        S.select("root", F.lit(None).alias("_"))
        .join(eccS, "root")
        .select(F.col("root").alias("id"), "ecc")
        .unionAll(W.join(eccW, "root").select(F.col("root").alias("id"), "ecc"))
        .unionAll(N.join(eccN, "root").select(F.col("root").alias("id"), "ecc"))
        .groupBy("id")
        .agg(F.min("ecc").alias("radius"))
    )

    min_r = (
        S.join(eccS, "root").groupBy("comp").agg(F.min("ecc").alias("minr"))
    )
    w_of_comp = W.select("comp", F.col("root").alias("wid"))
    d_vt_w = (
        distN.join(w_of_comp, distN["id"] == w_of_comp["wid"])
        .select(F.col("root").alias("vt"), F.col("dist").alias("dvtw"))
    )
    est = (
        big.join(exact.select("id"), "id", "left_anti")
        .join(per_v.select("id", "maxd"), "id")
        .join(distW.select("id", F.col("dist").alias("dw")), "id")
        .join(guide.select("id", F.col("g").alias("vt")), "id")
        .join(min_r, "comp")
        .join(w_of_comp, "comp")
        .join(
            distN.select(
                F.col("root").alias("vt"),
                F.col("id").alias("id"),
                F.col("dist").alias("dvtv"),
            ),
            ["vt", "id"],
        )
        .join(d_vt_w, "vt")
        .join(eccN.select(F.col("root").alias("vt"), F.col("ecc").alias("evt")), "vt")
        .select(
            "id",
            F.greatest(
                F.greatest("maxd", "dw"),
                F.when(F.col("dvtv") <= F.col("dvtw"), F.col("evt")).otherwise(
                    F.col("minr")
                ),
            ).alias("radius"),
        )
    )
    return (
        small.unionAll(exact.select("id", "radius")).unionAll(est)
        .select("id", F.col("radius").cast("int").alias("radius"))
    )


def clrstv_ecc(
    graph: Graph,
    max_sample: int = 1000,
    symmetrize: bool = True,
) -> DataFrame:
    """``(id, radius INT)`` — eccentricity estimates by the CLRSTV
    scheme (apps/eccentricity/CLRSTV.C:120-300): the RV phase
    structure (sample S, furthest vertex w, neighborhood Ngh_s — all
    pinned identically to ``rv_ecc``) with the lower-bound estimate
    formula instead of the guide tree. Every BFS source u contributes
    ``max(d(u,v), ecc(u) − d(u,v))`` (both are eccentricity lower
    bounds: the distance itself, and the triangle-inequality bound
    through u — CLRSTV.C:190-199, 281-292); each remaining vertex
    takes the max over all of S ∪ {w} ∪ Ngh_s. No guide inheritance,
    so the only pinned choices are the sample stream and Ngh_s
    order."""
    from ligra_spark.algorithms.components import cc_contract_local

    g = graph.symmetrized() if symmetrize and not graph.symmetric else graph
    comps = cc_contract_local(g)
    sizes = comps.groupBy("comp").agg(F.count(F.lit(1)).alias("csz"))
    comps = materialize(comps.join(sizes, "comp"))

    small = comps.where(F.col("csz") <= 2).select(
        "id", F.when(F.col("csz") == 1, 0).otherwise(1).alias("radius")
    )
    big = comps.where(F.col("csz") >= 3)
    if big.isEmpty():
        return small.select("id", F.col("radius").cast("int").alias("radius"))

    ph = _sample_w_ngh(g, big, sizes, max_sample)

    bound = F.greatest(F.col("dist"), F.col("ecc") - F.col("dist"))
    maxest = (
        ph["distS"].join(ph["eccS"], "root")
        .groupBy("id").agg(F.max(bound).alias("s_est"))
    )
    west = (
        ph["distW"].join(ph["eccW"], "root")
        .select("id", bound.alias("w_est"))
    )
    nest = (
        ph["distN"].join(ph["eccN"], "root")
        .groupBy("id").agg(F.max(bound).alias("n_est"))
    )
    exact = materialize(
        ph["S"].join(ph["eccS"], "root").select(F.col("root").alias("id"), "ecc")
        .unionAll(
            ph["W"].join(ph["eccW"], "root").select(F.col("root").alias("id"), "ecc")
        )
        .unionAll(
            ph["N"].join(ph["eccN"], "root").select(F.col("root").alias("id"), "ecc")
        )
        .groupBy("id")
        .agg(F.min("ecc").alias("radius"))
    )
    est = (
        big.join(exact.select("id"), "id", "left_anti")
        .join(maxest, "id")
        .join(west, "id")
        .join(nest, "id")
        .select("id", F.greatest("s_est", "w_est", "n_est").alias("radius"))
    )
    return (
        small.unionAll(exact.select("id", "radius")).unionAll(est)
        .select("id", F.col("radius").cast("int").alias("radius"))
    )
