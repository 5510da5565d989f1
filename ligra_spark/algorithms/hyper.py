"""Hypergraph apps — the apps/hyper/ family on the Hypergraph engine.

Reference semantics, re-expressed over the dual ``vertex_prop`` /
``hyperedge_prop`` operators (see hypergraph.py):

- ``hyper_bfs``   (HyperBFS.C:41-66)   — alternating half-round BFS:
  vertex frontier visits unvisited hyperedges, hyperedge frontier
  visits unvisited vertices. The reference's CAS parent race is
  nondeterministic; distances are deterministic, so we report dist
  (vertex layers even, hyperedge layers odd).
- ``hyper_cc``    (HyperCC.C:52-79)    — alternating min-id label
  propagation between the two layers until no label changes; the
  fixpoint labels every vertex/hyperedge with the min vertex id of its
  connected component.
- ``hyper_pagerank`` (HyperPageRank.C:84-113) — per iteration the
  hyperedge mass is rebuilt as Σ members' p/deg(v), then vertex mass
  as damping·Σ incident hyperedges' p/deg(h) + (1-damping)/nv.
- ``hyper_sssp``  (HyperSSSP.C:60-96)  — Bellman-Ford relaxation
  alternating v→h and h→v with per-incidence weights; rounds cap at
  nv-1 (negative-cycle guard, moot for the non-negative weights used
  here).
- ``hyper_kcore`` (HyperKCore.C:87-137) — peeling with phase counter
  k: remove active vertices with < k ALIVE incident hyperedges (their
  core number is k-1); a hyperedge dies as soon as ANY member is
  removed (Remove_Hyperedge, HyperKCore.C:30-41). The reference
  decrements cached degrees per dead hyperedge; we recount alive
  incidences exactly, which removes the same vertex set each round
  (the removal test deg < k is identical; cached values only differ
  on vertices already below k, which are removed either way).
- ``hyper_bpath`` (HyperBPath.C:27-80) — B-path reachability: a
  hyperedge fires only when ALL its members have been visited
  (counter init -deg, each newly visited member increments once);
  fired hyperedges then visit their unvisited members. Deterministic
  in the visit ROUNDS (the parent race is not), so we report dist.

All state lives in columnar (id, value) tables per layer; every round
is one or two bounded message shuffles — identical cost model to the
graph apps at 10^12 incidences.
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
)
from ligra_spark.hypergraph import Hypergraph


def _seed_df(spark, source):
    return spark.createDataFrame([(int(source),)], "id long")


def hyper_bfs(
    hg: Hypergraph,
    source: int,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(kind, id, dist)`` for reached vertices ('v', even dist) and
    hyperedges ('h', odd dist)."""
    spark = hg.spark
    vis_v = materialize(_seed_df(spark, source).select("id", F.lit(0).alias("dist")))
    vis_h = spark.createDataFrame([], "id long, dist int")
    frontier = vis_v.select("id")
    n_f = 1

    timer = Timer()
    for it in range(max_iters):
        msgs = hg.vertex_prop(frontier, combiner="min", frontier_size=n_f)
        new_h = msgs.join(vis_h, "id", "left_anti").select(
            "id", F.lit(2 * it + 1).alias("dist")
        )
        vis_h, got = commit(
            vis_h.unionAll(new_h), vis_h, f=F.count_if(F.col("dist") == 2 * it + 1)
        )
        n_f = got["f"]
        frontier = vis_h.where(F.col("dist") == 2 * it + 1).select("id")
        if n_f == 0:
            break
        msgs = hg.hyperedge_prop(frontier, combiner="min", frontier_size=n_f)
        new_v = msgs.join(vis_v, "id", "left_anti").select(
            "id", F.lit(2 * it + 2).alias("dist")
        )
        vis_v, got = commit(
            vis_v.unionAll(new_v), vis_v, f=F.count_if(F.col("dist") == 2 * it + 2)
        )
        n_f = got["f"]
        frontier = vis_v.where(F.col("dist") == 2 * it + 2).select("id")
        if metrics is not None:
            metrics.record(it, frontier=n_f, wall_s=timer.lap())
        if n_f == 0:
            break
    return vis_v.select(F.lit("v").alias("kind"), "id", "dist").unionAll(
        vis_h.select(F.lit("h").alias("kind"), "id", "dist")
    )


def hyper_cc(
    hg: Hypergraph,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(kind, id, comp)`` — comp = min vertex id in the connected
    component (hyperedges inherit it from their members)."""
    lab_v, got = commit(
        hg.vertices.select("id", F.col("id").alias("comp")), n=F.count(F.lit(1))
    )
    lab_h = materialize(
        hg.hyperedges.select("id", F.lit(None).cast("long").alias("comp"))
    )
    frontier_v = lab_v.select("id")
    n_f = got["n"]

    timer = Timer()
    for it in range(max_iters):
        msgs = hg.vertex_prop(
            frontier_v.join(lab_v, "id").select("id", "comp"),
            message=F.col("comp"),
            combiner="min",
            frontier_size=n_f,
        )
        # state + changed flag in ONE committed frame: the changed
        # count rides the commit, and the next half-round's
        # frontier filters the checkpoint instead of recomputing the
        # update join
        upd_h = lab_h.join(msgs, "id", "left").select(
            "id",
            F.coalesce(F.least("comp", "msg"), "comp", "msg").alias("comp"),
            (
                F.col("comp").isNull()
                | F.coalesce(
                    F.least("comp", "msg") < F.col("comp"), F.lit(False)
                )
            ).alias("chg"),
        )
        st_h, got = commit(upd_h, lab_h, f=F.count_if("chg"))
        n_h = got["f"]
        lab_h = derive(st_h.select("id", "comp"), st_h)
        if n_h == 0:
            break
        changed_h = st_h.where(F.col("chg")).select("id")
        msgs = hg.hyperedge_prop(
            changed_h.join(lab_h, "id").select("id", "comp"),
            message=F.col("comp"),
            combiner="min",
            frontier_size=n_h,
        )
        upd_v = lab_v.join(msgs, "id", "left").select(
            "id",
            F.coalesce(F.least("comp", "msg"), "comp").alias("comp"),
            F.coalesce(F.col("msg") < F.col("comp"), F.lit(False)).alias("chg"),
        )
        st_v, got = commit(upd_v, lab_v, f=F.count_if("chg"))
        n_f = got["f"]
        lab_v = derive(st_v.select("id", "comp"), st_v)
        frontier_v = st_v.where(F.col("chg")).select("id")
        if metrics is not None:
            metrics.record(it, frontier=n_f, wall_s=timer.lap())
        if n_f == 0:
            break
    return lab_v.select(F.lit("v").alias("kind"), "id", "comp").unionAll(
        lab_h.select(F.lit("h").alias("kind"), "id", "comp")
    )


def hyper_pagerank(
    hg: Hypergraph,
    max_iters: int = 10,
    damping: float = 0.85,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(kind, id, p)`` — vertex and hyperedge PageRank mass after
    ``max_iters`` rounds (HyperPageRank.C defaults to damping 0.85 and
    assumes a connected hypergraph; mass leaks at zero-degree ids just
    as in the reference)."""
    nv = hg.nv
    deg_v = hg.vertex_degrees
    deg_h = hg.hyperedge_degrees
    p_v = materialize(
        deg_v.select("id", (F.lit(1.0) / F.lit(float(nv))).alias("p"), "deg")
    )
    p_h = None

    timer = Timer()
    for it in range(max_iters):
        # hyperedgeMap(PR_Reset) + vertexProp(PR_Update): pH rebuilt
        p_h = hg.vertex_prop(
            p_v.select("id", (F.col("p") / F.col("deg")).alias("share")),
            message=F.col("share"),
            combiner="sum",
            frontier_size=nv,
        ).select("id", F.col("msg").alias("p"))
        p_h, got = commit(
            p_h.join(deg_h, "id").select("id", "p", "deg"), n=F.count(F.lit(1))
        )
        # vertexMap(PR_Reset) + hyperedgeProp + PR_Vertex_F
        gathered = hg.hyperedge_prop(
            p_h.select("id", (F.col("p") / F.col("deg")).alias("share")),
            message=F.col("share"),
            combiner="sum",
            frontier_size=got["n"],
        ).select("id", F.col("msg").alias("gather"))
        nxt = deg_v.join(gathered, "id", "left").select(
            "id",
            (
                F.lit(damping) * F.coalesce("gather", F.lit(0.0))
                + F.lit((1.0 - damping) / float(nv))
            ).alias("p"),
            "deg",
        )
        p_v = materialize(nxt, p_v)
        if metrics is not None:
            metrics.record(it, wall_s=timer.lap())
    return p_v.select(F.lit("v").alias("kind"), "id", "p").unionAll(
        p_h.select(F.lit("h").alias("kind"), "id", "p")
    )


def hyper_sssp(
    hg: Hypergraph,
    source: int,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(kind, id, dist)`` — shortest weighted v→h→v paths from
    ``source`` (requires a ``w`` column on the incidence)."""
    if not hg.weighted:
        raise ValueError("hyper_sssp requires a weighted incidence (w column)")
    spark = hg.spark
    dist_v = materialize(_seed_df(spark, source).select("id", F.lit(0.0).alias("dist")))
    dist_h = spark.createDataFrame([], "id long, dist double")
    frontier = dist_v
    n_f = 1
    nv = hg.nv

    timer = Timer()
    for rnd in range(nv - 1):
        msgs = hg.vertex_prop(
            frontier,
            message=F.col("dist") + F.col("w"),
            combiner="min",
            frontier_size=n_f,
        )
        # state + changed flag in one commit
        upd = dist_h.join(msgs, "id", "full_outer").select(
            "id",
            F.coalesce(F.least("dist", "msg"), "dist", "msg").alias("dist"),
            (
                F.col("dist").isNull()
                | F.coalesce(F.col("msg") < F.col("dist"), F.lit(False))
            ).alias("chg"),
        )
        st_h, got = commit(upd, dist_h, f=F.count_if("chg"))
        n_f = got["f"]
        dist_h = derive(st_h.select("id", "dist"), st_h)
        if n_f == 0:
            break
        frontier = st_h.where(F.col("chg")).select("id", "dist")
        msgs = hg.hyperedge_prop(
            frontier,
            message=F.col("dist") + F.col("w"),
            combiner="min",
            frontier_size=n_f,
        )
        upd = dist_v.join(msgs, "id", "full_outer").select(
            "id",
            F.coalesce(F.least("dist", "msg"), "dist", "msg").alias("dist"),
            (
                F.col("dist").isNull()
                | F.coalesce(F.col("msg") < F.col("dist"), F.lit(False))
            ).alias("chg"),
        )
        st_v, got = commit(upd, dist_v, f=F.count_if("chg"))
        n_f = got["f"]
        dist_v = derive(st_v.select("id", "dist"), st_v)
        frontier = st_v.where(F.col("chg")).select("id", "dist")
        if metrics is not None:
            metrics.record(rnd, frontier=n_f, wall_s=timer.lap())
        if n_f == 0:
            break
    return dist_v.select(F.lit("v").alias("kind"), "id", "dist").unionAll(
        dist_h.select(F.lit("h").alias("kind"), "id", "dist")
    )


def hyper_kcore(
    hg: Hypergraph,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, core)`` — vertex core numbers under the hypergraph
    peeling rule: a hyperedge is alive iff ALL members are alive; the
    k-phase removes vertices with < k alive incident hyperedges."""
    inc = hg.fwd.edges_by_src  # (src=v, dst=h)
    alive_v, got = commit(hg.vertices.select("id"), n=F.count(F.lit(1)))
    n_alive = got["n"]
    spark = hg.spark
    cores = spark.createDataFrame([], "id long, core int")

    timer = Timer()
    k = 1
    it = 0
    prev_degs = None
    n_cores = 0
    while n_alive > 0:
        # alive hyperedges: every member still alive
        dead_members = inc.join(
            alive_v.withColumnRenamed("id", "src"), "src", "left_anti"
        ).select("dst").distinct()
        alive_deg = (
            inc.join(alive_v.withColumnRenamed("id", "src"), "src")
            .join(dead_members, "dst", "left_anti")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # one commit of the alive-degree table per wave; min-degree
        # rides it, and empty phases are JUMPED (k -> min+1) —
        # equivalent peeling (intermediate phases remove nothing, same
        # core = k-1 assignment), zero wasted rounds
        degs, got = commit(
            alive_v.join(alive_deg, "id", "left")
            .select("id", F.coalesce("deg", F.lit(0)).alias("deg")),
            prev_degs,
            mind=F.min("deg"),
        )
        prev_degs = degs
        mind = int(got["mind"])
        if mind >= k:
            k = mind + 1
        removed = degs.where(F.col("deg") < k).select(
            "id", F.lit(k - 1).cast("int").alias("core")
        )
        # removed-count rides the cores commit (cumulative count)
        cores, got = commit(cores.unionAll(removed), cores, n=F.count(F.lit(1)))
        total = got["n"]
        n_rm = total - n_cores
        n_cores = total
        alive_v = degs.where(F.col("deg") >= k).select("id")
        n_alive -= n_rm
        if metrics is not None:
            metrics.record(it, k=k, removed=n_rm, wall_s=timer.lap())
        it += 1
    return cores


def hyper_bpath(
    hg: Hypergraph,
    source: int,
    max_iters: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(kind, id, dist)`` — B-path reachability: hyperedges fire only
    once ALL members are visited; fired hyperedges visit their
    members. Vertex dist = round first visited, hyperedge dist = round
    fired."""
    spark = hg.spark
    deg_h = hg.hyperedge_degrees
    vis_v = materialize(_seed_df(spark, source).select("id", F.lit(0).alias("dist")))
    vis_h = spark.createDataFrame([], "id long, dist int")
    cnt_h = materialize(deg_h.select("id", F.lit(0).alias("cnt")))
    frontier = vis_v.select("id")
    n_f = 1

    timer = Timer()
    for it in range(max_iters):
        # each newly visited member increments its hyperedges' counters
        msgs = hg.vertex_prop(
            frontier, message=F.lit(1), combiner="sum", frontier_size=n_f
        )
        cnt_h = materialize(
            cnt_h.join(msgs, "id", "left").select(
                "id", (F.col("cnt") + F.coalesce("msg", F.lit(0))).alias("cnt")
            ),
            cnt_h,
        )
        fired = (
            cnt_h.join(deg_h.withColumnRenamed("deg", "card"), "id")
            .where(F.col("cnt") == F.col("card"))
            .join(vis_h, "id", "left_anti")
            .select("id", F.lit(it + 1).alias("dist"))
        )
        vis_h, got = commit(
            vis_h.unionAll(fired), vis_h, f=F.count_if(F.col("dist") == it + 1)
        )
        n_fired = got["f"]
        if n_fired == 0:
            break
        msgs = hg.hyperedge_prop(
            vis_h.where(F.col("dist") == it + 1).select("id"),
            combiner="min",
            frontier_size=n_fired,
        )
        new_v = msgs.join(vis_v, "id", "left_anti").select(
            "id", F.lit(it + 1).alias("dist")
        )
        vis_v, got = commit(
            vis_v.unionAll(new_v), vis_v, f=F.count_if(F.col("dist") == it + 1)
        )
        n_f = got["f"]
        frontier = vis_v.where(F.col("dist") == it + 1).select("id")
        if metrics is not None:
            metrics.record(it, frontier=n_f, wall_s=timer.lap())
        if n_f == 0:
            break
    return vis_v.select(F.lit("v").alias("kind"), "id", "dist").unionAll(
        vis_h.select(F.lit("h").alias("kind"), "id", "dist")
    )


def hyper_bc(
    hg: Hypergraph,
    source: int,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(kind, id, paths, dep)`` — hypergraph betweenness from one
    source (HyperBC.C:105-178). Forward: level-synchronous path
    counting alternating v→h→v, sigma accumulating only into
    unvisited targets. Backward: vertex levels descend by 2; each
    processed vertex adds 1 to its own dependency then pushes
    ``dep/sigma`` to its level-below hyperedges, which push
    ``dep·sigma(target)`` to their level-below vertices (the
    reference's raw un-normalized formulation, BC_Back_VtoH /
    BC_Back_HtoV). The deepest dead-end hyperedge level is skipped
    exactly as HyperBC.C:146-148 drops it."""
    spark = hg.spark
    sig_v = materialize(
        _seed_df(spark, source).select(
            "id", F.lit(1.0).alias("sigma"), F.lit(0).alias("dist")
        )
    )
    sig_h = spark.createDataFrame([], "id long, sigma double, dist int")
    frontier = sig_v
    n_f = 1
    # frontier size per level (dist), read by the forward commits and
    # reused as the backward pushes' frontier sizes
    level_size: dict[int, int] = {}
    timer = Timer()
    max_vl = 0
    for it in range(10_000):
        msgs = hg.vertex_prop(
            frontier.select("id", "sigma"),
            message=F.col("sigma"),
            combiner="sum",
            frontier_size=n_f,
        )
        new_h = msgs.join(sig_h, "id", "left_anti").select(
            "id", F.col("msg").alias("sigma"), F.lit(2 * it + 1).alias("dist")
        )
        sig_h, got = commit(
            sig_h.unionAll(new_h), sig_h, f=F.count_if(F.col("dist") == 2 * it + 1)
        )
        n_f = level_size[2 * it + 1] = got["f"]
        frontier = sig_h.where(F.col("dist") == 2 * it + 1)
        if n_f == 0:
            break
        msgs = hg.hyperedge_prop(
            frontier.select("id", "sigma"),
            message=F.col("sigma"),
            combiner="sum",
            frontier_size=n_f,
        )
        new_v = msgs.join(sig_v, "id", "left_anti").select(
            "id", F.col("msg").alias("sigma"), F.lit(2 * it + 2).alias("dist")
        )
        sig_v, got = commit(
            sig_v.unionAll(new_v), sig_v, f=F.count_if(F.col("dist") == 2 * it + 2)
        )
        n_f = level_size[2 * it + 2] = got["f"]
        frontier = sig_v.where(F.col("dist") == 2 * it + 2)
        if metrics is not None:
            metrics.record(it, frontier=n_f, wall_s=timer.lap())
        if n_f == 0:
            break
        max_vl = 2 * it + 2

    dep_v = materialize(
        sig_v.select("id", F.lit(0.0).alias("dep"))
    )
    dep_h = materialize(sig_h.select("id", F.lit(0.0).alias("dep")))
    for lv in range(max_vl, 1, -2):
        # vertex level lv: +1 then push dep/sigma to hyperedge level lv-1
        fr_v = (
            sig_v.where(F.col("dist") == lv)
            .join(dep_v, "id")
            .select("id", (F.col("dep") + 1.0).alias("dep"), "sigma")
        )
        dep_v = materialize(
            dep_v.join(fr_v.select("id", F.col("dep").alias("d2")), "id", "left")
            .select("id", F.coalesce("d2", "dep").alias("dep")),
            dep_v,
        )
        push = hg.vertex_prop(
            fr_v.select("id", (F.col("dep") / F.col("sigma")).alias("share")),
            message=F.col("share"),
            combiner="sum",
            frontier_size=level_size[lv],
        )
        tgt_h = sig_h.where(F.col("dist") == lv - 1).select("id")
        dep_h = materialize(
            dep_h.join(push.join(tgt_h, "id").select("id", "msg"), "id", "left")
            .select("id", (F.col("dep") + F.coalesce("msg", F.lit(0.0))).alias("dep")),
            dep_h,
        )
        # hyperedge level lv-1 pushes dep * sigma(target) to vertex level lv-2
        fr_h = sig_h.where(F.col("dist") == lv - 1).join(dep_h, "id")
        push = hg.hyperedge_prop(
            fr_h.select("id", F.col("dep").alias("share")),
            message=F.col("share"),
            combiner="sum",
            frontier_size=level_size[lv - 1],
        )
        tgt_v = sig_v.where(F.col("dist") == lv - 2)
        gain = (
            push.join(tgt_v.select("id", "sigma"), "id")
            .select("id", (F.col("msg") * F.col("sigma")).alias("g"))
        )
        dep_v = materialize(
            dep_v.join(gain, "id", "left")
            .select("id", (F.col("dep") + F.coalesce("g", F.lit(0.0))).alias("dep")),
            dep_v,
        )
    out_v = sig_v.join(dep_v, "id").select(
        F.lit("v").alias("kind"), "id", F.col("sigma").alias("paths"), "dep"
    )
    out_h = sig_h.join(dep_h, "id").select(
        F.lit("h").alias("kind"), "id", F.col("sigma").alias("paths"), "dep"
    )
    return out_v.unionAll(out_h)


def hyper_mis(
    hg: Hypergraph,
    max_rounds: int = 10_000,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, in_set BOOLEAN)`` — maximal independent set in the
    hypergraph sense (HyperMIS.C:119-160, the Beame-Luby scheme): no
    hyperedge may have ALL members in the set. Per round, undecided
    vertices self-sample; fully-sampled hyperedges release their
    samples (Check_Independence + MIS_Reset_Neighbors); survivors join
    the set and are packed out of the incidence
    (hyperedgeFilterNgh); hyperedges left with one member force it OUT
    (Filter_Hyperedges). The reference samples by ``hashInt(i+offset)
    % 3`` and notes the probability is an implementation choice; we
    use the Knuth multiplicative hash ``((i+offset)·2654435761) mod
    2^32 mod 3`` — expressible identically in Spark and ANSI SQL
    (64-bit wrapping multiply is not) — so runs are deterministic and
    oracle-replayable. The incidence mutation is a re-materialized
    filtered DataFrame each round (same asymptotics as the
    reference's in-place pack, no mutation)."""
    spark = hg.spark
    undecided = F.count_if(F.col("flag") == 0)
    flags, got = commit(hg.vertices.select("id", F.lit(0).alias("flag")), f=undecided)
    n_f = got["f"]
    live = materialize(hg.fwd.edges_by_src.select("src", "dst"))
    offset = 0

    timer = Timer()
    for it in range(max_rounds):
        # n_f (undecided count) rode the flags commit of the previous
        # round (or the init one)
        if n_f == 0:
            break
        frontier = flags.where(F.col("flag") == 0)
        sampled = frontier.where(
            ((F.col("id") + F.lit(offset)) * F.lit(2654435761))
            % F.lit(4294967296) % 3 == 0
        ).select(F.col("id").alias("src"))
        offset += n_f
        card = live.groupBy("dst").agg(F.count(F.lit(1)).alias("card"))
        scnt = (
            live.join(sampled, "src")
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        full = card.join(scnt, "dst").where(F.col("c") == F.col("card")).select("dst")
        resets = (
            live.join(full, "dst").join(sampled, "src").select("src").distinct()
        )
        won = materialize(sampled.join(resets, "src", "left_anti"))
        live_p = live.join(won, "src", "left_anti")
        # hyperedges reduced to one member force it OUT (if undecided)
        singles = (
            live_p.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("c"), F.min("src").alias("u"))
            .where(F.col("c") == 1)
        )
        flags, got = commit(
            flags.join(won.select(F.col("src").alias("id")).withColumn("_w", F.lit(1)), "id", "left")
            .join(
                singles.select(F.col("u").alias("id")).distinct()
                .withColumn("_s", F.lit(1)),
                "id",
                "left",
            )
            .select(
                "id",
                F.when(F.col("_w").isNotNull(), F.lit(2))
                .when((F.col("_s").isNotNull()) & (F.col("flag") == 0), F.lit(1))
                .otherwise(F.col("flag"))
                .alias("flag"),
            ),
            flags,
            f=undecided,
        )
        n_f = got["f"]
        live = materialize(
            live_p.join(singles.select("dst"), "dst", "left_anti"), live
        )
        if metrics is not None:
            metrics.record(it, frontier=n_f, wall_s=timer.lap())
    return flags.select("id", (F.col("flag") >= 2).alias("in_set"))


def hyper_kcore_bucketed(
    hg: Hypergraph,
    metrics: IterMetrics | None = None,
) -> DataFrame:
    """``(id, core)`` — work-efficient hypergraph peeling over Julienne
    buckets (HyperKCore-Efficient.C:23-63): the bucket key IS the
    current degree; popping the minimum bucket k peels its vertices
    with core = k, their hyperedges die (once, Remove_Hyperedge), and
    survivors decrement by their newly-dead incident count, clamped at
    k (apply_f). Produces the same core numbers as :func:`hyper_kcore`
    (confluent peeling), in one round per distinct core value instead
    of one per removal wave."""
    inc = hg.fwd.edges_by_src  # (src=v, dst=h)
    # next_bucket's min-key aggregation job is folded into the verts
    # commit: the minimum degree (= the next bucket to pop) rides it,
    # here and at every per-round re-commit below
    verts, got = commit(
        hg.vertex_degrees.select("id", F.col("deg").cast("long").alias("deg")),
        mind=F.min("deg"),
    )
    mind = got["mind"]
    spark = hg.spark
    cores = spark.createDataFrame([], "id long, core int")
    dead_h = materialize(
        spark.createDataFrame([], "dst long")
    )

    timer = Timer()
    it = 0
    while True:
        if mind is None:
            break
        cur = int(mind)
        active = verts.where(F.col("deg") == cur).select("id")
        peeled, got = commit(
            active.select("id", F.lit(cur).cast("int").alias("core")),
            n=F.count(F.lit(1)),
        )
        n_cur = got["n"]
        cores = cores.unionAll(peeled)
        newly_dead = (
            inc.join(active.withColumnRenamed("id", "src"), "src")
            .select("dst")
            .distinct()
            .join(dead_h, "dst", "left_anti")
        )
        newly_dead = materialize(newly_dead)
        survivors = verts.join(active, "id", "left_anti")
        dec = (
            inc.join(newly_dead, "dst")
            .join(survivors.select(F.col("id").alias("src")), "src")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        verts, got = commit(
            survivors.join(dec, "id", "left").select(
                "id",
                F.when(
                    F.col("deg") > cur,
                    F.greatest(
                        F.col("deg") - F.coalesce("dec", F.lit(0)), F.lit(cur)
                    ),
                )
                .otherwise(F.col("deg"))
                .alias("deg"),
            ),
            verts,
            mind=F.min("deg"),
        )
        mind = got["mind"]
        dead_h = materialize(dead_h.unionAll(newly_dead), dead_h)
        if metrics is not None:
            metrics.record(it, k=cur, peeled=n_cur, wall_s=timer.lap())
        it += 1
    return cores
