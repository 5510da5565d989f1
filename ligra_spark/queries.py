"""Query registry backing ``__spark_entry__.py``.

Every implemented operator exposes a ``(spark, sf_dir) -> DataFrame``
callable here, and — when ANSI-SQL-expressible — a DuckDB oracle SQL
twin producing identical column names, schema, and values.

Cross-engine determinism rules used throughout (so the driver's
order-insensitive value-hash matches):

- integer outputs wherever possible (ids, counts, ranks cast to long);
- float outputs are either bitwise-deterministic (single IEEE division
  of identical operands, e.g. jaccard/ratios) or rounded (pagerank);
- hashing in shared logic uses md5 (identical in Spark and DuckDB),
  never engine-private hash functions;
- ties broken by id, never by engine iteration order.

Fixpoint algorithms (CC, LP, k-core, full PageRank) are not expressible
in one ANSI query; where the *input graph shape* makes the fixpoint
closed-form (per-user event chains ⇒ component = min event id of the
user), the oracle exploits that — a real convergence check of the
iterative engine, not a one-step approximation. The rest are
registered without oracle SQL → driver records rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ligra_spark.algorithms import (
    bellman_ford,
    betweenness_from_source,
    bfs,
    cc_contract_local,
    connected_components,
    label_propagation,
    maximal_independent_set,
    pagerank,
    pagerank_delta,
    radii,
    triangle_count,
    triangles_per_vertex,
)
from ligra_spark.functions.dedup import (
    dedup_clusters,
    dedup_exact,
    minhash_lsh_jaccard,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_dup_pairs,
)
from ligra_spark.functions.similarity import (
    cosine_topk,
    cosine_topk_kernel,
    embedding_dup_pairs,
    lsh_bucket_topk,
)
from ligra_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    text_quality,
    token_count,
)
from ligra_spark.graph import Graph
from ligra_spark.sources.events import (
    EDGES_FROM_EVENTS_SQL,
    EVENT_TYPE_GRAPH_SQL,
    HYPER_INCIDENCE_DIRECTED_SQL,
    HYPER_INCIDENCE_SQL,
    MID_GRAPH_SQL,
    MID_KEEP,
    MID_M,
    MOD_GRAPH_SQL,
    edges_from_events,
    event_type_graph,
    hyper_incidence,
    hyper_incidence_directed,
    mod_graph_edges,
)

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events_graph(spark: SparkSession, sf_dir: str, partitions: int = 16) -> Graph:
    return Graph(edges_from_events(_events(spark, sf_dir)), num_partitions=partitions)


def _types_graph(spark: SparkSession, sf_dir: str) -> Graph:
    return Graph(event_type_graph(_events(spark, sf_dir)), num_partitions=4)


# --------------------------------------------------------------------------
# graph queries (events-derived)
# --------------------------------------------------------------------------

def q_edges_events(spark, sf_dir):
    return edges_from_events(_events(spark, sf_dir))


def q_degrees_events(spark, sf_dir):
    return _events_graph(spark, sf_dir).degrees


DEGREES_SQL = f"""
WITH edges AS ({EDGES_FROM_EVENTS_SQL}),
v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
o AS (SELECT src AS id, COUNT(*) AS c FROM edges GROUP BY 1),
i AS (SELECT dst AS id, COUNT(*) AS c FROM edges GROUP BY 1)
SELECT v.id, COALESCE(o.c, 0) AS out_deg, COALESCE(i.c, 0) AS in_deg
FROM v LEFT JOIN o ON v.id = o.id LEFT JOIN i ON v.id = i.id
"""


def q_cc_events(spark, sf_dir):
    """Exact min-id CC on the event-chain graph; the oracle's closed
    form holds because each user's events form one path component."""
    return connected_components(_events_graph(spark, sf_dir))


CC_EVENTS_SQL = """
SELECT event_id AS id, MIN(event_id) OVER (PARTITION BY user_id) AS comp
FROM events
WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) >= 2)
"""


def q_cc_local_events(spark, sf_dir):
    """Partition-local Arrow contraction CC on the event-chain graph —
    shares cc_events' closed-form oracle (min event per user)."""
    return cc_contract_local(_events_graph(spark, sf_dir))


def q_pagerank_iter1_events(spark, sf_dir):
    g = _events_graph(spark, sf_dir)
    return pagerank(g, max_iters=1).select(
        "id", _round_rank(F.col("rank")).alias("rank")
    )


PAGERANK_ITER1_SQL = f"""
WITH edges AS ({EDGES_FROM_EVENTS_SQL}),
v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
n AS (SELECT COUNT(*) AS c FROM v),
outd AS (SELECT src AS id, COUNT(*) AS od FROM edges GROUP BY 1),
contrib AS (
  SELECT e.dst AS id, SUM((1.0 / n.c) / o.od) AS s
  FROM edges e JOIN outd o ON e.src = o.id CROSS JOIN n
  GROUP BY e.dst
)
SELECT v.id,
       ROUND(0.15 / n.c + 0.85 * COALESCE(contrib.s, 0) + 3e-13, 9) AS rank
FROM v CROSS JOIN n LEFT JOIN contrib ON v.id = contrib.id
"""


def q_triangles_types(spark, sf_dir):
    cnt = triangle_count(_types_graph(spark, sf_dir))
    return spark.createDataFrame([(cnt,)], "triangles long")


TRIANGLES_TYPES_SQL = f"""
WITH e AS ({EVENT_TYPE_GRAPH_SQL})
SELECT COUNT(*) AS triangles
FROM e ab JOIN e bc ON ab.dst = bc.src
JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
"""


def q_bfs_types(spark, sf_dir):
    g = _types_graph(spark, sf_dir).symmetrized()
    root = g.vertices.agg(F.min("id")).first()[0]
    return bfs(g, root).select("id", F.col("dist").cast("long").alias("dist"))


BFS_TYPES_SQL = f"""
WITH RECURSIVE base AS ({EVENT_TYPE_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
root AS (SELECT MIN(src) AS id FROM e),
r(id, dist) AS (
  SELECT id, 0 FROM root
  UNION
  SELECT e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.id WHERE r.dist < 32
)
SELECT id, MIN(dist) AS dist FROM r GROUP BY id
"""


def q_lp_events(spark, sf_dir):
    """5 synchronous LP rounds. On per-user chains the mode-with-min-
    tie-break update degenerates to min-of-neighbor-labels (neighbor
    counts are all 1), so the oracle replays the 5 rounds with window
    lag/lead — a closed form for the full iterative engine."""
    return label_propagation(_events_graph(spark, sf_dir), max_iters=5)


def _lp_events_sql(iters: int = 5) -> str:
    body = """
WITH c AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER w AS pos, COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
  WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) >= 2)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
r0 AS (SELECT user_id, event_id, pos, n, event_id AS label FROM c)"""
    for k in range(1, iters + 1):
        body += f""",
r{k} AS (
  SELECT user_id, event_id, pos, n,
         CASE WHEN n = 1 THEN label
              WHEN pos = 1 THEN lead(label) OVER w
              WHEN pos = n THEN lag(label) OVER w
              ELSE LEAST(lag(label) OVER w, lead(label) OVER w) END AS label
  FROM r{k-1}
  WINDOW w AS (PARTITION BY user_id ORDER BY pos)
)"""
    return body + f"\nSELECT event_id AS id, label FROM r{iters}"


LP_EVENTS_SQL = _lp_events_sql(5)


def q_kcore_types(spark, sf_dir):
    """K-core on the event-type co-occurrence graph via the bucketed
    (Julienne) scheduler — the default scale path since r04: the plain
    peel loop (KCore.C:29-107, `algorithms.kcore`, pytest-verified
    identical) pays two driver jobs per peel sub-round and scans every
    k, O(k_max·waves) round-trips at 100× scale, while the bucketed
    form jumps between occupied degree levels in one job per wave
    (VERDICT r03 item 5). Shares the DuckDB degeneracy-peel replay
    with kcore_mod (the oracle template is graph-parametric)."""
    from ligra_spark.operators.buckets import kcore_bucketed

    return kcore_bucketed(_types_graph(spark, sf_dir))


# Rounding nudge shared by the pagerank queries and their oracles: with
# n = 10^k vertices the rank values are exact decimal halves at the 9th
# digit (0.85^j × 0.15/n terms terminate), so the two engines' ~1e-19
# float drift lands them on OPPOSITE sides of the round boundary. The
# +3e-13 offset (>> drift, << the 1e-9 resolution) moves the ideal
# values off the boundary deterministically in both engines.
_PR_NUDGE = 3e-13


def _round_rank(col):
    return F.round(col + F.lit(_PR_NUDGE), 9)


def q_pagerank_events(spark, sf_dir):
    """Full 15-iteration PageRank (tol=0 so both engines run exactly 15
    rounds); the oracle unrolls the power iteration as 15 chained CTEs."""
    g = _events_graph(spark, sf_dir)
    return pagerank(g, max_iters=15, tol=0.0).select(
        "id", _round_rank(F.col("rank")).alias("rank")
    )


def _pagerank_events_sql(iters: int = 15) -> str:
    body = f"""
WITH edges AS ({EDGES_FROM_EVENTS_SQL}),
v AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
n AS (SELECT COUNT(*) AS c FROM v),
outd AS (SELECT src AS id, COUNT(*) AS od FROM edges GROUP BY 1),
r0 AS (SELECT v.id, 1.0 / n.c AS rank FROM v CROSS JOIN n)"""
    for k in range(1, iters + 1):
        body += f""",
r{k} AS (
  SELECT v.id, 0.15 / n.c + 0.85 * COALESCE(s.contrib, 0) AS rank
  FROM v CROSS JOIN n LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / o.od) AS contrib
    FROM edges e JOIN outd o ON e.src = o.id JOIN r{k-1} r ON r.id = e.src
    GROUP BY e.dst) s ON v.id = s.id)"""
    return body + f"\nSELECT id, ROUND(rank + {_PR_NUDGE}, 9) AS rank FROM r{iters}"


PAGERANK_EVENTS_SQL = _pagerank_events_sql(15)


def _events_graph_closed(spark, sf_dir, partitions: int = 16) -> Graph:
    """The event-chain graph with ``user_id`` declared as a closure key
    (every chain edge links two events of one user), dispatching the
    iterative algorithms to the fused partition-local Arrow kernels
    (algorithms/closed.py)."""
    return Graph(
        edges_from_events(_events(spark, sf_dir), closure_key=True),
        closure_key="ckey",
        validated_closure=True,
        num_partitions=partitions,
    )


def q_pagerank_closed_events(spark, sf_dir):
    """Closure-key dispatch exercised end-to-end against the SAME
    15-round unrolled-CTE oracle as pagerank_events: a driver-level
    value check that the zero-shuffle closed kernel reproduces the
    power iteration exactly."""
    g = _events_graph_closed(spark, sf_dir)
    return pagerank(g, max_iters=15, tol=0.0).select(
        "id", _round_rank(F.col("rank")).alias("rank")
    )


def q_lp_closed_events(spark, sf_dir):
    """Closed-kernel LP vs the lag/lead window replay oracle — labels
    must be bit-identical to the generic synchronous rounds."""
    return label_propagation(_events_graph_closed(spark, sf_dir), max_iters=5)


def q_tri_closed_users(spark, sf_dir):
    """Closed triangle kernel over the per-user clique graph (closed by
    user_id, triangle-rich) vs the closed-form oracle
    Σ_users C(min(cnt, 6), 3)."""
    from ligra_spark.algorithms.triangle import triangle_count
    from ligra_spark.sources.events import user_clique_edges

    g = Graph(
        user_clique_edges(_events(spark, sf_dir), closure_key=True),
        closure_key="ckey",
        validated_closure=True,
        num_partitions=16,
    )
    return spark.createDataFrame([(triangle_count(g),)], "triangles long")


TRI_CLOSED_USERS_SQL = """
SELECT CAST(SUM(c * (c - 1) * (c - 2) / 6) AS BIGINT) AS triangles
FROM (SELECT LEAST(COUNT(*), 6) AS c FROM events GROUP BY user_id)
"""


def q_tri_vertex_closed_users(spark, sf_dir):
    """Per-vertex incident triangle counts on the same clique graph —
    each of a user's first-min(cnt,6) events sits in C(c-1, 2)
    triangles, another exact closed form."""
    from ligra_spark.algorithms.triangle import triangles_per_vertex
    from ligra_spark.sources.events import user_clique_edges

    g = Graph(
        user_clique_edges(_events(spark, sf_dir), closure_key=True),
        closure_key="ckey",
        validated_closure=True,
        num_partitions=16,
    )
    return triangles_per_vertex(g)


TRI_VERTEX_CLOSED_USERS_SQL = """
WITH r AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         LEAST(COUNT(*) OVER (PARTITION BY user_id), 6) AS c
  FROM events
)
SELECT event_id AS id,
       CAST((c - 1) * (c - 2) / 2 AS BIGINT) AS triangles
FROM r WHERE rn <= c AND c >= 2
"""


def q_ecc_closed_users(spark, sf_dir):
    """Exact per-vertex eccentricity via the closed all-sources-BFS
    kernel (closed.py eccentricity_closed — ``kbfs_exact`` dispatches
    there on closure-keyed graphs, VERDICT r04 item 3a): each user's
    event chain is a path, so the eccentricity of the vertex at
    0-based position ``i`` in an ``n``-vertex path is
    ``max(i, n-1-i)`` — a closed-form oracle for the kernel's full
    distance structure, cheap at any sf (no all-pairs CTE)."""
    from ligra_spark.algorithms import kbfs_exact

    return kbfs_exact(_events_graph_closed(spark, sf_dir))


ECC_CLOSED_USERS_SQL = """
WITH r AS (
  SELECT event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT event_id AS id, CAST(GREATEST(i, n - 1 - i) AS INT) AS radius
FROM r WHERE n >= 2
"""


def q_streaming_cc_replay(spark, sf_dir):
    """Streaming incremental CC (streaming/components.py) driven
    end-to-end (VERDICT r04 item 3b): the event-chain edges are split
    into interleaved halves (every user's chain arrives as fragments
    that only connect when the second half lands), written as files,
    replayed through ``streaming_components`` micro-batches, and the
    accumulated update-mode deltas folded into the final mapping —
    which must equal batch CC over the union, i.e. the same
    closed-form oracle as ``cc_events`` (min event id per user)."""
    import shutil
    import tempfile

    from ligra_spark.streaming import streaming_components

    edges = edges_from_events(_events(spark, sf_dir), closure_key=True)
    w = Window.partitionBy("ckey").orderBy("src")
    ranked = edges.withColumn("rn", F.row_number().over(w))
    tmp = tempfile.mkdtemp(prefix="ligra_stream_replay_")
    try:
        for i in range(2):
            ranked.where(F.col("rn") % 2 == i).select(
                "src", "dst", "ckey"
            ).coalesce(2).write.parquet(f"{tmp}/in/b{i}")
        stream = (
            spark.readStream.schema("src long, dst long, ckey long")
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{tmp}/in/*")
        )
        final: dict[int, int] = {}

        def _acc(df, _eid):
            for r in df.collect():
                final[r.id] = r.comp

        q = (
            streaming_components(stream)
            .writeStream.foreachBatch(_acc)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.createDataFrame(
            sorted(final.items()), "id long, comp long"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# graph queries over the mod-graph fixture (events chains folded onto 64
# residue-class vertices, deterministically thinned — see mod_graph_edges).
# These give the traversal apps (BC.C, BellmanFord.C, Radii.C, MIS.C,
# Triangle.C per-vertex) hard DuckDB oracles over nontrivial structure.
# --------------------------------------------------------------------------

def _mod_graph(spark, sf_dir, weighted=False):
    edges = mod_graph_edges(_events(spark, sf_dir))
    if weighted:
        edges = edges.withColumn(
            "w", ((F.col("src") + 2 * F.col("dst")) % 9 + 1).cast("double")
        )
    return Graph(edges, num_partitions=4)


def q_bc_mod(spark, sf_dir):
    """Brandes single-source betweenness (BC.C:28-113 analog): forward
    level-synchronous sigma counting + backward dependency accumulation,
    verified against a DuckDB shortest-path-enumeration oracle."""
    g = _mod_graph(spark, sf_dir)
    root = g.vertices.agg(F.min("id")).first()[0]
    return betweenness_from_source(g, root).select(
        "id", "paths", F.round("dep", 6).alias("dep")
    )


BC_MOD_SQL = f"""
WITH RECURSIVE e AS ({MOD_GRAPH_SQL}),
v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
root AS (SELECT MIN(id) AS id FROM v),
p(id, dist, path) AS (
  SELECT id, 0, [id] FROM root
  UNION ALL
  SELECT e.dst, p.dist + 1, list_append(p.path, e.dst)
  FROM p JOIN e ON e.src = p.id
  WHERE p.dist < 10 AND NOT list_contains(p.path, e.dst)
),
mind AS (SELECT id, MIN(dist) AS d FROM p GROUP BY id),
sp AS (SELECT p.id, p.path FROM p JOIN mind ON p.id = mind.id AND p.dist = mind.d),
sigma AS (SELECT id, COUNT(*) AS s FROM sp GROUP BY id),
inner_v AS (
  -- non-endpoint vertices of each shortest path, INCLUDING the source:
  -- the reference applies the Brandes accumulation to the root as well
  -- (BC.C:128-138 + final rescale at BC.C:143-145), so dep(root) equals
  -- the number of reachable targets.
  SELECT unnest(sp.path[1:len(sp.path)-1]) AS vid, 1.0 / sigma.s AS c
  FROM sp JOIN sigma ON sp.id = sigma.id WHERE len(sp.path) > 1)
SELECT mind.id AS id, CAST(sigma.s AS DOUBLE) AS paths,
       ROUND(COALESCE(SUM(iv.c), 0), 6) AS dep
FROM mind JOIN sigma ON mind.id = sigma.id
LEFT JOIN inner_v iv ON iv.vid = mind.id
GROUP BY mind.id, sigma.s
"""


def q_bellman_ford_mod(spark, sf_dir):
    """Weighted SSSP (BellmanFord.C:10-99 analog), w = (src+2*dst)%9+1,
    vs a DuckDB recursive-relaxation oracle."""
    g = _mod_graph(spark, sf_dir, weighted=True)
    root = g.vertices.agg(F.min("id")).first()[0]
    return bellman_ford(g, root)


BF_MOD_SQL = f"""
WITH RECURSIVE e AS (
  SELECT src, dst, CAST((src + 2 * dst) % 9 + 1 AS DOUBLE) AS w
  FROM ({MOD_GRAPH_SQL})),
v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
root AS (SELECT MIN(id) AS id FROM v),
r(id, dist) AS (
  SELECT id, CAST(0 AS DOUBLE) FROM root
  UNION
  SELECT e.dst, r.dist + e.w FROM r JOIN e ON e.src = r.id WHERE r.dist < 80
)
SELECT id, MIN(dist) AS dist FROM r GROUP BY id
"""


def q_sssp_delta_mod(spark, sf_dir):
    """Delta-stepping SSSP over Julienne-style buckets
    (apps/bucketing/DeltaStepping.C) — same graph/weights/source as
    bellman_ford_mod, so it shares the recursive-relaxation oracle;
    agreement verifies the bucket scheduler end-to-end."""
    from ligra_spark.operators.buckets import delta_stepping

    g = _mod_graph(spark, sf_dir, weighted=True)
    root = g.vertices.agg(F.min("id")).first()[0]
    return delta_stepping(g, root, delta=3.0)


# --------------------------------------------------------------------------
# mid-size fixture (VERDICT r02 item 6): same construction folded onto
# 4096 residues with a looser thin — ~3k vertices / ~2.5k edges at
# sf0.01, giant component ~800, root eccentricity ~36, max weighted
# shortest-path distance 189. Big enough that multi-round convergence,
# frontier bookkeeping, and label contraction run tens of rounds (the
# size-dependent regime the 64-vertex graph can't reach); small enough
# for recursive-CTE DuckDB oracles. Symmetrized up front: the directed
# fold leaves the min root with no out-edges.
# --------------------------------------------------------------------------

def _mid_graph(spark, sf_dir, weighted=False):
    edges = mod_graph_edges(_events(spark, sf_dir), m=MID_M, keep=MID_KEEP)
    sym = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    if weighted:
        sym = sym.withColumn(
            "w", ((F.col("src") + 2 * F.col("dst")) % 9 + 1).cast("double")
        )
    return Graph(sym, symmetric=True, num_partitions=8)


_MID_SYM_SQL = f"""
WITH RECURSIVE base AS ({MID_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
root AS (SELECT MIN(id) AS id FROM v)
"""


def q_cc_mid(spark, sf_dir):
    """Min-id components (Components.C) at mid scale over hundreds of
    components including one giant one, vs a pruned label-reachability
    oracle."""
    return connected_components(_mid_graph(spark, sf_dir), symmetrize=False)


def q_cc_local_mid(spark, sf_dir):
    """Partition-local Arrow contraction CC (cc_contract_local) on the
    mid graph — same min-id fixpoint as cc_mid (shared oracle);
    agreement verifies the contraction/coupling/resolution schedule
    end-to-end, including the stall fallback path on a layout with no
    partition locality."""
    return cc_contract_local(_mid_graph(spark, sf_dir))


CC_MID_SQL = f"""{_MID_SYM_SQL},
r(id, lab) AS (
  SELECT id, id FROM v
  UNION
  SELECT e.dst, r.lab FROM r JOIN e ON e.src = r.id WHERE r.lab < e.dst
)
SELECT id, MIN(lab) AS comp FROM r GROUP BY id
"""


def q_bfs_mid(spark, sf_dir):
    """Unweighted BFS (BFS.C) from the min vertex at mid scale — ~36
    frontier rounds (vs 3-4 on the small fixtures)."""
    g = _mid_graph(spark, sf_dir)
    root = g.vertices.agg(F.min("id")).first()[0]
    return bfs(g, root).select("id", F.col("dist").cast("long").alias("dist"))


BFS_MID_SQL = f"""{_MID_SYM_SQL},
r(id, dist) AS (
  SELECT id, 0 FROM root
  UNION
  SELECT e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.id WHERE r.dist < 64
)
SELECT id, MIN(dist) AS dist FROM r GROUP BY id
"""


def q_bellman_ford_mid(spark, sf_dir):
    """Weighted SSSP (BellmanFord.C) at mid scale, w=(src+2*dst)%9+1
    per directed edge of the symmetrized graph; max shortest-path
    distance 189 → the relaxation runs tens of improvement waves."""
    g = _mid_graph(spark, sf_dir, weighted=True)
    root = g.vertices.agg(F.min("id")).first()[0]
    return bellman_ford(g, root)


# recursion enumerates distinct (vertex, path-sum) pairs; sums are
# integers < 250+9 so the state is ≤ |reachable|×259 — prefix sums of
# any shortest path are ≤ 189, comfortably under the cutoff
BF_MID_SQL = f"""{_MID_SYM_SQL},
w AS (SELECT src, dst, CAST((src + 2 * dst) % 9 + 1 AS DOUBLE) AS wt FROM e),
r(id, dist) AS (
  SELECT id, CAST(0 AS DOUBLE) FROM root
  UNION
  SELECT w.dst, r.dist + w.wt FROM r JOIN w ON w.src = r.id WHERE r.dist < 250
)
SELECT id, MIN(dist) AS dist FROM r GROUP BY id
"""


def q_sssp_delta_mid(spark, sf_dir):
    """Delta-stepping (apps/bucketing/DeltaStepping.C) at mid scale —
    same graph/weights/source as bellman_ford_mid (shared oracle); with
    dist ≤ 189 and delta=24 the bucket scheduler pops ~8 buckets with
    real light-edge reentry inside each."""
    from ligra_spark.operators.buckets import delta_stepping

    g = _mid_graph(spark, sf_dir, weighted=True)
    root = g.vertices.agg(F.min("id")).first()[0]
    return delta_stepping(g, root, delta=24.0)


def q_kcore_mod(spark, sf_dir):
    """K-core decomposition (KCore.C:29-107) on the mod-graph via the
    bucketed (Julienne) scheduler — identical output to the plain peel
    (`algorithms.kcore`, pytest parity-tested), one driver job per
    occupied degree level instead of two per peel sub-round (VERDICT
    r03 item 5). Verified against a DuckDB degeneracy-ordering oracle:
    a single-row recursive CTE peels the minimum-remaining-degree
    vertex per step over a neighbor MAP, accumulating core = running
    max of removal degree — the textbook sequential equivalent of the
    parallel peel."""
    from ligra_spark.operators.buckets import kcore_bucketed

    return kcore_bucketed(_mod_graph(spark, sf_dir))


def q_kcore_bucketed_mod(spark, sf_dir):
    """Work-efficient bucketed k-core (apps/bucketing/KCore.C) on the
    same graph/oracle — agreement verifies the Julienne bucket
    scheduler produces the identical decomposition."""
    from ligra_spark.operators.buckets import kcore_bucketed

    return kcore_bucketed(_mod_graph(spark, sf_dir))


def _kcore_replay_sql(base_sql: str) -> str:
    """Degeneracy-peel replay oracle, parametric in the edge-table SQL:
    a single-row recursive CTE peels WAVES — each step pops the
    minimum-remaining-degree level k (clamped monotone, exactly the
    Julienne bucket pop of bucketing/KCore.C:7-38) and removes EVERY
    vertex whose remaining degree ≤ k with core = k. Peeling is
    confluent, so the wave replay produces the identical decomposition
    as a one-vertex-at-a-time degeneracy order (parity-tested when this
    replaced the per-vertex replay, r04) in O(waves) recursion steps
    instead of O(n) — 0.4s vs 66s on the 3k-vertex mid fixture."""
    return f"""
WITH RECURSIVE base AS ({base_sql}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
nb AS (SELECT src AS id, list(dst) AS ns FROM e GROUP BY src),
nbm AS MATERIALIZED (SELECT map_from_entries(list(struct_pack(k := id, v := ns))) AS m FROM nb),
g(i, k, remaining, done_ids, done_cores) AS (
  SELECT 0, 0, (SELECT list(id ORDER BY id) FROM v),
         CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
  FROM nbm
  UNION ALL
  SELECT g.i + 1,
         lvl.k2,
         list_filter(g.remaining, x -> NOT list_contains(rem.ids, x)),
         list_concat(g.done_ids, rem.ids),
         list_concat(g.done_cores, rem.cores)
  FROM g, nbm,
  LATERAL (
    SELECT GREATEST(g.k, MIN(len(list_intersect(map_extract(nbm.m, r)[1], g.remaining)))) AS k2
    FROM unnest(g.remaining) AS t(r)
  ) lvl,
  LATERAL (
    SELECT list(r ORDER BY r) AS ids,
           list(lvl.k2 ORDER BY r) AS cores
    FROM unnest(g.remaining) AS t(r)
    WHERE len(list_intersect(map_extract(nbm.m, r)[1], g.remaining)) <= lvl.k2
  ) rem
  WHERE len(g.remaining) > 0
),
final AS (SELECT done_ids, done_cores FROM g WHERE len(remaining) = 0)
SELECT unnest(done_ids) AS id, unnest(done_cores) AS core FROM final
"""


KCORE_MOD_SQL = _kcore_replay_sql(MOD_GRAPH_SQL)
KCORE_TYPES_SQL = _kcore_replay_sql(EVENT_TYPE_GRAPH_SQL)
KCORE_MID_SQL = _kcore_replay_sql(MID_GRAPH_SQL)


def q_kcore_mid(spark, sf_dir):
    """Bucketed k-core at mid scale (~3k vertices, hundreds of
    components incl. one giant) — exercises the Julienne bucket jumps
    over a non-trivial degree distribution (VERDICT r03 item 5's mid
    fixture), vs the wave-replay oracle."""
    from ligra_spark.operators.buckets import kcore_bucketed

    return kcore_bucketed(_mid_graph(spark, sf_dir))


def q_bfscc_mod(spark, sf_dir):
    """Components via repeated BFS (BFSCC.C:31-73) on the mod graph.
    Ascending root order makes every component's root its min id, so
    the output equals hash-min CC and a reachability-closure oracle
    verifies it; only the schedule (O(#comps) BFS fixpoints) is the
    BFSCC strategy."""
    from ligra_spark.algorithms import bfs_components

    return bfs_components(_mod_graph(spark, sf_dir))


CC_MOD_SQL = f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
r(x, y) AS (
  SELECT id, id FROM v
  UNION
  SELECT r.x, e.dst FROM r JOIN e ON e.src = r.y
)
SELECT x AS id, MIN(y) AS comp FROM r GROUP BY x
"""


def q_mis_mod(spark, sf_dir):
    """Deterministic id-priority MIS (MIS.C:38-70 analog). The parallel
    priority fixpoint equals the lexicographically-first MIS, which the
    oracle computes by sequential greedy over ascending ids."""
    return maximal_independent_set(_mod_graph(spark, sf_dir))


MIS_MOD_SQL = f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
vl AS (SELECT list(id ORDER BY id) AS ids, COUNT(*) AS n FROM v),
nb AS (SELECT src AS id, list(dst) AS ns FROM e GROUP BY src),
g(i, mis) AS (
  SELECT 0, CAST([] AS BIGINT[]) FROM vl
  UNION ALL
  SELECT g.i + 1,
         CASE WHEN len(list_intersect(nb.ns, g.mis)) = 0
              THEN list_append(g.mis, vl.ids[g.i + 1])
              ELSE g.mis END
  FROM g, vl, nb
  WHERE g.i < vl.n AND nb.id = vl.ids[g.i + 1]
),
final AS (SELECT mis FROM g, vl WHERE g.i = vl.n)
SELECT v.id AS id, list_contains(final.mis, v.id) AS in_set FROM v, final
"""


def q_radii_mod(spark, sf_dir):
    """k-BFS radii with 64-bit visitor masks (Radii.C analog). k=64 >= n
    makes every vertex a source, so the estimate is the exact
    eccentricity and the all-pairs-BFS oracle applies."""
    return radii(_mod_graph(spark, sf_dir), k=64)


RADII_MOD_SQL = f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
r(s, id, dist) AS (
  SELECT id, id, 0 FROM v
  UNION
  SELECT r.s, e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.id WHERE r.dist < 64
),
d AS (SELECT s, id, MIN(dist) AS dd FROM r GROUP BY 1, 2)
SELECT id, CAST(MAX(dd) AS INT) AS radius FROM d GROUP BY id
"""


def q_kbfs_ecc_mod(spark, sf_dir):
    """Exact eccentricity via batched 64-bit multi-BFS
    (apps/eccentricity/kBFS-Exact.C) — on the <= 64-vertex mod graph
    this equals the k=64 radii estimate, so it shares the
    all-pairs-BFS oracle; agreement verifies the batching loop."""
    from ligra_spark.algorithms import kbfs_exact

    return kbfs_exact(_mod_graph(spark, sf_dir))


def _kbfs_sampled(spark, sf_dir, phases):
    from ligra_spark.algorithms import kbfs_sampled_ecc

    # pinned portable sample rank — the identical integer arithmetic
    # the oracle replays (same pattern as RV's pinned sample stream)
    return kbfs_sampled_ecc(
        _mod_graph(spark, sf_dir),
        k=8,
        phases=phases,
        fringe_min_size=0,
        sample_rank=(F.col("id") * 31 + 7) % 101,
    )


def q_kbfs_1phase_ecc_mod(spark, sf_dir):
    """Sampled 1-phase multi-BFS eccentricity
    (apps/eccentricity/kBFS-1Phase-Ecc.C): per-component pinned sample
    of 8 sources, OR-propagate, ecc = last mask-change round. Oracle
    replays max-distance-to-sample over the all-pairs-BFS table."""
    return _kbfs_sampled(spark, sf_dir, phases=1)


def q_kbfs_2phase_ecc_mod(spark, sf_dir):
    """Sampled 2-phase multi-BFS eccentricity
    (apps/eccentricity/kBFS-Ecc.C): phase 1 as kBFS-1Phase, then reseed
    from the 8 highest-ecc fringe vertices (kBFS-Ecc.C:235-260,
    deterministic (ecc DESC, id ASC) tie-break) and keep the max."""
    return _kbfs_sampled(spark, sf_dir, phases=2)


def _kbfs_sampled_sql(phases: int) -> str:
    final = (
        "SELECT id, CAST(e1 AS INT) AS ecc FROM ecc1"
        if phases == 1
        else "SELECT ecc1.id, CAST(GREATEST(e1, e2) AS INT) AS ecc "
        "FROM ecc1 JOIN ecc2 USING (id)"
    )
    return f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
p(s, id, dist) AS (
  SELECT id, id, 0 FROM v
  UNION
  SELECT p.s, e.dst, p.dist + 1 FROM p JOIN e ON e.src = p.id WHERE p.dist < 64
),
d AS MATERIALIZED (SELECT s, id, MIN(dist) AS dd FROM p GROUP BY 1, 2),
comp AS (SELECT id, MIN(s) AS comp FROM d GROUP BY id),
s1 AS (SELECT id FROM (
        SELECT id, ROW_NUMBER() OVER (PARTITION BY comp
               ORDER BY (id * 31 + 7) % 101, id) AS rn FROM comp)
       WHERE rn <= 8),
ecc1 AS (SELECT d.id, MAX(d.dd) AS e1 FROM d JOIN s1 ON d.s = s1.id
         GROUP BY d.id),
fr AS (SELECT id FROM (
        SELECT c.id, ROW_NUMBER() OVER (PARTITION BY c.comp
               ORDER BY ecc1.e1 DESC, c.id) AS rn
        FROM comp c JOIN ecc1 ON c.id = ecc1.id)
       WHERE rn <= 8),
ecc2 AS (SELECT d.id, MAX(d.dd) AS e2 FROM d JOIN fr ON d.s = fr.id
         GROUP BY d.id)
{final}
"""


def q_tk_ecc_mod(spark, sf_dir):
    """Takes-Kosters exact eccentricity via bound refinement (TK.C).
    The selection schedule only affects iteration count — the output
    is always exact — so it shares the all-pairs-BFS oracle with
    radii/kbfs; agreement verifies the bound-refinement loop."""
    from ligra_spark.algorithms import tk_ecc

    return tk_ecc(_mod_graph(spark, sf_dir))


def q_rv_ecc_mod(spark, sf_dir):
    """RV eccentricity estimation (eccentricity/RV.C) with all
    nondeterminism pinned (sample stream, Ngh_s order, guide parents —
    see rv_ecc docstring). The oracle replays the identical pinned
    algorithm relationally over an all-pairs-BFS distance table."""
    from ligra_spark.algorithms import rv_ecc

    return rv_ecc(_mod_graph(spark, sf_dir))


RV_ECC_MOD_SQL = f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
p(s, id, dist) AS (
  SELECT id, id, 0 FROM v
  UNION
  SELECT p.s, e.dst, p.dist + 1 FROM p JOIN e ON e.src = p.id WHERE p.dist < 64
),
d AS MATERIALIZED (SELECT s, id, MIN(dist) AS dd FROM p GROUP BY 1, 2),
comp AS (SELECT id, MIN(s) AS comp FROM d GROUP BY id),
sizes AS (SELECT comp, COUNT(*) AS csz FROM comp GROUP BY comp),
cv AS (SELECT c.id, c.comp, s.csz FROM comp c JOIN sizes s USING (comp)),
small AS (SELECT id, CASE WHEN csz = 1 THEN 0 ELSE 1 END AS radius
          FROM cv WHERE csz <= 2),
big AS (SELECT * FROM cv WHERE csz >= 3),
samp AS MATERIALIZED (SELECT id, comp FROM big
    WHERE (id * 31 + 7) % 101 < ROUND(101.0 * LEAST(csz, 1000,
          GREATEST(10, CAST(FLOOR(SQRT(csz * LOG2(csz))) AS BIGINT))) / csz)
       OR id = comp),
eccs AS (SELECT d.s AS id, MAX(d.dd) AS ecc FROM d JOIN samp ON d.s = samp.id
         GROUP BY d.s),
perv AS (SELECT d.id, MAX(d.dd) AS maxd, MIN(d.dd) AS mind
         FROM d JOIN samp ON d.s = samp.id GROUP BY d.id),
wrank AS (SELECT big.comp, big.id,
                 ROW_NUMBER() OVER (PARTITION BY big.comp
                                    ORDER BY perv.mind DESC, big.id ASC) AS rn
          FROM big JOIN perv ON big.id = perv.id),
wsel AS (SELECT comp, id AS wid FROM wrank WHERE rn = 1),
dw AS MATERIALIZED (SELECT w.comp, w.wid, d.id, d.dd FROM wsel w JOIN d ON d.s = w.wid),
scal AS (SELECT comp, LEAST(csz, GREATEST(10,
              CAST(FLOOR(SQRT(csz * LOG2(csz))) AS BIGINT))) AS ngh
         FROM sizes WHERE csz >= 3),
nrank AS (SELECT comp, id,
                 ROW_NUMBER() OVER (PARTITION BY comp
                                    ORDER BY dd ASC, id ASC) AS rn
          FROM dw),
nsel AS MATERIALIZED (SELECT n.comp, n.id FROM nrank n JOIN scal s ON n.comp = s.comp
         WHERE n.rn <= s.ngh),
eccn AS (SELECT d.s AS id, MAX(d.dd) AS ecc FROM d JOIN nsel ON d.s = nsel.id
         GROUP BY d.s),
eccw AS (SELECT wid AS id, MAX(dd) AS ecc FROM dw GROUP BY wid),
par AS (SELECT a.id AS vv, MIN(e.src) AS parent
        FROM dw a JOIN e ON e.dst = a.id
        JOIN dw b ON b.id = e.src AND b.dd = a.dd - 1
        GROUP BY a.id),
guide(gv, gd) AS (
  SELECT id, id FROM nsel
  UNION
  SELECT p.vv, g.gd FROM par p JOIN guide g ON g.gv = p.parent
  LEFT JOIN nsel n ON n.id = p.vv WHERE n.id IS NULL
),
minr AS (SELECT samp.comp, MIN(eccs.ecc) AS minr
         FROM samp JOIN eccs ON samp.id = eccs.id GROUP BY samp.comp),
exact AS (SELECT id, MIN(ecc) AS radius FROM (
    SELECT id, ecc FROM eccs
    UNION ALL SELECT id, ecc FROM eccw
    UNION ALL SELECT id, ecc FROM eccn) GROUP BY id),
dvtw AS (SELECT n.id AS vt, d.dd AS dvtw
         FROM nsel n JOIN wsel w ON n.comp = w.comp
         JOIN d ON d.s = n.id AND d.id = w.wid),
est AS (
  SELECT b.id,
         GREATEST(GREATEST(perv.maxd, dw.dd),
                  CASE WHEN dvtv.dd <= dvtw.dvtw THEN eccn.ecc
                       ELSE minr.minr END) AS radius
  FROM big b
  LEFT JOIN exact ex ON b.id = ex.id
  JOIN perv ON b.id = perv.id
  JOIN dw ON dw.id = b.id
  JOIN guide g ON g.gv = b.id
  JOIN d dvtv ON dvtv.s = g.gd AND dvtv.id = b.id
  JOIN dvtw ON dvtw.vt = g.gd
  JOIN eccn ON eccn.id = g.gd
  JOIN minr ON minr.comp = b.comp
  WHERE ex.id IS NULL
)
SELECT id, CAST(radius AS INT) AS radius FROM small
UNION ALL SELECT id, CAST(radius AS INT) AS radius FROM exact
UNION ALL SELECT id, CAST(radius AS INT) AS radius FROM est
"""


def q_clrstv_ecc_mod(spark, sf_dir):
    """CLRSTV eccentricity estimation (eccentricity/CLRSTV.C) — the RV
    phase structure with the triangle-inequality lower-bound estimate
    max(d(u,v), ecc(u)-d(u,v)) maximized over S, w, and Ngh_s, same
    pinned sample/order rules as rv_ecc_mod; relational replay oracle
    over the all-pairs distance CTE."""
    from ligra_spark.algorithms import clrstv_ecc

    return clrstv_ecc(_mod_graph(spark, sf_dir))


CLRSTV_ECC_MOD_SQL = f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
p(s, id, dist) AS (
  SELECT id, id, 0 FROM v
  UNION
  SELECT p.s, e.dst, p.dist + 1 FROM p JOIN e ON e.src = p.id WHERE p.dist < 64
),
d AS MATERIALIZED (SELECT s, id, MIN(dist) AS dd FROM p GROUP BY 1, 2),
comp AS (SELECT id, MIN(s) AS comp FROM d GROUP BY id),
sizes AS (SELECT comp, COUNT(*) AS csz FROM comp GROUP BY comp),
cv AS (SELECT c.id, c.comp, s.csz FROM comp c JOIN sizes s USING (comp)),
small AS (SELECT id, CASE WHEN csz = 1 THEN 0 ELSE 1 END AS radius
          FROM cv WHERE csz <= 2),
big AS (SELECT * FROM cv WHERE csz >= 3),
samp AS MATERIALIZED (SELECT id, comp FROM big
    WHERE (id * 31 + 7) % 101 < ROUND(101.0 * LEAST(csz, 1000,
          GREATEST(10, CAST(FLOOR(SQRT(csz * LOG2(csz))) AS BIGINT))) / csz)
       OR id = comp),
eccs AS (SELECT d.s AS id, MAX(d.dd) AS ecc FROM d JOIN samp ON d.s = samp.id
         GROUP BY d.s),
perv AS (SELECT d.id, MIN(d.dd) AS mind
         FROM d JOIN samp ON d.s = samp.id GROUP BY d.id),
wrank AS (SELECT big.comp, big.id,
                 ROW_NUMBER() OVER (PARTITION BY big.comp
                                    ORDER BY perv.mind DESC, big.id ASC) AS rn
          FROM big JOIN perv ON big.id = perv.id),
wsel AS (SELECT comp, id AS wid FROM wrank WHERE rn = 1),
dw AS MATERIALIZED (SELECT w.comp, w.wid, d.id, d.dd
                    FROM wsel w JOIN d ON d.s = w.wid),
scal AS (SELECT comp, LEAST(csz, GREATEST(10,
              CAST(FLOOR(SQRT(csz * LOG2(csz))) AS BIGINT))) AS ngh
         FROM sizes WHERE csz >= 3),
nrank AS (SELECT comp, id,
                 ROW_NUMBER() OVER (PARTITION BY comp
                                    ORDER BY dd ASC, id ASC) AS rn
          FROM dw),
nsel AS MATERIALIZED (SELECT n.comp, n.id FROM nrank n
                      JOIN scal s ON n.comp = s.comp WHERE n.rn <= s.ngh),
eccn AS (SELECT d.s AS id, MAX(d.dd) AS ecc FROM d JOIN nsel ON d.s = nsel.id
         GROUP BY d.s),
eccw AS (SELECT wid AS id, MAX(dd) AS ecc FROM dw GROUP BY wid),
maxest AS (SELECT d.id, MAX(GREATEST(d.dd, eccs.ecc - d.dd)) AS s_est
           FROM d JOIN eccs ON d.s = eccs.id GROUP BY d.id),
west AS (SELECT dw.id, GREATEST(dw.dd, eccw.ecc - dw.dd) AS w_est
         FROM dw JOIN eccw ON dw.wid = eccw.id),
nest AS (SELECT d.id, MAX(GREATEST(d.dd, eccn.ecc - d.dd)) AS n_est
         FROM d JOIN eccn ON d.s = eccn.id GROUP BY d.id),
exact AS (SELECT id, MIN(ecc) AS radius FROM (
    SELECT id, ecc FROM eccs
    UNION ALL SELECT id, ecc FROM eccw
    UNION ALL SELECT id, ecc FROM eccn) GROUP BY id),
est AS (
  SELECT b.id, GREATEST(maxest.s_est, west.w_est, nest.n_est) AS radius
  FROM big b
  LEFT JOIN exact ex ON b.id = ex.id
  JOIN maxest ON b.id = maxest.id
  JOIN west ON b.id = west.id
  JOIN nest ON b.id = nest.id
  WHERE ex.id IS NULL
)
SELECT id, CAST(radius AS INT) AS radius FROM small
UNION ALL SELECT id, CAST(radius AS INT) AS radius FROM exact
UNION ALL SELECT id, CAST(radius AS INT) AS radius FROM est
"""


def q_tri_vertex_mod(spark, sf_dir):
    """Per-vertex incident triangle counts (Triangle.C per-vertex form)
    on the symmetrized mod-graph."""
    return triangles_per_vertex(_mod_graph(spark, sf_dir))


TRI_VERTEX_MOD_SQL = f"""
WITH base AS ({MOD_GRAPH_SQL}),
u AS (SELECT LEAST(src, dst) AS src, GREATEST(src, dst) AS dst FROM base GROUP BY 1, 2),
tri AS (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM u ab JOIN u bc ON ab.dst = bc.src
  JOIN u ac ON ac.src = ab.src AND ac.dst = bc.dst),
corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
v AS (SELECT DISTINCT src AS id FROM (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)))
SELECT v.id AS id, COALESCE(cnt.c, 0) AS triangles
FROM v LEFT JOIN (SELECT id, COUNT(*) AS c FROM corners GROUP BY id) cnt ON v.id = cnt.id
"""


def q_cf_iter1_mod(spark, sf_dir):
    """One batch-GD round of collaborative filtering (CF.C) on the
    weighted mod-graph, symmetrized canonically (min weight per
    undirected pair, replicated in the oracle). With init 0.5 the
    round-1 estimate is the scalar 0.25·K, so every latent component is
    the same closed form — the oracle checks component 0."""
    from ligra_spark.algorithms import cf

    base = mod_graph_edges(_events(spark, sf_dir)).withColumn(
        "w", ((F.col("src") + 2 * F.col("dst")) % 9 + 1).cast("double")
    )
    sym = (
        base.select("src", "dst", "w")
        .unionAll(
            base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    g = Graph(sym, symmetric=True, num_partitions=4)
    out = cf(g, k=20, num_iters=1, step=0.001, lam=0.001, symmetrize=False)
    return out.select("id", F.round(F.col("latent")[0], 9).alias("f0"))


CF_ITER1_MOD_SQL = f"""
WITH base AS (
  SELECT src, dst, CAST((src + 2 * dst) % 9 + 1 AS DOUBLE) AS w
  FROM ({MOD_GRAPH_SQL})),
e AS (
  SELECT src, dst, MIN(w) AS w FROM (
    SELECT src, dst, w FROM base
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM base)
  GROUP BY 1, 2),
v AS (SELECT DISTINCT src AS id FROM e),
grad AS (SELECT dst AS id, SUM(0.5 * (w - 5.0)) AS gsum FROM e GROUP BY dst)
SELECT v.id, ROUND(0.5 + 0.001 * (-0.001 * 0.5 + COALESCE(gsum, 0)), 9) AS f0
FROM v LEFT JOIN grad ON v.id = grad.id
"""


def q_fm_ecc_mod(spark, sf_dir):
    """Flajolet-Martin eccentricity sketch (FM-Ecc.C). Fully
    deterministic given the xxhash64-seeded registers, so the DuckDB
    oracle replays the OR-propagation exactly: init registers are
    precomputed by a pure-Python XXH64 (verified bit-identical to
    Spark's xxhash64) and inlined as literals, then 48 unrolled rounds
    of bit_or group-merges track the last round each vertex's sketch
    changed. pytest additionally asserts the lower-bound + accuracy
    properties vs exact BFS eccentricity."""
    from ligra_spark.algorithms import fm_ecc

    return fm_ecc(_mod_graph(spark, sf_dir), counters=32)


# --- pure-Python XXH64 of one 8-byte little-endian long, seed 42 ---
# bit-identical to Spark's `xxhash64(longCol)` (verified over the full
# 64x32 (id, slot) domain); used to inline FM-Ecc's init registers
# into the DuckDB oracle, since DuckDB has no xxhash64.
_XXM = (1 << 64) - 1
_XXP1, _XXP2, _XXP3, _XXP4, _XXP5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _xxh64_long(value: int, seed: int = 42) -> int:
    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & _XXM

    h = (seed + _XXP5 + 8) & _XXM
    k = rotl((value & _XXM) * _XXP2 & _XXM, 31) * _XXP1 & _XXM
    h ^= k
    h = (rotl(h, 27) * _XXP1 + _XXP4) & _XXM
    h ^= h >> 33
    h = (h * _XXP2) & _XXM
    h ^= h >> 29
    h = (h * _XXP3) & _XXM
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _fm_init_regs(
    n: int = 64, counters: int = 32, seed: int = 42, rank: bool = False
) -> str:
    """VALUES literal of the sketch init registers: lowest set bit of
    abs(xxhash64(id*counters + slot + seed)) (Java abs semantics), or
    its bit POSITION when ``rank`` (the LogLog-Ecc register form)."""
    rows = []
    for i in range(n):
        for s in range(counters):
            h = _xxh64_long(i * counters + s + seed)
            a = h if h >= 0 else (-h if h != -(1 << 63) else h)
            reg = 1 if a == 0 else a & (-a) & _XXM
            if rank:
                reg = reg.bit_length() - 1
            else:
                reg = reg - (1 << 64) if reg >= (1 << 63) else reg
            rows.append(f"({i},{s},{reg})")
    return ",".join(rows)


def _sketch_ecc_unrolled_sql(
    base_sql: str, rounds: int = 48, merge: str = "bit_or"
) -> str:
    """Sketch-eccentricity replay (FM-Ecc / LogLog-Ecc): OR- and
    MAX-propagation are monotone idempotent fixpoints, so the
    frontier-gated Spark schedule and this full-push unrolled replay
    produce identical sketches each round (sketch_r(v) = merge of init
    over vertices within distance r) and identical last-changed
    rounds. Rounds past the fixpoint are exact no-ops, so any
    ``rounds`` >= the true max eccentricity is equivalent."""
    regs = _fm_init_regs(rank=merge != "bit_or")
    agg, comb = (
        ("bit_or", "s.reg | COALESCE(m.msg, 0)")
        if merge == "bit_or"
        else ("max", "GREATEST(s.reg, COALESCE(m.msg, 0))")
    )
    parts = [
        f"""WITH base AS ({base_sql}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
regs AS (SELECT * FROM (VALUES {regs}) t(id, slot, reg)),
s0 AS MATERIALIZED (SELECT v.id, r.slot, CAST(r.reg AS BIGINT) AS reg
                    FROM v JOIN regs r ON v.id = r.id),
ecc0 AS (SELECT id, 0 AS ecc FROM v)"""
    ]
    for i in range(rounds):
        parts.append(f"""
m{i} AS MATERIALIZED (SELECT e.dst AS id, r.slot, {agg}(r.reg) AS msg
        FROM e JOIN s{i} r ON e.src = r.id GROUP BY e.dst, r.slot),
s{i + 1} AS MATERIALIZED (SELECT s.id, s.slot, {comb} AS reg
        FROM s{i} s LEFT JOIN m{i} m ON s.id = m.id AND s.slot = m.slot),
ch{i} AS MATERIALIZED (SELECT DISTINCT a.id FROM s{i} a JOIN s{i + 1} b
        ON a.id = b.id AND a.slot = b.slot WHERE a.reg <> b.reg),
ecc{i + 1} AS MATERIALIZED (SELECT e2.id,
        CASE WHEN c.id IS NOT NULL THEN {i + 1} ELSE e2.ecc END AS ecc
        FROM ecc{i} e2 LEFT JOIN ch{i} c ON e2.id = c.id)""")
    return (
        ",\n".join(parts)
        + f"\nSELECT id, CAST(ecc AS INT) AS ecc FROM ecc{rounds}"
    )


FM_ECC_MOD_SQL = _sketch_ecc_unrolled_sql(MOD_GRAPH_SQL)
LOGLOG_ECC_MOD_SQL = _sketch_ecc_unrolled_sql(MOD_GRAPH_SQL, merge="max")


def q_loglog_ecc_mod(spark, sf_dir):
    """LogLog-Ecc.C variant: rank registers (lowest-set-bit position)
    merged by MAX; shares the replay-oracle generator with fm_ecc."""
    from ligra_spark.algorithms import loglog_ecc

    return loglog_ecc(_mod_graph(spark, sf_dir), counters=32)


def q_setcover_mod(spark, sf_dir):
    """Bucketed (1+eps)-approx set cover (bucketing/SetCover.C) with
    sets = mod-graph sources. Deterministic (min-id claim ties), so a
    DuckDB recursive CTE replays the identical bucket rounds: pop max
    bucket, pack degrees over uncovered elements, threshold, min-id
    claim, win/cover, rebucket by pre-claim packed degree."""
    from ligra_spark.algorithms import set_cover

    # mod_graph_edges is already .distinct() — skip the dedupe shuffle
    return set_cover(_mod_graph(spark, sf_dir), assume_distinct=True)


# The SetCover replay oracle computes each per-round quantity (current
# bucket, uncovered elements, packed degrees, claims, winners) exactly
# ONCE via a chain of LATERAL subqueries in the recursive member —
# the earlier monolithic inlined-expression form re-evaluated the
# whole chain at every mention (no CSE across lambda bodies), costing
# ~10s/round; the LATERAL chain runs the identical semantics in
# milliseconds. Semantics mirror set_cover() line for line
# (SetCover.C:40-89): eps = 0.01, x = 1/ln(1.01).
SETCOVER_MOD_SQL = f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
nb AS (SELECT src AS id, list(dst) AS ns, COUNT(*) AS d FROM base GROUP BY src),
rb AS (SELECT dst AS id, list(src) AS ss FROM base GROUP BY dst),
nbm AS MATERIALIZED (SELECT map_from_entries(list(struct_pack(k := id, v := ns))) AS m FROM nb),
rbm AS MATERIALIZED (SELECT map_from_entries(list(struct_pack(k := id, v := ss))) AS m FROM rb),
elml AS MATERIALIZED (SELECT list(DISTINCT dst) AS es FROM base),
x AS (SELECT 1.0 / ln(1.01) AS x),
init AS (
  SELECT list(struct_pack(id := id,
                          bkt := CAST(floor(x.x * ln(CAST(d AS DOUBLE))) AS BIGINT))) AS sets
  FROM nb, x),
g(i, sets, covered, cover) AS (
  SELECT 0, init.sets, CAST([] AS BIGINT[]), CAST([] AS BIGINT[]) FROM init
  UNION ALL
  -- each LATERAL level re-projects its whole context under ONE alias:
  -- DuckDB 1.0 binds a lambda's outer references only when the
  -- referenced table also appears in the lambda's list argument, so
  -- every lambda here reads exclusively from the previous level
  SELECT g.i + 1,
         l7.keep || l7.reb,
         g.covered || l7.newcov,
         g.cover || l7.won
  FROM g, nbm, rbm, elml,
  LATERAL (SELECT g.sets AS sets, g.covered AS covered, elml.es AS es,
                  nbm.m AS nm, rbm.m AS rm,
                  list_max(list_transform(g.sets, cb -> cb.bkt)) AS cur) l1,
  LATERAL (SELECT l1.sets AS sets, l1.nm AS nm, l1.rm AS rm, l1.cur AS cur,
                  list_filter(l1.es, ue -> NOT list_contains(l1.covered, ue)) AS uncv) l2,
  LATERAL (SELECT l2.rm AS rm, l2.cur AS cur, l2.uncv AS uncv,
                  list_filter(l2.sets, kp -> kp.bkt IS NOT NULL AND kp.bkt <> l2.cur) AS keep,
                  list_transform(
                    list_filter(l2.sets, af -> af.bkt = l2.cur),
                    dg -> struct_pack(id := dg.id,
                            d := len(list_intersect(map_extract(l2.nm, dg.id)[1], l2.uncv)))) AS degs) l3,
  LATERAL (SELECT l3.rm AS rm, l3.cur AS cur, l3.uncv AS uncv, l3.keep AS keep, l3.degs AS degs,
                  list_transform(
                    list_filter(l3.degs, sf -> sf.d >= CAST(ceil(pow(1.01, l3.cur)) AS BIGINT)),
                    sg -> sg.id) AS still) l4,
  -- cs[i] = min-id claimant of uncv[i] (NULL = unclaimed); kept as a
  -- parallel list because DuckDB 1.0 mis-binds struct_pack over a
  -- lambda with multiple correlated captures — zip by index instead
  LATERAL (SELECT l4.cur AS cur, l4.keep AS keep, l4.degs AS degs,
                  l4.still AS still, l4.uncv AS uncv,
                  list_transform(l4.uncv, cu ->
                    list_min(list_intersect(map_extract(l4.rm, cu)[1], l4.still))) AS cs) l5,
  LATERAL (SELECT l5.keep AS keep, l5.degs AS degs, l5.uncv AS uncv, l5.cs AS cs,
                  list_filter(l5.still, wv ->
                    len(list_filter(l5.cs, c2 -> c2 = wv))
                      >= GREATEST(CAST(ceil(pow(1.01, l5.cur - 1)) AS BIGINT), 1)) AS won) l6,
  LATERAL (SELECT l6.keep AS keep, l6.won AS won,
                  list_transform(
                    list_filter(list_zip(l6.uncv, l6.cs),
                                z -> z[2] IS NOT NULL AND list_contains(l6.won, z[2])),
                    z2 -> z2[1]) AS newcov,
                  list_transform(
                    list_filter(l6.degs, ra -> NOT list_contains(l6.won, ra.id) AND ra.d > 0),
                    rb2 -> struct_pack(id := rb2.id,
                             bkt := CAST(floor((1.0 / ln(1.01)) * ln(CAST(rb2.d AS DOUBLE))) AS BIGINT))) AS reb) l7
  WHERE l1.cur IS NOT NULL
),
final AS (SELECT cover FROM g ORDER BY i DESC LIMIT 1)
SELECT DISTINCT unnest(cover) AS set_id FROM final
"""


def q_ppr_acl_mod(spark, sf_dir):
    """ACL personalized-PageRank push (localAlg/ACL-Sync-Local-Opt.C)
    from the min vertex of the symmetrized mod-graph; sparse local
    state. The synchronous whole-frontier push schedule is
    deterministic, so a DuckDB oracle replays it round for round."""
    from ligra_spark.algorithms import ppr_acl

    g = _mod_graph(spark, sf_dir).symmetrized()
    root = g.vertices.agg(F.min("id")).first()[0]
    return ppr_acl(g, root, alpha=0.15, eps=1e-6).select(
        "id", F.round("p", 9).alias("p")
    )


def _ppr_unrolled_sql(base_sql: str, rounds: int = 80, eps: str = "1e-6") -> str:
    """ACL-push replay as UNROLLED per-round CTEs (frontier → grouped
    push → state merge). A recursive-CTE formulation hits a DuckDB 1.0
    wrong-results bug (map_extract inside nested lambdas inside the
    recursive member evaluates against stale rows), so the loop is
    unrolled instead: once the frontier empties a round is an exact
    no-op, so any ``rounds`` ≥ the true iteration count is equivalent
    (the mod-graph fixpoint needs ~28 at sf0.01). CTEs are
    MATERIALIZED — inlining would re-expand each round's 3 references
    to the previous state exponentially and reopen the parquet scan
    hundreds of times. Constants are written as CAST-to-DOUBLE
    expressions so both engines perform identical IEEE arithmetic
    (bare decimals are DECIMAL-typed in DuckDB)."""
    push = "(CAST(0.85 AS DOUBLE) / CAST(1.15 AS DOUBLE))"
    keep = "(CAST(0.3 AS DOUBLE) / CAST(1.15 AS DOUBLE))"
    parts = [
        f"""WITH base AS ({base_sql}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS d
                     FROM e GROUP BY src),
s0 AS (SELECT MIN(src) AS id, CAST(0 AS DOUBLE) AS p, CAST(1 AS DOUBLE) AS r
       FROM e)"""
    ]
    for i in range(rounds):
        parts.append(f"""
f{i} AS MATERIALIZED (SELECT s.id, s.r, d.d FROM s{i} s JOIN deg d USING (id)
         WHERE s.r > d.d * {eps}),
m{i} AS MATERIALIZED (SELECT e.dst AS id, SUM({push} * f.r / f.d) AS msg
         FROM f{i} f JOIN e ON e.src = f.id GROUP BY e.dst),
s{i + 1} AS MATERIALIZED (SELECT COALESCE(s.id, m.id) AS id,
           COALESCE(s.p, CAST(0 AS DOUBLE))
             + CASE WHEN f.id IS NOT NULL THEN {keep} * s.r
                    ELSE CAST(0 AS DOUBLE) END AS p,
           CASE WHEN f.id IS NOT NULL THEN CAST(0 AS DOUBLE)
                ELSE COALESCE(s.r, CAST(0 AS DOUBLE)) END
             + COALESCE(m.msg, CAST(0 AS DOUBLE)) AS r
           FROM s{i} s FULL OUTER JOIN m{i} m ON s.id = m.id
           LEFT JOIN f{i} f ON COALESCE(s.id, m.id) = f.id)""")
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(p, 9) AS p FROM s{rounds} WHERE p > 0"
    )


PPR_ACL_MOD_SQL = _ppr_unrolled_sql(MOD_GRAPH_SQL)


def q_nibble_mod(spark, sf_dir):
    """Spielman-Teng Nibble truncated lazy walk
    (localAlg/Nibble-Parallel.C) from the min vertex of the
    symmetrized mod-graph, capped at 12 rounds; the DuckDB oracle
    unrolls the identical 12 rounds."""
    from ligra_spark.algorithms import nibble

    g = _mod_graph(spark, sf_dir).symmetrized()
    root = g.vertices.agg(F.min("id")).first()[0]
    return nibble(g, root, eps=1e-3, max_iters=12).select(
        "id", F.round("p", 9).alias("p")
    )


def _nibble_unrolled_sql(
    base_sql: str, rounds: int = 12, eps: str = "1e-3"
) -> str:
    """Nibble replay: each round the frontier (p >= deg·eps) keeps p/2
    and spreads p/(2·deg); sub-threshold mass truncates (fresh table).
    Because a round REBUILDS the state from the frontier alone, the
    Spark loop's break-on-empty-frontier is replicated with an
    EXISTS guard per round (an unguarded empty round would wrongly
    truncate everything instead of keeping the prior state)."""
    parts = [
        f"""WITH base AS ({base_sql}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS d
                     FROM e GROUP BY src),
s0 AS (SELECT MIN(src) AS id, CAST(1 AS DOUBLE) AS p FROM e)"""
    ]
    for i in range(rounds):
        parts.append(f"""
f{i} AS MATERIALIZED (SELECT s.id, s.p, d.d FROM s{i} s JOIN deg d USING (id)
         WHERE s.p >= d.d * {eps}),
m{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(f.p / (CAST(2 AS DOUBLE) * f.d)) AS msg
         FROM f{i} f JOIN e ON e.src = f.id GROUP BY e.dst),
s{i + 1} AS MATERIALIZED (
  SELECT COALESCE(f.id, m.id) AS id,
         COALESCE(f.p / CAST(2 AS DOUBLE), CAST(0 AS DOUBLE))
           + COALESCE(m.msg, CAST(0 AS DOUBLE)) AS p
  FROM f{i} f FULL OUTER JOIN m{i} m ON f.id = m.id
  WHERE EXISTS (SELECT 1 FROM f{i})
  UNION ALL
  SELECT id, p FROM s{i} WHERE NOT EXISTS (SELECT 1 FROM f{i}))""")
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(p, 9) AS p FROM s{rounds}"
    )


NIBBLE_MOD_SQL = _nibble_unrolled_sql(MOD_GRAPH_SQL)


def q_simple_ecc_mod(spark, sf_dir):
    """Simple-Approx eccentricity (Simple-Approx-Ecc.C): one BFS per
    component from its min vertex, depth assigned to every member."""
    from ligra_spark.algorithms import simple_approx_ecc

    return simple_approx_ecc(_mod_graph(spark, sf_dir))


SIMPLE_ECC_MOD_SQL = f"""
WITH RECURSIVE base AS ({MOD_GRAPH_SQL}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
v AS (SELECT DISTINCT src AS id FROM e),
rc(x, y) AS (
  SELECT id, id FROM v
  UNION
  SELECT rc.x, e.dst FROM rc JOIN e ON e.src = rc.y
),
comp AS (SELECT x AS id, MIN(y) AS comp FROM rc GROUP BY x),
r(root, id, dist) AS (
  SELECT comp, comp, 0 FROM (SELECT DISTINCT comp FROM comp)
  UNION
  SELECT r.root, e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.id
  WHERE r.dist < 200
),
d AS (SELECT id, MIN(dist) AS dist FROM r GROUP BY id),
depth AS (SELECT c.comp, MAX(d.dist) AS depth
          FROM comp c JOIN d ON d.id = c.id GROUP BY c.comp)
SELECT c.id, CAST(depth.depth AS INT) AS ecc
FROM comp c JOIN depth ON depth.comp = c.comp
"""


def q_heat_kernel_mod(spark, sf_dir):
    """hk-relax heat-kernel diffusion (localAlg/HeatKernel-Parallel.C)
    from the min vertex of the symmetrized mod-graph, N=4 Taylor
    terms; the DuckDB oracle unrolls the identical rounds with the
    psis thresholds inlined as repr'd doubles."""
    from ligra_spark.algorithms import heat_kernel

    g = _mod_graph(spark, sf_dir).symmetrized()
    root = g.vertices.agg(F.min("id")).first()[0]
    return heat_kernel(g, root, t=3.0, eps=1e-9, N=4).select(
        "id", F.round("x", 9).alias("x")
    )


def _heat_kernel_unrolled_sql(
    base_sql: str, t: float = 3.0, eps: float = 1e-9, N: int = 4
) -> str:
    """Unrolled hk-relax replay. Residuals are REPLACED each round
    (non-frontier mass truncates), so empty-frontier rounds cascade to
    empty and x stops changing — no guards needed. Taylor factors are
    written as the same IEEE division the Python side performs;
    thresholds constant/psis[j] are precomputed in Python and inlined
    via repr round-trip (identical doubles)."""
    import math as _m

    fact = [1.0] * N
    for k in range(1, N):
        fact[k] = k * fact[k - 1]
    psis = [
        sum(fact[k] * t ** m / fact[m + k] for m in range(N - k))
        for k in range(N)
    ]
    constant = _m.exp(t) * eps / (2.0 * N)
    parts = [
        f"""WITH base AS ({base_sql}),
e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS d
                     FROM e GROUP BY src),
x0 AS (SELECT MIN(src) AS id, CAST(0 AS DOUBLE) AS x FROM e),
r0 AS (SELECT MIN(src) AS id, CAST(1 AS DOUBLE) AS r FROM e),
f0 AS (SELECT r.id, r.r, d.d FROM r0 r JOIN deg d USING (id) WHERE d.d > 0)"""
    ]
    for j in range(N):
        last = j + 1 == N
        factor = (
            "CAST(1 AS DOUBLE)"
            if last
            else f"(CAST({t!r} AS DOUBLE) / CAST({j + 1} AS DOUBLE))"
        )
        parts.append(f"""
xa{j} AS MATERIALIZED (
  SELECT COALESCE(x.id, f.id) AS id,
         COALESCE(x.x, CAST(0 AS DOUBLE)) + COALESCE(f.r, CAST(0 AS DOUBLE)) AS x
  FROM x{j} x FULL OUTER JOIN f{j} f ON x.id = f.id),
m{j} AS MATERIALIZED (
  SELECT e.dst AS id, SUM({factor} * f.r / f.d) AS msg
  FROM f{j} f JOIN e ON e.src = f.id GROUP BY e.dst)""")
        if last:
            parts.append(f"""
x{j + 1} AS MATERIALIZED (
  SELECT COALESCE(x.id, m.id) AS id,
         COALESCE(x.x, CAST(0 AS DOUBLE)) + COALESCE(m.msg, CAST(0 AS DOUBLE)) AS x
  FROM xa{j} x FULL OUTER JOIN m{j} m ON x.id = m.id)""")
        else:
            th = repr(constant / psis[j + 1])
            parts.append(f"""
x{j + 1} AS MATERIALIZED (SELECT * FROM xa{j}),
r{j + 1} AS MATERIALIZED (SELECT id, msg AS r FROM m{j}),
f{j + 1} AS MATERIALIZED (
  SELECT r.id, r.r, d.d FROM r{j + 1} r JOIN deg d USING (id)
  WHERE d.d > 0 AND r.r >= d.d * CAST('{th}' AS DOUBLE))""")
    return (
        ",\n".join(parts)
        + f"\nSELECT id, ROUND(x, 9) AS x FROM x{N}"
    )


HEAT_KERNEL_MOD_SQL = _heat_kernel_unrolled_sql(MOD_GRAPH_SQL)


def q_heat_kernel_rand_mod(spark, sf_dir):
    """rand-HK-PR Monte-Carlo heat-kernel estimate
    (localAlg/HeatKernel-Randomized-Parallel.C) from the min vertex of
    the symmetrized mod-graph, 256 pinned walks (seed 1; the reference
    seeds with time(NULL) — see heat_kernel_rand_walk_params for the
    pinned-stream contract). n_walks = 2^8 makes every estimate an
    exact binary fraction, so the value hash needs no rounding."""
    from ligra_spark.algorithms import heat_kernel_rand

    g = _mod_graph(spark, sf_dir).symmetrized()
    root = g.vertices.agg(F.min("id")).first()[0]
    return heat_kernel_rand(g, root, t=3.0, K=10, n_walks=256, seed=1)


def _heat_kernel_rand_sql(
    base_sql: str, t: float = 3.0, K: int = 10, n_walks: int = 256, seed: int = 1
) -> str:
    """Recursive replay of the pinned walks: the per-walk (step-hash,
    n-steps) stream is precomputed by the SAME Python code the engine
    uses (the radii XXH64-register precedent) and embedded as literals;
    the CTE then advances every walk one neighbor-table join per step —
    neighbor order pinned to ascending dst, endpoint = deepest row per
    walk (covers the walker-at-a-sink stay-put rule)."""
    from ligra_spark.algorithms.local import heat_kernel_rand_walk_params

    triples = heat_kernel_rand_walk_params(t=t, K=K, n_walks=n_walks, seed=seed)
    values = ", ".join(f"({w}, {h}, {s})" for w, h, s in triples)
    return f"""
WITH RECURSIVE base AS ({base_sql}),
e AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base)),
deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
adj AS (SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
        FROM e),
walkers(walk, h, steps) AS (VALUES {values}),
root AS (SELECT MIN(src) AS id FROM e),
wk(walk, j, x) AS (
  SELECT walk, 0, (SELECT id FROM root) FROM walkers
  UNION ALL
  SELECT wk.walk, wk.j + 1, adj.dst
  FROM wk
  JOIN walkers w ON w.walk = wk.walk
  JOIN deg ON deg.src = wk.x
  JOIN adj ON adj.src = wk.x AND adj.rnk = w.h % deg.d
  WHERE wk.j < w.steps
),
ends AS (SELECT walk, MAX(j) AS j FROM wk GROUP BY walk)
SELECT wk.x AS id, CAST(COUNT(*) AS DOUBLE) / {n_walks} AS est
FROM wk JOIN ends ON ends.walk = wk.walk AND ends.j = wk.j
GROUP BY wk.x
"""


HEAT_KERNEL_RAND_MOD_SQL = _heat_kernel_rand_sql(MOD_GRAPH_SQL)


def q_pagerank_delta_iter1_events(spark, sf_dir):
    """One PageRankDelta round == one plain power-iteration round (the
    PageRankDelta.C:47-85 first-round special case), so it shares the
    closed-form iter-1 oracle."""
    g = _events_graph(spark, sf_dir)
    return pagerank_delta(g, max_iters=1).select(
        "id", _round_rank(F.col("rank")).alias("rank")
    )


def q_pagerank_csr_iter1_events(spark, sf_dir):
    """One PageRank round on the same closed-form oracle as
    ``pagerank_iter1_events``. Its Arrow CSR gather was deleted once no
    dispatch reached it (29,932 edges: 1.9x slower than ``edge_map``;
    3.9M edges: slower than the local kernel, BENCH.md); the twin stays
    so ``queries()`` keeps all 79 names."""
    g = _events_graph(spark, sf_dir)
    return pagerank(g, max_iters=1).select(
        "id", _round_rank(F.col("rank")).alias("rank")
    )


# --------------------------------------------------------------------------
# documents: text analysis + dedup
# --------------------------------------------------------------------------

def q_dedup_exact_docs(spark, sf_dir):
    return dedup_exact(_docs(spark, sf_dir))


DEDUP_EXACT_SQL = f"""
SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
FROM documents GROUP BY {_NORM}
"""


def q_fingerprint_docs(spark, sf_dir):
    return doc_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


FINGERPRINT_SQL = f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents"


def q_token_count_docs(spark, sf_dir):
    return token_count(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_tokens_bpe"
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe
FROM documents
"""

_STOPWORDS_SQL = "('the','and','of','to','is','in','that','with','a','an','for','on','it')"

def q_text_quality_docs(spark, sf_dir):
    return text_quality(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "mean_word_len", "stopword_ratio"
    )


TEXT_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       ROUND((length(text) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE), 6)
         AS mean_word_len,
       ROUND(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL}))
             / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio
FROM t
"""


def q_lang_id_docs(spark, sf_dir):
    return lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_guess")


_MARKER_SQL = {
    "de": "('der','die','das','und','ist','ein','nicht','mit')",
    "en": "('the','and','of','to','is','in','that','with')",
    "es": "('el','la','de','que','y','los','las','una')",
    "fr": "('le','la','les','des','et','est','une','que')",
}
LANG_ID_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id,
  len(list_filter(toks, x -> x IN {_MARKER_SQL['de']})) AS s_de,
  len(list_filter(toks, x -> x IN {_MARKER_SQL['en']})) AS s_en,
  len(list_filter(toks, x -> x IN {_MARKER_SQL['es']})) AS s_es,
  len(list_filter(toks, x -> x IN {_MARKER_SQL['fr']})) AS s_fr
  FROM t)
SELECT doc_id,
  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_guess
FROM s
"""

_SHINGLES_SQL = f"""
toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 3
                  THEN list_transform(generate_series(1, len(t) - 2),
                                      i -> array_to_string(t[i:i+2], ' '))
                  ELSE [] END) AS shingle
    FROM toks))
"""


def q_jaccard_pairs_docs(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2)


JACCARD_PAIRS_SQL = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(c / CAST(sa.sz + sb.sz - c AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE c / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.2
"""


def q_minhash_sig_docs(spark, sf_dir):
    return minhash_signatures(_docs(spark, sf_dir), k=16).select(
        "id", F.col("slot").cast("long").alias("slot"), "mh"
    )


MINHASH_SIG_SQL = f"""
WITH {_SHINGLES_SQL},
hashes AS (
  SELECT sh.id, s.slot, md5(CAST(s.slot AS VARCHAR) || ':' || sh.shingle) AS h
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS slot) s)
SELECT id, CAST(slot AS BIGINT) AS slot, MIN(h) AS mh
FROM hashes GROUP BY 1, 2
"""


def q_minhash_lsh_docs(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir), k=16, bands=4)


_MINHASH_BANDS_SQL = f"""
WITH {_SHINGLES_SQL},
hashes AS (
  SELECT sh.id, s.slot, md5(CAST(s.slot AS VARCHAR) || ':' || sh.shingle) AS h
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS slot) s),
sig AS (SELECT id, slot, MIN(h) AS mh FROM hashes GROUP BY 1, 2),
bsig AS (
  SELECT id, CAST(slot // 4 AS INT) AS band,
         string_agg(mh, '|' ORDER BY slot) AS bs
  FROM sig GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bsig a JOIN bsig b ON a.band = b.band AND a.bs = b.bs AND a.id < b.id)
"""

MINHASH_LSH_SQL = _MINHASH_BANDS_SQL + "SELECT id_a, id_b FROM cand"


def q_lsh_jaccard_docs(spark, sf_dir):
    """Composed scale-path dedup: MinHash-LSH candidates → exact Jaccard
    verify (the shingle self-join never runs outside the candidate
    set)."""
    return minhash_lsh_jaccard(_docs(spark, sf_dir), threshold=0.2, k=16, bands=4)


LSH_JACCARD_SQL = _MINHASH_BANDS_SQL + """,
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT cand.id_a, cand.id_b,
       ROUND(c / CAST(sa.sz + sb.sz - c AS DOUBLE), 6) AS jaccard
FROM cand JOIN common ON cand.id_a = common.id_a AND cand.id_b = common.id_b
JOIN sizes sa ON sa.id = cand.id_a
JOIN sizes sb ON sb.id = cand.id_b
WHERE c / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.2
"""


def q_dedup_clusters_docs(spark, sf_dir):
    """End-to-end near-dup clustering — the full training-data dedup
    pipeline as one composed op: LSH candidates → exact-Jaccard verify
    → connected components over the verified pair graph → canonical
    representative per cluster."""
    return dedup_clusters(_docs(spark, sf_dir), threshold=0.2, k=16, bands=4)


# CC over the LSH-verified pair graph via reachability closure (same
# oracle pattern as BFSCC): every vertex reaches itself; propagate
# reachable labels along undirected pair edges; cluster = min label.
DEDUP_CLUSTERS_SQL = _MINHASH_BANDS_SQL.replace(
    "WITH ", "WITH RECURSIVE ", 1
) + """,
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2),
pairs AS (
  SELECT cand.id_a, cand.id_b
  FROM cand JOIN common ON cand.id_a = common.id_a AND cand.id_b = common.id_b
  JOIN sizes sa ON sa.id = cand.id_a
  JOIN sizes sb ON sb.id = cand.id_b
  WHERE c / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.2),
uedges AS (SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM uedges)
  UNION
  SELECT e.u, reach.r FROM uedges e JOIN reach ON reach.id = e.v),
comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
SELECT d.doc_id, COALESCE(comp.cluster, d.doc_id) AS cluster,
       d.doc_id = COALESCE(comp.cluster, d.doc_id) AS keep
FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
"""


def q_simhash_docs(spark, sf_dir):
    return simhash(_docs(spark, sf_dir))


_SIMHASH_SIG_SQL = """
WITH t AS (SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
v AS (SELECT doc_id, bit,
             SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit) bits
      GROUP BY 1, 2),
sig AS (
  SELECT doc_id AS id,
         CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit)
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM v GROUP BY doc_id)
"""

SIMHASH_SQL = _SIMHASH_SIG_SQL + "SELECT id, simhash FROM sig"


def q_simhash_pairs_docs(spark, sf_dir):
    """SimHash near-dup pairs via the complete banded Hamming join
    (6 bands of 10 bits ⊃ all pairs at Hamming ≤ 5), verified against a
    brute-force bit_count oracle."""
    return simhash_dup_pairs(_docs(spark, sf_dir), max_hamming=5, bands=6)


SIMHASH_PAIRS_SQL = _SIMHASH_SIG_SQL + """
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
"""


# --------------------------------------------------------------------------
# multimodal plumbing over a media table derived from documents
# (payload = UTF-8 text bytes; kind/duration from deterministic rules)
# --------------------------------------------------------------------------

def _media_from_docs(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("application/x-fake-video").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        ((F.col("doc_id") % 50) * 100 + 500).cast("long").alias("duration_ms"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def q_media_bytes_docs(spark, sf_dir):
    """Runs the full Arrow-batched mapInPandas media pipeline
    (multimodal.extract_features with the documented fake decoder) and
    emits the oracle-checkable part: per-media payload byte counts. The
    decode itself is a stub (no media libs in this container); the
    batch plumbing, schema, and byte accounting are real."""
    from ligra_spark.functions.multimodal import extract_features

    feats = extract_features(_media_from_docs(spark, sf_dir))
    return feats.select("media_id", "n_bytes")


MEDIA_BYTES_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


def q_frame_sample_docs(spark, sf_dir):
    """Video frame-sampling plan (JVM-side sequence explode over the
    duration metadata) — one row per (media, frame timestamp)."""
    from ligra_spark.functions.multimodal import sample_frames

    return sample_frames(_media_from_docs(spark, sf_dir), every_ms=200)


FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       unnest(generate_series(0, (doc_id % 50) * 100 + 500 - 1, 200)) AS frame_ts_ms
FROM documents
"""


# --------------------------------------------------------------------------
# embeddings: similarity search
# --------------------------------------------------------------------------

def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.orderBy("vec_id").limit(20)
    res = cosine_topk(emb, queries, k=5)
    return res.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id"
    )


ANN_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings ORDER BY vec_id LIMIT 20),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, c.embedding) AS sim
  FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.query_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
FROM r WHERE rnk <= 5
"""


def q_ann_topk_kernel(spark, sf_dir):
    """Same exact semantics as ann_topk, computed by the Arrow/numpy
    matmul kernel — shares ann_topk's oracle, so the driver verifies the
    kernel against DuckDB value-for-value."""
    emb = _emb(spark, sf_dir)
    queries = emb.orderBy("vec_id").limit(20)
    res = cosine_topk_kernel(emb, queries, k=5)
    return res.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id"
    )


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k over the embeddings: deterministic Lloyd
    coarse quantizer (centroids from the smallest-id vectors, rounded
    6dp in-engine each step so both engines compute assignments from
    identical literals), nprobe nearest cells per query via EXPLODE +
    equi-join (never a theta-join), exact cosine within probed cells.
    The oracle replays the identical quantizer + probe in SQL."""
    from ligra_spark.functions.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    queries = emb.orderBy("vec_id").limit(20)
    return ivf_topk(emb, queries, k=5).select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id"
    )


def _ivf_sql(n_cells=8, nprobe=2, iters=2, k=5, dim=64, nq=20):
    parts = [f"""WITH emb AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
cent0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(v, x -> ROUND(x, 6)) AS cv
  FROM (SELECT * FROM emb ORDER BY vec_id LIMIT {n_cells}))"""]
    for t in range(iters):
        parts.append(f"""
a{t} AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.cv), c.cell) AS rn
    FROM emb e CROSS JOIN cent{t} c) WHERE rn = 1),
cent{t + 1} AS MATERIALIZED (
  SELECT cell, list(m ORDER BY pos) AS cv FROM (
    SELECT a.cell, gs.pos, ROUND(AVG(a.v[gs.pos]), 6) AS m
    FROM a{t} a CROSS JOIN generate_series(1, {dim}) gs(pos)
    GROUP BY a.cell, gs.pos) GROUP BY cell
  UNION ALL
  SELECT c.cell, c.cv FROM cent{t} c
  WHERE c.cell NOT IN (SELECT DISTINCT cell FROM a{t}))""")
    C = f"cent{iters}"
    parts.append(f"""
af AS MATERIALIZED (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.cv), c.cell) AS rn
    FROM emb e CROSS JOIN {C} c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb ORDER BY vec_id LIMIT {nq}),
probe AS MATERIALIZED (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY list_distance(q.qv, c.cv), c.cell) AS rn
    FROM q CROSS JOIN {C} c) WHERE rn <= {nprobe}),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, a.v) AS sim
  FROM probe p JOIN af a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM scored)""")
    return (",\n".join(parts)
            + f"\nSELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM r WHERE rnk <= {k}")



IVF_TOPK_SQL = _ivf_sql()


def q_embedding_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs via the sign-LSH bucketed scale
    path (4 tables × 4 hyperplanes, exact cosine rescoring within
    buckets only — never the all-pairs theta-join). The oracle replays
    the identical bucketing (hyperplane constants inlined into the SQL),
    so the driver verifies candidate generation AND rescoring
    value-for-value. Threshold 0.4 makes the check non-vacuous on the
    testdata embeddings (~30 surviving pairs at sf0.01)."""
    return embedding_dup_pairs(
        _emb(spark, sf_dir), threshold=0.4, planes=4, tables=4,
        method="lsh", dim=64,
    )


def _embedding_dups_lsh_sql(
    threshold: float = 0.4, planes: int = 4, tables: int = 4, dim: int = 64
) -> str:
    from ligra_spark.functions.similarity import _hyperplane

    table_selects = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            arr = "[" + ", ".join(repr(v) for v in _hyperplane(dim, t * planes + p)) + "]"
            bits.append(
                f"(CASE WHEN list_inner_product(ev, {arr}) >= 0 "
                f"THEN {1 << p} ELSE 0 END)"
            )
        table_selects.append(
            f"SELECT {t} AS t, vec_id AS id, ev, "
            + " + ".join(bits)
            + " AS bucket FROM e"
        )
    buckets = "\nUNION ALL\n".join(table_selects)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
kb AS ({buckets}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kb a JOIN kb b ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id)
SELECT id_a, id_b
FROM cand
JOIN e ea ON ea.vec_id = cand.id_a
JOIN e eb ON eb.vec_id = cand.id_b
WHERE list_cosine_similarity(ea.ev, eb.ev) >= {threshold}
"""


EMBEDDING_DUPS_SQL = _embedding_dups_lsh_sql()


def q_lsh_topk(spark, sf_dir):
    """Multi-probe sign-LSH approximate top-k (planes=6, nprobe=3: own
    bucket + the two closest-margin bit flips). The oracle replays the
    identical bucketing AND probe selection (hyperplane constants
    inlined, margins rounded 9dp with plane-index tie-break), so the
    driver verifies the approximate path value-for-value — recall
    relative to exact top-k is asserted separately in pytest."""
    emb = _emb(spark, sf_dir)
    queries = emb.orderBy("vec_id").limit(20)
    res = lsh_bucket_topk(emb, queries, k=5, planes=6, nprobe=3, dim=64)
    return res.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id"
    )


def _lsh_topk_sql(k: int = 5, planes: int = 6, dim: int = 64, nprobe: int = 3) -> str:
    from ligra_spark.functions.similarity import _hyperplane

    ips = []
    for p in range(planes):
        arr = "[" + ", ".join(repr(v) for v in _hyperplane(dim, p)) + "]"
        ips.append(f"list_inner_product(ev, {arr})")
    bucket = " + ".join(
        f"(CASE WHEN {ip} >= 0 THEN {1 << p} ELSE 0 END)"
        for p, ip in enumerate(ips)
    )
    # margin structs: {'m': round(|dot|, 9), 'p': plane} — list_sort
    # orders lexicographically by field order = (margin, plane), the
    # same deterministic probe order the Spark side uses
    margins = ", ".join(
        "{'m': ROUND(ABS(" + ip + "), 9), 'p': " + str(p) + "}"
        for p, ip in enumerate(ips)
    )
    prefix = """
WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
                        FROM embeddings),
b AS MATERIALIZED (SELECT vec_id, ev, __BUCKET__ AS bucket FROM e),
q AS (SELECT vec_id AS query_id, ev AS qv, bucket,
             list_sort([__MARGINS__]) AS mg
      FROM b ORDER BY vec_id LIMIT 20),
probes AS (
  SELECT query_id, qv,
         unnest(list_prepend(bucket,
           list_transform(mg[1:__NFLIP__],
                          s -> xor(bucket, 1 << s.p)))) AS bucket
  FROM q),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(p.qv, c.ev) AS sim
  FROM probes p JOIN b c USING (bucket) WHERE c.vec_id <> p.query_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id
FROM r WHERE rnk <= __K__
"""
    return (
        prefix.replace("__BUCKET__", bucket)
        .replace("__MARGINS__", margins)
        .replace("__NFLIP__", str(nprobe - 1))
        .replace("__K__", str(k))
    )


LSH_TOPK_SQL = _lsh_topk_sql()


# --------------------------------------------------------------------------
# relational coverage over the TPC-H-shaped driver tables: the engine's
# DataFrame surface is general — scans push filters into parquet, prune
# columns, and the money sums are rounded to whole units so cross-engine
# float reassociation (error ~1e-4 at these magnitudes) cannot flip the
# value hash.
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: filter pushed to the parquet
    scan, two-column grouping, partial-aggregated sums."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 0).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 0) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 0) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_segment_spend(spark, sf_dir):
    """orders ⋈ customer rollup by market segment — the broadcast-join
    + partial-agg shape (customer is the small build side)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 0).alias("total_spend"),
        )
    )


SEGMENT_SPEND_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 0) AS total_spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""



def q_nation_revenue(spark, sf_dir):
    """TPC-H Q5-shaped 6-table join: region→nation→customer→orders→
    lineitem→supplier with the customer-and-supplier-same-nation
    constraint — the multi-way broadcast-join + shuffled-fact shape
    (dims broadcast, the two fact tables shuffle on their join keys;
    Catalyst reorders the dim joins below the fact join)."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


NATION_REVENUE_SQL = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 0) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""

# --------------------------------------------------------------------------
# hypergraph family (apps/hyper/) over the events-derived incidence
# --------------------------------------------------------------------------

def _hyper(spark, sf_dir, directed=False, weighted=False):
    from ligra_spark.hypergraph import Hypergraph

    ev = _events(spark, sf_dir)
    inc = hyper_incidence_directed(ev) if directed else hyper_incidence(ev)
    if weighted:
        inc = inc.withColumn(
            "w", ((F.col("v") + 2 * F.col("h")) % 9 + 1).cast("double")
        )
    return Hypergraph(inc, directed=directed, num_partitions=4)


def _hyper_root(hg):
    return hg.vertices.agg(F.min("id")).first()[0]


def q_hyper_bfs_events(spark, sf_dir):
    """Alternating half-round hypergraph BFS (HyperBFS.C:41-66) from
    the min vertex; vertex layers even dist, hyperedge layers odd. The
    oracle is plain BFS over the bipartite arcs (the alternation IS
    bipartite parity)."""
    from ligra_spark.algorithms import hyper_bfs

    hg = _hyper(spark, sf_dir)
    return hyper_bfs(hg, _hyper_root(hg))


def q_hyper_cc_events(spark, sf_dir):
    """Hypergraph components (HyperCC.C:52-79): min-vertex-id label
    fixpoint across both layers, vs a reachability-closure oracle."""
    from ligra_spark.algorithms import hyper_cc

    return hyper_cc(_hyper(spark, sf_dir))


def q_hyper_pagerank_events(spark, sf_dir):
    """10 rounds of hypergraph PageRank (HyperPageRank.C:84-113): mass
    flows v→h (rebuild) then h→v (damped gather) each round; both
    layers' masses are checked against the unrolled SQL replay."""
    from ligra_spark.algorithms import hyper_pagerank

    return hyper_pagerank(_hyper(spark, sf_dir), max_iters=10).select(
        "kind", "id", F.round("p", 9).alias("p")
    )


def q_hyper_sssp_events(spark, sf_dir):
    """Alternating Bellman-Ford over weighted incidences
    (HyperSSSP.C:60-96), w = (v+2h)%9+1, vs a recursive-relaxation
    oracle on the bipartite weighted arcs."""
    from ligra_spark.algorithms import hyper_sssp

    hg = _hyper(spark, sf_dir, weighted=True)
    return hyper_sssp(hg, _hyper_root(hg))


HYPER_BFS_SQL = f"""
WITH RECURSIVE base AS ({HYPER_INCIDENCE_SQL}),
arcs AS MATERIALIZED (SELECT v AS a, h AS b FROM base UNION SELECT h, v FROM base),
root AS (SELECT MIN(v) AS id FROM base),
r(id, dist) AS (
  SELECT id, 0 FROM root
  UNION
  SELECT arcs.b, r.dist + 1 FROM r JOIN arcs ON arcs.a = r.id WHERE r.dist < 200
),
d AS (SELECT id, MIN(dist) AS dist FROM r GROUP BY id)
SELECT CASE WHEN id < 64 THEN 'v' ELSE 'h' END AS kind, id,
       CAST(dist AS INT) AS dist
FROM d
"""

HYPER_CC_SQL = f"""
WITH RECURSIVE base AS ({HYPER_INCIDENCE_SQL}),
arcs AS MATERIALIZED (SELECT v AS a, h AS b FROM base UNION SELECT h, v FROM base),
nodes AS (SELECT DISTINCT a FROM arcs),
r(x, y) AS (
  SELECT a, a FROM nodes
  UNION
  SELECT r.x, arcs.b FROM r JOIN arcs ON arcs.a = r.y
)
SELECT CASE WHEN x < 64 THEN 'v' ELSE 'h' END AS kind, x AS id,
       MIN(y) AS comp
FROM r WHERE y < 64 GROUP BY x
"""


def _hyper_pagerank_sql(iters: int = 10) -> str:
    """Unrolled replay of hyper_pagerank: per round pH = Σ members'
    p/deg(v), then pV = 0.85·Σ incident pH/deg(h) + (1-0.85)/nv.
    Damping constants are written as the same IEEE ops the Python side
    performs ((1-0.85) differs from the 0.15 literal by 1 ulp)."""
    parts = [f"""WITH base AS ({HYPER_INCIDENCE_SQL}),
dv AS MATERIALIZED (SELECT v AS id, CAST(COUNT(*) AS DOUBLE) AS d FROM base GROUP BY v),
dh AS MATERIALIZED (SELECT h AS id, CAST(COUNT(*) AS DOUBLE) AS d FROM base GROUP BY h),
nvq AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM dv),
p0 AS (SELECT id, CAST(1 AS DOUBLE) / (SELECT nv FROM nvq) AS p FROM dv)"""]
    for i in range(iters):
        parts.append(f"""
ph{i} AS MATERIALIZED (
  SELECT b.h AS id, SUM(p.p / dv.d) AS p
  FROM base b JOIN p{i} p ON b.v = p.id JOIN dv ON dv.id = b.v
  GROUP BY b.h),
p{i + 1} AS MATERIALIZED (
  SELECT dv.id,
         CAST(0.85 AS DOUBLE) * COALESCE(g.g, CAST(0 AS DOUBLE))
           + (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nv FROM nvq) AS p
  FROM dv
  LEFT JOIN (SELECT b.v, SUM(ph.p / dh.d) AS g
             FROM base b JOIN ph{i} ph ON b.h = ph.id JOIN dh ON dh.id = b.h
             GROUP BY b.v) g ON g.v = dv.id)""")
    parts.append(f"""
outp AS (SELECT 'v' AS kind, id, p FROM p{iters}
         UNION ALL SELECT 'h', id, p FROM ph{iters - 1})""")
    return ",\n".join(parts) + "\nSELECT kind, id, ROUND(p, 9) AS p FROM outp"


HYPER_PAGERANK_SQL = _hyper_pagerank_sql(10)

def q_hyper_kcore_events(spark, sf_dir):
    """Hypergraph peeling (HyperKCore.C:87-137): a hyperedge dies when
    ANY member dies; the k-phase removes vertices with < k alive
    incident hyperedges (core = k-1). The oracle peels one min-id
    vertex per recursive step — confluent with the phase-synchronous
    parallel schedule, same argument as the graph k-core."""
    from ligra_spark.algorithms import hyper_kcore

    return hyper_kcore(_hyper(spark, sf_dir))


HYPER_KCORE_SQL = f"""
WITH RECURSIVE base AS ({HYPER_INCIDENCE_SQL}),
hm AS (SELECT h AS id, list(v) AS vs FROM base GROUP BY h),
hmm AS (SELECT map_from_entries(list(struct_pack(k := id, v := vs))) AS m FROM hm),
rm AS (SELECT v AS id, list(h) AS hs FROM base GROUP BY v),
rmm AS (SELECT map_from_entries(list(struct_pack(k := id, v := hs))) AS m,
               COUNT(*) AS n FROM rm),
g(i, k, remaining, done_ids, done_cores) AS (
  SELECT 0, 1, (SELECT list(id ORDER BY id) FROM rm),
         CAST([] AS BIGINT[]), CAST([] AS INT[])
  FROM rmm
  UNION ALL
  SELECT g.i + 1,
         CASE WHEN victim.id IS NULL THEN g.k + 1 ELSE g.k END,
         CASE WHEN victim.id IS NULL THEN g.remaining
              ELSE list_filter(g.remaining, x -> x <> victim.id) END,
         CASE WHEN victim.id IS NULL THEN g.done_ids
              ELSE list_append(g.done_ids, victim.id) END,
         CASE WHEN victim.id IS NULL THEN g.done_cores
              ELSE list_append(g.done_cores, CAST(g.k - 1 AS INT)) END
  FROM g, hmm, rmm,
  LATERAL (
    SELECT MIN(r2) AS id FROM (
      SELECT t.r AS r2,
             COUNT(*) FILTER (WHERE
               len(list_intersect(map_extract(hmm.m, u.hh)[1], g.remaining))
               = len(map_extract(hmm.m, u.hh)[1])) AS dg
      FROM unnest(g.remaining) AS t(r),
           unnest(map_extract(rmm.m, t.r)[1]) AS u(hh)
      GROUP BY t.r) q
    WHERE dg < g.k
  ) victim
  WHERE len(g.remaining) > 0
),
final AS (SELECT done_ids, done_cores FROM g WHERE len(g.remaining) = 0
          ORDER BY i LIMIT 1)
SELECT unnest(done_ids) AS id, unnest(done_cores) AS core FROM final
"""

HYPER_SSSP_SQL = f"""
WITH RECURSIVE base AS ({HYPER_INCIDENCE_SQL}),
arcs AS MATERIALIZED (SELECT v AS a, h AS b, CAST((v + 2 * h) % 9 + 1 AS DOUBLE) AS w FROM base
         UNION ALL
         SELECT h, v, CAST((v + 2 * h) % 9 + 1 AS DOUBLE) FROM base),
root AS (SELECT MIN(v) AS id FROM base),
r(id, dist) AS (
  SELECT id, CAST(0 AS DOUBLE) FROM root
  UNION
  SELECT arcs.b, r.dist + arcs.w FROM r JOIN arcs ON arcs.a = r.id
  WHERE r.dist < 150
)
SELECT CASE WHEN id < 64 THEN 'v' ELSE 'h' END AS kind, id,
       MIN(dist) AS dist
FROM r GROUP BY id
"""


def q_hyper_kcore_bucketed_events(spark, sf_dir):
    """Work-efficient Julienne-bucketed hypergraph peeling
    (HyperKCore-Efficient.C) — same cores as hyper_kcore (confluent
    peeling), so it shares the single-victim replay oracle; agreement
    verifies the bucket scheduler + clamped decrement path."""
    from ligra_spark.algorithms import hyper_kcore_bucketed

    return hyper_kcore_bucketed(_hyper(spark, sf_dir))


def q_hyper_mis_events(spark, sf_dir):
    """Hypergraph MIS (HyperMIS.C:119-160, Beame-Luby rounds) with the
    engine's portable deterministic sampling hash; the DuckDB oracle
    replays the identical rounds (sample, release fully-sampled
    hyperedges, pack winners, force singletons out)."""
    from ligra_spark.algorithms import hyper_mis

    return hyper_mis(_hyper(spark, sf_dir))


def _hyper_mis_sql(rounds: int = 16) -> str:
    """Unrolled HyperMIS replay. Rounds past convergence are no-ops
    (empty frontier ⇒ empty sample ⇒ unchanged state; the offset
    grows by zero), so a static unroll above the observed 5-6 round
    convergence is exact."""
    parts = [f"""WITH base AS ({HYPER_INCIDENCE_SQL}),
f0 AS (SELECT DISTINCT v AS id, 0 AS flag FROM base),
inc0 AS (SELECT v, h FROM base),
off0 AS (SELECT 0 AS o)"""]
    for i in range(rounds):
        parts.append(f"""
fr{i} AS MATERIALIZED (SELECT id FROM f{i} WHERE flag = 0),
samp{i} AS MATERIALIZED (
  SELECT id FROM fr{i}
  WHERE ((id + (SELECT o FROM off{i})) * 2654435761) % 4294967296 % 3 = 0),
card{i} AS (SELECT h, COUNT(*) AS c FROM inc{i} GROUP BY h),
scnt{i} AS (SELECT i.h, COUNT(*) AS c FROM inc{i} i JOIN samp{i} s ON i.v = s.id
            GROUP BY i.h),
full{i} AS MATERIALIZED (
  SELECT card{i}.h FROM card{i} JOIN scnt{i} ON card{i}.h = scnt{i}.h
  AND card{i}.c = scnt{i}.c),
won{i} AS MATERIALIZED (
  SELECT id FROM samp{i}
  WHERE id NOT IN (SELECT i.v FROM inc{i} i JOIN full{i} fl ON i.h = fl.h
                   JOIN samp{i} s ON i.v = s.id)),
incp{i} AS MATERIALIZED (
  SELECT v, h FROM inc{i} WHERE v NOT IN (SELECT id FROM won{i})),
sing{i} AS MATERIALIZED (
  SELECT h, MIN(v) AS u FROM incp{i} GROUP BY h HAVING COUNT(*) = 1),
f{i + 1} AS MATERIALIZED (
  SELECT id,
         CASE WHEN id IN (SELECT id FROM won{i}) THEN 2
              WHEN flag = 0 AND id IN (SELECT u FROM sing{i}) THEN 1
              ELSE flag END AS flag
  FROM f{i}),
inc{i + 1} AS MATERIALIZED (
  SELECT v, h FROM incp{i} WHERE h NOT IN (SELECT h FROM sing{i})),
off{i + 1} AS (SELECT (SELECT o FROM off{i}) + (SELECT COUNT(*) FROM fr{i}) AS o)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT id, flag >= 2 AS in_set FROM f{rounds}"
    )


HYPER_MIS_SQL = _hyper_mis_sql()


def q_hyper_bc_events(spark, sf_dir):
    """Hypergraph betweenness from the min vertex (HyperBC.C:105-178):
    forward alternating level/sigma counting, backward raw dependency
    accumulation with the reference's +1-per-processed-vertex
    formulation. Dep rounded to 6dp on both sides (summation-order
    float drift)."""
    from ligra_spark.algorithms import hyper_bc

    hg = _hyper(spark, sf_dir)
    return hyper_bc(hg, _hyper_root(hg)).select(
        "kind", "id", "paths", F.round("dep", 6).alias("dep")
    )


def _hyper_bc_sql(fwd_rounds: int = 48, back_steps: int = 24) -> str:
    """Unrolled HyperBC replay: recursive-CTE BFS dist; sigma built
    level-by-level (a node at dist k sums its dist-(k-1) in-arcs);
    backward vertex levels descend maxvl, maxvl-2, ..., 2, each adding
    1, pushing dep/sigma to the hyperedge level below, which pushes
    dep·sigma(target) down — HyperBC.C's raw formulation. Steps past
    the real level count are no-ops (empty level selections), so the
    static unroll is exact for any diameter <= the bounds."""
    parts = [f"""WITH RECURSIVE base AS ({HYPER_INCIDENCE_SQL}),
arcs AS MATERIALIZED (SELECT v AS a, h AS b FROM base UNION SELECT h, v FROM base),
root AS (SELECT MIN(v) AS id FROM base),
r(id, dist) AS (
  SELECT id, 0 FROM root
  UNION
  SELECT arcs.b, r.dist + 1 FROM r JOIN arcs ON arcs.a = r.id WHERE r.dist < 200
),
d AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM r GROUP BY id),
m AS (SELECT MAX(dist) AS maxvl FROM d WHERE id < 64),
sg0 AS (SELECT id, CAST(1 AS DOUBLE) AS sig FROM root)"""]
    for k in range(1, fwd_rounds + 1):
        parts.append(f"""
sg{k} AS MATERIALIZED (
  SELECT * FROM sg{k - 1}
  UNION ALL
  SELECT arcs.b AS id, SUM(s.sig) AS sig
  FROM sg{k - 1} s JOIN d ds ON ds.id = s.id AND ds.dist = {k - 1}
  JOIN arcs ON arcs.a = s.id
  JOIN d dt ON dt.id = arcs.b AND dt.dist = {k}
  GROUP BY arcs.b)""")
    S = f"sg{fwd_rounds}"
    parts.append("""
dh0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(0 AS DOUBLE) AS dep WHERE 1=0),
dv0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(0 AS DOUBLE) AS dep WHERE 1=0)""")
    for i in range(back_steps):
        parts.append(f"""
lvl{i} AS (SELECT maxvl - {2 * i} AS L FROM m),
dvl{i} AS MATERIALIZED (
  SELECT dv.id,
         sv.sig * COALESCE((SELECT SUM(dh.dep) FROM base b
                            JOIN dh{i} dh ON dh.id = b.h
                            JOIN d dhh ON dhh.id = b.h
                              AND dhh.dist = (SELECT L FROM lvl{i}) + 1
                            WHERE b.v = dv.id), CAST(0 AS DOUBLE))
           + CAST(1 AS DOUBLE) AS dep
  FROM d dv JOIN {S} sv ON sv.id = dv.id
  WHERE dv.id < 64 AND dv.dist = (SELECT L FROM lvl{i})
    AND (SELECT L FROM lvl{i}) >= 2),
dv{i + 1} AS MATERIALIZED (SELECT * FROM dv{i} UNION ALL SELECT * FROM dvl{i}),
dh{i + 1} AS MATERIALIZED (
  SELECT * FROM dh{i}
  UNION ALL
  SELECT b.h AS id, SUM(dvl.dep / sv.sig) AS dep
  FROM dvl{i} dvl JOIN base b ON b.v = dvl.id
  JOIN d dhh ON dhh.id = b.h AND dhh.dist = (SELECT L FROM lvl{i}) - 1
  JOIN {S} sv ON sv.id = dvl.id
  GROUP BY b.h)""")
    DH, DV = f"dh{back_steps}", f"dv{back_steps}"
    parts.append(f"""
srcdep AS (
  SELECT root.id,
         COALESCE((SELECT SUM(dh.dep) FROM base b
                   JOIN {DH} dh ON dh.id = b.h
                   JOIN d dhh ON dhh.id = b.h AND dhh.dist = 1
                   WHERE b.v = root.id), CAST(0 AS DOUBLE)) AS dep
  FROM root),
outp AS (
  SELECT 'v' AS kind, d.id, s.sig AS paths,
         COALESCE(dv.dep, sd.dep, CAST(0 AS DOUBLE)) AS dep
  FROM d JOIN {S} s ON s.id = d.id
  LEFT JOIN {DV} dv ON dv.id = d.id
  LEFT JOIN srcdep sd ON sd.id = d.id
  WHERE d.id < 64
  UNION ALL
  SELECT 'h', d.id, s.sig, COALESCE(dh.dep, CAST(0 AS DOUBLE))
  FROM d JOIN {S} s ON s.id = d.id
  LEFT JOIN {DH} dh ON dh.id = d.id
  WHERE d.id >= 64)""")
    return (
        ",\n".join(parts)
        + "\nSELECT kind, id, paths, ROUND(dep, 6) AS dep FROM outp"
    )


HYPER_BC_SQL = _hyper_bc_sql()


def q_hyper_bpath_events(spark, sf_dir):
    """B-path reachability on the DIRECTED incidence
    (HyperBPath.C:27-80): a hyperedge fires only when ALL tail
    vertices are visited, then visits its head vertices. Source rule
    (mirrored in SQL): the min vertex that is sole tail of >= 2
    hyperedges, else of >= 1, else the min tail — picked so firing
    actually cascades on the thinned incidence."""
    from ligra_spark.algorithms import hyper_bpath

    hg = _hyper(spark, sf_dir, directed=True)
    tails = hg.fwd.edges_by_src
    singles = (
        tails.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("c"), F.min("src").alias("v"))
        .where(F.col("c") == 1)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("nh"))
    )
    row = singles.where(F.col("nh") >= 2).agg(F.min("v")).first()
    root = row[0] if row and row[0] is not None else None
    if root is None:
        row = singles.agg(F.min("v")).first()
        root = row[0] if row and row[0] is not None else None
    if root is None:
        root = tails.agg(F.min("src")).first()[0]
    return hyper_bpath(hg, root)


def _hyper_bpath_sql(rounds: int = 64) -> str:
    """Unrolled B-path replay: visited-vertex and fired-hyperedge
    tables accumulate; a round with nothing fired is a no-op, so
    over-unrolling past the fixpoint is exact (<= nv productive
    rounds)."""
    parts = [f"""WITH base AS ({HYPER_INCIDENCE_DIRECTED_SQL}),
tails AS MATERIALIZED (SELECT v, h FROM base WHERE d = 0),
heads AS MATERIALIZED (SELECT v, h FROM base WHERE d = 1),
tc AS MATERIALIZED (SELECT h, COUNT(*) AS c FROM tails GROUP BY h),
singles AS MATERIALIZED (
  SELECT v, COUNT(*) AS nh
  FROM (SELECT h, COUNT(*) AS c, MIN(v) AS v FROM tails GROUP BY h)
  WHERE c = 1 GROUP BY v),
root AS (SELECT COALESCE(
  (SELECT MIN(v) FROM singles WHERE nh >= 2),
  (SELECT MIN(v) FROM singles),
  (SELECT MIN(v) FROM tails)) AS id),
vv0 AS (SELECT id, 0 AS dist FROM root),
fh0 AS (SELECT CAST(NULL AS BIGINT) AS id, 0 AS dist WHERE 1 = 0)"""]
    for i in range(rounds):
        parts.append(f"""
fired{i} AS MATERIALIZED (
  SELECT tc.h AS id, {i + 1} AS dist
  FROM tc JOIN (SELECT t.h, COUNT(*) AS c
                FROM tails t JOIN vv{i} x ON t.v = x.id GROUP BY t.h) vc
          ON vc.h = tc.h AND vc.c = tc.c
  WHERE tc.h NOT IN (SELECT id FROM fh{i} WHERE id IS NOT NULL)),
fh{i + 1} AS MATERIALIZED (SELECT * FROM fh{i} UNION ALL SELECT * FROM fired{i}),
vv{i + 1} AS MATERIALIZED (
  SELECT * FROM vv{i}
  UNION ALL
  SELECT DISTINCT hd.v AS id, {i + 1} AS dist
  FROM heads hd JOIN fired{i} f ON hd.h = f.id
  WHERE hd.v NOT IN (SELECT id FROM vv{i}))""")
    parts.append(f"""
outp AS (SELECT 'v' AS kind, id, dist FROM vv{rounds}
         UNION ALL
         SELECT 'h', id, dist FROM fh{rounds} WHERE id IS NOT NULL)""")
    return (
        ",\n".join(parts)
        + "\nSELECT kind, id, CAST(dist AS INT) AS dist FROM outp"
    )


HYPER_BPATH_SQL = _hyper_bpath_sql()


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Registry order is coverage-priority order: the driver's
    # correctness gate caps at 50 entries per round, so the entries
    # with the STALEST driver-green row run first. Rotation r05
    # (VERDICT r04 item 2): the 2 r05-new entries lead, then the 27
    # entries whose last driver row is CORRECTNESS_r03 (the r04 gate's
    # tail), then the 50 freshly green in CORRECTNESS_r04 — a 50-cap
    # reaches 2 + 27 + 21, so every entry has a driver row within the
    # last two rounds.
    # --- new in r05 — never driver-covered ---
    "ecc_closed_users": q_ecc_closed_users,
    "streaming_cc_replay": q_streaming_cc_replay,
    # --- last green in CORRECTNESS_r03 (stale two rounds) ---
    "pagerank_iter1_events": q_pagerank_iter1_events,
    "pagerank_events": q_pagerank_events,
    "triangles_types": q_triangles_types,
    "bfs_types": q_bfs_types,
    "lp_events": q_lp_events,
    "kcore_types": q_kcore_types,
    "bc_mod": q_bc_mod,
    "bellman_ford_mod": q_bellman_ford_mod,
    "sssp_delta_mod": q_sssp_delta_mod,
    "kcore_mod": q_kcore_mod,
    "kcore_bucketed_mod": q_kcore_bucketed_mod,
    "mis_mod": q_mis_mod,
    "radii_mod": q_radii_mod,
    "kbfs_ecc_mod": q_kbfs_ecc_mod,
    "tk_ecc_mod": q_tk_ecc_mod,
    "rv_ecc_mod": q_rv_ecc_mod,
    "clrstv_ecc_mod": q_clrstv_ecc_mod,
    "fm_ecc_mod": q_fm_ecc_mod,
    "cf_iter1_mod": q_cf_iter1_mod,
    "setcover_mod": q_setcover_mod,
    "ppr_acl_mod": q_ppr_acl_mod,
    "nibble_mod": q_nibble_mod,
    "heat_kernel_mod": q_heat_kernel_mod,
    "simple_ecc_mod": q_simple_ecc_mod,
    "loglog_ecc_mod": q_loglog_ecc_mod,
    "hyper_bfs_events": q_hyper_bfs_events,
    "hyper_cc_events": q_hyper_cc_events,
    # --- freshly green in CORRECTNESS_r04 ---
    "hyper_pagerank_events": q_hyper_pagerank_events,
    "hyper_sssp_events": q_hyper_sssp_events,
    "hyper_kcore_events": q_hyper_kcore_events,
    "hyper_kcore_bucketed_events": q_hyper_kcore_bucketed_events,
    "hyper_bpath_events": q_hyper_bpath_events,
    "hyper_bc_events": q_hyper_bc_events,
    "hyper_mis_events": q_hyper_mis_events,
    "tri_vertex_mod": q_tri_vertex_mod,
    "pagerank_delta_iter1_events": q_pagerank_delta_iter1_events,
    "pagerank_csr_iter1_events": q_pagerank_csr_iter1_events,
    "dedup_exact_docs": q_dedup_exact_docs,
    "fingerprint_docs": q_fingerprint_docs,
    "token_count_docs": q_token_count_docs,
    "text_quality_docs": q_text_quality_docs,
    "lang_id_docs": q_lang_id_docs,
    "jaccard_pairs_docs": q_jaccard_pairs_docs,
    "minhash_sig_docs": q_minhash_sig_docs,
    "minhash_lsh_docs": q_minhash_lsh_docs,
    "lsh_jaccard_docs": q_lsh_jaccard_docs,
    "simhash_docs": q_simhash_docs,
    "simhash_pairs_docs": q_simhash_pairs_docs,
    "kcore_mid": q_kcore_mid,
    "heat_kernel_rand_mod": q_heat_kernel_rand_mod,
    "pagerank_closed_events": q_pagerank_closed_events,
    "lp_closed_events": q_lp_closed_events,
    "tri_closed_users": q_tri_closed_users,
    "tri_vertex_closed_users": q_tri_vertex_closed_users,
    "dedup_clusters_docs": q_dedup_clusters_docs,
    "kbfs_1phase_ecc_mod": q_kbfs_1phase_ecc_mod,
    "kbfs_2phase_ecc_mod": q_kbfs_2phase_ecc_mod,
    "cc_mid": q_cc_mid,
    "cc_local_mid": q_cc_local_mid,
    "cc_local_events": q_cc_local_events,
    "bfs_mid": q_bfs_mid,
    "bellman_ford_mid": q_bellman_ford_mid,
    "sssp_delta_mid": q_sssp_delta_mid,
    "media_bytes_docs": q_media_bytes_docs,
    "frame_sample_docs": q_frame_sample_docs,
    "pricing_summary": q_pricing_summary,
    "segment_spend": q_segment_spend,
    "nation_revenue": q_nation_revenue,
    "ann_topk": q_ann_topk,
    "ann_topk_kernel": q_ann_topk_kernel,
    "ivf_topk": q_ivf_topk,
    "embedding_dups": q_embedding_dups,
    "lsh_topk": q_lsh_topk,
    "edges_events": q_edges_events,
    "degrees_events": q_degrees_events,
    "cc_events": q_cc_events,
    "bfscc_mod": q_bfscc_mod,
}


def _release_session_state(spark: SparkSession) -> None:
    """Drop every cached relation and persisted/localCheckpointed RDD.

    Each query builds its own Graph/Hypergraph, which persists 2-3
    edge orientations and localCheckpoints per-iteration state. Run
    back-to-back in ONE session (the driver's CORRECTNESS harness, or
    a user's notebook), 50+ queries accumulate hundreds of cached RDD
    block sets; block-manager pressure then degrades every later query
    (measured: hyper_bfs 46s as query #26 of a shared session vs 14s
    fresh — the round-1 bench regression was the same mechanism at
    larger scale). Queries are self-contained, so the previous query's
    state is garbage by the time the next one starts."""
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            try:
                jmap.get(rid).unpersist(False)
            except Exception:
                pass
    except Exception:
        pass
    # Hygiene GC: the unpersists above only *queue* cleanup — dropped
    # shuffle/broadcast refs are discovered by the ContextCleaner at a
    # GC, so without one the backlog storms inside a random later
    # query (measured: bfs_mid 124.9s as gate entry ~35 of 73 vs 26.5s
    # alone; same mechanism the bench's per-trial System.gc() fixes).
    # ~0.6s per call, repaid many times over in long shared sessions.
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _isolated(fn):
    """Wrap a query callable so it releases the PREVIOUS query's
    cached state before building its own plan. Callers that interleave
    building and collecting across queries should collect each result
    before invoking the next query (the driver harness and bench both
    do)."""
    import functools

    @functools.wraps(fn)
    def run(spark, sf_dir):
        _release_session_state(spark)
        return fn(spark, sf_dir)

    return run


QUERIES = {name: _isolated(fn) for name, fn in QUERIES.items()}

ORACLE_SQL: dict[str, str] = {
    "ecc_closed_users": ECC_CLOSED_USERS_SQL,
    "streaming_cc_replay": CC_EVENTS_SQL,
    "cc_mid": CC_MID_SQL,
    "cc_local_mid": CC_MID_SQL,
    "cc_local_events": CC_EVENTS_SQL,
    "bfs_mid": BFS_MID_SQL,
    "bellman_ford_mid": BF_MID_SQL,
    "sssp_delta_mid": BF_MID_SQL,
    "edges_events": EDGES_FROM_EVENTS_SQL,
    "degrees_events": DEGREES_SQL,
    "cc_events": CC_EVENTS_SQL,
    "bfscc_mod": CC_MOD_SQL,
    "pagerank_iter1_events": PAGERANK_ITER1_SQL,
    "pagerank_events": PAGERANK_EVENTS_SQL,
    "lp_events": LP_EVENTS_SQL,
    "triangles_types": TRIANGLES_TYPES_SQL,
    "bfs_types": BFS_TYPES_SQL,
    "bc_mod": BC_MOD_SQL,
    "bellman_ford_mod": BF_MOD_SQL,
    "sssp_delta_mod": BF_MOD_SQL,
    "kcore_types": KCORE_TYPES_SQL,
    "kcore_mod": KCORE_MOD_SQL,
    "kcore_mid": KCORE_MID_SQL,
    "pagerank_closed_events": PAGERANK_EVENTS_SQL,
    "lp_closed_events": LP_EVENTS_SQL,
    "tri_closed_users": TRI_CLOSED_USERS_SQL,
    "tri_vertex_closed_users": TRI_VERTEX_CLOSED_USERS_SQL,
    "kcore_bucketed_mod": KCORE_MOD_SQL,
    "cf_iter1_mod": CF_ITER1_MOD_SQL,
    "mis_mod": MIS_MOD_SQL,
    "radii_mod": RADII_MOD_SQL,
    "kbfs_ecc_mod": RADII_MOD_SQL,
    "kbfs_1phase_ecc_mod": _kbfs_sampled_sql(1),
    "kbfs_2phase_ecc_mod": _kbfs_sampled_sql(2),
    "tk_ecc_mod": RADII_MOD_SQL,
    "rv_ecc_mod": RV_ECC_MOD_SQL,
    "clrstv_ecc_mod": CLRSTV_ECC_MOD_SQL,
    "tri_vertex_mod": TRI_VERTEX_MOD_SQL,
    "pagerank_delta_iter1_events": PAGERANK_ITER1_SQL,
    "pagerank_csr_iter1_events": PAGERANK_ITER1_SQL,
    "dedup_exact_docs": DEDUP_EXACT_SQL,
    "fingerprint_docs": FINGERPRINT_SQL,
    "token_count_docs": TOKEN_COUNT_SQL,
    "text_quality_docs": TEXT_QUALITY_SQL,
    "lang_id_docs": LANG_ID_SQL,
    "jaccard_pairs_docs": JACCARD_PAIRS_SQL,
    "minhash_sig_docs": MINHASH_SIG_SQL,
    "minhash_lsh_docs": MINHASH_LSH_SQL,
    "lsh_jaccard_docs": LSH_JACCARD_SQL,
    "dedup_clusters_docs": DEDUP_CLUSTERS_SQL,
    "simhash_docs": SIMHASH_SQL,
    "simhash_pairs_docs": SIMHASH_PAIRS_SQL,
    "media_bytes_docs": MEDIA_BYTES_SQL,
    "frame_sample_docs": FRAME_SAMPLE_SQL,
    "pricing_summary": PRICING_SUMMARY_SQL,
    "segment_spend": SEGMENT_SPEND_SQL,
    "nation_revenue": NATION_REVENUE_SQL,
    "setcover_mod": SETCOVER_MOD_SQL,
    "ppr_acl_mod": PPR_ACL_MOD_SQL,
    "nibble_mod": NIBBLE_MOD_SQL,
    "heat_kernel_mod": HEAT_KERNEL_MOD_SQL,
    "heat_kernel_rand_mod": HEAT_KERNEL_RAND_MOD_SQL,
    "simple_ecc_mod": SIMPLE_ECC_MOD_SQL,
    "fm_ecc_mod": FM_ECC_MOD_SQL,
    "loglog_ecc_mod": LOGLOG_ECC_MOD_SQL,
    "hyper_bfs_events": HYPER_BFS_SQL,
    "hyper_cc_events": HYPER_CC_SQL,
    "hyper_pagerank_events": HYPER_PAGERANK_SQL,
    "hyper_sssp_events": HYPER_SSSP_SQL,
    "hyper_kcore_events": HYPER_KCORE_SQL,
    "hyper_kcore_bucketed_events": HYPER_KCORE_SQL,
    "hyper_bpath_events": HYPER_BPATH_SQL,
    "hyper_bc_events": HYPER_BC_SQL,
    "hyper_mis_events": HYPER_MIS_SQL,
    "lsh_topk": LSH_TOPK_SQL,
    "ann_topk": ANN_TOPK_SQL,
    "ann_topk_kernel": ANN_TOPK_SQL,
    "ivf_topk": IVF_TOPK_SQL,
    "embedding_dups": EMBEDDING_DUPS_SQL,
    # every queries() entry above has a DuckDB oracle.
}
