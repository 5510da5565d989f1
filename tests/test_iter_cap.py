"""Partition-count cap on iterative state (``_iter.materialize``).

``unionAll`` concatenates partition lists and ``localCheckpoint``
preserves them, so an accumulate loop (``visited ∪ new`` per round)
grows the state's partition count linearly in rounds — thousands of
near-empty tasks by round ~50 (measured in the r04 gate: bfs_mid
stages of 232→264→296 tasks, +32/round). ``materialize(prev=...)``
caps the state at 2× ``spark.sql.shuffle.partitions`` with a narrow
coalesce; one-shot materializations stay uncapped.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ligra_spark.algorithms._iter import commit, materialize
from ligra_spark.algorithms.bfs import bfs


def _shuffle_p(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_union_accumulate_partitions_bounded(spark):
    """20 rounds of state ∪ addition stay under the 2×shuffle cap."""
    cap = 2 * _shuffle_p(spark)
    state = materialize(spark.range(8).select(F.col("id")))
    for r in range(20):
        add = spark.range(8).select((F.col("id") + 1000 * (r + 1)).alias("id"))
        state = materialize(state.unionAll(add), state)
        assert state.rdd.getNumPartitions() <= cap, f"round {r}"
    # values survive the coalesce: 8 seeds + 20 rounds x 8 additions
    assert state.count() == 8 * 21


def test_one_shot_materialize_uncapped(spark):
    """prev=None (Graph's load-time truncation of big derived tables)
    keeps the plan's own partitioning — only loop state is capped."""
    wide = spark.range(0, 1000).repartition(3 * _shuffle_p(spark))
    out = materialize(wide)
    assert out.rdd.getNumPartitions() == 3 * _shuffle_p(spark)


def test_bfs_long_path_state_partitions_bounded(spark, mk_graph):
    """End-to-end: a 30-round BFS's visited state stays capped and the
    distances are exact (path graph 0→1→…→30)."""
    g = mk_graph([(i, i + 1) for i in range(30)])
    got = bfs(g, 0)
    assert got.rdd.getNumPartitions() <= 2 * _shuffle_p(spark)
    dists = {r["id"]: r["dist"] for r in got.collect()}
    assert dists == {i: i for i in range(31)}
    g.unpersist()


def test_commit_stats_ride_the_checkpoint_job(spark):
    """``commit`` returns the checkpoint and its stats in ONE Spark job:
    the stats equal a separate ``agg``, a ``count_if`` stat reads 0 on
    empty input, and repeated commits reusing a stat name in one
    session each read their own value."""
    df = spark.range(0, 100).select("id", (F.col("id") % 7).alias("k"))
    stats = dict(n=F.count_if(F.col("k") == 3), s=F.sum("id"), mx=F.max("k"))
    want = df.agg(*(c.alias(k) for k, c in stats.items())).first().asDict()
    sc = spark.sparkContext
    sc.setJobGroup("commit-one-job", "commit")
    try:
        out, got = commit(df, **stats)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("commit-one-job")) == 1
    assert got == want
    assert out.count() == 100

    empty, got = commit(df.where(F.col("id") < 0), out, n=F.count_if(F.col("k") == 3))
    assert got == {"n": 0} and empty.count() == 0

    state = empty
    for r in range(1, 4):
        state, got = commit(
            state.unionAll(df.where(F.col("id") < r)),
            state,
            n=F.count(F.lit(1)),
        )
        assert got == {"n": r * (r + 1) // 2}, r
