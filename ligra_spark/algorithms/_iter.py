"""Iteration-loop plumbing shared by the fixpoint algorithms.

The reference's driver loop is ``while(!Frontier.isEmpty()) { edgeMap;
... }`` over in-memory arrays (e.g. Components.C:62-67). In Spark each
iteration's DataFrame builds on the previous one, so without lineage
truncation the logical plan (and Catalyst analysis time) grows without
bound. ``materialize`` eagerly computes the iteration's state and cuts
lineage with ``localCheckpoint``.

**Statistics-blowup pitfall** (found empirically, a Spark-core
behavior): ``Dataset.localCheckpoint`` carries the *original plan's*
Catalyst statistics into the checkpointed ``LogicalRDD``. Joins
multiply child ``sizeInBytes`` (BigInt), so an iterative loop compounds
the estimate round over round — and any self-join (e.g. the
pointer-jumping shortcut in components.py) *squares* it, making the
BigInt's digit count grow exponentially. By round ~20 the driver spends
minutes inside ``BigInteger.multiply`` while the executors sit idle.
``materialize`` therefore rebuilds the DataFrame over the checkpointed
RDD via ``internalCreateDataFrame``, which resets statistics to the
session default; a plain ``localCheckpoint`` fallback guards against
the private API moving.
"""

from __future__ import annotations

import logging
import time
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_log = logging.getLogger("ligra_spark")
_warned_fallback = False


def _reset_stats(ck: DataFrame) -> DataFrame:
    """Rebuild ``ck`` (a localCheckpoint result) over its RDD so the
    Catalyst statistics reset to the session default instead of carrying
    the original plan's (compounding) estimate. Falls back LOUDLY to the
    plain checkpoint if the private JVM API moved — a silent fallback
    here reintroduces the exponential BigInt-statistics blowup (see
    module docstring), which round-1 benchmarking showed as a 10-60s/iter
    driver stall."""
    global _warned_fallback
    try:
        jdf = ck._jdf
        jspark = ck.sparkSession._jsparkSession
        fresh = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(fresh, ck.sparkSession)
    except Exception as exc:  # pragma: no cover - depends on Spark build
        if not _warned_fallback:
            _warned_fallback = True
            msg = (
                "ligra_spark: internalCreateDataFrame unavailable "
                f"({type(exc).__name__}: {exc}); iterative plans will carry "
                "compounding Catalyst size statistics — expect degraded "
                "driver-side planning on long loops"
            )
            warnings.warn(msg, RuntimeWarning, stacklevel=3)
            _log.warning(msg)
        return ck


def materialize(df: DataFrame, prev: DataFrame | None = None) -> DataFrame:
    """Eagerly compute ``df``, truncate lineage, reset plan statistics;
    release ``prev``'s checkpointed blocks (pass the previous
    iteration's *materialized* state).

    NOTE: never mix this with ``DataFrame.persist`` chains across
    iterations — ``unpersist`` cascades in Spark (dropping dependent
    cached plans), so unpersisting iteration k's plan-cached state
    silently invalidates iteration k+1's cache and every subsequent
    action recomputes the whole chain (the round-1 36x bench
    regression). RDD-backed checkpoints are immune: downstream plans
    reference the RDD, not a cached plan fragment."""
    if prev is not None:
        # Loop state accumulated via unionAll concatenates partition
        # lists and localCheckpoint preserves them, so visited/state
        # tables grow +P partitions per round (measured: bfs_mid stages
        # of 232→264→296 tasks, +32/round at the r04 gate). Cap with a
        # NARROW coalesce at 2× shuffle partitions — a no-op when the
        # plan is already under the cap, zero shuffle when it isn't.
        cap = 2 * int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        df = df.coalesce(cap)
    ck = df.localCheckpoint(eager=True)
    out = _reset_stats(ck)
    out._ligra_ckpt = ck  # handle for unpersisting the real cached RDD
    if prev is not None:
        unpersist(prev)
    return out


def commit(
    df: DataFrame, prev: DataFrame | None = None, **stats
) -> tuple[DataFrame, dict]:
    """Commit one round: ``materialize(df, prev)`` with every named
    aggregate in ``stats`` observed on ``df`` by the SAME action, and
    ``(checkpoint, {name: value})`` returned.

    This is the Spark analog of the reference driver reading its
    stopping number straight off the vertexSubset it just built
    (``Frontier.isEmpty()``, Components.C:62-67; the PageRank L1,
    PageRank.C:90-98): the frontier size, changed count or L1 norm is
    collected as a side effect of the round's checkpoint job instead of
    by a second job over the checkpoint. In an iterative Spark loop the
    fixed cost per job sets the time of each round, so a round that
    commits once pays one job, not a checkpoint plus a count. Counts
    (``F.count_if(cond)``, ``F.count(F.lit(1))``) read 0 on empty
    input; sums, mins and maxes read ``None``. The Observation is
    unnamed (Spark names it with a UUID), so commits never collide
    within a session."""
    if not stats:
        return materialize(df, prev), {}
    obs = Observation()
    out = materialize(
        df.observe(obs, *(c.alias(k) for k, c in stats.items())), prev
    )
    return out, obs.get


def commit_degrees(graph, state: DataFrame) -> tuple[DataFrame, int]:
    """Commit a loop's starting state (one row per vertex, with
    ``out_deg``) and read ``n`` and ``m = Σ out_deg`` off the same job.
    Both are cached on ``graph``, so neither the loop nor ``edge_map``'s
    m/20 rule runs a count job for them."""
    state, got = commit(state, n=F.count(F.lit(1)), m=F.sum("out_deg"))
    graph._n, graph._m = got["n"], got["m"] or 0
    return state, got["n"]


def derive(df: DataFrame, base: DataFrame) -> DataFrame:
    """``df`` — a projection or filter of the committed ``base`` —
    carrying ``base``'s release handle, so ``unpersist(df)`` (or passing
    ``df`` as the next round's ``prev``) frees ``base``'s blocks."""
    df._ligra_ckpt = getattr(base, "_ligra_ckpt", base)
    return df


def unpersist(df: DataFrame) -> None:
    """Unpersist a ``materialize`` result (or any cached DF) safely."""
    target = getattr(df, "_ligra_ckpt", df)
    try:
        target.unpersist()
    except Exception:
        pass


@dataclass
class IterMetrics:
    """Per-iteration metrics, the analog of the reference driver's
    per-round "Running time" reports (ligra.h:490-495) extended with
    frontier/convergence telemetry (north_rule metrics requirement).
    ``backend`` / ``reason`` hold the dispatch decision (dispatch.py)."""

    rounds: list[dict] = field(default_factory=list)
    backend: str | None = None
    reason: str | None = None

    def record(self, iteration: int, **kv) -> None:
        self.rounds.append({"iteration": iteration, **kv})

    @property
    def iterations(self) -> int:
        return len(self.rounds)


class Timer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def lap(self) -> float:
        t = time.perf_counter()
        dt, self.t0 = t - self.t0, t
        return dt
