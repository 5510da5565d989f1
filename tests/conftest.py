from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ligra_spark.graph import Graph
from ligra_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ligra_spark_tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024)},
    )
    yield s
    s.stop()


@pytest.fixture()
def no_coalesce(spark):
    """AQE partition coalescing off for one test. A contraction residual
    this small otherwise lands in one partition and contracts at once;
    a large input's residual keeps its hash partitions."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


@pytest.fixture()
def mk_graph(spark):
    def _mk(edges, weighted=False, **kw):
        if weighted:
            df = spark.createDataFrame(
                [(int(s), int(d), float(w)) for s, d, w in edges],
                "src long, dst long, w double",
            )
        else:
            df = spark.createDataFrame(
                [(int(s), int(d)) for s, d in edges], "src long, dst long"
            )
        kw.setdefault("num_partitions", 8)
        return Graph(df, **kw)

    return _mk


# ---- fixture graphs (FIXTURES.md §3) --------------------------------------

def k_clique(ids):
    return [(a, b) for a in ids for b in ids if a != b]


STAR_HUB = [(i, 0) for i in range(1, 101)]                      # 100 spokes → hub
CHAIN_64 = [(i, i + 1) for i in range(63)]
TWO_COMPONENTS = k_clique(range(5)) + k_clique(range(10, 17))   # K5 + K7
SELF_LOOPS_DUPS = [(1, 1), (1, 2), (1, 2), (2, 3), (3, 1), (2, 1)]
K4 = k_clique(range(4))
