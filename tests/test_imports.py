"""Cold-import smoke tests.

Each public package must import in a FRESH interpreter regardless of
which package a user touches first. The full pytest suite can mask
import cycles because alphabetically-earlier test files import
``ligra_spark.algorithms`` before ``ligra_spark.operators`` (the
round-2 cycle: operators/__init__ -> buckets -> algorithms._iter ->
algorithms/__init__ -> setcover -> back into the half-initialized
buckets). Subprocesses are the only honest check.
"""

import ast
import re
import subprocess
import sys
from pathlib import Path

import pytest

PUBLIC_MODULES = [
    "ligra_spark",
    "ligra_spark.operators",
    "ligra_spark.algorithms",
    "ligra_spark.functions",
    "ligra_spark.sources",
    "ligra_spark.streaming",
    "ligra_spark.plans",
    "ligra_spark.graph",
    "ligra_spark.hypergraph",
    "ligra_spark.checkpoint",
    "ligra_spark.queries",
    "ligra_spark.session",
]


@pytest.mark.parametrize("mod", PUBLIC_MODULES)
def test_cold_import(mod):
    proc = subprocess.run(
        [sys.executable, "-c", f"import {mod}"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, f"import {mod} failed cold:\n{proc.stderr}"


def test_driver_heap_fits_host():
    """The default driver heap: 1.5 GiB a task slot, capped so that heap
    plus 1 GiB a slot for the Python workers fits MemAvailable, never
    below 1 GiB; SPARK_GRAFT_DRIVER_MEM overrides it."""
    from ligra_spark.session import _driver_mem, _task_slots

    for slots in (1, 2, 4, 8, 32):
        for avail in range(slots + 1, 300):
            heap = int(_driver_mem(f"local[{slots}]", avail)[:-1])
            assert heap >= 1 and heap + slots <= avail, (slots, avail)
    assert _driver_mem("local[8]", 15) == "7g"  # the test session's heap
    assert _driver_mem("local[4,4]", 15) == "6g"
    assert _driver_mem("local[32]", 256) == "48g"
    assert _driver_mem("local[8]", 4) == "1g"
    assert _driver_mem("local[8]", None) == "12g"
    assert _driver_mem("local[8]", 15, "3g") == "3g"
    assert _task_slots("local") == 1
    assert _task_slots("local[*]") == _task_slots("spark://h:7077") >= 1


def test_auto_partitions_sizing():
    """num_partitions="auto" sizes ∝ edges: floor 8, pow2 steps,
    capped at the session shuffle-partition count (the measured
    right-sizing rationale lives in graph._auto_partitions)."""
    from ligra_spark.graph import _auto_partitions

    assert _auto_partitions(0, 32) == 8
    assert _auto_partitions(1_000, 32) == 8
    assert _auto_partitions(98_500, 32) == 16  # the sf0.1 events graph
    assert _auto_partitions(486_000, 32) == 32  # capped at the session
    assert _auto_partitions(10**9, 32) == 32
    assert _auto_partitions(10**9, 256) == 256


def test_library_env_reads():
    """The library reads only deployment settings plus the one backend
    cap the benchmark sets: a measured tuning value is a module
    constant with its measurement in a comment, never an env knob."""
    root = Path(__file__).resolve().parent.parent / "ligra_spark"
    names = set()
    for path in root.rglob("*.py"):
        for arg in re.findall(
            r"(?:environ(?:\.get\(|\[)|getenv\()\s*([^,)\]]+)", path.read_text()
        ):
            m = re.fullmatch(r"[\"']([A-Z0-9_]+)[\"']\s*", arg)
            assert m, f"{path.name}: env read with a non-literal name {arg!r}"
            names.add(m.group(1))
    assert names == {
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_PRETOUCH",
        "LIGRA_LOCAL_GRAPH_EDGES",
    }


def _joins_edge_table(source: str) -> bool:
    """True when ``source`` calls ``.join`` on or with ``edges_by_src`` /
    ``edges_by_dst``, directly or through a name assigned from one."""
    tree = ast.parse(source)
    tables = {"edges_by_src", "edges_by_dst"}

    def mentions(node, names):
        return any(
            (isinstance(n, ast.Attribute) and n.attr in tables)
            or (isinstance(n, ast.Name) and n.id in names)
            for n in ast.walk(node)
        )

    aliases = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and mentions(n.value, set())
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "join"
        and mentions(n, aliases)
        for n in ast.walk(tree)
    )


def test_direction_rule_only_in_edge_map():
    """The push/pull choice lives in edge_map alone: no algorithm or
    operator builds its own broadcast frontier join or m/20 rule, and
    the algorithms that still join the edge tables themselves are
    exactly the ones edge_map's docstring lists as left outside."""
    root = Path(__file__).resolve().parent.parent / "ligra_spark"
    hits = [
        f"{path.parent.name}/{path.name}:{i}"
        for sub in ("algorithms", "operators")
        for path in sorted((root / sub).glob("*.py"))
        if path.name != "edge_map.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "F.broadcast(" in line or re.search(r"\*\s*20\b", line)
    ]
    assert hits == []
    own_joins = {
        path.name
        for path in (root / "algorithms").glob("*.py")
        if _joins_edge_table(path.read_text())
    }
    doc = ast.get_docstring(ast.parse((root / "operators" / "edge_map.py").read_text()))
    left_outside = doc.split("Left outside", 1)[1]
    assert own_joins == set(re.findall(r"``(\w+\.py)``", left_outside))
    assert "radii.py" not in own_joins
