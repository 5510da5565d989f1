"""tools/host_probe.py: every mode through the one runner at levels
(1, 2) with its smallest work, and the kernels the probe measures are
the library's own."""
from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import host_probe  # noqa: E402

from ligra_spark.functions import similarity  # noqa: E402

LEVEL_KEYS = {
    "walls",
    "rates",
    "aggregate",
    "aggregate_x",
    "eff",
    "equal_split",
}


def test_probe_imports_the_library_kernels():
    assert host_probe.BLOCK == similarity.BLOCK
    assert host_probe.QCHUNK == similarity.QCHUNK
    assert host_probe._query_arrays is similarity._query_arrays
    assert host_probe._scan_partition is similarity._scan_partition


def _corpus(root: Path) -> str:
    rng = np.random.default_rng(0)
    mat = rng.normal(size=(300, 8)).astype(np.float32)
    for i, rows in enumerate(np.array_split(np.arange(300), 2)):
        emb = pa.FixedSizeListArray.from_arrays(mat[rows].ravel(), 8)
        pq.write_table(
            pa.table({"vec_id": rows, "embedding": emb.cast(pa.list_(pa.float32()))}),
            root / f"part-{i:05d}.parquet",
        )
    return str(root)


@pytest.mark.parametrize(
    "mode,args,passes",
    [
        ("alu", (10_000,), 1),
        ("sgemm", (1,), 1),
        ("membw", (1,), 2),
        ("ann", (0.0,), 1),
    ],
)
def test_probe_mode_levels(mode, args, passes, tmp_path):
    if mode == "ann":
        args = (_corpus(tmp_path), *args)
    out = host_probe.run(mode, args, levels=(1, 2), passes=passes)
    assert out["mode"] == mode and out["unit"] == host_probe.MODES[mode][1]
    assert out["passes"] == passes
    assert set(out["levels"]) == {"1", "2"}
    for p, lv in out["levels"].items():
        assert set(lv) == LEVEL_KEYS
        assert len(lv["walls"]) == len(lv["rates"]) == int(p)
        assert lv["aggregate"] > 0 and lv["aggregate_x"] > 0
        assert min(lv["rates"]) > 0
    assert out["levels"]["1"]["aggregate_x"] == 1.0


def test_default_levels_follow_affinity():
    levels = host_probe.default_levels()
    assert levels[0] == 1 and levels[-1] <= len(host_probe.os.sched_getaffinity(0))
    assert all(b == 2 * a for a, b in zip(levels, levels[1:]))
