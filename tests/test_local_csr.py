"""The partition-local CSR helpers in closed.py, driven with numpy and
pyarrow only (no Spark session), against plain-Python references."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ligra_spark.algorithms.closed import local_index, sv_labels, undirected


def _batches(src, dst, chunk=7_000):
    return [
        pa.RecordBatch.from_arrays(
            [pa.array(src[i:i + chunk]), pa.array(dst[i:i + chunk])],
            ["src", "dst"],
        )
        for i in range(0, len(src), chunk)
    ]


def test_local_index_empty():
    assert local_index([]) is None
    empty = np.empty(0, np.int64)
    assert local_index(_batches(empty, empty)) is None


def test_undirected_past_int32_key_range():
    """50k local vertices: ``a*nl+b`` exceeds 2**31 once nl > 46340, so
    keys formed from the int32 local indices would wrap."""
    rng = np.random.default_rng(5)
    n = 50_000
    perm = rng.permutation(n).astype(np.int64) * 1_000_003 + 11
    head, tail = perm[:-1], perm[1:]  # a path over scattered ids
    dup = rng.integers(0, n - 1, 5_000)  # re-added reversed
    loops = perm[rng.integers(0, n, 200)]
    src = np.concatenate([head, tail[dup], loops])
    dst = np.concatenate([tail, head[dup], loops])
    ids, s, d = local_index(_batches(src, dst))
    assert s.dtype == np.int32  # the downcast the kernels rely on
    a, b = undirected(s, d, len(ids))
    want = {(int(x), int(y)) for x, y in zip(src, dst) if x != y}
    want |= {(y, x) for x, y in want}
    got = list(zip(ids[a].tolist(), ids[b].tolist()))
    assert len(got) == len(want) == 2 * (n - 1)
    assert set(got) == want
    assert np.all(np.diff(a * len(ids) + b) > 0)  # sorted by (a, b)


def _union_find_min(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in edges:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {v: find(v) for v in list(parent)}


def test_sv_labels_matches_union_find():
    rng = np.random.default_rng(9)
    verts = rng.choice(10**12, 6_000, replace=False).astype(np.int64)
    edges = []
    pos = 0
    for size in (1_500, 700, 2, 1):  # chains over random ids
        chain = verts[pos:pos + size]
        edges += list(zip(chain[:-1], chain[1:])) or [(chain[0], chain[0])]
        pos += size
    for size in (1_200, 300, 3):  # stars, hub id random too
        hub, *spokes = verts[pos:pos + size]
        edges += [(s, hub) if i % 2 else (hub, s) for i, s in enumerate(spokes)]
        pos += size
    order = rng.permutation(len(edges))
    src = np.array([edges[i][0] for i in order], np.int64)
    dst = np.array([edges[i][1] for i in order], np.int64)
    ids, s, d = local_index(_batches(src, dst, chunk=1_000))
    comp = ids[sv_labels(s, d, len(ids))]
    want = _union_find_min(zip(src.tolist(), dst.tolist()))
    assert dict(zip(ids.tolist(), comp.tolist())) == want
    assert len(set(want.values())) == 7
