"""Streaming incremental connected components over a closure-keyed
edge stream.

The reference is batch-only (Ligra's driver re-runs over a static CSR);
at 10^12-turn scale transcript edges *arrive continuously*, and the
conversation closure key (closed.py) makes incremental CC a natural
stateful streaming operator: components never cross conversations, so
``groupBy(ckey).applyInPandasWithState`` keeps one tiny union-find per
conversation (bounded by conversation length) and merges each
micro-batch's new edges into it — O(delta) work per batch, state and
shuffle both keyed by the closure key exactly like the batch engine.

Semantics: after processing any prefix of the stream, the emitted
mapping (latest row per vertex) equals batch ``cc_contract_local`` /
``connected_components`` over the union of all edges seen so far —
pytest-pinned (tests/test_streaming.py). Output mode is "update": a
micro-batch emits rows ONLY for vertices whose component id changed
(or are new), so downstream sinks see the minimal delta.

The in-kernel merge is the batch kernels' own local CSR and
Shiloach–Vishkin pass (closed.py ``local_index`` + ``sv_labels``):
prior state rows ``(id → comp)`` are treated as edges and contracted
together with the batch's new edges, all numpy — no per-row Python
anywhere (emission filtering uses searchsorted against the previous
sorted id array).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ligra_spark.algorithms.closed import local_index, sv_labels

OUTPUT_SCHEMA = "ckey long, id long, comp long"
STATE_SCHEMA = "ids array<long>, comp array<long>"


def _update_fn(key, pdfs, state):
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    if state.exists:
        prev_ids_l, prev_comp_l = state.get
        prev_ids = np.asarray(prev_ids_l, np.int64)  # sorted (np.unique)
        prev_comp = np.asarray(prev_comp_l, np.int64)
    else:
        prev_ids = np.empty(0, np.int64)
        prev_comp = np.empty(0, np.int64)
    # prior (id → comp) mappings act as edges: old components merge
    # with the batch's new edges in one contraction
    batches = [
        pa.RecordBatch.from_pandas(pdf[["src", "dst"]], preserve_index=False)
        for pdf in pdfs
    ]
    batches.append(
        pa.RecordBatch.from_arrays(
            [pa.array(prev_ids), pa.array(prev_comp)], ["src", "dst"]
        )
    )
    idx = local_index(batches)
    if idx is None:
        return
    ids, s, d = idx
    nl = len(ids)
    comp = ids[sv_labels(s, d, nl)]
    state.update((ids.tolist(), comp.tolist()))
    # emit only new-or-changed vertices (vectorized delta against the
    # previous sorted mapping)
    pos = np.searchsorted(prev_ids, ids)
    pos_c = np.minimum(pos, max(len(prev_ids) - 1, 0))
    known = (
        (pos < len(prev_ids)) & (prev_ids[pos_c] == ids)
        if len(prev_ids)
        else np.zeros(nl, np.bool_)
    )
    same = np.zeros(nl, np.bool_)
    if len(prev_ids):
        same[known] = prev_comp[pos[known]] == comp[known]
    changed = ~same
    ck = key[0]
    yield pd.DataFrame(
        {
            "ckey": np.full(int(changed.sum()), ck, np.int64),
            "id": ids[changed],
            "comp": comp[changed],
        }
    )


def streaming_components(edges: DataFrame) -> DataFrame:
    """``(ckey, id, comp)`` update stream from a streaming edge
    DataFrame with columns ``(src, dst, ckey)`` — e.g.
    ``derive_edges(transcript_stream, closure_key=True)`` or
    ``stream_edges`` with a key column. Pair with any sink; state
    checkpointing/recovery is Structured Streaming's own (set
    ``checkpointLocation`` on the query)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return edges.groupBy("ckey").applyInPandasWithState(
        _update_fn,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
