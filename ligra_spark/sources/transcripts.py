"""Transcripts → link graph: the engine's primary input pipeline.

Input table (BASELINE.json input_hint): Iceberg/parquet
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` at up to 10^12 turns.

Edge derivation (SURVEY.md §7.0) — all pure DataFrame, the analog of the
reference's load-time CSR construction (IO.h:163-316):

- **reply edges**: within a conversation, turn t → turn t−1
  (one ``lag`` window over (conv_id, turn_idx)).
- **tool edges**: an assistant turn that sets ``tool`` links to the
  *next* ``tool``-role turn carrying the same tool name in that
  conversation (invocation edge), and back (reply edge).
- **vertex ids**: ``xxhash64(conv_id, turn_idx)`` — stable, shuffle-free
  and collision-negligible at 10^12 rows (64-bit space); the
  ``(id ↔ conv_id, turn_idx, text)`` mapping table supports the
  per-turn text-equality invariant. A ``dense`` mode (conversation
  sequence × 2^20 + turn) exists for human-readable test fixtures.

The synthetic generator reproduces the FIXTURES.md §1 rules with
splitmix64-style deterministic hashing (seed 42), mirroring how the
reference derives reproducible inputs from hash streams
(utils/rMatGraph.C:29-61).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_TOOLS = [f"tool_{i}" for i in range(8)]
_EPOCH = pd.Timestamp("2025-01-01T00:00:00")


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — deterministic hash stream (the role the
    reference's hashInt plays in its generators, utils.h:366-384)."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
            0xFFFFFFFFFFFFFFFF
        )
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
            0xFFFFFFFFFFFFFFFF
        )
        return x ^ (x >> np.uint64(31))


def _gen_conv_batch(ks: np.ndarray, seed: int) -> pd.DataFrame:
    """Rows for a batch of conversation indices — the deterministic
    per-conversation construction shared by the local and distributed
    generators (identical output row sets)."""
    h_len = _mix64(ks.astype(np.uint64) + np.uint64(seed * 1_000_003))
    lengths = 2 + (h_len % np.uint64(39)).astype(np.int64)
    rows_conv, rows_turn, rows_role, rows_tool = [], [], [], []
    for k, L in zip(ks.tolist(), lengths.tolist()):
        conv = f"conv_{k:08d}"
        idx = 0
        next_role = "user"
        pending_tool: str | None = None
        while idx < L:
            if pending_tool is not None:
                role, tool = "tool", pending_tool
                pending_tool = None
                next_role = "user"
            else:
                role = next_role
                tool = None
                if role == "user":
                    next_role = "assistant"
                else:
                    h = int(
                        _mix64(
                            np.uint64(seed) * np.uint64(0x9E37)
                            + np.uint64(k * 4096 + idx)
                        )
                    )
                    if h % 4 == 0 and idx + 1 < L:
                        tool = _TOOLS[h % len(_TOOLS)]
                        pending_tool = tool
                    next_role = "user"
            rows_conv.append(conv)
            rows_turn.append(idx)
            rows_role.append(role)
            rows_tool.append(tool)
            idx += 1
    pdf = pd.DataFrame(
        {
            "conv_id": rows_conv,
            "turn_idx": np.array(rows_turn, dtype=np.int32),
            "role": rows_role,
            "tool": rows_tool,
        }
    )
    pdf["text"] = [
        f"turn text {c} {t} {r}" for c, t, r in zip(rows_conv, rows_turn, rows_role)
    ]
    conv_num = np.array([int(c[5:]) for c in rows_conv], dtype=np.int64)
    pdf["ts"] = _EPOCH + pd.to_timedelta(
        conv_num * 1000 + pdf["turn_idx"].to_numpy(np.int64), unit="s"
    )
    return pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def generate_transcripts(
    spark: SparkSession, n_conv: int, seed: int = 42, distributed: bool | None = None
) -> DataFrame:
    """Deterministic synthetic transcripts table (FIXTURES.md §1):
    conversation length in [2, 40], alternating user/assistant roles,
    ~25% of assistant turns invoke a tool and are followed by the
    matching tool-role reply turn.

    Generation is driver-side for small tables and distributed
    (``mapInPandas`` over conversation-index ranges) for large ones —
    identical output either way; at 10^12-turn scale only the
    distributed path exists, which is why the per-conversation
    construction is partition-independent."""
    if distributed is None:
        # the per-turn generation loop is pure Python — distribute it as
        # soon as it stops being trivial (bench sizes run 32-wide)
        distributed = n_conv > 2_000
    if not distributed:
        return spark.createDataFrame(
            _gen_conv_batch(np.arange(n_conv, dtype=np.int64), seed)
        )

    def gen(batches):
        for pdf in batches:
            yield _gen_conv_batch(pdf["id"].to_numpy(np.int64), seed)

    parts = max(8, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    return spark.range(0, n_conv, 1, parts).mapInPandas(gen, TRANSCRIPT_SCHEMA)


def _vertex_id(mode: str):
    """The vertex-id Column over ``(conv_id, turn_idx)``.

    hash: xxhash64 — no global coordination, scale path.
    dense: conv sequence number × 2^20 + turn_idx — readable test ids
    (requires conv_id of the generator's ``conv_{k:08d}`` shape).
    """
    if mode == "hash":
        return F.xxhash64("conv_id", "turn_idx")
    if mode == "dense":
        return (
            F.substring("conv_id", 6, 8).cast("long") * F.lit(1 << 20)
            + F.col("turn_idx").cast("long")
        )
    raise ValueError(f"unknown id mode {mode!r}")


def vertex_ids(transcripts: DataFrame, mode: str = "hash") -> DataFrame:
    """``(conv_id, turn_idx, id LONG)`` vertex-id mapping (``_vertex_id``)."""
    return transcripts.select("conv_id", "turn_idx", _vertex_id(mode).alias("id"))


def derive_edges(
    transcripts: DataFrame,
    id_mode: str = "hash",
    tool_edges: bool = True,
    closure_key: bool = False,
) -> DataFrame:
    """``edges(src LONG, dst LONG)`` from a transcripts table.

    ``closure_key=True`` adds ``ckey = xxhash64(conv_id)``: every edge
    (reply and tool alike) lives inside one conversation, so ``ckey``
    is a valid partition-closure key for ``Graph(closure_key="ckey")``
    — the iterative algorithms then run as partition-local Arrow
    kernels with zero per-iteration shuffle (closed.py)."""
    # a turn needs both key columns to be a vertex
    t = transcripts.where(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
    ).withColumn("id", _vertex_id(id_mode))

    key_cols = [F.xxhash64("conv_id").alias("ckey")] if closure_key else []
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    reply = (
        t.select("conv_id", "turn_idx", "id", F.lag("id").over(w).alias("prev_id"))
        .where(F.col("prev_id").isNotNull())
        .select(F.col("id").alias("src"), F.col("prev_id").alias("dst"), *key_cols)
    )
    if not tool_edges:
        return reply

    calls = t.where(
        (F.col("role") == "assistant") & F.col("tool").isNotNull()
    ).select("conv_id", F.col("turn_idx").alias("call_idx"), "tool", F.col("id").alias("call_id"))
    replies = t.where(F.col("role") == "tool").select(
        "conv_id", F.col("turn_idx").alias("reply_idx"), "tool", F.col("id").alias("reply_id")
    )
    matched = (
        calls.join(replies, ["conv_id", "tool"])
        .where(F.col("reply_idx") > F.col("call_idx"))
        .groupBy("conv_id", "call_idx", "call_id", "tool")
        .agg(F.min(F.struct("reply_idx", "reply_id")).alias("r"))
        .select("conv_id", "call_id", F.col("r.reply_id").alias("reply_id"))
    )
    invocation = matched.select(
        F.col("call_id").alias("src"), F.col("reply_id").alias("dst"), *key_cols
    )
    tool_reply = matched.select(
        F.col("reply_id").alias("src"), F.col("call_id").alias("dst"), *key_cols
    )
    return reply.unionAll(invocation).unionAll(tool_reply)


def text_roundtrip(transcripts: DataFrame, id_mode: str = "hash") -> DataFrame:
    """Per-turn text via the vertex-id mapping — supports the invariant
    'transcripts → vertex map → join back reproduces
    (conv_id, turn_idx) → text' (input_hint)."""
    ids = vertex_ids(transcripts, id_mode)
    id_text = transcripts.join(ids, ["conv_id", "turn_idx"]).select("id", "text")
    return (
        ids.join(id_text, "id")
        .select("conv_id", "turn_idx", F.col("text").alias("text_roundtrip"))
    )
