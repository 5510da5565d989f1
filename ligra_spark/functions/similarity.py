"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: exact brute-force top-k neighbors. Dot products run
  JVM-side via ``zip_with``/``aggregate`` on double-cast arrays (no
  Python in the loop); the query side is broadcast, so the plan is a
  single scan of the corpus with local top-k via window row_number.
- ``lsh_bucket_topk``: the scale path — random-hyperplane (sign-LSH)
  bucketing with deterministic hyperplanes, then exact rescoring
  *within* probed buckets only. ``nprobe`` > 1 adds multi-probe: each
  query also probes the buckets reached by flipping the sign bits with
  the smallest |margin| (the planes its vector sits closest to), the
  classic multi-probe-LSH recall lever at zero extra tables.
- ``embedding_dup_pairs``: near-duplicate pairs by cosine ≥ threshold
  (embedding-cosine near-dup dedup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Scan tile shape of the Arrow top-k kernels (_scan_partition): the sims
# tile is (QCHUNK, BLOCK) float32 — small enough that the tile + its
# argpartition index stay in shared L3 across 32 concurrent workers (a
# full (Q, BLOCK) tile measured ~1.4x slower under contention), and
# small enough that no temp crosses glibc's mmap threshold.
BLOCK = 2048
QCHUNK = 256
# float32 candidate slots kept per query beyond k for the float64
# rescore (see cosine_topk_kernel for the exactness argument).
MARGIN = 11
# Rows per scan SCOPE in cosine_topk_parquet: files chain into one
# _scan_partition scope (one top-kk candidate state, one Q×k emission)
# until the scope would exceed this many retained rows, then it flushes
# and a new scope starts. The scope's batches stay resident for the
# float64 rescore gather, so the cap bounds task memory (1M rows =
# 512 MB at dim=128 float32) no matter how many files a task owns;
# within the cap, chaining amortizes the bootstrap argpartition and
# cuts the reduce input from n_files×Q×k to n_scopes×Q×k rows.
SCOPE_ROWS = 1 << 20


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: ``(query_id, rank, neighbor_id)``, rank 1..k by
    (cosine desc, neighbor_id asc) — id tie-break keeps output
    deterministic and engine-portable (similarity values themselves are
    not emitted, so last-bit float divergence can't flip comparisons)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    return _topk_reduce(scored, k)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component stream (python-
    side constant folding; tiny). splitmix64-ish → [-1, 1)."""
    out = []
    x = (plane + 1) * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF
    for i in range(dim):
        x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        out.append((z / 2**63) - 1.0)
    return out


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via sign-LSH buckets: hash every vector to a
    ``planes``-bit bucket (sign of dot with fixed hyperplanes), rescore
    exactly within the probed buckets. Returns the same schema as
    ``cosine_topk``; recall < 1 by construction (the scale/IVF path).

    ``nprobe`` > 1 is multi-probe LSH: besides its own bucket, each
    query probes the ``nprobe - 1`` buckets obtained by flipping the
    sign bit of the planes it lies CLOSEST to (smallest |dot| margin —
    the bits most likely to differ for a true near neighbor). Margins
    are rounded to 9dp with a plane-index tie-break so the probe set is
    deterministic and engine-portable. The probe stays an equi-join on
    the bucket key (the corpus side is hashed exactly once; only the
    tiny query side explodes ``nprobe``-fold), so the 10^9-vector cost
    model is unchanged: scored set ≈ nprobe/2^planes of the corpus.

    Pass ``dim`` when known (Spark's array<float> schema does not carry
    a length, so omitting it costs one ``first()`` driver job)."""
    if not 1 <= nprobe <= planes + 1:
        raise ValueError("nprobe must be in [1, planes + 1]")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    def plane_dots(vec: Column) -> list[Column]:
        return [
            _dot(vec, F.array(*[F.lit(v) for v in _hyperplane(dim, p)]))
            for p in range(planes)
        ]

    def bucket_of(dots: list[Column]) -> Column:
        out = F.lit(0)
        for p, d in enumerate(dots):
            out = out + F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        return out

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    c = c.withColumn("bucket", bucket_of(plane_dots(F.col("cv"))))

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    )
    qdots = plane_dots(F.col("qv"))
    base = bucket_of(qdots).alias("base")
    if nprobe == 1:
        q = q.select("query_id", "qv", base.alias("bucket"))
    else:
        # planes ranked by closeness: (round(|margin|, 9), plane idx);
        # the struct also carries the plane's bit value so the flip is
        # a plain XOR (shiftleft needs a literal shift amount)
        margins = F.array_sort(
            F.array(*[
                F.struct(
                    F.round(F.abs(d), 9).alias("m"),
                    F.lit(p).alias("p"),
                    F.lit(1 << p).alias("b"),
                )
                for p, d in enumerate(qdots)
            ])
        )
        flips = F.transform(
            F.slice(margins, 1, nprobe - 1), lambda s: s.getField("b")
        )
        probes = F.concat(
            F.array(F.col("base")),
            F.transform(flips, lambda b: F.col("base").bitwiseXOR(b)),
        )
        q = (
            q.select("query_id", "qv", base)
            .select(
                "query_id", "qv", F.explode(probes).alias("bucket")
            )
        )
    # each (query, neighbor) pair appears at most once: a corpus vector
    # has exactly ONE bucket key and the probe keys are distinct
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    return _topk_reduce(scored, k)


def _query_arrays(ids, vecs) -> tuple:
    """The ``(q_ids, q_mat, q32, q_order, q_sorted)`` tuple
    ``_scan_partition`` reads: unit-normalized float64 queries (the
    INPUTS are normalized once, so no outer-product normalization matrix
    materializes on the workers), their float32 copy for the scan, and
    the id sort for self-match masking."""
    import numpy as np

    q_ids = np.asarray(ids, dtype=np.int64)
    q_mat = np.array(vecs, dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0
    q_mat /= q_norm[:, None]
    q_order = np.argsort(q_ids)
    return q_ids, q_mat, q_mat.astype(np.float32), q_order, q_ids[q_order]


def _broadcast_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Collect the query set and ship its ``_query_arrays`` as a Spark
    BROADCAST, not inside the task closure: a closure is re-unpickled on
    EVERY task, so at fine partition granularity the O(Q·dim) query
    matrices become a per-task tax (~13 ms/task measured at
    Q=2000·dim=128 — the reason a 4× finer feed measured ~0.6s SLOWER
    on a 64-partition scan); a broadcast value is fetched once per
    worker PROCESS and cached across tasks (worker reuse is on), so task
    granularity can be set for scheduler load-balancing alone. On a real
    cluster this is also the executor-count-independent way to ship a
    query set."""
    rows = queries.select(id_col, vec_col).collect()
    return queries.sparkSession.sparkContext.broadcast(
        _query_arrays([r[id_col] for r in rows], [r[vec_col] for r in rows])
    )


def _scan_partition(batches, qarrs, k):
    """Scan one partition's Arrow batches against the query set and
    yield its exact float64 top-k candidates — the shared kernel body
    behind ``cosine_topk_kernel`` (JVM-fed batches) and
    ``cosine_topk_parquet`` (worker-local pyarrow parquet reads).
    ``qarrs`` is the ``_query_arrays`` tuple a caller ships via Spark
    broadcast."""
    import numpy as np
    import pyarrow as pa

    q_ids, q_mat, q32, q_order, q_sorted = qarrs
    Q = len(q_ids)
    kk = k + MARGIN  # float32 candidate slots per query
    best_s = np.full((Q, kk), -np.inf, dtype=np.float32)
    # global row position within this partition (batches retained
    # below); -1 = empty slot
    best_p = np.full((Q, kk), -1, dtype=np.int64)
    sims_buf = np.empty((QCHUNK, BLOCK), dtype=np.float32)
    mask_buf = np.empty((QCHUNK, BLOCK), dtype=bool)
    kept_ids: list[np.ndarray] = []
    kept_mat: list[np.ndarray] = []

    def fold(ids, mat, pos0):
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        norms[norms == 0] = 1.0
        # (dim, nb) contiguous once per block: every query-chunk
        # matmul reads the same BLAS-friendly operand
        nblk = np.ascontiguousarray((mat / norms[:, None]).T)
        nb = nblk.shape[1]
        top = min(kk, nb)
        # self-match masking in O(matches), not an n×Q bool mask;
        # left/right searchsorted covers DUPLICATE query ids (every
        # query row sharing the corpus id is masked, not just the
        # first occurrence — ADVICE r03)
        lo_p = np.searchsorted(q_sorted, ids, side="left")
        hi_p = np.searchsorted(q_sorted, ids, side="right")
        hit = np.flatnonzero(hi_p > lo_p)
        if len(hit):
            cnt = hi_p[hit] - lo_p[hit]
            # flat indices lo..hi per hit, fully vectorized
            flat = np.arange(cnt.sum()) - np.repeat(
                np.cumsum(cnt) - cnt, cnt
            ) + np.repeat(lo_p[hit], cnt)
            mask_q = q_order[flat]
            mask_c = np.repeat(hit, cnt)
        else:
            mask_q = mask_c = None
        pos = pos0 + np.arange(nb, dtype=np.int64)
        for q0 in range(0, Q, QCHUNK):
            q1 = min(q0 + QCHUNK, Q)
            if q1 - q0 == QCHUNK and nb == BLOCK:
                sims = sims_buf  # steady-state: zero allocation
            else:
                sims = np.empty((q1 - q0, nb), dtype=np.float32)
            np.dot(q32[q0:q1], nblk, out=sims)
            if mask_q is not None:
                sel = (mask_q >= q0) & (mask_q < q1)
                if sel.any():
                    sims[mask_q[sel] - q0, mask_c[sel]] = -np.inf
            # Element-level threshold prune: a sim enters a query's
            # candidate set only if it beats that query's current
            # kk-th best, and once every slot is finite (after the
            # first tile) the expected number of such hits per
            # query per tile decays as kk/tile — so the post-GEMM
            # work collapses from an O(Q'·nb) introspective
            # argpartition every tile (measured 50 ms/tile, 92% of
            # scan wall) to one SIMD compare pass + a nonzero over
            # a mostly-false mask + a tiny padded merge of the
            # hits (in-process: 0.73 → 0.33 s per 25k-row task,
            # bit-identical candidate sets). The first tile (and
            # any chunk still holding a -inf slot, e.g. nb < kk
            # partitions) takes the full argpartition path. Strict
            # `>` drops exact-f32 ties with the kk-th slot — the
            # same measure-zero tie class the margin+rescore
            # argument already covers (see docstring).
            bs = best_s[q0:q1]
            bp = best_p[q0:q1]
            thr = bs.min(axis=1)
            if np.isneginf(thr).any():  # bootstrap: slots not full
                idx = np.argpartition(sims, nb - top, axis=1)[:, nb - top:]
                cand_s = np.concatenate(
                    [bs, np.take_along_axis(sims, idx, axis=1)], axis=1
                )
                cand_p = np.concatenate([bp, pos[idx]], axis=1)
                keep = np.argpartition(-cand_s, kk - 1, axis=1)[:, :kk]
                bs[:] = np.take_along_axis(cand_s, keep, axis=1)
                bp[:] = np.take_along_axis(cand_p, keep, axis=1)
                continue
            if q1 - q0 == QCHUNK and nb == BLOCK:
                mask = mask_buf
            else:
                mask = np.empty((q1 - q0, nb), dtype=bool)
            np.greater(sims, thr[:, None], out=mask)
            hr, hc = np.nonzero(mask)
            if not hr.size:
                continue
            # pad each hit row's candidates to a rectangle and do
            # ONE argpartition over (hit_rows, kk + H) — H is the
            # max hits in any row this tile (usually 1-3)
            uq, counts = np.unique(hr, return_counts=True)
            h_max = int(counts.max())
            r_of = np.searchsorted(uq, hr)
            cum = np.arange(hr.size) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            pad_s = np.full((uq.size, h_max), -np.inf, dtype=np.float32)
            pad_p = np.full((uq.size, h_max), -1, dtype=np.int64)
            pad_s[r_of, cum] = sims[hr, hc]
            pad_p[r_of, cum] = pos[hc]
            cand_s = np.concatenate([bs[uq], pad_s], axis=1)
            cand_p = np.concatenate([bp[uq], pad_p], axis=1)
            keep = np.argpartition(-cand_s, kk - 1, axis=1)[:, :kk]
            bs[uq] = np.take_along_axis(cand_s, keep, axis=1)
            bp[uq] = np.take_along_axis(cand_p, keep, axis=1)

    base = 0
    for batch in batches:
        n_rows = batch.num_rows
        if n_rows == 0:
            continue
        ids_all = batch.column(0).to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False
        )
        # flatten() applies the list offsets; the float32 values
        # buffer reshapes as a view — the scan never copies to f64
        mat_all = (
            batch.column(1)
            .flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float32, copy=False)
            .reshape(n_rows, -1)
        )
        # retained for the rescore gather: Arrow-backed views, so
        # this holds exactly the partition's own batches (the same
        # data the task streamed in; bounded by maxPartitionBytes)
        kept_ids.append(ids_all)
        kept_mat.append(mat_all)
        for lo in range(0, n_rows, BLOCK):
            fold(
                ids_all[lo : lo + BLOCK],
                mat_all[lo : lo + BLOCK],
                base + lo,
            )
        base += n_rows
    if not kept_ids:
        return
    all_ids = kept_ids[0] if len(kept_ids) == 1 else np.concatenate(kept_ids)
    all_mat = kept_mat[0] if len(kept_mat) == 1 else np.vstack(kept_mat)
    # ---- exact float64 rescore of the margin set ----
    # slot validity tracked by position AND score: a slot filled by the
    # bootstrap argpartition from a self-masked candidate keeps a valid
    # best_p with best_s = -inf (scan scopes smaller than k+margin rows
    # never overwrite it — e.g. a small tail parquet file), and the
    # float64 rescore would resurrect it as a spurious self-match
    # (ADVICE r05, medium: a 6-row corpus returned the query itself at
    # sim 1.0). Scores are recomputed so float32 error never reaches
    # the emitted ordering.
    live = (best_p >= 0) & (best_s > -np.inf)
    flat_p = best_p[live]
    # gather + normalize each DISTINCT candidate row once (the
    # Q·kk slots reference ≤ min(Q·kk, partition_rows) rows, so at
    # fine task granularity this is ∝ partition size, not ∝ Q·kk),
    # with einsum norms (np.linalg.norm measured 5× slower on this
    # shape) — rescore stays full float64 end to end
    uniq, inv = np.unique(flat_p, return_inverse=True)
    uvecs = all_mat[uniq].astype(np.float64)
    un = np.sqrt(np.einsum("ij,ij->i", uvecs, uvecs))
    un[un == 0] = 1.0
    vecs = uvecs[inv]
    vn = un[inv]
    qi = np.repeat(np.arange(len(q_ids)), kk)[live.ravel()]
    exact = np.einsum("ij,ij->i", q_mat[qi], vecs) / vn
    ex_s = np.full((Q, kk), -np.inf)
    ex_s[live] = exact
    ex_n = np.full((Q, kk), np.iinfo(np.int64).max, dtype=np.int64)
    ex_n[live] = all_ids[flat_p]
    # true per-partition top-k by (sim desc, neighbor_id asc) —
    # the same total order the global window reduce applies
    order = np.lexsort((ex_n, -ex_s), axis=1)[:, :k]
    out_s = np.take_along_axis(ex_s, order, axis=1)
    out_n = np.take_along_axis(ex_n, order, axis=1)
    out_live = out_s > -np.inf  # queries may see < k rows here
    out_q = np.repeat(q_ids, k)[out_live.ravel()]
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(out_q, type=pa.int64()),
            pa.array(out_n[out_live], type=pa.int64()),
            pa.array(out_s[out_live], type=pa.float64()),
        ],
        names=["query_id", "neighbor_id", "sim"],
    )


def cosine_topk_kernel(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k via an Arrow-batched numpy matmul kernel
    (``mapInArrow``) — the high-throughput variant of ``cosine_topk``.

    The query matrix ships to every Python worker inside the closure
    (the broadcast side); each corpus partition computes
    ``corpus_block @ queries.T`` with BLAS, keeps its local top-k per
    query, and only those ``O(P·Q·k)`` candidate rows shuffle into the
    global top-k. Compute runs in per-core Python worker *processes*,
    so it scales past single-JVM allocation/GC limits.

    The Arrow list column is flattened into ONE ``(rows, dim)`` ndarray
    per batch (a single vectorized reshape of the values buffer) —
    never a Python list-of-rows materialization, which round 2 measured
    as 4× the BLAS time. Outputs leave as Arrow record batches, and the
    per-query candidate selection is fully vectorized
    (``argpartition`` + ``take_along_axis``).

    The scan runs in **float32** (the storage dtype): SGEMM moves half
    the bytes and retires twice the FLOPs/cycle of the old float64
    scan, which at 32 concurrent workers was memory-bandwidth-bound
    (r04: 8→32-core scaling efficiency 0.79; the raw kernel measured
    0.62 at equal splits with 1.6× straggler spread, vs 0.75 and 1.3×
    in float32). Exactness is preserved by a margin + rescore step:
    each partition keeps its top ``k + MARGIN`` candidate ROWS per
    query by float32 sim, then recomputes exact float64 cosines for
    just those ``O(Q·(k+margin))`` candidates and emits its true
    float64 top-k. A float32 scan mis-orders only candidates whose
    true sims differ by ≲ √dim·2⁻²³·‖q‖‖c‖ (~1e-6 here), so the exact
    top-k escapes the margin set only if > ``margin`` corpus vectors
    tie the kth sim within that width — for real-valued embeddings
    that is measure-zero; the driver oracle (`ann_topk_kernel`)
    verifies it end-to-end against DuckDB float64 every round.

    Caveat (ADVICE r05): corpora with EXACT duplicate vectors make
    float32 ties bit-exact, not measure-zero — the threshold prune's
    strict ``>`` can then drop a duplicate that the (sim desc, id asc)
    exact order would keep when more than ``MARGIN`` duplicates tie the
    kth sim. Dedupe exact-duplicate vectors first when that tie-break
    matters.

    The query broadcast lives until the returned DataFrame (whose task
    closure references it) is garbage-collected; long-lived sessions
    issuing many calls should drop references so ContextCleaner can
    reclaim the blocks."""
    bq = _broadcast_queries(queries, id_col, vec_col)

    def kernel(batches):
        yield from _scan_partition(batches, bq.value, k)

    candidates = corpus.select(id_col, vec_col).mapInArrow(
        kernel, "query_id long, neighbor_id long, sim double"
    )
    return _topk_reduce(candidates, k)


def _topk_reduce(candidates: DataFrame, k: int) -> DataFrame:
    """Global top-k over per-partition candidate streams: one shuffle of
    O(P·Q·k) rows, then row_number per query by (sim desc, id asc)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def cosine_topk_parquet(
    corpus_path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``cosine_topk_kernel`` with a storage-direct feed: Spark
    distributes the corpus's parquet FILES as tasks and each Python
    worker reads its file with pyarrow locally, so the 100s-of-MB
    embedding column never crosses the JVM→Python Arrow IPC socket.

    Motivation (measured at 1.6M×128 float32, local[16]): delivering
    the 820 MB ``array<float>`` column through mapInArrow costs
    1.2-2.7 s — the JVM's columnar-to-Arrow conversion plus the
    per-task IPC copy — while the JVM-side scan itself is 0.15 s and
    pyarrow's native parquet decode of the same files is a fraction of
    that, fully parallel. At 100-TB scale this is the standard
    Arrow-native scan layout: the table's file manifest (here a
    directory listing; an Iceberg snapshot's data files in production)
    becomes the task list, Spark supplies scheduling/work-stealing/
    retries, and the data plane stays columnar end to end. Exactness,
    self-match masking and the float32-scan + float64-rescore contract
    are identical to ``cosine_topk_kernel`` — both feed the same
    ``_scan_partition`` kernel (pytest pins path parity)."""
    from pathlib import Path

    spark = queries.sparkSession
    files = sorted(
        str(p) for p in Path(corpus_path).glob("*.parquet")
    ) or sorted(str(p) for p in Path(corpus_path).glob("**/*.parquet"))
    if not files:
        raise ValueError(f"no parquet files under {corpus_path}")
    bq = _broadcast_queries(queries, id_col, vec_col)

    def kernel(batches):
        import pyarrow.parquet as papq

        def scopes():
            # greedy row-count grouping of the task's files (metadata
            # read only — no data decode before the scope runs)
            group, rows = [], 0
            for b in batches:
                for path in b.column(0).to_pylist():
                    pf = papq.ParquetFile(path)
                    nr = pf.metadata.num_rows
                    if group and rows + nr > SCOPE_ROWS:
                        yield group
                        group, rows = [], 0
                    group.append(pf)
                    rows += nr
            if group:
                yield group

        def scope_batches(pfs):
            for pf in pfs:
                # column order pinned explicitly — iter_batches returns
                # file-schema order, not request order
                # use_threads=False: every Spark worker process already
                # owns exactly one core — pyarrow's default per-process
                # threadpool (sized to ALL vCPUs) would oversubscribe
                # the box #workers × #vCPUs-fold
                for rb in pf.iter_batches(
                    batch_size=1 << 16,
                    columns=[id_col, vec_col],
                    use_threads=False,
                ):
                    yield rb.select([id_col, vec_col])

        for pfs in scopes():
            yield from _scan_partition(scope_batches(pfs), bq.value, k)

    # Scan-task count: every local Python stage pays a serialized
    # ~10 ms/task launch cost (measured: a no-op mapInArrow over
    # trivial feeds walls 0.40/0.66/1.3 s at 32/64/128 tasks while a
    # JVM 128-task count is 0.26 s), so one-task-per-FILE overpays
    # whenever files outnumber cores — the bench's 128-file feed spent
    # 1.3 s of its 2.5 s scan wall on task dispatch alone. Group files
    # into at most one task per core, i.e. one wave — measured
    # end-to-end at the bench shape: 1.5-1.8 s at one wave vs 2.3-2.9
    # at 2 and 3.4+ at 4; the ~10 ms/task dispatch tax dominates the
    # straggler spread extra waves would absorb (the host-probe
    # equal-split ceiling is ~1.3×, i.e. ≤0.2 s on a 0.6 s task, vs
    # +0.7 s of dispatch for wave 2). More waves pay only where
    # stragglers cost more than the scheduler's per-task launch, which
    # a cluster must show by its own measurement. Grouping is
    # contiguous and deterministic (files sorted; slices differ by ≤1
    # file), each
    # partition holds its own path list — never round-robin (ADVICE
    # r05: randomized-start round-robin gave some tasks 2 files and
    # others 0). A manifest larger than the core count (the 100-TB
    # shape) keeps per-task work ≈ equal at any cluster size.
    n_tasks = min(len(files), spark.sparkContext.defaultParallelism)
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(f,) for f in files], n_tasks
        ),
        "path string",
    )
    candidates = fdf.mapInArrow(
        kernel, "query_id long, neighbor_id long, sim double"
    )
    return _topk_reduce(candidates, k)


def _table_bucket(vec: Column, dim: int, planes: int, table: int) -> Column:
    """planes-bit sign-LSH bucket for hash table ``table`` (hyperplanes
    drawn from the deterministic stream, offset per table)."""
    out = F.lit(0)
    for p in range(planes):
        hp = F.array(*[F.lit(v) for v in _hyperplane(dim, table * planes + p)])
        out = out + F.when(_dot(vec, hp) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return out


def embedding_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 4,
    dim: int | None = None,
    method: str = "exact",
) -> DataFrame:
    """Near-duplicate pairs ``(id_a, id_b)`` with cosine ≥ threshold,
    id_a < id_b.

    The default is ``'exact'`` (full recall, O(n²)) so callers KEEP the
    semantics they signed up for; opt into ``'lsh'`` for scale, where
    recall < 1 is the documented trade.

    ``method='lsh'`` (the scale path): sign-LSH bucketing with
    ``tables`` independent hash tables of ``planes`` hyperplanes each;
    candidates = vectors sharing a bucket in ANY table, then exact
    cosine rescoring within candidates only. Recall < 1 by construction
    (tune planes/tables per threshold: P[pair survives] =
    1-(1-(1-θ/π)^planes)^tables).

    ``method='exact'``: the brute-force O(n²) theta-join — oracle mode
    for small corpora ONLY; at 10^9 vectors it is the textbook
    scale-killer."""
    a = corpus.select(F.col(id_col).alias("id_a"), _as_double(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), _as_double(vec_col).alias("vb"))
    if method == "exact":
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        tb = F.explode(F.sequence(F.lit(0), F.lit(tables - 1))).alias("t")
        keyed = corpus.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"), tb)
        buck = F.lit(None).cast("int")
        for t in range(tables):
            buck = F.when(F.col("t") == t, _table_bucket(F.col("v"), dim, planes, t)).otherwise(buck)
        keyed = keyed.select("id", "v", "t", buck.alias("bucket"))
        ka, kb = keyed.alias("ka"), keyed.alias("kb")
        cand = (
            ka.join(kb, ["t", "bucket"])
            .where(F.col("ka.id") < F.col("kb.id"))
            .select(
                F.col("ka.id").alias("id_a"),
                F.col("kb.id").alias("id_b"),
                F.col("ka.v").alias("va"),
                F.col("kb.v").alias("vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    return (
        cand.where(cosine_similarity(F.col("va"), F.col("vb")) >= threshold)
        .select("id_a", "id_b")
    )


def _l2sq(vec_col, lits):
    """Squared L2 distance between an array column and a literal
    centroid — a left fold, so both engines evaluate the identical
    IEEE sequence."""
    cent = F.array(*[F.lit(float(x)) for x in lits])
    return F.aggregate(
        F.zip_with(vec_col, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_fit_cells(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse quantizer: centroids initialized from the
    ``n_cells`` smallest-id vectors, refined by ``iters`` Lloyd
    rounds (assign = argmin L2, tie -> smallest cell; update =
    per-dimension mean). Centroids are ROUNDED to 6dp in-engine after
    every step, which pins the whole pipeline across engines: both
    sides compute assignments from identical literals, so the only
    cross-engine float surface is the mean's last bits vs a 1e-6
    grid — vanishing. Returns driver-side centroid lists (O(cells x
    dim) — the quantizer is driver-sized by design, like every
    IVF implementation's coarse codebook)."""
    c = corpus.select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("cv"))
    init = (
        c.orderBy("cid")
        .limit(n_cells)
        .select(F.transform("cv", lambda x: F.round(x, 6)).alias("cv"))
        .collect()
    )
    cents = [list(r.cv) for r in init]
    for _ in range(iters):
        amin = F.array_min(
            F.array(*[
                F.struct(_l2sq(F.col("cv"), cents[j]).alias("d"),
                         F.lit(j).alias("c"))
                for j in range(len(cents))
            ])
        )
        assigned = c.select("cid", "cv", amin.getField("c").alias("cell"))
        means = (
            assigned.select("cell", F.posexplode("cv").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("v"), 6).alias("m"))
            .collect()
        )
        new = {r.cell: dict() for r in means}
        for r in means:
            new[r.cell][r.pos] = r.m
        cents = [
            [new[j][p] for p in range(len(cents[j]))] if j in new else cents[j]
            for j in range(len(cents))
        ]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k ``(query_id, rank, neighbor_id)``: vectors
    are bucketed by their nearest coarse centroid; each query probes
    its ``nprobe`` nearest cells and scores only those cells' vectors
    by exact cosine. The probe is an EXPLODE + equi-join on the cell
    id — never a theta-join — so at 10^9 vectors the scored set is
    ``nprobe/n_cells`` of the corpus and the shuffle is bounded by the
    candidate lists. Rank ties break by neighbor id, same contract as
    :func:`cosine_topk`."""
    cents = ivf_fit_cells(corpus, n_cells, iters, id_col, vec_col)

    def amin_cells(vcol, n):
        arr = F.array_sort(
            F.array(*[
                F.struct(_l2sq(vcol, cents[j]).alias("d"), F.lit(j).alias("c"))
                for j in range(len(cents))
            ])
        )
        return F.transform(F.slice(arr, 1, n), lambda s: s.getField("c"))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cell", amin_cells(F.col("cv"), 1)[0])
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).select(
        "query_id", "qv", F.explode(amin_cells(F.col("qv"), nprobe)).alias("cell")
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("sim"),
        )
    )
    return _topk_reduce(scored, k)
