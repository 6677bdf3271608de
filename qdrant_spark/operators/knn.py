"""Exact K-nearest-neighbor search (dense vectors) — single query and batch.

Reference semantics: ``CoreSearchRequest`` (lib/shard/src/search.rs) and the
plain (non-HNSW) exact scan path (lib/segment/src/index/plain_vector_index /
hnsw read_view dispatch lib/segment/src/index/hnsw_index/hnsw/read_view/
dispatch.rs:24-176): score every point passing the filter, return top-k by
score with optional ``score_threshold`` and ``offset``. Ties broken by id
ascending (the reference breaks ties arbitrarily; we pin id-asc so results
are deterministic and oracle-checkable — FIXTURES.md "Oracle rules").

Spark shapes:

- single query  -> ``orderBy(score).limit(k)`` => Catalyst plans
  ``TakeOrderedAndProject`` — per-partition partial top-k, then a driver
  merge. No shuffle of the scored set. This is already the optimal
  distributed plan at 100 TB.
- batch queries -> three physical strategies:

  * ``matmul`` (default) — block matrix multiply: mapInPandas over the
    points, scoring every query against each Arrow batch with one BLAS
    matmul (NumPy, float64), keeping a running per-query top-k per
    partition. Only <= partitions*Q*k candidate rows are shuffled into the
    final exact window. Spark's array higher-order functions are
    interpreted (no whole-stage codegen), so this beats the pure-Column
    plan ~50x on the N*Q hot path — this is the 100-TB plan.
  * ``window``  — broadcast crossJoin + ``row_number() over (partition by
    qid order by score)``; pure Column math, oracle-exact formula shape;
    one shuffle of N*Q scored rows.
  * ``partial`` — like window but with an Arrow-batched running top-k
    before the shuffle (map-side combine of top-k).
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from qdrant_spark.filters import apply_filter
from qdrant_spark.functions.distances import distance, larger_is_better


def _vec_lit(vec: Sequence[float]) -> Column:
    from qdrant_spark.functions.distances import vec_lit

    return vec_lit(vec)  # one py4j call, not one per element


def score_order(metric: str, score_col: str = "score", id_col: str = "id") -> list[Column]:
    s = F.col(score_col).desc() if larger_is_better(metric) else F.col(score_col).asc()
    return [s, F.col(id_col).asc()]


def _threshold_cond(metric: str, threshold: float, score_col: str = "score") -> Column:
    """check_threshold (types.rs:371-377): direction-aware keep condition."""
    c = F.col(score_col)
    return c > F.lit(threshold) if larger_is_better(metric) else c < F.lit(threshold)


# Corpus-size cutoff (bytes, from Catalyst plan stats) above which the
# single-query path scores in the Arrow worker instead of interpreted
# Column math — the analogue of the reference's plain-vs-index dispatch on
# full_scan_threshold (hnsw read_view dispatch.rs:56-176). Measured on
# local[16] @ 64-dim: the Arrow path carries ~0.25 s fixed python-worker
# cost but ~3x lower per-element cost, crossing over around ~150 MB of
# vector data (≈500k x 64d rows); on a long-running cluster the fixed cost
# amortizes, so the cutoff errs low-side of the local crossover.
ARROW_DISPATCH_BYTES = 128 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0


def knn(
    points: DataFrame,
    query_vector: Sequence[float],
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    flt: dict[str, Any] | None = None,
    score_threshold: float | None = None,
    offset: int = 0,
    select: list[str] | None = None,
    arrow_dispatch_bytes: int | None = None,
) -> DataFrame:
    """Single-query exact KNN. Returns (id, ..., score) ordered best-first.

    Physical strategy is size-dispatched: small inputs score with Column
    math (zero Python round-trips); inputs whose Catalyst size estimate
    exceeds ``arrow_dispatch_bytes`` route through the block-matmul Arrow
    scorer with Q=1 and re-join the surviving <= offset+k rows for payload
    columns. Both paths produce identical (score, id)-ordered results."""
    df = apply_filter(points, flt)
    df = df.filter(F.col(vec_col).isNotNull())
    cutoff = ARROW_DISPATCH_BYTES if arrow_dispatch_bytes is None else arrow_dispatch_bytes
    if _plan_size_bytes(df) >= cutoff:
        return _knn_single_arrow(
            df, query_vector, metric=metric, k=k, vec_col=vec_col,
            id_col=id_col, score_threshold=score_threshold, offset=offset,
            select=select,
        )
    from qdrant_spark.functions.distances import distance_to_lit

    score = distance_to_lit(metric, vec_col, query_vector)
    out_cols = select if select is not None else \
        [c for c in df.columns if c != vec_col and c != "score"] + ["score"]
    # one projection (score computed inline), not withColumn+select: every
    # DataFrame op pays a full plan re-analysis on the driver (~40 ms on a
    # wide plan — profiled), which dominates single-query plan latency
    proj = list(out_cols) if "score" in out_cols else list(out_cols) + ["score"]
    df = df.select(*[score.alias("score") if c == "score" else c for c in proj])
    if score_threshold is not None:
        df = df.filter(_threshold_cond(metric, score_threshold))
    if proj != list(out_cols):
        df = df.select(*out_cols)
    df = df.orderBy(*score_order(metric, id_col=id_col))
    if offset:
        # TakeOrderedAndProject handles limit; offset applied after global order
        return df.limit(offset + k).offset(offset)
    return df.limit(k)


def _knn_single_arrow(
    df: DataFrame,
    query_vector: Sequence[float],
    *,
    metric: str,
    k: int,
    vec_col: str,
    id_col: str,
    score_threshold: float | None,
    offset: int,
    select: list[str] | None,
) -> DataFrame:
    """Q=1 dispatch into the block-matmul scorer: the corpus scan stays
    Arrow-side (one BLAS call per batch, <= partitions*k candidates out),
    then the tiny winner set broadcast-joins back for payload columns."""
    import numpy as np

    top = _matmul_knn(
        df, None,
        metric=metric, k=k + offset, vec_col=vec_col, id_col=id_col,
        qid_col="__q", qvec_col="__qv", score_threshold=score_threshold,
        q_data=([0], np.asarray([[float(x) for x in query_vector]])),
    ).select(F.col(id_col).alias("__hit_id"), "score")
    out_cols = select if select is not None else [c for c in df.columns if c != vec_col] + ["score"]
    if set(out_cols) <= {id_col, "score"}:
        # the scorer's output already carries (id, score) — joining back
        # would re-scan the whole corpus a second time just to re-project
        # columns we have. One scan total for the common id+score shape.
        out = top.select(
            *[F.col("__hit_id").alias(id_col) if c == id_col else F.col(c)
              for c in out_cols]
        ).orderBy(*score_order(metric, id_col=id_col))
    else:
        joined = df.join(
            F.broadcast(top), df[id_col] == F.col("__hit_id"), "inner"
        ).drop("__hit_id")
        out = joined.select(*out_cols).orderBy(*score_order(metric, id_col=id_col))
    if offset:
        return out.limit(offset + k).offset(offset)
    return out.limit(k)


def knn_batch(
    points: DataFrame,
    queries: DataFrame,
    *,
    metric: str = "cosine",
    k: int = 10,
    vec_col: str = "vec",
    id_col: str = "id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    flt: dict[str, Any] | None = None,
    score_threshold: float | None = None,
    strategy: str = "matmul",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Batch exact KNN: one top-k result set per row of ``queries``.

    ``queries`` must have (qid_col, qvec_col). Returns
    (qid, id, score, rank, *keep_cols) with rank 1..k per query.
    """
    pts = apply_filter(points, flt).filter(F.col(vec_col).isNotNull())
    if strategy == "auto":
        # Same plain-vs-index dispatch as single-query knn(), scaled by the
        # batch width: the interpreted window path does n*Q element walks,
        # so the Arrow crossover corpus shrinks by ~Q. queries is always a
        # small driver-built DF, so count() here is a no-shuffle job.
        nq = max(1, queries.count())
        strategy = ("matmul"
                    if _plan_size_bytes(pts) * nq >= ARROW_DISPATCH_BYTES
                    else "window")
        if strategy == "matmul" and keep_cols:
            strategy = "window"  # matmul path drops payload columns
    if strategy == "matmul":
        if keep_cols:
            raise ValueError("keep_cols unsupported with strategy='matmul'")
        return _matmul_knn(
            pts, queries, metric=metric, k=k, vec_col=vec_col, id_col=id_col,
            qid_col=qid_col, qvec_col=qvec_col, score_threshold=score_threshold,
        )
    q = queries.select(
        F.col(qid_col).alias("__qid"), F.col(qvec_col).alias("__qvec")
    )
    scored = pts.crossJoin(F.broadcast(q)).withColumn(
        "score", distance(metric, F.col(vec_col), F.col("__qvec"))
    )
    if score_threshold is not None:
        scored = scored.filter(_threshold_cond(metric, score_threshold))
    keep = keep_cols or []
    scored = scored.select(
        F.col("__qid").alias(qid_col), F.col(id_col), F.col("score"), *keep
    )

    # map-side top-k combine, UNCONDITIONAL (r8 VERDICT item 8): the
    # per-qid window below would otherwise shuffle all n*Q scored rows
    # partitioned by qid — with few queries over a huge corpus a single
    # qid partition is the whole corpus. After the combine the window
    # sees <= partitions*Q*k candidate rows. ('partial' is kept as an
    # accepted alias of 'window'.)
    scored = _partial_topk(scored, metric, k, qid_col=qid_col, id_col=id_col)

    w = Window.partitionBy(qid_col).orderBy(*score_order(metric, id_col=id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def score_block(M, Qm, metric: str, qnorm=None):
    """(n, d) points × (q, d) queries -> (n, q) float64 scores, one BLAS
    call (dot/cosine) or memory-bounded chunks (euclid/manhattan). The
    shared kernel of every batch scorer (block matmul, IVF cluster blocks)."""
    import numpy as np

    n, dim = M.shape
    nq = Qm.shape[0]
    if metric in ("dot", "cosine"):
        S = M @ Qm.T
        if metric == "cosine":
            if qnorm is None:
                qnorm = np.linalg.norm(Qm, axis=1)
            S = S / (np.linalg.norm(M, axis=1)[:, None] * qnorm[None, :])
        return S
    cq = max(1, 4_000_000 // max(1, n * dim))
    S = np.empty((n, nq))
    for lo in range(0, nq, cq):
        d = M[:, None, :] - Qm[None, lo:lo + cq, :]
        if metric == "euclid":
            S[:, lo:lo + cq] = np.sqrt((d * d).sum(axis=2))
        else:
            S[:, lo:lo + cq] = np.abs(d).sum(axis=2)
    return S


def block_topk(S, k: int, bigger_better: bool):
    """Per-query top-k of one (n, q) score block, columnwise
    ``argpartition`` in one call (ties arbitrary — the finish restores
    the exact order). Returns (rows, qcol): <= k row indices per query,
    query-major, and each row's query column."""
    import numpy as np

    n, nq = S.shape
    kk = min(k, n)
    if kk < n:
        part = np.argpartition(-S if bigger_better else S, kk - 1,
                               axis=0)[:kk]
    else:
        part = np.tile(np.arange(n)[:, None], (1, nq))
    return part.ravel(order="F"), np.repeat(np.arange(nq), part.shape[0])


def topk_rows(qidx, ids, scores, k: int, bigger_better: bool):
    """Exact per-query top-k over accumulated candidate rows, (score
    direction, then id asc) — one lexsort, query-major. Returns the kept
    (qidx, ids, scores)."""
    import numpy as np

    key_s = -scores if bigger_better else scores
    order = np.lexsort((ids, key_s, qidx))  # qidx major, then score, id
    qidx, ids, scores = qidx[order], ids[order], scores[order]
    # rank within query = position - first position of that query
    uq, starts = np.unique(qidx, return_index=True)
    rank = np.arange(len(qidx)) - starts[np.searchsorted(uq, qidx)]
    keep = rank < k
    return qidx[keep], ids[keep], scores[keep]


def _matmul_knn(
    pts: DataFrame,
    queries: DataFrame,
    *,
    metric: str,
    k: int,
    vec_col: str,
    id_col: str,
    qid_col: str,
    qvec_col: str,
    score_threshold: float | None,
    q_data: tuple[list, "Any"] | None = None,
    vec_decode: "Any" = None,
) -> DataFrame:
    """Block-matmul batch KNN: per Arrow batch, score all queries at once
    with NumPy (float64 BLAS), keep per-batch top-k per query, emit at most
    ~batches*Q*k candidates per partition. Arrow-native (``mapInArrow``):
    the vector column's flat value buffer reshapes straight into the (P, D)
    matrix — no per-row object conversion. The final window re-ranks
    exactly (score direction, then id asc) so ties match the Column path.

    ``q_data=(qids, Q)`` supplies the query set directly (single-query
    dispatch, pre-collected batches) instead of collecting ``queries``."""
    import numpy as np

    if q_data is not None:
        qids = list(q_data[0])
        Q = np.asarray(q_data[1], dtype=np.float64)
        qid_type = T.LongType()
    else:
        # plain collect, NOT coalesce(1): narrowing a python-backed queries
        # DF to one partition funnels every pickled partition through a
        # single python worker sequentially — measured ~2.6s fixed vs ~0.2s
        # for the parallel collect of the same 64 rows
        q_rows = queries.select(qid_col, qvec_col).collect()
        qids = [r[qid_col] for r in q_rows]
        Q = np.array([list(r[qvec_col]) for r in q_rows], dtype=np.float64)
        qid_type = queries.schema[qid_col].dataType
    bigger_better = larger_is_better(metric)
    sc = pts.sparkSession.sparkContext
    bq = sc.broadcast((qids, Q))

    id_field = pts.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(qid_col, qid_type),
            T.StructField(id_col, id_field.dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches: Iterator) -> Iterator:
        import pyarrow as pa

        qids_l, Qm = bq.value
        dim = Qm.shape[1]
        qnorm = np.linalg.norm(Qm, axis=1) if metric == "cosine" else None
        qid_arr = np.asarray(qids_l)
        acc_q: list[np.ndarray] = []   # query INDEX per candidate row
        acc_i: list[np.ndarray] = []
        acc_s: list[np.ndarray] = []

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vec = batch.column(1)
            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            if vec_decode is not None:
                # packed storage (binary f16/u8 columns): decode hook
                # yields the (n, dim) float64 matrix
                M = vec_decode(vec, n)
            else:
                flat = vec.flatten().to_numpy(zero_copy_only=False)
                M = flat.reshape(n, dim).astype(np.float64, copy=False)
            S = score_block(M, Qm, metric, qnorm=qnorm)
            rows, qidx = block_topk(S, k, bigger_better)
            acc_q.append(qidx)
            acc_i.append(ids[rows])
            acc_s.append(S[rows, qidx])

        if not acc_q:
            return
        qidx, ids, scores = topk_rows(
            np.concatenate(acc_q), np.concatenate(acc_i),
            np.concatenate(acc_s), k, bigger_better)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(qid_arr[qidx]),
                pa.array(ids),
                pa.array(scores, type=pa.float64()),
            ],
            names=[qid_col, id_col, "score"],
        )

    sel = pts.select(id_col, vec_col)
    if vec_decode is None:
        sel = sel.filter(F.size(vec_col) == len(Q[0]))
    scored = sel.mapInArrow(score_batches, out_schema)
    if score_threshold is not None:
        scored = scored.filter(_threshold_cond(metric, score_threshold))
    w = Window.partitionBy(qid_col).orderBy(*score_order(metric, id_col=id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def _masked_code_topk(frame, *, code_col, id_col, qids, Q, cluster_q,
                      k, metric, vec_decode=None, qid_col="__qid",
                      qid_type=None):
    """Cluster-masked batched scan — the one IVF batch kernel: ONE pass
    over a (probe-union-pruned) frame carrying ``__cluster`` in which
    each cluster block scores against ONLY the queries that probed it
    (``cluster_q``: cluster -> row indices into ``Q``). Float vectors
    reshape from the flat Arrow buffer; ``vec_decode`` (the quantized
    decode table's hook) decodes codes of any kind. Per-partition
    per-query top-k, then the exact (score direction, id) window, so a
    full probe equals the exact batch scan and candidates match the
    single-request plans bit-for-bit."""
    import numpy as np

    sc = frame.sparkSession.sparkContext
    bq = sc.broadcast((np.asarray(qids), np.asarray(Q, dtype=np.float64),
                       cluster_q))
    bigger = larger_is_better(metric)
    sel = frame.select(id_col, code_col, "__cluster")
    out_schema = T.StructType([
        T.StructField(qid_col, qid_type or T.LongType()),
        T.StructField(id_col, sel.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])

    def score_batches(batches: Iterator) -> Iterator:
        import pyarrow as pa

        qid_arr, Qm, cq = bq.value
        acc_q, acc_i, acc_s = [], [], []
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vec = batch.column(1)
            if isinstance(vec, pa.ChunkedArray):
                vec = vec.combine_chunks()
            if vec_decode is not None:
                M = vec_decode(vec, n)
            else:
                M = vec.flatten().to_numpy(zero_copy_only=False) \
                    .reshape(n, -1).astype(np.float64, copy=False)
            cl = batch.column(2).to_numpy(zero_copy_only=False)
            for c in np.unique(cl):
                qidx = cq.get(int(c))
                if qidx is None or len(qidx) == 0:
                    continue
                mask = cl == c
                S = score_block(M[mask], Qm[qidx], metric)
                rows, qcol = block_topk(S, k, bigger)
                acc_q.append(np.asarray(qidx)[qcol])
                acc_i.append(ids[mask][rows])
                acc_s.append(S[rows, qcol])
        if not acc_q:
            return
        qi, ii, ss = topk_rows(np.concatenate(acc_q), np.concatenate(acc_i),
                               np.concatenate(acc_s), k, bigger)
        yield pa.RecordBatch.from_arrays(
            [pa.array(qid_arr[qi]), pa.array(ii),
             pa.array(ss, type=pa.float64())],
            names=[qid_col, id_col, "score"],
        )

    scored = sel.mapInArrow(score_batches, out_schema)
    w = Window.partitionBy(qid_col).orderBy(
        *score_order(metric, id_col=id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def rowwise_score_topk(
    pairs: DataFrame,
    *,
    metric: str,
    k: int | None,
    qid_col: str = "qid",
    id_col: str = "id",
    vec_col: str = "vec",
    qvec_col: str = "qvec",
    score_threshold: float | None = None,
    threshold_inclusive: bool = False,
) -> DataFrame:
    """Score a pre-joined (qid, id, vec, qvec) pair table — the primitive
    for scoped joins (blocked similarity joins, candidate-pair verify)
    where each point meets only *some* queries, so broadcasting the full
    query matrix (`_matmul_knn`) would waste work.

    Arrow-native rowwise scoring: both vector columns reshape from flat
    Arrow buffers into (n, d) matrices, one vectorized einsum/norm per
    batch. With ``k`` set: per-batch per-query prune + exact final window
    (score direction, then id asc). With ``k=None``: all pairs passing
    ``score_threshold`` (applied inside the scorer, so non-matching pairs
    never leave the python worker). Interpreted Column math on array pairs
    is ~60x slower — never score pair tables with
    ``aggregate(zip_with(...))``."""
    import numpy as np

    bigger_better = larger_is_better(metric)
    sel = pairs.select(qid_col, id_col, vec_col, qvec_col)
    out_schema = T.StructType(
        [
            T.StructField(qid_col, sel.schema[qid_col].dataType),
            T.StructField(id_col, sel.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue

            def mat(col) -> "np.ndarray":
                if isinstance(col, pa.ChunkedArray):
                    col = col.combine_chunks()
                flat = col.flatten().to_numpy(zero_copy_only=False)
                return flat.reshape(n, -1).astype(np.float64, copy=False)

            qids = batch.column(0).to_numpy(zero_copy_only=False)
            ids = batch.column(1).to_numpy(zero_copy_only=False)
            V = mat(batch.column(2))
            Qm = mat(batch.column(3))
            if metric == "dot":
                s = np.einsum("ij,ij->i", V, Qm)
            elif metric == "cosine":
                s = np.einsum("ij,ij->i", V, Qm) / (
                    np.linalg.norm(V, axis=1) * np.linalg.norm(Qm, axis=1)
                )
            elif metric == "euclid":
                s = np.linalg.norm(V - Qm, axis=1)
            else:
                s = np.abs(V - Qm).sum(axis=1)
            if score_threshold is not None:
                if bigger_better:
                    keep = s >= score_threshold if threshold_inclusive else s > score_threshold
                else:
                    keep = s <= score_threshold if threshold_inclusive else s < score_threshold
                qids, ids, s = qids[keep], ids[keep], s[keep]
                if len(s) == 0:
                    continue
            if k is not None:
                # per-batch per-query top-k prune (exactness restored by
                # the final window); lexsort: qid major, then score, id
                qids, ids, s = topk_rows(qids, ids, s, k, bigger_better)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids), pa.array(ids),
                 pa.array(s, type=pa.float64())],
                names=[qid_col, id_col, "score"],
            )

    scored = sel.mapInArrow(score_batches, out_schema)
    if k is None:
        return scored
    w = Window.partitionBy(qid_col).orderBy(*score_order(metric, id_col=id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def _partial_topk(
    scored: DataFrame, metric: str, k: int, *, qid_col: str, id_col: str
) -> DataFrame:
    """Per-partition running top-k per query over Arrow batches.

    Reduces each points-partition to <= Q*k candidate rows BEFORE the
    per-query shuffle — the map-side-combine of top-k. Only the narrow
    (qid, id, score, ...) projection crosses the Python boundary.
    """
    bigger_better = larger_is_better(metric)
    schema = scored.schema
    cols = [f.name for f in schema.fields]

    def take_topk(batches: Iterator) -> Iterator:
        import pandas as pd

        cand: "pd.DataFrame | None" = None
        for pdf in batches:
            cand = pdf if cand is None else pd.concat([cand, pdf], ignore_index=True)
            # exact same ordering as the global window: (score dir, id asc)
            cand = (
                cand.sort_values(
                    ["score", id_col], ascending=[not bigger_better, True]
                )
                .groupby(qid_col, sort=False)
                .head(k)
                .reset_index(drop=True)
            )
        yield cand if cand is not None else pd.DataFrame(columns=cols)

    return scored.mapInPandas(take_topk, schema=schema)
