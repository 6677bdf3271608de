"""Continuous query serving and index-maintaining ingest.

Reference: qdrant's query path is a long-lived server loop — requests
arrive continuously and are answered against the live collection
(src/actix/api/query_api.rs; update visibility through proxy segments,
lib/collection/src/update_handler.rs:88-191). Spark has no serving
daemon, so the Spark-first analogue inverts the roles: the REQUESTS are
the stream. ``readStream`` over arriving (qid, qvec) rows →
``foreachBatch`` answering the whole micro-batch with ONE ``knn_batch``
plan against the corpus snapshot current at batch start → append the
ranked hits to a results table. The checkpoint gives exactly-once per
request batch; visibility is read-your-acknowledged-writes, the same
contract as the ingest side (streaming/ingest.py).

Batching requests this way is also the right 100-TB shape: one block-
matmul scan of the corpus amortized over every request in the trigger
interval, instead of one scan per request — the same reason the batch
API (``knn_batch``, ann.ivf_search_batch) exists at all.

The ingest twin keeps the ANN index fresh while points stream in:
``start_ivf_upsert_stream`` cluster-assigns each micro-batch against
FROZEN centroids (``ivf_from_centroids`` — a codegen'd argmin, map-only,
no KMeans refit) before the upsert, so the live snapshot always carries
``__cluster`` and ``ivf_search`` over it prunes exactly like a batch-built
index. Centroids refit out-of-band, the same way the reference rebuilds
quantized/HNSW segments outside the update path.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qdrant_spark.operators.knn import knn_batch
from qdrant_spark.streaming.ingest import ParquetPointsSink, start_upsert_stream


def start_search_stream(
    queries_stream: DataFrame,
    corpus: DataFrame | Callable[[], DataFrame | None],
    *,
    results_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    flt: dict[str, Any] | None = None,
    search_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Answer a stream of search requests; returns the StreamingQuery.

    ``corpus`` is either a static DataFrame or a zero-arg callable
    returning the current snapshot (e.g. ``ParquetPointsSink.read`` — a
    LIVE corpus: each micro-batch re-resolves it, so requests see every
    batch the ingest stream has committed). ``search_fn`` overrides the
    default exact ``knn_batch`` with any (corpus, request_batch) →
    DataFrame plan — e.g. ``ivf_search_batch`` over a streamed index, or
    a ``universal_query`` hybrid. Results land in ``results_dir`` as
    (qid, id, score, rank, __batch_id) appends: an at-least-once results
    log keyed by qid, replay-safe because reruns of a batch rewrite the
    same deterministic hits.
    """

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        corpus_df = corpus() if callable(corpus) else corpus
        if corpus_df is None:  # requests before the first ingest commit
            return
        if search_fn is not None:
            res = search_fn(corpus_df, batch_df)
        else:
            res = knn_batch(
                corpus_df, batch_df, metric=metric, k=k,
                id_col=id_col, vec_col=vec_col,
                qid_col=qid_col, qvec_col=qvec_col, flt=flt,
            )
        (res.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("append").parquet(results_dir))

    writer = (
        queries_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(do_batch)
    )
    writer = writer.trigger(**trigger) if trigger else writer.trigger(availableNow=True)
    return writer.start()


def start_ivf_upsert_stream(
    stream_df: DataFrame,
    sink: ParquetPointsSink,
    centroids: np.ndarray,
    *,
    checkpoint_dir: str,
    vec_col: str = "vec",
    trigger: dict[str, Any] | None = None,
):
    """Upsert stream whose snapshot stays IVF-indexed: each micro-batch is
    cluster-assigned against the frozen ``centroids`` (map-only argmin,
    ann.ivf_from_centroids) before the versioned upsert, so
    ``live_ivf_index(sink, centroids)`` is always searchable and prunes
    like a batch-built index. Returns the StreamingQuery."""
    from qdrant_spark.operators.ann import ivf_from_centroids

    cents = np.asarray(centroids)

    def assign(batch_df: DataFrame) -> DataFrame:
        return ivf_from_centroids(
            batch_df, cents, vec_col=vec_col, id_col=sink.id_col,
        ).assigned

    return start_upsert_stream(
        stream_df, sink, checkpoint_dir=checkpoint_dir,
        trigger=trigger, transform=assign,
    )


class SparsePairsSink(ParquetPointsSink):
    """Maintains the EXPLODED ``(id, dim, v)`` inverted-index pairs
    snapshot under streaming upserts. A point upsert REPLACES its whole
    posting set — remove every old pair of the batch's ids, append the
    new pairs — exactly how the reference's sparse inverted index applies
    an update (lib/sparse/src/index/inverted_index: old posting elements
    of the point are dropped, new ones inserted). ``upsert_points`` can't
    do this (it keeps one row per id); hence the dedicated merge keyed on
    the PRE-explode batch ids, so a point re-upserted with an empty
    sparse vector correctly clears its postings."""

    def apply_pairs(self, pairs_df: DataFrame, ids_df: DataFrame,
                    batch_id: int) -> None:
        prev = self._incremental_prev()
        if prev is not None:
            # id-bucketed incremental commit (r15): every old pair of a
            # batch id lives in that id's hash bucket, so the
            # replace-posting-set merge is complete over the dirty
            # buckets alone; dirtiness keys on ids_df (EVERY batch id —
            # a point re-upserted with no pairs still clears its old
            # ones), clean buckets carry over by hardlink.
            self._commit_incremental(
                ids_df, batch_id, prev,
                lambda cur_dirty: cur_dirty
                .join(ids_df, on=self.id_col, how="left_anti")
                .unionByName(pairs_df))
            return
        current = self.read()
        if current is None:
            merged = pairs_df
        else:
            kept = current.join(ids_df, on=self.id_col, how="left_anti")
            merged = kept.unionByName(pairs_df)
        self._commit(merged, batch_id)


def start_sparse_index_stream(
    points_stream: DataFrame,
    pairs_sink: SparsePairsSink,
    *,
    checkpoint_dir: str,
    indices_col: str = "sparse_indices",
    values_col: str = "sparse_values",
    trigger: dict[str, Any] | None = None,
):
    """Ingest stream that keeps the sparse inverted index fresh: each
    micro-batch of points explodes to its ``(id, dim, v)`` pairs (the
    map-only ingest-time cost the reference pays in its sparse indexer)
    and replaces those ids' posting sets in the pairs snapshot.
    ``live_sparse_index(pairs_sink)`` is then always searchable with
    ``sparse_knn_index`` / registrable as ``QueryPlanner(sparse_indexes=)``
    — the streaming twin of ``start_ivf_upsert_stream``. Returns the
    StreamingQuery."""
    from qdrant_spark.operators.sparse import _explode_pairs

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = batch_df.select(pairs_sink.id_col).distinct()
        pairs = _explode_pairs(batch_df, pairs_sink.id_col,
                               indices_col, values_col)
        pairs_sink.apply_pairs(pairs, ids, batch_id)

    writer = (
        points_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(do_batch)
    )
    writer = writer.trigger(**trigger) if trigger else writer.trigger(availableNow=True)
    return writer.start()


def live_sparse_index(pairs_sink: SparsePairsSink):
    """The current pairs snapshot as a searchable ``SparseIndex`` (None
    before the first commit)."""
    from qdrant_spark.operators.sparse import SparseIndex

    snap = pairs_sink.read()
    if snap is None:
        return None
    return SparseIndex(pairs=snap, id_col=pairs_sink.id_col)


def live_ivf_index(
    sink: ParquetPointsSink,
    centroids: np.ndarray,
    *,
    vec_col: str = "vec",
):
    """The current snapshot as a searchable ``IvfIndex`` (None before the
    first commit). Pair with ``ivf_search`` / ``ivf_search_batch``."""
    from qdrant_spark.operators.ann import IvfIndex

    snap = sink.read()
    if snap is None:
        return None
    return IvfIndex(
        assigned=snap, centroids=np.asarray(centroids),
        vec_col=vec_col, id_col=sink.id_col,
    )


def start_quant_upsert_stream(
    stream_df: DataFrame,
    sink: ParquetPointsSink,
    handle,
    *,
    checkpoint_dir: str,
    trigger: dict[str, Any] | None = None,
):
    """Upsert stream whose snapshot stays QUANTIZED: each micro-batch is
    encoded with the handle's FROZEN encoder state (quantize.encode_quant
    — map-only, no re-training; the quantization twin of
    start_ivf_upsert_stream's frozen-centroid assign), so
    ``live_quant_handle(sink, handle)`` is always searchable
    coarse+rescore like a batch-built index. The handle is only the
    encoder-state carrier here; its own frames are not touched. Returns
    the StreamingQuery."""
    from qdrant_spark.operators.quantize import encode_quant

    def encode(batch_df: DataFrame) -> DataFrame:
        return encode_quant(handle, batch_df)

    return start_upsert_stream(
        stream_df, sink, checkpoint_dir=checkpoint_dir,
        trigger=trigger, transform=encode,
    )


def live_quant_handle(sink: ParquetPointsSink, handle):
    """The current snapshot as a searchable QuantHandle (None before the
    first commit): codes AND full-precision vectors live in the snapshot,
    so the coarse stage column-prunes to the code column and the rescore
    reads the floats from the same table. Pair with quant_search."""
    from dataclasses import replace

    from qdrant_spark.operators.quantize import QuantHandle

    snap = sink.read()
    if snap is None:
        return None
    idx = replace(handle.index, full=None, **(
        {"packed": snap} if handle.kind == "binary" else {"codes": snap}))
    return QuantHandle(kind=handle.kind, index=idx,
                       oversampling=handle.oversampling,
                       full_scan_threshold=handle.full_scan_threshold)


def start_maxsim_quant_upsert_stream(
    stream_df: DataFrame,
    sink: ParquetPointsSink,
    index,
    *,
    checkpoint_dir: str,
    trigger: dict[str, Any] | None = None,
):
    """Upsert stream whose snapshot stays MULTIVECTOR-QUANTIZED: each
    micro-batch's tokens are encoded with the index's FROZEN state
    (multivec.encode_maxsim — map-only, no re-fitting; works for the
    scalar and binary token codes alike), so
    ``live_maxsim_quant_index(sink, index)`` is always searchable
    coarse+rescore like a batch-built index. The index is only the
    encoder-state carrier here; its own frames are not touched."""
    from qdrant_spark.operators.multivec import encode_maxsim

    def encode(batch_df: DataFrame) -> DataFrame:
        return encode_maxsim(index, batch_df)

    return start_upsert_stream(
        stream_df, sink, checkpoint_dir=checkpoint_dir,
        trigger=trigger, transform=encode,
    )


def live_maxsim_quant_index(sink: ParquetPointsSink, index):
    """The current snapshot as a searchable quantized-multivector index
    (None before the first commit): token codes AND float tokens live in
    the snapshot, so the coarse stage column-prunes to the code column
    and the rescore reads the floats from the same table. Pair with
    maxsim_knn_quant."""
    from dataclasses import replace

    snap = sink.read()
    if snap is None:
        return None
    return replace(index, codes=snap, points=snap)


class MaxSimInvlistSink(SparsePairsSink):
    """Maintains the multivector INVLIST snapshot under streaming
    upserts: one full row per distinct (doc, token-cluster), committed
    parquet-PARTITIONED by ``__cluster`` so the live index's probes
    prune files like a batch-persisted layout
    (multivec.persist_maxsim_ivf_points). A point upsert REPLACES its
    whole copy set — drop every old (id, cluster) row of the batch's
    ids, append the new ones — the SparsePairsSink merge shape (the
    reference's inverted indexes apply updates the same way), which
    ``upsert_points`` can't express (it keeps one row per id and this
    layout is deliberately multi-row). Because the snapshot rows ARE the
    live floats, the batch layout's frozen-corpus staleness
    (plans.maintenance.ensure_maxsim_index's corpus_signature caveat)
    does not arise here: an update rewrites the copies in the same
    commit."""

    def __init__(self, *args, **kwargs):
        kwargs.setdefault("partition_cols", ("__cluster",))
        super().__init__(*args, **kwargs)


def start_maxsim_ivf_upsert_stream(
    points_stream: DataFrame,
    sink: MaxSimInvlistSink,
    centroids: np.ndarray,
    *,
    checkpoint_dir: str,
    mv_col: str = "mv",
    trigger: dict[str, Any] | None = None,
):
    """Ingest stream that keeps the multivector INVLIST fresh (r14 —
    closes the lifecycle gap where only direct ensure_maxsim_index
    callers got the layout): each micro-batch's tokens are assigned to
    the FROZEN token-space ``centroids`` (map-only argmin,
    ann.ivf_from_centroids — no KMeans refit, the
    start_ivf_upsert_stream posture), collapsed to distinct (id,
    cluster) memberships, joined back to the batch rows (one full-row
    copy per membership) and merged into the cluster-partitioned
    snapshot. ``live_maxsim_ivf_index(sink, centroids)`` is then always
    searchable through maxsim_knn_ivf's partition-pruned invlist scan,
    exactly like a batch-built index. Centroids refit out-of-band, as
    the reference rebuilds index segments outside the update path.
    Returns the StreamingQuery."""
    from qdrant_spark.operators.ann import ivf_from_centroids

    cents = np.asarray(centroids)

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        ids = batch_df.select(sink.id_col).distinct()
        base = batch_df.filter(
            F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
        toks = base.select(sink.id_col, F.explode(mv_col).alias("__tok"))
        memb = (ivf_from_centroids(toks, cents, vec_col="__tok",
                                   id_col=sink.id_col)
                .assigned.select(sink.id_col, "__cluster").distinct())
        rows = base.join(memb, sink.id_col)
        # ids covers EVERY batch id (null/empty multivectors included),
        # so a point re-upserted without tokens clears its copies
        sink.apply_pairs(rows, ids, batch_id)

    writer = (
        points_stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(do_batch)
    )
    writer = writer.trigger(**trigger) if trigger \
        else writer.trigger(availableNow=True)
    return writer.start()


def live_maxsim_ivf_index(
    sink: MaxSimInvlistSink,
    centroids: np.ndarray,
    *,
    mv_col: str = "mv",
):
    """The current invlist snapshot as a searchable ``MaxSimIvf`` (None
    before the first commit): ``clustered_points`` is the snapshot
    itself (partition-pruned probes), ``tokens`` its distinct (id,
    cluster) projection — bit-identical for both the membership stage
    and the PLAID centroid-resolution cap, which scores the max over a
    doc's probed CLUSTERS (duplicate token rows in one cluster
    contribute the same max). Pair with maxsim_knn_ivf or register as
    ``QueryPlanner(maxsim_indexes=...)`` — the planner then prefers the
    invlist route (r14)."""
    from qdrant_spark.operators.multivec import MaxSimIvf

    snap = sink.read()
    if snap is None:
        return None
    return MaxSimIvf(
        tokens=snap.select(sink.id_col, "__cluster"),
        centroids=np.asarray(centroids),
        points=snap.drop("__cluster").dropDuplicates([sink.id_col]),
        mv_col=mv_col, id_col=sink.id_col,
        clustered_points=snap)


def start_quant_ivf_upsert_stream(
    stream_df: DataFrame,
    sink: ParquetPointsSink,
    centroids: np.ndarray,
    handle,
    *,
    checkpoint_dir: str,
    vec_col: str = "vec",
    trigger: dict[str, Any] | None = None,
):
    """Upsert stream whose snapshot stays a COMPOSED quant x IVF layout
    (r14 — the dense twin of start_maxsim_ivf_upsert_stream; before
    this the streaming ingest never built clustered_full at all): each
    micro-batch is cluster-assigned against the FROZEN ``centroids``
    AND encoded with the handle's FROZEN quantizer state (both
    map-only; centroids/encoders refit out-of-band, as the reference
    rebuilds quantized segments outside the update path). Create the
    sink with ``partition_cols=("__cluster",)`` so every snapshot
    commits cluster-partitioned — ``live_quant_ivf_handle`` then probes
    with file-level pruning on BOTH the coarse codes and the exact
    rescore, exactly like a batch-built persisted index. Returns the
    StreamingQuery."""
    from qdrant_spark.operators.ann import ivf_from_centroids
    from qdrant_spark.operators.quantize import encode_quant

    cents = np.asarray(centroids)

    def transform(batch_df: DataFrame) -> DataFrame:
        assigned = ivf_from_centroids(
            batch_df, cents, vec_col=vec_col, id_col=sink.id_col,
        ).assigned
        return encode_quant(handle, assigned)

    return start_upsert_stream(
        stream_df, sink, checkpoint_dir=checkpoint_dir,
        trigger=trigger, transform=transform,
    )


def live_quant_ivf_handle(
    sink: ParquetPointsSink,
    centroids: np.ndarray,
    handle,
    *,
    nprobe: int = 4,
):
    """The current snapshot as a searchable ``QuantIvfHandle`` (None
    before the first commit): ``coded`` is the snapshot's (id,
    __cluster, code) projection and ``clustered_full`` the snapshot
    itself, so ``quant_ivf_search`` probes prune files on both stages
    when the sink commits cluster-partitioned. ``handle`` carries only
    the frozen encoder state; its own frames are not touched."""
    from dataclasses import replace

    from qdrant_spark.operators.quantize import QuantHandle, QuantIvfHandle

    snap = sink.read()
    if snap is None:
        return None
    code_cols = handle.code_cols()
    coded = snap.select(sink.id_col, "__cluster", *code_cols)
    base = snap.drop("__cluster")
    idx = replace(handle.index, full=base, **(
        {"packed": coded.drop("__cluster")} if handle.kind == "binary"
        else {"codes": coded.drop("__cluster")}))
    h2 = QuantHandle(kind=handle.kind, index=idx,
                     oversampling=handle.oversampling,
                     full_scan_threshold=handle.full_scan_threshold)
    return QuantIvfHandle(
        handle=h2, centroids=np.asarray(centroids), coded=coded,
        nprobe=nprobe, clustered_full=snap)
