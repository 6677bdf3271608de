"""Multivector (late-interaction / ColBERT-style) KNN at corpus scale.

MaxSim semantics (MultiVectorComparator::MaxSim, lib/segment/src/types.rs:
2055-2084; scorers lib/segment/src/vector_storage/query_scorer/
multi_metric_query_scorer.rs): score(Q, D) = sum over q in Q of
max over d in D of sim(q, d).

Every token storage kind scores through ONE scan kernel and ONE pair
kernel; only the per-kind decode hook (:func:`_mv_quant_prep`) differs.
The hook maps an Arrow batch's first-level-flattened token column(s) to
a float64 (tokens, dim) matrix in scoring space: float tokens decode by
identity (cosine-normalized, zero rows guarded), int8 / packed-bit / PQ
/ TurboQuant codes by their reconstruction — the same contract as the
reference's vector-kind-agnostic quantized scorers
(quantized_vectors.rs).

- Scan kernel (:func:`_maxsim_scan`, per-batch body
  :func:`maxsim_batch_topk`): all query tokens concatenate into one
  matrix; each batch runs one BLAS call per 128 query tokens,
  ``np.maximum.reduceat`` over the Arrow list offsets (per-doc segment
  max, no per-doc python loop) and ``np.add.reduceat`` over the query
  token columns (per-query sum), then cuts a per-batch per-query top-k
  in the final (score desc, id asc) order. :func:`maxsim_knn` finishes
  it with one global top-k (TakeOrderedAndProject);
  :func:`maxsim_knn_batch` and :func:`maxsim_quant_coarse_batch` with a
  per-query window.
- Pair kernel (:func:`maxsim_quant_pair_topk`): scores a (qid, id)
  candidate pair set, each doc only against its own query, with the
  same :func:`maxsim_scores` arithmetic; :func:`maxsim_pair_topk` is its
  float-token call.

The Column implementation (functions/distances.maxsim) nests two
higher-order functions and runs interpreted — fine for a rescore of a
bounded candidate set, wrong for a corpus scan.
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


from qdrant_spark.operators.knn import score_order


def _norm_rows(M: np.ndarray) -> np.ndarray:
    """Cosine row normalization; an all-zero row stays zero (it scores
    0 against everything instead of NaN)."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return M / n


def maxsim_scores(Tm: np.ndarray, starts: np.ndarray, Q: np.ndarray,
                  qstarts: np.ndarray) -> np.ndarray:
    """(docs, queries) MaxSim sums, NumPy only. ``Tm`` stacks the docs'
    token rows (doc i owns the rows from ``starts[i]`` to the next
    start; no doc is empty), ``Q`` stacks every query's token rows the
    same way with ``qstarts``. Per-doc segment max over doc tokens, then
    per-query sum over its token columns. The query axis runs in chunks
    of 128 tokens: the full (batch_tokens x all_qtokens) matrix would be
    100s of MB per worker at 64 queries (first-rep GC thrash measured
    40 s), and the segment max shrinks each chunk to (docs, chunk) before
    the next BLAS call."""
    chunk = 128
    blocks = []
    for c0 in range(0, Q.shape[0], chunk):
        S = Tm @ Q[c0:c0 + chunk].T            # (tokens, <=chunk)
        blocks.append(np.maximum.reduceat(S, starts, axis=0))
    M = blocks[0] if len(blocks) == 1 \
        else np.concatenate(blocks, axis=1)    # (docs, qtokens)
    return np.add.reduceat(M, qstarts, axis=1)


def maxsim_batch_topk(ids: np.ndarray, Tm: np.ndarray, tok_off: np.ndarray,
                      Q: np.ndarray, qstarts: np.ndarray,
                      offsets: np.ndarray, scales: np.ndarray, k: int,
                      dedup_ids: bool):
    """The per-Arrow-batch body of the scan kernel, NumPy only: MaxSim of
    the batch's docs (token rows ``Tm``, Arrow list offsets ``tok_off``)
    against every query, the per-query affine finish ``(maxsim + offset)
    * scale`` (identity except asymmetric binary codes, see
    :func:`_mv_quant_prep`), optional in-batch id dedup, and the
    per-query top-``k``. Returns (qid, id, score) arrays."""
    starts = tok_off[:-1] - tok_off[0]
    assert (np.diff(tok_off) > 0).all()  # empty docs never reach a scan
    scores = (maxsim_scores(Tm, starts, Q, qstarts) + offsets) * scales
    n, nq = scores.shape
    if dedup_ids:
        # invlist copies score identically — keep one per doc BEFORE the
        # cut so copies can't crowd out distinct docs
        _, keep = np.unique(ids, return_index=True)
        if len(keep) < n:
            ids, scores, n = ids[keep], scores[keep], len(keep)
    kk = min(k, n)
    if kk < n:
        # per-batch top-k must follow the SAME total order as the final
        # ranking — (score desc, id asc) — or tied boundary docs (endemic
        # for integer-valued binary coarse scores) get dropped by
        # argpartition's arbitrary tie choice before the finish sees them
        sel_rows, sel_q = [], []
        for j in range(nq):
            s = scores[:, j]
            part = np.argpartition(-s, kk - 1)[:kk]
            kth = s[part].min()
            strict = np.where(s > kth)[0]
            tied = np.where(s == kth)[0]
            tied = tied[np.argsort(ids[tied], kind="stable")][
                :kk - len(strict)]
            rows_j = np.concatenate([strict, tied])
            sel_rows.append(rows_j)
            sel_q.append(np.full(len(rows_j), j, dtype=np.int64))
        rows = np.concatenate(sel_rows)
        qid = np.concatenate(sel_q)
    else:
        rows = np.tile(np.arange(n), nq)
        qid = np.repeat(np.arange(nq, dtype=np.int64), n)
    return qid, ids[rows], scores[rows, qid]


def _batch_tokens(batch, first: int, ncols: int):
    """One Arrow batch's token-list columns ``first .. first+ncols-1``
    flattened one level (doc -> token), plus the shared outer list
    offsets."""
    import pyarrow as pa

    flats, tok_off = [], None
    for ci in range(first, first + ncols):
        col = batch.column(ci)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if tok_off is None:
            tok_off = col.offsets.to_numpy(zero_copy_only=False)
        flats.append(col.flatten())
    return flats, tok_off


def _maxsim_scan(sel: DataFrame, Qtoks, decode, offsets, scales, k: int,
                 dedup_ids: bool) -> DataFrame:
    """THE MaxSim scan kernel: one ``mapInArrow`` pass over ``sel`` (id,
    then the token column(s) ``decode`` reads) scoring a batch of
    queries per Arrow batch via :func:`maxsim_batch_topk`. Returns the
    per-batch top-k (__qid, id, score) rows; callers finish with a global
    top-k or a per-query window."""
    Qall = np.concatenate(Qtoks, axis=0)
    # per-query token column offsets for the reduceat over columns
    qstarts = np.cumsum([0] + [len(t) for t in Qtoks[:-1]])
    # broadcast only the plain arrays (sc.broadcast pickles with the
    # stock pickler, which can't take the per-kind decode closure); the
    # decode fn + its encoder state ride the cloudpickled task closure
    bq = sel.sparkSession.sparkContext.broadcast(
        (Qall, qstarts, offsets, scales))
    id_col = sel.columns[0]
    ncols = len(sel.columns) - 1
    out_schema = T.StructType([
        T.StructField("__qid", T.LongType()),
        T.StructField(id_col, sel.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])

    def score_batches(batches: Iterator) -> Iterator:
        import pyarrow as pa

        Qm, qs, offs, scl = bq.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            flats, tok_off = _batch_tokens(batch, 1, ncols)
            qid, hit, score = maxsim_batch_topk(
                ids, decode(flats), tok_off, Qm, qs, offs, scl, k,
                dedup_ids)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qid), pa.array(hit),
                 pa.array(score, type=pa.float64())],
                names=["__qid", id_col, "score"],
            )

    return sel.mapInArrow(score_batches, out_schema)


def maxsim_knn(
    points: DataFrame,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    metric: str = "dot",
    mv_col: str = "mv",
    id_col: str = "id",
    dedup_ids: bool = False,
) -> DataFrame:
    """Top-k by MaxSim of an ``array<array<float>>`` column against a query
    multivector. ``metric``: dot or cosine (both larger-is-better, as the
    reference restricts multivectors to sim metrics). ``dedup_ids`` keeps
    one row per id after scoring (for the invlist layout, where a doc is
    stored once per token cluster). The scan kernel with one query and
    the identity decode, finished by one global top-k."""
    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    sel, Qtoks, decode, offsets, scales = _mv_quant_prep(
        points.select(id_col, mv_col), [query_multivector], metric)
    scored = _maxsim_scan(sel, Qtoks, decode, offsets, scales, k,
                          dedup_ids).select(id_col, "score")
    if dedup_ids:
        # invlist layout stores one row per (doc, token-cluster): a doc
        # probed through several clusters scores identically on each
        # copy — dedup the NARROW (id, score) frame, never the floats
        scored = scored.dropDuplicates([id_col])
    # single global top-k: TakeOrderedAndProject, no shuffle of scored rows
    return scored.orderBy(*score_order(metric, id_col=id_col)).limit(k)


# ---------------------------------------------------------------------------
# Coarse stage: token-level IVF (PLAID-style) + exact MaxSim over candidates
# ---------------------------------------------------------------------------

from dataclasses import dataclass  # noqa: E402


@dataclass
class MaxSimIvf:
    """Token-cluster index for pruned MaxSim. ``tokens`` is the exploded
    (id, __cluster) frame — one row per stored token vector, clustered in
    TOKEN space; ``points`` is the original multivector corpus for the
    exact rescore. At scale persist ``tokens`` partitioned by
    ``__cluster`` (only the id column is ever read from it) and the probe
    becomes directory pruning."""

    tokens: DataFrame      # (id, __cluster), one row per token
    centroids: np.ndarray  # (n_clusters, dim) token-space centroids
    points: DataFrame
    mv_col: str
    id_col: str
    #: optional invlist layout from :func:`persist_maxsim_ivf_points`:
    #: the FULL multivector rows stored once per distinct (doc, token
    #: cluster), parquet-partitioned by ``__cluster`` — probing then
    #: prunes the float-token SCAN at the file level instead of only the
    #: BLAS work (a candidate semi-join against a flat table still
    #: decodes every row's tokens; decode dominated the pruned route at
    #: 2M docs). The PLAID/ColBERTv2 posting layout.
    clustered_points: DataFrame | None = None
    #: optional invlist layout of the composed route's token CODES from
    #: :func:`persist_maxsim_quant_codes`: one (id, code) row per
    #: distinct (doc, token cluster), partitioned by ``__cluster`` — the
    #: composed coarse stage then reads ONLY the probed clusters' code
    #: FILES instead of semi-joining the flat codes table (the r13
    #: decode-dominance finding applied to the narrow side; the win is
    #: smaller than the float invlist's but the same shape). Only the
    #: composed route (maxsim_knn_quant_ivf) reads it.
    clustered_codes: DataFrame | None = None
    #: memoized per-cluster token row counts (index METADATA — the
    #: partition sizes of the persisted layout): one narrow count over
    #: the id-only token table on first use, then free. Feeds the
    #: membership-fraction estimate (:func:`maxsim_membership_fraction`)
    #: that drives ``MaxSimRoute.degrade_membership``.
    cluster_counts: dict[int, int] | None = None


#: Exact-vs-pruned crossover for a ROUTED MaxSim leaf, in DOCS. The bench
#: measured the pruned path 3.4x SLOWER than the exact one-pass BLAS scan
#: at 512k docs x 8 tokens (maxsim_ivf_xxl_disk 2.12s vs maxsim_xxl_disk
#: 0.62s, r10) — the candidate stage's posexplode + two aggregations over
#: probed token rows cost more than the scan they avoid while the corpus
#: still fits memory bandwidth. The pruned plan's win is IO at scale: an
#: id-only token table (~12 B/token, partition-pruned to nprobe/K) plus a
#: capped exact stage, vs full float tokens (4*dim B/token). Default sits
#: 4x above the measured break-even side; tune per deployment via
#: MaxSimRoute.full_scan_threshold (0 = always prune, the pre-r11
#: behavior). The same crossover idea as dispatch.FULL_SCAN_THRESHOLD for
#: dense leaves, calibrated for MaxSim's heavier candidate stage.
#:
#: The pruned side is measured too, on data where pruning CAN pay: the
#: bench appendix's maxsim_clustered_pruning corpus (512k docs whose 8
#: tokens each come from one of 64 topic blobs — the topically-coherent
#: shape of real ColBERT corpora, and the structured-data recall setup of
#: the reference's multivector_hnsw_test.rs). There nprobe=4 membership
#: admits ~5-14% of docs, and with the INVLIST layout
#: (:func:`persist_maxsim_ivf_points` — probing prunes the float SCAN at
#: the file level, not just the BLAS) the route beats the exact scan at
#: recall@10 = 1.0: 512k docs 0.70s vs exact 0.96s, 2M docs 1.11s vs
#: 2.75s (r13, settled 32-cpu box; bench.py
#: maxsim_{exact,ivf,ivf_invlist,sq_ivf}_clustered_xxl_disk). Without
#: the layout, membership pruning saves BLAS but still DECODES every
#: row's tokens through the semi-join, and the page-cached exact scan
#: wins at every buildable size. The headline mv corpus (near-uniform
#: token slices, ~99.6% membership) is the adversarial bound, not the
#: typical case.
MAXSIM_FULL_SCAN_THRESHOLD = 2_000_000


@dataclass
class MaxSimRoute:
    """A registered multivector coarse index plus its routing knobs, as
    passed to ``QueryPlanner(maxsim_indexes={vec_col: route})`` — the
    declared-index analogue the reference gets from building HNSW over
    multivector storage (multivector_hnsw_test.rs). ``nprobe ==
    n_clusters`` with ``candidates=None`` reproduces the exact scan.

    ``full_scan_threshold`` (docs) is the exact-vs-pruned dispatch
    crossover: corpora below it take the exact Arrow scan even when the
    route is registered — None means the module default
    :data:`MAXSIM_FULL_SCAN_THRESHOLD`, 0 disables the check (always
    prune). ``n_docs`` caches the corpus size for that check; the
    planner counts once and memoizes when unset."""

    index: MaxSimIvf
    nprobe: int = 4
    candidates: int | None = None
    full_scan_threshold: int | None = None
    n_docs: int | None = None
    #: pruned-vs-pruned dispatch: when the index carries the INVLIST
    #: layout, the planner takes the plain invlist float route even if
    #: token CODES are also declared — at every measured size the
    #: composed probe→coarse-over-codes→rescore ladder loses to reading
    #: the probed partitions' floats directly (r13 idle-box: composed
    #: 1.83 s vs invlist 0.53 s at 2M docs, 1.69 vs 0.66 s at 512k,
    #: recall@10 = 1.0 both) — the coarse code stage only plausibly pays
    #: when the probed float partitions are cold-IO-bound and the 1-4
    #: bit/dim codes are not. Set True to request the composed ladder
    #: anyway for that regime; without the invlist layout the composed
    #: route remains the default (codes beat the FLAT float semi-join).
    prefer_composed: bool = False
    #: data-dependent degrade of the composed ladder (r15, opt-in): when
    #: the ESTIMATED probe-union membership fraction of a request is >=
    #: this value, the candidate stage would admit (nearly) every doc —
    #: it prunes nothing while its pair fan-out and per-pair coarse
    #: kernel cost more than the quant-only fused scan they wrap (the
    #: bench's adversarial corpus: ~99.6% membership; the forced fused
    #: candidate ladder measured 8.5 s vs ~3 s for the quant-only fuse
    #: on the same 16-query batch). The planner then degrades those
    #: requests to the quant-only coarse+rescore
    #: (:func:`maxsim_knn_quant` / the fused
    #: ``maxsim_quant_coarse_batch`` group). The estimate
    #: (:func:`maxsim_membership_fraction`) is metadata-only (memoized
    #: per-cluster token counts) and errs toward KEEPING the composed
    #: route on topically-clustered corpora, where true membership sits
    #: far below the independence estimate. None (the default) never
    #: degrades, so existing declared plans are unchanged unless a route
    #: opts in. A PLAID ``candidates`` cap is dropped by the degrade
    #: (its centroid-resolution ranking is pointless when membership ~1
    #: makes its input the whole corpus), so degraded requests can only
    #: gain recall.
    degrade_membership: float | None = None

    @property
    def id_col(self) -> str:
        return self.index.id_col


def build_maxsim_ivf(
    points: DataFrame,
    *,
    n_clusters: int = 16,
    mv_col: str = "mv",
    id_col: str = "id",
    seed: int = 42,
    fit_fraction: float | None = None,
) -> MaxSimIvf:
    """Cluster the corpus's TOKEN vectors (explode + KMeans) — the
    ColBERTv2/PLAID centroid structure. The reference reaches the same
    goal by building HNSW over the multivector storage
    (multivector_hnsw_test.rs; MaxSim comparator types.rs:2080-2084):
    either way a ColBERT-style query prunes instead of scanning every
    doc's tokens. A doc is a candidate iff it owns at least one token in
    a probed cluster, which is exactly the condition under which it can
    contribute a large per-query-token max — so recall tracks nprobe far
    better than pooled-vector blocking."""
    from qdrant_spark.operators.ann import build_ivf

    exploded = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0)
    ).select(id_col, F.explode(mv_col).alias("__tok"))
    ivf = build_ivf(exploded, n_clusters=n_clusters, vec_col="__tok",
                    id_col=id_col, seed=seed, fit_fraction=fit_fraction)
    return MaxSimIvf(
        tokens=ivf.assigned.select(id_col, "__cluster"),
        centroids=ivf.centroids, points=points,
        mv_col=mv_col, id_col=id_col)


def persist_maxsim_ivf(index: MaxSimIvf, path: str) -> MaxSimIvf:
    """Materialize the (id, __cluster) token frame parquet-partitioned by
    ``__cluster`` — probing then reads only the probed clusters' FILES
    of an id-only table (the multivector analogue of ann.persist_ivf;
    lazily-computed assignments would re-run the assignment UDF over
    every token on every query)."""
    index.tokens.write.mode("overwrite").partitionBy("__cluster") \
        .parquet(path)
    spark = index.tokens.sparkSession
    return MaxSimIvf(
        tokens=spark.read.parquet(path),
        centroids=index.centroids, points=index.points,
        mv_col=index.mv_col, id_col=index.id_col)


def persist_maxsim_ivf_points(index: MaxSimIvf, path: str) -> MaxSimIvf:
    """Materialize the INVLIST layout: the full multivector rows joined
    to their distinct (id, __cluster) token memberships and
    parquet-partitioned by ``__cluster`` — each doc stored once per
    distinct cluster its tokens hit (≤ tokens/doc copies; ~1 on
    topically-coherent corpora). Probing then reads ONLY the probed
    clusters' FILES of the float tokens, the layout the reference's
    ColBERTv2/PLAID lineage stores its token postings in — a candidate
    semi-join against a flat table decodes every row's tokens, so
    membership pruning alone saved BLAS but not IO (measured: no win at
    2M docs until this layout). Candidates stay exact: a doc is scored
    off any stored copy (identical score) and deduped on the narrow
    (id, score) frame.

    The layout FREEZES the float corpus at persist time: the invlist
    route scores these stored copies while the flat route reads the
    live ``points`` frame, so an in-place vector mutation makes the two
    routes diverge until the layout re-persists. Lifecycle callers go
    through ``plans.maintenance.ensure_maxsim_index`` whose
    ``corpus_signature`` + content probe rebuilds on count-stable
    drift; the streaming twin (streaming.serve.MaxSimInvlistSink)
    rewrites copies in the same commit and cannot go stale."""
    dup = index.tokens.select(index.id_col, "__cluster").distinct()
    (index.points.join(dup, index.id_col)
        .write.mode("overwrite").partitionBy("__cluster").parquet(path))
    spark = index.points.sparkSession
    from dataclasses import replace

    return replace(index, clustered_points=spark.read.parquet(path))


def persist_maxsim_quant_codes(index: MaxSimIvf, qidx,
                               path: str) -> MaxSimIvf:
    """Materialize the composed route's CODES invlist: the quantized
    token codes (any kind — the qidx's code frame) joined to their
    distinct (id, __cluster) memberships and parquet-partitioned by
    ``__cluster``, one copy per distinct cluster a doc's tokens hit.
    The composed coarse stage (:func:`maxsim_knn_quant_ivf`) then reads
    ONLY the probed clusters' code FILES — membership needs no separate
    token-table scan and the flat-codes semi-join disappears (the same
    layout treatment r13 gave the float rescore side; reference lineage
    is the same ColBERTv2/PLAID posting layout, code-width compressed).
    Duplicate copies score identically and dedup inside the coarse
    kernel. Returns the route index re-pointed at the layout."""
    from dataclasses import replace

    dup = index.tokens.select(index.id_col, "__cluster").distinct()
    if index.id_col != qidx.id_col:
        dup = dup.withColumnRenamed(index.id_col, qidx.id_col)
    (qidx.codes.join(dup, qidx.id_col)
        .write.mode("overwrite").partitionBy("__cluster").parquet(path))
    spark = qidx.codes.sparkSession
    return replace(index, clustered_codes=spark.read.parquet(path))


def maxsim_knn_ivf(
    index: MaxSimIvf,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    metric: str = "dot",
    candidates: int | None = None,
) -> DataFrame:
    """Pruned MaxSim: each QUERY token probes its ``nprobe`` nearest
    token-space centroids (a driver-side argsort over the small centroid
    matrix); candidate docs = distinct ids owning a token in the probed
    union (a scan of the narrow (id, __cluster) frame — partition-pruned
    when persisted by cluster); the exact Arrow MaxSim scan then runs
    over ONLY the candidates via a semi-join. With
    ``nprobe == n_clusters`` and ``candidates=None`` every doc is a
    candidate and the result equals the full scan exactly.

    ``candidates`` adds the PLAID stage-2 cap: probed token rows are
    scored at CENTROID resolution (each row contributes the max over
    query tokens of q·centroid — one literal-array lookup per row,
    codegen'd), docs rank by their summed approximate contribution, and
    only the top ``candidates`` docs reach the exact scan. This is what
    makes the probe pay when corpora have many tokens per doc spread
    across clusters: membership alone barely prunes, the cap bounds the
    exact stage to candidates/N of the corpus regardless."""
    if index.clustered_points is not None:
        # invlist layout: the probe IS the scan — read only the probed
        # clusters' files of the float tokens (directory pruning), score
        # every stored copy, dedup the narrow (id, score) frame. Same
        # candidates as the membership semi-join, bit-for-bit.
        probes = _probe_clusters(index, query_multivector,
                                 nprobe=nprobe, metric=metric)
        src = (index.clustered_points
               .filter(F.col("__cluster").isin(probes))
               .drop("__cluster"))
        if candidates is not None:
            cand_ids = _maxsim_ivf_candidates(
                index, query_multivector, nprobe=nprobe, metric=metric,
                candidates=candidates)
            src = src.join(F.broadcast(cand_ids), index.id_col,
                           "left_semi")
        return maxsim_knn(src, query_multivector, k=k, metric=metric,
                          mv_col=index.mv_col, id_col=index.id_col,
                          dedup_ids=True)
    cand_ids = _maxsim_ivf_candidates(index, query_multivector,
                                      nprobe=nprobe, metric=metric,
                                      candidates=candidates)
    cand = _semi_join_candidates(index.points, cand_ids, index.id_col,
                                 bounded=candidates is not None)
    return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                      mv_col=index.mv_col, id_col=index.id_col)


#: Cap (in ids) under which a candidate-id frame broadcasts into its
#: semi-join against the float-token / code table. Catalyst can't
#: estimate the DISTINCT over probed token rows, so without the hint it
#: plans a SortMergeJoin that SHUFFLES the multivector column — measured
#: 12-36s vs the 3.1s exact scan at 2M docs on the clustered bench
#: corpus (r13), while the broadcast plan streams the big side map-only.
#: AQE can't save it: both child shuffles materialize before the join
#: re-plans. 8M ids ≈ 64 MB broadcast; membership sets bigger than that
#: mean the probe isn't pruning, which is exactly when the planner's
#: MAXSIM_FULL_SCAN_THRESHOLD crossover prefers the exact scan anyway.
MAXSIM_BROADCAST_IDS_MAX = 8_000_000


def _semi_join_candidates(big: DataFrame, cand_ids: DataFrame,
                          id_col: str, *, bounded: bool) -> DataFrame:
    """Semi-join ``big`` to a candidate-id frame without ever shuffling
    ``big``: broadcast the ids when their count is known-bounded (a
    PLAID cap / top-k limit) or measured under
    :data:`MAXSIM_BROADCAST_IDS_MAX` (one narrow count over the
    partition-pruned id-only table — sub-second where the avoided
    shuffle is tens of seconds)."""
    if bounded or cand_ids.count() <= MAXSIM_BROADCAST_IDS_MAX:
        cand_ids = F.broadcast(cand_ids)
    return big.join(cand_ids, id_col, "left_semi")


def _probe_clusters(index: MaxSimIvf, query_multivector, *,
                    nprobe: int, metric: str, return_q: bool = False):
    """Per-query-token probe: the ``nprobe`` centroid-nearest token
    clusters per token, unioned (a driver-side argsort over the small
    centroid matrix). Shared by the semi-join candidate stage and the
    invlist scan path."""
    Qm = np.asarray([list(t) for t in query_multivector], dtype=np.float64)
    if metric == "cosine":
        Qm = _norm_rows(Qm)
    # (tq, n_clusters) squared distances, top-nprobe per query token
    d2 = ((Qm[:, None, :] - index.centroids[None, :, :]) ** 2).sum(axis=2)
    per_tok = np.argsort(d2, axis=1)[:, :nprobe]
    probes = sorted({int(c) for row in per_tok for c in row})
    return (Qm, probes) if return_q else probes


def maxsim_membership_fraction(route: "MaxSimRoute", query_multivector,
                               *, metric: str = "dot") -> float:
    """Estimated fraction of docs owning >=1 token in the query's probe
    union — the quantity that decides whether the composed ladder's
    candidate stage prunes anything (see
    ``MaxSimRoute.degrade_membership``). Metadata-only: per-cluster
    token ROW counts of the id-only token table (memoized on the INDEX,
    so per-request routes over a long-lived index pay the one
    partition-column count job once) give
    the probed token mass m = probed_tokens/total_tokens, and with t̄ =
    total_tokens/n_docs tokens per doc the independence estimate is
    1 - (1-m)^t̄. Exact when doc tokens scatter independently across
    clusters (the near-uniform regime the degrade targets; bench mv
    corpus: est 0.996 vs measured ~0.996); topical corpora concentrate a
    doc's tokens in few clusters, which can only LOWER true membership
    relative to the probed mass spread — the estimate stays high only
    when the probes genuinely cover the corpus."""
    idx = route.index
    if idx.cluster_counts is None:
        idx.cluster_counts = {
            int(r["__cluster"]): int(r["cnt"])
            for r in idx.tokens.groupBy("__cluster")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    total = float(sum(idx.cluster_counts.values()))
    if total <= 0:
        return 0.0
    if route.n_docs is None:
        route.n_docs = idx.points.count()
    if not route.n_docs:
        return 0.0
    probes = _probe_clusters(idx, query_multivector,
                             nprobe=route.nprobe, metric=metric)
    mass = sum(idx.cluster_counts.get(int(c), 0) for c in probes) / total
    tbar = total / float(route.n_docs)
    est = 1.0 - (1.0 - min(1.0, mass)) ** tbar
    return float(min(1.0, max(0.0, est)))


def _maxsim_ivf_candidates(
    index: MaxSimIvf,
    query_multivector: Sequence[Sequence[float]],
    *,
    nprobe: int = 2,
    metric: str = "dot",
    candidates: int | None = None,
) -> DataFrame:
    """The candidate stage of :func:`maxsim_knn_ivf`, factored so the
    composed quantized route shares it: per-query-token probe, probed
    token membership (directory-pruned on the persisted layout), and the
    optional PLAID centroid-resolution cap. Returns the candidate-id
    frame."""
    Qm, probes = _probe_clusters(index, query_multivector,
                                 nprobe=nprobe, metric=metric,
                                 return_q=True)
    matched = index.tokens.filter(F.col("__cluster").isin(probes))
    if candidates is None:
        cand_ids = matched.select(index.id_col).distinct()
    else:
        # centroid-resolution MaxSim (ColBERTv2/PLAID candidate scoring):
        # approx(doc) = sum over QUERY tokens of max over the doc's
        # probed token rows of q_i · centroid(row). The per-cluster
        # q-score arrays ship as ONE map literal over the <=tq*nprobe
        # probed clusters; the per-(doc, q_i) maxes compute as tq max
        # aggregates in ONE groupBy on id — r11: was posexplode + two
        # aggregations, which shuffled tq x the probed token rows and
        # made the candidate stage the measured bottleneck of this plan.
        tq = Qm.shape[0]
        S = Qm @ index.centroids.T  # (tq, n_clusters)
        flat = []
        for c in probes:
            flat.append(F.lit(int(c)))
            flat.append(F.lit([float(x) for x in S[:, c]]))
        score_arr = F.element_at(F.create_map(*flat),
                                 F.col("__cluster").cast("int"))
        per_q = [F.max(F.element_at(F.col("__qs"), i + 1)).alias(f"__m{i}")
                 for i in range(tq)]
        total = per_q and sum(
            (F.col(f"__m{i}") for i in range(1, tq)),
            F.col("__m0"))
        cand_ids = (matched
                    .select(index.id_col, score_arr.alias("__qs"))
                    .groupBy(index.id_col)
                    .agg(*per_q)
                    .select(index.id_col, total.alias("__s"))
                    .orderBy(F.col("__s").desc(),
                             F.col(index.id_col).asc())
                    .limit(int(candidates))
                    .select(index.id_col))
    return cand_ids


def maxsim_knn_quant_ivf(
    route: MaxSimIvf,
    qidx,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    metric: str = "dot",
    candidates: int | None = None,
    oversampling: float | None = None,
    rescore: bool = True,
) -> DataFrame:
    """COMPOSED pruned + quantized MaxSim (r12 — the multivector twin
    of quantize.quant_ivf_search, and the full ColBERTv2/PLAID ladder):
    (1) each query token probes its nearest token clusters and candidate
    docs come off the id-only cluster-partitioned token table
    (directory pruning), optionally capped at centroid resolution;
    (2) the coarse MaxSim scan runs over ONLY the candidates' QUANTIZED
    token codes (any kind — the id semi-join lands on the 1-4 bit/dim
    table instead of the float tokens); (3) the exact rescore touches
    the ``k*oversampling`` survivors' float tokens. With
    ``nprobe == n_clusters``, no cap and ample oversampling the result
    equals the exact scan. The reference reaches the same composition
    with HNSW built over quantized multivector storage
    (hnsw.rs quantized scorer path; quantized_vectors.rs)."""
    from dataclasses import replace

    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    coarse_dedup = False
    if route.clustered_codes is not None:
        # CODES invlist (r14): the probed partitions' code FILES are
        # exactly the membership candidates — no token-table scan, no
        # flat-codes semi-join; a PLAID cap still ranks candidates at
        # centroid resolution and broadcasts the bounded id cut
        probes = _probe_clusters(route, query_multivector,
                                 nprobe=nprobe, metric=metric)
        src = (route.clustered_codes
               .filter(F.col("__cluster").isin(probes))
               .drop("__cluster"))
        if candidates is not None:
            cand_ids = _maxsim_ivf_candidates(
                route, query_multivector, nprobe=nprobe, metric=metric,
                candidates=candidates)
            if route.id_col != qidx.id_col:
                cand_ids = cand_ids.withColumnRenamed(route.id_col,
                                                      qidx.id_col)
            src = src.join(F.broadcast(cand_ids), qidx.id_col,
                           "left_semi")
        pruned = replace(qidx, codes=src)
        coarse_dedup = True  # one code copy per (doc, probed cluster)
    else:
        cand_ids = _maxsim_ivf_candidates(route, query_multivector,
                                          nprobe=nprobe, metric=metric,
                                          candidates=candidates)
        if route.id_col != qidx.id_col:
            cand_ids = cand_ids.withColumnRenamed(route.id_col,
                                                  qidx.id_col)
        pruned = replace(
            qidx, codes=_semi_join_candidates(
                qidx.codes, cand_ids, qidx.id_col,
                bounded=candidates is not None))
    over = float(qidx.oversampling if oversampling is None
                 else oversampling)
    n_coarse = max(k, int(np.ceil(k * over)))
    coarse = maxsim_quant_coarse_batch(pruned, [query_multivector],
                                       n_coarse, metric=metric,
                                       dedup_ids=coarse_dedup)
    if not rescore:
        return (coarse.filter(F.col("rank") <= k)
                .orderBy("rank").select(qidx.id_col, "score"))
    top_ids = F.broadcast(coarse.select(qidx.id_col))
    if route.clustered_points is not None:
        # invlist rescore (r13): the survivors all sit inside the probed
        # clusters (top ⊆ candidates ⊆ probes), so the float reads prune
        # to the probed partitions' FILES instead of decoding the whole
        # corpus through the semi-join; duplicate storage copies score
        # identically and dedup on the narrow (id, score) frame.
        probes = _probe_clusters(route, query_multivector,
                                 nprobe=nprobe, metric=metric)
        src = (route.clustered_points
               .filter(F.col("__cluster").isin(probes))
               .drop("__cluster"))
        # the invlist carries the ROUTE's column names — align them with
        # the quant index's when the two were built with different ones
        if route.id_col != qidx.id_col:
            src = src.withColumnRenamed(route.id_col, qidx.id_col)
        if route.mv_col != qidx.mv_col:
            src = src.withColumnRenamed(route.mv_col, qidx.mv_col)
        cand = src.join(top_ids, qidx.id_col, "left_semi")
        return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                          mv_col=qidx.mv_col, id_col=qidx.id_col,
                          dedup_ids=True)
    cand = qidx.points.join(top_ids, qidx.id_col, "left_semi")
    return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                      mv_col=qidx.mv_col, id_col=qidx.id_col)


# ---------------------------------------------------------------------------
# Quantized multivector storage: SQ-coded tokens + exact MaxSim rescore
# ---------------------------------------------------------------------------

@dataclass
class MaxSimSq:
    """Scalar-quantized multivector storage — the reference quantizes
    multivector segments with the same QuantizationConfig machinery as
    dense ones (quantized_vectors.rs is vector-kind-agnostic; the HNSW
    searches quantized codes and rescores originals). ``codes`` holds
    ``__msq`` (array<array<tinyint>>): each token int8-affine-encoded
    with shared per-dimension clip bounds — the coarse MaxSim scan reads
    1 B/dim instead of 4, and only the oversampled candidate docs touch
    the full-precision tokens."""

    codes: DataFrame       # (id, __msq)
    lo: np.ndarray
    hi: np.ndarray
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    #: default oversampling when neither the declared config nor the
    #: per-request SearchParams.quantization sets one (same posture as
    #: quantize._QUANT_OVERSAMPLING["scalar"])
    oversampling: float = 4.0
    #: exact-vs-quantized dispatch crossover in DOCS, same semantics as
    #: MaxSimRoute.full_scan_threshold: the coarse+rescore plan reads 8x
    #: fewer bytes but pays a second (float-token) scan for the rescore
    #: — at 512k page-cached docs the bench measured it ~2.5x slower
    #: than the exact one-pass scan; its win is the IO-bound regime.
    #: None = MAXSIM_FULL_SCAN_THRESHOLD, 0 = always quantized.
    full_scan_threshold: int | None = None
    n_docs: int | None = None


def build_maxsim_sq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    quantile: float = 0.99,
    sample_tokens: int = 100_000,
    seed: int = 7,
    oversampling: float = 4.0,
) -> MaxSimSq:
    """Fit per-dimension clip bounds on a seeded TOKEN sample (same
    quantile scheme as quantize.build_sq), then encode every token with
    one codegen'd nested transform — no python workers, no training
    state beyond (lo, hi)."""
    from qdrant_spark.operators.quantize import _sq_code_expr

    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    n = tok.count()
    if n == 0:
        raise ValueError("empty multivector corpus")
    frac = min(1.0, float(sample_tokens) / n)
    sample = np.array(
        [list(r[0]) for r in tok.sample(frac, seed=seed).collect()],
        dtype=np.float64)
    if sample.size == 0:
        sample = np.array(
            [list(r[0]) for r in tok.limit(10_000).collect()],
            dtype=np.float64)
    lo = np.quantile(sample, 1.0 - quantile, axis=0)
    hi = np.quantile(sample, quantile, axis=0)
    hi = np.where(hi - lo < 1e-12, lo + 1e-12, hi)
    codes = base.select(
        id_col,
        F.transform(F.col(mv_col),
                    lambda t: _sq_code_expr(lo, hi, t)).alias("__msq"))
    return MaxSimSq(codes=codes, lo=lo, hi=hi, points=points,
                    mv_col=mv_col, id_col=id_col,
                    oversampling=float(oversampling))


def persist_maxsim_sq(index: MaxSimSq, path: str) -> MaxSimSq:
    """Materialize the narrow (id, __msq) table — the coarse scan then
    reads 1 B/dim parquet (the multivector twin of quantize.persist_quant
    split storage)."""
    from dataclasses import replace

    index.codes.write.mode("overwrite").parquet(path)
    spark = index.codes.sparkSession
    return replace(index, codes=spark.read.parquet(path))


def maxsim_knn_sq(
    index: MaxSimSq,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    oversampling: float = 4.0,
    metric: str = "dot",
    rescore: bool = True,
) -> DataFrame:
    """SQ-kind alias of :func:`maxsim_knn_quant` (int8 affine decode
    coarse stage + exact rescore)."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


@dataclass
class MaxSimBq:
    """Binary-quantized multivector storage — the 1-bit sibling of
    :class:`MaxSimSq` (quantized_vectors.rs is vector-kind-agnostic;
    BinaryQuantization applies to multivector segments like any other).
    ``codes`` holds ``__mbq`` (array<array<bigint>>): each token
    bit-encoded against shared per-dimension token statistics and packed
    into 64-bit words — the coarse MaxSim scan reads 1 BIT/dim (32x
    fewer bytes than float32, 8x fewer than the int8 codes), and only
    the oversampled candidate docs touch the full-precision tokens."""

    codes: DataFrame       # (id, __mbq)
    means: np.ndarray
    stds: np.ndarray
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    encoding: str = "one_bit"
    oversampling: float = 4.0
    #: same exact-vs-quantized crossover semantics as MaxSimSq
    full_scan_threshold: int | None = None
    n_docs: int | None = None
    #: BinaryQuantizationQueryEncoding (types.rs:1188-1201) applied per
    #: QUERY TOKEN: "default"/"binary" score same-as-storage ±1 bits;
    #: "scalar4bits"/"scalar8bits" keep 4/8-bit scalar precision on each
    #: query token and rank by the fractional-XOR quantity — the same
    #: asymmetric trade the dense route ships (r11: +0.05 recall@10 at
    #: identical storage bytes)
    query_encoding: str = "default"


def build_maxsim_bq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    encoding: str = "one_bit",
    query_encoding: str = "default",
    oversampling: float = 4.0,
) -> MaxSimBq:
    """Fit per-dimension token mean/stddev in ONE aggregation pass over
    the exploded tokens (the same statistics build_bq fits for dense
    rows), then bit-encode every token with one codegen'd nested
    transform — no python workers, no training state beyond
    (means, stds)."""
    from qdrant_spark.operators.quantize import (
        BQ_ENCODINGS, BQ_QUERY_ENCODINGS, _bq_code_expr,
    )

    if encoding not in BQ_ENCODINGS:
        raise ValueError(
            f"encoding must be one of {BQ_ENCODINGS}, got {encoding!r}")
    query_encoding = str(query_encoding).lower()
    if query_encoding not in BQ_QUERY_ENCODINGS:
        raise ValueError(
            f"query_encoding must be one of {BQ_QUERY_ENCODINGS}, "
            f"got {query_encoding!r}")
    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    first = tok.select(F.size("__tok").alias("d")).first()
    if first is None:
        raise ValueError("empty multivector corpus")
    dim = first["d"]
    aggs = [
        F.avg(F.element_at(F.col("__tok"), d + 1).cast("double"))
        .alias(f"m{d}") for d in range(dim)
    ] + [
        F.stddev_pop(F.element_at(F.col("__tok"), d + 1).cast("double"))
        .alias(f"s{d}") for d in range(dim)
    ]
    row = tok.agg(*aggs).first()
    means = np.array([row[f"m{d}"] for d in range(dim)])
    stds = np.array([row[f"s{d}"] or 0.0 for d in range(dim)])
    codes = base.select(
        id_col,
        F.transform(
            F.col(mv_col),
            lambda t: _bq_code_expr(means, stds, encoding, t, dim),
        ).alias("__mbq"))
    return MaxSimBq(codes=codes, means=means, stds=stds, points=points,
                    mv_col=mv_col, id_col=id_col, encoding=encoding,
                    oversampling=float(oversampling),
                    query_encoding=query_encoding)


def persist_maxsim_bq(index: MaxSimBq, path: str) -> MaxSimBq:
    """Materialize the narrow (id, __mbq) table — the coarse scan then
    reads 1 bit/dim parquet (persist_quant split storage for
    multivector binary codes)."""
    from dataclasses import replace

    index.codes.write.mode("overwrite").parquet(path)
    spark = index.codes.sparkSession
    return replace(index, codes=spark.read.parquet(path))


def maxsim_knn_bq(
    index: MaxSimBq,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    oversampling: float = 4.0,
    metric: str = "dot",
    rescore: bool = True,
) -> DataFrame:
    """BQ-kind alias of :func:`maxsim_knn_quant`: the coarse stage
    unpacks packed words to ±1 (or raw 0/1 bits for the asymmetric
    ``query_encoding``) and ranks by the metric-blind ±1-dot estimate,
    with query tokens encoded as the index declares; the exact rescore
    applies the requested metric."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


@dataclass
class MaxSimPq:
    """Product-quantized multivector storage — the PQ sibling of
    :class:`MaxSimSq` (quantized_vectors.rs is vector-kind-agnostic:
    the reference quantizes multivector segments with ANY configured
    kind, including Product). ``codes`` holds ``__mpq``
    (array<array<tinyint>>): each token split into M subspaces and
    encoded as one u8 centroid index per subspace against codebooks
    trained on a token sample — the coarse MaxSim scan reads M bytes
    per token (x4-x64 less than float32), reconstructs x_hat by
    codebook gather (the dense batch-ADC decomposition), and only the
    oversampled candidate docs touch the full-precision tokens."""

    codes: DataFrame       # (id, __mpq)
    codebooks: np.ndarray  # (M, K, dsub)
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    oversampling: float = 4.0
    #: same exact-vs-quantized crossover semantics as MaxSimSq
    full_scan_threshold: int | None = None
    n_docs: int | None = None


def build_maxsim_pq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    n_subspaces: int | None = None,
    compression: str = "x8",
    n_centroids: int = 256,
    sample_tokens: int = 100_000,
    seed: int = 7,
    max_iter: int = 20,
    oversampling: float = 4.0,
) -> MaxSimPq:
    """Train per-subspace codebooks on a seeded TOKEN sample (the same
    KMeans fit as quantize.build_pq, over exploded tokens), then encode
    every token of every doc in one Arrow-batched pass. ``compression``
    maps to M like the dense CompressionRatio (n_subspaces overrides)."""
    from qdrant_spark.operators.quantize import (
        _PQ_COMPRESSION, _fit_codebooks,
    )

    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    first = tok.select(F.size("__tok").alias("d")).first()
    if first is None:
        raise ValueError("empty multivector corpus")
    dim = int(first["d"])
    if n_subspaces is None:
        ratio = _PQ_COMPRESSION.get(str(compression))
        if ratio is None:
            raise ValueError(f"unknown PQ compression {compression!r}")
        m = max(1, dim * 4 // ratio)
        while dim % m:  # reshape(M, dsub) needs M | dim
            m -= 1
        n_subspaces = m
    if dim % n_subspaces:
        raise ValueError(
            f"token dim {dim} not divisible by n_subspaces {n_subspaces}")
    n = tok.count()
    frac = min(1.0, float(sample_tokens) / max(n, 1))
    rows = tok.sample(frac, seed=seed).collect() \
        or tok.limit(sample_tokens).collect()
    sample = np.array(sorted(list(r[0]) for r in rows), dtype=np.float64)
    codebooks = _fit_codebooks(sample, n_subspaces, n_centroids, max_iter,
                               seed)

    codes = base.select(
        id_col, _mpq_encode_udf(codebooks)(F.col(mv_col)).alias("__mpq"))
    return MaxSimPq(codes=codes, codebooks=codebooks, points=points,
                    mv_col=mv_col, id_col=id_col,
                    oversampling=float(oversampling))


def _mpq_encode_udf(codebooks: np.ndarray):
    """Token-PQ-encode pandas_udf for FROZEN codebooks — shared by the
    build pass and the incremental encode of new rows (encode_maxsim;
    the multivector twin of quantize._pq_encode_udf)."""
    from pyspark.sql.functions import pandas_udf

    cb = codebooks
    cb_norm2 = (cb * cb).sum(axis=2)
    M, _, dsub = cb.shape

    def _encode_mv(s):
        import pandas as pd

        if len(s) == 0:
            return pd.Series([], dtype=object)
        out = []
        # flatten every doc's tokens into ONE matrix, one argmin pass
        # per subspace for the whole Arrow batch, then split back
        counts = [len(doc) for doc in s]
        V = np.array([t for doc in s for t in doc], dtype=np.float64)
        codes = np.empty((V.shape[0], M), dtype=np.int16)
        for m in range(M):
            sub = V[:, m * dsub:(m + 1) * dsub]
            d = cb_norm2[m][None, :] - 2.0 * sub @ cb[m].T
            codes[:, m] = d.argmin(axis=1)
        codes = (codes - 128).astype(np.int8)
        pos = 0
        for c in counts:
            out.append(list(codes[pos:pos + c]))
            pos += c
        return pd.Series(out)

    return pandas_udf(_encode_mv, "array<array<tinyint>>")


@dataclass
class MaxSimTq:
    """TurboQuant multivector storage — the TQ sibling of
    :class:`MaxSimSq` (quantized_vectors.rs is vector-kind-agnostic).
    ``codes`` holds three parallel token arrays: ``__mtq``
    (array<binary>, per-token bit-packed Lloyd-Max indices over the
    seeded rotation), ``__mtq_l2`` / ``__mtq_cn`` (array<double>, the
    renorm extras — original token length and chosen-centroid norm,
    quantization.rs:290-316). The coarse scan reconstructs each token
    in ROTATED space (rotation preserves dot products, so the query
    tokens rotate once driver-side) and reads 1-4 bits/dim."""

    codes: DataFrame       # (id, __mtq, __mtq_l2, __mtq_cn)
    bits: float
    dim: int
    padded_dim: int
    seed: int
    points: DataFrame      # full-precision mv corpus for the rescore
    mv_col: str
    id_col: str
    oversampling: float = 4.0
    #: same exact-vs-quantized crossover semantics as MaxSimSq
    full_scan_threshold: int | None = None
    n_docs: int | None = None

    @property
    def bits_per_code(self) -> int:
        return 1 if self.bits in (1, 1.5) else int(self.bits)


def build_maxsim_tq(
    points: DataFrame,
    *,
    mv_col: str = "mv",
    id_col: str = "id",
    bits: float = 2,
    seed: int = 7,
    oversampling: float = 4.0,
) -> MaxSimTq:
    """Encode every token with the dense TurboQuant scheme (seeded
    rotation + shared Lloyd-Max N(0,1) codebook,
    turboquant/{lloyd_max,quantization}.rs) in one Arrow-batched pass —
    no training state beyond the seed (Normal mode; the TQ+ per-
    coordinate pre-pass is a dense-only option here)."""
    from qdrant_spark.operators.quantize import _next_pow2

    if bits not in (1, 1.5, 2, 4):
        raise ValueError(f"bits must be one of 1, 1.5, 2, 4 — got {bits}")
    base = points.filter(
        F.col(mv_col).isNotNull() & (F.size(mv_col) > 0))
    tok = base.select(F.explode(mv_col).alias("__tok"))
    first = tok.select(F.size("__tok").alias("d")).first()
    if first is None:
        raise ValueError("empty multivector corpus")
    dim = int(first["d"])
    target = int(np.ceil(dim * 1.5)) if bits == 1.5 else dim
    padded_dim = _next_pow2(target)
    codes = _mtq_encode_columns(base, mv_col, id_col, bits=bits, dim=dim,
                                padded_dim=padded_dim, seed=seed) \
        .select(id_col, "__mtq", "__mtq_l2", "__mtq_cn")
    return MaxSimTq(codes=codes, bits=bits, dim=dim, padded_dim=padded_dim,
                    seed=seed, points=points, mv_col=mv_col, id_col=id_col,
                    oversampling=float(oversampling))


def _mtq_encode_columns(base: DataFrame, mv_col: str, id_col: str, *,
                        bits: float, dim: int, padded_dim: int,
                        seed: int) -> DataFrame:
    """Attach ``__mtq/__mtq_l2/__mtq_cn`` for a FROZEN rotation seed —
    shared by the build pass and the incremental encode of new rows
    (encode_maxsim; the multivector twin of quantize._tq_encode_columns).
    One Arrow-batched pass, no training."""
    from pyspark.sql.functions import pandas_udf

    from qdrant_spark.operators.quantize import (
        _TQ_CENTROIDS, _tq_boundaries, _tq_pack, _tq_preprocess,
        _tq_rotation_params,
    )

    bpc = 1 if bits in (1, 1.5) else int(bits)
    centroids = _TQ_CENTROIDS[bpc]
    boundaries = _tq_boundaries(bpc)
    sqrt_d = float(np.sqrt(padded_dim))
    pd_, dim_, seed_ = padded_dim, dim, seed

    def _encode_mv(s):
        import pandas as pd

        if len(s) == 0:
            return pd.DataFrame({"codes": pd.Series([], dtype=object),
                                 "l2": pd.Series([], dtype=object),
                                 "cn": pd.Series([], dtype=object)})
        params = _tq_rotation_params(pd_, seed_)
        counts = [len(doc) for doc in s]
        V = np.zeros((sum(counts), pd_), dtype=np.float64)
        V[:, :dim_] = np.array([t for doc in s for t in doc],
                               dtype=np.float64)
        V, l2 = _tq_preprocess(V, params, sqrt_d)
        idx = np.searchsorted(boundaries, V).astype(np.uint8)
        cn = np.linalg.norm(centroids[idx], axis=1)
        packed = _tq_pack(idx, bpc)
        out_c, out_l, out_n, pos = [], [], [], 0
        for c in counts:
            out_c.append([row.tobytes() for row in packed[pos:pos + c]])
            out_l.append(list(l2[pos:pos + c]))
            out_n.append(list(cn[pos:pos + c]))
            pos += c
        return pd.DataFrame({"codes": out_c, "l2": out_l, "cn": out_n})

    enc = pandas_udf(
        _encode_mv,
        "codes array<binary>, l2 array<double>, cn array<double>")
    return (base.withColumn("__t", enc(F.col(mv_col)))
            .withColumn("__mtq", F.col("__t.codes"))
            .withColumn("__mtq_l2", F.col("__t.l2"))
            .withColumn("__mtq_cn", F.col("__t.cn"))
            .drop("__t"))


def persist_maxsim_quant(index, path: str):
    """Materialize the narrow token-code table of ANY quantized
    multivector index kind (the split-storage layout of
    persist_maxsim_sq, generalized)."""
    from dataclasses import replace

    index.codes.write.mode("overwrite").parquet(path)
    spark = index.codes.sparkSession
    return replace(index, codes=spark.read.parquet(path))


def _mv_quant_prep(index, queries: Sequence[Sequence[Sequence[float]]],
                   metric: str):
    """The per-kind decode table of the MaxSim kernels. ``index`` is a
    quantized token index of any kind or, for exact float tokens, an
    (id, multivector) DataFrame. Returns ``(sel, Qtoks, decode, offsets,
    scales)``: ``sel`` is the (id, token column(s)) frame to scan, with
    empty docs dropped; ``Qtoks`` holds one per-query token matrix
    ALREADY in scoring space; ``decode(flats)`` maps the first-level-
    flattened Arrow token arrays of one batch to the float token matrix
    in the same space (cosine-normalized when the kind scores the
    requested metric — float tokens by identity; binary stays
    metric-blind ±1-dot like the dense coarse stage); ``offsets`` is a
    per-query additive constant the kernel applies AFTER the MaxSim
    reduction, and ``scales`` is a per-query multiplicative constant
    applied last — ``(maxsim + offset) * scale``. Both are identity
    (0 / 1) except for the asymmetric binary encoding, whose per-pair
    quantity is affine in the bits: there the dot, the max and the token
    sum all run over INTEGER-valued float64 (every partial sum is an
    exact integer, so the result is independent of accumulation order —
    BLAS blocking, reduceat order, CPU kernel choice), and the single
    ``1/ranges`` division happens once at the end. The float path
    computed the same rational with a per-dim division first, which made
    equal integer totals differ in the last ulp by summation order —
    splitting exact score ties (endemic for integer coarse quantities)
    differently than the oracle's id-asc tie-break at the top-k cut. The
    quantized decodes are the dense decode table's
    (quantize._quant_scan_setup) applied token-wise."""
    from qdrant_spark.operators.quantize import (
        _BQ_QUERY_BITS, _bq_ext_dim, _bq_unpack, _pq_reconstruct,
        _sq_decode, _tq_reconstruct, _tq_rotate, _tq_rotation_params,
        bq_bits_np, bq_scalar_query_codes,
    )

    cosine = metric == "cosine"
    zeros = np.zeros(len(queries))
    ones = np.ones(len(queries))

    def _raw_tokens():
        Qtoks = [np.asarray([list(t) for t in q], dtype=np.float64)
                 for q in queries]
        return [_norm_rows(Q) for Q in Qtoks] if cosine else Qtoks

    if isinstance(index, DataFrame):
        # exact float tokens: the identity decode
        id_col, mv_col = index.columns[:2]
        sel = index.filter(F.col(mv_col).isNotNull()
                           & (F.size(mv_col) > 0)).select(id_col, mv_col)
        Qtoks = _raw_tokens()
        dim = Qtoks[0].shape[1]

        def decode(flats):
            Tm = flats[0].flatten().to_numpy(zero_copy_only=False) \
                .reshape(-1, dim).astype(np.float64, copy=False)
            return _norm_rows(Tm) if cosine else Tm

        return sel, Qtoks, decode, zeros, ones

    if isinstance(index, MaxSimBq):
        ext_dim = _bq_ext_dim(len(index.means), index.encoding)
        asym = index.query_encoding in _BQ_QUERY_BITS
        if asym:
            # asymmetric per-token encoding (BinaryQuantization
            # QueryEncoding::Scalar4bits/8bits, encoded_vectors_binary.rs
            # :673-760): the per-pair quantity ext - 2*xor/ranges with
            # xor = sum_d (bit ? ranges-code : code) rewrites as
            # (ext - 2*S_c/ranges) + bits . (4c - 2*ranges)/ranges — a
            # dot over the raw 0/1 bits plus a per-query-token constant,
            # so the shared BLAS segment-max kernel scores it directly.
            # Carried SCALED BY ``ranges``: the dot operands, the
            # per-token constants and every max/sum stay exact integers
            # in float64; the kernel's final per-query ``scale`` divides
            # by ranges ONCE, so equal integer totals are equal doubles
            # on every CPU/BLAS (see the docstring's tie rationale)
            Qtoks, offs, scls = [], [], []
            for q in queries:
                rows, off, rng = [], 0.0, 1.0
                for t in q:
                    codes, ranges = bq_scalar_query_codes(index, list(t))
                    rng = float(ranges)
                    c = codes.astype(np.float64)
                    rows.append(4.0 * c - 2.0 * ranges)
                    off += ext_dim * rng - 2.0 * float(c.sum())
                Qtoks.append(np.asarray(rows, dtype=np.float64))
                offs.append(off)
                scls.append(1.0 / rng)
            offsets = np.asarray(offs, dtype=np.float64)
            scales = np.asarray(scls, dtype=np.float64)
        else:
            Qtoks = [np.asarray(
                [bq_bits_np(list(t), index.means, index.stds,
                            index.encoding)
                 for t in q], dtype=np.float64) * 2.0 - 1.0
                for q in queries]
            offsets = zeros
            scales = ones

        def decode(flats):
            bits = _bq_unpack(flats[0], ext_dim)
            return bits if asym else bits * 2.0 - 1.0

        return (index.codes.select(index.id_col, "__mbq"), Qtoks, decode,
                offsets, scales)

    if isinstance(index, MaxSimPq):
        cb = index.codebooks

        def decode(flats):
            Tm = _pq_reconstruct(flats[0], cb)
            return _norm_rows(Tm) if cosine else Tm

        return (index.codes.select(index.id_col, "__mpq"), _raw_tokens(),
                decode, zeros, ones)

    if isinstance(index, MaxSimTq):
        bpc = index.bits_per_code
        pd_, dim_ = index.padded_dim, index.dim
        params = _tq_rotation_params(pd_, index.seed)
        Qtoks = []
        for q in queries:
            Qm = np.zeros((len(q), pd_), dtype=np.float64)
            Qm[:, :dim_] = np.asarray([list(t) for t in q],
                                      dtype=np.float64)
            Qm = _tq_rotate(Qm, params)  # rotation preserves dots
            Qtoks.append(_norm_rows(Qm) if cosine else Qm)

        def decode(flats):
            # renorm reconstruction in ROTATED space (rotation preserves
            # dots, so the query tokens rotated once above)
            Tm = _tq_reconstruct(flats[0], flats[1], flats[2], bpc, pd_)
            return _norm_rows(Tm) if cosine else Tm

        return (index.codes.select(index.id_col, "__mtq", "__mtq_l2",
                                   "__mtq_cn"), Qtoks, decode, zeros, ones)

    # scalar (MaxSimSq)
    lo = index.lo
    scale = (index.hi - index.lo) / 255.0

    def decode(flats):
        Tm = _sq_decode(flats[0], lo, scale)
        return _norm_rows(Tm) if cosine else Tm

    return (index.codes.select(index.id_col, "__msq"), _raw_tokens(),
            decode, zeros, ones)


def maxsim_knn_quant(
    index,
    query_multivector: Sequence[Sequence[float]],
    *,
    k: int = 10,
    oversampling: float = 4.0,
    metric: str = "dot",
    rescore: bool = True,
    flt: dict[str, Any] | None = None,
) -> DataFrame:
    """Two-stage MaxSim over ANY quantized token storage kind
    (:class:`MaxSimSq` / :class:`MaxSimBq` / :class:`MaxSimPq` /
    :class:`MaxSimTq`): the coarse scan runs the shared batch kernel
    with one query (per-kind decode hook + one BLAS segment-max per
    Arrow batch), the exact MaxSim rescore touches only the oversampled
    candidates' float tokens — QuantizationSearchParams semantics
    applied to multivectors, for every kind the reference's
    quantized_vectors.rs accepts. A payload ``flt`` evaluates on the
    full-precision frame (where the payload columns live) and reaches
    the narrow code scan as an id semi-join — the dense
    quantize._coarse_src posture; the reference serves filtered search
    over quantized storage with the same filtered-scorer wrap."""
    from dataclasses import replace

    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    points = index.points
    if flt is not None:
        from qdrant_spark.filters import apply_filter

        points = apply_filter(index.points, flt)
        index = replace(index, codes=index.codes.join(
            points.select(index.id_col), index.id_col, "left_semi"))
    n_coarse = max(k, int(np.ceil(k * oversampling)))
    coarse = maxsim_quant_coarse_batch(
        index, [query_multivector], n_coarse, metric=metric)
    id_col = index.id_col
    if not rescore:
        return (coarse.filter(F.col("rank") <= k)
                .orderBy("rank").select(id_col, "score"))
    cand_ids = F.broadcast(coarse.select(id_col))
    cand = points.join(cand_ids, id_col, "left_semi")
    return maxsim_knn(cand, query_multivector, k=k, metric=metric,
                      mv_col=index.mv_col, id_col=id_col)


def maxsim_knn_pq(index: MaxSimPq, query_multivector, *, k: int = 10,
                  oversampling: float = 4.0, metric: str = "dot",
                  rescore: bool = True) -> DataFrame:
    """PQ-kind alias of :func:`maxsim_knn_quant` (codebook-gather
    reconstruction coarse stage + exact rescore)."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


def maxsim_knn_tq(index: MaxSimTq, query_multivector, *, k: int = 10,
                  oversampling: float = 4.0, metric: str = "dot",
                  rescore: bool = True) -> DataFrame:
    """TQ-kind alias of :func:`maxsim_knn_quant` (rotated-space renorm
    reconstruction coarse stage + exact rescore)."""
    return maxsim_knn_quant(index, query_multivector, k=k,
                            oversampling=oversampling, metric=metric,
                            rescore=rescore)


def encode_maxsim(index, points: DataFrame) -> DataFrame:
    """Encode NEW multivector rows with the index's FROZEN encoder state
    — the quantized-multivector twin of quantize.encode_quant: map-only,
    no re-fitting (the reference appends to quantized multivector
    storage with the stored parameters the same way). Accepts any
    quantized-multivector index kind: :class:`MaxSimSq` (int8 codes,
    ``__msq``), :class:`MaxSimBq` (packed 1-bit words, ``__mbq``),
    :class:`MaxSimPq` (codebook indices, ``__mpq``) or :class:`MaxSimTq`
    (rotated Lloyd-Max codes + renorm extras, ``__mtq*``). Returns
    ``points`` (non-null, non-empty multivectors) with the code
    column(s) attached."""
    from qdrant_spark.operators.quantize import _bq_code_expr, _sq_code_expr

    base = points.filter(
        F.col(index.mv_col).isNotNull() & (F.size(index.mv_col) > 0))
    if isinstance(index, MaxSimBq):
        dim = len(index.means)
        return base.withColumn(
            "__mbq",
            F.transform(
                F.col(index.mv_col),
                lambda t: _bq_code_expr(index.means, index.stds,
                                        index.encoding, t, dim)))
    if isinstance(index, MaxSimPq):
        return base.withColumn(
            "__mpq", _mpq_encode_udf(index.codebooks)(F.col(index.mv_col)))
    if isinstance(index, MaxSimTq):
        return _mtq_encode_columns(
            base, index.mv_col, index.id_col, bits=index.bits,
            dim=index.dim, padded_dim=index.padded_dim, seed=index.seed)
    return base.withColumn(
        "__msq",
        F.transform(F.col(index.mv_col),
                    lambda t: _sq_code_expr(index.lo, index.hi, t)))


def maxsim_quant_coarse_batch(index, queries: Sequence[Sequence[Sequence[float]]],
                              k: int, *, metric: str = "dot",
                              dedup_ids: bool = False) -> DataFrame:
    """ONE coarse scan answering a BATCH of multivector queries over
    quantized token storage of ANY kind (:class:`MaxSimSq` int8 codes,
    :class:`MaxSimBq` packed bits, :class:`MaxSimPq` codebook indices,
    :class:`MaxSimTq` rotated Lloyd-Max codes — per-kind decode via
    :func:`_mv_quant_prep`): all query multivectors' tokens concatenate
    into a single matrix, each Arrow batch runs ONE BLAS call against
    it, and two ``reduceat`` passes compute per-(doc, query) MaxSim —
    per-doc segment max over doc tokens, per-query sum over its token
    columns. Per-batch per-query top-k bounds the shuffle; the final
    window makes the per-query (score desc, id) ranking exact. Returns
    (__qid, id, score, rank<=k). The reference's batch dispatch walks
    quantized storage once for the whole batch the same way
    (lib/segment/src/vector_storage/quantized/).

    ``dedup_ids``: the codes frame is an INVLIST layout holding one
    identical-scoring copy per (doc, cluster) — dedup ids INSIDE each
    Arrow batch before the per-batch cut (copies from different
    partitions can coalesce into one batch; two copies of one doc must
    not occupy two of its kk slots and push a distinct doc out) and
    once more across batches on the narrow (qid, id) frame.

    ``index`` may also be an (id, multivector) float-token DataFrame —
    the identity decode, exact MaxSim (:func:`maxsim_knn_batch`)."""
    from pyspark.sql.window import Window

    sel, Qtoks, decode, offsets, scales = _mv_quant_prep(
        index, queries, metric)
    id_col = sel.columns[0]
    scored = _maxsim_scan(sel, Qtoks, decode, offsets, scales, k,
                          dedup_ids)
    if dedup_ids:
        # copies in DIFFERENT batches survive the kernel dedup; scores
        # are identical, so dedup the narrow (qid, id, score) frame
        scored = scored.dropDuplicates(["__qid", id_col])
    w = Window.partitionBy("__qid").orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def maxsim_quant_pair_topk(qidx, pairs: DataFrame,
                           queries: Sequence[Sequence[Sequence[float]]],
                           *, k: int, metric: str = "dot") -> DataFrame:
    """THE MaxSim pair kernel: MaxSim over a (qid, id) candidate PAIR set
    — the coarse half of the fused composed multivector batch (r12) over
    QUANTIZED token storage of any kind, and the exact rescore half over
    float tokens (``qidx`` an (id, multivector) DataFrame, see
    :func:`maxsim_pair_topk`). The token table joins the pair set once
    (for codes the join lands on 1-4 bit/dim codes, never float tokens),
    each Arrow batch decodes its rows' tokens via the per-kind hook and
    scores each qid group with :func:`maxsim_scores`, every candidate
    ONLY against its own query (so results equal the per-request
    plans). Returns per-qid (score desc, id) rank<=k."""
    from pyspark.sql.window import Window

    sel, Qtoks, decode, offsets, scales = _mv_quant_prep(
        qidx, queries, metric)
    id_col = sel.columns[0]
    joined = sel.join(pairs, id_col).select("__qid", *sel.columns)
    out_schema = T.StructType([
        T.StructField("__qid", T.LongType()),
        T.StructField(id_col, sel.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])
    ncols = len(sel.columns) - 1
    bq = joined.sparkSession.sparkContext.broadcast(
        (Qtoks, offsets, scales))
    qstart = np.zeros(1, dtype=np.int64)

    def score_batches(batches: Iterator) -> Iterator:
        import pyarrow as pa

        Qs, offs, scl = bq.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            qids = batch.column(0).to_numpy(zero_copy_only=False)
            ids = batch.column(1).to_numpy(zero_copy_only=False)
            flats, tok_off = _batch_tokens(batch, 2, ncols)
            Tm = decode(flats)
            tok_off = tok_off - tok_off[0]
            lens = np.diff(tok_off)
            out = np.empty(n, dtype=np.float64)
            for qi in np.unique(qids):
                mask = np.where(qids == qi)[0]
                # token rows of just this qid's docs
                rows = np.concatenate([np.arange(tok_off[i], tok_off[i + 1])
                                       for i in mask])
                st = np.concatenate([[0], np.cumsum(lens[mask])[:-1]])
                s = maxsim_scores(Tm[rows], st, Qs[int(qi)], qstart)[:, 0]
                # offset + scale: identity except asym BQ's one final
                # 1/ranges division (integer-exact pipeline)
                out[mask] = (s + offs[int(qi)]) * scl[int(qi)]
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids), pa.array(ids),
                 pa.array(out, type=pa.float64())],
                names=["__qid", id_col, "score"],
            )

    scored = joined.mapInArrow(score_batches, out_schema)
    w = Window.partitionBy("__qid").orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def maxsim_ivf_candidate_pairs(
    route_index: MaxSimIvf,
    queries: Sequence[Sequence[Sequence[float]]],
    *,
    nprobe: int = 2,
    metric: str = "dot",
) -> DataFrame:
    """ONE scan of the id-only cluster-partitioned token table answering
    EVERY query's candidate stage at once (the fused twin of
    :func:`_maxsim_ivf_candidates`, no PLAID cap): per query the probed
    cluster set computes driver-side; the scan filters to the probe
    UNION (directory pruning) and each matched token row fans out to
    exactly the queries that probed its cluster via one literal
    cluster->qids map — distinct (qid, id) pairs equal each query's own
    candidate set bit-for-bit."""
    cluster_q: dict[int, list[int]] = {}
    for qi, q in enumerate(queries):
        for c in _probe_clusters(route_index, q, nprobe=nprobe,
                                 metric=metric):
            cluster_q.setdefault(c, []).append(qi)
    probes = sorted(cluster_q)
    flat = []
    for c in probes:
        flat.append(F.lit(int(c)))
        flat.append(F.array(*[F.lit(int(qi)) for qi in cluster_q[c]])
                    .cast("array<bigint>"))
    qids_for = F.element_at(F.create_map(*flat),
                            F.col("__cluster").cast("int"))
    return (route_index.tokens
            .filter(F.col("__cluster").isin(probes))
            .select(route_index.id_col, qids_for.alias("__qs"))
            .select(F.explode("__qs").alias("__qid"),
                    route_index.id_col)
            .distinct())


def maxsim_ivf_capped_pairs(
    route_index: MaxSimIvf,
    queries: Sequence[Sequence[Sequence[float]]],
    *,
    nprobe: int = 2,
    candidates: int = 4096,
    metric: str = "dot",
) -> DataFrame:
    """The fused PLAID stage-2 cap: ONE scan of the probed token union
    answers EVERY query's centroid-resolution candidate ranking at once.
    Per query a literal map carries its probed clusters' per-q-token
    centroid scores (NULL for unprobed clusters, so rows only contribute
    to the queries that probed them); one groupBy(id) computes every
    (query, q-token) max as a column; per-query totals unpivot to
    (qid, id, total) and a per-qid window keeps the top ``candidates``
    by (total desc, id) — bit-for-bit the single-request cap's ranking
    (:func:`_maxsim_ivf_candidates` with ``candidates`` set)."""
    from pyspark.sql.window import Window

    qdata = []
    union: set[int] = set()
    for q in queries:
        Qm, probes = _probe_clusters(route_index, q, nprobe=nprobe,
                                     metric=metric, return_q=True)
        union.update(probes)
        S = Qm @ route_index.centroids.T  # (tq, n_clusters)
        qdata.append((probes, S))

    id_col = route_index.id_col
    matched = route_index.tokens \
        .filter(F.col("__cluster").isin(sorted(union)))
    # ONE flattened map: cluster -> every query's per-token centroid
    # scores concatenated (NaN slots for queries that did NOT probe the
    # cluster, so their maxes ignore it — 16 separate per-query map
    # lookups per row measured 4-10x slower than one lookup + the same
    # max aggregates)
    offs, total_w = [], 0
    for probes, S in qdata:
        offs.append(total_w)
        total_w += S.shape[0]
    flat = []
    for c in sorted(union):
        row = np.full(total_w, np.nan)
        for qi, (probes, S) in enumerate(qdata):
            if c in probes:
                row[offs[qi]:offs[qi] + S.shape[0]] = S[:, c]
        flat.append(F.lit(int(c)))
        flat.append(F.lit([float(x) for x in row]))
    scores_for = F.element_at(F.create_map(*flat),
                              F.col("__cluster").cast("int"))
    aggs, totals = [], []
    for qi, (probes, S) in enumerate(qdata):
        tq = S.shape[0]
        for ti in range(tq):
            # max() skips NULL but not NaN: strip NaN slots first
            v = F.element_at(F.col("__qs"), offs[qi] + ti + 1)
            aggs.append(F.max(F.when(~F.isnan(v), v))
                        .alias(f"__m_{qi}_{ti}"))
        totals.append(sum((F.col(f"__m_{qi}_{ti}")
                           for ti in range(1, tq)),
                          F.col(f"__m_{qi}_0")))
    gb = matched.select(F.col(id_col), scores_for.alias("__qs")) \
        .groupBy(id_col).agg(*aggs)
    stacked = gb.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(qi).cast("long").alias("__qid"),
                     t.alias("__total"))
            for qi, t in enumerate(totals)])).alias("__s")) \
        .select(id_col, "__s.__qid", "__s.__total") \
        .filter(F.col("__total").isNotNull())
    w = Window.partitionBy("__qid").orderBy(
        F.col("__total").desc(), F.col(id_col).asc())
    return (stacked.withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= int(candidates))
            .select("__qid", id_col))


def maxsim_pair_topk(points: DataFrame, pairs: DataFrame,
                     queries: Sequence[Sequence[Sequence[float]]],
                     *, metric: str = "dot", k: int,
                     mv_col: str = "mv", id_col: str = "id") -> DataFrame:
    """Exact MaxSim over a (qid, id) candidate PAIR set — the rescore
    half of the batched quantized MaxSim path: the pair kernel
    (:func:`maxsim_quant_pair_topk`) over float tokens, the candidate
    pairs broadcast into one join with the float corpus. Returns
    per-qid (score desc, id) top-k."""
    return maxsim_quant_pair_topk(
        points.select(id_col, mv_col), F.broadcast(pairs), queries, k=k,
        metric=metric).drop("rank")


def maxsim_knn_batch(points: DataFrame,
                     queries: Sequence[Sequence[Sequence[float]]],
                     *, k: int = 10, metric: str = "dot",
                     mv_col: str = "mv", id_col: str = "id") -> DataFrame:
    """Exact MaxSim for a BATCH of query multivectors in ONE corpus scan
    — the multivector analogue of knn_batch's shared matmul, i.e. the
    scan kernel with the identity decode
    (:func:`maxsim_quant_coarse_batch` over the float tokens). Returns
    (__qid, id, score, rank<=k); scores are EXACT MaxSim (no rescore
    stage). 64 sequential maxsim_knn calls read the corpus 64 times;
    this reads it once."""
    if metric not in ("dot", "cosine"):
        raise ValueError("maxsim supports dot/cosine")
    return maxsim_quant_coarse_batch(points.select(id_col, mv_col),
                                     queries, k, metric=metric)
