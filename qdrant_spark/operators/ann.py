"""Approximate nearest neighbor: IVF (inverted-file) index via KMeans.

The reference accelerates search with HNSW graphs (lib/segment/src/index/
hnsw_index/, ~14k LoC). A graph walk is pointer-chasing — the wrong shape
for Spark. The Spark-native ANN equivalent is IVF: cluster the corpus
(KMeans — driver-side Lloyd's on bounded fit samples, MLlib above
``IVF_DRIVER_FIT_MAX_ELEMS``), store cluster ids as a column
(partition/Z-order by it at scale), and search only the ``nprobe``
nearest clusters — a partition-pruned exact scan. The selectivity-aware plain-vs-index dispatch that
mirrors the reference's full_scan_threshold routing (dispatch.rs:56-176)
lives in :mod:`qdrant_spark.operators.dispatch` (``auto_search``): small
filtered sets skip the index entirely there; ``ivf_search(flt=...)``
here applies the filter inside the probed clusters only.

Recall is gated against the exact scan, mirroring the reference's
ANN-vs-exact test pattern (lib/segment/tests/integration/
filtrable_hnsw_test.rs).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qdrant_spark.functions.distances import vec_lit
from qdrant_spark.operators.knn import knn

#: Probed-scan size (Catalyst estimate, bytes) under which the batched
#: IVF-PQ search fuses ADC shortlist + exact rescore into one python stage
#: (reads full-width vectors) instead of the narrow coarse scan + join
#: rescore. Two python stages + a broadcast join cost ~0.5 s of fixed
#: overhead on local[32]; a full-width scan of <1 GiB costs less than
#: that, so small/cached corpora fuse and 100-TB layouts stay narrow.
FUSED_PQ_DISPATCH_BYTES = 1 << 30


@dataclass
class IvfIndex:
    """IVF index state: the corpus with a ``__cluster`` column plus the
    centroid matrix. ``assigned`` should be persisted partitioned by
    ``__cluster`` at scale so probing prunes files."""

    assigned: DataFrame
    centroids: np.ndarray  # (n_clusters, dim)
    vec_col: str
    id_col: str
    #: True when ``assigned`` is a cluster-partitioned parquet SCAN
    #: (persist_ivf / a maintenance load) rather than a computed frame —
    #: downstream layouts (quantize.compose_quant_ivf's clustered_full)
    #: only wire it as a rescore source then: filtering a computed
    #: assignment by __cluster would re-run the whole KMeans transform /
    #: argmin per query instead of pruning files (r13 ADVICE).
    persisted: bool = False


#: Fit sets at or under this many ELEMENTS (rows x dim) collect to the
#: driver and fit with the seeded in-memory Lloyd's the PQ codebooks
#: already use (quantize._kmeans_np) instead of MLlib: each MLlib
#: iteration is a distributed job barrier, so a 20-iteration fit over a
#: few thousand sampled rows pays ~20x the scheduler overhead of the
#: actual math (measured: 6.8 s on a 4k-token fit that _kmeans_np does
#: in milliseconds). This is the faiss/reference training posture —
#: encoded_vectors_pq.rs trains on a capped in-memory sample — and the
#: cap (128 MiB of f64) bounds driver memory exactly like the PQ/MMR
#: bounded collects. Assignment is unaffected either way: pre-fit
#: centroids assign map-only via ivf_from_centroids. Above the cap the
#: distributed MLlib fit runs as before.
IVF_DRIVER_FIT_MAX_ELEMS = 16_000_000


def _kmeanspp_init(X: np.ndarray, k: int,
                   rng: np.random.Generator) -> np.ndarray:
    """Seeded kmeans++ (D^2-weighted) seeding for the driver-side IVF
    fit — matches the init quality of MLlib's k-means||; plain random
    init measurably cost probe recall on blob-structured corpora
    (0.775 vs the 0.85 gate in test_quant_ivf). Vectorized: one
    running min-distance array, one O(n*d) pass per centroid."""
    n = X.shape[0]
    Xf = np.ascontiguousarray(X, dtype=np.float32)
    chosen = [int(rng.integers(n))]
    d2 = ((Xf - Xf[chosen[0]]) ** 2).sum(axis=1).astype(np.float64)
    for _ in range(1, min(k, n)):
        tot = float(d2.sum())
        nxt = int(rng.choice(n, p=d2 / tot)) if tot > 0 \
            else int(rng.integers(n))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((Xf - Xf[nxt]) ** 2).sum(axis=1))
    return Xf[chosen].astype(np.float64)


def _lloyd_best_of(X: np.ndarray, k: int, max_iter: int, seed: int,
                   n_init: int = 4) -> np.ndarray:
    """``n_init`` seeded kmeans++ + Lloyd's restarts, keep the lowest-
    inertia fit (sklearn's n_init remedy for Lloyd's local minima; one
    kmeans++ restart still landed at 0.81 recall vs the 0.85 gate where
    MLlib's k-means|| found 0.9+). Deterministic: restart i streams from
    ``default_rng([seed, i])``. All driver-side milliseconds on a
    bounded sample — n_init * O(n*k*d)."""
    from qdrant_spark.operators.quantize import _kmeans_np

    Xf = np.ascontiguousarray(X, dtype=np.float32)
    best, best_inertia = None, np.inf
    for i in range(n_init):
        rng = np.random.default_rng([seed, i])
        C = _kmeans_np(X, k, max_iter, rng,
                       init=_kmeanspp_init(X, k, rng))
        Cf = C.astype(np.float32)
        cn = (Cf * Cf).sum(axis=1)
        inertia = 0.0
        for s in range(0, Xf.shape[0], 16384):
            e = min(Xf.shape[0], s + 16384)
            dist = cn[None, :] - 2.0 * (Xf[s:e] @ Cf.T)
            inertia += float(dist.min(axis=1).sum())
        if inertia < best_inertia:
            best, best_inertia = C, inertia
    return best


def build_ivf(
    points: DataFrame,
    *,
    n_clusters: int = 16,
    vec_col: str = "vec",
    id_col: str = "id",
    seed: int = 42,
    max_iter: int = 20,
    fit_fraction: float | None = None,
) -> IvfIndex:
    """KMeans-cluster the corpus (Euclidean) and attach cluster ids.

    ``fit_fraction`` fits the centroids on a sample (KMeans iterations over
    the full 100-TB corpus would dominate build cost; a few-percent sample
    pins the same centroid structure) — assignment still runs over every
    row against the fitted centroids (one map-only pass). Small fit sets
    (``IVF_DRIVER_FIT_MAX_ELEMS``) fit driver-side; large ones through
    MLlib's distributed KMeans."""
    base = points.filter(F.col(vec_col).isNotNull())
    fit_src = base.sample(fit_fraction, seed=seed) if fit_fraction else base
    stats = fit_src.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(F.col(vec_col))).alias("d")).first()
    n_fit, dim = int(stats["n"] or 0), int(stats["d"] or 0)
    if n_clusters <= n_fit and n_fit * max(dim, 1) <= IVF_DRIVER_FIT_MAX_ELEMS:
        rows = fit_src.select(
            F.col(id_col).alias("__i"),
            F.col(vec_col).cast("array<double>").alias("__v")).collect()
        # collect() order depends on task scheduling and _kmeans_np on
        # data order — sort driver-side so centroids are reproducible
        # run-to-run (id alone can repeat: exploded token fits)
        rows.sort(key=lambda r: (r["__i"], r["__v"]))
        X = np.asarray([r["__v"] for r in rows], dtype=np.float64)
        cents = _lloyd_best_of(X, n_clusters, max_iter, seed)
        return ivf_from_centroids(base, cents,
                                  vec_col=vec_col, id_col=id_col)

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = base.withColumn("__feat", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="__feat",
                predictionCol="__cluster")
    fit_df = feat.sample(fit_fraction, seed=seed) if fit_fraction else feat
    model = km.fit(fit_df)
    assigned = model.transform(feat).drop("__feat")
    centroids = np.array(model.clusterCenters())
    return IvfIndex(assigned=assigned, centroids=centroids, vec_col=vec_col, id_col=id_col)


def persist_ivf(index: IvfIndex, path: str) -> IvfIndex:
    """Materialize the assignment parquet-partitioned by ``__cluster`` —
    the layout that turns cluster probing into directory partition
    pruning: a probe of nprobe/K clusters READS nprobe/K of the corpus
    (file skip), instead of scanning everything and discarding rows.
    This is the scale path every search helper assumes; returns the index
    re-pointed at the pruned-readable table."""
    index.assigned.write.mode("overwrite").partitionBy("__cluster").parquet(path)
    spark = index.assigned.sparkSession
    return IvfIndex(
        assigned=spark.read.parquet(path),
        centroids=index.centroids,
        vec_col=index.vec_col,
        id_col=index.id_col,
        persisted=True,
    )


def ivf_search(
    index: IvfIndex,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
    flt: dict[str, Any] | None = None,
    probe_clusters: Sequence[int] | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` centroid-nearest clusters, exact-score inside.

    The cluster filter is an ordinary column predicate — with the corpus
    partitioned by cluster it becomes partition pruning, reading nprobe/K
    of the data. ``probe_clusters`` pins an explicit probe set (the
    filtered dispatcher's per-cluster-stats selection — dispatch.py)."""
    if probe_clusters is not None:
        probes = [int(c) for c in probe_clusters]
    else:
        q = np.asarray(query_vector, dtype=np.float64)
        d = ((index.centroids - q) ** 2).sum(axis=1)
        probes = [int(c) for c in np.argsort(d)[:nprobe]]
    pruned = index.assigned.filter(F.col("__cluster").isin(probes))
    return knn(
        pruned, query_vector, metric=metric, k=k, vec_col=index.vec_col,
        id_col=index.id_col, flt=flt,
        select=[index.id_col, "score"],
    )


def _probe_map(Qm: np.ndarray, centroids: np.ndarray, nprobe: int):
    """Each query's ``nprobe`` centroid-nearest clusters (squared euclid
    in raw vector space): the probed union, sorted, and the cluster ->
    probing query rows map the cluster-masked kernel takes."""
    d = ((Qm[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(d, axis=1)[:, :nprobe]
    used = sorted({int(c) for row in probes for c in row})
    return used, {c: np.where((probes == c).any(axis=1))[0] for c in used}


def ivf_search_batch(
    index: IvfIndex,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
) -> DataFrame:
    """Bulk ANN: every query probes only its ``nprobe`` nearest clusters.

    Plan shape: the probe map (cluster -> probing query indices, computed
    driver-side from the centroid matrix) is broadcast; the corpus —
    pre-filtered to clusters somebody probes, which becomes partition
    pruning when the corpus is stored partitioned by cluster — streams
    through the Arrow scorer ONCE, each cluster block matmul'd against
    only its probing queries. No pair materialization: a join would ship
    every point duplicated per probing query. Exact per-query top-k window
    finishes, so full probe == exact batch scan."""
    from qdrant_spark.operators.knn import _masked_code_topk

    # plain collect (see knn._matmul_knn): coalesce(1) serializes every
    # python partition through one worker, ~2.6s fixed overhead
    q_rows = queries.select(qid_col, qvec_col).collect()
    qids = [r[qid_col] for r in q_rows]
    Qm = np.array([list(r[qvec_col]) for r in q_rows], dtype=np.float64)
    used, cluster_q = _probe_map(Qm, index.centroids, nprobe)
    pruned = index.assigned.filter(F.col("__cluster").isin(used))
    return _masked_code_topk(
        pruned, code_col=index.vec_col, id_col=index.id_col, qids=qids,
        Q=Qm, cluster_q=cluster_q, k=k, metric=metric, qid_col=qid_col,
        qid_type=queries.schema[qid_col].dataType)


def recall_at_k(
    index: IvfIndex,
    points: DataFrame,
    queries: list[Sequence[float]],
    *,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "cosine",
) -> float:
    """Fraction of exact top-k recovered by the IVF search, averaged over
    queries (the reference's ANN quality gate)."""
    hits = total = 0
    for q in queries:
        exact = {
            r[index.id_col]
            for r in knn(points, q, metric=metric, k=k, vec_col=index.vec_col,
                         id_col=index.id_col, select=[index.id_col, "score"]).collect()
        }
        approx = {r[index.id_col] for r in ivf_search(index, q, k=k, nprobe=nprobe,
                                                      metric=metric).collect()}
        hits += len(exact & approx)
        total += len(exact)
    return hits / total if total else 1.0


# --------------------------------------------------------------------------
# IVF + PQ: coarse cluster pruning over residual-quantized codes
# --------------------------------------------------------------------------

@dataclass
class IvfPqIndex:
    """IVF-PQ index: the Spark-native analogue of the reference's
    HNSW-over-quantized-vectors deployment (graph search reading PQ codes
    with exact rescore — lib/segment/src/index/hnsw_index/hnsw.rs quantized
    path + lib/quantization/src/encoded_vectors_pq.rs). The coarse
    structure here is IVF (see module docstring for why, not a graph);
    codes are PQ over CLUSTER RESIDUALS (v - centroid), which quantize much
    tighter than raw vectors because each cluster's residual cloud is
    centred.

    ``assigned`` holds the corpus with ``__cluster`` (partition by it at
    scale — probing prunes files) and ``__pq`` (array<tinyint>, M bytes per
    row). The coarse scan reads ONLY those two columns plus the id: at 100
    TB that is the difference between scanning M+8 bytes/row and 4*dim.
    ``cross`` (n_clusters, M, K) caches centroid-subvector x codebook dot
    products for the norm term — 4k clusters x 8 x 256 is 64 MB, broadcast
    once per search."""

    assigned: DataFrame
    centroids: np.ndarray   # (C, dim)
    codebooks: np.ndarray   # (M, K, dsub) — trained on residuals
    vec_col: str
    id_col: str


def build_ivf_pq(
    points: DataFrame,
    *,
    n_clusters: int = 16,
    n_subspaces: int = 8,
    n_centroids: int = 256,
    vec_col: str = "vec",
    id_col: str = "id",
    seed: int = 42,
    max_iter: int = 20,
    fit_fraction: float | None = None,
    sample_size: int = 100_000,
) -> IvfPqIndex:
    """Build IVF (KMeans clusters) then PQ codebooks on the cluster
    residuals of a seeded sample; encode the whole corpus in one
    Arrow-batched pass (NumPy argmin via matmul per subspace).

    The residual trick: ``v = centroid[c] + r`` with ``r`` small, so the
    per-subspace KMeans spends its 256 codes on a tight cloud instead of
    the whole embedding space — same code budget, much lower distortion.
    """
    from qdrant_spark.operators.quantize import _fit_codebooks

    ivf = build_ivf(
        points, n_clusters=n_clusters, vec_col=vec_col, id_col=id_col,
        seed=seed, max_iter=max_iter, fit_fraction=fit_fraction,
    )
    centroids = ivf.centroids
    dim = centroids.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces

    base = ivf.assigned
    n = base.count()
    frac = min(1.0, float(sample_size) / max(n, 1))
    # sortWithinPartitions-free determinism: collect() row order depends on
    # task scheduling, and _kmeans_np's result depends on data order — sort
    # the (tiny) driver-side sample by id so codebooks are reproducible
    # run-to-run, not just seed-to-seed
    sel = base.select(id_col, vec_col, "__cluster")
    sample_rows = (
        sel.sample(frac, seed=seed).collect()
        or sel.limit(sample_size).collect()
    )
    sample_rows.sort(key=lambda r: r[0])
    V = np.array([list(r[1]) for r in sample_rows], dtype=np.float64)
    R = V - centroids[np.array([r[2] for r in sample_rows], dtype=np.int64)]
    codebooks = _fit_codebooks(R, n_subspaces, n_centroids, max_iter,
                               seed)  # (M, K<=n_centroids, dsub)

    enc = _pq_encoder(centroids, codebooks)
    assigned = base.withColumn(
        "__pq", enc(F.col(vec_col).cast("array<double>"), F.col("__cluster"))
    )
    return IvfPqIndex(
        assigned=assigned, centroids=centroids, codebooks=codebooks,
        vec_col=vec_col, id_col=id_col,
    )


def _pq_encoder(centroids: np.ndarray, codebooks: np.ndarray):
    """Vectorized residual-PQ encoder (pandas_udf): per Arrow batch,
    subtract the assigned centroid and argmin each subspace against its
    codebook via one matmul. Shared by the initial build and the
    incremental-ingest path (:func:`assign_to_ivf_pq`)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cb = codebooks
    cb_norm2 = (cb * cb).sum(axis=2)
    M = cb.shape[0]
    dsub = cb.shape[2]
    cents = centroids

    def _encode(vec_s, cl_s):
        if len(vec_s) == 0:
            return pd.Series([], dtype=object)
        Vb = np.array(vec_s.tolist(), dtype=np.float64)
        Rb = Vb - cents[cl_s.to_numpy(dtype=np.int64)]
        codes = np.empty((Rb.shape[0], M), dtype=np.int16)
        for m in range(M):
            sub = Rb[:, m * dsub:(m + 1) * dsub]
            d = cb_norm2[m][None, :] - 2.0 * sub @ cb[m].T
            codes[:, m] = d.argmin(axis=1)
        return pd.Series(list((codes - 128).astype(np.int8)))

    return pandas_udf(_encode, "array<tinyint>")


def persist_ivf_pq(index: IvfPqIndex, path: str) -> IvfPqIndex:
    """Materialize partitioned by ``__cluster`` (same layout contract as
    :func:`persist_ivf`: probing = directory pruning)."""
    index.assigned.write.mode("overwrite").partitionBy("__cluster").parquet(path)
    spark = index.assigned.sparkSession
    return IvfPqIndex(
        assigned=spark.read.parquet(path),
        centroids=index.centroids, codebooks=index.codebooks,
        vec_col=index.vec_col, id_col=index.id_col,
    )


def ivf_pq_search(
    index: IvfPqIndex,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    oversampling: float = 4.0,
    metric: str = "cosine",
    flt: dict[str, Any] | None = None,
    rescore: bool = True,
    rescore_with: DataFrame | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Probe ``nprobe`` clusters, ADC-score the PQ codes inside them
    (asymmetric: full-precision query vs reconstructed ``centroid[c] +
    codebook[m][code]``), keep ``k*oversampling`` candidates, exact-rescore
    on the original vectors.

    The coarse stage reads only (id, __cluster, __pq): with the corpus
    partitioned by cluster this is a partition-pruned scan of M bytes of
    code per row, one fancy-indexed LUT sum per Arrow batch — no
    reconstruction matmul. The reconstruction identities:
    ``dot(q, x̂) = q·c + Σ_m lut[m, code_m]`` and ``‖x̂‖² = ‖c‖² +
    2 Σ_m cross[c, m, code_m] + Σ_m rnorm2[m, code_m]``.

    ``rescore_with`` supplies the full-precision vector table for the
    exact rescore (must carry ``id_col`` + ``vec_col``). Default is the
    index's own ``assigned`` table; pass the original corpus when it is
    better laid out for point lookup (RAM-cached, or id-sorted parquet so
    the semi-join prunes row groups) — the reference's deployment shape:
    quantized codes resident, originals in the storage tier."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from qdrant_spark.operators.knn import larger_is_better

    if metric not in ("cosine", "dot", "euclid", "manhattan"):
        raise ValueError(f"unknown metric {metric!r}")
    q = np.asarray(query_vector, dtype=np.float64)
    cb = index.codebooks
    M, K, dsub = cb.shape
    cents = index.centroids
    qsub = q.reshape(M, dsub)

    d_cent = ((cents - q) ** 2).sum(axis=1)
    probes = [int(c) for c in np.argsort(d_cent)[:nprobe]]

    lut = np.einsum("md,mkd->mk", qsub, cb)              # (M, K) q·r terms
    qc = cents @ q                                        # (C,) q·c terms
    cnorm2 = (cents * cents).sum(axis=1)                  # (C,)
    rnorm2 = (cb * cb).sum(axis=2)                        # (M, K)
    # cross[c, m, k] = centroid_c[sub m] · cb[m, k]  — (C, M, K)
    cross = np.einsum("cmd,mkd->cmk", cents.reshape(-1, M, dsub), cb)
    l2_q = float(np.linalg.norm(q))
    marange = np.arange(M)

    # Size-dispatched fused route (mirrors ivf_pq_search_batch mode=auto):
    # when the probed scan is small/cached, ONE python stage that reads
    # codes AND vectors, ADC-shortlists per cluster block and exact-
    # rescores the shortlist in-worker beats the narrow coarse scan + a
    # second rescore job (two python stages + a broadcast join of fixed
    # cost). Large/disk-resident corpora keep the narrow two-stage plan.
    if mode not in ("auto", "fused", "twostage"):
        raise ValueError(f"mode must be auto/fused/twostage, got {mode!r}")
    can_fuse = (
        rescore and rescore_with is None and flt is None
        and metric in ("cosine", "dot", "euclid")
        and index.vec_col in index.assigned.columns
    )
    if mode == "fused" and not can_fuse:
        raise ValueError("fused mode needs rescore=True, no flt/rescore_with, "
                         "vector column present, metric cosine/dot/euclid")
    use_fused = can_fuse and mode != "twostage"
    if use_fused and mode == "auto":
        from qdrant_spark.operators.knn import _plan_size_bytes

        pruned_probe = index.assigned.filter(F.col("__cluster").isin(probes))
        sz = _plan_size_bytes(pruned_probe)
        use_fused = 0 < sz < FUSED_PQ_DISPATCH_BYTES
    if use_fused:
        from pyspark.sql import types as T

        from qdrant_spark.operators.knn import score_order

        n_coarse = max(k, int(np.ceil(k * oversampling)))
        sc = index.assigned.sparkSession.sparkContext
        b = sc.broadcast((
            np.array([0]), {int(c): np.array([0]) for c in probes},
            lut[None, :, :], qc[None, :], cnorm2, rnorm2, cross,
            np.array([l2_q]), q[None, :],
        ))
        pruned = index.assigned.filter(F.col("__cluster").isin(probes))
        out = _ivf_pq_fused_batch(
            index, T.LongType(), pruned, b, k=k, n_coarse=n_coarse,
            metric=metric, bigger=larger_is_better(metric), qid_col="__qid",
        )
        return (out.select(F.col(index.id_col), F.col("score"))
                   .orderBy(*score_order(metric, id_col=index.id_col)))

    def _score(cl_s, codes_s):
        if len(cl_s) == 0:
            return pd.Series([], dtype=np.float64)
        cl = cl_s.to_numpy(dtype=np.int64)
        codes = (np.array(codes_s.tolist(), dtype=np.int16) + 128).astype(np.int64)
        dot = qc[cl] + lut[marange[None, :], codes].sum(axis=1)
        if metric == "dot":
            return pd.Series(dot)
        if metric == "manhattan":
            xhat = cents[cl] + cb[marange[None, :], codes].reshape(len(cl), -1)
            return pd.Series(np.abs(xhat - q).sum(axis=1))
        norm2 = (
            cnorm2[cl]
            + 2.0 * cross[cl[:, None], marange[None, :], codes].sum(axis=1)
            + rnorm2[marange[None, :], codes].sum(axis=1)
        )
        norm2 = np.maximum(norm2, 1e-24)
        if metric == "cosine":
            return pd.Series(dot / (np.sqrt(norm2) * max(l2_q, 1e-12)))
        d2 = norm2 + l2_q * l2_q - 2.0 * dot
        return pd.Series(np.sqrt(np.maximum(d2, 0.0)))

    score_udf = pandas_udf(_score, "double")
    pts = index.assigned.filter(F.col("__cluster").isin(probes))
    if flt is not None:
        from qdrant_spark.filters import apply_filter

        pts = apply_filter(pts, flt)

    bigger = larger_is_better(metric)
    order = F.col("__coarse").desc() if bigger else F.col("__coarse")
    n_coarse = max(k, int(np.ceil(k * oversampling)))
    coarse = (
        pts.withColumn("__coarse", score_udf(F.col("__cluster"), F.col("__pq")))
        .orderBy(order, F.col(index.id_col))
        .limit(n_coarse)
    )
    if not rescore:
        return coarse.select(F.col(index.id_col), F.col("__coarse").alias("score"))
    cand_ids = F.broadcast(coarse.select(index.id_col))
    # candidates can only come from probed clusters — keep the cluster
    # predicate on the rescore scan so it reads the same pruned partitions
    # as the coarse stage instead of re-opening the whole corpus
    if rescore_with is not None:
        src = rescore_with
    else:
        src = index.assigned.filter(F.col("__cluster").isin(probes))
    candidates = src.join(cand_ids, index.id_col, "left_semi")
    return knn(
        candidates, query_vector, metric=metric, k=k,
        vec_col=index.vec_col, id_col=index.id_col,
        select=[index.id_col, "score"],
    )


def assign_to_ivf(index: IvfIndex, new_points: DataFrame) -> IvfIndex:
    """Incremental index maintenance: assign NEW rows to the existing
    centroids (nearest-centroid, computed as a plan-time literal argmin —
    no KMeans refit, no python worker) and append them to the assignment.
    This is the ingest-time path for a live corpus: centroids stay fixed
    between periodic rebuilds, so appends are map-only and the
    cluster-partitioned layout keeps working (new files land in existing
    cluster directories on the next persist).

    The argmin over K centroids unrolls into a codegen'd expression:
    squared euclid to centroid c is ||v||^2 - 2 v.c + ||c||^2; ||v||^2 is
    shared, so the comparison needs only the linear term per cluster."""
    vec = F.col(index.vec_col).cast("array<double>")
    cents = index.centroids
    # score_c = -2 v.c + ||c||^2 (minimize) — one fold per cluster, the
    # shared ||v||^2 term cancels in the argmin
    scores = [
        (
            F.aggregate(
                F.zip_with(
                    vec,
                    vec_lit(cents[c]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(-2.0)
            + F.lit(float((cents[c] * cents[c]).sum()))
        ).alias(f"__s{c}")
        for c in range(len(cents))
    ]
    ranked = F.array_sort(
        F.array(*[
            F.struct(F.col(f"__s{c}").alias("s"),
                     F.lit(c).cast("int").alias("c"))
            for c in range(len(cents))
        ])
    )
    assigned_new = (
        new_points.filter(F.col(index.vec_col).isNotNull())
        .select("*", *scores)
        .withColumn("__cluster", F.element_at(ranked, 1)["c"])
        .drop(*[f"__s{c}" for c in range(len(cents))])
    )
    cols = index.assigned.columns
    merged = index.assigned.unionByName(assigned_new.select(*cols))
    # the union is still prunable-enough to keep downstream layouts: the
    # persisted side file-prunes on __cluster and the appended side is a
    # bounded (<= stale_fraction) computed tail
    return IvfIndex(
        assigned=merged, centroids=index.centroids,
        vec_col=index.vec_col, id_col=index.id_col,
        persisted=index.persisted,
    )


def ivf_from_centroids(
    points: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "vec",
    id_col: str = "id",
) -> IvfIndex:
    """Build an IVF assignment for ``points`` against PRE-FIT centroids —
    no KMeans refit, one map-only argmin pass (the same codegen'd
    expression as :func:`assign_to_ivf`). This is the 100-TB ingest
    shape: centroids are fit once on a sample, then every corpus shard
    assigns independently."""
    empty = points.limit(0).withColumn("__cluster", F.lit(0).cast("int"))
    seed = IvfIndex(assigned=empty, centroids=np.asarray(centroids),
                    vec_col=vec_col, id_col=id_col)
    return assign_to_ivf(seed, points)


def ivf_pq_from_codebooks(
    points: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    *,
    vec_col: str = "vec",
    id_col: str = "id",
) -> IvfPqIndex:
    """IVF-PQ assignment for ``points`` against PRE-FIT centroids and
    codebooks: argmin cluster assign + residual PQ encode, both map-only
    — the sampled-train / full-encode split a 100-TB build uses (train
    once on a few-million-row sample, encode every shard independently)."""
    coarse = ivf_from_centroids(points, centroids,
                                vec_col=vec_col, id_col=id_col)
    enc = _pq_encoder(np.asarray(centroids), np.asarray(codebooks))
    assigned = coarse.assigned.withColumn(
        "__pq", enc(F.col(vec_col).cast("array<double>"), F.col("__cluster")),
    )
    return IvfPqIndex(
        assigned=assigned, centroids=np.asarray(centroids),
        codebooks=np.asarray(codebooks), vec_col=vec_col, id_col=id_col,
    )


def assign_to_ivf_pq(index: IvfPqIndex, new_points: DataFrame) -> IvfPqIndex:
    """Incremental IVF-PQ ingest: cluster-assign (frozen centroids, the
    :func:`assign_to_ivf` argmin expression) and residual-PQ-encode
    (frozen codebooks, the build-time Arrow encoder) NEW rows, appended
    to the existing assignment. No KMeans or codebook refit — the
    append is map-only, so the cluster-partitioned layout keeps pruning
    and codebooks stay stable between periodic rebuilds (the reference
    rebuilds quantized segments out-of-band the same way)."""
    fresh = ivf_pq_from_codebooks(
        new_points, index.centroids, index.codebooks,
        vec_col=index.vec_col, id_col=index.id_col,
    )
    cols = index.assigned.columns
    merged = index.assigned.unionByName(fresh.assigned.select(*cols))
    return IvfPqIndex(
        assigned=merged, centroids=index.centroids,
        codebooks=index.codebooks,
        vec_col=index.vec_col, id_col=index.id_col,
    )


def ivf_pq_search_batch(
    index: IvfPqIndex,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 4,
    oversampling: float = 4.0,
    metric: str = "cosine",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    rescore_with: DataFrame | None = None,
    mode: str = "auto",
    fused_dispatch_bytes: int | None = None,
) -> DataFrame:
    """Batched IVF-PQ: the bulk 100-TB ANN shape — every query ADC-scores
    only its ``nprobe`` probed clusters, then the per-query shortlists are
    exact-rescored. Two physical strategies, size-dispatched like
    :func:`qdrant_spark.operators.knn.knn` (the reference's
    plain-vs-index dispatch, dispatch.rs:56-176):

    - ``coarse`` — the 100-TB plan: one Arrow pass over ONLY the code
      columns (M+8 bytes/row, partition-pruned to probed clusters)
      emitting per-partition per-query top-n_coarse ADC scores; a window
      picks the global shortlist; the exact rescore broadcast-joins the
      tiny (qid, id) shortlist back to the full vectors (``rescore_with``
      or the probed partitions). Three stages — their fixed cost
      amortizes when the corpus dwarfs it.
    - ``fused`` — the small/cached-corpus plan: one Arrow pass reading
      codes AND vectors; each cluster block ADC-shortlists in-worker and
      exact-rescores only its shortlist rows immediately (small einsum,
      never a full matmul), so the plan is a single python stage plus the
      final window — the same stage count as the exact batch scan with a
      fraction of its compute. Candidates are per-(partition, query)
      ADC-top-n_coarse — a superset of the coarse path's global
      shortlist, so recall is >= the coarse path's at equal settings.

    ``mode="auto"`` fuses when the probed scan's Catalyst size estimate is
    under ``fused_dispatch_bytes`` (default 1 GiB — roughly where an extra
    full-width scan costs less than two extra python stages) and the
    assigned table still carries the vector column; explicit
    ``rescore_with`` implies the caller runs the storage-tier layout, so
    auto picks coarse. Full probe + ample oversampling equals the exact
    batch scan in either mode."""
    import pandas as pd  # noqa: F401  (Arrow path dependency)
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from qdrant_spark.operators.knn import _plan_size_bytes, larger_is_better

    if metric not in ("cosine", "dot", "euclid"):
        raise ValueError(f"batched IVF-PQ supports cosine/dot/euclid, got {metric!r}")
    if mode not in ("auto", "fused", "coarse"):
        raise ValueError(f"mode must be auto/fused/coarse, got {mode!r}")
    q_rows = queries.select(qid_col, qvec_col).collect()
    qids = np.asarray([r[qid_col] for r in q_rows])
    Qm = np.array([list(r[qvec_col]) for r in q_rows], dtype=np.float64)
    cb = index.codebooks
    M, K, dsub = cb.shape
    cents = index.centroids
    nq = Qm.shape[0]

    d = ((Qm[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(d, axis=1)[:, :nprobe]
    used = sorted({int(c) for row in probes for c in row})
    cluster_q = {int(c): np.where((probes == c).any(axis=1))[0] for c in used}

    lut = np.einsum("qmd,mkd->qmk", Qm.reshape(nq, M, dsub), cb)   # (Q, M, K)
    qc = Qm @ cents.T                                               # (Q, C)
    cnorm2 = (cents * cents).sum(axis=1)
    rnorm2 = (cb * cb).sum(axis=2)
    cross = np.einsum("cmd,mkd->cmk", cents.reshape(-1, M, dsub), cb)
    l2q = np.linalg.norm(Qm, axis=1)

    sc = queries.sparkSession.sparkContext
    b = sc.broadcast((qids, cluster_q, lut, qc, cnorm2, rnorm2, cross, l2q, Qm))
    bigger = larger_is_better(metric)
    n_coarse = max(k, int(np.ceil(k * oversampling)))
    marange = np.arange(M)

    pruned = index.assigned.filter(F.col("__cluster").isin(used))
    can_fuse = index.vec_col in index.assigned.columns and rescore_with is None
    if mode == "fused":
        if not can_fuse:
            raise ValueError(
                "fused mode needs the vector column in index.assigned "
                "and no rescore_with")
        use_fused = True
    elif mode == "auto":
        cutoff = (FUSED_PQ_DISPATCH_BYTES if fused_dispatch_bytes is None
                  else fused_dispatch_bytes)
        sz = _plan_size_bytes(pruned)
        use_fused = can_fuse and 0 < sz < cutoff
    else:
        use_fused = False
    if use_fused:
        return _ivf_pq_fused_batch(
            index, queries.schema[qid_col].dataType, pruned, b, k=k,
            n_coarse=n_coarse, metric=metric, bigger=bigger, qid_col=qid_col,
        )
    sel = pruned.select(index.id_col, "__pq", "__cluster")
    out_schema = T.StructType([
        T.StructField(qid_col, queries.schema[qid_col].dataType),
        T.StructField(index.id_col, sel.schema[index.id_col].dataType),
        T.StructField("__coarse", T.DoubleType()),
    ])
    id_col = index.id_col

    def adc_batches(batches):
        import pyarrow as pa

        qid_arr, cq, lut_, qc_, cn2, rn2, cross_, l2q_, _Qm = b.value
        # norm term tables combined once per task: ||x̂||² = ||c||² +
        # Σ_m (2·cross[c,m,code] + rnorm2[m,code]) — fold the 2·cross+rn2
        # into one (C, M, K) table so the per-row work is a single gather
        nt_all = 2.0 * cross_ + rn2[None, :, :]
        # per-cluster transposed dot-LUTs (M, K, q), built lazily: the
        # contiguous last axis makes each code gather a q-float row copy
        # instead of q strided scalar loads — ~4x over the (q, M, K) layout
        lut_t_cache: dict = {}
        acc = []
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            codes_col = batch.column(1)
            if isinstance(codes_col, pa.ChunkedArray):
                codes_col = codes_col.combine_chunks()
            codes = (
                codes_col.flatten().to_numpy(zero_copy_only=False)
                .reshape(n, M).astype(np.int64) + 128
            )
            cl = batch.column(2).to_numpy(zero_copy_only=False)
            for c in np.unique(cl):
                qidx = cq.get(int(c))
                if qidx is None or len(qidx) == 0:
                    continue
                mask = cl == c
                cc = codes[mask]                      # (n_c, M)
                nc = cc.shape[0]
                lut_t = lut_t_cache.get(int(c))
                if lut_t is None:
                    lut_t = np.ascontiguousarray(
                        lut_[qidx].transpose(1, 2, 0))   # (M, K, q)
                    lut_t_cache[int(c)] = lut_t
                g = lut_t[0][cc[:, 0]]                   # (n_c, q)
                for m in range(1, M):
                    g += lut_t[m][cc[:, m]]
                dots = g.T + qc_[qidx, int(c)][:, None]  # (q, n_c)
                if metric == "dot":
                    S = dots
                else:
                    nt = nt_all[int(c)]                  # (M, K)
                    norm2 = np.full(nc, cn2[int(c)])
                    for m in range(M):
                        norm2 += nt[m, cc[:, m]]
                    norm2 = np.maximum(norm2, 1e-24)
                    if metric == "cosine":
                        S = dots / (np.sqrt(norm2)[None, :]
                                    * np.maximum(l2q_[qidx], 1e-12)[:, None])
                    else:  # euclid
                        d2 = norm2[None, :] + (l2q_[qidx] ** 2)[:, None] - 2.0 * dots
                        S = np.sqrt(np.maximum(d2, 0.0))
                kk = min(n_coarse, nc)
                if kk < nc:
                    part = np.argpartition(
                        -S if bigger else S, kk - 1, axis=1
                    )[:, :kk]
                else:
                    part = np.tile(np.arange(nc)[None, :], (len(qidx), 1))
                rows = part.ravel()
                qrep = np.repeat(qidx, part.shape[1])
                acc.append((qrep, ids[mask][rows], S[np.repeat(
                    np.arange(len(qidx)), part.shape[1]), rows]))
        if not acc:
            return
        import pyarrow as pa

        qi = np.concatenate([a[0] for a in acc])
        ii = np.concatenate([a[1] for a in acc])
        ss = np.concatenate([a[2] for a in acc])
        # per-partition trim to per-query top-n_coarse before the shuffle —
        # map-side combine of the shortlist window
        key_s = -ss if bigger else ss
        order = np.lexsort((ii, key_s, qi))
        qi, ii, ss = qi[order], ii[order], ss[order]
        uq, starts = np.unique(qi, return_index=True)
        rank = np.arange(len(qi)) - starts[np.searchsorted(uq, qi)]
        keep = rank < n_coarse
        yield pa.RecordBatch.from_arrays(
            [pa.array(qid_arr[qi[keep]]), pa.array(ii[keep]),
             pa.array(ss[keep], type=pa.float64())],
            names=[qid_col, id_col, "__coarse"],
        )

    scored = sel.mapInArrow(adc_batches, out_schema)
    worder = (F.col("__coarse").desc() if bigger else F.col("__coarse").asc())
    w = Window.partitionBy(qid_col).orderBy(worder, F.col(id_col))
    shortlist = (
        scored.withColumn("__crank", F.row_number().over(w))
        .filter(F.col("__crank") <= n_coarse)
        .select(qid_col, id_col)
    )
    # exact rescore: shortlist is tiny (Q * n_coarse rows) — broadcast it
    # onto the probed partitions, then score each (query, candidate) pair
    # with the Arrow rowwise scorer (interpreted aggregate(zip_with) Column
    # math on pair tables is ~60x slower — see rowwise_score_topk)
    from qdrant_spark.operators.knn import rowwise_score_topk

    src = rescore_with if rescore_with is not None else pruned
    cand = src.join(
        F.broadcast(shortlist), id_col, "inner"
    ).select(qid_col, id_col, F.col(index.vec_col).alias("__v"))
    qdf = queries.select(F.col(qid_col), F.col(qvec_col).alias("__qv"))
    pair = cand.join(F.broadcast(qdf), qid_col)
    return rowwise_score_topk(
        pair, metric=metric, k=k, qid_col=qid_col, id_col=id_col,
        vec_col="__v", qvec_col="__qv",
    )


def _ivf_pq_fused_batch(
    index: IvfPqIndex,
    qid_dtype,  # Spark DataType of the qid column in the output
    pruned: DataFrame,
    b,  # broadcast: (qids, cluster_q, lut, qc, cnorm2, rnorm2, cross, l2q, Qm)
    *,
    k: int,
    n_coarse: int,
    metric: str,
    bigger: bool,
    qid_col: str,
) -> DataFrame:
    """Fused ADC-shortlist + in-worker exact rescore (see
    :func:`ivf_pq_search_batch` ``mode`` docs). One python stage: each
    cluster block computes ADC scores for all its rows (LUT gathers, no
    matmul), takes per-query top-n_coarse, exact-scores ONLY those rows
    against the broadcast query matrix (a (q, n_coarse, d) einsum), and
    emits per-partition per-query top-k exact scores into the final
    window."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from qdrant_spark.operators.knn import score_order

    M = index.codebooks.shape[0]
    sel = pruned.select(index.id_col, index.vec_col, "__pq", "__cluster")
    out_schema = T.StructType([
        T.StructField(qid_col, qid_dtype),
        T.StructField(index.id_col, sel.schema[index.id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])
    id_col = index.id_col

    def fused_batches(batches):
        import pyarrow as pa

        qid_arr, cq, lut_, qc_, cn2, rn2, cross_, l2q_, Qm_ = b.value
        nt_all = 2.0 * cross_ + rn2[None, :, :]
        lut_t_cache: dict = {}
        acc = []
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vcol = batch.column(1)
            if isinstance(vcol, pa.ChunkedArray):
                vcol = vcol.combine_chunks()
            # keep float32 here — only the gathered shortlist rows are
            # upcast for the exact rescore, not the whole block
            V = vcol.flatten().to_numpy(zero_copy_only=False).reshape(n, -1)
            codes_col = batch.column(2)
            if isinstance(codes_col, pa.ChunkedArray):
                codes_col = codes_col.combine_chunks()
            codes = (
                codes_col.flatten().to_numpy(zero_copy_only=False)
                .reshape(n, M).astype(np.int64) + 128
            )
            cl = batch.column(3).to_numpy(zero_copy_only=False)
            for c in np.unique(cl):
                qidx = cq.get(int(c))
                if qidx is None or len(qidx) == 0:
                    continue
                mask = cl == c
                cc = codes[mask]
                nc = cc.shape[0]
                lut_t = lut_t_cache.get(int(c))
                if lut_t is None:
                    lut_t = np.ascontiguousarray(
                        lut_[qidx].transpose(1, 2, 0))   # (M, K, q)
                    lut_t_cache[int(c)] = lut_t
                g = lut_t[0][cc[:, 0]]
                for m in range(1, M):
                    g += lut_t[m][cc[:, m]]
                dots = g.T + qc_[qidx, int(c)][:, None]  # (q, n_c)
                if metric == "dot":
                    S = dots
                else:
                    nt = nt_all[int(c)]
                    norm2 = np.full(nc, cn2[int(c)])
                    for m in range(M):
                        norm2 += nt[m, cc[:, m]]
                    norm2 = np.maximum(norm2, 1e-24)
                    if metric == "cosine":
                        S = dots / (np.sqrt(norm2)[None, :]
                                    * np.maximum(l2q_[qidx], 1e-12)[:, None])
                    else:  # euclid
                        d2 = (norm2[None, :] + (l2q_[qidx] ** 2)[:, None]
                              - 2.0 * dots)
                        S = np.sqrt(np.maximum(d2, 0.0))
                kk = min(n_coarse, nc)
                if kk < nc:
                    part = np.argpartition(
                        -S if bigger else S, kk - 1, axis=1
                    )[:, :kk]
                else:
                    part = np.tile(np.arange(nc)[None, :], (len(qidx), 1))
                # exact rescore of the shortlist only: (q, kk, d) gather +
                # one small einsum per cluster block
                Vc = V[mask]
                X = Vc[part].astype(np.float64)           # (q, kk, d)
                Qsub = Qm_[qidx]                          # (q, d)
                edot = np.einsum("qkd,qd->qk", X, Qsub)
                if metric == "dot":
                    Se = edot
                elif metric == "cosine":
                    xn = np.linalg.norm(X, axis=2)
                    Se = edot / (np.maximum(xn, 1e-12)
                                 * np.maximum(l2q_[qidx], 1e-12)[:, None])
                else:  # euclid
                    xn2 = (X * X).sum(axis=2)
                    d2 = xn2 + (l2q_[qidx] ** 2)[:, None] - 2.0 * edot
                    Se = np.sqrt(np.maximum(d2, 0.0))
                rows = part.ravel()
                acc.append((np.repeat(qidx, part.shape[1]),
                            ids[mask][rows], Se.ravel()))
        if not acc:
            return
        import pyarrow as pa

        qi = np.concatenate([a[0] for a in acc])
        ii = np.concatenate([a[1] for a in acc])
        ss = np.concatenate([a[2] for a in acc])
        # per-partition trim to per-query top-k on the EXACT score —
        # map-side combine of the final window
        key_s = -ss if bigger else ss
        order = np.lexsort((ii, key_s, qi))
        qi, ii, ss = qi[order], ii[order], ss[order]
        uq, starts = np.unique(qi, return_index=True)
        rank = np.arange(len(qi)) - starts[np.searchsorted(uq, qi)]
        keep = rank < k
        yield pa.RecordBatch.from_arrays(
            [pa.array(qid_arr[qi[keep]]), pa.array(ii[keep]),
             pa.array(ss[keep], type=pa.float64())],
            names=[qid_col, id_col, "score"],
        )

    scored = sel.mapInArrow(fused_batches, out_schema)
    w = Window.partitionBy(qid_col).orderBy(*score_order(metric, id_col=id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cluster_sizes(index: IvfIndex) -> DataFrame:
    """(cluster, n) — one small aggregation; the skew diagnostic."""
    return index.assigned.groupBy(F.col("__cluster").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n")
    )


def rebalance_ivf(
    index: IvfIndex,
    *,
    max_cluster_size: int,
    seed: int = 42,
    sample_per_split: int = 50_000,
    max_iter: int = 10,
) -> IvfIndex:
    """Split oversized clusters — the IVF skew guard. A skewed corpus (one
    dense region, boilerplate embeddings) concentrates rows in few
    clusters; probing such a cluster scans far more than corpus/K rows and
    its parquet partition becomes a straggler file. Rebalancing restores
    the partition-pruning math that makes IVF the 100-TB plan.

    For each cluster over ``max_cluster_size``: fit a local sub-KMeans
    (ceil(n/max) centroids) on a driver-side sample of that cluster only,
    then reassign ONLY that cluster's rows to the sub-centroids with the
    plan-time literal argmin (map-only, no python worker, no shuffle —
    same expression as :func:`assign_to_ivf`). Healthy clusters keep
    their ids and rows untouched; sub-centroids take fresh ids appended
    after the existing ones, so persisted layouts only rewrite split
    directories. One pass regardless of how many clusters split.

    Size guarantee is statistical, not hard: sub-KMeans balances the
    sample; re-check ``cluster_sizes`` and re-run if a split stayed hot.
    """
    import math as _math

    from qdrant_spark.operators.quantize import _kmeans_np

    sizes = {int(r["cluster"]): int(r["n"]) for r in cluster_sizes(index).collect()}
    over = sorted(c for c, n in sizes.items() if n > max_cluster_size)
    if not over:
        return index
    vec = F.col(index.vec_col).cast("array<double>")
    cents = index.centroids
    keep_ids = [c for c in range(len(cents)) if c not in set(over)]
    new_cents: list[np.ndarray] = [cents[c] for c in keep_ids]
    # stable remap: surviving clusters keep their position-order ids
    remap = {old: new for new, old in enumerate(keep_ids)}
    rng = np.random.default_rng(seed)

    assigned = index.assigned
    healthy = assigned.filter(~F.col("__cluster").isin(over))
    if remap != {c: c for c in keep_ids}:
        map_expr = F.create_map(
            *[F.lit(x) for old, new in remap.items() for x in (old, new)]
        )
        healthy = healthy.withColumn(
            "__cluster", map_expr[F.col("__cluster")].cast("int")
        )

    split_parts = []
    for c in over:
        n = sizes[c]
        k_sub = max(2, int(_math.ceil(n / max_cluster_size)))
        rows = assigned.filter(F.col("__cluster") == c).select(index.vec_col)
        frac = min(1.0, sample_per_split / n)
        sample = (rows.sample(frac, seed=seed) if frac < 1.0 else rows).collect()
        V = np.array([list(r[0]) for r in sample], dtype=np.float64)
        sub = _kmeans_np(V, k_sub, max_iter, rng)           # (k_sub, dim)
        sub_ids = list(range(len(new_cents), len(new_cents) + len(sub)))
        new_cents.extend(sub)
        # literal argmin over the sub-centroids only (same folding trick as
        # assign_to_ivf: the shared ||v||^2 cancels)
        scores = [
            (
                F.aggregate(
                    F.zip_with(
                        vec,
                        vec_lit(sub[j]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * F.lit(-2.0)
                + F.lit(float((sub[j] * sub[j]).sum()))
            ).alias(f"__s{j}")
            for j in range(len(sub))
        ]
        ranked = F.array_sort(
            F.array(*[
                F.struct(F.col(f"__s{j}").alias("s"),
                         F.lit(sub_ids[j]).cast("int").alias("c"))
                for j in range(len(sub))
            ])
        )
        part = (
            assigned.filter(F.col("__cluster") == c)
            .select("*", *scores)
            .withColumn("__cluster", F.element_at(ranked, 1)["c"])
            .drop(*[f"__s{j}" for j in range(len(sub))])
        )
        split_parts.append(part)

    out = healthy
    for p in split_parts:
        out = out.unionByName(p.select(*healthy.columns))
    return IvfIndex(
        assigned=out, centroids=np.array(new_cents),
        vec_col=index.vec_col, id_col=index.id_col,
    )
