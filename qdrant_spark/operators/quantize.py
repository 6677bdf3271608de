"""Quantized two-stage search: coarse scan over compressed vectors, then
exact rescore of an oversampled candidate set.

Mirrors the reference's quantization search semantics
(``QuantizationSearchParams { ignore, rescore, oversampling }``,
lib/segment/src/types.rs:573-628; scalar/binary encoders configured via
``ScalarQuantization`` types.rs:937 and ``BinaryQuantization``
types.rs:1036-1074): search runs over the quantized storage, fetches
``k * oversampling`` candidates, then rescores them with the original
vectors and returns the exact-scored top-k.

Spark-first shape: the quantized table is a *separate, narrower column* —
int8 codes (4x fewer bytes than float32) or bit-packed longs (32x fewer).
At 100 TB the win is scan bandwidth: the coarse stage reads only the
compressed column (Parquet column pruning), and only the small candidate
set touches the full-precision vectors via a broadcast semi-join. Decode
happens in whole-stage codegen (``transform`` over the code array), so the
coarse stage never leaves the JVM.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qdrant_spark.operators.knn import knn, score_order
from qdrant_spark.functions.distances import larger_is_better


# --------------------------------------------------------------------------
# Scalar quantization (int8)
# --------------------------------------------------------------------------

@dataclass
class SqIndex:
    """Scalar-quantized corpus. ``codes`` holds ``__sq`` (array<tinyint>,
    value = round(255*(v-lo)/(hi-lo)) - 128) next to the original columns;
    at scale persist only (id, __sq) for the coarse table and keep the
    full-precision vectors in the base table."""

    codes: DataFrame
    lo: np.ndarray        # per-dimension lower clip bound
    hi: np.ndarray        # per-dimension upper clip bound
    vec_col: str
    id_col: str
    #: split storage (persist_quant): when set, ``codes`` holds only
    #: (id, code) columns — the coarse stage scans the narrow persisted
    #: parquet — and ``full`` is the full-precision frame used for the
    #: exact rescore and for payload filters (id semi-join into coarse)
    full: DataFrame | None = None

    def decoded_col(self):
        """Column decoding ``__sq`` back to approximate floats, evaluated
        JVM-side (codegen) — the coarse stage's scan never reads the
        full-precision column."""
        lo_lit = F.lit(self.lo.tolist())
        scale_lit = F.lit(((self.hi - self.lo) / 255.0).tolist())
        return F.transform(
            F.col("__sq"),
            lambda c, i: (c.cast("double") + F.lit(128.0))
            * F.element_at(scale_lit, i + 1)
            + F.element_at(lo_lit, i + 1),
        )


def build_sq(
    points: DataFrame,
    *,
    vec_col: str = "vec",
    id_col: str = "id",
    quantile: float = 0.99,
) -> SqIndex:
    """Per-dimension clip bounds (symmetric ``quantile`` clipping, as the
    reference's SQ ``quantile`` knob, types.rs:937-985) come from a seeded
    sample quantile computed in NumPy: one sampled scan of the vector
    column instead of 2*dim approx-percentile object-aggregates (those run
    outside codegen and were ~60x slower). Bound precision only affects
    code granularity, never correctness — rescore is exact."""
    base = points.filter(F.col(vec_col).isNotNull())
    n = base.count()
    if n == 0:
        raise ValueError("empty corpus")
    frac = min(1.0, 100_000.0 / n)
    sample = np.array(
        [list(r[0]) for r in base.select(vec_col).sample(frac, seed=7).collect()],
        dtype=np.float64,
    )
    if sample.size == 0:  # tiny corpus + unlucky sample: take it all
        sample = np.array(
            [list(r[0]) for r in base.select(vec_col).limit(10_000).collect()],
            dtype=np.float64,
        )
    lo = np.quantile(sample, 1.0 - quantile, axis=0)
    hi = np.quantile(sample, quantile, axis=0)
    hi = np.where(hi - lo < 1e-12, lo + 1e-12, hi)  # constant dims

    codes = base.withColumn("__sq", _sq_code_expr(lo, hi, vec_col))
    return SqIndex(codes=codes, lo=lo, hi=hi, vec_col=vec_col, id_col=id_col)


def _sq_code_expr(lo: np.ndarray, hi: np.ndarray, vec_col):
    """int8 code Column for FROZEN clip bounds — shared by the build pass
    and the incremental encode of new rows (encode_quant); accepts a
    column name or a Column (multivec token encoding maps it over the
    token arrays)."""
    lo_lit = F.lit(lo.tolist())
    scale_lit = F.lit((255.0 / (hi - lo)).tolist())
    return F.transform(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col,
        lambda v, i: F.least(
            F.lit(255.0),
            F.greatest(
                F.lit(0.0),
                F.round(
                    (v.cast("double") - F.element_at(lo_lit, i + 1))
                    * F.element_at(scale_lit, i + 1)
                ),
            ),
        )
        - F.lit(128.0),
    ).cast("array<tinyint>")


def _coarse_src(codes: DataFrame, full: DataFrame | None, flt,
                id_col: str) -> DataFrame:
    """Filtered coarse-stage frame. With split storage the payload
    columns live in ``full``, so the filter is evaluated there and
    reaches the coarse scan as an id semi-join — the narrow code scan
    stays narrow."""
    if flt is None:
        return codes
    from qdrant_spark.filters import apply_filter

    if full is None:
        return apply_filter(codes, flt)
    return codes.join(apply_filter(full, flt).select(id_col),
                      id_col, "left_semi")


def sq_search(
    index: SqIndex,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    oversampling: float = 3.0,
    metric: str = "cosine",
    flt: dict[str, Any] | None = None,
    rescore: bool = True,
) -> DataFrame:
    """Two-stage search: coarse exact-scan over decoded int8 codes for
    ``ceil(k*oversampling)`` candidates, then (``rescore=True``) exact
    re-scoring of just those candidates on the original vectors.

    With ``rescore=False`` returns coarse scores directly (the reference's
    ``rescore: false`` fast path)."""
    n_coarse = max(k, int(np.ceil(k * oversampling)))
    from qdrant_spark.operators.knn import (
        ARROW_DISPATCH_BYTES, _plan_size_bytes,
    )

    src = _coarse_src(index.codes, index.full, flt, index.id_col)
    # Split storage (persist_quant) exists only for the scale path, and
    # its narrow int8 plan-stat is 4-16x smaller than the decoded work it
    # implies — the byte dispatch under-triggers and the interpreted JVM
    # decode-transform ran 8x slower on the 512k bench corpus. Split
    # storage therefore always scores Arrow-side; in-memory handles keep
    # the size dispatch (tiny corpora stay JVM-side, no worker startup).
    if index.full is not None \
            or _plan_size_bytes(index.codes) >= ARROW_DISPATCH_BYTES:
        # Arrow-side decode: the scan ships the int8 codes only (1 B/dim)
        # and the affine decode happens on the flat Arrow buffer in the
        # scorer — the JVM decode-transform path materializes 8 B/dim
        # doubles through an interpreted HOF before conversion. Identical
        # doubles: (c+128)*scale+lo is the same two IEEE ops either side.
        coarse = _coarse_matmul(index, src, metric, [0], [query_vector],
                                n_coarse).select(index.id_col, "score")
    else:
        coarse_pts = src.withColumn("__dec", index.decoded_col())
        coarse = knn(
            coarse_pts, query_vector, metric=metric, k=n_coarse,
            vec_col="__dec", id_col=index.id_col,
            select=[index.id_col, "score"],
        )
    if not rescore:
        return coarse.orderBy(
            *score_order(metric, id_col=index.id_col)).limit(k)
    return _exact_rescore(index, index.codes, coarse, query_vector,
                          k=k, metric=metric)


def _exact_rescore(index, codes: DataFrame, coarse: DataFrame,
                   query_vector: Sequence[float], *, k: int,
                   metric: str) -> DataFrame:
    """The shared second stage of every dense quantized search: the
    coarse survivors broadcast-semi-join the full-precision frame (the
    split-storage ``full`` table, else the in-memory ``codes`` frame
    that still carries the floats) and score exactly."""
    cand_ids = F.broadcast(coarse.select(index.id_col))
    rescore_src = index.full if index.full is not None else codes
    candidates = rescore_src.join(cand_ids, index.id_col, "left_semi")
    return knn(
        candidates, query_vector, metric=metric, k=k,
        vec_col=index.vec_col, id_col=index.id_col,
        select=[index.id_col, "score"],
    )


# --------------------------------------------------------------------------
# Binary quantization (1 / 1.5 / 2 bits per dim, packed into longs)
# --------------------------------------------------------------------------

#: z-score zone boundary for the 2-bit / 1.5-bit encodings
#: (encoded_vectors_binary.rs:662 SIGMAS = 2/3)
BQ_SIGMAS = 2.0 / 3.0

BQ_ENCODINGS = ("one_bit", "two_bits", "one_and_half_bits")

#: BinaryQuantizationQueryEncoding (types.rs:1188-1201) — "default" and
#: "binary" both mean SameAsStorage (quantized_vectors.rs:164-180 maps
#: them identically); the scalar kinds keep the QUERY at 4/8-bit scalar
#: precision against 1-bit storage (asymmetric scoring,
#: encoded_vectors_binary.rs:673-760).
BQ_QUERY_ENCODINGS = ("default", "binary", "scalar4bits", "scalar8bits")

#: query-side bit width of the asymmetric encodings
_BQ_QUERY_BITS = {"scalar4bits": 4, "scalar8bits": 8}


@dataclass
class BqIndex:
    """Bit-packed corpus: ``__bq`` is array<bigint>, 64 bits per word.
    Three encodings (BinaryQuantizationEncoding, types.rs:1036-1041;
    encoded_vectors_binary.rs:558-655):

    - ``one_bit``: bit = component > per-dimension mean (dim bits).
    - ``two_bits``: per-dimension z-score zones with SIGMAS = 2/3 —
      (0,0) below -SIGMAS, (1,0) inside, (1,1) above; stored as
      [b1 bits | b2 bits] (2*dim bits). Scoring stays XOR+popcount.
    - ``one_and_half_bits``: 2-bit encoding with consecutive b2 bits
      OR-merged pairwise — [b1 bits | ceil(dim/2) merged b2 bits].

    Up to 32x smaller than float32 — at scale the coarse scan is pure
    popcount over longs, whole-stage codegen'd."""

    packed: DataFrame
    means: np.ndarray
    vec_col: str
    id_col: str
    stds: np.ndarray | None = None
    encoding: str = "one_bit"
    full: DataFrame | None = None  # split storage, see SqIndex.full
    #: BinaryQuantizationQueryEncoding — storage codes are IDENTICAL
    #: across values; only query encoding + scoring change, so this is
    #: search-time state, not a code-layout property.
    query_encoding: str = "default"


def _pack_expr(bit_col, dim: int):
    words = []
    for w in range((dim + 63) // 64):
        start = w * 64 + 1
        n = min(64, dim - w * 64)
        words.append(
            F.aggregate(
                F.slice(bit_col, start, n),
                F.lit(0).cast("long"),
                # shiftleft|or, not acc*2+x: the 64th bit would overflow a
                # signed long under ANSI arithmetic
                lambda acc, x: F.shiftleft(acc, 1).bitwiseOR(x.cast("long")),
            )
        )
    return F.array(*words)


def _bq_zone_bits(vec, means: np.ndarray, stds: np.ndarray):
    """(b1, b2) bit arrays as Columns — the z-score zones of
    encoded_vectors_binary.rs:624-671: b1 = z > -SIGMAS, b2 = z >= SIGMAS;
    zero-stddev dimensions degrade to plain mean-comparison BQ."""
    mean_lit = F.lit(means.tolist())
    std_lit = F.lit(stds.tolist())

    def z_bit(v, i, cmp, fallback):
        m = F.element_at(mean_lit, i + 1)
        s = F.element_at(std_lit, i + 1)
        z = (v.cast("double") - m) / s
        return F.when(s > F.lit(1e-12), cmp(z)).otherwise(
            fallback(v.cast("double"), m))

    b1 = F.transform(
        vec, lambda v, i: z_bit(v, i, _b1_cmp, lambda x, m: x > m).cast("int"))
    b2 = F.transform(
        vec, lambda v, i: z_bit(v, i, _b2_cmp,
                                lambda x, m: F.lit(False)).cast("int"))
    return b1, b2


def _b1_cmp(z):
    return z > F.lit(-BQ_SIGMAS)


def _b2_cmp(z):
    return z >= F.lit(BQ_SIGMAS)


def _bq_ext_dim(dim: int, encoding: str) -> int:
    if encoding == "one_bit":
        return dim
    if encoding == "two_bits":
        return 2 * dim
    return dim + (dim + 1) // 2  # one_and_half_bits


def build_bq(
    points: DataFrame,
    *,
    vec_col: str = "vec",
    id_col: str = "id",
    encoding: str = "one_bit",
    query_encoding: str = "default",
) -> BqIndex:
    """Fit per-dimension mean (and stddev for the multi-bit encodings) in
    ONE aggregation pass, then bit-encode the corpus with pure column
    math — no python workers; the pack folds into whole-stage codegen."""
    if encoding not in BQ_ENCODINGS:
        raise ValueError(f"encoding must be one of {BQ_ENCODINGS}, got {encoding!r}")
    if query_encoding not in BQ_QUERY_ENCODINGS:
        raise ValueError(
            f"query_encoding must be one of {BQ_QUERY_ENCODINGS}, "
            f"got {query_encoding!r}")
    base = points.filter(F.col(vec_col).isNotNull())
    first = base.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("empty corpus")
    dim = first["d"]
    aggs = [
        F.avg(F.element_at(F.col(vec_col), d + 1).cast("double")).alias(f"m{d}")
        for d in range(dim)
    ] + [
        F.stddev_pop(F.element_at(F.col(vec_col), d + 1).cast("double")).alias(f"s{d}")
        for d in range(dim)
    ]
    row = base.agg(*aggs).first()
    means = np.array([row[f"m{d}"] for d in range(dim)])
    stds = np.array([row[f"s{d}"] or 0.0 for d in range(dim)])

    packed = base.withColumn(
        "__bq", _bq_code_expr(means, stds, encoding, vec_col, dim))
    return BqIndex(packed=packed, means=means, vec_col=vec_col,
                   id_col=id_col, stds=stds, encoding=encoding,
                   query_encoding=query_encoding)


def _bq_code_expr(means: np.ndarray, stds: np.ndarray | None, encoding: str,
                  vec_col, dim: int):
    """Packed-words Column for FROZEN means/stds — shared by the build
    pass, the incremental encode of new rows (encode_quant), and the
    per-token multivector encode (``vec_col`` may be a Column there,
    e.g. a transform() lambda variable)."""
    vcol = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if encoding == "one_bit":
        mean_lit = F.lit(means.tolist())
        bits = F.transform(
            vcol,
            lambda v, i: (v.cast("double") > F.element_at(mean_lit, i + 1)).cast("int"),
        )
    else:
        b1, b2 = _bq_zone_bits(vcol, means, stds)
        if encoding == "two_bits":
            bits = F.concat(b1, b2)
        else:  # one_and_half_bits: OR-merge consecutive b2 bits
            n_pairs = (dim + 1) // 2
            b2m = F.transform(
                F.sequence(F.lit(0), F.lit(n_pairs - 1)),
                lambda i: F.greatest(
                    F.element_at(b2, i * 2 + 1),
                    F.coalesce(F.element_at(b2, i * 2 + 2), F.lit(0)),
                ),
            )
            bits = F.concat(b1, b2m)
    return _pack_expr(bits, _bq_ext_dim(dim, encoding))


# --------------------------------------------------------------------------
# Product quantization (M subspaces x 256 centroids, 1 byte per subspace)
# --------------------------------------------------------------------------

@dataclass
class PqIndex:
    """Product-quantized corpus (reference:
    lib/quantization/src/encoded_vectors_pq.rs — vector split into
    ``chunks``, per-chunk KMeans codebook of ≤256 centroids, one u8 code
    per chunk). ``codes`` holds ``__pq`` (array<tinyint>, value =
    centroid_index - 128) next to the original columns; the coarse scan
    reads ONLY that column — M bytes/row vs 4*dim for float32, the x4-x64
    compression users deploy. ``codebooks`` is (M, K, dsub)."""

    codes: DataFrame
    codebooks: np.ndarray
    vec_col: str
    id_col: str
    full: DataFrame | None = None  # split storage, see SqIndex.full

    @property
    def n_subspaces(self) -> int:
        return self.codebooks.shape[0]

    @property
    def n_centroids(self) -> int:
        return self.codebooks.shape[1]


def _kmeans_np(X: np.ndarray, k: int, iters: int, rng: np.random.Generator,
               init: np.ndarray | None = None) -> np.ndarray:
    """Seeded Lloyd's on a driver-side sample. The reference trains PQ
    codebooks on a bounded sample too (encoded_vectors_pq.rs KMeans over
    a capped training set); sample size bounds driver cost at 100 TB.

    Vectorized update (bincount scatter-adds, no per-centroid masks),
    early stop on a fixed assignment, float32 compute with BLOCKED
    assignment (the full n x k f64 distance matrix is ~200 MB at 100k x
    256 — pure memory traffic; 16k-row blocks stay cache-resident and f32
    halves the bandwidth). Centroid means accumulate in f64; the fit is
    on jittered samples, so f32 distance rounding is noise."""
    n, d = X.shape
    k = min(k, n)
    Xf = np.ascontiguousarray(X, dtype=np.float32)
    if init is not None:
        # caller-provided seeding (ann.build_ivf passes kmeans++ — the
        # coarse IVF structure needs it; random init merges/splits blobs
        # and measurably costs probe recall). PQ codebook fits keep the
        # random init: 256 codes on a jittered subspace cloud are
        # insensitive to it and the D^2 pass would dominate their fit.
        C = np.ascontiguousarray(init, dtype=np.float32).copy()
        k = C.shape[0]
    else:
        C = Xf[rng.choice(n, size=k, replace=False)].copy()
    assign = np.empty(n, dtype=np.int32)
    prev = None
    block = 16384
    for _ in range(iters):
        cn = (C * C).sum(axis=1)
        for s in range(0, n, block):
            e = min(n, s + block)
            dist = cn[None, :] - 2.0 * (Xf[s:e] @ C.T)
            assign[s:e] = dist.argmin(axis=1)
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign.copy()
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, d), dtype=np.float64)
        for j in range(d):
            sums[:, j] = np.bincount(assign, weights=Xf[:, j], minlength=k)
        C = (sums / np.maximum(counts, 1)[:, None]).astype(np.float32)
        empty = counts == 0
        if empty.any():
            C[empty] = Xf[rng.choice(n, size=int(empty.sum()))]
    return C.astype(np.float64)


def _fit_codebooks(sample: np.ndarray, n_subspaces: int, n_centroids: int,
                   max_iter: int, seed: int) -> np.ndarray:
    """Fit per-subspace codebooks CONCURRENTLY: each subspace gets its own
    deterministic rng (so results don't depend on thread scheduling) and
    one BLAS thread (the session pins BLAS to 1), and numpy releases the
    GIL in the matmuls — M-way parallel on the driver for the ingest-time
    fit, M x faster than the sequential loop."""
    from concurrent.futures import ThreadPoolExecutor

    dsub = sample.shape[1] // n_subspaces

    def _fit(m: int) -> np.ndarray:
        rng = np.random.default_rng([seed, m])
        return _kmeans_np(sample[:, m * dsub:(m + 1) * dsub],
                          n_centroids, max_iter, rng)

    with ThreadPoolExecutor(max_workers=n_subspaces) as ex:
        return np.stack(list(ex.map(_fit, range(n_subspaces))))


def build_pq(
    points: DataFrame,
    *,
    vec_col: str = "vec",
    id_col: str = "id",
    n_subspaces: int = 8,
    n_centroids: int = 256,
    sample_size: int = 100_000,
    seed: int = 7,
    max_iter: int = 20,
) -> PqIndex:
    """Train per-subspace codebooks on a seeded driver-side sample, then
    encode the whole corpus in one Arrow-batched pass (NumPy argmin via
    matmul per subspace — vectorized, ingest-time-only). ``dim`` must be
    divisible by ``n_subspaces`` (the reference pads; we require exact
    split and let callers pick M)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    base = points.filter(F.col(vec_col).isNotNull())
    first = base.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("empty corpus")
    dim = first["d"]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    dsub = dim // n_subspaces

    n = base.count()
    frac = min(1.0, float(sample_size) / max(n, 1))
    # id-sort the driver-side sample: collect() order depends on task
    # scheduling and _kmeans_np depends on data order — sorting makes the
    # codebooks reproducible run-to-run, not just seed-to-seed
    rows = (base.select(id_col, vec_col).sample(frac, seed=seed).collect()
            or base.select(id_col, vec_col).limit(sample_size).collect())
    rows.sort(key=lambda r: r[0])
    sample = np.array([list(r[1]) for r in rows], dtype=np.float64)
    codebooks = _fit_codebooks(sample, n_subspaces, n_centroids, max_iter,
                               seed)  # (M, K, dsub), K = min(k, sample rows)

    codes = base.withColumn("__pq", _pq_encode_udf(codebooks)(F.col(vec_col)))
    return PqIndex(codes=codes, codebooks=codebooks, vec_col=vec_col, id_col=id_col)


def _pq_encode_udf(codebooks: np.ndarray):
    """ADC-encode pandas_udf for FROZEN codebooks — shared by the build
    pass and the incremental encode of new rows (encode_quant); the PQ
    analogue of ann.assign_to_ivf_pq's frozen-codebook encode."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cb = codebooks
    cb_norm2 = (cb * cb).sum(axis=2)  # (M, K)
    M, _, dsub = cb.shape

    def _encode_batch(s):
        if len(s) == 0:
            return pd.Series([], dtype=object)
        V = np.array(s.tolist(), dtype=np.float64)
        codes = np.empty((V.shape[0], M), dtype=np.int16)
        for m in range(M):
            sub = V[:, m * dsub:(m + 1) * dsub]
            d = cb_norm2[m][None, :] - 2.0 * sub @ cb[m].T
            codes[:, m] = d.argmin(axis=1)
        return pd.Series(list((codes - 128).astype(np.int8)))

    return pandas_udf(_encode_batch, "array<tinyint>")


def _pq_lut_sum(lut: np.ndarray) -> Any:
    """Column summing per-subspace LUT contributions for a code array:
    ADC scoring (encoded_vectors_pq.rs score_point: per-chunk
    lookup-table built once per query, summed per point). Stays in
    whole-stage codegen — one flattened literal array, one
    transform+aggregate over the M-byte code column."""
    K = lut.shape[1]
    flat = F.lit([float(x) for x in lut.reshape(-1)])
    contrib = F.transform(
        F.col("__pq"),
        lambda c, i: F.element_at(flat, i * K + c.cast("int") + 129),
    )
    return F.aggregate(contrib, F.lit(0.0), lambda acc, x: acc + x)


def pq_search(
    index: PqIndex,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    oversampling: float = 4.0,
    metric: str = "cosine",
    flt: dict[str, Any] | None = None,
    rescore: bool = True,
) -> DataFrame:
    """Two-stage PQ search: asymmetric-distance (ADC) coarse scan over
    codes via per-query lookup tables, then exact rescore of
    ``k*oversampling`` candidates on the original vectors
    (QuantizationSearchParams semantics, types.rs:573-628)."""
    q = np.asarray(query_vector, dtype=np.float64)
    cb = index.codebooks  # (M, K, dsub)
    M, K, dsub = cb.shape
    qsub = q.reshape(M, dsub)

    pts = _coarse_src(index.codes, index.full, flt, index.id_col)

    if metric == "dot":
        lut = np.einsum("md,mkd->mk", qsub, cb)
        coarse_score = _pq_lut_sum(lut)
    elif metric == "cosine":
        lut = np.einsum("md,mkd->mk", qsub, cb)
        norm2 = (cb * cb).sum(axis=2)
        qn = float(np.linalg.norm(q))
        coarse_score = _pq_lut_sum(lut) / (
            F.lit(qn) * F.sqrt(_pq_lut_sum(norm2)) + F.lit(1e-12)
        )
    elif metric == "euclid":
        lut = ((qsub[:, None, :] - cb) ** 2).sum(axis=2)
        coarse_score = F.sqrt(_pq_lut_sum(lut))
    elif metric == "manhattan":
        lut = np.abs(qsub[:, None, :] - cb).sum(axis=2)
        coarse_score = _pq_lut_sum(lut)
    else:
        raise ValueError(f"unknown metric {metric!r}")

    n_coarse = max(k, int(np.ceil(k * oversampling)))
    order = F.col("__coarse").desc() if larger_is_better(metric) else F.col("__coarse")
    coarse = (
        pts.withColumn("__coarse", coarse_score)
        .orderBy(order, F.col(index.id_col))
        .limit(n_coarse)
    )
    if not rescore:
        return (
            coarse.limit(k)
            .select(F.col(index.id_col), F.col("__coarse").alias("score"))
        )
    return _exact_rescore(index, index.codes, coarse, query_vector,
                          k=k, metric=metric)


# --------------------------------------------------------------------------
# TurboQuant (rotated 1/1.5/2/4-bit scalar quantization, asymmetric scoring)
# --------------------------------------------------------------------------

# Lloyd-Max optimal centroids for N(0, 1), per bit-width — the reference's
# compile-time tables (lib/quantization/src/turboquant/lloyd_max.rs:3-17).
# After an orthonormal rotation + rescale to L2 = sqrt(d), coordinates of a
# generic vector are ~N(0, 1), so one shared codebook serves every dimension
# (vs PQ's trained per-subspace codebooks).
_TQ_CENTROIDS = {
    1: np.array([-0.7978846, 0.7978846]),
    2: np.array([-1.510, -0.4528, 0.4528, 1.510]),
    4: np.array([
        -2.733, -2.069, -1.618, -1.256, -0.9424, -0.6568, -0.3881, -0.1284,
        0.1284, 0.3881, 0.6568, 0.9424, 1.256, 1.618, 2.069, 2.733,
    ]),
}


def _tq_boundaries(bpc: int) -> np.ndarray:
    c = _TQ_CENTROIDS[bpc]
    return (c[:-1] + c[1:]) / 2.0


def _next_pow2(n: int) -> int:
    return 1 << max(3, (n - 1).bit_length())


def _tq_rotation_params(padded_dim: int, seed: int, rounds: int = 3):
    """Seeded structured rotation: per round a random sign diagonal, a
    Walsh-Hadamard transform, and a random permutation (the reference's
    sign-flip + WHT + permutation rounds, turboquant/rotation.rs:90-120).
    The composition is orthonormal; params are regenerated identically on
    the driver (query path) and in executors (encode path), so nothing
    but the seed ships with the index."""
    rng = np.random.default_rng(seed)
    return [
        (rng.choice([-1.0, 1.0], size=padded_dim), rng.permutation(padded_dim))
        for _ in range(rounds)
    ]


def _fwht(X: np.ndarray) -> np.ndarray:
    """Batched in-place fast Walsh-Hadamard transform over the last axis
    (d = power of two). O(n d log d); unnormalized (multiply by 1/sqrt(d)
    for the orthonormal H)."""
    n, d = X.shape
    h = 1
    while h < d:
        X = X.reshape(n, d // (2 * h), 2, h)
        a = X[:, :, 0, :].copy()
        X[:, :, 0, :] += X[:, :, 1, :]
        X[:, :, 1, :] = a - X[:, :, 1, :]
        X = X.reshape(n, d)
        h *= 2
    return X


def _tq_rotate(V: np.ndarray, params) -> np.ndarray:
    d = V.shape[1]
    inv_sqrt_d = 1.0 / np.sqrt(d)
    V = V.copy()
    for signs, perm in params:
        V = _fwht(V * signs) * inv_sqrt_d
        V = V[:, perm]
    return V


def _tq_unrotate(V: np.ndarray, params) -> np.ndarray:
    """Exact inverse of :func:`_tq_rotate` (H/sqrt(d) and the sign diagonal
    are involutions; the permutation inverts by argsort)."""
    d = V.shape[1]
    inv_sqrt_d = 1.0 / np.sqrt(d)
    V = V.copy()
    for signs, perm in reversed(params):
        V = V[:, np.argsort(perm)]
        V = _fwht(V) * inv_sqrt_d * signs
    return V


def _tq_pack(codes: np.ndarray, bpc: int) -> np.ndarray:
    """(n, d) uint8 code indices -> (n, d*bpc/8) packed bytes. d is a
    power of two >= 8, so every lane divides evenly."""
    n, d = codes.shape
    if bpc == 1:
        return np.packbits(codes, axis=1)
    if bpc == 2:
        c = codes.reshape(n, d // 4, 4)
        return (c[:, :, 0] << 6 | c[:, :, 1] << 4
                | c[:, :, 2] << 2 | c[:, :, 3]).astype(np.uint8)
    if bpc == 4:
        c = codes.reshape(n, d // 2, 2)
        return (c[:, :, 0] << 4 | c[:, :, 1]).astype(np.uint8)
    raise ValueError(f"unsupported bits-per-code {bpc}")


def _tq_unpack(raw: np.ndarray, bpc: int, d: int) -> np.ndarray:
    """(n, nbytes) uint8 -> (n, d) uint8 code indices."""
    n = raw.shape[0]
    if bpc == 1:
        return np.unpackbits(raw, axis=1)[:, :d]
    if bpc == 2:
        out = np.empty((n, raw.shape[1], 4), dtype=np.uint8)
        out[:, :, 0] = raw >> 6
        out[:, :, 1] = (raw >> 4) & 3
        out[:, :, 2] = (raw >> 2) & 3
        out[:, :, 3] = raw & 3
        return out.reshape(n, -1)[:, :d]
    if bpc == 4:
        out = np.empty((n, raw.shape[1], 2), dtype=np.uint8)
        out[:, :, 0] = raw >> 4
        out[:, :, 1] = raw & 15
        return out.reshape(n, -1)[:, :d]
    raise ValueError(f"unsupported bits-per-code {bpc}")


@dataclass
class TqIndex:
    """TurboQuant-encoded corpus (reference:
    lib/quantization/src/turboquant/{quantization,lloyd_max,rotation}.rs and
    encoded_vectors_tq.rs). ``codes`` holds, next to the original columns:

    - ``__tq``    binary — per-coordinate Lloyd-Max code indices of the
      rotated, L2-rescaled vector, bit-packed (1/2/4 bits per coord;
      ``bits=1.5`` is 1-bit over a 1.5x-padded rotation, mod.rs:28-29);
    - ``__tq_l2`` double — original L2 length (quantization.rs extras);
    - ``__tq_cn`` double — L2 norm of the chosen centroid vector, used to
      rescale the reconstructed direction back to true length
      (compute_centroid_norm, quantization.rs:290-316).

    At 100 TB the coarse stage reads only these three narrow columns:
    4 bits/dim is a 64x scan-bandwidth cut vs float32, with no trained
    codebook to ship — only the seed."""

    codes: DataFrame
    bits: float            # 1, 1.5, 2 or 4
    dim: int
    padded_dim: int
    seed: int
    vec_col: str
    id_col: str
    # TQ+ (mode=Plus) per-coordinate error correction: x+ = (x - shift)/scale
    # pulls each rotated, rescaled coordinate onto the N(0, 1) codebook grid
    # (ErrorCorrection, turboquant/quantization.rs:23-48). None = Normal mode
    # (equivalent to shift=0, scale=1).
    ec_shift: np.ndarray | None = None
    ec_scale: np.ndarray | None = None
    full: DataFrame | None = None  # split storage, see SqIndex.full

    @property
    def bits_per_code(self) -> int:
        return 1 if self.bits in (1, 1.5) else int(self.bits)


def _tq_preprocess(V: np.ndarray, params, sqrt_d: float):
    """Rotate + rescale rows to L2 = sqrt(padded_dim) (preprocess_into,
    quantization.rs:167-207). Returns (rescaled, original l2 lengths)."""
    V = _tq_rotate(V, params)
    l2 = np.linalg.norm(V, axis=1)
    scale = np.where(l2 > 0.0, sqrt_d / np.where(l2 > 0.0, l2, 1.0), 1.0)
    return V * scale[:, None], l2


def _fit_tq_plus(sample: np.ndarray, c_outer: float):
    """TQ+ quantile-anchored per-coordinate fit (encoded_vectors_tq.rs:
    150-184): map the empirical [1-p_outer, p_outer] quantiles of each
    rotated, rescaled coordinate onto the outermost centroids ±c_outer.
    For ideally-N(0, 1) coords this collapses to shift=0, scale=1; for
    anisotropic data it avoids mean/stddev bias under heavy tails."""
    import math

    p_outer = 0.5 * (1.0 + math.erf(c_outer / math.sqrt(2.0)))
    q_lo = np.quantile(sample, 1.0 - p_outer, axis=0)
    q_hi = np.quantile(sample, p_outer, axis=0)
    shift = (q_hi + q_lo) / 2.0
    scale = (q_hi - q_lo) / (2.0 * c_outer)
    scale = np.where(np.abs(scale) < 1e-9, 1.0, scale)  # degenerate coords
    return shift, scale


# TQ+ pre-pass sample sizes per codebook (TQBits::sample_size, mod.rs:62-69:
# sized so the order-statistic estimator's sigma stays ~flat per anchor)
_TQ_PLUS_SAMPLES = {1: 2_048, 2: 4_096, 4: 8_192}


def build_tq(
    points: DataFrame,
    *,
    vec_col: str = "vec",
    id_col: str = "id",
    bits: float = 2,
    seed: int = 7,
    plus: bool = False,
) -> TqIndex:
    """Encode the corpus in one Arrow-batched pass: zero-pad to the rotation
    width, apply the seeded rotation, rescale each row to L2 = sqrt(d) so
    coordinates sit on the N(0, 1) centroid grid (preprocess_into,
    quantization.rs:167-207), nearest-centroid by boundary bisection, pack.
    Normal mode needs no sampling or training — no driver-side state beyond
    the seed. ``plus=True`` (TQMode::Plus) adds the quantile-anchored
    per-coordinate shift/scale pre-pass over a bounded seeded sample."""
    from pyspark.sql.functions import pandas_udf

    if bits not in (1, 1.5, 2, 4):
        raise ValueError(f"bits must be one of 1, 1.5, 2, 4 — got {bits}")
    base = points.filter(F.col(vec_col).isNotNull())
    first = base.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("empty corpus")
    dim = int(first["d"])
    target = int(np.ceil(dim * 1.5)) if bits == 1.5 else dim
    padded_dim = _next_pow2(target)
    bpc = 1 if bits in (1, 1.5) else int(bits)
    centroids = _TQ_CENTROIDS[bpc]
    boundaries = _tq_boundaries(bpc)
    sqrt_d = float(np.sqrt(padded_dim))
    pd_, dim_, seed_ = padded_dim, dim, seed

    ec_shift = ec_scale = None
    if plus:
        n = base.count()
        want = _TQ_PLUS_SAMPLES[bpc]
        frac = min(1.0, float(want) / max(n, 1))
        rows = base.select(vec_col).sample(frac, seed=seed).limit(want).collect()
        if not rows:
            rows = base.select(vec_col).limit(want).collect()
        S = np.zeros((len(rows), padded_dim), dtype=np.float64)
        S[:, :dim] = np.array([list(r[0]) for r in rows], dtype=np.float64)
        S, _ = _tq_preprocess(S, _tq_rotation_params(padded_dim, seed), sqrt_d)
        ec_shift, ec_scale = _fit_tq_plus(S, float(centroids[-1]))
    codes = _tq_encode_columns(base, vec_col, bits=bits, dim=dim,
                               padded_dim=padded_dim, seed=seed,
                               ec_shift=ec_shift, ec_scale=ec_scale)
    return TqIndex(codes=codes, bits=bits, dim=dim, padded_dim=padded_dim,
                   seed=seed, vec_col=vec_col, id_col=id_col,
                   ec_shift=ec_shift, ec_scale=ec_scale)


def _tq_encode_columns(base: DataFrame, vec_col: str, *, bits: float,
                       dim: int, padded_dim: int, seed: int,
                       ec_shift: np.ndarray | None,
                       ec_scale: np.ndarray | None) -> DataFrame:
    """Attach ``__tq/__tq_l2/__tq_cn`` for FROZEN rotation + EC state —
    shared by the build pass and the incremental encode of new rows
    (encode_quant). One Arrow-batched pass, no training."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bpc = 1 if bits in (1, 1.5) else int(bits)
    centroids = _TQ_CENTROIDS[bpc]
    boundaries = _tq_boundaries(bpc)
    sqrt_d = float(np.sqrt(padded_dim))
    pd_, dim_, seed_ = padded_dim, dim, seed
    shift_b = ec_shift if ec_shift is not None else np.zeros(padded_dim)
    scale_b = ec_scale if ec_scale is not None else np.ones(padded_dim)

    def _encode(s):
        if len(s) == 0:
            return pd.DataFrame({"codes": pd.Series([], dtype=object),
                                 "l2": pd.Series([], dtype=np.float64),
                                 "cn": pd.Series([], dtype=np.float64)})
        params = _tq_rotation_params(pd_, seed_)
        V = np.zeros((len(s), pd_), dtype=np.float64)
        V[:, :dim_] = np.array(s.tolist(), dtype=np.float64)
        V, l2 = _tq_preprocess(V, params, sqrt_d)
        idx = np.searchsorted(boundaries, (V - shift_b) / scale_b) \
            .astype(np.uint8)
        # centroid norm on the EC-reverted reconstruction, so renorm scoring
        # rescales the same vector the scorer rebuilds
        # (compute_centroid_norm, quantization.rs:290-316)
        cn = np.linalg.norm(centroids[idx] * scale_b + shift_b, axis=1)
        packed = _tq_pack(idx, bpc)
        return pd.DataFrame({
            "codes": [row.tobytes() for row in packed],
            "l2": l2,
            "cn": cn,
        })

    enc = pandas_udf(_encode, "codes binary, l2 double, cn double")
    return (
        base.withColumn("__t", enc(F.col(vec_col)))
        .withColumn("__tq", F.col("__t.codes"))
        .withColumn("__tq_l2", F.col("__t.l2"))
        .withColumn("__tq_cn", F.col("__t.cn"))
        .drop("__t")
    )


def tq_search(
    index: TqIndex,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    oversampling: float = 4.0,
    metric: str = "cosine",
    flt: dict[str, Any] | None = None,
    rescore: bool = True,
) -> DataFrame:
    """Two-stage TurboQuant search. Coarse stage is asymmetric: the query
    stays full-precision in rotated space; each stored vector is
    reconstructed as ``centroids[codes] * (l2 / centroid_norm)`` — the
    reference's renorm scoring (quantization.rs:290-316) — and scored by
    the shared block-matmul kernel (one BLAS call per Arrow batch,
    :func:`_quant_scan_setup`'s turbo decode). Cosine/dot/euclid score in
    rotated space (the rotation preserves inner products and lengths);
    manhattan dequantizes and applies the inverse rotation (the
    reference's L1 slow path, EncodedQueryTQ.query, mod.rs:110-112).
    Then exact rescore of ``k*oversampling`` candidates on the original
    vectors."""
    if metric not in ("cosine", "dot", "euclid", "manhattan"):
        raise ValueError(f"unknown metric {metric!r}")
    if len(query_vector) != index.dim:
        raise ValueError(
            f"query dim {len(query_vector)} != index dim {index.dim}")
    src = _coarse_src(index.codes, index.full, flt, index.id_col)
    n_coarse = max(k, int(np.ceil(k * oversampling)))
    coarse = _coarse_matmul(index, src, metric, [0], [query_vector],
                            n_coarse).select(index.id_col, "score")
    if not rescore:
        return coarse.orderBy(
            *score_order(metric, id_col=index.id_col)).limit(k)
    return _exact_rescore(index, index.codes, coarse, query_vector,
                          k=k, metric=metric)


def bq_query_bits(index: BqIndex, query_vector: Sequence[float]) -> np.ndarray:
    """Encode a query same-as-storage (QueryEncoding::SameAsStorage,
    encoded_vectors_binary.rs:679-682): the ext_dim-long 0/1 bit vector
    the packed words hold — shared by the single-query XOR scan and the
    batched ±1 matmul scan (ham = (ext_dim - dot±)/2)."""
    return bq_bits_np(query_vector, index.means, index.stds,
                      index.encoding)


def bq_bits_np(vector: Sequence[float], means: np.ndarray,
               stds: np.ndarray | None, encoding: str) -> np.ndarray:
    """NumPy mirror of :func:`_bq_code_expr`'s bit derivation for a
    single vector — the same function encodes storage rows and
    same-as-storage queries (encode_vector, encoded_vectors_binary.rs);
    also encodes multivector query TOKENS (multivec._mv_quant_prep)."""
    q = np.asarray(vector, dtype=np.float64)
    if encoding == "one_bit":
        return (q > means).astype(np.int64)
    sd = stds if stds is not None else np.zeros_like(q)
    ok = sd > 1e-12
    z = np.where(ok, (q - means) / np.where(ok, sd, 1.0), 0.0)
    b1 = np.where(ok, z > -BQ_SIGMAS, q > means).astype(np.int64)
    b2 = np.where(ok, z >= BQ_SIGMAS, False).astype(np.int64)
    if encoding == "two_bits":
        return np.concatenate([b1, b2])
    pad = np.append(b2, 0) if len(b2) % 2 else b2  # one_and_half_bits
    return np.concatenate([b1, pad.reshape(-1, 2).max(axis=1)])


def _pack_words(bits: Sequence[int]) -> list[int]:
    """Pack a 0/1 bit sequence into signed-long words with the SAME
    layout as :func:`_pack_expr` (first element highest; a trailing
    partial word keeps its bits in the LOW positions), two's-complement
    wrapped to match Spark's signed longs."""
    words = []
    for w in range((len(bits) + 63) // 64):
        word = 0
        for b in bits[w * 64: w * 64 + 64]:
            word = (word << 1) | int(b)
        if word >= 1 << 63:
            word -= 1 << 64
        words.append(word)
    return words


def bq_scalar_query_planes(
    index: BqIndex, query_vector: Sequence[float],
) -> tuple[list[list[int]], int]:
    """Asymmetric query encoding (QueryEncoding::Scalar4bits/Scalar8bits,
    encoded_vectors_binary.rs:673-760): the query is uniformly scalar-
    quantized over [-max_abs, +max_abs] into ``bits`` levels per
    dimension and laid out as ``bits`` BIT-PLANES, each word-packed like
    the storage — scoring is then ``bits`` XOR+popcounts shift-summed
    (the trick of arXiv:2405.12497 Fig. 2 the reference cites), never
    unpacking a stored bit. Returns ``(planes, ranges)`` with
    ``planes[b]`` the packed words of plane ``b`` and
    ``ranges = 2**bits - 1`` the scale of the summed quantity.

    The query is first EXTENDED to the storage's bit layout
    (encoded_vectors_binary.rs:695-721): duplicated for two_bits,
    appended with pairwise maxima for one_and_half_bits."""
    bits_count = _BQ_QUERY_BITS[index.query_encoding]
    codes, ranges = bq_scalar_query_codes(index, query_vector)
    return [
        _pack_words(((codes >> b) & 1).tolist()) for b in range(bits_count)
    ], ranges


def bq_scalar_query_codes(
    index: BqIndex, query_vector: Sequence[float],
) -> tuple[np.ndarray, int]:
    """The raw per-dimension scalar codes of an asymmetric query (before
    plane packing): extend to the storage bit layout, uniformly quantize
    over [-max_abs, +max_abs] into ``2**bits`` levels
    (encoded_vectors_binary.rs:723-755). Returns ``(codes, ranges)``.

    Quantizes in float64 — the engine's vector precision — where the
    reference uses f32 (it stores f32 vectors); pure precision headroom,
    and it makes the arithmetic exactly replayable in SQL."""
    bits_count = _BQ_QUERY_BITS[index.query_encoding]
    q = np.asarray(query_vector, dtype=np.float64)
    if index.encoding == "two_bits":
        ext = np.concatenate([q, q])
    elif index.encoding == "one_and_half_bits":
        pad = np.append(q, q[-1]) if len(q) % 2 else q
        ext = np.concatenate([q, pad.reshape(-1, 2).max(axis=1)])
    else:
        ext = q
    ranges = (1 << bits_count) - 1
    max_abs = float(np.max(np.abs(ext))) if ext.size else 0.0
    delta = 2.0 * max_abs / ranges
    if delta > np.finfo(np.float32).eps:
        # round half AWAY FROM ZERO on non-negative values (Rust
        # f32::round), not numpy's banker's rounding
        codes = np.floor((ext + max_abs) / delta + 0.5).astype(np.int64) \
            % (ranges + 1)
    else:
        codes = np.zeros(ext.shape, dtype=np.int64)
    return codes, ranges


def bq_asym_xor_expr(index: BqIndex, query_vector: Sequence[float]):
    """Column: the scaled asymmetric XOR quantity
    ``sum_b 2^b * popcount(__bq XOR plane_b)`` — per dimension it equals
    ``q_i`` where the stored bit is 0 and ``ranges - q_i`` where it is 1
    (encoded_vectors_binary.rs:767-795 xor_popcnt_scalar); dividing by
    ``ranges`` gives the fractional Hamming distance the reference ranks
    by. Stays in whole-stage codegen: ``bits`` bit_count passes over the
    packed words, zero unpacking."""
    planes, ranges = bq_scalar_query_planes(index, query_vector)
    total = None
    for b, plane in enumerate(planes):
        part = F.aggregate(
            F.zip_with(
                F.col("__bq"), F.lit(plane),
                lambda a, w: F.bit_count(a.bitwiseXOR(w)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ) * F.lit(1 << b)
        total = part if total is None else total + part
    return total, ranges


def bq_search(
    index: BqIndex,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    oversampling: float = 4.0,
    flt: dict[str, Any] | None = None,
    metric: str = "cosine",
    rescore: bool = True,
) -> DataFrame:
    """Coarse rank by Hamming distance between packed bit encodings (JVM
    ``bit_count`` over XOR-ed words — whole-stage codegen, no shuffle
    beyond the top-k), then exact rescore of ``k*oversampling``. The
    query is encoded same-as-storage (QueryEncoding::SameAsStorage,
    encoded_vectors_binary.rs:679-682), so scoring is identical across
    the 1 / 1.5 / 2-bit encodings — only the bit layout differs.

    With ``rescore=False`` the coarse ranking is returned directly and
    ``score`` is the ±1-representation dot estimate ``ext_dim - 2*ham``
    (matching-bits minus differing-bits — the same quantity the
    reference's XOR scorer ranks by), NOT the true metric's scale.

    With an asymmetric ``query_encoding`` ("scalar4bits"/"scalar8bits",
    encoded_vectors_binary.rs:673-760) the query keeps 4/8-bit scalar
    precision: the coarse rank is the fractional Hamming distance
    ``xor/ranges`` (:func:`bq_asym_xor_expr`) and the rescore=False
    score is ``ext_dim - 2*xor/ranges`` — the same ±1-dot scale as the
    symmetric path (exactly it when every query code saturates), so
    thresholds behave identically across encodings."""
    if index.query_encoding in _BQ_QUERY_BITS:
        ham, ranges = bq_asym_xor_expr(index, query_vector)
        dim = _bq_ext_dim(len(index.means), index.encoding)
        scale = 2.0 / ranges
    else:
        qbits = bq_query_bits(index, query_vector)
        dim = len(qbits)
        qwords = _pack_words(qbits)
        ham = F.aggregate(
            F.zip_with(
                F.col("__bq"), F.lit(qwords),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        scale = 2.0

    n_coarse = max(k, int(np.ceil(k * oversampling)))
    pts = _coarse_src(index.packed, index.full, flt, index.id_col)
    coarse = (
        pts.withColumn("__ham", ham)
        .orderBy(F.col("__ham"), F.col(index.id_col))
        .limit(n_coarse)
    )
    if not rescore:
        return coarse.limit(k).select(
            F.col(index.id_col),
            (F.lit(float(dim)) - scale * F.col("__ham").cast("double"))
            .alias("score"),
        )
    return _exact_rescore(index, index.packed, coarse, query_vector,
                          k=k, metric=metric)


# --------------------------------------------------------------------------
# Arrow decode table: the per-kind hook of every Arrow-side coarse scan
# --------------------------------------------------------------------------

def _sq_decode(codes, lo: np.ndarray, scale: np.ndarray) -> np.ndarray:
    """int8 affine decode of an Arrow ``list<tinyint>`` array (one row per
    vector or token) to the (rows, dim) float64 matrix."""
    flat = codes.flatten().to_numpy(zero_copy_only=False)
    M = flat.reshape(-1, len(lo)).astype(np.float64)
    return (M + 128.0) * scale + lo


def _pq_reconstruct(codes, codebooks: np.ndarray) -> np.ndarray:
    """x_hat of an Arrow ``list<tinyint>`` PQ code array by codebook
    gather (ADC decomposes exactly over it)."""
    m = codebooks.shape[0]
    c = codes.flatten().to_numpy(zero_copy_only=False) \
        .astype(np.int16).reshape(-1, m) + 128
    return np.concatenate([codebooks[j][c[:, j]] for j in range(m)],
                          axis=1)


def _bq_unpack(words, ext_dim: int) -> np.ndarray:
    """The 0/1 bits (rows, ext_dim) float64 of an Arrow ``list<bigint>``
    packed-word array, in :func:`_pack_expr`'s layout."""
    W = words.flatten().to_numpy(zero_copy_only=False) \
        .astype(np.int64).reshape(len(words), -1).view(np.uint64)
    bits = np.empty((W.shape[0], ext_dim), dtype=np.float64)
    col = 0
    for w in range(W.shape[1]):
        nb = min(64, ext_dim - col)
        sh = np.arange(nb - 1, -1, -1, dtype=np.uint64)
        bits[:, col:col + nb] = ((W[:, w:w + 1] >> sh) & np.uint64(1))
        col += nb
    return bits


def _tq_reconstruct(codes, l2, cn, bpc: int, padded_dim: int,
                    ec_scale: np.ndarray | None = None,
                    ec_shift: np.ndarray | None = None) -> np.ndarray:
    """Renorm reconstruction in ROTATED space from Arrow arrays (binary
    packed codes, l2 and centroid-norm extras): direction from the
    codebook (TQ+ reverted), true length from the stored l2."""
    raw_objs = codes.to_numpy(zero_copy_only=False)
    raw = np.frombuffer(b"".join(raw_objs), dtype=np.uint8) \
        .reshape(len(raw_objs), -1)
    C = _TQ_CENTROIDS[bpc][_tq_unpack(raw, bpc, padded_dim)]
    if ec_scale is not None:
        C = C * ec_scale + ec_shift
    cn = np.maximum(cn.to_numpy(zero_copy_only=False), 1e-12)
    return C * (l2.to_numpy(zero_copy_only=False) / cn)[:, None]


def _quant_scan_setup(index, metric: str, Qraw):
    """The per-kind decode table of the dense Arrow coarse scans: a
    ``prep`` hook deriving the scan frame from the codes table (turbo
    packs its three columns into one struct), the scanned column, the
    Arrow decode hook producing the matrix whose ``scan_metric`` scoring
    equals the kind's coarse quantity, and the (possibly re-encoded)
    query matrix. Scalar decodes the int8 affine; product reconstructs
    x_hat (ADC decomposes exactly); binary unpacks words to ±1 so the dot
    IS ``ext_dim - 2*hamming`` (the XOR scan's order and rescore=False
    scale); turbo rebuilds the renormed rotated reconstruction
    (manhattan un-rotates — the reference's L1 slow path,
    mod.rs:110-112)."""
    Q = np.asarray(Qraw, dtype=np.float64)
    scan_metric = metric
    prep = lambda f: f  # noqa: E731
    if isinstance(index, SqIndex):
        lo, scale = index.lo, (index.hi - index.lo) / 255.0

        def dec(vec, n):
            return _sq_decode(vec, lo, scale)

        code_col = "__sq"
    elif isinstance(index, PqIndex):
        cb = index.codebooks

        def dec(vec, n):
            return _pq_reconstruct(vec, cb)

        code_col = "__pq"
    elif isinstance(index, BqIndex):
        ext_dim = _bq_ext_dim(len(index.means), index.encoding)
        if index.query_encoding in _BQ_QUERY_BITS:
            # asymmetric query encoding: with query rows (2q - R)/R the
            # ±1-bit dot equals ext_dim - 2*xor/ranges — the single-
            # request asym path's exact rescore=False scale
            rows = []
            for q in Q:
                codes, ranges = bq_scalar_query_codes(index, q)
                rows.append((2.0 * codes - ranges) / ranges)
            Q = np.asarray(rows, dtype=np.float64)
        else:
            Q = np.asarray([bq_query_bits(index, q) for q in Q],
                           dtype=np.float64) * 2.0 - 1.0
        scan_metric = "dot"

        def dec(vec, n):
            return _bq_unpack(vec, ext_dim) * 2.0 - 1.0

        code_col = "__bq"
    else:  # TqIndex
        bpc = index.bits_per_code
        pd_, dim_ = index.padded_dim, index.dim
        params = _tq_rotation_params(pd_, index.seed)
        ecs, ecsh = index.ec_scale, index.ec_shift
        if metric != "manhattan":
            Qpad = np.zeros((len(Q), pd_), dtype=np.float64)
            Qpad[:, :dim_] = Q
            Q = _tq_rotate(Qpad, params)

        def dec(vec, n):
            X = _tq_reconstruct(vec.field("__tq"), vec.field("__tq_l2"),
                                vec.field("__tq_cn"), bpc, pd_, ecs, ecsh)
            if metric == "manhattan":
                return _tq_unrotate(X, params)[:, :dim_]
            return X

        prep = lambda f: f.withColumn(  # noqa: E731
            "__tqz", F.struct("__tq", "__tq_l2", "__tq_cn"))
        code_col = "__tqz"
    return prep, code_col, dec, Q, scan_metric


def _coarse_matmul(index, src: DataFrame, metric: str, qids,
                   Qraw, k: int) -> DataFrame:
    """Arrow coarse scan of ``src``'s codes for a batch of queries: the
    decode table above feeding the block-matmul kernel
    (knn._matmul_knn). Returns per-query ranked (__qid, id, score,
    rank<=k)."""
    from qdrant_spark.operators.knn import _matmul_knn

    prep, code_col, dec, Q, scan_metric = _quant_scan_setup(
        index, metric, Qraw)
    return _matmul_knn(
        prep(src), None, metric=scan_metric, k=k, vec_col=code_col,
        id_col=index.id_col, qid_col="__qid", qvec_col="__qvec",
        score_threshold=None, q_data=(list(qids), Q), vec_decode=dec)


# --------------------------------------------------------------------------
# Config-driven dispatch: the reference's QuantizationConfig surface
# --------------------------------------------------------------------------

#: PQ CompressionRatio (types.rs:920-926) -> bytes-divisor vs float32.
#: xR means the codes are R times smaller: n_subspaces = dim * 4 / R.
_PQ_COMPRESSION = {"x4": 4, "x8": 8, "x16": 16, "x32": 32, "x64": 64}

#: TurboQuantBitSize (types.rs TurboQuantBitSize) -> build_tq bits
_TQ_BITS = {"bits1": 1, "bits1_5": 1.5, "bits2": 2, "bits4": 4}

#: per-kind default oversampling used when neither the config nor the
#: request sets one — the "qdrant decides automatically" posture
#: (QuantizationSearchParams.oversampling default None, types.rs:573-628).
#: A flat coarse scan has no HNSW recall cushion, so these match the
#: operators' tuned defaults rather than the reference's 1.0.
_QUANT_OVERSAMPLING = {"scalar": 3.0, "product": 4.0, "binary": 4.0,
                       "turbo": 4.0}

#: Exact-vs-quantized dispatch crossover in ROWS for planner-routed dense
#: search, same semantics as multivec.MAXSIM_FULL_SCAN_THRESHOLD: the
#: coarse+rescore plan reads 4-32x fewer bytes but pays a second
#: (candidate-float) scan for the rescore, and the batched variant pays it
#: per fused group — at 512k page-cached rows the bench measured the fused
#: exact one-matmul scan at 1.00 s vs the fused coarse+rescore at 4.07 s
#: (BENCH_r11 knn_batch64_xxl_disk vs sq_ivf_batch64_xxl_disk). The code
#: width only wins once the corpus outgrows page cache and the scan is
#: IO-bound. None on the handle = this default; 0 = always quantized.
QUANT_FULL_SCAN_THRESHOLD = 2_000_000

#: The BATCHED quant routes' crossover sits HIGHER: the fused exact
#: matmul amortizes its one scan over every request, while the fused
#: coarse+rescore pays per-request candidate cuts and a pair rescore —
#: measured r12 at both ends of the buildable range and BRACKETED r13
#: with a 4M one-off: the quant batch is ~flat (4.06s @ 512k -> 4.23s @
#: 2M -> 3.93s @ 4M) while the exact fused matmul grows linearly
#: page-cached (0.81s -> 1.20s -> 2.39s); the exact line's slope crosses
#: the flat quant cost at ~6.7M rows on this box, so 8M sits just past
#: the measured crossing — conservative in the exact direction, no
#: longer a pure extrapolation (exact still won at every buildable
#: datapoint, 4M included). A handle-declared full_scan_threshold
#: overrides BOTH defaults (0 pins the quantized route everywhere).
QUANT_BATCH_FULL_SCAN_THRESHOLD = 8_000_000


@dataclass
class QuantHandle:
    """A built quantized index tagged with its config kind, as registered
    on ``QueryPlanner(quant_indexes=...)`` — the engine-side analogue of a
    collection's declared ``quantization_config`` (QuantizationConfig,
    types.rs:1123-1129: Scalar | Product | Binary | Turbo)."""

    kind: str        # "scalar" | "product" | "binary" | "turbo"
    index: Any       # SqIndex | PqIndex | BqIndex | TqIndex
    oversampling: float
    #: exact-vs-quantized planner crossover in rows (None =
    #: :data:`QUANT_FULL_SCAN_THRESHOLD`, 0 = always quantized) — only the
    #: planner consults it; direct quant_search calls always run quantized
    full_scan_threshold: int | None = None
    n_docs: int | None = None  # cached corpus rows for the crossover

    @property
    def id_col(self) -> str:
        return self.index.id_col

    @property
    def vec_col(self) -> str:
        return self.index.vec_col

    def codes_frame(self) -> DataFrame:
        return self.index.packed if self.kind == "binary" \
            else self.index.codes

    def code_cols(self) -> list[str]:
        return {"scalar": ["__sq"], "product": ["__pq"],
                "binary": ["__bq"],
                "turbo": ["__tq", "__tq_l2", "__tq_cn"]}[self.kind]


def quant_kind(config: dict[str, Any]) -> str:
    """The config's kind key ("scalar"/"product"/"binary"/"turbo"),
    validating there is exactly one (the untagged QuantizationConfig
    enum)."""
    kinds = [k for k in ("scalar", "product", "binary", "turbo")
             if k in config]
    if len(kinds) != 1:
        raise ValueError(
            f"quantization_config needs exactly one of scalar/product/"
            f"binary/turbo, got {sorted(config)!r}")
    if kinds[0] == "binary":
        cfg = config["binary"] or {}
        enc = cfg.get("encoding", "one_bit")
        if enc not in BQ_ENCODINGS:
            raise ValueError(
                f"binary encoding must be one of {BQ_ENCODINGS}, "
                f"got {enc!r}")
        qenc = str(cfg.get("query_encoding", "default")).lower()
        if qenc not in BQ_QUERY_ENCODINGS:
            raise ValueError(
                f"binary query_encoding must be one of "
                f"{BQ_QUERY_ENCODINGS}, got {qenc!r}")
    return kinds[0]


def build_quant(
    points: DataFrame,
    config: dict[str, Any],
    *,
    vec_col: str = "vec",
    id_col: str = "id",
    dim: int | None = None,
) -> QuantHandle:
    """Build the quantized index a declared ``quantization_config``
    describes (the reference quantizes segment storage from the same
    config, lib/segment/src/vector_storage/quantized/quantized_vectors.rs):

    - ``{"scalar": {"type": "int8", "quantile": q}}`` -> :func:`build_sq`
    - ``{"product": {"compression": "x4".."x64"}}`` -> :func:`build_pq`
      (n_subspaces = dim*4/ratio, clamped down to a divisor of dim)
    - ``{"binary": {"encoding": "one_bit"|"two_bits"|
      "one_and_half_bits", "query_encoding": "default"|"binary"|
      "scalar4bits"|"scalar8bits"}}`` -> :func:`build_bq` ("default"
      and "binary" both mean same-as-storage,
      quantized_vectors.rs:164-180; the scalar kinds score
      asymmetrically)
    - ``{"turbo": {"bits": "bits1"|"bits1_5"|"bits2"|"bits4"}}`` ->
      :func:`build_tq`

    ``always_ram`` / ``memory`` placement knobs are accepted and ignored
    (Spark's storage levels replace them)."""
    kind = quant_kind(config)
    cfg = config[kind] or {}
    if kind == "scalar":
        if cfg.get("type", "int8") != "int8":
            raise ValueError(f"unknown scalar type {cfg.get('type')!r}")
        idx = build_sq(points, vec_col=vec_col, id_col=id_col,
                       quantile=float(cfg.get("quantile", 0.99)))
    elif kind == "product":
        ratio = _PQ_COMPRESSION.get(str(cfg.get("compression", "x16")))
        if ratio is None:
            raise ValueError(
                f"unknown PQ compression {cfg.get('compression')!r}")
        if dim is None:
            row = points.select(F.size(vec_col)).filter(
                F.col(vec_col).isNotNull()).first()
            dim = int(row[0])
        m = max(1, dim * 4 // ratio)
        while dim % m:  # q.reshape(M, dsub) needs M | dim
            m -= 1
        idx = build_pq(points, vec_col=vec_col, id_col=id_col,
                       n_subspaces=m)
    elif kind == "binary":
        enc = cfg.get("encoding", "one_bit")
        qenc = str(cfg.get("query_encoding", "default")).lower()
        idx = build_bq(points, vec_col=vec_col, id_col=id_col,
                       encoding=enc, query_encoding=qenc)
    else:  # turbo
        bits = _TQ_BITS.get(str(cfg.get("bits", "bits4")))
        if bits is None:
            raise ValueError(f"unknown turbo bits {cfg.get('bits')!r}")
        idx = build_tq(points, vec_col=vec_col, id_col=id_col, bits=bits)
    over = float(cfg.get("oversampling", _QUANT_OVERSAMPLING[kind]))
    fst = cfg.get("full_scan_threshold")
    return QuantHandle(kind=kind, index=idx, oversampling=over,
                       full_scan_threshold=None if fst is None else int(fst))


def quant_search(
    handle: QuantHandle,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    metric: str = "cosine",
    flt: dict[str, Any] | None = None,
    rescore: bool | None = None,
    oversampling: float | None = None,
) -> DataFrame:
    """Two-stage search through a :class:`QuantHandle`, honoring the
    per-request QuantizationSearchParams (types.rs:573-628): ``rescore``
    None means "decide automatically" (= rescore, the reference's on-disk
    default), ``oversampling`` None falls back to the handle's config
    default. ``ignore`` is the CALLER's branch — an ignoring request
    should not reach this function."""
    fn = {"scalar": sq_search, "product": pq_search,
          "binary": bq_search, "turbo": tq_search}[handle.kind]
    return fn(
        handle.index, query_vector, k=k, metric=metric, flt=flt,
        rescore=(True if rescore is None else bool(rescore)),
        oversampling=(handle.oversampling if oversampling is None
                      else float(oversampling)),
    )


def persist_quant(handle: QuantHandle, path: str) -> QuantHandle:
    """Split the handle's storage: write ONLY (id, code) columns to
    ``path`` as the coarse table and keep the in-memory frame (minus the
    code columns, i.e. the original corpus lineage) as ``full`` for the
    exact rescore — the layout SqIndex's docstring prescribes at scale.
    The coarse scan then reads 1-4 B/dim parquet instead of recomputing
    codes from the float column on every query."""
    from dataclasses import replace

    frame = handle.codes_frame()
    cols = [handle.id_col, *handle.code_cols()]
    frame.select(*cols).write.mode("overwrite").parquet(path)
    codes = frame.sparkSession.read.parquet(path)
    base = frame.drop(*handle.code_cols())
    if handle.kind == "binary":
        idx = replace(handle.index, packed=codes, full=base)
    else:
        idx = replace(handle.index, codes=codes, full=base)
    return QuantHandle(kind=handle.kind, index=idx,
                       oversampling=handle.oversampling,
                       full_scan_threshold=handle.full_scan_threshold,
                       n_docs=handle.n_docs)


def quant_state(handle: QuantHandle) -> tuple[dict[str, np.ndarray],
                                              dict[str, Any]]:
    """(arrays, scalars) fully describing the encoder apart from its
    DataFrames — what a maintenance job persists next to the codes so a
    later session reloads without re-training (the reference stores
    quantized data + meta inside the segment the same way)."""
    idx = handle.index
    if handle.kind == "scalar":
        return {"lo": idx.lo, "hi": idx.hi}, {}
    if handle.kind == "product":
        return {"codebooks": idx.codebooks}, {}
    if handle.kind == "binary":
        arrays = {"means": idx.means}
        if idx.stds is not None:
            arrays["stds"] = idx.stds
        return arrays, {"encoding": idx.encoding,
                        "query_encoding": idx.query_encoding}
    arrays = {}
    if idx.ec_shift is not None:
        arrays["ec_shift"] = idx.ec_shift
        arrays["ec_scale"] = idx.ec_scale
    return arrays, {"bits": idx.bits, "dim": idx.dim,
                    "padded_dim": idx.padded_dim, "seed": idx.seed}


def quant_from_state(
    kind: str,
    codes: DataFrame,
    full: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    arrays: dict[str, np.ndarray],
    scalars: dict[str, Any],
    oversampling: float,
    full_scan_threshold: int | None = None,
) -> QuantHandle:
    """Rebuild a :class:`QuantHandle` from persisted codes + state —
    the load half of :func:`quant_state`. ``codes`` is the narrow
    (id, code) frame; ``full`` the full-precision corpus."""
    if kind == "scalar":
        idx = SqIndex(codes=codes, lo=arrays["lo"], hi=arrays["hi"],
                      vec_col=vec_col, id_col=id_col, full=full)
    elif kind == "product":
        idx = PqIndex(codes=codes, codebooks=arrays["codebooks"],
                      vec_col=vec_col, id_col=id_col, full=full)
    elif kind == "binary":
        idx = BqIndex(packed=codes, means=arrays["means"],
                      stds=arrays.get("stds"),
                      encoding=scalars["encoding"],
                      query_encoding=scalars.get("query_encoding",
                                                 "default"),
                      vec_col=vec_col, id_col=id_col, full=full)
    elif kind == "turbo":
        idx = TqIndex(codes=codes, bits=scalars["bits"],
                      dim=int(scalars["dim"]),
                      padded_dim=int(scalars["padded_dim"]),
                      seed=int(scalars["seed"]),
                      ec_shift=arrays.get("ec_shift"),
                      ec_scale=arrays.get("ec_scale"),
                      vec_col=vec_col, id_col=id_col, full=full)
    else:
        raise ValueError(f"unknown quantization kind {kind!r}")
    return QuantHandle(kind=kind, index=idx, oversampling=oversampling,
                       full_scan_threshold=full_scan_threshold)


def encode_quant(handle: QuantHandle, points: DataFrame) -> DataFrame:
    """Encode NEW rows with the handle's FROZEN encoder state — no
    re-training, map-only (the quantization analogue of
    ann.assign_to_ivf's frozen-centroid assign; the reference appends to
    quantized storage with the stored parameters the same way). Returns
    ``points`` (non-null vectors) with the handle's code column(s)
    attached — append ``select(id, *code_cols)`` to a persisted codes
    table to extend a split-storage index."""
    idx = handle.index
    base = points.filter(F.col(handle.vec_col).isNotNull())
    if handle.kind == "scalar":
        return base.withColumn(
            "__sq", _sq_code_expr(idx.lo, idx.hi, handle.vec_col))
    if handle.kind == "product":
        return base.withColumn(
            "__pq", _pq_encode_udf(idx.codebooks)(F.col(handle.vec_col)))
    if handle.kind == "binary":
        return base.withColumn(
            "__bq", _bq_code_expr(idx.means, idx.stds, idx.encoding,
                                  handle.vec_col, len(idx.means)))
    return _tq_encode_columns(base, handle.vec_col, bits=idx.bits,
                              dim=idx.dim, padded_dim=idx.padded_dim,
                              seed=idx.seed, ec_shift=idx.ec_shift,
                              ec_scale=idx.ec_scale)

# --------------------------------------------------------------------------
# Quantization x IVF composition: probe clusters, score codes, rescore floats
# --------------------------------------------------------------------------

@dataclass
class QuantIvfHandle:
    """A quantized index COMPOSED with an IVF cluster structure — the
    planner-level analogue of the reference's flagship ANN deployment:
    HNSW search reading quantized codes with exact rescore over originals
    (lib/segment/src/index/hnsw_index/hnsw.rs quantized scorer path;
    hnsw_quantized_search_test.rs). ``coded`` is the (id, __cluster,
    code...) frame; persisted cluster-partitioned, a probe reads
    nprobe/K of a 1-4 B/dim table — BOTH prunings at once, which is what
    a 100 TB deployment wants (cluster pruning cuts rows, code width
    cuts bytes/row, the rescore touches only the oversampled candidate
    floats)."""

    handle: QuantHandle     # encoder state + full-precision rescore frame
    centroids: np.ndarray   # (n_clusters, dim) from the IVF index
    coded: DataFrame        # (id, __cluster, *code_cols)
    nprobe: int = 4
    #: the IVF's full-precision assignment frame (original columns +
    #: __cluster — exactly what ann.persist_ivf lays out partitioned by
    #: cluster). When present, quant_ivf_search's exact rescore reads
    #: ONLY the probed clusters' FILES of the floats (the coarse
    #: candidates all sit inside probed clusters) instead of decoding
    #: the whole flat table through the candidate semi-join — the same
    #: r13 decode-bound finding as the multivector invlist layout.
    clustered_full: DataFrame | None = None

    @property
    def id_col(self) -> str:
        return self.handle.id_col

    @property
    def vec_col(self) -> str:
        return self.handle.vec_col


def compose_quant_ivf(handle: QuantHandle, ivf, *,
                      nprobe: int = 4) -> QuantIvfHandle:
    """Join the quantized codes with the IVF cluster assignment into one
    (id, __cluster, code) frame. ``ivf`` is an ann.IvfIndex over the same
    corpus/id space. One shuffle at compose time; persist with
    :func:`persist_quant_ivf` so queries read partition-pruned parquet
    instead of re-running the join."""
    cols = [handle.id_col, *handle.code_cols()]
    codes = handle.codes_frame().select(*cols)
    assign = ivf.assigned.select(ivf.id_col, "__cluster")
    # the probed-partition rescore layout only pays when the assignment
    # is a persisted cluster-partitioned SCAN (ann.persist_ivf / a
    # maintenance load): filtering a COMPUTED assignment by __cluster
    # would re-run the full cluster transform over the corpus per query
    # — worse than the flat semi-join it replaces (r13 ADVICE). Follow
    # compose with persist_ivf/ensure_quant_ivf_index to get the layout.
    clustered_full = ivf.assigned if getattr(ivf, "persisted", False) \
        else None
    if ivf.id_col != handle.id_col:
        assign = assign.withColumnRenamed(ivf.id_col, handle.id_col)
        if clustered_full is not None:
            clustered_full = clustered_full.withColumnRenamed(
                ivf.id_col, handle.id_col)
    coded = codes.join(assign, handle.id_col)
    return QuantIvfHandle(handle=handle, centroids=ivf.centroids,
                          coded=coded, nprobe=nprobe,
                          clustered_full=clustered_full)


def persist_quant_ivf(qih: QuantIvfHandle, path: str) -> QuantIvfHandle:
    """Materialize ``coded`` parquet-partitioned by ``__cluster`` — the
    probe becomes directory pruning over a codes-only table (the
    quantized twin of ann.persist_ivf)."""
    from dataclasses import replace

    qih.coded.write.mode("overwrite").partitionBy("__cluster").parquet(path)
    spark = qih.coded.sparkSession
    return replace(qih, coded=spark.read.parquet(path))


def quant_ivf_search(
    qih: QuantIvfHandle,
    query_vector: Sequence[float],
    *,
    k: int = 10,
    metric: str = "cosine",
    flt: dict[str, Any] | None = None,
    rescore: bool | None = None,
    oversampling: float | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """Three-stage search: probe the ``nprobe`` centroid-nearest clusters
    (driver-side argsort over the small centroid matrix, same probe as
    ann.ivf_search), run the handle-kind's coarse scan over ONLY the
    probed clusters' code rows, exact-rescore the oversampled candidates
    on the original vectors. With ``nprobe == n_clusters`` the cluster
    stage is a no-op and the result equals the plain quantized search
    exactly. QuantizationSearchParams semantics as in
    :func:`quant_search`."""
    from dataclasses import replace

    q = np.asarray(query_vector, dtype=np.float64)
    npb = qih.nprobe if nprobe is None else int(nprobe)
    d = ((qih.centroids - q) ** 2).sum(axis=1)
    probes = [int(c) for c in np.argsort(d)[:npb]]
    pruned = qih.coded.filter(F.col("__cluster").isin(probes)) \
        .drop("__cluster")
    idx = qih.handle.index
    # point the kind's coarse frame at the cluster-pruned codes. `full`
    # (exact rescore + payload filters, reached as id semi-joins via
    # _coarse_src) prunes to the probed clusters' FILES when the handle
    # carries the IVF's cluster-partitioned float layout — every coarse
    # candidate sits inside a probed cluster, so the pruned frame is
    # exact; without the layout the flat table's decode costs as much
    # as the exact scan it was supposed to avoid (r13).
    if qih.clustered_full is not None:
        full2 = qih.clustered_full.filter(
            F.col("__cluster").isin(probes)).drop("__cluster")
    else:
        full2 = idx.full
    if qih.handle.kind == "binary":
        idx2 = replace(idx, packed=pruned,
                       full=full2 if full2 is not None else idx.packed)
    else:
        idx2 = replace(idx, codes=pruned,
                       full=full2 if full2 is not None else idx.codes)
    h2 = QuantHandle(kind=qih.handle.kind, index=idx2,
                     oversampling=qih.handle.oversampling,
                     full_scan_threshold=qih.handle.full_scan_threshold)
    return quant_search(h2, query_vector, k=k, metric=metric, flt=flt,
                        rescore=rescore, oversampling=oversampling)
