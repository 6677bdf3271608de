"""Micro-benchmarks of the NumPy scoring kernels, outside Spark.

Each case times one kernel body on in-memory arrays with
``pytest-benchmark`` (three rounds, one iteration each, so the regular
test run barely slows down); compare runs with
``python -m pytest tests/test_kernel_microbench.py --benchmark-only``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from qdrant_spark.operators.knn import score_block
from qdrant_spark.operators.multivec import maxsim_batch_topk
from qdrant_spark.operators.quantize import _sq_decode

N_DOCS, TOKENS, DIM = 10_000, 4, 16
N_QUERIES, K = 8, 10


@pytest.fixture(scope="module")
def mv_batch():
    """One Arrow batch worth of multivector docs: token rows, Arrow list
    offsets, ids, and 8 queries of 4 tokens concatenated."""
    rng = np.random.default_rng(0)
    tokens = rng.normal(size=(N_DOCS * TOKENS, DIM))
    tok_off = np.arange(0, N_DOCS * TOKENS + 1, TOKENS, dtype=np.int32)
    ids = np.arange(N_DOCS, dtype=np.int64)
    Q = rng.normal(size=(N_QUERIES * TOKENS, DIM))
    qstarts = np.arange(0, N_QUERIES * TOKENS, TOKENS)
    return tokens, tok_off, ids, Q, qstarts


def _check(out):
    qid, hit, score = out
    assert len(qid) == len(hit) == len(score) == N_QUERIES * K


def test_maxsim_batch_kernel_float(benchmark, mv_batch):
    tokens, tok_off, ids, Q, qstarts = mv_batch
    zeros, ones = np.zeros(N_QUERIES), np.ones(N_QUERIES)
    _check(benchmark.pedantic(
        maxsim_batch_topk, args=(ids, tokens, tok_off, Q, qstarts, zeros,
                                 ones, K, False), rounds=3, iterations=1))


def test_maxsim_batch_kernel_int8_decode(benchmark, mv_batch):
    """The scalar-quantized token path: the int8 affine decode of the
    Arrow code column, then the same kernel."""
    tokens, tok_off, ids, Q, qstarts = mv_batch
    lo, hi = tokens.min(axis=0), tokens.max(axis=0)
    scale = (hi - lo) / 255.0
    codes = (np.round((tokens - lo) / scale) - 128).astype(np.int8)
    col = pa.ListArray.from_arrays(
        pa.array(np.arange(0, codes.size + 1, DIM, dtype=np.int32)),
        pa.array(codes.ravel()))
    zeros, ones = np.zeros(N_QUERIES), np.ones(N_QUERIES)

    def run():
        Tm = _sq_decode(col, lo, scale)
        return maxsim_batch_topk(ids, Tm, tok_off, Q, qstarts, zeros, ones,
                                 K, False)

    _check(benchmark.pedantic(run, rounds=3, iterations=1))


@pytest.mark.parametrize("metric", ["dot", "cosine", "euclid"])
def test_score_block(benchmark, metric):
    rng = np.random.default_rng(1)
    M = rng.normal(size=(10_000, 64))
    Qm = rng.normal(size=(64, 64))
    S = benchmark.pedantic(score_block, args=(M, Qm, metric), rounds=3,
                           iterations=1)
    assert S.shape == (10_000, 64)
