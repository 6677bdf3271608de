"""Seeded input generator. Every array the benchmark feeds the engine is
drawn here from one ``numpy.random.Generator``; the engine only ever sees
the generated points and requests.

The corpus imitates a sentence-embedding table: 64 topic centres in 64
dimensions, points scattered around their topic, then every component
jittered by up to +-20 %. Payload fields give filters of about 1 %
(``label``), 10 % (``tenant``) and 50 % (``price < 0.5``) selectivity.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

DIM = 64
TOPICS = 64
LABELS = 100           # match on label: ~1 % of points
TENANTS = 10           # match on tenant: ~10 %
MV_TOKENS = 4          # multivector: tokens per point
MV_DIM = 16
VOCAB = 2000           # words of the synthetic documents
SPARSE_SPACE = 1 << 20  # hashed sparse index space


@dataclass
class Corpus:
    """Column arrays of one collection; row ``i`` has id ``ids[i]``."""

    ids: np.ndarray            # int64
    vec: np.ndarray            # float32 (n, DIM)
    label: np.ndarray          # int64
    tenant: np.ndarray         # int64
    price: np.ndarray          # float64
    mv: np.ndarray | None = None        # float32 (n, MV_TOKENS, MV_DIM)
    sparse: list | None = None          # [(indices, values)] per row

    def __len__(self) -> int:
        return len(self.ids)

    def user_bytes(self) -> int:
        """Bytes of vectors and payload a user hands the engine: float32
        vector components, multivector tokens and sparse pairs, plus 8
        bytes per payload value."""
        n = len(self)
        b = self.vec.nbytes + n * 3 * 8
        if self.mv is not None:
            b += self.mv.nbytes
        if self.sparse is not None:
            b += sum(len(ix) * 8 for ix, _ in self.sparse)
        return b


class Generator:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.topics = self.rng.standard_normal((TOPICS, DIM))
        self.mv_topics = self.rng.standard_normal((TOPICS, MV_DIM))

    def vectors(self, n: int) -> np.ndarray:
        topic = self.rng.integers(0, TOPICS, n)
        base = self.topics[topic] + 0.6 * self.rng.standard_normal((n, DIM))
        jitter = 1.0 + self.rng.uniform(-0.2, 0.2, (n, DIM))
        return (base * jitter).astype(np.float32)

    def corpus(self, n: int, *, multivector: bool = False,
               sparse: bool = False) -> Corpus:
        vec = self.vectors(n)
        c = Corpus(
            ids=np.arange(n, dtype=np.int64),
            vec=vec,
            label=self.rng.integers(0, LABELS, n).astype(np.int64),
            tenant=self.rng.integers(0, TENANTS, n).astype(np.int64),
            price=self.rng.random(n),
        )
        if multivector:
            topic = self.rng.integers(0, TOPICS, (n, MV_TOKENS))
            c.mv = (self.mv_topics[topic]
                    + 0.8 * self.rng.standard_normal((n, MV_TOKENS, MV_DIM))
                    ).astype(np.float32)
        if sparse:
            c.sparse = [self.document_vector() for _ in range(n)]
        return c

    def document_vector(self) -> tuple[list[int], list[float]]:
        """A short synthetic document (Zipf-distributed words) hashed into
        a sparse term-frequency vector, as a text embedder would."""
        words = np.minimum(self.rng.zipf(1.3, self.rng.integers(4, 13)),
                           VOCAB)
        tf: dict[int, float] = {}
        for w in words:
            ix = zlib.crc32(f"w{int(w)}".encode()) % SPARSE_SPACE
            tf[ix] = tf.get(ix, 0.0) + 1.0
        ixs = sorted(tf)
        return ixs, [tf[i] for i in ixs]

    def queries(self, corpus: Corpus, n: int) -> np.ndarray:
        """Query vectors near random corpus points, so every query has
        close neighbours."""
        pick = self.rng.integers(0, len(corpus), n)
        q = corpus.vec[pick] + 0.3 * self.rng.standard_normal((n, DIM))
        return q.astype(np.float32)

    def mv_queries(self, corpus: Corpus, n: int) -> np.ndarray:
        pick = self.rng.integers(0, len(corpus), n)
        q = corpus.mv[pick] + 0.3 * self.rng.standard_normal(
            (n, MV_TOKENS, MV_DIM))
        return q.astype(np.float32)


def points(c: Corpus, rows: np.ndarray | range) -> list[dict]:
    """``client.upsert`` point structs for the given row positions: the
    unnamed dense vector, plus the multivector "mv" and the sparse vector
    "text" when the corpus has them."""
    out = []
    for i in rows:
        vector = c.vec[i].tolist()
        if c.mv is not None or c.sparse is not None:
            vector = {"": vector}
            if c.mv is not None:
                vector["mv"] = c.mv[i].tolist()
            if c.sparse is not None:
                ix, vals = c.sparse[i]
                vector["text"] = {"indices": ix, "values": vals}
        out.append({"id": int(c.ids[i]), "vector": vector,
                    "payload": {"label": int(c.label[i]),
                                "tenant": int(c.tenant[i]),
                                "price": float(c.price[i])}})
    return out
