"""Float64 NumPy oracle: brute-force answers for every request the
benchmark sends, with ties broken by id ascending, and the checks that
compare the engine's responses against them.

An exact-route response must equal the oracle on ids and, position by
position, on scores to ``TOL``. The only id difference allowed is a swap
inside a near-tie: a returned id whose true score differs from the
oracle's score at that position by a non-zero amount below ``TOL`` (the
engine ranks float32 vectors; a true tie must follow id order).
"""

from __future__ import annotations

import numpy as np

from gen import Corpus

TOL = 1e-6
RRF_K = 2              # the engine's and the reference's default
GROUP_OVERSAMPLE = 4   # the engine's documented one-pass group candidates


def _normalize(a: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.float64)
    n = np.linalg.norm(a, axis=-1, keepdims=True)
    return a / np.where(n == 0, 1.0, n)


def _rank(ids: np.ndarray, scores: np.ndarray, k: int):
    """Top ``k`` (ids, scores) by score descending, then id ascending."""
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


class Oracle:
    """Holds one collection's current contents as float64 arrays."""

    def __init__(self, c: Corpus):
        self.c = c
        self.unit = _normalize(c.vec)
        self.mv_unit = _normalize(c.mv) if c.mv is not None else None
        self._pos = None

    def position(self, ids) -> np.ndarray:
        if self._pos is None:
            self._pos = {int(i): p for p, i in enumerate(self.c.ids)}
        return np.asarray([self._pos[int(i)] for i in ids], dtype=np.int64)

    # -- scores ----------------------------------------------------------

    def cosine(self, q: np.ndarray) -> np.ndarray:
        """Scores of every point against one query, shape (n,), or a
        batch of queries, shape (n, b)."""
        return self.unit @ _normalize(q).T

    def sparse_dot(self, q: tuple[list[int], list[float]]) -> np.ndarray:
        qd = dict(zip(q[0], q[1]))
        return np.asarray([sum(qd.get(i, 0.0) * v for i, v in zip(ix, vals))
                           for ix, vals in self.c.sparse])

    def maxsim(self, q: np.ndarray) -> np.ndarray:
        # (n, tokens, dim) x (qtokens, dim) -> (n, tokens, qtokens)
        sims = np.einsum("ntd,qd->ntq", self.mv_unit, _normalize(q))
        return sims.max(axis=1).sum(axis=1)

    def mask(self, flt: dict | None) -> np.ndarray:
        """Evaluate the benchmark's filter shapes: one ``must`` list of
        ``match`` / ``range`` conditions on integer or float fields."""
        m = np.ones(len(self.c), dtype=bool)
        for cond in (flt or {}).get("must", []):
            col = getattr(self.c, cond["key"])
            if "match" in cond:
                m &= col == cond["match"]["value"]
            else:
                r = cond["range"]
                for op, fn in (("lt", np.less), ("lte", np.less_equal),
                               ("gt", np.greater),
                               ("gte", np.greater_equal)):
                    if op in r:
                        m &= fn(col, r[op])
        return m

    # -- answers ---------------------------------------------------------

    def top(self, scores: np.ndarray, k: int, flt: dict | None = None,
            positive_only: bool = False):
        keep = self.mask(flt)
        if positive_only:
            keep &= scores > 0
        return _rank(self.c.ids[keep], scores[keep], k)

    def nearest(self, q: np.ndarray, k: int, flt: dict | None = None):
        return self.top(self.cosine(q), k, flt)

    def rrf(self, legs: list[tuple[np.ndarray, np.ndarray]], k: int):
        """Reciprocal rank fusion of ranked legs: a point at 0-based
        position ``p`` of a leg adds ``1 / ((p + 1) + RRF_K - 1)``."""
        fused: dict[int, float] = {}
        for ids, _ in legs:
            for p, i in enumerate(ids):
                fused[int(i)] = fused.get(int(i), 0.0) + 1.0 / (
                    (p + 1) / 1.0 + (RRF_K - 1.0))
        ids = np.asarray(list(fused), dtype=np.int64)
        return _rank(ids, np.asarray([fused[int(i)] for i in ids]), k)

    def groups(self, q: np.ndarray, field: str, limit: int, group_size: int):
        """[(group value, [(id, score)...])] over the top
        ``limit * group_size * GROUP_OVERSAMPLE`` candidates: groups by
        best hit, hits by score within a group."""
        ids, scores = self.nearest(q, limit * group_size * GROUP_OVERSAMPLE)
        values = getattr(self.c, field)[self.position(ids)]
        out: dict[int, list] = {}
        for i, s, v in zip(ids, scores, values):
            hits = out.setdefault(int(v), [])
            if len(hits) < group_size:
                hits.append((int(i), float(s)))
        return list(out.items())[:limit]

    def facet(self, field: str, limit: int) -> list[tuple[int, int]]:
        vals, counts = np.unique(getattr(self.c, field), return_counts=True)
        order = np.lexsort((vals, -counts))[:limit]
        return [(int(vals[o]), int(counts[o])) for o in order]

    def count(self, flt: dict | None) -> int:
        return int(self.mask(flt).sum())

    def scroll(self, flt: dict | None, limit: int) -> list[int]:
        return sorted(self.c.ids[self.mask(flt)].tolist())[:limit]


# -- checks ---------------------------------------------------------------


def matches(resp_ids, resp_scores, want_ids, want_scores,
            true_score=None) -> bool:
    """Exact-route check. ``true_score(id)`` gives the oracle's score of
    any id, used to accept near-tie swaps (see the module docstring)."""
    if len(resp_ids) != len(want_ids):
        return False
    if len(set(resp_ids)) != len(resp_ids):
        return False
    for i, (rid, rs, wid, ws) in enumerate(
            zip(resp_ids, resp_scores, want_ids, want_scores)):
        if abs(rs - ws) > TOL:
            return False
        if int(rid) != int(wid):
            if true_score is None:
                return False
            gap = abs(true_score(rid) - ws)
            if not 0.0 < gap <= TOL:
                return False
    return True


def recall(resp_ids, want_ids) -> float:
    want = {int(i) for i in want_ids}
    if not want:
        return 1.0
    return len(want & {int(i) for i in resp_ids}) / len(want)
