"""The workloads. Each builds its collections through the public
client and yields an endless, seeded stream of requests; every request
knows how to check its response against the oracle.

A request is a ``Request``: ``call()`` runs it against the engine and
``check(response)`` returns an ``Outcome``. Latency is measured around
``call`` only. The stream marks the end of each round of the workload's
mix with ``CYCLE_END``; a timed window ends on such a mark, so every run
sends the same mix.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np

import gen
import probes
from oracle import Oracle, matches, recall

K = 10
CYCLE_END = None


@dataclass
class Outcome:
    ok: bool                       # False: a wrong exact answer
    queries: int = 0               # query vectors answered
    results: int = 0               # points returned
    recalls: list[float] = field(default_factory=list)  # indexed routes
    upserted: int = 0
    upserted_bytes: int = 0        # vector and payload bytes written
    defect: str | None = None      # a known engine defect, reported apart


@dataclass
class Request:
    kind: str
    call: Callable[[], Any]
    check: Callable[[Any], Outcome]
    role: str = "read"             # read | write | maintenance


def _ids_scores(points) -> tuple[list, list]:
    return [p.id for p in points], [p.score for p in points]


def _exact(oracle: Oracle, want, scores_of) -> Callable[[Any], Outcome]:
    """Check for one exact-route top-k response."""
    def check(resp) -> Outcome:
        ids, scores = _ids_scores(resp.points)
        ok = matches(ids, scores, want[0], want[1], scores_of)
        return Outcome(ok, queries=1, results=len(ids))
    return check


def _score_lookup(oracle: Oracle, scores: np.ndarray):
    return lambda i: float(scores[oracle.position([i])[0]])


def _filters(g: gen.Generator) -> Iterator[dict]:
    """Cycle of filters at about 1 %, 10 % and 50 % selectivity."""
    while True:
        yield {"must": [{"key": "label",
                         "match": {"value": int(g.rng.integers(gen.LABELS))}}]}
        yield {"must": [{"key": "tenant",
                         "match": {"value": int(g.rng.integers(gen.TENANTS))}}]}
        yield {"must": [{"key": "price", "range": {"lt": 0.5}}]}


class Workload:
    name = ""
    setup_repeats = 3
    min_rounds = 1   # a timed window holds at least this many rounds
    warm_rounds = 1  # untimed rounds of the mix before the window

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.gen = gen.Generator(seed)
        self.root = os.path.join(workdir, "collections")
        self.client = self.new_client()

    def new_client(self):
        from qdrant_spark.client import QdrantSparkClient

        return QdrantSparkClient(self.spark, root=self.root)

    def build(self) -> None:
        """One-off set-up, run once before the repeated ``setup``."""

    def setup(self, repeat: int) -> None:
        raise NotImplementedError

    def requests(self) -> Iterator[Request | None]:
        """Endless request stream, ``CYCLE_END`` after each round."""
        raise NotImplementedError

    def warm(self) -> list[tuple[str, float, Outcome]]:
        """Send ``warm_rounds`` rounds of the mix untimed, so lazy set-up
        and first-run costs (JIT, Python worker start, code generation)
        land before the timed window. Returns (kind, seconds, outcome) per
        request."""
        out = []
        rounds = 0
        for req in self.requests():
            if req is CYCLE_END:
                rounds += 1
                if rounds == self.warm_rounds:
                    return out
                continue
            t0 = time.perf_counter()
            resp = req.call()
            out.append((req.kind, time.perf_counter() - t0,
                        req.check(resp)))
        return out

    def collection_dirs(self) -> list[str]:
        raise NotImplementedError

    def live_user_bytes(self) -> int:
        """Bytes of vectors and payload the collection holds now."""
        raise NotImplementedError


# ---------------------------------------------------------------------------


class BulkSearch(Workload):
    """Batched and single top-k over a corpus on disk, too large for the
    driver to score alone: every request scans the persisted snapshot.
    The corpus is upserted once through the client, which commits it as
    the collection's snapshot; each set-up then reopens that snapshot
    from a new client, as a restarted session would."""

    name = "bulk-search"
    # a slow host can stretch one round past ``--seconds``; two rounds at
    # least keep p90 over the same mix of kinds
    min_rounds = 2
    # the first rounds after a cold start run up to 30 % slow (JIT, Python
    # workers); the second warm-up round takes most of that tail
    warm_rounds = 2
    # 5 * 2^14: the snapshot (about 43 MB) sits above the engine's 32 MiB
    # fused-batch crossover, below which a 64-query batch runs as 64
    # separate scans; one upsert of it takes about 20 s on 4 cores
    POINTS = 81_920
    BATCH = 64
    MAXSIM_BATCH = 8
    coll = "bulk"
    VECTORS = {"": {"size": gen.DIM, "distance": "Cosine"},
               "mv": {"size": gen.MV_DIM, "distance": "Cosine",
                      "multivector_config": {"comparator": "max_sim"}}}

    def __init__(self, spark, seed, workdir):
        super().__init__(spark, seed, workdir)
        self.corpus = self.gen.corpus(self.POINTS, multivector=True)
        self.oracle = Oracle(self.corpus)

    def build(self) -> None:
        self.client.create_collection(self.coll, vectors_config=self.VECTORS)
        self.client.upsert(self.coll, gen.points(self.corpus,
                                                 range(self.POINTS)))

    def setup(self, repeat: int) -> None:
        self.client = self.new_client()
        self.client.create_collection(self.coll, vectors_config=self.VECTORS)

    def collection_dirs(self) -> list[str]:
        return [os.path.join(self.root, self.coll)]

    def live_user_bytes(self) -> int:
        return self.corpus.user_bytes()

    def requests(self) -> Iterator[Request]:
        while True:
            yield self._batch()
            yield self._single(None)
            yield self._single({"must": [{"key": "tenant", "match": {
                "value": int(self.gen.rng.integers(gen.TENANTS))}}]})
            yield self._maxsim()
            yield CYCLE_END

    def _batch(self) -> Request:
        o = self.oracle
        qs = self.gen.queries(self.corpus, self.BATCH)
        scores = o.cosine(qs)
        wants = [o.top(scores[:, j], K) for j in range(len(qs))]

        def check(resps) -> Outcome:
            out = Outcome(len(resps) == len(wants), queries=len(qs))
            for j, (r, w) in enumerate(zip(resps, wants)):
                ids, sc = _ids_scores(r.points)
                out.results += len(ids)
                out.ok &= matches(ids, sc, w[0], w[1],
                                  _score_lookup(o, scores[:, j]))
            return out
        return Request("batch", lambda: self.client.query_batch_points(
            self.coll, [{"query": v.tolist(), "limit": K} for v in qs]),
            check)

    def _single(self, flt: dict | None) -> Request:
        o = self.oracle
        q = self.gen.queries(self.corpus, 1)[0]
        sc = o.cosine(q)
        return Request(
            "filtered" if flt else "single",
            lambda: self.client.query_points(
                self.coll, query=q.tolist(), query_filter=flt, limit=K),
            _exact(o, o.top(sc, K, flt), _score_lookup(o, sc)))

    def _maxsim(self) -> Request:
        o = self.oracle
        mq = self.gen.mv_queries(self.corpus, self.MAXSIM_BATCH)
        sims = [o.maxsim(m) for m in mq]
        wants = [o.top(s, K) for s in sims]

        def check(resps) -> Outcome:
            out = Outcome(len(resps) == len(wants), queries=len(mq))
            for r, w, s in zip(resps, wants, sims):
                ids, sc = _ids_scores(r.points)
                out.results += len(ids)
                out.ok &= matches(ids, sc, w[0], w[1], _score_lookup(o, s))
            return out
        return Request("maxsim_batch", lambda: self.client.query_batch_points(
            self.coll, [{"query": m.tolist(), "using": "mv", "limit": K}
                        for m in mq]), check)


# ---------------------------------------------------------------------------


class Ingest(Workload):
    """Upsert batches into a persisted collection. After each batch the
    client reads its own writes back. Once per round it sends the small
    interactive requests (nearest, filtered at three selectivities,
    dense+sparse RRF, groups, facet, count, scroll) against the
    just-written collection, then refreshes the vector index and reads
    through it."""

    name = "ingest"
    POINTS = 12_288            # above the engine's 10,000-point index floor
    BATCH = 1000
    OVERWRITE_SHARE = 0.2
    RETRIEVE = 20
    READ_BATCH = 16
    MIX = ("upsert", "retrieve", "nearest", "filtered", "hybrid_rrf",
           "groups", "facet", "count", "scroll", "ensure", "read_indexed",
           "upsert", "retrieve")
    setup_repeats = 1   # a set-up builds the index: too slow to repeat

    def __init__(self, spark, seed, workdir):
        super().__init__(spark, seed, workdir)
        self.base = self.gen.corpus(self.POINTS, sparse=True)

    def setup(self, repeat: int) -> None:
        self.coll = f"ingest_{repeat}"
        self.corpus = gen.Corpus(**self.base.__dict__)
        self.oracle = Oracle(self.corpus)
        self.next_id = int(self.corpus.ids.max()) + 1
        self.indexed = False
        cl = self.client
        cl.create_collection(self.coll, vectors_config={
            "size": gen.DIM, "distance": "Cosine",
            "quantization_config": {"scalar": {
                "type": "int8", "full_scan_threshold": 0}}},
            sparse_vectors_config={"text": {}})
        cl.upsert(self.coll, gen.points(self.corpus, range(self.POINTS)))
        self._index_action(cl.ensure_vector_index(self.coll))

    def collection_dirs(self) -> list[str]:
        return [os.path.join(self.root, self.coll)]

    def live_user_bytes(self) -> int:
        return self.corpus.user_bytes()

    def requests(self) -> Iterator[Request]:
        flts = _filters(self.gen)
        make = {"upsert": self._upsert, "ensure": self._ensure,
                "read_indexed": self._batch,
                "retrieve": self._retrieve,
                "nearest": lambda: self._nearest(None),
                "filtered": lambda: self._nearest(next(flts)),
                "hybrid_rrf": self._hybrid, "groups": self._groups,
                "facet": self._facet,
                "count": lambda: self._count(next(flts)),
                "scroll": lambda: self._scroll(next(flts))}
        while True:
            for kind in self.MIX:
                yield make[kind]()
            yield CYCLE_END

    # -- writes ------------------------------------------------------------

    def _index_action(self, action: str) -> None:
        # a write drops the engine's indexes; an ensure that builds or
        # loads one routes the following nearest reads through it
        self.indexed = action in ("built", "rebuilt", "loaded", "exists")

    def _apply(self, batch: gen.Corpus) -> None:
        """Apply an upsert to the oracle's copy of the collection."""
        c = self.corpus
        pos = {int(i): p for p, i in enumerate(c.ids)}
        old = np.asarray([pos.get(int(i), -1) for i in batch.ids])
        hit, new = old >= 0, old < 0
        for f in ("vec", "label", "tenant", "price"):
            col = getattr(c, f).copy()
            col[old[hit]] = getattr(batch, f)[hit]
            setattr(c, f, np.concatenate([col, getattr(batch, f)[new]]))
        sparse = list(c.sparse)
        for o, v in zip(old, batch.sparse):
            if o >= 0:
                sparse[o] = v
        c.sparse = sparse + [v for o, v in zip(old, batch.sparse) if o < 0]
        c.ids = np.concatenate([c.ids, batch.ids[new]])
        self.oracle = Oracle(c)

    def _upsert(self) -> Request:
        """1,000 points: 80 % new ids, 20 % overwrites of existing ones."""
        g = self.gen
        n_old = int(self.BATCH * self.OVERWRITE_SHARE)
        batch = g.corpus(self.BATCH, sparse=True)
        old_ids = g.rng.choice(self.corpus.ids, n_old, replace=False)
        batch.ids = np.concatenate([
            np.sort(old_ids),
            np.arange(self.next_id, self.next_id + self.BATCH - n_old)])
        self.next_id += self.BATCH - n_old
        pts = gen.points(batch, range(self.BATCH))
        self._last = batch

        def check(_resp) -> Outcome:
            self._apply(batch)
            self._index_action("written")
            return Outcome(True, upserted=self.BATCH,
                           upserted_bytes=batch.user_bytes())
        return Request("upsert", lambda: self.client.upsert(self.coll, pts),
                       check, role="write")

    def _ensure(self) -> Request:
        def check(action) -> Outcome:
            self._index_action(action)
            return Outcome(True)
        return Request("ensure", lambda: self.client.ensure_vector_index(
            self.coll), check, role="maintenance")

    # -- reads -------------------------------------------------------------

    def _retrieve(self) -> Request:
        """Read-your-writes: the payload of just-written points."""
        b = self._last
        half = self.RETRIEVE // 2
        rows = list(range(half)) + list(range(len(b) - half, len(b)))
        want = {int(b.ids[r]): {"label": int(b.label[r]),
                                "tenant": int(b.tenant[r]),
                                "price": float(b.price[r])} for r in rows}
        ids = list(want)

        def check(recs) -> Outcome:
            got = {r.id: r.payload for r in recs}
            return Outcome(got == want, results=len(recs))
        return Request("retrieve", lambda: self.client.retrieve(
            self.coll, ids), check)

    def _batch(self) -> Request:
        """A batch of nearest queries right after the index refresh: with
        an index they count towards recall, without one they must be
        exact."""
        o = self.oracle
        qs = self.gen.queries(self.corpus, self.READ_BATCH)
        scores = o.cosine(qs)
        wants = [o.top(scores[:, j], K) for j in range(len(qs))]
        indexed = self.indexed

        def check(resps) -> Outcome:
            out = Outcome(len(resps) == len(wants), queries=len(qs))
            for j, (r, w) in enumerate(zip(resps, wants)):
                ids, sc = _ids_scores(r.points)
                out.results += len(ids)
                if indexed:
                    out.recalls.append(recall(ids, w[0]))
                else:
                    out.ok &= matches(ids, sc, w[0], w[1],
                                      _score_lookup(o, scores[:, j]))
            return out
        return Request(
            "read_indexed" if indexed else "read_batch",
            lambda: self.client.query_batch_points(
                self.coll, [{"query": v.tolist(), "limit": K} for v in qs]),
            check)

    def _nearest(self, flt: dict | None) -> Request:
        """Nearest, filtered or not; exact unless an index serves it, in
        which case it counts towards recall."""
        o = self.oracle
        q = self.gen.queries(self.corpus, 1)[0]
        sc = o.cosine(q)
        want = o.top(sc, K, flt)
        indexed = self.indexed
        kind = "read_indexed" if indexed else (
            "filtered" if flt else "nearest")

        def check(resp) -> Outcome:
            ids, scores = _ids_scores(resp.points)
            if indexed:
                return Outcome(True, queries=1, results=len(ids),
                               recalls=[recall(ids, want[0])])
            return Outcome(matches(ids, scores, want[0], want[1],
                                   _score_lookup(o, sc)),
                           queries=1, results=len(ids))
        return Request(kind, lambda: self.client.query_points(
            self.coll, query=q.tolist(), query_filter=flt, limit=K), check)

    def _count(self, flt: dict) -> Request:
        want = self.oracle.count(flt)
        return Request(
            "count", lambda: self.client.count(self.coll, count_filter=flt),
            lambda r: Outcome(r.count == want))

    def _scroll(self, flt: dict) -> Request:
        want = self.oracle.scroll(flt, K)
        return Request(
            "scroll", lambda: self.client.scroll(
                self.coll, scroll_filter=flt, limit=K),
            lambda r: Outcome([p.id for p in r[0]] == want,
                              results=len(r[0])))

    def _hybrid(self) -> Request:
        """Dense + sparse prefetch fused with RRF."""
        o, g = self.oracle, self.gen
        q = g.queries(self.corpus, 1)[0]
        sq = self.corpus.sparse[int(g.rng.integers(len(self.corpus)))]
        dense = o.top(o.cosine(q), 2 * K)
        sparse = o.top(o.sparse_dot(sq), 2 * K, positive_only=True)
        want = o.rrf([dense, sparse], K)

        def call():
            return self.client.query_points(
                self.coll, prefetch=[
                    {"query": q.tolist(), "limit": 2 * K},
                    {"query": {"indices": sq[0], "values": sq[1]},
                     "using": "text", "limit": 2 * K}],
                query={"fusion": "rrf"}, limit=K)
        return Request("hybrid_rrf", call, _exact(o, want, None))

    def _groups(self) -> Request:
        o = self.oracle
        q = self.gen.queries(self.corpus, 1)[0]
        want = o.groups(q, "tenant", 3, 2)

        def check(resp) -> Outcome:
            got = {g.id: [(h.id, h.score) for h in g.hits]
                   for g in resp.groups}
            ok = len(got) == len(resp.groups) == len(want) and all(
                wv in got and [i for i, _ in got[wv]] == [i for i, _ in wh]
                and all(abs(a - b) <= 1e-6
                        for (_, a), (_, b) in zip(got[wv], wh))
                for wv, wh in want)
            order = [g.id for g in resp.groups] == [wv for wv, _ in want]
            return Outcome(
                ok, queries=1, results=sum(len(h) for h in got.values()),
                defect=None if order else "groups not in best-hit order")
        return Request("groups", lambda: self.client.query_points_groups(
            self.coll, group_by="tenant", query=q.tolist(), limit=3,
            group_size=2), check)

    def _facet(self) -> Request:
        want = self.oracle.facet("tenant", K)
        return Request(
            "facet", lambda: self.client.facet(self.coll, "tenant", limit=K),
            lambda r: Outcome([(h.value, h.count) for h in r.hits] == want,
                              results=len(r.hits)))


WORKLOADS = {w.name: w for w in (BulkSearch, Ingest)}


def disk_bytes_per_user_byte(w: Workload) -> float:
    size = sum(probes.dir_bytes(d) for d in w.collection_dirs())
    return size / max(w.live_user_bytes(), 1)
