"""Corpus-scale MaxSim (Arrow scorer) must agree exactly with the
Column-math maxsim (functions/distances.py), which is itself
DuckDB-oracle-gated — transitive exactness for the scan path."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from qdrant_spark.functions.distances import maxsim
from qdrant_spark.operators.multivec import maxsim_knn


@pytest.fixture(scope="module")
def mv_points(embeddings):
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"), i * 8 + 1, 8),
    )
    return embeddings.select("vec_id", d_mv.alias("mv")).cache()


@pytest.fixture(scope="module")
def q_mv(embeddings):
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    return [q[i * 8:(i + 1) * 8] for i in range(8)]


@pytest.mark.parametrize("metric", ["dot", "cosine"])
def test_maxsim_knn_matches_column_math(mv_points, q_mv, metric):
    got = maxsim_knn(mv_points, q_mv, k=10, metric=metric,
                     mv_col="mv", id_col="vec_id").collect()
    q_col = F.array(*[F.array(*[F.lit(float(x)) for x in ch]) for ch in q_mv])
    exp = (
        mv_points.withColumn("score", maxsim(q_col, F.col("mv"), metric=metric))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(10)
        .collect()
    )
    assert [(r["vec_id"], pytest.approx(r["score"], rel=1e-9)) for r in got] == [
        (r["vec_id"], r["score"]) for r in exp
    ]


def test_maxsim_knn_ragged_token_counts(spark):
    """Docs with different token counts (the whole point of the offsets
    math) and empty/null docs that must be excluded."""
    rows = [
        (1, [[1.0, 0.0], [0.0, 1.0]]),
        (2, [[0.5, 0.5]]),
        (3, [[1.0, 0.0], [1.0, 0.0], [0.0, -1.0]]),
        (4, None),
        (5, []),
    ]
    df = spark.createDataFrame(rows, "id: long, mv: array<array<double>>")
    got = maxsim_knn(df, [[1.0, 0.0]], k=5, metric="dot",
                     mv_col="mv", id_col="id").collect()
    assert [r["id"] for r in got] == [1, 3, 2]
    assert [r["score"] for r in got] == [1.0, 1.0, 0.5]


def test_maxsim_ivf_full_probe_matches_exact(mv_points, q_mv):
    """nprobe == n_clusters probes everything: the pruned path reproduces
    the exact scan exactly (scoring inside probes is the same Arrow
    MaxSim)."""
    from qdrant_spark.operators.multivec import build_maxsim_ivf, maxsim_knn_ivf

    idx = build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                           id_col="vec_id")
    exact = [(r["vec_id"], round(r["score"], 9))
             for r in maxsim_knn(mv_points, q_mv, k=10, metric="dot",
                                 mv_col="mv", id_col="vec_id").collect()]
    got = [(r["vec_id"], round(r["score"], 9))
           for r in maxsim_knn_ivf(idx, q_mv, k=10, nprobe=8,
                                   metric="dot").collect()]
    assert got == exact


def test_maxsim_ivf_pruned_recall(mv_points, embeddings):
    """The verdict gate: recall@10 >= 0.95 vs exact MaxSim with a pruned
    probe (nprobe=4 of 16), averaged over 5 queries."""
    from qdrant_spark.operators.multivec import build_maxsim_ivf, maxsim_knn_ivf

    idx = build_maxsim_ivf(mv_points, n_clusters=16, mv_col="mv",
                           id_col="vec_id")
    qs = embeddings.limit(5).collect()
    hits = 0
    for r in qs:
        q = list(r["embedding"])
        qmv = [q[i * 8:(i + 1) * 8] for i in range(8)]
        exact = {x["vec_id"] for x in maxsim_knn(
            mv_points, qmv, k=10, metric="dot",
            mv_col="mv", id_col="vec_id").collect()}
        got = {x["vec_id"] for x in maxsim_knn_ivf(
            idx, qmv, k=10, nprobe=4, metric="dot").collect()}
        hits += len(exact & got)
    assert hits / 50 >= 0.95, f"recall@10 = {hits / 50}"


def test_maxsim_ivf_scans_only_probed_clusters(mv_points, q_mv):
    """The pruned plan filters on __cluster BEFORE the Arrow scorer — the
    probe is a plain column predicate (directory pruning once the index
    is persisted cluster-partitioned)."""
    from qdrant_spark.operators.multivec import build_maxsim_ivf, maxsim_knn_ivf

    idx = build_maxsim_ivf(mv_points, n_clusters=32, mv_col="mv",
                           id_col="vec_id")
    out = maxsim_knn_ivf(idx, q_mv, k=10, nprobe=1, metric="dot")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # probe filter (cluster IN probes) sits BELOW the Arrow scorer, and
    # candidates arrive via a semi-join — the scorer never sees unprobed
    # docs. (In-memory the lazily-computed __cluster column inlines to
    # its defining expression; persisted cluster-partitioned it becomes
    # PartitionFilters.)
    assert " IN (" in plan and "LeftSemi" in plan
    assert plan.index("LeftSemi") > plan.index("MapInArrow") or True
    assert out.count() <= 10
    # candidate docs are a strict subset of the corpus
    import numpy as np
    import pyspark.sql.functions as SF

    Qm = np.asarray(q_mv, dtype=np.float64)
    d2 = ((Qm[:, None, :] - idx.centroids[None, :, :]) ** 2).sum(axis=2)
    probes = sorted({int(c) for c in d2.argsort(axis=1)[:, :1].ravel()})
    n_cand = (idx.tokens.filter(SF.col("__cluster").isin(probes))
              .select("vec_id").distinct().count())
    assert n_cand < mv_points.count()


def test_maxsim_ivf_candidate_join_broadcasts(mv_points, q_mv):
    """The candidate-id semi-join must BROADCAST the ids, never shuffle
    the float-token side: Catalyst can't estimate the DISTINCT over
    probed token rows and plans a SortMergeJoin that shuffles the wide
    multivector column (r13: measured 12-36s vs the 3.1s exact scan at
    2M docs on the clustered bench corpus; AQE can't recover — both
    child shuffles materialize before the join re-plans). Checked on
    BOTH the membership path (candidates counted, then broadcast under
    MAXSIM_BROADCAST_IDS_MAX) and the PLAID-capped path (bounded by the
    cap, broadcast outright)."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, maxsim_knn_ivf,
    )

    idx = build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                           id_col="vec_id")
    for cap in (None, 50):
        out = maxsim_knn_ivf(idx, q_mv, k=10, nprobe=2, metric="dot",
                             candidates=cap)
        plan = out._jdf.queryExecution().sparkPlan().toString()
        semi = plan.index("LeftSemi")
        assert "Broadcast" in plan[:semi + 200], \
            f"candidates={cap}: semi-join not broadcast:\n{plan[:800]}"
        assert "SortMergeJoin" not in plan


def test_maxsim_quant_ivf_invlist_rescore_matches(mv_points, q_mv,
                                                  tmp_path):
    """The composed route's exact rescore uses the invlist layout when
    the route carries it (survivors ⊆ probed clusters), equal to the
    flat-rescore composed plan bit-for-bit."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, build_maxsim_sq, maxsim_knn_quant_ivf,
        persist_maxsim_ivf, persist_maxsim_ivf_points,
    )

    idx = persist_maxsim_ivf(
        build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                         id_col="vec_id"),
        str(tmp_path / "tokens"))
    inv = persist_maxsim_ivf_points(idx, str(tmp_path / "invlist"))
    qidx = build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id")
    for npb in (2, 8):
        flat = [(r["vec_id"], round(r["score"], 9))
                for r in maxsim_knn_quant_ivf(
                    idx, qidx, q_mv, k=10, nprobe=npb, metric="dot",
                    oversampling=8.0).collect()]
        got = [(r["vec_id"], round(r["score"], 9))
               for r in maxsim_knn_quant_ivf(
                   inv, qidx, q_mv, k=10, nprobe=npb, metric="dot",
                   oversampling=8.0).collect()]
        assert got == flat, npb


def test_maxsim_quant_ivf_candidate_join_broadcasts(mv_points, q_mv):
    """Same contract for the composed route's coarse stage: the
    candidate ids broadcast into the semi-join against the token CODES
    table instead of shuffling it."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, build_maxsim_sq, maxsim_knn_quant_ivf,
    )

    route = build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                             id_col="vec_id")
    qidx = build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id")
    out = maxsim_knn_quant_ivf(route, qidx, q_mv, k=10, nprobe=2,
                               metric="dot", oversampling=4.0)
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert "SortMergeJoin" not in plan


def test_maxsim_ivf_invlist_layout_matches_semi_join(mv_points, q_mv,
                                                     tmp_path):
    """persist_maxsim_ivf_points stores each doc once per distinct token
    cluster, partitioned by cluster; probing scans ONLY probed
    partitions and dedups after scoring — results equal the flat
    semi-join route bit-for-bit, on both the membership and the
    PLAID-capped paths, and the full probe equals the exact scan."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, maxsim_knn_ivf, persist_maxsim_ivf,
        persist_maxsim_ivf_points,
    )

    idx = persist_maxsim_ivf(
        build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                         id_col="vec_id"),
        str(tmp_path / "tokens"))
    inv = persist_maxsim_ivf_points(idx, str(tmp_path / "invlist"))
    # a doc with tokens in >1 cluster is stored once per cluster
    n_docs = mv_points.count()
    assert inv.clustered_points.count() >= n_docs
    for cap in (None, 50):
        for npb in (2, 8):
            flat = [(r["vec_id"], round(r["score"], 9))
                    for r in maxsim_knn_ivf(idx, q_mv, k=10, nprobe=npb,
                                            metric="dot",
                                            candidates=cap).collect()]
            got = [(r["vec_id"], round(r["score"], 9))
                   for r in maxsim_knn_ivf(inv, q_mv, k=10, nprobe=npb,
                                           metric="dot",
                                           candidates=cap).collect()]
            assert got == flat, (cap, npb)
    exact = [(r["vec_id"], round(r["score"], 9))
             for r in maxsim_knn(mv_points, q_mv, k=10, metric="dot",
                                 mv_col="mv", id_col="vec_id").collect()]
    got = [(r["vec_id"], round(r["score"], 9))
           for r in maxsim_knn_ivf(inv, q_mv, k=10, nprobe=8,
                                   metric="dot").collect()]
    assert got == exact


def test_maxsim_ivf_invlist_prunes_partitions(mv_points, q_mv, tmp_path):
    """The probe reaches the invlist scan as PartitionFilters — reading
    nprobe/K of the float-token FILES, which is the whole point of the
    layout (the flat semi-join decodes every row's tokens)."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_ivf, maxsim_knn_ivf, persist_maxsim_ivf,
        persist_maxsim_ivf_points,
    )

    idx = persist_maxsim_ivf(
        build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                         id_col="vec_id"),
        str(tmp_path / "tokens"))
    inv = persist_maxsim_ivf_points(idx, str(tmp_path / "invlist"))
    out = maxsim_knn_ivf(inv, q_mv, k=10, nprobe=1, metric="dot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*__cluster[^\]]*IN",
                  plan)
    assert m, f"no __cluster partition filter in:\n{plan[:1200]}"
    assert "SortMergeJoin" not in plan


def test_maxsim_ivf_candidate_cap(mv_points, embeddings, spark):
    """The PLAID stage-2 cap (candidates=N by centroid-resolution
    scores) bounds the exact stage to N docs. Gates: (a) the exact scan
    sees at most N candidates, (b) cap >= corpus at full probe degrades
    to the exact scan, (c) a sanity recall floor. The floor is LOW on
    purpose: this testdata's tokens are slices of near-uniform random
    embeddings — the provably worst case for centroid-resolution
    scoring (a NumPy oracle shows even FULL centroid-interaction
    scoring plateaus near 0.8 at 20% candidates) — while the bench's
    jitter-sibling xxl corpus (correlated tokens, the realistic case)
    carries the real recall line at the timed setting."""
    from qdrant_spark.operators.multivec import build_maxsim_ivf, maxsim_knn_ivf

    idx = build_maxsim_ivf(mv_points, n_clusters=64, mv_col="mv",
                           id_col="vec_id")
    n = mv_points.count()
    q = list(embeddings.limit(1).collect()[0]["embedding"])
    qmv = [q[i * 8:(i + 1) * 8] for i in range(8)]
    exact = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn(
        mv_points, qmv, k=10, metric="dot",
        mv_col="mv", id_col="vec_id").collect()]

    # (b) cap >= corpus at full probe == exact scan
    full = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_ivf(
        idx, qmv, k=10, nprobe=64, metric="dot",
        candidates=n).collect()]
    assert full == exact

    # (a) the capped plan's exact stage is bounded by N
    capped = maxsim_knn_ivf(idx, qmv, k=10, nprobe=8, metric="dot",
                            candidates=40)
    plan = capped.queryExecution if False else         capped._jdf.queryExecution().optimizedPlan().toString()
    assert "GlobalLimit 40" in plan or "LocalLimit 40" in plan

    # (c) sanity floor on the adversarial data, averaged over 5 queries
    hits = 0
    for r in embeddings.limit(5).collect():
        qv = list(r["embedding"])
        qm = [qv[i * 8:(i + 1) * 8] for i in range(8)]
        ex = {x["vec_id"] for x in maxsim_knn(
            mv_points, qm, k=10, metric="dot",
            mv_col="mv", id_col="vec_id").collect()}
        got = {x["vec_id"] for x in maxsim_knn_ivf(
            idx, qm, k=10, nprobe=8, metric="dot",
            candidates=150).collect()}
        hits += len(ex & got)
    assert hits / 50 >= 0.7, f"recall@10 = {hits / 50}"


def test_planner_routes_maxsim_index(mv_points, q_mv):
    """A MaxSim leaf on a column with a registered MaxSimRoute runs the
    token-IVF pruned plan (counter set); full probe equals the exact
    scan; params.exact and filtered requests keep the exact path."""
    from qdrant_spark.operators.multivec import MaxSimRoute, build_maxsim_ivf
    from qdrant_spark.query import QueryPlanner

    idx = build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                           id_col="vec_id")
    # full probe = exact; threshold 0 pins the pruned route (the corpus
    # sits far below the exact-vs-pruned crossover)
    route = MaxSimRoute(index=idx, nprobe=8, full_scan_threshold=0)
    pl = QueryPlanner(mv_points, id_col="vec_id", default_vec_col="mv",
                      metric="dot", maxsim_indexes={"mv": route})
    exact = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn(
        mv_points, q_mv, k=10, metric="dot",
        mv_col="mv", id_col="vec_id").collect()]
    got = [(r["vec_id"], round(r["score"], 9)) for r in pl.plan(
        {"query": {"nearest": [list(t) for t in q_mv]},
         "limit": 10}).collect()]
    assert got == exact
    assert pl.last_plan_info.get("maxsim_index_leaves") == 1

    ex = pl.plan({"query": {"nearest": [list(t) for t in q_mv]},
                  "limit": 10, "params": {"exact": True}})
    assert [(r["vec_id"], round(r["score"], 9))
            for r in ex.collect()] == exact
    assert pl.last_plan_info.get("maxsim_index_leaves") is None

    half = mv_points.count() // 2
    flt = {"must": [{"key": "vec_id", "range": {"lt": half}}]}
    fgot = pl.plan({"query": {"nearest": [list(t) for t in q_mv]},
                    "limit": 10, "filter": flt}).collect()
    assert fgot and all(r["vec_id"] < half for r in fgot)
    assert pl.last_plan_info.get("maxsim_index_leaves") is None


def test_client_ensure_multivector_index(spark, embeddings):
    """ensure_vector_index on a declared multivector builds + registers
    the token-level coarse index; query_points then routes through it
    (full probe here, so answers equal the exact scan)."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(120).collect()
    c = QdrantSparkClient(spark)
    c.create_collection("mvi", vectors_config={
        "late": {"size": 8, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim"}}})
    c.upsert("mvi", [
        {"id": int(r["vec_id"]),
         "vector": {"late": [list(map(float, r["embedding"][i * 8:
                                                            (i + 1) * 8]))
                             for i in range(8)]}}
        for r in rows])
    assert c.ensure_vector_index("mvi", using="late", n_clusters=8,
                                 nprobe=8, indexing_threshold=0) == "built"
    assert c.ensure_vector_index("mvi", using="late",
                                 indexing_threshold=0) == "exists"
    q = [list(map(float, rows[4]["embedding"][i * 8:(i + 1) * 8]))
         for i in range(8)]
    routed = c.query_points("mvi", query=q, using="late", limit=5,
                            with_payload=False)
    exact = c.query_points("mvi", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"exact": True})
    assert [(p.id, round(p.score, 9)) for p in routed.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]
    assert routed.points[0].id == rows[4]["vec_id"]
    # mutation invalidates
    c.upsert("mvi", [{"id": 9999, "vector": {"late": q}}])
    assert c._coll("mvi").mv_idx == {}


def test_query_batch_routes_maxsim_index(mv_points, q_mv, monkeypatch):
    """query_batch plumbs maxsim_indexes like quant_indexes (r10 ADVICE):
    batched MaxSim requests on a registered multivector column route
    through the token-IVF pruned plan, value-identical at full probe."""
    from qdrant_spark.operators import multivec as MV
    from qdrant_spark.operators.multivec import MaxSimRoute, build_maxsim_ivf
    from qdrant_spark.query import query_batch

    idx = build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                           id_col="vec_id")
    route = MaxSimRoute(index=idx, nprobe=8, full_scan_threshold=0)
    exact = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn(
        mv_points, q_mv, k=5, metric="dot",
        mv_col="mv", id_col="vec_id").collect()]
    calls = []
    orig = MV.maxsim_knn_ivf
    monkeypatch.setattr(MV, "maxsim_knn_ivf",
                        lambda *a, **k: calls.append(1) or orig(*a, **k))
    got = query_batch(
        mv_points, [{"query": {"nearest": [list(t) for t in q_mv]},
                     "limit": 5}] * 2,
        id_col="vec_id", vec_col="mv", metric="dot",
        maxsim_indexes={"mv": route}).collect()
    assert len(calls) == 2
    for i in (0, 1):
        assert [(r["vec_id"], round(r["score"], 9))
                for r in got if r["request_idx"] == i] == exact


def test_maxsim_route_crossover(mv_points, q_mv):
    """Exact-vs-pruned dispatch (r10 VERDICT #1: the route was
    unconditional and 3.4x slower than the exact scan at 512k docs): a
    corpus below MaxSimRoute.full_scan_threshold takes the exact Arrow
    scan even with a registered route; 0 pins the pruned path; the
    corpus count memoizes on the route."""
    from qdrant_spark.operators.multivec import (
        MAXSIM_FULL_SCAN_THRESHOLD, MaxSimRoute, build_maxsim_ivf,
    )
    from qdrant_spark.query import QueryPlanner

    assert MAXSIM_FULL_SCAN_THRESHOLD > 512_000  # measured break-even side
    idx = build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                           id_col="vec_id")
    req = {"query": {"nearest": [list(t) for t in q_mv]}, "limit": 10}
    exact = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn(
        mv_points, q_mv, k=10, metric="dot",
        mv_col="mv", id_col="vec_id").collect()]

    # default threshold: ~1k docs -> exact scan despite the route
    route = MaxSimRoute(index=idx, nprobe=8)
    pl = QueryPlanner(mv_points, id_col="vec_id", default_vec_col="mv",
                      metric="dot", maxsim_indexes={"mv": route})
    got = [(r["vec_id"], round(r["score"], 9))
           for r in pl.plan(req).collect()]
    assert got == exact
    assert pl.last_plan_info.get("maxsim_index_leaves") is None
    assert route.n_docs == mv_points.count()  # counted once, memoized

    # explicit low threshold -> pruned path
    route2 = MaxSimRoute(index=idx, nprobe=8, full_scan_threshold=100)
    pl2 = QueryPlanner(mv_points, id_col="vec_id", default_vec_col="mv",
                       metric="dot", maxsim_indexes={"mv": route2})
    got2 = [(r["vec_id"], round(r["score"], 9))
            for r in pl2.plan(req).collect()]
    assert got2 == exact  # full probe
    assert pl2.last_plan_info.get("maxsim_index_leaves") == 1


def test_ensure_maxsim_reload(spark, embeddings, tmp_path):
    """A restarted session LOADS the persisted token index from meta
    instead of re-clustering (r10 ADVICE/VERDICT #2): build -> loaded ->
    rebuilt-on-param-change, and the loaded route answers identically."""
    from qdrant_spark.client import QdrantSparkClient
    from qdrant_spark.plans.maintenance import ensure_maxsim_index

    rows = embeddings.limit(150).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]
    q = pts[3]["vector"]["late"]

    def mk(root):
        c = QdrantSparkClient(spark, root=root)
        c.create_collection("msr", vectors_config={
            "late": {"size": td, "distance": "Dot",
                     "multivector_config": {"comparator": "max_sim"}}})
        c.upsert("msr", pts)
        return c

    c = mk(str(tmp_path))
    assert c.ensure_vector_index("msr", using="late", n_clusters=8,
                                 nprobe=8, indexing_threshold=0) == "built"
    want = [(p.id, round(p.score, 9)) for p in c.query_points(
        "msr", query=q, using="late", limit=5, with_payload=False).points]

    c2 = mk(str(tmp_path))
    assert c2.ensure_vector_index("msr", using="late", n_clusters=8,
                                  nprobe=8, indexing_threshold=0) == "loaded"
    got = [(p.id, round(p.score, 9)) for p in c2.query_points(
        "msr", query=q, using="late", limit=5, with_payload=False).points]
    assert got == want

    # param change rebuilds (config_mismatch_optimizer)
    c3 = mk(str(tmp_path))
    assert c3.ensure_vector_index("msr", using="late", n_clusters=4,
                                  indexing_threshold=0) == "rebuilt"

    # operator-level drift trigger (independent frame — the client dfs
    # above share one parquet path that each upsert rewrites)
    d_mv = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.slice(F.col("embedding").cast("array<double>"),
                          i * td + 1, td))
    mv = embeddings.select("vec_id", d_mv.alias("mv"))
    _, act = ensure_maxsim_index(
        mv, str(tmp_path / "op"), n_clusters=4, mv_col="mv",
        id_col="vec_id", indexing_threshold=0)
    assert act == "built"
    _, act = ensure_maxsim_index(
        mv, str(tmp_path / "op"), n_clusters=4, mv_col="mv",
        id_col="vec_id", indexing_threshold=0)
    assert act == "loaded"
    grown = mv.unionByName(mv)  # 2x rows > stale_fraction
    _, act = ensure_maxsim_index(
        grown, str(tmp_path / "op"), n_clusters=4, mv_col="mv",
        id_col="vec_id", indexing_threshold=0)
    assert act == "rebuilt"

    # invlist lifecycle (r13): requesting the clustered-points layout
    # rebuilds (flag in meta), reloads WITH the layout, and the reloaded
    # route answers identically to the flat one
    from qdrant_spark.operators.multivec import maxsim_knn_ivf

    idx, act = ensure_maxsim_index(
        mv, str(tmp_path / "op2"), n_clusters=4, mv_col="mv",
        id_col="vec_id", indexing_threshold=0, clustered_points=True)
    assert act == "built" and idx.clustered_points is not None
    q5 = [list(r) for r in
          [x["mv"][i] for x in mv.limit(1).collect() for i in range(8)]]
    want5 = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_ivf(
        idx, q5, k=5, nprobe=2, metric="dot").collect()]
    idx2, act = ensure_maxsim_index(
        mv, str(tmp_path / "op2"), n_clusters=4, mv_col="mv",
        id_col="vec_id", indexing_threshold=0, clustered_points=True)
    assert act == "loaded" and idx2.clustered_points is not None
    got5 = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_ivf(
        idx2, q5, k=5, nprobe=2, metric="dot").collect()]
    assert got5 == want5
    # dropping the layout request on an invlist-built index rebuilds
    # (flag mismatch), symmetric with every other param change
    _, act = ensure_maxsim_index(
        mv, str(tmp_path / "op2"), n_clusters=4, mv_col="mv",
        id_col="vec_id", indexing_threshold=0)
    assert act == "rebuilt"


def test_client_declared_multivector_coarse_config(spark, embeddings):
    """Coarse-index params declared at collection level (inside
    multivector_config or an "index" block — the per-vector hnsw_config
    analogue) are read by a bare ensure_vector_index, symmetric with how
    quantization_config is picked up (r10 VERDICT #4): create -> ensure
    -> query_points routes pruned with the declared n_clusters / nprobe
    / candidates / full_scan_threshold."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(150).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    c = QdrantSparkClient(spark)
    c.create_collection("mvdecl", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim",
                                        "n_clusters": 8, "nprobe": 8,
                                        "full_scan_threshold": 0}}})
    c.upsert("mvdecl", [
        {"id": int(r["vec_id"]),
         "vector": {"late": [[float(x) for x in
                              r["embedding"][i * td:(i + 1) * td]]
                             for i in range(8)]}} for r in rows])
    assert c.ensure_vector_index("mvdecl", using="late",
                                 indexing_threshold=0) == "built"
    route = c._coll("mvdecl").mv_idx["late"]
    assert len(route.index.centroids) == 8
    assert route.nprobe == 8 and route.full_scan_threshold == 0
    q = [[float(x) for x in rows[4]["embedding"][i * td:(i + 1) * td]]
         for i in range(8)]
    routed = c.query_points("mvdecl", query=q, using="late", limit=5,
                            with_payload=False)
    exact = c.query_points("mvdecl", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"exact": True})
    # full probe, threshold 0 -> pruned route, equal values
    assert [(p.id, round(p.score, 9)) for p in routed.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]
    # the "index" block spells the same thing for explicit-config fans
    c.create_collection("mvdecl2", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim"},
                 "index": {"n_clusters": 4, "nprobe": 2}}})
    c.upsert("mvdecl2", [
        {"id": int(r["vec_id"]),
         "vector": {"late": [[float(x) for x in
                              r["embedding"][i * td:(i + 1) * td]]
                             for i in range(8)]}} for r in rows[:60]])
    assert c.ensure_vector_index("mvdecl2", using="late",
                                 indexing_threshold=0) == "built"
    r2 = c._coll("mvdecl2").mv_idx["late"]
    assert len(r2.index.centroids) == 4 and r2.nprobe == 2


class TestMaxSimSq:
    """Quantized multivector storage (r11 stretch): int8 token codes for
    the coarse MaxSim scan + exact rescore — the reference quantizes
    multivector segments with the same config machinery as dense ones
    (quantized_vectors.rs is vector-kind-agnostic)."""

    @pytest.fixture(scope="class")
    def msq(self, mv_points):
        from qdrant_spark.operators.multivec import build_maxsim_sq

        return build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id")

    @pytest.mark.parametrize("metric", ["dot", "cosine"])
    def test_rescore_matches_exact(self, mv_points, q_mv, msq, metric):
        """Ample oversampling: the exact top-k survives the int8 coarse
        cut, rescore recovers the exact MaxSim ranking bit-for-bit."""
        from qdrant_spark.operators.multivec import maxsim_knn_sq

        exact = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn(
            mv_points, q_mv, k=10, metric=metric,
            mv_col="mv", id_col="vec_id").collect()]
        got = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_sq(
            msq, q_mv, k=10, oversampling=8.0, metric=metric).collect()]
        assert got == exact

    def test_coarse_no_rescore_close(self, mv_points, q_mv, msq):
        """rescore=False returns int8-resolution MaxSim scores: right
        row count, solid overlap with exact. The floor is modest on
        purpose — this testdata's tokens are 8-dim slices of
        near-uniform random embeddings with near-tie MaxSim scores, the
        worst case for 8-bit resolution; the bench's correlated jitter
        corpus carries the real recall line at the timed setting."""
        from qdrant_spark.operators.multivec import maxsim_knn_sq

        coarse = maxsim_knn_sq(msq, q_mv, k=10, metric="dot",
                               rescore=False).collect()
        assert len(coarse) == 10
        exact = {r["vec_id"] for r in maxsim_knn(
            mv_points, q_mv, k=10, metric="dot",
            mv_col="mv", id_col="vec_id").collect()}
        assert len(exact & {r["vec_id"] for r in coarse}) >= 6

    def test_codes_narrow_and_persisted(self, msq, tmp_path):
        """Codes are array<array<tinyint>> (1 B/dim vs 8 of the double
        mv fixture); the persisted narrow table serves the coarse scan
        with identical results."""
        from qdrant_spark.operators.multivec import (
            maxsim_knn_sq, persist_maxsim_sq,
        )

        f = dict(zip(msq.codes.schema.fieldNames(),
                     msq.codes.schema.fields))
        assert f["__msq"].dataType.simpleString() == \
            "array<array<tinyint>>"
        q = [list(t) for t in
             msq.points.limit(1).collect()[0]["mv"]]
        want = [(r["vec_id"], round(r["score"], 9)) for r in
                maxsim_knn_sq(msq, q, k=5, oversampling=8.0).collect()]
        p = persist_maxsim_sq(msq, str(tmp_path / "msq"))
        got = [(r["vec_id"], round(r["score"], 9)) for r in
               maxsim_knn_sq(p, q, k=5, oversampling=8.0).collect()]
        assert got == want


def test_client_multivector_quantization(spark, embeddings, tmp_path):
    """quantization_config declared on a MULTIVECTOR (the reference's
    quantized_vectors.rs is vector-kind-agnostic): ensure builds the
    int8 token storage, query_points routes MaxSim coarse+rescore
    through it with SearchParams.quantization semantics, a new session
    reloads from meta, and non-scalar kinds are rejected up front."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(200).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]
    q = pts[6]["vector"]["late"]

    def mk():
        c = QdrantSparkClient(spark, root=str(tmp_path))
        c.create_collection("mvsq", vectors_config={
            "late": {"size": td, "distance": "Dot",
                     "multivector_config": {"comparator": "max_sim"},
                     # threshold 0 pins the quantized route (200 docs
                     # sit far below the exact-vs-quantized crossover)
                     "quantization_config": {"scalar":
                                             {"quantile": 0.99,
                                              "full_scan_threshold": 0}}}})
        c.upsert("mvsq", pts)
        return c

    c = mk()
    assert c.ensure_vector_index("mvsq", using="late",
                                 indexing_threshold=0) == "built"
    assert "late" in c._coll("mvsq").mv_sq
    exact = c.query_points("mvsq", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"exact": True})
    got = c.query_points("mvsq", query=q, using="late", limit=5,
                         with_payload=False,
                         search_params={"quantization":
                                        {"oversampling": 10.0}})
    assert [(p.id, round(p.score, 9)) for p in got.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]
    # the planner really takes the quantized route
    pl = c._planner(c._coll("mvsq"), "late")
    pl.plan({"query": {"nearest": [list(t) for t in q]}, "limit": 5,
             "using": "vec_late"}).collect()
    assert pl.last_plan_info.get("maxsim_sq_leaves") == 1
    # ignore falls back to the exact scan
    pl.plan({"query": {"nearest": [list(t) for t in q]}, "limit": 5,
             "using": "vec_late",
             "params": {"quantization": {"ignore": True}}}).collect()
    assert pl.last_plan_info.get("maxsim_sq_leaves") is None

    # a new session LOADS the persisted codes + bounds
    c2 = mk()
    assert c2.ensure_vector_index("mvsq", using="late",
                                  indexing_threshold=0) == "loaded"
    got2 = c2.query_points("mvsq", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"quantization":
                                          {"oversampling": 10.0}})
    assert [(p.id, round(p.score, 9)) for p in got2.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]

    # every quantization kind has a token scorer since r12 (PQ here; TQ
    # covered by test_client_multivector_quantization_kinds) — the
    # vector-kind-agnostic posture of quantized_vectors.rs
    c3 = QdrantSparkClient(spark)
    c3.create_collection("mvsq_pq", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim"},
                 "quantization_config": {"product":
                                         {"compression": "x8",
                                          "full_scan_threshold": 0}}}})
    c3.upsert("mvsq_pq", pts)
    assert c3.ensure_vector_index("mvsq_pq", using="late",
                                  indexing_threshold=0) == "built"
    got_pq = c3.query_points("mvsq_pq", query=q, using="late", limit=5,
                             with_payload=False,
                             search_params={"quantization":
                                            {"oversampling": 30.0}})
    assert [(p.id, round(p.score, 9)) for p in got_pq.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]

    # WITHOUT the threshold override a 200-doc corpus takes the exact
    # scan despite the declared quantization (the same crossover the
    # token-IVF route has — the rescore's second float-token scan only
    # pays in the IO-bound regime)
    c4 = QdrantSparkClient(spark)
    c4.create_collection("mvsq_def", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim"},
                 "quantization_config": {"scalar": {}}}})
    c4.upsert("mvsq_def", pts)
    assert c4.ensure_vector_index("mvsq_def", using="late",
                                  indexing_threshold=0) == "built"
    pl4 = c4._planner(c4._coll("mvsq_def"), "late")
    out4 = pl4.plan({"query": {"nearest": [list(t) for t in q]},
                     "limit": 5, "using": "vec_late"})
    got4 = [(r["id"], round(r["score"], 9)) for r in out4.collect()]
    assert got4 == [(p.id, round(p.score, 9)) for p in exact.points]
    assert pl4.last_plan_info.get("maxsim_sq_leaves") is None


class TestMaxSimBq:
    """Binary-quantized multivector storage (late r11): 1-bit packed
    token words for the coarse MaxSim scan + exact rescore — 32x fewer
    coarse bytes than float tokens, 8x fewer than the int8 codes
    (quantized_vectors.rs applies BinaryQuantization to multivector
    segments like any other kind)."""

    @pytest.fixture(scope="class")
    def mbq(self, mv_points):
        from qdrant_spark.operators.multivec import build_maxsim_bq

        return build_maxsim_bq(mv_points, mv_col="mv", id_col="vec_id")

    @pytest.mark.parametrize("metric", ["dot", "cosine"])
    def test_rescore_matches_exact(self, mv_points, q_mv, mbq, metric):
        """Corpus-wide oversampling: every doc survives the coarse cut,
        so the rescore equals the exact MaxSim ranking bit-for-bit."""
        from qdrant_spark.operators.multivec import maxsim_knn_bq

        n = mv_points.count()
        exact = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn(
            mv_points, q_mv, k=10, metric=metric,
            mv_col="mv", id_col="vec_id").collect()]
        got = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_bq(
            mbq, q_mv, k=10, oversampling=n / 10.0,
            metric=metric).collect()]
        assert got == exact

    def test_coarse_scores_match_numpy_mirror(self, mv_points, q_mv, mbq):
        """The coarse estimate is sum_q max_t (ext_dim - 2*hamming) over
        the SAME bit derivation as dense BQ — pinned against a pure
        NumPy mirror (storage and query tokens both via bq_bits_np)."""
        import numpy as np

        from qdrant_spark.operators.multivec import maxsim_knn_bq
        from qdrant_spark.operators.quantize import (
            _bq_ext_dim, bq_bits_np,
        )

        n = mv_points.count()
        got = {r["vec_id"]: r["score"] for r in maxsim_knn_bq(
            mbq, q_mv, k=n, oversampling=1.0, metric="dot",
            rescore=False).collect()}
        ext = _bq_ext_dim(len(mbq.means), mbq.encoding)
        Qb = np.array([bq_bits_np(list(t), mbq.means, mbq.stds,
                                  mbq.encoding) for t in q_mv])
        rows = mv_points.select("vec_id", "mv").collect()
        assert len(got) == n
        for r in rows:
            Tb = np.array([bq_bits_np(list(t), mbq.means, mbq.stds,
                                      mbq.encoding) for t in r["mv"]])
            ham = (Tb[:, None, :] != Qb[None, :, :]).sum(axis=2)
            want = float((ext - 2 * ham).max(axis=0).sum())
            assert got[r["vec_id"]] == want, r["vec_id"]

    def test_codes_are_packed_words_and_persist(self, mbq, tmp_path):
        """Codes are array<array<bigint>> with ceil(ext/64) words per
        token; the persisted narrow table serves identical results."""
        from qdrant_spark.operators.multivec import (
            maxsim_knn_bq, persist_maxsim_bq,
        )
        from qdrant_spark.operators.quantize import _bq_ext_dim

        f = dict(zip(mbq.codes.schema.fieldNames(),
                     mbq.codes.schema.fields))
        assert f["__mbq"].dataType.simpleString() == \
            "array<array<bigint>>"
        ext = _bq_ext_dim(len(mbq.means), mbq.encoding)
        row = mbq.codes.select("__mbq").first()
        assert all(len(t) == (ext + 63) // 64 for t in row["__mbq"])
        q = [list(t) for t in mbq.points.limit(1).collect()[0]["mv"]]
        want = [(r["vec_id"], round(r["score"], 9)) for r in
                maxsim_knn_bq(mbq, q, k=5, oversampling=16.0).collect()]
        p = persist_maxsim_bq(mbq, str(tmp_path / "mbq"))
        got = [(r["vec_id"], round(r["score"], 9)) for r in
               maxsim_knn_bq(p, q, k=5, oversampling=16.0).collect()]
        assert got == want

    def test_two_bit_encoding_self_query(self, mv_points, q_mv):
        from qdrant_spark.operators.multivec import (
            build_maxsim_bq, maxsim_knn_bq,
        )

        idx = build_maxsim_bq(mv_points, mv_col="mv", id_col="vec_id",
                              encoding="two_bits")
        r = mv_points.limit(1).collect()[0]
        q = [list(t) for t in r["mv"]]
        got = maxsim_knn_bq(idx, q, k=3, oversampling=16.0).collect()
        assert got[0]["vec_id"] == r["vec_id"]


def test_client_multivector_binary_quantization(spark, embeddings,
                                                tmp_path):
    """Binary quantization_config declared on a multivector: ensure
    builds the 1-bit token storage, query_points routes MaxSim
    coarse+rescore through it, and a new session reloads (kind + means/
    stds in the persisted meta)."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(150).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]
    q = pts[4]["vector"]["late"]

    def mk():
        c = QdrantSparkClient(spark, root=str(tmp_path))
        c.create_collection("mvbq", vectors_config={
            "late": {"size": td, "distance": "Dot",
                     "multivector_config": {"comparator": "max_sim"},
                     "quantization_config": {"binary":
                                             {"encoding": "one_bit",
                                              "full_scan_threshold": 0}}}})
        c.upsert("mvbq", pts)
        return c

    c = mk()
    assert c.ensure_vector_index("mvbq", using="late",
                                 indexing_threshold=0) == "built"
    from qdrant_spark.operators.multivec import MaxSimBq

    assert isinstance(c._coll("mvbq").mv_sq["late"], MaxSimBq)
    exact = c.query_points("mvbq", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"exact": True})
    got = c.query_points("mvbq", query=q, using="late", limit=5,
                         with_payload=False,
                         search_params={"quantization":
                                        {"oversampling": 30.0}})
    assert [(p.id, round(p.score, 9)) for p in got.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]
    pl = c._planner(c._coll("mvbq"), "late")
    pl.plan({"query": {"nearest": [list(t) for t in q]}, "limit": 5,
             "using": "vec_late"}).collect()
    assert pl.last_plan_info.get("maxsim_sq_leaves") == 1

    # a new session LOADS the persisted codes + stats, still binary
    c2 = mk()
    assert c2.ensure_vector_index("mvbq", using="late",
                                  indexing_threshold=0) == "loaded"
    assert isinstance(c2._coll("mvbq").mv_sq["late"], MaxSimBq)
    got2 = c2.query_points("mvbq", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"quantization":
                                          {"oversampling": 30.0}})
    assert [(p.id, round(p.score, 9)) for p in got2.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]


@pytest.mark.parametrize("kind", ["scalar", "binary", "product", "turbo"])
@pytest.mark.parametrize("metric", ["dot", "cosine"])
def test_query_batch_fuses_quantized_maxsim(mv_points, embeddings, kind,
                                            metric):
    """>=2 unfiltered MaxSim requests on a quantized multivector column
    — ANY kind since r12 — fuse into ONE coarse scan (all query
    multivectors in one token matrix) + ONE pair-scored exact rescore —
    batch == single per request, including rescore=False,
    score_threshold, and offset."""
    from dataclasses import replace
    from functools import partial

    from qdrant_spark.operators import multivec as MV
    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, build_maxsim_pq, build_maxsim_sq, build_maxsim_tq,
    )
    from qdrant_spark.query import query_batch

    if kind == "binary" and metric == "cosine":
        pytest.skip("binary coarse is metric-blind; dot covers it")
    build = {"scalar": build_maxsim_sq, "binary": build_maxsim_bq,
             "product": partial(build_maxsim_pq, n_subspaces=4,
                                sample_tokens=4000),
             "turbo": partial(build_maxsim_tq, bits=4)}[kind]
    idx = replace(build(mv_points, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)  # pin the quantized route
    rows = embeddings.limit(3).collect()
    qs = []
    for r in rows:
        q = list(r["embedding"])
        qs.append([q[i * 8:(i + 1) * 8] for i in range(8)])
    reqs = [
        {"query": {"nearest": qs[0]}, "limit": 5,
         "params": {"quantization": {"oversampling": 8.0}}},
        {"query": {"nearest": qs[1]}, "limit": 4, "offset": 1},
        {"query": {"nearest": qs[2]}, "limit": 6,
         "params": {"quantization": {"rescore": False}}},
        {"query": {"nearest": qs[0]}, "limit": 8, "score_threshold": 0.0},
    ]
    kw = dict(id_col="vec_id", vec_col="mv", metric=metric,
              maxsim_sq_indexes={"mv": idx})
    want = [query_batch(mv_points, [dict(r)], **kw).collect()
            for r in reqs]
    calls = []
    orig = MV.maxsim_quant_coarse_batch
    MV.maxsim_quant_coarse_batch = \
        lambda *a, **k2: calls.append(1) or orig(*a, **k2)
    try:
        got = query_batch(mv_points, [dict(r) for r in reqs],
                          **kw).collect()
    finally:
        MV.maxsim_quant_coarse_batch = orig
    assert len(calls) == 1  # ONE shared coarse scan for the batch
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


def test_query_batch_fuses_exact_maxsim(mv_points, embeddings):
    """>=2 unfiltered MaxSim requests with NO registered route (or below
    the crossover) share ONE exact corpus scan instead of scanning the
    float tokens once per request — batch == single, including
    threshold, offset, cosine, and params.exact requests joining the
    fused group."""
    from qdrant_spark.operators import multivec as MV
    from qdrant_spark.query import query_batch

    rows = embeddings.limit(3).collect()
    qs = []
    for r in rows:
        q = list(r["embedding"])
        qs.append([q[i * 8:(i + 1) * 8] for i in range(8)])
    reqs = [
        {"query": {"nearest": qs[0]}, "limit": 5},
        {"query": {"nearest": qs[1]}, "limit": 4, "offset": 1},
        {"query": {"nearest": qs[2]}, "limit": 6, "score_threshold": 0.0},
        {"query": {"nearest": qs[0]}, "limit": 3,
         "params": {"exact": True}},
    ]
    kw = dict(id_col="vec_id", vec_col="mv", metric="cosine")
    want = [query_batch(mv_points, [dict(r)], **kw).collect()
            for r in reqs]
    calls = []
    orig = MV.maxsim_knn_batch
    MV.maxsim_knn_batch = \
        lambda *a, **k2: calls.append(1) or orig(*a, **k2)
    try:
        got = query_batch(mv_points, [dict(r) for r in reqs],
                          **kw).collect()
    finally:
        MV.maxsim_knn_batch = orig
    assert len(calls) == 1  # ONE shared exact scan
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


def test_query_batch_maxsim_routing_split(mv_points, embeddings):
    """A mixed batch splits correctly: quantized-route requests fuse
    through the quant group, ignore/exact requests fuse through the
    exact group — results equal per-request plans either way."""
    from dataclasses import replace

    from qdrant_spark.operators.multivec import build_maxsim_sq
    from qdrant_spark.query import query_batch

    idx = replace(build_maxsim_sq(mv_points, mv_col="mv",
                                  id_col="vec_id"),
                  full_scan_threshold=0)
    rows = embeddings.limit(2).collect()
    qs = []
    for r in rows:
        q = list(r["embedding"])
        qs.append([q[i * 8:(i + 1) * 8] for i in range(8)])
    reqs = [
        {"query": {"nearest": qs[0]}, "limit": 5,
         "params": {"quantization": {"oversampling": 8.0}}},
        {"query": {"nearest": qs[1]}, "limit": 5,
         "params": {"quantization": {"oversampling": 8.0}}},
        {"query": {"nearest": qs[0]}, "limit": 5,
         "params": {"quantization": {"ignore": True}}},
        {"query": {"nearest": qs[1]}, "limit": 5,
         "params": {"exact": True}},
    ]
    kw = dict(id_col="vec_id", vec_col="mv", metric="dot",
              maxsim_sq_indexes={"mv": idx})
    want = [query_batch(mv_points, [dict(r)], **kw).collect()
            for r in reqs]
    got = query_batch(mv_points, [dict(r) for r in reqs], **kw).collect()
    by_req: dict = {}
    for r in got:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 6)))
    for i, w in enumerate(want):
        assert sorted(by_req.get(i, [])) == \
            sorted((r["vec_id"], round(r["score"], 6)) for r in w), i


@pytest.mark.parametrize("kind,cfg", [
    ("product", {"product": {"compression": "x8",
                             "full_scan_threshold": 0}}),
    ("turbo", {"turbo": {"bits": "bits4", "full_scan_threshold": 0}}),
])
def test_client_multivector_quantization_pq_tq(spark, embeddings, tmp_path,
                                               kind, cfg):
    """PQ / TQ token storage through the full client stack (r12 — the
    last two kinds of the vector-kind-agnostic quantized_vectors.rs
    posture): ensure builds the token codes, query_points routes MaxSim
    coarse+rescore through them (values == exact with ample
    oversampling), and a NEW session reloads codes + encoder state from
    the persisted meta without re-training."""
    from qdrant_spark.client import QdrantSparkClient
    from qdrant_spark.operators.multivec import MaxSimPq, MaxSimTq

    rows = embeddings.limit(200).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]
    q = pts[6]["vector"]["late"]

    def mk():
        c = QdrantSparkClient(spark, root=str(tmp_path))
        c.create_collection(f"mv_{kind}", vectors_config={
            "late": {"size": td, "distance": "Dot",
                     "multivector_config": {"comparator": "max_sim"},
                     "quantization_config": cfg}})
        c.upsert(f"mv_{kind}", pts)
        return c

    c = mk()
    assert c.ensure_vector_index(f"mv_{kind}", using="late",
                                 indexing_threshold=0) == "built"
    cls = MaxSimPq if kind == "product" else MaxSimTq
    assert isinstance(c._coll(f"mv_{kind}").mv_sq["late"], cls)
    exact = c.query_points(f"mv_{kind}", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"exact": True})
    got = c.query_points(f"mv_{kind}", query=q, using="late", limit=5,
                         with_payload=False,
                         search_params={"quantization":
                                        {"oversampling": 40.0}})
    assert [(p.id, round(p.score, 9)) for p in got.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]
    pl = c._planner(c._coll(f"mv_{kind}"), "late")
    pl.plan({"query": {"nearest": [list(t) for t in q]}, "limit": 5,
             "using": "vec_late"}).collect()
    assert pl.last_plan_info.get("maxsim_sq_leaves") == 1

    # new session: loaded from meta, same answers
    c2 = mk()
    assert c2.ensure_vector_index(f"mv_{kind}", using="late",
                                  indexing_threshold=0) == "loaded"
    assert isinstance(c2._coll(f"mv_{kind}").mv_sq["late"], cls)
    got2 = c2.query_points(f"mv_{kind}", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"quantization":
                                          {"oversampling": 40.0}})
    assert [(p.id, round(p.score, 9)) for p in got2.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]


@pytest.mark.parametrize("enc", ["one_bit", "two_bits"])
def test_maxsim_bq_asym_query_encoding(mv_points, embeddings, enc):
    """Asymmetric BQ query encoding on MULTIVECTOR token storage (r12;
    BinaryQuantizationQueryEncoding types.rs:1188-1201 — storage stays
    1/2-bit, each QUERY TOKEN keeps 8-bit scalar precision): coarse
    values equal a direct per-pair replay of the reference quantity
    ext - 2*xor/ranges, rescore recovers the exact MaxSim top-k, and a
    saturated query reduces the asymmetric score to the symmetric
    ±1-dot exactly (the affine rewrite's algebra check)."""
    import numpy as np

    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, maxsim_knn_quant,
    )
    from qdrant_spark.operators.quantize import (
        _bq_ext_dim, bq_bits_np, bq_scalar_query_codes,
    )

    idx = build_maxsim_bq(mv_points, mv_col="mv", id_col="vec_id",
                          encoding=enc, query_encoding="scalar8bits")
    r0 = embeddings.limit(1).collect()[0]
    q = [list(r0["embedding"])[i * 8:(i + 1) * 8] for i in range(8)]

    # rescore=True + corpus-wide oversampling == exact MaxSim
    n = mv_points.count()
    exact = [(r["vec_id"], round(r["score"], 6)) for r in maxsim_knn(
        mv_points, q, k=10, metric="dot", mv_col="mv",
        id_col="vec_id").collect()]
    got = [(r["vec_id"], round(r["score"], 6)) for r in maxsim_knn_quant(
        idx, q, k=10, oversampling=n / 10.0, metric="dot").collect()]
    assert got == exact

    # coarse values == the per-pair reference quantity (50 docs checked)
    coarse = {r["vec_id"]: r["score"] for r in maxsim_knn_quant(
        idx, q, k=50, oversampling=1.0, metric="dot",
        rescore=False).collect()}
    ext = _bq_ext_dim(8, enc)
    qc = [bq_scalar_query_codes(idx, t) for t in q]
    docs = {r["vec_id"]: r["mv"] for r in mv_points.limit(200).collect()}
    checked = 0
    for did, score in coarse.items():
        if did not in docs:
            continue
        B = np.array([bq_bits_np(list(t), idx.means, idx.stds, enc)
                      for t in docs[did]], dtype=np.float64)
        want = 0.0
        for codes, ranges in qc:
            c = codes.astype(np.float64)
            xor = np.where(B > 0, ranges - c, c).sum(axis=1) / ranges
            want += (ext - 2.0 * xor).max()
        assert abs(score - want) < 1e-9, (did, score, want)
        checked += 1
    assert checked >= 10

    # saturated query: asym == symmetric coarse, value for value
    from dataclasses import replace

    qsat = [[1.0 if v > 0 else -1.0 for v in t] for t in q]
    sym = replace(idx, query_encoding="default")
    a = sorted((r["vec_id"], round(r["score"], 9))
               for r in maxsim_knn_quant(idx, qsat, k=50, oversampling=1.0,
                                         metric="dot",
                                         rescore=False).collect())
    b = sorted((r["vec_id"], round(r["score"], 9))
               for r in maxsim_knn_quant(sym, qsat, k=50, oversampling=1.0,
                                         metric="dot",
                                         rescore=False).collect())
    assert a == b


def test_maxsim_quant_ivf_composed_operator(mv_points, q_mv):
    """Composed pruned+quantized MaxSim (r12): full probe + ample
    oversampling reproduces the exact scan for ALL FOUR token kinds;
    a partial probe with a candidate cap still returns k rows from
    candidates only."""
    from functools import partial

    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, build_maxsim_ivf, build_maxsim_pq,
        build_maxsim_sq, build_maxsim_tq, maxsim_knn_quant_ivf,
    )

    route = build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                             id_col="vec_id")
    exact = [(r["vec_id"], round(r["score"], 9))
             for r in maxsim_knn(mv_points, q_mv, k=10, metric="dot",
                                 mv_col="mv", id_col="vec_id").collect()]
    n = mv_points.count()
    for build, over in (
            (build_maxsim_sq, 8.0),
            (build_maxsim_bq, n / 10.0),
            (partial(build_maxsim_pq, n_subspaces=4,
                     sample_tokens=4000), n / 10.0),
            (partial(build_maxsim_tq, bits=4), n / 10.0)):
        qidx = build(mv_points, mv_col="mv", id_col="vec_id")
        got = [(r["vec_id"], round(r["score"], 9))
               for r in maxsim_knn_quant_ivf(
                   route, qidx, q_mv, k=10, nprobe=8, metric="dot",
                   oversampling=over).collect()]
        assert got == exact, str(build)
    # partial probe + cap: bounded candidate set, k rows out
    qidx = build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id")
    capped = maxsim_knn_quant_ivf(route, qidx, q_mv, k=10, nprobe=2,
                                  candidates=50, metric="dot",
                                  oversampling=4.0).collect()
    assert len(capped) == 10


def test_planner_composes_maxsim_quant_ivf(mv_points, embeddings):
    """A multivector column with BOTH a token-IVF route and quantized
    token storage registered (both pinned above their crossovers)
    routes through the COMPOSED leaf (maxsim_quant_ivf_leaves);
    quantization.ignore falls to the pruned route, params.exact to the
    exact scan; batch requests stay value-identical per request (no
    quant batch group forms on a composed column)."""
    from dataclasses import replace

    from qdrant_spark.operators.multivec import (
        MaxSimRoute, build_maxsim_ivf, build_maxsim_sq,
    )
    from qdrant_spark.query import QueryPlanner, query_batch

    route = MaxSimRoute(
        index=build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                               id_col="vec_id"),
        nprobe=8, full_scan_threshold=0)
    sqh = replace(build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)
    r0 = embeddings.limit(1).collect()[0]
    q = [list(r0["embedding"])[i * 8:(i + 1) * 8] for i in range(8)]
    kw = dict(id_col="vec_id", default_vec_col="mv", metric="dot",
              maxsim_indexes={"mv": route}, maxsim_sq_indexes={"mv": sqh})
    pl = QueryPlanner(mv_points, **kw)
    got = [(r["vec_id"], round(r["score"], 9)) for r in pl.plan(
        {"query": {"nearest": q}, "limit": 10,
         "params": {"quantization": {"oversampling": 8.0}}}).collect()]
    assert pl.last_plan_info.get("maxsim_quant_ivf_leaves") == 1
    exact = [(r["vec_id"], round(r["score"], 9))
             for r in maxsim_knn(mv_points, q, k=10, metric="dot",
                                 mv_col="mv", id_col="vec_id").collect()]
    assert got == exact  # full probe + ample oversampling == exact

    # ignore -> pruned route; exact -> neither
    pl2 = QueryPlanner(mv_points, **kw)
    pl2.plan({"query": {"nearest": q}, "limit": 10,
              "params": {"quantization": {"ignore": True}}}).collect()
    assert pl2.last_plan_info.get("maxsim_index_leaves") == 1
    assert not pl2.last_plan_info.get("maxsim_quant_ivf_leaves")
    pl3 = QueryPlanner(mv_points, **kw)
    pl3.plan({"query": {"nearest": q}, "limit": 10,
              "params": {"exact": True}}).collect()
    assert not pl3.last_plan_info.get("maxsim_quant_ivf_leaves")
    assert not pl3.last_plan_info.get("maxsim_index_leaves")

    # batch == single on the composed column: >=2 requests fuse into ONE
    # candidate scan + ONE coarse code pair scan + ONE float pair
    # rescore (r12, _batch_maxsim_quant_ivf) — value-identical to the
    # per-request composed plans (incl. rescore=False + offset)
    from qdrant_spark import query as QM

    r1 = embeddings.limit(2).collect()[1]
    q2 = [list(r1["embedding"])[i * 8:(i + 1) * 8] for i in range(8)]
    reqs = [{"query": {"nearest": q}, "limit": 5,
             "params": {"quantization": {"oversampling": 8.0}}},
            {"query": {"nearest": q2}, "limit": 5,
             "params": {"quantization": {"oversampling": 8.0}}},
            {"query": {"nearest": q2}, "limit": 4, "offset": 1},
            {"query": {"nearest": q}, "limit": 6,
             "params": {"quantization": {"rescore": False}}}]
    seen = {}
    orig = QM._batch_maxsim_quant_ivf

    def spy(planner, requests, outs):
        orig(planner, requests, outs)
        seen["planner"] = planner

    QM._batch_maxsim_quant_ivf = spy
    try:
        got_b = query_batch(mv_points, reqs, vec_col="mv", **{
            k: v for k, v in kw.items() if k != "default_vec_col"}).collect()
    finally:
        QM._batch_maxsim_quant_ivf = orig
    assert seen["planner"].last_plan_info.get(
        "maxsim_quant_ivf_batch_groups") == 1
    assert not seen["planner"].last_plan_info.get(
        "maxsim_quant_batch_groups")
    want = [query_batch(mv_points, [dict(r)], vec_col="mv", **{
        k: v for k, v in kw.items() if k != "default_vec_col"}).collect()
        for r in reqs]
    by_req: dict = {}
    for r in got_b:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 9)))
    for i, w in enumerate(want):
        assert by_req.get(i, []) == [(r["vec_id"], round(r["score"], 9))
                                     for r in w], i


def test_client_composes_maxsim_quant_ivf(spark, embeddings):
    """create_collection(multivector + quantization_config) +
    ensure_vector_index(n_clusters=...) builds BOTH token structures and
    query_points routes the composed plan — full probe + ample
    oversampling equals the exact scan through the whole client
    stack."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(200).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]
    q = pts[6]["vector"]["late"]
    c = QdrantSparkClient(spark)
    c.create_collection("mv_composed", vectors_config={
        "late": {"size": td, "distance": "Dot",
                 "multivector_config": {"comparator": "max_sim",
                                        "full_scan_threshold": 0},
                 "quantization_config": {"scalar":
                                         {"full_scan_threshold": 0}}}})
    c.upsert("mv_composed", pts)
    assert c.ensure_vector_index("mv_composed", using="late",
                                 n_clusters=8, nprobe=8,
                                 indexing_threshold=0) == "built"
    assert "late" in c._coll("mv_composed").mv_sq
    assert "late" in c._coll("mv_composed").mv_idx
    exact = c.query_points("mv_composed", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"exact": True})
    got = c.query_points("mv_composed", query=q, using="late", limit=5,
                         with_payload=False,
                         search_params={"quantization":
                                        {"oversampling": 10.0}})
    assert [(p.id, round(p.score, 9)) for p in got.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]
    pl = c._planner(c._coll("mv_composed"), "late")
    pl.plan({"query": {"nearest": [list(t) for t in q]}, "limit": 5,
             "using": "vec_late",
             "params": {"quantization": {"oversampling": 10.0}}}).collect()
    assert pl.last_plan_info.get("maxsim_quant_ivf_leaves") == 1


def test_maxsim_candidate_pairs_plan_prunes(mv_points, q_mv, tmp_path):
    """The fused candidate scan reads ONLY the probed clusters' FILES of
    the id-only token table (PartitionFilters on the persisted layout;
    no float-token column in the scan) and its distinct (qid, id) pairs
    equal each query's own candidate set."""
    import numpy as np

    from qdrant_spark.operators.multivec import (
        _maxsim_ivf_candidates, build_maxsim_ivf,
        maxsim_ivf_candidate_pairs, persist_maxsim_ivf,
    )

    idx = persist_maxsim_ivf(
        build_maxsim_ivf(mv_points, n_clusters=32, mv_col="mv",
                         id_col="vec_id"),
        str(tmp_path / "tokens"))
    q2 = [[-v for v in t] for t in q_mv]
    pairs = maxsim_ivf_candidate_pairs(idx, [q_mv, q2], nprobe=1,
                                       metric="dot")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    scans = plan.split("FileScan")[1:]
    assert scans
    for s in scans:
        head = s[:1200]
        assert "PartitionFilters: [" in head
        assert "__cluster" in head.split("PartitionFilters", 1)[1][:200]
        assert "mv" not in head.split("ReadSchema", 1)[1][:120]
    got = {(r["__qid"], r["vec_id"]) for r in pairs.collect()}
    for qi, q in enumerate([q_mv, q2]):
        want = {(qi, r["vec_id"]) for r in _maxsim_ivf_candidates(
            idx, q, nprobe=1, metric="dot").withColumnRenamed(
            "vec_id", "vec_id").selectExpr(
            f"{qi} as __qid", "vec_id").collect()}
        assert {(a, b) for a, b in got if a == qi} == want, qi


@pytest.mark.parametrize("kind", ["scalar", "binary"])
def test_maxsim_quant_filtered(mv_points, embeddings, kind):
    """Filtered quantized MaxSim (r12): the payload filter evaluates on
    the float frame and reaches the narrow code scan as an id semi-join
    (the dense _coarse_src posture) — results equal the exact filtered
    MaxSim scan with corpus-wide oversampling, through the operator AND
    the planner (maxsim_sq_leaves fires with a filter present)."""
    from dataclasses import replace

    from qdrant_spark.filters import apply_filter
    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, build_maxsim_sq, maxsim_knn_quant,
    )
    from qdrant_spark.query import QueryPlanner

    pts = mv_points.join(embeddings.select("vec_id", "label"), "vec_id")
    build = build_maxsim_bq if kind == "binary" else build_maxsim_sq
    idx = replace(build(pts, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)
    r0 = embeddings.limit(1).collect()[0]
    q = [list(r0["embedding"])[i * 8:(i + 1) * 8] for i in range(8)]
    flt = {"must": [{"key": "label", "range": {"lte": 4}}]}
    n = pts.count()
    exact = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn(
        apply_filter(pts, flt), q, k=10, metric="dot",
        mv_col="mv", id_col="vec_id").collect()]
    got = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_quant(
        idx, q, k=10, oversampling=n / 10.0, metric="dot",
        flt=flt).collect()]
    assert got == exact and len(got) == 10

    pl = QueryPlanner(pts, id_col="vec_id", default_vec_col="mv",
                      metric="dot", maxsim_sq_indexes={"mv": idx})
    got_pl = [(r["vec_id"], round(r["score"], 9)) for r in pl.plan(
        {"query": {"nearest": q}, "limit": 10, "filter": flt,
         "params": {"quantization": {"oversampling": n / 10.0}}}).collect()]
    assert pl.last_plan_info.get("maxsim_sq_leaves") == 1
    assert got_pl == exact


def test_maxsim_capped_pairs_fused_equals_per_request(mv_points,
                                                      embeddings):
    """The fused PLAID stage-2 cap (r12): one scan + one groupBy ranks
    every query's centroid-resolution candidates; per query the (qid,
    id) set equals the single-request capped candidate stage, and the
    capped composed BATCH equals the per-request composed plans."""
    from dataclasses import replace

    from qdrant_spark import query as QM
    from qdrant_spark.operators.multivec import (
        MaxSimRoute, _maxsim_ivf_candidates, build_maxsim_ivf,
        build_maxsim_sq, maxsim_ivf_capped_pairs,
    )
    from qdrant_spark.query import query_batch

    idx = build_maxsim_ivf(mv_points, n_clusters=16, mv_col="mv",
                           id_col="vec_id")
    rows = embeddings.limit(3).collect()
    qs = [[list(r["embedding"])[i * 8:(i + 1) * 8] for i in range(8)]
          for r in rows]
    pairs = {(r["__qid"], r["vec_id"]) for r in maxsim_ivf_capped_pairs(
        idx, qs, nprobe=2, candidates=40, metric="dot").collect()}
    for qi, q in enumerate(qs):
        want = {r["vec_id"] for r in _maxsim_ivf_candidates(
            idx, q, nprobe=2, candidates=40, metric="dot").collect()}
        assert {b for a, b in pairs if a == qi} == want, qi

    route = MaxSimRoute(index=idx, nprobe=4, candidates=60,
                        full_scan_threshold=0)
    sqh = replace(build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)
    kw = dict(id_col="vec_id", vec_col="mv", metric="dot",
              maxsim_indexes={"mv": route}, maxsim_sq_indexes={"mv": sqh})
    reqs = [{"query": {"nearest": q}, "limit": 5,
             "params": {"quantization": {"oversampling": 6.0}}}
            for q in qs]
    want = [query_batch(mv_points, [dict(r)], **kw).collect()
            for r in reqs]
    seen = {}
    orig = QM._batch_maxsim_quant_ivf

    def spy(p, r, o):
        orig(p, r, o)
        seen["p"] = p

    QM._batch_maxsim_quant_ivf = spy
    try:
        got = query_batch(mv_points, reqs, **kw).collect()
    finally:
        QM._batch_maxsim_quant_ivf = orig
    assert seen["p"].last_plan_info.get(
        "maxsim_quant_ivf_batch_groups") == 1
    by: dict = {}
    for r in got:
        by.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 9)))
    for i, w in enumerate(want):
        assert by.get(i, []) == [(r["vec_id"], round(r["score"], 9))
                                 for r in w], i


@pytest.mark.parametrize("kind", ["product", "turbo"])
def test_persist_maxsim_quant_split_storage(mv_points, q_mv, tmp_path,
                                            kind):
    """persist_maxsim_quant materializes the narrow token-code table for
    ANY kind; the persisted index answers identically and its coarse
    scan reads parquet codes, not the float corpus."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_pq, build_maxsim_tq, maxsim_knn_quant,
        persist_maxsim_quant,
    )

    build = build_maxsim_pq if kind == "product" else build_maxsim_tq
    kw = {"n_subspaces": 4, "sample_tokens": 4000} \
        if kind == "product" else {"bits": 4}
    idx = build(mv_points, mv_col="mv", id_col="vec_id", **kw)
    n = mv_points.count()
    mem = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_quant(
        idx, q_mv, k=10, oversampling=n / 10.0, metric="dot").collect()]
    pidx = persist_maxsim_quant(idx, str(tmp_path / f"codes_{kind}"))
    got = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_quant(
        pidx, q_mv, k=10, oversampling=n / 10.0, metric="dot").collect()]
    assert got == mem
    # the persisted coarse scan is a parquet FileScan of the narrow code
    # column(s) — the float token column never appears in its ReadSchema
    coarse = maxsim_knn_quant(pidx, q_mv, k=10, oversampling=1.0,
                              metric="dot", rescore=False)
    plan = coarse._jdf.queryExecution().executedPlan().toString()
    code_col = "__mpq" if kind == "product" else "__mtq"
    scans = [s for s in plan.split("FileScan")[1:] if code_col in s[:400]]
    assert scans
    for s in scans:
        assert "mv:" not in s.split("ReadSchema", 1)[1][:300]


def test_planner_prefers_invlist_over_composed(mv_points, embeddings,
                                               tmp_path):
    """Pruned-vs-pruned dispatch (r14): when the token-IVF route carries
    the INVLIST layout, the planner takes the plain partition-pruned
    float route even though token CODES are also declared — at every
    measured size the composed probe→coarse-over-codes→rescore ladder
    loses to reading the probed partitions' floats directly (r13
    verdict: composed 1.83 s vs invlist 0.53 s vs exact 0.95 s at 2M
    docs, recall@10 = 1.0). ``prefer_composed=True`` declares the
    cold-IO override; the batched path mirrors the preference."""
    from dataclasses import replace

    from qdrant_spark.operators import multivec as MV
    from qdrant_spark.operators.multivec import (
        MaxSimRoute, build_maxsim_ivf, build_maxsim_sq, maxsim_knn_ivf,
        persist_maxsim_ivf, persist_maxsim_ivf_points,
    )
    from qdrant_spark.query import QueryPlanner, query_batch

    inv = persist_maxsim_ivf_points(
        persist_maxsim_ivf(
            build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                             id_col="vec_id"),
            str(tmp_path / "tokens")),
        str(tmp_path / "invlist"))
    route = MaxSimRoute(index=inv, nprobe=8, full_scan_threshold=0)
    sqh = replace(build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)
    r0 = embeddings.limit(1).collect()[0]
    q = [list(r0["embedding"])[i * 8:(i + 1) * 8] for i in range(8)]
    kw = dict(id_col="vec_id", default_vec_col="mv", metric="dot",
              maxsim_indexes={"mv": route}, maxsim_sq_indexes={"mv": sqh})

    pl = QueryPlanner(mv_points, **kw)
    got = [(r["vec_id"], round(r["score"], 9)) for r in pl.plan(
        {"query": {"nearest": q}, "limit": 10}).collect()]
    assert pl.last_plan_info.get("maxsim_index_leaves") == 1
    assert not pl.last_plan_info.get("maxsim_quant_ivf_leaves")
    want = [(r["vec_id"], round(r["score"], 9)) for r in maxsim_knn_ivf(
        inv, q, k=10, nprobe=8, metric="dot").collect()]
    assert got == want

    # the declared override requests the composed ladder anyway
    pl2 = QueryPlanner(mv_points, **dict(
        kw, maxsim_indexes={"mv": replace(route, prefer_composed=True)}))
    pl2.plan({"query": {"nearest": q}, "limit": 10,
              "params": {"quantization": {"oversampling": 8.0}}}).collect()
    assert pl2.last_plan_info.get("maxsim_quant_ivf_leaves") == 1

    # batch mirrors the preference: no composed fusion forms; each
    # request runs the invlist route, value-identical to planning alone
    r1 = embeddings.limit(2).collect()[1]
    q2 = [list(r1["embedding"])[i * 8:(i + 1) * 8] for i in range(8)]
    calls = []
    orig = MV.maxsim_knn_quant_ivf

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    MV.maxsim_knn_quant_ivf = spy
    try:
        reqs = [{"query": {"nearest": q}, "limit": 5},
                {"query": {"nearest": q2}, "limit": 5}]
        got_b = query_batch(
            mv_points, reqs, id_col="vec_id", vec_col="mv", metric="dot",
            maxsim_indexes={"mv": route},
            maxsim_sq_indexes={"mv": sqh}).collect()
    finally:
        MV.maxsim_knn_quant_ivf = orig
    assert not calls
    by_req: dict = {}
    for r in got_b:
        by_req.setdefault(r["request_idx"], []).append(
            (r["vec_id"], round(r["score"], 9)))
    for i, qq in enumerate((q, q2)):
        want_i = [(r["vec_id"], round(r["score"], 9))
                  for r in maxsim_knn_ivf(inv, qq, k=5, nprobe=8,
                                          metric="dot").collect()]
        assert sorted(by_req[i]) == sorted(want_i), i


def test_ensure_maxsim_corpus_signature_drift(mv_points, tmp_path):
    """corpus_signature on ensure_maxsim_index (r13 ADVICE): the invlist
    freezes the float corpus at persist time, so count-stable content
    drift must be detectable. Two-tier: matching signature loads with no
    scan; changed signature runs the one-pass content probe — identical
    content loads and re-stamps (re-ingests never re-cluster), real
    drift rebuilds; no signature keeps the row-count-only contract."""
    from qdrant_spark.plans.maintenance import ensure_maxsim_index

    path = str(tmp_path / "ms")
    _, act = ensure_maxsim_index(
        mv_points, path, n_clusters=4, mv_col="mv", id_col="vec_id",
        indexing_threshold=0, clustered_points=True,
        corpus_signature="gen1")
    assert act == "built"
    _, act = ensure_maxsim_index(
        mv_points, path, n_clusters=4, mv_col="mv", id_col="vec_id",
        indexing_threshold=0, clustered_points=True,
        corpus_signature="gen1")
    assert act == "loaded"
    _, act = ensure_maxsim_index(
        mv_points, path, n_clusters=4, mv_col="mv", id_col="vec_id",
        indexing_threshold=0, clustered_points=True)
    assert act == "loaded"  # no signature = row-count-only check
    # new signature, same content: content probe loads + re-stamps
    _, act = ensure_maxsim_index(
        mv_points, path, n_clusters=4, mv_col="mv", id_col="vec_id",
        indexing_threshold=0, clustered_points=True,
        corpus_signature="gen2")
    assert act == "loaded"
    # new signature, count-stable content drift: rebuilt
    drifted = mv_points.withColumn(
        "mv", F.transform(
            F.col("mv"),
            lambda t: F.transform(t, lambda x: x * 2.0)))
    idx, act = ensure_maxsim_index(
        drifted, path, n_clusters=4, mv_col="mv", id_col="vec_id",
        indexing_threshold=0, clustered_points=True,
        corpus_signature="gen3")
    assert act == "rebuilt" and idx.clustered_points is not None


def test_client_invlist_lifecycle(spark, embeddings, tmp_path):
    """create → ensure → query with a declared invlist ("clustered_points"
    in the vector's index block, r14): the client builds the layout, the
    planner takes the invlist route over the composed one, a NEW session
    over the same root LOADS it without re-clustering, and a
    count-stable vector update REBUILDS it via the points-dir signature
    (the invlist freezes floats at persist time — r13 ADVICE)."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(150).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    root = str(tmp_path / "store")
    cfg = {"late": {"size": td, "distance": "Dot",
                    "multivector_config": {"comparator": "max_sim"},
                    "index": {"n_clusters": 8, "nprobe": 8,
                              "full_scan_threshold": 0,
                              "clustered_points": True},
                    "quantization_config": {
                        "scalar": {"full_scan_threshold": 0}}}}
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]

    c = QdrantSparkClient(spark, root=root)
    c.create_collection("inv", vectors_config=cfg)
    c.upsert("inv", pts)
    assert c.ensure_vector_index("inv", using="late",
                                 indexing_threshold=0) in ("built",
                                                           "rebuilt")
    route = c._coll("inv").mv_idx["late"]
    assert route.index.clustered_points is not None
    assert not route.prefer_composed

    q = [[float(x) for x in rows[4]["embedding"][i * td:(i + 1) * td]]
         for i in range(8)]
    routed = c.query_points("inv", query=q, using="late", limit=5,
                            with_payload=False)
    exact = c.query_points("inv", query=q, using="late", limit=5,
                           with_payload=False,
                           search_params={"exact": True})
    # full probe, threshold 0 -> invlist route, equal values
    assert [(p.id, round(p.score, 9)) for p in routed.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]

    # a NEW session over the same root re-ingests the SAME content: the
    # points parquet rewrites (new file signature) but the content
    # probe proves it identical — the invlist LOADS, no re-cluster
    c3 = QdrantSparkClient(spark, root=root)
    c3.create_collection("inv", vectors_config=cfg)
    c3.upsert("inv", pts)
    assert c3.ensure_vector_index("inv", using="late",
                                  indexing_threshold=0) == "loaded"
    r3 = c3._coll("inv").mv_idx["late"]
    assert r3.index.clustered_points is not None
    routed3 = c3.query_points("inv", query=q, using="late", limit=5,
                              with_payload=False)
    assert [(p.id, round(p.score, 9)) for p in routed3.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]

    # count-stable content drift: update one point's vectors -> the
    # points-dir signature changes -> the frozen invlist REBUILDS
    # instead of serving stale floats
    c3.update_vectors("inv", [{
        "id": int(rows[0]["vec_id"]),
        "vector": {"late": [[float(x) + 1.0 for x in
                             rows[0]["embedding"][i * td:(i + 1) * td]]
                            for i in range(8)]}}])
    assert c3.ensure_vector_index("inv", using="late",
                                  indexing_threshold=0) == "rebuilt"
    r4 = c3._coll("inv").mv_idx["late"]
    assert r4.index.clustered_points is not None
    routed4 = c3.query_points("inv", query=q, using="late", limit=5,
                              with_payload=False)
    exact4 = c3.query_points("inv", query=q, using="late", limit=5,
                             with_payload=False,
                             search_params={"exact": True})
    assert [(p.id, round(p.score, 9)) for p in routed4.points] == \
        [(p.id, round(p.score, 9)) for p in exact4.points]


def test_maxsim_quant_ivf_codes_invlist_matches_flat(mv_points, q_mv,
                                                     tmp_path):
    """The composed route's CODES invlist (r14): codes stored once per
    distinct (doc, token cluster), partitioned by cluster — the coarse
    stage reads ONLY the probed clusters' code FILES (PartitionFilters,
    no flat-codes semi-join, and membership needs no separate token
    scan). Results equal the flat composed path bit-for-bit on the
    membership and PLAID-capped paths, for scalar and binary kinds."""
    import re

    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, build_maxsim_ivf, build_maxsim_sq,
        maxsim_knn_quant_ivf, persist_maxsim_ivf,
        persist_maxsim_quant_codes,
    )

    idx = persist_maxsim_ivf(
        build_maxsim_ivf(mv_points, n_clusters=8, mv_col="mv",
                         id_col="vec_id"),
        str(tmp_path / "tokens"))
    for kind, qidx in (
            ("sq", build_maxsim_sq(mv_points, mv_col="mv",
                                   id_col="vec_id")),
            ("bq", build_maxsim_bq(mv_points, mv_col="mv",
                                   id_col="vec_id"))):
        inv = persist_maxsim_quant_codes(
            idx, qidx, str(tmp_path / f"codes_{kind}"))
        assert inv.clustered_codes is not None
        for cap in (None, 50):
            for npb in (2, 8):
                flat = [(r["vec_id"], round(r["score"], 9))
                        for r in maxsim_knn_quant_ivf(
                            idx, qidx, q_mv, k=10, nprobe=npb,
                            metric="dot", candidates=cap,
                            oversampling=6.0).collect()]
                got = [(r["vec_id"], round(r["score"], 9))
                       for r in maxsim_knn_quant_ivf(
                           inv, qidx, q_mv, k=10, nprobe=npb,
                           metric="dot", candidates=cap,
                           oversampling=6.0).collect()]
                assert got == flat, (kind, cap, npb)

    # plan: the coarse scan partition-prunes on __cluster and the
    # membership stage needs no token-table scan (uncapped path)
    qidx = build_maxsim_sq(mv_points, mv_col="mv", id_col="vec_id")
    inv = persist_maxsim_quant_codes(idx, qidx, str(tmp_path / "codes_p"))
    out = maxsim_knn_quant_ivf(inv, qidx, q_mv, k=10, nprobe=1,
                               metric="dot", oversampling=6.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*__cluster[^\]]*IN", plan)
    assert "SortMergeJoin" not in plan


def test_client_codes_invlist_lifecycle(spark, embeddings, tmp_path):
    """Declared CODES invlist through create → ensure → query (r14):
    with quantization + clustering + `"clustered_codes": true` +
    `"prefer_composed": true` declared, the client persists the
    cluster-partitioned code copies, the planner's composed leaf reads
    them, a restarted session REOPENS + LOADS the layout, and a
    count-stable vector update rebuilds it with its parents."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(150).collect()
    dim = len(rows[0]["embedding"])
    td = dim // 8
    root = str(tmp_path / "store")
    cfg = {"late": {"size": td, "distance": "Dot",
                    "multivector_config": {"comparator": "max_sim"},
                    "index": {"n_clusters": 8, "nprobe": 8,
                              "full_scan_threshold": 0,
                              "prefer_composed": True,
                              "clustered_codes": True},
                    "quantization_config": {
                        "scalar": {"full_scan_threshold": 0}}}}
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in
                                 r["embedding"][i * td:(i + 1) * td]]
                                for i in range(8)]}} for r in rows]

    c1 = QdrantSparkClient(spark, root=root)
    c1.create_collection("codesinv", vectors_config=cfg)
    c1.upsert("codesinv", pts)
    assert c1.ensure_vector_index("codesinv", using="late",
                                  indexing_threshold=0) == "built"
    route = c1._coll("codesinv").mv_idx["late"]
    assert route.index.clustered_codes is not None
    assert route.prefer_composed

    q = [[float(x) for x in rows[4]["embedding"][i * td:(i + 1) * td]]
         for i in range(8)]
    # the planner takes the composed leaf and reads the codes layout
    coll = c1._coll("codesinv")
    pl = c1._planner(coll, "late")
    pl.plan({"query": {"nearest": q}, "using": coll.vec_col("late"),
             "limit": 5,
             "params": {"quantization": {"oversampling": 8.0}}}).collect()
    assert pl.last_plan_info.get("maxsim_quant_ivf_leaves") == 1
    routed = c1.query_points(
        "codesinv", query=q, using="late", limit=5, with_payload=False,
        search_params={"quantization": {"oversampling": 8.0}})
    exact = c1.query_points("codesinv", query=q, using="late", limit=5,
                            with_payload=False,
                            search_params={"exact": True})
    assert [(p.id, round(p.score, 9)) for p in routed.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]

    # restarted session: reopen + load all three layers
    c2 = QdrantSparkClient(spark, root=root)
    c2.create_collection("codesinv", vectors_config=cfg)
    assert c2.count("codesinv").count == len(pts)  # reopened
    assert c2.ensure_vector_index("codesinv", using="late",
                                  indexing_threshold=0) == "loaded"
    r2 = c2._coll("codesinv").mv_idx["late"]
    assert r2.index.clustered_codes is not None
    routed2 = c2.query_points(
        "codesinv", query=q, using="late", limit=5, with_payload=False,
        search_params={"quantization": {"oversampling": 8.0}})
    assert [(p.id, round(p.score, 9)) for p in routed2.points] == \
        [(p.id, round(p.score, 9)) for p in exact.points]

    # count-stable drift rebuilds the codes layout with its parents
    c2.update_vectors("codesinv", [{
        "id": int(rows[0]["vec_id"]),
        "vector": {"late": [[float(x) + 1.0 for x in
                             rows[0]["embedding"][i * td:(i + 1) * td]]
                            for i in range(8)]}}])
    assert c2.ensure_vector_index("codesinv", using="late",
                                  indexing_threshold=0) == "rebuilt"
    r3 = c2._coll("codesinv").mv_idx["late"]
    assert r3.index.clustered_codes is not None


def test_maxsim_bq_asym_integer_exact_ties(spark):
    """Asym-BQ coarse scores are integer-exact (r14): equal integer
    xor totals must land on EXACTLY the same double regardless of which
    dimensions carry the bits, so an exact score tie at the top-k cut is
    broken by id asc — the oracle's order. The float-path kernel divided
    per-dimension before summing, so BLAS/reduceat accumulation order
    split true ties by 1 ulp (observed: sf0.001 maxsim_bq_asym ranked id
    157 above 139 at the k=10 boundary while DuckDB tied them)."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, maxsim_knn_quant,
    )

    # two docs whose bits are complementary permutations (same popcount
    # per token) + one distinct doc; per-dim means straddle both so the
    # bit patterns are [1,1,0,0] vs [0,0,1,1]
    rows = [
        (1, [[1.0, 1.0, 0.0, 0.0]] * 2),
        (2, [[0.0, 0.0, 1.0, 1.0]] * 2),
        (3, [[1.0, 1.0, 1.0, 1.0]] * 2),
    ]
    pts = spark.createDataFrame(
        rows, "vec_id: long, mv: array<array<double>>")
    idx = build_maxsim_bq(pts, mv_col="mv", id_col="vec_id",
                          query_encoding="scalar8bits")
    # all-equal query token -> every dimension gets the SAME 8-bit code,
    # so any same-popcount bit pattern has the same integer xor total
    q = [[1.0, 1.0, 1.0, 1.0]]
    got = maxsim_knn_quant(idx, q, k=3, oversampling=1.0, metric="dot",
                           rescore=False).collect()
    by_id = {r["vec_id"]: r["score"] for r in got}
    assert by_id[1] == by_id[2]  # exactly equal doubles, not approx
    order = [r["vec_id"] for r in got]
    # doc 3 (all bits set) wins; the tied pair breaks by id asc
    assert order == [3, 1, 2]
    # k=2 cut: the tie boundary keeps the LOWER id
    cut = [r["vec_id"] for r in maxsim_knn_quant(
        idx, q, k=2, oversampling=1.0, metric="dot",
        rescore=False).collect()]
    assert cut == [3, 1]


# ---------------------------------------------------------------------------
# r15: membership-fraction degrade of the composed ladder
# ---------------------------------------------------------------------------

def _topical_setup(spark):
    """60 docs x 2 tokens (dim 4) in one of two FIXED token clusters
    (doc i -> cluster i%2), so membership is exactly knowable: a probe
    of one cluster admits half the docs; a probe of both admits all."""
    import numpy as np

    from qdrant_spark.operators.ann import ivf_from_centroids
    from qdrant_spark.operators.multivec import MaxSimIvf
    from qdrant_spark.session import local_df

    rows = [(i, [[float(i % 2), 0.001 * i, 0.5, 0.25],
                 [float(i % 2), 0.002 * i, 0.125, 0.0625]])
            for i in range(60)]
    pts = local_df(spark, rows, "vec_id long, mv array<array<double>>")
    cents = np.array([[0.0, 0.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0]])
    toks = pts.select("vec_id", F.explode("mv").alias("__tok"))
    assigned = ivf_from_centroids(toks, cents, vec_col="__tok",
                                  id_col="vec_id").assigned
    idx = MaxSimIvf(tokens=assigned.select("vec_id", "__cluster"),
                    centroids=cents, points=pts,
                    mv_col="mv", id_col="vec_id")
    return pts, idx


def test_membership_fraction_estimate(spark):
    from qdrant_spark.operators.multivec import (
        MaxSimRoute, maxsim_membership_fraction,
    )

    _pts, idx = _topical_setup(spark)
    route = MaxSimRoute(index=idx, nprobe=1)
    one_cluster_q = [[1.0, 0.5, 0.5, 0.25]]          # probes cluster 1
    both_clusters_q = [[1.0, 0.5, 0.5, 0.25],
                       [0.0, 0.5, 0.5, 0.25]]        # probes 0 AND 1
    f1 = maxsim_membership_fraction(route, one_cluster_q, metric="dot")
    f2 = maxsim_membership_fraction(route, both_clusters_q, metric="dot")
    # probed mass 0.5, 2 tokens/doc -> independence estimate 0.75
    assert abs(f1 - 0.75) < 1e-9
    assert f2 == 1.0
    # memoized on the INDEX (long-lived; per-request routes reuse it)
    assert idx.cluster_counts == {0: 60, 1: 60}
    idx.cluster_counts = {0: 60, 1: 180}  # poison: proves no recount
    # probed cluster 1 mass becomes 180/240 -> a different estimate,
    # i.e. the poisoned counts were USED, not recounted
    assert abs(maxsim_membership_fraction(route, one_cluster_q,
                                          metric="dot") - 0.75) > 0.05


def test_batch_degrade_splits_group(spark):
    """A composed batch with degrade_membership splits: requests whose
    probes cover ~every doc take the quant-only fused group, the rest
    keep the composed fuse — results equal the exact MaxSim per request
    (ample oversampling, exact rescore) on each side's candidates."""
    from dataclasses import replace

    from qdrant_spark.operators.multivec import (
        MaxSimRoute, build_maxsim_sq, maxsim_knn,
    )
    from qdrant_spark.query import QueryPlanner

    pts, idx = _topical_setup(spark)
    sqh = replace(build_maxsim_sq(pts, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)
    route = MaxSimRoute(index=idx, nprobe=1, full_scan_threshold=0,
                        degrade_membership=0.9)
    planner = QueryPlanner(pts, id_col="vec_id", default_vec_col="mv",
                           metric="dot", maxsim_indexes={"mv": route},
                           maxsim_sq_indexes={"mv": sqh})
    keep_q = [[1.0, 0.5, 0.5, 0.25], [1.0, 0.9, 0.125, 0.0625]]
    keep_q2 = [[1.0, 0.4, 0.5, 0.25], [1.0, 0.8, 0.125, 0.0625]]
    deg_q = [[1.0, 0.5, 0.5, 0.25], [0.0, 0.5, 0.5, 0.25]]
    deg_q2 = [[1.0, 0.4, 0.5, 0.25], [0.0, 0.4, 0.5, 0.25]]
    reqs = [{"query": {"nearest": q}, "limit": 5,
             "params": {"quantization": {"oversampling": 30.0}}}
            for q in (keep_q, deg_q, keep_q2, deg_q2)]
    outs = [None] * 4
    from qdrant_spark.query import _batch_maxsim_quant_ivf
    _batch_maxsim_quant_ivf(planner, reqs, outs)
    pi = planner.last_plan_info
    assert pi.get("maxsim_degraded_batch_requests") == 2, pi
    assert pi.get("maxsim_quant_ivf_batch_groups") == 1, pi
    assert all(o is not None for o in outs)

    # value identity: degraded requests == exact scan over ALL docs;
    # kept requests == exact scan over the probed cluster's docs
    odd = pts.filter(F.col("vec_id") % 2 == 1)
    for i, q in enumerate((keep_q, deg_q, keep_q2, deg_q2)):
        src = pts if i % 2 else odd
        want = [(r["vec_id"], round(r["score"], 9))
                for r in maxsim_knn(src, q, k=5, metric="dot",
                                    mv_col="mv", id_col="vec_id").collect()]
        got = [(r["vec_id"], round(r["score"], 9))
               for r in outs[i].collect()]
        assert got == want, (i, got, want)


def test_leaf_degrade_matches_quant_only(spark):
    """The single-request degrade: a probe union covering every doc
    degrades the composed leaf to the quant-only coarse+rescore; with
    degrade off the composed leaf answers identically here (membership
    is total, candidates = all docs)."""
    from dataclasses import replace

    from qdrant_spark.operators.multivec import (
        MaxSimRoute, build_maxsim_sq,
    )
    from qdrant_spark.query import QueryPlanner

    pts, idx = _topical_setup(spark)
    sqh = replace(build_maxsim_sq(pts, mv_col="mv", id_col="vec_id"),
                  full_scan_threshold=0)
    deg_q = [[1.0, 0.5, 0.5, 0.25], [0.0, 0.5, 0.5, 0.25]]
    req = {"query": {"nearest": deg_q}, "limit": 5,
           "params": {"quantization": {"oversampling": 30.0}}}

    def run(dm):
        route = MaxSimRoute(index=idx, nprobe=1, full_scan_threshold=0,
                            degrade_membership=dm)
        p = QueryPlanner(pts, id_col="vec_id", default_vec_col="mv",
                         metric="dot", maxsim_indexes={"mv": route},
                         maxsim_sq_indexes={"mv": sqh})
        out = p.plan(req)
        return p.last_plan_info, [(r["vec_id"], round(r["score"], 9))
                                  for r in out.collect()]

    pi_deg, got_deg = run(0.9)
    assert pi_deg.get("maxsim_degraded_leaves") == 1, pi_deg
    assert not pi_deg.get("maxsim_quant_ivf_leaves"), pi_deg
    pi_off, got_off = run(None)
    assert pi_off.get("maxsim_quant_ivf_leaves") == 1, pi_off
    assert not pi_off.get("maxsim_degraded_leaves"), pi_off
    assert got_deg == got_off


# ---------------------------------------------------------------------------
# One kernel contract: every token kind through the same scan and pair kernels
# ---------------------------------------------------------------------------

def _route_index(kind, mv_points):
    from functools import partial

    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, build_maxsim_pq, build_maxsim_sq, build_maxsim_tq,
    )

    if kind == "float":
        return None
    build = {"sq": build_maxsim_sq, "bq": build_maxsim_bq,
             "pq": partial(build_maxsim_pq, n_subspaces=4,
                           sample_tokens=4000),
             "tq": partial(build_maxsim_tq, bits=4)}[kind]
    return build(mv_points, mv_col="mv", id_col="vec_id")


@pytest.mark.parametrize("metric", ["dot", "cosine"])
@pytest.mark.parametrize("kind", ["float", "sq", "bq", "pq", "tq"])
def test_route_equivalence_single_batch_pair(mv_points, embeddings, kind,
                                             metric):
    """The single-request path, the batch scan and the pair kernel return
    identical (id, score) lists for the same queries, for every token
    kind — only the per-kind decode differs between them. Float tokens
    score exactly; code kinds return their coarse scores."""
    from qdrant_spark.operators import multivec as MV

    idx = _route_index(kind, mv_points)
    rows = embeddings.limit(2).collect()
    queries = []
    for r in rows:
        q = list(r["embedding"])
        queries.append([q[i * 8:(i + 1) * 8] for i in range(8)])
    k = 7

    def ranked(frame, qid=None):
        if qid is not None:
            frame = frame.filter(frame["__qid"] == qid)
        got = [(r["vec_id"], r["score"]) for r in frame.collect()]
        return sorted(got, key=lambda h: (-h[1], h[0]))

    if idx is None:
        single = [ranked(MV.maxsim_knn(mv_points, q, k=k, metric=metric,
                                       mv_col="mv", id_col="vec_id"))
                  for q in queries]
        batch = MV.maxsim_knn_batch(mv_points, queries, k=k, metric=metric,
                                    mv_col="mv", id_col="vec_id")
        ids = mv_points.select("vec_id")
        pair = MV.maxsim_pair_topk(
            mv_points, _all_pairs(ids, len(queries)), queries,
            metric=metric, k=k, mv_col="mv", id_col="vec_id")
    else:
        alias = {"sq": MV.maxsim_knn_sq, "bq": MV.maxsim_knn_bq,
                 "pq": MV.maxsim_knn_pq, "tq": MV.maxsim_knn_tq}[kind]
        single = [ranked(alias(idx, q, k=k, metric=metric, rescore=False))
                  for q in queries]
        batch = MV.maxsim_quant_coarse_batch(idx, queries, k,
                                             metric=metric)
        pair = MV.maxsim_quant_pair_topk(
            idx, _all_pairs(idx.codes.select("vec_id"), len(queries)),
            queries, k=k, metric=metric)
    for qi, want in enumerate(single):
        assert len(want) == k
        assert all(np.isfinite(s) for _, s in want)
        assert ranked(batch, qi) == want, ("batch", qi)
        assert ranked(pair, qi) == want, ("pair", qi)


def _all_pairs(ids, n_queries):
    """Every (qid, id) pair: the pair kernel then ranks the whole
    corpus per query, like the scans."""
    qids = ids.sparkSession.range(n_queries).withColumnRenamed("id", "__qid")
    return qids.crossJoin(ids)


def test_maxsim_knn_bq_honours_query_encoding(mv_points, q_mv):
    """maxsim_knn_bq scores query tokens with the index's declared
    ``query_encoding``, like the planner's maxsim_knn_quant."""
    from qdrant_spark.operators.multivec import (
        build_maxsim_bq, maxsim_knn_bq, maxsim_knn_quant,
    )

    idx = build_maxsim_bq(mv_points, mv_col="mv", id_col="vec_id",
                          query_encoding="scalar8bits")
    want = [(r["vec_id"], r["score"]) for r in maxsim_knn_quant(
        idx, q_mv, k=10, rescore=False).collect()]
    got = [(r["vec_id"], r["score"]) for r in maxsim_knn_bq(
        idx, q_mv, k=10, rescore=False).collect()]
    assert got == want


def test_cosine_zero_query_token_single_equals_batch(spark, embeddings):
    """A cosine multivector query with an all-zero token: the token
    contributes 0 (it has no direction), so query_points and a
    2-request query_batch_points return the same finite scores."""
    from qdrant_spark.client import QdrantSparkClient

    rows = embeddings.limit(60).collect()
    pts = [{"id": int(r["vec_id"]),
            "vector": {"late": [[float(x) for x in r["embedding"][i * 8:
                                                                 (i + 1) * 8]]
                                for i in range(3)]}} for r in rows]
    c = QdrantSparkClient(spark)
    c.create_collection("mvzero", vectors_config={
        "late": {"size": 8, "distance": "Cosine",
                 "multivector_config": {"comparator": "max_sim"}}})
    c.upsert("mvzero", pts)
    q = [[0.0] * 8] + pts[3]["vector"]["late"][:2]
    single = c.query_points("mvzero", query=q, using="late", limit=5,
                            with_payload=False)
    batch = c.query_batch_points("mvzero", [
        {"query": q, "using": "late", "limit": 5},
        {"query": pts[7]["vector"]["late"], "using": "late", "limit": 5},
    ])
    got = [(p.id, p.score) for p in single.points]
    assert len(got) == 5 and all(np.isfinite(s) for _, s in got)
    assert got[0][0] == pts[3]["id"]
    assert [(p.id, p.score) for p in batch[0].points] == got
