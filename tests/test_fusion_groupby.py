"""RRF / DBSF fusion and grouped search vs hand-computed oracles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from qdrant_spark.operators.fusion import dbsf, rrf
from qdrant_spark.operators.groupby import group_by, with_lookup


@pytest.fixture(scope="module")
def sources(spark):
    a = spark.createDataFrame(
        [("1", 0.9), ("2", 0.8), ("3", 0.7), ("4", 0.6)], ["id", "score"]
    )
    b = spark.createDataFrame(
        [("3", 5.0), ("1", 4.0), ("5", 3.0)], ["id", "score"]
    )
    return a, b


def rrf_oracle(ranked_lists, k=2, weights=None):
    weights = weights or [1.0] * len(ranked_lists)
    out = {}
    for lst, w in zip(ranked_lists, weights):
        for pos, pid in enumerate(lst):
            if w <= 0:
                continue
            out[pid] = out.get(pid, 0.0) + 1.0 / ((pos + 1) / w + k - 1)
    return out


def test_rrf_matches_reference_formula(sources):
    a, b = sources
    got = {r["id"]: r["score"] for r in rrf([a, b]).collect()}
    exp = rrf_oracle([["1", "2", "3", "4"], ["3", "1", "5"]])
    assert got.keys() == exp.keys()
    for k_ in got:
        assert got[k_] == pytest.approx(exp[k_], rel=1e-12)


def test_rrf_weights_and_limit(sources):
    a, b = sources
    rows = rrf([a, b], weights=[2.0, 0.0], limit=2).collect()
    exp = rrf_oracle([["1", "2", "3", "4"], ["3", "1", "5"]], weights=[2.0, 0.0])
    top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r["id"], pytest.approx(r["score"], rel=1e-12)) for r in rows] == top


def dbsf_oracle(lists, weights=None):
    weights = weights or [1.0] * len(lists)
    out = {}
    for scores, w in zip(lists, weights):
        vals = [s for _, s in scores]
        n = len(vals)
        mean = sum(vals) / n
        sd = math.sqrt(sum((v - mean) ** 2 for v in vals) / (n - 1)) if n > 1 else 0.0
        lo, hi = mean - 3 * sd, mean + 3 * sd
        for pid, s in scores:
            normed = 0.5 if (n == 1 or sd == 0) else (s - lo) / (hi - lo)
            out[pid] = out.get(pid, 0.0) + normed * w
    return out


def test_dbsf_matches_reference_formula(sources):
    a, b = sources
    got = {r["id"]: r["score"] for r in dbsf([a, b]).collect()}
    exp = dbsf_oracle(
        [[("1", 0.9), ("2", 0.8), ("3", 0.7), ("4", 0.6)], [("3", 5.0), ("1", 4.0), ("5", 3.0)]]
    )
    for k_ in exp:
        assert got[k_] == pytest.approx(exp[k_], rel=1e-12)


def test_group_by_caps_and_ranks(spark):
    scored = spark.createDataFrame(
        [
            ("1", 0.9, "a"),
            ("2", 0.8, "a"),
            ("3", 0.7, "a"),
            ("4", 0.85, "b"),
            ("5", 0.2, "b"),
            ("6", 0.5, "c"),
        ],
        ["id", "score", "g"],
    )
    out = group_by(scored, "g", groups=2, group_size=2).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["group_value"], []).append(r["id"])
    # group 'a' best=0.9, 'b' best=0.85, 'c' excluded (rank 3)
    assert set(by_group) == {"a", "b"}
    assert by_group["a"] == ["1", "2"]  # group_size caps at 2, best first
    assert by_group["b"] == ["4", "5"]


def test_group_by_array_key_multi_membership(spark):
    scored = spark.createDataFrame(
        [("1", 0.9, ["a", "b"]), ("2", 0.8, ["a"])],
        ["id", "score", "g"],
    )
    out = group_by(scored, "g", groups=10, group_size=10).collect()
    pairs = sorted((r["group_value"], r["id"]) for r in out)
    assert pairs == [("a", "1"), ("a", "2"), ("b", "1")]


def test_with_lookup_joins_records(spark):
    groups_df = spark.createDataFrame(
        [("1", 0.9, "d1", 1, 1)],
        ["id", "score", "group_value", "rank_in_group", "group_rank"],
    )
    lookup = spark.createDataFrame([("d1", "Title One"), ("d2", "x")], ["id", "title"])
    out = with_lookup(groups_df, lookup).collect()
    assert out[0]["lookup_title"] == "Title One"


def test_dbsf_direction_handling(spark):
    # euclid-style source (smaller better): best point must fuse best
    a = spark.createDataFrame([("1", 0.9), ("2", 0.5)], ["id", "score"])
    b = spark.createDataFrame([("1", 0.1), ("2", 2.0)], ["id", "score"])  # smaller=better
    rows = dbsf([a, b], orders=[True, False]).collect()
    assert rows[0]["id"] == "1"
    exp = dbsf_oracle([[("1", 0.9), ("2", 0.5)], [("1", -0.1), ("2", -2.0)]])
    got = {r["id"]: r["score"] for r in rows}
    for k_ in exp:
        assert got[k_] == pytest.approx(exp[k_], rel=1e-12)


def test_client_groups_come_back_best_group_first(spark):
    """query_points_groups (and search_groups / recommend_groups, which
    delegate to it) returns groups ordered by their best hit and hits
    ordered best-first inside each group. Groups are named so that the
    best-first order is the reverse of their name order."""
    from qdrant_spark.client import QdrantSparkClient

    names = ["a", "b", "c", "d", "e"]
    offsets = [0.04, 0.0, 0.02, 0.06]  # in-group best is NOT the lowest id
    pts = []
    for j, g in enumerate(names):
        base = 0.9 - 0.2 * j  # group "e" is nearest the query direction
        for m, off in enumerate(offsets):
            phi = base + off
            pts.append({"id": 10 * (j + 1) + m,
                        "vector": [math.cos(phi), math.sin(phi)],
                        "payload": {"g": g}})
    c = QdrantSparkClient(spark)
    c.create_collection("grp_order", vectors_config={
        "size": 2, "distance": "Cosine"})
    c.upsert("grp_order", pts)

    q = [1.0, 0.0]
    by_group: dict = {}
    for p in pts:
        s = p["vector"][0]  # cosine to the unit query (1, 0)
        by_group.setdefault(p["payload"]["g"], []).append((p["id"], s))
    ranked = sorted(by_group.items(),
                    key=lambda kv: (-max(s for _, s in kv[1]), kv[0]))
    want = [(g, [i for i, _ in sorted(hits, key=lambda h: (-h[1], h[0]))[:3]])
            for g, hits in ranked[:4]]
    assert [g for g, _ in want] == ["e", "d", "c", "b"]

    def got(res):
        return [(g.id, [p.id for p in g.hits]) for g in res.groups]

    assert got(c.query_points_groups("grp_order", group_by="g", query=q,
                                     limit=4, group_size=3,
                                     with_payload=False)) == want
    assert got(c.search_groups("grp_order", q, group_by="g", limit=4,
                               group_size=3)) == want
    assert got(c.recommend_groups("grp_order", group_by="g",
                                  positive=[q], limit=4,
                                  group_size=3)) == want
