"""Unit + plan tests for the round-5 extension operators (q91–q96):
blocked fuzzy join, substring-span dedup, HLL set algebra, k-means,
event transitions. Oracle parity for the specs themselves lives in
test_oracle_parity*.py; these tests pin behavioral edges the oracle
can't see (empty inputs, empty clusters, plan shape).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from kassette_server_spark.operators.clustering import kmeans_fit
from kassette_server_spark.operators.dedup import duplicated_span_stats
from kassette_server_spark.operators.funnel import event_transitions
from kassette_server_spark.operators.linkage import (
    fuzzy_self_join_pairs,
    segment_blocking_keys,
)
from kassette_server_spark.operators.sketches import hll_set_algebra
from kassette_server_spark.queries import all_specs

from conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------- fuzzy join ----------


def test_fuzzy_join_finds_substitution_pairs_and_skips_far(spark):
    rows = [
        (1, "ID-00010"),
        (2, "ID-00011"),  # 1 sub from row 1
        (3, "ID-00090"),  # 1 sub from row 1 (different position)
        (4, "ID-99999"),  # far from everything
        (5, "ID-00011"),  # exact dup of row 2
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    keys = segment_blocking_keys("name", start=4, length=5, max_dist=1)
    got = {
        (r.a_id, r.b_id, r.dist)
        for r in fuzzy_self_join_pairs(df, "id", "name", keys, max_dist=1).collect()
    }
    # lev("ID-00011","ID-00090") = 2 and row 4 is far from all -> excluded
    assert got == {(1, 2, 1), (1, 3, 1), (2, 5, 0), (1, 5, 1)}


def test_fuzzy_join_dedups_candidates_across_blocks(spark):
    # identical strings collide in BOTH segments; the pair must still
    # appear exactly once.
    df = spark.createDataFrame([(1, "AAAA"), (2, "AAAA")], ["id", "name"])
    keys = segment_blocking_keys("name", start=1, length=4, max_dist=1)
    out = fuzzy_self_join_pairs(df, "id", "name", keys, max_dist=1).collect()
    assert [(r.a_id, r.b_id, r.dist) for r in out] == [(1, 2, 0)]


def test_fuzzy_join_plan_has_no_cartesian(spark):
    p = _plan(all_specs()["q91_fuzzy_match"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------- substring-span dedup ----------


def test_duplicated_span_stats_flags_shared_and_repeated_spans(spark):
    span = "a b c d e f g h"  # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            (1, span),                      # shared with doc 2
            (2, span + " tail1 tail2"),     # 3 grams, first == doc 1's
            (3, "u1 u2 u3 u4 u5 u6 u7 u8"),  # unique gram
            (4, "too short"),               # < 8 tokens: no grams
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_span_stats(docs, k=8).collect()}
    assert set(out) == {1, 2, 3}  # doc 4 emits nothing
    assert out[1].n_grams == 1 and out[1].dup_grams == 1
    assert out[2].n_grams == 3 and out[2].dup_grams == 1
    assert out[3].dup_grams == 0 and out[3].dup_ratio == 0.0
    assert abs(out[2].dup_ratio - 1 / 3) < 1e-15


def test_duplicated_span_counts_within_doc_repetition(spark):
    # the same 8-gram twice in ONE doc is duplication too (Lee et al.)
    text = "a b c d e f g h x a b c d e f g h"
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = duplicated_span_stats(docs, k=8).collect()[0]
    assert row.dup_grams >= 2  # both occurrences of the repeated gram


# ---------- HLL set algebra ----------


def test_hll_algebra_identical_and_disjoint_sets(spark):
    a = spark.range(0, 2000).select(F.col("id").alias("v"))
    row = hll_set_algebra(a, a, "v").collect()[0]
    assert row.approx_a == row.approx_b == row.approx_union
    assert row.approx_intersect == row.approx_a

    b = spark.range(100000, 102000).select(F.col("id").alias("v"))
    row = hll_set_algebra(a, b, "v").collect()[0]
    # near-disjoint: union ~ a+b, intersection small and clamped >= 0
    assert row.approx_intersect >= 0
    assert row.approx_union > max(row.approx_a, row.approx_b)


# ---------- k-means ----------


def test_kmeans_converges_on_separated_clusters(spark):
    pts = [(i, 0.0 + i % 3, 0.0) for i in range(30)] + [
        (100 + i, 1000.0 + i % 3, 900.0) for i in range(30)
    ]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    out = {r.cid: r for r in kmeans_fit(df, ["x", "y"], k=2, iters=3).collect()}
    # init = two smallest ids, both in the low cluster; one centroid
    # must still migrate to the far cluster within 3 iterations
    assert len(out) == 2
    ns = sorted(r.n for r in out.values())
    assert ns == [30, 30]
    cxs = sorted(r.c_x for r in out.values())
    assert cxs[0] < 10 and cxs[1] > 900


def test_kmeans_drops_empty_clusters(spark):
    # 3 identical points, k=3: after the first update all centroids
    # coincide; ties break to cid 0, other clusters empty out.
    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)], ["id", "x"])
    out = kmeans_fit(df, ["x"], k=3, iters=2).collect()
    assert len(out) == 1 and out[0].cid == 0 and out[0].n == 3


def test_kmeans_assignment_is_map_side_only(spark):
    # a single Lloyd pass (iters=1 final aggregate) must contain
    # exactly one Exchange: the centroid-update groupBy. No join.
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("x")
    )
    final = kmeans_fit(df, ["x"], k=2, iters=1)
    p = _plan(final)
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("Exchange") <= 2  # one shuffle + AQE read, never a join shuffle


# ---------- event transitions ----------


def test_event_transitions_orders_ties_by_event_id(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 7, "a", 0.0, ""),
        (2, "2024-01-01 00:00:00", 7, "b", 0.0, ""),  # same ts: id order
        (3, "2024-01-01 00:00:01", 7, "c", 0.0, ""),
        (4, "2024-01-01 00:00:00", 8, "a", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r.prev_type, r.cur_type): r.transitions
        for r in event_transitions(df).collect()
    }
    assert got == {
        ("_start", "a"): 2,
        ("a", "b"): 1,
        ("b", "c"): 1,
    }


# ---------- randomized cross-checks ----------


def test_fuzzy_join_matches_bruteforce_random(spark):
    import itertools
    import random

    rng = random.Random(20260814)
    alphabet = "abc"
    names = [
        (i, "".join(rng.choice(alphabet) for _ in range(6))) for i in range(120)
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    keys = segment_blocking_keys("name", start=1, length=6, max_dist=1)
    got = {
        (r.a_id, r.b_id)
        for r in fuzzy_self_join_pairs(df, "id", "name", keys, max_dist=1).collect()
    }

    def lev(a, b):  # classic DP, small strings only
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    # ground truth restricted to the blocking guarantee: equal-length
    # strings (always true here) within 1 substitution — plus anything
    # else the blocked join found must still verify at lev <= 1.
    want = {
        (a, b)
        for (a, na), (b, nb) in itertools.combinations(names, 2)
        if sum(x != y for x, y in zip(na, nb)) <= 1
    }
    assert want <= got
    by_id = dict(names)
    for a, b in got:
        assert lev(by_id[a], by_id[b]) <= 1


def test_kmeans_matches_numpy_reference_random(spark):
    import random

    rng = random.Random(42)
    pts = [(i, float(rng.randrange(0, 1000)), float(rng.randrange(0, 1000)))
           for i in range(300)]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    k, iters = 5, 3
    got = {r.cid: (r.n, r.c_x, r.c_y) for r in
           kmeans_fit(df, ["x", "y"], k=k, iters=iters).collect()}

    # driver-side reference with identical semantics (init = k smallest
    # ids, ties -> smaller cid, exact integer sums)
    centroids = {j: (pts[j][1], pts[j][2]) for j in range(k)}
    assign = {}
    for _ in range(iters):
        assign = {}
        for pid, x, y in pts:
            best = min(
                centroids.items(),
                key=lambda kv: ((x - kv[1][0]) ** 2 + (y - kv[1][1]) ** 2, kv[0]),
            )[0]
            assign.setdefault(best, []).append((x, y))
        centroids = {
            c: (sum(p[0] for p in ps) / len(ps), sum(p[1] for p in ps) / len(ps))
            for c, ps in assign.items()
        }
    want = {
        c: (len(ps), sum(p[0] for p in ps) / len(ps), sum(p[1] for p in ps) / len(ps))
        for c, ps in assign.items()
    }
    assert got == want
