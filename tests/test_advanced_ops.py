"""Behavioral + plan tests for the q99–q104 operator family
(retrieval, sampling, regression, graph, layout, robust stats).

Oracle parity at two SFs is covered by test_oracle_parity*.py; these
tests lock the SCALE properties (broadcast stats, partial top-k, no
corpus shuffle) and the algorithmic guarantees (weight bias, exact
recovery, rank monotonicity) that a hash-match alone doesn't prove.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from conftest import SF_SMOKE

from kassette_server_spark.catalog import load
from kassette_server_spark.operators.graph import SCALE, pagerank_fixedpoint
from kassette_server_spark.operators.layout import zorder_key
from kassette_server_spark.operators.retrieval import bm25_topk
from kassette_server_spark.operators.sampling import priority_sample
from kassette_server_spark.operators.stats import grouped_ols, mad_outliers
from kassette_server_spark.queries import all_specs

SPECS = all_specs()


def _plan(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------- q99 BM25 ----------


def test_bm25_stats_broadcast_and_partial_topk(spark):
    p = _plan(spark, "q99_bm25_retrieval")
    # the one-row corpus-stats side must broadcast, never shuffle docs
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # top-k is TakeOrderedAndProject (per-partition partial top-k)
    assert "TakeOrderedAndProject" in p


def test_bm25_scores_rank_relevant_docs_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark join spark join spark"),  # dense in query terms
            (2, "spark table row"),  # one term
            (3, "cat dog fish bird"),  # no terms → filtered out
            (4, "window hash window hash window hash"),
        ],
        "doc_id int, text string",
    )
    out = bm25_topk(docs, ("spark", "join", "window", "hash"), k=10).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # zero-score docs excluded
    assert set(ids) == {1, 2, 4}
    assert ids.index(2) == len(ids) - 1  # weakest match ranks last


# ---------- q100 priority sampling ----------


def test_priority_sample_is_weight_biased_and_deterministic(spark):
    docs = load(spark, SF_SMOKE, "documents")
    s1 = priority_sample(docs, "doc_id", "n_chars", k=50)
    s2 = priority_sample(docs, "doc_id", "n_chars", k=50)
    rows1, rows2 = s1.collect(), s2.collect()
    assert [r.doc_id for r in rows1] == [r.doc_id for r in rows2]  # reproducible
    # weight bias: sampled docs skew longer than the corpus average
    avg_all = docs.agg(F.avg("n_chars")).first()[0]
    avg_sample = sum(r.n_chars for r in rows1) / len(rows1)
    assert avg_sample > avg_all
    # priorities strictly descending (ties impossible via md5)
    pr = [r.priority for r in rows1]
    assert all(a > b for a, b in zip(pr, pr[1:]))
    assert all(r.priority >= r.n_chars for r in rows1)  # u <= 1 ⇒ q >= w


def test_priority_sample_plan_is_partial_topk(spark):
    p = _plan(spark, "q100_priority_sample")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # map-side score + partial top-k: no shuffle


# ---------- q101 grouped OLS ----------


def test_grouped_ols_recovers_exact_line(spark):
    # y = 3x + 7 exactly → slope/intercept/r2 recovered bit-exactly
    rows = [(g, x, 3 * x + 7) for g in (1, 2) for x in range(1, 11)]
    df = spark.createDataFrame(rows, "g int, x int, y int")
    out = {r.grp: r for r in grouped_ols(df, "g", F.col("x"), F.col("y")).collect()}
    for g in (1, 2):
        assert out[g].slope == 3.0
        assert out[g].intercept == 7.0
        assert out[g].r2 == 1.0


def test_grouped_ols_filters_degenerate_groups(spark):
    df = spark.createDataFrame(
        [(1, 5, 1), (1, 5, 2), (2, 1, 4), (2, 2, 4)],
        "g int, x int, y int",
    )
    # group 1: constant x; group 2: constant y — both excluded
    assert grouped_ols(df, "g", F.col("x"), F.col("y")).count() == 0


def test_grouped_ols_single_aggregation_pass(spark):
    p = _plan(spark, "q101_grouped_regression")
    assert p.count("Exchange (") == 1  # one shuffle: the groupBy
    assert p.count("HashAggregate") >= 2  # map-side partials


# ---------- q102 PageRank ----------


def test_pagerank_hub_outranks_leaves_and_is_deterministic(spark):
    # star graph: hub 0 ↔ leaves 1..5 (symmetric edges)
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src int, dst int")
    r1 = {r.node: r.rank for r in pagerank_fixedpoint(df, iters=3).collect()}
    r2 = {r.node: r.rank for r in pagerank_fixedpoint(df, iters=3).collect()}
    assert r1 == r2
    assert all(r1[0] > r1[i] for i in range(1, 6))
    # leaves are symmetric → identical integer ranks
    assert len({r1[i] for i in range(1, 6)}) == 1
    # total mass bounded by n·SCALE (teleport + damped inflow, truncation leaks down)
    assert sum(r1.values()) <= 6 * SCALE


def test_pagerank_truncation_is_conservative(spark):
    # a node with no in-edges holds exactly the teleport mass
    df = spark.createDataFrame([(1, 2)], "src int, dst int")
    r = {x.node: x.rank for x in pagerank_fixedpoint(df, iters=3).collect()}
    assert r[1] == SCALE - 850_000  # teleport only


# ---------- q103 Z-order ----------


def test_zorder_key_interleaves_and_preserves_locality(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x int, y int"
    )
    rows = df.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")
    ).collect()
    for r in rows:
        # decode: even bits → x, odd bits → y
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(3))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(3))
        assert (x, y) == (r.x, r.y)
    # locality: each quadrant (top 2 key bits) is a 4x4 dimension box
    by_quad: dict[int, list] = {}
    for r in rows:
        by_quad.setdefault(r.z >> 4, []).append(r)
    for q, rs in by_quad.items():
        assert max(x.x for x in rs) - min(x.x for x in rs) <= 3
        assert max(x.y for x in rs) - min(x.y for x in rs) <= 3


# ---------- q104 MAD outliers ----------


def test_mad_outliers_flags_injected_anomaly(spark):
    vals = [(1, float(v)) for v in (10, 11, 12, 13, 14, 1000)]
    df = spark.createDataFrame(vals, "g int, v double")
    r = mad_outliers(df, "g", "v", c=3.0).first()
    assert r.n == 6
    assert r.med == 12.5
    assert r.n_outliers == 1  # only the 1000
    assert r.max_abs_dev == 987.5


def test_mad_outliers_group_stats_broadcast(spark):
    p = _plan(spark, "q104_value_outliers")
    # both join-backs of tiny per-group stats must broadcast
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


# ---------- q105 rolling time window ----------


def test_rolling_window_counts_only_trailing_hour(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "u1", base, 100.0),
        (2, "u1", base + dt.timedelta(minutes=30), 50.0),
        (3, "u1", base + dt.timedelta(minutes=61), 25.0),  # ev1 aged out
        (4, "u2", base, 10.0),
    ]
    df = spark.createDataFrame(rows, "event_id int, user_id string, ts timestamp, value double")
    from pyspark.sql import Window

    ev = df.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts")).alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("tus").rangeBetween(-3_599_999_999, Window.currentRow)
    out = {r.event_id: r for r in ev.select(
        "event_id", F.count("*").over(w).alias("n"), F.sum("cents").over(w).alias("s")
    ).collect()}
    assert (out[1].n, out[1].s) == (1, 10000)
    assert (out[2].n, out[2].s) == (2, 15000)
    assert (out[3].n, out[3].s) == (2, 7500)  # ev1 outside the hour
    assert (out[4].n, out[4].s) == (1, 1000)


# ---------- q106 co-purchase ----------


def test_copurchase_pairs_counts_and_dedups(spark):
    from kassette_server_spark.operators.affinity import copurchase_pairs

    rows = [
        (1, 10), (1, 20), (1, 20),  # dup line: counts once
        (2, 10), (2, 20),
        (3, 10), (3, 30),
    ]
    df = spark.createDataFrame(rows, "basket int, item int")
    out = {(r.item_a, r.item_b): r.support
           for r in copurchase_pairs(df, "basket", "item", min_support=1).collect()}
    assert out[(10, 20)] == 2
    assert out[(10, 30)] == 1
    assert (20, 10) not in out  # ordered pairs only


def test_copurchase_no_cartesian(spark):
    p = _plan(spark, "q106_copurchase_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------- q107 profiling ----------


def test_profile_columns_single_scan(spark):
    p = _plan(spark, "q107_table_profile")
    # one pass over the table (each scan appears twice in formatted
    # output: once in the tree, once in the detail section)
    assert p.count("Scan parquet") == 2
    assert "Expand" in p  # the multi-distinct strategy


def test_profile_columns_counts_nulls_and_ndv(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "k int, v string"
    )
    from kassette_server_spark.operators.profiling import profile_columns

    out = {r.col_name: r for r in profile_columns(df, ("k", "v")).collect()}
    assert (out["k"].n_rows, out["k"].n_nulls, out["k"].ndv) == (4, 0, 4)
    assert (out["v"].n_rows, out["v"].n_nulls, out["v"].ndv) == (4, 1, 2)


# ---------- q108 entropy ----------


def test_token_entropy_values(spark):
    import math

    from kassette_server_spark.operators.textstats import token_entropy_by

    df = spark.createDataFrame(
        [("s1", "a a b b"), ("s2", "a a a a")], "source string, text string"
    )
    out = {r.grp: r for r in token_entropy_by(df, "source").collect()}
    assert out["s1"].n_tokens == 4 and out["s1"].n_distinct == 2
    assert abs(out["s1"].entropy - math.log(2)) < 1e-6  # uniform over 2
    assert out["s2"].entropy == 0.0  # degenerate distribution


# ---------- q110 forward as-of with tolerance ----------


def test_asof_forward_matches_next_and_respects_tolerance(spark):
    from kassette_server_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, "k1", 100), (2, "k1", 250), (3, "k1", 900), (4, "k2", 100)],
        "id int, k string, t long",
    )
    right = spark.createDataFrame(
        [("k1", 100, "a"), ("k1", 300, "b"), ("k1", 1000, "c")],
        "k string, rt long, v string",
    )
    out = {r.id: r for r in asof_join_forward(
        left, right, key="k", left_time="t", right_time="rt",
        right_cols=["rt", "v"], tolerance_us=100,
    ).collect()}
    assert out[1].v == "a"  # exact-time tie matches forward
    assert out[2].v == "b"  # next at 300, within 100
    assert out[3].v == "c"  # next at 1000, within 100
    assert out[4].v is None  # no right rows for k2
    # without tolerance the 900→1000 gap still matches; with a tighter
    # tolerance it must not
    tight = {r.id: r for r in asof_join_forward(
        left, right, key="k", left_time="t", right_time="rt",
        right_cols=["rt", "v"], tolerance_us=50,
    ).collect()}
    assert tight[2].v == "b"  # 250→300 gap is exactly 50: inclusive boundary
    assert tight[3].v is None  # 900→1000 gap is 100 > 50


def test_asof_forward_single_shuffle(spark):
    p = _plan(spark, "q110_asof_forward_tolerance")
    assert "CartesianProduct" not in p
    assert p.count("Window (") == 1  # one union-merge window, no per-key subqueries


# ---------- q111 stratified sampling ----------


def test_stratified_sample_caps_per_stratum(spark):
    from kassette_server_spark.operators.sampling import stratified_priority_sample

    docs = load(spark, SF_SMOKE, "documents")
    out = stratified_priority_sample(docs, "lang", "doc_id", "n_chars", 5)
    counts = {r.stratum: r.n for r in
              out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 5 for n in counts.values())
    assert len(counts) == docs.select("lang").distinct().count()
    # consistency with the global sampler: a doc's priority is the same
    from kassette_server_spark.operators.sampling import priority_sample

    g = {r.doc_id: r.priority for r in
         priority_sample(docs, "doc_id", "n_chars", k=10000).collect()}
    for r in out.collect():
        assert g[r.doc_id] == r.priority


# ---------- q112 KL divergence ----------


def test_kl_divergence_zero_for_identical_distribution(spark):
    from kassette_server_spark.operators.textstats import token_kl_divergence_by

    # two groups with IDENTICAL token distributions → corpus equals each
    # group → KL = 0 for both
    df = spark.createDataFrame(
        [("a", "x x y z"), ("b", "x x y z")], "source string, text string"
    )
    out = {r.grp: r.kl for r in token_kl_divergence_by(df, "source").collect()}
    assert out == {"a": 0.0, "b": 0.0}


def test_kl_divergence_positive_for_skewed_group(spark):
    from kassette_server_spark.operators.textstats import token_kl_divergence_by

    df = spark.createDataFrame(
        [("a", "x x x x"), ("b", "x y z w")], "source string, text string"
    )
    out = {r.grp: r.kl for r in token_kl_divergence_by(df, "source").collect()}
    assert out["a"] > 0 and out["b"] > 0  # both diverge from the blend


# ---------- q113 winsorization ----------


def test_winsorized_stats_exact_boundaries_and_clipping(spark):
    from kassette_server_spark.operators.stats import winsorized_stats

    # 20 values 1..20 (scale=1): p05 → ceil(0.05*20)=1st value = 1,
    # p95 → ceil(0.95*20)=19th value = 19; only 20 clips high
    df = spark.createDataFrame([(1, float(v)) for v in range(1, 21)], "g int, v double")
    r = winsorized_stats(df, "g", "v", scale=1).first()
    assert (r.n, r.lo, r.hi) == (20, 1, 19)
    assert (r.n_clipped_low, r.n_clipped_high) == (0, 1)
    assert r.wsum == sum(range(1, 20)) + 19  # 20 clipped to 19


def test_winsorized_outlier_containment(spark):
    from kassette_server_spark.operators.stats import winsorized_stats

    vals = [(1, 10.0)] * 98 + [(1, 1e9), (1, -1e9)]
    df = spark.createDataFrame(vals, "g int, v double")
    r = winsorized_stats(df, "g", "v").first()
    # one extreme clipped on each side; winsorized sum is tame
    assert r.n_clipped_low == 1 and r.n_clipped_high == 1
    assert r.wsum == 100 * 1000  # all values effectively 10.00 → cents


# ---------- q114 chi-square ----------


def test_chi_square_zero_under_independence(spark):
    from kassette_server_spark.operators.stats import chi_square_by

    # perfectly independent 2x2: all expected == observed
    rows = [("a", "x")] * 4 + [("a", "y")] * 4 + [("b", "x")] * 4 + [("b", "y")] * 4
    df = spark.createDataFrame(rows, "r string, c string")
    out = {x.rcat: x.chi2_part for x in chi_square_by(df, "r", "c").collect()}
    assert out == {"a": 0.0, "b": 0.0}


def test_chi_square_detects_association(spark):
    from kassette_server_spark.operators.stats import chi_square_by

    rows = [("a", "x")] * 10 + [("b", "y")] * 10  # perfect association
    df = spark.createDataFrame(rows, "r string, c string")
    out = {x.rcat: x.chi2_part for x in chi_square_by(df, "r", "c").collect()}
    # full chi2 for a perfectly-associated 2x2 with n=20 is 20
    assert abs(sum(out.values()) - 20.0) < 1e-6


# ---------- q115 hierarchy closure ----------


def test_hierarchy_closure_depths_and_paths(spark):
    from kassette_server_spark.operators.graph import hierarchy_closure

    # chain 1→2→3 (parent pointers), plus isolated root 7
    df = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (7, None)], "id long, parent long"
    )
    out = {r.id: r for r in hierarchy_closure(df).collect()}
    assert (out[1].root, out[1].depth, out[1].path_sum) == (1, 0, 1)
    assert (out[2].root, out[2].depth, out[2].path_sum) == (1, 1, 3)
    assert (out[3].root, out[3].depth, out[3].path_sum) == (1, 2, 6)
    assert (out[7].root, out[7].depth) == (7, 0)
    assert len(out) == 4  # every node resolved exactly once


def test_hierarchy_closure_frontier_shrinks(spark):
    from kassette_server_spark.operators.graph import hierarchy_closure

    # wide tree: 1 root, 10 children, 100 grandchildren
    rows = [(1, None)] + [(i, 1) for i in range(2, 12)] + [
        (i, 2 + (i % 10)) for i in range(12, 112)
    ]
    df = spark.createDataFrame(rows, "id long, parent long")
    out = hierarchy_closure(df)
    assert out.count() == 111
    assert out.where("root = 1").count() == 111
    assert out.groupBy("depth").count().orderBy("depth").collect()[2][1] == 100


def test_hierarchy_closure_dangling_parent_contract(spark):
    """VERDICT r5 #8: a dangling parent (non-null, exists as nobody's
    id) makes the chase and the recursive-CTE oracle diverge BY
    CONTRACT — pin all three behaviors so the divergence can never
    surface silently: the chase keeps the chain with the dangling id
    as root, the oracle drops the chain, validate=True raises."""
    import duckdb
    import pytest

    from kassette_server_spark.operators.graph import (
        hierarchy_closure,
        hierarchy_oracle_sql,
    )

    # 2's parent 99 exists as nobody's id; 1 is a clean root; 3→1 clean
    rows = [(1, None), (2, 99), (3, 1)]
    df = spark.createDataFrame(rows, "id long, parent long")

    # chase: the dangling chain RESOLVES, reporting 99 as its root and
    # counting the hop onto the nonexistent node
    got = {r.id: (r.root, r.depth, r.path_sum) for r in hierarchy_closure(df).collect()}
    assert got[2] == (99, 1, 101)
    assert got[1] == (1, 0, 1) and got[3] == (1, 1, 4)

    # oracle: the SAME input DROPS node 2 entirely (the final
    # `WHERE n.parent IS NULL` join never matches the dangling anc)
    nodes_sql = (
        "SELECT * FROM (VALUES (1, NULL), (2, 99), (3, 1)) AS t(id, parent)"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.connect().execute(hierarchy_oracle_sql(nodes_sql)).fetchall()
    }
    assert 2 not in want, "oracle now keeps dangling chains — contract changed"
    assert want[1] == (1, 0, 1) and want[3] == (1, 1, 4)

    # validation mode: loud, names the count
    with pytest.raises(ValueError, match="1 dangling parent"):
        hierarchy_closure(df, validate=True)
    # a well-formed hierarchy passes validation unchanged
    clean = spark.createDataFrame([(1, None), (3, 1)], "id long, parent long")
    assert hierarchy_closure(clean, validate=True).count() == 2


# ---------- q116 peak concurrency ----------


def test_peak_concurrency_sweep(spark):
    from kassette_server_spark.operators.funnel import peak_concurrency

    # [0,10) [5,15) [20,30): peak 2; a boundary touch [30,40) does NOT
    # overlap the interval ending at 30
    rows = [("a", 0, 10), ("a", 5, 15), ("a", 20, 30), ("a", 30, 40), ("b", 0, 100)]
    df = spark.createDataFrame(rows, "g string, s long, e long")
    out = {r.grp: r for r in
           peak_concurrency(df, "g", F.col("s"), F.col("e")).collect()}
    assert (out["a"].n_intervals, out["a"].peak) == (4, 2)
    assert (out["b"].n_intervals, out["b"].peak) == (1, 1)


# ---------- q117 bigram LM ----------


def test_bigram_logprob_separates_inlier_from_gibberish(spark):
    import math

    from kassette_server_spark.operators.textstats import bigram_logprob_by_doc

    # corpus dominated by "a b" bigrams; doc 3 is an unseen-order
    # permutation → much lower probability under the corpus LM
    rows = [(1, "a b a b a b"), (2, "a b a b"), (3, "b a b a"), (4, "x")]
    out = {r.doc_id: r for r in
           bigram_logprob_by_doc(spark.createDataFrame(rows, "doc_id int, text string")).collect()}
    assert 4 not in out  # single-token doc has no bigrams
    assert out[1].n_bigrams == 5
    assert out[1].avg_logprob > out[3].avg_logprob  # inlier scores higher
    # hand-check: corpus-wide c('a b')=6, c('b a')=5, c(a ·)=6,
    # c(b ·)=5, V=3 (a,b,x); doc1 = 3x 'a b' + 2x 'b a'
    expect = (3 * math.log(7 / 9) + 2 * math.log(6 / 8)) / 5
    assert abs(out[1].avg_logprob - expect) < 1e-6


# ---------- q118 power iteration ----------


def test_power_iteration_finds_dominant_direction(spark):
    import numpy as np

    from kassette_server_spark.operators.clustering import (
        power_iteration_top_component,
    )

    # synthetic: variance concentrated along a known direction
    rng = np.random.RandomState(7)
    true_dir = np.zeros(16)
    true_dir[3] = 0.8
    true_dir[11] = 0.6
    pts = [
        (i, (float(c) * true_dir + rng.normal(0, 0.01, 16)).tolist())
        for i, c in enumerate(rng.normal(0, 1, 400))
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    out = power_iteration_top_component(df)
    v = np.zeros(16)
    for r in out.collect():
        v[r.dim - 1] = r.vj
    cos = abs(v @ true_dir) / (np.linalg.norm(v) * np.linalg.norm(true_dir))
    assert cos > 0.999  # converged onto the planted direction
    # determinism: a second run is bit-identical
    again = {(r.dim, r.vj) for r in power_iteration_top_component(df).collect()}
    assert again == {(r.dim, r.vj) for r in out.collect()}


def _power_iteration_vs_oracle(spark, rows, **kw):
    """The operator's (dim, vj) set against power_iteration_oracle_sql
    run in DuckDB over the same rows."""
    import duckdb

    from kassette_server_spark.operators.clustering import (
        power_iteration_oracle_sql,
        power_iteration_top_component,
    )

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = power_iteration_top_component(df.repartition(4), **kw)
    got = {tuple(r) for r in out.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    n_dims = max(len(v) for _, v in rows if v is not None)
    sql = power_iteration_oracle_sql("t", n_dims=n_dims, **kw)
    want = set(con.execute(sql).fetchall())
    assert got == want
    return got


def test_power_iteration_matches_oracle_on_ragged_null_input(spark):
    """One Gram pass + driver iterations ≡ the row-wise SQL iterations:
    ragged lengths, null arrays and elements, an all-null dim (null vj),
    several partitions' partials folded, HALF_UP rounding and a zero
    norm (every vj null, as non-ANSI division gives)."""
    import random

    rng = random.Random(5)
    rows = [
        (i, None if i % 17 == 0 else [
            None if rng.random() < 0.1 else rng.gauss(0, 1)
            for _ in range(rng.randint(0, 9))
        ])
        for i in range(200)
    ]
    rows.append((200, [0.5] + [None] * 11))  # dims 10..12: no non-null element
    got = _power_iteration_vs_oracle(spark, rows)
    assert {d for d, vj in got if vj is None} == {10, 11, 12}

    # w = (4, 4, 4, -4), ‖w‖ = 8: vj = ±2.5 rounds away from zero
    got = _power_iteration_vs_oracle(
        spark, [(1, [1.0, 1.0, 1.0, -1.0])], iters=1, x_scale=1, v_scale=5
    )
    assert got == {(1, 3), (2, 3), (3, 3), (4, -3)}

    got = _power_iteration_vs_oracle(spark, [(1, [0.0, 0.0]), (2, [0.0, None])])
    assert got == {(1, None), (2, None)}


def test_gram_partials_split_before_int64_overflow():
    """A partition whose |x|² bound passes 2⁶³ yields several int64
    partials instead of wrapping; their Python-int sum is the exact
    Gram matrix."""
    import pyarrow as pa

    from kassette_server_spark.operators.clustering import _gram_partials

    big = 3 * 10**9  # big² < 2⁶³ < 2·big²
    vecs = [[big, -big, None], [big, 1], None, [2]]
    batch = pa.RecordBatch.from_arrays([pa.array(vecs, pa.list_(pa.int64()))], ["q"])
    parts = [b.to_pylist()[0] for b in _gram_partials(iter([batch, batch]))]
    assert len(parts) > 2
    got = {}
    for p in parts:
        tri = [(i, j) for i in range(p["nd"]) for j in range(i, p["nd"])]
        for ij, g in zip(tri, p["g"]):
            got[ij] = got.get(ij, 0) + g
    rows = [[x or 0 for x in v] + [0] * (3 - len(v)) for v in vecs if v] * 2
    want = {
        (i, j): sum(r[i] * r[j] for r in rows) for i in range(3) for j in range(i, 3)
    }
    assert got == want and max(got.values()) > 2**63
    seen = [0, 0, 0]
    for p in parts:
        for i, c in enumerate(p["nz"]):
            seen[i] += c
    assert seen == [6, 4, 0]


def test_power_iteration_runs_two_jobs(spark):
    """q118 scans the embeddings once (the Gram pass) and the result is
    a local frame: building and consuming it runs at most 2 jobs."""
    load(spark, SF_SMOKE, "embeddings")  # schema inference is a job of its own
    sc = spark.sparkContext
    sc.setJobGroup("q118-jobs", "q118 job count")
    try:
        SPECS["q118_power_iteration_pca"].fn(spark, SF_SMOKE).write.format(
            "noop"
        ).mode("overwrite").save()
        jobs = sc.statusTracker().getJobIdsForGroup("q118-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(jobs) <= 2


# ---------- plan locks for the session-3 tail (q105-q118) ----------


def test_rolling_window_single_user_shuffle(spark):
    p = _plan(spark, "q105_rolling_time_window")
    assert p.count("Window (") == 1
    assert p.count("Exchange (") == 1  # the user partition


def test_entropy_and_kl_no_cartesian_no_python(spark):
    for name in ("q108_entropy_by_source", "q112_kl_divergence_by_source"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p
        assert "PythonUDF" not in p  # folds are JVM higher-order funcs
        assert "SortMergeJoin" not in p  # corpus tables broadcast


def test_winsorized_boundaries_broadcast(spark):
    p = _plan(spark, "q113_winsorized_stats")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_peak_concurrency_two_level_windows(spark):
    p = _plan(spark, "q116_peak_concurrency")
    # two-level prefix sum BY DESIGN: the parallel per-(grp,bucket)
    # local walk plus the tiny per-group bucket-offset window — one
    # global per-group window would serialize hot groups
    assert p.count("Window (") == 2
    assert "CartesianProduct" not in p


def test_bigram_lm_no_static_broadcast_hint(spark):
    # VERDICT r5 #2: the LM tables are corpus-sized — a static broadcast
    # hint on bi/uni is a driver OOM at open-vocab scale. The logical
    # plan must carry NO ResolvedHint on them (AQE may still convert at
    # runtime when the built side measures small); only the 1-row vocab
    # scalar keeps an explicit broadcast.
    df = SPECS["q117_bigram_logprob"].fn(spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    p = _plan(spark, "q117_bigram_logprob")
    assert "BroadcastNestedLoopJoin" in p  # the 1-row vocab join


# ---------- q119 sorted neighborhood ----------


def test_sorted_neighborhood_finds_adjacent_typos(spark):
    from kassette_server_spark.operators.linkage import sorted_neighborhood_pairs

    rows = [
        (1, "Customer#000000001"),
        (2, "Customer#000000002"),  # lev 1 from #1, adjacent in sort
        (3, "Customer#000000009"),
        (4, "Zebra#999"),  # different block prefix
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    out = {(r.a_id, r.b_id): r.dist
           for r in sorted_neighborhood_pairs(df, "id", "name").collect()}
    assert out[(1, 2)] == 1
    assert out[(2, 3)] == 1
    assert out[(1, 3)] == 1
    assert not any(4 in p for p in out)  # cross-block never compared


def test_sorted_neighborhood_candidate_count_is_linear(spark):
    from kassette_server_spark.operators.linkage import sorted_neighborhood_pairs

    # n rows, window w → at most n·w candidate pairs regardless of
    # distance threshold (the scale contract)
    rows = [(i, f"K{i:06d}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, name string")
    got = sorted_neighborhood_pairs(df, "id", "name", window=3, max_dist=99).count()
    assert got <= 200 * 3


# ---------- q120/q121 collocations + association rules ----------


def test_pmi_spec_ranks_exclusive_pair_first(spark):
    # the corpus text is drawn from a small vocab, so q120's top
    # collocation must be a pair whose PMI beats independent pairing;
    # sanity-check shape and ordering invariants on the real spec
    out = SPECS["q120_collocations_pmi"].fn(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 50
    pmis = [r.pmi for r in out]
    assert pmis == sorted(pmis, reverse=True)  # ranked by PMI desc
    assert all(r.n >= 5 for r in out)  # support floor applied


def test_association_rules_hand_check(spark):
    from kassette_server_spark.operators.affinity import copurchase_pairs

    # 4 baskets: {1,2} x3, {1,3} x1 → rule 1→2 conf 0.75, 2→1 conf 1.0
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2), (13, 1), (13, 3)]
    df = spark.createDataFrame(rows, "basket int, item int")
    items = df.distinct()
    pairs = copurchase_pairs(df, "basket", "item", 1)
    sup = {(r.item_a, r.item_b): r.support for r in pairs.collect()}
    assert sup[(1, 2)] == 3 and sup[(1, 3)] == 1
    # confidence/lift math on exact counts (the q121 expression)
    c1, c2, n = 4, 3, 4
    assert sup[(1, 2)] / c1 == 0.75
    assert sup[(1, 2)] / c2 == 1.0
    assert (sup[(1, 2)] * n) / (c1 * c2) == 1.0


# ---------- q122/q123 snapshot diff + timed funnel ----------


def test_snapshot_diff_classifies_changes(spark):
    from kassette_server_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40)], "k int, s string, v int"
    )
    out = {r.k: r.change for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}  # 1 unchanged: absent


def test_snapshot_diff_null_sensitivity(spark):
    from kassette_server_spark.operators.merge import snapshot_diff

    # NULL vs '' must be a real change (sentinel-guarded digest)
    old = spark.createDataFrame([(1, None)], "k int, s string")
    new = spark.createDataFrame([(1, "")], "k int, s string")
    out = snapshot_diff(old, new, ["k"]).collect()
    assert len(out) == 1 and out[0].change == "changed"


def test_timed_funnel_window_gates_progression(spark):
    import datetime as dt

    from kassette_server_spark.operators.funnel import timed_funnel

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # u1: view→click (1h)→purchase (1h): reaches stage 3
        (1, "u1", t0, "view"), (2, "u1", t0 + h, "click"), (3, "u1", t0 + 2 * h, "purchase"),
        # u2: click comes 80h after view → outside 48h window, stage 1
        (4, "u2", t0, "view"), (5, "u2", t0 + 80 * h, "click"),
        # u3: purchase BEFORE click → not a strict progression past 2
        (6, "u3", t0, "view"), (7, "u3", t0 + 2 * h, "purchase"), (8, "u3", t0 + 3 * h, "click"),
        # u4: never views → absent from output
        (9, "u4", t0, "click"),
    ]
    df = spark.createDataFrame(rows, "event_id int, user_id string, ts timestamp, event_type string")
    out = {r.user_id: r.stage for r in timed_funnel(
        df, ("view", "click", "purchase"), 48 * 3600 * 1_000_000
    ).collect()}
    assert out == {"u1": 3, "u2": 1, "u3": 2}


def test_timed_funnel_no_static_broadcast_by_default(spark):
    # VERDICT r5 #1: the per-user step-times frame is data-dependent
    # cardinality — a forced broadcast OOMs at web scale. Default plan
    # must carry no ResolvedHint; broadcast_step_times=True re-adds it
    # for known-bounded populations.
    from kassette_server_spark.catalog import load as _load
    from kassette_server_spark.operators.funnel import timed_funnel

    ev = _load(spark, SF_SMOKE, "events")
    steps = ("view", "click", "purchase")
    plain = timed_funnel(ev, steps, 1_000_000)
    assert "ResolvedHint" not in plain._jdf.queryExecution().optimizedPlan().toString()
    hinted = timed_funnel(ev, steps, 1_000_000, broadcast_step_times=True)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()


# ---------- q124/q125 RFM + Gini ----------


def test_rfm_scores_bounds_and_monotonicity(spark):
    from kassette_server_spark.operators.stats import rfm_scores

    out = rfm_scores(load(spark, SF_SMOKE, "orders")).collect()
    assert all(1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
               for r in out)
    assert all(r.segment == r.r_score * 100 + r.f_score * 10 + r.m_score
               for r in out)
    # monotonicity: a 5 m_score customer spends at least as much as a 1
    hi = min(r.monetary_cents for r in out if r.m_score == 5)
    lo = max(r.monetary_cents for r in out if r.m_score == 1)
    assert hi >= lo
    # recency inverts: the most recent buyers get the HIGH score
    recent = max(r.recency_days for r in out if r.r_score == 5)
    stale = min(r.recency_days for r in out if r.r_score == 1)
    assert recent <= stale


def test_gini_extremes(spark):
    from kassette_server_spark.operators.stats import gini_by_group

    # perfectly equal group → gini 0; fully concentrated group → (n-1)/n
    rows = [(1, i, 10.0) for i in range(5)] + [
        (2, 0, 50.0), (2, 1, 0.0), (2, 2, 0.0), (2, 3, 0.0), (2, 4, 0.0)
    ]
    df = spark.createDataFrame(rows, "g int, ent int, v double")
    out = {r.grp: r.gini for r in gini_by_group(df, "g", "ent", "v").collect()}
    assert out[1] == 0.0
    assert out[2] == (5 - 1) / 5  # 0.8


# ---------- q126-q128 TPC-H extras + EWMA ----------


def test_tpch_q7_q10_broadcast_dims(spark):
    for name in ("q126_tpch_q7_volume_shipping", "q127_tpch_q10_returned_items"):
        p = _plan(spark, name)
        assert "BroadcastHashJoin" in p  # nation dims broadcast
        assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in _plan(spark, "q127_tpch_q10_returned_items")


def test_ewma_recurrence_values(spark):
    from kassette_server_spark.operators.textstats import ewma_by_group

    rows = [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 30.0)]
    df = spark.createDataFrame(rows, "g int, o int, x double")
    r = ewma_by_group(df, "g", "o", F.col("x"), alpha=0.5).first()
    # EWMA: 10 → 0.5*20+0.5*10=15 → 0.5*30+0.5*15=22.5
    assert (r.n_points, r.last_value, r.ewma) == (3, 30.0, 22.5)


def test_ewma_order_matters_and_is_deterministic(spark):
    from kassette_server_spark.operators.textstats import ewma_by_group

    rows = [(1, o, float(v)) for o, v in ((3, 10), (1, 30), (2, 20))]
    df = spark.createDataFrame(rows, "g int, o int, x double")
    r = ewma_by_group(df, "g", "o", F.col("x"), alpha=0.5).first()
    # folds in o-order 30,20,10 → 30 → 25 → 17.5 (NOT input order)
    assert r.ewma == 17.5


# ---------- q129/q130 cohort LTV + contribution ----------


def test_cohort_ltv_is_cumulative_and_monotone(spark):
    rows = SPECS["q129_cohort_ltv"].fn(spark, SF_SMOKE).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort, []).append((r.offset_m, r.cum_cents))
    for series in by_cohort.values():
        series.sort()
        cums = [c for _, c in series]
        assert cums == sorted(cums)  # cumulative → monotone nondecreasing
        assert cums[0] > 0


def test_revenue_contribution_sums_to_one(spark):
    rows = SPECS["q130_revenue_contribution"].fn(spark, SF_SMOKE).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    assert all(0 < r.share < 1 for r in rows)


# ---------- q131/q132 trigram paths + transition latency ----------


def test_trigram_counts_and_latency_hand_check(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, "u1", t0, "a"), (2, "u1", t0 + m, "b"), (3, "u1", t0 + 3 * m, "c"),
        (4, "u2", t0, "a"), (5, "u2", t0 + 2 * m, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id int, user_id string, ts timestamp, event_type string"
    )
    df.createOrReplaceTempView("_ev_tmp")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        df.select(
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("s3"),
        )
        .where(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        .collect()
    )
    assert [(r.s1, r.s2, r.s3) for r in tri] == [("a", "b", "c")]  # only u1 has 3
    ev = df.select("user_id", "event_type", "event_id", "ts",
                   F.unix_micros("ts").alias("tus"))
    hops = ev.select(
        F.lag("event_type").over(w).alias("p"),
        F.col("event_type").alias("c"),
        (F.col("tus") - F.lag("tus").over(w)).alias("g"),
    ).where(F.col("p").isNotNull())
    gaps = {(r.p, r.c): r.g for r in hops.collect() if r.p == "b"}
    assert gaps[("b", "c")] == 2 * 60 * 1_000_000  # u1: b→c took 2 min


# ---------- q133-q135 Holt / volatility / MoM ----------


def test_holt_trend_hand_check(spark):
    rows = SPECS["q133_holt_trend"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 5 and all(r.n_points > 0 for r in rows)
    # model check vs the recurrence in plain python on one group
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/events.parquet')"
    )
    series = [x[0] for x in con.execute(
        """SELECT CAST(COUNT(*) AS DOUBLE) FROM events WHERE event_type='click'
           GROUP BY date_trunc('day', CAST(ts AS TIMESTAMP)) ORDER BY 
           date_trunc('day', CAST(ts AS TIMESTAMP))"""
    ).fetchall()]
    a, b = 0.5, 0.3
    l, t = series[0], 0.0
    for x in series[1:]:
        l, t = (a * x + (1 - a) * (l + t),
                (a * b) * x + (b * (1 - a)) * (l + t) - b * l + (1 - b) * t)
    got = next(r for r in rows if r.grp == "click")
    assert got.level == round(l, 6) and got.trend == round(t, 6)


def test_rolling_volatility_constant_series_has_zero_var(spark):
    from kassette_server_spark.queries.advanced import q134  # noqa: F401

    rows = SPECS["q134_rolling_volatility"].fn(spark, SF_SMOKE).collect()
    assert all(r.var7 >= 0 for r in rows)
    assert all(1 <= r.n7 <= 7 for r in rows)


def test_mom_growth_definition(spark):
    rows = SPECS["q135_mom_growth"].fn(spark, SF_SMOKE).collect()
    assert all(r.growth > -1.0 for r in rows)  # revenue can't go below -100%
    assert len(rows) > 0


# ---------- q136-q138 seasonality / correlation / integrity ----------


def test_dow_shares_sum_to_one_per_type(spark):
    rows = SPECS["q136_dow_seasonality"].fn(spark, SF_SMOKE).collect()
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r.grp, 0.0)
        by_grp[r.grp] += r.share
        assert 0 <= r.dow <= 6
    assert all(abs(s - 1.0) < 1e-9 for s in by_grp.values())


def test_cross_correlation_bounds_and_self_pairs_absent(spark):
    rows = SPECS["q137_cross_correlation"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 10  # C(5,2) type pairs
    assert all(-1.0 - 1e-9 <= r.corr <= 1.0 + 1e-9 for r in rows)
    assert all(r.ta < r.tb for r in rows)


def test_integrity_audit_clean_testdata(spark):
    out = {r.check_name: r.n for r in
           SPECS["q138_integrity_audit"].fn(spark, SF_SMOKE).collect()}
    assert set(out) == {
        "orders_without_customer", "lineitems_without_order",
        "orders_without_lineitems", "duplicate_order_keys",
    }
    # the generated TPC-H-ish data is referentially clean
    assert out["orders_without_customer"] == 0
    assert out["lineitems_without_order"] == 0
    assert out["duplicate_order_keys"] == 0


def test_integrity_audit_detects_planted_violations(spark):
    from kassette_server_spark.queries.advanced import q138  # reuse shape

    o = spark.createDataFrame([(1, 10), (2, 99), (2, 98)], "o_orderkey long, o_custkey long")
    c = spark.createDataFrame([(10,)], "c_custkey long")
    li = spark.createDataFrame([(1, 1), (7, 1)], "l_orderkey long, l_linenumber long")
    # inline the same check construction
    orphans_o = o.join(c, F.col("o_custkey") == F.col("c_custkey"), "left_anti").count()
    orphans_l = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti").count()
    dup = (o.groupBy("o_orderkey").agg(F.count("*").alias("c")).where("c > 1")
           .agg(F.sum(F.col("c") - 1).alias("d")).first().d)
    assert orphans_o == 2  # both custkey-99/98 orders
    assert orphans_l == 1  # lineitem 7
    assert dup == 1  # duplicated orderkey 2
