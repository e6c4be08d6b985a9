"""Unit semantics for the round-8 second-wave operators (oracle parity
locks engine agreement; these lock the MATH on hand-built cases where
the right answer is known a priori)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kassette_server_spark.operators.affinity import item_item_cosine
from kassette_server_spark.operators.drift import (
    hellinger_drift_by,
    seasonal_naive_backtest,
)
from kassette_server_spark.operators.evaluation import (
    mrr_at_k,
    rank_calibration_bins,
    spearman_by,
    welch_t_by,
)
from kassette_server_spark.operators.governance import (
    compaction_plan,
    k_anonymity_report,
    quantile_normalize_summary,
)


# -- spearman_by --------------------------------------------------------------
def test_spearman_perfect_monotone(spark):
    df = spark.createDataFrame(
        [("g", 1, 10), ("g", 2, 20), ("g", 3, 30), ("g", 4, 40)],
        "g string, x long, y long",
    )
    r = spearman_by(df, "g", "x", "y").collect()[0]
    assert r.n == 4
    assert r.rho == _rho([(1, 10), (2, 20), (3, 30), (4, 40)])
    assert r.rho == pytest.approx(1.0, rel=1e-12)


def _rho(pairs):
    """The operator's exact float expression over twice-midranks, for
    bit-identical expectations (sqrt(d1)*sqrt(d2) is one ulp off the
    algebraic answer on some inputs — deterministically, in both
    engines; these tests lock THAT value)."""
    n = len(pairs)

    def two_ranks(vals):
        return [
            2 * sum(1 for w in vals if w < v) + sum(1 for w in vals if w == v) + 1
            for v in vals
        ]

    xs = two_ranks([p[0] for p in pairs])
    ys = two_ranks([p[1] for p in pairs])
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    syy = sum(v * v for v in ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    num = float(n * sxy - sx * sy)
    den = math.sqrt(float(n * sxx - sx * sx)) * math.sqrt(float(n * syy - sy * sy))
    return num / den


def test_spearman_perfect_inverse(spark):
    df = spark.createDataFrame(
        [("g", 1, 40), ("g", 2, 30), ("g", 3, 20), ("g", 4, 10)],
        "g string, x long, y long",
    )
    got = spearman_by(df, "g", "x", "y").collect()[0].rho
    assert got == _rho([(1, 40), (2, 30), (3, 20), (4, 10)])
    assert got == pytest.approx(-1.0, rel=1e-12)


def test_spearman_concordant_ties(spark):
    """Ties aligned on both axes are still a perfect rank agreement:
    x=[1,1,2] vs y=[5,5,9] → identical midrank vectors → rho ≈ 1."""
    df = spark.createDataFrame(
        [("g", 1, 5), ("g", 1, 5), ("g", 2, 9)], "g string, x long, y long"
    )
    got = spearman_by(df, "g", "x", "y").collect()[0].rho
    assert got == _rho([(1, 5), (1, 5), (2, 9)])
    assert got == pytest.approx(1.0, rel=1e-12)


def test_spearman_zero_variance_null(spark):
    df = spark.createDataFrame(
        [("g", 7, 1), ("g", 7, 2)], "g string, x long, y long"
    )
    assert spearman_by(df, "g", "x", "y").collect()[0].rho is None


def test_spearman_hand_case(spark):
    """x=[1,2,3], y=[2,1,3]: rank disagreement only on the first two →
    rho = 1 - 6*Σd²/(n(n²-1)) = 1 - 12/24 = 0.5 (no ties, so the
    classic formula applies)."""
    df = spark.createDataFrame(
        [("g", 1, 2), ("g", 2, 1), ("g", 3, 3)], "g string, x long, y long"
    )
    got = spearman_by(df, "g", "x", "y").collect()[0].rho
    assert got == _rho([(1, 2), (2, 1), (3, 3)])
    assert got == pytest.approx(0.5, rel=1e-12)


# -- welch_t_by ---------------------------------------------------------------
def test_welch_hand_case(spark):
    """class1=[1,2,3] (mean 2, var 1), class0=[2,4,6] (mean 4, var 4):
    se2 = 1/3 + 4/3, t = -2/sqrt(5/3), dof = (5/3)²/((1/9)/2+(16/9)/2)
    = 50/17 — recomputed below with the operator's own association
    order so the float comparison is exact."""
    rows = [("g", 1, v) for v in (1, 2, 3)] + [("g", 0, v) for v in (2, 4, 6)]
    df = spark.createDataFrame(rows, "g string, c int, v long")
    r = welch_t_by(df, "g", "c", "v").collect()[0]
    assert (r.n1, r.n0) == (3, 3)
    assert r.mean1 == 2.0 and r.mean0 == 4.0
    q1, s1, n1 = 14.0, 6.0, 3.0
    q0, s0, n0 = 56.0, 12.0, 3.0
    v1 = (q1 - s1 * s1 / n1) / (n1 - 1.0)
    v0 = (q0 - s0 * s0 / n0) / (n0 - 1.0)
    se1, se0 = v1 / n1, v0 / n0
    se2 = se1 + se0
    assert r.t_stat == (2.0 - 4.0) / math.sqrt(se2)
    assert r.welch_dof == se2 * se2 / (
        se1 * se1 / (n1 - 1.0) + se0 * se0 / (n0 - 1.0)
    )


def test_integer_contract_guard_rejects_double(spark):
    """The integer-accumulator operators must REFUSE a fractional value
    column at plan build (ADVICE r8 item 2): Spark's cast('long')
    truncates toward zero while DuckDB CAST rounds half-to-even, so a
    double input would silently diverge engine-vs-oracle. Integral
    (and boolean) columns pass; double raises TypeError naming the op."""
    from kassette_server_spark.operators.stats import anova_f
    from kassette_server_spark.operators.governance import (
        quantile_normalize_summary,
    )
    from kassette_server_spark.operators.drift import seasonal_naive_backtest
    import datetime as dt

    dbl = spark.createDataFrame(
        [("g", 1, 1.5, "a", dt.date(2024, 1, 1))],
        "g string, c int, v double, id string, d date",
    )
    with pytest.raises(TypeError, match="welch_t_by.*integral"):
        welch_t_by(dbl, "g", "c", "v")
    with pytest.raises(TypeError, match="anova_f"):
        anova_f(dbl, "g", ("g",), "v")
    with pytest.raises(TypeError, match="quantile_normalize_summary"):
        quantile_normalize_summary(dbl, "g", "v", "id")
    with pytest.raises(TypeError, match="seasonal_naive_backtest"):
        seasonal_naive_backtest(dbl, "g", "d", "v")
    # int passes the guard (plan builds)
    ints = spark.createDataFrame(
        [("g", 1, 2), ("g", 0, 3)], "g string, c int, v int"
    )
    assert welch_t_by(ints, "g", "c", "v").count() == 1


def test_welch_small_class_null(spark):
    df = spark.createDataFrame(
        [("g", 1, 5), ("g", 0, 1), ("g", 0, 2)], "g string, c int, v long"
    )
    r = welch_t_by(df, "g", "c", "v").collect()[0]
    assert r.t_stat is None and r.welch_dof is None
    assert r.mean1 == 5.0  # means still reported for n >= 1


# -- rank_calibration_bins ----------------------------------------------------
def test_rank_calibration_hand_case(spark):
    """Scores 1..4, labels 0,0,1,1, B=2. Twice-midranks 2,4,6,8; N=4.
    Low bin {1,2}: conf = (2+4)/(2·4·2) = 0.375, acc 0, gap 0.375.
    High bin {3,4}: conf = (6+8)/16 = 0.875, acc 1, gap 0.125."""
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "s long, y int"
    )
    out = {r.bin: r for r in rank_calibration_bins(df, "s", "y", n_bins=2).collect()}
    assert out[1].n == 2 and out[1].pos == 0
    assert out[1].conf == 0.375 and out[1].acc == 0.0 and out[1].gap == 0.375
    assert out[2].n == 2 and out[2].pos == 2
    assert out[2].conf == 0.875 and out[2].acc == 1.0 and out[2].gap == 0.125


def test_rank_calibration_all_tied_single_bin(spark):
    """All scores identical → one bin; midrank 2.5 of N=4 → conf =
    (N+1)/(2N) = 0.625 (the midrank/N percentile convention); acc 0.5
    → gap 0.125."""
    df = spark.createDataFrame(
        [(7, 1), (7, 0), (7, 1), (7, 0)], "s long, y int"
    )
    rows = rank_calibration_bins(df, "s", "y", n_bins=2).collect()
    assert len(rows) == 1
    assert rows[0].conf == 0.625 and rows[0].acc == 0.5 and rows[0].gap == 0.125


# -- mrr_at_k -----------------------------------------------------------------
def test_mrr_hand_case(spark):
    """u1 first relevant at rank 2, u2 at rank 1, u3 never →
    mrr = (1/2 + 1)/3 = 0.5, hit_rate = 2/3."""
    rows = [
        ("u1", 1, 10.0, 0),
        ("u1", 2, 9.0, 1),
        ("u2", 1, 5.0, 1),
        ("u3", 1, 1.0, 0),
    ]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel int")
    r = mrr_at_k(df, "q", "id", "s", "rel", k=10).collect()[0]
    assert r.n_queries == 3 and r.n_hit == 2
    assert r.mrr_num == 1260 + 2520  # lcm(1..10)=2520; ranks 2 and 1
    assert r.mrr == 0.5
    assert r.hit_rate == 2.0 / 3.0


def test_mrr_relevant_below_k_does_not_count(spark):
    """k=2: the only relevant item sits at rank 3 → no hit, mrr 0."""
    rows = [("u", i, float(10 - i), 1 if i == 3 else 0) for i in (1, 2, 3)]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel int")
    r = mrr_at_k(df, "q", "id", "s", "rel", k=2).collect()[0]
    assert r.n_hit == 0 and r.mrr == 0.0


def test_mrr_tie_breaks_by_id(spark):
    """Tied scores rank by id asc: relevant id=1 wins rank 1."""
    rows = [("u", 1, 5.0, 1), ("u", 2, 5.0, 0)]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel int")
    assert mrr_at_k(df, "q", "id", "s", "rel", k=10).collect()[0].mrr == 1.0


# -- hellinger_drift_by -------------------------------------------------------
def test_hellinger_identical_distribution_is_zero(spark):
    """One group: its distribution IS the global → bc = 1, H = 0."""
    df = spark.createDataFrame(
        [("a", "x")] * 3 + [("a", "y")] * 5, "g string, c string"
    )
    r = hellinger_drift_by(df, "g", "c").collect()[0]
    assert r.bhatt == pytest.approx(1.0, abs=1e-5)
    assert r.hellinger == pytest.approx(0.0, abs=1e-2)  # sqrt amplifies quantum


def test_hellinger_disjoint_groups_hand_case(spark):
    """A: 4×x, B: 4×y. Global: {x:4, y:4}. bc_A = sqrt(4·4)/sqrt(4·8)
    = 4/sqrt(32); H_A = sqrt(1 - 4/sqrt(32))."""
    df = spark.createDataFrame(
        [("A", "x")] * 4 + [("B", "y")] * 4, "g string, c string"
    )
    out = {r.g: r for r in hellinger_drift_by(df, "g", "c").collect()}
    expect_bc = 4.0 / math.sqrt(32.0)
    assert out["A"].bc_fp == 4 * (1 << 20)  # sqrt(16)=4 exactly, no quantization
    assert out["A"].bhatt == pytest.approx(expect_bc, rel=1e-9)
    assert out["A"].hellinger == pytest.approx(math.sqrt(1 - expect_bc), rel=1e-9)
    assert out["B"].bhatt == out["A"].bhatt  # symmetric construction


# -- seasonal_naive_backtest --------------------------------------------------
def test_seasonal_backtest_hand_case(spark):
    """Days 1..10 with values 1..8,10,12: days 8-10 score.
    naive errors |8-7|,|10-8|,|12-10| = 1,2,2 → 5;
    seasonal errors |8-1|,|10-2|,|12-3| = 7,8,9 → 24 → ratio 4.8."""
    import datetime as dt

    rows = [
        ("g", dt.date(2024, 1, d), v)
        for d, v in zip(range(1, 11), [1, 2, 3, 4, 5, 6, 7, 8, 10, 12])
    ]
    df = spark.createDataFrame(rows, "g string, d date, c long")
    r = seasonal_naive_backtest(df, "g", "d", "c", season=7).collect()[0]
    assert r.n_scored == 3
    assert r.sae_naive == 5 and r.sae_season == 24
    assert r.mase_ratio == 4.8


def test_seasonal_backtest_gap_drops_rows(spark):
    """Removing day 5 breaks every lag-7 calendar alignment → no row
    scores → group absent from output (never a lying comparison)."""
    import datetime as dt

    rows = [
        ("g", dt.date(2024, 1, d), d) for d in range(1, 11) if d != 5
    ]
    df = spark.createDataFrame(rows, "g string, d date, c long")
    assert seasonal_naive_backtest(df, "g", "d", "c", season=7).count() == 0


# -- compaction_plan ----------------------------------------------------------
def test_compaction_plan_hand_case(spark):
    """Sizes 10,10,10,10 at target 25: running-prev sums 0,10,20,30 →
    bins 0,0,0,1; bin 0 closes at 30 bytes (fill 1.2)."""
    rows = [("p", i, 10) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "part string, id long, sz long")
    out = {r.bin: r for r in compaction_plan(df, "part", "id", "sz", 25).collect()}
    assert out[0].n_items == 3 and out[0].bytes == 30
    assert out[0].first_id == 1 and out[0].last_id == 3
    assert out[0].fill == pytest.approx(1.2)
    assert out[1].n_items == 1 and out[1].bytes == 10


def test_compaction_plan_partitions_independent(spark):
    """Each partition starts its own bin 0."""
    rows = [("a", 1, 100), ("b", 1, 100)]
    df = spark.createDataFrame(rows, "part string, id long, sz long")
    out = compaction_plan(df, "part", "id", "sz", 50).collect()
    assert sorted((r.part, r.bin) for r in out) == [("a", 0), ("b", 0)]


# -- k_anonymity_report -------------------------------------------------------
def test_k_anonymity_hand_case(spark):
    """Class A: 6 rows, sens {1,2,3}; class B: 2 rows, sens {1}.
    k=5 suppresses B (2 rows, rate 0.25); A survives with l=3."""
    rows = [("A", s) for s in (1, 2, 3, 1, 2, 3)] + [("B", 1), ("B", 1)]
    df = spark.createDataFrame(rows, "qi string, sens long")
    r = k_anonymity_report(df, ["qi"], "sens", k=5, l=3).collect()[0]
    assert r.n_rows == 8 and r.n_classes == 2
    assert r.min_class_size == 2
    assert r.n_small_classes == 1 and r.suppressed_rows == 2
    assert r.suppression_rate == 0.25
    assert r.min_l == 3 and r.n_low_l_classes == 0


def test_k_anonymity_all_suppressed_min_l_null(spark):
    df = spark.createDataFrame([("A", 1), ("B", 2)], "qi string, sens long")
    r = k_anonymity_report(df, ["qi"], "sens", k=5, l=3).collect()[0]
    assert r.suppressed_rows == 2 and r.min_l is None


# -- quantile_normalize_summary -----------------------------------------------
def test_quantile_normalize_aligns_groups(spark):
    """A=[1,2,3,4], B=[100,200,300,400], 4-point grid: pooled order
    statistics at cum>=1,3,5,7 are 1,3,100,300; both groups map rank
    1..4 to cells 0..3 → identical normalized summaries."""
    rows = [("A", v, i) for i, v in enumerate([1, 2, 3, 4])] + [
        ("B", v, i + 10) for i, v in enumerate([100, 200, 300, 400])
    ]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    out = {
        r.g: r
        for r in quantile_normalize_summary(df, "g", "v", "id", n_grid=4).collect()
    }
    for g in ("A", "B"):
        assert out[g].n == 4
        assert out[g].sum_norm == 1 + 3 + 100 + 300
        assert out[g].min_norm == 1 and out[g].max_norm == 300
        assert out[g].mean_norm == pytest.approx(101.0)


def test_quantile_normalize_identity_when_single_group(spark):
    """One group of distinct values with grid = n maps each rank to its
    own pooled order statistic — the identity transform."""
    rows = [("g", v, v) for v in (10, 20, 30, 40)]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    r = quantile_normalize_summary(df, "g", "v", "id", n_grid=4).collect()[0]
    assert r.sum_norm == 100 and r.min_norm == 10 and r.max_norm == 40


# -- item_item_cosine ---------------------------------------------------------
def test_item_item_cosine_hand_case(spark):
    """u1:{a,b}, u2:{a,b}, u3:{a,c} → norms a=3,b=2,c=1;
    co (a,b)=2 → cos 2/sqrt(6); (a,c)=1 → cos 1/sqrt(3)."""
    rows = [("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b"), ("u3", "a"), ("u3", "c")]
    df = spark.createDataFrame(rows, "u string, it string")
    out = item_item_cosine(df, "u", "it", cap=50, top_n=10).collect()
    assert [(r.item_i, r.item_j) for r in out] == [("a", "b"), ("a", "c")]
    assert out[0].co_cnt == 2 and (out[0].cnt_i, out[0].cnt_j) == (3, 2)
    assert out[0].cosine == 2.0 / math.sqrt(6.0)
    assert out[1].cosine == 1.0 / math.sqrt(3.0)


def test_item_item_cosine_cap_prunes_pairs(spark):
    """cap=1 keeps each user's single top item (freq desc, item asc →
    'a' everywhere) → no pairs at all."""
    rows = [("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b")]
    df = spark.createDataFrame(rows, "u string, it string")
    assert item_item_cosine(df, "u", "it", cap=1, top_n=10).count() == 0


def test_item_item_cosine_cap_rank_uses_frequency(spark):
    """cap=1 with a repeated interaction: u repeats item b, so b (freq
    2) outranks a (freq 1) despite 'a' < 'b'."""
    rows = [("u1", "b"), ("u1", "b"), ("u1", "a"), ("u2", "b"), ("u2", "c")]
    df = spark.createDataFrame(rows, "u string, it string")
    out = item_item_cosine(df, "u", "it", cap=1, top_n=10).collect()
    assert out == []  # u1 keeps only b, u2 keeps only b → no pairs
    # widen the cap: the (b, c) pair appears once u2 keeps both
    out2 = item_item_cosine(df, "u", "it", cap=2, top_n=10).collect()
    pairs = {(r.item_i, r.item_j) for r in out2}
    assert ("a", "b") in pairs and ("b", "c") in pairs


# -- join_cardinality_preflight -----------------------------------------------
def test_join_cardinality_hand_case(spark):
    """A={a:2,b:1}, B={a:3,c:4}: only 'a' matches → out 2*3=6; total 6,
    amplify_left = 6/3 rows, amplify_right = 6/7 rows."""
    from kassette_server_spark.operators.diagnostics import (
        join_cardinality_preflight,
    )

    a = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    b = spark.createDataFrame([("a",)] * 3 + [("c",)] * 4, "k string")
    rows = join_cardinality_preflight(a, "k", b, "k", top_n=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.key, r.cnt_left, r.cnt_right, r.out_rows) == ("a", 2, 3, 6)
    assert r.total_out == 6 and r.n_matched_keys == 1 and r.max_out == 6
    assert r.max_share == 1.0
    assert r.amplify_left == 2.0 and r.amplify_right == 6.0 / 7.0


def test_join_cardinality_disjoint_is_empty(spark):
    from kassette_server_spark.operators.diagnostics import (
        join_cardinality_preflight,
    )

    a = spark.createDataFrame([("a",)], "k string")
    b = spark.createDataFrame([("b",)], "k string")
    assert join_cardinality_preflight(a, "k", b, "k").count() == 0


# -- anova_f ------------------------------------------------------------------
def test_anova_hand_case(spark):
    """a=[1,2,3], b=[4,5,6]: T = 12+75 = 87, ssb = 87-73.5 = 13.5,
    ssw = 91-87 = 4, F = 13.5/(4/4) = 13.5."""
    from kassette_server_spark.operators.stats import anova_f

    rows = [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (4, 5, 6)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = anova_f(df, "g", ("a", "b"), "v").collect()[0]
    assert (r.n, r.k) == (6, 2)
    assert r.ssb == 13.5 and r.ssw == 4.0
    assert r.f_stat == 13.5


def test_anova_identical_groups_zero_f(spark):
    from kassette_server_spark.operators.stats import anova_f

    rows = [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = anova_f(df, "g", ("a", "b"), "v").collect()[0]
    assert r.ssb == 0.0 and r.f_stat == 0.0


def test_anova_empty_literal_group_excluded(spark):
    """A literal level with no rows contributes nothing and k counts
    only the populated groups."""
    from kassette_server_spark.operators.stats import anova_f

    rows = [("a", 1), ("a", 3), ("b", 2), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = anova_f(df, "g", ("a", "b", "zzz"), "v").collect()[0]
    assert r.k == 2 and r.n == 4


# -- kcore_peel ---------------------------------------------------------------
def test_kcore_triangle_sheds_pendant(spark):
    """Triangle {1,2,3} + pendant 4-1, k=2: round 1 peels the pendant,
    the triangle is stable at degree 2 each."""
    from kassette_server_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src long, dst long"
    )
    out = {r.node: r.degree for r in kcore_peel(edges, k=2, rounds=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_too_high_k_empties(spark):
    from kassette_server_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    assert kcore_peel(edges, k=4, rounds=1).count() == 0


def test_kcore_cascade_needs_rounds(spark):
    """Chain 1-2-3-4-5, k=2: endpoints peel one per round from each
    side — after 1 round {2,3,4} remain (as a path, still degree<2 at
    the new endpoints), after 2 rounds {3}'s neighbors are gone too:
    the cascade empties the chain, but ONLY with enough rounds."""
    from kassette_server_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    assert kcore_peel(edges, k=2, rounds=1).count() == 3  # 2,3,4 survive round 1
    assert kcore_peel(edges, k=2, rounds=3).count() == 0  # fixpoint: no 2-core


# -- edit_distance1_pairs -----------------------------------------------------
def test_edit_distance_pairs_hand_case(spark):
    """abc/abd (sub), abc/abcd (ins), abd/abcd, abd/abc', abcd/abc',
    abc/abc' (dup, dist 0) all land; xyz pairs with nothing."""
    from kassette_server_spark.operators.linkage import edit_distance1_pairs

    rows = [(1, "abc"), (2, "abd"), (3, "abcd"), (4, "xyz"), (5, "abc")]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance1_pairs(df, "id", "t").collect()
    }
    assert out == {
        (1, 2): 1,
        (1, 3): 1,
        (1, 5): 0,
        (2, 3): 1,
        (2, 5): 1,
        (3, 5): 1,
    }


def test_edit_distance_pairs_no_false_positives(spark):
    """Sharing a variant bounds distance by 2 — the verify must drop
    distance-2 candidates (ab/ba share variant 'a' and 'b')."""
    from kassette_server_spark.operators.linkage import edit_distance1_pairs

    df = spark.createDataFrame([(1, "ab"), (2, "ba")], "id long, t string")
    assert edit_distance1_pairs(df, "id", "t").count() == 0


# -- zonemap_pruning_report ---------------------------------------------------
def test_zonemap_hand_case(spark):
    """Bucket 0: 1..10 (all below the predicate → pruned); bucket 1:
    95..105 straddles [100,200] → read, 6 matching, 5 false-positive."""
    from kassette_server_spark.operators.diagnostics import zonemap_pruning_report

    rows = [(0, v) for v in range(1, 11)] + [(1, v) for v in range(95, 106)]
    df = spark.createDataFrame(rows, "b long, v long")
    r = zonemap_pruning_report(df, F.col("b"), "v", 100, 200).collect()[0]
    assert r.n_buckets == 2 and r.n_pruned == 1
    assert r.rows_total == 21 and r.rows_skipped == 10
    assert r.rows_matching == 6 and r.false_positive_rows == 5
    assert r.prune_frac == 0.5 and r.selectivity == 6.0 / 21.0


def test_zonemap_perfect_layout_no_false_positives(spark):
    """Value-sorted buckets → every surviving bucket is fully inside
    the predicate range: false_positive_rows = 0."""
    from kassette_server_spark.operators.diagnostics import zonemap_pruning_report

    rows = [(v // 10, v) for v in range(100)]
    df = spark.createDataFrame(rows, "b long, v long")
    r = zonemap_pruning_report(df, F.col("b"), "v", 20, 39).collect()[0]
    assert r.n_pruned == 8 and r.false_positive_rows == 0
    assert r.rows_matching == 20 and r.rows_skipped == 80


# -- oov_rate_by --------------------------------------------------------------
def test_oov_rate_hand_case(spark):
    """Corpus 'a a b' (en) + 'a c' (fr), V=1 → vocab {'a'}:
    en 1/3 OOV, fr 1/2 OOV."""
    from kassette_server_spark.operators.textstats import oov_rate_by

    df = spark.createDataFrame(
        [("en", "a a b"), ("fr", "a c")], "lang string, text string"
    )
    out = {r.lang: r for r in oov_rate_by(df, "lang", "text", vocab_size=1).collect()}
    assert out["en"].total_toks == 3 and out["en"].oov_toks == 1
    assert out["en"].oov_rate == 1.0 / 3.0
    assert out["fr"].total_toks == 2 and out["fr"].oov_toks == 1
    assert out["fr"].oov_rate == 0.5


def test_oov_vocab_tie_breaks_lexicographic(spark):
    """'b' and 'c' tie at freq 1; V=1 keeps the lexicographically
    smallest of the tied tokens after the higher-frequency 'a'...
    here V=2 over {a:2, b:1, c:1} keeps {a, b}."""
    from kassette_server_spark.operators.textstats import oov_rate_by

    df = spark.createDataFrame([("g", "a a b c")], "lang string, text string")
    r = oov_rate_by(df, "lang", "text", vocab_size=2).collect()[0]
    assert r.total_toks == 4 and r.oov_toks == 1  # only 'c' is OOV


# -- hard_negative_topk -------------------------------------------------------
def test_hard_negatives_nearest_other_label(spark):
    """id1(A)=[1,0]: same-label id2 is closest overall but EXCLUDED;
    the hardest negative is id3(B)=[1,0.1], not id4(B)=[-1,0]."""
    from kassette_server_spark.operators.similarity import hard_negative_topk

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.05], 0),
        (3, [1.0, 0.1], 1),
        (4, [-1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {
        r.query_id: r
        for r in hard_negative_topk(df, df, k=1).collect()
    }
    assert out[1].neighbor_id == 3 and out[1].neighbor_label == 1
    assert out[1].query_label == 0 and out[1].rank == 1
    assert out[3].neighbor_id == 2  # B's hardest negative is an A vector
    assert out[4].neighbor_id == 2  # cos(id2) ≈ -0.9988 beats cos(id1) = -1
    assert len(out) == 4


# -- two_proportion_z ---------------------------------------------------------
def test_two_proportion_z_hand_case(spark):
    """class1: 3 of 4 succeed (0.75); class0: 1 of 4 (0.25); pooled
    0.5 → z = 0.5 / sqrt(0.5*0.5*(1/4+1/4)) — recomputed with the
    operator's association order."""
    from kassette_server_spark.operators.evaluation import two_proportion_z

    rows = (
        [("g", 1, 1)] * 3 + [("g", 1, 0)] + [("g", 0, 1)] + [("g", 0, 0)] * 3
    )
    df = spark.createDataFrame(rows, "g string, c int, s int")
    r = two_proportion_z(df, "g", "c", "s").collect()[0]
    assert (r.n1, r.n0) == (4, 4)
    assert r.rate1 == 0.75 and r.rate0 == 0.25
    pp = (3.0 + 1.0) / (4.0 + 4.0)
    se = math.sqrt(pp * (1.0 - pp) * (1.0 / 4.0 + 1.0 / 4.0))
    assert r.z_stat == (0.75 - 0.25) / se


def test_two_proportion_z_degenerate_pooled_rate_null(spark):
    """All successes in both classes → pooled p = 1 → zero variance →
    NULL, not a division blowup."""
    from kassette_server_spark.operators.evaluation import two_proportion_z

    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 0, 1)], "g string, c int, s int"
    )
    assert two_proportion_z(df, "g", "c", "s").collect()[0].z_stat is None


# -- gini_stump ---------------------------------------------------------------
def test_gini_stump_perfect_split(spark):
    """Labels 0,0 at scores 1,2 and 1,1 at scores 3,4: cutting at 2
    yields two pure halves → cost 0, decrease = base Gini 2·2·2/4."""
    from kassette_server_spark.operators.evaluation import gini_stump

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "s long, y int"
    )
    r = gini_stump(df, "s", "y").collect()[0]
    assert r.threshold == 2 and r.cost == 0.0
    assert r.base_cost == 2.0 and r.decrease == 2.0
    assert (r.n_left, r.pos_left) == (2, 0)


def test_gini_stump_tie_breaks_smallest_threshold(spark):
    """A constant-label column makes EVERY split cost 0 — the argmin
    must deterministically pick the smallest threshold."""
    from kassette_server_spark.operators.evaluation import gini_stump

    df = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], "s long, y int")
    r = gini_stump(df, "s", "y").collect()[0]
    assert r.threshold == 1 and r.cost == 0.0 and r.decrease == 0.0


def test_gini_stump_last_value_excluded(spark):
    """With one distinct score there is no proper split → empty."""
    from kassette_server_spark.operators.evaluation import gini_stump

    df = spark.createDataFrame([(5, 1), (5, 0)], "s long, y int")
    r = gini_stump(df, "s", "y").collect()[0]
    assert r.threshold is None  # min over empty candidate set


# -- per_class_prf ------------------------------------------------------------
def test_per_class_prf_hand_case(spark):
    """pred [a,a,b,c] vs actual [a,b,b,d]: class a P=0.5 R=1; class b
    P=1 R=0.5; c predicted-only (support 0); d actual-only (never
    predicted) — both must still get rows."""
    from kassette_server_spark.operators.evaluation import per_class_prf

    rows = [("a", "a"), ("a", "b"), ("b", "b"), ("c", "d")]
    df = spark.createDataFrame(rows, "p string, t string")
    out = {r.cls: r for r in per_class_prf(df, "p", "t").collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert (out["a"].tp, out["a"].fp, out["a"].fn) == (1, 1, 0)
    assert out["a"].precision == 0.5 and out["a"].recall == 1.0
    assert out["a"].f1 == 2.0 / 3.0
    assert (out["b"].tp, out["b"].fp, out["b"].fn) == (1, 0, 1)
    assert out["b"].precision == 1.0 and out["b"].recall == 0.5
    assert (out["c"].tp, out["c"].fp, out["c"].support) == (0, 1, 0)
    assert out["c"].precision == 0.0 and out["c"].recall is None
    assert (out["d"].tp, out["d"].fn, out["d"].support) == (0, 1, 1)
    assert out["d"].precision is None and out["d"].recall == 0.0


# -- wilson_interval_by -------------------------------------------------------
def test_wilson_hand_case(spark):
    """k=1 of n=4 at z=2 (simple literal): recompute with the
    operator's association order; interval must contain the rate and
    stay inside [0, 1]."""
    from kassette_server_spark.operators.evaluation import wilson_interval_by

    rows = [("g", 1), ("g", 0), ("g", 0), ("g", 0)]
    df = spark.createDataFrame(rows, "g string, s int")
    r = wilson_interval_by(df, "g", "s", z=2.0).collect()[0]
    assert (r.n, r.k) == (4, 1) and r.rate == 0.25
    n, p, z, z2 = 4.0, 0.25, 2.0, 4.0
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    assert r.lo == center - half and r.hi == center + half
    assert 0.0 <= r.lo < r.rate < r.hi <= 1.0


def test_wilson_extreme_rate_stays_in_unit_interval(spark):
    """k=0: the naive interval collapses to [0,0]; Wilson's lower is 0
    but the upper is strictly positive."""
    from kassette_server_spark.operators.evaluation import wilson_interval_by

    df = spark.createDataFrame([("g", 0)] * 5, "g string, s int")
    r = wilson_interval_by(df, "g", "s").collect()[0]
    assert r.rate == 0.0 and r.lo == 0.0 and 0.0 < r.hi < 1.0


# -- kaplan_meier -------------------------------------------------------------
def test_km_all_observed_hand_case(spark):
    """Durations [1,2,2,3] all observed: S = 3/4, 3/4 * 1/3 = 1/4, 0."""
    from kassette_server_spark.operators.stats import kaplan_meier

    rows = [(1, 1), (2, 1), (2, 1), (3, 1)]
    df = spark.createDataFrame(rows, "t long, e int")
    out = {r.t: r for r in kaplan_meier(df, "t", "e").collect()}
    assert (out[1].n_risk, out[1].d) == (4, 1) and out[1].survival == 0.75
    assert (out[2].n_risk, out[2].d) == (3, 2)
    assert out[2].survival == 0.75 * (1.0 - 2.0 / 3.0)
    assert out[3].survival == 0.0


def test_km_censoring_shrinks_risk_set_without_dropping_survival(spark):
    """[1 obs, 2 censored, 3 obs]: the censored subject leaves the
    risk set after t=2 but S stays flat there."""
    from kassette_server_spark.operators.stats import kaplan_meier

    rows = [(1, 1), (2, 0), (3, 1)]
    df = spark.createDataFrame(rows, "t long, e int")
    out = {r.t: r for r in kaplan_meier(df, "t", "e").collect()}
    assert out[1].survival == 1.0 - 1.0 / 3.0
    assert (out[2].d, out[2].censored) == (0, 1)
    assert out[2].survival == out[1].survival  # flat at censoring
    assert (out[3].n_risk, out[3].survival) == (1, 0.0)


# -- log_rank_test ------------------------------------------------------------
def test_log_rank_identical_cohorts_z_near_zero(spark):
    """Mirror-image cohorts: O1 equals its expectation (up to the
    2^-20 quantum), so |z| is ~0."""
    from kassette_server_spark.operators.stats import log_rank_test

    rows = [(1, t, 1) for t in (1, 2, 3)] + [(0, t, 1) for t in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g int, t long, e int")
    r = log_rank_test(df, "g", "t", "e").collect()[0]
    assert (r.n1, r.n0, r.o1) == (3, 3, 3)
    assert abs(r.o1 - r.e1) < 1e-5
    assert abs(r.z_stat) < 1e-4


def test_log_rank_hand_expectation(spark):
    """Cohort1 dies at t=1 (2 subjects), cohort0 at t=2 (2 subjects):
    at t=1, E1 = 2·(2/4) = 1... full hand walk: O1=2,
    E1 = 2·2/4 + 2·0/2 = 1; V = 2·(2/4)·(2/4)·(2/3) + 0 = 1/3;
    z = (2-1)/sqrt(1/3)."""
    from kassette_server_spark.operators.stats import log_rank_test

    rows = [(1, 1, 1), (1, 1, 1), (0, 2, 1), (0, 2, 1)]
    df = spark.createDataFrame(rows, "g int, t long, e int")
    r = log_rank_test(df, "g", "t", "e").collect()[0]
    assert r.o1 == 2
    assert r.e1 == pytest.approx(1.0, abs=1e-5)
    assert r.z_stat == pytest.approx(1.0 / math.sqrt(1.0 / 3.0), rel=1e-4)


def test_log_rank_single_cohort_null_z(spark):
    """One cohort empty → every E term equals the observed count and
    V is 0 → z NULL."""
    from kassette_server_spark.operators.stats import log_rank_test

    rows = [(1, 1, 1), (1, 2, 1)]
    df = spark.createDataFrame(rows, "g int, t long, e int")
    r = log_rank_test(df, "g", "t", "e").collect()[0]
    assert r.n0 == 0 and r.z_stat is None
