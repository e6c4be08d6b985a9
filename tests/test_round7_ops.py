"""Unit semantics for the round-7 drift/audit operators (the oracle
parity tests lock engine agreement; these lock the MATH on hand-built
cases where the right answer is known a priori)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kassette_server_spark.operators.drift import (
    BENFORD_P,
    benford_audit,
    gap_fill_interpolate,
    ks_drift_by,
    theil_sen_by,
)


def test_ks_disjoint_supports_is_one(spark):
    """A=[1,2,3] vs rest=[4,5,6]: ECDFs separate completely → D = 1
    (d_num = n*m)."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 5.0), ("b", 6.0)],
        "g string, v double",
    )
    out = {r.g: r for r in ks_drift_by(df, "g", "v").collect()}
    assert out["a"].n == 3 and out["a"].m == 3
    assert out["a"].d_num == 9 and out["a"].ks == 1.0
    assert out["b"].d_num == 9 and out["b"].ks == 1.0


def test_ks_identical_distribution_is_small(spark):
    """Both groups sample the same values → at every point the ECDF gap
    is at most one step of the smaller sample."""
    rows = [("a", float(i % 5)) for i in range(50)] + [
        ("b", float(i % 5)) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    for r in ks_drift_by(df, "g", "v").collect():
        assert r.ks == 0.0  # identical multisets → identical ECDFs


def test_ks_ties_use_range_frame(spark):
    """Tied values must aggregate as one ECDF step on both sides of
    the comparison (RANGE frame, not ROWS): a=[1,1], rest=[1,2] agree
    at x=1 (1.0 vs 0.5 → diff 0.5) and x=2 (1.0 vs 1.0)."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 2.0)], "g string, v double"
    )
    out = {r.g: r for r in ks_drift_by(df, "g", "v").collect()}
    assert out["a"].d_num == 2 and out["a"].ks == 0.5


def test_benford_observed_and_expectations(spark):
    """Digits extracted from the integer's first character; expected
    counts are N * log10(1 + 1/d) with the probabilities summing to 1."""
    cents = [100, 199, 2050, 30000, 311, 3999, 912345]  # digits 1,1,2,3,3,3,9
    df = spark.createDataFrame([(c,) for c in cents], "cents long")
    rows = {r.digit: r for r in benford_audit(df, "cents").collect()}
    assert len(rows) == 9  # every digit row present even when unobserved
    assert rows["1"].observed == 2
    assert rows["2"].observed == 1
    assert rows["3"].observed == 3
    assert rows["9"].observed == 1
    assert rows["4"].observed == 0
    n = sum(r.observed for r in rows.values())
    assert n == 7
    assert math.isclose(sum(r.expected_n for r in rows.values()), n, rel_tol=1e-12)
    for d, r in rows.items():
        assert r.expected_n == n * BENFORD_P[int(d)]
        exp = n * BENFORD_P[int(d)]
        assert math.isclose(r.chi2_contrib, (r.observed - exp) ** 2 / exp, rel_tol=1e-12)


def test_theil_sen_ignores_outlier(spark):
    """y = 2x with one wild outlier: least squares would bend, the
    median of pairwise slopes stays exactly 2."""
    pts = [("g", x, 2 * x) for x in range(10) if x != 5] + [("g", 5, 1000)]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    r = theil_sen_by(df, "g", "x", "y").collect()[0]
    assert r.n_points == 10
    assert r.n_pairs == 45
    assert r.slope == 2.0


def test_theil_sen_even_pair_count_averages_middles(spark):
    """4 points → 6 slopes; even count averages the two middle VALUES."""
    pts = [("g", 0, 0), ("g", 1, 1), ("g", 2, 4), ("g", 3, 9)]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    r = theil_sen_by(df, "g", "x", "y").collect()[0]
    # slopes: 1,2,3,3,4,5 → median = (3+3)/2 = 3
    assert r.n_pairs == 6 and r.slope == 3.0


def test_theil_sen_even_count_unequal_middles(spark):
    """UNEQUAL middles must actually average (round-7 code-review
    finding: double division in the middle-position filter silently
    selected only the upper middle — slopes [1,2,4,8] returned 4.0
    instead of 3.0)."""
    # 3 collinear-free points won't do: need exactly 4 slopes with
    # distinct middles → 2 groups of 2 points each... simplest: one
    # group, x=[0,1,2], y chosen so slopes are [1,2,4,8]? 3 points
    # give 3 slopes (odd). Use 4 points -> 6 slopes with distinct
    # middles: y = [0, 1, 6, 7] over x = [0, 1, 2, 3]:
    # slopes: (1-0)/1=1, (6-0)/2=3, (7-0)/3=7/3, (6-1)/1=5,
    #         (7-1)/2=3, (7-6)/1=1 → sorted [1, 1, 7/3, 3, 3, 5]
    # middles 7/3 and 3 → median (7/3+3)/2 = 8/3
    pts = [("g", 0, 0), ("g", 1, 1), ("g", 2, 6), ("g", 3, 7)]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    r = theil_sen_by(df, "g", "x", "y").collect()[0]
    assert r.n_pairs == 6
    assert r.slope == (7 / 3 + 3.0) / 2


def test_gap_fill_linear_interpolation(spark):
    """Observed days 0 and 3 (values 100 → 400): days 1 and 2 are
    interpolated at exactly 200 and 300; observed rows keep their
    value and the flag distinguishes them."""
    df = spark.createDataFrame(
        [("g", "2024-01-01", 100), ("g", "2024-01-04", 400)],
        "g string, day string, v long",
    ).withColumn("day", F.to_date("day"))
    out = {
        str(r.day): r for r in gap_fill_interpolate(df, "g", "day", "v").collect()
    }
    assert len(out) == 4
    assert out["2024-01-01"].value == 100.0 and not out["2024-01-01"].is_interpolated
    assert out["2024-01-02"].value == 200.0 and out["2024-01-02"].is_interpolated
    assert out["2024-01-03"].value == 300.0 and out["2024-01-03"].is_interpolated
    assert out["2024-01-04"].value == 400.0 and not out["2024-01-04"].is_interpolated


def test_gap_fill_multiple_groups_independent_spans(spark):
    """Each group gets its own [min, max] spine — no cross-group
    bleed, no rows outside a group's own span."""
    df = spark.createDataFrame(
        [
            ("a", "2024-01-01", 10),
            ("a", "2024-01-03", 30),
            ("b", "2024-02-10", 5),
        ],
        "g string, day string, v long",
    ).withColumn("day", F.to_date("day"))
    out = gap_fill_interpolate(df, "g", "day", "v").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append(r)
    assert len(by_g["a"]) == 3  # Jan 1-3
    assert len(by_g["b"]) == 1  # single-day span
    assert {str(r.day) for r in by_g["b"]} == {"2024-02-10"}
    mid = [r for r in by_g["a"] if str(r.day) == "2024-01-02"][0]
    assert mid.value == 20.0 and mid.is_interpolated


def test_mann_whitney_complete_separation(spark):
    """A entirely above rest → U = n*m (AUC 1); rest symmetric at 0."""
    df = spark.createDataFrame(
        [("a", 4.0), ("a", 5.0), ("a", 6.0), ("b", 1.0), ("b", 2.0), ("b", 3.0)],
        "g string, v double",
    )
    from kassette_server_spark.operators.drift import mann_whitney_by

    out = {r.g: r for r in mann_whitney_by(df, "g", "v").collect()}
    assert out["a"].two_u == 18 and out["a"].auc == 1.0
    assert out["b"].two_u == 0 and out["b"].auc == 0.0


def test_mann_whitney_ties_average_ranks(spark):
    """a=[1], rest=[1]: the tie shares rank 1.5 → U = 0.5, AUC = 0.5."""
    from kassette_server_spark.operators.drift import mann_whitney_by

    df = spark.createDataFrame([("a", 1.0), ("b", 1.0)], "g string, v double")
    out = {r.g: r for r in mann_whitney_by(df, "g", "v").collect()}
    assert out["a"].two_u == 1 and out["a"].auc == 0.5
    assert out["b"].two_u == 1 and out["b"].auc == 0.5


def test_mann_whitney_identical_distributions(spark):
    from kassette_server_spark.operators.drift import mann_whitney_by

    rows = [("a", float(i % 4)) for i in range(40)] + [
        ("b", float(i % 4)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    for r in mann_whitney_by(df, "g", "v").collect():
        assert r.auc == 0.5


def test_cusum_finds_level_shift(spark):
    """Flat 0s then flat 10s: the CUSUM argmax lands on the last point
    before the shift."""
    from kassette_server_spark.operators.drift import cusum_changepoint_by

    pts = [("g", x, 0) for x in range(1, 4)] + [("g", x, 10) for x in range(4, 7)]
    df = spark.createDataFrame(pts, "g string, x long, y long")
    r = cusum_changepoint_by(df, "g", "x", "y").collect()[0]
    assert r.change_x == 3
    assert r.n_points == 6
    # stat at k=3: |6*0 - 3*30| = 90
    assert r.stat == 90


def test_cusum_tie_breaks_earliest(spark):
    """A constant series has stat 0 everywhere → earliest x wins."""
    from kassette_server_spark.operators.drift import cusum_changepoint_by

    df = spark.createDataFrame(
        [("g", x, 5) for x in range(1, 6)], "g string, x long, y long"
    )
    r = cusum_changepoint_by(df, "g", "x", "y").collect()[0]
    assert r.stat == 0 and r.change_x == 1


def test_hist_tv_distance_extremes(spark):
    """Disjoint histograms → TV = 1; identical → TV = 0; a known
    half-overlap → exact rational."""
    from kassette_server_spark.operators.drift import hist_tv_distance

    ref = spark.createDataFrame([(0, 10), (1, 10)], "bin long, cnt long")
    cur_same = spark.createDataFrame([(0, 5), (1, 5)], "bin long, cnt long")
    cur_disj = spark.createDataFrame([(2, 7), (3, 3)], "bin long, cnt long")
    cur_half = spark.createDataFrame([(0, 10)], "bin long, cnt long")
    assert hist_tv_distance(ref, cur_same).collect()[0].tv == 0.0
    r = hist_tv_distance(ref, cur_disj).collect()[0]
    assert r.tv == 1.0 and r.ref_n == 20 and r.cur_n == 10
    # ref = (.5, .5), cur = (1, 0) → TV = .5; numerator scale-invariant
    r = hist_tv_distance(ref, cur_half).collect()[0]
    assert r.tv == 0.5


def test_hist_drift_monitor_stream(spark, tmp_path):
    """foreachBatch composition: the running histogram accumulates
    across batches, TV vs the frozen reference grows as the stream
    shifts away from it, and a replayed batch_id reports nothing
    (no duplicate monitoring rows under at-least-once)."""
    from pyspark.sql import functions as F

    from kassette_server_spark.operators.drift import hist_drift_monitor
    from kassette_server_spark.operators.sketches import hist_bins

    store = str(tmp_path / "hist")
    base = spark.range(100).select((F.col("id") % 10).cast("double").alias("v"))
    ref = hist_bins(base, "v", 1.0, 32).localCheckpoint()

    # batch 0 drawn from the reference distribution: small drift
    b0 = spark.range(50).select((F.col("id") % 10).cast("double").alias("v"))
    r0 = hist_drift_monitor(b0, 0, "v", store, ref, 1.0, 32)
    assert r0 is not None and r0.tv == 0.0

    # batch 1 concentrated far away: running dist shifts, TV rises
    b1 = spark.range(150).select((F.lit(25.0) + (F.col("id") % 3)).alias("v"))
    r1 = hist_drift_monitor(b1, 1, "v", store, ref, 1.0, 32)
    assert r1 is not None and r1.tv > 0.5
    assert r1.cur_n == 200  # 50 + 150 accumulated

    # replay of batch 1: fenced skip, no report row
    assert hist_drift_monitor(b1, 1, "v", store, ref, 1.0, 32) is None

    # batch 2 keeps drifting: monotone in this construction
    b2 = spark.range(100).select((F.lit(28.0) + (F.col("id") % 2)).alias("v"))
    r2 = hist_drift_monitor(b2, 2, "v", store, ref, 1.0, 32)
    assert r2.tv > r1.tv


def test_ks_binned_equals_exact_when_bin_aligned(spark):
    """With bin_width=1 and integer-valued data, every value sits on a
    bin boundary — the binned KS must equal the exact KS bit-for-bit."""
    from kassette_server_spark.operators.drift import ks_drift_binned

    rows = [("a", float(i % 7)) for i in range(70)] + [
        ("b", float((i * 3) % 11)) for i in range(55)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    exact = {r.g: r for r in ks_drift_by(df, "g", "v").collect()}
    binned = {r.g: r for r in ks_drift_binned(df, "g", "v", 1.0, 32).collect()}
    for g in exact:
        assert binned[g].d_num == exact[g].d_num
        assert binned[g].ks == exact[g].ks
        assert binned[g].n == exact[g].n and binned[g].m == exact[g].m


def test_ks_binned_coarse_bins_underestimate(spark):
    """Coarsening bins can only LOSE separation (the max is taken over
    a subset of thresholds): binned KS <= exact KS."""
    from kassette_server_spark.operators.drift import ks_drift_binned

    rows = [("a", 0.1 + i * 0.2) for i in range(30)] + [
        ("b", 0.15 + i * 0.3) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    exact = {r.g: r.ks for r in ks_drift_by(df, "g", "v").collect()}
    binned = {r.g: r.ks for r in ks_drift_binned(df, "g", "v", 2.0, 16).collect()}
    for g in exact:
        assert binned[g] <= exact[g] + 1e-15


def test_contract_planted_violations_and_null_verdicts(spark):
    """Planted violations are counted exactly; a NULL comparison (the
    SQL three-valued trap) counts as a violation, not a silent pass;
    uniqueness reports duplicate keys over distinct-key checked."""
    from kassette_server_spark.operators.contracts import validate_contract

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -5.0, "A"),     # range violation
            (3, None, "B"),     # NULL value -> NULL verdict -> violation
            (4, 7.0, "X"),      # domain violation
            (4, 8.0, "A"),      # duplicate id
        ],
        "id long, amount double, flag string",
    )
    out = {r.rule: r for r in validate_contract(
        df,
        {
            "amount_positive": F.col("amount") > 0,
            "flag_domain": F.col("flag").isin("A", "B"),
        },
        {"id_unique": ["id"]},
    ).collect()}
    assert out["amount_positive"].checked == 5
    assert out["amount_positive"].violations == 2  # -5 and NULL
    assert out["flag_domain"].violations == 1
    assert out["flag_domain"].pass_rate == 4 / 5
    assert out["id_unique"].checked == 4  # distinct ids
    assert out["id_unique"].violations == 1  # id=4 twice


def test_contract_clean_data_passes(spark):
    from kassette_server_spark.operators.contracts import validate_contract

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "id long, v double")
    out = validate_contract(
        df, {"v_pos": F.col("v") > 0}, {"id_unique": ["id"]}
    ).collect()
    assert all(r.violations == 0 and r.pass_rate == 1.0 for r in out)


def test_hist_drift_monitor_empty_first_batch_reports_nothing(spark, tmp_path):
    """An empty micro-batch commits (fence advances) but produces no
    report: tv over zero mass would be a NULL footgun (round-7
    code-review finding)."""
    from pyspark.sql import functions as F

    from kassette_server_spark.operators.drift import hist_drift_monitor
    from kassette_server_spark.operators.sketches import hist_bins

    store = str(tmp_path / "hist")
    ref = hist_bins(
        spark.range(10).select(F.col("id").cast("double").alias("v")), "v", 1.0, 16
    ).localCheckpoint()
    empty = spark.range(0).select(F.col("id").cast("double").alias("v"))
    assert hist_drift_monitor(empty, 0, "v", store, ref, 1.0, 16) is None
    # replay of the committed empty batch: still nothing, no crash
    assert hist_drift_monitor(empty, 0, "v", store, ref, 1.0, 16) is None
    # first real batch reports normally
    b1 = spark.range(20).select((F.col("id") % 10).cast("double").alias("v"))
    r = hist_drift_monitor(b1, 1, "v", store, ref, 1.0, 16)
    assert r is not None and r.tv == 0.0


def test_contract_rejects_bad_rule_names_and_empty(spark):
    from kassette_server_spark.operators.contracts import (
        contract_oracle_sql,
        validate_contract,
    )

    df = spark.range(3).select(F.col("id"))
    with pytest.raises(ValueError, match="rule name"):
        validate_contract(df, {"bad'name": F.col("id") > 0})
    with pytest.raises(ValueError, match="at least one rule"):
        validate_contract(df, {})
    with pytest.raises(ValueError, match="rule name"):
        contract_oracle_sql("SELECT 1", {"x;drop": "1=1"})
    # uniqueness-only contract works (stack(0,...) would not parse)
    out = validate_contract(df, {}, {"id_unique": ["id"]}).collect()
    assert len(out) == 1 and out[0].rule == "id_unique" and out[0].violations == 0


def test_theil_sen_single_point_group_emits_null_slope(spark):
    """Round-8 advice: a group with <2 points (or all-equal x) must
    appear with n_pairs=0 and slope NULL, not vanish from the audit."""
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 30), ("solo", 5, 7), ("flat", 4, 1), ("flat", 4, 9)],
        "g string, x int, y int",
    )
    out = {r.g: r for r in theil_sen_by(df, "g", "x", "y").collect()}
    assert set(out) == {"a", "solo", "flat"}
    assert out["a"].slope == 10.0 and out["a"].n_pairs == 3
    assert out["solo"].n_points == 1 and out["solo"].n_pairs == 0 and out["solo"].slope is None
    # two points sharing one x: no valid pair either
    assert out["flat"].n_points == 2 and out["flat"].n_pairs == 0 and out["flat"].slope is None


def test_theil_sen_single_point_group_oracle_agrees(spark):
    """The LEFT-join null-slope contract must hold identically in the
    DuckDB oracle (same rows, same NULLs)."""
    import duckdb

    from kassette_server_spark.operators.drift import theil_sen_oracle_sql

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("solo", 5, 7)], "g string, x int, y int"
    )
    eng = {r.g: (r.n_points, r.n_pairs, r.slope) for r in theil_sen_by(df, "g", "x", "y").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (g VARCHAR, x INT, y INT)")
    con.executemany("INSERT INTO pts VALUES (?, ?, ?)", [("a", 1, 10), ("a", 2, 20), ("solo", 5, 7)])
    sql = theil_sen_oracle_sql("SELECT g, x, y FROM pts", "g", "x", "y")
    ora = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
    con.close()
    assert eng == ora == {"a": (2, 1, 10.0), "solo": (1, 0, None)}


def test_acf_zero_variance_series_is_null_both_engines(spark):
    """Round-8 advice: constant series → zero variance → denominator 0.
    Spark yields NULL for x/0.0; DuckDB follows IEEE — the NULLIF guard
    must pin both engines to NULL."""
    import duckdb

    # engine side: replicate q152's moment tree on a constant series
    n, sx, sy, sxx, syy, sxy = 4.0, 8.0, 8.0, 16.0, 16.0, 16.0  # x=const 2
    df = spark.createDataFrame([(n, sx, sy, sxx, syy, sxy)], "n double, sx double, sy double, sxx double, syy double, sxy double")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    acf = df.select(
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(den, F.lit(0.0))).alias("acf")
    ).collect()[0].acf
    assert acf is None
    ora = duckdb.sql(
        "SELECT (4.0*16.0 - 8.0*8.0) / NULLIF(sqrt(4.0*16.0-8.0*8.0)*sqrt(4.0*16.0-8.0*8.0), 0) AS acf"
    ).fetchone()[0]
    assert ora is None
