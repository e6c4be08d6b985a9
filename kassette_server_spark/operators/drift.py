"""Distribution-drift and data-audit operators (round 7).

The reference engine moves event streams between systems; a
training-data pipeline at 100 TB additionally needs to ASSESS what it
moved: did a segment's value distribution drift (KS), do the amounts
look fabricated (Benford), what is the robust trend (Theil-Sen), and
can a sparse daily series be regularized (gap-fill interpolation).
None of these exist in the reference (its analytics surface stops at
SQL-over-Postgres); they are first-class §2.3 extension-family
operators with exact DuckDB oracles.

Determinism contracts (driver hash-compare):
- KS: the statistic is reported as an integer numerator ``d_num`` over
  the implied denominator n*m, plus the IEEE division — every input to
  the max() is an exact BIGINT, so both engines agree bit-for-bit.
- Theil-Sen: slopes are ratios of integer differences; the exact
  median picks middle VALUES by row_number (value-based, so tie order
  cannot change the result) and averages at most two doubles.
- Benford: expected probabilities are embedded as literal doubles
  (repr round-trip), so both engines parse the identical IEEE value;
  per-digit rows avoid any float summation order.
- Gap-fill: interpolation is ``prev + (next-prev) * (pos/len)`` over
  exact integers, a fixed sequence of exact-rounded IEEE ops.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .guards import require_integral


# -- two-sample Kolmogorov-Smirnov drift --------------------------------------
def ks_drift_by(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Exact two-sample KS statistic of each group's ``value_col``
    distribution against the REST of the dataset — segment drift
    detection (is src7's quality-score distribution unlike the
    corpus?).

    D = max over x of |ECDF_g(x) - ECDF_rest(x)|, evaluated at every
    sample point. Since rest = all \\ g, every candidate x is in the
    combined sample, and the default RANGE window frame (which
    aggregates tied peers together) gives exactly the right-continuous
    ECDF at each distinct value.

    Plan: one small distinct-groups frame broadcast against the data
    (G x N replicated rows, G = #segments, bounded), then ONE window
    pass per group partition. Output is G rows.

    Scale: the replicate-by-G shape is right while G is a handful of
    segments; the per-group window sorts N rows per partition, so at
    extreme N pre-aggregate ties per (g, v) first (the cumulative
    counts only change at distinct values) — ~|distinct v| rows per
    partition, and value-range re-bucketing handles a group that still
    exceeds one executor. ``d_num = |cum_in*m - cum_out*n|`` stays
    inside BIGINT while n*m < 2^63 (n, m ~ 3e9); past that, switch to
    the double ratio or quantile-sketched ECDFs.

    Output: group, n (group size), m (rest size), d_num (BIGINT
    numerator), ks (= d_num / (n*m), exact IEEE division).
    """
    # NULL values/groups are excluded up front (as ks_drift_binned and
    # hist_bins do): an ECDF over NULL is undefined, and leaving them
    # in diverges from the oracle (Spark windows order NULLS FIRST,
    # DuckDB NULLS LAST — round-7 code-review finding)
    df = df.where(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
    groups = df.select(F.col(group_col).alias("_g")).distinct()
    pts = df.select(
        F.col(group_col).alias("_actual"), F.col(value_col).alias("_v")
    ).crossJoin(F.broadcast(groups))
    in_g = (F.col("_actual") == F.col("_g")).cast("long")
    # default frame with orderBy = RANGE UNBOUNDED PRECEDING..CURRENT
    # ROW: tied values aggregate together (ECDF semantics)
    w_cum = Window.partitionBy("_g").orderBy("_v")
    w_all = Window.partitionBy("_g")
    c = pts.select(
        F.col("_g"),
        F.sum(in_g).over(w_cum).alias("cum_in"),
        F.count(F.lit(1)).over(w_cum).alias("cum_tot"),
        F.sum(in_g).over(w_all).alias("n_in"),
        F.count(F.lit(1)).over(w_all).alias("n_tot"),
    )
    diff = F.abs(
        F.col("cum_in") * (F.col("n_tot") - F.col("n_in"))
        - (F.col("cum_tot") - F.col("cum_in")) * F.col("n_in")
    )
    return (
        c.groupBy(F.col("_g").alias(group_col), "n_in", "n_tot")
        .agg(F.max(diff).alias("d_num"))
        .select(
            group_col,
            F.col("n_in").alias("n"),
            (F.col("n_tot") - F.col("n_in")).alias("m"),
            F.col("d_num"),
            (
                F.col("d_num").cast("double")
                / (F.col("n_in") * (F.col("n_tot") - F.col("n_in"))).cast("double")
            ).alias("ks"),
        )
    )


def ks_drift_oracle_sql(source_sql: str, group_col: str, value_col: str) -> str:
    """DuckDB SQL computing the identical group-vs-rest KS statistic."""
    return f"""
    WITH src0 AS ({source_sql}),
    src AS (SELECT * FROM src0
            WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL),
    groups AS (SELECT DISTINCT {group_col} AS _g FROM src),
    pts AS (
      SELECT g._g, s.{value_col} AS _v,
             CASE WHEN s.{group_col} = g._g THEN 1 ELSE 0 END AS in_g
      FROM src s CROSS JOIN groups g
    ),
    c AS (
      SELECT _g,
             sum(in_g) OVER (PARTITION BY _g ORDER BY _v) AS cum_in,
             count(*) OVER (PARTITION BY _g ORDER BY _v) AS cum_tot,
             sum(in_g) OVER (PARTITION BY _g) AS n_in,
             count(*) OVER (PARTITION BY _g) AS n_tot
      FROM pts
    )
    SELECT _g AS {group_col},
           CAST(n_in AS BIGINT) AS n,
           CAST(n_tot - n_in AS BIGINT) AS m,
           CAST(max(abs(cum_in * (n_tot - n_in) - (cum_tot - cum_in) * n_in)) AS BIGINT) AS d_num,
           CAST(max(abs(cum_in * (n_tot - n_in) - (cum_tot - cum_in) * n_in)) AS DOUBLE)
             / CAST(n_in * (n_tot - n_in) AS DOUBLE) AS ks
    FROM c
    GROUP BY _g, n_in, n_tot
    """


# -- Benford first-digit audit ------------------------------------------------
#: log10(1 + 1/d) embedded as repr literals so Spark and DuckDB parse
#: the identical IEEE double (transcendental libm results are NOT
#: guaranteed bit-identical across engines; literals are).
BENFORD_P = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def benford_audit(df: DataFrame, cents_col: str) -> DataFrame:
    """First-significant-digit distribution of an exact integer amount
    column vs Benford's law — the classic fabricated-data screen.

    ``cents_col`` must be a positive BIGINT (money as cents): the first
    digit of the integer IS the first significant digit of the amount,
    extracted by string surgery — no log10 on doubles, whose engine-
    specific rounding near powers of ten would misbin edge values.

    Per-digit output rows (digit, observed, expected_n, chi2_contrib)
    keep every float op a fixed-order scalar expression; the caller
    sums chi2_contrib if it wants the statistic (9 rows — driver-side).

    Plan: map-side digit extraction, one 9-row groupBy, one broadcast
    of the literal probability table, total count via a scalar window
    over the 9-row aggregate. Nothing here scales with input size
    except the initial scan.
    """
    spark = df.sparkSession
    p_rows = [(str(d), BENFORD_P[d]) for d in range(1, 10)]
    from .store import local_frame

    p_tbl = local_frame(spark, p_rows, "digit string, p double")
    digit = F.substring(F.col(cents_col).cast("string"), 1, 1)
    obs = df.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("observed")
    )
    tot = Window.partitionBy()
    return (
        obs.join(F.broadcast(p_tbl), "digit", "right")
        .select(
            "digit",
            F.coalesce("observed", F.lit(0)).alias("observed"),
            "p",
            F.sum(F.coalesce("observed", F.lit(0))).over(tot).alias("n_total"),
        )
        .select(
            "digit",
            "observed",
            (F.col("n_total") * F.col("p")).alias("expected_n"),
            (
                (F.col("observed") - F.col("n_total") * F.col("p"))
                * (F.col("observed") - F.col("n_total") * F.col("p"))
                / (F.col("n_total") * F.col("p"))
            ).alias("chi2_contrib"),
        )
    )


def benford_oracle_sql(source_sql: str, cents_col: str) -> str:
    values = ", ".join(f"('{d}', {BENFORD_P[d]!r})" for d in range(1, 10))
    return f"""
    WITH src AS ({source_sql}),
    p_tbl(digit, p) AS (VALUES {values}),
    obs AS (
      SELECT substr(CAST({cents_col} AS VARCHAR), 1, 1) AS digit,
             count(*) AS observed
      FROM src GROUP BY 1
    ),
    joined AS (
      SELECT p_tbl.digit, COALESCE(obs.observed, 0) AS observed, p,
             sum(COALESCE(obs.observed, 0)) OVER () AS n_total
      FROM p_tbl LEFT JOIN obs ON obs.digit = p_tbl.digit
    )
    SELECT digit, CAST(observed AS BIGINT) AS observed,
           CAST(n_total AS DOUBLE) * p AS expected_n,
           (CAST(observed AS DOUBLE) - CAST(n_total AS DOUBLE) * p)
             * (CAST(observed AS DOUBLE) - CAST(n_total AS DOUBLE) * p)
             / (CAST(n_total AS DOUBLE) * p) AS chi2_contrib
    FROM joined
    """


# -- Theil-Sen robust trend ---------------------------------------------------
def theil_sen_by(df: DataFrame, group_col: str, x_col: str, y_col: str) -> DataFrame:
    """Theil-Sen estimator per group: the MEDIAN of all pairwise slopes
    (y_j - y_i)/(x_j - x_i), x_i < x_j — the robust trend line a single
    outlier day cannot bend (vs least squares' unbounded influence).
    ``x_col``/``y_col`` must be exact integers (epoch days, counts,
    cents) so each slope is one exact-rounded IEEE division.

    Plan: per-group self-join (x_i < x_j) builds the O(d^2) slope set
    where d = points-per-group — Theil-Sen is intrinsically quadratic
    in SERIES LENGTH, not dataset size; callers feed pre-aggregated
    series (daily rollups: d = days, bounded by the time range). The
    median is value-based: row_number over slope order, pick the middle
    one or two, average — tie-order-proof and one window over d^2 rows
    per group.

    Output: group, n_points, n_pairs, slope (double). EVERY group in
    the input appears: a group with fewer than 2 distinct x values has
    no pairwise slopes and reports (n_pairs=0, slope=NULL) rather than
    being dropped (round-8 advice — trend audits must not lose
    segments that lack signal).
    """
    a = df.select(
        F.col(group_col).alias("_g"), F.col(x_col).alias("x1"), F.col(y_col).alias("y1")
    )
    b = df.select(
        F.col(group_col).alias("_g"), F.col(x_col).alias("x2"), F.col(y_col).alias("y2")
    )
    slopes = (
        a.join(b, "_g")
        .where(F.col("x1") < F.col("x2"))
        .select(
            "_g",
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("x2") - F.col("x1")).cast("double")
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("_g").orderBy("slope")
    wn = Window.partitionBy("_g")
    ranked = slopes.select(
        "_g",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_pairs"),
    )
    # middle positions via integer FLOOR division: for even n the
    # middles are n/2 and n/2+1 — a plain `/` here is double division
    # in Spark ((n+1)/2 = 2.5 for n=4), which never matches the lower
    # middle and silently returns the upper slope alone instead of the
    # average (round-7 code-review finding, verified on [1,2,4,8] →
    # 4.0 instead of the true median 3.0)
    mid = ranked.where(
        (F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n_pairs") + 2) / 2))
    )
    npts = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count("*").alias("n_points")
    )
    med = mid.groupBy("_g", "n_pairs").agg(
        ((F.sum("slope")) / F.count("*")).alias("slope")
    )
    # LEFT join from npts (round-8 advice): a group with <2 distinct x
    # values yields no pairwise slopes — it must still appear in the
    # audit output (slope NULL, n_pairs 0), not vanish, so callers
    # auditing per-segment trends see every segment
    return npts.join(med, "_g", "left").select(
        F.col("_g").alias(group_col),
        "n_points",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        "slope",
    )


def theil_sen_oracle_sql(series_sql: str, group_col: str, x_col: str, y_col: str) -> str:
    """DuckDB SQL for the identical pairwise-slope exact median, with
    the same explicit floor() on the middle positions as the Spark
    side (both engines' bare `/` over these operands is double
    division, which would skip the lower middle for even counts)."""
    return f"""
    WITH s AS ({series_sql}),
    slopes AS (
      SELECT a.{group_col} AS _g,
             (CAST(b.{y_col} - a.{y_col} AS DOUBLE)
              / CAST(b.{x_col} - a.{x_col} AS DOUBLE)) AS slope
      FROM s a JOIN s b
        ON a.{group_col} = b.{group_col} AND a.{x_col} < b.{x_col}
    ),
    ranked AS (
      SELECT _g, slope,
             row_number() OVER (PARTITION BY _g ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY _g) AS n_pairs
      FROM slopes
    ),
    mid AS (
      SELECT _g, n_pairs, sum(slope) / count(*) AS slope
      FROM ranked
      WHERE rn = floor((n_pairs + 1) / 2.0) OR rn = floor((n_pairs + 2) / 2.0)
      GROUP BY _g, n_pairs
    ),
    npts AS (SELECT {group_col} AS _g, count(*) AS n_points FROM s GROUP BY 1)
    SELECT npts._g AS {group_col},
           CAST(n_points AS BIGINT) AS n_points,
           CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
           slope
    FROM npts LEFT JOIN mid ON mid._g = npts._g
    """


def ks_drift_binned(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bin_width: float = 1.0,
    num_bins: int = 1024,
) -> DataFrame:
    """The SCALE PATH for ks_drift_by (its docstring's promised
    histogram variant, materialized): the KS statistic evaluated over
    BIN boundaries instead of raw sample points. Work is G x num_bins
    register rows after one map-side-combined aggregate of the data —
    no per-segment sort of the dataset, no replicate-by-G of raw rows.
    The answer differs from the exact KS by at most the ECDF mass of
    one bin (bins are right-open like hist_bins; exact when values are
    bin-aligned — the unit test pins that identity).

    Arithmetic is the exact integer of ks_drift_by applied to bin
    counts: d_num = max|cum_in*m - cum_out*n| over bins, one IEEE
    division at the end.

    Output: group, n, m, d_num, ks — same shape as ks_drift_by.
    """
    from .sketches import bin_index

    b = bin_index(value_col, bin_width, num_bins)
    src = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("_g"), b.alias("_bin"))
    per = src.groupBy("_g", "_bin").agg(F.count("*").alias("cnt_g"))
    tot = src.groupBy("_bin").agg(F.count("*").alias("cnt_all"))
    groups = src.select("_g").distinct()
    # spine: every group x every occupied bin (G x num_bins bounded)
    spine = groups.crossJoin(F.broadcast(tot))
    full = spine.join(per, ["_g", "_bin"], "left").select(
        "_g",
        "_bin",
        "cnt_all",
        F.coalesce("cnt_g", F.lit(0)).alias("cnt_g"),
    )
    w_cum = (
        Window.partitionBy("_g").orderBy("_bin").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("_g")
    c = full.select(
        "_g",
        F.sum("cnt_g").over(w_cum).alias("cum_in"),
        F.sum("cnt_all").over(w_cum).alias("cum_tot"),
        F.sum("cnt_g").over(w_all).alias("n_in"),
        F.sum("cnt_all").over(w_all).alias("n_tot"),
    )
    diff = F.abs(
        F.col("cum_in") * (F.col("n_tot") - F.col("n_in"))
        - (F.col("cum_tot") - F.col("cum_in")) * F.col("n_in")
    )
    return (
        c.groupBy(F.col("_g").alias(group_col), "n_in", "n_tot")
        .agg(F.max(diff).alias("d_num"))
        .select(
            group_col,
            F.col("n_in").alias("n"),
            (F.col("n_tot") - F.col("n_in")).alias("m"),
            F.col("d_num"),
            (
                F.col("d_num").cast("double")
                / (F.col("n_in") * (F.col("n_tot") - F.col("n_in"))).cast("double")
            ).alias("ks"),
        )
    )


def ks_drift_binned_oracle_sql(
    source_sql: str,
    group_col: str,
    value_col: str,
    bin_width: float = 1.0,
    num_bins: int = 1024,
) -> str:
    return f"""
    WITH src0 AS ({source_sql}),
    src AS (
      SELECT {group_col} AS _g,
             LEAST(GREATEST(CAST(floor({value_col} / {bin_width!r}) AS BIGINT), 0),
                   {num_bins - 1}) AS _bin
      FROM src0 WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
    ),
    per AS (SELECT _g, _bin, count(*) AS cnt_g FROM src GROUP BY 1, 2),
    tot AS (SELECT _bin, count(*) AS cnt_all FROM src GROUP BY 1),
    groups AS (SELECT DISTINCT _g FROM src),
    full_spine AS (
      SELECT g._g, t._bin, t.cnt_all, COALESCE(p.cnt_g, 0) AS cnt_g
      FROM groups g CROSS JOIN tot t
      LEFT JOIN per p ON p._g = g._g AND p._bin = t._bin
    ),
    c AS (
      SELECT _g,
             sum(cnt_g) OVER (PARTITION BY _g ORDER BY _bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_in,
             sum(cnt_all) OVER (PARTITION BY _g ORDER BY _bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tot,
             sum(cnt_g) OVER (PARTITION BY _g) AS n_in,
             sum(cnt_all) OVER (PARTITION BY _g) AS n_tot
      FROM full_spine
    )
    SELECT _g AS {group_col},
           CAST(n_in AS BIGINT) AS n,
           CAST(n_tot - n_in AS BIGINT) AS m,
           CAST(max(abs(cum_in * (n_tot - n_in) - (cum_tot - cum_in) * n_in)) AS BIGINT) AS d_num,
           CAST(max(abs(cum_in * (n_tot - n_in) - (cum_tot - cum_in) * n_in)) AS DOUBLE)
             / CAST(n_in * (n_tot - n_in) AS DOUBLE) AS ks
    FROM c
    GROUP BY _g, n_in, n_tot
    """


# -- Mann-Whitney U (rank-sum) drift ------------------------------------------
def mann_whitney_by(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Exact Mann-Whitney U (rank-sum) of each group vs the rest — the
    rank-based drift companion to ks_drift_by (KS sees shape changes;
    U/AUC sees stochastic dominance: "is segment g's metric
    systematically higher?").

    Everything stays integer until the final division: tied values get
    the average rank, whose double of the textbook value is the integer
    ``2*min_rank + ties - 1``; ``two_u = sum(2*avg_rank) - n(n+1)``
    is exactly twice U, and ``auc = U/(n*m)`` is one IEEE division.

    Plan: ranks depend only on the COMBINED sample, so they are
    computed ONCE (not per group): a distinct-value aggregate, one
    cumulative window over DISTINCT values (bounded by value
    cardinality, not row count — the scale move vs rank() over raw
    rows), a value-equi-join back, then one small per-group aggregate.

    Output: group, n, m, two_u (BIGINT = 2U), auc (double).
    """
    # NULLs excluded for the same engine-divergence reason as
    # ks_drift_by (ranks over NULL are undefined anyway)
    df = df.where(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
    vals = df.groupBy(F.col(value_col).alias("_v")).agg(F.count("*").alias("_cnt"))
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    # 2*average-rank of every row with value v: 2*(#smaller) + ties + 1
    ranked_vals = vals.select(
        "_v",
        (
            2 * F.coalesce(F.sum("_cnt").over(w), F.lit(0)) + F.col("_cnt") + 1
        ).alias("_two_rank"),
    )
    joined = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
    ).join(ranked_vals, "_v")
    per_g = joined.groupBy(F.col("_g").alias(group_col)).agg(
        F.count("*").alias("n"), F.sum("_two_rank").alias("_two_r")
    )
    # grand total from the G-row aggregate itself (scalar window over
    # G rows — no second scan, no driver action)
    n_tot = F.sum("n").over(Window.partitionBy())
    return per_g.select(
        group_col,
        "n",
        (n_tot - F.col("n")).alias("m"),
        (F.col("_two_r") - F.col("n") * (F.col("n") + 1)).alias("two_u"),
        (
            (F.col("_two_r") - F.col("n") * (F.col("n") + 1)).cast("double")
            / (2 * F.col("n") * (n_tot - F.col("n"))).cast("double")
        ).alias("auc"),
    )


def mann_whitney_oracle_sql(source_sql: str, group_col: str, value_col: str) -> str:
    return f"""
    WITH src0 AS ({source_sql}),
    src AS (SELECT * FROM src0
            WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL),
    vals AS (SELECT {value_col} AS _v, count(*) AS _cnt FROM src GROUP BY 1),
    ranked_vals AS (
      SELECT _v,
             2 * COALESCE(sum(_cnt) OVER (ORDER BY _v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + _cnt + 1 AS _two_rank
      FROM vals
    ),
    tot AS (SELECT count(*) AS n_tot FROM src),
    per_g AS (
      SELECT s.{group_col} AS _g, count(*) AS n, sum(r._two_rank) AS _two_r
      FROM src s JOIN ranked_vals r ON s.{value_col} = r._v
      GROUP BY 1
    )
    SELECT _g AS {group_col},
           CAST(n AS BIGINT) AS n,
           CAST(n_tot - n AS BIGINT) AS m,
           CAST(_two_r - n * (n + 1) AS BIGINT) AS two_u,
           CAST(_two_r - n * (n + 1) AS DOUBLE)
             / CAST(2 * n * (n_tot - n) AS DOUBLE) AS auc
    FROM per_g CROSS JOIN tot
    """


# -- CUSUM changepoint --------------------------------------------------------
def cusum_changepoint_by(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Single most-likely level-shift point per group via the CUSUM
    statistic: argmax_k |n*S_k - k*S_n| where S_k is the prefix sum of
    the (integer) series in ``x_col`` order — the classic "when did
    this metric's mean change?" detector, exact because the statistic
    is pure BIGINT (valid while n*S_n < 2^63; feed bounded-length
    pre-aggregated series, e.g. daily rollups).

    Ties break to the EARLIEST k (first moment the shift is
    detectable) — deterministic via a (stat desc, k asc) row_number.

    Plan: one per-group cumulative window over the series (series-
    length rows), the group totals from the same window's unbounded
    frame (no second scan), then a per-group top-1 — WindowGroupLimit
    keeps it pre-shuffle.

    Output: group, n_points, change_x (the x at the argmax), stat
    (BIGINT numerator; divide by n*... externally if a normalized
    score is wanted).
    """
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(group_col)
    c = df.select(
        group_col,
        x_col,
        F.sum(y_col).over(w_cum).alias("s_k"),
        F.row_number()
        .over(Window.partitionBy(group_col).orderBy(x_col))
        .alias("k"),
        F.sum(y_col).over(w_all).alias("s_n"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    stat = F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("s_n"))
    ranked = c.select(
        group_col,
        x_col,
        "n",
        stat.alias("stat"),
        F.row_number()
        .over(Window.partitionBy(group_col).orderBy(stat.desc(), F.col(x_col)))
        .alias("_rk"),
    )
    return ranked.where(F.col("_rk") == 1).select(
        group_col,
        F.col("n").alias("n_points"),
        F.col(x_col).alias("change_x"),
        "stat",
    )


def cusum_oracle_sql(series_sql: str, group_col: str, x_col: str, y_col: str) -> str:
    return f"""
    WITH s AS ({series_sql}),
    c AS (
      SELECT {group_col} AS _g, {x_col} AS _x,
             sum({y_col}) OVER (PARTITION BY {group_col} ORDER BY {x_col}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
             row_number() OVER (PARTITION BY {group_col} ORDER BY {x_col}) AS k,
             sum({y_col}) OVER (PARTITION BY {group_col}) AS s_n,
             count(*) OVER (PARTITION BY {group_col}) AS n
      FROM s
    ),
    ranked AS (
      SELECT _g, _x, n, abs(n * s_k - k * s_n) AS stat,
             row_number() OVER (PARTITION BY _g
                 ORDER BY abs(n * s_k - k * s_n) DESC, _x) AS _rk
      FROM c
    )
    SELECT _g AS {group_col}, CAST(n AS BIGINT) AS n_points,
           _x AS change_x, CAST(stat AS BIGINT) AS stat
    FROM ranked WHERE _rk = 1
    """


# -- histogram total-variation drift ------------------------------------------
def hist_tv_distance(ref_bins: DataFrame, cur_bins: DataFrame) -> DataFrame:
    """Total-variation distance between two (bin, cnt) histograms —
    TV = 0.5 * sum_i |p_i - q_i| over the normalized bin masses, the
    bounded [0, 1] "how different are these distributions" number that
    needs no transcendental math (unlike KL/PSI, whose logs are not
    bit-portable across engines).

    Exactness: with integer counts r_i (total R) and c_i (total C),
    TV = sum|r_i*C - c_i*R| / (2*R*C) — the numerator is pure BIGINT
    (valid while R*C < 2^63; histogram totals, not raw data, so this
    holds far past 100 TB of input), the division one IEEE op.

    Plan: full-outer join on bin (<= num_bins rows per side), scalar-
    window totals over the bin frame, one-row output. Register-scale
    throughout — composable inside foreachBatch.

    Output: one row (ref_n, cur_n, tv_num, tv).
    """
    r = ref_bins.select("bin", F.col("cnt").alias("r_cnt"))
    c = cur_bins.select("bin", F.col("cnt").alias("c_cnt"))
    j = r.join(c, "bin", "full_outer").select(
        F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
        F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
    )
    w = Window.partitionBy()
    tot = j.select(
        "r_cnt",
        "c_cnt",
        F.sum("r_cnt").over(w).alias("ref_n"),
        F.sum("c_cnt").over(w).alias("cur_n"),
    )
    return (
        tot.groupBy("ref_n", "cur_n")
        .agg(
            F.sum(
                F.abs(F.col("r_cnt") * F.col("cur_n") - F.col("c_cnt") * F.col("ref_n"))
            ).alias("tv_num")
        )
        .select(
            "ref_n",
            "cur_n",
            "tv_num",
            (
                F.col("tv_num").cast("double")
                / (2 * F.col("ref_n") * F.col("cur_n")).cast("double")
            ).alias("tv"),
        )
    )


def hist_tv_oracle_sql(ref_sql: str, cur_sql: str) -> str:
    """DuckDB SQL computing the identical TV distance from two
    (bin, cnt) subqueries."""
    return f"""
    WITH r AS ({ref_sql}), c AS ({cur_sql}),
    j AS (
      SELECT COALESCE(r.cnt, 0) AS r_cnt, COALESCE(c.cnt, 0) AS c_cnt
      FROM r FULL OUTER JOIN c ON r.bin = c.bin
    ),
    tot AS (
      SELECT r_cnt, c_cnt,
             sum(r_cnt) OVER () AS ref_n, sum(c_cnt) OVER () AS cur_n
      FROM j
    )
    SELECT CAST(ref_n AS BIGINT) AS ref_n,
           CAST(cur_n AS BIGINT) AS cur_n,
           CAST(sum(abs(r_cnt * cur_n - c_cnt * ref_n)) AS BIGINT) AS tv_num,
           CAST(sum(abs(r_cnt * cur_n - c_cnt * ref_n)) AS DOUBLE)
             / CAST(2 * ref_n * cur_n AS DOUBLE) AS tv
    FROM tot GROUP BY ref_n, cur_n
    """


def hist_drift_monitor(
    batch_df: DataFrame,
    batch_id: int,
    col: str,
    store_path: str,
    ref_bins: DataFrame,
    bin_width: float = 1.0,
    num_bins: int = 1024,
):
    """foreachBatch body: fold the micro-batch into the running
    histogram store (replay-fenced via hist_merge_into_store) and
    report the running distribution's TV drift against a frozen
    reference histogram — the streaming "has my feature distribution
    moved since the baseline?" monitor.

    Returns the (ref_n, cur_n, tv_num, tv) row for this batch, or
    None when the batch was a replay skip (caller emits nothing —
    at-least-once replays produce no duplicate report).

    State is the <= num_bins histogram store plus the broadcastable
    reference — register-scale regardless of stream volume.
    """
    from .sketches import hist_merge_into_store
    from .store import read_store

    merged = hist_merge_into_store(
        batch_df, batch_id, col, store_path, bin_width, num_bins
    )
    if not merged:
        return None
    cur = read_store(batch_df.sparkSession, store_path).select("bin", "cnt")
    rows = hist_tv_distance(ref_bins, cur).collect()
    # an all-empty-batches store has no mass to compare — tv would be
    # the NULL of a zero division, a footgun for format consumers
    # (round-7 code-review finding); no data ⇒ no report
    if not rows or rows[0].cur_n == 0:
        return None
    return rows[0]


# -- daily gap-fill with linear interpolation ---------------------------------
def gap_fill_interpolate(
    df: DataFrame, group_col: str, date_col: str, value_col: str
) -> DataFrame:
    """Regularize a sparse per-group daily series: emit one row per
    calendar day in the group's [min, max] span, carrying the observed
    value where present and the linear interpolation between the
    nearest observed neighbors where absent (time-series feature prep;
    edges have both neighbors by construction of the span).

    ``value_col`` must be exact integers (cents/counts): interpolation
    is ``prev + (next - prev) * ((day - prev_day) / (next_day -
    prev_day))`` — integer differences, one division, one multiply,
    one add, all exact-rounded IEEE in a fixed order.

    Plan: per-group min/max + ``sequence()`` explode builds the date
    spine (span-bounded, not data-bounded), one left join back to the
    observations co-partitioned on (group, day), and two
    ignore-nulls window passes (last-preceding / first-following) per
    group ordered by day. Groups partition independently; span length
    bounds the per-group row count.

    Output: group, day, value (double: observed or interpolated),
    is_interpolated flag.
    """
    spine = (
        df.groupBy(F.col(group_col).alias("_g"))
        .agg(F.min(date_col).alias("d0"), F.max(date_col).alias("d1"))
        .select("_g", F.explode(F.sequence("d0", "d1")).alias("_day"))
    )
    obs = df.select(
        F.col(group_col).alias("_g"),
        F.col(date_col).alias("_day"),
        F.col(value_col).alias("_v"),
    )
    joined = spine.join(obs, ["_g", "_day"], "left")
    w = Window.partitionBy("_g").orderBy("_day")
    prev_v = F.last("_v", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_v = F.first("_v", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    prev_d = F.last(F.when(F.col("_v").isNotNull(), F.col("_day")), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_d = F.first(F.when(F.col("_v").isNotNull(), F.col("_day")), ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    interp = prev_v.cast("double") + (next_v - prev_v).cast("double") * (
        F.datediff(F.col("_day"), prev_d).cast("double")
        / F.datediff(next_d, prev_d).cast("double")
    )
    return joined.select(
        F.col("_g").alias(group_col),
        F.col("_day").alias(date_col),
        F.when(F.col("_v").isNotNull(), F.col("_v").cast("double"))
        .otherwise(interp)
        .alias("value"),
        F.col("_v").isNull().alias("is_interpolated"),
    )


def gap_fill_oracle_sql(series_sql: str, group_col: str, date_col: str, value_col: str) -> str:
    """DuckDB SQL for the identical spine + ignore-nulls interpolation.
    generate_series over dates yields timestamps in DuckDB — cast back
    to DATE so the join keys and datediff arithmetic match Spark."""
    return f"""
    WITH s AS ({series_sql}),
    spans AS (
      SELECT {group_col} AS _g, min({date_col}) AS d0, max({date_col}) AS d1
      FROM s GROUP BY 1
    ),
    spine AS (
      SELECT _g, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                             CAST(d1 AS TIMESTAMP),
                                             INTERVAL 1 DAY)) AS DATE) AS _day
      FROM spans
    ),
    joined AS (
      SELECT spine._g, spine._day, s.{value_col} AS _v
      FROM spine LEFT JOIN s
        ON s.{group_col} = spine._g AND s.{date_col} = spine._day
    ),
    filled AS (
      SELECT _g, _day, _v,
             last_value(_v IGNORE NULLS) OVER
               (PARTITION BY _g ORDER BY _day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             first_value(_v IGNORE NULLS) OVER
               (PARTITION BY _g ORDER BY _day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             last_value(CASE WHEN _v IS NOT NULL THEN _day END IGNORE NULLS) OVER
               (PARTITION BY _g ORDER BY _day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
             first_value(CASE WHEN _v IS NOT NULL THEN _day END IGNORE NULLS) OVER
               (PARTITION BY _g ORDER BY _day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
      FROM joined
    )
    SELECT _g AS {group_col}, _day AS {date_col},
           CASE WHEN _v IS NOT NULL THEN CAST(_v AS DOUBLE)
                ELSE CAST(prev_v AS DOUBLE)
                     + CAST(next_v - prev_v AS DOUBLE)
                       * (CAST(_day - prev_d AS DOUBLE)
                          / CAST(next_d - prev_d AS DOUBLE))
           END AS value,
           (_v IS NULL) AS is_interpolated
    FROM filled
    """


# -- Hellinger / Bhattacharyya drift ------------------------------------------
HELLINGER_FP_SCALE = 1 << 20  # fixed-point quantum for sqrt(a*b) terms


def hellinger_drift_by(df: DataFrame, group_col: str, cat_col: str) -> DataFrame:
    """Hellinger distance between each ``group_col`` segment's
    ``cat_col`` distribution and the GLOBAL distribution — the
    sqrt-based sibling of :func:`hist_tv_distance` (TV is max-norm
    blind to mass spread across many small categories; Hellinger
    weights every cell).

    Determinism: the Bhattacharyya coefficient needs Σ_i sqrt(p_i q_i)
    — a float sum across category rows, which the determinism contract
    bans (order-dependent). The fix is FIXED-POINT quantization:
    per cell, ``fp_i = round(sqrt(a_i·b_i) · 2^20)`` is a BIGINT
    (sqrt and multiply are IEEE exact-rounded, round is deterministic,
    so both engines produce the identical integer), and the cross-row
    sum is integer arithmetic. ``bc = Σfp / (2^20·sqrt(A·B))`` and
    ``hellinger = sqrt(greatest(1-bc, 0))`` are one double tail (the
    greatest() guards quantization pushing bc a hair above 1). The
    2^-20 quantum bounds the bc error by n_categories·2^-20 — a
    documented contract, not a hidden float flake.

    Plan: one full-data aggregate to (group, cat) cells; the global
    frame re-aggregates the CELLS (never rescans the data) and rides a
    broadcast; everything downstream is category-cardinality bounded.

    Output: (group, n_rows, bc_fp, bhatt, hellinger).
    """
    g, c = group_col, cat_col
    cells = (
        df.where(F.col(g).isNotNull() & F.col(c).isNotNull())
        .groupBy(F.col(g).alias("_g"), F.col(c).alias("_c"))
        .agg(F.count("*").alias("_a"))
        .localCheckpoint(eager=True)
    )
    glob = cells.groupBy("_c").agg(F.sum("_a").alias("_b"))
    tot = cells.agg(F.sum("_a").alias("_B"))
    fp = (
        cells.join(F.broadcast(glob), "_c")
        .select(
            "_g",
            "_a",
            F.round(
                F.sqrt((F.col("_a") * F.col("_b")).cast("double"))
                * F.lit(float(HELLINGER_FP_SCALE))
            )
            .cast("bigint")
            .alias("_fp"),
        )
        .groupBy(F.col("_g").alias(group_col))
        .agg(F.sum("_a").alias("n_rows"), F.sum("_fp").alias("bc_fp"))
    )
    out = fp.crossJoin(F.broadcast(tot))
    bc = F.col("bc_fp").cast("double") / (
        F.lit(float(HELLINGER_FP_SCALE))
        * F.sqrt(F.col("n_rows").cast("double") * F.col("_B").cast("double"))
    )
    return out.select(
        group_col,
        "n_rows",
        "bc_fp",
        bc.alias("bhatt"),
        F.sqrt(F.greatest(F.lit(1.0) - bc, F.lit(0.0))).alias("hellinger"),
    )


def hellinger_oracle_sql(source_sql: str, group_col: str, cat_col: str) -> str:
    """DuckDB mirror of :func:`hellinger_drift_by` (identical
    fixed-point quantization and double tail)."""
    g, c = group_col, cat_col
    S = HELLINGER_FP_SCALE
    bc = (
        f"CAST(bc_fp AS DOUBLE) / (CAST({S} AS DOUBLE)"
        f" * sqrt(CAST(n_rows AS DOUBLE) * CAST(_B AS DOUBLE)))"
    )
    return f"""
    WITH src0 AS ({source_sql}),
    cells AS (SELECT {g} AS _g, {c} AS _c, count(*) AS _a FROM src0
              WHERE {g} IS NOT NULL AND {c} IS NOT NULL GROUP BY 1, 2),
    gl AS (SELECT _c, sum(_a) AS _b FROM cells GROUP BY 1),
    tot AS (SELECT sum(_a) AS _B FROM cells),
    fp AS (
      SELECT _g AS {g}, sum(_a) AS n_rows,
             sum(CAST(round(sqrt(CAST(_a * _b AS DOUBLE))
                            * CAST({S} AS DOUBLE)) AS BIGINT)) AS bc_fp
      FROM cells JOIN gl USING (_c)
      GROUP BY 1
    )
    SELECT {g}, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(bc_fp AS BIGINT) AS bc_fp,
           {bc} AS bhatt,
           sqrt(greatest(1.0e0 - {bc}, 0.0e0)) AS hellinger
    FROM fp CROSS JOIN tot
    """


# -- seasonal-naive backtest --------------------------------------------------
def seasonal_naive_backtest(
    daily: DataFrame,
    group_col: str,
    date_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Backtest of the seasonal-naive forecast (y_hat_t = y_{t-season})
    against the plain naive (y_hat_t = y_{t-1}) on a pre-aggregated
    integer daily series — the MASE-style "is there even weekly
    structure worth modeling" gate before any real forecaster.

    Contract (the CUSUM/Theil-Sen precedent): input is the
    PRE-AGGREGATED per-(group, date) series with integer values, so
    absolute errors and their sums stay BIGINT; ``mase_ratio =
    Σ|e_season| / Σ|e_naive|`` is one division. Rows only score where
    the calendar gap to BOTH lags is exact (lag-1 row is yesterday,
    lag-season row is exactly `season` days back) — gaps drop the row
    on both engines rather than silently comparing across holes.

    Output: (group, n_scored, sae_season, sae_naive, mase_ratio).
    """
    g, d, v = group_col, date_col, value_col
    require_integral(daily, v, "seasonal_naive_backtest")
    w = Window.partitionBy(g).orderBy(d)
    lagged = daily.select(
        F.col(g).alias("_g"),
        F.col(d).alias("_d"),
        F.col(v).cast("long").alias("_v"),
        F.lag(F.col(v).cast("long"), 1).over(w).alias("_l1"),
        F.lag(F.col(d), 1).over(w).alias("_d1"),
        F.lag(F.col(v).cast("long"), season).over(w).alias("_ls"),
        F.lag(F.col(d), season).over(w).alias("_ds"),
    ).where(
        F.col("_l1").isNotNull()
        & F.col("_ls").isNotNull()
        & (F.datediff("_d", "_d1") == 1)
        & (F.datediff("_d", "_ds") == season)
    )
    return lagged.groupBy(F.col("_g").alias(group_col)).agg(
        F.count("*").alias("n_scored"),
        F.sum(F.abs(F.col("_v") - F.col("_ls"))).alias("sae_season"),
        F.sum(F.abs(F.col("_v") - F.col("_l1"))).alias("sae_naive"),
    ).select(
        group_col,
        "n_scored",
        "sae_season",
        "sae_naive",
        (
            F.col("sae_season").cast("double")
            / F.nullif(F.col("sae_naive").cast("double"), F.lit(0.0))
        ).alias("mase_ratio"),
    )


def seasonal_naive_oracle_sql(
    series_sql: str, group_col: str, date_col: str, value_col: str, season: int = 7
) -> str:
    """DuckDB mirror of :func:`seasonal_naive_backtest`."""
    g, d, v = group_col, date_col, value_col
    return f"""
    WITH series AS ({series_sql}),
    lagged AS (
      SELECT {g} AS _g, {d} AS _d, CAST({v} AS BIGINT) AS _v,
             lag(CAST({v} AS BIGINT), 1) OVER w AS _l1,
             lag({d}, 1) OVER w AS _d1,
             lag(CAST({v} AS BIGINT), {season}) OVER w AS _ls,
             lag({d}, {season}) OVER w AS _ds
      FROM series
      WINDOW w AS (PARTITION BY {g} ORDER BY {d})
    ),
    scored AS (
      SELECT * FROM lagged
      WHERE _l1 IS NOT NULL AND _ls IS NOT NULL
        AND date_diff('day', CAST(_d1 AS DATE), CAST(_d AS DATE)) = 1
        AND date_diff('day', CAST(_ds AS DATE), CAST(_d AS DATE)) = {season}
    )
    SELECT _g AS {g},
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(abs(_v - _ls)) AS BIGINT) AS sae_season,
           CAST(sum(abs(_v - _l1)) AS BIGINT) AS sae_naive,
           CAST(sum(abs(_v - _ls)) AS DOUBLE)
             / NULLIF(CAST(sum(abs(_v - _l1)) AS DOUBLE), 0.0) AS mase_ratio
    FROM scored GROUP BY 1
    """


# -- embedding-distribution drift ---------------------------------------------
def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    scale_bits: int = 20,
) -> DataFrame:
    """Embedding-distribution drift per label: cosine between the
    reference and current per-label CENTROIDS, plus the centroid-norm
    ratio — the "did my encoder/corpus shift" monitor an embedding
    pipeline runs between snapshots (a cosine well below 1 means the
    class's mean direction moved; a norm ratio far from 1 means its
    energy did).

    Exactness at scale (the PageRank/k-means integer-sufficient-
    statistic recipe): per-dimension components are quantized to
    2^``scale_bits`` fixed-point BIGINTs with floor (floor of an IEEE
    product is bit-identical cross-engine; round's half-case tie rule
    is NOT), so the per-label sums are EXACT integers — order-free,
    map-side combined, one aggregate pass per side with ``dim`` sum
    columns and zero row explosion. The only floats are the final
    fixed sequence: per-dim centroid division, a dim-index-ordered
    dot/norm fold (identical on both engines), two sqrts, two
    divisions. Quantization error is the measurement's resolution
    (~1e-6 per component), not a correctness hazard — both engines
    quantize identically.

    FULL OUTER on the label key: labels present on only one side ship
    with NULL cosine rather than dropping (new-class appearance IS
    drift).

    Output: (label, n_ref, n_cur, cos_centroid, norm_ratio).
    """
    r = embedding_label_sums(ref, label_col, vec_col, dim, scale_bits, tag="r")
    c = embedding_label_sums(cur, label_col, vec_col, dim, scale_bits, tag="c")
    return _embedding_drift_from_sums(r, c, dim)


def embedding_label_sums(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    scale_bits: int = 20,
    tag: str = "c",
) -> DataFrame:
    """The per-label integer sufficient statistics embedding_drift
    runs on: (label, n_<tag>, s<tag>_0..s<tag>_{dim-1}) with each
    component floor-quantized to 2^scale_bits fixed point. ADDITIVE
    (exact integer sums), so batches union-and-sum into the identical
    frame a single pass would produce."""
    # r16 (driver-side build cost): each composed-Column spelling of
    # these dim aggregate expressions cost ~6 py4j round trips; at
    # dim=64 the construction alone measured ~0.85 s per side per
    # build. One F.expr parse per column is one round trip and yields
    # the identical expression tree (element_at → cast double → one
    # IEEE multiply by the same power-of-two literal → floor → bigint
    # sum), so the results are bit-identical.
    mul = float(1 << scale_bits)
    q = [
        F.expr(
            f"cast(sum(cast(floor(cast(element_at({vec_col}, {i + 1}) as double)"
            f" * {mul!r}D) as bigint)) as bigint)"
        ).alias(f"s{tag}_{i}")
        for i in range(dim)
    ]
    return df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").cast("long").alias(f"n_{tag}"), *q
    )


def _embedding_drift_from_sums(r: DataFrame, c: DataFrame, dim: int) -> DataFrame:
    """Join the 'r'- and 'c'-tagged sufficient-statistic frames and
    emit the drift report (the float tail of embedding_drift).

    r16 (driver-side cost): the centroid arrays are built ONCE as
    named columns in a staging projection and the folds reference
    them by name, all via F.expr (one py4j round trip per expression
    instead of hundreds, and the analyzed tree no longer inlines the
    2·dim-division arrays into every consumer — the duplicated trees
    were what made each build+codegen of this tail cost seconds).
    The arithmetic is unchanged op for op: per-component
    cast-div-cast, index-order zip_with/transform folds from 0.0,
    one sqrt each, the same guarded divisions — bit-identical
    output."""
    j = r.join(c, "label", "full_outer")
    cr = "array(" + ", ".join(
        f"cast(sr_{i} as double) / cast(n_r as double)" for i in range(dim)
    ) + ")"
    cc = "array(" + ", ".join(
        f"cast(sc_{i} as double) / cast(n_c as double)" for i in range(dim)
    ) + ")"
    staged = j.select(
        "label",
        "n_r",
        "n_c",
        F.expr(cr).alias("_cr"),
        F.expr(cc).alias("_cc"),
    )
    dot = "aggregate(zip_with(_cr, _cc, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
    nr = "sqrt(aggregate(transform(_cr, a -> a * a), 0.0D, (acc, x) -> acc + x))"
    nc = "sqrt(aggregate(transform(_cc, a -> a * a), 0.0D, (acc, x) -> acc + x))"
    return staged.select(
        "label",
        F.coalesce(F.col("n_r"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.col("n_c"), F.lit(0)).cast("long").alias("n_cur"),
        F.expr(
            "case when n_r is not null and n_c is not null "
            f"then {dot} / ({nr} * {nc}) end"
        ).alias("cos_centroid"),
        F.expr(
            "case when n_r is not null and n_c is not null "
            f"then {nc} / {nr} end"
        ).alias("norm_ratio"),
    )


def embedding_drift_oracle_sql(
    ref_sql: str,
    cur_sql: str,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    scale_bits: int = 20,
) -> str:
    """DuckDB mirror of :func:`embedding_drift`: identical floor
    quantization, exact integer sums, identical dim-order folds."""
    mul = float(1 << scale_bits)

    def sums(tag: str) -> str:
        cols = ", ".join(
            f"CAST(sum(CAST(floor(CAST({vec_col}[{i + 1}] AS DOUBLE) * {mul!r}) "
            f"AS BIGINT)) AS BIGINT) AS s{tag}_{i}"
            for i in range(dim)
        )
        return cols

    cr = ", ".join(
        f"CAST(sr_{i} AS DOUBLE) / CAST(n_r AS DOUBLE)" for i in range(dim)
    )
    cc = ", ".join(
        f"CAST(sc_{i} AS DOUBLE) / CAST(n_c AS DOUBLE)" for i in range(dim)
    )
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {l}), (acc, x) -> acc + x)"
    )
    return f"""
    WITH r AS (
      SELECT {label_col} AS label, CAST(count(*) AS BIGINT) AS n_r, {sums('r')}
      FROM ({ref_sql}) rs GROUP BY {label_col}),
    c AS (
      SELECT {label_col} AS label, CAST(count(*) AS BIGINT) AS n_c, {sums('c')}
      FROM ({cur_sql}) cs GROUP BY {label_col}),
    j AS (SELECT * FROM r FULL OUTER JOIN c USING (label)),
    v AS (
      SELECT label, n_r, n_c,
             [{cr}] AS cr, [{cc}] AS cc
      FROM j)
    SELECT label,
           CAST(coalesce(n_r, 0) AS BIGINT) AS n_ref,
           CAST(coalesce(n_c, 0) AS BIGINT) AS n_cur,
           CASE WHEN n_r IS NOT NULL AND n_c IS NOT NULL THEN
             {fold.format(l='list_transform(list_zip(cr, cc), x -> x[1] * x[2])')}
             / (sqrt({fold.format(l='list_transform(cr, a -> a * a)')})
                * sqrt({fold.format(l='list_transform(cc, a -> a * a)')}))
           END AS cos_centroid,
           CASE WHEN n_r IS NOT NULL AND n_c IS NOT NULL THEN
             sqrt({fold.format(l='list_transform(cc, a -> a * a)')})
             / sqrt({fold.format(l='list_transform(cr, a -> a * a)')})
           END AS norm_ratio
    FROM v
    """
