"""Model-evaluation analytics: exact ROC-AUC, decile lift, threshold
confusion metrics, Cohen's kappa, NDCG@k.

The layer a training-data pipeline runs AFTER a model (quality
classifier, language-ID, ranking model) starts emitting scores over
the corpus: "is the score actually predictive, where do I cut, does
the ranker put the right documents on top, does the automatic labeler
agree with the human labels". The reference has no evaluation layer at
all; this extends the §2.3 north-star families (SURVEY.md) the same
way the drift family (operators/drift.py) extended monitoring.

Determinism contract (shared with drift.py / stats.py, proven over the
oracle suite): every metric stays in BIGINT arithmetic until the LAST
expression, which is a single IEEE exact-rounded division (or, for
NDCG, one fixed-shape polynomial over literal doubles both engines
parse identically — the Benford-probabilities precedent). No libm
transcendentals, no float summation across rows, NULL guards via
NULLIF on both engines.

Scale notes (SCALE.md "Round 8"): ranks are computed over DISTINCT
(group, score) values, never raw rows — the Mann-Whitney move
(drift.py:438) that bounds the window input by value cardinality.
Decile cuts are exact order statistics from a value-count frame (the
rfm_scores technique, stats.py:384), not ntile over a global sort.
Threshold metrics are ONE wide aggregate over one scan. Kappa runs
everything off a single C×C contingency frame, materialized once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .guards import require_integral

# 1/log2(i+1) for rank i = 1..10, embedded as repr() literals so Spark
# and DuckDB parse the identical IEEE doubles (no runtime log2 call —
# the engines' libm implementations are allowed to differ in the last
# ulp; literals are not).
NDCG_DISCOUNTS: tuple[float, ...] = (
    1.0,
    0.6309297535714575,
    0.5,
    0.43067655807339306,
    0.38685280723454163,
    0.3562071871080222,
    0.3333333333333333,
    0.31546487678572877,
    0.3010299956639812,
    0.2890648263178879,
)


# -- exact ROC-AUC ------------------------------------------------------------
def roc_auc_by(
    df: DataFrame, group_col: str, label_col: str, score_col: str
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` predicting binary ``label_col``,
    per ``group_col`` segment — via the rank identity
    ``AUC = U / (n_pos * n_neg)`` with midranks for ties.

    Integer core: a row at score v has twice-its-average-rank
    ``2 * (#smaller in segment) + ties + 1`` (the Mann-Whitney trick,
    drift.py:438, but ranked WITHIN each segment between the two label
    classes rather than one segment vs the rest). ``two_u`` is exactly
    2U as BIGINT; ``auc = two_u / (2 * n_pos * n_neg)`` is one IEEE
    division, NULL when a segment is single-class.

    Plan: one aggregate to DISTINCT (group, score) with per-value
    positive counts (the only full-data shuffle), a cumulative window
    per group over distinct scores (bounded by value cardinality), and
    a final per-group aggregate that reuses the group partitioning.

    Output: (group, n_pos, n_neg, two_u, auc).
    """
    g, y, s = group_col, label_col, score_col
    base = df.where(
        F.col(g).isNotNull() & F.col(y).isNotNull() & F.col(s).isNotNull()
    ).select(
        F.col(g).alias("_g"),
        F.col(y).cast("long").alias("_y"),
        F.col(s).alias("_s"),
    )
    vals = base.groupBy("_g", "_s").agg(
        F.count("*").alias("_cnt"), F.sum("_y").alias("_pos")
    )
    w = (
        Window.partitionBy("_g")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vals.select(
        "_g",
        "_cnt",
        "_pos",
        (2 * F.coalesce(F.sum("_cnt").over(w), F.lit(0)) + F.col("_cnt") + 1).alias(
            "_two_rank"
        ),
    )
    per_g = ranked.groupBy(F.col("_g").alias(group_col)).agg(
        F.sum("_pos").alias("n_pos"),
        F.sum(F.col("_cnt") - F.col("_pos")).alias("n_neg"),
        F.sum(F.col("_pos") * F.col("_two_rank")).alias("_two_r_pos"),
    )
    two_u = F.col("_two_r_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return per_g.select(
        group_col,
        "n_pos",
        "n_neg",
        two_u.alias("two_u"),
        (
            two_u.cast("double")
            / F.nullif(
                (2 * F.col("n_pos") * F.col("n_neg")).cast("double"), F.lit(0.0)
            )
        ).alias("auc"),
    )


def roc_auc_oracle_sql(
    source_sql: str, group_col: str, label_col: str, score_col: str
) -> str:
    """DuckDB mirror of :func:`roc_auc_by` (identical integer core)."""
    g, y, s = group_col, label_col, score_col
    return f"""
    WITH src0 AS ({source_sql}),
    src AS (SELECT {g} AS _g, CAST({y} AS BIGINT) AS _y, {s} AS _s
            FROM src0
            WHERE {g} IS NOT NULL AND {y} IS NOT NULL AND {s} IS NOT NULL),
    vals AS (SELECT _g, _s, count(*) AS _cnt, sum(_y) AS _pos
             FROM src GROUP BY 1, 2),
    ranked AS (
      SELECT _g, _cnt, _pos,
             2 * COALESCE(sum(_cnt) OVER (PARTITION BY _g ORDER BY _s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + _cnt + 1 AS _two_rank
      FROM vals
    ),
    per_g AS (
      SELECT _g, sum(_pos) AS n_pos, sum(_cnt - _pos) AS n_neg,
             sum(_pos * _two_rank) AS _two_r_pos
      FROM ranked GROUP BY 1
    )
    SELECT _g AS {g},
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           CAST(_two_r_pos - n_pos * (n_pos + 1) AS BIGINT) AS two_u,
           CAST(_two_r_pos - n_pos * (n_pos + 1) AS DOUBLE)
             / NULLIF(CAST(2 * n_pos * n_neg AS DOUBLE), 0.0) AS auc
    FROM per_g
    """


# -- decile lift --------------------------------------------------------------
def decile_lift(
    df: DataFrame, score_col: str, label_col: str, n_buckets: int = 10
) -> DataFrame:
    """Decile lift / gains table: bucket the population into ``n_buckets``
    score deciles (decile 1 = highest scores) and report per-decile and
    cumulative response, with lift vs the base rate.

    Bucketing is by EXACT order-statistic cuts from a value-count frame
    (the rfm_scores technique, stats.py:384): cut k is the smallest
    score whose cumulative count reaches ceil(k*n/B). Tied scores land
    in one bucket — deterministic in both engines, unlike ntile, which
    splits ties by physical row order. Bucket sizes are therefore
    approximately-equal, exactly reproducible.

    Integer core: per-decile (n, pos) counts; ``resp_rate = pos/n`` and
    ``cum_lift = (cum_pos*tot_n)/(cum_n*tot_pos)`` are single IEEE
    divisions of BIGINT products. The cumulative window runs over
    <= n_buckets rows.

    Output: (decile, n, pos, resp_rate, cum_lift), decile ascending.
    """
    s, y, B = score_col, label_col, n_buckets
    base = df.where(F.col(s).isNotNull() & F.col(y).isNotNull()).select(
        F.col(s).alias("_s"), F.col(y).cast("long").alias("_y")
    )
    counts = base.groupBy("_s").agg(
        F.count("*").alias("_cnt"), F.sum("_y").alias("_pos")
    )
    # r17: the bucket is PER-ROW ARITHMETIC off the cumulative window.
    # With cut_k = min{s : cum(s)·B ≥ n·k}, a value s exceeds cut_k
    # iff its PREDECESSOR already met quota k — (cum−cnt)·B ≥ n·k — so
    # #{k ∈ 1..B−1 : s > cut_k} = min((cum−cnt)·B div n, B−1) exactly
    # (integer floor division of nonnegative BIGINTs). That replaces
    # the old three-branch pipeline (cuts aggregate + totals aggregate
    # + two broadcast crossJoins over an eagerly-checkpointed counts
    # frame) with ONE linear pass: the group total rides the same
    # global window, nothing is materialized, identical buckets
    # (0-row exceptAll diff, oracle unchanged).
    wcum = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = counts.select(
        "_s",
        "_cnt",
        "_pos",
        F.sum("_cnt").over(wcum).alias("_cum"),
        F.sum("_cnt").over(wall).alias("_n"),
    )
    bucket_asc = F.lit(1) + F.least(
        F.expr(f"((_cum - _cnt) * {B}) div _n"), F.lit(B - 1)
    ).cast("int")
    per_decile = (
        cum.withColumn("decile", (F.lit(B + 1) - bucket_asc).cast("long"))
        .groupBy("decile")
        .agg(F.sum("_cnt").alias("n"), F.sum("_pos").alias("pos"))
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum_n = F.sum("n").over(wd)
    cum_pos = F.sum("pos").over(wd)
    tot_n = F.sum("n").over(wall)
    tot_pos = F.sum("pos").over(wall)
    return per_decile.select(
        "decile",
        "n",
        "pos",
        (
            F.col("pos").cast("double") / F.col("n").cast("double")
        ).alias("resp_rate"),
        (
            (cum_pos * tot_n).cast("double")
            / F.nullif((cum_n * tot_pos).cast("double"), F.lit(0.0))
        ).alias("cum_lift"),
    )


def decile_lift_oracle_sql(
    source_sql: str, score_col: str, label_col: str, n_buckets: int = 10
) -> str:
    """DuckDB mirror of :func:`decile_lift` (same cuts, same buckets)."""
    s, y, B = score_col, label_col, n_buckets
    cut_exprs = ", ".join(
        f"min(CASE WHEN _cum * {B} >= _n * {k} THEN _s END) AS _t{k}"
        for k in range(1, B)
    )
    bucket = " + ".join(
        f"CAST(_s > _t{k} AS INTEGER)" for k in range(1, B)
    )
    return f"""
    WITH src0 AS ({source_sql}),
    src AS (SELECT {s} AS _s, CAST({y} AS BIGINT) AS _y FROM src0
            WHERE {s} IS NOT NULL AND {y} IS NOT NULL),
    counts AS (SELECT _s, count(*) AS _cnt, sum(_y) AS _pos
               FROM src GROUP BY 1),
    cum AS (SELECT _s, _cnt, _pos,
                   sum(_cnt) OVER (ORDER BY _s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum
            FROM counts),
    tot AS (SELECT sum(_cnt) AS _n FROM counts),
    cuts AS (SELECT {cut_exprs} FROM cum CROSS JOIN tot),
    per_decile AS (
      SELECT CAST({B} + 1 - (1 + {bucket}) AS BIGINT) AS decile,
             sum(_cnt) AS n, sum(_pos) AS pos
      FROM cum CROSS JOIN cuts
      GROUP BY 1
    )
    SELECT decile, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS resp_rate,
           CAST(sum(pos) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              * sum(n) OVER () AS DOUBLE)
           / NULLIF(CAST(sum(n) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              * sum(pos) OVER () AS DOUBLE), 0.0) AS cum_lift
    FROM per_decile
    """


# -- threshold confusion metrics ----------------------------------------------
def threshold_metrics(
    df: DataFrame, score_col: str, label_col: str, thresholds: tuple[int, ...]
) -> DataFrame:
    """Precision / recall / F1 at each literal score threshold — the
    "where do I cut the quality score" sweep.

    ONE wide aggregate over ONE scan computes (tp, fp, fn, tn) for
    every threshold simultaneously (no per-threshold re-scan, no join
    against an exploded threshold table — the data is read once however
    many thresholds are swept), then the 1-row frame is unpivoted to
    one row per threshold. ``f1 = 2*tp / (2*tp + fp + fn)`` — integer
    rationals, single divisions, NULLIF guards.

    Output: (threshold, tp, fp, fn, tn, precision, recall, f1).
    """
    s, y = score_col, label_col
    base = df.where(F.col(s).isNotNull() & F.col(y).isNotNull()).select(
        F.col(s).alias("_s"), (F.col(y).cast("long") == 1).alias("_pos")
    )
    aggs = []
    for i, t in enumerate(thresholds):
        pred = F.col("_s") >= F.lit(t)
        aggs += [
            F.sum((pred & F.col("_pos")).cast("long")).alias(f"_tp{i}"),
            F.sum((pred & ~F.col("_pos")).cast("long")).alias(f"_fp{i}"),
            F.sum((~pred & F.col("_pos")).cast("long")).alias(f"_fn{i}"),
            F.sum((~pred & ~F.col("_pos")).cast("long")).alias(f"_tn{i}"),
        ]
    wide = base.agg(*aggs)
    rows = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(t)).cast("long").alias("threshold"),
                        F.col(f"_tp{i}").alias("tp"),
                        F.col(f"_fp{i}").alias("fp"),
                        F.col(f"_fn{i}").alias("fn"),
                        F.col(f"_tn{i}").alias("tn"),
                    )
                    for i, t in enumerate(thresholds)
                ]
            )
        ).alias("_m")
    ).select("_m.*")
    return rows.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        (
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0))
        ).alias("precision"),
        (
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0))
        ).alias("recall"),
        (
            (2 * F.col("tp")).cast("double")
            / F.nullif(
                (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
                F.lit(0.0),
            )
        ).alias("f1"),
    )


def threshold_metrics_oracle_sql(
    source_sql: str, score_col: str, label_col: str, thresholds: tuple[int, ...]
) -> str:
    """DuckDB mirror of :func:`threshold_metrics` (unnest + one agg per
    threshold group — the oracle may re-group; values are identical)."""
    s, y = score_col, label_col
    tlist = ", ".join(str(int(t)) for t in thresholds)
    return f"""
    WITH src0 AS ({source_sql}),
    src AS (SELECT {s} AS _s, CAST({y} AS BIGINT) = 1 AS _pos FROM src0
            WHERE {s} IS NOT NULL AND {y} IS NOT NULL),
    m AS (
      SELECT CAST(t AS BIGINT) AS threshold,
             sum(CASE WHEN _s >= t AND _pos THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN _s >= t AND NOT _pos THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN _s < t AND _pos THEN 1 ELSE 0 END) AS fn,
             sum(CASE WHEN _s < t AND NOT _pos THEN 1 ELSE 0 END) AS tn
      FROM src CROSS JOIN unnest([{tlist}]) AS u(t)
      GROUP BY 1
    )
    SELECT threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0.0) AS precision,
           CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fn AS DOUBLE), 0.0) AS recall,
           CAST(2 * tp AS DOUBLE)
             / NULLIF(CAST(2 * tp + fp + fn AS DOUBLE), 0.0) AS f1
    FROM m
    """


# -- Cohen's kappa ------------------------------------------------------------
def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa agreement between two categorical labelings over
    the same rows (e.g. an automatic labeler vs the human column) —
    chance-corrected: ``kappa = (po - pe) / (1 - pe)``.

    Integer core: with n total, ``agree`` the diagonal count and
    ``sum_rc = Σ_c row_marginal(c) * col_marginal(c)``,
    ``kappa = (n*agree - sum_rc) / (n² - sum_rc)`` — BIGINT numerator
    and denominator, one IEEE division, NULL when pe = 1 (degenerate
    single-category data).

    Plan: ONE aggregate of the big table to the C×C contingency frame
    (the only full-data shuffle), materialized once via eager
    localCheckpoint (the graph.py connected-components precedent) so
    the three tiny downstream aggregates (totals, row marginals, col
    marginals) do not re-scan the source. Marginal products use a FULL
    OUTER join on category: a category used by only one rater
    contributes 0 but must not be dropped.

    Output: one row (n, agree, sum_rc, po, pe, kappa).
    """
    a, b = a_col, b_col
    cells = (
        df.where(F.col(a).isNotNull() & F.col(b).isNotNull())
        .groupBy(F.col(a).alias("_a"), F.col(b).alias("_b"))
        .agg(F.count("*").alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    stats = cells.agg(
        F.sum("_cnt").alias("n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_cnt")).otherwise(0)).alias(
            "agree"
        ),
    )
    rowm = cells.groupBy(F.col("_a").alias("_c")).agg(F.sum("_cnt").alias("_rm"))
    colm = cells.groupBy(F.col("_b").alias("_c")).agg(F.sum("_cnt").alias("_cm"))
    rc = (
        rowm.join(colm, "_c", "full_outer")
        .select(
            (
                F.coalesce(F.col("_rm"), F.lit(0))
                * F.coalesce(F.col("_cm"), F.lit(0))
            ).alias("_p")
        )
        .agg(F.sum("_p").alias("sum_rc"))
    )
    out = stats.crossJoin(F.broadcast(rc))
    po = F.col("agree").cast("double") / F.col("n").cast("double")
    pe = F.col("sum_rc").cast("double") / (F.col("n") * F.col("n")).cast("double")
    kappa = (F.col("n") * F.col("agree") - F.col("sum_rc")).cast("double") / F.nullif(
        (F.col("n") * F.col("n") - F.col("sum_rc")).cast("double"), F.lit(0.0)
    )
    return out.select("n", "agree", "sum_rc", po.alias("po"), pe.alias("pe"), kappa.alias("kappa"))


def cohens_kappa_oracle_sql(source_sql: str, a_col: str, b_col: str) -> str:
    """DuckDB mirror of :func:`cohens_kappa`."""
    a, b = a_col, b_col
    return f"""
    WITH src0 AS ({source_sql}),
    cells AS (SELECT {a} AS _a, {b} AS _b, count(*) AS _cnt FROM src0
              WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2),
    stats AS (SELECT sum(_cnt) AS n,
                     sum(CASE WHEN _a = _b THEN _cnt ELSE 0 END) AS agree
              FROM cells),
    rowm AS (SELECT _a AS _c, sum(_cnt) AS _rm FROM cells GROUP BY 1),
    colm AS (SELECT _b AS _c, sum(_cnt) AS _cm FROM cells GROUP BY 1),
    rc AS (SELECT sum(COALESCE(_rm, 0) * COALESCE(_cm, 0)) AS sum_rc
           FROM rowm FULL OUTER JOIN colm USING (_c))
    SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
           CAST(sum_rc AS BIGINT) AS sum_rc,
           CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
           CAST(sum_rc AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
           CAST(n * agree - sum_rc AS DOUBLE)
             / NULLIF(CAST(n * n - sum_rc AS DOUBLE), 0.0) AS kappa
    FROM stats CROSS JOIN rc
    """


# -- NDCG@k -------------------------------------------------------------------
def ndcg_at_k(
    df: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """NDCG@k of ``score_col``'s ranking against graded relevance
    ``rel_col``, per ``group_col`` (one "query" per group).

    Position discounts 1/log2(i+1) are literal doubles
    (:data:`NDCG_DISCOUNTS` — the Benford precedent: no runtime log2).
    DCG is NOT a float sum across rows: the top-k relevances are
    pivoted into k integer columns (``max(CASE WHEN rn=i THEN rel)``)
    and DCG/IDCG are each ONE fixed-shape polynomial
    ``Σ d_i * rel_i`` evaluated left-to-right over BIGINTs and literal
    coefficients — bit-identical in both engines. IDCG ranks the same
    group by true relevance (ties by id) — the ideal permutation.

    Plan: two windows over the same group partitioning (one Exchange;
    the second window reuses it with a re-sort), rank-filtered to k
    rows per group before the pivot aggregate (WindowGroupLimit).

    Output: (group, dcg, idcg, ndcg).
    """
    if k > len(NDCG_DISCOUNTS):
        raise ValueError(f"k={k} exceeds precomputed discounts ({len(NDCG_DISCOUNTS)})")
    g, i, s, r = group_col, id_col, score_col, rel_col
    base = df.where(
        F.col(g).isNotNull()
        & F.col(i).isNotNull()
        & F.col(s).isNotNull()
        & F.col(r).isNotNull()
    ).select(
        F.col(g).alias("_g"),
        F.col(i).alias("_id"),
        F.col(s).alias("_s"),
        F.col(r).cast("long").alias("_r"),
    )
    w_model = Window.partitionBy("_g").orderBy(
        F.col("_s").desc(), F.col("_id").asc()
    )
    w_ideal = Window.partitionBy("_g").orderBy(
        F.col("_r").desc(), F.col("_id").asc()
    )
    ranked = base.select(
        "_g",
        "_r",
        F.row_number().over(w_model).alias("_rn"),
        F.row_number().over(w_ideal).alias("_rni"),
    ).where((F.col("_rn") <= k) | (F.col("_rni") <= k))

    def poly(rel_cols: list[Column]) -> Column:
        expr = F.lit(0.0)
        for pos, c in enumerate(rel_cols):
            expr = expr + F.lit(NDCG_DISCOUNTS[pos]) * F.coalesce(
                c, F.lit(0)
            ).cast("double")
        return expr

    pivoted = ranked.groupBy(F.col("_g").alias(group_col)).agg(
        *[
            F.max(F.when(F.col("_rn") == pos, F.col("_r"))).alias(f"_m{pos}")
            for pos in range(1, k + 1)
        ],
        *[
            F.max(F.when(F.col("_rni") == pos, F.col("_r"))).alias(f"_i{pos}")
            for pos in range(1, k + 1)
        ],
    )
    dcg = poly([F.col(f"_m{pos}") for pos in range(1, k + 1)])
    idcg = poly([F.col(f"_i{pos}") for pos in range(1, k + 1)])
    return pivoted.select(
        group_col,
        dcg.alias("dcg"),
        idcg.alias("idcg"),
        (dcg / F.nullif(idcg, F.lit(0.0))).alias("ndcg"),
    )


def ndcg_oracle_sql(
    source_sql: str,
    group_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> str:
    """DuckDB mirror of :func:`ndcg_at_k` — same pivot, same literal
    polynomial, same left-to-right association order."""
    if k > len(NDCG_DISCOUNTS):
        raise ValueError(f"k={k} exceeds precomputed discounts ({len(NDCG_DISCOUNTS)})")
    g, i, s, r = group_col, id_col, score_col, rel_col
    m_cols = ", ".join(
        f"max(CASE WHEN _rn = {pos} THEN _r END) AS _m{pos}"
        for pos in range(1, k + 1)
    )
    i_cols = ", ".join(
        f"max(CASE WHEN _rni = {pos} THEN _r END) AS _i{pos}"
        for pos in range(1, k + 1)
    )

    def poly(prefix: str) -> str:
        # the e0 suffix forces a DOUBLE literal: DuckDB parses a bare
        # decimal as DECIMAL(p,s), and its DECIMAL->DOUBLE conversion
        # is off by one ulp for e.g. 0.38685280723454163 — the direct
        # double parse (fast_float) is correctly rounded and matches
        # Spark's F.lit bit-for-bit
        terms = [
            f"{NDCG_DISCOUNTS[pos - 1]!r}e0 * CAST(COALESCE(_{prefix}{pos}, 0) AS DOUBLE)"
            for pos in range(1, k + 1)
        ]
        # left-to-right fold, same association order as the Spark side
        expr = "0.0e0"
        for t in terms:
            expr = f"({expr} + {t})"
        return expr

    return f"""
    WITH src0 AS ({source_sql}),
    base AS (SELECT {g} AS _g, {i} AS _id, {s} AS _s, CAST({r} AS BIGINT) AS _r
             FROM src0
             WHERE {g} IS NOT NULL AND {i} IS NOT NULL
               AND {s} IS NOT NULL AND {r} IS NOT NULL),
    ranked AS (
      SELECT _g, _r,
             row_number() OVER (PARTITION BY _g ORDER BY _s DESC, _id ASC) AS _rn,
             row_number() OVER (PARTITION BY _g ORDER BY _r DESC, _id ASC) AS _rni
      FROM base
    ),
    pivoted AS (
      SELECT _g AS {g}, {m_cols}, {i_cols}
      FROM ranked WHERE _rn <= {k} OR _rni <= {k}
      GROUP BY 1
    )
    SELECT {g}, dcg, idcg, dcg / NULLIF(idcg, 0.0) AS ndcg
    FROM (SELECT {g}, {poly('m')} AS dcg, {poly('i')} AS idcg FROM pivoted) z
    """


# -- Spearman rank correlation ------------------------------------------------
def spearman_by(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Spearman rank correlation of ``x_col`` vs ``y_col`` per
    ``group_col`` segment — Pearson over midranks, with the whole core
    in BIGINT twice-midranks (``2*avg_rank`` is always an integer, so
    tie handling never touches floats).

    Integer core: each distinct value's twice-midrank is
    ``2*(#smaller) + ties + 1`` (the :func:`roc_auc_by` identity),
    computed per axis over the DISTINCT (group, value) frame and joined
    back to rows. The five Pearson moments (Σx, Σy, Σx², Σy², Σxy over
    twice-midranks) are BIGINT sums; rho is one fixed-shape double
    expression, NULL on zero variance.

    Overflow contract (the q137/Mann-Whitney cap): twice-midranks are
    <= 2n, so Σx·y <= 4n³ and the n·Σxy product needs ~n⁴ < 2^63 —
    safe to ~50k rows PER GROUP. Beyond that, rank against the
    distinct-value frame's quantile grid first (ks_drift_binned's
    register-scale move) — the per-segment caps are documented, not
    silent.

    Plan (r17): ONE aggregate of the rows to the joint
    (group, x, y, cnt) frame — the only full-data shuffle and still
    value-cardinality bounded — then BOTH twice-midranks come from
    window-frame arithmetic over that one frame:
    ``tr = 2·cume − peers + 1`` where ``cume`` is the peer-inclusive
    running Σcnt (the default RANGE frame) and ``peers`` the
    RANGE CURRENT ROW..CURRENT ROW Σcnt, i.e.
    ``2·(#less + ties) − ties + 1 = 2·#less + ties + 1`` — the exact
    identity the old per-axis marginal frames computed. This removes
    both marginal aggregates AND both rank joins (the r16 writeup's
    "intrinsic" row joins were not: weighting every moment by the
    joint count replaces the row pairing — Σ cnt·trx·try over joint
    values IS Σ trx·try over rows, BIGINT sums both). The final
    aggregate reuses the window's group partitioning, so after the
    joint aggregate the whole tail is one Exchange. Measured at
    sf0.1: q173 2.0-2.3 → 1.63-1.69 s, 0-row diff.

    Output: (group, n, rho).
    """
    g, x, y = group_col, x_col, y_col
    base = df.where(
        F.col(g).isNotNull() & F.col(x).isNotNull() & F.col(y).isNotNull()
    ).select(F.col(g).alias("_g"), F.col(x).alias("_x"), F.col(y).alias("_y"))
    joint = base.groupBy("_g", "_x", "_y").agg(F.count("*").alias("_jc"))

    def two_rank(col: str, out: str) -> Column:
        w = Window.partitionBy("_g").orderBy(col)
        cume = F.sum("_jc").over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        peers = F.sum("_jc").over(
            w.rangeBetween(Window.currentRow, Window.currentRow)
        )
        return (2 * cume - peers + 1).alias(out)

    ranked = joint.select("_g", "_jc", two_rank("_x", "_trx"), "_y").select(
        "_g", "_jc", "_trx", two_rank("_y", "_try")
    )
    m = ranked.groupBy(F.col("_g").alias(group_col)).agg(
        F.sum("_jc").alias("n"),
        F.sum(F.col("_jc") * F.col("_trx")).alias("_sx"),
        F.sum(F.col("_jc") * F.col("_try")).alias("_sy"),
        F.sum(F.col("_jc") * F.col("_trx") * F.col("_trx")).alias("_sxx"),
        F.sum(F.col("_jc") * F.col("_try") * F.col("_try")).alias("_syy"),
        F.sum(F.col("_jc") * F.col("_trx") * F.col("_try")).alias("_sxy"),
    )
    num = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    )
    return m.select(
        group_col, "n", (num / F.nullif(den, F.lit(0.0))).alias("rho")
    )


def spearman_oracle_sql(
    source_sql: str, group_col: str, x_col: str, y_col: str
) -> str:
    """DuckDB mirror of :func:`spearman_by` (identical integer core and
    expression shape)."""
    g, x, y = group_col, x_col, y_col
    return f"""
    WITH src0 AS ({source_sql}),
    base AS (SELECT {g} AS _g, {x} AS _x, {y} AS _y FROM src0
             WHERE {g} IS NOT NULL AND {x} IS NOT NULL AND {y} IS NOT NULL),
    rx AS (
      SELECT _g, _x,
             2 * COALESCE(sum(_cnt) OVER (PARTITION BY _g ORDER BY _x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + _cnt + 1 AS _trx
      FROM (SELECT _g, _x, count(*) AS _cnt FROM base GROUP BY 1, 2)
    ),
    ry AS (
      SELECT _g, _y,
             2 * COALESCE(sum(_cnt) OVER (PARTITION BY _g ORDER BY _y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + _cnt + 1 AS _try
      FROM (SELECT _g, _y, count(*) AS _cnt FROM base GROUP BY 1, 2)
    ),
    m AS (
      SELECT b._g, count(*) AS n,
             sum(_trx) AS _sx, sum(_try) AS _sy,
             sum(_trx * _trx) AS _sxx, sum(_try * _try) AS _syy,
             sum(_trx * _try) AS _sxy
      FROM base b
      JOIN rx ON rx._g = b._g AND rx._x = b._x
      JOIN ry ON ry._g = b._g AND ry._y = b._y
      GROUP BY 1
    )
    SELECT _g AS {g}, CAST(n AS BIGINT) AS n,
           CAST(n * _sxy - _sx * _sy AS DOUBLE)
             / NULLIF(sqrt(CAST(n * _sxx - _sx * _sx AS DOUBLE))
                      * sqrt(CAST(n * _syy - _sy * _sy AS DOUBLE)), 0.0) AS rho
    FROM m
    """


# -- Welch's t-test -----------------------------------------------------------
def welch_t_by(
    df: DataFrame, group_col: str, class_col: str, value_col: str
) -> DataFrame:
    """Welch's unequal-variance t statistic between the two classes of
    binary ``class_col`` within each ``group_col`` segment, plus the
    Welch–Satterthwaite degrees of freedom. No p-value on purpose: the
    incomplete beta is libm territory (the engines may differ in the
    last ulp) — downstream thresholds on |t| with the dof are exact.

    Integer core: per segment, ONE conditional aggregate over ONE scan
    yields the six moments (n, Σv, Σv²) per class as BIGINTs. The
    t/dof expressions are fixed-shape doubles over those moments with
    the Σv² product cast to double BEFORE multiplying (``s*s`` in
    BIGINT would overflow first) — both engines evaluate the identical
    exact-rounded tree. NULL when either class has < 2 rows or the
    pooled standard error is 0.

    Overflow contract: Σv² needs ``n * max(v)² < 2^63`` per segment —
    pass dollar-scale (not cent-scale) values for money. Documented,
    not silent: cents on sf100 would wrap.

    Output: (group, n1, n0, mean1, mean0, t_stat, welch_dof).
    """
    g, c, v = group_col, class_col, value_col
    require_integral(df, v, "welch_t_by")
    base = df.where(
        F.col(g).isNotNull() & F.col(c).isNotNull() & F.col(v).isNotNull()
    ).select(
        F.col(g).alias("_g"),
        (F.col(c).cast("long") == 1).alias("_c1"),
        F.col(v).cast("long").alias("_v"),
    )
    m = base.groupBy(F.col("_g").alias(group_col)).agg(
        F.sum(F.col("_c1").cast("long")).alias("n1"),
        F.sum((~F.col("_c1")).cast("long")).alias("n0"),
        F.sum(F.when(F.col("_c1"), F.col("_v")).otherwise(0)).alias("_s1"),
        F.sum(F.when(~F.col("_c1"), F.col("_v")).otherwise(0)).alias("_s0"),
        F.sum(F.when(F.col("_c1"), F.col("_v") * F.col("_v")).otherwise(0)).alias(
            "_q1"
        ),
        F.sum(F.when(~F.col("_c1"), F.col("_v") * F.col("_v")).otherwise(0)).alias(
            "_q0"
        ),
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    s1d, s0d = F.col("_s1").cast("double"), F.col("_s0").cast("double")
    q1d, q0d = F.col("_q1").cast("double"), F.col("_q0").cast("double")
    m1 = s1d / n1d
    m0 = s0d / n0d
    v1 = (q1d - s1d * s1d / n1d) / (n1d - F.lit(1.0))
    v0 = (q0d - s0d * s0d / n0d) / (n0d - F.lit(1.0))
    se1 = v1 / n1d
    se0 = v0 / n0d
    se2 = se1 + se0
    ok = (F.col("n1") > 1) & (F.col("n0") > 1)
    t = F.when(ok, (m1 - m0) / F.nullif(F.sqrt(se2), F.lit(0.0)))
    dof = F.when(
        ok,
        se2
        * se2
        / F.nullif(
            se1 * se1 / (n1d - F.lit(1.0)) + se0 * se0 / (n0d - F.lit(1.0)),
            F.lit(0.0),
        ),
    )
    return m.select(
        group_col,
        "n1",
        "n0",
        F.when(F.col("n1") > 0, m1).alias("mean1"),
        F.when(F.col("n0") > 0, m0).alias("mean0"),
        t.alias("t_stat"),
        dof.alias("welch_dof"),
    )


def welch_t_oracle_sql(
    source_sql: str, group_col: str, class_col: str, value_col: str
) -> str:
    """DuckDB mirror of :func:`welch_t_by` — identical moment casts and
    expression association order."""
    g, c, v = group_col, class_col, value_col
    m1 = "(CAST(_s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    m0 = "(CAST(_s0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    v1 = (
        "((CAST(_q1 AS DOUBLE) - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE)"
        " / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0e0))"
    )
    v0 = (
        "((CAST(_q0 AS DOUBLE) - CAST(_s0 AS DOUBLE) * CAST(_s0 AS DOUBLE)"
        " / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0e0))"
    )
    se1 = f"({v1} / CAST(n1 AS DOUBLE))"
    se0 = f"({v0} / CAST(n0 AS DOUBLE))"
    se2 = f"({se1} + {se0})"
    return f"""
    WITH src0 AS ({source_sql}),
    base AS (SELECT {g} AS _g, CAST({c} AS BIGINT) = 1 AS _c1,
                    CAST({v} AS BIGINT) AS _v
             FROM src0
             WHERE {g} IS NOT NULL AND {c} IS NOT NULL AND {v} IS NOT NULL),
    m AS (
      SELECT _g,
             sum(CASE WHEN _c1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN NOT _c1 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN _c1 THEN _v ELSE 0 END) AS _s1,
             sum(CASE WHEN NOT _c1 THEN _v ELSE 0 END) AS _s0,
             sum(CASE WHEN _c1 THEN _v * _v ELSE 0 END) AS _q1,
             sum(CASE WHEN NOT _c1 THEN _v * _v ELSE 0 END) AS _q0
      FROM base GROUP BY 1
    )
    SELECT _g AS {g},
           CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           CASE WHEN n1 > 0 THEN {m1} END AS mean1,
           CASE WHEN n0 > 0 THEN {m0} END AS mean0,
           CASE WHEN n1 > 1 AND n0 > 1 THEN
             ({m1} - {m0}) / NULLIF(sqrt({se2}), 0.0)
           END AS t_stat,
           CASE WHEN n1 > 1 AND n0 > 1 THEN
             {se2} * {se2}
               / NULLIF({se1} * {se1} / (CAST(n1 AS DOUBLE) - 1.0e0)
                        + {se0} * {se0} / (CAST(n0 AS DOUBLE) - 1.0e0), 0.0)
           END AS welch_dof
    FROM m
    """


# -- rank-calibration reliability bins ----------------------------------------
def rank_calibration_bins(
    df: DataFrame, score_col: str, label_col: str, n_bins: int = 10
) -> DataFrame:
    """Reliability table of the score's EMPIRICAL PERCENTILE as a
    predicted probability: bucket the population into ``n_bins`` score
    bins by exact order-statistic cuts (the :func:`decile_lift`
    technique), then compare each bin's mean score percentile
    (``conf``) to its observed positive rate (``acc``). A calibrated
    monotone score has |acc - conf| near 0 in every bin; the per-bin
    ``gap`` column is the ECE integrand without the float cross-bin
    sum (the caller can weight-sum 10 rows; the ENGINE never sums
    doubles across rows).

    Integer core: percentiles come from the same twice-midrank frame
    as :func:`roc_auc_by`; the per-bin rank mass Σ cnt·two_rank is a
    BIGINT; ``conf = rank_mass / (2·N·n_bin)`` and ``acc = pos/n`` are
    single divisions, ``gap = abs(acc - conf)`` exact.

    Output: (bin, n, pos, conf, acc, gap), bin 1 = lowest scores.
    """
    s, y, B = score_col, label_col, n_bins
    base = df.where(F.col(s).isNotNull() & F.col(y).isNotNull()).select(
        F.col(s).alias("_s"), F.col(y).cast("long").alias("_y")
    )
    counts = base.groupBy("_s").agg(
        F.count("*").alias("_cnt"), F.sum("_y").alias("_pos")
    )
    # r17: same linearization as decile_lift — the bin is per-row
    # arithmetic off the cumulative window (see decile_lift for the
    # cut-equivalence proof), and the population total rides the same
    # global window, so the cuts/tot aggregates, both crossJoins and
    # the eager checkpoint disappear. Identical bins and values.
    wcum = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    wprev = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    cum = counts.select(
        "_s",
        "_cnt",
        "_pos",
        F.sum("_cnt").over(wcum).alias("_cum"),
        F.sum("_cnt").over(wall).alias("_n"),
        (
            2 * F.coalesce(F.sum("_cnt").over(wprev), F.lit(0))
            + F.col("_cnt")
            + 1
        ).alias("_two_rank"),
    )
    bucket = F.lit(1).cast("long") + F.least(
        F.expr(f"((_cum - _cnt) * {B}) div _n"), F.lit(B - 1).cast("long")
    )
    per_bin = (
        cum.withColumn("bin", bucket)
        .groupBy("bin")
        .agg(
            F.sum("_cnt").alias("n"),
            F.sum("_pos").alias("pos"),
            F.sum(F.col("_cnt") * F.col("_two_rank")).alias("_rank_mass"),
            F.max("_n").alias("_N"),
        )
    )
    conf = F.col("_rank_mass").cast("double") / (
        2 * F.col("_N") * F.col("n")
    ).cast("double")
    acc = F.col("pos").cast("double") / F.col("n").cast("double")
    return per_bin.select(
        "bin",
        "n",
        "pos",
        conf.alias("conf"),
        acc.alias("acc"),
        F.abs(acc - conf).alias("gap"),
    )


def rank_calibration_oracle_sql(
    source_sql: str, score_col: str, label_col: str, n_bins: int = 10
) -> str:
    """DuckDB mirror of :func:`rank_calibration_bins`."""
    s, y, B = score_col, label_col, n_bins
    cut_exprs = ", ".join(
        f"min(CASE WHEN _cum * {B} >= _n * {k} THEN _s END) AS _t{k}"
        for k in range(1, B)
    )
    bucket = " + ".join(f"CAST(_s > _t{k} AS BIGINT)" for k in range(1, B))
    conf = "CAST(_rank_mass AS DOUBLE) / CAST(2 * _N * n AS DOUBLE)"
    acc = "CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)"
    return f"""
    WITH src0 AS ({source_sql}),
    src AS (SELECT {s} AS _s, CAST({y} AS BIGINT) AS _y FROM src0
            WHERE {s} IS NOT NULL AND {y} IS NOT NULL),
    counts AS (SELECT _s, count(*) AS _cnt, sum(_y) AS _pos
               FROM src GROUP BY 1),
    cum AS (SELECT _s, _cnt, _pos,
                   sum(_cnt) OVER (ORDER BY _s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum,
                   2 * COALESCE(sum(_cnt) OVER (ORDER BY _s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + _cnt + 1 AS _two_rank
            FROM counts),
    tot AS (SELECT sum(_cnt) AS _n FROM counts),
    cuts AS (SELECT {cut_exprs} FROM cum CROSS JOIN tot),
    per_bin AS (
      SELECT CAST(1 + {bucket} AS BIGINT) AS bin,
             sum(_cnt) AS n, sum(_pos) AS pos,
             sum(_cnt * _two_rank) AS _rank_mass,
             max(_n) AS _N
      FROM cum CROSS JOIN cuts CROSS JOIN tot
      GROUP BY 1
    )
    SELECT bin, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           {conf} AS conf, {acc} AS acc,
           abs(({acc}) - ({conf})) AS gap
    FROM per_bin
    """


# -- mean reciprocal rank -----------------------------------------------------
def _lcm_1_to(k: int) -> int:
    import math

    out = 1
    for i in range(1, k + 1):
        out = math.lcm(out, i)
    return out


def mrr_at_k(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """MRR@k over one ranking per ``query_col`` group: rank items by
    (score desc, id asc), find each query's first relevant rank <= k,
    and report the EXACT mean reciprocal rank as an integer rational —
    ``mrr_num = Σ_r cnt_r · (L/r)`` with ``L = lcm(1..k)`` (2520 for
    k=10), so the reciprocal-rank sum never floats; the only double is
    the final ``mrr_num / (L · n_queries)`` division. Queries with no
    relevant item in the top k contribute 0 (they stay in the
    denominator — the standard definition).

    Plan: one window per query partitioning rank-filtered to k
    (WindowGroupLimit), a per-query min aggregate on the same key, a
    <= k-row per-rank count frame, and a 1-row final join against the
    query count.

    Output: one row (n_queries, n_hit, mrr_num, mrr, hit_rate).
    """
    L = _lcm_1_to(k)
    q, i, s, r = query_col, id_col, score_col, rel_col
    base = df.where(
        F.col(q).isNotNull()
        & F.col(i).isNotNull()
        & F.col(s).isNotNull()
        & F.col(r).isNotNull()
    ).select(
        F.col(q).alias("_q"),
        F.col(i).alias("_id"),
        F.col(s).alias("_s"),
        (F.col(r).cast("long") == 1).alias("_rel"),
    )
    nq = base.agg(F.countDistinct("_q").alias("n_queries"))
    w = Window.partitionBy("_q").orderBy(F.col("_s").desc(), F.col("_id").asc())
    first_rel = (
        base.select("_q", "_rel", F.row_number().over(w).alias("_rn"))
        .where((F.col("_rn") <= k) & F.col("_rel"))
        .groupBy("_q")
        .agg(F.min("_rn").alias("_fr"))
    )
    per_rank = first_rel.groupBy("_fr").agg(F.count("*").alias("_cnt"))
    hits = per_rank.agg(
        F.coalesce(F.sum("_cnt"), F.lit(0)).alias("n_hit"),
        F.coalesce(
            F.sum(F.col("_cnt") * F.expr(f"{L} div _fr")),
            F.lit(0),
        ).alias("mrr_num"),
    )
    out = nq.crossJoin(F.broadcast(hits))
    return out.select(
        "n_queries",
        "n_hit",
        "mrr_num",
        (
            F.col("mrr_num").cast("double")
            / F.nullif((F.lit(L) * F.col("n_queries")).cast("double"), F.lit(0.0))
        ).alias("mrr"),
        (
            F.col("n_hit").cast("double")
            / F.nullif(F.col("n_queries").cast("double"), F.lit(0.0))
        ).alias("hit_rate"),
    )


def mrr_oracle_sql(
    source_sql: str,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> str:
    """DuckDB mirror of :func:`mrr_at_k` (same lcm rational core)."""
    L = _lcm_1_to(k)
    q, i, s, r = query_col, id_col, score_col, rel_col
    return f"""
    WITH src0 AS ({source_sql}),
    base AS (SELECT {q} AS _q, {i} AS _id, {s} AS _s,
                    CAST({r} AS BIGINT) = 1 AS _rel
             FROM src0
             WHERE {q} IS NOT NULL AND {i} IS NOT NULL
               AND {s} IS NOT NULL AND {r} IS NOT NULL),
    nq AS (SELECT count(DISTINCT _q) AS n_queries FROM base),
    fr AS (
      SELECT _q, min(_rn) AS _fr FROM (
        SELECT _q, _rel,
               row_number() OVER (PARTITION BY _q
                                  ORDER BY _s DESC, _id ASC) AS _rn
        FROM base
      ) WHERE _rn <= {k} AND _rel
      GROUP BY 1
    ),
    per_rank AS (SELECT _fr, count(*) AS _cnt FROM fr GROUP BY 1),
    hits AS (SELECT COALESCE(sum(_cnt), 0) AS n_hit,
                    COALESCE(sum(_cnt * ({L} // _fr)), 0) AS mrr_num
             FROM per_rank)
    SELECT CAST(n_queries AS BIGINT) AS n_queries,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(mrr_num AS BIGINT) AS mrr_num,
           CAST(mrr_num AS DOUBLE)
             / NULLIF(CAST({L} * n_queries AS DOUBLE), 0.0) AS mrr,
           CAST(n_hit AS DOUBLE)
             / NULLIF(CAST(n_queries AS DOUBLE), 0.0) AS hit_rate
    FROM nq CROSS JOIN hits
    """


# -- two-proportion z-test ----------------------------------------------------
def two_proportion_z(
    df: DataFrame, group_col: str, class_col: str, success_col: str
) -> DataFrame:
    """Two-proportion pooled z statistic per ``group_col`` segment:
    does the success rate differ between the two classes of binary
    ``class_col``? The categorical sibling of :func:`welch_t_by`
    (proportions instead of means), and the third leg of the test
    family (t for two means, F for k means, z for two rates).

    Integer core: four counts from ONE conditional aggregate;
    ``z = (p1 - p0) / sqrt(p(1-p)(1/n1 + 1/n0))`` is a fixed-shape
    double tail over them, NULL when either class is empty or the
    pooled rate is degenerate (0 or 1 — zero variance). No p-value on
    purpose (erf is libm); |z| thresholds are exact.

    Output: (group, n1, n0, rate1, rate0, z_stat).
    """
    g, c, s = group_col, class_col, success_col
    base = df.where(
        F.col(g).isNotNull() & F.col(c).isNotNull() & F.col(s).isNotNull()
    ).select(
        F.col(g).alias("_g"),
        (F.col(c).cast("long") == 1).alias("_c1"),
        (F.col(s).cast("long") == 1).cast("long").alias("_s"),
    )
    m = base.groupBy(F.col("_g").alias(group_col)).agg(
        F.sum(F.col("_c1").cast("long")).alias("n1"),
        F.sum((~F.col("_c1")).cast("long")).alias("n0"),
        F.sum(F.when(F.col("_c1"), F.col("_s")).otherwise(0)).alias("_k1"),
        F.sum(F.when(~F.col("_c1"), F.col("_s")).otherwise(0)).alias("_k0"),
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    k1d, k0d = F.col("_k1").cast("double"), F.col("_k0").cast("double")
    p1 = k1d / n1d
    p0 = k0d / n0d
    pp = (k1d + k0d) / (n1d + n0d)
    se = F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1d + F.lit(1.0) / n0d))
    ok = (F.col("n1") > 0) & (F.col("n0") > 0)
    return m.select(
        group_col,
        "n1",
        "n0",
        F.when(F.col("n1") > 0, p1).alias("rate1"),
        F.when(F.col("n0") > 0, p0).alias("rate0"),
        F.when(ok, (p1 - p0) / F.nullif(se, F.lit(0.0))).alias("z_stat"),
    )


def two_proportion_z_oracle_sql(
    source_sql: str, group_col: str, class_col: str, success_col: str
) -> str:
    """DuckDB mirror of :func:`two_proportion_z` — identical expression
    association order."""
    g, c, s = group_col, class_col, success_col
    p1 = "(CAST(_k1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    p0 = "(CAST(_k0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    pp = (
        "((CAST(_k1 AS DOUBLE) + CAST(_k0 AS DOUBLE))"
        " / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)))"
    )
    se = (
        f"sqrt({pp} * (1.0e0 - {pp})"
        f" * (1.0e0 / CAST(n1 AS DOUBLE) + 1.0e0 / CAST(n0 AS DOUBLE)))"
    )
    return f"""
    WITH src0 AS ({source_sql}),
    base AS (SELECT {g} AS _g, CAST({c} AS BIGINT) = 1 AS _c1,
                    CAST(CAST({s} AS BIGINT) = 1 AS BIGINT) AS _s
             FROM src0
             WHERE {g} IS NOT NULL AND {c} IS NOT NULL AND {s} IS NOT NULL),
    m AS (
      SELECT _g,
             sum(CASE WHEN _c1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN NOT _c1 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN _c1 THEN _s ELSE 0 END) AS _k1,
             sum(CASE WHEN NOT _c1 THEN _s ELSE 0 END) AS _k0
      FROM base GROUP BY 1
    )
    SELECT _g AS {g},
           CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           CASE WHEN n1 > 0 THEN {p1} END AS rate1,
           CASE WHEN n0 > 0 THEN {p0} END AS rate0,
           CASE WHEN n1 > 0 AND n0 > 0 THEN
             ({p1} - {p0}) / NULLIF({se}, 0.0)
           END AS z_stat
    FROM m
    """


# -- 1-D decision stump (Gini) ------------------------------------------------
def gini_stump(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Best single-threshold split of binary ``label_col`` on
    ``score_col`` by weighted Gini impurity — the 1-D decision stump,
    i.e. "if you may only cut the quality score once, where" — and the
    exact root split a tree learner would take.

    For split "x <= t" with left counts (nL, posL):
    ``cost(t) = 2·posL·negL/nL + 2·posR·negR/nR`` (weighted Gini × n,
    an equivalent objective). Candidates are the DISTINCT score values
    (every optimal threshold lies on one), their left-counts come from
    ONE cumulative window over the value-count frame — value-
    cardinality bounded, the AUC/Mann-Whitney shape. Each candidate's
    cost is a fixed-shape double off BIGINTs; the argmin is
    ``min(struct(cost, threshold))`` — deterministic tie-break to the
    smallest threshold. The no-split cost ``2·pos·neg/n`` yields the
    impurity decrease.

    Output: one row (threshold, cost, base_cost, decrease, n_left,
    pos_left, n, pos). The last distinct value (empty right side) is
    excluded — "split" must split. Degenerate edge (documented, unit-
    tested): a single distinct score leaves no candidate; Spark's
    global aggregate then emits one all-NULL row where the oracle's
    LIMIT 1 emits zero rows — callers must not oracle-compare a
    constant column (the registered spec never does).
    """
    s, y = score_col, label_col
    base = df.where(F.col(s).isNotNull() & F.col(y).isNotNull()).select(
        F.col(s).alias("_s"), F.col(y).cast("long").alias("_y")
    )
    counts = base.groupBy("_s").agg(
        F.count("*").alias("_cnt"), F.sum("_y").alias("_pos")
    )
    # r17: the split totals ride the same global window as the
    # cumulative candidate counts (unbounded frame) — no totals
    # aggregate, no broadcast crossJoin, no checkpoint; counts has one
    # consumer and the whole stump is one linear pipeline.
    wcum = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = counts.select(
        "_s",
        F.sum("_cnt").over(wcum).alias("_nl"),
        F.sum("_pos").over(wcum).alias("_pl"),
        F.sum("_cnt").over(wall).alias("_n"),
        F.sum("_pos").over(wall).alias("_p"),
    )
    cand = cum.where(F.col("_nl") < F.col("_n"))
    nl, pl = F.col("_nl").cast("double"), F.col("_pl").cast("double")
    nn, pp = F.col("_n").cast("double"), F.col("_p").cast("double")
    nr = nn - nl
    pr = pp - pl
    cost = (
        F.lit(2.0) * pl * (nl - pl) / nl + F.lit(2.0) * pr * (nr - pr) / nr
    )
    best = cand.select(
        F.struct(
            cost.alias("cost"),
            F.col("_s").alias("threshold"),
            F.col("_nl").alias("n_left"),
            F.col("_pl").alias("pos_left"),
        ).alias("_c"),
        "_n",
        "_p",
    ).agg(
        F.min("_c").alias("b"),
        F.max("_n").alias("n"),
        F.max("_p").alias("pos"),
    )
    base_cost = (
        F.lit(2.0)
        * F.col("pos").cast("double")
        * (F.col("n") - F.col("pos")).cast("double")
        / F.col("n").cast("double")
    )
    return best.select(
        F.col("b.threshold").alias("threshold"),
        F.col("b.cost").alias("cost"),
        base_cost.alias("base_cost"),
        (base_cost - F.col("b.cost")).alias("decrease"),
        F.col("b.n_left").alias("n_left"),
        F.col("b.pos_left").alias("pos_left"),
        "n",
        "pos",
    )


def gini_stump_oracle_sql(source_sql: str, score_col: str, label_col: str) -> str:
    """DuckDB mirror of :func:`gini_stump` (same candidate frame, same
    argmin tie-break via ORDER BY cost, threshold LIMIT 1)."""
    s, y = score_col, label_col
    cost = (
        "(2.0e0 * CAST(_pl AS DOUBLE)"
        " * (CAST(_nl AS DOUBLE) - CAST(_pl AS DOUBLE)) / CAST(_nl AS DOUBLE)"
        " + 2.0e0 * (CAST(_p AS DOUBLE) - CAST(_pl AS DOUBLE))"
        " * ((CAST(_n AS DOUBLE) - CAST(_nl AS DOUBLE))"
        "    - (CAST(_p AS DOUBLE) - CAST(_pl AS DOUBLE)))"
        " / (CAST(_n AS DOUBLE) - CAST(_nl AS DOUBLE)))"
    )
    return f"""
    WITH src0 AS ({source_sql}),
    base AS (SELECT {s} AS _s, CAST({y} AS BIGINT) AS _y FROM src0
             WHERE {s} IS NOT NULL AND {y} IS NOT NULL),
    counts AS (SELECT _s, count(*) AS _cnt, sum(_y) AS _pos
               FROM base GROUP BY 1),
    cum AS (SELECT _s,
                   sum(_cnt) OVER (ORDER BY _s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _nl,
                   sum(_pos) OVER (ORDER BY _s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _pl
            FROM counts),
    tot AS (SELECT sum(_cnt) AS _n, sum(_pos) AS _p FROM counts),
    cand AS (SELECT _s, _nl, _pl, _n, _p, {cost} AS cost
             FROM cum CROSS JOIN tot WHERE _nl < _n),
    best AS (SELECT * FROM cand ORDER BY cost ASC, _s ASC LIMIT 1)
    SELECT _s AS threshold, cost,
           2.0e0 * CAST(_p AS DOUBLE) * CAST(_n - _p AS DOUBLE)
             / CAST(_n AS DOUBLE) AS base_cost,
           (2.0e0 * CAST(_p AS DOUBLE) * CAST(_n - _p AS DOUBLE)
             / CAST(_n AS DOUBLE)) - cost AS decrease,
           CAST(_nl AS BIGINT) AS n_left,
           CAST(_pl AS BIGINT) AS pos_left,
           CAST(_n AS BIGINT) AS n, CAST(_p AS BIGINT) AS pos
    FROM best
    """


# -- per-class precision/recall/F1 --------------------------------------------
def per_class_prf(df: DataFrame, pred_col: str, actual_col: str) -> DataFrame:
    """Per-class precision / recall / F1 from one C×C contingency
    frame — the multi-class companion of :func:`cohens_kappa` (same
    cells frame, same full-outer marginal join so a class predicted
    but never true — or true but never predicted — still gets a row
    with the right zeros instead of vanishing).

    No macro average on purpose: macro-F1 is a float mean across a
    data-dependent class set (a banned cross-row float sum); the
    caller averages C rows if they want it, or computes micro-F1 from
    the reported integer cells exactly.

    Output: (cls, tp, fp, fn, support, precision, recall, f1) — one
    row per class in pred ∪ actual.
    """
    a, b = pred_col, actual_col
    cells = (
        df.where(F.col(a).isNotNull() & F.col(b).isNotNull())
        .groupBy(F.col(a).alias("_p"), F.col(b).alias("_t"))
        .agg(F.count("*").alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    diag = cells.where(F.col("_p") == F.col("_t")).select(
        F.col("_p").alias("cls"), F.col("_cnt").alias("tp")
    )
    predm = cells.groupBy(F.col("_p").alias("cls")).agg(
        F.sum("_cnt").alias("_pred_n")
    )
    actm = cells.groupBy(F.col("_t").alias("cls")).agg(
        F.sum("_cnt").alias("support")
    )
    out = (
        predm.join(actm, "cls", "full_outer")
        .join(diag, "cls", "left")
        .select(
            "cls",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            (
                F.coalesce(F.col("_pred_n"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).alias("fp"),
            (
                F.coalesce(F.col("support"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).alias("fn"),
            F.coalesce(F.col("support"), F.lit(0)).alias("support"),
        )
    )
    return out.select(
        "cls",
        "tp",
        "fp",
        "fn",
        "support",
        (
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0))
        ).alias("precision"),
        (
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0))
        ).alias("recall"),
        (
            (2 * F.col("tp")).cast("double")
            / F.nullif(
                (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
                F.lit(0.0),
            )
        ).alias("f1"),
    )


def per_class_prf_oracle_sql(source_sql: str, pred_col: str, actual_col: str) -> str:
    """DuckDB mirror of :func:`per_class_prf`."""
    a, b = pred_col, actual_col
    return f"""
    WITH src0 AS ({source_sql}),
    cells AS (SELECT {a} AS _p, {b} AS _t, count(*) AS _cnt FROM src0
              WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2),
    diag AS (SELECT _p AS cls, _cnt AS tp FROM cells WHERE _p = _t),
    predm AS (SELECT _p AS cls, sum(_cnt) AS _pred_n FROM cells GROUP BY 1),
    actm AS (SELECT _t AS cls, sum(_cnt) AS support FROM cells GROUP BY 1),
    m AS (
      SELECT COALESCE(p.cls, a.cls) AS cls,
             COALESCE(d.tp, 0) AS tp,
             COALESCE(p._pred_n, 0) - COALESCE(d.tp, 0) AS fp,
             COALESCE(a.support, 0) - COALESCE(d.tp, 0) AS fn,
             COALESCE(a.support, 0) AS support
      FROM predm p
      FULL OUTER JOIN actm a ON a.cls = p.cls
      LEFT JOIN diag d ON d.cls = COALESCE(p.cls, a.cls)
    )
    SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(support AS BIGINT) AS support,
           CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0.0)
             AS precision,
           CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fn AS DOUBLE), 0.0) AS recall,
           CAST(2 * tp AS DOUBLE)
             / NULLIF(CAST(2 * tp + fp + fn AS DOUBLE), 0.0) AS f1
    FROM m
    """


# -- Wilson score interval ----------------------------------------------------
WILSON_Z95 = 1.959963984540054  # literal double, both engines parse it


def wilson_interval_by(
    df: DataFrame, group_col: str, success_col: str, z: float = WILSON_Z95
) -> DataFrame:
    """Wilson score interval for a per-group binary rate — the CI that
    behaves at small n and extreme rates where the naive normal
    interval collapses (Wilson 1927; the standard choice for ranked
    rate displays). z is a LITERAL (default the 95% two-sided
    1.959963984540054 — no inverse-normal libm call at runtime).

    Two BIGINT counts per group from one aggregate; the bound
    expressions are a fixed-shape double tail (sqrt is exact-rounded).

    Output: (group, n, k, rate, lo, hi).
    """
    g, s = group_col, success_col
    base = df.where(F.col(g).isNotNull() & F.col(s).isNotNull()).select(
        F.col(g).alias("_g"),
        (F.col(s).cast("long") == 1).cast("long").alias("_s"),
    )
    m = base.groupBy(F.col("_g").alias(group_col)).agg(
        F.count("*").alias("n"), F.sum("_s").alias("k")
    )
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    p = kd / nd
    z1, z2 = F.lit(float(z)), F.lit(float(z) * float(z))
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        z1
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
        / denom
    )
    return m.select(
        group_col,
        "n",
        "k",
        p.alias("rate"),
        (center - half).alias("lo"),
        (center + half).alias("hi"),
    )


def wilson_interval_oracle_sql(
    source_sql: str, group_col: str, success_col: str, z: float = WILSON_Z95
) -> str:
    """DuckDB mirror of :func:`wilson_interval_by` — identical literal
    z and association order."""
    g, s = group_col, success_col
    zl = repr(float(z))
    z2 = repr(float(z) * float(z))
    p = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    denom = f"(1.0e0 + {z2}e0 / CAST(n AS DOUBLE))"
    center = f"(({p} + {z2}e0 / (2.0e0 * CAST(n AS DOUBLE))) / {denom})"
    half = (
        f"({zl}e0 * sqrt({p} * (1.0e0 - {p}) / CAST(n AS DOUBLE)"
        f" + {z2}e0 / (4.0e0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
        f" / {denom})"
    )
    return f"""
    WITH src0 AS ({source_sql}),
    base AS (SELECT {g} AS _g,
                    CAST(CAST({s} AS BIGINT) = 1 AS BIGINT) AS _s
             FROM src0 WHERE {g} IS NOT NULL AND {s} IS NOT NULL),
    m AS (SELECT _g, count(*) AS n, sum(_s) AS k FROM base GROUP BY 1)
    SELECT _g AS {g}, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           {p} AS rate,
           ({center} - {half}) AS lo,
           ({center} + {half}) AS hi
    FROM m
    """
