"""Round-5 session-3 specs (q99–q139): retrieval, weighted sampling,
grouped regression, graph centrality, Z-order layout, robust outliers,
time-range rolling windows, co-purchase mining, table profiling,
distribution entropy/KL/chi-square, forward as-of, stratified
sampling, winsorization, hierarchy closure, peak concurrency,
bigram-LM scoring, PCA power iteration, sorted-neighborhood linkage,
PMI collocations, association rules, snapshot diff, timed funnels,
RFM, Gini, TPC-H Q7/Q10, EWMA/Holt, rolling volatility, MoM growth,
seasonality, cross-correlation, integrity audit, conversion times.

Determinism strategy per spec (each oracle computes the IDENTICAL
algorithm, not just a semantically-equivalent one):

* q99  — fixed-order float adds + 6-dp rounding (ln is the only
         non-exact-rounded op in the tree).
* q100 — ONE IEEE division of exactly-representable doubles; bit-exact.
* q101 — exact BIGINT sufficient statistics, then a shared double
         expression tree; bit-exact.
* q102 — integer micro-unit ranks, integer division; bit-exact.
* q103 — pure bit arithmetic; bit-exact.
* q104 — exact medians + exact-rounded add/sub/abs/mul; bit-exact.
* q105 — exact-cents integer window sums over a time-RANGE frame.
* q106 — pure integer pair counts; bit-exact.
* q107 — pure integer profile counts; bit-exact.
* q108 — sorted-order deterministic float fold + 6-dp round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.affinity import copurchase_oracle_sql, copurchase_pairs
from ..operators.clustering import (
    power_iteration_oracle_sql,
    power_iteration_top_component,
)
from ..operators.funnel import (
    peak_concurrency,
    peak_concurrency_oracle_sql,
    timed_funnel_oracle_sql,
)
from ..operators.merge import snapshot_diff_oracle_sql
from ..operators.graph import (
    hierarchy_closure,
    hierarchy_oracle_sql,
    pagerank_fixedpoint,
    pagerank_oracle_sql,
)
from ..operators.linkage import (
    sorted_neighborhood_oracle_sql,
    sorted_neighborhood_pairs,
)
from ..operators.profiling import profile_columns, profile_oracle_sql
from ..operators.textstats import (
    bigram_logprob_by_doc,
    bigram_logprob_oracle_sql,
    token_entropy_by,
    token_entropy_oracle_sql,
    token_kl_divergence_by,
    token_kl_oracle_sql,
)
from ..operators.layout import zorder_key, zorder_key_sql
from ..operators.retrieval import bm25_oracle_sql, bm25_topk
from ..operators.sampling import (
    priority_sample,
    priority_sample_oracle_sql,
    stratified_priority_oracle_sql,
    stratified_priority_sample,
)
from ..operators.stats import (
    chi_square_by,
    chi_square_oracle_sql,
    gini_by_group,
    gini_oracle_sql,
    grouped_ols,
    grouped_ols_oracle_sql,
    mad_outliers,
    mad_outliers_oracle_sql,
    rfm_oracle_sql,
    rfm_scores,
    winsorized_oracle_sql,
    winsorized_stats,
)
from .base import query

_BM25_TERMS = ("spark", "join", "window", "hash")


@query(
    "q99_bm25_retrieval",
    oracle=bm25_oracle_sql(_BM25_TERMS, k=50),
    doc="BM25 top-50 docs for a fixed query-term set (broadcast corpus "
    "stats, map-side scoring, partial top-k)",
    tags=("retrieval", "llm"),
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    return bm25_topk(load(spark, sf, "documents"), _BM25_TERMS, k=50)


@query(
    "q100_priority_sample",
    oracle=priority_sample_oracle_sql("documents", "doc_id", "n_chars", k=100),
    doc="deterministic weighted priority sample (Duffield-Lund-Thorup, "
    "md5-dyadic u, top-k by w/u)",
    tags=("sampling", "llm"),
)
def q100(spark: SparkSession, sf: str) -> DataFrame:
    return priority_sample(load(spark, sf, "documents"), "doc_id", "n_chars", k=100)


@query(
    "q101_grouped_regression",
    oracle=grouped_ols_oracle_sql(
        "lineitem", "l_suppkey", "l_quantity", "round(l_extendedprice)"
    ),
    doc="per-supplier OLS of price on quantity via exact-integer "
    "sufficient statistics (one map-combined groupBy)",
    tags=("stats",),
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return grouped_ols(
        li, "l_suppkey", F.col("l_quantity"), F.round(F.col("l_extendedprice"))
    )


# Bipartite procurement graph: part ⇄ supplier edges from distinct
# lineitem pairs, both directions (undirected PageRank). Node ids are
# ints: part → 2·key, supplier → 2·key + 1.
_PAGERANK_EDGES_SQL = """
    SELECT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    UNION ALL
    SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
"""


@query(
    "q102_pagerank",
    oracle=pagerank_oracle_sql(_PAGERANK_EDGES_SQL, iters=3),
    doc="3-iteration fixed-point integer PageRank on the part-supplier "
    "bipartite graph (order-free integer sums, localCheckpoint loop)",
    tags=("graph",),
)
def q102(spark: SparkSession, sf: str) -> DataFrame:
    pairs = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = (2 * F.col("l_partkey")).alias("p")
    s = (2 * F.col("l_suppkey") + 1).alias("s")
    ids = pairs.select(p, s)
    edges = ids.select(F.col("p").alias("src"), F.col("s").alias("dst")).unionAll(
        ids.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    )
    # parts ∪ suppliers is a bounded dimension-like node set, so hint
    # the (stats-less, checkpointed) rank side into a broadcast join:
    # 4.7 s → 2.9 s at sf0.1 (BASELINE.md r5 notes)
    return pagerank_fixedpoint(edges, iters=3, broadcast_ranks=True)


@query(
    "q103_zorder_stats",
    oracle=f"""
    WITH keyed AS (
      SELECT ({zorder_key_sql("l_partkey % 1024", "l_suppkey % 1024")}) AS zkey,
             l_partkey % 1024 AS px, l_suppkey % 1024 AS sy
      FROM lineitem
    )
    SELECT zkey >> 14 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(px) AS min_x, MAX(px) AS max_x,
           MIN(sy) AS min_y, MAX(sy) AS max_y
    FROM keyed GROUP BY zkey >> 14
    """,
    doc="Morton/Z-order clustering key + per-bucket dimension ranges "
    "(the locality property file-skipping relies on)",
    tags=("layout",),
)
def q103(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    keyed = li.select(
        zorder_key(F.col("l_partkey") % 1024, F.col("l_suppkey") % 1024).alias("zkey"),
        (F.col("l_partkey") % 1024).alias("px"),
        (F.col("l_suppkey") % 1024).alias("sy"),
    )
    return keyed.groupBy(F.shiftright(F.col("zkey"), 14).alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("px").alias("min_x"),
        F.max("px").alias("max_x"),
        F.min("sy").alias("min_y"),
        F.max("sy").alias("max_y"),
    )


@query(
    "q105_rolling_time_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS sum_cents_1h
    FROM (SELECT event_id, user_id, value, epoch_us(ts) AS tus FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tus
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
    doc="per-user 1-hour trailing count/sum (time-RANGE window frame, "
    "exact cents; one user-keyed shuffle)",
    tags=("timeseries",),
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # RANGE frame on the epoch-micros ordering: peers (equal ts) are
    # included in each other's frames in BOTH engines
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(-3_599_999_999, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.sum("cents").over(w).alias("sum_cents_1h"),
    )


@query(
    "q106_copurchase_pairs",
    oracle=copurchase_oracle_sql("lineitem", "l_orderkey", "l_partkey", min_support=2),
    doc="market-basket co-purchase pairs (basket-keyed self-join, "
    "fan-out bounded by basket size, exact support counts)",
    tags=("affinity",),
)
def q106(spark: SparkSession, sf: str) -> DataFrame:
    return copurchase_pairs(
        load(spark, sf, "lineitem"), "l_orderkey", "l_partkey", min_support=2
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@query(
    "q107_table_profile",
    oracle=profile_oracle_sql("orders", _PROFILE_COLS),
    doc="one-pass per-column profile (rows/nulls/exact ndv via a "
    "single multi-distinct aggregate, stack-unpivoted)",
    tags=("profiling",),
)
def q107(spark: SparkSession, sf: str) -> DataFrame:
    return profile_columns(load(spark, sf, "orders"), _PROFILE_COLS)


_WEEK_US = 7 * 24 * 3600 * 1_000_000


@query(
    "q110_asof_forward_tolerance",
    oracle=f"""
    WITH o AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate)
    SELECT e.event_id,
      CASE WHEN o.o_orderdate IS NOT NULL
             AND epoch_us(o.o_orderdate) - epoch_us(CAST(e.ts AS TIMESTAMP))
                 <= {_WEEK_US}
           THEN o.o_orderkey END AS next_orderkey,
      CASE WHEN o.o_orderdate IS NOT NULL
             AND epoch_us(o.o_orderdate) - epoch_us(CAST(e.ts AS TIMESTAMP))
                 <= {_WEEK_US}
           THEN o.o_orderdate END AS next_orderdate
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
    doc="forward as-of join with a 7-day tolerance (union-merge window, "
    "matched time carried for a row-local tolerance check)",
    tags=("olap", "asof"),
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    ev = load(spark, sf, "events").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    orders = (
        load(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("k"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join_forward(
        ev,
        orders,
        key="k",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tolerance_us=_WEEK_US,
    )
    return out.select(
        "event_id",
        F.col("o_orderkey").alias("next_orderkey"),
        F.col("o_orderdate").alias("next_orderdate"),
    )


@query(
    "q111_stratified_weighted_sample",
    oracle=stratified_priority_oracle_sql(
        "documents", "lang", "doc_id", "n_chars", k_per_stratum=20
    ),
    doc="per-language deterministic weighted top-k (priority sampling "
    "within strata; one stratum-keyed shuffle)",
    tags=("sampling", "llm"),
)
def q111(spark: SparkSession, sf: str) -> DataFrame:
    return stratified_priority_sample(
        load(spark, sf, "documents"), "lang", "doc_id", "n_chars", k_per_stratum=20
    )


@query(
    "q112_kl_divergence_by_source",
    oracle=token_kl_oracle_sql("documents", "source"),
    doc="per-source KL(P_source || P_corpus) over token distributions "
    "(sorted-order deterministic fold, broadcast corpus distribution)",
    tags=("textstats", "llm"),
)
def q112(spark: SparkSession, sf: str) -> DataFrame:
    return token_kl_divergence_by(load(spark, sf, "documents"), "source")


# q139: conversion-time stats — composes q123's timed funnel: among
# users who completed the funnel, exact mean and exact median of the
# total view→purchase time. Integer micros sums + the engine-shared
# median; one division.
@query(
    "q139_conversion_time_stats",
    oracle=f"""
    WITH funnel AS ({timed_funnel_oracle_sql("events", ("view", "click", "purchase"), 48 * 3600 * 1_000_000)}),
    conv AS (
      SELECT t_last - t_first AS dur_us FROM funnel WHERE stage = 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) AS mean_us,
           median(CAST(dur_us AS DOUBLE)) AS median_us
    FROM conv
    """,
    doc="view-to-purchase conversion-time stats over completed timed "
    "funnels (exact micros sums, exact median)",
    tags=("analytics",),
)
def q139(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.funnel import timed_funnel

    f = timed_funnel(
        load(spark, sf, "events"), ("view", "click", "purchase"), _FUNNEL_WINDOW_US
    )
    conv = f.where(F.col("stage") == 3).select(
        (F.col("t_last") - F.col("t_first")).alias("dur_us")
    )
    return conv.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.sum("dur_us").cast("long").alias("total_us"),
        (F.sum("dur_us").cast("double") / F.count("*")).alias("mean_us"),
        F.median(F.col("dur_us").cast("double")).alias("median_us"),
    )


# q136: day-of-week seasonality — per (type, dow): total and share of
# the type's events (exact counts, one exact-rounded division). dayofweek
# numbering differs across engines, so both sides derive dow from the
# day count since the 1995-01-01 anchor — itself a Sunday, so plain
# day_n % 7 gives 0=Sun. Both engines' % keeps the dividend's sign, so
# the ((x % 7) + 7) % 7 wrap keeps pre-anchor timestamps in 0..6 too
# (ADVICE r5).
@query(
    "q136_dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT event_type AS grp,
             (((date_diff('day', DATE '1995-01-01',
                          CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)))
               % 7) + 7) % 7
               AS dow,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT grp, SUM(n) AS tn FROM d GROUP BY grp)
    SELECT d.grp AS grp, CAST(d.dow AS BIGINT) AS dow, CAST(d.n AS BIGINT) AS n,
           CAST(d.n AS DOUBLE) / CAST(t.tn AS DOUBLE) AS share
    FROM d JOIN tot t ON d.grp = t.grp
    """,
    doc="day-of-week activity profile per type (engine-neutral dow "
    "from epoch-day arithmetic; exact counts, one division)",
    tags=("timeseries",),
)
def q136(spark: SparkSession, sf: str) -> DataFrame:
    d = (
        load(spark, sf, "events")
        .groupBy(
            F.col("event_type").alias("grp"),
            (
                (
                    F.datediff(
                        F.date_trunc("day", F.col("ts")).cast("date"),
                        F.lit("1995-01-01").cast("date"),
                    )
                    % 7
                    + 7
                )
                % 7
            )
            .cast("long")
            .alias("dow"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = d.groupBy("grp").agg(F.sum("n").alias("tn"))
    return d.join(F.broadcast(tot), "grp").select(
        "grp",
        "dow",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.col("tn").cast("double")).alias("share"),
    )


# q137: cross-correlation of daily count series between event-type
# pairs — Pearson r from exact integer moments over day-aligned
# series (inner join on day), the same sufficient-statistics
# discipline as q101's OLS. |types|² pairs, each a handful of sums.
@query(
    "q137_cross_correlation",
    oracle="""
    WITH daily AS (
      SELECT event_type AS t,
             date_diff('day', DATE '1995-01-01',
                       CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS d,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.t AS ta, b.t AS tb, COUNT(*) AS n,
             SUM(a.x) AS sx, SUM(b.x) AS sy,
             SUM(a.x * a.x) AS sxx, SUM(b.x * b.x) AS syy,
             SUM(a.x * b.x) AS sxy
      FROM daily a JOIN daily b ON a.d = b.d AND a.t < b.t
      GROUP BY a.t, b.t
    )
    SELECT ta, tb, CAST(n AS BIGINT) AS n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(
                 sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                 0)
             AS corr
    FROM pairs
    """,
    doc="pairwise Pearson correlation of daily count series (exact "
    "integer moments over day-aligned joins, shared double tree)",
    tags=("stats", "timeseries"),
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    daily = (
        load(spark, sf, "events")
        .groupBy(
            F.col("event_type").alias("t"),
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("d"),
        )
        .agg(F.count("*").alias("x"))
    )
    a = daily.select(
        F.col("t").alias("ta"), F.col("d").alias("da"), F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("t").alias("tb"), F.col("d").alias("db"), F.col("x").alias("xb")
    )
    pairs = (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(
            F.count("*").alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # NULLIF-guard (round-8 advice, q152's fix applied to the shared
    # double tree): zero-variance series divide by 0.0 — NULL in Spark,
    # IEEE inf/NaN in DuckDB — so pin 0 → NULL on both sides
    corr = (n * sxy - sx * sy) / F.nullif(
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy), F.lit(0.0)
    )
    return pairs.select("ta", "tb", F.col("n").cast("long").alias("n"), corr.alias("corr"))


# q138: referential-integrity audit — the data-quality gate a pipeline
# runs before publishing: orphan counts in both directions plus key
# duplication, all exact integers from anti-join shapes.
@query(
    "q138_integrity_audit",
    oracle="""
    SELECT 'orders_without_customer' AS check_name,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT) AS n
    UNION ALL
    SELECT 'lineitems_without_order',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_without_lineitems',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                                   WHERE l.l_orderkey = o.o_orderkey)) AS BIGINT)
    UNION ALL
    SELECT 'duplicate_order_keys',
           CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
                 (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
                 WHERE c > 1) AS BIGINT)
    """,
    doc="referential-integrity audit (orphans both directions + key "
    "duplication; anti-join shapes, exact counts)",
    tags=("quality",),
)
def q138(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    li = load(spark, sf, "lineitem")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"), F.count("*").cast("long").alias("n")
        )

    dup = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .where("c > 1")
        .agg(
            F.lit("duplicate_order_keys").alias("check_name"),
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long").alias("n"),
        )
    )
    # one declarative plan: four audit branches unioned, no driver
    # actions — the anti-joins broadcast/shuffle per Catalyst
    return (
        check(
            "orders_without_customer",
            o.join(c, F.col("o_custkey") == F.col("c_custkey"), "left_anti"),
        )
        .unionByName(
            check(
                "lineitems_without_order",
                li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"),
            )
        )
        .unionByName(
            check(
                "orders_without_lineitems",
                o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_anti"),
            )
        )
        .unionByName(dup)
    )


# q133: Holt linear trend — the two-accumulator (level, trend)
# recurrence as a STRUCT fold, same ordered-fold determinism as q128's
# EWMA. The trend update is EXPANDED algebraically
# (t' = ab·x + b(1−a)(l+t) − b·l + (1−b)·t), and the accumulator is a
# 2-element DOUBLE ARRAY, not a struct: DuckDB 1.0 evaluates a struct
# literal's fields SEQUENTIALLY against a mutating accumulator inside
# list_reduce (the 't' field would see the UPDATED 'l' — found while
# building this spec, verified with a 3-element hand case); array
# construction is positional and immune. Spark mirrors with an array
# accumulator so the trees match.
_HOLT_A, _HOLT_B = 0.5, 0.3


@query(
    "q133_holt_trend",
    oracle=f"""
    WITH daily AS (
      SELECT event_type AS grp,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS o,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    arr AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_points,
             list(x ORDER BY o) AS l
      FROM daily GROUP BY grp
    )
    SELECT grp, n_points,
           round(f[1], 6) AS level, round(f[2], 6) AS trend
    FROM (
      SELECT grp, n_points,
             list_reduce(
               list_prepend([l[1], CAST(0.0 AS DOUBLE)],
                            list_transform(l[2:len(l)],
                                           v -> [v, CAST(0.0 AS DOUBLE)])),
               (acc, x) -> [
                 {_HOLT_A!r} * x[1] + {1 - _HOLT_A!r} * (acc[1] + acc[2]),
                 {_HOLT_A * _HOLT_B!r} * x[1]
                   + {_HOLT_B * (1 - _HOLT_A)!r} * (acc[1] + acc[2])
                   - {_HOLT_B!r} * acc[1] + {1 - _HOLT_B!r} * acc[2]
               ]) AS f
      FROM arr
    )
    """,
    doc="Holt linear trend (level+trend struct fold over day-bounded "
    "series; duplicated level subtree evaluated identically)",
    tags=("timeseries",),
)
def q133(spark: SparkSession, sf: str) -> DataFrame:
    daily = (
        load(spark, sf, "events")
        .groupBy(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts")).cast("date").alias("o"),
        )
        .agg(F.count("*").cast("double").alias("x"))
    )
    arr = daily.groupBy("grp").agg(
        F.count("*").alias("n_points"),
        F.array_sort(F.collect_list(F.struct("o", "x"))).alias("l"),
    )
    series = F.transform(F.col("l"), lambda s: s.getField("x"))
    a, b = _HOLT_A, _HOLT_B

    def step(acc, x):
        l_, t_ = F.element_at(acc, 1), F.element_at(acc, 2)
        new_l = F.lit(a) * x + F.lit(1 - a) * (l_ + t_)
        new_t = (
            F.lit(a * b) * x
            + F.lit(b * (1 - a)) * (l_ + t_)
            - F.lit(b) * l_
            + F.lit(1 - b) * t_
        )
        return F.array(new_l, new_t)

    folded = F.aggregate(
        F.slice(series, 2, F.greatest(F.size(series) - 1, F.lit(0))),
        F.array(F.element_at(series, 1), F.lit(0.0)),
        step,
    )
    return arr.select(
        "grp",
        F.col("n_points").cast("long").alias("n_points"),
        F.round(F.element_at(folded, 1), 6).alias("level"),
        F.round(F.element_at(folded, 2), 6).alias("trend"),
    )


# q134: rolling volatility — 7-day RANGE window mean/std of daily
# counts from INTEGER window sums (Σx, Σx² exact), variance via the
# shared double tree; deterministic with no fold needed.
@query(
    "q134_rolling_volatility",
    oracle="""
    WITH daily AS (
      SELECT event_type AS grp,
             date_diff('day', DATE '1995-01-01',
                       CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS day_n,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    )
    SELECT grp, CAST(day_n AS BIGINT) AS day_n,
           CAST(n7 AS BIGINT) AS n7,
           CAST(sx AS DOUBLE) / n7 AS mean7,
           (CAST(n7 AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n7 AS DOUBLE) * CAST(n7 AS DOUBLE)) AS var7
    FROM (
      SELECT grp, day_n,
             COUNT(*) OVER w AS n7, SUM(x) OVER w AS sx,
             SUM(x * x) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY grp ORDER BY day_n
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    """,
    doc="7-day rolling mean/variance of daily counts (integer RANGE "
    "window sums, shared double tree — no fold required)",
    tags=("timeseries",),
)
def q134(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf, "events")
        .groupBy(
            F.col("event_type").alias("grp"),
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("1995-01-01").cast("date"),
            ).alias("day_n"),
        )
        .agg(F.count("*").alias("x"))
    )
    w = Window.partitionBy("grp").orderBy("day_n").rangeBetween(-6, 0)
    sums = daily.select(
        "grp",
        F.col("day_n").cast("long").alias("day_n"),
        F.count("*").over(w).alias("n7"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    n7 = F.col("n7").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    return sums.select(
        "grp",
        "day_n",
        F.col("n7").cast("long").alias("n7"),
        (sx / F.col("n7")).alias("mean7"),
        ((n7 * sxx - sx * sx) / (n7 * n7)).alias("var7"),
    )


# q135: month-over-month revenue growth per nation — exact cents,
# lag over the per-nation month series, one exact-rounded division.
@query(
    "q135_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT c.c_nationkey AS nation,
             date_trunc('month', o.o_orderdate) AS m,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT nation, m, CAST(cents AS BIGINT) AS cents,
           CAST(cents - prev AS DOUBLE) / CAST(prev AS DOUBLE) AS growth
    FROM (
      SELECT nation, m, cents,
             lag(cents) OVER (PARTITION BY nation ORDER BY m) AS prev
      FROM monthly
    ) WHERE prev IS NOT NULL
    """,
    doc="month-over-month revenue growth per nation (exact cents, lag "
    "+ one exact-rounded division)",
    tags=("analytics", "timeseries"),
)
def q135(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    monthly = (
        load(spark, sf, "orders")
        .join(load(spark, sf, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    w = Window.partitionBy("nation").orderBy("m")
    return (
        monthly.withColumn("prev", F.lag("cents").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "nation",
            "m",
            F.col("cents").cast("long").alias("cents"),
            (
                (F.col("cents") - F.col("prev")).cast("double")
                / F.col("prev").cast("double")
            ).alias("growth"),
        )
    )


# q131: three-step path counts (the Sankey feed) — extends q95's
# 2-step transitions with a second lead(); same single user-keyed
# shuffle, (|types|³)-bounded output.
@query(
    "q131_event_trigrams",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type AS s1, t2 AS s2, t3 AS s3,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY event_type, t2, t3
    """,
    doc="3-step user path counts (double lead over one user-keyed "
    "window; types^3-bounded output)",
    tags=("analytics",),
)
def q131(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = load(spark, sf, "events").select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    )
    return (
        ordered.where(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count("*").alias("n"))
    )


# q132: transition latency — how long each (prev → cur) hop takes:
# exact micros gap sums per transition pair, one window + one
# map-combined groupBy; mean is the single exact-rounded division.
@query(
    "q132_transition_latency",
    oracle="""
    WITH hops AS (
      SELECT lag(event_type) OVER w AS prev_type, event_type AS cur_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT prev_type, cur_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS mean_gap_us
    FROM hops WHERE prev_type IS NOT NULL
    GROUP BY prev_type, cur_type
    """,
    doc="per-transition latency stats (exact micros gap sums over one "
    "user-keyed window; mean = one exact-rounded division)",
    tags=("analytics", "timeseries"),
)
def q132(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf, "events").select(
        "user_id", "event_type", "event_id", "ts",
        F.unix_micros(F.col("ts")).alias("tus"),
    )
    hops = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("cur_type"),
        (F.col("tus") - F.lag("tus").over(w)).alias("gap_us"),
    )
    return (
        hops.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "cur_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap_us").cast("long").alias("total_gap_us"),
            (F.sum("gap_us").cast("double") / F.count("*")).alias("mean_gap_us"),
        )
    )


# q129: cohort lifetime value — the money extension of q76's retention:
# cohort = first-order month per customer; LTV(offset) = cumulative
# cents per cohort through month offset. Exact integer cents end to
# end; the cumulative window runs over ≤ n_months rows per cohort.
@query(
    "q129_cohort_ltv",
    oracle="""
    WITH first_m AS (
      SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    monthly AS (
      SELECT f.cohort,
             CAST((year(o.o_orderdate) - year(f.cohort)) * 12
                  + (month(o.o_orderdate) - month(f.cohort)) AS BIGINT) AS offset_m,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT cohort, offset_m,
           CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY offset_m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cents
    FROM monthly
    """,
    doc="monthly cohort lifetime value (exact-cents cumulative revenue "
    "per cohort-month offset; bounded cumulative window)",
    tags=("analytics",),
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf, "orders")
    first_m = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    monthly = (
        o.join(first_m, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            )
            .cast("long")
            .alias("offset_m"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offset_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "cohort", "offset_m", F.sum("cents").over(w).cast("long").alias("cum_cents")
    )


# q130: contribution analysis (ratio-to-report) — each nation's share
# of total revenue. Exact integer sums; the two divisions are
# exact-rounded; the 1-row total broadcasts.
@query(
    "q130_revenue_contribution",
    oracle="""
    WITH rev AS (
      SELECT c.c_nationkey AS nation,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ),
    tot AS (SELECT SUM(cents) AS tc FROM rev)
    SELECT nation, CAST(cents AS BIGINT) AS cents,
           CAST(cents AS DOUBLE) / CAST(tc AS DOUBLE) AS share
    FROM rev, tot
    """,
    doc="revenue contribution per nation (ratio-to-report with a "
    "broadcast one-row total; exact cents)",
    tags=("analytics",),
)
def q130(spark: SparkSession, sf: str) -> DataFrame:
    rev = (
        load(spark, sf, "orders")
        .join(
            load(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    tot = rev.agg(F.sum("cents").alias("tc"))
    return rev.join(F.broadcast(tot)).select(
        "nation",
        F.col("cents").cast("long").alias("cents"),
        (F.col("cents").cast("double") / F.col("tc").cast("double")).alias("share"),
    )


@query(
    "q128_ewma_daily_counts",
    oracle=__import__(
        "kassette_server_spark.operators.textstats", fromlist=["ewma_oracle_sql"]
    ).ewma_oracle_sql(
        """SELECT event_type AS grp,
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS o,
                  CAST(COUNT(*) AS DOUBLE) AS x
           FROM events GROUP BY 1, 2"""
    ),
    doc="EWMA-smoothed daily event counts per type (deterministic "
    "sequential fold over day-bounded series)",
    tags=("timeseries",),
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.textstats import ewma_by_group

    daily = (
        load(spark, sf, "events")
        .groupBy(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", F.col("ts")).cast("date").alias("o"),
        )
        .agg(F.count("*").cast("double").alias("x"))
    )
    return ewma_by_group(daily, "grp", "o", F.col("x"))


@query(
    "q124_rfm_segmentation",
    oracle=rfm_oracle_sql(),
    doc="RFM customer segmentation scored 1-5 against exact "
    "order-statistic quintile cuts (broadcast threshold rows, no "
    "global-sort ntile)",
    tags=("analytics",),
)
def q124(spark: SparkSession, sf: str) -> DataFrame:
    return rfm_scores(load(spark, sf, "orders"))


@query(
    "q125_revenue_gini",
    oracle=gini_oracle_sql(
        "SELECT c.c_nationkey AS grp, o.o_custkey AS ent, o.o_totalprice AS val "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ),
    doc="per-nation revenue Gini index (exact integer rank-weighted "
    "sums, per-group window, one exact-rounded division)",
    tags=("stats",),
)
def q125(spark: SparkSession, sf: str) -> DataFrame:
    j = load(spark, sf, "orders").join(
        load(spark, sf, "customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return gini_by_group(j, "c_nationkey", "o_custkey", "o_totalprice")


# q122: snapshot diff — the "new" snapshot is derived from orders by a
# deterministic synthetic change set (delete keys %97, bump price on
# %101, insert copies of %103 at key+10M), so both engines diff the
# identical pair of relations.
_DIFF_NEW_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 != 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 103 = 0
"""


@query(
    "q122_snapshot_diff",
    oracle=snapshot_diff_oracle_sql(
        "SELECT * FROM orders",
        _DIFF_NEW_SQL,
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
         "o_orderpriority"],
    ),
    doc="row-level snapshot diff (added/removed/changed via md5 row "
    "digests; one co-partitioned full outer join on the key)",
    tags=("versioning",),
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.merge import snapshot_diff

    old = load(spark, sf, "orders")
    new = old.where("o_orderkey % 97 != 0").withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        old.where("o_orderkey % 103 = 0").withColumn(
            "o_orderkey", F.col("o_orderkey") + 10_000_000
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"])


_FUNNEL_WINDOW_US = 48 * 3600 * 1_000_000


@query(
    "q123_timed_funnel",
    oracle=timed_funnel_oracle_sql(
        "events", ("view", "click", "purchase"), _FUNNEL_WINDOW_US
    ),
    doc="conversion funnel with a 48h window per transition (per-step "
    "broadcast of one-row-per-user times, no event self-join)",
    tags=("analytics",),
)
def q123(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.funnel import timed_funnel

    return timed_funnel(
        load(spark, sf, "events"), ("view", "click", "purchase"), _FUNNEL_WINDOW_US
    )


# q120: collocation mining — PMI over corpus bigrams. Each output row's
# only float is ONE ln on a ratio of exact integers (no cross-row float
# sums anywhere), rounded to 6 dp; counts reuse the positional-bigram
# construction of q117/q92. Map-combined groupBys + a broadcast unigram
# join; top-k by support is TakeOrderedAndProject.
@query(
    "q120_collocations_pmi",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT t[u.i] AS w1, t[u.i + 1] AS w2
      FROM toks, unnest(CAST(range(1, greatest(len(t), 1)) AS BIGINT[])) AS u(i)
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS n FROM grams GROUP BY w1, w2),
    tot AS (SELECT SUM(n) AS nn FROM bi),
    u1 AS (SELECT w1 AS w, SUM(n) AS c1 FROM bi GROUP BY w1),
    u2 AS (SELECT w2 AS w, SUM(n) AS c2 FROM bi GROUP BY w2)
    SELECT b.w1, b.w2, b.n,
           round(ln((CAST(b.n AS DOUBLE) * CAST(t.nn AS DOUBLE))
                    / (CAST(u1.c1 AS DOUBLE) * CAST(u2.c2 AS DOUBLE))), 6) AS pmi
    FROM bi b JOIN u1 ON u1.w = b.w1 JOIN u2 ON u2.w = b.w2, tot t
    WHERE b.n >= 5
    ORDER BY pmi DESC, b.w1, b.w2 LIMIT 50
    """,
    doc="top-50 collocations by pointwise mutual information (exact "
    "bigram/unigram counts, one ln per row, broadcast marginals)",
    tags=("textstats", "llm"),
)
def q120(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import tokens

    toks = tokens("text")
    # arrays_zip over two shifted slices stays in whole-stage codegen;
    # the previous transform/element_at lambda ran as an interpreted
    # CodegenFallback closure per bigram (same swap as q117's LM —
    # bit-identical rows, ~5x on the corpus-sized pass)
    n_bi = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = load(spark, sf, "documents").select(
        F.explode(
            F.arrays_zip(F.slice(toks, 1, n_bi), F.slice(toks, 2, n_bi))
        ).alias("g")
    ).select(F.col("g")["0"].alias("w1"), F.col("g")["1"].alias("w2"))
    # bi feeds FOUR consumers (tot, u1, u2, final join): checkpoint so
    # the tokenize→explode→count pipeline runs once, not four times
    # (measured 2.4→1.9 s steady-state, 8.4→2.6 s first-run at sf0.1)
    bi = grams.groupBy("w1", "w2").agg(F.count("*").alias("n")).localCheckpoint(
        eager=False
    )
    tot = bi.agg(F.sum("n").alias("nn"))
    u1 = bi.groupBy("w1").agg(F.sum("n").alias("c1"))
    u2 = bi.groupBy("w2").agg(F.sum("n").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("n").cast("double") * F.col("nn").cast("double"))
            / (F.col("c1").cast("double") * F.col("c2").cast("double"))
        ),
        6,
    )
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .join(F.broadcast(tot))
        .where(F.col("n") >= 5)
        .select("w1", "w2", "n", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(50)
    )


# q121: association rules over the co-purchase pairs — confidence and
# lift are exact-rounded divisions of exact integers (no ln at all).
@query(
    "q121_association_rules",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                   FROM lineitem),
    isup AS (SELECT item, COUNT(*) AS ci FROM items GROUP BY item),
    nb AS (SELECT COUNT(DISTINCT basket) AS n FROM items),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS sup
      FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
      GROUP BY a.item, b.item HAVING COUNT(*) >= 3
    )
    SELECT p.item_a, p.item_b, p.sup,
           CAST(p.sup AS DOUBLE) / ia.ci AS conf_a_to_b,
           CAST(p.sup AS DOUBLE) / ib.ci AS conf_b_to_a,
           (CAST(p.sup AS DOUBLE) * nb.n) / (CAST(ia.ci AS DOUBLE) * ib.ci) AS lift
    FROM pairs p JOIN isup ia ON ia.item = p.item_a
                 JOIN isup ib ON ib.item = p.item_b, nb
    """,
    doc="association rules (confidence both directions + lift) over "
    "co-purchase pairs; exact-rounded divisions, broadcast item supports",
    tags=("affinity",),
)
def q121(spark: SparkSession, sf: str) -> DataFrame:
    # NOTE: the three identical distinct-subplans below (item supports,
    # basket count, pair mining) are deduplicated by Catalyst's
    # ReusedExchange — a localCheckpoint of `items` was tried and
    # MEASURED SLOWER (1.6 → 2.4 s at sf0.1) because it breaks that
    # reuse and adds materialization; keep the declarative form.
    items = (
        load(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    isup = items.groupBy("item").agg(F.count("*").alias("ci"))
    nb = items.agg(F.countDistinct("basket").alias("n"))
    pairs = copurchase_pairs(
        load(spark, sf, "lineitem"), "l_orderkey", "l_partkey", min_support=3
    ).withColumnRenamed("support", "sup")
    ia = isup.select(F.col("item").alias("item_a"), F.col("ci").alias("ca"))
    ib = isup.select(F.col("item").alias("item_b"), F.col("ci").alias("cb"))
    return (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .join(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "sup",
            (F.col("sup").cast("double") / F.col("ca")).alias("conf_a_to_b"),
            (F.col("sup").cast("double") / F.col("cb")).alias("conf_b_to_a"),
            (
                (F.col("sup").cast("double") * F.col("n"))
                / (F.col("ca").cast("double") * F.col("cb"))
            ).alias("lift"),
        )
    )


@query(
    "q119_sorted_neighborhood",
    oracle=sorted_neighborhood_oracle_sql("customer", "c_custkey", "c_name"),
    doc="sorted-neighborhood linkage blocking (prefix blocks, windowed "
    "lead comparisons, edit-distance verify; candidates = rows x w)",
    tags=("linkage", "llm"),
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    return sorted_neighborhood_pairs(
        load(spark, sf, "customer"), "c_custkey", "c_name"
    )


@query(
    "q118_power_iteration_pca",
    oracle=power_iteration_oracle_sql(),
    doc="top principal direction of the embedding matrix via 3 "
    "exact-integer power iterations (one scan for the quantized Gram "
    "matrix, iterations on the driver in Python ints)",
    tags=("embedding", "llm"),
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    return power_iteration_top_component(load(spark, sf, "embeddings"))


@query(
    "q117_bigram_logprob",
    oracle=bigram_logprob_oracle_sql("documents", min_count=2),
    doc="per-doc average bigram log-probability under a corpus-fit "
    "add-one LM with a min_count=2 frequency cut (perplexity-style "
    "quality signal; pruned-LM join left to AQE, position-ordered "
    "deterministic fold)",
    tags=("textstats", "llm"),
)
def q117(spark: SparkSession, sf: str) -> DataFrame:
    return bigram_logprob_by_doc(load(spark, sf, "documents"), min_count=2)


# q115: parent(p) = p DIV 10 (NULL at the root band 1..9) builds a
# well-formed 10-ary hierarchy over the real partkey domain — contiguous
# keys ⇒ every parent exists, so the iterative walk and the recursive
# CTE agree exactly (see hierarchy_closure's dangling-parent note).
_HIER_NODES_SQL = (
    "SELECT p_partkey AS id, NULLIF(p_partkey // 10, 0) AS parent FROM part"
)


@query(
    "q115_hierarchy_closure",
    oracle=hierarchy_oracle_sql(_HIER_NODES_SQL),
    doc="recursive-hierarchy closure (root/depth/path-sum) via "
    "iterative frontier-shrinking pointer chase vs WITH RECURSIVE",
    tags=("graph",),
)
def q115(spark: SparkSession, sf: str) -> DataFrame:
    nodes = load(spark, sf, "part").select(
        F.col("p_partkey").alias("id"),
        F.nullif(F.expr("p_partkey div 10"), F.lit(0)).alias("parent"),
    )
    return hierarchy_closure(nodes)


@query(
    "q116_peak_concurrency",
    oracle=peak_concurrency_oracle_sql(
        "SELECT event_type AS grp, epoch_us(CAST(ts AS TIMESTAMP)) AS t_start, "
        "epoch_us(CAST(ts AS TIMESTAMP)) + 3600000000 AS t_end FROM events"
    ),
    doc="peak simultaneously-open 1h event intervals per type "
    "(sweep-line +1/-1 walk, one group-keyed window shuffle)",
    tags=("timeseries",),
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select(
        "event_type", F.unix_micros(F.col("ts")).alias("tus")
    )
    return peak_concurrency(
        ev, "event_type", F.col("tus"), F.col("tus") + 3_600_000_000
    )


@query(
    "q113_winsorized_stats",
    oracle=winsorized_oracle_sql("events", "event_type", "value"),
    doc="per-type winsorization at exact p05/p95 order statistics "
    "(integer quantile test, broadcast boundary join, exact cents sum)",
    tags=("stats", "llm"),
)
def q113(spark: SparkSession, sf: str) -> DataFrame:
    return winsorized_stats(load(spark, sf, "events"), "event_type", "value")


@query(
    "q114_chi_square_contingency",
    oracle=chi_square_oracle_sql("documents", "lang", "source"),
    doc="lang x source chi-square contributions (exact contingency "
    "counts, broadcast marginals, sorted-order deterministic fold)",
    tags=("stats",),
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    return chi_square_by(load(spark, sf, "documents"), "lang", "source")


@query(
    "q109_multimodal_decode_ext",
    oracle="""
    SELECT doc_id,
      CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'jpeg'
                      WHEN 3 THEN 'gif' ELSE 'bmp' END AS kind,
      CASE doc_id % 5
        WHEN 0 THEN CAST(8 + doc_id % 32 AS BIGINT)
        WHEN 2 THEN CAST(16 + doc_id % 100 AS BIGINT)
        WHEN 3 THEN CAST(4 + doc_id % 64 AS BIGINT)
        WHEN 4 THEN CAST(4 + (doc_id * 3) % 50 AS BIGINT)
      END AS width,
      CASE doc_id % 5
        WHEN 0 THEN CAST(8 + (doc_id * 3) % 24 AS BIGINT)
        WHEN 2 THEN CAST(16 + (doc_id * 7) % 100 AS BIGINT)
        WHEN 3 THEN CAST(4 + (doc_id * 5) % 48 AS BIGINT)
        WHEN 4 THEN CAST(4 + doc_id % 40 AS BIGINT)
      END AS height,
      CASE WHEN doc_id % 5 = 1 THEN CAST(8000 + 100 * (doc_id % 80) AS BIGINT)
      END AS sample_rate,
      CASE WHEN doc_id % 5 = 1 THEN CAST(256 + doc_id % 1024 AS BIGINT)
      END AS n_samples,
      CASE WHEN doc_id % 5 = 1
           THEN CAST((256 + doc_id % 1024) * 1000 // (8000 + 100 * (doc_id % 80))
                     AS BIGINT)
      END AS duration_ms
    FROM documents
    """,
    doc="five-codec (PNG/WAV/JPEG/GIF/BMP) encode->decode round trip "
    "via real stdlib container codecs (block-walk/offset validation)",
    tags=("llmops", "multimodal"),
)
def q109(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.multimodal import decode_media_meta, encode_media_payloads_ext

    docs = load(spark, sf, "documents").select("doc_id")
    return decode_media_meta(encode_media_payloads_ext(docs))


@query(
    "q108_entropy_by_source",
    oracle=token_entropy_oracle_sql("documents", "source"),
    doc="per-source token-distribution entropy via a sorted-order "
    "deterministic float fold (aggregate/list_reduce)",
    tags=("textstats", "llm"),
)
def q108(spark: SparkSession, sf: str) -> DataFrame:
    return token_entropy_by(load(spark, sf, "documents"), "source")


@query(
    "q104_value_outliers",
    oracle=mad_outliers_oracle_sql("events", "event_type", "value", c=3.0),
    doc="per-event-type robust outlier profile: exact median + MAD, "
    "|x-med| > 3*MAD flags (broadcast group-stats joins)",
    tags=("stats", "llm"),
)
def q104(spark: SparkSession, sf: str) -> DataFrame:
    return mad_outliers(load(spark, sf, "events"), "event_type", "value", c=3.0)
