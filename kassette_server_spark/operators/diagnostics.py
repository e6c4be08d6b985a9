"""Scale diagnostics: the pre-flight checks you run BEFORE committing
a 100 TB shuffle.

``key_skew_profile`` answers the question every big join starts with:
how is this key distributed, how hot is the hottest key relative to an
even spread, and what salt factor would flatten it. It is the
measurement companion to the engine's deterministic salting paths
(operators/merge.py point-in-time salt=R, extras.py q97 salted join,
SCALE.md:516-522 — AQE provably cannot split a join that shares its
partitioning with a window, so R must be CHOSEN, and this operator is
how you choose it).

Determinism contract: all BIGINT until the final single IEEE divisions
(avg_cnt, skew_ratio, key_share); the salt recommendation is an
integer ceiling division, exact in both engines; order statistics of
the per-key counts use the exact cumulative-count rule
(stats.py:384 precedent), never a percentile estimator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    target_partitions: int = 32,
    top_n: int = 10,
) -> DataFrame:
    """Join-key skew profile: the ``top_n`` heaviest keys, each row
    carrying the global distribution stats.

    Columns: (rank, key, cnt, key_share, n_rows, n_keys, max_cnt,
    avg_cnt, skew_ratio, p50_cnt, p99_cnt, salt_r).

    - ``skew_ratio = max_cnt * n_keys / n_rows`` — how many times an
      even spread the hottest key is (1.0 = perfectly uniform).
    - ``salt_r = ceil(max_cnt * target_partitions / n_rows)`` — the
      salt factor that splits the hottest key down to one average
      partition's share of rows; feed it to the deterministic salting
      paths (merge.py / q97).
    - p50/p99 of the per-key count distribution via the exact
      cumulative rule: smallest count c with cum_keys*100 >= n_keys*q.

    Plan: ONE scan aggregates to the per-key count frame, which is
    localCheckpointed (bounded by key cardinality, distributed) so the
    three consumers — the 1-row stats aggregate, the count-of-counts
    percentile frame (bounded by DISTINCT count values), and the
    TakeOrdered top-N — do not re-scan the source. The top-N is
    ``orderBy(...).limit(n)`` which compiles to TakeOrderedAndProject:
    a per-partition heap + driver merge, never a global sort.
    """
    counts = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    stats = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    # count-of-counts: how many keys have exactly c rows — the frame
    # the percentiles come from (|distinct counts| rows, tiny)
    coc = counts.groupBy("cnt").agg(F.count("*").alias("k_at"))
    wc = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    cum = coc.select("cnt", F.sum("k_at").over(wc).alias("cum_k"))
    pcts = cum.crossJoin(F.broadcast(stats.select("n_keys"))).agg(
        F.min(
            F.when(F.col("cum_k") * 100 >= F.col("n_keys") * 50, F.col("cnt"))
        ).alias("p50_cnt"),
        F.min(
            F.when(F.col("cum_k") * 100 >= F.col("n_keys") * 99, F.col("cnt"))
        ).alias("p99_cnt"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_n)
        .select(
            "key",
            "cnt",
        )
    )
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    out = (
        top.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(pcts))
        .select(
            F.row_number().over(w_rank).cast("long").alias("rank"),
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n_rows").cast("double")).alias(
                "key_share"
            ),
            "n_rows",
            "n_keys",
            "max_cnt",
            (
                F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
            ).alias("avg_cnt"),
            (
                (F.col("max_cnt") * F.col("n_keys")).cast("double")
                / F.col("n_rows").cast("double")
            ).alias("skew_ratio"),
            "p50_cnt",
            "p99_cnt",
            F.expr(
                f"(max_cnt * {int(target_partitions)} + n_rows - 1) div n_rows"
            )
            .cast("long")
            .alias("salt_r"),
        )
    )
    return out


def key_skew_oracle_sql(
    source_sql: str,
    key_col: str,
    target_partitions: int = 32,
    top_n: int = 10,
) -> str:
    """DuckDB mirror of :func:`key_skew_profile`."""
    p = int(target_partitions)
    return f"""
    WITH src0 AS ({source_sql}),
    counts AS (SELECT {key_col} AS key, count(*) AS cnt FROM src0
               WHERE {key_col} IS NOT NULL GROUP BY 1),
    stats AS (SELECT sum(cnt) AS n_rows, count(*) AS n_keys,
                     max(cnt) AS max_cnt FROM counts),
    coc AS (SELECT cnt, count(*) AS k_at FROM counts GROUP BY 1),
    cum AS (SELECT cnt, sum(k_at) OVER (ORDER BY cnt
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_k
            FROM coc),
    pcts AS (SELECT
               min(CASE WHEN cum_k * 100 >= n_keys * 50 THEN cnt END) AS p50_cnt,
               min(CASE WHEN cum_k * 100 >= n_keys * 99 THEN cnt END) AS p99_cnt
             FROM cum CROSS JOIN stats),
    top AS (SELECT key, cnt,
                   row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank
            FROM counts ORDER BY cnt DESC, key ASC LIMIT {int(top_n)})
    SELECT CAST(rank AS BIGINT) AS rank, key, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS key_share,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(max_cnt AS BIGINT) AS max_cnt,
           CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS avg_cnt,
           CAST(max_cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_ratio,
           CAST(p50_cnt AS BIGINT) AS p50_cnt,
           CAST(p99_cnt AS BIGINT) AS p99_cnt,
           CAST((max_cnt * {p} + n_rows - 1) // n_rows AS BIGINT) AS salt_r
    FROM top CROSS JOIN stats CROSS JOIN pcts
    """


# -- join cardinality pre-flight ----------------------------------------------
def join_cardinality_preflight(
    left: DataFrame,
    left_key: str,
    right: DataFrame,
    right_key: str,
    top_n: int = 10,
) -> DataFrame:
    """EXACT inner-join output-size forecast WITHOUT running the join:
    ``|A ⋈ B| = Σ_k cnt_A(k) · cnt_B(k)`` over the two per-key count
    frames — the other half of the pre-flight :func:`key_skew_profile`
    starts ("how big is the output, and which keys dominate it"),
    answered at key-cardinality cost before committing a row-level
    shuffle of two 100 TB tables.

    The ``top_n`` output rows are the keys producing the most output
    rows, each carrying the global forecast: total output rows, number
    of matching keys, the hottest key's output, its share, and the
    blow-up factors vs each input (out_rows / input rows).

    Plan: two scans aggregate to count frames (key-cardinality
    bounded), one equi-join between them, a 1-row totals aggregate,
    TakeOrdered top-N. Row data never shuffles.

    Output: (rank, key, cnt_left, cnt_right, out_rows, total_out,
    n_matched_keys, max_out, max_share, amplify_left, amplify_right).
    """
    ca = (
        left.where(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("key"))
        .agg(F.count("*").alias("cnt_left"))
    )
    cb = (
        right.where(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("key"))
        .agg(F.count("*").alias("cnt_right"))
    )
    la = left.agg(F.count(F.col(left_key)).alias("_n_left"))
    lb = right.agg(F.count(F.col(right_key)).alias("_n_right"))
    per_key = ca.join(cb, "key").withColumn(
        "out_rows", F.col("cnt_left") * F.col("cnt_right")
    ).localCheckpoint(eager=True)
    tot = per_key.agg(
        F.coalesce(F.sum("out_rows"), F.lit(0)).alias("total_out"),
        F.count("*").alias("n_matched_keys"),
        F.max("out_rows").alias("max_out"),
    )
    top = per_key.orderBy(F.col("out_rows").desc(), F.col("key").asc()).limit(top_n)
    w_rank = Window.orderBy(F.col("out_rows").desc(), F.col("key").asc())
    return (
        top.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(la))
        .crossJoin(F.broadcast(lb))
        .select(
            F.row_number().over(w_rank).cast("long").alias("rank"),
            "key",
            "cnt_left",
            "cnt_right",
            "out_rows",
            "total_out",
            "n_matched_keys",
            "max_out",
            (
                F.col("max_out").cast("double")
                / F.nullif(F.col("total_out").cast("double"), F.lit(0.0))
            ).alias("max_share"),
            (
                F.col("total_out").cast("double")
                / F.nullif(F.col("_n_left").cast("double"), F.lit(0.0))
            ).alias("amplify_left"),
            (
                F.col("total_out").cast("double")
                / F.nullif(F.col("_n_right").cast("double"), F.lit(0.0))
            ).alias("amplify_right"),
        )
    )


def join_cardinality_oracle_sql(
    left_sql: str, left_key: str, right_sql: str, right_key: str, top_n: int = 10
) -> str:
    """DuckDB mirror of :func:`join_cardinality_preflight`."""
    return f"""
    WITH la0 AS ({left_sql}), lb0 AS ({right_sql}),
    ca AS (SELECT {left_key} AS key, count(*) AS cnt_left FROM la0
           WHERE {left_key} IS NOT NULL GROUP BY 1),
    cb AS (SELECT {right_key} AS key, count(*) AS cnt_right FROM lb0
           WHERE {right_key} IS NOT NULL GROUP BY 1),
    nla AS (SELECT count({left_key}) AS _n_left FROM la0),
    nlb AS (SELECT count({right_key}) AS _n_right FROM lb0),
    per_key AS (SELECT ca.key, cnt_left, cnt_right,
                       cnt_left * cnt_right AS out_rows
                FROM ca JOIN cb ON cb.key = ca.key),
    tot AS (SELECT COALESCE(sum(out_rows), 0) AS total_out,
                   count(*) AS n_matched_keys,
                   max(out_rows) AS max_out
            FROM per_key),
    top AS (SELECT key, cnt_left, cnt_right, out_rows,
                   row_number() OVER (ORDER BY out_rows DESC, key ASC) AS rank
            FROM per_key ORDER BY out_rows DESC, key ASC LIMIT {int(top_n)})
    SELECT CAST(rank AS BIGINT) AS rank, key,
           CAST(cnt_left AS BIGINT) AS cnt_left,
           CAST(cnt_right AS BIGINT) AS cnt_right,
           CAST(out_rows AS BIGINT) AS out_rows,
           CAST(total_out AS BIGINT) AS total_out,
           CAST(n_matched_keys AS BIGINT) AS n_matched_keys,
           CAST(max_out AS BIGINT) AS max_out,
           CAST(max_out AS DOUBLE)
             / NULLIF(CAST(total_out AS DOUBLE), 0.0) AS max_share,
           CAST(total_out AS DOUBLE)
             / NULLIF(CAST(_n_left AS DOUBLE), 0.0) AS amplify_left,
           CAST(total_out AS DOUBLE)
             / NULLIF(CAST(_n_right AS DOUBLE), 0.0) AS amplify_right
    FROM top CROSS JOIN tot CROSS JOIN nla CROSS JOIN nlb
    """


# -- zone-map pruning report --------------------------------------------------
def zonemap_pruning_report(
    df: DataFrame,
    bucket_expr: Column,
    value_col: str,
    lo,
    hi,
) -> DataFrame:
    """How much I/O would min/max zone maps (parquet row-group /
    Iceberg file stats) skip for the predicate ``value BETWEEN lo AND
    hi``, if the table were laid out in the buckets ``bucket_expr``
    describes? A bucket is prunable when ``max < lo OR min > hi`` —
    the scan never opens it. The report is the data-layout half of the
    pre-flight family (q163 skew, q189 join size): a low prune
    fraction with high selectivity says the table is laid out wrong
    for this access path (re-sort / re-partition before the next 100
    scans pay for it).

    One aggregate to per-bucket (min, max, rows, matching rows), one
    1-row summary. Output: (n_buckets, n_pruned, prune_frac, rows_total,
    rows_skipped, skip_frac, rows_matching, selectivity,
    false_positive_rows) — false_positive_rows are rows the zone maps
    still read but the predicate rejects (layout entropy inside
    surviving buckets).
    """
    v = F.col(value_col)
    per_bucket = (
        df.select(
            bucket_expr.alias("_b"),
            v.alias("_v"),
            ((v >= lo) & (v <= hi)).cast("long").alias("_m"),
        )
        .groupBy("_b")
        .agg(
            F.count("*").alias("_rows"),
            F.min("_v").alias("_mn"),
            F.max("_v").alias("_mx"),
            F.sum("_m").alias("_match"),
        )
    )
    pruned = (F.col("_mx") < lo) | (F.col("_mn") > hi)
    return per_bucket.agg(
        F.count("*").alias("n_buckets"),
        F.sum(pruned.cast("long")).alias("n_pruned"),
        (
            F.sum(pruned.cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("prune_frac"),
        F.sum("_rows").alias("rows_total"),
        F.coalesce(F.sum(F.when(pruned, F.col("_rows"))), F.lit(0)).alias(
            "rows_skipped"
        ),
        (
            F.coalesce(F.sum(F.when(pruned, F.col("_rows"))), F.lit(0)).cast(
                "double"
            )
            / F.sum("_rows").cast("double")
        ).alias("skip_frac"),
        F.sum("_match").alias("rows_matching"),
        (
            F.sum("_match").cast("double") / F.sum("_rows").cast("double")
        ).alias("selectivity"),
        F.coalesce(
            F.sum(F.when(~pruned, F.col("_rows") - F.col("_match"))), F.lit(0)
        ).alias("false_positive_rows"),
    )


def zonemap_oracle_sql(
    source_sql: str, bucket_sql: str, value_sql: str, lo_sql: str, hi_sql: str
) -> str:
    """DuckDB mirror of :func:`zonemap_pruning_report`."""
    return f"""
    WITH src0 AS ({source_sql}),
    per_bucket AS (
      SELECT {bucket_sql} AS _b,
             count(*) AS _rows,
             min({value_sql}) AS _mn,
             max({value_sql}) AS _mx,
             sum(CASE WHEN {value_sql} >= {lo_sql}
                       AND {value_sql} <= {hi_sql} THEN 1 ELSE 0 END) AS _match
      FROM src0 GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN _mx < {lo_sql} OR _mn > {hi_sql}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           CAST(sum(CASE WHEN _mx < {lo_sql} OR _mn > {hi_sql}
                    THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS prune_frac,
           CAST(sum(_rows) AS BIGINT) AS rows_total,
           CAST(COALESCE(sum(CASE WHEN _mx < {lo_sql} OR _mn > {hi_sql}
                              THEN _rows END), 0) AS BIGINT) AS rows_skipped,
           CAST(COALESCE(sum(CASE WHEN _mx < {lo_sql} OR _mn > {hi_sql}
                              THEN _rows END), 0) AS DOUBLE)
             / CAST(sum(_rows) AS DOUBLE) AS skip_frac,
           CAST(sum(_match) AS BIGINT) AS rows_matching,
           CAST(sum(_match) AS DOUBLE)
             / CAST(sum(_rows) AS DOUBLE) AS selectivity,
           CAST(COALESCE(sum(CASE WHEN NOT (_mx < {lo_sql} OR _mn > {hi_sql})
                              THEN _rows - _match END), 0) AS BIGINT)
             AS false_positive_rows
    FROM per_bucket
    """


def shingle_saturation_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Shingle-space saturation pre-flight: run BEFORE choosing the
    shingle order k for an exact set-similarity dedup.

    Why it exists (measured, SCALE.md "32x sweep" caveat 1): prefix
    filtering assumes the shingle df distribution has a rare tail. On
    a closed vocabulary the k-gram space saturates — |vocab|^k
    comparable to the corpus's shingle instance count — every df grows
    with the corpus, and the candidate volume goes QUADRATIC (206x
    wall at 32x docs on the 31-word synthetic corpus; k=5 restored
    sub-linearity). This report is how you pick k without paying for
    the failed run: if distinct_shingles ≈ the full space implied by
    vocab_size^k, or p99_df grows when you sample a bigger slice,
    raise k or switch to MinHash-LSH.

    One row: (n_docs, vocab_size, k, instances, distinct_shingles,
    max_df, p99_df, avg_df, allpairs_volume).

    - ``allpairs_volume`` = Σ_shingle C(df, 2) — the exact output size
      of the naive all-shared-shingle candidate join (the upper bound
      prefix filtering prunes FROM). Computed in decimal(38,0) — the
      session runs ANSI-off, where a BIGINT product would wrap
      silently at df ≳ 3e9 (the volume-guard precedent, dedup.py) —
      and emitted as BIGINT (valid while < 2^63; past that the answer
      to "is this saturated" is already yes).
    - ``p99_df`` via the exact cumulative count-of-counts rule
      (key_skew_profile precedent) — never a percentile estimator.
    - ``avg_df`` = instances/distinct, the single IEEE division.

    Plan: the shingle explode aggregates straight to the per-shingle
    df frame (localCheckpointed — bounded by distinct shingles —
    feeding the stats aggregate and the count-of-counts percentile
    frame); vocab_size is one distinct-count over the token explode.
    Two corpus scans total (shingles and unigram tokens are different
    explosions), both map-side before their aggregates; everything
    after is register-scale.
    """
    from .dedup import shingle_table, tokens

    dfreq = (
        shingle_table(df, text_col, id_col, k)
        .groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .localCheckpoint(eager=True)
    )
    stats = dfreq.agg(
        F.sum("_df").cast("bigint").alias("instances"),
        F.count("*").alias("distinct_shingles"),
        F.max("_df").alias("max_df"),
        F.sum(
            F.col("_df").cast("decimal(38,0)")
            * (F.col("_df") - F.lit(1)).cast("decimal(38,0)")
        ).alias("_vol2"),
    )
    coc = dfreq.groupBy("_df").agg(F.count("*").alias("k_at"))
    wc = Window.orderBy("_df").rowsBetween(Window.unboundedPreceding, 0)
    cum = coc.select("_df", F.sum("k_at").over(wc).alias("cum_k"))
    p99 = cum.crossJoin(
        F.broadcast(stats.select("distinct_shingles"))
    ).agg(
        F.min(
            F.when(
                F.col("cum_k") * 100 >= F.col("distinct_shingles") * 99,
                F.col("_df"),
            )
        ).alias("p99_df")
    )
    base = df.agg(
        F.count("*").alias("n_docs"),
    )
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("_tok"))
        .agg(F.count_distinct("_tok").alias("vocab_size"))
    )
    return (
        base.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_docs",
            "vocab_size",
            F.lit(k).cast("int").alias("k"),
            "instances",
            "distinct_shingles",
            "max_df",
            "p99_df",
            (
                F.col("instances").cast("double")
                / F.col("distinct_shingles").cast("double")
            ).alias("avg_df"),
            (F.col("_vol2") / F.lit(2)).cast("bigint").alias("allpairs_volume"),
        )
    )


def shingle_saturation_oracle_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> str:
    """DuckDB mirror of :func:`shingle_saturation_report` — same
    shingling as the q31 CTE (1-based list slicing matches Spark's
    F.slice), same cumulative p99 rule, HUGEINT-safe casts on every
    aggregate output."""
    km1 = int(k) - 1
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id, string_split({text_col}, ' ') AS t
      FROM {table}
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - {km1}, 1) + 1),
               i -> array_to_string(t[i:i+{km1}], ' ')))) AS shingle
      FROM toks
    ),
    dfreq AS (SELECT shingle, count(*) AS _df FROM sh GROUP BY 1),
    stats AS (
      SELECT CAST(sum(_df) AS BIGINT) AS instances,
             CAST(count(*) AS BIGINT) AS distinct_shingles,
             CAST(max(_df) AS BIGINT) AS max_df,
             CAST(sum(CAST(_df AS HUGEINT) * (_df - 1)) // 2 AS BIGINT)
               AS allpairs_volume
      FROM dfreq
    ),
    coc AS (SELECT _df, count(*) AS k_at FROM dfreq GROUP BY 1),
    cum AS (
      SELECT _df, sum(k_at) OVER (ORDER BY _df
                                  ROWS UNBOUNDED PRECEDING) AS cum_k
      FROM coc
    ),
    p99 AS (
      SELECT CAST(min(CASE WHEN cum_k * 100 >=
                           (SELECT distinct_shingles FROM stats) * 99
                      THEN _df END) AS BIGINT) AS p99_df
      FROM cum
    ),
    base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {table}),
    vocab AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab_size
      FROM (SELECT unnest(t) AS tok FROM toks)
    )
    SELECT n_docs, vocab_size, CAST({int(k)} AS INTEGER) AS k,
           instances, distinct_shingles, max_df, p99_df,
           CAST(instances AS DOUBLE) / CAST(distinct_shingles AS DOUBLE)
             AS avg_df,
           allpairs_volume
    FROM base, vocab, stats, p99
    """


def lsh_band_plan(
    spark,
    n_hashes: int = 128,
    threshold: float = 0.8,
    sims: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """MinHash-LSH banding planner: for every (rows-per-band r, bands
    b = ⌊n_hashes/r⌋) layout of an n_hashes signature, the S-curve
    detection probability p(s) = 1 − (1 − s^r)^b at each similarity
    level in ``sims`` — the table you read BEFORE picking the LSH
    layout for a 100 TB near-dup pass (the planning companion to the
    q212 saturation pre-flight: q212 forecasts candidate volume, this
    forecasts recall/false-positive trade-off; dedup.py's _lsh_tuning
    solves the same curve FOR a fixed miss budget, this one shows the
    whole frontier so the budget choice is informed).

    ``chosen`` marks the layout the planner recommends: the one
    maximizing the separation p(threshold) − p(max sim below
    threshold) — steepest S-curve shoulder at the target — with
    smaller r breaking ties (cheaper signatures).

    Exactness contract: s^r and (1−s^r)^b are computed as repeated
    IEEE multiplication in index order (F.aggregate over array_repeat
    ≡ DuckDB list_reduce over a constant list), NEVER libm pow — both
    engines fold the identical double literal the identical number of
    times, so every probability hash-matches bit-for-bit (the q162
    literal-double-discount discipline applied to powers).

    Driver-light by construction: n_hashes rows total — this is a
    planning table, not a data scan.

    Output: (r, b, p_at_<sim>... one column per level, sep, chosen).
    """

    # a threshold that is not float-equal to a sims member would make
    # sep silently 0.0 everywhere and "chosen" degenerate to the r=1
    # layout — a wrong recommendation with no error (ADVICE r9 item 2)
    if threshold not in sims:
        raise ValueError(
            f"threshold {threshold} must be a member of sims {sims}: "
            "the separation score is p(threshold) - p(next sim below)"
        )
    if not any(s < threshold for s in sims):
        raise ValueError(
            f"sims {sims} has no level below threshold {threshold}: "
            "separation needs a below-threshold sim to discriminate against"
        )

    def _pow(base: Column, exp: Column) -> Column:
        # base^exp by left-fold product over an exp-long constant list;
        # init 1.0 is exact (1.0*x == x), each step one IEEE multiply
        return F.aggregate(
            F.array_repeat(base, exp.cast("int")),
            F.lit(1.0),
            lambda acc, x: acc * x,
        )

    df = (
        # one slice: a cores-wide Range for n_hashes rows schedules
        # defaultParallelism near-empty tasks per consumer (r16)
        spark.range(1, n_hashes + 1, 1, 1)
        .select(F.col("id").alias("r"))
        .withColumn("b", F.expr(f"{n_hashes} div r").cast("long"))
        .where(F.col("b") >= 1)
    )
    low = max((s for s in sims if s < threshold), default=None)
    p_cols = {}
    for s in sims:
        p = F.lit(1.0) - _pow(
            F.lit(1.0) - _pow(F.lit(float(s)), F.col("r")), F.col("b")
        )
        p_cols[s] = p
        df = df.withColumn(f"p_at_{int(round(s * 100)):02d}", p)
    sep = (
        (p_cols[threshold] - p_cols[low])
        if (threshold in p_cols and low is not None)
        else F.lit(0.0)
    )
    df = df.withColumn("sep", sep)
    w = Window.orderBy(F.col("sep").desc(), F.col("r").asc())
    return df.withColumn("chosen", F.row_number().over(w) == 1)


def lsh_band_plan_oracle_sql(
    n_hashes: int = 128,
    threshold: float = 0.8,
    sims: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
) -> str:
    """DuckDB mirror of :func:`lsh_band_plan`: identical fold-product
    powers (list_reduce over a constant list, left fold from the same
    literals), identical separation ranking. Every literal is CAST to
    DOUBLE — DuckDB types bare numeric literals as DECIMAL and would
    silently run the whole fold in decimal arithmetic otherwise."""
    one = "CAST(1.0 AS DOUBLE)"

    def _pow(base: str, exp: str) -> str:
        return (
            f"list_reduce(list_prepend({one}, list_transform("
            f"range(0, {exp}), j -> {base})), (a, x) -> a * x)"
        )

    p_exprs = []
    for s in sims:
        sr = _pow(f"CAST({float(s)!r} AS DOUBLE)", "r")
        p = f"{one} - {_pow(f'({one} - {sr})', 'b')}"
        p_exprs.append(f"{p} AS p_at_{int(round(s * 100)):02d}")
    low = max((s for s in sims if s < threshold), default=None)
    sep = (
        f"p_at_{int(round(threshold * 100)):02d} - p_at_{int(round(low * 100)):02d}"
        if low is not None
        else "0.0"
    )
    return f"""
    WITH layouts AS (
      SELECT CAST(r AS BIGINT) AS r, CAST({n_hashes} // r AS BIGINT) AS b
      FROM unnest(CAST(range(1, {n_hashes + 1}) AS BIGINT[])) AS t(r)
      WHERE {n_hashes} // r >= 1),
    curve AS (
      SELECT r, b, {', '.join(p_exprs)}
      FROM layouts),
    s AS (SELECT *, {sep} AS sep FROM curve)
    SELECT *, row_number() OVER (ORDER BY sep DESC, r ASC) = 1 AS chosen
    FROM s
    """
