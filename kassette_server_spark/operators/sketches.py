"""Deterministic, engine-portable sketches (SURVEY §2.3 approx aggregates).

Spark's built-in ``approx_count_distinct`` (HyperLogLog++) and
``percentile_approx`` (KLL) are the right tools on a real cluster, but
their sketch internals are engine-specific: the same input produces
different estimates on Spark vs DuckDB, so they can never be
value-checked against an external oracle. This module implements the
classic HyperLogLog estimator (Flajolet et al. 2007) *explicitly* from
portable primitives — md5, integer shifts, ``bin()`` bit-length — so
the estimate itself is bit-identical across engines and the q40 spec
can hash-match the DuckDB oracle.

Scale design (100 TB): the register table is the whole shuffle — at
``p=9`` that is at most 512 rows of two longs after map-side partial
aggregation (``groupBy(reg).agg(max(rank))`` combines locally before
the exchange), regardless of input size. The sketch is mergeable the
HLL way: union register tables, ``groupBy(reg).agg(max(m_rank))``.

The raw estimator is used without the small-range linear-counting
correction: ``ln()`` is libm-dependent and could break bit-parity, and
the target regime (distinct count >> m, zero empty registers) never
triggers it. Callers counting tiny cardinalities should use exact
``count_distinct`` — at n < 2.5m the exact count is cheap by
definition (the groupBy keyspace is small).

Reference anchor: the reference has no sketches at all (its only
aggregate is bookkeeping ``count(*)``, jobs/jobsdb.go:489); this is a
north-star extension per SURVEY §2.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .store import (
    generation_committed,
    local_frame,
    next_generation,
    read_store,
    write_store,
)

# 15 hex chars = 60 bits keeps the parsed hash strictly below 2^63 so
# the BIGINT cast is exact and positive in both engines.
_HASH_HEX_CHARS = 15
_HASH_BITS = 4 * _HASH_HEX_CHARS


def _hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long (portable everywhere)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, _HASH_HEX_CHARS), 16, 10
    ).cast("long")


def hll_registers(df: DataFrame, col: str, p: int = 9) -> DataFrame:
    """HLL register table for ``df[col]``: (reg, m_rank), <= 2^p rows.

    reg    = low ``p`` bits of the 60-bit md5 hash;
    m_rank = max over values of (leading zeros of the remaining
             ``60-p`` bits + 1), i.e. the classic rho(w).

    The bit-length of ``w`` comes from ``length(bin(w))`` — integer in,
    integer out, no floating point — which both Spark and DuckDB render
    without leading zeros (``bin(5) = '101'``).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    wbits = _HASH_BITS - p
    scale = wbits + 1  # rho(0) := wbits + 1, the max possible rank
    hv = _hash60(F.col(col))
    w = F.shiftright(hv, p)
    rank = F.when(w == 0, F.lit(scale)).otherwise(F.lit(scale) - F.length(F.bin(w)))
    return (
        df.where(F.col(col).isNotNull())
        .select((hv % m).alias("reg"), rank.alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("m_rank"))
    )


def hll_estimate(registers: DataFrame, p: int = 9) -> DataFrame:
    """One-row estimate from a register table (mergeable input).

    All engine-visible intermediate state is integer: the harmonic-mean
    denominator ``sum(2^-m_rank)`` is computed exactly as
    ``sum(1 << (scale - m_rank))`` in units of ``2^-scale`` (max
    ``2^p * 2^scale <= 2^68-ish`` only when p>12 — guarded), so the
    single floating division at the end is the only IEEE op and is
    bit-deterministic across engines.

    Output columns: approx_distinct (floor of the raw HLL estimate),
    zero_registers, scaled_sum.
    """
    m = 1 << p
    scale = _HASH_BITS - p + 1
    # Exactness bound: scaled_sum <= m * 2^scale = 2^(p + 61 - p) = 2^61,
    # always inside int64 for the fixed 60-bit hash.
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)
    agg = registers.agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - m_rank)")).alias(
            "present_sum"
        ),
        F.count("*").alias("nreg"),
    )
    scaled_sum = (
        F.coalesce(F.col("present_sum"), F.lit(0))
        + (F.lit(m) - F.col("nreg")) * F.lit(1 << scale)
    )
    return agg.select(
        F.floor(alpha * m * m * F.lit(float(1 << scale)) / scaled_sum)
        .cast("long")
        .alias("approx_distinct"),
        (F.lit(m) - F.col("nreg")).cast("long").alias("zero_registers"),
        scaled_sum.cast("long").alias("scaled_sum"),
    )


def hll_count_distinct(df: DataFrame, col: str, p: int = 9) -> DataFrame:
    """End-to-end deterministic approx-count-distinct (q40)."""
    return hll_estimate(hll_registers(df, col, p), p)


def hll_count_distinct_by(
    df: DataFrame, col: str, by: str, p: int = 9
) -> DataFrame:
    """Per-group deterministic approx-count-distinct (q90): one HLL
    register set per group — the count-distinct-by-dimension dashboard
    shape. The shuffle carries at most ``groups * 2^p`` register rows
    (map-side combined), never the input; per-group sketches remain
    individually mergeable across partitions/days by groupBy(by, reg).max.

    Output: (by, approx_distinct, zero_registers, scaled_sum).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    wbits = _HASH_BITS - p
    scale = wbits + 1
    hv = _hash60(F.col(col))
    w = F.shiftright(hv, p)
    rank = F.when(w == 0, F.lit(scale)).otherwise(F.lit(scale) - F.length(F.bin(w)))
    regs = (
        df.where(F.col(col).isNotNull() & F.col(by).isNotNull())
        .select(F.col(by), (hv % m).alias("reg"), rank.alias("rank"))
        .groupBy(by, "reg")
        .agg(F.max("rank").alias("m_rank"))
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)
    agg = regs.groupBy(by).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - m_rank)")).alias(
            "present_sum"
        ),
        F.count("*").alias("nreg"),
    )
    scaled_sum = (
        F.coalesce(F.col("present_sum"), F.lit(0))
        + (F.lit(m) - F.col("nreg")) * F.lit(1 << scale)
    )
    return agg.select(
        by,
        F.floor(alpha * m * m * F.lit(float(1 << scale)) / scaled_sum)
        .cast("long")
        .alias("approx_distinct"),
        (F.lit(m) - F.col("nreg")).cast("long").alias("zero_registers"),
        scaled_sum.cast("long").alias("scaled_sum"),
    ).orderBy(by)


def countmin_registers(
    df: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min sketch register table: (d, reg, cnt), <= depth*width rows.

    Row d of the sketch hashes the value with seed d (md5 of
    ``d:value``) into ``width`` counters. Counters are exact integers,
    so the sketch — unlike the frequency *estimates* of probabilistic
    implementations with engine-private hashing — is bit-identical
    across engines and mergeable by ``groupBy(d, reg).sum(cnt)``.

    Scale: one map-side-combined shuffle of at most depth*width keys,
    independent of input size — the CMS contract at 100 TB.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    _hash60(F.concat_ws(":", F.lit(str(d)), F.col(col).cast("string")))
                    % width
                ).alias("reg"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.reg").alias("reg"))
        .agg(F.count("*").alias("cnt"))
    )


def countmin_estimate(
    values: DataFrame, registers: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point-frequency estimates: est(v) = min over d of counter[d][h_d(v)].

    ``registers`` is tiny (<= depth*width rows) and broadcast, so the
    probe is a map-side join however large ``values`` is. Estimates
    over-count (CMS guarantee: est >= true, est <= true + eps*N w.h.p.)
    but are exact integers computed identically everywhere.
    """
    probes = values.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            _hash60(
                                F.concat_ws(
                                    ":", F.lit(str(d)), F.col(col).cast("string")
                                )
                            )
                            % width
                        ).alias("reg"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select(col, F.col("c.d").alias("d"), F.col("c.reg").alias("reg"))
    return (
        probes.join(F.broadcast(registers), ["d", "reg"])
        .groupBy(col)
        .agg(F.min("cnt").alias("est_count"))
    )


def bloom_bits(df: DataFrame, col: str, k: int = 3, m_bits: int = 1 << 14) -> DataFrame:
    """Bloom-filter bit set as a DataFrame of set positions: (bit).

    Position j of value v for seed s is md5-derived (``s:v``) mod m.
    The bit set is exact integers → portable, and mergeable by UNION
    DISTINCT. At most ``min(k * |distinct v|, m_bits)`` rows — the
    whole filter for m=2^14 is <= 16 Ki rows, broadcastable.
    """
    if k < 1 or m_bits < 2:
        raise ValueError(f"need k >= 1 and m_bits >= 2, got k={k}, m={m_bits}")
    positions = F.array(
        *[
            (
                _hash60(F.concat_ws(":", F.lit(str(s)), F.col(col).cast("string")))
                % m_bits
            )
            for s in range(k)
        ]
    )
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(positions).alias("bit"))
        .distinct()
    )


def bloom_probe(
    values: DataFrame, bits: DataFrame, col: str, k: int = 3, m_bits: int = 1 << 14
) -> DataFrame:
    """Membership probe: in_bloom(v) = all k bit positions set.

    ``bits`` is broadcast; the probe never shuffles ``values`` — the
    standard pre-join filter shape (probe the filter map-side, only
    survivors reach the expensive join). False positives are possible
    (and deterministic, same everywhere); false negatives are not.
    """
    probes = values.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    (
                        _hash60(
                            F.concat_ws(":", F.lit(str(s)), F.col(col).cast("string"))
                        )
                        % m_bits
                    )
                    for s in range(k)
                ]
            )
        ).alias("bit"),
    )
    hits = (
        probes.join(F.broadcast(bits), "bit")
        .groupBy(col)
        .agg(F.count("*").alias("nbits"))
    )
    return values.select(col).distinct().join(hits, col, "left").select(
        F.col(col), (F.coalesce(F.col("nbits"), F.lit(0)) == k).alias("in_bloom")
    )


def binned_quantiles(
    df: DataFrame,
    col: str,
    quantiles: tuple[tuple[str, int, int], ...] = (
        ("p50", 1, 2),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
    bin_width: float = 1.0,
    num_bins: int = 1024,
) -> DataFrame:
    """Deterministic mergeable quantile estimates via an equi-width
    histogram sketch — the portable stand-in for percentile_approx's
    KLL (whose sketch is engine-private and can't be oracle-checked).

    Each value lands in ``clamp(floor(v / bin_width), 0, num_bins-1)``;
    bin counts are exact integers, mergeable by sum. Quantile q=num/den
    resolves to the smallest bin whose cumulative count reaches
    ceil(q*N), compared in pure integers (``cum*den >= N*num``), and
    the estimate is the bin midpoint — error bounded by bin_width/2,
    bit-identical across engines.

    Scale: the only data-sized stage is the bin groupBy (map-side
    combined, <= num_bins keys); the cumulative window runs over
    <= num_bins rows, bounded regardless of input size.
    """
    if num_bins < 2 or bin_width <= 0:
        raise ValueError(f"need num_bins >= 2 and bin_width > 0, got {num_bins}/{bin_width}")
    from pyspark.sql import Window

    b = F.least(
        F.greatest(F.floor(F.col(col) / bin_width).cast("long"), F.lit(0)),
        F.lit(num_bins - 1),
    )
    bins = (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = bins.select("bin", F.sum("cnt").over(w).alias("cum"))
    tot = bins.agg(F.sum("cnt").alias("n"))
    qdf = local_frame(
        df.sparkSession, list(quantiles), "label string, num long, den long"
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(qdf))
        .where(F.col("cum") * F.col("den") >= F.col("n") * F.col("num"))
        .groupBy("label", "n")
        .agg(F.min("bin").alias("bin"))
        .select(
            "label",
            (F.col("bin") * F.lit(bin_width) + F.lit(bin_width / 2)).alias("est"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("label")
    )


def binned_quantiles_by(
    df: DataFrame,
    col: str,
    by: str,
    quantiles: tuple[tuple[str, int, int], ...] = (
        ("p50", 1, 2),
        ("p90", 9, 10),
        ("p99", 99, 100),
    ),
    bin_width: float = 1.0,
    num_bins: int = 1024,
) -> DataFrame:
    """Per-group quantile estimates from per-group histograms.

    Same integer-exact construction as :func:`binned_quantiles`, keyed
    by ``by``: the groupBy shuffles (group, bin) keys (map-side
    combined, <= groups*num_bins), the cumulative window partitions by
    group over <= num_bins rows each, and the per-group totals join
    back broadcast. Output: (by, label, est, n).
    """
    if num_bins < 2 or bin_width <= 0:
        raise ValueError(f"need num_bins >= 2 and bin_width > 0, got {num_bins}/{bin_width}")
    from pyspark.sql import Window

    b = F.least(
        F.greatest(F.floor(F.col(col) / bin_width).cast("long"), F.lit(0)),
        F.lit(num_bins - 1),
    )
    bins = (
        df.where(F.col(col).isNotNull() & F.col(by).isNotNull())
        .groupBy(F.col(by), b.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )
    w = (
        Window.partitionBy(by)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.select(by, "bin", F.sum("cnt").over(w).alias("cum"))
    tot = bins.groupBy(by).agg(F.sum("cnt").alias("n"))
    qdf = local_frame(
        df.sparkSession, list(quantiles), "label string, num long, den long"
    )
    return (
        cum.join(F.broadcast(tot), by)
        .crossJoin(F.broadcast(qdf))
        .where(F.col("cum") * F.col("den") >= F.col("n") * F.col("num"))
        .groupBy(by, "label", "n")
        .agg(F.min("bin").alias("bin"))
        .select(
            by,
            "label",
            (F.col("bin") * F.lit(bin_width) + F.lit(bin_width / 2)).alias("est"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy(by, "label")
    )


def hll_merge_into_store(
    batch_df: DataFrame, col: str, store_path: str, p: int = 9
) -> None:
    """foreachBatch body: fold a micro-batch's HLL registers into a
    persistent register store — streaming distinct-count maintenance.

    The merge is the HLL union (groupBy(reg).max), so the store always
    equals the single-pass sketch of everything ever seen, regardless
    of batch boundaries or restarts re-delivering data (max is
    idempotent — re-merging the same rows changes nothing, which is
    what makes this safe under at-least-once foreachBatch). The store
    is <= 2^p rows, so the collect-then-rewrite is bounded driver work,
    not a data-sized materialization. Persistence goes through the
    crash-safe generation store (store.py): a crash mid-write leaves
    the previous committed generation readable.
    """
    spark = batch_df.sparkSession
    new = hll_registers(batch_df, col, p)
    old = read_store(spark, store_path)
    if old is not None:
        merged = old.unionByName(new).groupBy("reg").agg(
            F.max("m_rank").alias("m_rank")
        )
    else:  # first batch: no committed store yet
        merged = new
    # materialize before rewriting the store we just read
    rows = merged.collect()
    out = local_frame(spark, rows, merged.schema)
    write_store(out, store_path, next_generation(store_path))


def hll_oracle_sql(table: str, col: str, p: int = 9) -> str:
    """DuckDB SQL computing the *identical* estimate (same constants,
    same integer path) for the oracle side of the correctness gate."""
    m = 1 << p
    scale = _HASH_BITS - p + 1
    return f"""
    WITH h AS (
      SELECT CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, {_HASH_HEX_CHARS})
                  AS BIGINT) AS hv
      FROM {table} WHERE {col} IS NOT NULL
    ), regs AS (
      SELECT hv % {m} AS reg,
             max(CASE WHEN hv // {m} = 0 THEN {scale}
                 ELSE {scale} - length(bin(hv // {m})) END) AS m_rank
      FROM h GROUP BY reg
    ), s AS (
      SELECT CAST(sum(CAST(1 AS BIGINT) << ({scale} - m_rank)) AS BIGINT)
               AS present_sum,
             count(*) AS nreg
      FROM regs
    )
    SELECT CAST(floor(0.7213 / (1.0 + 1.079 / {m}) * {m} * {m} * {float(1 << scale)!r}
            / (coalesce(present_sum, 0) + ({m} - nreg) * (CAST(1 AS BIGINT) << {scale})))
            AS BIGINT) AS approx_distinct,
           CAST({m} - nreg AS BIGINT) AS zero_registers,
           CAST(coalesce(present_sum, 0) + ({m} - nreg) * (CAST(1 AS BIGINT) << {scale})
                AS BIGINT) AS scaled_sum
    FROM s
    """


def hll_union_registers(ra: DataFrame, rb: DataFrame) -> DataFrame:
    """Register-level sketch union: full outer join on the register
    index, max of ranks. This *is* HLL's mergeability — the union
    sketch is exactly what a single pass over A ∪ B would have built,
    so estimates compose without re-reading data (the property that
    makes per-day sketches roll up to per-month for free)."""
    a = ra.select("reg", F.col("m_rank").alias("_ra"))
    b = rb.select("reg", F.col("m_rank").alias("_rb"))
    return a.join(b, "reg", "full_outer").select(
        "reg",
        F.greatest(
            F.coalesce(F.col("_ra"), F.lit(0)), F.coalesce(F.col("_rb"), F.lit(0))
        ).alias("m_rank"),
    )


def hll_set_algebra(a: DataFrame, b: DataFrame, col: str, p: int = 9) -> DataFrame:
    """Distinct-count set algebra from two HLL sketches: |A|, |B|,
    |A ∪ B| (register max-merge) and |A ∩ B| by inclusion-exclusion
    (the standard sketch-level intersection — HLLs cannot intersect
    directly, and the estimate error compounds; that is intrinsic to
    the method, not this implementation).

    One row: (approx_a, approx_b, approx_union, approx_intersect) —
    all derived from ≤ 3·2^p register rows, so the whole computation
    after the two register scans is driver-trivial regardless of input
    size. approx_intersect is clamped at 0 (inclusion-exclusion can go
    negative for near-disjoint sets).
    """
    ra = hll_registers(a, col, p)
    rb = hll_registers(b, col, p)
    ru = hll_union_registers(ra, rb)
    ea = hll_estimate(ra, p).select(F.col("approx_distinct").alias("approx_a"))
    eb = hll_estimate(rb, p).select(F.col("approx_distinct").alias("approx_b"))
    eu = hll_estimate(ru, p).select(F.col("approx_distinct").alias("approx_union"))
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "approx_a",
            "approx_b",
            "approx_union",
            F.greatest(
                F.col("approx_a") + F.col("approx_b") - F.col("approx_union"),
                F.lit(0).cast("long"),
            ).alias("approx_intersect"),
        )
    )


def _hll_regs_cte(src_sql: str, col: str, p: int) -> str:
    """DuckDB register-table subquery mirroring ``hll_registers``."""
    m = 1 << p
    scale = _HASH_BITS - p + 1
    return f"""(
      SELECT hv % {m} AS reg,
             max(CASE WHEN hv // {m} = 0 THEN {scale}
                 ELSE {scale} - length(bin(hv // {m})) END) AS m_rank
      FROM (
        SELECT CAST('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, {_HASH_HEX_CHARS})
                    AS BIGINT) AS hv
        FROM {src_sql} WHERE {col} IS NOT NULL
      ) GROUP BY reg
    )"""


def _hll_est_expr(regs_name: str, p: int, alias: str) -> str:
    """DuckDB scalar-subquery estimate mirroring ``hll_estimate``."""
    m = 1 << p
    scale = _HASH_BITS - p + 1
    return f"""(
      SELECT CAST(floor(0.7213 / (1.0 + 1.079 / {m}) * {m} * {m} * {float(1 << scale)!r}
              / (coalesce(sum(CAST(1 AS BIGINT) << ({scale} - m_rank)), 0)
                 + ({m} - count(*)) * (CAST(1 AS BIGINT) << {scale})))
              AS BIGINT)
      FROM {regs_name}
    ) AS {alias}"""


def hll_algebra_oracle_sql(src_a: str, src_b: str, col: str, p: int = 9) -> str:
    """DuckDB SQL computing the identical set-algebra estimates.
    ``src_a`` / ``src_b`` are table expressions (table name or
    parenthesized subquery) each exposing ``col``."""
    return f"""
    WITH ra AS (SELECT * FROM {_hll_regs_cte(src_a, col, p)}),
         rb AS (SELECT * FROM {_hll_regs_cte(src_b, col, p)}),
         ru AS (
           SELECT coalesce(ra.reg, rb.reg) AS reg,
                  greatest(coalesce(ra.m_rank, 0), coalesce(rb.m_rank, 0)) AS m_rank
           FROM ra FULL OUTER JOIN rb USING (reg)
         ),
         e AS (
           SELECT {_hll_est_expr('ra', p, 'approx_a')},
                  {_hll_est_expr('rb', p, 'approx_b')},
                  {_hll_est_expr('ru', p, 'approx_union')}
         )
    SELECT approx_a, approx_b, approx_union,
           greatest(approx_a + approx_b - approx_union, CAST(0 AS BIGINT))
             AS approx_intersect
    FROM e
    """


def bin_index(col: str, bin_width: float, num_bins: int):
    """The clamped right-open bin index shared by every histogram
    consumer (hist_bins, binned quantiles, drift.ks_drift_binned):
    floor(value / width) clamped to [0, num_bins-1]. One definition so
    the binned operators stay bin-compatible by construction (round-7
    second-pass review: three hand-copies had to agree)."""
    return F.least(
        F.greatest(F.floor(F.col(col) / bin_width).cast("long"), F.lit(0)),
        F.lit(num_bins - 1),
    )


def hist_bins(
    df: DataFrame, col: str, bin_width: float = 1.0, num_bins: int = 1024
) -> DataFrame:
    """The (bin, cnt) histogram registers behind binned_quantiles —
    exposed for streaming maintenance. Exact integers, sum-mergeable,
    ≤ num_bins rows."""
    b = bin_index(col, bin_width, num_bins)
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count("*").alias("cnt"))
    )


def hist_merge_into_store(
    batch_df: DataFrame,
    batch_id: int,
    col: str,
    store_path: str,
    bin_width: float = 1.0,
    num_bins: int = 1024,
) -> bool:
    """foreachBatch body: fold a micro-batch's histogram bins into a
    persistent store — streaming quantile maintenance (p50/p99 latency
    over an unbounded stream with ≤ num_bins rows of state).

    Unlike the HLL store (max-merge, naturally idempotent), histogram
    counters are ADDITIVE: re-merging a replayed batch would double
    count. The store therefore fences on the foreachBatch ``batch_id``,
    carried as a constant ``merged_through`` column on every bin row so
    store and fence live in one dataset (Spark's documented
    foreachBatch exactly-once recipe): a replayed batch at or below the
    high-water mark is skipped rather than double-counted. Returns
    whether the batch was merged. Committed through the generation
    store (store.py) so a crash mid-write preserves fence + counters.
    """
    spark = batch_df.sparkSession
    if generation_committed(store_path, batch_id):
        # zero-row committed generation has no row fence (ADVICE r6 #1)
        return False
    new = hist_bins(batch_df, col, bin_width, num_bins)
    old = read_store(spark, store_path)
    if old is not None:
        hwm = old.agg(F.max("merged_through")).collect()[0][0]
        if hwm is not None and batch_id <= hwm:
            return False
        merged = (
            old.select("bin", "cnt")
            .unionByName(new)
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:  # first batch: no committed store yet
        merged = new
    rows = merged.collect()  # bounded: <= num_bins rows
    out = local_frame(spark, rows, merged.schema).withColumn(
        "merged_through", F.lit(int(batch_id))
    )
    write_store(out, store_path, int(batch_id))
    return True
