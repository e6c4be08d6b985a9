"""Product quantization (PQ) + asymmetric distance computation (ADC)
for the ANN stack — deterministic end to end, so every stage is
DuckDB-oracle-checkable (VERDICT r11 "What's missing" (d)).

PQ is the standard compression that makes a 100 TB embedding corpus
SERVEABLE: int8 scalar quantization (operators/similarity.quantize_int8,
q77) buys 4× over float32; PQ with M=8 sub-codebooks of K=16 centroids
stores each 64-dim vector as 8 half-byte codes — 8 bytes against 256
for float32, a 32× corpus compression — and ADC answers a query with
M table lookups + a fixed-shape sum per candidate instead of a 64-term
dot product. The corpus is NEVER shuffled: codebooks are tiny
(M·K·d = 1024 ints) and ride into the executors as closure captures of
Arrow-batched numpy kernels (assignment/encode/tables), so encode and
ADC scoring are map-side-only passes over the scan. (r12: these
kernels replaced Catalyst expression spellings — the unrolled
element_at form blew Janino's 64 KB method limit and dropped whole
stages to interpreted mode, and the higher-order-function form is
CodegenFallback closures at ~15 µs per distance; the batched numpy
kernel measured 10-15× faster end to end and identical exact-int64
results.)

Why it can be exact (the q96/q77/q118 recipe composed):

- vectors first quantize to int8 (q_i = round(x_i·127 / max|x|) —
  one correctly-rounded IEEE division + round per component, the
  established q77 contract), after which EVERYTHING is int64;
- sub-codebook training is Lloyd's with the q96 determinism contract:
  init = subvectors of the K smallest vec_ids, squared-L2 argmin over
  exact integers with ties toward the smaller centroid id;
- the centroid update keeps centroids INTEGER via the engine-portable
  floored mean (sum + 128·n) div n − 128: component sums are ≥ −127·n
  so the biased dividend is non-negative and truncating division
  (DuckDB ``//``, Spark ``div``) ≡ floor (the multimodal.py WAV-resample
  discipline). An integer codebook costs a rounding step of < 1 per
  component per iteration and buys bit-portable assignment, encode, and
  ADC distances — all pure int64 arithmetic;
- empty clusters drop out of the codebook (q96 semantics: the update
  CTE simply has no row for them).

Per training iteration at scale: one map-only assignment pass (the
codebook is a closure capture — zero join) + one groupBy((m, cid)) whose
exchange carries ≤ M·K rows per map partition after partial
aggregation, + one bounded ≤ M·K-row collect. Encode is one map-only
pass. ADC scoring builds the M·K-entry distance table per QUERY row
(queries are a sample by contract), broadcasts it, and scores
candidates with M ``element_at`` lookups — then the shared
partition-local top-k prune (similarity._partition_topk_then_rank)
keeps the ranking exchange at |queries|·k·partitions rows.

Reference parity: the reference has no vector search at all; this is
§2.3 north-star surface (SURVEY.md "similarity search: ... scale
path"), completing int8 (q77) + JL sketch (q220) + IVF (q83) with the
compression tier they were missing.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _partition_topk_then_rank, _rank_topk, quantize_int8

Codebook = dict[int, list[tuple[int, tuple[int, ...]]]]
"""Per sub-space m: [(cid, centroid components)] — integers, cid-sorted."""


def _np_book(book: Codebook, m: int) -> list[tuple["np.ndarray", "np.ndarray"]]:
    """Per sub-space: (cid vector, (k_alive, d) centroid matrix) as
    int64 numpy — the closure-captured form of the codebook the
    Arrow-batched assignment kernels use. cid-sorted, so np.argmin's
    first-minimum tie rule == 'ties toward the smaller cid'."""
    return [
        (
            np.array([cid for cid, _ in book[mi]], dtype=np.int64),
            np.array([list(c) for _, c in book[mi]], dtype=np.int64),
        )
        for mi in range(m)
    ]


def _np_vecs(col: "pd.Series") -> "np.ndarray":
    """Arrow list column → (n, dim) int64 matrix."""
    return np.array([np.asarray(v, dtype=np.int64) for v in col], dtype=np.int64)


def _np_fvecs(col) -> "np.ndarray":
    """Arrow list column (or a plain list of lists) → (n, dim) float64."""
    return np.array([np.asarray(v, dtype=np.float64) for v in col], dtype=np.float64)


def _quantize_np(V: "np.ndarray") -> "np.ndarray":
    """Vectorized int8 quantization, bit-identical to
    ``similarity.quantize_int8``'s Catalyst spelling
    ``round(x · 127 / max|x|)`` (r16 optimization: the HOF expression
    runs interpreted at ~3.5 µs/element — guide §4.2 — while this
    kernel is three numpy passes; parity was verified element-wise on
    every SF's embeddings table before the swap).

    Exactness: y = x·127/mx is two correctly-rounded IEEE ops in both
    spellings; |y| ≤ 127, so floor(|y|) and |y| − floor(|y|) are exact
    (≤ 53-bit significands) and the half-up tie test is an exact
    comparison. Spark's Round(double) is BigDecimal HALF_UP on the
    shortest decimal representation — away from zero on exact binary
    ties, and the shortest repr preserves every ≥ .5 comparison — so
    where(frac ≥ 0.5, up) · sign reproduces it bit-for-bit. An
    all-zero vector (mx = 0) quantizes to zeros, matching Spark's
    non-ANSI NaN→0 long cast."""
    mx = np.max(np.abs(V), axis=1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        y = np.where(mx > 0.0, V * 127.0 / mx, 0.0)
    ay = np.abs(y)
    f = np.floor(ay)
    return (np.sign(y) * np.where(ay - f >= 0.5, f + 1.0, f)).astype(np.int64)


def _assign_np(S: "np.ndarray", cents: "np.ndarray") -> "np.ndarray":
    """Exact-int64 squared-L2 argmin of each row of S (n, d) against
    cents (k, d); ties → first (= smallest cid, cid-sorted input)."""
    diff = S[:, None, :] - cents[None, :, :]
    return np.argmin((diff * diff).sum(axis=2), axis=1)


def _quantized(df: DataFrame, id_col: str, vec_col: str, id_alias: str) -> DataFrame:
    qvec, _scale = quantize_int8(vec_col)
    return df.select(F.col(id_col).alias(id_alias), qvec.alias("qv"))


def _raw(df: DataFrame, id_col: str, vec_col: str, id_alias: str) -> DataFrame:
    """(id, v: array<double>) — the un-quantized input frame the
    Arrow kernels quantize in-batch (r16: quantization moved off the
    interpreted Catalyst HOFs into the numpy kernels every consumer
    already runs — guide §4.2; ~0.45 s/pass at 2 k rows removed from
    every training/encode/probe pass)."""
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).cast("array<double>").alias("v"),
    )


def _prep_np(
    col,
    quantize: bool,
    coarse_np: tuple["np.ndarray", "np.ndarray"] | None,
) -> "np.ndarray":
    """Shared input prep for the training kernels: int8-quantize raw
    doubles (or take integer vectors as-is), then optionally subtract
    the assigned coarse centroid (the IVF residual). Fusing the
    residual step here (r16) removes the separate _assign_residual
    Python pass that every residual-training job used to chain in
    front of its update kernel — identical exact-int64 residuals,
    one JVM↔Python crossing per job instead of two (guide §4.1)."""
    V = _quantize_np(_np_fvecs(col)) if quantize else _np_vecs(col)
    if coarse_np is not None:
        _cids, cents = coarse_np
        V = V - cents[_assign_np(V, cents)]
    return V


def _collect_seed_rows(qdf: DataFrame, k: int) -> list:
    """The K rows with the smallest ids — ONE bounded (k-row) collect.
    Callers that train a coarse quantizer AND a residual codebook off
    the same frame collect max(kc, k) rows once and slice (r17): the
    seed definition is a prefix of the _pid total order, so the first
    kc of k collected rows ARE the kc-row collect."""
    return qdf.orderBy("_pid").limit(k).collect()


def _seed_codebook(
    qdf: DataFrame,
    m: int,
    k: int,
    dim: int,
    quantize: bool = False,
    coarse: list[tuple[int, tuple[int, ...]]] | None = None,
    rows: list | None = None,
) -> Codebook:
    """Init: the K rows with the smallest ids, sliced into subvectors
    (q96's deterministic seeding on every sub-space at once). Bounded
    collect: k rows. ``quantize=True``: the frame carries raw ``v``
    doubles and the k seed rows quantize driver-side (_quantize_np is
    per-vector, so quantizing only the collected rows is identical to
    quantizing all rows first). ``coarse``: seed from the rows'
    residuals against their assigned coarse centroid, computed
    driver-side on the same k rows (row-wise, so restriction to the
    seed rows commutes with the transform). ``rows``: pre-collected
    seed rows (≥ k of them, _pid-ascending) — skips this call's
    collect job entirely (r17 ladder fusion)."""
    d = dim // m
    if rows is None:
        rows = _collect_seed_rows(qdf, k)
    rows = rows[:k]
    coarse_np = _np_book({0: coarse}, 1)[0] if coarse is not None else None
    field = "v" if quantize else "qv"
    if rows:
        Q = _prep_np([r[field] for r in rows], quantize, coarse_np)
        vecs = [tuple(int(x) for x in Q[i]) for i in range(len(rows))]
    else:
        vecs = []
    book: Codebook = {}
    for mi in range(m):
        book[mi] = [
            (j, v[mi * d : (mi + 1) * d]) for j, v in enumerate(vecs)
        ]
    return book


def _update_frame(
    qdf: DataFrame,
    book: Codebook,
    m: int,
    d: int,
    quantize: bool = False,
    coarse: list[tuple[int, tuple[int, ...]]] | None = None,
) -> DataFrame:
    """One Lloyd update as a DataFrame: assign every (vector, m) to its
    nearest centroid and PARTIALLY aggregate per partition (one
    vectorized numpy kernel — (n, k, d) broadcast diff, exact int64 —
    emitting ≤ M·K partial rows per partition), then groupBy((m, cid))
    sums the partials. Output: (m, cid, n, s_0..s_{d-1}) — ≤ M·K rows
    through the single Exchange.

    numpy rather than Catalyst expressions because the K×d-per-
    sub-space distance math has no codegen-able spelling: unrolled
    element_at terms blew Janino's method limit (whole stage dropped
    to interpreted mode) and higher-order functions are CodegenFallback
    closures — measured 7.3 s per pass over 2000 rows vs milliseconds
    for the batched kernel. Assignment ties → np.argmin's first
    minimum == smallest cid (cid-sorted codebook).

    ``quantize=True``: input carries raw ``v`` doubles; the kernel
    int8-quantizes in-batch (bit-identical — see _quantize_np).
    ``coarse``: the kernel additionally subtracts each row's assigned
    coarse centroid (fused IVF residual — see _prep_np)."""
    partial = _update_partials(qdf, book, m, d, quantize, coarse)
    return partial.groupBy("m", "cid").agg(
        F.sum("n").alias("n"),
        *[F.sum(f"s_{j}").alias(f"s_{j}") for j in range(d)],
    )


def _update_partials(
    qdf: DataFrame,
    book: Codebook,
    m: int,
    d: int,
    quantize: bool = False,
    coarse: list[tuple[int, tuple[int, ...]]] | None = None,
) -> DataFrame:
    """The map-only half of one Lloyd update: ≤ M·K partial
    (m, cid, n, s_0..s_{d-1}) rows PER PARTITION — the kernel folds
    every Arrow batch of its partition before yielding — nothing
    shuffled."""
    nb = _np_book(book, m)
    coarse_np = _np_book({0: coarse}, 1)[0] if coarse is not None else None
    vec_field = "v" if quantize else "qv"
    cols = ["m", "cid", "n"] + [f"s_{j}" for j in range(d)]
    schema = "m long, cid long, n long, " + ", ".join(
        f"s_{j} long" for j in range(d)
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per (m, cid): [n, s_0..s_{d-1}] in int64 — components are
        # int8-range (a coarse residual at most doubles them), so a
        # partition's sums stay exact past 10¹⁶ rows
        acc: dict[tuple[int, int], np.ndarray] = {}
        for pdf in it:
            if not len(pdf):
                continue
            V = _prep_np(pdf[vec_field], quantize, coarse_np)
            for mi in range(m):
                cids, cents = nb[mi]
                S = V[:, mi * d : (mi + 1) * d]
                a = _assign_np(S, cents)
                for ai in np.unique(a):
                    mask = a == ai
                    key = (mi, int(cids[ai]))
                    got = acc.setdefault(key, np.zeros(d + 1, np.int64))
                    got[0] += mask.sum()
                    got[1:] += S[mask].sum(axis=0, dtype=np.int64)
        if acc:
            yield pd.DataFrame(
                [key + tuple(int(x) for x in acc[key]) for key in sorted(acc)],
                columns=cols,
            )

    return qdf.select(vec_field).mapInPandas(batches, schema=schema)


def _update_book(
    qdf: DataFrame,
    book: Codebook,
    m: int,
    d: int,
    quantize: bool = False,
    coarse: list[tuple[int, tuple[int, ...]]] | None = None,
) -> Codebook:
    """One Lloyd update folded driver-side (r17): collect the map-only
    partials (≤ M·K rows per partition — bounded by the codebook size
    × partition count, never by input rows or Arrow batches) and sum
    them in Python instead of through a groupBy
    Exchange + final-aggregate stage. Python ints are exact (arbitrary
    precision) and integer addition is order-free, so the folded sums
    — and therefore the floored-mean centroids — are bit-identical to
    the in-frame aggregate's. Each training round is then ONE map-only
    job instead of a two-stage shuffle job; at sf0.1 the PQ family's
    cost is sequential job structure, and on a cluster the removed
    exchange is a real (if tiny) shuffle every round."""
    partial = _update_partials(qdf, book, m, d, quantize, coarse)
    acc: dict[tuple[int, int], list[int]] = {}
    for r in partial.collect():
        key = (int(r["m"]), int(r["cid"]))
        got = acc.get(key)
        if got is None:
            acc[key] = [int(r["n"])] + [int(r[f"s_{j}"]) for j in range(d)]
        else:
            got[0] += int(r["n"])
            for j in range(d):
                got[j + 1] += int(r[f"s_{j}"])
    out: Codebook = {mi: [] for mi in range(m)}
    for (mi, cid) in sorted(acc):
        n, *sums = acc[(mi, cid)]
        out[mi].append((cid, tuple(_floored_mean(s, n) for s in sums)))
    return out


def _floored_mean(s: int, n: int) -> int:
    # Python // floors directly (n > 0); the +128·n bias below is the
    # SQL-side spelling of the same floor for truncating engines.
    return s // n


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_rows: list | None = None,
) -> Codebook:
    """Train the M sub-codebooks: ``iters`` assignment+update cycles,
    returning the codebook AFTER the final update (integer centroids;
    empty clusters dropped). Each cycle is ONE map-only job whose
    ≤ M·K-per-batch partials fold driver-side (r17, _update_book)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    d = dim // m
    vdf = _raw(df, id_col, vec_col, "_pid")
    book = _seed_codebook(vdf, m, k, dim, quantize=True, rows=seed_rows)
    for _ in range(iters):
        book = _update_book(vdf, book, m, d, quantize=True)
    return book


def pq_fit_summary(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The q239 spec surface: the trained codebook as a hashable frame.
    Runs ``iters − 1`` update cycles driver-side (bounded collects),
    then the FINAL cycle stays in-frame so the returned centroids are
    computed distributively with the engine-portable floored mean:
    c_j = (sum_j + 128·n) div n − 128 (dividend ≥ 0 because sums are
    ≥ −127·n, so truncation ≡ floor — both engines agree).

    Output: (m, cid, n, c_sum, c_sqsum) — n = final-assignment cluster
    size, c_sum/c_sqsum = Σ c_j and Σ c_j² of the updated integer
    centroid (exact BIGINTs; the full centroid is m·k·d values — the
    two moments pin it for the hash without a ragged array column)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    vdf = _raw(df, id_col, vec_col, "_pid")
    book = _seed_codebook(vdf, m, k, dim, quantize=True)
    for _ in range(iters - 1):
        book = _update_book(vdf, book, m, d, quantize=True)
    upd = _update_frame(vdf, book, m, d, quantize=True)
    cx = [F.expr(f"(s_{j} + 128*n) div n - 128") for j in range(d)]
    return upd.select(
        F.col("m").cast("long").alias("m"),
        F.col("cid").cast("long").alias("cid"),
        F.col("n").cast("long").alias("n"),
        reduce(add, cx).cast("long").alias("c_sum"),
        reduce(add, [c * c for c in cx]).cast("long").alias("c_sqsum"),
    )


def pq_encode(
    df: DataFrame,
    book: Codebook,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_alias: str = "neighbor_id",
) -> DataFrame:
    """(id, codes array<long> of length M) — one map-only Arrow-batched
    pass (the vectorized assignment kernel per sub-space; see
    _update_frame for why numpy and not Catalyst expressions here). At
    100 TB this is the write path of the compressed index: 8 bytes per
    vector out."""
    d = dim // m
    vdf = _raw(df, id_col, vec_col, id_alias)
    nb = _np_book(book, m)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            V = _quantize_np(_np_fvecs(pdf["v"]))
            codes = np.stack(
                [
                    nb[mi][0][_assign_np(V[:, mi * d : (mi + 1) * d], nb[mi][1])]
                    for mi in range(m)
                ],
                axis=1,
            )  # (n, m)
            yield pd.DataFrame(
                {id_alias: pdf[id_alias].values, "codes": list(codes)}
            )

    return vdf.mapInPandas(batches, schema=f"{id_alias} long, codes array<long>")


def _adc_table_np(qv_rows: "np.ndarray", book: Codebook, m: int, k: int, d: int) -> "np.ndarray":
    """Per-query flat ADC tables, batched: (n, m·k) where entry
    mi·K + cid = ‖q_sub − c‖² (exact int64). Dropped (empty) cids hold
    0 — unreferencable, since codes only ever name surviving
    centroids."""
    n = qv_rows.shape[0]
    nb = _np_book(book, m)
    tab = np.zeros((n, m * k), dtype=np.int64)
    for mi in range(m):
        cids, cents = nb[mi]
        S = qv_rows[:, mi * d : (mi + 1) * d]
        diff = S[:, None, :] - cents[None, :, :]
        dists = (diff * diff).sum(axis=2)  # (n, k_alive)
        tab[:, mi * k + cids] = dists
    return tab


def _adc_table_frame(
    vdf: DataFrame, book: Codebook, m: int, k: int, d: int, id_name: str
) -> DataFrame:
    """(id, tab array<long> of length M·K) over a (small, by contract)
    raw query frame — one Arrow-batched pass that quantizes in-batch."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            tab = _adc_table_np(
                _quantize_np(_np_fvecs(pdf["v"])), book, m, k, d
            )
            yield pd.DataFrame({id_name: pdf[id_name].values, "tab": list(tab)})

    return vdf.mapInPandas(batches, schema=f"{id_name} long, tab array<long>")


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    book: Codebook | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: train (or take) the codebook, encode
    the corpus (map-only), build the M·K-entry distance table per
    query row, broadcast the (small) query frame, and score each
    (query, candidate) with M element_at lookups + a fixed-shape sum —
    exact int64 throughout, so ranks are bit-portable. The corpus is
    never shuffled; the ranking exchange is the shared top-k prune's
    |queries|·k·partitions rows.

    Output: (query_id, neighbor_id, adc_dist, rank), rank 1..topk by
    (adc_dist asc, neighbor_id asc), self-pairs excluded."""
    d = dim // m
    if book is None:
        book = pq_train(vectors, m=m, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(vectors, book, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    q = _adc_table_frame(
        _raw(queries, id_col, vec_col, "query_id"), book, m, k, d, "query_id"
    )
    adc = reduce(
        add,
        [
            F.element_at(
                F.col("tab"),
                (F.lit(mi * k + 1) + F.element_at(F.col("codes"), mi + 1)).cast("int"),
            )
            for mi in range(m)
        ],
    )
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", (-adc).cast("double").alias("neg_adc"))
    )
    ranked = _partition_topk_then_rank(scored, topk, "neg_adc")
    return ranked.select(
        "query_id",
        "neighbor_id",
        (-F.col("neg_adc")).cast("long").alias("adc_dist"),
        "rank",
    )


# Query-sample bound for the fused exact baseline (the ANN-stack
# contract: queries are a sample). Matches brute_force_topk's
# max_query_broadcast_rows memory envelope — 10⁵ rows · dim · 8 B of
# closure-captured int64 is the same budget the broadcast path holds.
EXACT_BASELINE_MAX_QUERY_ROWS = 100_000


def exact_int8_l2_topk(
    vectors: DataFrame,
    queries: DataFrame,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int | None = EXACT_BASELINE_MAX_QUERY_ROWS,
) -> DataFrame:
    """The exact baseline ADC is judged against: full-dimension squared
    L2 over the SAME int8 quantization (so recall isolates what PQ's
    codebook loses, not what int8 loses — that gate is q77/q229's).

    r16 (guide §4.2): one fused Arrow kernel over the corpus scan. The
    bounded query sample is collected + quantized driver-side and rides
    into the kernel as a closure capture; each corpus batch quantizes
    in-batch and scores every (candidate, query) pair with exact-int64
    matrix products — ‖c − q‖² = c·c − 2 c·q + q·q, every term an
    integer, so the distances are the zip_with fold's bit-for-bit — and
    a running per-partition top-k under the window's exact total order
    (l2 asc, neighbor_id asc) keeps the only exchange at
    |queries|·k·partitions rows. This replaced a broadcast crossJoin
    whose per-pair distance ran as interpreted HOF closures
    (~15 µs/pair — the same CodegenFallback cost the PQ kernels were
    moved off in r12); a query sample past ``max_query_rows`` falls
    back to that join path (identical results, no driver collect).

    Output: (query_id, neighbor_id, l2_dist, rank)."""
    qrows = None
    if max_query_rows is not None:
        # limit(cap+1): if it returns ≤ cap rows we hold the WHOLE
        # sample (one job, no separate count); cap+1 rows ⇒ too big.
        qrows = (
            _raw(queries, id_col, vec_col, "query_id")
            .limit(max_query_rows + 1)
            .collect()
        )
        if len(qrows) > max_query_rows:
            qrows = None
    if qrows is not None:
        qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
        Q = (
            _quantize_np(_np_fvecs([r["v"] for r in qrows]))
            if len(qrows)
            else np.zeros((0, 1), dtype=np.int64)
        )
        Q2 = (Q * Q).sum(axis=1)
        nq = len(qids)

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            best: pd.DataFrame | None = None
            # bound the (chunk, nq) distance block at ~32 MB of int64
            chunk = max(1, 4_000_000 // max(1, nq))
            for pdf in it:
                if not len(pdf) or not nq:
                    continue
                C = _quantize_np(_np_fvecs(pdf["v"]))
                nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
                C2 = (C * C).sum(axis=1)
                for lo in range(0, len(C), chunk):
                    hi = min(lo + chunk, len(C))
                    d2 = (
                        C2[lo:hi, None]
                        + Q2[None, :]
                        - 2 * (C[lo:hi] @ Q.T)
                    )  # exact int64
                    qcol = np.broadcast_to(qids, d2.shape).ravel()
                    ncol = np.repeat(nids[lo:hi], nq)
                    keep = ncol != qcol
                    part = pd.DataFrame(
                        {
                            "query_id": qcol[keep],
                            "neighbor_id": ncol[keep],
                            "l2": d2.ravel()[keep],
                        }
                    )
                    best = (
                        part
                        if best is None
                        else pd.concat((best, part), ignore_index=True)
                    )
                    best = (
                        best.sort_values(["query_id", "l2", "neighbor_id"])
                        .groupby("query_id", sort=False)
                        .head(topk)
                    )
            if best is not None and len(best):
                out = best[["query_id", "neighbor_id"]].copy()
                # ints < 2^53 — exact through the double score column
                out["neg_l2"] = -best["l2"].astype("float64")
                yield out

        pruned = _raw(vectors, id_col, vec_col, "neighbor_id").mapInPandas(
            batches, schema="query_id long, neighbor_id long, neg_l2 double"
        )
        ranked = _rank_topk(pruned, topk, "neg_l2")
    else:
        q = _quantized(queries, id_col, vec_col, "query_id").withColumnRenamed(
            "qv", "qqv"
        )
        c = _quantized(vectors, id_col, vec_col, "neighbor_id")
        dist = F.aggregate(
            F.zip_with(F.col("qqv"), F.col("qv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id", "neighbor_id", (-dist).cast("double").alias("neg_l2")
            )
        )
        ranked = _partition_topk_then_rank(scored, topk, "neg_l2")
    return ranked.select(
        "query_id",
        "neighbor_id",
        (-F.col("neg_l2")).cast("long").alias("l2_dist"),
        "rank",
    )


def pq_recall_at_k(
    vectors: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of PQ-ADC against the exact int8-L2 baseline — the
    acceptance gate (the q223/ann_recall_at_k pattern) that must pass
    on a query sample BEFORE a 32×-compressed index serves traffic.
    Cost: the two searches + one |queries|·k-row join.

    Output: (query_id, n_hits, recall) — recall = n_hits/topk, one
    IEEE division of small exact integers."""
    book = pq_train(vectors, m=m, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col)
    approx = pq_adc_topk(
        vectors, queries, m=m, k=k, iters=iters, dim=dim, topk=topk,
        id_col=id_col, vec_col=vec_col, book=book,
    )
    exact = exact_int8_l2_topk(vectors, queries, topk=topk, id_col=id_col, vec_col=vec_col)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qids = queries.select(F.col(id_col).alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(float(topk))).alias(
            "recall"
        ),
    )


def _pq_oracle_ctes(m: int, k: int, d: int, iters: int) -> str:
    """Shared DuckDB CTE chain replicating the train pipeline: int8
    quantize (the q77 recipe) → subvector slices → smallest-id seeding
    → ``iters`` Lloyd cycles with the biased floored-mean update
    ((sum + 128·n) // n − 128 — dividend ≥ 0, so DuckDB's truncating
    ``//`` equals the flooring Python/Spark div). ``c{iters}`` is the
    final codebook CTE; ``a{iters}`` the final training assignment."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "mxx AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> abs(x)),"
        " (a, x) -> greatest(a, x)) AS mx FROM e)",
        "qz AS (SELECT vec_id, list_transform(v, x -> CAST(round(x * 127 / mx)"
        " AS BIGINT)) AS qv FROM mxx)",
        f"sub AS (SELECT vec_id, gm.m AS m, list_slice(qv, CAST(gm.m*{d}+1 AS BIGINT),"
        f" CAST(gm.m*{d}+{d} AS BIGINT)) AS s"
        f" FROM qz, unnest(CAST(range(0, {m}) AS BIGINT[])) AS gm(m))",
        "seeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1"
        f" AS BIGINT) AS cid FROM qz ORDER BY vec_id LIMIT {k})",
        "c0 AS (SELECT b.m, seeds.cid, b.s AS c FROM sub b JOIN seeds USING (vec_id))",
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts += [
            f"a{it} AS (SELECT vec_id, m, s, cid FROM ("
            f" SELECT p.vec_id, p.m, p.s, c.cid,"
            f" row_number() OVER (PARTITION BY p.vec_id, p.m ORDER BY"
            f" list_reduce(list_transform(list_zip(p.s, c.c),"
            f" z -> (z[1]-z[2])*(z[1]-z[2])), (a, x) -> a+x), c.cid) AS rn"
            f" FROM sub p JOIN {prev} c ON p.m = c.m) z WHERE rn = 1)",
            f"u{it} AS (SELECT m, cid, gj.j AS j, s[gj.j] AS x FROM a{it},"
            f" unnest(CAST(range(1, {d + 1}) AS BIGINT[])) AS gj(j))",
            f"s{it} AS (SELECT m, cid, j,"
            f" (sum(x) + 128*count(*)) // count(*) - 128 AS cx, count(*) AS n"
            f" FROM u{it} GROUP BY m, cid, j)",
            f"c{it} AS (SELECT m, cid, list(cx ORDER BY j) AS c, min(n) AS n"
            f" FROM s{it} GROUP BY m, cid)",
        ]
    return "WITH " + ",\n".join(parts)


def pq_codebook_oracle_sql(m: int = 8, k: int = 16, d: int = 8, iters: int = 2) -> str:
    """q239 oracle: the trained codebook's exact moments."""
    return (
        _pq_oracle_ctes(m, k, d, iters)
        + f"""
    SELECT CAST(m AS BIGINT) AS m, CAST(cid AS BIGINT) AS cid,
           CAST(n AS BIGINT) AS n,
           CAST(list_reduce(c, (a, x) -> a + x) AS BIGINT) AS c_sum,
           CAST(list_reduce(list_transform(c, x -> x * x), (a, x) -> a + x)
                AS BIGINT) AS c_sqsum
    FROM c{iters}
    """
    )


def _pq_scored_ctes(m: int, k: int, d: int, iters: int, query_pred: str) -> str:
    """CTE chain through ``scored``: encode the corpus with the final
    codebook, build the per-query ADC table, sum M lookups per pair."""
    final = f"c{iters}"
    return (
        _pq_oracle_ctes(m, k, d, iters)
        + f""",
    enc AS (SELECT vec_id, m, cid FROM (
      SELECT p.vec_id, p.m, c.cid,
             row_number() OVER (PARTITION BY p.vec_id, p.m ORDER BY
               list_reduce(list_transform(list_zip(p.s, c.c),
                 z -> (z[1]-z[2])*(z[1]-z[2])), (a, x) -> a+x), c.cid) AS rn
      FROM sub p JOIN {final} c ON p.m = c.m) z WHERE rn = 1),
    qtab AS (SELECT q.vec_id AS query_id, c.m, c.cid,
                    list_reduce(list_transform(list_zip(q.s, c.c),
                      z -> (z[1]-z[2])*(z[1]-z[2])), (a, x) -> a+x) AS dist
             FROM sub q JOIN {final} c ON q.m = c.m WHERE {query_pred}),
    scored AS (SELECT t.query_id, e.vec_id AS neighbor_id,
                      sum(t.dist) AS adc
               FROM enc e JOIN qtab t ON e.m = t.m AND e.cid = t.cid
               WHERE e.vec_id <> t.query_id
               GROUP BY t.query_id, e.vec_id)"""
    )


def pq_adc_oracle_sql(
    m: int = 8,
    k: int = 16,
    d: int = 8,
    iters: int = 2,
    topk: int = 10,
    query_pred: str = "q.vec_id % 100 = 0",
) -> str:
    """q240 oracle: ADC top-k, rank by (adc_dist asc, neighbor_id asc)."""
    return (
        _pq_scored_ctes(m, k, d, iters, query_pred)
        + f"""
    SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_dist,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc, neighbor_id) AS rk FROM scored) t
    WHERE rk <= {topk}
    """
    )


def pq_recall_oracle_sql(
    m: int = 8,
    k: int = 16,
    d: int = 8,
    iters: int = 2,
    topk: int = 10,
    query_pred: str = "q.vec_id % 100 = 0",
) -> str:
    """q241 oracle: ADC top-k ∩ exact int8-L2 top-k per query."""
    return (
        _pq_scored_ctes(m, k, d, iters, query_pred)
        + f""",
    abest AS (SELECT query_id, neighbor_id
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc, neighbor_id) AS rk FROM scored) t
              WHERE rk <= {topk}),
    ex AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  list_reduce(list_transform(list_zip(q.qv, n.qv),
                    z -> (z[1]-z[2])*(z[1]-z[2])), (a, x) -> a+x) AS dist
           FROM qz n CROSS JOIN (SELECT * FROM qz q WHERE {query_pred}) q
           WHERE n.vec_id <> q.vec_id),
    ebest AS (SELECT query_id, neighbor_id
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dist, neighbor_id) AS rk FROM ex) t
              WHERE rk <= {topk}),
    hits AS (SELECT query_id, count(*) AS n_hits
             FROM ebest JOIN abest USING (query_id, neighbor_id)
             GROUP BY query_id)
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(topk)} AS recall
    FROM (SELECT vec_id FROM qz q WHERE {query_pred}) q
    LEFT JOIN hits h ON h.query_id = q.vec_id
    """
    )


# --- IVF-PQ: coarse quantizer + PQ on residuals -----------------------------
#
# The FAISS-style composed index a 100 TB corpus actually serves from:
# a small coarse k-means (kc cells) partitions the corpus; each vector
# stores (cell id, PQ codes of its RESIDUAL against the cell
# centroid); a query probes only its ``nprobe`` nearest cells. Search
# cost drops by ~kc/nprobe BEFORE any distance math, and the
# cell-membership join is an EQUI-join (broadcast hash), not the flat
# ADC's nested-loop scan. Residuals concentrate near zero, so the same
# M×K codebook budget quantizes them with less error than raw vectors
# — the reason every production IVF-PQ quantizes residuals.
#
# Determinism: the coarse quantizer IS pq_train with m=1 (the q96
# Lloyd contract over full int8 vectors); the residual PQ reuses the
# same machinery over integer residuals (components in [−254, 254],
# so the SQL-side floored mean biases by 256·n — the WAV-resample
# discipline at the wider range). Everything stays exact int64.


def ivf_train_coarse(
    vectors: DataFrame,
    kc: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_rows: list | None = None,
) -> list[tuple[int, tuple[int, ...]]]:
    """The coarse quantizer: full-dimension k-means = PQ training with
    a single sub-space (m=1, d=dim). Returns [(cid, centroid)]."""
    return pq_train(
        vectors, m=1, k=kc, iters=iters, dim=dim, id_col=id_col,
        vec_col=vec_col, seed_rows=seed_rows,
    )[0]


def _assign_residual(
    vdf: DataFrame,
    coarse: list[tuple[int, tuple[int, ...]]],
    dim: int,
    id_name: str,
    with_moments: bool = False,
) -> DataFrame:
    """(id, v) → (id, ccid, rv): int8-quantize in-batch, nearest
    coarse cell (exact int64 squared L2, ties → smaller cid) and the
    integer residual against its centroid. One Arrow-batched map-only
    pass — the coarse book is a closure capture (see _update_frame for
    why numpy here). ``with_moments=True`` appends the exact residual
    moments rs = Σ_j r_j and rq = Σ_j r_j² per row (r16: computed here
    in the same kernel instead of as interpreted F.aggregate folds
    over the output arrays — identical exact-int64 sums)."""
    cids, cents = _np_book({0: coarse}, 1)[0]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            V = _quantize_np(_np_fvecs(pdf["v"]))
            a = _assign_np(V, cents)
            rv = V - cents[a]
            out = {
                id_name: pdf[id_name].values,
                "ccid": cids[a],
                "rv": list(rv),
            }
            if with_moments:
                out["rs"] = rv.sum(axis=1)
                out["rq"] = (rv * rv).sum(axis=1)
            yield pd.DataFrame(out)

    schema = f"{id_name} long, ccid long, rv array<long>"
    if with_moments:
        schema += ", rs long, rq long"
    return vdf.mapInPandas(batches, schema=schema)


def ivfpq_train_residual(
    vectors: DataFrame,
    coarse: list[tuple[int, tuple[int, ...]]],
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_rows: list | None = None,
) -> Codebook:
    """Train the M residual sub-codebooks: the pq_train Lloyd loop fed
    residual vectors instead of raw quantized ones (same smallest-id
    seeding, same integer floored-mean update — Python // floors
    negatives exactly)."""
    d = dim // m
    vdf = _raw(vectors, id_col, vec_col, "_pid")
    book = _seed_codebook(
        vdf, m, k, dim, quantize=True, coarse=coarse, rows=seed_rows
    )
    for _ in range(iters):
        # quantize+residual fused into the kernel; partials folded
        # driver-side (one map-only job per round — _update_book)
        book = _update_book(vdf, book, m, d, quantize=True, coarse=coarse)
    return book


def ivfpq_cell_stats(
    vectors: DataFrame,
    kc: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The q248 spec surface: the coarse layout a 100 TB index is
    physically partitioned by — per surviving cell, its population and
    the exact residual moments (Σ r_j and Σ r_j² over members ×
    components). The moments pin assignment AND residual arithmetic;
    the plan is one map-only pass (literal centroids) + one ≤ kc-row
    group exchange. Output: (cid, n, r_sum, r_sqsum)."""
    coarse = ivf_train_coarse(
        vectors, kc=kc, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col
    )
    vdf = _raw(vectors, id_col, vec_col, "_pid")
    res = _assign_residual(vdf, coarse, dim, "_pid", with_moments=True)
    return (
        res.select("ccid", "rs", "rq")
        .groupBy("ccid")
        .agg(
            F.count("*").alias("n"),
            F.sum("rs").alias("r_sum"),
            F.sum("rq").alias("r_sqsum"),
        )
        .select(
            F.col("ccid").cast("long").alias("cid"),
            F.col("n").cast("long"),
            F.col("r_sum").cast("long"),
            F.col("r_sqsum").cast("long"),
        )
    )


def ivfpq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    kc: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: list[tuple[int, tuple[int, ...]]] | None = None,
    book: Codebook | None = None,
) -> DataFrame:
    """IVF-PQ search: encode the corpus as (cell, residual codes) in
    one map-only pass; per query, probe the ``nprobe`` nearest cells
    (ties → smaller cid) and build one ADC table per probed cell on
    the QUERY's residual against that cell's centroid; score only the
    matching cells' vectors via a broadcast EQUI-join on cell id —
    the pruning that makes 100 TB serveable (only nprobe/kc of the
    corpus is touched, and it is never shuffled).

    Output: (query_id, neighbor_id, adc_dist, rank), rank 1..topk by
    (adc_dist asc, neighbor_id asc), self-pairs excluded."""
    d = dim // m
    seeds = None
    if coarse is None and book is None:
        # one max(kc, k)-row seed collect shared by both trainings
        # (r17): the coarse seed is a prefix of the residual seed
        seeds = _collect_seed_rows(
            _raw(vectors, id_col, vec_col, "_pid"), max(kc, k)
        )
    if coarse is None:
        coarse = ivf_train_coarse(
            vectors, kc=kc, iters=iters, dim=dim, id_col=id_col,
            vec_col=vec_col, seed_rows=seeds,
        )
    if book is None:
        book = ivfpq_train_residual(
            vectors, coarse, m=m, k=k, iters=iters, dim=dim,
            id_col=id_col, vec_col=vec_col, seed_rows=seeds,
        )
    enc = ivfpq_encode(
        vectors, coarse, book, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    )
    probes = _ivfpq_probe_frame(
        queries, coarse, book, m=m, k=k, dim=dim, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )
    return _ivfpq_rank(enc, probes, m=m, k=k, topk=topk)


def ivfpq_encode(
    vectors: DataFrame,
    coarse: list[tuple[int, tuple[int, ...]]],
    book: Codebook,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_alias: str = "neighbor_id",
    with_err: bool = False,
) -> DataFrame:
    """Corpus encode: assign cell + residual + M codes in ONE
    Arrow-batched map-only pass (see _update_frame for why numpy).
    Output: (id_alias, ccid, codes) — 8 half-byte codes standing in
    for 256 float32 bytes, the 32× compression the index stores.
    ``with_err=True`` appends ``qerr``: the exact int64 residual
    quantization error Σ_m ||r_m − cent_m[code_m]||² — the additive
    statistic whose growth says the codebooks need re-training."""
    d = dim // m
    vdf = _raw(vectors, id_col, vec_col, id_alias)
    ccids, ccents = _np_book({0: coarse}, 1)[0]
    nb = _np_book(book, m)

    def enc_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            V = _quantize_np(_np_fvecs(pdf["v"]))
            a = _assign_np(V, ccents)
            rv = V - ccents[a]
            cols, errs = [], None
            if with_err:
                errs = np.zeros(len(V), dtype=np.int64)
            for mi in range(m):
                sub = rv[:, mi * d : (mi + 1) * d]
                idx = _assign_np(sub, nb[mi][1])
                cols.append(nb[mi][0][idx])
                if with_err:
                    diff = sub - nb[mi][1][idx]
                    errs += (diff * diff).sum(axis=1)
            codes = np.stack(cols, axis=1)
            out = {
                id_alias: pdf[id_alias].values,
                "ccid": ccids[a],
                "codes": list(codes),
            }
            if with_err:
                out["qerr"] = errs
            yield pd.DataFrame(out)

    schema = f"{id_alias} long, ccid long, codes array<long>"
    if with_err:
        schema += ", qerr long"
    return vdf.mapInPandas(enc_batches, schema=schema)


def _ivfpq_probe_frame(
    queries: DataFrame,
    coarse: list[tuple[int, tuple[int, ...]]],
    book: Codebook,
    m: int,
    k: int,
    dim: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per query, the ``nprobe`` nearest cells (ties → smaller cid,
    which np.argsort(kind='stable') honors on the cid-sorted coarse
    book) and one residual ADC table per probed cell.
    Output: (query_id, pcid, tab)."""
    d = dim // m
    ccids, ccents = _np_book({0: coarse}, 1)[0]
    qq = _raw(queries, id_col, vec_col, "query_id")

    def probe_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            V = _quantize_np(_np_fvecs(pdf["v"]))
            diff = V[:, None, :] - ccents[None, :, :]
            cd = (diff * diff).sum(axis=2)  # (n, kc)
            order = np.argsort(cd, axis=1, kind="stable")[:, :nprobe]
            out_ids, out_pcids, out_tabs = [], [], []
            for r in range(V.shape[0]):
                for c in order[r]:
                    rqv = (V[r] - ccents[c])[None, :]
                    out_ids.append(int(pdf["query_id"].values[r]))
                    out_pcids.append(int(ccids[c]))
                    out_tabs.append(_adc_table_np(rqv, book, m, k, d)[0])
            yield pd.DataFrame(
                {"query_id": out_ids, "pcid": out_pcids, "tab": out_tabs}
            )

    return qq.mapInPandas(
        probe_batches, schema="query_id long, pcid long, tab array<long>"
    )


def _ivfpq_rank(
    enc: DataFrame, probes: DataFrame, m: int, k: int, topk: int
) -> DataFrame:
    """Score probed cells' members via the broadcast EQUI-join on cell
    id and keep each query's top-k (adc_dist asc, neighbor_id asc)."""
    adc = reduce(
        add,
        [
            F.element_at(
                F.col("tab"),
                (F.lit(mi * k + 1) + F.element_at(F.col("codes"), mi + 1)).cast("int"),
            )
            for mi in range(m)
        ],
    )
    scored = (
        enc.join(F.broadcast(probes), enc["ccid"] == probes["pcid"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", (-adc).cast("double").alias("neg_adc"))
    )
    ranked = _partition_topk_then_rank(scored, topk, "neg_adc")
    return ranked.select(
        "query_id",
        "neighbor_id",
        (-F.col("neg_adc")).cast("long").alias("adc_dist"),
        "rank",
    )


def ivfpq_write_index(
    vectors: DataFrame,
    path: str,
    kc: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: list[tuple[int, tuple[int, ...]]] | None = None,
    book: Codebook | None = None,
) -> tuple[list[tuple[int, tuple[int, ...]]], Codebook]:
    """Materialize the IVF-PQ index as CELL-PARTITIONED parquet — the
    physical layout that turns the nprobe pruning into PARTITION
    PRUNING at the scan (SCALE.md r12's "cells are the physical
    partitioning" claim, demonstrated rather than stated). Each cell's
    codes land under ``ccid=<cid>/`` directories, so a search that
    probes nprobe of kc cells lists and reads ONLY those directories'
    files: the other (kc − nprobe)/kc of a 100 TB corpus is never
    opened, not merely never scored. Returns (coarse, book) — the tiny
    codebooks the searcher needs (persist them beside the index; they
    are ≤ kc·dim + M·K·d ints)."""
    seeds = None
    if coarse is None and book is None:
        seeds = _collect_seed_rows(
            _raw(vectors, id_col, vec_col, "_pid"), max(kc, k)
        )
    if coarse is None:
        coarse = ivf_train_coarse(
            vectors, kc=kc, iters=iters, dim=dim, id_col=id_col,
            vec_col=vec_col, seed_rows=seeds,
        )
    if book is None:
        book = ivfpq_train_residual(
            vectors, coarse, m=m, k=k, iters=iters, dim=dim,
            id_col=id_col, vec_col=vec_col, seed_rows=seeds,
        )
    enc = ivfpq_encode(
        vectors, coarse, book, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    )
    enc.write.mode("overwrite").partitionBy("ccid").parquet(path)
    return coarse, book


def ivfpq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    coarse: list[tuple[int, tuple[int, ...]]],
    book: Codebook,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    topk: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a cell-partitioned parquet index written by
    ``ivfpq_write_index``: compute the probe frame, collect the
    DISTINCT probed cell ids (bounded — ≤ |queries|·nprobe ints, and
    queries are a sample by the ANN-stack contract), and filter the
    index scan with a LITERAL ``ccid IN (...)``. Because ccid is the
    partition column, Catalyst turns that into static partition
    pruning: the scan's PartitionFilters carry the IN-list and only
    the probed cells' directories are listed/read (plan-locked in
    tests/test_plans.py). Identical results to ``ivfpq_adc_topk`` with
    the same codebooks — the equi-join already dropped unprobed cells;
    this drops their I/O too."""
    probes = _ivfpq_probe_frame(
        queries, coarse, book, m=m, k=k, dim=dim, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).localCheckpoint(eager=True)  # probe once: reused for cells + join
    cells = sorted(
        int(r["pcid"]) for r in probes.select("pcid").distinct().collect()
    )
    enc = spark.read.parquet(path).where(F.col("ccid").isin(cells))
    return _ivfpq_rank(enc, probes, m=m, k=k, topk=topk)


def ivfpq_recall_at_k(
    vectors: DataFrame,
    queries: DataFrame,
    kc: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of IVF-PQ against the exact int8-L2 baseline — the
    acceptance gate measuring BOTH losses at once (cells not probed +
    residual quantization error) on a query sample before the index
    serves. Output: (query_id, n_hits, recall)."""
    approx = ivfpq_adc_topk(
        vectors, queries, kc=kc, m=m, k=k, iters=iters, dim=dim,
        topk=topk, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
    )
    exact = exact_int8_l2_topk(vectors, queries, topk=topk, id_col=id_col, vec_col=vec_col)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qids = queries.select(F.col(id_col).alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(float(topk))).alias(
            "recall"
        ),
    )


def _zdist(a: str, b: str) -> str:
    """DuckDB exact int squared-L2 between two integer lists."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" z -> (z[1]-z[2])*(z[1]-z[2])), (acc, x) -> acc + x)"
    )


def _ivf_ctes(kc: int, citers: int, dim: int) -> str:
    """DuckDB CTE chain replicating the coarse quantizer + residuals:
    int8 quantize → smallest-id seeding of kc full-dimension centroids
    → ``citers`` Lloyd cycles (biased floored mean, +128·n — int8
    components) → final assignment → integer residuals. ``cc{citers}``
    is the coarse book; ``resid`` holds (vec_id, ccid, rv)."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "mxx AS (SELECT vec_id, v, list_reduce(list_transform(v, x -> abs(x)),"
        " (a, x) -> greatest(a, x)) AS mx FROM e)",
        "qz AS (SELECT vec_id, list_transform(v, x -> CAST(round(x * 127 / mx)"
        " AS BIGINT)) AS qv FROM mxx)",
        "cseeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1"
        f" AS BIGINT) AS cid FROM qz ORDER BY vec_id LIMIT {kc})",
        "cc0 AS (SELECT s.cid, q.qv AS c FROM qz q JOIN cseeds s USING (vec_id))",
    ]
    for it in range(1, citers + 1):
        prev = f"cc{it - 1}"
        parts += [
            f"ca{it} AS (SELECT vec_id, qv, cid FROM ("
            f" SELECT q.vec_id, q.qv, c.cid,"
            f" row_number() OVER (PARTITION BY q.vec_id ORDER BY"
            f" {_zdist('q.qv', 'c.c')}, c.cid) AS rn"
            f" FROM qz q, {prev} c) z WHERE rn = 1)",
            f"cu{it} AS (SELECT cid, gj.j AS j, qv[gj.j] AS x FROM ca{it},"
            f" unnest(CAST(range(1, {dim + 1}) AS BIGINT[])) AS gj(j))",
            f"cs{it} AS (SELECT cid, j,"
            f" (sum(x) + 128*count(*)) // count(*) - 128 AS cx, count(*) AS n"
            f" FROM cu{it} GROUP BY cid, j)",
            f"cc{it} AS (SELECT cid, list(cx ORDER BY j) AS c, min(n) AS n"
            f" FROM cs{it} GROUP BY cid)",
        ]
    final = f"cc{citers}"
    parts += [
        "cassign AS (SELECT vec_id, qv, cid AS ccid FROM ("
        " SELECT q.vec_id, q.qv, c.cid,"
        " row_number() OVER (PARTITION BY q.vec_id ORDER BY"
        f" {_zdist('q.qv', 'c.c')}, c.cid) AS rn"
        f" FROM qz q, {final} c) z WHERE rn = 1)",
        "resid AS (SELECT a.vec_id, a.ccid,"
        " list_transform(list_zip(a.qv, c.c), z -> z[1]-z[2]) AS rv"
        f" FROM cassign a JOIN {final} c ON a.ccid = c.cid)",
    ]
    return "WITH " + ",\n".join(parts)


def ivfpq_cell_oracle_sql(kc: int = 8, citers: int = 2, dim: int = 64) -> str:
    """q248 oracle: per-cell population + exact residual moments."""
    return (
        _ivf_ctes(kc, citers, dim)
        + """
    SELECT CAST(ccid AS BIGINT) AS cid, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(list_reduce(rv, (a, x) -> a + x)) AS BIGINT) AS r_sum,
           CAST(sum(list_reduce(list_transform(rv, x -> x * x),
                (a, x) -> a + x)) AS BIGINT) AS r_sqsum
    FROM resid GROUP BY ccid
    """
    )


def _respq_encode_ctes(m: int, k: int, d: int, riters: int) -> list[str]:
    """CTE parts through ``renc``: residual sub-vectors, residual PQ
    training (biased floored mean at +256·n — residual components span
    ±254), and the final per-(vector, sub-space) code assignment.
    Appended after ``_ivf_ctes`` (which defines ``resid``)."""
    parts = [
        f"rsub AS (SELECT vec_id, ccid, gm.m AS m,"
        f" list_slice(rv, CAST(gm.m*{d}+1 AS BIGINT),"
        f" CAST(gm.m*{d}+{d} AS BIGINT)) AS s"
        f" FROM resid, unnest(CAST(range(0, {m}) AS BIGINT[])) AS gm(m))",
        "rseeds AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1"
        f" AS BIGINT) AS cid FROM resid ORDER BY vec_id LIMIT {k})",
        "rc0 AS (SELECT b.m, rseeds.cid, b.s AS c FROM rsub b"
        " JOIN rseeds USING (vec_id))",
    ]
    for it in range(1, riters + 1):
        prev = f"rc{it - 1}"
        parts += [
            f"ra{it} AS (SELECT vec_id, m, s, cid FROM ("
            f" SELECT p.vec_id, p.m, p.s, c.cid,"
            f" row_number() OVER (PARTITION BY p.vec_id, p.m ORDER BY"
            f" {_zdist('p.s', 'c.c')}, c.cid) AS rn"
            f" FROM rsub p JOIN {prev} c ON p.m = c.m) z WHERE rn = 1)",
            f"ru{it} AS (SELECT m, cid, gj.j AS j, s[gj.j] AS x FROM ra{it},"
            f" unnest(CAST(range(1, {d + 1}) AS BIGINT[])) AS gj(j))",
            f"rs{it} AS (SELECT m, cid, j,"
            f" (sum(x) + 256*count(*)) // count(*) - 256 AS cx, count(*) AS n"
            f" FROM ru{it} GROUP BY m, cid, j)",
            f"rc{it} AS (SELECT m, cid, list(cx ORDER BY j) AS c, min(n) AS n"
            f" FROM rs{it} GROUP BY m, cid)",
        ]
    rfinal = f"rc{riters}"
    parts += [
        f"renc AS (SELECT vec_id, ccid, m, cid FROM ("
        f" SELECT p.vec_id, p.ccid, p.m, c.cid,"
        f" row_number() OVER (PARTITION BY p.vec_id, p.m ORDER BY"
        f" {_zdist('p.s', 'c.c')}, c.cid) AS rn"
        f" FROM rsub p JOIN {rfinal} c ON p.m = c.m) z WHERE rn = 1)",
    ]
    return parts


def _ivfpq_scored_ctes(
    kc: int,
    citers: int,
    m: int,
    k: int,
    d: int,
    riters: int,
    nprobe: int,
    query_pred: str,
) -> str:
    """CTE chain through ``scored``: residual PQ training + corpus
    encode (_respq_encode_ctes), per-(query, probed-cell) residual ADC
    tables, and the cell-membership equi-join sum."""
    dim = m * d
    rfinal = f"rc{riters}"
    cfinal = f"cc{citers}"
    parts = _respq_encode_ctes(m, k, d, riters)
    parts += [
        f"probes AS (SELECT query_id, pcid, qv FROM ("
        f" SELECT q.vec_id AS query_id, c.cid AS pcid, q.qv,"
        f" row_number() OVER (PARTITION BY q.vec_id ORDER BY"
        f" {_zdist('q.qv', 'c.c')}, c.cid) AS rn"
        f" FROM (SELECT * FROM qz q WHERE {query_pred}) q, {cfinal} c) z"
        f" WHERE rn <= {nprobe})",
        f"qres AS (SELECT p.query_id, p.pcid,"
        f" list_transform(list_zip(p.qv, c.c), z -> z[1]-z[2]) AS rqv"
        f" FROM probes p JOIN {cfinal} c ON p.pcid = c.cid)",
        f"qsub AS (SELECT query_id, pcid, gm.m AS m,"
        f" list_slice(rqv, CAST(gm.m*{d}+1 AS BIGINT),"
        f" CAST(gm.m*{d}+{d} AS BIGINT)) AS s"
        f" FROM qres, unnest(CAST(range(0, {m}) AS BIGINT[])) AS gm(m))",
        f"qtab AS (SELECT q.query_id, q.pcid, c.m, c.cid,"
        f" {_zdist('q.s', 'c.c')} AS dist"
        f" FROM qsub q JOIN {rfinal} c ON q.m = c.m)",
        "scored AS (SELECT t.query_id, e.vec_id AS neighbor_id,"
        " sum(t.dist) AS adc"
        " FROM renc e JOIN qtab t"
        " ON e.ccid = t.pcid AND e.m = t.m AND e.cid = t.cid"
        " WHERE e.vec_id <> t.query_id"
        " GROUP BY t.query_id, e.vec_id)",
    ]
    return _ivf_ctes(kc, citers, dim) + ",\n" + ",\n".join(parts)


def ivfpq_adc_oracle_sql(
    kc: int = 8,
    citers: int = 2,
    m: int = 8,
    k: int = 16,
    d: int = 8,
    riters: int = 2,
    topk: int = 10,
    nprobe: int = 2,
    query_pred: str = "q.vec_id % 100 = 0",
) -> str:
    """q249 oracle: IVF-PQ top-k, rank by (adc_dist asc, neighbor_id
    asc), candidates limited to the nprobe probed cells."""
    return (
        _ivfpq_scored_ctes(kc, citers, m, k, d, riters, nprobe, query_pred)
        + f"""
    SELECT query_id, neighbor_id, CAST(adc AS BIGINT) AS adc_dist,
           CAST(rk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc, neighbor_id) AS rk FROM scored) t
    WHERE rk <= {topk}
    """
    )


def ivfpq_qerr_by_cell(
    vectors: DataFrame,
    kc: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The q255 spec surface: per coarse cell, the exact residual
    quantization error Σ||r_m − cent_m[code_m]||² of its members under
    the trained residual codebooks — the PRECISE statistic that says
    when the codebooks need re-training, surfaced as an
    oracle-checkable batch query. One
    map-only encode pass (books are closure captures) + one ≤ kc-row
    group exchange. Output: (cid, n, err_sum, err_min, err_max)."""
    seeds = _collect_seed_rows(
        _raw(vectors, id_col, vec_col, "_pid"), max(kc, k)
    )
    coarse = ivf_train_coarse(
        vectors, kc=kc, iters=iters, dim=dim, id_col=id_col,
        vec_col=vec_col, seed_rows=seeds,
    )
    book = ivfpq_train_residual(
        vectors, coarse, m=m, k=k, iters=iters, dim=dim,
        id_col=id_col, vec_col=vec_col, seed_rows=seeds,
    )
    enc = ivfpq_encode(
        vectors, coarse, book, m=m, dim=dim,
        id_col=id_col, vec_col=vec_col, with_err=True,
    )
    return enc.groupBy("ccid").agg(
        F.count("*").alias("n"),
        F.sum("qerr").alias("err_sum"),
        F.min("qerr").alias("err_min"),
        F.max("qerr").alias("err_max"),
    ).select(
        F.col("ccid").cast("long").alias("cid"),
        F.col("n").cast("long"),
        F.col("err_sum").cast("long"),
        F.col("err_min").cast("long"),
        F.col("err_max").cast("long"),
    )


def ivfpq_qerr_oracle_sql(
    kc: int = 8,
    citers: int = 2,
    m: int = 8,
    k: int = 16,
    d: int = 8,
    riters: int = 2,
) -> str:
    """q255 oracle: replay coarse Lloyd → residuals → residual PQ →
    final code assignment, then per-vector Σ sub-space distance to the
    CHOSEN centroid, grouped by cell."""
    dim = m * d
    parts = _respq_encode_ctes(m, k, d, riters)
    parts += [
        f"verr AS (SELECT p.vec_id, p.ccid,"
        f" sum({_zdist('p.s', 'c.c')}) AS qerr"
        f" FROM rsub p"
        f" JOIN renc e ON e.vec_id = p.vec_id AND e.m = p.m"
        f" JOIN rc{riters} c ON c.m = p.m AND c.cid = e.cid"
        f" GROUP BY p.vec_id, p.ccid)",
    ]
    return (
        _ivf_ctes(kc, citers, dim)
        + ",\n"
        + ",\n".join(parts)
        + """
    SELECT CAST(ccid AS BIGINT) AS cid, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(qerr) AS BIGINT) AS err_sum,
           CAST(min(qerr) AS BIGINT) AS err_min,
           CAST(max(qerr) AS BIGINT) AS err_max
    FROM verr GROUP BY ccid
    """
    )


def ivfpq_recall_oracle_sql(
    kc: int = 8,
    citers: int = 2,
    m: int = 8,
    k: int = 16,
    d: int = 8,
    riters: int = 2,
    topk: int = 10,
    nprobe: int = 2,
    query_pred: str = "q.vec_id % 100 = 0",
) -> str:
    """q250 oracle: IVF-PQ top-k ∩ exact int8-L2 top-k per query."""
    return (
        _ivfpq_scored_ctes(kc, citers, m, k, d, riters, nprobe, query_pred)
        + f""",
    abest AS (SELECT query_id, neighbor_id
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc, neighbor_id) AS rk FROM scored) t
              WHERE rk <= {topk}),
    ex AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                  {_zdist('q.qv', 'n.qv')} AS dist
           FROM qz n CROSS JOIN (SELECT * FROM qz q WHERE {query_pred}) q
           WHERE n.vec_id <> q.vec_id),
    ebest AS (SELECT query_id, neighbor_id
              FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY dist, neighbor_id) AS rk FROM ex) t
              WHERE rk <= {topk}),
    hits AS (SELECT query_id, count(*) AS n_hits
             FROM ebest JOIN abest USING (query_id, neighbor_id)
             GROUP BY query_id)
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(topk)} AS recall
    FROM (SELECT vec_id FROM qz q WHERE {query_pred}) q
    LEFT JOIN hits h ON h.query_id = q.vec_id
    """
    )


# --- codebook generations: the re-train FLIP (VERDICT r13 "Next #4") --------
#
# Re-training never mutates codebooks in place. A GENERATION is a
# self-contained directory ``gen-<g>/`` holding a cell-partitioned
# index (ivfpq_write_index layout) plus a ``codebooks.json`` sidecar.
# The sidecar is written LAST via tempfile+rename, so its presence IS
# the commit marker: a crash mid-flip leaves gen-<g> invisible to
# loaders and the retry rewrites it from scratch. Committed generations
# are immutable — the flip only ever ADDS ``gen-<g+1>``; searchers
# pinned to g keep reading g's directory bit-for-bit while new
# searchers pick up g+1.


def codebooks_to_json(
    coarse: list[tuple[int, tuple[int, ...]]], book: Codebook
) -> str:
    """Portable sidecar form of the (tiny) codebooks: ≤ kc·dim +
    M·K·(dim/M) integers — the only state a searcher needs besides the
    index path."""
    import json

    return json.dumps(
        {
            "coarse": [[int(cid), list(map(int, c))] for cid, c in coarse],
            "book": {
                str(mi): [[int(cid), list(map(int, c))] for cid, c in ents]
                for mi, ents in book.items()
            },
        }
    )


def codebooks_from_json(
    s: str,
) -> tuple[list[tuple[int, tuple[int, ...]]], Codebook]:
    import json

    d = json.loads(s)
    coarse = [(int(cid), tuple(c)) for cid, c in d["coarse"]]
    book = {
        int(mi): [(int(cid), tuple(c)) for cid, c in ents]
        for mi, ents in d["book"].items()
    }
    return coarse, book


def _gen_dir(root: str, generation: int) -> str:
    return f"{root}/gen-{int(generation)}"


def ivfpq_committed_generations(root: str) -> list[int]:
    """Ascending generation numbers whose codebooks.json sidecar exists
    (the commit marker); uncommitted directories are invisible."""
    import os
    import re

    if not os.path.isdir(root):
        return []
    out = []
    for e in os.listdir(root):
        mm = re.fullmatch(r"gen-(\d+)", e)
        if mm and os.path.exists(os.path.join(root, e, "codebooks.json")):
            out.append(int(mm.group(1)))
    return sorted(out)


def ivfpq_write_generation(
    vectors: DataFrame,
    root: str,
    generation: int,
    kc: int = 8,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, tuple[int, ...]]], Codebook]:
    """Train generation ``generation``'s codebooks on ``vectors`` (the
    CURRENT corpus — typically the served corpus plus the drifted
    stream that tripped the gate) and write its cell-partitioned index
    under ``root/gen-<g>/``. Replay-safe: if the generation is already
    committed the call is an idempotent no-op that returns the
    COMMITTED codebooks (retraining is seeded deterministically, but
    the commit marker, not determinism, is what fences the replay).
    Never touches other generations.

    At-scale note: the tempfile+rename commit is atomic on POSIX
    filesystems; on an object store (no atomic rename) use a
    put-if-absent on the sidecar key — the protocol is unchanged, only
    the primitive that makes the marker appear whole-or-not-at-all."""
    import os
    import shutil
    import tempfile

    gdir = _gen_dir(root, generation)
    marker = os.path.join(gdir, "codebooks.json")
    if os.path.exists(marker):  # replay of a committed flip: fence
        with open(marker) as f:
            return codebooks_from_json(f.read())
    if os.path.isdir(gdir):  # uncommitted leftover from a crash
        shutil.rmtree(gdir)
    coarse, book = ivfpq_write_index(
        vectors, os.path.join(gdir, "index"),
        kc=kc, m=m, k=k, iters=iters, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    fd, tmp = tempfile.mkstemp(dir=gdir, suffix=".json.tmp")
    with os.fdopen(fd, "w") as f:
        f.write(codebooks_to_json(coarse, book))
    os.rename(tmp, marker)  # atomic commit: the sidecar appears whole or not at all
    return coarse, book


def ivfpq_load_generation(
    root: str, generation: int | None = None
) -> tuple[int, str, list[tuple[int, tuple[int, ...]]], Codebook]:
    """(generation, index_path, coarse, book) for the requested — or
    latest committed — generation. Raises if none is committed."""
    import os

    gens = ivfpq_committed_generations(root)
    if generation is None:
        if not gens:
            raise FileNotFoundError(f"no committed generation under {root}")
        generation = gens[-1]
    elif generation not in gens:
        raise FileNotFoundError(f"generation {generation} not committed under {root}")
    gdir = _gen_dir(root, generation)
    with open(os.path.join(gdir, "codebooks.json")) as f:
        coarse, book = codebooks_from_json(f.read())
    return int(generation), os.path.join(gdir, "index"), coarse, book


def ivfpq_search_generation(
    spark,
    root: str,
    queries: DataFrame,
    generation: int | None = None,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    topk: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Partition-pruned search against a committed generation (latest
    by default) — the serving entry point across re-train flips: old
    generations keep answering byte-identically until the caller
    retires them."""
    _, path, coarse, book = ivfpq_load_generation(root, generation)
    return ivfpq_search_index(
        spark, path, queries, coarse, book,
        m=m, k=k, dim=dim, topk=topk, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )
