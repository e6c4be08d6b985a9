"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

All operators are pure DataFrame compositions (JVM-side, codegen'd —
no Python UDFs) and are designed so the same algorithm is expressible
in DuckDB SQL for the correctness oracle:

- the portable hash is md5 (identical hex output in Spark and DuckDB);
  the *scale* hash is xxhash64 (Spark-only, 8-byte longs instead of
  32-char strings — pass ``hash_fn="xxhash64"``);
- dot products / divisions are written with identical association so
  IEEE doubles match bit-for-bit.

Scale notes (100 TB):
- Exact dedup is a single hash-shuffle on the text digest, not the
  text: we group by md5/xxhash64(text) so the shuffle carries 16-byte
  keys, not documents.
- Pairwise shingle join (ngram_jaccard_pairs) is quadratic in docs
  sharing a shingle — fine for corpus slices / validation, wrong as
  the primary 100 TB dedup. MinHash-LSH is the scale path: candidate
  generation is a self-join on (band, band_hash) buckets, so work is
  proportional to true near-duplicates, and hot buckets are bounded by
  the band width. Increase ``num_hashes``/``bands`` for recall,
  xxhash64 for speed.
- SimHash gives a per-doc 64-bit fingerprint; near-dup = hamming
  distance ≤ k via banding on fingerprint chunks (pigeonhole), again
  join-on-bucket rather than all-pairs.

Reference parity note: the reference has no text dedup; its only dedup
is job-ledger latest-state (jobs/jobsdb.go:557-559). These operators
are the north-star extension (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def _shingle_zip(toks: Column, k: int) -> Column:
    """The k-token sliding windows as arrays_zip over k shifted slices
    — one struct per window position, whole-stage codegen (the old
    transform(sequence, i -> concat_ws(slice)) lambda ran as an
    interpreted CodegenFallback closure per window; measured 2x slower
    on the sf0.1 corpus at k=3). With m = max(n-k+1, 1) the first
    slice always has m elements, so the zip emits exactly the old
    sequence(1, m) positions; for docs shorter than k tokens the
    absent fields are null and concat_ws skips them — exactly the old
    slice(toks, i, k) truncation."""
    m = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(k)])


def _shingle_concat(struct_col: Column, k: int) -> Column:
    """gram string from one zip struct: concat_ws skips the null fields
    a shorter-than-k doc leaves, mirroring the old truncated slice."""
    return F.concat_ws(" ", *[struct_col[str(i)] for i in range(k)])


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles of a space-tokenized text column.

    Pure JVM expression: split → arrays_zip of k shifted slices →
    per-window concat → array_distinct (r16: the window build is the
    codegen zip, not an interpreted sequence/slice lambda; the
    remaining transform is a cheap field-concat per window).
    Bit-identical to the DuckDB 1-based list-slice spelling.
    """
    toks = tokens(col)
    return F.array_distinct(
        F.transform(_shingle_zip(toks, k), lambda s: _shingle_concat(s, k))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest; deterministic keeper =
    min id. Shuffles 16-byte digests, not documents."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_dups"))
    )


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    from .layout import ensure_scan_parallelism

    # shingling + per-shingle hashing is the CPU-heavy head of every
    # text-dedup pipeline; fan a narrow scan out first so it uses the
    # whole cluster (no-op when the input already has >= cores splits).
    # Measured at sf0.1/local[32]: q31 5.7s -> 1.5s, q32 3.6s -> 1.5s.
    #
    # r16: fully lambda-free spelling — distinct the zip STRUCTS, then
    # build the gram string AFTER the explode from plain field refs, so
    # the whole stage is codegen (measured 1.05 -> 0.51 s on the sf0.1
    # corpus vs the transform-HOF form). Struct-distinct equals
    # string-distinct: tokens are space-free (split on ' '), so for
    # full windows concat_ws(' ', t1..tk) is injective (split recovers
    # the tuple, empties preserved); a shorter-than-k doc emits exactly
    # one window. Identical (doc_id, shingle) rows either way
    # (0-row exceptAll diff both directions, both k=3 and k=8).
    toks = tokens(text_col)
    return (
        ensure_scan_parallelism(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select("doc_id", F.explode(F.array_distinct(_shingle_zip(toks, k))).alias("_w"))
        .select("doc_id", _shingle_concat(F.col("_w"), k).alias("shingle"))
    )


def _jaccard_verify(counts: DataFrame, inter: DataFrame, threshold: float) -> DataFrame:
    """Shared exact-Jaccard finisher over an intersection-count frame
    (doc_a, doc_b, c) and a per-doc shingle-count frame (doc_id, ns).
    ONE definition keeps both the all-pairs and the LSH paths
    bit-identical with the DuckDB oracle: jaccard = c / (na + nb − c),
    long/long → double division. Callers produce ``counts`` from
    whatever aggregation they already run (the LSH path piggybacks it
    on the minhash groupBy, saving a corpus scan)."""
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("na"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via shared-shingle join.

    Output (doc_a, doc_b, jaccard) — see _jaccard_verify.
    """
    sh = shingle_table(df, text_col, id_col, k)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("ns"))
    return _jaccard_verify(counts, inter, threshold)


def _minhash_expr(seed: int, hash_fn: str) -> Column:
    if hash_fn == "md5":
        return F.min(F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle")))).alias(f"mh{seed}")
    if hash_fn == "xxhash64":
        return F.min(F.xxhash64(F.lit(seed), F.col("shingle"))).alias(f"mh{seed}")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def lsh_candidates(sig: DataFrame, num_hashes: int = 8, bands: int = 4) -> DataFrame:
    """Band the signature and self-join on (band_id, band_hash).

    Work scales with bucket collisions (≈ true near-dups), not |docs|².
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *parts)).alias("bh")))
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("band")).select(
        "doc_id", F.col("band.band_id").alias("band_id"), F.col("band.bh").alias("bh")
    )
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard.

    Candidates from LSH buckets; verification joins shingles only for
    candidate docs (semi-join pushdown), so the exact-jaccard cost is
    proportional to candidates, not the corpus. The per-doc shingle
    counts the Jaccard denominator needs ride the SAME groupBy that
    computes the minhash signature — one corpus-wide aggregation, not
    two.
    """
    sh = shingle_table(df, text_col, id_col, k)
    sig = sh.groupBy("doc_id").agg(
        F.count("*").alias("ns"),
        *[_minhash_expr(s, hash_fn) for s in range(num_hashes)],
    )
    cand = lsh_candidates(sig, num_hashes, bands)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        cand.join(a, cand.doc_a == F.col("a.doc_id"))
        .join(b, (cand.doc_b == F.col("b.doc_id")) & (F.col("a.shingle") == F.col("b.shingle")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    return _jaccard_verify(sig.select("doc_id", "ns"), inter, threshold)


def _fp_chunks(width: int) -> list[Column]:
    """The 64/width aligned ``width``-bit blocks of the fingerprint,
    least-significant first. Widths 8/16/32 never straddle the
    fp_lo/fp_hi boundary, so each block is one shift+mask expression."""
    n = 64 // width
    mask = (1 << width) - 1
    out = []
    for b in range(n):
        off = b * width
        src, local = ("fp_lo", off) if off < 32 else ("fp_hi", off - 32)
        out.append(F.expr(f"(CAST({src} AS BIGINT) >> {local}) & {mask}"))
    return out


def simhash_near_dup(
    sig: DataFrame,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints: hamming(fp_a, fp_b) ≤ k.

    Candidate generation by pigeonhole banding with a key space that
    stays selective as the corpus grows (a 256-value key would put
    N/256 docs in each bucket and degenerate to ~N²/256 — the r1
    scale-killer):

    - k ≤ 3: the 4 aligned 16-bit chunks. Any pair within hamming 3
      differs in ≤ 3 chunks, so it agrees on ≥ 1 of the 4 → joined in
      that band. 65,536 keys per band.
    - 3 < k ≤ 6: Manku-style two-block keys over the 8 aligned 8-bit
      blocks. A pair within hamming 6 has ≥ 8−6 = 2 agreeing blocks,
      so it collides in the band for that block pair (i<j). C(8,2) =
      28 bands, each keyed by the 16-bit concatenation — 65,536 keys
      per band, never the raw 256-value single byte.

    Both schemes have PERFECT recall (pigeonhole); precision comes from
    the exact hamming verify (xor + bit_count) before the distinct.

    Input: (doc_id, fp_hi, fp_lo) from simhash(). Output:
    (doc_a, doc_b, hamming).
    """
    if max_hamming <= 3:
        chunks = _fp_chunks(16)
        chunk_cols = [
            F.struct(F.lit(b).alias("band"), c.alias("chunk"))
            for b, c in enumerate(chunks)
        ]
    elif max_hamming <= 6:
        blocks = _fp_chunks(8)
        chunk_cols = []
        band_id = 0
        for i in range(len(blocks)):
            for j in range(i + 1, len(blocks)):
                chunk_cols.append(
                    F.struct(
                        F.lit(band_id).alias("band"),
                        (blocks[i] * 256 + blocks[j]).alias("chunk"),
                    )
                )
                band_id += 1
    else:
        raise ValueError("simhash_near_dup supports max_hamming <= 6")
    banded = sig.select(
        "doc_id", "fp_hi", "fp_lo", F.explode(F.array(*chunk_cols)).alias("bc")
    ).select("doc_id", "fp_hi", "fp_lo", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))
    x = banded.alias("x")
    y = banded.alias("y")
    # hamming-filter BEFORE the distinct: collisions are plentiful but
    # true near-dups are rare, so deduplicating only the survivors
    # shrinks the distinct's shuffle by orders of magnitude
    hamming = F.expr(
        "bit_count(x.fp_hi ^ y.fp_hi) + bit_count(x.fp_lo ^ y.fp_lo)"
    ).cast("long")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization for dedup keys: lowercase, strip
    punctuation, collapse whitespace — the standard pre-dedup pass in
    training-data pipelines (pure JVM expressions)."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    no_punct = F.regexp_replace(lowered, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(no_punct, r"\s+", " "))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash fingerprint per doc from md5(token) bits.

    Per token, bit p of the 64-bit hash is nibble (p div 4) of the md5
    hex prefix, bit (p mod 4). Fingerprint bit p = majority sign of
    Σ(2·bit−1) over tokens. Output (doc_id, fp_hi, fp_lo) as two
    BIGINT halves (portable across engines without uint64).

    Plumbing (r16): ONE doc-keyed shuffle, straight from the token
    explode. The md5 hex prefix is decoded into two 32-bit halves with
    conv() (2 expressions/row, not 16 substring+instr nibble probes),
    and ONE groupBy(doc_id) evaluates count(*) plus 64 codegen'd
    sum(bit_p) expressions — map-side combine reduces every partition
    to 65 longs per doc before the exchange, so the shuffle carries
    the same bytes the old two-shuffle (pre-agg by (doc, token-hash),
    then re-agg by doc) spelling paid TWO exchanges to move (measured
    2.5 → 1.7 s on the sf0.1 corpus, 0-row diff). The majority test
    w_p = Σ(2·bit−1) > 0 is equivalently 2·Σbit_p > n_tokens — exact
    integers, identical to the per-bit per-occurrence formulation the
    oracle uses.
    """
    from .layout import ensure_scan_parallelism

    tok = (
        ensure_scan_parallelism(df.select(F.col(id_col).alias("doc_id"), F.col(text_col)))
        .select("doc_id", F.explode(tokens(text_col)).alias("tok"))
        .select("doc_id", F.md5("tok").alias("h"))
    )
    halves = tok.select(
        "doc_id",
        F.expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)").alias("x1"),
        F.expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)").alias("x2"),
    )

    # bit p = 4·i + j lives in hex char i+1 (chars are MSB-first within
    # each conv'd half); all shift amounts are literals so the whole
    # agg stays in whole-stage codegen
    def _bit(p: int) -> str:
        i, j = p // 4, p % 4
        if i < 8:
            return f"((x1 >> {4 * (7 - i) + j}) & 1)"
        return f"((x2 >> {4 * (15 - i) + j}) & 1)"

    weights = halves.groupBy("doc_id").agg(
        F.count("*").alias("mtot"),
        *[F.sum(F.expr(_bit(p))).alias(f"b{p}") for p in range(64)],
    )
    fp_hi = sum(
        (F.expr(f"CASE WHEN 2*b{p} > mtot THEN CAST({1 << (p - 32)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
        for p in range(32, 64)
    )
    fp_lo = sum(
        (F.expr(f"CASE WHEN 2*b{p} > mtot THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
        for p in range(32)
    )
    return weights.select("doc_id", fp_hi.alias("fp_hi"), fp_lo.alias("fp_lo"))


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    edges_unique: bool = False,
) -> DataFrame:
    """Connected components over a near-dup pair graph by min-label
    propagation: every node converges to the smallest id reachable from
    it, giving a deterministic cluster id (and keeper = cluster id)
    regardless of iteration order.

    ``edges`` is (doc_a, doc_b) undirected pairs, ``nodes`` the full
    id frame (singletons become their own cluster). Each iteration is
    one join + min-aggregate; the loop runs until a fixpoint (bounded
    by graph diameter, ≤ ``max_iters``). Scale notes:

    - ONLY edge-endpoint nodes iterate. In a near-dup graph the
      touched set is a tiny fraction of the corpus (pairs are rare by
      construction), so every per-iteration join/agg runs over
      |endpoints| rows, not |docs|; the untouched majority joins back
      once at the end as their own singleton cluster. At 100 TB this
      is the difference between iterating over ~10⁶ rows and ~10¹¹.
    - The symmetric edge frame is localCheckpoint'ed once: every
      iteration's join then plans against a materialized RDD instead
      of re-planning the whole upstream candidate pipeline (with an
      LSH feed that lineage is hundreds of operators — O(1) plans keep
      driver/codegen time flat across iterations). Labels are
      localCheckpoint'ed per iteration for the same reason.
    - The fixpoint check rides the checkpoint action via
      ``Observation`` — one job per iteration, not a materialize +
      a separate changed-count. Near-dup components are
      overwhelmingly tiny stars, so convergence is 2-3 rounds.
    """
    # Correctness never needs the edge dedup (min-label propagation is
    # idempotent under duplicate edges — every aggregate is a min), so
    # ``edges_unique=True`` callers whose pair frame is unique BY
    # CONSTRUCTION (a verified-pair output is one row per (a,b) from
    # its groupBy) skip a full exchange+aggregate of the edge frame;
    # leave it False for dup-heavy inputs, where one dedup here shrinks
    # every iteration's join instead (r16).
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    if not edges_unique:
        sym = sym.distinct()
    sym = sym.localCheckpoint(eager=True)
    all_nodes = nodes.select(F.col(id_col).alias("doc_id"))
    touched = sym.select(F.col("src").alias("doc_id")).distinct()
    labels = touched.select("doc_id", F.col("doc_id").alias("cluster_id"))
    for _ in range(max_iters):
        nbr = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        obs = Observation()
        merged = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.col("cluster_id").alias("old_cluster"),
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .observe(
                obs,
                F.sum((F.col("old_cluster") != F.col("cluster_id")).cast("long")).alias(
                    "changed"
                ),
            )
        )
        merged = merged.localCheckpoint(eager=True)
        changed = obs.get["changed"]
        labels = merged.select("doc_id", "cluster_id")
        if not changed:
            break
    # singletons (never in any edge) are their own cluster
    return all_nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
    )


def minhash_signature_col(text_col: Column | str = "text", k: int = 3, num_hashes: int = 8) -> Column:
    """Per-ROW minhash signature as array<long> — pure expressions, no
    cross-row aggregation, so it is computable on a stream. Component i
    = min over the doc's k-token shingles of xxhash64(seed=i, shingle),
    the same hash family as the batch scale path (hash_fn='xxhash64')."""
    sh = shingles(text_col, k)
    return F.array(
        *[
            F.array_min(F.transform(sh, lambda x, s=s: F.xxhash64(F.lit(s), x)))
            for s in range(num_hashes)
        ]
    )


def minhash_dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming NEAR-dup suppression: the watermarked MinHash-band
    counterpart of :func:`minhash_lsh_pairs` (the batch scale path).

    Per row (streaming-safe, no cross-row agg): compute the minhash
    signature, band it, and explode to one row per (band_id, band_hash)
    bucket. Each bucket is a stateful group (applyInPandasWithState,
    EventTimeTimeout): state holds (id, signature, first-seen ts) of
    KEPT docs that hashed into the bucket; an arriving doc whose
    signature matches a stored one on ≥ threshold of its components
    (the Broder minhash estimate of Jaccard) is marked ``dup_of`` that
    doc, else it joins the state.

    Eviction is two-level, so a continuously active ("hot") bucket
    cannot accumulate keepers unboundedly: (1) per keeper — before
    matching, keepers whose first-seen ts has fallen behind the current
    event-time watermark (which already lags the stream head by the
    horizon) are dropped, exactly the dropDuplicatesWithinWatermark
    contract: a duplicate arriving after its keeper aged out is
    re-admitted as a new keeper, and suppression never consults keepers
    older than the horizon regardless of unrelated bucket activity;
    (2) per bucket — EventTimeTimeout removes the whole group once the
    watermark passes its last activity plus the horizon. State size is
    therefore ∝ in-horizon keepers within in-horizon buckets, never
    corpus size.

    Docs with no k-shingles (shorter than k tokens, or null text) have
    a null signature; they bypass the stateful stage entirely and are
    emitted as keepers (same as the batch path, where they can never be
    LSH candidates), rather than crashing the query on int(None).

    Returns the per-bucket verdict stream ``(doc_id, ts, dup_of,
    est_jaccard)``. A doc appears once per band; because the explode
    happens inside the micro-batch, ALL of a doc's band rows land in
    the same batch, so the final per-doc reduction (suppressed iff ANY
    bucket matched: ``groupBy(doc_id)`` with ``min(dup_of)``) is
    batch-local and exact — run it inside ``foreachBatch`` (a second
    *stateful* agg after this operator would hit Spark's
    chained-stateful restrictions; the batch-local groupBy doesn't).

    Like the batch path, suppression is greedy first-seen-wins; a later
    doc may be marked dup_of a doc that was itself suppressed in a
    different band (duplicate chains — same structure the batch
    pipeline resolves with connected components when it matters).
    """
    import pandas as pd

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "leftover signature components would silently drop out of banding"
        )
    horizon_ms = int(pd.Timedelta(watermark).total_seconds() * 1000)
    rpb = num_hashes // bands
    sig = minhash_signature_col(text_col, k, num_hashes)
    base = stream.select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).alias("ts"), sig.alias("sig")
    ).withWatermark("ts", watermark)
    # Null signature (no shingles): all components are null together, so
    # component 0 is the whole test. These rows can never be LSH
    # candidates — emit them as keepers without touching state.
    degenerate = base.where(F.col("sig")[0].isNull()).select(
        "doc_id",
        "ts",
        F.lit(None).cast("long").alias("dup_of"),
        F.lit(None).cast("double").alias("est_jaccard"),
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(F.lit(b), *[F.col("sig")[b * rpb + r] for r in range(rpb)]).alias("bh"),
        )
        for b in range(bands)
    ]
    banded = (
        base.where(F.col("sig")[0].isNotNull())
        .select("doc_id", "ts", "sig", F.explode(F.array(*band_cols)).alias("b"))
        .select("doc_id", "ts", "sig", F.col("b.band_id").alias("band_id"), F.col("b.bh").alias("bh"))
    )

    def bucket(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        wm_ms = state.getCurrentWatermarkMs()
        ids, sigs, tss = state.get if state.exists else ((), (), ())
        # per-keeper pruning: the watermark already lags the stream head
        # by the horizon, so a keeper first seen before the watermark is
        # out of horizon — drop it BEFORE matching (a hot bucket must
        # neither grow unboundedly nor suppress against stale keepers)
        live = [
            (int(i), list(s), int(t))
            for i, s, t in zip(ids, sigs, tss)
            if t >= wm_ms
        ]
        ids = [i for i, _, _ in live]
        sigs = [s for _, s, _ in live]
        tss = [t for _, _, t in live]
        rows = pd.concat(list(pdf_iter), ignore_index=True).sort_values(["ts", "doc_id"])
        out = []
        max_ts_ms = 0
        for r in rows.itertuples():
            # plain-int copies: numpy scalars don't survive the state
            # row's pickle round trip to the JVM
            s = [int(v) for v in r.sig]
            ts_ms = int(r.ts.value // 1_000_000)
            dup_of, best = None, 0.0
            for pid, psig in zip(ids, sigs):
                est = sum(a == b for a, b in zip(s, psig)) / num_hashes
                if est >= threshold and (dup_of is None or pid < dup_of):
                    dup_of, best = pid, est
            if dup_of is None:
                ids.append(int(r.doc_id))
                sigs.append(s)
                tss.append(ts_ms)
            out.append((int(r.doc_id), r.ts, dup_of, best if dup_of is not None else None))
            max_ts_ms = max(max_ts_ms, ts_ms)
        state.update((ids, sigs, tss))
        # whole-bucket eviction once the watermark passes last activity
        # + horizon (must stay ahead of the current watermark to be
        # accepted)
        state.setTimeoutTimestamp(
            max(max_ts_ms + horizon_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            out, columns=["doc_id", "ts", "dup_of", "est_jaccard"]
        )

    stateful = banded.groupBy("band_id", "bh").applyInPandasWithState(
        bucket,
        outputStructType="doc_id long, ts timestamp, dup_of long, est_jaccard double",
        stateStructType="ids array<long>, sigs array<array<long>>, tss array<long>",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
    return stateful.unionByName(degenerate)


def minhash_dedup_stream_from_plan(
    stream: DataFrame,
    plan_row,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    k: int = 3,
    threshold: float = 0.8,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Construct :func:`minhash_dedup_stream` from the layout the
    q222 band planner recommends (VERDICT r9 #5 — the planner and the
    streaming dedup were unwired: the plan's (r, b) wasn't consumable
    without hand-translating it to constructor args).

    ``plan_row`` is one row of ``diagnostics.lsh_band_plan`` output
    (typically the ``chosen`` one) — anything with ``r`` (rows per
    band) and ``b`` (bands) addressable by name: a pyspark Row, a
    dict, or a namedtuple. The signature width is set to exactly
    r·b components: the planner's b = ⌊n_hashes/r⌋ layouts use only
    that many, and the direct constructor (correctly) REJECTS ragged
    n_hashes/bands combinations — computing the n_hashes − r·b
    leftover minhash components would be wasted per-row work that no
    band hash ever reads. The S-curve the planner printed for (r, b)
    is therefore exactly the curve this stream operates on.
    """
    def field(name):
        try:
            return plan_row[name]  # Row / dict
        except (TypeError, KeyError, IndexError):
            return getattr(plan_row, name)  # namedtuple

    try:
        r, b = int(field("r")), int(field("b"))
    except (AttributeError, ValueError) as exc:
        raise ValueError(
            "plan_row must expose 'r' and 'b' by name (a lsh_band_plan "
            f"output row); got {plan_row!r}"
        ) from exc
    if r < 1 or b < 1:
        raise ValueError(f"plan layout must have r >= 1 and b >= 1, got ({r}, {b})")
    return minhash_dedup_stream(
        stream,
        text_col=text_col,
        id_col=id_col,
        ts_col=ts_col,
        k=k,
        num_hashes=r * b,
        bands=b,
        threshold=threshold,
        watermark=watermark,
    )


def positional_kgrams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """(id, pos, gram): every *full* k-token gram with its 1-based
    token position. Pure JVM; docs shorter than k tokens emit no grams
    — mirrored by the oracle's ``range(1, greatest(len - k + 2, 1))``
    upper-exclusive emptiness.

    r16: the sliding window is arrays_zip over k shifted slices
    (whole-stage codegen) and the gram string is concatenated AFTER
    the posexplode from the struct's fields — the previous
    transform(sequence, i -> concat_ws(slice)) lambda ran as an
    interpreted CodegenFallback closure per gram (~3x slower on this
    corpus-sized pass) for bit-identical output.  With m =
    max(n-k+1, 0) every slice has exactly m elements, so arrays_zip
    never null-pads and the k struct fields are exactly the old
    slice(toks, i, k) window."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, m) for i in range(k)])
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(z).alias("pos0", "s")
    ).select(
        "id",
        (F.col("pos0") + 1).alias("pos"),
        F.concat_ws(" ", *[F.col("s")[str(i)] for i in range(k)]).alias("gram"),
    )


def duplicated_span_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Substring-level duplication profile per document (the signal
    behind suffix-array substring dedup — Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022: a span
    duplicated anywhere in the corpus marks its occurrences for
    removal).

    A position is *duplicated* iff its k-token gram occurs more than
    once corpus-wide (within-doc repetition counts too, as in the
    paper). Output per doc: total gram positions, duplicated
    positions, and their ratio.

    Scale shape — this is the distributed stand-in for the paper's
    monolithic suffix array: ONE shuffle of (id, digest) rows keyed by
    the 8-byte gram digest, where a window count over the digest
    partition tags every position with its corpus-wide occurrence
    count (no separate totals table, no re-join), then one per-doc
    aggregate. The exchanges carry digests + ids, never document text
    — ~16 bytes per token position, which is also the suffix-array
    cost. The gram build is CPU-heavy per row (slice + concat per
    position), so the scan is fanned out first
    (operators/layout.ensure_scan_parallelism).
    """
    from pyspark.sql import Window

    from .layout import ensure_scan_parallelism

    grams = positional_kgrams(
        ensure_scan_parallelism(df.select(id_col, text_col)), text_col, id_col, k
    ).select("id", F.xxhash64("gram").alias("g"))
    occ = F.count("*").over(Window.partitionBy("g"))
    per_doc = (
        grams.withColumn("occ", occ)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("occ") > 1).cast("long")).alias("dup_grams"),
        )
    )
    return per_doc.select(
        F.col("id").alias("doc_id"),
        F.col("n_grams").cast("long"),
        F.col("dup_grams").cast("long"),
        (F.col("dup_grams") / F.col("n_grams")).alias("dup_ratio"),
    )


def remove_duplicated_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Substring dedup REMOVAL — the operator :func:`duplicated_span_stats`
    profiles (Lee et al., ACL 2022: "we remove from the dataset all but
    one of the duplicated substrings"): every k-token gram that occurs
    more than once corpus-wide keeps its FIRST occurrence (min (doc,
    pos) — deterministic canonical order) and every other occurrence's
    token span [pos, pos+k-1] is cut from its document; the cleaned
    text is the surviving tokens re-joined in order.

    Scale shape — never all-pairs, same backbone as the profile:
    1. ONE shuffle of (id, pos, digest) keyed by the 8-byte gram
       digest; a row_number window picks each gram's keeper.
    2. Non-keeper duplicated grams explode to their <= k covered token
       positions — output volume is k x duplicated-positions, bounded
       by k x corpus token count and in practice by the dup ratio.
    3. One distinct + one ANTI join on (id, token_pos) against the
       exploded token frame, then one per-doc ordered re-concat.
    The exchanges carry digests, ids, and positions — never document
    text — until the final per-doc aggregate.

    Engine/oracle note (the q92 contract): the engine clusters grams
    by ``xxhash64(gram)`` while the oracle uses the gram string; they
    agree absent a 64-bit collision. The keeper tie-break (id, pos) is
    total, so both engines pick the identical occurrence.

    Output: (doc_id, n_tokens, n_removed, cleaned_text); documents
    shorter than k tokens pass through untouched.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    grams = positional_kgrams(base, "_txt", "id", k).select(
        "id", "pos", F.xxhash64("gram").alias("g")
    )
    occ_w = Window.partitionBy("g")
    keep_w = Window.partitionBy("g").orderBy("id", "pos")
    marked = grams.select(
        "id",
        "pos",
        (F.count("*").over(occ_w) > 1).alias("_dup"),
        (F.row_number().over(keep_w) == 1).alias("_keeper"),
    )
    # r16: the cut positions are aggregated to ONE small array per
    # affected doc and the cleaned text is rebuilt ROW-LOCALLY from the
    # original tokens.  The previous spelling exploded every token of
    # every document and pushed the token STRINGS through an anti join
    # plus a collect_list re-aggregation — two corpus-sized shuffles of
    # payload bytes to move a decision that is fully determined by the
    # (id, tp) cut set (guide §8: shuffle the lightweight proxy, keep
    # the payload in place).  Only covered positions (dup-ratio-
    # bounded) are shuffled now; document text never crosses an
    # exchange before the final id join.
    covered = (
        marked.where(F.col("_dup") & ~F.col("_keeper"))
        .select(
            "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("tp")
        )
        .groupBy("id")
        .agg(F.collect_set("tp").alias("_cov"))
    )
    toks_arr = tokens("_txt")
    # array_except(sequence, cov) keeps surviving 1-based positions in
    # ascending order with a hash lookup per element (no O(n·|cov|)
    # membership scans); element_at re-reads the token at each kept
    # position, so join order — and therefore the rebuilt string — is
    # identical to the old position-sorted re-concat.
    kept_arr = F.when(F.col("_cov").isNull(), toks_arr).otherwise(
        F.transform(
            F.array_except(
                F.sequence(F.lit(1), F.size(toks_arr)), F.col("_cov")
            ),
            lambda tp: F.element_at(toks_arr, tp),
        )
    )
    n_tok = F.size(toks_arr).cast("long")
    return (
        base.join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            n_tok.alias("n_tokens"),
            # size(NULL) is -1 under legacy sizeOfNull, so branch on the
            # null explicitly rather than coalescing the size
            F.when(F.col("_cov").isNull(), F.lit(0))
            .otherwise(F.size("_cov"))
            .cast("long")
            .alias("n_removed"),
            F.concat_ws(" ", kept_arr).alias("cleaned_text"),
        )
    )


def remove_duplicated_spans_oracle_sql(
    source_sql: str, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> str:
    """DuckDB mirror of :func:`remove_duplicated_spans` (gram strings
    instead of digests; identical keeper tie-break and span algebra)."""
    i, t = id_col, text_col
    return f"""
    WITH src AS ({source_sql}),
    toks AS (SELECT {i} AS id, string_split({t}, ' ') AS tl FROM src),
    grams AS (
      SELECT id, u.i AS pos, array_to_string(tl[u.i:u.i+{k - 1}], ' ') AS gram
      FROM toks,
           unnest(CAST(range(1, greatest(len(tl) - {k} + 2, 1)) AS BIGINT[])) AS u(i)
    ),
    marked AS (
      SELECT id, pos,
             count(*) OVER (PARTITION BY gram) > 1 AS dup,
             row_number() OVER (PARTITION BY gram ORDER BY id, pos) = 1 AS keeper
      FROM grams
    ),
    covered AS (
      SELECT DISTINCT id, pos + u.o AS tp
      FROM marked, unnest(CAST(range(0, {k}) AS BIGINT[])) AS u(o)
      WHERE dup AND NOT keeper
    ),
    tokpos AS (
      SELECT id, u.i AS tp, tl[u.i] AS tok
      FROM toks, unnest(CAST(range(1, len(tl) + 1) AS BIGINT[])) AS u(i)
    ),
    kept AS (
      SELECT tokpos.* FROM tokpos
      ANTI JOIN covered USING (id, tp)
    ),
    rebuilt AS (
      SELECT id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY tp) AS cleaned_text
      FROM kept GROUP BY id
    )
    SELECT toks.id AS {i},
           CAST(len(toks.tl) AS BIGINT) AS n_tokens,
           CAST(len(toks.tl) - COALESCE(rebuilt.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(rebuilt.cleaned_text, '') AS cleaned_text
    FROM toks LEFT JOIN rebuilt USING (id)
    """


# -- prefix-filtered exact set-similarity join --------------------------------
def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    max_candidate_volume: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= t with PREFIX FILTERING (the
    Bayardo/PPJoin candidate pruning) — the third point in the dedup
    design space: exact like ngram_jaccard_pairs (no LSH miss
    probability), but candidates come only from each document's
    RAREST-token prefix instead of every shared shingle.

    Why it scales where the all-shingle join dies: the shared-shingle
    join's candidate volume is Σ_token df(token)² — one stopword-grade
    shingle shared by 1e6 docs contributes 1e12 pairs. With prefix
    filtering, a document of n shingles exposes only its
    ℓ = n − ceil(t·n) + 1 globally-rarest shingles (t=0.8 → ~20% of
    them, and by construction the LOW-frequency ones), so hot shingles
    never join. The classic prefix-filter theorem guarantees recall:
    J(A,B) ≥ t forces an overlap ≥ ceil(t·max(|A|,|B|)), which cannot
    avoid both rarest-first prefixes. Candidates are further pruned by
    the size-compatibility bound t·|A| ≤ |B| ≤ |A|/t before dedup.

    SCALING CONTRACT — the rare tail must exist. Every prefix-filter
    algorithm (this one, PPJoin, AllPairs) assumes the shingle df
    distribution has a low-frequency tail for the prefixes to live in.
    On an OPEN vocabulary (real text, Zipf) corpus growth adds new
    rare shingles and candidate volume tracks corpus size. On a
    CLOSED/SATURATED shingle space — |vocab|^k comparable to the
    corpus's shingle instance count — every df grows with the corpus
    and the candidate volume Σ_prefix df² grows QUADRATICALLY, meas-
    ured on the saturated synthetic corpus (31-word vocabulary, k=3 →
    ~30k possible shingles): candidate volume 122k → 203M (1664x) at
    32x the docs, wall-clock 206x. Escape hatches, in order: raise
    ``k`` until |vocab|^k >> corpus shingles (restores the tail), or
    switch to minhash_lsh_pairs (collides only true high-Jaccard
    pairs — measured linear at 32x on the same corpus).
    ``max_candidate_volume`` makes the contract enforceable: when set,
    the exact pre-join volume Σ_prefix-shingle C(df_p, 2) is computed
    (one aggregate over the prefix frame + a 1-row collect) and a
    ``ValueError`` names the overflow BEFORE the quadratic join runs,
    instead of the cluster discovering it the hard way.

    Thresholds are RATIONAL (t = t_num/t_den): every prune is integer
    arithmetic (ceil via (n·t_num + t_den − 1) div t_den), and the
    final jaccard filter reuses _jaccard_verify — identical output
    contract to ngram_jaccard_pairs, so the two operators agree
    bit-for-bit (locked by a unit test).

    Output: (doc_a, doc_b, jaccard).
    """
    threshold = t_num / t_den
    # the shingle frame feeds FIVE consumers (doc-frequency table, the
    # rarity ranking, per-doc counts, and both sides of the verify
    # join); materialize it once — five re-shingling scans of the
    # corpus is the alternative, and re-shingling is the CPU-heavy
    # head of the pipeline (see shingle_table)
    sh = shingle_table(df, text_col, id_col, k).localCheckpoint(eager=True)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("ns"))
    # global rarity rank within each doc: rarest shingles first, total
    # order via the shingle itself as tiebreak. Document frequency and
    # per-doc size both ride count-over-windows on the materialized
    # shingle frame (r17) instead of two aggregate+join-back passes —
    # the same rows (the joins were self-derived inner joins on their
    # own grouping keys, never dropping a row), two fewer joins, and
    # the rank window shares the ns window's doc_id exchange.
    ranked = (
        sh.withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
        .withColumn("ns", F.count("*").over(Window.partitionBy("doc_id")))
        .withColumn(
            "_pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("_df").asc(), F.col("shingle").asc()
                )
            ),
        )
    )
    prefix_len = (
        F.col("ns")
        - F.expr(f"(ns * {int(t_num)} + {int(t_den)} - 1) div {int(t_den)}")
        + 1
    )
    prefixes = ranked.where(F.col("_pos") <= prefix_len).select(
        "doc_id", "shingle", "ns"
    )
    if max_candidate_volume is not None:
        # exact upper bound on the self-join's output BEFORE running
        # it: Σ over prefix shingles of C(df_p, 2). Materialize the
        # prefix frame first — the guard adds a third consumer of the
        # ranked/prefixes subtree (the a/b self-join sides are the
        # other two), and without the checkpoint the df-join +
        # row_number ranking window would recompute per consumer
        # (review finding r8).
        prefixes = prefixes.localCheckpoint(eager=True)
        # decimal(38,0), NOT bigint: the session runs ANSI-off, where
        # bigint overflow wraps silently — a shingle with df_p ≳ 3e9
        # (or the cross-shingle sum) would wrap negative and the guard
        # would falsely pass on exactly the saturated mega-corpus it
        # exists to stop (review finding r8). Decimal headroom is 1e38;
        # df_p ≤ corpus rows keeps the sum far below it.
        vol_row = (
            prefixes.groupBy("shingle")
            .agg(F.count("*").alias("dfp"))
            .agg(
                F.sum(
                    F.col("dfp").cast("decimal(38,0)")
                    * (F.col("dfp") - F.lit(1)).cast("decimal(38,0)")
                ).alias("vol2")
            )
            .collect()[0]
        )
        vol = int(vol_row.vol2 or 0) // 2
        if vol > max_candidate_volume:
            raise ValueError(
                f"prefix-filter candidate volume {vol} exceeds "
                f"max_candidate_volume={max_candidate_volume}: the shingle "
                f"space is saturated (no rare tail for prefixes to live "
                f"in). Raise k (grow the shingle space) or use "
                f"minhash_lsh_pairs, which stays linear on closed "
                f"vocabularies."
            )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size compatibility: t·|a| ≤ |b| and t·|b| ≤ |a|
            & (F.col("b.ns") * t_den >= F.col("a.ns") * t_num)
            & (F.col("a.ns") * t_den >= F.col("b.ns") * t_num),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ta = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    tb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    return _jaccard_verify(counts, inter, threshold)


def prefix_filtered_jaccard_oracle_sql(
    shingles_cte: str, t_num: int = 4, t_den: int = 5
) -> str:
    """DuckDB mirror of :func:`prefix_filtered_jaccard_pairs` — same
    integer prefix math, same candidates, same verify. (Recall vs the
    brute-force all-pairs semantics is proven separately by the unit
    test asserting bit-equality with ngram_jaccard_pairs.)

    ``shingles_cte``: CTE text defining ``sh(doc_id, shingle)`` and
    ``n(doc_id, ns)`` (the q31 `_SHINGLES_CTE`).
    """
    t = f"{int(t_num)}"
    d = f"{int(t_den)}"
    return f"""
    WITH {shingles_cte},
    dfreq AS (SELECT shingle, count(*) AS _df FROM sh GROUP BY 1),
    ranked AS (
      SELECT sh.doc_id, sh.shingle, n.ns,
             row_number() OVER (PARTITION BY sh.doc_id
                                ORDER BY dfreq._df ASC, sh.shingle ASC) AS _pos
      FROM sh JOIN dfreq USING (shingle) JOIN n USING (doc_id)
    ),
    prefixes AS (
      SELECT doc_id, shingle, ns FROM ranked
      WHERE _pos <= ns - (ns * {t} + {d} - 1) // {d} + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefixes a JOIN prefixes b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       AND b.ns * {d} >= a.ns * {t} AND a.ns * {d} >= b.ns * {t}
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS c
      FROM cand c
      JOIN sh ta ON ta.doc_id = c.doc_a
      JOIN sh tb ON tb.doc_id = c.doc_b AND tb.shingle = ta.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, c / (na.ns + nb.ns - c) AS jaccard
    FROM inter
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE c / (na.ns + nb.ns - c) >= {t}.0 / {d}.0
    """


def select_cluster_representatives(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The step AFTER near-dup clustering: pick ONE representative per
    cluster and mark the rest for drop — completing the dedup chain
    profile (q92) → pairs (q32) → clusters (q68) → representative →
    cleaned corpus. The naive keeper rule (min doc_id, what q68's
    is_keeper reports) throws away information: near-dup members
    differ in quality, and a curation pipeline wants the MOST
    INFORMATIVE member, not the one with the smallest id.

    Representative = argmax per cluster by (distinct-token count desc,
    char length desc, doc_id asc) — "keep the richest copy", with the
    id tie-break making the choice total. All three keys are exact
    integers (the q36 text-stats metrics), so engine and oracle agree
    bit-for-bit with no float comparison anywhere.

    Scale: metrics are per-row expressions inside the scan; the only
    added exchange over the clustering itself is one hash partition on
    cluster_id for the ranking window — and near-dup clusters are
    overwhelmingly tiny stars, so no window partition is hot. Labels
    come from :func:`connected_components` (its endpoint-only
    iteration contract unchanged).

    Output: (doc_id, cluster_id, n_unique_tokens, n_chars,
    cluster_size, is_representative).
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    metrics = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    )
    j = labels.select("doc_id", "cluster_id").join(metrics, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_unique_tokens").desc(),
        F.col("n_chars").desc(),
        F.col("doc_id").asc(),
    )
    wc = Window.partitionBy("cluster_id")
    return j.select(
        "doc_id",
        "cluster_id",
        "n_unique_tokens",
        "n_chars",
        F.count("*").over(wc).cast("long").alias("cluster_size"),
        (F.row_number().over(w) == 1).alias("is_representative"),
    )
