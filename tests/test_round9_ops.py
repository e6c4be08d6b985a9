"""Unit semantics for the round-9 operators (oracle parity locks
engine agreement; these lock the MATH on hand-built cases where the
right answer is known a priori)."""

from __future__ import annotations

from kassette_server_spark.operators.curation import (
    sequence_packing_from_counts,
)
from kassette_server_spark.operators.dedup import remove_duplicated_spans
from kassette_server_spark.operators.textstats import bpe_token_counts


# -- bpe_token_counts ---------------------------------------------------------
def test_bpe_apply_hand_case(spark):
    """Corpus 'aaab aaab ab' (the test_bpe_hand_merges corpus) with
    k=3 learns [a a→aa, a b→ab, aa ab→aaab]; applying all three:
    'aaab' → aa a b → aa ab → aaab (1 symbol), 'ab' → ab (1 symbol).
    Doc has 3 words → 3 BPE tokens."""
    df = spark.createDataFrame([(1, "aaab aaab ab")], "doc_id long, text string")
    r = bpe_token_counts(df, k_merges=3).collect()[0]
    assert (r.doc_id, r.n_words, r.n_bpe_tokens) == (1, 3, 3)


def test_bpe_apply_known_merge_table(spark):
    """Two docs sharing a vocabulary: learning runs on the pooled
    word-frequency table, application is per-word. Corpus 'abc abc' /
    'abc': freq(abc)=3; merge 1 = (a b→ab) (pairs (a,b)=3, (b,c)=3,
    tie → 'a b'); merge 2 = (ab c→abc). After k=2, 'abc' is ONE
    symbol, so each doc's n_bpe_tokens equals its word count."""
    df = spark.createDataFrame(
        [(1, "abc abc"), (2, "abc")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bpe_token_counts(df, k_merges=2).collect()}
    assert (out[1].n_words, out[1].n_bpe_tokens) == (2, 2)
    assert (out[2].n_words, out[2].n_bpe_tokens) == (1, 1)
    # fewer merges → more symbols: k=1 leaves 'ab c' = 2 symbols/word
    out1 = {r.doc_id: r for r in bpe_token_counts(df, k_merges=1).collect()}
    assert (out1[1].n_words, out1[1].n_bpe_tokens) == (2, 4)
    assert (out1[2].n_words, out1[2].n_bpe_tokens) == (1, 2)


def test_bpe_apply_pair_space_runs_dry(spark):
    """Single-char words have no adjacent pairs: the learn loop's
    winner frame is EMPTY every round. The null-guarded replace must
    leave the vocabulary intact (a cross join would wipe it), so every
    word still tokenizes to its 1 symbol."""
    df = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    r = bpe_token_counts(df, k_merges=2).collect()[0]
    assert (r.n_words, r.n_bpe_tokens) == (4, 4)


def test_bpe_apply_empty_doc_zero_counts(spark):
    """A doc whose tokens are all empty strings (split of '') reports
    zero counts instead of dropping (left join + coalesce)."""
    df = spark.createDataFrame(
        [(1, "ab ab"), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bpe_token_counts(df, k_merges=1).collect()}
    assert (out[2].n_words, out[2].n_bpe_tokens) == (0, 0)
    assert out[1].n_words == 2


# -- sequence_packing_from_counts ---------------------------------------------
def test_packing_from_counts_hand_case(spark):
    """Bucket = doc_id % 2; within bucket 0 docs 0,2,4 carry 3,4,5
    tokens → offsets 0,3,7; shard size 6 → shards 0,0,1."""
    rows = [(0, 3), (1, 10), (2, 4), (3, 1), (4, 5)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = {
        r.doc_id: r
        for r in sequence_packing_from_counts(
            df, tokens_col="n", tokens_per_shard=6, n_buckets=2
        ).collect()
    }
    assert (out[0].bucket, out[0].start_offset, out[0].shard_id) == (0, 0, 0)
    assert (out[2].bucket, out[2].start_offset, out[2].shard_id) == (0, 3, 0)
    assert (out[4].bucket, out[4].start_offset, out[4].shard_id) == (0, 7, 1)
    assert (out[1].bucket, out[1].start_offset, out[1].shard_id) == (1, 0, 0)
    assert (out[3].bucket, out[3].start_offset, out[3].shard_id) == (1, 10, 1)


# -- remove_duplicated_spans --------------------------------------------------
def test_span_removal_keeps_first_occurrence(spark):
    """'a b c' (k=3) appears in docs 1 and 2: doc 1's occurrence is
    the keeper (min (id, pos)), doc 2 loses the 3-token span; unique
    text is untouched."""
    rows = [(1, "a b c d e"), (2, "x a b c y"), (3, "p q")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df, k=3).collect()}
    assert (out[1].n_removed, out[1].cleaned_text) == (0, "a b c d e")
    assert (out[2].n_removed, out[2].cleaned_text) == (3, "x y")
    assert (out[3].n_removed, out[3].cleaned_text) == (0, "p q")


def test_span_removal_within_doc_repetition(spark):
    """Within-doc repetition counts (the Lee et al. semantics the q92
    profile documents): 'a b c' twice in ONE doc keeps the first
    occurrence and cuts the second."""
    df = spark.createDataFrame(
        [(1, "a b c z a b c")], "doc_id long, text string"
    )
    r = remove_duplicated_spans(df, k=3).collect()[0]
    assert (r.n_tokens, r.n_removed, r.cleaned_text) == (7, 3, "a b c z")


def test_span_removal_overlapping_spans_union(spark):
    """Overlapping duplicated grams cover the UNION of their spans —
    tokens are counted once. Doc 2 duplicates doc 1's 'a b c d'
    (two overlapping 3-grams: 'a b c', 'b c d') → 4 tokens removed,
    not 6."""
    rows = [(1, "a b c d"), (2, "x a b c d y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df, k=3).collect()}
    assert out[1].n_removed == 0
    assert (out[2].n_removed, out[2].cleaned_text) == (4, "x y")


def test_span_removal_fully_duplicated_doc_empties(spark):
    """A doc that is entirely a duplicated span cleans to the empty
    string (coalesce path) rather than dropping from the output."""
    rows = [(1, "a b c"), (2, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df, k=3).collect()}
    assert (out[1].n_removed, out[1].cleaned_text) == (0, "a b c")
    assert (out[2].n_removed, out[2].cleaned_text) == (3, "")


def test_span_removal_short_docs_untouched(spark):
    """Docs shorter than k emit no grams and pass through verbatim,
    even when they repeat each other (sub-k duplication is exact
    dedup's job, not span removal's)."""
    rows = [(1, "p q"), (2, "p q")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(df, k=3).collect()}
    assert out[1].cleaned_text == "p q" and out[2].cleaned_text == "p q"
    assert out[1].n_removed == 0 and out[2].n_removed == 0


# -- bpe_vocab ----------------------------------------------------------------
def test_bpe_vocab_hand_case(spark):
    """Corpus 'abc abc' / 'abc' with k=1 learns (a b→ab); final
    symbols are 'ab c' per word: freq(ab)=3, freq(c)=3 → ids by
    (freq desc, token asc): ab=1, c=2."""
    from kassette_server_spark.operators.textstats import bpe_vocab

    df = spark.createDataFrame(
        [(1, "abc abc"), (2, "abc")], "doc_id long, text string"
    )
    rows = [(r.token_id, r.token, r.freq)
            for r in bpe_vocab(df, k_merges=1).orderBy("token_id").collect()]
    assert rows == [(1, "ab", 3), (2, "c", 3)]


def test_bpe_vocab_size_cut(spark):
    """vocab_size keeps exactly the top-V ids of the total order."""
    from kassette_server_spark.operators.textstats import bpe_vocab

    df = spark.createDataFrame(
        [(1, "ab cd ab ef")], "doc_id long, text string"
    )
    full = bpe_vocab(df, k_merges=1).count()
    cut = bpe_vocab(df, k_merges=1, vocab_size=2)
    rows = cut.orderBy("token_id").collect()
    assert len(rows) == 2 and full > 2
    assert rows[0].token_id == 1 and rows[1].token_id == 2


# -- q217 curation pipeline e2e ----------------------------------------------
def test_curation_pipeline_conserves_tokens(spark):
    """The composed chain must conserve counts stage-to-stage: the
    shard summary's total tokens equals the BPE token total of the
    deduped+cleaned corpus, and every surviving doc lands in exactly
    one shard row's [first_doc, last_doc] bucket range."""
    from pyspark.sql import functions as F
    from kassette_server_spark.queries import all_specs

    sf = "/root/testdata/sf0.001"
    out = all_specs()["q217_curation_pipeline_e2e"].fn(spark, sf)
    rows = out.collect()
    total_summary = sum(r.shard_tokens for r in rows)
    n_docs_summary = sum(r.n_docs for r in rows)

    from kassette_server_spark.catalog import load
    from kassette_server_spark.operators.dedup import remove_duplicated_spans
    from kassette_server_spark.operators.textstats import bpe_token_counts
    from pyspark.sql import Window

    docs = load(spark, sf, "documents").select("doc_id", "text")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = docs.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    ).drop("_rn")
    cleaned = remove_duplicated_spans(deduped, k=8).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    counts = bpe_token_counts(cleaned, k_merges=3)
    agg = counts.agg(
        F.count("*").alias("n"), F.sum("n_bpe_tokens").alias("s")
    ).collect()[0]
    assert n_docs_summary == agg.n
    assert total_summary == agg.s
    # shards are per-bucket contiguous: within a bucket, shard ids are
    # dense from 0 and doc ranges are non-overlapping in order
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r.shard_id)
        assert [r.shard_id for r in rs] == list(range(len(rs)))
        for a, c in zip(rs, rs[1:]):
            assert a.last_doc < c.first_doc


# -- multimodal transforms ----------------------------------------------------
def test_bmp_resize_nearest_neighbor_pixels():
    """Hand case: 4x4 formula BMP (seed 0) resized to 2x2. Source
    pixel for dst (x,y) is (2x, 2y); B=(x+y)%256 → dst B values
    [[0,2],[2,4]] (bottom-up rows)."""
    from kassette_server_spark.operators.multimodal import (
        bmp_channel_stats,
        encode_bmp_pixels,
        formula_bmp_pixels,
        parse_bmp_meta,
        resize_bmp_payload,
    )
    import struct

    bmp = encode_bmp_pixels(4, 4, formula_bmp_pixels(0, 4, 4))
    rz = resize_bmp_payload(bmp, 2, 2)
    meta = parse_bmp_meta(rz)
    assert (meta["width"], meta["height"], meta["bpp"]) == (2, 2, 24)
    (_fs, _r1, _r2, offset) = struct.unpack_from("<IHHI", rz, 2)
    row = ((2 * 24 + 31) // 32) * 4
    b = [[rz[offset + y * row + 3 * x] for x in range(2)] for y in range(2)]
    assert b == [[0, 2], [2, 4]]
    # stats on the source: sums follow the closed form the oracle uses
    s = bmp_channel_stats(bmp)
    assert s["n_px"] == 16
    assert s["sum_b"] == sum((x + y) % 256 for x in range(4) for y in range(4))
    assert s["sum_g"] == sum((2 * x + y) % 256 for x in range(4) for y in range(4))


def test_wav_decimation_preserves_duration():
    """100 samples at 8000 Hz decimated by 2 → 50 samples at 4000 Hz:
    duration identical, kept samples are the even-index originals."""
    from kassette_server_spark.operators.multimodal import (
        downsample_wav_payload,
        encode_wav,
        parse_wav_meta,
    )
    import pytest as _pt
    import struct

    wav = encode_wav(100, 8000)
    ds = downsample_wav_payload(wav, 2)
    m0, m1 = parse_wav_meta(wav), parse_wav_meta(ds)
    assert (m1["sample_rate"], m1["n_samples"]) == (4000, 50)
    assert m0["duration_ms"] == m1["duration_ms"]
    # kept sample values are the even-index originals
    def samples(p):
        i = p.rindex(b"data") + 8
        return struct.unpack(f"<{(len(p) - i) // 2}h", p[i:])
    assert samples(ds) == samples(wav)[::2]
    with _pt.raises(ValueError):
        downsample_wav_payload(encode_wav(10, 8001), 2)  # 8001 % 2 != 0


def test_gif_frame_sampling_keeps_every_nth():
    """5-frame GIF sampled every 2nd keeps frames 0,2,4 → 3 frames;
    structure stays parseable; every_n=1 is identity frame count."""
    from kassette_server_spark.operators.multimodal import (
        encode_gif,
        parse_gif_meta,
        sample_gif_frames_payload,
    )

    gif = encode_gif(10, 12, 5)
    sm = sample_gif_frames_payload(gif, 2)
    m = parse_gif_meta(sm)
    assert (m["width"], m["height"], m["n_frames"]) == (10, 12, 3)
    assert parse_gif_meta(sample_gif_frames_payload(gif, 1))["n_frames"] == 5
    assert parse_gif_meta(sample_gif_frames_payload(gif, 5))["n_frames"] == 1


def test_gif_sampling_keeps_trailing_extensions():
    """Extension blocks AFTER the last image descriptor (comment /
    application blocks before the trailer) bind to no frame and must
    survive sampling: every_n=1 is a byte-identity round trip (ADVICE
    r9 item 4 — they were silently dropped)."""
    from kassette_server_spark.operators.multimodal import (
        encode_gif,
        parse_gif_meta,
        sample_gif_frames_payload,
    )

    gif = encode_gif(8, 8, 3)
    assert gif[-1] == 0x3B
    comment = b"\x21\xfe\x05hello\x00"  # comment extension, 1 sub-block
    gif_trailed = gif[:-1] + comment + b"\x3b"
    parse_gif_meta(gif_trailed)  # structurally valid input
    assert sample_gif_frames_payload(gif_trailed, 1) == gif_trailed
    # sampling still keeps the trailing run even when frames drop
    sm = sample_gif_frames_payload(gif_trailed, 2)
    assert parse_gif_meta(sm)["n_frames"] == 2
    assert comment in sm and sm[-1] == 0x3B


# -- jl_project ---------------------------------------------------------------
def test_jl_projection_one_hot_isolates_signs(spark):
    """A one-hot vector at position j projects to proj[k] =
    sign(j,k)·scale for every k — verifying the engine's md5 sign
    derivation against an independent hashlib computation."""
    import hashlib
    import math

    from kassette_server_spark.operators.similarity import jl_project

    dim, out_dim, j = 8, 4, 3
    vec = [0.0] * dim
    vec[j] = 1.0
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    got = {r.k: r.proj for r in jl_project(df, in_dim=dim, out_dim=out_dim).collect()}
    scale = 1.0 / math.sqrt(out_dim)
    for k in range(out_dim):
        first = hashlib.md5(f"jl|{j}|{k}".encode()).hexdigest()[0]
        sign = 1.0 if first in "01234567" else -1.0
        assert got[k] == sign * scale, (k, got[k], sign)


def test_jl_projection_linear(spark):
    """Projection is linear: proj(x + y) == proj(x) + proj(y) when the
    per-component sums stay exact (integer-valued doubles here)."""
    from kassette_server_spark.operators.similarity import jl_project

    dim, out_dim = 6, 4
    x = [1.0, 2.0, 0.0, 4.0, 0.0, 8.0]
    y = [0.0, 1.0, 16.0, 0.0, 32.0, 0.0]
    xy = [a + b for a, b in zip(x, y)]
    df = spark.createDataFrame(
        [(1, x), (2, y), (3, xy)], "vec_id long, embedding array<float>"
    )
    out = {}
    for r in jl_project(df, in_dim=dim, out_dim=out_dim).collect():
        out.setdefault(r.vec_id, {})[r.k] = r.proj
    for k in range(out_dim):
        assert out[3][k] == out[1][k] + out[2][k]


# -- audio_frame_features -----------------------------------------------------
def test_audio_frame_features_hand_case(spark):
    """doc_id=0 → 512 samples = exactly 2 full frames; every feature
    recomputed in pure Python from the sample formula must match what
    the operator reads back off the encoded RIFF bytes."""
    from kassette_server_spark.operators.multimodal import audio_frame_features

    df = spark.createDataFrame([(0,)], "doc_id long")
    rows = {r.frame_id: r for r in audio_frame_features(df).collect()}
    samples = [(((0 + t) * 257) % 32768) - 16384 for t in range(512)]
    assert sorted(rows) == [0, 1]
    for f in (0, 1):
        chunk = samples[f * 256 : (f + 1) * 256]
        assert rows[f].n_samples == 256
        assert rows[f].sum_abs == sum(abs(s) for s in chunk)
        assert rows[f].sum_sq == sum(s * s for s in chunk)
        assert rows[f].zero_crossings == sum(
            1 for a, b in zip(chunk, chunk[1:]) if (a < 0) != (b < 0)
        )


def test_audio_frame_features_partial_last_frame(spark):
    """doc_id=1 → 513 samples: the last frame carries exactly ONE
    sample and zero crossings (no within-frame predecessor)."""
    from kassette_server_spark.operators.multimodal import audio_frame_features

    df = spark.createDataFrame([(1,)], "doc_id long")
    rows = {r.frame_id: r for r in audio_frame_features(df).collect()}
    assert sorted(rows) == [0, 1, 2]
    last = rows[2]
    s = (((1 + 512) * 257) % 32768) - 16384
    assert (last.n_samples, last.sum_abs, last.sum_sq, last.zero_crossings) == (
        1,
        abs(s),
        s * s,
        0,
    )


# -- lsh_band_plan ------------------------------------------------------------
def test_lsh_band_plan_hand_curve(spark):
    """n_hashes=4, threshold=0.8, sims=(0.5, 0.8): four layouts; the
    S-curve values are tiny closed forms. r=1,b=4: p(s)=1-(1-s)^4.
    r=2,b=2: p(s)=1-(1-s²)². The chosen row maximizes
    p(0.8) - p(0.5)."""
    from kassette_server_spark.operators.diagnostics import lsh_band_plan

    rows = {
        r.r: r
        for r in lsh_band_plan(
            spark, n_hashes=4, threshold=0.8, sims=(0.5, 0.8)
        ).collect()
    }
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[1].b == 4 and rows[2].b == 2 and rows[3].b == 1 and rows[4].b == 1

    def fold_pow(base, n):
        acc = 1.0
        for _ in range(n):
            acc *= base
        return acc

    for r_, b_ in ((1, 4), (2, 2), (3, 1), (4, 1)):
        for s, col in ((0.5, "p_at_50"), (0.8, "p_at_80")):
            expect = 1.0 - fold_pow(1.0 - fold_pow(s, r_), b_)
            assert getattr(rows[r_], col) == expect, (r_, s)
    seps = {r_: rows[r_].p_at_80 - rows[r_].p_at_50 for r_ in rows}
    best = max(sorted(seps), key=lambda r_: (seps[r_], -r_))
    assert rows[best].chosen and sum(r.chosen for r in rows.values()) == 1


def test_lsh_band_plan_rejects_degenerate_threshold(spark):
    """ADVICE r9 item 2: a threshold not float-equal to a sims member
    (or with no sim below it) used to make sep silently 0.0 and
    'chosen' degenerate to r=1 — now both misuses raise."""
    import pytest as _pt

    from kassette_server_spark.operators.diagnostics import lsh_band_plan

    with _pt.raises(ValueError, match="member of sims"):
        lsh_band_plan(spark, n_hashes=4, threshold=0.75, sims=(0.5, 0.8))
    with _pt.raises(ValueError, match="below threshold"):
        lsh_band_plan(spark, n_hashes=4, threshold=0.5, sims=(0.5, 0.8))


# -- ann_recall_at_k ----------------------------------------------------------
def test_ann_recall_counts_ivf_misses(spark):
    """Two well-separated clusters on orthogonal axes; one query per
    cluster; k=2 true neighbors for the x-query are vectors 1 and 2 —
    but vector 2 leans just past 45° (y=0.8 > x=0.75) and
    coarse-assigns to the Y centroid, so a 1-probe IVF search misses
    it: recall = 1/2. The y-query's two nearest (11, 12) both live in
    the probed Y cluster: recall = 1."""
    from pyspark.sql import functions as F

    from kassette_server_spark.operators.similarity import ann_recall_at_k

    rows = [
        (0, [1.0, 0.0]),   # query + X centroid
        (1, [0.9, 0.1]),   # X cluster
        (2, [0.75, 0.8]),  # query 0's 2nd neighbor, but assigns to Y centroid
        (10, [0.0, 1.0]),  # query + Y centroid
        (11, [0.1, 0.9]),  # Y cluster
        (12, [0.2, 0.95]), # Y cluster
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.query_id: r
        for r in ann_recall_at_k(
            e,
            queries=e.filter(F.col("vec_id").isin(0, 10)),
            centroids=e.filter(F.col("vec_id").isin(0, 10)),
            k=2,
            n_probe=1,
        ).collect()
    }
    assert (out[0].n_hits, out[0].recall) == (1, 0.5)
    assert (out[10].n_hits, out[10].recall) == (2, 1.0)


# -- temperature_mix ----------------------------------------------------------
def test_temperature_mix_hand_apportionment(spark):
    """Counts 1/4/9 → sqrt weights 1/2/3 → shares 1/6, 2/6, 3/6.
    Budget 10: raw targets 1.67/3.33/5.0, floors sum to 9, the one
    leftover seat goes to the largest remainder (domain a) →
    targets (2, 3, 5), summing to the budget exactly."""
    from kassette_server_spark.operators.curation import temperature_mix

    rows = [(i, "a") for i in range(1)] + [(i + 10, "b") for i in range(4)] + [
        (i + 100, "c") for i in range(9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {r.domain: r for r in temperature_mix(df, total_budget=10).collect()}
    assert (out["a"].target_count, out["b"].target_count, out["c"].target_count) == (2, 3, 5)
    assert out["a"].repetition_factor == 2.0  # upsampled past its size
    assert abs(out["c"].target_share - 0.5) < 1e-12


def test_temperature_mix_targets_sum_to_budget(spark):
    """Largest-remainder apportionment is exact for ANY budget —
    including primes that cannot divide evenly."""
    from kassette_server_spark.operators.curation import temperature_mix

    df = spark.createDataFrame(
        [(i, ["de", "en", "es", "fr", "zh"][i % 5]) for i in range(73)],
        "doc_id long, lang string",
    )
    for budget in (7, 997, 10_000):
        got = sum(
            r.target_count
            for r in temperature_mix(df, total_budget=budget).collect()
        )
        assert got == budget, (budget, got)


def test_temperature_mix_quarter_grid_weights_and_budget(spark):
    """VERDICT r9 #6: every quarter-grid τ produces the composed-sqrt
    weight computed independently here (math.sqrt is the same
    correctly-rounded IEEE op) and exact-sum apportionment."""
    import math

    from kassette_server_spark.operators.curation import temperature_mix

    df = spark.createDataFrame(
        [(i, ["de", "en", "es", "fr", "zh"][i % 5]) for i in range(73)],
        "doc_id long, lang string",
    )
    counts = {"de": 15, "en": 15, "es": 15, "fr": 14, "zh": 14}

    def weight(c, tau):
        if tau == 1.0:
            return float(c)
        if tau == 0.5:
            return math.sqrt(c)
        if tau == 0.25:
            return math.sqrt(math.sqrt(c))
        return math.sqrt(c) * math.sqrt(math.sqrt(c))

    for tau in (0.25, 0.5, 0.75, 1.0):
        out = {r.domain: r for r in
               temperature_mix(df, total_budget=997, tau=tau).collect()}
        assert sum(r.target_count for r in out.values()) == 997, tau
        for d, c in counts.items():
            assert out[d].weight == weight(c, tau), (tau, d)
    # τ=1.0 reproduces the observed distribution: proportional shares
    prop = {r.domain: r for r in
            temperature_mix(df, total_budget=73, tau=1.0).collect()}
    for d, c in counts.items():
        assert prop[d].target_count == c, d
    # lower τ flattens: the rare domain's share strictly grows
    shares = {
        tau: {r.domain: r.target_share for r in
              temperature_mix(df, total_budget=997, tau=tau).collect()}
        for tau in (0.25, 0.5, 1.0)
    }
    assert shares[0.25]["zh"] > shares[0.5]["zh"] > shares[1.0]["zh"]


def test_temperature_mix_rejects_general_tau(spark):
    import pytest

    from kassette_server_spark.operators.curation import temperature_mix

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError):
        temperature_mix(df, tau=0.7)
    from kassette_server_spark.operators.curation import temperature_mix_oracle_sql

    with pytest.raises(ValueError):
        temperature_mix_oracle_sql("documents", tau=0.7)


# -- lm_quality_filter --------------------------------------------------------
def test_lm_quality_filter_drops_exact_bottom_decile(spark):
    """The keep decision must equal (score > exact rank-⌈n/10⌉ value)
    computed independently from the LM scores themselves."""
    import math

    from kassette_server_spark.operators.curation import lm_quality_filter
    from kassette_server_spark.operators.textstats import bigram_logprob_by_doc

    rows = [(i, " ".join(f"w{(i * j) % 7}" for j in range(12))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r.doc_id: r.avg_logprob for r in bigram_logprob_by_doc(df).collect()}
    n = len(scores)
    cut_rank = math.ceil(n / 10)
    cutoff = sorted(scores.values())[cut_rank - 1]
    out = {r.doc_id: r for r in lm_quality_filter(df).collect()}
    assert len(out) == n
    for d, s in scores.items():
        assert out[d].cutoff == cutoff
        assert out[d].keep == (s > cutoff), (d, s, cutoff)
    assert any(not r.keep for r in out.values())


def test_lm_quality_filter_tie_contract_all_equal_drops_all(spark):
    """The documented tie contract (ADVICE r9 item 5): the strict-
    greater cut drops EVERY doc tied at the cutoff — an all-equal-score
    corpus (identical docs) drops entirely, and the cutoff column makes
    the tied stratum addressable for callers that re-rank it."""
    from kassette_server_spark.operators.curation import lm_quality_filter

    rows = [(i, "a b a b a b") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = lm_quality_filter(df).collect()
    assert len(out) == 10
    assert all(not r.keep for r in out)  # every doc tied at the cutoff
    assert all(r.avg_logprob == r.cutoff for r in out)


# -- embedding_drift ----------------------------------------------------------
def test_embedding_drift_identical_sides(spark):
    """ref == cur per label → centroids coincide: cosine exactly the
    self-cosine of one centroid (1.0 up to the final float ops) and
    norm ratio exactly 1.0 (identical numerator/denominator)."""
    from kassette_server_spark.operators.drift import embedding_drift

    rows = [(i, [float(i % 3 + 1), 2.0, 0.5, 4.0], i % 2) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in embedding_drift(df, df, dim=4).collect()}
    for lab in (0, 1):
        assert out[lab].n_ref == out[lab].n_cur == 6
        assert out[lab].norm_ratio == 1.0
        assert abs(out[lab].cos_centroid - 1.0) < 1e-12


def test_embedding_drift_hand_centroids(spark):
    """ref label 0 = two one-hot-x vectors, cur label 0 = two one-hot-y
    vectors: centroids are orthogonal → cosine 0; norms equal →
    ratio 1. Integer-valued components make the fixed-point sums
    exact a priori."""
    from kassette_server_spark.operators.drift import embedding_drift

    ref = spark.createDataFrame(
        [(1, [2.0, 0.0], 0), (2, [2.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    cur = spark.createDataFrame(
        [(3, [0.0, 2.0], 0), (4, [0.0, 2.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    r = embedding_drift(ref, cur, dim=2).collect()[0]
    assert (r.n_ref, r.n_cur, r.cos_centroid, r.norm_ratio) == (2, 2, 0.0, 1.0)


def test_embedding_drift_one_sided_label_is_drift(spark):
    """A label present on only one side ships with NULL cosine/ratio
    (new-class appearance IS drift) instead of dropping."""
    from kassette_server_spark.operators.drift import embedding_drift

    ref = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    cur = spark.createDataFrame(
        [(2, [1.0, 0.0], 7)], "vec_id long, embedding array<float>, label int"
    )
    out = {r.label: r for r in embedding_drift(ref, cur, dim=2).collect()}
    assert (out[0].n_ref, out[0].n_cur, out[0].cos_centroid) == (1, 0, None)
    assert (out[7].n_ref, out[7].n_cur, out[7].norm_ratio) == (0, 1, None)


# -- tokenizer fertility --------------------------------------------------------
def test_tokenizer_fertility_hand_case(spark):
    """Corpus 'abc abc' (en) / 'abc' (de) with k=3: 'abc' fully merges
    to ONE symbol, so every lang's fertility is exactly 1.0; word and
    token totals split per language."""
    from pyspark.sql import functions as F

    from kassette_server_spark.operators.textstats import bpe_token_counts

    df = spark.createDataFrame(
        [(1, "abc abc", "en"), (2, "abc", "de")],
        "doc_id long, text string, lang string",
    )

    counts = bpe_token_counts(df, k_merges=3)
    out = {
        r.lang: r
        for r in counts.join(df.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("w"), F.sum("n_bpe_tokens").alias("t")
        )
        .collect()
    }
    assert (out["en"].w, out["en"].t) == (2, 2)
    assert (out["de"].w, out["de"].t) == (1, 1)


# -- select_cluster_representatives --------------------------------------------
def test_cluster_representatives_pick_richest_not_min_id(spark):
    """The whole point vs q68's min-id keeper: in cluster 5 the
    RICHER member has the HIGHER id (doc 9 carries one more distinct
    token), so the representative is 9, not min-id 5. Singleton doc 1
    represents itself."""
    from kassette_server_spark.operators.dedup import (
        select_cluster_representatives,
    )

    docs = spark.createDataFrame(
        [
            (1, "p q r"),
            (5, "a b c d e f g h i j"),
            (9, "a b c d e f g h i j k"),
        ],
        "doc_id long, text string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (5, 5), (9, 5)], "doc_id long, cluster_id long"
    )
    out = {r.doc_id: r for r in select_cluster_representatives(docs, labels).collect()}
    assert out[9].is_representative and not out[5].is_representative
    assert out[1].is_representative
    assert out[5].cluster_size == 2 and out[9].cluster_size == 2
    assert out[1].cluster_size == 1
    assert (out[9].n_unique_tokens, out[5].n_unique_tokens) == (11, 10)


def test_cluster_representatives_tie_breaks_are_total(spark):
    """Equal metrics fall through to the id tie-break: exactly one
    representative per cluster, the smallest id among the tied."""
    from kassette_server_spark.operators.dedup import (
        select_cluster_representatives,
    )

    docs = spark.createDataFrame(
        [(7, "x y z"), (3, "x y z"), (8, "x y z")], "doc_id long, text string"
    )
    labels = spark.createDataFrame(
        [(7, 3), (3, 3), (8, 3)], "doc_id long, cluster_id long"
    )
    rows = select_cluster_representatives(docs, labels).collect()
    reps = [r.doc_id for r in rows if r.is_representative]
    assert reps == [3]


# -- sketch_recall_at_k ---------------------------------------------------------
def test_jl_project_vec_matches_long_form(spark):
    """The array form must carry exactly the long form's components,
    index-aligned."""
    from kassette_server_spark.operators.similarity import (
        jl_project,
        jl_project_vec,
    )

    df = spark.createDataFrame(
        [(1, [1.5, -2.0, 0.25, 8.0])], "vec_id long, embedding array<float>"
    )
    long = {r.k: r.proj for r in jl_project(df, in_dim=4, out_dim=4).collect()}
    arr = jl_project_vec(df, in_dim=4, out_dim=4).collect()[0].sketch
    assert arr == [long[k] for k in range(4)]


def test_sketch_recall_duplicate_corpus_is_perfect(spark):
    """A corpus of EXACT duplicates of one vector: every pairwise
    cosine is the bitwise-identical value in BOTH spaces (identical
    inputs → identical folds), so ranks fall to the shared id
    tie-break and recall = 1.0 for every query. (Scaled-copy
    variants do NOT work as a hand case: cosine lands at 1±ulp
    per pair and the ulp ordering differs between spaces.)"""
    from pyspark.sql import functions as F

    from kassette_server_spark.operators.similarity import sketch_recall_at_k

    base = [1.0, 2.0, -0.5, 4.0]
    rows = [(i, base) for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sketch_recall_at_k(
        e, queries=e.filter(F.col("vec_id") < 2), k=3, in_dim=4, out_dim=2
    ).collect()
    assert len(out) == 2
    assert all(r.n_hits == 3 and r.recall == 1.0 for r in out)
