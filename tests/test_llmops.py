"""Property tests for the LLM-pipeline operators beyond oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from kassette_server_spark.catalog import load
from kassette_server_spark.operators import dedup, similarity


def test_lsh_recall_vs_exact(spark):
    """LSH candidate pairs must include every pair with jaccard ≥ 0.8
    found by the exact all-pairs method (recall check at this scale)."""
    docs = load(spark, SF_SMOKE, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "expected planted near-dup pairs in test corpus"
    assert exact == lsh  # md5-minhash 4x2 bands achieves full recall here


def test_xxhash_lsh_scale_path(spark):
    """The xxhash64 scale path finds the same verified pairs (hash
    family changes candidates, but exact-jaccard verification fixes the
    final answer as long as recall holds)."""
    docs = load(spark, SF_SMOKE, "documents")
    md5_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8, hash_fn="md5").collect()
    }
    xx_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8, hash_fn="xxhash64").collect()
    }
    assert md5_pairs == xx_pairs


def _simhash_all_pairs(sig, k):
    """Quadratic reference: exact hamming filter over every pair."""
    a, b = sig.alias("a"), sig.alias("b")
    h = F.expr("bit_count(a.fp_hi ^ b.fp_hi) + bit_count(a.fp_lo ^ b.fp_lo)").cast("long")
    return (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), h.alias("hamming"))
        .filter(F.col("hamming") <= k)
    )


def test_simhash_banding_perfect_recall_both_schemes(spark):
    """Both banding schemes (k≤3: 16-bit chunks; k≤6: Manku two-block
    keys) must return EXACTLY the all-pairs hamming answer — the
    pigeonhole recall guarantee, verified end-to-end."""
    sig = dedup.simhash(load(spark, SF_SMOKE, "documents")).cache()
    try:
        for k in (3, 6):
            exact = {(r.doc_a, r.doc_b, r.hamming) for r in _simhash_all_pairs(sig, k).collect()}
            banded = {(r.doc_a, r.doc_b, r.hamming) for r in dedup.simhash_near_dup(sig, max_hamming=k).collect()}
            assert banded == exact
        assert exact, "expected planted near-dups within hamming 6"
    finally:
        sig.unpersist()


def test_simhash_band_key_space_is_wide(spark):
    """Regression lock on the r1 scale-killer: no banding key may have
    a 256-value space. k=6 uses C(8,2)=28 two-block bands and k=3 uses
    4 chunk bands, every key 16 bits wide (65,536 values)."""
    chunks16 = dedup._fp_chunks(16)
    assert len(chunks16) == 4
    blocks8 = dedup._fp_chunks(8)
    assert len(blocks8) == 8
    sig = dedup.simhash(load(spark, SF_SMOKE, "documents")).limit(200)
    for k, n_bands in ((3, 4), (6, 28)):
        banded = sig.select(
            "doc_id", "fp_hi", "fp_lo",
            F.explode(F.array(*(
                [F.struct(F.lit(b).alias("band"), c.alias("chunk"))
                 for b, c in enumerate(dedup._fp_chunks(16))] if k <= 3 else
                [F.struct(F.lit(i * 8 + j).alias("band"),
                          (dedup._fp_chunks(8)[i] * 256 + dedup._fp_chunks(8)[j]).alias("chunk"))
                 for i in range(8) for j in range(i + 1, 8)]
            ))).alias("bc"),
        )
        stats = banded.agg(
            F.countDistinct("bc.band").alias("nb"),
            F.max("bc.chunk").alias("mx"),
            F.min("bc.chunk").alias("mn"),
        ).collect()[0]
        assert stats.nb == n_bands
        assert 0 <= stats.mn and stats.mx < 65536
        assert stats.mx > 255  # keys genuinely use the wide space


def test_approx_count_distinct_tolerance(spark):
    ev = load(spark, SF_SMOKE, "events")
    approx = ev.agg(F.approx_count_distinct("user_id").alias("a")).collect()[0].a
    exact = ev.agg(F.countDistinct("user_id").alias("e")).collect()[0].e
    assert abs(approx - exact) / exact < 0.05


def test_hll_sketch_accuracy_and_merge(spark):
    """Deterministic HLL (q40): estimate within the expected error band
    and registers merge associatively (union+max == whole-corpus)."""
    from kassette_server_spark.operators import sketches

    ev = load(spark, SF_SMOKE, "events")
    exact = ev.agg(F.countDistinct("event_id").alias("e")).collect()[0].e
    est = sketches.hll_count_distinct(ev, "event_id", p=9).collect()[0]
    # n ~ 2m at sf0.001 → raw-HLL bias zone; 15 % bound is generous but
    # still catches register-math bugs (a broken rank gives ~2x error).
    assert abs(est.approx_distinct - exact) / exact < 0.15

    # Mergeability: split the corpus, build per-split register tables,
    # merge with groupBy(reg).max — must equal the single-pass sketch.
    lo = sketches.hll_registers(ev.where(F.col("event_id") % 2 == 0), "event_id")
    hi = sketches.hll_registers(ev.where(F.col("event_id") % 2 == 1), "event_id")
    merged = (
        lo.unionByName(hi)
        .groupBy("reg")
        .agg(F.max("m_rank").alias("m_rank"))
    )
    merged_est = sketches.hll_estimate(merged, p=9).collect()[0]
    assert merged_est == est


def test_hll_rejects_bad_precision(spark):
    from kassette_server_spark.operators import sketches

    ev = load(spark, SF_SMOKE, "events")
    with pytest.raises(ValueError):
        sketches.hll_registers(ev, "event_id", p=3)


def test_countmin_overestimates_only_and_merges(spark):
    """CMS guarantees est >= exact for every value; register tables
    from disjoint splits merge by sum to the whole-corpus sketch."""
    from kassette_server_spark.operators import sketches

    ev = load(spark, SF_SMOKE, "events")
    regs = sketches.countmin_registers(ev, "event_type", depth=4, width=64)
    vals = ev.where(F.col("event_type").isNotNull()).select("event_type").distinct()
    est = sketches.countmin_estimate(vals, regs, "event_type", depth=4, width=64)
    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact"))
    rows = est.join(exact, "event_type").collect()
    assert rows and all(r.est_count >= r.exact for r in rows)

    lo = sketches.countmin_registers(
        ev.where(F.col("event_id") % 2 == 0), "event_type", depth=4, width=64
    )
    hi = sketches.countmin_registers(
        ev.where(F.col("event_id") % 2 == 1), "event_type", depth=4, width=64
    )
    merged = lo.unionByName(hi).groupBy("d", "reg").agg(F.sum("cnt").alias("cnt"))
    whole = {(r.d, r.reg): r.cnt for r in regs.collect()}
    assert {(r.d, r.reg): r.cnt for r in merged.collect()} == whole


def test_binned_quantiles_close_to_exact(spark):
    """Histogram-sketch quantiles must land within bin_width of the
    exact percentiles."""
    from kassette_server_spark.operators import sketches

    ev = load(spark, SF_SMOKE, "events")
    got = {r.label: r.est for r in sketches.binned_quantiles(ev, "value").collect()}
    exact = ev.agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    ).collect()[0]
    for label in ("p50", "p90", "p99"):
        assert abs(got[label] - getattr(exact, label)) <= 1.0, (label, got)


def test_bloom_no_false_negatives(spark):
    """Every key present in the build side must probe in_bloom=True;
    false positives are allowed (and counted) but bounded."""
    from kassette_server_spark.operators import sketches

    orders = load(spark, SF_SMOKE, "orders")
    cust = load(spark, SF_SMOKE, "customer").select("c_custkey")
    bits = sketches.bloom_bits(orders, "o_custkey", k=3, m_bits=1 << 14)
    probe = sketches.bloom_probe(cust, bits, "c_custkey", k=3, m_bits=1 << 14)
    truth = {r.o_custkey for r in orders.select("o_custkey").distinct().collect()}
    rows = probe.collect()
    members = [r for r in rows if r.c_custkey in truth]
    assert members and all(r.in_bloom for r in members), "false negative!"
    non_members = [r for r in rows if r.c_custkey not in truth]
    fp = sum(1 for r in non_members if r.in_bloom)
    # k=3, m=2^14, n<=1000 build keys → FP rate well under 1 %; allow 5 %
    assert fp <= max(1, len(non_members) // 20)


def _all_pairs_near_dup(vectors, threshold):
    """The all-pairs reference: every (id_a < id_b) pair's sequential-
    fold cosine, kept at >= threshold — the oracle-exact definition the
    near-dup operators must reproduce."""
    a = vectors.select(
        F.col("vec_id").alias("id_a"), similarity.as_double("embedding").alias("va")
    ).withColumn("na", similarity.norm(F.col("va")))
    b = vectors.select(
        F.col("vec_id").alias("id_b"), similarity.as_double("embedding").alias("vb")
    ).withColumn("nb", similarity.norm(F.col("vb")))
    cos = similarity.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return {
        (r.id_a, r.id_b): r.cos
        for r in pairs.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .collect()
    }


def test_gemm_near_dup_identical_to_all_pairs(spark):
    """The GEMM-prefiltered near-dup operator must produce EXACTLY the
    all-pairs fold result (same pairs, bitwise-same cosines)."""
    e = load(spark, SF_SMOKE, "embeddings")
    exact = _all_pairs_near_dup(e, 0.45)
    fast = {(r.id_a, r.id_b): r.cos for r in similarity.embedding_near_dup_pairs_gemm(e, 0.45).collect()}
    assert exact == fast and exact  # same keys AND identical float values


def test_over_cap_near_dup_routes_to_lsh_not_crossjoin(spark):
    """Corpora above the broadcast cap must route to the distributed
    LSH candidate generator — never the all-pairs crossJoin — and the
    tuned recall + exact verify must reproduce the all-pairs answer on
    this corpus (pairs AND bitwise-identical cosines)."""
    import contextlib
    import io

    e = load(spark, SF_SMOKE, "embeddings")
    exact = _all_pairs_near_dup(e, 0.45)
    fb = similarity.embedding_near_dup_pairs_gemm(e, 0.45, max_broadcast_rows=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fb.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    got = {(r.id_a, r.id_b): r.cos for r in fb.collect()}
    assert exact and got == exact


def test_brute_force_topk_partial_prune_before_window(spark):
    """The brute-force ANN plan must prune per PARTITION (a
    mapInPandas inside the scoring stage — zero extra exchange) so the
    only exchange, feeding the ranking window, carries
    |queries|·k·partitions rows instead of the full candidate set."""
    import contextlib
    import io

    e = load(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    df = similarity.brute_force_topk(e, q, k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Window" in p
    assert "MapInPandas" in p
    # exactly one SHUFFLE exchange (the window's; the broadcast of the
    # query set is not a shuffle) — a groupBy-based "partial" prune
    # would add a second hashpartitioning that ships every candidate
    assert p.count("hashpartitioning(") == 1


def test_brute_force_topk_query_chunking_identical(spark):
    """Past the query-broadcast cap the query set is processed in pmod
    chunks and unioned — the answer must be IDENTICAL (per-query
    independence), just bounded broadcast memory."""
    e = load(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)  # 25 queries
    whole = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
             for r in similarity.brute_force_topk(e, q, k=5).collect()}
    chunked = {(r.query_id, r.rank): (r.neighbor_id, r.cos)
               for r in similarity.brute_force_topk(e, q, k=5, max_query_broadcast_rows=7).collect()}
    assert whole and chunked == whole


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization must preserve the neighborhood structure:
    strong overlap with the exact float top-10 (deterministic on this
    corpus — pins quantization quality, not luck)."""
    e = load(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = {}
    for r in similarity.brute_force_topk(e, q, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant = {}
    for r in similarity.quantized_topk(e, q, k=10).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(quant) == set(exact)
    overlap = sum(len(exact[k] & quant[k]) for k in exact) / sum(len(v) for v in exact.values())
    assert overlap >= 0.8, overlap


def test_semantic_dedup_hot_cell_bounded(spark):
    """One hot centroid must not create a quadratic cell. With
    max_cell_rows set, an over-cap cell splits deterministically into
    ceil(|cell|/cap) sub-cells on vec_id mod n_sub, the greedy min-id
    rule applies per sub-cell, the pairwise stage stays an equi-join
    (no cartesian), and the answer is partitioning-independent."""
    import contextlib
    import io
    import math

    e = load(spark, SF_SMOKE, "embeddings")
    # every vector assigns to the single centroid => one maximally hot cell
    hot_centroid = e.filter(F.col("vec_id") == 0)
    cap = 50
    out = similarity.semantic_dedup(e, hot_centroid, threshold=0.45, max_cell_rows=cap)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    # the only nested-loop join allowed is the vectors x centroids
    # assignment scoring (centroids broadcast); the PAIRWISE stage must
    # be an equi-join carrying the sub-cell key
    assert "CartesianProduct" not in p
    assert "_sub" in p

    got = {r.vec_id: (r.dup_of, r.keep) for r in out.collect()}

    # pandas reference of the declared per-sub-cell greedy semantics
    rows = e.select("vec_id", "embedding").collect()
    n_sub = math.ceil(len(rows) / cap)
    vec = {r.vec_id: r.embedding for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    want = {}
    ids = sorted(vec)
    for b in ids:
        dup_of = None
        for a in ids:
            if a >= b or a % n_sub != b % n_sub:
                continue
            if cos(vec[a], vec[b]) >= 0.45:
                dup_of = a
                break
        want[b] = (dup_of, dup_of is None)
    assert got == want
    assert any(not keep for _, keep in got.values()), "expected planted dups"

    # under-cap cells are bit-identical to the unbounded form
    base = similarity.semantic_dedup(e, hot_centroid, threshold=0.45, max_cell_rows=None)
    big = similarity.semantic_dedup(
        e.repartition(7), hot_centroid, threshold=0.45, max_cell_rows=10**9
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(base) == as_set(big)


def test_stdlib_codecs_round_trip_and_reject_corruption():
    """The PNG/WAV codecs are real: they round-trip through genuine
    container bytes, validate CRCs, and reject corruption."""
    import pytest

    from kassette_server_spark.operators import multimodal as mm

    png = mm.encode_png(17, 9)
    m = mm.parse_png_meta(png)
    assert (m["width"], m["height"], m["bit_depth"], m["channels"]) == (17, 9, 8, 1)

    # flip one pixel-stream byte: CRC must catch it
    bad = bytearray(png)
    bad[len(png) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        mm.parse_png_meta(bytes(bad))
    with pytest.raises(ValueError):
        mm.parse_png_meta(b"GIF89a" + png)

    wav = mm.encode_wav(n_samples=480, sample_rate=16000, channels=2)
    a = mm.parse_wav_meta(wav)
    assert (a["sample_rate"], a["channels"], a["n_samples"], a["duration_ms"]) == (
        16000, 2, 480, 30,
    )
    with pytest.raises(ValueError):
        mm.parse_wav_meta(wav[4:])


def test_jpeg_codec_round_trip_and_reject_corruption():
    """The JPEG marker-walk parser reads real SOF0/SOF2 frame headers
    and rejects structural corruption."""
    import pytest

    from kassette_server_spark.operators import multimodal as mm

    base = mm.encode_jpeg(640, 480, components=3, progressive=False)
    m = mm.parse_jpeg_meta(base)
    assert (m["width"], m["height"], m["components"], m["progressive"]) == (
        640, 480, 3, False,
    )
    prog = mm.parse_jpeg_meta(mm.encode_jpeg(33, 77, components=1, progressive=True))
    assert (prog["width"], prog["height"], prog["components"], prog["progressive"]) == (
        33, 77, 1, True,
    )

    with pytest.raises(ValueError):  # bad SOI
        mm.parse_jpeg_meta(b"\xff\xd9" + base[2:])
    with pytest.raises(ValueError):  # truncated mid-segment
        mm.parse_jpeg_meta(base[:10])
    # SOF stripped out entirely → missing frame header
    sof_at = base.find(b"\xff\xc0")
    (sof_len,) = __import__("struct").unpack_from(">H", base, sof_at + 2)
    with pytest.raises(ValueError):
        mm.parse_jpeg_meta(base[:sof_at] + base[sof_at + 2 + sof_len :])
    # SOF length inconsistent with its component count
    mangled = bytearray(base)
    mangled[sof_at + 9] = 4  # claims 4 components, segment sized for 3
    with pytest.raises(ValueError):
        mm.parse_jpeg_meta(bytes(mangled))
    with pytest.raises(ValueError):
        mm.encode_jpeg(0, 10)


def test_decode_media_meta_survives_corrupt_payloads(spark):
    """A corrupt blob in a 100 TB scan must yield kind='unknown', not a
    task failure — including payloads that pass the magic-byte sniff
    but die deeper in the parser (struct/zlib/zero-division paths)."""
    import struct as _struct

    from kassette_server_spark.operators import multimodal as mm

    # a WAV whose fmt block claims block_align=0 and sample_rate=0:
    # passes the RIFF sniff, must not ZeroDivisionError the task
    zero_wav = bytearray(mm.encode_wav(n_samples=4, sample_rate=8000))
    fmt_at = bytes(zero_wav).find(b"fmt ")
    _struct.pack_into("<HHIIHH", zero_wav, fmt_at + 8, 1, 1, 0, 0, 0, 16)
    # a PNG with a truncated chunk header after a valid signature:
    # previously struct.error, must degrade to unknown
    trunc_png = bytearray(mm.PNG_SIG + b"\x00\x00")
    rows = [
        (1, bytearray(mm.encode_png(8, 8))),
        (2, bytearray(b"\x89PNG\r\n\x1a\x00garbage")),  # bad signature tail
        (3, bytearray(b"RIFFxxxx")),  # truncated RIFF
        (4, bytearray(mm.encode_jpeg(32, 16))),
        (5, bytearray(b"\xff\xd8\xff\xee\x00\x03")),  # JPEG sniff, truncated
        (6, zero_wav),
        (7, trunc_png),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r.kind for r in mm.decode_media_meta(df).collect()}
    assert got == {
        1: "png",
        2: "unknown",
        3: "unknown",
        4: "jpeg",
        5: "unknown",
        6: "unknown",
        7: "unknown",
    }


def test_sketches_cross_engine_on_random_corpora(spark):
    """Randomized portability: the HLL estimate must be bit-identical
    between Spark and DuckDB on arbitrary value distributions, not just
    the fixed testdata — catches hash-formula drift (hex parsing,
    bin() semantics, rounding) on inputs with unicode, empty strings,
    skew, and duplicates."""
    import random

    import duckdb
    import pandas as pd

    from kassette_server_spark.operators import sketches

    rng = random.Random(20260813)
    pools = [
        [f"user-{rng.randrange(50)}" for _ in range(2000)],  # heavy dups
        [f"{rng.random():.12f}" for _ in range(3000)],  # near-unique
        ["", "á", "日本語", "x" * 300] * 250 + [str(i) for i in range(500)],
    ]
    for i, values in enumerate(pools):
        pdf = pd.DataFrame({"v": values})
        sdf = spark.createDataFrame(pdf)
        got = sketches.hll_count_distinct(sdf, "v", p=9).toPandas()
        con = duckdb.connect()
        con.register("events", pdf)
        want = con.execute(sketches.hll_oracle_sql("events", "v", p=9)).fetch_df()
        con.close()
        assert got.to_dict("records") == want.to_dict("records"), f"pool {i}"


def test_gif_codec_round_trip_and_reject_corruption():
    """GIF: signature + LSD + full block walk to the trailer; corrupt
    structure degrades to ValueError, never a crash."""
    import pytest

    from kassette_server_spark.operators import multimodal as mm

    m = mm.parse_gif_meta(mm.encode_gif(17, 9))
    assert (m["width"], m["height"], m["n_frames"], m["animated"]) == (17, 9, 1, False)
    anim = mm.parse_gif_meta(mm.encode_gif(64, 48, n_frames=4))
    assert anim["n_frames"] == 4 and anim["animated"]

    base = mm.encode_gif(17, 9)
    with pytest.raises(ValueError):
        mm.parse_gif_meta(base[:-1])  # trailer gone
    with pytest.raises(ValueError):
        mm.parse_gif_meta(base[:8])  # truncated LSD
    with pytest.raises(ValueError):
        mm.parse_gif_meta(b"GIF89a" + b"\x00" * 20)  # zero dimensions
    mangled = bytearray(base)
    mangled[13] = 0xAA  # neither extension, image, nor trailer
    with pytest.raises(ValueError):
        mm.parse_gif_meta(bytes(mangled))


def test_bmp_codec_round_trip_and_reject_corruption():
    import pytest

    from kassette_server_spark.operators import multimodal as mm

    m = mm.parse_bmp_meta(mm.encode_bmp(33, 21))
    assert (m["width"], m["height"], m["bpp"], m["top_down"]) == (33, 21, 24, False)

    import struct as _s

    base = mm.encode_bmp(33, 21)
    # top-down (negative height) is legal and normalized
    neg = bytearray(base)
    neg[22:26] = _s.pack("<i", -21)
    td = mm.parse_bmp_meta(bytes(neg))
    assert td["height"] == 21 and td["top_down"]

    with pytest.raises(ValueError):
        mm.parse_bmp_meta(base[:30])  # truncated info header
    bad_planes = bytearray(base)
    bad_planes[26:28] = _s.pack("<H", 3)
    with pytest.raises(ValueError):
        mm.parse_bmp_meta(bytes(bad_planes))
    bad_bpp = bytearray(base)
    bad_bpp[28:30] = _s.pack("<H", 13)
    with pytest.raises(ValueError):
        mm.parse_bmp_meta(bytes(bad_bpp))


def test_decode_media_meta_sniffs_gif_and_bmp(spark):
    from kassette_server_spark.operators import multimodal as mm

    rows = [
        (1, mm.encode_gif(10, 20)),
        (2, mm.encode_bmp(30, 40)),
        (3, mm.encode_gif(10, 20)[:8]),  # corrupt → unknown, not a crash
        (4, b"BM" + b"\x00" * 10),  # corrupt BMP → unknown
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in mm.decode_media_meta(df).collect()}
    assert (out[1].kind, out[1].width, out[1].height) == ("gif", 10, 20)
    assert (out[2].kind, out[2].width, out[2].height) == ("bmp", 30, 40)
    assert out[3].kind == "unknown" and out[4].kind == "unknown"


def test_encode_media_payloads_keyed_by_any_id_col(spark):
    """Both payload generators name their id column after ``id_col``
    (the schema they declare), not a hard-coded doc_id."""
    from kassette_server_spark.operators import multimodal as mm

    df = spark.range(10).withColumnRenamed("id", "k")
    sigs = (mm.PNG_SIG, b"RIFF", mm.JPEG_SIG, b"GIF8", mm.BMP_SIG)
    for encode, n_kinds in (
        (mm.encode_media_payloads, 3),
        (mm.encode_media_payloads_ext, 5),
    ):
        got = {r.k: bytes(r.payload) for r in encode(df, id_col="k").collect()}
        assert sorted(got) == list(range(10))
        assert all(p.startswith(sigs[k % n_kinds]) for k, p in got.items())
