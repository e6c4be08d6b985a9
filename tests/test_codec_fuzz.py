"""Cross-codec differential fuzzer (VERDICT r11 #6): random pixel
arrays through every lossless container and the lossless GIF→PNG
transcode, asserting BYTE-IDENTICAL pixels after decode.

The id-formula oracle specs (q230/q232/q237/q238/...) pin each codec
path at fixed shapes; random composition ACROSS containers — arbitrary
dims, filters, interlace layouts, IDAT splits, palettes — is the blind
spot this closes. Every case is seeded (hypothesis-free determinism:
a failure replays exactly).
"""

from __future__ import annotations

import numpy as np
import pytest

from kassette_server_spark.operators.multimodal import (
    bmp_channel_stats,
    decode_gif_pixels,
    decode_png_pixels,
    encode_bmp_pixels,
    encode_gif_pixels,
    encode_png_filtered,
    encode_png_interlaced,
    encode_png_palette,
    transcode_gif_to_png,
)

N_CASES = 120  # x2 parametrized classes = 240 seeded cases


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng(seed)


def _dims(rng) -> tuple[int, int]:
    # include degenerate 1-wide / 1-tall rasters: interlace passes go
    # empty and filter left-neighbors vanish exactly there
    return int(rng.integers(1, 41)), int(rng.integers(1, 41))


@pytest.mark.parametrize("seed", range(N_CASES))
def test_gray_pixels_identical_across_all_lossless_containers(seed):
    """One random grayscale raster, four storage layouts and a
    transcode — every decode must return the SAME bytes:

      PNG sequential (random per-row filters, random IDAT split)
      PNG Adam7 interlaced (random filter seed)
      PNG palette (identity PLTE → RGB replication)
      GIF (random interlace flag)
      GIF→PNG transcode
    """
    rng = _rng(seed)
    w, h = _dims(rng)
    v = rng.integers(0, 256, size=w * h, dtype=np.uint8)
    px = v.tobytes()

    filters = [int(f) for f in rng.integers(0, 5, size=h)]
    split = int(rng.integers(1, 64)) if rng.integers(0, 2) else None
    seq = encode_png_filtered(w, h, px, channels=1, filters=filters, idat_split=split)
    assert decode_png_pixels(seq) == (w, h, 1, px)

    adam = encode_png_interlaced(w, h, px, channels=1, filters_seed=seed % 5)
    assert decode_png_pixels(adam) == (w, h, 1, px)

    identity = bytes(c for i in range(256) for c in (i, i, i))
    pal = encode_png_palette(w, h, px, identity)
    rgb = np.repeat(v, 3).tobytes()  # identity palette ⇒ gray triples
    assert decode_png_pixels(pal) == (w, h, 3, rgb)

    interlaced = bool(rng.integers(0, 2))
    gif = encode_gif_pixels(w, h, px, interlaced=interlaced)
    assert decode_gif_pixels(gif) == (w, h, px)

    # transcode: GIF -> palette PNG (identity GCT carries over)
    assert decode_png_pixels(transcode_gif_to_png(gif)) == (w, h, 3, rgb)


@pytest.mark.parametrize("seed", range(N_CASES))
def test_rgb_pixels_identical_across_png_layouts_and_bmp(seed):
    """One random RGB raster: sequential PNG (random filters/splits),
    Adam7 PNG, and 24-bit BMP must agree — PNGs byte-for-byte, the BMP
    via its exact per-channel sums (its reader is the stats walk)."""
    rng = _rng(seed)
    w, h = _dims(rng)
    a = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    px = a.tobytes()

    filters = [int(f) for f in rng.integers(0, 5, size=h)]
    split = int(rng.integers(1, 64)) if rng.integers(0, 2) else None
    seq = encode_png_filtered(w, h, px, channels=3, filters=filters, idat_split=split)
    assert decode_png_pixels(seq) == (w, h, 3, px)

    adam = encode_png_interlaced(w, h, px, channels=3, filters_seed=seed % 5)
    assert decode_png_pixels(adam) == (w, h, 3, px)

    # BMP: bottom-up BGR rows, 4-byte padded
    stride = ((w * 24 + 31) // 32) * 4
    rows = bytearray()
    for y in range(h - 1, -1, -1):
        row = a[y, :, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    bmp = encode_bmp_pixels(w, h, bytes(rows))
    s = bmp_channel_stats(bmp)
    assert s["n_px"] == w * h
    assert s["sum_r"] == int(a[:, :, 0].sum())
    assert s["sum_g"] == int(a[:, :, 1].sum())
    assert s["sum_b"] == int(a[:, :, 2].sum())


@pytest.mark.parametrize("seed", range(60))
def test_jpeg_mode_matrix_agrees_on_tile_constant_rasters(seed):
    """One random per-16x16-tile-constant RGB raster through the FULL
    JPEG mode matrix — baseline 4:4:4, 4:2:2, 4:2:0 (each with and
    without restart markers) and progressive — must decode to the
    SAME source bytes: tile-constant content is in every mode's
    lossless subset (constant blocks have a lone DC coefficient the
    flat quant divides exactly; box averages of constants are those
    constants), so any divergence is a codec bug, not quantization."""
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
    )

    rng = np.random.default_rng(seed)
    w = int(rng.integers(1, 70))
    h = int(rng.integers(1, 70))
    tiles = rng.integers(
        0, 256, size=((h + 15) // 16, (w + 15) // 16, 3), dtype=np.uint8
    )
    px = np.repeat(np.repeat(tiles, 16, axis=0), 16, axis=1)[:h, :w].tobytes()
    ri = int(rng.integers(0, 3))
    payloads = [
        encode_jpeg_pixels(w, h, px, channels=3, subsampling="444",
                           restart_interval=ri),
        encode_jpeg_pixels(w, h, px, channels=3, subsampling="422",
                           restart_interval=ri),
        encode_jpeg_pixels(w, h, px, channels=3, subsampling="420",
                           restart_interval=ri),
        encode_jpeg_progressive_pixels(w, h, px, channels=3),
    ]
    for pay in payloads:
        assert decode_jpeg_pixels(pay) == (w, h, 3, px)


@pytest.mark.parametrize("seed", range(60))
def test_jpeg_lossy_differential_on_random_rasters(seed):
    """ARBITRARY (lossy) rasters — the properties that hold regardless
    of quantization (VERDICT r12 #9, extending the mode matrix beyond
    its lossless tile-constant subset):

      * progressive decode == baseline decode byte-for-byte (SOF2
        reorders the scan, never the math);
      * restart framing never changes decoded bytes in ANY sampling
        mode (RSTn resets predictors/alignment, not coefficients).
    """
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
    )

    rng = np.random.default_rng(10_000 + seed)
    w = int(rng.integers(1, 49))
    h = int(rng.integers(1, 49))
    px = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    ri = int(rng.integers(1, 4))
    for sub in ("444", "422", "420", "411"):
        plain = decode_jpeg_pixels(
            encode_jpeg_pixels(w, h, px, channels=3, subsampling=sub)
        )
        framed = decode_jpeg_pixels(
            encode_jpeg_pixels(
                w, h, px, channels=3, subsampling=sub, restart_interval=ri
            )
        )
        assert framed == plain
        prog = decode_jpeg_pixels(
            encode_jpeg_progressive_pixels(
                w, h, px, channels=3, subsampling=sub
            )
        )
        assert prog == plain


@pytest.mark.parametrize("seed", range(60))
def test_compressed_wav_containers_match_raw_codec_composition(seed):
    """Random int16 PCM of random length through each compressed WAV
    container (VERDICT r12 #9): container encode → RIFF walk → decode
    must equal the raw codec composition applied directly —
    G.711 via decode(encode(s)), IMA via an independent block walk
    over the primitives (header sample verbatim, predictor re-seeded
    per block, step index carried) — and the fact chunk must carry
    the true sample count."""
    from kassette_server_spark.operators.multimodal import (
        alaw_decode,
        alaw_encode,
        decode_wav_compressed,
        encode_wav_compressed,
        ima_adpcm_decode,
        ima_adpcm_encode,
        mulaw_decode,
        mulaw_encode,
        parse_wav_meta_ext,
    )

    rng = np.random.default_rng(20_000 + seed)
    n = int(rng.integers(1, 400))
    s = rng.integers(-32768, 32768, size=n).astype(np.int16)

    for codec, enc, dec in (
        ("mulaw", mulaw_encode, mulaw_decode),
        ("alaw", alaw_encode, alaw_decode),
    ):
        pay = encode_wav_compressed(s, codec=codec)
        assert parse_wav_meta_ext(pay)["n_samples"] == n
        got = decode_wav_compressed(pay)
        ref = dec(enc(s))
        assert got.tolist() == ref.tolist()

    ba = int(rng.choice([8, 12, 16, 32]))
    spb = 1 + (ba - 4) * 2
    pay = encode_wav_compressed(s, codec="ima", block_align=ba)
    assert parse_wav_meta_ext(pay)["n_samples"] == n
    got = decode_wav_compressed(pay)
    ref = []
    index = 0
    for b0 in range(0, n, spb):
        first = int(s[b0])
        chunk = s[b0 + 1 : b0 + spb]
        ref.append(first)
        start_index = index  # header state: where this block's stream begins
        packed, _, index = ima_adpcm_encode(chunk, pred=first, index=start_index)
        # independently decodable: decode each block from ITS header
        # state alone (predictor = header sample, index = block start),
        # never from the running encoder state
        dec_chunk = ima_adpcm_decode(
            packed, len(chunk), pred=first, index=start_index
        )
        ref.extend(int(x) for x in dec_chunk)
    assert got.tolist() == ref


@pytest.mark.parametrize("seed", range(40))
def test_jpeg_full_matrix_with_411_on_32x16_tiles(seed):
    """One random per-32x16-tile-constant RGB raster through the
    COMPLETE sampling matrix including 4:1:1 (r13, q256): 32x16 tiles
    are constant over every mode's box-average span (4 px horizontally
    for 4:1:1, 2x2 for 4:2:0, 2 px for 4:2:2), so all five coded forms
    must decode to the SAME source bytes."""
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
    )

    rng = np.random.default_rng(30_000 + seed)
    w = int(rng.integers(1, 100))
    h = int(rng.integers(1, 50))
    tiles = rng.integers(
        0, 256, size=((h + 15) // 16, (w + 31) // 32, 3), dtype=np.uint8
    )
    px = np.repeat(np.repeat(tiles, 16, axis=0), 32, axis=1)[:h, :w].tobytes()
    ri = int(rng.integers(0, 3))
    payloads = [
        encode_jpeg_pixels(w, h, px, channels=3, subsampling=s,
                           restart_interval=ri)
        for s in ("444", "422", "420", "411")
    ] + [
        encode_jpeg_progressive_pixels(w, h, px, channels=3, subsampling=s)
        for s in ("444", "422", "420", "411")
    ]
    for pay in payloads:
        assert decode_jpeg_pixels(pay) == (w, h, 3, px)


@pytest.mark.parametrize("seed", range(40))
def test_jpeg_ac_successive_approximation_differential(seed):
    """AC successive approximation (spec G.1.2.3, r13): the two-pass
    AC transport (coarse Al=1 pass + correction scan with sign bits,
    buffered correction bits, and EOB-region corrections) must decode
    BIT-IDENTICAL to the single-pass progressive form and to baseline,
    on arbitrary rasters, in every sampling mode."""
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
    )

    rng = np.random.default_rng(40_000 + seed)
    w = int(rng.integers(1, 56))
    h = int(rng.integers(1, 56))
    px = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    sub = ("444", "422", "420", "411")[seed % 4]
    base = decode_jpeg_pixels(
        encode_jpeg_pixels(w, h, px, channels=3, subsampling=sub)
    )
    pay = encode_jpeg_progressive_pixels(
        w, h, px, channels=3, subsampling=sub, ac_refine=True
    )
    assert pay.count(b"\xff\xda") == 7  # 1 DC + 3 coarse AC + 3 refine
    assert decode_jpeg_pixels(pay) == base

    # fence: a refinement scan must advance exactly one bit — rewrite
    # the first refinement SOS header's Ah/Al byte from 0x10 to 0x20
    bad = bytearray(pay)
    p = -1
    for _ in range(5):  # fifth SOS = first refinement scan
        p = bad.find(b"\xff\xda", p + 2)
    assert bad[p + 2 + 2 + 1 + 2 * 1 + 2] == 0x10  # Ah=1, Al=0
    bad[p + 2 + 2 + 1 + 2 * 1 + 2] = 0x20
    with pytest.raises(ValueError, match="Ah = Al"):
        decode_jpeg_pixels(bytes(bad))


# --- r14 robustness growth (VERDICT r13 #6) ---------------------------------

# the one exception class a decoder may raise on corrupt input
# (anything else escaping a decoder is a bug)
import struct as _struct

CORRUPT_EXC = ValueError


@pytest.mark.parametrize("seed", range(40))
def test_jpeg_ac_refine_full_density_all_modes(seed):
    """AC successive approximation at FULL matrix density: every seed
    exercises ALL FOUR sampling modes (the original differential ran
    one mode per seed), asserting the 7-scan two-pass AC transport
    decodes bit-identical to baseline in each."""
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
    )

    rng = np.random.default_rng(50_000 + seed)
    w = int(rng.integers(1, 49))
    h = int(rng.integers(1, 49))
    px = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    for sub in ("444", "422", "420", "411"):
        base = decode_jpeg_pixels(
            encode_jpeg_pixels(w, h, px, channels=3, subsampling=sub)
        )
        pay = encode_jpeg_progressive_pixels(
            w, h, px, channels=3, subsampling=sub, ac_refine=True
        )
        assert decode_jpeg_pixels(pay) == base


@pytest.mark.parametrize("seed", range(40))
def test_jpeg_lossless_matrix_includes_ac_refine(seed):
    """The tile-constant LOSSLESS property extended to the AC-refine
    coded form: per-32x16-tile-constant rasters must survive the
    two-pass AC transport bit-exactly in every sampling mode, like
    every other member of the matrix."""
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
    )

    rng = np.random.default_rng(60_000 + seed)
    w = int(rng.integers(1, 100))
    h = int(rng.integers(1, 50))
    tiles = rng.integers(
        0, 256, size=((h + 15) // 16, (w + 31) // 32, 3), dtype=np.uint8
    )
    px = np.repeat(np.repeat(tiles, 16, axis=0), 32, axis=1)[:h, :w].tobytes()
    for sub in ("444", "422", "420", "411"):
        pay = encode_jpeg_progressive_pixels(
            w, h, px, channels=3, subsampling=sub, ac_refine=True
        )
        assert decode_jpeg_pixels(pay) == (w, h, 3, px)


def _corrupt_corpus(seed: int):
    """(kind, payload, decode, expected) tuples for one seeded raster/
    signal across every container the tier decodes."""
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        decode_wav_compressed,
        encode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
        encode_wav_compressed,
    )

    rng = np.random.default_rng(70_000 + seed)
    w = int(rng.integers(2, 33))
    h = int(rng.integers(2, 33))
    gray = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    rgb = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
    n = int(rng.integers(8, 300))
    pcm = rng.integers(-32768, 32768, size=n).astype(np.int16)

    png = encode_png_filtered(
        w, h, gray, channels=1,
        filters=[int(f) for f in rng.integers(0, 5, size=h)],
    )
    adam = encode_png_interlaced(w, h, rgb, channels=3, filters_seed=seed % 5)
    jb = encode_jpeg_pixels(w, h, rgb, channels=3, subsampling="420",
                            restart_interval=2)
    jp = encode_jpeg_progressive_pixels(w, h, rgb, channels=3,
                                        subsampling="420", ac_refine=True)
    gif = encode_gif_pixels(w, h, gray, interlaced=bool(rng.integers(0, 2)))
    wavs = [
        encode_wav_compressed(pcm, codec=c) for c in ("mulaw", "alaw", "ima")
    ]
    from kassette_server_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    n_frames = int(rng.integers(1, 5))
    avi = encode_avi_mjpeg(
        w, h,
        [
            rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
            for _ in range(n_frames)
        ],
        channels=1,
    )

    def _decode_avi(p: bytes):
        return decode_avi_frames(p, 1)

    return [
        ("png", png, decode_png_pixels, decode_png_pixels(png)),
        ("png_adam7", adam, decode_png_pixels, decode_png_pixels(adam)),
        ("jpeg", jb, decode_jpeg_pixels, decode_jpeg_pixels(jb)),
        ("jpeg_prog", jp, decode_jpeg_pixels, decode_jpeg_pixels(jp)),
        ("gif", gif, decode_gif_pixels, decode_gif_pixels(gif)),
        ("avi", avi, _decode_avi, _decode_avi(avi)),
    ] + [
        (f"wav{i}", pay, lambda p: decode_wav_compressed(p).tolist(),
         decode_wav_compressed(pay).tolist())
        for i, pay in enumerate(wavs)
    ]


@pytest.mark.parametrize("seed", range(30))
def test_truncated_payloads_raise_or_decode_complete(seed):
    """TRUNCATION sweep over every container: a payload cut at an
    arbitrary interior byte must either raise one of the corrupt-input
    classes (decode_media_meta's degrade set) or — when the cut only
    removed trailing framing the stream does not need (post-IEND
    bytes, EOI, terminator) — decode to EXACTLY the uncut result.
    Returning fewer/other pixels or samples silently is the one
    forbidden outcome (silent data loss at 100 TB)."""
    rng = np.random.default_rng(80_000 + seed)
    for kind, pay, decode, expect in _corrupt_corpus(seed):
        for _ in range(8):
            cut = int(rng.integers(1, len(pay)))
            try:
                got = decode(pay[:cut])
            except CORRUPT_EXC:
                continue
            assert got == expect, (kind, cut, len(pay))


@pytest.mark.parametrize("seed", range(30))
def test_corrupt_jpeg_and_wav_raise_value_error(seed):
    """One error class for corrupt input: every pixel/sample decoder in
    the corpus (PNG sequential and Adam7, baseline and progressive
    JPEG, GIF, AVI, the three compressed WAV codecs, PCM-16 samples)
    and every meta parser (PNG, JPEG, GIF, BMP, AVI and its audio
    track, WAV), over truncation draws and single-bit flips anywhere
    in the payload, either decodes or raises ValueError — never
    struct.error, zlib.error or IndexError from a read past the end."""
    from kassette_server_spark.operators.multimodal import (
        encode_bmp,
        encode_wav,
        extract_avi_audio,
        parse_avi_meta,
        parse_bmp_meta,
        parse_gif_meta,
        parse_jpeg_meta,
        parse_png_meta,
        parse_wav_meta,
        parse_wav_meta_ext,
        parse_wav_samples,
    )

    metas = {
        "png": [parse_png_meta],
        "jpeg": [parse_jpeg_meta],
        "gif": [parse_gif_meta],
        "avi": [parse_avi_meta, extract_avi_audio],
        "wav": [parse_wav_meta, parse_wav_meta_ext],
    }
    targets = []
    for kind, pay, decode, expect in _corrupt_corpus(seed):
        targets += [(pay, f) for f in [decode] + metas[kind.split("_")[0].rstrip("012")]]
        if kind == "wav2":  # IMA: its samples, re-encoded as PCM-16
            pcm = encode_wav(len(expect), samples=np.array(expect, np.int16).tobytes())
            targets += [(pcm, parse_wav_samples), (pcm, parse_wav_meta)]
    bmp = encode_bmp(3 + seed, 2 + seed % 5, (24, 8, 1)[seed % 3])
    targets.append((bmp, parse_bmp_meta))
    rng = np.random.default_rng(130_000 + seed)
    for pay, decode in targets:
        cuts = [pay[: int(rng.integers(1, len(pay)))] for _ in range(8)]
        flips = []
        for _ in range(16):
            bad = bytearray(pay)
            bad[int(rng.integers(0, len(pay)))] ^= 1 << int(rng.integers(0, 8))
            flips.append(bytes(bad))
        for bad in cuts + flips:
            try:
                decode(bad)
            except ValueError:
                continue  # any other exception class fails the test


@pytest.mark.parametrize("progressive", [False, True])
@pytest.mark.parametrize("segment", ["sof", "sos"])
def test_short_jpeg_frame_or_scan_header_raises_value_error(progressive, segment):
    """A length word that leaves a SOF or SOS header shorter than its
    fields is a corrupt container: ValueError, not struct.error or
    IndexError from reading past the segment."""
    from kassette_server_spark.operators.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_pixels,
        encode_jpeg_progressive_pixels,
    )

    encode = encode_jpeg_progressive_pixels if progressive else encode_jpeg_pixels
    pay = bytearray(encode(9, 9, bytes(range(81))))
    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    # SOF body cut to 3 of its 6 fixed bytes; SOS body to its count byte
    marker, length = (sof, 5) if segment == "sof" else (b"\xff\xda", 3)
    at = pay.find(marker)
    pay[at + 2 : at + 4] = length.to_bytes(2, "big")
    with pytest.raises(ValueError):
        decode_jpeg_pixels(bytes(pay))


@pytest.mark.parametrize("codec", ["mulaw", "alaw", "ima"])
def test_truncated_wav_fmt_or_fact_chunk_raises_value_error(codec):
    """A cut inside the ``fmt `` or ``fact`` chunk is a corrupt
    container, and every WAV reader reports it the same way — one
    ValueError from the shared RIFF walk, never an incidental
    struct.error from whichever reader happened to unpack first."""
    from kassette_server_spark.operators.multimodal import (
        decode_wav_compressed,
        encode_wav_compressed,
        parse_wav_meta,
        parse_wav_meta_ext,
        parse_wav_samples,
    )

    pay = encode_wav_compressed(np.arange(-50, 50, dtype=np.int16) * 300, codec=codec)
    assert pay[12:16] == b"fmt " and pay[36:40] == b"fact"
    # fmt body spans bytes 20..36, fact body 44..48
    cuts = [(c, "fmt") for c in range(20, 36)] + [(c, "fact") for c in range(44, 48)]
    for cut, chunk in cuts:
        for read in (
            parse_wav_meta, parse_wav_meta_ext, parse_wav_samples, decode_wav_compressed
        ):
            with pytest.raises(ValueError, match=f"truncated {chunk} chunk"):
                read(pay[:cut])


@pytest.mark.parametrize("seed", range(30))
def test_bitflipped_png_raises_or_decodes_identically(seed):
    """PNG carries per-chunk CRCs, so EVERY single-bit flip anywhere in
    the payload must be detected (raise) — or, vacuously, still decode
    to the identical pixels. Silent different-pixel output would mean
    the CRC walk is skippable."""
    rng = np.random.default_rng(90_000 + seed)
    rows = _corrupt_corpus(seed)
    for kind, pay, decode, expect in rows:
        if not kind.startswith("png"):
            continue
        for _ in range(16):
            pos = int(rng.integers(0, len(pay)))
            bit = 1 << int(rng.integers(0, 8))
            bad = bytearray(pay)
            bad[pos] ^= bit
            try:
                got = decode(bytes(bad))
            except CORRUPT_EXC:
                continue
            assert got == expect, (kind, pos, bit)


@pytest.mark.parametrize("seed", range(30))
def test_bitflipped_jpeg_markers_raise_or_decode_identically(seed):
    """JPEG has no integrity check over entropy data (a flipped
    Huffman bit legitimately decodes to different pixels — true of
    every conforming decoder), and a flipped marker ID can legally
    retarget a segment (DHT → skippable APPn loads a stale table —
    also undetectable by design). What IS always checkable is the
    0xFF FRAMING byte: the walk expects a marker exactly there, the
    entropy reader verifies the RSTn sequence, and EOI is required —
    so flips of any marker's 0xFF prefix must raise or leave the
    decode unchanged, never mis-decode."""
    def true_marker_offsets(pay: bytes) -> list[int]:
        # walk the REAL structure: a 0xFF inside a length-prefixed
        # segment payload (DHT symbol lists, DQT values) is table DATA,
        # not framing — flipping it is entropy-class corruption JPEG
        # cannot detect. Only genuine marker prefixes qualify.
        offs = [0]
        pos, in_scan = 2, False
        while pos + 1 < len(pay):
            if in_scan:
                if pay[pos] != 0xFF or pay[pos + 1] == 0x00:
                    pos += 1
                    continue
                m = pay[pos + 1]
                offs.append(pos)
                if 0xD0 <= m <= 0xD7:  # RSTn: still inside the scan
                    pos += 2
                    continue
                in_scan = False
                if m == 0xD9:
                    break
                (ln,) = _struct.unpack_from(">H", pay, pos + 2)
                in_scan = m == 0xDA
                pos += 2 + ln
                continue
            assert pay[pos] == 0xFF, pos
            m = pay[pos + 1]
            offs.append(pos)
            if m == 0xD9:
                break
            if 0xD0 <= m <= 0xD8:
                pos += 2
                continue
            (ln,) = _struct.unpack_from(">H", pay, pos + 2)
            in_scan = m == 0xDA
            pos += 2 + ln
        return offs

    rng = np.random.default_rng(100_000 + seed)
    for kind, pay, decode, expect in _corrupt_corpus(seed):
        if not kind.startswith("jpeg"):
            continue
        marker_offsets = true_marker_offsets(pay)
        for _ in range(8):
            pos = marker_offsets[int(rng.integers(0, len(marker_offsets)))]
            bit = 1 << int(rng.integers(0, 8))
            bad = bytearray(pay)
            bad[pos] ^= bit
            try:
                got = decode(bytes(bad))
            except CORRUPT_EXC:
                continue
            assert got == expect, (kind, pos, bit)


def test_random_blobs_degrade_to_unknown_in_media_meta(spark):
    """decode_media_meta over random byte blobs (no known magic) and
    over corrupt-but-magic'd payloads: every row lands kind='unknown'
    or a well-formed kind — never an executor-killing exception."""
    import pandas as pd

    from kassette_server_spark.operators.multimodal import decode_media_meta

    rng = np.random.default_rng(7)
    rows = []
    for i in range(64):
        blob = bytes(rng.integers(0, 256, size=int(rng.integers(0, 64)), dtype=np.uint8).tolist())
        rows.append((i, blob))
    # corrupt-but-magic'd: valid signatures, garbage bodies
    for i, sig in enumerate(
        [b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"RIFF", b"GIF89a", b"BM"]
    ):
        rows.append((100 + i, sig + bytes(rng.integers(0, 256, size=32, dtype=np.uint8).tolist())))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "payload"]))
    out = decode_media_meta(df).collect()
    assert len(out) == len(rows)
    kinds = {r["kind"] for r in out}
    assert kinds <= {"unknown", "png", "jpeg", "wav", "gif", "bmp"}


@pytest.mark.parametrize("seed", range(30))
def test_bitflipped_avi_structure_raises_or_decodes_identically(seed):
    """AVI has no integrity check over frame bytes (a flip inside a
    '00dc' JPEG payload is entropy-class corruption, legal to decode
    differently — true of every conforming reader). Every byte OUTSIDE
    the frame spans is STRUCTURE the parser cross-checks (RIFF
    fourccs/sizes, avih/strh frame counts, idx1 offsets/sizes): a flip
    there must raise one of the corrupt-input classes or leave the
    decoded frames bit-identical, never silently mis-sample."""
    from kassette_server_spark.operators.multimodal import (
        _avi_parse,
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    rng = np.random.default_rng(110_000 + seed)
    w = int(rng.integers(2, 25))
    h = int(rng.integers(2, 25))
    frames = [
        rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        for _ in range(int(rng.integers(1, 5)))
    ]
    pay = encode_avi_mjpeg(w, h, frames, channels=1)
    expect = decode_avi_frames(pay, 1)
    spans = _avi_parse(pay)[1]
    structural = [
        i for i in range(len(pay)) if not any(s <= i < e for s, e in spans)
    ]
    for _ in range(16):
        pos = structural[int(rng.integers(0, len(structural)))]
        bit = 1 << int(rng.integers(0, 8))
        bad = bytearray(pay)
        bad[pos] ^= bit
        try:
            got = decode_avi_frames(bytes(bad), 1)
        except CORRUPT_EXC:
            continue
        assert got == expect, (pos, bit)


@pytest.mark.parametrize("seed", range(20))
def test_bitflipped_dual_stream_avi_raises_or_extracts_identically(seed):
    """The r16 dual-stream container under the same contract: a flip
    in STRUCTURE (anything outside the video frame spans and audio
    chunk spans — fourccs, sizes, both strls, dual-stream idx1) must
    raise a corrupt-input class or leave BOTH streams' decode
    bit-identical; flips INSIDE audio chunk data are entropy-class
    (G.711 bytes are raw codes) and out of scope, like JPEG payload
    flips."""
    from kassette_server_spark.operators.multimodal import (
        _avi_parse,
        decode_avi_frames,
        encode_avi_mjpeg,
        extract_avi_audio,
    )

    rng = np.random.default_rng(120_000 + seed)
    w = int(rng.integers(2, 17))
    h = int(rng.integers(2, 17))
    frames = [
        rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
        for _ in range(int(rng.integers(1, 4)))
    ]
    samples = rng.integers(-32768, 32768, size=int(rng.integers(8, 96))).astype(
        np.int16
    )
    codec = ("mulaw", "alaw", "pcm16", "ima")[seed % 4]
    pay = encode_avi_mjpeg(w, h, frames, audio=samples, audio_codec=codec)
    expect_frames = decode_avi_frames(pay, 1)
    _, expect_audio = extract_avi_audio(pay)
    _, fspans, aspans = _avi_parse(pay)
    payload_spans = list(fspans) + list(aspans)
    structural = [
        i
        for i in range(len(pay))
        if not any(s <= i < e for s, e in payload_spans)
    ]
    for _ in range(12):
        pos = structural[int(rng.integers(0, len(structural)))]
        bit = 1 << int(rng.integers(0, 8))
        bad = bytes(
            pay[:pos] + bytes([pay[pos] ^ bit]) + pay[pos + 1 :]
        )
        try:
            got_frames = decode_avi_frames(bad, 1)
            _, got_audio = extract_avi_audio(bad)
        except CORRUPT_EXC:
            continue
        assert got_frames == expect_frames, (pos, bit)
        assert np.array_equal(got_audio, expect_audio), (pos, bit)
