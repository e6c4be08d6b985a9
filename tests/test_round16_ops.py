"""Round-16 operator tests: the AVI audio track (q261) and the r15
ADVICE items on the AVI container code.

- extract_avi_audio: interleaved 'NNwb' chunks → G.711/PCM decode,
  all three codec paths bit-exact against the standalone companders.
- idx1 offset-convention fallback (ADVICE r15): absolute file offsets
  accepted; partial trailing index records ignored.
- encode_avi_mjpeg dwMaxBytesPerSec clamp (ADVICE r15): extreme
  fps × frame-size products no longer overflow uint32.
- avi_audio_stats: closed-form sums.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from kassette_server_spark.operators.multimodal import (
    AVI_FOURCC,
    _avi_parse,
    _riff_chunk,
    alaw_decode,
    alaw_encode,
    decode_avi_frames,
    encode_avi_mjpeg,
    extract_avi_audio,
    mulaw_decode,
    mulaw_encode,
    parse_avi_meta,
)


def _clip(i: int, n_samples: int = 64, codec: str = "mulaw") -> tuple:
    """(payload, samples, frames) — the q261 shape."""
    nf = 2 + i % 3
    frames = [
        np.full((8, 8), (i + 7 * f) % 256, np.uint8).tobytes()
        for f in range(nf)
    ]
    j = np.arange(n_samples, dtype=np.int64)
    s = ((7919 * i + 104729 * j) % 65536 - 32768).astype(np.int16)
    pay = encode_avi_mjpeg(
        8, 8, frames, audio=s, audio_codec=codec, sample_rate=8000
    )
    return pay, s, frames


def test_avi_audio_round_trip_all_codecs():
    """Each audio codec path through the container equals the
    standalone coder: mu-law/A-law midpoint reconstruction, PCM16
    verbatim, IMA ADPCM through the block predictor walk (the AVI
    chunk concatenation must equal the WAV data-chunk decode — chunk
    splits fall on block boundaries by the writer's invariant)."""
    from kassette_server_spark.operators.multimodal import (
        decode_wav_compressed,
        encode_wav_compressed,
    )

    def ima_expect(s):
        return decode_wav_compressed(
            encode_wav_compressed(s, codec="ima", block_align=12)
        )

    for codec, fmt, expect_fn in (
        ("mulaw", 7, lambda s: mulaw_decode(mulaw_encode(s))),
        ("alaw", 6, lambda s: alaw_decode(alaw_encode(s))),
        ("pcm16", 1, lambda s: s),
        ("ima", 0x11, ima_expect),
    ):
        pay, s, _ = _clip(5, codec=codec)
        meta, dec = extract_avi_audio(pay)
        assert meta["audio_fmt"] == fmt
        assert meta["audio_rate"] == 8000
        assert meta["n_audio_samples"] == 64
        assert np.array_equal(dec, expect_fn(s)), codec


def test_avi_audio_ima_chunks_are_block_aligned():
    """IMA chunks split on whole 12-byte blocks so every chunk decodes
    independently; the parser's idx1 verification covers them too."""
    pay, s, frames = _clip(8, codec="ima")
    meta, _, aspans = _avi_parse(pay)
    assert meta["audio_fmt"] == 0x11
    assert meta["audio_block_align"] == 12
    for a, b in aspans:
        assert (b - a) % 12 == 0


def test_avi_audio_interleave_one_chunk_per_frame():
    """The writer splits the stream one '01wb' chunk per video frame
    on sample boundaries; the parser collects them in movi order and
    the concatenation is the original byte stream."""
    for i in (0, 1, 2, 9):
        pay, s, frames = _clip(i)
        meta, fr, aspans = _avi_parse(pay)
        assert meta["n_audio_chunks"] == len(frames)
        data = b"".join(pay[a:b] for a, b in aspans)
        assert data == mulaw_encode(s).tobytes()


def test_avi_dual_stream_idx1_verified():
    """idx1 records exist for BOTH streams and a corrupted AUDIO
    record raises just like a corrupted video record."""
    pay, _, _ = _clip(3)
    idx_pos = pay.rfind(b"idx1")
    # record layout: fourcc + <III>(flags, off, size); audio records
    # carry fourcc '01wb'
    rec_pos = pay.find(b"01wb", idx_pos)
    assert rec_pos > idx_pos  # audio is indexed
    bad = bytearray(pay)
    # corrupt the audio record's size field
    struct.pack_into("<I", bad, rec_pos + 12, 0xDEAD)
    with pytest.raises(ValueError, match="idx1 audio"):
        parse_avi_meta(bytes(bad))


def test_avi_idx1_absolute_offset_convention():
    """ADVICE r15: a large class of real-world muxers writes ABSOLUTE
    file offsets in idx1 instead of movi-relative. Rewriting every
    record to the absolute convention must parse and decode
    bit-exactly (the player heuristic: detect from the first record)."""
    pay, s, frames = _clip(6)
    movi_pos = pay.find(b"movi")  # == the parser's movi_data_start
    idx_pos = pay.rfind(b"idx1")
    (idx_size,) = struct.unpack_from("<I", pay, idx_pos + 4)
    buf = bytearray(pay)
    for off in range(idx_pos + 8, idx_pos + 8 + idx_size, 16):
        (rec_off,) = struct.unpack_from("<I", buf, off + 8)
        struct.pack_into("<I", buf, off + 8, rec_off + movi_pos)
    pay_abs = bytes(buf)
    m = parse_avi_meta(pay_abs)
    assert m["n_frames"] == len(frames)
    assert [d[4] for d in decode_avi_frames(pay_abs, 1)] == frames
    _, dec = extract_avi_audio(pay_abs)
    assert np.array_equal(dec, mulaw_decode(mulaw_encode(s)))
    # a WRONG uniform shift (neither convention) still raises
    buf2 = bytearray(pay)
    for off in range(idx_pos + 8, idx_pos + 8 + idx_size, 16):
        (rec_off,) = struct.unpack_from("<I", buf2, off + 8)
        struct.pack_into("<I", buf2, off + 8, rec_off + 2)
    with pytest.raises(ValueError, match="idx1"):
        parse_avi_meta(bytes(buf2))


def test_avi_idx1_partial_trailing_record_ignored():
    """ADVICE r15: an idx1 whose declared size is not a multiple of 16
    must not read adjacent bytes as index records — the partial tail
    is ignored and the full records still verify."""
    pay, _, frames = _clip(2)
    idx_pos = pay.rfind(b"idx1")
    (idx_size,) = struct.unpack_from("<I", pay, idx_pos + 4)
    # append 7 junk bytes inside the declared idx1 size (grow the
    # chunk and the RIFF size accordingly)
    junk = b"\x7f" * 7
    buf = bytearray(pay[: idx_pos + 8 + idx_size])
    struct.pack_into("<I", buf, idx_pos + 4, idx_size + 7)
    buf += junk + pay[idx_pos + 8 + idx_size :]
    struct.pack_into("<I", buf, 4, struct.unpack_from("<I", buf, 4)[0] + 7)
    m = parse_avi_meta(bytes(buf))
    assert m["n_frames"] == len(frames)


def test_avi_maxbytespersec_clamped_not_overflowing():
    """ADVICE r15: fps up to the allowed 1e6 with a frame over ~4.3 KB
    used to overflow uint32 in struct.pack at encode time. The field
    is an upper-bound hint; it clamps instead."""
    big = bytes(128 * 128)  # encodes to a JPEG > 4.3 KB at this size
    pay = encode_avi_mjpeg(128, 128, [big], fps=1_000_000)
    m = parse_avi_meta(pay)
    assert m["n_frames"] == 1 and m["fps"] == 1_000_000


def test_avi_audio_first_foreign_layout_extracts():
    """A foreign muxer listing the AUDIO strl first (audio = stream 0,
    video = stream 1): audio rides '00wb', video '01dc'. The extractor
    must bind by stream TYPE and collect the right chunk fourcc."""
    from kassette_server_spark.operators.multimodal import (
        encode_jpeg_pixels,
    )

    w, h = 16, 8
    frames = [np.full((h, w), 40 + f, np.uint8).tobytes() for f in range(2)]
    jpegs = [encode_jpeg_pixels(w, h, f, channels=1) for f in frames]
    s = np.arange(-16, 16, dtype=np.int16) * 512
    codes = mulaw_encode(s).tobytes()
    avih = struct.pack(
        "<14I", 100_000, 0, 0, 0, len(jpegs), 0, 2, 0, w, h, 0, 0, 0, 0
    )
    aud_strh = b"auds" + b"\x00\x00\x00\x00" + struct.pack(
        "<IHHIIIIIIII4h",
        0, 0, 0, 0, 1, 8000, 0, len(s), 16, 0, 1, 0, 0, 0, 0,
    )
    aud_strf = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    vid_strh = b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII4h",
        0, 0, 0, 0, 1, 10, 0, len(jpegs), 0, 0, 0, 0, 0, w, h,
    )
    vid_strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 8, b"MJPG", w * h, 0, 0, 0, 0
    )
    hdrl = _riff_chunk(
        b"LIST",
        b"hdrl"
        + _riff_chunk(b"avih", avih)
        + _riff_chunk(
            b"LIST",
            b"strl"
            + _riff_chunk(b"strh", aud_strh)
            + _riff_chunk(b"strf", aud_strf),
        )
        + _riff_chunk(
            b"LIST",
            b"strl"
            + _riff_chunk(b"strh", vid_strh)
            + _riff_chunk(b"strf", vid_strf),
        ),
    )
    movi_body = b"movi"
    half = len(codes) // 2
    for k, j in enumerate(jpegs):
        movi_body += _riff_chunk(b"00wb", codes[k * half : (k + 1) * half])
        movi_body += _riff_chunk(b"01dc", j)
    body = AVI_FOURCC + hdrl + _riff_chunk(b"LIST", movi_body)
    pay = b"RIFF" + struct.pack("<I", len(body)) + body

    meta, dec = extract_avi_audio(pay)
    assert meta["audio_fmt"] == 7 and meta["n_audio_chunks"] == 2
    assert np.array_equal(dec, mulaw_decode(mulaw_encode(s)))
    assert [d[4] for d in decode_avi_frames(pay, 1)] == frames


def test_avi_audio_stats_closed_form(spark):
    """q261's operator over fixed ids equals the direct formula —
    code_sum from the container bytes, decoded_sum from the companding
    tables, vid0_sum from the constant frame."""
    from kassette_server_spark.operators.multimodal import avi_audio_stats

    ids = [0, 7, 23, 255, 256]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r for r in avi_audio_stats(df).collect()}
    assert set(got) == set(ids)
    for i in ids:
        j = np.arange(64, dtype=np.int64)
        s = ((7919 * i + 104729 * j) % 65536 - 32768).astype(np.int16)
        codes = mulaw_encode(s)
        r = got[i]
        assert r["n"] == 64
        assert r["n_frames"] == r["n_chunks"] == 2 + i % 3
        assert r["code_sum"] == int(codes.astype(np.int64).sum())
        assert r["decoded_sum"] == int(
            mulaw_decode(codes).astype(np.int64).sum()
        )
        assert r["vid0_sum"] == 64 * (i % 256)
