"""Byte-identity guard for every public encoder of the codec tier.

The round-trip tests only prove that what an encoder writes decodes
back; they would not notice an encoder that starts writing different
(still decodable) bytes. This file pins the md5 of each encoder's
output on a small fixed grid: PNG at every depth, colour type, filter
mode, palette and Adam7; the JPEG stub container; baseline JPEG at
4:4:4/4:2:0/4:2:2/4:1:1 with and without restart intervals;
progressive JPEG with and without AC refinement; PCM, G.711 and IMA
ADPCM WAV; MJPEG-in-AVI with an audio track. The digests were taken
before the codec parsers and writers were folded onto shared helpers;
any later refactor of the codecs must keep them.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from kassette_server_spark.operators import multimodal as mm


def _ramp(n: int, mul: int = 37, add: int = 11, mod: int = 256) -> bytes:
    """Deterministic full-range bytes (lossy content for the JPEG legs)."""
    return ((np.arange(n, dtype=np.int64) * mul + add) % mod).astype(np.uint8).tobytes()


def _pcm(n: int) -> np.ndarray:
    return (((np.arange(n, dtype=np.int64) * 2741) % 65536) - 32768).astype(np.int16)


_PAL4 = bytes((17 * k + c * 71) % 256 for k in range(16) for c in range(3))
_PAL2 = bytes((90 * k + c * 13) % 256 for k in range(3) for c in range(3))

CASES = {
    "png_gray_default": lambda: mm.encode_png(13, 7),
    "png_gray_alpha": lambda: mm.encode_png(6, 5, _ramp(60), channels=2),
    "png_rgb": lambda: mm.encode_png(9, 4, _ramp(108), channels=3),
    "png_rgba": lambda: mm.encode_png(5, 6, _ramp(120, 29), channels=4),
    "png_filtered_gray": lambda: mm.encode_png_filtered(11, 9, _ramp(99)),
    "png_filtered_rgb_split": lambda: mm.encode_png_filtered(
        10, 6, _ramp(180, 53), channels=3, filters=[4, 3, 2, 1, 0, 4], idat_split=7
    ),
    "png_interlaced_rgb": lambda: mm.encode_png_interlaced(
        9, 7, _ramp(189), channels=3, filters_seed=2
    ),
    "png_interlaced_gray": lambda: mm.encode_png_interlaced(3, 2, _ramp(6)),
    "png_palette": lambda: mm.encode_png_palette(
        7, 5, _ramp(35, 5, 1, 4), _PAL4[:12]
    ),
    "png_deep_1": lambda: mm.encode_png_deep(11, 5, _ramp(55, 3, 1, 2), 1),
    "png_deep_2": lambda: mm.encode_png_deep(9, 6, _ramp(54, 3, 1, 4), 2),
    "png_deep_4": lambda: mm.encode_png_deep(7, 7, _ramp(49, 5, 3, 16), 4),
    "png_deep_16_gray": lambda: mm.encode_png_deep(6, 5, _ramp(60, 97), 16),
    "png_deep_16_ga_filters": lambda: mm.encode_png_deep(
        4, 3, _ramp(48, 41), 16, channels=2, filters=[3, 4, 1]
    ),
    "png_deep_16_rgb_adam7": lambda: mm.encode_png_deep(
        9, 9, _ramp(486, 101), 16, channels=3, interlace=True
    ),
    "png_deep_4_palette": lambda: mm.encode_png_deep(
        8, 6, _ramp(48, 7, 2, 16), 4, palette=_PAL4
    ),
    "png_deep_2_palette": lambda: mm.encode_png_deep(
        5, 4, _ramp(20, 1, 0, 3), 2, palette=_PAL2
    ),
    "jpeg_stub_rgb": lambda: mm.encode_jpeg(17, 9),
    "jpeg_stub_gray_prog": lambda: mm.encode_jpeg(17, 9, 1, progressive=True),
    "jpeg_stub_cmyk": lambda: mm.encode_jpeg(5, 5, 4),
    "jpeg_gray_444": lambda: mm.encode_jpeg_pixels(13, 11, _ramp(143)),
    "jpeg_gray_444_rst": lambda: mm.encode_jpeg_pixels(
        29, 17, _ramp(493, 7), restart_interval=2
    ),
    "jpeg_rgb_444": lambda: mm.encode_jpeg_pixels(21, 10, _ramp(630, 13), channels=3),
    "jpeg_rgb_420_rst": lambda: mm.encode_jpeg_pixels(
        37, 19, _ramp(2109, 19), channels=3, subsampling="420", restart_interval=2
    ),
    "jpeg_rgb_422": lambda: mm.encode_jpeg_pixels(
        37, 19, _ramp(2109, 23), channels=3, subsampling="422"
    ),
    "jpeg_rgb_411_rst": lambda: mm.encode_jpeg_pixels(
        37, 19, _ramp(2109, 31), channels=3, subsampling="411", restart_interval=3
    ),
    "jpeg_gray_shorthand": lambda: mm.encode_jpeg_pixels(9, 9, _ramp(81, 3), channels=1),
    "jpeg_prog_gray": lambda: mm.encode_jpeg_progressive_pixels(13, 11, _ramp(143)),
    "jpeg_prog_gray_refine": lambda: mm.encode_jpeg_progressive_pixels(
        13, 11, _ramp(143), ac_refine=True
    ),
    "jpeg_prog_rgb_444": lambda: mm.encode_jpeg_progressive_pixels(
        21, 10, _ramp(630, 13), channels=3
    ),
    "jpeg_prog_rgb_420_refine": lambda: mm.encode_jpeg_progressive_pixels(
        37, 19, _ramp(2109, 19), channels=3, subsampling="420", ac_refine=True
    ),
    "jpeg_prog_rgb_422": lambda: mm.encode_jpeg_progressive_pixels(
        37, 19, _ramp(2109, 23), channels=3, subsampling="422"
    ),
    "jpeg_prog_rgb_411_refine": lambda: mm.encode_jpeg_progressive_pixels(
        37, 19, _ramp(2109, 31), channels=3, subsampling="411", ac_refine=True
    ),
    "wav_default": lambda: mm.encode_wav(10),
    "wav_stereo": lambda: mm.encode_wav(
        6, 44100, 2, _pcm(12).astype("<i2").tobytes()
    ),
    "wav_mulaw": lambda: mm.encode_wav_compressed(_pcm(50)),
    "wav_alaw": lambda: mm.encode_wav_compressed(_pcm(51), 11025, codec="alaw"),
    "wav_ima": lambda: mm.encode_wav_compressed(_pcm(700), codec="ima"),
    "wav_ima_small_blocks": lambda: mm.encode_wav_compressed(
        _pcm(77), codec="ima", block_align=12
    ),
    "avi_mjpeg_mulaw": lambda: mm.encode_avi_mjpeg(
        9, 7, [_ramp(63), _ramp(63, 5)], audio=_pcm(40)
    ),
}

DIGESTS = {
    "png_gray_default": "d2801431714d8eb3d7e3ef806cc90b63",
    "png_gray_alpha": "aeb92272ab1501a0bd3c6bb5e9323fe6",
    "png_rgb": "0a175196a8803ae96aafc62ec2b76c87",
    "png_rgba": "092bbdf0fc5f8867349dc50594c45386",
    "png_filtered_gray": "01c1eb066a8844d06421098981183385",
    "png_filtered_rgb_split": "fefce18facfd2869954c42fe767054de",
    "png_interlaced_rgb": "327cad275ef93eecdb31f2a8e8725ed7",
    "png_interlaced_gray": "370bcdfae125c4417c85a7e0e6439429",
    "png_palette": "9d1c05c1dcb2bc7f2f88d68a94b4ed83",
    "png_deep_1": "f83aebbd698760e2a1001bc05a702842",
    "png_deep_2": "bb6a675ad008aac86cf9baa94767923b",
    "png_deep_4": "ac7f575bacaac9d101cb58384b83db93",
    "png_deep_16_gray": "ce3388211caf87d24535a26a61aa0a0c",
    "png_deep_16_ga_filters": "9b366c6c721f6957045b5e77b84b72be",
    "png_deep_16_rgb_adam7": "b242dbc4f6cf7dcb9f03628b4374ed0e",
    "png_deep_4_palette": "35b83d236c12f75622e2353917719923",
    "png_deep_2_palette": "5ae11a87c072677360088325b2b147b0",
    "jpeg_stub_rgb": "8b1a9568ca17c940df384746cfb6a5f6",
    "jpeg_stub_gray_prog": "d415a07ac75202e057ca982ac243d4e5",
    "jpeg_stub_cmyk": "6a3684d7f70ba050b3e8dd0f5e2eec69",
    "jpeg_gray_444": "08c020305e14f75110116159bbc344f4",
    "jpeg_gray_444_rst": "0b583a23daabe18d418a4082bb2b4456",
    "jpeg_rgb_444": "ccdd2eb10a56b437261b642acbf712f3",
    "jpeg_rgb_420_rst": "806b3e2bac3a14cb7df227765143d5e3",
    "jpeg_rgb_422": "9f33e12572e42951d11a7e8ad86f8803",
    "jpeg_rgb_411_rst": "7b78518ca724d203b20c8e1b1fead0af",
    "jpeg_gray_shorthand": "5f536327ebbb53b22d3180511db47e62",
    "jpeg_prog_gray": "3294695cd3dfe043d5fee44ce7fc405c",
    "jpeg_prog_gray_refine": "5825d1f87ebe5e7cd8eb624b0072e64d",
    "jpeg_prog_rgb_444": "ecc9ed2d48b24e3986deb0146eff100e",
    "jpeg_prog_rgb_420_refine": "36804ff8447dcda6ac3a9253b01a890c",
    "jpeg_prog_rgb_422": "9401058ac069d95a1a045dffb6a5b6c6",
    "jpeg_prog_rgb_411_refine": "3d6a416d983da1721ac9543d07135d37",
    "wav_default": "a8c5f4b8dea01ce461be59b2093dca7d",
    "wav_stereo": "eda5d31e0b6fcb6a13a4b6b6f231d274",
    "wav_mulaw": "97c627004b9d12a13b155d7861867b43",
    "wav_alaw": "f3164096933d37206ec720ed6a046737",
    "wav_ima": "c8221e37c685ef019c06620fe038a2f3",
    "wav_ima_small_blocks": "86acbec1ad69235d7af156471205a5ad",
    "avi_mjpeg_mulaw": "c2fe648d572baff8b25aef85575a2137",
}


def test_every_case_is_pinned():
    assert set(CASES) == set(DIGESTS)


@pytest.mark.parametrize("name", sorted(CASES))
def test_encoder_bytes_pinned(name):
    assert hashlib.md5(CASES[name]()).hexdigest() == DIGESTS[name]
