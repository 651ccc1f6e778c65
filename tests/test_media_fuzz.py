"""Hypothesis fuzz for the pure-stdlib media codecs: every parser's
contract is 'None / err field on ANY malformed input, never an
exception' — the review pass found a ValueError escaping
decode_gif_pixels on a palette truncated mid-table, so the contract
is now locked by generative tests (arbitrary bytes, magic-prefixed
bytes, and single-byte corruptions of valid files)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from _media import make_gif, make_jpeg, make_jpeg_color
from webfilter.kernels.media import (
    decode_avi_frames,
    decode_wav_samples,
    decode_gif_pixels,
    decode_jpeg_pixels,
    make_avi_mjpeg,
    decode_png_pixels,
    make_wav_adpcm,
    make_mp4,
    make_png,
    parse_avi,
    parse_image,
    parse_mp4,
    parse_wav,
)

MAGICS = [
    b"", b"GIF89a", b"GIF87a", b"\x89PNG\r\n\x1a\n", b"\xff\xd8",
    b"RIFF", b"BM", b"\x00\x00\x00\x18ftyp", b"RIFF\x10\x00\x00\x00WAVE",
]


def _all_parsers(raw: bytes) -> None:
    decode_gif_pixels(raw)
    decode_jpeg_pixels(raw)
    decode_png_pixels(raw)
    parse_mp4(raw)
    parse_image(raw)
    parse_wav(raw)
    decode_wav_samples(raw)
    parse_avi(raw)
    decode_avi_frames(raw)


@settings(max_examples=200, deadline=None)
@given(st.sampled_from(MAGICS), st.binary(max_size=256))
def test_parsers_never_raise_on_magic_prefixed_junk(magic, tail):
    _all_parsers(magic + tail)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=512))
def test_parsers_never_raise_on_arbitrary_bytes(raw):
    _all_parsers(raw)


@settings(max_examples=80, deadline=None)
@given(st.integers(0, 10_000), st.integers(0, 255))
def test_parsers_never_raise_on_corrupted_valid_files(pos, val):
    for raw in (make_gif(9, 5, seed=3), make_png(9, 5, seed=3),
                make_mp4(4200, 600, seed=3), make_jpeg(9, 5, seed=3)[0],
                make_jpeg_color(9, 5, seed=3)[0],
                make_jpeg_color(9, 5, seed=3, subsample=True)[0],
                make_avi_mjpeg(9, 5, 2, seed=3)[0],
                make_wav_adpcm(400, seed=3, block_align=32)[0]):
        b = bytearray(raw)
        b[pos % len(b)] = val
        _all_parsers(bytes(b))


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 40), st.integers(1, 20), st.integers(0, 2**31))
def test_gif_lzw_roundtrip_property(w, h, seed):
    """decode(make_gif(w, h, seed)) reconstructs the LCG stream for
    ANY dimensions/seed, not just the pinned examples."""
    import numpy as np

    px = decode_gif_pixels(make_gif(w, h, seed=seed))
    assert px is not None and px.shape == (h, w, 3)
    x = seed & 0xFFFFFFFF
    truth = []
    for _ in range(w * h):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        truth.append((x >> 16) & 0xFF)
    assert np.array_equal(
        px[:, :, 0], np.array(truth, dtype=np.uint8).reshape(h, w)
    )


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 40), st.integers(1, 24), st.integers(0, 2**31))
def test_jpeg_flatq_roundtrip_property(w, h, seed):
    """decode(make_jpeg(..., flat_q=True)) reconstructs the encoder's
    pixels to within DCT integer-rounding (|err| <= 2) for ANY
    dimensions/seed — real entropy decode, not header sniffing."""
    import numpy as np

    raw, px = make_jpeg(w, h, seed=seed, flat_q=True)
    dec = decode_jpeg_pixels(raw)
    assert dec is not None and dec.shape == (h, w, 1)
    assert int(np.abs(dec[:, :, 0].astype(int) - px.astype(int)).max()) <= 2


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 32), st.integers(1, 20), st.integers(0, 2**31))
def test_jpeg_color_roundtrip_property(w, h, seed):
    """4:4:4 color: decode(make_jpeg_color(..., flat_q=True)) matches
    the encoder's RGB within YCbCr-transform + DCT rounding (<= 4)."""
    import numpy as np

    raw, rgb = make_jpeg_color(w, h, seed=seed, flat_q=True)
    dec = decode_jpeg_pixels(raw)
    assert dec is not None and dec.shape == (h, w, 3)
    assert int(np.abs(dec.astype(int) - rgb.astype(int)).max()) <= 4


def test_sample_frames_bounded_on_hostile_duration(spark):
    """A hostile AVI header implying ~10^13 ms must not emit 10^13
    rows (code-review r4c8 finding #1): durations clamp at the
    sampler ceiling."""
    import struct

    from webfilter.multimodal import MAX_SAMPLE_DURATION_MS, sample_frames

    # minimal AVI: avih with dwMicroSecPerFrame/dwTotalFrames maxed
    avih = struct.pack("<I", 0xFFFFFFFF) + b"\x00" * 12 + struct.pack(
        "<I", 0xFFFFFFFF
    ) + b"\x00" * 36
    hdrl = b"avih" + struct.pack("<I", len(avih)) + avih
    hdrl_list = b"LIST" + struct.pack("<I", 4 + len(hdrl)) + b"hdrl" + hdrl
    riff_body = b"AVI " + hdrl_list
    raw = b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
    df = spark.createDataFrame(
        [(1, bytearray(raw), {})],
        "media_id long, bytes binary, meta map<string,string>",
    )
    rows = sample_frames(df, every_ms=60_000).collect()
    assert 0 < len(rows) <= MAX_SAMPLE_DURATION_MS // 60_000 + 1
