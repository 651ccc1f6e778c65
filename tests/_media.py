"""Fixture encoders for the media tests: each writes a valid file from
deterministic pixels, the ground truth the decoders in
``webfilter.kernels.media`` must reconstruct.  The grayscale JPEG and
MJPEG encoders stay in the package (``make_avi_mjpeg`` uses them)."""

from __future__ import annotations

import struct

import numpy as np

from webfilter.kernels.media import _encode_jpeg, _synth_pixels, encode_jpeg_gray


def make_gif(width: int, height: int, seed: int = 0) -> bytes:
    """Valid GIF89a with a 256-entry grayscale palette and
    deterministic LCG pixel indices (so decoded gray == the LCG
    stream — the generator ground truth for decode_gif_pixels).

    The LZW stream is REAL LZW (greedy longest-prefix dictionary,
    variable code width, 12-bit cap with CLEAR reset) — so the
    round-trip test exercises the decoder's table-reference and
    width-growth paths, not just literals."""
    mcs = 8
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    x = seed & 0xFFFFFFFF
    idx = []
    for _ in range(width * height):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        idx.append((x >> 16) & 0xFF)
    acc = nbits = 0
    stream = bytearray()
    width_bits = mcs + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = clear + 2
    emit(clear)
    run: tuple = ()
    for px in idx:
        cand = run + (px,)
        if cand in table:
            run = cand
            continue
        emit(table[run])
        # decoder adds its entry BEFORE reading the next code, so the
        # encoder grows its width when next_code REACHES 2^width
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width_bits) + 1 and width_bits < 12:
            width_bits += 1
        elif next_code == (1 << 12) + 1:
            emit(clear)
            table = {(i,): i for i in range(clear)}
            next_code = clear + 2
            width_bits = mcs + 1
        run = (px,)
    if run:
        emit(table[run])
    emit(eoi)
    if nbits:
        stream.append(acc & 0xFF)
    blocks = bytearray()
    for i in range(0, len(stream), 255):
        sub = stream[i : i + 255]
        blocks += bytes([len(sub)]) + sub
    blocks += b"\x00"
    pal = bytes(v for i in range(256) for v in (i, i, i))
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x80 | 0x07, 0, 0)
        + pal
        + b"\x2C"
        + struct.pack("<HHHHB", 0, 0, width, height, 0)
        + bytes([mcs])
        + bytes(blocks)
        + b"\x3B"
    )


def make_jpeg(width: int, height: int, seed: int = 0, flat_q: bool = False) -> tuple:
    """Valid baseline-sequential grayscale JFIF with deterministic
    pixels — a REAL encoder (level shift, float DCT, quantize,
    zigzag, DC-predictor + run/size AC Huffman coding, byte
    stuffing), the generator ground truth for decode_jpeg_pixels.
    Returns (jpeg_bytes, pixel_array) — the array is the encoder's
    input, the test oracle for the lossy round trip. ``flat_q=True``
    uses an all-ones quantization table so the round-trip error is
    rounding-only (near-lossless); the default table is the spec's
    example luminance table scaled down (quality ~85). Huffman
    tables are uniform-length canonical DHTs (12x4-bit DC
    categories, 162x8-bit AC run/size symbols) — legal, simple, and
    they force the decoder to honor arbitrary DHTs rather than
    memorized constants."""
    pixels = _synth_pixels(width, height, seed)
    return encode_jpeg_gray(pixels, flat_q=flat_q), pixels


def make_jpeg_color(
    width: int, height: int, seed: int = 0,
    flat_q: bool = False, subsample: bool = False,
) -> tuple:
    """Valid color JFIF (3 components; 4:4:4, or 4:2:0 when
    ``subsample``) with deterministic RGB pixels; returns
    (jpeg_bytes, rgb_array)."""
    planes = [_synth_pixels(width, height, seed + 17 * c) for c in range(3)]
    rgb = np.stack(planes, axis=-1)
    return encode_jpeg_color(rgb, flat_q=flat_q, subsample=subsample), rgb


def encode_jpeg_color(rgb, flat_q: bool = False, subsample: bool = False) -> bytes:
    """JFIF RGB -> YCbCr, then the shared baseline encoder — 4:4:4 by
    default, 4:2:0 (2x2-mean chroma downsample) with subsample=True."""
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    planes = [np.clip(np.round(p), 0, 255).astype(np.uint8) for p in (yy, cb, cr)]
    return _encode_jpeg(planes, flat_q=flat_q, subsample=subsample)
