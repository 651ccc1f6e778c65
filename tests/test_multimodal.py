"""Multimodal plumbing: binary columns through Arrow batches, decode
metadata, pixel/sample decoders, frame sampling, perceptual-hash
near-dups — real Spark plumbing."""

from __future__ import annotations

import pytest

from webfilter import multimodal


@pytest.fixture(scope="module")
def media(spark):
    return multimodal.synth_media(spark, 200).cache()


def test_media_schema_roundtrip(media):
    row = media.first()
    assert isinstance(bytes(row["bytes"]), bytes) and len(row["bytes"]) > 0
    assert row["meta"]["codec"] in ("bmp", "png")
    assert media.count() == 200


def test_decode_image_meta_is_real(media):
    """Decode parses the ACTUAL format headers: recovered dims must
    equal the generator contract for every row, no decode errors."""
    rows = multimodal.decode_image_meta(media).collect()
    assert len(rows) == 200
    for r in rows:
        w, h = multimodal.synth_dims(r["media_id"])
        assert (r["width"], r["height"]) == (w, h), r
        assert r["decode_err"] is None
        assert r["format"] in ("bmp", "png")
        assert r["channels"] == (3 if r["format"] == "bmp" else 1)


def test_decode_audio_meta_is_real(spark):
    audio = multimodal.synth_media(spark, 40, kind="audio")
    rows = multimodal.decode_audio_meta(audio).collect()
    n_adpcm = 0
    for r in rows:
        assert r["decode_err"] is None
        adpcm = r["media_id"] % 5 == 2
        n_adpcm += adpcm
        assert r["sample_rate"] == 8000 and r["n_channels"] == 1
        assert r["bits"] == (4 if adpcm else 16)
        expect_frames = 1000 + (r["media_id"] % 64) * 250
        assert r["n_frames"] == expect_frames, r
        assert r["duration_ms"] == int(expect_frames * 1000 / 8000)
    assert n_adpcm == 8


def test_unknown_format_surfaces_error(spark):
    import pandas as pd

    junk = spark.createDataFrame(
        [(1, "image", b"not an image at all", {"codec": "??"})],
        schema=multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.decode_image_meta(junk).first()
    assert r["decode_err"] == "unknown_format"
    assert r["width"] is None and r["height"] is None


def test_media_kernel_headers_pure():
    """Kernel-level: handcrafted GIF + JPEG + truncated headers."""
    from webfilter.kernels import media as mk

    gif = b"GIF89a" + (7).to_bytes(2, "little") + (5).to_bytes(2, "little") + b"\x00" * 10
    assert mk.parse_image(gif) == {
        "width": 7, "height": 5, "channels": 3, "format": "gif", "err": None}
    # minimal JPEG: SOI + SOF0 (height=10, width=20, 3 components)
    import struct

    sof = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 9, 8, 10, 20, 3)
    jpg = b"\xff\xd8" + sof
    p = mk.parse_image(jpg)
    assert (p["width"], p["height"], p["channels"], p["err"]) == (20, 10, 3, None)
    # truncated BMP -> parse_error, not garbage
    t = mk.parse_image(b"BM\x01\x02")
    assert t["err"] and t["width"] is None
    # bmp/png/wav generators round-trip through their parsers
    assert mk.parse_image(mk.make_bmp(33, 9, seed=4))["width"] == 33
    assert mk.parse_image(mk.make_png(21, 11, seed=4))["height"] == 11
    w = mk.parse_wav(mk.make_wav(4000, 16000, seed=1))
    assert (w["n_frames"], w["sample_rate"], w["duration_ms"]) == (4000, 16000, 250)


def test_frame_sampling_explodes(media):
    frames = multimodal.sample_frames(media.limit(20), every_ms=1000)
    pdf = frames.toPandas()
    assert pdf.groupby("media_id").size().min() >= 1
    # frame timestamps are strictly increasing per media
    for _, g in pdf.groupby("media_id"):
        ts = g.sort_values("frame_idx")["frame_ts_ms"].tolist()
        assert ts == sorted(ts) and len(set(ts)) == len(ts)


def _expected_png_pixels(width, height, seed):
    """Replicates make_png's LCG byte stream (ground truth)."""
    import numpy as np

    x = seed & 0xFFFFFFFF
    out = np.zeros((height, width), dtype=np.uint8)
    for r in range(height):
        for c in range(width):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
            out[r, c] = (x >> 16) & 0xFF
    return out


def test_png_pixel_decode_matches_generator():
    """decode_png_pixels reconstructs the EXACT pixels make_png wrote
    (real zlib inflate + unfilter, not a stand-in)."""
    import numpy as np

    from webfilter.kernels.media import decode_png_pixels, make_png

    for w, h, seed in [(7, 5, 1), (32, 16, 9), (1, 1, 3)]:
        px = decode_png_pixels(make_png(w, h, seed=seed))
        assert px is not None and px.shape == (h, w, 1)
        assert np.array_equal(px[:, :, 0], _expected_png_pixels(w, h, seed))


def test_png_unfilter_all_filter_types():
    """Round-trip through every PNG row filter (None/Sub/Up/Average/
    Paeth) on an RGB image: encode rows filtered per spec, decode,
    expect the original pixels back."""
    import struct
    import zlib

    import numpy as np

    from webfilter.kernels.media import decode_png_pixels

    rng = np.random.default_rng(42)
    h, w, ch = 5, 9, 3
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)

    def paeth(a, b, c):
        p = int(a) + int(b) - int(c)
        pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, dtype=np.int32)
        raw.append(f)
        for i in range(stride):
            left = cur[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if f == 0:
                v = cur[i]
            elif f == 1:
                v = cur[i] - left
            elif f == 2:
                v = cur[i] - up
            elif f == 3:
                v = cur[i] - ((int(left) + int(up)) >> 1)
            else:
                v = cur[i] - paeth(left, up, ul)
            raw.append(int(v) & 0xFF)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    px = decode_png_pixels(png)
    assert px is not None and px.shape == (h, w, ch)
    assert np.array_equal(px, img)


def test_gif_pixel_decode_matches_generator():
    """decode_gif_pixels reconstructs the EXACT palette indices
    make_gif wrote — through REAL LZW (dictionary references and
    variable code width, not just literal codes: the 128x128 case
    compresses below 1.5 bytes/px and crosses the 10/11/12-bit width
    boundaries plus a 4096-entry table reset)."""
    import numpy as np

    from webfilter.kernels.media import decode_gif_pixels, make_gif

    for w, h, seed in [(7, 5, 1), (33, 7, 5), (1, 1, 3), (128, 128, 3)]:
        g = make_gif(w, h, seed=seed)
        px = decode_gif_pixels(g)
        assert px is not None and px.shape == (h, w, 3)
        # grayscale palette: channel 0 equals the LCG index stream
        assert np.array_equal(px[:, :, 0], _expected_png_pixels(w, h, seed))
        assert np.array_equal(px[:, :, 0], px[:, :, 2])
    big = make_gif(128, 128, seed=3)
    assert len(big) / (128 * 128) < 1.6  # dictionary hits, not literals


def test_gif_decode_rejects_malformed():
    from webfilter.kernels.media import decode_gif_pixels, make_gif

    assert decode_gif_pixels(None) is None
    assert decode_gif_pixels(b"") is None
    assert decode_gif_pixels(b"GIF89a\x01\x00") is None  # truncated
    g = bytearray(make_gif(9, 4, seed=2))
    g[30] ^= 0xFF  # corrupt a palette/structure byte: must not raise
    decode_gif_pixels(bytes(g))


def test_mp4_probe_roundtrip():
    """parse_mp4 reads back the exact duration/timescale make_mp4
    wrote, through both mvhd version layouts, and rejects junk."""
    from webfilter.kernels.media import make_mp4, parse_mp4, sniff_format

    for ms, ts, v in [(12000, 600, 0), (3500, 1000, 0), (90061000, 90000, 1)]:
        m = make_mp4(ms, ts, version=v)
        p = parse_mp4(m)
        assert (p["duration_ms"], p["timescale"], p["err"]) == (ms, ts, None)
        assert sniff_format(m) == "mp4"
    assert parse_mp4(b"") ["err"] == "short"
    assert parse_mp4(b"\x00" * 32)["err"] == "not_mp4"
    assert parse_mp4(make_mp4(5000, 600)[:24])["err"] == "no_mvhd"


def test_sample_frames_uses_real_mp4_probe(spark):
    """Durations for real MP4 payloads come from the mvhd box (not
    meta, not the hash fallback): frame count == ceil(duration/step)
    for the generator's known durations."""
    from webfilter.multimodal import sample_frames, synth_media

    vids = synth_media(spark, 12, kind="video")
    frames = sample_frames(vids, every_ms=1000).groupBy("media_id").count()
    got = {r["media_id"]: r["count"] for r in frames.collect()}
    import math

    for i in range(12):
        dur = 1000 + (i * 977) % 30_000
        assert got[i] == math.ceil(dur / 1000), (i, dur, got[i])


def test_jpeg_pixel_decode_real_entropy_data():
    """decode_jpeg_pixels runs a REAL baseline decode (Huffman entropy
    data -> dequantize -> IDCT): flat-q round trip within integer
    rounding, default-q within quantization error on smooth content,
    and correct refusal (None, no exception) of the unsupported
    shapes it documents."""
    import numpy as np

    from webfilter.kernels.media import (
        decode_jpeg_pixels,
        make_jpeg,
        parse_image,
    )

    for w, h, seed in [(8, 8, 0), (17, 9, 3), (64, 48, 7), (1, 1, 2)]:
        raw, px = make_jpeg(w, h, seed=seed, flat_q=True)
        assert parse_image(raw)["format"] == "jpeg"
        dec = decode_jpeg_pixels(raw)
        assert dec is not None and dec.shape == (h, w, 1)
        err = np.abs(dec[:, :, 0].astype(int) - px.astype(int))
        assert err.max() <= 2, (w, h, seed, err.max())

    raw, px = make_jpeg(96, 64, seed=11)  # spec-table quantization
    dec = decode_jpeg_pixels(raw)
    err = np.abs(dec[:, :, 0].astype(int) - px.astype(int))
    assert err.max() <= 24 and err.mean() <= 4.0

    # documented refusals: multi-component SOF, progressive marker
    mono, _ = make_jpeg(16, 16, seed=1)
    assert decode_jpeg_pixels(mono[:40]) is None  # truncated
    prog = bytearray(mono)
    i = mono.find(b"\xff\xc0")
    prog[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    assert decode_jpeg_pixels(bytes(prog)) is None


def test_jpeg_420_decode_matches_subsampling_model():
    """4:2:0 decode must equal the EXACT chroma model computed
    independently in numpy (YCbCr round -> pad16 -> 2x2-mean
    downsample -> nearest upsample -> inverse), within DCT integer
    rounding — proving the MCU interleave (4 Y + Cb + Cr), the
    per-component sampling grid and the upsample are all real."""
    import numpy as np

    from webfilter.kernels.media import decode_jpeg_pixels, make_jpeg_color

    def model(rgb):
        r, g, b = (rgb[:, :, i].astype(np.float64) for i in range(3))
        yy = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        yy, cb, cr = (np.clip(np.round(p), 0, 255) for p in (yy, cb, cr))
        h, w = yy.shape

        def pad(p, m=16):
            hh, ww = p.shape
            ph, pw = ((hh + m - 1) // m) * m, ((ww + m - 1) // m) * m
            img = np.zeros((ph, pw))
            img[:hh, :ww] = p
            img[hh:, :ww] = p[-1:, :]
            img[:, ww:] = img[:, ww - 1 : ww]
            return img

        def down(p):
            f = pad(p)
            return (f[0::2, 0::2] + f[1::2, 0::2] + f[0::2, 1::2] + f[1::2, 1::2]) / 4.0

        cbu = np.repeat(np.repeat(down(cb), 2, 0), 2, 1)[:h, :w] - 128.0
        cru = np.repeat(np.repeat(down(cr), 2, 0), 2, 1)[:h, :w] - 128.0
        out = np.stack(
            [yy + 1.402 * cru,
             yy - 0.344136 * cbu - 0.714136 * cru,
             yy + 1.772 * cbu],
            axis=-1,
        )
        return np.clip(np.round(out), 0, 255).astype(np.uint8)

    for w, h, seed in [(34, 22, 5), (16, 16, 0), (17, 9, 3), (40, 33, 9)]:
        raw, rgb = make_jpeg_color(w, h, seed, flat_q=True, subsample=True)
        dec = decode_jpeg_pixels(raw)
        assert dec is not None and dec.shape == (h, w, 3)
        err = np.abs(dec.astype(int) - model(rgb).astype(int))
        assert err.max() <= 3, (w, h, seed, err.max())


def test_avi_mjpeg_roundtrip():
    """parse_avi reads back exactly the geometry/timing/codec
    make_avi_mjpeg wrote, and decode_avi_frames recovers the
    encoder's input pixels for every frame (flat-q: rounding-only
    error), incl. subset decode touching only requested indices."""
    import numpy as np

    from webfilter.kernels.media import (
        decode_avi_frames,
        make_avi_mjpeg,
        parse_avi,
        sniff_format,
    )

    raw, pix = make_avi_mjpeg(24, 16, 4, us_per_frame=250_000, seed=7)
    assert sniff_format(raw) == "avi"
    assert parse_avi(raw) == {
        "width": 24, "height": 16, "n_frames": 4,
        "us_per_frame": 250_000, "duration_ms": 1000,
        "codec": "MJPG", "err": None,
    }
    fr = decode_avi_frames(raw)
    assert sorted(fr) == [0, 1, 2, 3]
    for k in range(4):
        err = np.abs(fr[k].squeeze().astype(int) - pix[k].astype(int)).max()
        assert err <= 2, (k, err)
    sub = decode_avi_frames(raw, indices={1, 3})
    assert sorted(sub) == [1, 3] and (sub[3] == fr[3]).all()
    assert parse_avi(b"")["err"] == "short"
    assert parse_avi(b"\x00" * 32)["err"] == "not_avi"
    assert parse_avi(raw[:40])["err"] == "no_avih"
    assert decode_avi_frames(b"junk") is None


def test_sample_frames_decodes_real_avi_pixels(spark):
    """For MJPEG AVI payloads sample_frames hashes genuinely DECODED
    frame pixels: recompute the expected hash locally from
    decode_avi_frames and require equality per (media_id, ts); frame
    counts still follow the probed duration exactly."""
    import hashlib
    import math

    from webfilter.kernels.media import decode_avi_frames, parse_avi
    from webfilter.multimodal import sample_frames, synth_media

    vids = synth_media(spark, 12, kind="video")
    rows = sample_frames(vids, every_ms=1000).collect()
    raws = {r["media_id"]: bytes(r["bytes"]) for r in vids.collect()}
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    checked = 0
    for i in (1, 5, 9):  # synth_media's i % 4 == 1 rows are MJPEG AVI
        p = parse_avi(raws[i])
        assert p["err"] is None and p["codec"] == "MJPG", (i, p)
        dur = 1000 + (i * 977) % 30_000
        assert p["duration_ms"] == dur
        assert len(by_id[i]) == math.ceil(dur / 1000)
        fr = decode_avi_frames(raws[i])
        for r in by_id[i]:
            src = min(p["n_frames"] - 1, r["frame_ts_ms"] * 1000 // p["us_per_frame"])
            want = hashlib.md5(fr[src].tobytes()).hexdigest()
            assert r["frame_hash"] == want, (i, r["frame_ts_ms"])
            checked += 1
    assert checked >= 15


def test_adpcm_codec_roundtrip_exact():
    """decode_wav_samples reproduces the IMA-ADPCM encoder's own
    integer reconstruction EXACTLY, and that reconstruction tracks
    the smooth source tone within one quantizer step (never free
    running)."""
    import math

    import numpy as np

    from webfilter.kernels import media as mk

    raw, recon = mk.make_wav_adpcm(5000, 8000, seed=3)
    got = mk.decode_wav_samples(raw)
    assert got is not None and got.shape == (5000, 1)
    assert np.array_equal(got, recon)
    src = np.array(
        [
            int(12000.0 * math.sin(t / 9.0 + 3) + 3000.0 * math.sin(t / 37.0 + 6.0))
            for t in range(5000)
        ]
    )
    # after the adaptive index warms up, reconstruction error stays
    # far below full scale (the codec is genuinely decoding, not
    # replaying bytes)
    err = np.abs(got[:, 0].astype(np.int64) - src)[100:]
    assert err.max() < 2048 and err.mean() < 200
    # header parse agrees with the fact chunk
    meta = mk.parse_wav(raw)
    assert meta["err"] is None and meta["format_tag"] == 0x11
    assert meta["n_frames"] == 5000 and meta["duration_ms"] == 625


def test_adpcm_block_arithmetic_fallback():
    """Without a fact chunk parse_wav falls back to block arithmetic
    from the fmt extension's samples-per-block."""
    import struct

    from webfilter.kernels import media as mk

    raw, _ = mk.make_wav_adpcm(2000, 8000, seed=1, block_align=256)
    # excise the 12-byte fact chunk (fact + size + payload)
    j = raw.index(b"fact")
    stripped = raw[:j] + raw[j + 12 :]
    stripped = b"RIFF" + struct.pack("<I", len(stripped) - 8) + stripped[8:]
    meta = mk.parse_wav(stripped)
    assert meta["err"] is None
    spb = (256 - 4) * 2 + 1
    n_blocks = -(-2000 // spb)
    assert meta["n_frames"] == n_blocks * spb  # padded final block


def test_decode_wav_samples_pcm16_and_malformed():
    import struct

    import numpy as np

    from webfilter.kernels import media as mk

    raw = mk.make_wav(300, 8000, seed=9)
    got = mk.decode_wav_samples(raw)
    assert got is not None and got.shape == (300, 1)
    # recompute the generator's LCG stream
    x = (9 * 2654435761 + 7) & 0xFFFFFFFF
    want = []
    for _ in range(300):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        want.append((x >> 8) % 65536 - 32768)
    assert got[:, 0].tolist() == want
    assert mk.decode_wav_samples(b"RIFFxxxxWAVEjunk") is None
    assert mk.decode_wav_samples(None) is None
    assert mk.decode_wav_samples(raw[:30]) is None
    # chunk-size overrun past EOF -> None, not garbage
    bad = bytearray(raw)
    struct.pack_into("<I", bad, 40, 10**6)
    assert mk.decode_wav_samples(bytes(bad)) is None


# ------------------------------------------------- image near-dup dedup


def test_bmp_pixel_roundtrip_and_features(spark):
    """decode_bmp_pixels inverts encode_bmp exactly."""
    import numpy as np

    from webfilter.kernels import media as m

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
    back = m.decode_bmp_pixels(m.encode_bmp(px))
    assert back is not None and (back == px).all()
    # make_bmp output decodes too (bottom-up padded rows)
    assert m.decode_bmp_pixels(m.make_bmp(17, 9, seed=3)).shape == (9, 17, 3)


def test_dhash_cross_codec_and_perceptual(spark):
    import numpy as np

    from webfilter.kernels import media as m

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(24, 36, 3), dtype=np.uint8)
    h_bmp = m.dhash64(m.decode_bmp_pixels(m.encode_bmp(px)))
    h_png = m.dhash64(m.decode_png_pixels(m.encode_png(px)))
    assert h_bmp == h_png  # codec-independent
    other = rng.integers(0, 256, size=(24, 36, 3), dtype=np.uint8)
    far = bin(h_bmp ^ m.dhash64(other)).count("1")
    assert far > 10  # independent fields are far apart
    # tiny images fall back to nearest sampling, never crash
    assert isinstance(m.dhash64(np.ones((2, 3), dtype=np.uint8)), int)


def test_image_neardup_planted_pairs(spark):
    """Every planted (base, dup) pair is recovered at hamming <= 6
    (8-chunk pigeonhole guarantees recall to 7; measured planted
    edits reach 5) and no cross-base pair appears; the cross-codec
    PNG re-encodes land at exactly hamming 0."""
    from webfilter.multimodal import image_neardup_pairs, synth_image_neardup

    media = synth_image_neardup(spark, 60)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_neardup_pairs(media, max_hamming=6,
                                          n_chunks=8).collect()}
    for i in range(60):
        assert (i, 100000 + i) in pairs, f"planted pair {i} missed"
        if i % 3 == 0:
            assert pairs[(i, 100000 + i)] == 0
    cross = [p for p in pairs if p[1] - p[0] != 100000]
    assert not cross, f"false pairs: {cross}"


def test_with_dhash_null_for_undecodable(spark):
    from webfilter.multimodal import with_dhash

    df = spark.createDataFrame(
        [(0, b"\x00garbage"), (1, None)], "media_id long, bytes binary"
    )
    rows = {r.media_id: r.dhash for r in with_dhash(df).collect()}
    assert rows == {0: None, 1: None}


def test_fp_pigeonhole_guard():
    import pytest as _pytest

    from webfilter.dedup import fp_pigeonhole_pairs

    with _pytest.raises(ValueError):
        fp_pigeonhole_pairs(None, max_hamming=4, n_chunks=4)


# ------------------------------------------------- audio near-dup dedup


def test_audio_fp_cross_codec_and_roundtrip(spark):
    """encode_wav_pcm16/encode_wav_adpcm round-trip arbitrary samples
    through decode_wav_samples, and the envelope hash is codec-robust
    (ADPCM re-encode within a few bits) but separates unrelated
    signals."""
    import numpy as np

    from webfilter.kernels import media as m

    t = np.arange(8000)
    sig = (
        (9000 * np.sin(t / 11 + 1.3) + 2500 * np.sin(t / 41 + 0.7))
        * (0.55 + 0.45 * np.sin(t / 401.0))
    ).astype(np.int16)
    assert (m.decode_wav_samples(m.encode_wav_pcm16(sig)).reshape(-1) == sig).all()
    ad, rec = m.encode_wav_adpcm(sig)
    assert (m.decode_wav_samples(ad) == rec).all()
    d = bin(m.audio_fp64(sig) ^ m.audio_fp64(rec)).count("1")
    assert d <= 3
    other = (9000 * np.sin(t / 13 + 4.0)).astype(np.int16)
    assert bin(m.audio_fp64(sig) ^ m.audio_fp64(other)).count("1") > 6
    assert m.audio_fp64(np.array([], dtype=np.int16)) == 0


def test_audio_neardup_planted_pairs(spark):
    """Every planted (base, dup) audio pair — ADPCM re-encodes and
    noisy PCM copies — is recovered at hamming <= 3 and no cross-base
    pair appears (measured corpus structure: planted <= 2,
    cross-base >= 4)."""
    from webfilter.multimodal import audio_neardup_pairs, synth_audio_neardup

    media = synth_audio_neardup(spark, 50)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in audio_neardup_pairs(media, max_hamming=3,
                                          n_chunks=4).collect()}
    for i in range(50):
        assert (i, 100000 + i) in pairs, f"planted audio pair {i} missed"
    cross = [p for p in pairs if p[1] - p[0] != 100000]
    assert not cross, f"false audio pairs: {cross}"


def test_with_audio_fp_null_for_undecodable(spark):
    from webfilter.multimodal import with_audio_fp

    df = spark.createDataFrame(
        [(0, b"\x00junk"), (1, None)], "media_id long, bytes binary"
    )
    rows = {r.media_id: r.audio_fp for r in with_audio_fp(df).collect()}
    assert rows == {0: None, 1: None}
