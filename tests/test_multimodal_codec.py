"""Unit tests for the dependency-free real image decoder
(multimodal/binary_ops.decode_image_real): PPM (P6) and uncompressed
24-bit BMP parse from hand-built byte strings with known pixel content;
compressed formats stay behind the honest NotImplementedError gate.
"""

from __future__ import annotations

import struct

import pytest

from mincemeatpy_spark.multimodal.binary_ops import decode_image_real


def _ppm(w, h, pixels):
    assert len(pixels) == w * h  # list of (r, g, b)
    body = b"".join(bytes(p) for p in pixels)
    return b"P6\n%d %d\n255\n" % (w, h) + body


def _bmp(w, h, pixels_topdown):
    """24-bit BMP with positive height => rows stored bottom-up."""
    stride = (3 * w + 3) // 4 * 4
    rows = []
    for y in reversed(range(h)):  # bottom-up storage order
        row = b"".join(
            bytes((b, g, r)) for (r, g, b) in pixels_topdown[y * w : (y + 1) * w]
        )
        rows.append(row + b"\x00" * (stride - 3 * w))
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + h * stride, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, h * stride, 0, 0, 0, 0)
    )
    return header + b"".join(rows)


def test_ppm_decode_exact_means():
    # 2x2, distinct per-pixel values; integer floor means
    px = [(10, 20, 30), (50, 60, 70), (90, 100, 110), (130, 141, 150)]
    m = decode_image_real(_ppm(2, 2, px))
    assert m == {
        "fmt": "ppm",
        "width": 2,
        "height": 2,
        "mean_r": (10 + 50 + 90 + 130) // 4,
        "mean_g": (20 + 60 + 100 + 141) // 4,
        "mean_b": (30 + 70 + 110 + 150) // 4,
    }


def test_bmp_decode_padded_stride_and_bgr_order():
    # width 3 => 9 bytes/row, padded to 12: the decoder must skip the
    # padding and un-swap BGR, or the means shift.
    px = [(i * 10, i * 11, i * 12) for i in range(6)]  # 3x2
    m = decode_image_real(_bmp(3, 2, px))
    assert m["fmt"] == "bmp" and (m["width"], m["height"]) == (3, 2)
    assert m["mean_r"] == sum(p[0] for p in px) // 6
    assert m["mean_g"] == sum(p[1] for p in px) // 6
    assert m["mean_b"] == sum(p[2] for p in px) // 6


def test_bmp_width_multiple_of_four_no_padding():
    px = [(200, 100, 50)] * 4  # 4x1, stride == 12 exactly
    m = decode_image_real(_bmp(4, 1, px))
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (200, 100, 50)


def test_compressed_formats_still_gated():
    # lossless VP8L decodes for real since r9; lossy VP8, VP8X-alpha
    # and VP8L-frame animations since r10 — an ANIM-flagged container
    # with no frames is now MALFORMED, not unsupported
    with pytest.raises(ValueError, match="no ANMF frames"):
        decode_image_real(
            b"RIFF\x1e\x00\x00\x00WEBPVP8X\x0a\x00\x00\x00"
            + bytes([0x02, 0, 0, 0]) + b"\x00" * 6
        )
    # a truncated VP8X header is MALFORMED, not unsupported
    with pytest.raises(ValueError):
        decode_image_real(
            b"RIFF\x14\x00\x00\x00WEBPVP8X\x04\x00\x00\x00" + b"\x00" * 4
        )
    # a truncated lossy-VP8 chunk is MALFORMED, not unsupported
    with pytest.raises(ValueError):
        decode_image_real(
            b"RIFF\x14\x00\x00\x00WEBPVP8 \x04\x00\x00\x00" + b"\x00" * 4
        )
    # PNG (r6), baseline JPEG (r7), GIF (r8) and VP8L (r9) decode for
    # real, so a garbage body after a valid signature is MALFORMED,
    # not unsupported
    with pytest.raises(ValueError):
        decode_image_real(b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 24)
    with pytest.raises(ValueError):
        decode_image_real(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)
    with pytest.raises(ValueError):
        decode_image_real(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    with pytest.raises(ValueError):
        decode_image_real(b"GIF89a" + b"\x00" * 32)


def test_ppm_maxval_gate():
    with pytest.raises(NotImplementedError):
        decode_image_real(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")


def test_ppm_dimensions_containing_255_parse_correctly():
    # Regression: a substring search for the maxval token would anchor on
    # a width/height that equals 255 and silently corrupt the pixel read.
    px = [(7, 8, 9)] * (255 * 1)
    m = decode_image_real(_ppm(255, 1, px))
    assert (m["width"], m["height"]) == (255, 1)
    assert (m["mean_r"], m["mean_g"], m["mean_b"]) == (7, 8, 9)


# --- WAV/PCM16 (decode_audio_real) -------------------------------------

from mincemeatpy_spark.multimodal.binary_ops import decode_audio_real  # noqa: E402


def _wav(ch, rate, samples, extra_chunk=False, audio_fmt=1, bits=16):
    """RIFF/WAVE PCM16 from interleaved int16 samples."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", audio_fmt, ch, rate, rate * ch * 2, ch * 2, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size, padded
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_wav_decode_exact_sums():
    s = [100, -200, 300, -400, 32767, -32768]
    m = decode_audio_real(_wav(2, 16000, s))
    assert m == {
        "sample_rate": 16000,
        "n_channels": 2,
        "n_samples": 6,
        "sample_sum": sum(s),
        "energy": sum(x * x for x in s),
    }


def test_wav_unknown_chunk_skipped_word_aligned():
    # LIST chunk with ODD size: the walker must pad to the word boundary
    # or every later chunk misparses.
    s = [1, 2, 3]
    m = decode_audio_real(_wav(1, 8000, s, extra_chunk=True))
    assert (m["n_samples"], m["sample_sum"]) == (3, 6)


def test_wav_compressed_codecs_still_gated():
    with pytest.raises(NotImplementedError):
        decode_audio_real(b"ID3\x04" + b"\x00" * 32)  # MP3 container magic
    # FLAC decodes for real since r8, so a garbage body after a valid
    # marker is MALFORMED, not unsupported
    with pytest.raises(ValueError):
        decode_audio_real(b"fLaC" + b"\x00" * 32)
    with pytest.raises(NotImplementedError):  # non-PCM WAVE (e.g. float32)
        decode_audio_real(_wav(1, 8000, [0], audio_fmt=3))
    with pytest.raises(NotImplementedError):  # PCM but not 16-bit
        decode_audio_real(_wav(1, 8000, [0], bits=8))


def test_wav_missing_data_chunk_is_malformed_not_gated():
    payload = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    with pytest.raises(ValueError):
        decode_audio_real(payload)


# ------------------------------------------------------------------ r6: PNG

from mincemeatpy_spark.multimodal.binary_ops import (  # noqa: E402
    decode_png_real,
    encode_png_rgb8,
)


def _px(x, y):
    return ((x * 7 + y * 13) % 256, (x * 3 + y) % 256, (x + 250) % 256)


def test_png_roundtrip_exact_sums():
    w, h = 7, 11  # > 5 rows so every filter type (y % 5) is exercised
    b = decode_png_real(encode_png_rgb8(w, h, _px))
    assert (b["fmt"], b["width"], b["height"]) == ("png", w, h)
    pts = [(x, y) for x in range(w) for y in range(h)]
    assert b["sum_r"] == sum(_px(x, y)[0] for x, y in pts)
    assert b["sum_g"] == sum(_px(x, y)[1] for x, y in pts)
    assert b["sum_b"] == sum(_px(x, y)[2] for x, y in pts)


def test_png_crc_corruption_detected():
    raw = bytearray(encode_png_rgb8(4, 3, _px))
    # flip one bit inside the IDAT payload (after signature+IHDR chunk)
    idat_at = raw.find(b"IDAT")
    raw[idat_at + 6] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        decode_png_real(bytes(raw))


def test_png_single_pixel_and_single_row():
    # edge geometry: no left neighbor / no up neighbor anywhere
    one = decode_png_real(encode_png_rgb8(1, 1, _px))
    assert (one["sum_r"], one["sum_g"], one["sum_b"]) == _px(0, 0)
    row = decode_png_real(encode_png_rgb8(6, 1, _px))
    assert row["sum_r"] == sum(_px(x, 0)[0] for x in range(6))


def test_png_unsupported_variants_gated():
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # grayscale (color type 0) is out of the stated subset
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    gray = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        decode_png_real(gray)
    # interlaced
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    inter = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        decode_png_real(inter)


def test_png_dispatches_through_decode_image_real():
    m = decode_image_real(encode_png_rgb8(3, 2, _px))
    assert m["fmt"] == "png" and m["width"] == 3


# ------------------------------------------------------------------ r6: AVI

from mincemeatpy_spark.multimodal.binary_ops import (  # noqa: E402
    decode_avi_real,
    encode_avi_dib,
)


def _vpx(f, x, y):
    return ((f * 29 + x * 7 + y * 13) % 256, (x + y) % 256, (f + 9) % 256)


def test_avi_roundtrip_exact_sums():
    w, h, nf = 5, 3, 4
    m = decode_avi_real(encode_avi_dib(w, h, nf, _vpx))
    assert (m["fmt"], m["width"], m["height"], m["n_frames"]) == (
        "avi", w, h, nf,
    )
    pts = [(f, x, y) for f in range(nf) for x in range(w) for y in range(h)]
    assert m["sum_r"] == sum(_vpx(*p)[0] for p in pts)
    assert m["sum_g"] == sum(_vpx(*p)[1] for p in pts)
    assert m["sum_b"] == sum(_vpx(*p)[2] for p in pts)


def test_avi_truncated_movi_is_malformed():
    raw = bytearray(encode_avi_dib(4, 2, 3, _vpx))
    # drop the last frame chunk: find last 00db and truncate before it
    last = raw.rfind(b"00db")
    raw = raw[:last]
    # fix the RIFF size so the walk stays in bounds
    import struct
    struct.pack_into("<I", raw, 4, len(raw) - 8)
    with pytest.raises(ValueError, match="declared 3 frames, found 2"):
        decode_avi_real(bytes(raw))


def test_avi_compressed_fourcc_gated():
    # MJPG decodes for real since r10 (tests/test_mjpeg.py); the gate
    # now covers inter-frame codecs only
    raw = bytearray(encode_avi_dib(4, 2, 1, _vpx))
    at = raw.find(b"vidsDIB ")
    assert at > 0
    raw[at + 4 : at + 8] = b"H264"
    with pytest.raises(NotImplementedError, match="H264"):
        decode_avi_real(bytes(raw))
    # an MJPG handler over raw DIB strf is malformed, not gated
    raw[at + 4 : at + 8] = b"MJPG"
    with pytest.raises(ValueError, match="biCompression"):
        decode_avi_real(bytes(raw))


def test_wav_truncated_chunk_is_malformed_not_crash():
    good = _wav(1, 8000, [1, 2, 3])
    with pytest.raises(ValueError, match="truncated"):
        decode_audio_real(good[:-2])
    # odd-length data chunk
    raw = bytearray(good)
    at = raw.find(b"data")
    import struct
    (sz,) = struct.unpack_from("<I", raw, at + 4)
    struct.pack_into("<I", raw, at + 4, sz - 1)
    with pytest.raises(ValueError):
        decode_audio_real(bytes(raw[:-1]))


# --- baseline JPEG (r7) ------------------------------------------------

import numpy as np  # noqa: E402

from mincemeatpy_spark.multimodal.binary_ops import (  # noqa: E402
    _jpeg_zigzag,
    decode_jpeg_real,
    encode_jpeg_baseline,
)


def _gradient_rgb(w, h, seed=3):
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    v = (seed * 31 + x * 7 + y * 13) % 200 + 28
    r = np.clip(v + 10, 0, 255)
    g = np.clip(v, 0, 255)
    b = np.clip(v + 20, 0, 255)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def test_jpeg_zigzag_matches_published_constant():
    # encoder and decoder share the generated order; pin it against the
    # spec's published sequence so a generation bug cannot cancel out
    assert _jpeg_zigzag()[:16] == [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    ]
    assert len(_jpeg_zigzag()) == 64
    assert sorted(_jpeg_zigzag()) == list(range(64))


def test_jpeg_roundtrip_within_bound():
    for w, h in ((8, 8), (17, 9), (24, 16), (33, 19), (1, 1), (5, 3)):
        rgb = _gradient_rgb(w, h)
        meta = decode_jpeg_real(encode_jpeg_baseline(rgb))
        assert (meta["fmt"], meta["width"], meta["height"]) == ("jpeg", w, h)
        n = w * h
        for ch, i in (("sum_r", 0), ("sum_g", 1), ("sum_b", 2)):
            true = int(rgb[..., i].astype(np.int64).sum())
            assert abs(meta[ch] - true) <= 2 * n, (w, h, ch)


def test_jpeg_dc_prediction_across_mcus():
    # wide image, many MCUs: a broken DC predictor shifts later MCUs
    # wholesale and blows the per-pixel bound by design
    rgb = _gradient_rgb(64, 32, seed=11)
    meta = decode_jpeg_real(encode_jpeg_baseline(rgb))
    n = 64 * 32
    true = int(rgb[..., 1].astype(np.int64).sum())
    assert abs(meta["sum_g"] - true) <= 2 * n


def test_jpeg_malformed_is_valueerror():
    good = encode_jpeg_baseline(_gradient_rgb(16, 16))
    with pytest.raises(ValueError):
        decode_jpeg_real(b"\x00" + good[1:])           # no SOI
    with pytest.raises(ValueError):
        decode_jpeg_real(good[:40])                    # truncated segment
    with pytest.raises(ValueError):
        decode_jpeg_real(good[:-2])                    # scan missing EOI


def test_jpeg_unsupported_variants_gated():
    good = encode_jpeg_baseline(_gradient_rgb(16, 16))
    # flip SOF0 -> SOF3 (lossless): honest NotImplementedError gate
    i = good.find(b"\xff\xc0")
    assert i > 0
    lossless = good[:i] + b"\xff\xc3" + good[i + 2:]
    with pytest.raises(NotImplementedError):
        decode_jpeg_real(lossless)
    # SOF0 -> SOF2 now DISPATCHES to the progressive decoder (r8);
    # the baseline encoder's 4:2:0 sampling hits its honest
    # subsampled-progressive sub-gate
    prog = good[:i] + b"\xff\xc2" + good[i + 2:]
    with pytest.raises(NotImplementedError, match="subsampled progressive"):
        decode_jpeg_real(prog)


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn (r8): restart markers split the scan into byte-aligned
    independently-decodable segments with DC prediction reset — the
    format's own parallel-decode split points.  Every interval choice
    must reconstruct identically to the unrestarted stream."""
    rgb = _gradient_rgb(48, 32)
    base = decode_jpeg_real(encode_jpeg_baseline(rgb))
    for ri in (1, 2, 5):
        m = decode_jpeg_real(encode_jpeg_baseline(rgb, restart_interval=ri))
        assert (m["sum_r"], m["sum_g"], m["sum_b"]) == (
            base["sum_r"],
            base["sum_g"],
            base["sum_b"],
        ), ri
    # a missing segment (DRI present, data truncated at the first RST)
    # is malformed, not silently short
    stream = encode_jpeg_baseline(rgb, restart_interval=1)
    cut = stream[: stream.find(b"\xff\xd0") + 2] + b"\xff\xd9"
    with pytest.raises(ValueError):
        decode_jpeg_real(cut)


def test_jpeg_dispatches_through_decode_image_real():
    rgb = _gradient_rgb(16, 8)
    meta = decode_image_real(encode_jpeg_baseline(rgb))
    assert meta["fmt"] == "jpeg" and meta["width"] == 16


# ---------------------------------------------------------------- GIF


def test_gif_roundtrip_lossless_including_interlace():
    import random

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_gif_real,
        encode_gif_indexed,
    )

    rng = random.Random(7)
    for trial in range(12):
        w, h = rng.randint(1, 40), rng.randint(1, 30)
        npal = rng.choice([4, 16, 256])
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(npal)
        ]
        grid = [[rng.randrange(npal) for _ in range(w)] for _ in range(h)]
        b = encode_gif_indexed(
            w, h, pal, lambda x, y: grid[y][x], interlace=(trial % 3 == 0)
        )
        m = decode_gif_real(b)
        assert (m["fmt"], m["width"], m["height"]) == ("gif", w, h)
        for ch, key in enumerate(("sum_r", "sum_g", "sum_b")):
            exp = sum(
                pal[grid[y][x]][ch] for y in range(h) for x in range(w)
            )
            assert m[key] == exp, (trial, key)


def test_gif_lzw_width_growth_and_clear_reset():
    """A 200x150 random 256-color image pushes the LZW code width to
    12 bits AND overflows the 4096-entry table, forcing the encoder's
    mid-stream CLEAR + reset — the decoder must follow both."""
    import random

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_gif_real,
        encode_gif_indexed,
    )

    rng = random.Random(13)
    w, h = 200, 150
    pal = [((i * 7) % 256, (i * 11) % 256, (i * 13) % 256) for i in range(256)]
    grid = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
    b = encode_gif_indexed(w, h, pal, lambda x, y: grid[y][x])
    m = decode_gif_real(b)
    assert m["sum_r"] == sum(
        pal[grid[y][x]][0] for y in range(h) for x in range(w)
    )


def test_gif_malformed_is_valueerror():
    import pytest

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_gif_real,
        encode_gif_indexed,
    )

    good = encode_gif_indexed(
        8, 8, [(0, 0, 0), (255, 255, 255)], lambda x, y: (x + y) % 2
    )
    with pytest.raises(ValueError):
        decode_gif_real(b"NOTGIF" + good[6:])
    with pytest.raises(ValueError):
        decode_gif_real(good[:12])  # truncated screen descriptor
    with pytest.raises(ValueError):
        decode_gif_real(good[:-4])  # unterminated image data


def test_gif_dispatches_through_decode_image_real():
    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_image_real,
        encode_gif_indexed,
    )

    b = encode_gif_indexed(
        5, 4, [(10, 20, 30), (40, 50, 60)], lambda x, y: x % 2
    )
    m = decode_image_real(b)
    assert m["fmt"] == "gif" and m["width"] == 5 and m["height"] == 4


# --------------------------------------------------------------- FLAC


def test_flac_roundtrip_all_subframe_types():
    import random

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_flac_real,
        encode_flac_subset,
    )

    rng = random.Random(11)
    for trial in range(12):
        nch = rng.choice([1, 2])
        n = rng.randint(1, 200)
        chans = []
        for c in range(nch):
            kind = trial % 4
            if kind == 0:
                ch = [rng.randint(-2048, 2047) for _ in range(n)]
            elif kind == 1:
                ch = [((i * 13 + c * 7) % 999) - 500 for i in range(n)]
            elif kind == 2:
                ch = [42] * n  # constant blocks
            else:
                ch = [(-1) ** i * (i % 50) for i in range(n)]
            chans.append(ch)
        b = encode_flac_subset(16000, chans)
        m = decode_flac_real(b)
        assert m["fmt"] == "flac"
        assert m["n_samples"] == n * nch
        assert m["sample_sum"] == sum(sum(ch) for ch in chans), (trial,)
        assert m["energy"] == sum(v * v for ch in chans for v in ch)


def test_flac_crc_verification_bites():
    import pytest

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_flac_real,
        encode_flac_subset,
    )

    good = encode_flac_subset(8000, [[5, -3, 17, 200, -120, 6, 7, 8]])
    # flip one bit in the LAST byte (inside the final frame's CRC-16
    # footer or its protected region — either way the check must fire)
    bad = good[:-1] + bytes([good[-1] ^ 0x01])
    with pytest.raises(ValueError):
        decode_flac_real(bad)
    with pytest.raises(ValueError):
        decode_flac_real(good[:20])  # truncated metadata


def test_flac_dispatches_through_decode_audio_real():
    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_audio_real,
        encode_flac_subset,
    )

    b = encode_flac_subset(22050, [[1, 2, 3, 4, -5, -6]])
    m = decode_audio_real(b)
    assert m["sample_rate"] == 22050 and m["n_samples"] == 6
    assert m["sample_sum"] == -1


def test_audio_transform_codecs_still_gated():
    import pytest

    from mincemeatpy_spark.multimodal.binary_ops import decode_audio_real

    with pytest.raises(NotImplementedError):
        decode_audio_real(b"\xff\xfb\x90\x00" + b"\x00" * 64)  # MP3 frame


# ------------------------------------------------- progressive JPEG (r8)


def test_progressive_jpeg_coefficient_exact():
    """The 10-scan progressive machinery (DC/AC successive
    approximation, spectral selection, AC refinement with correction
    bits) must reassemble coefficients EXACTLY: reconstruction equals
    the closed-form IDCT of the rounded FDCT coefficients
    bit-for-bit, so the only loss in the pipeline is FDCT rounding."""
    import numpy as np

    from mincemeatpy_spark.multimodal.binary_ops import (
        _jpeg_dct_mat,
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    A = _jpeg_dct_mat()

    def expected_sums(rgb):
        h, w = rgb.shape[:2]
        r, g, b = [rgb[..., i].astype(np.float64) for i in range(3)]
        Y = np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
        Cb = np.clip(
            np.round(128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b),
            0,
            255,
        )
        Cr = np.clip(
            np.round(128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b),
            0,
            255,
        )
        H, W = (h + 7) // 8 * 8, (w + 7) // 8 * 8
        outs = []
        for plane in (Y, Cb, Cr):
            p = np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")
            gh, gw = H // 8, W // 8
            blocks = (
                p.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            )
            q = np.round(A @ (blocks - 128.0) @ A.T)
            rec = A.T @ q @ A + 128.0
            full = np.zeros((H, W))
            for i in range(gh * gw):
                y, x = (i // gw) * 8, (i % gw) * 8
                full[y : y + 8, x : x + 8] = rec[i]
            outs.append(full[:h, :w])
        Yc, Cbc, Crc = outs[0], outs[1] - 128.0, outs[2] - 128.0
        rr = np.clip(np.round(Yc + 1.402 * Crc), 0, 255).astype(np.int64)
        gg = np.clip(
            np.round(Yc - 0.344136286 * Cbc - 0.714136286 * Crc), 0, 255
        ).astype(np.int64)
        bb = np.clip(np.round(Yc + 1.772 * Cbc), 0, 255).astype(np.int64)
        return int(rr.sum()), int(gg.sum()), int(bb.sum())

    rng = np.random.default_rng(9)
    for _ in range(4):
        w, h = 8 + int(rng.integers(0, 30)), 8 + int(rng.integers(0, 25))
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        m = decode_jpeg_progressive(encode_jpeg_progressive(rgb))
        assert (m["sum_r"], m["sum_g"], m["sum_b"]) == expected_sums(rgb)
        assert (m["fmt"], m["width"], m["height"]) == (
            "jpeg-progressive",
            w,
            h,
        )


def test_progressive_dispatches_through_decode_jpeg_real():
    import numpy as np

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_jpeg_real,
        encode_jpeg_progressive,
    )

    rgb = (np.arange(16 * 16 * 3) % 256).reshape(16, 16, 3).astype(np.uint8)
    m = decode_jpeg_real(encode_jpeg_progressive(rgb))
    assert m["fmt"] == "jpeg-progressive" and m["width"] == 16


def test_progressive_unsupported_variants_gated():
    import numpy as np
    import pytest

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    good = encode_jpeg_progressive(
        (np.zeros((8, 8, 3)) + 7).astype(np.uint8)
    )
    # flip the SOF2 sampling byte of component 1 to 4:2:0 (0x22)
    sof_at = good.find(b"\xff\xc2")
    bad = bytearray(good)
    bad[sof_at + 2 + 2 + 6 + 1] = 0x22
    with pytest.raises(NotImplementedError):
        decode_jpeg_progressive(bytes(bad))
    with pytest.raises(ValueError):
        decode_jpeg_progressive(good[:40])


def _pjpeg_segments(buf: bytes):
    """Split a progressive JPEG into (marker, whole_segment_bytes) with
    scan entropy data attached to its SOS segment."""
    import struct

    segs = [(0xD8, buf[:2])]
    pos = 2
    while pos < len(buf):
        m = buf[pos + 1]
        if m == 0xD9:
            segs.append((0xD9, buf[pos : pos + 2]))
            break
        (seglen,) = struct.unpack_from(">H", buf, pos + 2)
        end = pos + 2 + seglen
        if m == 0xDA:  # attach entropy data up to the next marker
            p = end
            while p < len(buf) - 1:
                if buf[p] == 0xFF and buf[p + 1] != 0x00:
                    break
                p += 1
            segs.append((m, buf[pos:p]))
            pos = p
        else:
            segs.append((m, buf[pos:end]))
            pos = end
    return segs


def _dht_bytes(tables: dict) -> bytes:
    """Serialize {(cls, tid): {(length, code): sym}} as one DHT segment."""
    body = bytearray()
    for (cls, tid), table in tables.items():
        counts = [0] * 16
        syms_by_len: dict = {}
        for (length, _code), sym in sorted(table.items()):
            counts[length - 1] += 1
            syms_by_len.setdefault(length, []).append(sym)
        body.append((cls << 4) | tid)
        body.extend(counts)
        for length in range(1, 17):
            body.extend(syms_by_len.get(length, []))
    return b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + bytes(body)


def test_progressive_dht_redefinition_between_scans():
    """DHT may legally redefine a table id between scans (libjpeg's
    optimized output).  Each scan must decode with the tables in force
    at ITS OWN SOS — resolving tables after the whole walk is the r8
    ADVICE defect this pins."""
    import struct

    import numpy as np

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(17)
    rgb = rng.integers(0, 256, size=(24, 16, 3), dtype=np.uint8)
    good = encode_jpeg_progressive(rgb)
    want = decode_jpeg_progressive(good)

    # Variant 1 (the exact defect): a junk-but-valid DHT after the last
    # scan redefines (0,0) and (1,0).  Per spec it affects no scan; a
    # decoder that resolves tables after the walk corrupts all of them.
    junk = {
        (0, 0): {(1, 0): 0, (2, 2): 1},
        (1, 0): {(1, 0): 0x01, (2, 2): 0x11},
    }
    eoi = good.rfind(b"\xff\xd9")
    trailing = good[:eoi] + _dht_bytes(junk) + good[eoi:]
    got = decode_jpeg_progressive(trailing)
    assert got == want

    # Variant 2 (libjpeg shape): rewrite so EVERY scan uses table id 0
    # for both classes, with a DHT immediately before each SOS carrying
    # that scan's real tables.  Ids are redefined at every scan; decode
    # must still be exact.
    tables = {}
    out = bytearray()
    for m, seg in _pjpeg_segments(good):
        if m == 0xC4:
            data = seg[4:]
            p = 0
            while p < len(data):
                cls, tid = data[p] >> 4, data[p] & 0xF
                counts = list(data[p + 1 : p + 17])
                nsym = sum(counts)
                syms = list(data[p + 17 : p + 17 + nsym])
                table, code, k = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = syms[k]
                        code += 1
                        k += 1
                    code <<= 1
                tables[(cls, tid)] = table
                p += 17 + nsym
            continue  # drop the original DHT segments
        if m == 0xDA:
            (seglen,) = struct.unpack_from(">H", seg, 2)
            hdr = bytearray(seg[: 2 + seglen])
            ns = hdr[4]
            scan_tabs = {}
            for i in range(ns):
                ids = hdr[6 + 2 * i]
                dct, act = ids >> 4, ids & 0xF
                if (0, dct) in tables:
                    scan_tabs[(0, 0)] = tables[(0, dct)]
                if (1, act) in tables:
                    scan_tabs[(1, 0)] = tables[(1, act)]
                hdr[6 + 2 * i] = 0x00  # rewrite both ids to 0
            out += _dht_bytes(scan_tabs) + bytes(hdr) + seg[2 + seglen :]
            continue
        out += seg
    got2 = decode_jpeg_progressive(bytes(out))
    assert got2 == want


def test_flac_unknown_total_samples_decodes_to_eof():
    """STREAMINFO total_samples == 0 legally means 'unknown' (RFC 9639):
    the decoder must decode frames to end-of-payload, not return a
    successful empty decode (r8 ADVICE)."""
    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_flac_real,
        encode_flac_subset,
    )

    samples = [list(range(-100, 100)) * 3]
    good = encode_flac_subset(16000, samples)
    want = decode_flac_real(good)
    assert want["n_samples"] == 600

    # zero the 36-bit total_samples field (last 4 bits of STREAMINFO
    # byte 13 + bytes 14-17; STREAMINFO body starts at offset 8)
    unk = bytearray(good)
    unk[8 + 13] &= 0xF0
    unk[8 + 14 : 8 + 18] = b"\x00\x00\x00\x00"
    got = decode_flac_real(bytes(unk))
    assert got["n_samples"] == want["n_samples"]
    assert got["sample_sum"] == want["sample_sum"]
    assert got["energy"] == want["energy"]


def _rand_img(rng, w, h, ncol=None):
    if ncol:
        cols = [
            (rng.integers(0, 256), rng.integers(0, 256), rng.integers(0, 256))
            for _ in range(ncol)
        ]
        return [
            [cols[int(rng.integers(0, ncol))] for _ in range(w)]
            for _ in range(h)
        ]
    return [
        [
            (
                int(rng.integers(0, 256)),
                int(rng.integers(0, 256)),
                int(rng.integers(0, 256)),
            )
            for _ in range(w)
        ]
        for _ in range(h)
    ]


def _img_sums(px):
    return (
        sum(int(p[0]) for r in px for p in r),
        sum(int(p[1]) for r in px for p in r),
        sum(int(p[2]) for r in px for p in r),
    )


def test_vp8l_roundtrip_every_bitstream_feature():
    """Each encoder knob turns on one VP8L decoder path; lossless =>
    exact channel sums for every combination, including the full combo
    (subtract-green + cross-color + per-tile predictors + color cache
    + LZ77 + two-group meta prefix split)."""
    import numpy as np

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_webp_real,
        encode_webp_lossless,
    )

    rng = np.random.default_rng(42)
    cases = [
        (_rand_img(rng, 1, 1), {}),
        (_rand_img(rng, 13, 9), {}),
        (_rand_img(rng, 16, 16), {"subtract_green": True}),
        (_rand_img(rng, 10, 10, 5), {"cache_bits": 4}),
        (
            [[(i % 3 * 10, 20, 30) for i in range(24)] for _ in range(6)],
            {"lz77": True},
        ),
        # palette sizes straddling every bundling width (8/4/2/1 px per
        # byte) including non-multiple image widths
        (_rand_img(rng, 17, 5, 2), {"palette": True}),
        (_rand_img(rng, 17, 5, 4), {"palette": True}),
        (_rand_img(rng, 17, 5, 13), {"palette": True}),
        (_rand_img(rng, 30, 20, 200), {"palette": True}),
        (_rand_img(rng, 21, 17), {"predictor": "mixed"}),
        (_rand_img(rng, 12, 11), {"cross_color": (34, 200, 17)}),
        (_rand_img(rng, 22, 9), {"meta_split": True}),
        (
            _rand_img(rng, 25, 19),
            {
                "subtract_green": True,
                "cross_color": (5, 250, 100),
                "predictor": "mixed",
                "cache_bits": 3,
                "lz77": True,
                "meta_split": True,
            },
        ),
    ]
    # every single predictor mode, on images big enough to hit the
    # interior + all three edge rules and the TR-wraps-to-row-start case
    for mode in range(14):
        cases.append((_rand_img(rng, 9, 7), {"predictor": mode}))
    for px, kw in cases:
        m = decode_webp_real(encode_webp_lossless(px, **kw))
        assert (m["sum_r"], m["sum_g"], m["sum_b"]) == _img_sums(px), kw
        assert (m["fmt"], m["width"], m["height"]) == (
            "webp-lossless",
            len(px[0]),
            len(px),
        ), kw


def test_vp8l_known_answer_handmade_stream():
    """A VP8L stream assembled BIT BY BIT in this test (independent of
    the encoder, so a self-consistent encoder/decoder inversion cannot
    hide): 2x1 image, simple prefix codes, two green symbols.  Pins the
    LSB-first packing, the 14-bit dimension fields, simple-code
    parsing, and canonical code assignment (smaller symbol -> code 0)."""
    import struct

    from mincemeatpy_spark.multimodal.binary_ops import decode_webp_real

    out = bytearray()
    acc = [0, 0]

    def put(v, n):
        acc[0] |= (v & ((1 << n) - 1)) << acc[1]
        acc[1] += n
        while acc[1] >= 8:
            out.append(acc[0] & 0xFF)
            acc[0] >>= 8
            acc[1] -= 8

    put(0x2F, 8)          # signature
    put(1, 14)            # width-1 = 1
    put(0, 14)            # height-1 = 0
    put(0, 1)             # alpha hint
    put(0, 3)             # version
    put(0, 1)             # no transforms
    put(0, 1)             # no color cache
    put(0, 1)             # no meta prefix
    # green: simple, 2 symbols (5, 9), 8-bit first
    put(1, 1); put(1, 1); put(1, 1); put(5, 8); put(9, 8)
    # red: simple, 1 symbol 77 (8-bit)
    put(1, 1); put(0, 1); put(1, 1); put(77, 8)
    # blue: simple, 1 symbol 33
    put(1, 1); put(0, 1); put(1, 1); put(33, 8)
    # alpha: simple, 1 symbol 255
    put(1, 1); put(0, 1); put(1, 1); put(255, 8)
    # distance: simple, 1 symbol 0 (1-bit form)
    put(1, 1); put(0, 1); put(0, 1); put(0, 1)
    # pixel 0: green bit 0 -> symbol 5; pixel 1: bit 1 -> symbol 9
    put(0, 1)
    put(1, 1)
    if acc[1]:
        out.append(acc[0] & 0xFF)

    payload = bytes(out)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    stream = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    m = decode_webp_real(stream)
    assert (m["width"], m["height"]) == (2, 1)
    assert m["sum_r"] == 77 * 2
    assert m["sum_g"] == 5 + 9
    assert m["sum_b"] == 33 * 2


def test_vp8l_error_paths():
    import pytest

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_webp_real,
        encode_webp_lossless,
    )

    good = encode_webp_lossless([[(1, 2, 3), (4, 5, 6)]])
    with pytest.raises(ValueError):
        decode_webp_real(b"RUFF" + good[4:])
    with pytest.raises(ValueError):
        decode_webp_real(good[:20])  # truncated mid-bitstream
    # lossy VP8 (and VP8X headers) decode for real since r10: a
    # 4-byte chunk is malformed (too short), not unsupported
    with pytest.raises(ValueError):
        decode_webp_real(
            b"RIFF\x14\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd"
        )
    with pytest.raises(ValueError):
        decode_webp_real(
            b"RIFF\x14\x00\x00\x00WEBPVP8X\x04\x00\x00\x00abcd"
        )
    # bad signature byte inside the VP8L chunk
    bad = bytearray(good)
    bad[20] ^= 0xFF
    with pytest.raises(ValueError):
        decode_webp_real(bytes(bad))
    with pytest.raises(ValueError):
        encode_webp_lossless([[(1, 2, 3)] * 20000])  # width > 16384


def test_vp8l_dispatches_through_decode_image_real():
    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_image_real,
        encode_webp_lossless,
    )

    px = [[(9, 8, 7), (1, 2, 3)], [(200, 100, 50), (0, 0, 0)]]
    m = decode_image_real(encode_webp_lossless(px, palette=True))
    assert m["fmt"] == "webp-lossless" and m["width"] == 2
    assert (m["sum_r"], m["sum_g"], m["sum_b"]) == _img_sums(px)


def test_resize_bilinear_integer_kernel():
    """The Q8 fixed-point bilinear kernel (multimodal_resize_real):
    identity at same size, exact corner averaging on a 2x2 -> 1x1
    collapse, single-pixel upscale replication, and the SQL-oracle
    arithmetic recomputed per output pixel."""
    import numpy as np

    from mincemeatpy_spark.multimodal.binary_ops import _resize_bilinear_u8

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (6, 9, 3)).astype(np.uint8)
    # identity: px = ((2ox+1)*w*128)//w - 128 = 256*ox exactly
    assert (_resize_bilinear_u8(img, 9, 6) == img).all()
    # 2x2 -> 1x1: center sample = average of the four with +32768 round
    sq = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    out = _resize_bilinear_u8(sq, 1, 1)
    expect = (sq.astype(int).sum(axis=(0, 1)) * 128 * 128 + 32768) >> 16
    assert (out[0, 0] == expect).all()
    # 1x1 -> 3x3: pure replication
    one = np.full((1, 1, 3), 200, np.uint8)
    assert (_resize_bilinear_u8(one, 3, 3) == 200).all()
    # arbitrary resize matches a scalar recompute of the oracle math
    w, h, ow, oh = 9, 6, 4, 7
    out = _resize_bilinear_u8(img, ow, oh)
    for oy in range(oh):
        for ox in range(ow):
            px = max(((2 * ox + 1) * w * 128) // ow - 128, 0)
            py = max(((2 * oy + 1) * h * 128) // oh - 128, 0)
            x0, fx = px // 256, px % 256
            y0, fy = py // 256, py % 256
            x1, y1 = min(x0 + 1, w - 1), min(y0 + 1, h - 1)
            for c in range(3):
                v = (
                    int(img[y0, x0, c]) * (256 - fx) * (256 - fy)
                    + int(img[y0, x1, c]) * fx * (256 - fy)
                    + int(img[y1, x0, c]) * (256 - fx) * fy
                    + int(img[y1, x1, c]) * fx * fy
                    + 32768
                ) >> 16
                assert out[oy, ox, c] == v


# ------------------------------------------------------------- r10: anim GIF

from mincemeatpy_spark.multimodal.binary_ops import (  # noqa: E402
    decode_gif_anim,
    encode_gif_anim,
)


def _anim_pal(seed):
    return [
        ((seed + i * 29) % 256, (seed + i * 29 + 85) % 256,
         (seed + i * 29 + 170) % 256)
        for i in range(8)
    ]


def test_gif_anim_disposal_semantics_exact():
    """Disposal 1/2/3 + transparency + sub-rects + a local table,
    matched against an independent compositing reference."""
    w, h = 11, 9
    G = _anim_pal(17)
    L = _anim_pal(201)
    frames = [
        dict(x=0, y=0, w=w, h=h, index_at=lambda u, v: (u + v) % 7 + 1,
             disposal=1, transparent_idx=None, palette=None),
        dict(x=2, y=2, w=w - 4, h=h - 4,
             index_at=lambda u, v: (2 * u + v) % 8,
             disposal=2, transparent_idx=3, palette=None),
        dict(x=1, y=1, w=w // 2, h=h // 2,
             index_at=lambda u, v: (u + 3 * v) % 8,
             disposal=3, transparent_idx=None, palette=None),
        dict(x=0, y=0, w=w, h=2, index_at=lambda u, v: (5 * u + v) % 8,
             disposal=1, transparent_idx=6, palette=L),
    ]
    m = decode_gif_anim(encode_gif_anim(w, h, G, frames, bg_index=0))
    assert (m["fmt"], m["n_frames"]) == ("gif-anim", 4)

    C = [[G[(x + y) % 7 + 1] for x in range(w)] for y in range(h)]
    states = [[r[:] for r in C]]
    C1 = [r[:] for r in C]
    for v in range(h - 4):
        for u in range(w - 4):
            i = (2 * u + v) % 8
            if i != 3:
                C1[v + 2][u + 2] = G[i]
    states.append([r[:] for r in C1])
    D1 = [r[:] for r in C1]
    for v in range(h - 4):
        for u in range(w - 4):
            D1[v + 2][u + 2] = G[0]
    C2 = [r[:] for r in D1]
    for v in range(h // 2):
        for u in range(w // 2):
            C2[v + 1][u + 1] = G[(u + 3 * v) % 8]
    states.append(C2)
    C3 = [r[:] for r in D1]
    for v in range(2):
        for u in range(w):
            i = (5 * u + v) % 8
            if i != 6:
                C3[v][u] = L[i]
    states.append(C3)
    for k, S in enumerate(states):
        sums = tuple(
            sum(S[y][x][c] for y in range(h) for x in range(w))
            for c in range(3)
        )
        assert m["frames"][k] == sums, k


def test_gif_anim_fully_transparent_frame_keeps_canvas():
    G = _anim_pal(3)
    frames = [
        dict(x=0, y=0, w=4, h=4, index_at=lambda u, v: 5, disposal=1,
             transparent_idx=None, palette=None),
        dict(x=0, y=0, w=4, h=4, index_at=lambda u, v: 2, disposal=1,
             transparent_idx=2, palette=None),  # every pixel transparent
    ]
    m = decode_gif_anim(encode_gif_anim(4, 4, G, frames))
    assert m["frames"][0] == m["frames"][1]


def test_gif_anim_malformed():
    import pytest

    G = _anim_pal(3)
    frames = [dict(x=0, y=0, w=4, h=4, index_at=lambda u, v: 1,
                   disposal=0, transparent_idx=None, palette=None)]
    good = bytearray(encode_gif_anim(4, 4, G, frames))
    # frame rect exceeding the logical screen
    bad = bytearray(good)
    at = bad.index(b"\x2c")
    bad[at + 5 : at + 7] = b"\x09\x00"  # frame width 9 > screen 4
    with pytest.raises(ValueError, match="exceeds"):
        decode_gif_anim(bytes(bad))
    # truncated GCE
    at = good.index(b"\x21\xf9")
    with pytest.raises(ValueError):
        decode_gif_anim(bytes(good[: at + 3]))
    # no frames at all
    with pytest.raises(ValueError, match="no image data"):
        decode_gif_anim(bytes(good[:13]) + good[13 : 13 + 3 * 8] + b"\x3b")


def test_gif_anim_single_frame_matches_single_decoder():
    # a one-frame animation composites to exactly what the
    # single-frame decoder reads
    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_gif_real,
        encode_gif_indexed,
    )

    G = _anim_pal(9)
    single = encode_gif_indexed(6, 5, G, lambda x, y: (x * 3 + y) % 8)
    anim = encode_gif_anim(
        6, 5, G,
        [dict(x=0, y=0, w=6, h=5, index_at=lambda u, v: (u * 3 + v) % 8,
              disposal=0, transparent_idx=None, palette=None)],
    )
    a = decode_gif_real(single)
    b = decode_gif_anim(anim)
    assert (a["sum_r"], a["sum_g"], a["sum_b"]) == b["frames"][0]


# ------------------------------------------- malformed-input sweep


def _sweep_streams():
    """Eleven encode/decode pairs, each as (decoder, good stream): JPEG
    and GIF, and the RIFF family (WAVE, AVI, the WebP flavours)."""
    from functools import partial

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_gif_real,
        decode_jpeg_progressive,
        decode_jpeg_real,
        decode_webp_anim,
        decode_webp_extended,
        decode_webp_real,
        encode_avi_mjpeg,
        encode_gif_indexed,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
        encode_webp_extended,
        encode_webp_lossless,
    )
    from mincemeatpy_spark.multimodal.vp8 import encode_webp_lossy

    x = np.arange(16)[None, :]
    y = np.arange(24)[:, None]
    rgb = np.stack(
        [(x * 7 + y * 3) % 256, (x * 5 + y * 11) % 256, (x * 13 + y) % 256],
        axis=-1,
    ).astype(np.uint8)
    pal = _anim_pal(5)
    frames = [
        dict(x=0, y=0, w=16, h=24, index_at=lambda u, v: (u + v) % 7 + 1,
             disposal=1, transparent_idx=None, palette=None),
        dict(x=2, y=2, w=8, h=8, index_at=lambda u, v: (2 * u + v) % 8,
             disposal=2, transparent_idx=3, palette=None),
        dict(x=0, y=0, w=16, h=2, index_at=lambda u, v: (5 * u + v) % 8,
             disposal=3, transparent_idx=None, palette=_anim_pal(77)),
    ]
    return {
        "jpeg_baseline": (decode_jpeg_real, encode_jpeg_baseline(rgb)),
        "jpeg_progressive": (
            decode_jpeg_progressive,
            encode_jpeg_progressive(rgb),
        ),
        "gif_interlaced": (
            decode_gif_real,
            encode_gif_indexed(
                16, 24, pal, lambda u, v: (u * 3 + v * 5) % 8, interlace=True
            ),
        ),
        "gif_anim": (
            decode_gif_anim,
            encode_gif_anim(16, 24, pal, frames, bg_index=2),
        ),
        "wav_list": (
            decode_audio_real,
            _wav(2, 8000, list(range(-40, 40, 3)), extra_chunk=True),
        ),
        "avi_dib": (decode_avi_real, encode_avi_dib(4, 3, 3, _vpx)),
        "avi_mjpeg": (
            decode_avi_real,
            encode_avi_mjpeg(8, 8, 2, lambda f: rgb[f : f + 8, :8]),
        ),
        "webp_lossless": (
            decode_webp_real,
            encode_webp_lossless(
                [[tuple(int(c) for c in rgb[v, u]) for u in range(8)]
                 for v in range(6)],
                subtract_green=True, predictor="mixed", cache_bits=3,
                lz77=True,
            ),
        ),
        "webp_lossy": (
            partial(decode_webp_real, placeholder_vp8_ok=True),
            encode_webp_lossy(*_yuva(16, 16)[:3]),
        ),
        "vp8x_alpha": (
            partial(decode_webp_extended, placeholder_vp8_ok=True),
            encode_webp_extended(*_yuva(16, 16), alpha_filter=1),
        ),
        "webp_anim": (decode_webp_anim, _webp_anim_stream(8, 8)),
    }


def _yuva(w, h):
    """Deterministic Y, U, V (4:2:0) and alpha planes."""
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    cx = np.arange((w + 1) // 2)[None, :]
    cy = np.arange((h + 1) // 2)[:, None]
    return (
        ((x * 7 + y * 13) % 200 + 28).astype(np.uint8),
        ((cx * 5 + cy * 3) % 64 + 96).astype(np.uint8),
        ((cx * 3 + cy * 5) % 64 + 96).astype(np.uint8),
        ((x * 3 + y * 7) % 256).astype(np.uint8),
    )


def _webp_anim_stream(w, h):
    """Three frames: overwrite, alpha blend with dispose, sub-rect."""
    from mincemeatpy_spark.multimodal.binary_ops import encode_webp_anim

    def rgba(i, a=255):
        return ((i * 37) % 256, (i * 37 + 85) % 256, (i * 37 + 170) % 256, a)

    return encode_webp_anim(w, h, rgba(11, 200), [
        dict(x=0, y=0, blend=False, dispose=False,
             pixels=[[rgba((u + v) % 7) for u in range(w)]
                     for v in range(h)]),
        dict(x=2, y=2, blend=True, dispose=True,
             pixels=[[rgba(u + 2 * v, (u * 90 + v * 40) % 256)
                      for u in range(w - 4)] for v in range(h - 4)]),
        dict(x=4, y=2, blend=False, dispose=False,
             pixels=[[rgba(3 * u + v) for u in range(w // 2)]
                     for v in range(h // 2)]),
    ])


_SWEEP_CASES = [
    "jpeg_baseline", "jpeg_progressive", "gif_interlaced", "gif_anim",
    "wav_list", "avi_dib", "avi_mjpeg", "webp_lossless", "webp_lossy",
    "vp8x_alpha", "webp_anim",
]


@pytest.mark.parametrize("case", _SWEEP_CASES)
def test_malformed_streams_raise_only_valueerror(case):
    """Every prefix of a good stream and 1,000 seeded 1-3 byte
    overwrites of it: each decode returns, or raises ValueError
    (structural damage) or NotImplementedError (an honest gate) —
    never IndexError/KeyError from reading past a short segment."""
    import random

    decode, good = _sweep_streams()[case]
    rng = random.Random(1)
    inputs = [good[:i] for i in range(len(good))]
    for _ in range(1000):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 3)):
            bad[rng.randrange(len(bad))] = rng.randrange(256)
        inputs.append(bytes(bad))
    escapes = []
    for i, b in enumerate(inputs):
        try:
            decode(b)
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001 - the sweep's subject
            escapes.append((i, type(e).__name__, str(e)))
    assert not escapes, (len(escapes), escapes[:5])


def test_oversized_frame_headers_fail_before_allocating():
    """A corrupt size field must not make a decoder allocate for the
    claimed frame: the JPEG decoders size their coefficient storage by
    the entropy data, and an animated GIF or WebP refuses a canvas over
    2^24 pixels (a 65535 x 65535 screen is a 4-gigapixel list)."""
    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_jpeg_progressive,
        decode_jpeg_real,
        decode_webp_anim,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    huge = struct.pack(">HH", 65535, 65535)
    for decode, good, sof in (
        (decode_jpeg_real, encode_jpeg_baseline(_gradient_rgb(16, 8)),
         b"\xff\xc0"),
        (decode_jpeg_progressive,
         encode_jpeg_progressive(_gradient_rgb(16, 8)), b"\xff\xc2"),
    ):
        at = good.index(sof) + 5  # marker, length, precision
        with pytest.raises(ValueError):
            decode(good[:at] + huge + good[at + 4 :])

    frames = [dict(x=0, y=0, w=4, h=4, index_at=lambda u, v: 1, disposal=0,
                   transparent_idx=None, palette=None)]
    good = encode_gif_anim(4, 4, _anim_pal(3), frames)
    with pytest.raises(NotImplementedError, match="canvas"):
        decode_gif_anim(good[:6] + b"\xff\xff\xff\xff" + good[10:])

    good = _webp_anim_stream(8, 8)
    at = good.index(b"VP8X") + 8 + 4  # flags(4), then two 24-bit dims
    with pytest.raises(NotImplementedError, match="canvas"):
        decode_webp_anim(good[:at] + b"\xff" * 6 + good[at + 6 :])


def test_anim_canvas_at_the_cap_costs_its_frames():
    """A 4096 x 4096 canvas (2^24 pixels, the cap) with a few small
    frames decodes to exact sums without allocating for the screen:
    untouched pixels read as the background, and disposal puts back
    only the frame's rectangle."""
    import tracemalloc

    from mincemeatpy_spark.multimodal.binary_ops import (
        decode_webp_anim,
        encode_webp_anim,
    )

    side = 4096
    n = side * side

    def peak_of(decode, payload):
        tracemalloc.start()
        try:
            m = decode(payload)
            return m, tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    G = _anim_pal(3)
    gif = encode_gif_anim(side, side, G, [
        dict(x=100, y=200, w=4, h=4, index_at=lambda u, v: (u + v) % 8,
             disposal=2, transparent_idx=3, palette=None),
        dict(x=side - 2, y=side - 2, w=2, h=2,
             index_at=lambda u, v: u + 2 * v + 4,
             disposal=3, transparent_idx=None, palette=None),
    ], bg_index=0)
    m, peak = peak_of(decode_gif_anim, gif)

    def gif_sums(drawn):
        # every pixel the background G[0], then each drawn index swaps in
        return tuple(
            n * G[0][c] + sum(G[i][c] - G[0][c] for i in drawn)
            for c in range(3)
        )

    first = [(u + v) % 8 for v in range(4) for u in range(4)]
    assert m["frames"] == [
        gif_sums([i for i in first if i != 3]),  # index 3 is transparent
        gif_sums([4, 5, 6, 7]),  # frame 0's rectangle was disposed
    ]
    assert peak < 1 << 20, peak

    bg = (30, 60, 90, 120)
    src = [[(u * 50, v * 60, 200, (u * 85 + v * 60) % 256) for u in range(4)]
           for v in range(4)]
    webp = encode_webp_anim(side, side, bg, [
        dict(x=2, y=4, blend=True, dispose=True, pixels=src),
    ])
    m, peak = peak_of(decode_webp_anim, webp)

    def over(s):
        # the over-operator onto the background, in exact integers
        sa, da = s[3], bg[3]
        if sa in (0, 255):
            return s if sa else bg
        a_num = 255 * sa + da * (255 - sa)
        return tuple(
            (255 * s[c] * sa + bg[c] * da * (255 - sa)) // a_num
            for c in range(3)
        ) + (a_num // 255,)

    blended = [over(s) for row in src for s in row]
    assert m["frames"] == [
        tuple(n * bg[c] + sum(p[c] - bg[c] for p in blended) for c in range(4))
    ]
    assert peak < 1 << 20, peak


# ------------------------------------------- RIFF writers' bytes, pinned


def _riff_writer_outputs():
    """Every RIFF writer on fixed inputs, keyed by case name."""
    from mincemeatpy_spark.multimodal.binary_ops import (
        encode_avi_mjpeg,
        encode_webp_extended,
        encode_webp_lossless,
    )
    from mincemeatpy_spark.multimodal.vp8 import encode_webp_lossy

    rows = [
        [((x % 5) * 7 + y * 11, (x % 5) * 13 + y * 17, x * 19 % 256)
         for x in range(11)]
        for y in range(6)
    ]
    # multimodal_decode_webp_real's five feature sets
    modes = [
        {},
        {"subtract_green": True, "predictor": "mixed"},
        {"palette": True},
        {"cache_bits": 4, "lz77": True},
        {"subtract_green": True, "cross_color": (17, 203, 87),
         "predictor": "mixed", "cache_bits": 3, "lz77": True,
         "meta_split": True},
    ]
    out = {
        "avi_dib": encode_avi_dib(5, 3, 4, _vpx),
        "avi_mjpeg": encode_avi_mjpeg(
            16, 8, 2, lambda f: _gradient_rgb(16, 8, seed=4 * f + 1)
        ),
        "webp_lossy": encode_webp_lossy(*_yuva(20, 12)[:3], mode_seed=5),
        "webp_anim": _webp_anim_stream(12, 10),
    }
    for k, kw in enumerate(modes):
        out[f"webp_lossless_{k}"] = encode_webp_lossless(rows, **kw)
    for comp in (0, 1):
        out[f"vp8x_alpha_c{comp}"] = encode_webp_extended(
            *_yuva(16, 12), alpha_filter=2, alpha_compression=comp
        )
    return out


_RIFF_WRITER_SHA256 = {
    "avi_dib": "1daa5642bff854f1c5b349f312094d75c34215315d5e7f3bb9ad273e50004f99",
    "avi_mjpeg": "7c63566d10936aabcad9d874f775d504d50d6342e58a2e0f14d61841e6280110",
    "vp8x_alpha_c0": "3b4c5f3601d9cf987a3ea28d349a106b5aab29b6fe2f3360b5574c072062110d",
    "vp8x_alpha_c1": "91b27381424bc099868ca5cb6fc5b63e2ee157a672aedfcfca3a8681379d3ff1",
    "webp_anim": "eb86ce6649badee04516a59ed9a55ee208e3aca1ef7188436bacc89cbcf9a6c5",
    "webp_lossless_0": "de075430191592dbc8382aa8bdc28386d37d123e2294765eeddb3eeb73be6cbb",
    "webp_lossless_1": "f950b539ffbfab64ceb9f689ade658177ed99cb63da3186b9ff8613aadf195f4",
    "webp_lossless_2": "e230727b895a5a420a9d2d9fcca2b76d34f854ec6387e35fd39d683a62bcfd93",
    "webp_lossless_3": "23bae27f75f21f53341932895fc7aac84f9ab4b67abed2adb5f4bc68b92ff9ff",
    "webp_lossless_4": "4e3a77992bdb2e4096d953138c72a528c881923899b85f3239dccee9e8af1078",
    "webp_lossy": "af5480c1c756969920e77c657c0e18b721101474714d0fc38a1e729d31671747",
}


@pytest.mark.parametrize("case", sorted(_RIFF_WRITER_SHA256))
def test_riff_writers_bytes_pinned(case):
    """The container writers' bytes are pinned by digest: a change to
    the chunk framing, the pad byte or a header field shows here even
    where the matching decoder would still read the stream back."""
    import hashlib

    got = hashlib.sha256(_riff_writer_outputs()[case]).hexdigest()
    assert got == _RIFF_WRITER_SHA256[case]


# ------------------------------------------- round-trip harness contract


@pytest.mark.parametrize("shape", ["carry", "bytes"])
def test_codec_roundtrip_harness_contract(spark, shape):
    """_codec_roundtrip's per-row contract on a small frame: an empty
    input partition, a decode that emits 0, 1 or 3 rows per document,
    and an encode that returns either a tuple carrying truth values past
    the payload or the payload bytes alone.  The decode sees the payload
    as ``bytes`` and the carried values unchanged; the output keeps the
    declared schema and names."""
    from pyspark.sql.types import StructType

    from mincemeatpy_spark.multimodal.roundtrip import _codec_roundtrip

    # doc_ids 1..5 in 6 slices: slice 0 is empty
    rdd = spark.sparkContext.parallelize(
        [(d, "ab" * d) for d in range(1, 6)], 6
    )
    assert rdd.glom().map(len).collect() == [0, 1, 1, 1, 1, 1]
    src = spark.createDataFrame(rdd, "doc_id long, tag string")

    def encode_row(doc_id, tag):
        if shape == "bytes":
            return tag.encode()
        return tag.encode(), doc_id * 10, f"t{doc_id}"

    def decode_row(doc_id, payload, true_n=None, true_s=None):
        return [
            {"i": i, "kind": type(payload).__name__,
             "text": payload.decode(), "truth": true_n, "label": true_s}
            for i in range((0, 1, 3)[doc_id % 3])
        ]

    schema = "doc_id long, i int, kind string, text string, truth long, label string"
    df = _codec_roundtrip(src, encode_row, decode_row, schema)
    assert df.schema == StructType.fromDDL(schema)

    def truths(d):
        return (d * 10, f"t{d}") if shape == "carry" else (None, None)

    text = {d: "ab" * d for d in range(1, 6)}
    assert sorted(map(tuple, df.collect())) == [
        (d, i, "bytes", text[d], *truths(d))
        for d, n in [(1, 1), (2, 3), (4, 1), (5, 3)]
        for i in range(n)
    ]
