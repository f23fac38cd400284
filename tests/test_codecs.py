"""Pure-stdlib PNG/WAV codecs (functions/codecs.py): round-trips, an
independent from-the-spec unfilter twin over random filter sequences, error
paths, and the Spark mapInPandas wiring in operators/multimodal.py."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from article_extraction_spark.functions.codecs import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)


def _png_from_scanlines(width, height, color, scanlines: bytes) -> bytes:
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def _reference_unfilter(raw_rows, ftypes, stride, bpp):
    """Slow, straight-from-RFC-2083 per-byte unfilter — the independent
    twin the vectorized decoder must match."""
    out = []
    prev = [0] * stride
    for row_bytes, ft in zip(raw_rows, ftypes):
        cur = list(row_bytes)
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                rec = cur[x]
            elif ft == 1:
                rec = cur[x] + a
            elif ft == 2:
                rec = cur[x] + b
            elif ft == 3:
                rec = cur[x] + ((a + b) >> 1)
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec = cur[x] + pred
            cur[x] = rec & 0xFF
        out.append(cur)
        prev = cur
    return out


def test_png_roundtrip_random_rgb():
    rng = np.random.default_rng(3)
    for h, w in [(1, 1), (7, 5), (32, 17)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)


def test_png_all_filter_types_match_spec_reference():
    rng = np.random.default_rng(11)
    w, h, channels = 9, 20, 3
    stride = w * channels
    ftypes = [rng.integers(0, 5) for _ in range(h)]
    raw_rows = [bytes(rng.integers(0, 256, size=stride, dtype=np.uint8)) for _ in range(h)]
    scanlines = b"".join(bytes([ft]) + row for ft, row in zip(ftypes, raw_rows))
    got = decode_png(_png_from_scanlines(w, h, 2, scanlines))
    ref = np.array(_reference_unfilter(raw_rows, ftypes, stride, channels), dtype=np.uint8)
    assert np.array_equal(got, ref.reshape(h, w, channels))


def test_png_gray_and_rgba_normalize_to_rgb():
    rng = np.random.default_rng(5)
    w, h = 6, 4
    gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    scan = b"".join(b"\x00" + gray[y].tobytes() for y in range(h))
    img = decode_png(_png_from_scanlines(w, h, 0, scan))
    assert img.shape == (h, w, 3)
    assert np.array_equal(img[:, :, 0], gray) and np.array_equal(img[:, :, 2], gray)

    rgba = rng.integers(0, 256, size=(h, w, 4), dtype=np.uint8)
    scan = b"".join(b"\x00" + rgba[y].tobytes() for y in range(h))
    img = decode_png(_png_from_scanlines(w, h, 6, scan))
    assert np.array_equal(img, rgba[:, :, :3])  # alpha dropped


def test_png_palette_type3():
    """Depth-8 palette PNGs (common on the web) decode via PLTE lookup."""
    import zlib as _z

    rng = np.random.default_rng(31)
    w, h, ncolors = 9, 6, 5
    pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
    idx = rng.integers(0, ncolors, size=(h, w), dtype=np.uint8)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    scan = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", pal.tobytes()) + chunk(b"IDAT", _z.compress(scan))
           + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), pal[idx])

    # out-of-range index must error, not wrap
    bad_scan = b"".join(b"\x00" + np.full(w, ncolors + 3, np.uint8).tobytes() for _ in range(h))
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", pal.tobytes()) + chunk(b"IDAT", _z.compress(bad_scan))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="out of range"):
        decode_png(bad)


def test_png_error_paths():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_png(img)
    # flip bit depth to 16 inside IHDR (offset: 8 sig + 8 hdr + 8 w/h)
    bad_depth = bytearray(good)
    bad_depth[24] = 16
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(bytes(bad_depth))
    bad_interlace = bytearray(good)
    bad_interlace[28] = 1
    with pytest.raises(ValueError, match="interlaced"):
        decode_png(bytes(bad_interlace))
    with pytest.raises(Exception):
        decode_png(good[:40])  # truncated


def test_wav_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(7)
    mono = rng.uniform(-1, 1, size=300)
    got, rate = decode_wav(encode_wav(mono, rate=8000))
    assert rate == 8000 and got.shape == (300, 1)
    assert np.allclose(got[:, 0], mono, atol=5e-5)
    stereo = rng.uniform(-1, 1, size=(200, 2))
    got, rate = decode_wav(encode_wav(stereo, rate=44100))
    assert rate == 44100 and got.shape == (200, 2)
    assert np.allclose(got, stereo, atol=5e-5)


def test_wav_8bit_and_garbage():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(bytes([0, 128, 255]))
    got, rate = decode_wav(buf.getvalue())
    assert got.shape == (3, 1)
    assert got[1, 0] == 0.0 and got[0, 0] == -1.0 and got[2, 0] < 1.0
    with pytest.raises(Exception):
        decode_wav(b"RIFFgarbage")


def test_spark_png_wav_media_features(spark):
    """The compressed-codec branch through the real mapInPandas operators:
    PNG rows decode (channel means match the source pixels), WAV rows get
    RMS/peak, junk rows surface decode_error or the digest feature instead
    of failing the task."""
    from article_extraction_spark.operators.multimodal import (
        extract_media_features_arrow,
        image_pixel_features,
    )

    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(10, 8, 3), dtype=np.uint8)
    png = encode_png(img)
    tone = np.sin(np.arange(800) / 10.0) * 0.5
    wav = encode_wav(tone, rate=16000)
    rows = [
        (1, "image", bytearray(png), "image/png", None, None, None),
        (2, "image", bytearray(b"\x89PNG but junk"), "image/png", None, None, None),
        (3, "audio", bytearray(wav), "audio/wav", None, None, 50),
        (4, "audio", bytearray(b"RIFF junk"), "audio/wav", None, None, 50),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    imgs = {r["media_id"]: r for r in image_pixel_features(media).collect()}
    assert imgs[1]["decode_error"] is None
    expected_mean = img.reshape(-1, 3).mean(axis=0) / 255.0
    assert np.allclose(imgs[1]["channel_mean"], expected_mean, atol=1e-9)
    assert len(imgs[1]["thumb"]) == 8 * 8 * 3
    assert imgs[2]["decode_error"] is not None and imgs[2]["channel_mean"] is None

    auds = {r["media_id"]: r for r in extract_media_features_arrow(media).collect()}
    assert auds[3]["feature_src"] == "audio"
    # 16-bit quantization: match direct numpy stats on the quantized signal
    # (the feature vector is float32)
    q = np.round(tone * 32767.0) / 32768.0
    rms, peak = auds[3]["feature"][:2]
    assert abs(rms - float(np.sqrt((q**2).mean()))) < 1e-6
    assert abs(peak - float(np.abs(q).max())) < 1e-6
    assert abs(auds[3]["feature"][5] - np.log1p(800) / 20.0) < 1e-6  # 800 samples
    assert auds[4]["feature_src"] == "digest"


def test_jpeg_roundtrip_and_structure():
    """Encoder↔decoder round trip at quant=1: solid colors exact, random
    pixels within the DCT/YCbCr float-rounding bound (±3)."""
    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    solid = np.full((8, 8, 3), 128, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(solid)), solid)
    color = np.zeros((16, 24, 3), dtype=np.uint8)
    color[:, :, 0], color[:, :, 2] = 200, 60
    assert np.array_equal(decode_jpeg(encode_jpeg(color)), color)
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(24, 33, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img))
    assert out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3


def test_jpeg_hand_assembled_dc_only_fixture():
    """Decoder pinned against SPEC math, independent of the encoder: a
    hand-assembled grayscale 8×8 solid JPEG. Pixel value 130 ⇒ DC = 8·(130
    −128) = 16 (category 5, bits 10000); Annex-K luma DC code for cat 5 is
    '110', AC EOB is '1010' — entropy bytes 0xD0AF (padded with 1s)."""
    from article_extraction_spark.functions.codecs import (
        _STD_AC_LUMA_BITS,
        _STD_AC_LUMA_VALS,
        _STD_DC_LUMA,
        decode_jpeg,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dqt = seg(0xDB, bytes([0]) + bytes([1] * 64))
    sof = seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    dbits, dvals = _STD_DC_LUMA
    dht_dc = seg(0xC4, bytes([0x00] + dbits[1:]) + bytes(dvals))
    dht_ac = seg(0xC4, bytes([0x10] + _STD_AC_LUMA_BITS[1:]) + bytes(_STD_AC_LUMA_VALS))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    jpeg = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + bytes([0xD0, 0xAF]) + b"\xff\xd9"

    out = decode_jpeg(jpeg)
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, np.full((8, 8, 3), 130, dtype=np.uint8))


def test_jpeg_error_paths():
    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    good = encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    # flip SOF0 to SOF3 (lossless) — still out of scope (SOF2 is handled
    # by the round-5 progressive decoder, covered below)
    lossless = good.replace(b"\xff\xc0", b"\xff\xc3", 1)
    with pytest.raises(ValueError, match="SOF0"):
        decode_jpeg(lossless)


def test_spark_jpeg_media_features(spark):
    """image/jpeg rows decode through the REAL baseline decoder in
    image_pixel_features."""
    from article_extraction_spark.functions.codecs import encode_jpeg
    from article_extraction_spark.operators.multimodal import image_pixel_features

    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:, :8] = (250, 10, 10)
    img[:, 8:] = (10, 10, 250)
    rows = [(1, "image", bytearray(encode_jpeg(img)), "image/jpeg", None, None, None)]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    got = image_pixel_features(media).collect()[0]
    assert got["decode_error"] is None
    expect = img.reshape(-1, 3).mean(axis=0) / 255.0
    assert np.allclose(got["channel_mean"], expect, atol=0.02)


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 exercises the decoder's sampling-factor MCU interleave (4 Y +
    Cb + Cr) and chroma upsample: solids exact, 8px-aligned color blocks
    within ±1 (subsampling is lossless on 2×2-constant chroma)."""
    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    solid = np.zeros((24, 40, 3), dtype=np.uint8)
    solid[:, :] = (180, 40, 90)
    assert np.array_equal(decode_jpeg(encode_jpeg(solid, subsample=True)), solid)

    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, size=(3, 5, 3))
    blocky = np.repeat(np.repeat(base, 8, axis=0), 8, axis=1).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(blocky, subsample=True))
    assert out.shape == blocky.shape
    assert int(np.abs(out.astype(int) - blocky.astype(int)).max()) <= 1
    # non-multiple-of-16 dims: padding cropped correctly
    odd = np.full((17, 19, 3), 77, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(odd, subsample=True)), odd)


def test_jpeg_restart_markers_and_422():
    """review r3: DRI/RSTn resync and 4:2:2 sampling were in the claimed
    scope but untested — round-trip both (plus combined 4:2:0 + DRI)."""
    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(24, 33, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, restart_interval=2))
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 3

    solid = np.zeros((24, 40, 3), dtype=np.uint8)
    solid[:, :] = (180, 40, 90)
    assert np.array_equal(decode_jpeg(encode_jpeg(solid, subsample="422")), solid)
    base = rng.integers(0, 256, size=(3, 5, 3))
    blocky = np.repeat(np.repeat(base, 8, axis=0), 8, axis=1).astype(np.uint8)
    out2 = decode_jpeg(encode_jpeg(blocky, subsample="422"))
    assert int(np.abs(out2.astype(int) - blocky.astype(int)).max()) <= 1
    out3 = decode_jpeg(encode_jpeg(blocky, subsample="420", restart_interval=1))
    assert int(np.abs(out3.astype(int) - blocky.astype(int)).max()) <= 1


def test_jpeg_rejects_cmyk_and_multiscan():
    """review r3: 4-component frames and multi-scan files must surface a
    clear ValueError, not silently mis-decode."""
    from article_extraction_spark.functions.codecs import (
        _STD_AC_LUMA_BITS,
        _STD_AC_LUMA_VALS,
        _STD_DC_LUMA,
        decode_jpeg,
        encode_jpeg,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dqt = seg(0xDB, bytes([0]) + bytes([1] * 64))
    sof4 = seg(0xC0, bytes([8, 0, 8, 0, 8, 4,
                            1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]))
    dbits, dvals = _STD_DC_LUMA
    dht_dc = seg(0xC4, bytes([0x00] + dbits[1:]) + bytes(dvals))
    dht_ac = seg(0xC4, bytes([0x10] + _STD_AC_LUMA_BITS[1:]) + bytes(_STD_AC_LUMA_VALS))
    sos4 = seg(0xDA, bytes([4, 1, 0, 2, 0, 3, 0, 4, 0, 0, 63, 0]))
    cmyk = b"\xff\xd8" + dqt + sof4 + dht_dc + dht_ac + sos4 + b"\x00" + b"\xff\xd9"
    with pytest.raises(ValueError, match="component count"):
        decode_jpeg(cmyk)

    good = encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    # truncate the SOS component list to 1 of 3 (multi-scan shape)
    idx = good.rfind(b"\xff\xda")
    seg_len = int.from_bytes(good[idx + 2 : idx + 4], "big")
    new_sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    hacked = good[:idx] + new_sos + good[idx + 2 + seg_len :]
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg(hacked)


def test_jpeg_grayscale_ignores_sampling_factors():
    """A single-component scan is non-interleaved per T.81 §A.2.2: declared
    h=v=2 must NOT tile blocks in MCU order (review r3)."""
    from article_extraction_spark.functions.codecs import (
        _STD_AC_LUMA_BITS,
        _STD_AC_LUMA_VALS,
        _STD_DC_LUMA,
        decode_jpeg,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dqt = seg(0xDB, bytes([0]) + bytes([1] * 64))
    # 8x8 grayscale but declaring 2x2 sampling — still one raster block
    sof = seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x22, 0]))
    dbits, dvals = _STD_DC_LUMA
    dht_dc = seg(0xC4, bytes([0x00] + dbits[1:]) + bytes(dvals))
    dht_ac = seg(0xC4, bytes([0x10] + _STD_AC_LUMA_BITS[1:]) + bytes(_STD_AC_LUMA_VALS))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    jpeg = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + bytes([0xD0, 0xAF]) + b"\xff\xd9"
    out = decode_jpeg(jpeg)
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, np.full((8, 8, 3), 130, dtype=np.uint8))


def test_png_random_filters_gray_and_rgba_match_reference():
    """Random filter sequences over NON-RGB color types (the earlier
    spec-reference test covered RGB only): gray (1 bpp) and RGBA (4 bpp)
    exercise different Sub/Paeth lane offsets."""
    rng = np.random.default_rng(23)
    for color, channels in ((0, 1), (6, 4)):
        w, h = 7, 12
        stride = w * channels
        ftypes = [int(rng.integers(0, 5)) for _ in range(h)]
        raw_rows = [bytes(rng.integers(0, 256, size=stride, dtype=np.uint8)) for _ in range(h)]
        scan = b"".join(bytes([ft]) + row for ft, row in zip(ftypes, raw_rows))
        got = decode_png(_png_from_scanlines(w, h, color, scan))
        ref = np.array(_reference_unfilter(raw_rows, ftypes, stride, channels), dtype=np.uint8)
        ref = ref.reshape(h, w, channels)
        if color == 0:
            expected = np.repeat(ref, 3, axis=2)
        else:
            expected = ref[:, :, :3]
        assert np.array_equal(got, expected), color


def test_jpeg_roundtrip_property_sweep():
    """Round-trip across a grid of sizes × sampling modes × restart
    intervals: solids always exact; smooth gradients within a small bound."""
    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(9)
    for h, w in [(8, 8), (9, 17), (16, 16), (23, 31)]:
        for mode in (False, "422", "420"):
            for dri in (0, 3):
                c = rng.integers(0, 256, size=3)
                solid = np.zeros((h, w, 3), dtype=np.uint8)
                solid[:, :] = c
                out = decode_jpeg(encode_jpeg(solid, subsample=mode, restart_interval=dri))
                assert np.array_equal(out, solid), (h, w, mode, dri)
    # smooth gradient (chroma-subsampling friendly): luma-only ramp
    ramp = np.linspace(0, 255, 24 * 40).reshape(24, 40).astype(np.uint8)
    img = np.repeat(ramp[:, :, None], 3, axis=2)
    for mode in (False, "422", "420"):
        out = decode_jpeg(encode_jpeg(img, subsample=mode))
        assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 4, mode


def test_destuff_scan_edge_cases():
    """The r4 one-pass destuffer: stuffed FF00 removal, RST segmentation,
    terminator detection, and the awkward byte patterns around them.
    Round 5: also returns the terminating marker's absolute offset so the
    progressive multi-scan loop can resume marker parsing."""
    from article_extraction_spark.functions.codecs import _destuff_scan

    # plain data, stuffing removed; end = offset of the terminator's 0xFF
    segs, end = _destuff_scan(b"\x12\xff\x00\x34\xff\xd9", 0)
    assert segs == [b"\x12\xff\x34"]
    assert end == 4

    # RST markers split segments; stuffing works on both sides
    segs, end = _destuff_scan(b"\xaa\xff\x00\xbb\xff\xd0\xcc\xff\x00\xdd\xff\xd9", 0)
    assert segs == [b"\xaa\xff\xbb", b"\xcc\xff\xdd"]
    assert end == 10

    # consecutive RSTs → empty middle segment
    segs, _ = _destuff_scan(b"\x01\xff\xd0\xff\xd1\x02\xff\xd9", 0)
    assert segs == [b"\x01", b"", b"\x02"]

    # no terminator: runs to end of payload
    segs, end = _destuff_scan(b"\x01\x02\x03", 0)
    assert segs == [b"\x01\x02\x03"]
    assert end == 3

    # stuffed FF00 immediately before the terminator
    segs, _ = _destuff_scan(b"\xff\x00\xff\xd9\x99", 0)
    assert segs == [b"\xff"]

    # data after the terminator is ignored even if it contains RSTs
    segs, end = _destuff_scan(b"\x07\xff\xd9\xff\xd0\x08", 0)
    assert segs == [b"\x07"]
    assert end == 1

    # pos offset honored; end stays absolute
    segs, end = _destuff_scan(b"\xde\xad\x42\xff\xd9", 2)
    assert segs == [b"\x42"]
    assert end == 3

    # trailing lone 0xFF (no following byte) stays as data
    segs, _ = _destuff_scan(b"\x10\xff", 0)
    assert segs == [b"\x10\xff"]


def test_jpeg_truncated_stream_never_negative_shift():
    """review r4: a short tail refill chunk must loop until the 16-bit
    peek is covered — decode of truncated streams either succeeds (zero
    padding reads as EOB-ish data) or raises a clean codec ValueError,
    never a negative-shift crash."""
    import numpy as np

    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(21)
    jp = encode_jpeg(rng.randint(0, 256, size=(64, 48, 3), dtype=np.uint8), quant=3)
    for cut in range(1, 120):
        try:
            decode_jpeg(jp[:-cut])
        except ValueError as exc:
            assert "negative" not in str(exc), (cut, exc)


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes.
    Inject fill runs before every RSTn and before EOI of a DRI-encoded
    image — the decode must be byte-identical to the unpadded stream
    (review r5: FF FF used to be misread as a scan terminator, truncating
    the scan into gray blocks)."""
    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(24, 33, 3), dtype=np.uint8)
    enc = encode_jpeg(img, restart_interval=2)
    clean = decode_jpeg(enc)

    padded = bytearray()
    i = 0
    while i < len(enc):
        if enc[i] == 0xFF and i + 1 < len(enc):
            nxt = enc[i + 1]
            if (0xD0 <= nxt <= 0xD7) or nxt == 0xD9:
                padded += b"\xff" * 3  # fill run before the marker
        padded.append(enc[i])
        i += 1
    assert len(padded) > len(enc)
    out = decode_jpeg(bytes(padded))
    assert np.array_equal(out, clean)


def test_jpeg_progressive_matches_baseline_exactly():
    """Progressive (SOF2) decode — spectral selection + successive
    approximation (T.81 §G.2). The progressive encoder twin entropy-codes
    the SAME quantized coefficients as the baseline encoder, so after all
    refinement scans the decode must be pixel-IDENTICAL to the baseline
    decode (entropy coding is lossless), on solids, random noise, and
    gradients alike."""
    from article_extraction_spark.functions.codecs import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(42)
    solid = np.zeros((16, 16, 3), dtype=np.uint8)
    solid[:, :] = (120, 33, 200)
    noise = rng.integers(0, 256, (24, 33, 3), dtype=np.uint8)
    ramp = np.linspace(0, 255, 40 * 24).reshape(24, 40).astype(np.uint8)
    grad = np.stack([ramp, ramp.T[:24, :40] if False else ramp, ramp // 2 + 60], axis=2).astype(np.uint8)
    for img, q in ((solid, 1), (noise, 1), (noise, 3), (grad, 2)):
        base = decode_jpeg(encode_jpeg(img, quant=q))
        prog = decode_jpeg(encode_jpeg_progressive(img, quant=q))
        assert np.array_equal(prog, base), (img.shape, q)
    # solid at quant=1 is DC-exact → progressive equals the ORIGINAL too
    assert np.array_equal(decode_jpeg(encode_jpeg_progressive(solid)), solid)


def test_jpeg_progressive_scan_variants():
    """Band splits, restart intervals, grayscale, and degenerate shapes —
    each a different path through the four progressive scan kinds (DC/AC
    × first/refinement), all still pixel-identical to baseline."""
    from article_extraction_spark.functions.codecs import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(7)
    for shape, q, band_split, dri in [
        ((8, 8, 3), 1, 6, 0),
        ((9, 15, 3), 2, 2, 0),      # minimal first band (Ss=1,Se=1)
        ((40, 40, 3), 3, 20, 3),    # wide band + restarts
        ((64, 1, 3), 1, 6, 1),      # single-block-column, restart every block
        ((1, 64, 3), 1, 63, 0),     # band_split=63 → second band is Ss=Se=63
    ]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        base = decode_jpeg(encode_jpeg(img, quant=q))
        prog = decode_jpeg(
            encode_jpeg_progressive(img, quant=q, band_split=band_split, restart_interval=dri)
        )
        assert np.array_equal(prog, base), (shape, q, band_split, dri)
    # grayscale: single-component frame → every scan non-interleaved,
    # including the DC scans
    g = rng.integers(0, 256, (17, 22), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_progressive(g))
    assert out.shape == (17, 22, 3)
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    # near-lossless grayscale: DC-exact on a solid
    gs = np.full((16, 16), 77, dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(gs)), np.full((16, 16, 3), 77, dtype=np.uint8)
    )


def test_jpeg_progressive_eob_runs_and_zrl():
    """A sparse image (two isolated dots on flat gray) forces long EOBn
    runs across blocks and ZRL/long zero runs inside blocks, in both the
    first and the refinement AC scans."""
    from article_extraction_spark.functions.codecs import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    sp = np.full((64, 64, 3), 128, dtype=np.uint8)
    sp[5, 60] = (255, 0, 0)
    sp[40, 3] = (0, 255, 0)
    base = decode_jpeg(encode_jpeg(sp))
    enc = encode_jpeg_progressive(sp)
    assert np.array_equal(decode_jpeg(enc), base)
    # and the truncation property progressive exists for: decoding only a
    # prefix of the scans (cut after the first AC-first scan's data) still
    # yields a valid, lower-fidelity image rather than an error
    # (find the 3rd SOS and stop before it, appending EOI)
    sos_positions = []
    i = 2
    while i + 4 <= len(enc):
        if enc[i] == 0xFF and enc[i + 1] == 0xDA:
            sos_positions.append(i)
        i += 1
    assert len(sos_positions) == 10  # DC first + 4 AC first + DC refine + 4 AC refine
    partial = enc[: sos_positions[2]] + b"\xff\xd9"
    rough = decode_jpeg(partial)
    assert rough.shape == base.shape
    # the flat background should already be approximately right
    assert abs(int(rough[32, 32, 0]) - 128) <= 2
