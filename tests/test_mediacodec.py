"""Stdlib media codecs: encode->decode round trips + decode stage."""

import numpy as np
import pytest

import media_fixtures as fx
from tegola_spark.operators import mediacodec as mc
from tegola_spark.operators import multimodal as mm


def _checker(h, w, ch):
    rng = np.random.default_rng(3)
    return rng.integers(0, 255, size=(h, w, ch), dtype=np.uint8)


@pytest.mark.parametrize("ch", [1, 3, 4])
def test_png_roundtrip(ch):
    px = _checker(13, 9, ch)
    info = mc.decode_png(fx.encode_png(px))
    assert (info["width"], info["height"], info["channels"]) == (9, 13, ch)
    np.testing.assert_array_equal(info["pixels"], px)


def test_png_all_filter_types():
    """Unfiltering must invert every PNG filter (0-4); build raw
    scanlines with each filter applied per spec and check recon."""
    import struct, zlib
    rng = np.random.default_rng(5)
    px = rng.integers(0, 255, size=(5, 8, 3), dtype=np.uint8)
    h, w, bpp = 5, 8, 3
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int32)
        f = y % 5
        raw.append(f)
        if f == 0:
            enc = line
        elif f == 1:
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            enc = (line - left) % 256
        elif f == 2:
            enc = (line - prev) % 256
        elif f == 3:
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            enc = (line - (left + prev) // 2) % 256
        else:
            enc = np.empty_like(line)
            for i in range(len(line)):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) % 256
        raw.extend(int(v) for v in enc)
        prev = line
    out = mc._png_unfilter(bytes(raw), w, h, bpp)
    np.testing.assert_array_equal(out.reshape(h, w, bpp), px)


def test_bmp_roundtrip():
    px = _checker(6, 11, 3)
    info = mc.decode_bmp(fx.encode_bmp(px))
    assert (info["width"], info["height"]) == (11, 6)
    np.testing.assert_array_equal(info["pixels"], px)


def test_wav_roundtrip():
    t = np.arange(800)
    s = (np.sin(t / 10.0) * 20000).astype(np.int16)
    info = mc.decode_wav(fx.encode_wav(s, rate=8000))
    assert info["rate"] == 8000 and info["channels"] == 1
    np.testing.assert_array_equal(info["samples"].reshape(-1), s)


def test_jpeg_gif_headers():
    # header-only GIF; the JPEG header-only path is
    # test_jpeg_progressive_falls_back_to_header_only
    import struct
    g = b"GIF89a" + struct.pack("<HH", 33, 21) + b"\x00" * 10
    info = mc.decode_gif_header(g)
    assert (info["width"], info["height"]) == (33, 21)


def test_decode_media_real_formats(spark):
    px = _checker(10, 12, 3)
    wav = fx.encode_wav((np.sin(np.arange(400) / 7.0) * 1000).astype(np.int16))
    rows = [
        (1, bytearray(fx.encode_png(px))),
        (2, bytearray(fx.encode_bmp(px))),
        (3, bytearray(wav)),
        (4, bytearray(b"\x89PNX not really")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mm.decode_media(df).collect()}
    assert out[1]["media_type"] == "image/png"
    assert (out[1]["width"], out[1]["height"]) == (12, 10)
    assert (out[2]["width"], out[2]["height"]) == (12, 10)
    # identical pixels -> identical content features across formats
    np.testing.assert_allclose(out[1]["feature"], out[2]["feature"], rtol=1e-6)
    assert out[3]["media_type"] == "audio/wav"
    assert out[3]["n_frames"] == 400
    assert out[4]["media_type"] == "application/octet-stream"


def test_decode_media_mp4_and_frame_sampling(spark):
    frames = [bytes([i]) * (20 + i) for i in range(10)]
    vid = fx.encode_mp4(frames, width=160, height=120, fps=25)
    rows = [(1, bytearray(vid)),
            (2, bytearray(b"\x00\x00\x00\x08ftyp")),  # truncated: no rows
            (3, bytearray(b"plain text payload"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mm.decode_media(df).collect()}
    assert out[1]["media_type"] == "video/mp4"
    assert (out[1]["width"], out[1]["height"]) == (160, 120)
    assert out[1]["n_frames"] == 10  # REAL stsz count, not the fake


# corpus bytes that pass the 2-4 byte magic sniff but are NOT valid files:
# each used to escape as struct.error / zlib.error / ValueError and kill
# the whole job (ADVICE r2, high)
_MALFORMED = [
    (b"BMxx", "image/bmp"),                                   # truncated header
    (b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR\x00\x00", "image/png"),  # short IHDR
    (b"\x89PNG\r\n\x1a\n"                                     # corrupt IDAT zlib
     + b"\x00\x00\x00\x0dIHDR" + b"\x00\x00\x00\x02\x00\x00\x00\x02\x08\x02\x00\x00\x00"
     + b"\x00\x00\x00\x00"
     + b"\x00\x00\x00\x04IDAT" + b"\xde\xad\xbe\xef" + b"\x00\x00\x00\x00",
     "image/png"),
    (b"RIFF\x24\x00\x00\x00WAVEfmt \x02\x00\x00\x00\x01\x00", "audio/wav"),  # short fmt
    (b"GIF8", "image/gif"),                                   # bare magic
    (b"\xff\xd8\xff\xe0\x00", "image/jpeg"),                  # truncated jpeg
]


def _gradient_rgb(h=13, w=20):
    yy, xx = np.mgrid[0:h, 0:w]
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[..., 0] = (xx * 12) % 256
    px[..., 1] = (yy * 17) % 256
    px[..., 2] = ((xx + yy) * 7) % 256
    return px


def test_jpeg_444_roundtrip_near_lossless():
    """Baseline 4:4:4 with flat quant=1: reconstruction differs only by
    DCT rounding (<= 1 per sample) — the round-2 'JPEG entropy decode'
    stub is closed."""
    from tegola_spark.operators import jpegcodec as jc

    px = _gradient_rgb()
    info = jc.decode_jpeg(fx.encode_jpeg(px, quant=1))
    assert (info["width"], info["height"]) == (20, 13)
    err = np.abs(info["pixels"].astype(int) - px.astype(int))
    assert err.max() <= 1


def test_jpeg_grayscale_and_nonaligned_dims():
    from tegola_spark.operators import jpegcodec as jc

    yy, xx = np.mgrid[0:9, 0:11]
    g = ((xx * yy * 3) % 256).astype(np.uint8)
    info = jc.decode_jpeg(fx.encode_jpeg(g, quant=1))
    assert (info["width"], info["height"], info["channels"]) == (11, 9, 1)
    assert np.abs(info["pixels"][:, :, 0].astype(int) - g.astype(int)).max() <= 1


def test_jpeg_420_subsampling_and_restart_markers():
    from tegola_spark.operators import jpegcodec as jc

    px = _gradient_rgb(21, 30)
    b = fx.encode_jpeg(px, quant=1, subsample=True, restart=1)
    assert b"\xff\xd0" in b  # RST0 emitted
    info = jc.decode_jpeg(b)
    assert (info["width"], info["height"]) == (30, 21)
    err = np.abs(info["pixels"].astype(int) - px.astype(int))
    # luma is full-res (rounding only); chroma is 2x2-averaged
    assert err.mean() < 8


def test_jpeg_progressive_falls_back_to_header_only():
    from tegola_spark.operators import jpegcodec as jc

    b = fx.encode_jpeg(_gradient_rgb(), quant=1)
    # rewrite the SOF0 marker byte to SOF2 (progressive)
    i = b.index(b"\xff\xc0")
    b2 = b[:i + 1] + b"\xc2" + b[i + 2:]
    info = jc.decode_jpeg(b2)
    assert (info["width"], info["height"]) == (20, 13)
    assert info["pixels"] is None


def test_decode_media_real_jpeg(spark):
    from tegola_spark.operators import jpegcodec as jc

    px = _gradient_rgb()
    df = spark.createDataFrame(
        [(1, bytearray(fx.encode_jpeg(px, quant=1)))],
        "doc_id long, payload binary")
    out = mm.decode_media(df).collect()[0]
    assert out["media_type"] == "image/jpeg"
    assert (out["width"], out["height"]) == (20, 13)
    # content features come from REAL pixels: match the PNG of the same
    # image to within the <=1 DCT rounding
    png = mc.decode_png(fx.encode_png(px))
    from tegola_spark.operators.multimodal import _real_features
    np.testing.assert_allclose(out["feature"], _real_features(png), atol=0.02)


def test_decode_malformed_raises_only_mediadecodeerror():
    for payload, mt in _MALFORMED:
        with pytest.raises(mc.MediaDecodeError):
            mc.decode(payload, mt)


def test_decode_media_survives_malformed_payloads(spark):
    rows = [(i, bytearray(p)) for i, (p, _) in enumerate(_MALFORMED)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = mm.decode_media(df).collect()
    # every malformed row falls back to stub features instead of failing
    assert len(out) == len(_MALFORMED)
    assert all(len(r["feature"]) == 8 for r in out)


def test_jpeg_multiscan_444_matches_interleaved():
    """T.81 baseline permits one non-interleaved SOS per component; the
    decoder must entropy-decode every scan (round-3 ADVICE: only the
    first SOS was decoded, leaving chroma planes zero)."""
    from tegola_spark.operators import jpegcodec as jc

    px = _gradient_rgb(21, 30)
    inter = jc.decode_jpeg(fx.encode_jpeg(px, quant=1))
    multi_bytes = fx.encode_jpeg(px, quant=1, multiscan=True)
    assert multi_bytes.count(b"\xff\xda") >= 3
    multi = jc.decode_jpeg(multi_bytes)
    # same quantized coefficients, same predictor chains -> identical
    np.testing.assert_array_equal(multi["pixels"], inter["pixels"])
    assert np.abs(multi["pixels"].astype(int) - px.astype(int)).max() <= 2


def test_jpeg_multiscan_420_decodes_all_planes():
    from tegola_spark.operators import jpegcodec as jc

    px = _gradient_rgb(24, 24)
    b = fx.encode_jpeg(px, quant=1, subsample=True, multiscan=True)
    info = jc.decode_jpeg(b)
    assert info["pixels"] is not None
    err = np.abs(info["pixels"].astype(int) - px.astype(int))
    assert err.mean() < 8
    # chroma actually decoded: the image is not grayscale-ish
    assert np.ptp(info["pixels"][..., 0].astype(int)
                  - info["pixels"][..., 1].astype(int)) > 32


def test_jpeg_multiscan_missing_component_header_only():
    """If some SOF component never receives a scan, pixel decode must
    fall back to header-only instead of returning wrong pixels."""
    from tegola_spark.operators import jpegcodec as jc

    b = fx.encode_jpeg(_gradient_rgb(), quant=1, multiscan=True)
    last_sos = b.rfind(b"\xff\xda")
    truncated = b[:last_sos] + b"\xff\xd9"
    info = jc.decode_jpeg(truncated)
    assert (info["width"], info["height"]) == (20, 13)
    assert info["pixels"] is None


def _mjpeg_fixture(n=4, w=24, h=16):
    frames_px = [_gradient_rgb(h, w) for _ in range(n)]
    for k, px in enumerate(frames_px):
        px[..., 0] = (px[..., 0].astype(int) + 13 * k) % 256
    jpegs = [fx.encode_jpeg(px, quant=1) for px in frames_px]
    return fx.encode_mp4(jpegs, width=w, height=h, codec=b"jpeg"), frames_px


def test_decode_media_mjpeg_real_features(spark):
    """decode_media derives content features from REAL first-frame
    pixels for MJPEG videos (mediacodec.decode_mp4 decodes them)."""
    b, frames_px = _mjpeg_fixture()
    info = mc.decode(b, "video/mp4")
    assert info["pixels"] is not None
    df = spark.createDataFrame([(1, bytearray(b))],
                               "doc_id long, payload binary")
    out = mm.decode_media(df).collect()[0]
    assert out["media_type"] == "video/mp4"
    assert (out["width"], out["height"]) == (24, 16)
    assert out["n_frames"] == 4
    want = mm._real_features(
        {"pixels": frames_px[0], "samples": None})
    # decoded first frame differs from source only by DCT rounding
    np.testing.assert_allclose(out["feature"], want, atol=0.05)


_APP0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"


@pytest.mark.parametrize("segment", [
    b"\xff\xc0\x00\x09\x08\x00\x10\x00\x10\x03\x01",  # SOF0: 3 comps, 1 byte
    b"\xff\xc0\x00\x05\x08\x00\x10",                  # SOF0: short header
    b"\xff\xc2\x00\x07\x08\x00\x10\x00",              # SOF2: short header
    b"\xff\xdb\x00\x0a\x00" + bytes(7),               # DQT: 7 of 64 entries
    b"\xff\xc4\x00\x08\x00" + bytes(5),               # DHT: 5 of 16 counts
    b"\xff\xc4\x00\x15\x00\x04" + bytes(15),          # DHT: 4 values missing
    b"\xff\xdd\x00\x03\x00",                          # DRI: 1 of 2 bytes
    b"\xff\xc0\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00"
    b"\xff\xda\x00\x04\x03\x01",                      # SOS: 3 comps, 1 byte
], ids=["sof0-comps", "sof0-header", "sof2-header", "dqt-table",
        "dht-counts", "dht-values", "dri", "sos"])
def test_jpeg_truncated_segment_raises_jpegerror(segment):
    """A segment shorter than its own fields declare is a JpegError, not
    an IndexError or struct.error."""
    from tegola_spark.operators import jpegcodec as jc

    with pytest.raises(jc.JpegError, match="truncated"):
        jc.decode_jpeg(b"\xff\xd8" + _APP0 + segment + b"\xff\xd9")


def test_mjpeg_truncated_first_frame_keeps_container_dims():
    """A first MJPEG frame whose SOF is cut short keeps the container's
    dims with pixels=None instead of failing the whole payload."""
    good = fx.encode_jpeg(_gradient_rgb(16, 16), quant=1)
    bad = b"\xff\xd8" + _APP0 + b"\xff\xc0\x00\x09\x08\x00\x10\x00\x10\x03\x01"
    info = mc.decode(fx.encode_mp4([bad, good], 16, 16, codec=b"mjpg"),
                     "video/mp4")
    assert (info["width"], info["height"]) == (16, 16)
    assert info["pixels"] is None
