"""Pure-stdlib media decoders for the multimodal pipeline.

No PIL/ffmpeg/librosa exists in this environment, but several formats
need nothing beyond ``struct`` + ``zlib`` (both stdlib), so the decode
stage can be REAL for them instead of a stub:

  * PNG  — full pixel decode for non-interlaced 8-bit gray/RGB/RGBA
           (zlib inflate + per-scanline unfilter; Sub/Up vectorized,
           Average/Paeth per spec), header-only otherwise
  * BMP  — uncompressed 24/32-bit BI_RGB pixel decode (bottom-up rows)
  * WAV  — RIFF/fmt parse + 8/16-bit PCM sample decode
  * GIF  — logical-screen header (dims) only
  * JPEG — FULL baseline (sequential DCT, Huffman) pixel decode via
           jpegcodec.py (round-3; closes the round-2 "JPEG entropy
           decode" stub); progressive/arithmetic fall back to
           header-only (dims + channels)

Every decoder returns a plain dict; ``pixels``/``samples`` are NumPy
arrays when pixel/sample decode is supported, else None (header-only).

  * MP4  — FULL container parse via mp4codec.py (round-3): brand,
           duration, codec fourcc, dimensions, frame count and the
           exact per-sample byte ranges (frame-sample extraction is
           container-exact). Only the entropy-coded sample payloads
           (H.264/HEVC NALs -> pixels) still need an external codec.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


class MediaDecodeError(ValueError):
    pass


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> channels


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> np.ndarray:
    stride = width * bpp
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8,
                            count=stride, offset=pos + 1).astype(np.int32)
        pos += 1 + stride
        if ftype == 0:      # None
            recon = row
        elif ftype == 1:    # Sub: recon[i] = raw[i] + recon[i-bpp]
            lanes = row.reshape(-1, bpp)
            recon = np.cumsum(lanes, axis=0).reshape(-1) % 256
        elif ftype == 2:    # Up
            recon = (row + prev) % 256
        elif ftype == 3:    # Average
            recon = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = recon[i - bpp] if i >= bpp else 0
                recon[i] = (row[i] + (left + prev[i]) // 2) % 256
        elif ftype == 4:    # Paeth
            recon = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = recon[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                recon[i] = (row[i] + pred) % 256
        else:
            raise MediaDecodeError(f"unknown PNG filter {ftype}")
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out


def decode_png(b: bytes) -> dict:
    if b[:8] != _PNG_MAGIC:
        raise MediaDecodeError("not a PNG")
    pos = 8
    width = height = bitdepth = ctype = interlace = None
    idat = []
    while pos + 8 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        ctag = b[pos + 4:pos + 8]
        body = b[pos + 8:pos + 8 + ln]
        pos += 12 + ln  # incl. CRC
        if ctag == b"IHDR":
            width, height, bitdepth, ctype, _, _, interlace = \
                struct.unpack(">IIBBBBB", body)
        elif ctag == b"IDAT":
            idat.append(body)
        elif ctag == b"IEND":
            break
    if width is None:
        raise MediaDecodeError("PNG missing IHDR")
    channels = _PNG_CHANNELS.get(ctype)
    info = {"format": "png", "width": int(width), "height": int(height),
            "channels": channels, "bitdepth": int(bitdepth),
            "pixels": None, "samples": None}
    if bitdepth == 8 and interlace == 0 and ctype in (0, 2, 6) and idat:
        raw = zlib.decompress(b"".join(idat))
        bpp = channels
        px = _png_unfilter(raw, width, height, bpp)
        info["pixels"] = px.reshape(height, width, channels)
    return info


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

def decode_bmp(b: bytes) -> dict:
    if b[:2] != b"BM":
        raise MediaDecodeError("not a BMP")
    (data_off,) = struct.unpack_from("<I", b, 10)
    (hdr_sz, width, height, _planes, bpp, compression) = \
        struct.unpack_from("<IiiHHI", b, 14)
    info = {"format": "bmp", "width": int(width), "height": abs(int(height)),
            "channels": bpp // 8, "bitdepth": 8, "pixels": None,
            "samples": None}
    if compression == 0 and bpp in (24, 32):
        nch = bpp // 8
        stride = (width * nch + 3) & ~3
        h = abs(height)
        rows = []
        for r in range(h):
            off = data_off + r * stride
            row = np.frombuffer(b, dtype=np.uint8, count=width * nch,
                                offset=off).reshape(width, nch)
            rows.append(row[:, :3][:, ::-1])  # BGR -> RGB
        px = np.stack(rows)
        if height > 0:  # bottom-up storage
            px = px[::-1]
        info["pixels"] = px
        info["channels"] = 3
    return info


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------

def decode_wav(b: bytes) -> dict:
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise MediaDecodeError("not a WAV")
    pos = 12
    fmt = None
    samples = None
    n_channels = rate = bits = None
    while pos + 8 <= len(b):
        tag = b[pos:pos + 4]
        (ln,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8:pos + 8 + ln]
        pos += 8 + ln + (ln & 1)
        if tag == b"fmt ":
            fmt, n_channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body)
        elif tag == b"data" and fmt == 1:  # PCM
            if bits == 16:
                samples = np.frombuffer(body, dtype="<i2")
            elif bits == 8:
                samples = np.frombuffer(body, dtype=np.uint8).astype(np.int16) - 128
            if samples is not None and n_channels and n_channels > 1:
                samples = samples[:len(samples) - len(samples) % n_channels]
                samples = samples.reshape(-1, n_channels)
    if fmt is None:
        raise MediaDecodeError("WAV missing fmt chunk")
    n_frames = 0 if samples is None else (
        len(samples) if getattr(samples, "ndim", 1) >= 1 else 0)
    return {"format": "wav", "width": 0, "height": 0,
            "channels": int(n_channels), "bitdepth": int(bits),
            "rate": int(rate), "n_frames": int(n_frames),
            "pixels": None, "samples": samples}


# ---------------------------------------------------------------------------
# header-only formats
# ---------------------------------------------------------------------------

def decode_gif_header(b: bytes) -> dict:
    if b[:4] != b"GIF8":
        raise MediaDecodeError("not a GIF")
    w, h = struct.unpack_from("<HH", b, 6)
    return {"format": "gif", "width": int(w), "height": int(h),
            "channels": 3, "bitdepth": 8, "pixels": None, "samples": None}


def decode_jpeg(b: bytes) -> dict:
    """Full baseline pixel decode (jpegcodec.py); progressive and
    arithmetic-coded payloads return header-only info."""
    from . import jpegcodec

    if b[:3] != b"\xff\xd8\xff":
        raise MediaDecodeError("not a JPEG")
    try:
        info = jpegcodec.decode_jpeg(b)
    except jpegcodec.JpegError as e:
        raise MediaDecodeError(str(e)) from e
    info["samples"] = None
    return info


def decode_mp4(b: bytes) -> dict:
    """Container-level decode (mp4codec.py): real dims/frames/duration.
    For MJPEG tracks (codec fourcc jpeg/mjpa/mjpg — every video sample
    is a baseline JPEG) the FIRST frame's pixels are entropy-decoded
    in-container (mp4codec.frame_samples -> jpegcodec), so content
    features come from real pixels; other codecs keep pixels=None (the
    one remaining external-codec surface). A corrupt frame inside a
    valid container degrades to pixels=None instead of failing."""
    from . import jpegcodec, mp4codec

    try:
        info = mp4codec.decode_mp4(b)
    except mp4codec.Mp4Error as e:
        raise MediaDecodeError(str(e)) from e
    if (info.get("codec") or "").lower() in ("jpeg", "mjpa", "mjpg"):
        try:
            first = mp4codec.frame_samples(b, max_frames=1)
            if first:
                info["pixels"] = jpegcodec.decode_jpeg(first[0])["pixels"]
        except (mp4codec.Mp4Error, jpegcodec.JpegError):
            pass
    return info


_DECODERS = {
    "image/png": decode_png,
    "image/bmp": decode_bmp,
    "audio/wav": decode_wav,
    "image/gif": decode_gif_header,
    "image/jpeg": decode_jpeg,
    "video/mp4": decode_mp4,
}


def decode(payload: bytes, media_type: str) -> dict:
    """Dispatch; raises MediaDecodeError for unsupported types AND for
    malformed payloads. sniff_media_type matches only 2-4 prefix bytes,
    so arbitrary corpus bytes starting 'BM'/'RIFF'/PNG-magic route into
    these strict parsers — truncated/corrupt input raises struct.error,
    zlib.error, ValueError or numpy buffer errors, and one bad document
    must NOT kill a 100 TB job. Every non-MediaDecodeError escapes here
    re-wrapped so callers have exactly one failure type to catch."""
    fn = _DECODERS.get(media_type)
    if fn is None:
        raise MediaDecodeError(f"no stdlib decoder for {media_type}")
    try:
        return fn(bytes(payload))
    except MediaDecodeError:
        raise
    except Exception as e:
        raise MediaDecodeError(
            f"malformed {media_type} payload: {type(e).__name__}: {e}") from e
