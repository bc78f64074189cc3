"""Fixture writers for the media decoder tests: a minimal baseline JPEG
encoder, PNG/BMP/WAV writers and a single-track MP4 writer. They build
decoder inputs in memory so the decode round trips need no external
file; no output path of the engine writes media.

The JPEG writer uses the decoder's own DCT matrix, zigzag order and
canonical Huffman construction (jpegcodec), so an encode -> decode round
trip checks the entropy and block layers, not a second DCT.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from tegola_spark.operators.jpegcodec import (
    ZIGZAG, JpegError, _M, _canonical_codes)
from tegola_spark.operators.mediacodec import _PNG_MAGIC
from tegola_spark.operators.mp4codec import Mp4Error


# ---------------------------------------------------------------------------
# JPEG: minimal baseline encoder
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.write(1, 1)  # pad with 1-bits


def _enc_tables():
    """Fixed-length canonical tables: 12 DC categories at 4 bits, all
    162 AC (run, size) symbols at 8 bits — valid Huffman tables (the
    all-ones max-length code stays unused) without carrying the Annex K
    constants."""
    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = list(range(12))
    ac_vals = [0x00, 0xF0] + [(r << 4) | s
                              for r in range(16) for s in range(1, 11)]
    ac_bits = [0] * 7 + [len(ac_vals)] + [0] * 8
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def _enc_code_map(bits, vals):
    m = {}
    for (ln, code), sym in _canonical_codes(bits, vals).items():
        m[sym] = (code, ln)
    return m


def _size_cat(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _encode_block(bw: _BitWriter, block: np.ndarray, qtab: np.ndarray,
                  pred: int, dcm, acm) -> int:
    coef = _M @ (block - 128.0) @ _M.T
    q = np.round(coef.reshape(-1) / qtab).astype(np.int64)
    zz = q[ZIGZAG]
    diff = int(zz[0]) - pred
    s = _size_cat(diff)
    code, ln = dcm[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    run = 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = acm[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _size_cat(v)
        code, ln = acm[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, ln = acm[0x00]
        bw.write(code, ln)
    return int(zz[0])


def encode_jpeg(pixels: np.ndarray, quant: int = 1,
                subsample: bool = False, restart: int = 0,
                multiscan: bool = False) -> bytes:
    """Baseline JPEG writer: grayscale or RGB, 4:4:4 (default) or 4:2:0
    (``subsample=True``), flat quant tables of ``quant`` (1 = as near
    lossless as the DCT rounding allows), optional DRI restart interval
    of ``restart`` MCUs (exercises the decoder's RST path).

    ``multiscan=True`` writes one non-interleaved SOS per component (a
    legal baseline layout per T.81 — exercises the decoder's multi-scan
    path); incompatible with ``restart``."""
    if multiscan and restart:
        raise JpegError("multiscan fixtures do not support restart")
    px = np.asarray(pixels, dtype=np.float64)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    if nch == 3:
        r, g, bl = px[..., 0], px[..., 1], px[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * bl
        cb = -0.168736 * r - 0.331264 * g + 0.5 * bl + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * bl + 128.0
        chans = [y, cb, cr]
    else:
        chans = [px[..., 0]]
        subsample = False
    samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
    hmax = max(s[0] for s in samp[:len(chans)])
    vmax = max(s[1] for s in samp[:len(chans)])
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    qtab = np.full(64, float(quant))
    (dcb, dcv), (acb, acv) = _enc_tables()
    dcm, acm = _enc_code_map(dcb, dcv), _enc_code_map(acb, acv)

    # pad each plane to its MCU-aligned size (edge replicate)
    padded = []
    for i, ch in enumerate(chans):
        sh, sv = samp[i]
        if (sh, sv) != (hmax, vmax):  # 4:2:0 chroma: 2x2 mean
            ev = np.pad(ch, ((0, h % 2), (0, w % 2)), mode="edge")
            ch = ev.reshape(ev.shape[0] // 2, 2,
                            ev.shape[1] // 2, 2).mean(axis=(1, 3))
        th = mcuy * 8 * sv
        tw = mcux * 8 * sh
        ch = np.pad(ch, ((0, th - ch.shape[0]), (0, tw - ch.shape[1])),
                    mode="edge")
        padded.append(ch)

    if multiscan:
        # one entropy segment per component, each over its own
        # ceil(cw/8) x ceil(ch/8) grid (T.81 non-interleaved scan)
        scans = []
        for i, ch in enumerate(padded):
            sh, sv = samp[i]
            cw = -(-w * sh // hmax)
            ch_h = -(-h * sv // vmax)
            bwn, bhn = -(-cw // 8), -(-ch_h // 8)
            bw = _BitWriter()
            pred_i = 0
            for m in range(bwn * bhn):
                my, mx = divmod(m, bwn)
                pred_i = _encode_block(
                    bw, ch[my * 8:my * 8 + 8, mx * 8:mx * 8 + 8],
                    qtab, pred_i, dcm, acm)
            bw.flush()
            scans.append(bytes(bw.out))
        entropy = None
    else:
        entropy = bytearray()
        bw = _BitWriter()
        pred = [0] * len(chans)
        rst = 0
        for m in range(mcux * mcuy):
            if restart and m and m % restart == 0:
                bw.flush()
                entropy += bw.out
                entropy += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                bw = _BitWriter()
                pred = [0] * len(chans)
            my, mx = divmod(m, mcux)
            for i, ch in enumerate(padded):
                sh, sv = samp[i]
                for vy in range(sv):
                    for hx in range(sh):
                        y0 = (my * sv + vy) * 8
                        x0 = (mx * sh + hx) * 8
                        pred[i] = _encode_block(
                            bw, ch[y0:y0 + 8, x0:x0 + 8], qtab, pred[i],
                            dcm, acm)
        bw.flush()
        entropy += bw.out

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    zzq = np.zeros(64, dtype=np.uint8)
    zzq[np.arange(64)] = qtab[ZIGZAG].astype(np.uint8)
    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + zzq.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, len(chans))
    for i in range(len(chans)):
        sof += bytes([i + 1, (samp[i][0] << 4) | samp[i][1], 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(dcb) + bytes(dcv))
    out += seg(0xC4, bytes([0x10]) + bytes(acb) + bytes(acv))
    if restart:
        out += seg(0xDD, struct.pack(">H", restart))
    if multiscan:
        for i in range(len(chans)):
            sos = bytes([1, i + 1, 0x00, 0, 63, 0])
            out += seg(0xDA, sos)
            out += scans[i]
    else:
        sos = bytes([len(chans)])
        for i in range(len(chans)):
            sos += bytes([i + 1, 0x00])
        sos += bytes([0, 63, 0])
        out += seg(0xDA, sos)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# PNG / BMP / WAV
# ---------------------------------------------------------------------------

def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal PNG writer (filter 0 rows)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    ctype = {1: 0, 3: 2, 4: 6}[ch]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal 24-bit BI_RGB writer (bottom-up)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = b"".join(
        px[y, :, ::-1].tobytes() + b"\x00" * (stride - w * 3)
        for y in range(h - 1, -1, -1))
    header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    return header + dib + body


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Minimal PCM16 writer."""
    s = np.asarray(samples, dtype="<i2")
    nch = 1 if s.ndim == 1 else s.shape[1]
    body = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * nch * 2, nch * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)


# ---------------------------------------------------------------------------
# MP4: single video track, one chunk, uniform timing
# ---------------------------------------------------------------------------

def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _full(fourcc: bytes, version: int, body: bytes) -> bytes:
    return _box(fourcc, struct.pack(">I", version << 24) + body)


def encode_mp4(frames: list[bytes], width: int, height: int,
               fps: int = 30, codec: bytes = b"mp4v") -> bytes:
    """Minimal valid single-video-track MP4: all samples in one chunk,
    uniform frame duration. Round-trips through parse_mp4/frame_samples
    bit-exactly."""
    if not frames:
        raise Mp4Error("need at least one frame")
    timescale = int(fps) * 1000
    delta = 1000
    duration = delta * len(frames)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")

    entry = (struct.pack(">I", 86) + codec + b"\x00" * 6
             + struct.pack(">H", 1) + b"\x00" * 16
             + struct.pack(">HH", width, height)
             + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
             + struct.pack(">I", 0) + struct.pack(">H", 1)
             + b"\x00" * 32 + struct.pack(">H", 24)
             + struct.pack(">h", -1))
    stsd = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, struct.pack(">III", 1, len(frames), delta))
    stsc = _full(b"stsc", 0, struct.pack(">IIII", 1, 1, len(frames), 1))
    stsz = _full(b"stsz", 0, struct.pack(">II", 0, len(frames))
                 + b"".join(struct.pack(">I", len(f)) for f in frames))
    # stco chunk offset is patched after the header length is known
    stco_body = struct.pack(">II", 1, 0)
    stco = _full(b"stco", 0, stco_body)
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)

    url = _full(b"url ", 1, b"")  # flag 1: data in this file
    dref = _full(b"dref", 0, struct.pack(">I", 1) + url)
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    hdlr = _full(b"hdlr", 0, struct.pack(">I", 0) + b"vide"
                 + b"\x00" * 12 + b"tegola_spark video\x00")
    mdhd = _full(b"mdhd", 0, struct.pack(">IIIIHH", 0, 0, timescale,
                                         duration, 0x55C4, 0))
    mdia = _box(b"mdia", mdhd + hdlr + minf)

    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                         0x40000000)
    tkhd = _full(b"tkhd", 0, struct.pack(">IIIII", 0, 0, 1, 0, duration)
                 + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0) + matrix
                 + struct.pack(">II", width << 16, height << 16))
    # tkhd needs flags=enabled(1)|in_movie(2): the fullbox is
    # size(4)+type(4)+version(1)+flags(3), so flags are bytes 9-11
    tkhd = tkhd[:10] + b"\x00\x03" + tkhd[12:]
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", 0, struct.pack(">IIII", 0, 0, timescale, duration)
                 + struct.pack(">IHH", 0x00010000, 0x0100, 0)
                 + b"\x00" * 8 + matrix + b"\x00" * 24
                 + struct.pack(">I", 2))
    moov = _box(b"moov", mvhd + trak)

    mdat_payload = b"".join(frames)
    header_len = len(ftyp) + len(moov) + 8  # + mdat box header
    # patch the single chunk offset (points at mdat payload start)
    idx = moov.find(stco)
    assert idx >= 0
    patched = _full(b"stco", 0, struct.pack(">II", 1, header_len))
    moov = moov[:idx] + patched + moov[idx + len(stco):]
    return ftyp + moov + _box(b"mdat", mdat_payload)
