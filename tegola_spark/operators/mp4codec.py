"""Pure-stdlib MP4 (ISO BMFF, ISO/IEC 14496-12) box parser.

Closes the round-2 "mp4 video is fully stubbed" gap to the extent
possible without a codec library: the CONTAINER layer — box walk,
ftyp brand, mvhd/mdhd durations, tkhd/stsd video dimensions + codec
fourcc, and the stsz/stsc/stco/co64 sample tables — is fully parsed,
so frame-sample extraction (the multimodal pipeline's "pick every Nth
frame" stage) returns the REAL per-sample byte ranges from the file.
Only the entropy-coded sample payloads themselves (H.264/HEVC NAL
units) still need an external decoder; ``decode_mp4`` returns
``pixels=None`` for them, exactly like the header-only image paths.

The tests build their MP4 inputs with a minimal single-track writer
(tests/media_fixtures.py).

Reference analog: tegola has no media pipeline; this supports the
engine-extra multimodal columns (BASELINE.json input_hint: web corpus
with opaque media payloads).
"""

from __future__ import annotations

import struct

import numpy as np


class Mp4Error(ValueError):
    pass


# ---------------------------------------------------------------------------
# box walk
# ---------------------------------------------------------------------------

def _boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end).
    Handles 64-bit largesize (size==1) and to-end-of-file (size==0)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, pos)
        fourcc = buf[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise Mp4Error("truncated largesize box")
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise Mp4Error(f"box {fourcc!r} overruns container")
        yield fourcc, body, pos + size
        pos += size


def _find(buf: bytes, start: int, end: int, path: list[bytes]):
    """First box matching the fourcc path; returns (body_start, body_end)
    or None."""
    for fourcc, b0, b1 in _boxes(buf, start, end):
        if fourcc == path[0]:
            if len(path) == 1:
                return b0, b1
            return _find(buf, b0, b1, path[1:])
    return None


def _fullbox(buf: bytes, pos: int) -> tuple[int, int]:
    """(version, body_start_after_version_flags)."""
    return buf[pos], pos + 4


# ---------------------------------------------------------------------------
# parse
# ---------------------------------------------------------------------------

def _parse_stbl(buf: bytes, b0: int, b1: int) -> dict:
    out: dict = {}
    for fourcc, s0, s1 in _boxes(buf, b0, b1):
        if fourcc == b"stsd":
            _, p = _fullbox(buf, s0)
            (n_entries,) = struct.unpack_from(">I", buf, p)
            if n_entries >= 1:
                (esize,) = struct.unpack_from(">I", buf, p + 4)
                entry = p + 4
                out["codec"] = buf[entry + 4:entry + 8].decode(
                    "latin-1", "replace")
                # VisualSampleEntry: 8B SampleEntry + 16B predefined,
                # then width/height uint16 (14496-12 §12.1.3)
                if esize >= 36:
                    w, h = struct.unpack_from(">HH", buf, entry + 8 + 24)
                    if w and h:
                        out["width"], out["height"] = int(w), int(h)
        elif fourcc == b"stsz":
            _, p = _fullbox(buf, s0)
            uniform, count = struct.unpack_from(">II", buf, p)
            out["n_samples"] = int(count)
            if uniform:
                out["sizes"] = np.full(count, uniform, dtype=np.int64)
            else:
                out["sizes"] = np.frombuffer(
                    buf, dtype=">u4", count=count, offset=p + 8
                ).astype(np.int64)
        elif fourcc == b"stsc":
            _, p = _fullbox(buf, s0)
            (count,) = struct.unpack_from(">I", buf, p)
            out["stsc"] = np.frombuffer(
                buf, dtype=">u4", count=count * 3, offset=p + 4
            ).astype(np.int64).reshape(-1, 3)  # first_chunk, spc, sdi
        elif fourcc in (b"stco", b"co64"):
            _, p = _fullbox(buf, s0)
            (count,) = struct.unpack_from(">I", buf, p)
            dt = ">u4" if fourcc == b"stco" else ">u8"
            out["chunk_offsets"] = np.frombuffer(
                buf, dtype=dt, count=count, offset=p + 4).astype(np.int64)
        elif fourcc == b"stts":
            _, p = _fullbox(buf, s0)
            (count,) = struct.unpack_from(">I", buf, p)
            out["stts"] = np.frombuffer(
                buf, dtype=">u4", count=count * 2, offset=p + 4
            ).astype(np.int64).reshape(-1, 2)  # sample_count, delta
    return out


def _parse_trak(buf: bytes, b0: int, b1: int) -> dict:
    trk: dict = {"handler": None, "timescale": 0, "duration": 0}
    for fourcc, s0, s1 in _boxes(buf, b0, b1):
        if fourcc == b"tkhd":
            ver, p = _fullbox(buf, s0)
            # width/height: last 8 bytes of tkhd, 16.16 fixed
            w, h = struct.unpack_from(">II", buf, s1 - 8)
            if w and h:
                trk["width"] = w >> 16
                trk["height"] = h >> 16
        elif fourcc == b"mdia":
            for mf, m0, m1 in _boxes(buf, s0, s1):
                if mf == b"mdhd":
                    ver, p = _fullbox(buf, m0)
                    if ver == 1:
                        ts, dur = struct.unpack_from(">IQ", buf, p + 16)
                    else:
                        ts, dur = struct.unpack_from(">II", buf, p + 8)
                    trk["timescale"], trk["duration"] = int(ts), int(dur)
                elif mf == b"hdlr":
                    trk["handler"] = buf[m0 + 8:m0 + 12].decode(
                        "latin-1", "replace")
                elif mf == b"minf":
                    stbl = _find(buf, m0, m1, [b"stbl"])
                    if stbl:
                        trk.update(_parse_stbl(buf, *stbl))
    return trk


def parse_mp4(b: bytes) -> dict:
    """Full container parse: brand, movie duration, per-track metadata
    and sample tables. Raises Mp4Error on malformed input."""
    b = bytes(b)
    if len(b) < 16 or b[4:8] != b"ftyp":
        raise Mp4Error("not an ISO-BMFF file (no ftyp)")
    info: dict = {"brand": b[8:12].decode("latin-1", "replace"),
                  "tracks": [], "timescale": 0, "duration": 0}
    moov = _find(b, 0, len(b), [b"moov"])
    if moov is None:
        raise Mp4Error("no moov box")
    for fourcc, s0, s1 in _boxes(b, *moov):
        if fourcc == b"mvhd":
            ver, p = _fullbox(b, s0)
            if ver == 1:
                ts, dur = struct.unpack_from(">IQ", b, p + 16)
            else:
                ts, dur = struct.unpack_from(">II", b, p + 8)
            info["timescale"], info["duration"] = int(ts), int(dur)
        elif fourcc == b"trak":
            info["tracks"].append(_parse_trak(b, s0, s1))
    if info["timescale"]:
        info["duration_s"] = info["duration"] / info["timescale"]
    return info


def sample_ranges(b: bytes, track: dict | None = None) -> np.ndarray:
    """(n_samples, 2) int64 array of (byte_offset, byte_size) resolved
    through stsc/stco/stsz — the real frame-extraction table."""
    if track is None:
        info = parse_mp4(b)
        vids = [t for t in info["tracks"] if t.get("handler") == "vide"]
        if not vids:
            raise Mp4Error("no video track")
        track = vids[0]
    sizes = track.get("sizes")
    stsc = track.get("stsc")
    offs = track.get("chunk_offsets")
    if sizes is None or stsc is None or offs is None:
        raise Mp4Error("incomplete sample tables")
    n = len(sizes)
    out = np.empty((n, 2), dtype=np.int64)
    out[:, 1] = sizes
    si = 0
    n_chunks = len(offs)
    for ei in range(len(stsc)):
        first = int(stsc[ei, 0])
        spc = int(stsc[ei, 1])
        last = int(stsc[ei + 1, 0]) if ei + 1 < len(stsc) else n_chunks + 1
        for ci in range(first, last):
            if ci > n_chunks or si >= n:
                break
            pos = int(offs[ci - 1])
            for _ in range(spc):
                if si >= n:
                    break
                out[si, 0] = pos
                pos += int(sizes[si])
                si += 1
    if si != n:
        raise Mp4Error(f"sample tables inconsistent ({si} of {n} placed)")
    return out


def frame_samples(b: bytes, every_n: int = 1,
                  max_frames: int | None = None) -> list[bytes]:
    """Every Nth video sample's raw bytes (entropy-coded payload) —
    the frame-sample stage's kernel. Deterministic, container-exact."""
    b = bytes(b)
    rng = sample_ranges(b)[::max(1, int(every_n))]
    if max_frames is not None:
        rng = rng[:max_frames]
    return [b[int(o):int(o) + int(s)] for o, s in rng]


def decode_mp4(b: bytes) -> dict:
    """mediacodec decoder-contract entry: real container metadata,
    pixels=None (sample payloads need an external video codec)."""
    info = parse_mp4(b)
    vids = [t for t in info["tracks"] if t.get("handler") == "vide"]
    t = vids[0] if vids else (info["tracks"][0] if info["tracks"] else {})
    return {
        "format": "mp4", "brand": info["brand"],
        "codec": t.get("codec"),
        "width": int(t.get("width", 0)), "height": int(t.get("height", 0)),
        "channels": 3, "bitdepth": 8,
        "n_frames": int(t.get("n_samples", 0)),
        "duration_s": float(info.get("duration_s", 0.0)),
        "pixels": None, "samples": None,
    }
