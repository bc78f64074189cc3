"""mp4codec: ISO-BMFF container round-trip + sample-table resolution.

The writer emits a minimal single-track file; the parser must recover
brand, codec, dimensions, frame count, duration and the exact
per-sample byte ranges (the frame-sample stage's kernel).
"""

import struct

import numpy as np
import pytest

import media_fixtures as fx
from tegola_spark.operators import mp4codec as M


def _frames(n=12, seed=7):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=int(sz), dtype=np.uint8).tobytes()
            for sz in rng.integers(40, 400, size=n)]


def test_roundtrip_metadata():
    frames = _frames()
    b = fx.encode_mp4(frames, width=320, height=240, fps=30)
    info = M.parse_mp4(b)
    assert info["brand"] == "isom"
    assert info["duration_s"] == pytest.approx(len(frames) / 30.0)
    (t,) = info["tracks"]
    assert t["handler"] == "vide"
    assert t["codec"] == "mp4v"
    assert (t["width"], t["height"]) == (320, 240)
    assert t["n_samples"] == len(frames)


def test_frame_samples_bit_exact():
    frames = _frames(n=9, seed=3)
    b = fx.encode_mp4(frames, width=64, height=64)
    assert M.frame_samples(b) == frames
    assert M.frame_samples(b, every_n=3) == frames[::3]
    assert M.frame_samples(b, every_n=2, max_frames=2) == frames[::2][:2]


def test_sample_ranges_within_mdat():
    frames = _frames(n=5, seed=11)
    b = fx.encode_mp4(frames, width=16, height=16)
    rng = M.sample_ranges(b)
    assert rng.shape == (5, 2)
    assert (rng[:, 1] == np.array([len(f) for f in frames])).all()
    # contiguous single chunk
    assert (rng[1:, 0] == rng[:-1, 0] + rng[:-1, 1]).all()
    for (o, s), f in zip(rng, frames):
        assert b[int(o):int(o) + int(s)] == f


def test_decode_contract():
    b = fx.encode_mp4(_frames(n=4), width=128, height=96, fps=24)
    d = M.decode_mp4(b)
    assert d["format"] == "mp4"
    assert (d["width"], d["height"], d["n_frames"]) == (128, 96, 4)
    assert d["pixels"] is None and d["samples"] is None
    assert d["duration_s"] == pytest.approx(4 / 24.0)


def test_multi_stsc_entries():
    """Hand-built stsc with varying samples-per-chunk resolves offsets
    chunk by chunk (the non-uniform path of sample_ranges)."""
    sizes = np.array([10, 20, 30, 40, 50], dtype=np.int64)
    # chunks: #1 has 2 samples, #2..: 3 samples
    track = {
        "sizes": sizes,
        "stsc": np.array([[1, 2, 1], [2, 3, 1]], dtype=np.int64),
        "chunk_offsets": np.array([100, 1000], dtype=np.int64),
    }
    rng = M.sample_ranges(b"", track=track)
    assert rng.tolist() == [[100, 10], [110, 20],
                            [1000, 30], [1030, 40], [1070, 50]]


def test_malformed_rejected():
    with pytest.raises(M.Mp4Error):
        M.parse_mp4(b"\x00\x00\x00\x08free")
    with pytest.raises(M.Mp4Error):
        M.parse_mp4(b"not a container at all")
    # ftyp present but box overruns the buffer
    bad = struct.pack(">I", 4096) + b"ftypisom" + b"\x00" * 8
    with pytest.raises(M.Mp4Error):
        M.parse_mp4(bad)
    # valid ftyp, no moov
    ok_ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
    with pytest.raises(M.Mp4Error):
        M.parse_mp4(ok_ftyp + struct.pack(">I", 8) + b"free")


def test_largesize_and_size0_boxes():
    frames = _frames(n=3, seed=5)
    b = fx.encode_mp4(frames, width=32, height=32)
    # rewrap the trailing mdat as a largesize box: same payload
    idx = b.rfind(b"mdat")
    payload = b[idx + 4:]
    large = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload)) + payload
    b2 = b[:idx - 4] + large
    # sample offsets shift by the 8 extra header bytes -> patch stco
    sidx = b2.find(b"stco")
    (old_off,) = struct.unpack_from(">I", b2, sidx + 12)
    b2 = b2[:sidx + 12] + struct.pack(">I", old_off + 8) + b2[sidx + 16:]
    assert M.frame_samples(b2) == frames


def test_tkhd_flags_track_enabled_in_movie():
    """ISO-BMFF fullbox flags occupy bytes 9-11 of the box; the fixture
    must carry flags=0x000003 (track_enabled|track_in_movie), not
    0x000300 (round-3 ADVICE finding)."""
    b = fx.encode_mp4(_frames(n=2, seed=7), width=16, height=16)
    i = b.find(b"tkhd")
    assert i >= 0
    version = b[i + 4]
    flags = int.from_bytes(b[i + 5:i + 8], "big")
    assert version == 0
    assert flags == 0x000003
