"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct, derived in an Arrow-batched ``mapInPandas`` stage.
Nothing parses a payload: its media type is sniffed from the magic
prefix, and its dims and feature vector are a deterministic stub
computed from its length and first bytes. There is no decoder because
no output supplies media: the corpus's only binary column is the
rendered ``html`` page (``media_from_pages``), which always sniffs as
``application/octet-stream``.

Scale notes: payload columns must NEVER pass through a wide shuffle;
derive features early, project the payload away, and let the narrow
feature columns shuffle. ``decode_media`` is written as mapInPandas
(per-partition batch iterator) so payload bytes stream through Arrow
once.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload_len long, "
    "width int, height int, n_frames int, feature array<float>"
)

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"BM", "image/bmp"),
    (b"RIFF", "audio/wav"),
]


def sniff_media_type(payload: bytes) -> str:
    for magic, mt in _MAGIC:
        if payload[: len(magic)] == magic:
            return mt
    # ISO-BMFF: first box is ftyp; the 4-byte size prefix varies
    if payload[4:8] == b"ftyp":
        return "video/mp4"
    return "application/octet-stream"


def _stub_features(payload: bytes) -> np.ndarray:
    """Deterministic fake 8-float feature vector derived from payload
    bytes — stands in for an embedding so the downstream plumbing is
    real."""
    arr = np.frombuffer(payload[:1024], dtype=np.uint8).astype(np.float32)
    if len(arr) == 0:
        return np.zeros(8, dtype=np.float32)
    chunks = np.array_split(arr, 8)
    return np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)


def decode_media(df: DataFrame) -> DataFrame:
    """mapInPandas metadata stage: sniff each payload's type from its
    magic prefix (column ``payload``, keyed by ``doc_id``) and give it
    the deterministic stub dims (width
    ``16 + len % 1024``, height ``16 + len % 768``, one frame for images
    and ``1 + len % 30`` otherwise) and stub features. The payload is
    opaque, never decoded, whatever its prefix; the payload column is
    PROJECTED AWAY in the output."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            ids = pdf["doc_id"]
            rows = []
            for i, b in zip(ids, payloads):
                b = bytes(b) if b is not None else b""
                mt = sniff_media_type(b)
                n = len(b)
                frames = 1 if mt.startswith("image") else 1 + n % 30
                rows.append((int(i), mt, n, 16 + n % 1024, 16 + n % 768,
                             frames, _stub_features(b).tolist()))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "media_type", "payload_len", "width", "height",
                "n_frames", "feature"])

    return df.mapInPandas(fn, MEDIA_SCHEMA)


def media_from_pages(pages: DataFrame) -> DataFrame:
    """Treat the html payload as the opaque media column (the corpus has
    no real images; the plumbing is identical)."""
    return pages.select("doc_id", F.col("html").alias("payload"))
