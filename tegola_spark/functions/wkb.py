"""WKB geometry codec (reference operator E9) + the in-UDF geometry model.

The engine moves geometry between Spark stages as WKB ``binary`` columns
(standards-compliant, Arrow-friendly) and decodes to NumPy coordinate
arrays inside pandas UDFs — mirroring how tegola moves WKB from its
providers into its geometry pipeline
(vendor/.../geom/encoding/wkb/wkb.go:1-97; provider/postgis/postgis.go:299-316).

In-UDF geometry model (ragged NumPy, 2D only — Z/M are not supported,
matching the reference which drops/rejects them, SURVEY.md §1.2):

    ("Point",            np.ndarray (2,))
    ("MultiPoint",       np.ndarray (n, 2))
    ("LineString",       np.ndarray (n, 2))
    ("MultiLineString",  [np.ndarray (n_i, 2), ...])
    ("Polygon",          [ring0, ring1, ...]   each np.ndarray (n_i, 2))
    ("MultiPolygon",     [[ring, ...], ...])

shapely is not available in this environment; this codec is a minimal
from-scratch implementation of the OGC WKB wire format (2D, both byte
orders on decode, little-endian on encode).
"""

from __future__ import annotations

import struct

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOINT = 4
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6
WKB_GEOMETRYCOLLECTION = 7

_TYPE_CODE = {
    "Point": WKB_POINT,
    "LineString": WKB_LINESTRING,
    "Polygon": WKB_POLYGON,
    "MultiPoint": WKB_MULTIPOINT,
    "MultiLineString": WKB_MULTILINESTRING,
    "MultiPolygon": WKB_MULTIPOLYGON,
    # geom.Collection (reference geometry.go:58-62); data = [geometry
    # tuple, ...]. Flattened to per-geometry features at MVT encode
    # (mvt/feature.go:48-67) and skipped when empty (atlas/map.go:232-236).
    "GeometryCollection": WKB_GEOMETRYCOLLECTION,
}
_CODE_TYPE = {v: k for k, v in _TYPE_CODE.items()}


def _coords_bytes(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr, dtype="<f8").tobytes()


def encode(geom) -> bytes:
    """Geometry tuple -> WKB bytes (little-endian, 2D)."""
    gtype, data = geom
    code = _TYPE_CODE[gtype]
    head = struct.pack("<BI", 1, code)
    if gtype == "Point":
        return head + _coords_bytes(np.asarray(data, dtype=np.float64).reshape(2))
    if gtype == "LineString":
        arr = np.asarray(data, dtype=np.float64).reshape(-1, 2)
        return head + struct.pack("<I", len(arr)) + _coords_bytes(arr)
    if gtype == "Polygon":
        parts = [head, struct.pack("<I", len(data))]
        for ring in data:
            arr = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
            parts.append(struct.pack("<I", len(arr)))
            parts.append(_coords_bytes(arr))
        return b"".join(parts)
    if gtype == "MultiPoint":
        arr = np.asarray(data, dtype=np.float64).reshape(-1, 2)
        parts = [head, struct.pack("<I", len(arr))]
        for pt in arr:
            parts.append(encode(("Point", pt)))
        return b"".join(parts)
    if gtype == "MultiLineString":
        parts = [head, struct.pack("<I", len(data))]
        for line in data:
            parts.append(encode(("LineString", line)))
        return b"".join(parts)
    if gtype == "MultiPolygon":
        parts = [head, struct.pack("<I", len(data))]
        for rings in data:
            parts.append(encode(("Polygon", rings)))
        return b"".join(parts)
    if gtype == "GeometryCollection":
        parts = [head, struct.pack("<I", len(data))]
        for sub in data:
            parts.append(encode(sub))
        return b"".join(parts)
    raise ValueError(f"unsupported geometry type {gtype!r}")


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def geometry(self):
        order = self.buf[self.pos]
        self.pos += 1
        endian = "<" if order == 1 else ">"
        (code,) = struct.unpack_from(endian + "I", self.buf, self.pos)
        self.pos += 4
        code &= 0xFF  # strip EWKB/ISO dimension flags; 2D payloads only
        gtype = _CODE_TYPE.get(code)
        if gtype is None:
            raise ValueError(f"unsupported WKB geometry code {code}")
        if gtype == "Point":
            return ("Point", self._coords(endian, 1).reshape(2))
        if gtype == "LineString":
            return ("LineString", self._coords(endian, self._u32(endian)))
        if gtype == "Polygon":
            nrings = self._u32(endian)
            return ("Polygon", [self._coords(endian, self._u32(endian)) for _ in range(nrings)])
        n = self._u32(endian)
        subs = [self.geometry() for _ in range(n)]
        if gtype == "MultiPoint":
            pts = np.array([s[1] for s in subs], dtype=np.float64).reshape(-1, 2)
            return ("MultiPoint", pts)
        if gtype == "MultiLineString":
            return ("MultiLineString", [s[1] for s in subs])
        if gtype == "GeometryCollection":
            return ("GeometryCollection", subs)
        return ("MultiPolygon", [s[1] for s in subs])

    def _u32(self, endian) -> int:
        (v,) = struct.unpack_from(endian + "I", self.buf, self.pos)
        self.pos += 4
        return v

    def _coords(self, endian, n) -> np.ndarray:
        nbytes = 16 * n
        arr = np.frombuffer(self.buf, dtype=endian + "f8", count=2 * n, offset=self.pos)
        self.pos += nbytes
        return arr.reshape(n, 2).astype(np.float64)


def decode(buf: bytes):
    """WKB bytes -> geometry tuple."""
    return _Reader(bytes(buf)).geometry()


def soa_to_geometry(code, coords, ring_lens, poly_lens=None):
    """Ring-SoA shuffle transport -> geometry tuple, no byte parsing:
    ``coords`` is the flat interleaved (x, y, x, y, ...) double array,
    ``ring_lens`` the per-ring vertex counts, ``poly_lens`` (MultiPolygon
    only) the per-polygon ring counts. Output is structurally identical
    to :func:`decode`'s tuples — same (n, 2) float64 ring arrays — so
    every downstream kernel (reproject/quantize/clip/make-valid) is
    byte-for-byte unaffected; only the codec work disappears. This is
    the round-3 VERDICT 'SoA transport for ring geometries' item: the
    polygon stream ships these three plain Arrow columns instead of WKB
    blobs, and the encode kernel's per-feature loop no longer parses
    bytes."""
    pts = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
    lens = np.asarray(ring_lens, dtype=np.int64)
    rings = np.split(pts, np.cumsum(lens)[:-1]) if len(lens) else []
    code = int(code)
    if code == WKB_LINESTRING:
        return ("LineString", rings[0] if rings else pts)
    if code == WKB_MULTILINESTRING:
        return ("MultiLineString", rings)
    if code == WKB_POLYGON:
        return ("Polygon", rings)
    if code == WKB_MULTIPOLYGON:
        out = []
        k = 0
        for c in np.asarray(poly_lens, dtype=np.int64):
            out.append(rings[k:k + int(c)])
            k += int(c)
        return ("MultiPolygon", out)
    raise ValueError(f"unsupported SoA geometry code {code}")


def flatten_collection(geom):
    """NewFeatures (mvt/feature.go:48-67): a Collection flattens
    recursively into its member geometries; any other geometry yields
    itself. Empty collections yield nothing (atlas/map.go:232-236)."""
    gtype, data = geom
    if gtype != "GeometryCollection":
        return [geom]
    out = []
    for sub in data:
        out.extend(flatten_collection(sub))
    return out


def map_coords(geom, fn):
    """Apply ``fn(arr (n,2)) -> arr (n,2)`` to every coordinate array —
    the vectorized analog of tegola's ApplyToPoints (basic/geometry_math.go:15-120)."""
    gtype, data = geom
    if gtype == "GeometryCollection":
        return (gtype, [map_coords(sub, fn) for sub in data])
    if gtype == "Point":
        return (gtype, fn(np.asarray(data, dtype=np.float64).reshape(1, 2)).reshape(2))
    if gtype in ("MultiPoint", "LineString"):
        return (gtype, fn(np.asarray(data, dtype=np.float64).reshape(-1, 2)))
    if gtype in ("Polygon", "MultiLineString"):
        return (gtype, [fn(np.asarray(a, dtype=np.float64).reshape(-1, 2)) for a in data])
    return (gtype, [[fn(np.asarray(r, dtype=np.float64).reshape(-1, 2)) for r in rings] for rings in data])
