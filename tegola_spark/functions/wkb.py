"""The struct-of-arrays (SoA) geometry transport and the in-kernel
geometry model.

Geometry crosses Spark stages as plain Arrow columns, never as encoded
blobs, in one of two forms:

- a point as two DOUBLE columns ``lon``/``lat`` (the corpus points and
  the debug tile centers);
- a line or polygon as ring-SoA: ``coords`` (the flat interleaved
  x, y, x, y, ... double array), ``ring_lens`` (vertices per ring),
  ``poly_lens`` (rings per polygon, MultiPolygon only) and ``gkind``,
  the OGC WKB geometry type code below.

The encode kernel turns a row of either form into a geometry tuple
(ragged NumPy, 2D only — Z/M are not supported, matching the
reference which drops/rejects them, SURVEY.md §1.2):

    ("Point",            np.ndarray (2,))
    ("LineString",       np.ndarray (n, 2))
    ("MultiLineString",  [np.ndarray (n_i, 2), ...])
    ("Polygon",          [ring0, ring1, ...]   each np.ndarray (n_i, 2))
    ("MultiPolygon",     [[ring, ...], ...])

Neither form can carry a GeometryCollection. tegola moves WKB from its
PostGIS/GPKG providers into this pipeline
(vendor/.../geom/encoding/wkb/wkb.go:1-97); this engine's sources build
the columns directly, so no byte codec runs on any stage.
"""

from __future__ import annotations

import numpy as np

# OGC WKB geometry type codes: the ``gkind`` values of ring-SoA rows
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTILINESTRING = 5
WKB_MULTIPOLYGON = 6


def soa_to_geometry(code, coords, ring_lens, poly_lens=None):
    """Ring-SoA row -> geometry tuple: ``coords`` split by ``ring_lens``
    into (n, 2) float64 ring arrays, grouped by ``poly_lens`` for a
    MultiPolygon. Every downstream kernel
    (reproject/quantize/clip/make-valid) reads these arrays."""
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


def map_coords(geom, fn):
    """Apply ``fn(arr (n,2)) -> arr (n,2)`` to every coordinate array —
    the vectorized analog of tegola's ApplyToPoints (basic/geometry_math.go:15-120)."""
    gtype, data = geom
    if gtype == "Point":
        return (gtype, fn(np.asarray(data, dtype=np.float64).reshape(1, 2)).reshape(2))
    if gtype == "LineString":
        return (gtype, fn(np.asarray(data, dtype=np.float64).reshape(-1, 2)))
    if gtype in ("Polygon", "MultiLineString"):
        return (gtype, [fn(np.asarray(a, dtype=np.float64).reshape(-1, 2)) for a in data])
    return (gtype, [[fn(np.asarray(r, dtype=np.float64).reshape(-1, 2)) for r in rings] for rings in data])
