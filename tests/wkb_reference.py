"""Reference geometry-extent algebra the geometry and tile tests check
geometry tuples by; no output path runs it."""

from __future__ import annotations

import numpy as np


def bbox(geom):
    """(minx, miny, maxx, maxy) of any geometry tuple (E8 extent algebra)."""
    gtype, data = geom
    if gtype == "Point":
        x, y = float(data[0]), float(data[1])
        return (x, y, x, y)
    if gtype in ("MultiPoint", "LineString"):
        arr = np.asarray(data)
        return (
            float(arr[:, 0].min()), float(arr[:, 1].min()),
            float(arr[:, 0].max()), float(arr[:, 1].max()),
        )
    if gtype in ("Polygon", "MultiLineString"):
        arrs = [np.asarray(a) for a in data if len(a)]
    else:  # MultiPolygon
        arrs = [np.asarray(r) for rings in data for r in rings if len(r)]
    xs = np.concatenate([a[:, 0] for a in arrs])
    ys = np.concatenate([a[:, 1] for a in arrs])
    return (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))
