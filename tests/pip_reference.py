"""Reference point-in-polygon the spatial join's Catalyst residual is
checked against; no output path runs it."""

from __future__ import annotations

import numpy as np

from tegola_spark.operators.geometry import points_in_rings


def points_in_polygon(points: np.ndarray, geom) -> np.ndarray:
    """Containment against a Polygon or MultiPolygon geometry tuple:
    even-odd over a polygon's rings, polygons ORed."""
    gtype, data = geom
    if gtype == "Polygon":
        return points_in_rings(points, data)
    if gtype == "MultiPolygon":
        out = np.zeros(len(points), dtype=bool)
        for rings in data:
            out |= points_in_rings(points, rings)
        return out
    raise ValueError(f"not a polygon: {gtype}")
