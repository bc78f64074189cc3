"""Ellipsoidal WGS84 -> WebMercator (reference operator P8).

tegola does NOT use the standard spherical EPSG:3857 formula; it uses an
ellipsoidal variant (maths/webmercator/main.go:14-88) with
RMajor=6378137.0, RMinor=6356752.3142 and an eccentricity correction
``con(phi) = ((1 - e sin(phi)) / (1 + e sin(phi)))^(e/2)``.  Byte-parity
with the reference requires these exact formulas — see SURVEY.md §7.4(6).

NumPy-vectorized; used inside Arrow pandas UDFs (no per-row Python).
"""

from __future__ import annotations

import math

import numpy as np

R_MAJOR = 6378137.0
R_MINOR = 6356752.3142
RATIO = R_MINOR / R_MAJOR
ECCENT = math.sqrt(1.0 - RATIO * RATIO)
COM = 0.5 * ECCENT


def _con(phi):
    v = ECCENT * np.sin(phi)
    return np.power((1.0 - v) / (1.0 + v), COM)


def lon_to_x(lon):
    """maths/webmercator/main.go:57-60: x = RMajor * rad(lon)."""
    lon = np.asarray(lon, dtype=np.float64)
    return R_MAJOR * (lon * math.pi / 180.0)


def lat_to_y(lat):
    """maths/webmercator/main.go:62-68 — lat clamped to ±89.5 first."""
    lat = np.asarray(lat, dtype=np.float64)
    lat = np.minimum(89.5, np.maximum(lat, -89.5))
    phi = lat * math.pi / 180.0
    ts = np.tan(0.5 * (math.pi * 0.5 - phi)) / _con(phi)
    return 0.0 - R_MAJOR * np.log(ts)
