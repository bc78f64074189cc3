"""Slippy tile grid math (reference operators T1-T7, P4, P7).

Semantics derived from go-spatial/tegola:
  - Deg2Num / Num2Deg (lon)      tile.go:110-123
  - slippy lat/lon->tile with the float nudge + lat clamp
                                 vendor/.../geom/slippy/maths.go:19-135
  - tile -> web-mercator extent  tile.go:76-108 (max = 20037508.34)
  - buffered pixel bounds        tile.go:104-107  ([-64,-64,4160,4160])
  - ZEpislon                     tile.go:213-228
  - tile-list ancestor/descendant spans
                                 vendor/.../geom/slippy/tile.go:76-104
  - bounds -> tile range         vendor/.../geom/slippy/tile.go:111-145

Every function exists twice:
  * a NumPy/plain-Python mirror (suffix-free) for UDF kernels + tests
  * a Spark Column-expression builder (``col_`` prefix) so Catalyst can
    constant-fold / push down — tile assignment at scale is PURE SQL,
    no UDF (SURVEY.md §2.9).
"""

from __future__ import annotations

import math

import numpy as np

try:  # Spark optional: pure-math callers (tests, oracles) don't need it
    from pyspark.sql import Column
    from pyspark.sql import functions as F
except ImportError:  # pragma: no cover
    F = None
    Column = None

# Defaults — tile.go:12-17
DEFAULT_TOLERANCE = 10.0
DEFAULT_EXTENT = 4096
DEFAULT_BUFFER = 64.0
MAX_Z = 22

# Web-mercator half-world used by tegola's Tile.Init — tile.go:77
WEBMERCATOR_MAX = 20037508.34

# slippy clamp + nudge constants — vendor/.../slippy/maths.go:19-38
LAT_MAX = 85.05112
LON_MAX = 180.0
FLOAT_VARIANCE = 1e-6
TILE_SIZE = 256.0


# ---------------------------------------------------------------------------
# NumPy mirrors (vectorized; scalars work too)
# ---------------------------------------------------------------------------

def lon2num(lon, z):
    """T2 (x): slippy lon->tile with clamp + 1e-6 nudge.

    vendor/.../slippy/maths.go:100-135: lon <= -180 -> 0;
    lon >= 180 -> 2^z - 1; else trunc((((180+lon)/360)*256*2^z + 1e-6)/256).
    """
    lon = np.asarray(lon, dtype=np.float64)
    n = np.exp2(float(z))
    world = TILE_SIZE * n
    px = (180.0 + lon) / 360.0 * world + FLOAT_VARIANCE
    x = np.trunc(px / TILE_SIZE).astype(np.int64)
    x = np.where(lon <= -LON_MAX, 0, x)
    x = np.where(lon >= LON_MAX, np.int64(n - 1), x)
    return x


def lat2num(lat, z):
    """T2 (y): slippy lat->tile with clamp + 1e-6 nudge.

    vendor/.../slippy/maths.go:55-98: lat < -85.05112 -> 2^z - 1;
    lat > 85.05112 -> 0; else px = ((180 - deg(ln(tan(rad(45+lat/2)))))/360)
    * 256*2^z + 1e-6; y = trunc(px/256).
    """
    lat = np.asarray(lat, dtype=np.float64)
    n = np.exp2(float(z))
    world = TILE_SIZE * n
    rad_lat = (45.0 + lat / 2.0) * math.pi / 180.0
    with np.errstate(invalid="ignore", divide="ignore"):
        lat_norm = np.log(np.tan(rad_lat))
    py = (180.0 - lat_norm * 180.0 / math.pi) / 360.0 * world + FLOAT_VARIANCE
    y = np.trunc(py / TILE_SIZE).astype(np.int64)
    y = np.where(lat < -LAT_MAX, np.int64(n - 1), y)
    y = np.where(lat > LAT_MAX, 0, y)
    return y


def tile2lat_slippy(y, z):
    """slippy y2deg — vendor/.../slippy/maths.go:149-153 (NO y=0 special
    case, unlike tegola's Tile2Lat)."""
    y = np.asarray(y, dtype=np.float64)
    n = math.pi - 2.0 * math.pi * y / np.exp2(float(z))
    return 180.0 / math.pi * np.arctan(0.5 * (np.exp(n) - np.exp(-n)))


# Spherical mercator radius used by the slippy/proj tile-extent path:
# proj def "+proj=merc +a=6378137 +b=6378137" (vendor/.../proj/core;
# vendor/.../slippy/tile_grid.go:122-130). NOTE: tile EXTENTS are
# spherical while FEATURE reprojection is ellipsoidal
# (maths/webmercator/main.go) — this asymmetry is the reference's
# actual behavior and we reproduce it.
SPHERICAL_R = 6378137.0


def merc_x_spherical(lon):
    lon = np.asarray(lon, dtype=np.float64)
    return SPHERICAL_R * lon * math.pi / 180.0


def merc_y_spherical(lat):
    lat = np.asarray(lat, dtype=np.float64)
    return SPHERICAL_R * np.log(np.tan(math.pi / 4.0 + lat * math.pi / 360.0))


def tile_extent_3857(z, x, y):
    """The extent the atlas pipeline actually quantizes against
    (provider/provider.go:95-105 -> slippy.Extent -> Grid.ToNative):
    spherical web-mercator of the corner lon/lats, composed through
    x2deg/y2deg exactly. Returns normalized (minx, miny, maxx, maxy)
    (geom.NewExtentFromPoints sorts)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = np.exp2(float(z))
    lon0 = x / n * 360.0 - 180.0
    lon1 = (x + 1) / n * 360.0 - 180.0
    lat0 = tile2lat_slippy(y, z)      # top
    lat1 = tile2lat_slippy(np.asarray(y) + 1, z)  # bottom
    return (
        merc_x_spherical(lon0),
        merc_y_spherical(lat1),
        merc_x_spherical(lon1),
        merc_y_spherical(lat0),
    )


def zepsilon(z):
    """T7: Douglas-Peucker tolerance for zoom z — tile.go:213-228."""
    if z == MAX_Z:
        return 0.0
    return DEFAULT_TOLERANCE / (math.exp2(float(z)) * DEFAULT_EXTENT)


def buffered_pixel_bounds():
    """Pixel-space clip region — tile.go:104-107: [-64,-64,4160,4160]."""
    return (-DEFAULT_BUFFER, -DEFAULT_BUFFER,
            DEFAULT_EXTENT + DEFAULT_BUFFER, DEFAULT_EXTENT + DEFAULT_BUFFER)


def tile_range_for_bounds(min_lon, min_lat, max_lon, max_lat, z):
    """T5: inclusive tile index range covering a lon/lat bounds at z.

    vendor/.../slippy/tile.go:111-145 (FromBounds): corner tiles via the
    nudged slippy conversion, iterate the inclusive x/y range.
    Returns (x0, x1, y0, y1) with x0<=x1, y0<=y1.
    """
    x0 = int(lon2num(min_lon, z))
    x1 = int(lon2num(max_lon, z))
    y0 = int(lat2num(max_lat, z))  # larger lat -> smaller y
    y1 = int(lat2num(min_lat, z))
    return min(x0, x1), max(x0, x1), min(y0, y1), max(y0, y1)


def tiles_for_bounds(min_lon, min_lat, max_lon, max_lat, zooms):
    """T5 fan-out: list of (z, x, y) covering bounds at each zoom.

    Mirrors the seed tile generator cmd/tegola/cmd/cache/seed_purge.go:232-266.
    """
    out = []
    for z in zooms:
        x0, x1, y0, y1 = tile_range_for_bounds(min_lon, min_lat, max_lon, max_lat, z)
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                out.append((z, x, y))
    return out


def parse_tile_name(line: str):
    """Default z/x/y tile-name format (cmd/tegola/cmd/cache/format.go:18);
    blank lines skipped by the caller."""
    parts = line.strip().split("/")
    if len(parts) != 3:
        raise ValueError(f"bad tile name {line!r} (want z/x/y)")
    z, x, y = (int(p) for p in parts)
    if z < 0 or z > MAX_Z:
        raise ValueError(f"tile out of range: {line!r}")
    n = 1 << z
    if not (0 <= x < n) or not (0 <= y < n):
        raise ValueError(f"tile out of range: {line!r}")
    return z, x, y


def tile_spans_from_list(entries, zooms=None, explicit: bool = False):
    """S11 tile-list expansion as inclusive (z, x0, x1, y0, y1)
    ranges, one per (entry, zoom) — O(entries x zooms) driver-side work
    regardless of zoom delta. The reference streams the 4^dz descendant
    expansion through a channel (tile_list_generator.go); the Spark analog
    expands these spans distributively with sequence()+explode, so a z0
    entry expanded to z14 (~268M tiles) never materializes on the driver."""
    spans = []
    for e in entries:
        z, x, y = parse_tile_name(e) if isinstance(e, str) else tuple(e)
        if explicit or not zooms:
            spans.append((z, x, x, y, y))
            continue
        for tz in zooms:
            if tz <= z:
                d = z - tz
                spans.append((tz, x >> d, x >> d, y >> d, y >> d))
            else:
                d = tz - z
                spans.append((tz, x << d, ((x + 1) << d) - 1,
                              y << d, ((y + 1) << d) - 1))
    return spans


# ---------------------------------------------------------------------------
# Spark Column expressions (JVM-side, codegen'd; used in the hot path)
# ---------------------------------------------------------------------------

def col_lon2num(lon: "Column", z: "Column | int") -> "Column":
    """Column form of :func:`lon2num` — stays inside WholeStageCodegen."""
    zc = F.lit(z) if isinstance(z, int) else z
    n = F.pow(F.lit(2.0), zc.cast("double"))
    world = F.lit(TILE_SIZE) * n
    px = (F.lit(180.0) + lon) / F.lit(360.0) * world + F.lit(FLOAT_VARIANCE)
    x = (px / F.lit(TILE_SIZE)).cast("long")  # trunc toward zero, px >= 0
    return (
        F.when(lon <= F.lit(-LON_MAX), F.lit(0).cast("long"))
        .when(lon >= F.lit(LON_MAX), (n - 1).cast("long"))
        .otherwise(x)
    )


def col_lat2num(lat: "Column", z: "Column | int") -> "Column":
    """Column form of :func:`lat2num`."""
    zc = F.lit(z) if isinstance(z, int) else z
    n = F.pow(F.lit(2.0), zc.cast("double"))
    world = F.lit(TILE_SIZE) * n
    rad_lat = (F.lit(45.0) + lat / F.lit(2.0)) * F.lit(math.pi / 180.0)
    lat_norm = F.log(F.tan(rad_lat))
    py = (
        (F.lit(180.0) - lat_norm * F.lit(180.0 / math.pi))
        / F.lit(360.0) * world + F.lit(FLOAT_VARIANCE)
    )
    y = (py / F.lit(TILE_SIZE)).cast("long")
    return (
        F.when(lat < F.lit(-LAT_MAX), (n - 1).cast("long"))
        .when(lat > F.lit(LAT_MAX), F.lit(0).cast("long"))
        .otherwise(y)
    )


def col_tile_extent(z: "Column", x: "Column", y: "Column"):
    """T3: tile -> web-mercator extent, normalized to (minx, miny, maxx,
    maxy) from tegola's (minx, maxy, maxx, miny) (tile.go:76-90)."""
    res = (F.lit(WEBMERCATOR_MAX) * F.lit(2.0)) / F.pow(F.lit(2.0), z.cast("double"))
    minx = F.lit(-WEBMERCATOR_MAX) + x.cast("double") * res
    maxy = F.lit(WEBMERCATOR_MAX) - y.cast("double") * res
    return minx, maxy - res, minx + res, maxy


def col_morton(x: "Column", y: "Column", bits: int = 16) -> "Column":
    """Morton (Z-order) interleave of two tile coordinates: x occupies
    the even output bits, y the odd — the space-filling-curve sort key
    behind OPTIMIZE ZORDER-style data layout. Writing the tile sink
    range-partitioned by this key colocates spatially-near tiles in
    the same files, so a bbox scan prunes file ranges instead of
    scattering random reads (sources/sinks.py's z-partitioned layout
    is the per-zoom half; this is the within-zoom half).

    Pure integer bit arithmetic (``bits`` terms of shift/mask/shift,
    whole-stage-codegen friendly, no UDF); exact for coordinates below
    2**bits.
    """
    total = F.lit(0).cast("long")
    for i in range(bits):
        total = (
            total
            + F.shiftleft(
                F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return total
