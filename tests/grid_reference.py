"""Reference tile math the grid tests compare output-path functions
against; no output path runs these."""

from __future__ import annotations

import math

import numpy as np

from tegola_spark.functions import cells, grid


def deg2num(lon, lat, z):
    """T1: lon/lat -> (x, y) tile, tegola's own formula (tile.go:110-115).

    No clamps, no nudge — int(floor(.)) semantics. Vectorized.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.exp2(float(z))
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    rad = lat * math.pi / 180.0
    y = np.floor(
        (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n
    ).astype(np.int64)
    return x, y


def tiles_from_list(entries, zooms=None, explicit: bool = False):
    """S11 tile-list source expansion (generateTilesForTileList,
    cmd/tegola/cmd/cache/tile_list_generator.go): each listed tile is
    emitted as-is when ``explicit`` (or no zooms given); otherwise it
    expands across ``zooms`` to its ancestor at each shallower zoom
    and ALL its descendants at each deeper zoom. Deduplicated, sorted.
    ``entries`` are (z, x, y) triples or "z/x/y" strings."""
    out = set()
    for e in entries:
        z, x, y = grid.parse_tile_name(e) if isinstance(e, str) else e
        if explicit or not zooms:
            out.add((z, x, y))
            continue
        for tz in zooms:
            if tz <= z:
                d = z - tz
                out.add((tz, x >> d, y >> d))
            else:
                d = tz - z
                for cx in range(x << d, (x + 1) << d):
                    for cy in range(y << d, (y + 1) << d):
                        out.add((tz, cx, cy))
    return sorted(out)


def tile_extent(z, x, y):
    """T3: tile -> web-mercator extent (minx, miny, maxx, maxy).

    tile.go:76-90: res = 2*20037508.34/2^z; minx = -max + x*res;
    maxy = max - y*res; NOTE tegola stores (minx, maxy, maxx, miny) into
    a (MinX, MinY, MaxX, MaxY) extent — i.e. its "MinY" slot holds the
    TOP edge. We return a normalized (minx, miny, maxx, maxy); the
    quantization stage uses top/bottom explicitly.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    res = (grid.WEBMERCATOR_MAX * 2.0) / np.exp2(float(z))
    minx = -grid.WEBMERCATOR_MAX + x * res
    maxy = grid.WEBMERCATOR_MAX - y * res
    return minx, maxy - res, minx + res, maxy


def tile2lon(x, z):
    """Num2Deg lon — tile.go:123."""
    x = np.asarray(x, dtype=np.float64)
    return x / np.exp2(float(z)) * 360.0 - 180.0


def cell_decode(cell):
    """int64 cell id -> (res, x, y), the inverse of the packing
    res*2^52 + x*2^26 + y that cells.col_cell_from_lonlat computes."""
    cell = np.asarray(cell, dtype=np.int64)
    mask = (1 << cells.XY_SHIFT) - 1
    return cell >> cells.RES_SHIFT, (cell >> cells.XY_SHIFT) & mask, cell & mask
