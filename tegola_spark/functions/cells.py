"""Hierarchical cell index (H3/S2 role) built on the slippy grid.

The north star calls for "batched H3/S2 cell encoding"; neither library
is available in this environment, so the engine uses an equivalent
publicly-documented hierarchical cell scheme: slippy/quadkey cells
(Bing-maps quadkey grid = the same z/x/y lattice tegola tiles on,
vendor/.../geom/slippy/tile.go). Properties we rely on:

  * hierarchical: parent(cell) = (res-1, x>>1, y>>1)  (slippy/tile.go:76-84)
  * equal-area-ish per row, deterministic, pure integer arithmetic
  * cell assignment agrees with tile assignment at the same level
    (the slippy nudged conversion, grid.col_lon2num/col_lat2num)

Cell id packing (64-bit, SQL-expressible so the DuckDB oracle can
reproduce it with plain arithmetic):

    cell_id = res * 2^52 + x * 2^26 + y      (res <= 22 < 2^11, x,y < 2^26)
"""

from __future__ import annotations

import math

from . import grid

RES_SHIFT = 52
XY_SHIFT = 26
_RES_MULT = 1 << RES_SHIFT
_XY_MULT = 1 << XY_SHIFT

try:
    from pyspark.sql import Column
    from pyspark.sql import functions as F
except ImportError:  # pragma: no cover
    F = None
    Column = None


# ---------------------------------------------------------------------------
# Spark column expressions
# ---------------------------------------------------------------------------

def col_cell(res: "Column | int", x: "Column", y: "Column") -> "Column":
    """Pack a cell's resolution and slippy x/y into its id:
    res*2^52 + x*2^26 + y, in long arithmetic."""
    return (
        F.lit(res).cast("long") * F.lit(_RES_MULT).cast("long")
        + x * F.lit(_XY_MULT).cast("long")
        + y
    )


def col_cell_parts(cell: "Column") -> "tuple[Column, Column, Column]":
    """Unpack a cell id into its (res, x, y) long columns."""
    return (F.shiftright(cell, RES_SHIFT),
            F.shiftright(cell, XY_SHIFT) % F.lit(_XY_MULT),
            cell % F.lit(_XY_MULT))


def col_tile_lat(ty: "Column", n: "Column") -> "Column":
    """Inverse slippy latitude (degrees) of the tile-space y coordinate
    ``ty`` (a double: an edge at y, a centre at y + 0.5) on a grid of
    ``n`` tiles per side: atan(sinh(pi * (1 - 2 * ty / n)))."""
    inner = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * ty / n)
    return (F.atan((F.exp(inner) - F.exp(-inner)) / F.lit(2.0))
            * F.lit(180.0 / math.pi))


def col_cell_from_lonlat(lon: "Column", lat: "Column", res: int) -> "Column":
    """lon/lat -> cell id at ``res`` — plain arithmetic so the
    expression stays in WholeStageCodegen AND is reproducible in the
    DuckDB oracle."""
    return col_cell(res, grid.col_lon2num(lon, res),
                    grid.col_lat2num(lat, res))


def col_cell_parent(cell: "Column", dres: int = 1) -> "Column":
    res, x, y = col_cell_parts(cell)
    return col_cell(res - F.lit(dres), F.shiftright(x, dres),
                    F.shiftright(y, dres))
