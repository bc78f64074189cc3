"""Tile-math golden tests (reference T1-T7; cases modeled on tile_test.go
and slippy/maths.go semantics — see SURVEY.md §2.9)."""

import math

import numpy as np
import pytest

import grid_reference as ref

from tegola_spark.functions import grid


def _tile2lat(y, z):
    """tegola's Num2Deg lat (tile.go:125-132, n = pi when y == 0): the
    corner latitude the slippy round trip below starts from."""
    y = np.asarray(y, dtype=np.float64)
    n = np.where(y == 0, math.pi,
                 math.pi - 2.0 * math.pi * y / np.exp2(float(z)))
    return 180.0 / math.pi * np.arctan(0.5 * (np.exp(n) - np.exp(-n)))


def test_lon2num_center_nudge():
    # lon=0 at z=1: raw px = 256.000001 -> tile 1 (the nudge pushes it right)
    assert grid.lon2num(0.0, 1) == 1
    assert grid.lat2num(0.0, 1) == 1


def test_deg2num_matches_slippy_interior():
    # Away from tile edges both formulas must agree (tile.go:110-115 vs
    # slippy/maths.go:55-135).
    rng = np.random.default_rng(42)
    lon = rng.uniform(-179, 179, 500)
    lat = rng.uniform(-84, 84, 500)
    for z in (0, 3, 8, 14):
        x1, y1 = ref.deg2num(lon, lat, z)
        x2 = grid.lon2num(lon, z)
        y2 = grid.lat2num(lat, z)
        assert (x1 == x2).all()
        assert (y1 == y2).all()


def test_slippy_clamps():
    # vendor/.../slippy/maths.go:55-118
    assert grid.lon2num(-180.0, 3) == 0
    assert grid.lon2num(180.0, 3) == 7
    assert grid.lon2num(181.0, 3) == 7
    assert grid.lat2num(86.0, 3) == 0
    assert grid.lat2num(-86.0, 3) == 7


def test_known_tile_chicago_z17():
    # frozen from the ported formula (independent hand-check:
    # (-87.65+180)/360*2^17 = 33623.7...)
    assert grid.lon2num(-87.65, 17) == 33623
    assert grid.lat2num(41.85, 17) == 48729


def test_tile_extent_z233():
    # tile.go:76-90 with max=20037508.34; z=2 res=10018754.17
    minx, miny, maxx, maxy = ref.tile_extent(2, 3, 3)
    assert minx == pytest.approx(10018754.17, abs=1e-6)
    assert maxx == pytest.approx(20037508.34, abs=1e-6)
    assert maxy == pytest.approx(-10018754.17, abs=1e-6)
    assert miny == pytest.approx(-20037508.34, abs=1e-6)


def test_roundtrip_num2deg_slippy():
    # Tile2Lon/Tile2Lat of a tile's top-left corner re-assigns to the
    # same tile under the NUDGED slippy conversion — this boundary case
    # is exactly what the 1e-6 floatVariance exists for
    # (vendor/.../slippy/maths.go:26-38). The raw Deg2Num formula can
    # drift into the neighboring tile here.
    for z in (1, 4, 9):
        for (x, y) in [(0, 0), (1, 1), (2**z - 1, 2**z - 1), (2 ** (z - 1), 1)]:
            lon = float(ref.tile2lon(x, z))
            lat = float(_tile2lat(y, z))
            assert int(grid.lon2num(lon, z)) == x, (z, x, y)
            assert int(grid.lat2num(lat, z)) == y, (z, x, y)


def test_zres_zepsilon():
    # tile.go:213-228: ZEpislon = 10/(2^z * 4096); 0 at MaxZ
    assert grid.zepsilon(4) == pytest.approx(10.0 / (16 * 4096))
    assert grid.zepsilon(22) == 0.0


def test_buffered_pixel_bounds():
    # tile.go:104-107
    assert grid.buffered_pixel_bounds() == (-64.0, -64.0, 4160.0, 4160.0)


def test_tiles_for_bounds_world():
    # default seed bounds at z0..2 -> 1 + 4 + 16 tiles
    # (cmd/tegola/cmd/cache/seed_purge.go:82,232-266)
    tiles = grid.tiles_for_bounds(-180, -85.0511, 180, 85.0511, [0, 1, 2])
    assert len(tiles) == 1 + 4 + 16
    assert (0, 0, 0) in tiles
    assert (2, 3, 3) in tiles


def test_deg2num_poles_standard_formula_is_unclamped():
    # tegola's own Deg2Num has no clamps: lat 89.9 escapes the grid.
    # (the engine uses the slippy clamped path for assignment — this
    # test documents the difference)
    _, y = ref.deg2num(0.0, 89.9, 2)
    assert y < 0


def test_col_morton_interleave(spark):
    """x in even bits, y in odd: hand-computed codes, plus the
    locality property that drives z-order sink layout (the 2x2 block
    (0..1, 0..1) occupies codes 0..3 contiguously)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 3), (255, 255)],
        "x long, y long")
    got = {(r["x"], r["y"]): r["m"] for r in df.select(
        "x", "y", grid.col_morton(F.col("x"), F.col("y"), bits=8)
        .alias("m")).collect()}
    assert got == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3,
                   (2, 3): 14, (255, 255): 65535}
