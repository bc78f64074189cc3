"""Port of the reference's root tile math tests (tile_test.go:12-110):
TestTileNum2Deg (the lon half), TestTileDeg2Num, TestTileToFromPixel.
All float-exact.

ToPixel/FromPixel (tile.go:173-193) truncate pixels to int64 and use
the raw tegola extent whose "MinY" slot holds the TOP edge (yspan is
NEGATIVE) — the round-trip test replicates that composition against
grid_reference.tile_extent's normalized values.
"""

import grid_reference as ref


def test_num2deg():
    assert float(ref.tile2lon(1, 2)) == -90.0


def test_deg2num():
    x, y = ref.deg2num(-180.0, -85.0, 0)
    assert (int(x), int(y)) == (0, 0)


def _init_extent(z, x, y):
    """tile.go:76-90 Init: returns (minx, top, res) with max=20037508.34
    truncated constant; tegola's MinY slot holds the TOP edge and
    yspan = MaxY - MinY = -res."""
    minx, miny, maxx, maxy = ref.tile_extent(z, x, y)
    return minx, maxy, maxx - minx


def test_to_from_pixel_roundtrip():
    ext = 4096.0
    minx, top, res = _init_extent(20, 0, 0)
    xspan, yspan = res, -res
    for px, py in [(1.0, 1.0), (0.0, 0.0), (4000.0, 4000.0)]:
        # FromPixel (tile.go:184-193): trunc to int64, pixel -> world
        fx, fy = float(int(px)), float(int(py))
        wmx = (fx * xspan / ext) + minx
        wmy = (fy * yspan / ext) + top
        # ToPixel (tile.go:173-182): world -> pixel, trunc to int64
        nx = float(int((wmx - minx) * ext / xspan))
        ny = float(int((wmy - top) * ext / yspan))
        assert (nx, ny) == (px, py), ((px, py), (nx, ny))
