"""Golden tests: ellipsoidal web-mercator (P8), cell index, WKB codec (E9)."""

import grid_reference
import numpy as np
import pytest
import wkb_reference

from tegola_spark.functions import grid, mercator, wkb


# -- mercator (maths/webmercator/main.go) -----------------------------------

def test_merc_origin_and_edge():
    assert mercator.lon_to_x(0.0) == 0.0
    assert mercator.lat_to_y(0.0) == pytest.approx(0.0, abs=1e-9)
    assert mercator.lon_to_x(180.0) == pytest.approx(20037508.342789244)


def test_merc_ellipsoidal_not_spherical():
    # frozen from the ported ellipsoidal formula; the spherical value
    # for lat 45 would be 5621521.48 — the ellipsoid differs by ~30 km,
    # which is exactly the trap SURVEY.md §7.4(6) warns about.
    assert mercator.lat_to_y(45.0) == pytest.approx(5591295.918489571, abs=1e-6)
    assert mercator.lat_to_y(-30.0) == pytest.approx(-3482189.0853635375, abs=1e-6)


def test_merc_clamp_895():
    # maths/webmercator/main.go:63: lat clamped to ±89.5 before projecting
    assert mercator.lat_to_y(89.9) == mercator.lat_to_y(89.5)
    assert mercator.lat_to_y(-89.9) == mercator.lat_to_y(-89.5)


# -- cells -------------------------------------------------------------------

def test_cell_pack_roundtrip():
    # the packing col_cell_from_lonlat and the DuckDB oracle compute
    c = (12 * 2**52 + int(grid.lon2num(13.4, 12)) * 2**26
         + int(grid.lat2num(52.5, 12)))
    res, x, y = grid_reference.cell_decode(c)
    assert res == 12
    assert x == grid.lon2num(13.4, 12)
    assert y == grid.lat2num(52.5, 12)


# -- wkb ----------------------------------------------------------------------

GEOMS = [
    ("Point", np.array([1.5, -2.5])),
    ("MultiPoint", np.array([[0.0, 0.0], [3.0, 4.0]])),
    ("LineString", np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]])),
    ("MultiLineString", [np.array([[0.0, 0.0], [1.0, 1.0]]),
                         np.array([[5.0, 5.0], [6.0, 7.0], [8.0, 9.0]])]),
    ("Polygon", [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]),
                 np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 1.0]])]),
    ("MultiPolygon", [[np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]])],
                      [np.array([[10.0, 10.0], [14.0, 10.0], [14.0, 14.0], [10.0, 10.0]])]]),
]


@pytest.mark.parametrize("geom", GEOMS, ids=[g[0] for g in GEOMS])
def test_wkb_roundtrip(geom):
    out = wkb.decode(wkb.encode(geom))
    assert out[0] == geom[0]

    def flat(g):
        t, d = g
        if t == "Point":
            return [np.asarray(d).reshape(1, 2)]
        if t in ("MultiPoint", "LineString"):
            return [np.asarray(d)]
        if t in ("Polygon", "MultiLineString"):
            return [np.asarray(a) for a in d]
        return [np.asarray(r) for rings in d for r in rings]

    for a, b in zip(flat(geom), flat(out)):
        np.testing.assert_array_equal(a, b)


def test_wkb_known_point_bytes():
    # OGC example: little-endian point (1, 2)
    buf = wkb.encode(("Point", np.array([1.0, 2.0])))
    assert buf == bytes.fromhex(
        "0101000000000000000000f03f0000000000000040")


def test_wkb_big_endian_decode():
    buf = bytes.fromhex("00000000013ff00000000000004000000000000000")
    t, d = wkb.decode(buf)
    assert t == "Point"
    np.testing.assert_array_equal(d, [1.0, 2.0])


def test_bbox_and_map_coords():
    g = ("Polygon", [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]])])
    assert wkb_reference.bbox(g) == (0.0, 0.0, 4.0, 4.0)
    g2 = wkb.map_coords(g, lambda a: a * 2.0)
    assert wkb_reference.bbox(g2) == (0.0, 0.0, 8.0, 8.0)
