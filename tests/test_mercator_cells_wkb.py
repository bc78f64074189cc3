"""Golden tests: ellipsoidal web-mercator (P8), cell index, the SoA
geometry transport."""

import grid_reference
import numpy as np
import pandas as pd
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


# -- geometry transport ---------------------------------------------------------

GEOMS = [
    ("Point", np.array([1.5, -2.5])),
    ("LineString", np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]])),
    ("MultiLineString", [np.array([[0.0, 0.0], [1.0, 1.0]]),
                         np.array([[5.0, 5.0], [6.0, 7.0], [8.0, 9.0]])]),
    ("Polygon", [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]),
                 np.array([[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 1.0]])]),
    ("MultiPolygon", [[np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]])],
                      [np.array([[10.0, 10.0], [14.0, 10.0], [14.0, 14.0], [10.0, 10.0]])]]),
]
_GKIND = {"LineString": wkb.WKB_LINESTRING, "Polygon": wkb.WKB_POLYGON,
          "MultiLineString": wkb.WKB_MULTILINESTRING,
          "MultiPolygon": wkb.WKB_MULTIPOLYGON}


def _transport_row(geom):
    """A geometry as the columns of its transport: a Point as lon/lat,
    any other kind as ring-SoA under its OGC WKB type code."""
    gtype, data = geom
    if gtype == "Point":
        return {"lon": data[0], "lat": data[1]}
    if gtype == "LineString":
        rings, polys = [data], None
    elif gtype == "MultiPolygon":
        rings, polys = [r for p in data for r in p], [len(p) for p in data]
    else:
        rings, polys = data, None
    return {"coords": np.concatenate(rings).ravel(),
            "ring_lens": [len(r) for r in rings], "poly_lens": polys,
            "gkind": _GKIND[gtype]}


@pytest.mark.parametrize("geom", GEOMS, ids=[g[0] for g in GEOMS])
def test_wkb_roundtrip(geom):
    """geometry -> its transport row -> the encode kernel's reader gives
    the geometry back, vertex for vertex."""
    from tegola_spark.plans import pipeline

    pdf = pd.DataFrame([{"feature_id": 1, "srid": 3857,
                         **_transport_row(geom)}])
    lonlat = pdf["lon"].notna().to_numpy() if "lon" in pdf.columns \
        else np.zeros(1, dtype=bool)
    [(fid, out, tags, srid)] = list(pipeline._decoded_iter(pdf, lonlat))
    assert (fid, out[0], tags, srid) == (1, geom[0], {}, 3857)

    def flat(g):
        t, d = g
        if t == "Point":
            return [np.asarray(d).reshape(1, 2)]
        if t == "LineString":
            return [np.asarray(d)]
        if t in ("Polygon", "MultiLineString"):
            return [np.asarray(a) for a in d]
        return [np.asarray(r) for rings in d for r in rings]

    assert len(flat(geom)) == len(flat(out))
    for a, b in zip(flat(geom), flat(out)):
        np.testing.assert_array_equal(a, b)


def test_bbox_and_map_coords():
    g = ("Polygon", [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]])])
    assert wkb_reference.bbox(g) == (0.0, 0.0, 4.0, 4.0)
    g2 = wkb.map_coords(g, lambda a: a * 2.0)
    assert wkb_reference.bbox(g2) == (0.0, 0.0, 8.0, 8.0)
