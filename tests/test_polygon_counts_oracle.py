"""The mvt_polygon_counts oracle reduction, differentially proven.

The DuckDB oracle replays the polygon keep-decision for axis-aligned
rects in reduced form:

    kept iff |qx1-qx0| > 1e-9 AND |qyb-qyt| > 1e-9        (prepare's
        dedup comparator, cmp/default_compare.go:10-13)
    AND max(-640, 10*qxmin) < min(41600, 10*qxmax)        (x10 effective
    AND max(-640, 10*qymin) < min(41600, 10*qymax)         clipbox,
                                                           main.go:162-169)

These tests prove the reduction equals the REAL engine path
(ellipsoidal reproject -> mvt.prepare_geo -> geometry.clean_geometry
with the always-on make-valid sweep) on every real fan-out candidate
of the nations/regions layers at z0..5, and on an adversarial battery
of degenerate / sliver / tile-edge-aligned / buffer-touching rects
that exercises every drop branch.
"""

import math

import numpy as np
import pytest

from tegola_spark.functions import grid, mercator
from tegola_spark.operators import geometry as geo
from tegola_spark.operators import mvt

BUF = 0.015625
QPI = 0.7853981633974483
RAD = 0.017453292519943295
TWO_PI = 6.283185307179586

CLIP = grid.buffered_pixel_bounds()


def _world_x(lon, z):
    return ((lon + 180.0) / 360.0) * float(1 << z)


def _world_y(lat, z):
    return (0.5 - math.log(math.tan(QPI + (lat * RAD) / 2.0)) / TWO_PI) \
        * float(1 << z)


def _ellipsoidal(arr):
    out = np.empty_like(arr)
    out[:, 0] = mercator.lon_to_x(arr[:, 0])
    out[:, 1] = mercator.lat_to_y(arr[:, 1])
    return out


def _real_keep(pring, ext):
    g = mvt.prepare_geo(("Polygon", [pring]), ext)
    return g is not None and geo.clean_geometry(g, CLIP) is not None


def _pred_keep(pax, pbx, pay, pby, ext):
    tminx, tminy, tmaxx, tmaxy = ext
    qx0 = (pax - tminx) / (tmaxx - tminx) * 4096.0
    qx1 = (pbx - tminx) / (tmaxx - tminx) * 4096.0
    qyb = (tmaxy - pay) / (tmaxy - tminy) * 4096.0
    qyt = (tmaxy - pby) / (tmaxy - tminy) * 4096.0
    return (abs(qx1 - qx0) > 1e-9 and abs(qyb - qyt) > 1e-9
            and max(-640.0, 10.0 * min(qx0, qx1))
            < min(41600.0, 10.0 * max(qx0, qx1))
            and max(-640.0, 10.0 * min(qyt, qyb))
            < min(41600.0, 10.0 * max(qyt, qyb)))


def _fanout_candidates(rects, zooms):
    for z in zooms:
        n = 1 << z
        for (minx, miny, maxx, maxy) in rects:
            x0 = max(0, math.floor(_world_x(minx, z) - BUF))
            x1 = min(n - 1, math.floor(_world_x(maxx, z) + BUF))
            y0 = max(0, math.floor(_world_y(maxy, z) - BUF))
            y1 = min(n - 1, math.floor(_world_y(miny, z) + BUF))
            pax = float(mercator.lon_to_x(minx))
            pbx = float(mercator.lon_to_x(maxx))
            pay = float(mercator.lat_to_y(miny))
            pby = float(mercator.lat_to_y(maxy))
            pring = _ellipsoidal(np.array(
                [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy],
                 [minx, miny]], dtype=np.float64))
            for x in range(x0, x1 + 1):
                for y in range(y0, y1 + 1):
                    ext = tuple(float(v)
                                for v in grid.tile_extent_3857(z, x, y))
                    yield z, x, y, pax, pbx, pay, pby, pring, ext


def _check(rects, zooms):
    n_cand = n_drop = 0
    for z, x, y, pax, pbx, pay, pby, pring, ext in \
            _fanout_candidates(rects, zooms):
        n_cand += 1
        real = _real_keep(pring, ext)
        pred = _pred_keep(pax, pbx, pay, pby, ext)
        assert pred == real, (z, x, y, pax, pbx, pay, pby)
        n_drop += int(not real)
    return n_cand, n_drop


def _catalog_rects():
    rects = []
    for k in range(25):
        rects.append((float((k * 37) % 340 - 170),
                      float((k * 23) % 160 - 80),
                      float((k * 37) % 340 - 170 + 6 + k % 7),
                      float((k * 23) % 160 - 80 + 4 + k % 5)))
    for k in range(5):
        rects.append((float(k * 72 - 180), float((k * 13) % 20 - 70),
                      float(k * 72 - 180 + 72),
                      float((k * 13) % 20 - 70 + 100)))
    return rects


def test_reduction_on_catalog_layers():
    n_cand, _ = _check(_catalog_rects(), range(0, 6))
    assert n_cand > 800  # every real fan-out candidate checked


def test_reduction_adversarial_battery():
    rects = []
    for eps in [0.0, 1e-15, 1e-12, 1e-9, 1e-7, 1e-5, 1e-3]:
        rects.append((10.0, 20.0, 10.0 + eps, 20.0 + eps))
        rects.append((10.0, 20.0, 10.0 + eps, 25.0))
        rects.append((10.0, 20.0, 17.0, 20.0 + eps))
    for k in range(1, 8):  # z3 tile edges at lon = -180 + 45k
        e = -180.0 + k * 45.0
        rects.append((e - 3.0, 10.0, e, 15.0))
        rects.append((e, 10.0, e + 3.0, 15.0))
        rects.append((e - 1e-8, 10.0, e + 1e-8, 15.0))
    for d in [0.014, 0.0156, 0.01563, 0.017, 0.02]:
        rects.append((-45.0 - 45.0 * d - 1.0, 10.0, -45.0 - 45.0 * d, 15.0))
    n_cand, n_drop = _check(rects, range(0, 7))
    assert n_cand > 500 and n_drop > 50  # drop branches exercised


def test_duckdb_oracle_matches_predicate():
    """The oracle SQL (exact float op order) agrees with the python
    predicate on every (tile, rect, layer) group."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute("CREATE VIEW nation AS SELECT * FROM read_parquet("
                "'/root/testdata/sf0.001/nation.parquet')")
    con.execute("CREATE VIEW region AS SELECT * FROM read_parquet("
                "'/root/testdata/sf0.001/region.parquet')")
    duck = {(r[0], r[1], r[2], r[3]): (r[4], r[5]) for r in con.execute(
        entry.oracle_sql()["mvt_polygon_counts"]).fetchall()}

    exp: dict = {}
    rects = _catalog_rects()
    layer_of = ["nations"] * 25 + ["regions"] * 5
    for li, rect in enumerate(rects):
        for z, x, y, pax, pbx, pay, pby, _, ext in \
                _fanout_candidates([rect], range(0, 6)):
            keep = _pred_keep(pax, pbx, pay, pby, ext)
            kf, kd = exp.get((z, x, y, layer_of[li]), (0, 0))
            exp[(z, x, y, layer_of[li])] = (kf + int(keep),
                                            kd + (1 - int(keep)))
    assert duck == exp
