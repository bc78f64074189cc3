"""G3 differential tests against the reference's makevalid fixture table
(maths/makevalid/makevalid_test.go).

Every polygon the engine encodes runs the port of tegola's make-valid
sweep (operators/makevalid.py) through ``geometry.clean_geometry``;
there is no second polygon path. Overlapping rings resolve as the
reference's even-odd trapezoid sweep resolves them (case 0 below), and
the hitmap labeling behind it (shell minus holes) is checked point by
point. tests/test_makevalid_golden.py holds the vertex-exact table.
"""

import numpy as np

from tegola_spark.operators import geometry as G


def test_makevalid_case0_via_clean_geometry_repair():
    """makevalid_test.go case 0 through the clean path (the reference's
    always-on behavior): two overlapping rectangles resolve to the
    expected 8-vertex polygon."""
    r1 = np.array([[3.0, 1.0], [7.0, 1.0], [7.0, 6.0], [3.0, 6.0]])
    r2 = np.array([[4.0, 4.0], [4.0, 9.0], [5.0, 9.0], [5.0, 4.0]])
    out = G.clean_geometry(("Polygon", [r1, r2]), (0, 0, 4096, 4096))
    assert out[0] == "MultiPolygon" and len(out[1]) == 1
    got = {tuple(p) for p in out[1][0][0]}
    assert got == {(3, 1), (7, 1), (7, 6), (5, 6), (5, 4),
                   (4, 4), (4, 6), (3, 6)}


def test_shell_minus_holes_coverage_of_case0():
    """The hitmap labeling of makevalid case 0 IS reproducible today:
    the reference builds its hitmap as shell (ring 0, Inside) minus
    holes (later rings, Outside) — hitmap.NewFromGeometry — so the
    expected output polygon covers exactly {in shell} - {in hole}.
    Our PIP reproduces that coverage point-for-point on a sample grid,
    pinning the labeling piece of G3."""
    r1 = np.array([[3.0, 1.0], [7.0, 1.0], [7.0, 6.0], [3.0, 6.0]])
    r2 = np.array([[4.0, 4.0], [4.0, 9.0], [5.0, 9.0], [5.0, 4.0]])
    expected = [np.array([[3, 1], [7, 1], [7, 6], [5, 6], [5, 4],
                          [4, 4], [4, 6], [3, 6]], dtype=float)]
    xs, ys = np.meshgrid(np.linspace(0.05, 9.95, 60), np.linspace(0.05, 9.95, 60))
    pts = np.column_stack([xs.ravel(), ys.ravel()])
    got = G.points_in_rings(pts, [r1]) & ~G.points_in_rings(pts, [r2])
    want = G.points_in_rings(pts, expected)
    # boundary-inclusive PIP can differ exactly ON shared edges; the
    # sample grid avoids integer coordinates so edges aren't sampled
    assert (got == want).all()
