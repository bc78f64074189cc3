"""Port of the root maths package's Test_Contains table
(maths/maths_test.go)."""

import numpy as np

from tegola_spark.operators import geometry as G

# the concave 12-vertex subject ring (maths_test.go:19)
SUBJECT = np.array([
    (-10, -4), (10, -4), (10, 8), (-10, 8), (-10, 5), (-7, 2),
    (-3, 5), (5, 5), (5, -3), (-5, -3), (-5, 0), (-10, 2),
], dtype=np.float64)

CONTAINS_CASES = [
    ((0, 0), False),
    ((0, 2), False),
    ((0, 6), True),
    ((7, 0), True),
    ((7, 2), True),
    ((15, 2), False),
    ((-15, 2), False),
]


def test_maths_contains_table():
    pts = np.array([p for p, _ in CONTAINS_CASES], dtype=np.float64)
    want = np.array([e for _, e in CONTAINS_CASES])
    got = G.points_in_rings(pts, [SUBJECT])
    assert (got == want).all(), f"mismatch at {pts[got != want]}"
