"""Two-phase spatial join + cell-ring kNN: correctness vs in-Spark
reference predicates (rect ranges / brute force) and the NumPy
point-in-polygon reference."""

import numpy as np
import pip_reference
import pytest
from pyspark.sql import functions as F

from tegola_spark.functions import wkb
from tegola_spark.operators import raster, spatial_join as sj
from tegola_spark.sources import corpus, layers


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    df = (
        corpus.documents(spark, sf_dir)
        .select(
            "doc_id",
            corpus.col_lon(F.col("doc_id")).alias("lon"),
            corpus.col_lat(F.col("doc_id")).alias("lat"),
        )
    )
    df.cache()
    df.count()
    yield df
    df.unpersist()


def _expected_rect_join(points, polys):
    """Oracle: inclusive rect containment (PIP on a rectangle ring is
    boundary-inclusive)."""
    return points.alias("p").join(
        polys.alias("q"),
        (F.col("p.lon") >= F.col("q.minx")) & (F.col("p.lon") <= F.col("q.maxx"))
        & (F.col("p.lat") >= F.col("q.miny")) & (F.col("p.lat") <= F.col("q.maxy")),
        "inner",
    ).select("p.doc_id", "q.feature_id")


@pytest.mark.parametrize("layer_fn,res", [
    (layers.nation_layer, 6),
    (layers.region_layer, 2),
])
def test_spatial_join_matches_rect_oracle(spark, sf_dir, points, layer_fn, res):
    polys = layer_fn(spark, sf_dir)
    got = sj.spatial_join(points, polys, res=res).select("doc_id", "feature_id")
    want = _expected_rect_join(points, polys)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0  # non-trivial


def test_spatial_join_shuffled_path(spark, sf_dir, points):
    polys = layers.nation_layer(spark, sf_dir)
    got = sj.spatial_join(points, polys, res=6, broadcast_polys=False)
    want = _expected_rect_join(points, polys)
    assert got.select("doc_id", "feature_id").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("doc_id", "feature_id")).count() == 0


def _sq(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)


# grid-snapped shapes (half-degree vertices) plus one of irregular
# decimal vertices whose crossings round; fid -> geometry
DIFF_POLYS = {
    # square with a hole, and a 2-vertex ring the residual must skip
    1: ("Polygon", [_sq(-8, -8, -2, -2), _sq(-6, -6, -4, -4),
                    np.array([[-9.0, -9.0], [-1.0, -1.0]])]),
    # concave U, ring closed by repeating its first vertex
    2: ("Polygon", [np.array([[0, 0], [9, 0], [9, 9], [6.5, 9], [6.5, 3],
                              [2.5, 3], [2.5, 9], [0, 9], [0, 0]], dtype=np.float64)]),
    # diagonal edges
    3: ("Polygon", [np.array([[-9, 1], [-3, 1], [-6, 7.5]], dtype=np.float64)]),
    # overlapping parts: their overlap is inside (parts are ORed, not
    # one even-odd over all rings)
    4: ("MultiPolygon", [[_sq(1, -8, 5, -4)], [_sq(3, -6, 7, -2)]]),
    # a part with a hole, a part touching it, a part of one degenerate ring
    5: ("MultiPolygon", [[_sq(-9.5, 2, -3.5, 8), _sq(-7.5, 4, -5.5, 6)],
                         [_sq(-3.5, 2, -1, 5)],
                         [np.array([[8.0, 8.0], [9.0, 9.5]])]]),
    6: ("Polygon", [np.array([[2.1, 2.3], [8.7, 3.1], [9.3, 7.9], [5.5, 9.7],
                              [1.9, 6.1]])]),
}


def _soa_row(fid, geom):
    gtype, data = geom
    parts = [data] if gtype == "Polygon" else data
    rings = [np.asarray(r, dtype=np.float64) for rings in parts for r in rings]
    xy = np.concatenate(rings)
    return (fid, float(xy[:, 0].min()), float(xy[:, 1].min()),
            float(xy[:, 0].max()), float(xy[:, 1].max()),
            [float(v) for v in xy.ravel()], [len(r) for r in rings],
            [len(p) for p in parts],
            wkb.WKB_POLYGON if gtype == "Polygon" else wkb.WKB_MULTIPOLYGON)


def _diff_points(step):
    """A ``step`` lattice over [-10, 10]^2 plus every vertex and edge
    midpoint of DIFF_POLYS."""
    g = np.arange(-10.0, 10.0 + step / 2, step)
    pts = [np.stack(np.meshgrid(g, g), -1).reshape(-1, 2)]
    for gtype, data in DIFF_POLYS.values():
        for rings in ([data] if gtype == "Polygon" else data):
            for r in rings:
                r = np.asarray(r, dtype=np.float64)
                pts += [r, (r + np.roll(r, -1, axis=0)) / 2.0]
    return np.concatenate(pts)


@pytest.mark.parametrize("step,large", [(0.25, True), (0.5, False)])
def test_residual_matches_numpy_reference(spark, step, large):
    """The full spatial_join residual (vertex-bbox test included; res 0
    makes every point a candidate of every polygon) returns exactly the
    NumPy reference's pairs, in both of its regimes (>= 4096 points:
    per-segment loop; fewer: points x segments broadcast)."""
    pts = _diff_points(step)
    assert (len(pts) >= 4096) == large
    want = {(i, fid) for fid, g in DIFF_POLYS.items()
            for i in np.flatnonzero(pip_reference.points_in_polygon(pts, g)).tolist()}
    assert (int(np.flatnonzero((pts == [4.0, -5.0]).all(1))[0]), 4) in want
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "doc_id long, lon double, lat double")
    polys = spark.createDataFrame(
        [_soa_row(fid, g) for fid, g in DIFF_POLYS.items()],
        "feature_id long, minx double, miny double, maxx double, maxy double, "
        "coords array<double>, ring_lens array<int>, poly_lens array<int>, gkind int")
    got = {(r["doc_id"], r["feature_id"]) for r in
           sj.spatial_join(points, polys, res=0).select("doc_id", "feature_id").collect()}
    assert got == want


def test_spatial_join_job_count(spark, sf_dir, points):
    """A warm nation join aggregated to one row runs <= 3 Spark jobs:
    the layer read declares its schema (no inference job) and no Python
    stage runs."""
    def run():
        return sj.spatial_join(points, layers.nation_layer(spark, sf_dir), res=6) \
            .agg(F.count(F.lit(1)), F.sum("doc_id")).first()

    run()
    sc = spark.sparkContext
    sc.setJobGroup("sj-job-count", "spatial join job count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("sj-job-count")) <= 3


def test_join_plans_run_no_python(spark, sf_dir, points):
    """Neither the spatial join nor polygon rasterization plans a
    Python evaluation node."""
    for df in (sj.spatial_join(points, layers.nation_layer(spark, sf_dir), res=6),
               raster.rasterize_polygons(layers.region_layer(spark, sf_dir), res=4)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


QUERIES = [(0, 12.5, 48.1), (1, -73.9, 40.7), (2, 139.7, 35.6),
           (3, -0.1, 51.5), (4, 151.2, -33.8)]
# 4-degree cell edges and corners, the +-180/+-90 borders, and points
# outside any point extent (lon 250, lat -120)
EDGE_QUERIES = [(10, 0.0, 2.0), (11, -4.0, -2.0), (12, 180.0, 90.0),
                (13, -180.0, -90.0), (14, 180.0, -90.0), (15, 250.0, 10.0),
                (16, 0.0, -120.0), (17, 8.0, 46.0)]
Q_SCHEMA = "query_id long, qlon double, qlat double"


def _assert_knn_exact(spark, pts, qlist, k):
    """knn_cell_ring_df returns exactly knn_bruteforce's rows: same
    ranks, ids and bit-equal distances."""
    qdf = spark.createDataFrame(qlist, Q_SCHEMA)
    got = sj.knn_cell_ring_df(pts, qdf, k=k).orderBy("query_id", "rank").collect()
    want = sj.knn_bruteforce(pts, qlist, k=k).orderBy("query_id", "rank").collect()
    assert len(got) == len(qlist) * min(k, pts.count())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_knn_cell_ring_equals_bruteforce(spark, points):
    _assert_knn_exact(spark, points, QUERIES, 7)


def test_knn_k_larger_than_population(spark):
    small = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 2.0, 0.0)], "doc_id long, lon double, lat double")
    _assert_knn_exact(spark, small, [(0, 0.0, 0.0)] + EDGE_QUERIES, 10)


def test_knn_cell_ring_df_matches_bruteforce(spark, points):
    """DataFrame-native kNN (queries as a DataFrame, no driver-side
    per-query state) must agree exactly with the brute-force baseline."""
    _assert_knn_exact(spark, points, QUERIES + [(5, 0.0, 0.0)], 4)


@pytest.mark.parametrize("k", [1, 7, 50])
def test_knn_edge_queries_match_bruteforce(spark, points, k):
    _assert_knn_exact(spark, points, EDGE_QUERIES, k)


def test_knn_ties_on_cell_edges(spark):
    # a 2-degree lattice puts points on every cell edge and corner and
    # makes many queries' kth distance a tie, broken by doc_id
    lattice = spark.createDataFrame(
        [(i * 100 + j, -20.0 + 2 * i, -20.0 + 2 * j) for i in range(21) for j in range(21)],
        "doc_id long, lon double, lat double")
    _assert_knn_exact(spark, lattice, EDGE_QUERIES + [(20, 1.0, 1.0)], 7)


def test_knn_empty_points(spark):
    empty = spark.createDataFrame([], "doc_id long, lon double, lat double")
    _assert_knn_exact(spark, empty, EDGE_QUERIES, 3)


def test_knn_job_count(spark, points):
    """One kNN call — the driver-side histogram plus the collect of its
    result — runs a bounded number of Spark jobs, with no per-round
    counts or checkpoints."""
    sc = spark.sparkContext
    qdf = spark.createDataFrame(QUERIES, Q_SCHEMA)
    sc.setJobGroup("knn-job-count", "kNN job count")
    try:
        sj.knn_cell_ring_df(points, qdf, k=7).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("knn-job-count")) <= 8
