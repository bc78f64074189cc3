"""Two-phase spatial join + cell-ring kNN: correctness vs in-Spark
reference predicates (rect ranges / brute force)."""

import pytest
from pyspark.sql import functions as F

from tegola_spark.operators import spatial_join as sj
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
