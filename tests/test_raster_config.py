"""Raster<->vector resampling + config substitution."""

import pytest
import wkb_reference
from pyspark.sql import functions as F

from tegola_spark.functions import cells, config
from tegola_spark.operators import raster
from tegola_spark.sources import corpus, layers


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    df = corpus.documents(spark, sf_dir).select(
        "doc_id",
        corpus.col_lon(F.col("doc_id")).alias("lon"),
        corpus.col_lat(F.col("doc_id")).alias("lat"))
    df.cache()
    df.count()
    yield df
    df.unpersist()


def test_rasterize_points_count_conserved(points):
    n = points.count()
    r = raster.rasterize_points(points, res=6)
    assert r.agg(F.sum("value")).first()[0] == n
    # every cell id is at res 6
    res_vals = r.select(F.shiftright("cell", cells.RES_SHIFT).alias("r")).distinct().collect()
    assert {row["r"] for row in res_vals} == {6}


def test_resample_coarser_conserves_sum(points):
    r6 = raster.rasterize_points(points, res=6)
    r3 = raster.resample(r6, 6, 3, agg="sum")
    assert r3.agg(F.sum("value")).first()[0] == pytest.approx(
        r6.agg(F.sum("value")).first()[0])
    # coarser -> fewer or equal cells
    assert r3.count() <= r6.count()
    # consistency with direct rasterization at res 3
    direct = raster.rasterize_points(points, res=3)
    joined = r3.alias("a").join(direct.alias("b"), "cell", "full")
    bad = joined.where(
        F.coalesce(F.col("a.value"), F.lit(-1)) != F.coalesce(F.col("b.value"), F.lit(-1))
    ).count()
    assert bad == 0


def test_resample_finer_splits_sum(points):
    r4 = raster.rasterize_points(points, res=4)
    r6 = raster.resample(r4, 4, 6, agg="sum")
    assert r6.count() == r4.count() * 16
    assert r6.agg(F.sum("value")).first()[0] == pytest.approx(
        r4.agg(F.sum("value")).first()[0])


def test_rasterize_polygons_and_vectorize_roundtrip(spark, sf_dir, points):
    polys = layers.region_layer(spark, sf_dir)
    r = raster.rasterize_polygons(polys, res=4)
    assert r.count() > 0
    # vectorize the raster and use it as a spatial-join layer:
    # every cell's own center must be inside its vectorized quad
    v = raster.vectorize(r)
    assert v.count() == r.count()
    row = v.first()
    assert row["minx"] < row["maxx"] and row["miny"] < row["maxy"]
    from tegola_spark.functions import wkb
    g = wkb.soa_to_geometry(row["gkind"], row["coords"], row["ring_lens"],
                            row["poly_lens"])
    assert g[0] == "Polygon"
    bb = wkb_reference.bbox(g)
    assert bb[0] == pytest.approx(row["minx"])
    assert bb[3] == pytest.approx(row["maxy"])


def test_vectorized_raster_joins_back(spark, sf_dir, points):
    """raster -> vectorize -> spatial_join: points land in the cells
    they were rasterized into."""
    from tegola_spark.operators import spatial_join as sj

    r6 = raster.rasterize_points(points.limit(50), res=6)
    v = raster.vectorize(r6)
    j = sj.spatial_join(points.limit(50), v, res=6)
    # every point matches at least its own cell quad
    assert j.select("doc_id").distinct().count() == 50


# -- config (P12) -----------------------------------------------------------------

def test_env_substitution():
    env = {"HOST": "db.example", "PORT": "5432"}
    cfg = {"maps": {"m": {"layers": [
        {"name": "l", "sql": "SELECT * FROM t WHERE h='${HOST}:${PORT}' AND !BBOX!"}]}},
        "cache": "${CACHE_DIR:-/tmp/tiles}"}
    out = config.substitute_env(cfg, env)
    assert out["maps"]["m"]["layers"][0]["sql"].count("db.example:5432") == 1
    assert out["cache"] == "/tmp/tiles"
    with pytest.raises(config.MissingEnvVar):
        config.substitute_env({"x": "${UNSET_VAR_XYZ}"}, env)
