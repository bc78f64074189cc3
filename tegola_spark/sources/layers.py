"""Polygon layer catalogs (the spatial-join right side + MVT layers).

Modeled on the reference's layer/map config (atlas/map.go:31-69,
provider/map_layer.go:11-28) and its PostGIS polygon test table
(testdata/postgis/postgis-add-test-tags-table.sql). Layers are derived
deterministically from the driver's ``nation`` / ``region`` tables so
the DuckDB oracle can reproduce the rectangle bounds with plain
integer arithmetic (constants mirrored in __spark_entry__.oracle_sql):

  nations (25 mid-size rects):
    minx = (n_nationkey * 37) % 340 - 170        maxx = minx + 6 + n_nationkey % 7
    miny = (n_nationkey * 23) % 160 - 80         maxy = miny + 4 + n_nationkey % 5

  regions (5 continent-scale rects — deliberately overlapping many
  cells to create the hot-cell skew the north rule requires handling):
    minx = r_regionkey * 72 - 180                maxx = minx + 72
    miny = (r_regionkey * 13) % 20 - 70          maxy = miny + 100

Rectangles keep the two-phase join oracle SQL-expressible (range
predicates); the engine still runs the generic WKB + point-in-polygon
path, so arbitrary polygons work identically.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions import wkb


@F.pandas_udf(T.BinaryType())
def _rect_wkb(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
    out = []
    for x0, y0, x1, y1 in zip(minx, miny, maxx, maxy):
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        out.append(wkb.encode(("Polygon", [ring])))
    return pd.Series(out)


def nation_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 mid-size rectangles; feature id/tags model the reference's
    test_tags_table (uuid/name/int tag columns)."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    df = n.select(
        k.alias("feature_id"),
        F.lit("nations").alias("layer"),
        F.col("n_name").alias("name"),
        ((k * 37) % 340 - 170).cast("double").alias("minx"),
        ((k * 23) % 160 - 80).cast("double").alias("miny"),
        ((k * 37) % 340 - 170 + 6 + k % 7).cast("double").alias("maxx"),
        ((k * 23) % 160 - 80 + 4 + k % 5).cast("double").alias("maxy"),
    )
    return df.withColumn("geom", _rect_wkb("minx", "miny", "maxx", "maxy"))


def region_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 continent-scale rectangles (hot-cell skew driver)."""
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    k = F.col("r_regionkey").cast("long")
    df = r.select(
        k.alias("feature_id"),
        F.lit("regions").alias("layer"),
        F.col("r_name").alias("name"),
        (k * 72 - 180).cast("double").alias("minx"),
        ((k * 13) % 20 - 70).cast("double").alias("miny"),
        (k * 72 - 180 + 72).cast("double").alias("maxx"),
        ((k * 13) % 20 - 70 + 100).cast("double").alias("maxy"),
    )
    return df.withColumn("geom", _rect_wkb("minx", "miny", "maxx", "maxy"))


def road_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 deterministic diagonal road segments, one per nation rect
    (endpoints inset 0.3/0.2 deg from the rect corners so no endpoint
    sits exactly on a rect or tile boundary) — the LineString family on
    the distributed fan-out -> clip (G2) -> encode path, reference
    analog the athens-osm road layers (provider/gpkg/gpkg_test.go:23-27).
    Ships as ring-SoA columns like the polygon layers; the DuckDB
    oracle reproduces the segment from the same integer arithmetic."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    rminx = ((k * 37) % 340 - 170).cast("double")
    rminy = ((k * 23) % 160 - 80).cast("double")
    rmaxx = ((k * 37) % 340 - 170 + 6 + k % 7).cast("double")
    rmaxy = ((k * 23) % 160 - 80 + 4 + k % 5).cast("double")
    ax = rminx + F.lit(0.3)
    ay = rminy + F.lit(0.2)
    bx = rmaxx - F.lit(0.3)
    by = rmaxy - F.lit(0.2)
    return n.select(
        k.alias("feature_id"),
        F.lit("roads").alias("layer"),
        F.col("n_name").alias("name"),
        ax.alias("minx"), ay.alias("miny"),
        bx.alias("maxx"), by.alias("maxy"),
        F.array(ax, ay, bx, by).alias("coords"),
        F.array(F.lit(2)).alias("ring_lens"),
        F.lit(None).cast("array<int>").alias("poly_lens"),
        F.lit(wkb.WKB_LINESTRING).alias("gkind"),
    )


# F5 layer_config rows — the static catalog behind layer_catalog().
# (map, layer, source, min_zoom, max_zoom, dont_simplify, dont_clip)
LAYER_CATALOG_ROWS = [
    ("default", "pages", "pages", 0, 22, False, False),
    ("default", "nations", "nation", 0, 22, False, False),
    ("default", "regions", "region", 0, 6, False, False),
    ("default", "roads", "nation", 0, 22, False, False),
]


def layer_catalog(spark: SparkSession) -> DataFrame:
    """F5 layer_config: zoom-validity + per-layer toggles
    (atlas/layer.go:10-30; zoom pruning atlas/map.go:147-161)."""
    return spark.createDataFrame(
        LAYER_CATALOG_ROWS,
        "map_name string, layer string, source string, "
        "min_zoom int, max_zoom int, dont_simplify boolean, dont_clip boolean")


def layer_zoom_ranges() -> dict:
    """{layer: (min_zoom, max_zoom)} straight from the static catalog —
    config-sized, so the tile builds read it driver-side instead of
    launching a 32-task collect() job per build (round-6 measurement:
    ~0.25 s wall and one whole Spark job per pipeline run spent
    collecting 4 constant rows)."""
    return {r[1]: (r[3], r[4]) for r in LAYER_CATALOG_ROWS}
