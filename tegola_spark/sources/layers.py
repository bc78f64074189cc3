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
predicates). The polygon layers ship their geometry as ring-SoA columns
(``coords``/``ring_lens``/``poly_lens``/``gkind``, see
``wkb.soa_to_geometry``) built from column expressions: the spatial
join's Catalyst point-in-polygon residual and the tile pipeline's encode
kernel both read them directly, so no codec runs on either path, and
any Polygon or MultiPolygon in that form joins the same way.

The reads declare their schemas (shared by the test corpora and the
benchmark's generated inputs), so no schema-inference job runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions import wkb

_NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"
_REGION_SCHEMA = "r_regionkey int, r_name string"


def _rect_layer(src: DataFrame, k: Column, name: str, layer: str,
                minx: Column, miny: Column, maxx: Column, maxy: Column) -> DataFrame:
    """One rectangle per row of ``src``: its envelope columns plus the
    rectangle as one closed 5-vertex Polygon ring in ring-SoA columns,
    vertex order (x0,y0)(x1,y0)(x1,y1)(x0,y1)(x0,y0)."""
    x0, y0, x1, y1 = (c.cast("double") for c in (minx, miny, maxx, maxy))
    return src.select(
        k.alias("feature_id"), F.lit(layer).alias("layer"), F.col(name).alias("name"),
        x0.alias("minx"), y0.alias("miny"), x1.alias("maxx"), y1.alias("maxy"),
        F.array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0).alias("coords"),
        F.array(F.lit(5)).alias("ring_lens"),
        F.array(F.lit(1)).alias("poly_lens"),
        F.lit(wkb.WKB_POLYGON).alias("gkind"),
    )


def nation_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 mid-size rectangles; feature id/tags model the reference's
    test_tags_table (uuid/name/int tag columns)."""
    n = spark.read.schema(_NATION_SCHEMA).parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    return _rect_layer(n, k, "n_name", "nations",
                       (k * 37) % 340 - 170, (k * 23) % 160 - 80,
                       (k * 37) % 340 - 170 + 6 + k % 7, (k * 23) % 160 - 80 + 4 + k % 5)


def region_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 continent-scale rectangles (hot-cell skew driver)."""
    r = spark.read.schema(_REGION_SCHEMA).parquet(f"{sf_dir}/region.parquet")
    k = F.col("r_regionkey").cast("long")
    return _rect_layer(r, k, "r_name", "regions",
                       k * 72 - 180, (k * 13) % 20 - 70,
                       k * 72 - 180 + 72, (k * 13) % 20 - 70 + 100)


def road_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 deterministic diagonal road segments, one per nation rect
    (endpoints inset 0.3/0.2 deg from the rect corners so no endpoint
    sits exactly on a rect or tile boundary) — the LineString family on
    the distributed fan-out -> clip (G2) -> encode path, reference
    analog the athens-osm road layers (provider/gpkg/gpkg_test.go:23-27).
    Ships as ring-SoA columns like the polygon layers; the DuckDB
    oracle reproduces the segment from the same integer arithmetic."""
    n = spark.read.schema(_NATION_SCHEMA).parquet(f"{sf_dir}/nation.parquet")
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
