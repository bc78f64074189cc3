"""Raster <-> vector resampling over the cell grid (north-star
requirement; no tegola precedent — SURVEY.md §7.4(7), design per §7.2
step 7).

A "raster" here is the engine's native gridded form: a DataFrame of
(cell, value) at one resolution — the standard discrete-global-grid
representation (H3/S2 papers call these "cell rasters"). All operators
are pure column expressions; none runs a Python stage.

  * rasterize_points   points -> per-cell point count         (1 shuffle)
  * rasterize_polygons polygons -> covered cells whose center is inside
                       (cover explode + the spatial join's Catalyst
                       point-in-polygon residual)
  * resample           raster at res R -> coarser res R' (parent rollup,
                       map-side combine) or finer (children explode,
                       value divided or copied)
  * vectorize          raster -> polygon features (one bbox quad per
                       cell, ring-SoA columns) usable as a spatial-join
                       layer or MVT input
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import cells, wkb
from . import spatial_join as sj


def rasterize_points(points: DataFrame, res: int) -> DataFrame:
    """points (lon, lat) -> (cell, value) at ``res``; the value is the
    cell's point count."""
    with_cell = points.withColumn(
        "cell", cells.col_cell_from_lonlat(F.col("lon"), F.col("lat"), res))
    return with_cell.groupBy("cell").agg(F.count("*").cast("double").alias("value"))


def rasterize_polygons(polys: DataFrame, res: int, value_col: str = "feature_id") -> DataFrame:
    """polygons (ring-SoA + envelope cols) -> cells whose CENTER is
    inside the polygon, valued by value_col (last-writer-wins resolved
    by max). Center-point sampling is the standard rasterization rule."""
    cover = sj.polygon_cover(sj.with_ring_edges(polys), res)
    # cell center in lon/lat (pure column exprs: inverse slippy)
    _, cx, cy = cells.col_cell_parts(F.col("cell"))
    n = float(1 << res)
    lon = (cx.cast("double") + 0.5) / F.lit(n) * 360.0 - 180.0
    lat = cells.col_tile_lat(cy.cast("double") + 0.5, F.lit(n))
    cand = cover.withColumn("lon", lon).withColumn("lat", lat)
    hit = cand.where(sj.contains())
    return hit.groupBy("cell").agg(F.max(value_col).cast("double").alias("value"))


def resample(raster: DataFrame, from_res: int, to_res: int,
             agg: str = "sum") -> DataFrame:
    """Change resolution. Coarser: parent rollup with map-side partial
    aggregation (sum/avg/min/max). Finer: each cell explodes to its
    4^dres children; 'sum' splits the value evenly, others copy."""
    if to_res == from_res:
        return raster
    if to_res < from_res:
        dres = from_res - to_res
        parent = cells.col_cell_parent(F.col("cell"), dres).alias("cell")
        fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}[agg]
        return raster.select(parent, "value").groupBy("cell").agg(
            fn("value").alias("value"))
    dres = to_res - from_res
    k = 1 << dres
    _, cx, cy = cells.col_cell_parts(F.col("cell"))
    dx = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("dx")
    out = raster.select("cell", "value", dx)
    out = out.select("cell", "value", "dx",
                     F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("dy"))
    child = cells.col_cell(to_res, F.shiftleft(cx, dres) + F.col("dx"),
                           F.shiftleft(cy, dres) + F.col("dy"))
    val = (F.col("value") / F.lit(float(k * k))) if agg == "sum" else F.col("value")
    return out.select(child.alias("cell"), val.alias("value"))


def vectorize(raster: DataFrame) -> DataFrame:
    """raster -> polygon features: each cell's bbox quad in lon/lat,
    as envelope columns plus one 4-vertex Polygon ring in ring-SoA
    columns (vertex order SW, SE, NE, NW), suitable as a spatial-join
    right side or MVT layer input."""
    res_col, cx, cy = cells.col_cell_parts(F.col("cell"))
    n = F.pow(F.lit(2.0), res_col.cast("double"))
    lon0 = cx.cast("double") / n * 360.0 - 180.0
    lon1 = (cx.cast("double") + 1) / n * 360.0 - 180.0
    lat1c = cells.col_tile_lat(cy.cast("double"), n)
    lat0c = cells.col_tile_lat(cy.cast("double") + 1, n)
    quad = raster.select(
        F.col("cell").alias("feature_id"), "value",
        lon0.alias("minx"), lat0c.alias("miny"),
        lon1.alias("maxx"), lat1c.alias("maxy"))
    x0, y0, x1, y1 = (F.col(c) for c in ("minx", "miny", "maxx", "maxy"))
    return quad.select(
        "*", F.array(x0, y0, x1, y0, x1, y1, x0, y1).alias("coords"),
        F.array(F.lit(4)).alias("ring_lens"),
        F.array(F.lit(1)).alias("poly_lens"),
        F.lit(wkb.WKB_POLYGON).alias("gkind"))
