"""Tile assignment + fan-out operators (reference T1-T5, J1, §2.5 buffer).

All assignment math is PURE COLUMN EXPRESSIONS (JVM-side, whole-stage
codegen) — no UDF in the hot path. The buffered-tile duplication
(SURVEY.md §2.5: a feature near an edge is emitted for every tile whose
buffered extent it intersects) is a 3x3 neighbor explode + filter,
exactly equivalent to the reference's per-tile bbox query with the
buffered extent (provider/provider.go:107-110; postgis util.go:152-179)
because the buffer (64px of a 4096px tile) is < 1 tile. The buffer is
the one constant ``BUFFER_FRAC`` for every layer and zoom, as it is in
tegola's tile (tile.go:104-107); the anchor kernel in plans/pipeline.py
reads the same constant.

Membership is evaluated in SPHERICAL web-mercator tile units — the
projection the reference's bbox path uses (proj EPSG3857 with a=b,
slippy/tile_grid.go:122-130) — while feature geometry is later
reprojected ELLIPSOIDALLY for rendering (atlas/map.go:241-248). The
asymmetry is the reference's actual behavior.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import grid

BUFFER_FRAC = grid.DEFAULT_BUFFER / grid.DEFAULT_EXTENT  # 64/4096


def _col_n(z: Column) -> Column:
    """2^z as an exact double for a zoom COLUMN — multiplies the world
    coordinate last, so the float-op order (and result bits) match the
    per-zoom-literal form ``F.lit(float(1 << z))`` exactly."""
    return F.pow(F.lit(2.0), z.cast("double"))


def col_world_x_n(lon: Column, n: Column) -> Column:
    return (lon + F.lit(180.0)) / F.lit(360.0) * n


def col_world_y_n(lat: Column, n: Column) -> Column:
    phi = lat * F.lit(math.pi / 180.0)
    ymerc = F.log(F.tan(F.lit(math.pi / 4.0) + phi / F.lit(2.0)))
    return (F.lit(0.5) - ymerc / F.lit(2.0 * math.pi)) * n


def assign_point_tiles(points: DataFrame, zooms) -> DataFrame:
    """Fan each point out to every (z, x, y) whose BUFFERED extent
    contains it. Adds columns z, x, y; one output row per membership.

    Branch-free in z (round-6): zoom is a column and 2^z an exact
    double, so one expression covers every zoom — the earlier per-zoom
    CASE chains grew the plan linearly in |zooms| (planning time was a
    measured ~4 s/run slice of the tile build at 6 zooms)."""
    zdf = F.explode(F.array(*[F.lit(z) for z in zooms])).alias("z")
    out = points.select("*", zdf)
    n = _col_n(F.col("z"))
    out = (out.withColumn("_wx", col_world_x_n(F.col("lon"), n))
              .withColumn("_wy", col_world_y_n(F.col("lat"), n))
              .withColumn("_n", n.cast("long")))
    off = F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)]))
    out = out.select("*", off.alias("_dx"))
    out = out.select("*", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("_dy"))
    x = (F.floor("_wx") + F.col("_dx")).cast("long")
    y = (F.floor("_wy") + F.col("_dy")).cast("long")
    b = F.lit(BUFFER_FRAC)
    keep = (
        (x >= 0) & (x < F.col("_n")) & (y >= 0) & (y < F.col("_n"))
        & (F.col("_wx") >= x.cast("double") - b)
        & (F.col("_wx") <= x.cast("double") + 1 + b)
        & (F.col("_wy") >= y.cast("double") - b)
        & (F.col("_wy") <= y.cast("double") + 1 + b)
    )
    return (
        out.withColumn("x", x).withColumn("y", y)
        .where(keep)
        .drop("_wx", "_wy", "_n", "_dx", "_dy")
    )


def assign_bbox_tiles(feats: DataFrame, zooms) -> DataFrame:
    """Fan bbox'd features (minx/miny/maxx/maxy in lon/lat) out to all
    tiles whose buffered extent intersects the bbox — the J2 bbox range
    join realized as sequence+explode (bounded: polygon layers are the
    small side). Adds z, x, y."""
    # Branch-free in z (round-6): one scan + explode(zooms) instead of a
    # |zooms|-way union that re-planned and re-scanned the feats subtree
    # per zoom (6 zooms = 6 scan subplans + 6 small stages; both the
    # Catalyst planning slice and the per-stage scheduling overhead
    # scaled with |zooms|). The per-zoom arithmetic is identical: 2^z as
    # an exact double multiplies last, same float-op order as the
    # literal form.
    zdf = F.explode(F.array(*[F.lit(z) for z in zooms])).alias("z")
    out = feats.select("*", zdf)
    n = _col_n(F.col("z"))
    nmax = n.cast("long") - 1
    b = F.lit(BUFFER_FRAC)
    x0 = F.floor(col_world_x_n(F.col("minx"), n) - b).cast("long")
    x1 = F.floor(col_world_x_n(F.col("maxx"), n) + b).cast("long")
    # y grows downward: maxy (north) -> smaller y
    y0 = F.floor(col_world_y_n(F.col("maxy"), n) - b).cast("long")
    y1 = F.floor(col_world_y_n(F.col("miny"), n) + b).cast("long")
    return (
        out.withColumn("x", F.explode(F.sequence(
            F.greatest(x0, F.lit(0).cast("long")), F.least(x1, nmax))))
        .withColumn("y", F.explode(F.sequence(
            F.greatest(y0, F.lit(0).cast("long")), F.least(y1, nmax))))
    )


def tile_list_from_file(spark, path: str, zooms=None,
                        explicit: bool = False) -> DataFrame:
    """S11 tile-list source: one z/x/y name per line, expanded across
    ``zooms`` unless ``explicit`` (the `tegola cache seed tile-list`
    input mode, cmd/tegola/cmd/cache/tile_list_generator.go).

    Only O(lines x zooms) SPANS touch the driver; the 4^dz descendant
    expansion runs distributively (sequence+explode with a rebalance
    between the x and y axes so one deep entry fans across the cluster),
    and distinct() reproduces the reference's dedup set."""
    with open(path) as f:
        entries = [ln for ln in (l.strip() for l in f) if ln]
    spans = grid.tile_spans_from_list(entries, zooms, explicit=explicit)
    sdf = spark.createDataFrame(
        spans, "z int, x0 long, x1 long, y0 long, y1 long")
    par = spark.sparkContext.defaultParallelism
    return (
        sdf.select("z", F.explode(F.sequence("x0", "x1")).alias("x"),
                   "y0", "y1")
        .repartition(par)  # spread each span's columns before the y fan
        .select("z", "x", F.explode(F.sequence("y0", "y1")).alias("y"))
        .distinct()
    )
