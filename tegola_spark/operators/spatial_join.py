"""Distributed spatial operators: two-phase spatial join + cell-ring kNN.

Two-phase spatial join (reference J2/J3/J4, SURVEY.md §2.3):
tegola's scan-side bbox range join (`geom && !BBOX!`,
provider/postgis/util.go:152-179) + GPKG r-tree index join
(provider/gpkg/gpkg.go:108-118) + hitmap point-in-polygon
(maths/hitmap/hitmap.go:108-196) become, in Spark terms:

  phase 1 (prefilter): polygons -> cover cells (explode) ; points ->
      cell id; EQUI-join on the cell — broadcast when the polygon side
      is small (it replaces the r-tree), shuffled hash join + AQE skew
      split otherwise. This is the canonical range-join decomposition:
      the big side never shuffles when the dim side broadcasts.
  phase 2 (residual): exact point-in-polygon as one Catalyst
      expression, no Python stage. Each broadcast cover row carries its
      polygon's ring edges, built once from the layer's ring-SoA
      columns; each candidate folds an `aggregate` over them (crossing
      parity per part, parts ORed, boundary-inclusive) behind an exact
      vertex-bbox test. O(edges) per candidate: meant for layers of
      small rings (every layer an output supplies has 4-5 vertices).

At 100 TB the only wide exchange is the (optional) final aggregation;
the join itself is map-side. Hot cells (continent-scale polygons over
dense page clusters) are handled by keeping covers coarse per layer
(bounded cover size) + AQE skew-join splitting on the shuffled path.

Cell-ring kNN (north-star requirement; no tegola precedent —
SURVEY.md §7.4(7)): exact k-nearest-neighbors in (lon, lat) euclidean
space over a UNIFORM degree grid (ring math on mercator cells is not
distance-uniform; a fixed-degree grid gives exact ring bounds).
One pass, bounded from point statistics (the partition-statistics
radius bound of Distributed Stream KNN Join, SIGMOD 2021):

  1. one aggregate counts points per 4-degree cell (<= 91 x 46 cells)
     and reaches the driver;
  2. a summed-area table over those counts gives each cell the
     smallest r whose clipped (2r+1)^2 block holds min(k, |P|) points;
  3. that table broadcast-joins to the queries (a query's cell clipped
     into the grid); the distance D to the block's far corner bounds
     the query's kth distance;
  4. the cells within D of each query explode, equi-join the points
     once, keep dist_sq <= D^2, then window top-k by (dist_sq, id).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import cells, wkb


# ---------------------------------------------------------------------------
# two-phase spatial join
# ---------------------------------------------------------------------------

def polygon_cover(polys: DataFrame, res: int) -> DataFrame:
    """Explode polygons to their bbox cover cells at ``res`` (the
    broadcastable 'index side'). Requires minx/miny/maxx/maxy columns
    (precomputed envelope, F3-style — provider/gpkg/util.go:30-35).

    Pure column expressions (round-6, guide §4.1): the pandas-UDF form
    put a python worker round-trip on the broadcast-build critical path
    of every spatial join; the sequence+explode twin emits the same
    inclusive tile-range cell set from the same nudged conversions
    (grid.col_lon2num/col_lat2num are the oracle-proven column twins of
    grid.lon2num/lat2num; test_r06_optimizations checks the cell set
    against a python cover built from those)."""
    from ..functions import grid

    x0 = grid.col_lon2num(F.col("minx"), res)
    x1 = grid.col_lon2num(F.col("maxx"), res)
    ya = grid.col_lat2num(F.col("maxy"), res)  # larger lat -> smaller y
    yb = grid.col_lat2num(F.col("miny"), res)
    out = polys.withColumn(
        "_cx", F.explode(F.sequence(F.least(x0, x1), F.greatest(x0, x1))))
    out = out.withColumn(
        "_cy", F.explode(F.sequence(F.least(ya, yb), F.greatest(ya, yb))))
    cell = cells.col_cell(res, F.col("_cx"), F.col("_cy"))
    return out.withColumn("cell", cell).drop("_cx", "_cy")


# Each polygon's ring edges, built once on the build side from the
# layers' ring-SoA columns (coords, ring_lens, poly_lens, gkind): ring i
# starts at vertex s = sum(ring_lens[:i]), is closed j -> (j+1) % m, and
# belongs to part `part` (its polygon's index in a MultiPolygon, else 0).
# Rings of fewer than 3 vertices are skipped, as points_in_rings does.
_EDGES = """flatten(transform(
  filter(transform(ring_lens, (m, i) -> named_struct(
      'm', m,
      's', aggregate(slice(ring_lens, 1, i), 0, (a, b) -> a + b),
      'part', IF(gkind = {multi}, size(filter(
          transform(poly_lens, (c, k) ->
              aggregate(slice(poly_lens, 1, k + 1), 0, (a, b) -> a + b)),
          c -> c <= i)), 0))),
    r -> r.m >= 3),
  r -> transform(sequence(0, r.m - 1), j -> named_struct(
    'ax', coords[2 * (r.s + j)],
    'ay', coords[2 * (r.s + j) + 1],
    'bx', coords[2 * (r.s + (j + 1) % r.m)],
    'by', coords[2 * (r.s + (j + 1) % r.m) + 1],
    'part', r.part))))""".format(multi=wkb.WKB_MULTIPOLYGON)

# Exact point-in-polygon of (lon, lat) against _edges (hitmap semantics,
# maths/hitmap/hitmap.go:108-196): even-odd crossing parity per part,
# parts ORed, and a point on any edge is contained. The float operations
# are geometry.points_in_rings' own, in its order; the crossing's
# division only runs when the edge straddles lat (ANSI mode raises on
# x / 0.0). Edges arrive grouped by part, so a part's parity is folded
# into `hit` when the next part starts. The vertex-bbox test in front
# is exact: no point outside a polygon's vertex bbox lies in or on it.
_CONTAINS = """lon >= _vx0 AND lon <= _vx1 AND lat >= _vy0 AND lat <= _vy1
AND aggregate(_edges, named_struct('part', 0, 'par', false, 'hit', false),
  (acc, e) -> named_struct(
    'part', e.part,
    'par', (acc.par AND acc.part = e.part) != IF(
        (e.ay > lat) != (e.by > lat),
        lon < e.ax + (lat - e.ay) * (e.bx - e.ax) / (e.by - e.ay),
        false),
    'hit', acc.hit OR (acc.par AND acc.part != e.part)
        OR ((e.bx - e.ax) * (lat - e.ay) - (lon - e.ax) * (e.by - e.ay) = 0
            AND least(e.ax, e.bx) <= lon AND lon <= greatest(e.ax, e.bx)
            AND least(e.ay, e.by) <= lat AND lat <= greatest(e.ay, e.by))),
  acc -> acc.hit OR acc.par)"""

_EDGE_COLS = ["_edges", "_vx0", "_vy0", "_vx1", "_vy1"]


def with_ring_edges(polys: DataFrame) -> DataFrame:
    """``polys`` plus the residual's build-side columns: the ring edges
    and the vertex bbox (``_EDGE_COLS``)."""
    xs = F.expr("filter(coords, (v, k) -> k % 2 = 0)")
    ys = F.expr("filter(coords, (v, k) -> k % 2 = 1)")
    return polys.select(
        "*", F.expr(_EDGES).alias("_edges"),
        F.array_min(xs).alias("_vx0"), F.array_min(ys).alias("_vy0"),
        F.array_max(xs).alias("_vx1"), F.array_max(ys).alias("_vy1"))


def contains() -> Column:
    """The residual over a candidate row holding ``lon``/``lat`` and
    :func:`with_ring_edges`' columns (J4)."""
    return F.expr(_CONTAINS)


def spatial_join(points: DataFrame, polys: DataFrame, res: int,
                 broadcast_polys: bool = True) -> DataFrame:
    """points (lon, lat, ...) x polys (feature_id, layer, ring-SoA
    coords/ring_lens/poly_lens/gkind, minx..maxy) -> matched pairs.
    Inner join; a point can match many polygons (one row per match)."""
    cover = polygon_cover(with_ring_edges(polys), res)
    if broadcast_polys:
        cover = F.broadcast(cover)
    # NO scan spread here (round-6 A/B): the residual's work is
    # proportional to the CANDIDATE set, which the cell prefilter
    # usually makes small (nations: ~2% of points) — spreading the
    # points shuffled the whole input to parallelize a tiny stage, and
    # spreading the candidates shipped the joined polygon per row.
    # Both variants measured at or below the round-start plan, which is
    # kept; at volume the scan is already wide and the question is moot.
    pts = points.withColumn("cell", cells.col_cell_from_lonlat(F.col("lon"), F.col("lat"), res))
    cand = pts.join(cover, "cell", "inner")
    return cand.where(contains()).drop("cell", *_EDGE_COLS)


# ---------------------------------------------------------------------------
# cell-ring kNN (uniform degree grid)
# ---------------------------------------------------------------------------

_KNN_STEP_DEG = 4.0


def _knn_cell(deg: Column, offset: float) -> Column:
    return F.floor((deg + F.lit(offset)) / F.lit(_KNN_STEP_DEG)).cast("long")


def knn_cell_ring_df(points: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact kNN of each query (``queries``: query_id, qlon, qlat)
    against ``points`` (lon/lat) by squared euclidean degree distance,
    ties broken by ``doc_id``. Returns (query_id, rank, doc_id,
    dist_sq), the same rows as :func:`knn_bruteforce`.

    One histogram job reaches the driver (one count per occupied grid
    cell); per-query state stays in columns, so the query set may be
    as large as the point set."""
    hist = (points.groupBy(_knn_cell(F.col("lon"), 180.0).alias("_cx"),
                           _knn_cell(F.col("lat"), 90.0).alias("_cy"))
            .count().collect()) or [(0, 0, 0)]  # no points: any grid joins nothing
    cx, cy, n = (np.array(c, dtype=np.int64) for c in zip(*hist))
    x0, y0 = int(cx.min()), int(cy.min())
    w, h = int(cx.max()) - x0 + 1, int(cy.max()) - y0 + 1
    sat = np.zeros((w + 1, h + 1), dtype=np.int64)  # summed-area table
    sat[cx - x0 + 1, cy - y0 + 1] = n
    sat = sat.cumsum(0).cumsum(1)
    need = min(k, int(n.sum()))

    # smallest r whose clipped (2r+1)^2 block around each cell holds
    # `need` points; at r = max(w, h) the block is the whole grid
    ix, iy = np.meshgrid(np.arange(w), np.arange(h), indexing="ij")
    r = np.full((w, h), -1)
    for rr in range(max(w, h)):
        xa, xb = np.maximum(ix - rr, 0), np.minimum(ix + rr + 1, w)
        ya, yb = np.maximum(iy - rr, 0), np.minimum(iy + rr + 1, h)
        held = sat[xb, yb] - sat[xa, yb] - sat[xb, ya] + sat[xa, ya]
        r[(r < 0) & (held >= need)] = rr
    s = _KNN_STEP_DEG
    blocks = pd.DataFrame({
        "_cx": (ix + x0).ravel(), "_cy": (iy + y0).ravel(),
        "_x_lo": ((np.maximum(ix - r, 0) + x0) * s - 180.0).ravel(),
        "_x_hi": ((np.minimum(ix + r, w - 1) + x0 + 1) * s - 180.0).ravel(),
        "_y_lo": ((np.maximum(iy - r, 0) + y0) * s - 90.0).ravel(),
        "_y_hi": ((np.minimum(iy + r, h - 1) + y0 + 1) * s - 90.0).ravel(),
    })
    blocks = points.sparkSession.createDataFrame(blocks)

    # no block point is farther from the query than the block's far
    # corner, so that corner's distance D bounds the kth distance
    # wherever the query lies; the slack keeps D conservative under
    # floating point (a point's cell comes from a rounded lon + 180)
    qlon, qlat = F.col("qlon"), F.col("qlat")
    far_x = F.greatest(F.abs(qlon - F.col("_x_lo")), F.abs(qlon - F.col("_x_hi")))
    far_y = F.greatest(F.abs(qlat - F.col("_y_lo")), F.abs(qlat - F.col("_y_hi")))
    d2 = (far_x * far_x + far_y * far_y) * F.lit(1.0 + 1e-9) + F.lit(1e-9)
    q = (queries.select(
            "query_id", "qlon", "qlat",
            F.least(F.greatest(_knn_cell(qlon, 180.0), F.lit(x0)), F.lit(x0 + w - 1)).alias("_cx"),
            F.least(F.greatest(_knn_cell(qlat, 90.0), F.lit(y0)), F.lit(y0 + h - 1)).alias("_cy"))
         .join(F.broadcast(blocks), ["_cx", "_cy"])
         .select("query_id", "qlon", "qlat", d2.alias("_d2")))

    def span(c: Column, offset: float, lo: int, hi: int) -> Column:
        d = F.sqrt(F.col("_d2"))
        return F.explode(F.sequence(
            F.greatest(_knn_cell(c - d, offset), F.lit(lo)),
            F.least(_knn_cell(c + d, offset), F.lit(hi))))

    qcells = (q.withColumn("_cx", span(qlon, 180.0, x0, x0 + w - 1))
               .withColumn("_cy", span(qlat, 90.0, y0, y0 + h - 1)))
    pts = points.select("doc_id", "lon", "lat",
                        _knn_cell(F.col("lon"), 180.0).alias("_cx"),
                        _knn_cell(F.col("lat"), 90.0).alias("_cy"))
    dlon = F.col("lon") - F.col("qlon")
    dlat = F.col("lat") - F.col("qlat")
    dist = (dlon * dlon + dlat * dlat).alias("dist_sq")
    w_rank = Window.partitionBy("query_id").orderBy("dist_sq", "doc_id")
    return (
        pts.join(F.broadcast(qcells), ["_cx", "_cy"])
        .select("query_id", "doc_id", dist, "_d2")
        .where(F.col("dist_sq") <= F.col("_d2"))
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "dist_sq")
    )


def knn_bruteforce(points: DataFrame, queries, k: int) -> DataFrame:
    """Reference implementation: broadcast cross join + window top-k.
    O(|P| * |Q|) but fully distributed — the baseline the cell-ring
    variant is differentially tested against."""
    spark = points.sparkSession
    qdf = spark.createDataFrame(list(queries), "query_id long, qlon double, qlat double")
    cand = points.crossJoin(F.broadcast(qdf))
    dlon = F.col("lon") - F.col("qlon")
    dlat = F.col("lat") - F.col("qlat")
    dist = (dlon * dlon + dlat * dlat).alias("dist_sq")
    w = Window.partitionBy("query_id").orderBy("dist_sq", "doc_id")
    return (
        cand.select("query_id", "doc_id", dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "dist_sq")
    )
