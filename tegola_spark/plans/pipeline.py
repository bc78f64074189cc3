"""End-to-end tile pipeline (the Spark form of atlas.Map.Encode +
`tegola cache seed` — SURVEY.md §3.1-3.2).

ONE builder, build_tiles, with one physical plan; no core count, corpus
size or env knob picks between alternatives. Every feature stream
(corpus points / polygon layers / roads / debug) shuffles only its own
columns, and every stream takes the same plan (_stream_plan):

  stream --fan-out (column exprs)--> repartition(bucket of its group key)
         --> [window cap, after the one exchange, on its sort]
         --> applyInPandas(encode_bucket: reproject -> [simplify] ->
             quantize -> clean -> MVT encode)

  clean is geometry.clean_geometry: lines take the clip walk, and every
  polygon takes the make-valid sweep (there is no opt-out, as there is
  none in tegola's CleanGeometry).

  points:  pages --geocode(UDF)--> tile fan-out over LEVELS; key
           (z,x,y), layer "pages"; the cap window is skipped when it
           cannot bind
  polygon layers / roads / debug: bbox fan-out; key (z,x,y,layer);
           the cap window is skipped when it cannot bind (source
           footer row count, or one debug feature, <= the budget)
  union of the streams' metric rows
        --> assemble_tiles: groupBy(z,x,y) binary concat, layer order

Point levels: every requested zoom below ``anchor_z`` is its own level,
whose groups ARE its tiles; the zooms at or above ``anchor_z`` share one
more level, the anchor, whose groups (one per anchor tile, with its
buffered neighbours' points) derive and encode every descendant tile
inside the kernel. So the points fan out, shuffle and encode once
whatever the depth — the fixed-grid form of SpatialHadoop's
sample-built partitions (VLDB 2015): partition once, then do all the
work inside the partition.

Stage-fusion decision (SURVEY.md §4 R5): the entire per-feature
geometry chain runs inside ONE grouped-map UDF — Catalyst cannot fuse
across Python UDF boundaries, so we fuse manually, paying exactly one
Arrow serialization round-trip per feature. The per-(tile, layer)
group is the natural unit because the MVT tag dictionaries and the
delta cursor are tile-layer-scoped.

Skew: hot tiles (continent polygons + dense page cells) are bounded by
``max_features_per_tile`` — a deterministic per-(tile, layer) cap
(rank by feature_id) applied by a JVM window before any group reaches
Python (the anchor kernel applies the same budget to its derived tiles
in NumPy; both derive it from ``_cap_rule``); the drop count is carried
in the metrics output. The reference only warns at 500 KB
(server/handle_map_layer_zxy.go:229-238); we meter + optionally cap.

Per-partition lineage/metrics (north rule): each encoded (z,x,y,layer)
row carries feature count, byte size, dropped-feature count and encode
wall time — the Spark analog of tegola's per-(map, layer, z) Prometheus
histograms (provider/postgis/postgis.go:110-138).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import grid, mercator, wkb
from ..operators import geometry as geo
from ..operators import mvt, tiling
from ..sources import corpus, layers

# tags travel as typed `tag_<key>` columns, not MapType: Arrow's map
# conversion builds per-row python tuple lists and cost ~30s of a 40s
# identity pass over 9.5M rows (measured); flat columns are near
# zero-copy. Column order defines MVT tag-key first-appearance order.
# Non-string tag types (E6 value variants, mvt/layer.go:133-192) ride a
# type suffix in the column name: `tag_<key>__i` (int -> int_value),
# `__f` (float -> double_value), `__b` (bool -> bool_value); bare
# `tag_<key>` stays string_value.
#
# Geometry transport is struct-of-arrays per STREAM: the pipeline
# shuffles each feature family separately with ONLY its own columns
# (round-4; the round-3 design unioned every family onto one wide
# schema, so the corpus paid 8 fixed UnsafeRow bytes per absent field —
# layer/geom/srid + three all-NULL tag columns — on every row of the
# dominant shuffle). Every feature crosses in one of two transports
# (functions/wkb.py): a point (the corpus, the debug tile centers) as
# two plain DOUBLE columns (lon, lat); a line or polygon (the layers,
# roads, debug tile outlines) as ring-SoA columns. Coordinates land in
# the encode kernel as Arrow->NumPy float64 arrays; no stream ships
# encoded geometry.
POINT_STREAM_COLS = ["z", "x", "y", "feature_id", "lon", "lat",
                     "tag_url", "tag_lang"]
ENCODE_SCHEMA = (
    "z int, x long, y long, layer string, layer_bytes binary, "
    "n_features long, n_dropped long, bytes long, encode_ms double"
)


def _ellipsoidal(arr: np.ndarray) -> np.ndarray:
    out = np.empty_like(arr)
    out[:, 0] = mercator.lon_to_x(arr[:, 0])
    out[:, 1] = mercator.lat_to_y(arr[:, 1])
    return out


_METRIC_COLS = ["z", "x", "y", "layer", "layer_bytes", "n_features",
                "n_dropped", "bytes", "encode_ms"]


def encode_bucket(pdf: pd.DataFrame, anchor_z: int | None = None,
                  deep_zooms=(), simplify: bool = False,
                  caps: dict | None = None) -> pd.DataFrame:
    """The grouped-map kernel of every stream: MANY (z, x, y, layer)
    groups per UDF invocation. groupBy on the raw tile-layer key pays
    one Python/Arrow round-trip per group — at z>=5 groups hold a
    handful of features and invocation overhead dominates. Salting the
    shuffle key down to n_buckets amortizes that, while each tile-layer
    is still encoded whole because the bucket key is a pure function of
    the group key. Output rows accumulate as dicts — building a 1-row
    pd.DataFrame per group cost ~1 ms each (29k groups = 29 s,
    measured). The bucket is sorted ONCE by (group key, feature_id) so
    each group arrives pre-sorted and _encode_one skips its per-group
    mergesort.

    A point row has no layer column; its layer is "pages". A group
    below ``anchor_z`` (any group when it is None) is one tile; a group
    AT ``anchor_z`` is one anchor tile, from whose points every
    descendant tile in ``deep_zooms`` is derived and encoded under the
    per-zoom budgets ``caps`` (_encode_anchor_tiles)."""
    keys = ["z", "x", "y", "layer"] if "layer" in pdf.columns \
        else ["z", "x", "y"]
    pdf = pdf.sort_values([*keys, "feature_id"], kind="mergesort")
    rows = []
    for k, g in pdf.groupby(keys, sort=False):
        z, x, y = int(k[0]), int(k[1]), int(k[2])
        if anchor_z is None or z < anchor_z:
            rows.append(_encode_one(
                g, time.perf_counter(), z, x, y,
                k[3] if len(k) > 3 else "pages",
                simplify=simplify, presorted=True))
        else:
            rows.extend(_encode_anchor_tiles(
                g, anchor_z, x, y, deep_zooms, simplify, caps))
    return pd.DataFrame(rows, columns=_METRIC_COLS)


# `tag_<key>__<t>` column-name type markers -> python casts whose types
# hit the matching E6 value variant (vectorTileValue, mvt/layer.go:133-192:
# int64 -> int_value, float64 -> double_value, bool -> bool_value).
# The cast also undoes Arrow->pandas null widening (an int column with
# nulls arrives as float64; int() restores the declared type).
_TAG_CASTS = {"i": int, "f": float, "b": bool}


def _tag_key_cast(col: str):
    """Column name -> (mvt key, cast-or-None)."""
    key = col[4:]
    if len(key) > 3 and key[-3:-1] == "__" and key[-1] in _TAG_CASTS:
        return key[:-3], _TAG_CASTS[key[-1]]
    return key, None


def _tag_dicts(pdf: pd.DataFrame) -> list:
    """Per-row tag dicts from the typed tag_* columns (None skipped).
    Column ORDER in the frame defines MVT dictionary first-appearance;
    derived from pdf.columns (not module state — the driver may append
    default-tag columns and workers import the module fresh).
    Column-major fill over vectorized notna masks: all-null columns
    cost one mask check instead of n per-row tests, and per-dict
    insertion order stays column order (profiled: 3x faster on
    200k-row buckets)."""
    n = len(pdf)
    out = [{} for _ in range(n)]
    for c in pdf.columns:
        if not c.startswith("tag_"):
            continue
        arr = pdf[c].to_numpy()
        mask = pd.notna(arr)
        if not mask.any():
            continue
        key, cast = _tag_key_cast(c)
        idx = np.nonzero(mask)[0].tolist()
        vals = arr[mask].tolist()
        if cast is not None:
            vals = [cast(v) for v in vals]
        for i, v in zip(idx, vals):
            out[i][key] = v
    return out


def _project_points(lon: np.ndarray, lat: np.ndarray, ext, clip_region,
                    srid_mask):
    """P8 projection + P9 quantization + clip for a point batch:
    returns (keep_mask, zigzagged (n, 2) uint32 pixel coords for ALL
    points). Per-feature cursors start at (0,0) (feature.go:139-146),
    so a point feature's stream is [MoveTo(1), zz_x, zz_y]."""
    px_x = np.where(srid_mask, mercator.lon_to_x(lon), lon)
    px_y = np.where(srid_mask, mercator.lat_to_y(lat), lat)
    minx, miny, maxx, maxy = ext
    qx = (px_x - minx) / (maxx - minx) * mvt.DEFAULT_EXTENT
    qy = (maxy - px_y) / (maxy - miny) * mvt.DEFAULT_EXTENT
    keep = ((qx >= clip_region[0]) & (qx <= clip_region[2])
            & (qy >= clip_region[1]) & (qy <= clip_region[3]))
    ix = qx.astype(np.int64)
    iy = qy.astype(np.int64)
    zz = mvt.zigzag(np.column_stack([ix, iy]).ravel()).reshape(-1, 2)
    return keep, zz.astype(np.uint32)


def _string_tag_cols(pdf: pd.DataFrame):
    """[(key, values)] over the tag_* columns in column order, or None
    when any non-null value is not a str (typed tags need the generic
    route's type-sensitive value identity)."""
    cols = []
    for c in pdf.columns:
        if not c.startswith("tag_"):
            continue
        arr = pdf[c].to_numpy()
        m = pd.notna(arr)
        if m.any() and not all(type(v) is str for v in arr[m].tolist()):
            return None
        cols.append((c[4:], arr))
    return cols


def _encode_one(pdf: pd.DataFrame, t0: float, z: int, x: int, y: int,
                layer: str, simplify: bool = False,
                presorted: bool = False) -> dict:
    """Encode one (z, x, y, layer) group into a metric row with its
    layer blob. Two routes, chosen by the group's rows alone:

    - array route: every row is a lon/lat point (the SoA transport)
      and every tag is a string — project, clip, zigzag and emit the
      whole layer from column arrays (mvt.encode_point_layer_arrays),
      with no per-feature Python objects. Every corpus point group
      takes it.
    - generic route: everything else (ring-SoA polygons and lines,
      mixed groups, typed tags) — per feature:
      reproject, [simplify], quantize, clip, then mvt.encode_layer.
      Lon/lat rows enter it as Point geometries, and it encodes them to
      the same bytes as the array route (differentially tested)."""
    ext = tuple(float(v) for v in grid.tile_extent_3857(z, x, y))
    clip_region = grid.buffered_pixel_bounds()

    if not presorted:
        pdf = pdf.sort_values("feature_id", kind="mergesort")  # O1 determinism
    if "srid" not in pdf.columns:
        pdf = pdf.assign(srid=4326)
    # rows removed by the window feature cap (build_tiles) carry their
    # count on every surviving row of the group
    cap_dropped = int(pdf["_cap_dropped"].iloc[0]) \
        if "_cap_dropped" in pdf.columns and len(pdf) else 0

    if "lon" in pdf.columns:
        lonlat = pdf["lon"].notna().to_numpy()
    else:
        lonlat = np.zeros(len(pdf), dtype=bool)
    tag_cols = _string_tag_cols(pdf) if len(pdf) and lonlat.all() else None
    if tag_cols is not None:
        keep, zz = _project_points(
            pdf["lon"].to_numpy(dtype=np.float64),
            pdf["lat"].to_numpy(dtype=np.float64),
            ext, clip_region, (pdf["srid"] != 3857).to_numpy())
        fids = pdf["feature_id"].to_numpy(dtype=np.int64)[keep]
        body = mvt.encode_point_layer_arrays(
            layer, fids, zz[keep], [(k, a[keep]) for k, a in tag_cols])
        n_in, n_feats = len(pdf), int(keep.sum())
    else:
        feats, n_in = _generic_features(pdf, lonlat, ext, clip_region, z,
                                        simplify)
        body = mvt.encode_layer(layer, feats)
        n_feats = len(feats)
    blob = mvt.encode_tile([body])  # wrap as field-3 record
    return {
        "z": z, "x": x, "y": y, "layer": layer, "layer_bytes": blob,
        "n_features": n_feats, "n_dropped": n_in - n_feats + cap_dropped,
        "bytes": len(blob),
        "encode_ms": (time.perf_counter() - t0) * 1000.0,
    }


def _decoded_iter(pdf: pd.DataFrame, lonlat: np.ndarray):
    """(feature_id, geometry, tags, srid) per row: lon/lat rows as
    Point geometries, ring-SoA rows (coords column) through
    wkb.soa_to_geometry. A row that carries neither transport is an
    error, not a silent drop."""
    if lonlat.any():
        pts = pdf[lonlat]
        for fid, lon, lat, tags, srid in zip(
                pts["feature_id"], pts["lon"].to_numpy(dtype=np.float64),
                pts["lat"].to_numpy(dtype=np.float64), _tag_dicts(pts),
                pts["srid"]):
            yield fid, ("Point", np.array([lon, lat])), tags, srid
    rest = pdf[~lonlat] if lonlat.any() else pdf
    if not len(rest):
        return
    if "coords" not in rest.columns or rest["coords"].isna().any():
        raise ValueError("encode_bucket: a row carries neither lon/lat "
                         "nor ring-SoA coords")
    plens = rest["poly_lens"] if "poly_lens" in rest.columns \
        else [None] * len(rest)
    for fid, code, coords, rl, pl, tags, srid in zip(
            rest["feature_id"], rest["gkind"], rest["coords"],
            rest["ring_lens"], plens, _tag_dicts(rest), rest["srid"]):
        yield fid, wkb.soa_to_geometry(code, coords, rl, pl), tags, srid


def _generic_features(pdf, lonlat, ext, clip_region, z, simplify):
    """The generic route's per-feature chain. Returns the encode-ready
    feature dicts sorted by id and the input feature count."""
    feats = []
    for fid, g, tags, srid in _decoded_iter(pdf, lonlat):
        if srid != 3857:
            # P8 ellipsoidal feature reprojection (atlas/map.go:241-248);
            # srid 3857 passes through untouched (tile.go:143-156)
            g = wkb.map_coords(g, _ellipsoidal)
        # G1 simplify: parity default OFF (atlas/atlas.go:19-33); when
        # enabled it runs in PROJECTED coords with the ZEpislon
        # tolerance, gated z < simplification_maxzoom(10) and z != MaxZ
        # (atlas/map.go:266-271) — exactly the reference order
        if simplify and z < 10 and z != grid.MAX_Z:
            g = geo.simplify_geometry(g, grid.zepsilon(z))
            if g is None:
                continue
        g = mvt.prepare_geo(g, ext)                  # P9 quantize
        if g is None:
            continue
        g = geo.clean_geometry(g, clip_region)  # G2/G3
        if g is None:
            continue
        feats.append({"id": int(fid), "tags": tags, "geom": g})
    # O1 determinism: the row kinds were visited one after another
    feats.sort(key=lambda f: f["id"])
    return feats, len(pdf)


def point_features(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """pages -> geocoded point features (the single-layer 'pages'
    stream — the layer name never ships; encode_bucket attaches it).

    SoA transport: points travel as (lon, lat) double columns with no
    srid/layer columns at all — the geocode UDF is the only Python
    stage before the encode shuffle, and the dominant shuffle carries
    only this stream's own live columns."""
    doc = corpus.documents(spark, sf_dir) if docs is None else docs
    pts = corpus.geocoded_points(doc)

    return pts.select(
        F.col("doc_id").alias("feature_id"),
        "lon", "lat",
        F.col("url").alias("tag_url"),
        F.col("lang").alias("tag_lang"),
    )


# polygon-stream ring-SoA transport columns (wkb.soa_to_geometry)
POLY_SOA_COLS = ["coords", "ring_lens", "poly_lens", "gkind"]


def polygon_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon layers with their ring-SoA columns (flat coord array +
    ring/poly length arrays + the WKB type code), as the layers build
    them with column expressions: no codec UDF runs on the scan side
    and the encode kernel reconstructs the ring arrays without parsing
    bytes."""
    both = layers.nation_layer(spark, sf_dir).unionByName(layers.region_layer(spark, sf_dir))
    return both.select("feature_id", "layer", "minx", "miny", "maxx", "maxy",
                       *POLY_SOA_COLS, F.col("name").alias("tag_name"))


def debug_features(spark: SparkSession, zooms) -> DataFrame:
    """S7 debug provider: per tile, the tile-outline polygon (tagged
    debug_buffer_outline) and the center point tagged "Z:z, X:x, Y:y"
    (provider/debug/debug.go:36-91), built on the driver over the world
    tile list in the two transports every stream uses: the outline as
    ring-SoA, the center as a lon/lat row. Both are emitted in 3857
    directly (the provider builds them from t.Extent(); srid 3857 skips
    reprojection — debug.go:36-60)."""
    rows = []
    for z, x, y in grid.tiles_for_bounds(-180, -85.0511, 180, 85.0511, zooms):
        minx, miny, maxx, maxy = (float(v) for v in
                                  grid.tile_extent_3857(z, x, y))
        # AsPolygon vertex order (bbox.go:33-42)
        rows.append((z, x, y, "debug-tile-outline", 0, None, None,
                     [minx, miny, maxx, miny, maxx, maxy, minx, maxy],
                     [4], wkb.WKB_POLYGON, 3857, "debug_buffer_outline", None))
        rows.append((z, x, y, "debug-tile-center", 0,
                     (minx + maxx) / 2.0, (miny + maxy) / 2.0,
                     None, None, None, 3857, "debug_text",
                     f"Z:{z}, X:{x}, Y:{y}"))
    return spark.createDataFrame(
        rows, "z int, x long, y long, layer string, feature_id long, "
        "lon double, lat double, coords array<double>, ring_lens array<int>, "
        "gkind int, srid int, tag_type string, tag_zxy string")


def _default_tag_col(k, v) -> str:
    """Column name for a default-tag value, typed by python type so the
    value hits the matching E6 variant (bool before int — bool is an
    int subclass)."""
    if isinstance(v, bool):
        return f"tag_{k}__b"
    if isinstance(v, int):
        return f"tag_{k}__i"
    if isinstance(v, float):
        return f"tag_{k}__f"
    return f"tag_{k}"


def merge_default_tags(feats: DataFrame, default_tags: dict) -> DataFrame:
    """P11: layer default_tags merged UNDER feature tags (no overwrite)
    — atlas/map.go:256-261. With typed tag columns this is coalesce;
    unknown default keys become new tag_ columns appended LAST, so
    dictionary order keeps feature tags first, matching the golden
    keys [type, foo] — atlas/map_test.go:382-390. (The reference's
    per-feature Go map carries no deterministic key order at all, so
    appended-last is a valid, stable refinement.) A default whose KEY
    matches an existing column of a different declared type coalesces
    into that column (Spark's implicit cast), mirroring the schemaless
    reference where the feature's type wins per row."""
    if not default_tags:
        return feats
    out = feats
    for k, v in default_tags.items():
        # any existing column carrying this mvt key, typed or not
        existing = [c for c in out.columns
                    if c.startswith("tag_") and _tag_key_cast(c)[0] == k]
        if existing:
            c = existing[0]
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
        else:
            out = out.withColumn(_default_tag_col(k, v), F.lit(v))
    return out


# default per-(tile, layer) feature budgets: a z0..4 tile-layer group
# holds the whole corpus's features at 100 TB, and the grouped-map
# encode materializes its group in ONE python worker's RAM via Arrow —
# an unbounded low-zoom group is an OOM, not a slowdown. The JVM window
# that enforces the cap sorts spillable, so it is safe where the pandas
# group is not. The reference only WARNS at 500 KB per tile
# (server/handle_map_layer_zxy.go:229-238); a batch engine must enforce.
CAP_LOW_ZOOM = 65536     # z <= 4
CAP_HIGH_ZOOM = 1048576  # z >= 5 safety net (skewed hot tiles)

# Target rows per encode bucket (round-6): the python-kernel bucket fan
# must adapt to VOLUME, not be a fixed multiple of shuffle partitions.
# A fixed 4x multiple cost ~115 s of per-task worker overhead at bench
# scale (768 near-empty tasks), while a fixed 1x starved the mult=600
# scaling config of balance (32 buckets of ~100k heavy rows at 16
# cores: the 16-core leg regressed 250 -> 308 s). rows/25k buckets,
# clamped to [shuffle_partitions, 8x shuffle_partitions], reproduces
# the measured best grain at BOTH scales (64 buckets at sf1.0, 128+ at
# mult=600).
ENCODE_TARGET_ROWS_PER_BUCKET = 25_000


def _encode_buckets(sp: int, rows: int) -> int:
    return min(sp * 8, max(sp, -(-rows // ENCODE_TARGET_ROWS_PER_BUCKET)))


def _cap_rule(max_features_per_tile):
    """Per-zoom feature budget as a python callable (picklable into
    kernels): 'auto' -> zoom-scaled defaults, int -> fixed, falsy ->
    None (no capping). The only statement of the budget policy: the
    window cap's column (_cap_col) and the anchor kernel's per-zoom
    caps are both derived from it."""
    if max_features_per_tile == "auto":
        return lambda z: CAP_LOW_ZOOM if z <= 4 else CAP_HIGH_ZOOM
    if max_features_per_tile:
        v = int(max_features_per_tile)
        return lambda z: v
    return None


def _cap_col(rule, zooms):
    """``rule`` as a Spark column over ``z``, exact for every zoom in
    ``zooms``: one literal per distinct budget."""
    by_cap: dict = {}
    for z in sorted(set(zooms)):
        by_cap.setdefault(rule(z), []).append(z)
    *rest, (last, _) = by_cap.items()
    col = F.lit(last)
    for c, zs in reversed(rest):
        col = F.when(F.col("z").isin(zs), F.lit(c)).otherwise(col)
    return col


def assemble_tiles(metrics: DataFrame) -> DataFrame:
    """Tile assembly: byte concat in deterministic layer-name order
    (the S6 `||` concat — provider/postgis/postgis.go:398-400)."""
    return (
        metrics.groupBy("z", "x", "y")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(layer, "
                "layer_bytes))), s -> s.layer_bytes), X'', (acc, b) -> acc || b)"
            ).alias("tile_bytes"),
            F.sum("n_features").alias("n_features"),
            F.count("*").alias("n_layers"),
        )
        .withColumn("tile_len", F.length("tile_bytes"))
    )


def _window_cap(feats: DataFrame, keys, cap) -> DataFrame:
    """Keep the ``cap`` lowest feature ids of each window partition
    over ``keys``. A row whose cap is null is its own partition, keyed
    by feature_id through the ``_solo`` column, so the window neither
    caps nor buffers it (a real column: an inline key expression costs
    the plan one more Sort). Rank and group count share one sort; the
    dropped count rides on the kept rows as ``_cap_dropped`` for the
    n_dropped lineage."""
    part = [*keys, "_solo"]
    w = Window.partitionBy(*part).orderBy("feature_id")
    wc = Window.partitionBy(*part)
    return (
        feats.withColumn("_solo", F.when(cap.isNull(), F.col("feature_id")))
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("_cap_dropped",
                    F.greatest(F.lit(0), F.count("*").over(wc) - cap))
        .where(F.coalesce(F.col("_rk") <= cap, F.lit(True)))
        .drop("_rk", "_solo")
    )


def _stream_plan(feats: DataFrame, keys, nb: int, cap, kernel) -> DataFrame:
    """One feature stream's plan, the same for every stream: hash the
    group ``keys`` into ``nb`` buckets, shuffle once, [cap], encode.

    The explicit repartition on the bucket key is the only exchange:
    groupBy reuses it (HashPartitioning(_bucket, n) satisfies the
    grouped map's ClusteredDistribution), and a REPARTITION_BY_NUM
    shuffle is exempt from AQE byte-based coalescing — which otherwise
    shrank the python-heavy stage to bytes/1m tasks (measured 5 tasks
    on 32 cores, round-6 profile). The window cap runs AFTER it: its
    partition keys start with _bucket, so it adds only the
    in-partition sort the grouped map needs anyway."""
    feats = (feats.withColumn("_bucket", F.pmod(F.hash(*keys), F.lit(nb)))
             .repartition(nb, "_bucket"))
    if cap is not None:
        feats = _window_cap(feats, ["_bucket", *keys], cap)
    return feats.groupBy("_bucket").applyInPandas(kernel, ENCODE_SCHEMA)


def _encode_anchor_tiles(g: pd.DataFrame, anchor_z: int, ax: int, ay: int,
                         deep_zooms, simplify: bool,
                         caps: dict | None) -> list:
    """Metric rows of the descendant tiles of anchor tile (ax, ay):
    derive every (z, x, y) membership for z in ``deep_zooms`` locally
    (pure NumPy — the same spherical world-coord + 3x3
    buffered-duplication predicate as tiling.assign_point_tiles), keep
    the tiles whose z-``anchor_z`` ancestor IS this anchor (each deep
    tile is produced by exactly one anchor; the anchor-level buffered
    duplication guarantees the full buffered feature set is present,
    because buffer distance in meters shrinks with zoom), then encode
    each tile under the per-zoom budget ``caps``."""
    rows = []
    buf = tiling.BUFFER_FRAC
    lon = g["lon"].to_numpy(dtype=np.float64)
    lat = g["lat"].to_numpy(dtype=np.float64)
    phi = lat * (np.pi / 180.0)
    ymerc = np.log(np.tan(np.pi / 4.0 + phi / 2.0))
    for z in deep_zooms:
        n = 1 << z
        dz = z - anchor_z
        cap = caps.get(z) if caps else None
        wx = (lon + 180.0) / 360.0 * float(n)
        wy = (0.5 - ymerc / (2.0 * np.pi)) * float(n)
        fx = np.floor(wx)
        fy = np.floor(wy)
        idx_all = []
        tx_all = []
        ty_all = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                tx = (fx + dx).astype(np.int64)
                ty = (fy + dy).astype(np.int64)
                keep = (
                    (tx >= 0) & (tx < n) & (ty >= 0) & (ty < n)
                    & (wx >= tx - buf) & (wx <= tx + 1 + buf)
                    & (wy >= ty - buf) & (wy <= ty + 1 + buf)
                    & ((tx >> dz) == ax) & ((ty >> dz) == ay)
                )
                k = np.nonzero(keep)[0]
                if len(k):
                    idx_all.append(k)
                    tx_all.append(tx[k])
                    ty_all.append(ty[k])
        if not idx_all:
            continue
        # ONE take + ONE C-speed groupby per (anchor, zoom) — a per-tile
        # .iloc loop cost more than the shuffle it saved (measured 457s
        # vs 421s at 1.28M tiles)
        exploded = g.take(np.concatenate(idx_all))
        exploded["_tx"] = np.concatenate(tx_all)
        exploded["_ty"] = np.concatenate(ty_all)
        for (tx, ty), lg in exploded.groupby(["_tx", "_ty"], sort=True):
            if cap is not None and len(lg) > cap:
                # deterministic per-tile budget matching the window cap:
                # lowest feature_ids kept; drops ride _cap_dropped
                n_over = len(lg) - cap
                lg = lg.nsmallest(cap, "feature_id").assign(
                    _cap_dropped=n_over)
            rows.append(_encode_one(
                lg, time.perf_counter(), z, int(tx), int(ty), "pages",
                simplify=simplify))
    return rows


def build_tiles(spark: SparkSession, sf_dir: str, zooms,
                max_features_per_tile="auto",
                with_polygons: bool = True, docs=None,
                with_roads: bool = False,
                with_debug: bool = False,
                default_tags: dict | None = None,
                simplify: bool = False,
                with_points: bool = True,
                tile_filter: DataFrame | None = None,
                anchor_z: int | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """Returns (layer_metrics_df, tiles_df).

    layer_metrics_df: one row per (z,x,y,layer) with blob + lineage.
    tiles_df: one row per (z,x,y) with the assembled MVT tile bytes.

    ``max_features_per_tile``: "auto" (default) applies the zoom-scaled
    budgets above; an int fixes one budget for every zoom; None disables
    capping entirely. Drops are deterministic (rank by feature_id) and
    metered in the metrics' ``n_dropped`` lineage column.

    ``anchor_z``: the point stream's anchor level (module docstring).
    It trades the point fan-out's volume against anchor-group memory:
    group rows ~= corpus / 4^anchor_z. Default max(4, max(zooms) - 6);
    at 10^12 docs use 10-12. A value above max(zooms) puts every zoom on
    its own level.

    ``with_points``: False builds only the polygon / road / debug
    layers (no geocode, no count).

    ``with_debug``, ``default_tags`` and ``simplify`` turn on tegola's
    debug provider, default-tag merge and Douglas-Peucker
    simplification. Polygons always run the make-valid sweep.

    ``tile_filter``: optional DataFrame of (z, x, y) keys — only those
    tiles are built (semi-join on the fanned-out features BEFORE the
    cap window and the encode shuffle, so encode work is proportional
    to the filtered tile set). Every zoom is then its own level, since
    an anchor group would derive descendants nobody asked for. Used by
    streaming incremental maintenance (streaming/live.py) and `cli
    seed --tile-list`.

    Execution is per-STREAM (round-4): each feature family (corpus
    points / polygon layers / debug) shuffles separately with only its
    own live columns, so the dominant corpus shuffle no longer pays the
    union schema's fixed per-field bytes for columns other families
    own. Stream outputs are disjoint (z,x,y,layer) metric rows; the
    union happens on the tiny metric side, and per-group encode bytes
    are unchanged.
    """
    if anchor_z is None:
        anchor_z = max(4, max(zooms) - 6)
    if tile_filter is not None:
        anchor_z = max(zooms) + 1
    low = sorted(z for z in set(zooms) if z < anchor_z)
    deep = sorted(z for z in set(zooms) if z >= anchor_z)
    levels = low + ([anchor_z] if deep else [])

    if tile_filter is not None:
        filter_keys = tile_filter.select(
            F.col("z").cast("int"), F.col("x").cast("long"),
            F.col("y").cast("long")).distinct()
    else:
        filter_keys = None

    def _prepare(feats: DataFrame) -> DataFrame:
        if default_tags:
            feats = merge_default_tags(feats, default_tags)
        if filter_keys is not None:
            feats = feats.join(F.broadcast(filter_keys),
                               ["z", "x", "y"], "left_semi")
        return feats

    rule = _cap_rule(max_features_per_tile)
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    outs = []
    if with_points:
        # point-row count, derived here so no caller-supplied count can
        # change output: one geocoded point per document, so the
        # documents count bounds the rows of any point-stream group.
        # The corpus scan is counted from its parquet footers (no job);
        # a caller's frame, or a non-local corpus, takes a count job.
        n_pts = None
        if docs is None:
            docs = corpus.documents(spark, sf_dir)
            n_pts = corpus.footer_rows(docs)
        if n_pts is None:
            n_pts = docs.count()
        feats = _prepare(tiling.assign_point_tiles(
            point_features(spark, sf_dir, docs=docs), levels)
            .select(*POINT_STREAM_COLS))
        # exact cap-skip (round-6): assign_point_tiles emits a point to
        # a tile AT MOST ONCE (the 3x3 neighbor offsets are distinct),
        # so a low-level tile can never exceed n_pts rows — when n_pts
        # <= the smallest low-level budget the window is provably the
        # identity and its sort is pure cost. Exact, not heuristic: the
        # moment the corpus outgrows the budget the window returns.
        # Anchor rows get a null cap; the kernel caps their derived
        # tiles.
        cap = None
        if rule is not None and low and n_pts > min(rule(z) for z in low):
            cap = F.when(F.col("z") < anchor_z, _cap_col(rule, low))
        caps = None if rule is None else {z: rule(z) for z in deep}

        def _encode_points(pdf: pd.DataFrame) -> pd.DataFrame:
            return encode_bucket(pdf, anchor_z, deep, simplify, caps)

        outs.append(_stream_plan(
            feats, ["z", "x", "y"], _encode_buckets(sp, n_pts * len(levels)),
            cap, _encode_points))

    # the layered streams as (features, bound): the bound is the most
    # rows any (z, x, y, layer) group of the stream can hold, or None
    # when it cannot be read. assign_bbox_tiles emits a feature to a
    # tile at most once, so a bbox stream's source row count bounds its
    # groups; a debug group is one feature.
    streams = []
    cat = None
    if with_polygons or with_roads:
        # zoom pruning from the layer catalog (P4) — regions capped at z<=6
        # static config — driver-side read, no per-build collect job
        cat = layers.layer_zoom_ranges()
    if with_polygons:
        src = polygon_features(spark, sf_dir)
        polys = tiling.assign_bbox_tiles(src, zooms)
        cond = None
        for name, (lo, hi) in cat.items():
            c = (F.col("layer") == name) & (F.col("z") >= lo) & (F.col("z") <= hi)
            cond = c if cond is None else (cond | c)
        streams.append((polys.where(cond).select(
            "z", "x", "y", "layer", "feature_id", *POLY_SOA_COLS,
            "tag_name"), corpus.footer_rows(src)))
    if with_roads:
        # LineString stream: same bbox fan-out + SoA transport as the
        # polygon layers; the encode kernel routes gkind=LINESTRING
        # through reproject -> quantize -> G2 clip walk -> E1-E4 emit
        lo, hi = cat.get("roads", (0, grid.MAX_Z))
        src = layers.road_layer(spark, sf_dir)
        roads = tiling.assign_bbox_tiles(src, zooms)
        streams.append((
            roads.where((F.col("z") >= lo) & (F.col("z") <= hi)).select(
                "z", "x", "y", "layer", "feature_id", *POLY_SOA_COLS,
                F.col("name").alias("tag_name")),
            corpus.footer_rows(src)))
    if with_debug:
        streams.append((debug_features(spark, zooms), 1))
    if not streams and not outs:
        raise ValueError("build_tiles: nothing to build "
                         "(no points, polygons or debug layers)")

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        return encode_bucket(pdf, simplify=simplify)

    # bbox streams (polygons/roads) are catalog-sized by contract — a
    # full-width bucket fan costs ~120 ms of fixed python-task overhead
    # per bucket for a handful of rows each (round-6 measurement); give
    # them a quarter of the width. The cap window is skipped, as the
    # point stream's is, when the stream's group bound cannot exceed
    # the smallest budget over its zooms.
    for feats, bound in streams:
        cap = None
        if rule is not None and (bound is None
                                 or bound > min(rule(z) for z in zooms)):
            cap = _cap_col(rule, zooms)
        outs.append(_stream_plan(_prepare(feats), ["z", "x", "y", "layer"],
                                 max(8, sp // 4), cap, _encode))
    metrics = outs[0]
    for m in outs[1:]:
        metrics = metrics.unionByName(m)
    return metrics, assemble_tiles(metrics)
