"""End-to-end tile pipeline (the Spark form of atlas.Map.Encode +
`tegola cache seed` — SURVEY.md §3.1-3.2).

Plan shape (one wide exchange; everything else map-side):

  pages --geocode(UDF)--> points --tile fan-out (column exprs)-->
                                        \\
  polygon layers --bbox fan-out-------- union --repartition(z,x,y,layer)
        --> applyInPandas(encode layer: reproject -> [simplify] ->
            quantize -> clip -> MVT encode)  [one Arrow round-trip]
        --> groupBy(z,x,y) assemble tile (binary concat, layer order)

Stage-fusion decision (SURVEY.md §4 R5): the entire per-feature
geometry chain runs inside ONE grouped-map UDF — Catalyst cannot fuse
across Python UDF boundaries, so we fuse manually, paying exactly one
Arrow serialization round-trip per feature. The per-(tile, layer)
group is the natural unit because the MVT tag dictionaries and the
delta cursor are tile-layer-scoped.

Skew: the grouped encode shuffles on (z, x, y, layer). Hot tiles
(continent polygons + dense page cells) are bounded by
``max_features_per_tile`` — a deterministic per-(tile, layer) cap
(rank by feature_id) applied BEFORE the shuffle with the same window
the encode would use; the drop count is carried in the metrics output.
The reference only warns at 500 KB (server/handle_map_layer_zxy.go:229-238);
we meter + optionally cap.

Per-partition lineage/metrics (north rule): each encoded (z,x,y,layer)
row carries feature count, byte size, dropped-feature count and encode
wall time — the Spark analog of tegola's per-(map, layer, z) Prometheus
histograms (provider/postgis/postgis.go:110-138).
"""

from __future__ import annotations

import os
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
# dominant shuffle). POINT features (the corpus) cross as two plain
# DOUBLE columns (lon, lat) with no geom column at all; polygon/debug
# features carry WKB. Coordinates land in the encode kernel as
# zero-copy Arrow->NumPy float64 views, bit-exact vs the WKB path.
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

# little-endian 2D WKB Point header — the vectorized fast-path marker
_POINT_WKB_HEAD = b"\x01\x01\x00\x00\x00"


def encode_bucket(pdf: pd.DataFrame, simplify: bool = False,
                  repair: bool = True,
                  const_layer: str | None = None) -> pd.DataFrame:
    """Bucketed grouped-map kernel: MANY (z, x, y, layer) groups per UDF
    invocation. groupBy on the raw tile-layer key pays one Python/Arrow
    round-trip per group — at z>=5 groups hold a handful of features
    and invocation overhead dominates. Salting the shuffle key down to
    n_buckets amortizes that, while each tile-layer is still encoded
    whole because the bucket key is a pure function of the group key.
    Output rows accumulate as dicts — building a 1-row pd.DataFrame per
    group cost ~1 ms each (29k groups = 29 s, measured). The bucket is
    sorted ONCE by (group key, feature_id) so each group arrives
    pre-sorted and _encode_one skips its per-group mergesort.

    ``const_layer``: single-layer streams (the corpus point stream)
    omit the layer column from the shuffle entirely; the constant name
    is re-attached here."""
    if const_layer is None:
        pdf = pdf.sort_values(["z", "x", "y", "layer", "feature_id"],
                              kind="mergesort")
        rows = [
            _encode_one(g, time.perf_counter(),
                        int(k[0]), int(k[1]), int(k[2]), k[3],
                        simplify=simplify, repair=repair, presorted=True)
            for k, g in pdf.groupby(["z", "x", "y", "layer"], sort=False)
        ]
    else:
        pdf = pdf.sort_values(["z", "x", "y", "feature_id"],
                              kind="mergesort")
        rows = [
            _encode_one(g, time.perf_counter(),
                        int(k[0]), int(k[1]), int(k[2]), const_layer,
                        simplify=simplify, repair=repair, presorted=True)
            for k, g in pdf.groupby(["z", "x", "y"], sort=False)
        ]
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


def _vectorized_points(pdf: pd.DataFrame, lon: np.ndarray, lat: np.ndarray,
                       ext, clip_region, srid_mask) -> list:
    """Fast path: every point in the group is projected (P8), quantized
    (P9), clipped and command-encoded in a handful of NumPy passes over
    the (lon, lat) arrays — SoA transport hands these in as zero-copy
    Arrow views; the legacy WKB-point caller decodes them in one
    frombuffer pass."""
    keep, zz = _project_points(lon, lat, ext, clip_region, srid_mask)
    move1 = mvt.command(mvt.CMD_MOVETO, 1)
    feats = []
    fids = pdf["feature_id"].to_numpy()
    tags = _tag_dicts(pdf)
    for i in np.nonzero(keep)[0]:
        feats.append({
            "id": int(fids[i]),
            "tags": tags[i],
            "cmds": (np.array([move1, zz[i, 0], zz[i, 1]], dtype=np.uint32),
                     mvt.GEOM_POINT),
        })
    return feats


def _encode_one(pdf: pd.DataFrame, t0: float, z: int, x: int, y: int,
                layer: str, simplify: bool = False,
                repair: bool = True, presorted: bool = False) -> dict:
    ext = tuple(float(v) for v in grid.tile_extent_3857(z, x, y))
    clip_region = grid.buffered_pixel_bounds()

    if not presorted:
        pdf = pdf.sort_values("feature_id", kind="mergesort")  # O1 determinism
    n_in = len(pdf)
    if "srid" not in pdf.columns:
        pdf = pdf.assign(srid=4326)

    # split: SoA points (lon/lat columns, geom NULL) take the zero-copy
    # fast path; legacy 21-byte WKB points (debug centers, direct
    # encode_bucket callers) take the frombuffer fast path; everything
    # else is the generic per-feature path. The per-row WKB sniff only
    # runs when the group is not pure-SoA (the corpus groups are).
    if "lon" in pdf.columns:
        soa = pdf["lon"].notna().to_numpy()
    else:
        soa = np.zeros(len(pdf), dtype=bool)

    # full-bypass for pure-SoA point groups (the corpus case): project,
    # clip, zigzag and emit the ENTIRE layer from column arrays —
    # no per-feature dicts anywhere (mvt.encode_point_layer_arrays;
    # byte-identical to the dict path by differential test). Gated on
    # the emission-strategy switch (mvt._VECTORIZE_POINT_BLOCK — see
    # the crossover measurement there); falls back when any tag column
    # holds non-string values (e.g. numeric default_tags) — the
    # factorize dictionary can't reproduce type-sensitive value
    # identity then.
    if mvt.vector_emit(len(pdf)) and soa.all() and len(pdf):
        tag_cols = []
        strings_only = True
        for c in pdf.columns:
            if not c.startswith("tag_"):
                continue
            arr = pdf[c].to_numpy()
            m = pd.notna(arr)
            if m.any() and not all(type(v) is str for v in arr[m].tolist()):
                strings_only = False
                break
            tag_cols.append((c[4:], arr))
        if strings_only:
            keep, zz = _project_points(
                pdf["lon"].to_numpy(dtype=np.float64),
                pdf["lat"].to_numpy(dtype=np.float64),
                ext, clip_region, (pdf["srid"] != 3857).to_numpy())
            fids = pdf["feature_id"].to_numpy(dtype=np.int64)[keep]
            body = mvt.encode_point_layer_arrays(
                layer, fids, zz[keep],
                [(k, a[keep]) for k, a in tag_cols])
            blob = mvt.encode_tile([body])
            cap_dropped = int(pdf["_cap_dropped"].iloc[0]) \
                if "_cap_dropped" in pdf.columns and len(pdf) else 0
            n_feats = int(keep.sum())
            return {
                "z": z, "x": x, "y": y, "layer": layer,
                "layer_bytes": blob, "n_features": n_feats,
                "n_dropped": n_in - n_feats + cap_dropped,
                "bytes": len(blob),
                "encode_ms": (time.perf_counter() - t0) * 1000.0,
            }
    if (soa.all() and len(pdf)) or "geom" not in pdf.columns:
        wkbpt = np.zeros(len(pdf), dtype=bool)
    else:
        wkbpt = np.fromiter(
            ((not s) and b is not None and len(b) == 21
             and bytes(b[:5]) == _POINT_WKB_HEAD
             for s, b in zip(soa, pdf["geom"])),
            dtype=bool, count=len(pdf))
    feats = []
    if soa.all() and len(pdf):
        pts = pdf  # pure-SoA group (the corpus case): no mask copy
    else:
        pts = pdf[soa]
    if len(pts):
        feats.extend(_vectorized_points(
            pts, pts["lon"].to_numpy(dtype=np.float64),
            pts["lat"].to_numpy(dtype=np.float64),
            ext, clip_region, (pts["srid"] != 3857).to_numpy()))
    if len(pts) == len(pdf):
        rest = pdf.iloc[0:0]
    else:
        wpts = pdf[wkbpt]
        if len(wpts):
            buf = np.frombuffer(b"".join(wpts["geom"]),
                                dtype=np.uint8).reshape(-1, 21)
            feats.extend(_vectorized_points(
                wpts, buf[:, 5:13].copy().view("<f8").ravel(),
                buf[:, 13:21].copy().view("<f8").ravel(),
                ext, clip_region, (wpts["srid"] != 3857).to_numpy()))
        rest = pdf[~(soa | wkbpt)]
    # remainder split: ring-SoA rows (coords column, wkb.soa_to_geometry
    # — no byte parsing) vs WKB rows (generic codec path)
    if len(rest) and "coords" in rest.columns:
        ring_mask = rest["coords"].notna().to_numpy()
    else:
        ring_mask = np.zeros(len(rest), dtype=bool)

    def _decoded_iter():
        wkb_rows = rest[~ring_mask] if ring_mask.any() else rest
        if len(wkb_rows):
            tags_w = _tag_dicts(wkb_rows)
            for fid, gwkb, tags, srid in zip(
                    wkb_rows["feature_id"], wkb_rows["geom"], tags_w,
                    wkb_rows["srid"]):
                yield fid, wkb.decode(bytes(gwkb)), tags, srid
        if ring_mask.any():
            ring_rows = rest[ring_mask]
            tags_r = _tag_dicts(ring_rows)
            plens = ring_rows["poly_lens"] if "poly_lens" in ring_rows.columns \
                else [None] * len(ring_rows)
            for fid, code, coords, rl, pl, tags, srid in zip(
                    ring_rows["feature_id"], ring_rows["gkind"],
                    ring_rows["coords"], ring_rows["ring_lens"], plens,
                    tags_r, ring_rows["srid"]):
                yield fid, wkb.soa_to_geometry(code, coords, rl, pl), \
                    tags, srid

    for fid, decoded, tags, srid in _decoded_iter():
        # GeometryCollection: empty -> feature skipped (atlas/map.go:232-236);
        # non-empty -> one feature per member geometry, tags shared
        # (mvt.NewFeatures flattening, mvt/feature.go:48-67)
        members = wkb.flatten_collection(decoded)
        n_in += max(0, len(members) - 1)  # empty collection counts as 1 drop
        for g in members:
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
            g = geo.clean_geometry(g, clip_region, repair=repair)  # G2/G3
            if g is None:
                continue
            feats.append({"id": int(fid), "tags": tags, "geom": g})

    # O1 determinism across both paths
    feats.sort(key=lambda f: f["id"])
    body = mvt.encode_layer(layer, feats)
    blob = mvt.encode_tile([body])  # wrap as field-3 record
    ms = (time.perf_counter() - t0) * 1000.0
    # rows removed by the pre-shuffle feature cap (build_tiles) carry
    # their count on every surviving row of the group
    cap_dropped = int(pdf["_cap_dropped"].iloc[0]) \
        if "_cap_dropped" in pdf.columns and len(pdf) else 0
    return {
        "z": z, "x": x, "y": y, "layer": layer, "layer_bytes": blob,
        "n_features": len(feats), "n_dropped": n_in - len(feats) + cap_dropped,
        "bytes": len(blob), "encode_ms": ms,
    }


def point_features(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """pages -> geocoded point features (the single-layer 'pages'
    stream — the layer name never ships; encode_bucket re-attaches it).

    SoA transport: points travel as (lon, lat) double columns with no
    geom/srid/layer columns at all — no WKB codec UDF touches the
    corpus (the geocode UDF is the only Python stage before the encode
    shuffle), and the dominant shuffle carries only this stream's own
    live columns."""
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
    """Polygon layers as ring-SoA columns: flat coord array + ring/poly
    length arrays + the WKB type code — built with PURE column
    expressions (the rect corners are already columns), so no codec UDF
    runs on the scan side and the encode kernel reconstructs identical
    ring arrays without parsing bytes. Arbitrary-geometry sources can
    keep shipping a `geom` WKB column instead; the kernel handles both."""
    nat = layers.nation_layer(spark, sf_dir)
    reg = layers.region_layer(spark, sf_dir)
    both = nat.unionByName(reg)
    d = [F.col(c).cast("double") for c in ("minx", "miny", "maxx", "maxy")]
    # same vertex order as the WKB rect ring: (x0,y0)(x1,y0)(x1,y1)(x0,y1)(x0,y0)
    ring = F.array(d[0], d[1], d[2], d[1], d[2], d[3], d[0], d[3], d[0], d[1])
    return both.select(
        "feature_id", "layer", "minx", "miny", "maxx", "maxy",
        ring.alias("coords"),
        F.array(F.lit(5)).alias("ring_lens"),
        F.array(F.lit(1)).alias("poly_lens"),
        F.lit(wkb.WKB_POLYGON).alias("gkind"),
        F.col("name").alias("tag_name"),
    )


def debug_features(spark: SparkSession, zooms) -> DataFrame:
    """S7 debug provider: per tile, the tile-outline polygon (tagged
    debug_buffer_outline) and the center point tagged "Z:z, X:x, Y:y"
    (provider/debug/debug.go:36-91). Generated as a DataFrame over the
    world tile list; geometry synthesized in one Arrow batch pass."""
    rows = grid.tiles_for_bounds(-180, -85.0511, 180, 85.0511, zooms)
    tiles = spark.createDataFrame(rows, "z int, x long, y long")

    # debug features are emitted in 3857 directly (the provider builds
    # them from t.Extent(); srid 3857 skips reprojection — debug.go:36-60)
    @F.pandas_udf("binary")
    def outline(z: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        out = []
        for zz, xx, yy in zip(z, x, y):
            minx, miny, maxx, maxy = grid.tile_extent_3857(int(zz), int(xx), int(yy))
            # AsPolygon vertex order (bbox.go:33-42)
            ring = np.array([[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]])
            out.append(wkb.encode(("Polygon", [ring])))
        return pd.Series(out)

    @F.pandas_udf("binary")
    def center(z: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        out = []
        for zz, xx, yy in zip(z, x, y):
            minx, miny, maxx, maxy = grid.tile_extent_3857(int(zz), int(xx), int(yy))
            out.append(wkb.encode(("Point", np.array([(minx + maxx) / 2.0,
                                                      (miny + maxy) / 2.0]))))
        return pd.Series(out)

    tag = F.concat(F.lit("Z:"), F.col("z").cast("string"), F.lit(", X:"),
                   F.col("x").cast("string"), F.lit(", Y:"), F.col("y").cast("string"))
    none = F.lit(None).cast("string")
    out_poly = tiles.select(
        "z", "x", "y", F.lit("debug-tile-outline").alias("layer"),
        F.lit(0).cast("long").alias("feature_id"),
        outline("z", "x", "y").alias("geom"),
        F.lit(3857).alias("srid"),
        F.lit("debug_buffer_outline").alias("tag_type"),
        none.alias("tag_zxy"))
    out_ctr = tiles.select(
        "z", "x", "y", F.lit("debug-tile-center").alias("layer"),
        F.lit(0).cast("long").alias("feature_id"),
        center("z", "x", "y").alias("geom"),
        F.lit(3857).alias("srid"),
        F.lit("debug_text").alias("tag_type"),
        tag.alias("tag_zxy"))
    return out_poly.unionByName(out_ctr)


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

# fused-assembly polygon budget: above this many polygon features the
# broadcast + in-kernel membership stops being a small-dim move and the
# hierarchical build falls back to the unfused (distributed fan-out)
# plan. Env override for deployments with bigger executors.
FUSED_MAX_POLYS = 100_000

# expected point-fan-out rows (n_docs x |zooms|) above which the
# single-exchange streaming encode beats the legacy two-exchange plan's
# lower fixed overhead (A/B: driver config 5k docs -> legacy 7.1s vs
# stream 10.0s; mult=600 deep config -> stream 180s vs legacy 210s and
# 258 vs 418 B/tile)
STREAM_ENCODE_MIN_ROWS = 1_000_000

# minimum parallelism for fused LOW-zoom assembly to pay off. The
# fused-low kernel's task grain is the low-zoom tile-group count
# (~85 at z0..3), so its win (no assemble exchange, fewer bytes) only
# shows where the host is bandwidth-bound; at mid core counts the
# legacy plan's finer salted-bucket tasks schedule better. Measured
# mult=600 z0..10 alternated pairs: 32 cores fused 149.6/174.6 vs
# legacy 169.3/197.9 (fused wins ~12%); 16 cores fused 301.1/307.0 vs
# legacy 259.7/293.5 (fused LOSES ~14%). On a multi-executor cluster
# total cores are large and shuffle bytes are the scarce resource, so
# high-parallelism defaults to fused.
FUSED_LOW_MIN_CORES = 24


def fused_max_polys() -> int:
    env = os.environ.get("SPARK_GRAFT_FUSED_MAX_POLYS")
    return int(env) if env else FUSED_MAX_POLYS


# Target rows per encode bucket (round-6): the python-kernel bucket fan
# must adapt to VOLUME, not be a fixed multiple of shuffle partitions.
# A fixed 4x multiple cost ~115 s of per-task worker overhead at bench
# scale (768 near-empty tasks), while a fixed 1x starved the mult=600
# scaling config of balance (32 buckets of ~100k heavy rows at 16
# cores: the 16-core leg regressed 250 -> 308 s). rows/25k buckets,
# clamped to [shuffle_partitions, 8x shuffle_partitions], reproduces
# the measured best grain at BOTH scales (64 buckets at sf1.0, 128+ at
# mult=600); unknown volume falls back to the legacy 4x.
ENCODE_TARGET_ROWS_PER_BUCKET = 25_000


def _encode_buckets(sp: int, rows: int | None) -> int:
    if not rows:
        return sp * 4
    return min(sp * 8, max(sp, -(-rows // ENCODE_TARGET_ROWS_PER_BUCKET)))


def _cap_rule(max_features_per_tile):
    """Per-zoom feature budget as a python callable (picklable into
    kernels): 'auto' -> zoom-scaled defaults, int -> fixed, falsy ->
    None (no capping)."""
    if max_features_per_tile == "auto":
        return lambda z: CAP_LOW_ZOOM if z <= 4 else CAP_HIGH_ZOOM
    if max_features_per_tile:
        v = int(max_features_per_tile)
        return lambda z: v
    return None


def _cap_first_filter(feats: DataFrame, group_keys: list, cap) -> DataFrame:
    """Round-5 cap-first thresholds: compute each tile's cap-th-lowest
    feature_id on a THIN (group key, feature_id) projection — Catalyst
    prunes the payload columns out of that window's exchange — then
    broadcast the tiny per-tile threshold table and filter the payload
    MAP-SIDE, so only winner rows ever cross the encode exchange.
    Exact: feature_ids are unique per group, so fid <= threshold keeps
    precisely the window cap's winner set; the per-group dropped count
    rides the _pre_dropped channel on the (always-surviving) min-fid
    row."""
    thin = feats.select(*group_keys, "feature_id")
    w = Window.partitionBy(*group_keys).orderBy("feature_id")
    wc = Window.partitionBy(*group_keys)
    marked = (
        thin.withColumn("_rk", F.row_number().over(w))
        .withColumn("_tot", F.count("*").over(wc))
        .where((F.col("_rk") == cap) | (F.col("_rk") == 1))
    )
    thr = marked.groupBy(*group_keys).agg(
        F.max(F.when(F.col("_rk") == cap,
                     F.col("feature_id"))).alias("_thr"),
        F.max(F.when(F.col("_rk") == 1,
                     F.col("feature_id"))).alias("_minfid"),
        F.max("_tot").alias("_tot"))
    return (
        feats.join(F.broadcast(thr), group_keys, "inner")
        .where(F.col("_thr").isNull()
               | (F.col("feature_id") <= F.col("_thr")))
        .withColumn(
            "_pre_dropped",
            F.when(F.col("feature_id") == F.col("_minfid"),
                   F.greatest(F.lit(0), F.col("_tot") - cap))
            .otherwise(F.lit(0)).cast("long"))
        .drop("_thr", "_minfid", "_tot")
    )


def _make_stream_encode(cap_rule, simplify, repair, const_layer):
    """Streaming encode kernel (round-5 single-exchange plan): input is
    hash-partitioned by the (tile[, layer]) group key and sorted within
    partitions by (group key, feature_id), so groups arrive contiguous
    and pre-sorted across Arrow batches. The kernel applies the
    per-(tile, layer) budget with a running counter (bounded memory:
    at most cap(z) rows buffered per open group — the JVM sort is the
    spillable stage, exactly the property the old window-cap provided)
    and encodes each completed group with the standard kernel. This
    replaces [window-cap exchange -> bucket exchange] with ONE
    exchange; outputs are byte-identical (differential test)."""
    gcols = ["z", "x", "y"] + ([] if const_layer else ["layer"])

    def gen(batches):
        cur = None
        buf: list = []
        buf_rows = 0
        n_seen = 0
        pre_dropped = 0
        out: list = []

        def flush():
            nonlocal cur, buf, buf_rows, n_seen, pre_dropped
            if cur is None:
                return
            g = pd.concat(buf, ignore_index=True) if len(buf) > 1 \
                else buf[0].reset_index(drop=True)
            if "_pre_dropped" in g.columns:
                g = g.drop(columns=["_pre_dropped"])
            layer = const_layer if const_layer else cur[3]
            g = g.assign(_cap_dropped=(n_seen - len(g)) + pre_dropped)
            out.append(_encode_one(
                g, time.perf_counter(), int(cur[0]), int(cur[1]),
                int(cur[2]), layer, simplify=simplify, repair=repair,
                presorted=True))
            cur = None
            buf = []
            buf_rows = 0
            n_seen = 0
            pre_dropped = 0

        for pdf in batches:
            if not len(pdf):
                continue
            has_pre = "_pre_dropped" in pdf.columns
            keyarr = [pdf[c].to_numpy() for c in gcols]
            chg = np.zeros(len(pdf), dtype=bool)
            chg[0] = True
            for a in keyarr:
                chg[1:] |= a[1:] != a[:-1]
            idx = np.nonzero(chg)[0].tolist() + [len(pdf)]
            for s, e in zip(idx[:-1], idx[1:]):
                key = tuple(a[s] for a in keyarr)
                if cur is not None and key != cur:
                    flush()
                if cur is None:
                    cur = key
                seg = pdf.iloc[s:e]
                if has_pre:
                    pre_dropped += int(seg["_pre_dropped"].sum())
                n_seen += e - s
                cap = cap_rule(int(key[0])) if cap_rule else None
                if cap is not None and buf_rows + (e - s) > cap:
                    take = cap - buf_rows
                    if take > 0:
                        buf.append(seg.iloc[:take])
                        buf_rows += take
                else:
                    buf.append(seg)
                    buf_rows += e - s
                if len(out) >= 64:
                    yield pd.DataFrame(out, columns=_METRIC_COLS)
                    out = []
        flush()
        if out:
            yield pd.DataFrame(out, columns=_METRIC_COLS)
    return gen


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


def build_tiles(spark: SparkSession, sf_dir: str, zooms,
                max_features_per_tile="auto",
                with_polygons: bool = True, docs=None,
                with_roads: bool = False,
                with_debug: bool = False,
                default_tags: dict | None = None,
                simplify: bool = False,
                repair_polygons: bool = True,
                n_docs: int | None = None,
                point_zooms=None,
                tile_filter: DataFrame | None = None,
                points_df: DataFrame | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """Returns (layer_metrics_df, tiles_df).

    layer_metrics_df: one row per (z,x,y,layer) with blob + lineage.
    tiles_df: one row per (z,x,y) with the assembled MVT tile bytes.

    ``max_features_per_tile``: "auto" (default) applies the zoom-scaled
    budgets above; an int fixes one budget for every zoom; None disables
    capping entirely. Drops are deterministic (rank by feature_id) and
    metered in the metrics' ``n_dropped`` lineage column.

    ``point_zooms``: zooms the POINT layer fans out to (default: same
    as ``zooms``); build_tiles_hierarchical passes the low zooms here
    and derives the deep zooms from one anchor shuffle.

    ``tile_filter``: optional DataFrame of (z, x, y) keys — only those
    tiles are built (semi-join on the fanned-out features BEFORE the
    cap window and the encode shuffle, so encode work is proportional
    to the filtered tile set). Used by streaming incremental
    maintenance (streaming/live.py) to rebuild only affected tiles.

    Execution is per-STREAM (round-4): each feature family (corpus
    points / polygon layers / debug) shuffles separately with only its
    own live columns, so the dominant corpus shuffle no longer pays the
    union schema's fixed per-field bytes for columns other families
    own. Stream outputs are disjoint (z,x,y,layer) metric rows; the
    union happens on the tiny metric side, and per-group encode bytes
    are unchanged.
    """
    pzooms = list(zooms) if point_zooms is None else list(point_zooms)
    streams: list[tuple[DataFrame, str | None]] = []  # (feats, const_layer)
    if pzooms:
        # ``points_df``: the hierarchical build passes its own geocoded
        # point frame (post-reuse-exchange) so BOTH its consumers share
        # one geocode evaluation — see build_tiles_hierarchical
        pts = tiling.assign_point_tiles(
            point_features(spark, sf_dir, docs=docs)
            if points_df is None else points_df, pzooms)
        streams.append((pts.select(*POINT_STREAM_COLS), "pages"))
    cat = None
    if with_polygons or with_roads:
        # zoom pruning from the layer catalog (P4) — regions capped at z<=6
        # static config — driver-side read, no per-build collect job
        cat = layers.layer_zoom_ranges()
    if with_polygons:
        polys = tiling.assign_bbox_tiles(polygon_features(spark, sf_dir), zooms)
        cond = None
        for name, (lo, hi) in cat.items():
            c = (F.col("layer") == name) & (F.col("z") >= lo) & (F.col("z") <= hi)
            cond = c if cond is None else (cond | c)
        streams.append((polys.where(cond).select(
            "z", "x", "y", "layer", "feature_id", *POLY_SOA_COLS,
            "tag_name"), None))
    if with_roads:
        # LineString stream: same bbox fan-out + SoA transport as the
        # polygon layers; the encode kernel routes gkind=LINESTRING
        # through reproject -> quantize -> G2 clip walk -> E1-E4 emit
        lo, hi = cat.get("roads", (0, grid.MAX_Z))
        roads = tiling.assign_bbox_tiles(layers.road_layer(spark, sf_dir),
                                         zooms)
        streams.append((
            roads.where((F.col("z") >= lo) & (F.col("z") <= hi)).select(
                "z", "x", "y", "layer", "feature_id", *POLY_SOA_COLS,
                F.col("name").alias("tag_name")), None))

    if with_debug:
        streams.append((debug_features(spark, zooms), None))
    if not streams:
        raise ValueError("build_tiles: nothing to build "
                         "(no point zooms, polygons or debug layers)")

    if tile_filter is not None:
        filter_keys = tile_filter.select(
            F.col("z").cast("int"), F.col("x").cast("long"),
            F.col("y").cast("long")).distinct()
    else:
        filter_keys = None

    if max_features_per_tile == "auto":
        cap = F.when(F.col("z") <= 4, F.lit(CAP_LOW_ZOOM)) \
               .otherwise(F.lit(CAP_HIGH_ZOOM))
    elif max_features_per_tile:
        cap = F.lit(int(max_features_per_tile))
    else:
        cap = None

    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # single-exchange streaming encode (round-5): hash-partition by the
    # group key, sort spillably in the JVM, then ONE pass that caps +
    # encodes — removes the legacy plan's second (bucket) exchange.
    # Its extra python stage boundaries cost ~3s of fixed overhead at
    # toy scale where the exchange it saves is tiny, so the default is
    # VOLUME-ADAPTIVE (the round-4 depth-adaptive-fusion precedent):
    # stream-encode when the expected point fan-out is large, legacy
    # two-exchange otherwise. SPARK_GRAFT_STREAM_ENCODE=1/0 forces.
    rule = _cap_rule(max_features_per_tile)
    # n_docs: caller-supplied corpus count so the volume gates don't
    # launch an extra count job per build (round-5 cost audit: two
    # gate counts per build cost ~1s/run at bench scale)
    n_pts = n_docs
    se_env = os.environ.get("SPARK_GRAFT_STREAM_ENCODE")
    if se_env is not None:
        stream_encode = se_env == "1"
    else:
        if pzooms and n_pts is None:
            n_pts = (docs.count() if docs is not None
                     else corpus.documents(spark, sf_dir).count())
        stream_encode = bool(pzooms) and \
            n_pts * len(pzooms) >= STREAM_ENCODE_MIN_ROWS

    # cap-first (round-5, the dominant-exchange byte cut): when the
    # per-tile budgets are expected to BIND (corpus rows per low-zoom
    # tile >> cap), first compute each tile's cap-th-lowest feature_id
    # on a THIN (z, x, y, feature_id) projection — Catalyst prunes the
    # payload columns out of that window's exchange — broadcast the
    # tiny per-tile threshold table, and filter the payload map-side so
    # only winner rows ever cross the encode exchange. Exact: fids are
    # unique per group, so fid <= threshold keeps precisely the window
    # cap's winner set; the per-group dropped count rides the
    # _pre_dropped channel on the (always-surviving) min-fid row.
    cap_first_env = os.environ.get("SPARK_GRAFT_CAP_FIRST")
    cap_first = False
    if stream_encode and rule is not None and pzooms:
        if cap_first_env is not None:
            cap_first = cap_first_env == "1"
        else:
            if n_pts is None:
                n_pts = (docs.count() if docs is not None
                         else corpus.documents(spark, sf_dir).count())
            cap_first = any(n_pts > rule(z) * (4 ** z) * 2 for z in pzooms)

    metrics = None
    for feats, const_layer in streams:
        group_keys = ["z", "x", "y"] + ([] if const_layer else ["layer"])
        # bbox streams (polygons/roads) are catalog-sized by contract —
        # a full-width bucket fan costs ~120 ms of fixed python-task
        # overhead per bucket for a handful of rows each (round-6
        # measurement); give them a quarter of the width. The point
        # stream gets the volume-adaptive grain (_encode_buckets).
        if const_layer is not None:
            nb = _encode_buckets(
                sp, n_pts * len(pzooms) if n_pts and pzooms else None)
        else:
            nb = max(8, sp // 4)
        if default_tags:
            feats = merge_default_tags(feats, default_tags)
        if filter_keys is not None:
            feats = feats.join(F.broadcast(filter_keys),
                               ["z", "x", "y"], "left_semi")

        if stream_encode:
            # cap-first only for the corpus-scale point stream; the
            # bbox streams are catalog-sized
            if cap_first and const_layer is not None:
                feats = _cap_first_filter(feats, group_keys, cap)
            m = (
                feats.repartition(nb, *group_keys)
                .sortWithinPartitions(*group_keys, "feature_id")
                .mapInPandas(
                    _make_stream_encode(rule, simplify, repair_polygons,
                                        const_layer), ENCODE_SCHEMA)
            )
            metrics = m if metrics is None else metrics.unionByName(m)
            continue

        # exact cap-skip (round-6): assign_point_tiles emits a point to
        # a tile AT MOST ONCE (the 3x3 neighbor offsets are distinct),
        # so a (z,x,y) group of the single-layer point stream can never
        # exceed n_pts rows — when n_pts <= the smallest zoom budget the
        # cap window is provably the identity and its sort + exchange
        # are pure cost. Exact, not heuristic: the moment the corpus
        # outgrows the budget the window returns. (n_pts None = caller
        # gave no count and no gate computed one -> conservative keep.)
        cap_cannot_bind = (
            const_layer is not None and rule is not None
            and n_pts is not None and pzooms
            and n_pts <= min(rule(z) for z in pzooms))
        if cap is not None and cap_cannot_bind:
            pass  # no group can reach the budget; n_dropped stays 0
        elif cap is not None:
            # rank + group count share one window spec (single sort);
            # cap-dropped rows never reach the encode shuffle, but their
            # count rides along on the kept rows for n_dropped lineage
            w = Window.partitionBy(*group_keys).orderBy("feature_id")
            wc = Window.partitionBy(*group_keys)
            feats = (
                feats.withColumn("_rk", F.row_number().over(w))
                .withColumn("_cap_dropped",
                            F.greatest(F.lit(0), F.count("*").over(wc) - cap))
                .where(F.col("_rk") <= cap).drop("_rk")
            )

        def _make_encode(cl):
            # single-arg closure: applyInPandas passes the group key to
            # two-arg functions, so the constant must bind via a factory
            def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
                return encode_bucket(pdf, simplify=simplify,
                                     repair=repair_polygons, const_layer=cl)
            return _encode

        _encode = _make_encode(const_layer)
        # explicit repartition on the bucket key: groupBy reuses the
        # exchange (HashPartitioning(_bucket, n) satisfies the grouped-
        # map's ClusteredDistribution), and a REPARTITION_BY_NUM shuffle
        # is exempt from AQE byte-based coalescing — which otherwise
        # shrank this python-heavy stage to bytes/1m tasks (measured 5
        # tasks on 32 cores, round-6 profile)
        m = (
            feats.withColumn(
                "_bucket", F.pmod(F.hash(*group_keys), F.lit(nb)))
            .repartition(nb, "_bucket")
            .groupBy("_bucket")
            .applyInPandas(_encode, ENCODE_SCHEMA)
        )
        metrics = m if metrics is None else metrics.unionByName(m)
    return metrics, assemble_tiles(metrics)


# URL-prefix dictionary cap: above this many distinct prefixes the
# transport optimization is off (ships raw strings) — the dictionary
# must stay model-sized for the broadcast + driver collect to be sane.
URL_DICT_MAX = 65536

# Volume gate for the URL dictionary (same philosophy as the stream-
# encode and fused-low gates): the prefix distinct+collect is an extra
# driver job and the broadcast join an extra stage on EVERY build — a
# measured ~1.4s fixed cost — while the saving (~9 B/tile, ~3.5% of
# the anchor exchange) scales with row count. Below this many corpus
# rows the fixed cost dominates; above it the exchange is the binding
# resource and the dictionary pays for itself.
URL_DICT_MIN_ROWS = 1_000_000


def _dict_encode_url(spark: SparkSession, pts: DataFrame,
                     n_pts: int | None = None):
    """Dictionary-encode ``tag_url`` for the anchor exchange (round-5
    shuffle-byte cut): URLs share a small set of scheme/host/path
    prefixes, so the dominant shuffle ships a small int (``_upid``) plus
    the short final path segment (``_usfx``) instead of the full string;
    the anchor kernel reconstructs the exact bytes from the broadcast
    prefix table. Returns (pts', broadcast[list[str]]) or (pts, None)
    when disabled / prefix cardinality exceeds URL_DICT_MAX / any url
    is NULL (nulls would need a sentinel; the corpus never has them).

    Volume-adaptive (round-5 cost audit): on when ``n_pts`` >=
    URL_DICT_MIN_ROWS, off below it (the ~1.4s fixed setup cost beats
    the shuffle saving at small scale because zstd already crushes
    shared prefixes inside the exchange). SPARK_GRAFT_URL_DICT=1/0
    forces either way; the byte-identity test pins both legs equal."""
    if "tag_url" not in pts.columns:
        return pts, None
    env = os.environ.get("SPARK_GRAFT_URL_DICT")
    if env is not None:
        if env != "1":
            return pts, None
    elif n_pts is None or n_pts < URL_DICT_MIN_ROWS:
        return pts, None
    pfx = F.expr("substring(tag_url, 1, length(tag_url) - "
                 "length(substring_index(tag_url, '/', -1)))")
    distinct = [r[0] for r in
                pts.select(pfx.alias("_p")).distinct()
                   .limit(URL_DICT_MAX + 1).collect()]
    if len(distinct) > URL_DICT_MAX or any(p is None for p in distinct):
        return pts, None
    distinct.sort()
    dim = spark.createDataFrame(
        [(p, i) for i, p in enumerate(distinct)], "_p string, _upid int")
    out = (
        pts.withColumn("_p", pfx)
        .withColumn("_usfx", F.expr("substring_index(tag_url, '/', -1)"))
        .join(F.broadcast(dim), "_p", "left")
        .drop("_p", "tag_url")
    )
    return out, spark.sparkContext.broadcast(distinct)


# fused anchor-kernel output: metric rows (layer set) + assembled tile
# rows (layer NULL) in one schema, split by filter afterwards
_FUSED_COLS = _METRIC_COLS + ["tile_bytes", "n_layers", "tile_len"]
FUSED_SCHEMA = ENCODE_SCHEMA + (
    ", tile_bytes binary, n_layers long, tile_len long")


def _world_y(lat, nz):
    """Spherical-mercator world y (tiles grow downward) — the NumPy
    twin of grid.col_world_y, shared by the fused kernels so their
    membership arithmetic is bit-identical to the fan-out predicate."""
    return (0.5 - np.log(np.tan(np.pi / 4.0 + lat * (np.pi / 180.0)
                                / 2.0)) / (2.0 * np.pi)) * float(nz)


def _decode_url_pdf(pdf: pd.DataFrame, url_prefixes) -> pd.DataFrame:
    """Undo the URL-prefix dictionary transport: rebuild the exact
    tag_url strings from the broadcast prefix table, re-inserting the
    column at its original position so MVT tag-key first-appearance
    order (column order) is byte-identical to the raw-string path."""
    if url_prefixes is None or "_upid" not in pdf.columns:
        return pdf
    arr = np.asarray(url_prefixes, dtype=object)
    pid = pdf["_upid"].to_numpy()
    sfx = pdf["_usfx"].to_numpy(dtype=object)
    mask = pd.notna(pid)
    url = np.full(len(pdf), None, dtype=object)
    if mask.any():
        url[mask] = arr[pid[mask].astype(np.int64)] + sfx[mask]
    pdf = pdf.drop(columns=["_upid", "_usfx"])
    pos = pdf.columns.get_loc("tag_lang") if "tag_lang" in pdf.columns \
        else len(pdf.columns)
    pdf.insert(pos, "tag_url", url)
    return pdf


def _split_poly_layers(polys: pd.DataFrame | None, layer_zoom: dict | None):
    """Broadcast polygon frame -> per-layer closure list in layer-name
    order (assembly sorts by layer name; list order preserves it)."""
    out = []
    if polys is not None and len(polys):
        for name, lgdf in polys.groupby("layer", sort=True):
            lgdf = lgdf.reset_index(drop=True)
            lo, hi = (layer_zoom or {}).get(name, (0, grid.MAX_Z))
            out.append((
                name, lo, hi,
                lgdf["minx"].to_numpy(np.float64),
                lgdf["miny"].to_numpy(np.float64),
                lgdf["maxx"].to_numpy(np.float64),
                lgdf["maxy"].to_numpy(np.float64),
                lgdf))
    return out


def _emit_assembled(rows: list, tile_metrics: list, z: int, x: int,
                    y: int) -> None:
    """In-place tile assembly: byte concat in layer-name order
    (identical to assemble_tiles' array_sort concat). Appends the
    metric rows (blobs stripped) plus one assembled tile row."""
    tile_metrics.sort(key=lambda m: m["layer"])
    tb = b"".join(m["layer_bytes"] for m in tile_metrics)
    for m in tile_metrics:
        rows.append(dict(m, layer_bytes=None, tile_bytes=None,
                         n_layers=None, tile_len=None))
    rows.append({
        "z": z, "x": x, "y": y, "layer": None,
        "layer_bytes": None,
        "n_features": sum(m["n_features"] for m in tile_metrics),
        "n_dropped": None, "bytes": None, "encode_ms": None,
        "tile_bytes": tb, "n_layers": len(tile_metrics),
        "tile_len": len(tb),
    })


def _make_fused_low_encode(cap_rule, simplify, repair, polys_bc,
                           layer_zoom, upfx_bc):
    """Fused low-zoom kernel (round-5 follow-on: kills the low-zoom
    assemble exchange, the last blob-weight exchange in the plan).

    Input: the corpus point stream fanned out to the low zooms
    (cap-first winners plus skeleton (z, x, y) keys for page-less
    polygon tiles), hash-partitioned by (z, x, y) and sorted within
    partitions by (z, x, y, feature_id) — the same single-exchange
    contract as _make_stream_encode. Per completed tile group: encode
    the pages layer under the standard running budget, derive the
    catalog-sized polygon layers' membership from the BROADCAST frame
    with the identical buffered-bbox arithmetic as
    tiling.assign_bbox_tiles, encode each member layer, and assemble
    the tile IN PLACE — blobs are born in their final partition
    exactly like the deep-zoom anchor kernel, so neither the polygon
    fan-out nor the assemble groupBy exchange exists at low zooms.
    Byte-identical to the standard path by differential test."""

    def gen(batches):
        polys = polys_bc.value if polys_bc is not None else None
        upfx = upfx_bc.value if upfx_bc is not None else None
        poly_layers = _split_poly_layers(polys, layer_zoom)
        bounds_cache: dict = {}
        buf = tiling.BUFFER_FRAC
        cur = None
        pbuf: list = []
        pbuf_rows = 0
        n_seen = 0
        pre_dropped = 0
        out_rows: list = []
        n_tiles_out = 0

        def flush():
            nonlocal cur, pbuf, pbuf_rows, n_seen, pre_dropped, n_tiles_out
            if cur is None:
                return
            z, x, y = int(cur[0]), int(cur[1]), int(cur[2])
            tile_metrics = []
            if n_seen:
                g = pd.concat(pbuf, ignore_index=True) if len(pbuf) > 1 \
                    else pbuf[0].reset_index(drop=True)
                if "_pre_dropped" in g.columns:
                    g = g.drop(columns=["_pre_dropped"])
                g = _decode_url_pdf(g, upfx)
                g = g.assign(_cap_dropped=(n_seen - len(g)) + pre_dropped)
                tile_metrics.append(_encode_one(
                    g, time.perf_counter(), z, x, y, "pages",
                    simplify=simplify, repair=repair, presorted=True))
            n = 1 << z
            for li, (name, lo, hi, pminx, pminy, pmaxx, pmaxy, lgdf) \
                    in enumerate(poly_layers):
                if z < lo or z > hi:
                    continue
                b = bounds_cache.get((li, z))
                if b is None:
                    x0 = np.floor((pminx + 180.0) / 360.0 * float(n)
                                  - buf).astype(np.int64)
                    x1 = np.floor((pmaxx + 180.0) / 360.0 * float(n)
                                  + buf).astype(np.int64)
                    y0 = np.floor(_world_y(pmaxy, n) - buf).astype(np.int64)
                    y1 = np.floor(_world_y(pminy, n) + buf).astype(np.int64)
                    b = (np.maximum(x0, 0), np.minimum(x1, n - 1),
                         np.maximum(y0, 0), np.minimum(y1, n - 1))
                    bounds_cache[(li, z)] = b
                x0, x1, y0, y1 = b
                idxs = np.nonzero((x0 <= x) & (x <= x1)
                                  & (y0 <= y) & (y <= y1))[0]
                if not len(idxs):
                    continue
                sub = lgdf.iloc[idxs][["feature_id", *POLY_SOA_COLS,
                                       "tag_name"]]
                cap = cap_rule(z) if cap_rule else None
                if cap is not None and len(sub) > cap:
                    n_over = len(sub) - cap
                    sub = sub.nsmallest(cap, "feature_id").assign(
                        _cap_dropped=n_over)
                tile_metrics.append(_encode_one(
                    sub, time.perf_counter(), z, x, y, name,
                    simplify=simplify, repair=repair))
            if tile_metrics:
                _emit_assembled(out_rows, tile_metrics, z, x, y)
                n_tiles_out += 1
            cur = None
            pbuf = []
            pbuf_rows = 0
            n_seen = 0
            pre_dropped = 0

        for pdf in batches:
            if not len(pdf):
                continue
            has_pre = "_pre_dropped" in pdf.columns
            keyarr = [pdf[c].to_numpy() for c in ("z", "x", "y")]
            real = pdf["lon"].notna().to_numpy()
            chg = np.zeros(len(pdf), dtype=bool)
            chg[0] = True
            for a in keyarr:
                chg[1:] |= a[1:] != a[:-1]
            idx = np.nonzero(chg)[0].tolist() + [len(pdf)]
            for s, e in zip(idx[:-1], idx[1:]):
                key = tuple(a[s] for a in keyarr)
                if cur is not None and key != cur:
                    flush()
                if cur is None:
                    cur = key
                rm = real[s:e]
                if not rm.any():
                    continue  # skeleton-only segment: key registered
                seg = pdf.iloc[s:e]
                if not rm.all():
                    seg = seg[rm]
                if has_pre:
                    pre_dropped += int(seg["_pre_dropped"].sum())
                n_seen += len(seg)
                cap = cap_rule(int(key[0])) if cap_rule else None
                if cap is not None and pbuf_rows + len(seg) > cap:
                    take = cap - pbuf_rows
                    if take > 0:
                        pbuf.append(seg.iloc[:take])
                        pbuf_rows += take
                else:
                    pbuf.append(seg)
                    pbuf_rows += len(seg)
                if n_tiles_out >= 64:
                    yield pd.DataFrame(out_rows, columns=_FUSED_COLS)
                    out_rows = []
                    n_tiles_out = 0
        flush()
        if out_rows:
            yield pd.DataFrame(out_rows, columns=_FUSED_COLS)
    return gen


def _encode_anchor_bucket(pdf: pd.DataFrame, anchor_z: int, zooms_hi,
                          simplify: bool, repair: bool,
                          caps: dict | None = None,
                          polys: pd.DataFrame | None = None,
                          layer_zoom: dict | None = None,
                          emit_tiles: bool = True,
                          url_prefixes=None) -> pd.DataFrame:
    """Grouped-map kernel over anchor-tile buckets: derive every
    descendant (z, x, y) membership for z in ``zooms_hi`` locally (pure
    NumPy — the same spherical world-coord + 3x3 buffered-duplication
    predicate as tiling.assign_point_tiles), filter to tiles whose
    z-``anchor_z`` ancestor IS this anchor (each deep tile is produced
    by exactly one anchor; the anchor-level buffered duplication
    guarantees the full buffered feature set is present, because buffer
    distance in meters shrinks with zoom), then encode each
    (z, x, y, layer) with the standard kernel.

    Round-4 fusion: the catalog-sized polygon layers arrive via the
    ``polys`` closure (the Spark-idiomatic broadcast of a small dim), so
    every deep tile's FULL layer set — pages + polygon layers, with the
    same bbox fan-out predicate and zoom pruning as the distributed
    path — is encoded here and ASSEMBLED in place. Tile blobs are born
    in their final partition and never cross an exchange (the assemble
    groupBy previously re-shuffled ~1x the output bytes — the dominant
    exchange at depth). Output rows are metric rows (layer set,
    layer_bytes omitted) plus one assembled tile row per (z, x, y)
    (layer NULL, tile_bytes set), byte-identical to
    assemble_tiles(build_tiles(...)) by differential test."""
    pdf = _decode_url_pdf(pdf, url_prefixes)

    rows = []
    buf = tiling.BUFFER_FRAC
    # polygon closure split per layer in name order (assembly sorts by
    # layer name; dict insertion below preserves this order)
    poly_layers = _split_poly_layers(polys, layer_zoom)
    world_y = _world_y

    for (ax, ay), g in pdf.groupby(["x", "y"], sort=True):
        g = g[g["lon"].notna()]  # skeleton rows mark polygon-only anchors
        lon = g["lon"].to_numpy(dtype=np.float64)
        lat = g["lat"].to_numpy(dtype=np.float64)
        phi = lat * (np.pi / 180.0)
        ymerc = np.log(np.tan(np.pi / 4.0 + phi / 2.0))
        for z in zooms_hi:
            n = 1 << z
            dz = z - anchor_z
            cap = caps.get(z) if caps else None
            pt_groups = {}
            if len(g):
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
                if idx_all:
                    idx = np.concatenate(idx_all)
                    txs = np.concatenate(tx_all)
                    tys = np.concatenate(ty_all)
                    # ONE take + ONE C-speed groupby per (anchor, zoom)
                    # — a per-tile .iloc loop cost more than the shuffle
                    # it saved (measured 457s vs 421s at 1.28M tiles)
                    exploded = g.take(idx)
                    exploded["_tx"] = txs
                    exploded["_ty"] = tys
                    pt_groups = {(int(tx), int(ty)): lg for (tx, ty), lg
                                 in exploded.groupby(["_tx", "_ty"],
                                                     sort=True)}

            # polygon membership: the same buffered bbox range as
            # tiling.assign_bbox_tiles, intersected with this anchor's
            # descendant window (each deep tile owned by ONE anchor)
            poly_tiles: dict = {}
            if poly_layers:
                ax0, ax1 = ax << dz, ((ax + 1) << dz) - 1
                ay0, ay1 = ay << dz, ((ay + 1) << dz) - 1
                for name, lo, hi, pminx, pminy, pmaxx, pmaxy, lgdf \
                        in poly_layers:
                    if z < lo or z > hi:
                        continue
                    x0 = np.floor((pminx + 180.0) / 360.0 * float(n)
                                  - buf).astype(np.int64)
                    x1 = np.floor((pmaxx + 180.0) / 360.0 * float(n)
                                  + buf).astype(np.int64)
                    y0 = np.floor(world_y(pmaxy, n) - buf).astype(np.int64)
                    y1 = np.floor(world_y(pminy, n) + buf).astype(np.int64)
                    x0 = np.maximum(np.maximum(x0, 0), ax0)
                    x1 = np.minimum(np.minimum(x1, n - 1), ax1)
                    y0 = np.maximum(np.maximum(y0, 0), ay0)
                    y1 = np.minimum(np.minimum(y1, n - 1), ay1)
                    # (feature, tile) expansion fully in NumPy (round-4
                    # review: the nested setdefault loop was the kernel's
                    # serial term as layer catalogs grow): repeat each
                    # feature index over its span, enumerate tx-major /
                    # ty-minor offsets arithmetically, then one stable
                    # sort groups by tile while preserving ascending
                    # feature order within each tile — identical lists
                    # to the old triple loop.
                    ok = np.nonzero((x0 <= x1) & (y0 <= y1))[0]
                    if not len(ok):
                        continue
                    w = x1[ok] - x0[ok] + 1
                    h = y1[ok] - y0[ok] + 1
                    cnt = w * h
                    fidx = np.repeat(ok, cnt)
                    off = np.arange(int(cnt.sum()), dtype=np.int64) \
                        - np.repeat(np.cumsum(cnt) - cnt, cnt)
                    hrep = np.repeat(h, cnt)
                    txs = np.repeat(x0[ok], cnt) + off // hrep
                    tys = np.repeat(y0[ok], cnt) + off % hrep
                    key = txs * (2 * n) + tys
                    order = np.argsort(key, kind="stable")
                    uk, starts = np.unique(key[order], return_index=True)
                    fo = fidx[order]
                    for j, k0 in enumerate(uk):
                        s = starts[j]
                        e = starts[j + 1] if j + 1 < len(uk) else len(fo)
                        tkey = (int(k0 // (2 * n)), int(k0 % (2 * n)))
                        poly_tiles.setdefault(tkey, {})[name] = \
                            fo[s:e].tolist()

            for key in sorted(set(pt_groups) | set(poly_tiles)):
                tx, ty = key
                tile_metrics = []
                lg = pt_groups.get(key)
                if lg is not None:
                    if cap is not None and len(lg) > cap:
                        # deterministic per-(tile, layer) budget matching
                        # the standard path's window cap: lowest
                        # feature_ids kept; drops ride _cap_dropped
                        n_over = len(lg) - cap
                        lg = lg.nsmallest(cap, "feature_id").assign(
                            _cap_dropped=n_over)
                    tile_metrics.append(_encode_one(
                        lg, time.perf_counter(), z, tx, ty,
                        "pages", simplify=simplify, repair=repair))
                for name, idxs in poly_tiles.get(key, {}).items():
                    _, _, _, _, _, _, _, lgdf = next(
                        pl for pl in poly_layers if pl[0] == name)
                    sub = lgdf.iloc[idxs][["feature_id", *POLY_SOA_COLS,
                                           "tag_name"]]
                    if cap is not None and len(sub) > cap:
                        n_over = len(sub) - cap
                        sub = sub.nsmallest(cap, "feature_id").assign(
                            _cap_dropped=n_over)
                    tile_metrics.append(_encode_one(
                        sub, time.perf_counter(), z, tx, ty, name,
                        simplify=simplify, repair=repair))
                if not emit_tiles:
                    # unfused mode: metric rows only (blobs included —
                    # the assemble exchange groups them downstream)
                    rows.extend(tile_metrics)
                    continue
                _emit_assembled(rows, tile_metrics, z, tx, ty)
    if not emit_tiles:
        return pd.DataFrame(rows, columns=_METRIC_COLS)
    return pd.DataFrame(rows, columns=_FUSED_COLS)


def build_tiles_hierarchical(spark: SparkSession, sf_dir: str, zooms,
                             anchor_z: int | None = None,
                             docs=None, with_polygons: bool = True,
                             simplify: bool = False,
                             repair_polygons: bool = True,
                             max_features_per_tile="auto",
                             n_docs: int | None = None,
                             fused: bool | None = None
                             ) -> tuple[DataFrame, DataFrame]:
    """Single-shuffle tile build for deep zooms: the standard
    build_tiles fans the POINT corpus out once per zoom (|zooms| full
    corpus shuffles — the bottleneck at 100 TB); here points shuffle
    ONCE on their ``anchor_z`` tile (plus ~30% buffered duplication) and
    every deeper zoom's membership + encode happens inside the anchor
    group. Low zooms (< anchor_z, bounded by the feature caps) and the
    small polygon layers keep the standard path; outputs are
    byte-identical to build_tiles (differentially tested).

    ``anchor_z`` trades shuffle volume against anchor-group memory:
    group rows ~= corpus / 4^anchor_z. Default max(4, max(zooms) - 6);
    at 10^12 docs use 10-12.
    """
    zooms = sorted(zooms)
    if anchor_z is None:
        anchor_z = max(4, max(zooms) - 6)
    zooms_hi = [z for z in zooms if z >= anchor_z]
    zooms_lo = [z for z in zooms if z < anchor_z]
    if not zooms_hi:
        return build_tiles(spark, sf_dir, zooms, docs=docs,
                           with_polygons=with_polygons, simplify=simplify,
                           repair_polygons=repair_polygons,
                           max_features_per_tile=max_features_per_tile,
                           n_docs=n_docs)

    # Fused in-kernel assembly pays a fixed python cost (polygon
    # membership + per-tile assembly) that is repaid only when the
    # descendant fan-out is deep enough for the assemble exchange to
    # dominate: measured at mult=600, dz=6 the fused plan wins (163-171s
    # vs 184-198s at 32 cores, 490 vs 795 shuffle B/tile), while at the
    # shallow driver config (dz=1) it LOSES ~5s of fixed overhead on a
    # ~9s pipeline. Auto default: fuse when the deep fan-out spans >= 3
    # levels (>= 64 descendants per anchor). SPARK_GRAFT_FUSED_ASSEMBLY
    # overrides.
    if fused is None:
        env = os.environ.get("SPARK_GRAFT_FUSED_ASSEMBLY")
        if env is not None:
            fused = env == "1"
        else:
            fused = (max(zooms_hi) - anchor_z) >= 3

    # Fused assembly ships the polygon layers to every anchor kernel as
    # a Spark BROADCAST (torrent-distributed once per executor). That is
    # the broadcast-small-dim move and is only sane while the layer set
    # is dim-sized: above the guard the kernel-side membership work and
    # broadcast memory would scale with polygon count, so fall back to
    # the unfused plan where polygons take the distributed bbox fan-out
    # (byte-identical output, differentially tested).
    if fused and with_polygons:
        n_polys = polygon_features(spark, sf_dir).count()
        if n_polys > fused_max_polys():
            fused = False

    # hierarchical path inputs: ONE anchor shuffle for all deep point
    # zooms, carrying only the point stream's live columns (z is the
    # constant anchor level, so it does not ship either). At volume,
    # tag_url crosses the exchange dictionary-encoded (int prefix id +
    # short suffix). Built before the low-zoom decision because the
    # fused low-zoom path reuses pts and the polygon broadcast.
    # One corpus count per build feeds every volume gate (url-dict
    # here, fused-low below, stream-encode inside build_tiles); the
    # bench/driver passes n_docs so no count job runs at all there.
    if n_docs is None and os.environ.get("SPARK_GRAFT_URL_DICT") is None:
        n_docs = (docs.count() if docs is not None
                  else corpus.documents(spark, sf_dir).count())
    # Geocode-once materialization (round-6, guide §8 "move small rows
    # once"): the hierarchical build consumes the geocoded points from
    # SEVERAL plan branches (anchor fan-out, low-zoom stream, cap-first
    # thin window, url-dict distinct) and each branch re-executes the
    # subtree — profiled as the render+geocode python stage running 2-3
    # times per run. A shared reuse-exchange was tried first but
    # per-branch column pruning changes the exchange's canonical form
    # (the thin cap-first branch prunes tag columns), so ReuseExchange
    # does not fire in the fused configs and the exchange itself added
    # shuffle bytes. localCheckpoint (eager) materializes the THIN
    # geocoded projection (~40-70 B/row) exactly once; every branch
    # reads the blocks — no extra exchange, no recompute. This is the
    # §8 "fingerprints table" move with cache instead of a write;
    # executor-loss on a real cluster fails the build and retries it
    # (same documented caveat as the iterative graph operators).
    pts0 = point_features(spark, sf_dir, docs=docs).localCheckpoint()
    pts, upfx_bc = _dict_encode_url(spark, pts0, n_pts=n_docs)
    point_cols = ["feature_id", "lon", "lat"] + \
        (["_upid", "_usfx"] if upfx_bc is not None else ["tag_url"]) + \
        ["tag_lang"]
    anchored = tiling.assign_point_tiles(pts, [anchor_z]).select(
        "x", "y", *point_cols)

    # fused: polygon layers are layer-catalog-sized — collect once and
    # ship via sparkContext.broadcast (torrent-distributed, NOT pickled
    # into every task closure — round-4 review item; the fused_max_polys
    # guard above bounds its size), plus skeleton anchor keys so
    # polygon-only anchors (a nation with no pages in range) still
    # produce their deep tiles
    polys_bc = layer_zoom = pf = None
    if with_polygons and fused:
        pf = polygon_features(spark, sf_dir)
        polys_bc = spark.sparkContext.broadcast(pf.toPandas())
        layer_zoom = layers.layer_zoom_ranges()
        _null_types = {"feature_id": "long", "lon": "double",
                       "lat": "double", "_upid": "int", "_usfx": "string",
                       "tag_url": "string", "tag_lang": "string"}
        nulls = [F.lit(None).cast(_null_types[c]).alias(c)
                 for c in point_cols]
        skel = (tiling.assign_bbox_tiles(pf, [anchor_z])
                .select("x", "y").distinct().select("x", "y", *nulls))
        anchored = anchored.unionByName(skel)

    # fused low-zoom assembly decision (round-5 follow-on): when the
    # deep path is fused (polygons broadcastable) and the low-zoom
    # point fan-out is large enough for the streaming plan (the same
    # volume rule as build_tiles), the low zooms run in-kernel
    # assembly too and the assemble exchange disappears entirely.
    # SPARK_GRAFT_FUSED_LOW=1/0 forces.
    fused_low = False
    n_low_docs = n_docs   # one corpus count per build, shared by gates
    if fused and zooms_lo:
        fl_env = os.environ.get("SPARK_GRAFT_FUSED_LOW")
        if fl_env is not None:
            fused_low = fl_env == "1"
        elif spark.sparkContext.defaultParallelism >= FUSED_LOW_MIN_CORES:
            if n_low_docs is None:
                n_low_docs = (docs.count() if docs is not None
                              else corpus.documents(spark, sf_dir).count())
            fused_low = n_low_docs * len(zooms_lo) >= STREAM_ENCODE_MIN_ROWS

    # standard path: with fusion it covers the low zooms COMPLETELY
    # (points + polygons + assemble) and every deep zoom runs in the
    # anchor kernel; without fusion it additionally carries the polygon
    # layers at ALL zooms (the anchor kernel is then points-only and
    # tiles assemble via the grouped concat). With fused_low the low
    # zooms skip this path entirely (built below with in-kernel
    # assembly instead).
    std_metrics = std_tiles = None
    if (zooms_lo and not fused_low) or (with_polygons and not fused):
        std_zooms = zooms_lo if fused else zooms
        std_metrics, std_tiles = build_tiles(
            spark, sf_dir, std_zooms, docs=docs,
            with_polygons=with_polygons,
            simplify=simplify, repair_polygons=repair_polygons,
            max_features_per_tile=max_features_per_tile,
            n_docs=n_low_docs, point_zooms=zooms_lo,
            points_df=pts0)

    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # anchor groups carry the whole corpus once (plus ~10% buffer dup);
    # fused-low carries it once per low zoom — volume-adaptive grain
    n_buckets = _encode_buckets(sp, n_docs)
    n_buckets_low = _encode_buckets(
        sp, n_docs * len(zooms_lo) if n_docs and zooms_lo else None)

    if fused_low:
        rule = _cap_rule(max_features_per_tile)
        low = tiling.assign_point_tiles(pts, zooms_lo).select(
            "z", "x", "y", *point_cols)
        if max_features_per_tile == "auto":
            cap_col = F.when(F.col("z") <= 4, F.lit(CAP_LOW_ZOOM)) \
                       .otherwise(F.lit(CAP_HIGH_ZOOM))
        elif max_features_per_tile:
            cap_col = F.lit(int(max_features_per_tile))
        else:
            cap_col = None
        if cap_col is not None:
            cf_env = os.environ.get("SPARK_GRAFT_CAP_FIRST")
            if cf_env is not None:
                cap_first = cf_env == "1"
            else:
                if n_low_docs is None:
                    n_low_docs = (docs.count() if docs is not None
                                  else corpus.documents(spark,
                                                        sf_dir).count())
                cap_first = any(n_low_docs > rule(z) * (4 ** z) * 2
                                for z in zooms_lo)
            if cap_first:
                low = _cap_first_filter(low, ["z", "x", "y"], cap_col)
        if polys_bc is not None:
            # skeleton (z, x, y) keys so polygon-only low-zoom tiles
            # (zoom-pruned per layer, same predicate as the standard
            # fan-out) are still produced by the kernel
            cond = None
            for name, (lo, hi) in layer_zoom.items():
                c = ((F.col("layer") == name) & (F.col("z") >= lo)
                     & (F.col("z") <= hi))
                cond = c if cond is None else (cond | c)
            keys = (tiling.assign_bbox_tiles(pf, zooms_lo).where(cond)
                    .select("z", "x", "y").distinct())
            low_nulls = [F.lit(None).cast(fld.dataType).alias(fld.name)
                         for fld in low.schema.fields
                         if fld.name not in ("z", "x", "y")]
            low = low.unionByName(keys.select("z", "x", "y", *low_nulls))
        low_out = (
            low.repartition(n_buckets_low, "z", "x", "y")
            .sortWithinPartitions("z", "x", "y", "feature_id")
            .mapInPandas(
                _make_fused_low_encode(rule, simplify, repair_polygons,
                                       polys_bc, layer_zoom, upfx_bc),
                FUSED_SCHEMA))
        std_metrics = low_out.where(F.col("layer").isNotNull()) \
            .select(*_METRIC_COLS)
        std_tiles = low_out.where(F.col("layer").isNull()).select(
            "z", "x", "y", "tile_bytes", "n_features", "n_layers",
            "tile_len")

    # same per-(tile, layer) budget policy as the standard path, applied
    # inside the anchor kernel (drops ride _cap_dropped into n_dropped)
    if max_features_per_tile == "auto":
        caps = {z: (CAP_LOW_ZOOM if z <= 4 else CAP_HIGH_ZOOM)
                for z in zooms_hi}
    elif max_features_per_tile:
        caps = {z: int(max_features_per_tile) for z in zooms_hi}
    else:
        caps = None

    def _make_encode(emit_tiles):
        bc = polys_bc    # broadcast handles in the closure,
        ubc = upfx_bc    # data lives on the executors

        def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
            return _encode_anchor_bucket(
                pdf, anchor_z, zooms_hi, simplify, repair_polygons,
                caps=caps, polys=None if bc is None else bc.value,
                layer_zoom=layer_zoom, emit_tiles=emit_tiles,
                url_prefixes=None if ubc is None else ubc.value)
        return _encode

    # explicit repartition before the grouped-map: AQE-coalescing-exempt
    # (see build_tiles) so the anchor encode keeps its parallelism
    bucketed = anchored.withColumn(
        "_bucket", F.pmod(F.hash("x", "y"), F.lit(n_buckets))) \
        .repartition(n_buckets, "_bucket") \
        .groupBy("_bucket")
    if not fused:
        hier_metrics = bucketed.applyInPandas(
            _make_encode(False), ENCODE_SCHEMA)
        metrics = hier_metrics if std_metrics is None \
            else std_metrics.unionByName(hier_metrics)
        return metrics, assemble_tiles(metrics)

    out = bucketed.applyInPandas(_make_encode(True), FUSED_SCHEMA)
    hier_metrics = out.where(F.col("layer").isNotNull()) \
        .select(*_METRIC_COLS)
    hier_tiles = out.where(F.col("layer").isNull()).select(
        "z", "x", "y", "tile_bytes", "n_features", "n_layers", "tile_len")
    metrics = hier_metrics if std_metrics is None \
        else std_metrics.unionByName(hier_metrics)
    tiles = hier_tiles if std_tiles is None \
        else std_tiles.unionByName(hier_tiles)
    return metrics, tiles
