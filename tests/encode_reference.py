"""Reference per-feature encoder the encode-kernel tests check its routes
by: each feature's geometry tuple runs reproject -> quantize -> clean on
its own, the features are taken in feature-id order, and
mvt.encode_layer emits the layer. No output path runs it."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tegola_spark.functions import grid, wkb
from tegola_spark.operators import geometry as geo
from tegola_spark.operators import mvt
from tegola_spark.plans import pipeline


def features_of(pdf: pd.DataFrame):
    """(feature_id, geometry tuple, tags, srid) of every row of a
    transport frame, read row by row: a lon/lat row is a Point, a
    coords row its ring-SoA geometry; tags come from the tag_* columns
    in column order, None/NaN skipped, typed by their name suffix."""
    tag_cols = [c for c in pdf.columns if c.startswith("tag_")]
    out = []
    for r in pdf.to_dict("records"):
        if "lon" in r and pd.notna(r["lon"]):
            g = ("Point", np.array([r["lon"], r["lat"]], dtype=np.float64))
        else:
            g = wkb.soa_to_geometry(r["gkind"], r["coords"], r["ring_lens"],
                                    r.get("poly_lens"))
        tags = {}
        for c in tag_cols:
            v = r[c]
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            key, cast = pipeline._tag_key_cast(c)
            tags[key] = v if cast is None else cast(v)
        out.append((int(r["feature_id"]), g, tags, int(r.get("srid", 4326))))
    return out


def encode_group(features, z: int, x: int, y: int, layer: str):
    """(tile bytes, n_features, n_dropped) of one (z, x, y, layer) group
    of (feature_id, geometry, tags, srid) features, as the encode kernel
    reports them."""
    ext = tuple(float(v) for v in grid.tile_extent_3857(z, x, y))
    clip_region = grid.buffered_pixel_bounds()
    feats = []
    for fid, g, tags, srid in sorted(features, key=lambda f: f[0]):
        if srid != 3857:
            g = wkb.map_coords(g, pipeline._ellipsoidal)
        g = mvt.prepare_geo(g, ext)
        if g is None:
            continue
        g = geo.clean_geometry(g, clip_region)
        if g is None:
            continue
        feats.append({"id": fid, "tags": tags, "geom": g})
    blob = mvt.encode_tile([mvt.encode_layer(layer, feats)])
    return blob, len(feats), len(features) - len(feats)
