"""Point emission: the block emitters (encode_point_features_block /
encode_str_values_block) and the array route (encode_point_layer_arrays,
taken by _encode_one for lon/lat groups with string tags) must be
BYTE-IDENTICAL to the generic per-feature route for every shape —
protobuf bytes are the product, not an approximation of it. The
reference is always the per-feature chain on geometry tuples:
mvt.encode_layer over Point geometries, or encode_reference over the
same rows read one at a time."""

import time

import encode_reference
import numpy as np
import pandas as pd
import pytest

from tegola_spark.functions import wkb
from tegola_spark.operators import mvt
from tegola_spark.plans import pipeline


def _mk(n, with_tags=True, big_ids=False, skip_some=True, int_tags=False,
        seed=7):
    """(fids, zz, tag dicts) of n random point features: zz holds the
    zigzagged pixel coords of each feature's [MoveTo(1), x, y] stream."""
    rng = np.random.default_rng(seed)
    zz = rng.integers(0, 1 << 17, size=(n, 2)).astype(np.uint32)
    fids = (rng.integers(0, 1 << 62, size=n) if big_ids
            else np.arange(n)).astype(np.int64)
    tags = []
    for i in range(n):
        t = {}
        if with_tags and (not skip_some or i % 3 != 0):
            t["url"] = f"https://e.com/{'x' * int(rng.integers(0, 60))}/{i}"
            if i % 2:
                t["lang"] = "en"
            if int_tags and i % 5 == 0:
                t["w"] = i * 1000003
        tags.append(t)
    return fids, zz, tags


def _geom_features(fids, zz, tags):
    """The same points as generic-route features (pixel-space Point
    geometries whose encoding is the zigzagged stream)."""
    z = zz.astype(np.int64)
    xy = (z >> 1) ^ -(z & 1)
    return [{"id": int(f), "tags": t, "geom": ("Point", xy[i].astype(float))}
            for i, (f, t) in enumerate(zip(fids, tags))]


def _tag_cols(tags, keys=("url", "lang")):
    return [(k, np.array([t.get(k) for t in tags], dtype=object))
            for k in keys]


def _check_emitters(fids, zz, tags):
    feats = _geom_features(fids, zz, tags)
    keys, kidx, vals, vidx = mvt.build_dictionaries(feats)
    # feature records: block emitter vs per-feature encode_feature
    tag_idx = [[i for k, v in t.items()
                for i in (kidx[k], vidx[mvt._TypedKey(v)])] for t in tags]
    per_feature = b""
    for f, ti in zip(feats, tag_idx):
        geom_arr, gtype = mvt.encode_geometry(f["geom"])
        per_feature += mvt._len_delim(
            2, mvt.encode_feature(f["id"], ti, gtype, geom_arr))
    cmds = np.column_stack([
        np.full(len(fids), mvt.command(mvt.CMD_MOVETO, 1), np.uint32), zz])
    assert mvt.encode_point_features_block(
        fids, np.asarray([i for ti in tag_idx for i in ti], np.uint64),
        np.asarray([len(ti) for ti in tag_idx], np.int64),
        cmds) == per_feature
    # value dictionary: string block vs per-value encode_value
    strs = [v for v in vals if isinstance(v, str)]
    assert mvt.encode_str_values_block(strs) == b"".join(
        mvt._len_delim(4, mvt.encode_value(v)) for v in strs)
    # whole layer: the array route vs the generic encode_layer
    if all(isinstance(v, str) for v in vals):
        assert mvt.encode_point_layer_arrays(
            "pages", fids, zz, _tag_cols(tags)) == \
            mvt.encode_layer("pages", feats)


@pytest.mark.parametrize("case", [
    dict(n=1), dict(n=7), dict(n=1000, big_ids=True),
    dict(n=50, with_tags=False), dict(n=0),
    dict(n=257, skip_some=False), dict(n=100, int_tags=True),
])
def test_encode_layer_block_vs_legacy(case):
    _check_emitters(*_mk(**case))


def test_encode_layer_unicode_values():
    fids, zz, tags = _mk(40)
    tags[5]["url"] = "https://exámple.com/ünïcode/文档"
    _check_emitters(fids, zz, tags)


def _encode(pdf, z=0, x=0, y=0, layer="pages"):
    row = pipeline._encode_one(pdf, time.perf_counter(), z, x, y, layer)
    return bytes(row["layer_bytes"]), row["n_features"], row["n_dropped"]


def _reference(pdf, z=0, x=0, y=0, layer="pages"):
    """The same rows through the per-feature reference encoder."""
    return encode_reference.encode_group(
        encode_reference.features_of(pdf), z, x, y, layer)


def _tile_points(n, z, ax, ay, seed):
    """n lon/lat points over tile (z, ax, ay) and a little beyond, so
    the buffered clip keeps some edge points and drops others."""
    rng = np.random.default_rng(seed)
    m = 1 << z
    lon = (ax - 0.2 + 1.4 * rng.random(n)) / m * 360.0 - 180.0
    wy = (ay - 0.2 + 1.4 * rng.random(n)) / m
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * wy))))
    return lon, lat


def test_point_layer_arrays_vs_dict_path():
    """The array route against the same points through the per-feature
    reference — including a column (tag_name) whose first
    appearance is AFTER another key's, exercising the key-order
    tiebreak, and points the buffered clip drops."""
    n = 5000
    for z, ax, ay in [(0, 0, 0), (3, 4, 2), (4, 8, 5), (8, 130, 90)]:
        lon, lat = _tile_points(n, z, ax, ay, seed=11 + z)
        name = np.array([None] * n, dtype=object)
        name[100:200] = "late-key"
        pdf = pd.DataFrame({
            "feature_id": np.arange(n, dtype=np.int64),
            "srid": 4326, "lon": lon, "lat": lat,
            "tag_url": pd.array([f"https://e.com/{i % 97}" for i in range(n)],
                                dtype=object),
            "tag_lang": pd.array([None if i % 7 == 0 else "en"
                                  for i in range(n)], dtype=object),
            "tag_name": name,
        })
        arrays = _encode(pdf, z, ax, ay)
        assert 0 < arrays[1] < n           # the clip dropped some points
        assert arrays == _reference(pdf, z, ax, ay)


def test_mixed_group_matches_wkb_reference():
    """One (z, x, y, layer) group holding lon/lat rows, a ring-SoA line
    and a ring-SoA polygon takes the generic route and encodes exactly
    as the per-feature reference that takes the rows in id order (the
    polygon and the line have the lowest ids, so a kernel that emitted
    the kinds in the order it visits them would not match)."""
    lon, lat = _tile_points(50, 2, 1, 1, seed=3)
    n = len(lon)
    line = np.array([[-80.0, 25.0], [-40.0, 30.0], [-20.0, 5.0]])
    ring = np.array([[-100.0, 10.0], [-60.0, 10.0], [-60.0, 40.0],
                     [-100.0, 40.0], [-100.0, 10.0]])
    pdf = pd.DataFrame({
        "feature_id": np.arange(n + 2, dtype=np.int64)[::-1].copy(),
        "srid": 4326,
        "lon": np.concatenate([lon, [np.nan, np.nan]]),
        "lat": np.concatenate([lat, [np.nan, np.nan]]),
        "coords": [None] * n + [line.ravel(), ring.ravel()],
        "ring_lens": [None] * n + [np.array([3]), np.array([5])],
        "gkind": [None] * n + [wkb.WKB_LINESTRING, wkb.WKB_POLYGON],
        "tag_url": [f"u{i}" for i in range(n + 2)],
    }).sort_values("feature_id", kind="mergesort")
    mixed = _encode(pdf, 2, 1, 1)
    assert mixed[1] == n + 2 - int(mixed[2])
    assert mixed == _reference(pdf, 2, 1, 1)
    layer = mvt.decode_tile(mixed[0])["pages"]
    assert {f["type"] for f in layer["features"]} == {
        mvt.GEOM_POINT, mvt.GEOM_LINESTRING, mvt.GEOM_POLYGON}
    assert [f["id"] for f in layer["features"]][:2] == [0, 1]


def test_typed_tags_lonlat_group_matches_wkb_reference():
    """A lon/lat group with __i/__f/__b tag columns takes the generic
    route (typed value identity) and encodes exactly as the per-feature
    reference."""
    lon, lat = _tile_points(200, 1, 1, 0, seed=5)
    n = len(lon)
    pdf = pd.DataFrame({
        "feature_id": np.arange(n, dtype=np.int64),
        "srid": 4326, "lon": lon, "lat": lat,
        "tag_url": [f"u{i % 13}" for i in range(n)],
        "tag_rank__i": pd.array([i % 4 for i in range(n)], dtype=object),
        "tag_score__f": [float(i % 3) for i in range(n)],
        "tag_ok__b": pd.array([None if i % 5 else bool(i % 2)
                               for i in range(n)], dtype=object),
    })
    typed = _encode(pdf, 1, 1, 0)
    assert typed == _reference(pdf, 1, 1, 0)
    layer = mvt.decode_tile(typed[0])["pages"]
    assert {type(v) for v in layer["values"]} == {str, int, float, bool}


def test_bypass_falls_back_on_non_string_tags():
    """A numeric tag column (e.g. a numeric default_tags) must take the
    generic route — and still produce a decodable tile with the int tag."""
    pdf = pd.DataFrame({
        "z": 0, "x": 0, "y": 0, "layer": "pages",
        "feature_id": np.arange(5, dtype=np.int64),
        "srid": 4326,
        "lon": np.linspace(-10, 10, 5), "lat": np.linspace(-10, 10, 5),
        "tag_url": pd.array([f"u{i}" for i in range(5)], dtype=object),
        "tag_version": pd.array([7] * 5, dtype=object),
    })
    out = pipeline.encode_bucket(pdf)
    layer = mvt.decode_tile(bytes(out["layer_bytes"].iloc[0]))["pages"]
    f0 = layer["features"][0]
    tags = {layer["keys"][k]: layer["values"][v]
            for k, v in zip(f0["tags"][0::2], f0["tags"][1::2])}
    assert tags["version"] == 7
    assert tags["url"] == "u0"



def test_encode_bucket_rejects_row_without_transport():
    """A row with neither lon/lat nor ring-SoA coords is an error, not
    a feature dropped without a sign."""
    base = {"z": [0, 0], "x": [0, 0], "y": [0, 0], "layer": ["l", "l"],
            "feature_id": [1, 2], "tag_name": ["a", "b"]}
    with pytest.raises(ValueError, match="neither"):
        pipeline.encode_bucket(pd.DataFrame(base))
    with pytest.raises(ValueError, match="neither"):
        pipeline.encode_bucket(pd.DataFrame({
            **base, "lon": [1.0, np.nan], "lat": [2.0, np.nan]}))
    with pytest.raises(ValueError, match="neither"):
        pipeline.encode_bucket(pd.DataFrame({
            **base, "coords": [[0.0, 0.0, 1.0, 1.0], None],
            "ring_lens": [[2], None], "gkind": [wkb.WKB_LINESTRING, None]}))
