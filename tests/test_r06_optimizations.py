"""Round-6 optimization pins: each test locks an optimization's
equivalence claim (results byte-identical / set-identical to the path it
replaced), so a later change can't silently break the fast path."""

from __future__ import annotations

import encode_reference
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tegola_spark.functions import cells, grid
from tegola_spark.operators import spatial_join as sj
from tegola_spark.plans import pipeline
from tegola_spark.sources import corpus


def _docs(spark, n=60):
    rows = [(i, f"doc text {i} " + "w" * (i % 7), "en", "src%d" % (i % 3),
             20 + i % 7) for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int")


# ---------------------------------------------------------------------------
# spread_scan: values unchanged, no-op below threshold / when wide enough
# ---------------------------------------------------------------------------

def test_spread_scan_preserves_rows(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.spread_scan(df, "doc_id")
    a = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert a == b


def test_spread_scan_noop_below_threshold(spark):
    # in-memory frame (no input files, already spread) -> no-op
    df = _docs(spark)
    out = corpus.spread_scan(df, "doc_id")
    assert out is df


@pytest.mark.parametrize("error,propagates", [(OSError, False), (RuntimeError, True)])
def test_spread_scan_getsize_errors(spark, sf_dir, monkeypatch, error, propagates):
    # a file size that cannot be read (non-local URI) leaves the frame
    # as it is; any other error surfaces
    def getsize(path):
        raise error(path)

    monkeypatch.setattr(corpus.os.path, "getsize", getsize)
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if propagates:
        with pytest.raises(error):
            corpus.spread_scan(df, "doc_id")
    else:
        assert corpus.spread_scan(df, "doc_id") is df


# ---------------------------------------------------------------------------
# polygon_cover: SQL twin emits exactly the python bbox cover's cell set
# ---------------------------------------------------------------------------

def _cover_bbox(min_lon, min_lat, max_lon, max_lat, res: int):
    """Cells covering a lon/lat bbox at ``res``: the inclusive tile
    range (slippy/tile.go:111-145) packed as res*2^52 + x*2^26 + y."""
    x0, x1, y0, y1 = grid.tile_range_for_bounds(
        min_lon, min_lat, max_lon, max_lat, res)
    return [(res << cells.RES_SHIFT) + (x << cells.XY_SHIFT) + y
            for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]


@pytest.mark.parametrize("res", [2, 4, 6])
def test_polygon_cover_matches_python_cover(spark, sf_dir, res):
    from tegola_spark.sources import layers

    polys = layers.nation_layer(spark, sf_dir).unionByName(
        layers.region_layer(spark, sf_dir))
    got = (sj.polygon_cover(polys, res)
           .select("feature_id", "layer", "cell").collect())
    got_set = {(r["layer"], r["feature_id"], r["cell"]) for r in got}
    want_set = set()
    for r in polys.select("feature_id", "layer", "minx", "miny",
                          "maxx", "maxy").collect():
        for c in _cover_bbox(r["minx"], r["miny"], r["maxx"],
                             r["maxy"], res):
            want_set.add((r["layer"], r["feature_id"], c))
    assert got_set == want_set
    assert len(got) == len(got_set)  # no duplicate cover rows


# ---------------------------------------------------------------------------
# exact cap-skip: identity when the budget cannot bind, intact when it can
# ---------------------------------------------------------------------------

def _tile_bytes(tiles):
    return {(r["z"], r["x"], r["y"]): bytes(r["tile_bytes"])
            for r in tiles.collect()}


def test_cap_skip_identity_when_budget_cannot_bind(spark, sf_dir):
    docs = _docs(spark, 40)
    # 40 docs <= cap 100: the skip gate fires; output must equal no-cap
    _, capped = pipeline.build_tiles(
        spark, sf_dir, zooms=[0, 1], docs=docs, with_polygons=False,
        max_features_per_tile=100)
    _, uncapped = pipeline.build_tiles(
        spark, sf_dir, zooms=[0, 1], docs=docs, with_polygons=False,
        max_features_per_tile=None)
    assert _tile_bytes(capped) == _tile_bytes(uncapped)
    # the builder counted the 40 documents itself and dropped the window
    assert "Window" not in capped._jdf.queryExecution().executedPlan() \
        .toString()


def test_cap_still_binds_above_budget(spark, sf_dir):
    docs = _docs(spark, 40)
    # 40 docs > cap 5: the gate must NOT skip; z0 keeps exactly 5 features
    metrics, _ = pipeline.build_tiles(
        spark, sf_dir, zooms=[0], docs=docs, with_polygons=False,
        max_features_per_tile=5)
    row = metrics.where((F.col("z") == 0)).select(
        "n_features", "n_dropped").collect()[0]
    assert row["n_features"] == 5
    assert row["n_dropped"] == 35
    assert "Window" in metrics._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# a corpus-sized point group (the z0 straggler) takes the array route and
# encodes exactly as the per-feature reference over the same points
# ---------------------------------------------------------------------------

def test_big_point_group_matches_wkb_reference():
    n = 8192 + 100
    rng = np.random.default_rng(7)
    lon = rng.uniform(-170, 170, n)
    lat = rng.uniform(-80, 80, n)
    pdf = pd.DataFrame({
        "z": 0, "x": 0, "y": 0,
        "feature_id": np.arange(n, dtype=np.int64),
        "lon": lon, "lat": lat,
        "tag_url": [f"https://a.example.com/{i}" for i in range(n)],
        "tag_lang": ["en"] * n,
    })
    # anchor_z=1 makes z0 a low level: the group is its own tile
    arrays = pipeline.encode_bucket(pdf.copy(), 1, [])
    ref = encode_reference.encode_group(
        encode_reference.features_of(pdf), 0, 0, 0, "pages")
    assert len(arrays) == 1
    got = arrays.iloc[0]
    assert (bytes(got["layer_bytes"]), got["n_features"],
            got["n_dropped"]) == ref
    assert int(arrays["n_features"].iloc[0]) == n
