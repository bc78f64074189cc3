"""S7 debug provider + P11 default-tags merge through the pipeline."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from tegola_spark.operators import mvt
from tegola_spark.plans import pipeline


def test_debug_layers_and_default_tags(spark, sf_dir):
    metrics, tiles = pipeline.build_tiles(
        spark, sf_dir, zooms=[2], with_polygons=False, with_debug=True,
        default_tags={"foo": "bar", "lang": "SHOULD_NOT_OVERWRITE"})
    row = tiles.where("z = 2 AND x = 3 AND y = 3").first()
    assert row is not None
    decoded = mvt.decode_tile(bytes(row["tile_bytes"]))
    assert "debug-tile-outline" in decoded
    assert "debug-tile-center" in decoded

    # THE golden z2/3/3 outline command stream (atlas/map_test.go:375-380)
    # — exact, through the full distributed pipeline: debug features are
    # 3857-native so they skip reprojection (tile.go:143-156) and the
    # quantized corners land exactly on the pixel grid
    out = decoded["debug-tile-outline"]["features"][0]
    assert out["type"] == mvt.GEOM_POLYGON
    assert out["geometry"] == [9, 0, 0, 26, 8192, 0, 0, 8192, 8191, 0, 15]
    assert out["id"] == 0

    # default tag merged; existing feature tags NOT overwritten
    keys = decoded["debug-tile-outline"]["keys"]
    vals = decoded["debug-tile-outline"]["values"]
    tagmap = {keys[out["tags"][i]]: vals[out["tags"][i + 1]]
              for i in range(0, len(out["tags"]), 2)}
    assert tagmap["foo"] == "bar"
    assert tagmap["type"] == "debug_buffer_outline"

    # pages layer keeps its own lang tag (not overwritten by default)
    pg = decoded.get("pages")
    if pg and pg["features"]:
        ft = pg["features"][0]
        tm = {pg["keys"][ft["tags"][i]]: pg["values"][ft["tags"][i + 1]]
              for i in range(0, len(ft["tags"]), 2)}
        assert tm["lang"] != "SHOULD_NOT_OVERWRITE"
        assert tm["foo"] == "bar"

    # center point tagged with Z/X/Y text (debug.go:62-71)
    ctr = decoded["debug-tile-center"]["features"][0]
    ckeys = decoded["debug-tile-center"]["keys"]
    cvals = decoded["debug-tile-center"]["values"]
    ctm = {ckeys[ctr["tags"][i]]: cvals[ctr["tags"][i + 1]]
           for i in range(0, len(ctr["tags"]), 2)}
    assert ctm["zxy"] == "Z:2, X:3, Y:3"


# tile digest of build_tiles(zooms=[2], with_debug=True) over the sf0.01
# corpus, recorded when debug centers still took a WKB-point fast path;
# the generic route must encode them to the same bytes
SF001_DEBUG_Z2_GOLDEN = {"tiles": 16, "bytes": 34827,
                         "md5": "03924c4a8fa62f89bcd4c19626628faa"}


def test_debug_tiles_golden(spark, sf_dir):
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    _, tiles = pipeline.build_tiles(spark, sf001, zooms=[2], with_debug=True)
    rows = sorted((r.z, r.x, r.y, bytes(r.tile_bytes)) for r in
                  tiles.select("z", "x", "y", "tile_bytes").collect())
    h = hashlib.md5()
    for z, x, y, b in rows:
        h.update(b"%d/%d/%d:" % (z, x, y))
        h.update(b)
    assert {"tiles": len(rows), "bytes": sum(len(r[3]) for r in rows),
            "md5": h.hexdigest()} == SF001_DEBUG_Z2_GOLDEN


def test_debug_build_runs_no_python_stage_before_encode(spark, sf_dir):
    """The debug stream ships its outlines as ring-SoA and its centers
    as lon/lat rows built on the driver: its plan holds the encode's
    grouped map and no Python evaluation node."""
    metrics, _ = pipeline.build_tiles(
        spark, sf_dir, zooms=[0, 1], with_points=False, with_polygons=False,
        with_debug=True)
    plan = metrics._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
