"""LineString layer end-to-end (round-4 VERDICT item 6): golden
command stream, clip-walk integration, and distributed-vs-local-kernel
byte equivalence for the roads layer."""

import numpy as np
import pandas as pd

from tegola_spark.functions import wkb
from tegola_spark.operators import mvt
from tegola_spark.plans import pipeline
from tegola_spark.sources import layers


def test_line_command_stream_golden():
    """E1-E4 for a LineString, hand-computed (feature.go:293-354):
    MoveTo(1) + zigzagged first point, LineTo(n-1) + zigzagged deltas;
    cursor starts at (0,0) and deltas chain."""
    pts = np.array([[10.0, 17.0], [100.0, 50.0], [500.0, 403.0]])
    arr, gtype = mvt.encode_geometry(("LineString", pts))
    assert gtype == mvt.GEOM_LINESTRING
    # command(MoveTo,1)=9; zz(10)=20, zz(17)=34;
    # command(LineTo,2)=18; deltas (90,33),(400,353) -> 180,66,800,706
    assert arr.tolist() == [9, 20, 34, 18, 180, 66, 800, 706]


def test_multiline_cursor_chains_across_parts():
    """A clipped line's parts share ONE cursor (feature.go:139-174):
    the second part's MoveTo delta is relative to the first part's
    last point."""
    parts = [np.array([[0.0, 0.0], [10.0, 0.0]]),
             np.array([[20.0, 5.0], [30.0, 5.0]])]
    arr, gtype = mvt.encode_geometry(("MultiLineString", parts))
    assert gtype == mvt.GEOM_LINESTRING
    # part1: 9, zz(0), zz(0), 10, zz(10), zz(0)  (LineTo(1) = 2|1<<3=10)
    # part2: MoveTo delta (20-10, 5-0) -> 9, zz(10), zz(5), 10, zz(10), zz(0)
    assert arr.tolist() == [9, 0, 0, 10, 20, 0, 9, 20, 10, 10, 20, 0]


def test_line_clip_keep_semantics_through_kernel():
    """A segment whose bbox overlaps a tile but which misses the
    buffered clip box must be dropped by the kernel (the corner-tile
    case the counts oracle replays); a crossing segment is kept and
    clipped to a 2-point part."""
    from tegola_spark.operators import geometry as geo

    box = (-64.0, -64.0, 4160.0, 4160.0)
    # crossing: enters left edge, exits bottom edge
    crossing = np.array([[-500.0, 2000.0], [2000.0, -500.0]])
    parts = geo.clip_linestring(crossing, box)
    assert len(parts) == 1 and len(parts[0]) == 2
    # missing: both endpoints out, no box intersection (far corner)
    missing = np.array([[-500.0, -100.0], [-100.0, -500.0]])
    assert geo.clip_linestring(missing, box) == []


def test_roads_distributed_matches_local_kernel(spark, sf_dir):
    """The distributed roads build (bbox fan-out -> SoA transport ->
    grouped encode) must produce byte-identical layer blobs to calling
    the encode kernel directly on the same features, and the z0 blob
    must decode back to 25 line features."""
    metrics, _ = pipeline.build_tiles(
        spark, sf_dir, zooms=[0, 1], with_polygons=False, with_roads=True,
        with_points=False)
    rows = {(r["z"], r["x"], r["y"]): r
            for r in metrics.where("layer = 'roads'").collect()}

    roads = layers.road_layer(spark, sf_dir).toPandas()
    n = len(roads)
    assert n == 25

    z0 = rows[(0, 0, 0)]
    assert z0["n_features"] == n and z0["n_dropped"] == 0

    pdf = pd.DataFrame({
        "feature_id": roads["feature_id"],
        "coords": roads["coords"],
        "ring_lens": roads["ring_lens"],
        "poly_lens": [None] * n,
        "gkind": roads["gkind"],
        "tag_name": roads["name"],
    })
    import time
    local = pipeline._encode_one(pdf, time.perf_counter(), 0, 0, 0, "roads")
    assert bytes(z0["layer_bytes"]) == local["layer_bytes"]

    decoded = mvt.decode_tile(bytes(z0["layer_bytes"]))
    feats = decoded["roads"]["features"]
    assert len(feats) == n
    assert all(f["type"] == mvt.GEOM_LINESTRING for f in feats)


def test_road_soa_decodes_to_linestring():
    g = wkb.soa_to_geometry(wkb.WKB_LINESTRING,
                            [1.0, 2.0, 3.0, 4.0], [2], None)
    assert g[0] == "LineString"
    assert np.allclose(g[1], [[1.0, 2.0], [3.0, 4.0]])
