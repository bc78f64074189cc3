"""MVT encoder golden tests (reference E1-E8, P9, G4).

Golden vectors from FIXTURES.md §F6 / atlas/map_test.go:346-430 and
vendor/.../mvt/feature.go.
"""

from pathlib import Path

import numpy as np
import pytest

from tegola_spark.functions import grid
from tegola_spark.operators import mvt


# -- E2 zigzag ----------------------------------------------------------------

def test_zigzag_vectors():
    # FIXTURES.md F6.2
    vals = [0, -1, 1, -2, 4096, -4096]
    expect = [0, 1, 2, 3, 8192, 8191]
    assert list(mvt.zigzag(vals)) == expect


# -- E1 commands ----------------------------------------------------------------

def test_command_vectors():
    # FIXTURES.md F6.3: MoveTo(1)->9, LineTo(3)->26, ClosePath(1)->15
    assert mvt.command(mvt.CMD_MOVETO, 1) == 9
    assert mvt.command(mvt.CMD_LINETO, 3) == 26
    assert mvt.command(mvt.CMD_CLOSEPATH, 1) == 15


# -- E3 cursor ------------------------------------------------------------------

def test_cursor_accumulates_across_calls():
    c = mvt.Cursor()
    d1 = c.deltas(np.array([[10, 10]]))
    d2 = c.deltas(np.array([[5, 20]]))
    np.testing.assert_array_equal(d1, [[10, 10]])
    np.testing.assert_array_equal(d2, [[-5, 10]])


# -- P9 prepare ------------------------------------------------------------------

def test_prepare_point_flip():
    # px=(x-minx)/xspan*4096, py=(maxy-y)/yspan*4096 — prepare.go:81-87
    out = mvt.prepare_point(np.array([[0.0, 0.0]]), -100, -100, 100, 100)
    np.testing.assert_allclose(out, [[2048.0, 2048.0]])
    top_left = mvt.prepare_point(np.array([[-100.0, 100.0]]), -100, -100, 100, 100)
    np.testing.assert_allclose(top_left, [[0.0, 0.0]])


def test_prepare_dedup_and_degenerate():
    ext = (0.0, 0.0, 4096.0, 4096.0)
    # consecutive duplicates removed at 1e-9 — prepare.go:101-104
    g = mvt.prepare_geo(
        ("LineString", np.array([[0, 0], [0, 0], [10, 10]], dtype=float)), ext)
    assert len(g[1]) == 2
    # degenerate line -> None
    assert mvt.prepare_geo(("LineString", np.array([[5.0, 5.0]])), ext) is None
    assert mvt.prepare_geo(
        ("LineString", np.array([[5.0, 5.0], [5.0, 5.0]])), ext) is None


def test_prepare_polygon_decloses_ring():
    ext = (0.0, 0.0, 4096.0, 4096.0)
    ring = np.array([[0, 0], [1000, 0], [1000, 1000], [0, 1000], [0, 0]], dtype=float)
    g = mvt.prepare_geo(("Polygon", [ring]), ext)
    assert g[0] == "Polygon"
    assert len(g[1][0]) == 4  # closing point removed — prepare.go:132-135


# -- G4 winding -------------------------------------------------------------------

def test_winding_constants():
    # y-down CW square (right, down, left, up)
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    assert mvt.winding(sq, y_positive_down=True) == mvt.CLOCKWISE
    assert mvt.winding(sq, y_positive_down=False) == mvt.COUNTER_CLOCKWISE
    assert mvt.winding(sq[::-1], y_positive_down=True) == mvt.COUNTER_CLOCKWISE
    line = np.array([[0, 0], [5, 5], [10, 10]], dtype=float)
    assert mvt.winding(line, y_positive_down=True) == mvt.COLINEAR


def test_rectify_polygon_drops_colinear_ring0():
    line = np.array([[0, 0], [5, 5], [10, 10]], dtype=float)
    assert mvt.rectify_polygon([line], y_positive_down=True) == []


# -- E4 + golden tile --------------------------------------------------------------

def _golden_tile_polygon():
    """The test provider's feature: polygon = tile extent of z2/3/3
    (provider/test/provider.go:88-103), vertices in AsPolygon order
    (bbox.go:33-42): (minx,miny),(maxx,miny),(maxx,maxy),(minx,maxy)."""
    minx, miny, maxx, maxy = grid.tile_extent_3857(2, 3, 3)
    ring = np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]], dtype=float)
    return ("Polygon", [ring]), (minx, miny, maxx, maxy)


def test_golden_z233_command_stream():
    """FIXTURES.md F6.1 — the exact geometry command stream from
    atlas/map_test.go:375-380."""
    poly, ext = _golden_tile_polygon()
    prepared = mvt.prepare_geo(poly, ext)
    arr, gtype = mvt.encode_geometry(prepared)
    assert gtype == mvt.GEOM_POLYGON
    assert list(arr) == [9, 0, 0, 26, 8192, 0, 0, 8192, 8191, 0, 15]


def test_golden_z233_full_layer_roundtrip():
    """Encode the golden tile's two layers and decode: layer structure,
    keys/values dictionaries, tags, version, extent must all match
    atlas/map_test.go:346-430."""
    poly, ext = _golden_tile_polygon()
    prepared = mvt.prepare_geo(poly, ext)
    f1 = {"id": 0, "tags": {"type": "debug_buffer_outline", "foo": "bar"},
          "geom": prepared}
    f2 = {"id": 0, "tags": {"type": "debug_buffer_outline"}, "geom": prepared}
    tile = mvt.encode_tile([mvt.encode_layer("layer1", [f1]),
                            mvt.encode_layer("layer2", [f2])])
    out = mvt.decode_tile(tile)

    assert set(out) == {"layer1", "layer2"}
    l1 = out["layer1"]
    assert l1["version"] == 2
    assert l1["extent"] == 4096
    assert l1["keys"] == ["type", "foo"]
    assert l1["values"] == ["debug_buffer_outline", "bar"]
    ft = l1["features"][0]
    assert ft["id"] == 0
    assert ft["tags"] == [0, 0, 1, 1]
    assert ft["type"] == mvt.GEOM_POLYGON
    assert ft["geometry"] == [9, 0, 0, 26, 8192, 0, 0, 8192, 8191, 0, 15]

    l2 = out["layer2"]
    assert l2["keys"] == ["type"]
    assert l2["features"][0]["tags"] == [0, 0]


def test_empty_layer_still_emitted():
    # atlas/map_test.go "empty_collection" case
    tile = mvt.encode_tile([mvt.encode_layer("empty_geom_collection", [])])
    out = mvt.decode_tile(tile)
    lyr = out["empty_geom_collection"]
    assert lyr["version"] == 2
    assert lyr["features"] == []
    assert lyr["keys"] == []


def test_point_multipoint_linestring_encode():
    pt_arr, t = mvt.encode_geometry(("Point", np.array([25.0, 17.0])))
    assert t == mvt.GEOM_POINT
    assert list(pt_arr) == [9, 50, 34]  # MVT spec example

    mp_arr, _ = mvt.encode_geometry(
        ("MultiPoint", np.array([[5.0, 7.0], [3.0, 2.0]])))
    assert list(mp_arr) == [17, 10, 14, 3, 9]  # MVT 2.1 spec §4.3.5.2

    ls_arr, t2 = mvt.encode_geometry(
        ("LineString", np.array([[2.0, 2.0], [2.0, 10.0], [10.0, 10.0]])))
    assert t2 == mvt.GEOM_LINESTRING
    assert list(ls_arr) == [9, 4, 4, 18, 0, 16, 16, 0]  # spec §4.3.5.3


def test_polygon_with_hole_winding():
    # exterior must encode CW (y-down), interior CCW — feature.go:259-276
    ext_ring = np.array([[0, 0], [100, 0], [100, 100], [0, 100]], dtype=float)
    hole = np.array([[20, 20], [40, 20], [40, 40], [20, 40]], dtype=float)
    arr, _ = mvt.encode_geometry(("Polygon", [ext_ring, hole]))
    ops = mvt.decode_geometry_commands(arr)
    # two rings: move/line/close twice
    kinds = [o[0] for o in ops]
    assert kinds == ["move", "line", "close", "move", "line", "close"]
    ring1 = [ops[0][1][0]] + ops[1][1]
    ring2 = [ops[3][1][0]] + ops[4][1]
    assert mvt.winding(np.array(ring1, dtype=float), True) == mvt.CLOCKWISE
    assert mvt.winding(np.array(ring2, dtype=float), True) == mvt.COUNTER_CLOCKWISE


def test_truncation_can_flip_winding_recheck():
    # a sliver that is CW in float but collapses to colinear in int is
    # dropped entirely (feature.go:195-222 re-check AFTER truncation)
    sliver = np.array([[0.0, 0.0], [10.9, 0.4], [5.0, 0.6]])
    arr, _ = mvt.encode_geometry(("Polygon", [sliver]))
    assert list(arr) == []


def test_value_variants_roundtrip():
    f = {"id": 7, "tags": {"s": "x", "b": True, "i": -5, "d": 2.5},
         "geom": ("Point", np.array([1.0, 1.0]))}
    out = mvt.decode_tile(mvt.encode_tile([mvt.encode_layer("l", [f])]))["l"]
    vals = dict(zip(out["keys"], [out["values"][i] for i in range(len(out["values"]))]))
    assert vals["s"] == "x"
    assert vals["b"] is True
    assert vals["i"] == -5  # sint/int path
    assert vals["d"] == 2.5


def test_typed_value_identity():
    # int 7, float 7.0 and "7" are distinct dictionary entries
    # (feature.go:360-573 type-sensitive maps)
    fs = [{"id": 1, "tags": {"a": 7, "b": 7.0, "c": "7"},
           "geom": ("Point", np.array([0.0, 0.0]))}]
    out = mvt.decode_tile(mvt.encode_tile([mvt.encode_layer("l", fs)]))["l"]
    assert len(out["values"]) == 3


REF_FIXTURE = Path("/root/reference/provider/testdata/11_358_827.pbf")


@pytest.mark.skipif(not REF_FIXTURE.exists(), reason="reference fixture absent")
def test_decode_real_world_tile_fixture():
    """Decode the reference's real MVT fixture (11/358/827) and sanity
    check structure; re-encode our decoded model and decode again —
    the wire codec must be self-consistent on real-world data."""
    buf = REF_FIXTURE.read_bytes()
    tile = mvt.decode_tile(buf)
    assert len(tile) >= 1
    total_feats = sum(len(l["features"]) for l in tile.values())
    assert total_feats > 0
    for name, lyr in tile.items():
        assert lyr["version"] in (1, 2)
        for ft in lyr["features"]:
            assert ft["type"] in (1, 2, 3)
            # tags reference valid dictionary slots
            for i in range(0, len(ft["tags"]), 2):
                assert ft["tags"][i] < len(lyr["keys"])
                assert ft["tags"][i + 1] < len(lyr["values"])


def test_encode_tile_rejects_duplicate_layer_names():
    # Tile.AddLayers errors on an already-present name
    # (vendor/.../encoding/mvt/tile.go:16-35)
    f = {"id": 1, "tags": {}, "geom": ("Point", np.array([1.0, 2.0]))}
    roads = mvt.encode_layer("roads", [f])
    with pytest.raises(mvt.DuplicateLayerName):
        mvt.encode_tile([roads, roads])
    # the name is read from each encoded body, whichever emitter built it
    water = mvt.encode_layer("water", [f])
    water_arrays = mvt.encode_point_layer_arrays(
        "water", np.array([1], np.int64), np.zeros((1, 2), np.uint32), [])
    with pytest.raises(mvt.DuplicateLayerName):
        mvt.encode_tile([water, water_arrays])
    # distinct names stay fine
    out = mvt.encode_tile([water, roads])
    assert set(mvt.decode_tile(out).keys()) == {"water", "roads"}


def test_uint64_value_variant():
    # layer.go:180-181: uint64 values beyond int64 emit uint_value
    f = {"id": 1, "tags": {"big": 2**63 + 5, "small": 42}, "geom": ("Point", np.array([1.0, 2.0]))}
    out = mvt.decode_tile(mvt.encode_tile([mvt.encode_layer("l", [f])]))["l"]
    vals = set(out["values"])
    assert 2**63 + 5 in vals       # decoded via the uint arm (field 5)
    assert 42 in vals
