"""Port of the cache-seed tile generator table
(cmd/tegola/cmd/cache/seed_purge_generator_test.go:69-180,
TestGenerateTilesForBounds) against grid.tiles_for_bounds — the
enumeration the seed CLI fans out over."""

import grid_reference as ref

from tegola_spark.functions import grid

WORLD = (-180.0, -85.0511, 180.0, 85.0511)


def test_world_zoom0():
    assert grid.tiles_for_bounds(*WORLD, [0]) == [(0, 0, 0)]


def test_world_zoom1():
    got = sorted(grid.tiles_for_bounds(*WORLD, [1]))
    assert got == [(1, 0, 0), (1, 0, 1), (1, 1, 0), (1, 1, 1)]


def test_inverted_bounds_eastern_half():
    """bounds given as (180, 90, 0, 0) — the generator normalizes and
    yields the eastern hemisphere at z1."""
    got = sorted(grid.tiles_for_bounds(180.0, 90.0, 0.0, 0.0, [1]))
    assert got == [(1, 1, 0), (1, 1, 1)]


def test_tile_list_expansion():
    """TestGenerateTilesForTileList case 0 (tile_list_generator_test.go:
    79-91): the listed 14/300/781 expands across zooms [13,14,15] to
    its z13 ancestor + itself + its four z15 children."""
    got = ref.tiles_from_list(["14/300/781"], [13, 14, 15])
    assert got == [
        (13, 150, 390),
        (14, 300, 781),
        (15, 600, 1562), (15, 600, 1563),
        (15, 601, 1562), (15, 601, 1563),
    ]


def test_tile_list_explicit():
    """Case 1: explicit mode yields the listed tile only."""
    assert ref.tiles_from_list(["14/300/781"], [13, 14, 15],
                                explicit=True) == [(14, 300, 781)]
    # and with no zooms at all, as-is too
    assert ref.tiles_from_list([(3, 1, 2)]) == [(3, 1, 2)]


def test_tile_name_parse_errors():
    import pytest

    for bad in ["1/2", "z/x/y", "1/2/4", "-1/0/0", "2/4/0"]:
        with pytest.raises(ValueError):
            grid.parse_tile_name(bad)


def test_alps_bounds_z10_exact_window():
    """The issue-880 regression window (5.9,45.8)-(10.5,47.8) at z10:
    exactly x 528..541 x y 356..365 (140 tiles, matching the table
    verbatim)."""
    got = set(grid.tiles_for_bounds(5.9, 45.8, 10.5, 47.8, [10]))
    want = {(10, x, y) for x in range(528, 542) for y in range(356, 366)}
    assert got == want


def test_tile_spans_match_materialized_expansion():
    """Span form == materialized form on the reference's generator case."""
    spans = grid.tile_spans_from_list(["14/300/781"], [13, 14, 15])
    expanded = sorted({(z, x, y)
                       for z, x0, x1, y0, y1 in spans
                       for x in range(x0, x1 + 1)
                       for y in range(y0, y1 + 1)})
    assert expanded == ref.tiles_from_list(["14/300/781"], [13, 14, 15])
    # explicit mode: one degenerate span per entry
    assert grid.tile_spans_from_list([(3, 1, 2)]) == [(3, 1, 2, 1, 2, 2)] or \
        grid.tile_spans_from_list([(3, 1, 2)]) == [(3, 1, 1, 2, 2)]


def test_tile_list_from_file_distributed(tmp_path, spark):
    """S11 source expands spans cluster-side (sequence+explode), matching
    the driver-side reference expansion exactly."""
    from tegola_spark.operators import tiling

    p = tmp_path / "tiles.txt"
    p.write_text("14/300/781\n\n12/75/195\n")
    df = tiling.tile_list_from_file(spark, str(p), [13, 14, 15])
    got = sorted((r.z, r.x, r.y) for r in df.collect())
    want = ref.tiles_from_list(["14/300/781", "12/75/195"], [13, 14, 15])
    assert got == want
