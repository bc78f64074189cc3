"""spark-submit CLI entry (the `tegola cache seed` analog)."""

import json
import os

import pytest

from tegola_spark import cli
from tegola_spark.operators import mvt
from tegola_spark.sources import sinks


def test_cli_seed_and_resume(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "sink")
    rc = cli.main(["seed", "--input", sf_dir, "--out", out,
                   "--min-zoom", "0", "--max-zoom", "2",
                   "--hierarchical", "--anchor-z", "1"], spark=spark)
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["batches_written"] == 2
    assert sinks.existing_keys(spark, out).count() == 21
    # tiles decode and carry the expected layers
    row = spark.read.parquet(os.path.join(out, "tiles")).where("z = 0").first()
    assert "pages" in mvt.decode_tile(bytes(row["tile_bytes"]))
    # resume is a no-op
    rc = cli.main(["seed", "--input", sf_dir, "--out", out,
                   "--min-zoom", "0", "--max-zoom", "2"], spark=spark)
    assert rc == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["batches_written"] == 0
    # --overwrite reseeds
    rc = cli.main(["seed", "--input", sf_dir, "--out", out,
                   "--min-zoom", "0", "--max-zoom", "0", "--overwrite"],
                  spark=spark)
    assert rc == 0
    assert sinks.existing_keys(spark, out).count() == 1


def test_cli_seed_tile_list(spark, sf_dir, tmp_path, capsys):
    """`seed --tile-list` renders ONLY the listed tiles, expanded across
    the zoom range (the reference's `cache seed tile-list` mode)."""
    import grid_reference as ref

    listing = tmp_path / "tiles.txt"
    listing.write_text("1/0/0\n")
    out = str(tmp_path / "sink_tl")
    rc = cli.main(["seed", "--input", sf_dir, "--out", out,
                   "--min-zoom", "0", "--max-zoom", "2",
                   "--tile-list", str(listing)], spark=spark)
    assert rc == 0
    capsys.readouterr()
    got = {(r["z"], r["x"], r["y"])
           for r in sinks.existing_keys(spark, out).collect()}
    want = set(ref.tiles_from_list(["1/0/0"], [0, 1, 2]))
    # only listed-expansion tiles appear (tiles with no features at all
    # may be absent, but nothing OUTSIDE the expansion may exist)
    assert got <= want
    assert (1, 0, 0) in got and (0, 0, 0) in got
    assert all(z != 2 or (x < 2 and y < 2) for z, x, y in got)


def test_cli_seed_tile_list_explicit(spark, sf_dir, tmp_path, capsys):
    listing = tmp_path / "tiles.txt"
    listing.write_text("2/1/1\n")
    out = str(tmp_path / "sink_tle")
    rc = cli.main(["seed", "--input", sf_dir, "--out", out,
                   "--min-zoom", "0", "--max-zoom", "2",
                   "--tile-list", str(listing), "--tile-list-explicit"],
                  spark=spark)
    assert rc == 0
    capsys.readouterr()
    got = {(r["z"], r["x"], r["y"])
           for r in sinks.existing_keys(spark, out).collect()}
    assert got == {(2, 1, 1)}


@pytest.mark.parametrize("zoom_args", [
    ["--batch-zooms", "0"],
    ["--batch-zooms", "-1"],
    ["--min-zoom", "5", "--max-zoom", "3"],
    ["--min-zoom", "-1", "--max-zoom", "2"],
    ["--min-zoom", "0", "--max-zoom", "23"],
], ids=["batch-zooms-0", "batch-zooms-negative", "min-above-max",
        "min-below-0", "max-above-MAX_Z"])
def test_cli_seed_rejects_zoom_range_that_seeds_nothing(
        tmp_path, monkeypatch, capsys, zoom_args):
    """A batch size below one, a reversed range or a zoom off the grid
    is an argparse error (exit 2) raised before any Spark session
    starts, not a run that writes nothing and exits 0."""
    from tegola_spark.plans import session

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.main(["seed", "--input", str(tmp_path), "--out",
                  str(tmp_path / "sink")] + zoom_args)
    assert exc.value.code == 2
    assert "error:" in capsys.readouterr().err
