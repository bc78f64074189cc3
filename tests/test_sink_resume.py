"""Sink write + anti-join resume semantics (R6 / checkpoint)."""

import os

import pytest

from tegola_spark.sources import sinks
from tegola_spark.streaming import checkpoint


def test_seed_and_resume(spark, sf_dir, tmp_path):
    out = str(tmp_path / "sink")
    recs = checkpoint.seed_tiles(spark, sf_dir, out, zooms=[0, 1])
    assert recs
    done = sinks.existing_keys(spark, out)
    n1 = done.count()
    assert n1 == 5  # 1 + 4 world tiles

    # resume with a superset of zooms: only z2 is new work
    recs2 = checkpoint.seed_tiles(spark, sf_dir, out, zooms=[0, 1, 2], batch_zooms=3)
    done2 = sinks.existing_keys(spark, out)
    assert done2.count() == 5 + 16
    # no duplicates
    assert done2.distinct().count() == 21

    # second resume is a no-op
    recs3 = checkpoint.seed_tiles(spark, sf_dir, out, zooms=[0, 1, 2])
    assert recs3 == []

    # manifest recorded each write
    manifest = os.path.join(out, "manifest.jsonl")
    assert os.path.exists(manifest)
    assert len(open(manifest).readlines()) == len(recs) + len(recs2)


def test_manifest_counts_batch_not_whole_sink(spark, sf_dir, tmp_path):
    """write_tiles must count the batch being written, not rescan all
    historical output (a full sink read per batch at scale)."""
    import json
    out = str(tmp_path / "sink3")
    checkpoint.seed_tiles(spark, sf_dir, out, zooms=[0, 1])
    checkpoint.seed_tiles(spark, sf_dir, out, zooms=[0, 1, 2])
    recs = [json.loads(l) for l in open(os.path.join(out, "manifest.jsonl"))]
    assert [r["n_tiles"] for r in recs] == [5, 16]     # per-batch counts
    assert sum(r["n_tiles"] for r in recs) == 21       # totals are sums
    assert recs[0]["zooms"] == [0, 1] and recs[-1]["zooms"] == [2]


def test_manifest_observed_bytes(spark, tmp_path):
    """write_tiles collects its manifest counters with observe() — by
    the write job itself — including total output bytes."""
    from tegola_spark.sources import sinks

    path = tmp_path / "sink"
    path.mkdir()
    tiles = spark.createDataFrame(
        [(0, 0, 0, bytearray(b"abc")), (1, 0, 1, bytearray(b"defgh"))],
        "z int, x long, y long, tile_bytes binary")
    metrics = spark.createDataFrame(
        [(0, 0, 0, "l", 1)], "z int, x long, y long, layer string, n_features long")
    rec = sinks.write_tiles(tiles, metrics, str(path))
    assert rec["n_tiles"] == 2
    assert rec["n_bytes"] == 8
    assert rec["zooms"] == [0, 1]


# --- the batch writer: one encode per seed batch --------------------------

# sink digests of `seed --min-zoom 0 --max-zoom <z>` over the sf0.01
# corpus. z0..2 was recorded from the writer before it persisted the
# encode (three Spark actions per batch); z0..4 from the standard plan.
# Every plan agrees with them.
SF001_Z2_GOLDEN = {"tiles": 21, "bytes": 92079,
                   "md5": "a0fb830398cf9ab7c458a7c7b1be35c7"}
SF001_Z4_GOLDEN = {"tiles": 303, "bytes": 175426,
                   "md5": "fc4a6dd1e2832f42ba9ad3cd7df06be4"}


def _sink_digest(path):
    """Count, total bytes and md5 over (z, x, y, tile_bytes) in key
    order, read without Spark."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(path, "tiles"),
                      columns=["z", "x", "y", "tile_bytes"]).to_pydict()
    rows = sorted(zip(t["z"], t["x"], t["y"], t["tile_bytes"]),
                  key=lambda r: r[:3])
    h = hashlib.md5()
    for z, x, y, b in rows:
        h.update(b"%d/%d/%d:" % (z, x, y))
        h.update(b)
    return {"tiles": len(rows), "bytes": sum(len(r[3]) for r in rows),
            "md5": h.hexdigest()}


def _persisted(spark):
    """Ids of the persisted RDDs. Compared as sets: a leftover from an
    earlier test (e.g. a cached frame nobody unpersisted, or an
    operator's localCheckpoint) may be released by Spark's
    ContextCleaner at any moment, so a count can drop for reasons
    unrelated to the call under test."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
               .toArray())


@pytest.mark.parametrize("plan_args, max_zoom, n_batches, golden", [
    # default anchor_z 4: every zoom is its own level
    ([], 2, 2, SF001_Z2_GOLDEN),
    (["--anchor-z", "1"], 2, 2, SF001_Z2_GOLDEN),
    # batch [4] spans 3 levels below its anchor
    (["--anchor-z", "1"], 4, 3, SF001_Z4_GOLDEN),
], ids=["own_levels", "anchor_z1", "anchor_z1_deep"])
def test_write_batch_writes_from_persisted_encode(spark, sf_dir, tmp_path,
                                                  monkeypatch, plan_args,
                                                  max_zoom, n_batches,
                                                  golden):
    """Both written frames read the persisted metrics (the encode runs
    once per batch) and the sink bytes equal the golden."""
    from tegola_spark import cli

    plans = []
    real_write = sinks.write_tiles

    def spying_write(tiles, metrics, path, **kw):
        plans.append([df._jdf.queryExecution().executedPlan().toString()
                      for df in (tiles, metrics)])
        return real_write(tiles, metrics, path, **kw)

    monkeypatch.setattr(sinks, "write_tiles", spying_write)
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    out = str(tmp_path / "sink")
    assert cli.main(["seed", "--input", sf001, "--out", out,
                     "--min-zoom", "0", "--max-zoom", str(max_zoom)]
                    + plan_args, spark=spark) == 0
    assert len(plans) == n_batches    # zoom batches of two
    for tiles_plan, metrics_plan in plans:
        assert "InMemoryTableScan" in tiles_plan
        assert "InMemoryTableScan" in metrics_plan
    assert _sink_digest(out) == golden


def _lineage(path):
    """The sink's lineage rows without the encode time (a timing), in
    key order, read without Spark."""
    import pyarrow.parquet as pq

    if not os.path.exists(os.path.join(path, "_metrics")):
        return []
    t = pq.read_table(os.path.join(path, "_metrics")).to_pandas()
    t = t.drop(columns="encode_ms").astype({"z": int})
    return sorted(map(tuple, t[sorted(t.columns)].itertuples(index=False)))


@pytest.fixture(scope="module")
def sf001_z2_lineage(spark, sf_dir, tmp_path_factory):
    """Lineage rows of an uninterrupted seed of sf0.01 z0..2."""
    out = str(tmp_path_factory.mktemp("ref") / "sink")
    checkpoint.seed_tiles(spark, os.path.join(os.path.dirname(sf_dir),
                                              "sf0.01"), out, zooms=[0, 1, 2])
    return _lineage(out)


@pytest.mark.parametrize("batch_zooms", [2, 3])
def test_resume_heals_lineage_of_batch_killed_between_writes(
        spark, sf_dir, tmp_path, monkeypatch, sf001_z2_lineage, batch_zooms):
    """A seed killed after a batch's tile write and before its lineage
    write leaves tiles without lineage. Re-running the seed writes the
    missing lineage and no tile twice: the sink equals an
    uninterrupted seed's."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet
    killed = []

    def parquet_killed_once(self, path, *args, **kwargs):
        if path.endswith("_metrics") and not killed:
            killed.append(path)
            raise RuntimeError("killed before the lineage write")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_killed_once)
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    out = str(tmp_path / "sink")
    with pytest.raises(RuntimeError, match="killed"):
        checkpoint.seed_tiles(spark, sf001, out, zooms=[0, 1, 2],
                              batch_zooms=batch_zooms)
    assert not os.path.exists(os.path.join(out, "_metrics"))
    checkpoint.seed_tiles(spark, sf001, out, zooms=[0, 1, 2],
                          batch_zooms=batch_zooms)
    assert _sink_digest(out) == SF001_Z2_GOLDEN
    assert _lineage(out) == sf001_z2_lineage


def test_write_batch_unpersists_on_every_exit(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """The persisted encode is released after a write, after a batch
    skipped as already done, and after a write that raises."""
    from tegola_spark.plans import pipeline

    out = str(tmp_path / "sink")

    metrics, tiles = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1])
    before = _persisted(spark)
    assert sinks.write_batch(spark, tiles, metrics, out)["n_tiles"] == 5
    assert _persisted(spark) <= before

    # resume no-op: every tile is in the sink, nothing is written
    metrics, tiles = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1])
    before = _persisted(spark)
    assert sinks.write_batch(spark, tiles, metrics, out) is None
    assert _persisted(spark) <= before

    def failing_write(tiles, metrics, path, **kw):
        tiles.count()
        raise RuntimeError("sink unavailable")

    monkeypatch.setattr(sinks, "write_tiles", failing_write)
    metrics, tiles = pipeline.build_tiles(spark, sf_dir, zooms=[2])
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="sink unavailable"):
        sinks.write_batch(spark, tiles, metrics, out)
    assert _persisted(spark) <= before
    assert sinks.existing_keys(spark, out).count() == 5


def test_seed_tile_list_unpersists_work_set(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """The cached --tile-list work set is released when the seed ends,
    after a successful run and after a batch write that raises."""
    from tegola_spark import cli

    listing = tmp_path / "tiles.txt"
    listing.write_text("1/0/0\n")
    argv = ["seed", "--input", sf_dir, "--min-zoom", "0", "--max-zoom",
            "2", "--tile-list", str(listing)]

    before = _persisted(spark)
    assert cli.main(argv + ["--out", str(tmp_path / "ok")],
                    spark=spark) == 0
    assert _persisted(spark) <= before

    def failing_batch(spark, tiles, metrics, path):
        tiles.count()            # materializes the cached work set
        raise RuntimeError("sink unavailable")

    monkeypatch.setattr(sinks, "write_batch", failing_batch)
    with pytest.raises(RuntimeError, match="sink unavailable"):
        cli.main(argv + ["--out", str(tmp_path / "bad")], spark=spark)
    assert _persisted(spark) <= before


def test_deep_seed_leaves_nothing_persisted(spark, sf_dir, tmp_path):
    """A seed whose batches reach below the anchor level persists
    nothing past its own run: the geocoded points are read once, so
    no checkpoint of them is left behind. (--hierarchical is accepted
    and changes nothing.)"""
    from tegola_spark import cli

    before = _persisted(spark)
    assert cli.main(["seed", "--input", sf_dir, "--out",
                     str(tmp_path / "sink"), "--min-zoom", "0",
                     "--max-zoom", "4", "--hierarchical", "--anchor-z", "1"],
                    spark=spark) == 0
    assert _persisted(spark) - before == set()


def test_existing_keys_missing_empty_and_corrupt(spark, sf_dir, tmp_path):
    """Only a missing tile table reads as None. A tile table with no
    data files yet is an empty key set, and an unreadable one raises
    instead of letting resume re-append every tile."""
    out = tmp_path / "sink"
    assert sinks.existing_keys(spark, str(out)) is None

    (out / "tiles" / "_temporary").mkdir(parents=True)
    assert sinks.existing_keys(spark, str(out)).count() == 0

    checkpoint.seed_tiles(spark, sf_dir, str(out), zooms=[0])
    assert sinks.existing_keys(spark, str(out)).count() == 1
    (out / "tiles" / "z=0" / "part-corrupt.parquet").write_bytes(
        b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        sinks.existing_keys(spark, str(out)).count()
    with pytest.raises(Exception, match="(?i)parquet"):
        checkpoint.seed_tiles(spark, sf_dir, str(out), zooms=[0])
