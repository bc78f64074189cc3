"""Streaming incremental tile maintenance (streaming/live.py): after
any sequence of micro-batches the latest-wins sink equals a
from-scratch batch build over the cumulative corpus, byte for byte;
the second batch rebuilds only affected tiles and resumes from the
stream checkpoint (wave-1 files are not reprocessed); each micro-batch
adds one manifest record counting the rows it appended."""

import json
import os

from pyspark.sql import functions as F

from tegola_spark.plans import pipeline
from tegola_spark.sources import corpus
from tegola_spark.streaming import live

ZOOMS = [0, 1, 2, 3]


def _tiles_map(df):
    return {(r["z"], r["x"], r["y"]): bytes(r["tile_bytes"])
            for r in df.collect()}


def test_stream_matches_batch_rebuild(spark, sf_dir, tmp_path):
    docs_dir = str(tmp_path / "docs")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)

    docs = corpus.documents(spark, sf_dir)
    wave1 = docs.where(F.col("doc_id") % 2 == 0)
    wave2 = docs.where(F.col("doc_id") % 2 == 1)
    # wave 2 is geographically concentrated relative to the whole
    # corpus only at deep zooms; both waves hit every low-zoom tile
    wave1.coalesce(1).write.parquet(docs_dir, mode="append")

    live.stream_tiles(spark, docs_dir, sf_dir, sink, ZOOMS, ckpt)
    got1 = _tiles_map(live.read_current(spark, sink))
    _, want1 = pipeline.build_tiles(
        spark, sf_dir, zooms=ZOOMS, docs=spark.read.parquet(docs_dir))
    assert got1 == _tiles_map(want1)

    wave2.coalesce(1).write.parquet(docs_dir, mode="append")
    live.stream_tiles(spark, docs_dir, sf_dir, sink, ZOOMS, ckpt)
    got2 = _tiles_map(live.read_current(spark, sink))
    _, want2 = pipeline.build_tiles(
        spark, sf_dir, zooms=ZOOMS, docs=spark.read.parquet(docs_dir))
    assert got2 == _tiles_map(want2)

    # resume semantics: batch 0 wrote wave-1 tiles, batch 1 rebuilt
    # every affected tile from the CUMULATIVE corpus — so every batch-1
    # key must carry the cumulative bytes, and batch ids are distinct
    raw = spark.read.parquet(f"{sink}/tiles")
    batches = sorted(r["_batch"] for r in raw.select("_batch").distinct().collect())
    assert len(batches) == 2
    affected2 = live.affected_tiles(
        spark, spark.createDataFrame(wave2.collect(), wave2.schema),
        sf_dir, ZOOMS)
    n_affected = affected2.count()
    n_batch1 = raw.where(F.col("_batch") == batches[1]).count()
    assert n_batch1 == n_affected  # only affected tiles were rebuilt

    # the live sink is written by sinks.write_tiles: one manifest record
    # per non-empty micro-batch, each counting the rows its _batch added
    with open(os.path.join(sink, "manifest.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    per_batch = [raw.where(F.col("_batch") == b).count() for b in batches]
    assert [r["n_tiles"] for r in recs] == per_batch
    assert sum(r["n_tiles"] for r in recs) == raw.count()
    assert [r["zooms"] for r in recs] == [ZOOMS, ZOOMS]


def test_tile_filter_limits_build(spark, sf_dir):
    keys = spark.createDataFrame([(0, 0, 0), (1, 1, 0)], "z int, x long, y long")
    _, tiles = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1],
                                    tile_filter=keys)
    got = {(r["z"], r["x"], r["y"]) for r in tiles.collect()}
    assert got == {(0, 0, 0), (1, 1, 0)}
    # filtered tiles are byte-identical to the unfiltered build's
    _, full = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1])
    want = {(r["z"], r["x"], r["y"]): bytes(r["tile_bytes"])
            for r in full.collect()}
    for r in tiles.collect():
        assert bytes(r["tile_bytes"]) == want[(r["z"], r["x"], r["y"])]
