"""Tile sinks + resume (reference S9 cache backends, R6 read-through).

tegola's cache backends (file/S3/Redis/Azure/GCS —
cache/cache.go:18-22) store one blob per ``map/layer/z/x/y`` key; its
seed workers skip tiles already cached (R6,
cmd/tegola/cmd/cache/worker.go:50-77). The Spark-native form:

  * sink: a parquet table of (z, x, y, tile_bytes, lineage columns)
    written ``partitionBy("z")`` — z is the only low-cardinality
    partition key; (x, y) stay as sort-ordered data columns (a
    partition dir per tile would melt the filesystem at z>=10).
    On Iceberg the same layout is the partition spec ``(z, bucket(x))``
    plus snapshot metadata; this module keeps a JSON manifest as the
    snapshot stand-in since Iceberg jars aren't in this image.
  * resume: LEFT ANTI join of a batch's tiles against the tile table's
    (z, x, y) keys, and of its metrics against the lineage table's —
    the R6 skip-if-cached, in shuffle-free broadcast joins
    (``write_batch``); a batch killed between its two writes gets its
    lineage on resume.
  * lineage: the per-(z,x,y,layer) metrics table rides along in a
    ``_metrics`` subdirectory (north rule: per-partition lineage +
    metrics) — lineage columns only (z, x, y, layer, n_features,
    n_dropped, bytes, encode_ms). The layer blobs are already
    concatenated into ``tiles/``, so each tile is stored once, as
    tegola stores one blob per cache key.
  * build report: each manifest record carries a per-(layer, z)
    ``report`` — tile, feature and dropped counts, byte sum and max,
    and encode time in the buckets of tegola's per-(map, layer, z)
    histograms (provider/postgis/postgis.go:110-138) — plus the count
    of tiles past the 500 KB advisory size (server/server.go:18-20).
  * one evaluation per batch: a batch's tiles and metrics come from
    one encode; ``write_batch`` persists the metrics frame so the
    report aggregate and both writes read it instead of re-running the
    encode once per action (tegola renders a tile once, then stores
    it — cmd/tegola/cmd/cache/cache.go:118-234).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

TILE_KEYS = ["z", "x", "y"]
# tegola's advisory tile size: larger tiles are logged, not truncated
# (MaxTileSize, server/server.go:18-20)
MAX_TILE_SIZE = 500_000
# upper bounds, in seconds, of tegola's per-(map, layer, z) latency
# histogram buckets (provider/postgis/postgis.go:110-138)
ENCODE_S_BUCKETS = (0.1, 1, 5, 20)
# the sink's key columns as written by write_tiles (z is the partition
# column); declared so a sink directory holding no data files yet (a
# first batch killed before its commit) reads as an empty key set
_KEY_SCHEMA = "x long, y long, z int"


def write_tiles(tiles: DataFrame, metrics: DataFrame, path: str,
                report: list | None = None) -> dict:
    """Append the tile table, the lineage table and a manifest entry.

    ``_metrics`` gets the metrics frame without its ``layer_bytes``
    blob (the tile table holds those bytes); a frame without the blob,
    such as a re-read ``_metrics`` table, is written as it is.

    Returns the manifest record (the Iceberg-snapshot stand-in). The
    manifest counts THIS batch via ``observe()``: the counters (tiles,
    zooms, bytes, tiles past ``MAX_TILE_SIZE``) are collected by the
    same job that writes the tile files, so counting adds no pass of
    its own. A record carries no running total, so a write reads
    neither the sink nor the manifest's earlier records; a sink's totals
    are the sums of its records. ``report`` (``build_report`` rows) is
    recorded as given.

    The two writes are two Spark actions. Over an un-persisted build
    each one re-runs the encode; ``write_batch`` is the caller that
    makes them (and its report) share one evaluation."""
    from pyspark.sql import Observation

    exprs = [F.count(F.lit(1)).alias("n"), F.collect_set("z").alias("zs")]
    if "tile_bytes" in tiles.columns:
        size = F.length("tile_bytes")
        exprs += [F.coalesce(F.sum(size), F.lit(0)).alias("n_bytes"),
                  F.count(F.when(size > MAX_TILE_SIZE, 1)).alias("n_big")]
    obs = Observation()
    # observed above the exchange: when the exchange turns out empty (a
    # resumed batch whose tiles are all written), adaptive execution
    # replaces the plan below it, and a counter there is never reported
    (tiles.repartition("z")
     .observe(obs, *exprs)
     .sortWithinPartitions("x", "y")
     .write.mode("append").partitionBy("z").parquet(os.path.join(path, "tiles")))
    batch = obs.get
    (metrics.drop("layer_bytes")
     .write.mode("append").partitionBy("z").parquet(os.path.join(path, "_metrics")))
    rec = {
        "ts": time.time(),
        "n_tiles": int(batch["n"]),
        "zooms": sorted(int(z) for z in batch["zs"]),
    }
    if "n_bytes" in batch:
        rec["n_bytes"] = int(batch["n_bytes"])
        rec["n_tiles_over_500kb"] = int(batch["n_big"])
    if report is not None:
        rec["report"] = report
    with open(os.path.join(path, "manifest.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def existing_keys(spark: SparkSession, path: str,
                  table: str = "tiles") -> DataFrame | None:
    """(z, x, y) keys already in one of the sink's tables — ``tiles``
    or ``_metrics`` — or None if the sink has no such table yet. A
    table that exists but cannot be read raises (when the keys are
    scanned) instead of reading as empty: an empty key set would make
    resume append every row again and duplicate (z, x, y) keys."""
    table_path = os.path.join(path, table)
    if not os.path.exists(table_path):
        return None
    return spark.read.schema(_KEY_SCHEMA).parquet(table_path) \
        .select(*TILE_KEYS)


@contextmanager
def persisted(metrics: DataFrame):
    """Persist a build's metrics frame for the duration of a batch and
    unpersist it however the batch ends. A tile frame assembled from
    these metrics (``assemble_tiles``) picks the persisted data up
    through Spark's cache manager, so every action inside the block
    shares one encode."""
    metrics.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield
    finally:
        metrics.unpersist()


def build_report(metrics: DataFrame) -> list:
    """The build report of a metrics frame: one small aggregate (one
    job) grouped by (layer, z), collected as dicts sorted by (layer, z)
    — tiles, features and dropped features, the sum and max of the
    layer bytes, and ``encode_s_le``, the cumulative count of layers
    encoded within each of ``ENCODE_S_BUCKETS`` seconds (Prometheus
    ``le`` form; "+Inf" is every layer)."""
    le = {str(b): F.count(F.when(F.col("encode_ms") <= b * 1000.0, 1))
          for b in ENCODE_S_BUCKETS}
    rows = (metrics.groupBy("layer", "z")
            .agg(F.count(F.lit(1)).alias("tiles"),
                 F.sum("n_features").alias("features"),
                 F.sum("n_dropped").alias("dropped"),
                 F.sum("bytes").alias("bytes"),
                 F.max("bytes").alias("max_bytes"),
                 *(c.alias("le_" + b) for b, c in le.items()))
            .collect())
    out = []
    for r in sorted(rows, key=lambda r: (r["layer"], r["z"])):
        d = {k: r[k] for k in ("layer", "z", "tiles", "features", "dropped",
                                "bytes", "max_bytes")}
        d["encode_s_le"] = {**{b: r["le_" + b] for b in le},
                            "+Inf": r["tiles"]}
        out.append(d)
    return out


def write_batch(spark: SparkSession, tiles: DataFrame, metrics: DataFrame,
                path: str) -> dict | None:
    """Write one seed batch of a build's (metrics, tiles) frames,
    skipping rows the sink already holds (R6 resume). Returns the
    manifest record, with the batch's ``build_report``, or None when
    nothing is left to write.

    Each frame is anti-joined against its own table's keys: the tiles
    against ``tiles/``, the metrics against ``_metrics``. So a batch
    killed between its two writes heals on resume: its tiles are
    skipped and its lineage is written. ``write_tiles`` writes the tiles
    before the lineage, so the sink's lineage keys are a subset of its
    tile keys, and the tile keys left to write are a subset of the
    lineage keys left to write. The batch is therefore empty exactly
    when the report of the remaining metrics has no rows. A lineage key
    counts as written only where the tile table holds it too; by the
    write order that is every lineage key, and it makes the report read
    the tile table, so an unreadable one raises even when no lineage is
    left to write.

    The metrics frame is persisted before any action, so the report
    aggregate, the tile write and the lineage write evaluate the encode
    once."""
    with persisted(metrics):
        done = existing_keys(spark, path)
        if done is not None:
            tiles = tiles.join(F.broadcast(done), TILE_KEYS, "left_anti")
            lineage = existing_keys(spark, path, "_metrics")
            if lineage is not None:
                done = lineage.join(done, TILE_KEYS, "left_semi")
                metrics = metrics.join(F.broadcast(done), TILE_KEYS,
                                       "left_anti")
        report = build_report(metrics)
        if not report:
            return None
        return write_tiles(tiles, metrics, path, report=report)
