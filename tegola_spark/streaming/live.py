"""Structured-Streaming incremental tile maintenance (engine-extra;
the reference's closest analog is re-running `tegola cache seed` over
a bounds — SURVEY.md §2.12 notes it has NO streaming semantics).

Design: new document files land in a directory; a file-source stream
picks them up and, per micro-batch, rebuilds ONLY the tiles those new
documents touch:

  new docs --fan-out (column math, no encode)--> affected (z,x,y) keys
  cumulative docs --build_tiles(tile_filter=affected)--> fresh tiles
  fresh tiles --append with _batch--> versioned sink (latest wins)

Each micro-batch writes through ``sinks.write_tiles``, the seed path's
writer, inside ``sinks.persisted``: the tiles and the lineage (both
tagged ``_batch``) read one encode, and the sink's manifest gains one
record per non-empty micro-batch. A tile rewritten by a later batch
is appended again, so the sum of the records' ``n_tiles`` counts
appended rows, rewrites included, not distinct tiles.

Correctness invariant (tested): after any sequence of micro-batches,
``read_current(sink)`` is BYTE-IDENTICAL to a from-scratch batch build
over the cumulative corpus — incremental maintenance is exactly a
work-skipping optimization, never a semantic change. A tile touched by
two racing batches converges because the later batch re-reads the
cumulative corpus and its higher ``_batch`` wins at read time.

Scale posture: per-batch work is (one cumulative scan — prunable to
affected coarse cells under Iceberg partition stats) + (encode of
affected tiles only); the affected-key set is batch-sized, never
corpus-sized, so the semi-join broadcast in build_tiles holds. The
versioned sink is the merge-on-read pattern; compaction = rewriting a
z-partition keeping max-_batch rows (same as Iceberg MoR compaction).

Checkpointing: the stream's file-source checkpoint (exactly-once file
accounting) replaces the batch path's manifest anti-join; killing and
re-invoking stream_tiles with the same checkpoint dir resumes without
reprocessing finished batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import tiling
from ..plans import pipeline
from ..sources import sinks


def affected_tiles(spark: SparkSession, new_docs: DataFrame, sf_dir: str,
                   zooms) -> DataFrame:
    """(z, x, y) keys the new documents touch — the same buffered
    fan-out predicate the encode uses, but keys only (no payload, no
    encode): pure column math ending in a distinct."""
    pts = pipeline.point_features(spark, sf_dir, docs=new_docs)
    fanned = tiling.assign_point_tiles(pts, list(zooms))
    return fanned.select("z", "x", "y").distinct()


def read_current(spark: SparkSession, out_path: str) -> DataFrame:
    """Latest-wins view of the versioned sink: one row per (z, x, y),
    from the highest ``_batch`` that wrote it (merge-on-read)."""
    t = spark.read.parquet(f"{out_path}/tiles")
    w = Window.partitionBy("z", "x", "y").orderBy(F.desc("_batch"))
    return (t.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1).drop("_rk", "_batch"))


def stream_tiles(spark: SparkSession, input_dir: str, sf_dir: str,
                 out_path: str, zooms, checkpoint_dir: str):
    """Run the incremental maintenance stream over a document directory
    until all currently-available files are processed (availableNow
    trigger; call again as new files land, or swap the trigger for a
    continuous deployment). Returns after awaitTermination."""
    schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        keys = affected_tiles(spark, batch_df, sf_dir, zooms)
        if batch_id == 0:
            # bootstrap: static polygon layers touch tiles no document
            # ever will (polygon-only tiles); build them once in the
            # first batch — later batches re-encode a tile's polygon
            # content only when a document touches that tile
            polys = pipeline.polygon_features(spark, sf_dir)
            pkeys = tiling.assign_bbox_tiles(polys, list(zooms)) \
                .select("z", "x", "y").distinct()
            keys = keys.unionByName(pkeys).distinct()
        cumulative = spark.read.parquet(input_dir)
        metrics, tiles = pipeline.build_tiles(
            spark, sf_dir, zooms=list(zooms), docs=cumulative,
            tile_filter=keys)
        tag = F.lit(int(batch_id))
        with sinks.persisted(metrics):
            sinks.write_tiles(tiles.withColumn("_batch", tag),
                              metrics.withColumn("_batch", tag), out_path)

    q = (stream.writeStream.foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q
