"""Watermarked event-time windowed aggregation under Structured
Streaming (§2.12 engine-extra; the batch twin is the oracle-green
``event_windows`` driver entry).

``stream_event_windows`` is the SAME aggregation shape as the batch
query — tumbling event-time windows per event kind — run from a
file-source stream with a watermark: append mode emits a window only
once the watermark (max observed event time minus the lateness bound)
passes the window end, and events arriving LATER than the bound for an
already-finalized window are dropped instead of corrupting emitted
results. That drop is the documented, tested difference from the
batch twin (which sees all data and counts everything).

Scale posture: windowed streaming aggregation state is bounded by the
watermark horizon (windows past it are evicted), so state size is
O(active windows x kinds), independent of stream length; the file
source checkpoints exactly-once file accounting like streaming/live.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def windowed_counts(ev: DataFrame, watermark: str | None = None) -> DataFrame:
    """Tumbling one-hour event-time windows per kind; with
    ``watermark`` set the plan is streamable in append mode."""
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "kind")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 6).alias("value_sum"))
        .select(F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                "kind", "n_events", "value_sum")
    )


def stream_event_windows(spark: SparkSession, input_dir: str,
                         checkpoint_dir: str, query_name: str = "windows",
                         out_dir: str | None = None):
    """Run the watermarked windowed aggregation over the event files
    currently in ``input_dir`` (availableNow; one file per micro-batch
    so the watermark advances BETWEEN files, which is what makes
    late-data semantics observable in a test). Finalized windows emit
    append-mode to a parquet sink at ``out_dir`` (supports checkpoint
    resume — the deployment shape) or, when ``out_dir`` is None, to
    the in-memory table ``query_name`` (inspection only; the memory
    sink cannot recover a checkpoint). Returns after awaitTermination."""
    schema = spark.read.parquet(input_dir).schema
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(input_dir))
    writer = (windowed_counts(ev, watermark="30 minutes")
              .writeStream.outputMode("append")
              .option("checkpointLocation", checkpoint_dir)
              .trigger(availableNow=True))
    if out_dir is not None:
        q = writer.format("parquet").option("path", out_dir).start()
    else:
        q = writer.format("memory").queryName(query_name).start()
    q.awaitTermination()
    return q
