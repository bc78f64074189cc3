"""Streaming exact deduplication under Structured Streaming (§2.12
engine-extra; the batch twin is the oracle-green ``dedup_exact``
driver entry).

An ingestion stream (crawl output landing continuously) must drop
repeat documents ONLINE, without re-scanning the corpus per batch.
``stream_exact_dedup`` keys each document by the md5 of its text — the
same 16-byte key the batch dedup shuffles on — and applies
``dropDuplicatesWithinWatermark``: the first arrival of a key passes
through, later arrivals inside the watermark horizon are dropped, and
state for keys older than the horizon is evicted.

The watermark bound is the documented semantic difference from the
batch twin: a duplicate arriving LATER than the horizon after its
original is treated as new (its state has been evicted). Batch dedup
sees all data and keeps exactly one copy globally; the stream trades
that for bounded state — O(keys inside the horizon), independent of
stream length — which is what makes it runnable forever at ingest
scale. Exactly-once file accounting comes from the checkpointed file
source, as in streaming/live.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_exact_dedup(docs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """First-arrival-wins exact dedup on md5(text) with
    watermark-bounded state. Works on batch frames too (falls back to
    plain dropDuplicates semantics over the same key) so the twin
    comparison runs the identical expression tree."""
    keyed = docs.withColumn(
        "text_hash", F.md5(F.col("text").cast("binary")))
    if keyed.isStreaming:
        keyed = keyed.withWatermark("ts", watermark)
        return keyed.dropDuplicatesWithinWatermark(["text_hash"])
    return keyed.dropDuplicates(["text_hash"])


def stream_dedup_files(spark, input_dir: str, checkpoint_dir: str,
                       query_name: str = "dedupsink",
                       out_dir: str | None = None):
    """Run the streaming dedup over the document files currently in
    ``input_dir`` (availableNow, one file per micro-batch so the
    watermark advances between files and state eviction is observable).
    Append-mode parquet sink at ``out_dir`` (checkpoint-resumable) or
    the in-memory table ``query_name``. Returns after awaitTermination.
    """
    schema = spark.read.parquet(input_dir).schema
    docs = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir))
    writer = (stream_exact_dedup(docs, watermark="30 minutes")
              .writeStream.outputMode("append")
              .option("checkpointLocation", checkpoint_dir)
              .trigger(availableNow=True))
    if out_dir is not None:
        q = writer.format("parquet").option("path", out_dir).start()
    else:
        q = writer.format("memory").queryName(query_name).start()
    q.awaitTermination()
    return q
