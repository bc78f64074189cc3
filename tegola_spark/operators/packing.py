"""Sequence packing — assign documents to fixed-token-budget training
bins, and the distributed prefix-sum that powers it.

Training pipelines pack documents into fixed-size token bins
(e.g. 4096-token sequences).  The deterministic contract is: order
documents by a stable key, compute each document's global token
OFFSET (exclusive prefix sum), and assign it to
``bin = offset // budget``.  The semantics are a single global
running sum — but a naive global window (``ORDER BY`` over
everything) collapses to ONE partition in Spark, which is exactly the
anti-pattern this module avoids.

Distributed prefix-sum, the classic two-level scheme:

1. ``repartitionByRange(key)`` so partition p holds a contiguous key
   range (Spark's range partitioner samples split points; the VALUES
   in each partition are deterministic even though the BOUNDARIES are
   sampled).
2. partition-local running sums via ``spark_partition_id`` +
   a window within the partition (sorted, spillable, no cross-talk).
3. the per-partition TOTALS (one row per partition — the only
   driver-sized data) are collected, turned into exclusive partition
   offsets, and broadcast back as a tiny map join.

The result is bit-equal to the single-partition window at ANY
partition count (tested), which is what makes it safe at 10^12 rows:
nothing global ever materializes except the partition-count-sized
offset table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prefix_sum(df: DataFrame) -> DataFrame:
    """Exclusive prefix sum of ``n_tokens`` in ``doc_id`` order —
    ``token_offset`` = sum of the tokens of all STRICTLY-smaller ids.
    Ids must be unique (they order the rows)."""
    part = df.repartitionByRange(F.col("doc_id"))
    part = part.withColumn("_pid", F.spark_partition_id())
    w = (Window.partitionBy("_pid").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    local = part.withColumn("_local", F.coalesce(
        F.sum(F.col("n_tokens").cast("long")).over(w), F.lit(0)))
    # one row per partition: the only driver-sized materialization
    totals = (local.groupBy("_pid")
              .agg(F.sum(F.col("n_tokens").cast("long")).alias("_tot"))
              .collect())
    totals = sorted((r["_pid"], r["_tot"]) for r in totals)
    offsets, acc = {}, 0
    for pid, tot in totals:
        offsets[pid] = acc
        acc += tot
    off_df = F.broadcast(
        local.sparkSession.createDataFrame(
            [(p, o) for p, o in offsets.items()], "_pid int, _poff long"))
    return (local.join(off_df, "_pid")
            .withColumn("token_offset", (F.col("_poff") + F.col("_local")).cast("long"))
            .drop("_pid", "_local", "_poff"))


def pack_bins(df: DataFrame, budget: int) -> DataFrame:
    """Assign each document to ``bin_id = offset // budget`` with its
    position inside the bin, the offset summing ``n_tokens`` in
    ``doc_id`` order.  Contiguous greedy packing: documents
    stay in key order, a document whose tokens straddle a boundary
    belongs to the bin where it starts (training-side splitting is a
    reader concern)."""
    out = prefix_sum(df)
    b = int(budget)
    return (out.withColumn("bin_id", F.expr(f"token_offset DIV {b}"))
            .withColumn("bin_offset",
                        (F.col("token_offset") % b).cast("long")))


def pack_sequences(df: DataFrame, budget: int) -> DataFrame:
    """Materialize the packed training sequences: every bin's
    documents (``doc_id``, ``n_tokens``, ``text``) concatenated in
    ``doc_id`` order with the ``<|eod|>`` separator.

    Returns (bin_id, n_docs, bin_tokens, seq_md5) — the md5 of the
    concatenated text stands in for the sequence bytes so verification
    never ships bin-sized strings around.

    100 TB posture: one exchange on bin_id after the prefix-sum;
    collect_list + sort_array is bounded by the token budget (a bin
    holds at most ~budget tokens of text by construction), so per-group
    state is O(budget), not corpus-sized.
    """
    binned = pack_bins(df, budget)
    parts = F.sort_array(F.collect_list(
        F.struct(F.col("doc_id").alias("k"), F.col("text").alias("t"))))
    return (binned.groupBy("bin_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("n_tokens").cast("long")).alias("bin_tokens"),
                 parts.alias("_p"))
            .select("bin_id", "n_docs", "bin_tokens",
                    F.md5(F.concat_ws(
                        "<|eod|>", F.transform(F.col("_p"), lambda s: s["t"]))
                        .cast("binary")).alias("seq_md5")))
