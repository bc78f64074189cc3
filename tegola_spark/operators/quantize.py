"""Scalar int8 embedding quantization (SQ8) + asymmetric-distance
top-k — the memory-reduction companion to the IVF/LSH ANN family.

At 10^12 embeddings the float32 corpus dominates storage; FAISS-style
SQ8 stores one int8 per dimension plus a per-vector scale (4x-8x
smaller), and queries run Asymmetric Distance Computation: the QUERY
stays full precision, candidates are dequantized on the fly
(q_i * scale).  Everything here is pure column expressions —
quantization is a higher-order ``transform`` over the embedding
array, the ADC dot product is the same sequential ``aggregate`` fold
the LSH/IVF oracle entries proved replayable bit-for-bit in SQL.

Determinism notes (the cross-engine contract):
- scale = max(|v_i|) / 127 — a max plus ONE division, no accumulation
  order to disagree on;
- q_i = floor(v_i / scale + 0.5) — explicit floor(x+0.5) instead of
  round() because engines disagree on round-half semantics, floor
  does not;
- dequantized products promote int -> double explicitly on both
  engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sq8_quantize(emb: DataFrame) -> DataFrame:
    """(id, scale, q8): per-vector symmetric int8 quantization."""
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.aggregate(e, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x)))
    df = emb.select(F.col("vec_id"), e.alias("_e"), (amax / 127.0).alias("scale"))
    q = F.when(
        F.col("scale") > 0,
        F.transform(F.col("_e"),
                    lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"))
    ).otherwise(F.transform(F.col("_e"), lambda x: F.lit(0)))
    return df.select("vec_id", "scale", q.alias("q8"))


def _seq_dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def sq8_topk(emb: DataFrame, query_ids, k: int = 5) -> DataFrame:
    """Asymmetric cosine top-k: full-precision queries against the
    SQ8-dequantized corpus. Output matches brute_force_topk:
    (query_id, rank, neighbor_id, score_r6)."""
    qt = sq8_quantize(emb)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    queries = (emb.where(F.col("vec_id").isin(list(query_ids)))
               .select(F.col("vec_id").alias("query_id"), e.alias("qemb")))
    queries = queries.withColumn(
        "qnorm", F.sqrt(_seq_dot(F.col("qemb"), F.col("qemb"))))

    dq = F.transform(
        F.col("q8"), lambda qi: qi.cast("double") * F.col("scale"))
    cand = (qt.withColumn("dq", dq)
            .crossJoin(F.broadcast(queries))
            .where(F.col("vec_id") != F.col("query_id")))
    nnorm = F.sqrt(_seq_dot(F.col("dq"), F.col("dq")))
    score = (_seq_dot(F.col("dq"), F.col("qemb"))
             / (F.col("qnorm") * nnorm)).alias("score")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id"))
    return (cand.select("query_id", F.col("vec_id").alias("neighbor_id"), score)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("score", 6).alias("score_r6")))
