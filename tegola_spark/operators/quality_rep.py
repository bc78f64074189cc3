"""Repetition-based quality filtering (Gopher-style rules).

The quality heuristics in ``textstats.quality_columns`` are per-row
column expressions (length/punctuation/stopword ratios).  The
repetition family — "what fraction of the document is the same phrase
over and over" — published with Gopher (Rae et al. 2021, "Scaling
Language Models", §A1.1) needs per-document n-gram STATISTICS, which
is a different Spark shape:

- ``dup_trigram_frac``: 1 − distinct/total word trigrams.  Computable
  row-local with array expressions (``array_distinct``/``size``) —
  stays in whole-stage codegen, no shuffle.
- ``top_bigram_frac``: share of the document's bigrams taken by its
  single most frequent bigram (the mode).  A row-local SQL mode over
  an array is O(n²) per row, so instead it is the idiomatic
  distributed plan: explode → groupBy(doc, bigram) count (map-side
  partial agg) → max-per-doc.  At 100 TB this is exactly the
  two-stage word-count shape Spark optimizes best; the groupBy key
  (doc_id, bigram) is high-cardinality and skew-free by construction.

Thresholds follow the published Gopher cuts (documents are dropped
when dup_trigram_frac > 0.30 or top_bigram_frac > 0.18 — the paper's
"duplicate 3-gram character fraction" and "top 2-gram fraction"
analogs over word counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DUP_TRIGRAM_MAX = 0.30
TOP_BIGRAM_MAX = 0.18


def _words(c):
    return F.split(F.trim(c), r"\s+")


def _grams(w, n: int):
    # non-distinct n-gram list: positions 0..len-n joined with spaces.
    # Guarded: Spark's sequence(0, stop) DESCENDS when stop < 0, so
    # short docs must short-circuit to an empty list.
    idx = F.sequence(F.lit(0), F.size(w) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int"))
                   for j in range(n)]))
    return F.when(F.size(w) >= n, grams) \
            .otherwise(F.array().cast("array<string>"))


def repetition_scores(df: DataFrame) -> DataFrame:
    """Per-document repetition statistics + the Gopher keep decision.

    Columns: n_trigrams, dup_trigram_frac, top_bigram_count,
    top_bigram_frac (all deterministic; fractions rounded to 6 places
    so independent engines compare equal), keep boolean.
    """
    w = _words(F.col("text"))
    tri = _grams(w, 3)
    base = df.select(
        F.col("doc_id"),
        F.size(tri).cast("long").alias("n_trigrams"),
        F.round(
            F.when(F.size(tri) > 0,
                   1.0 - F.size(F.array_distinct(tri)) / F.size(tri))
            .otherwise(F.lit(0.0)), 6).alias("dup_trigram_frac"),
        _grams(w, 2).alias("_bi"))

    # distributed mode-of-bigrams: word-count shape with map-side
    # partial aggregation; ties don't matter (only the max count is
    # kept)
    counts = (base.select("doc_id", F.explode("_bi").alias("bg"))
              .groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c")))
    top = counts.groupBy("doc_id").agg(F.max("c").alias("top_bigram_count"))

    out = (base.drop("_bi")
           .join(top, "doc_id", "left")
           .withColumn("top_bigram_count",
                       F.coalesce("top_bigram_count", F.lit(0)).cast("long"))
           .withColumn(
               "top_bigram_frac",
               F.round(
                   F.when(F.col("n_trigrams") + 1 > 0,
                          F.col("top_bigram_count")
                          / (F.col("n_trigrams") + 1))
                   .otherwise(F.lit(0.0)), 6)))
    return out.withColumn(
        "keep",
        (F.col("dup_trigram_frac") <= DUP_TRIGRAM_MAX)
        & (F.col("top_bigram_frac") <= TOP_BIGRAM_MAX))
