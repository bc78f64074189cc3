"""Deterministic, engine-portable HyperLogLog distinct sketch.

Spark's own ``approx_count_distinct`` is an HLL++ whose registers are
not reproducible outside the JVM, so it can never sit under this
repo's DuckDB hash gate. This HLL is built from portable primitives —
md5 bucketing, base-conversion leading-zero counts, exact power-of-two
integer register sums — so ANY engine replays it bit-for-bit, while
keeping the properties that make HLL the 100 TB distinct-count tool:
fixed 256-register state per group (2 KB), map-side partial
aggregation (max per register commutes), one shuffle on
(group, bucket) then one group-sized fold.

Determinism details (the parts stock HLL implementations leave
float-order-dependent):

  * rho is computed by INTEGER string length — 53 - length(bin(tail)),
    never floor(log2(x)) whose libm ulp can flip the floor;
  * the harmonic denominator sum(2^-r) is scaled by 2^53 and summed as
    EXACT BIGINTs (max 256 terms * 2^52 < 2^61), so accumulation order
    cannot round — the only float ops are one division and (in the
    small-range branch) one ln, absorbed by round(.., 6).

Standard HLL bias constant alpha_256 = 0.7213/(1 + 1.079/256)
(Flajolet et al. 2007); linear-counting fallback below 2.5*m with
empty registers present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_M = 256            # registers; bucket = first md5 byte
_TAIL_BITS = 52     # 13 hex chars — fits a BIGINT exactly
CMS_DEPTH = 4       # count-min rows
CMS_WIDTH = 1024    # count-min counters per row


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HLL distinct estimate of ``value_col``. Returns
    (group_col, n_registers, ``hll_est``) with the estimate rounded to
    6 decimals (the one permitted float-divergence absorber)."""
    h = F.md5(F.col(value_col).cast("string").cast("binary"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    tail_bin = F.conv(F.substring(h, 3, 13), 16, 2)
    rho = (F.when(tail_bin == "0", F.lit(_TAIL_BITS + 1))
            .otherwise(F.lit(_TAIL_BITS + 1) - F.length(tail_bin)))
    reg = (df.select(F.col(group_col), bucket.alias("_bucket"),
                     rho.alias("_rho"))
             .groupBy(group_col, "_bucket")
             .agg(F.max("_rho").alias("_r")))
    per = reg.groupBy(group_col).agg(
        F.count("*").alias("n_registers"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - _r)")).alias("_sum_inv"))
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    v = F.lit(_M) - F.col("n_registers")
    # empty registers hold 0 -> each contributes 2^-0 = 1 (scaled 2^53)
    # to the harmonic sum; total stays an exact BIGINT (< 2^62).
    full_sum = (F.col("_sum_inv")
                + v.cast("long") * F.lit(9007199254740992).cast("long"))
    raw_e = (alpha * F.lit(65536.0) * F.lit(9007199254740992.0)
             / full_sum.cast("double"))
    est = F.when((raw_e <= F.lit(2.5 * _M)) & (v > 0),
                 F.lit(256.0) * F.log(F.lit(256.0) / v.cast("double"))
                 ).otherwise(raw_e)
    return per.select(group_col, "n_registers",
                      F.round(est, 6).alias("hll_est"))


def cms_heavy_hitters(df: DataFrame, k: int = 20) -> DataFrame:
    """Count-min-sketch heavy hitters over the ``text`` tokens — the
    HLL's sibling for FREQUENCY: the sketch state is CMS_DEPTH x
    CMS_WIDTH int64 counters (32 KB), built with one map-side-combined
    exchange whose key space is the counter grid, never the vocab.
    Like the HLL, every primitive is engine-portable (md5 row-salted
    buckets, integer sums, min over the rows), so DuckDB replays the
    sketch AND the estimates bit-for-bit.

    Returns the top-k tokens by CMS estimate with their exact counts
    riding along (rank, word, cms_est, exact_n) — est >= exact always
    (one-sided collision error), equality for tokens with
    collision-free rows; rank ties break (est desc, word asc).

    Candidate enumeration here walks the exact vocabulary so the
    oracle can check every estimate; in a pure-sketch deployment the
    candidate set comes from per-partition heavy-keepers (or a probe
    list) and the SKETCH is the only corpus-wide state — that is the
    part this entry proves portable. The sketch is mergeable by
    elementwise +, so per-shard sketches combine without re-reading
    text (the same posture as the HLL register max).
    """
    rows = F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    words = (df.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
               .where(F.col("word") != ""))

    def bucket(r_col, word_col):
        return F.conv(F.substring(F.md5(
            F.concat(F.lit("cms-v1"), r_col.cast("string"), F.lit(":"),
                     word_col).cast("binary")), 1, 8),
            16, 10).cast("long") % F.lit(CMS_WIDTH)

    wr = words.select("word", F.explode(rows).alias("r"))
    sketch = (wr.groupBy("r", bucket(F.col("r"), F.col("word")).alias("b"))
                .agg(F.count("*").alias("cnt")))
    vocab = words.groupBy("word").agg(F.count("*").alias("exact_n"))
    cand = (vocab.select("word", "exact_n", F.explode(rows).alias("r"))
            .withColumn("b", bucket(F.col("r"), F.col("word")))
            .join(F.broadcast(sketch), ["r", "b"])
            .groupBy("word")
            .agg(F.first("exact_n").alias("exact_n"),
                 F.min("cnt").alias("cms_est")))
    top = cand.orderBy(F.desc("cms_est"), "word").limit(k)
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("cms_est"), "word")
    return top.withColumn("rank", F.row_number().over(w).cast("int")) \
              .select("rank", "word", "cms_est", "exact_n")
