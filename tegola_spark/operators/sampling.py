"""Deterministic stratified sampling and split assignment — the
dataset-mixing step of a training-data pipeline.

Mixing weights ("keep 90% of English, 10% of Spanish, 5% of the rest")
must be REPRODUCIBLE across reruns, retries, and engines, so the
sample decision is a pure function of (salt, doc_id): a salted md5
bucket in [0, RESOLUTION), compared against a per-stratum integer
threshold.  No RNG state, no ``df.sample`` (whose output depends on
partitioning), no driver coordination — the predicate is a column
expression, fully pushable and shuffle-free.

Rates are converted to integer thresholds ON THE DRIVER
(``round(rate * RESOLUTION)``) so an engine replaying the logic (the
DuckDB oracle, a downstream audit) compares the same exact integers
— float literals like 0.9 are not exactly representable and
DECIMAL-vs-DOUBLE literal semantics differ between engines.

100 TB posture: one narrow projection + filter, no shuffle, no UDF;
Catalyst pushes the md5/conv expressions into the scan stage.  The
same bucket with a different salt yields an independent split
(train/holdout), so sampling and splitting compose without
correlation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RESOLUTION = 1_000_000
DSIR_BUCKETS = 8192  # hashed-unigram buckets of dsir_select
# split_and_shuffle's split fractions, in assignment order
SPLITS = {"train": 0.98, "valid": 0.01, "test": 0.01}
HOLDOUT_RATE = 0.1   # assign_split's holdout share


def sample_bucket_col(id_col: Column, salt: str) -> Column:
    """Deterministic bucket in [0, RESOLUTION): first 12 hex digits
    (48 bits) of md5(salt || id) mod RESOLUTION.  Portable: Spark and
    DuckDB produce byte-identical md5 over the same UTF-8 bytes (same
    trick as dedup.simhash_portable)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), id_col.cast("string")).cast("binary")),
            1, 12),
        16, 10).cast("long")
    return h % F.lit(RESOLUTION)


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.0) -> DataFrame:
    """Keep each row iff its deterministic bucket falls under the
    stratum's threshold.  ``rates`` maps stratum value -> keep
    fraction in [0, 1]; strata absent from the map use
    ``default_rate``.  Strata are ``lang`` values and the bucket is
    salted over ``doc_id``; it rides along in ``sample_bucket`` for
    auditability."""
    thresholds = {k: int(round(v * RESOLUTION)) for k, v in rates.items()}
    default_thr = int(round(default_rate * RESOLUTION))
    if thresholds:
        thr = reduce(
            lambda acc, kv: acc.when(F.col("lang") == kv[0], F.lit(kv[1])),
            sorted(thresholds.items()),
            F).otherwise(F.lit(default_thr))
    else:
        thr = F.lit(default_thr)
    out = df.withColumn("sample_bucket",
                        sample_bucket_col(F.col("doc_id"), "mix-v1"))
    return out.where(F.col("sample_bucket") < thr)


def assign_split(df: DataFrame) -> DataFrame:
    """Deterministic train/holdout labeling via an independently
    salted bucket (uncorrelated with any sampling salt): a
    ``HOLDOUT_RATE`` share of rows is labeled holdout."""
    thr = int(round(HOLDOUT_RATE * RESOLUTION))
    b = sample_bucket_col(F.col("doc_id"), "split-v1")
    return df.withColumn(
        "split", F.when(b < F.lit(thr), F.lit("holdout")).otherwise(F.lit("train")))


def mixture_sample(df: DataFrame, weights: dict[str, float],
                   default_weight: float = 1.0) -> DataFrame:
    """Weighted mixture up/down-sampling — the epoch-weighting step of
    dataset mixing (e.g. "2.25 epochs of wiki, 0.5 of common crawl").

    Each row is emitted ``floor(w)`` times, plus one more iff its
    deterministic bucket falls under ``frac(w) * RESOLUTION`` — so a
    weight of 2.25 repeats every row twice and a deterministic 25%
    of rows a third time, and a weight of 0.5 keeps a deterministic
    half.  Expected multiplicity is exactly ``w`` per stratum with
    zero RNG state; reruns, retries and other engines reproduce the
    same copies.  Strata are ``source`` values.  Output adds
    ``copy_id`` (0..n_copies-1) so
    downstream shuffles can decorrelate the copies.

    Like :func:`stratified_sample`, thresholds are integerized on the
    driver and the whole decision is a column expression: no shuffle,
    no UDF, and the fan-out happens in the scan stage's partitioning
    (map-only at any scale).
    """
    parts = {k: (int(w), int(round((w - int(w)) * RESOLUTION)))
             for k, w in weights.items()}
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be >= 0")
    d_base, d_frac = (int(default_weight),
                      int(round((default_weight - int(default_weight))
                                * RESOLUTION)))
    base = reduce(
        lambda acc, kv: acc.when(F.col("source") == kv[0], F.lit(kv[1][0])),
        sorted(parts.items()), F).otherwise(F.lit(d_base)) \
        if parts else F.lit(d_base)
    frac = reduce(
        lambda acc, kv: acc.when(F.col("source") == kv[0], F.lit(kv[1][1])),
        sorted(parts.items()), F).otherwise(F.lit(d_frac)) \
        if parts else F.lit(d_frac)
    bucket = sample_bucket_col(F.col("doc_id"), "mixture-v1")
    n_copies = base + (bucket < frac).cast("int")
    copies = F.when(n_copies > 0,
                    F.sequence(F.lit(0), n_copies - 1)).otherwise(
        F.array().cast("array<int>"))
    return df.withColumn("copy_id", F.explode(copies))


def split_and_shuffle(df) -> DataFrame:
    """Deterministic multi-way split + global shuffle key — the last
    mile of a training-data pipeline: carve train/valid/test and give
    every row a reproducible pseudo-random ORDER for training-time
    shuffling, with zero RNG state.

    ``SPLITS`` maps name -> fraction (summing to <= 1; any remainder
    falls into the LAST split listed). Assignment compares the salted
    md5 bucket against cumulative integer thresholds (integerized on
    the driver, same rationale as :func:`stratified_sample`).
    ``shuffle_key`` is the full 48-bit bucket under an independent
    salt: sorting by it is a deterministic permutation uncorrelated
    with the split, ids, or content — any engine (and any rerun)
    reproduces the same epoch order.

    100 TB posture: pure column expressions, no shuffle, no UDF — the
    split predicate pushes into the scan; the global sort by
    shuffle_key is the consumer's choice (range partition on the key
    gives a balanced, skew-free sort because md5 is uniform).
    """
    names = list(SPLITS)
    cum, edges = 0, []
    for name in names[:-1]:
        cum += int(round(SPLITS[name] * RESOLUTION))
        edges.append((name, cum))
    b = sample_bucket_col(F.col("doc_id"), "split3-v1")
    expr = F
    for name, edge in edges:
        expr = expr.when(F.col("split_bucket") < edge, F.lit(name))
    split = expr.otherwise(F.lit(names[-1]))
    shuffle_key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shuffle-v1"),
                           F.col("doc_id").cast("string")).cast("binary")),
            1, 12),
        16, 10).cast("long")
    return (df.withColumn("split_bucket", b)
            .select(F.col("doc_id"), "split_bucket", split.alias("split"),
                    shuffle_key.alias("shuffle_key")))


def exact_k_per_stratum(df, k: int) -> DataFrame:
    """Exactly min(k, n) rows per stratum, chosen by salted-hash order
    — the distributed, deterministic replacement for reservoir
    sampling (whose result depends on encounter order, i.e. on
    partitioning). Every row's priority is the full 48-bit salted md5
    bucket; the k smallest priorities win, ties broken by id.

    Returns (strata, doc_id, sample_rank), rank 1..k.

    100 TB posture: the rank window pushes a per-partition top-k
    BEFORE the exchange (WindowGroupLimit), so at most k rows per
    stratum per partition cross the wire — no stratum-sized
    materialization anywhere, unlike reservoir merges.
    """
    pri = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("exactk-v1"),
                           F.col("doc_id").cast("string")).cast("binary")),
            1, 12),
        16, 10).cast("long")
    from pyspark.sql import Window
    w = Window.partitionBy("lang").orderBy(F.col("_pri"), F.col("doc_id"))
    return (df.select(F.col("lang"), F.col("doc_id"), pri.alias("_pri"))
            .withColumn("sample_rank", F.row_number().over(w).cast("int"))
            .where(F.col("sample_rank") <= k)
            .select("lang", "doc_id", "sample_rank"))


def dsir_select(df: DataFrame, k: int) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023):
    rank raw documents by how target-like they are under hashed n-gram
    importance weights, and keep the top ``k``.

    The target is ``lang == 'en'``.  Features are hashed unigrams of
    ``text`` — each token maps to one of ``DSIR_BUCKETS`` buckets via
    the repo's portable salted-md5 hash — and a document's log importance weight is

        Σ_tokens [ ln((ct[b]+1)/(Nt+B)) - ln((cr[b]+1)/(Nr+B)) ]

    (add-1-smoothed bucket LMs of the target resp. raw distribution),
    quantized to integer micro-nats PER BUCKET, so the per-doc sum is
    exact int64 and selection order is engine-independent.  Selection
    is deterministic top-k by (weight, id) — the systematic variant of
    DSIR's Gumbel resampling (zero RNG, reproducible).

    100 TB posture: both bucket tables are ≤``DSIR_BUCKETS`` rows no
    matter the corpus (map-side partial agg collapses each task to
    ≤DSIR_BUCKETS rows), broadcast back to the token stream; the per-doc
    reduce is a partial-agg groupBy; top-k is TakeOrdered (per-partition
    k then driver merge of k-sized lists), never a global sort.
    """
    toks = (df.select(F.col("doc_id"),
                      (F.col("lang") == "en").alias("_is_tgt"),
                      F.explode(F.split(F.col("text"), " ")).alias("w"))
            .where(F.col("w") != ""))
    b = (sample_bucket_col(F.col("w"), salt="dsir-v1") % DSIR_BUCKETS).alias("b")
    toks = toks.select("doc_id", "_is_tgt", b)

    cr = toks.groupBy("b").agg(F.count("*").alias("nr"))
    ct = toks.where("_is_tgt").groupBy("b").agg(F.count("*").alias("nt"))
    table = (cr.join(ct, "b", "left")
             .select("b", "nr", F.coalesce("nt", F.lit(0)).alias("nt")))
    tot = table.agg(F.sum("nr").alias("_nr_tot"),
                    F.sum("nt").alias("_nt_tot"))
    lw = (table.crossJoin(F.broadcast(tot))
          .select(
              "b",
              F.floor(
                  (F.log((F.col("nt") + F.lit(1)).cast("double")
                         / (F.col("_nt_tot") + F.lit(DSIR_BUCKETS))
                         .cast("double"))
                   - F.log((F.col("nr") + F.lit(1)).cast("double")
                           / (F.col("_nr_tot") + F.lit(DSIR_BUCKETS))
                           .cast("double"))) * 1e6 + 0.5)
              .cast("long").alias("lw_micro")))
    per_doc = (toks.join(F.broadcast(lw), "b")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tokens"),
                    F.sum("lw_micro").alias("lw_micro_sum")))
    return (per_doc
            .orderBy(F.col("lw_micro_sum").desc(), F.col("doc_id"))
            .limit(k))


def proportional_quota(df: DataFrame, total: int) -> DataFrame:
    """Exact proportional budget allocation across groups — the
    domain-balanced subsampling quota: split ``total`` sampling slots
    across domains proportionally to their document counts so that the
    quotas SUM EXACTLY to ``total`` (largest-remainder / Hamilton
    apportionment, all integer arithmetic).

        base_g = total * n_g div N,  rem_g = total * n_g mod N
        leftover R = total - Σ base_g  (0 <= R < #groups)
        quota_g = base_g + 1 for the R largest remainders
                  (ties broken by key), else base_g

    The per-group table this ranks is GROUP-sized (domains), not
    corpus-sized; the global remainder rank uses one window — at 10^7+
    hosts swap it for stats.global_quantile's range-repartitioned rank
    machinery (same contract, no single-partition sort).  Downstream,
    ``exact_k_sample`` consumes the quotas as per-stratum k's.
    """
    total = int(total)
    counts = df.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("_N"))
    c = (counts.crossJoin(F.broadcast(tot))
         .select("source", "n_docs",
                 F.expr(f"({total} * n_docs) div _N").alias("_base"),
                 F.expr(f"({total} * n_docs) % _N").alias("_rem")))
    leftover = c.crossJoin(
        F.broadcast(c.agg((F.lit(total) - F.sum("_base")).alias("_R"))))
    w = Window.orderBy(F.col("_rem").desc(), F.col("source"))
    return (leftover
            .withColumn("_rank", F.row_number().over(w))
            .select("source", "n_docs",
                    (F.col("_base")
                     + F.when(F.col("_rank") <= F.col("_R"), 1).otherwise(0))
                    .cast("long").alias("quota")))
