"""Deduplication operators for the web corpus (training-data pipeline).

Not part of tegola (it has no text ops); these are the large-scale
corpus operators the engine adds as first-class components:

  * exact dedup           — hash-groupBy on md5(text); map-side partial
                            aggregation, one shuffle on the 16-byte hash
  * normalized dedup      — same after lower/trim/whitespace-collapse
  * MinHash + LSH         — shingle -> minhash signature (vectorized
                            NumPy universal hashing) -> band buckets ->
                            in-bucket candidate pairs with their
                            signature-estimated jaccard. The classic
                            near-dup pipeline (Broder; used by every
                            large LM corpus).
  * SimHash               — 64-bit token-hash sign aggregate
                            (fingerprints per document).

Scale notes: signatures are fixed-size arrays (num_perm * 4 bytes); the
only shuffles are on band-bucket keys (well distributed by
construction). Candidate verification joins text back by id — at 100 TB
that join is the expensive part, so verify against the SIGNATURE
(est_jaccard) first and fetch text only for pairs above threshold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

MERSENNE = (1 << 61) - 1
_SEED = 0x5EED_7E60
NUM_PERM = 64       # minhash signature length
SHINGLE_K = 5       # minhash shingle width, utf-8 bytes
LSH_BANDS = 8       # minhash LSH bands: NUM_PERM // LSH_BANDS rows each
MAX_BUCKET = 4096   # LSH bucket cap of the all-pairs self-join
SPAN_WORDS = 8      # span_dedup chunk width, whitespace words
SIMHASH_BITS = 60   # portable simhash width: 15 hex digits of md5


def _hash_params():
    rng = np.random.default_rng(_SEED)
    a = rng.integers(1, MERSENNE, size=NUM_PERM, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE, size=NUM_PERM, dtype=np.int64).astype(np.uint64)
    return a, b


_POLY_P = np.uint64(1099511628211)  # FNV prime as the polynomial base


def _shingle_hashes(text: str) -> np.ndarray:
    """Distinct SHINGLE_K-byte shingle hashes: polynomial hash over utf-8 bytes,
    fully vectorized (sliding windows via stride tricks x precomputed
    base powers, uint64 wraparound). The per-character Python loop this
    replaced was the corpus-scale bottleneck (16s for 5k docs)."""
    raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = len(raw)
    if n == 0:
        return np.array([np.uint64(0)], dtype=np.uint64)
    k = min(SHINGLE_K, n)
    powers = np.empty(k, dtype=np.uint64)
    powers[k - 1] = 1
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        for i in range(k - 2, -1, -1):
            powers[i] = powers[i + 1] * _POLY_P
    win = np.lib.stride_tricks.sliding_window_view(raw, k).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
        # final avalanche (splitmix64-style) to spread low-entropy sums
        h = h + np.uint64(0x9E3779B97F4A7C15)
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h = h ^ (h >> np.uint64(31))
    return np.unique(h)


def exact_dedup(df: DataFrame) -> DataFrame:
    """Groups by md5(text): (text_hash, keep_id=min(id), dup_count)."""
    return (
        df.select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def normalize_text_col(c):
    """lower + trim + collapse whitespace (shared with the oracle SQL)."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def normalized_dedup(df: DataFrame) -> DataFrame:
    return exact_dedup(
        df.select(normalize_text_col(F.col("text")).alias("text"), "doc_id"))


def minhash_signatures(df: DataFrame) -> DataFrame:
    """doc_id -> minhash signature of ``text`` (array<long> of length
    NUM_PERM over SHINGLE_K-byte shingles)."""
    from ..sources.corpus import spread_scan

    # the signature UDF is the corpus-scale python stage: spread an
    # under-split scan so it runs core-wide instead of single-threaded
    # (round-6; no-op on a properly split table). This was the 12-22 s
    # cold first rep of minhash_pairs in BENCH_r05.
    df = spread_scan(df, "doc_id")
    a, b = _hash_params()

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts.fillna(""):
            sh = _shingle_hashes(t)
            # universal hash: (a*x + b) mod p, min over shingles, vectorized
            vals = (sh[:, None] * a[None, :] + b[None, :]) % np.uint64(MERSENNE)
            out.append(vals.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return df.select(F.col("doc_id").alias("id"), sig(F.col("text")).alias("signature"))


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) of ``doc_id`` with
    estimated jaccard (agreement of ``NUM_PERM``-long signatures over
    ``SHINGLE_K``-byte shingles of ``text``) >= threshold.

    Band geometry: collision probability per band is jaccard^(NUM_PERM/
    LSH_BANDS). Template-heavy web corpora have HIGH baseline jaccard
    between unrelated docs (~0.3 here), so shallow bands explode: at
    r=4 the candidate set hit 50M pairs on a 100k-doc corpus; at r=8
    it is ~1000x smaller while keeping >90% recall at jaccard >= 0.85.
    ``LSH_BANDS`` = 8 (r=8) is that geometry; every output runs it."""
    rows_per_band = NUM_PERM // LSH_BANDS
    sigs = minhash_signatures(df)
    sigs = sigs.cache()

    band_cols = []
    for bi in range(LSH_BANDS):
        sl = F.slice("signature", bi * rows_per_band + 1, rows_per_band)
        band_cols.append(F.struct(F.lit(bi).alias("band"), F.hash(sl).alias("bucket")))
    # IMPORTANT: the bucket join carries ONLY ids. Near-identical docs
    # collide in EVERY band, so a pair can be produced LSH_BANDS times;
    # deduplicating 16-byte id pairs before re-attaching the 0.5 KB
    # signatures cuts the shuffle ~60x (measured: 300s -> seconds on a
    # 20x-replicated corpus).
    exploded = sigs.select("id", F.explode(F.array(*band_cols)).alias("bb")) \
                   .select("id", "bb.band", "bb.bucket")

    # mega-bucket guard: N identical docs collide in every band and a
    # single bucket of N ids is O(N^2) pairs — the one way this join
    # degenerates at corpus scale. Buckets are deterministically capped
    # at MAX_BUCKET ids (lowest kept) for the all-pairs self-join; every CAPPED-OUT id
    # still emits ONE candidate pair against the bucket's min id, so a
    # mega-bucket costs O(N) pairs instead of O(N^2) and no duplicate
    # silently escapes dedup connectivity (each survivor links to the
    # representative, which links to every kept id).
    wb = Window.partitionBy("band", "bucket").orderBy("id")
    ranked = exploded.withColumn("_bk", F.row_number().over(wb))
    overflow_pairs = (
        ranked.withColumn(
            "_min_id", F.min("id").over(Window.partitionBy("band", "bucket")))
        .where(F.col("_bk") > MAX_BUCKET)
        .select(F.col("_min_id").alias("id_a"), F.col("id").alias("id_b"))
    )
    exploded = ranked.where(F.col("_bk") <= MAX_BUCKET).drop("_bk")

    pair_ids = (
        exploded.alias("l").join(exploded.alias("r"), ["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )
    pair_ids = (pair_ids.unionByName(overflow_pairs)
                .dropDuplicates(["id_a", "id_b"]))
    cand = (
        pair_ids
        .join(sigs.select(F.col("id").alias("id_a"),
                          F.col("signature").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"),
                          F.col("signature").alias("sig_b")), "id_b")
    )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    ).cast("double") / F.lit(float(NUM_PERM))
    return (
        cand.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash_fingerprints(df: DataFrame) -> DataFrame:
    """64-bit SimHash over whitespace tokens (FNV token hashes)."""

    from hashlib import blake2b

    from ..sources.corpus import spread_scan

    df = spread_scan(df, "doc_id")  # python stage below: run it core-wide

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        # Batch-vectorized: blake2b runs once per UNIQUE token in the
        # Arrow batch (Zipf dedup — the per-token-per-doc loop this
        # replaced re-hashed "the" thousands of times); the bit
        # accumulation runs as 64 vectorized passes over the whole
        # batch's token stream (no T x 64 matrix materialized).
        # Output is bit-identical to the original per-doc loop.
        texts = texts.fillna("")
        tok_lists = [t.split() for t in texts]
        lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
        out = np.zeros(len(texts), dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        codes, uniques = pd.factorize(
            pd.Series([tok for lst in tok_lists for tok in lst]))
        uh = np.fromiter(
            (int.from_bytes(blake2b(u.encode("utf-8"),
                                    digest_size=8).digest(), "little")
             for u in uniques), dtype=np.uint64, count=len(uniques))
        hs = uh[codes]
        nonempty = lens > 0
        starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        seg = starts[nonempty]
        acc = np.empty((int(nonempty.sum()), 64), dtype=np.int64)
        for b in range(64):
            bits = ((hs >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            acc[:, b] = np.add.reduceat(2 * bits - 1, seg)
        shifts = np.arange(64, dtype=np.uint64)
        fp = ((acc > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64)
        out[nonempty] = fp.view(np.int64)
        return pd.Series(out)

    return df.select(F.col("doc_id").alias("id"), sh(F.col("text")).alias("simhash"))


def simhash_fingerprints_portable(df: DataFrame) -> DataFrame:
    """Cross-engine-reproducible SimHash, pure column expressions (no
    Python anywhere): token hash = the low ``SIMHASH_BITS`` (60) of
    md5(token) — both Spark and DuckDB expose byte-identical md5, and
    60 bits keeps the hex parse inside a signed BIGINT — then the
    classic per-bit majority over ALL tokens (duplicates counted,
    integer sums so aggregation order cannot matter). The blake2b
    variant (:func:`simhash_fingerprints`) stays the throughput path;
    this one exists so an independent SQL engine can recompute every
    fingerprint exactly (the oracle entry `simhash_portable`)."""
    toks = (
        df.select(F.col("doc_id").alias("id"),
                  F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                  .alias("tok"))
        .where(F.col("tok") != "")
        .withColumn("h", F.conv(
            F.substring(F.md5(F.col("tok").cast("binary")), 2,
                        SIMHASH_BITS // 4),
            16, 10).cast("long"))
    )
    aggs = [
        F.sum(F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"_b{b}")
        for b in range(SIMHASH_BITS)
    ]
    per = toks.groupBy("id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"_b{b}") > 0,
                         F.lit(1 << b)).otherwise(F.lit(0))
    out = per.select("id", fp.alias("simhash"))
    base = df.select(F.col("doc_id").alias("id"))
    return base.join(out, "id", "left").select(
        "id", F.coalesce("simhash", F.lit(0)).cast("long").alias("simhash"))


def span_dedup(df: DataFrame, max_df: int | None = None) -> DataFrame:
    """Cross-document span-level dedup / boilerplate removal.

    Splits each document into non-overlapping ``SPAN_WORDS``-word
    chunks and removes duplicated chunks corpus-wide — the
    chunk-granularity form of exact-substring training-data dedup
    (Lee et al. 2022) and, in ``max_df`` mode, the CCNet/C4
    boilerplate rule (drop text repeated across many pages):

      * ``max_df=None`` (dedup mode): keep only the globally FIRST
        occurrence of each distinct chunk, ordered by (doc, position).
      * ``max_df=T`` (boilerplate mode): drop every occurrence of any
        chunk appearing in >= T distinct documents (headers, footers,
        nav text survive nowhere, not even once).

    Returns (id, n_spans, n_kept, text_dedup) — the per-doc chunk
    counts and the surviving text reassembled in original order.

    Scale plan (the reason this isn't the naive explode->window->
    re-agg): only THIN (md5, id, pos) triples ever cross the dedup
    exchange — span text is never exploded across the wire. The keep
    decisions collapse to a doc-count-sized frame of kept-position
    arrays, and the reassembly join recomputes spans from the
    document-side projection, so full text crosses exactly ONE
    exchange (the reassembly sort-merge join) instead of two. The
    dedup exchange itself carries ~40-byte rows regardless of span
    width; map-side partial aggregation applies in max_df mode.
    """
    words = F.split(F.col("text"), " ")
    n_spans_c = F.ceil(F.size(words) / F.lit(float(SPAN_WORDS))).cast("int")
    spans_c = F.transform(
        F.sequence(F.lit(0), n_spans_c - 1),
        lambda i: F.array_join(
            F.slice(words, i * SPAN_WORDS + 1, SPAN_WORDS), " "))
    base = df.select(F.col("doc_id").alias("id"), spans_c.alias("_spans"))
    thin = (base.select("id", F.posexplode("_spans").alias("pos", "_span"))
                .select("id", "pos", F.md5("_span").alias("h")))
    if max_df is None:
        w = Window.partitionBy("h").orderBy("id", "pos")
        decisions = thin.withColumn("keep", F.row_number().over(w) == 1)
    else:
        dfreq = thin.groupBy("h").agg(F.countDistinct("id").alias("_df"))
        decisions = (thin.join(dfreq, "h")
                         .withColumn("keep", F.col("_df") < max_df))
    kept = decisions.groupBy("id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.sort_array(
            F.collect_list(F.when(F.col("keep"), F.col("pos")))
        ).alias("_kept_pos"))
    spans_ref = F.col("_spans")
    return base.join(kept, "id").select(
        "id", "n_spans", "n_kept",
        F.array_join(
            F.transform(F.col("_kept_pos"), lambda p: F.get(spans_ref, p)),
            " ").alias("text_dedup"))


def latest_snapshot(snaps: DataFrame, key_col: str = "url",
                    ts_col: str = "warc_ts") -> DataFrame:
    """CDX-style snapshot collapse: a crawl archive holds many fetches
    of the same URL; training pipelines keep exactly one — the latest
    capture — per URL (the index-server "collapse=urlkey" operation).

    One aggregation, no window: ``max_by`` over the composite
    ``(ts, tie)`` ordering key picks the winning row while the same
    groupBy counts snapshots, so the plan is a single exchange on the
    URL key with map-side partial aggregation — at 10^12 rows each
    task forwards at most one candidate row per URL it sees, vs a
    row_number window that would materialize every snapshot on the
    reducer.  The tie-break column is ``doc_id``, which makes the
    ordering key unique (capture ids are); determinism does not depend
    on encounter order.
    """
    win = F.max_by(
        F.struct(F.col("doc_id").alias("tie"), F.col(ts_col).alias("ts")),
        F.struct(F.col(ts_col), F.col("doc_id")))
    return (snaps.groupBy(key_col)
            .agg(win.alias("_top"), F.count("*").alias("n_snapshots"))
            .select(key_col,
                    F.col("_top.tie").alias("doc_id"),
                    F.col("_top.ts").alias(ts_col),
                    "n_snapshots"))


def edit_distance_verify(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """Second-stage verifier for near-dup candidate pairs: exact
    Levenshtein distance, evaluated ONLY on the candidate set (the
    cascade cheap-sketch -> exact-jaccard -> edit-distance that real
    fuzzy-dedup pipelines run before choosing a cluster survivor).

    Output is all-integer — ``edit_dist``, ``max_len``, and the
    scale-free similarity decision ``5 * dist <= 2 * max_len``
    (edit similarity >= 0.6) — so a second engine replays it with no
    float anywhere.  ``levenshtein`` is JVM-side per pair; cost is
    O(len^2) per CANDIDATE, never per corpus pair, which is the whole
    point of running it after the sketch stages.
    """
    t = df.select(F.col("doc_id"), F.col("text"))
    out = (pairs
           .join(t.select(F.col("doc_id").alias("id_a"),
                          F.col("text").alias("_ta")), "id_a")
           .join(t.select(F.col("doc_id").alias("id_b"),
                          F.col("text").alias("_tb")), "id_b")
           .select(
               "id_a", "id_b",
               F.levenshtein("_ta", "_tb").cast("long").alias("edit_dist"),
               F.greatest(F.length("_ta"), F.length("_tb"))
               .cast("long").alias("max_len")))
    return out.withColumn(
        "is_editdup",
        (F.lit(5) * F.col("edit_dist") <= F.lit(2) * F.col("max_len")))
