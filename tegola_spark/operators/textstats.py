"""Text analysis operators: token counting, quality scoring, language
ID, fingerprinting (training-data pipeline components).

Every expression here is a PURE Catalyst column expression (JVM-side,
whole-stage codegen — no UDF) and has a matching ANSI-SQL formulation
used by __spark_entry__.oracle_sql, so the driver's DuckDB gate checks
them value-for-value. ASCII character classes are used deliberately:
unicode class semantics differ between regex engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

# language marker words — counted with whitespace padding so they only
# match whole tokens; deterministic tie-break by this ordering
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " que ", " los "],
}


# GPT2-style pre-tokenizer, ASCII form: contraction suffixes, then
# space-prefixed letter runs / digit runs / punctuation runs. The real
# BPE pre-tokenizer uses \p{L}/\p{N} and a trailing-space lookahead;
# RE2 (DuckDB's engine, the correctness oracle) has no lookahead, so
# this is the largest common subset both engines match identically
# (validated 500/500 vs DuckDB regexp_extract_all at sf0.01).
BPE_SPLIT_PATTERN = r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+"


def col_bpe_token_count(c):
    """BPE-ish pre-tokenizer token count (pattern above): the unit a
    byte-pair tokenizer would see BEFORE merges — the standard proxy
    for LLM token budgeting when the merge table isn't shipped."""
    return F.regexp_count(c, F.lit(BPE_SPLIT_PATTERN))


def col_word_ngrams(c):
    """DISTINCT word 3-gram set (space-joined) as a pure column
    expression — the shingle set for n-gram Jaccard similarity.
    Texts with fewer than 3 tokens yield an empty array (guarded:
    sequence() with start > stop would generate a DESCENDING range)."""
    toks = F.split(F.trim(c), r"\s+")
    sz = F.size(toks)
    return F.when(sz >= 3, F.array_distinct(F.transform(
        F.sequence(F.lit(0), sz - 3),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k + 1) for k in range(3)]),
    ))).otherwise(F.array().cast("array<string>"))


def col_jaccard(a, b):
    """Jaccard similarity of two array columns (set semantics via
    array_intersect/array_union); both-empty -> 0."""
    return (F.size(F.array_intersect(a, b))
            / F.greatest(F.size(F.array_union(a, b)), F.lit(1)))


def col_token_count(c):
    """Whitespace token count; empty/blank -> 0."""
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


def _count_occurrences(c, sub: str):
    """Number of occurrences of ``sub`` via length difference (the only
    counting primitive with identical semantics in every SQL engine)."""
    return (F.length(c) - F.length(F.replace(c, F.lit(sub), F.lit("")))) / F.lit(len(sub))


def col_lang_scores(c):
    """Marker-word counts per language over ' ' || lower(text) || ' '."""
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    return {lang: sum(_count_occurrences(padded, m) for m in markers)
            for lang, markers in LANG_MARKERS.items()}


def col_lang_pred(c):
    """argmax language with deterministic tie-break (en > de > fr > es
    order); 'und' (undetermined) when all scores are 0."""
    scores = col_lang_scores(c)
    langs = list(LANG_MARKERS)
    pred = F.lit("und")
    # build from the LAST language backward so earlier langs win ties
    for lang in reversed(langs):
        others_before = [scores[l] for l in langs if langs.index(l) < langs.index(lang)]
        cond = scores[lang] > 0
        for o in others_before:
            cond = cond & (scores[lang] > o)
        for l in langs[langs.index(lang) + 1:]:
            cond = cond & (scores[lang] >= scores[l])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def quality_columns(df: DataFrame) -> DataFrame:
    """Adds: n_chars_calc, n_tokens, alpha_ratio, digit_ratio,
    punct_ratio, space_ratio, avg_token_len, upper_ratio."""
    c = F.col("text")
    n = F.length(c)
    safe_n = F.when(n == 0, F.lit(1)).otherwise(n).cast("double")

    def ratio_of(cls: str):
        return (n - F.length(F.regexp_replace(c, cls, ""))).cast("double") / safe_n

    toks = col_token_count(c)
    safe_toks = F.when(toks == 0, F.lit(1)).otherwise(toks).cast("double")
    return df.withColumns({
        "n_chars_calc": n.cast("long"),
        "n_tokens": toks.cast("long"),
        "alpha_ratio": ratio_of("[A-Za-z]"),
        "digit_ratio": ratio_of("[0-9]"),
        "punct_ratio": ratio_of(r"[.,;:!?'\"()\[\]-]"),
        "space_ratio": ratio_of(r"[ \t\n]"),
        "upper_ratio": ratio_of("[A-Z]"),
        "avg_token_len": (
            F.length(F.regexp_replace(c, r"\s+", "")).cast("double") / safe_toks),
    })


def fingerprint_columns(df: DataFrame) -> DataFrame:
    """Document fingerprints: exact md5 + normalized md5 (the 'rolling
    hash' document identity used by dedup bookkeeping)."""
    from .dedup import normalize_text_col

    c = F.col("text")
    return df.withColumns({
        "fp_exact": F.md5(c.cast("binary")),
        "fp_norm": F.md5(normalize_text_col(c).cast("binary")),
    })


def vocab_topk(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus word-frequency vocabulary (tokenizer-training prep):
    whitespace tokens -> global counts -> top-k with a deterministic
    total order (count desc, word asc). One shuffle on the word key
    with map-side partial aggregation; the orderBy+limit runs over the
    distinct-vocab-sized frame only (TakeOrderedAndProject), so the
    driver sees k rows, never the corpus."""
    w = df.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    counts = (w.where(F.col("word") != "")
                .groupBy("word").agg(F.count("*").alias("n")))
    return counts.orderBy(F.desc("n"), "word").limit(k)


def chunk_documents(df: DataFrame, size: int = 64, stride: int = 48) -> DataFrame:
    """Sliding token-window chunking — the context-window prep step of
    a training/RAG pipeline (split long documents into ``size``-token
    chunks every ``stride`` tokens, overlap = size - stride).

    Chunk starts are 0, stride, 2*stride, ...; the chunk count is
    ``1 + ceil(max(0, n_tokens - size) / stride)`` so every token is
    covered and no trailing chunk is a pure subset of its predecessor
    (the Hugging Face ``return_overflowing_tokens`` convention).

    Returns one row per (doc, chunk): (doc_id, chunk_id, n_chunks,
    chunk_tokens, chunk_text).

    Scale plan: pure column expressions — split/sequence/posexplode/
    slice/array_join all run JVM-side in one codegen stage with NO
    shuffle and no UDF; output rows are produced in the scan stage's
    partitioning, so at 100 TB this is a map-only pass whose cost is
    the text bytes themselves. The fan-out factor is bounded by
    n_tokens/stride per document.
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    extra = F.greatest(n - F.lit(size), F.lit(0))
    n_chunks = (F.lit(1) + F.floor((extra + F.lit(stride - 1))
                                   / F.lit(stride))).cast("bigint")
    base = df.select(
        F.col("doc_id"), words.alias("_w"), n.alias("_n"),
        n_chunks.alias("n_chunks"))
    start = F.col("chunk_id") * F.lit(stride)
    return (base
            .select("doc_id", "_w", "_n", "n_chunks",
                    F.posexplode(F.sequence(F.lit(0), F.col("n_chunks") - 1))
                     .alias("chunk_id", "_i"))
            .select(
                "doc_id",
                F.col("chunk_id").cast("bigint").alias("chunk_id"),
                "n_chunks",
                F.least(F.lit(size), F.col("_n") - start)
                 .cast("bigint").alias("chunk_tokens"),
                F.array_join(F.slice(F.col("_w"), start + 1, size), " ")
                 .alias("chunk_text")))


def tfidf_topk(df: DataFrame, k: int = 5) -> DataFrame:
    """Per-document TF-IDF top-k keyword extraction (the classic
    search / doc-representation primitive; sklearn-style smoothed idf
    ``ln((N+1)/(df+1)) + 1``).

    Returns (doc_id, rank, word, tf, score_r6) — rank is over the
    ROUNDED score (desc, then word asc) so the ordering is identical
    in any engine regardless of libm ulp differences in ``ln``.

    Scale plan: tf is the word-count exchange (map-side partial agg on
    (doc, word)); document frequency reduces the SAME frame by word
    (vocab-sized output); idf joins back BROADCAST (the vocab is
    model-sized next to the corpus — cap with a min-df filter when it
    is not); the per-doc top-k is a rank window that Spark pushes
    map-side (WindowGroupLimit), so only ~k rows per document survive
    the final exchange. The corpus-sized frames never carry text
    beyond the exploded words themselves.
    """
    words = (df.select(F.col("doc_id"),
                       F.explode(F.split(F.col("text"), " ")).alias("word"))
               .where(F.col("word") != ""))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.count("*").alias("_n"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("_df"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "word",
        (F.log((F.col("_n") + F.lit(1.0)) / (F.col("_df") + F.lit(1.0)))
         + F.lit(1.0)).alias("_idf"))
    scored = (tf.join(F.broadcast(idf), "word")
              .select("doc_id", "word", "tf",
                      F.round(F.col("tf") * F.col("_idf"), 6)
                       .alias("score_r6")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_r6"), "word")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    "word", "tf", "score_r6"))


def unigram_lm_score(df: DataFrame) -> DataFrame:
    """Corpus-trained unigram language-model scoring — the CCNet-style
    quality signal (per-doc mean token log-probability; low = boilerplate
    / gibberish relative to the corpus, high = generic fluent text).
    Self-trained: pass 1 estimates MLE word probabilities over the SAME
    corpus, pass 2 scores every document against them.

    Returns (doc_id, n_tokens, lp_micro_sum, avg_logprob_r6).

    Cross-engine determinism: ln() differs by ulps between libms and
    float SUM order differs between engines, so each word's
    log-probability ln(count/total) is quantized to integer MICRO-NATS
    (floor(lp*1e6 + 0.5) — floor(x+0.5), not round(), because engines
    disagree on round-half semantics) BEFORE the per-document sum. The
    sum is then pure int64 arithmetic — order-free and exact — and the
    reported average divides two exact integers, so both engines round
    the identical double.

    100 TB posture: one word exchange with map-side partial agg builds
    the vocab; the log-prob table is vocab-sized and joins back
    BROADCAST (cap with a min-count filter when the vocab isn't
    model-sized); the per-doc reduce is a partial-agg groupBy on
    doc_id. Documents with zero tokens keep n_tokens=0 / score 0 via a
    left join from the id spine, so the output is corpus-complete.
    """
    words = (df.select(F.col("doc_id").alias("doc_id"),
                       F.explode(F.split(F.col("text"), " ")).alias("word"))
               .where(F.col("word") != ""))
    counts = words.groupBy("word").agg(F.count("*").alias("_n"))
    total = counts.agg(F.sum("_n").alias("_total"))
    lp = counts.crossJoin(F.broadcast(total)).select(
        "word",
        F.floor(F.log(F.col("_n").cast("double")
                      / F.col("_total").cast("double")) * 1e6 + 0.5)
         .cast("long").alias("_lp_micro"))
    per_doc = (words.join(F.broadcast(lp), "word")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tokens"),
                    F.sum("_lp_micro").alias("lp_micro_sum")))
    spine = df.select(F.col("doc_id").alias("doc_id"))
    out = spine.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("lp_micro_sum", F.lit(0)).cast("long").alias("lp_micro_sum"))
    return out.withColumn(
        "avg_logprob_r6",
        F.when(F.col("n_tokens") > 0,
               F.round(F.col("lp_micro_sum")
                       / (F.col("n_tokens") * F.lit(1e6)), 6))
         .otherwise(F.lit(0.0)))


def ngram_novelty(df: DataFrame, n: int = 5) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the Gopher /
    RefinedWeb repetition-across-documents quality rule: what share of
    a document's distinct word n-grams also appear in at least one
    OTHER document. High fraction = boilerplate / near-duplicate
    content; novelty = 1 - dup_frac.

    Returns (doc_id, n_shingles, n_dup, dup_frac_r6) over the corpus
    spine (docs shorter than n tokens report 0 shingles, frac 0).

    dup counting is per distinct shingle (array_distinct before the
    explode) so a doc repeating its own phrase doesn't count as
    cross-document duplication; document frequency > 1 does.

    100 TB posture: shingles are corpus-scale, so the doc-frequency
    join is a SHUFFLED equi-join on the shingle key (never broadcast),
    with map-side partial agg on both the frequency reduce and the
    final per-doc rollup — the same plan shape as MinHash banding.
    dup_frac divides two exact integers, so ROUND is cross-engine
    stable.
    """
    t = F.split(F.trim(F.col("text")), r"\s+")
    m = F.size(t) - F.lit(n - 1)
    sh = F.when(m > 0, F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    ).otherwise(F.array().cast("array<string>"))
    ex = df.select(F.col("doc_id"),
                   F.explode(F.array_distinct(sh)).alias("sh"))
    dfreq = ex.groupBy("sh").agg(F.count("*").alias("_df"))
    agg = (ex.join(dfreq, "sh")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_shingles"),
                F.sum((F.col("_df") > 1).cast("long")).alias("n_dup")))
    spine = df.select(F.col("doc_id"))
    out = spine.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"))
    return out.withColumn(
        "dup_frac_r6",
        F.round(F.col("n_dup") / F.greatest(F.col("n_shingles"), F.lit(1)), 6))


def quality_cut(df: DataFrame, q: float = 0.1) -> DataFrame:
    """Percentile quality filter — the step that actually DROPS data:
    keep documents whose unigram-LM score sits at or above the
    corpus's q-th percentile. Composes two oracle-proven operators
    (unigram_lm_score -> stats.exact_quantiles), so the whole decision
    is engine-replayable: the threshold is the exact type-1 quantile
    of the ROUNDED scores (no approx-percentile sketch, no float-order
    dependence).

    Returns (doc_id, avg_logprob_r6, threshold_r6) for kept documents
    (token-less documents are excluded before the percentile so they
    can't drag the threshold).

    100 TB posture: the scored frame (doc-count-sized, 4 narrow
    columns) is PERSISTED across its two consumers so the corpus-side
    scoring runs once; the threshold comes from stats.global_quantile
    — a range-repartitioned exact order statistic whose only driver
    materialization is one row per partition (never the
    single-partition sort a one-global-group window would force);
    the keep filter is a 1-row broadcast comparison.
    """
    from tegola_spark.operators.stats import global_quantile

    # localCheckpoint (eager) instead of persist(): global_quantile
    # already runs actions during construction, so the scores
    # materialize exactly once either way — but the old persist() was
    # never released and leaked cached partitions for the session
    # lifetime under repeated invocation (round-5 advisor item); local-
    # checkpoint blocks are dropped when the plan is garbage-collected.
    scored = (unigram_lm_score(df)
              .where(F.col("n_tokens") > 0)
              .localCheckpoint())
    thr = global_quantile(scored, "avg_logprob_r6", q) \
        .select(F.col("v").alias("threshold_r6"))
    return (scored.crossJoin(F.broadcast(thr))
            .where(F.col("avg_logprob_r6") >= F.col("threshold_r6"))
            .select("doc_id", "avg_logprob_r6", "threshold_r6"))


def inverted_index(df: DataFrame, min_df: int = 2) -> DataFrame:
    """Build term posting lists: for every term, its document
    frequency, total term frequency, and the sorted ``doc:tf`` posting
    list — the search-index artifact a retrieval/decontamination stack
    builds over the corpus.

    Two aggregations, both with map-side partials: (term, doc) tf
    counts, then per-term collect.  ``sort_array`` over the collected
    (doc_id, tf) structs makes the posting string deterministic
    regardless of collect order; the list is emitted as a joined
    string because postings are an opaque payload downstream (and a
    second engine replays it with ordered string_agg).

    Every term at or above ``min_df`` is kept, stop terms included:
    the index is exact (its oracle replays every posting), and at
    100 TB a stop term's corpus-sized posting list is sharded by a
    real index, not elided.
    """
    toks = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    tf = (toks.where(F.col("term") != "")
          .groupBy("term", "doc_id").agg(F.count("*").alias("tf")))
    posting = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(
                F.struct(F.col("doc_id").alias("d"), F.col("tf").alias("t")))),
            lambda s: F.concat_ws(":", s["d"].cast("string"),
                                  s["t"].cast("string"))), ",")
    out = (tf.groupBy("term")
           .agg(F.count("*").alias("df"),
                F.sum("tf").alias("tf_total"),
                posting.alias("postings"))
           .where(F.col("df") >= min_df))
    return out.select("term", F.col("df").cast("long").alias("df"),
                      F.col("tf_total").cast("long").alias("tf_total"),
                      "postings")


# ln(0.4) as an exact double literal, inlined identically in the oracle
# SQL so the backoff penalty is bit-equal across engines by construction.
STUPID_BACKOFF_LN = -0.916290731874155


def bigram_lm_score(df: DataFrame) -> DataFrame:
    """Bigram LM quality scoring with Stupid Backoff (Brants et al.
    2007) — the n-gram upgrade of :func:`unigram_lm_score`.  The model
    trains on half of the corpus and scores EVERY document, so held-out
    documents genuinely exercise the backoff path (a self-trained
    bigram model never sees an unknown bigram). The train half is the
    even ids for an integral id column, and otherwise the ids whose
    CRC-32 (of their string form, UTF-8) is even — deterministic, and
    ``zlib.crc32`` in plain Python.

    Per-token score, quantized to integer micro-nats (floor(x*1e6+0.5))
    BEFORE the document sum, exactly like the unigram operator:

      first token w1:            ln((c(w1)+1) / (T+V+1))      (add-1)
      bigram (w1,w2) seen:       ln(c(w1 w2) / c(w1))          (MLE)
      bigram unseen (backoff):   ln(0.4) + ln((c(w2)+1)/(T+V+1))

    where c() are TRAIN-half counts, T = train token count, V = train
    vocab size (the +1s give out-of-vocabulary words nonzero mass).

    100 TB posture: the unigram table is vocab-sized and broadcasts;
    the bigram count table scales with distinct bigrams, so its join
    is a shuffled equi-join on (w1, w2) — the same plan family as the
    shingle joins — with map-side partial agg on both count builds.
    Bigram extraction is map-only array algebra (no window, no lag
    exchange): ``transform`` over a slice of the token array.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = df.select(F.col("doc_id"), toks.alias("t"))
    if isinstance(base.schema["doc_id"].dataType, T.IntegralType):
        parity = F.col("doc_id") % 2
    else:
        parity = F.crc32(F.col("doc_id").cast("string")) % 2
    train = base.where(parity == 0)

    words_tr = train.select(F.explode("t").alias("w"))
    c1 = words_tr.groupBy("w").agg(F.count("*").alias("n1"))
    tv = c1.agg(F.sum("n1").alias("_t"), F.count("*").alias("_v"))
    denom = (F.col("_t") + F.col("_v") + F.lit(1)).cast("double")

    bigrams = F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
        " (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))")
    big_tr = train.select(F.explode(bigrams).alias("b")) \
        .select("b.w1", "b.w2")
    c2 = big_tr.groupBy("w1", "w2").agg(F.count("*").alias("n2"))

    def uni_lp(count_col):
        return F.log((F.coalesce(count_col, F.lit(0)) + F.lit(1))
                     .cast("double") / denom)

    # first token of every doc: smoothed unigram
    firsts = (base.where(F.size("t") > 0)
              .select("doc_id", F.element_at("t", 1).alias("w"))
              .join(F.broadcast(c1), "w", "left")
              .crossJoin(F.broadcast(tv))
              .select("doc_id",
                      F.floor(uni_lp(F.col("n1")) * 1e6 + 0.5)
                      .cast("long").alias("lp")))

    # bigram tokens of every doc: MLE when seen in train, else backoff
    big_all = base.select("doc_id", F.explode(bigrams).alias("b")) \
        .select("doc_id", "b.w1", "b.w2")
    ctx = c1.select(F.col("w").alias("w1"), F.col("n1").alias("n1_ctx"))
    uni2 = c1.select(F.col("w").alias("w2"), F.col("n1").alias("n1_w2"))
    scored = (big_all
              .join(c2, ["w1", "w2"], "left")
              .join(F.broadcast(ctx), "w1", "left")
              .join(F.broadcast(uni2), "w2", "left")
              .crossJoin(F.broadcast(tv))
              .select(
                  "doc_id",
                  F.floor(
                      F.when(F.col("n2").isNotNull(),
                             F.log(F.col("n2").cast("double")
                                   / F.col("n1_ctx").cast("double")))
                      .otherwise(F.lit(STUPID_BACKOFF_LN)
                                 + uni_lp(F.col("n1_w2")))
                      * 1e6 + 0.5).cast("long").alias("lp")))

    per_doc = (firsts.unionByName(scored)
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tokens"),
                    F.sum("lp").alias("lp_micro_sum")))
    spine = df.select(F.col("doc_id"))
    out = spine.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("lp_micro_sum", F.lit(0)).cast("long")
        .alias("lp_micro_sum"))
    return out.withColumn(
        "avg_logprob_r6",
        F.when(F.col("n_tokens") > 0,
               F.round(F.col("lp_micro_sum")
                       / (F.col("n_tokens") * F.lit(1e6)), 6))
         .otherwise(F.lit(0.0)))


def pmi_collocations(df: DataFrame, min_count: int = 5,
                     k: int = 20) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    corpus-analysis pass behind phrase vocabularies and tokenizer
    merge candidates: bigrams whose joint frequency beats the
    independence assumption,

        PMI(a,b) = ln( (c2(a,b)/B) / ((c1(a)/T) * (c1(b)/T)) )

    with c2/B bigram counts/total and c1/T unigram counts/total.
    ``min_count`` floors the joint count (PMI is notoriously noisy on
    rare pairs).  The score is quantized to integer micro-nats and the
    ranking key is (score_micro, w1, w2) — fully engine-deterministic.

    Plan: the two count builds carry map-side partials; the unigram
    table is vocab-sized and joins back broadcast onto the bigram
    counts (bigram-table-sized, the only shuffled frame); top-k is
    TakeOrdered, never a global sort.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = df.select(F.col("doc_id"), toks.alias("t"))
    words = base.select(F.explode("t").alias("w"))
    c1 = words.groupBy("w").agg(F.count("*").alias("n1"))
    bigrams = F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
        " (x, i) -> struct(x AS w1, element_at(t, i + 2) AS w2))")
    big = base.select(F.explode(bigrams).alias("b")).select("b.w1", "b.w2")
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    tot = c1.agg(F.sum("n1").alias("_t")).crossJoin(
        c2.agg(F.sum("n2").alias("_b")))
    scored = (c2.where(F.col("n2") >= min_count)
              .join(F.broadcast(c1.select(F.col("w").alias("w1"),
                                          F.col("n1").alias("na"))), "w1")
              .join(F.broadcast(c1.select(F.col("w").alias("w2"),
                                          F.col("n1").alias("nb"))), "w2")
              .crossJoin(F.broadcast(tot))
              .select(
                  "w1", "w2", F.col("n2").alias("pair_count"),
                  F.floor(F.log(
                      (F.col("n2").cast("double") / F.col("_b").cast("double"))
                      / ((F.col("na").cast("double") / F.col("_t").cast("double"))
                         * (F.col("nb").cast("double") / F.col("_t").cast("double"))))
                      * 1e6 + 0.5).cast("long").alias("pmi_micro")))
    return (scored.orderBy(F.col("pmi_micro").desc(), "w1", "w2").limit(k))
