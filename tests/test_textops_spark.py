"""Training-data operators: dedup, text stats, similarity, multimodal."""

import hashlib
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tegola_spark.operators import dedup, multimodal, similarity, textstats
from tegola_spark.sources import corpus


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = corpus.documents(spark, sf_dir)
    df.cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.cache()
    df.count()
    yield df
    df.unpersist()


# -- dedup ----------------------------------------------------------------------

def test_exact_dedup_counts(spark, docs):
    n = docs.count()
    d = dedup.exact_dedup(docs)
    total = d.agg(F.sum("dup_count")).first()[0]
    assert total == n
    assert d.count() <= n


def test_exact_dedup_finds_planted_dups(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["same text", "same text", "other", "same text"]})
    d = dedup.exact_dedup(spark.createDataFrame(pdf)).collect()
    by_count = sorted([r["dup_count"] for r in d])
    assert by_count == [1, 3]
    keep = [r["keep_id"] for r in d if r["dup_count"] == 3]
    assert keep == [1]


def test_minhash_lsh_finds_near_dups(spark):
    # r=8 rows per band (dedup.LSH_BANDS) is built for jaccard >= 0.85:
    # one word of 300 distinct ones changed keeps the pair well above it
    base = " ".join(f"w{i}" for i in range(300))
    near = base.replace(" w150 ", " x150 ")
    far = " ".join(f"z{i}" for i in range(300))
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
    pairs = dedup.minhash_lsh_pairs(
        spark.createDataFrame(pdf), threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] >= 0.85


def test_minhash_capped_bucket_links_overflow_to_representative(
        spark, monkeypatch):
    # 12 identical docs in buckets capped at 4 used to orphan ids past
    # rank 4: the SAME lowest 4 ids survive every band's cap, so docs
    # 5..12 got zero candidate pairs anywhere (ADVICE r2). Overflow ids
    # must still link to the bucket representative (min id). The cap
    # is MAX_BUCKET (4,096 ids); lowering the module constant reaches
    # the capped path at test size.
    monkeypatch.setattr(dedup, "MAX_BUCKET", 4)
    n = 12
    txt = "identical template page content repeated for dedup " * 10
    pdf = pd.DataFrame({"doc_id": list(range(1, n + 1)), "text": [txt] * n})
    pairs = dedup.minhash_lsh_pairs(
        spark.createDataFrame(pdf), threshold=0.9).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    linked = set()
    for a, b in got:
        linked.add(a)
        linked.add(b)
    # every doc participates in at least one pair -> none escape dedup
    assert linked == set(range(1, n + 1))
    # overflow ids (rank > 4) each link to the representative id 1
    for d in range(5, n + 1):
        assert (1, d) in got


# -- textstats --------------------------------------------------------------------

def test_token_count(spark):
    pdf = pd.DataFrame({"text": ["a b  c", "", "   ", "one", "x\ty\nz w"]})
    out = spark.createDataFrame(pdf).select(
        textstats.col_token_count(F.col("text")).alias("n")).collect()
    assert [r["n"] for r in out] == [3, 0, 0, 1, 4]


def test_quality_ratios(spark):
    pdf = pd.DataFrame({"text": ["Abc 123!"]})
    out = textstats.quality_columns(spark.createDataFrame(pdf)).first()
    assert out["n_chars_calc"] == 8
    assert out["n_tokens"] == 2
    assert out["alpha_ratio"] == pytest.approx(3 / 8)
    assert out["digit_ratio"] == pytest.approx(3 / 8)
    assert out["upper_ratio"] == pytest.approx(1 / 8)
    assert out["punct_ratio"] == pytest.approx(1 / 8)
    assert out["avg_token_len"] == pytest.approx(7 / 2)


def test_lang_pred(spark):
    pdf = pd.DataFrame({"text": [
        "the cat and the dog of the house",
        "der Hund und die Katze und der Vogel",
        "le chat et la maison et le chien",
        "el perro que los gatos el dia",
        "zzz qqq www",
    ]})
    out = spark.createDataFrame(pdf).select(
        textstats.col_lang_pred(F.col("text")).alias("lang")).collect()
    assert [r["lang"] for r in out] == ["en", "de", "fr", "es", "und"]


def test_fingerprints(spark):
    pdf = pd.DataFrame({"text": ["Hello  World", "hello world"]})
    out = textstats.fingerprint_columns(spark.createDataFrame(pdf)).collect()
    assert out[0]["fp_exact"] != out[1]["fp_exact"]
    assert out[0]["fp_norm"] == out[1]["fp_norm"]


# -- similarity --------------------------------------------------------------------

def test_brute_force_topk_sane(emb):
    out = similarity.brute_force_topk(emb, [0, 1, 2], k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        scores = [r["score_r6"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


def test_lsh_ann_recall_planted_clusters(spark):
    """LSH recall on CLUSTERED data (the realistic near-dup case): each
    query's true neighbors are noisy copies of itself."""
    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for c in range(40):
        base = rng.standard_normal(32)
        base /= np.linalg.norm(base)
        for _ in range(5):
            v = base + rng.standard_normal(32) * 0.01
            rows.append((vid, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = [0, 5, 10, 15, 20]
    exact = similarity.brute_force_topk(df, qids, k=4)
    approx = similarity.lsh_ann_topk(df, qids, k=4, dim=32, multiprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"recall {recall}"


def test_lsh_ann_sanity_random_data(emb):
    """Driver embeddings are ~random gaussians (top cosine ~0.33) — the
    LSH worst case; assert only a loose floor with generous probing."""
    dim = emb.select(F.size("embedding")).first()[0]
    qids = [0, 1, 2, 3, 4, 5, 6, 7]
    exact = similarity.brute_force_topk(emb, qids, k=5)
    approx = similarity.lsh_ann_topk(emb, qids, k=5, dim=dim,
                                     n_planes=6, multiprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.3


# -- multimodal --------------------------------------------------------------------

# md5 of the sorted decode_media rows of the sf0.01 rendered pages
# (``_media_digest``); recorded from the engine while it still carried
# stdlib PNG/BMP/WAV/GIF/JPEG/MP4 decoders, none of which a page reaches
SF001_MEDIA_MD5 = "265c9c8acb69343e2781fd821ed23822"


def _stub_dims(media_type, n):
    frames = 1 if media_type.startswith("image") else 1 + n % 30
    return 16 + n % 1024, 16 + n % 768, frames


def _media_digest(rows):
    h = hashlib.md5()
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        h.update(repr((r["doc_id"], r["media_type"], r["payload_len"],
                       r["width"], r["height"], r["n_frames"],
                       list(r["feature"]))).encode())
    return h.hexdigest()


def test_decode_media_stub(spark, sf_dir):
    """Every payload is opaque: its type is sniffed from the magic
    prefix and its dims and features are the deterministic stub. Pins
    the whole ``q_multimodal_decode`` output over the sf0.01 pages, and
    payloads that carry a media magic prefix but garbage after it."""
    import __spark_entry__ as entry

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    out = multimodal.decode_media(
        multimodal.media_from_pages(corpus.pages(spark, sf001)))
    assert "payload" not in out.columns          # payload projected away
    rows = out.collect()
    assert len(rows) == 500
    for r in rows:
        assert r["payload_len"] > 0
        assert len(r["feature"]) == 8
        assert r["media_type"] == "application/octet-stream"
        assert (r["width"], r["height"], r["n_frames"]) == _stub_dims(
            r["media_type"], r["payload_len"])
    assert _media_digest(rows) == SF001_MEDIA_MD5
    q = entry.q_multimodal_decode(spark, sf001).collect()
    assert sorted(map(tuple, q)) == sorted(
        tuple(r)[:6] for r in rows)

    tail = b"\x07\x00\xff!"
    garbage = [b"\x89PNG\r\n\x1a\n" + tail, b"\xff\xd8\xff" + tail,
               b"GIF8" + tail, b"BM" + tail, b"RIFF" + tail,
               b"\x00\x00\x00\x18ftyp" + tail]
    df = spark.createDataFrame([(i, bytearray(p))
                                for i, p in enumerate(garbage)],
                               "doc_id long, payload binary")
    got = sorted(multimodal.decode_media(df).collect(),
                 key=lambda r: r["doc_id"])
    assert [r["media_type"] for r in got] == [
        "image/png", "image/jpeg", "image/gif", "image/bmp", "audio/wav",
        "video/mp4"]
    for r, p in zip(got, garbage):
        assert r["payload_len"] == len(p)
        assert (r["width"], r["height"], r["n_frames"]) == _stub_dims(
            r["media_type"], len(p))
        assert r["feature"] == pytest.approx(
            multimodal._stub_features(p).tolist())


def test_sniff_magic():
    assert multimodal.sniff_media_type(b"\x89PNG\r\n") == "image/png"
    assert multimodal.sniff_media_type(b"\xff\xd8\xffdata") == "image/jpeg"
    assert multimodal.sniff_media_type(b"RIFFxxxx") == "audio/wav"


def test_lsh_df_external_queries_recall(spark):
    """lsh_ann_topk_df with EXTERNAL query vectors (ids not in the
    corpus): probe buckets are generated as column expressions, and
    recall vs a NumPy-exact oracle stays high on clustered data."""
    rng = np.random.default_rng(14)
    vecs = []
    for c in range(30):
        base = rng.standard_normal(32)
        base /= np.linalg.norm(base)
        for _ in range(5):
            v = base + rng.standard_normal(32) * 0.01
            vecs.append((v / np.linalg.norm(v)).astype(np.float32))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    qsrc = [0, 5, 10, 15, 20, 25]
    qrows = [(2000 + s,
              (vecs[s] + rng.standard_normal(32).astype(np.float32) * 0.005)
              .tolist()) for s in qsrc]
    qdf = spark.createDataFrame(qrows, "query_id long, qemb array<float>")
    out = similarity.lsh_ann_topk_df(df, qdf, k=4, dim=32, multiprobe=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    M = np.vstack(vecs).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    hits = total = 0
    for qid, qv in qrows:
        q = np.asarray(qv, dtype=np.float64)
        cos = Mn @ (q / np.linalg.norm(q))
        exact = set(np.argsort(-cos, kind="stable")[:4].tolist())
        hits += len(exact & got.get(qid, set()))
        total += 4
    assert hits / total >= 0.9, f"recall {hits / total}"


def test_bpe_token_count_matches_python_re(spark):
    """col_bpe_token_count == a pure-Python re count of the same
    pattern (the third engine besides Spark/Java and DuckDB/RE2)."""
    import re

    from tegola_spark.operators import textstats as ts

    texts = ["Hello world, it's 2026!", "", "   ", "a1b2 c3's... don't",
             "tabs\tand\nnewlines stay separators", "¡unicode! déjà vu"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r["i"]: r["n"] for r in df.select(
        "i", ts.col_bpe_token_count(F.col("text")).alias("n")).collect()}
    pat = re.compile(ts.BPE_SPLIT_PATTERN)
    for i, t in enumerate(texts):
        assert got[i] == len(pat.findall(t)), (t, got[i])


def test_word_ngrams_and_jaccard(spark):
    from tegola_spark.operators import textstats as ts

    rows = [(0, "a b c d"), (1, "b c d e"), (2, "x y"), (3, ""),
            (4, "a b c d")]
    df = spark.createDataFrame(rows, "i long, text string")
    g = {r["i"]: set(r["g"]) for r in df.select(
        "i", ts.col_word_ngrams(F.col("text")).alias("g")).collect()}
    assert g[0] == {"a b c", "b c d"}
    assert g[1] == {"b c d", "c d e"}
    assert g[2] == set() and g[3] == set()  # < n tokens -> empty
    a = df.where("i = 0").select(ts.col_word_ngrams(F.col("text")).alias("ga"))
    pairs = a.crossJoin(df.where("i = 1").select(
        ts.col_word_ngrams(F.col("text")).alias("gb")))
    j = pairs.select(ts.col_jaccard(F.col("ga"), F.col("gb")).alias("j")).first()["j"]
    assert j == pytest.approx(1 / 3)  # {b c d} over 3 union grams
    # identical docs -> 1.0; both-empty -> 0
    same = df.where("i = 0").select(ts.col_word_ngrams(F.col("text")).alias("ga")) \
        .crossJoin(df.where("i = 4").select(ts.col_word_ngrams(F.col("text")).alias("gb")))
    assert same.select(ts.col_jaccard(F.col("ga"), F.col("gb")).alias("j")).first()["j"] == 1.0


def test_ivf_fixed_full_probe_is_exact(emb):
    """The oracle-replayable fixed-quantizer IVF (round-5): probing
    every cell must reproduce brute force exactly; bounded probing
    returns k rows per query with no self-matches."""
    qids = [0, 1, 2, 3]
    exact = similarity.brute_force_topk(emb, qids, k=5)
    full = similarity.ivf_fixed_ann_topk(emb, qids, k=5,
                                         n_centroids=8, nprobe=8)
    e = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in exact.collect()}
    f = {(r["query_id"], r["rank"], r["neighbor_id"]) for r in full.collect()}
    assert e == f
    part = similarity.ivf_fixed_ann_topk(emb, qids, k=5,
                                         n_centroids=8, nprobe=2).collect()
    assert len(part) == len(qids) * 5
    assert all(r["neighbor_id"] != r["query_id"] for r in part)


def test_simhash_portable_matches_reference_loop(spark):
    """Portable (md5/60-bit, pure column expressions) simhash equals a
    direct per-document python reimplementation of the same definition,
    including the empty-document zero fingerprint."""
    import hashlib

    rows = [(1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),   # identical -> same fp
            (3, "completely different words entirely"),
            (4, "   "),                       # whitespace-only -> 0
            (5, "one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["simhash"]
           for r in dedup.simhash_fingerprints_portable(df).collect()}

    def ref(text):
        toks = text.strip().split()
        if not toks:
            return 0
        acc = [0] * 60
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[1:16], 16)
            for b in range(60):
                acc[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if acc[b] > 0)

    for doc_id, text in rows:
        assert got[doc_id] == ref(text), doc_id
    assert got[1] == got[2]
    assert got[4] == 0


def test_lsh_selfjoin_sequential_recall(emb):
    """The oracle-checked LSH self-join (sequential-fold signatures,
    multiprobe=1) still finds a sane fraction of true neighbors on the
    random-gaussian worst case."""
    dim = emb.select(F.size("embedding")).first()[0]
    got = similarity.ann_self_topk(emb, k=3, dim=dim,
                                   n_planes=8, multiprobe=1)
    allids = [r[0] for r in emb.select("vec_id").limit(20).collect()]
    exact = similarity.brute_force_topk(emb, allids, k=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in got.collect()
         if r["query_id"] in set(allids)}
    assert len(a & e) / len(e) >= 0.1  # random data: loose floor only
