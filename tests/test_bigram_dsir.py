"""Stupid-Backoff bigram LM and DSIR importance selection
(operators/textstats.py bigram_lm_score, operators/sampling.py
dsir_select)."""

import math
import zlib

from tegola_spark.operators import sampling, textstats


def _ref_bigram(docs, in_train=lambda i: i % 2 == 0):
    """Independent plain-Python replay of the integer recurrence."""
    toks = {i: [w for w in t.split(" ") if w] for i, t in docs}
    train = {i: t for i, t in toks.items() if in_train(i)}
    c1, c2 = {}, {}
    for t in train.values():
        for w in t:
            c1[w] = c1.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    denom = float(sum(c1.values()) + len(c1) + 1)

    def uni(w):
        return math.log((c1.get(w, 0) + 1) / denom)

    out = {}
    for i, t in toks.items():
        lps = []
        if t:
            lps.append(math.floor(uni(t[0]) * 1e6 + 0.5))
        for a, b in zip(t, t[1:]):
            if (a, b) in c2:
                lp = math.log(c2[(a, b)] / float(c1[a]))
            else:
                lp = textstats.STUPID_BACKOFF_LN + uni(b)
            lps.append(math.floor(lp * 1e6 + 0.5))
        out[i] = (len(lps), sum(lps))
    return out


def test_bigram_lm_matches_reference_and_backoff_fires(spark):
    docs = [(0, "a b a b c"), (2, "a b c"),      # train half
            (1, "a b x y"), (3, "")]             # held-out: x,y unseen
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["lp_micro_sum"])
           for r in textstats.bigram_lm_score(df).collect()}
    assert got == _ref_bigram(docs)
    assert got[3] == (0, 0)
    # held-out doc must score lower per token than an in-train doc
    # (its tail runs entirely on backoff)
    assert got[1][1] / got[1][0] < got[2][1] / got[2][0]


def test_bigram_lm_string_ids_train_on_crc32_parity(spark):
    """String ids split by the parity of their CRC-32: a % 2 split is
    null for strings and trained the model on nothing."""
    docs = [("d0", "a b a b c"), ("d1", "a b c"), ("d4", "a b x y"),
            ("doc-a", "x y z"), ("doc-d", "b c a"), ("d5", "")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["lp_micro_sum"])
           for r in textstats.bigram_lm_score(df).collect()}
    assert got == _ref_bigram(
        docs, in_train=lambda i: zlib.crc32(i.encode("utf-8")) % 2 == 0)
    # d0, d1 and doc-d train; a model trained on nothing scores else
    assert got != _ref_bigram(docs, in_train=lambda i: False)


def test_bigram_lm_seen_bigram_is_mle(spark):
    # train: "a b" twice out of c("a")=2 -> ln(2/2)=0 for each "a b"
    df = spark.createDataFrame([(0, "a b"), (2, "a b")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r for r in textstats.bigram_lm_score(df).collect()}
    denom = 4 + 2 + 1  # T=4 tokens, V=2 words
    first = math.floor(math.log(3 / denom) * 1e6 + 0.5)  # c(a)+1=3
    assert got[0]["lp_micro_sum"] == first + 0  # ln(2/2) == 0
    assert got[0]["n_tokens"] == 2


def test_dsir_prefers_target_like_documents(spark):
    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, "good clean prose text", "en"))
        else:
            rows.append((i, "spam junk noise words", "de"))
    # two held-out-ish docs: one target-like, one not (both lang de so
    # selection is driven by CONTENT, not the label)
    rows.append((100, "good clean prose text", "de"))
    rows.append((101, "spam junk noise words", "de"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    picked = [r["doc_id"] for r in sampling.dsir_select(df, k=11).collect()]
    assert 100 in picked and 101 not in picked
    # all even (en, target-like) docs selected
    assert set(picked) == {i for i in range(20) if i % 2 == 0} | {100}


def test_dsir_topk_is_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(i, "same text here", "en") for i in range(6)],
        "doc_id long, text string, lang string")
    picked = [r["doc_id"] for r in sampling.dsir_select(df, k=3).collect()]
    assert picked == [0, 1, 2]  # equal weights -> lowest ids win


def test_proportional_quota_sums_exactly(spark):
    # skewed counts that do NOT divide the budget evenly
    rows = [(i, f"s{g}") for g, n in enumerate([7, 13, 1, 29, 50])
            for i in range(n * 100, n * 100 + n)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["source"]: (r["n_docs"], r["quota"])
           for r in sampling.proportional_quota(df, total=17).collect()}
    assert sum(q for _, q in got.values()) == 17
    # Hamilton reference
    n = {f"s{g}": c for g, c in enumerate([7, 13, 1, 29, 50])}
    N = sum(n.values())
    base = {k: 17 * v // N for k, v in n.items()}
    rem = {k: 17 * v % N for k, v in n.items()}
    R = 17 - sum(base.values())
    order = sorted(n, key=lambda k: (-rem[k], k))
    want = {k: base[k] + (1 if k in order[:R] else 0) for k in n}
    assert {k: q for k, (_, q) in got.items()} == want
    # proportionality: biggest group gets the biggest quota
    assert max(got, key=lambda k: got[k][1]) == "s4"


def test_proportional_quota_uniform_groups(spark):
    df = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(40)], "doc_id long, source string")
    got = {r["source"]: r["quota"]
           for r in sampling.proportional_quota(df, total=100).collect()}
    assert got == {f"s{g}": 25 for g in range(4)}


def test_pmi_collocations_reference(spark):
    import math

    from tegola_spark.operators import textstats as ts

    # "x y" always adjacent (perfect collocation); "a b" co-occur at
    # chance level across many tokens
    docs = [(i, "x y " + "a b " * 3 + "b a " * 3) for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["w1"], r["w2"]): (r["pair_count"], r["pmi_micro"])
           for r in ts.pmi_collocations(df, min_count=5, k=50).collect()}
    # independent reference
    toks = [t for _, s in docs for t in s.split(" ") if t]
    T = len(toks)
    c1 = {}
    for w in toks:
        c1[w] = c1.get(w, 0) + 1
    c2 = {}
    for _, s in docs:
        tt = [x for x in s.split(" ") if x]
        for a, b in zip(tt, tt[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    B = sum(c2.values())
    for (a, b), n2 in c2.items():
        if n2 < 5:
            assert (a, b) not in got
            continue
        pmi = math.floor(math.log((n2 / B) / ((c1[a] / T) * (c1[b] / T)))
                         * 1e6 + 0.5)
        assert got[(a, b)] == (n2, pmi)
    # the perfect collocation outranks the chance-level pairs
    top = max(got, key=lambda p: got[p][1])
    assert top == ("x", "y")
