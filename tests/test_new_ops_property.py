"""Property/differential tests for the continuation-session operators:
randomized inputs checked against independent plain-Python references
(same style as test_geometry_property.py)."""

import random

from pyspark.sql import functions as F

from tegola_spark.operators import dedup, temporal, textstats


def test_latest_snapshot_random_vs_reference(spark):
    rng = random.Random(42)
    rows = []
    for i in range(300):
        url = f"u{rng.randrange(40)}"
        rows.append((url, i, rng.randrange(100)))
    ref = {}
    for url, doc, ts in rows:
        cur = ref.get(url)
        # keep max (ts, doc): doc is unique so ordering is total
        if cur is None or (ts, doc) > (cur[1], cur[0]):
            ref[url] = (doc, ts)
    counts = {}
    for url, _, _ in rows:
        counts[url] = counts.get(url, 0) + 1

    df = spark.createDataFrame(rows, "url string, doc_id long, ts_epoch long")
    got = dedup.latest_snapshot(df, key_col="url", ts_col="ts_epoch") \
        .collect()
    assert {r["url"]: (r["doc_id"], r["ts_epoch"]) for r in got} == ref
    assert {r["url"]: r["n_snapshots"] for r in got} == counts


def test_rolling_window_random_vs_reference(spark):
    rng = random.Random(7)
    W = temporal.WINDOW_S
    # 50 tick times W/10 apart, each nudged by 0 or 1 s, so peers share
    # a timestamp and pairs sit W-1, W and W+1 s apart
    rows = [(i, rng.randrange(5),
             rng.randrange(0, 50) * (W // 10) + rng.randrange(2),
             float(rng.randrange(-100, 100)) / 4)
            for i in range(400)]
    ref = {}
    for eid, u, ep, v in rows:
        peers = [(e2, u2, ep2, v2) for (e2, u2, ep2, v2) in rows
                 if u2 == u and ep - (W - 1) <= ep2 <= ep]
        ref[eid] = (len(peers),
                    sum(int((v2 * 1e6 + 0.5) // 1) for (_, _, _, v2) in peers))

    from datetime import datetime, timezone

    def ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    df = spark.createDataFrame(
        [(e, u, ts(ep), v) for e, u, ep, v in rows],
        "event_id long, user_id long, ts timestamp, value double")
    got = {r["event_id"]: (r["roll_n"], r["roll_sum_micro"])
           for r in temporal.rolling_user_stats(df).collect()}
    assert got == ref


def test_inverted_index_random_vs_reference(spark):
    rng = random.Random(3)
    docs = [(i, " ".join(f"w{rng.randrange(12)}" for _ in range(rng.randrange(0, 15))))
            for i in range(60)]
    tf = {}
    for i, text in docs:
        for w in text.split(" "):
            if w:
                tf[(w, i)] = tf.get((w, i), 0) + 1
    ref = {}
    for (w, i), n in tf.items():
        ref.setdefault(w, []).append((i, n))
    ref = {w: (len(v), sum(n for _, n in v),
               ",".join(f"{i}:{n}" for i, n in sorted(v)))
           for w, v in ref.items() if len(v) >= 2}

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["term"]: (r["df"], r["tf_total"], r["postings"])
           for r in textstats.inverted_index(df, min_df=2).collect()}
    assert got == ref


def test_edit_distance_verify_random_vs_reference(spark):
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(11)
    texts = ["".join(rng.choice("ab c") for _ in range(rng.randrange(1, 25)))
             for _ in range(20)]
    docs = list(enumerate(texts))
    pairs = [(a, b) for a in range(20) for b in range(a + 1, 20)
             if rng.random() < 0.2]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): (r["edit_dist"], r["max_len"], r["is_editdup"])
           for r in dedup.edit_distance_verify(df, pdf).collect()}
    for a, b in pairs:
        d = lev(texts[a], texts[b])
        m = max(len(texts[a]), len(texts[b]))
        assert got[(a, b)] == (d, m, 5 * d <= 2 * m)
