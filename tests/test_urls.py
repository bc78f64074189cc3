"""URL canonicalization (operators/urls.py)."""

from pyspark.sql import functions as F

from tegola_spark.operators import urls

CASES = [
    ("https://Ex.COM/Path/Page?utm_source=x&id=5&utm_campaign=y#frag",
     "https://ex.com/Path/Page?id=5", "ex.com"),
    ("HTTP://HOST.ORG:80/a/", "http://host.org/a", "host.org"),
    ("https://h.io:443/", "https://h.io", "h.io"),
    ("https://h.io/x?utm_a=1", "https://h.io/x", "h.io"),
    ("https://h.io/x?fbclid=abc&gclid=def", "https://h.io/x", "h.io"),
    ("https://h.io/x?keep=1&ref=tw", "https://h.io/x?keep=1", "h.io"),
    ("https://user@h.io/y", "https://user@h.io/y", "h.io"),
    ("https://h.io/plain", "https://h.io/plain", "h.io"),
    # only whole parameter names are tracking params
    ("https://h.io/x?xref=1&b=2", "https://h.io/x?xref=1&b=2", "h.io"),
    ("https://h.io/x?a=1&xref=3", "https://h.io/x?a=1&xref=3", "h.io"),
    ("https://h.io/x?refx=1&ref=2", "https://h.io/x?refx=1", "h.io"),
    # runs of tracking params, leading, inner and trailing
    ("https://h.io/x?utm_a=1&utm_b=2&id=5", "https://h.io/x?id=5", "h.io"),
    ("https://h.io/x?a=1&utm_a=1&gclid=2&b=2&ref=3", "https://h.io/x?a=1&b=2", "h.io"),
    ("https://h.io/x?id=5&utm_a=1&utm_b=2", "https://h.io/x?id=5", "h.io"),
]


def test_canonicalize_cases(spark):
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(CASES)],
        "doc_id long, url string")
    got = {r["doc_id"]: (r["url_canon"], r["host"])
           for r in urls.canonicalize(df).collect()}
    for i, (_, canon, host) in enumerate(CASES):
        assert got[i] == (canon, host), (CASES[i][0], got[i])


def test_canonicalize_idempotent(spark):
    # canon(canon(x)) == canon(x) — the invariant that makes the
    # canonical URL a safe dedup key across pipeline stages
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(CASES)],
        "doc_id long, url string")
    once = urls.canonicalize(df).select(
        "doc_id", F.col("url_canon").alias("url"))
    twice = urls.canonicalize(once)
    rows = twice.select("doc_id", "url", "url_canon").collect()
    for r in rows:
        assert r["url_canon"] == r["url"], r


def test_domain_stats_dedup_gap(spark):
    # two messy spellings of ONE page + a distinct page on another host
    rows = [
        (0, "https://A.com/p?utm_x=1", "hello world text", "en"),
        (1, "https://a.com/p#frag", "hello world text", "en"),
        (2, "https://b.com/q", "autre texte", "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string, lang string")
    got = {r["host"]: (r["n_pages"], r["n_urls"], r["n_langs"], r["total_chars"])
           for r in urls.domain_stats(df).collect()}
    assert got["a.com"] == (2, 1, 1, 32)   # n_pages > n_urls = duplication
    assert got["b.com"] == (1, 1, 1, 11)
