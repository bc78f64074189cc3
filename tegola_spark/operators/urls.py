"""URL canonicalization and domain-level rollups.

Web-corpus dedup is URL-first: the same page is crawled many times
under trivially different URLs (tracking params, fragments, case in
the authority, trailing slashes), so the pipeline canonicalizes
before any content hashing, and per-domain statistics drive
source-level filtering (spam/SEO domains).

Canonicalization contract (applied in order, each a single
``regexp_replace`` — all portable RE2/Java patterns, no lookarounds;
the backreference steps note their dialect):

1. drop the fragment (``#...``)
2. drop tracking params (``utm_*``/``fbclid``/``gclid``/``ref``),
   matched as whole names right after ``?``/``&`` (so ``xref`` stays) —
   two passes: a run of params each followed by ``&`` (the leading
   separator is captured and put back: RE2 has no lookbehind), then a
   param at the end
3. collapse the leftover ``?&`` to ``?``
4. drop default ports ``:80``/``:443`` on the authority
5. drop a trailing slash on non-root paths
6. lowercase scheme+authority (host case is insignificant per RFC
   3986; path case is preserved)

100 TB posture: pure codegen column expressions, pushdown-friendly,
no shuffle; the domain rollup is one partial-agg groupBy on the
extracted host.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACK = r"(?:utm_[A-Za-z0-9_]+|fbclid|gclid|ref)"


def canonicalize_url_col(c: Column) -> Column:
    c = F.regexp_replace(c, r"#.*$", "")
    # Java-dialect backrefs ($1); the DuckDB oracle states \1
    c = F.regexp_replace(c, r"([?&])(?:" + _TRACK + r"=[^&]*&)+", r"$1")
    c = F.regexp_replace(c, r"[?&]" + _TRACK + r"=[^&]*$", "")
    c = F.regexp_replace(c, r"\?&", "?")
    c = F.regexp_replace(c, r"^([A-Za-z]+://[^/:]*):(?:80|443)(/|$)", r"$1$2")
    c = F.regexp_replace(c, r"([^/])/$", r"$1")
    head = F.regexp_extract(c, r"^[A-Za-z]+://[^/]*", 0)
    rest = F.substring(c, F.length(head) + 1, F.length(c))
    return F.concat(F.lower(head), rest)


def host_col(c: Column) -> Column:
    """Lowercased authority host (port and userinfo excluded)."""
    return F.lower(F.regexp_extract(c, r"^[A-Za-z]+://(?:[^/@]*@)?([^/:]*)", 1))


def canonicalize(df: DataFrame) -> DataFrame:
    out = df.withColumn("url_canon", canonicalize_url_col(F.col("url")))
    return out.withColumn("host", host_col(F.col("url_canon")))


def domain_stats(df: DataFrame) -> DataFrame:
    """Per-domain rollup over canonical URLs: page/distinct-URL
    counts (their gap = intra-domain URL duplication), language
    spread, and text volume."""
    c = canonicalize(df)
    return (c.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("url_canon").alias("n_urls"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length(F.col("text")).cast("long")).alias("total_chars")))
