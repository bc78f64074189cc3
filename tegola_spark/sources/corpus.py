"""Synthetic Common-Crawl-style page corpus + extraction + geocoding.

BASELINE.json input_hint mandates the input shape
``(url string, warc_ts timestamp, html binary, text string, lang
string)`` with a per-row invariant: extracted text byte-identical per
url. No such table ships in /root/testdata, so the corpus is DERIVED
deterministically from the driver's ``documents`` table (doc_id, text,
lang, source, n_chars): the html wraps the text in a fixed template
with embedded geo meta tags, and the extractor inverts it exactly.

Geocoding is deterministic integer arithmetic on doc_id so the DuckDB
oracle can reproduce it with plain SQL (the constants below appear in
__spark_entry__.oracle_sql too):

    lon = ((doc_id * 7919)   % 360000) / 1000.0 - 180.0 + 0.0005
    lat = ((doc_id * 104729) % 170000) / 1000.0 -  85.0 + 0.0005

Everything row-wise runs as Arrow-vectorized pandas UDFs (input_hint:
no per-row Python) operating on pandas str ops / NumPy.

Reference parity hooks: the html->text invariant models tegola's
"feature tags pass through the pipeline unchanged"; the geo meta tag
is the stand-in for the geocoder the north star requires.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# geocode constants — the oracle SQL in __spark_entry__ repeats them
LON_MULT = 7919
LAT_MULT = 104729

# epoch seconds of 2025-01-01T00:00:00Z
_TS_BASE = 1735689600


# Spread threshold (bytes): below this the corpus is too small for the
# one-exchange spread to pay for itself (and the tiny unit-test fixtures
# keep their pinned single-stage plans).
_SPREAD_MIN_BYTES = 256 * 1024


def spread_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Round-6 input-skew fix (optimization guide §2.5 "one huge
    unsplittable file ... repartition immediately after the read"): the
    small-SF corpora are ONE parquet file with ONE row group, so the
    scan plans 1-2 tasks and every per-row stage below the first
    exchange (minhash signatures, html render/extract, token stats,
    embedding dot products) runs on one core of local[32]. When the
    scan has fewer splits than half the cores, hash-repartition on the
    row key (deterministic under retries — guide §2.5 warns off
    round-robin/rand keys) so downstream per-row work parallelizes.
    Conditional by construction: a real multi-file corpus at scale
    already scans wider than the core count, making this a no-op."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= par:
        return df
    n_bytes = 0
    for f in df.inputFiles():
        p = f[len("file:"):] if f.startswith("file:") else f
        try:
            n_bytes += os.path.getsize(p)
        except OSError:  # not a local file (s3a://, hdfs://, ...)
            return df
    if n_bytes < _SPREAD_MIN_BYTES:
        return df
    return df.repartition(par, F.col(key_col))


def footer_rows(df: DataFrame) -> int | None:
    """Row count of a frame whose rows are its parquet files' rows (a
    scan, projections of scans, unions of distinct scans), summed from
    the file footers on the driver: exact, and no Spark job. None when a
    file is not local (s3a://, hdfs://, ...) or cannot be read, so the
    caller counts with a job instead."""
    import pyarrow.parquet as pq

    n = 0
    for f in df.inputFiles():
        if not f.startswith("file:"):
            return None
        try:
            n += pq.read_metadata(unquote(urlparse(f).path)).num_rows
        except OSError:
            return None
    return n


# the corpus table's columns, shared by the test corpora and the
# benchmark's generated inputs; declared so no schema-inference job runs
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread here: consumers that do per-row python/heavy work call
    # spread_scan themselves (pages, geocoded_points, minhash/simhash
    # signatures, spatial join points, ...). Spreading at the source
    # taxed the pure-aggregation consumers instead — exact_dedup's
    # exchange went from 16-byte map-side-aggregated hashes to the full
    # text column (measured +0.5 s), exactly the "shuffle fewer bytes"
    # inversion guide §2.3 warns about.
    return spark.read.schema(_DOC_SCHEMA).parquet(f"{sf_dir}/documents.parquet")


def col_lon(doc_id):
    return ((doc_id * F.lit(LON_MULT)) % 360000).cast("double") / 1000.0 - 180.0 + 0.0005


def col_lat(doc_id):
    return ((doc_id * F.lit(LAT_MULT)) % 170000).cast("double") / 1000.0 - 85.0 + 0.0005


def _escape(s: pd.Series) -> pd.Series:
    return (
        s.str.replace("&", "&amp;", regex=False)
        .str.replace("<", "&lt;", regex=False)
        .str.replace(">", "&gt;", regex=False)
    )


def _unescape(s: pd.Series) -> pd.Series:
    return (
        s.str.replace("&gt;", ">", regex=False)
        .str.replace("&lt;", "<", regex=False)
        .str.replace("&amp;", "&", regex=False)
    )


# the geocoder's reads of the page's geo.position meta tag
_GEO_LAT_RE = r'geo\.position" content="([^;]+);'
_GEO_LON_RE = r'geo\.position" content="[^;]+;([^"]+)"'


def _page_html(text: pd.Series, url: pd.Series, lat: pd.Series,
               lon: pd.Series) -> pd.Series:
    """The page template, as str. repr() is the shortest float
    round-trip representation — the geocoder re-parses these EXACT
    doubles back out."""
    return (
        '<html><head><meta name="geo.position" content="'
        + lat.map(repr) + ";" + lon.map(repr)
        + '"/><meta charset="utf-8"/><title>' + url
        + "</title></head><body><article><p>" + _escape(text.fillna(""))
        + "</p></article></body></html>"
    )


@F.pandas_udf(T.BinaryType())
def _render_html(text: pd.Series, url: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.Series:
    return _page_html(text, url, lat, lon).map(lambda s: s.encode("utf-8"))


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """html binary -> text, the exact inverse of the renderer.

    Per-row invariant (BASELINE.json input_hint): byte-identical to the
    `text` column per url — enforced by tests/test_corpus_spark.py.
    """
    s = html.map(lambda b: b.decode("utf-8") if b is not None else "")
    inner = s.str.extract(r"(?s)<p>(.*)</p>", expand=False).fillna("")
    return _unescape(inner)


@F.pandas_udf(T.DoubleType())
def geocode_lat(html: pd.Series) -> pd.Series:
    s = html.map(lambda b: b.decode("utf-8") if b is not None else "")
    return s.str.extract(_GEO_LAT_RE, expand=False).astype(float)


@F.pandas_udf(T.DoubleType())
def geocode_lon(html: pd.Series) -> pd.Series:
    s = html.map(lambda b: b.decode("utf-8") if b is not None else "")
    return s.str.extract(_GEO_LON_RE, expand=False).astype(float)


def pages(spark: SparkSession, sf_dir: str, docs: DataFrame | None = None) -> DataFrame:
    """The input_hint table: (url, warc_ts, html, text, lang) + doc_id
    kept as the parity key alongside url. ``docs`` overrides the
    documents source (scaling benches pass an expanded corpus)."""
    doc = documents(spark, sf_dir) if docs is None else docs
    # the render UDF below is the expensive per-row stage — spread an
    # under-split scan so it runs core-wide (no-op on real multi-file
    # corpora and on tiny test fixtures)
    doc = spread_scan(doc, "doc_id")
    base = doc.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(_TS_BASE) + (F.col("doc_id") % 31536000)
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        col_lat(F.col("doc_id")).alias("_lat"),
        col_lon(F.col("doc_id")).alias("_lon"),
    )
    return base.select(
        "doc_id", "url", "warc_ts",
        _render_html("text", "url", "_lat", "_lon").alias("html"),
        "text", "lang",
    )


def geocoded_pages(pages_df: DataFrame) -> DataFrame:
    """pages -> + (lat, lon) parsed from the html (the honest engine
    path: geocode FROM the page, not from doc_id)."""
    return pages_df.withColumn("lat", geocode_lat("html")) \
                   .withColumn("lon", geocode_lon("html"))


@F.pandas_udf(T.StructType([T.StructField("lat", T.DoubleType()),
                            T.StructField("lon", T.DoubleType())]))
def _render_and_geocode(text: pd.Series, url: pd.Series,
                        lat_in: pd.Series, lon_in: pd.Series) -> pd.DataFrame:
    """Fused render -> geocode for consumers that need only the parsed
    coordinates (round-6, guide §4.1): the split path shipped the full
    html binary across the JVM/Python boundary three times (render out,
    then back in for geocode_lat AND again for geocode_lon, each
    re-decoding the bytes). Here the page is rendered and parsed inside
    one Arrow batch pass — the honest path is unchanged (coordinates
    still come from regex-parsing the rendered page, exactly the
    geocode_lat/geocode_lon expressions), but only (text, url) cross in
    and 16 bytes/row cross out."""
    html = _page_html(text, url, lat_in, lon_in)
    lat = html.str.extract(_GEO_LAT_RE, expand=False).astype(float)
    lon = html.str.extract(_GEO_LON_RE, expand=False).astype(float)
    return pd.DataFrame({"lat": lat, "lon": lon})


def geocoded_points(doc: DataFrame) -> DataFrame:
    """documents -> (doc_id, url, lang, lat, lon) through the fused
    render+geocode kernel — same values as
    ``geocoded_pages(pages(...))`` (pinned by
    tests/test_corpus_spark.py::test_geocoded_points_equal_geocoded_pages),
    one python stage instead of three and no html bytes on the return
    path."""
    doc = spread_scan(doc, "doc_id")
    base = doc.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("lang"),
        F.col("text"),
        col_lat(F.col("doc_id")).alias("_lat"),
        col_lon(F.col("doc_id")).alias("_lon"),
    )
    geo = base.withColumn(
        "_g", _render_and_geocode("text", "url", "_lat", "_lon"))
    return geo.select("doc_id", "url", "lang",
                      F.col("_g.lat").alias("lat"),
                      F.col("_g.lon").alias("lon"))
