"""Corpus invariants (BASELINE.json input_hint): schema, byte-identical
text extraction per url, exact geocode round-trip."""

import os

import pyspark.sql.functions as F
import pytest

from tegola_spark.sources import corpus


@pytest.fixture(scope="module")
def pages_df(spark, sf_dir):
    df = corpus.pages(spark, sf_dir)
    df.cache()
    df.count()
    yield df
    df.unpersist()


def test_pages_schema(pages_df):
    fields = {f.name: f.dataType.simpleString() for f in pages_df.schema.fields}
    # input_hint: (url string, warc_ts timestamp, html binary, text string, lang string)
    assert fields["url"] == "string"
    assert fields["warc_ts"] == "timestamp"
    assert fields["html"] == "binary"
    assert fields["text"] == "string"
    assert fields["lang"] == "string"


def test_urls_unique(pages_df):
    n = pages_df.count()
    assert pages_df.select("url").distinct().count() == n
    assert n > 0


def test_extracted_text_byte_identical_per_url(pages_df):
    """THE per-row invariant: extract(html) == text, byte for byte."""
    ext = pages_df.select(
        "url", "text", corpus.extract_text("html").alias("extracted"))
    rows = ext.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["extracted"] == r["text"], r["url"]
        # byte-level identity, not just str equality
        assert r["extracted"].encode("utf-8") == r["text"].encode("utf-8")


def test_text_with_markup_characters_survives(spark):
    """Adversarial rows: &, <, >, unicode, newlines must round-trip."""
    import pandas as pd

    texts = ["a & b < c > d", "<p>nested</p>", "&amp; already escaped",
             "emoji \U0001f600 und ümlaut", "line1\nline2\ttab", ""]
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts,
        "lang": ["en"] * len(texts), "source": ["t"] * len(texts),
        "n_chars": [len(t) for t in texts],
    })
    df = spark.createDataFrame(pdf)
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    pages = corpus.pages(spark, d)
    rows = pages.select("text", corpus.extract_text("html").alias("e")).collect()
    for r in rows:
        assert r["e"] == r["text"]


def test_geocode_exact_roundtrip(pages_df, spark, sf_dir):
    """Geocoded lat/lon parsed from html equals the arithmetic formula
    EXACTLY (repr round-trip)."""
    geo = corpus.geocoded_pages(pages_df)
    doc = corpus.documents(spark, sf_dir).select(
        "doc_id",
        corpus.col_lat(F.col("doc_id")).alias("want_lat"),
        corpus.col_lon(F.col("doc_id")).alias("want_lon"),
    )
    j = geo.join(doc, "doc_id")
    bad = j.where(
        (F.col("lat") != F.col("want_lat")) | (F.col("lon") != F.col("want_lon"))
    ).count()
    assert bad == 0
    # and in range
    mm = j.agg(F.min("lat"), F.max("lat"), F.min("lon"), F.max("lon")).first()
    assert -85.05 < mm[0] and mm[1] < 85.05
    assert -180.0 < mm[2] and mm[3] < 180.0


def test_geocoded_points_equal_geocoded_pages(spark, sf_dir):
    """The fused render+geocode kernel (geocoded_points, what the tile
    builds read) yields exactly the rows of the honest path, geocoding
    the rendered pages, on the sf0.01 corpus."""
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    docs = corpus.documents(spark, sf001)
    fused = corpus.geocoded_points(docs)
    honest = corpus.geocoded_pages(corpus.pages(spark, sf001, docs=docs)) \
        .select(*fused.columns)
    n = fused.count()
    assert n == honest.count() == docs.count() > 0
    assert fused.exceptAll(honest).count() == 0
    assert honest.exceptAll(fused).count() == 0
