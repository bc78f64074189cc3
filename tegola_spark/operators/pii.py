"""PII scrubbing — redaction pass of a training-data pipeline.

Web corpora ship emails, phone numbers, and IP addresses that must be
removed (or at least counted) before training.  The scrub is pure
column expressions — ``regexp_replace`` / ``regexp_count`` run inside
whole-stage codegen, no UDF, no shuffle — so it composes with the
quality/language filters at scan speed.

Pattern portability: every pattern avoids lookarounds and backrefs so
the SAME source string is valid Java regex (Spark), RE2 (DuckDB) and
Python ``re`` (tests) — the discipline established for the BPE token
pattern (textstats.py).  Replacement is SEQUENTIAL (email, then IP,
then phone) with fixed tokens, so the redacted text is a
deterministic function of the input on every engine.

100 TB posture: narrow projection + codegen expressions only;
pushdown-friendly and embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# international-ish: leading + optional, 8+ digits allowing space/-/()
PHONE_RE = r"\+?[0-9][0-9() -]{6,}[0-9]"

EMAIL_TOKEN = "<EMAIL>"
IP_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"


def redact_col(c: Column) -> Column:
    """Sequentially redact emails, IPv4s, then phone-like digit runs."""
    c = F.regexp_replace(c, EMAIL_RE, EMAIL_TOKEN)
    c = F.regexp_replace(c, IPV4_RE, IP_TOKEN)
    return F.regexp_replace(c, PHONE_RE, PHONE_TOKEN)


def scrub_documents(df: DataFrame) -> DataFrame:
    """Per-document PII counts plus the redacted text and its md5 (the
    hash keeps oracle rows narrow while still pinning every byte of
    the redaction output), keyed by ``doc_id``."""
    c = F.col("text")
    return df.select(
        F.col("doc_id"),
        F.regexp_count(c, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(IPV4_RE)).cast("long").alias("n_ipv4"),
        redact_col(c).alias("text_redacted"),
    ).withColumn("redacted_md5", F.md5(F.col("text_redacted").cast("binary")))
