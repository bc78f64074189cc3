"""Benchmark decontamination — find training documents that contain
any probe string (eval-set excerpts) as an exact substring.

Training corpora must be scrubbed of evaluation data; the standard
first pass is an exact-substring scan of the corpus against a probe
set drawn from the benchmarks.  The probe set is small (10⁴–10⁶ short
strings) next to the corpus (10¹² docs), so the Spark-first plan is a
broadcast nested-loop with the match predicate inside whole-stage
codegen: every executor streams its corpus partition once past the
in-memory probe table — no shuffle of corpus bytes at all.

100 TB posture: cost is O(|corpus| × |probes|) substring scans, all
JVM-side; the corpus never moves.  For probe sets too large to
broadcast, the documented upgrade is the inverted n-gram join (shingle
probes and corpus at a fixed k, equi-join on the shingle, verify the
full substring on the collided pairs) — same output contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contamination_scan(docs: DataFrame, probes: DataFrame) -> DataFrame:
    """One row per (document, probe) hit with the 1-based position of
    the first occurrence.  ``probes`` carries (probe_id, probe)."""
    hits = (docs.select("doc_id", "text")
            .crossJoin(F.broadcast(probes.select("probe_id", "probe")))
            .withColumn("first_pos",
                        F.expr("locate(probe, text)").cast("long"))
            .where(F.col("first_pos") > 0))
    return hits.select("doc_id", "probe_id", "first_pos")


def contamination_scan_shingled(docs: DataFrame, probes: DataFrame,
                                k: int | None = None) -> DataFrame:
    """Same output contract as :func:`contamination_scan`, for probe
    sets too large to broadcast: an inverted k-gram equi-join.

    Each probe is keyed by its FIRST k characters (k = min probe
    length by default — any document containing the probe necessarily
    contains that k-gram at the match position, so recall is exact);
    the corpus explodes its k-grams with positions, the shuffle join
    lands on the k-gram key, and the full probe is verified in place
    with a substring compare at the collided position.  No full-text
    re-scan, no broadcast of probe TEXT: both sides shuffle only on
    the gram key.  Positions are 1-based to match ``locate``.

    The exploded corpus grams are always prefiltered: the DISTINCT
    xxhash64 of the probe grams (8 bytes per distinct gram — small
    even when the probe texts themselves are too large to broadcast)
    is broadcast and the grams are left-semi joined against it BEFORE
    the gram-key exchange, so non-candidate grams never cross the
    wire — the runtime-filter refinement BENCH.md's plan audit called
    out, exact rather than bloom-approximate.  The prefilter drops only
    grams no probe gram hashes to, so the output is that of the plain
    gram join (tests/test_decontam.py keeps that join as the
    differential reference).
    """
    if k is None:
        # model-sized driver read (one scalar), same posture as the
        # IVF centroid reads
        k = probes.agg(F.min(F.length("probe"))).collect()[0][0]
    pg = probes.select("probe_id", "probe",
                       F.substring("probe", 1, k).alias("gram"),
                       F.length("probe").alias("plen"))
    n_grams = F.length(F.col("text")) - F.lit(k) + 1
    positions = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)) \
                 .otherwise(F.array().cast("array<int>"))
    grams = (docs.select("doc_id", "text")
             .withColumn("pos", F.explode(positions))
             .withColumn("gram", F.expr(f"substring(text, pos, {k})")))
    gram_hashes = pg.select(F.xxhash64("gram").alias("_gh")).distinct()
    grams = grams.join(
        F.broadcast(gram_hashes),
        F.xxhash64("gram") == F.col("_gh"), "left_semi")
    hits = (grams.join(pg, "gram")
            .where(F.expr("substring(text, pos, plen) = probe")))
    return (hits.groupBy("doc_id", "probe_id")
            .agg(F.min("pos").cast("long").alias("first_pos"))
            .select("doc_id", "probe_id", "first_pos"))
