"""Benchmark decontamination (operators/decontam.py)."""

from pyspark.sql import functions as F

from tegola_spark.operators import decontam

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "a completely unrelated document body here"),
    (2, "prefix quick brown fox suffix and quick brown fox again"),
    (3, "lazy dog stories for lazy dog lovers"),
]
PROBES = [(100, "quick brown fox"), (200, "lazy dog")]


def _mk(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    probes = spark.createDataFrame(PROBES, "probe_id long, probe string")
    return docs, probes


def test_scan_positions_first_occurrence(spark):
    docs, probes = _mk(spark)
    got = {(r["doc_id"], r["probe_id"]): r["first_pos"]
           for r in decontam.contamination_scan(docs, probes).collect()}
    assert got == {
        (0, 100): 5, (0, 200): 36,
        (2, 100): 8,              # first of two occurrences
        (3, 200): 1,              # match at string start is 1-based
    }


def test_shingled_matches_broadcast_scan(spark):
    docs, probes = _mk(spark)
    # min probe length is 8 ("lazy dog"), so the 15-char probe is
    # keyed by its first 8 chars — exercises the partial-gram key
    want = {(r["doc_id"], r["probe_id"]): r["first_pos"]
            for r in decontam.contamination_scan(docs, probes).collect()}
    got = {(r["doc_id"], r["probe_id"]): r["first_pos"]
           for r in decontam.contamination_scan_shingled(
               docs, probes).collect()}
    assert got == want and len(want) == 4


def test_shingled_short_doc_no_grams(spark):
    docs = spark.createDataFrame([(0, "tiny")], "doc_id long, text string")
    probes = spark.createDataFrame([(1, "longer probe")],
                                   "probe_id long, probe string")
    assert decontam.contamination_scan_shingled(docs, probes).count() == 0


def test_broadcast_plan(spark):
    docs, probes = _mk(spark)
    plan = decontam.contamination_scan(docs, probes) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def _unfiltered_shingled(docs, probes):
    """The plain inverted k-gram join with no gram-hash prefilter: the
    reference the prefiltered scan must reproduce."""
    k = probes.agg(F.min(F.length("probe"))).collect()[0][0]
    pg = probes.select("probe_id", "probe",
                       F.substring("probe", 1, k).alias("gram"),
                       F.length("probe").alias("plen"))
    n_grams = F.length(F.col("text")) - F.lit(k) + 1
    grams = (docs.select("doc_id", "text")
             .withColumn("pos", F.explode(F.sequence(F.lit(1), n_grams)))
             .withColumn("gram", F.expr(f"substring(text, pos, {k})")))
    return (grams.join(pg, "gram")
            .where(F.expr("substring(text, pos, plen) = probe"))
            .groupBy("doc_id", "probe_id")
            .agg(F.min("pos").cast("long").alias("first_pos")))


def test_shingled_prefilter_differential(spark):
    docs, probes = _mk(spark)
    base = {(r["doc_id"], r["probe_id"]): r["first_pos"]
            for r in _unfiltered_shingled(docs, probes).collect()}
    pre = {(r["doc_id"], r["probe_id"]): r["first_pos"]
           for r in decontam.contamination_scan_shingled(
               docs, probes).collect()}
    assert pre == base and len(base) == 4


def test_shingled_prefilter_runs_before_gram_exchange(spark):
    """The broadcast semi-join on gram hashes must sit BELOW the
    gram-key shuffle, so non-candidate grams never cross the wire."""
    docs, probes = _mk(spark)
    plan = decontam.contamination_scan_shingled(docs, probes) \
        ._jdf.queryExecution().executedPlan().toString()
    semi = plan.index("LeftSemi")
    gram_exchange = plan.index("Exchange hashpartitioning(gram")
    # the plan tree prints parents first: the semi-join appearing
    # AFTER the gram exchange in the text means it executes below it
    assert semi > gram_exchange
