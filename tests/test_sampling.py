"""Deterministic stratified sampling (operators/sampling.py)."""

import hashlib

from pyspark.sql import functions as F

from tegola_spark.operators import sampling


def _py_bucket(salt: str, doc_id: int) -> int:
    h = hashlib.md5((salt + str(doc_id)).encode()).hexdigest()
    return int(h[:12], 16) % sampling.RESOLUTION


def test_bucket_matches_reference_md5(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    got = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id",
        sampling.sample_bucket_col(F.col("doc_id"), "mix-v1").alias("b")
    ).collect()}
    assert got == {i: _py_bucket("mix-v1", i) for i in range(200)}


def test_stratified_rates_and_determinism(spark):
    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_sample(df, {"en": 0.5}, default_rate=0.0)
    kept = out.collect()
    # default stratum fully dropped; en kept iff bucket under threshold
    assert all(r["lang"] == "en" for r in kept)
    expect = {i for i, lang in rows
              if lang == "en" and _py_bucket("mix-v1", i) < 500000}
    assert {r["doc_id"] for r in kept} == expect
    # rerun is bit-identical (no RNG state)
    again = {r["doc_id"] for r in
             sampling.stratified_sample(df, {"en": 0.5},
                                        default_rate=0.0).collect()}
    assert again == expect


def test_split_independent_of_sample_salt(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = sampling.assign_split(df).collect()
    hold = {r["doc_id"] for r in out if r["split"] == "holdout"}
    thr = round(sampling.HOLDOUT_RATE * sampling.RESOLUTION)
    assert thr == 100000
    assert hold == {i for i in range(1000)
                    if _py_bucket("split-v1", i) < thr}
    # different salt family => not the same subset as mix-v1 sampling
    mix = {i for i in range(1000) if _py_bucket("mix-v1", i) < thr}
    assert hold != mix


def test_mixture_sample_multiplicities(spark):
    from tegola_spark.operators.sampling import (RESOLUTION, mixture_sample,
                                                 sample_bucket_col)
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 2)) for i in range(200)],
        "doc_id long, source string")
    out = mixture_sample(docs, {"s0": 2.5, "s1": 0.25}).collect()
    counts = {}
    for r in out:
        counts.setdefault(r["doc_id"], []).append(r["copy_id"])
    buckets = {r["doc_id"]: r["b"] for r in docs.select(
        "doc_id", sample_bucket_col(F.col("doc_id"), "mixture-v1").alias("b")
    ).collect()}
    for i in range(200):
        got = sorted(counts.get(i, []))
        frac_thr = 500_000 if i % 2 == 0 else 250_000
        base = 2 if i % 2 == 0 else 0
        want = base + (1 if buckets[i] < frac_thr else 0)
        assert got == list(range(want)), (i, got, want)


def test_mixture_sample_deterministic_and_maponly(spark):
    from tegola_spark.operators.sampling import mixture_sample
    docs = spark.createDataFrame(
        [(i, "w") for i in range(50)], "doc_id long, source string")
    a = sorted((r["doc_id"], r["copy_id"]) for r in
               mixture_sample(docs, {"w": 1.75}).collect())
    b = sorted((r["doc_id"], r["copy_id"]) for r in
               mixture_sample(docs, {"w": 1.75}).collect())
    assert a == b and len(a) > 50
    plan = mixture_sample(docs, {"w": 1.75})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_mixture_sample_empty_weights(spark):
    # no per-stratum weights: every row takes the default weight
    from tegola_spark.operators.sampling import mixture_sample
    docs = spark.createDataFrame(
        [(i, "w") for i in range(50)], "doc_id long, source string")
    assert mixture_sample(docs, {}).count() == 50
    assert mixture_sample(docs, {}, default_weight=2.0).count() == 100
