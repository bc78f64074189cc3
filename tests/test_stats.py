"""Exact quantiles (operators/stats.exact_quantiles): rank arithmetic
and tie behavior."""

from pyspark.sql import functions as F

from tegola_spark.operators.stats import QUANTILES, exact_quantiles


def _q(df):
    out = exact_quantiles(df, "g", "v").collect()
    got = {(r["g"], r["q"]): (r["n"], r["value"]) for r in out}
    # every group yields one row per quantile point
    groups = {g for g, _ in got}
    assert set(got) == {(g, q) for g in groups for q in QUANTILES}
    return got


def test_known_ranks(spark):
    # g=0: values 1..10 -> p50 = ceil(0.5*10)=rank 5 -> 5.0
    df = spark.createDataFrame(
        [(0, float(i)) for i in range(1, 11)], "g long, v double")
    got = _q(df)
    assert got[(0, 0.5)] == (10, 5.0)
    assert got[(0, 0.9)] == (10, 9.0)
    assert got[(0, 0.99)] == (10, 10.0)   # rank ceil(9.9) = 10


def test_ties_give_unique_order_statistic(spark):
    # k-th order statistic is unique even when row_number among equal
    # values is arbitrary
    df = spark.createDataFrame(
        [(0, v) for v in [1.0, 2.0, 2.0, 2.0, 3.0]], "g long, v double")
    got = _q(df)
    assert got[(0, 0.5)] == (5, 2.0)


def test_singleton_group(spark):
    df = spark.createDataFrame([(0, 7.5)], "g long, v double")
    got = _q(df)
    assert got[(0, 0.5)] == (1, 7.5)
    assert got[(0, 0.99)] == (1, 7.5)


def test_multiple_groups_independent(spark):
    df = spark.createDataFrame(
        [(0, float(i)) for i in range(1, 5)] +
        [(1, float(i * 100)) for i in range(1, 5)], "g long, v double")
    got = _q(df)
    assert got[(0, 0.5)] == (4, 2.0)
    assert got[(1, 0.5)] == (4, 200.0)


def test_global_quantile_matches_sorted_list(spark):
    import math

    from tegola_spark.operators.stats import global_quantile
    vals = [float(v) for v in [5, 1, 9, 3, 3, 7, 2, 8, 3, 6, 4, 0]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    s = sorted(vals)
    for q in (0.1, 0.5, 0.9, 1.0):
        want = s[max(1, math.ceil(q * len(s))) - 1]
        for parts in (1, 4, 11):
            got = global_quantile(df.repartition(parts), "x", q).collect()
            assert len(got) == 1 and got[0]["v"] == want, (q, parts)


def test_global_quantile_heavy_ties(spark):
    from pyspark.sql import functions as F

    from tegola_spark.operators.stats import global_quantile
    # 1000 rows, only 3 distinct values -> ties straddle partitions
    df = spark.range(1000).select((F.col("id") % 3).cast("double").alias("x"))
    assert global_quantile(df, "x", 0.5).collect()[0]["v"] == 1.0
    assert global_quantile(df, "x", 0.01).collect()[0]["v"] == 0.0
    assert global_quantile(df, "x", 0.99).collect()[0]["v"] == 2.0
