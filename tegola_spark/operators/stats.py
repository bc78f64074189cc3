"""Exact order statistics and multi-dimensional OLAP rollups.

Engine extras next to the HLL sketch: exact per-group quantiles (the
deterministic counterpart to percentile_approx, whose GK sketch is not
reproducible across engines) and cube aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

QUANTILES = (0.5, 0.9, 0.99)   # exact_quantiles' quantile points


def exact_quantiles(df: DataFrame, group_col: str,
                    value_col: str) -> DataFrame:
    """Exact type-1 (lower) quantiles per group: the value at rank
    ceil(q * n) in ascending order, for each q in ``QUANTILES``.
    Returns (group, q, n, value).

    Plan: ONE exchange sorts each group (window row_number + count);
    the (group, q, target_rank) frame is groups x |QUANTILES| rows and
    broadcasts, so selection is map-side — the driver never sees more
    than the quantile rows. Equal values make row_number order among
    ties arbitrary, but the k-th ORDER STATISTIC is unique, so the
    output is deterministic regardless. At extreme scale a two-pass
    histogram select would avoid the full per-group sort; the window
    form is the exact, allocation-free baseline.
    """
    spark = df.sparkSession
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    ranked = df.select(
        group_col, F.col(value_col).alias("value"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(group_col)).alias("n"))
    qf = spark.createDataFrame([(float(q),) for q in QUANTILES], "q double")
    targets = (ranked.select(group_col, "n").distinct()
               .crossJoin(F.broadcast(qf))
               .withColumn("_rn", F.ceil(F.col("q") * F.col("n")).cast("int")))
    return (ranked.join(F.broadcast(targets.select(group_col, "q", "_rn")),
                        [group_col, "_rn"])
            .select(group_col, "q", "n", "value"))


def global_quantile(df: DataFrame, value_col: str, q: float) -> DataFrame:
    """Exact global type-1 quantile WITHOUT the single-partition sort
    that a one-global-group window would force: range-repartition on
    the value, per-partition counts (ONE ROW per partition to the
    driver — the same bounded materialization as packing.prefix_sum),
    locate the partition holding rank ceil(q*n), then a
    partition-LOCAL rank window picks the value executor-side.

    Returns a 1-row DataFrame (column ``v``). The k-th order statistic
    is invariant to tie order and to where the sampled range
    boundaries fall (counts give exact global rank positions per
    partition), so the result is deterministic at any partition count.
    """
    import math

    part = (df.select(F.col(value_col).alias("v"))
            .repartitionByRange(F.col("v"))
            .withColumn("_pid", F.spark_partition_id()))
    counts = sorted((r["_pid"], r["n"]) for r in
                    part.groupBy("_pid").agg(F.count("*").alias("n"))
                    .collect())
    n = sum(c for _, c in counts)
    if n == 0:
        raise ValueError("global_quantile on an empty frame")
    k = max(1, int(math.ceil(q * n)))
    acc, target_pid, local_k = 0, counts[-1][0], counts[-1][1]
    for pid, c in counts:
        if k <= acc + c:
            target_pid, local_k = pid, k - acc
            break
        acc += c
    w = Window.partitionBy("_pid").orderBy("v")
    return (part.where(F.col("_pid") == target_pid)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == local_k)
            .select("v"))
