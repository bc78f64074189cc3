"""Keyless interval join and hypertable time rollup
(operators/temporal.interval_join / time_rollup)."""

import datetime as dt

from pyspark.sql import functions as F

from tegola_spark.operators.temporal import (BUCKET_S, LEVELS,
                                             interval_join, time_rollup)


def _t(h, m=0, s=0):
    return dt.datetime(2025, 1, 1, h, m, s)


def test_interval_join_boundaries(spark):
    points = spark.createDataFrame(
        [(0, _t(1)), (1, _t(2)), (2, _t(4)), (3, _t(23))],
        "pid long, ts timestamp")
    intervals = spark.createDataFrame(
        [(10, _t(1), _t(4)),      # pid 0 at start (inclusive), pid 2 at end (exclusive)
         (11, _t(1, 30), _t(22))],  # spans many 6h cells
        "iid long, t_start timestamp, t_end timestamp")
    got = sorted((r["pid"], r["iid"]) for r in
                 interval_join(points, intervals).collect())
    assert got == [(0, 10), (1, 10), (1, 11), (2, 11)]


def test_interval_join_no_duplicate_pairs(spark):
    # one point inside an interval spanning 5 cells: the pair must
    # appear exactly once
    start = _t(0)
    end = start + dt.timedelta(seconds=4 * BUCKET_S + 1)
    points = spark.createDataFrame(
        [(0, start + dt.timedelta(seconds=2 * BUCKET_S + 7))],
        "pid long, ts timestamp")
    intervals = spark.createDataFrame(
        [(10, start, end)], "iid long, t_start timestamp, t_end timestamp")
    out = interval_join(points, intervals).collect()
    assert len(out) == 1


def test_time_rollup_cascade_matches_direct(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    rolled = {(r["level_s"], r["bucket"]):
              (r["n_events"], round(r["sum_value"], 6),
               r["min_value"], r["max_value"])
              for r in time_rollup(ev).collect()}
    for level in LEVELS:
        direct = (ev.groupBy(
                      F.floor(F.unix_timestamp("ts") / level)
                      .cast("long").alias("bucket"))
                    .agg(F.count("*").alias("n"),
                         F.sum("value").alias("s"),
                         F.min("value").alias("lo"),
                         F.max("value").alias("hi"))).collect()
        assert len(direct) == sum(1 for k in rolled if k[0] == level)
        for r in direct:
            n, s, lo, hi = rolled[(level, r["bucket"])]
            assert n == r["n"] and lo == r["lo"] and hi == r["hi"]
            assert s == round(r["s"], 6) or abs(s - r["s"]) < 1e-6

