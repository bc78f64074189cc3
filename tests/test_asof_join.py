"""Backward as-of join (operators/temporal.asof_join).

Pinned semantics: inclusive match (right.ts <= left.ts, an equal-ts
right row IS matched); greatest (ts, tie_col) right row wins;
unmatched left rows survive with nulls; tolerance nulls out stale
matches without dropping the left row.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tegola_spark.operators.temporal import asof_join


def _t(s):
    return dt.datetime(2025, 1, 1, 0, 0, s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(100, 1, _t(10), 5.0), (101, 1, _t(3), 6.0),
         (102, 2, _t(7), 7.0), (103, 3, _t(1), 8.0)],
        "event_id long, user_id long, ts timestamp, value double")
    right = spark.createDataFrame(
        [(200, 1, _t(2), 1.0), (201, 1, _t(10), 2.0),
         (202, 1, _t(11), 3.0), (203, 2, _t(1), 4.0),
         (204, 2, _t(1), 9.0)],  # equal-ts tie with 203: greater id wins
        "event_id long, user_id long, ts timestamp, value double")
    return left, right


def test_backward_inclusive_match(frames):
    left, right = frames
    got = {r["event_id"]: (r["r_event_id"], r["r_value"])
           for r in asof_join(left, right).collect()}
    assert got[100] == (201, 2.0)   # equal ts matches (inclusive)
    assert got[101] == (200, 1.0)   # ts=11 click is in the future
    assert got[102] == (204, 9.0)   # equal-ts tie: greatest event_id
    assert got[103] == (None, None)  # no prior click -> LEFT nulls


def test_tolerance_nulls_stale_matches(frames):
    left, right = frames
    got = {r["event_id"]: r["r_event_id"]
           for r in asof_join(left, right, tolerance_s=2).collect()}
    assert got[100] == 201          # lag 0 <= 2s
    assert got[101] == 200          # lag 1s
    assert got[102] is None         # lag 6s > 2s -> nulled, row kept
    assert got[103] is None
    assert len(got) == 4


def test_left_columns_pass_through(frames):
    left, right = frames
    out = asof_join(left, right)
    assert out.columns == ["event_id", "user_id", "ts", "value",
                           "r_ts", "r_event_id", "r_value"]
    assert out.count() == left.count()


def test_single_key_exchange_no_join(frames):
    """The plan must contain no join operator at all — the as-of is a
    union + window; each input crosses one hash exchange on the key."""
    left, right = frames
    plan = asof_join(left, right)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # the union is map-side, so ONE exchange total carries both inputs
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(_k" in plan
