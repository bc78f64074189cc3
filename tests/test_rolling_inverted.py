"""Round-5 additions: RANGE-frame rolling stats and inverted-index
posting lists (operators/temporal.py, operators/textstats.py)."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from tegola_spark.operators import temporal, textstats


def _ts(s):
    return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)


def test_rolling_window_boundaries_and_peers(spark):
    ev = spark.createDataFrame(
        [(1, 7, _ts(1000), 2.0),
         (2, 7, _ts(4599), 3.0),    # 3599s after ev1 -> ev1 in frame
         (3, 7, _ts(4600), 5.0),    # 3600s after ev1 -> ev1 out
         (4, 7, _ts(4600), 7.0),    # co-timestamped peer of ev3
         (5, 8, _ts(4600), 11.0)],  # other user
        "event_id long, user_id long, ts timestamp, value double")
    got = {r["event_id"]: (r["roll_n"], r["roll_sum_micro"])
           for r in temporal.rolling_user_stats(ev).collect()}
    assert got[1] == (1, 2_000_000)
    assert got[2] == (2, 5_000_000)
    # RANGE frame: co-timestamped events are peers of each other, and
    # ev2 (4599 >= 4600-3599) is still inside
    assert got[3] == (3, 15_000_000)
    assert got[4] == (3, 15_000_000)
    assert got[5] == (1, 11_000_000)


def test_rolling_window_negative_values_exact(spark):
    ev = spark.createDataFrame(
        [(1, 1, _ts(100), -1.5), (2, 1, _ts(101), 0.25)],
        "event_id long, user_id long, ts timestamp, value double")
    got = {r["event_id"]: r["roll_sum_micro"]
           for r in temporal.rolling_user_stats(ev).collect()}
    assert got[1] == -1_500_000
    assert got[2] == -1_250_000


def test_rolling_window_single_exchange(spark):
    ev = spark.createDataFrame(
        [(1, 1, _ts(100), 1.0)],
        "event_id long, user_id long, ts timestamp, value double")
    plan = temporal.rolling_user_stats(ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan


def test_inverted_index_postings(spark):
    docs = spark.createDataFrame(
        [(3, "a b a"), (1, "a c"), (2, "b b d")],
        "doc_id long, text string")
    got = {r["term"]: r for r in
           textstats.inverted_index(docs, min_df=1).collect()}
    assert got["a"]["postings"] == "1:1,3:2"
    assert got["a"]["df"] == 2 and got["a"]["tf_total"] == 3
    assert got["b"]["postings"] == "2:2,3:1"
    assert got["d"]["df"] == 1
    # min_df elision
    only_common = {r["term"] for r in
                   textstats.inverted_index(docs, min_df=2).collect()}
    assert only_common == {"a", "b"}


def test_inverted_index_deterministic_under_repartition(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i % 3} common w{i % 5}") for i in range(40)],
        "doc_id long, text string")
    a = sorted(textstats.inverted_index(docs).collect())
    b = sorted(textstats.inverted_index(docs.repartition(7)).collect())
    assert a == b
