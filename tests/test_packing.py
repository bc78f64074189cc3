"""Distributed prefix-sum / sequence packing (operators/packing.py)."""

from pyspark.sql import functions as F

from tegola_spark.operators import packing


def _expected(rows):
    acc, out = 0, {}
    for k, v in sorted(rows):
        out[k] = acc
        acc += v
    return out


def test_prefix_sum_matches_sequential(spark):
    rows = [(i, (i * 7) % 13 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {r["doc_id"]: r["token_offset"]
           for r in packing.prefix_sum(df).collect()}
    assert got == _expected(rows)


def test_prefix_sum_partition_count_invariant(spark):
    rows = [(i, i % 29 + 1) for i in range(300)]
    want = _expected(rows)
    for nparts in (1, 3, 32):
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long") \
            .repartition(nparts)
        got = {r["doc_id"]: r["token_offset"]
               for r in packing.prefix_sum(df).collect()}
        assert got == want, nparts


def test_pack_bins_boundaries(spark):
    # budget 10: docs of 4 tokens each -> offsets 0,4,8,12,...
    rows = [(i, 4) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {r["doc_id"]: (r["bin_id"], r["bin_offset"])
           for r in packing.pack_bins(df, 10).collect()}
    # doc 2 STARTS at offset 8 inside bin 0 (straddles the boundary,
    # belongs to the bin where it starts)
    assert got == {0: (0, 0), 1: (0, 4), 2: (0, 8),
                   3: (1, 2), 4: (1, 6), 5: (2, 0)}
