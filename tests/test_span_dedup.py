"""Span-level dedup / boilerplate removal (operators/dedup.span_dedup)
and vocab_topk (operators/textstats.vocab_topk).

Semantics under test (hand-computed):
  * first-occurrence mode keeps the globally lowest (doc, pos) copy of
    each distinct 8-word chunk and drops every later copy, including
    in-document repeats;
  * max_df mode drops chunks with document frequency >= threshold from
    EVERY document (the CCNet boilerplate rule);
  * surviving text reassembles in original chunk order;
  * empty documents survive as one empty chunk.
"""

import pytest
from pyspark.sql import functions as F

from tegola_spark.operators import dedup, textstats


@pytest.fixture(scope="module")
def toy(spark):
    return spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),           # 2 spans, both unique-first
            (1, ""),                               # 1 empty span
            (2, "a b c d e f g h x y"),           # span 0 dups doc 0's
            (3, "a b c d e f g h a b c d e f g h"),  # both spans dup doc 0's
            (4, "p q r s t u v w p q r s t u v w"),  # in-doc repeat only
        ],
        "doc_id long, text string",
    )


def _rows(df):
    return {r["id"]: (r["n_spans"], r["n_kept"], r["text_dedup"])
            for r in df.collect()}


def test_first_occurrence_mode(toy):
    got = _rows(dedup.span_dedup(toy))
    assert got[0] == (2, 2, "a b c d e f g h i j")
    assert got[1] == (1, 1, "")
    assert got[2] == (2, 1, "x y")
    assert got[3] == (2, 0, "")
    # in-doc repeat: first copy kept, second dropped
    assert got[4] == (2, 1, "p q r s t u v w")


def test_max_df_mode_drops_everywhere(toy):
    got = _rows(dedup.span_dedup(toy, max_df=2))
    # "a b c d e f g h" has df=3 (docs 0, 2, 3) -> dropped even in doc 0
    assert got[0] == (2, 1, "i j")
    assert got[2] == (2, 1, "x y")
    assert got[3] == (2, 0, "")
    # doc 4's chunk has df=1 (one doc, repeated) -> both copies survive
    assert got[4] == (2, 2, "p q r s t u v w p q r s t u v w")


def test_span_width_respected(spark):
    chunk = " ".join(f"w{i}" for i in range(dedup.SPAN_WORDS))
    df = spark.createDataFrame(
        [(0, f"{chunk} {chunk} tail"), (1, chunk)],
        "doc_id long, text string")
    got = _rows(dedup.span_dedup(df))
    # SPAN_WORDS + SPAN_WORDS + 1 words -> 3 chunks, the second a repeat
    assert got[0] == (3, 2, f"{chunk} tail")
    assert got[1] == (1, 0, "")


def test_thin_exchange_plan(toy):
    """The dedup exchange must not carry span text: the only columns
    flowing into the row_number window are (id, pos, md5)."""
    plan = dedup.span_dedup(toy)._jdf.queryExecution().executedPlan().toString()
    assert "RunningWindowFunction" in plan or "Window" in plan
    # the window input projection carries the hash, never `_span`
    window_section = plan[plan.index("Window"):]
    assert "_span" not in window_section.split("Exchange")[0]


def test_vocab_topk(spark):
    df = spark.createDataFrame(
        [(0, "x y x  z"), (1, "y x w")], "doc_id long, text string")
    got = [(r["word"], r["n"]) for r in textstats.vocab_topk(df, k=3).collect()]
    # double space yields an empty token -> filtered; ties break word-asc
    assert got == [("x", 3), ("y", 2), ("w", 1)]
