"""Round-5 additions: integer PageRank, CDX snapshot collapse, and
edit-distance verification (operators/graph.py, operators/dedup.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tegola_spark.operators import dedup, graph


def _ref_pagerank(nodes, edges, iters):
    """Independent plain-Python replay of the integer recurrence
    (dict arithmetic, no DataFrames) — the unit-test oracle."""
    outdeg = {}
    for s, _, w in edges:
        outdeg[s] = outdeg.get(s, 0) + w
    n = len(nodes)
    pr = {v: graph.SCALE for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for s, d, w in edges:
            inflow[d] += w * (pr[s] // outdeg[s])
        dang = sum(pr[v] for v in nodes if v not in outdeg)
        share = dang // n
        pr = {v: 15 * graph.SCALE // 100
              + (85 * (inflow[v] + share)) // 100 for v in nodes}
    return pr


# a graph with a dangling node (D), a hub (A), and weighted edges
_NODES = ["A", "B", "C", "D", "E"]
_EDGES = [("A", "B", 3), ("A", "C", 1), ("B", "A", 2),
          ("C", "A", 1), ("C", "D", 1), ("E", "A", 5)]


def test_pagerank_matches_integer_reference(spark):
    nodes = spark.createDataFrame([(v,) for v in _NODES], "domain string")
    edges = spark.createDataFrame(_EDGES, "src string, dst string, w long")
    got = {r["domain"]: r["pr_micro"]
           for r in graph.pagerank(nodes, edges, iters=5).collect()}
    assert got == _ref_pagerank(_NODES, _EDGES, 5)


def test_pagerank_close_to_float_power_iteration(spark):
    """The floored-integer recurrence tracks the float recurrence to
    within the accumulated floor leak (a few micro-units per sweep)."""
    nodes = spark.createDataFrame([(v,) for v in _NODES], "domain string")
    edges = spark.createDataFrame(_EDGES, "src string, dst string, w long")
    got = {r["domain"]: r["pr_micro"] / graph.SCALE
           for r in graph.pagerank(nodes, edges, iters=5).collect()}
    outdeg = {}
    for s, _, w in _EDGES:
        outdeg[s] = outdeg.get(s, 0) + w
    pr = {v: 1.0 for v in _NODES}
    for _ in range(5):
        inflow = {v: 0.0 for v in _NODES}
        for s, d, w in _EDGES:
            inflow[d] += w * pr[s] / outdeg[s]
        dang = sum(pr[v] for v in _NODES if v not in outdeg)
        pr = {v: 0.15 + 0.85 * (inflow[v] + dang / len(_NODES))
              for v in _NODES}
    for v in _NODES:
        assert got[v] == pytest.approx(pr[v], abs=2e-4)


def test_pagerank_hub_ranks_highest(spark):
    nodes = spark.createDataFrame([(v,) for v in _NODES], "domain string")
    edges = spark.createDataFrame(_EDGES, "src string, dst string, w long")
    rows = graph.pagerank(nodes, edges, iters=5).collect()
    top = max(rows, key=lambda r: r["pr_micro"])
    assert top["domain"] == "A"
    # mass approximately conserved (floor leak only shrinks it)
    total = sum(r["pr_micro"] for r in rows)
    assert len(_NODES) * graph.SCALE * 0.99 < total <= len(_NODES) * graph.SCALE


def test_link_graph_is_deterministic_and_loop_free(spark, sf_dir):
    from tegola_spark.sources import corpus

    docs = corpus.documents(spark, sf_dir)
    n = docs.count()
    e1 = sorted(graph.link_graph(docs, n).collect())
    e2 = sorted(graph.link_graph(docs, n).collect())
    assert e1 == e2 and len(e1) > 0
    assert all(r["src"] != r["dst"] for r in e1)
    # every link lands on a real document's domain
    domains = {r["domain"] for r in docs.select(
        F.concat("source", F.lit(".example.com")).alias("domain"))
        .distinct().collect()}
    assert {r["dst"] for r in e1} <= domains


def test_latest_snapshot_ties_and_singletons(spark):
    snaps = spark.createDataFrame(
        [("u", 1, 10), ("u", 3, 30), ("u", 2, 30),   # ts tie -> max doc_id
         ("v", 9, 5)],
        "url string, doc_id long, ts_epoch long")
    got = {r["url"]: (r["doc_id"], r["ts_epoch"], r["n_snapshots"])
           for r in dedup.latest_snapshot(
               snaps, key_col="url", ts_col="ts_epoch").collect()}
    assert got == {"u": (3, 30, 3), "v": (9, 5, 1)}


def test_edit_distance_verify_integer_decision(spark):
    docs = spark.createDataFrame(
        [(1, "aaaa bbbb cccc"), (2, "aaaa bbbb cccx"),  # dist 1, len 14
         (3, "zzzz"), (4, "qqqqqqqqqq")],               # dist 10, len 10
        "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r
           for r in dedup.edit_distance_verify(docs, pairs).collect()}
    assert got[(1, 2)]["edit_dist"] == 1
    assert got[(1, 2)]["is_editdup"] is True
    assert got[(3, 4)]["edit_dist"] == 10
    assert got[(3, 4)]["is_editdup"] is False


def test_levenshtein_parity_with_duckdb(spark):
    """Spark counts characters, DuckDB counts bytes — identical on
    ASCII. The corpus is ASCII (asserted below), so the oracle
    comparison is safe; non-ASCII corpora would need a projection."""
    pairs = [("kitten", "sitting"), ("", "abc"), ("abc", "abc"),
             ("the quick brown fox", "the quick brwn fx")]
    pdf = spark.createDataFrame(pairs, "x string, y string")
    sp = [r[0] for r in pdf.select(F.levenshtein("x", "y")).collect()]
    dk = [duckdb.sql(f"SELECT levenshtein('{x}', '{y}')").fetchone()[0]
          for x, y in pairs]
    assert sp == dk


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_corpus_text_is_ascii(sf):
    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '/root/testdata/{sf}/documents.parquet' "
        r"WHERE regexp_matches(text, '[^\x00-\x7f]')").fetchone()[0]
    assert n == 0


def _ref_trustrank(nodes, edges, seeds, iters):
    outdeg = {}
    for s, _, w in edges:
        outdeg[s] = outdeg.get(s, 0) + w
    n, ns = len(nodes), len(seeds)
    per_seed = ((100 - 85) * n * graph.SCALE // 100) // ns
    pr = {v: graph.SCALE for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for s, d, w in edges:
            inflow[d] += w * (pr[s] // outdeg[s])
        dang = sum(pr[v] for v in nodes if v not in outdeg)
        share = dang // ns
        pr = {v: (per_seed if v in seeds else 0)
              + (85 * (inflow[v] + (share if v in seeds else 0))) // 100
              for v in nodes}
    return pr


def test_trustrank_matches_integer_reference(spark):
    seeds = {"A", "E"}
    nodes = spark.createDataFrame([(v,) for v in _NODES], "domain string")
    edges = spark.createDataFrame(_EDGES, "src string, dst string, w long")
    sdf = spark.createDataFrame([(v,) for v in sorted(seeds)], "domain string")
    got = {r["domain"]: r["pr_micro"]
           for r in graph.pagerank(nodes, edges, iters=5, seeds=sdf).collect()}
    assert got == _ref_trustrank(_NODES, _EDGES, seeds, 5)


def test_trustrank_trust_decays_from_seeds(spark):
    # chain a -> b -> c -> d, seed = {a}: trust must strictly decay
    nodes = spark.createDataFrame([(v,) for v in "abcd"], "domain string")
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)],
        "src string, dst string, w long")
    sdf = spark.createDataFrame([("a",)], "domain string")
    got = {r["domain"]: r["pr_micro"]
           for r in graph.pagerank(nodes, edges, iters=8, seeds=sdf).collect()}
    assert got["a"] > got["b"] > got["c"] > got["d"]


def test_trustrank_rejects_empty_seed_set(spark):
    import pytest as _pytest

    nodes = spark.createDataFrame([("a",)], "domain string")
    edges = spark.createDataFrame([], "src string, dst string, w long")
    empty = spark.createDataFrame([], "domain string")
    with _pytest.raises(ValueError):
        graph.pagerank(nodes, edges, seeds=empty)


@pytest.mark.parametrize("sf_path", ["/root/testdata/sf0.001",
                                     "/root/testdata/sf0.01"])
def test_top_en_seeds_nonempty_and_bounded(spark, sf_path):
    from tegola_spark.sources import corpus

    docs = corpus.documents(spark, sf_path)
    seeds = graph.top_en_seeds(docs).collect()
    assert 1 <= len(seeds) <= graph.N_SEEDS
    assert all(r["domain"].endswith(".example.com") for r in seeds)
