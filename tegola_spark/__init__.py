"""tegola_spark — a PySpark-native spatial-join + vector-tiling engine.

A from-scratch re-expression of go-spatial/tegola's query semantics
(tile math, spatial predicates, geometry pipeline, MVT encoding) on the
Spark DataFrame/SQL engine, extended with the large-scale training-data
operators (dedup, similarity search, text analysis, multimodal plumbing)
a 100 TB web-corpus pipeline needs.

Layout
------
functions/   pure column-expression + NumPy kernels (tile grid, mercator,
             cells, SoA geometry model, text functions) — no Spark required to test
operators/   Spark operators (geometry pipeline, spatial join, kNN, MVT
             encode, dedup, similarity, multimodal plumbing)
sources/     synthetic corpus + layer catalogs + testdata loaders
plans/       end-to-end pipeline builders + session factory
streaming/   incremental/append + checkpoint-resume helpers

Reference semantics are cited per-function as `file:line` into the
go-spatial/tegola snapshot at /root/reference (see SURVEY.md).
"""

__version__ = "0.1.0"
