"""Round-6: capture .explain("formatted") for the bench queries into
plans/r06/<query>_<suffix>.txt. Usage:
  python tools/capture_plans.py <repo_root> <suffix> [outdir]
Runs against the package in <repo_root> (so the round-start worktree
yields the _before plans). explain() only — no jobs executed."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout


def main():
    repo = sys.argv[1]
    suffix = sys.argv[2]
    outdir = sys.argv[3] if len(sys.argv) > 3 else "/root/repo/plans/r06"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    sys.path.insert(0, repo)

    from pyspark.sql import functions as F

    from tegola_spark.operators import dedup, similarity, spatial_join as sj, \
        textstats, tiling
    from tegola_spark.plans import pipeline
    from tegola_spark.plans.session import get_spark
    from tegola_spark.sources import corpus, layers

    spark = get_spark("capture_plans", cpus=32, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(outdir, exist_ok=True)

    docs = corpus.documents(spark, sf_dir)
    points = docs.select(
        "doc_id",
        corpus.col_lon(F.col("doc_id")).alias("lon"),
        corpus.col_lat(F.col("doc_id")).alias("lat"))

    def build_mvt():
        _m, tiles = pipeline.build_tiles(
            spark, sf_dir, zooms=list(range(0, 6)), docs=docs)
        return tiles.agg(F.count("*"), F.sum("tile_len"), F.sum("n_features"))

    targets = {
        "mvt_pipeline": build_mvt,
        "spatial_join_nations": lambda: sj.spatial_join(
            points, layers.nation_layer(spark, sf_dir), res=6),
        "spatial_join_regions": lambda: sj.spatial_join(
            points, layers.region_layer(spark, sf_dir), res=2),
        "knn_bruteforce": lambda: sj.knn_bruteforce(
            points, [(0, 12.5, 48.1), (1, -73.9, 40.7), (2, 139.7, 35.6)], k=10),
        "tile_fanout_z8": lambda: tiling.assign_point_tiles(points, [8]),
        "dedup_exact": lambda: dedup.exact_dedup(docs),
        "minhash_pairs": lambda: dedup.minhash_lsh_pairs(docs, threshold=0.8),
        "token_stats": lambda: docs.select(
            textstats.col_token_count(F.col("text")).alias("n")).agg(F.sum("n")),
        "similarity_topk": lambda: similarity.brute_force_topk(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            list(range(10)), k=5),
        "extract_text": lambda: corpus.pages(spark, sf_dir, docs=docs).select(
            F.length(corpus.extract_text("html")).alias("n")).agg(F.sum("n")),
    }
    for name, fn in targets.items():
        try:
            df = fn()
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"captured {name}_{suffix}", file=sys.stderr)
        except Exception as e:  # pragma: no cover
            print(f"FAILED {name}: {e}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
