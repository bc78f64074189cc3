"""Benchmark harness (driver contract).

Runs the headline operators at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "tiles_per_sec": ..., ...}.

The flagship segment is the full tile pipeline (geocode -> spatial
join context -> fan-out -> MVT encode) at zooms 0..5; tiles_per_sec is
the north-star throughput number (BASELINE.json). Run
tools/scaling_bench.py for the two-parallelism-level scaling protocol.

Noise robustness (round-4): each query runs SPARK_GRAFT_BENCH_REPS
times (default 3) after the shared warm-up; the recorded timing is the
best sample and the full per-query spread ships in the JSON, so a
single noisy-neighbor window can no longer swing the round record ±40%.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _expand_documents(df, mult: int):
    """Deterministic corpus expansion for scaling runs: ``mult`` replicas
    with re-keyed doc_ids (same synthetic generator shape, more rows —
    the driver's 'synthesise deterministically at small scale' rule).
    mult=1 is a no-op."""
    from pyspark.sql import functions as F

    if mult <= 1:
        return df
    reps = df.sparkSession.range(mult).select(F.col("id").alias("_rep"))
    return (
        df.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") * mult + F.col("_rep"))
        # make replica text distinct — otherwise every doc has `mult`
        # exact copies and LSH buckets blow up quadratically, which
        # benchmarks a pathology instead of throughput
        .withColumn("text", F.concat(F.col("text"), F.lit(" replica "),
                                     F.col("_rep").cast("string")))
        .drop("_rep")
    )


def run_bench(sf_dir: str, cpus: int, zooms=range(0, 6), scale_mult: int = 1) -> dict:
    from pyspark.sql import functions as F

    from tegola_spark.operators import dedup, spatial_join as sj, textstats
    from tegola_spark.operators import similarity
    from tegola_spark.plans import pipeline
    from tegola_spark.plans.session import get_spark
    from tegola_spark.sources import corpus, layers

    spark = get_spark("tegola_spark_bench", cpus=cpus,
                      shuffle_partitions=max(cpus * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}

    only = {s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s}
    # this host's wall-clock is ±40% noisy under neighbors (BENCH.md);
    # best-of-N inside the one-shot contract makes the recorded number a
    # throughput measurement instead of a noise sample — noise only ever
    # ADDS time, so min(samples) estimates the true cost
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    medians: dict[str, float] = {}

    def timed(name: str, fn):
        if only and name not in only:
            return None
        out = None
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            samples.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(samples)
        # median alongside min (round-4 review): min is the floor
        # estimate on a noisy host, median the typical run — publishing
        # both lets round-over-round deltas be read either way
        medians[name] = round(sorted(samples)[len(samples) // 2], 3)
        spreads[name] = samples
        return out

    # warm the JVM + parquet footers outside the timed sections
    corpus.documents(spark, sf_dir).count()

    docs = _expand_documents(corpus.documents(spark, sf_dir), scale_mult)
    if scale_mult > 1:
        docs = docs.repartition(cpus * 2).cache()
        docs.count()

    # prime python workers + whole-stage codegen + Arrow paths with a
    # tiny end-to-end run (measured: the FIRST grouped-UDF stage in a
    # fresh JVM costs ~5s worker spawn/imports at 32 workers plus
    # first-run JIT; throughput numbers should measure steady state)
    _pm, _pt = pipeline.build_tiles(spark, sf_dir, zooms=[0])
    _pt.count()

    points = docs.select(
        "doc_id",
        corpus.col_lon(F.col("doc_id")).alias("lon"),
        corpus.col_lat(F.col("doc_id")).alias("lat"))

    n_tiles = {}
    anchor_env = os.environ.get("SPARK_GRAFT_ANCHOR_Z")

    def tile_pipeline():
        metrics, tiles = pipeline.build_tiles(
            spark, sf_dir, zooms=list(zooms), docs=docs,
            anchor_z=int(anchor_env) if anchor_env else None)
        row = tiles.agg(F.count("*"), F.sum("tile_len"), F.sum("n_features")).first()
        n_tiles["tiles"] = row[0]
        n_tiles["bytes"] = row[1]
        n_tiles["features"] = row[2]
        return row

    shuffle_pre = _shuffle_totals(spark)  # exclude warmup/expansion stages
    timed("mvt_pipeline", tile_pipeline)
    shuffle = _shuffle_totals(spark)      # pipeline stages only
    if shuffle is not None and shuffle_pre is not None:
        # the timed block ran the pipeline `reps` times; per-run bytes
        shuffle = {k: (shuffle[k] - shuffle_pre[k]) // reps for k in shuffle}
    timed("spatial_join_nations", lambda: sj.spatial_join(
        points, layers.nation_layer(spark, sf_dir), res=6).count())
    timed("spatial_join_regions", lambda: sj.spatial_join(
        points, layers.region_layer(spark, sf_dir), res=2).count())
    knn_queries = spark.createDataFrame(
        [(0, 12.5, 48.1), (1, -73.9, 40.7), (2, 139.7, 35.6)],
        "query_id long, qlon double, qlat double")
    timed("knn_cellring", lambda: sj.knn_cell_ring_df(points, knn_queries, k=10).count())
    timed("tile_fanout_z8", lambda: __import__(
        "tegola_spark.operators.tiling", fromlist=["tiling"]
    ).assign_point_tiles(points, [8]).count())
    timed("dedup_exact", lambda: dedup.exact_dedup(docs).count())
    timed("minhash_pairs", lambda: dedup.minhash_lsh_pairs(
        docs, threshold=0.8).count())
    timed("token_stats", lambda: docs.select(
        textstats.col_token_count(F.col("text")).alias("n")).agg(F.sum("n")).first())
    timed("similarity_topk", lambda: similarity.brute_force_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        list(range(10)), k=5).count())
    timed("extract_text", lambda: corpus.pages(spark, sf_dir, docs=docs).select(
        F.length(corpus.extract_text("html")).alias("n")).agg(F.sum("n")).first())

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "e2e tiles/sec (geocode->join->MVT encode) + operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "scale_mult": scale_mult,
        "bench_reps": reps,
        "queries_median": medians,
        "value_median": round(sum(medians.values()), 3),
        "query_spread": spreads,
    }
    if "mvt_pipeline" in timings:
        # tile figures exist only when the tile build was benchmarked
        result["tiles_per_sec"] = round(
            n_tiles["tiles"] / timings["mvt_pipeline"], 2)
        result["n_tiles"] = int(n_tiles["tiles"])
        result["n_features_encoded"] = int(n_tiles["features"])
        result["tile_bytes"] = int(n_tiles["bytes"])
    if shuffle is not None and n_tiles.get("tiles"):
        # bytes crossing exchanges per produced tile: unlike local-mode
        # wall-clock efficiency (host memcpy-bound, BENCH.md), this IS
        # the quantity that predicts cluster behavior at 100 TB — the
        # anchor level won round 2's scaling gain by cutting it 6x
        result["shuffle_write_bytes"] = shuffle["write"]
        result["shuffle_read_bytes"] = shuffle["read"]
        result["shuffle_bytes_per_tile"] = round(
            shuffle["write"] / n_tiles["tiles"], 1)
    spark.stop()
    return result


def _shuffle_totals(spark):
    """Sum shuffle read/write bytes over all completed stages via the
    status REST API. Requires SPARK_GRAFT_UI=1 (session.py); returns
    None when the UI is off so the default bench protocol is unchanged."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    try:
        apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications",
                                                timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10))
        return {"write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
                "read": sum(s.get("shuffleReadBytes", 0) for s in stages)}
    except (OSError, ValueError, KeyError, IndexError):
        # unreachable UI (URLError is an OSError), a body that is not
        # JSON, or no application listed; any other error is a bug here
        return None


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    scale_mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "1"))
    zmax = int(os.environ.get("SPARK_GRAFT_ZMAX", "5"))
    result = run_bench(sf_dir, cpus, zooms=range(0, zmax + 1), scale_mult=scale_mult)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
