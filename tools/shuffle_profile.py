"""Per-stage shuffle-byte profile of the tile pipeline at a given
config — identifies WHICH exchange dominates before optimizing it.

Usage: SPARK_GRAFT_SCALE_MULT=600 SPARK_GRAFT_ZMAX=10 \
       python tools/shuffle_profile.py [sf_dir] [cpus]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request


def main():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else (os.cpu_count() or 8)
    mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "600"))
    zmax = int(os.environ.get("SPARK_GRAFT_ZMAX", "10"))

    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    from pyspark.sql import functions as F

    from bench import _expand_documents
    from tegola_spark.plans import pipeline
    from tegola_spark.plans.session import get_spark
    from tegola_spark.sources import corpus

    spark = get_spark("shuffle_profile", cpus=cpus,
                      shuffle_partitions=max(cpus * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")
    docs = _expand_documents(corpus.documents(spark, sf_dir), mult)
    if mult > 1:
        docs = docs.repartition(cpus * 2).cache()
        docs.count()

    anchor_env = os.environ.get("SPARK_GRAFT_ANCHOR_Z")
    metrics, tiles = pipeline.build_tiles(
        spark, sf_dir, zooms=list(range(0, zmax + 1)), docs=docs,
        anchor_z=int(anchor_env) if anchor_env else None)
    row = tiles.agg(F.count("*"), F.sum("tile_len")).first()
    print(f"n_tiles={row[0]} tile_bytes={row[1]}")

    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"))
    stages.sort(key=lambda s: -s.get("shuffleWriteBytes", 0))
    total = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    print(f"total shuffle write: {total} ({total / max(row[0], 1):.1f} B/tile)")
    for s in stages[:12]:
        wb = s.get("shuffleWriteBytes", 0)
        if not wb:
            continue
        name = s.get("name", "")[:60]
        print(f"  stage {s['stageId']:>4}  write={wb:>12,}  "
              f"records={s.get('shuffleWriteRecords', 0):>12,}  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
