"""Round-6: cProfile the MVT encode kernels on real fan-out data
(driver-side, single-threaded) to find python hotspots inside the
mapInPandas/applyInPandas stages. Not part of the bench.

Reads the sf0.1 test corpus from the ``testdata`` directory beside the
checkout (TESTDATA.md); ``SPARK_GRAFT_SF_DIR`` points it elsewhere."""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from tegola_spark.operators import tiling
from tegola_spark.plans import pipeline
from tegola_spark.plans.session import get_spark
from tegola_spark.sources import corpus


def main():
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        os.path.join(os.path.dirname(REPO), "testdata", "sf0.1"))
    spark = get_spark("profile_encode", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    pts = pipeline.point_features(spark, sf_dir)
    low = tiling.assign_point_tiles(pts, [0, 1, 2, 3]).select(
        "z", "x", "y", "feature_id", "lon", "lat", "tag_url", "tag_lang")
    pdf = low.toPandas()
    print(f"low fan-out rows: {len(pdf)}", file=sys.stderr)
    pdf = pdf.sort_values(["z", "x", "y", "feature_id"], kind="mergesort")

    t0 = time.perf_counter()
    out = pipeline.encode_bucket(pdf.copy(), const_layer="pages")
    t1 = time.perf_counter()
    print(f"encode_bucket (low zooms, {len(out)} groups): {t1-t0:.2f}s",
          file=sys.stderr)

    prof = cProfile.Profile()
    prof.enable()
    pipeline.encode_bucket(pdf.copy(), const_layer="pages")
    prof.disable()
    st = pstats.Stats(prof)
    st.sort_stats("cumulative").print_stats(30)

    # anchor kernel (z4..5 derived from anchor_z=4)
    anchored = tiling.assign_point_tiles(pts, [4]).select(
        "x", "y", "feature_id", "lon", "lat", "tag_url", "tag_lang")
    apdf = anchored.toPandas()
    print(f"anchor rows: {len(apdf)}", file=sys.stderr)
    caps = {4: pipeline.CAP_LOW_ZOOM, 5: pipeline.CAP_HIGH_ZOOM}
    t0 = time.perf_counter()
    out2 = pipeline._encode_anchor_bucket(
        apdf.copy(), 4, [4, 5], False, True, caps=caps)
    t1 = time.perf_counter()
    print(f"anchor encode ({len(out2)} rows): {t1-t0:.2f}s", file=sys.stderr)

    prof = cProfile.Profile()
    prof.enable()
    pipeline._encode_anchor_bucket(
        apdf.copy(), 4, [4, 5], False, True, caps=caps)
    prof.disable()
    st = pstats.Stats(prof)
    st.sort_stats("cumulative").print_stats(30)
    spark.stop()


if __name__ == "__main__":
    main()
