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

from tegola_spark.operators import tiling
from tegola_spark.plans import pipeline
from tegola_spark.plans.session import get_spark


def main():
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        os.path.join(os.path.dirname(REPO), "testdata", "sf0.1"))
    spark = get_spark("profile_encode", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    pts = pipeline.point_features(spark, sf_dir)
    caps = {4: pipeline.CAP_LOW_ZOOM, 5: pipeline.CAP_HIGH_ZOOM}
    # the point kernel with anchor_z=4: levels 0..3 are tiles, and the
    # anchor level derives z4..5 (the rows of a z0..5 build_tiles)
    for name, levels, deep in (("low zooms", [0, 1, 2, 3], []),
                               ("anchor z4..5", [4], [4, 5])):
        pdf = tiling.assign_point_tiles(pts, levels).select(
            *pipeline.POINT_STREAM_COLS).toPandas()
        print(f"{name}: {len(pdf)} fan-out rows", file=sys.stderr)

        t0 = time.perf_counter()
        out = pipeline.encode_bucket(pdf.copy(), 4, deep, caps=caps)
        t1 = time.perf_counter()
        print(f"encode_bucket ({name}, {len(out)} tiles): "
              f"{t1-t0:.2f}s", file=sys.stderr)

        prof = cProfile.Profile()
        prof.enable()
        pipeline.encode_bucket(pdf.copy(), 4, deep, caps=caps)
        prof.disable()
        st = pstats.Stats(prof)
        st.sort_stats("cumulative").print_stats(30)
    spark.stop()


if __name__ == "__main__":
    main()
