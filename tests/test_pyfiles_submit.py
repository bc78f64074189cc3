"""The engine runs under ``spark-submit --py-files``: the archive that
tools/make_pyfiles.py builds is the only copy of the package the job
sees, the master given to spark-submit is kept, and a tile build
returns tiles."""

import json
import os
import pathlib
import shutil
import subprocess
import sys

import pyspark

ROOT = pathlib.Path(__file__).resolve().parent.parent

PROBE = """
import json, sys
import tegola_spark
from tegola_spark.plans import pipeline, session

spark = session.get_spark("pyfiles_probe")
_metrics, tiles = pipeline.build_tiles(spark, sys.argv[1], zooms=[0])
print("PROBE " + json.dumps({"module": tegola_spark.__file__,
                             "master": spark.sparkContext.master,
                             "tiles": tiles.count()}))
spark.stop()
"""


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    return str(pathlib.Path(pyspark.__file__).parent / "bin" / "spark-submit")


def test_pyfiles_archive_runs_under_spark_submit(tmp_path, sf_dir):
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        import make_pyfiles
    finally:
        sys.path.pop(0)
    archive = make_pyfiles.build(str(tmp_path / "tegola_spark.zip"))
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    # the archive must be the only tegola_spark the job can import, and
    # no core count may be forced on it
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "PYTHONPATH")}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [_spark_submit(), "--master", "local[2]", "--py-files", archive,
         str(probe), os.path.abspath(sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    lines = [l for l in out.stdout.splitlines() if l.startswith("PROBE ")]
    assert out.returncode == 0 and lines, out.stderr[-4000:]
    got = json.loads(lines[-1][len("PROBE "):])
    assert got["module"].startswith(archive), got
    assert got["master"] == "local[2]", got
    assert got["tiles"] > 0, got
