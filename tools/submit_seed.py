"""spark-submit driver shim for the seed CLI.

spark-submit runs a SCRIPT (it has no `-m` module mode), and a script
inside a package cannot use relative imports, so the submittable entry
is this shim: the package rides along in the --py-files archive and is
imported absolutely.

    python tools/make_pyfiles.py /tmp/tegola_spark.zip
    spark-submit --py-files /tmp/tegola_spark.zip tools/submit_seed.py \
        seed --input /root/testdata/sf0.001 --out /tmp/sink \
        --min-zoom 0 --max-zoom 3

On a cluster the same line works with --master yarn/k8s: the session
factory (plans/session.get_spark) keeps the master given to
spark-submit and pins local[N] only when --cpus is given or
SPARK_GRAFT_CPUS is set in the driver's environment.
"""

import sys

from tegola_spark.cli import main

if __name__ == "__main__":
    sys.exit(main())
