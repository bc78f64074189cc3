"""SparkSession factory tuned for the engine.

Scale posture (100 TB / 1000 executors): every knob here is also valid
on a real cluster — AQE handles runtime coalescing + skew splitting,
Arrow batches bound UDF memory (the analog of tegola's per-tile GC
workaround, cmd/tegola/cmd/cache/worker.go:91-93 -> R11 in SURVEY.md §4),
and shuffle partitions default to cores locally but should be set
~2-3x total cores on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _submit_master() -> str | None:
    """spark.master given to spark-submit (None under plain python).

    spark-submit starts the JVM itself and exports PYSPARK_GATEWAY_PORT
    (set only there); SparkConf reads the launcher's --master only once
    this process has joined that gateway, so it is joined first. Under
    plain python nothing starts here: the JVM must not launch before
    get_spark sets spark.driver.memory."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None) or None


def get_spark(app_name: str = "tegola_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's session. The master is pinned to ``local[N]`` when
    ``cpus`` is given, when SPARK_GRAFT_CPUS is set, or when no
    spark-submit master exists (plain python); otherwise the master
    given to spark-submit (``--master yarn``, ``local[2]``, ...) stays."""
    pin_master = cpus is not None or "SPARK_GRAFT_CPUS" in os.environ \
        or _submit_master() is None
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    # One BLAS/OMP thread per python worker: N workers x M BLAS threads
    # oversubscribes N*M ways and INVERTS scaling (local[32] measured
    # slower than local[8] before this). Spark task parallelism is the
    # only parallelism we want in workers.
    for var in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is BYTE-based (default 1m), while the
        # engine's expensive post-shuffle stages are python kernels whose
        # cost per byte is ~1000x a JVM operator's: round-6 measurement
        # showed the ~5 MB encode exchange coalesced to 5 tasks, leaving
        # 27 of 32 cores idle through the dominant stage (21 s of
        # executor time at 1.7 s JVM CPU). An interleaved A/B of a
        # global 64k floor won the tile build (-1.4 s) but taxed every
        # small JVM shuffle (+0.1-1 s each: more tasks per tiny
        # exchange), so the default stays 1m and the PYTHON-KERNEL
        # exchanges are instead pinned wide with explicit
        # repartition(n, key) (REPARTITION_BY_NUM shuffles are exempt
        # from AQE coalescing) — see plans/pipeline.py.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "1m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = one JVM; driver memory is the ONLY heap knob.
        # Measured on this box: 8g GC-thrashes under heavy shuffles, and
        # 96g INVERTS scaling (local[32] slower than local[8] — huge-heap
        # allocation/GC pathology). 24g is the sweet spot at both levels.
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "24g"))
        # zstd shuffle/spill compression: measured A/B at mult=600
        # z0..10 (BENCH.md round 3) — wall-neutral at BOTH local[8] and
        # local[32] vs lz4, and 30% fewer bytes cross the exchange
        # (1,153 -> 807 B/tile). Locally shuffle hits page cache so
        # bytes don't cost wall time; on a network-shuffled cluster
        # they do, and bytes-per-tile is the cluster-predictive metric.
        .config("spark.io.compression.codec", "zstd")
        # UI off by default (local-mode overhead); SPARK_GRAFT_UI=1
        # enables it so bench.py can read per-stage shuffle volumes from
        # the status REST API (the bytes-shuffled-per-tile metric)
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false")
        # PySpark 4's DataFrame-origin capture costs extra py4j round
        # trips (and an `import IPython` probe) on every Column/DataFrame
        # call: a warm spatial_query-shaped op (perfbench inputs, seed 7)
        # made 8,100-8,900 driver round trips with it and 3,000-3,500
        # without (py4j send_command counted, 4-core host). Errors keep
        # their class and message but lose the Python call-site context.
        # A static conf: it must be set before the session starts.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if pin_master:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
