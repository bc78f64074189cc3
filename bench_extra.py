"""Round-6 profiling harness (NOT the driver bench — bench.py is frozen).

Profiles individual bench queries with the noop sink (guide §1.4), job
descriptions (§1.5), and per-stage metrics from the status REST API so
we can see where wall time goes. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py stages
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py query <name>
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def get_session(cpus=None):
    from tegola_spark.plans.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("tegola_spark_profile", cpus=cpus,
                      shuffle_partitions=max(cpus * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dump_stages(spark, label=""):
    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete", timeout=10))
    rows = []
    for s in stages:
        dur = (s.get("completionTime") and s.get("firstTaskLaunchedTime"))
        rows.append({
            "stage": s["stageId"],
            "attempt": s["attemptId"],
            "name": s["name"][:80],
            "tasks": s["numCompleteTasks"],
            "ms": s.get("executorRunTime", 0),
            "cpu_ms": s.get("executorCpuTime", 0) // 1_000_000,
            "sched_ms": s.get("executorDeserializeTime", 0),
            "shw": s.get("shuffleWriteBytes", 0),
            "shr": s.get("shuffleReadBytes", 0),
            "desc": (s.get("description") or "")[:60],
        })
    rows.sort(key=lambda r: r["stage"])
    return rows


def dump_timeline(spark, t_origin=None):
    """Chronological stage timeline with submission gaps (driver time)."""
    from datetime import datetime, timezone

    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete", timeout=10))

    def ts(s):
        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
            tzinfo=timezone.utc).timestamp()

    rows = []
    for s in stages:
        sub = ts(s["submissionTime"]) if "submissionTime" in s else None
        lau = ts(s["firstTaskLaunchedTime"]) if "firstTaskLaunchedTime" in s else None
        comp = ts(s["completionTime"]) if "completionTime" in s else None
        rows.append((sub, lau, comp, s["stageId"], s["numCompleteTasks"],
                     s.get("executorRunTime", 0)))
    rows.sort(key=lambda r: r[0] or 0)
    prev_end = t_origin
    for sub, lau, comp, sid, nt, ert in rows:
        gap = (sub - prev_end) if (prev_end and sub) else 0.0
        wall = (comp - lau) if (lau and comp) else 0.0
        lat = (lau - sub) if (lau and sub) else 0.0
        print(f"s{sid:>4} t={nt:>4} gap={gap*1000:7.0f}ms launch_lat="
              f"{lat*1000:6.0f}ms wall={wall*1000:7.0f}ms run={ert:>7}ms",
              file=sys.stderr)
        prev_end = comp or prev_end


def profile_mvt(spark, sf_dir, reps=1):
    from pyspark.sql import functions as F
    from tegola_spark.plans import pipeline
    from tegola_spark.sources import corpus

    sc = spark.sparkContext
    docs = corpus.documents(spark, sf_dir)

    # warmup identical to bench.py
    sc.setJobDescription("warmup z0")
    _pm, _pt = pipeline.build_tiles(spark, sf_dir, zooms=[0])
    _pt.count()

    pre = dump_stages(spark)
    pre_ids = {r["stage"] for r in pre}
    for i in range(reps):
        sc.setJobDescription(f"mvt rep{i}")
        t0 = time.perf_counter()
        metrics, tiles = pipeline.build_tiles(
            spark, sf_dir, zooms=list(range(0, 6)), docs=docs)
        row = tiles.agg(F.count("*"), F.sum("tile_len"), F.sum("n_features")).first()
        print(f"rep{i}: {time.perf_counter()-t0:.3f}s tiles={row[0]} bytes={row[1]}",
              file=sys.stderr)
    post = dump_stages(spark)
    new = [r for r in post if r["stage"] not in pre_ids]
    total_ms = sum(r["ms"] for r in new)
    print(f"-- stages (reps={reps}), total executorRunTime {total_ms}ms --",
          file=sys.stderr)
    for r in new:
        print(f"s{r['stage']:>4} t={r['tasks']:>4} run={r['ms']:>7} "
              f"cpu={r['cpu_ms']:>7} shw={r['shw']:>9} shr={r['shr']:>9} "
              f"{r['name']}", file=sys.stderr)
    return new


def dump_sql(spark, min_ms=0):
    """Per-operator metrics from the SQL tab REST endpoint for the most
    recent executions."""
    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10))
    app_id = apps[0]["id"]
    sqls = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/sql?details=true&planDescription=false"
        f"&length=200", timeout=10))
    for q in sqls:
        print(f"== sql {q['id']} dur={q.get('duration')}ms "
              f"{q.get('description','')[:70]}", file=sys.stderr)
        for n in q.get("nodes", []):
            interesting = {m["name"]: m["value"] for m in n.get("metrics", [])
                           if any(k in m["name"] for k in (
                               "time", "rows", "size", "Python"))}
            if interesting:
                print(f"  [{n['nodeId']:>3}] {n['nodeName'][:46]:<46} "
                      + "; ".join(f"{k}={v}" for k, v in sorted(
                          interesting.items())), file=sys.stderr)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    mode = sys.argv[1] if len(sys.argv) > 1 else "stages"
    spark = get_session()
    if mode == "stages":
        profile_mvt(spark, sf_dir, reps=int(os.environ.get("REPS", "1")))
    elif mode == "sql":
        profile_mvt(spark, sf_dir, reps=int(os.environ.get("REPS", "1")))
        dump_sql(spark)
    elif mode == "timeline":
        profile_mvt(spark, sf_dir, reps=int(os.environ.get("REPS", "1")))
        dump_timeline(spark)
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
