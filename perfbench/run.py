"""Benchmark runner for tegola_spark.

    python3 perfbench/run.py --workload {seed_bulk,spatial_query}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one closed-loop client: the
workload's next op starts when the previous one (and its output check)
has finished. Spark runs in-process on ``local[N]`` with N the number of
usable cores, every ``SPARK_GRAFT_*`` plan knob at its default.

Clocks:

* input generation and the NumPy goldens (``gen.py``, ``oracle.py``) run
  first, cached by (seed, size), outside every clock;
* ``setup_s`` covers session start, staging and the untimed warm-up ops;
* each timed op is one wall-clock sample; ops repeat until ``--seconds``
  have passed and at least the workload's ``min_ops`` ran. ``op_s`` is their median.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced op and one traced op, then the per-layer probes of
``layertrace.py``, and prints the per-layer metrics. The last stdout line is
the result object; the line before it is a report with the inputs, the
gate inputs, every per-op sample and the checks.

All scratch (inputs, sinks, checkpoints, Spark local dirs, temp files)
lives under ``.perfbench_work/`` in the current directory; each run's
own directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    def __init__(self, inputs, golden, run_dir, trace):
        self.inputs = inputs
        self.golden = golden
        self.run_dir = run_dir
        self.trace = trace
        self.spark = None
        self.session_s = None


def prepare_env(run_dir: str, traced: bool) -> dict:
    """Everything the JVM and the Python workers inherit; must run before
    the session starts. Returns the ``SPARK_GRAFT_*`` settings it cleared,
    so every plan gate runs at its default."""
    cleared = {k: os.environ.pop(k) for k in sorted(os.environ)
               if k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import tegola_spark from the checkout whatever the cwd
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
        "--driver-java-options", "-Djava.io.tmpdir=" + tmp,
        "pyspark-shell",
    ])
    if traced:
        # the status REST API feeds the pipeline.* metrics
        os.environ["SPARK_GRAFT_UI"] = "1"
    return cleared


def start_session():
    from tegola_spark.plans.session import get_spark

    spark = get_spark("perfbench", cpus=cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list:
    """Process ids below ``pid`` (read from /proc)."""
    children = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open("/proc/%s/stat" % d) as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie counts as ended)."""
    try:
        with open("/proc/%d/stat" % pid) as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    workers = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                continue
            end = time.monotonic() + 5
            while _alive(pid) and time.monotonic() < end:
                time.sleep(0.05)


def run_op(wl, ctx, i, failures):
    """One op and its check; returns the op's wall seconds (check excluded)."""
    t = time.perf_counter()
    try:
        out = wl.op(ctx, i)
    except Exception:
        dt = time.perf_counter() - t
        failures.append({"op": i, "error": traceback.format_exc(limit=3)})
        return dt
    dt = time.perf_counter() - t
    try:
        wl.check(ctx, out)
    except Exception:
        failures.append({"op": i, "error": traceback.format_exc(limit=3)})
    return dt


def run(args) -> tuple[dict, dict]:
    import gen
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    inputs = gen.make_inputs(WORK, args.seed, wl.mult)
    golden = wl.goldens(inputs)
    run_dir = tempfile.mkdtemp(dir=WORK, prefix="run-")
    cleared = prepare_env(run_dir, bool(args.trace))
    trace = None
    if args.trace:
        import layertrace

        trace = layertrace.Trace()
    # spans are recorded for the traced op and the probes only
    ctx = Ctx(inputs, golden, run_dir, None)
    report = {"workload": wl.name, "seed": args.seed, "cores": cores(),
              "inputs": {k: inputs[k] for k in ("seed", "docs", "bytes", "mult")},
              "plan_knobs": "all default",
              "cleared_env": cleared,
              "traced_env": {"SPARK_GRAFT_UI": "1"} if args.trace else {}}
    failures = []
    try:
        t0 = time.perf_counter()
        ctx.spark = start_session()
        ctx.session_s = report["session_start_s"] = time.perf_counter() - t0
        wl.stage(ctx)
        warm = []
        for w in range(wl.warmup):
            warm.append(run_op(wl, ctx, -1 - w, failures))
        setup_s = time.perf_counter() - t0
        report["warmup_op_s"] = warm

        samples = []
        if trace is None:
            t_run = time.perf_counter()
            while len(samples) < wl.min_ops or time.perf_counter() - t_run < args.seconds:
                samples.append(run_op(wl, ctx, len(samples), failures))
        else:
            samples.append(run_op(wl, ctx, 0, failures))
            ctx.trace = trace
            trace.begin_op(ctx)
            traced_s = run_op(wl, ctx, 1, failures)
            trace.end_op(ctx, traced_s)
        attempted = len(samples) + (1 if trace is not None else 0)
        report["op_samples_s"] = samples
        report["ops"] = len(samples)
        report["drift_last_over_first"] = samples[-1] / samples[0]
        # a failed warm-up op fails the run's correctness, not an op
        failed_ops = {f["op"] for f in failures if f["op"] >= 0}
        report["error_rate"] = len(failed_ops) / attempted
        report["failures"] = failures

        metrics = {}
        if trace is None:
            metrics["setup_s"] = {"value": setup_s, "unit": "s"}
            metrics["op_s"] = {"value": statistics.median(samples), "unit": "s"}
            metrics["sink_bytes_per_tile"] = {"value": wl.sink_bytes_per_tile(),
                                              "unit": "B"}
        else:
            metrics = trace.layer_metrics(ctx, wl, untraced_s=samples[0], traced_s=traced_s)
        report["metrics"] = metrics
        return {"correct": not failures, "attempted": attempted,
                "failed": len(failed_ops), "metrics": metrics}, report
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["seed_bulk", "spatial_query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "tegola_spark", "__init__.py")):
        print("perfbench: run from the repository root (no tegola_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.makedirs(WORK, exist_ok=True)
    result, report = run(args)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
