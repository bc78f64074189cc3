"""Per-layer numbers for the traced run (``--trace 1``).

Everything is measured from the benchmark's side of the program's
public functions; no program file is instrumented. Three sources:

* spans around calls the workload makes (``Trace.span``), kept in memory
  and reported as per-name seconds;
* the traced op itself, run under a Spark job group with the Python UDF
  profiler on: the status REST API (``SPARK_GRAFT_UI=1``) gives its
  stages' CPU, GC, task, shuffle and spill totals and the driver gap,
  and the profiler gives per-UDF seconds;
* probes after the op that call one layer's public functions on the
  run's inputs and force the result, so each layer's busy time is its
  own: geocode, fan-out, z8 histogram, the encode kernel on groups
  collected once (single thread, off Spark), the sink writer, the
  streaming maintainer and the spatial-join candidate stage.

A layer not on the workload's path reports 0 (``ON_PATH`` below).
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import shutil
import time
import urllib.request

import pyarrow.parquet as pq

JOB_GROUP = "perfbench-traced-op"
# UDF functions reported by name; any other profiled UDF lands in udf.other.s
UDF_NAMES = ("_render_and_geocode", "_encode", "pip")

ON_PATH = {
    "seed_bulk": {"corpus", "tiling", "encode", "makevalid", "pipeline", "sinks", "live"},
    "spatial_query": {"corpus", "tiling", "pipeline", "spatial_join"},
}

METRICS = [
    # (name, unit, layer)
    ("session.start_s", "s", "session"),
    ("corpus.geocode_s", "s", "corpus"),
    ("corpus.docs_per_s", "1/s", "corpus"),
    ("tiling.fanout_s", "s", "tiling"),
    ("tiling.fanout_ratio", "ratio", "tiling"),
    ("tiling.z8_histogram_s", "s", "tiling"),
    ("encode.point.features_per_s", "1/s", "encode"),
    ("encode.line.features_per_s", "1/s", "encode"),
    ("encode.polygon.features_per_s", "1/s", "encode"),
    ("makevalid.calls", "count", "makevalid"),
    ("makevalid.s", "s", "makevalid"),
] + [("udf.%s.s" % n, "s", "udf") for n in UDF_NAMES + ("other",)] + [
    ("pipeline.driver_gap_s", "s", "pipeline"),
    ("pipeline.executor_cpu_s", "s", "pipeline"),
    ("pipeline.gc_s", "s", "pipeline"),
    ("pipeline.tasks", "count", "pipeline"),
    ("pipeline.shuffle_bytes_per_tile", "B", "pipeline"),
    ("pipeline.spill_bytes", "B", "pipeline"),
    ("sinks.write_s", "s", "sinks"),
    ("sinks.bytes_written", "B", "sinks"),
    ("live.affected_tiles", "count", "live"),
    ("live.tiles_rewritten", "count", "live"),
    ("live.useful_ratio", "ratio", "live"),
    ("live.read_current_s", "s", "live"),
    ("spatial_join.nations_s", "s", "spatial_join"),
    ("spatial_join.regions_s", "s", "spatial_join"),
    ("spatial_join.knn_s", "s", "spatial_join"),
    ("spatial_join.pip_candidates", "count", "spatial_join"),
    ("spatial_join.pip_hit_ratio", "ratio", "spatial_join"),
    ("trace.untraced_op_s", "s", "trace"),
    ("trace.traced_op_s", "s", "trace"),
    ("trace.overhead_ratio", "ratio", "trace"),
]


class Trace:
    def __init__(self):
        self.spans = []      # (name, start, end, parent index or None)
        self._stack = []
        self.values = {}

    @contextlib.contextmanager
    def span(self, name):
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            i = self._stack.pop()
            self.spans[i][2] = time.perf_counter()

    def seconds(self, name) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name and e is not None)

    # -- the traced op ------------------------------------------------------

    def begin_op(self, ctx):
        spark = ctx.spark
        spark.profile.clear()
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark.sparkContext.setJobGroup(JOB_GROUP, "traced op")
        self._op_start_ms = time.time() * 1000.0

    def end_op(self, ctx, wall_s):
        spark = ctx.spark
        op_end_ms = time.time() * 1000.0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.values.update(_stage_totals(spark, self._op_start_ms, op_end_ms, wall_s))
        self.values.update(_udf_seconds(spark))
        spark.profile.clear()

    # -- everything reported --------------------------------------------------

    def layer_metrics(self, ctx, wl, untraced_s, traced_s) -> dict:
        on = ON_PATH[wl.name]
        v = self.values
        v["session.start_s"] = ctx.session_s
        probes = Probes(ctx, wl, self)
        for layer in ("corpus", "tiling", "encode", "sinks", "live", "spatial_join"):
            if layer in on:
                getattr(probes, layer)()
        tiles = probes.tiles_per_op()
        if tiles:
            v["pipeline.shuffle_bytes_per_tile"] = v.pop("_shuffle_bytes", 0) / tiles
        v["trace.untraced_op_s"] = untraced_s
        v["trace.traced_op_s"] = traced_s
        v["trace.overhead_ratio"] = traced_s / untraced_s
        out = {}
        for name, unit, layer in METRICS:
            value = v.get(name, 0.0) if (layer in on or layer in ("session", "udf", "trace")) else 0.0
            out[name] = {"value": float(value), "unit": unit}
        return out


def _parse_ts(s: str) -> float:
    """REST timestamps ('2026-01-01T10:00:00.123GMT') -> epoch ms."""
    dt = datetime.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.timestamp() * 1000.0


def _rest(spark, path):
    ui = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(ui + "/api/v1/applications", timeout=10) as r:
        app = json.load(r)[0]["id"]
    with urllib.request.urlopen("%s/api/v1/applications/%s/%s" % (ui, app, path),
                                timeout=30) as r:
        return json.load(r)


def _stage_totals(spark, start_ms, end_ms, wall_s) -> dict:
    jobs = [j for j in _rest(spark, "jobs") if j.get("jobGroup") == JOB_GROUP]
    ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in _rest(spark, "stages")
              if s["stageId"] in ids and s.get("submissionTime") and s.get("completionTime")]
    # union of the stage intervals, clipped to the op
    spans = sorted((max(_parse_ts(s["submissionTime"]), start_ms),
                    min(_parse_ts(s["completionTime"]), end_ms)) for s in stages)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return {
        "pipeline.driver_gap_s": max(wall_s - busy / 1000.0, 0.0),
        "pipeline.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "pipeline.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000.0,
        "pipeline.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "pipeline.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                    for s in stages),
        "_shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
    }


def _udf_seconds(spark) -> dict:
    """Per-UDF cumulative seconds from the perf profiler. A profile's root
    entry (largest cumulative time) is the UDF function itself."""
    out = {"udf.%s.s" % n: 0.0 for n in UDF_NAMES + ("other",)}
    for stats in spark.profile.profiler_collector._perf_profile_results.values():
        if not stats.stats:
            continue
        (_, _, fn), (_, _, _, ct, _) = max(stats.stats.items(), key=lambda kv: kv[1][3])
        out["udf.%s.s" % (fn if fn in UDF_NAMES else "other")] += ct
    return out


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class Probes:
    """One method per layer; each stores its metrics in ``trace.values``."""

    def __init__(self, ctx, wl, trace):
        self.ctx, self.wl, self.trace, self.v = ctx, wl, trace, trace.values
        self.spark = ctx.spark
        self.corpus_dir = os.path.join(ctx.inputs["dir"], "corpus")
        self._points = None

    def points(self):
        from tegola_spark.plans import pipeline

        if self._points is None:
            # spatial_query staged its points in set-up; seed_bulk has none
            self._points = getattr(self.wl, "points", None)
        if self._points is None:
            self._points = pipeline.point_features(self.spark, self.corpus_dir) \
                .localCheckpoint()
        return self._points

    def tiles_per_op(self):
        g = self.ctx.golden
        return g["tiles"] if "tiles" in g else g["z8"][0]

    def _timed(self, name, fn):
        with self.trace.span(name):
            t = time.perf_counter()
            fn()
            return time.perf_counter() - t

    def corpus(self):
        from tegola_spark.sources import corpus

        docs = corpus.documents(self.spark, self.corpus_dir)
        s = self._timed("probe.corpus.geocode", lambda: _noop(corpus.geocoded_points(docs)))
        self.v["corpus.geocode_s"] = s
        self.v["corpus.docs_per_s"] = self.ctx.inputs["docs"] / s

    def tiling(self):
        from pyspark.sql import functions as F
        from tegola_spark.operators import tiling
        from workloads import ZOOMS

        pts = self.points()
        fan = tiling.assign_point_tiles(pts, ZOOMS)
        self.v["tiling.fanout_s"] = self._timed("probe.tiling.fanout", lambda: _noop(fan))
        self.v["tiling.fanout_ratio"] = fan.count() / pts.count()
        hist = tiling.assign_point_tiles(pts, [8]).groupBy("x", "y").agg(F.count(F.lit(1)))
        self.v["tiling.z8_histogram_s"] = self._timed("probe.tiling.z8", lambda: _noop(hist))

    def encode(self):
        """The encode kernel on (z, x, y, layer) groups collected once, run
        single-threaded in this process; make_valid calls counted."""
        from pyspark.sql import functions as F
        from tegola_spark.operators import makevalid, tiling
        from tegola_spark.plans import pipeline
        from tegola_spark.sources import layers
        from workloads import ZOOMS

        spark, zmax = self.spark, ZOOMS[-1]
        # points: the z<zmax> tiles, all documents
        pts = tiling.assign_point_tiles(self.points(), [zmax]) \
            .withColumn("layer", F.lit("pages")).toPandas()
        polys = tiling.assign_bbox_tiles(pipeline.polygon_features(spark, self.corpus_dir),
                                         ZOOMS).toPandas()
        roads = tiling.assign_bbox_tiles(layers.road_layer(spark, self.corpus_dir),
                                         ZOOMS).toPandas()
        calls = {"n": 0, "s": 0.0}
        real = makevalid.make_valid

        def counted(*a, **k):
            t = time.perf_counter()
            try:
                return real(*a, **k)
            finally:
                calls["n"] += 1
                calls["s"] += time.perf_counter() - t

        makevalid.make_valid = counted
        try:
            for family, pdf in (("point", pts), ("line", roads), ("polygon", polys)):
                t = time.perf_counter()
                out = pipeline.encode_bucket(pdf)
                dt = time.perf_counter() - t
                self.v["encode.%s.features_per_s" % family] = out["n_features"].sum() / dt
        finally:
            makevalid.make_valid = real
        self.v["makevalid.calls"] = calls["n"]
        self.v["makevalid.s"] = calls["s"]

    def sinks(self):
        """The sink writer alone: the traced op's tiles, materialized, written
        again into a fresh sink."""
        from tegola_spark.sources import sinks

        src = getattr(self.wl, "kept_sink", None)
        if src is None:
            return
        tiles = self.spark.read.parquet(os.path.join(src, "tiles")).cache()
        metrics = self.spark.read.parquet(os.path.join(src, "_metrics")).cache()
        tiles.count()
        metrics.count()
        dst = os.path.join(self.ctx.run_dir, "probe_sink")
        self.v["sinks.write_s"] = self._timed(
            "probe.sinks.write", lambda: sinks.write_tiles(tiles, metrics, dst))
        from gen import dir_bytes

        self.v["sinks.bytes_written"] = dir_bytes(dst)
        tiles.unpersist()
        metrics.unpersist()
        shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)

    def live(self):
        """The streaming maintainer on a small document stream: bootstrap on
        four update slices, land a fifth, and account what it rewrote."""
        from tegola_spark.streaming import live
        from workloads import ZOOMS

        inputs = self.ctx.inputs["dir"]
        root = os.path.join(self.ctx.run_dir, "probe_live")
        src, sink, ckpt = (os.path.join(root, p) for p in ("in", "sink", "ckpt"))
        os.makedirs(src)
        for k in range(4):
            shutil.copy(os.path.join(inputs, "slices", "slice_%d.parquet" % k),
                        os.path.join(src, "part-%d.parquet" % k))
        live.stream_tiles(self.spark, src, self.corpus_dir, sink, ZOOMS, ckpt)
        new = os.path.join(inputs, "slices", "slice_4.parquet")
        shutil.copy(new, os.path.join(src, "part-4.parquet"))
        self.v["live.affected_tiles"] = live.affected_tiles(
            self.spark, self.spark.read.parquet(new), self.corpus_dir, ZOOMS).count()
        with self.trace.span("probe.live.stream_tiles"):
            live.stream_tiles(self.spark, src, self.corpus_dir, sink, ZOOMS, ckpt)
        self.v["live.read_current_s"] = self._timed(
            "probe.live.read_current",
            lambda: live.read_current(self.spark, sink).select("tile_bytes").collect())
        t = pq.read_table(os.path.join(sink, "tiles"), columns=["z", "x", "y", "tile_bytes", "_batch"])
        prev, rewritten, changed = {}, 0, 0
        rows = sorted(zip(t.column("_batch").to_pylist(), t.column("z").to_pylist(),
                          t.column("x").to_pylist(), t.column("y").to_pylist(),
                          t.column("tile_bytes").to_pylist()), key=lambda r: r[0])
        last = rows[-1][0]
        for b, z, x, y, data in rows:
            key = (int(z), x, y)
            if b == last:
                rewritten += 1
                changed += prev.get(key) != data
            else:
                prev[key] = data
        self.v["live.tiles_rewritten"] = rewritten
        self.v["live.useful_ratio"] = changed / rewritten if rewritten else 0.0
        shutil.rmtree(root, ignore_errors=True)

    def spatial_join(self):
        from pyspark.sql import functions as F
        from tegola_spark.functions import cells
        from tegola_spark.operators import spatial_join as sj
        from tegola_spark.sources import layers

        tr, v = self.trace, self.v
        v["spatial_join.nations_s"] = tr.seconds("spatial_join.nations")
        v["spatial_join.regions_s"] = tr.seconds("spatial_join.regions")
        v["spatial_join.knn_s"] = tr.seconds("spatial_join.knn")
        pts = self.wl.points
        cand = 0
        for layer, res in ((layers.nation_layer, 6), (layers.region_layer, 2)):
            cover = F.broadcast(sj.polygon_cover(layer(self.spark, self.corpus_dir), res))
            cand += pts.withColumn("cell", cells.col_cell_from_lonlat(
                F.col("lon"), F.col("lat"), res)).join(cover, "cell").count()
        g = self.ctx.golden
        v["spatial_join.pip_candidates"] = cand
        v["spatial_join.pip_hit_ratio"] = (g["nations"][0] + g["regions"][0]) / cand
