"""The benchmark workloads.

Each workload is a class with the same steps:

* ``goldens(inputs)`` -- the NumPy answers its checks compare against,
  cached beside the inputs (never timed, never part of ``setup_s``);
* ``stage(ctx)`` -- per-run staging inside the ``setup_s`` clock;
* ``op(ctx, i)`` -- one operation (untimed warm-up ops pass ``i < 0``);
  returns what ``check`` needs;
* ``check(ctx, out)`` -- raises ``CheckFailed`` when the output is wrong;
* ``sink_bytes_per_tile()`` -- the run's on-disk bytes per output tile.

``ctx.trace`` is a ``layertrace.Trace`` during the traced run's traced op
and probes, and ``None`` otherwise; ``span`` below is a no-op without it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import oracle
from gen import dir_bytes

# z0..3: with a cold JVM per run, deeper zoom ranges broke the run-time
# budget of a full evaluation (see README.md, "What is not measured")
ZOOMS = list(range(0, 4))


class CheckFailed(Exception):
    pass


def span(ctx, name):
    return ctx.trace.span(name) if ctx.trace is not None else contextlib.nullcontext()


def _cached_json(path: str, make):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = make()
    tmp = "%s.tmp-%d" % (path, os.getpid())
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _doc_ids(path: str) -> np.ndarray:
    return pq.read_table(path, columns=["doc_id"]).column(0).to_numpy()


def tile_digest(rows) -> dict:
    """Count, total bytes and md5 over (z, x, y, bytes) in key order."""
    rows = sorted(rows, key=lambda r: r[:3])
    h = hashlib.md5()
    total = 0
    for z, x, y, b in rows:
        h.update(b"%d/%d/%d:" % (z, x, y))
        h.update(b)
        total += len(b)
    return {"tiles": len(rows), "bytes": total, "md5": h.hexdigest()}


def read_sink_tiles(path: str):
    """(z, x, y, tile_bytes) rows of a batch sink, read without Spark."""
    t = pq.read_table(os.path.join(path, "tiles"),
                      columns=["z", "x", "y", "tile_bytes"])
    z = [int(v) for v in t.column("z").to_pylist()]
    return list(zip(z, t.column("x").to_pylist(), t.column("y").to_pylist(),
                    t.column("tile_bytes").to_pylist()))


def decode_checked(mvt, buf: bytes, layers_allowed) -> dict:
    """Decode one tile and check its structure; returns {layer: n_features}."""
    out = {}
    for name, layer in mvt.decode_tile(buf).items():
        if name not in layers_allowed:
            raise CheckFailed("unexpected layer %r" % name)
        if layer["extent"] != 4096 or layer["version"] != 2:
            raise CheckFailed("layer %s: extent/version %s/%s"
                              % (name, layer["extent"], layer["version"]))
        nk, nv = len(layer["keys"]), len(layer["values"])
        for f in layer["features"]:
            tags = f["tags"]
            if len(tags) % 2 or any(t >= nk for t in tags[0::2]) \
                    or any(t >= nv for t in tags[1::2]):
                raise CheckFailed("layer %s: tag index out of range" % name)
            if not f["geometry"]:
                raise CheckFailed("layer %s: empty geometry" % name)
        out[name] = len(layer["features"])
    if not out:
        raise CheckFailed("tile has no layers")
    return out


# ---------------------------------------------------------------------------
# seed_bulk: the batch tileset build, through the CLI
# ---------------------------------------------------------------------------

class SeedBulk:
    """``tegola_spark.cli seed`` of the whole corpus at ``ZOOMS`` into a
    fresh sink, hierarchical, one write batch."""

    name = "seed_bulk"
    mult = 4           # 5,000 base documents x 4 = 20,000
    warmup = 1
    min_ops = 2
    sample = 8         # tiles decoded per op

    def goldens(self, inputs):
        def make():
            ids = _doc_ids(os.path.join(inputs["dir"], "corpus", "documents.parquet"))
            keys = sorted(oracle.tile_keys(ids, ZOOMS))
            step = max(1, len(keys) // self.sample)
            sample = keys[::step][:self.sample]
            per_z = {z: oracle.points_per_tile(ids, z) for z in {k[0] for k in sample}}
            return {"tiles": len(keys),
                    "sample": [[z, x, y, per_z[z].get((x, y), 0)] for z, x, y in sample]}
        return _cached_json(os.path.join(
            inputs["dir"], "golden_seed_bulk_z%d.json" % ZOOMS[-1]), make)

    def stage(self, ctx):
        from tegola_spark import cli
        from tegola_spark.operators import mvt

        self.cli, self.mvt = cli, mvt
        self.corpus = os.path.join(ctx.inputs["dir"], "corpus")
        self.first = None
        self.bytes_per_tile = []
        self.kept_sink = None

    def _seed(self, ctx, corpus, sink):
        argv = ["seed", "--input", corpus, "--out", sink,
                "--max-zoom", str(ZOOMS[-1]), "--hierarchical",
                "--batch-zooms", str(len(ZOOMS)), "--overwrite"]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.cli.main(argv, spark=ctx.spark)
        if rc != 0:
            raise CheckFailed("cli seed exited %r" % rc)
        return buf.getvalue()

    def op(self, ctx, i):
        sink = os.path.join(ctx.run_dir, "sink_%d" % i)
        return sink, self._seed(ctx, self.corpus, sink)

    def check(self, ctx, out):
        sink, printed = out
        try:
            rec = json.loads(printed.strip().splitlines()[-1])
            rows = read_sink_tiles(sink)
            d = tile_digest(rows)
            if d["tiles"] != ctx.golden["tiles"]:
                raise CheckFailed("%d tiles, expected %d" % (d["tiles"], ctx.golden["tiles"]))
            if sum(r["n_tiles"] for r in rec["records"]) != d["tiles"]:
                raise CheckFailed("manifest tile count disagrees with the sink")
            if self.first is None:
                self.first = d
            elif d != self.first:
                raise CheckFailed("sink differs from the run's first build: %s vs %s"
                                  % (d, self.first))
            self._check_sample(ctx, sink, rows)
            self.bytes_per_tile.append(dir_bytes(sink) / d["tiles"])
        finally:
            if ctx.trace is not None:
                # the traced run's sink-writer probe rewrites this sink
                self.kept_sink = sink
            else:
                shutil.rmtree(sink, ignore_errors=True)

    def _check_sample(self, ctx, sink, rows):
        by_key = {r[:3]: r[3] for r in rows}
        m = pq.read_table(os.path.join(sink, "_metrics"),
                          columns=["z", "x", "y", "layer", "n_features", "n_dropped"])
        dropped = {(int(z), x, y): (nf, nd) for z, x, y, layer, nf, nd in zip(
            m.column("z").to_pylist(), m.column("x").to_pylist(),
            m.column("y").to_pylist(), m.column("layer").to_pylist(),
            m.column("n_features").to_pylist(), m.column("n_dropped").to_pylist())
            if layer == "pages"}
        for z, x, y, n_points in ctx.golden["sample"]:
            buf = by_key.get((z, x, y))
            if buf is None:
                raise CheckFailed("sample tile %d/%d/%d missing" % (z, x, y))
            counts = decode_checked(self.mvt, buf, {"pages", "nations", "regions"})
            nf, nd = dropped.get((z, x, y), (0, 0))
            if counts.get("pages", 0) != nf or nf + nd != n_points:
                raise CheckFailed(
                    "tile %d/%d/%d: %d point features + %d dropped, expected %d"
                    % (z, x, y, counts.get("pages", 0), nd, n_points))

    def sink_bytes_per_tile(self):
        return float(np.median(self.bytes_per_tile)) if self.bytes_per_tile else 0.0


# ---------------------------------------------------------------------------
# spatial_query: analyst reads over staged points
# ---------------------------------------------------------------------------

class SpatialQuery:
    """Four reads over geocoded points staged once to parquet: nation
    join (res 6), region join (res 2), 1,000-query kNN (k=10), z8 tile
    histogram."""

    name = "spatial_query"
    mult = 20          # 5,000 base documents x 20 = 100,000
    warmup = 1
    min_ops = 2
    k = 10

    def goldens(self, inputs):
        def make():
            ids = _doc_ids(os.path.join(inputs["dir"], "corpus", "documents.parquet"))
            q = pq.read_table(os.path.join(inputs["dir"], "knn_queries.parquet")).to_pandas()
            return {
                "nations": oracle.join_digest(ids, oracle.nation_rects()),
                "regions": oracle.join_digest(ids, oracle.region_rects()),
                "knn": oracle.knn_digest(ids, q["query_id"].to_numpy(),
                                         q["qlon"].to_numpy(), q["qlat"].to_numpy(), self.k),
                "z8": oracle.z8_digest(ids),
            }
        return _cached_json(os.path.join(inputs["dir"], "golden_spatial_query.json"), make)

    def stage(self, ctx):
        from pyspark.sql import functions as F
        from tegola_spark.operators import spatial_join, tiling
        from tegola_spark.plans import pipeline
        from tegola_spark.sources import layers

        self.sj, self.tiling, self.layers, self.F = spatial_join, tiling, layers, F
        spark = ctx.spark
        self.corpus = os.path.join(ctx.inputs["dir"], "corpus")
        staged = os.path.join(ctx.run_dir, "points")
        (pipeline.point_features(spark, self.corpus)
         .select(F.col("feature_id").alias("doc_id"), "lon", "lat")
         .write.parquet(staged))
        self.points = spark.read.parquet(staged)
        self.queries = spark.read.parquet(
            os.path.join(ctx.inputs["dir"], "knn_queries.parquet"))
        self.staged_bytes = dir_bytes(staged)
        self.z8_tiles = ctx.golden["z8"][0]

    def _join(self, ctx, points, layer, res):
        F = self.F
        polys = layer(ctx.spark, self.corpus)
        row = (self.sj.spatial_join(points, polys, res=res)
               .agg(F.count(F.lit(1)), F.sum("doc_id"),
                    F.sum(F.col("doc_id") * F.col("feature_id"))).first())
        return [int(v or 0) for v in row]

    def op(self, ctx, i):
        F, points = self.F, self.points
        out = {}
        with span(ctx, "spatial_join.nations"):
            out["nations"] = self._join(ctx, points, self.layers.nation_layer, 6)
        with span(ctx, "spatial_join.regions"):
            out["regions"] = self._join(ctx, points, self.layers.region_layer, 2)
        with span(ctx, "spatial_join.knn"):
            row = (self.sj.knn_cell_ring_df(points, self.queries, k=self.k)
                   .agg(F.count(F.lit(1)), F.sum("doc_id"),
                        F.sum(F.col("doc_id") * F.col("rank")), F.sum("query_id")).first())
            out["knn"] = [int(v or 0) for v in row]
        hist = self.tiling.assign_point_tiles(points, [8]).groupBy("x", "y").count()
        row = hist.agg(F.count(F.lit(1)), F.sum("count"),
                       F.sum(F.col("count") * (F.col("x") * 256 + F.col("y")))).first()
        out["z8"] = [int(v or 0) for v in row]
        return out

    def check(self, ctx, out):
        for key, want in ctx.golden.items():
            if out[key] != want:
                raise CheckFailed("%s: got %s, expected %s" % (key, out[key], want))

    def sink_bytes_per_tile(self):
        # the workload's only write is the staged point store; per tile of
        # the z8 histogram it feeds
        return self.staged_bytes / self.z8_tiles


WORKLOADS = {w.name: w for w in (SeedBulk, SpatialQuery)}
