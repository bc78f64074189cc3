"""The written sink: lineage without blobs, the manifest's build report,
the tile invariants of every written tile, and the build's Spark jobs."""

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tegola_spark.operators import mvt
from tegola_spark.plans import pipeline
from tegola_spark.sources import corpus, sinks


@pytest.fixture(scope="module")
def sf001_z3_sink(spark, sf_dir, tmp_path_factory):
    """`cli seed` z0..3 of the sf0.01 corpus in two zoom batches."""
    from tegola_spark import cli

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    out = str(tmp_path_factory.mktemp("sf001_z3") / "sink")
    assert cli.main(["seed", "--input", sf001, "--out", out,
                     "--min-zoom", "0", "--max-zoom", "3"],
                    spark=spark) == 0
    return out


def _binary_cols(path):
    import pyarrow as pa

    schema = pq.read_table(path).schema
    return [f.name for f in schema if pa.types.is_binary(f.type)
            or pa.types.is_large_binary(f.type)]


def test_lineage_has_no_blob_column(spark, sf_dir, sf001_z3_sink, tmp_path):
    """The sink writer stores each tile once: ``_metrics`` keeps the
    lineage columns and no binary column, also for the ``_batch``-tagged
    frames the live stream writes."""
    m = pq.read_table(os.path.join(sf001_z3_sink, "_metrics"))
    assert _binary_cols(os.path.join(sf001_z3_sink, "_metrics")) == []
    assert set(m.column_names) == {"z", "x", "y", "layer", "n_features",
                                   "n_dropped", "bytes", "encode_ms"}

    metrics, tiles = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1])
    out = str(tmp_path / "live")
    tag = F.lit(3)
    sinks.write_tiles(tiles.withColumn("_batch", tag),
                      metrics.withColumn("_batch", tag), out)
    assert _binary_cols(os.path.join(out, "_metrics")) == []
    lineage = pq.read_table(os.path.join(out, "_metrics"))
    assert set(lineage.column("_batch").to_pylist()) == {3}
    assert _binary_cols(os.path.join(out, "tiles")) == ["tile_bytes"]


def test_report_equals_lineage_groupby(sf001_z3_sink):
    """The manifest report of each batch equals a groupBy (layer, z)
    over the lineage rows written for that batch's zooms."""
    recs = [json.loads(line) for line in
            open(os.path.join(sf001_z3_sink, "manifest.jsonl"))]
    assert [r["zooms"] for r in recs] == [[0, 1], [2, 3]]
    m = pq.read_table(os.path.join(sf001_z3_sink, "_metrics")).to_pandas()
    m["z"] = m["z"].astype(int)
    g = m.groupby(["layer", "z"]).agg(
        tiles=("n_features", "size"), features=("n_features", "sum"),
        dropped=("n_dropped", "sum"), bytes=("bytes", "sum"),
        max_bytes=("bytes", "max")).reset_index()
    want = {(r.layer, r.z): r for r in g.itertuples()}
    got = [row for rec in recs for row in rec["report"]]
    assert sorted((r["layer"], r["z"]) for r in got) == sorted(want)
    for rec in recs:
        assert {r["z"] for r in rec["report"]} == set(rec["zooms"])
        assert rec["n_tiles_over_500kb"] == 0
    for r in got:
        w = want[(r["layer"], r["z"])]
        assert (r["tiles"], r["features"], r["dropped"], r["bytes"],
                r["max_bytes"]) == (w.tiles, w.features, w.dropped,
                                    w.bytes, w.max_bytes)
        le = r["encode_s_le"]
        assert list(le) == ["0.1", "1", "5", "20", "+Inf"]
        assert le["+Inf"] == r["tiles"]
        assert list(le.values()) == sorted(le.values())
    # every tile has a pages layer, so the pages rows count the tiles
    assert sum(r["tiles"] for r in got if r["layer"] == "pages") \
        == sum(rec["n_tiles"] for rec in recs) == 85


def test_report_counts_big_tiles(spark, tmp_path):
    """The 500 KB advisory count rides the tile write's observe()."""
    big = bytearray(sinks.MAX_TILE_SIZE + 1)
    tiles = spark.createDataFrame(
        [(0, 0, 0, bytearray(b"x")), (1, 0, 0, big), (1, 1, 0, big)],
        "z int, x long, y long, tile_bytes binary")
    metrics = spark.createDataFrame(
        [(0, 0, 0, "l", 1)], "z int, x long, y long, layer string, "
        "n_features long")
    rec = sinks.write_tiles(tiles, metrics, str(tmp_path / "sink"))
    assert rec["n_tiles_over_500kb"] == 2
    assert "report" not in rec


# --- tile invariants of every written tile --------------------------------

_MOVETO, _LINETO, _CLOSEPATH = mvt.CMD_MOVETO, mvt.CMD_LINETO, \
    mvt.CMD_CLOSEPATH
_COORD_LO, _COORD_HI = -64, 4160    # the 64-pixel buffer around 4096


def _commands(geometry):
    """[(cmd, [(x, y), ...])] with absolute cursor coordinates; raises
    AssertionError on an unknown command or a truncated stream."""
    out, pos, x, y = [], 0, 0, 0
    while pos < len(geometry):
        cmd = geometry[pos]
        cid, cnt = cmd & 0x7, cmd >> 3
        pos += 1
        assert cid in (_MOVETO, _LINETO, _CLOSEPATH), cmd
        assert cnt >= 1, cmd
        if cid == _CLOSEPATH:
            assert cnt == 1, cmd
            out.append((cid, []))
            continue
        assert pos + 2 * cnt <= len(geometry), "truncated command stream"
        pts = []
        for _ in range(cnt):
            dx, dy = geometry[pos], geometry[pos + 1]
            pos += 2
            x += (dx >> 1) ^ -(dx & 1)
            y += (dy >> 1) ^ -(dy & 1)
            pts.append((x, y))
        out.append((cid, pts))
    return out


def _check_geometry(gtype, geometry):
    cmds = _commands(geometry)
    assert cmds, "empty geometry"
    kinds = [c for c, _ in cmds]
    if gtype == mvt.GEOM_POINT:
        assert kinds == [_MOVETO]
    elif gtype == mvt.GEOM_LINESTRING:
        assert kinds == [_MOVETO, _LINETO] * (len(kinds) // 2)
    elif gtype == mvt.GEOM_POLYGON:
        assert kinds == [_MOVETO, _LINETO, _CLOSEPATH] * (len(kinds) // 3)
        # a ring is a MoveTo and at least two LineTos before ClosePath
        assert all(len(p) >= 2 for c, p in cmds if c == _LINETO)
    else:
        raise AssertionError(f"geometry type {gtype}")
    if gtype != mvt.GEOM_POINT:
        # every part starts with a MoveTo of one point
        assert all(len(p) == 1 for c, p in cmds if c == _MOVETO)
    for _, pts in cmds:
        for px, py in pts:
            assert _COORD_LO <= px <= _COORD_HI and \
                _COORD_LO <= py <= _COORD_HI, (px, py)


def _unpack(wire, v):
    return mvt._unpack_u32(v) if wire == 2 else [v]


def _layer_counts(buf):
    """{layer: n_features} of one tile, walking the raw messages (a
    decoded dict would hide a repeated layer name) and checking every
    layer's names, ids and geometry on the way."""
    names, counts = [], {}
    for field, _, layer in mvt._decode_message(buf):
        assert field == 3, field
        name, ids = None, []
        for f2, w2, v2 in mvt._decode_message(layer):
            if f2 == 1:
                name = bytes(v2).decode("utf-8")
            elif f2 == 2:
                fid, gtype, geometry = None, None, None
                for f3, w3, v3 in mvt._decode_message(v2):
                    if f3 == 1:
                        fid = v3
                    elif f3 == 3:
                        gtype = v3
                    elif f3 == 4:
                        geometry = _unpack(w3, v3)
                assert fid is not None and geometry is not None
                _check_geometry(gtype, geometry)
                ids.append(fid)
        assert ids == sorted(set(ids)), f"{name}: ids do not ascend"
        names.append(name)
        counts[name] = len(ids)
    assert names == sorted(set(names)), names
    return counts


def test_written_tiles_keep_invariants(sf001_z3_sink):
    """Every tile of the sink: unique sorted layer names, ascending
    feature ids, well-formed command streams, coordinates inside the
    buffered extent, and per-layer feature counts equal to the lineage
    table's n_features."""
    t = pq.read_table(os.path.join(sf001_z3_sink, "tiles"),
                      columns=["z", "x", "y", "tile_bytes"]).to_pydict()
    m = pq.read_table(os.path.join(sf001_z3_sink, "_metrics"),
                      columns=["z", "x", "y", "layer", "n_features"]
                      ).to_pydict()
    lineage = {}
    for z, x, y, layer, n in zip(m["z"], m["x"], m["y"], m["layer"],
                                 m["n_features"]):
        lineage.setdefault((int(z), x, y), {})[layer] = n
    decoded = {}
    for z, x, y, buf in zip(t["z"], t["x"], t["y"], t["tile_bytes"]):
        decoded[(int(z), x, y)] = _layer_counts(buf)
    assert len(decoded) == 85
    # a layer whose features were all clipped away still has a lineage
    # row (n_features 0) and an empty layer message
    assert decoded == lineage


# --- the build's Spark jobs and plans --------------------------------------

# jobs of build_tiles(sf0.001, zooms [0, 1]) + write_batch into a fresh
# sink. The parent of this change ran 14: a point count() job and a
# second corpus read's schema job, both gone, against one added report
# aggregate that replaced the isEmpty() job.
_WRITE_BATCH_JOBS = 12


def test_write_batch_job_count(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("write_batch_jobs", "build + write_batch")
    try:
        metrics, tiles = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1])
        rec = sinks.write_batch(spark, tiles, metrics, str(tmp_path / "s"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rec["n_tiles"] == 5
    jobs = sc.statusTracker().getJobIdsForGroup("write_batch_jobs")
    assert 0 < len(jobs) <= _WRITE_BATCH_JOBS, sorted(jobs)


def test_footer_rows(spark, sf_dir):
    """Footer counts are exact for a corpus scan; a non-local or missing
    file reads as None, so the build counts with a job instead."""
    docs = corpus.documents(spark, sf_dir)
    assert corpus.footer_rows(docs) == docs.count()
    assert corpus.footer_rows(pipeline.polygon_features(spark, sf_dir)) \
        == 30   # 25 nations + 5 regions

    class _Files:
        def __init__(self, *files):
            self.files = list(files)

        def inputFiles(self):
            return self.files

    assert corpus.footer_rows(_Files("s3a://bucket/docs.parquet")) is None
    assert corpus.footer_rows(
        _Files("file:///nonexistent/docs.parquet")) is None


def test_layered_streams_skip_window_when_cap_cannot_bind(spark, sf_dir,
                                                         tmp_path,
                                                         monkeypatch):
    """A seed batch with every layered stream writes a plan with no
    Window: catalog-sized polygons and roads, and one-feature debug
    groups, can never reach the budget. An unreadable bound keeps the
    window."""
    plans = []
    real_write = sinks.write_tiles

    def spying_write(tiles, metrics, path, **kw):
        plans.append(metrics._jdf.queryExecution().executedPlan().toString())
        return real_write(tiles, metrics, path, **kw)

    monkeypatch.setattr(sinks, "write_tiles", spying_write)
    metrics, tiles = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1],
                                          with_roads=True, with_debug=True)
    rec = sinks.write_batch(spark, tiles, metrics, str(tmp_path / "sink"))
    assert {r["layer"] for r in rec["report"]} == {
        "pages", "nations", "regions", "roads", "debug-tile-outline",
        "debug-tile-center"}
    assert len(plans) == 1
    assert "Window" not in plans[0]

    monkeypatch.setattr(corpus, "footer_rows", lambda df: None)
    metrics, _ = pipeline.build_tiles(spark, sf_dir, zooms=[0, 1],
                                      with_points=False)
    assert "Window" in metrics._jdf.queryExecution().executedPlan() \
        .toString()
