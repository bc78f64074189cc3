"""spark-submit entry point — the `tegola cache seed` analog.

The reference's batch mode enumerates every tile in a bounds x zoom
range and renders it under a worker pool
(cmd/tegola/cmd/cache/seed_purge.go:206-266, cache.go:118-234); this is
the same job as one spark-submit invocation (spark-submit runs a script,
so the entry is the tools/submit_seed.py shim):

    spark-submit --py-files tegola_spark.zip tools/submit_seed.py \\
        seed --input /data/corpus --out /sinks/tiles \\
        --min-zoom 0 --max-zoom 10 [--cpus N]

or locally:  python -m tegola_spark.cli seed --input ... --out ...

Semantics carried over from the reference CLI:
  * --min-zoom/--max-zoom bound the fan-out (seed_purge.go:73-76)
  * resume: re-invoking with the same --out completes only missing
    tiles (skip-if-cached, worker.go:50-77) via the sink anti-join
  * --overwrite re-seeds from scratch (the `purge` + seed flow)
  * per-(z,x,y,layer) lineage metrics (counts, bytes, encode time; no
    layer blobs — each tile is stored once, in tiles/) land in the
    sink's _metrics table, and each batch's manifest record carries a
    per-(layer, z) build report (sinks.build_report)

The batch loop is ``streaming/checkpoint.seed_tiles``. One evaluation
per batch: each zoom batch's (metrics, tiles) frames go to
``sinks.write_batch``, which persists the encoded metrics frame
before any action. The build report (which doubles as the resume
emptiness test), the tile write and the lineage write all read that
one encode — the reference likewise renders a tile once and then
stores it (cache.go:118-234). The frame is
unpersisted when the batch ends, whether written, skipped or failed.
A --tile-list work set is cached once for the whole batch loop and
unpersisted when the loop ends, also when it raises.

Scale knobs: --max-features (per-tile-layer budget; default 'auto'),
--anchor-z (the zoom whose tiles group the deep zooms' points; see
plans/pipeline.build_tiles).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tegola_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    seed = sub.add_parser("seed", help="batch-render tiles into a sink")
    seed.add_argument("--input", required=True,
                      help="corpus directory holding documents.parquet etc.")
    seed.add_argument("--out", required=True, help="tile sink directory")
    seed.add_argument("--min-zoom", type=int, default=0)
    seed.add_argument("--max-zoom", type=int, default=5)
    seed.add_argument("--cpus", type=int, default=None,
                      help="pin the master to local[N]; without it the "
                           "master given to spark-submit stays, unless "
                           "SPARK_GRAFT_CPUS is set (then local[that]) or "
                           "there is no spark-submit (then local[all cores])")
    seed.add_argument("--batch-zooms", type=int, default=2,
                      help="zoom levels per write batch (resume granularity)")
    seed.add_argument("--hierarchical", action="store_true",
                      help="no effect, accepted for old command lines: "
                           "every build shuffles its points once")
    seed.add_argument("--anchor-z", type=int, default=None)
    seed.add_argument("--max-features", default="auto",
                      help="'auto', an int budget, or 'none'")
    seed.add_argument("--overwrite", action="store_true",
                      help="purge the sink before seeding")
    seed.add_argument("--tile-list", default=None,
                      help="file of z/x/y tile names: render ONLY these "
                           "tiles, expanded across the zoom range unless "
                           "--tile-list-explicit (the reference's `cache "
                           "seed tile-list` mode, cmd/tegola/cmd/cache/"
                           "tile_list.go)")
    seed.add_argument("--tile-list-explicit", action="store_true",
                      help="render listed tiles exactly as given, no "
                           "zoom expansion")
    return p


def cmd_seed(args, spark=None) -> int:
    from .plans.session import get_spark
    from .streaming import checkpoint

    if args.overwrite:
        shutil.rmtree(args.out, ignore_errors=True)

    own_session = spark is None
    if own_session:
        spark = get_spark("tegola_spark_seed", cpus=args.cpus)
        spark.sparkContext.setLogLevel("WARN")
    zooms = list(range(args.min_zoom, args.max_zoom + 1))
    cap = args.max_features
    if cap == "none":
        cap = None
    elif cap != "auto":
        cap = int(cap)

    tile_filter = None
    if args.tile_list:
        from .operators import tiling

        # the listed-tile work set is built ONCE (distributed span
        # expansion); per-batch semi-joins prune to each batch's zooms
        tile_filter = tiling.tile_list_from_file(
            spark, args.tile_list, zooms,
            explicit=args.tile_list_explicit).cache()

    try:
        recs = checkpoint.seed_tiles(
            spark, args.input, args.out, zooms, batch_zooms=args.batch_zooms,
            max_features_per_tile=cap, tile_filter=tile_filter,
            anchor_z=args.anchor_z)
    finally:
        # the cached --tile-list work set lives exactly as long as the
        # batch loop, whether it finished or raised
        if tile_filter is not None:
            tile_filter.unpersist()
    print(json.dumps({"batches_written": len(recs), "records": recs}))
    if own_session:
        spark.stop()
    return 0


def _check_seed_args(parser: argparse.ArgumentParser, args) -> None:
    """Reject a zoom range or batch size that would seed nothing (an
    empty or reversed range, a batch of fewer than one zoom) or zooms
    outside the grid, with an argparse error (exit 2) before any Spark
    session starts."""
    from .functions.grid import MAX_Z

    if args.batch_zooms < 1:
        parser.error(f"--batch-zooms must be >= 1, got {args.batch_zooms}")
    for opt, z in (("--min-zoom", args.min_zoom),
                   ("--max-zoom", args.max_zoom)):
        if not 0 <= z <= MAX_Z:
            parser.error(f"{opt} must be in [0, {MAX_Z}], got {z}")
    if args.min_zoom > args.max_zoom:
        parser.error(f"--min-zoom {args.min_zoom} is above "
                     f"--max-zoom {args.max_zoom}")


def main(argv=None, spark=None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.cmd == "seed":
        _check_seed_args(parser, args)
        return cmd_seed(args, spark=spark)
    return 2


if __name__ == "__main__":
    sys.exit(main())
