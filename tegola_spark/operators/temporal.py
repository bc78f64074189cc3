"""Temporal as-of join — a join Spark's DataFrame API lacks natively.

tegola has no temporal joins at all (SURVEY §2.3 declares as-of /
interval joins absent from the reference); this is the engine-extra
formulation for event-stream attribution (each purchase matched to the
user's latest prior click, each metric sample to the most recent
config change, ...).

Scale plan — the reason this is NOT an equi-join + filter + window:
the naive plan materializes |left_per_key| x |right_per_key| rows per
key before picking one winner, which explodes on hot keys. Here both
inputs are unioned map-side (a union is free — no exchange) and the
match is a single running ``last(ignorenulls)`` window over
(key, ts, side), so the physical plan is ONE exchange on the key plus
one sort, with one struct of running state per partition. Right-side
payload rides a single struct column; left rows never duplicate.

Tie semantics (pinned so the DuckDB oracle can replay them): matches
are inclusive (right.ts <= left.ts); at equal right timestamps the row
with the greatest tie-break column wins; right rows sort BEFORE left
rows at the same timestamp, so a right event at exactly left.ts is
matched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# asof_join's right-side payload; event_id also breaks timestamp ties
_ASOF_PAYLOAD = ("event_id", "value")
BUCKET_S = 21600               # interval_join's time cell: 6 h
LEVELS = (60, 3600, 86400)     # time_rollup's levels: minute, hour, day;
                               # each divides the next (the cascade re-buckets)
WINDOW_S = 3600                # rolling_user_stats' trailing window


def asof_join(left: DataFrame, right: DataFrame,
              tolerance_s: int | None = None) -> DataFrame:
    """Backward as-of join: left rows + the latest right row with
    ``right.ts <= left.ts`` per ``user_id`` (LEFT semantics — unmatched
    left rows keep nulls); at equal ``ts`` the greatest ``event_id``
    wins. ``tolerance_s`` additionally requires
    ``right.ts >= left.ts - tolerance_s`` (matches outside the window
    revert to nulls, the row is kept). Output: every left column, then
    ``r_ts``, ``r_event_id`` and ``r_value``.
    """
    lcols = left.columns
    r_payload = F.struct(
        F.col("ts").alias("_rts"),
        *[F.col(c) for c in _ASOF_PAYLOAD])
    r_side = right.select(
        F.col("user_id").alias("_k"), F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"), F.col("event_id").alias("_tie"),
        r_payload.alias("_r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias("_l_" + c)
          for c in lcols])
    l_side = left.select(
        F.col("user_id").alias("_k"), F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"), F.lit(None).cast("long").alias("_tie"),
        F.lit(None).cast(r_side.schema["_r"].dataType).alias("_r"),
        *[F.col(c).alias("_l_" + c) for c in lcols])
    w = (Window.partitionBy("_k")
         .orderBy(F.col("_ts").asc(), F.col("_side").asc(),
                  F.col("_tie").asc_nulls_first())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (r_side.unionByName(l_side)
               .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
               .where(F.col("_side") == 1))
    if tolerance_s is not None:
        in_window = (F.col("_m._rts") >=
                     F.col("_ts") - F.expr(f"INTERVAL {int(tolerance_s)} SECOND"))
        matched = matched.withColumn(
            "_m", F.when(in_window, F.col("_m")))
    return matched.select(
        *[F.col("_l_" + c).alias(c) for c in lcols],
        F.col("_m._rts").alias("r_ts"),
        *[F.col("_m." + c).alias("r_" + c) for c in _ASOF_PAYLOAD])


def interval_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Non-equi point-in-interval range join (``t_start <= ts < t_end``)
    without a key column — the join Spark cannot plan as anything but
    a nested loop on its own.

    Scale plan: quantize the time axis into ``BUCKET_S``-second cells
    (the 1-D analog of the spatial cover-cell join in
    spatial_join.py). Each interval explodes to the cells it touches
    (ceil(len/BUCKET_S)+1 rows); each point maps to exactly ONE cell,
    so the equi-join on the cell key produces every candidate pair at
    most once — no dedup pass — and the residual timestamp filter
    evaluates inside the join stage. ``BUCKET_S`` is 6 h, the length
    of the incident windows the ``interval_join`` query joins, so each
    interval explodes to at most 2 cells and hot cells are bounded by
    time-locality, not corpus size. Truncation to epoch seconds is
    monotone, so a point inside [start, end) always lands
    in a cell the interval covers (cover is conservative; the residual
    is exact on full-precision timestamps).
    """
    pb = F.floor(F.unix_timestamp("ts") / BUCKET_S).cast("long")
    sb = F.floor(F.unix_timestamp("t_start") / BUCKET_S).cast("long")
    eb = F.floor(F.unix_timestamp("t_end") / BUCKET_S).cast("long")
    p = points.withColumn("_cell", pb)
    iv = intervals.withColumn("_cell", F.explode(F.sequence(sb, eb)))
    return (p.join(iv, "_cell")
             .where((F.col("ts") >= F.col("t_start")) &
                    (F.col("ts") < F.col("t_end")))
             .drop("_cell"))


def time_rollup(ev: DataFrame) -> DataFrame:
    """Hypertable-style hierarchical time rollup (continuous-aggregate
    cascade) over ``LEVELS``: the finest level aggregates raw events
    ONCE; every coarser level re-aggregates the previous level's partials
    (sum-of-sums, min-of-mins, max-of-maxes, count-of-counts), so raw
    data is scanned and shuffled exactly once and each cascade step's
    exchange carries only the previous level's bucket count — at 100
    TB the hour->day step moves 24x fewer rows than re-scanning raw.
    Bucket nesting is exact because each level divides the next
    (floor(floor(e/a)/(b/a)) == floor(e/b) for positive e).

    Returns all levels unioned, tagged by ``level_s``.
    """
    ep = F.unix_timestamp("ts")
    cur = (ev.withColumn("bucket", F.floor(ep / LEVELS[0]).cast("long"))
             .groupBy("bucket")
             .agg(F.count("*").alias("n_events"),
                  F.sum("value").alias("sum_value"),
                  F.min("value").alias("min_value"),
                  F.max("value").alias("max_value"))
             .withColumn("level_s", F.lit(LEVELS[0]).cast("long")))
    out = cur
    for prev, nxt in zip(LEVELS, LEVELS[1:]):
        fac = nxt // prev
        cur = (cur.groupBy(
                    F.floor(F.col("bucket") / fac).cast("long").alias("bucket"))
                  .agg(F.sum("n_events").alias("n_events"),
                       F.sum("sum_value").alias("sum_value"),
                       F.min("min_value").alias("min_value"),
                       F.max("max_value").alias("max_value"))
                  .withColumn("level_s", F.lit(nxt).cast("long")))
        out = out.unionByName(cur)
    return out


def rolling_user_stats(ev: DataFrame) -> DataFrame:
    """Trailing time-window aggregates per entity: at every event, the
    count and value-sum of that user's events in the preceding
    ``WINDOW_S`` seconds (inclusive) — the rate-limit / burst-feature
    window every abuse and engagement pipeline computes.

    Uses a RANGE frame over the epoch-seconds key, NOT a row frame:
    the frame is defined by time distance, so co-timestamped events
    are peers and the result is independent of within-partition row
    order (deterministic under any shuffle).  The value is integerized
    to micro-units (``floor(v * 1e6 + 0.5)``, the unigram_lm recipe)
    so the windowed sum is exact int64 in any accumulation order.

    One exchange on the user key; each partition then sorts locally
    and streams the frame with a sliding two-pointer — state is the
    open window, not the partition.  Hot-user skew is bounded by
    per-user event counts (AQE skew splitting cannot split a window
    partition, so a truly pathological key would need a two-level
    pre-aggregate by (user, coarse bucket) — not warranted here).
    """
    ep = F.unix_timestamp(F.col("ts")).cast("long")
    vm = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")
    base = ev.select(F.col("event_id"), F.col("user_id"),
                     ep.alias("ep"), vm.alias("vm"))
    w = (Window.partitionBy("user_id").orderBy("ep")
         .rangeBetween(-(WINDOW_S - 1), 0))
    return base.select(
        "event_id", "user_id", "ep",
        F.count("*").over(w).cast("long").alias("roll_n"),
        F.sum("vm").over(w).cast("long").alias("roll_sum_micro"))
