"""Temporal joins Spark lacks natively — the as-of join.

An as-of join attaches, to every left row, the LATEST right row with
``ts_right <= ts_left`` per key (market-data, sensor-alignment, and
feature-store point-in-time-correctness semantics).  Spark has no ASOF
JOIN operator; the naive theta-join (``l.ts >= r.ts`` + window) explodes
quadratically per key.  The scale-right form used here is the classic
UNION + ORDERED WINDOW trick:

1. tag both sides, union them (allowMissingColumns),
2. one window per key ordered by (ts, side, right-order) with
   ``last(..., ignorenulls=True)`` carrying the most recent right values
   forward,
3. keep only left rows.

Cost: ONE shuffle of |L|+|R| rows keyed by the join key — linear, no
per-key cross product, AQE-skew-splittable like any window.  Ties
(right.ts == left.ts) match (<= semantics, right sorts first); multiple
right rows at the same ts resolve to the greatest ``order_col`` —
explicit and deterministic, where engines with native ASOF leave it
unspecified.  The DuckDB oracle uses its NATIVE ``ASOF JOIN`` operator —
two independent implementations agreeing on the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache


def asof_join(left: DataFrame, right: DataFrame, key_cols,
              ts_col: str = "ts", value_cols=("value",),
              order_col: str | None = None,
              suffix: str = "_asof") -> DataFrame:
    """Left as-of join: every ``left`` row gains ``<v>{suffix}`` columns
    holding the latest ``right`` values at-or-before its timestamp
    (null when no prior right row exists), plus ``ts{suffix}`` — the
    matched right timestamp.

    ``order_col``: tie-break among right rows sharing (key, ts) — the
    greatest value wins; defaults to the first value column.
    """
    key_cols = list(key_cols)
    order_col = order_col or value_cols[0]
    value_cols = list(value_cols)
    r = (right.select(*key_cols, ts_col, *dict.fromkeys(value_cols + [order_col]))
              .withColumn("_side", F.lit(0)))
    l = left.withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    # right rows sort BEFORE left rows at the same ts (<= semantics) and
    # among themselves by order_col, so `last` sees the winner last
    w = (Window.partitionBy(*key_cols)
               .orderBy(F.col(ts_col).asc(), F.col("_side").asc(),
                        F.col(order_col).asc_nulls_first())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = u
    for v in value_cols:
        out = out.withColumn(
            f"{v}{suffix}",
            F.last(F.when(F.col("_side") == 0, F.col(v)), ignorenulls=True).over(w))
    out = out.withColumn(
        f"{ts_col}{suffix}",
        F.last(F.when(F.col("_side") == 0, F.col(ts_col)), ignorenulls=True).over(w))
    keep = left.columns + [f"{v}{suffix}" for v in value_cols] + [f"{ts_col}{suffix}"]
    return out.filter(F.col("_side") == 1).select(*keep)


def range_join_point(points: DataFrame, intervals: DataFrame, key_cols=(),
                     ts_col: str = "ts", start_col: str = "start",
                     end_col: str = "end", bin_seconds: int = 3600) -> DataFrame:
    """Point-in-interval RANGE JOIN without the quadratic theta-join:
    Spark executes ``p.ts BETWEEN i.start AND i.end`` as a per-key cross
    product (BroadcastNestedLoop at best).  The scale form here is the
    standard time-bin bucketing rewrite: each interval explodes to the
    hour bins it covers, each point computes its single bin, and an
    EQUI-join on (key, bin) + the exact BETWEEN filter recovers exactly
    the true pairs — shuffle cost |P| + Σ interval_bins, hash join,
    AQE-skew-splittable.  A point matches via precisely one bin, so no
    dedup is needed; overlapping intervals yield one row per match.
    Choose ``bin_seconds`` ≈ the typical interval length (one-ish bin per
    interval)."""
    key_cols = list(key_cols)
    b = F.lit(int(bin_seconds))

    def epoch(c):
        # TIMESTAMP_NTZ (parquet default) has no direct long cast under
        # ANSI; route through TIMESTAMP (session tz is pinned to UTC)
        return F.col(c).cast("timestamp").cast("long")

    ibins = intervals.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(epoch(start_col) / b),
                             F.floor(epoch(end_col) / b))))
    p = points.withColumn("_bin", F.floor(epoch(ts_col) / b))
    joined = p.join(ibins, key_cols + ["_bin"])
    return (joined.filter((F.col(ts_col) >= F.col(start_col))
                          & (F.col(ts_col) <= F.col(end_col)))
                  .drop("_bin"))


def gap_fill_hourly(events: DataFrame, ts_col: str = "ts",
                    group_cols=("event_type",),
                    value_col: str = "value") -> DataFrame:
    """Dense hourly resample with ZERO-FILLED gaps — the time-series
    gap-fill the plain rollup lacks (a chart or downstream window over
    sparse hours needs explicit zero rows, not absent ones).

    Scale shape — ONE source scan: the sparse rollup is persisted, and
    both grid axes derive from IT (hour bounds = min/max rollup hour,
    group set = distinct rollup groups — every source row lands in some
    rollup group, so nothing is lost); the dense grid then LEFT-joins the
    same cached rollup.  Grid size is |groups| x |hours|, independent of
    event count.  Sums are integer cents (cross-engine determinism, same
    convention as the rollup oracle).  The rollup cache is registered with
    the cache scope for deterministic release.
    """
    hour = F.date_trunc("hour", F.col(ts_col))
    rolled = cache.persist(
        events.groupBy(hour.alias("hour"), *group_cols)
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.round(F.sum(value_col) * 100, 0).cast("long")
                    .alias("sum_cents")))
    bounds = rolled.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    hours = bounds.select(F.explode(F.sequence(
        F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))).alias("hour"))
    groups = rolled.select(*group_cols).distinct()
    grid = hours.crossJoin(F.broadcast(groups))
    return (grid.join(rolled, ["hour", *group_cols], "left")
                .select("hour", *group_cols,
                        F.coalesce("cnt", F.lit(0)).alias("cnt"),
                        F.coalesce("sum_cents", F.lit(0)).alias("sum_cents")))


def interval_overlap_join(left: DataFrame, right: DataFrame, key_cols=(),
                          l_start: str = "l_start", l_end: str = "l_end",
                          r_start: str = "r_start", r_end: str = "r_end",
                          bin_seconds: int = 3600) -> DataFrame:
    """Interval-overlap RANGE JOIN ([ls,le] ∩ [rs,re] ≠ ∅) without the
    quadratic theta-join — the interval-interval sibling of
    :func:`range_join_point`.

    Both sides explode to the time bins they cover and EQUI-join on
    (key, bin).  A true pair can share MANY bins; instead of a distinct,
    the match is kept only at the overlap's FIRST bin
    (``greatest(floor(ls/b), floor(rs/b))`` — always a shared bin of any
    overlapping pair, and unique), so the join emits exactly one row per
    true pair with no dedup shuffle.  Cost: Σ bins per side + one hash
    join; choose ``bin_seconds`` ≈ the typical interval length.

    Column names of the two sides must be disjoint (outside ``key_cols``)
    — raises otherwise rather than silently mis-resolving."""
    shared = (set(left.columns) & set(right.columns)) - set(key_cols)
    if shared:
        raise ValueError(f"left/right column name collision: {sorted(shared)}")
    key_cols = list(key_cols)
    b = F.lit(int(bin_seconds))

    def epoch(c):
        return F.col(c).cast("timestamp").cast("long")

    lb = left.withColumn("_bin", F.explode(F.sequence(
        F.floor(epoch(l_start) / b), F.floor(epoch(l_end) / b))))
    rb = right.withColumn("_bin", F.explode(F.sequence(
        F.floor(epoch(r_start) / b), F.floor(epoch(r_end) / b))))
    j = lb.join(rb, key_cols + ["_bin"])
    first_shared = F.greatest(F.floor(epoch(l_start) / b),
                              F.floor(epoch(r_start) / b))
    return (j.filter((F.col(l_start) <= F.col(r_end))
                     & (F.col(r_start) <= F.col(l_end))
                     & (F.col("_bin") == first_shared))
             .drop("_bin"))
