"""Window-shaped computations (SURVEY §2.5): gap sessionization, longitude
unwrap, as-of join — the reference's sequential-dependency patterns expressed
as lag + cumulative-sum windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def gap_sessionize(
    df: DataFrame, part_cols: list[str], ts: Column, gap: float,
    session_alias: str = "session_id",
) -> DataFrame:
    """Split an ordered sequence where the time delta exceeds ``gap``
    (raster_proc.py:744-753 _group_by_diff, missing-KaRIn detection):
    lag → jump flag → cumulative sum = run id. At scale each partition key
    sessionizes independently (no global sort)."""
    w = Window.partitionBy(*part_cols).orderBy(ts)
    prev = F.lag(ts).over(w)
    jump = F.when(prev.isNull() | (ts - prev > gap), 1).otherwise(0)
    return df.withColumn("_jump", jump).withColumn(
        session_alias,
        F.sum("_jump").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("_jump")


def lon_unwrap(
    df: DataFrame, part_cols: list[str], order: Column, lon: Column,
    alias: str = "lon_unwrapped",
) -> DataFrame:
    """Unwrap a longitude sequence across the antimeridian
    (raster_crs.py:189-195 shift_wrapped_longitude): where the step jumps by
    more than 180, accumulate a ±360 correction."""
    w = Window.partitionBy(*part_cols).orderBy(order)
    prev = F.lag(lon).over(w)
    corr = (
        F.when(prev.isNull(), 0.0)
        .when(lon - prev > 180.0, -360.0)
        .when(lon - prev < -180.0, 360.0)
        .otherwise(0.0)
    )
    cum = F.sum(corr).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn(alias, lon + cum)


def asof_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_ts: str,
    dim_ts: str,
    dim_cols: list[str],
    part_cols: list[str] | None = None,
) -> DataFrame:
    """As-of join: each fact row picks the latest dim row with
    dim_ts <= fact_ts (reference: nearest-sensor gather,
    geoloc_raster.py:139-158, as the ordered variant). Implemented as a
    union + last(ignorenulls) running window — one shuffle, no range
    explosion; the idiomatic Spark as-of pattern."""
    fact_types, dim_types = dict(facts.dtypes), dict(dim.dtypes)
    f = facts.selectExpr(
        *fact_types,
        *[f"CAST(NULL AS {dim_types[c]}) AS {c}" for c in dim_cols],
        f"{fact_ts} AS _ts", "1 AS _is_fact",
    )
    d = dim.selectExpr(
        *[c if c in dim_types else f"CAST(NULL AS {t}) AS {c}"
          for c, t in fact_types.items()],
        *dim_cols, f"{dim_ts} AS _ts", "0 AS _is_fact",
    )
    # dim rows sort before fact rows at equal ts → "<=" semantics; dim-side
    # ties at equal ts break deterministically by the payload columns
    # (last row in order wins → the maximum payload)
    part = f"PARTITION BY {', '.join(part_cols)} " if part_cols else ""
    order = ", ".join(
        ["_ts ASC", "_is_fact ASC"] + [f"{c} ASC NULLS FIRST" for c in dim_cols]
    )
    over = (
        f"OVER ({part}ORDER BY {order}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        f.unionByName(d)
        .selectExpr(
            *fact_types, *[f"last({c}, true) {over} AS {c}" for c in dim_cols],
            "_is_fact",
        )
        .where("_is_fact = 1")
        .drop("_is_fact")
    )


# ---------------------------------------------------------- interval join ---

def interval_join(
    events: "DataFrame",
    intervals: "DataFrame",
    bucket_us: int,
):
    """Point-in-interval overlap join: events(tus, ...) x intervals(s, e,
    ...) on s <= tus <= e — WITHOUT an inequality-only (theta) join, which
    Spark can only execute as a broadcast nested loop or cartesian.

    Time is tiled into fixed buckets of ``bucket_us`` microseconds, chosen
    >= the maximum interval duration so every interval touches at most two
    buckets: each interval replicates into its covered buckets (sequence
    explode, <= 2 rows), events carry their single bucket, and the heavy
    work is an EQUI-join on the bucket key with the range predicate as a
    post-join refine — shuffle is |events| + <= 2|intervals| rows, joins
    co-partition by bucket, and skewed buckets salt/AQE like any hash join.
    The same tile-then-refine shape as the spatial point-in-polygon join,
    applied to the time axis."""
    from pyspark.sql import functions as F

    iv = intervals.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"s div {bucket_us}"), F.expr(f"e div {bucket_us}")
            )
        ),
    )
    ev = events.withColumn("bucket", F.expr(f"tus div {bucket_us}"))
    return ev.join(iv, "bucket").where(
        (F.col("tus") >= F.col("s")) & (F.col("tus") <= F.col("e"))
    )
