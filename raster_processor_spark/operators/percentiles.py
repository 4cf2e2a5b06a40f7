"""Weighted percentile (O2) — the reference's cumsum-interpolation form
(analysis/metrics.py:37-45):

    sorter = argsort(data); w, v sorted by data
    p_i = (cumsum(w) - 0.5 * w_i) / sum(w)
    result = np.interp(q, p, v)

Spark-first re-expression: ONE window cumsum per sort order (partitioned by
the group keys — never a global window), then a single groupBy picks the
bracketing rows (max struct(p,v) with p <= q / min struct(p,v) with p > q)
and interpolates. With integer-valued weights the cumsum and total are exact
in FP, so the Spark and DuckDB twins are bit-identical. Ties sort by an
explicit key column so the cumsum order is deterministic in both engines.

At scale: the shuffle is the window's partitionBy(group) — same key as the
enclosing aggregation, so AQE coalesces them; no per-group driver work.

The windowed form takes its value, weight, key and extra aggregates as Spark
SQL strings, like its DuckDB twin, so each stage assembles in one py4j call
(the Column-DSL form cost ~1,500 round trips per weighted_error_metrics
build). Struct brackets and interpolation are strings too; double literals
go through sql_double. The distributed form still takes Columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from raster_processor_spark.functions.literals import sql_double


# The one outstanding persisted range-partitioned input (bounded at a
# single entry — same session-hygiene pattern as text._RANGED_CACHE).
# SERIAL-EXECUTION CONTRACT: building a new weighted_percentile_distributed
# plan releases the PREVIOUS invocation's persists, so a caller must
# execute (or abandon) each returned plan before building the next one —
# two plans built before either runs would race each other's caches.
# Every engine consumer (registry queries, bench, tests) executes plans
# immediately; a concurrent-driver deployment should switch this to
# per-invocation handles released in the caller's finally.
_RANGED_CACHE: list[DataFrame] = []


def weighted_percentile_distributed(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    weight: Column,
    key: Column,
    q: float,
    out_name: str,
    extra_aggs: dict[str, Column] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """The same weighted percentile WITHOUT a per-group single-task sort.

    weighted_percentiles_fused's window (partitionBy(group) orderBy(value))
    sorts an ENTIRE group in one task — with a handful of zonal regions
    over a 100 TB fact table that is billions of rows per task. This form
    decomposes the cumsum the way text.distributed_rank_cut decomposes
    the rank:

      1. range-partition on (group, value, key) — a group's rows land in
         contiguous pids, sorted across partitions by construction; the
         pid is captured BEFORE any window so correctness never depends
         on where later shuffles move rows;
      2. local weight-cumsum within (pid, group) — no task ever sorts
         more than one range partition;
      3. global cumsum = local + Σ earlier-pid weight sums (the offset
         table is P x |groups| rows — broadcast); totals likewise;
      4. bracket + interpolate exactly as the windowed form.

    Bit-exactness needs the module's existing precondition — INTEGER-
    VALUED weights: every partial sum is then an exact integer in double,
    so local-plus-offset equals the sequential window cumsum bit-for-bit
    and this form shares the windowed form's DuckDB oracle verbatim."""
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    d = (
        df.withColumn("_v", value)
        .withColumn("_w", weight)
        .withColumn("_k", key)
    )
    while _RANGED_CACHE:
        _RANGED_CACHE.pop().unpersist()
    # persist the INPUT too: repartitionByRange runs a sampling job over
    # its child to pick range bounds, which would re-execute an expensive
    # upstream (here typically a PIP join) a second time; and
    # spark_partition_id below is nondeterministic to Catalyst, blocking
    # exchange reuse for the ranged side's two consumers (the rank-cut
    # lesson). At cluster scale both persists are where checkpoints of
    # the joined fact slice belong anyway.
    d = d.persist()
    _RANGED_CACHE.append(d)
    # materialize it EAGERLY: the sampling job and the broadcast-subtree
    # jobs (offsets/totals) are submitted concurrently by Spark, and an
    # unpopulated cache lets them race to compute the expensive input
    # several times in parallel (measured: 2-3 duplicate PIP executions
    # per pass at the 6M-point scale)
    d.count()
    ranged = (
        d.repartitionByRange(p, *group_cols, "_v", "_k")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    _RANGED_CACHE.append(ranged)
    w_local = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy("_v", "_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = ranged.withColumn("_lcw", F.sum("_w").over(w_local))
    counts = ranged.groupBy("_pid", *group_cols).agg(F.sum("_w").alias("_pw"))
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid",
        *group_cols,
        F.coalesce(F.sum("_pw").over(w_off), F.lit(0.0)).alias("_off"),
    )
    totals = counts.groupBy(*group_cols).agg(F.sum("_pw").alias("_tot"))
    ranked = (
        loc.join(F.broadcast(offsets), ["_pid", *group_cols])
        .join(F.broadcast(totals), group_cols)
        .withColumn(
            "_p",
            (F.col("_lcw") + F.col("_off") - 0.5 * F.col("_w"))
            / F.col("_tot"),
        )
    )
    below = F.when(
        F.col("_p") <= q,
        F.struct(F.col("_p").alias("_p"), F.col("_v").alias("_v")),
    )
    above = F.when(
        F.col("_p") > q,
        F.struct(F.col("_p").alias("_p"), F.col("_v").alias("_v")),
    )
    aggs = [F.max(below).alias("_lo"), F.min(above).alias("_hi")]
    for name, expr in (extra_aggs or {}).items():
        aggs.append(expr.alias(name))
    g = ranked.groupBy(*group_cols).agg(*aggs)
    p0, v0 = F.col("_lo._p"), F.col("_lo._v")
    p1, v1 = F.col("_hi._p"), F.col("_hi._v")
    interp = (
        F.when(F.col("_lo").isNull(), v1)
        .when(F.col("_hi").isNull(), v0)
        .otherwise(v0 + (v1 - v0) * (F.lit(float(q)) - p0) / (p1 - p0))
    )
    out_cols = [F.col(c) for c in group_cols]
    out_cols += [F.col(n) for n in (extra_aggs or {}).keys()]
    return g.select(*out_cols, interp.alias(out_name))


def weighted_percentiles_fused(
    df: DataFrame,
    group_cols: list[str],
    weight_sql: str,
    key_sql: str,
    specs: list[tuple[str, float, str]],
    extra_aggs_sql: dict[str, str] | None = None,
) -> DataFrame:
    """Several weighted percentiles (different sort orders) + ordinary
    aggregates in ONE shuffle: all windows share partitionBy(group) (Spark
    reuses the exchange, re-sorting per window) and a single groupBy picks
    every bracket and computes the extra aggregates. Replaces the
    join-of-three-aggregations shape (3 shuffles → 1).

    Takes the same Spark SQL expression strings as its DuckDB twin (value,
    weight, key, and the extra aggregates over ``_w`` / ``_v{i}``), so each
    stage is one py4j call."""
    gc = ", ".join(group_cols)
    d = df.selectExpr(
        "*", f"({weight_sql}) AS _w", f"({key_sql}) AS _k",
        *[f"({val}) AS _v{i}" for i, (val, _q, _n) in enumerate(specs)],
    )
    aggs: list[Column] = []
    for i, (_val, q, _name) in enumerate(specs):
        d = d.selectExpr(
            "*",
            f"(sum(_w) OVER (PARTITION BY {gc} ORDER BY _v{i}, _k"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" - _w * {sql_double(0.5)}) / sum(_w) OVER (PARTITION BY {gc})"
            f" AS _p{i}",
        )
        pv = f"struct(_p{i} AS _p, _v{i} AS _v)"
        aggs.append(F.expr(
            f"max(CASE WHEN _p{i} <= {sql_double(q)} THEN {pv} END) AS _lo{i}"
        ))
        aggs.append(F.expr(
            f"min(CASE WHEN _p{i} > {sql_double(q)} THEN {pv} END) AS _hi{i}"
        ))
    for name, expr in (extra_aggs_sql or {}).items():
        aggs.append(F.expr(f"{expr} AS {name}"))
    g = d.groupBy(*group_cols).agg(*aggs)
    outs = [
        f"CASE WHEN _lo{i} IS NULL THEN _hi{i}._v"
        f" WHEN _hi{i} IS NULL THEN _lo{i}._v"
        f" ELSE _lo{i}._v + (_hi{i}._v - _lo{i}._v) * ({sql_double(q)} - _lo{i}._p)"
        f" / (_hi{i}._p - _lo{i}._p) END AS {name}"
        for i, (_val, q, name) in enumerate(specs)
    ]
    return g.selectExpr(*group_cols, *(extra_aggs_sql or {}), *outs)


def weighted_percentiles_fused_sql(
    src_sql: str,
    group_cols: list[str],
    weight_sql: str,
    key_sql: str,
    specs: list[tuple[str, float, str]],
    extra_aggs_sql: dict[str, str] | None = None,
) -> str:
    """DuckDB twin of weighted_percentiles_fused. ``src_sql`` must expose the
    group cols plus every column referenced by the value/weight/key/extra
    expressions."""
    gc = ", ".join(group_cols)
    vcols = ",\n         ".join(
        f"({val}) AS _v{i}" for i, (val, _q, _n) in enumerate(specs)
    )
    pcols = ",\n         ".join(
        f"""(SUM(_w) OVER (PARTITION BY {gc} ORDER BY _v{i}, _k
              ROWS UNBOUNDED PRECEDING)
            - 0.5 * _w) / SUM(_w) OVER (PARTITION BY {gc}) AS _p{i}"""
        for i, _ in enumerate(specs)
    )
    brackets = ",\n         ".join(
        f"""MAX(CASE WHEN _p{i} <= {float(q)!r} THEN _p{i} END) AS _p0_{i},
         MIN(CASE WHEN _p{i} > {float(q)!r} THEN _p{i} END) AS _p1_{i},
         MAX(CASE WHEN _p{i} <= {float(q)!r} THEN {{'p': _p{i}, 'v': _v{i}}} END).v AS _v0_{i},
         MIN(CASE WHEN _p{i} > {float(q)!r} THEN {{'p': _p{i}, 'v': _v{i}}} END).v AS _v1_{i}"""
        for i, (_val, q, _n) in enumerate(specs)
    )
    extras = "".join(
        f",\n         {expr} AS {name}"
        for name, expr in (extra_aggs_sql or {}).items()
    )
    outs = "".join(
        f""",
       (CASE WHEN _p0_{i} IS NULL THEN _v1_{i}
             WHEN _p1_{i} IS NULL THEN _v0_{i}
             ELSE _v0_{i} + (_v1_{i} - _v0_{i}) * ({float(q)!r} - _p0_{i})
                  / (_p1_{i} - _p0_{i}) END) AS {name}"""
        for i, (_val, q, name) in enumerate(specs)
    )
    extra_names = "".join(f", {n}" for n in (extra_aggs_sql or {}).keys())
    return f"""
SELECT {gc}{extra_names}{outs}
FROM (
  SELECT {gc},
         {brackets}{extras}
  FROM (
    SELECT *,
         {pcols}
    FROM (
      SELECT *, ({weight_sql}) AS _w, ({key_sql}) AS _k,
         {vcols}
      FROM ({src_sql})
    )
  ) GROUP BY {gc}
)
"""
