"""Cell-encoding Spark surface: the one Spark-side definition of each grid's
bins.

Every encoder is a Spark SQL expression string over the double columns
``lat`` and ``lon`` — cellindex's numpy arithmetic spelled once for every
Spark plan (the registered queries, the images and regeoloc pipelines, the
streaming job, the spatial-join cover and kNN's ring phases). A codegen'd expression is
evaluated batch-wise inside the scan's pipeline like any built-in, so no
cell encode crosses the Python boundary; a string also assembles in one
py4j call (selectExpr / F.expr). Double literals carry the D suffix: a bare
``90.0`` is a DECIMAL in Spark SQL. Parent/rollup math is a pure column
expression — integer arithmetic stays JVM-side inside whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raster_processor_spark import cellindex as ci
from raster_processor_spark.functions.literals import sql_double


def quad_bins_expr(res: int) -> tuple[str, str]:
    """(ybin, xbin): 2^res clamped lat rows, 2^(res+1) clamped lon cols —
    cellindex.quad_bins."""
    ny, nx = 1 << res, 1 << (res + 1)
    yb = (
        f"LEAST(GREATEST(CAST(FLOOR((lat + 90.0D) / 180.0D * {ny})"
        f" AS BIGINT), 0L), {ny - 1}L)"
    )
    xb = (
        f"LEAST(GREATEST(CAST(FLOOR((lon + 180.0D) / 360.0D * {nx})"
        f" AS BIGINT), 0L), {nx - 1}L)"
    )
    return yb, xb


def quad_cell_expr(res: int) -> str:
    """Packed quadcell id res*2^50 + ybin*2^25 + xbin — cellindex.quad_encode."""
    yb, xb = quad_bins_expr(res)
    return f"({res}L * {ci.RES_SHIFT}L + ({yb}) * {ci.Y_SHIFT}L + ({xb}))"


def hex_bins_expr(res: int) -> tuple[str, str]:
    """(q, r) cube-rounded pointy-top axial bins — cellindex.hex_axial's
    arithmetic, operation for operation, so the doubles are bit-identical
    to the DuckDB oracle's (queries._hex_assign_sql).

    ROUND on a double is HALF_UP (half away from zero), the same as DuckDB's
    ROUND: cube rounding is NOT tie-break independent — at qf = -0.5
    exactly, half-to-even and floor(x + 0.5) both pick a different cell."""
    s = sql_double(180.0 / (1 << res))
    s3 = sql_double(math.sqrt(3.0) / 3.0)
    qf = f"(({s3} * lon - {sql_double(1.0 / 3.0)} * lat) / {s})"
    rf = f"(({sql_double(2.0 / 3.0)} * lat) / {s})"
    sf = f"(-{qf} - {rf})"
    q0, r0, s0 = f"ROUND({qf})", f"ROUND({rf})", f"ROUND({sf})"
    dq, dr, ds = f"ABS({q0} - {qf})", f"ABS({r0} - {rf})", f"ABS({s0} - {sf})"
    fix_q = f"({dq} > {dr} AND {dq} > {ds})"
    fix_r = f"((NOT {fix_q}) AND {dr} > {ds})"
    q = f"CAST(CASE WHEN {fix_q} THEN -{r0} - {s0} ELSE {q0} END AS BIGINT)"
    r = f"CAST(CASE WHEN {fix_r} THEN -{q0} - {s0} ELSE {r0} END AS BIGINT)"
    return q, r


def hex_cell_expr(res: int) -> str:
    """Packed hexcell id res*2^50 + (r + 2^24)*2^25 + (q + 2^24) —
    cellindex.hex_encode."""
    q, r = hex_bins_expr(res)
    off = ci.HEX_OFFSET
    return (
        f"({res}L * {ci.RES_SHIFT}L + (({r}) + {off}L) * {ci.Y_SHIFT}L"
        f" + ({q}) + {off}L)"
    )


def with_cell(df: DataFrame, res: int, alias: str = "cell_id") -> DataFrame:
    """Append the quadcell id of (lat, lon) at ``res`` as ``alias``."""
    return df.withColumn(alias, F.expr(quad_cell_expr(res)))


def quad_parent_col(cell: Column, child_res: int, parent_res: int) -> Column:
    """JVM-side parent-cell arithmetic (no UDF): exact prefix hierarchy."""
    shift = child_res - parent_res
    d = 1 << shift
    rem = F.pmod(cell, F.lit(ci.RES_SHIFT))
    yb = F.floor(rem / ci.Y_SHIFT).cast("long")
    xb = F.pmod(rem, F.lit(ci.Y_SHIFT))
    return (
        F.lit(parent_res).cast("long") * ci.RES_SHIFT
        + F.floor(yb / d).cast("long") * ci.Y_SHIFT
        + F.floor(xb / d).cast("long")
    )
