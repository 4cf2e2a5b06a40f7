"""Per-cell aggregation kernels — the reference's raster_agg.py re-expressed
as built-in Spark expressions so ALL kernels fuse into ONE groupBy(cell_id)
shuffle with partial/final hash aggregation and whole-stage codegen (the
reference runs ~15 separate call_aggregator passes over the data,
raster_proc.py:290-519; here one pass).

Every builder returns Column expressions with stable aliases; the SQL twins
(same arithmetic) live next to them for the DuckDB oracle. NULL inputs are
skipped by Spark/DuckDB agg semantics exactly like the reference's masked
arrays (raster_agg.py:46-49 args_mask).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def composite_area_variance(
    cls: Column, pixel_area: Column, water_frac_uncert: Column,
    darea_dheight: Column, height_var: Column, pfd: Column, pmd: Column,
    interior: list[int], edge: list[int], alias: str,
) -> Column:
    """Closed-form variance of the composite water area — the uncertainty
    half of the reference's aggregate_water_area (raster_agg.py:195-204,
    which calls ag.area_with_uncert in the out-of-tree SWOTWater package
    with exactly these inputs: water_frac_uncert, darea_dheight, Pfd, Pmd).
    Standard independent-pixel error propagation:

      interior pixel: area² · (Pfd(1−Pfd) + Pmd(1−Pmd))   [Bernoulli
                      detection variance from false/missed detection rates]
      edge pixel:     (area · water_frac_uncert)²          [fraction noise]
      both:           + darea_dheight² · σ²_height         [height
                      sensitivity of the projected pixel area]

    water_area_u = sqrt of this sum; water_frac_u divides by the same
    nominal area water_frac does."""
    return composite_area_variance_expr(
        cls, pixel_area, water_frac_uncert, darea_dheight, height_var,
        pfd, pmd, interior, edge,
    ).alias(alias)


def composite_area_variance_expr(
    cls: Column, pixel_area: Column, water_frac_uncert: Column,
    darea_dheight: Column, height_var: Column, pfd: Column, pmd: Column,
    interior: list[int], edge: list[int],
) -> Column:
    """Unaliased form of composite_area_variance, reusable inside derived
    output expressions (sqrt, fraction division)."""
    det_var = pfd * (F.lit(1.0) - pfd) + pmd * (F.lit(1.0) - pmd)
    h_term = darea_dheight * darea_dheight * height_var
    per_px = (
        F.when(cls.isin(interior), pixel_area * pixel_area * det_var + h_term)
        .when(
            cls.isin(edge),
            (pixel_area * water_frac_uncert) * (pixel_area * water_frac_uncert)
            + h_term,
        )
        .otherwise(F.lit(0.0))
    )
    return F.sum(per_px)


def composite_area_variance_sql(
    cls: str, pixel_area: str, water_frac_uncert: str,
    darea_dheight: str, height_var: str, pfd: str, pmd: str,
    interior: list[int], edge: list[int], alias: str,
) -> str:
    i = ", ".join(map(str, interior))
    e = ", ".join(map(str, edge))
    det = f"(({pfd}) * (1.0 - ({pfd})) + ({pmd}) * (1.0 - ({pmd})))"
    h = f"(({darea_dheight}) * ({darea_dheight}) * ({height_var}))"
    return (
        f"SUM(CASE WHEN ({cls}) IN ({i}) "
        f"THEN ({pixel_area}) * ({pixel_area}) * {det} + {h} "
        f"WHEN ({cls}) IN ({e}) "
        f"THEN (({pixel_area}) * ({water_frac_uncert})) * "
        f"(({pixel_area}) * ({water_frac_uncert})) + {h} "
        f"ELSE 0.0 END) AS {alias}"
    )


# ------------------------------------------------------------------ A11 ------

def dark_frac(
    cls: Column, pixel_area: Column, water_frac: Column,
    dark: list[int], interior: list[int], edge: list[int], alias: str,
) -> Column:
    """Σ dark-class area / composite total area; 0 when no dark pixels, and
    0 when dark pixels exist but the composite total area is 0 (all-dark
    cell) — exactly the reference's zero-denominator branch
    (raster_agg.py:266-269: ``if total_area==0: dark_frac = 0``). The zero
    denominator must still be guarded explicitly: ANSI mode errors on a bare
    divide-by-zero. (raster_agg.py:245-276 aggregate_dark_frac)."""
    dark_area = F.sum(F.when(cls.isin(dark), pixel_area).otherwise(F.lit(0.0)))
    total = F.sum(
        F.when(cls.isin(interior), pixel_area)
        .when(cls.isin(edge), pixel_area * water_frac)
        .otherwise(F.lit(0.0))
    )
    return (
        F.when(dark_area == 0.0, F.lit(0.0))
        .when(total == 0.0, F.lit(0.0))
        .otherwise(dark_area / total)
    ).alias(alias)


def dark_frac_sql(
    cls: str, pixel_area: str, water_frac: str,
    dark: list[int], interior: list[int], edge: list[int], alias: str,
) -> str:
    d = ", ".join(map(str, dark))
    i = ", ".join(map(str, interior))
    e = ", ".join(map(str, edge))
    dark_area = f"SUM(CASE WHEN ({cls}) IN ({d}) THEN ({pixel_area}) ELSE 0.0 END)"
    total = (
        f"SUM(CASE WHEN ({cls}) IN ({i}) THEN ({pixel_area}) "
        f"WHEN ({cls}) IN ({e}) THEN ({pixel_area}) * ({water_frac}) ELSE 0.0 END)"
    )
    return (
        f"(CASE WHEN {dark_area} = 0.0 THEN 0.0 "
        f"WHEN {total} = 0.0 THEN 0.0 "
        f"ELSE {dark_area} / {total} END) AS {alias}"
    )


# ------------------------------------------------------------------ A13 ------

def ice_flag(flag: Column, partial_value: int, alias: str) -> Column:
    """min flag when all equal, else PARTIAL (raster_agg.py:278-292
    aggregate_ice_flag)."""
    return (
        F.when(F.min(flag) == F.max(flag), F.min(flag)).otherwise(F.lit(partial_value))
    ).alias(alias)


def ice_flag_sql(flag: str, partial_value: int, alias: str) -> str:
    return (
        f"(CASE WHEN MIN({flag}) = MAX({flag}) THEN MIN({flag}) "
        f"ELSE {partial_value} END) AS {alias}"
    )


# ------------------------------------------------------------------ A14 ------

def qual_bitwise_rollup_sql(conds: list[tuple[str, int]], alias: str) -> str:
    """Assemble a cell-level quality word: each (condition, bit) contributes
    its bit at most once per cell — bool_or per condition then sum of disjoint
    bits (== bitwise OR). Mirrors raster_agg.py:304-371 where each bit is
    added once per cell after any()/threshold checks. The same text is the
    Spark aggregate (``F.expr``) and the DuckDB oracle's, so each dialect
    passes its own spelling of the conditions."""
    terms = [
        f"(CASE WHEN MAX(CASE WHEN {cond} THEN 1 ELSE 0 END) = 1 THEN {bit} ELSE 0 END)"
        for cond, bit in conds
    ]
    return f"CAST({' + '.join(terms)} AS BIGINT) AS {alias}"


# ------------------------------------------------------------------ A12 ------

def mode_agg(df: DataFrame, group_cols: list[str], value_col: str, alias: str) -> DataFrame:
    """Most frequent value per group, deterministic ties by smallest value —
    count-per-(group,value) + row_number (raster_agg.py:516-520
    simple_masked mode; salts cleanly at scale because the inner groupBy key
    includes the value)."""
    counted = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_cnt").desc(), F.col(value_col).asc()
    )
    return (
        counted.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*group_cols, F.col(value_col).alias(alias))
    )


def mode_agg_sql(table_sql: str, group_cols: list[str], value_col: str, alias: str) -> str:
    g = ", ".join(group_cols)
    return f"""
WITH counted AS (
  SELECT {g}, {value_col}, COUNT(*) AS _cnt
  FROM ({table_sql}) WHERE {value_col} IS NOT NULL
  GROUP BY {g}, {value_col}
),
ranked AS (
  SELECT {g}, {value_col},
         ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY _cnt DESC, {value_col} ASC) AS _rn
  FROM counted
)
SELECT {g}, {value_col} AS {alias} FROM ranked WHERE _rn = 1
"""


# ------------------------------------------------------------------ P5 -------

def degraded_fallback_filter(
    df: DataFrame,
    cell_col: str,
    good_sus: Column,
    degraded: Column,
    thresh: int,
) -> DataFrame:
    """Per-cell conditional set switching (raster_proc.py:654-684
    get_rasterization_masks): use good+suspect rows; cells with fewer than
    ``thresh`` such rows fall back to good+sus+degraded. One pass via a
    window count — no second scan."""
    w = Window.partitionBy(cell_col)
    n_gs = F.sum(F.when(good_sus, 1).otherwise(0)).over(w)
    return df.withColumn("_n_gs", n_gs).where(
        F.when(F.col("_n_gs") >= thresh, good_sus).otherwise(good_sus | degraded)
    ).drop("_n_gs")
