"""Query registry: every implemented operator as (Spark plan, DuckDB oracle).

Each entry maps a SURVEY.md §2 operator (or a training-data-pipeline op) onto
the driver's synthetic tables. Geospatial queries georeference rows
deterministically from their keys (geo.py triplet arithmetic) so the Spark
plan and the DuckDB oracle compute bit-identical lat/lon/cell/join results.

Aliases are synchronized between the Spark plan and the oracle SQL (the
driver's compare sorts columns by name). Float aggregates are rounded to six
decimals on BOTH sides: double sums associate differently across engines;
rounding removes the ulp noise while keeping the check tight.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from raster_processor_spark import cellindex as ci
from raster_processor_spark import geo
from raster_processor_spark.functions.cells import (
    hex_cell_expr,
    quad_parent_col,
    with_cell,
)
from raster_processor_spark.functions.literals import sql_double
from raster_processor_spark.functions.quality import (
    summary_qual_col,
    summary_qual_sql,
)
from raster_processor_spark.operators import aggregates as agg
from raster_processor_spark.operators import burn as brn
from raster_processor_spark.operators import knn as knn_op
from raster_processor_spark.operators import spatial_join as sj
from raster_processor_spark.operators import windows as win
from raster_processor_spark.sources.tables import parquet_row_count

N_POLYS = 24
KNN_K = 5

# ---------------------------------------------------------------- helpers ---


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # schema-memoized read (sources/tables.py): skips the ~100 ms
    # per-call footer inference; the scan itself stays per-query
    from raster_processor_spark.sources.tables import read_parquet

    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def doc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents georeferenced by doc_id → (key, lat, lon, n_chars, lang,
    source). One selectExpr call — see pixc_points for why."""
    d = load(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id AS key",
        f"{geo.lat_sql_spark('doc_id')} AS lat",
        f"{geo.lon_sql_spark('doc_id')} AS lon",
        "n_chars",
        "lang",
        "source",
    )


DOC_PTS_SQL = (
    "SELECT doc_id AS key, "
    f"{geo.lat_sql('doc_id')} AS lat, {geo.lon_sql('doc_id')} AS lon, "
    "n_chars, lang, source FROM documents"
)


def pixc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → reference-semantics point table (FIXTURES.md F2 analogue):
    classification / height / variance / areas derived deterministically.

    Assembled as ONE selectExpr call: this projection feeds most of the
    registry and the Column-DSL form cost ~150-180 ms of py4j round trips
    per build (measured; load() itself is ~13 ms). The SQL strings mirror
    the former Column expressions operator-for-operator — pmod for pmod,
    D-suffixed double literals (a bare 1000.0 would parse as DECIMAL in
    Spark SQL), CASTs where the Column form cast — verified bit-identical
    against the Column form column-by-column and by the full oracle gate."""
    li = load(spark, sf_dir, "lineitem")
    k = "CAST(l_orderkey * 8 + l_linenumber AS BIGINT)"
    return li.selectExpr(
        f"{k} AS key",
        f"{geo.lat_sql_spark(k)} AS lat",
        f"{geo.lon_sql_spark(k)} AS lon",
        "pmod(l_linenumber, 7) + 1 AS classification",
        "l_extendedprice / 1000.0D AS height",
        "l_tax + 0.01D AS height_var",
        # integer weight (w ≡ 1/σ² with σ² defined as 1/w): exact sums
        "CAST(pmod(l_suppkey, 7) + 1 AS DOUBLE) AS height_w",
        "l_quantity * 10.0D AS pixel_area",
        "l_discount AS water_frac",
        "pmod(l_linenumber, 3) AS ice_clim_flag",
        "pmod(l_orderkey, 3) AS ice_dyn_flag",
        "CAST(pmod(l_suppkey, 1024) AS BIGINT) AS qual_word",
        "l_extendedprice / 100000.0D AS geoid",
        "l_discount / 10.0D AS solid_earth_tide",
        "l_tax / 10.0D AS pole_tide",
        # uncertainty inputs of the reference's aggregate_water_area
        # (raster_proc.py:429-430 wires water_frac_uncert / darea_dheight /
        # false+missed detection rates into the area aggregation)
        "l_tax + 0.02D AS water_frac_uncert",
        "pmod(l_suppkey, 5) * 0.1D AS darea_dheight",
        "pmod(l_partkey, 10) / 100.0D AS pfd",
        "pmod(l_orderkey, 10) / 100.0D AS pmd",
        # complex interferogram layer — the reference's only non-flat type
        # (products.py:2015), SURVEY §1.2 maps it to struct<re, im>;
        # FLOOR(x + 0.5D) cast DOUBLE is iround()
        "named_struct("
        "'re', pmod(CAST(FLOOR(l_extendedprice + 0.5D) AS DOUBLE), 1000) - 500, "
        "'im', CAST(pmod(l_suppkey, 997) - 498 AS DOUBLE)) AS ifgram",
        "CAST(pmod(l_linenumber, 4) AS BIGINT) AS phase_t",
    )


_PIXC_KEY = "(l_orderkey * 8 + l_linenumber)"
PIXC_PTS_SQL = f"""
SELECT {_PIXC_KEY} AS key,
       {geo.lat_sql(_PIXC_KEY)} AS lat,
       {geo.lon_sql(_PIXC_KEY)} AS lon,
       (l_linenumber % 7) + 1 AS classification,
       l_extendedprice / 1000.0 AS height,
       l_tax + 0.01 AS height_var,
       CAST((l_suppkey % 7) + 1 AS DOUBLE) AS height_w,
       l_quantity * 10.0 AS pixel_area,
       l_discount AS water_frac,
       l_linenumber % 3 AS ice_clim_flag,
       l_orderkey % 3 AS ice_dyn_flag,
       CAST(l_suppkey % 1024 AS BIGINT) AS qual_word,
       l_extendedprice / 100000.0 AS geoid,
       l_discount / 10.0 AS solid_earth_tide,
       l_tax / 10.0 AS pole_tide,
       l_tax + 0.02 AS water_frac_uncert,
       (l_suppkey % 5) * 0.1 AS darea_dheight,
       (l_partkey % 10) / 100.0 AS pfd,
       (l_orderkey % 10) / 100.0 AS pmd,
       struct_pack(re := (ROUND(l_extendedprice) % 1000) - 500,
                   im := CAST((l_suppkey % 997) - 498 AS DOUBLE)) AS ifgram,
       CAST(l_linenumber % 4 AS BIGINT) AS phase_t
FROM lineitem
"""

INTERIOR = [4, 7]
EDGE = [3, 6]
DARK = [5]

CELL7_SQL = ci.quad_cell_sql("lat", "lon", 7)
CELL8_SQL = ci.quad_cell_sql("lat", "lon", 8)
CELL9_SQL = ci.quad_cell_sql("lat", "lon", 9)


def iround(x) -> "F.Column":
    """round-half-up as floor(x + 0.5), for expressions that are exact
    integers (or exact half-integers) by fixture construction.

    Spark's round() on doubles allocates a BigDecimal per value — measured
    ~2x slower on the integerized aggregation kernels (0.95 → 0.43 s for
    the wse sums at sf0.1). floor(+0.5) is plain FP and BIT-IDENTICAL to
    ROUND for every value this engine rounds per-row: the integerized
    layers sit within an ulp of an integer, and the only divergence window
    for arbitrary values (x+0.5 FP-rounding upward across an integer)
    requires x within half an ulp below k-0.5, which exact decimal .50
    values never hit (k-0.5 is exactly representable below 2^52). Rounds
    of genuinely real-valued expressions (e.g. round(sqrt(...)) in
    ifgram's power sum) deliberately KEEP F.round. The cast back to double
    preserves the aggregate/output types of the round() form."""
    return F.floor(x + F.lit(0.5)).cast("double")


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: Optional[str]):
    def deco(fn):
        REGISTRY[name] = QuerySpec(spark=fn, oracle=oracle)
        return fn

    return deco


# ====================================================================== J1 ===
# tile assignment: the core point→cell spatial assignment join
# (reference products.py:1102-1155 bin math ≡ cell encode at fixed res)

@q(
    "tile_assign",
    f"""
WITH pts AS ({DOC_PTS_SQL})
SELECT key, {CELL9_SQL} AS cell9,
       {ci.quad_parent_sql(CELL9_SQL, 9, 8)} AS cell8,
       {ci.quad_parent_sql(CELL9_SQL, 9, 7)} AS cell7
FROM pts
""",
)
def tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(doc_points(spark, sf_dir), 9, "cell9")
    return pts.select(
        "key",
        "cell9",
        quad_parent_col(F.col("cell9"), 9, 8).alias("cell8"),
        quad_parent_col(F.col("cell9"), 9, 7).alias("cell7"),
    )


# ================================================================== J1+A1 ====
# fused per-cell aggregation (one shuffle for count/avg/sum)

@q(
    "cell_agg_counts",
    f"""
WITH pts AS ({DOC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       COUNT(*) AS n_rows,
       ROUND(AVG(n_chars), 6) AS avg_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM pts GROUP BY 1
""",
)
def cell_agg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(doc_points(spark, sf_dir), 7)
    return pts.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


# ============================================================ multi-res ======
# hierarchy rollup across res 7/8/9 (prefix property; SURVEY §2.4 note)

@q(
    "cell_rollup",
    f"""
WITH pts AS ({DOC_PTS_SQL}),
assigned AS (SELECT key, n_chars, {CELL9_SQL} AS cell9 FROM pts)
SELECT 9 AS res, cell9 AS cell_id, COUNT(*) AS n_rows FROM assigned GROUP BY 2
UNION ALL
SELECT 8 AS res, {ci.quad_parent_sql('cell9', 9, 8)} AS cell_id, COUNT(*) AS n_rows
FROM assigned GROUP BY 2
UNION ALL
SELECT 7 AS res, {ci.quad_parent_sql('cell9', 9, 7)} AS cell_id, COUNT(*) AS n_rows
FROM assigned GROUP BY 2
""",
)
def cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE base-table shuffle: aggregate at the finest res, then re-aggregate
    the (much smaller) res-9 aggregate up the prefix hierarchy — counts are
    re-aggregable, so coarser levels never touch the base table again (the
    same trick a 100 TB rollup needs: |cells| << |points|)."""
    pts = with_cell(doc_points(spark, sf_dir), 9, "cell9")
    base9 = pts.groupBy(F.col("cell9").alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    parts = [base9.select(F.lit(9).alias("res"), "cell_id", "n_rows")]
    for res in (8, 7):
        parts.append(
            base9.groupBy(
                quad_parent_col(F.col("cell_id"), 9, res).alias("cell_id")
            )
            .agg(F.sum("n_rows").alias("n_rows"))
            .select(F.lit(res).alias("res"), "cell_id", "n_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ====================================================================== J5 ===
# two-phase point-in-polygon join (flagship)

@q("pip_join", sj.pip_join_sql(DOC_PTS_SQL, N_POLYS))
def pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = doc_points(spark, sf_dir)
    return sj.point_in_polygon_join(pts, N_POLYS, "lat", "lon", "key")


# =============================================================== J5+A17 ======
# zonal aggregation per polygon (raster→vector)

@q(
    "zonal_stats",
    f"""
WITH pip AS ({sj.pip_join_sql(DOC_PTS_SQL, N_POLYS)}),
pts AS ({DOC_PTS_SQL})
SELECT pip.poly_id AS poly_id,
       COUNT(*) AS n_points,
       ROUND(AVG(pts.n_chars), 6) AS avg_chars,
       CAST(SUM(pts.n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(pts.key) AS BIGINT) AS min_key
FROM pip JOIN pts ON pip.key = pts.key
GROUP BY 1
""",
)
def zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n_chars rides the PIP candidate join (keep=...) so the aggregation
    # consumes containment pairs directly — no join back to the fact table
    pts = doc_points(spark, sf_dir)
    pip = sj.point_in_polygon_join(
        pts, N_POLYS, "lat", "lon", "key", keep=["n_chars"],
    )
    return (
        pip
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("key").alias("min_key"),
        )
    )


# ============================================================ J7+A17 hist ====
# zonal class histogram: per-polygon class composition of the pixel cloud
# (the classic raster zonal-histogram op; counts are exact integers, all 7
# classes pivoted into fixed columns in the SAME fused groupBy)

_ZCH_COUNTS_SQL = ",\n       ".join(
    f"COUNT(CASE WHEN classification = {k} THEN 1 END) AS n_class_{k}"
    for k in range(1, 8)
)


# the pixc fixture has DUPLICATE keys (the synthetic lineitem repeats
# (orderkey, linenumber) pairs) with identical coordinates — containment
# runs once per DISTINCT location and joins back to the rows, which is both
# the correct semantics (a pixel's membership depends only on its location)
# and cheaper (|locations| < |rows|). The oracle's group-by-key ray-cast
# REQUIRES the distinct: duplicate rows would double the crossing sum and
# flip the even-odd parity.
_PIXC_POS_SQL = f"SELECT DISTINCT key, lat, lon FROM ({PIXC_PTS_SQL})"


@q(
    "zonal_class_histogram",
    f"""
WITH pip AS ({{pip}}),
pts AS ({PIXC_PTS_SQL})
SELECT pip.poly_id AS poly_id,
       COUNT(*) AS n_pix,
       {_ZCH_COUNTS_SQL}
FROM pip JOIN pts ON pip.key = pts.key
GROUP BY 1
""".format(pip=sj.pip_join_sql(_PIXC_POS_SQL, N_POLYS)),
)
def zonal_class_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = pixc_points(spark, sf_dir)
    pos = pts.select("key", "lat", "lon").distinct()
    pip = sj.point_in_polygon_join(pos, N_POLYS, "lat", "lon", "key")
    cls = F.col("classification")
    return (
        pip.join(pts, "key")
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_pix"),
            *[
                F.count(F.when(cls == k, F.lit(1))).alias(f"n_class_{k}")
                for k in range(1, 8)
            ],
        )
    )


# ====================================================================== J9 ===
# kNN via ring expansion

@q("knn", knn_op.knn_sql(DOC_PTS_SQL, KNN_K))
def knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = doc_points(spark, sf_dir).select("key", "lat", "lon")
    # density hint from parquet footers (manifest-style metadata): the
    # points table is scanned exactly once — by the real plan
    n = parquet_row_count(f"{sf_dir}/documents.parquet")
    return knn_op.knn_join(pts, KNN_K, n_hint=n)


# the H3-style twin: identical contract and OUTPUT (same brute-force
# oracle — exactness is independent of the index geometry), but candidates
# come from hex k-ring expansion over axial (q, r) cells
@q("knn_hex", knn_op.knn_sql(DOC_PTS_SQL, KNN_K))
def knn_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = doc_points(spark, sf_dir).select("key", "lat", "lon")
    n = parquet_row_count(f"{sf_dir}/documents.parquet")
    return knn_op.knn_hex_join(pts, KNN_K, n_hint=n)


# the storage-layout twin: identical contract and OUTPUT, but the corpus
# side (georeferenced + cell-binned points) is committed ONCE as a
# bucketed+sorted table on the cell id — every ring phase's candidate join
# then scans it bucket-aligned with ZERO Exchange on the corpus side, the
# same write-time-layout-replaces-shuffle strategy bucketed_raster_compare
# demonstrates for J8 (at 10^12 points the candidate equi-join on cell ids
# is exactly the shuffle the layout must absorb)
N_KNN_BUCKETS = 16


def _knn_corpus_table(spark: SparkSession, sf_dir: str, res: int) -> str:
    import os as _os
    import re as _re

    from raster_processor_spark.operators.similarity import _corpus_fingerprint
    from raster_processor_spark.sources.snapshots import bucketed_table

    base = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(_os.path.normpath(sf_dir)))
    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "spark-warehouse", "rps_bucketed", base,
    )
    # corpus content fingerprint in the table identity (same staleness
    # treatment as the IVF snapshot index): bucketed_table early-returns on
    # an existing table, so without this a documents.parquet regenerated in
    # place would silently keep serving the stale committed corpus
    fp = _corpus_fingerprint(f"{sf_dir}/documents.parquet")

    def build():
        pts = doc_points(spark, sf_dir).select("key", "lat", "lon")
        return knn_op.QUAD.corpus(pts, res)

    return bucketed_table(
        spark, f"rps_knncorpus_{base}_r{res}_fp{fp}",
        _os.path.join(root, f"knn_r{res}_fp{fp}"),
        build, "cell", N_KNN_BUCKETS,
    )


@q("knn_bucketed", knn_op.knn_sql(DOC_PTS_SQL, KNN_K))
def knn_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = doc_points(spark, sf_dir).select("key", "lat", "lon")
    n = parquet_row_count(f"{sf_dir}/documents.parquet")
    # every resolution knn_join runs at (the base level, and the finer
    # hot-cell level where the split engages) reads a committed layout
    return knn_op.knn_join(
        pts, KNN_K, n_hint=n,
        corpus_table=lambda res: _knn_corpus_table(spark, sf_dir, res),
    )


# ====================================================================== A6 ===
# inverse-variance weighted mean per cell (9-layer fused agg in one pass)

# Weighted-mean parity strategy: the kernel is Σ(x·w)/Σ(w) with w = 1/σ²
# (raster_agg.py:69-78). For the cross-engine check, the fixture defines the
# weight as an integer (σ² ≡ 1/w) and integerizes each layer at its exact
# decimal precision — every SUM is then an exact integer in double, immune to
# summation order, and the quotient is a single deterministic division. No
# output rounding anywhere (rounding at engine-structured decimal boundaries
# is exactly where Spark's and DuckDB's HALF semantics diverge).
_WM_LAYERS_SQL = {
    # layer → (integerized expr, descale)
    "height_wm": ("ROUND(height * 100000.0)", "100000.0"),
    "geoid_wm": ("ROUND(geoid * 10000000.0)", "10000000.0"),
    "set_wm": ("ROUND(solid_earth_tide * 1000.0)", "1000.0"),
    "pole_wm": ("ROUND(pole_tide * 1000.0)", "1000.0"),
}
_WM_SELECT_SQL = ",\n       ".join(
    f"SUM({expr} * height_w) / SUM(height_w) / {descale} AS {alias}"
    for alias, (expr, descale) in _WM_LAYERS_SQL.items()
)


@q(
    "wse_weighted_mean",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       COUNT(*) AS n_pix,
       {_WM_SELECT_SQL},
       (SUM(ROUND(height * 100000.0) * height_w) / SUM(height_w) / 100000.0)
       - ((SUM(ROUND(geoid * 10000000.0) * height_w) / SUM(height_w) / 10000000.0)
          + (SUM(ROUND(solid_earth_tide * 1000.0) * height_w) / SUM(height_w) / 1000.0)
          + (SUM(ROUND(pole_tide * 1000.0) * height_w) / SUM(height_w) / 1000.0))
         AS wse
FROM pts GROUP BY 1
""",
)
def wse_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    w = F.col("height_w")

    def wm(col: str, scale: float):
        return F.sum(iround(F.col(col) * scale) * w) / F.sum(w) / scale

    h = wm("height", 1e5)
    g = wm("geoid", 1e7)
    s = wm("solid_earth_tide", 1e3)
    p = wm("pole_tide", 1e3)
    return pts.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_pix"),
        h.alias("height_wm"),
        g.alias("geoid_wm"),
        s.alias("set_wm"),
        p.alias("pole_wm"),
        (h - (g + s + p)).alias("wse"),
    )


# ====================================================================== A9 ===

@q(
    "water_area_composite",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       ROUND(SUM(CASE WHEN classification IN (4, 7) THEN pixel_area
                 WHEN classification IN (3, 6) THEN pixel_area * water_frac
                 ELSE 0.0 END), 6) AS water_area,
       COUNT(CASE WHEN classification IN (4, 7) THEN 1 END) AS n_interior,
       COUNT(CASE WHEN classification IN (3, 6) THEN 1 END) AS n_edge
FROM pts GROUP BY 1
""",
)
def water_area_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    cls = F.col("classification")
    return pts.groupBy("cell_id").agg(
        F.round(
            F.sum(
                F.when(cls.isin(INTERIOR), F.col("pixel_area"))
                .when(cls.isin(EDGE), F.col("pixel_area") * F.col("water_frac"))
                .otherwise(F.lit(0.0))
            ),
            6,
        ).alias("water_area"),
        F.count(F.when(cls.isin(INTERIOR), F.lit(1))).alias("n_interior"),
        F.count(F.when(cls.isin(EDGE), F.lit(1))).alias("n_edge"),
    )


# =============================================================== A9 uncert ===
# the four layers the reference's aggregate_water_area returns
# (raster_agg.py:195-222): water_area, water_area_u, water_frac, water_frac_u

# Parity strategy (same as wse_weighted_mean): every per-pixel addend is an
# exact decimal given the fixture's precision (pixel_area = 10*int, rates at
# 2 decimals -> variance terms are multiples of 1e-6), so scale to integers
# BEFORE the SUM (exact, order-immune) and descale with single divisions —
# no output rounding, bit-identical across engines.
_DET_SQL = "(pfd * (1.0 - pfd) + pmd * (1.0 - pmd))"
_HT_SQL = "(darea_dheight * darea_dheight * height_var)"
_VAR_PX_SQL = (
    f"(CASE WHEN classification IN (4, 7) "
    f"THEN pixel_area * pixel_area * {_DET_SQL} + {_HT_SQL} "
    f"WHEN classification IN (3, 6) "
    f"THEN (pixel_area * water_frac_uncert) * (pixel_area * water_frac_uncert)"
    f" + {_HT_SQL} ELSE 0.0 END)"
)
_VAR_SCALED_SQL = f"SUM(ROUND({_VAR_PX_SQL} * 1000000.0))"
_WA_SCALED_SQL = (
    "SUM(CASE WHEN classification IN (4, 7) THEN pixel_area * 100 "
    "WHEN classification IN (3, 6) THEN pixel_area * ROUND(water_frac * 100) "
    "ELSE 0.0 END)"
)
_NOM_SQL = "SUM(pixel_area)"


@q(
    "water_area_uncert",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       {_WA_SCALED_SQL} / 100.0 AS water_area,
       SQRT({_VAR_SCALED_SQL}) / 1000.0 AS water_area_u,
       (CASE WHEN {_NOM_SQL} = 0.0 THEN 0.0
             ELSE {_WA_SCALED_SQL} / 100.0 / {_NOM_SQL} END) AS water_frac,
       (CASE WHEN {_NOM_SQL} = 0.0 THEN 0.0
             ELSE SQRT({_VAR_SCALED_SQL}) / 1000.0 / {_NOM_SQL} END)
         AS water_frac_u
FROM pts GROUP BY 1
""",
)
def water_area_uncert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite water area + closed-form uncertainty propagation — all four
    reference layers (water_area, water_area_u, water_frac, water_frac_u;
    raster_agg.py:181-222) in ONE fused groupBy (the reference runs separate
    aggregator passes). Variance model: composite_area_variance_expr. The
    nominal area dividing the fraction layers is the cell's total pixel area
    (the reference divides by the projected nominal cell area; same role,
    and the denominator is guarded for ANSI sessions)."""
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    cls = F.col("classification")
    a = F.col("pixel_area")
    det = F.col("pfd") * (F.lit(1.0) - F.col("pfd")) + F.col("pmd") * (
        F.lit(1.0) - F.col("pmd")
    )
    h = F.col("darea_dheight") * F.col("darea_dheight") * F.col("height_var")
    var_px = (
        F.when(cls.isin(INTERIOR), a * a * det + h)
        .when(
            cls.isin(EDGE),
            (a * F.col("water_frac_uncert")) * (a * F.col("water_frac_uncert")) + h,
        )
        .otherwise(F.lit(0.0))
    )
    var_scaled = F.sum(iround(var_px * 1000000.0))
    wa_scaled = F.sum(
        F.when(cls.isin(INTERIOR), a * 100)
        .when(cls.isin(EDGE), a * iround(F.col("water_frac") * 100))
        .otherwise(F.lit(0.0))
    )
    nom = F.sum(a)
    return pts.groupBy("cell_id").agg(
        (wa_scaled / 100.0).alias("water_area"),
        (F.sqrt(var_scaled) / 1000.0).alias("water_area_u"),
        F.when(nom == 0.0, F.lit(0.0))
        .otherwise(wa_scaled / 100.0 / nom)
        .alias("water_frac"),
        F.when(nom == 0.0, F.lit(0.0))
        .otherwise(F.sqrt(var_scaled) / 1000.0 / nom)
        .alias("water_frac_u"),
    )


# ======================================================== interferogram =====
# flatten + coherent per-cell aggregation of the complex interferogram layer
# (reference: products.py:2015 complex column; raster_proc.py:360-367 calls
# ag.flatten_interferogram = per-pixel phase rotation before aggregation).
# The flattening phasor here is the exact-unit rational rotation
# ((1-t^2) + 2t*i)/(1+t^2) with t = phase_t in 0..3 — every denominator
# divides 10, so rotated components x10 are exact integers and the coherent
# sums are order-immune and bit-identical across engines. Rotation preserves
# modulus, so total power uses |z| directly (per-pixel integerized at 1e-3:
# IEEE sqrt is correctly rounded, identical in both engines).

_IF_RE = "struct_extract(ifgram, 're')"
_IF_IM = "struct_extract(ifgram, 'im')"
_IF_C = "(1 - phase_t * phase_t)"
_IF_S = "(2 * phase_t)"
_IF_D = "(1 + phase_t * phase_t)"
_IF_SR = f"SUM(({_IF_RE} * {_IF_C} + {_IF_IM} * {_IF_S}) * 10 / {_IF_D})"
_IF_SI = f"SUM(({_IF_IM} * {_IF_C} - {_IF_RE} * {_IF_S}) * 10 / {_IF_D})"
_IF_PW = f"SUM(ROUND(SQRT({_IF_RE} * {_IF_RE} + {_IF_IM} * {_IF_IM}) * 1000))"


@q(
    "ifgram_flatten",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       COUNT(*) AS n_pix,
       {_IF_SR} / 10.0 AS flat_re,
       {_IF_SI} / 10.0 AS flat_im,
       SQRT({_IF_SR} * {_IF_SR} + {_IF_SI} * {_IF_SI}) / 10.0 AS coh_mag,
       (CASE WHEN {_IF_PW} = 0 THEN 0.0
             ELSE (SQRT({_IF_SR} * {_IF_SR} + {_IF_SI} * {_IF_SI}) / 10.0)
                  / ({_IF_PW} / 1000.0) END) AS coherence
FROM pts GROUP BY 1
""",
)
def ifgram_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coherent per-cell interferogram aggregate over the struct<re,im>
    layer: flattened complex sum, its magnitude, and coherence = |Σz| / Σ|z|
    (1.0 when all flattened phasors align — the quantity the reference's
    height uncertainty consumes downstream of flatten_interferogram)."""
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    re, im = F.col("ifgram.re"), F.col("ifgram.im")
    t = F.col("phase_t")
    c, s, d = 1 - t * t, 2 * t, 1 + t * t
    sr = F.sum((re * c + im * s) * 10 / d)
    si = F.sum((im * c - re * s) * 10 / d)
    pw = F.sum(F.round(F.sqrt(re * re + im * im) * 1000))
    mag = F.sqrt(sr * sr + si * si)
    return pts.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_pix"),
        (sr / 10.0).alias("flat_re"),
        (si / 10.0).alias("flat_im"),
        (mag / 10.0).alias("coh_mag"),
        F.when(pw == 0, F.lit(0.0))
        .otherwise((mag / 10.0) / (pw / 1000.0))
        .alias("coherence"),
    )


# ====================================================================== A11 ==

@q(
    "dark_frac",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       ROUND({agg.dark_frac_sql('classification', 'pixel_area', 'water_frac',
                                DARK, INTERIOR, EDGE, 'x')[: -len(' AS x')]}, 6)
         AS dark_frac
FROM pts GROUP BY 1
""",
)
def dark_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cells can hold ONLY dark/land rows (total composite area 0): the
    # division must be guarded — the driver's session runs Spark 4 with ANSI
    # mode on, where a bare 0-denominator divide is a runtime error. Zero
    # composite denominator yields 0.0 (reference raster_agg.py:266-269),
    # including the all-dark cell case.
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    return pts.groupBy("cell_id").agg(
        F.round(
            agg.dark_frac(
                F.col("classification"),
                F.col("pixel_area"),
                F.col("water_frac"),
                DARK,
                INTERIOR,
                EDGE,
                "x",
            ),
            6,
        ).alias("dark_frac")
    )


# ====================================================================== A13 ==

@q(
    "ice_flags",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       {agg.ice_flag_sql('ice_clim_flag', 1, 'ice_clim')},
       {agg.ice_flag_sql('ice_dyn_flag', 1, 'ice_dyn')}
FROM pts GROUP BY 1
""",
)
def ice_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    return pts.groupBy("cell_id").agg(
        agg.ice_flag(F.col("ice_clim_flag"), 1, "ice_clim"),
        agg.ice_flag(F.col("ice_dyn_flag"), 1, "ice_dyn"),
    )


# ====================================================================== A14 ==
# qual roll-up: disjoint bits assembled once per cell + summary severity

_QUAL_CONDS_SQL: list[tuple[str, int]] = [
    ("(qual_word & 1) > 0", 1 << 1),          # any row suspect
    ("(qual_word & 2) > 0", 1 << 3),          # blocking width analogue
    ("height_var > 0.07", 1 << 11),           # large uncert → degraded
    ("height > 550.0", 1 << 20),              # out of range → bad
]


_QUAL_ROLLUP_BODY_SQL = f"""
SELECT {CELL7_SQL} AS cell_id,
       {agg.qual_bitwise_rollup_sql(_QUAL_CONDS_SQL, 'qual_bitwise')},
       (CASE WHEN MAX(CASE WHEN height > 550.0 THEN 1 ELSE 0 END) = 1 THEN 3
             WHEN MAX(CASE WHEN height_var > 0.07 THEN 1 ELSE 0 END) = 1 THEN 2
             WHEN MAX(CASE WHEN (qual_word & 3) > 0 THEN 1 ELSE 0 END) = 1 THEN 1
             ELSE 0 END) AS qual_summary,
       COUNT(*) AS n_pix
FROM pts GROUP BY 1
"""


# the Spark spelling of the roll-up: D-suffixed double literals
_QUAL_HIGH = f"height > {sql_double(550.0)}"
_QUAL_VAR = f"height_var > {sql_double(0.07)}"
_QUAL_CONDS_SPARK: list[tuple[str, int]] = [
    ("(qual_word & 1) > 0", 1 << 1),
    ("(qual_word & 2) > 0", 1 << 3),
    (_QUAL_VAR, 1 << 11),
    (_QUAL_HIGH, 1 << 20),
]


@q("qual_rollup", f"WITH pts AS ({PIXC_PTS_SQL})\n{_QUAL_ROLLUP_BODY_SQL}")
def qual_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)

    def any_of(cond: str) -> str:
        return f"max(CASE WHEN {cond} THEN 1 ELSE 0 END) = 1"

    return pts.groupBy("cell_id").agg(
        F.expr(agg.qual_bitwise_rollup_sql(_QUAL_CONDS_SPARK, "qual_bitwise")),
        F.expr(
            f"CASE WHEN {any_of(_QUAL_HIGH)} THEN 3"
            f" WHEN {any_of(_QUAL_VAR)} THEN 2"
            f" WHEN {any_of('(qual_word & 3) > 0')} THEN 1"
            " ELSE 0 END AS qual_summary"
        ),
        F.expr("count(1) AS n_pix"),
    )


# ====================================================================== J6 ===
# polygon→grid burn: dense per-cell boolean masks from the polygon sets
# (reference raster_proc.py:916-940 geometry_mask all_touched=True)

@q("polygon_burn", brn.burn_flags_sql(N_POLYS))
def polygon_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brn.burn_flags(spark, N_POLYS)


# ====================================================================== A14+ ==
# dense qual roll-up: the burn universe densifies the sparse groupBy — empty
# cells carry the reference's BAD + NO_PIXELS + FEW_PIXELS fills
# (raster_proc.py:729-731, raster_agg.py:365-369) and the burn masks OR into
# the bitwise word (raster_proc.py:1002-1007)

_DENSE_SQL = f"""
WITH {brn._burn_cte_sql(N_POLYS)},
pts AS ({PIXC_PTS_SQL}),
rollup AS ({{ROLLUP}})
SELECT f.cell_id,
       CAST(COALESCE(r.qual_bitwise, {brn.EMPTY_FILL_BITWISE})
            + (CASE WHEN f.missing_flag THEN {brn.QUAL_IND_MISSING_KARIN_DATA} ELSE 0 END)
            + (CASE WHEN f.inner_swath_flag THEN {brn.QUAL_IND_INNER_SWATH} ELSE 0 END)
          AS BIGINT) AS qual_bitwise,
       CAST(COALESCE(r.qual_summary, {brn.QUAL_IND_BAD}) AS INTEGER) AS qual_summary,
       CAST(COALESCE(r.n_pix, 0) AS BIGINT) AS n_pix
FROM flags f LEFT JOIN rollup r ON f.cell_id = r.cell_id
"""


@q("qual_rollup_dense", _DENSE_SQL.replace("{ROLLUP}", _QUAL_ROLLUP_BODY_SQL))
def qual_rollup_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    rollup = qual_rollup(spark, sf_dir)
    # static mask layer from the build-once snapshot (burn_flags_cached):
    # the burn depends only on grid res + polygon set, never on the data
    flags = brn.burn_flags_cached(spark, N_POLYS)
    # the rollup side is per-cell (bounded by the 2^15-cell grid, not by
    # the fact table) — broadcast it so the dense mask layer never shuffles
    return flags.join(F.broadcast(rollup), "cell_id", "left").selectExpr(
        "cell_id",
        f"CAST(coalesce(qual_bitwise, {brn.EMPTY_FILL_BITWISE})"
        f" + CASE WHEN missing_flag THEN {brn.QUAL_IND_MISSING_KARIN_DATA} ELSE 0 END"
        f" + CASE WHEN inner_swath_flag THEN {brn.QUAL_IND_INNER_SWATH} ELSE 0 END"
        " AS BIGINT) AS qual_bitwise",
        f"CAST(coalesce(qual_summary, {brn.QUAL_IND_BAD}) AS INT) AS qual_summary",
        "CAST(coalesce(n_pix, 0) AS BIGINT) AS n_pix",
    )


# ====================================================================== P2 ===
# bitflag → summary severity projection, aggregated to keep output small

@q(
    "summary_qual_projection",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {summary_qual_sql('qual_word', 7, 56, 448)} AS severity, COUNT(*) AS n_rows
FROM pts GROUP BY 1
""",
)
def summary_qual_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = pixc_points(spark, sf_dir)
    sev = summary_qual_col(F.col("qual_word"), 7, 56, 448)
    return pts.groupBy(sev.alias("severity")).agg(F.count(F.lit(1)).alias("n_rows"))


# ====================================================================== A12 ==

@q(
    "mode_class",
    agg.mode_agg_sql(
        f"SELECT {CELL7_SQL} AS cell_id, classification FROM ({PIXC_PTS_SQL})",
        ["cell_id"],
        "classification",
        "mode_class",
    ),
)
def mode_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    return agg.mode_agg(
        pts.select("cell_id", "classification"), ["cell_id"], "classification", "mode_class"
    )


# ============================================================= A12 + debug ===
# RasterUTMDebug / RasterGeoDebug (products.py:1496-1537): the debug product
# classes are the standard raster product PLUS one per-cell `classification`
# variable (u1, aggregate_classification = mode of the pixel classes,
# raster_agg.py:516-520). Engine mapping (SURVEY §1.1): an extra column
# behind a flag on the rollup output.


def raster_product(spark: SparkSession, sf_dir: str, debug: bool = False) -> DataFrame:
    """Per-cell raster product slice (n_pix + inv-var weighted height);
    ``debug=True`` appends the per-cell ``classification`` column exactly
    as RasterUTMDebug extends RasterUTM — same product, one extra
    debug-only variable. The debug form pre-aggregates at (cell, class)
    grain and re-aggregates per cell: ONE scan, two partial-aggregated
    shuffles, no join and no window (the round-5 form scanned the point
    table twice and sort-merge-joined base against the mode table). The
    integerized height sums are exact in FP, so re-association across the
    two aggregation levels is bit-identical; the mode ties break exactly
    like mode_agg's (count DESC, class ASC) via a lexicographic max_by
    (classification is non-null by construction — pmod+1)."""
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    w = F.col("height_w")
    if not debug:
        return pts.groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n_pix"),
            (F.sum(iround(F.col("height") * 100000.0) * w) / F.sum(w) / 100000.0)
            .alias("height_wm"),
        )
    counted = pts.groupBy("cell_id", "classification").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum(iround(F.col("height") * 100000.0) * w).alias("_sh"),
        F.sum(w).alias("_sw"),
    )
    return counted.groupBy("cell_id").agg(
        F.sum("_cnt").alias("n_pix"),
        (F.sum("_sh") / F.sum("_sw") / 100000.0).alias("height_wm"),
        F.max_by(
            F.col("classification"),
            F.struct(F.col("_cnt"), (-F.col("classification")).alias("_nc")),
        ).alias("classification"),
    )


@q(
    "debug_classification",
    f"""
WITH pts AS (SELECT {CELL7_SQL} AS cell_id, height, height_w, classification
             FROM ({PIXC_PTS_SQL})),
base AS (
  SELECT cell_id, COUNT(*) AS n_pix,
         SUM(ROUND(height * 100000.0) * height_w) / SUM(height_w) / 100000.0
           AS height_wm
  FROM pts GROUP BY 1
),
cls AS ({{mode_sql}})
SELECT base.cell_id AS cell_id, base.n_pix, base.height_wm, cls.classification
FROM base LEFT JOIN cls ON base.cell_id = cls.cell_id
""".format(
        mode_sql=agg.mode_agg_sql(
            f"SELECT {CELL7_SQL} AS cell_id, classification FROM ({PIXC_PTS_SQL})",
            ["cell_id"], "classification", "classification",
        )
    ),
)
def debug_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    return raster_product(spark, sf_dir, debug=True)


# ====================================================================== J8 ===
# truth↔proc raster comparison: full-outer join on cell_id with null masks

# height has 5 decimal digits (price/1000): averaging it directly is order-
# dependent in the last ulp and lands exactly on round-boundaries. Integerize
# first (ROUND(height*1e5) is an exact integer double) → sums are exact and
# order-independent → the average is bit-deterministic, no output rounding.
_H_INT_SQL = "ROUND(height * 100000.0)"


@q(
    "raster_compare",
    f"""
WITH pts AS ({PIXC_PTS_SQL}),
a AS (SELECT {CELL7_SQL} AS cell_id, SUM({_H_INT_SQL}) / COUNT(*) AS h
      FROM pts WHERE key % 2 = 0 GROUP BY 1),
b AS (SELECT {CELL7_SQL} AS cell_id, SUM({_H_INT_SQL}) / COUNT(*) AS h
      FROM pts WHERE key % 2 = 1 GROUP BY 1)
SELECT COALESCE(a.cell_id, b.cell_id) AS cell_id,
       (a.h - b.h) / 100000.0 AS h_err,
       (a.h IS NOT NULL AND b.h IS NOT NULL) AS common,
       (a.h IS NOT NULL AND b.h IS NULL) AS only_a,
       (a.h IS NULL AND b.h IS NOT NULL) AS only_b
FROM a FULL OUTER JOIN b ON a.cell_id = b.cell_id
""",
)
def raster_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    h_int = iround(F.col("height") * 100000.0)
    a = (
        pts.where(F.pmod(F.col("key"), F.lit(2)) == 0)
        .groupBy("cell_id")
        .agg((F.sum(h_int) / F.count(F.lit(1))).alias("h"))
        .alias("a")
    )
    b = (
        pts.where(F.pmod(F.col("key"), F.lit(2)) == 1)
        .groupBy("cell_id")
        .agg((F.sum(h_int) / F.count(F.lit(1))).alias("h"))
        .alias("b")
    )
    joined = a.join(b, F.col("a.cell_id") == F.col("b.cell_id"), "full_outer")
    ah, bh = F.col("a.h"), F.col("b.h")
    return joined.select(
        F.coalesce(F.col("a.cell_id"), F.col("b.cell_id")).alias("cell_id"),
        ((ah - bh) / 100000.0).alias("h_err"),
        (ah.isNotNull() & bh.isNotNull()).alias("common"),
        (ah.isNotNull() & bh.isNull()).alias("only_a"),
        (ah.isNull() & bh.isNotNull()).alias("only_b"),
    )


# ============================================================ J8 bucketed ====
# The same truth↔proc compare, but the two per-cell aggregate tables are
# committed ONCE as bucketed+sorted parquet and the full-outer join runs
# with ZERO Exchange nodes (plan-test-pinned) — the storage-layout half of
# the 100 TB join story: bucket both sides by cell at write time, and every
# downstream cell-keyed join skips its shuffle forever after. Oracle: the
# raster_compare SQL verbatim (identical output — parquet round-trips the
# aggregate doubles bit-exactly).

N_CMP_BUCKETS = 16


def _bucketed_compare_sides(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import os as _os
    import re as _re

    from raster_processor_spark.operators.similarity import _corpus_fingerprint
    from raster_processor_spark.sources.snapshots import bucketed_table

    base = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(_os.path.normpath(sf_dir)))
    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "spark-warehouse", "rps_bucketed", base,
    )
    # content fingerprint in the table identity — same in-place-regeneration
    # staleness guard as the knn corpus / IVF snapshot keys
    fp = _corpus_fingerprint(f"{sf_dir}/lineitem.parquet")

    def side(parity: int):
        def build():
            pts = with_cell(pixc_points(spark, sf_dir), 7)
            h_int = iround(F.col("height") * 100000.0)
            return (
                pts.where(F.pmod(F.col("key"), F.lit(2)) == parity)
                .groupBy("cell_id")
                .agg((F.sum(h_int) / F.count(F.lit(1))).alias("h"))
            )

        return bucketed_table(
            spark, f"rps_cmp_{base}_{parity}_fp{fp}",
            _os.path.join(root, f"side_{parity}_fp{fp}"),
            build, "cell_id", N_CMP_BUCKETS,
        )

    return side(0), side(1)


@q(
    "bucketed_raster_compare",
    f"""
WITH pts AS ({PIXC_PTS_SQL}),
a AS (SELECT {CELL7_SQL} AS cell_id, SUM({_H_INT_SQL}) / COUNT(*) AS h
      FROM pts WHERE key % 2 = 0 GROUP BY 1),
b AS (SELECT {CELL7_SQL} AS cell_id, SUM({_H_INT_SQL}) / COUNT(*) AS h
      FROM pts WHERE key % 2 = 1 GROUP BY 1)
SELECT COALESCE(a.cell_id, b.cell_id) AS cell_id,
       (a.h - b.h) / 100000.0 AS h_err,
       (a.h IS NOT NULL AND b.h IS NOT NULL) AS common,
       (a.h IS NOT NULL AND b.h IS NULL) AS only_a,
       (a.h IS NULL AND b.h IS NOT NULL) AS only_b
FROM a FULL OUTER JOIN b ON a.cell_id = b.cell_id
""",
)
def bucketed_raster_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    ta, tb = _bucketed_compare_sides(spark, sf_dir)
    a = spark.table(ta).alias("a")
    b = spark.table(tb).alias("b")
    joined = a.join(b, F.col("a.cell_id") == F.col("b.cell_id"), "full_outer")
    ah, bh = F.col("a.h"), F.col("b.h")
    return joined.select(
        F.coalesce(F.col("a.cell_id"), F.col("b.cell_id")).alias("cell_id"),
        ((ah - bh) / 100000.0).alias("h_err"),
        (ah.isNotNull() & bh.isNotNull()).alias("common"),
        (ah.isNotNull() & bh.isNull()).alias("only_a"),
        (ah.isNull() & bh.isNotNull()).alias("only_b"),
    )


# ====================================================================== W1 ===

@q(
    "sessionize",
    """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events
),
flagged AS (
  SELECT user_id, tus,
         CASE WHEN LAG(tus) OVER w IS NULL
                   OR tus - LAG(tus) OVER w > 3600000000 THEN 1 ELSE 0 END AS jump
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
),
sessions AS (
  SELECT user_id, tus,
         SUM(jump) OVER (PARTITION BY user_id ORDER BY tus
                         ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions GROUP BY 1
""",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("tus")
    )
    s = win.gap_sessionize(e, ["user_id"], F.col("tus"), 3_600_000_000)
    return s.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ====================================================================== W2 ===

@q(
    "lon_unwrap",
    """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus, (value % 360.0) - 180.0 AS lon FROM events
),
stepped AS (
  SELECT user_id, tus, lon,
         CASE WHEN LAG(lon) OVER w IS NULL THEN 0.0
              WHEN lon - LAG(lon) OVER w > 180.0 THEN -360.0
              WHEN lon - LAG(lon) OVER w < -180.0 THEN 360.0
              ELSE 0.0 END AS corr
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
),
unwrapped AS (
  SELECT user_id, lon + SUM(corr) OVER (PARTITION BY user_id ORDER BY tus
                                        ROWS UNBOUNDED PRECEDING) AS lon_unwrapped
  FROM stepped
)
SELECT user_id, ROUND(SUM(lon_unwrapped), 6) AS total_unwrapped,
       CAST(COUNT(*) AS BIGINT) AS n
FROM unwrapped GROUP BY 1
""",
)
def lon_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        (F.pmod(F.col("value"), F.lit(360.0)) - 180.0).alias("lon"),
    )
    u = win.lon_unwrap(e, ["user_id"], F.col("tus"), F.col("lon"))
    return u.groupBy("user_id").agg(
        F.round(F.sum("lon_unwrapped"), 6).alias("total_unwrapped"),
        F.count(F.lit(1)).alias("n"),
    )


# ====================================================================== J3 ===
# as-of join: each click picks the latest signup-or-purchase at or before it

@q(
    "asof_join",
    """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'click'
),
marks AS (
  SELECT user_id, epoch_us(ts) AS tus, value FROM events
  WHERE event_type IN ('signup', 'purchase')
)
SELECT c.event_id AS event_id, c.user_id AS user_id,
       ROUND((SELECT m.value FROM marks m
              WHERE m.user_id = c.user_id AND m.tus <= c.tus
              ORDER BY m.tus DESC, m.value DESC LIMIT 1), 6) AS asof_value
FROM clicks c
""",
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    tus = "unix_micros(CAST(ts AS TIMESTAMP))"
    clicks = ev.where("event_type = 'click'").selectExpr(
        "event_id", "user_id", f"{tus} AS tus"
    )
    marks = ev.where("event_type IN ('signup', 'purchase')").selectExpr(
        "user_id", f"{tus} AS m_ts", "value AS asof_value"
    )
    # deterministic tie-break at equal ts: highest value wins (matches oracle)
    joined = win.asof_join(
        clicks, marks, fact_ts="tus", dim_ts="m_ts",
        dim_cols=["asof_value"], part_cols=["user_id"],
    )
    return joined.selectExpr(
        "event_id", "user_id", "round(asof_value, 6) AS asof_value"
    )


# ============================================================ interval join ==
# point-in-interval overlap join (time axis): the temporal analogue of the
# two-phase spatial join — tile, equi-join, refine. Deterministic intervals
# derived from orders into the events window.

_IV_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z (events window)
_IV_SPAN_US = 29 * 86_400_000_000
_IV_HOUR_US = 3_600_000_000
_IV_BUCKET_US = 12 * _IV_HOUR_US  # >= max duration -> <= 2 buckets/interval
_IV_MOD = 20  # every 20th order becomes an interval


@q(
    "interval_join",
    f"""
WITH iv AS (
  SELECT o_orderkey AS order_id,
         {_IV_BASE_US} + ((o_orderkey * 7919) % {_IV_SPAN_US}) AS s,
         {_IV_BASE_US} + ((o_orderkey * 7919) % {_IV_SPAN_US})
           + ((o_custkey % 12) + 1) * {_IV_HOUR_US} AS e
  FROM orders WHERE o_orderkey % {_IV_MOD} = 0
),
ev AS (SELECT epoch_us(ts) AS tus, value FROM events)
SELECT order_id,
       COUNT(*) AS n_events,
       CAST(SUM(ROUND(value * 1000000.0)) AS BIGINT) AS sum_value_micro
FROM iv JOIN ev ON ev.tus >= iv.s AND ev.tus <= iv.e
GROUP BY 1
""",
)
def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events aggregated per overlapping interval. The oracle states the
    plain theta-join semantics; the Spark plan is the bucketized equi-join
    (operators/windows.interval_join) — never a cartesian/nested loop.
    Event values integerize at 1e-6 so the per-interval sums are exact."""
    iv = (
        load(spark, sf_dir, "orders")
        .where(F.pmod(F.col("o_orderkey"), F.lit(_IV_MOD)) == 0)
        .select(
            F.col("o_orderkey").alias("order_id"),
            (
                F.lit(_IV_BASE_US)
                + F.pmod(F.col("o_orderkey") * 7919, F.lit(_IV_SPAN_US))
            ).alias("s"),
            (F.pmod(F.col("o_custkey"), F.lit(12)) + 1).alias("_dh"),
        )
        .withColumn("e", F.col("s") + F.col("_dh") * F.lit(_IV_HOUR_US))
        .drop("_dh")
    )
    ev = load(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"), "value"
    )
    joined = win.interval_join(ev, iv, _IV_BUCKET_US)
    return joined.groupBy("order_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(iround(F.col("value") * 1000000.0)).cast("long").alias(
            "sum_value_micro"
        ),
    )


# ================================================================ U1/U4 ======
# multi-tile union + overlap dedup (products.py:2216-2227 TVP dedup)

@q(
    "union_dedup",
    """
WITH a AS (SELECT user_id, event_type, epoch_us(ts) AS tus, value FROM events
           WHERE event_id % 3 <> 2),
b AS (SELECT user_id, event_type, epoch_us(ts) AS tus, value FROM events
      WHERE event_id % 3 <> 0),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
r AS (SELECT user_id, event_type, tus, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, tus
                                ORDER BY value DESC, event_type ASC) AS rn
      FROM u)
SELECT user_id, event_type, tus, ROUND(value, 6) AS value FROM r WHERE rn = 1
""",
)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"), "value"
    )
    a = ev.where(F.pmod(F.col("event_id"), F.lit(3)) != 2)
    b = ev.where(F.pmod(F.col("event_id"), F.lit(3)) != 0)
    u = a.unionByName(b).drop("event_id")
    w = Window.partitionBy("user_id", "tus").orderBy(
        F.col("value").desc(), F.col("event_type").asc()
    )
    return (
        u.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "tus", F.round(F.col("value"), 6).alias("value"))
    )


# ====================================================================== A16 ==

@q(
    "minmax_argmin",
    """
SELECT source,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(arg_min(doc_id, n_chars * 1000 + doc_id) AS BIGINT) AS argmin_doc,
       CAST(arg_max(doc_id, n_chars * 1000 + doc_id) AS BIGINT) AS argmax_doc
FROM documents GROUP BY 1
""",
)
def minmax_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # deterministic argmin: the ordering key includes doc_id (no ties)
    okey = F.col("n_chars") * 1000 + F.col("doc_id")
    return d.groupBy("source").agg(
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.min("doc_id").alias("first_doc"),
        F.min_by(F.col("doc_id"), okey).alias("argmin_doc"),
        F.max_by(F.col("doc_id"), okey).alias("argmax_doc"),
    )


# ====================================================================== O4 ===

@q(
    "topk_per_group",
    """
WITH r AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM documents
)
SELECT lang, doc_id, n_chars, rnk FROM r WHERE rnk <= 3
""",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("lang", "doc_id", "n_chars", "rnk")
    )


# -------------------------------------------------------- pipeline queries ---
# dedup / similarity / text registrations live in queries_pipeline.py; the
# import populates REGISTRY as a side effect.
from raster_processor_spark import queries_pipeline  # noqa: E402,F401


# ====================================================================== P5 ===
# degraded fallback: per-cell conditional set switching via window count
# (raster_proc.py:654-684) — cells with < thresh good rows admit degraded rows

@q(
    "degraded_fallback",
    f"""
WITH pts AS ({PIXC_PTS_SQL}),
cells AS (SELECT key, {CELL7_SQL} AS cell_id, classification, height, qual_word
          FROM pts),
flagged AS (
  SELECT *,
         (qual_word % 4 < 2) AS is_good_sus,
         (qual_word % 4 = 2) AS is_degraded,
         SUM(CASE WHEN qual_word % 4 < 2 THEN 1 ELSE 0 END)
           OVER (PARTITION BY cell_id) AS n_gs
  FROM cells
),
kept AS (
  SELECT * FROM flagged
  WHERE CASE WHEN n_gs >= 4 THEN is_good_sus ELSE (is_good_sus OR is_degraded) END
)
SELECT cell_id, COUNT(*) AS n_used,
       CAST(SUM(CASE WHEN is_degraded THEN 1 ELSE 0 END) AS BIGINT) AS n_degraded_used
FROM kept GROUP BY 1
""",
)
def degraded_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7).select(
        "key", "cell_id", "classification", "height", "qual_word"
    )
    good_sus = F.pmod(F.col("qual_word"), F.lit(4)) < 2
    degraded = F.pmod(F.col("qual_word"), F.lit(4)) == 2
    kept = agg.degraded_fallback_filter(pts, "cell_id", good_sus, degraded, 4)
    return kept.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.when(degraded, 1).otherwise(0)).alias("n_degraded_used"),
    )


# ============================================================= grouping sets =
# multi-dimensional rollup (SURVEY §2.4 note: cube over categorical dims)

@q(
    "cube_agg",
    """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (lang, source)
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


# ====================================================================== U3 ===
# mask difference semantics: cells only in A (anti), only in B, in both
# (plot_raster_stats.py:242-255 common/uncommon masks as join types)

@q(
    "mask_anti_join",
    f"""
WITH pts AS ({PIXC_PTS_SQL}),
a AS (SELECT DISTINCT {CELL7_SQL} AS cell_id FROM pts WHERE key % 3 = 0),
b AS (SELECT DISTINCT {CELL7_SQL} AS cell_id FROM pts WHERE key % 3 = 1)
SELECT cell_id, 'only_a' AS side FROM a WHERE cell_id NOT IN (SELECT cell_id FROM b)
UNION ALL
SELECT cell_id, 'only_b' AS side FROM b WHERE cell_id NOT IN (SELECT cell_id FROM a)
UNION ALL
SELECT a.cell_id, 'common' AS side FROM a JOIN b ON a.cell_id = b.cell_id
""",
)
def mask_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    a = pts.where(F.pmod(F.col("key"), F.lit(3)) == 0).select("cell_id").distinct()
    b = pts.where(F.pmod(F.col("key"), F.lit(3)) == 1).select("cell_id").distinct()
    only_a = a.join(b, "cell_id", "left_anti").withColumn("side", F.lit("only_a"))
    only_b = b.join(a, "cell_id", "left_anti").withColumn("side", F.lit("only_b"))
    common = a.join(b, "cell_id", "left_semi").withColumn("side", F.lit("common"))
    return only_a.unionByName(only_b).unionByName(common)


# ====================================================================== A18 ==
# error metrics (metrics.py:33-86): mean/std/|e|68pct/e50pct per group.
# std via explicit exact integer sums (stddev()'s streaming intermediates
# differ across engines); percentiles are exact-interpolation in both.

@q(
    "error_metrics",
    """
SELECT source,
       COUNT(*) AS n,
       SUM(n_chars - 300) / COUNT(*) AS mean_e,
       (CASE WHEN COUNT(*) > 1 THEN
         sqrt((SUM((n_chars - 300) * (n_chars - 300))
               - SUM(n_chars - 300) * SUM(n_chars - 300) / COUNT(*)) / (COUNT(*) - 1))
        ELSE NULL END) AS std_e,
       quantile_cont(abs(n_chars - 300), 0.68) AS abs_e_68,
       quantile_cont(n_chars - 300, 0.5) AS e_50
FROM documents GROUP BY 1
""",
)
def error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    e = (F.col("n_chars") - 300).cast("double")
    n = F.count(F.lit(1))
    se = F.sum(e)
    se2 = F.sum(e * e)
    return d.groupBy("source").agg(
        n.alias("n"),
        (se / n).alias("mean_e"),
        F.when(n > 1, F.sqrt((se2 - se * se / n) / (n - 1))).alias("std_e"),
        F.percentile(F.abs(e), F.lit(0.68)).alias("abs_e_68"),
        F.percentile(e, F.lit(0.5)).alias("e_50"),
    )


# ================================================================= A18/O2 =====
# weighted error metrics: the reference's accuracy gates are WEIGHTED
# percentiles (analysis/metrics.py:37-45 cumsum-interpolation; pass/fail
# thresholds metrics.py:20-26 are |wse_e|_68-style quantiles)

_WEM_SRC_SQL = f"""
SELECT classification, key,
       (height - pixel_area / 5.0) AS e,
       height_w AS w
FROM ({PIXC_PTS_SQL})
"""


# percentile specs and extra aggregates (Spark and DuckDB parse them alike)
_WEM_SPECS = [("abs(e)", 0.68, "abs_e68_w"), ("e", 0.5, "e50_w")]
_WEM_EXTRA_AGGS = {
    "n": "COUNT(*)",
    "wmean_e": "ROUND(SUM(_w * _v1) / SUM(_w), 6)",
    "wstd_e": (
        "ROUND(sqrt(SUM(_w * _v1 * _v1) / SUM(_w)"
        " - (SUM(_w * _v1) / SUM(_w)) * (SUM(_w * _v1) / SUM(_w))), 6)"
    ),
}


def _wem_oracle() -> str:
    from raster_processor_spark.operators import percentiles as pctl

    return pctl.weighted_percentiles_fused_sql(
        _WEM_SRC_SQL, ["classification"], "w", "key", _WEM_SPECS,
        extra_aggs_sql=_WEM_EXTRA_AGGS,
    )


@q("weighted_error_metrics", _wem_oracle())
def weighted_error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused single-shuffle form: both weighted percentiles (|e|@0.68 and
    e@0.5 — different sort orders, same exchange) plus the weighted
    mean/std come out of ONE window+groupBy pass (was 3 shuffles + 2 joins)."""
    from raster_processor_spark.operators import percentiles as pctl

    base = pixc_points(spark, sf_dir).selectExpr(
        "classification", "key",
        f"height - pixel_area / {sql_double(5.0)} AS e", "height_w AS w",
    )
    return pctl.weighted_percentiles_fused(
        base, ["classification"], "w", "key", _WEM_SPECS,
        extra_aggs_sql=_WEM_EXTRA_AGGS,
    ).selectExpr("classification", "n", "wmean_e", "wstd_e", "abs_e68_w", "e50_w")


# ================================================================= A17+ ======
# weighted zonal stats: per-region inverse-variance-weighted mean + totals +
# weighted error percentile (bin/plot_raster_region_stats.py:374-421)

# pixc "key" is NOT unique in lineitem (duplicate (orderkey, linenumber)
# pairs exist in the synthetic data); the PIP back-join needs a real PK, so
# pack the unique natural key (okey, ln, pk, sk) into one int64 (radices
# cover the test SFs; at production scale keep the composite key columns).
_PIXC_UKEY = f"(({_PIXC_KEY} * 2097152 + l_partkey) * 131072 + l_suppkey)"
_PIXC_UPTS_SQL = PIXC_PTS_SQL.replace(
    f"SELECT {_PIXC_KEY} AS key", f"SELECT {_PIXC_UKEY} AS ukey, {_PIXC_KEY} AS key"
)
# geo lat/lon derive from the ORIGINAL key, so the PIP SQL runs over the
# unique-key points with key replaced by ukey for the join identity
_PIXC_PIP_SRC_SQL = f"""
SELECT ukey AS key, lat, lon FROM ({_PIXC_UPTS_SQL})
"""

_ZSW_PTS_SQL = f"""
SELECT p.ukey AS key, pip.poly_id AS poly_id, p.height, p.height_w,
       p.pixel_area, (p.height - p.pixel_area / 5.0) AS e
FROM ({_PIXC_UPTS_SQL}) p
JOIN ({{PIP}}) pip ON pip.key = p.ukey
"""


def pixc_points_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pixc_points plus a genuinely unique int64 key (mixed-radix pack of
    the (orderkey, linenumber, partkey, suppkey) natural PK). One
    selectExpr call — see pixc_points for why."""
    li = load(spark, sf_dir, "lineitem")
    k = "CAST(l_orderkey * 8 + l_linenumber AS BIGINT)"
    return li.selectExpr(
        f"CAST(({k} * 2097152 + l_partkey) * 131072 + l_suppkey AS BIGINT)"
        " AS ukey",
        f"{k} AS key",
        f"{geo.lat_sql_spark(k)} AS lat",
        f"{geo.lon_sql_spark(k)} AS lon",
        "l_extendedprice / 1000.0D AS height",
        "CAST(pmod(l_suppkey, 7) + 1 AS DOUBLE) AS height_w",
        "l_quantity * 10.0D AS pixel_area",
    )


_ZSW_SPECS = [("abs(e)", 0.68, "abs_e68_w")]
_ZSW_EXTRA_AGGS = {
    "n_points": "COUNT(*)",
    "wse_wmean": "ROUND(SUM(_w * height) / SUM(_w), 6)",
    "area_total": "ROUND(SUM(pixel_area), 6)",
}


def _zsw_oracle() -> str:
    from raster_processor_spark.operators import percentiles as pctl

    pip = sj.pip_join_sql(_PIXC_PIP_SRC_SQL, N_POLYS)
    src = _ZSW_PTS_SQL.replace("{PIP}", pip)
    return pctl.weighted_percentiles_fused_sql(
        src, ["poly_id"], "height_w", "key", _ZSW_SPECS,
        extra_aggs_sql=_ZSW_EXTRA_AGGS,
    )


def _zsw_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the weighted layers ride the PIP candidate join (keep=...): the
    # round-5 form joined the (key, poly_id) pairs back against the whole
    # 600k-row fact table on ukey — a full fact-table shuffle that moved
    # strictly more bytes than threading the three payload columns through
    # the (pruned) candidate set
    pts = pixc_points_unique(spark, sf_dir)
    pip = sj.point_in_polygon_join(
        pts, N_POLYS, "lat", "lon", "ukey",
        keep=["height", "height_w", "pixel_area"],
    )
    return pip.selectExpr(
        "key", "poly_id", "height", "height_w", "pixel_area",
        f"height - pixel_area / {sql_double(5.0)} AS e",
    )


@q("zonal_stats_weighted", _zsw_oracle())
def zonal_stats_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region weighted mean + totals + weighted e68 in one shuffle after
    the PIP join (the PIP candidate/refine runs ONCE; was twice)."""
    from raster_processor_spark.operators import percentiles as pctl

    return pctl.weighted_percentiles_fused(
        _zsw_src(spark, sf_dir), ["poly_id"], "height_w", "key", _ZSW_SPECS,
        extra_aggs_sql=_ZSW_EXTRA_AGGS,
    ).selectExpr("poly_id", "n_points", "wse_wmean", "area_total", "abs_e68_w")


# the scale twin: identical output and THE SAME oracle (integer weights
# make the range-partitioned cumsum decomposition bit-exact), but no
# per-region single-task sort — with a handful of zonal regions over a
# 100 TB fact table, the windowed form's partitionBy(poly_id) sort is the
# component that breaks first (billions of rows in one task); this form's
# largest task is one range partition (operators/percentiles.py
# weighted_percentile_distributed)
@q("zonal_stats_weighted_dist", _zsw_oracle())
def zonal_stats_weighted_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from raster_processor_spark.operators import percentiles as pctl

    return pctl.weighted_percentile_distributed(
        _zsw_src(spark, sf_dir),
        ["poly_id"],
        F.abs(F.col("e")),
        F.col("height_w"),
        F.col("key"),
        0.68,
        "abs_e68_w",
        extra_aggs={n: F.expr(e) for n, e in _ZSW_EXTRA_AGGS.items()},
    ).select("poly_id", "n_points", "wse_wmean", "area_total", "abs_e68_w")


# ====================================================================== O1 ===
# tile-name sort key: PPP_TTTS parse/format + the reference's
# side-first granule ordering (products.py:133-140 name format,
# products.py:1714-1724 argsort on tile_name[-1].lower() + tile_name[:-1])

@q(
    "tile_name_sort",
    """
WITH named AS (
  SELECT DISTINCT event_type,
         printf('%03d_%03d%s', event_id % 311, (event_id // 311) % 997,
                CASE WHEN event_id % 2 = 0 THEN 'L' ELSE 'R' END) AS tile_name
  FROM events
)
SELECT event_type, tile_name,
       CAST(substring(tile_name, 1, 3) AS INTEGER) AS pass_num,
       CAST(substring(tile_name, 5, 3) AS INTEGER) AS tile_num,
       substring(tile_name, 8, 1) AS side,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY event_type
         ORDER BY lower(substring(tile_name, 8, 1)) || substring(tile_name, 1, 7)
       ) AS BIGINT) AS sort_rank
FROM named
""",
)
def tile_name_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    name = F.format_string(
        "%03d_%03d%s",
        F.pmod(F.col("event_id"), F.lit(311)),
        F.pmod((F.col("event_id") / 311).cast("long"), F.lit(997)),
        F.when(F.pmod(F.col("event_id"), F.lit(2)) == 0, "L").otherwise("R"),
    )
    named = e.select("event_type", name.alias("tile_name")).distinct()
    sort_key = F.concat(
        F.lower(F.substring("tile_name", 8, 1)), F.substring("tile_name", 1, 7)
    )
    w = Window.partitionBy("event_type").orderBy(sort_key)
    return named.select(
        "event_type",
        "tile_name",
        F.substring("tile_name", 1, 3).cast("int").alias("pass_num"),
        F.substring("tile_name", 5, 3).cast("int").alias("tile_num"),
        F.substring("tile_name", 8, 1).alias("side"),
        F.row_number().over(w).cast("long").alias("sort_rank"),
    )


# ================================================================ §2.8 date ==
# epoch→formatted time-coverage strings (raster_proc.py:530-543 strftime of
# nanmin/nanmax illumination_time with products.DATETIME_FORMAT_STR)

@q(
    "time_coverage",
    """
SELECT event_type,
       strftime(MIN(ts), '%Y-%m-%dT%H:%M:%S.%fZ') AS time_coverage_start,
       strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S.%fZ') AS time_coverage_end,
       COUNT(*) AS n_events
FROM events GROUP BY 1
""",
)
def time_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    return e.groupBy("event_type").agg(
        F.date_format(F.min(F.col("ts").cast("timestamp")), fmt).alias("time_coverage_start"),
        F.date_format(F.max(F.col("ts").cast("timestamp")), fmt).alias("time_coverage_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ====================================================================== P4 ===
# bright-land exclusion: flagged pixels are excluded from sig0/wse kernels
# (raster_agg.py sig0/wse aggregations drop pixc_bright_land_flag rows;
# QUAL_IND_BRIGHT_LAND = 128, products.py:41)

@q(
    "bright_land_exclusion",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN (qual_word & 128) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bright_excluded,
       (SUM(CASE WHEN (qual_word & 128) = 0
                 THEN ROUND(height * 100000.0) * height_w ELSE 0 END)
        / NULLIF(SUM(CASE WHEN (qual_word & 128) = 0 THEN height_w ELSE 0 END), 0)
        / 100000.0) AS wse_mean_nobright
FROM pts GROUP BY 1
""",
)
def bright_land_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    bright = F.col("qual_word").bitwiseAND(F.lit(128)) > 0
    # integerized weighted sum (ROUND(h*1e5) * int weight): exact in FP, so
    # the partial-agg order cannot perturb the result vs the oracle
    wnum = F.sum(
        F.when(~bright, iround(F.col("height") * 100000.0) * F.col("height_w"))
        .otherwise(F.lit(0.0))
    )
    wden = F.sum(F.when(~bright, F.col("height_w")).otherwise(F.lit(0.0)))
    return pts.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(bright, 1).otherwise(0)).alias("n_bright_excluded"),
        (wnum / F.nullif(wden, F.lit(0.0)) / 100000.0).alias("wse_mean_nobright"),
    )


# ====================================================================== A4 ===
# cell-center lat/lon emission (the raster product's coordinate columns;
# reference products.py:1157-1210 uses cell centers for cropping)

@q(
    "cell_centers",
    f"""
WITH pts AS ({DOC_PTS_SQL}),
cells AS (SELECT DISTINCT {CELL7_SQL} AS cell_id FROM pts)
SELECT cell_id,
       ((cell_id - {7 * ci.RES_SHIFT}) // {ci.Y_SHIFT} + 0.5) / 128.0 * 180.0 - 90.0
         AS center_lat,
       ((cell_id - {7 * ci.RES_SHIFT}) % {ci.Y_SHIFT} + 0.5) / 256.0 * 360.0 - 180.0
         AS center_lon
FROM cells
""",
)
def cell_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(doc_points(spark, sf_dir), 7)
    cells = pts.select("cell_id").distinct()
    rem = F.col("cell_id") - F.lit(7 * ci.RES_SHIFT)
    yb = (rem / ci.Y_SHIFT).cast("long")
    xb = F.pmod(rem, F.lit(ci.Y_SHIFT))
    return cells.select(
        "cell_id",
        ((yb + 0.5) / 128.0 * 180.0 - 90.0).alias("center_lat"),
        ((xb + 0.5) / 256.0 * 360.0 - 180.0).alias("center_lon"),
    )


# ============================================================== J4+J3+geo =====
# Taylor re-geolocation: the reference's second entry point
# (geoloc_raster.py:90-194) — height feedback, ECEF, nearest-sensor gather,
# first-order height-constrained update, slant range

def _regeoloc_oracle() -> str:
    from raster_processor_spark.functions import geodesy as geod
    from raster_processor_spark.plans import regeoloc as rg

    pts0 = f"""
SELECT key, lat, lon, height, height_w, {CELL7_SQL} AS cell_id
FROM ({PIXC_PTS_SQL})
"""
    gathered = rg.nearest_sensor_gather_sql(
        f"""
SELECT p.key, p.lat, p.lon, p.height, c.h_new,
       CAST(b.t0 + (p.key * {rg.TIME_SALT}) % (b.t1 - b.t0) AS BIGINT) AS tus
FROM ({pts0}) p
JOIN (SELECT cell_id,
             SUM(ROUND(height * 100000.0) * height_w) / SUM(height_w) / 100000.0
               AS h_new
      FROM ({pts0}) GROUP BY 1) c ON c.cell_id = p.cell_id
CROSS JOIN (SELECT MIN(stus) AS t0, MAX(stus) AS t1
            FROM ({rg._sensors_sql()})) b
""",
        rg._sensors_sql(),
        ["key", "lat", "lon", "height", "h_new"],
    )
    px, py, pz = geod.llh2xyz_sql("lat", "lon", "height")
    nx, ny, nz = geod.ellipsoid_normal_sql("lat", "lon")
    q_sql = f"""
SELECT key, sx, sy, sz,
       ({px} + (h_new - height) * {nx}) AS qx,
       ({py} + (h_new - height) * {ny}) AS qy,
       ({pz} + (h_new - height) * {nz}) AS qz
FROM ({gathered})
"""
    llh = geod.xyz2llh_layered_sql(
        q_sql, "qx", "qy", "qz", ["key", "sx", "sy", "sz", "qx", "qy", "qz"],
        out=("lat2", "lon2", "h2"),
    )
    return f"""
SELECT key,
       ROUND(lat2, 6) AS lat_corr,
       ROUND(lon2, 6) AS lon_corr,
       ROUND(h2, 3) AS h_corr,
       ROUND(sqrt((qx - sx) * (qx - sx) + (qy - sy) * (qy - sy)
                  + (qz - sz) * (qz - sz)), 3) AS slant_range_m
FROM ({llh})
"""


@q("regeoloc", _regeoloc_oracle())
def regeoloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from raster_processor_spark.functions import geodesy as geod
    from raster_processor_spark.plans import regeoloc as rg

    # JVM-side cell id (same arithmetic as CELL7_SQL). The J4 height
    # feedback is ONE window aggregate over cell_id rather than a
    # groupBy + broadcast-join-back: the point table is scanned once and
    # shuffled once (cell_id is a high-cardinality key, so the window
    # partitions are raster cells — never a constant-cardinality sort), and
    # the integerized sums make the unordered window bit-equal to the
    # oracle's GROUP BY + join formulation.
    pts = with_cell(pixc_points(spark, sf_dir), 7).select(
        "key", "lat", "lon", "height", "height_w", "cell_id"
    )
    w = F.col("height_w")
    w_cell = Window.partitionBy("cell_id")
    sens = rg._sensors(spark, sf_dir)
    # ONE scan of the sensor table: the collected track (needed anyway for
    # the broadcast gather) also yields the time bounds as its first/last
    # elements — the previous min/max aggregate + crossJoin(broadcast)
    # re-scanned events per execution for two scalars the driver already
    # holds. Literals carry the exact same long values the aggregate
    # produced, so tus is bit-identical.
    track = rg.collect_track(sens)
    t0, t1 = int(track[0][0]), int(track[0][-1])
    ptsb = (
        pts.withColumn(
            "h_new",
            F.sum(iround(F.col("height") * 100000.0) * w).over(w_cell)
            / F.sum(w).over(w_cell) / 100000.0,
        )
        .withColumn(
            "tus",
            (
                F.lit(t0).cast("long")
                + F.pmod(F.col("key") * rg.TIME_SALT, F.lit(t1 - t0).cast("long"))
            ).cast("long"),
        )
        .select("key", "lat", "lon", "height", "h_new", "tus")
    )
    # fused broadcast gather + Taylor step: the sensor track is O(orbit
    # records) and broadcast (as the reference holds the full TVP per
    # granule), so the regeoloc tail is ONE Arrow stage with no shuffle —
    # the bucketed union-window gather stays available for sensor sides too
    # large to broadcast (plans/regeoloc.nearest_sensor_gather, exercised by
    # regeoloc_pipeline)
    return rg.gather_taylor_broadcast(ptsb, sens, track=track)


# ====================================================================== W3 ===
# median-tile selection (products.py:1744-1748): the row whose value is the
# exact 'nearest' percentile member — min_by over distance to the median

@q(
    "median_tile_select",
    """
WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY 1)
SELECT d.lang AS lang,
       CAST(arg_min(d.doc_id, abs(d.n_chars - m.med) * 1000000 + d.doc_id) AS BIGINT)
         AS central_doc
FROM documents d JOIN m ON d.lang = m.lang
GROUP BY 1
""",
)
def median_tile_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(F.percentile("n_chars", F.lit(0.5)).alias("med"))
    j = d.join(med, "lang")
    okey = F.abs(F.col("n_chars") - F.col("med")) * 1000000 + F.col("doc_id")
    return j.groupBy("lang").agg(F.min_by("doc_id", okey).alias("central_doc"))


# ====================================================================== P3 ===
# per-point gather of a per-line flag via broadcast equi-join
# (products.py:1806-1807 pixc_line_qual[line_index]); lines ≪ points

@q(
    "line_qual_gather",
    f"""
WITH pts AS ({PIXC_PTS_SQL}),
lines AS (SELECT DISTINCT (key % 64) AS line_idx,
                 CAST(((key % 64) * 37) % 1024 AS BIGINT) AS line_qual
          FROM pts)
SELECT {summary_qual_sql('l.line_qual', 7, 56, 448)} AS line_severity,
       COUNT(*) AS n_points
FROM pts p JOIN lines l ON (p.key % 64) = l.line_idx
GROUP BY 1
""",
)
def line_qual_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = pixc_points(spark, sf_dir).withColumn(
        "line_idx", F.pmod(F.col("key"), F.lit(64))
    )
    lines = (
        pts.select("line_idx")
        .distinct()
        .withColumn(
            "line_qual", F.pmod(F.col("line_idx") * 37, F.lit(1024)).cast("long")
        )
    )
    joined = pts.join(F.broadcast(lines), "line_idx")
    sev = summary_qual_col(F.col("line_qual"), 7, 56, 448)
    return joined.groupBy(sev.alias("line_severity")).agg(
        F.count(F.lit(1)).alias("n_points")
    )


# ====================================================================== A5 ===
# height std deweight: σ_h = |phase_noise_std · dh/dφ|, bad → 1e5
# (raster_agg.py:59-67 height_std_meters semantics)

@q(
    "height_std_deweight",
    f"""
WITH pts AS ({PIXC_PTS_SQL}),
raw AS (
  SELECT {CELL7_SQL} AS cell_id,
         (height_var - 0.05) * water_frac AS l
  FROM pts
),
sig AS (
  SELECT cell_id,
         (CASE WHEN l IS NULL OR abs(l) <= 0.0 THEN 100000.0
               ELSE abs(l) END) AS sigma
  FROM raw
)
SELECT cell_id, COUNT(*) AS n_pix,
       CAST(SUM(CASE WHEN sigma = 100000.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deweighted,
       SUM(ROUND(sigma * 10000.0)) / 10000.0 AS sigma_sum
FROM sig GROUP BY 1
""",
)
def height_std_deweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    raw = (F.col("height_var") - 0.05) * F.col("water_frac")
    sigma = (
        F.when(F.abs(raw) <= 0.0, F.lit(100000.0))
        .when(raw.isNull(), F.lit(100000.0))
        .otherwise(F.abs(raw))
    )
    sig = pts.withColumn("sigma", sigma)
    return sig.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_pix"),
        F.sum(F.when(F.col("sigma") == 100000.0, 1).otherwise(0)).alias("n_deweighted"),
        (F.sum(iround(F.col("sigma") * 10000.0)) / 10000.0).alias("sigma_sum"),
    )


# ====================================================================== A7 ===
# uncertainty propagation: σ_cell = sqrt(Σ σ²·w²) / Σw with integer weights
# (raster_agg.py:154-179 height_with_uncerts, closed algebraic form)

@q(
    "height_uncert_propagation",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       COUNT(*) AS n_pix,
       sqrt(SUM(ROUND(height_var * 100.0) * height_w * height_w))
         / SUM(height_w) AS height_u
FROM pts GROUP BY 1
""",
)
def height_uncert_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    w = F.col("height_w")
    var_int = iround(F.col("height_var") * 100.0)  # exact integer double
    return pts.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_pix"),
        (F.sqrt(F.sum(var_int * w * w)) / F.sum(w)).alias("height_u"),
    )


# ====================================================================== A10 ==
# sig0 aggregation: mean + propagated uncertainty (raster_agg.py:231-243)

@q(
    "sig0_agg",
    f"""
WITH pts AS ({PIXC_PTS_SQL})
SELECT {CELL7_SQL} AS cell_id,
       COUNT(*) AS n_pix,
       SUM(ROUND(pixel_area * 10.0)) / COUNT(*) / 10.0 AS sig0_mean,
       sqrt(SUM(ROUND(water_frac * 100.0) * ROUND(water_frac * 100.0)))
         / COUNT(*) / 100.0 AS sig0_u
FROM pts GROUP BY 1
""",
)
def sig0_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7)
    n = F.count(F.lit(1))
    s_int = iround(F.col("pixel_area") * 10.0)
    u_int = iround(F.col("water_frac") * 100.0)
    return pts.groupBy("cell_id").agg(
        n.alias("n_pix"),
        (F.sum(s_int) / n / 10.0).alias("sig0_mean"),
        (F.sqrt(F.sum(u_int * u_int)) / n / 100.0).alias("sig0_u"),
    )


# ============================================================== hexcell ======
# H3-style axial hex assignment with cube rounding, oracle-checked: the SQL
# twin replays the exact double arithmetic (precomputed irrational constants
# embedded as repr() literals round-trip bit-exactly)

def _hex_assign_sql(res: int, pts_sql: str = DOC_PTS_SQL) -> str:
    import numpy as np

    s3 = repr(float(np.sqrt(3.0) / 3.0))
    two3 = repr(2.0 / 3.0)
    size = repr(180.0 / (1 << res))
    return f"""
WITH pts AS ({pts_sql}),
f AS (SELECT key, ({s3} * lon - {repr(1.0 / 3.0)} * lat) / {size} AS qf,
             ({two3} * lat) / {size} AS rf
      FROM pts),
g AS (SELECT key, qf, rf, -qf - rf AS sf,
             ROUND(qf) AS q0, ROUND(rf) AS r0, ROUND(-qf - rf) AS s0
      FROM f),
h AS (SELECT key, q0, r0, s0,
             abs(q0 - qf) AS dq, abs(r0 - rf) AS dr, abs(s0 - sf) AS ds
      FROM g),
fx AS (SELECT key,
        CASE WHEN dq > dr AND dq > ds THEN -r0 - s0 ELSE q0 END AS q,
        CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -q0 - s0 ELSE r0 END AS r
       FROM h)
SELECT key,
       CAST({res} AS BIGINT) * {ci.RES_SHIFT}
       + (CAST(r AS BIGINT) + {ci.HEX_OFFSET}) * {ci.Y_SHIFT}
       + (CAST(q AS BIGINT) + {ci.HEX_OFFSET}) AS hexcell
FROM fx
"""


@q("hex_tile_assign", _hex_assign_sql(7))
def hex_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_points(spark, sf_dir).selectExpr(
        "key", f"{hex_cell_expr(7)} AS hexcell"
    )


# ====================================================================== J4 ===
# raster→point feedback: every point fetches its cell's aggregated
# (weighted-mean) height and overwrites its own — the height-constrained
# re-geolocation writeback (geoloc_raster.py:42-76 update_heights_from_raster)

@q(
    "height_feedback",
    f"""
WITH pts AS ({PIXC_PTS_SQL}),
assigned AS (SELECT key, height, height_w, {CELL7_SQL} AS cell_id FROM pts),
cells AS (
  SELECT cell_id,
         SUM(ROUND(height * 100000.0) * height_w) / SUM(height_w) / 100000.0
           AS cell_height
  FROM assigned GROUP BY 1
)
SELECT a.key AS key, c.cell_height AS height_new,
       (c.cell_height - a.height) AS height_delta
FROM assigned a JOIN cells c ON a.cell_id = c.cell_id
""",
)
def height_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = with_cell(pixc_points(spark, sf_dir), 7).select(
        "key", "height", "height_w", "cell_id"
    )
    w = F.col("height_w")
    cells = pts.groupBy("cell_id").agg(
        (F.sum(iround(F.col("height") * 100000.0) * w) / F.sum(w) / 100000.0).alias(
            "cell_height"
        )
    )
    # the cell table is orders of magnitude smaller than points → broadcast
    joined = pts.join(F.broadcast(cells), "cell_id")
    return joined.select(
        "key",
        F.col("cell_height").alias("height_new"),
        (F.col("cell_height") - F.col("height")).alias("height_delta"),
    )


# ============================================================== O5 / plots ===
# Binned top-sources: 2-D bin assign → per-bin top-n contributing sources
# with percentage shares — the reference's scatter-density cursor helper
# (analysis/scatter_density.py:16-46 get_top_sources: per (bin_x, bin_y),
# Counter.most_common(n) of the source labels plus 100*count/len shares).
# Relational form: one row per (bin, rank). Ties broken by source ASC
# (most_common's insertion order is not deterministic; the engine pins it).
# Scale shape: the corpus-sized shuffle is the partial-aggregated groupBy
# on (bin, source); the rank/total window runs over the contracted count
# table (|bins| x |sources| rows), never over raw points.

TOP_SOURCES_N = 3


@q(
    "top_sources",
    f"""
WITH pts AS ({DOC_PTS_SQL}),
binned AS (
  SELECT CAST(FLOOR((lon + 180.0) / 15.0) AS BIGINT) AS bin_x,
         CAST(FLOOR((lat + 90.0) / 15.0) AS BIGINT) AS bin_y,
         source
  FROM pts
),
cnt AS (SELECT bin_x, bin_y, source, COUNT(*) AS c FROM binned GROUP BY 1, 2, 3),
ranked AS (
  SELECT bin_x, bin_y, source, c,
         CAST(SUM(c) OVER (PARTITION BY bin_x, bin_y) AS BIGINT) AS t,
         ROW_NUMBER() OVER (PARTITION BY bin_x, bin_y
                            ORDER BY c DESC, source ASC) AS rank
  FROM cnt
)
SELECT bin_x, bin_y, rank, source, 100.0 * c / t AS pct
FROM ranked WHERE rank <= {TOP_SOURCES_N}
""",
)
def top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = doc_points(spark, sf_dir)
    binned = pts.select(
        F.floor((F.col("lon") + 180.0) / 15.0).cast("long").alias("bin_x"),
        F.floor((F.col("lat") + 90.0) / 15.0).cast("long").alias("bin_y"),
        "source",
    )
    cnt = binned.groupBy("bin_x", "bin_y", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("bin_x", "bin_y")
    wr = w.orderBy(F.col("c").desc(), F.col("source").asc())
    return (
        cnt.withColumn("t", F.sum("c").over(w))
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= TOP_SOURCES_N)
        .select(
            "bin_x", "bin_y",
            F.col("rank").cast("long").alias("rank"),
            "source",
            (F.lit(100.0) * F.col("c") / F.col("t")).alias("pct"),
        )
    )
