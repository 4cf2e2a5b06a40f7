"""Polygon→grid burn (J6) and dense-raster densification (A14 fills).

Reference semantics: raster_proc.py:916-935 burns the swath polygon sets
into boolean grid masks with rasterio all_touched=True (a cell is burned if
the polygon touches ANY part of the cell rectangle, not just its center),
then ORs the masks into the per-cell quality words (raster_proc.py:1002-1007)
and emits BAD + NO_PIXELS + FEW_PIXELS fills for cells with zero valid
points (raster_proc.py:729-731, raster_agg.py:365-369, bit values
products.py:30-56).

Spark-first re-expression:
  * the grid is a DataFrame (one row per cell of the res-R equirectangular
    grid — the analogue of the raster's size_y x size_x frame);
  * "polygon touches cell rect" is decided exactly with a separating-axis
    test per polygon edge (axes: x, y, edge normal) plus a cell-center
    ray-cast for rects wholly inside a polygon — all JVM-side expressions,
    bit-identical to the DuckDB twin;
  * candidate pruning mirrors the PIP join: a tiny (cell, poly) bbox-cover
    dim is broadcast, so the exact test runs on candidates only, and the
    dense output comes from a left join of the full grid against the burned
    set (groupBy never drops empty cells because the grid side is dense by
    construction);
  * antimeridian polygons (vertices in continuous lon past +180) burn via a
    +360-shifted rect test, mirroring the reference's wrapped-polygon split
    (products.py:1425-1457).

Scale: the grid is generated distributed (spark.range), the polygon dim is
broadcast, and the only shuffle is the final groupBy(cell) over candidate
pairs — at a 1000-executor scale the burn is embarrassingly parallel over
grid partitions.

Assembly: every stage is one SQL string (selectExpr, where, one F.expr per
aggregate), the same SAT and ray-cast arithmetic _burn_cte_sql spells for
DuckDB, with D-suffixed double literals (sql_double). Built from Column-DSL
nodes instead, the two shifted copies of the SAT test cost ~3,300 py4j
round trips per build (~0.4 s on a 4-core host); as strings, ~155.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raster_processor_spark import cellindex as ci
from raster_processor_spark import polygons as pg
from raster_processor_spark.functions.literals import sql_double

RES = 7
NY, NX = 1 << RES, 1 << (RES + 1)
DY = 180.0 / NY  # 1.40625, exactly representable
DX = 360.0 / NX  # 1.40625

# reference fill/flag bit values (products.py:30-56)
QUAL_IND_BAD = 3
QUAL_IND_FEW_PIXELS = 4096
QUAL_IND_NO_PIXELS = 268435456
QUAL_IND_INNER_SWATH = 1073741824
QUAL_IND_MISSING_KARIN_DATA = 2147483648
EMPTY_FILL_BITWISE = QUAL_IND_NO_PIXELS + QUAL_IND_FEW_PIXELS


def edge_rows(n_polys: int) -> list[tuple]:
    """(poly_id, x1, y1, x2, y2) closed-ring edge rows of the fixture set."""
    e = pg.polygon_edges_np(n_polys)
    return [
        (p, float(x1), float(y1), float(x2), float(y2))
        for p in range(n_polys)
        for (x1, y1, x2, y2) in e[p]
    ]


def grid_df(spark: SparkSession) -> DataFrame:
    """The dense res-7 global grid: one row per cell with rect bounds and
    center — generated distributed (spark.range), never collected."""
    g = spark.range(NY * NX).selectExpr(
        f"CAST(id / {NX} AS BIGINT) AS yb",
        f"CAST(pmod(id, {NX}) AS BIGINT) AS xb",
    )
    dy, dx = sql_double(DY), sql_double(DX)
    half, lat0, lon0 = sql_double(0.5), sql_double(90.0), sql_double(180.0)
    return g.selectExpr(
        f"{RES * ci.RES_SHIFT}L + yb * {ci.Y_SHIFT} + xb AS cell_id",
        f"yb * {dy} - {lat0} AS ry0",
        f"(yb + 1) * {dy} - {lat0} AS ry1",
        f"xb * {dx} - {lon0} AS rx0",
        f"(xb + 1) * {dx} - {lon0} AS rx1",
        f"(yb + {half}) * {dy} - {lat0} AS cy",
        f"(xb + {half}) * {dx} - {lon0} AS cx",
    )


def _edge_hit_sql(shift: float) -> str:
    """Exact segment-vs-rect intersection (SAT on axes x, y, edge normal;
    touching counts — the all_touched analogue). ``shift`` moves the rect
    into the polygon's continuous-lon frame for the antimeridian case."""
    d = sql_double(shift)
    rx0, rx1 = f"(rx0 + {d})", f"(rx1 + {d})"

    def side(cx: str, cy: str) -> str:
        return f"(x2 - x1) * ({cy} - y1) - (y2 - y1) * ({cx} - x1)"

    corners = ((rx0, "ry0"), (rx1, "ry0"), (rx0, "ry1"), (rx1, "ry1"))
    s = ", ".join(side(cx, cy) for cx, cy in corners)
    return (
        f"((greatest(x1, x2) >= {rx0} AND least(x1, x2) <= {rx1}"
        " AND greatest(y1, y2) >= ry0 AND least(y1, y2) <= ry1)"
        f" AND (least({s}) <= 0 AND greatest({s}) >= 0))"
    )


def _center_crossing_sql(shift: float) -> str:
    """1 if the upward ray from the (shifted) cell center crosses this edge
    (same half-open predicate as the PIP oracle)."""
    return (
        "CASE WHEN (y1 > cy) <> (y2 > cy)"
        f" AND (cx + {sql_double(shift)}) < (x2 - x1) * (cy - y1) / (y2 - y1) + x1"
        " THEN 1 ELSE 0 END"
    )


def burned_pairs(spark: SparkSession, n_polys: int) -> DataFrame:
    """(cell_id, poly_id) pairs where the polygon touches the cell rect.

    Candidates come from the broadcast bbox cover (same pruning as the PIP
    join, res-7 cover); the SAT + center ray-cast verify runs on candidates
    only."""
    from raster_processor_spark.operators.spatial_join import polygon_cover_cells
    from raster_processor_spark.sources.tables import const_df

    cover = const_df(
        spark, ("burn_cover", n_polys, RES),
        lambda: polygon_cover_cells(n_polys, res=RES),
        "cell_id BIGINT, poly_id BIGINT",
    )
    edges = const_df(
        spark, ("burn_edges", n_polys),
        lambda: edge_rows(n_polys),
        "poly_id BIGINT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE",
    )
    cand = grid_df(spark).join(F.broadcast(cover), "cell_id")
    ce = cand.join(F.broadcast(edges), "poly_id")
    per_pair = ce.groupBy("cell_id", "poly_id").agg(
        F.expr(
            f"max(CASE WHEN {_edge_hit_sql(0.0)} OR {_edge_hit_sql(360.0)}"
            " THEN 1 ELSE 0 END) AS edge_hit"
        ),
        F.expr(f"sum({_center_crossing_sql(0.0)}) AS xing0"),
        F.expr(f"sum({_center_crossing_sql(360.0)}) AS xing360"),
    )
    return per_pair.where(
        "edge_hit = 1 OR pmod(xing0, 2) = 1 OR pmod(xing360, 2) = 1"
    ).selectExpr("cell_id", "poly_id")


def burn_flags(spark: SparkSession, n_polys: int) -> DataFrame:
    """Dense (cell_id, missing_flag, inner_swath_flag) over the full grid.

    Data polygons = even poly ids (the reference's extant_data_polys),
    window polygons = odd ids (outside_data_window_polys); the mutual
    masking matches raster_proc.py:938-940: a cell is inner-swath only
    where data is missing, and missing excludes the inner-swath gap."""
    pairs = burned_pairs(spark, n_polys)
    per_cell = pairs.groupBy("cell_id").agg(
        F.expr("max(CASE WHEN pmod(poly_id, 2) = 0 THEN 1 ELSE 0 END) AS cd"),
        F.expr("max(CASE WHEN pmod(poly_id, 2) = 1 THEN 1 ELSE 0 END) AS cw"),
    )
    g = grid_df(spark).selectExpr("cell_id")
    # the burned per-cell table is bounded by the grid size (2^15 rows at
    # res 7) — broadcast it so densification never shuffles the dense grid
    j = g.join(F.broadcast(per_cell), "cell_id", "left").selectExpr(
        "cell_id", "coalesce(cd, 0) AS cd", "coalesce(cw, 0) AS cw",
    )
    inner = "(cw = 1 AND cd = 0)"
    return j.selectExpr(
        "cell_id",
        f"cd = 0 AND NOT {inner} AS missing_flag",
        f"{inner} AS inner_swath_flag",
    )


def burn_flags_cached(spark: SparkSession, n_polys: int) -> DataFrame:
    """Snapshot-backed burn_flags: the mask layer is a pure function of the
    grid resolution and the polygon set — static swath geometry, not data —
    so it is committed ONCE (SnapshotStore, keyed by res + poly count) and
    every later query, in any process, reads the 2^15-row parquet instead
    of re-running the SAT burn (~2.7 s warm at res 7; the read is ~0.2 s).
    This is how a production raster pipeline treats static masks: a layer
    product, not per-query compute. `polygon_burn` (the operator under
    test) still computes the burn live."""
    from raster_processor_spark.sources.snapshots import SnapshotStore, engine_store_root

    store = SnapshotStore(engine_store_root())
    table = f"burn_flags_res{RES}_p{n_polys}"
    return store.resume_or_compute(
        spark, table, lambda: burn_flags(spark, n_polys),
        lineage_cols={"cell": "cell_id"},
        metrics={"res": RES, "n_polys": n_polys},
    )


# --------------------------------------------------------- SQL oracle twins --

def _edges_values_sql(n_polys: int) -> str:
    vals = ",\n    ".join(
        f"({p}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for (p, x1, y1, x2, y2) in edge_rows(n_polys)
    )
    return (
        "(SELECT * FROM (VALUES\n    " + vals
        + "\n) AS e(poly_id, x1, y1, x2, y2))"
    )


def _burn_cte_sql(n_polys: int) -> str:
    """CTE prologue ending in flags(cell_id, missing_flag, inner_swath_flag).

    Same SAT + center-ray-cast arithmetic as the Spark side (bbox pruning is
    a plan detail; DuckDB evaluates the full grid x edges product)."""

    def hit(shift: str) -> str:
        side = (
            "((e.x2 - e.x1) * ({cy} - e.y1) - (e.y2 - e.y1) * ({cx} - e.x1))"
        )
        s = [
            side.format(cx=f"(g.rx0 + {shift})", cy="g.ry0"),
            side.format(cx=f"(g.rx1 + {shift})", cy="g.ry0"),
            side.format(cx=f"(g.rx0 + {shift})", cy="g.ry1"),
            side.format(cx=f"(g.rx1 + {shift})", cy="g.ry1"),
        ]
        return f"""(
  GREATEST(e.x1, e.x2) >= g.rx0 + {shift} AND LEAST(e.x1, e.x2) <= g.rx1 + {shift}
  AND GREATEST(e.y1, e.y2) >= g.ry0 AND LEAST(e.y1, e.y2) <= g.ry1
  AND LEAST({s[0]}, {s[1]}, {s[2]}, {s[3]}) <= 0
  AND GREATEST({s[0]}, {s[1]}, {s[2]}, {s[3]}) >= 0
)"""

    def xing(shift: str) -> str:
        return f"""(CASE WHEN (e.y1 > g.cy) <> (e.y2 > g.cy)
       AND g.cx + {shift} < (e.x2 - e.x1) * (g.cy - e.y1) / (e.y2 - e.y1) + e.x1
       THEN 1 ELSE 0 END)"""

    return f"""
grid AS (
  SELECT CAST({RES} * {ci.RES_SHIFT} + yb * {ci.Y_SHIFT} + xb AS BIGINT) AS cell_id,
         yb * {DY!r} - 90.0 AS ry0, (yb + 1) * {DY!r} - 90.0 AS ry1,
         xb * {DX!r} - 180.0 AS rx0, (xb + 1) * {DX!r} - 180.0 AS rx1,
         (yb + 0.5) * {DY!r} - 90.0 AS cy, (xb + 0.5) * {DX!r} - 180.0 AS cx
  FROM (SELECT UNNEST(generate_series(0, {NY - 1})) AS yb),
       (SELECT UNNEST(generate_series(0, {NX - 1})) AS xb)
),
edges AS {_edges_values_sql(n_polys)},
per_pair AS (
  SELECT g.cell_id, e.poly_id,
         MAX(CASE WHEN {hit('0.0')} OR {hit('360.0')} THEN 1 ELSE 0 END) AS edge_hit,
         SUM({xing('0.0')}) AS xing0,
         SUM({xing('360.0')}) AS xing360
  FROM grid g JOIN edges e
    ON GREATEST(e.x1, e.x2) >= g.rx0 AND LEAST(e.x1, e.x2) <= g.rx1 + 360.0
  GROUP BY 1, 2
),
burned AS (
  SELECT cell_id, poly_id FROM per_pair
  WHERE edge_hit = 1 OR xing0 % 2 = 1 OR xing360 % 2 = 1
),
per_cell AS (
  SELECT cell_id,
         MAX(CASE WHEN poly_id % 2 = 0 THEN 1 ELSE 0 END) AS cd,
         MAX(CASE WHEN poly_id % 2 = 1 THEN 1 ELSE 0 END) AS cw
  FROM burned GROUP BY 1
),
flags AS (
  SELECT g.cell_id,
         (COALESCE(cd, 0) = 0 AND NOT (COALESCE(cw, 0) = 1 AND COALESCE(cd, 0) = 0))
           AS missing_flag,
         (COALESCE(cw, 0) = 1 AND COALESCE(cd, 0) = 0) AS inner_swath_flag
  FROM grid g LEFT JOIN per_cell p ON g.cell_id = p.cell_id
)"""


def burn_flags_sql(n_polys: int) -> str:
    return f"""
WITH {_burn_cte_sql(n_polys)}
SELECT cell_id, missing_flag, inner_swath_flag FROM flags
"""
