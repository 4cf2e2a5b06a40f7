"""Two-phase broadcast-candidate point-in-polygon join — the engine's flagship
spatial join (north star; reference semantics: crop cells/points by polygon
containment, products.py:1157-1210, and polygon burn raster_proc.py:741-1023).

Phase 1 (coarse, JVM-side): each polygon's bbox is expanded to its covering
quadcells at a coarse resolution; the (cell → poly_id) table is tiny and
broadcast, so the candidate join is a broadcast hash join on the point's
coarse cell id — no shuffle of the fact table.

Phase 2 (exact, Arrow-batched): even-odd ray casting of candidate (point,
polygon) pairs over packed numpy vertex arrays inside an iterator pandas UDF.
The crossing predicate is bit-identical to the SQL oracle twin
(polygons.pip_ray_cast_np docstring).

At 10^12-point scale: phase 1 prunes to the tiny fraction of points whose
coarse cell intersects any polygon bbox (partition pruning does this at scan
time if the table is written partitioned by coarse cell prefix); phase 2 cost
is proportional to candidates only. Polygon sets are broadcast dims (like the
reference's swath polygons).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from raster_processor_spark import cellindex as ci
from raster_processor_spark import polygons as pg
from raster_processor_spark.functions.cells import with_cell

COARSE_RES = 6  # 2.8125-degree square cells; polygon radius <= 2 deg → <=4 cells


def polygon_cover_cells(n_polys: int, res: int = COARSE_RES) -> list[tuple[int, int]]:
    """(cell_id, poly_id) covering pairs from polygon bboxes — driver-side
    numpy over the small polygon dim (the analogue of the reference preparing
    the swath polygon once, products.py:1165-1171)."""
    verts = pg.polygons_np(n_polys)  # (P, V, 2) of (vx=lon, vy=lat)
    out: list[tuple[int, int]] = []
    for p in range(n_polys):
        lon_min, lat_min = verts[p].min(axis=0)
        lon_max, lat_max = verts[p].max(axis=0)
        # antimeridian split (reference: products.py:1425-1457): vertices in
        # continuous longitude may extend past +/-180 — emit cover cells for
        # each wrapped lon range so dateline-crossing polygons keep full
        # candidate recall against points stored in [-180, 180).
        lon_ranges: list[tuple[float, float]] = []
        if lon_max > 180.0:
            lon_ranges.append((lon_min, 179.999999))
            lon_ranges.append((-180.0, lon_max - 360.0))
        elif lon_min < -180.0:
            lon_ranges.append((-180.0, lon_max))
            lon_ranges.append((lon_min + 360.0, 179.999999))
        else:
            lon_ranges.append((lon_min, lon_max))
        for lo, hi in lon_ranges:
            yb0, xb0 = ci.quad_bins(np.array([lat_min]), np.array([lo]), res)
            yb1, xb1 = ci.quad_bins(np.array([lat_max]), np.array([hi]), res)
            for yb in range(int(yb0[0]), int(yb1[0]) + 1):
                for xb in range(int(xb0[0]), int(xb1[0]) + 1):
                    out.append((res * ci.RES_SHIFT + yb * ci.Y_SHIFT + xb, p))
    return sorted(set(out))


def pip_refine_udf(n_polys: int):
    """pandas UDF (poly_id, lon, lat) → contained:boolean. Edge arrays are
    captured once per worker (broadcast by closure; packed (P, E, 4) numpy)."""
    edges = pg.polygon_edges_np(n_polys)  # (P, E, 4) x1,y1,x2,y2

    @F.pandas_udf(BooleanType())
    def _refine(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for poly_id, lon, lat in it:
            pid = poly_id.to_numpy()
            px = lon.to_numpy()
            py = lat.to_numpy()
            result = np.zeros(len(pid), dtype=bool)
            # vectorize per polygon present in the batch; containment is on
            # the lon circle — test lon and lon+360 so polygons whose
            # vertices run past +180 (antimeridian) match points stored in
            # [-180, 180)
            for p in np.unique(pid):
                m = pid == p
                result[m] = pg.pip_ray_cast_np(px[m], py[m], edges[p]) | \
                    pg.pip_ray_cast_np(px[m] + 360.0, py[m], edges[p])
            yield pd.Series(result)

    return _refine


def point_in_polygon_join(
    points: DataFrame,
    n_polys: int,
    lat: str,
    lon: str,
    key: str,
    keep: list[str] | None = None,
) -> DataFrame:
    """→ DataFrame(key, poly_id[, *keep]) of exact containment pairs, the
    engine's join-output-rows contract (BASELINE.json north_rule).

    ``keep`` threads payload columns of ``points`` through the candidate
    join and the refine stage so consumers that need point attributes per
    containment pair don't have to join the full fact table back on the
    key afterwards (guide §3: that join re-shuffles the whole fact table
    by a key that has nothing to do with the polygon layout). The refine
    UDF still sees only (poly_id, lon, lat) — payload columns ride the
    plan untouched. ``lat``, ``lon`` and ``key`` are Spark SQL expressions
    over ``points`` (column names, usually), so each stage assembles in one
    py4j call."""
    spark = points.sparkSession
    from raster_processor_spark.sources.tables import const_df

    cover = const_df(
        spark, ("pip_cover", n_polys),
        lambda: polygon_cover_cells(n_polys),
        "cover_cell BIGINT, poly_id BIGINT",
    )
    keep = keep or []
    pts = points.selectExpr(
        f"{key} AS key", f"{lat} AS lat", f"{lon} AS lon", *keep
    )
    pts = with_cell(pts, COARSE_RES, "cover_cell")
    cand = pts.join(F.broadcast(cover), "cover_cell", "inner")
    refine = pip_refine_udf(n_polys)
    return (
        cand.withColumn("contained", refine("poly_id", "lon", "lat"))
        .where("contained")
        .selectExpr("key", "poly_id", *keep)
    )


# --------------------------------------------------------- SQL oracle twin ---

def pip_join_sql(points_sql: str, n_polys: int) -> str:
    """DuckDB oracle: full ray-cast join, same crossing predicate.

    ``points_sql`` must yield columns (key, lat, lon).
    """
    nv = len(pg._STAR)
    return f"""
WITH verts AS (SELECT * FROM {pg.polygons_values_sql(n_polys)}),
edges AS (
  SELECT a.poly_id, a.vx AS x1, a.vy AS y1, b.vx AS x2, b.vy AS y2
  FROM verts a JOIN verts b
    ON a.poly_id = b.poly_id AND b.vertex_idx = (a.vertex_idx + 1) % {nv}
),
pts AS ({points_sql})
SELECT p.key AS key, CAST(e.poly_id AS BIGINT) AS poly_id
FROM pts p CROSS JOIN edges e
GROUP BY p.key, e.poly_id
HAVING SUM(
  CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
       THEN (CASE WHEN p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
                  THEN 1 ELSE 0 END)
       ELSE 0 END
) % 2 = 1
OR SUM(
  CASE WHEN (e.y1 > p.lat) <> (e.y2 > p.lat)
       THEN (CASE WHEN p.lon + 360.0 < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
                  THEN 1 ELSE 0 END)
       ELSE 0 END
) % 2 = 1
"""
