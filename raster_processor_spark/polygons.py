"""Deterministic vector polygon sets — the engine's analogue of the reference's
swath/region polygons (reference: src/SWOTRaster/raster_proc.py:741-1023 burns
polygons into the grid; products.py:1157-1210 crops cells by point-in-polygon).

Polygons are generated by pure integer arithmetic (no trig, no RNG) so the
exact same vertex doubles exist in three places: a Spark DataFrame, a DuckDB
SQL VALUES clause, and a numpy array — containment decisions are therefore
bit-identical across engine / oracle / golden reference.

Shape: a concave 8-vertex star (tests general ray casting, not just convex
hulls), scaled and offset per polygon. Vertex coordinates have <= 4 decimal
digits → exactly-representable doubles after the /1e4.
"""

from __future__ import annotations

import numpy as np

# unit star, x10 (integer): concave at the diagonals
_STAR = [
    (10, 0), (3, 3), (0, 10), (-3, 3), (-10, 0), (-3, -3), (0, -10), (3, -3),
]

_CX_A, _CX_MOD = 48_611, 3_200_000  # center lon in 1e4 deg over [-160, 160)
_CY_A, _CY_MOD = 75_377, 1_000_000  # center lat in 1e4 deg over [-50, 50)
_R_A, _R_MOD = 104_729, 140  # scale in [60, 200) x1e-1 deg → radius 0.6..2 deg


def polygon_rows(n_polys: int) -> list[tuple[int, int, float, float]]:
    """(poly_id, vertex_idx, vx, vy) rows, ring order, not closed.

    Every 4th polygon is anchored inside the hot box (geo.py: lat 10..11.2,
    lon 20..22.4) so the polygon join always has matches AND exercises the
    hot-cell skew path; the rest spread over the globe. The LAST polygon is
    centered ON the antimeridian (cx=180, vertices in continuous longitude
    178..182) — the dateline-wrap case the reference splits explicitly
    (products.py:1425-1457, raster_crs.py:189-195). Containment against it
    is evaluated on the lon circle (test lon and lon+360).
    """
    rows = []
    for p in range(n_polys):
        if p == n_polys - 1 and n_polys > 1:
            cx, cy = 180.0, -10.0
        elif p % 4 == 0:
            cx = ((p + 1) * _CX_A) % 24_000 / 1e4 + 20.0  # lon 20.0..22.4
            cy = ((p + 1) * _CY_A) % 12_000 / 1e4 + 10.0  # lat 10.0..11.2
        else:
            cx = ((p + 1) * _CX_A) % _CX_MOD / 1e4 - 160.0
            cy = ((p + 1) * _CY_A) % _CY_MOD / 1e4 - 50.0
        if p == n_polys - 1 and n_polys > 1:
            # dateline polygon: radius 10 deg so it straddles enough of the
            # sparse high-lon point band to contain points at every SF
            scale = 10.0
        else:
            scale = (((p + 1) * _R_A) % _R_MOD + 60) / 100.0
        for i, (sx, sy) in enumerate(_STAR):
            # vertex = center + scale * star/10 ; star/10 has 1 decimal digit
            vx = cx + scale * sx / 10.0
            vy = cy + scale * sy / 10.0
            rows.append((p, i, vx, vy))
    return rows


def polygons_np(n_polys: int) -> np.ndarray:
    """shape (n_polys, 8, 2) array of (vx, vy)."""
    rows = polygon_rows(n_polys)
    arr = np.asarray([(vx, vy) for (_, _, vx, vy) in rows], dtype=np.float64)
    return arr.reshape(n_polys, len(_STAR), 2)


def polygons_values_sql(n_polys: int) -> str:
    """The identical rows as a SQL VALUES clause (DuckDB oracle twin).

    float.__repr__ round-trips exactly, so the literal doubles parsed by
    DuckDB equal the Python doubles in the Spark DataFrame bit-for-bit.
    """
    vals = ",\n    ".join(
        f"({p}, {i}, {vx!r}, {vy!r})" for (p, i, vx, vy) in polygon_rows(n_polys)
    )
    return (
        "(SELECT * FROM (VALUES\n    "
        + vals
        + "\n) AS t(poly_id, vertex_idx, vx, vy))"
    )


def polygon_edges_np(n_polys: int) -> np.ndarray:
    """shape (n_polys, 8, 4): per-edge (x1, y1, x2, y2), ring closed."""
    v = polygons_np(n_polys)
    nxt = np.roll(v, -1, axis=1)
    return np.concatenate([v, nxt], axis=2)


def pip_ray_cast_np(px: np.ndarray, py: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting of points against ONE polygon's edges.

    edges: shape (E, 4). The crossing predicate is the canonical half-open
    form; the identical expression is emitted in the SQL oracle so boundary
    decisions agree bit-for-bit:
        (y1 > py) != (y2 > py)  AND  px < (x2-x1)*(py-y1)/(y2-y1) + x1

    Engine analogue of the reference's shapely prep+intersects crop
    (products.py:1173-1177) re-expressed as a vectorizable kernel.
    """
    px = px[:, None]
    py = py[:, None]
    x1, y1, x2, y2 = edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    crossings = np.sum(cond & (px < xi), axis=1)
    return crossings % 2 == 1
