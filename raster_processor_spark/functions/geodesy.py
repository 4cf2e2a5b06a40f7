"""Geodesy column expressions (reference: src/SWOTRaster/raster_crs.py)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# WGS84 constants (raster_crs.py:23-26)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)


def lon_360to180_col(lon: Column) -> Column:
    """Wrap [0,360) → [-180,180) (raster_crs.py:234-236 lon_360to180)."""
    return F.pmod(lon + 180.0, F.lit(360.0)) - 180.0


def wgs84_px_area_np(lat: np.ndarray, dlat_deg: float, dlon_deg: float) -> np.ndarray:
    """Geodetic area (m^2) of a dlat x dlon cell centered at lat — the
    reference's per-pixel geodetic area for water-area aggregation
    (raster_crs.py:30-46 wgs84_px_area), re-derived from the same spherical-
    excess integral on the WGS84 ellipsoid."""
    lat = np.deg2rad(np.asarray(lat, dtype=np.float64))
    dlat = np.deg2rad(dlat_deg)
    dlon = np.deg2rad(dlon_deg)
    e = np.sqrt(WGS84_E2)

    def zone(phi):
        # ∫ cosφ/(1-e²sin²φ)² dφ = s/(2(1-e²s²)) + atanh(es)/(2e), s=sinφ
        s = np.sin(phi)
        return s / (2.0 * (1.0 - WGS84_E2 * s * s)) + np.arctanh(e * s) / (2.0 * e)

    band = zone(lat + dlat / 2.0) - zone(lat - dlat / 2.0)
    return 2.0 * WGS84_A * WGS84_A * (1.0 - WGS84_E2) * band * (dlon / (2.0 * np.pi)) * np.pi


def llh2xyz_np(lat_deg, lon_deg, h) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Geodetic → ECEF on WGS84 (raster_crs.py:282-296 llh2xyz semantics)."""
    lat = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    lon = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    h = np.asarray(h, dtype=np.float64)
    sin_lat, cos_lat = np.sin(lat), np.cos(lat)
    n = WGS84_A / np.sqrt(1.0 - WGS84_E2 * sin_lat * sin_lat)
    x = (n + h) * cos_lat * np.cos(lon)
    y = (n + h) * cos_lat * np.sin(lon)
    z = (n * (1.0 - WGS84_E2) + h) * sin_lat
    return x, y, z


def xyz2llh_np(x, y, z) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ECEF → geodetic, exact closed form (Vermeille 2002, the same published
    algorithm the reference implements at raster_crs.py:239-279)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    a2 = WGS84_A * WGS84_A
    e2 = WGS84_E2
    e4 = e2 * e2
    p = (x * x + y * y) / a2
    q = (1.0 - e2) * z * z / a2
    r = (p + q - e4) / 6.0
    # r*r*r, not r**3: npy pow differs from chained multiply by an ulp,
    # and the SQL twin uses multiplication — k-amplification makes that a
    # 1e-9 height jitter (see plans/regeoloc.py)
    s = e4 * p * q / (4.0 * r * r * r)
    # math.cbrt (glibc scalar) rather than np.cbrt: numpy ships its own
    # cbrt that strays ~1.5 ulp from the C library's on some inputs, and the
    # k-amplification turns that into 1e-9 of height — enough to flip a
    # rounding boundary against the DuckDB twin (which uses glibc cbrt)
    _arg = 1.0 + s + np.sqrt(s * (2.0 + s))
    t = np.fromiter((math.cbrt(v) for v in np.atleast_1d(_arg)),
                    dtype=np.float64, count=np.atleast_1d(_arg).size)
    t = t.reshape(np.shape(_arg)) if np.ndim(_arg) else t[0]
    u = r * (1.0 + t + 1.0 / t)
    v = np.sqrt(u * u + e4 * q)
    w = e2 * (u + v - q) / (2.0 * v)
    k = np.sqrt(u + v + w * w) - w
    d = k * np.sqrt(x * x + y * y) / (k + e2)
    hyp = np.sqrt(d * d + z * z)
    lat = 2.0 * np.arctan2(z, d + hyp)
    h = (k + e2 - 1.0) / k * hyp
    lon = np.arctan2(y, x)
    return np.rad2deg(lat), np.rad2deg(lon), h


def haversine_m_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters (spherical, mean radius)."""
    r = 6371008.8
    p1, p2 = np.deg2rad(lat1), np.deg2rad(lat2)
    dphi = p2 - p1
    dlmb = np.deg2rad(lon2) - np.deg2rad(lon1)
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * r * np.arcsin(np.sqrt(a))


# ----------------------------------------------------- column expressions ---
# JVM-side (whole-stage codegen) twins of the numpy kernels, plus SQL string
# builders emitting the SAME formulas for the DuckDB oracle. Trig libm can
# differ by ~1 ulp across engines, so queries using these round outputs.


def llh2xyz_cols(lat_deg: Column, lon_deg: Column, h: Column):
    """Geodetic → ECEF (raster_crs.py:282-296), as three Column exprs."""
    lat = F.radians(lat_deg)
    lon = F.radians(lon_deg)
    sin_lat, cos_lat = F.sin(lat), F.cos(lat)
    n = WGS84_A / F.sqrt(1.0 - WGS84_E2 * sin_lat * sin_lat)
    x = (n + h) * cos_lat * F.cos(lon)
    y = (n + h) * cos_lat * F.sin(lon)
    z = (n * (1.0 - WGS84_E2) + h) * sin_lat
    return x, y, z


def llh2xyz_sql(lat_sql: str, lon_sql: str, h_sql: str):
    lat, lon, h = f"radians({lat_sql})", f"radians({lon_sql})", f"({h_sql})"
    n = f"({WGS84_A!r} / sqrt(1.0 - {WGS84_E2!r} * sin({lat}) * sin({lat})))"
    x = f"(({n} + {h}) * cos({lat}) * cos({lon}))"
    y = f"(({n} + {h}) * cos({lat}) * sin({lon}))"
    z = f"(({n} * (1.0 - {WGS84_E2!r}) + {h}) * sin({lat}))"
    return x, y, z


def ellipsoid_normal_sql(lat_sql: str, lon_sql: str):
    lat, lon = f"radians({lat_sql})", f"radians({lon_sql})"
    return (
        f"(cos({lat}) * cos({lon}))",
        f"(cos({lat}) * sin({lon}))",
        f"(sin({lat}))",
    )


def xyz2llh_append(df, x: Column, y: Column, z: Column,
                   out=("lat_o", "lon_o", "h_o")):
    """ECEF → geodetic (Vermeille), materializing each intermediate as a
    NAMED column. The single-expression form duplicates the (t, u, v, k, d)
    subtrees combinatorially — an ~MB expression tree that stalls Catalyst
    codegen (and its SQL twin); the chained form is linear."""
    a2 = WGS84_A * WGS84_A
    e2, e4 = WGS84_E2, WGS84_E2 * WGS84_E2
    df = (
        df.withColumn("_gx", x).withColumn("_gy", y).withColumn("_gz", z)
        .withColumn("_p", (F.col("_gx") * F.col("_gx") + F.col("_gy") * F.col("_gy")) / a2)
        .withColumn("_q", (1.0 - e2) * F.col("_gz") * F.col("_gz") / a2)
        .withColumn("_r", (F.col("_p") + F.col("_q") - e4) / 6.0)
        .withColumn("_s", e4 * F.col("_p") * F.col("_q") / (4.0 * F.col("_r") * F.col("_r") * F.col("_r")))
        .withColumn("_t", F.cbrt(1.0 + F.col("_s") + F.sqrt(F.col("_s") * (2.0 + F.col("_s")))))
        .withColumn("_u", F.col("_r") * (1.0 + F.col("_t") + 1.0 / F.col("_t")))
        .withColumn("_v", F.sqrt(F.col("_u") * F.col("_u") + e4 * F.col("_q")))
        .withColumn("_w", e2 * (F.col("_u") + F.col("_v") - F.col("_q")) / (2.0 * F.col("_v")))
        .withColumn("_k", F.sqrt(F.col("_u") + F.col("_v") + F.col("_w") * F.col("_w")) - F.col("_w"))
        .withColumn("_d", F.col("_k") * F.sqrt(F.col("_gx") * F.col("_gx") + F.col("_gy") * F.col("_gy")) / (F.col("_k") + e2))
        .withColumn("_hyp", F.sqrt(F.col("_d") * F.col("_d") + F.col("_gz") * F.col("_gz")))
        .withColumn(out[0], F.degrees(2.0 * F.atan2(F.col("_gz"), F.col("_d") + F.col("_hyp"))))
        .withColumn(out[1], F.degrees(F.atan2(F.col("_gy"), F.col("_gx"))))
        .withColumn(out[2], (F.col("_k") + e2 - 1.0) / F.col("_k") * F.col("_hyp"))
    )
    return df.drop("_gx", "_gy", "_gz", "_p", "_q", "_r", "_s", "_t", "_u",
                   "_v", "_w", "_k", "_d", "_hyp")


def xyz2llh_layered_sql(src_sql: str, x: str, y: str, z: str,
                        keep: list[str], out=("lat_o", "lon_o", "h_o")) -> str:
    """DuckDB twin of xyz2llh_append: nested subselects with named
    intermediates (linear SQL size)."""
    a2 = WGS84_A * WGS84_A
    e2, e4 = WGS84_E2, WGS84_E2 * WGS84_E2
    kc = ", ".join(keep)
    return f"""
SELECT {kc},
       degrees(2.0 * atan2(_gz, _d + _hyp)) AS {out[0]},
       degrees(atan2(_gy, _gx)) AS {out[1]},
       ((_k + {e2!r} - 1.0) / _k * _hyp) AS {out[2]}
FROM (
 SELECT *, sqrt(_d * _d + _gz * _gz) AS _hyp FROM (
  SELECT *, _k * sqrt(_gx * _gx + _gy * _gy) / (_k + {e2!r}) AS _d FROM (
   SELECT *, sqrt(_u + _v + _w * _w) - _w AS _k FROM (
    SELECT *, {e2!r} * (_u + _v - _q) / (2.0 * _v) AS _w FROM (
     SELECT *, sqrt(_u * _u + {e4!r} * _q) AS _v FROM (
      SELECT *, _r * (1.0 + _t + 1.0 / _t) AS _u FROM (
       SELECT *, cbrt(1.0 + _s + sqrt(_s * (2.0 + _s))) AS _t FROM (
        SELECT *, {e4!r} * _p * _q / (4.0 * _r * _r * _r) AS _s FROM (
         SELECT *, (_p + _q - {e4!r}) / 6.0 AS _r FROM (
          SELECT {kc}, ({x}) AS _gx, ({y}) AS _gy, ({z}) AS _gz,
                 (({x}) * ({x}) + ({y}) * ({y})) / {a2!r} AS _p,
                 (1.0 - {e2!r}) * ({z}) * ({z}) / {a2!r} AS _q
          FROM ({src_sql})
)))))))))
)
"""
