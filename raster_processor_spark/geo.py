"""Deterministic georeferencing of table keys — triplet-identical in Spark,
DuckDB SQL, and numpy.

The engine's input rows (image+caption / document rows) carry no lat/lon; the
north star georeferences each row deterministically from its key/phash
(FIXTURES.md F1: "lat = f(phash), lon = g(phash) with a skewed component").
These functions are the single source of truth: the same integer arithmetic is
emitted as a Spark Column, as an ANSI-SQL string for the DuckDB oracle, and as
a numpy kernel for golden tests — so join rows and tile ids match bit-for-bit.

Skew: rows with key % 10 == 0 (~10%) land in a narrow hot box (a few cells at
res 7-9), exercising the salted-repartition path the north rule demands.

All arithmetic stays in [0, 2^45) before division → no int64 overflow in any
engine, and results have at most 6 decimal digits → exactly representable
transformations in double everywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from raster_processor_spark.functions.literals import sql_double

# LCG-style mixing constants (coprime with the moduli)
_A_LAT = 179_426_549
_A_LON = 32_452_867
_KEY_MOD = 1_000_003  # prime; keeps products < 2^48
_LAT_MOD = 120_000_000  # lat span [-60, 60) in microdegrees
_LON_MOD = 360_000_000  # lon span [-180, 180) in microdegrees

# hot box: ~1.2deg x 2.4deg around (10, 20) — a handful of res-7..9 cells
_HOT_LAT_MOD = 1_200_000
_HOT_LON_MOD = 2_400_000
_HOT_LAT0 = 10.0
_HOT_LON0 = 20.0


def lat_col(key: Column) -> Column:
    k = F.pmod(key, F.lit(_KEY_MOD))
    cold = F.pmod(k * _A_LAT, F.lit(_LAT_MOD)) / 1e6 - 60.0
    hot = F.pmod(k * _A_LAT, F.lit(_HOT_LAT_MOD)) / 1e6 + _HOT_LAT0
    return F.when(F.pmod(key, F.lit(10)) == 0, hot).otherwise(cold)


def lon_col(key: Column) -> Column:
    k = F.pmod(key, F.lit(_KEY_MOD))
    cold = F.pmod(k * _A_LON, F.lit(_LON_MOD)) / 1e6 - 180.0
    hot = F.pmod(k * _A_LON, F.lit(_HOT_LON_MOD)) / 1e6 + _HOT_LON0
    return F.when(F.pmod(key, F.lit(10)) == 0, hot).otherwise(cold)


def lat_sql(key_sql: str) -> str:
    k = f"(({key_sql}) % {_KEY_MOD})"
    cold = f"(({k} * {_A_LAT}) % {_LAT_MOD}) / 1e6 - 60.0"
    hot = f"(({k} * {_A_LAT}) % {_HOT_LAT_MOD}) / 1e6 + {_HOT_LAT0}"
    return f"(CASE WHEN ({key_sql}) % 10 = 0 THEN {hot} ELSE {cold} END)"


def lon_sql(key_sql: str) -> str:
    k = f"(({key_sql}) % {_KEY_MOD})"
    cold = f"(({k} * {_A_LON}) % {_LON_MOD}) / 1e6 - 180.0"
    hot = f"(({k} * {_A_LON}) % {_HOT_LON_MOD}) / 1e6 + {_HOT_LON0}"
    return f"(CASE WHEN ({key_sql}) % 10 = 0 THEN {hot} ELSE {cold} END)"


def lat_sql_spark(key_sql: str) -> str:
    """Spark-dialect twin of lat_col — pmod (bit-equal to lat_col's pmod on
    any sign) and D-suffixed literals (a bare ``60.0`` parses as DECIMAL in
    Spark SQL, unlike DuckDB). Exists so base-table projections can be
    assembled as ONE selectExpr py4j call instead of ~60 Column round trips
    (~150 ms per pixc_points build, measured); the parsed plan is the same
    expression tree the Column builders produced."""
    k = f"pmod({key_sql}, {_KEY_MOD})"
    cold = f"pmod({k} * {_A_LAT}, {_LAT_MOD}) / 1e6 - 60.0D"
    hot = f"pmod({k} * {_A_LAT}, {_HOT_LAT_MOD}) / 1e6 + {sql_double(_HOT_LAT0)}"
    return f"(CASE WHEN pmod({key_sql}, 10) = 0 THEN {hot} ELSE {cold} END)"


def lon_sql_spark(key_sql: str) -> str:
    k = f"pmod({key_sql}, {_KEY_MOD})"
    cold = f"pmod({k} * {_A_LON}, {_LON_MOD}) / 1e6 - 180.0D"
    hot = f"pmod({k} * {_A_LON}, {_HOT_LON_MOD}) / 1e6 + {sql_double(_HOT_LON0)}"
    return f"(CASE WHEN pmod({key_sql}, 10) = 0 THEN {hot} ELSE {cold} END)"


def lat_np(key: np.ndarray) -> np.ndarray:
    key = np.asarray(key, dtype=np.int64)
    k = key % _KEY_MOD
    cold = (k * _A_LAT) % _LAT_MOD / 1e6 - 60.0
    hot = (k * _A_LAT) % _HOT_LAT_MOD / 1e6 + _HOT_LAT0
    return np.where(key % 10 == 0, hot, cold)


def lon_np(key: np.ndarray) -> np.ndarray:
    key = np.asarray(key, dtype=np.int64)
    k = key % _KEY_MOD
    cold = (k * _A_LON) % _LON_MOD / 1e6 - 180.0
    hot = (k * _A_LON) % _HOT_LON_MOD / 1e6 + _HOT_LON0
    return np.where(key % 10 == 0, hot, cold)
