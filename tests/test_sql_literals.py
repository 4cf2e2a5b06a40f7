"""``sql_double``: the one formatter of Spark SQL DOUBLE literals."""

from __future__ import annotations

import math
import struct

import pytest

from raster_processor_spark.functions.literals import sql_double

# the extremes of the double range, exponent forms and an inexact decimal
EDGE_DOUBLES = [1e-05, 1e16, 5e-324, 0.1, 1.7976931348623157e308]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_sql_double_round_trips_bit_exact(spark, ansi):
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        sel = ", ".join(f"{sql_double(x)} AS v{i}" for i, x in enumerate(EDGE_DOUBLES))
        df = spark.sql(f"SELECT {sel}")
        assert {t for _, t in df.dtypes} == {"double"}
        row = df.collect()[0]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    for x, got in zip(EDGE_DOUBLES, row):
        assert struct.pack("<d", got) == struct.pack("<d", x), (x, got)


@pytest.mark.parametrize("x", [math.inf, -math.inf, math.nan])
def test_sql_double_rejects_non_finite(x):
    with pytest.raises(ValueError):
        sql_double(x)
