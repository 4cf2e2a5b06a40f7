"""Driver-style correctness gate: every oracle-checked query must match the
DuckDB oracle on row count, column names, and order-insensitive values at
sf0.01 — a local replica of the driver's CORRECTNESS check, so mismatches
surface here before the driver runs.
"""

from __future__ import annotations

import math

import pytest

from raster_processor_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE

ORACLE_NAMES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value normalization: exact repr (queries pre-round)
        return repr(round(v, 9))
    if isinstance(v, int):
        return str(v)
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return out


def _assert_parity(spark, duck, name):
    spec = REGISTRY[name]
    sdf = spec.spark(spark, SF_ORACLE)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(spec.oracle)
    d_cols = list(rel.columns)
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rows {len(s_rows)} vs {len(d_rows)}"
    # empty==empty parity is a false signal — every gate query must match rows
    assert len(s_rows) > 0, f"{name}: empty result at sf0.01"
    sn = _normalize(s_rows, s_cols)
    dn = _normalize(d_rows, d_cols)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, duck, name):
    _assert_parity(spark, duck, name)


@pytest.mark.parametrize("name", ["knn", "knn_hex", "knn_bucketed"])
def test_oracle_parity_ansi_on(spark, duck, name):
    # a default Spark 4 session runs with ANSI on, while the engine's tuned
    # session turns it off: check these queries under the default too
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        _assert_parity(spark, duck, name)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_hex_encode_matches_oracle_at_rounding_tie(spark, duck):
    # qf is exactly -0.5 here: the oracle's ROUND rounds half away from zero
    # (q = -1), where half-to-even or floor(x + 0.5) would give q = 0
    import numpy as np

    from raster_processor_spark import cellindex as ci
    from raster_processor_spark.functions.cells import hex_cell_expr
    from raster_processor_spark.queries import _hex_assign_sql

    lat, lon = 0.0, -1.2178482240718669
    one = f"SELECT 1::BIGINT AS key, {lat!r}::DOUBLE AS lat, {lon!r}::DOUBLE AS lon"
    want = duck.sql(_hex_assign_sql(7, one)).fetchall()
    got = (
        spark.createDataFrame([(1, lat, lon)], "key BIGINT, lat DOUBLE, lon DOUBLE")
        .selectExpr("key", f"{hex_cell_expr(7)} AS hexcell")
        .collect()
    )
    assert [tuple(r) for r in got] == want == [(1, 8444249318096895)]
    assert ci.hex_encode(np.array([lat]), np.array([lon]), 7)[0] == want[0][1]
