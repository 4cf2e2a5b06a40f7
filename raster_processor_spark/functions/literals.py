"""SQL literal formatting for the Spark-side expression strings."""

from __future__ import annotations

import math


def sql_double(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal that parses back to the same
    bits: the shortest round-trip repr plus the ``D`` suffix (a bare
    ``1.40625`` is a DECIMAL in Spark SQL, which changes the arithmetic).
    Exponent forms such as ``1e-05D`` parse as doubles too. A non-finite
    value has no SQL literal (``infD`` would parse as a column name), so it
    raises here, before any plan is built."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL double literal for {x!r}")
    return f"{x!r}D"
