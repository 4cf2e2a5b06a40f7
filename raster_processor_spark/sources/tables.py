"""Schema-memoized parquet reads for the engine's base tables.

``spark.read.parquet(path)`` infers the schema from footers and builds a
fresh file index on EVERY call — measured ~80-105 ms per call on the bench
tables vs 13-16 ms when the schema is supplied. The engine's queries
re-derive their base-table DataFrames per invocation (no plan or result
reuse across queries — the driver contract), so a 42-query bench session
paid that inference cost ~120 times per pass for schemas that cannot have
changed.

The schema of an unchanged file set is pure metadata, so it is memoized
here keyed by the path's on-disk state (mtime_ns + size of the file, or of
every entry below a directory — the same staleness treatment as the corpus
fingerprints on the IVF/bucketed-table artifacts). The DATA path is
untouched: every query still lists and scans the parquet fresh — only the
schema-inference round trip is skipped — and any rewrite of the inputs
(changed mtime/size) re-infers. The memo is bounded at one entry per
distinct path and kind (schema, row count).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# One memo for everything derived from a path's file metadata, keyed by
# (kind, path) and validated against the path's on-disk state.
_PATH_MEMO: dict[tuple[str, str], tuple[object, object]] = {}


def _path_state(path: str):
    """mtime_ns + size of the file, or of the directory and every file and
    subdirectory below it (partitioned layouts nest their part files)."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in dirs + sorted(files):
            full = os.path.join(root, name)
            s = os.stat(full)
            entries.append((os.path.relpath(full, path), s.st_mtime_ns, s.st_size))
    return (st.st_mtime_ns, tuple(entries))


def _memo_get(kind: str, path: str):
    """(the path's on-disk state, the value memoized for it or None)."""
    state = _path_state(path)
    hit = _PATH_MEMO.get((kind, path))
    return state, (hit[1] if hit is not None and hit[0] == state else None)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Drop-in for ``spark.read.parquet(path)`` with the schema memoized
    against the path's on-disk state (see module docstring)."""
    state, schema = _memo_get("schema", path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _PATH_MEMO[("schema", path)] = (state, df.schema)
    return df


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet FOOTERS only — no data scan, no Spark
    job (pyarrow sums row-group counts from file metadata). This is the
    same lineage a snapshot manifest records (sources/snapshots.py), used
    to feed density heuristics without doubling input I/O. Memoized like
    the schema: several queries re-derive it multiple times per
    invocation."""
    state, n = _memo_get("rows", path)
    if n is None:
        import pyarrow.dataset as ds

        n = ds.dataset(path, format="parquet").count_rows()
        _PATH_MEMO[("rows", path)] = (state, n)
    return n


_CONST_DF_MEMO: dict[tuple, DataFrame] = {}


def const_df(spark: SparkSession, key: tuple, rows_fn, schema: str) -> DataFrame:
    """Memoized literal DataFrame — constant rows derived from code, never
    from data (polygon edge tables, ring-offset tables, bbox covers), built
    as a JVM ``LocalRelation``.

    The rows go to the JVM as one ``pyarrow.Table``, which PySpark always
    sends down the Arrow path; ``createDataFrame(list)`` instead plans a
    ``LogicalRDD`` over a Python identity map, so every query over the
    constant started a Python worker to re-read rows the driver already
    held, and a broadcast of it ran a job. A local relation is broadcast
    from the driver with no job: the res-7 grid broadcast-joined to the
    430-row burn cover (noop write, median of 10, local[3] on a 4-core
    host) went from 371-493 ms to 231-262 ms.

    Keyed by (applicationId, *key) so a restarted in-process session never
    sees a relation bound to a stopped context; entries of dead
    applications are dropped on insert, bounding the memo at one session's
    constants."""
    k = (spark.sparkContext.applicationId,) + tuple(key)
    df = _CONST_DF_MEMO.get(k)
    if df is None:
        for stale in [x for x in _CONST_DF_MEMO if x[0] != k[0]]:
            del _CONST_DF_MEMO[stale]
        df = spark.createDataFrame(_arrow_table(rows_fn(), schema))
        _CONST_DF_MEMO[k] = df
    return df


def _arrow_table(rows, schema: str):
    """``rows`` (tuples in the field order of the DDL ``schema``) as a
    pyarrow.Table of the matching Arrow types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, arrow_schema.types)],
        schema=arrow_schema,
    )
