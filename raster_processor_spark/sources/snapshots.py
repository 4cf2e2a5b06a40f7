"""Snapshot/checkpoint layer with per-partition lineage — Iceberg-style
semantics (immutable snapshots, manifest metadata, atomic latest-pointer)
over plain parquet, since no Iceberg runtime jar ships in this sandbox. The
API is deliberately shaped so a real Iceberg catalog drops in behind it.

Layout:
    <root>/<table>/snap-<id>/data.parquet/   immutable snapshot data
    <root>/<table>/snap-<id>/manifest.json   row counts + per-partition
                                             lineage (cell range, rows,
                                             bytes), the schema, measured
                                             commit metrics + caller labels
    <root>/<table>/_latest                   atomic pointer (rename commit)

North-rule contract: "resumable from checkpoint with per-partition lineage
(input cell range, row counts, bytes decoded) and metrics emitted per
commit" — `SnapshotStore.write` records exactly that, and `resume_or_compute`
is the stage-level resume primitive.

Reference analogue: the optional intermediate raster write
(l2pixc_to_raster.py:232-237) is the reference's only checkpoint; here every
stage is one.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def engine_store_root() -> str:
    """Default on-disk root for build-once engine artifacts (IVF indexes,
    static mask layers, bucketed layouts): $SPARK_GRAFT_INDEX_DIR or
    <repo>/spark-warehouse/rps_index. At cluster scale this is a shared
    fault-tolerant store path."""
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            "spark-warehouse",
            "rps_index",
        ),
    )


def _write_atomic(path: str, text: str) -> None:
    """Write ``text`` to a temporary sibling, then rename it over ``path``:
    readers see the old file or the whole new one, never a partial one."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths ---
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snap_dir(self, table: str, snap_id: str) -> str:
        return os.path.join(self._table_dir(table), f"snap-{snap_id}")

    def latest_snapshot(self, table: str) -> str | None:
        ptr = os.path.join(self._table_dir(table), "_latest")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return f.read().strip() or None

    def manifest(self, table: str, snap_id: str | None = None) -> dict | None:
        snap_id = snap_id or self.latest_snapshot(table)
        if snap_id is None:
            return None
        path = os.path.join(self._snap_dir(table, snap_id), "manifest.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            try:
                return json.load(f)
            except ValueError:  # truncated or corrupt: not a commit
                return None

    # ------------------------------------------------------------- write ---
    def write(
        self,
        df: DataFrame,
        table: str,
        lineage_cols: dict[str, str] | None = None,
        metrics: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> str:
        """Commit ``df`` as a new immutable snapshot; returns the snapshot id.

        lineage_cols maps roles to column names, e.g. {"cell": "cell_id",
        "bytes": "n_bytes"} → the manifest records per-partition min/max cell
        (the input cell range), row counts, and bytes processed.

        The manifest's ``measured`` key holds what this commit measured:
        rows, files, bytes_written (the part files' on-disk sizes) and
        write_s; ``metrics`` holds the caller's labels unchanged.

        partition_by writes a hive-partitioned layout (e.g. by a coarse cell
        prefix) so downstream cell-range predicates prune directories at plan
        time — the engine's analogue of Iceberg partition pruning.
        """
        snap_id = uuid.uuid4().hex[:12]
        sdir = self._snap_dir(table, snap_id)
        data_dir = os.path.join(sdir, "data.parquet")
        t0 = time.perf_counter()
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        # per-partition lineage from the committed parquet FOOTERS: row
        # counts from file metadata, cell range from column statistics,
        # bytes from column sums when cheap — zero extra Spark jobs, so the
        # checkpoint layer adds no serial driver work (this was measurable:
        # one lineage job per stage capped scaling efficiency)
        spark = df.sparkSession
        lineage_cols = lineage_cols or {}
        files = sorted(
            glob.glob(os.path.join(data_dir, "part-*.parquet"))
            or glob.glob(os.path.join(data_dir, "**", "part-*.parquet"), recursive=True)
        )
        partitions = self._footer_lineage(data_dir, files, lineage_cols)
        if "bytes" in lineage_cols:
            # exact bytes per committed file: one small agg over the (narrow)
            # committed stats — footers don't store column sums
            b = lineage_cols["bytes"]
            # key by path relative to the snapshot root (basenames collide
            # across hive partition dirs)
            by_file = {
                r["f"].split("data.parquet/", 1)[-1]: r["bytes"]
                for r in spark.read.schema(df.schema).parquet(data_dir)
                .groupBy(F.input_file_name().alias("f"))
                .agg(F.sum(b).alias("bytes"))
                .collect()
            }
            for entry in partitions:
                entry["bytes"] = by_file.get(entry["file"], 0)
        row_count = int(sum(p["rows"] for p in partitions))
        manifest = {
            "snapshot_id": snap_id,
            "table": table,
            "parent": self.latest_snapshot(table),
            "created_unix": time.time(),
            "row_count": row_count,
            "n_partitions": len(partitions),
            "partitions": partitions,
            # measured by this commit: footers and file sizes, no Spark job;
            # write_s spans the data write and the lineage
            "measured": {
                "rows": row_count,
                "files": len(files),
                "bytes_written": sum(os.path.getsize(f) for f in files),
                "write_s": time.perf_counter() - t0,
            },
            "metrics": metrics or {},
            "schema": df.schema.jsonValue(),
        }
        _write_atomic(
            os.path.join(sdir, "manifest.json"),
            json.dumps(manifest, indent=1, default=str),
        )
        # the commit: the latest pointer moves only after the whole manifest
        # is in place
        _write_atomic(os.path.join(self._table_dir(table), "_latest"), snap_id)
        return snap_id

    @staticmethod
    def _footer_lineage(
        data_dir: str, files: list[str], lineage_cols: dict[str, str]
    ) -> list[dict]:
        import pyarrow.parquet as pq

        out: list[dict] = []
        for pid, path in enumerate(files):
            md = pq.ParquetFile(path).metadata
            entry: dict = {"_pid": pid, "rows": md.num_rows,
                           "file": os.path.relpath(path, data_dir)}
            if lineage_cols:
                schema_names = md.schema.names
                idx = {name: i for i, name in enumerate(schema_names)}
                cell = lineage_cols.get("cell")
                cmin = cmax = None
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    if cell and cell in idx:
                        st = g.column(idx[cell]).statistics
                        if st is not None and st.has_min_max:
                            cmin = st.min if cmin is None else min(cmin, st.min)
                            cmax = st.max if cmax is None else max(cmax, st.max)
                if cell:
                    entry["cell_min"] = cmin
                    entry["cell_max"] = cmax
            out.append(entry)
        return out

    # -------------------------------------------------------------- read ---
    def read(self, spark: SparkSession, table: str, snap_id: str | None = None) -> DataFrame:
        snap_id = snap_id or self.latest_snapshot(table)
        if snap_id is None:
            raise FileNotFoundError(f"no snapshot for table {table!r}")
        path = os.path.join(self._snap_dir(table, snap_id), "data.parquet")
        # committed snapshots are immutable and their manifest records the
        # schema: reading with it skips parquet's schema-inference job (a
        # partitioned layout's partition columns keep their written types).
        # Manifests without a schema fall back to the memoized inference.
        schema = (self.manifest(table, snap_id) or {}).get("schema")
        if schema is not None:
            return spark.read.schema(StructType.fromJson(schema)).parquet(path)
        from raster_processor_spark.sources.tables import read_parquet

        return read_parquet(spark, path)

    def has(self, table: str) -> bool:
        return self.latest_snapshot(table) is not None

    # ------------------------------------------------------------ resume ---
    def resume_or_compute(
        self,
        spark: SparkSession,
        table: str,
        compute,
        lineage_cols: dict[str, str] | None = None,
        metrics: dict | None = None,
        force: bool = False,
    ) -> DataFrame:
        """The stage-level checkpoint primitive: return the committed
        snapshot if one exists (resume), else compute → commit → read back.
        Reading back the committed files makes downstream stages consume the
        checkpoint, not the live plan (cheap re-scan, no recompute on
        lineage replay). A latest snapshot whose manifest is missing or
        unreadable counts as not committed, and the stage is recomputed."""
        if not force and self.manifest(table) is not None:
            return self.read(spark, table)
        df = compute()
        self.write(df, table, lineage_cols=lineage_cols, metrics=metrics)
        return self.read(spark, table)


# -------------------------------------------------------- bucketed tables ---
# Co-located joins: two tables bucketed (and sorted) on the same key join
# with NO shuffle on either side — the physical plan has zero Exchange
# nodes under the SortMergeJoin. This is the storage-layout half of the
# 100 TB join story (the reference re-reads rasters per granule and joins
# by cell; at scale you bucket both sides by cell_id once at write time and
# every downstream join is exchange-free).


def bucketed_table(
    spark: SparkSession,
    name: str,
    path: str,
    build,
    bucket_col: str,
    n_buckets: int,
) -> str:
    """Build-once / join-many bucketed table: materialize ``build()`` as a
    bucketed+sorted parquet table at ``path`` the first time, and on every
    later session just re-register the existing files with the bucket spec
    (CREATE TABLE ... CLUSTERED BY ... LOCATION — the in-memory catalog
    forgets between sessions, the data layout does not). Joins between two
    tables bucketed on the same key run with ZERO Exchange nodes — the
    write-time layout replaces the run-time shuffle, which is the 100 TB
    strategy for any join keyed on the tiling (bucket both sides by cell
    once, join exchange-free forever after).

    The bucket count is EMBEDDED in both the catalog name and the on-disk
    path: a changed n_buckets (or bucketing logic) can therefore never
    re-register a stale file layout under a mismatched bucket spec — which
    would make the exchange-free SortMergeJoin silently drop matching rows.
    On the re-register path the declared spec is additionally validated
    against the bucket ids encoded in the part-file names."""
    import re

    safe = re.sub(r"[^A-Za-z0-9_]", "_", name) + f"_b{n_buckets}"
    path = path.rstrip("/") + f"_b{n_buckets}"
    if spark.catalog.tableExists(safe):
        return safe
    if os.path.isdir(path) and any(
        f.startswith("part-") for f in os.listdir(path)
    ):
        # Spark bucketed files are named part-XXXXX-<uuid>_<bucketid>.c000…;
        # a file whose bucket id falls outside the declared spec means the
        # on-disk layout was written under a different bucket count
        for f in os.listdir(path):
            m = re.match(r"part-\d+-[0-9a-f-]+_(\d+)\.", f)
            if m and int(m.group(1)) >= n_buckets:
                raise ValueError(
                    f"bucketed_table {safe!r}: on-disk file {f!r} encodes "
                    f"bucket id {m.group(1)} >= declared {n_buckets} buckets"
                    " — the layout at this path was written under a"
                    " different bucket spec"
                )
        schema = spark.read.parquet(path).schema
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {safe} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    else:
        (
            build()
            .write.format("parquet")
            .option("path", path)
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .mode("overwrite")
            .saveAsTable(safe)
        )
    return safe


def merge_snapshot(
    store: "SnapshotStore",
    spark,
    table: str,
    updates,
    key_cols: list[str],
    lineage_cols: dict[str, str] | None = None,
):
    """MERGE (upsert) into a snapshot table: rows in ``updates`` replace
    current rows with the same key; everything else carries over — committed
    as a NEW immutable snapshot (copy-on-write, like the reference emitting
    a fresh product per granule rather than editing in place). The previous
    snapshot stays readable (time travel via read(snap_id)).

    Plan shape: one left_anti join current⟕updates on the key + union —
    a single shuffle on the key at any scale."""
    from pyspark.sql import functions as F  # noqa: F401

    if store.has(table):
        current = store.read(spark, table)
        kept = current.join(updates.select(*key_cols), key_cols, "left_anti")
        merged = kept.unionByName(updates)
    else:
        merged = updates
    store.write(merged, table, lineage_cols=lineage_cols)
    return store.read(spark, table)


def refresh_cell_agg(
    store: "SnapshotStore",
    spark,
    table: str,
    delta_points,
    cell_col: str = "cell_id",
    sum_cols: dict[str, str] | None = None,
):
    """Incremental aggregate maintenance (continuous rollup): fold a DELTA
    point set into a stored per-cell aggregate without touching the points
    already aggregated — the arriving-tile path (reference: granules arrive
    per pass and the product is re-emitted; at 100 TB you re-aggregate the
    delta, never the history).

    The stored state keeps MERGEABLE partials only (counts and sums — never
    averages); readers derive ratios at query time. One groupBy over the
    delta + one key-join merge with the stored state per refresh.
    """
    from pyspark.sql import functions as F

    sum_cols = sum_cols or {}
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(expr_col).alias(out) for out, expr_col in sum_cols.items()
    ]
    delta_agg = delta_points.groupBy(cell_col).agg(*aggs)
    if store.has(table):
        cur = store.read(spark, table)
        merged = (
            cur.unionByName(delta_agg)
            .groupBy(cell_col)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[F.sum(out).alias(out) for out in sum_cols],
            )
        )
    else:
        merged = delta_agg
    store.write(merged, table, lineage_cols={"cell": cell_col})
    return store.read(spark, table)
