"""Skew handling and snapshot-layer semantics tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from raster_processor_spark import datagen
from raster_processor_spark.plans.images_pipeline import N_SALT, georef_tiles
from raster_processor_spark.sources.snapshots import SnapshotStore


def test_hot_cells_exist_and_salting_bounds_partitions(spark):
    """~10% of rows land in a few hot cells by construction; after the
    salted repartition no single task owns a hot cell."""
    images = datagen.images_df(spark, 20_000, partitions=16)
    tiles = georef_tiles(images)

    # skew exists: top cell7 holds >> uniform share
    top = (
        tiles.groupBy("cell7").count().orderBy(F.col("count").desc()).limit(1).collect()
    )[0]
    n_cells = tiles.select("cell7").distinct().count()
    assert top["count"] > 5 * (20_000 / n_cells), "hot-cell skew missing"

    # salted repartition: rows of the hot cell spread across many partitions
    parts = (
        tiles.repartition(32, "cell7", "salt")
        .where(F.col("cell7") == top["cell7"])
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(parts) >= min(N_SALT, 8), f"hot cell landed in {len(parts)} partitions"
    biggest = max(p["count"] for p in parts)
    assert biggest < top["count"] * 0.5, "salting failed to split the hot cell"


def test_hot_polygon_join_task_sizes_stay_bounded(spark):
    """Join-side skew (north rule: skew handled explicitly): ONE polygon
    contains ~80% of all points. The two-phase pip join broadcasts the
    polygon dim, so the fact side NEVER shuffles on poly_id — the hot
    polygon's candidate pairs stay spread across the input partitions
    (bounded task sizes), and the downstream zonal groupBy combines the hot
    key map-side (partial aggregation), so shuffle volume per key is
    O(partitions), not O(rows)."""
    from raster_processor_spark import polygons as pg
    from raster_processor_spark.operators import spatial_join as sj
    from raster_processor_spark.queries import N_POLYS

    c = pg.polygons_np(N_POLYS)[0].mean(axis=0)  # (lon, lat) centroid
    hot_lon, hot_lat = float(c[0]), float(c[1])
    n, parts = 40_000, 16
    hot = F.col("id") % 5 < 4  # 80% of points in a 0.05-deg blob inside poly 0
    jl = (F.pmod(F.col("id") * 2654435761, F.lit(1000)) - 500) / 10000.0
    jo = (F.pmod(F.col("id") * 2246822519, F.lit(1000)) - 500) / 10000.0
    pts = (
        spark.range(n)
        .repartition(parts)
        .select(
            F.col("id").alias("key"),
            F.when(hot, hot_lat + jl)
            .otherwise(F.pmod(F.col("id") * 48611, F.lit(1000)) / 10.0 - 50.0)
            .alias("lat"),
            F.when(hot, hot_lon + jo)
            .otherwise(F.pmod(F.col("id") * 104729, F.lit(3200)) / 10.0 - 160.0)
            .alias("lon"),
        )
    )
    joined = sj.point_in_polygon_join(
        pts, N_POLYS, "lat", "lon", "key"
    )
    per_poly = {
        r.poly_id: r.c
        for r in joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert max(per_poly.values()) >= 0.75 * (0.8 * n), "fixture is not skewed"

    # bounded task-size spread: the hot polygon's pairs remain distributed
    # over (nearly) all input partitions, no partition owns more than 3x
    # the mean
    counts = [
        r.c
        for r in joined.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert len(counts) >= parts // 2, f"pairs collapsed to {len(counts)} partitions"
    assert max(counts) <= 3 * (sum(counts) / len(counts)), (
        f"task-size spread unbounded: max={max(counts)} mean={sum(counts)/len(counts):.0f}"
    )

    # the zonal rollup must partial-aggregate the hot key before its
    # exchange (map-side combine — the reason groupBy skew is benign here)
    zonal = joined.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pix"))
    plan = zonal._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan[:1200]


def test_snapshot_time_travel_and_parent_chain(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    df1 = spark.range(0, 100).withColumn("v", F.lit(1))
    df2 = spark.range(0, 50).withColumn("v", F.lit(2))
    s1 = store.write(df1, "t")
    s2 = store.write(df2, "t")
    # latest points to s2; s1 still readable (time travel)
    assert store.latest_snapshot("t") == s2
    assert store.read(spark, "t").count() == 50
    assert store.read(spark, "t", snap_id=s1).count() == 100
    # parent chain recorded
    m2 = store.manifest("t", s2)
    assert m2["parent"] == s1
    assert store.manifest("t", s1)["parent"] is None
    # manifests carry metrics + partition lineage rows
    assert m2["row_count"] == 50
    assert all(p["rows"] > 0 for p in m2["partitions"])


def _jobs_run_by(spark, fn):
    """(fn's result, ids of the Spark jobs it ran)."""
    group = "snapshot-test-jobs"
    sc = spark.sparkContext
    sc.setJobGroup(group, "jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_uncommitted_snapshot_is_ignored_and_recomputed(spark, tmp_path, monkeypatch):
    """A crash between the data write and the _latest rename leaves an
    orphaned snap-* directory: readers never see it and resume_or_compute
    computes the stage again."""
    import os

    from raster_processor_spark.sources import snapshots

    store = SnapshotStore(str(tmp_path))
    df = spark.range(0, 40).selectExpr("id", "id * 2 AS v")

    def crash(*_args):
        raise RuntimeError("crash before the commit rename")

    with monkeypatch.context() as m:
        m.setattr(snapshots.os, "replace", crash)
        try:
            store.write(df, "t")
        except RuntimeError:
            pass
    orphans = os.listdir(os.path.join(str(tmp_path), "t"))
    assert [d for d in orphans if d.startswith("snap-")] and "_latest" not in orphans
    assert not store.has("t") and store.manifest("t") is None

    calls = []

    def compute():
        calls.append(1)
        return spark.range(0, 10).selectExpr("id", "id * 3 AS v")

    got = store.resume_or_compute(spark, "t", compute)
    assert calls == [1]
    assert sorted(map(tuple, got.collect())) == [(i, 3 * i) for i in range(10)]
    assert store.latest_snapshot("t") not in [d[len("snap-"):] for d in orphans]
    # a second call resumes from the committed snapshot
    store.resume_or_compute(spark, "t", compute)
    assert calls == [1]


def test_truncated_manifest_is_recomputed(spark, tmp_path):
    """A latest snapshot whose manifest cannot be parsed is not a commit:
    resume_or_compute computes the stage again and commits a new snapshot
    with a whole manifest."""
    import json
    import os

    store = SnapshotStore(str(tmp_path))

    def compute():
        return spark.range(0, 25).selectExpr("id", "id * 5 AS v")

    store.resume_or_compute(spark, "t", compute)
    broken = store.latest_snapshot("t")
    path = os.path.join(str(tmp_path), "t", f"snap-{broken}", "manifest.json")
    with open(path, "r+") as f:
        f.truncate(os.path.getsize(path) // 2)
    assert store.manifest("t") is None

    got = store.resume_or_compute(spark, "t", compute)
    snap = store.latest_snapshot("t")
    assert snap != broken
    path = os.path.join(str(tmp_path), "t", f"snap-{snap}", "manifest.json")
    with open(path) as f:
        assert json.load(f)["row_count"] == 25
    assert sorted(map(tuple, got.collect())) == [(i, 5 * i) for i in range(25)]
    # no temporary file is left behind by the atomic writes
    assert not [n for n in os.listdir(os.path.dirname(path)) if ".tmp." in n]


def test_old_snapshot_reads_unchanged_after_newer_commits(spark, tmp_path):
    # each snapshot is read with the schema its own manifest records, so a
    # newer commit with another schema leaves an old snapshot's rows intact
    store = SnapshotStore(str(tmp_path))
    old = spark.range(0, 20).selectExpr("id", "CAST(id AS STRING) AS tag")
    s_old = store.write(old, "t")
    store.write(spark.range(0, 5).selectExpr("id * 1.5D AS x"), "t")
    store.write(spark.range(0, 7).selectExpr("id", "id AS y", "'z' AS tag"), "t")
    back = store.read(spark, "t", s_old)
    assert back.columns == ["id", "tag"]
    assert sorted(map(tuple, back.collect())) == [(i, str(i)) for i in range(20)]
    assert store.read(spark, "t").columns == ["id", "y", "tag"]


def test_snapshot_read_uses_manifest_schema(spark, tmp_path):
    """resume_or_compute returns the schema parquet inference would give
    (all fields nullable) without running the inference job."""
    import os

    store = SnapshotStore(str(tmp_path))

    def compute():
        return spark.range(0, 30).selectExpr(
            "id", "CAST(id AS INT) AS i", "id * 0.5D AS d",
            "CAST(id AS STRING) AS s", "id % 2 = 0 AS b",
        )

    fresh = store.resume_or_compute(spark, "t", compute)
    path = os.path.join(str(tmp_path), "t", f"snap-{store.latest_snapshot('t')}",
                        "data.parquet")
    inferred = spark.read.parquet(path).schema
    assert fresh.schema == inferred
    resumed = store.resume_or_compute(spark, "t", compute)
    assert resumed.schema == inferred
    assert sorted(map(tuple, resumed.collect())) == sorted(map(tuple, compute().collect()))
    # the first read of a new commit runs no job
    store.write(compute(), "t2")
    back, jobs = _jobs_run_by(spark, lambda: store.read(spark, "t2"))
    assert jobs == [], f"snapshot read ran Spark jobs {jobs}"
    assert back.schema == inferred


def test_manifest_records_measured_commit_metrics(spark, tmp_path):
    import glob
    import os

    store = SnapshotStore(str(tmp_path))
    df = spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS n_bytes")
    snap = store.write(df, "t", lineage_cols={"bytes": "n_bytes"},
                       metrics={"stage": "decode"})
    man = store.manifest("t", snap)
    files = glob.glob(os.path.join(str(tmp_path), "t", f"snap-{snap}",
                                   "data.parquet", "part-*.parquet"))
    measured = man["measured"]
    assert measured["bytes_written"] == sum(os.path.getsize(f) for f in files) > 0
    assert measured["rows"] == man["row_count"] == 1000
    assert measured["files"] == len(files) == man["n_partitions"]
    assert measured["write_s"] > 0
    assert man["metrics"] == {"stage": "decode"}


def test_partitioned_snapshot_prunes_cell_ranges(spark, tmp_path):
    """Snapshots partitioned by a coarse cell prefix prune directories at
    plan time for cell predicates (Iceberg-style partition pruning)."""
    from raster_processor_spark.functions.cells import quad_parent_col
    from raster_processor_spark.plans.images_pipeline import georef_tiles

    images = datagen.images_df(spark, 5_000, partitions=8)
    tiles = georef_tiles(images).withColumn(
        "cell2", quad_parent_col(F.col("cell9"), 9, 2)
    )
    store = SnapshotStore(str(tmp_path))
    store.write(tiles, "tiles_part", lineage_cols={"cell": "cell9"},
                partition_by=["cell2"])
    committed = store.read(spark, "tiles_part")
    some_cell = committed.select("cell2").distinct().limit(1).collect()[0][0]
    q = committed.where(F.col("cell2") == some_cell)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell2" in plan.split("PartitionFilters")[1]
    # pruned read touches exactly the rows of that partition dir
    full = committed.where(F.col("cell2") == some_cell).count()
    assert q.count() == full > 0
    # lineage survived the partitioned layout
    man = store.manifest("tiles_part")
    assert man["row_count"] == 5_000
    assert all("/" in p["file"] or "=" in p["file"] for p in man["partitions"])


def test_regeoloc_pipeline_resumes_mid_chain(spark, tmp_path):
    """After stage 1 commits, a fresh run resumes from the snapshot (no
    recompute) and the final output equals the registered regeoloc query."""
    from raster_processor_spark.plans import regeoloc as rg
    from raster_processor_spark.queries import REGISTRY
    from tests.conftest import SF_ORACLE

    store = SnapshotStore(str(tmp_path))

    # first run commits both stages
    out1 = rg.regeoloc_pipeline(spark, SF_ORACLE, store)
    n1 = out1.count()
    assert store.has("regeoloc_cells") and store.has("regeoloc_points")
    cells_snap = store.latest_snapshot("regeoloc_cells")
    points_snap = store.latest_snapshot("regeoloc_points")

    # second run must RESUME: same snapshot ids, no new commits
    out2 = rg.regeoloc_pipeline(spark, SF_ORACLE, store)
    assert store.latest_snapshot("regeoloc_cells") == cells_snap
    assert store.latest_snapshot("regeoloc_points") == points_snap

    # pipeline output matches the one-shot registered query
    q = REGISTRY["regeoloc"].spark(spark, SF_ORACLE)
    a = sorted(map(tuple, out2.collect()))
    b = sorted(map(tuple, q.collect()))
    assert len(a) == n1 and a == b


def test_regeoloc_resumes_after_partial_failure(spark, tmp_path):
    """Mid-chain resume: stage 1 exists (simulating a crash before stage 2
    committed) — the pipeline must consume the existing stage-1 snapshot,
    not recompute it."""
    from raster_processor_spark.plans import regeoloc as rg
    from raster_processor_spark.queries import pixc_points, with_cell
    from tests.conftest import SF_ORACLE
    from pyspark.sql import functions as F

    store = SnapshotStore(str(tmp_path))
    # commit ONLY stage 1 (as the pipeline would), with a marker metric
    pts = with_cell(pixc_points(spark, SF_ORACLE), 7).select(
        "key", "height", "height_w", "cell_id"
    )
    w = F.col("height_w")
    cells = pts.groupBy("cell_id").agg(
        (F.sum(F.round(F.col("height") * 1e5) * w) / F.sum(w) / 1e5).alias("h_new")
    )
    store.write(cells, "regeoloc_cells", metrics={"marker": "pre-crash"})
    snap = store.latest_snapshot("regeoloc_cells")

    out = rg.regeoloc_pipeline(spark, SF_ORACLE, store)
    assert out.count() > 0
    # stage 1 was resumed, not recomputed: still the pre-crash snapshot
    assert store.latest_snapshot("regeoloc_cells") == snap
    assert store.has("regeoloc_points")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on cell_id must SortMergeJoin with ZERO Exchange
    nodes — the co-located-join layout for repeated joins at scale."""
    from pyspark.sql import functions as F

    from raster_processor_spark.queries import doc_points
    from raster_processor_spark.functions.cells import with_cell
    from raster_processor_spark.sources import snapshots as snap
    from tests.conftest import SF_ORACLE

    pts = with_cell(doc_points(spark, SF_ORACLE), 7)
    t1 = snap.bucketed_table(
        spark, "rps_b_pts", str(tmp_path / "b_pts"),
        lambda: pts.select("key", "cell_id", "n_chars"), "cell_id", 8,
    )
    aggd = pts.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_rows"))
    t2 = snap.bucketed_table(
        spark, "rps_b_cells", str(tmp_path / "b_cells"), lambda: aggd, "cell_id", 8
    )

    # disable broadcast so the plan must choose bucket-to-bucket SMJ (at
    # real scale both sides are too big to broadcast — that is the point)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(t1).join(spark.table(t2), "cell_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == pts.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql(f"DROP TABLE IF EXISTS {t1}")
    spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_merge_snapshot_upserts_and_time_travels(spark, tmp_path):
    from raster_processor_spark.sources.snapshots import SnapshotStore, merge_snapshot

    store = SnapshotStore(str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k BIGINT, tag STRING, v DOUBLE"
    )
    store.write(base, "m")
    snap0 = store.latest_snapshot("m")

    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k BIGINT, tag STRING, v DOUBLE"
    )
    out = merge_snapshot(store, spark, "m", updates, ["k"])
    got = sorted((r.k, r.tag, r.v) for r in out.collect())
    assert got == [(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)]

    # previous snapshot still readable (time travel)
    old = sorted((r.k, r.tag, r.v) for r in store.read(spark, "m", snap0).collect())
    assert old == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]


def test_incremental_cell_agg_matches_full_recompute(spark, tmp_path):
    """Folding two deltas must equal aggregating everything at once, and the
    second refresh must NOT rescan the first delta (state is mergeable
    partials, not raw points)."""
    from pyspark.sql import functions as F

    from raster_processor_spark.queries import doc_points
    from raster_processor_spark.functions.cells import with_cell
    from raster_processor_spark.sources.snapshots import SnapshotStore, refresh_cell_agg
    from tests.conftest import SF_ORACLE

    store = SnapshotStore(str(tmp_path))
    pts = with_cell(doc_points(spark, SF_ORACLE), 7)
    d1 = pts.where("key % 2 = 0")
    d2 = pts.where("key % 2 = 1")
    refresh_cell_agg(store, spark, "cagg", d1, sum_cols={"sum_chars": "n_chars"})
    out = refresh_cell_agg(store, spark, "cagg", d2, sum_cols={"sum_chars": "n_chars"})

    full = pts.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("n_chars").alias("sum_chars")
    )
    a = sorted(map(tuple, out.select("cell_id", "n_rows", "sum_chars").collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b
    # two refreshes -> two snapshots (immutable history)
    snaps = sorted(
        p for p in __import__("os").listdir(str(tmp_path) + "/cagg") if p.startswith("snap-")
    )
    assert len(snaps) == 2


def test_knn_corpus_table_tracks_corpus_content(spark, tmp_path):
    """An in-place regeneration of documents.parquet must change the
    committed kNN corpus table identity (content fingerprint in the name):
    bucketed_table early-returns on an existing table, so without the
    fingerprint the old corpus would silently keep serving neighbors."""
    import os

    from raster_processor_spark.queries import _knn_corpus_table

    sf = str(tmp_path / "sfX")
    os.makedirs(sf)

    def write_docs(n):
        spark.range(n).selectExpr(
            "id AS doc_id", "CAST(id % 7 AS INT) AS n_chars",
            "'en' AS lang", "'s' AS source",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf}/documents.parquet"
        )

    write_docs(40)
    t1 = _knn_corpus_table(spark, sf, 4)
    n1 = spark.table(t1).count()
    write_docs(60)  # regenerated IN PLACE, same path
    t2 = _knn_corpus_table(spark, sf, 4)
    n2 = spark.table(t2).count()
    assert t1 != t2, "corpus fingerprint not part of the table identity"
    assert (n1, n2) == (40, 60)


def test_parquet_row_count_sees_nested_rewrites(tmp_path):
    """A part file rewritten in place BELOW the top level of a partitioned
    layout must invalidate the memoized row count (the directory entries
    at the top level do not change)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raster_processor_spark.sources.tables import parquet_row_count

    root = tmp_path / "t.parquet"
    for part in ("p=0", "p=1"):
        (root / part).mkdir(parents=True)
        pq.write_table(pa.table({"x": list(range(10))}), root / part / "a.parquet")
    assert parquet_row_count(str(root)) == 20
    pq.write_table(pa.table({"x": list(range(25))}), root / "p=1" / "a.parquet")
    assert parquet_row_count(str(root)) == 35
