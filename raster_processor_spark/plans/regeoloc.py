"""Taylor re-geolocation pipeline (the reference's second entry point):
J4 height feedback → llh2ecef → nearest-sensor gather → per-point
height-constrained update (geoloc_raster.py:90-194, max_iter_grad=1 — a
single first-order step).

Spark-first composition:
  * cell heights: ONE integerized-weighted groupBy (bit-exact, broadcast
    back to points — the J4 feedback);
  * nearest-sensor gather: day-bucketed union window — sensors are
    replicated into neighbor buckets (bucket width > the max sensor gap, so
    the true nearest is always inside the ±1-bucket horizon) and each point
    takes the closer of (last sensor before, first sensor after) with two
    running last/first(ignorenulls) windows PARTITIONED BY BUCKET — never a
    single-partition global window. Shuffle = points + 3x sensors.
  * update step: p' = p + (h_new − h)·n̂ (ellipsoid normal), xyz2llh(p')
    — all whole-stage-codegen column expressions (functions/geodesy.py),
    no Python in the loop;
  * slant range |p' − nadir| against the gathered sensor (the quantity the
    reference re-computes per iteration, recompute_range=True).

Outputs round lat/lon to 1e-4 deg and h/range to mm/cm: Spark (JVM) and
DuckDB (libm) trig differ by ~ulps, so the comparison grid must be coarse
enough to absorb them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from raster_processor_spark.sources.tables import read_parquet as _read_parquet

from raster_processor_spark.functions import geodesy as geod

BUCKET_US = 86_400_000_000  # 1 day >> max sensor gap (5.4 h at sf0.001)
TIME_SALT = 7919
NADIR_H = 873_000.0  # nominal orbit altitude, m


def _sensors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TVP analogue: one nadir record per event — deterministic nadir
    lat/lon from event_id, ECEF via llh2xyz."""
    ev = _read_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("stus"),
        F.col("event_id"),
    )
    nlat = (F.pmod(F.col("event_id") * 37, F.lit(12000)) / 100.0 - 60.0)
    nlon = (F.pmod(F.col("event_id") * 73, F.lit(36000)) / 100.0 - 180.0)
    sx, sy, sz = geod.llh2xyz_cols(nlat, nlon, F.lit(NADIR_H))
    return ev.select(
        "stus", sx.alias("sx"), sy.alias("sy"), sz.alias("sz")
    )


def _sensors_sql() -> str:
    nlat = "((event_id * 37) % 12000 / 100.0 - 60.0)"
    nlon = "((event_id * 73) % 36000 / 100.0 - 180.0)"
    sx, sy, sz = geod.llh2xyz_sql(nlat, nlon, f"{NADIR_H!r}")
    return f"""
SELECT epoch_us(ts) AS stus, {sx} AS sx, {sy} AS sy, {sz} AS sz
FROM events
"""


def nearest_sensor_gather(pts: DataFrame, sens: DataFrame) -> DataFrame:
    """pts(tus, ...) ⟕ nearest sens(stus, sx, sy, sz) by |tus − stus|.

    Day-bucketed union-window nearest join (exact; see module docstring)."""
    # a point's prev-candidate outside its own bucket can only be the LAST
    # sensor of the previous bucket, and its next-candidate the FIRST sensor
    # of the following bucket — so only those boundary sensors replicate
    # across buckets (2 rows per bucket, not 3x the whole sensor table)
    base = sens.select(
        F.expr(f"stus div {BUCKET_US}").alias("bucket"),
        F.col("stus").alias("t"),
        F.struct(
            F.col("stus").alias("t"),
            F.col("sx").alias("x"), F.col("sy").alias("y"), F.col("sz").alias("z"),
        ).alias("sv"),
        F.lit(0).alias("is_fact"),
    )
    bounds_per_bucket = base.groupBy("bucket").agg(
        F.min("sv").alias("first_sv"), F.max("sv").alias("last_sv")
    )
    firsts = bounds_per_bucket.select(
        (F.col("bucket") - 1).alias("bucket"),
        F.col("first_sv.t").alias("t"),
        F.col("first_sv").alias("sv"),
        F.lit(0).alias("is_fact"),
    )
    lasts = bounds_per_bucket.select(
        (F.col("bucket") + 1).alias("bucket"),
        F.col("last_sv.t").alias("t"),
        F.col("last_sv").alias("sv"),
        F.lit(0).alias("is_fact"),
    )
    s3 = base.unionByName(firsts).unionByName(lasts)
    f = pts.select(
        F.expr(f"tus div {BUCKET_US}").alias("bucket"),
        F.col("tus").alias("t"),
        F.lit(None).cast(s3.schema["sv"].dataType).alias("sv"),
        F.lit(1).alias("is_fact"),
        *[c for c in pts.columns],
    )
    s3full = s3
    for c in pts.columns:
        s3full = s3full.withColumn(c, F.lit(None).cast(pts.schema[c].dataType))
    u = f.unionByName(s3full)
    fwd = (
        Window.partitionBy("bucket")
        .orderBy("t", "is_fact")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the "next sensor" uses a REVERSED growing frame: Spark evaluates
    # first() over a shrinking [current, unbounded following] frame by
    # re-scanning the remainder per row (O(n^2) per partition — 100x wall
    # time at 60k rows); last() over the reversed order is incremental O(n)
    bwd = (
        Window.partitionBy("bucket")
        .orderBy(F.col("t").desc(), F.col("is_fact").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = (
        u.withColumn("prev", F.last("sv", ignorenulls=True).over(fwd))
        .withColumn("nxt", F.last("sv", ignorenulls=True).over(bwd))
        .where(F.col("is_fact") == 1)
    )
    take_prev = F.col("nxt").isNull() | (
        F.col("prev").isNotNull()
        & ((F.col("t") - F.col("prev.t")) <= (F.col("nxt.t") - F.col("t")))
    )
    near = F.when(take_prev, F.col("prev")).otherwise(F.col("nxt"))
    return g.select(
        *pts.columns,
        near.getField("x").alias("sx"),
        near.getField("y").alias("sy"),
        near.getField("z").alias("sz"),
    )


def nearest_sensor_gather_sql(pts_sql: str, sens_sql: str, pt_cols: list[str]) -> str:
    """DuckDB twin of nearest_sensor_gather. ``pts_sql`` must expose tus and
    pt_cols; result exposes pt_cols + (sx, sy, sz)."""
    pc = ", ".join(pt_cols)
    pc_u = ", ".join(f"p.{c}" for c in pt_cols)
    return f"""
WITH _pts AS ({pts_sql}),
_sens AS ({sens_sql}),
_sb AS (
  SELECT CAST(stus // {BUCKET_US} AS BIGINT) AS bucket, stus AS t,
         {{'t': stus, 'x': sx, 'y': sy, 'z': sz}} AS sv
  FROM _sens
),
_bb AS (SELECT bucket, MIN(sv) AS first_sv, MAX(sv) AS last_sv FROM _sb GROUP BY 1),
_s3 AS (
  SELECT bucket, t, sv, 0 AS is_fact,
         {", ".join(f"NULL AS {c}" for c in pt_cols)} FROM _sb
  UNION ALL BY NAME
  SELECT bucket - 1 AS bucket, first_sv.t AS t, first_sv AS sv, 0 AS is_fact,
         {", ".join(f"NULL AS {c}" for c in pt_cols)} FROM _bb
  UNION ALL BY NAME
  SELECT bucket + 1 AS bucket, last_sv.t AS t, last_sv AS sv, 0 AS is_fact,
         {", ".join(f"NULL AS {c}" for c in pt_cols)} FROM _bb
),
_f AS (
  SELECT CAST(tus // {BUCKET_US} AS BIGINT) AS bucket, tus AS t,
         CAST(NULL AS STRUCT(t BIGINT, x DOUBLE, y DOUBLE, z DOUBLE)) AS sv,
         1 AS is_fact, {pc_u}
  FROM _pts p
),
_u AS (SELECT * FROM _f UNION ALL BY NAME SELECT * FROM _s3),
_w AS (
  SELECT *,
         last_value(sv IGNORE NULLS) OVER (
           PARTITION BY bucket ORDER BY t, is_fact
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         first_value(sv IGNORE NULLS) OVER (
           PARTITION BY bucket ORDER BY t, is_fact
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM _u
)
SELECT {pc},
       (CASE WHEN nxt IS NULL OR (prev IS NOT NULL
                  AND (t - prev.t) <= (nxt.t - t))
             THEN prev.x ELSE nxt.x END) AS sx,
       (CASE WHEN nxt IS NULL OR (prev IS NOT NULL
                  AND (t - prev.t) <= (nxt.t - t))
             THEN prev.y ELSE nxt.y END) AS sy,
       (CASE WHEN nxt IS NULL OR (prev IS NOT NULL
                  AND (t - prev.t) <= (nxt.t - t))
             THEN prev.z ELSE nxt.z END) AS sz
FROM _w WHERE is_fact = 1
"""


def taylor_step(df: DataFrame) -> DataFrame:
    """(key, lat, lon, height, h_new, sx, sy, sz) → corrected point rows.

    Arrow-batched numpy kernel (geoloc_raster.py:167-188 runs the same math
    through chunked process pools; mapInArrow is the Spark analogue). A
    pure-Column version exists but Catalyst's CollapseProject duplicates the
    Vermeille intermediates combinatorially (~100 s of codegen at 60 k rows)
    — and numpy shares glibc libm with DuckDB, giving bit-identical trig,
    which the JVM does not. mapInArrow (not mapInPandas): the session's
    Arrow batches are small (sized for 4KB image payload rows), so a
    600k-point stage sees ~600 batches — skipping the per-batch
    Arrow→pandas→Arrow conversions is a measured ~2x on this stage, and the
    numpy math is identical (zero-copy column views both ways)."""
    import numpy as np
    import pyarrow as pa

    from raster_processor_spark.functions import geodesy as geod

    schema = (
        "key BIGINT, lat_corr DOUBLE, lon_corr DOUBLE, h_corr DOUBLE, "
        "slant_range_m DOUBLE"
    )

    def run(it):
        for batch in it:
            col = {n: batch.column(n).to_numpy(zero_copy_only=False) for n in batch.schema.names}
            lat = col["lat"]
            lon = col["lon"]
            h = col["height"]
            hn = col["h_new"]
            px, py, pz = geod.llh2xyz_np(lat, lon, h)
            rl = np.deg2rad(lat)
            ro = np.deg2rad(lon)
            nx = np.cos(rl) * np.cos(ro)
            ny = np.cos(rl) * np.sin(ro)
            nz = np.sin(rl)
            dh = hn - h
            qx, qy, qz = px + dh * nx, py + dh * ny, pz + dh * nz
            lat2, lon2, h2 = geod.xyz2llh_np(qx, qy, qz)
            rng = np.sqrt(
                (qx - col["sx"]) ** 2
                + (qy - col["sy"]) ** 2
                + (qz - col["sz"]) ** 2
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(col["key"], type=pa.int64()),
                    pa.array(np.round(lat2, 6)),
                    pa.array(np.round(lon2, 6)),
                    pa.array(np.round(h2, 3)),
                    pa.array(np.round(rng, 3)),
                ],
                ["key", "lat_corr", "lon_corr", "h_corr", "slant_range_m"],
            )

    cols = ["key", "lat", "lon", "height", "h_new", "sx", "sy", "sz"]
    return df.select(*cols).mapInArrow(run, schema)


def collect_track(sens: DataFrame):
    """Collect the sensor track ONCE via Arrow — unsorted — and sort it
    driver-side. orderBy-then-collect paid a range-partitioning sample job
    plus a sort shuffle just to produce arrays the driver can argsort in
    milliseconds; sensor times are unique (events fixture), so np.argsort
    reproduces the orderBy order exactly. Returns (st, sx, sy, sz) numpy
    arrays sorted by time — st[0]/st[-1] also hand the caller the track
    bounds for free (one scan of the sensor table total, instead of a
    collect plus a separate min/max aggregate)."""
    import numpy as np

    stbl = sens.select("stus", "sx", "sy", "sz").toArrow()
    if stbl.num_rows == 0:
        # np.clip(idx-1, 0, n-1) with n == 0 would index an empty array at
        # -1; an empty sensor table means there is nothing to gather — fail
        # loudly (the window form nearest_sensor_gather produces the same
        # empty/null outcome by construction)
        raise ValueError(
            "collect_track: sensor table is empty — no track to gather "
            "against (use nearest_sensor_gather for the general path)"
        )
    st = stbl.column("stus").to_numpy(zero_copy_only=False).astype(np.int64)
    sxa = stbl.column("sx").to_numpy(zero_copy_only=False).astype(np.float64)
    sya = stbl.column("sy").to_numpy(zero_copy_only=False).astype(np.float64)
    sza = stbl.column("sz").to_numpy(zero_copy_only=False).astype(np.float64)
    order = np.argsort(st, kind="stable")
    return st[order], sxa[order], sya[order], sza[order]


def gather_taylor_broadcast(df: DataFrame, sens: DataFrame, track=None) -> DataFrame:
    """Fused nearest-sensor gather + Taylor step in ONE Arrow pass with the
    sensor track as a broadcast variable.

    The reference holds the entire TVP (sensor ephemeris) in memory per
    granule (geoloc_raster.py:90-118 passes full sensor arrays to every
    chunk) — a sensor track is O(orbit records), never corpus-sized, so the
    Spark-first form is a broadcast of four numpy arrays (t, x, y, z sorted
    by t) and an np.searchsorted per Arrow batch. This removes the
    union-window gather's two 700k-row sorts entirely: the whole regeoloc
    tail is one Python stage with zero shuffles. The bucketed union-window
    form (nearest_sensor_gather) remains the general path for a sensor side
    too large to broadcast.

    Nearest rule replicated exactly: prev = last sensor with t <= tus, next
    = first sensor with t > tus (side='right'), take prev iff next is
    missing or (tus - prev.t) <= (next.t - tus) — integer microseconds, so
    the tie comparison is exact and identical to the window/SQL forms
    (sensor times are unique; see events fixture)."""
    import numpy as np
    import pyarrow as pa

    from raster_processor_spark.functions import geodesy as geod

    spark = df.sparkSession
    # Arrow collect, not Row collect: the sensor track is O(orbit records)
    # but a py4j Row materialization of it grows linearly with the table
    # (measured 9.6 s for 1M sensor rows vs 1.4 s via toArrow — the
    # collect was half the query's cost at the 10x scale point). Callers
    # that already collected the track (collect_track) pass it in so the
    # sensor table is scanned exactly once per query.
    st, sxa, sya, sza = track if track is not None else collect_track(sens)
    bc = spark.sparkContext.broadcast((st, sxa, sya, sza))

    schema = (
        "key BIGINT, lat_corr DOUBLE, lon_corr DOUBLE, h_corr DOUBLE, "
        "slant_range_m DOUBLE"
    )

    def run(it):
        stt, bx, by, bz = bc.value
        n = len(stt)
        for batch in it:
            col = {
                nme: batch.column(nme).to_numpy(zero_copy_only=False)
                for nme in batch.schema.names
            }
            tus = col["tus"].astype(np.int64)
            idx = np.searchsorted(stt, tus, side="right")
            has_prev = idx > 0
            has_next = idx < n
            pi = np.clip(idx - 1, 0, n - 1)
            ni = np.clip(idx, 0, n - 1)
            take_prev = ~has_next | (
                has_prev & ((tus - stt[pi]) <= (stt[ni] - tus))
            )
            si = np.where(take_prev, pi, ni)
            sx, sy, sz = bx[si], by[si], bz[si]
            lat = col["lat"]
            lon = col["lon"]
            h = col["height"]
            hn = col["h_new"]
            px, py, pz = geod.llh2xyz_np(lat, lon, h)
            rl = np.deg2rad(lat)
            ro = np.deg2rad(lon)
            nx = np.cos(rl) * np.cos(ro)
            ny = np.cos(rl) * np.sin(ro)
            nz = np.sin(rl)
            dh = hn - h
            qx, qy, qz = px + dh * nx, py + dh * ny, pz + dh * nz
            lat2, lon2, h2 = geod.xyz2llh_np(qx, qy, qz)
            rng = np.sqrt((qx - sx) ** 2 + (qy - sy) ** 2 + (qz - sz) ** 2)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(col["key"], type=pa.int64()),
                    pa.array(np.round(lat2, 6)),
                    pa.array(np.round(lon2, 6)),
                    pa.array(np.round(h2, 3)),
                    pa.array(np.round(rng, 3)),
                ],
                ["key", "lat_corr", "lon_corr", "h_corr", "slant_range_m"],
            )

    cols = ["key", "lat", "lon", "height", "h_new", "tus"]
    return df.select(*cols).mapInArrow(run, schema)


def regeoloc_pipeline(spark: SparkSession, sf_dir: str, store) -> DataFrame:
    """The snapshot-checkpointed re-geolocation job (the reference's second
    entry point as a resumable pipeline): stage 1 commits the per-cell
    height raster, stage 2 commits the gathered+corrected points. Each stage
    is a SnapshotStore.resume_or_compute — a re-run after a crash resumes
    from the last committed snapshot instead of recomputing."""
    from raster_processor_spark.functions.cells import with_cell
    from raster_processor_spark.queries import pixc_points

    def _pts():
        return with_cell(pixc_points(spark, sf_dir), 7).select(
            "key", "lat", "lon", "height", "height_w", "cell_id"
        )

    def stage1():
        pts = _pts()
        w = F.col("height_w")
        return pts.groupBy("cell_id").agg(
            (F.sum(F.floor(F.col("height") * 1e5 + 0.5).cast("double") * w) / F.sum(w) / 1e5).alias("h_new")
        )

    cells = store.resume_or_compute(
        spark, "regeoloc_cells", stage1, lineage_cols={"cell": "cell_id"}
    )

    def stage2():
        pts = _pts()
        sens = _sensors(spark, sf_dir)
        bounds = sens.agg(F.min("stus").alias("t0"), F.max("stus").alias("t1"))
        ptsb = (
            pts.join(F.broadcast(cells), "cell_id")
            .crossJoin(F.broadcast(bounds))
            .withColumn(
                "tus",
                (F.col("t0") + F.pmod(F.col("key") * TIME_SALT, F.col("t1") - F.col("t0"))).cast("long"),
            )
            .select("key", "lat", "lon", "height", "h_new", "tus")
        )
        return taylor_step(nearest_sensor_gather(ptsb, sens))

    return store.resume_or_compute(spark, "regeoloc_points", stage2)
