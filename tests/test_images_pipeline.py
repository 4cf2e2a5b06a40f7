"""Golden + resumability tests for the flagship images pipeline.

Golden: a slow-but-obvious single-node numpy implementation computes the
expected tile assignments and point-in-polygon join rows; the Spark pipeline
must match EXACTLY (BASELINE.json: "join output rows and tile assignments
matching the reference semantics"). Captions byte-equal; decodes allclose.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pytest

from raster_processor_spark import cellindex as ci
from raster_processor_spark import codec, datagen, geo
from raster_processor_spark import polygons as pg
from raster_processor_spark.plans import images_pipeline as pl

N_IMAGES = 1_000


@pytest.fixture(scope="module")
def images_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("imgs") / "images.parquet")
    datagen.write_images(spark, N_IMAGES, path, partitions=8)
    return path


def _golden(n):
    """Single-node reference: id → phash → lat/lon → cells + PIP pairs."""
    ids = [f"img_{i:012d}" for i in range(n)]
    phash = np.array(
        [codec.phash64(codec.gen_pixels(i, *codec.dims_for(i))) for i in ids],
        dtype=np.int64,
    )
    key = phash % 1_000_003
    lat, lon = geo.lat_np(key), geo.lon_np(key)
    c9 = ci.quad_encode(lat, lon, 9)
    c8 = ci.quad_parent(c9, 8)
    c7 = ci.quad_parent(c9, 7)
    edges = pg.polygon_edges_np(pl.N_POLYS)
    pairs = set()
    for p in range(pl.N_POLYS):
        # lon-circle containment (antimeridian polygons)
        inside = pg.pip_ray_cast_np(lon, lat, edges[p]) | \
            pg.pip_ray_cast_np(lon + 360.0, lat, edges[p])
        for i in np.nonzero(inside)[0]:
            pairs.add((ids[i], p))
    return ids, c9, c8, c7, pairs


def test_pipeline_matches_golden(spark, images_path, tmp_path):
    out = pl.run_pipeline(spark, images_path, str(tmp_path / "snap"))
    ids, c9, c8, c7, gold_pairs = _golden(N_IMAGES)

    tiles = {r.image_id: (r.cell9, r.cell8, r.cell7) for r in out["tiles"].collect()}
    assert len(tiles) == N_IMAGES
    for i, iid in enumerate(ids):
        assert tiles[iid] == (c9[i], c8[i], c7[i]), iid

    got_pairs = {(r.image_id, r.poly_id) for r in out["poly_pairs"].collect()}
    assert got_pairs == gold_pairs
    assert len(got_pairs) > 0

    # captions byte-equal through the engine
    caps = {r.image_id: r.caption for r in out["tiles"].select("image_id", "caption").collect()}
    for iid in ids[:50]:
        assert caps[iid] == codec.caption_for(iid)

    # decode invariants: raw exact, q8 allclose (PSNR >= 40)
    img_rows = spark.read.parquet(images_path).limit(64).collect()
    for r in img_rows:
        px = codec.decode(bytes(r.bytes), r.w, r.h, r.fmt)
        truth = codec.gen_pixels(r.image_id, r.w, r.h)
        if r.fmt == "raw":
            assert np.array_equal(px, truth)
        else:
            assert codec.psnr(truth, px) >= 40.0


def test_resume_skips_completed_stages(spark, images_path, tmp_path):
    root = str(tmp_path / "snap2")
    out1 = pl.run_pipeline(spark, images_path, root)
    zonal1 = sorted(map(tuple, out1["zonal"].collect()))

    store = pl.SnapshotStore(root)
    snaps_before = {t: store.latest_snapshot(t) for t in
                    ("tiles", "stats", "cell_aggs", "poly_pairs", "zonal")}

    # re-run: every stage must resume (same snapshot ids, nothing recomputed)
    out2 = pl.run_pipeline(spark, images_path, root)
    snaps_after = {t: store.latest_snapshot(t) for t in snaps_before}
    assert snaps_before == snaps_after
    assert sorted(map(tuple, out2["zonal"].collect())) == zonal1

    # simulate a crash after stage 2: drop downstream stages, resume
    for t in ("cell_aggs", "poly_pairs", "zonal"):
        shutil.rmtree(os.path.join(root, t))
    out3 = pl.run_pipeline(spark, images_path, root)
    assert store.latest_snapshot("tiles") == snaps_before["tiles"]  # untouched
    assert store.latest_snapshot("zonal") != snaps_before["zonal"]  # recomputed
    assert sorted(map(tuple, out3["zonal"].collect())) == zonal1  # same values


def test_lineage_manifest_contents(spark, images_path, tmp_path):
    root = str(tmp_path / "snap3")
    pl.run_pipeline(spark, images_path, root)
    man_path = glob.glob(os.path.join(root, "stats", "snap-*", "manifest.json"))[0]
    with open(man_path) as f:
        man = json.load(f)
    assert man["row_count"] == N_IMAGES
    assert man["n_partitions"] >= 1
    # per-partition lineage: rows + bytes decoded
    for p in man["partitions"]:
        assert p["rows"] > 0 and p["bytes"] > 0
    tiles_man_path = glob.glob(os.path.join(root, "tiles", "snap-*", "manifest.json"))[0]
    with open(tiles_man_path) as f:
        tman = json.load(f)
    # input cell range lineage present on every partition
    for p in tman["partitions"]:
        assert p["cell_min"] <= p["cell_max"]


def test_decode_stats_phash_matches_input(spark, images_path):
    images = spark.read.parquet(images_path)
    from raster_processor_spark.operators import multimodal as mm

    stats = mm.decode_stats(images).join(images.select("image_id", "phash", "fmt"), "image_id")
    # raw images: decoded phash must equal the stored phash exactly
    mismatches = stats.where(
        (stats.fmt == "raw") & (stats.phash_check != stats.phash)
    ).count()
    assert mismatches == 0


def test_scan_decode_stats_equals_per_image_reference(spark, images_path):
    # the pipeline's worker-side decode (batched kernel) against per-image
    # pixel_stats + len(buf) + phash64 of the stored blocks, bit for bit
    from raster_processor_spark.sources.binary_scan import scan_decode_stats

    got = sorted(map(tuple, scan_decode_stats(spark, images_path).collect()))
    want = []
    for r in spark.read.parquet(images_path).collect():
        px = codec.decode(bytes(r.bytes), r.w, r.h, r.fmt)
        want.append((r.image_id,) + codec.pixel_stats(px)
                    + (len(r.bytes), codec.phash64(px)))
    assert got == sorted(want) and len(got) == N_IMAGES
