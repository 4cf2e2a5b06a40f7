"""Benchmark inputs: the query tables (committed under ``data/``) with their
DuckDB oracle results, and the image pool with its numpy golden sample. The
oracle results and the pool are built once per checkout and cached under the
work directory. Neither is part of a run's set-up time.

A run never uses the cache in place: it links the files it needs into its
own fresh directory (see ``link_files``), so the engine's build-once
artifacts, which are keyed by input directory name, always start absent.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import uuid

import numpy as np

# Query tables: a copy of the engine's sf0.01 test tables (60k lineitem
# rows), the data its oracle-parity gate runs on. The query mix is bound by
# fixed per-query cost, so a larger scale buys nothing but set-up time.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "data", "sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# Image pool: POOL_BLOCKS blocks of BLOCK_IMAGES images, FILES_PER_BLOCK
# parquet files each. A run's input is a window of RUN_BLOCKS consecutive
# blocks (mod POOL_BLOCKS), so the seed picks the image id range without
# generating images inside the run.
POOL_BLOCKS = 12
BLOCK_IMAGES = 5_000
FILES_PER_BLOCK = 2
RUN_BLOCKS = 6
GOLDEN_PER_BLOCK = 100
POOL_SEED = 7


def _atomic_dir(final: str, build) -> None:
    """Build into a temp sibling and rename, so an interrupted build never
    leaves a half-written cache entry behind."""
    if os.path.isdir(final):
        return
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def link_files(srcs: list[str], dst_dir: str) -> None:
    """Hard-link (or copy, across filesystems) ``srcs`` into ``dst_dir``."""
    os.makedirs(dst_dir, exist_ok=True)
    for src in srcs:
        dst = os.path.join(dst_dir, os.path.basename(src))
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)


# ------------------------------------------------------------- queries ---


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def normalize(rows, cols) -> list[list[str]]:
    """Order-insensitive, column-order-insensitive row set, with the value
    normalization of the engine's oracle-parity gate."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([_norm_cell(r[i]) for i in order] for r in rows)


def query_tables(cache: str, oracles: dict[str, str]) -> tuple[str, dict]:
    """→ (directory of ``<table>.parquet`` files, {query: normalized oracle
    rows}). Oracle results are cached per oracle SQL text."""
    tdir = TABLES_DIR
    key = hashlib.sha1(
        json.dumps(sorted(oracles.items())).encode()
    ).hexdigest()[:12]
    os.makedirs(cache, exist_ok=True)
    opath = os.path.join(cache, f"oracle-sf0.01-{key}.json")
    if not os.path.exists(opath):
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tdir, t + '.parquet')}'")
        out = {}
        for name, sql in oracles.items():
            rel = con.sql(sql)
            out[name] = normalize(rel.fetchall(), list(rel.columns))
        con.close()
        tmp = f"{opath}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, opath)
    with open(opath) as f:
        return tdir, json.load(f)


# -------------------------------------------------------------- images ---


def image_pool(cache: str, env: dict[str, str]) -> str:
    """Directory with the pool's parquet files and ``golden.json``; built by
    a child process (it needs a Spark session of its own)."""
    final = os.path.join(
        cache, f"images-{POOL_BLOCKS}x{BLOCK_IMAGES}-f{FILES_PER_BLOCK}"
    )
    if not os.path.isdir(final):
        runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
        subprocess.run(
            [sys.executable, runner, "--make-pool", final], env=env, check=True,
            stdout=sys.stderr,
        )
    return final


def pool_files(pool: str) -> list[str]:
    """Pool parquet files in id order: block b owns files
    [b * FILES_PER_BLOCK, (b + 1) * FILES_PER_BLOCK)."""
    files = sorted(f for f in os.listdir(pool) if f.startswith("part-"))
    if len(files) != POOL_BLOCKS * FILES_PER_BLOCK:
        raise RuntimeError(f"image pool {pool} holds {len(files)} files")
    return [os.path.join(pool, f) for f in files]


def window_blocks(seed: int) -> list[int]:
    first = seed % POOL_BLOCKS
    return [(first + i) % POOL_BLOCKS for i in range(RUN_BLOCKS)]


def build_pool(final: str, spark) -> None:
    """Write the pool (one parquet file per FILES_PER_BLOCK-th of a block,
    ids in file order) and its golden sample."""
    from raster_processor_spark import datagen

    def build(d: str) -> None:
        n = POOL_BLOCKS * BLOCK_IMAGES
        ids = spark.range(0, n, 1, POOL_BLOCKS * FILES_PER_BLOCK)
        datagen.images_from_ids(ids, "id").write.parquet(
            os.path.join(d, "data")
        )
        for f in os.listdir(os.path.join(d, "data")):
            if f.startswith("part-"):
                os.rename(os.path.join(d, "data", f), os.path.join(d, f))
        shutil.rmtree(os.path.join(d, "data"))
        rng = np.random.default_rng(POOL_SEED)
        nums = np.concatenate([
            b * BLOCK_IMAGES + rng.choice(BLOCK_IMAGES, GOLDEN_PER_BLOCK, replace=False)
            for b in range(POOL_BLOCKS)
        ])
        with open(os.path.join(d, "golden.json"), "w") as f:
            json.dump(golden_sample(nums), f)

    _atomic_dir(final, build)


def golden_sample(nums) -> dict[str, dict]:
    """{image_id: {"cells": [cell9, cell8, cell7], "polys": [...]}} for the
    image numbers ``nums``, computed single-node with numpy from the pixels
    (the reference the pipeline's golden test uses)."""
    from raster_processor_spark import cellindex as ci
    from raster_processor_spark import codec, geo
    from raster_processor_spark import polygons as pg
    from raster_processor_spark.plans import images_pipeline as pl

    ids = [f"img_{int(i):012d}" for i in nums]
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
    polys: dict[str, list[int]] = {i: [] for i in ids}
    for p in range(pl.N_POLYS):
        inside = pg.pip_ray_cast_np(lon, lat, edges[p]) | \
            pg.pip_ray_cast_np(lon + 360.0, lat, edges[p])
        for j in np.nonzero(inside)[0]:
            polys[ids[j]].append(p)
    return {
        iid: {"cells": [int(c9[j]), int(c8[j]), int(c7[j])], "polys": polys[iid]}
        for j, iid in enumerate(ids)
    }
