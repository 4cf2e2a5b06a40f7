"""Multimodal (image) operators: decode / feature-extract over opaque binary
columns via Arrow-batched mapInPandas — the Spark-side plumbing (schema,
batching, partitioning) is real; the pixel math is the from-scratch numpy
codec (codec.py). External decode libraries are absent in this container and
stubbed behind NotImplementedError in codec.decode.

Reference analogue: the pixel values the SWOT processor aggregates are
already-decoded radar samples; here decode happens inside the engine
(north star: "zonal aggregation (mean/sum/count of decoded pixel blocks per
polygon)").
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from raster_processor_spark.sources.tables import read_parquet as _read_parquet

from raster_processor_spark import codec

DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("px_mean", T.DoubleType(), False),
        T.StructField("px_std", T.DoubleType(), False),
        T.StructField("px_min", T.IntegerType(), False),
        T.StructField("px_max", T.IntegerType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("phash_check", T.LongType(), False),
    ]
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Per-image decoded-pixel statistics: one ``codec.block_stats`` call
    per Arrow batch (the same kernel as the worker-side scan,
    sources/binary_scan.py)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            stats = codec.block_stats(
                pdf["bytes"].tolist(), pdf["w"].to_numpy(),
                pdf["h"].to_numpy(), pdf["fmt"].tolist(),
            )
            yield pd.DataFrame({"image_id": pdf["image_id"], **stats})

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return images.select(*cols).mapInPandas(run, DECODE_STATS_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("thumb", T.BinaryType(), False),
        T.StructField("tw", T.IntegerType(), False),
        T.StructField("th", T.IntegerType(), False),
    ]
)


def resize_thumbs(images: DataFrame, target: int = 8) -> DataFrame:
    """Nearest-neighbor resize to target x target (pure-numpy strided
    sampling), re-encoded raw — the decode→transform→re-encode plumbing a
    multimodal pipeline needs."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"image_id": [], "thumb": [], "tw": [], "th": []}
            for iid, buf, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                px = codec.decode(buf, int(w), int(h), fmt)
                ys = (np.arange(target) * h // target).astype(int)
                xs = (np.arange(target) * w // target).astype(int)
                thumb = px[np.ix_(ys, xs)]
                out["image_id"].append(iid)
                out["thumb"].append(codec.encode(thumb, "raw"))
                out["tw"].append(target)
                out["th"].append(target)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, RESIZE_SCHEMA
    )


def with_georef(images: DataFrame) -> DataFrame:
    """Georeference image rows from phash (FIXTURES.md F1 derived lat/lon)."""
    from raster_processor_spark import geo

    key = F.pmod(F.col("phash"), F.lit(1_000_003))
    return images.withColumn("lat", geo.lat_col(key)).withColumn(
        "lon", geo.lon_col(key)
    )


# ------------------------------------------------- image near-dup (phash) --

PHASH_BANDS = 4
PHASH_BAND_BITS = 16  # 4 x 16: pigeonhole-complete for hamming <= 3


def _variant_pixels(px: np.ndarray) -> np.ndarray:
    """The near-dup perturbation: invert the top-left 1/64 patch and
    re-encode lossy — the synthetic stand-in for a re-crop/re-compress
    near-duplicate (measured phash Hamming 1-7 vs the original)."""
    h, w, _ = px.shape
    v = px.copy()
    v[: h // 8, : w // 8] = 255 - v[: h // 8, : w // 8]
    return v


def image_phashes(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(key, phash) for each id's ORIGINAL image (key = 2*id) and its
    perturbed q8 re-encode (key = 2*id+1) — the full decode path runs on
    the workers (Arrow-batched mapInPandas), never per-row Python in a
    Spark expression."""
    import pandas as pd

    from raster_processor_spark import codec

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keys, hashes = [], []
            for i in pdf[id_col]:
                iid = f"img_{int(i):012d}"
                w, h = codec.dims_for(iid)
                fmt = codec.fmt_for(iid)
                px = codec.gen_pixels(iid, w, h)
                dec = codec.decode(codec.encode(px, fmt), w, h, fmt)
                keys.append(2 * int(i))
                hashes.append(codec.phash64(dec))
                v = _variant_pixels(px)
                vdec = codec.decode(codec.encode(v, "q8"), w, h, "q8")
                keys.append(2 * int(i) + 1)
                hashes.append(codec.phash64(vdec))
            yield pd.DataFrame({"key": keys, "phash": hashes})

    return ids_df.select(id_col).mapInPandas(run, "key BIGINT, phash BIGINT")


def image_phash_pairs(
    spark: SparkSession, sf_dir: str, n: int, max_hamming: int = 3
) -> DataFrame:
    """Image near-duplicate pairs by banded phash Hamming join.

    The dedup-family layout applied to the IMAGE payload: band the 64-bit
    perceptual hash into 4 x 16 bits — any pair within Hamming <= 3 shares
    an intact band (pigeonhole), so candidates come from equi-joining
    (band, bucket) buckets, never all-pairs; exact bit_count verify on
    candidates only. At 10^12 images the band join shuffles 4 rows/image
    of (16-bit bucket, key) — the standard production phash-dedup shape.

    Note on the fixture: every synthetic image shares a smooth gradient, so
    phashes cluster and MANY cross-image pairs genuinely sit within Hamming
    3 (the oracle confirms them bit-exactly) — which is exactly the hot-
    bucket skew a production phash index sees on near-flat photos; the
    banded join absorbs it because buckets, not pairs, are the join keys."""
    ids = (
        _read_parquet(spark, f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .where(F.col("doc_id") < n)
        .repartition(8)
    )
    sig = image_phashes(ids)
    mask = (1 << PHASH_BAND_BITS) - 1
    # ONE posexplode projection, not a 4-way union of selects: each union
    # branch was a separate consumer of the phash subtree and re-ran the
    # whole codec decode pipeline per branch (and again per join side) —
    # the same multiple-consumer trap fixed in dedup.simhash_pairs
    buckets = F.array(
        *[
            F.shiftright(F.col("phash"), b * PHASH_BAND_BITS)
            .bitwiseAND(F.lit(mask))
            for b in range(PHASH_BANDS)
        ]
    )
    # materialize the banded signatures behind ONE exchange: the candidate
    # self-join consumes bands on both sides, and without a common exchange
    # each side would re-run the codec-decode mapInPandas; repartitioning on
    # the join key lets the second side ride a ReusedExchange AND already
    # satisfies the join's required distribution (no further shuffle)
    bands = sig.select(
        "key", "phash", F.posexplode(buckets).alias("band", "bucket")
    ).repartition("band", "bucket")
    a = bands.select(
        F.col("key").alias("key_a"), F.col("phash").alias("ph_a"), "band", "bucket"
    )
    b2 = bands.select(
        F.col("key").alias("key_b"), F.col("phash").alias("ph_b"), "band", "bucket"
    )
    cand = (
        a.join(b2, ["band", "bucket"])
        .where(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "ph_a", "ph_b")
        .distinct()
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("key_a", "key_b", "hamming")
    )


def _expected_phash_rows(n: int) -> list[tuple[int, int]]:
    from raster_processor_spark import codec

    rows = []
    for i in range(n):
        iid = f"img_{i:012d}"
        w, h = codec.dims_for(iid)
        fmt = codec.fmt_for(iid)
        px = codec.gen_pixels(iid, w, h)
        dec = codec.decode(codec.encode(px, fmt), w, h, fmt)
        rows.append((2 * i, codec.phash64(dec)))
        v = _variant_pixels(px)
        vdec = codec.decode(codec.encode(v, "q8"), w, h, "q8")
        rows.append((2 * i + 1, codec.phash64(vdec)))
    return rows


def image_phash_pairs_sql(n: int, max_hamming: int = 3) -> str:
    """DuckDB twin: the same golden phashes (seeded codec → VALUES), paired
    brute-force — equivalent to the banded join because 4 x 16 banding is
    candidate-complete for Hamming <= 3."""
    vals = ",\n".join(
        f"(CAST({k} AS BIGINT), CAST({p} AS BIGINT))"
        for k, p in _expected_phash_rows(n)
    )
    return f"""
WITH sig(key, phash) AS (VALUES {vals}),
ids AS (SELECT 2 * doc_id AS key FROM documents WHERE doc_id < {n}
        UNION ALL
        SELECT 2 * doc_id + 1 FROM documents WHERE doc_id < {n}),
s AS (SELECT sig.key, sig.phash FROM sig JOIN ids USING (key))
SELECT a.key AS key_a, b.key AS key_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.key < b.key
WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
"""


# ------------------------------------------------------- golden SQL oracles --
# decode_stats / resize_thumbs are pure functions of the image ids (seeded
# codec), so their DuckDB oracle is a precomputed expected table from the
# same numpy golden, joined to the documents ids actually present — a hard
# value check, not a rows-only smoke test.


def _expected_decode_rows(n: int) -> list[tuple]:
    rows = []
    for i in range(n):
        iid = f"img_{i:012d}"
        w, h = codec.dims_for(iid)
        fmt = codec.fmt_for(iid)
        px = codec.gen_pixels(iid, w, h)
        buf = codec.encode(px, fmt)
        m, s, lo, hi = codec.pixel_stats(codec.decode(buf, w, h, fmt))
        rows.append((iid, m, s, lo, hi, len(buf)))
    return rows


def decode_stats_oracle_sql(n: int) -> str:
    vals = ",\n".join(
        # repr quoted as a string: DuckDB parses a bare numeric literal as
        # DECIMAL first, which loses the last bit of the double; the
        # string→double parse is correctly rounded and round-trips exactly.
        f"('{iid}', CAST('{m!r}' AS DOUBLE), CAST('{s!r}' AS DOUBLE), "
        f"CAST({lo} AS INTEGER), CAST({hi} AS INTEGER), CAST({nb} AS BIGINT))"
        for iid, m, s, lo, hi, nb in _expected_decode_rows(n)
    )
    return f"""
WITH expected(image_id, px_mean, px_std, px_min, px_max, n_bytes) AS (
  VALUES {vals}
),
ids AS (SELECT 'img_' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS image_id
        FROM documents)
SELECT e.image_id, e.px_mean, e.px_std, e.px_min, e.px_max, e.n_bytes
FROM expected e JOIN ids USING (image_id)
"""


def _expected_resize_rows(n: int, target: int) -> list[tuple]:
    rows = []
    for i in range(n):
        iid = f"img_{i:012d}"
        w, h = codec.dims_for(iid)
        fmt = codec.fmt_for(iid)
        px = codec.gen_pixels(iid, w, h)
        buf = codec.encode(px, fmt)
        dec = codec.decode(buf, w, h, fmt)
        ys = (np.arange(target) * h // target).astype(int)
        xs = (np.arange(target) * w // target).astype(int)
        thumb = dec[np.ix_(ys, xs)]
        rows.append((iid, target, target, len(codec.encode(thumb, "raw"))))
    return rows


def resize_oracle_sql(n: int, target: int) -> str:
    vals = ",\n".join(
        f"('{iid}', CAST({tw} AS INTEGER), CAST({th} AS INTEGER), CAST({nb} AS INTEGER))"
        for iid, tw, th, nb in _expected_resize_rows(n, target)
    )
    return f"""
WITH expected(image_id, tw, th, thumb_bytes) AS (
  VALUES {vals}
),
ids AS (SELECT 'img_' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS image_id
        FROM documents WHERE doc_id < {n})
SELECT e.image_id, e.tw, e.th, e.thumb_bytes
FROM expected e JOIN ids USING (image_id)
"""


# ------------------------------------------------------------ curation -------
# Metadata-level image curation — the image-side twin of the text quality
# filters: flag undersized images, extreme aspect ratios, implausibly
# compressible payloads (blank/synthetic-junk proxy), and malformed
# captions, all as JVM codegen expressions over (w, h, fmt, bytes, caption)
# — the decode path never runs, so at 10^12 images this is a metadata scan.

CUR_MIN_DIM = 32
CUR_MAX_ASPECT = 2        # strictly greater than 2:1 either way -> extreme
CUR_MIN_BPP_MILLI = 100   # bytes*1000 // (w*h*3); below -> near-blank


def image_curation(images: DataFrame) -> DataFrame:
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    n_bytes = F.length("bytes").cast("long")
    # GREATEST(..., 1) denominator: a row with w=0 or h=0 is exactly the
    # malformed metadata this operator exists to FLAG (too_small) — it must
    # not crash the scan with DIVIDE_BY_ZERO under an ANSI session
    bpp_milli = F.expr(
        "CAST(length(bytes) AS BIGINT) * 1000"
        " div GREATEST(CAST(w AS BIGINT) * h * 3, 1)"
    )
    too_small = F.least(w, h) < CUR_MIN_DIM
    extreme = F.greatest(w, h) > CUR_MAX_ASPECT * F.least(w, h)
    caption_ok = (
        F.col("caption").startswith("synthetic scene ")
        & F.col("caption").endswith(F.col("image_id"))
        & (F.length("caption") < 64)
    )
    keep = (
        ~too_small & ~extreme & caption_ok & (bpp_milli >= CUR_MIN_BPP_MILLI)
    )
    return images.select(
        "image_id",
        w.alias("w"),
        h.alias("h"),
        "fmt",
        n_bytes.alias("n_bytes"),
        bpp_milli.alias("bpp_milli"),
        too_small.alias("too_small"),
        extreme.alias("extreme_aspect"),
        caption_ok.alias("caption_ok"),
        keep.alias("keep"),
    )


def _expected_curation_rows(n: int) -> list[tuple]:
    rows = []
    for i in range(n):
        iid = f"img_{i:012d}"
        w, h = codec.dims_for(iid)
        fmt = codec.fmt_for(iid)
        buf = codec.encode(codec.gen_pixels(iid, w, h), fmt)
        nb = len(buf)
        bpp = nb * 1000 // (w * h * 3)
        cap = codec.caption_for(iid)
        too_small = min(w, h) < CUR_MIN_DIM
        extreme = max(w, h) > CUR_MAX_ASPECT * min(w, h)
        caption_ok = (
            cap.startswith("synthetic scene ")
            and cap.endswith(iid)
            and len(cap) < 64
        )
        keep = (
            not too_small and not extreme and caption_ok
            and bpp >= CUR_MIN_BPP_MILLI
        )
        rows.append((iid, w, h, fmt, nb, bpp, too_small, extreme, caption_ok, keep))
    return rows


def image_curation_oracle_sql(n: int) -> str:
    vals = ",\n".join(
        f"('{iid}', CAST({w} AS BIGINT), CAST({h} AS BIGINT), '{fmt}', "
        f"CAST({nb} AS BIGINT), CAST({bpp} AS BIGINT), "
        f"{str(ts).upper()}, {str(ex).upper()}, {str(co).upper()}, {str(kp).upper()})"
        for iid, w, h, fmt, nb, bpp, ts, ex, co, kp in _expected_curation_rows(n)
    )
    return f"""
WITH expected(image_id, w, h, fmt, n_bytes, bpp_milli, too_small,
              extreme_aspect, caption_ok, keep) AS (
  VALUES {vals}
),
ids AS (SELECT 'img_' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS image_id
        FROM documents WHERE doc_id < {n})
SELECT e.* FROM expected e JOIN ids USING (image_id)
"""
