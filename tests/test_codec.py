"""Codec unit tests (pure numpy, no Spark)."""

from __future__ import annotations

import numpy as np
import pytest

from raster_processor_spark import codec


def test_raw_roundtrip_lossless():
    for iid in ("img_000000000000", "img_000000000042"):
        w, h = codec.dims_for(iid)
        px = codec.gen_pixels(iid, w, h)
        out = codec.decode(codec.encode(px, "raw"), w, h, "raw")
        assert np.array_equal(px, out)


def test_q8_psnr_above_40db():
    for i in range(20):
        iid = f"img_{i:012d}"
        w, h = codec.dims_for(iid)
        px = codec.gen_pixels(iid, w, h)
        out = codec.decode(codec.encode(px, "q8"), w, h, "q8")
        assert codec.psnr(px, out) >= 40.0
        assert np.max(np.abs(px.astype(int) - out.astype(int))) <= 1


def test_unknown_fmt_is_stubbed():
    px = codec.gen_pixels("img_000000000001", 16, 16)
    with pytest.raises(NotImplementedError):
        codec.encode(px, "jpeg")
    with pytest.raises(NotImplementedError):
        codec.decode(b"x", 16, 16, "webp")


def test_phash_stable_and_positive():
    iid = "img_000000000007"
    w, h = codec.dims_for(iid)
    px = codec.gen_pixels(iid, w, h)
    p1, p2 = codec.phash64(px), codec.phash64(px.copy())
    assert p1 == p2 and p1 >= 0
    # a different image gets a different hash (overwhelmingly)
    px2 = codec.gen_pixels("img_000000000008", w, h)
    assert codec.phash64(px2) != p1


def test_determinism_across_calls():
    a = codec.gen_pixels("img_000000000099", 32, 16)
    b = codec.gen_pixels("img_000000000099", 32, 16)
    assert np.array_equal(a, b)
    assert codec.caption_for("img_000000000099") == codec.caption_for("img_000000000099")


def _reference(bufs, ws, hs, fmts) -> list[tuple]:
    """Per-image pixel_stats + len(buf) + phash64, in STATS_COLUMNS order."""
    out = []
    for buf, w, h, fmt in zip(bufs, ws, hs, fmts):
        px = codec.decode(buf, w, h, fmt)
        out.append(codec.pixel_stats(px) + (len(buf), codec.phash64(px)))
    return out


def _assert_matches_reference(items):
    bufs, ws, hs, fmts = (list(c) for c in zip(*items))
    got = codec.block_stats(bufs, ws, hs, fmts)
    assert set(got) == set(codec.STATS_COLUMNS)
    rows = [
        tuple(got[c][i].item() for c in codec.STATS_COLUMNS)
        for i in range(len(bufs))
    ]
    ref = _reference(bufs, ws, hs, fmts)
    # bit-identical: == on the floats, and the same Python types
    assert rows == ref
    assert [tuple(map(type, r)) for r in rows] == [tuple(map(type, r)) for r in ref]


@pytest.mark.parametrize("fmt", ["raw", "q8"])
def test_block_stats_matches_per_image_reference_on_mixed_shapes(fmt):
    # all nine (w, h) combinations of SIZES, three blocks each, shuffled
    # into one batch so every shape group is scattered across it
    items = []
    for k, (w, h) in enumerate((w, h) for w in codec.SIZES for h in codec.SIZES):
        for j in range(3):
            px = codec.gen_pixels(f"img_{100 * k + j:012d}", w, h)
            items.append((codec.encode(px, fmt), w, h, fmt))
    order = np.random.default_rng(5).permutation(len(items))
    _assert_matches_reference([items[i] for i in order])


def test_block_stats_matches_reference_on_generated_images():
    # the generator's own size/format mix over 3000 ids: the float32 sum of
    # squares must round exactly as pixel_stats' np.dot does on each block
    items = []
    for i in range(3000):
        iid = f"img_{i:012d}"
        w, h = codec.dims_for(iid)
        fmt = codec.fmt_for(iid)
        items.append((codec.encode(codec.gen_pixels(iid, w, h), fmt), w, h, fmt))
    _assert_matches_reference(items)


def test_block_stats_sides_not_multiple_of_8_use_phash_fallback():
    items = []
    for k, (w, h) in enumerate([(12, 20), (30, 18), (16, 16), (12, 20)]):
        px = codec.gen_pixels(f"img_{k:012d}", w, h)
        items.append((codec.encode(px, "raw"), w, h, "raw"))
    _assert_matches_reference(items)


def test_block_stats_empty_batch():
    got = codec.block_stats([], [], [], [])
    assert set(got) == set(codec.STATS_COLUMNS)
    assert all(len(got[c]) == 0 for c in codec.STATS_COLUMNS)


def test_block_stats_unknown_fmt_is_stubbed():
    px = codec.gen_pixels("img_000000000001", 16, 16)
    buf = codec.encode(px, "raw")
    with pytest.raises(NotImplementedError):
        codec.block_stats([buf, buf], [16, 16], [16, 16], ["raw", "webp"])
