"""Image block codec — pure numpy + zlib, no external image libraries.

Two formats over uint8[h, w, 3] C-order pixel blocks (the engine's opaque
``bytes`` payload per BASELINE.json input_hint):

  * ``raw`` — zlib-compressed raw block, lossless;
  * ``q8``  — 2x quantized then zlib, lossy (PSNR >= 40 dB by construction:
    max error 1 LSB → MSE <= 0.5 → PSNR >= 51 dB).

Pixels, captions, and sizes are seeded functions of image_id so every decode
check is reproducible (FIXTURES.md F1). phash is a 64-bit mean-threshold hash
of the 8x8-downsampled gray block (a from-scratch perceptual hash).

Two decode-stats paths with one answer: ``pixel_stats`` + ``phash64`` work
on one decoded block and are the reference the oracle and the goldens use;
``block_stats`` is the batched kernel both Spark decode stages call. It
decompresses each image, then reduces every same-shaped group of a batch in
single numpy calls, with the same arithmetic in the same order, so its
output equals the per-image reference bit for bit (tests/test_codec.py).

If a real image library were present, decode would dispatch to it for
external formats; in this container the codec above IS the decode path, and
unknown formats raise NotImplementedError (clearly-marked stub).
"""

from __future__ import annotations

import zlib

import numpy as np

SIZES = (16, 32, 64)


def _seed(image_id: str) -> int:
    return zlib.crc32(image_id.encode()) & 0xFFFFFFFF


def gen_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic uint8[h, w, 3] block from the image id."""
    rng = np.random.default_rng(_seed(image_id))
    base = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    # add smooth structure so q8 quantization and phash are non-trivial
    yy, xx = np.mgrid[0:h, 0:w]
    grad = ((yy * 255 // max(h - 1, 1) + xx * 255 // max(w - 1, 1)) // 2).astype(np.uint8)
    return ((base.astype(np.uint16) + grad[..., None]) // 2).astype(np.uint8)


def dims_for(image_id: str) -> tuple[int, int]:
    s = _seed(image_id)
    return SIZES[s % len(SIZES)], SIZES[(s >> 8) % len(SIZES)]


def fmt_for(image_id: str) -> str:
    return "q8" if _seed(image_id) % 10 == 0 else "raw"


def caption_for(image_id: str) -> str:
    s = _seed(image_id)
    return f"synthetic scene {s % 1000} captured as {image_id}"


def encode(px: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return zlib.compress(px.tobytes(), level=1)
    if fmt == "q8":
        q = (px >> 1) << 1  # drop the LSB: 2x quantization
        return zlib.compress(q.tobytes(), level=1)
    raise NotImplementedError(
        f"fmt={fmt!r}: external codecs unavailable in this environment "
        "(stub; raw/q8 are the supported block formats)"
    )


def _check_fmt(fmt: str) -> None:
    if fmt not in ("raw", "q8"):
        raise NotImplementedError(
            f"fmt={fmt!r}: external codecs unavailable in this environment"
        )


def decode(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    _check_fmt(fmt)
    arr = np.frombuffer(zlib.decompress(buf), dtype=np.uint8)
    return arr.reshape(h, w, 3)


def phash64(px: np.ndarray) -> int:
    """64-bit mean-threshold perceptual hash on the 8x8-downsampled gray
    block (from-scratch; the engine's analogue of a content fingerprint).

    Hot path: one vectorized block-mean over the uint8 array (equivalent to
    equal contiguous bins when dims divide by 8 — all generated sizes do);
    a Python 8x8 slice loop here cost 0.26 ms/image, 5x the rest of decode
    combined."""
    h, w, _ = px.shape
    if h % 8 == 0 and w % 8 == 0:
        cells = px.reshape(8, h // 8, 8, w // 8, 3).mean(
            axis=(1, 3, 4), dtype=np.float64
        )
    else:  # non-divisible fallback: linspace bin edges
        gray = px.astype(np.float64).mean(axis=2)
        ys = np.linspace(0, h, 9).astype(int)
        xs = np.linspace(0, w, 9).astype(int)
        cells = np.empty((8, 8))
        for i in range(8):
            for j in range(8):
                cells[i, j] = gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    bits = (cells > cells.mean()).ravel()
    word = int(np.packbits(bits[::-1]).view(">u8")[0])
    # keep it positive in int64
    return word & 0x7FFFFFFFFFFFFFFF


def pixel_stats(px: np.ndarray) -> tuple[float, float, int, int]:
    """(mean, std, min, max) via integer sums on the uint8 block — no float64
    image-sized temporaries (DRAM traffic, not compute, is what kills decode
    scaling at high core counts: this host's memory-streaming parallel
    efficiency is 0.26 vs 0.89 for cache-resident CPU work)."""
    flat = px.reshape(-1)
    n = flat.size
    s = int(flat.sum(dtype=np.int64))
    s2 = int(np.dot(flat.astype(np.float32), flat.astype(np.float32)))
    mean = s / n
    var = max(s2 / n - mean * mean, 0.0)
    return mean, float(np.sqrt(var)), int(flat.min()), int(flat.max())


STATS_COLUMNS = ("px_mean", "px_std", "px_min", "px_max", "n_bytes", "phash_check")


def block_stats(bufs, ws, hs, fmts) -> dict[str, np.ndarray]:
    """Batched decode stats: for the i-th encoded block, ``pixel_stats``,
    ``len(buf)`` and ``phash64`` of its decoded pixels, as one array per
    column of STATS_COLUMNS.

    zlib inflates one block at a time; everything after that runs once per
    distinct (h, w) of the batch over a stacked uint8[n, h, w, 3]. Each
    group is widened to float32 on its own, so the float temporaries never
    exceed one group. The float32 sum of squares uses ``np.matmul`` over
    (1, L) x (L, 1) slices: numpy computes each as the same vector dot as
    ``pixel_stats``' ``np.dot``, so the rounding is identical (``einsum``
    sums in another order and differs in the last bit)."""
    for fmt in set(fmts):
        _check_fmt(fmt)
    n = len(bufs)
    ws = np.asarray(ws, dtype=np.int64)
    hs = np.asarray(hs, dtype=np.int64)
    out = {
        "px_mean": np.empty(n, np.float64),
        "px_std": np.empty(n, np.float64),
        "px_min": np.empty(n, np.int32),
        "px_max": np.empty(n, np.int32),
        "n_bytes": np.fromiter((len(b) for b in bufs), np.int64, n),
        "phash_check": np.empty(n, np.int64),
    }
    raw = [zlib.decompress(b) for b in bufs]
    shapes, group = np.unique(np.stack([hs, ws], axis=1), axis=0, return_inverse=True)
    for g, (h, w) in enumerate(shapes.tolist()):
        idx = np.flatnonzero(group.reshape(-1) == g)
        size = h * w * 3
        if any(len(raw[i]) != size for i in idx):
            raise ValueError(f"a decoded block is not {h}x{w}x3 bytes")
        px = np.frombuffer(b"".join(raw[i] for i in idx), np.uint8)
        px = px.reshape(len(idx), h, w, 3)
        flat = px.reshape(len(idx), size)
        s = flat.sum(axis=1, dtype=np.int64)
        f = flat.astype(np.float32)
        s2 = np.matmul(f[:, None, :], f[:, :, None]).reshape(-1).astype(np.int64)
        del f
        mean = s / size
        out["px_mean"][idx] = mean
        out["px_std"][idx] = np.sqrt(np.maximum(s2 / size - mean * mean, 0.0))
        out["px_min"][idx] = flat.min(axis=1)
        out["px_max"][idx] = flat.max(axis=1)
        out["phash_check"][idx] = _phash_group(px)
    return out


def _phash_group(px: np.ndarray) -> np.ndarray:
    """phash64 of each block of a uint8[n, h, w, 3] stack. The cell means
    are exact (integer sums below 2**53, one division), and the 64-value
    mean reduces one contiguous row per block as phash64 does."""
    n, h, w, _ = px.shape
    if h % 8 or w % 8:
        return np.array([phash64(b) for b in px], dtype=np.int64)
    cells = px.reshape(n, 8, h // 8, 8, w // 8, 3).mean(
        axis=(2, 4, 5), dtype=np.float64
    ).reshape(n, 64)
    bits = cells > cells.mean(axis=1)[:, None]
    words = np.packbits(bits[:, ::-1], axis=1).view(">u8").reshape(n)
    return (words & 0x7FFFFFFFFFFFFFFF).astype(np.int64)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
