"""Video / audio multimodal operators (frame sampling, window features).

The task brief's multimodal surface is image/audio/video as opaque binary
columns with typed metadata, decode/feature steps as Arrow-batched pandas
UDFs. The real decode libraries are absent from this container, so the
PAYLOADS are deterministic closed-form fakes — but everything Spark-side is
real and production-shaped:

  * schema: (id, bytes, w, h, n_frames, fps) / (id, bytes, n_samples, sr);
  * video frames are stored UNCOMPRESSED at fixed stride (the "container
    with known frame offsets" model), so frame sampling SEEKS byte ranges
    inside the blob and touches only sampled frames — the property that
    matters at 100 TB, where decoding every frame to sample every 4th is a
    4x waste;
  * features are integer-exact (pixel sums, sum-of-squares energy,
    zero-crossing counts), so each operator has a bit-exact golden-VALUES
    DuckDB oracle generated from the same closed form.

Closed-form payloads (no RNG, reproducible in one line of SQL if needed):
  video pixel  v(seed, f, p) = (seed + 17*f + 13*p) % 256
  audio sample s(seed, t)    = ((seed + 7*t) % 2048) - 1024
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

import zlib

VID_W, VID_H, VID_FRAMES, VID_FPS = 16, 16, 24, 12
AUD_SAMPLES, AUD_SR, AUD_WINDOWS = 4096, 8000, 8
FRAME_BYTES = VID_W * VID_H * 3
WIN = AUD_SAMPLES // AUD_WINDOWS


def _vid_seed(vid: int) -> int:
    return zlib.crc32(f"vid_{vid:012d}".encode()) & 0xFFFFFFFF


def _aud_seed(aid: int) -> int:
    return zlib.crc32(f"aud_{aid:012d}".encode()) & 0xFFFFFFFF


def gen_video_bytes(vid: int) -> bytes:
    """n_frames raw RGB frames at fixed FRAME_BYTES stride."""
    seed = _vid_seed(vid)
    f = np.arange(VID_FRAMES, dtype=np.int64)[:, None]
    p = np.arange(FRAME_BYTES, dtype=np.int64)[None, :]
    px = ((seed + 17 * f + 13 * p) % 256).astype(np.uint8)
    return px.tobytes()


def gen_audio_bytes(aid: int) -> bytes:
    """Mono int16 PCM, little-endian."""
    seed = _aud_seed(aid)
    t = np.arange(AUD_SAMPLES, dtype=np.int64)
    s = ((seed + 7 * t) % 2048) - 1024
    return s.astype("<i2").tobytes()


def videos_from_ids(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize the video table distributed (same shape as datagen's
    image table: opaque bytes + typed metadata)."""
    import pandas as pd

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "video_id": [f"vid_{i:012d}" for i in ids],
                    "bytes": [gen_video_bytes(i) for i in ids],
                    "w": VID_W,
                    "h": VID_H,
                    "n_frames": VID_FRAMES,
                    "fps": VID_FPS,
                }
            )

    schema = (
        "video_id STRING, bytes BINARY, w INT, h INT, n_frames INT, fps INT"
    )
    return ids_df.select(id_col).mapInPandas(gen, schema)


def audios_from_ids(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    import pandas as pd

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [int(i) for i in pdf[id_col]]
            yield pd.DataFrame(
                {
                    "audio_id": [f"aud_{i:012d}" for i in ids],
                    "bytes": [gen_audio_bytes(i) for i in ids],
                    "n_samples": AUD_SAMPLES,
                    "sr": AUD_SR,
                }
            )

    return ids_df.select(id_col).mapInPandas(
        gen, "audio_id STRING, bytes BINARY, n_samples INT, sr INT"
    )


def frame_sample(videos: DataFrame, every: int = 4) -> DataFrame:
    """(video_id, frame_idx, px_sum, px_mean) for every ``every``-th frame.

    Byte-offset seek per sampled frame (fixed stride) — unsampled frames
    are never materialized, only sliced past. Iterator-of-batches
    mapInPandas; integer pixel sums keep the oracle bit-exact."""
    import pandas as pd

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"video_id": [], "frame_idx": [], "px_sum": [], "px_mean": []}
            for vid, buf, nf in zip(
                pdf["video_id"], pdf["bytes"], pdf["n_frames"]
            ):
                for fi in range(0, int(nf), every):
                    off = fi * FRAME_BYTES
                    frame = np.frombuffer(
                        buf[off : off + FRAME_BYTES], dtype=np.uint8
                    )
                    s = int(frame.sum(dtype=np.int64))
                    out["video_id"].append(vid)
                    out["frame_idx"].append(fi)
                    out["px_sum"].append(s)
                    out["px_mean"].append(s / FRAME_BYTES)
            yield pd.DataFrame(out)

    return videos.select("video_id", "bytes", "n_frames").mapInPandas(
        run,
        "video_id STRING, frame_idx INT, px_sum BIGINT, px_mean DOUBLE",
    )


def audio_features(audios: DataFrame) -> DataFrame:
    """(audio_id, win_idx, energy, zero_crossings) per fixed window.

    energy = Σ s² (exact int64); zero_crossings counts sign changes between
    consecutive samples within the window."""
    import pandas as pd

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"audio_id": [], "win_idx": [], "energy": [], "zero_crossings": []}
            for aid, buf in zip(pdf["audio_id"], pdf["bytes"]):
                s = np.frombuffer(buf, dtype="<i2").astype(np.int64)
                for wi in range(AUD_WINDOWS):
                    w = s[wi * WIN : (wi + 1) * WIN]
                    zc = int(np.sum((w[:-1] >= 0) != (w[1:] >= 0)))
                    out["audio_id"].append(aid)
                    out["win_idx"].append(wi)
                    out["energy"].append(int(np.dot(w, w)))
                    out["zero_crossings"].append(zc)
            yield pd.DataFrame(out)

    return audios.select("audio_id", "bytes").mapInPandas(
        run,
        "audio_id STRING, win_idx INT, energy BIGINT, zero_crossings INT",
    )


# --------------------------------------------------------- golden oracles --


def _expected_frame_rows(n: int, every: int) -> list[tuple]:
    rows = []
    for i in range(n):
        buf = gen_video_bytes(i)
        for fi in range(0, VID_FRAMES, every):
            frame = np.frombuffer(
                buf[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES], dtype=np.uint8
            )
            s = int(frame.sum(dtype=np.int64))
            rows.append((f"vid_{i:012d}", fi, s, s / FRAME_BYTES))
    return rows


def frame_sample_oracle_sql(n: int, every: int = 4) -> str:
    vals = ",\n".join(
        f"('{vid}', {fi}, CAST({s} AS BIGINT), CAST('{m!r}' AS DOUBLE))"
        for vid, fi, s, m in _expected_frame_rows(n, every)
    )
    return f"""
WITH expected(video_id, frame_idx, px_sum, px_mean) AS (VALUES {vals}),
ids AS (SELECT 'vid_' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS video_id
        FROM documents WHERE doc_id < {n})
SELECT e.video_id, e.frame_idx, e.px_sum, e.px_mean
FROM expected e JOIN ids USING (video_id)
"""


def _expected_audio_rows(n: int) -> list[tuple]:
    rows = []
    for i in range(n):
        s = np.frombuffer(gen_audio_bytes(i), dtype="<i2").astype(np.int64)
        for wi in range(AUD_WINDOWS):
            w = s[wi * WIN : (wi + 1) * WIN]
            zc = int(np.sum((w[:-1] >= 0) != (w[1:] >= 0)))
            rows.append((f"aud_{i:012d}", wi, int(np.dot(w, w)), zc))
    return rows


def audio_features_oracle_sql(n: int) -> str:
    vals = ",\n".join(
        f"('{aid}', {wi}, CAST({e} AS BIGINT), CAST({z} AS INTEGER))"
        for aid, wi, e, z in _expected_audio_rows(n)
    )
    return f"""
WITH expected(audio_id, win_idx, energy, zero_crossings) AS (VALUES {vals}),
ids AS (SELECT 'aud_' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS audio_id
        FROM documents WHERE doc_id < {n})
SELECT e.audio_id, e.win_idx, e.energy, e.zero_crossings
FROM expected e JOIN ids USING (audio_id)
"""
