"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

What is REAL here vs stubbed (per the task brief — the heavy codec
libraries are absent in this container):

- image resize (block-mean, exact NumPy)           — REAL
- audio decode: WAV/PCM16 via stdlib ``wave``      — REAL
- audio features (RMS, zero-crossings, duration)   — REAL
- video frame sampling                             — STUBBED: the
  container has no video codec; ``decode_video_frames`` raises
  ``NotImplementedError`` for real codecs and supports the
  deterministic ``rawgrid`` fixture format (length-prefixed raw RGB
  frames) so the Spark-side plumbing — schema, partitioning, UDF
  signatures, batch shapes — is fully exercised and tested.

Scale notes: all three are shuffle-free map passes; bytes stay in
Arrow buffers until the per-row codec call; outputs are slim typed
columns (features), never re-encoded payloads unless asked.
"""

from __future__ import annotations

import io
import struct
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from osm2shp_spark.functions import image as I

# ---------------------------------------------------------------------------
# audio (WAV/PCM16 — stdlib, real)
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray) -> bytes:
    """Mono PCM16 WAV at 16 kHz from float samples in [-1, 1]."""
    pcm = np.clip(samples, -1.0, 1.0)
    ints = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(ints.tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    with wave.open(io.BytesIO(data), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise NotImplementedError("only mono PCM16 WAV in-sandbox")
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    return np.frombuffer(raw, "<i2").astype(np.float64) / 32767.0, rate


AUDIO_FEATURES_SCHEMA = (
    "audio_id STRING, duration_s DOUBLE, rms DOUBLE, "
    "zero_crossings BIGINT, peak DOUBLE"
)


def audio_features_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Row kernel of :func:`audio_features` — shared with the
    golden-oracle generator (``osm2shp_spark.golden``)."""
    rows = []
    for r in pdf.itertuples(index=False):
        s, rate = decode_wav(r.bytes)
        zc = int(np.count_nonzero(np.diff(np.signbit(s))))
        rows.append(
            (
                r.audio_id,
                len(s) / rate,
                float(np.sqrt(np.mean(s * s))) if len(s) else 0.0,
                zc,
                float(np.abs(s).max()) if len(s) else 0.0,
            )
        )
    return pd.DataFrame(
        rows,
        columns=["audio_id", "duration_s", "rms", "zero_crossings", "peak"],
    )


def audio_features(audio: DataFrame) -> DataFrame:
    """Decode WAV bytes → per-clip features. Map-only pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield audio_features_pdf(pdf)

    return audio.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# image resize (real)
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = "image_id STRING, out_w INT, out_h INT, bytes BINARY, fmt STRING"


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode → block-mean resize → re-encode as PPM. The resize kernel is the
    same deterministic block-mean used by phash (exact, no resampling
    library needed)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield resize_images_pdf(pdf, out_w, out_h)

    return images.mapInPandas(run, schema=RESIZED_SCHEMA)


def resize_images_pdf(pdf: pd.DataFrame, out_w: int, out_h: int) -> pd.DataFrame:
    """Row kernel of :func:`resize_images` — shared with the
    golden-oracle generator."""
    rows = []
    for r in pdf.itertuples(index=False):
        arr = I.decode_image(r.bytes, r.fmt)
        out = np.stack(
            [
                I._block_mean_resize(arr[:, :, c].astype(np.float64), out_h, out_w)
                for c in range(3)
            ],
            axis=2,
        ).round().clip(0, 255).astype(np.uint8)
        rows.append((r.image_id, out_w, out_h, I.encode_image(out, "ppm"), "ppm"))
    return pd.DataFrame(
        rows, columns=["image_id", "out_w", "out_h", "bytes", "fmt"]
    )


# ---------------------------------------------------------------------------
# video frame sampling (plumbing real, codec stubbed)
# ---------------------------------------------------------------------------

def encode_rawgrid_video(frames: list[np.ndarray]) -> bytes:
    """Deterministic fixture 'codec': u32 frame count, then per frame
    u32 w, u32 h + raw RGB bytes. Stands in for a real container until
    a codec library is available."""
    out = [struct.pack("<I", len(frames))]
    for f in frames:
        h, w, _ = f.shape
        out.append(struct.pack("<II", w, h))
        out.append(f.astype(np.uint8).tobytes())
    return b"".join(out)


def decode_video_frames(data: bytes, fmt: str, every_nth: int = 1) -> list[np.ndarray]:
    if fmt != "rawgrid":
        raise NotImplementedError(
            f"video codec {fmt!r}: no video library in this container — "
            "plug a decoder here; the Spark plumbing below is codec-agnostic"
        )
    (n,) = struct.unpack_from("<I", data, 0)
    off = 4
    frames = []
    for i in range(n):
        w, h = struct.unpack_from("<II", data, off)
        off += 8
        if i % every_nth == 0:
            frames.append(
                np.frombuffer(data, np.uint8, count=w * h * 3, offset=off).reshape(h, w, 3)
            )
        off += w * h * 3
    return frames


FRAME_SAMPLE_SCHEMA = (
    "video_id STRING, frame_idx INT, w INT, h INT, mean_px DOUBLE, phash BIGINT"
)


def sample_video_frames(videos: DataFrame, every_nth: int = 2) -> DataFrame:
    """Explode videos into sampled per-frame feature rows (1 video in,
    n_frames/every_nth rows out — the standard frame-level fan-out for
    training pipelines)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield sample_video_frames_pdf(pdf, every_nth)

    return videos.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


def sample_video_frames_pdf(pdf: pd.DataFrame, every_nth: int = 2) -> pd.DataFrame:
    """Row kernel of :func:`sample_video_frames` — shared with the
    golden-oracle generator."""
    rows = []
    for r in pdf.itertuples(index=False):
        frames = decode_video_frames(r.bytes, r.fmt, every_nth)
        for fi, f in enumerate(frames):
            rows.append(
                (
                    r.video_id,
                    fi * every_nth,
                    f.shape[1],
                    f.shape[0],
                    float(f.mean()),
                    I.average_phash(f),
                )
            )
    return pd.DataFrame(
        rows,
        columns=["video_id", "frame_idx", "w", "h", "mean_px", "phash"],
    )
