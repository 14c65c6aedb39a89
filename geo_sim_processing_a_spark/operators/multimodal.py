"""Multimodal column operators (task brief): image/audio/video as
opaque ``binary`` columns with typed metadata; decode, feature-extract,
resize and frame-sample as Arrow-batched kernels over mapInPandas.

The DECODE step is REAL: pure-NumPy byte-level BMP (24-bit) and WAV
(16-bit PCM) codecs (functions/codecs.py) — no image/audio libraries
needed, round-trip exactness unit-tested.  Formats the codecs don't
cover (JPEG/PNG/MP4 need external libs absent from this container) are
quarantined per row with an error string, never a task failure — the
Spark-side plumbing (schema, partitioning, batch shape) is identical
for every format.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codecs import decode_bmp, decode_wav, encode_bmp, encode_wav, resize_nearest

MEDIA_SCHEMA = ("url string, media_type string, blob binary, "
                "width int, height int, duration_ms int, codec string")

FEATURE_SCHEMA = ("url string, media_type string, feature array<float>, "
                  "n_bytes int, width int, height int, error string")

FEATURE_DIM = 16


# ---------------------------------------------------------------------------
# deterministic media synthesis (test/bench input; derives from h alone)
# ---------------------------------------------------------------------------

def synthesize_media_pdf(urls: np.ndarray, h: np.ndarray) -> pd.DataFrame:
    """One media blob per page: even h -> an 8x8 24-bit BMP whose pixel
    pattern derives from h; odd h -> a 256-sample 16-bit PCM WAV tone
    derived from h.  Real encoded bytes, parsed back by the real
    decoders."""
    h = np.asarray(h, dtype=np.int64)
    rows = {"url": [], "media_type": [], "blob": [], "width": [],
            "height": [], "duration_ms": [], "codec": []}
    yy, xx = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    for i in range(len(h)):
        hv = int(h[i]) & 0xFFFFFFFFFFFFFFFF
        if hv % 2 == 0:
            r = ((xx * (hv & 0xFF) + yy) % 256).astype(np.uint8)
            g = ((yy * ((hv >> 8) & 0xFF) + xx) % 256).astype(np.uint8)
            b = ((xx * yy + (hv >> 16)) % 256).astype(np.uint8)
            blob = encode_bmp(np.stack([r, g, b], axis=-1))
            rows["url"].append(urls[i])
            rows["media_type"].append("image")
            rows["blob"].append(blob)
            rows["width"].append(8)
            rows["height"].append(8)
            rows["duration_ms"].append(0)
            rows["codec"].append("bmp24")
        else:
            n = 256
            t = np.arange(n, dtype=np.float64)
            freq = 1 + (hv % 40)
            wave = np.sin(2 * np.pi * freq * t / n) * (2000 + (hv % 10000))
            blob = encode_wav(wave.astype(np.int16), rate=16000)
            rows["url"].append(urls[i])
            rows["media_type"].append("audio")
            rows["blob"].append(blob)
            rows["width"].append(0)
            rows["height"].append(0)
            rows["duration_ms"].append(n * 1000 // 16000)
            rows["codec"].append("pcm16")
    return pd.DataFrame(rows)


def pages_to_media(pages: DataFrame) -> DataFrame:
    """pages(url, ...) -> media rows (url, media_type, blob, meta...)."""
    with_h = (pages
              .withColumn("doc_id", F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long"))
              .withColumn("h", F.xxhash64("doc_id")))

    def gen(batches):
        for pdf in batches:
            yield synthesize_media_pdf(pdf["url"].to_numpy(), pdf["h"].to_numpy())

    return with_h.mapInPandas(gen, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# decode + feature extraction (Arrow-batched, real byte-level decode)
# ---------------------------------------------------------------------------

def _image_features(rgb: np.ndarray) -> np.ndarray:
    """16-dim: per-channel mean/std (6) + 2x2 block-mean luma of the
    nearest-resized 4x4 (4) + histogram quartile mass (4) + aspect,
    fill (2).  All vectorized."""
    f = np.empty(FEATURE_DIM, dtype=np.float64)
    x = rgb.astype(np.float64) / 255.0
    f[0:3] = x.mean(axis=(0, 1))
    f[3:6] = x.std(axis=(0, 1))
    small = resize_nearest(rgb, 4, 4).astype(np.float64) / 255.0
    luma = small @ np.array([0.299, 0.587, 0.114])
    f[6:10] = luma.reshape(2, 2, 2, 2).mean(axis=(1, 3)).ravel()
    hist = np.bincount((rgb.ravel() // 64), minlength=4)
    f[10:14] = hist / max(rgb.size, 1)
    h, w = rgb.shape[:2]
    f[14] = w / max(h, 1)
    f[15] = 1.0
    return f.astype(np.float32)


def _audio_features(samples: np.ndarray, rate: int) -> np.ndarray:
    """16-dim: rms, zero-crossing rate, peak, duration + 12-bin
    magnitude spectrum (rfft, vectorized)."""
    f = np.zeros(FEATURE_DIM, dtype=np.float64)
    s = samples.astype(np.float64).ravel() / 32768.0
    n = len(s)
    if n:
        f[0] = float(np.sqrt(np.mean(s * s)))
        f[1] = float(np.mean(np.signbit(s[1:]) != np.signbit(s[:-1]))) if n > 1 else 0.0
        f[2] = float(np.abs(s).max())
        f[3] = n / max(rate, 1)
        mag = np.abs(np.fft.rfft(s))[1:]
        if len(mag):
            bins = np.array_split(mag, 12)
            f[4:16] = [float(b.mean()) if len(b) else 0.0 for b in bins]
    return f.astype(np.float32)


def extract_media_features(media: DataFrame, blob_col: str = "blob",
                           url_col: str = "url") -> DataFrame:
    """mapInPandas decode + feature extraction over binary media blobs:
    one Arrow batch in, one typed batch out; per-row decode errors are
    quarantined into the ``error`` column (unsupported format, corrupt
    bytes), never a task failure."""
    def run(batches):
        for pdf in batches:
            out = {"url": [], "media_type": [], "feature": [], "n_bytes": [],
                   "width": [], "height": [], "error": []}
            for r in pdf.itertuples(index=False):
                blob = getattr(r, blob_col) or b""
                feat, w, h, err = None, 0, 0, None
                try:
                    if blob[:2] == b"BM":
                        rgb = decode_bmp(bytes(blob))
                        feat = _image_features(rgb)
                        h, w = rgb.shape[:2]
                        mt = "image"
                    elif blob[:4] == b"RIFF":
                        samples, rate = decode_wav(bytes(blob))
                        feat = _audio_features(samples, rate)
                        mt = "audio"
                    else:
                        raise ValueError("unsupported media container "
                                         f"(magic={bytes(blob[:4])!r})")
                except Exception as e:  # noqa: BLE001 — quarantine the row
                    mt = "unknown"
                    err = f"{type(e).__name__}: {e}"
                    feat = np.zeros(FEATURE_DIM, dtype=np.float32)
                out["url"].append(getattr(r, url_col))
                out["media_type"].append(mt)
                out["feature"].append([float(v) for v in feat])
                out["n_bytes"].append(len(blob))
                out["width"].append(int(w))
                out["height"].append(int(h))
                out["error"].append(err)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling PLAN for video/audio rows with a duration: emits
    (url, frame_ts_ms) rows JVM-side from the flat MEDIA_SCHEMA
    metadata; the decode of each frame would slot into
    extract_media_features.  Demonstrates the explode-then-decode
    partitioning shape.  Zero-duration rows (images) emit nothing."""
    dur = F.coalesce(F.col("duration_ms"), F.lit(0))
    return (df.where(dur > 0)
            .withColumn("frame_ts_ms",
                        F.explode(F.sequence(F.lit(0), dur - 1, F.lit(every_ms))))
            .select("url", "frame_ts_ms"))
