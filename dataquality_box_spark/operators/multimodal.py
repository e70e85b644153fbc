"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

What a query reaches is JVM-side: ``frame_sample_plan`` (one row per
planned video frame, the ``media_frame_sample`` query) and
``payload_integrity`` (crc + size per kind). Next to them sits the
Arrow-batched ``mapInPandas`` feature plumbing (``extract_features``),
which routes each payload through ``decode_payload``, the declared codec
seam. Two stdlib codecs are real:

  * ``audio/wav``  — PCM16 via stdlib ``wave`` + NumPy, 8-dim acoustic
    feature vector (duration, channels, rate, rms, peak, zero-crossing
    rate, mean, std). ``synth_wav_bytes`` emits real RIFF/WAV.
  * ``image/bmp``  — uncompressed 24-bpp BMP parsed with struct + NumPy
    (header, BGR rows, 4-byte row padding, bottom-up orientation), 8-dim
    color feature vector. ``synth_bmp_bytes`` emits real BMP bytes.

Every other mime raises NotImplementedError naming it. Adding a codec
changes only the per-mime branch of ``decode_payload``; the Spark plan,
schema and Arrow batching stay the same.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, payload_sha1 string, n_bytes long, "
    "entropy double, feat array<float>"
)


def synth_wav_bytes(
    freq_hz: float = 440.0, ms: int = 200, rate: int = 8000, amp: float = 0.5,
    channels: int = 1,
) -> bytes:
    """REAL PCM16 WAV bytes: a sine tone via the stdlib ``wave`` writer."""
    import io
    import wave

    n = int(rate * ms / 1000)
    t = np.arange(n, dtype=np.float64) / rate
    x = (amp * np.sin(2 * np.pi * freq_hz * t) * 32767.0).astype("<i2")
    if channels > 1:
        x = np.repeat(x, channels)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def synth_bmp_bytes(width: int = 16, height: int = 12, seed: int = 0) -> bytes:
    """REAL uncompressed 24-bpp BMP bytes (BITMAPINFOHEADER, bottom-up,
    4-byte-padded BGR rows) from a seeded pixel field."""
    import struct

    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, (height, width, 3), dtype=np.uint8)
    row_size = (width * 3 + 3) & ~3
    rows = np.zeros((height, row_size), dtype=np.uint8)
    rows[:, : width * 3] = rgb[::-1, :, ::-1].reshape(height, width * 3)  # bottom-up BGR
    pixel_data = rows.tobytes()
    data_off = 14 + 40
    file_size = data_off + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    return header + info + pixel_data


def _color_features(rgb: np.ndarray) -> np.ndarray:
    """Shared 8-dim color feature for decoded images: [w/4096, h/4096,
    mean_r, mean_g, mean_b, std_gray, min_gray, max_gray] — computed
    from the RGB planes only."""
    h, w = rgb.shape[:2]
    rgbf = rgb[..., :3].astype(np.float32)
    gray = rgbf.mean(axis=2)
    return np.array(
        [
            w / 4096.0,
            h / 4096.0,
            rgbf[..., 0].mean() / 255.0,
            rgbf[..., 1].mean() / 255.0,
            rgbf[..., 2].mean() / 255.0,
            gray.std() / 255.0,
            gray.min() / 255.0,
            gray.max() / 255.0,
        ],
        dtype=np.float32,
    )



def gen_media(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic synthetic media table: audio rows carry REAL WAV
    bytes, image rows REAL BMP bytes, and video rows an opaque
    ``application/octet-stream`` payload (32 seeded hash bytes) that
    only the JVM-side plans read."""
    rng = np.random.default_rng(seed)
    kinds = np.array(["image", "audio", "video"], dtype=object)[rng.integers(0, 3, n)]
    widths = rng.integers(4, 32, n)
    heights = rng.integers(4, 32, n)
    durations = rng.integers(50, 400, n)
    payloads, mime_col = [], []
    for i, k in enumerate(kinds):
        if k == "audio":
            mime_col.append("audio/wav")
            payloads.append(
                synth_wav_bytes(
                    freq_hz=220.0 + (i % 8) * 110.0, ms=int(durations[i]), rate=8000
                )
            )
        elif k == "image":
            mime_col.append("image/bmp")
            payloads.append(synth_bmp_bytes(int(widths[i]), int(heights[i]), seed=i))
        else:
            mime_col.append("application/octet-stream")
            payloads.append(hashlib.sha256(f"{seed}:{i}".encode()).digest())
    return pd.DataFrame(
        {
            "media_id": np.arange(n, dtype=np.int64),
            "conv_id": [f"conv_{i % 97:08d}" for i in range(n)],
            "kind": kinds,
            "mime": mime_col,
            "payload": payloads,
            "width": np.where(kinds == "image", widths, None),
            "height": np.where(kinds == "image", heights, None),
            "duration_ms": np.where(kinds != "image", durations, None),
        }
    )


def _decode_wav(payload: bytes) -> np.ndarray:
    """REAL audio decode: PCM16 WAV via stdlib ``wave`` + NumPy.

    8-dim feature: [duration_s, n_channels, rate/48k, rms, peak, zcr,
    mean, std] — the per-payload inference the real pipeline would run
    executor-side inside the same Arrow batch.
    """
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as w:
        n, ch, rate, width = (
            w.getnframes(),
            w.getnchannels(),
            w.getframerate(),
            w.getsampwidth(),
        )
        raw = w.readframes(n)
    if width != 2:
        raise NotImplementedError("only PCM16 WAV is decoded in-container")
    x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    zcr = (
        float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
        if x.size > 1
        else 0.0
    )
    return np.array(
        [
            n / rate,
            float(ch),
            rate / 48000.0,
            float(np.sqrt(np.mean(np.square(x)))) if x.size else 0.0,
            float(np.abs(x).max(initial=0.0)),
            zcr,
            float(x.mean()) if x.size else 0.0,
            float(x.std()) if x.size else 0.0,
        ],
        dtype=np.float32,
    )


def _decode_bmp(payload: bytes) -> np.ndarray:
    """REAL image decode: uncompressed 24-bpp BMP via struct + NumPy
    (header parse, 4-byte row padding, bottom-up order, BGR->RGB).

    8-dim feature: [w/4096, h/4096, mean_r, mean_g, mean_b, std_gray,
    min_gray, max_gray] (channel stats normalized to [0, 1]).
    """
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            "only uncompressed 24-bpp BMP is decoded in-container"
        )
    h = abs(height)
    row_size = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=data_off
    ).reshape(h, row_size)
    rgb = rows[:, : width * 3].reshape(h, width, 3)[..., ::-1]
    if height > 0:  # positive height = bottom-up storage
        rgb = rgb[::-1]
    return _color_features(rgb)


def decode_payload(mime: str, payload: bytes) -> np.ndarray:
    """The codec seam: route a payload to its decoder by mime. WAV and
    BMP decode for real; any other mime raises NotImplementedError."""
    if mime == "audio/wav":
        return _decode_wav(payload)
    if mime == "image/bmp":
        return _decode_bmp(payload)
    raise NotImplementedError(f"no in-container codec for mime {mime!r}")


def _entropy(payload: bytes) -> float:
    counts = np.bincount(np.frombuffer(payload, dtype=np.uint8), minlength=256)
    p = counts[counts > 0] / len(payload)
    return float(-(p * np.log2(p)).sum())


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: batched, executor-local decode."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha1": payloads.map(lambda b: hashlib.sha1(b).hexdigest()),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "entropy": payloads.map(_entropy),
                    "feat": [
                        decode_payload(m, b).tolist()
                        for m, b in zip(pdf["mime"], payloads)
                    ],
                }
            )

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame (explode on a
    JVM-side sequence — the decode itself would run in a later mapInPandas).
    """
    n_frames = (F.col("duration_ms") / every_ms).cast("int")
    return (
        df.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))))
        .select("media_id", "conv_id", "frame_idx", (F.col("frame_idx") * every_ms).alias("frame_ms"))
    )


def payload_integrity(df: DataFrame) -> DataFrame:
    """JVM-side integrity stats: crc + size per kind (no Python)."""
    return df.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.countDistinct(F.crc32("payload")).alias("distinct_payloads"),
    )
