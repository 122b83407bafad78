"""Multimodal payload operators beyond still images.

Per the training-pipeline brief: image/audio/video ride as opaque binary
columns with typed metadata; transforms are Arrow-batched pandas UDFs.
The *codecs* are deterministic engine containers (no media libs in this
sandbox — a real deployment swaps the ``_decode_*`` internals and nothing
else); the Spark plumbing — schemas, batch shapes, explode patterns — is
real and tested.

Containers:
  R16F  (operators/images.py)  one raster frame
  R16V  = b"R16V" + n_frames(4B) + concatenated R16F frames   (video)
  R16A  = b"R16A" + n_samples(4B) + int16 PCM samples         (audio)
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p3_osm_transformer_spark.operators.images import (
    MAGIC as FRAME_MAGIC,
    decode_bytes,
    encode_pixels,
    synth_pixels,
)

V_MAGIC, A_MAGIC = b"R16V", b"R16A"


# ------------------------------------------------------------- codecs

def encode_video(frames: list[np.ndarray], fmt: str = "png") -> bytes:
    payload = b"".join(encode_pixels(f, fmt) for f in frames)
    return V_MAGIC + struct.pack("<I", len(frames)) + payload


def decode_video(b: bytes) -> list[np.ndarray]:
    if b[:4] != V_MAGIC:
        raise NotImplementedError("real video codecs unavailable; R16V only")
    n = struct.unpack("<I", b[4:8])[0]
    frames, off = [], 8
    for _ in range(n):
        w, h, c, _q = struct.unpack("<IIBB", b[off + 4: off + 14])
        size = 14 + w * h * c
        frames.append(decode_bytes(b[off: off + size]))
        off += size
    return frames


def encode_audio(samples: np.ndarray) -> bytes:
    s16 = samples.astype(np.int16)
    return A_MAGIC + struct.pack("<I", len(s16)) + s16.tobytes()


def decode_audio(b: bytes) -> np.ndarray:
    if b[:4] != A_MAGIC:
        raise NotImplementedError("real audio codecs unavailable; R16A only")
    n = struct.unpack("<I", b[4:8])[0]
    return np.frombuffer(b[8:8 + 2 * n], dtype=np.int16)


def synth_video_bytes(seed: int, w: int, h: int, n_frames: int) -> bytes:
    return encode_video([synth_pixels(seed * 1000 + i, w, h)
                         for i in range(n_frames)])


def synth_audio_bytes(seed: int, n: int = 8000) -> bytes:
    rng = np.random.RandomState(seed & 0x7FFFFFFF)
    t = np.arange(n)
    wave = (3000 * np.sin(2 * np.pi * t * (220 + seed % 220) / 8000)
            + rng.randint(-200, 200, n))
    return encode_audio(wave)


# ------------------------------------------------------------- Spark surface

def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """bytes → resized bytes (nearest-neighbor, numpy) + new dims."""
    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, b in zip(pdf["image_id"], pdf["bytes"]):
                px = decode_bytes(bytes(b))
                ys = (np.arange(out_h) * px.shape[0] // out_h)
                xs = (np.arange(out_w) * px.shape[1] // out_w)
                rs = px[ys][:, xs]
                rows.append((iid, encode_pixels(rs, "png"), out_w, out_h))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h"])

    return df.select("image_id", "bytes").mapInPandas(gen, schema)


FRAME_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_bytes", T.BinaryType()),
    T.StructField("mean_px", T.DoubleType()),
])


def sample_frames(df: DataFrame, every_k: int = 2) -> DataFrame:
    """video(bytes) → one row per sampled frame (explode via mapInPandas)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, b in zip(pdf["video_id"], pdf["bytes"]):
                for i, frame in enumerate(decode_video(bytes(b))):
                    if i % every_k == 0:
                        rows.append((vid, i, encode_pixels(frame, "png"),
                                     float(frame.mean())))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA])

    return df.select("video_id", "bytes").mapInPandas(gen, FRAME_SCHEMA)


AUDIO_FEAT_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zero_cross_rate", T.DoubleType()),
    T.StructField("peak", T.IntegerType()),
])


def audio_features(df: DataFrame) -> DataFrame:
    """audio(bytes) → scalar features (the feature-extract stub, numpy)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, b in zip(pdf["audio_id"], pdf["bytes"]):
                s = decode_audio(bytes(b)).astype(np.float64)
                zc = float(np.mean(np.abs(np.diff(np.signbit(s)))))
                rows.append((aid, len(s), float(np.sqrt(np.mean(s**2))),
                             zc, int(np.abs(s).max())))
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEAT_SCHEMA])

    return df.select("audio_id", "bytes").mapInPandas(gen, AUDIO_FEAT_SCHEMA)


def _synth_video(seed: pd.Series, w: pd.Series, h: pd.Series,
                 n_frames: pd.Series) -> pd.Series:
    return pd.Series([synth_video_bytes(int(s), int(ww), int(hh), int(nf))
                      for s, ww, hh, nf in zip(seed, w, h, n_frames)])


def synth_video_udf(seed: Column | str, w: Column | str, h: Column | str,
                    n_frames: Column | str) -> Column:
    return F.pandas_udf(_synth_video, T.BinaryType())(seed, w, h, n_frames)


def _synth_audio(seed: pd.Series) -> pd.Series:
    return pd.Series([synth_audio_bytes(int(s)) for s in seed])


def synth_audio_udf(seed: Column | str) -> Column:
    return F.pandas_udf(_synth_audio, T.BinaryType())(seed)
