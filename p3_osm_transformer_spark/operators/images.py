"""Image payload plumbing: codec, decode, phash, pixel-block stats.

The north rule's input table carries opaque image ``bytes`` (BinaryType).
This container has no PIL/libjpeg, so the *codec* is a deterministic
engine-internal raw format ("R16F") — but every piece of Spark plumbing the
real thing needs is here and real: binary columns, Arrow-batched pandas
UDFs, bounded batch sizes, schema-carrying decode, PSNR validation.

Format R16F (little-endian):
    magic   4B  b"R16F"
    w       4B  uint32
    h       4B  uint32
    c       1B  uint8 channels
    q       1B  uint8 quant step (1 = lossless "png", 4 = lossy "jpeg")
    payload w*h*c bytes of uint8 pixels, quantized to multiples of q

Lossy path: quantize to step 4 → max error 2/255 → PSNR ≈ 42 dB ≥ the 40 dB
gate (BASELINE.json input_hint).  Swapping in a real JPEG codec is a
one-function change (``encode_pixels``/``decode_bytes``); nothing else in
the engine touches pixel encoding.

Reference parity: the reference never decodes images (it is an RDF/XML
service); this module exists for the north-rule extension axes (payload =
image).  Decode → tile mapping mirrors the reference's XSLT "transform the
opaque payload into relational rows" role (XsltProcessorImpl.java:28-44).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC = b"R16F"
_QUANT = {"png": 1, "jpeg": 4}


# ---------------------------------------------------------------- codec (numpy, per batch)

def synth_pixels(seed: int, w: int, h: int, c: int = 1) -> np.ndarray:
    """Deterministic pixels: seeded gradient + noise (FIXTURES.md §1)."""
    rng = np.random.RandomState(seed & 0x7FFFFFFF)
    yy, xx = np.mgrid[0:h, 0:w]
    grad = ((xx * 255 / max(w - 1, 1)) * 0.5 + (yy * 255 / max(h - 1, 1)) * 0.5)
    noise = rng.randint(0, 64, size=(h, w))
    img = np.clip(grad + noise, 0, 255).astype(np.uint8)
    return np.repeat(img[:, :, None], c, axis=2) if c > 1 else img[:, :, None]


def encode_pixels(px: np.ndarray, fmt: str) -> bytes:
    q = _QUANT[fmt]
    h, w, c = px.shape
    quant = (px.astype(np.uint16) // q * q).astype(np.uint8)
    return MAGIC + struct.pack("<IIBB", w, h, c, q) + quant.tobytes()


def decode_bytes(b: bytes) -> np.ndarray:
    """bytes → (h, w, c) uint8.  R16F decodes natively; any other payload
    (real PNG/JPEG/…) is handed to PIL when the environment has it — an
    opportunistic adapter behind the codec seam (r4 verdict #8), so
    deployments with codecs decode real images through the SAME Spark
    plumbing while the codec-less sandbox keeps its documented guard."""
    if b[:4] == MAGIC:
        w, h, c, _q = struct.unpack("<IIBB", b[4:14])
        return np.frombuffer(b[14:14 + w * h * c],
                             dtype=np.uint8).reshape(h, w, c)
    try:
        from PIL import Image  # optional: not installed in this sandbox
    except ImportError:
        raise NotImplementedError(
            "real codecs (PNG/JPEG) unavailable in this sandbox; "
            "only the deterministic R16F container is supported here")
    import io
    px = np.asarray(Image.open(io.BytesIO(b)))
    if px.dtype != np.uint8:          # 16-bit PNG etc. → 8-bit scale
        px = (px.astype(np.float64) / px.max() * 255).astype(np.uint8) \
            if px.max() else px.astype(np.uint8)
    return px[:, :, None] if px.ndim == 2 else px


def phash64(px: np.ndarray) -> int:
    """8×8 mean-threshold perceptual hash of the first channel (public aHash)."""
    g = px[:, :, 0].astype(np.float64)
    h, w = g.shape
    blocks = g[: h // 8 * 8, : w // 8 * 8].reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    bits = (blocks > blocks.mean()).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= (1 << 63) else val


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


# ---------------------------------------------------------------- Spark surface

DECODED_META_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("mean_px", T.DoubleType()),
    T.StructField("std_px", T.DoubleType()),
    T.StructField("phash_check", T.LongType()),
])


def decode_stats(df: DataFrame) -> DataFrame:
    """mapInPandas decode: bytes → per-image pixel stats + recomputed phash.

    Arrow batch size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
    (set in session.py) so a batch of binary payloads stays memory-safe.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, b in zip(pdf["image_id"], pdf["bytes"]):
                px = decode_bytes(bytes(b))
                rows.append((iid, px.shape[1], px.shape[0],
                             float(px.mean()), float(px.std()), phash64(px)))
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_META_SCHEMA])

    return df.select("image_id", "bytes").mapInPandas(gen, DECODED_META_SCHEMA)


PIXEL_BLOCK_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bx", T.IntegerType()),
    T.StructField("by", T.IntegerType()),
    T.StructField("block_mean", T.DoubleType()),
])


def pixel_blocks(df: DataFrame, block: int = 16) -> DataFrame:
    """Decode each image and emit a grid of block-mean rows (raster → rows).

    This is the raster half of raster↔vector: downstream, each block row is
    mapped to a slippy/geocell tile by pure column math using the image's
    geotag + block offsets (operators/tiles.py).
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_iid, out_bx, out_by, out_mean = [], [], [], []
            for iid, b in zip(pdf["image_id"], pdf["bytes"]):
                px = decode_bytes(bytes(b))[:, :, 0].astype(np.float64)
                h, w = px.shape
                nby, nbx = h // block, w // block
                if nby == 0 or nbx == 0:
                    continue
                blocks = px[: nby * block, : nbx * block] \
                    .reshape(nby, block, nbx, block).mean(axis=(1, 3))
                ys, xs = np.mgrid[0:nby, 0:nbx]
                out_iid.extend([iid] * blocks.size)
                out_bx.extend(xs.flatten().tolist())
                out_by.extend(ys.flatten().tolist())
                out_mean.extend(blocks.flatten().tolist())
            yield pd.DataFrame({"image_id": out_iid, "bx": out_bx,
                                "by": out_by, "block_mean": out_mean})

    return df.select("image_id", "bytes").mapInPandas(gen, PIXEL_BLOCK_SCHEMA)


def _synth_image_bytes(seed: pd.Series, w: pd.Series, h: pd.Series,
                       fmt: pd.Series) -> pd.Series:
    return pd.Series([
        encode_pixels(synth_pixels(int(s), int(ww), int(hh)), f)
        for s, ww, hh, f in zip(seed, w, h, fmt)
    ])


def synth_image_bytes(seed: Column | str, w: Column | str, h: Column | str,
                      fmt: Column | str) -> Column:
    """Vectorized fixture-side encoder (Arrow-batched)."""
    return F.pandas_udf(_synth_image_bytes, T.BinaryType())(seed, w, h, fmt)


def _phash_of_bytes(b: pd.Series) -> pd.Series:
    out = []
    for x in b:
        try:
            out.append(phash64(decode_bytes(bytes(x))))
        except (NotImplementedError, ValueError, struct.error):
            out.append(None)
    return pd.Series(out, dtype="object")


def phash_of_bytes(b: Column | str) -> Column:
    """Perceptual hash per payload; container formats this sandbox cannot
    decode (real JPEG/PNG) yield NULL — dirty-data path, not an error."""
    return F.pandas_udf(_phash_of_bytes, T.LongType())(b)
