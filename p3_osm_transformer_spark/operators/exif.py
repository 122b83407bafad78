"""EXIF GPS geotag extraction from real JPEG bytes — Arrow-batched.

North-star step 1 names two geotag carriers: caption (operators/geotag.py,
pure codegen regexp) and EXIF.  EXIF GPS needs no image *decoder* — it is
byte-walking over the JPEG container (SOI → APP1 "Exif" → TIFF IFD0 →
GPS IFD → latitude/longitude rationals), so unlike pixel decode it is NOT
stubbed: this parser handles real-world JPEG EXIF, both byte orders,
malformed input returning NULLs (the dirty-data path).

Spark surface: ``extract_exif_geotag`` runs the parser per Arrow batch in
``mapInPandas`` (bounded by spark.sql.execution.arrow.maxRecordsPerBatch,
the same plumbing as images.py decode).  ``build_jpeg_with_exif_gps``
constructs a minimal valid JPEG carrying a GPS tag — the deterministic
fixture generator (no external data), also handy to sanity-check the
parser against files produced by real cameras.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SOI = b"\xff\xd8"
_APP1 = 0xFFE1
_EXIF_HEADER = b"Exif\x00\x00"
_TAG_GPS_IFD = 0x8825
_GPS_LAT_REF, _GPS_LAT = 0x0001, 0x0002
_GPS_LON_REF, _GPS_LON = 0x0003, 0x0004


# ---------------------------------------------------------------- parse

def _u16(b: bytes, o: int, le: bool) -> int:
    return struct.unpack_from("<H" if le else ">H", b, o)[0]


def _u32(b: bytes, o: int, le: bool) -> int:
    return struct.unpack_from("<I" if le else ">I", b, o)[0]


def _rational3(b: bytes, o: int, le: bool) -> float | None:
    """3 unsigned rationals (deg, min, sec) → decimal degrees."""
    vals = []
    for i in range(3):
        num = _u32(b, o + 8 * i, le)
        den = _u32(b, o + 8 * i + 4, le)
        if den == 0:
            if num != 0:
                return None
            vals.append(0.0)
        else:
            vals.append(num / den)
    return vals[0] + vals[1] / 60.0 + vals[2] / 3600.0


def _parse_gps_ifd(tiff: bytes, gps_off: int, le: bool):
    lat = lon = None
    lat_sign = lon_sign = 1.0
    n = _u16(tiff, gps_off, le)
    for i in range(n):
        e = gps_off + 2 + 12 * i
        tag = _u16(tiff, e, le)
        typ = _u16(tiff, e + 2, le)
        cnt = _u32(tiff, e + 4, le)
        if tag in (_GPS_LAT_REF, _GPS_LON_REF) and typ == 2:
            ref = tiff[e + 8: e + 9]        # ASCII, inlined in value field
            if tag == _GPS_LAT_REF and ref == b"S":
                lat_sign = -1.0
            if tag == _GPS_LON_REF and ref == b"W":
                lon_sign = -1.0
        elif tag in (_GPS_LAT, _GPS_LON) and typ == 5 and cnt == 3:
            off = _u32(tiff, e + 8, le)     # 24 bytes > 4 → always offset
            if off + 24 > len(tiff):
                return None, None
            d = _rational3(tiff, off, le)
            if d is None:
                return None, None
            if tag == _GPS_LAT:
                lat = d
            else:
                lon = d
    if lat is None or lon is None:
        return None, None
    return lat * lat_sign, lon * lon_sign


def parse_exif_gps(b: bytes) -> tuple[float | None, float | None]:
    """(lat, lon) from a JPEG's EXIF GPS IFD; (None, None) when absent or
    malformed.  Never raises — dirty bytes are data, not errors."""
    try:
        if not b or not bytes(b[:2]) == _SOI:
            return None, None
        b = bytes(b)
        pos = 2
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None, None
            marker = (b[pos] << 8) | b[pos + 1]
            if marker in (0xFFD9, 0xFFDA):          # EOI / image data
                return None, None
            seg_len = struct.unpack_from(">H", b, pos + 2)[0]
            if marker == _APP1 and b[pos + 4: pos + 10] == _EXIF_HEADER:
                tiff = b[pos + 10: pos + 2 + seg_len]
                if len(tiff) < 8:
                    return None, None
                le = tiff[:2] == b"II"
                if not le and tiff[:2] != b"MM":
                    return None, None
                if _u16(tiff, 2, le) != 42:
                    return None, None
                ifd0 = _u32(tiff, 4, le)
                n = _u16(tiff, ifd0, le)
                for i in range(n):
                    e = ifd0 + 2 + 12 * i
                    if _u16(tiff, e, le) == _TAG_GPS_IFD:
                        gps_off = _u32(tiff, e + 8, le)
                        if gps_off + 2 > len(tiff):
                            return None, None
                        return _parse_gps_ifd(tiff, gps_off, le)
                return None, None
            pos += 2 + seg_len
        return None, None
    except (struct.error, IndexError):
        return None, None


# ---------------------------------------------------------------- build (fixtures)

def _deg_min_sec(d: float) -> list[tuple[int, int]]:
    d = abs(d)
    deg = int(d)
    mins = int((d - deg) * 60)
    sec = (d - deg - mins / 60.0) * 3600.0
    return [(deg, 1), (mins, 1), (int(round(sec * 1_000_000)), 1_000_000)]


def build_jpeg_with_exif_gps(lat: float, lon: float,
                             little_endian: bool = True) -> bytes:
    """Minimal valid JPEG (SOI + EXIF APP1 + EOI) carrying a GPS tag."""
    le = little_endian
    E = "<" if le else ">"
    order = b"II" if le else b"MM"

    # layout (offsets relative to TIFF start):
    #   0  header(8)
    #   8  IFD0: count(2) + 1 entry(12) + next(4)            -> 26
    #   26 GPS IFD: count(2) + 4 entries(48) + next(4)       -> 80
    #   80 lat rationals (24), 104 lon rationals (24)
    ifd0, gps, lat_off, lon_off = 8, 26, 80, 104
    tiff = bytearray()
    tiff += order + struct.pack(E + "H", 42) + struct.pack(E + "I", ifd0)
    tiff += struct.pack(E + "H", 1)
    tiff += struct.pack(E + "HHI", _TAG_GPS_IFD, 4, 1) + struct.pack(E + "I", gps)
    tiff += struct.pack(E + "I", 0)

    def ascii_entry(tag: int, ch: bytes) -> bytes:
        return struct.pack(E + "HHI", tag, 2, 2) + ch + b"\x00\x00\x00"

    tiff += struct.pack(E + "H", 4)
    tiff += ascii_entry(_GPS_LAT_REF, b"N" if lat >= 0 else b"S")
    tiff += struct.pack(E + "HHI", _GPS_LAT, 5, 3) + struct.pack(E + "I", lat_off)
    tiff += ascii_entry(_GPS_LON_REF, b"E" if lon >= 0 else b"W")
    tiff += struct.pack(E + "HHI", _GPS_LON, 5, 3) + struct.pack(E + "I", lon_off)
    tiff += struct.pack(E + "I", 0)
    for v in (lat, lon):
        for num, den in _deg_min_sec(v):
            tiff += struct.pack(E + "II", num, den)
    assert len(tiff) == 128

    payload = _EXIF_HEADER + bytes(tiff)
    app1 = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return _SOI + app1 + b"\xff\xd9"


def _exif_jpeg_bytes(lat: pd.Series, lon: pd.Series) -> pd.Series:
    return pd.Series([build_jpeg_with_exif_gps(float(a), float(b))
                      for a, b in zip(lat, lon)])


def exif_jpeg_bytes(lat: Column | str, lon: Column | str) -> Column:
    """Fixture generator as a vectorized UDF: JPEG bytes carrying the given
    GPS coordinates (deterministic; used to plant EXIF-only rows)."""
    return F.pandas_udf(_exif_jpeg_bytes, T.BinaryType())(lat, lon)


# ---------------------------------------------------------------- Spark surface

def extract_exif_geotag(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Append ``exif_lat``/``exif_lon`` (nullable double) parsed from the
    binary column — Arrow-batched mapInPandas, all input columns pass
    through."""
    schema = T.StructType(df.schema.fields
                          + [T.StructField("exif_lat", T.DoubleType()),
                             T.StructField("exif_lon", T.DoubleType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            coords = [parse_exif_gps(b) for b in pdf[bytes_col]]
            pdf = pdf.copy()
            pdf["exif_lat"] = [c[0] for c in coords]
            pdf["exif_lon"] = [c[1] for c in coords]
            yield pdf

    return df.mapInPandas(gen, schema)


def geotag_caption_or_exif(df: DataFrame, caption: str = "caption",
                           bytes_col: str = "bytes") -> DataFrame:
    """North-star geotag rule: caption regexp (codegen) wins; EXIF GPS
    fills rows the caption leaves NULL.

    Single-scan plan: the caption extract is a pure projection (no scan
    split), then ONE Arrow pass fills the NULL rows from EXIF.  The heavy
    binary column is nulled out for caption-hits BEFORE the Arrow exchange
    (nulls cost nothing in Arrow), so Python only ever deserializes the
    payloads of caption-misses — the common path's bytes never leave the
    JVM, and the images table is scanned exactly once (the previous
    hit/miss branch-and-union shape scanned it per branch).  The output
    drops ``bytes_col``: every downstream consumer of the geotag rule
    (tile assign, kNN join) is done with the payload at this point.
    """
    from p3_osm_transformer_spark.operators.geotag import extract_geotag
    tagged = extract_geotag(df, caption)
    slim = tagged.withColumn(
        bytes_col, F.when(F.col("lat").isNull(), F.col(bytes_col)))
    out_schema = T.StructType(
        [f for f in slim.schema.fields if f.name != bytes_col])
    out_cols = [f.name for f in out_schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            miss = pdf["lat"].isna()
            if miss.any():
                coords = [parse_exif_gps(b) for b in pdf.loc[miss, bytes_col]]
                pdf.loc[miss, "lat"] = pd.array(
                    [c[0] for c in coords], dtype="float64")
                pdf.loc[miss, "lon"] = pd.array(
                    [c[1] for c in coords], dtype="float64")
            yield pdf[out_cols]

    return slim.mapInPandas(gen, out_schema)
