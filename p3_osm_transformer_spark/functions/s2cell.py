"""True S2 cell ids — the published S2CellId algorithm, bit-exact.

Upgrades the engine's second cell family (north rule: "S2 cell encodes")
from the documented s2z Morton deviation to the real thing: 64-bit S2
cell ids per the public S2 geometry spec —

  lat/lng → unit-sphere XYZ → cube face (largest-|component| with the
  C++ tie rule) → gnomonic (u,v) → quadratic (s,t) → leaf (i,j) at
  2^30 resolution → Hilbert-curve position via the standard
  4-bit lookup tables → ``face(3 bits) · position(2·level bits) ·
  trailing 1``; parent cells by clearing below the level's lsb.

Everything here derives from the published algorithm (the S2 geometry
library's public design docs and reference implementation semantics);
no library binding exists in this sandbox, so correctness is pinned by

  * an independent second implementation in tests (per-level orientation
    walk, no lookup tables — shares only the 4-entry published constant
    tables with this module),
  * structural anchors that are hand-derivable from the spec (the six
    level-0 face cells are 0x1000000000000000 + face·2^61; trailing-bit
    / parent-containment / range invariants),
  * a generated DuckDB SQL replay (contract q50) that re-runs the whole
    pipeline — face CASE, quadratic ST, 8 lookup-table Hilbert rounds —
    value-exact against the Spark output.

Ids are produced as Spark LongType via two's-complement reinterpretation
(faces 4-5 set bit 63 → negative longs), exactly how the public Java S2
library carries them; orderings/range-joins on the raw long are only
valid within a face, and `s2_range_min`/`s2_range_max` document that.

Reference parity note: the OSM reference (OsmRdfTransformer.java) has no
cell system at all — this module is north-star extension surface, kept
apart from functions/geocell.py (H3-alias grid) and functions/s2z.py
(Morton variant, retained for q38/q48 continuity).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p3_osm_transformer_spark.functions.geocell import arrow_cells

MAX_LEVEL = 30
_LOOKUP_BITS = 4
SWAP_MASK = 0x1
INVERT_MASK = 0x2

# The published Hilbert sub-cell traversal tables (spec constants).
POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, SWAP_MASK | INVERT_MASK)
# inverse: IJ_TO_POS[orientation][ij] = pos
IJ_TO_POS = tuple(
    tuple(row.index(ij) for ij in range(4)) for row in POS_TO_IJ)

# 4-bits-at-a-time lookup tables, built once by the standard recursion:
# lookup_pos[(ij << 2) | orig_orientation] = (pos << 2) | orientation
_lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)
_lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.uint64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int,
                 orient: int) -> None:
    if level == _LOOKUP_BITS:
        ij = (i << _LOOKUP_BITS) + j
        _lookup_pos[(ij << 2) + orig] = (pos << 2) + orient
        _lookup_ij[(pos << 2) + orig] = (ij << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = POS_TO_IJ[orient]
    for k in range(4):
        _init_lookup(level, i + (r[k] >> 1), j + (r[k] & 1), orig,
                     pos + k, orient ^ POS_TO_ORIENTATION[k])


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)


def _xyz(lon: np.ndarray, lat: np.ndarray):
    phi, theta = np.radians(lat), np.radians(lon)
    cosphi = np.cos(phi)
    return cosphi * np.cos(theta), cosphi * np.sin(theta), np.sin(phi)


def np_face(x: np.ndarray, y: np.ndarray, z: np.ndarray,
            beats=np.greater) -> np.ndarray:
    """Cube face of each XYZ: the axis of the largest |component|, +3
    where that component is negative.  ``beats`` is the tie rule of the
    nested comparisons; the spec's strict ``>`` gives a tie to the later
    axis (|x| = |y| > |z| is face 1)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(beats(ax, ay), np.where(beats(ax, az), 0, 2),
                    np.where(beats(ay, az), 1, 2))
    return np.where(np.choose(axis, [x, y, z]) < 0, axis + 3,
                    axis).astype(np.int64)


def np_face_uv(face: np.ndarray, x: np.ndarray, y: np.ndarray,
               z: np.ndarray):
    """Gnomonic (u, v) of each XYZ on its cube ``face`` (spec formulas)."""
    u, v = np.empty_like(x), np.empty_like(x)
    for f, uv in enumerate((lambda x, y, z: (y / x, z / x),     # +x
                            lambda x, y, z: (-x / y, z / y),    # +y
                            lambda x, y, z: (-x / z, -y / z),   # +z
                            lambda x, y, z: (z / x, y / x),     # −x
                            lambda x, y, z: (z / y, -x / y),    # −y
                            lambda x, y, z: (-y / z, -x / z))):  # −z
        m = face == f
        u[m], v[m] = uv(x[m], y[m], z[m])
    return u, v


def np_st_from_uv(u: np.ndarray) -> np.ndarray:
    """Quadratic UV→ST projection (spec formula)."""
    pos = 0.5 * np.sqrt(np.maximum(1 + 3 * u, 0.0))
    neg = 1 - 0.5 * np.sqrt(np.maximum(1 - 3 * u, 0.0))
    return np.where(u >= 0, pos, neg)


def np_ij_from_lonlat(lon: np.ndarray, lat: np.ndarray):
    """(face, i, j) at leaf (2^30) resolution."""
    x, y, z = _xyz(np.asarray(lon, float), np.asarray(lat, float))
    face = np_face(x, y, z)
    u, v = np_face_uv(face, x, y, z)
    n = 1 << MAX_LEVEL
    i = np.clip(np.floor(np_st_from_uv(u) * n), 0, n - 1).astype(np.uint64)
    j = np.clip(np.floor(np_st_from_uv(v) * n), 0, n - 1).astype(np.uint64)
    return face, i, j


def np_s2_cellid(lon: np.ndarray, lat: np.ndarray,
                 level: int = MAX_LEVEL) -> np.ndarray:
    """True S2 cell id at ``level`` — int64 view of the uint64 id.

    The standard 8-round loop: each round feeds 4 bits of i, 4 of j and
    the carried orientation through the lookup table, accumulating 8
    position bits; fully vectorized via fancy indexing (one gather per
    round), so the whole encode is ~24 numpy kernel passes regardless of
    batch size — the Arrow-batched fast path the 'no per-row Python'
    rule wants.
    """
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    face, i, j = np_ij_from_lonlat(lon, lat)
    faceu = face.astype(np.uint64)
    n = faceu << np.uint64(60)
    bits = faceu & np.uint64(SWAP_MASK)
    mask = np.uint64((1 << _LOOKUP_BITS) - 1)
    for k in range(7, -1, -1):
        kk = np.uint64(k * _LOOKUP_BITS)
        bits += ((i >> kk) & mask) << np.uint64(_LOOKUP_BITS + 2)
        bits += ((j >> kk) & mask) << np.uint64(2)
        bits = _lookup_pos[bits]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= np.uint64(SWAP_MASK | INVERT_MASK)
    leaf = n * np.uint64(2) + np.uint64(1)
    if level < MAX_LEVEL:
        lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
        leaf = (leaf & ~(lsb - np.uint64(1))) | lsb
    return leaf.view(np.int64)


# ------------------------------------------------------------ id algebra
# All pure bit math on the signed-long carrier — expressible in Catalyst
# (and in the DuckDB oracle) without touching Python.

def np_s2_level(ids: np.ndarray) -> np.ndarray:
    u = np.asarray(ids).astype(np.int64).view(np.uint64)
    lsb = u & (~u + np.uint64(1))
    # count trailing zeros via popcount(lsb - 1)
    v = lsb - np.uint64(1)
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + \
        ((v >> np.uint64(2)) & np.uint64(0x3333333333333333))
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    ctz = (v * np.uint64(0x0101010101010101)) >> np.uint64(56)
    return (np.uint64(MAX_LEVEL) - ctz // np.uint64(2)).astype(np.int64)


def np_s2_parent(ids: np.ndarray, level: int) -> np.ndarray:
    u = np.asarray(ids).astype(np.int64).view(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((u & ~(lsb - np.uint64(1))) | lsb).view(np.int64)


def s2_cellid(lon: Column, lat: Column, level: int = MAX_LEVEL) -> Column:
    """Column of true S2 cell ids at ``level`` (a scalar Arrow UDF over
    ``np_s2_cellid``); NULL where lon or lat is NULL or not finite."""
    def _s2_cellid_udf(lon: pa.Array, lat: pa.Array) -> pa.Array:
        return arrow_cells(lambda x, y: np_s2_cellid(x, y, level), lon, lat)

    return F.arrow_udf(_s2_cellid_udf, T.LongType())(lon, lat)


def s2_parent(cell: Column, level: int) -> Column:
    """Ancestor cell at coarser ``level`` — pure Catalyst bit math (no
    Python): (id & -lsb) | lsb with the level's lsb as a literal.  Works
    on the signed carrier because the face bits are untouched."""
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return ((cell.bitwiseAND(F.lit(~(lsb - 1)))).bitwiseOR(F.lit(lsb)))


def s2_level(cell: Column) -> Column:
    """Level from the trailing-bit position: 30 − ctz(id)/2, via Spark's
    codegen'd bit_count (popcount of lsb−1 = count of trailing zeros)."""
    lsb = cell.bitwiseAND(-cell)
    return (F.lit(MAX_LEVEL)
            - (F.bit_count(lsb - F.lit(1)) / F.lit(2)).cast("int")) \
        .alias("s2_level")


def s2_range_min(cell: Column) -> Column:
    """Smallest leaf id inside this cell: id − (lsb − 1).  With
    `s2_range_max`, turns containment into a BETWEEN range predicate —
    the S2 covering-join idiom.  Valid as a signed comparison only when
    both sides sit on the same face (bit 63 equal); cross-face covering
    joins should compare on (face, id & ~(7<<61)) instead."""
    lsb = cell.bitwiseAND(-cell)
    return cell - (lsb - F.lit(1))


def s2_range_max(cell: Column) -> Column:
    lsb = cell.bitwiseAND(-cell)
    return cell + (lsb - F.lit(1))


def s2_face(cell: Column) -> Column:
    """Top 3 bits, sign-safely: shiftrightunsigned on the long carrier."""
    return F.shiftrightunsigned(cell, 61)


# ------------------------------------------------- DuckDB oracle replay

def lookup_pos_sql_literal() -> str:
    """The 1024-entry lookup table as a DuckDB list literal (BIGINT —
    every entry < 2^12, no sign issues)."""
    return "[" + ",".join(str(int(x)) for x in _lookup_pos) + "]"
