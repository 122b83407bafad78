"""S2-style cube-face cell ids (vectorized numpy, Arrow-batched).

The second cell family the north rule asks for.  Public S2 geometry maps
lat/lng → unit-sphere XYZ → one of 6 cube faces → (u,v) gnomonic face
coordinates → quadratic (s,t) → leaf (i,j) → Hilbert-curve position.  This
engine implements the same pipeline through (i,j) exactly per the published
formulas, then packs ``face | interleave(i,j)`` with **Z-order** (Morton)
instead of the Hilbert curve: locality properties for pre-filter joins are
equivalent-grade, and the implementation stays ~60 lines of vectorizable
numpy.  Documented engine deviation: ids are not byte-compatible with
Google S2 ids (nothing downstream depends on that — the id is an opaque
join/partition key).

Exposed as a pandas_udf (Arrow-batched — the 'no per-row Python' rule) since
64-bit interleaving is not expressible as reasonable Catalyst math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _xyz_from_lonlat(lon: np.ndarray, lat: np.ndarray):
    phi, theta = np.radians(lat), np.radians(lon)
    cosphi = np.cos(phi)
    return cosphi * np.cos(theta), cosphi * np.sin(theta), np.sin(phi)


def _face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay,
                    np.where(ax >= az, 0, 2),
                    np.where(ay >= az, 1, 2))
    # negative-axis faces are face+3 (public S2 face numbering)
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face)
    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (un, ud, vn, vd) in enumerate([
        (1, 0, 2, 0),   # face 0: +x major -> u=y/x,  v=z/x
        (0, 1, 2, 1),   # face 1: +y major -> u=-x/y, v=z/y
        (0, 2, 1, 2),   # face 2: +z major -> u=-x/z, v=-y/z
        (2, 0, 1, 0),   # face 3: -x major -> u=-z/x, v=-y/x  (signs via formulas below)
        (2, 1, 0, 1),   # face 4: -y major
        (1, 2, 0, 2),   # face 5: -z major
    ]):
        m = face == f
        if not m.any():
            continue
        comps = (x, y, z)
        num, den = comps[un][m], comps[ud][m]
        num2 = comps[vn][m]
        if f == 0:
            u[m], v[m] = num / den, num2 / den
        elif f == 1:
            u[m], v[m] = -num / den, num2 / den
        elif f == 2:
            u[m], v[m] = -num / den, -num2 / den
        elif f == 3:
            u[m], v[m] = num / den, num2 / den          # x<0: z/x, y/x
        elif f == 4:
            u[m], v[m] = num / den, -num2 / den         # y<0: z/y, -x/y
        else:
            u[m], v[m] = -num / den, -num2 / den        # z<0: -y/z, -x/z
    return face.astype(np.int64), u, v


def _st_from_uv(u: np.ndarray) -> np.ndarray:
    """S2 quadratic projection (public formula)."""
    # np.where evaluates both branches: clamp each radicand at 0
    pos = 0.5 * np.sqrt(np.maximum(1 + 3 * u, 0.0))
    neg = 1 - 0.5 * np.sqrt(np.maximum(1 - 3 * u, 0.0))
    return np.where(u >= 0, pos, neg)


def _interleave_bits(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    out = np.zeros_like(i)
    for b in range(level):
        out |= ((i >> b) & 1) << (2 * b + 1)
        out |= ((j >> b) & 1) << (2 * b)
    return out


def np_s2z_cell(lon: np.ndarray, lat: np.ndarray, level: int = 16) -> np.ndarray:
    """face(3 bits) | morton(i,j) at ``level`` | level(5 bits)."""
    x, y, z = _xyz_from_lonlat(np.asarray(lon, float), np.asarray(lat, float))
    face, u, v = _face_uv(x, y, z)
    n = 1 << level
    i = np.clip((_st_from_uv(u) * n).astype(np.int64), 0, n - 1)
    j = np.clip((_st_from_uv(v) * n).astype(np.int64), 0, n - 1)
    return (face << 58) | (_interleave_bits(i, j, level) << 5) | level


def _s2z_cell_udf(lon: pd.Series, lat: pd.Series, level: pd.Series) -> pd.Series:
    lv = int(level.iloc[0]) if len(level) else 16
    return pd.Series(np_s2z_cell(lon.to_numpy(), lat.to_numpy(), lv))


def s2z_cell(lon: Column, lat: Column, level: int = 16) -> Column:
    return F.pandas_udf(_s2z_cell_udf, T.LongType())(lon, lat, F.lit(level))
