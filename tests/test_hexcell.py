"""Icosahedral aperture-7 hexcell grid (functions/hexcell.py).

Pinning strategy (same recipe as test_s2cell.py): exhaustive integer
proofs of the lattice algebra, geometric properties on the sphere, and
Spark↔numpy↔Catalyst equivalence.  The DuckDB value-exact replay is
contract q51 (driver-checked)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from p3_osm_transformer_spark.functions import hexcell as H


def _rings(ids, k: int, res: int) -> list:
    """np_hex_kring's flat (offsets, ids) as one array per cell."""
    offs, vals = H.np_hex_kring(ids, k, res)
    return np.split(vals, offs[1:-1])


def _pts(n: int, seed: int = 7):
    rng = np.random.RandomState(seed)
    lon = rng.uniform(-180, 180, n)
    # uniform ON THE SPHERE (uniform lat oversamples poles)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    return lon, lat


# ------------------------------------------------------ lattice algebra

def test_m_pow_exact():
    assert H._m_pow(0) == (1, 0, 0, 1)
    assert H._m_pow(1) == (3, 1, -1, 2)
    for r in range(10):
        a, b, c, d = H._m_pow(r)
        assert a * d - b * c == 7 ** r           # det(M^r) = 7^r
    # columns of M^r have hex-norm² = 7^r (q² + qr + r² on axial coords)
    a, b, c, d = H._m_pow(3)
    assert a * a + a * c + c * c == 7 ** 3
    assert b * b + b * d + d * d == 7 ** 3


def test_coset_completeness_exhaustive():
    """Every integer axial point decomposes as M·parent + residue with the
    residue in the 7-entry digit table — digits 0-6 are complete."""
    Q, R = np.meshgrid(np.arange(-400, 401), np.arange(-400, 401))
    q = Q.ravel().astype(np.int64)
    r = R.ravel().astype(np.int64)
    digs, _, _ = H._np_digits(q, r, 1)
    dq, dr = digs[0]
    assert (np.abs(dq) <= 1).all() and (np.abs(dr) <= 1).all()
    assert (H._DIGIT_LUT[dq + 1, dr + 1] >= 0).all()


def test_cosets_are_distinct():
    """The 7 residues lie in distinct cosets of M·Z² (no two digits can
    name the same child)."""
    seen = set()
    for dq, dr in H.DIGIT_RES:
        # canonical coset tag: solve M·a = v over 1/7 rationals; the
        # fractional part of (2v_q − v_r, v_q + 3v_r) mod 7 tags the coset
        tag = ((2 * dq - dr) % 7, (dq + 3 * dr) % 7)
        assert tag not in seen
        seen.add(tag)
    assert len(seen) == 7


def test_encode_decode_roundtrip_all_res():
    lon, lat = _pts(50000)
    for res in (0, 1, 4, 7, 9, 10, 15):
        ids = H.np_hex_cellid(lon, lat, res)
        assert (ids > 0).all()                       # positive carrier
        assert (((ids >> 45) & 0xF) == res).all()    # res field
        assert (((ids >> 49) & 0x1F) < 20).all()     # face field
        f1, q1, r1 = H.np_hex_axial(lon, lat, res)
        f2, q2, r2 = H.np_hex_decode(ids, res)
        assert (f1 == f2).all() and (q1 == q2).all() and (r1 == r2).all()


def test_unused_digits_are_sevens():
    lon, lat = _pts(1000)
    ids = H.np_hex_cellid(lon, lat, 7)
    low = (1 << (3 * (H.MAX_RES - 7))) - 1
    assert ((ids & low) == low).all()
    used = (ids >> (3 * (H.MAX_RES - 7))) & ((1 << 21) - 1)
    # every used digit < 7
    for k in range(7):
        assert (((used >> (3 * k)) & 0x7) < 7).all()


# ------------------------------------------------------------- geometry

def test_cell_pitch_and_adjacency():
    """Points closer than ~5% of the res-7 cell pitch share a cell or
    land in hex-adjacent cells of the same face; distinct cells dominate
    for points a pitch apart."""
    lon, lat = _pts(5000)
    pitch_deg = math.degrees(H.S0 * 7 ** -3.5)       # res-7 circumradius
    f1, q1, r1 = H.np_hex_axial(lon, lat, 7)
    f2, q2, r2 = H.np_hex_axial(lon + pitch_deg * 0.02,
                                lat + pitch_deg * 0.02, 7)
    same_face = f1 == f2
    assert same_face.mean() > 0.99                   # seams are rare
    dq = q2[same_face] - q1[same_face]
    dr = r2[same_face] - r1[same_face]
    hexdist = np.maximum(np.maximum(np.abs(dq), np.abs(dr)),
                         np.abs(dq + dr))
    assert (hexdist <= 1).all()


def test_parent_truncation_is_exact_hierarchy():
    """hex_parent (digit truncation) composes and commutes: parent at 5 of
    parent at 7 == parent at 5 directly; decoded parent coords equal the
    M-division of the child's coords."""
    lon, lat = _pts(20000)
    ids9 = H.np_hex_cellid(lon, lat, 9)

    def np_parent(ids, res):
        low = (1 << (3 * (H.MAX_RES - res))) - 1
        return ((ids & ~np.int64((0xF << 45) | low))
                | np.int64((res << 45) | low))

    p7 = np_parent(ids9, 7)
    p5a = np_parent(p7, 5)
    p5b = np_parent(ids9, 5)
    assert (p5a == p5b).all()
    # decoded parent = digit-chain division of child coords
    _, q9, r9 = H.np_hex_decode(ids9, 9)
    _, q7, r7 = H.np_hex_decode(p7, 7)
    digs, q_end, r_end = H._np_digits(q9.copy(), r9.copy(), 2)
    assert (q_end == q7).all() and (r_end == r7).all()


def test_direct_coarse_encode_mostly_agrees_with_parent():
    """Aperture-7 children overhang their parents (true of H3 as well),
    so direct coarse encode and digit-truncated parent agree for most —
    not all — points; the hierarchy itself (previous test) is exact."""
    lon, lat = _pts(20000)
    ids10 = H.np_hex_cellid(lon, lat, 10)
    ids7 = H.np_hex_cellid(lon, lat, 7)
    low = (1 << (3 * (H.MAX_RES - 7))) - 1
    par = ((ids10 & ~np.int64((0xF << 45) | low)) | np.int64((7 << 45) | low))
    assert (par == ids7).mean() > 0.85


def test_res1_uses_all_seven_children():
    lon, lat = _pts(50000)
    ids = H.np_hex_cellid(lon, lat, 1)
    assert len(np.unique(ids)) == 140                # 20 faces × 7 digits


# ------------------------------------------------------------ Spark API

def test_spark_udf_matches_numpy_and_catalyst_algebra(spark):
    """Plus NULL in → NULL out: a NULL or non-finite coordinate gives a
    NULL id and NULL algebra, never a task failure."""
    df = spark.range(0, 3000).select(
        (F.col("id") * 37 % 360 - 180 + 0.25).alias("lon"),
        (F.col("id") * 17 % 170 - 85 + 0.125).alias("lat"),
        F.col("id"))
    bad = spark.createDataFrame(
        [(None, 1.0, -1), (2.0, None, -2), (float("nan"), 3.0, -3),
         (4.0, float("inf"), -4)], "lon double, lat double, id long")
    out = (df.unionByName(bad)
           .select("id", "lon", "lat",
                   H.hex_cellid(F.col("lon"), F.col("lat"), 9).alias("h"))
           .withColumn("par", H.hex_parent(F.col("h"), 7))
           .withColumn("res", H.hex_res("h"))
           .withColumn("face", H.hex_face("h"))
           .withColumn("ax", H.hex_axial(F.col("h"), 9))).collect()
    nulls = [r for r in out if r.id < 0]
    assert len(nulls) == 4
    assert all(r.h is None and r.par is None and r.res is None
               for r in nulls)
    out = sorted((r for r in out if r.id >= 0), key=lambda r: r.id)
    lon = np.array([r.lon for r in out])
    lat = np.array([r.lat for r in out])
    ids = H.np_hex_cellid(lon, lat, 9)
    assert (ids == np.array([r.h for r in out])).all()
    f, q, r9 = H.np_hex_decode(ids, 9)
    for i, r in enumerate(out):
        assert r.res == 9 and r.face == f[i]
        assert (r.ax.face, r.ax.q, r.ax.r) == (f[i], q[i], r9[i])
    low = (1 << (3 * (H.MAX_RES - 7))) - 1
    exp = (ids & ~np.int64((0xF << 45) | low)) | np.int64((7 << 45) | low)
    assert (np.array([r.par for r in out]) == exp).all()


def test_margin_assertion_guards_region_coverage():
    """The S0 margin claim: every argmax-owned point's digit chain ends at
    the central hex — np_hex_cellid raises otherwise.  Dense sweep near
    icosahedron vertices (the worst case: region-circumradius points)."""
    # vertices of the derived icosahedron, in lon/lat
    c = H.FACE_CENTERS
    lat_v = np.degrees(np.arcsin(np.clip(c[:, 2], -1, 1)))
    lon_v = np.degrees(np.arctan2(c[:, 1], c[:, 0]))
    rng = np.random.RandomState(3)
    lon = np.concatenate([lon_v + rng.uniform(-25, 25, 20) for _ in range(200)])
    lat = np.clip(np.concatenate(
        [lat_v + rng.uniform(-25, 25, 20) for _ in range(200)]), -90, 90)
    H.np_hex_cellid(lon, lat, 12)    # must not raise


def test_rejects_bad_res():
    with pytest.raises(ValueError):
        H.np_hex_cellid(np.array([0.0]), np.array([0.0]), 16)


# ----------------------------------------------------- seam-aware k-ring

def test_center_reencode_identity_in_face():
    """np_hex_center inverts the projection: re-encoding a cell's center
    returns the cell wherever the center stays on the cell's own face
    (cells straddling a seam may center across it — those re-encode on
    the neighbor face by design)."""
    lon, lat = _pts(5000, seed=13)
    for res in (3, 6, 9):
        ids = H.np_hex_cellid(lon, lat, res)
        f, q, r = H.np_hex_decode(ids, res)
        clon, clat = H.np_hex_center(f, q, r, res)
        re = H.np_hex_cellid(clon, clat, res)
        f2 = (re >> 49) & 0x1F
        same_face = f2 == f
        assert (re[same_face] == ids[same_face]).all()
        assert same_face.mean() > 0.9


def test_minv7_pow_is_exact_inverse():
    for res in range(0, 12):
        m = H._m_pow(res)
        i = H._minv7_pow(res)
        # M^res @ MINV7^res == 7^res · I
        p = (m[0] * i[0] + m[1] * i[2], m[0] * i[1] + m[1] * i[3],
             m[2] * i[0] + m[3] * i[2], m[2] * i[1] + m[3] * i[3])
        assert p == (7 ** res, 0, 0, 7 ** res)


def test_kring_exact_in_face():
    """For cells whose whole disk stays on one face (the overwhelmingly
    common case away from seams), the ring is EXACTLY the lattice k-disk:
    3k(k+1)+1 distinct ids, all on the cell's face, self included."""
    lon, lat = _pts(800, seed=17)
    for res, k in ((4, 1), (6, 2), (9, 3)):
        ids = H.np_hex_cellid(lon, lat, res)
        f, _, _ = H.np_hex_decode(ids, res)
        rings = _rings(ids, k, res)
        n_onface = 0
        for c, face, ring in zip(ids, f, rings):
            assert c in set(ring)                      # self-inclusion
            if (((np.asarray(ring) >> 49) & 0x1F) == face).all():
                assert len(ring) == 3 * k * (k + 1) + 1
                n_onface += 1
        assert n_onface > len(ids) * 0.5               # seams are rare


def test_kring_covers_neighbor_cells_across_seams():
    """The join guarantee: a point within ~0.8 cell widths of another
    point's position has its cell inside the first cell's 1-ring — ALSO
    when the pair straddles an icosahedron face seam (r3 gap: rings
    silently truncated at seams)."""
    rng = np.random.RandomState(23)
    n = 20000
    lon = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-0.94, 0.94, n)))
    for res in (4, 6):
        ids = H.np_hex_cellid(lon, lat, res)
        f, q, r = H.np_hex_decode(ids, res)
        clon, clat = H.np_hex_center(f, q, r, res)
        w = np.percentile(
            np.hypot((lon - clon) * np.cos(np.radians(lat)), lat - clat), 99)
        ang = rng.uniform(0, 2 * np.pi, n)
        dd = rng.uniform(0, 0.8, n) * w
        lon2 = lon + dd * np.cos(ang) / np.maximum(
            np.cos(np.radians(lat)), 0.2)
        lat2 = np.clip(lat + dd * np.sin(ang), -90, 90)
        ids2 = H.np_hex_cellid(lon2, lat2, res)
        rings = _rings(ids, 1, res)
        missed_same, missed_cross, n_cross = 0, 0, 0
        for c2, face, ring in zip(ids2, f, rings):
            cross = ((c2 >> 49) & 0x1F) != face
            n_cross += int(cross)
            if c2 not in set(ring):
                missed_cross += int(cross)
                missed_same += int(not cross)
        assert n_cross > 0                    # the sweep does hit seams
        assert missed_same == 0
        assert missed_cross == 0


def test_kring_spark_udf_matches_numpy(spark):
    """Plus NULL in → NULL out: a NULL or non-finite coordinate gives a
    NULL cell and a NULL ring; a NULL cell itself a NULL ring."""
    df = spark.range(0, 400).select(
        (F.col("id") * 37 % 360 - 180 + 0.25).alias("lon"),
        (F.col("id") * 17 % 170 - 85 + 0.125).alias("lat"), "id")
    bad = spark.createDataFrame(
        [(None, 1.0, -1), (2.0, None, -2), (float("nan"), 3.0, -3),
         (float("-inf"), 4.0, -4)], "lon double, lat double, id long")
    out = (df.unionByName(bad)
           .select("id", "lon", "lat",
                   H.hex_cellid(F.col("lon"), F.col("lat"), 6).alias("h"))
           .withColumn("ring", H.hex_kring(F.col("h"), 2, 6))
           .orderBy("id").collect())
    assert [(r.h, r.ring) for r in out[:4]] == [(None, None)] * 4
    out = out[4:]
    ids = H.np_hex_cellid(np.array([r.lon for r in out]),
                          np.array([r.lat for r in out]), 6)
    rings = _rings(ids, 2, 6)
    for r, want in zip(out, rings):
        assert list(r.ring) == list(want)
    cells = spark.createDataFrame([(int(ids[0]),), (None,)], "h long")
    got = [r.ring for r in cells.select(H.hex_kring(F.col("h"), 2, 6)
                                        .alias("ring")).collect()]
    assert sorted(got, key=lambda g: g is None) == [list(rings[0]), None]
