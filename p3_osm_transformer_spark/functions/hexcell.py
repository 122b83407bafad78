"""Icosahedral aperture-7 hexagonal cells — an H3-geometry grid built
from first principles.

Upgrades the engine's H3 story (north rule: "H3 (res 7-10) … cell
encodes") from the documented equirectangular alias (functions/geocell.py)
to a true hexagonal hierarchical grid with H3's defining geometry:

  lat/lng → unit-sphere XYZ → icosahedron face (argmax dot against the
  20 face centers, i.e. the faces' spherical Voronoi regions) →
  gnomonic projection onto the face's tangent plane (pure arithmetic —
  central projection needs no trig beyond the initial sin/cos) →
  axial hex coordinates → aperture-7 subdivision to the target
  resolution → hex (cube-coordinate) rounding → per-resolution digit
  extraction in EXACT integer arithmetic → H3-style packed 64-bit id
  (face · res · 15 base-7 digits, unused digits = 7).

Aperture 7 is the sub-lattice generated by the integer matrix

    M = [[3, 1], [-1, 2]]      (det = 7, columns of hex-norm √7)

acting on axial coordinates: res-(k+1) coordinates = M @ res-k
coordinates.  That matrix IS the ~19.1° Class-III rotation+scale of
Sahr's aperture-7 DGGS / Uber H3 (atan(√3/5) against the parent grid).
Parent extraction divides by M exactly: the numerators (2q−r, q+3r) are
integers and n/7 can never land on .5 (2n even vs 7·odd), so hex
rounding of the rational parent coordinates — and therefore every digit
— is exact integer arithmetic with no float in the loop.  The 7 cosets
of M·Z² in Z² are exactly {center, 6 axial units} (asserted exhaustively
in tests), which is what makes digits 0-6 complete.

Deliberate deviations from Uber's H3, all documented:

  * Base orientation: the icosahedron here is the canonical golden-ratio
    solid (vertices = cyclic permutations of (0, ±1, ±φ), deterministic
    face ordering); Uber rotated theirs so no vertex lands on land.  The
    swap seam is the three 20-row constant tables below.
  * Faces index independent hex lattices (face id rides in the cell id);
    there are no pentagons and no cross-face grid stitching.  Rollups,
    equality joins and containment are exact; k-rings truncate at face
    seams (ids on the far side of a seam live on the other face's
    lattice).  Real H3 stitches the 20 faces into a closed grid with 12
    pentagons; that stitching (the base-cell tables) is the one part of
    H3 that is a published *artifact* rather than a published
    *algorithm*, so it is out of honest reach here.
  * Resolution scale: res-0 cells are face-sized, so a hexcell at res r
    sits between H3 res r and r+1 in area (one aperture step = ×7 area;
    hexcell res 7 ≈ 5.4 km circumradius vs H3 res 7 ≈ 2.4 km).

Correctness pinning (same recipe as functions/s2cell.py):
  * exhaustive integer proofs of the lattice algebra in tests
    (coset completeness, digit/parent roundtrip, decode∘encode identity),
  * geometric properties: cell-center distance bounds, ring adjacency,
    parent containment vs direct coarse encode,
  * a generated DuckDB SQL replay of the full pipeline (contract q51) —
    value-exact against the Spark output, including every digit round.

Reference parity note: the OSM reference (OsmRdfTransformer.java) has no
cell system; this module is north-star extension surface.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p3_osm_transformer_spark.functions.geocell import arrow_cells
from p3_osm_transformer_spark.functions.s2cell import _xyz

MAX_RES = 15

# aperture-7 axial subdivision matrix and its exact inverse·7
_M = ((3, 1), (-1, 2))            # child = M @ parent
_MINV7 = ((2, -1), (1, 3))        # parent·7 = MINV7 @ child

# digit 0-6 ↔ residue (q, r) of v − M·parent: center + the 6 axial units,
# in fixed counter-clockwise order
DIGIT_RES = ((0, 0), (1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1))
_RES_TO_DIGIT = {v: d for d, v in enumerate(DIGIT_RES)}

# ------------------------------------------------- icosahedron (derived)
# Everything below is COMPUTED from φ at import — no opaque constants.


def _icosa_tables():
    phi = (1.0 + math.sqrt(5.0)) / 2.0
    raw = []
    for a, b in ((1.0, phi), (-1.0, phi), (1.0, -phi), (-1.0, -phi)):
        raw += [(0.0, a, b), (a, b, 0.0), (b, 0.0, a)]
    verts = np.asarray(raw, dtype=np.float64)
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)
    # adjacency: the 30 closest vertex pairs; faces: mutually adjacent triples
    dots = verts @ verts.T
    adj = dots > 0.44             # cos(63.43°) ≈ 0.4472, next value ≈ −0.447
    faces = []
    for i in range(12):
        for j in range(i + 1, 12):
            if not adj[i, j]:
                continue
            for k in range(j + 1, 12):
                if adj[i, k] and adj[j, k]:
                    faces.append((i, j, k))
    assert len(faces) == 20
    centers = np.stack([verts[list(f)].sum(axis=0) for f in faces])
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # deterministic face order: lexicographic by rounded center coords
    order = sorted(range(20), key=lambda f: tuple(np.round(centers[f], 12)))
    faces = [faces[f] for f in order]
    centers = centers[order]
    # per-face orthonormal basis: ex toward the face's first vertex,
    # ey = center × ex (right-handed around the outward normal)
    ex = np.empty_like(centers)
    ey = np.empty_like(centers)
    for f, tri in enumerate(faces):
        v0 = verts[tri[0]]
        t = v0 - (v0 @ centers[f]) * centers[f]
        ex[f] = t / np.linalg.norm(t)
        ey[f] = np.cross(centers[f], ex[f])
    # Gnomonic radius of a face's OWNED region: argmax-dot face
    # assignment gives each face the spherical Voronoi cell of its
    # center — a pentagon whose vertices are the icosahedron vertex
    # directions — so every owned point projects within tan(θ_vertex)
    # of the plane origin.  The res-0 hex must CONTAIN that disk (its
    # inradius ≥ the disk radius, hence the 2/√3), with a further 1.3×
    # margin because aperture-7 descendants of the central hex overhang
    # its boundary by up to Σ(1/√7)^k ≈ 0.61 circumradii — the digit
    # chain of every owned point must terminate at the central hex
    # (np_hex_cellid asserts it; the id has no res-0 coordinate field).
    cosv = float(verts[faces[0][0]] @ centers[0])
    s0 = math.tan(math.acos(cosv)) * (2.0 / math.sqrt(3.0)) * 1.3
    return centers, ex, ey, s0


FACE_CENTERS, FACE_EX, FACE_EY, S0 = _icosa_tables()

# axial-from-plane constants (pointy-top hexes, circumradius S0 at res 0)
K_QU = math.sqrt(3.0) / 3.0 / S0      # q = K_QU·u + K_QV·v
K_QV = -1.0 / 3.0 / S0
K_RV = 2.0 / 3.0 / S0                 # r = K_RV·v


def _m_pow(r: int) -> tuple[int, int, int, int]:
    """M^r as exact integers (m00, m01, m10, m11)."""
    m = (1, 0, 0, 1)
    for _ in range(r):
        m = (3 * m[0] + m[2], 3 * m[1] + m[3],
             -m[0] + 2 * m[2], -m[1] + 2 * m[3])   # M @ m, M = [[3,1],[-1,2]]
    return m


def np_face_of(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> np.ndarray:
    """argmax over the 20 face-center dots (first index wins ties)."""
    dots = (FACE_CENTERS[:, 0][:, None] * x
            + FACE_CENTERS[:, 1][:, None] * y
            + FACE_CENTERS[:, 2][:, None] * z)
    return dots.argmax(axis=0).astype(np.int64)


def _np_hex_round(qf: np.ndarray, rf: np.ndarray):
    """Cube rounding with floor(x+0.5) per coordinate (no half-even —
    replayable in SQL) and the standard largest-error fix."""
    yf = -qf - rf
    rq = np.floor(qf + 0.5)
    ry = np.floor(yf + 0.5)
    rz = np.floor(rf + 0.5)
    dq = np.abs(rq - qf)
    dy = np.abs(ry - yf)
    dz = np.abs(rz - rf)
    bad = rq + ry + rz != 0
    fix_q = bad & (dq > dy) & (dq > dz)
    fix_z = bad & ~fix_q & ~(dy > dz)
    rq = np.where(fix_q, -ry - rz, rq)
    rz = np.where(fix_z, -rq - ry, rz)
    return rq.astype(np.int64), rz.astype(np.int64)


def np_hex_axial(lon: np.ndarray, lat: np.ndarray, res: int):
    """(face, q, r): integer axial coordinates at ``res`` on the owning
    face's lattice — the join key form of the cell id."""
    x, y, z = _xyz(np.asarray(lon, dtype=np.float64),
                   np.asarray(lat, dtype=np.float64))
    face = np_face_of(x, y, z)
    c = FACE_CENTERS[face]
    exv = FACE_EX[face]
    eyv = FACE_EY[face]
    t = 1.0 / (x * c[:, 0] + y * c[:, 1] + z * c[:, 2])
    px = x * t - c[:, 0]
    py = y * t - c[:, 1]
    pz = z * t - c[:, 2]
    u = px * exv[:, 0] + py * exv[:, 1] + pz * exv[:, 2]
    v = px * eyv[:, 0] + py * eyv[:, 1] + pz * eyv[:, 2]
    q0 = K_QU * u + K_QV * v
    r0 = K_RV * v
    m00, m01, m10, m11 = _m_pow(res)
    qf = m00 * q0 + m01 * r0
    rf = m10 * q0 + m11 * r0
    q, r = _np_hex_round(qf, rf)
    return face, q, r


def _np_digits(q: np.ndarray, r: np.ndarray, res: int):
    """Exact integer digit extraction, res → 1 (coarsest digit last)."""
    digits = []
    for _ in range(res):
        nq = 2 * q - r                       # parent·7 (exact)
        nr = q + 3 * r
        ny = -nq - nr
        pq = np.floor_divide(2 * nq + 7, 14)  # round(n/7), no .5 possible
        py = np.floor_divide(2 * ny + 7, 14)
        pz = np.floor_divide(2 * nr + 7, 14)
        eq = np.abs(2 * nq - 14 * pq)         # rounding error ×14 (integer)
        ey = np.abs(2 * ny - 14 * py)
        ez = np.abs(2 * nr - 14 * pz)
        bad = pq + py + pz != 0
        fix_q = bad & (eq > ey) & (eq > ez)
        fix_z = bad & ~fix_q & ~(ey > ez)
        pq = np.where(fix_q, -py - pz, pq)
        pz = np.where(fix_z, -pq - py, pz)
        dq = q - (3 * pq + pz)               # residue = v − M@parent
        dr = r - (-pq + 2 * pz)
        digits.append((dq, dr))
        q, r = pq, pz
    return digits, q, r


_DIGIT_LUT = np.full((3, 3), -1, dtype=np.int64)
for _d, (_dq, _dr) in enumerate(DIGIT_RES):
    _DIGIT_LUT[_dq + 1, _dr + 1] = _d


def np_hex_cellid(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Packed 64-bit hexcell id (always positive):

        bits 53-49: face (0-19) · bits 48-45: res · bits 44-0: digits
        digit k (1 = coarsest) at bits (15−k)·3; unused digits = 7.

    Coarse digits sit above fine ones, so within (face, res) the ids of
    a parent's descendants are contiguous under the digit mask — parent
    equality IS prefix equality (hex_parent below)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    cell, valid = _np_ids_from_axial(*np_hex_axial(lon, lat, res), res)
    if not valid.all():
        # the S0 margin guarantees this never fires for argmax-owned
        # points (see _icosa_tables); a trip means the margin is wrong
        raise AssertionError("digit chain did not terminate at the "
                             "central res-0 hex")
    return cell


def np_hex_decode(cell: np.ndarray, res: int):
    """(face, q, r) back from ids (all at the SAME literal ``res``)."""
    cell = np.asarray(cell, dtype=np.int64)
    face = (cell >> 49) & 0x1F
    q = np.zeros_like(cell)
    r = np.zeros_like(cell)
    res_q = np.asarray([v[0] for v in DIGIT_RES], dtype=np.int64)
    res_r = np.asarray([v[1] for v in DIGIT_RES], dtype=np.int64)
    for k in range(1, res + 1):                   # coarse → fine
        d = (cell >> (3 * (MAX_RES - k))) & 0x7
        # v = M@v + digit residue
        q, r = 3 * q + r + res_q[d], -q + 2 * r + res_r[d]
    return face, q, r


def _minv7_pow(r: int) -> tuple[int, int, int, int]:
    """(MINV7)^r as exact integers — M^-r = (MINV7)^r / 7^r."""
    m = (1, 0, 0, 1)
    for _ in range(r):
        m = (2 * m[0] - m[2], 2 * m[1] - m[3],
             m[0] + 3 * m[2], m[1] + 3 * m[3])    # MINV7 @ m, MINV7 = [[2,-1],[1,3]]
    return m


def np_hex_center(face: np.ndarray, q: np.ndarray, r: np.ndarray,
                  res: int):
    """(lon, lat) of the lattice position (q, r) on ``face``'s plane —
    the exact inverse of np_hex_axial's projection chain.  Positions need
    not be owned by ``face``: near a seam the returned center may fall in
    a neighboring face's Voronoi region (that is what hex_kring exploits
    to stitch rings across seams)."""
    i00, i01, i10, i11 = _minv7_pow(res)
    sc = 7.0 ** res
    q0 = (i00 * q + i01 * r) / sc
    r0 = (i10 * q + i11 * r) / sc
    v = r0 / K_RV
    u = (q0 - K_QV * v) / K_QU
    c = FACE_CENTERS[face]
    exv = FACE_EX[face]
    eyv = FACE_EY[face]
    px = c[:, 0] + u * exv[:, 0] + v * eyv[:, 0]
    py = c[:, 1] + u * exv[:, 1] + v * eyv[:, 1]
    pz = c[:, 2] + u * exv[:, 2] + v * eyv[:, 2]
    n = np.sqrt(px * px + py * py + pz * pz)
    px, py, pz = px / n, py / n, pz / n
    lon = np.degrees(np.arctan2(py, px))
    lat = np.degrees(np.arcsin(np.clip(pz, -1.0, 1.0)))
    return lon, lat


def kring_offsets(k: int) -> list[tuple[int, int]]:
    """Axial offsets of the hex disk of radius k (3k(k+1)+1 cells),
    deterministic order."""
    return [(dq, dr) for dq in range(-k, k + 1) for dr in range(-k, k + 1)
            if max(abs(dq), abs(dr), abs(dq + dr)) <= k]


def _np_ids_from_axial(face: np.ndarray, q: np.ndarray, r: np.ndarray,
                       res: int):
    """(ids, valid) — pack lattice positions into cell ids via the exact
    integer digit chain; ``valid`` is False where the chain does not
    terminate at the central res-0 hex (positions far outside the face's
    owned margin — only reachable for off-face ring offsets)."""
    cell = (face.astype(np.int64) << 49) | (res << 45)
    cell = cell | ((1 << (3 * (MAX_RES - res))) - 1)
    digits, q0, r0 = _np_digits(q.astype(np.int64), r.astype(np.int64), res)
    valid = (q0 == 0) & (r0 == 0)
    for k, (dq, dr) in enumerate(digits):
        inside = (np.abs(dq) <= 1) & (np.abs(dr) <= 1)
        d = _DIGIT_LUT[np.where(inside, dq + 1, 0),
                       np.where(inside, dr + 1, 0)]
        valid &= inside & (d >= 0)
        cell = cell | (np.where(d >= 0, d, 0) << (3 * (MAX_RES - res + k)))
    return cell, valid


def np_hex_kring(cell: np.ndarray, k: int,
                 res: int) -> tuple[np.ndarray, np.ndarray]:
    """Seam-aware k-ring, flat: (offsets, ids) with ``ids[offsets[i]:
    offsets[i + 1]]`` the DISTINCT (sorted) candidate ids covering cell
    i's radius-k axial disk — the union of

    * the exact in-face lattice ids of the disk positions (where the
      integer digit chain terminates — always, for positions within the
      face's owned margin), and
    * where the disk crosses an icosahedron face seam: the owner-face
      re-encode of each crossing position's CENTER, widened by that
      cell's 1-disk on ITS face's lattice.  The two faces' lattices are
      mutually rotated, so a single cell per sampled center can sit one
      neighbor off from the cell an across-the-seam point actually
      encodes to; the 1-disk absorbs that offset (the sampled centers
      are ≤1 cell width apart, so every owner-lattice cell overlapping
      the ring region is within one cell of a sample), and
    * the input cell itself.

    Within a face (all centers owned by the cell's own face) the union
    collapses to the exact lattice k-ring.  Across seams it is a COVERING
    of the ring region by both lattices, not a stitched H3 grid (which
    needs Uber's unpublished base-cell artifact; module docstring) —
    candidate-generation semantics for ring joins: the ring never
    silently truncates at a seam, at the cost of a few extra candidates
    beside it."""
    cell = np.asarray(cell, dtype=np.int64)
    n = len(cell)
    face, q, r = np_hex_decode(cell, res)
    faces, qq, rr, rows = _disk(face, q, r, np.arange(n), k)
    lattice_ids, valid = _np_ids_from_axial(faces, qq, rr, res)
    center_ids = np_hex_cellid(*np_hex_center(faces, qq, rr, res), res)
    # seam-crossing samples: widen by the owner-face 1-disk (see docstring)
    foreign = ((center_ids >> 49) & 0x1F) != faces
    f2, q2, r2, rows2 = _disk(*np_hex_decode(center_ids[foreign], res),
                              rows[foreign], 1)
    seam_ids, valid2 = _np_ids_from_axial(f2, q2, r2, res)
    row = np.concatenate([rows[valid], rows, rows2[valid2], np.arange(n)])
    ids = np.concatenate([lattice_ids[valid], center_ids, seam_ids[valid2],
                          cell])
    order = np.lexsort((ids, row))
    row, ids = row[order], ids[order]
    keep = np.ones(len(ids), dtype=bool)
    keep[1:] = (row[1:] != row[:-1]) | (ids[1:] != ids[:-1])
    row, ids = row[keep], ids[keep]
    return np.searchsorted(row, np.arange(n + 1)), ids


def _disk(face: np.ndarray, q: np.ndarray, r: np.ndarray, rows: np.ndarray,
          k: int):
    """(face, q, r, row) of every position of each cell's radius-k disk,
    cell-major."""
    dq, dr = np.asarray(kring_offsets(k)).T
    m = len(dq)
    return (np.repeat(face, m), (q[:, None] + dq).ravel(),
            (r[:, None] + dr).ravel(), np.repeat(rows, m))


def hex_kring(cell: Column, k: int, res: int) -> Column:
    """array<long> of the seam-aware k-ring of ``cell`` (ids at literal
    ``res``) — explode + equi-join against an indexed table's hex column
    is the hexcell ring-expansion access path (the spatial analogue of
    the reference's Lucene index probe, JenaTextConfig.java:52-59).  NULL
    where ``cell`` is NULL."""
    def _hex_kring_udf(cell: pa.Array) -> pa.Array:
        return arrow_cells(lambda c: np_hex_kring(c, k, res), cell)

    return F.arrow_udf(_hex_kring_udf, T.ArrayType(T.LongType()))(cell)


# ------------------------------------------------------------ Spark API

def hex_cellid(lon: Column, lat: Column, res: int = 9) -> Column:
    """Column of aperture-7 hexcell ids at ``res`` (a scalar Arrow UDF
    over ``np_hex_cellid``: ~40 vectorized kernel passes per batch); NULL
    where lon or lat is NULL or not finite."""
    def _hex_cellid_udf(lon: pa.Array, lat: pa.Array) -> pa.Array:
        return arrow_cells(lambda x, y: np_hex_cellid(x, y, res), lon, lat)

    return F.arrow_udf(_hex_cellid_udf, T.LongType())(lon, lat)


def hex_res(cell: Column) -> Column:
    return F.shiftright(cell, 45).bitwiseAND(F.lit(0xF))


def hex_face(cell: Column) -> Column:
    return F.shiftright(cell, 49).bitwiseAND(F.lit(0x1F))


def hex_parent(cell: Column, res: int) -> Column:
    """Ancestor id at coarser ``res`` — pure Catalyst bit math: keep the
    top ``res`` digits, set the rest to 7, rewrite the res field."""
    low = (1 << (3 * (MAX_RES - res))) - 1
    return (cell.bitwiseAND(F.lit(~(low | (0xF << 45))))
            .bitwiseOR(F.lit((res << 45) | low)))


def hex_axial(cell: Column, res: int) -> Column:
    """struct(face, q, r) decoded in Catalyst (ids at literal ``res``) —
    the integer join key for ring expansion: the k-ring of (q, r) is
    plain ±1 arithmetic on these coordinates (within a face).

    Closed form, not recursion: v = Σ_k M^(res−k) @ digit_k.  The
    recursive q←3q+r+d update would textually re-inline each level's
    expression into the next (Catalyst has no let for plain columns) —
    a 3^res tree; the sum keeps it linear in res."""
    dq_arr = F.lit([v[0] for v in DIGIT_RES])
    dr_arr = F.lit([v[1] for v in DIGIT_RES])
    q: Column = F.lit(0).cast("long")
    r: Column = F.lit(0).cast("long")
    for k in range(1, res + 1):
        idx = (F.shiftright(cell, 3 * (MAX_RES - k))
               .bitwiseAND(F.lit(0x7)) + F.lit(1)).cast("int")
        dq = F.element_at(dq_arr, idx)
        dr = F.element_at(dr_arr, idx)
        m00, m01, m10, m11 = _m_pow(res - k)
        q = q + F.lit(m00) * dq + F.lit(m01) * dr
        r = r + F.lit(m10) * dq + F.lit(m11) * dr
    return F.struct(hex_face(cell).alias("face"),
                    q.alias("q"), r.alias("r"))


# ------------------------------------------------- DuckDB oracle replay

def _sql_sel(name: str, table: np.ndarray, col: int) -> str:
    """CASE face WHEN f THEN <literal> … for one component column."""
    branches = " ".join(f"WHEN {f} THEN {table[f, col]!r}"
                        for f in range(20))
    return f"CASE face {branches} END AS {name}"


def hex_cellid_replay_cte(res: int) -> str:
    """DuckDB CTE chain replaying np_hex_cellid value-exactly over a
    ``pts(lon, lat)`` CTE → ``hexcells(…, hexid)``.  Every constant is
    repr()'d from the same module tables; every float op appears in the
    same order; the digit rounds are pure integer arithmetic."""
    dot = " + ".join(
        f"(x*{FACE_CENTERS[f, 0]!r} + y*{FACE_CENTERS[f, 1]!r} "
        f"+ z*{FACE_CENTERS[f, 2]!r})" for f in range(20))
    dots_cols = ", ".join(
        f"(x*{FACE_CENTERS[f, 0]!r} + y*{FACE_CENTERS[f, 1]!r} "
        f"+ z*{FACE_CENTERS[f, 2]!r}) AS d{f}" for f in range(20))
    gmax = "greatest(" + ", ".join(f"d{f}" for f in range(20)) + ")"
    face_case = ("CASE " + " ".join(
        f"WHEN d{f} >= {gmax} THEN {f}" for f in range(20)) + " END")
    m00, m01, m10, m11 = _m_pow(res)
    rounds = []
    prev = "ax0"
    for k in range(res):
        rounds.append(f"""
dg{k} AS (
  SELECT *, 2*q{k} - r{k} AS nq, q{k} + 3*r{k} AS nr,
         -(2*q{k} - r{k}) - (q{k} + 3*r{k}) AS ny
  FROM {prev}),
pr{k} AS (
  SELECT *, CAST(FLOOR((2*nq + 7) / 14.0) AS BIGINT) AS pq0,
            CAST(FLOOR((2*ny + 7) / 14.0) AS BIGINT) AS py0,
            CAST(FLOOR((2*nr + 7) / 14.0) AS BIGINT) AS pz0,
            abs(2*nq - 14*CAST(FLOOR((2*nq + 7) / 14.0) AS BIGINT)) AS eq_,
            abs(2*ny - 14*CAST(FLOOR((2*ny + 7) / 14.0) AS BIGINT)) AS ey_,
            abs(2*nr - 14*CAST(FLOOR((2*nr + 7) / 14.0) AS BIGINT)) AS ez_
  FROM dg{k}),
fx{k} AS (
  SELECT *, CASE WHEN pq0 + py0 + pz0 != 0 AND eq_ > ey_ AND eq_ > ez_
                 THEN -py0 - pz0 ELSE pq0 END AS pq1
  FROM pr{k}),
fz{k} AS (
  SELECT *, CASE WHEN pq0 + py0 + pz0 != 0
                  AND NOT (eq_ > ey_ AND eq_ > ez_) AND NOT (ey_ > ez_)
                 THEN -pq1 - py0 ELSE pz0 END AS pz1
  FROM fx{k}),
ax{k + 1} AS (
  SELECT face,
         {"hexid | ((" + _RES_DIGIT_SQL.format(
             dq=f"q{k} - (3*pq1 + pz1)", dr=f"r{k} - (-pq1 + 2*pz1)")
          + f") << {3 * (MAX_RES - res + k)}) AS hexid" if k
          else "(CAST(face AS BIGINT) << 49) | (" + str(res << 45) + ") | "
          + str((1 << (3 * (MAX_RES - res))) - 1) + " | ((" +
          _RES_DIGIT_SQL.format(dq=f"q{k} - (3*pq1 + pz1)",
                                dr=f"r{k} - (-pq1 + 2*pz1)")
          + f") << {3 * (MAX_RES - res + k)}) AS hexid"},
         pq1 AS q{k + 1}, pz1 AS r{k + 1}, _k{k} AS _k{k + 1}
  FROM fz{k})""")
        prev = f"ax{k + 1}"
    # keys carried through the rounds: everything the caller selected in
    # pts rides along via SELECT * in dg/pr/fx; the ax stages narrow to
    # (face, hexid, q, r) plus the caller's key column aliased _k{k}
    return f"""
xyz AS (
  SELECT *, cos(radians(lat)) * cos(radians(lon)) AS x,
            cos(radians(lat)) * sin(radians(lon)) AS y,
            sin(radians(lat)) AS z
  FROM pts),
dots AS (SELECT *, {dots_cols} FROM xyz),
faced AS (SELECT *, {face_case} AS face FROM dots),
basis AS (
  SELECT *, {_sql_sel('cx', FACE_CENTERS, 0)}, {_sql_sel('cy', FACE_CENTERS, 1)},
            {_sql_sel('cz', FACE_CENTERS, 2)},
            {_sql_sel('exx', FACE_EX, 0)}, {_sql_sel('exy', FACE_EX, 1)},
            {_sql_sel('exz', FACE_EX, 2)},
            {_sql_sel('eyx', FACE_EY, 0)}, {_sql_sel('eyy', FACE_EY, 1)},
            {_sql_sel('eyz', FACE_EY, 2)}
  FROM faced),
plane AS (
  SELECT *, (x * (1.0/(x*cx + y*cy + z*cz)) - cx) AS px,
            (y * (1.0/(x*cx + y*cy + z*cz)) - cy) AS py,
            (z * (1.0/(x*cx + y*cy + z*cz)) - cz) AS pz
  FROM basis),
uv AS (
  SELECT *, (px*exx + py*exy + pz*exz) AS u, (px*eyx + py*eyy + pz*eyz) AS v
  FROM plane),
axf AS (
  SELECT *, ({K_QU!r} * u + {K_QV!r} * v) AS q0f, ({K_RV!r} * v) AS r0f
  FROM uv),
resf AS (
  SELECT *, ({m00} * q0f + {m01} * r0f) AS qf, ({m10} * q0f + {m11} * r0f) AS rf
  FROM axf),
rnd AS (
  SELECT *, CAST(FLOOR(qf + 0.5) AS BIGINT) AS rq,
            CAST(FLOOR(-qf - rf + 0.5) AS BIGINT) AS ry,
            CAST(FLOOR(rf + 0.5) AS BIGINT) AS rz,
            abs(CAST(FLOOR(qf + 0.5) AS BIGINT) - qf) AS dq_,
            abs(CAST(FLOOR(-qf - rf + 0.5) AS BIGINT) - (-qf - rf)) AS dy_,
            abs(CAST(FLOOR(rf + 0.5) AS BIGINT) - rf) AS dz_
  FROM resf),
rfx AS (
  SELECT *, CASE WHEN rq + ry + rz != 0 AND dq_ > dy_ AND dq_ > dz_
                 THEN -ry - rz ELSE rq END AS q_
  FROM rnd),
ax0 AS (
  SELECT face, q_ AS q0,
         CASE WHEN rq + ry + rz != 0
               AND NOT (dq_ > dy_ AND dq_ > dz_) AND NOT (dy_ > dz_)
              THEN -q_ - ry ELSE rz END AS r0, _k0
  FROM rfx),{','.join(rounds) + ',' if rounds else ''}
hexcells AS (SELECT face, {
    'hexid' if rounds else
    f'(CAST(face AS BIGINT) << 49) | {(1 << (3 * MAX_RES)) - 1} AS hexid'
}, _k{res} AS _key FROM {prev})
"""


# residue (dq, dr) → digit 0-6, as one SQL CASE over the 7 pairs
_RES_DIGIT_SQL = ("CASE " + " ".join(
    f"WHEN ({{dq}}) = {v[0]} AND ({{dr}}) = {v[1]} THEN CAST({d} AS BIGINT)"
    for d, v in enumerate(DIGIT_RES)) + " END")
