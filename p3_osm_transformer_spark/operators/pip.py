"""Point-in-polygon join — filter-refine (cell pre-filter + exact residual).

The engine's spatial access path (SURVEY.md §4 custom item 1): polygons are
expanded to their covering geocells at a coarse resolution; points encode
the same resolution; the candidate set is a plain **equi-join on cell id**
(broadcastable — admin polygon sets are small relative to points); the
exact test is the residual predicate.

Exact test = even-odd ray casting, vectorized numpy inside ``mapInPandas``
(shapely is unavailable in this sandbox; ray casting over the candidate
pairs is the same O(pairs × vertices) work an STRtree probe would do after
the cell pre-filter has already cut the candidate space).

Boundary rule (documented, SURVEY.md §7 stage 4): a point exactly on a
polygon edge or vertex counts as INSIDE (covers semantics).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from p3_osm_transformer_spark.functions.geocell import cell_id, cell_xy

PIP_COVER_G = 9  # coarse covering resolution: 512×512 grid, ~0.7° cells


def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """'POLYGON ((x y, …))' → (n,2) float array (closed ring)."""
    inner = wkt[wkt.index("((") + 2: wkt.rindex("))")]
    pts = [tuple(map(float, p.split())) for p in inner.split(",")]
    return np.asarray(pts, dtype=np.float64)


def np_points_in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast; boundary points count as inside."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    # edge crossing test
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / np.where(y1 == y0, np.inf, y1 - y0)
    inside = (cond & (px < xint)).sum(axis=1) % 2 == 1
    # boundary: point on any segment (cross≈0 and within bbox of segment)
    cross = (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0)
    on_seg = ((np.abs(cross) < 1e-12)
              & (px >= np.minimum(x0, x1) - 1e-12) & (px <= np.maximum(x0, x1) + 1e-12)
              & (py >= np.minimum(y0, y1) - 1e-12) & (py <= np.maximum(y0, y1) + 1e-12))
    return inside | on_seg.any(axis=1)


def polygon_cover_cells(polygons: DataFrame, g: int = PIP_COVER_G) -> DataFrame:
    """Explode each polygon bbox into covering cells — pure column math.

    Requires bbox_* columns (kept alongside WKT at build time; recomputing
    a bbox from WKT would also be column math via regexp + aggregate).
    """
    n = 2**g
    cx0, cy0 = cell_xy(F.col("bbox_lon0"), F.col("bbox_lat0"), g)
    cx1, cy1 = cell_xy(F.col("bbox_lon1"), F.col("bbox_lat1"), g)
    cells = F.flatten(F.transform(
        F.sequence(cy0, cy1),
        lambda y: F.transform(F.sequence(cx0, cx1), lambda x: y * F.lit(n) + x)))
    return polygons.withColumn("cover_cell", F.explode(cells))


def pip_join(points: DataFrame, polygons: DataFrame,
             point_id: str = "point_id", g: int = PIP_COVER_G) -> DataFrame:
    """points(point_id, lon, lat) ⋈ polygons(polygon_id, wkt, bbox_*) →
    (point_id, polygon_id, …polygon attrs) for containing polygons.

    Plan: cell equi-join (broadcast) → bbox column pre-filter (codegen'd)
    → exact ray-cast refine in mapInPandas grouped per polygon (so the
    ring is parsed once per polygon per batch, vectorized over its points).
    """
    pts = points.withColumn("cover_cell", cell_id(F.col("lon"), F.col("lat"), g))
    polys = F.broadcast(polygon_cover_cells(polygons, g).select(
        "polygon_id", "wkt", "cover_cell",
        "bbox_lon0", "bbox_lat0", "bbox_lon1", "bbox_lat1"))
    cand = (pts.join(polys, "cover_cell")
            .filter((F.col("lon") >= F.col("bbox_lon0")) & (F.col("lon") <= F.col("bbox_lon1"))
                    & (F.col("lat") >= F.col("bbox_lat0")) & (F.col("lat") <= F.col("bbox_lat1"))))

    schema = T.StructType([
        T.StructField(point_id, cand.schema[point_id].dataType),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("polygon_id", T.LongType()),
    ])

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            outs = []
            for wkt, grp in pdf.groupby("wkt", sort=False):
                ring = parse_wkt_polygon(wkt)
                mask = np_points_in_polygon(
                    grp["lon"].to_numpy(), grp["lat"].to_numpy(), ring)
                outs.append(grp.loc[mask, [point_id, "lon", "lat", "polygon_id"]])
            if outs:
                yield pd.concat(outs)

    return (cand.select(point_id, "lon", "lat", "polygon_id", "wkt")
                .mapInPandas(refine, schema))


def pip_join_rect(points: DataFrame, rects: DataFrame,
                  g: int = 6) -> DataFrame:
    """Rectangle fast path — 100% Catalyst (and the DuckDB-oracle-checkable
    twin of pip_join): bbox containment IS the exact test for axis-aligned
    polygons.

    Plan: the same filter-refine shape as ``pip_join`` — rects explode to
    their covering cells at resolution ``g``, points compute one cell id,
    broadcast HASH equi-join on the cell, bbox containment as the
    codegen'd residual filter.  A point inside a rect always shares the
    rect's covering cell at any g (cell_xy clamps out-of-range rect
    corners to the grid edge, keeping coverage a superset), and each
    matching (point, rect) pair shares exactly ONE cell — the point's —
    so no post-join dedup is needed.

    Why not the obvious inequality-only join: Spark plans it as
    BroadcastNestedLoopJoin, which does NOT participate in whole-stage
    codegen — every input row materializes an UnsafeRow at the join
    boundary.  On the 1.23B-row headline at local[32] that is ~130GB of
    memory traffic, and this host's memory system scales 8→32 cores at
    only ~0.48 (BENCH/BASELINE.md stream control) vs 0.94 for ALU work —
    measured as 1.34× executor-CPU inflation.  The cell-keyed
    BroadcastHashJoin keeps the probe and the residual filter inside one
    codegen span from the range/scan to the partial aggregate.  ``g=6``
    (64×64 grid) keeps the exploded broadcast at ~50 cells per
    continent-sized rect; finer g trades broadcast size for fewer
    residual-filter candidates.
    """
    polys = F.broadcast(polygon_cover_cells(rects, g))
    pts = points.withColumn("cover_cell", cell_id(F.col("lon"), F.col("lat"), g))
    return (pts.join(polys, "cover_cell")
            .filter((F.col("lon") >= F.col("bbox_lon0"))
                    & (F.col("lon") <= F.col("bbox_lon1"))
                    & (F.col("lat") >= F.col("bbox_lat0"))
                    & (F.col("lat") <= F.col("bbox_lat1")))
            .drop("cover_cell"))
