"""Raster-tile assignment — raster↔vector bridge (north_star final stage).

Two layers:

1. ``assign_tiles``: per-record slippy + geocell tile columns from the
   geotag — pure column math (functions/tiles.py), codegen'd.

2. ``pixel_block_tiles``: decoded pixel-block rows (operators/images.py
   ``pixel_blocks``) joined back to the image's geotag; each block gets a
   geo offset (image footprint spread across blocks) and its own tile id.
   The decode is the only Python (Arrow-batched); the geo math stays in
   Catalyst.  A real deployment swaps the deterministic footprint for EXIF
   GSD metadata — same plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from p3_osm_transformer_spark.functions.geocell import with_cells
from p3_osm_transformer_spark.functions.tiles import tile_id
from p3_osm_transformer_spark.operators.images import pixel_blocks

# deterministic footprint: one pixel block ≈ 10 m ≈ 1e-4 degrees
BLOCK_DEG = 0.0001


def assign_tiles(df: DataFrame, zooms: tuple[int, ...] = (12, 15),
                 cell_resolutions: tuple[int, ...] = (7, 8, 9, 10),
                 s2_levels: tuple[int, ...] = (),
                 hex_resolutions: tuple[int, ...] = ()) -> DataFrame:
    """Slippy tiles + geocell columns (pure codegen); optionally true S2
    cell ids (functions/s2cell.py) as ``s2_{level}`` columns and
    icosahedral aperture-7 hexcells (functions/hexcell.py) as
    ``hex_{res}`` columns — both scalar Arrow UDFs over numpy.  The
    Python-backed families are opt-in so codegen-only callers (the
    headline bench stage, PIP pre-filters) keep a Python-free plan; the
    flagship enrich pipeline turns them on — one Arrow UDF evaluation
    per level, then all downstream rollup/containment algebra
    (s2_parent/hex_parent/hex_axial) stays in Catalyst."""
    out = with_cells(df, "lon", "lat", cell_resolutions)
    for z in zooms:
        out = out.withColumn(f"tile_z{z}", tile_id(F.col("lon"), F.col("lat"), z))
    if s2_levels:
        from p3_osm_transformer_spark.functions.s2cell import s2_cellid
        for lv in s2_levels:
            out = out.withColumn(
                f"s2_{lv}", s2_cellid(F.col("lon"), F.col("lat"), lv))
    if hex_resolutions:
        from p3_osm_transformer_spark.functions.hexcell import hex_cellid
        for rs in hex_resolutions:
            out = out.withColumn(
                f"hex_{rs}", hex_cellid(F.col("lon"), F.col("lat"), rs))
    return out


def pixel_block_tiles(images_with_geo: DataFrame, block: int = 16,
                      zoom: int = 18) -> DataFrame:
    """images(image_id, bytes, lat, lon) → per-block rows with tile ids."""
    blocks = pixel_blocks(images_with_geo, block)
    geo = images_with_geo.select("image_id", "lat", "lon")
    b = blocks.join(geo, "image_id", "inner")
    blat = F.col("lat") + F.col("by") * F.lit(BLOCK_DEG)
    blon = F.col("lon") + F.col("bx") * F.lit(BLOCK_DEG)
    return b.select(
        "image_id", "bx", "by", "block_mean",
        blat.alias("block_lat"), blon.alias("block_lon"),
        tile_id(blon, blat, zoom).alias(f"tile_z{zoom}"))
