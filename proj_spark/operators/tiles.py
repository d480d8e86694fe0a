"""Raster-tile <-> vector assignment (north-rule operator).

Tile math is pure closed-form Mercator + floor (ref sphere kernel
src/PJ_merc.c:5-15), so the whole operator is native Column
expressions — zero Python per row, fully inside WholeStageCodegen,
and the groupBy(tile) aggregation gets map-side partial aggregation
for free.

Scale design (10^12 rows):
- ``assign_tiles`` is a narrow projection: no shuffle at all.
- multi-zoom assignment uses one ``explode`` of a literal zoom array
  (rows x |zooms|), still narrow.
- per-tile rollups shuffle once on the int64 ``tile_key``; zoom is
  encoded in the key's high bits so one shuffle covers all zooms.
- hot tiles (a dense city at low zoom) are handled by two-phase
  aggregation: counts are algebraic, so Spark's partial aggregation
  already absorbs the skew; for non-algebraic payloads use
  ``salt_column`` from operators.skew.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import expressions as E


def assign_tiles(
    df: DataFrame,
    zooms: list[int],
    lon: str = "lon",
    lat: str = "lat",
    out: str = "tile",
) -> DataFrame:
    """Append ``zoom``, ``tile_x``, ``tile_y``, ``tile_key`` for every
    zoom level (one output row per input row per zoom)."""
    zoom = F.explode(F.array(*[F.lit(z) for z in zooms])).alias("zoom")
    # one projection after the explode; ``tile_key`` reads its
    # siblings as lateral column aliases (the analyzer nests them)
    return df.select("*", zoom).select(
        "*",
        E.tile_x(lon, F.col("zoom")).alias("tile_x"),
        E.tile_y(lat, F.col("zoom")).alias("tile_y"),
        E.tile_key(F.col("tile_x"), F.col("tile_y"), F.col("zoom")).alias("tile_key"),
    )


def tile_counts(
    df: DataFrame,
    zooms: list[int],
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Rows per tile per zoom — the canonical raster rollup.

    Multi-zoom requests are computed HIERARCHICALLY: the big table is
    aggregated once at the finest zoom only (one narrow pass, one
    partial-agg shuffle whose volume is the distinct finest tiles),
    and coarser zooms are exact quadtree rollups of that small
    aggregate (tile_x_z = tile_x_fine >> dz, counts sum) — identical
    output to per-zoom aggregation, ~|zooms|x less narrow work and
    shuffle than the old explode form.  Count is algebraic so map-side
    combine neutralizes hot-tile skew.
    """
    zmax = max(zooms)
    fine = (
        df.select(
            E.tile_x(lon, F.lit(zmax)).alias("tile_x"),
            E.tile_y(lat, F.lit(zmax)).alias("tile_y"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if len(zooms) == 1 and zooms[0] == zmax:
        return fine.select(
            F.lit(zmax).cast("int").alias("zoom"), "tile_x", "tile_y", "n"
        )
    # roll the SMALL finest-zoom aggregate up to every requested zoom in
    # the same plan: explode the zoom list over the aggregate (tiny —
    # |distinct finest tiles| x |zooms| rows), shift the indices, and
    # re-aggregate.  One extra (tiny) shuffle, single job, no cache.
    zoom = F.explode(F.array(*[F.lit(int(z)) for z in zooms])).alias("zoom")
    return (
        fine.select("tile_x", "tile_y", "n", zoom)
        .groupBy(
            "zoom",
            F.expr(f"shiftright(tile_x, {int(zmax)} - zoom)").alias("tile_x"),
            F.expr(f"shiftright(tile_y, {int(zmax)} - zoom)").alias("tile_y"),
        )
        .agg(F.sum("n").alias("n"))
        .select(F.col("zoom").cast("int").alias("zoom"), "tile_x", "tile_y", "n")
    )

