"""Raster-tile <-> vector assignment (north-rule operator).

Tile math is pure closed-form Mercator + floor (ref sphere kernel
src/PJ_merc.c:5-15), so the whole operator is native SQL expressions
(one SQL string per output column, see functions.expressions) — zero
Python per row, fully inside WholeStageCodegen, and the
groupBy(tile) aggregation gets map-side partial aggregation for free.

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
    # one projection after the explode; ``tile_key`` reads its
    # siblings as lateral column aliases (the analyzer nests them)
    return df.selectExpr("*", f"explode(array({_zoom_list(zooms)})) AS zoom").selectExpr(
        "*",
        f"{E._tile_x(E._q(lon), 'zoom')} AS tile_x",
        f"{E._tile_y(E._q(lat), 'zoom')} AS tile_y",
        f"{E._tile_key('tile_x', 'tile_y', 'zoom')} AS tile_key",
    )


def _zoom_list(zooms: list[int]) -> str:
    return ", ".join(str(int(z)) for z in zooms)


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
    zmax = int(max(zooms))
    fine = (
        df.selectExpr(
            f"{E._tile_x(E._q(lon), str(zmax))} AS tile_x",
            f"{E._tile_y(E._q(lat), str(zmax))} AS tile_y",
        )
        .groupBy(F.expr("tile_x"), F.expr("tile_y"))
        .agg(F.expr("count(1) AS n"))
    )
    if len(zooms) == 1 and zooms[0] == zmax:
        return fine.selectExpr(f"CAST({zmax} AS INT) AS zoom", "tile_x", "tile_y", "n")
    # roll the SMALL finest-zoom aggregate up to every requested zoom in
    # the same plan: explode the zoom list over the aggregate (tiny —
    # |distinct finest tiles| x |zooms| rows), shift the indices, and
    # re-aggregate.  One extra (tiny) shuffle, single job, no cache.
    return (
        fine.selectExpr("tile_x", "tile_y", "n", f"explode(array({_zoom_list(zooms)})) AS zoom")
        .groupBy(
            F.expr("zoom"),
            F.expr(f"shiftright(tile_x, {zmax} - zoom) AS tile_x"),
            F.expr(f"shiftright(tile_y, {zmax} - zoom) AS tile_y"),
        )
        .agg(F.expr("sum(n) AS n"))
        .selectExpr("CAST(zoom AS INT) AS zoom", "tile_x", "tile_y", "n")
    )
