"""Raster warp: reproject imagery tiles between CRSs.

The reference engine transforms COORDINATES (pj_transform,
src/pj_transform.c:87); applied to rasters that is exactly GDAL-style
warping — for every pixel of the OUTPUT grid, inverse-project its
center into the source CRS and sample the source raster.  This module
warps a tiled plate-carrée (regular lon/lat) raster onto web-mercator
slippy tiles (ref src/PJ_merc.c webmerc semantics) with deterministic
nearest-neighbor sampling, so the result is bit-reproducible and an
SQL engine can replay it pixel-for-pixel.

Physical plan (the 100 TB shape):

1. the OUTPUT tile universe and each output tile's candidate source
   tiles are closed-form arithmetic on tile indices — built as pure
   expressions from a ``spark.range`` cross, never from a data scan;
2. source tiles (the big side) join the broadcast candidate map on
   (sx, sy) — the big side never shuffles for the join and each source
   tile is replicated only per overlapping output tile (fan-out is
   bounded by the tile-size ratio, typically <= 4);
3. one shuffle keyed on the OUTPUT tile assembles each group; a group
   holds at most ``fan`` source tiles, so — like the pyramid operator
   — group size is a hard constant and skew is impossible;
4. the per-group warp is one vectorized numpy gather (no per-pixel
   Python).

Determinism: longitude mapping is pure rational arithmetic (identical
IEEE results in any engine evaluating the same expression tree);
latitude uses atan/sinh whose last-ulp could in principle differ
across libms, but a flip requires the value to sit within ~1e-13 of a
pixel boundary — measure-zero for the irrational-pitch grids used
here (documented, same argument as the golden %.8f print precision).
"""
from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

RAD2DEG = 180.0 / math.pi


@dataclass(frozen=True)
class LatLonGrid:
    """A tiled plate-carrée raster: pixel (gx, gy) has center
    lon = lon0 + (gx + 0.5)*dlon, lat = lat0 - (gy + 0.5)*dlat
    (north-up raster convention), gx in [0, width), gy in [0, height),
    cut into tile_px x tile_px tiles addressed by
    (sx, sy) = (gx // tile_px, gy // tile_px)."""

    lon0: float
    lat0: float
    dlon: float
    dlat: float
    width: int
    height: int
    tile_px: int

    @property
    def lon_max(self) -> float:
        return self.lon0 + self.width * self.dlon

    @property
    def lat_min(self) -> float:
        return self.lat0 - self.height * self.dlat


_OUT_SCHEMA = StructType(
    [
        StructField("tx", LongType()),
        StructField("ty", LongType()),
        StructField("bytes", BinaryType()),
        StructField("n_valid", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_cks", LongType()),
    ]
)


def fused_group_map(df: DataFrame, keys: list, kernel, out_cols: list, schema):
    """Bounded-group map without per-group Arrow framing.

    ``applyInPandas`` frames every group as its own Arrow batch — at
    ~hundreds of small bounded groups per task that framing costs
    several core-ms per group, an order of magnitude more than the
    numpy kernel itself (measured: the warp lane runs 2.5-2.7x faster
    fused).  This helper repartitions on the exact group key (so a
    group cannot span partitions), sorts within partitions (so a
    group's rows are contiguous), and walks whole Arrow batches in
    ``mapInPandas``, carrying the possibly-split trailing group into
    the next batch.  ``kernel(group_pdf) -> tuple`` is called once per
    group, identical to the applyInPandas contract.
    """
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for b in batches:
            if carry is not None and len(carry):
                b = pd.concat([carry, b], ignore_index=True)
            last = tuple(b[k].iloc[-1] for k in keys)
            lastm = np.logical_and.reduce(
                [b[k].to_numpy() == v for k, v in zip(keys, last)]
            )
            carry = b[lastm]
            done = b[~lastm]
            if len(done):
                yield pd.DataFrame(
                    [kernel(gr) for _, gr in done.groupby(keys, sort=False)],
                    columns=out_cols,
                )
        if carry is not None and len(carry):
            yield pd.DataFrame([kernel(carry)], columns=out_cols)

    return df.repartition(*keys).sortWithinPartitions(*keys).mapInPandas(run, schema)


def _merc_lat_deg(y_norm: np.ndarray) -> np.ndarray:
    """Slippy-map inverse: normalized y in [0,1] -> latitude deg.
    sinh is spelled (exp(t) - exp(-t))*0.5 because the SQL oracle must
    evaluate the IDENTICAL expression tree (DuckDB ships no sinh)."""
    t = math.pi * (1.0 - 2.0 * y_norm)
    return np.arctan((np.exp(t) - np.exp(-t)) * 0.5) * RAD2DEG


def _merc_ty(lat_deg: float, zoom: int) -> float:
    """Forward (driver-side only, to size the output tile range)."""
    phi = math.radians(lat_deg)
    return (1.0 - math.asinh(math.tan(phi)) / math.pi) / 2.0 * (1 << zoom)


def out_tile_range(grid: LatLonGrid, zoom: int) -> tuple[int, int, int, int]:
    """Inclusive (tx0, tx1, ty0, ty1) of web-mercator tiles whose area
    intersects the grid extent — closed form, no data scan."""
    n = 1 << zoom
    tx0 = max(int(math.floor((grid.lon0 + 180.0) / 360.0 * n)), 0)
    tx1 = min(int(math.floor((grid.lon_max + 180.0) / 360.0 * n)), n - 1)
    ty0 = max(int(math.floor(_merc_ty(grid.lat0, zoom))), 0)
    ty1 = min(int(math.floor(_merc_ty(grid.lat_min, zoom))), n - 1)
    return tx0, tx1, ty0, ty1


def warp_to_webmerc(
    spark: SparkSession,
    tiles: DataFrame,
    grid: LatLonGrid,
    zoom: int,
    out_px: int = 64,
    fused: bool = True,
) -> DataFrame:
    """Warp ``tiles`` (sx:long, sy:long, bytes:binary — raw uint8
    tile_px² rasters) onto web-mercator zoom-``zoom`` tiles of
    ``out_px``² pixels.  Output pixels falling outside the grid extent
    are 0 with ``n_valid`` not counting them; ``px_sum`` /``px_cks``
    are exact-integer aggregates for cross-engine verification
    (cks weights each pixel by 1 + (local_index % 997) to pin
    positions, not just the multiset of values).

    ``fused=True`` (default) runs the per-tile kernel through
    :func:`fused_group_map` — 2.5-2.7x the applyInPandas throughput
    (measured, BENCH); ``fused=False`` keeps the plain applyInPandas
    plan, asserted output-identical in tests/test_warp.py."""
    ts = grid.tile_px
    n_px = float((1 << zoom) * out_px)
    tx0, tx1, ty0, ty1 = out_tile_range(grid, zoom)

    out = spark.range(tx0, tx1 + 1).select(F.col("id").alias("tx")).crossJoin(
        spark.range(ty0, ty1 + 1).select(F.col("id").alias("ty"))
    )
    # candidate source-tile ranges from the output tile's lon/lat bbox
    # (webmerc x->lon and y->lat are monotone, so corners bound the
    # bbox); one extra candidate on a shared edge is harmless — the
    # sampler simply never reads it
    world = 360.0 / float(1 << zoom)
    lon_w = F.col("tx") * F.lit(world) - F.lit(180.0)
    lon_e = (F.col("tx") + 1) * F.lit(world) - F.lit(180.0)
    yn_n = F.col("ty").cast("double") / F.lit(float(1 << zoom))
    yn_s = (F.col("ty") + 1).cast("double") / F.lit(float(1 << zoom))
    t_n = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * yn_n)
    t_s = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * yn_s)
    lat_n = F.atan((F.exp(t_n) - F.exp(-t_n)) * F.lit(0.5)) * F.lit(RAD2DEG)
    lat_s = F.atan((F.exp(t_s) - F.exp(-t_s)) * F.lit(0.5)) * F.lit(RAD2DEG)

    step_x = grid.dlon * ts
    step_y = grid.dlat * ts
    n_sx = (grid.width + ts - 1) // ts
    n_sy = (grid.height + ts - 1) // ts
    sx_lo = F.greatest(
        F.floor((lon_w - F.lit(grid.lon0)) / F.lit(step_x)), F.lit(0)
    ).cast("long")
    sx_hi = F.least(
        F.floor((lon_e - F.lit(grid.lon0)) / F.lit(step_x)), F.lit(n_sx - 1)
    ).cast("long")
    sy_lo = F.greatest(
        F.floor((F.lit(grid.lat0) - lat_n) / F.lit(step_y)), F.lit(0)
    ).cast("long")
    sy_hi = F.least(
        F.floor((F.lit(grid.lat0) - lat_s) / F.lit(step_y)), F.lit(n_sy - 1)
    ).cast("long")
    cand = (
        out.where(
            (lon_e > F.lit(grid.lon0))
            & (lon_w < F.lit(grid.lon_max))
            & (lat_n > F.lit(grid.lat_min))
            & (lat_s < F.lit(grid.lat0))
        )
        .withColumn("sx", F.explode(F.sequence(sx_lo, sx_hi)))
        .withColumn("sy", F.explode(F.sequence(sy_lo, sy_hi)))
        .select("tx", "ty", "sx", "sy")
    )

    joined = tiles.join(F.broadcast(cand), on=["sx", "sy"], how="inner")

    g = grid  # close over plain values, not the DataFrame
    zz = zoom
    opx = out_px

    def warp_tile(pdf: pd.DataFrame) -> tuple:
        tx = int(pdf["tx"].iloc[0])
        ty = int(pdf["ty"].iloc[0])
        srcs = {
            (int(r.sx), int(r.sy)): np.frombuffer(r.bytes, dtype=np.uint8).reshape(
                g.tile_px, g.tile_px
            )
            for r in pdf.itertuples()
        }
        xs = (tx * opx + np.arange(opx, dtype=np.float64)) + 0.5
        lon_t = xs / n_px * 360.0 - 180.0
        ys = (ty * opx + np.arange(opx, dtype=np.float64)) + 0.5
        lat_t = _merc_lat_deg(ys / n_px)
        gx = np.floor((lon_t - g.lon0) / g.dlon).astype(np.int64)
        gy = np.floor((g.lat0 - lat_t) / g.dlat).astype(np.int64)
        vx = (gx >= 0) & (gx < g.width)
        vy = (gy >= 0) & (gy < g.height)
        valid = vy[:, None] & vx[None, :]
        gxm = np.clip(gx, 0, g.width - 1)
        gym = np.clip(gy, 0, g.height - 1)
        sxq = (gxm[None, :] // g.tile_px) + np.zeros((opx, 1), dtype=np.int64)
        syq = (gym[:, None] // g.tile_px) + np.zeros((1, opx), dtype=np.int64)
        vals = np.zeros((opx, opx), dtype=np.uint8)
        for (sx, sy), arr in srcs.items():
            m = (sxq == sx) & (syq == sy)
            if not m.any():
                continue
            rows, cols = np.nonzero(m)
            vals[rows, cols] = arr[
                gym[rows] - sy * g.tile_px, gxm[cols] - sx * g.tile_px
            ]
        vals[~valid] = 0
        lidx = (np.arange(opx)[:, None] * opx + np.arange(opx)[None, :]).astype(
            np.int64
        )
        w = 1 + (lidx % 997)
        v64 = vals.astype(np.int64)
        return (
            tx,
            ty,
            vals.tobytes(),
            int(valid.sum()),
            int(v64.sum()),
            int((v64 * w).sum()),
        )

    cols = ["tx", "ty", "bytes", "n_valid", "px_sum", "px_cks"]
    if fused:
        warped = fused_group_map(joined, ["tx", "ty"], warp_tile, cols, _OUT_SCHEMA)
    else:
        warped = joined.groupBy("tx", "ty").applyInPandas(
            lambda pdf: pd.DataFrame([warp_tile(pdf)], columns=cols), _OUT_SCHEMA
        )
    return warped.withColumn("z", F.lit(zz).cast("int")).select(
        "z", "tx", "ty", "bytes", "n_valid", "px_sum", "px_cks"
    )


# ----------------------------------------------------- fixture raster
def lcg_tiles(
    spark: SparkSession,
    grid: LatLonGrid,
    partitions: int = 8,
    mul: int = 2654435761,
    add: int = 12345,
) -> DataFrame:
    """Deterministic source raster: pixel (gx, gy) has value
    ``((gidx*mul + add) mod 2^32) // 2^24`` with gidx = gy*width + gx
    (defaults ``mul=2654435761``, ``add=12345``; the change-detection
    fixture passes other constants for its second epoch) — the same
    closed form the SQL oracle evaluates.  Built distributed (one task
    per tile row band)."""
    ts = grid.tile_px
    if grid.width % ts or grid.height % ts:
        # warp_to_webmerc / extract_chips ceil-divide and handle partial
        # edge tiles, but this fixture generator emits full tiles only —
        # a non-multiple extent would silently drop the edge band and the
        # SQL oracles (which evaluate the closed form per pixel of the
        # full extent) would diverge.  Fail loudly instead.
        raise ValueError(
            f"lcg_tiles requires width/height multiples of tile_px="
            f"{ts}; got {grid.width}x{grid.height}"
        )
    n_sx = grid.width // ts
    n_sy = grid.height // ts
    w = grid.width

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for tid in b["id"]:
                sx, sy = int(tid) % n_sx, int(tid) // n_sx
                gx = sx * ts + np.arange(ts, dtype=np.int64)[None, :]
                gy = sy * ts + np.arange(ts, dtype=np.int64)[:, None]
                gidx = gy * w + gx
                v = (((gidx * mul + add) % (1 << 32)) >> 24).astype(
                    np.uint8
                )
                rows.append((sx, sy, v.tobytes()))
            yield pd.DataFrame(rows, columns=["sx", "sy", "bytes"])

    schema = StructType(
        [
            StructField("sx", LongType()),
            StructField("sy", LongType()),
            StructField("bytes", BinaryType()),
        ]
    )
    return spark.range(n_sx * n_sy, numPartitions=partitions).mapInPandas(
        make, schema
    )


def warp_oracle_sql(grid: LatLonGrid, zoom: int, out_px: int = 64) -> str:
    """DuckDB mirror: per-output-pixel inverse mapping with the SAME
    expression trees (lon path is pure rational arithmetic; lat path
    is degrees(atan(sinh(...))) with the identical constant literals),
    aggregated to the exact-integer per-tile triple."""
    tx0, tx1, ty0, ty1 = out_tile_range(grid, zoom)
    n_px = float((1 << zoom) * out_px)
    lon = f"((tx * {out_px} + px) + 0.5) / {n_px!r} * 360.0 - 180.0"
    t = f"({math.pi!r} * (1.0 - 2.0 * (((ty * {out_px} + py) + 0.5) / {n_px!r})))"
    lat = f"atan((exp({t}) - exp(-{t})) * 0.5) * {RAD2DEG!r}"
    gx = f"CAST(floor((({lon}) - {grid.lon0!r}) / {grid.dlon!r}) AS BIGINT)"
    gy = f"CAST(floor(({grid.lat0!r} - ({lat})) / {grid.dlat!r}) AS BIGINT)"
    return f"""
WITH px AS (
  SELECT tx.range AS tx, ty.range AS ty, x.range AS px, y.range AS py
  FROM range({tx0}, {tx1 + 1}) tx, range({ty0}, {ty1 + 1}) ty,
       range(0, {out_px}) x, range(0, {out_px}) y
),
m AS (
  SELECT tx, ty, py * {out_px} + px AS lidx, {gx} AS gx, {gy} AS gy FROM px
),
v AS (
  SELECT tx, ty, lidx,
         CASE WHEN gx >= 0 AND gx < {grid.width} AND gy >= 0 AND gy < {grid.height}
              THEN 1 ELSE 0 END AS ok,
         CASE WHEN gx >= 0 AND gx < {grid.width} AND gy >= 0 AND gy < {grid.height}
              THEN ((gy * {grid.width} + gx) * 2654435761 + 12345) % 4294967296 // 16777216
              ELSE 0 END AS val
  FROM m
)
SELECT CAST({zoom} AS INTEGER) AS z, tx, ty,
       CAST(sum(ok) AS BIGINT) AS n_valid,
       CAST(sum(val) AS BIGINT) AS px_sum,
       CAST(sum(val * (1 + lidx % 997)) AS BIGINT) AS px_cks
FROM v GROUP BY tx, ty
"""


# ----------------------------------------------------- bilinear resample
def warp_bilinear_tiles(
    spark: SparkSession,
    tiles: DataFrame,
    grid: LatLonGrid,
    zoom: int,
    out_px: int = 64,
) -> DataFrame:
    """Bilinear sibling of :func:`warp_to_webmerc`: every output-pixel
    center inverse-maps to a CONTINUOUS source position (pixel-center
    convention, fx = (lon - lon0)/dlon - 0.5) and samples the 2x2
    neighborhood with the standard separable weights.  A pixel is
    valid only with FULL support (fx in [0, w-1], fy in [0, h-1]) —
    the usual edge-trim semantics; invalid pixels contribute 0.

    Same physical plan as the nearest path (broadcast candidate map,
    big side unshuffled, one bounded-fan output-tile shuffle) with the
    candidate bbox widened by one source pixel so a support straddling
    a source-tile edge always has both tiles in the group.

    Returns (z, tx, ty, n_valid, q_sum, q_cks) where q = floor(v * 16)
    per pixel — the bilinear value quantized at 1/16 px-value, summed
    exactly; the SQL oracle replays the identical double tree
    (v00*(1-dx) + v10*dx)*(1-dy) + (v01*(1-dx) + v11*dx)*dy.
    """
    ts = grid.tile_px
    n_px = float((1 << zoom) * out_px)
    tx0, tx1, ty0, ty1 = out_tile_range(grid, zoom)

    out = spark.range(tx0, tx1 + 1).select(F.col("id").alias("tx")).crossJoin(
        spark.range(ty0, ty1 + 1).select(F.col("id").alias("ty"))
    )
    world = 360.0 / float(1 << zoom)
    lon_w = F.col("tx") * F.lit(world) - F.lit(180.0) - F.lit(grid.dlon)
    lon_e = (F.col("tx") + 1) * F.lit(world) - F.lit(180.0) + F.lit(grid.dlon)
    yn_n = F.col("ty").cast("double") / F.lit(float(1 << zoom))
    yn_s = (F.col("ty") + 1).cast("double") / F.lit(float(1 << zoom))
    t_n = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * yn_n)
    t_s = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * yn_s)
    lat_n = F.atan((F.exp(t_n) - F.exp(-t_n)) * F.lit(0.5)) * F.lit(RAD2DEG) + F.lit(grid.dlat)
    lat_s = F.atan((F.exp(t_s) - F.exp(-t_s)) * F.lit(0.5)) * F.lit(RAD2DEG) - F.lit(grid.dlat)

    step_x = grid.dlon * ts
    step_y = grid.dlat * ts
    n_sx = (grid.width + ts - 1) // ts
    n_sy = (grid.height + ts - 1) // ts
    sx_lo = F.greatest(F.floor((lon_w - F.lit(grid.lon0)) / F.lit(step_x)), F.lit(0)).cast("long")
    sx_hi = F.least(F.floor((lon_e - F.lit(grid.lon0)) / F.lit(step_x)), F.lit(n_sx - 1)).cast("long")
    sy_lo = F.greatest(F.floor((F.lit(grid.lat0) - lat_n) / F.lit(step_y)), F.lit(0)).cast("long")
    sy_hi = F.least(F.floor((F.lit(grid.lat0) - lat_s) / F.lit(step_y)), F.lit(n_sy - 1)).cast("long")
    cand = (
        out.where(
            (lon_e > F.lit(grid.lon0))
            & (lon_w < F.lit(grid.lon_max))
            & (lat_n > F.lit(grid.lat_min))
            & (lat_s < F.lit(grid.lat0))
        )
        .withColumn("sx", F.explode(F.sequence(sx_lo, sx_hi)))
        .withColumn("sy", F.explode(F.sequence(sy_lo, sy_hi)))
        .select("tx", "ty", "sx", "sy")
    )
    joined = tiles.join(F.broadcast(cand), on=["sx", "sy"], how="inner")

    g = grid
    opx = out_px

    def warp_tile(pdf: pd.DataFrame) -> tuple:
        tx = int(pdf["tx"].iloc[0])
        ty = int(pdf["ty"].iloc[0])
        sxs = pdf["sx"].to_numpy(np.int64)
        sys_ = pdf["sy"].to_numpy(np.int64)
        ox, oy = int(sxs.min()) * g.tile_px, int(sys_.min()) * g.tile_px
        W = (int(sxs.max()) - int(sxs.min()) + 1) * g.tile_px
        H = (int(sys_.max()) - int(sys_.min()) + 1) * g.tile_px
        canvas = np.zeros((H, W), dtype=np.uint8)
        for r in pdf.itertuples():
            arr = np.frombuffer(r.bytes, dtype=np.uint8).reshape(g.tile_px, g.tile_px)
            y0 = int(r.sy) * g.tile_px - oy
            x0 = int(r.sx) * g.tile_px - ox
            canvas[y0:y0 + g.tile_px, x0:x0 + g.tile_px] = arr

        xs = (tx * opx + np.arange(opx, dtype=np.float64)) + 0.5
        lon_t = xs / n_px * 360.0 - 180.0
        ys = (ty * opx + np.arange(opx, dtype=np.float64)) + 0.5
        lat_t = _merc_lat_deg(ys / n_px)
        fx = (lon_t - g.lon0) / g.dlon - 0.5           # continuous col
        fy = (g.lat0 - lat_t) / g.dlat - 0.5           # continuous row
        vx = (fx >= 0.0) & (fx <= float(g.width - 1))
        vy = (fy >= 0.0) & (fy <= float(g.height - 1))
        valid = vy[:, None] & vx[None, :]

        x0i = np.clip(np.floor(fx), 0, g.width - 2).astype(np.int64)
        y0i = np.clip(np.floor(fy), 0, g.height - 2).astype(np.int64)
        dx = fx - x0i
        dy = fy - y0i

        def gv(yy, xx):
            cy = np.clip(yy - oy, 0, H - 1)
            cx = np.clip(xx - ox, 0, W - 1)
            return canvas[cy[:, None], cx[None, :]].astype(np.float64)

        v00 = gv(y0i, x0i)
        v10 = gv(y0i, x0i + 1)
        v01 = gv(y0i + 1, x0i)
        v11 = gv(y0i + 1, x0i + 1)
        dxm = dx[None, :]
        dym = dy[:, None]
        v = (v00 * (1.0 - dxm) + v10 * dxm) * (1.0 - dym) + (
            v01 * (1.0 - dxm) + v11 * dxm
        ) * dym
        q = np.floor(v * 16.0).astype(np.int64)
        q[~valid] = 0
        lidx = (np.arange(opx)[:, None] * opx + np.arange(opx)[None, :]).astype(np.int64)
        w = 1 + (lidx % 997)
        return (tx, ty, int(valid.sum()), int(q.sum()), int((q * w).sum()))

    cols = ["tx", "ty", "n_valid", "q_sum", "q_cks"]
    schema = "tx long, ty long, n_valid long, q_sum long, q_cks long"
    warped = fused_group_map(joined, ["tx", "ty"], warp_tile, cols, schema)
    return warped.withColumn("z", F.lit(zoom).cast("int")).select(
        "z", "tx", "ty", "n_valid", "q_sum", "q_cks"
    )


def warp_bilinear_oracle_sql(grid: LatLonGrid, zoom: int, out_px: int = 64) -> str:
    """DuckDB mirror of :func:`warp_bilinear_tiles`: the identical
    inverse mapping, clamped 2x2 LCG fetch, and bilinear double tree,
    aggregated to the exact-integer (n_valid, q_sum, q_cks) triple."""
    tx0, tx1, ty0, ty1 = out_tile_range(grid, zoom)
    n_px = float((1 << zoom) * out_px)
    lon = f"((tx * {out_px} + px) + 0.5) / {n_px!r} * 360.0 - 180.0"
    t = f"({math.pi!r} * (1.0 - 2.0 * (((ty * {out_px} + py) + 0.5) / {n_px!r})))"
    lat = f"atan((exp({t}) - exp(-{t})) * 0.5) * {RAD2DEG!r}"
    fx = f"((({lon}) - {grid.lon0!r}) / {grid.dlon!r} - 0.5)"
    fy = f"(({grid.lat0!r} - ({lat})) / {grid.dlat!r} - 0.5)"

    def lcg(gy, gx):
        return (
            f"((({gy}) * {grid.width} + ({gx})) * 2654435761 + 12345) "
            f"% 4294967296 // 16777216"
        )

    return f"""
WITH px AS (
  SELECT tx.range AS tx, ty.range AS ty, x.range AS px, y.range AS py
  FROM range({tx0}, {tx1 + 1}) tx, range({ty0}, {ty1 + 1}) ty,
       range(0, {out_px}) x, range(0, {out_px}) y
),
m AS (
  SELECT tx, ty, py * {out_px} + px AS lidx, {fx} AS fx, {fy} AS fy FROM px
),
c AS (
  SELECT tx, ty, lidx, fx, fy,
         CAST(least(greatest(floor(fx), 0), {grid.width - 2}) AS BIGINT) AS x0,
         CAST(least(greatest(floor(fy), 0), {grid.height - 2}) AS BIGINT) AS y0,
         CASE WHEN fx >= 0.0 AND fx <= {float(grid.width - 1)!r}
               AND fy >= 0.0 AND fy <= {float(grid.height - 1)!r}
              THEN 1 ELSE 0 END AS ok
  FROM m
),
b AS (
  SELECT tx, ty, lidx, ok,
         fx - x0 AS dx, fy - y0 AS dy,
         CAST({lcg('y0', 'x0')} AS DOUBLE) AS v00,
         CAST({lcg('y0', 'x0 + 1')} AS DOUBLE) AS v10,
         CAST({lcg('y0 + 1', 'x0')} AS DOUBLE) AS v01,
         CAST({lcg('y0 + 1', 'x0 + 1')} AS DOUBLE) AS v11
  FROM c
),
v AS (
  SELECT tx, ty, lidx, ok,
         CASE WHEN ok = 1 THEN CAST(floor(
           ((v00 * (1.0 - dx) + v10 * dx) * (1.0 - dy)
            + (v01 * (1.0 - dx) + v11 * dx) * dy) * 16.0) AS BIGINT)
              ELSE 0 END AS q
  FROM b
)
SELECT CAST({zoom} AS INTEGER) AS z, tx, ty,
       CAST(sum(ok) AS BIGINT) AS n_valid,
       CAST(sum(q) AS BIGINT) AS q_sum,
       CAST(sum(q * (1 + lidx % 997)) AS BIGINT) AS q_cks
FROM v GROUP BY tx, ty
"""
