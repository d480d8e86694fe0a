"""Multi-source L1 distance transform over a tiled raster.

"Distance to the nearest changed/masked pixel" — the proximity product
behind buffers, coastline-distance layers, and sampling-density maps.
Seeds are mask pixels (value >= iso); every pixel gets the exact L1
(city-block) distance to its nearest seed.

Distributed plan — ITERATIVE HALO EXCHANGE (the raster sibling of the
Bellman-Ford relaxation in network.py):

1. Per tile, a classic TWO-PASS CHAMFER sweep (forward: min(self,
   up+1, left+1); backward: min(self, down+1, right+1)) is exact for
   L1 *given the tile's 1-px halo*, because any optimal monotone
   path's in-tile suffix is recovered by the two sweeps.
2. Rounds exchange only the 1-px distance-field edge strips (int32,
   4·tile_px bytes/side) and re-sweep; information crosses one full
   tile per round, so ROUNDS <= the tile-grid Manhattan diameter
   (n_x + n_y), not the pixel diameter.
3. Convergence = no tile changed this round: :func:`fixpoint.fixpoint`
   runs the rounds, one changed-tile count job each, and warns if the
   round bound runs out.

Shuffle per round is ~1.06x the 4-byte/px field (body + strips via
warp.fused_group_map); total traffic = rounds × that, the inherent
cost of propagating global distance with only local exchanges.

The DuckDB oracle is the closed form: min over all seed pixels of
|dx| + |dy| from the block-hash mask — independent of the sweep
machinery entirely.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .fixpoint import fixpoint
from .warp import fused_group_map

_INF = np.int32(1 << 30)

_FRAG = StructType(
    [
        StructField("x", LongType()),
        StructField("y", LongType()),
        StructField("dx", IntegerType()),
        StructField("dy", IntegerType()),
        StructField("frag", BinaryType()),
    ]
)

_FIELD = StructType(
    [
        StructField("x", LongType()),
        StructField("y", LongType()),
        StructField("dist", BinaryType()),   # int32 tile_px² field
        StructField("changed", IntegerType()),
    ]
)


def _chamfer(pad: np.ndarray) -> np.ndarray:
    """Exact two-pass L1 chamfer over the FULL padded grid (halo rows
    and columns are swept too — they are scratch copies of neighbor
    strips, and paths running ALONG a halo row, e.g. right-along-the-
    bottom-halo then up, are valid global paths the classic
    interior-only sweep misses).  With every row/col processed this is
    the textbook Rosenfeld-Pfaltz city-block transform on the (ts+2)²
    grid, exact for sources anywhere in it."""
    ts = pad.shape[0] - 2
    d = pad.astype(np.int64)
    j = np.arange(ts + 2, dtype=np.int64)
    # forward: rows top->bottom; the within-row left-to-right chain
    # d[j] = min(d[j], d[j-1]+1) is the prefix min of (d - j) plus j
    for i in range(ts + 2):
        if i > 0:
            d[i] = np.minimum(d[i], d[i - 1] + 1)
        d[i] = np.minimum.accumulate(d[i] - j) + j
    # backward: rows bottom->top; right-to-left = suffix min of (d + j)
    for i in range(ts + 1, -1, -1):
        if i < ts + 1:
            d[i] = np.minimum(d[i], d[i + 1] + 1)
        d[i] = (np.minimum.accumulate((d[i] + j)[::-1]))[::-1] - j
    return np.minimum(d, _INF)[1 : ts + 1, 1 : ts + 1].astype(np.int32)


def distance_transform(
    tiles: DataFrame,
    tile_px: int,
    n_x: int,
    n_y: int,
    iso: int,
    max_rounds: int | None = None,
) -> DataFrame:
    """``tiles``: (x, y, bytes uint8 tile_px²).  Returns per tile
    (x, y, n_seed, dist_sum, dist_max, dist_cks) — exact integer L1
    distances to the nearest seed (pixel >= iso) ANYWHERE in the
    raster.  Rasters with no seed at all return dist_* of the INF
    sentinel clamp (callers should guard; the fixture always seeds).
    """
    ts = tile_px
    rounds = max_rounds if max_rounds is not None else (n_x + n_y)

    def init(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples():
                v = np.frombuffer(r.bytes, dtype=np.uint8).reshape(ts, ts)
                d = np.where(v >= iso, np.int32(0), _INF).astype(np.int32)
                rows.append((int(r.x), int(r.y), d.tobytes(), 1))
            yield pd.DataFrame(rows, columns=["x", "y", "dist", "changed"])

    field = tiles.mapInPandas(init, _FIELD)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples():
                x, y = int(r.x), int(r.y)
                d = np.frombuffer(r.dist, dtype=np.int32).reshape(ts, ts)
                rows.append((x, y, 0, 0, r.dist))
                if x + 1 < n_x:
                    rows.append((x + 1, y, -1, 0, d[:, -1].tobytes()))
                if x > 0:
                    rows.append((x - 1, y, 1, 0, d[:, 0].tobytes()))
                if y + 1 < n_y:
                    rows.append((x, y + 1, 0, -1, d[-1, :].tobytes()))
                if y > 0:
                    rows.append((x, y - 1, 0, 1, d[0, :].tobytes()))
                # L1 needs no diagonal corners: a diagonal step costs 2
                # and is dominated by the two axis steps through the
                # shared edge pixels
            yield pd.DataFrame(rows, columns=["x", "y", "dx", "dy", "frag"])

    def relax(pdf: pd.DataFrame) -> tuple:
        x = int(pdf["x"].iloc[0])
        y = int(pdf["y"].iloc[0])
        pad = np.full((ts + 2, ts + 2), _INF, dtype=np.int32)
        body = None
        for r in pdf.itertuples():
            a = np.frombuffer(r.frag, dtype=np.int32)
            dx, dy = int(r.dx), int(r.dy)
            if dx == 0 and dy == 0:
                body = a.reshape(ts, ts)
                pad[1 : ts + 1, 1 : ts + 1] = body
            elif dy == 0:
                pad[1 : ts + 1, 0 if dx == -1 else ts + 1] = a
            else:
                pad[0 if dy == -1 else ts + 1, 1 : ts + 1] = a
        new = _chamfer(pad)
        changed = int(not np.array_equal(new, body))
        return (x, y, new.tobytes(), changed)

    cols = ["x", "y", "dist", "changed"]
    field = fixpoint(
        field,
        lambda f: fused_group_map(
            f.mapInPandas(emit, _FRAG), ["x", "y"], relax, cols, _FIELD
        ),
        F.col("changed") != 0,
        rounds,
        "distance_transform",
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lidx = (
            np.arange(ts)[:, None] * ts + np.arange(ts)[None, :]
        ).astype(np.int64)
        wgt = 1 + (lidx % 997)
        for b in batches:
            rows = []
            for r in b.itertuples():
                d = (
                    np.frombuffer(r.dist, dtype=np.int32)
                    .reshape(ts, ts)
                    .astype(np.int64)
                )
                rows.append(
                    (
                        int(r.x),
                        int(r.y),
                        int((d == 0).sum()),
                        int(d.sum()),
                        int(d.max()),
                        int((d * wgt).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["x", "y", "n_seed", "dist_sum", "dist_max", "dist_cks"],
            )

    out_schema = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
        + [
            StructField(c, LongType())
            for c in ("n_seed", "dist_sum", "dist_max", "dist_cks")
        ]
    )
    return field.mapInPandas(stats, out_schema)


def dt_oracle_sql(
    width: int,
    height: int,
    tile_px: int,
    iso: int,
    block_px: int = 4,
    mul: int = 2654435761,
    add: int = 12345,
) -> str:
    """Closed-form mirror: per pixel the min L1 distance over ALL seed
    pixels of the block-hash mask (blobs.block_hash_tiles fixture),
    aggregated per tile — independent of the chamfer machinery."""
    ts = tile_px
    bw = width // block_px

    def vexpr(gx, gy):
        h0 = (
            f"(((({gy} // {block_px}) * {bw} + ({gx} // {block_px}))"
            f" * {mul} + {add}) % 4294967296)"
        )
        return f"(255 - (xor({h0}, {h0} >> 16) % 256))"

    return f"""
WITH px AS (
  SELECT xs.range AS gx, ys.range AS gy
  FROM range({width}) xs, range({height}) ys
),
seeds AS (
  SELECT gx, gy FROM px WHERE {vexpr('gx', 'gy')} >= {iso}
),
d AS (
  SELECT p.gx, p.gy,
         (SELECT min(abs(p.gx - s.gx) + abs(p.gy - s.gy)) FROM seeds s) AS dist
  FROM px p
)
SELECT gx // {ts} AS x, gy // {ts} AS y,
       CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seed,
       CAST(sum(dist) AS BIGINT) AS dist_sum,
       CAST(max(dist) AS BIGINT) AS dist_max,
       CAST(sum(dist * (1 + ((gy % {ts}) * {ts} + (gx % {ts})) % 997)) AS BIGINT) AS dist_cks
FROM d GROUP BY 1, 2
"""
