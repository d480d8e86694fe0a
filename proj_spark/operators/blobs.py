"""Distributed raster connected-component labeling (blob extraction).

The vectorization step after change detection / thresholding: turn a
boolean pixel mask into labeled blobs (4-connectivity) with exact
per-blob statistics — the EO product behind "give me the changed
AREAS, not the changed pixels".

Three stages, none of which ever ships a full tile payload twice:

1. **Per-tile CCL** (one narrow ``mapInPandas``): vectorized min-label
   propagation — seed every masked pixel with its GLOBAL pixel gid
   (gy·width + gx), then repeatedly take the 4-neighbor minimum until
   fixpoint (iterations = max in-tile blob graph-diameter; each pass
   is four shifted ``np.minimum``s, no scipy).  Converged labels are
   the min masked gid of each tile-local component.  The tile emits
   only (label, size) rows plus BORDER STUBS: (boundary-pixel key,
   side, label) for masked pixels on its E/S edges and W/N edges —
   O(tile_px) rows per tile, never O(tile_px²).
2. **Cross-tile merge**: stubs groupBy the shared boundary key — a
   masked pixel pair straddling a tile edge yields one (label_a,
   label_b) edge; the label graph (plus self-pairs so interior blobs
   survive) goes through :func:`components.connected_components`
   (label propagation + pointer jumping).  The graph is sized by
   BLOBS-TOUCHING-BORDERS, not pixels.
3. **Rollup**: one exchange groups per-tile sizes by final component;
   the blob id is the global minimum masked gid of the blob — a
   deterministic, engine-independent name.

The DuckDB oracle replays the whole thing from the LCG closed form
with a recursive transitive closure over masked-pixel adjacency —
tractable because the fixture threshold keeps the mask sparse
(subcritical: blobs are small), while the Spark path's cost is
independent of that sparsity.
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

from .components import connected_components

_STUB = StructType(
    [
        StructField("kind", IntegerType()),  # 0=size row, 1=H stub, 2=V stub
        StructField("k", LongType()),        # boundary key / tile id
        StructField("side", IntegerType()),  # 0=W/N of the pair, 1=E/S
        StructField("lbl", LongType()),
        StructField("size", LongType()),
        # kind=0 only: per-(tile, label) bbox + coordinate sums, all
        # exact int64 — they fold associatively in the final rollup so
        # the blob bbox/centroid never needs a second pixel pass
        StructField("mnx", LongType()),
        StructField("mny", LongType()),
        StructField("mxx", LongType()),
        StructField("mxy", LongType()),
        StructField("sgx", LongType()),
        StructField("sgy", LongType()),
    ]
)


def _label_tile(mask: np.ndarray, gid0: np.ndarray) -> np.ndarray:
    """Min-label propagation to fixpoint.  ``mask``: (h, w) bool;
    ``gid0``: (h, w) int64 global pixel ids.  Returns labels with -1
    on unmasked pixels."""
    big = np.iinfo(np.int64).max
    lab = np.where(mask, gid0, big)
    for _ in range(mask.size):  # bound only; exits at fixpoint
        nxt = lab.copy()
        nxt[1:, :] = np.minimum(nxt[1:, :], lab[:-1, :])
        nxt[:-1, :] = np.minimum(nxt[:-1, :], lab[1:, :])
        nxt[:, 1:] = np.minimum(nxt[:, 1:], lab[:, :-1])
        nxt[:, :-1] = np.minimum(nxt[:, :-1], lab[:, 1:])
        nxt = np.where(mask, nxt, big)
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return np.where(mask, lab, -1)


def label_blobs(
    tiles: DataFrame, tile_px: int, width: int, iso: int
) -> DataFrame:
    """``tiles``: (x:long, y:long, bytes: raw uint8 tile_px²) on a
    grid whose full raster is ``width`` pixels wide; mask is
    ``pixel >= iso``.  Returns one row per blob — the full vectorize
    product: (blob = min masked gid, n_px, n_tiles, exact bbox
    bb_x0..bb_y1, and integer centroid sums sum_gx/sum_gy so the
    caller derives the centroid without a second pixel pass)."""
    ts = tile_px

    def stage1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples():
                x, y = int(r.x), int(r.y)
                v = np.frombuffer(r.bytes, dtype=np.uint8).reshape(ts, ts)
                gx = x * ts + np.arange(ts, dtype=np.int64)[None, :]
                gy = y * ts + np.arange(ts, dtype=np.int64)[:, None]
                gid = gy * width + gx
                mask = v >= iso
                if not mask.any():
                    continue
                lab = _label_tile(mask, gid)
                tile_id = gid[0, 0]
                lab_m = lab[mask]
                gxm = np.broadcast_to(gx, mask.shape)[mask]
                gym = np.broadcast_to(gy, mask.shape)[mask]
                ls, inv, cnt = np.unique(
                    lab_m, return_inverse=True, return_counts=True
                )
                big = np.iinfo(np.int64).max
                mnx = np.full(len(ls), big)
                mny = np.full(len(ls), big)
                mxx = np.full(len(ls), -1)
                mxy = np.full(len(ls), -1)
                sgx = np.zeros(len(ls), dtype=np.int64)
                sgy = np.zeros(len(ls), dtype=np.int64)
                np.minimum.at(mnx, inv, gxm)
                np.minimum.at(mny, inv, gym)
                np.maximum.at(mxx, inv, gxm)
                np.maximum.at(mxy, inv, gym)
                np.add.at(sgx, inv, gxm)
                np.add.at(sgy, inv, gym)
                for i, (l_, c_) in enumerate(zip(ls, cnt)):
                    rows.append(
                        (0, int(tile_id), 0, int(l_), int(c_),
                         int(mnx[i]), int(mny[i]), int(mxx[i]),
                         int(mxy[i]), int(sgx[i]), int(sgy[i]))
                    )
                # horizontal stubs: E edge (side 0, key = own gid) and
                # W edge (side 1, key = left neighbor's gid)
                for gy_, l_ in zip(gid[mask[:, -1], -1], lab[mask[:, -1], -1]):
                    rows.append((1, int(gy_), 0, int(l_), 0, 0, 0, 0, 0, 0, 0))
                if x > 0:
                    for gy_, l_ in zip(gid[mask[:, 0], 0], lab[mask[:, 0], 0]):
                        rows.append((1, int(gy_) - 1, 1, int(l_), 0, 0, 0, 0, 0, 0, 0))
                # vertical stubs: S edge / N edge (key = upper pixel gid)
                for gx_, l_ in zip(gid[-1, mask[-1, :]], lab[-1, mask[-1, :]]):
                    rows.append((2, int(gx_), 0, int(l_), 0, 0, 0, 0, 0, 0, 0))
                if y > 0:
                    for gx_, l_ in zip(gid[0, mask[0, :]], lab[0, mask[0, :]]):
                        rows.append((2, int(gx_) - width, 1, int(l_), 0, 0, 0, 0, 0, 0, 0))
            yield pd.DataFrame(
                rows,
                columns=["kind", "k", "side", "lbl", "size",
                         "mnx", "mny", "mxx", "mxy", "sgx", "sgy"],
            )

    parts = tiles.mapInPandas(stage1, _STUB)
    # stage-1 output is O(components + borders), tiny vs the raster;
    # checkpoint it so sizes/self-pairs/edges don't re-scan the tiles
    # (same pattern as components.connected_components's edge frame)
    parts = parts.localCheckpoint(eager=False)
    sizes = parts.where(F.col("kind") == 0).select(
        F.col("k").alias("tile_id"), "lbl", "size",
        "mnx", "mny", "mxx", "mxy", "sgx", "sgy",
    )
    stubs = parts.where(F.col("kind") > 0)
    a = stubs.where(F.col("side") == 0).select(
        "kind", "k", F.col("lbl").alias("id_a")
    )
    b = stubs.where(F.col("side") == 1).select(
        "kind", "k", F.col("lbl").alias("id_b")
    )
    edges = a.join(b, on=["kind", "k"]).select("id_a", "id_b")
    selfp = sizes.select(
        F.col("lbl").alias("id_a"), F.col("lbl").alias("id_b")
    )
    comp = connected_components(edges.union(selfp))
    out = (
        sizes.join(comp, sizes["lbl"] == comp["node"])
        .groupBy(F.col("component").alias("blob"))
        .agg(
            F.sum("size").alias("n_px"),
            F.countDistinct("tile_id").alias("n_tiles"),
            F.min("mnx").alias("bb_x0"),
            F.min("mny").alias("bb_y0"),
            F.max("mxx").alias("bb_x1"),
            F.max("mxy").alias("bb_y1"),
            F.sum("sgx").alias("sum_gx"),
            F.sum("sgy").alias("sum_gy"),
        )
    )
    return out


def block_hash_tiles(
    spark,
    width: int,
    height: int,
    tile_px: int,
    block_px: int = 4,
    mul: int = 2654435761,
    add: int = 12345,
    partitions: int = 8,
) -> DataFrame:
    """Deterministic BLOBBY fixture raster: pixel value is constant on
    ``block_px``-aligned blocks, v = 255 − (mix(b·mul + add) mod 256)
    with the xor-shift mix ``h ^= h >> 16`` — the raw LCG's additive
    structure makes adjacent pixels never co-exceed a high threshold
    (measured: zero adjacent pairs at iso 240), so blob fixtures need
    the avalanche step.  Same closed form the SQL oracle evaluates."""
    ts = tile_px
    if width % ts or height % ts or ts % block_px:
        raise ValueError("width/height must tile; tile_px % block_px == 0")
    n_sx = width // ts
    bw = width // block_px

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for bt in batches:
            rows = []
            for tid in bt["id"]:
                sx, sy = int(tid) % n_sx, int(tid) // n_sx
                gx = sx * ts + np.arange(ts, dtype=np.int64)[None, :]
                gy = sy * ts + np.arange(ts, dtype=np.int64)[:, None]
                b = (gy // block_px) * bw + (gx // block_px)
                h = (b * mul + add) % (1 << 32)
                h = h ^ (h >> 16)
                v = (255 - (h % 256)).astype(np.uint8)
                rows.append((sx, sy, v.tobytes()))
            yield pd.DataFrame(rows, columns=["x", "y", "bytes"])

    schema = StructType(
        [
            StructField("x", LongType()),
            StructField("y", LongType()),
            StructField("bytes", BinaryType()),
        ]
    )
    return spark.range(n_sx * (height // ts), numPartitions=partitions).mapInPandas(
        make, schema
    )


def blobs_oracle_sql(
    width: int,
    height: int,
    tile_px: int,
    iso: int,
    block_px: int = 4,
    mul: int = 2654435761,
    add: int = 12345,
) -> str:
    """DuckDB mirror: masked pixels from the block-hash closed form,
    4-adjacency edges, recursive transitive closure (tractable on the
    sparse fixture mask), min-gid component id, identical rollup."""
    ts = tile_px
    bw = width // block_px
    h0 = f"((((gy // {block_px}) * {bw} + (gx // {block_px})) * {mul} + {add}) % 4294967296)"
    v = f"(255 - (xor({h0}, {h0} >> 16) % 256))"
    return f"""
WITH RECURSIVE px AS (
  SELECT (gy * {width} + gx) AS gid, gx, gy,
         (gy // {ts}) * ({width} // {ts}) + (gx // {ts}) AS tile
  FROM range({width}) xs(gx), range({height}) ys(gy)
  WHERE {v} >= {iso}
),
e AS (
  SELECT a.gid AS u, b.gid AS v FROM px a JOIN px b
    ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
reach(gid, l) AS (
  SELECT gid, gid FROM px
  UNION
  SELECT s.u, reach.l FROM sym s JOIN reach ON reach.gid = s.v
),
comp AS (SELECT gid, min(l) AS c FROM reach GROUP BY 1)
SELECT comp.c AS blob, count(*) AS n_px,
       CAST(count(DISTINCT px.tile) AS BIGINT) AS n_tiles,
       min(px.gx) AS bb_x0, min(px.gy) AS bb_y0,
       max(px.gx) AS bb_x1, max(px.gy) AS bb_y1,
       CAST(sum(px.gx) AS BIGINT) AS sum_gx,
       CAST(sum(px.gy) AS BIGINT) AS sum_gy
FROM comp JOIN px ON px.gid = comp.gid
GROUP BY 1
"""
