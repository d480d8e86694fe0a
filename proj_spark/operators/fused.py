"""Fused reproject -> point-in-polygon -> tile-rollup kernel.

The composed flagship plan (transform pandas UDF -> broadcast PIP
join -> tile exprs -> hash aggregate) is already one narrow stage plus
one tiny exchange, but at high core counts a single box exposes its
real cost center: every row crosses the JVM<->Python Arrow boundary
once (~3 memcpy passes through socket buffers) and then flows through
the interpreted higher-order first-match filter and the JVM hash
aggregate — several hundred bytes of memory traffic per row for ~40
bytes of payload.  Measured on the bench box, the numpy math itself
sustains ~6M rows/s/core with near-perfect multicore scaling, while
the composed stage saturates shared DRAM bandwidth at ~16M rows/s
TOTAL regardless of cores.

This operator fuses the whole per-row pipeline into ONE
``mapInPandas`` kernel with an in-Python partial aggregate:

  scan(lon, lat) -> [numpy: datum/projection transform (the same
  compiled ``plans.pipeline`` closure the ``transform`` operator
  ships), first-match ray-cast PIP (same formula as
  ``spatial_join._inside_sql``), slippy tile indices (same formula as
  ``functions.expressions.tile_x/tile_y``), np.unique partial
  aggregate] -> (packed key, count) -> one tiny exchange -> final sum.

Per task the Arrow return path carries |distinct (tile, poly)| rows —
bounded by the tile/polygon universe, NOT the input size — so the
JVM-side work after the scan is O(distinct keys).  This is map-side
combine pushed into the Python worker: the 10^12-row plan reads the
two coordinate columns, streams them through numpy once, and shuffles
a few thousand longs.

Semantics are IDENTICAL to the composed operators (asserted by
tests/test_fused.py and the ``fused_pip_tiles`` oracle query):
- transform: same compiled plan closure, same deg<->rad wrappers as
  ``functions.transform.transform_udf`` (bit-identical doubles).
- PIP: first containing polygon in input order wins (reference
  grid-list semantics, src/pj_apply_gridshift.c:143); the even-odd
  eastward ray cast is the same arithmetic expression as the native
  path, evaluated in float64 either way.  The exact-bbox prefilter
  admits a superset of the cell-cover candidates of
  ``point_in_polygon_join`` and the ray cast rejects the difference,
  so assignments match exactly.
- tiles: same clamp+floor arithmetic as ``expressions.tile_x/tile_y``
  (including ``lat / 180 * pi`` matching java.lang.Math.toRadians).

Scale notes: the polygon set ships inside the closure (same size
class as the broadcast cover table).  Small sets (<= 32 polys) use a
per-poly vectorized scan; larger sets switch to a cell-bucketed
candidate lookup (driver-built CSR cover at a bbox-sized resolution,
same cell addressing as ``functions.expressions.cell_id``), bounding
per-point work by cover-cell occupancy — the in-kernel analog of
``point_in_polygon_join``'s broadcast cover join, with identical
first-match results (asserted path-vs-path in tests/test_fused.py).
"""
from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..crs import CRS
from ..kernels import xmath as m
from ..plans.pipeline import build_plan

# packed rollup key layout: tx << 40 | ty << 20 | (poly_seq + 1)
_TY_SHIFT = 20
_TX_SHIFT = 40
_MASK = (1 << 20) - 1
_INVALID_KEY = -1  # non-finite transformed coordinate
# cap on accumulated (key, count) entries per task before re-merging
_MERGE_CAP = 4_000_000


def _poly_arrays(polys) -> list[tuple]:
    """[(poly_id, closed ring [(lon, lat), ...])] -> per-poly numpy
    edge arrays + bbox, in first-match priority order."""
    out = []
    for seq, (pid, ring) in enumerate(polys):
        xs = np.asarray([p[0] for p in ring], dtype=np.float64)
        ys = np.asarray([p[1] for p in ring], dtype=np.float64)
        out.append(
            (
                seq,
                pid,
                xs[:-1].copy(),  # x1
                ys[:-1].copy(),  # y1
                xs[1:].copy(),  # x2
                ys[1:].copy(),  # y2
                float(xs.min()),
                float(xs.max()),
                float(ys.min()),
                float(ys.max()),
            )
        )
    return out


# per-poly linear scan vs cell-bucketed candidate lookup crossover:
# below this many polys the linear scan always wins (cache-hot masks)
_BUCKETED_THRESHOLD = 32
# bucketed per-candidate constants (slice gather, small-array ops) vs
# the linear scan's full-batch mask — measured crossover factor
_BUCKET_OVERHEAD = 4.0
# cap on CSR candidate entries (cover cells x polys); res shrinks to fit
_COVER_ENTRY_CAP = 2_000_000


def _pick_cover_res(parrays) -> int:
    """Resolution whose cell size tracks the median polygon bbox
    (cells are 360/2^(res+1) x 180/2^res deg — the same addressing as
    ``functions.expressions.cell_id`` and ``spatial_join.polygon_cover``).
    A cell comparable to a bbox keeps per-poly cover ~O(1) cells and
    per-cell candidate lists ~O(local overlap)."""
    spans = [
        max(t[7] - t[6], (t[9] - t[8]) * 2.0, 1e-12)
        for t in parrays
        if all(map(math.isfinite, t[6:10]))
    ]
    if not spans:  # every bbox non-finite -> cover is empty at any res
        return 2
    med = float(np.median(spans))
    # cell x-width at res is 360/2^(res+1); want it ~= med
    res = int(round(math.log2(360.0 / med) - 1.0))
    return min(max(res, 2), 12)


def _cell_rect(bbox, res: int):
    """Clamped (ix0, ix1, iy0, iy1) cover rectangle for a bbox at
    ``res``; None when the bbox has a non-finite coordinate (such a
    polygon can never match — NaN comparisons are false in the exact
    bbox test — so it is excluded from the cover instead of crashing
    the floor/int conversion)."""
    bw, be, bs, bn = bbox
    if not all(map(math.isfinite, bbox)):
        return None
    n = 1 << res
    two_n = 2 * n
    ix0 = int(min(max(math.floor((bw + 180.0) / 360.0 * two_n), 0), two_n - 1))
    ix1 = int(min(max(math.floor((be + 180.0) / 360.0 * two_n), 0), two_n - 1))
    iy0 = int(min(max(math.floor((bs + 90.0) / 180.0 * n), 0), n - 1))
    iy1 = int(min(max(math.floor((bn + 90.0) / 180.0 * n), 0), n - 1))
    return ix0, ix1, iy0, iy1


def _cover_entry_count(parrays, res: int) -> int:
    """Analytic CSR size at ``res`` — O(|polys|), no allocation, so
    the resolution can be chosen BEFORE building anything (a single
    global-bbox polygon at a fine res would otherwise mean tens of
    millions of dict inserts just to discover the cap is blown)."""
    total = 0
    for t in parrays:
        r = _cell_rect(t[6:10], res)
        if r is not None:
            total += (r[1] - r[0] + 1) * (r[3] - r[2] + 1)
    return total


def _build_cover_csr(parrays, res: int):
    """Driver-side equirectangular cell cover (same addressing as
    functions.expressions.cell_id: cells are (360/2^res) x (180/2^res)
    deg, id = iy * 2^(res+1) + ix), one candidate list per cover cell
    sorted by poly_seq.  Returned as CSR arrays for the kernel's
    searchsorted lookup: (sorted cell ids, offsets, candidate seqs)."""
    n = 1 << res
    two_n = 2 * n
    per_cell: dict[int, list[int]] = {}
    for t in parrays:
        r = _cell_rect(t[6:10], res)
        if r is None:
            continue
        ix0, ix1, iy0, iy1 = r
        seq = t[0]
        for iy in range(iy0, iy1 + 1):
            base = iy * two_n
            for ix in range(ix0, ix1 + 1):
                per_cell.setdefault(base + ix, []).append(seq)
    cells = np.fromiter(sorted(per_cell), dtype=np.int64, count=len(per_cell))
    offs = np.zeros(len(cells) + 1, dtype=np.int64)
    cand_parts = []
    for i, c in enumerate(cells):
        seqs = per_cell[int(c)]  # appended in seq order already
        offs[i + 1] = offs[i] + len(seqs)
        cand_parts.append(np.asarray(seqs, dtype=np.int64))
    cand = (
        np.concatenate(cand_parts) if cand_parts else np.empty(0, dtype=np.int64)
    )
    return cells, offs, cand, res


def _cover_for(parrays):
    """Bbox-sized cover, coarsened until the CSR fits the entry cap
    (the closure ships to every task; keep it broadcast-small).  The
    cap is checked ANALYTICALLY before any build, so one huge-bbox
    polygon cannot force a multi-million-insert dict build at a fine
    resolution just to discover it must coarsen."""
    res = _pick_cover_res(parrays)
    while res > 2 and _cover_entry_count(parrays, res) > _COVER_ENTRY_CAP:
        res -= 1
    return _build_cover_csr(parrays, res)


def _assign_bucketed(parrays, cover, lon, lat) -> np.ndarray:
    """First-match poly_seq per point via the cell-bucketed candidate
    lists — identical semantics to the linear scan (exact-bbox check +
    even-odd ray cast, ascending seq, first hit wins), but per-point
    work is bounded by cover-cell occupancy instead of |polys|.

    Structure: sort points by cell id once per batch, then walk each
    occupied cell's contiguous point slice through its seq-sorted
    candidate list with an all-assigned early exit — no per-(point,
    candidate) pair materialization, so the constants stay close to
    the linear scan's while the asymptotics follow cell occupancy."""
    cells, offs, cand, res = cover
    n = 1 << res
    two_n = 2 * n
    out = np.full(lon.shape[0], -1, dtype=np.int64)
    if lon.shape[0] == 0:
        return out
    # non-finite coords (transform failure sentinel) are a miss; route
    # them to an impossible cell id instead of casting NaN to int
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    ix = np.clip(np.floor((np.where(bad, 0.0, lon) + 180.0) / 360.0 * two_n), 0, two_n - 1)
    iy = np.clip(np.floor((np.where(bad, 0.0, lat) + 90.0) / 180.0 * n), 0, n - 1)
    cid = iy.astype(np.int64) * two_n + ix.astype(np.int64)
    cid[bad] = -1  # below every cover cell id
    order = np.argsort(cid, kind="stable")
    cid_s = cid[order]
    starts = np.flatnonzero(np.diff(cid_s, prepend=cid_s[0] - 1))
    bounds = np.append(starts, cid_s.shape[0])
    ucells = cid_s[starts]
    pos = np.searchsorted(cells, ucells)
    in_cover = pos < cells.shape[0]
    np.logical_and(
        in_cover, cells[np.minimum(pos, cells.shape[0] - 1)] == ucells, out=in_cover
    )
    for ci in np.flatnonzero(in_cover):
        lo, hi = offs[pos[ci]], offs[pos[ci] + 1]
        if hi == lo:
            continue
        pts = order[bounds[ci] : bounds[ci + 1]]
        px = lon[pts]
        py = lat[pts]
        res_c = np.full(pts.shape[0], -1, dtype=np.int64)
        n_open = pts.shape[0]
        for k in range(lo, hi):
            seq = int(cand[k])
            _s, _pid, x1, y1, x2, y2, bw, be, bs, bn = parrays[seq]
            live = (res_c < 0) & (px >= bw) & (px <= be) & (py >= bs) & (py <= bn)
            if not live.any():
                continue
            lx = np.flatnonzero(live)
            inside = _raycast_inside(px[lx], py[lx], x1, y1, x2, y2)
            won = lx[inside]
            res_c[won] = seq
            n_open -= won.shape[0]
            if n_open == 0:
                break  # every point in this cell is assigned
        out[pts] = res_c
    return out


def _assign_linear(parrays, lon, lat) -> np.ndarray:
    """First-match poly_seq per point by per-poly vectorized scan;
    -1 = miss.  O(|polys|) per batch — right for small polygon sets."""
    res = np.full(lon.shape[0], -1, dtype=np.int64)
    for seq, _pid, x1, y1, x2, y2, bw, be, bs, bn in parrays:
        cand = (res < 0) & (lon >= bw) & (lon <= be) & (lat >= bs) & (lat <= bn)
        if not cand.any():
            continue
        ix = np.flatnonzero(cand)
        inside = _raycast_inside(lon[ix], lat[ix], x1, y1, x2, y2)
        res[ix[inside]] = seq
    return res


def _raycast_inside(lon, lat, x1, y1, x2, y2) -> np.ndarray:
    """Even-odd eastward ray cast, same arithmetic as the native
    expression in spatial_join._inside_sql (float64 both ways)."""
    lo = lon[:, None]
    la = lat[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        crosses = ((y1 > la) != (y2 > la)) & (
            lo < (x2 - x1) * (la - y1) / (y2 - y1) + x1
        )
    return (crosses.sum(axis=1) % 2) == 1


def _tile_xy(lon, lat, zoom: int):
    """Slippy tile indices, mirroring expressions.tile_x/tile_y
    (F.radians == Math.toRadians == d / 180 * pi)."""
    n = float(2.0 ** float(zoom))
    tx = np.floor((lon + 180.0) / 360.0 * n)
    np.clip(tx, 0.0, n - 1.0, out=tx)
    t = np.tan(lat / 180.0 * np.pi)
    asinh_t = np.log(t + np.sqrt(t * t + 1.0))
    ty = np.floor((1.0 - asinh_t / math.pi) / 2.0 * n)
    np.clip(ty, 0.0, n - 1.0, out=ty)
    return tx, ty


def _make_kernel(src, dst, polys, zoom: int, id_mode: bool):
    if len(polys) + 1 >= 1 << _TY_SHIFT:
        raise ValueError(
            f"{len(polys)} polygons exceed the packed-key poly_seq field "
            f"(max {(1 << _TY_SHIFT) - 2}); split the polygon set or use "
            "the composed spatial_join path"
        )
    src = CRS.from_proj4(src) if isinstance(src, str) else src
    dst = CRS.from_proj4(dst) if isinstance(dst, str) else dst
    plan = build_plan(src, dst)
    src_ll, dst_ll = src.is_latlong, dst.is_latlong
    parrays = _poly_arrays(polys)
    cover = None
    if len(parrays) > _BUCKETED_THRESHOLD:
        c = _cover_for(parrays)
        # mean candidate-list length over occupied cells estimates the
        # bucketed per-point work; the linear scan's is |polys|
        est = c[2].size / max(c[0].size, 1)
        if est * _BUCKET_OVERHEAD < len(parrays):
            cover = c

    def _shift(x, y):
        # identical sequence of float64 ops to transform_udf
        if src_ll:
            x *= m.DEG_TO_RAD
            y *= m.DEG_TO_RAD
        xo, yo, _ = plan(x, y, None)
        if dst_ll:
            xo = xo * m.RAD_TO_DEG
            yo = yo * m.RAD_TO_DEG
        return xo, yo

    def _assign(lon, lat):
        """first-match poly_seq per point; -1 = miss."""
        if cover is not None:
            return _assign_bucketed(parrays, cover, lon, lat)
        return _assign_linear(parrays, lon, lat)

    def rollup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys_acc: list[np.ndarray] = []
        cnts_acc: list[np.ndarray] = []

        def _merged():
            k = np.concatenate(keys_acc)
            c = np.concatenate(cnts_acc)
            uk, inv = np.unique(k, return_inverse=True)
            uc = np.zeros(uk.shape[0], dtype=np.int64)
            np.add.at(uc, inv, c)
            return uk, uc

        n_acc = 0
        for b in batches:
            x = b["lon"].to_numpy(dtype=np.float64, copy=True)
            y = b["lat"].to_numpy(dtype=np.float64, copy=True)
            lon, lat = _shift(x, y)
            ok = np.isfinite(lon) & np.isfinite(lat)
            key = np.full(lon.shape[0], _INVALID_KEY, dtype=np.int64)
            if ok.any():
                glon = lon[ok] if not ok.all() else lon
                glat = lat[ok] if not ok.all() else lat
                seq = _assign(glon, glat)
                tx, ty = _tile_xy(glon, glat, zoom)
                gk = (
                    (tx.astype(np.int64) << _TX_SHIFT)
                    | (ty.astype(np.int64) << _TY_SHIFT)
                    | (seq + 1)
                )
                if ok.all():
                    key = gk
                else:
                    key[ok] = gk
            uk, uc = np.unique(key, return_counts=True)
            keys_acc.append(uk)
            cnts_acc.append(uc)
            n_acc += uk.shape[0]
            if n_acc > _MERGE_CAP:
                uk, uc = _merged()
                keys_acc, cnts_acc, n_acc = [uk], [uc], uk.shape[0]
        if keys_acc:
            uk, uc = _merged()
            yield pd.DataFrame({"key": uk, "n": uc})

    def rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            x = b["lon"].to_numpy(dtype=np.float64, copy=True)
            y = b["lat"].to_numpy(dtype=np.float64, copy=True)
            lon, lat = _shift(x, y)
            seq = _assign(lon, lat)
            tx, ty = _tile_xy(lon, lat, zoom)
            ok = np.isfinite(lon) & np.isfinite(lat)
            out = pd.DataFrame(
                {
                    "id": b["id"].to_numpy(),
                    "tile_x": pd.array(
                        np.where(ok, tx, 0).astype(np.int64), dtype="Int64"
                    ),
                    "tile_y": pd.array(
                        np.where(ok, ty, 0).astype(np.int64), dtype="Int64"
                    ),
                    "poly_seq": pd.array(seq, dtype="Int64"),
                }
            )
            out.loc[~ok, ["tile_x", "tile_y"]] = pd.NA
            out.loc[seq < 0, "poly_seq"] = pd.NA
            yield out

    return rows if id_mode else rollup


def reproject_pip_tile_rollup(
    df: DataFrame,
    src,
    dst,
    polys,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Fused flagship rollup: (tile_x, tile_y, poly_seq, n) at ``zoom``
    over reprojected points, first-match polygon assignment included.

    ``polys``: [(poly_id, closed ring [(lon, lat), ...])] in priority
    order.  poly_seq is null for points in no polygon; tile_x/tile_y
    are null for points the transform could not map (NaN sentinel).
    """
    if not 0 <= zoom <= 19:
        raise ValueError(f"zoom {zoom} outside packed-key range [0, 19]")
    kernel = _make_kernel(src, dst, polys, zoom, id_mode=False)
    partial = df.select(
        F.col(lon).cast("double").alias("lon"), F.col(lat).cast("double").alias("lat")
    ).mapInPandas(kernel, "key long, n long")
    total = partial.groupBy("key").agg(F.sum("n").alias("n"))
    valid = F.col("key") >= 0
    ps = F.col("key").bitwiseAND(F.lit(_MASK))
    return total.select(
        F.when(valid, F.shiftright("key", _TX_SHIFT)).alias("tile_x"),
        F.when(valid, F.shiftright("key", _TY_SHIFT).bitwiseAND(F.lit(_MASK))).alias(
            "tile_y"
        ),
        F.when(valid & (ps > 0), ps - 1).alias("poly_seq"),
        "n",
    )


def reproject_pip_tile_rows(
    df: DataFrame,
    src,
    dst,
    polys,
    zoom: int,
    id_col: str,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-row fused assignment: (id, tile_x, tile_y, poly_seq) —
    the user-facing form of the fused kernel (keeps the row key,
    skips the partial aggregate)."""
    if not 0 <= zoom <= 19:
        raise ValueError(f"zoom {zoom} outside packed-key range [0, 19]")
    kernel = _make_kernel(src, dst, polys, zoom, id_mode=True)
    id_type = dict(zip(df.schema.names, df.schema))[id_col].dataType.simpleString()
    out = df.select(
        F.col(id_col).alias("id"),
        F.col(lon).cast("double").alias("lon"),
        F.col(lat).cast("double").alias("lat"),
    ).mapInPandas(kernel, f"id {id_type}, tile_x long, tile_y long, poly_seq long")
    return out.withColumnRenamed("id", id_col)
