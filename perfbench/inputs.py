"""Seeded benchmark inputs, generated once per seed into a local cache.

Every table is a pure function of ``--seed``: the same seed writes the
same rows.  The engine only ever sees the generated parquet tables and
the polygon list, never the generator.

Point law (FIXTURES.md skew knob): uniform over CONUS
(lon -125..-67, lat 25..49) with ``HOT_FRAC`` of the rows resampled
into one ~1 km hot cell centred on (-118.25, 34.05).  Polygons follow
the ``_fixture_polygons`` law: 12 jittered regular n-gons (n in 4..9)
around seeded centres, the first of them on the hot cell.
"""
from __future__ import annotations

import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_LON, HOT_LAT = -118.25, 34.05
# half-widths of the hot cell: ~1 km on each axis at lat 34
HOT_DLON, HOT_DLAT = 0.0054, 0.0045
HOT_FRAC = 0.2
N_POLYS = 12
# files per table: a few per core so local[nproc] scans balance
N_FILES = 8


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so resizing one table leaves the
    others' rows unchanged."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def points(seed: int, n: int, stream: str) -> dict[str, np.ndarray]:
    rng = _rng(seed, stream)
    lon = rng.uniform(-125.0, -67.0, n)
    lat = rng.uniform(25.0, 49.0, n)
    sel = rng.random(n) < HOT_FRAC
    k = int(sel.sum())
    lon[sel] = HOT_LON + rng.uniform(-HOT_DLON, HOT_DLON, k)
    lat[sel] = HOT_LAT + rng.uniform(-HOT_DLAT, HOT_DLAT, k)
    return {"id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat}


def polygons(seed: int) -> list[tuple[str, list[tuple[float, float]]]]:
    """[(poly_id, closed ring)] in first-match priority order.

    Polygon 0 is centred within 0.2 deg of the hot cell, so the hot
    cell's points always go through the point-in-polygon refinement of
    exactly one polygon; the other centres are redrawn until their
    polygon's bbox keeps clear of it.  Whether a seed put a polygon on
    the hot cell would otherwise change a pass's work by a fifth of
    the rows."""
    rng = random.Random(seed * 7919 + 20240416)
    polys = []
    for i in range(N_POLYS):
        nv = rng.randint(4, 9)
        rad = rng.uniform(1.0, 4.0)
        if i == 0:
            cx = HOT_LON + rng.uniform(-0.2, 0.2)
            cy = HOT_LAT + rng.uniform(-0.2, 0.2)
        else:
            cx, cy = HOT_LON, HOT_LAT
            while abs(cx - HOT_LON) <= rad and abs(cy - HOT_LAT) <= rad:
                cx = rng.uniform(-120.0, -72.0)
                cy = rng.uniform(27.0, 46.0)
        ring = []
        for j in range(nv):
            ang = 2.0 * math.pi * j / nv
            rr = rad * (0.7 + 0.3 * rng.random())
            ring.append((round(cx + rr * math.cos(ang), 6), round(cy + rr * math.sin(ang), 6)))
        ring.append(ring[0])
        polys.append((f"poly{i:03d}", ring))
    return polys


def _write(path: str, cols: dict[str, np.ndarray]) -> int:
    """Write ``cols`` as N_FILES parquet files under ``path``
    (atomically, via a rename of the finished directory); returns the
    bytes on disk."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, N_FILES + 1).astype(np.int64)
    for i in range(N_FILES):
        part = pa.table({k: v[bounds[i] : bounds[i + 1]] for k, v in cols.items()})
        pq.write_table(part, os.path.join(tmp, f"part-{i:03d}.parquet"))
    os.replace(tmp, path)
    return table_bytes(path)


def table_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def ensure(cache_root: str, seed: int, tables: dict[str, int]) -> dict:
    """Materialise ``tables`` ({name: rows}) for
    ``seed`` under ``cache_root`` unless already cached.  Returns
    {name: {"path", "rows", "bytes"}} plus the polygons."""
    root = os.path.join(cache_root, f"seed-{seed}")
    os.makedirs(root, exist_ok=True)
    out: dict = {}
    for name, n in tables.items():
        path = os.path.join(root, f"{name}-{n}")
        if not os.path.isdir(path):
            _write(path, points(seed, n, name))
        out[name] = {"path": path, "rows": n, "bytes": table_bytes(path)}
    out["polygons"] = polygons(seed)
    return out
