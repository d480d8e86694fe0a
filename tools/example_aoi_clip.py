"""AOI clip workflow — the geospatial-imagery composition in one job:

  polygon AOI -> per-tile pixel masks (operators/rasterize.py)
             -> clip the imagery tiles to the AOI (apply_masks:
                masking doubles as the spatial filter)
             -> COG overview pyramid of the clipped tiles
                (operators/pyramid.py)

This is the "cut my imagery to the study area and serve it" pipeline
a user of a tile engine runs daily.  Deterministic synthetic tiles;
prints one JSON summary line; exits nonzero on any invariant breach.

Usage: python tools/example_aoi_clip.py [zoom] [tile_px]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AOI = [
    (-104.0, 33.0),
    (-96.0, 33.5),
    (-94.5, 39.0),
    (-101.0, 41.0),
    (-105.5, 37.0),
    (-104.0, 33.0),
]


def run(spark, zoom: int, tp: int) -> dict:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from proj_spark.operators.pyramid import build_pyramid, pyramid_checksums
    from proj_spark.operators.rasterize import (
        _tile_range,
        apply_masks,
        rasterize_coverage,
        rasterize_masks,
    )
    from proj_spark.sources.images import encode_png, synth_pixels

    t0 = time.time()
    x0, x1, y0, y1 = _tile_range(AOI, zoom)
    # imagery: every tile in a margin around the AOI bbox (the tiles a
    # provider would hand over), deterministic pixels per tile id
    rows = []
    for tx in range(x0 - 2, x1 + 3):
        for ty in range(y0 - 2, y1 + 3):
            rows.append((tx, ty, encode_png(synth_pixels(tx * 100003 + ty, tp, tp))))
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["x", "y", "bytes"])
    ).repartition(8)

    masks = rasterize_masks(spark, [("aoi", AOI)], zoom, tp).cache()
    clipped = apply_masks(tiles, masks, tp).cache()
    n_input = len(rows)
    n_masked_tiles = masks.count()
    n_clipped = clipped.count()

    # invariants: clipping kept exactly the masked tiles; coverage at
    # the same sampling agrees with the mask popcounts
    cov = rasterize_coverage(spark, [("aoi", AOI)], zoom, tp)
    n_cov = cov.count()
    pix_inside = cov.agg(F.sum("n_inside")).collect()[0][0]
    mask_pop = masks.agg(F.sum("n_inside")).collect()[0][0]
    assert n_clipped == n_masked_tiles == n_cov, (n_clipped, n_masked_tiles, n_cov)
    assert int(pix_inside) == int(mask_pop), (pix_inside, mask_pop)

    # overview pyramid of the CLIPPED imagery (zeros outside the AOI
    # average into the parents — the standard transparent-edge look)
    pyr = build_pyramid(clipped.select("x", "y", "bytes"), zoom, zoom - 3, tp)
    n_pyr = pyramid_checksums(pyr).count()
    assert n_pyr > n_clipped  # base + overview levels

    return {
        "zoom": zoom,
        "tile_px": tp,
        "tiles_input": n_input,
        "tiles_in_aoi": int(n_clipped),
        "aoi_pixels": int(pix_inside),
        "pyramid_tiles": int(n_pyr),
        "wall_sec": round(time.time() - t0, 3),
    }


def main() -> None:
    from proj_spark.session import build_session

    zoom = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    tp = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        "proj-spark-aoi-clip", cpus=cpus, shuffle_partitions=max(2 * cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, zoom, tp)))
    spark.stop()


if __name__ == "__main__":
    main()
