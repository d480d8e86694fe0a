"""End-to-end IMAGE curation pipeline — the multimodal funnel.

The image-side twin of tools/example_pipeline.py, composing the image
lane's operators the way a 10^12-row ingest run would:

  images: payload verification (decode + PSNR>=40 + caption equality)
          -> quality gate (blur variance / entropy / contrast floors)
          -> phash near-dup pairs -> connected components
          -> canonical-image selection
          -> EXIF splice (camera-style orientation+GPS in the bytes)
             -> upright normalization (sources/exif.py, round 4)
          -> per-tile WebDataset thumbnail export (+ manifest)
          -> COG overview pyramid over the occupied tiles (round 4)

Every stage is the scale-shaped operator (banded pair generation,
id-only shuffles, payload attached last), not a toy.

Usage:  python tools/example_image_pipeline.py [n_images] [out_dir]
Prints one JSON summary line; exits nonzero on any invariant breach.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, n_images: int, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from proj_spark.operators.components import dedup_groups
    from proj_spark.operators.multimodal import exact_phash_pairs, image_quality
    from proj_spark.operators.tilesink import tile_thumbnails
    from proj_spark.sources.images import (
        generate_images,
        verify_payloads,
        with_centroids,
    )

    t0 = time.time()
    funnel: dict[str, int] = {}
    imgs = with_centroids(generate_images(spark, n_images)).cache()
    funnel["ingest"] = imgs.count()

    # 1. payload invariants: decode, PSNR gate, caption equality
    ok_ids = (
        verify_payloads(imgs)
        .where(F.col("caption_ok") & F.col("pixels_ok"))
        .select("image_id")
    )
    verified = imgs.join(ok_ids, "image_id")
    funnel["payload_verified"] = verified.count()

    # 2. quality gate (floors tuned to the synthetic fixture's range)
    q = image_quality(verified)
    keep_ids = q.where(
        (F.col("blur_var") > 100.0)
        & (F.col("entropy_bits") > 4.0)
        & (F.col("contrast") > 10.0)
    ).select("image_id")
    gated = verified.join(keep_ids, "image_id").cache()
    funnel["quality_gated"] = gated.count()

    # 3. near-dup clustering on the perceptual hash (ids only shuffle).
    # The synthetic fixture shares one gradient base across all images
    # (only the seeded noise differs), so it is a PERCEPTUAL near-dup
    # corpus by construction — ~19 distinct phashes per 400 images, and
    # any hamming radius >= 1 collapses everything into one component
    # (the thumbnail-farm degenerate case the pair_cap guards against).
    # Cluster at hamming 0 (exact perceptual duplicates) so the funnel
    # stays readable; a diverse production corpus would use 2-6 via
    # phash_dedup_pairs.  At radius 0 the star generator is exact and
    # O(n): the fixture's shared gradient base makes phash groups
    # thousands strong at 20k+ images, and clique pairs within capped
    # buckets (pair_cap^2/2 per bucket) OOM'd the 20k run.
    pairs = exact_phash_pairs(gated.select("image_id", "phash"))
    groups = dedup_groups(
        gated.select("image_id"), pairs, id_col="image_id", a="id_a", b="id_b"
    )
    canonical = gated.join(
        groups.where(F.col("is_canonical")).select("image_id"), "image_id"
    )
    funnel["canonical"] = canonical.count()

    # 3.5 EXIF lane (round 4): splice camera-style EXIF (orientation
    # cycling 1..8, GPS = the derived centroid) into every JPEG
    # payload — the shape uploads actually arrive in — then normalize
    # to orientation 1.  Narrow mapInPandas both ways; payload never
    # shuffles.  PNG rows (no EXIF channel) pass through byte-equal.
    import pandas as _pd
    from pyspark.sql import types as _T

    import numpy as _np

    from proj_spark.sources.exif import (
        build_app1,
        extract_exif,
        gps_quantize,
        insert_app1,
        orient_pixels,
        upright_images,
    )
    from proj_spark.sources.images import decode_image, encode_image

    _splice_schema = _T.StructType(
        [
            _T.StructField("image_id", _T.StringType()),
            _T.StructField("bytes", _T.BinaryType()),
            _T.StructField("fmt", _T.StringType()),
        ]
    )

    def _splice(batches):
        for b in batches:
            rows = []
            for iid, raw, fmt, lon, lat in zip(
                b["image_id"].to_numpy(),
                b["bytes"].to_numpy(),
                b["fmt"].to_numpy(),
                b["lon"].to_numpy(),
                b["lat"].to_numpy(),
            ):
                raw = bytes(raw)
                if fmt == "jpeg":
                    # store the pixels the way a camera with this flag
                    # would (rotated), then flag it in APP1
                    o = int(iid[3:]) % 8 + 1
                    stored = _np.ascontiguousarray(
                        orient_pixels(decode_image(raw, fmt), o)
                    )
                    raw = insert_app1(
                        encode_image(stored, fmt),
                        build_app1(
                            orientation=o,
                            lat=gps_quantize(float(lat)),
                            lon=gps_quantize(float(lon)),
                        ),
                    )
                rows.append((iid, raw, fmt))
            yield _pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])

    spliced = canonical.select("image_id", "bytes", "fmt", "lon", "lat").mapInPandas(
        _splice, _splice_schema
    )
    funnel["exif_gps_present"] = (
        extract_exif(spliced).where(F.col("has_gps")).count()
    )
    up = upright_images(spliced)
    funnel["exif_uprighted"] = up.where(F.col("was_rotated")).count()
    # re-attach the columns the sink needs (payload now upright)
    canonical = up.select("image_id", "bytes", "fmt").join(
        canonical.select("image_id", "w", "h", "caption", "phash", "lon", "lat"),
        "image_id",
    )

    # 4. per-tile thumbnail export + manifest
    manifest = tile_thumbnails(canonical, out_dir, zoom=6, thumb=8).cache()
    funnel["tiles_written"] = manifest.count()
    exported = manifest.agg(F.sum("n")).collect()[0][0]
    funnel["thumbnails_exported"] = int(exported or 0)

    # 5. COG overview pyramid (round 4) over the occupied tiles: one
    # 16px PNG raster per zoom-6 tile (deterministic first canonical
    # image by id — rank+row_number, never first()), reduced to zoom 3
    # with the exact-integer box filter.  Constant-group-size shuffles.
    from pyspark.sql import Window

    from proj_spark.functions import expressions as E
    from proj_spark.operators.pyramid import build_pyramid
    from proj_spark.sources.images import encode_png

    first = (
        canonical.withColumn("tx", E.tile_x("lon", 6))
        .withColumn("ty", E.tile_y("lat", 6))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("tx", "ty").orderBy("image_id")
            ),
        )
        .where(F.col("_rn") == 1)
        .select("tx", "ty", "bytes", "fmt")
    )

    _raster_schema = _T.StructType(
        [
            _T.StructField("x", _T.LongType()),
            _T.StructField("y", _T.LongType()),
            _T.StructField("bytes", _T.BinaryType()),
        ]
    )

    def _raster(batches):
        for b in batches:
            rows = []
            for x, y, raw, fmt in zip(
                b["tx"].to_numpy(),
                b["ty"].to_numpy(),
                b["bytes"].to_numpy(),
                b["fmt"].to_numpy(),
            ):
                px = decode_image(bytes(raw), fmt)
                yi = (_np.arange(16) * px.shape[0]) // 16
                xi = (_np.arange(16) * px.shape[1]) // 16
                rows.append((int(x), int(y), encode_png(px[_np.ix_(yi, xi)])))
            yield _pd.DataFrame(rows, columns=["x", "y", "bytes"])

    tiles16 = first.mapInPandas(_raster, _raster_schema)
    funnel["pyramid_tiles"] = build_pyramid(tiles16, 6, 3, 16).count()

    # invariants: monotone funnel; export count == canonical count;
    # shards exist on disk for every manifest row
    assert (
        funnel["ingest"]
        >= funnel["payload_verified"]
        >= funnel["quality_gated"]
        >= funnel["canonical"]
        == funnel["thumbnails_exported"]
    ), funnel
    # the pyramid holds every occupied base tile plus its overviews
    assert funnel["pyramid_tiles"] >= funnel["tiles_written"], funnel
    # every JPEG got EXIF GPS; 7 of 8 orientation flags need a rotation
    assert funnel["exif_uprighted"] <= funnel["exif_gps_present"], funnel
    for r in manifest.collect():
        assert any(
            f.endswith(".tar") for f in os.listdir(r.shard_dir)
        ), r.shard_dir
    return {"funnel": funnel, "wall_sec": round(time.time() - t0, 3)}


def main() -> None:
    from proj_spark.session import build_session

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="img_funnel_")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        "proj-spark-image-funnel", cpus=cpus, shuffle_partitions=max(2 * cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    out_line = run(spark, n, out)
    out_line["out_dir"] = out
    print(json.dumps(out_line))
    spark.stop()


if __name__ == "__main__":
    main()
