"""Benchmark harness: the flagship headline and the N-vs-4N scaling
modes.

Default run (local[$SPARK_GRAFT_CPUS], $SPARK_GRAFT_BENCH_IMAGES rows):
the north-star flagship -- images -> datum reprojection -> point-in-
polygon join -> multi-zoom tiles -> rollup, median of 3 runs -- read
against a fixed pure-compute box sentinel.  It writes the full record to
a sidecar JSON under /tmp/proj_spark_bench/, prints its path, then ONE
compact JSON headline as the last line:
  {"metric": "...", "value": <flagship median sec>, "unit": "sec",
   "cpus": ..., "rows_per_sec": ..., "queries": {"flagship_pip_tiles": ...},
   "sentinel_rows_per_sec": ...}

SPARK_GRAFT_SCALING=<mode> instead runs one N-vs-4N executor pair on
local-cluster (the sandbox stand-in for the N->4N criterion) and prints
one JSON line: shuffle, payload, warp, compute or cluster (see
_pair_modes; cluster also takes SPARK_GRAFT_SCALE_SWEEP=1,2,...), or
skew for the hot-cell skew demo.  Per-operator and per-layer numbers
are perfbench's (perfbench/README.md).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "2000000"))
# flagship input layout: 'clustered' (default; the north_star's
# centroid-keyed Iceberg sort order) or 'unclustered' (the same rows in
# random order -- the wide-scan regime of the scaling pairs recorded in
# BENCH_SCALING.json)
FLAGSHIP_TABLE = os.environ.get("SPARK_GRAFT_FLAGSHIP_TABLE", "clustered")


def _img_cache(n: int) -> str:
    return f"/tmp/proj_spark_bench/images_{n}"


def _pts_cache(n: int) -> str:
    return f"{_img_cache(n)}_pts_c1"


def _pts_uncl_cache(n: int) -> str:
    return f"{_img_cache(n)}_pts_u"



def _image_table(spark, n_images: int):
    """Materialize the input_hint image table once (parquet cache).

    The BASELINE metric measures join+tile throughput over an EXISTING
    Iceberg table; synthesis cost is a fixture cost, not pipeline
    time, so it is cached across bench runs."""
    from proj_spark.sources.images import generate_images, with_centroids

    cache = _img_cache(n_images)
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        imgs = with_centroids(generate_images(spark, n_images, partitions=4 * CPUS))
        imgs.write.mode("overwrite").parquet(cache)
    return spark.read.parquet(cache)


def _pts_table(spark, n_images: int):
    """The flagship's INPUT VIEW of the image table: the non-payload
    columns, laid out CLUSTERED by z11 centroid tile (range-partitioned
    + sorted) — the north_star's input is an Iceberg table "keyed by
    image centroid coordinates", and a spatial sort order is the
    standard layout for such tables (payload columns are never read by
    this pipeline, so a pruned scan of the clustered wide table and
    this projection do identical IO).  Clustering collapses per-tile /
    per-cell partial aggregates (each file covers few tiles), so
    rollup shuffles carry ~distinct-tiles rows instead of
    ~input-partitions x distinct-tiles."""
    from proj_spark.functions import expressions as CE

    cache = _pts_cache(n_images)
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        if os.path.exists(os.path.join(_img_cache(n_images), "_SUCCESS")):
            imgs = _image_table(spark, n_images).select(
                "image_id", "phash", "lon", "lat"
            )
        else:
            # large scale factors: payload-free point generator (same
            # centroid law, surrogate phash — sources/images.py
            # generate_points).  generate_images would pixel-encode
            # every row in Python (~3k rows/s/core: 128M rows = hours)
            # to produce payload bytes this pruned view never reads.
            from proj_spark.sources.images import generate_points

            imgs = generate_points(spark, n_images, partitions=4 * CPUS)
        key = CE.tile_key(CE.tile_x("lon", 11), CE.tile_y("lat", 11), 11)
        (
            imgs.withColumn("_ck", key)
            .repartitionByRange(4 * CPUS, "_ck")
            .sortWithinPartitions("_ck")
            .drop("_ck")
            .write.mode("overwrite")
            .parquet(cache)
        )
    return spark.read.parquet(cache)


def _pts_uncl_table(spark, n_images: int):
    """UNCLUSTERED point view: the same rows as _pts_table but in
    random (round-robin) order — the 'wide-regime' scan shape for
    large n where materializing the full payload table does not fit
    disk (42 GB at 16M -> ~170 GB at 64M).  A pruned scan of an
    unclustered wide table reads exactly these column chunks in
    exactly this order, so the scan+aggregate behavior (no spatial
    locality, partial aggs saturate at the distinct-tile cap per
    task) is identical to the true wide layout.  Written as
    4 x CPUS files so one map task covers ~n/(4 CPUS) rows."""
    cache = _pts_uncl_cache(n_images)
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        if os.path.exists(os.path.join(_pts_cache(n_images), "_SUCCESS")) or os.path.exists(
            os.path.join(_img_cache(n_images), "_SUCCESS")
        ):
            src = _pts_table(spark, n_images)
        else:
            # very large n: payload-free generator (same centroid law,
            # surrogate phash — sources/images.py generate_points)
            from proj_spark.sources.images import generate_points

            src = generate_points(spark, n_images, partitions=4 * CPUS)
        (
            src.repartition(4 * CPUS)  # round-robin: destroys spatial order
            .write.mode("overwrite")
            .parquet(cache)
        )
    return spark.read.parquet(cache)


# the flagship input's (cache dir, table) for SPARK_GRAFT_FLAGSHIP_TABLE
_FLAGSHIP_CACHE, _FLAGSHIP_SOURCE = {
    "clustered": (_pts_cache, _pts_table),
    "unclustered": (_pts_uncl_cache, _pts_uncl_table),
}[FLAGSHIP_TABLE]


def _warm_map_in_pandas(spark, slots: int):
    """Untimed warm-up of the mapInPandas path: the FIRST mapInPandas
    action on a fresh worker pool pays python-worker fork + module
    import + Arrow stream setup (~2s across 32 workers), a one-time
    cost a long-running cluster amortizes away; run it on every worker
    slot so the timed flagship measures the steady state.

    The warm kernel also imports the engine modules the flagship
    kernel needs (numpy + the kernel/plan packages): measured on this
    box, a noop-only warm still left the first fused run ~1.5 s slower
    than steady state because each of the 32 workers paid the package
    import inside the timed region — the exact cost a warm pool
    exists to hoist."""
    import pandas as pd
    from pyspark.sql import functions as F

    def _noop(batches):
        import numpy  # noqa: F401  (resident after warm)

        import proj_spark.kernels.xmath  # noqa: F401
        import proj_spark.operators.fused  # noqa: F401
        import proj_spark.plans.pipeline  # noqa: F401

        n = 0
        for b in batches:
            n += len(b)
        yield pd.DataFrame({"n": [n]})

    (
        spark.range(40000, numPartitions=2 * slots)
        .select(F.col("id").cast("double").alias("lon"), F.col("id").cast("double").alias("lat"))
        .mapInPandas(_noop, "n long")
        .agg(F.sum("n"))
        .collect()
    )


def _box_sentinel(spark, cpus: int, n_rows: int = 8_000_000) -> dict:
    """Box-health sentinel (round-5 verdict task 2): a fixed-size
    pure-compute probe — the flagship's datum-transform pandas UDF over
    spark.range, no parquet scan, no disk, one tiny agg — run 3x,
    median reported.  Because the work is constant and plan-free, the
    number moves ONLY with the box (CPU contention, DRAM bandwidth,
    thermal state), so a degraded-box night is visible inside the
    BENCH json itself instead of needing forensic reconstruction from
    BASELINE.md prose.  Healthy band on the dev box: see BASELINE.md
    (sentinel section)."""
    from pyspark.sql import functions as F

    from proj_spark.functions.transform import transform as _t
    from proj_spark.operators.gridshift import make_synthetic_grid, register_grid

    register_grid("conus_syn", make_synthetic_grid())

    def probe() -> float:
        base = spark.range(n_rows, numPartitions=4 * cpus).select(
            (F.col("id") % 56 - 124.0 + (F.col("id") % 977) / 1000.0).alias("lon"),
            (F.col("id") % 26 + 25.0 + (F.col("id") % 991) / 1000.0).alias("lat"),
        )
        out = _t(
            base,
            "+proj=latlong +ellps=clrk66 +nadgrids=conus_syn",
            "+proj=latlong +datum=WGS84",
            "lon",
            "lat",
        )
        t0 = time.time()
        out.agg(F.sum("x"), F.sum("y")).collect()
        return time.time() - t0

    walls = sorted(probe() for _ in range(3))
    med = walls[1]
    return {
        "n_rows": n_rows,
        "wall_sec_median_of_3": round(med, 3),
        "wall_sec_runs": [round(w, 3) for w in walls],
        "rows_per_sec": round(n_rows / med, 1),
        "note": (
            "fixed pure-compute probe (datum-transform pandas UDF over "
            "spark.range, no scan/shuffle); moves only with box health — "
            "healthy band documented in BASELINE.md"
        ),
    }


def _flagship(spark, n_images: int):
    """images -> datum reprojection (grid shift, NAD27-style ->
    WGS84) -> PIP join -> multi-zoom tiles -> rollup: the full
    north-star pipeline.

    Returns (n_rows_processed, result_count).

    FUSED-KERNEL plan (round 3, operators/fused.py): round 2's fusion
    collapsed the pipeline to one job (scan -> pandas transform ->
    broadcast PIP -> tile exprs -> one tiny exchange), which tripled
    absolute throughput — and thereby exposed the next ceiling: every
    row still crossed the JVM<->Python Arrow boundary and flowed
    through the interpreted first-match filter + JVM hash aggregate,
    several hundred bytes of DRAM traffic per 40-byte row.  Measured
    on the bench box the numpy math scales nearly perfectly across
    cores while that JVM row machinery saturates shared memory
    bandwidth at ~16M rows/s total.  reproject_pip_tile_rollup fuses
    transform + PIP + tile + PARTIAL AGGREGATE into one mapInPandas
    kernel: the scan reads two float64 columns, each task returns
    |distinct (z11 tile, poly)| packed-long rows (bounded by the tile
    universe, not the input), and the only exchange carries a few
    thousand longs.  Identical output to the composed operators
    (tests/test_fused.py asserts bit-exact parity); coarser zooms are
    quadtree shifts of the z11 aggregate as before.
    """
    from pyspark.sql import functions as F

    from __spark_entry__ import _fixture_polygons
    from proj_spark.operators.fused import reproject_pip_tile_rollup
    from proj_spark.operators.gridshift import make_synthetic_grid, register_grid

    imgs = _FLAGSHIP_SOURCE(spark, n_images)
    register_grid("conus_syn", make_synthetic_grid())
    # zooms [4, 8, 11] chosen so tiles stay dense at bench scale (~300+
    # rows per z11 tile at 16M rows over CONUS) — matching the per-tile
    # density a 10^12-row table would have at z12+.
    small = reproject_pip_tile_rollup(
        imgs,
        "+proj=latlong +ellps=clrk66 +nadgrids=conus_syn",
        "+proj=latlong +datum=WGS84",
        _fixture_polygons(),
        zoom=11,
    )
    # ONE action, no persist barrier: the round-2 barrier guarded
    # against Catalyst planning the countDistinct Expand over the full
    # input, but the fused kernel pre-aggregates in-worker, so the
    # worst Expand can land on is the |distinct keys|-sized partial
    # output.  sum(n) == n_images forces the rollup counts to be
    # computed (not pruned) and doubles as a row-conservation check.
    stats = small.agg(
        F.countDistinct(F.struct("tile_x", "tile_y")).alias("t11"),
        F.countDistinct(
            F.struct(F.shiftright("tile_x", 3), F.shiftright("tile_y", 3))
        ).alias("t8"),
        F.countDistinct(
            F.struct(F.shiftright("tile_x", 7), F.shiftright("tile_y", 7))
        ).alias("t4"),
        F.countDistinct("poly_seq").alias("n_polys"),  # nulls (misses) ignored
        F.sum("n").alias("total"),
    ).collect()[0]
    assert int(stats.total) == n_images, (stats.total, n_images)
    n_tiles = int(stats.t11) + int(stats.t8) + int(stats.t4)
    return n_images, n_tiles + int(stats.n_polys)


def _n_verified(df) -> int:
    """Rows passing the payload gate (decode + PSNR>=40 + caption)."""
    from pyspark.sql import functions as F

    from proj_spark.sources.images import verify_payloads

    ok = F.when(F.col("caption_ok") & F.col("pixels_ok"), 1).otherwise(0)
    return int(verify_payloads(df).agg(F.sum(ok)).collect()[0][0])


def run_benchmarks(cpus: int = CPUS) -> dict:
    from proj_spark.session import build_session

    spark = build_session("proj-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # fixture materialization (not measured as pipeline time): the wide
    # image table and its clustered point view (the Iceberg-layout
    # analog) are both table-build costs, not query time
    t0 = time.time()
    _image_table(spark, N_IMAGES)
    _pts_table(spark, N_IMAGES)
    fixture_s = round(time.time() - t0, 3)

    # warm-up (untimed): spins up the Python worker pool, compiles
    # whole-stage codegen, JITs the shuffle path — one-time JVM costs
    # that a long-running cluster amortizes away
    from pyspark.sql import functions as WF

    from proj_spark.functions.transform import transform as _warm_transform

    warm = spark.range(20000).select(
        WF.col("id"),
        (WF.col("id") % 360 - 180.0).cast("double").alias("lon"),
        (WF.col("id") % 120 - 60.0).cast("double").alias("lat"),
    )
    warm = _warm_transform(warm, "+proj=latlong +datum=WGS84", "+proj=merc +datum=WGS84", "lon", "lat")
    warm.groupBy((WF.col("id") % 7).alias("g")).count().collect()
    _warm_map_in_pandas(spark, cpus)

    # flagship: spatial join + tile assignment throughput.  Median of 3
    # runs (round-5 verdict task 2): a single sample at this scale sits
    # inside a documented +/-80% box-noise band, which made every
    # round-over-round comparison unfalsifiable.
    flag_walls = []
    for _ in range(3):
        t0 = time.time()
        n_rows, _ = _flagship(spark, N_IMAGES)
        flag_walls.append(time.time() - t0)
    flagship_s = sorted(flag_walls)[1]

    # box-health sentinel: fixed pure-compute probe, median of 3 —
    # makes a degraded-box night visible in THIS json (task 2)
    try:
        sentinel = _box_sentinel(spark, cpus)
    except Exception as exc:  # never fail the bench for the probe
        sentinel = {"error": str(exc)[:200]}

    result = {
        "metric": "flagship pipeline wall sec (reproject -> PIP -> multi-zoom tiles -> rollup, median of 3)",
        "value": round(flagship_s, 3),
        "unit": "sec",
        "queries": {"flagship_pip_tiles": round(flagship_s, 3)},
        "cpus": cpus,
        "flagship_rows": n_rows,
        "flagship_runs_sec": [round(w, 3) for w in flag_walls],
        "rows_per_sec": round(n_rows / flagship_s, 1),
        "fixture_gen_sec": fixture_s,
        "box_sentinel": sentinel,
    }
    spark.stop()
    return result


def _cluster_session(app: str, n_executors: int, cores: int):
    from proj_spark.session import build_session

    spark = build_session(app, cpus=cores, executors=n_executors)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _split_bytes(src_dir: str, n_tasks: int, floor: int) -> int:
    """spark.sql.files.maxPartitionBytes for ~``n_tasks`` scan tasks over
    the parquet files in ``src_dir``, clamped to [floor, 1 GB]."""
    try:
        tot = sum(
            os.path.getsize(os.path.join(src_dir, f))
            for f in os.listdir(src_dir)
            if f.endswith(".parquet")
        )
    except OSError:
        tot = 0
    return min(max(tot // n_tasks or (128 << 20), floor), 1 << 30)


def run_flagship_cluster(n_executors: int, cores: int = 4, n_images: int | None = None) -> dict:
    """Flagship throughput on a real multi-executor local cluster
    (separate executor JVMs + netty shuffle — the faithful sandbox
    stand-in for the north rule's N vs 4N executor criterion; plain
    local[k] shares one JVM whose shuffle machinery stops scaling
    past ~8 threads).  Executor JVMs are pinned to their core budget
    by the session factory."""
    if n_images is None:
        n_images = N_IMAGES
    spark = _cluster_session("proj-spark-scaling", n_executors, cores)
    # fixture tables (untimed): ensure the run's layout exists before
    # timing (the 42 GB wide table is only materialized for the wide
    # regime — at 64M+ rows it no longer fits disk and the unclustered
    # point view is the wide-scan-equivalent fixture)
    imgs = _FLAGSHIP_SOURCE(spark, n_images).select("image_id", "lon", "lat")

    # Size input splits to the run: ~4 scan tasks per core, clamped to
    # [32 MB, 1 GB].  The default 128 MB split on the 42 GB wide table
    # produced 384 map tasks of ~42k rows each — per-task partial
    # aggregates then carry nearly one row per input row (no map-side
    # compression) and the tile-rollup exchange degenerates to a
    # full-data shuffle; measured at 4N this knob alone cut the z11
    # aggregate from 6.1 s to 1.7 s.  At 10^12 rows the equivalent is
    # sizing maxPartitionBytes so one map task covers enough rows to
    # saturate the distinct-tile cap (map-side combine does the rest).
    split = _split_bytes(_FLAGSHIP_CACHE(n_images), 4 * n_executors * cores, 32 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(split)))
    # warm-up: python workers + codegen on every executor
    from pyspark.sql import functions as F

    from proj_spark.functions.transform import transform as _t
    from proj_spark.operators.gridshift import make_synthetic_grid, register_grid

    warm = spark.range(50000, numPartitions=n_executors * cores).select(
        (F.col("id") % 360 - 180.0).cast("double").alias("lon"),
        (F.col("id") % 120 - 60.0).cast("double").alias("lat"),
    )
    _t(warm, "+proj=latlong +datum=WGS84", "+proj=merc +datum=WGS84", "lon", "lat").agg(
        F.sum("x")
    ).collect()
    _warm_map_in_pandas(spark, n_executors * cores)

    # narrow-stage measurement FIRST (unpolluted by the pipeline's
    # shuffle files / memory state): the datum-transform pass alone,
    # no shuffle.  On one box the full pipeline's shuffle stages
    # contend for shared disk/loopback/memory bandwidth, which a real
    # N->4N cluster scales along with the cores; the narrow stage is
    # the contention-free scaling signal.
    register_grid("conus_syn", make_synthetic_grid())
    shifted = _t(
        imgs,
        "+proj=latlong +ellps=clrk66 +nadgrids=conus_syn",
        "+proj=latlong +datum=WGS84",
        "lon",
        "lat",
    )
    shifted.limit(10000).agg(F.sum("x")).collect()  # warm
    t0 = time.time()
    shifted.agg(F.sum("x")).collect()
    dt_narrow = time.time() - t0

    t0 = time.time()
    n_rows, _ = _flagship(spark, n_images)
    dt = time.time() - t0
    spark.stop()
    return {
        "executors": n_executors,
        "cores_each": cores,
        "total_cores": n_executors * cores,
        "n_images": n_images,
        "wall_sec": round(dt, 3),
        "rows_per_sec": round(n_rows / dt, 1),
        "narrow_wall_sec": round(dt_narrow, 3),
        "narrow_rows_per_sec": round(n_rows / dt_narrow, 1),
    }


def run_compute_probe(n_executors: int, n_rows: int, cores: int = 4) -> dict:
    """Pure-compute scaling probe: the SAME datum-transform pandas UDF
    as the flagship's narrow stage, but over spark.range — no parquet
    scan, no shuffle, no disk.  Rows are synthesized in-executor, so
    the only shared resource is CPU + memory bandwidth of the UDF
    itself.  If this scales ~1.0 while the scan-fed narrow stage does
    not, the gap IS the single box's IO/memory-bandwidth ceiling (a
    per-node resource a real N->4N cluster multiplies), not the plan."""
    from pyspark.sql import functions as F

    spark = _cluster_session("proj-spark-compute-probe", n_executors, cores)
    from proj_spark.functions.transform import transform as _t
    from proj_spark.operators.gridshift import make_synthetic_grid, register_grid

    register_grid("conus_syn", make_synthetic_grid())

    def pipeline(n):
        base = spark.range(n, numPartitions=4 * n_executors * cores).select(
            (F.col("id") % 56 - 124.0 + (F.col("id") % 977) / 1000.0).alias("lon"),
            (F.col("id") % 26 + 25.0 + (F.col("id") % 991) / 1000.0).alias("lat"),
        )
        out = _t(
            base,
            "+proj=latlong +ellps=clrk66 +nadgrids=conus_syn",
            "+proj=latlong +datum=WGS84",
            "lon",
            "lat",
        )
        return out.agg(F.sum("x"), F.sum("y"))

    pipeline(50000).collect()  # warm python workers + codegen everywhere
    t0 = time.time()
    pipeline(n_rows).collect()
    dt = time.time() - t0
    spark.stop()
    return {
        "executors": n_executors,
        "total_cores": n_executors * cores,
        "n_rows": n_rows,
        "wall_sec": round(dt, 3),
        "rows_per_sec": round(n_rows / dt, 1),
    }


def run_shuffle_cluster(n_executors: int, n_docs: int, cores: int = 1) -> dict:
    """Shuffle-bound scaling probe (round-3 verdict task 4): the
    minhash-LSH near-dup pair pipeline — tokenize -> 3-shingle
    (explode) -> algebraic min signatures (groupBy) -> banded bucket
    self-join -> distinct pairs — over a synthetic in-executor corpus.
    Unlike the (narrow) fused flagship of the criterion pair, every
    stage here exchanges data, so this measures how the WIDE plans
    scale N -> 4N under real netty shuffle.

    The corpus is generated from spark.range with pure expressions
    (no scan): ~40 tokens/doc from a 50k vocabulary, with every
    id%7==1 doc an exact clone of its predecessor so LSH buckets have
    real collisions to join."""
    from pyspark.sql import functions as F

    spark = _cluster_session("proj-spark-shuffle-scaling", n_executors, cores)
    from proj_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        shingle,
        tokenize,
    )

    def corpus(n):
        base = spark.range(n, numPartitions=4 * n_executors * cores)
        # id%7==1 docs clone their predecessor -> guaranteed LSH pairs
        return base.select(
            F.col("id").alias("doc_id"),
            F.expr(
                "array_join(transform(sequence(0, 39), j -> concat('t', "
                "pmod((id - (case when id % 7 = 1 then 1 else 0 end)) "
                "* (j + 7) + j * j, 50000))), ' ')"
            ).alias("text"),
        )

    def pipeline(n):
        sigs = minhash_signatures(
            shingle(tokenize(corpus(n)), w=3), id_col="doc_id", deterministic=False
        )
        return minhash_lsh_pairs(sigs).count()

    pipeline(2000)  # warm: python-free plan, but codegen + shuffle path
    t0 = time.time()
    n_pairs = pipeline(n_docs)
    dt = time.time() - t0
    spark.stop()
    return {
        "executors": n_executors,
        "cores_each": cores,
        "total_cores": n_executors * cores,
        "n_docs": n_docs,
        "n_pairs": int(n_pairs),
        "wall_sec": round(dt, 3),
        "docs_per_sec": round(n_docs / dt, 1),
    }


def run_warp_cluster(n_executors: int, side_px: int, cores: int = 1) -> dict:
    """Raster-warp scaling probe (round 4): reproject a side_px²
    plate-carrée raster onto web-mercator tiles at N vs 4N one-core
    executors.  Fourth leg of the scaling evidence — a MIXED plan
    (broadcast candidate join + one bounded-group shuffle + fused
    Python kernel), the shape of the new raster operators
    (warp/chips/composite/pyramid).  Source staged once, untimed;
    both cluster sizes read the SAME parquet."""
    from proj_spark.operators.warp import LatLonGrid, lcg_tiles, warp_to_webmerc
    from proj_spark.session import build_session

    grid = LatLonGrid(
        lon0=-120.0, lat0=48.0, dlon=0.005, dlat=0.005,
        width=side_px, height=side_px, tile_px=64,
    )
    zoom = int(os.environ.get("SPARK_GRAFT_WARP_ZOOM", "0")) or (
        11 if side_px >= 8192 else 10
    )
    cache = f"/tmp/proj_spark_bench/warp_scale_{side_px}"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        # the cluster session below replaces (stops) this local one
        stage = build_session("proj-spark-warp-stage", cpus=CPUS)
        lcg_tiles(stage, grid, partitions=64).write.mode("overwrite").parquet(cache)

    spark = _cluster_session("proj-spark-warp-scaling", n_executors, cores)
    tiles = spark.read.parquet(cache)

    warp_to_webmerc(spark, tiles, grid, zoom=zoom, out_px=64).count()  # warm
    t0 = time.time()
    n_out = warp_to_webmerc(spark, tiles, grid, zoom=zoom, out_px=64).count()
    dt = time.time() - t0
    spark.stop()
    return {
        "executors": n_executors,
        "cores_each": cores,
        "total_cores": n_executors * cores,
        "source_px": side_px * side_px,
        "out_tiles": int(n_out),
        "out_px": int(n_out) * 4096,
        "wall_sec": round(dt, 3),
        "out_px_per_sec": round(n_out * 4096 / dt, 1),
    }


def run_payload_cluster(n_executors: int, n_images: int, cores: int = 1) -> dict:
    """Decode-bound scaling probe: the metric's PSNR>=40 payload gate
    (decode every PNG/JPEG + pixel allclose + caption equality) at N
    vs 4N one-core executors.  Third leg of the scaling triad — the
    criterion pair is the narrow JVM+numpy flagship, the shuffle probe
    is the wide exchange plan, and this one is pure Python-worker
    compute (sources/jpeg.py + png.py), the regime a 10^12-image
    ingest spends most of its cycles in.  Input staged once, untimed,
    by an ordinary local session; both cluster sizes read the SAME
    parquet."""
    from proj_spark.session import build_session
    from proj_spark.sources.images import generate_images

    cache = f"/tmp/proj_spark_bench/payload_scale_{n_images}"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        # the cluster session below replaces (stops) this local one
        stage = build_session("payload-scaling-stage", cpus=CPUS)
        stage.sparkContext.setLogLevel("ERROR")
        # constant images/file across fixture sizes, so per-task load
        # (and per-task overhead share) is identical at every scale —
        # required for weak-scaling pairs to compare like with like
        parts = max(4, n_images // 64)
        generate_images(stage, n_images, partitions=parts).write.mode(
            "overwrite"
        ).parquet(cache)

    spark = _cluster_session("proj-spark-payload-scaling", n_executors, cores)
    # split sizing: >= 4 decode tasks per core so every slot stays busy
    split = _split_bytes(cache, 4 * n_executors * cores, 1 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(int(split)))

    stored = spark.read.parquet(cache)
    # steady-state: a limit()-based warm executes on ONE task, leaving
    # the other executors' python workers to pay numpy/codec import
    # inside the timed run (~1-2 s each, 10%+ of the 4N wall).  One
    # untimed full pass warms every slot; the second pass is measured.
    _n_verified(stored)
    t0 = time.time()
    n_ok = _n_verified(stored)
    dt = time.time() - t0
    spark.stop()
    return {
        "executors": n_executors,
        "cores_each": cores,
        "total_cores": n_executors * cores,
        "n_images": n_images,
        "n_verified_ok": n_ok,
        "wall_sec": round(dt, 3),
        "images_per_sec": round(n_images / dt, 1),
    }


def run_skew_demo(n_rows: int, cpus: int = CPUS) -> dict:
    """Hot-cell skew mitigation, measured (north rule: 'explicit
    salted-broadcast handling of hot-cell skew').  The synthetic
    centroid law puts 20% of all rows inside one ±0.005° window (the
    urban-cell shape: one z15 cell holding 10^8 of 10^12 images), so a
    join partitioned by cell id sends 20% of the table to ONE task.

    Three physical strategies over the IDENTICAL logical join
    (points ⨝ per-cell dim on z8 cell id, then a scalar aggregate),
    with broadcast disabled (at 10^12 scale a per-cell dim at z15+ is
    tens of GB — sort-merge is forced, which is exactly when skew
    bites):

      naive   — AQE skew-split off: the hot partition is one straggler
      salted  — operators/skew.salted_broadcast_join (explicit salt,
                n_salts=32): the hot cell spreads across 32 tasks; the
                strategy that also works where AQE cannot see skew
                (stream-static joins, non-shuffle operators)
      aqe     — spark.sql.adaptive.skewJoin with thresholds sized to
                the demo (256 MB defaults target real clusters): the
                runtime re-plan splits the oversized partition

    All three must agree on the aggregate (asserted)."""
    from pyspark.sql import functions as F

    from proj_spark.functions import expressions as E
    from proj_spark.operators.skew import salted_broadcast_join
    from proj_spark.session import build_session

    spark = build_session("proj-spark-skew-demo", cpus=cpus, shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    big = _pts_uncl_table(spark, n_rows).withColumn(
        "cell", E.cell_id("lon", "lat", 8)
    )
    # per-cell dim (staged untimed): deterministic weight per cell
    dim_path = f"/tmp/proj_spark_bench/skew_dim_{n_rows}"
    if not os.path.exists(os.path.join(dim_path, "_SUCCESS")):
        big.select("cell").distinct().withColumn(
            "weight", F.pmod(F.xxhash64("cell"), F.lit(1000)).cast("double")
        ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path)

    def scalar(joined) -> float:
        return float(
            joined.agg(F.sum(F.col("weight") + F.col("lat"))).collect()[0][0]
        )

    def timed(tag: str, make) -> tuple[float, float]:
        scalar(make())  # steady state: first pass warms workers + JIT
        t0 = time.time()
        v = scalar(make())
        return round(time.time() - t0, 3), v

    # naive sort-merge, no skew split
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    naive_s, v_naive = timed("naive", lambda: big.join(dim, "cell"))

    # explicit salt (skew split still off — the salt is the mitigation)
    salted_s, v_salted = timed(
        "salted", lambda: salted_broadcast_join(big, dim, on="cell", n_salts=32)
    )

    # AQE skew join, thresholds sized to the demo's ~100 MB hot block
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    aqe_s, v_aqe = timed("aqe", lambda: big.join(dim, "cell"))

    assert abs(v_naive - v_salted) < 1e-6 * max(1.0, abs(v_naive)), (v_naive, v_salted)
    assert abs(v_naive - v_aqe) < 1e-6 * max(1.0, abs(v_naive)), (v_naive, v_aqe)

    # the scale-relevant numbers: reduce-side partition imbalance.  On
    # a 32-core box the wall hides a straggler behind scan parallelism;
    # on 1000 executors the stage wall IS the max task.  max/avg rows
    # hitting one reducer, per strategy (salting divides the hot cell's
    # rows by n_salts; AQE splits the oversized partition at runtime):
    from proj_spark.operators.skew import salt_column

    per_cell = big.groupBy("cell").count()
    stats = per_cell.agg(
        F.max("count").alias("mx"), F.avg("count").alias("avg")
    ).collect()[0]
    salted_mx = (
        big.withColumn("_salt", salt_column(32, *big.columns))
        .groupBy("cell", "_salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    spark.stop()
    return {
        "metric": "hot-cell skewed join (20% of rows in one cell), wall sec",
        "n_rows": n_rows,
        "cpus": cpus,
        "naive_sort_merge_sec": naive_s,
        "salted_broadcast_join_sec": salted_s,
        "aqe_skew_join_sec": aqe_s,
        "salted_speedup": round(naive_s / salted_s, 2),
        "aqe_speedup": round(naive_s / aqe_s, 2),
        "max_rows_one_reducer_naive": int(stats.mx),
        "avg_rows_per_cell": round(float(stats.avg), 1),
        "max_rows_one_reducer_salted": int(salted_mx),
        "hot_cell_imbalance": round(float(stats.mx) / float(stats.avg), 1),
    }



def _efficiency(lo: dict, hi: dict, rate_key: str) -> float:
    """Throughput ratio per core ratio: 1.0 is perfect scaling."""
    ratio = hi["total_cores"] / lo["total_cores"]
    return round((hi[rate_key] / lo[rate_key]) / ratio, 3)


def run_pair(n_lo: int, runner, rate_key: str, lo_kw: dict, hi_kw: dict) -> dict:
    """One N-vs-4N scaling pair: ``runner`` at ``n_lo`` and at
    ``4 * n_lo`` executors, and the scaling efficiency of ``rate_key``."""
    lo = runner(n_lo, **lo_kw)
    hi = runner(4 * n_lo, **hi_kw)
    return {
        "n_executors": lo,
        "4n_executors": hi,
        "scaling_efficiency": _efficiency(lo, hi, rate_key),
    }


def _env_int(name: str, default: int) -> int:
    return int(os.environ.get(name, str(default)))


def _pair_modes() -> dict:
    """SPARK_GRAFT_SCALING mode -> (metric text, runner, rate key, N-leg
    kwargs, 4N-leg kwargs).  Sizes come from the environment, as in the
    repro lines of BENCH_SCALING.json; a weak form grows the input with
    the executors (constant per-executor load, the 100 TB model)."""
    def cores(default: int) -> int:
        return _env_int("SPARK_GRAFT_SCALE_CORES", default)

    docs = {"n_docs": _env_int("SPARK_GRAFT_SHUFFLE_DOCS", 1000000), "cores": cores(1)}
    # pure-python decode runs ~110 images/s/core on this box: 8000
    # images puts the N=1 leg at ~70 s wall (same measurement scale
    # as the flagship criterion pair)
    imgs = {"n_images": _env_int("SPARK_GRAFT_PAYLOAD_IMAGES", 8000), "cores": cores(1)}
    side = _env_int("SPARK_GRAFT_WARP_SIDE", 8192)
    warp_weak = os.environ.get("SPARK_GRAFT_WARP_WEAK") == "1"
    rows = {"n_rows": _env_int("SPARK_GRAFT_PROBE_ROWS", N_IMAGES), "cores": 4}
    weak = os.environ.get("SPARK_GRAFT_SCALE_MODE", "strong") == "weak"
    return {
        "shuffle": (
            "minhash-LSH near-dup pairs docs/sec at N vs 4N executors (shuffle-bound wide plan, local-cluster)",
            run_shuffle_cluster, "docs_per_sec", docs, docs,
        ),
        "payload": (
            "payload decode+PSNR-gate images/sec at N vs 4N executors "
            "(Python-decode-bound plan, local-cluster)",
            run_payload_cluster, "images_per_sec", imgs, imgs,
        ),
        "warp": (
            "raster-warp output px/sec at N vs 4N executors "
            "(mixed broadcast-join + bounded-group-shuffle + "
            "fused Python kernel, local-cluster)",
            run_warp_cluster, "out_px_per_sec",
            {"side_px": side, "cores": cores(1)},
            {"side_px": 2 * side if warp_weak else side, "cores": cores(1)},
        ),
        "compute": (
            "pure-compute probe rows/sec at N vs 4N executors (no scan, no shuffle)",
            run_compute_probe, "rows_per_sec", rows, rows,
        ),
        "cluster": (
            "flagship rows/sec at N vs 4N executors (local-cluster, "
            + ("weak scaling: rows grow with executors)" if weak else "strong scaling: fixed input)"),
            run_flagship_cluster, "rows_per_sec",
            {"n_images": N_IMAGES // 4 if weak else N_IMAGES, "cores": cores(4)},
            {"n_images": N_IMAGES, "cores": cores(4)},
        ),
    }


def headline(record: dict) -> str:
    """The compact last stdout line (at most ~1.5 KB).  The round
    artifacts (BENCH_r0N.json) keep only the last 2000 characters of
    stdout, which the one-line full record outgrew in round 5."""
    keys = ("metric", "value", "unit", "cpus", "rows_per_sec", "queries")
    head = {k: record[k] for k in keys if k in record}
    head["sentinel_rows_per_sec"] = record.get("box_sentinel", {}).get("rows_per_sec")
    return json.dumps(head, separators=(",", ":"))


def _emit(record: dict) -> None:
    """Write the full record to a sidecar, print its path, then the headline."""
    os.makedirs("/tmp/proj_spark_bench", exist_ok=True)
    path = time.strftime("/tmp/proj_spark_bench/bench_%Y%m%dT%H%M%S.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"full record: {path}")
    print(headline(record))


def main():
    scaling = os.environ.get("SPARK_GRAFT_SCALING")
    sweep = os.environ.get("SPARK_GRAFT_SCALE_SWEEP")
    modes = _pair_modes()
    if scaling == "skew":
        print(json.dumps(run_skew_demo(_env_int("SPARK_GRAFT_SKEW_ROWS", 32000000))))
    elif scaling == "cluster" and sweep:
        # N-sweep: run every executor count and report the full
        # efficiency-vs-size curve (the evidence the single-pair ratio
        # cannot give: where the one-box bandwidth ceiling bites)
        cores = _env_int("SPARK_GRAFT_SCALE_CORES", 4)
        runs = [run_flagship_cluster(int(n), cores=cores) for n in sweep.split(",")]
        base = runs[0]
        curve = [
            {
                **r,
                "speedup_vs_n1": round(r["rows_per_sec"] / base["rows_per_sec"], 3),
                "efficiency_vs_n1": _efficiency(base, r, "rows_per_sec"),
                "narrow_efficiency_vs_n1": _efficiency(base, r, "narrow_rows_per_sec"),
            }
            for r in runs
        ]
        print(json.dumps({
            "metric": "flagship rows/sec sweep over executor counts (local-cluster)",
            "table": FLAGSHIP_TABLE,
            "n_images": N_IMAGES,
            "sweep": curve,
        }))
    elif scaling in modes:
        metric, runner, rate_key, lo_kw, hi_kw = modes[scaling]
        pair = run_pair(_env_int("SPARK_GRAFT_SCALE_N", 1), runner, rate_key, lo_kw, hi_kw)
        out = {"metric": metric, **pair}
        if scaling == "warp":
            weak = lo_kw["side_px"] != hi_kw["side_px"]
            out["form"] = "weak (4x source px, fixed zoom)" if weak else "strong (fixed input)"
        if scaling == "cluster":
            out["value"] = pair["4n_executors"]["wall_sec"]
            out["unit"] = "sec"
            out["scaling_efficiency_narrow_stage"] = _efficiency(
                pair["n_executors"], pair["4n_executors"], "narrow_rows_per_sec"
            )
        print(json.dumps(out))
    elif scaling:
        raise SystemExit(f"SPARK_GRAFT_SCALING={scaling!r}: not skew or one of {sorted(modes)}")
    else:
        _emit(run_benchmarks())


if __name__ == "__main__":
    main()
