"""Per-layer probes for the traced run.

Every probe calls one layer's public functions on the workload's own
seeded points, each inside its own :class:`~perfbench.tracing.Tracer`
span, so the same per-layer metrics exist for every workload and
compare across commits workload by workload.
"""
from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from proj_spark.functions import expressions as E
from proj_spark.operators.checkpoint import CheckpointedPipeline
from proj_spark.operators.dbscan import dbscan, eps_neighbor_pairs
from proj_spark.operators.fused import reproject_pip_tile_rollup
from proj_spark.operators.knn import knn_join, knn_join_bruteforce, release_persisted
from proj_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygon_cover,
    polygon_edges,
)
from proj_spark.operators.tiles import assign_tiles, tile_counts
from proj_spark.plans.pipeline import transform_arrays
from proj_spark.sources.tables import load_table

from . import inputs
from .tracing import count_calls, perf_profile
from .workloads import (
    COMPOSED_ZOOMS,
    DST,
    FUSED_ZOOM,
    SRC,
    digest,
    polys_frame,
)

TRANSFORM_SAMPLE = 1_000_000
KNN_K = 5
KNN_RES = 6
# ring 1, then brute force for queries failing the coverage check: one
# escalation level keeps the probe inside the run budget (each level
# roughly doubles the jobs of the query)
KNN_MAX_RING = 1
KNN_CANDIDATES = 200_000
# DBSCAN over up to 50k points: at eps 6 km they have the expected
# neighbour count of 200k points at eps 3 km (n * pi * eps^2 / area)
DBSCAN_SAMPLE = 50_000
DBSCAN_EPS_M = 6000.0
DBSCAN_MIN_PTS = 3
DBSCAN_RES = 11
# the join, checkpoint and tile probes read the rows with id below this
PROBE_ROWS = 1_000_000


def _not_hot():
    return ~(
        (F.abs(F.col("lon") - inputs.HOT_LON) <= inputs.HOT_DLON)
        & (F.abs(F.col("lat") - inputs.HOT_LAT) <= inputs.HOT_DLAT)
    )


def probe_layers(spark, tracer, wl, scratch: str) -> tuple[dict, list[str]]:
    """Run every layer probe on ``wl``'s inputs; returns (per-layer
    metrics, failed checks)."""
    m: dict = {}
    problems: list[str] = []
    path = wl.inp["points"]["path"]
    pts = load_table(spark, path)
    polys_df = polys_frame(spark, wl.polys)

    # sources: scan of the columns the workloads read, into a noop sink
    with tracer.span("sources.scan") as s:
        pts.select("id", "lon", "lat").write.format("noop").mode("overwrite").save()
    m["sources.scan_s"] = s["wall_s"]

    # plans/kernels: driver-side transform of a 1M-row sample
    tab = pq.read_table(path, columns=["lon", "lat"])
    lon = np.resize(tab["lon"].to_numpy(), TRANSFORM_SAMPLE)
    lat = np.resize(tab["lat"].to_numpy(), TRANSFORM_SAMPLE)
    transform_arrays(SRC, DST, lon[:1000], lat[:1000])  # plan build + imports
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        transform_arrays(SRC, DST, lon, lat)
        walls.append(time.perf_counter() - t0)
    m["plans.transform_ns_per_row"] = statistics.median(walls) / TRANSFORM_SAMPLE * 1e9

    # fused kernel and the Python worker boundary
    def fused():
        out = reproject_pip_tile_rollup(pts, SRC, DST, wl.polys, zoom=FUSED_ZOOM)
        return digest(out, ["tile_x", "tile_y", "poly_seq", "n"])

    with tracer.span("fused.rollup") as plain:
        fused()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        with tracer.span("fused.rollup_profiled") as prof:
            fused()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    with tracer.span("fused.rollup") as plain2:
        fused()
    pp = perf_profile(spark, os.path.join(scratch, "profile"))
    # the scan + mapInPandas stage is the one doing the work
    py_stage = max(prof["stage_detail"], key=lambda st: st["executor_run_s"])
    udf_s = pp["profiled_s"] - pp["arrow_in_s"]
    m["fused.output_rows"] = py_stage["shuffle_write_records"]
    m["python.udf_s"] = udf_s
    m["python.arrow_in_s"] = pp["arrow_in_s"]
    m["python.crossing_frac"] = 1.0 - udf_s / max(py_stage["executor_run_s"], 1e-9)
    # profiled run between two plain ones, so warm-up favours neither side
    m["python.profiler_overhead_frac"] = (
        2.0 * prof["wall_s"] / (plain["wall_s"] + plain2["wall_s"]) - 1.0
    )

    # spatial join: candidate pairs of the cover join vs refined work
    head = pts.where(F.col("id") < PROBE_ROWS)
    cover = polygon_cover(polygon_edges(polys_df), KNN_RES).select("cell", "full")
    with tracer.span("spatial_join.cover_join"):
        cand = head.withColumn("_cell", E.cell_id("lon", "lat", KNN_RES)).join(
            F.broadcast(cover), F.col("_cell") == F.col("cell")
        )
        c = cand.agg(F.count(F.lit(1)).alias("n"), F.count_if("full").alias("full")).first()
    with tracer.span("spatial_join.matched"):
        matched = digest(
            point_in_polygon_join(head, polys_df, res=KNN_RES, point_id="id", how="all"),
            ["id", "poly_id", "poly_seq"],
        )["rows"]
    m["spatial_join.candidate_pairs"] = c["n"]
    m["spatial_join.full_cell_pairs"] = c["full"]
    m["spatial_join.matched"] = matched
    m["spatial_join.refine_frac"] = (c["n"] - c["full"]) / max(c["n"], 1)
    if not c["full"] <= matched <= c["n"]:
        problems.append(f"spatial_join: matched {matched} outside [{c['full']}, {c['n']}]")

    # checkpoint stage, then the tile rollup over the checkpoint
    root = os.path.join(scratch, "checkpoint-probe")
    shutil.rmtree(root, ignore_errors=True)
    pipe = CheckpointedPipeline(spark, root, key_col="id")
    with tracer.span("checkpoint.run_stage") as cs:
        ck = pipe.run_stage("tiles", lambda: assign_tiles(head, [FUSED_ZOOM]))
    write_s = float(pipe.metrics().first()["elapsed_s"])
    m["checkpoint.stage_s"] = cs["wall_s"]
    m["checkpoint.write_s"] = write_s
    m["checkpoint.lineage_s"] = cs["wall_s"] - write_s
    with tracer.span("tiles.tile_counts") as ts:
        tiles = digest(tile_counts(ck, list(COMPOSED_ZOOMS)), ["zoom", "tile_x", "tile_y", "n"])
    m["tiles.rollup_s"] = ts["wall_s"]
    if tiles["rows"] == 0:
        problems.append("tiles: empty rollup")

    # knn: lazy builder (plans only, runs no job), then the query's jobs,
    # checked against brute force
    cands = pts.where(F.col("id") < KNN_CANDIDATES).select(
        F.col("id").alias("cand_id"), F.col("lon").alias("c_lon"), F.col("lat").alias("c_lat")
    )
    queries = load_table(spark, wl.inp["queries"]["path"]).select(
        F.col("id").alias("query_id"), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat")
    )
    with tracer.span("knn.build") as kb:
        knn = knn_join(queries, cands, k=KNN_K, res=KNN_RES, max_ring=KNN_MAX_RING)
    with tracer.span("knn.query") as kq:
        got = {(r[0], r[1], r[2]) for r in knn.select("query_id", "neighbor_id", "rank").collect()}
    release_persisted()
    brute = knn_join_bruteforce(queries, cands, k=KNN_K)
    want = {(r[0], r[1], r[2]) for r in brute.select("query_id", "neighbor_id", "rank").collect()}
    if got != want:
        problems.append(f"knn_join differs from brute force on {len(got ^ want)} rows")
    m["knn.build_s"] = kb["wall_s"]
    m["knn.query_s"] = kq["wall_s"]
    m["knn.query_jobs"] = kq["jobs"]

    # dbscan and the connected-components fixpoint on the non-hot points
    # among the first DBSCAN_SAMPLE ids (eps pairs in the hot cell are
    # quadratic by definition)
    sample = pts.where((F.col("id") < DBSCAN_SAMPLE) & _not_hot())
    with tracer.span("dbscan.eps_pairs") as dp:
        pairs = eps_neighbor_pairs(sample, DBSCAN_EPS_M, res=DBSCAN_RES)
        n_pairs = digest(pairs, ["id_a", "id_b"])["rows"]
    # connected_components runs one count() job per round inside the
    # dbscan builder
    with tracer.span("dbscan.build") as db, count_calls(type(sample), "count") as rounds:
        labels = dbscan(sample, eps_m=DBSCAN_EPS_M, min_pts=DBSCAN_MIN_PTS, res=DBSCAN_RES)
    digest(labels, ["id", "cluster", "is_core"])
    m["dbscan.pairs"] = n_pairs
    m["dbscan.pairs_s"] = dp["wall_s"]
    m["dbscan.build_s"] = db["wall_s"]
    m["dbscan.build_jobs"] = db["jobs"]
    m["components.rounds"] = rounds[0]
    m["components.round_s"] = db["wall_s"] / max(rounds[0], 1)
    return m, problems
