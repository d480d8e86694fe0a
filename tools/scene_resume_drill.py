"""Checkpoint-resume drill for the EO SCENE pipeline (raster lane).

Round-5 verdict task 6: the curation funnel has the 10M-doc kill/
resume drill (tools/resume_drill.py); this is the raster sibling —
run the scene pipeline (revisit stack -> best-pixel composite ->
web-mercator warp -> halo-exchange Sobel -> AOI training chips)
through CheckpointedPipeline, KILL the driver after the 'warp' stage
commits (with a truncated partial write poisoning sobel/'s data dir),
restart, and assert the resumed run (a) skips every committed stage,
(b) overwrites the poisoned partial, and (c) produces BIT-IDENTICAL
chips (the exact-integer (n_valid, px_sum, position-weighted px_cks)
triple per chip plus the crc32-sum over all chip payload bytes) and
identical warp/sobel aggregates vs an uninterrupted run.

Usage:
  python tools/scene_resume_drill.py --drill [--side N --tile-px P]
  python tools/scene_resume_drill.py --root D [--crash-stage S]

The worker exits 17 at the crash point (real process death via
os._exit, not an exception); --drill orchestrates subprocesses.
The pytest wrapper at toy scale is tests/test_scene_resume.py.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ["obs", "composite", "warp", "sobel", "chips"]


def _grid(side: int, tp: int):
    from proj_spark.operators.warp import LatLonGrid

    return LatLonGrid(
        lon0=-120.0, lat0=48.0, dlon=0.01, dlat=0.01,
        width=side * tp, height=side * tp, tile_px=tp,
    )


def _chip_boxes(grid) -> list:
    out = []
    ext_lon = grid.width * grid.dlon
    ext_lat = grid.height * grid.dlat
    for i in range(6):
        w = grid.lon0 + ext_lon * (0.07 + 0.13 * i)
        s = grid.lat_min + ext_lat * (0.05 + 0.14 * i)
        out.append((f"chip{i}", w, s, w + ext_lon * 0.06, s + ext_lat * 0.05))
    out.append(("chip_out", 40.0, -40.0, 41.0, -39.0))  # off-grid
    return out


def run_worker(
    root: str, side: int, tp: int, zoom: int, crash_stage: str | None, cpus: int
) -> dict:
    from pyspark.sql import functions as F

    from proj_spark.operators.checkpoint import CheckpointedPipeline
    from proj_spark.operators.chips import extract_chips
    from proj_spark.operators.composite import best_pixel_composite, lcg_observations
    from proj_spark.operators.stencil import sobel_tiles
    from proj_spark.operators.warp import warp_to_webmerc
    from proj_spark.session import build_session

    spark = build_session(
        "proj-spark-scene-resume-drill", cpus=cpus, shuffle_partitions=max(4 * cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    grid = _grid(side, tp)
    pipe = CheckpointedPipeline(spark, root)
    done_before = set(pipe.completed_stages())
    t0 = time.time()

    def after(stage: str, df):
        """Crash hook: once ``crash_stage`` commits, poison the NEXT
        stage's data dir with a partial file (no _SUCCESS) and die the
        way a preempted driver does."""
        if crash_stage and stage == crash_stage:
            nxt = STAGES[STAGES.index(stage) + 1]
            part = os.path.join(root, nxt, "data")
            os.makedirs(part, exist_ok=True)
            with open(os.path.join(part, "part-poison.parquet"), "wb") as f:
                f.write(b"TRUNCATED PARTIAL WRITE")
            spark.stop()
            os._exit(17)
        return df

    obs = after(
        "obs",
        pipe.run_stage(
            "obs",
            lambda: lcg_observations(
                spark, side, side, 4, tp, cloud_mod=5, partitions=4 * cpus
            ),
        ),
    )
    comp = after(
        "composite",
        pipe.run_stage("composite", lambda: best_pixel_composite(obs, tp)),
    )
    base = comp.select(F.col("x").alias("sx"), F.col("y").alias("sy"), "bytes")
    warped = after(
        "warp",
        pipe.run_stage(
            "warp", lambda: warp_to_webmerc(spark, base, grid, zoom=zoom, out_px=tp)
        ),
    )
    sob = after(
        "sobel",
        pipe.run_stage(
            "sobel", lambda: sobel_tiles(comp.select("x", "y", "bytes"), tp, side, side)
        ),
    )
    chips_df = spark.createDataFrame(
        _chip_boxes(grid),
        "chip_id string, lon_w double, lat_s double, lon_e double, lat_n double",
    )
    chips = after(
        "chips",
        pipe.run_stage(
            "chips", lambda: extract_chips(base, chips_df, grid, out_px=tp)
        ),
    )

    chip_rows = {
        r["chip_id"]: [int(r["n_valid"]), int(r["px_sum"]), int(r["px_cks"])]
        for r in chips.select("chip_id", "n_valid", "px_sum", "px_cks").collect()
    }
    chip_bytes_crc = chips.agg(F.sum(F.crc32(F.col("bytes")))).first()[0]
    warp_agg = warped.agg(
        F.count(F.lit(1)), F.sum("n_valid"), F.sum("px_sum"), F.sum("px_cks")
    ).first()
    sob_agg = sob.agg(F.count(F.lit(1)), F.sum(F.crc32(F.col("bytes")))).first()
    out = {
        "chips": {k: chip_rows[k] for k in sorted(chip_rows)},
        "chip_bytes_crc_sum": int(chip_bytes_crc),
        "warp_agg": [int(v) for v in warp_agg],
        "sobel_agg": [int(v) for v in sob_agg],
        "stages_already_committed_at_start": sorted(done_before),
        "stages_run_this_attempt": [s for s in STAGES if s not in done_before],
        "wall_sec": round(time.time() - t0, 3),
    }
    spark.stop()
    return out


def drill(side: int, tp: int, zoom: int, base: str, cpus: int) -> dict:
    """Clean run A; run B killed after 'warp' commits (poisoned
    partial in sobel/); resumed run B2.  Bit-identical chips + stage
    skip evidence = pass."""
    me = os.path.abspath(__file__)
    root_a, root_b = os.path.join(base, "runA"), os.path.join(base, "runB")

    def worker(root, crash=None):
        cmd = [
            sys.executable, me, "--root", root, "--side", str(side),
            "--tile-px", str(tp), "--zoom", str(zoom), "--cpus", str(cpus),
        ]
        if crash:
            cmd += ["--crash-stage", crash]
        p = subprocess.run(cmd, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        return p.returncode, (json.loads(last) if p.returncode == 0 else p.stderr[-2000:])

    t0 = time.time()
    rc_a, a = worker(root_a)
    assert rc_a == 0, a
    rc_k, kerr = worker(root_b, crash="warp")
    assert rc_k == 17, f"crash worker exited {rc_k}, wanted 17: {kerr}"
    poisoned = os.path.join(root_b, "sobel", "data", "part-poison.parquet")
    assert os.path.exists(poisoned), "poison partial missing before resume"
    rc_b, b = worker(root_b)
    assert rc_b == 0, b

    chips_equal = a["chips"] == b["chips"] and (
        a["chip_bytes_crc_sum"] == b["chip_bytes_crc_sum"]
    )
    aggs_equal = a["warp_agg"] == b["warp_agg"] and a["sobel_agg"] == b["sobel_agg"]
    resumed_skipped = set(b["stages_already_committed_at_start"]) >= {
        "obs", "composite", "warp"
    }
    return {
        "metric": "EO scene pipeline checkpoint-resume drill (kill after 'warp' commit + poisoned partial in sobel/)",
        "raster_px": side * tp * side * tp,
        "revisits": 4,
        "chips_bit_identical": bool(chips_equal),
        "warp_sobel_aggs_equal": bool(aggs_equal),
        "chips": a["chips"],
        "resume_skipped_committed_stages": sorted(b["stages_already_committed_at_start"]),
        "resume_recomputed": b["stages_run_this_attempt"],
        "resume_skip_ok": bool(resumed_skipped),
        "uninterrupted_wall_sec": a["wall_sec"],
        "resume_wall_sec": b["wall_sec"],
        "drill_wall_sec": round(time.time() - t0, 3),
        "pass": bool(chips_equal and aggs_equal and resumed_skipped),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--drill", action="store_true")
    ap.add_argument("--side", type=int, default=48)
    ap.add_argument("--tile-px", type=int, default=128)
    ap.add_argument("--zoom", type=int, default=7)
    ap.add_argument("--root", default=None)
    ap.add_argument("--base", default="/tmp/proj_spark_scene_drill")
    ap.add_argument("--crash-stage", default=None)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    if args.drill:
        import shutil

        shutil.rmtree(args.base, ignore_errors=True)
        out = drill(args.side, args.tile_px, args.zoom, args.base, args.cpus)
        print(json.dumps(out))
        sys.exit(0 if out["pass"] else 1)
    assert args.root, "--root required for a worker run"
    print(
        json.dumps(
            run_worker(
                args.root, args.side, args.tile_px, args.zoom,
                args.crash_stage, args.cpus,
            )
        )
    )


if __name__ == "__main__":
    main()
