"""The harness contract: one session factory for every entry point, and
a bench headline that survives a 2000-character stdout tail."""
from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_factory_replaces_session_on_other_master():
    """``getOrCreate`` alone hands back the first session whatever
    master is asked for next; the factory must stop it and build the
    requested one.  Runs in a subprocess so the shared test session
    survives."""
    code = (
        "from proj_spark.session import build_session\n"
        "build_session('first', cpus=1)\n"
        "s = build_session('second', cpus=2)\n"
        "print(s.sparkContext.master, s.sparkContext.appName)\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert p.stdout.split()[-2:] == ["local[2]", "second"]


def test_no_session_builder_outside_the_factory():
    """Every entry point builds its session through
    ``proj_spark.session.build_session``: no other Python file sets a
    master or stops an active session itself."""
    needles = (".master" + "(", "getActive" + "Session")
    factory = os.path.join(ROOT, "proj_spark", "session.py")
    offenders = []
    for top in ("bench.py", "__spark_entry__.py", "proj_spark", "tools", "tests", "perfbench"):
        top = os.path.join(ROOT, top)
        paths = [top] if top.endswith(".py") else [
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".py")
        ]
        for path in paths:
            if path == factory:
                continue
            with open(path, encoding="utf-8") as f:
                text = f.read()
            offenders += [(path, n) for n in needles if n in text]
    assert offenders == []


def _r05_record() -> dict:
    """A full bench record with every lane of the round-5 artifact,
    whose one-line JSON outgrew the 2000-character tail it was kept in."""
    queries = {
        "flagship_pip_tiles": 1.432, "tile_multizoom": 2.114, "utm_fwd": 0.29,
        "gridshift_roundtrip": 0.19, "knn": 0.85, "pip": 1.036,
        "ann_cosine": 0.874, "webmerc_fwd": 0.192, "minhash_lsh_fast": 3.041,
    }
    sf1 = {k: v * 3 for k, v in queries.items() if k != "flagship_pip_tiles"}
    sf1["fixture_gen_sec"] = 17.617
    return {
        "metric": "spatial-join+tile-assignment pipeline + operator suite wall time",
        "value": 10.019,
        "unit": "sec",
        "queries": queries,
        "queries_note": "per-query values are the MEDIAN of 3 suite reps " * 3,
        "suite_rep_totals_sec": [12.15, 6.3, 7.333],
        "sf": "0.1",
        "cpus": 32,
        "flagship_rows": 2000000,
        "flagship_runs_sec": [1.919, 1.387, 1.432],
        "rows_per_sec": 1397001.7,
        "fixture_gen_sec": 258.403,
        "box_sentinel": {
            "n_rows": 8000000, "wall_sec_median_of_3": 1.497,
            "wall_sec_runs": [1.453, 1.497, 1.744], "rows_per_sec": 5342981.6,
            "note": "fixed pure-compute probe " * 8,
        },
        "image_payload_lane": {
            "encode_sec": 4.888, "decode_verify_sec": 7.07, "n_images": 20000,
            "n_verified_ok": 20000, "decode_rows_per_sec": 2828.9,
        },
        "image_payload_lane_10x": {
            "encode_sec": 27.171, "decode_verify_sec": 65.583, "n_images": 200000,
            "n_verified_ok": 200000, "decode_rows_per_sec": 3049.6,
            "rate_vs_base_lane": 1.078,
        },
        "tile_pyramid_lane": {
            "base_tiles": 4096, "levels": 6, "overview_tiles_built": 1364,
            "build_sec": 4.445, "overview_tiles_per_sec": 306.9,
        },
        "raster_warp_lane": {
            "source_px": 16777216, "out_tiles": 4484, "out_px": 18366464,
            "warp_sec": 1.842, "out_mpx_per_sec": 9.97,
        },
        "overlay_hull_lane": {
            "bbox_overlay_sec": 1.4, "bbox_overlay_rows": 10731,
            "interval_join_sec": 0.655, "interval_join_rows": 1801215,
            "diameter_sec": 1.667, "diameter_rows": 25,
        },
        "sf1_queries": sf1,
        "sf1_note": "PRIMARY per-query signal: same suite at 10x-replicated rows " * 3,
        "scaling": {"levels": [8, 32], "rows_per_sec": {8: 9.0e5, 32: 1.4e6}, "efficiency": 0.389},
    }


def test_bench_headline_fits_a_2000_char_tail():
    """The last stdout line of bench.py is a compact headline of at most
    1,500 bytes that parses back; importing bench starts no Spark."""
    code = (
        "import json, sys\n"
        "import bench\n"
        "assert 'pyspark' not in sys.modules\n"
        "print(bench.headline(json.loads(sys.stdin.read())))\n"
    )
    record = _r05_record()
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, input=json.dumps(record),
        capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = p.stdout.splitlines()[-1]
    assert len(json.dumps(record)) > 2000
    assert len(line.encode()) <= 1500
    head = json.loads(line)
    assert head["value"] == record["value"]
    assert head["rows_per_sec"] == record["rows_per_sec"]
    assert head["queries"] == record["queries"]
    assert head["sentinel_rows_per_sec"] == record["box_sentinel"]["rows_per_sec"]


def _bench_repro_envs() -> list[tuple[str, dict]]:
    """(repro string, its leading ``NAME=value`` environment) for every
    ``repro*`` line of BENCH_SCALING.json that runs ``python bench.py``."""
    import re
    import shlex

    with open(os.path.join(ROOT, "BENCH_SCALING.json"), encoding="utf-8") as f:
        doc = json.load(f)
    found = []

    def walk(node):
        if isinstance(node, dict):
            for k, v in node.items():
                if k.startswith("repro") and isinstance(v, str):
                    found.append(v)
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(doc)
    out = []
    for line in found:
        if not re.search(r"\bpython3? bench\.py\b", line):
            continue
        env = {}
        for tok in shlex.split(line):
            if "=" not in tok:
                break
            name, value = tok.split("=", 1)
            env[name] = value
        out.append((line, env))
    return out


def test_bench_repro_lines_name_kept_modes_and_knobs():
    """Every recorded ``python bench.py`` repro line still selects a mode
    bench.py runs, and every SPARK_GRAFT_* knob it sets is still read by
    bench.py or the session factory; the tools' imports from bench exist."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import bench

    readers = ""
    for rel in ("bench.py", os.path.join("proj_spark", "session.py")):
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            readers += f.read()
    repros = _bench_repro_envs()
    assert repros, "BENCH_SCALING.json lists no bench.py repro line"
    modes = bench._pair_modes()
    for line, env in repros:
        mode = env.get("SPARK_GRAFT_SCALING")
        assert mode is None or mode == "skew" or mode in modes, line
        if "SPARK_GRAFT_SCALE_SWEEP" in env:
            assert mode == "cluster", line
        unread = [n for n in env if n.startswith("SPARK_GRAFT_") and f'"{n}"' not in readers]
        assert unread == [], line
    for name in (
        "CPUS", "_pts_uncl_cache", "_pts_uncl_table",
        "_warm_map_in_pandas", "_flagship", "_box_sentinel",
    ):
        assert hasattr(bench, name), name
