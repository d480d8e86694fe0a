"""Round-5 task: put margin on the deployment-literal scaling number.

Runs K sentinel-gated `spark-submit --py-files` N->4N pairs
(tools/submit_scaling.py) back to back.  Before each pair a fixed
pure-compute sentinel probe (the same probe bench.py records as
``box_sentinel``) measures box health; the pair result is recorded
WITH its sentinel so a degraded-box sample is visible in the data
instead of needing forensic reconstruction.  Output: one JSON line
per pair appended to the path in argv[2] (default
/tmp/r5_submit_pairs.jsonl).

Usage: python tools/run_submit_pairs.py [k_pairs] [out_path] [n_images] [--weak]
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _sentinel() -> dict:
    """bench._box_sentinel in a throwaway local session."""
    import bench
    from proj_spark.session import build_session

    spark = build_session("box-sentinel", cpus=bench.CPUS, shuffle_partitions=bench.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return bench._box_sentinel(spark, bench.CPUS)
    finally:
        spark.stop()


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--weak"]
    weak = "--weak" in sys.argv[1:]
    k = int(argv[0]) if argv else 5
    out_path = argv[1] if len(argv) > 1 else "/tmp/r5_submit_pairs.jsonl"
    n_images = argv[2] if len(argv) > 2 else "128000000"
    for i in range(k):
        rec: dict = {"i": i, "t_start": time.strftime("%Y-%m-%dT%H:%M:%S")}
        try:
            rec["sentinel"] = _sentinel()
        except Exception as exc:  # record, don't abort the series
            rec["sentinel"] = {"error": str(exc)[:200]}
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "submit_scaling.py"), n_images]
            + (["--weak"] if weak else []),
            capture_output=True,
            text=True,
            cwd=ROOT,
            timeout=3600,
        )
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            rec["pair"] = json.loads(line)
        except Exception:
            rec["pair"] = {"error": (p.stderr or p.stdout)[-400:]}
        with open(out_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps({"i": i, "eff": rec["pair"].get("efficiency"),
                          "sentinel_rps": rec["sentinel"].get("rows_per_sec")}),
              flush=True)


if __name__ == "__main__":
    main()
