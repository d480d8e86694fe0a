"""spark-geo benchmark: seeded spatial workloads at local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload fused_rollup --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off;
``--trace 1`` runs the traced variant and reports the per-layer metrics
(see perfbench/README.md).  The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
per-pass and per-span detail goes to a sidecar JSON file whose path is
printed just above it.  Inputs, outputs and Spark scratch space live
under ``.perfbench_cache/`` in the repository root.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
N_SETUPS = 3
# untimed passes between the first pass and the timed ones, while the
# JIT still compiles the planner and writer paths
WARM_PASSES = 1
MIN_TIMED_PASSES = 3
QUERY_POINTS = 64
TRACE_PAIRS = 2
# cached seeds kept on disk besides the current one
KEEP_SEEDS = 1

# unit of every metric a run prints, in print order
UNITS = {
    # end to end (--trace 0)
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B/row",
    # per layer (--trace 1)
    "session.build_s": "s",
    "session.warm_s": "s",
    "sources.scan_s": "s",
    "sources.write_bytes": "B",
    "plans.transform_ns_per_row": "ns/row",
    "fused.output_rows": "count",
    "python.udf_s": "s",
    "python.arrow_in_s": "s",
    "python.crossing_frac": "fraction",
    "python.profiler_overhead_frac": "fraction",
    "spatial_join.candidate_pairs": "count",
    "spatial_join.full_cell_pairs": "count",
    "spatial_join.matched": "count",
    "spatial_join.refine_frac": "fraction",
    "checkpoint.stage_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.lineage_s": "s",
    "tiles.rollup_s": "s",
    "knn.build_s": "s",
    "knn.query_s": "s",
    "knn.query_jobs": "count",
    "dbscan.pairs": "count",
    "dbscan.pairs_s": "s",
    "dbscan.build_s": "s",
    "dbscan.build_jobs": "count",
    "components.rounds": "count",
    "components.round_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "spark.busy_frac": "fraction",
    "trace.overhead_frac": "fraction",
}
# the metrics of the final JSON line, as listed in BENCHMARK.json; the
# traced line carries the layer metrics an optimisation is most likely
# to move and stays under 2 KB, the rest are printed above it
REPORTED = {
    0: ("setup_s", "rows_per_s", "peak_rss_mb", "stored_bytes_per_row"),
    1: (
        "session.build_s", "sources.scan_s",
        "plans.transform_ns_per_row", "fused.output_rows", "python.udf_s",
        "python.arrow_in_s", "python.crossing_frac", "spatial_join.candidate_pairs",
        "spatial_join.refine_frac", "checkpoint.write_s", "checkpoint.lineage_s",
        "tiles.rollup_s", "knn.query_s", "dbscan.build_s",
        "components.rounds", "spark.stages", "spark.executor_run_s",
        "spark.shuffle_write_bytes", "spark.busy_frac",
        "trace.overhead_frac",
    ),
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    """Aggregate (busy, steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    return [sum(v) - idle - v[7], v[7], sum(v)]


def _ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env() -> None:
    """Fit Spark to the box from outside the program: workers import
    the repository, the driver heap stays well below physical RAM, and
    all scratch space stays inside the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    heap = f"{max(1, min(4, _ram_bytes() // 4 // 2**30))}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={os.path.join(CACHE, 'warehouse')}"),
            "--driver-java-options",
            # the heap is committed up front so peak RSS does not depend
            # on when G1 decides to grow it
            shlex.quote(f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
            "pyspark-shell",
        ]
    )


def _warm_batches(batches):
    """mapInPandas body that imports the kernels every workload ships
    to the Python workers."""
    import pandas as pd

    import proj_spark.functions.transform  # noqa: F401
    import proj_spark.operators.fused  # noqa: F401

    n = 0
    for b in batches:
        n += len(b)
    yield pd.DataFrame({"n": [n]})


def setup(cores: int):
    """Build the session, run a first trivial job and warm the Python
    worker pool; returns (session, timings)."""
    from pyspark.sql import functions as F

    from proj_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench", cpus=cores)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000, numPartitions=cores).agg(F.sum("id")).collect()
    t2 = time.perf_counter()
    (
        spark.range(4 * cores * 1000, numPartitions=2 * cores)
        .mapInPandas(_warm_batches, "n long")
        .agg(F.sum("n"))
        .collect()
    )
    t3 = time.perf_counter()
    return spark, {"build_s": t1 - t0, "first_job_s": t2 - t1, "warm_s": t3 - t2, "total_s": t3 - t0}


def jvm_proc():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    Python worker under it has exited."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    proc = jvm_proc()
    pids = [p for p in process_tree(proc.pid) if p != proc.pid]
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _prune_cache(current: str) -> None:
    root = os.path.join(CACHE, "inputs")
    seeds = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if os.path.join(root, d) != current),
        key=os.path.getmtime,
    )
    for old in seeds[: max(len(seeds) - KEEP_SEEDS, 0)]:
        shutil.rmtree(old, ignore_errors=True)


class Passes:
    """Runs, times and checks workload passes; a pass fails if it
    raises or fails its output check."""

    def __init__(self):
        self.records: list[dict] = []

    def run(self, wl, label: str, rss=None, tracer=None) -> dict:
        rec = {"label": label, "ok": False, "problems": []}
        try:
            wl.reset()
            t0 = time.perf_counter()
            with rss.armed() if rss is not None else nullcontext():
                wl.run_pass(tracer)
            rec["wall_s"] = time.perf_counter() - t0
            rec["stored_bytes"] = wl.stored_bytes()
            t1 = time.perf_counter()
            rec["problems"] = wl.check_pass()
            rec["check_s"] = time.perf_counter() - t1
            rec["ok"] = not rec["problems"]
        except Exception:
            rec["problems"].append(traceback.format_exc(limit=8))
        self.records.append(rec)
        return rec

    def failed(self) -> int:
        return sum(not r["ok"] for r in self.records)

    def fail_run(self, problem: str) -> None:
        """Mark the run's first pass failed by a once-per-run check."""
        self.records[0]["ok"] = False
        self.records[0]["problems"].append(problem)

    def ok(self, label: str, key: str) -> list:
        return [r[key] for r in self.records if r["label"] == label and r["ok"]]


def untraced(wl, passes: Passes, seconds: int, setups: list[dict]) -> tuple[dict, dict]:
    from perfbench.tracing import RssSampler

    passes.run(wl, "first")
    for problem in wl.check_run(deep=False):
        passes.fail_run(problem)
    for _ in range(WARM_PASSES):
        passes.run(wl, "warm")
    cpu0 = _cpu_times()
    with RssSampler(jvm_proc().pid) as rss:
        t0 = time.perf_counter()
        n = 0
        while n < MIN_TIMED_PASSES or time.perf_counter() - t0 < seconds:
            passes.run(wl, "timed", rss=rss)
            n += 1
    busy, steal, total = (b - a for a, b in zip(cpu0, _cpu_times()))
    extra = {
        # host contention during the timed passes, for reading noisy runs
        "cpu_busy_frac": busy / total,
        "cpu_steal_frac": steal / total,
        "rss_samples": rss.samples,
        "rss_peak": rss.peak_detail,
    }
    walls = passes.ok("timed", "wall_s")
    if not walls or not passes.records[0]["ok"]:
        return {}, extra
    metrics = {
        "setup_s": statistics.median(s["total_s"] for s in setups),
        "rows_per_s": wl.rows / statistics.median(walls),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "stored_bytes_per_row": statistics.median(passes.ok("timed", "stored_bytes")) / wl.rows,
    }
    return metrics, extra


SPARK_LAYER_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def traced(wl, passes: Passes, spark, setup: dict, scratch: str) -> tuple[dict, dict]:
    from perfbench.layers import probe_layers
    from perfbench.tracing import Tracer

    cores = _cores()
    tracer = Tracer(spark, cores)
    passes.run(wl, "first")
    # alternate untraced and traced passes so warm-up favours neither
    for _ in range(TRACE_PAIRS):
        passes.run(wl, "untraced")
        n_spans = len(tracer.spans)
        last = passes.run(wl, "traced", tracer=tracer)
    pass_spans = tracer.spans[n_spans:]
    metrics: dict = {
        "session.build_s": setup["build_s"],
        "session.warm_s": setup["warm_s"],
        "sources.write_bytes": last["stored_bytes"],
    }
    layers, problems = probe_layers(spark, tracer, wl, scratch)
    metrics.update(layers)
    for key in SPARK_LAYER_KEYS:
        metrics[f"spark.{key}"] = sum(s[key] for s in pass_spans)
    metrics["spark.task_skew"] = max(pass_spans, key=lambda s: s["executor_run_s"])["task_skew"]
    metrics["spark.busy_frac"] = metrics["spark.executor_run_s"] / (last["wall_s"] * cores)
    metrics["trace.overhead_frac"] = (
        statistics.median(passes.ok("traced", "wall_s"))
        / statistics.median(passes.ok("untraced", "wall_s"))
        - 1.0
    )
    for problem in problems + wl.check_run(deep=True):
        passes.fail_run(problem)
    return metrics, {"spans": tracer.spans}


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
    }


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "proj_spark", "__init__.py")):
        print(f"perfbench: no proj_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    configure_env()
    cls = WORKLOADS[args.workload]
    cores = _cores()
    tables = dict(cls.tables)
    if args.trace:
        tables["queries"] = QUERY_POINTS
    t0 = time.perf_counter()
    inp = inputs.ensure(os.path.join(CACHE, "inputs"), args.seed, tables)
    gen_s = time.perf_counter() - t0
    _prune_cache(os.path.dirname(inp["points"]["path"]))
    scratch = os.path.join(CACHE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")

    setups = []
    spark, s = setup(cores)
    setups.append(s)
    for _ in range(N_SETUPS - 1 if not args.trace else 0):
        spark.stop()
        spark, s = setup(cores)
        setups.append(s)
    passes = Passes()
    metrics, extra = {}, {}
    try:
        wl = cls(spark, inp, scratch)
        if args.trace:
            metrics, extra = traced(wl, passes, spark, setups[0], scratch)
        else:
            metrics, extra = untraced(wl, passes, args.seconds, setups)
    except Exception:  # a failed run still reports, as failed
        passes.records.append(
            {"label": "run", "ok": False, "problems": [traceback.format_exc(limit=8)]}
        )
    finally:
        shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = len(passes.records)
    failed = passes.failed()
    reported = {k: metrics[k] for k in REPORTED[args.trace] if k in metrics}
    correct = failed == 0 and len(reported) == len(REPORTED[args.trace])
    box = {"nproc": cores, "ram_bytes": _ram_bytes(), **versions()}
    sidecar = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": f"local[{cores}]",
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "box": box,
        "inputs": {k: {"rows": v["rows"], "bytes": v["bytes"]} for k, v in inp.items() if k != "polygons"},
        "input_gen_s": gen_s,
        "setups": setups,
        "passes": passes.records,
        "metrics": metrics,
        **extra,
    }
    side = os.path.join(CACHE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(side), exist_ok=True)
    with open(side, "w") as f:
        json.dump(sidecar, f, indent=1, default=str)

    pts = inp["points"]
    print(
        f"perfbench {args.workload} seed={args.seed} local[{cores}] rows={pts['rows']} "
        f"input_bytes={pts['bytes']} ram_gib={box['ram_bytes'] / 2**30:.1f} "
        f"pyspark={box['pyspark']} pyarrow={box['pyarrow']} numpy={box['numpy']}"
    )
    for name in [n for n in UNITS if n in metrics]:
        print(f"  {name:34s} {metrics[name]:.6g} {UNITS[name]}")
    print(f"  {'fail_frac':34s} {failed / max(attempted, 1):.6g} fraction ({failed}/{attempted} passes)")
    for r in passes.records:
        for p in r["problems"]:
            print(f"  FAILED {r['label']}: {p.strip().splitlines()[-1]}")
    print(f"sidecar {os.path.relpath(side, ROOT)}")
    summary = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in reported.items()},
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
