"""SparkSession factory with the engine's scale-tuned defaults.

These settings encode the 100TB design decisions so every entry point
(tests, bench, tools, driver) runs the same physical configuration:

- AQE on (runtime coalescing + skew-join splitting — the backstop for
  hot-cell skew beyond our explicit salting),
- shuffle partitions sized to cores at local scale (cluster deploys
  override via spark-submit conf; AQE coalesces down anyway),
- Arrow enabled with a bounded batch size: the pandas-UDF kernels are
  O(batch) memory, and 10k rows x 3 float64 arrays keeps each Python
  worker's resident set small even with 32 concurrent tasks,
- broadcast threshold raised to 64MB: polygon edge lists, grid
  catalogs, and query-point sets are all designed to be broadcast
  (zero-shuffle joins for the 10^12-row probe side).

- Python workers run under ``proj_spark.worker`` (the PySpark daemon
  module): PySpark's stock worker re-reads the central directory of
  ``pyspark.zip`` at the start of every task (0.2-0.3 s per task); the
  engine's daemon re-reads an archive only when it changed.  The
  repository root goes on the workers' ``PYTHONPATH`` so the daemon
  imports from any working directory.

``executors=n`` builds ``local-cluster[n, cpus, 6144]`` instead (real
executor JVMs + netty shuffle): the box's stand-in for an n-executor
cluster, which the N-vs-4N scaling pairs run on.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app: str = "proj-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    executors: int | None = None,
) -> SparkSession:
    """An active session on a different master is stopped first:
    ``getOrCreate`` would otherwise hand it back unchanged."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if executors is None:
        master = f"local[{cpus}]"
        shuffle = shuffle_partitions or max(2 * cpus, 32)
        # local mode: the driver heap is the executor heap
        driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    else:
        master = f"local-cluster[{executors},{cpus},6144]"
        shuffle = shuffle_partitions or 4 * executors * cpus
        driver_mem = "8g"  # the driver only plans; executors do the work
    active = SparkSession.getActiveSession()
    if active is not None and active.sparkContext.master != master:
        active.stop()
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "proj_spark.worker")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
    )
    if executors is not None:
        # pin each executor JVM to its core budget: unpinned, each sizes
        # its GC/JIT pools for the whole machine and n JVMs oversubscribe
        # the box (2 is the JIT-thread floor under tiered compilation)
        builder = (
            builder.config("spark.executor.memory", "6144m")
            .config(
                "spark.executor.extraJavaOptions",
                f"-XX:ParallelGCThreads={cpus} -XX:CICompilerCount=2 "
                f"-XX:ActiveProcessorCount={cpus}",
            )
            # one box: never trade a free slot for locality
            .config("spark.locality.wait", "0s")
        )
    return builder.getOrCreate()
