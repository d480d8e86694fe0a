"""Measurement helpers that sit outside the engine.

- :class:`RssSampler` sums the resident set of the driver JVM and every
  process below it (the Python worker daemon and its forked workers),
  read from ``/proc``, and keeps the peak while it is armed.
- :class:`Tracer` runs a call under its own Spark job group and, after
  it returns, reads Spark's status store for the stages of the jobs in
  that group: task counts, executor run/CPU/GC time, input, shuffle
  and spill bytes, and task skew.
- :func:`perf_profile` reads the PySpark UDF perf profiler's results.

Nothing here reaches into ``proj_spark``; every number comes from the
operating system, Spark's own bookkeeping or the timing of public calls.
"""
from __future__ import annotations

import glob
import os
import pstats
import shutil
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Background sampler of the summed RSS of a JVM and the Python
    processes below it (the worker daemon and its workers).  Other
    children are left out: a process the JVM spawns (Hadoop's local
    file system shells out for permissions) shows the JVM's whole RSS
    until it execs, which would count the JVM twice.  Only samples
    taken while armed count towards :attr:`peak_bytes`."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_detail: dict = {}
        self.samples = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @contextmanager
    def armed(self):
        self._armed.set()
        try:
            yield
        finally:
            self._armed.clear()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if not self._armed.is_set():
                continue
            per_pid = {
                p: _rss_bytes(p)
                for p in process_tree(self.root_pid)
                if p == self.root_pid or _is_python(p)
            }
            total = sum(per_pid.values())
            self.samples += 1
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_detail = {
                    "root_mb": per_pid.get(self.root_pid, 0) / 2**20,
                    "others_mb": sorted((v / 2**20 for p, v in per_pid.items() if p != self.root_pid), reverse=True),
                }


@contextmanager
def count_calls(cls, method: str):
    """Count calls of ``cls.method`` made inside the block (the
    method is wrapped for the block's duration only)."""
    orig = getattr(cls, method)
    calls = [0]

    def wrapped(*args, **kwargs):
        calls[0] += 1
        return orig(*args, **kwargs)

    setattr(cls, method, wrapped)
    try:
        yield calls
    finally:
        setattr(cls, method, orig)


def _seq(scala_seq) -> list[int]:
    text = scala_seq.mkString(",")
    return [int(v) for v in text.split(",") if v]


class Tracer:
    """Job-group spans over Spark calls, with per-span stage metrics."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        """Time the body under a fresh job group; on exit append a span
        record (wall time plus the group's stage metrics)."""
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, f"perfbench:{name}")
        rec: dict = {"name": name}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec.update(self.group_stats(group, rec["wall_s"]))
        self.spans.append(rec)

    def group_stats(self, group: str, wall_s: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(_seq(store.job(j).stageIds()))
        tot = dict.fromkeys(
            (
                "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "shuffle_write_records",
            ),
            0,
        )
        stages = []
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage skipped, never attempted
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            st = {
                "stage": sid,
                "attempt": sd.attemptId(),
                "tasks": sd.numCompleteTasks(),
                "executor_run_s": sd.executorRunTime() / 1e3,
                "executor_cpu_s": sd.executorCpuTime() / 1e9,
                "jvm_gc_s": sd.jvmGcTime() / 1e3,
                "input_bytes": sd.inputBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_write_records": sd.shuffleWriteRecords(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            }
            stages.append(st)
            tot["stages"] += 1
            for k in st:
                if k in tot:
                    tot[k] += st[k]
        tot["jobs"] = len(jobs)
        tot["task_skew"] = self._task_skew(store, stages)
        tot["busy_frac"] = tot["executor_run_s"] / max(wall_s * self.cores, 1e-9)
        tot["stage_detail"] = stages
        return tot

    def _task_skew(self, store, stages: list[dict]) -> float:
        """max / median task run time of the slowest stage."""
        if not stages:
            return 1.0
        slow = max(stages, key=lambda s: s["executor_run_s"])
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = store.taskSummary(slow["stage"], slow["attempt"], q)
        if not summ.isDefined():
            return 1.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def perf_profile(spark, dump_dir: str) -> dict:
    """Sum the UDF perf profiler's results since the last clear:
    ``profiled_s`` is the time spent inside the Python UDF iterators
    (input conversion and the UDF body; the profiler stops before the
    output batch is serialized), ``arrow_in_s`` the part of it spent in
    PySpark's Arrow-to-pandas input serializer."""
    shutil.rmtree(dump_dir, ignore_errors=True)
    spark.profile.dump(dump_dir, type="perf")
    profiled = arrow_in = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(path)
        profiled += st.total_tt
        loads = [
            v[3]
            for (fname, _line, func), v in st.stats.items()
            if fname == "serializers.py" and func == "load_stream"
        ]
        arrow_in += max(loads, default=0.0)
    spark.profile.clear(type="perf")
    return {"profiled_s": profiled, "arrow_in_s": arrow_in}
