"""The engine's PySpark daemon (``proj_spark.worker``): Python tasks do
not re-read an unchanged zip archive, and still see a rewritten one."""
from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from proj_spark import worker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zw_mod_a.py": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker.invalidate_caches)
    monkeypatch.setattr(worker, "_read_at", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zw_mod_a").X == 1
        importlib.invalidate_caches()  # the first invalidation reads once
        first = reads.count(archive)
        assert first <= 2
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == first

        # a rewritten archive is re-read at the next invalidation
        _write_zip(archive, {"zw_mod_a.py": "X = 1\n", "zw_mod_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == first + 1
        assert importlib.import_module("zw_mod_b").Y == 2
    finally:
        for name in ("zw_mod_a", "zw_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_tasks_run_under_engine_daemon(spark):
    def _probe(batches):
        """Per task: the daemon module this worker was forked from, and
        the zip directories read since this worker's first probe task."""
        import sys
        import zipimport

        read = zipimport._read_directory
        first = not hasattr(read, "reads")
        if first:
            real = read

            def read(path):
                read.reads += 1
                return real(path)

            read.reads = 0
            zipimport._read_directory = read
        for _ in batches:
            pass
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        yield pd.DataFrame(
            {
                "daemon": [spec.name if spec else None],
                "reads": [read.reads],
                "first": [first],
            }
        )

    schema = "daemon string, reads long, first boolean"
    slots = spark.sparkContext.defaultParallelism
    rows = []
    # idle workers are handed out oldest first, so a pool left by earlier
    # tests can take several jobs to cycle back to a probed worker
    for _ in range(20):
        rows += spark.range(0, slots, 1, slots).mapInPandas(_probe, schema).collect()
        if any(not r.first for r in rows):
            break
    assert {r.daemon for r in rows} == {"proj_spark.worker"}
    later = [r for r in rows if not r.first]
    assert later, "no worker ran a second task"
    # after a worker's first task, each task reads no zip directory
    assert [r.reads for r in later] == [0] * len(later)


def test_daemon_imports_from_any_cwd(tmp_path):
    """``build_session`` puts the repository on the workers' path, so a
    driver started elsewhere with no PYTHONPATH still runs Python tasks."""
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from proj_spark.session import build_session

def where(batches):
    import sys
    for b in batches:
        yield pd.DataFrame({{"m": [sys.modules["__main__"].__spec__.name] * len(b)}})

spark = build_session("daemon-cwd", cpus=1)
print(sorted({{r.m for r in spark.range(8).mapInPandas(where, "m string").collect()}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert r.stdout.strip().splitlines()[-1] == "['proj_spark.worker']"
