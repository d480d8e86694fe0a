"""Checkpoint-resumable pipeline stages with per-partition lineage +
metrics tables (north-rule requirement).

Model: a pipeline is a named sequence of stages; each stage writes its
output to ``<root>/<stage>/data`` (parquet, atomic via Spark's
committer), then appends one row per output file to the lineage
table and one summary row to the metrics table.  ``run_stage`` skips
stages whose _SUCCESS marker already exists, so a killed job re-run
with the same root resumes after the last completed stage — the batch
analog of Structured Streaming state recovery (SURVEY.md §2.8).

Lineage row:   (_file, n_rows, min_key, max_key, stage, wall_ts)
Metrics row:   (elapsed_s, extra, n_parts, n_rows, stage, wall_ts)

The lineage comes from the footers the parquet writer just committed
(per-file row count, per-row-group key min/max statistics), the way an
Iceberg manifest records ``record_count`` and column bounds: the only
Spark job a stage runs is its write.  Lineage and metrics are appended
driver-side, one parquet file per append, renamed into place so a
reader never sees a partial file.

At 10^12 rows checkpoints are Iceberg snapshots in production; plain
parquet directories here keep the sandbox dependency-free while
exercising identical resume semantics (existence check + atomic
commit + lineage audit).  Like the existence check, the footer reads
assume a local filesystem.
"""
from __future__ import annotations

import json
import os
import pathlib
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, FloatType

from .fixpoint import job_description


def _success(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _file_lineage(path: str, key: str | None) -> tuple[int, object, object]:
    """(rows, min key, max key) of one committed parquet file, from its
    footer; the key bounds are None without a key or non-null value."""
    md = pq.read_metadata(path)
    if key is None or md.num_rows == 0:
        return md.num_rows, None, None
    col = [md.schema.column(c).path for c in range(md.num_columns)].index(key)
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(col).statistics
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif st is None or not st.has_null_count or st.null_count < rg.num_rows:
            # non-null keys without statistics (parquet-mr omits them
            # for values over 4 KB): read this file's key column
            mm = pc.min_max(pq.read_table(path, columns=[key]).column(0)).as_py()
            return md.num_rows, mm["min"], mm["max"]
    return md.num_rows, lo, hi


def _append(table_dir: str, table: pa.Table) -> None:
    """Add ``table`` as one new parquet file of the table at ``table_dir``."""
    os.makedirs(table_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(table_dir, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(table_dir, name))


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str, key_col: str | None = None):
        self.spark = spark
        self.root = root
        self.key_col = key_col
        os.makedirs(root, exist_ok=True)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage, "data")

    def run_stage(
        self,
        stage: str,
        build,  # Callable[[], DataFrame]
        key_col: str | None = None,
        extra_metrics: dict | None = None,
    ) -> DataFrame:
        """Materialize ``build()`` under this stage name, or reload the
        existing checkpoint if the stage already completed.  A
        floating-point key raises ``ValueError``: Spark's min/max order
        NaN above every number, the parquet statistics leave it out."""
        data_dir = self._stage_dir(stage)
        key = key_col or self.key_col
        if _success(data_dir):
            return self.spark.read.parquet(data_dir)

        t0 = time.time()
        df = build()
        if key not in df.columns:
            key = None
        key_type = None if key is None else df.schema[key].dataType
        if isinstance(key_type, (FloatType, DoubleType)):
            raise ValueError(
                f"checkpoint key {key!r} is {key_type.simpleString()}: "
                "floating-point keys have no exact min/max lineage"
            )
        with job_description(self.spark.sparkContext, f"checkpoint:{stage}"):
            df.write.mode("overwrite").parquet(data_dir)
        wall_ts = time.time()
        elapsed = wall_ts - t0

        files, rows, lows, highs = [], [], [], []
        for name in sorted(os.listdir(data_dir)):
            if name.startswith((".", "_")):
                continue
            path = os.path.join(data_dir, name)
            n, lo, hi = _file_lineage(path, key)
            if n == 0:  # Spark's one file for an empty output
                continue
            files.append(pathlib.Path(os.path.abspath(path)).as_uri())
            rows.append(n)
            lows.append(lo)
            highs.append(hi)
        cols = {"_file": (files, pa.string()), "n_rows": (rows, pa.int64())}
        if key is not None:
            kt = to_arrow_type(key_type)
            cols["min_key"] = (lows, kt)
            cols["max_key"] = (highs, kt)
        cols["stage"] = ([stage] * len(files), pa.string())
        cols["wall_ts"] = ([wall_ts] * len(files), pa.float64())
        _append(
            os.path.join(self.root, "_lineage"),
            pa.table({c: pa.array(v, type=t) for c, (v, t) in cols.items()}),
        )
        # the column order Spark infers from a dict row
        metrics_row = {
            "elapsed_s": [round(elapsed, 3)],
            "extra": [json.dumps(extra_metrics or {})],
            "n_parts": [len(files)],
            "n_rows": [sum(rows)],
            "stage": [stage],
            "wall_ts": [wall_ts],
        }
        _append(os.path.join(self.root, "_metrics"), pa.table(metrics_row))
        return self.spark.read.schema(df.schema).parquet(data_dir)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_lineage"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_metrics"))

    def completed_stages(self) -> list[str]:
        out = []
        for name in sorted(os.listdir(self.root)):
            if name.startswith("_"):
                continue
            if _success(self._stage_dir(name)):
                out.append(name)
        return out
