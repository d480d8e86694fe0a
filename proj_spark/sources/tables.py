"""Format-agnostic table I/O — the parquet/Iceberg swap point.

The north-rule input is an Iceberg table of image+caption rows; this
sandbox ships no Iceberg runtime jar, so every test and benchmark
reads/writes plain parquet paths.  This module is the SINGLE seam
between the two so the rest of the engine never branches on format:

- :func:`load_table` — a catalog identifier (``db.table``) resolves
  via ``spark.table`` (Iceberg/Hive/whatever the session's catalog
  serves); anything with a path separator reads as a parquet
  directory.  Readers downstream are identical either way — Spark
  gives both the same DataFrame API, pushdown, and pruning.
- :func:`write_table` — parquet paths use the classic writer;
  catalog identifiers use the DataFrameWriterV2 API
  (``df.writeTo(...).partitionedBy(...)``), which is how Iceberg
  tables are created with hidden-partition transforms.  The
  ``bucket_by`` knob emits ``bucket(n, col)`` — the cell-id
  clustering SURVEY §4 prescribes for the image table so spatial
  joins co-locate without a shuffle.
- :func:`table_format` — resolves the active format from
  ``SPARK_GRAFT_TABLE_FORMAT`` (default ``parquet``); set it to
  ``iceberg`` on a cluster whose session has an Iceberg catalog
  configured (spark.sql.catalog.* settings + runtime jar).

At 10^12 rows the things that matter — hidden partitioning on the
cell id, sorted data files within partitions, snapshot isolation for
checkpoint/resume — are all table-side properties this seam sets up;
the query code above it is format-blind.
"""
from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def table_format() -> str:
    """Active table format: ``parquet`` (default) or ``iceberg``."""
    fmt = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet").lower()
    if fmt not in ("parquet", "iceberg"):
        raise ValueError(f"SPARK_GRAFT_TABLE_FORMAT={fmt!r} (parquet|iceberg)")
    return fmt


def is_path(identifier: str) -> bool:
    """Path-like (parquet directory) vs catalog identifier."""
    return "/" in identifier or identifier.endswith(".parquet")


# per session: absolute local path -> (its file listing, the schema
# that session inferred from it)
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _local_listing(identifier: str) -> tuple[str, tuple] | None:
    """(absolute path, sorted (name, size, mtime_ns) of every file under
    it) for a local parquet path; None for another URI scheme, a glob,
    a missing path or an empty directory."""
    path = identifier.removeprefix("file:")
    if "://" in path:
        return None
    path = os.path.abspath(path)
    files = [path] if os.path.isfile(path) else [
        os.path.join(root, name) for root, _, names in os.walk(path) for name in names
    ]
    if not files:
        return None
    try:
        stats = [(f, os.stat(f)) for f in sorted(files)]
    except OSError:  # a file went away mid-listing: infer as usual
        return None
    return path, tuple((f, st.st_size, st.st_mtime_ns) for f, st in stats)


def load_table(spark: SparkSession, identifier: str) -> DataFrame:
    """Read a table by catalog name or parquet path.

    Catalog names go through ``spark.table`` so whatever catalog the
    session serves (Iceberg, Hive, in-memory views) resolves them;
    paths read as parquet.  Column pruning and predicate pushdown
    behave identically on both (Iceberg additionally prunes manifests
    by partition transform — free once the table is bucketed).

    Inferring a parquet schema is one Spark job.  For a local path the
    schema the session inferred is reused while the path's file listing
    (names, sizes, mtimes) is unchanged; any change infers it again.
    A parquet reader conf changed in the session after the first load
    (``spark.sql.parquet.binaryAsString`` and the like) is not seen by a
    later load of the unchanged path."""
    if not is_path(identifier):
        return spark.table(identifier)
    local = _local_listing(identifier)
    if local is None:
        return spark.read.parquet(identifier)
    path, listing = local
    schemas: dict[str, tuple[tuple, StructType]] = _SCHEMAS.setdefault(spark, {})
    cached = schemas.get(path)
    if cached is not None and cached[0] == listing:
        return spark.read.schema(cached[1]).parquet(identifier)
    df = spark.read.parquet(identifier)
    schemas[path] = (listing, df.schema)
    return df


def write_table(
    df: DataFrame,
    identifier: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, str] | None = None,
    sort_by: list[str] | None = None,
) -> None:
    """Write ``df`` as a parquet path or a catalog (Iceberg) table.

    For catalog identifiers the DataFrameWriterV2 API is used —
    ``createOrReplace`` maps to a REPLACE TABLE AS SELECT (an atomic
    snapshot swap on Iceberg, giving checkpoint/resume its isolation),
    and ``bucket_by=(n, col)`` becomes the hidden-partition transform
    ``bucket(n, col)`` so co-located joins need no explicit shuffle.

    For parquet paths, ``bucket_by`` degrades to ``repartition(n,
    col)`` + a partition-local sort — the same physical clustering
    without the metadata (what the benchmarks use in this sandbox).

    ``sort_by``: extra partition-local sort columns AFTER the bucket
    column — pass the Hilbert key (expressions.with_hilbert_key) or a
    quadkey so row groups within each bucket are spatially contiguous
    and bbox scans prune to a few ranges (the locality evidence is
    tests/test_plan_quality.py + the measured 1.7x Hilbert-vs-Z
    fragmentation gap)."""
    if is_path(identifier):
        if bucket_by is not None:
            n, col = bucket_by
            # sort_by (the spatial clustering key) dominates the local
            # sort when given; otherwise cluster by the bucket column
            df = df.repartition(n, F.col(col)).sortWithinPartitions(
                *(sort_by if sort_by else [col])
            )
        elif sort_by:
            df = df.sortWithinPartitions(*sort_by)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(identifier)
        return

    writer = df.writeTo(identifier)
    transforms = []
    if bucket_by is not None:
        n, col = bucket_by
        transforms.append(F.bucket(n, F.col(col)))
    if partition_by:
        transforms.extend(F.col(c) for c in partition_by)
    if transforms:
        writer = writer.partitionedBy(transforms[0], *transforms[1:])
    if sort_by:
        # DataFrameWriterV2 has no sortedBy; partition-local sort on
        # the incoming frame gives the same row-group contiguity
        writer = df.sortWithinPartitions(*sort_by).writeTo(identifier)
        if transforms:
            writer = writer.partitionedBy(transforms[0], *transforms[1:])
    if mode == "overwrite":
        writer.createOrReplace()
    elif mode == "append":
        writer.append()
    else:
        raise ValueError(f"mode {mode!r} (overwrite|append)")
