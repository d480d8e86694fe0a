"""Format-agnostic table seam (sources/tables.py): parquet path lane
fully exercised; catalog lane exercised against the session's
in-memory catalog (same spark.table / writeTo code path Iceberg
uses — only the catalog implementation differs on a real cluster)."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from proj_spark.sources.tables import (
    is_path,
    load_table,
    table_format,
    write_table,
)


def test_is_path_heuristic():
    assert is_path("/tmp/x/y")
    assert is_path("rel/dir")
    assert is_path("events.parquet")
    assert not is_path("db.images")
    assert not is_path("images")


def test_table_format_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TABLE_FORMAT", raising=False)
    assert table_format() == "parquet"
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    assert table_format() == "iceberg"
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "delta")
    with pytest.raises(ValueError):
        table_format()


def test_parquet_roundtrip_with_bucketing(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 37).alias("cell_id")
    )
    write_table(df, path, bucket_by=(8, "cell_id"))
    back = load_table(spark, path)
    assert back.count() == 1000
    assert {f.name for f in back.schema.fields} == {"id", "cell_id"}
    # clustering happened: 8 output files at most (one per bucket task)
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    assert 0 < len(files) <= 8


def test_parquet_partition_by(spark, tmp_path):
    path = os.path.join(str(tmp_path), "p")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("k"))
    write_table(df, path, partition_by=["k"])
    assert sorted(d for d in os.listdir(path) if d.startswith("k=")) == [
        "k=0", "k=1", "k=2",
    ]
    assert load_table(spark, path).count() == 100


def test_catalog_identifier_reads_via_spark_table(spark):
    spark.range(5).createOrReplaceTempView("tables_seam_view")
    assert load_table(spark, "tables_seam_view").count() == 5


def test_write_table_rejects_bad_mode(spark, tmp_path):
    df = spark.range(1)
    with pytest.raises(ValueError, match="mode"):
        write_table(df, "some_catalog_table", mode="errorifexists")


def test_write_table_sort_by_clusters_rows(spark, tmp_path):
    """sort_by lays rows out in key order within each bucket file —
    the Hilbert/quadkey clustering hook."""
    import pandas as pd
    from pyspark.sql import functions as F

    from proj_spark.functions.expressions import with_hilbert_key
    from proj_spark.sources.tables import load_table, write_table

    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, i % 16, (i * 7) % 16) for i in range(400)],
            columns=["pk", "tx", "ty"],
        )
    )
    keyed = with_hilbert_key(df, "tx", "ty", 4)
    out = str(tmp_path / "clustered")
    write_table(keyed, out, bucket_by=(4, "pk"), sort_by=["hkey"])
    back = load_table(spark, out).withColumn("_f", F.input_file_name())
    rows = back.select("_f", "hkey").collect()
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["_f"], []).append(r["hkey"])
    assert len(rows) == 400 and len(by_file) >= 2
    for f, ks in by_file.items():
        assert ks == sorted(ks), f  # parquet preserves row order per file


@pytest.mark.parametrize("partition_by", [None, ["k"]])
def test_load_table_reuses_inferred_schema_until_files_change(spark, tmp_path, partition_by):
    """A second load of an unchanged local parquet table runs no Spark
    job (no schema inference) and returns the same schema and rows; a
    rewritten table is inferred again."""
    import uuid

    path = os.path.join(str(tmp_path), "s")
    df = spark.range(60).select("id", (F.col("id") * 0.5).alias("v"), (F.col("id") % 3).alias("k"))
    write_table(df, path, partition_by=partition_by)
    sc = spark.sparkContext

    def jobs_of_load():
        group = f"load-table-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "load_table schema inference")
        try:
            t = load_table(spark, path)
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return t, len(sc.statusTracker().getJobIdsForGroup(group))

    first, first_jobs = jobs_of_load()
    second, second_jobs = jobs_of_load()
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    write_table(spark.range(5).select("id", F.lit("x").alias("w")), path)
    third, third_jobs = jobs_of_load()
    assert third_jobs >= 1
    assert [f.name for f in third.schema.fields] == ["id", "w"]
    assert third.count() == 5
