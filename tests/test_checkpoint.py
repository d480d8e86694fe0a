"""CheckpointedPipeline: the lineage read from the parquet footers
equals the per-file aggregate of a data scan, a stage runs no Spark
job beyond its write, and the join/tile builders run none at all."""
from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from proj_spark.operators.checkpoint import CheckpointedPipeline


def _jobs(spark, fn):
    """Ids of the Spark jobs ``fn()`` ran, read from the status store."""
    sc = spark.sparkContext
    group = f"checkpoint-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "checkpoint job count")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _scan_lineage(spark, data_dir, key):
    """The lineage as a data scan computes it: one row per file."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if key is not None:
        aggs += [F.min(key).alias("min_key"), F.max(key).alias("max_key")]
    return (
        spark.read.parquet(data_dir)
        .withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(*aggs)
    )


def _bigint(spark):
    return spark.range(0, 1000, numPartitions=4).withColumn("v", F.col("id") * 2)


def _string(spark):
    # non-ASCII keys order by UTF-8 bytes; a key over 4 KB leaves its
    # file without min/max statistics
    rows = [Row(k=f"{c}{i:03d}", v=i) for i, c in enumerate("aéz€Z" * 40)]
    rows.append(Row(k="€" + "z" * 5000, v=-1))
    return spark.createDataFrame(rows).repartition(3, "v")


def _null_key(spark):
    # ids 0..9 (one whole file) and every 7th id are null
    k = F.when((F.col("id") < 10) | (F.col("id") % 7 == 0), None).otherwise(F.col("id"))
    return spark.range(0, 40, numPartitions=4).select(k.alias("k"), "id")


def _empty(spark):
    return spark.range(0).withColumn("v", F.col("id") * 2)


# case -> (build, key, root directory under tmp_path; None: the same
# root given relative to the working directory the JVM shares)
CASES = {
    "bigint_key": (_bigint, "id", "ckpt"),
    "string_key": (_string, "k", "ckpt"),
    "no_key": (_bigint, None, "ckpt"),
    "null_key": (_null_key, "k", "ckpt"),
    "multi_row_group": (_bigint, "id", "ckpt"),
    "empty_output": (_empty, "id", "ckpt"),
    "space_in_root": (_bigint, "id", "ck pt %20"),
    "relative_root": (_bigint, "id", None),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_footer_lineage_equals_scan_aggregate(spark, tmp_path, case):
    """Rows, file names, key bounds and the read-back schemas of the
    lineage and metrics tables equal what a scan of the written data
    gives (``wall_ts`` aside)."""
    build, key, root_name = CASES[case]
    root = str(tmp_path / (root_name or "ckpt"))
    if root_name is None:
        root = os.path.relpath(root)
    small_groups = case == "multi_row_group"
    if small_groups:
        spark.conf.set("parquet.block.size", "1024")
    try:
        pipe = CheckpointedPipeline(spark, root, key_col=key)
        pipe.run_stage("s", lambda: build(spark), extra_metrics={"case": case})
    finally:
        if small_groups:
            spark.conf.unset("parquet.block.size")
    data_dir = os.path.join(root, "s", "data")
    if small_groups:
        groups = [
            pq.read_metadata(os.path.join(data_dir, f)).num_row_groups
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        ]
        assert max(groups) > 1, groups

    want = _scan_lineage(spark, data_dir, key)
    got = pipe.lineage()
    assert sorted(got.drop("stage", "wall_ts").collect()) == sorted(want.collect())
    assert {r.stage for r in got.collect()} <= {"s"}

    # the schemas as the scan-based writer stored them
    old_lineage = str(tmp_path / "old_lineage")
    want.withColumn("stage", F.lit("s")).withColumn("wall_ts", F.lit(0.0)).write.parquet(
        old_lineage
    )
    assert got.schema == spark.read.parquet(old_lineage).schema
    n = want.agg(F.sum("n_rows"), F.count(F.lit(1))).first()
    metrics_row = {
        "stage": "s",
        "n_rows": int(n[0] or 0),
        "n_parts": n[1],
        "elapsed_s": 0.0,
        "wall_ts": 0.0,
        "extra": f'{{"case": "{case}"}}',
    }
    old_metrics = str(tmp_path / "old_metrics")
    spark.createDataFrame([metrics_row]).write.parquet(old_metrics)
    met = pipe.metrics()
    assert met.schema == spark.read.parquet(old_metrics).schema
    row = met.first()
    assert (row.stage, row.n_rows, row.n_parts, row.extra) == (
        "s", metrics_row["n_rows"], metrics_row["n_parts"], metrics_row["extra"]
    )
    # one wall_ts per stage
    assert {r.wall_ts for r in got.collect()} <= {row.wall_ts}


def test_stage_runs_only_its_write(spark, tmp_path):
    """A checkpointed stage runs exactly the jobs of a bare parquet
    write of the same frame, all described ``checkpoint:<stage>``, and
    returns a frame whose schema is the written one."""
    frame = lambda: spark.range(0, 1000, numPartitions=4).withColumn(  # noqa: E731
        "v", F.col("id") * 2
    )
    bare = _jobs(spark, lambda: frame().write.parquet(str(tmp_path / "bare")))
    out = []
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"), key_col="id")
    staged = _jobs(spark, lambda: out.append(pipe.run_stage("double", frame)))
    assert len(staged) == len(bare) >= 1, (staged, bare)
    store = spark.sparkContext._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in staged} == {"checkpoint:double"}
    assert out[0].schema == spark.read.parquet(str(tmp_path / "bare")).schema
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_float_key_is_rejected(spark, tmp_path):
    """NaN orders above every number in Spark's min/max and is left out
    of parquet statistics: a float key fails before anything is written."""
    pipe = CheckpointedPipeline(spark, str(tmp_path / "ckpt"), key_col="x")
    with pytest.raises(ValueError, match="double"):
        pipe.run_stage("f", lambda: spark.range(4).select((F.col("id") * 0.5).alias("x")))
    assert not os.path.exists(os.path.join(str(tmp_path / "ckpt"), "f"))


def test_join_and_tile_builders_run_no_job(spark, tmp_path):
    """Building the point-in-polygon join and the tile assignment over
    a parquet-backed frame plans only: no Spark job runs."""
    from proj_spark.operators.spatial_join import point_in_polygon_join
    from proj_spark.operators.tiles import assign_tiles

    path = str(tmp_path / "pts")
    spark.range(200).select(
        "id",
        (F.col("id") * 0.1 - 10.0).alias("lon"),
        (F.col("id") * 0.05 - 5.0).alias("lat"),
    ).write.parquet(path)
    pts = spark.read.parquet(path)
    ring = [{"lon": x, "lat": y} for x, y in [(-8, -4), (8, -4), (0, 6), (-8, -4)]]
    polys = spark.createDataFrame([{"poly_id": "p0", "ring": ring}])

    def build():
        for how in ("first_match", "left_first", "all"):
            j = point_in_polygon_join(pts, polys, res=6, point_id="id", how=how)
            if how != "first_match":
                assign_tiles(j, [4, 8])

    assert _jobs(spark, build) == []
