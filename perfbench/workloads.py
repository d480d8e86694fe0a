"""The benchmark's workloads.

Each workload drives the engine's public operators over the seeded
tables from :mod:`perfbench.inputs`.  A *pass* is one complete run of
the workload's pipeline ending in a write or a full aggregate, so every
output column is computed; :meth:`Workload.check_pass` then verifies
the pass's output outside the timed region.
"""
from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

from pyspark.sql import functions as F

from proj_spark.functions.transform import transform
from proj_spark.operators.checkpoint import CheckpointedPipeline
from proj_spark.operators.fused import reproject_pip_tile_rollup
from proj_spark.operators.gridshift import make_synthetic_grid, register_grid
from proj_spark.operators.spatial_join import point_in_polygon_join
from proj_spark.operators.tiles import assign_tiles, tile_counts
from proj_spark.sources.tables import load_table, write_table

from .inputs import table_bytes

# NAD27-style datum with the synthetic CONUS shift grid -> WGS84
SRC = "+proj=latlong +ellps=clrk66 +nadgrids=conus_syn"
DST = "+proj=latlong +datum=WGS84"
FUSED_ZOOM = 11
ROLLUP_ZOOMS = (4, 8, 11)
COMPOSED_ZOOMS = (4, 8, 12)
# fused-vs-composed parity slice (rows with id below this)
PARITY_SLICE = 50_000


def polys_frame(spark, polys):
    rows = [
        {"poly_id": pid, "ring": [{"lon": x, "lat": y} for x, y in ring], "poly_seq": i}
        for i, (pid, ring) in enumerate(polys)
    ]
    return spark.createDataFrame(rows)


def digest(df, cols):
    """Order-independent digest of ``cols`` plus row count: consumes
    every listed column, so nothing upstream can be pruned."""
    return df.agg(
        F.count(F.lit(1)).alias("rows"), F.bit_xor(F.xxhash64(*cols)).alias("xor")
    ).first()


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


class Workload:
    name: str
    why: str
    # {table name: rows}; ``points`` is the main input
    tables: dict[str, int]
    # physical node the timed plan must keep (None: no Python stage)
    python_node: str | None = None

    def __init__(self, spark, inp: dict, work_dir: str):
        self.spark = spark
        self.inp = inp
        self.work_dir = work_dir
        self.rows = inp["points"]["rows"]
        self.polys = inp["polygons"]
        self._ref = None  # first pass's output digest
        register_grid("conus_syn", make_synthetic_grid())

    def points(self):
        return load_table(self.spark, self.inp["points"]["path"])

    def out_dir(self, name: str = "out") -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- per pass -------------------------------------------------------
    def reset(self) -> None:
        """Untimed: clear the previous pass's output."""

    def run_pass(self, tracer=None) -> None:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def output_digest(self) -> tuple[tuple, list[str]]:
        """(digest of the pass output, list of failed checks)."""
        raise NotImplementedError

    def check_pass(self) -> list[str]:
        dig, problems = self.output_digest()
        if self._ref is None:
            self._ref = dig
        elif dig != self._ref:
            problems.append(f"output digest {dig} differs from first pass {self._ref}")
        return problems

    # -- per run --------------------------------------------------------
    def timed_plan(self):
        """The DataFrame whose plan must hold :attr:`python_node`."""
        return None

    def check_run(self, deep: bool) -> list[str]:
        """Untimed checks made once per run; ``deep`` adds the costly
        cross-operator checks that only the traced run makes."""
        problems = []
        if self.python_node is not None:
            plan = self.timed_plan()._jdf.queryExecution().executedPlan().toString()
            if self.python_node not in plan:
                problems.append(f"timed plan lost its {self.python_node} node")
        return problems


class FusedRollup(Workload):
    name = "fused_rollup"
    why = (
        "flagship fused reproject+PIP+z11 kernel then z4/z8/z11 rollup: bound by the "
        "Python kernel and the Arrow crossing, exchange carries only distinct keys"
    )
    tables = {"points": 3_000_000}
    python_node = "MapInPandas"

    def timed_plan(self):
        z11 = reproject_pip_tile_rollup(self.points(), SRC, DST, self.polys, zoom=FUSED_ZOOM)
        zoom = F.explode(F.array(*[F.lit(z) for z in ROLLUP_ZOOMS])).alias("zoom")
        return (
            z11.select("tile_x", "tile_y", "poly_seq", "n", zoom)
            .groupBy(
                "zoom",
                F.expr(f"shiftright(tile_x, {FUSED_ZOOM} - zoom)").alias("tile_x"),
                F.expr(f"shiftright(tile_y, {FUSED_ZOOM} - zoom)").alias("tile_y"),
                "poly_seq",
            )
            .agg(F.sum("n").alias("n"))
        )

    def reset(self) -> None:
        self.out = self.out_dir()

    def run_pass(self, tracer=None) -> None:
        with _span(tracer, "fused.rollup_write"):
            write_table(self.timed_plan(), self.out)

    def stored_bytes(self) -> int:
        return table_bytes(self.out)

    def output_digest(self):
        per_zoom = (
            self.spark.read.parquet(self.out)
            .groupBy("zoom")
            .agg(
                F.sum("n").alias("n"),
                F.count(F.lit(1)).alias("keys"),
                F.bit_xor(F.xxhash64("tile_x", "tile_y", "poly_seq", "n")).alias("xor"),
            )
            .orderBy("zoom")
            .collect()
        )
        problems = []
        if [r["zoom"] for r in per_zoom] != list(ROLLUP_ZOOMS):
            problems.append(f"zooms {[r['zoom'] for r in per_zoom]}")
        for r in per_zoom:
            if r["n"] != self.rows:
                problems.append(f"z{r['zoom']} sum(n)={r['n']} != {self.rows} input rows")
        return tuple(tuple(r) for r in per_zoom), problems

    def check_run(self, deep: bool) -> list[str]:
        problems = super().check_run(deep)
        if not deep:
            return problems
        sl = self.points().where(F.col("id") < PARITY_SLICE)
        fused = {
            (r["tile_x"], r["tile_y"], r["poly_seq"]): r["n"]
            for r in reproject_pip_tile_rollup(sl, SRC, DST, self.polys, zoom=FUSED_ZOOM).collect()
        }
        shifted = transform(sl, SRC, DST, "lon", "lat").select(
            "id", F.col("x").alias("lon"), F.col("y").alias("lat")
        )
        joined = point_in_polygon_join(
            shifted, polys_frame(self.spark, self.polys), res=6, point_id="id", how="left_first"
        )
        composed = {
            (r["tile_x"], r["tile_y"], r["poly_seq"]): r["n"]
            for r in assign_tiles(joined, [FUSED_ZOOM])
            .groupBy("tile_x", "tile_y", "poly_seq")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if fused != composed:
            diff = set(fused.items()) ^ set(composed.items())
            problems.append(f"fused z11 counts differ from composed on {len(diff)} keys")
        return problems


class ComposedCheckpoint(Workload):
    name = "composed_checkpoint"
    why = (
        "same assignment through transform UDF, native PIP join, assign_tiles and a "
        "checkpointed parquet stage, then tile_counts: writes beside reads"
    )
    tables = {"points": 500_000}
    python_node = "ArrowEvalPython"

    def timed_plan(self):
        shifted = transform(self.points(), SRC, DST, "lon", "lat").select(
            "id", F.col("x").alias("lon"), F.col("y").alias("lat")
        )
        joined = point_in_polygon_join(
            shifted, polys_frame(self.spark, self.polys), res=6, point_id="id", how="left_first"
        )
        return assign_tiles(joined, [FUSED_ZOOM])

    def reset(self) -> None:
        self.root = self.out_dir("checkpoint")

    def run_pass(self, tracer=None) -> None:
        pipe = CheckpointedPipeline(self.spark, self.root, key_col="id")
        with _span(tracer, "checkpoint.run_stage"):
            ck = pipe.run_stage("assign", self.timed_plan)
        with _span(tracer, "tiles.tile_counts"):
            self.counts = (
                tile_counts(ck, list(COMPOSED_ZOOMS))
                .groupBy("zoom")
                .agg(
                    F.sum("n").alias("n"),
                    F.count(F.lit(1)).alias("tiles"),
                    F.bit_xor(F.xxhash64("tile_x", "tile_y", "n")).alias("xor"),
                )
                .orderBy("zoom")
                .collect()
            )

    def stored_bytes(self) -> int:
        return table_bytes(self.root)

    def output_digest(self):
        problems = []
        if [r["zoom"] for r in self.counts] != list(COMPOSED_ZOOMS):
            problems.append(f"zooms {[r['zoom'] for r in self.counts]}")
        for r in self.counts:
            if r["n"] != self.rows:
                problems.append(f"z{r['zoom']} sum(n)={r['n']} != {self.rows} input rows")
        pipe = CheckpointedPipeline(self.spark, self.root)
        lineage = pipe.lineage().agg(F.sum("n_rows")).first()[0]
        metrics = pipe.metrics().first()
        if lineage != self.rows or metrics["n_rows"] != self.rows:
            problems.append(f"lineage rows {lineage}, metrics rows {metrics['n_rows']} != {self.rows}")
        return tuple(tuple(r) for r in self.counts), problems


WORKLOADS = {w.name: w for w in (FusedRollup, ComposedCheckpoint)}
