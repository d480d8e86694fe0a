"""Distributed DBSCAN over geographic points (haversine metric).

Density clustering is the standard way to turn a 10^12-row point table
(image centroids, event locations) into named spatial clusters —
stations, cities, acquisition footprints — without choosing k.
Classic DBSCAN (Ester et al., KDD 1996) is sequential; this is the
well-known distributed decomposition into three dataframe stages, each
individually scale-safe, with every order-dependence of the original
algorithm replaced by a total order so the result is a pure function
of the input:

1. **ε-neighbor pairs**: cell-bucketed candidate join — the left side
   explodes its k-ring (``expressions.cell_neighbors``) and joins the
   right side's single cell id, then haversine ≤ eps filters
   exactly.  Both sides shuffle on the cell key (an equi-join Catalyst
   can plan as hash or sort-merge, AQE-splittable on hot cells); NEVER
   all-pairs.  Ring count is derived from eps and the data's maximum
   |lat| exactly like ``knn.within_distance_join``.
2. **core flags**: degree = 1 (self) + neighbor count; core iff
   degree ≥ min_pts — one aggregate.
3. **clusters**: connected components (``components.
   connected_components`` — min-label propagation + pointer jumping)
   over CORE-CORE edges only; a cluster's id is the minimum core
   point id in it.  Border points (non-core with ≥ 1 core neighbor)
   join the cluster of their MINIMUM-labeled core neighbor — the
   deterministic replacement for the paper's first-visitor rule.
   Noise keeps cluster = -1 (ids here are non-negative).

The whole pipeline is exact (no approximation beyond the metric), so
a DuckDB oracle can replay it: all-pairs distance at toy scale, the
same recursive-CTE reachability used by the dedup-components oracle,
and the same min-core-neighbor border rule.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import expressions as E
from .components import connected_components
from .knn import covering_ring


def eps_neighbor_pairs(
    points: DataFrame,
    eps_m: float,
    res: int = 6,
    id_col: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    max_ring: int = 8,
) -> DataFrame:
    """Directed pairs (id_a, id_b), a ≠ b, haversine(a, b) ≤ eps_m.
    Cell-bucketed: shuffle volume is |points|·(2r+1)² on the exploded
    side and |points| on the other — never |points|²."""
    ring = covering_ring(points, lat, eps_m, res, max_ring, "eps_neighbor_pairs")
    a = points.select(
        F.col(id_col).alias("id_a"),
        F.col(lon).alias("_alon"),
        F.col(lat).alias("_alat"),
    ).withColumn(
        "_cell",
        F.explode(E.cell_neighbors(E.cell_id("_alon", "_alat", res), res, k=ring)),
    )
    b = points.select(
        F.col(id_col).alias("id_b"),
        F.col(lon).alias("_blon"),
        F.col(lat).alias("_blat"),
    ).withColumn("_bcell", E.cell_id("_blon", "_blat", res))
    return (
        a.join(b, a["_cell"] == b["_bcell"], "inner")
        .where(F.col("id_a") != F.col("id_b"))
        .withColumn("dist_m", E.haversine_m("_alon", "_alat", "_blon", "_blat"))
        .where(F.col("dist_m") <= F.lit(float(eps_m)))
        .select("id_a", "id_b")
    )


def dbscan(
    points: DataFrame,
    eps_m: float,
    min_pts: int,
    res: int = 6,
    id_col: str = "id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """(id, cluster, is_core) for every input point; cluster = -1 for
    noise, else the minimum core-point id of the cluster.  Border
    points with several core neighbors take the neighbor with the
    MINIMUM cluster label (total order — partitioning-invariant)."""
    pairs = eps_neighbor_pairs(
        points, eps_m, res=res, id_col=id_col, lon=lon, lat=lat
    )
    ids = points.select(F.col(id_col).alias("id"))
    deg = pairs.groupBy("id_a").agg((F.count(F.lit(1)) + 1).alias("degree"))
    flags = ids.join(deg, ids["id"] == deg["id_a"], "left").select(
        "id", (F.coalesce(F.col("degree"), F.lit(1)) >= min_pts).alias("is_core")
    )
    core_ids = flags.where("is_core").select("id")
    # CC over core-core edges; isolated cores (no core neighbor within
    # eps but >= min_pts border neighbors) become singleton clusters
    core_edges = (
        pairs.join(core_ids.withColumnRenamed("id", "id_a"), on="id_a")
        .join(core_ids.withColumnRenamed("id", "id_b"), on="id_b")
        .select("id_a", "id_b")
    )
    comp = connected_components(core_edges, a="id_a", b="id_b")
    core_lab = (
        core_ids.join(comp, core_ids["id"] == comp["node"], "left")
        .select(
            core_ids["id"].alias("cid"),
            F.coalesce(comp["component"], core_ids["id"]).alias("cluster"),
        )
    )
    # border: minimum cluster label over core neighbors
    border_lab = (
        pairs.join(
            core_lab.withColumnRenamed("cid", "id_b"), on="id_b", how="inner"
        )
        .groupBy("id_a")
        .agg(F.min("cluster").alias("bcluster"))
    )
    out = (
        flags.join(core_lab, flags["id"] == core_lab["cid"], "left")
        .join(border_lab, flags["id"] == border_lab["id_a"], "left")
        .select(
            flags["id"],
            F.when(F.col("is_core"), F.col("cluster"))
            .otherwise(F.coalesce(F.col("bcluster"), F.lit(-1)))
            .alias("cluster"),
            "is_core",
        )
    )
    return out
