"""kNN join: k-ring cell expansion + haversine ranking (+ optional
geodesic refinement), per the north rule.

Two implementations:

- :func:`knn_join_bruteforce` — exact oracle.  Broadcast the (small)
  query side, evaluate haversine for every (candidate, query) pair as
  a native expression, window top-k.  No Python; one shuffle (the
  window partitionBy query_id).  Right at 10^12 candidate rows iff the
  query set is small (cost = |candidates| x |queries| distance evals).

- :func:`knn_join` — the scale path.  Candidates carry a cell id;
  queries explode their k-ring (functions/expressions.cell_neighbors)
  and broadcast-join candidates on cell, so each candidate row is
  touched only by nearby queries.  Guarantee: after ranking, a query's
  k-th distance must not exceed the ring's guaranteed coverage radius
  (distance from the query to the ring boundary); queries that fail
  the guarantee (or found < k) are re-run brute-force.  The fallback
  set is tiny, so the expected cost is ~|candidates touched by rings|.

Determinism: ties broken by (dist, neighbor_id) — total order, stable
under any partitioning (the Spark analog of multistresstest's bitwise
reproducibility requirement).
"""
from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

from itertools import count as _count

from ..functions import expressions as E
from .fixpoint import job_description

# observation names must be unique within a query plan; two knn_join
# results composed into one query would otherwise collide on the name
_OBS_SEQ = _count()

# every persist() taken while building a kNN plan (one per escalation
# level in knn_join / knn_join_hex) is registered here so callers can
# release executor storage after their action — without this, a plan
# escalating to max_ring leaves up to max_ring cached RDDs pinned for
# the session (round-4 review)
_PERSISTED: list[DataFrame] = []


def _register_persist(df: DataFrame) -> DataFrame:
    handle = df.persist()
    _PERSISTED.append(handle)
    return handle


def release_persisted() -> int:
    """Unpersist every DataFrame cached while building kNN plans and
    clear the registry.  Call AFTER the action that consumed the kNN
    result (unpersisting earlier would re-run the ranked stage per
    consumer).  Returns the number of handles released."""
    n = len(_PERSISTED)
    for h in _PERSISTED:
        try:
            h.unpersist(blocking=False)
        except Exception:  # session already stopped
            pass
    _PERSISTED.clear()
    return n


EARTH_M = E.EARTH_RADIUS_M


def _topk(pairs: DataFrame, query_id: str, k: int) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_join_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    q_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    c_id: str = "cand_id",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
) -> DataFrame:
    """Exact kNN via broadcast cross join + window top-k."""
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    )
    c = candidates.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    )
    pairs = c.crossJoin(F.broadcast(q)).withColumn(
        "dist_m", E.haversine_m("_qlon", "_qlat", "_clon", "_clat")
    )
    return _topk(pairs, "query_id", k).select("query_id", "neighbor_id", "rank", "dist_m")


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    res: int = 6,
    ring: int = 1,
    q_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    c_id: str = "cand_id",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
    verify_cover: bool = True,
    fallback_frac: float = 0.05,
    max_ring: int = 4,
) -> DataFrame:
    """Cell-pruned kNN with coverage-checked fallback.

    The candidate side computes one cell id (narrow); the query side
    (small) explodes its (2*ring+1)^2 k-ring and is broadcast, so the
    big side never shuffles for the join.

    Queries failing the coverage guarantee are retried: the ring is
    ESCALATED (ring+1, up to ``max_ring``) for the failing subset
    instead of brute-forcing them against the full candidate table —
    the silent O(|C|x|Q|) cliff the round-1 review flagged.  Only the
    residue still failing at ``max_ring`` reaches brute force.

    Construction is LAZY (round-3 review): the escalated/brute paths
    are unioned behind the coverage predicate, so building the
    DataFrame runs no Spark job — nothing executes until the caller
    acts.  With AQE on, an empty failing set collapses the escalated
    joins to empty relations at runtime, so the happy path pays
    nothing for the fallback plan.  Coverage stats are attached via
    ``DataFrame.observe`` (metric ``knn_cover_r{ring}_{seq}``:
    n_queries, n_failed) for listeners to read after an action.

    ``fallback_frac`` is retained for API compatibility; the lazy plan
    always escalates the failing subset (the fraction can no longer be
    inspected without running a job at build time).
    """
    c = candidates.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    ).withColumn("_ccell", E.cell_id("_clon", "_clat", res))

    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    )
    q_cells = q.withColumn(
        "_cell", F.explode(E.cell_neighbors(E.cell_id("_qlon", "_qlat", res), res, k=ring))
    )

    pairs = c.join(F.broadcast(q_cells), c["_ccell"] == q_cells["_cell"], "inner").withColumn(
        "dist_m", E.haversine_m("_qlon", "_qlat", "_clon", "_clat")
    )
    ranked = _topk(pairs, "query_id", k).select("query_id", "neighbor_id", "rank", "dist_m")

    if not verify_cover:
        return ranked

    # the verify path consumes ``ranked`` twice (coverage aggregate via
    # the anti-join predicate, and the returned good rows) — persist so
    # the candidate join + window materialize exactly ONCE when the
    # caller finally acts (round-2 review: without this, each consumer
    # re-ran the most expensive stage from scan).  persist() is lazy;
    # no job runs here.
    ranked = _register_persist(ranked)

    # coverage radius: a ring of R cells guarantees correctness iff the
    # k-th neighbor is closer than R whole cells in the TIGHTEST metric
    # dimension.  Cell height is 180/2^res deg everywhere, but cell
    # WIDTH in meters shrinks with cos(lat) — longitude compression
    # REDUCES the guaranteed radius (a fixed metric distance spans more
    # cells east-west at high latitude), so the bound must use the
    # narrowest width across the ring extent, per query.
    cell_h_deg = 180.0 / (1 << res)
    cell_h_m = math.pi * EARTH_M * cell_h_deg / 180.0

    # LEFT join from the query side: a query whose entire k-ring held no
    # candidates produces NO groupBy row — it must count as failed, not
    # silently vanish from the result
    per_q = q.join(
        ranked.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_n"), F.max("dist_m").alias("_maxd")
        ),
        on="query_id",
        how="left",
    )
    phi_far = F.least(
        F.abs(F.col("_qlat")) + F.lit(float(ring) * cell_h_deg), F.lit(89.999999)
    )
    safe_m = F.lit(float(ring) * cell_h_m) * F.cos(F.radians(phi_far))
    is_bad = F.col("_n").isNull() | (F.col("_n") < k) | (F.col("_maxd") >= safe_m)
    # coverage stats ride the plan as an observation — readable by a
    # QueryExecutionListener after the caller's action, at zero cost
    per_q = per_q.observe(
        f"knn_cover_r{ring}_{next(_OBS_SEQ)}",
        F.count(F.lit(1)).alias("n_queries"),
        F.count_if(is_bad).alias("n_failed"),
    )
    # LAZY fallback: union the escalated path behind the coverage
    # predicate.  No action runs here; when nothing fails, the failing
    # side is empty and AQE prunes the escalated joins at runtime.
    bad_q = per_q.where(is_bad).select("query_id")
    bad_queries = q.join(F.broadcast(bad_q), on="query_id", how="inner")
    good = ranked.join(F.broadcast(bad_q), on="query_id", how="left_anti")
    if ring < max_ring:
        redo = knn_join(
            bad_queries,
            candidates,
            k=k,
            res=res,
            ring=ring + 1,
            q_id="query_id",
            q_lon="_qlon",
            q_lat="_qlat",
            c_id=c_id,
            c_lon=c_lon,
            c_lat=c_lat,
            verify_cover=True,
            fallback_frac=fallback_frac,
            max_ring=max_ring,
        )
    else:
        redo = knn_join_bruteforce(
            bad_queries,
            candidates,
            k=k,
            q_id="query_id",
            q_lon="_qlon",
            q_lat="_qlat",
            c_id=c_id,
            c_lon=c_lon,
            c_lat=c_lat,
        )
    return good.unionByName(redo)


def covering_ring(
    points: DataFrame,
    lat: str,
    radius_m: float,
    res: int,
    max_ring: int,
    operator: str,
) -> int:
    """The k-ring of ``res`` cells that GUARANTEES every point within
    ``radius_m`` of any row of ``points`` is covered: a hit differs by
    at most ``radius/R`` rad in latitude and ``radius/(R cos phi)`` rad
    in longitude, so ``ring = ceil(worst-axis span / cell size)`` at
    the set's extreme latitude widened by the latitude span itself.
    That extreme latitude is one eager aggregate, run as the job
    ``"<operator>:phi_max"``.  Raises when the ring exceeds
    ``max_ring`` — the resolution is too fine for this radius; lower
    ``res`` (each -1 halves the ring) instead of silently exploding
    the probe fan-out."""
    cell_h_m = math.pi * EARTH_M * (180.0 / (1 << res)) / 180.0
    dphi_deg = math.degrees(radius_m / EARTH_M)
    with job_description(points.sparkSession.sparkContext, f"{operator}:phi_max"):
        phi_max = points.agg(F.max(F.abs(F.col(lat)))).first()[0] or 0.0
    phi_worst = min(phi_max + dphi_deg, 89.9)
    cos_w = max(math.cos(math.radians(phi_worst)), 1e-6)
    ring = max(int(math.ceil((radius_m / cell_h_m / cos_w) * (1.0 + 1e-9))), 1)
    if ring > max_ring:
        raise ValueError(
            f"radius {radius_m:.0f} m at |lat|<={phi_worst:.1f} needs a "
            f"ring of {ring} > max_ring={max_ring} cells at res={res}; "
            f"use res<={res - math.ceil(math.log2(ring / max_ring))}"
        )
    return ring


def within_distance_join(
    queries: DataFrame,
    candidates: DataFrame,
    radius_m: float,
    res: int = 6,
    q_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    c_id: str = "cand_id",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
    max_ring: int = 6,
) -> DataFrame:
    """Distance-range join: every candidate within ``radius_m``
    (haversine) of each query — the radius-query sibling of
    :func:`knn_join`, EXACT by construction.

    Plan shape (10^12-safe): candidates compute one cell id (narrow);
    the small query side explodes a k-ring sized to GUARANTEE the
    radius is covered and is broadcast — the big side never shuffles.
    The ring comes from :func:`covering_ring` (one tiny driver
    aggregate on the SMALL side); it raises when the ring exceeds
    ``max_ring``.
    """
    ring = covering_ring(
        queries, q_lat, radius_m, res, max_ring, "within_distance_join"
    )

    c = candidates.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    ).withColumn("_ccell", E.cell_id("_clon", "_clat", res))
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    ).withColumn(
        "_cell",
        F.explode(E.cell_neighbors(E.cell_id("_qlon", "_qlat", res), res, k=ring)),
    )
    pairs = c.join(F.broadcast(q), c["_ccell"] == q["_cell"], "inner").withColumn(
        "dist_m", E.haversine_m("_qlon", "_qlat", "_clon", "_clat")
    )
    return pairs.where(F.col("dist_m") <= F.lit(float(radius_m))).select(
        "query_id", "neighbor_id", "dist_m"
    )


def knn_join_hex(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    size_deg: float = 1.5,
    ring: int = 1,
    q_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    c_id: str = "cand_id",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
    max_ring: int = 4,
) -> DataFrame:
    """kNN via HEX k-ring expansion (the north rule's H3 analog) with
    haversine refinement — exact by construction.

    Same shape as :func:`knn_join` (narrow candidate side, broadcast
    exploded query rings, lazy ring escalation, brute-force residue)
    but over :mod:`..functions.hexgrid` cells, whose k-ring is the
    3k²+3k+1 hex neighborhood instead of the (2k+1)² square.

    Coverage bound (see hexgrid.py geometry facts): every point outside
    the k-ring is at planar degree distance ≥ cover_deg =
    ((ring+1)·3/2 − 2)·size from the query.  A haversine ball of
    radius s around the query maps into the planar box |Δφ| ≤ s/deg_m,
    |Δλ| ≤ s/(deg_m·cos φb) with φb = |qlat| + cover_deg (latitude
    along a path of length s rises at most s/R), so the ball stays
    inside the ring whenever s ≤ cover_deg·deg_m·cos(φb)/√2 — that is
    ``safe_m``.  Near the ±180 seam the planar embedding breaks (raw
    Δλ jumps), so queries closer than cover_deg to the seam fail
    coverage outright and escalate; the residue past ``max_ring`` is
    brute-forced.  Hence the bound being conservative costs retries,
    never correctness.
    """
    from ..functions import hexgrid as H

    c = candidates.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    ).withColumn("_ccell", H.hex_cell("_clon", "_clat", size_deg))

    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    )
    # the query's own cell is a column of its own: inlined into the
    # unrolled k-ring, each ring element would carry two copies of the
    # hex_cell expression, and from ring 2 the generated code passes the
    # JVM's 64 KB method limit (the stage then runs without codegen)
    q_cells = (
        q.withColumn("_qcell", H.hex_cell("_qlon", "_qlat", size_deg))
        .withColumn("_cell", F.explode(H.hex_kring(F.col("_qcell"), k=ring)))
        .drop("_qcell")
    )

    pairs = c.join(F.broadcast(q_cells), c["_ccell"] == q_cells["_cell"], "inner").withColumn(
        "dist_m", E.haversine_m("_qlon", "_qlat", "_clon", "_clat")
    )
    ranked = _register_persist(
        _topk(pairs, "query_id", k).select(
            "query_id", "neighbor_id", "rank", "dist_m"
        )
    )

    deg_m = math.pi * EARTH_M / 180.0
    cover_deg = ((ring + 1) * 1.5 - 2.0) * float(size_deg)

    per_q = q.join(
        ranked.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_n"), F.max("dist_m").alias("_maxd")
        ),
        on="query_id",
        how="left",
    )
    phi_b = F.least(
        F.abs(F.col("_qlat")) + F.lit(cover_deg), F.lit(89.999999)
    )
    safe_m = (
        F.lit(cover_deg * deg_m) * F.cos(F.radians(phi_b)) / F.lit(math.sqrt(2.0))
    )
    seam_bad = (F.lit(180.0) - F.abs(F.col("_qlon"))) < F.lit(cover_deg)
    is_bad = (
        F.col("_n").isNull() | (F.col("_n") < k)
        | (F.col("_maxd") >= safe_m) | seam_bad
    )
    per_q = per_q.observe(
        f"knn_hex_cover_r{ring}_{next(_OBS_SEQ)}",
        F.count(F.lit(1)).alias("n_queries"),
        F.count_if(is_bad).alias("n_failed"),
    )
    bad_q = per_q.where(is_bad).select("query_id")
    bad_queries = q.join(F.broadcast(bad_q), on="query_id", how="inner")
    good = ranked.join(F.broadcast(bad_q), on="query_id", how="left_anti")
    if ring < max_ring:
        redo = knn_join_hex(
            bad_queries,
            candidates,
            k=k,
            size_deg=size_deg,
            ring=ring + 1,
            q_id="query_id",
            q_lon="_qlon",
            q_lat="_qlat",
            c_id=c_id,
            c_lon=c_lon,
            c_lat=c_lat,
            max_ring=max_ring,
        )
    else:
        redo = knn_join_bruteforce(
            bad_queries,
            candidates,
            k=k,
            q_id="query_id",
            q_lon="_qlon",
            q_lat="_qlat",
            c_id=c_id,
            c_lon=c_lon,
            c_lat=c_lat,
        )
    return good.unionByName(redo)


def knn_join_isea(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    size_m: float = 150_000.0,
    ring: int = 1,
    q_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    c_id: str = "cand_id",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
    max_ring: int = 4,
) -> DataFrame:
    """kNN via EQUAL-AREA hex k-ring expansion on the ISEA plane
    (functions/eagrid.py — the projection underlying the true H3 DGGS,
    ref src/PJ_isea.c) with haversine refinement — exact by
    construction, same lazy escalation shape as :func:`knn_join_hex`.

    Why it beats the equirect hex at scale: ISEA's linear scale is
    globally bounded in [0.86, SIGMA_MAX=1.1631] (measured,
    tests/test_eagrid.py), so the coverage radius a k-ring certifies
    does NOT collapse by cos(lat) near the poles — a polar query
    escalates no more often than an equatorial one.

    Coverage bound: every point outside the k-ring is at PLANE
    distance >= cover_plane = ((ring+1)*3/2 - 2)*size_plane from the
    query (hexgrid geometry facts).  A geodesic ball of s meters whose
    interior stays on one icosahedron face maps inside the plane disk
    of radius SIGMA_MAX*s/R (equal-area Jacobian bound), so coverage
    holds when s <= cover_plane*R/SIGMA_MAX = safe_m AND s stays under
    the query's face-edge guard (isea_xy_edge lower bound, minus the
    kernel's edge-assignment epsilon).  The net tears only along face
    edges, so the guard is the complete seam story; failures escalate
    and the residue past ``max_ring`` is brute-forced — conservative
    costs retries, never correctness.
    """
    from ..functions import eagrid as EA
    from ..functions import hexgrid as H

    size_plane = EA.meters_to_plane(size_m)

    c = candidates.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    )
    c = EA.isea_hex_cell_cols(c, "_clon", "_clat", size_plane, prefix="_c").select(
        "neighbor_id", "_clon", "_clat", F.col("_ccell")
    )

    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    )
    q_aug = EA.isea_hex_cell_cols(q, "_qlon", "_qlat", size_plane, prefix="_q")
    q_cells = q_aug.withColumn(
        "_cell", F.explode(H.hex_kring(F.col("_qcell"), k=ring))
    ).select("query_id", "_qlon", "_qlat", "_qedge", "_cell")

    pairs = c.join(
        F.broadcast(q_cells), c["_ccell"] == q_cells["_cell"], "inner"
    ).withColumn("dist_m", E.haversine_m("_qlon", "_qlat", "_clon", "_clat"))
    ranked = _register_persist(
        _topk(pairs, "query_id", k).select(
            "query_id", "neighbor_id", "rank", "dist_m"
        )
    )

    cover_plane = ((ring + 1) * 1.5 - 2.0) * size_plane
    safe_m = cover_plane * EARTH_M / EA.SIGMA_MAX

    per_q = q_aug.select("query_id", "_qlon", "_qlat", "_qedge").join(
        ranked.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_n"), F.max("dist_m").alias("_maxd")
        ),
        on="query_id",
        how="left",
    )
    edge_guard_m = (
        F.greatest(F.col("_qedge") - F.lit(EA.EDGE_EPS_RAD), F.lit(0.0))
        * F.lit(EARTH_M)
    )
    is_bad = (
        F.col("_n").isNull()
        | (F.col("_n") < k)
        | (F.col("_maxd") >= F.lit(safe_m))
        | (F.col("_maxd") >= edge_guard_m)
    )
    per_q = per_q.observe(
        f"knn_isea_cover_r{ring}_{next(_OBS_SEQ)}",
        F.count(F.lit(1)).alias("n_queries"),
        F.count_if(is_bad).alias("n_failed"),
    )
    bad_q = per_q.where(is_bad).select("query_id")
    bad_queries = q.join(F.broadcast(bad_q), on="query_id", how="inner")
    good = ranked.join(F.broadcast(bad_q), on="query_id", how="left_anti")
    if ring < max_ring:
        redo = knn_join_isea(
            bad_queries,
            candidates,
            k=k,
            size_m=size_m,
            ring=ring + 1,
            q_id="query_id",
            q_lon="_qlon",
            q_lat="_qlat",
            c_id=c_id,
            c_lon=c_lon,
            c_lat=c_lat,
            max_ring=max_ring,
        )
    else:
        redo = knn_join_bruteforce(
            bad_queries,
            candidates,
            k=k,
            q_id="query_id",
            q_lon="_qlon",
            q_lat="_qlat",
            c_id=c_id,
            c_lon=c_lon,
            c_lat=c_lat,
        )
    return good.unionByName(redo)


def within_distance_join_isea(
    queries: DataFrame,
    candidates: DataFrame,
    radius_m: float,
    size_m: float | None = None,
    q_id: str = "query_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    c_id: str = "cand_id",
    c_lon: str = "c_lon",
    c_lat: str = "c_lat",
    max_ring: int = 8,
) -> DataFrame:
    """Distance-range join on the EQUAL-AREA (ISEA) hex grid — the
    polar-safe sibling of :func:`within_distance_join`, EXACT by
    construction.

    The equirect version sizes its ring by 1/cos(lat) and REFUSES
    (raises) when a polar query set pushes the ring past ``max_ring``;
    on the ISEA plane the ring bound is latitude-independent
    (functions/eagrid.py: linear scale bounded by SIGMA_MAX), so one
    ring size serves the globe: a hit lies within SIGMA_MAX*radius/R
    plane units of its query, and every point outside the k-ring is at
    plane distance >= ((k+1)*3/2 - 2)*size (hexgrid geometry facts),
    giving ring = ceil((SIGMA_MAX*r_plane/size + 2)/1.5 - 1).

    Seams: queries whose radius ball can cross an icosahedron face
    edge (edge guard < radius) are joined by a broadcast banded
    nested-loop residue instead — the seam set is the thin band within
    ``radius_m`` of the net's 30 edges (fraction ~ perimeter*radius /
    earth area), so the residue stays broadcast-sized while the big
    candidate side still never shuffles.
    """
    from ..functions import eagrid as EA
    from ..functions import hexgrid as H

    if size_m is None:
        size_m = radius_m
    size_plane = EA.meters_to_plane(size_m)
    r_plane = EA.SIGMA_MAX * radius_m / EARTH_M
    ring = max(int(math.ceil((r_plane / size_plane + 2.0) / 1.5 - 1.0)), 1)
    if ring > max_ring:
        raise ValueError(
            f"radius {radius_m:.0f} m needs a ring of {ring} > "
            f"max_ring={max_ring} hexes of size {size_m:.0f} m; raise size_m"
        )

    c = candidates.select(
        F.col(c_id).alias("neighbor_id"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    )
    c_cells = EA.isea_hex_cell_cols(c, "_clon", "_clat", size_plane, prefix="_c")

    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    )
    q_aug = EA.isea_hex_cell_cols(q, "_qlon", "_qlat", size_plane, prefix="_q")
    is_safe = (
        (F.col("_qedge") - F.lit(EA.EDGE_EPS_RAD)) * F.lit(EARTH_M)
        > F.lit(float(radius_m))
    )
    safe_cells = (
        q_aug.where(is_safe)
        .withColumn("_cell", F.explode(H.hex_kring(F.col("_qcell"), k=ring)))
        .select("query_id", "_qlon", "_qlat", "_cell")
    )
    pairs = (
        c_cells.join(F.broadcast(safe_cells), c_cells["_ccell"] == safe_cells["_cell"], "inner")
        .withColumn("dist_m", E.haversine_m("_qlon", "_qlat", "_clon", "_clat"))
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
        .select("query_id", "neighbor_id", "dist_m")
    )

    # seam residue: broadcast banded nested loop — cheap latitude band
    # prunes before the exact haversine
    dphi_deg = math.degrees(radius_m / EARTH_M)
    seam_q = q_aug.where(~is_safe).select("query_id", "_qlon", "_qlat")
    resid = (
        c.crossJoin(F.broadcast(seam_q))
        .where(F.abs(F.col("_clat") - F.col("_qlat")) <= F.lit(dphi_deg * 1.0000001))
        .withColumn("dist_m", E.haversine_m("_qlon", "_qlat", "_clon", "_clat"))
        .where(F.col("dist_m") <= F.lit(float(radius_m)))
        .select("query_id", "neighbor_id", "dist_m")
    )
    return pairs.unionByName(resid)
