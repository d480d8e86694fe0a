"""Hex cell index (H3 analog) + hex k-ring kNN.

Covers: Spark expression == scalar Python twin == DuckDB SQL mirror
(the cross-engine property the oracle relies on), k-ring geometry
(size, containment of the guaranteed planar radius), exactness of
knn_join_hex vs brute force including seam / high-latitude queries
that must route through the escalation paths, and the physical plan
(narrow candidate side, broadcast ring join).
"""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from proj_spark.functions import hexgrid as H

SIZE = 1.5


def _lcg_points(n, lo_lon=-179.0, span_lon=358.0, lo_lat=-89.0, span_lat=178.0):
    pts = []
    s = 12345
    for i in range(n):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        u = (s >> 11) / float(1 << 53)
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        v = (s >> 11) / float(1 << 53)
        pts.append((lo_lon + span_lon * u, lo_lat + span_lat * v))
    return pts


def test_spark_matches_python_twin(spark):
    pts = _lcg_points(400)
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = (
        df.withColumn("cell", H.hex_cell("lon", "lat", SIZE))
        .orderBy("lon")
        .collect()
    )
    for r in got:
        assert r["cell"] == H.hex_cell_py(r["lon"], r["lat"], SIZE), (
            r["lon"], r["lat"],
        )


def test_duckdb_sql_mirror_matches_python_twin():
    import duckdb

    pts = _lcg_points(400)
    con = duckdb.connect()
    vals = ",".join(f"({x!r}, {y!r})" for x, y in pts)
    # VALUES float literals parse as DECIMAL in DuckDB — cast first so
    # the arithmetic runs in float64 exactly like Spark
    sql = (
        f"SELECT lon, lat, {H.hex_cell_sql('lon', 'lat', SIZE)} AS cell "
        f"FROM (SELECT CAST(c0 AS DOUBLE) AS lon, CAST(c1 AS DOUBLE) AS lat "
        f"      FROM (VALUES {vals}) AS t(c0, c1)) s"
    )
    for lon, lat, cell in con.execute(sql).fetchall():
        assert cell == H.hex_cell_py(lon, lat, SIZE), (lon, lat)


def test_kring_size_and_membership(spark):
    df = spark.createDataFrame([(10.0, 20.0)], "lon double, lat double")
    for k in (1, 2, 3):
        row = df.select(
            H.hex_kring(H.hex_cell("lon", "lat", SIZE), k=k).alias("ring")
        ).first()
        ring = row["ring"]
        assert len(ring) == H.hex_kring_size(k) == 3 * k * k + 3 * k + 1
        assert len(set(ring)) == len(ring)


def test_kring_covers_guaranteed_planar_radius(spark):
    """Every point within cover_deg = ((k+1)*1.5-2)*size planar degrees
    of a query point must land in a k-ring cell (the kNN coverage
    invariant)."""
    qlon, qlat = 7.3, 42.1
    k = 2
    cover = ((k + 1) * 1.5 - 2.0) * SIZE
    df = spark.createDataFrame([(qlon, qlat)], "lon double, lat double")
    ring = set(
        df.select(
            H.hex_kring(H.hex_cell("lon", "lat", SIZE), k=k).alias("r")
        ).first()["r"]
    )
    probes = []
    for ang in range(0, 360, 7):
        for f in (0.2, 0.6, 0.999):
            probes.append(
                (
                    qlon + cover * f * math.cos(math.radians(ang)),
                    qlat + cover * f * math.sin(math.radians(ang)),
                )
            )
    for lon, lat in probes:
        assert H.hex_cell_py(lon, lat, SIZE) in ring, (lon, lat)


def test_center_roundtrip(spark):
    pts = _lcg_points(100)
    df = spark.createDataFrame(pts, "lon double, lat double")
    cell = H.hex_cell("lon", "lat", SIZE)
    clon, clat = H.hex_center(cell, SIZE)
    rows = df.select(
        "lon", "lat", cell.alias("cell"), clon.alias("clon"), clat.alias("clat")
    ).collect()
    for r in rows:
        # a point is within the circumradius of its own cell center
        d = math.hypot(r["lon"] - r["clon"], r["lat"] - r["clat"])
        assert d <= SIZE * 1.0000001, (r["lon"], r["lat"], d)
        # and the center maps back to the same cell
        assert H.hex_cell_py(r["clon"], r["clat"], SIZE) == r["cell"]


@pytest.fixture(scope="module")
def knn_fixture(spark):
    from proj_spark.functions import expressions as E

    cand = spark.range(3000).select(
        F.col("id").alias("cand_id"),
        E.synth_lon((F.col("id") * 31 + 7).cast("double"), lo=-179.5, span=359.0).alias("c_lon"),
        E.synth_lat((F.col("id") * 31 + 7).cast("double"), lo=-88.0, span=176.0).alias("c_lat"),
    )
    # queries include near-seam and high-latitude points that MUST fail
    # coverage and take the escalation / brute-force routes
    qpts = [(0, -179.7, 10.0), (1, 179.8, -40.0), (2, 0.0, 88.5), (3, 12.0, 47.0),
            (4, -100.0, 35.0), (5, 60.0, -20.0), (6, -179.9, 81.0)]
    q = spark.createDataFrame(qpts, "query_id long, q_lon double, q_lat double")
    return q, cand


def test_knn_hex_exact_vs_bruteforce(spark, knn_fixture):
    from proj_spark.operators.knn import knn_join_bruteforce, knn_join_hex

    q, cand = knn_fixture
    hexed = knn_join_hex(q, cand, k=5, size_deg=2.0, ring=1, max_ring=3)
    brute = knn_join_bruteforce(q, cand, k=5)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in hexed.collect()}
    want = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in brute.collect()}
    assert got == want


def test_knn_hex_plan_broadcasts_ring(spark, knn_fixture):
    from proj_spark.operators.knn import knn_join_hex

    q, cand = knn_fixture
    df = knn_join_hex(q, cand, k=5, size_deg=2.0, ring=1, max_ring=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("max_ring", [2, 3])
def test_knn_hex_rings_compile_without_codegen_fallback(spark, knn_fixture, max_ring):
    """The escalation rings 2 and 3 compile under whole-stage codegen:
    with the fallback off, a generated method past the JVM's 64 KB
    limit raises instead of running interpreted."""
    from proj_spark.operators.knn import knn_join_hex

    q, cand = knn_fixture

    def rows():
        df = knn_join_hex(q, cand, k=5, size_deg=2.0, ring=1, max_ring=max_ring)
        return sorted(tuple(r) for r in df.collect())

    want = rows()
    key = "spark.sql.codegen.fallback"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert rows() == want
    finally:
        spark.conf.set(key, saved)
