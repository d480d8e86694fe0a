"""Semivariogram/Ripley's K pair counts (operators/geostat.py) vs a
brute-force all-pairs reference, plus plan shape."""
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from proj_spark.functions import expressions as E
from proj_spark.operators.geostat import variogram_k

N, MAXD, NBINS = 400, 200_000.0, 8


@pytest.fixture(scope="module")
def pts(spark):
    return (
        spark.range(1, N + 1)
        .select(
            F.col("id").alias("pk"),
            E.synth_lon(F.col("id").cast("double")).alias("lon"),
            E.synth_lat(F.col("id").cast("double")).alias("lat"),
            F.pmod(F.col("id") * 7919 + 31, F.lit(256)).alias("v"),
        )
    )


def _brute(rows):
    R = 6371008.8
    agg = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            p1, p2 = math.radians(a[2]), math.radians(b[2])
            dl = math.radians(b[1] - a[1])
            h = (
                math.sin((p2 - p1) / 2) ** 2
                + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
            )
            d = 2 * R * math.asin(min(math.sqrt(h), 1.0))
            if d < MAXD:
                k = int(d // (MAXD / NBINS))
                n, s = agg.get(k, (0, 0))
                agg[k] = (n + 1, s + (a[3] - b[3]) ** 2)
    return agg


def test_matches_brute_force(spark, pts):
    got = {
        int(r["bin"]): (int(r["n_pairs"]), int(r["sq_sum"]))
        for r in variogram_k(pts, MAXD, NBINS, id_col="pk").collect()
    }
    rows = [
        (r["pk"], r["lon"], r["lat"], r["v"]) for r in pts.collect()
    ]
    want = _brute(rows)
    assert set(got) == set(want)
    for k in want:
        # pair counts must be exactly equal; sq_sum exact int64
        assert got[k] == want[k], k
    assert sum(n for n, _ in got.values()) > 100  # fixture is non-trivial


def test_partitioning_invariant(spark, pts):
    a = sorted(tuple(r) for r in variogram_k(pts.repartition(1), MAXD, NBINS, id_col="pk").collect())
    b = sorted(tuple(r) for r in variogram_k(pts.repartition(13), MAXD, NBINS, id_col="pk").collect())
    assert a == b


def test_never_all_pairs_plan(spark, pts):
    """The pair stage must be a cell-keyed equi-join — no cartesian or
    nested-loop join may appear in the physical plan."""
    df = variogram_k(pts, MAXD, NBINS, id_col="pk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ring_guard(spark):
    """A max_dist needing an oversized ring raises instead of silently
    under-covering."""
    pts = spark.range(1, 10).select(
        F.col("id").alias("pk"),
        F.lit(0.0).alias("lon"),
        F.lit(85.0).alias("lat"),
        F.lit(1).alias("v"),
    )
    with pytest.raises(ValueError):
        variogram_k(pts, 5_000_000.0, 4, res=8, id_col="pk")


def test_sq_sum_exact_beyond_double_precision(spark, pts):
    """|v_a - v_b| above 1e8 puts the square above 2^53, where a double
    pow would round the odd squares: sq_sum must still equal the
    integer multiply."""
    big = pts.withColumn(
        "v", F.col("v") + F.pmod(F.col("pk"), F.lit(2)) * F.lit(100_000_000)
    )
    rows = [(r["pk"], r["lon"], r["lat"], r["v"]) for r in big.collect()]
    # both parities, so cross-parity differences are odd
    assert {v % 2 for *_, v in rows} == {0, 1}
    got = {
        int(r["bin"]): (int(r["n_pairs"]), int(r["sq_sum"]))
        for r in variogram_k(big, MAXD, NBINS, id_col="pk").collect()
    }
    want = _brute(rows)
    assert got == want
    assert max(s for _, s in want.values()) > 1 << 53


def test_build_time_probe_is_a_described_job(spark, pts):
    """The builder's one eager job (the extreme-latitude probe behind
    the ring bound) runs as ``variogram_k:phi_max``; the caller's job
    description is restored afterwards."""
    import uuid

    sc = spark.sparkContext
    group = f"phi-max-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "caller")
    try:
        variogram_k(pts, MAXD, NBINS, id_col="pk")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobGroup(None, None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    descs = [
        store.job(j).description().get()
        for j in sc.statusTracker().getJobIdsForGroup(group)
    ]
    # one aggregate (two jobs when AQE runs its shuffle stage apart)
    assert descs and set(descs) == {"variogram_k:phi_max"}
