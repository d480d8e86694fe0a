"""Connected components / dedup groups (operators/components.py), and
the fixpoint driver (operators/fixpoint.py) gates shared by every
iterative operator.

Reference: a plain Python union-find over the same edges.
"""
from __future__ import annotations

import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

from proj_spark.operators.components import connected_components, dedup_groups


def _union_find(edges, nodes=None):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for x in list(parent) + list(nodes or []):
        out[x] = find(x)
    return out


def _check(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    want = _union_find(edges)
    assert got == want
    return got


def test_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(42)
    edges = [
        (int(rng.integers(0, 500)), int(rng.integers(0, 500))) for _ in range(400)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    _check(spark, edges)


def test_chain_converges_logarithmically(spark):
    # a 64-node path is the worst diameter case; pointer jumping must
    # still converge well inside max_iter
    edges = [(i, i + 1) for i in range(63)]
    got = _check(spark, edges)
    assert set(got.values()) == {0}


def test_two_cliques_and_a_bridge(spark):
    edges = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]
        + [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
        + [(4, 10)]
    )
    got = _check(spark, edges)
    assert set(got.values()) == {0}


def test_self_loops_and_duplicates_ignored(spark):
    edges = [(1, 1), (2, 3), (3, 2), (2, 3)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    # self loops don't merge anything, but a node appearing only in a
    # self pair still gets its singleton output row (docstring contract)
    assert got == {1: 1, 2: 2, 3: 2}


def test_string_ids(spark):
    df = spark.createDataFrame(
        [("d3", "d1"), ("d2", "d3"), ("x9", "x8")], "id_a string, id_b string"
    )
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {"d1": "d1", "d2": "d1", "d3": "d1", "x8": "x8", "x9": "x8"}


def test_dedup_groups_canonical_flag(spark):
    docs = spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(6)], "doc_id string, text string"
    )
    pairs = spark.createDataFrame(
        [("d1", "d3"), ("d3", "d5")], "id_a string, id_b string"
    )
    out = dedup_groups(docs, pairs).collect()
    groups = {r.doc_id: (r.group_id, r.is_canonical) for r in out}
    assert groups == {
        "d0": ("d0", True),
        "d1": ("d1", True),
        "d2": ("d2", True),
        "d3": ("d1", False),
        "d4": ("d4", True),
        "d5": ("d1", False),
    }
    # keep-canonical filter drops exactly the non-minimal dups
    kept = [r.doc_id for r in out if r.is_canonical]
    assert sorted(kept) == ["d0", "d1", "d2", "d4"]


def test_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0
    docs = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    out = dedup_groups(docs, pairs, id_col="doc_id").collect()
    assert all(r.group_id == r.doc_id and r.is_canonical for r in out)


def test_canonical_by_quality(spark):
    from pyspark.sql import functions as F

    from proj_spark.operators.components import canonical_by

    df = spark.createDataFrame(
        [
            ("d1", "g1", 0.2),
            ("d2", "g1", 0.9),  # best quality wins over min id
            ("d3", "g1", 0.9),  # tie -> min id among the tied
            ("d4", "g2", 0.1),  # singleton group: canonical
        ],
        "doc_id string, group_id string, quality double",
    )
    out = {
        r.doc_id: r.is_canonical
        for r in canonical_by(df, order_cols=[F.col("quality").desc()]).collect()
    }
    assert out == {"d1": False, "d2": True, "d3": False, "d4": True}


def _cc(spark, **bound):
    edges = [(i, i + 1) for i in range(16)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return connected_components(df, **bound)


def _sssp(spark, **bound):
    from proj_spark.operators.network import lattice_edges, sssp

    return sssp(lattice_edges(spark, 6, 4), 0, **bound)


def _facility(spark, **bound):
    from proj_spark.operators.network import lattice_edges, nearest_facility

    return nearest_facility(lattice_edges(spark, 6, 4), [0, 23], **bound)


def _dt(spark, **bound):
    from proj_spark.operators.blobs import block_hash_tiles
    from proj_spark.operators.rasterdt import distance_transform

    tiles = block_hash_tiles(spark, 128, 96, 32)
    return distance_transform(tiles, 32, 4, 3, 240, **bound)


# operator -> (builder, round-bound keyword, name its rounds run under);
# sssp is nearest_facility's single-source case and runs as it
ITERATIVE = {
    "connected_components": (_cc, "max_iter", "connected_components"),
    "sssp": (_sssp, "max_iter", "nearest_facility"),
    "nearest_facility": (_facility, "max_iter", "nearest_facility"),
    "distance_transform": (_dt, "max_rounds", "distance_transform"),
}


def _job_descriptions(sc, jobs):
    """Job descriptions read back from the live status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    out = []
    for j in sorted(jobs):
        desc = store.job(j).description()
        out.append(desc.get() if desc.isDefined() else None)
    return out


@pytest.mark.parametrize("op", sorted(ITERATIVE))
def test_one_spark_job_per_round(spark, op):
    """Regression gate for the one-action-per-round shape of the
    fixpoint driver: the lazy ``localCheckpoint(eager=False)`` must be
    materialized BY the convergence count, not by a separate eager
    job.  With AQE and auto-broadcast off every action is exactly one
    job (a broadcast exchange runs its own job, one per round on the
    lattice fixtures), so jobs-in-group == count() calls; an eager
    checkpoint, or a convergence test by another action than
    ``count()``, breaks the equality.  Each round's job is described
    ``<name>:round <k>`` and the caller's description is restored for
    the final count."""
    import uuid

    build, _, name = ITERATIVE[op]
    sc = spark.sparkContext
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    rounds = {"n": 0}

    def counting_count(self):
        rounds["n"] += 1
        return real_count(self)

    group = f"fixpoint-jobcount-{uuid.uuid4().hex[:8]}"
    cls = type(spark.range(1))  # the classic runtime class, not the API base
    real_count = cls.count
    cls.count = counting_count
    try:
        sc.setJobGroup(group, "fixpoint job-count gate")
        build(spark).count()  # final count = 1 extra action
    finally:
        cls.count = real_count
        sc.setJobGroup(None, None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # rounds["n"] includes the final materializing count -> actions ==
    # (convergence rounds) + 1; every action is one job, none extra.
    assert rounds["n"] >= 3  # the fixture needs >1 round, sanity
    assert len(jobs) == rounds["n"], (len(jobs), rounds["n"])
    n = rounds["n"] - 1
    assert _job_descriptions(sc, jobs) == [
        f"{name}:round {k}" for k in range(1, n + 1)
    ] + ["fixpoint job-count gate"]


@pytest.mark.parametrize("op", sorted(ITERATIVE))
def test_exhausted_round_bound_warns(spark, op, caplog):
    """A round bound that runs out is never silent: one WARNING names
    the operator and the changed rows of every round."""
    build, bound_kw, name = ITERATIVE[op]
    with caplog.at_level(logging.WARNING, logger="proj_spark"):
        build(spark, **{bound_kw: 1})
    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.levelno == logging.WARNING and r.name.startswith("proj_spark")
    ]
    assert len(msgs) == 1, msgs
    assert msgs[0].startswith(f"{name}: not converged after max_rounds=1")
    assert "changed rows per round: [" in msgs[0]


# Spark jobs of one build + collect of each registry query below, with
# AQE and auto-broadcast off (the pinning of test_one_spark_job_per_round)
# on the sf0.001 fixture.  Measured, not designed: a change may lower a
# ceiling, and one that raises it has added a job.  BASELINE.md
# "Jobs per operator" lists the jobs behind each number.
JOB_CEILINGS = {"q_dbscan": 4, "q_knn": 4}


@pytest.mark.parametrize("query", sorted(JOB_CEILINGS))
def test_operator_job_ceiling(spark, query):
    """Building and collecting the query runs no more Spark jobs than
    its pinned ceiling; a failure lists every job's description."""
    import uuid

    import __spark_entry__ as entry
    from tests.test_entry_contract import SF_DIR

    sc = spark.sparkContext
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    group = f"job-ceiling-{uuid.uuid4().hex[:8]}"
    try:
        sc.setJobGroup(group, f"{query} job-ceiling gate")
        getattr(entry, query)(spark, SF_DIR).collect()
    finally:
        sc.setJobGroup(None, None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    listing = [
        f"job {j}: {d} | {store.job(j).name()}"
        for j, d in zip(jobs, _job_descriptions(sc, jobs))
    ]
    assert len(jobs) <= JOB_CEILINGS[query], "\n".join(listing)
