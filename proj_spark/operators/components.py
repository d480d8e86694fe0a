"""Connected components over near-duplicate pairs -> dedup groups.

The pair generators (minhash/LSH ``dedup.lsh_candidate_pairs``, simhash
``dedup.simhash_near_pairs``, embedding ``ann.cosine_dedup_pairs``,
phash ``multimodal.phash_near_pairs``) emit edges; a training-data
pipeline needs the transitive closure of those edges — one group id per
duplicate cluster — to keep exactly one canonical document per group.
This is the step the reference's world (single-node) does with a
union-find; at 10^12 rows it has to be iterative dataframe algebra.

Algorithm: minimum-label propagation with pointer jumping (path
shortcutting), the dataframe form of the classic PRAM/MapReduce CC
algorithms (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014 — their large-star/small-star achieves the same
label-contraction; pointer jumping gives the same O(log d) round bound
here with two self-joins per round):

  lab(u) <- u
  repeat:
    propagate:  lab(u) <- min(lab(u), min_{v in N(u)} lab(v))
    shortcut:   lab(u) <- lab(lab(u))        (pointer jump)
  until no label changed

Labels only decrease and are always ids of nodes in the same component,
so at the fixpoint every component carries its minimum id.  Duplicate
clusters have tiny diameter (they are near-cliques), so 2-3 rounds
converge; the pointer jump bounds pathological chains by O(log d).

Scale notes (10^12 rows, 1000 executors):
- Every step is a key-partitioned join/aggregate on (node) — uniform
  keys, AQE-splittable.  No driver-side state.
- The rounds run in :func:`fixpoint.fixpoint`: lazy ``localCheckpoint``
  per round and ONE Spark job per round (the changed-label count), a
  WARNING if ``max_iter`` runs out.
- Edges are symmetrized once up front; the iteration state is one
  (node, comp) row per node — strictly smaller than the input pairs.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint


def connected_components(
    pairs: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; ``component`` is
    the minimum node id (natural ordering of the id type) in the
    node's connected component.

    ``max_iter`` bounds the rounds (reached only by a path graph of
    length > 2^max_iter — impossible at any real scale); iteration
    stops at the first round with no label change.

    Every node appearing in ``pairs`` gets an output row, including
    nodes that occur only in self-pairs (u == v): the node set is the
    union of both endpoint columns *before* self-edges are dropped
    from the propagation graph.
    """
    ends = pairs.select(F.col(a).alias("u")).union(
        pairs.select(F.col(b).alias("u"))
    )
    sym = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).where(
        F.col("u") != F.col("v")
    )
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.distinct().localCheckpoint(eager=False)

    def step(lab: DataFrame) -> DataFrame:
        # propagate: min label over the neighborhood (inclusive).  The
        # round's OLD label rides along as _oc so the convergence count
        # is a scan of the checkpointed frame, not an extra join.
        nb = (
            sym.join(
                lab.select(F.col("u").alias("v"), F.col("comp").alias("_vc")), "v"
            )
            .groupBy("u")
            .agg(F.min("_vc").alias("_nb"))
        )
        new = lab.join(nb, "u", "left").select(
            "u",
            F.least("comp", F.coalesce("_nb", "comp")).alias("comp"),
            F.col("comp").alias("_oc"),
        )
        # shortcut: jump to the label's own label
        return (
            new.alias("x")
            .join(
                new.select(
                    F.col("u").alias("_lu"), F.col("comp").alias("_lc")
                ).alias("y"),
                F.col("x.comp") == F.col("_lu"),
                "left",
            )
            .select(
                F.col("x.u").alias("u"),
                F.least(F.col("x.comp"), F.coalesce("_lc", F.col("x.comp"))).alias(
                    "comp"
                ),
                F.col("x._oc").alias("_oc"),
            )
        )

    lab = fixpoint(
        ends.distinct().withColumn("comp", F.col("u")),
        step,
        F.col("comp") != F.col("_oc"),
        max_iter,
        "connected_components",
    )
    return lab.select(F.col("u").alias("node"), F.col("comp").alias("component"))


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a: str = "id_a",
    b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Assign every document a duplicate-group id and a canonical flag.

    group_id = component min id for documents touched by ``pairs``,
    else the document's own id (singleton group); ``is_canonical`` is
    true for exactly one document per group (the minimum id — a
    deterministic keep rule, the standard choice for dedup filtering).

    The components table has one row per *paired* node; at real dup
    rates that is the same size class as ``docs``, so the attach is an
    equi-join on the uniform id key (AQE picks broadcast automatically
    when the pair graph is small; bucketing both sides by id makes it
    shuffle-free).
    """
    comp = connected_components(pairs, a=a, b=b, max_iter=max_iter)
    out = docs.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        docs["*"],
        F.coalesce("component", F.col(id_col)).alias("group_id"),
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("group_id"))


def canonical_by(
    df: DataFrame,
    group_col: str = "group_id",
    order_cols: list | None = None,
    id_col: str = "doc_id",
    out_col: str = "is_canonical",
) -> DataFrame:
    """Re-pick the canonical member of each duplicate group by an
    arbitrary preference order (e.g. highest quality score) instead of
    :func:`dedup_groups`' min-id rule — real pipelines keep the BEST
    duplicate, not the lexicographically first.

    ``order_cols``: list of Columns or column names, best-first (e.g.
    ``[F.col("quality").desc()]``); the id ascending is always the
    final tie-break so the choice is total-ordered and deterministic
    under any partitioning.  One window shuffle keyed by the group id
    (groups are tiny — bounded by duplicate-cluster size)."""
    from pyspark.sql import Window

    order_cols = list(order_cols or [])
    w = Window.partitionBy(group_col).orderBy(
        *order_cols, F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn(out_col, F.col("_rn") == 1)
        .drop("_rn")
    )
