"""The one convergence driver of the iterative operators.

``connected_components``, ``nearest_facility`` (``sssp`` through it)
and ``distance_transform`` are bounded fixpoint iterations — the
dataframe form of PROJ's bounded iterative inverses (fixed max
iterations, converged-mask early exit).  Per round :func:`fixpoint`
takes a LAZY ``localCheckpoint`` (it truncates the lineage, which
would otherwise double every round) and runs ONE ``count()`` of the
changed rows: a single Spark job both materializes the checkpoint and
measures convergence.  An exhausted round bound is never silent.

:func:`job_description` is the one job-naming mechanism: the rounds
run as ``"<name>:round <k>"``, the builders' eager latitude probes as
``"<operator>:phi_max"``.
"""
from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import Column, DataFrame

_LOG = logging.getLogger(__name__)

_DESC = "spark.job.description"


@contextmanager
def job_description(sc, desc: str):
    """Run the body's Spark jobs described as ``desc``; the caller's
    previous description (or none) is restored afterwards."""
    prev = sc.getLocalProperty(_DESC)
    sc.setLocalProperty(_DESC, desc)
    try:
        yield
    finally:
        sc.setLocalProperty(_DESC, prev)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    changed: Column,
    max_rounds: int,
    name: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` until no row matches ``changed``
    (a predicate over the stepped frame, typically new label != old
    label carried along as a column), or ``max_rounds`` rounds ran.
    Returns the last stepped frame, extra columns included."""
    sc = state.sparkSession.sparkContext
    counts = []
    for k in range(1, max_rounds + 1):
        # planning the checkpoint may already start jobs (broadcast
        # exchanges), so they are described as the round's too
        with job_description(sc, f"{name}:round {k}"):
            state = step(state).localCheckpoint(eager=False)
            counts.append(state.where(changed).count())
        if counts[-1] == 0:
            return state
    _LOG.warning(
        "%s: not converged after max_rounds=%d (changed rows per round: "
        "%s) - returning a possibly-unconverged result; raise the bound",
        name,
        max_rounds,
        counts,
    )
    return state
