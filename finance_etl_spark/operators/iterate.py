"""One loop primitive for every iterative operator.

Connected components, label propagation, PageRank, the k-core and
k-truss peels, BPE training and encoding, k-means and greedy MMR share
one shape: a small state relation and a lazy ``step`` that builds round
i from round i-1. ``iterate`` owns the rest of the loop:

- it eagerly localCheckpoints ``init``, every ``checkpoint_every``
  rounds and the last round, so a round's plan stays one round deep
  (an uncut lineage nests a join per round and Catalyst re-analyzes an
  exponentially growing tree);
- it observes the ``until`` aggregates on the checkpoint job itself
  (an unnamed ``Observation``), so a convergence test adds no job;
- it releases each checkpointed state once its successor is
  materialized, and on every exit, the raise included.
  ``clearCache()`` does not drop localCheckpoint blocks and JVM GC does
  not reclaim them, so an unreleased round stays until the session
  ends. The returned state is what the caller reads, so it stays.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def release(df: DataFrame) -> None:
    """Drop the blocks behind ``df``, a relation built by localCheckpoint.
    Reading ``df`` afterwards raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _checkpoint(df: DataFrame, until) -> tuple[DataFrame, tuple | None]:
    if until is None:
        return df.localCheckpoint(eager=True), None
    obs = Observation()
    cols = until if isinstance(until, tuple) else (until,)
    df = df.observe(obs, *[c.alias(f"v{j}") for j, c in enumerate(cols)])
    return df.localCheckpoint(eager=True), tuple(obs.get.values())


def iterate(
    init: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    *,
    until: Column | tuple[Column, ...] | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """The state after ``rounds`` applications of ``step(state, i)``
    (``i`` from 0) to ``init``, materialized.

    With ``until`` (an aggregate Column over the state, or a tuple of
    them) the loop is a fixpoint: it returns the first checkpoint whose
    observed value equals the previous checkpoint's, and raises
    ``RuntimeError`` if ``rounds`` pass first. A step that returns the
    materialized state unchanged ends the loop early."""
    held, seen = _checkpoint(init, until)
    state = held
    try:
        for i in range(rounds):
            state = step(state, i)
            if state is held:
                break
            if (i + 1) % checkpoint_every and i + 1 < rounds:
                continue
            state, value = _checkpoint(state, until)
            release(held)
            held = state
            if until is not None and value == seen:
                break
            seen = value
        else:
            if until is not None:
                raise RuntimeError(f"no convergence in {rounds} rounds")
        return held
    except BaseException:
        release(held)
        raise
