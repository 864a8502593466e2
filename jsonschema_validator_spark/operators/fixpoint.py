"""The round loop of the iterative operators (connected components, tree
paths, PageRank): one Spark job per round, and no checkpoint left
behind that a later round superseded."""

from __future__ import annotations

from itertools import count
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Row


def release(checkpointed: DataFrame) -> None:
    """Drop the blocks of the frame ``localCheckpoint`` returned (not of
    a projection of it); ``catalog.clearCache()`` does not reach them."""
    checkpointed._jdf.queryExecution().analyzed().rdd().unpersist(False)


def fixpoint(
    state: DataFrame,
    probe: Sequence[Column],
    step: Callable[[DataFrame, Row], DataFrame | None],
    max_steps: int,
    exhausted: Callable[[DataFrame, Row], Exception] | None = None,
) -> DataFrame:
    """Iterate ``state = step(state, state.agg(*probe).first())``.

    Each state is a LAZY local checkpoint, so the probe is the one job
    of its round: it computes the round's plan, persists the checkpoint
    and returns the Row. The predecessor, no longer read by anything,
    is then released, so lineage stays one step deep. ``step`` returns
    None once the Row shows the state is final; it may raise. A state
    still not final after ``max_steps`` steps raises
    ``exhausted(state, row)``, or without ``exhausted`` is returned (a
    fixed step count). The caller owns the returned checkpoint; every
    other state is released, on the raise paths too."""
    state, prev = state.localCheckpoint(eager=False), None
    try:
        for n in count():
            row = state.agg(*probe).first()
            if prev is not None:
                release(prev)
                prev = None
            if n == max_steps and exhausted is None:
                return state
            nxt = step(state, row)
            if nxt is None:
                return state
            if n == max_steps:
                raise exhausted(state, row)
            prev, state = state, nxt.localCheckpoint(eager=False)
    except BaseException:
        for df in (prev, state):
            if df is not None:
                release(df)
        raise
